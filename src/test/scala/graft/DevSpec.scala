package graft

import java.io.ByteArrayOutputStream

class DevSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** Exit code, stdout and stderr of one `Dev.run`. */
  private def dev(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Console.withOut(out)(Console.withErr(err)(Dev.run(spark, args.toArray)))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("exec-plan --assert-reuse: 0 for a column a reused exchange carries, 1 for one none does") {
    val (ok, out, _) = dev("exec-plan", sfDir, "--assert-reuse", "d20_neardup_verified", "text")
    assert(ok == 0, out)
    assert(out.contains("assert-reuse text: OK"), out)
    val (absent, out2, _) = dev("exec-plan", sfDir, "--assert-reuse", "d20_neardup_verified", "ss")
    assert(absent == 1, out2)
    assert(out2.contains("assert-reuse ss: ABSENT"), out2)
  }

  test("bad usage exits 2 with the usage text") {
    Seq(Seq(), Seq("bogus"), Seq("profile", sfDir), Seq("profile", sfDir, "x", "q01_agg_sum"),
      Seq("exec-plan", sfDir), Seq("exec-plan", sfDir, "--assert-reuse", "d20_neardup_verified"),
      Seq("exec-plan", sfDir, "q01_agg_sum", "--assert-reuse")).foreach { args =>
      val (code, _, err) = dev(args: _*)
      assert(code == 2, args)
      assert(err.contains("usage: Dev"), args)
    }
  }

  test("an unknown query name exits 2 in every subcommand, listing the valid names") {
    Seq(Seq("profile", sfDir, "1", "nope"), Seq("plan", sfDir, "nope"),
      Seq("exec-plan", sfDir, "nope"), Seq("exec-plan", sfDir, "--assert-reuse", "nope", "text"))
      .foreach { args =>
        val (code, out, err) = dev(args: _*)
        assert(code == 2, args)
        assert(out.isEmpty, args)
        assert(err.contains("unknown query nope; valid: ") && err.contains("d20_neardup_verified"), args)
      }
  }

  test("profile, plan and exec-plan run on named queries") {
    val q = "q01_agg_sum"
    val (p, prof, _) = dev("profile", sfDir, "2", q)
    assert(p == 0)
    assert(prof.linesIterator.exists(_.startsWith(q)), prof)
    val (pl, plan, _) = dev("plan", sfDir, q)
    assert(pl == 0)
    assert(plan.contains(s"########## $q") && plan.contains("Scan parquet"), plan)
    val (e, exec, _) = dev("exec-plan", sfDir, q)
    assert(e == 0)
    assert(exec.contains("rows=") && exec.contains("isFinalPlan=true"), exec)
  }
}
