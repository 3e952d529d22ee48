package graft.mimic

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Cohort.readmissionLabel against a brute-force evaluation of the
  * reference predicate (cohort.py:268-323) on seeded random visit sets:
  * visit a is 1 iff some visit b of the same subject has
  * a.disch < b.admit <= a.disch + gap (b may overlap a, or be a itself). */
class ReadmissionPropertySpec extends SparkSpec {

  private val Day = 86400L * 1000000L
  private val Base = 1546300800L * 1000000L // 2019-01-01T00:00Z in µs

  /** Timestamps in µs; `stay` is unique, like MIMIC stay_id/hadm_id. */
  final case class Visit(subject: Option[Long], stay: Long,
      admit: Option[Long], disch: Option[Long])

  private def brute(vs: Seq[Visit], gapDays: Int): Map[Long, Int] =
    vs.map { a =>
      val hit = (a.subject, a.disch) match {
        case (Some(s), Some(d)) => vs.exists(b => b.subject.contains(s) &&
          b.admit.exists(t => t > d && t <= d + gapDays * Day))
        case _ => false
      }
      a.stay -> (if (hit) 1 else 0)
    }.toMap

  /** One subject group's visits as (subject slot, admit, disch). Later
    * admits anchor on earlier instants so the edges are actually hit:
    * exactly at disch + gap, 1 µs past it, equal to a disch, 1 µs after
    * a disch, and inside an earlier stay (overlap). */
  private def caseGen(gapDays: Int): Gen[Vector[(Option[Int], Option[Long], Option[Long])]] = {
    val free = Gen.choose(Base, Base + (3L * gapDays + 10) * Day)
    def next(acc: Vector[(Option[Int], Option[Long], Option[Long])]) = {
      val dischs = acc.flatMap(_._3)
      val admits = acc.flatMap(_._2)
      val anchored = Seq(
        dischs.map(d => d + gapDays * Day), dischs.map(d => d + gapDays * Day + 1),
        dischs, dischs.map(_ + 1), admits.map(_ + Day)).filter(_.nonEmpty)
      val admitG = Gen.frequency((2 -> free) +: anchored.map(xs => 1 -> Gen.oneOf(xs)): _*)
      for {
        subj <- Gen.frequency(9 -> Gen.choose(0, 1).map(Option(_)), 1 -> Gen.const(None))
        admit <- admitG
        los <- Gen.frequency(1 -> Gen.const(0L), 4 -> Gen.choose(1L, 20 * Day))
        nullAdmit <- Gen.frequency(1 -> true, 15 -> false)
        nullDisch <- Gen.frequency(1 -> true, 15 -> false)
      } yield (subj, if (nullAdmit) None else Some(admit),
        if (nullDisch) None else Some(admit + los))
    }
    Gen.choose(1, 9).flatMap(n => (0 until n).foldLeft(
      Gen.const(Vector.empty[(Option[Int], Option[Long], Option[Long])])) {
      (g, _) => g.flatMap(acc => next(acc).map(acc :+ _)) })
  }

  /** `nCases` independent groups, subjects disjoint across groups. */
  private def visits(gapDays: Int, nCases: Int, seed: Long): Seq[Visit] = {
    val cases = Gen.listOfN(nCases, caseGen(gapDays))
      .pureApply(Gen.Parameters.default, Seed(seed))
    cases.zipWithIndex.flatMap { case (c, i) =>
      c.map { case (slot, a, d) => (slot.map(i * 10L + _), a, d) }
    }.zipWithIndex.map { case ((s, a, d), stay) => Visit(s, stay.toLong, a, d) }
  }

  private def labels(vs: Seq[Visit], gapDays: Int): Map[Long, Int] = {
    import spark.implicits._
    val df = vs.map(v => (v.subject, v.stay, v.admit, v.disch))
      .toDF("subject_id", "stay_id", "admit_us", "disch_us")
      .select(col("subject_id"), col("stay_id"),
        timestamp_micros(col("admit_us")).as("intime"),
        timestamp_micros(col("disch_us")).as("outtime"))
    Cohort.readmissionLabel(df, Cohort.icuRoles, gapDays)
      .select(col("stay_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  for ((gap, seed) <- Seq(1 -> 11L, 30 -> 12L, 120 -> 13L))
    test(s"readmissionLabel == brute-force reference predicate (gap $gap days)") {
      val vs = visits(gap, nCases = 80, seed)
      // the sample must exercise every edge, or equality proves little
      def pairs(p: (Visit, Visit) => Boolean) = vs.exists(a => vs.exists(b =>
        (a ne b) && a.subject.isDefined && a.subject == b.subject && p(a, b)))
      def rel(f: (Long, Long) => Boolean)(a: Visit, b: Visit) =
        (for (d <- a.disch; t <- b.admit) yield f(d, t)).getOrElse(false)
      assert(pairs(rel((d, t) => t == d + gap * Day)), "no admit exactly at disch + gap")
      assert(pairs(rel((d, t) => t == d + gap * Day + 1)), "no admit 1 µs past disch + gap")
      assert(pairs(rel((d, t) => t == d)), "no admit equal to a disch")
      assert(pairs((a, b) => (for (a0 <- a.admit; d <- a.disch; t <- b.admit)
        yield a0 <= t && t < d).getOrElse(false)), "no overlapping stays")
      assert(vs.exists(v => v.admit.isDefined && v.admit == v.disch), "no zero-length stay")
      assert(vs.exists(_.admit.isEmpty) && vs.exists(_.disch.isEmpty), "no null admit/disch")
      assert(vs.exists(_.subject.isEmpty), "no null subject")

      val want = brute(vs, gap)
      assert(want.values.exists(_ == 1) && want.values.exists(_ == 0))
      val got = labels(vs, gap)
      assert(got.size === vs.size, "labeling must keep one row per visit")
      val diff = vs.filter(v => got.get(v.stay) != want.get(v.stay))
      assert(diff.isEmpty, s"label mismatch on ${diff.take(5)}")
    }
}
