package graft

import graft.queries.Registry
import org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL

/** Executed-plan guards for the shared-stage document queries — the
  * class of defect the result oracle CANNOT catch (output identical,
  * runtime catastrophically worse). Round 9 shipped a 12× regression in
  * d20 exactly this way: a free-variable lambda re-tokenized every doc
  * per shingle and the "shared" exchange shipped raw text, all while
  * CORRECTNESS stayed green. These specs pin the healthy plan shape.
  */
class PlanGuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The deliberate repartition(doc_id) spread is the ONLY exchange
    * allowed to carry raw document text; any ENSURE_REQUIREMENTS (join /
    * agg / window) exchange shipping `text` means a corpus-sized payload
    * is riding a shuffle that should carry computed columns. */
  private def assertTextOnlyRidesTheSpread(name: String,
      requireReuse: Boolean = true): Unit = {
    val df = Registry.queries(name)(spark, sfDir)
    df.collect()
    val sh = PlanInspect.shuffles(df)
    val textEx = sh.filter(_.output.exists(_.name == "text"))
    textEx.foreach { e =>
      assert(e.shuffleOrigin == REPARTITION_BY_COL,
        s"$name: a ${e.shuffleOrigin} exchange carries raw text: ${e.output.map(_.name)}")
    }
    assert(textEx.size <= 1,
      s"$name: ${textEx.size} exchanges carry raw text — the corpus is being spread twice")
    // multi-consumer queries must reuse the spread; a single-pass plan
    // (d21's window formulation consumes the chunk stream exactly once)
    // has no second consumer and nothing TO reuse
    if (requireReuse)
      assert(PlanInspect.reused(df).nonEmpty,
        s"$name: consumers must reuse the doc_id spread exchange, not re-shuffle the corpus")
  }

  test("tripwire: NO battery query re-evaluates tokenization inside a lambda") {
    // the optimized logical plan is where CollapseProject inlining
    // happens — no execution needed, so this sweeps the whole battery
    val offenders = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      PlanInspect.freeTokenizationLambdas(fn(spark, sfDir)).map(b => s"$name: $b")
    }
    assert(offenders.isEmpty,
      s"free-variable tokenization lambdas (bind via two aliased projections):\n${offenders.mkString("\n")}")
  }

  test("tripwire: the Bloom decontamination and containment filters re-evaluate no tokenization in a lambda") {
    // their lambdas sit under a Filter, which is pushed below any
    // projection that binds the tokens, with the alias substituted
    val docs = Registry.t(spark, sfDir, "documents")
    val bloom = graft.queries.Docs.containmentBloomBytes(docs.limit(20))
    val offenders = Seq(
      "decontamFilterDf" -> graft.queries.Docs.decontamFilterDf(docs, bloom),
      "containmentFilterDf" -> graft.queries.Docs.containmentFilterDf(docs, bloom)
    ).flatMap { case (name, df) => PlanInspect.freeTokenizationLambdas(df).map(b => s"$name: $b") }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("d20/d29: computed shingle sets ride the verification-join exchanges; text only rides the spread") {
    for (name <- Seq("d20_neardup_verified", "d29_cross_neardup")) {
      val df = Registry.queries(name)(spark, sfDir)
      df.collect()
      val sh = PlanInspect.shuffles(df)
      // the join exchanges must carry (doc_id, computed sets) — if sa/sb
      // vanish from every exchange payload, the set compute floated above
      // the joins and is re-running downstream of the shuffle
      assert(sh.exists(_.output.exists(a => a.name == "sa" || a.name == "sb")),
        s"$name: no exchange carries the computed shingle sets:\n${sh.map(_.output.map(_.name)).mkString("\n")}")
      assertTextOnlyRidesTheSpread(name)
    }
  }

  test("d18/d21/d25/d30: shared-stage queries never ship text through a join/agg exchange") {
    Seq("d18_tfidf", "d25_lm_surprisal", "d30_dupspan_removal")
      .foreach(assertTextOnlyRidesTheSpread(_))
    assertTextOnlyRidesTheSpread("d21_dup_chunks", requireReuse = false)
  }

  test("d30: the block-hash exchange ships narrow (h, dt) tuples, never block content") {
    val df = Registry.queries("d30_dupspan_removal")(spark, sfDir)
    df.collect()
    val sh = PlanInspect.shuffles(df)
    val hEx = sh.filter(_.output.exists(_.name == "h"))
    assert(hEx.nonEmpty, "d30: no exchange keyed on the block hash found")
    hEx.foreach { e =>
      assert(!e.output.exists(a => a.name == "content" || a.name == "text" || a.name == "ws"),
        s"d30: the block-hash exchange carries block content: ${e.output.map(_.name)}")
    }
    // keeper aggregate + probe join must consume ONE materialized h
    // exchange — a second h exchange means the dedup pipeline shuffles
    // the block stream twice (the pre-fix shape: join-key constraint
    // inference de-canonicalized the two subtrees)
    assert(hEx.size <= 1,
      s"d30: ${hEx.size} distinct block-hash exchanges — keeper/probe no longer share the stage")
  }

  test("e14: semantic decontam joins per-bucket with a broadcast reference; no cartesian") {
    val p = {
      val df = Registry.queries("e14_semantic_decontam")(spark, sfDir)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
      out.toString
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic decontam went all-pairs:\n${p.take(800)}")
    assert(p.contains("BroadcastExchange"),
      "e14: the eval-suite reference side must broadcast (it is tiny at any corpus scale)")
  }

  test("d29: candidate generation never broadcasts an unbounded side; no cartesian") {
    val p = {
      val df = Registry.queries("d29_cross_neardup")(spark, sfDir)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
      out.toString
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross near-dup went all-pairs:\n${p.take(800)}")
  }

  test("SQL-cache registrations: exactly the disclosed persist() queries (bench cache_reset protocol)") {
    // Bench gives cache-registering queries a different rep protocol
    // (clear + rebuild per rep, disclosed in `cache_reset`) so reps
    // re-pay the cache fill like the DuckDB twin's MATERIALIZED CTE.
    // A query that silently GAINS a persist() would bench reps 2+ as
    // cache hits if this set and Bench's detection ever diverged from
    // the code — pin the set here so a change is a conscious decision.
    import org.apache.spark.sql.GraftShim
    val registering = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      spark.catalog.clearCache()
      fn(spark, sfDir)
      if (GraftShim.sqlCacheNonEmpty(spark)) Some(name) else None
    }
    spark.catalog.clearCache()
    assert(registering.toSet == Set("d44_ccnet_buckets"),
      s"persist()-registering battery queries changed: $registering — update Bench's " +
        "cache_reset disclosure reasoning and this pin together")
  }

  test("bench twin_class entries name registered queries (the m-gate exclusion stays auditable)") {
    // over2x is structurally blind to twin-class queries; a stale entry
    // (renamed/dropped gate) would silently widen the blind spot, and a
    // future m-gate twin that DOES decode must remove its entry here.
    Bench.twinClasses.keys.foreach { k =>
      assert(Registry.queries.contains(k),
        s"Bench.twinClasses names unregistered query '$k'")
    }
  }
}
