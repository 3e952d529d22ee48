package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs.cosineFast

/** Independent verification for the battery rows whose DuckDB oracle
  * DNFs at large SF (d12/d13/e10: recursive-CTE closure; e06: 300 s
  * cap). "Independent" means a different formulation of the same
  * contract, computed in Spark against the parquet the battery DUMPED
  * (`graft.Verify` output), so a wrong dump cannot verify itself:
  *
  *   - e06: the dumped top-3 rows for a seeded sample of query vectors
  *     must EXACTLY equal brute force restricted to the query's bucket
  *     (the bucketed-KNN contract), plus a recall floor vs unrestricted
  *     brute-force truth, as a pass/fail.
  *   - d12 / e10: the dumped (id, rep) clustering must equal the
  *     fixpoint of relational min-label propagation over the same edge
  *     list — an O(diameter)-round formulation sharing NO code with the
  *     pointer-jumping ConnectedComponents operator — plus rep validity
  *     (every edge in-cluster, reps are fixed points, rep ≤ member).
  *   - d13: survivor containment (output ⊆ the independently recomputed
  *     stage-1 gate ∩ exact-dedup keep set, benchmark rows excluded),
  *     n_tokens exactness, and stage monotonicity of the counts.
  *
  * Usage: ScaleCheck <sfDir> <verifyOutDir> <outJson> [sampleN]
  * Exits 1 if any check fails; writes a JSON verdict per check.
  */
object ScaleCheck {

  private def labelPropagate(edges: DataFrame, maxIter: Int = 40): (DataFrame, Boolean) = {
    val sym = edges.toDF("u", "v")
      .union(edges.toDF("u", "v").select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = sym.join(labels, sym("u") === labels("id"))
        .groupBy(sym("v").as("nid")).agg(min(col("lbl")).as("nmin"))
      val next = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("lbl", "prev"), Seq("id"))
        .filter(col("lbl") =!= col("prev")).count()
      labels = next
      converged = changed == 0
      it += 1
    }
    (labels, converged)
  }

  /** Dumped clustering (id, rep) vs label-propagation fixpoint over the
    * same edges; plus rep validity. Returns (ok, detail). */
  private def checkClustering(name: String, dumped: DataFrame, edges: DataFrame,
      allIds: DataFrame): (Boolean, String) = {
    val d = dumped.toDF("id", "rep")
    val (labels, converged) = labelPropagate(edges)
    if (!converged) return (false, s"$name: label propagation did not converge")
    // full map: vertices not in any edge map to themselves
    val expect = allIds.toDF("id")
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("rep"))
    val nDiff = d.join(expect.withColumnRenamed("rep", "erep"), Seq("id"))
      .filter(col("rep") =!= col("erep")).count()
    val nMissing = allIds.toDF("id").join(d, Seq("id"), "left_anti").count()
    // validity: every edge stays in-cluster; reps are fixed points; min-rep
    val repOf = d
    val badEdge = edges.toDF("u", "v")
      .join(repOf.toDF("u", "ru"), Seq("u"))
      .join(repOf.toDF("v", "rv"), Seq("v"))
      .filter(col("ru") =!= col("rv")).count()
    val badFix = d.join(d.toDF("rep", "rr"), Seq("rep")).filter(col("rr") =!= col("rep")).count()
    val badMin = d.filter(col("rep") > col("id")).count()
    val ok = nDiff == 0 && nMissing == 0 && badEdge == 0 && badFix == 0 && badMin == 0
    (ok, s"$name: diff_vs_labelprop=$nDiff missing=$nMissing cross_cluster_edges=$badEdge " +
      s"non_fixed_reps=$badFix rep_gt_id=$badMin converged=$converged")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val outJson = args(2)
    val sampleN = if (args.length > 3) args(3).toInt else 300
    val spark = LocalSession()
    val results = scala.collection.mutable.LinkedHashMap[String, (Boolean, String)]()

    // ---- e06: in-bucket exactness on a seeded sample + recall floor ----
    {
      val e = queries.Registry.t(spark, sfDir, "embeddings")
        .withColumn("bkt", functions.PlaneBucketExpr.planeBucketCode(col("embedding")))
      // seeded deterministic sample: hash-ordered, reproducible across runs
      val ids = e.select(col("vec_id")).orderBy(xxhash64(col("vec_id")))
        .limit(sampleN).collect().map(_.getLong(0))
      val q = e.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("qid"), col("bkt").as("qbkt"), col("embedding").as("qe"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nbr_id").asc)
      val expect = e.join(broadcast(q), col("bkt") === col("qbkt"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", round(cosineFast(col("embedding"), col("qe")), 4))
        .select(col("qid"), col("vec_id").as("nbr_id"), col("cos_sim"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("qid").as("vec_id"), col("nbr_id"), col("cos_sim"), col("rk"))
      val dumped = spark.read.parquet(s"$outDir/e06_knn_join")
        .filter(col("vec_id").isin(ids: _*))
      val nd = dumped.count()
      val ne = expect.count()
      val nJoin = dumped.join(expect, Seq("vec_id", "nbr_id", "cos_sim", "rk")).count()
      val exact = nd == ne && nJoin == nd
      // recall floor vs UNRESTRICTED brute force (diagnostic promoted to
      // a gate: collapse to ~0 would mean the bucketing broke)
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id").asc)
      val truth = e.crossJoin(broadcast(q.select(col("qid"), col("qe"))))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos_sim", round(cosineFast(col("embedding"), col("qe")), 4))
        .withColumn("rk", row_number().over(wt))
        .filter(col("rk") <= 3)
        .select(col("qid").as("vec_id"), col("vec_id").as("nbr_id"))
      val truthN = truth.count()
      val hit = truth.join(dumped.select(col("vec_id"), col("nbr_id")),
        Seq("vec_id", "nbr_id"), "left_semi").count()
      val recall = hit.toDouble / truthN
      val ok = exact && recall >= 0.02
      results("e06_knn_join") = (ok,
        s"in-bucket exact: dumped=$nd expect=$ne matched=$nJoin; recall@3=$recall (floor 0.02)")
    }

    // ---- d12: clustering vs independent label propagation ----
    {
      val dumped = spark.read.parquet(s"$outDir/d12_dedup_clusters")
        .select(col("doc_id"), col("cluster_rep"))
      val edges = queries.Docs.d12Edges(spark, sfDir)
      val allIds = queries.Registry.t(spark, sfDir, "documents").select(col("doc_id"))
      results("d12_dedup_clusters") = checkClustering("d12", dumped, edges, allIds)
    }

    // ---- e10: semdedup clustering vs independent label propagation ----
    {
      val dumped = spark.read.parquet(s"$outDir/e10_semdedup")
        .select(col("vec_id"), col("cluster_rep"))
      val e = queries.Registry.t(spark, sfDir, "embeddings")
        .withColumn("bkt", functions.PlaneBucketExpr.planeBucketCode(col("embedding")))
      val a = e.select(col("bkt"), col("vec_id").as("u"), col("embedding").as("ea"))
      val b = e.select(col("bkt"), col("vec_id").as("v"), col("embedding").as("eb"))
      val edges = a.join(b, Seq("bkt"))
        .filter(col("u") < col("v"))
        .filter(round(cosineFast(col("ea"), col("eb")), 4) >= 0.2)
        .select(col("u"), col("v"))
      val allIds = e.select(col("vec_id"))
      results("e10_semdedup") = checkClustering("e10", dumped, edges, allIds)
    }

    // ---- d13: survivor containment + n_tokens exactness + monotonicity ----
    {
      val dumped = spark.read.parquet(s"$outDir/d13_corpus_clean")
      val docs = queries.Registry.t(spark, sfDir, "documents")
        .withColumn("ws", split(graft.functions.ColFns.normWs(col("text")), " "))
      def cnt(ws: Seq[String]) = size(filter(col("ws"), x => x.isin(ws: _*))).cast("long")
      val nTok = size(col("ws")).cast("long")
      val dupFrac = lit(1.0) -
        size(array_distinct(col("ws"))).cast("double") / nTok.cast("double")
      val gated = docs.withColumn("n_tokens", nTok)
        .filter(cnt(Seq("the", "a")) >= cnt(Seq("data", "spark", "stream")) &&
          cnt(Seq("the", "a")) >= cnt(Seq("join", "merge", "hash")) &&
          col("n_tokens") >= 10 && dupFrac <= 0.6)
      val keep = gated.select(md5(col("text").cast("binary")).as("_h"), col("doc_id"))
        .groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
      val nInput = docs.count()
      val nGated = gated.count()
      val nKeep = keep.count()
      val nOut = dumped.count()
      // containment: every survivor is a gated, exact-dedup-kept,
      // non-benchmark doc with the exact token count
      val outsideKeep = dumped.select(col("doc_id"))
        .join(keep.select(col("doc_id")), Seq("doc_id"), "left_anti").count()
      val benchRows = dumped.filter(col("doc_id") % 20 === 0).count()
      val badTok = dumped.join(gated.select(col("doc_id"), col("n_tokens").as("et")), Seq("doc_id"))
        .filter(col("n_tokens") =!= col("et")).count()
      val mono = nInput >= nGated && nGated >= nKeep && nKeep >= nOut
      val ok = outsideKeep == 0 && benchRows == 0 && badTok == 0 && mono && nOut > 0
      results("d13_corpus_clean") = (ok,
        s"input=$nInput gated=$nGated exact_keep=$nKeep survivors=$nOut " +
          s"outside_keep=$outsideKeep bench_rows=$benchRows bad_n_tokens=$badTok monotone=$mono")
    }

    // ---- d43: per-source keeper report vs an independent election ----
    // Clustering re-derived by label propagation (shares no code with
    // the pointer-jumping CC the gate uses); the keeper re-derived as
    // TWO chained aggs (min source per cluster, then min doc_id within
    // the winning source) instead of the gate's ONE min(struct).
    {
      val dumped = spark.read.parquet(s"$outDir/d43_keeper_priority")
      val edges = queries.Docs.d12Edges(spark, sfDir) // same md5 sig family as d43
      val (labels, converged) = labelPropagate(edges)
      if (!converged) results("d43_keeper_priority") = (false, "label propagation did not converge")
      else {
        val docs = queries.Registry.t(spark, sfDir, "documents")
          .select(col("doc_id"), col("source"))
        val cl = docs.join(labels, docs("doc_id") === labels("id"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("lbl"), col("doc_id")).as("cluster"))
        val winSrc = cl.groupBy(col("cluster")).agg(min(col("source")).as("source"))
        val keepers = winSrc.groupBy(col("source")).agg(count(lit(1)).as("ek"))
        val expect = cl.groupBy(col("source")).agg(count(lit(1)).as("en"))
          .join(keepers, Seq("source"), "left")
          .select(col("source"), col("en"), coalesce(col("ek"), lit(0L)).as("ek"),
            (col("en") - coalesce(col("ek"), lit(0L))).as("ee"))
        val nDump = dumped.count()
        val nExpect = expect.count()
        val nMatch = dumped.join(expect,
          dumped("source") === expect("source") &&
            dumped("n_docs") === expect("en") &&
            dumped("n_keepers") === expect("ek") &&
            dumped("n_evicted") === expect("ee")).count()
        val ok = nDump == nExpect && nMatch == nDump && nDump > 0
        results("d43_keeper_priority") = (ok,
          s"sources dumped=$nDump expected=$nExpect matched=$nMatch (independent 2-agg election over label-prop clusters)")
      }
    }

    // ---- d44: cross-artifact score consistency + row-local tercile law ----
    // mbpt must equal the d25 dump's per-doc score (two independently
    // dumped artifacts agreeing), and every label must satisfy the
    // row-local tercile condition: head ⟺ (C(v) − eq(v))·3 < n, middle
    // ⟺ < 2n (C = count of rows ≤ v per lang, eq = rows at exactly v)
    // — a window formulation sharing nothing with the gate's
    // histogram-threshold derivation.
    {
      val dumped = spark.read.parquet(s"$outDir/d44_ccnet_buckets")
      val d25 = spark.read.parquet(s"$outDir/d25_lm_surprisal")
        .select(col("doc_id"), col("milli_bits_per_token").as("mb25"))
      val scoreDiff = dumped.join(d25, Seq("doc_id"))
        .filter(col("milli_bits_per_token") =!= col("mb25")).count()
      val missing = dumped.join(d25, Seq("doc_id"), "left_anti").count()
      import org.apache.spark.sql.expressions.Window
      val wLe = Window.partitionBy(col("lang")).orderBy(col("milli_bits_per_token"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wEq = Window.partitionBy(col("lang"), col("milli_bits_per_token"))
      val wN = Window.partitionBy(col("lang"))
      val lawBreaks = dumped
        .withColumn("cum", count(lit(1)).over(wLe))
        .withColumn("eq", count(lit(1)).over(wEq))
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("below", (col("cum") - col("eq")) * 3)
        .withColumn("expect_bucket",
          when(col("below") < col("n"), lit("head"))
            .when(col("below") < col("n") * 2, lit("middle"))
            .otherwise(lit("tail")))
        .filter(col("ppl_bucket") =!= col("expect_bucket")).count()
      val nOut = dumped.count()
      val ok = scoreDiff == 0 && missing == 0 && lawBreaks == 0 && nOut > 0
      results("d44_ccnet_buckets") = (ok,
        s"rows=$nOut score_diff_vs_d25=$scoreDiff missing_in_d25=$missing tercile_law_breaks=$lawBreaks")
    }

    // ---- d45: pair soundness on a seeded sample, independent shingling ----
    // A deterministic sample of dumped pairs is re-verified with a
    // formulation sharing nothing with the gate: shingles built by a
    // positional SELF-JOIN over exploded tokens (not transform/sequence),
    // intersection by an equi-join (not array_intersect).
    {
      val dumped = spark.read.parquet(s"$outDir/d45_containment_dedup")
      val nOut = dumped.count()
      val sample = dumped.orderBy(xxhash64(col("doc_id_a"), col("doc_id_b")))
        .limit(sampleN)
        .withColumn("pid", monotonically_increasing_id())
        .localCheckpoint(true)
      val ids = sample.select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
        .distinct()
      val toks = queries.Registry.t(spark, sfDir, "documents")
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          posexplode(split(graft.functions.ColFns.normWs(col("text")), " ")))
        .toDF("doc_id", "p", "w")
      val sh = toks.as("t0")
        .join(toks.as("t1"), col("t0.doc_id") === col("t1.doc_id") &&
          col("t1.p") === col("t0.p") + 1)
        .join(toks.as("t2"), col("t0.doc_id") === col("t2.doc_id") &&
          col("t2.p") === col("t0.p") + 2)
        .select(col("t0.doc_id").as("doc_id"),
          concat_ws(" ", col("t0.w"), col("t1.w"), col("t2.w")).as("sh"))
        .distinct().localCheckpoint(true)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = sample.select(col("pid"), col("doc_id_a"), col("doc_id_b"))
        .join(sh.toDF("doc_id_a", "sha"), Seq("doc_id_a"))
        .join(sh.toDF("doc_id_b", "shb"), Seq("doc_id_b"))
        .filter(col("sha") === col("shb"))
        .groupBy(col("pid")).agg(count(lit(1)).as("ni"))
      val checked = sample
        .join(sizes.toDF("doc_id_a", "sa"), Seq("doc_id_a"))
        .join(sizes.toDF("doc_id_b", "sb"), Seq("doc_id_b"))
        .join(inter, Seq("pid"), "left")
        .withColumn("ni", coalesce(col("ni"), lit(0L)))
        .withColumn("econtain",
          round(col("ni").cast("double") / least(col("sa"), col("sb")).cast("double"), 4))
        .withColumn("eevict",
          when(col("ni").cast("double") / least(col("sa"), col("sb")).cast("double") < 0.8,
            lit(null).cast("long"))
            .when(col("sa") < col("sb"), col("doc_id_a"))
            .when(col("sb") < col("sa"), col("doc_id_b"))
            .otherwise(greatest(col("doc_id_a"), col("doc_id_b"))))
      val badC = checked.filter(col("containment") =!= col("econtain")).count()
      val badE = checked.filter(
        !(col("evict_id") <=> col("eevict"))).count()
      val nSample = sample.count()
      val ok = badC == 0 && badE == 0 && nSample > 0 && nOut > 0
      results("d45_containment_dedup") = (ok,
        s"pairs=$nOut sampled=$nSample containment_mismatch=$badC evict_mismatch=$badE (independent join-shingling)")
    }

    // ---- e23: radius set vs builtin-HOF double-precision recompute ----
    // The gate computes cosine with the codegen'd integer-exact
    // cosineFast; the check recomputes with aggregate/zip_with builtins
    // (the oracle's formulation, run in Spark) — exact set + value match.
    {
      val dumped = spark.read.parquet(s"$outDir/e23_radius_search")
      val e = queries.Registry.t(spark, sfDir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)
      val expect = e.filter(col("vec_id") > 0).crossJoin(broadcast(q))
        .withColumn("cos_sim", round(dot(col("embedding"), col("qe")) /
          (sqrt(dot(col("embedding"), col("embedding"))) * sqrt(dot(col("qe"), col("qe")))), 4))
        .filter(col("cos_sim") >= 0.25)
        .select(col("vec_id"), col("label"), col("cos_sim"))
      val nd = dumped.count()
      val ne = expect.count()
      val nMatch = dumped.join(expect, Seq("vec_id", "label", "cos_sim")).count()
      val ok = nd == ne && nMatch == nd && nd > 0
      results("e23_radius_search") = (ok,
        s"dumped=$nd expected=$ne matched=$nMatch (builtin-HOF recompute)")
    }

    // ---- m05: dup groups vs the construction's base-class invariants ----
    // Content is keyed by doc_id % 24, so WITHOUT touching the formula
    // for the frame signatures: exactly one group per base present in
    // the fixture, n_docs = |{doc_id ≡ base}|, keeper = min, n_frames =
    // base % 3 + 1 — decode, fingerprint, and keeper rule all confirmed
    // against set arithmetic on the fixture ids alone.
    {
      val dumped = spark.read.parquet(s"$outDir/m05_video_fp_dedup")
        .withColumn("base", col("keeper_id") % 24)
      val expect = queries.Registry.t(spark, sfDir, "documents")
        .filter(col("doc_id").isNotNull)
        .withColumn("base", col("doc_id") % 24)
        .groupBy(col("base"))
        .agg(count(lit(1)).as("en"), min(col("doc_id")).as("ekeeper"),
          (first(col("base")) % 3 + 1).as("eframes"))
      val nd = dumped.count()
      val ne = expect.count()
      val nMatch = dumped.join(expect,
        dumped("base") === expect("base") &&
          dumped("n_docs") === expect("en") &&
          dumped("keeper_id") === expect("ekeeper") &&
          dumped("n_frames") === expect("eframes")).count()
      // distinct fps across bases: group count must equal base count
      val distinctBases = dumped.select(col("base")).distinct().count()
      val ok = nd == ne && nMatch == nd && distinctBases == nd && nd > 0
      results("m05_video_fp_dedup") = (ok,
        s"groups dumped=$nd bases=$ne matched=$nMatch distinct_bases=$distinctBases")
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), Json.write(
      results.map { case (k, (ok, detail)) => k -> ListMap("pass" -> ok, "detail" -> detail) }))
    results.foreach { case (k, (ok, detail)) =>
      println(s"${if (ok) "PASS" else "FAIL"} $k — $detail")
    }
    spark.stop()
    if (results.values.exists(!_._1)) sys.exit(1)
  }
}
