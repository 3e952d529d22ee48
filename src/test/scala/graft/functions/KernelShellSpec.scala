package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Table-driven codegen regression over every compiled unary kernel.
  *
  * (a) Each kernel is used twice in one projection over two distinct,
  *     non-nullable, non-foldable inputs with `spark.sql.codegen.fallback`
  *     off, so a generated-code defect (e.g. a fixed local name declared
  *     twice in one scope) fails the query instead of silently running the
  *     stage interpreted. Literal-only children would be constant-folded
  *     and never reach generated code, hence the `id`-derived inputs.
  * (b) The interpreted `eval` path and the generated-code path return the
  *     same rows on the same inputs, a null input row included.
  */
class KernelShellSpec extends SparkSpec {

  private sealed trait Kind
  private case object Strs extends Kind   // array<string>
  private case object Text extends Kind   // string
  private case object Floats extends Kind // array<float>
  private case object Dbl extends Kind    // double
  private case object Bin extends Kind    // binary

  private val sketch: Array[Byte] = {
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.01, 0.99, 42)
    Seq("a", "the", "b", "1").foreach(t => cms.addBinary(t.getBytes("UTF-8"), 3L))
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    bos.toByteArray
  }
  private val model = Seq(0 -> Array(0.5f, 0f, -1f), 1 -> Array(-0.5f, 2f, 2f))

  private val kernels: Seq[(String, Kind, Column => Column)] = Seq(
    ("bm25_doc_stats", Text, Bm25Exprs.bm25DocStats(_, Seq("a", "the", "b"))),
    ("bpe_encode_stats", Strs, BpeExprs.bpeEncodeStats(_, Seq("a1", "b2"), 2)),
    ("cms_estimate", Text, CmsExprs.cmsEstimate(_, sketch)),
    ("gopher_stats", Strs, GateExprs.gopherStats),
    ("hashed_token_score", Strs, GateExprs.hashedTokenScore),
    ("kmeans_argmin", Floats, KMeansExprs.assignCluster(_, model)),
    ("kmeans_assign", Floats, KMeansExprs.assignWithScore(_, model)),
    ("minhash_sig", Strs, MinHashExprs.minHashSig),
    ("opq_rotate_micro", Floats, OpqExprs.opqRotateMicro),
    ("double_order_bits", Dbl, DoubleOrderBits.orderBits),
    ("plane_bucket_code", Floats, PlaneBucketExpr.planeBucketCode(_)),
    ("redact_stats", Text, RedactExprs.redactStats(_, "[a-z]+@[a-z]+\\.com", "[0-9]+")),
    ("top_adjacent_pair_count", Strs, RepetitionExprs.topAdjacentPairCount),
    ("rolling_hash", Text, RollingHashExprs.rollingHash),
    ("gram_hashes", Text, GramHashExprs.gramHashes(_, 3)),
    ("simhash16", Strs, SimHashExpr.simHash16),
    ("sq_encode", Floats, SqExprs.sqEncode(_, Array(-1000000L, 0L, -2000000L),
      Array(1000000L, 3000000L, 2000000L))),
    ("sq_adc", Bin, SqExprs.sqAdc(_, Array[Byte](1, 2, -3))),
    ("snapshot_surprisal", Text,
      SurprisalExprs.snapshotSurprisal(_, Seq("a", "the"), Seq(5L, 3L), 100L)),
    ("marker_stats", Text, MarkerStats.markerStats(_, Seq(Seq("the", "a"), Seq("b")))),
    ("bpe_run_stats", Text, BpeRunStats.bpeRunStats))

  /** Two distinct non-nullable, non-foldable inputs of each kind. */
  private def inputs(kind: Kind): (Column, Column) = {
    val id = col("id")
    kind match {
      case Strs => (array(lit("a"), id.cast("string")), array(lit("b"), (id + 1).cast("string")))
      case Text => (concat(lit("the a\tx@y.com "), id.cast("string")),
        concat(lit(" b  12 "), (id + 1).cast("string")))
      case Floats => (array(lit(0.5f), id.cast("float"), lit(-1.25f)),
        array(lit(-0.5f), (id + 1).cast("float"), lit(2.0f)))
      case Dbl => (id.cast("double") - 1.5, (id + 1).cast("double"))
      case Bin => (concat(lit("ab"), id.cast("string")).cast("binary"),
        (id + 7).cast("string").cast("binary"))
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows as plain nested Seqs, so binary and array results compare by
    * content. */
  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.toSeq.map(norm)
    case o => o
  }

  private def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(norm)

  test("array-field kernels compare by content: equal models are semanticEquals, plans print a digest") {
    def expr(c: Column) = org.apache.spark.sql.GraftShim.expression(c)
    def copy(m: Seq[(Int, Array[Float])]) = m.map { case (l, c) => l -> c.clone() }
    val in = col("embedding")
    val built: Seq[(String, () => Column)] = Seq(
      "cms_estimate" -> (() => CmsExprs.cmsEstimate(in, sketch.clone())),
      "kmeans_argmin" -> (() => KMeansExprs.assignCluster(in, copy(model))),
      "kmeans_assign" -> (() => KMeansExprs.assignWithScore(in, copy(model))),
      "sq_encode" -> (() => SqExprs.sqEncode(in, Array(-1L, 0L), Array(1L, 3L))),
      "sq_adc" -> (() => SqExprs.sqAdc(in, Array[Byte](1, 2, -3))))
    built.foreach { case (name, make) =>
      val (a, b) = (expr(make()), expr(make()))
      assert(a.semanticEquals(b), s"$name: kernels over equal models differ")
      assert(a.semanticHash() === b.semanticHash(), name)
      assert(a.toString === b.toString, name)
      val args = a.toString.replace(a.children.head.toString, "")
      assert(!args.contains("@") && args.contains("md5="), s"$name prints no digest: $args")
    }
    // a different model is a different kernel
    val other = Seq(0 -> Array(0.5f, 0f, -1f), 1 -> Array(-0.5f, 2f, 2.5f))
    assert(!expr(KMeansExprs.assignCluster(in, model))
      .semanticEquals(expr(KMeansExprs.assignCluster(in, other))))
    assert(!expr(SqExprs.sqAdc(in, Array[Byte](1, 2, -3)))
      .semanticEquals(expr(SqExprs.sqAdc(in, Array[Byte](1, 2, -4)))))
  }

  kernels.foreach { case (name, kind, f) =>
    test(s"$name: used twice in one projection, compiles with codegen fallback off") {
      val (a, b) = inputs(kind)
      withConf("spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.wholeStage" -> "true") {
        val df = spark.range(3).select(f(a).as("x"), f(b).as("y"))
        assert(df.queryExecution.executedPlan.find(
          _.isInstanceOf[WholeStageCodegenExec]).isDefined,
          s"$name: the projection must run in whole-stage codegen")
        assert(df.collect().length === 3)
      }
    }

    test(s"$name: interpreted eval equals generated code, null input included") {
      val (a, b) = inputs(kind)
      // built inside each conf block: the physical plan is fixed at first use
      def run(): Seq[Any] = rows(spark.range(3)
        .select(col("id"), when(col("id") === 1, lit(null)).otherwise(a).as("in"), b.as("in2"))
        .select(col("id"), f(col("in")).as("x"), f(col("in2")).as("y"))
        .orderBy(col("id")).select("x", "y"))
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
      val generated = withConf("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
      assert(interpreted.length === 3)
      assert(interpreted === generated)
    }
  }
}
