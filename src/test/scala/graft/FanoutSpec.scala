package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, GraftShim}
import graft.mimic.{Fixtures, MimicSource, Pipeline}

class FanoutSpec extends SparkSpec {

  private def helperThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith(Fanout.ThreadPrefix)).toSet

  test("results come back in input order; more branches than threads share the pool") {
    val used = new ConcurrentLinkedQueue[String]()
    // later branches finish first, and there are more branches than threads
    val got = Fanout.all(spark)((0 until 10).map { i =>
      s"b$i" -> (() => {
        Thread.sleep((10 - i) * 20L)
        used.add(Thread.currentThread().getName.takeWhile(_ != ':'))
        spark.range(i).count()
      })
    })
    assert(got === (0L until 10L))
    assert(used.asScala.toSet.size <= Fanout.MaxThreads)
    assert(used.asScala.forall(_.startsWith(Fanout.ThreadPrefix)))
    assert(helperThreads.isEmpty)
    // a single branch needs no pool: it runs on the caller's thread
    val caller = Thread.currentThread().getName
    assert(Fanout.all(spark)(Seq("one" -> (() => Thread.currentThread().getName))) === Seq(caller))
  }

  test("a failing branch waits for every sibling's commit, then throws its own exception") {
    val out = Files.createTempDirectory("fanout_fail").toString
    val boom = new IllegalStateException("boom")
    val writers = (1 to 3).map { i =>
      s"w$i" -> (() => {
        Thread.sleep(300)
        spark.range(1000).write.mode("overwrite").parquet(s"$out/w$i")
      })
    }
    val thrown = intercept[IllegalStateException] {
      Fanout.all(spark)(("bad" -> (() => throw boom)) +: writers)
    }
    assert(thrown eq boom)
    (1 to 3).foreach(i => assert(Files.exists(Paths.get(s"$out/w$i/_SUCCESS")), s"w$i"))
    assert(helperThreads.isEmpty)
  }

  test("several failures: the first in input order is thrown, the others suppressed") {
    val first = new IllegalArgumentException("first")
    val second = new IllegalStateException("second")
    val thrown = intercept[IllegalArgumentException] {
      Fanout.all(spark)(Seq(
        "ok" -> (() => spark.range(5).count()),
        "a" -> (() => { Thread.sleep(200); throw first }),
        "b" -> (() => throw second)))
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq === Seq(second))
    assert(helperThreads.isEmpty)
  }

  test("every job a branch starts carries the caller's local properties") {
    val sc = spark.sparkContext
    val key = "graft.fanout.spec"
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))))
    }
    val out = Files.createTempDirectory("fanout_props").toString
    GraftShim.waitListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "caller")
      Fanout.all(spark)((1 to 10).map { i =>
        s"b$i" -> (() =>
          if (i % 2 == 0) spark.range(i * 10).selectExpr("id % 3 AS k").distinct().count()
          else { spark.range(i).write.mode("overwrite").parquet(s"$out/b$i"); 0L })
      })
      GraftShim.waitListenerBus(sc)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    val props = seen.asScala.toSeq
    assert(props.size >= 10)
    assert(props.forall(_.contains("caller")), props)
  }

  test("timeSeries with an input missing a column throws before any ts/ directory exists") {
    val root = Files.createTempDirectory("fanout_ts_in").toString
    Fixtures.writeTree(spark, root)
    val out = Files.createTempDirectory("fanout_ts_out").toString
    val pipe = Pipeline(spark, MimicSource(spark, root), s"$root/icd_mapping.txt", out)
    val cohort = pipe.cohort(useIcu = true, label = "Mortality")
    val feats = pipe.featureIcu(cohort)
    // diag feeds the last grid built (cond); every other grid is sound
    val broken = feats + ("diag" -> feats("diag").drop("new_icd_code"))
    intercept[AnalysisException] {
      pipe.timeSeries(cohort, broken, task = "Mortality", imputeHow = "Mean")
    }
    assert(!Files.exists(Paths.get(s"$out/ts")))
  }
}
