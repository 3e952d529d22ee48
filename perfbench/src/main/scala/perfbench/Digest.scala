package perfbench

import java.io.File
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digests of a pass's outputs, so reps can be
  * compared exactly: doubles are rounded (and -0.0 folded into 0.0)
  * before hashing, maps are hashed as key-sorted entry arrays, and rows
  * combine by sum and xor of their 64-bit hashes. */
object Digest {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      transform(array_sort(map_entries(c)), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v")))
    case StructType(fs) => struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** (rows, digest) of one dataset, columns in name order. */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)), bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (n, f"$n%d:${l(1)}%x:${l(2)}%x:${l(3)}%x")
  }

  /** Every dataset under `root` (a directory holding `_SUCCESS`), keyed
    * by its path relative to `root`. */
  def tree(spark: SparkSession, root: String): Map[String, String] = {
    val base = new File(root).toPath
    def datasets(d: File): Seq[File] =
      if (new File(d, "_SUCCESS").exists()) Seq(d)
      else Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
        .flatMap(datasets)
    // one Spark job per dataset, four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val jobs = datasets(new File(root)).map { d =>
        Future {
          val files = d.listFiles().map(_.getName)
          val df =
            if (files.exists(_.endsWith(".csv"))) spark.read.text(d.getPath)
            else spark.read.parquet(d.getPath)
          base.relativize(d.toPath).toString -> of(df)._2
        }
      }
      Await.result(Future.sequence(jobs), Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** (bytes, files) under `root`, every regular file counted. */
  def size(root: String): (Long, Long) = {
    var bytes = 0L; var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile) { bytes += f.length(); files += 1 }
    walk(new File(root))
    (bytes, files)
  }

  /** Files whose name starts with `part-` under `root`. */
  def partFiles(root: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith("part-")) 1L else 0L
    walk(new File(root))
  }
}
