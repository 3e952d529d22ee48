package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are NOT swallowed silently: every per-query error is printed
  * to stderr and collected into `outDir/errors.json` — a query that
  * crashes must fail the gate loudly, not vanish from the report.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd+ args: restrict to named queries (dev spot-checks at
    // scales where the full battery dump is impractical); the driver's
    // 2-arg call keeps the full battery. `--sql-only` dumps the full
    // oracle_sql.json without running any query (feeds tools/duckbench.py
    // when only the DuckDB side needs timing).
    val sqlOnly = args.contains("--sql-only")
    val only = args.drop(2).toSet - "--sql-only"
    val spark = LocalSession()
    // wipe stale per-query outputs: a query that fails THIS run must not
    // leave a previous run's parquet behind to be compared as if current
    val outRoot = new java.io.File(outDir)
    if (outRoot.exists())
      outRoot.listFiles().filter(_.isDirectory).foreach { d =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(d)
      }
    outRoot.mkdirs()
    val selected = if (sqlOnly) Map.empty[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]
      else if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(2000)
        errors(name) = msg
        System.err.println(s"[verify] FAILED $name: $msg")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.write(errors))
    spark.stop()
    if (errors.nonEmpty)
      // Loud but non-fatal: the driver must still oracle-compare the
      // queries that DID succeed; errors.json carries the failures.
      System.err.println(s"[verify] ${errors.size}/${selected.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
