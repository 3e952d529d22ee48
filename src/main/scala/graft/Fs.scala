package graft

import org.apache.spark.sql.SparkSession

/** Path checks through Hadoop's FileSystem, never java.io.File: a root
  * or output dir may be a `file://`, HDFS or S3 URI, where a
  * driver-local check is always false. */
object Fs {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
