package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {
  private val floorKeys = Seq(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m")

  test("defaults: local[4], 8 shuffle partitions, UTC, UI off, and the bench-SF coalesce floor") {
    val c = LocalSession.conf(Map.empty)
    assert(c.toMap == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ floorKeys)
  }

  test("an explicit SPARK_GRAFT_SHUFFLE drops the coalesce floor; SPARK_GRAFT_CPUS sets the cores") {
    val c = LocalSession.conf(Map("SPARK_GRAFT_SHUFFLE" -> "32", "SPARK_GRAFT_CPUS" -> "32")).toMap
    assert(c("spark.sql.shuffle.partitions") == "32")
    assert(c("spark.master") == "local[32]")
    floorKeys.foreach { case (k, _) => assert(!c.contains(k), k) }
  }

  test("SPARK_GRAFT_CONF entries come last and win; entries without '=' are ignored") {
    val c = LocalSession.conf(Map("SPARK_GRAFT_CONF" ->
      "spark.sql.adaptive.advisoryPartitionSizeInBytes=8m;bogus;spark.x=a=b"))
    val m = c.toMap
    assert(m("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "8m")
    assert(m("spark.x") == "a=b")
    assert(!c.exists { case (k, _) => k == "bogus" })
    assert(c.takeRight(2) == Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m", "spark.x" -> "a=b"))
  }
}
