package graft

import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** Bench's matched-engine gate on hand-made per-query numbers. The
  * per-wave floor is 0.1 s (`base`: 0.1 s exec over 1 stage). */
class BenchGateSpec extends AnyFunSuite {
  // name -> (construct, exec, stages, twin seconds or -1 for none)
  private val runs = ListMap(
    "base" -> ((0.0, 0.1, 1L, 1.0)),
    // twin under 0.2 s, gap 1.4 s: admitted by the gap, adj 12.0
    "tiny" -> ((0.0, 1.5, 3L, 0.1)),
    // twin under 0.2 s, gap 0.4 s: not admitted
    "small_gap" -> ((0.0, 0.5, 1L, 0.1)),
    // twin-classed: 6x its twin, never in over2x
    "m03_image_phash" -> ((0.0, 3.0, 3L, 0.5)),
    // 2.4x raw, (1.2 − 10×0.1)/0.5 = 0.4 after the floor
    "floory" -> ((0.0, 1.2, 10L, 0.5)),
    "no_twin" -> ((0.0, 9.0, 1L, -1.0))) ++
    (1 to 5).map(i => s"slow$i" -> ((0.0, 2.0, 1L, 0.5)))

  private def gate = Bench.gate(
    runs.toSeq.map { case (k, (c, e, _, _)) => k -> (c + e) },
    runs.map { case (k, (c, _, _, _)) => k -> c },
    runs.map { case (k, (_, e, _, _)) => k -> e },
    runs.map { case (k, (_, _, s, _)) => k -> s },
    runs.collect { case (k, (_, _, _, d)) if d > 0 => k -> d }).get

  private def full = gate.full.toMap
  private val slow = (1 to 5).map(i => s"slow$i")

  test("floor_wave is the cheapest observed stage wave") {
    assert(Bench.floorWave(runs.map { case (k, v) => k -> v._2 },
      runs.map { case (k, v) => k -> v._3 }) == 0.1)
  }

  test("a sub-0.2 s twin with a gap over 1 s is gap_flagged and over2x") {
    assert(full("gap_flagged") == ListMap("tiny" -> 1.4))
    assert(full("over2x") == "tiny" +: slow)
    assert(full("ratios").asInstanceOf[Map[String, Double]]("small_gap") == 5.0)
  }

  test("a twin-classed query goes to class_flagged, never over2x") {
    assert(full("class_flagged") == ListMap("m03_image_phash" ->
      ListMap("class" -> "decode-vs-formula", "raw" -> 6.0, "gap" -> 2.5)))
    assert(full("twin_class") == ListMap("m03_image_phash" -> "decode-vs-formula"))
  }

  test("a floor-adjusted ratio of at most 2 moves to floor_adjudicated") {
    assert(full("floor_adjudicated") == ListMap("floory" ->
      ListMap("stages" -> 10L, "raw" -> 2.4, "adj" -> 0.4)))
  }

  test("six over2x entries render as five plus over2x_n: 6 in the compact line") {
    val compact = gate.compact.toMap
    assert(compact("over2x") == Seq("tiny", "slow1", "slow2", "slow3", "slow4"))
    assert(compact("over2x_n") == 6)
    assert(!compact.contains("ratios"))
    val json = Json.write(ListMap(gate.compact: _*))
    assert(json.contains(""""over2x":["tiny","slow1","slow2","slow3","slow4"],"over2x_n":6"""), json)
    assert(json.contains(""""gap_flagged":{"tiny":1.4},"gap_flagged_n":1"""), json)
    assert(gate.full.map(_._1).take(4) == Seq("duck_total", "ratio_total", "exec_ratio", "ratios"))
  }

  test("no twin timings, no gate") {
    assert(Bench.gate(Seq("a" -> 1.0), Map("a" -> 0.0), Map("a" -> 1.0), Map("a" -> 1L), Map.empty).isEmpty)
  }

  test("duckTimes reads the queries object, not queries_all; a missing file reads empty") {
    val f = Files.createTempFile("duck", ".json")
    Files.writeString(f,
      """{"metric": "duckdb_total", "queries": {"a": 0.5, "b": 2}, "queries_all": {"a": [9.0, 0.5]}}""")
    assert(Bench.duckTimes(f.toString) == Map("a" -> 0.5, "b" -> 2.0))
    Files.delete(f)
    assert(Bench.duckTimes(f.toString).isEmpty)
  }
}
