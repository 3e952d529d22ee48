package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of (shape, seed). */
class GenSpec extends AnyFunSuite {

  private def tree(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    Gen.write(dir.toString, GenSpec.tiny, seed)
    val files = Files.walk(dir).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
    files.map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
  }

  test("the same seed gives identical bytes in every file") {
    val a = tree(7)
    assert(a.size == 10) // 9 csv.gz tables + the mapping TSV
    assert(a == tree(7))
  }

  test("a different seed gives different bytes") {
    val a = tree(7)
    val b = tree(8)
    assert(a.keySet == b.keySet)
    assert(a("icu/chartevents.csv.gz") != b("icu/chartevents.csv.gz"))
    assert(a("core/patients.csv.gz") != b("core/patients.csv.gz"))
  }

  test("the planted edge cases are present") {
    val d = Gen.write(Files.createTempDirectory("perfbench-gen").toString, GenSpec.tiny, 3)
    assert(d.patients.exists(_.age < 18))
    val staysBySubj = d.stays.groupBy(_.subj)
    assert(staysBySubj.values.exists(_.size >= 3))
    assert(d.stays.exists(s => s.subj == s.subj && d.stays.exists(o =>
      o.subj == s.subj && o.stay != s.stay && o.in < s.out && o.in > s.in)), "overlapping stays")
    assert(d.patients.exists(p => p.dod.exists(t =>
      d.stays.exists(s => s.subj == p.id && t > s.in && t < s.out))), "in-stay death")
    assert(d.chart.exists(_.centi.isEmpty), "null valuenum")
    assert(d.chart.exists(c => d.stays.exists(s => s.stay == c.stay && c.time < s.in)),
      "negative offset")
    assert(d.chart.count(_.item == Gen.UomHighItem) > 0 && d.chart.count(_.item == Gen.UomLowItem) > 0)
    assert(d.diags.exists(g => g.version == 9 && g.code.startsWith("999")), "ICD-9 without mapping")
    assert(d.mapping.groupBy(_._1).values.exists(_.size > 1), "duplicate mapping keys")
    val withChart = d.chart.map(_.stay).toSet
    assert(d.stays.exists(s => !withChart(s.stay)), "stay with no chart events")
  }
}

object GenSpec {
  val tiny: Gen.Shape = Gen.Shape(subjects = 60, staysPerSubject = (1, 4),
    hospOnlyPerSubject = (0, 2), losHours = (20, 120), gapDays = (3, 150),
    chartItems = (3, 6), chartEveryHours = (2, 6), medOrders = (0, 4),
    outEvents = (0, 4), procEvents = (0, 3), diagPerAdm = (2, 8),
    icd9Frac = 0.6, emptyModalityFrac = 0.15)
}
