package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}
import scala.collection.mutable.ArrayBuffer
import graft.mimic.MimicSchemas

/** Seeded, deterministic synthetic MIMIC-IV generator.
  *
  * Writes the csv.gz tree of FIXTURES.md (`core/`, `icu/`, `hosp/`, with
  * the exact column order of [[graft.mimic.MimicSchemas]], since the CSV
  * reader binds columns by position) plus an ICD-9 → ICD-10 mapping TSV
  * with duplicate keys. Every FIXTURES.md edge case is planted: minors,
  * in-stay deaths, readmissions inside and outside the gap, overlapping
  * stays, ICD-9 roots with 0 / 1 / many mapping rows, an itemid whose
  * majority UOM is above the 0.95 cutoff and one below it, outliers,
  * null values, exact duplicate events, med intervals crossing
  * `include_time`, events before intime and after outtime, stays with
  * empty modalities, and los with non-zero minutes.
  *
  * The same (shape, seed) always gives the same bytes: one
  * SplittableRandom per subject, gzip headers carry no timestamp. The
  * size-setting draws of each subject's first stay (visit counts, length of
  * stay, items and events per modality, empty modalities) are
  * stratified: every seed deals the same set of value tuples to the
  * subjects in a different order, so input size, and with it run time,
  * barely moves between seeds while the rows themselves all change.
  */
object Gen {

  /** Workload shape: every range is inclusive. */
  final case class Shape(
      subjects: Int,
      staysPerSubject: (Int, Int),
      hospOnlyPerSubject: (Int, Int),
      losHours: (Int, Int),
      gapDays: (Int, Int),
      chartItems: (Int, Int),
      chartEveryHours: (Int, Int),
      medOrders: (Int, Int),
      outEvents: (Int, Int),
      procEvents: (Int, Int),
      diagPerAdm: (Int, Int),
      icd9Frac: Double,
      emptyModalityFrac: Double)

  final case class Patient(id: Long, gender: String, age: Int, year: Int,
      group: String, dod: Option[Long])
  final case class Adm(subj: Long, hadm: Long, admit: Long, disch: Long,
      death: Option[Long], expire: Int, insurance: String, ethnicity: String)
  final case class Stay(subj: Long, hadm: Long, stay: Long, in: Long, out: Long,
      los: String)
  final case class Chart(stay: Long, time: Long, item: Long,
      centi: Option[Long], uom: String)
  final case class Diag(subj: Long, hadm: Long, code: String, version: Int)

  /** In-memory copy of what was written: the oracle's input. */
  final case class Data(patients: Seq[Patient], adms: Seq[Adm], stays: Seq[Stay],
      chart: Seq[Chart], diags: Seq[Diag], mapping: Seq[(String, String)],
      rowsWritten: Long)

  // chart item pool: ids 220000+; two UOM-edge items sit at fixed ids
  val UomHighItem = 220001L // majority UOM share ≈ 0.98 > 0.95: minority dropped
  val UomLowItem = 220002L  // majority share ≈ 0.6 <= 0.95: every row kept
  private val chartPool = 220000L until 220060L
  private val medPool = 221000L until 221020L
  private val procPool = 225000L until 225030L
  private val outPool = 226000L until 226025L

  /** ICD-9 roots: the mapping holds 1 or many rows for some, none for
    * others. First match in file order wins, so "402" maps to I11 even
    * though its second row says I50. */
  val Mapping: Seq[(String, String)] = Seq(
    "428" -> "I50.9", "428" -> "I50.1", // duplicate key, same family
    "402" -> "I11.0", "402" -> "I50.9", // duplicate key, first wins (not I50)
    "491" -> "J44.9",                   // one match
    "496" -> "J44.9", "496" -> "J44.1", // duplicate key
    "410" -> "I21.9",
    "250" -> "E11.9",
    "401" -> "I10")
  private val icd9Codes = Seq("4280", "4281", "4020", "4019", "4910", "4960",
    "4109", "2500", "9999", "7806", "V5861") // 999x / 780x / V58x: no mapping
  private val icd10Codes = Seq("I509", "I5023", "J449", "J441", "I10", "E119",
    "N179", "A419", "I214", "K219")

  private val genders = Array("F", "M")
  private val insurances = Array("Medicare", "Medicaid", "Other")
  private val ethnicities = Array("WHITE", "BLACK/AFRICAN AMERICAN", "HISPANIC/LATINO",
    "ASIAN", "OTHER", "UNKNOWN")
  private val groups = Array("2008 - 2010", "2011 - 2013", "2014 - 2016", "2017 - 2019")

  private val Hour = 3600L
  private val Day = 86400L
  // 2150-01-01T00:00:00Z, a MIMIC-style shifted year
  private val Epoch0 = 5680281600L

  private def between(r: SplittableRandom, lo: Int, hi: Int): Int =
    if (hi <= lo) lo else lo + r.nextInt(hi - lo + 1)
  private def between(r: SplittableRandom, rng: (Int, Int)): Int = between(r, rng._1, rng._2)

  /** Stratified draws for subject `s` of `n`. The seed only rotates
    * which subject gets which rank; each attribute maps the rank
    * through its own fixed, seed-independent permutation, so the tuple
    * of values over all subjects is the same for every seed. */
  private final class Strata(seed: Long, n: Int) {
    private val perms = scala.collection.mutable.Map.empty[Int, Array[Int]]
    private def rank(salt: Int, s: Int): Long = {
      val perm = perms.getOrElseUpdate(salt,
        (0 until n).sortBy(i => mix(salt.toLong, i.toLong)).toArray)
      perm(Math.floorMod(s + mix(seed, 0), n.toLong).toInt).toLong
    }
    def pick(salt: Int, s: Int, rng: (Int, Int)): Int =
      rng._1 + (rank(salt, s) * (rng._2 - rng._1 + 1) / n).toInt
    def frac(salt: Int, s: Int): Double = (rank(salt, s) + 0.5) / n
  }

  private def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Generate the tree under `root` and return the oracle's copy. */
  def write(root: String, shape: Shape, seed: Long): Data = {
    val patients = ArrayBuffer.empty[Patient]
    val adms = ArrayBuffer.empty[Adm]
    val stays = ArrayBuffer.empty[Stay]
    val chart = ArrayBuffer.empty[Chart]
    val diags = ArrayBuffer.empty[Diag]

    val w = new Writers(root)
    val strata = new Strata(seed, shape.subjects)
    try {
      var hadmSeq = 20000000L
      var staySeq = 30000000L
      var orderSeq = 1L
      for (s <- 0 until shape.subjects) {
        val r = new SplittableRandom(mix(seed, s.toLong))
        val subj = 10000000L + s
        // planted minors: subject 0 is always one, then ~4 %
        val age = if (s == 0 || strata.frac(11, s) < 0.04) between(r, 14, 17) else between(r, 18, 91)
        val group = groups(r.nextInt(groups.length))
        val year = 2150 + r.nextInt(30)
        val ins = insurances(r.nextInt(insurances.length))
        val eth = ethnicities(r.nextInt(ethnicities.length))

        // visit timeline: ICU admissions and hospital-only admissions
        val nIcu = strata.pick(1, s, shape.staysPerSubject)
        val nHosp = strata.pick(2, s, shape.hospOnlyPerSubject)
        val kinds = Array.fill(nIcu)(true) ++ Array.fill(nHosp)(false)
        for (i <- kinds.length - 1 to 1 by -1) {
          val j = r.nextInt(i + 1)
          val tmp = kinds(i); kinds(i) = kinds(j); kinds(j) = tmp
        }
        var t = Epoch0 + r.nextInt(3 * 365).toLong * Day + r.nextInt(86400)
        val visits = ArrayBuffer.empty[(Adm, Seq[Stay])]
        kinds.zipWithIndex.foreach { case (icu, k) =>
          val hadm = { hadmSeq += 1; hadmSeq }
          val admit = t
          val subjStays = ArrayBuffer.empty[Stay]
          var disch = admit + between(r, 6, 72) * Hour + r.nextInt(3600)
          if (icu) {
            val in = admit + r.nextInt(12 * 3600)
            val first = !visits.exists(_._2.nonEmpty)
            val losH = if (first) strata.pick(3, s, shape.losHours) else between(r, shape.losHours)
            val losSec = losH.toLong * Hour + 60L * between(r, 1, 59)
            val out = in + losSec
            subjStays += mkStay(subj, hadm, { staySeq += 1; staySeq }, in, out)
            // planted overlap: a second ICU stay of the same admission that
            // starts before the first one ends
            if (s % 97 == 5 && k == 0) {
              val in2 = out - 2 * Hour
              subjStays += mkStay(subj, hadm, { staySeq += 1; staySeq }, in2,
                in2 + between(r, shape.losHours).toLong * Hour + 600)
            }
            disch = subjStays.map(_.out).max + between(r, 1, 48) * Hour
          }
          visits += ((Adm(subj, hadm, admit, disch, None, 0, ins, eth), subjStays.toSeq))
          // next admission: inside or outside a 30 / 120 day gap, plus
          // the exact 30-day boundary for some subjects
          val gap =
            if (s % 53 == 7) 30 * Day
            else between(r, shape.gapDays).toLong * Day + r.nextInt(86400)
          t = disch + gap
        }

        // deaths: ~10 % die inside their last ICU stay (Mortality
        // positives), ~10 % die later, the rest have no dod
        val lastIcu = visits.reverseIterator.flatMap(_._2).toSeq.headOption
        val roll = r.nextInt(10)
        val dod: Option[Long] = lastIcu match {
          case Some(ls) if roll == 0 => Some(ls.in + (ls.out - ls.in) / 2)
          case Some(ls) if roll == 1 => Some(ls.out) // boundary: death at outtime
          case _ if roll == 2 => Some(visits.last._1.disch + between(r, 40, 900) * Day)
          case _ => None
        }
        patients += Patient(subj, genders(r.nextInt(2)), age, year, group, dod)
        val firstStay = visits.flatMap(_._2).headOption.fold(-1L)(_.stay)
        visits.foreach { case (a0, vs) =>
          val a = dod match {
            case Some(d) if d >= a0.admit && d <= a0.disch =>
              a0.copy(death = Some(d), expire = 1)
            case _ => a0
          }
          adms += a
          stays ++= vs
          val nDiag = between(r, shape.diagPerAdm)
          for (_ <- 0 until nDiag) {
            if (r.nextDouble() < shape.icd9Frac)
              diags += Diag(subj, a.hadm, icd9Codes(r.nextInt(icd9Codes.length)), 9)
            else
              diags += Diag(subj, a.hadm, icd10Codes(r.nextInt(icd10Codes.length)), 10)
          }
          vs.foreach { st =>
            val draw: (Int, (Int, Int)) => Int =
              if (st.stay == firstStay) (salt, rng) => strata.pick(salt, s, rng)
              else (_, rng) => between(r, rng)
            val empty =
              if (st.stay == firstStay) strata.frac(9, s) < shape.emptyModalityFrac
              else r.nextDouble() < shape.emptyModalityFrac
            genEvents(r, shape, st, draw, empty, w, chart, { () => orderSeq += 1; orderSeq })
          }
        }
      }
      patients.foreach(w.patient)
      adms.foreach(w.admission)
      stays.foreach(w.stay)
      diags.foreach(w.diag)
      w.mapping(Mapping)
      w.dIcd(icd9Codes.map(c => (c, s"icd9 $c")) ++ icd10Codes.map(c => (c, s"icd10 $c")))
    } finally w.close()
    Data(patients.toSeq, adms.toSeq, stays.toSeq, chart.toSeq, diags.toSeq,
      Mapping, w.rows)
  }

  private def mkStay(subj: Long, hadm: Long, stay: Long, in: Long, out: Long): Stay =
    Stay(subj, hadm, stay, in, out,
      String.format(java.util.Locale.ROOT, "%.4f", Double.box((out - in).toDouble / Day)))

  /** Events of one stay; `draw(salt, range)` picks a per-stay count. */
  private def genEvents(r: SplittableRandom, shape: Shape, st: Stay,
      draw: (Int, (Int, Int)) => Int, empty: Boolean, w: Writers,
      chart: ArrayBuffer[Chart], nextOrder: () => Long): Unit = {
    val losSec = st.out - st.in

    // chart: a few dozen items per stay, each sampled every 1..4 h from
    // a (possibly negative) first offset until just past outtime
    if (!empty) {
      val nItems = draw(4, shape.chartItems)
      val items = scala.collection.mutable.LinkedHashSet.empty[Long]
      // the UOM-edge items ride along on most stays
      if (r.nextInt(3) > 0) items += UomHighItem
      if (r.nextInt(3) > 0) items += UomLowItem
      while (items.size < nItems) items += chartPool(r.nextInt(chartPool.size))
      items.zipWithIndex.foreach { case (item, j) =>
        val every = draw(10 + j, shape.chartEveryHours).toLong * Hour
        val mean = 20 + (item % 37) * 5
        var ts = st.in - r.nextInt(3 * 3600) + r.nextInt(1800)
        val end = st.out + 2 * Hour
        while (ts < end) {
          val v: Option[Long] =
            if (r.nextInt(100) == 0) None                          // null valuenum
            else if (r.nextInt(200) == 0) Some(mean * 100 * 50)    // high outlier
            else if (r.nextInt(300) == 0) Some(-mean * 100)        // low outlier
            else Some(mean * 100 + r.nextInt((mean * 40).toInt) - mean * 20)
          val uom =
            if (item == UomHighItem) (if (r.nextInt(50) == 0) "mL" else "mg")
            else if (item == UomLowItem) (if (r.nextInt(5) < 2) "mL" else "mg")
            else "u" + (item % 4)
          val c = Chart(st.stay, ts, item, v, uom)
          chart += c
          w.chart(c)
          if (r.nextInt(150) == 0) { chart += c; w.chart(c) } // exact duplicate row
          ts += every
        }
      }
    }
    // outputevents / procedureevents: point events in [-2h, los+2h]
    if (!empty) for (_ <- 0 until draw(5, shape.outEvents)) {
      val ts = st.in - 2 * Hour + (r.nextDouble() * (losSec + 4 * Hour)).toLong
      w.out(st, ts, outPool(r.nextInt(outPool.size)))
    }
    if (!empty) for (_ <- 0 until draw(6, shape.procEvents)) {
      val ts = st.in - 2 * Hour + (r.nextDouble() * (losSec + 4 * Hour)).toLong
      w.proc(st, ts, procPool(r.nextInt(procPool.size)))
    }
    // inputevents: intervals from before intime to near outtime, 1..30 h
    // long (many cross include_time = 24 h), some with a null rate
    if (!empty) for (_ <- 0 until draw(7, shape.medOrders)) {
      val start = st.in - 4 * Hour + (r.nextDouble() * (losSec + 4 * Hour)).toLong
      val stop = start + between(r, 1, 30) * Hour + r.nextInt(3600)
      val rate: Option[Long] = if (r.nextInt(20) == 0) None else Some(10 + r.nextInt(500))
      w.med(st, medPool(r.nextInt(medPool.size)), start, stop, rate,
        50 + r.nextInt(5000), nextOrder())
    }
  }

  /** Buffered gzip CSV writers, one per table, headers from MimicSchemas. */
  private final class Writers(root: String) {
    var rows = 0L
    private def open(rel: String, header: Seq[String]): BufferedWriter = {
      val f = new File(s"$root/$rel")
      f.getParentFile.mkdirs()
      val gz = new GZIPOutputStream(new FileOutputStream(f), 1 << 16) {
        `def`.setLevel(Deflater.BEST_SPEED)
      }
      val bw = new BufferedWriter(new OutputStreamWriter(gz, StandardCharsets.UTF_8), 1 << 16)
      bw.write(header.mkString(",")); bw.write('\n')
      bw
    }
    private val pat = open("core/patients.csv.gz", MimicSchemas.patients.fieldNames)
    private val adm = open("core/admissions.csv.gz", MimicSchemas.admissions.fieldNames)
    private val icu = open("icu/icustays.csv.gz", MimicSchemas.icustays.fieldNames)
    private val chr = open("icu/chartevents.csv.gz", MimicSchemas.chartevents.fieldNames)
    private val oev = open("icu/outputevents.csv.gz", MimicSchemas.outputevents.fieldNames)
    private val pev = open("icu/procedureevents.csv.gz", MimicSchemas.procedureevents.fieldNames)
    private val iev = open("icu/inputevents.csv.gz", MimicSchemas.inputevents.fieldNames)
    private val dia = open("hosp/diagnoses_icd.csv.gz", MimicSchemas.diagnosesIcd.fieldNames)
    private val dic = open("hosp/d_icd_diagnoses.csv.gz", MimicSchemas.dIcd.fieldNames)
    private val all = Seq(pat, adm, icu, chr, oev, pev, iev, dia, dic)

    private def line(w: BufferedWriter, fields: String*): Unit = {
      var i = 0
      while (i < fields.length) {
        if (i > 0) w.write(',')
        w.write(fields(i)); i += 1
      }
      w.write('\n')
      rows += 1
    }
    private def opt(o: Option[Long]): String = o.fold("")(_.toString)

    def patient(p: Patient): Unit = line(pat, p.id.toString, p.gender, p.age.toString,
      p.year.toString, p.group, p.dod.fold("")(Ts.fmt))
    def admission(a: Adm): Unit = line(adm, a.subj.toString, a.hadm.toString,
      Ts.fmt(a.admit), Ts.fmt(a.disch), a.death.fold("")(Ts.fmt), a.expire.toString,
      a.insurance, a.ethnicity)
    def stay(s: Stay): Unit = line(icu, s.subj.toString, s.hadm.toString, s.stay.toString,
      Ts.fmt(s.in), Ts.fmt(s.out), s.los)
    def chart(c: Chart): Unit = line(chr, c.stay.toString, Ts.fmt(c.time), c.item.toString,
      c.centi.fold("")(Ts.centi), c.uom)
    def out(s: Stay, t: Long, item: Long): Unit = line(oev, s.subj.toString,
      s.hadm.toString, s.stay.toString, Ts.fmt(t), item.toString)
    def proc(s: Stay, t: Long, item: Long): Unit = line(pev, s.stay.toString,
      Ts.fmt(t), item.toString)
    def med(s: Stay, item: Long, start: Long, stop: Long, rate: Option[Long],
        amount: Long, order: Long): Unit =
      line(iev, s.subj.toString, s.stay.toString, item.toString, Ts.fmt(start),
        Ts.fmt(stop), opt(rate), amount.toString, order.toString)
    def diag(d: Diag): Unit = line(dia, d.subj.toString, d.hadm.toString, d.code,
      d.version.toString)
    def dIcd(rows: Seq[(String, String)]): Unit = rows.foreach { case (c, t) => line(dic, c, t) }

    def mapping(rows: Seq[(String, String)]): Unit = {
      val f = new File(s"$root/icd_mapping.txt")
      val body = (MimicSchemas.icdMapping.fieldNames.mkString("\t") +:
        rows.map { case (icd9, icd10) =>
          Seq("DX", icd9, s"icd9 $icd9 to $icd10", icd9, icd10, "00000").mkString("\t")
        }).mkString("", "\n", "\n")
      java.nio.file.Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    }
    def close(): Unit = all.foreach(_.close())
  }
}

/** UTC timestamp / fixed-point text, formatted by hand: the generator
  * writes millions of them. */
object Ts {
  private val Day = 86400L
  private var cachedDay = Long.MinValue
  private var cachedDate = ""

  def fmt(epochSec: Long): String = {
    val day = Math.floorDiv(epochSec, Day)
    if (day != cachedDay) {
      cachedDate = java.time.LocalDate.ofEpochDay(day).toString
      cachedDay = day
    }
    val s = Math.floorMod(epochSec, Day)
    val h = s / 3600; val m = (s / 60) % 60; val sec = s % 60
    val sb = new java.lang.StringBuilder(19)
    sb.append(cachedDate).append(' ')
    if (h < 10) sb.append('0'); sb.append(h).append(':')
    if (m < 10) sb.append('0'); sb.append(m).append(':')
    if (sec < 10) sb.append('0'); sb.append(sec)
    sb.toString
  }

  /** Hundredths as a decimal string: 1234 → "12.34", -5 → "-0.05". */
  def centi(v: Long): String = {
    val a = math.abs(v)
    val frac = a % 100
    (if (v < 0) "-" else "") + (a / 100) + (if (frac < 10) ".0" else ".") + frac
  }
}
