package perfbench

import Gen._

/** Expected answers computed from the generator's own rows with plain
  * Scala collections — never through the program under test. Each rule
  * restates the reference semantics the library pins (cohort.py,
  * disease_cohort.py, uom_conversion.py, datagen.py) as cited in
  * FIXTURES.md and SURVEY.md.
  */
object Oracle {

  /** One `Pipeline.cohort` configuration. */
  final case class CohortCfg(name: String, useIcu: Boolean, label: String,
      time: Int = 30, diseaseLabel: Option[String] = None,
      admitDisease: Option[String] = None)

  /** A labelled visit: (visit id, hadm_id, admit, disch, label). */
  final case class Visit(id: Long, subj: Long, hadm: Long, admit: Long, disch: Long,
      label: Int)

  private val Hour = 3600L
  private val Day = 86400L

  /** hadm_ids with a diagnosis whose ICD-10 root contains `code`: ICD-9
    * codes map through the FIRST mapping row of their 3-char root. */
  def diseaseHadms(d: Data, code: String): Set[Long] = {
    val first = d.mapping.reverse.toMap // later rows overwritten by earlier ones
    d.diags.filter { g =>
      val converted = if (g.version == 9) first.get(g.code.take(3)) else Some(g.code)
      converted.exists(_.take(3).contains(code))
    }.map(_.hadm).toSet
  }

  /** The labelled cohort `Pipeline.cohort` writes for `cfg`. */
  def cohort(d: Data, cfg: CohortCfg): Seq[Visit] = {
    val pts = d.patients.map(p => p.id -> p).toMap
    val admById = d.adms.map(a => a.hadm -> a).toMap
    val useAdmn = cfg.label == "Readmission"
    val disease = cfg.diseaseLabel.map(diseaseHadms(d, _))
    // (visit, los used by the LOS label)
    val base: Seq[(Visit, Double)] =
      if (cfg.useIcu)
        d.stays.filter(s => !useAdmn || pts(s.subj).dod.forall(_ >= s.out))
          .map(s => (Visit(s.stay, s.subj, s.hadm, s.in, s.out, 0), s.los.toDouble))
      else
        d.adms.filter(a => !useAdmn || a.expire == 0)
          .map(a => (Visit(a.hadm, a.subj, a.hadm, a.admit, a.disch, 0),
            Math.floorDiv(a.disch - a.admit, Day).toDouble))
    val scoped = disease match {
      case Some(h) if !cfg.useIcu || useAdmn => base.filter(v => h(v._1.hadm))
      case _ => base
    }
    val visits = scoped.filter(v => pts(v._1.subj).age >= 18 && admById.contains(v._1.hadm))
    val labelled = cfg.label match {
      case "Mortality" => visits.map { case (v, _) =>
        val dod = pts(v.subj).dod
        v.copy(label = if (dod.exists(t => t >= v.admit && t <= v.disch)) 1 else 0)
      }
      case "Readmission" =>
        val bySubj = visits.map(_._1).groupBy(_.subj)
        visits.map { case (v, _) =>
          val readmit = bySubj(v.subj).exists(o =>
            o.admit > v.disch && o.admit <= v.disch + cfg.time * Day)
          v.copy(label = if (readmit) 1 else 0)
        }
      case "LOS" => visits.map { case (v, los) =>
        v.copy(label = if (los > cfg.time) 1 else 0)
      }
    }
    cfg.admitDisease.map(diseaseHadms(d, _)) match {
      case Some(h) => labelled.filter(v => h(v.hadm))
      case None => labelled
    }
  }

  /** What `Pipeline.timeSeries` should yield for a cohort: (stays kept,
    * positive stays kept, stays in the per-stay chart fan-out). Chart
    * rows follow preproc_chart (null drop, hour offset, dedup),
    * drop_wrong_uom (cutoff 0.95), the stay window and the 24 h grid;
    * outlier imputation clamps values, so it drops nothing. */
  def timeSeries(d: Data, cohortRows: Seq[Visit], task: String,
      includeTime: Int = 24, predW: Int = 6, uomCutoff: Double = 0.95): (Long, Long, Long) = {
    val minLos = if (task == "Mortality") includeTime + predW else includeTime
    val losH = cohortRows.map(v => v.id -> Math.floorDiv(v.disch - v.admit, Hour)).toMap
    val inTime = cohortRows.map(v => v.id -> v.admit).toMap
    val kept = cohortRows.filter(v => losH(v.id) > 0 && losH(v.id) >= minLos)

    // chart rows of cohort stays, deduplicated on the projected columns
    val rows = d.chart.iterator
      .filter(c => c.centi.isDefined && inTime.contains(c.stay))
      .map(c => (c.stay, c.item, c.centi.get, c.uom,
        Math.floorDiv(c.time - inTime(c.stay), Hour)))
      .toSet
    val byItem = rows.groupBy(_._2)
    val dropUom: Map[Long, String] = byItem.flatMap { case (item, rs) =>
      val counts = rs.toSeq.groupBy(_._4).map { case (u, g) => (u, g.size) }
      val (modeUom, modeCnt) = counts.toSeq.minBy { case (u, c) => (-c, u) }
      if (counts.size > 1 && modeCnt.toDouble / rs.size > uomCutoff) Some(item -> modeUom)
      else None
    }
    val keptIds = kept.map(_.id).toSet
    val perStay = rows.iterator
      .filter(r => dropUom.get(r._2).forall(_ == r._4))
      .filter { r =>
        keptIds(r._1) && {
          val h = r._5; val los = losH(r._1)
          val inStay = h >= 0 && los - h > 0
          val inWindow =
            if (task == "Readmission") h - (los - includeTime) >= 0
            else h < includeTime // frontWindow (<=) then the grid's < bound
          inStay && inWindow
        }
      }
      .map(_._1).toSet
    (kept.size.toLong, kept.count(_.label == 1).toLong, perStay.size.toLong)
  }
}
