package graft.mimic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Stage-1 cohort extraction — the Spark-first rewrite of
  * day_intervals_cohort_v1.py (685 LoC of row-loop pandas → declarative
  * DataFrame DAGs; SURVEY E1).
  *
  * Column roles (cohort.py:556-569): ICU uses stay_id/intime/outtime,
  * hospital admissions use hadm_id/admittime/dischtime. All label
  * builders take role names so one implementation serves both paths.
  */
object Cohort {

  /** Column-role bundle, resolved from use_ICU (cohort.py:556-569). */
  final case class Roles(
      group: String, visit: String, admit: String, disch: String,
      admVisit: Option[String])
  val icuRoles: Roles = Roles("subject_id", "stay_id", "intime", "outtime", Some("hadm_id"))
  val hospRoles: Roles = Roles("subject_id", "hadm_id", "admittime", "dischtime", None)

  /** get_visit_pts (cohort.py:25-220): visits ⋈ patients ⋈ admissions with
    * survivor/disease/adult filters. Patients and the disease id-list are
    * small relative to visits → broadcast (SURVEY J2/J4).
    *
    * @param useAdmn     readmission mode: drop visits that ended in death
    *                    (cohort.py:84 ICU / :110 hosp)
    * @param diseaseHids optional hadm_id list for the disease semi-join
    */
  def visitPts(
      src: MimicSource,
      roles: Roles,
      useIcu: Boolean,
      useAdmn: Boolean,
      diseaseHids: Option[DataFrame]): DataFrame = {

    val base =
      if (useIcu) {
        var v = src.icustays
        if (useAdmn) {
          // icustays has no death flag: join patients(dod), keep rows with
          // dod null or dod >= outtime (cohort.py:75-84)
          val dod = src.patients.select(col("subject_id"), col("dod"))
          v = v.join(broadcast(dod), Seq("subject_id"), "inner")
            .filter(col("dod").isNull || col("dod") >= col(roles.disch))
            .drop("dod")
        }
        v
      } else {
        // hosp path: los in DAYS ONLY from the timedelta's day component
        // (cohort.py:98-106 — §2.4: two different 'los' units by path)
        var v = src.admissions
          .withColumn("los", ColFns.tdDays(col(roles.disch), col(roles.admit)))
        if (useAdmn) v = v.filter(col("hospital_expire_flag") === 0)
        v
      }

    // Disease gating differs by path: the ICU branch only applies the
    // disease semi-join inside `if use_admn:` (cohort.py:86-88 — ICU
    // Mortality/LOS ignore disease_label entirely); the hosp branch
    // applies it unconditionally (cohort.py:112-115).
    val scoped = diseaseHids match {
      case Some(h) if !useIcu || useAdmn =>
        base.join(broadcast(h), Seq("hadm_id"), "left_semi")
      case _ => base
    }

    // patients demographics + derived yob / min_valid_year (cohort.py:116-133)
    val pts = src.patients.select(
      col("subject_id"), col("anchor_year"), col("anchor_age"),
      (col("anchor_year") - col("anchor_age")).as("yob"),
      (col("anchor_year") + (lit(2019) - ColFns.yearGroupEnd(col("anchor_year_group"))))
        .as("min_valid_year"),
      col("dod"), col("gender"))

    val keep: Seq[Column] =
      (Seq(roles.group, roles.visit) ++ roles.admVisit.toSeq ++
        Seq(roles.admit, roles.disch, "los")).map(col)

    val joined = scoped.select(keep: _*)
      .join(broadcast(pts), Seq(roles.group), "inner")
      .withColumn("Age", col("anchor_age"))
      .filter(col("Age") >= 18) // adult filter (cohort.py:175-176)

    // admissions demographics (cohort.py:179-186)
    val eth = src.admissions.select(col("hadm_id"), col("insurance"), col("ethnicity"))
    val out = joined.join(eth, Seq("hadm_id"), "inner")

    val finalCols: Seq[Column] =
      (Seq(roles.group, roles.visit) ++ roles.admVisit.toSeq ++
        Seq(roles.admit, roles.disch, "los", "min_valid_year", "dod", "Age",
          "gender", "ethnicity", "insurance")).distinct.map(col)
    val projected = out.select(finalCols: _*)
    // hosp path drops rows without a valid min_valid_year (cohort.py:214)
    if (useIcu) projected else projected.na.drop(Seq("min_valid_year"))
  }

  /** partition_by_mort (cohort.py:326-372): label 1 iff death timestamp in
    * [admit, disch]; rows with null admit/disch are the `invalid` split.
    * Returns (cohort, invalid).
    */
  def mortalityLabel(df: DataFrame, roles: Roles, deathCol: String = "dod")
      : (DataFrame, DataFrame) = {
    val invalid = df.filter(col(roles.admit).isNull || col(roles.disch).isNull)
    val cohort = df.filter(col(roles.admit).isNotNull && col(roles.disch).isNotNull)
      .withColumn("label",
        when(col(deathCol).isNotNull &&
          col(deathCol) >= col(roles.admit) && col(deathCol) <= col(roles.disch), 1)
          .otherwise(0))
    (cohort, invalid)
  }

  /** partition_by_readmit (cohort.py:268-323): visit labeled 1 iff ANY
    * visit of the same subject has disch < admit <= disch + gap days —
    * strict at disch, inclusive at disch + gap, overlapping stays count.
    *
    * One partition-by-subject RANGE-frame window, no join: each visit
    * becomes two rows on a microsecond key (UTC session), its admit
    * instant and its discharge probe, and the frame (probe, probe + gap]
    * counts the admits inside it (the integer key makes "strictly
    * after" exactly 1 µs FOLLOWING). Only probe rows come back, so the
    * output is the input plus `label`. A null subject or disch labels
    * 0; a null admit is never counted as a readmission.
    */
  def readmissionLabel(df: DataFrame, roles: Roles, gapDays: Int): DataFrame = {
    def micros(c: String) = unix_micros(col(c).cast("timestamp"))
    val w = Window.partitionBy(col(roles.group)).orderBy(col("_k"))
      .rangeBetween(1L, gapDays * 86400L * 1000000L)
    // _p = 0: the admit instant; _p = 1: the discharge probe
    df.select(col("*"),
        posexplode(array(micros(roles.admit), micros(roles.disch))).as(Seq("_p", "_k")))
      .withColumn("_n", count(when(col("_p") === 0, lit(1))).over(w))
      .filter(col("_p") === 1)
      .select(df.columns.map(col) :+
        when(col(roles.group).isNotNull && col("_k").isNotNull && col("_n") > 0, 1)
          .otherwise(0).as("label"): _*)
  }

  /** partition_by_los (cohort.py:240-265): label 1 iff los > threshold;
    * rows with null admit/disch/los are invalid. Returns (cohort, invalid).
    */
  def losLabel(df: DataFrame, roles: Roles, losThreshold: Int)
      : (DataFrame, DataFrame) = {
    val invalid = df.filter(
      col(roles.admit).isNull || col(roles.disch).isNull || col("los").isNull)
    val cohort = df.filter(
      col(roles.admit).isNotNull && col(roles.disch).isNotNull && col("los").isNotNull)
      .withColumn("label", when(col("los") > losThreshold, 1).otherwise(0))
    (cohort, invalid)
  }

  /** Scalar cohort summary (cohort.py:667-683 → summary txt, SURVEY A10/S8):
    * one row of (n_visits, n_patients, n_pos, n_neg). */
  def summary(cohort: DataFrame, roles: Roles): DataFrame =
    cohort.agg(
      count(lit(1)).as("n_visits"),
      countDistinct(col(roles.group)).as("n_patients"),
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("n_neg"))

  /** extract_data (cohort.py:444-685): the full stage-1 DAG for one task
    * label. `time` is gap days (Readmission) or the LOS threshold (LOS).
    */
  def extract(
      src: MimicSource,
      useIcu: Boolean,
      label: String,
      time: Int = 30,
      diseaseHids: Option[DataFrame] = None,
      admitDiseaseHids: Option[DataFrame] = None): DataFrame = {
    val roles = if (useIcu) icuRoles else hospRoles
    val useAdmn = label == "Readmission"
    val visits = visitPts(src, roles, useIcu, useAdmn, diseaseHids)
    val labeled = label match {
      case "Mortality" => mortalityLabel(visits, roles)._1
      case "Readmission" => readmissionLabel(visits, roles, time)
      case "Length of Stay" | "LOS" => losLabel(visits, roles, time)._1
      case other => throw new IllegalArgumentException(s"unknown label: $other")
    }
    // optional second disease filter on the labeled cohort (cohort.py:643-653)
    admitDiseaseHids match {
      case Some(h) => labeled.join(broadcast(h), Seq("hadm_id"), "left_semi")
      case None => labeled
    }
  }
}
