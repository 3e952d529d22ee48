package graft.mimic

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Typed core (SURVEY §1.1): case-class views of the event-log tables for
  * module boundaries where compile-time checks help. The pipeline body
  * stays DataFrame (dynamic itemid vocabularies make full typing
  * counter-productive), but sources expose `Dataset[T]` accessors so
  * callers get typed columns at the seams.
  */
object Model {

  /** Long-format chart observation (one row per stay/item/time). */
  final case class ChartEvent(
      stay_id: Long, charttime: Timestamp, itemid: Long,
      valuenum: Option[Double], valueuom: Option[String])

  /** Medication interval event (inputevents). */
  final case class MedInterval(
      subject_id: Long, stay_id: Long, itemid: Long,
      starttime: Timestamp, endtime: Timestamp,
      rate: Option[Double], amount: Option[Double], orderid: Long)

  /** ICU stay row. */
  final case class IcuStay(
      subject_id: Long, hadm_id: Long, stay_id: Long,
      intime: Timestamp, outtime: Timestamp, los: Option[Double])

  implicit val chartEventEncoder: Encoder[ChartEvent] = Encoders.product[ChartEvent]
  implicit val medIntervalEncoder: Encoder[MedInterval] = Encoders.product[MedInterval]
  implicit val icuStayEncoder: Encoder[IcuStay] = Encoders.product[IcuStay]

  implicit final class TypedSource(private val src: MimicSource) extends AnyVal {
    def chartEventsTyped: Dataset[ChartEvent] = src.chartevents.as[ChartEvent]
    def inputEventsTyped: Dataset[MedInterval] = src.inputevents.as[MedInterval]
    def icustaysTyped: Dataset[IcuStay] = src.icustays.as[IcuStay]
  }
}
