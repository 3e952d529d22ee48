package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one stage body of the stage-materialized pipelines: every stage
  * directory that [[graft.mimic.Pipeline]] and
  * [[graft.curation.CurationPipeline]] write under `root` is written
  * here.
  *
  * A stage is a named frame written to `root/name`. With `resume` set,
  * a stage whose directory already carries a `_SUCCESS` marker builds no
  * plan (its inputs may reference upstream frames that were deliberately
  * never built): it is read back and counted. Otherwise its by-name
  * frame is forced on the caller's thread, so a bad column fails before
  * its wave writes; the write is observed with an [[Observation]] that
  * counts its rows, and the stage is read back with the schema it wrote,
  * unless it passes its own `write` and/or `read`. Each stage gives one
  * `(name, rows)` record.
  *
  * [[wave]] writes independent chains together on one session through
  * [[Fanout]] and appends their records in the order given, whichever
  * write finishes first; a wave of one runs on the caller's thread. A
  * [[Stage.branch]] that is not a stage adds no record.
  */
final class Stage(spark: SparkSession, root: String, resume: Boolean) {

  private val done = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  /** The `(name, rows)` records of every stage written so far, in wave
    * order. */
  def records: Seq[(String, Long)] = done.toSeq

  /** Whether stage `name` is resumed: `resume` is set and its directory
    * carries a `_SUCCESS` marker. */
  def complete(name: String): Boolean =
    resume && Fs.exists(spark, s"$root/$name/_SUCCESS")

  def apply(name: String, df: => DataFrame,
      write: (DataFrame, String) => Unit = Stage.parquet,
      read: (DataFrame, String) => DataFrame = (d, p) => spark.read.schema(d.schema).parquet(p)
  ): Stage.Chain[DataFrame] = {
    val path = s"$root/$name"
    if (complete(name))
      new Stage.Chain(name, () => {
        val back = spark.read.parquet(path)
        (back, Seq(name -> back.count()))
      })
    else {
      val d = df
      new Stage.Chain(name, () => {
        val obs = Observation()
        write(d.observe(obs, count(lit(1)).as("rows")), path)
        (read(d, path), Seq(name -> obs.get("rows").asInstanceOf[Number].longValue))
      })
    }
  }

  /** Writes `chains` (in stage order, already planned) together and
    * returns their values in that order. */
  def wave[T](chains: Seq[Stage.Chain[T]]): Seq[T] = {
    Fanout.all(spark)(chains.map(c => c.name -> (() => c.run()))).foreach(done ++= _)
    chains.map(_.value)
  }

  def one[T](chain: Stage.Chain[T]): T = wave(Seq(chain)).head
}

object Stage {

  val parquet: (DataFrame, String) => Unit = (d, p) => d.write.mode("overwrite").parquet(p)

  /** `read` of a sink stage, which builds no read-back: the chain's value
    * is the frame it wrote. */
  val sink: (DataFrame, String) => DataFrame = (d, _) => d

  /** A branch of a wave that writes no directory and adds no record. */
  def branch[T](name: String)(body: => T): Chain[T] = new Chain(name, () => (body, Nil))

  /** Stages of one dependency chain. Each stage's plan is built when the
    * chain is made (a stage that follows a collect of its chain is
    * planned when the chain reaches it); `run` writes the stages in
    * order and returns their records, and `value`, the chain's last
    * result, is there once `run` has returned. */
  final class Chain[+T] private[Stage] (val name: String, body: () => (T, Seq[(String, Long)])) {
    @volatile private[this] var result: Option[T] = None
    private[Stage] def run(): Seq[(String, Long)] = {
      val (t, rows) = body()
      result = Some(t)
      rows
    }
    def value: T = result.get
    def map[U](f: T => U): Chain[U] = new Chain(name, () => {
      val (t, rows) = body()
      (f(t), rows)
    })
    def flatMap[U](f: T => Chain[U]): Chain[U] = new Chain(name, () => {
      val (t, rows) = body()
      val next = f(t)
      val more = next.run()
      (next.value, rows ++ more)
    })
  }
}
