package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin fluent facade mirroring the reference's user API (O13:
  * `Topology(name).set_spout(path).set_bolt(bolt)...` — reference
  * `util.py:28-38`): a named linear pipeline of DataFrame transforms over
  * a text source. Purely sugar over the DataFrame API — each "bolt" is a
  * DataFrame => DataFrame stage, so Catalyst still fuses and optimizes
  * the whole chain; the reference's per-bolt process hops have no
  * analogue because stages compile into one plan.
  */
final case class Topology(name: String,
                          spoutPath: Option[String] = None,
                          bolts: Vector[DataFrame => DataFrame] = Vector.empty) {

  def spout(path: String): Topology = copy(spoutPath = Some(path))

  def bolt(stage: DataFrame => DataFrame): Topology = copy(bolts = bolts :+ stage)

  private def wire(source: DataFrame): DataFrame =
    bolts.foldLeft(source)((df, stage) => stage(df))

  /** Batch run: read the spout file and fold the bolt chain. */
  def run(spark: SparkSession): DataFrame =
    wire(spark.read.text(spoutPath.getOrElse(
      throw new IllegalStateException(s"topology $name has no spout"))))

  /** Streaming run over a directory spout (micro-batch, exactly-once with
    * a checkpointed sink downstream). */
  def runStream(spark: SparkSession): DataFrame =
    wire(spark.readStream.text(spoutPath.getOrElse(
      throw new IllegalStateException(s"topology $name has no spout"))))
}

object Topology {

  /** The reference master's console prefix (`crane_master.py:29`). */
  val MasterPrefix = "MASTER - [INFO]: "

  /** The reference's final-result dump, `crane_master.py:166-169`:
    * `print(self.prefix, k, ' --- ', v)` renders each key/value of the
    * final dict as `<prefix> k  ---  v` (Python's print inserts a space
    * between arguments, so ` --- ` gains one more on each side).
    * Formats a bounded 2-column final aggregate identically. Driver-side
    * by design — it is the console rendering of an already-reduced final
    * result, the same bounded fetch the reference's print_result does —
    * and capped so a mistakenly-unbounded frame cannot flood the driver.
    * The distributed-file counterpart (the `saveAsTextFiles` shape,
    * single-space ` --- `) is [[graft.sources.TextSink.craneDump]].
    */
  def dumpLines(result: DataFrame, prefix: String = MasterPrefix,
      maxRows: Int = 10000): Seq[String] =
    result.take(maxRows).toSeq.map(r => s"$prefix ${r.get(0)}  ---  ${r.get(1)}")
}
