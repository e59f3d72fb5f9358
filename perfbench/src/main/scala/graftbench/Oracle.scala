package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Turn
import graft.source.TranscriptGen
import graft.source.TranscriptGen.GenConfig

/** Expected values derived from the generator alone, never from the
  * pipeline under test.
  */
object Oracle {
  /** (turn_idx, role, text, tool, ts millis) of one current turn. */
  type TurnRow = (Int, String, String, Option[String], Long)

  val TurnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def valid(op: Option[String], history: Option[String]) =
    op.exists(Set("r", "c", "u", "d")) && history.isEmpty

  /** One conversation's state after every event of phase < `phases`
    * (the snapshot is phase −1): last writer wins by lsn, deletes remove.
    */
  def convState(cfg: GenConfig, idx: Long, phases: Int): Set[TurnRow] = {
    val live = mutable.Map[Int, Turn]()
    TranscriptGen.genConv(cfg, idx).filter(_.phase < phases).map(_.event)
      .filter(e => valid(e.op, e.historyRecord))
      .sortBy(_.source.flatMap(_.lsn).getOrElse(0L))
      .foreach { e =>
        if (e.op.contains("d")) e.before.foreach(b => live.remove(b.turn_idx))
        else e.after.foreach(a => live(a.turn_idx) = a)
      }
    live.values.map(t => (t.turn_idx, t.role, t.text, t.tool, t.ts.getTime)).toSet
  }

  def turnRows(rows: Seq[Row]): Set[TurnRow] =
    rows.map(r => (r.getAs[Int]("turn_idx"), r.getAs[String]("role"), r.getAs[String]("text"),
      Option(r.getAs[String]("tool")), r.getAs[java.sql.Timestamp]("ts").getTime)).toSet

  /** Whole-table state after the events of phase < `phases`. */
  def tableState(spark: SparkSession, cfg: GenConfig, phases: Int): DataFrame = {
    import spark.implicits._
    val ev = TranscriptGen.events(spark, cfg).filter(_.phase < phases).map(_.event)
      .filter(e => valid(e.op, e.historyRecord)).toDF()
    val w = Window.partitionBy($"k_conv", $"k_idx").orderBy($"lsn".desc)
    ev.select(coalesce($"after.conv_id", $"before.conv_id").as("k_conv"),
        coalesce($"after.turn_idx", $"before.turn_idx").as("k_idx"),
        $"op", $"after", $"source.lsn".as("lsn"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1 && $"op" =!= "d")
      .select($"after.*")
  }

  /** Expected committed rows per route (data, error, schema) for the
    * events of phase < `phases`.
    */
  def routeCounts(spark: SparkSession, cfg: GenConfig, phases: Int): (Long, Long, Long) = {
    import spark.implicits._
    val r = TranscriptGen.events(spark, cfg).filter(_.phase < phases).map(_.event).toDF()
      .agg(count(lit(1)),
        count(when($"op".isNull, 1)),
        count(when($"op".isNotNull && $"historyRecord".isNotNull, 1)))
      .head()
    val (all, err, schema) = (r.getLong(0), r.getLong(1), r.getLong(2))
    (all - err - schema, err, schema)
  }

  /** Conversations looked up by the readers: fixed popularity ranks (hot,
    * warm, cold under zipf skew), so a lookup's cost does not depend on the
    * seed; their contents do.
    */
  def lookupConvs(numConvs: Int): Seq[Long] =
    Seq(1L, 20L, 300L).map(r => math.min(r, numConvs - 1L)).distinct
}
