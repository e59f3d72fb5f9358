package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 (slowly-changing-dimension, type 2) materialization of a keyed
  * change stream: every upsert opens a new version of its key and closes
  * the previous one, yielding the full history table
  * `(key, payload, valid_from, valid_to, is_current)` that warehouse
  * pipelines build downstream of a CDC connector (the reference feeds
  * exactly this pattern: flink-cdc's changelog → history/audit tables —
  * reference README "Data Pipeline" use; our LWW materialization in
  * `CdcPipeline` is the CURRENT-view half, this is its HISTORY twin).
  *
  * Batch: one window per key — a single shuffle on the key, `lead` within
  * the partition; the same sharding every other keyed stage uses, so at
  * 100 TB the history build co-partitions with the LWW view and the CEP
  * state machines. No driver-side work at all.
  *
  * Streaming: `flatMapGroupsWithState` holding ONE open version per key
  * plus the unripe (above-watermark) arrivals — a closed version is
  * emitted only when the event that closes it seals (`Sealed`), so
  * out-of-order arrival inside the delay cannot retract an emitted row
  * and the closed-version set equals the batch operator's
  * `valid_to IS NOT NULL` rows on the same sealed input (EventTimeSpec
  * pins this). The open version is retained in state (it IS the key's
  * current row — retention is semantic, not a leak); unbounded key
  * universes should compose the same idle-TTL policy as
  * `Joins.asOfJoinStream` upstream if current rows may be forgotten.
  */
object Scd2 {

  /** Batch SCD2: append `valid_from`/`valid_to`/`is_current` to a keyed
    * changelog ordered by (`tsCol`, `tieCol`) within each key. Equal-ts
    * ties order on `tieCol` (source lsn / event id), producing the same
    * zero-duration intermediate versions in every engine.
    */
  def materialize(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** The key's current row per batch SCD2 — equals the LWW view. */
  def currentView(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame =
    materialize(changes, keyCol, tsCol, tieCol).where(col("is_current"))

  // ------------------------- streaming SCD2 -------------------------

  /** Envelope: one keyed change with the row as an opaque payload
    * (`to_json` of the source columns, same convention as `AsOfEvent`).
    */
  final case class Scd2Event(k: String, ts: Timestamp, tie: Long, payload: String)

  /** A CLOSED version: the payload that was current from `valid_from`
    * (tie `from_tie`) until the next change at `valid_to` (tie `to_tie`).
    */
  final case class Scd2Version(k: String, valid_from: Timestamp, from_tie: Long,
      payload: String, valid_to: Timestamp, to_tie: Long)

  /** A buffered change, its time in microseconds. Checkpoints written when
    * this record held milliseconds (`tsMs`) do not resume; only tests drive
    * this operator.
    */
  final case class Rec(tsUs: Long, tie: Long, payload: String)

  /** Per-key state: the open (current) version + not-yet-sealed arrivals.
    * Open is O(1) forever; pending is bounded by watermark delay × per-key
    * change rate — the same bound as the as-of join's unripe buffer.
    */
  final case class Scd2State(open: Option[Rec], pending: Seq[Rec])

  private object Versions extends Sealed.Op[String, Scd2Event, Rec, Scd2State, Scd2Version] {
    def empty = Scd2State(None, Vector.empty)
    def buffered(e: Scd2Event) = Rec(Sealed.micros(e.ts), e.tie, e.payload)
    def pending(s: Scd2State) = s.pending
    def id(r: Rec) = r
    def order(r: Rec) = (r.tsUs, 0, r.tie)
    def fold(k: String, s: Scd2State, ripe: Seq[Rec], wait: Seq[Rec], wmMs: Long,
        out: mutable.Buffer[Scd2Version]) = {
      var open = s.open
      ripe.foreach { r =>
        open.foreach { o =>
          out += Scd2Version(k, Sealed.timestamp(o.tsUs), o.tie, o.payload,
            Sealed.timestamp(r.tsUs), r.tie)
        }
        open = Some(r)
      }
      Scd2State(open, wait)
    }
  }

  /** Streaming SCD2 — emits each version the moment the watermark seals
    * the change that CLOSES it (the `Sealed` policy; a redelivered change
    * collapses on the whole record). `events` must carry a watermark on
    * `ts` in streaming mode; batch mode (`streaming=false`) seals everything
    * (the final open version per key is never emitted in either mode —
    * it is the state, read it via `currentView` on the materialized log).
    */
  def scd2Stream(events: Dataset[Scd2Event],
      streaming: Boolean = true): Dataset[Scd2Version] = {
    val spark = events.sparkSession
    import spark.implicits._
    Sealed.run(events.groupByKey(_.k), streaming, Versions)
  }

  /** Build the `Scd2Event` envelope from a DataFrame changelog. */
  def scd2Events(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): Dataset[Scd2Event] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
      col(tieCol).cast("long").as("tie"),
      to_json(struct(changes.columns.map(col): _*)).as("payload")).as[Scd2Event]
  }
}
