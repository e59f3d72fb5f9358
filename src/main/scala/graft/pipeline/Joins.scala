package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-stream stateful joins over the turn stream (north-rule: assistant
  * tool-calls ⋈ tool responses; the reference has no joins at all —
  * SURVEY.md §2.4 "Joins").
  *
  * Spark executes this as a watermarked symmetric hash join: both sides
  * shuffle on the equi-keys (conv_id, tool); the time-range predicate bounds
  * buffered state, and the watermark evicts rows older than
  * (watermark − horizon). The same expression runs in batch for the oracle.
  *
  * Scale: state per key is bounded by the horizon × per-conversation turn
  * rate. Hot conversations spread over the composite key (conv_id, tool).
  * AQE skew-join handles residual imbalance in the batch/backfill path.
  */
object Joins {

  /** Join each assistant tool-call with its tool response(s) in
    * (call.ts, call.ts + horizon]. `watermark` is required for streaming
    * (state eviction); None gives the identical batch semantics. In
    * streaming the join keeps one RocksDB state store per shuffle partition
    * (join state format v3, set in `GraftSession`), both sides' buffers in
    * virtual column families of that one store.
    */
  def toolCallResponse(turns: DataFrame, horizon: String = "10 minutes",
      watermark: Option[String] = None): DataFrame =
    toolCallJoin(turns, horizon, watermark, "inner")

  /** LEFT-OUTER variant of `toolCallResponse`: every tool call, matched
    * responses as in the inner join, UNMATCHED calls emitted with null
    * response columns — the "tool call timed out" operational report. In
    * streaming this is Spark's watermarked outer stream-stream join: an
    * unmatched call is held in state until the watermark passes
    * `call_ts + horizon` (both sides MUST be watermarked — enforced here —
    * or state would grow forever and nulls could never be emitted), then
    * released with nulls; batch mode computes the identical relation. One
    * (conv_id, tool)-keyed shuffle per side, state bounded by the horizon.
    */
  def toolCallResponseOuter(turns: DataFrame, horizon: String = "10 minutes",
      watermark: Option[String] = None): DataFrame = {
    require(turns.isStreaming == false || watermark.isDefined,
      "outer stream-stream join requires a watermark on both sides " +
        "(state cannot be released without one)")
    toolCallJoin(turns, horizon, watermark, "left_outer")
  }

  private def toolCallJoin(turns: DataFrame, horizon: String,
      watermark: Option[String], joinType: String): DataFrame = {
    def wm(df: DataFrame): DataFrame = watermark.fold(df)(w => df.withWatermark("ts", w))
    val calls = wm(turns.where(col("role") === "assistant" && col("tool").isNotNull))
      .select(col("conv_id"), col("turn_idx").as("call_idx"),
        col("tool"), col("ts").as("call_ts"))
    val resps = wm(turns.where(col("role") === "tool" && col("tool").isNotNull))
      .select(col("conv_id").as("r_conv_id"), col("turn_idx").as("resp_idx"),
        col("tool").as("r_tool"), col("ts").as("resp_ts"))
    calls.join(
      resps,
      col("conv_id") === col("r_conv_id") && col("tool") === col("r_tool") &&
        col("resp_ts") > col("call_ts") &&
        col("resp_ts") <= col("call_ts") + expr(s"interval $horizon"),
      joinType
    ).select(col("conv_id"), col("tool"), col("call_idx"), col("resp_idx"),
      col("call_ts"), col("resp_ts"),
      (unix_millis(col("resp_ts")) - unix_millis(col("call_ts"))).as("latency_ms"))
  }

  /** As-of join: every `left` row gets the LATEST `right` row (same key)
    * with `right.ts <= left.ts` (`strict=true` → `<`), or null when no such
    * row exists. The operator the reference family expresses as a temporal/
    * lookup join and Spark has no builtin for.
    *
    * NOT a range join: both sides union into one stream tagged by side,
    * shuffle ONCE on the key, sort within each key by (ts, side, tie), and
    * a running `last(_, ignoreNulls)` carries the most recent right payload
    * forward — O(n log n) per key with O(1) running state, the same shape a
    * 1000-executor sort-merge pass executes. A naive
    * `left ⋈ right ON ts ≤ ts` + argmax would be a quadratic range join on
    * hot keys. Hot-key skew: the per-key sort is the data-imposed floor for
    * as-of semantics; pre-bucket by (key, time-range) when one key exceeds
    * a partition.
    *
    * `tieCol` breaks equal-timestamp ties deterministically on BOTH sides
    * (result is engine-reproducible — the DuckDB oracle mirrors it).
    * Output: every left column plus `matchedAlias`: struct of the matched
    * right row's columns (null struct when unmatched).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, tieCol: String, matchedAlias: String = "asof",
      strict: Boolean = false): DataFrame = {
    // left sorts at side=1; right sorts before left (side=0) so an
    // equal-ts right row is visible, or after (side=2) under strict <
    val lSide = left.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
      col(tieCol).as("_tie"), lit(1).as("_side"),
      struct(left.columns.map(col): _*).as("_l"),
      lit(null).cast(right.schema).as("_r"))
    val rSide = right.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
      col(tieCol).as("_tie"), lit(if (strict) 2 else 0).as("_side"),
      lit(null).cast(left.schema).as("_l"),
      struct(right.columns.map(col): _*).as("_r"))
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_ts").asc, col("_side").asc, col("_tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn(matchedAlias, last(col("_r"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(col("_l.*") +: Seq(col(matchedAlias)): _*)
  }

  // ------------------------- streaming as-of -------------------------

  /** Envelope for the streaming as-of join: both sides in ONE keyed stream,
    * tagged by side; the row itself rides along as an opaque payload
    * (`to_json` of the side's columns — see `asOfEvents`).
    */
  final case class AsOfEvent(k: String, ts: Timestamp, tie: Long,
      isLeft: Boolean, payload: String)

  final case class AsOfJoined(k: String, ts: Timestamp, tie: Long,
      payload: String, matched_ts: Option[Timestamp], matched_tie: Option[Long],
      matched_payload: Option[String])

  /** A buffered event of either side, its time in microseconds. Checkpoints
    * written when this record held milliseconds (`tsMs`) and each side had
    * its own buffer do not resume; only tests drive this operator.
    */
  final case class AsOfRec(tsUs: Long, tie: Long, isLeft: Boolean, payload: String)

  /** Per-key state: the latest sealed right row (O(1) forever), the
    * not-yet-sealed arrivals of both sides (bounded by the watermark delay
    * × per-key event rate), and the watermark at the key's last call — its
    * activity clock for the idle TTL.
    */
  final case class AsOfState(lastRight: Option[AsOfRec], pending: Seq[AsOfRec],
      frontierMs: Long)

  private final class AsOf(strict: Boolean, idleTtlMs: Option[Long])
      extends Sealed.Op[String, AsOfEvent, AsOfRec, AsOfState, AsOfJoined] {
    def empty = AsOfState(None, Vector.empty, Long.MinValue)
    def buffered(e: AsOfEvent) = AsOfRec(Sealed.micros(e.ts), e.tie, e.isLeft, e.payload)
    def pending(s: AsOfState) = s.pending
    def id(r: AsOfRec) = r
    // the batch asOfJoin window's order: at equal time a right row sorts
    // before the left (visible to it), or after it under strict <
    def order(r: AsOfRec) = (r.tsUs, if (r.isLeft) 1 else if (strict) 2 else 0, r.tie)
    def fold(k: String, s: AsOfState, ripe: Seq[AsOfRec], wait: Seq[AsOfRec],
        wmMs: Long, out: mutable.Buffer[AsOfJoined]) = {
      // idle expiry: a key idle for the TTL forgets its right row. The idle
      // timeout covers a key that sees no data; a key whose next arrival
      // lands in the batch the TTL elapses is never timed out (timeouts
      // fire only for keys without data), so the clock is checked here
      val idle = idleTtlMs.exists(ttl => s.pending.isEmpty &&
        s.frontierMs > Long.MinValue && wmMs - s.frontierMs >= ttl)
      var last = if (idle) None else s.lastRight
      ripe.foreach { r =>
        if (!r.isLeft) last = Some(r)
        else out += AsOfJoined(k, Sealed.timestamp(r.tsUs), r.tie, r.payload,
          last.map(m => Sealed.timestamp(m.tsUs)), last.map(_.tie), last.map(_.payload))
      }
      AsOfState(last, wait, math.max(s.frontierMs, wmMs))
    }
    // a key with no right row and nothing pending holds nothing: removing
    // it is how an expired key costs zero state
    override def disposable(s: AsOfState) = s.lastRight.isEmpty
    override def idleTimeoutMs(wmMs: Long) = idleTtlMs.map(math.max(wmMs, 0L) + _)
  }

  /** Streaming as-of join — the event-time-correct twin of `asOfJoin`,
    * Flink's "temporal join" recast on `flatMapGroupsWithState`. Each left
    * event is matched against the latest right event at-or-before its
    * timestamp (`strict=true` → strictly before) and EMITTED ONLY once it
    * seals (`Sealed`: both sides share one buffer, a redelivery collapses on
    * the whole record), so out-of-order arrival within the watermark delay
    * cannot change a result that was already emitted: streaming output ==
    * batch `asOfJoin` on the same sealed input (EventTimeSpec pins this).
    *
    * Scale: per-key state is ONE retained right row plus the unripe buffer
    * (watermark-delay-bounded); parallelism is #keys, the same sharding as
    * every other keyed stage. `events` must carry a watermark on `ts` in
    * streaming mode; batch mode (`streaming=false`) seals everything.
    *
    * Retention contract: without `idleTtlMs`, a key's `lastRight` is held
    * FOREVER once its buffers drain — state grows with total distinct keys
    * over the stream's lifetime (fine for bounded key universes like
    * conversation ids within a retention window; wrong for unbounded ones).
    * With `idleTtlMs = Some(ttl)`, a key idle for `ttl` of EVENT time (no
    * arrivals while the watermark advances past lastActivity + ttl) is
    * dropped entirely — a later left event for it gets a null match, the
    * same answer a fresh key gets. That is the standard state-TTL tradeoff
    * (Flink temporal-join state retention): bound memory by forgetting
    * history older than the TTL; expired keys cost ZERO state. Expiry
    * cannot break at-least-once redelivery safety: the engine filters
    * input older than the previous batch's watermark before it reaches
    * this operator, and every already-emitted event is at-or-below the
    * watermark that sealed it — a post-expiry replay is dropped upstream
    * of the (forgotten) state, never re-emitted (test-pinned by the
    * redelivery probe in the TTL suite).
    */
  def asOfJoinStream(events: Dataset[AsOfEvent], streaming: Boolean = true,
      strict: Boolean = false, idleTtlMs: Option[Long] = None): Dataset[AsOfJoined] = {
    // ttl <= 0 would arm the idle timeout (wm + ttl) at-or-below the
    // current watermark — a runtime query failure — and make the data-path
    // check expire keys instantly; reject it at plan time, loudly
    require(idleTtlMs.forall(_ > 0),
      s"idleTtlMs must be positive event-time millis, got $idleTtlMs")
    val spark = events.sparkSession
    import spark.implicits._
    Sealed.run(events.groupByKey(_.k), streaming, new AsOf(strict, idleTtlMs))
  }

  /** Stream-static dedup: drop streaming records whose content already
    * exists in a STATIC reference corpus — the streaming half of
    * `Dedup.incrementalDedupIds`' exact stage (known-content suppression
    * at ingest: previously ingested docs, banned texts, already-crawled
    * pages). The static side reduces to DISTINCT md5 content hashes
    * (16-byte rows) and is re-joined per micro-batch by Spark's
    * stream-static machinery — the operator keeps NO stream state, so
    * nothing grows with the stream; at 100 TB the hash side is a parquet
    * table Spark broadcast- or shuffled-hash-joins per batch, and the
    * content hash computes scan-side so the stream's text never enters
    * the anti-join exchange. Runs identically in batch mode (the
    * streaming==batch test exploits this).
    */
  def streamStaticDedup(stream: DataFrame, corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    val hashes = corpus.select(md5(col(textCol)).as("_h")).distinct()
    stream.withColumn("_h", md5(col(textCol)))
      .join(hashes, Seq("_h"), "left_anti").drop("_h")
  }

  /** Build the `AsOfEvent` envelope from two DataFrames: key/ts/tie columns
    * plus the full row as a JSON payload (read back with `from_json`).
    */
  def asOfEvents(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, tieCol: String): Dataset[AsOfEvent] = {
    val spark = left.sparkSession
    import spark.implicits._
    def side(df: DataFrame, isLeft: Boolean): DataFrame =
      df.select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        col(tieCol).cast("long").as("tie"), lit(isLeft).as("isLeft"),
        to_json(struct(df.columns.map(col): _*)).as("payload"))
    side(left, isLeft = true).unionByName(side(right, isLeft = false)).as[AsOfEvent]
  }
}
