package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuously-maintained per-group aggregates over a keyed
  * upsert/delete changelog — the dynamic-table / RETRACT-STREAM semantic
  * that sits downstream of every CDC connector (the reference emits
  * +I/-U/+U/-D changelogs precisely so consumers can maintain aggregate
  * views without reprocessing; reference docs "Data Pipeline" use — our
  * LWW materialization is the per-KEY current view, this is the per-GROUP
  * aggregate over it, kept exact as keys move between groups or die).
  *
  * Batch: the current table implied by the changelog (latest change per
  * key, deleted keys absent) aggregated per group. One shuffle on the key
  * — the same sharding the LWW view / SCD2 / CEP stages use, so at 100 TB
  * the window runs co-partitioned — then a hash aggregate with map-side
  * combine on the (small) group domain. No driver work.
  *
  * Streaming: `flatMapGroupsWithState` keyed by the entity key, holding
  * the key's CURRENT (group, value) plus the unripe (above-watermark)
  * arrivals. Each change, once sealed and ordered by (ts, tie) under the
  * `Sealed` policy, emits up to two deltas: a retraction `(old_group, -1, -old_v)`
  * for the row it replaces and an insertion `(new_group, +1, +v)` unless
  * it is a delete. Folding the deltas per group (sum of d_keys / d_sum)
  * reproduces the batch aggregate at every watermark frontier — the
  * telescoping is exact because intermediate versions cancel, so the fold
  * equals the LATEST-row aggregate no matter how many changes a key saw
  * (EventTimeSpec pins fold == batch under out-of-order delivery,
  * same-microsecond ties, redelivery, group moves, and deletes).
  *
  * Design for scale:
  *   - State per key is O(1) (the current row) + the unripe buffer, which
  *     is bounded by watermark delay × per-key change rate — the same
  *     bound as the as-of join / SCD2 buffers.
  *   - Deltas are append-only and replayable into the exactly-once sink;
  *     the per-group fold is a downstream hash aggregate on the tiny
  *     group domain (or a `groupBy` in update mode over the sink).
  *   - Values are exact integers (longs) end to end — retraction algebra
  *     over floats would accumulate cancellation error; over longs the
  *     fold is bit-exact.
  */
object Retractions {

  /** Batch form: aggregate the CURRENT table implied by the changelog —
    * the latest change per key in (`tsCol`, `tieCol`) order, keys whose
    * latest op is a delete absent — into per-group
    * `(grp, n_keys, sum_v)`. Ops: anything other than "D" upserts.
    */
  def currentAggregate(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, opCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    changes
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col(opCol) =!= lit("D"))
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_keys"), sum(col(valueCol)).as("sum_v"))
  }

  /** Batch current TABLE of a changelog: the latest change per key in
    * (`tsCol`, `tieCol`) order, keys whose latest op is a delete absent —
    * the LWW row set every aggregate/join view here summarizes.
    */
  def currentTable(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    changes.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col(opCol) =!= lit("D"))
      .drop("_rn")
  }

  /** Envelope: one keyed change. `op` == "D" deletes the key; anything
    * else upserts (`grp`, `v`) as the key's current row. `tie` breaks
    * equal-timestamp ordering (source lsn / event id) — the same total
    * order every other keyed stage uses.
    */
  final case class ChangeEvent(k: Long, ts: Timestamp, tie: Long, op: String,
      grp: String, v: Long)

  /** One retraction delta. Fold per `grp` (sum d_keys, sum d_sum); groups
    * folding to d_keys == 0 hold no current keys and are absent from the
    * batch aggregate.
    */
  final case class AggDelta(grp: String, d_keys: Long, d_sum: Long)

  /** Compact change kept in the unripe buffer: primitives only — the
    * payload the deltas need, nothing else enters state. `tsMs` is no
    * longer read; it stays so that `MaterializedView` checkpoints, which
    * hold this record, resume.
    */
  final case class Chg(tsUs: Long, tsMs: Long, tie: Long, del: Boolean,
      grp: String, v: Long)

  /** Per-key state: the current row (None = key absent/deleted) + the
    * not-yet-sealed arrivals. `hasCur` disambiguates "no current row"
    * from "never seen" so a delete of a live key retracts exactly once.
    */
  final case class RetractState(hasCur: Boolean, curGrp: String, curV: Long,
      pending: Seq[Chg])

  /** The buffer both per-entity streams share: redeliveries collapse by
    * `tie`. `RetractState`, `RowState` and `Chg` keep their field names and
    * types, so `MaterializedView` checkpoints resume.
    */
  private abstract class Changes[S, O] extends Sealed.Op[Long, ChangeEvent, Chg, S, O] {
    def buffered(e: ChangeEvent) =
      Chg(Sealed.micros(e.ts), e.ts.getTime, e.tie, e.op == "D", e.grp, e.v)
    def id(c: Chg) = c.tie
    def order(c: Chg) = (c.tsUs, 0, c.tie)
  }

  private object Retract extends Changes[RetractState, AggDelta] {
    def empty = RetractState(hasCur = false, "", 0L, Vector.empty)
    def pending(s: RetractState) = s.pending
    def fold(k: Long, s: RetractState, ripe: Seq[Chg], wait: Seq[Chg], wmMs: Long,
        out: mutable.Buffer[AggDelta]) = {
      var hasCur = s.hasCur
      var curGrp = s.curGrp
      var curV = s.curV
      ripe.foreach { c =>
        if (hasCur) out += AggDelta(curGrp, -1L, -curV)
        if (c.del) { hasCur = false; curGrp = ""; curV = 0L }
        else { hasCur = true; curGrp = c.grp; curV = c.v; out += AggDelta(c.grp, 1L, c.v) }
      }
      RetractState(hasCur, curGrp, curV, wait)
    }
  }

  /** Streaming retraction aggregation — emits per-change deltas the
    * moment they seal (`Sealed`; a redelivery collapses by `tie`). In
    * streaming mode `events` must carry an event-time watermark on `ts`
    * (same contract as `Cep.detect`); output is append-mode deltas — fold
    * downstream.
    */
  def retractStream(events: Dataset[ChangeEvent],
      streaming: Boolean = true): Dataset[AggDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    Sealed.run(events.groupByKey(_.k), streaming, Retract)
  }

  /** One sealed per-key ROW delta: the key's current row became
    * (`grp`, `v`) — or died (`del`) — at (`ts_us`, `tie`). Per key,
    * deltas emit in (ts_us, tie) order and the order is monotone ACROSS
    * batches (the watermark only advances), so a downstream row store may
    * replace blindly: the last delta per key per batch IS the newest.
    */
  final case class RowDelta(k: Long, ts_us: Long, tie: Long, del: Boolean,
      grp: String, v: Long)

  final case class RowState(pending: Seq[Chg])

  private object Rows extends Changes[RowState, RowDelta] {
    def empty = RowState(Vector.empty)
    def pending(s: RowState) = s.pending
    def fold(k: Long, s: RowState, ripe: Seq[Chg], wait: Seq[Chg], wmMs: Long,
        out: mutable.Buffer[RowDelta]) = {
      ripe.foreach(c => out += RowDelta(k, c.tsUs, c.tie, c.del, c.grp, c.v))
      RowState(wait)
    }
    // nothing semantic is retained here (the store downstream is the
    // current row): an empty RowState kept forever would grow state by one
    // row per distinct key ever seen
    override def disposable(s: RowState) = true
  }

  /** The SEALED changelog: every change, once final under the watermark,
    * in its key's total (ts, tie) order — what a per-key row store folds
    * (`MaterializedTable`). State is the unripe buffer ONLY (no current
    * row — the store downstream is the current row).
    */
  def rowDeltaStream(events: Dataset[ChangeEvent],
      streaming: Boolean = true): Dataset[RowDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    Sealed.run(events.groupByKey(_.k), streaming, Rows)
  }

  // ------------------- incremental JOIN maintenance -------------------

  /** A change on one side of a maintained two-changelog join. `j` is the
    * JOIN attribute (the shuffle key); `k` the side's entity key; the
    * rest the usual changelog envelope.
    */
  final case class SideEvent(side: Boolean, j: String, k: Long, ts: Timestamp,
      tie: Long, op: String, v: Long)

  /** One join-pair delta: the pair (a_k, b_k) with values (va, vb)
    * entered (`d` = +1) or left (`d` = −1) the join result. Fold per
    * (j, a_k, b_k, va, vb) — values INCLUDED, an update retracts the old
    * value's pair and inserts the new one — summing `d`: surviving rows
    * fold to exactly 1 and are the current inner join.
    */
  final case class JoinDelta(j: String, a_k: Long, b_k: Long, d: Long,
      va: Long, vb: Long)

  /** One buffered side change; like `Chg`, its `tsMs` is no longer read
    * and stays so that the state format does not change.
    */
  final case class SideChg(side: Boolean, k: Long, tsUs: Long, tsMs: Long,
      tie: Long, del: Boolean, v: Long)

  /** Per-join-key state: both sides' current rows + the unripe buffer.
    * Current maps are bounded by rows PER JOIN KEY per side (the same
    * bound any streaming join carries — a hot join key concentrates
    * state; pre-aggregate or salt upstream if a key's side exceeds
    * memory). The buffer drains every trigger.
    */
  final case class JoinState(aCur: Map[Long, Long], bCur: Map[Long, Long],
      pending: Seq[SideChg])

  private object JoinFold extends Sealed.Op[String, SideEvent, SideChg, JoinState, JoinDelta] {
    def empty = JoinState(Map.empty, Map.empty, Vector.empty)
    def buffered(e: SideEvent) =
      SideChg(e.side, e.k, Sealed.micros(e.ts), e.ts.getTime, e.tie, e.op == "D", e.v)
    def pending(s: JoinState) = s.pending
    def id(c: SideChg) = (c.side, c.tie)
    // one total order per join key ACROSS sides: an A-change and a B-change
    // interleave exactly as their event times dictate
    def order(c: SideChg) = (c.tsUs, 0, c.tie)
    def fold(j: String, s: JoinState, ripe: Seq[SideChg], wait: Seq[SideChg],
        wmMs: Long, out: mutable.Buffer[JoinDelta]) = {
      var aCur = s.aCur
      var bCur = s.bCur
      ripe.foreach { c =>
        if (c.side) {
          aCur.get(c.k).foreach(old =>
            bCur.foreach { case (bk, vb) => out += JoinDelta(j, c.k, bk, -1L, old, vb) })
          if (c.del) aCur -= c.k
          else {
            bCur.foreach { case (bk, vb) => out += JoinDelta(j, c.k, bk, 1L, c.v, vb) }
            aCur += (c.k -> c.v)
          }
        } else {
          bCur.get(c.k).foreach(old =>
            aCur.foreach { case (ak, va) => out += JoinDelta(j, ak, c.k, -1L, va, old) })
          if (c.del) bCur -= c.k
          else {
            aCur.foreach { case (ak, va) => out += JoinDelta(j, ak, c.k, 1L, va, c.v) }
            bCur += (c.k -> c.v)
          }
        }
      }
      JoinState(aCur, bCur, wait)
    }
  }

  /** Incremental inner-join maintenance over TWO changelogs — the
    * dynamic-table join (Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB, with retractions): as
    * either side's keys upsert, move, or die, join-pair deltas emit so a
    * downstream fold always equals the inner join of the two CURRENT
    * tables (`foldJoinDeltas`; the spec pins fold == batch LWW-join under
    * out-of-order cross-side interleaving). Both changelogs must carry
    * the same watermark clock in streaming mode; each event's `grp` is
    * the join attribute and shuffles BOTH sides to the same state
    * partition — one shuffle each, no broadcast, no rescan.
    *
    * CONTRACT: the join attribute is IMMUTABLE per (side, entity) — state
    * is keyed by `j`, so a changelog that MOVES an entity between join
    * keys must first be rewritten as a delete under the old key + an
    * upsert under the new one (the per-entity sealed changelog
    * `rowDeltaStream` emits is the right upstream to derive that rewrite
    * from, since per-entity state is the only place the old key is
    * known). Feeding a moving-key changelog directly leaves the old key's
    * pairs unretracted.
    */
  def joinDeltaStream(a: Dataset[ChangeEvent], b: Dataset[ChangeEvent],
      streaming: Boolean = true): Dataset[JoinDelta] = {
    val spark = a.sparkSession
    import spark.implicits._
    // COLUMN ops, not a typed map: a map mints fresh attributes and strips
    // the event-time watermark tag, breaking EventTimeTimeout (the
    // Transitions lesson); select keeps `ts` watermarked
    def tag(s: Dataset[ChangeEvent], isA: Boolean) = s.toDF()
      .select(lit(isA).as("side"), col("grp").as("j"), col("k"), col("ts"),
        col("tie"), col("op"), col("v"))
    val tagged = tag(a, isA = true).unionByName(tag(b, isA = false)).as[SideEvent]
    Sealed.run(tagged.groupByKey(_.j), streaming, JoinFold)
  }

  /** Rewrite a MOVING-KEY changelog into `joinDeltaStream`'s
    * immutable-key contract: whenever an entity's join attribute changes
    * (or the entity dies), emit a DELETE under the attribute it held
    * before, then the upsert under the new one. Ties rescale ×2 so the
    * synthetic delete (2·tie) sorts just before its trigger (2·tie+1)
    * and the global (ts, tie) order is otherwise preserved. Deletes in
    * the input are retargeted at the entity's CURRENT attribute (a raw
    * changelog's D row often carries none); no-op deletes drop.
    *
    * This is the batch form (one window per entity — the same key
    * shuffle the LWW view uses). In a real CDC deployment the rewrite is
    * STATELESS: Debezium-style envelopes carry the before-image, so
    * old-attribute deletes derive per event without state — this adapter
    * exists for changelogs that lack before-images.
    */
  def rekeyMoves(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, opCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dead = "\u0000DEAD" // escape, not a raw NUL: keeps grep/diff text-mode (r7)
    // the entity's attribute BEFORE this change: the last preceding
    // upsert's grp, unless a delete intervened (the DEAD sentinel)
    val prevRaw = last(
      when(col(opCol) === lit("D"), lit(dead)).otherwise(col(groupCol)),
      ignoreNulls = true).over(w)
    val prev = when(prevRaw === lit(dead), lit(null)).otherwise(prevRaw)
    val delRow = when(
      col(opCol) === lit("D") && prev.isNotNull,
      struct((col(tieCol) * 2 + 1).as("tie2"), lit("D").as("op2"),
        prev.as("grp2"), lit(0L).as("v2")))
      .when(col(opCol) =!= lit("D") && prev.isNotNull && prev =!= col(groupCol),
        struct((col(tieCol) * 2).as("tie2"), lit("D").as("op2"),
          prev.as("grp2"), lit(0L).as("v2")))
    val insRow = when(col(opCol) =!= lit("D"),
      struct((col(tieCol) * 2 + 1).as("tie2"), lit("U").as("op2"),
        col(groupCol).as("grp2"), col(valueCol).cast("long").as("v2")))
    changes
      .withColumn("_rows", filter(array(delRow, insRow), r => r.isNotNull))
      .select(col(keyCol), col(tsCol), explode(col("_rows")).as("_r"))
      .select(col(keyCol), col(tsCol), col("_r.tie2").as(tieCol),
        col("_r.op2").as(opCol), col("_r.grp2").as(groupCol),
        col("_r.v2").as(valueCol))
  }

  /** Fold a join-delta set: the current inner-join rows they imply. */
  def foldJoinDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("j"), col("a_k"), col("b_k"), col("va"), col("vb"))
      .agg(sum(col("d")).as("_n"))
      .where(col("_n") > 0)
      .drop("_n")

  /** Build the `ChangeEvent` envelope from a DataFrame changelog. `ts` is
    * selected UNCAST (a cast mints a fresh attribute and strips event-time
    * watermark metadata, breaking EventTimeTimeout).
    */
  def changeEvents(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, opCol: String, groupCol: String,
      valueCol: String): Dataset[ChangeEvent] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.select(col(keyCol).cast("long").as("k"), col(tsCol).as("ts"),
      col(tieCol).cast("long").as("tie"), col(opCol).as("op"),
      col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .as[ChangeEvent]
  }

  /** Fold a delta set per group — the aggregate table the deltas imply.
    * Groups whose key count folds to zero are dropped (they hold no
    * current keys; the batch aggregate has no row for them).
    */
  def foldDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("grp"))
      .agg(sum(col("d_keys")).as("n_keys"), sum(col("d_sum")).as("sum_v"))
      .where(col("n_keys") > 0)
}
