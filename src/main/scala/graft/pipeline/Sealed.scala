package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one event-time buffering policy under the keyed operators that fold
  * out-of-order input in event-time order: `Transitions.mine`,
  * `Scd2.scd2Stream`, `Joins.asOfJoinStream` and `Retractions`'
  * `retractStream`, `rowDeltaStream` and `joinDeltaStream`. Each keeps a
  * per-key state holding a buffer of pending records next to its own fold
  * state; this object runs `flatMapGroupsWithState` and decides, once for
  * all of them, what happens to the buffer:
  *
  *   - Admission: an input record joins the buffer unless one with the same
  *     `id` is already pending or came earlier in the same call, so an
  *     at-least-once redelivery inside the watermark window collapses. A
  *     redelivery of a record that already sealed never gets here: it lies
  *     at or below the previous batch's watermark, and under
  *     `EventTimeTimeout` Spark drops such rows (`ts <= watermark`) before
  *     the operator. That filter is also why no operator keeps a frontier
  *     of its own to drop late rows.
  *   - Seal: a pending record is final once `tsUs < watermark · 1000`; every
  *     later arrival lies above that watermark, so nothing can sort before
  *     it. Batch mode (`streaming = false`) seals all input in one call.
  *   - Order: sealed records fold in `(tsUs, rank, tie)` order, to the
  *     microsecond; `rank` places one side of a two-sided operator before
  *     the other at equal time, and is 0 for every one-sided operator.
  *   - Wake: while records wait, the key's event-time timeout is armed at
  *     the oldest pending millisecond (at least `watermark + 1`). Spark
  *     fires it once the watermark passes that millisecond, which is exactly
  *     when that record seals, even if the key sees no more data.
  */
private[pipeline] object Sealed {

  /** Position in the total order: (tsUs, rank, tie). */
  type Order = (Long, Int, Long)

  /** One operator on the buffer: `V` its input rows, `E` the buffered
    * record, `S` the per-key state (which holds the buffer), `O` its output.
    */
  abstract class Op[K, V, E, S, O] extends Serializable {
    /** The state of a key seen for the first time. */
    def empty: S
    def buffered(v: V): E
    def pending(s: S): Seq[E]
    /** Redelivery identity: two pending records with one id are one. */
    def id(e: E): Any
    def order(e: E): Order
    /** Fold `ripe` (already ordered) into `s`, the state before this
      * call's admission; the result holds `wait` as its buffer. `wmMs` is
      * the watermark, `Long.MaxValue` in batch mode.
      */
    def fold(k: K, s: S, ripe: Seq[E], wait: Seq[E], wmMs: Long,
        out: mutable.Buffer[O]): S
    /** Whether a state with nothing pending can be removed. */
    def disposable(s: S): Boolean = false
    /** The timeout to arm for a kept key with nothing pending. */
    def idleTimeoutMs(wmMs: Long): Option[Long] = None
  }

  /** `op` over `grouped`, one call per key and batch; batch mode
    * (`streaming = false`) arms no timeouts and seals everything.
    */
  def run[K, V, E, S: Encoder, O: Encoder](grouped: KeyValueGroupedDataset[K, V],
      streaming: Boolean, op: Op[K, V, E, S, O]): Dataset[O] = {
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    grouped.flatMapGroupsWithState[S, O](OutputMode.Append, timeout) {
      (k, it, state) => step(op, streaming, k, it, state)
    }
  }

  private def step[K, V, E, S, O](op: Op[K, V, E, S, O], streaming: Boolean,
      k: K, it: Iterator[V], state: GroupState[S]): Iterator[O] = {
    val s = state.getOption.getOrElse(op.empty)
    val have = op.pending(s).iterator.map(op.id).toSet
    val fresh = it.map(op.buffered).filterNot(e => have(op.id(e))).toSeq.distinctBy(op.id)
    val wmMs = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
    val (ripe, wait) = (op.pending(s) ++ fresh)
      .partition(e => !streaming || op.order(e)._1 < wmMs * 1000L)
    val out = mutable.Buffer[O]()
    val next = op.fold(k, s, ripe.sortBy(op.order), wait, wmMs, out)
    if (wait.isEmpty && op.disposable(next)) state.remove()
    else {
      state.update(next)
      if (streaming) {
        val wake =
          if (wait.isEmpty) op.idleTimeoutMs(wmMs)
          else Some(math.max(wait.iterator.map(e => Math.floorDiv(op.order(e)._1, 1000L)).min,
            wmMs + 1))
        wake.foreach(state.setTimeoutTimestamp)
      }
    }
    out.iterator
  }

  /** Exact microseconds since the epoch: `getTime` already holds the
    * whole milliseconds of the nanos, so only their remainder is added.
    */
  def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000

  def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
