package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming twin of the batch event-transition miner (q63): per-user
  * event-type bigrams with exact integer dwell gaps, emitted incrementally
  * from an out-of-order event stream via `flatMapGroupsWithState` keyed by
  * user_id (north-rule: per-key state machines over event time; the
  * reference has no keyed state at all — SURVEY.md §2.4 "Streaming").
  *
  * Ordering contract matches the batch query exactly: per user, events are
  * totally ordered by (ts, event_id); a transition (from → to) is the pair
  * of adjacent events in that order, with gap_us the exact microsecond
  * difference. Unlike the CEP machine there is no dense index to act as a
  * frontier, so ripeness is purely watermark-driven: events seal, order and
  * collapse redeliveries (by `event_id`) under the `Sealed` policy.
  *
  * Design for scale:
  *   - State per key is the unripe buffer + ONE carry event (the last ripe
  *     event, waiting for its successor). Text/props never enter state —
  *     only (event_id, event_type, ts) — so state is tens of bytes per
  *     buffered event, bounded by the watermark delay × per-user event rate.
  *   - One shuffle on user_id, co-partitioned with sessionization/CEP.
  *   - Emits raw transition records (append mode); the tiny
  *     (from_type × to_type) count/sum aggregate composes downstream in the
  *     same job or over the sink — keeping THIS operator append-only means
  *     the output is replayable into the exactly-once sink.
  */
object Transitions {

  /** Compact per-event record kept in / passed through state. `ts` stays a
    * Timestamp so the event-time watermark column survives the projection
    * into the typed Dataset (EventTimeTimeout requires it); micros are
    * preserved through the encoder via the nanos field.
    */
  final case class EvLite(user_id: Long, event_id: Long, event_type: String,
      ts: Timestamp) {
    def tsUs: Long = Sealed.micros(ts)
  }

  final case class EventTransition(user_id: Long, from_type: String,
      to_type: String, gap_us: Long)

  final case class TransState(carry: Option[EvLite], pending: Seq[EvLite])

  private object Mine extends Sealed.Op[Long, EvLite, EvLite, TransState, EventTransition] {
    def empty = TransState(None, Vector.empty)
    def buffered(e: EvLite) = e
    def pending(s: TransState) = s.pending
    def id(e: EvLite) = e.event_id
    def order(e: EvLite) = (e.tsUs, 0, e.event_id)
    def fold(k: Long, s: TransState, ripe: Seq[EvLite], wait: Seq[EvLite],
        wmMs: Long, out: mutable.Buffer[EventTransition]) = {
      var carry = s.carry
      ripe.foreach { e =>
        carry.foreach { c =>
          out += EventTransition(e.user_id, c.event_type, e.event_type, e.tsUs - c.tsUs)
        }
        carry = Some(e)
      }
      TransState(carry, wait)
    }
  }

  /** Mine per-user event-type transitions. `events` needs columns
    * (user_id, event_id, event_type, ts). In streaming mode an event-time
    * watermark on `ts` must already be set by the caller (same contract as
    * `Cep.detect`); output is append-mode raw transitions — aggregate
    * downstream.
    */
  def mine(events: DataFrame, streaming: Boolean): Dataset[EventTransition] = {
    val spark = events.sparkSession
    import spark.implicits._
    // ts is selected UNCAST: a cast mints a fresh attribute and strips the
    // event-time watermark metadata, breaking EventTimeTimeout
    val lite = events.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("event_type"), col("ts")).as[EvLite]
    Sealed.run(lite.groupByKey(_.user_id), streaming, Mine)
  }
}
