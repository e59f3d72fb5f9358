package graft.model

import java.sql.Timestamp

/** Core data model for the transcript CDC engine.
  *
  * The row payload is the transcript turn (BASELINE.json `input_hint`):
  * (conv_id, turn_idx, role, text, tool, ts). The change-event envelope is
  * Debezium-shaped, mirroring the envelope the reference consumes by name
  * (reference: transformation/CDCEventProcessor.scala:53-58 and the typed
  * model at model/CdcEvent.scala:10-48) — but typed as Catalyst structs
  * instead of schemaless JSON, so the whole pipeline stays in Tungsten rows
  * and whole-stage codegen (SURVEY.md §1.4).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** Debezium-style source block (reference: model/CdcEvent.scala:10-23).
  * `lsn` is the per-event log sequence number — strictly monotone per key —
  * used for order-independent last-writer-wins apply and offset lineage.
  */
final case class SourceInfo(
    db: String,
    schema: String,
    table: String,
    ts_ms: Long,
    snapshot: Option[String],
    lsn: Option[Long]
)

/** Debezium-shaped change event. op: c|u|d|r (reference README.md:268-273).
  * `op=None` models a malformed envelope (error route);
  * `historyRecord!=None` models a schema-change event
  * (reference: CDCEventProcessor.scala:63-68).
  */
final case class ChangeEvent(
    op: Option[String],
    ts_ms: Long,
    before: Option[Turn],
    after: Option[Turn],
    source: Option[SourceInfo],
    historyRecord: Option[String]
)

/** A detected CEP pattern match (role-sequence / tool-call / session). */
final case class PatternMatch(
    conv_id: String,
    pattern: String,
    start_turn: Int,
    end_turn: Int,
    start_ts: Timestamp,
    end_ts: Timestamp,
    detail: String
)
