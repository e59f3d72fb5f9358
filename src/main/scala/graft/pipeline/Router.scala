package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Envelope validation / routing / enrichment — the Spark-native recast of
  * the reference's core ProcessFunction
  * (reference: transformation/CDCEventProcessor.scala:19-125, which routes
  * each event to main / error / schema side-outputs and enriches the main
  * path).
  *
  * Differences by design (SURVEY.md §4.3): the envelope is parsed ONCE into
  * typed columns at the ingest edge (the reference re-parses the JSON in
  * every downstream operator), routing is a single computed column (one
  * pass, whole-stage-codegen'd), and the quality score is a pure column
  * expression — no UDF, no codegen break.
  */
object Router {

  val RouteData = "data"
  val RouteError = "error"
  val RouteSchema = "schema"

  val PipelineVersion = "1.0.0"

  private val ValidOps = Seq("c", "u", "d", "r")

  /** Envelope validity (reference requires source, op, source.table,
    * source.schema — CDCEventProcessor.scala:53-58).
    */
  def isValid: Column =
    // NULL-safe: op=NULL makes isin() return NULL, which would fall through
    // a when() chain — coalesce pins it to false so malformed events route
    // to the error output, matching the reference's null checks.
    coalesce(
      col("op").isin(ValidOps: _*) &&
        col("source").isNotNull &&
        col("source.table").isNotNull &&
        col("source.schema").isNotNull,
      lit(false)
    )

  /** Schema-change predicate (historyRecord present —
    * CDCEventProcessor.scala:63-68). The reference additionally treats
    * `op=='r' && snapshot=='false'` as a schema change (a quirk of its
    * heuristic — a non-snapshot read event is not a DDL change); that
    * behavior is off by default and available behind `replicateQuirk` for
    * bit-for-bit reference parity (SURVEY.md §7.5).
    */
  def isSchemaChange: Column = isSchemaChange(replicateQuirk = false)

  def isSchemaChange(replicateQuirk: Boolean): Column = {
    val base = col("historyRecord").isNotNull
    if (!replicateQuirk) base
    else base || (col("op") === "r" &&
      coalesce(col("source.snapshot"), lit("")) === "false")
  }

  /** Data-quality score: fraction of the `after` payload fields that are
    * non-null / non-empty (CDCEventProcessor.scala:101-117). Pure columns —
    * stays inside codegen. Deletes (after=null) score on `before`.
    */
  def qualityScore: Column = {
    def side(s: String): Column = {
      val fields = Seq(
        col(s"$s.conv_id").isNotNull && col(s"$s.conv_id") =!= "",
        col(s"$s.turn_idx").isNotNull,
        col(s"$s.role").isNotNull && col(s"$s.role") =!= "",
        col(s"$s.text").isNotNull && col(s"$s.text") =!= "",
        col(s"$s.tool").isNotNull && col(s"$s.tool") =!= "",
        col(s"$s.ts").isNotNull
      )
      fields.map(c => when(c, 1.0).otherwise(0.0)).reduce(_ + _) / fields.size
    }
    when(col("after").isNotNull, side("after"))
      .when(col("before").isNotNull, side("before"))
      .otherwise(0.0)
  }

  /** One-pass routing column. */
  def withRoute(df: DataFrame, replicateQuirk: Boolean = false): DataFrame =
    df.withColumn(
      "route",
      when(!isValid, RouteError)
        .when(isSchemaChange(replicateQuirk), RouteSchema)
        .otherwise(RouteData)
    )

  /** Enrichment of the data route (reference adds processing_timestamp,
    * pipeline_version, data_quality_score — CDCEventProcessor.scala:73-96).
    * A `processing_timestamp` the input already carries is kept (the
    * streaming pipeline stamps it from the offset log, so a replayed batch
    * rewrites the same value); otherwise it is the wall clock of this call.
    * Either way it follows the input's other columns, so both paths commit
    * the same file schema.
    */
  def enrich(df: DataFrame): DataFrame = {
    val ts = if (df.columns.contains("processing_timestamp")) df.col("processing_timestamp")
      else current_timestamp()
    df.select(df.columns.filter(_ != "processing_timestamp").map(df.col) :+
        ts.as("processing_timestamp"): _*)
      .withColumn("pipeline_version", lit(PipelineVersion))
      .withColumn("data_quality_score", qualityScore)
  }

  /** Error-route wrapper (reference handlers/ErrorHandler.scala:12-26).
    * For the raw-JSON ingest edge the original string (`_raw`) is preserved
    * verbatim, like the reference's failed-deserialization handling; typed
    * envelopes are re-serialized.
    */
  def errorRecord(df: DataFrame): DataFrame = {
    val original =
      if (df.columns.contains("_raw")) col("_raw")
      else to_json(struct(df.columns.filter(_ != "route").map(col): _*))
    df.select(
      col("ts_ms").as("event_ts_ms"),
      lit("validation_error").as("error_type"),
      substring(original, 1, 1000).as("original_record"),
      col("source.lsn").as("lsn")
    )
  }

  /** Schema-change wrapper (reference handlers/SchemaChangeHandler.scala:12-26). */
  def schemaChangeRecord(df: DataFrame): DataFrame =
    df.select(
      col("ts_ms").as("event_ts_ms"),
      lit("schema_change").as("change_type"),
      col("historyRecord").as("details"),
      col("source.lsn").as("lsn")
    )
}
