package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Turn
import graft.sink.ExactlyOnceSink
import graft.source.ChangeStreamReader

/** The end-to-end CDC pipeline: change stream → route (data/error/schema) →
  * enrich → exactly-once sink; plus the batch materialization that turns the
  * committed change log into the current table state.
  *
  * Mirrors the reference's live job graph (SURVEY.md §2:
  * source → CDCEventProcessor → side outputs + per-table sinks,
  * reference main.scala:344-495) with the structural fixes of §4.3: one
  * parse, one routing pass, one sink write per batch. Spark has no side
  * outputs, so the route is a partition column of that one write, and
  * each committed route is a partition-pruned read.
  */
object CdcPipeline {

  /** Route + write one micro-batch, exactly once: routing, enrichment and
    * time-bucketing are columns; the route is a partition column (Spark's
    * stand-in for the reference's side outputs). Count first, then write:
    * ONE aggregate computes the commit lineage and the source-latency stats
    * (reference CDCMonitor's 10 s warn), then its exact counts lay out the
    * sink's single shuffle. Both passes read the routed rows computed once
    * (`ExactlyOnceSink.computedOnce`). A replayed batchId is a no-op.
    * `alertMs` is the source-latency alert threshold; 0 records no stats.
    */
  def processBatch(sink: ExactlyOnceSink, batch: DataFrame, batchId: Long,
      tables: Seq[String] = Nil,
      alertMs: Long = graft.metrics.LatencyMonitor.DefaultAlertMs): Unit = {
    if (sink.isCommitted(batchId)) return
    ExactlyOnceSink.computedOnce(tableFiltered(routed(batch), tables)) { keyed =>
      val nowMs = System.currentTimeMillis()
      var t0 = System.nanoTime()
      val lat = lit(nowMs) - col("source.ts_ms")
      val rows = ExactlyOnceSink.lineageRows(keyed, col("source.lsn"),
        coalesce(max(lat), lit(0L)), coalesce(sum(lat), lit(0L)),
        count(when(lat > alertMs, 1)), count(col("source.ts_ms")))
      graft.metrics.StageTimers.addLineage(sink.outDir, System.nanoTime() - t0)
      val lineage = ExactlyOnceSink.lineage(rows)
      t0 = System.nanoTime()
      sink.writeBatch(batchId, keyed, lineage.map(l => l._1 -> l._2).toMap)
      graft.metrics.StageTimers.addWrite(sink.outDir, System.nanoTime() - t0)
      if (alertMs > 0 && rows.nonEmpty) {
        val latN = rows.map(_.getLong(7)).sum
        graft.metrics.LatencyMonitor.record(
          batchId,
          maxLatencyMs = rows.map(_.getLong(4)).max,
          avgLatencyMs = if (latN == 0) 0.0 else rows.map(_.getLong(5)).sum.toDouble / latN,
          lateEvents = rows.map(_.getLong(6)).sum,
          events = rows.map(_.getLong(1)).sum,
          alertMs = alertMs,
          pipeline = sink.outDir)
      }
      t0 = System.nanoTime()
      sink.commit(batchId, lineage)
      graft.metrics.StageTimers.addCommit(sink.outDir, System.nanoTime() - t0)
      graft.metrics.StageTimers.batchDone(sink.outDir)
    }
  }

  /** The single-pass route + enrich + time-bucket projection. The final
    * epoch-0 fallback pins fully-null envelopes (unparseable raw JSON) to a
    * deterministic partition instead of a null bucket.
    */
  def routed(batch: DataFrame): DataFrame =
    Router.enrich(Router.withRoute(batch))
      .withColumn("src_table", coalesce(col("source.table"), lit("unknown")))
      .withColumn("evt_ts",
        coalesce(col("after.ts"), col("before.ts"),
          timestamp_millis(coalesce(col("ts_ms"), lit(0L)))))
      .withColumn("p_date", date_format(col("evt_ts"), "yyyy-MM-dd"))
      .withColumn("p_hour", date_format(col("evt_ts"), "HH"))

  /** Multi-table fan-out (≙ reference TableFilter × N configured tables,
    * reference main.scala:378-392, filters/TableFilter.scala:13-31 — which
    * runs N filtered streams, O(N·events)). Here `source.table` is a sink
    * partition column, so ALL tables route in the same single pass
    * (O(events)) and each table's committed view is a partition-pruned
    * read. With a non-empty allowlist, data-route events of unconfigured
    * tables are dropped (the reference's implicit behavior: no filter
    * consumes them); error/schema routes are kept for all tables.
    */
  def tableFiltered(routedBatch: DataFrame, tables: Seq[String]): DataFrame =
    if (tables.isEmpty) routedBatch
    else routedBatch.where(
      col("route") =!= Router.RouteData || col("src_table").isin(tables: _*))

  /** Start the streaming query over an already-spooled stream directory.
    * `format` selects the ingest edge: "parquet" (typed envelope files) or
    * "json" (raw Debezium JSON lines → from_json at the edge).
    */
  def start(spark: SparkSession, streamDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      format: String = "parquet", tables: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L, compactEvery: Long = 0L,
      rollingFileSizeBytes: Long = 0L,
      alertMs: Long = graft.metrics.LatencyMonitor.DefaultAlertMs): StreamingQuery = {
    val sink = new ExactlyOnceSink(spark, outDir, maxRecordsPerFile, rollingFileSizeBytes)
    val src = format match {
      case "parquet" => ChangeStreamReader.stream(spark, streamDir, maxFilesPerTrigger)
      case "json" => ChangeStreamReader.jsonStream(spark, streamDir, maxFilesPerTrigger)
      case other => throw new IllegalArgumentException(s"unknown ingest format $other")
    }
    // stamped in the streaming plan, where the engine binds it to the
    // batch timestamp in the offset log: a batch replayed after a crash
    // commits the same processing_timestamp as its first attempt
    src.withColumn("processing_timestamp", current_timestamp())
      .writeStream
      .queryName("graft-cdc")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        processBatch(sink, df, id, tables, alertMs)
        // periodic log compaction at the trigger boundary — the one point
        // with no concurrent sink readers in the pipeline itself — keeps
        // manifest/file counts bounded on a continuous deployment
        // (sink.compact scaladoc: Iceberg rewrite+expire cadence)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0 &&
            sink.committedBatchIds.nonEmpty)
          { sink.compact(); () }
      }
      .start()
  }

  /** Trigger selection from config (≙ reference env-specific checkpoint
    * interval, main.scala:251,271,291,315): `continuous` mode runs periodic
    * micro-batches every checkpointIntervalSec (the reference's actual
    * deployment mode); `available` drains currently-available input and
    * stops (bounded replay).
    *
    * Time-based file rolling (≙ reference S3Sink rolloverInterval,
    * S3Sink.scala:116-120,233-239): in the micro-batch model every
    * committed file closes at its trigger boundary, so "no file stays open
    * longer than rollingInterval" maps exactly to capping the trigger
    * period at `rollingIntervalMs` — a 2 s rollingInterval triggers (and
    * rolls) every 2 s even when the env checkpoint interval is 60 s.
    */
  def triggerFor(cfg: graft.config.AppConfig): Trigger =
    if (cfg.mode == "continuous") {
      // rollingInterval <= 0 means "no time-based rolling" — it must NOT
      // collapse into a 1 ms trigger (WAL/manifest churn per millisecond
      // and a compaction grace window of ~zero); sub-second intervals are
      // rejected at config validation
      val roll = if (cfg.rollingIntervalMs > 0) cfg.rollingIntervalMs else Long.MaxValue
      Trigger.ProcessingTime(math.min(cfg.checkpointIntervalSec * 1000L, roll))
    } else Trigger.AvailableNow()

  /** Bounded-restart runner (≙ reference fixed-delay restart strategy:
    * 3×10s local / 3×15s dev / 4×20s staging / 5×30s prod —
    * main.scala:262,282,306,330). A failed Structured Streaming query is
    * restarted from its checkpoint after `delayMs`; the idempotent sink
    * makes the retry exactly-once (a replayed batch is a no-op). Returns
    * the total number of restarts used; rethrows once the budget is
    * exhausted. Fatal errors (OOM, interrupts) propagate immediately, and
    * the failure budget resets whenever the query made progress between
    * failures (`progress`, e.g. committed-batch count) — like Flink's
    * failure-rate strategy, a long-running job isn't killed by k failures
    * spread over its lifetime.
    */
  def runWithRestarts(startQuery: () => StreamingQuery, maxRestarts: Int = 3,
      delayMs: Long = 10000L, progress: () => Long = () => -1L): Int = {
    var attempt = 0
    var total = 0
    var done = false
    var lastProgress = progress()
    while (!done) {
      try {
        startQuery().awaitTermination()
        done = true
      } catch {
        case e: Throwable if scala.util.control.NonFatal.apply(
            if (e.isInstanceOf[org.apache.spark.sql.streaming.StreamingQueryException] && e.getCause != null) e.getCause else e
          ) && attempt < maxRestarts =>
          val p = progress()
          if (p > lastProgress) { attempt = 0; lastProgress = p }
          attempt += 1
          total += 1
          org.apache.log4j.Logger.getLogger(getClass).warn(
            s"[restart] query failed (${e.getClass.getSimpleName}); " +
              s"attempt $attempt/$maxRestarts after ${delayMs}ms")
          Thread.sleep(delayMs)
      }
    }
    total
  }

  /** Run to completion of currently-available input (snapshot + delivered
    * change files) and return. Resumable: same checkpointDir resumes from
    * the last committed offset.
    */
  def runAvailable(spark: SparkSession, tableDir: String, streamDir: String,
      outDir: String, checkpointDir: String, maxFilesPerTrigger: Int = 16): Unit = {
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir)
    val q = start(spark, streamDir, outDir, checkpointDir, maxFilesPerTrigger)
    q.awaitTermination()
  }

  /** Materialize the current table state from the committed change log:
    * last-writer-wins by lsn per (conv_id, turn_idx); deletes drop the row.
    * Order-independent — correctness does not depend on file arrival order.
    *
    * The key of an event is its after-image key, falling back to the
    * before-image's, and the output row's `conv_id`/`turn_idx` ARE those
    * window keys; the payload columns come from the after-image. So an
    * after-image with a null `conv_id` (or `turn_idx`) whose before-image
    * has one comes out under the key it was deduplicated under.
    *
    * Scale: one shuffle on (conv_id, turn_idx) — fine-grained keys, so hot
    * conversations spread across turn_idx and don't skew a single reducer.
    * Because the output keys are the window's partition keys, a caller's
    * filter on them (`materialize(...).where(conv_id === c)`, a
    * one-conversation lookup) is pushed through the window and runs as a
    * scan filter below the shuffle: only that conversation's rows are
    * sorted and shuffled. The output is hash-partitioned on the key, which
    * `diff`'s join reuses.
    */
  def materialize(spark: SparkSession, outDir: String,
      table: Option[String] = None, asOfBatch: Option[Long] = None): Dataset[Turn] = {
    import spark.implicits._
    val sink = new ExactlyOnceSink(spark, outDir)
    val events = sink.readCommitted("events", table, asOfBatch)
      .getOrElse(throw new IllegalStateException(s"no committed batches in $outDir"))
    val keyed = events.select(
      coalesce($"after.conv_id", $"before.conv_id").as("k_conv"),
      coalesce($"after.turn_idx", $"before.turn_idx").as("k_idx"),
      $"op", $"after", $"source.lsn".as("lsn"))
    val w = Window.partitionBy($"k_conv", $"k_idx").orderBy($"lsn".desc)
    keyed
      .withColumn("rn", row_number().over(w))
      // after.isNotNull: a validly-enveloped c/u/r event can still carry a
      // null after-image (the envelope contract doesn't require it) — the
      // Turn encoder would throw on its non-nullable turn_idx, letting one
      // degenerate event poison the whole materialization; treat it as a
      // state no-op instead
      .filter($"rn" === 1 && $"op" =!= "d" && $"after".isNotNull)
      .select($"k_conv".as("conv_id"), $"k_idx".as("turn_idx"),
        $"after.role", $"after.text", $"after.tool", $"after.ts")
      .as[Turn]
  }

  /** Snapshot DIFF between two committed frontiers — the audit primitive
    * "what changed between batch `fromBatch` and `toBatch`": per
    * (conv_id, turn_idx) key, ADDED / REMOVED / CHANGED, with the before/
    * after row digests (full-row md5 decides CHANGED; the text md5 rides
    * along because per-turn text equality is the north-rule invariant
    * auditors actually check). Unchanged keys are dropped — the output is
    * the CHANGE SET, sized by churn, not by state.
    *
    * Scale: each side is the same manifest-filtered LWW read
    * `materialize` does (partition-pruned by table, batch-pruned by the
    * lineage); the two sides meet in ONE full-outer equi-join on the key
    * both already shuffle on. Nothing broadcasts, nothing driver-side.
    * `materialize` outputs its window keys, so the join reuses each side's
    * window partitioning: the plan has two exchanges, one per side.
    */
  def diff(spark: SparkSession, outDir: String, fromBatch: Long, toBatch: Long,
      table: Option[String] = None): DataFrame = {
    require(fromBatch <= toBatch,
      s"diff: fromBatch $fromBatch must be <= toBatch $toBatch")
    def side(b: Long, tag: String) =
      materialize(spark, outDir, table, Some(b)).toDF()
        .select(col("conv_id"), col("turn_idx"),
          md5(to_json(struct(col("role"), col("text"), col("tool"), col("ts"))))
            .as(s"${tag}_md5"),
          md5(col("text").cast("binary")).as(s"${tag}_text_md5"))
    side(fromBatch, "before")
      .join(side(toBatch, "after"), Seq("conv_id", "turn_idx"), "full_outer")
      .withColumn("change",
        when(col("before_md5").isNull, lit("added"))
          .when(col("after_md5").isNull, lit("removed"))
          .when(col("before_md5") =!= col("after_md5"), lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("change") =!= "unchanged")
      .select(col("conv_id"), col("turn_idx"), col("change"),
        col("before_md5"), col("after_md5"),
        col("before_text_md5"), col("after_text_md5"))
  }

  /** Stable-ordered view for writes/audits: clustered by conversation,
    * sorted by (turn_idx, ts) within partitions (SURVEY.md §4.4 ordering).
    */
  def stableOrdered(ds: Dataset[Turn]): Dataset[Turn] = {
    val parts = math.max(ds.sparkSession.sparkContext.defaultParallelism, 1)
    ds.repartition(parts, col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx", "ts")
  }
}
