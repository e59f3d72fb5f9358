package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-batch streaming metrics (≙ reference CDCMonitor / MetricsCollector,
  * reference monitoring/CDCMonitor.scala:15-85 — but derived from Spark's
  * StreamingQueryProgress instead of a mutable singleton, which the
  * reference itself concedes is wrong under parallelism > 1; SURVEY.md §7.5).
  *
  * Attach once per session; progress events arrive on the listener bus
  * (no data-plane cost). `summary()` gives cumulative counts; `events`
  * retains the per-batch history for lineage-vs-progress audits.
  */
final class GraftQueryListener extends StreamingQueryListener {

  final case class BatchMetrics(queryName: String, batchId: Long, numInputRows: Long,
      inputRowsPerSecond: Double, processedRowsPerSecond: Double,
      durationMs: Long, watermark: String)

  val events = new ConcurrentLinkedQueue[BatchMetrics]()

  @volatile var started = 0
  @volatile var terminated = 0
  @volatile var errors = 0

  override def onQueryStarted(e: QueryStartedEvent): Unit = started += 1

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(BatchMetrics(
      Option(p.name).getOrElse(""), p.batchId, p.numInputRows,
      p.inputRowsPerSecond, p.processedRowsPerSecond,
      p.batchDuration, Option(p.eventTime.get("watermark")).getOrElse("")))
    ()
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    terminated += 1
    if (e.exception.isDefined) errors += 1
  }

  def totalRows: Long = {
    var s = 0L
    events.forEach(b => s += b.numInputRows)
    s
  }

  def summary(): String = {
    val n = events.size()
    f"batches=$n rows=$totalRows started=$started terminated=$terminated errors=$errors"
  }
}

object Metrics {
  /** Attach a fresh listener to the session and return it. */
  def attach(spark: SparkSession): GraftQueryListener = {
    val l = new GraftQueryListener
    spark.streams.addListener(l)
    l
  }
}

/** Wall-clock decomposition of the sink path, accumulated per batch by
  * `CdcPipeline.processBatch` (one nanoTime pair per stage — nothing on the
  * row-level hot path). The bench resets it per rep and ships the totals in
  * the artifact, so a slow rep is diagnosable from the JSON alone: Spark's
  * own `durationMs` says WHERE the trigger time went (source read vs
  * addBatch), this says where addBatch went (write vs lineage agg vs
  * manifest commit). (VERDICT r4 #1c.)
  */
object StageTimers {
  import java.util.concurrent.atomic.AtomicLong

  /** One pipeline's counters. Keyed by the sink's `outDir` (the same
    * per-pipeline key LatencyMonitor uses), so two concurrent pipelines in
    * one JVM — which the sink and LatencyMonitor explicitly support — never
    * interleave their stage totals, and a bench rep's reset cannot race
    * another active pipeline's accumulation.
    */
  private final class Timers {
    val writeNs = new AtomicLong()
    val lineageNs = new AtomicLong()
    val commitNs = new AtomicLong()
    val batches = new AtomicLong()
  }

  private val byPipeline =
    new java.util.concurrent.ConcurrentHashMap[String, Timers]()

  private def timers(pipeline: String): Timers =
    byPipeline.computeIfAbsent(pipeline, _ => new Timers)

  def addWrite(pipeline: String, ns: Long): Unit = {
    timers(pipeline).writeNs.addAndGet(ns); ()
  }
  def addLineage(pipeline: String, ns: Long): Unit = {
    timers(pipeline).lineageNs.addAndGet(ns); ()
  }
  def addCommit(pipeline: String, ns: Long): Unit = {
    timers(pipeline).commitNs.addAndGet(ns); ()
  }
  def batchDone(pipeline: String): Unit = {
    timers(pipeline).batches.incrementAndGet(); ()
  }

  /** Drop one pipeline's counters (bench reps use unique outDirs; this
    * bounds the map).
    */
  def reset(pipeline: String): Unit = { byPipeline.remove(pipeline); () }

  /** One pipeline's stage totals in seconds + batch count. */
  def snapshot(pipeline: String): Map[String, Double] = {
    val t = timers(pipeline)
    Map(
      "sink_write" -> t.writeNs.get / 1e9,
      "lineage_agg" -> t.lineageNs.get / 1e9,
      "sink_commit" -> t.commitNs.get / 1e9,
      "batches" -> t.batches.get.toDouble)
  }
}

/** Per-event source-latency monitor (≙ reference
  * monitoring/CDCMonitor.scala:28-30: warn when now − source.ts_ms exceeds
  * 10 s). The reference logs per event from inside the data plane; here the
  * check is part of the one lineage aggregate over each micro-batch (max /
  * avg latency + late-event count), so the hot path stays codegen'd and the
  * alert cost is independent of batch size.
  */
object LatencyMonitor {

  final case class LatencyStats(batchId: Long, maxLatencyMs: Long,
      avgLatencyMs: Double, lateEvents: Long, events: Long,
      pipeline: String = "default")

  /** Reference threshold: 10 s (CDCMonitor.scala:28). */
  val DefaultAlertMs = 10000L

  /** Historical-replay sanity ceiling: the latency alert exists to flag a
    * LIVE stream falling behind; a replay of historical data (backfill,
    * benchmark, savepoint re-run) makes every event vacuously "late" by
    * months, and a warn per micro-batch drowns the very signal the alert is
    * for (BENCH_r03 carried thousands of meaningless 86-billion-ms warns).
    *
    * The heuristic cannot distinguish a backfill from a live pipeline that
    * is genuinely >6 h behind (the worst real incident) — so on its own it
    * only RATE-LIMITS the log (one warn per pipeline); the alert is still
    * recorded, and pager safety never depends on an operator remembering a
    * flag. Full suppression requires the explicit `graft.replayMode=true`
    * declaration (benchmarks/backfills set it; the bench mains do);
    * `graft.replayMode=false` forces the full per-batch warn path even
    * past the ceiling.
    */
  val HistoricalCutoffMs: Long = 6L * 3600 * 1000

  /** Strict parse of a `graft.replayMode` value — config validation calls
    * this at startup so a typo'd pager-safety flag fails BEFORE the job
    * runs, not during the incident it was meant to catch.
    */
  def parseReplayMode(v: String): Boolean = v.trim.toLowerCase match {
    case "true" => true
    case "false" => false
    case other => throw new IllegalArgumentException(
      s"graft.replayMode must be true or false, got '$other'")
  }

  /** The explicit replay declaration, if any. A malformed value inside the
    * data plane (set AFTER config validation) must not crash the streaming
    * query from inside foreachBatch — degrade to "undeclared", loudly once.
    */
  private def explicitReplayMode(): Option[Boolean] =
    sys.props.get("graft.replayMode").flatMap { v =>
      try Some(parseReplayMode(v))
      catch {
        case e: IllegalArgumentException =>
          if (oncePerPipeline.add(s"malformed-replayMode:$v"))
            org.apache.log4j.Logger.getLogger(getClass).error(
              s"${e.getMessage} — ignoring the flag and falling back to the " +
                "latency heuristic (validate config at startup to catch this)")
          None
      }
    }

  private val oncePerPipeline =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Entries `history` and `alerts` each keep: the newest ones, so a
    * continuous pipeline (one `history` entry per batch, and one alert per
    * batch through a deep replay) holds a bounded window, not its lifetime.
    */
  val Retained = 1024

  // JVM-shared queues; every entry is keyed by `pipeline` so concurrent
  // pipelines in one JVM (tests, multi-stream drivers) can audit their own
  // batches — filter on it, and prefer clear(pipeline) over the global one
  val history = new ConcurrentLinkedQueue[LatencyStats]()
  val alerts = new ConcurrentLinkedQueue[LatencyStats]()

  private def retain(q: ConcurrentLinkedQueue[LatencyStats], st: LatencyStats): Unit = {
    q.add(st)
    while (q.size > Retained) q.poll()
  }

  def clear(): Unit = { history.clear(); alerts.clear(); oncePerPipeline.clear() }

  /** Remove one pipeline's entries without erasing a concurrent one's. */
  def clear(pipeline: String): Unit = {
    history.removeIf(_.pipeline == pipeline)
    alerts.removeIf(_.pipeline == pipeline)
    oncePerPipeline.removeIf(_.endsWith(s":$pipeline"))
    ()
  }

  /** Record pre-aggregated batch latency stats (the pipeline folds them
    * into the lineage aggregate — no extra pass) and alert past threshold.
    */
  def record(batchId: Long, maxLatencyMs: Long, avgLatencyMs: Double,
      lateEvents: Long, events: Long, alertMs: Long = DefaultAlertMs,
      pipeline: String = "default",
      historicalCutoffMs: Long = HistoricalCutoffMs): LatencyStats = {
    val st = LatencyStats(batchId, maxLatencyMs, avgLatencyMs, lateEvents, events, pipeline)
    retain(history, st)
    if (st.lateEvents > 0) {
      val log = org.apache.log4j.Logger.getLogger(getClass)
      def alertLoud(): Unit = {
        retain(alerts, st)
        log.warn(
          f"[latency] batch=$batchId ${st.lateEvents} of ${st.events} events over ${alertMs}ms " +
            f"(max=${st.maxLatencyMs}ms avg=${st.avgLatencyMs}%.0fms)")
      }
      explicitReplayMode() match {
        case Some(true) =>
          // declared backfill/benchmark: history only, one info line
          if (oncePerPipeline.add(s"declared-replay:$pipeline"))
            log.info(s"[latency] pipeline=$pipeline declared replay " +
              "(graft.replayMode=true) — live-latency alerts suppressed")
        case Some(false) => alertLoud()
        case None if st.avgLatencyMs > historicalCutoffMs =>
          // AMBIGUOUS: looks like a historical replay, but a live pipeline
          // >6 h behind looks identical and MUST page — keep the alert (the
          // pager signal is `alerts`), rate-limit the log to one warn per
          // pipeline so a months-deep backfill can't drown the logs
          retain(alerts, st)
          if (oncePerPipeline.add(s"ambiguous-replay:$pipeline"))
            log.warn(
              f"[latency] pipeline=$pipeline avg latency ${st.avgLatencyMs}%.0fms exceeds " +
                f"the ${historicalCutoffMs}ms replay ceiling — alerts stay ON (a live " +
                "pipeline this far behind must page); if this is a backfill/benchmark, " +
                "set -Dgraft.replayMode=true. Further per-batch warns for this " +
                "pipeline are rate-limited.")
        case None => alertLoud()
      }
    }
    st
  }

  /** Aggregate batch latency vs `nowMs` and record (standalone form; the
    * CDC pipeline uses `record` fed from its lineage aggregate instead).
    * `batch` must carry `source.ts_ms`.
    */
  def check(batchId: Long, batch: org.apache.spark.sql.DataFrame,
      alertMs: Long = DefaultAlertMs,
      nowMs: Long = System.currentTimeMillis()): LatencyStats = {
    import org.apache.spark.sql.functions._
    val lat = lit(nowMs) - col("source.ts_ms")
    val r = batch.agg(
      coalesce(max(lat), lit(0L)),
      coalesce(avg(lat), lit(0.0)),
      count(when(lat > alertMs, 1)),
      count(lit(1))).first()
    record(batchId, r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), alertMs)
  }
}
