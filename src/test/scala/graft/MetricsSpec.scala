package graft

import graft.metrics.Metrics
import graft.pipeline.CdcPipeline
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** Listener-based per-batch metrics (≙ reference CDCMonitor, minus the
  * parallelism-unsafe singleton — SURVEY.md §7.5).
  */
class MetricsSpec extends SparkSpec {

  test("listener observes every batch and row of a replay") {
    val tableDir = tmpDir("mtable")
    val streamDir = tmpDir("mstream")
    val cfg = GenConfig(numConvs = 40, avgTurns = 8)
    TranscriptGen.writeTable(spark, cfg, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    val listener = Metrics.attach(spark)
    try {
      CdcPipeline.runAvailable(spark, tableDir, streamDir, tmpDir("mout"), tmpDir("mck"),
        maxFilesPerTrigger = 3)
      // listener events are delivered asynchronously on the bus — poll
      val expected = ChangeStreamReader.batch(spark, streamDir).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.totalRows < expected && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(listener.totalRows == expected, listener.summary())
      assert(listener.events.size() > 1, "multiple micro-batches observed")
      assert(listener.errors == 0)
    } finally spark.streams.removeListener(listener)
  }

  test("latency monitor alerts when events exceed the 10s threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.metrics.LatencyMonitor.clear()
    val now = System.currentTimeMillis()
    def batch(tsMs: Long) =
      Seq(tsMs).toDF("v").select(struct(col("v").as("ts_ms")).as("source"))
    // fresh event (1s old): no alert
    val ok = graft.metrics.LatencyMonitor.check(1L, batch(now - 1000), nowMs = now)
    assert(ok.lateEvents == 0 && graft.metrics.LatencyMonitor.alerts.isEmpty)
    // stale event (30s old): alert recorded with correct latency
    val bad = graft.metrics.LatencyMonitor.check(2L, batch(now - 30000), nowMs = now)
    assert(bad.lateEvents == 1 && bad.maxLatencyMs == 30000)
    assert(graft.metrics.LatencyMonitor.alerts.size() == 1)
    assert(graft.metrics.LatencyMonitor.history.size() == 2)
  }

  test("latency monitor is pager-safe: heuristic alone never suppresses alerts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.metrics.LatencyMonitor.clear()
    val now = System.currentTimeMillis()
    def batch(tsMs: Long) =
      Seq(tsMs).toDF("v").select(struct(col("v").as("ts_ms")).as("source"))
    // a months-"late" batch with NO explicit declaration is ambiguous — it
    // could be a backfill OR a live pipeline catastrophically behind (the
    // worst real incident). The alert MUST stay (pager safety does not
    // depend on remembering a flag); only the per-batch log is rate-limited.
    val replay = graft.metrics.LatencyMonitor.check(1L,
      batch(now - 90L * 24 * 3600 * 1000), nowMs = now)
    assert(replay.lateEvents == 1, "stats still computed for the audit trail")
    assert(graft.metrics.LatencyMonitor.alerts.size() == 1,
      "undeclared deep lag must still alert — heuristic alone never suppresses")
    assert(graft.metrics.LatencyMonitor.history.size() == 1)
    // a genuinely-lagging live batch (30 s) alerts normally
    graft.metrics.LatencyMonitor.check(2L, batch(now - 30000), nowMs = now)
    assert(graft.metrics.LatencyMonitor.alerts.size() == 2,
      "live lag below the ceiling must still alert")
    try {
      // full suppression requires the EXPLICIT declaration…
      sys.props("graft.replayMode") = "true"
      graft.metrics.LatencyMonitor.check(3L, batch(now - 30000), nowMs = now)
      assert(graft.metrics.LatencyMonitor.alerts.size() == 2,
        "replayMode=true must suppress regardless of latency")
      // …and replayMode=false forces the full alert path past the ceiling
      sys.props("graft.replayMode") = "false"
      graft.metrics.LatencyMonitor.check(4L, batch(now - 7L * 3600 * 1000), nowMs = now)
      assert(graft.metrics.LatencyMonitor.alerts.size() == 3,
        "replayMode=false must alert even past the heuristic ceiling")
      // a typo'd flag inside the data plane degrades to the heuristic path
      // (still alerts, logs the parse error once) — it must NOT crash the
      // streaming query from inside foreachBatch
      sys.props("graft.replayMode") = "nope"
      graft.metrics.LatencyMonitor.record(5L, 30000, 30000.0, 1, 1)
      assert(graft.metrics.LatencyMonitor.alerts.size() == 4,
        "malformed flag falls back to the alerting path, never throws in-plane")
      // …while config validation rejects the same typo at STARTUP
      intercept[IllegalArgumentException](
        graft.metrics.LatencyMonitor.parseReplayMode("nope"))
      assert(graft.config.AppConfig().validate().isLeft,
        "config validation must reject a malformed graft.replayMode")
    } finally { sys.props.remove("graft.replayMode"); () }
  }

  test("latency history and alerts keep only the newest entries") {
    import graft.metrics.LatencyMonitor
    LatencyMonitor.clear()
    val n = LatencyMonitor.Retained
    val k = 37
    // every batch is late past the replay ceiling: one history entry and
    // one alert each, the shape of a deep replay in a continuous pipeline
    (1 to n + k).foreach { b =>
      LatencyMonitor.record(b.toLong, 30000, 30000.0, 1, 1,
        pipeline = "bounded", historicalCutoffMs = 1000L)
    }
    try {
      assert(LatencyMonitor.history.size() == n)
      assert(LatencyMonitor.alerts.size() == n)
      val kept = (k + 1 to n + k).map(_.toLong)
      assert(LatencyMonitor.history.toArray.toSeq
        .map(_.asInstanceOf[LatencyMonitor.LatencyStats].batchId) == kept)
      assert(LatencyMonitor.alerts.toArray.toSeq
        .map(_.asInstanceOf[LatencyMonitor.LatencyStats].batchId) == kept)
    } finally LatencyMonitor.clear("bounded")
  }

  test("debug taps are pass-through observers with exact accumulator counts") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"event-$i", "x" * 300))
      .toDF("id", "kind", "payload")
    val acc = spark.sparkContext.longAccumulator("tap-test")
    val tapped = graft.metrics.Taps.tap(df, "test", truncateTo = 50,
      everyN = 100L, counter = Some(acc))
    // pass-through invariant: rows byte-identical, nothing dropped/reordered
    assertSameRows(tapped, df, "tap pass-through")
    assert(acc.value == 500L, "accumulator counts every row exactly")
    // the named recasts (all-events / sink-written / local-simulated) share
    // the invariant
    val acc2 = spark.sparkContext.longAccumulator("tap-all")
    assertSameRows(graft.metrics.Taps.allEvents(df, "local", Some(acc2)), df)
    assertSameRows(graft.metrics.Taps.sinkWritten(df, "conversations", "dev",
      "s3://bucket/path"), df)
    assertSameRows(graft.metrics.Taps.simulated(df, "conversations"), df)
    assert(acc2.value == 500L)
  }
}
