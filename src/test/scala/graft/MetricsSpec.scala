package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.PlanMetricsListener

import graft.pipeline.CdcPipeline
import graft.sink.ExactlyOnceSink
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** Per-batch metrics from the durable record (≙ reference CDCMonitor,
  * minus the parallelism-unsafe singleton — SURVEY.md §7.5): each committed
  * batch's manifest lines carry its source latency. Per-query metrics come
  * from the executed plan through `PlanMetricsListener`.
  */
class MetricsSpec extends SparkSpec {

  private val latencyFields = Seq("maxLatencyMs", "latencySumMs", "latencyN", "lateEvents")

  test("manifests count every batch and row of a replay, with latency") {
    val tableDir = tmpDir("mtable")
    val streamDir = tmpDir("mstream")
    val outDir = tmpDir("mout")
    val cfg = GenConfig(numConvs = 40, avgTurns = 8)
    TranscriptGen.writeTable(spark, cfg, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, tmpDir("mck"),
      maxFilesPerTrigger = 3)
    val sink = new ExactlyOnceSink(spark, outDir)
    assert(sink.committedBatchIds.size > 1, "multiple micro-batches committed")
    val m = sink.readManifest().get.cache()
    val expected = ChangeStreamReader.batch(spark, streamDir).count()
    assert(m.agg(sum("rowCount")).first().getLong(0) == expected)
    latencyFields.foreach(f => assert(m.where(col(f).isNull).isEmpty, s"every line carries $f"))
    // the generator's events are historical: every one is late
    assert(m.agg(sum("latencyN"), sum("lateEvents")).first().toSeq == Seq(expected, expected))
  }

  test("latency monitor alerts when events exceed the 10s threshold") {
    import spark.implicits._
    import graft.model.{ChangeEvent, SourceInfo, Turn}
    // latency is measured against the batch's processing_timestamp, not
    // the wall clock: a fixed stamp gives exact numbers
    val now = 1700000000000L
    def ev(lsn: Long, ageMs: Long) = ChangeEvent(Some("c"), now - ageMs, None,
      Some(Turn("c1", lsn.toInt, "user", s"t$lsn", None, new java.sql.Timestamp(now))),
      Some(SourceInfo("transcripts", "public", "conversations", now - ageMs, None, Some(lsn))),
      None)
    val batch = Seq(ev(1L, 1000L), ev(2L, 30000L)).toDF()
      .withColumn("processing_timestamp", lit(new java.sql.Timestamp(now)))
    val outDir = tmpDir("latency")
    CdcPipeline.processBatch(new ExactlyOnceSink(spark, outDir), batch, 0L)
    val m = new ExactlyOnceSink(spark, outDir).readManifest().get
    assert(m.count() == 1, "both events in one data partition")
    assert(m.select(("rowCount" +: latencyFields).map(col): _*).first().toSeq ==
      Seq(2L, 30000L, 31000L, 2L, 1L))
  }

  test("plan-metrics listener: one line per write, listing the final plan's exchange") {
    import scala.jdk.CollectionConverters._
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new PlanMetricsListener(lines.add(_))
    spark.listenerManager.register(listener)
    try {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 10).as("k")).count()
        .write.format("noop").mode("overwrite").save()
      // the listener bus delivers in order: once the collect's line is in,
      // every line of the write is too
      spark.range(1).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!lines.asScala.exists(_.startsWith("""{"planMetrics":"collect"""")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val writes = lines.asScala.toSeq.map(parse(_))
      .filter(l => (l \ "planMetrics") == JString("overwrite"))
    assert(writes.size == 1, lines.asScala.mkString("\n"))
    val ops = (writes.head \ "operators").children
    val names = ops.map(o => (o \ "name").values)
    assert(!names.contains("AdaptiveSparkPlan"), names)
    val exchange = ops.find(o => (o \ "name") == JString("Exchange"))
      .getOrElse(fail(s"no Exchange among $names"))
    Seq("shuffleRecordsWritten", "shuffleBytesWritten").foreach { m =>
      exchange \ "metrics" \ m match {
        case JInt(v) => assert(v > 0, s"$m = $v")
        case other => fail(s"$m: $other")
      }
    }
  }
}
