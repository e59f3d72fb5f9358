package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.pipeline.{CdcPipeline, Router}
import graft.sink.ExactlyOnceSink
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** Connector-style integration tests recast from the reference's manual
  * CRUD verification (reference README.md:132-163,236-273) and the
  * flink-cdc connector guarantees (snapshot-then-incremental,
  * resume-after-failure, ordering) — SURVEY.md §5.2.
  */
class CdcPipelineSpec extends SparkSpec {

  private val cfg = GenConfig(
    numConvs = 150, avgTurns = 10, seed = 42L, changeFiles = 3,
    changeEventsPerTurn = 0.5, malformedFrac = 0.03, schemaChangeFrac = 0.03)

  /** Exact row count per sink partition key — the lineage counts a sink
    * writer computes before its write. */
  private def countsOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy(ExactlyOnceSink.partKey).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The committed batch against its own files: every manifest rowCount
    * equals the rows read back from that partition directory, and the
    * batch wrote at most one file per slot plus one per key. */
  private def assertWriteMatchesLineage(outDir: String, batchId: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"$outDir/events/batch=$batchId"
    val manifest = new ExactlyOnceSink(spark, outDir).readManifest().get
      .where(col("batchId") === batchId).collect()
      .map(r => r.getAs[String]("partition") -> r.getAs[Long]("rowCount")).toMap
    val files = spark.read.option("basePath", dir).parquet(dir)
      .groupBy(ExactlyOnceSink.partKey).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(files == manifest, "manifest rowCount == rows in each partition directory")
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    val parts = 2 * spark.sparkContext.defaultParallelism
    assert(n <= parts + manifest.size, s"$n files for ${manifest.size} keys over $parts slots")
  }

  test("snapshot-then-incremental replay matches the batch oracle exactly") {
    val tableDir = tmpDir("table")
    val streamDir = tmpDir("stream")
    val outDir = tmpDir("out")
    val ckDir = tmpDir("ck")
    TranscriptGen.writeTable(spark, cfg, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir) // all phases
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)

    val got = CdcPipeline.materialize(spark, outDir).toDF()
    val want = TranscriptGen.finalState(spark, cfg).toDF()
    assertSameRows(got, want, "materialized state")
    assert(got.count() > 0)

    // exactly-once at the event level: committed lsn multiset == input lsn multiset
    val sink = new ExactlyOnceSink(spark, outDir)
    val committedLsns = sink.readCommitted("events").get
      .select(col("source.lsn")).collect().map(_.getLong(0)).sorted
    val inputLsns = ChangeStreamReader.batch(spark, streamDir)
      .where(Router.isValid && !Router.isSchemaChange)
      .select(col("source.lsn")).collect().map(_.getLong(0)).sorted
    assert(committedLsns.toSeq == inputLsns.toSeq, "no event loss or duplication")

    // error / schema-change routes carry exactly the malformed / DDL events
    val nErr = sink.readCommitted("errors").map(_.count()).getOrElse(0L)
    val nSch = sink.readCommitted("schema_changes").map(_.count()).getOrElse(0L)
    val all = ChangeStreamReader.batch(spark, streamDir)
    assert(nErr == all.where(!Router.isValid).count())
    assert(nSch == all.where(Router.isValid && Router.isSchemaChange).count())
  }

  test("raw Debezium-JSON feed replays to the same state; garbage lines hit the DLQ") {
    import spark.implicits._
    val streamDir = tmpDir("jstream")
    val outDir = tmpDir("jout")
    val ckDir = tmpDir("jck")
    val small = cfg.copy(numConvs = 60)
    // spool the snapshot + each change phase as JSONL segments (the raw
    // string feed the reference consumes), plus one unparseable line
    val ev = TranscriptGen.events(spark, small).cache()
    ChangeStreamReader.writeJsonlSegment(
      ev.filter(_.phase == -1).map(_.event).toDF(), streamDir, "00000-snapshot")
    (0 until small.changeFiles).foreach { p =>
      ChangeStreamReader.writeJsonlSegment(
        ev.filter(_.phase == p).map(_.event).toDF(), streamDir, f"10000-chg-$p%04d")
    }
    // two garbage lines (one unparseable, one invalid op) plus a
    // valid-envelope event with NO after-image: it routes to data (the
    // envelope contract doesn't require a payload) and materialize must
    // treat it as a state no-op, not crash the Turn encoder
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$streamDir/20000-garbage.jsonl"), true)
    out.write(("this is not json {\n{\"op\":\"zz\",\"ts_ms\":1}\n" +
      """{"op":"c","ts_ms":1,"source":{"db":"transcripts","schema":"public","table":"conversations","ts_ms":1,"lsn":999999999}}""" +
      "\n").getBytes("UTF-8")); out.close()

    val q = CdcPipeline.start(spark, streamDir, outDir, ckDir,
      maxFilesPerTrigger = 2, format = "json")
    q.awaitTermination()

    assertSameRows(
      CdcPipeline.materialize(spark, outDir).toDF(),
      TranscriptGen.finalState(spark, small).toDF(),
      "json-fed materialized state")

    val sink = new ExactlyOnceSink(spark, outDir)
    val errs = sink.readCommitted("errors").get
    val expectedMalformed = ev.map(_.event).toDF().where(!Router.isValid).count()
    assert(errs.count() == expectedMalformed + 2, "malformed envelopes + 2 garbage lines")
    // the DLQ wrapper preserves the raw line verbatim for unparseable input
    val dlq = Router.errorRecord(errs.drop("route"))
    assert(dlq.where(col("original_record") === "this is not json {").count() == 1)
    ev.unpersist()
  }

  test("resume-after-failure: stop, deliver more, restart — output identical") {
    val tableDir = tmpDir("table2")
    val streamDir = tmpDir("stream2")
    val outDir = tmpDir("out2")
    val ckDir = tmpDir("ck2")
    TranscriptGen.writeTable(spark, cfg, tableDir)

    // run 1: snapshot only
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)
    val snapCount = CdcPipeline.materialize(spark, outDir).count()
    assert(snapCount == TranscriptGen.snapshot(spark, cfg).count())

    // run 2: first two change segments arrive, resume from the same checkpoint
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir, p => p <= 1)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)
    val midBatch = new ExactlyOnceSink(spark, outDir).committedBatchIds.max
    val midState = CdcPipeline.materialize(spark, outDir).toDF().collect().toSeq

    // run 3: final segment
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)

    // snapshot time travel: materializing as-of the mid-run commit frontier
    // reproduces the exact state that existed then, byte-for-byte, from the
    // final sink (pure manifest filtering over the lineage)
    val travel = CdcPipeline.materialize(spark, outDir, asOfBatch = Some(midBatch))
      .toDF().collect().toSeq
    assert(travel.map(_.toString).sorted == midState.map(_.toString).sorted,
      "as-of materialization == historical state")

    assertSameRows(
      CdcPipeline.materialize(spark, outDir).toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "resumed state")

    // exactly-once across resumes: no event duplicated (snapshot rows all
    // carry lsn=0, so uniqueness is on (key, lsn))
    val sink = new ExactlyOnceSink(spark, outDir)
    val ev = sink.readCommitted("events").get
    val uniq = ev.select(
      coalesce(col("after.conv_id"), col("before.conv_id")),
      coalesce(col("after.turn_idx"), col("before.turn_idx")),
      col("source.lsn")).distinct().count()
    assert(ev.count() == uniq)
  }

  test("snapshot diff: change set between two frontiers == brute-force state compare") {
    val tableDir = tmpDir("tabled")
    val streamDir = tmpDir("streamd")
    val outDir = tmpDir("outd")
    val ckDir = tmpDir("ckd")
    TranscriptGen.writeTable(spark, cfg, tableDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)
    val b0 = new ExactlyOnceSink(spark, outDir).committedBatchIds.max
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)
    val b1 = new ExactlyOnceSink(spark, outDir).committedBatchIds.max
    assert(b1 > b0, "the change delivery must add committed batches")

    // independent model: both states keyed in Scala, classified per key
    def state(b: Long): Map[(String, Int), String] =
      CdcPipeline.materialize(spark, outDir, asOfBatch = Some(b)).toDF()
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toString).toMap
    val sa = state(b0)
    val sb = state(b1)
    val wantByKey = ((sa.keySet ++ sb.keySet).flatMap { k =>
      (sa.get(k), sb.get(k)) match {
        case (None, Some(_)) => Some(k -> "added")
        case (Some(_), None) => Some(k -> "removed")
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case _ => None
      }
    }).toMap
    val got = CdcPipeline.diff(spark, outDir, b0, b1).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got == wantByKey,
      s"diff: got ${got.size} changes, want ${wantByKey.size}; " +
        s"extra=${(got.toSet -- wantByKey.toSet).take(3)} " +
        s"missing=${(wantByKey.toSet -- got.toSet).take(3)}")
    assert(wantByKey.nonEmpty, "the fixture's change segments must actually change state")
    // self-diff is empty; removed rows carry no after digest and vice versa
    assert(CdcPipeline.diff(spark, outDir, b1, b1).count() == 0L)
    val shape = CdcPipeline.diff(spark, outDir, b0, b1)
      .select(col("change"), col("before_md5").isNull, col("after_md5").isNull)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    assert(shape.forall {
      case ("added", bNull, aNull) => bNull && !aNull
      case ("removed", bNull, aNull) => !bNull && aNull
      case ("changed", bNull, aNull) => !bNull && !aNull
      case _ => false
    }, "digest nullity must match the change kind")
  }

  test("log compaction: content-preserving epoch rewrite; resume and time travel intact") {
    val tableDir = tmpDir("tablec")
    val streamDir = tmpDir("streamc")
    val outDir = tmpDir("outc")
    val ckDir = tmpDir("ckc")
    TranscriptGen.writeTable(spark, cfg, tableDir)

    // two runs → several committed batches
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir, p => p <= 1)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)

    val sink = new ExactlyOnceSink(spark, outDir)
    val beforeBatches = sink.committedBatchIds
    assert(beforeBatches.size >= 2)
    def snap(): Seq[String] =
      sink.readCommitted("events").get.collect().map(_.toString).sorted.toSeq
    val contentBefore = snap()
    val stateBefore = CdcPipeline.materialize(spark, outDir).toDF().collect()
      .map(_.toString).sorted.toSeq

    val tablesBefore = sink.tables()
    val epoch = sink.compact()
    assert(epoch == beforeBatches.max)
    assert(sink.committedBatchIds.isEmpty, "all per-batch manifests retired")
    assert(sink.tables() == tablesBefore && tablesBefore.nonEmpty, "tables from the epoch manifest")
    assert(snap() == contentBefore, "compaction must preserve committed content")
    assert(CdcPipeline.materialize(spark, outDir).toDF().collect()
      .map(_.toString).sorted.toSeq == stateBefore)
    // time travel at/above the floor works; below it is refused
    assert(CdcPipeline.materialize(spark, outDir, asOfBatch = Some(epoch)).count() > 0)
    intercept[IllegalArgumentException] {
      sink.readCommitted("events", asOfBatch = Some(epoch - 1))
    }
    // the lineage survives in the epoch manifest (error route included)
    assert(sink.readManifest().get.where(col("compacted") === true).count() > 0)

    // resume continues past the epoch: new batches commit with higher ids
    // and the final state equals the oracle
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir, maxFilesPerTrigger = 4)
    assert(sink.committedBatchIds.nonEmpty && sink.committedBatchIds.min > epoch)
    assertSameRows(
      CdcPipeline.materialize(spark, outDir).toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "post-compaction resumed state")
    // second compaction folds the old epoch + new batches
    val epoch2 = sink.compact()
    assert(epoch2 > epoch)
    assertSameRows(
      CdcPipeline.materialize(spark, outDir).toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "state after second compaction")
  }

  test("auto-compaction in the pipeline: compactEvery keeps metadata bounded, state exact") {
    val tableDir = tmpDir("tableac")
    val streamDir = tmpDir("streamac")
    val outDir = tmpDir("outac")
    val ckDir = tmpDir("ckac")
    TranscriptGen.writeTable(spark, cfg, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir)
    val q = CdcPipeline.start(spark, streamDir, outDir, ckDir,
      maxFilesPerTrigger = 3, compactEvery = 2L)
    q.awaitTermination()
    val sink = new ExactlyOnceSink(spark, outDir)
    assert(sink.epochFloor.nonEmpty, "periodic compaction must have run")
    assert(sink.committedBatchIds.size <= 2, "post-epoch manifest count bounded")
    assertSameRows(
      CdcPipeline.materialize(spark, outDir).toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "state with auto-compaction")
  }

  test("multi-table routing: one pass fans out to per-table partitions") {
    import spark.implicits._
    val outDir = tmpDir("mt")
    val sink = new ExactlyOnceSink(spark, outDir)
    val ev = TranscriptGen.events(spark, cfg.copy(numConvs = 30)).map(_.event).toDF()
    // a second source table, interleaved event-by-event (the reference runs
    // one TableFilter stream per table; here it's one partition column)
    val twoTab = ev.withColumn("source",
      when(pmod(xxhash64(col("ts_ms")), lit(2)) === 0,
        col("source").withField("table", lit("conversations_b")))
        .otherwise(col("source")))
    CdcPipeline.processBatch(sink, twoTab, 0L)
    assertWriteMatchesLineage(outDir, 0L)
    val want = twoTab.where(Router.isValid && !Router.isSchemaChange)
    val a = sink.readTable("conversations").get.count()
    val b = sink.readTable("conversations_b").get.count()
    assert(a == want.where(col("source.table") === "conversations").count())
    assert(b == want.where(col("source.table") === "conversations_b").count())
    assert(b > 0, "second table must receive events")
    assert(sink.tables() == Seq("conversations", "conversations_b"))
    assert(sink.readCommitted("events").get.count() == a + b)
    // the per-table read prunes on the src_table partition column
    val plan = sink.readTable("conversations_b").get.queryExecution.executedPlan.toString()
    assert(plan.contains("src_table"), plan.take(400))

    // allowlist: data events of unconfigured tables are dropped; error
    // route keeps everything (DLQ must never silently lose records)
    val outDir2 = tmpDir("mt2")
    val sink2 = new ExactlyOnceSink(spark, outDir2)
    CdcPipeline.processBatch(sink2, twoTab, 0L, tables = Seq("conversations"))
    assert(sink2.tables() == Seq("conversations"))
    assert(sink2.readCommitted("events").get.count() == a)
    assert(sink2.readCommitted("errors").get.count() ==
      twoTab.where(!Router.isValid).count())
  }

  test("idempotent sink: replayed batch is a no-op; partial write is healed") {
    import spark.implicits._
    val outDir = tmpDir("sinkout")
    val sink = new ExactlyOnceSink(spark, outDir)
    val events = TranscriptGen.events(spark, cfg.copy(numConvs = 20)).map(_.event).toDF()

    CdcPipeline.processBatch(sink, events, 0L)
    val c1 = sink.readCommitted("events").get.count()
    // replay the same batch (restart-after-commit): must not duplicate
    CdcPipeline.processBatch(sink, events, 0L)
    assert(sink.readCommitted("events").get.count() == c1)
    assert(sink.committedBatchIds == Seq(0L))

    // counts that miss a key present in the batch fail the write loudly
    // (rows are never routed to a slot nobody counted) and commit nothing
    val routedAll = CdcPipeline.routed(events)
    val counts = countsOf(routedAll)
    val err = intercept[Exception](sink.writeBatch(2L, routedAll, counts - counts.keys.max))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("missing from the batch counts")), err)
    assert(!sink.isCommitted(2L) && sink.committedBatchIds == Seq(0L))
    CdcPipeline.processBatch(sink, events, 1L)
    assert(sink.committedBatchIds == Seq(0L, 1L))
    // batch 1 contains the full routed data set, not the partial 3 rows
    assert(sink.readCommitted("events").get.count() == 2 * c1)
  }

  test("count-ranged sink write: balanced slots, bounded files, exact lineage under zipf skew") {
    import spark.implicits._
    // the BENCH/SKEW.md skews at test size: zipf 0.5 (hot head, spread
    // tail) and zipf 1.1 (the hottest conversation holds ~14 % of turns)
    Seq(0.5, 1.1).foreach { z =>
      val outDir = tmpDir(s"zipf$z")
      val sink = new ExactlyOnceSink(spark, outDir)
      val ev = TranscriptGen.events(spark, cfg.copy(numConvs = 400, zipf = z))
        .map(_.event).toDF()
      CdcPipeline.processBatch(sink, ev, 0L)
      assertWriteMatchesLineage(outDir, 0L)
      // no write task holds more than twice its even share
      val keyed = CdcPipeline.routed(ev)
      val counts = countsOf(keyed)
      val perTask = sink.slotted(keyed, counts).rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect()
      val even = counts.values.sum.toDouble / perTask.length
      assert(perTask.max <= 2 * even,
        s"zipf $z: largest write task ${perTask.max} rows, even share $even (${perTask.mkString(",")})")
    }
  }

  test("restart strategy: a failing batch recovers from checkpoint, exactly-once") {
    val tableDir = tmpDir("rtable")
    val streamDir = tmpDir("rstream")
    val outDir = tmpDir("rout")
    val ckDir = tmpDir("rck")
    val small = cfg.copy(numConvs = 40)
    TranscriptGen.writeTable(spark, small, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir)
    val sink = new ExactlyOnceSink(spark, outDir)
    // poison: the first attempt dies mid-stream on batch 2 (after batch 0-1
    // committed); the restart resumes from the checkpoint and completes
    val poisoned = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery() = ChangeStreamReader.stream(spark, streamDir, 4)
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 2 && poisoned.getAndSet(false))
          throw new RuntimeException("injected failure")
        CdcPipeline.processBatch(sink, df, id)
      }
      .start()
    val restarts = CdcPipeline.runWithRestarts(() => startQuery(), maxRestarts = 3, delayMs = 100)
    assert(restarts == 1, "exactly one restart consumed")
    assertSameRows(
      CdcPipeline.materialize(spark, outDir).toDF(),
      TranscriptGen.finalState(spark, small).toDF(),
      "state after recovery")
    // restart budget exhausted → the failure propagates
    val always = () => ChangeStreamReader.stream(spark, streamDir, 4)
      .writeStream.option("checkpointLocation", tmpDir("rck2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException("always fails")
      }
      .start()
    intercept[Exception](CdcPipeline.runWithRestarts(always, maxRestarts = 1, delayMs = 50))
  }

  test("ordering: snapshot turns are monotone in (turn_idx, ts) per conversation") {
    val tableDir = tmpDir("table3")
    val streamDir = tmpDir("stream3")
    val outDir = tmpDir("out3")
    val ckDir = tmpDir("ck3")
    val small = cfg.copy(numConvs = 50)
    TranscriptGen.writeTable(spark, small, tableDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, outDir, ckDir)

    val sink = new ExactlyOnceSink(spark, outDir)
    val snapEvents = sink.readCommitted("events").get.where(col("op") === "r")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("after.conv_id")).orderBy(col("after.turn_idx"))
    val violations = snapEvents
      .withColumn("prev_ts", lag(col("after.ts"), 1).over(w))
      .where(col("prev_ts").isNotNull && col("after.ts") <= col("prev_ts"))
      .count()
    assert(violations == 0L, "per-conversation (turn_idx, ts) must be strictly monotone")
  }

  test("schema-change quirk flag replicates the reference's r+snapshot=false heuristic") {
    import spark.implicits._
    import graft.model.{ChangeEvent, SourceInfo, Turn}
    val turn = Turn("c1", 0, "user", "hi", None, new java.sql.Timestamp(1700000000000L))
    def src(snap: Option[String]) =
      Some(SourceInfo("transcripts", "public", "conversations", 1L, snap, Some(1L)))
    val evs = Seq(
      ChangeEvent(Some("r"), 1L, None, Some(turn), src(Some("false")), None), // the quirk case
      ChangeEvent(Some("r"), 1L, None, Some(turn), src(Some("true")), None),
      ChangeEvent(Some("c"), 1L, None, Some(turn), src(None), Some("""{"ddl":"x"}"""))
    ).toDF()
    // default: only historyRecord routes to schema
    val base = Router.withRoute(evs).groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(base == Map("data" -> 2L, "schema" -> 1L))
    // quirk on: r+snapshot=false joins the schema route (reference parity)
    val quirk = Router.withRoute(evs, replicateQuirk = true).groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(quirk == Map("data" -> 1L, "schema" -> 2L))
  }

  test("quality score: fraction of non-null/non-empty payload fields") {
    import spark.implicits._
    val events = TranscriptGen.events(spark, cfg.copy(numConvs = 5)).map(_.event).toDF()
    val scored = events.where(Router.isValid).withColumn("q", Router.qualityScore)
    // all generated turns have conv_id/turn_idx/role/text/ts; tool varies
    val distinctScores = scored.select("q").distinct().collect().map(_.getDouble(0)).sorted
    assert(distinctScores.forall(s => s >= 0.0 && s <= 1.0))
    assert(distinctScores.contains(5.0 / 6.0) || distinctScores.contains(1.0))
    // deletes (after=null) score on before
    val delScores = scored.where($"op" === "d").select("q").collect().map(_.getDouble(0))
    assert(delScores.forall(_ > 0.0))
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = collect(p) { case e: ShuffleExchangeExec => e }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case s: FileSourceScanExec => s }
  }

  /** A sink with one committed batch per generator phase (0 = snapshot). */
  private lazy val phasedSink: (String, Long) = {
    import spark.implicits._
    val outDir = tmpDir("phased")
    val sink = new ExactlyOnceSink(spark, outDir)
    val ev = TranscriptGen.events(spark, cfg.copy(numConvs = 40)).toDF()
    (-1 until cfg.changeFiles).foreach(p =>
      CdcPipeline.processBatch(sink, ev.where($"phase" === p).select($"event.*"), p + 1L))
    (outDir, sink.highestCommittedBatchId)
  }

  test("one-conversation lookup: the conv filter runs at the scan, below the only exchange") {
    val (outDir, b) = phasedSink
    val all = CdcPipeline.materialize(spark, outDir, None, Some(b)).toDF().collect()
    val c = all.groupBy(_.getString(0)).maxBy(_._2.length)._1
    val lookup = CdcPipeline.materialize(spark, outDir, None, Some(b)).toDF()
      .where(col("conv_id") === c)
    assert(lookup.collect().map(_.toString).sorted.toSeq ==
      all.filter(_.getString(0) == c).map(_.toString).sorted.toSeq)
    val plan = lookup.queryExecution.executedPlan
    val ex = Plans.exchanges(plan)
    assert(ex.size == 1, plan.toString())
    val scans = Plans.scans(ex.head)
    assert(scans.nonEmpty && scans.size == Plans.scans(plan).size, plan.toString())
    scans.foreach(sc => assert(sc.dataFilters.exists(_.find {
      case Literal(v, _) => String.valueOf(v) == c
      case _ => false
    }.isDefined), s"the conv filter must be a scan DataFilter: ${sc.dataFilters}"))
  }

  test("diff joins on the window partitioning: two exchanges, one per side") {
    val (outDir, b) = phasedSink
    val d = CdcPipeline.diff(spark, outDir, 1L, b)
    assert(d.count() > 0)
    val plan = d.queryExecution.executedPlan
    assert(Plans.exchanges(plan).size == 2, plan.toString())
  }

  test("materialize keys a row by its window key when the after-image lacks one") {
    import spark.implicits._
    import graft.model.{ChangeEvent, SourceInfo, Turn}
    val ts = new java.sql.Timestamp(1700000000000L)
    def turn(c: String, i: Int, text: String) = Turn(c, i, "user", text, None, ts)
    def src(lsn: Long) =
      Some(SourceInfo("transcripts", "public", "conversations", 1L, None, Some(lsn)))
    val evs = Seq(
      ChangeEvent(Some("c"), 1L, None, Some(turn("a", 0, "a0")), src(1L), None),
      // the after-image lost its conv_id: keyed (and now output) under "a"
      ChangeEvent(Some("u"), 2L, Some(turn("a", 0, "a0")), Some(turn(null, 0, "a0 v2")), src(2L), None),
      ChangeEvent(Some("c"), 3L, None, Some(turn("b", 1, "b1")), src(3L), None),
      ChangeEvent(Some("u"), 4L, Some(turn("b", 1, "b1")), Some(turn("b", 1, "b1 v2")), src(4L), None)
    ).toDF()
      // ... and this one its turn_idx (the Turn encoder cannot build it)
      .withColumn("after", when(col("source.lsn") === 4L,
        col("after").withField("turn_idx", lit(null).cast("int"))).otherwise(col("after")))
    val outDir = tmpDir("nullkeys")
    CdcPipeline.processBatch(new ExactlyOnceSink(spark, outDir), evs, 0L)
    val got = CdcPipeline.materialize(spark, outDir).collect().toSet
    assert(got == Set(turn("a", 0, "a0 v2"), turn("b", 1, "b1 v2")))
    assert(CdcPipeline.materialize(spark, outDir).toDF().where(col("conv_id") === "a")
      .collect().map(_.getString(3)).toSeq == Seq("a0 v2"))
  }

  test("a batch replayed after a crash before its manifest rewrites every column, processing_timestamp included") {
    val tableDir = tmpDir("rptable")
    val streamDir = tmpDir("rpstream")
    val outDir = tmpDir("rpout")
    val ckDir = tmpDir("rpck")
    val small = cfg.copy(numConvs = 30)
    TranscriptGen.writeTable(spark, small, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir)
    CdcPipeline.start(spark, streamDir, outDir, ckDir, maxFilesPerTrigger = 2).awaitTermination()
    val sink = new ExactlyOnceSink(spark, outDir)
    val n = sink.highestCommittedBatchId
    assert(n >= 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = s"$outDir/events/batch=$n"
    def files(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var out = Set.empty[String]
      while (it.hasNext) out += it.next().getPath.getName
      out.filter(_.endsWith(".parquet"))
    }
    def rows() = spark.read.parquet(dir)
    val first = canon(rows())
    val firstFiles = files()

    // the crash: batch n wrote its files, but neither the sink manifest nor
    // the checkpoint's commit entry made it
    assert(fs.delete(new org.apache.hadoop.fs.Path(f"$outDir/_manifest/batch-$n%09d.json"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$ckDir/commits/$n"), false))
    assert(!sink.isCommitted(n))
    CdcPipeline.start(spark, streamDir, outDir, ckDir, maxFilesPerTrigger = 2).awaitTermination()
    assert(sink.isCommitted(n) && sink.highestCommittedBatchId == n)
    assert(files() != firstFiles, "the restart must have rewritten batch n")
    assert(canon(rows()) == first, "the replayed batch must commit the same rows")

    val offsets = graft.util.FsText.readText(fs, new org.apache.hadoop.fs.Path(s"$ckDir/offsets/$n"))
    val batchTs = "\"batchTimestampMs\":(\\d+)".r.findFirstMatchIn(offsets).get.group(1).toLong
    val stamps = rows().select(col("processing_timestamp")).distinct().collect().map(_.getTimestamp(0))
    assert(stamps.toSeq == Seq(new java.sql.Timestamp(batchTs)),
      s"batch $n must carry its offset-log timestamp $batchTs: ${stamps.mkString(",")}")
  }
}
