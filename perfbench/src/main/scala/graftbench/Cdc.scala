package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.metrics.StageTimers
import graft.pipeline.CdcPipeline
import graft.sink.ExactlyOnceSink
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** cdc — the change stream end to end, in two phases of one timed window.
  *
  * Bulk phase (closed loop): each rep replays the spooled snapshot plus the
  * first change segments through `CdcPipeline.start` (AvailableNow, one
  * large batch) into a fresh sink and checkpoint. The write path (persist,
  * range sample, shuffle, sort, parquet) does most of the work.
  *
  * Live phase (open loop, fixed rate): on the last rep's sink and checkpoint
  * the same pipeline runs one small segment per trigger, while a generator
  * thread delivers one segment per tick and a reader thread, half a tick
  * later, looks up one seeded conversation's current state through
  * `CdcPipeline.materialize`. Both are timed from their scheduled instant,
  * so a stall counts against everything queued behind it; per-batch fixed
  * cost (listing, job launches, manifest commit, offset log) dominates.
  */
final class Cdc(ctx: Ctx) extends Workload {
  import Cdc._
  import ctx.{out, span, spark}

  private val cfg = GenConfig(numConvs = ctx.scaled(Convs), avgTurns = 20, seed = ctx.args.seed,
    zipf = 1.1, changeFiles = Phases, changeEventsPerTurn = 0.3,
    malformedFrac = 0.01, schemaChangeFrac = 0.01)
  private val tableDir = ctx.dir("table")
  private val streamDir = ctx.dir("stream")
  private val lookupConvs = Oracle.lookupConvs(cfg.numConvs)

  private var inputEvents = 0L
  private var inputFiles = 0
  private var rep = 0
  /** Change segments in the stream directory; segment k is phase k. */
  private var segments = 0
  private def outDir(r: Int) = ctx.dir(s"out-$r")
  private def ckDir(r: Int) = ctx.dir(s"ck-$r")

  def prepare(): Unit = {
    import spark.implicits._
    Seq(tableDir, streamDir).foreach(ctx.rm)
    // one generator pass feeds both the snapshot and the change segments
    val events = TranscriptGen.events(spark, cfg).cache()
    events.filter(_.phase == -1).map(_.event.after.get)
      .repartition(math.max(spark.sparkContext.defaultParallelism / 2, 1), $"conv_id")
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.parquet(s"$tableDir/snapshot")
    // every change segment in one job, one file per phase, named the way
    // ChangeStreamReader.deliverChanges expects
    val tmp = s"$tableDir/.segments"
    events.filter(e => e.phase >= 0 && e.phase < Segments).toDF()
      .select($"phase", $"event.*")
      .repartition($"phase")
      .write.partitionBy("phase").parquet(tmp)
    events.unpersist()
    ctx.fs.mkdirs(new Path(s"$tableDir/changes"))
    (0 until Segments).foreach { k =>
      ctx.fs.globStatus(new Path(s"$tmp/phase=$k/part-*.parquet")).foreach { st =>
        ctx.fs.rename(st.getPath, new Path(f"$tableDir/changes/chg-$k%04d-000.parquet"))
      }
    }
    ctx.rm(tmp)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir, _ < BulkSegments)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir, numFiles = SnapshotFiles)
    segments = BulkSegments
  }

  /** One bulk drain like the timed ones, and one lookup: the first drain
    * of a JVM is a third slower than the next, and without this warm-up the
    * live phase's first timed batch still ran twice as long as the rest. */
  def warmUp(): Unit = {
    val out = ctx.dir("warm-out")
    CdcPipeline.start(spark, streamDir, out, ctx.dir("warm-ck"),
      maxFilesPerTrigger = MaxFilesPerTrigger).awaitTermination()
    lookup(out, TranscriptGen.convId(lookupConvs.head), new ExactlyOnceSink(spark, out).highestCommittedBatchId)
    StageTimers.reset(out)
    Seq("warm-out", "warm-ck").foreach(d => ctx.rm(ctx.dir(d)))
  }

  private def lookup(out: String, conv: String, asOf: Long) =
    span("sink.read")(CdcPipeline.materialize(spark, out, None, Some(asOf))
      .toDF().where(col("conv_id") === conv).collect())

  // samples of the timed window
  private val tps = mutable.ArrayBuffer[Double]()
  private val bulkStage = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val bulkWaitMs = mutable.ArrayBuffer[Double]()
  private val written = mutable.ArrayBuffer[(Long, Long)]()

  def measure(seconds: Int): Unit = {
    inputEvents = ChangeStreamReader.batch(spark, streamDir).count()
    inputFiles = ctx.fs.listStatus(new Path(streamDir)).count(_.getPath.getName.endsWith(".parquet"))
    span.reset()
    val t0 = ctx.now
    while (rep < MinBulkReps || ctx.now - t0 < seconds * BulkShare) {
      if (rep > 0) { ctx.rm(outDir(rep - 1)); ctx.rm(ckDir(rep - 1)) }
      bulkRep()
      rep += 1
    }
    val bulkReps = rep.toDouble
    val bulkJobs = ctx.probe.map(_.finished(spark.sparkContext)).getOrElse(Nil)
    val bulkSpans = Seq("source.scan", "pipeline.route", "pipeline.cache", "pipeline.process")
      .map(s => s -> span.seconds(s)).toMap
    span.reset()
    live(math.max(seconds * (1 - BulkShare), (Ramp + LiveTimed) * PeriodMs / 1e3))
    out.e2e("turns_per_s", Stats.median(tps), "1/s")
    if (ctx.args.trace) bulkLayers(bulkJobs, bulkSpans, bulkReps)
  }

  /** One closed-loop bulk drain into a fresh sink and checkpoint. */
  private def bulkRep(): Unit = {
    val t0Ms = System.currentTimeMillis()
    val t0 = ctx.now
    val q = if (ctx.args.trace) tracedBulkQuery(outDir(rep), ckDir(rep))
      else CdcPipeline.start(spark, streamDir, outDir(rep), ckDir(rep), maxFilesPerTrigger = MaxFilesPerTrigger)
    q.awaitTermination()
    val sec = ctx.now - t0
    val rows = committedRows(outDir(rep), -1L)
    out.op(rows == inputEvents, s"bulk rep $rep committed $rows of $inputEvents input events")
    tps += inputEvents / sec
    System.err.println(f"[graftbench] bulk rep $rep: $inputEvents events in $sec%.3f s")
    val batches = ctx.dataBatches(q.recentProgress.toSeq)
    var filesLeft = inputFiles
    batches.foreach { p =>
      val files = math.min(MaxFilesPerTrigger, filesLeft)
      filesLeft -= files
      bulkWaitMs ++= Seq.fill(files)((ctx.startMs(p) - t0Ms).toDouble)
    }
    Seq("latestOffset", "queryPlanning", "walCommit", "commitOffsets").foreach(k =>
      bulkStage(k) += ctx.durationS(batches, k))
    StageTimers.snapshot(outDir(rep)).foreach { case (k, v) => bulkStage(k) += v }
    StageTimers.reset(outDir(rep))
    if (ctx.args.trace) {
      val it = ctx.fs.listFiles(new Path(s"${outDir(rep)}/events"), true)
      var (n, bytes) = (0L, 0L)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
      }
      written += ((n, bytes))
    }
  }

  /** The program's processBatch under a harness-owned foreachBatch, with
    * probe spans in front of it: a plain scan, scan+route, scan+route+cache.
    */
  private def tracedBulkQuery(out: String, ck: String): StreamingQuery = {
    val sink = new ExactlyOnceSink(spark, out)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    ChangeStreamReader.stream(spark, streamDir, MaxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        span("source.scan")(noop(df))
        span("pipeline.route")(noop(CdcPipeline.routed(df)))
        span("pipeline.cache") {
          val k = CdcPipeline.routed(df).persist()
          try k.count() finally k.unpersist()
        }
        span("pipeline.process")(CdcPipeline.processBatch(sink, df, id))
        ()
      }
      .start()
  }

  private def sleepUntil(ms: Long): Unit = {
    val d = ms - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true); t.start(); t
  }

  /** The open-loop phase on the last bulk rep's sink and checkpoint. */
  private def live(seconds: Double): Unit = {
    val out0 = outDir(rep - 1)
    val sink = new ExactlyOnceSink(spark, out0)
    val base = sink.highestCommittedBatchId
    val first = segments
    val expected = mutable.Map[(Long, Int), Set[Oracle.TurnRow]]()
    val q = span("pipeline.process")(CdcPipeline.start(spark, streamDir, out0, ckDir(rep - 1),
      maxFilesPerTrigger = 1, trigger = Trigger.ProcessingTime(TriggerMs)))
    val t0Ms = System.currentTimeMillis() + StartDelayMs
    val endMs = t0Ms + (seconds * 1000).toLong

    // generator: segment `first + k` is due at t0 + k·period
    val due = mutable.ArrayBuffer[Long]()
    val delivered = mutable.ArrayBuffer[Long]()
    val gen = thread {
      var k = 0
      while (t0Ms + k * PeriodMs < endMs && first + k < Segments) {
        val d = t0Ms + k * PeriodMs
        sleepUntil(d)
        ChangeStreamReader.deliverChanges(spark, tableDir, streamDir, _ == first + k)
        due.synchronized { due += d; delivered += System.currentTimeMillis() }
        k += 1
      }
    }
    // reader: lookup j is due half a period after segment j, so every timed
    // batch and read overlap the same way, and a read does not stretch the
    // batch it starts beside (with both due together, a slow period pushed
    // batches past the period and latencies piled up). The period leaves
    // slack on both sides: a warm batch (~0.9 s) ends before its lookup is
    // due and a lookup (~0.75 s) before the next segment.
    val readMs = mutable.ArrayBuffer[Double]()
    val lookupFails = mutable.ArrayBuffer[String]()
    val reader = thread {
      var j = 0
      while (t0Ms + j * PeriodMs + PeriodMs / 2 < endMs) {
        val d = t0Ms + j * PeriodMs + PeriodMs / 2
        sleepUntil(d)
        val idx = lookupConvs(j % lookupConvs.size)
        val asOf = sink.highestCommittedBatchId
        val phases = first + (asOf - base).toInt
        val got = lookup(out0, TranscriptGen.convId(idx), asOf)
        readMs += (System.currentTimeMillis() - d).toDouble
        val want = expected.getOrElseUpdate((idx, phases), Oracle.convState(cfg, idx, phases))
        lookupFails += (if (Oracle.turnRows(got.toSeq) == want) ""
          else s"lookup of conv $idx as of batch $asOf differs from the generator after $phases segments")
        j += 1
      }
    }
    gen.join(); reader.join()
    lookupFails.foreach(f => out.op(f.isEmpty, f))
    sleepUntil(endMs)
    val backlogEnd = due.size - (sink.highestCommittedBatchId - base)
    q.processAllAvailable()
    q.stop()
    segments = first + due.size

    val batches = ctx.dataBatches(q.recentProgress.toSeq).filter(_.batchId > base)
    out.op(batches.size == due.size, s"${batches.size} live batches committed for ${due.size} segments")
    // the first segments and lookups of the phase pay the live query's
    // start-up; they are verified but not timed
    val n = math.min(batches.size, due.size)
    val commitMs = (Ramp until n).map(i => (ctx.startMs(batches(i)) + batches(i).batchDuration - due(i)).toDouble)
    val waitMs = (Ramp until n).map(i => (ctx.startMs(batches(i)) - delivered(i)).toDouble)
    val batchMs = batches.drop(Ramp).map(_.batchDuration.toDouble)
    val lookupMs = readMs.drop(Ramp)
    System.err.println(s"[graftbench] live batch ms ${batches.map(_.batchDuration).mkString(" ")}; " +
      s"lookup ms ${readMs.mkString(" ")} (the first $Ramp of each untimed); timed commit ms ${commitMs.mkString(" ")}")
    out.e2e("batch_p50_ms", Stats.pct(batchMs, 50), "ms")
    out.e2e("batch_p90_ms", Stats.pct(batchMs, 90), "ms")
    out.e2e("commit_latency_p50_ms", Stats.pct(commitMs, 50), "ms")
    out.e2e("commit_latency_p90_ms", Stats.pct(commitMs, 90), "ms")
    out.e2e("read_latency_p50_ms", Stats.pct(lookupMs, 50), "ms")
    out.e2e("read_latency_p90_ms", Stats.pct(lookupMs, 90), "ms")

    if (ctx.args.trace) {
      val stage = Seq("latestOffset", "queryPlanning", "walCommit", "commitOffsets")
        .map(k => k -> ctx.durationS(batches, k)).toMap ++ StageTimers.snapshot(out0)
      val per = math.max(1, batches.size).toDouble
      out.layer("live.sink_write_ms", 1e3 * stage.getOrElse("sink_write", 0.0) / per, "ms")
      out.layer("live.sink_commit_ms", 1e3 * stage.getOrElse("sink_commit", 0.0) / per, "ms")
      out.layer("live.lineage_agg_ms", 1e3 * stage.getOrElse("lineage_agg", 0.0) / per, "ms")
      out.layer("live.source_list_ms", 1e3 * stage("latestOffset") / per, "ms")
      out.layer("live.wal_ms", 1e3 * (stage("walCommit") + stage("commitOffsets")) / per, "ms")
      out.layer("live.planning_ms", 1e3 * stage("queryPlanning") / per, "ms")
      out.layer("live.read_ms", 1e3 * span.seconds("sink.read") / math.max(1, readMs.size), "ms")
      out.layer("live.source_wait_ms_p50", Stats.pct(waitMs, 50), "ms")
      out.layer("live.manifests_live", sink.committedBatchIds.size.toDouble, "count")
      out.layer("live.generator_late_ms_max",
        (delivered.zip(due).map { case (a, d) => (a - d).toDouble } :+ 0.0).max, "ms")
      out.layer("live.backlog_files_end", backlogEnd.toDouble, "count")
      out.layer("live.segments", due.size.toDouble, "count")
      out.layer("live.lookups", readMs.size.toDouble, "count")
    }
    StageTimers.reset(out0)
  }

  private def bulkLayers(all: Seq[JobRec], spans: Map[String, Double], reps: Double): Unit = {
    val jobs = all.filter(_.span == "pipeline.process")
    // one batch's processBatch jobs are a run of consecutive job ids; the
    // jobs of a run before its first shuffle write fill the persisted batch
    // and sample its range bounds
    val runs = all.foldLeft(List.empty[List[JobRec]]) {
      case (cur :: done, j) if j.span == "pipeline.process" && cur.headOption.exists(_.span == j.span) =>
        (j :: cur) :: done
      case (acc, j) => List(j) :: acc
    }.map(_.reverse).filter(_.headOption.exists(_.span == "pipeline.process"))
    val sampler = runs.flatMap(_.takeWhile(j => !j.writesShuffle && !j.writesOutput))
    val skew = jobs.filter(_.writesOutput).map { j =>
      val xs = j.taskOutputBytes
      xs.max / (xs.sum.toDouble / xs.size)
    }
    def st(k: String) = bulkStage(k)
    out.layer("source.scan_s", spans("source.scan") / reps, "s")
    out.layer("pipeline.route_enrich_s", math.max(0.0, spans("pipeline.route") - spans("source.scan")) / reps, "s")
    out.layer("pipeline.persist_s", math.max(0.0, spans("pipeline.cache") - spans("pipeline.route")) / reps, "s")
    out.layer("pipeline.process_s", spans("pipeline.process") / reps, "s")
    out.layer("sink.range_sample_s", sampler.map(_.wallS).sum / reps, "s")
    out.layer("sink.write_s", st("sink_write") / reps, "s")
    out.layer("sink.lineage_agg_s", st("lineage_agg") / reps, "s")
    out.layer("sink.commit_s", st("sink_commit") / reps, "s")
    out.layer("sink.shuffle_write_bytes", jobs.map(_.shuffleWriteBytes).sum / reps, "bytes")
    out.layer("sink.spill_bytes", jobs.map(_.spillBytes).sum / reps, "bytes")
    out.layer("sink.partition_skew", if (skew.isEmpty) 0.0 else skew.max, "ratio")
    out.layer("sink.files_written", Stats.median(written.map(_._1.toDouble)), "count")
    out.layer("sink.bytes_written", Stats.median(written.map(_._2.toDouble)), "bytes")
    out.layer("source.list_s", st("latestOffset") / reps, "s")
    out.layer("source.wait_ms_p50", Stats.pct(bulkWaitMs, 50), "ms")
    out.layer("engine.wal_s", (st("walCommit") + st("commitOffsets")) / reps, "s")
    out.layer("engine.planning_s", st("queryPlanning") / reps, "s")
    out.layer("engine.batches", st("batches") / reps, "count")
    out.layer("run.reps", reps, "count")
  }

  private val RowCount = "\"rowCount\":(\\d+)".r

  /** Rows the sink committed in batches after `afterBatch`, summed from the
    * lineage manifests it publishes (every route counts).
    */
  private def committedRows(out: String, afterBatch: Long): Long =
    ctx.fs.globStatus(new Path(s"$out/_manifest/batch-*.json"))
      .filter(_.getPath.getName.stripPrefix("batch-").stripSuffix(".json").toLong > afterBatch)
      .map { st =>
        val in = ctx.fs.open(st.getPath)
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        RowCount.findAllMatchIn(body).map(_.group(1).toLong).sum
      }.sum

  /** The sink after both phases against the generator: rows per route, and
    * the materialized table's digest. Leaves the stream directory for
    * `scalingEfficiency`.
    */
  def verify(): Unit = {
    val out0 = outDir(rep - 1)
    val sink = new ExactlyOnceSink(spark, out0)
    val (data, errors, schema) = Oracle.routeCounts(spark, cfg, segments)
    def committed(section: String) = sink.readCommitted(section).fold(0L)(_.count())
    Seq(("events", data), ("errors", errors), ("schema_changes", schema)).foreach { case (s, want) =>
      val got = committed(s)
      out.op(got == want, s"committed $s rows $got, generator has $want")
    }
    val got = Digest.of(CdcPipeline.materialize(spark, out0).toDF(), Oracle.TurnCols)
    val want = ctx.expect(Digest.of(Oracle.tableState(spark, cfg, segments), Oracle.TurnCols))
    out.op(got == want, s"materialize digest $got != generator state $want")
    Seq(outDir(rep - 1), ckDir(rep - 1), tableDir).foreach(ctx.rm)
  }

  /** Single-thread baseline, traced runs only: one plain drain of a
    * quarter of the spooled snapshot (kept short so a traced run stays in
    * its time budget) in this session, then one in a fresh local[1]
    * session. Returns throughput(n) / (n · throughput(1)). Stops the
    * session, so it is the last call of a run.
    */
  def scalingEfficiency(): Double = {
    val dir = ctx.dir("scale-in")
    ctx.fs.mkdirs(new Path(dir))
    (0 until SnapshotFiles / 4).foreach { i =>
      val name = f"00000-snapshot-$i%03d.parquet"
      ctx.fs.rename(new Path(s"$streamDir/$name"), new Path(s"$dir/$name"))
    }
    def drain(s: org.apache.spark.sql.SparkSession, tag: String): Double = {
      val t0 = ctx.now
      CdcPipeline.start(s, dir, ctx.dir(s"scale-out-$tag"), ctx.dir(s"scale-ck-$tag"),
        maxFilesPerTrigger = MaxFilesPerTrigger).awaitTermination()
      ctx.now - t0
    }
    val secN = drain(spark, "n")
    spark.stop()
    val one = graft.GraftSession.local(1, "graftbench-1")
    val sec1 = try drain(one, "1") finally one.stop()
    ctx.rm(ctx.args.work)
    sec1 / (Runtime.getRuntime.availableProcessors * secN)
  }
}

object Cdc {
  val Convs = 5000
  /** Change-log phases generated; a conversation's changes spread evenly
    * over them, so phase 0 holds every conversation's first change and
    * later phases ~130–540 events each. */
  val Phases = 160
  /** Phases written as segments: the bulk phase replays the first
    * `BulkSegments`, the live phase delivers the rest one by one (enough
    * for a 60 s window). */
  val Segments = 56
  val BulkSegments = 32
  val SnapshotFiles = 32
  /** One bulk batch per rep: all 64 files in one trigger, so per-batch
    * fixed cost is paid once per ~120k events. */
  val MaxFilesPerTrigger = 64
  /** Share of the timed window given to the bulk phase, and its least
    * number of reps (a rep takes ~4 s on 4 cores; with a one-rep minimum
    * the count would flip between one and two from run to run). */
  val BulkShare = 0.4
  val MinBulkReps = 2
  /** Live period: one segment delivered and one lookup due per period. At
    * 2 s a batch and a lookup ran back to back, any slow spell made them
    * overlap, and live batches spread 1.07–1.65 s within one run; at 2.5 s
    * they spread ~10 %. */
  val PeriodMs = 2500L
  val TriggerMs = 100L
  val StartDelayMs = 300L
  /** Leading live segments and lookups left out of the timings (the live
    * query's first batch runs 20–50 % slower than later ones), and the least
    * number of timed ones. */
  val Ramp = 1
  val LiveTimed = 5
}
