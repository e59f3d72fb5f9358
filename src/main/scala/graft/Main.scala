package graft

import org.apache.spark.sql.functions._

import graft.pipeline.CdcPipeline
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** CLI entry point (≙ reference ProductionCdcJob.main,
  * reference src/main/scala/com/example/cdc/main.scala:46-51).
  *
  * Subcommands:
  *   gen <tableDir> [numConvs] [avgTurns] [zipf]   — synthesize the transcript table
  *   run <tableDir> <workDir> [maxFilesPerTrigger] — snapshot+incremental CDC replay
  *   pipeline key=value…                           — config-driven run (config.AppConfig)
  *   materialize <workDir> [asOfBatch]              — current-state table + counts (time travel)
  *   cep <workDir>                                  — CEP pattern matches over the committed turns
  *   sessions <workDir> [gap]                       — session windows over the committed turns
  *   tooljoin <workDir>                             — assistant⋈tool call/response pairs
  *   export <workDir> jsonl|avro|dlq|schema <dest> [compression]
  *   monitor <workDir>                              — per-batch rows and source latency
  *   lineage <workDir>                              — per-partition commit lineage
  *   diff <workDir> <fromBatch> <toBatch>           — change set between two frontiers
  *   compact <workDir> [upToBatch]                  — sink log-compaction epoch
  *   savepoint <workDir> <destDir>                  — relocatable resumable copy
  *   ingest <docsDir> <workDir> [minQuality] [knownDir] — streaming corpus curation
  *   view|table <changesDir> <workDir> [watermark] [nBuckets] — materialized view / table folds
  *   pack <docsDir> <workDir> [seqLen]              — continuous sequence packing
  *   index build|append|compact|stat <indexDir> [args] — gram-index lifecycle
  *   ivf build|append|stat <indexDir> [args]        — IVF-index lifecycle
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    // config-driven run: config is loaded BEFORE the session exists so
    // `parallelism` actually drives the session's core count (≙ reference
    // env.setParallelism from config, main.scala:247,267,287,311 — r3
    // verdict: the knob parsed but the session was already built from the
    // environment). SPARK_GRAFT_CPUS does not apply to this verb; the
    // config ladder (CLI > sysprops > files > env defaults) owns it.
    case "pipeline" :: rest =>
      config.AppConfig.load(rest) match {
        case Left(err) => System.err.println(s"[pipeline] config error: $err"); sys.exit(2)
        case Right(cfg) =>
          val spark = GraftSession.local(cfg.parallelism, "graft-cdc")
          try runPipeline(spark, cfg) finally spark.stop()
      }
    case other =>
      val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString).toInt
      val spark = GraftSession.local(cores, "graft-cdc")
      try dispatch(other, spark) finally spark.stop()
  }

  private def runPipeline(spark: org.apache.spark.sql.SparkSession,
      cfg: config.AppConfig): Unit = {
    require(cfg.tableDir.nonEmpty && cfg.workDir.nonEmpty,
      "pipeline needs tableDir=... and workDir=...")
    cfg.validateEnvironment(spark.sparkContext.hadoopConfiguration) match {
      case Left(err) =>
        System.err.println(s"[pipeline] environment error: $err"); sys.exit(2)
      case Right(_) =>
    }
    val streamDir = s"${cfg.workDir}/stream"
    val outDir = s"${cfg.workDir}/out"
    ChangeStreamReader.deliverChanges(spark, cfg.tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, cfg.tableDir, streamDir)
    // continuous mode (reference deployment shape): periodic
    // micro-batches at the env's checkpoint interval, restart budget
    // refilled on progress; available mode: drain and stop.
    val outSink = new sink.ExactlyOnceSink(spark, outDir)
    val restarts = CdcPipeline.runWithRestarts(
      () => CdcPipeline.start(spark, streamDir, outDir,
        s"${cfg.workDir}/checkpoint", cfg.maxFilesPerTrigger,
        trigger = CdcPipeline.triggerFor(cfg), tables = cfg.tables,
        maxRecordsPerFile = cfg.sinkMaxRecordsPerFile,
        compactEvery = cfg.compactEveryBatches,
        rollingFileSizeBytes = cfg.rollingFileSizeBytes,
        alertMs = cfg.latencyAlertMs),
      cfg.restartAttempts, cfg.restartDelayMs,
      // monotone under compaction — the live manifest COUNT shrinks when an
      // epoch retires batches, which would mask real progress (see
      // ExactlyOnceSink.highestCommittedBatchId)
      progress = () => outSink.highestCommittedBatchId)
    if (restarts > 0) println(s"[pipeline] recovered after $restarts restart(s)")
    val n = ChangeStreamReader.batch(spark, streamDir).count()
    println(s"[pipeline] env=${cfg.env} cores=${spark.sparkContext.defaultParallelism} " +
      s"master=${spark.sparkContext.master} events=$n tables=${outSink.tables().mkString(",")}")
  }

  /** The committed `events` section of `workDir`'s sink; fails like
    * `materialize` when nothing is committed yet.
    */
  private[graft] def committedEvents(spark: org.apache.spark.sql.SparkSession,
      workDir: String): org.apache.spark.sql.DataFrame =
    new graft.sink.ExactlyOnceSink(spark, s"$workDir/out").readCommitted("events")
      .getOrElse(throw new IllegalStateException(s"no committed batches in $workDir/out"))

  private def dispatch(args: List[String],
      spark: org.apache.spark.sql.SparkSession): Unit = {
    args match {
      case "gen" :: tableDir :: rest =>
        val numConvs = rest.headOption.map(_.toInt).getOrElse(1000)
        val avgTurns = rest.lift(1).map(_.toInt).getOrElse(20)
        val zipf = rest.lift(2).map(_.toDouble).getOrElse(0.0)
        val cfg = GenConfig(numConvs = numConvs, avgTurns = avgTurns, zipf = zipf,
          malformedFrac = 0.01, schemaChangeFrac = 0.01)
        TranscriptGen.writeTable(spark, cfg, tableDir,
          filesPerSegment = math.max(spark.sparkContext.defaultParallelism / 4, 1))
        println(s"[gen] snapshot rows=${spark.read.parquet(s"$tableDir/snapshot").count()} " +
          s"changeFiles=${cfg.changeFiles}")
      case "run" :: tableDir :: workDir :: rest =>
        val mft = rest.headOption.map(_.toInt).getOrElse(16)
        // a savepointed workDir reads the stream dir its marker names (the
        // savepoint's own copied stream — relocatable); a corrupt marker
        // fails loudly instead of guessing (re-ingest/duplication hazard)
        val streamDir = pipeline.Savepoint.streamDirOf(
          new org.apache.hadoop.fs.Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration),
          workDir)
        ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
        val t0 = System.nanoTime()
        CdcPipeline.runAvailable(spark, tableDir, streamDir, s"$workDir/out", s"$workDir/checkpoint", mft)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = ChangeStreamReader.batch(spark, streamDir).count()
        println(f"[run] events=$n elapsed=$sec%.1fs throughput=${n / sec}%.0f events/s")
      case "materialize" :: workDir :: rest =>
        // optional trailing batch id = snapshot time travel over the commit
        // lineage (only batches ≤ id are visible)
        val asOf = rest.headOption.map(_.toLong)
        val state = CdcPipeline.stableOrdered(
          CdcPipeline.materialize(spark, s"$workDir/out", asOfBatch = asOf))
        state.write.mode("overwrite").parquet(s"$workDir/state")
        val df = spark.read.parquet(s"$workDir/state")
        println(s"[materialize] rows=${df.count()} convs=${df.select("conv_id").distinct().count()}" +
          asOf.fold("")(b => s" asOfBatch=$b"))
      case "cep" :: workDir :: Nil =>
        val turns = pipeline.Windows.turnsFromEvents(committedEvents(spark, workDir))
        val m = pipeline.Cep.detect(turns, streaming = false).toDF().cache()
        m.groupBy("pattern").count().orderBy("pattern").show(20, truncate = false)
        println(s"[cep] matches=${m.count()}")
      case "sessions" :: workDir :: rest =>
        val gap = rest.headOption.getOrElse("30 minutes")
        val turns = pipeline.Windows.turnsFromEvents(committedEvents(spark, workDir))
        val s = pipeline.Windows.session(turns, gap).cache()
        println(s"[sessions] sessions=${s.count()} convs=${s.select("conv_id").distinct().count()}")
      case "tooljoin" :: workDir :: Nil =>
        val turns = pipeline.Windows.turnsFromEvents(committedEvents(spark, workDir))
        val j = pipeline.Joins.toolCallResponse(turns).cache()
        println(s"[tooljoin] pairs=${j.count()} avg_latency_ms=${j.agg(avg("latency_ms")).first().getDouble(0)}")
      case "export" :: workDir :: fmt :: dest :: rest =>
        val compression = rest.headOption.getOrElse("none")
        fmt match {
          case "jsonl" => sink.Export.jsonl(spark, s"$workDir/out", dest, compression)
          case "avro" => sink.Export.avro(spark, s"$workDir/out", dest, compression)
          case "dlq" => sink.Export.dlq(spark, s"$workDir/out", dest)
          case "schema" => sink.Export.schemaChanges(spark, s"$workDir/out", dest)
          case other => System.err.println(s"unknown format $other"); sys.exit(2)
        }
        println(s"[export] $fmt ($compression) -> $dest")
      case "monitor" :: workDir :: Nil =>
        // one row per committed batch, read back from its manifest (≙
        // reference CDCMonitor): rows per route, max source latency, late
        // events. A compaction epoch's row has rows only.
        val sink = new graft.sink.ExactlyOnceSink(spark, s"$workDir/out")
        sink.readManifest() match {
          case Some(m) =>
            val lat = Seq("maxLatencyMs", "lateEvents").foldLeft(m)((df, c) =>
              if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("long")))
            val route = substring_index(col("partition"), "/", 1)
            val rows = Seq(pipeline.Router.RouteData, pipeline.Router.RouteError,
              pipeline.Router.RouteSchema).map(r => sum(when(route === r, col("rowCount"))
                .otherwise(0L)).as(s"${r}_rows"))
            lat.groupBy(col("batchId"))
              .agg(rows.head, rows.tail :+ max("maxLatencyMs").as("maxLatencyMs") :+
                sum("lateEvents").as("lateEvents"): _*)
              .orderBy(col("batchId")).collect()
              .foreach(r => println("[monitor] " + r.schema.fieldNames.zip(r.toSeq)
                .map { case (k, v) => s"$k=$v" }.mkString(" ")))
          case None => println("[monitor] no committed batches")
        }
      case "savepoint" :: workDir :: destDir :: Nil =>
        // relocatable savepoint: checkpoint + sink state + stream copy with
        // the seen-file log rebased onto the copy (pipeline.Savepoint;
        // ≙ reference Flink savepoint ops, README.md:444-467). The copy
        // resumes as an independent lineage with NO dependence on the
        // original workDir — it may be deleted afterwards.
        pipeline.Savepoint.create(spark, workDir, destDir)
        println(s"[savepoint] $workDir -> $destDir (self-contained; resume with: run <tableDir> $destDir)")
      case "compact" :: workDir :: rest =>
        val sink = new graft.sink.ExactlyOnceSink(spark, s"$workDir/out")
        val upTo = rest.headOption.map(_.toLong).getOrElse(Long.MaxValue)
        val c = sink.compact(upTo)
        println(s"[compact] epoch=$c liveBatches=${sink.committedBatchIds.size}")
      case "lineage" :: workDir :: Nil =>
        val sink = new graft.sink.ExactlyOnceSink(spark, s"$workDir/out")
        sink.readManifest() match {
          case Some(m) =>
            m.orderBy(col("batchId"), col("partition")).show(50, truncate = false)
            println(s"[lineage] batches=${sink.committedBatchIds.size}" +
              sink.epochFloor.fold("")(e => s" epoch=$e"))
          case None => println("[lineage] no committed batches")
        }
      case "ingest" :: docsDir :: workDir :: rest =>
        // streaming corpus curation through the exactly-once sink
        // (pipeline.CorpusIngest): scrub → quality gate → known-content
        // dedup (optional knownDir of previously curated docs) →
        // in-stream content dedup → manifest-committed per-source parquet
        val minQuality = rest.headOption.map(_.toDouble).getOrElse(0.5)
        val schema = spark.read.parquet(docsDir).schema
        val known = rest.lift(1) match {
          case Some(dir) => spark.read.parquet(dir).select(col("text"))
          case None =>
            import spark.implicits._
            Seq.empty[String].toDF("text")
        }
        pipeline.CorpusIngest.start(spark, docsDir, schema, known,
          s"$workDir/out", s"$workDir/checkpoint", minQuality).awaitTermination()
        val snk = new graft.sink.ExactlyOnceSink(spark, s"$workDir/out")
        val kept = snk.readCommitted("events").map(_.count()).getOrElse(0L)
        println(s"[ingest] kept=$kept sources=${snk.tables().size} " +
          s"batches=${snk.committedBatchIds.size}")
      case "diff" :: workDir :: from :: to :: Nil =>
        // audit: the change set between two committed frontiers
        val d = pipeline.CdcPipeline.diff(spark, s"$workDir/out",
          from.toLong, to.toLong)
        d.groupBy(col("change")).count().orderBy(col("change")).show(10, truncate = false)
        d.orderBy(col("conv_id"), col("turn_idx")).show(20, truncate = false)
        println(s"[diff] changes=${d.count()} from=$from to=$to")
      case "view" :: changesDir :: workDir :: rest =>
        // materialized aggregate-view maintenance (pipeline.MaterializedView):
        // changelog file stream (user_id, ts, event_id, op, grp, v) →
        // retraction deltas → exactly-once bucket-wise view folds
        val watermark = rest.headOption.getOrElse("60 seconds")
        val nBuckets = rest.lift(1).map(_.toInt).getOrElse(64)
        val schema = spark.read.parquet(changesDir).schema
        pipeline.MaterializedView.start(spark, changesDir, schema,
          s"$workDir/view", s"$workDir/checkpoint", watermark,
          nBuckets = nBuckets).awaitTermination()
        val mv = new pipeline.MaterializedView(spark, s"$workDir/view", nBuckets)
        val v = mv.read().orderBy(col("grp"))
        v.show(50, truncate = false)
        println(s"[view] groups=${v.count()}")
      case "table" :: changesDir :: workDir :: rest =>
        // materialized CURRENT-TABLE maintenance (the LWW row store kept
        // fresh at rest — `materialize`'s O(delta)-per-batch twin)
        val watermark = rest.headOption.getOrElse("60 seconds")
        val nBuckets = rest.lift(1).map(_.toInt).getOrElse(64)
        val schema = spark.read.parquet(changesDir).schema
        pipeline.MaterializedView.startTable(spark, changesDir, schema,
          s"$workDir/table", s"$workDir/checkpoint", watermark,
          nBuckets = nBuckets).awaitTermination()
        val mt = new pipeline.MaterializedTable(spark, s"$workDir/table", nBuckets)
        val t = mt.read()
        t.orderBy(col("k")).show(20, truncate = false)
        println(s"[table] keys=${t.count()}")
      case "pack" :: docsDir :: workDir :: rest =>
        // continuous sequence packing: document file stream -> fixed
        // seqLen-token training sequences on one persisted global tape
        val seqLen = rest.headOption.map(_.toInt).getOrElse(512)
        val schema = spark.read.parquet(docsDir).schema
        pipeline.StreamPack.start(spark, docsDir, schema, s"$workDir/pack",
          s"$workDir/checkpoint", seqLen).awaitTermination()
        val m = pipeline.StreamPack.readManifest(spark, s"$workDir/pack")
        val (b, cur) = pipeline.StreamPack.cursor(spark, s"$workDir/pack")
        m.orderBy(col("seq_id")).show(10, truncate = false)
        println(s"[pack] sequences=${m.count()} cursor=$cur lastBatch=$b seqLen=$seqLen")
      case "ivf" :: action :: indexDir :: rest =>
        // IVF-index maintenance lifecycle (the ANN twin of `index`):
        //   ivf build  <indexDir> <embsDir> [nlist]  (train + write at rest)
        //   ivf append <indexDir> <batchDir>         (assign to existing centroids)
        //   ivf stat   <indexDir>                    (rows per bucket, radii)
        action match {
          case "build" =>
            val embs = spark.read.parquet(rest.head)
            val nlist = rest.lift(1).map(_.toInt).getOrElse(64)
            ops.Similarity.writeIvfIndex(embs, indexDir, nlist = nlist)
            println(s"[ivf] built nlist=$nlist vecs=${embs.count()}")
          case "append" =>
            val batch = spark.read.parquet(rest.head)
            ops.Similarity.appendIvfIndex(batch, indexDir)
            println(s"[ivf] appended vecs=${batch.count()}")
          case "stat" =>
            val (index, model) = ops.Similarity.readIvfIndex(spark, indexDir)
            val perBucket = index.groupBy(col("cid")).count().orderBy(col("cid"))
            perBucket.show(model.nlist, truncate = false)
            println(s"[ivf] nlist=${model.nlist} vecs=${index.count()} " +
              s"maxRadius=${model.radii.max}")
          case a =>
            System.err.println(s"unknown ivf action: $a"); sys.exit(2)
        }
      case "index" :: action :: indexDir :: rest =>
        // gram-index maintenance lifecycle from the ops runbook:
        //   index build  <indexDir> <corpusDir> [n]   (rebuild, epoch 0)
        //   index append <indexDir> <batchDir>        (day-sized growth)
        //   index compact <indexDir> [numPostingFiles] (fold generations)
        //   index stat   <indexDir>                   (sizes per table)
        action match {
          case "build" =>
            val corpus = spark.read.parquet(rest.head)
            val n = rest.lift(1).map(_.toInt).getOrElse(3)
            ops.Dedup.writeGramIndex(corpus, indexDir, n = n)
            println(s"[index] built n=$n docs=${corpus.count()}")
          case "append" =>
            val batch = spark.read.parquet(rest.head)
            ops.Dedup.appendGramIndex(batch, indexDir)
            println(s"[index] appended docs=${batch.count()}")
          case "compact" =>
            val files = rest.headOption.map(_.toInt).getOrElse(32)
            val epoch = ops.Dedup.compactGramIndex(spark, indexDir, files)
            println(s"[index] compacted epoch=$epoch")
          case "stat" =>
            val idx = ops.Dedup.readGramIndex(spark, indexDir)
            println(s"[index] n=${idx.n} docs=${idx.counts.count()} " +
              s"postings=${idx.grams.count()} grams=${idx.gramDf.count()} " +
              s"md5s=${idx.md5s.count()}")
          case a =>
            System.err.println(s"unknown index action: $a"); sys.exit(2)
        }
      case other =>
        System.err.println(s"unknown args: ${other.mkString(" ")}\n" +
          "usage: gen <tableDir> [numConvs] [avgTurns] [zipf] | run <tableDir> <workDir> [mft] | " +
          "pipeline key=value... | materialize <workDir> [asOfBatch] | cep <workDir> | " +
          "sessions <workDir> [gap] | tooljoin <workDir> | " +
          "export <workDir> jsonl|avro|dlq|schema <dest> [compression] | " +
          "lineage <workDir> | monitor <workDir> | diff <workDir> <from> <to> | " +
          "compact <workDir> [upToBatch] | savepoint <workDir> <destDir> | " +
          "ingest <docsDir> <workDir> [minQuality] [knownDir] | " +
          "view <changesDir> <workDir> [watermark] [nBuckets] | " +
          "table <changesDir> <workDir> [watermark] [nBuckets] | " +
          "index build|append|compact|stat <indexDir> [args] | " +
          "ivf build|append|stat <indexDir> [args] | " +
          "pack <docsDir> <workDir> [seqLen]")
        sys.exit(2)
    }
  }
}
