package graft

/** Multi-executor-JVM equality check: run a kernel- and shuffle-heavy
  * subset of the battery under `local-cluster[2,2,...]` — SEPARATE
  * executor JVMs, real serialization boundaries, extension resolution in
  * executors — and compare row-for-row against the local-mode outputs a
  * prior `graft.Verify` run wrote. local[32] hides whole failure classes
  * (closure capture, kernel registration via SparkSessionExtensions in
  * fresh executor JVMs, codegen class shipping); this is the cheap hard
  * signal that the plans run beyond one JVM.
  *
  * Usage:
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt -batch "runMain graft.ClusterCheck <sfDir> <verifyOutDir>"
  * (both env vars are required: local-cluster workers launch executor
  * JVMs from the distribution's scripts). Exits 3 on any mismatch.
  */
object ClusterCheck {

  /** Chosen to cover every custom-kernel family (word_ngrams, simhash60,
    * hash_embed/lsh_band_keys/dot_i64, fingerprint-windows, dot_f64 +
    * centroid_dists, top_bigram_frac), the window/shuffle shapes, and the
    * eager driver-aggregate operators (union-find clustering, mixture
    * counts, budget bins).
    */
  val Subset: Seq[String] = Seq(
    "q1_agg", "q4_topk", "q12_minhash_lsh", "q13_simhash", "q22_emb_dedup",
    "q26_dedup_clusters", "q29_repetition", "q39_substring_dedup",
    "q43_knn_bucketed", "q44_pack_shards", "q45_mixture_balance",
    "q48_length_outliers", "q49_token_budget", "q51_centroid_classify",
    "q52_assembly", "q54_span_removal",
    // at-rest index round-trips read from SEPARATE executor JVMs (the
    // stored gram index and the cid-partitioned IVF index)
    "q55_incremental_indexed", "q57_ann_ivf_persisted",
    // round-6 additions: SCD2 keyed window, the centroid-blocked cosine
    // self-join (centroid_dists in a replicate/join shape), winnowing's
    // frame-aggregate selection, and the decimal-plane novelty flags
    "q58_scd2", "q59_semantic_dedup", "q61_winnow", "q62_gram_novelty",
    // per-key ordered windows over events: the transition bigrams and the
    // changelog current-table aggregate (retraction algebra's batch form)
    "q63_event_bigrams", "q64_retract_agg",
    // the id-axis binned cumsum (driver bin offsets broadcast back into
    // executor JVMs) under real serialization boundaries
    "q68_pack_sequences",
    // the at-rest IVF index probed as a corpus-scale JOIN from separate
    // executor JVMs, and the two-changelog LWW join aggregate
    "q70_knn_persisted", "q71_join_aggregate")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    val ordered = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    ordered.collect().map(_.mkString("|")).toSeq.sorted
  }

  /** Write `df` as the single parquet file `<base>/stream/<name>.parquet`:
    * one file per trigger for a stream read with maxFilesPerTrigger = 1.
    */
  private def streamFile(df: org.apache.spark.sql.DataFrame, base: String, name: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = s"$base/.tmp-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/stream"))
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$base/stream/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, localOut) = args
    val spark = GraftSession.cluster(2, 2, 3072, "graft-clustercheck")
    var failed = 0
    Subset.foreach { name =>
      try {
        val got = canon(SparkEntry.queries(name)(spark, sfDir))
        val want = canon(spark.read.parquet(s"$localOut/$name"))
        if (got == want) println(s"[clustercheck] $name OK rows=${got.size}")
        else {
          failed += 1
          println(s"[clustercheck] $name MISMATCH got=${got.size} want=${want.size} " +
            s"firstDiff=${got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse("")}")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[clustercheck] $name FAILED ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(160)}")
      } finally spark.catalog.clearCache()
    }
    // CDC under separate executor JVMs: snapshot + incremental replay
    // through the exactly-once sink (RocksDB state, manifest 2PC, salted
    // range-partitioned writes all crossing real JVM boundaries), then
    // LWW materialization must equal the generator's batch oracle with
    // PER-TURN TEXT EQUALITY — the north-rule invariant itself, checked
    // beyond one JVM.
    val cdcOk = try {
      val cfg = graft.source.TranscriptGen.GenConfig(
        numConvs = 150, avgTurns = 10, seed = 42L, changeFiles = 3,
        changeEventsPerTurn = 0.5, malformedFrac = 0.03, schemaChangeFrac = 0.03)
      val base = s"/tmp/graft-clustercheck-${System.nanoTime()}"
      graft.source.TranscriptGen.writeTable(spark, cfg, s"$base/table")
      graft.source.ChangeStreamReader.deliverChanges(spark, s"$base/table", s"$base/stream")
      graft.pipeline.CdcPipeline.runAvailable(spark, s"$base/table", s"$base/stream",
        s"$base/out", s"$base/ck", maxFilesPerTrigger = 4)
      val got = canon(graft.pipeline.CdcPipeline.materialize(spark, s"$base/out").toDF())
      val want = canon(graft.source.TranscriptGen.finalState(spark, cfg).toDF())
      val ok = got == want
      println(s"[clustercheck] cdc_replay ${if (ok) "OK" else "MISMATCH"} rows=${got.size}")
      ok
    } catch {
      case e: Throwable =>
        println(s"[clustercheck] cdc_replay FAILED ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
        false
    }
    if (!cdcOk) failed += 1
    // Streaming corpus ingestion under separate executor JVMs: file stream
    // → curate (scrub/quality/known anti-join) → NEAR-dup stage (gram-index
    // joins crossing real serialization boundaries) → in-stream dedup →
    // exactly-once manifest sink → readCommitted, compared against the
    // deterministic batch form of the same curation (the streaming==batch
    // invariant CorpusIngestSpec pins in local mode, here proven beyond
    // one JVM).
    import org.apache.spark.sql.functions.col
    val ingestOk = try {
      val base = s"/tmp/graft-clustercheck-ingest-${System.nanoTime()}"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .where(col("doc_id") < 300)
      val known = docs.where(col("doc_id") % 50 === 0)
        .select(graft.ops.TextAnalysis.scrub(col("text")).as("text"))
      Seq("f1" -> docs.where(col("doc_id") < 150),
          "f2" -> docs.where(col("doc_id") >= 150)).foreach { case (name, df) =>
        streamFile(df, base, name)
      }
      graft.pipeline.CorpusIngest.start(spark, s"$base/stream", docs.schema,
        known, s"$base/out", s"$base/ck", minQuality = 0.5,
        maxFilesPerTrigger = 1, nearThreshold = Some(0.6))
        .awaitTermination()
      val sink = new graft.sink.ExactlyOnceSink(spark, s"$base/out")
      val got = sink.readCommitted("events").get
        .select("content_md5").collect().map(_.getString(0)).toSet
      val want = graft.pipeline.CorpusIngest
        .curateNear(docs, known, minQuality = 0.5, nearThreshold = 0.6)
        .dropDuplicates("content_md5")
        .select("content_md5").collect().map(_.getString(0)).toSet
      val ok = got == want && got.nonEmpty
      println(s"[clustercheck] ingest_replay ${if (ok) "OK" else "MISMATCH"} rows=${got.size}")
      ok
    } catch {
      case e: Throwable =>
        println(s"[clustercheck] ingest_replay FAILED ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
        false
    }
    if (!ingestOk) failed += 1
    // Materialized dynamic-table stores under separate executor JVMs:
    // changelog file stream → watermark-sealed per-key state → retraction
    // deltas / sealed row deltas → bucket-wise exactly-once folds
    // (foreachBatch driver FS commits + executor-side shuffles crossing
    // real JVM boundaries), compared against the sealed-prefix batch
    // equivalents computed in the same session.
    import org.apache.spark.sql.functions.{floor, lit, max, pmod, row_number, unix_micros, when}
    val viewOk = try {
      val base = s"/tmp/graft-clustercheck-view-${System.nanoTime()}"
      val ch = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"),
          when(col("event_id") % 17 === 0, lit("D")).otherwise(lit("U")).as("op"),
          col("event_type").as("grp"), (col("event_id") % 997).as("v"))
      Seq("f1" -> ch.where(col("user_id") % 2 === 0),
          "f2" -> ch.where(col("user_id") % 2 === 1)).foreach { case (name, df) =>
        streamFile(df, base, name)
      }
      graft.pipeline.MaterializedView.start(spark, s"$base/stream", ch.schema,
        s"$base/view", s"$base/ck1", nBuckets = 8).awaitTermination()
      graft.pipeline.MaterializedView.startTable(spark, s"$base/stream", ch.schema,
        s"$base/table", s"$base/ck2", nBuckets = 8).awaitTermination()
      // the sealed prefix at the final watermark: Spark computes
      // wm_ms = floor(max_event_us / 1000) - delay_ms, sealing ts_ms < wm
      val maxMs = ch.agg(max(floor(unix_micros(col("ts")) / 1000))).first().getLong(0)
      val sealedCh = ch.where(floor(unix_micros(col("ts")) / 1000) < maxMs - 60000L)
      val wantView = canon(graft.pipeline.Retractions.currentAggregate(
        sealedCh, "user_id", "ts", "event_id", "op", "grp", "v"))
      val gotView = canon(
        new graft.pipeline.MaterializedView(spark, s"$base/view", 8).read())
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val wantTbl = canon(sealedCh.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1 && col("op") =!= "D")
        .select(col("user_id").as("k"), col("grp"), col("v")))
      val gotTbl = canon(new graft.pipeline.MaterializedTable(spark, s"$base/table", 8)
        .read().select(col("k"), col("grp"), col("v")))
      val ok = gotView == wantView && gotView.nonEmpty &&
        gotTbl == wantTbl && gotTbl.nonEmpty
      println(s"[clustercheck] view_fold ${if (ok) "OK" else "MISMATCH"} " +
        s"groups=${gotView.size} keys=${gotTbl.size}")
      ok
    } catch {
      case e: Throwable =>
        println(s"[clustercheck] view_fold FAILED ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
        false
    }
    if (!viewOk) failed += 1
    // Stream-stream join under separate executor JVMs: the watermarked
    // tool-call/response join over two turn files, its state in one RocksDB
    // store per partition (virtual column families, join state format v3),
    // compared row for row with the batch join of the same turns.
    val joinOk = try {
      import spark.implicits._
      val base = s"/tmp/graft-clustercheck-join-${System.nanoTime()}"
      val cfg = graft.source.TranscriptGen.GenConfig(numConvs = 120, avgTurns = 15, seed = 11L)
      // split on event time, so no row of the second file is late against
      // the watermark the first one leaves
      val turns = graft.source.TranscriptGen.events(spark, cfg)
        .filter(_.event.op.exists(o => o == "r" || o == "c")).map(_.event.after.get)
        .collect().toSeq
      val (first, second) = turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
        .splitAt(turns.size / 2)
      Seq("f1" -> first, "f2" -> second).foreach { case (name, rows) =>
        streamFile(spark.createDataset(rows).toDF(), base, name)
      }
      val schema = org.apache.spark.sql.Encoders.product[graft.model.Turn].schema
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/stream")
      val q = graft.pipeline.Joins.toolCallResponse(stream, "10 minutes", Some("30 seconds"))
        .writeStream.outputMode("append").format("memory").queryName("clustercheck_tool_join")
        .option("checkpointLocation", s"$base/ck").start()
      q.processAllAvailable(); q.stop()
      val stores = q.recentProgress.flatMap(_.stateOperators).map(_.numStateStoreInstances)
        .distinct.toSeq
      val got = canon(spark.table("clustercheck_tool_join"))
      val want = canon(graft.pipeline.Joins.toolCallResponse(
        spark.createDataset(turns).toDF(), "10 minutes"))
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
      val ok = got == want && got.nonEmpty && stores == Seq(partitions)
      println(s"[clustercheck] tool_join ${if (ok) "OK" else "MISMATCH"} rows=${got.size} " +
        s"stores=${stores.mkString(",")}")
      ok
    } catch {
      case e: Throwable =>
        println(s"[clustercheck] tool_join FAILED ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
        false
    }
    if (!joinOk) failed += 1
    spark.stop()
    println(s"[clustercheck] ${Subset.size + 4 - failed}/${Subset.size + 4} equal to local-mode/oracle")
    if (failed > 0) sys.exit(3)
  }
}
