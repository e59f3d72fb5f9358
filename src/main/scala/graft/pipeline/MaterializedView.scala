package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.CommitLog

/** Shared at-rest mechanics for the two materialized "dynamic table"
  * stores (`MaterializedView`, `MaterializedTable`): content shards into
  * `nBuckets` generation-versioned parquet dirs, and a batch's commit is
  * one atomic marker naming the bucket gens it wrote.
  *
  * Layout:
  *   workDir/data/bucket=B/gen=N/   bucket B's full content as of batch N
  *   workDir/_commits/N             marker for batch N ("B N" lines)
  *   workDir/_commits/epoch-N       the full bucket→gen map as of batch N
  *
  * The markers and epochs are a `CommitLog`. The current store is, per
  * bucket, the gen named by the latest epoch's map with the markers above
  * it folded in batch order; uncommitted gen dirs are invisible by
  * construction. Write order per batch: gen dirs land (a replay overwrites
  * them byte-identically) → marker publishes (THE commit point) → every
  * older gen dir of each touched bucket dies. A crash before that last step
  * leaves stale dirs no marker names; the bucket's next publish deletes
  * them. `compactCommits` folds the marker chain — the store's only
  * per-batch growth — into one epoch.
  */
private[graft] final class BucketStore(spark: SparkSession,
    val workDir: String, val nBuckets: Int, val schema: StructType) {
  require(nBuckets >= 1, "bucket store: nBuckets must be >= 1")

  private val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val log = new CommitLog(fs, new Path(workDir, "_commits"),
    CommitLog.Name(""), Some(CommitLog.Name("epoch-")))
  def genDir(bucket: Long, gen: Long): Path =
    new Path(workDir, s"data/bucket=$bucket/gen=$gen")

  def isCommitted(batchId: Long): Boolean = log.isCommitted(batchId)

  private def parseMap(text: String): Map[Long, Long] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(b, g) = line.trim.split(" ")
      b.toLong -> g.toLong
    }.toMap

  /** (bucket → gen) as of the latest committed batch: the floor epoch's
    * map, then the live markers fold in batch order, later entries
    * superseding earlier ones.
    */
  def bucketGens(s: CommitLog.State = log.state()): Map[Long, Long] =
    s.live.foldLeft(s.floor.fold(Map.empty[Long, Long])(e => parseMap(log.read(log.epoch(e))))) {
      (m, id) => m ++ parseMap(log.read(log.entry(id)))
    }

  /** Fold the marker chain into one epoch file, then retire the markers and
    * older epochs it covers (a crash in between leaves files the fold
    * already skips). Returns the epoch's upper batch id (-1 when nothing
    * has committed).
    */
  def compactCommits(): Long = {
    val s = log.state()
    val upTo = s.highest
    if (upTo >= 0) {
      log.publishEpoch(upTo,
        bucketGens(s).toSeq.sortBy(_._1).map { case (b, g) => s"$b $g" }.mkString("\n"))
      log.retire(upTo, s)
    }
    upTo
  }

  private def emptyDf: DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** Read the committed content of `buckets` (all when None). A recorded
    * bucket whose gen dir is absent is EMPTY as of that gen — not a
    * fallback to older content.
    */
  def read(buckets: Option[Seq[Long]] = None): DataFrame = {
    val gens = bucketGens()
    val picked = buckets.fold(gens.toSeq)(bs => bs.flatMap(b => gens.get(b).map(b -> _)))
    val dirs = picked.map { case (b, g) => genDir(b, g) }
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty) emptyDf
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Write `content` (which must carry a `bucket` column over exactly
    * `touched`) as gen `batchId` of the touched buckets and commit
    * atomically. Empty batches (touched empty) commit a bare marker so a
    * replay after a crash here still short-circuits.
    */
  def publish(batchId: Long, touched: Seq[Long], content: DataFrame): Unit = {
    // one write job per touched bucket — a replay overwrites
    // byte-identically; untouched buckets are never opened. A bucket
    // whose new content is EMPTY still commits (parquet leaves a dir
    // with no rows — read yields 0 rows, which is exactly the truth).
    touched.foreach { b =>
      content.where(col("bucket") === b)
        .select(schema.fieldNames.map(col): _*)
        .write.mode("overwrite").parquet(genDir(b, batchId).toString)
    }
    log.publish(batchId, touched.map(b => s"$b $batchId").mkString("\n"))
    // every older gen of a touched bucket, the one the previous marker
    // named and any a crash left behind, from one listing of the bucket
    val gen = """gen=(\d+)""".r
    touched.foreach { b =>
      fs.listStatus(genDir(b, batchId).getParent).foreach { st =>
        st.getPath.getName match {
          case gen(g) if g.toLong < batchId => fs.delete(st.getPath, true)
          case _ =>
        }
      }
    }
  }
}

/** Materialized AGGREGATE-VIEW maintenance: fold a changelog's retraction
  * deltas (`Retractions.retractStream`) into an at-rest per-group
  * aggregate table, exactly-once — the end-to-end "dynamic table" a CDC
  * pipeline exists to keep fresh (the reference's changelog feeds exactly
  * this consumer shape; here the whole loop is one engine: changelog →
  * per-key state → deltas → incrementally-folded view).
  *
  * Groups shard by xxhash64(grp); a micro-batch rewrites ONLY the buckets
  * its deltas touch — per-batch work is O(|touched groups' buckets|),
  * never O(|view|), so a 10^9-group view absorbs a small batch by
  * reading+rewriting a handful of bucket files. Exactly-once per batch:
  *   1. net deltas fold per group (all-zero nets dropped — an untouched
  *      bucket is never rewritten);
  *   2. the touched buckets' CURRENT rows (committed gens only) merge
  *      with the nets; groups folding to n_keys == 0 are dropped (a
  *      bucket can legitimately become empty — its marker entry records
  *      that, so read cannot fall back to an older gen and resurrect
  *      dead groups);
  *   3–5. `BucketStore.publish` (gen dirs → atomic marker → cleanup).
  * A crash anywhere before the marker leaves the view at batch N−1
  * exactly; the checkpoint replays batch N and every step is idempotent
  * (the deltas replay deterministically from the state checkpoint and
  * the fold reads only gens committed < N).
  */
final class MaterializedView(spark: SparkSession, workDir: String,
    nBuckets: Int = 64) {

  val viewSchema: StructType = StructType(Seq(
    StructField("grp", StringType), StructField("n_keys", LongType),
    StructField("sum_v", LongType)))

  private val store = new BucketStore(spark, workDir, nBuckets, viewSchema)

  def isCommitted(batchId: Long): Boolean = store.isCommitted(batchId)

  /** Fold the marker chain into one epoch file (`BucketStore.compactCommits`). */
  def compactCommits(): Long = store.compactCommits()

  /** The view as of the latest committed batch (empty, schema-stable,
    * when nothing has committed).
    */
  def read(): DataFrame = store.read()

  /** Fold one batch of deltas (columns grp, d_keys, d_sum) into the view.
    * Idempotent per batchId; see class doc for the crash-window argument.
    */
  def applyDeltas(batchId: Long, deltas: DataFrame): Unit = {
    if (isCommitted(batchId)) return
    val bkt = pmod(xxhash64(col("grp")), lit(nBuckets.toLong))
    val net = deltas.groupBy(col("grp"))
      .agg(sum(col("d_keys")).as("n_keys"), sum(col("d_sum")).as("sum_v"))
      .where(col("n_keys") =!= 0 || col("sum_v") =!= 0)
      .withColumn("bucket", bkt)
      .persist()
    try {
      val touched = net.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).sorted // ≤ nBuckets by construction
      if (touched.nonEmpty) {
        val cur = store.read(Some(touched.toSeq))
        val merged = cur.select(col("grp"), col("n_keys"), col("sum_v"))
          .unionByName(net.select(col("grp"), col("n_keys"), col("sum_v")))
          .groupBy(col("grp"))
          .agg(sum(col("n_keys")).as("n_keys"), sum(col("sum_v")).as("sum_v"))
          .where(col("n_keys") > 0)
          .withColumn("bucket", bkt)
          .persist()
        try store.publish(batchId, touched.toSeq, merged)
        finally { merged.unpersist(); () }
      } else store.publish(batchId, Seq.empty, net)
    } finally { net.unpersist(); () }
  }
}

/** Materialized CURRENT-TABLE maintenance: the per-KEY row store the
  * aggregate view summarizes — the LWW table kept fresh at rest (the
  * compacted-topic / upsert-sink shape). `CdcPipeline.materialize`
  * computes LWW over the full committed log on every read; this is its
  * O(delta)-per-batch twin: each micro-batch folds only the keys it
  * sealed, into only the buckets those keys hash to.
  *
  * Consumes `Retractions.rowDeltaStream` (the sealed changelog): per-key
  * delta order is monotone across batches — the watermark only advances —
  * so the merge REPLACES blindly: the last delta per key per batch is the
  * newest, stored rows of batch keys are superseded, deletes drop the
  * row. Same bucket/gen/marker exactly-once mechanics as the view.
  */
final class MaterializedTable(spark: SparkSession, workDir: String,
    nBuckets: Int = 64) {

  val tableSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("grp", StringType),
    StructField("v", LongType), StructField("ts_us", LongType),
    StructField("tie", LongType)))

  private val store = new BucketStore(spark, workDir, nBuckets, tableSchema)

  def isCommitted(batchId: Long): Boolean = store.isCommitted(batchId)

  /** Fold the marker chain into one epoch file (`BucketStore.compactCommits`). */
  def compactCommits(): Long = store.compactCommits()

  /** The current table as of the latest committed batch. */
  def read(): DataFrame = store.read()

  /** Fold one batch of sealed row deltas (columns k, ts_us, tie, del,
    * grp, v) into the store. Idempotent per batchId.
    */
  def applyRowDeltas(batchId: Long, deltas: DataFrame): Unit = {
    if (isCommitted(batchId)) return
    val bkt = pmod(xxhash64(col("k")), lit(nBuckets.toLong))
    // the newest sealed change per key in THIS batch decides its row
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("ts_us").desc, col("tie").desc)
    val last = deltas.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
      .withColumn("bucket", bkt)
      .persist()
    try {
      val touched = last.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).sorted
      if (touched.nonEmpty) {
        val cur = store.read(Some(touched.toSeq))
        // stored rows of batch keys are superseded (anti-join), the
        // batch's survivors (non-deletes) take their place
        val merged = cur
          .join(last.select(col("k")), Seq("k"), "left_anti")
          .unionByName(last.where(!col("del"))
            .select(col("k"), col("grp"), col("v"), col("ts_us"), col("tie")))
          .withColumn("bucket", pmod(xxhash64(col("k")), lit(nBuckets.toLong)))
          .persist()
        try store.publish(batchId, touched.toSeq, merged)
        finally { merged.unpersist(); () }
      } else store.publish(batchId, Seq.empty, last)
    } finally { last.unpersist(); () }
  }
}

object MaterializedView {

  /** Start the end-to-end loop: changelog file stream → watermarked
    * retraction deltas → exactly-once bucket-wise view folds. The
    * changelog schema must carry (`keyCol`, `tsCol`, `tieCol`, `opCol`,
    * `groupCol`, `valueCol`) — the `Retractions.changeEvents` contract.
    */
  def start(spark: SparkSession, changesDir: String, schema: StructType,
      workDir: String, ckDir: String, watermark: String = "60 seconds",
      keyCol: String = "user_id", tsCol: String = "ts", tieCol: String = "event_id",
      opCol: String = "op", groupCol: String = "grp", valueCol: String = "v",
      nBuckets: Int = 64, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val view = new MaterializedView(spark, workDir, nBuckets)
    val deltas = Retractions.retractStream(
      changeStream(spark, changesDir, schema, watermark, keyCol, tsCol,
        tieCol, opCol, groupCol, valueCol, maxFilesPerTrigger))
    deltas.toDF()
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        view.applyDeltas(batchId, batch)
      }
      .start()
  }

  /** Same loop, row-store flavor: sealed changelog → exactly-once
    * bucket-wise LWW row folds (`MaterializedTable`).
    */
  def startTable(spark: SparkSession, changesDir: String, schema: StructType,
      workDir: String, ckDir: String, watermark: String = "60 seconds",
      keyCol: String = "user_id", tsCol: String = "ts", tieCol: String = "event_id",
      opCol: String = "op", groupCol: String = "grp", valueCol: String = "v",
      nBuckets: Int = 64, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val tbl = new MaterializedTable(spark, workDir, nBuckets)
    val deltas = Retractions.rowDeltaStream(
      changeStream(spark, changesDir, schema, watermark, keyCol, tsCol,
        tieCol, opCol, groupCol, valueCol, maxFilesPerTrigger))
    deltas.toDF()
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tbl.applyRowDeltas(batchId, batch)
      }
      .start()
  }

  private def changeStream(spark: SparkSession, changesDir: String,
      schema: StructType, watermark: String, keyCol: String, tsCol: String,
      tieCol: String, opCol: String, groupCol: String, valueCol: String,
      maxFilesPerTrigger: Int) = {
    // parquet changelogs often carry TIMESTAMP_NTZ (the test tables do);
    // watermarks require TIMESTAMP. The session TZ is pinned UTC
    // everywhere, so the cast is the identity on the microsecond line —
    // and it happens BEFORE the watermark, so the event-time metadata
    // lands on the attribute `changeEvents` selects uncast.
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(changesDir)
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
    Retractions.changeEvents(stream, keyCol, tsCol, tieCol, opCol,
      groupCol, valueCol)
  }
}
