package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, TextAnalysis}
import graft.sink.ExactlyOnceSink

/** Streaming corpus ingestion: the engine's exactly-once streaming
  * machinery applied to the training-data domain — documents arrive as a
  * file stream, each micro-batch is scrubbed, quality-gated, deduped
  * against the KNOWN corpus (stream-static anti-join) and within the
  * stream (content-hash dedup), then committed atomically through the
  * manifest sink. The two halves of this engine composed: the corpus
  * operators curate, the CDC sink makes it exactly-once and resumable.
  *
  * Envelope mapping (the sink's lineage made MEANINGFUL for documents):
  * `src_table` = the document's source — so the sink's existing partition
  * fan-out becomes per-source corpus directories and
  * `readCommitted("events", table = Some(src))` is a partition-pruned
  * per-source read; lineage lsn = doc_id — so each manifest row records
  * the exact id RANGE each source contributed per batch (the corpus
  * audit/backfill primitive); `p_date` = a caller-fixed ingest date
  * (crawl date in a real deployment) — a fixed literal keeps replays
  * byte-identical, which the sink's idempotent re-commit depends on.
  *
  * Scale: curation is narrow (scrub/quality/hash compute scan-side); the
  * stream-static known-hash join and the in-stream `dropDuplicates` on
  * the content hash shuffle 16-byte hashes. The in-stream dedup holds one
  * state row per distinct hash FOREVER unless documents carry an event
  * time — pass `eventTimeCol` (+ `dedupWatermark`) to switch to
  * `dropDuplicatesWithinWatermark`, which expires state past the
  * watermark (the only scale-safe mode at 100 TB of ingest; the unbounded
  * mode remains for timestamp-less fixtures). The optional NEAR-dup stage
  * (`nearThreshold`) runs batch-side inside foreachBatch: each micro-batch
  * is the "new day" of `Dedup.incrementalDedupIdsIndexed` against the
  * known-corpus gram index, so near-verbatim re-crawls are dropped
  * in-stream, not at the next batch dedup pass. Pass `nearIndexDir` (a
  * `Dedup.writeGramIndex` directory) so the corpus side is the STORED
  * index — without it the index plan recomputes from `known` per
  * micro-batch, which is fixture-only.
  */
object CorpusIngest {

  /** The curation transform alone (engine-neutral, runs identically in
    * batch — the streaming==batch test exploits this): scrub → quality
    * gate → drop known content → content hash.
    */
  def curate(docs: DataFrame, known: DataFrame,
      minQuality: Double = 0.5): DataFrame = {
    val scrubbed = docs.withColumn("text", TextAnalysis.scrub(col("text")))
    val gated = scrubbed
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(col("quality") >= minQuality)
    Joins.streamStaticDedup(gated, known)
      .withColumn("content_md5", md5(col("text")))
  }

  /** Gram index over the known corpus for the near-dup stage. The known
    * side may have no ids (it's a text set), so postings are keyed by
    * content md5 over distinct texts — deterministic, and exactly one
    * "corpus doc" per distinct known text.
    */
  def knownGramIndex(known: DataFrame, n: Int = 3,
      textCol: String = "text"): Dedup.GramIndex = {
    // dedupe by the 16-byte content hash, not by raw text — the exchange
    // then partitions on kid (q11/q12 hash-key convention; distinct(text)
    // would key a corpus-wide shuffle by the text itself)
    val docs = known.select(md5(col(textCol)).as("kid"), col(textCol).as("text"))
      .dropDuplicates("kid")
    Dedup.gramIndexOf(docs, n, idCol = "kid", textCol = "text")
  }

  /** The batch-side near-dup stage: keep curated docs that survive
    * `incrementalDedupIdsIndexed` against the known-corpus index (exact
    * stage included — redundant with `curate`'s anti-join but exact-stage
    * hashes are cheap and the redundancy keeps the two entry points
    * equivalent by construction).
    */
  def nearStage(curated: DataFrame, idx: Dedup.GramIndex,
      threshold: Double, maxGramDf: Int = Int.MaxValue): DataFrame =
    curated.join(
      Dedup.incrementalDedupIdsIndexed(curated, idx, threshold, maxGramDf),
      Seq("doc_id"), "left_semi")

  /** Batch form of the full curation INCLUDING the near stage (the q56
    * oracle target; the streaming path applies `nearStage` per micro-batch
    * inside foreachBatch, so streaming == batch here too).
    */
  def curateNear(docs: DataFrame, known: DataFrame, minQuality: Double = 0.5,
      nearThreshold: Double = 0.6, n: Int = 3,
      maxGramDf: Int = Int.MaxValue): DataFrame =
    nearStage(curate(docs, known, minQuality), knownGramIndex(known, n),
      nearThreshold, maxGramDf)

  /** Map curated documents into the exactly-once sink's envelope (see
    * class doc for why each column is what it is).
    */
  private def envelope(curated: DataFrame, ingestDate: String): DataFrame =
    curated
      .withColumn("route", lit("data"))
      .withColumn("src_table", col("source"))
      .withColumn("p_date", to_date(lit(ingestDate)))
      .withColumn("ts_ms", col("doc_id"))

  /** Start the streaming ingest. Exactly-once: a batch already in the
    * manifest is skipped whole (replays re-commit byte-identical content),
    * so crash/resume from `ckDir` never duplicates a document.
    */
  def start(spark: SparkSession, docsDir: String, docSchema: StructType,
      known: DataFrame, outDir: String, ckDir: String,
      minQuality: Double = 0.5, ingestDate: String = "1970-01-01",
      maxFilesPerTrigger: Int = 4,
      eventTimeCol: Option[String] = None,
      dedupWatermark: String = "0 seconds",
      nearThreshold: Option[Double] = None,
      nearIndexDir: Option[String] = None,
      nearN: Int = 3, nearMaxGramDf: Int = Int.MaxValue): StreamingQuery = {
    val sink = new ExactlyOnceSink(spark, outDir)
    // the near stage's corpus side: the stored index when given (the
    // scale path — micro-batches join pre-hashed postings), else a lazy
    // index plan over `known` (recomputed per batch — fixture-only)
    val nearIdx = nearThreshold.map { _ =>
      nearIndexDir.fold(knownGramIndex(known, nearN))(d =>
        Dedup.readGramIndex(spark, d))
    }
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(docsDir)
    val curated = curate(stream, known, minQuality)
    // bounded in-stream dedup state when documents carry an event time:
    // state rows expire past the watermark instead of living forever
    val deduped = eventTimeCol match {
      case Some(tc) => curated.withWatermark(tc, dedupWatermark)
        .dropDuplicatesWithinWatermark("content_md5")
      case None => curated.dropDuplicates("content_md5")
    }
    deduped
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!sink.isCommitted(batchId)) {
          // the near stage references the micro-batch several times (hash
          // probe, gram explode, count join) — cache it so the source scan
          // + curation run once per batch, not once per reference
          val near = (nearThreshold, nearIdx) match {
            case (Some(t), Some(idx)) =>
              nearStage(batch.persist(), idx, t, nearMaxGramDf)
            case _ => batch
          }
          // lineage first, then the count-ranged write, over the envelope
          // computed once (the dedup state commits once per batch)
          try ExactlyOnceSink.computedOnce(envelope(near, ingestDate)) { env =>
            val lineage = ExactlyOnceSink.lineage(ExactlyOnceSink.lineageRows(env, col("doc_id")))
            sink.writeBatch(batchId, env, lineage.map(l => l._1 -> l._2).toMap)
            sink.commit(batchId, lineage)
          } finally { batch.unpersist(); () }
        }
      }
      .start()
  }
}
