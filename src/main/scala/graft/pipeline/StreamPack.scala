package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.CommitLog

/** CONTINUOUS sequence packing: documents arrive as a file stream and are
  * packed onto one global token tape cut into fixed `seqLen`-token
  * training sequences — the streaming form of `Corpus.packSequences`
  * (q68), with the tape POSITION persisted across batches and restarts.
  * The production shape of pretraining-data assembly: a crawler keeps
  * delivering; the sequence manifest keeps extending; nothing is ever
  * re-packed.
  *
  * Ordering contract: the tape concatenates documents in (arrival batch,
  * doc_id within the batch) order — arrival defines the tape, exactly as
  * a production packer consumes its queue. When files arrive in id order
  * the result equals the batch operator (the spec pins this).
  *
  * Exactly-once, the engine's usual discipline:
  *   - per batch: offsets = `packSequencesFrom(batch, seqLen, cursor)`
  *     (the q68 two-pass binned cumsum, started at the persisted cursor);
  *     manifest rows land under `seqs/batch=N/` (a replay overwrites them
  *     byte-identically — same input from the checkpoint, same cursor
  *     from the committed chain);
  *   - the commit marker `_commits/N` carries the ADVANCED cursor and
  *     publishes atomically AFTER the rows — a crash between leaves an
  *     invisible batch dir that the replay overwrites;
  *   - the cursor of record is the LATEST committed marker's; a batch
  *     whose docs all filter out still commits (cursor unchanged).
  *
  * A sequence at a batch boundary is PARTIAL in both batches' manifests
  * (each records the tokens it contributed); `readManifest` folds by
  * seq_id — sum of contributions, min/max doc ids — so the aggregated
  * view equals the one-shot batch result. Scale: per-batch work is the
  * q68 shape (bounded driver bin sums + narrow explode); the manifest
  * store grows one small dir per batch — compact downstream if batches
  * are tiny.
  */
object StreamPack {

  /** The cursor log: `_commits/N` holds the cursor after batch N. */
  private def log(spark: SparkSession, workDir: String) = new CommitLog(
    new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration),
    new Path(workDir, "_commits"), CommitLog.Name(""))

  def isCommitted(spark: SparkSession, workDir: String, batchId: Long): Boolean =
    log(spark, workDir).isCommitted(batchId)

  /** (latest committed batch, its cursor); (-1, 0) before any commit. */
  def cursor(spark: SparkSession, workDir: String): (Long, Long) = {
    val l = log(spark, workDir)
    l.state().entries.lastOption.fold((-1L, 0L))(id => (id, l.read(l.entry(id)).trim.toLong))
  }

  /** The folded manifest: one row per sequence across all committed
    * batches (boundary sequences sum their per-batch contributions).
    */
  def readManifest(spark: SparkSession, workDir: String): DataFrame = {
    val dirs = log(spark, workDir).state().entries
      .map(b => new Path(workDir, s"seqs/batch=$b").toString)
    val schema = StructType(Seq("seq_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .map(StructField(_, LongType)))
    val raw = if (dirs.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(dirs: _*)
    raw.groupBy(col("seq_id"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("first_doc")).as("first_doc"), max(col("last_doc")).as("last_doc"))
  }

  /** Fold one batch: pack from the committed cursor, publish rows, then
    * the cursor marker (the atomic commit point). Idempotent per batchId.
    */
  def applyBatch(spark: SparkSession, workDir: String, batchId: Long,
      docs: DataFrame, seqLen: Int, binBits: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val l = log(spark, workDir)
    if (l.isCommitted(batchId)) return
    val (_, cur) = cursor(spark, workDir)
    val (manifest, batchTokens) = graft.ops.Corpus.packSequencesFrom(
      docs, seqLen, baseOffset = cur, binBits, idCol, textCol)
    manifest.write.mode("overwrite")
      .parquet(new Path(workDir, s"seqs/batch=$batchId").toString)
    l.publish(batchId, (cur + batchTokens).toString)
  }

  /** Start the continuous packer over a parquet document file stream. */
  def start(spark: SparkSession, docsDir: String, schema: StructType,
      workDir: String, ckDir: String, seqLen: Int,
      maxFilesPerTrigger: Int = 1, binBits: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, workDir, batchId, batch, seqLen, binBits,
          idCol, textCol)
      }
      .start()
}
