package graft.source

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.ChangeEvent

/** Snapshot-then-incremental change-stream reader (reference semantics:
  * `startup-mode=initial` of the CDC sources,
  * reference config/DatabaseSourceFactory.scala:55-95 — snapshot the table,
  * then tail the log).
  *
  * Spark realization (SURVEY.md §2.1): the "log" is an append-only directory
  * of typed change-event parquet segments; `readStream` over it is the
  * incremental phase. The snapshot phase is spooled once (batch job, cheap,
  * clustered by conv_id) into the same watched directory as `op='r'`
  * envelope files with lsn=0, so ONE streaming query handles both phases
  * and the exactly-once sink sees a single offset/commit lineage — exactly
  * how Debezium's snapshot window behaves.
  *
  * At 100 TB scale the watched directory is the Iceberg/cloud change-file
  * feed; file listing is incremental (FileStreamSource tracks seen files in
  * the checkpoint), and per-trigger volume is bounded with
  * maxFilesPerTrigger so state and shuffle sizes stay constant per batch.
  */
object ChangeStreamReader {

  val envelopeSchema = Encoders.product[ChangeEvent].schema

  /** Spool the snapshot table into the stream dir as op='r' events (lsn=0 so
    * any real change event wins last-writer-wins). Idempotent: skips if the
    * spool marker exists.
    */
  def spoolSnapshot(spark: SparkSession, tableDir: String, streamDir: String,
      numFiles: Int = 8): Unit = {
    val fs = new org.apache.hadoop.fs.Path(streamDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$streamDir/_snapshot_spooled")
    if (fs.exists(marker)) return
    val snap = spark.read.parquet(s"$tableDir/snapshot")
    val asEvents = snap.select(
      lit("r").as("op"),
      (unix_micros(col("ts")) / 1000).cast("long").as("ts_ms"),
      lit(null).cast(envelopeSchema("before").dataType).as("before"),
      struct(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts")).as("after"),
      struct(
        lit(TranscriptGen.Db).as("db"),
        lit(TranscriptGen.Schema).as("schema"),
        lit(TranscriptGen.Table).as("table"),
        (unix_micros(col("ts")) / 1000).cast("long").as("ts_ms"),
        lit("true").as("snapshot"),
        lit(0L).as("lsn")
      ).as("source"),
      lit(null).cast("string").as("historyRecord")
    )
    val tmp = s"$streamDir/.snapshot-tmp"
    asEvents
      .repartition(numFiles, col("after.conv_id"))
      .sortWithinPartitions("after.conv_id", "after.turn_idx")
      .write.mode("overwrite").parquet(tmp)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
    parts.zipWithIndex.foreach { case (st, i) =>
      val dst = new org.apache.hadoop.fs.Path(f"$streamDir/00000-snapshot-$i%03d.parquet")
      // loud rename: a silent false (e.g. dst left by a crashed attempt
      // with a DIFFERENT numFiles layout on an HDFS-like FS) would mix two
      // snapshot layouts and duplicate events
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"snapshot spool rename failed: ${st.getPath} -> $dst")
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.createNewFile(marker)
  }

  /** Copy change segment files into the watched stream dir (simulates log
    * arrival; tests call this between phases).
    */
  def deliverChanges(spark: SparkSession, tableDir: String, streamDir: String,
      phaseFilter: Int => Boolean = _ => true): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(conf)
    val fs = new org.apache.hadoop.fs.Path(streamDir).getFileSystem(conf)
    val changes = src.globStatus(new org.apache.hadoop.fs.Path(s"$tableDir/changes/chg-*.parquet"))
    var n = 0
    changes.foreach { st =>
      val name = st.getPath.getName // chg-PPPP-III.parquet
      val phase = name.stripPrefix("chg-").take(4).toInt
      if (phaseFilter(phase)) {
        val dst = new org.apache.hadoop.fs.Path(s"$streamDir/10000-$name")
        if (!fs.exists(dst)) {
          // copy to a dot-tmp (invisible to FileStreamSource) then rename:
          // a live continuous-mode query must never list a half-copied file
          val tmp = new org.apache.hadoop.fs.Path(s"$streamDir/.tmp-10000-$name")
          org.apache.hadoop.fs.FileUtil.copy(src, st.getPath, fs, tmp, false, conf)
          if (!fs.rename(tmp, dst))
            throw new java.io.IOException(s"change delivery rename failed: $dst")
          n += 1
        }
      }
    }
    n
  }

  /** The incremental (or snapshot+incremental, after spooling) stream. */
  def stream(spark: SparkSession, streamDir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(streamDir)

  /** Batch view of everything currently in the stream dir (oracle input). */
  def batch(spark: SparkSession, streamDir: String): DataFrame =
    spark.read.schema(envelopeSchema).parquet(streamDir)

  // ---------------- raw Debezium-JSON ingest edge ----------------
  //
  // The reference's live path consumes Debezium envelopes as JSON STRINGS
  // (reference src/main/scala/com/example/cdc/main.scala:140,
  // config/DatabaseSourceFactory.scala:68 JsonDebeziumDeserializationSchema).
  // This edge parses each line ONCE with from_json into the same typed
  // envelope the parquet path uses; a malformed line (unparseable JSON, or
  // an envelope failing Router.isValid) keeps its raw string in `_raw` and
  // flows to the error route, mirroring the reference's TableFilter
  // behavior (filters/TableFilter.scala:15-31).

  /** Parse a raw JSON-line DataFrame (column `value`) into the typed
    * envelope + the original string. One narrow from_json per line —
    * downstream never re-parses.
    */
  def parseRawJson(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), envelopeSchema).as("e"), col("value").as("_raw"))
      .select(col("e.*"), col("_raw"))

  /** Streaming read of a JSONL change-log directory. */
  def jsonStream(spark: SparkSession, streamDir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parseRawJson(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger).text(streamDir))

  /** Batch view of a JSONL change-log directory (oracle input). */
  def jsonBatch(spark: SparkSession, streamDir: String): DataFrame =
    parseRawJson(spark.read.text(streamDir))

  /** Write one JSONL log segment into a watched dir (test/simulation aid:
    * the JSON twin of writeChangeFile).
    */
  def writeJsonlSegment(df: DataFrame, streamDir: String, name: String): Unit = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(streamDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$streamDir/.tmp-$name"
    df.toJSON.coalesce(1).write.mode("overwrite").text(tmp)
    fs.mkdirs(new org.apache.hadoop.fs.Path(streamDir))
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$streamDir/$name.jsonl"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
