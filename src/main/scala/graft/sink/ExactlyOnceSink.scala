package graft.sink

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.storage.StorageLevel

import graft.util.CommitLog

/** Idempotent exactly-once file sink with per-partition commit lineage
  * (SURVEY.md §7.4).
  *
  * The reference achieves exactly-once with Flink's FileSink two-phase
  * commit driven by checkpoints (reference sink/S3Sink.scala:151
  * `OnCheckpointRollingPolicy`; main.scala:251 EXACTLY_ONCE). The Spark
  * recast: inside `foreachBatch`, each micro-batch writes its output under a
  * `batch=<batchId>` directory with overwrite semantics, then atomically
  * publishes a manifest file `_manifest/batch-<id>.json` (temp + rename).
  * Readers only see manifest-listed directories, so:
  *
  *   - crash BEFORE manifest rename → directory is invisible; on restart
  *     Structured Streaming replays the same batchId with the same input
  *     files (offset WAL) and the overwrite rewrites it byte-equivalently;
  *   - crash AFTER rename → `isCommitted` short-circuits the replay (no
  *     duplicate output).
  *
  * Throughput/scaling design (measured — see BENCH/BASELINE.md history):
  * ONE write job per batch. The three logical outputs (data / error /
  * schema-change — the reference's side outputs) are a `route` partition
  * column; the physical time bucket is `p_date` ONLY (≙ the reference's
  * DateTimeBucketAssigner dirs, coarsened) — `p_hour` stays a data column
  * pruned by parquet min/max stats, Iceberg-style, because long-running
  * conversations make hourly dir cardinality explode (measured: a months-
  * spanning hot conversation turned one batch into thousands of tiny files
  * and a 48 s write). The naive alternative (3 filtered writes, tasks ×
  * dirs files) made 32 cores SLOWER than 8.
  *
  * Count first, then commit (the order of Flink's two-phase-commit sink):
  * the writer computes the per-(route, table, date) lineage — row counts
  * and [minLsn, maxLsn], the per-partition offset lineage the north rule
  * requires — in ONE aggregate straight off its input, before the write.
  * The exact counts lay out the write's partition slots (`slotted`), and
  * the same lineage is published by `commit`; the written files are never
  * re-read. Both passes read the batch's rows computed once
  * (`computedOnce`).
  */
final class ExactlyOnceSink(spark: SparkSession, val outDir: String,
    maxRecordsPerFile: Long = 0L,
    rollingFileSizeBytes: Long = 0L) extends Serializable {

  private def fs: FileSystem =
    new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Observed parquet bytes per row across the batches committed so far —
    * drives the size-based rolling policy (reference S3Sink rolls files at
    * `rollingFileSize` bytes; Spark's writer caps RECORDS per file, so the
    * byte target is converted with this measured rate). Includes per-file
    * overhead (footer/dictionary), which biases the derived cap DOWN —
    * i.e. files land under the byte target, never past it. On a RESUMED
    * pipeline the rate is recovered from the latest committed batch
    * (file listing + its manifest's row counts — no data read), so only
    * the very first batch of a brand-new sink runs on the
    * `BootstrapRowBytes` estimate; that estimate deliberately
    * OVERestimates typical rows (4 KiB) because the failure directions
    * are asymmetric — too-high ⇒ smaller-than-target files (harmless),
    * too-low ⇒ the first batch overshoots the byte target by
    * actual/estimate ×.
    */
  @volatile private var observedRowBytes: Double = 0.0

  private val BootstrapRowBytes = 4096.0

  /** The per-file record cap for the next write: the explicit record cap,
    * the byte-derived cap, or the tighter of the two.
    */
  private def effectiveMaxRecords: Long = {
    val sizeCap =
      if (rollingFileSizeBytes <= 0) 0L
      else {
        if (observedRowBytes == 0.0) recoverRowBytes()
        val est = if (observedRowBytes > 0) observedRowBytes else BootstrapRowBytes
        math.max(1L, (rollingFileSizeBytes / est).toLong)
      }
    if (maxRecordsPerFile > 0 && sizeCap > 0) math.min(maxRecordsPerFile, sizeCap)
    else math.max(maxRecordsPerFile, sizeCap)
  }

  /** Resume path: re-measure bytes/row from the most recent committed
    * batch — or, when compaction has retired every per-batch manifest,
    * from the epoch snapshot itself (rows come from the manifest lines,
    * bytes from a file listing) — so a restarted pipeline does not fall
    * back to the bootstrap estimate it already outgrew.
    */
  private def recoverRowBytes(): Unit = {
    def measure(dir: String, manifest: Path): Unit =
      observeWritten(dir, """"rowCount"\s*:\s*(\d+)""".r
        .findAllMatchIn(log.read(manifest)).map(_.group(1).toLong).sum)
    val s = log.state()
    s.live.lastOption match {
      case Some(last) => measure(batchDir(last), log.entry(last))
      case None => s.floor.foreach(c => measure(compactDir(c), log.epoch(c)))
    }
  }

  /** Per-file fixed overhead estimate (parquet footer + dictionary pages)
    * subtracted before deriving bytes/row. Without it the policy has a
    * positive feedback loop: a small byte target ⇒ many files ⇒ overhead
    * inflates measured bytes/row ⇒ a SMALLER derived cap ⇒ even more files,
    * ratcheting toward 1-row files. Netting the overhead out measures the
    * DATA rate, which is cap-independent. The estimate errs low and the
    * net is floored at half the raw rate, so a wrong estimate can only
    * leave files mildly under target — never restart the ratchet.
    */
  private val FileOverheadBytes = 2048L

  /** Re-measure bytes/row from a just-written batch dir (listing only —
    * no data read; rows come from the commit lineage, already computed).
    */
  private def observeWritten(dir: String, rows: Long): Unit =
    if (rollingFileSizeBytes > 0 && rows > 0 && fs.exists(new Path(dir))) {
      val it = fs.listFiles(new Path(dir), true)
      var bytes = 0L
      var nFiles = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; nFiles += 1 }
      }
      if (bytes > 0) {
        val net = math.max(bytes - nFiles * FileOverheadBytes, bytes / 2)
        observedRowBytes = net.toDouble / rows
      }
    }

  private def batchDir(batchId: Long) = s"$outDir/events/batch=$batchId"

  private def compactDir(c: Long) = s"$outDir/events/batch=$c-compact"

  /** The commit log: `_manifest/batch-<id>.json` per batch (its lineage,
    * one JSON line per partition), `epoch-<c>.json` per compaction.
    */
  @transient private lazy val log = new CommitLog(fs, new Path(outDir, "_manifest"),
    CommitLog.Name("batch-", 9, ".json"), Some(CommitLog.Name("epoch-", 9, ".json")))

  /** Highest compaction epoch: batches with id ≤ it live (bin-packed) in
    * `compactDir` and their per-batch manifests are retired.
    */
  def epochFloor: Option[Long] = log.state().floor

  def isCommitted(batchId: Long): Boolean = log.isCommitted(batchId)

  /** Monotone progress marker (`CommitLog.State.highest`): the highest
    * batch id ever committed, −1 if none.
    */
  def highestCommittedBatchId: Long = log.state().highest

  def committedBatchIds: Seq[Long] = log.state().live

  /** Single-pass write of a routed, time-bucketed batch. `df` must carry
    * `route`, `src_table`, `p_date`; `counts` is its exact row count per
    * `partKey` value — the row counts of the batch's commit lineage.
    */
  def writeBatch(batchId: Long, df: DataFrame, counts: Map[String, Long]): Unit =
    writeDir(batchDir(batchId), df, counts)

  private def writeDir(dir: String, df: DataFrame, counts: Map[String, Long]): Unit =
    slotted(df, counts)
      .sortWithinPartitions("route", "src_table", "p_date")
      .write.mode("overwrite")
      // rolling on the committed files (0 = unlimited — Spark's own
      // convention for spark.sql.files.maxRecordsPerFile); ≙ reference
      // rolling policy S3Sink.scala:116-120: the explicit record cap and/or
      // the byte target via the measured bytes-per-row rate
      .option("maxRecordsPerFile", effectiveMaxRecords)
      .partitionBy("route", "src_table", "p_date")
      .parquet(dir)

  /** The pre-write shuffle: exact range partitioning from exact counts
    * (`cellRanges`), 2×cores slots whatever the key skew. Task load is
    * volume-proportional and files ≤ slots + keys (hash salting instead
    * multiplies files by salt × dates — measured: 2,900 files/batch on a
    * 70-day batch). The within-task sort (in `writeDir`) lets the writer
    * hold ONE open file at a time. A row whose key is missing from
    * `counts` fails the write.
    */
  private[graft] def slotted(df: DataFrame, counts: Map[String, Long]): DataFrame = {
    val parts = math.max(2, 2 * spark.sparkContext.defaultParallelism)
    // (first cell << 32 | width), hottest keys first: a map lookup scans
    // its entries in order
    val packed = ListMap(ExactlyOnceSink.cellRanges(counts, parts).toSeq
      .sortBy(kv => -counts(kv._1))
      .map { case (k, (first, width)) => k -> (first.toLong << 32 | width) }: _*)
    val key = ExactlyOnceSink.partKey
    val range = coalesce(element_at(typedlit(packed), key),
      raise_error(concat(lit("sink write: partition key '"), key,
        lit("' is missing from the batch counts"))))
    val cell = shiftright(range, 32) + pmod(xxhash64(col("ts_ms")), range.bitwiseAND(0xffffffffL))
    df.repartitionById(parts, shiftright(cell, ExactlyOnceSink.CellBits).cast("int"))
  }

  /** Atomically publish the batch's lineage (the manifest rename makes
    * the commit visible). `fields` adds numeric keys to a partition's line,
    * after the lineage keys: the CDC pipeline publishes each partition's
    * source latency there, so the exactly-once commit is the batch's
    * metrics record (`Main monitor` reads it back). A replayed batch
    * computes the same fields, so its manifest is byte-identical.
    */
  def commit(batchId: Long, lineage: Seq[(String, Long, Long, Long)],
      fields: Map[String, Seq[(String, Long)]] = Map.empty): Unit = {
    observeWritten(batchDir(batchId), lineage.map(_._2).sum)
    log.publish(batchId, manifestBody(batchId, lineage,
      part => fields.getOrElse(part, Nil).map { case (k, v) => s""","$k":$v""" }.mkString))
  }

  private def manifestBody(batchId: Long, lineage: Seq[(String, Long, Long, Long)],
      extra: String => String): String =
    lineage.map { case (part, rows, minLsn, maxLsn) =>
      s"""{"batchId":$batchId,"partition":"$part","rowCount":$rows,"minLsn":$minLsn,"maxLsn":$maxLsn${extra(part)}}"""
    }.mkString("\n")

  private val sectionRoute =
    Map("events" -> "data", "errors" -> "error", "schema_changes" -> "schema")

  /** Committed view of one logical output (route partition pruning makes
    * this a selective directory read). `table` additionally prunes to one
    * `source.table` partition — the per-table sink view of the reference's
    * TableFilter fan-out. `asOfBatch` is snapshot time travel over the
    * commit lineage (Iceberg-style): only batches committed with id ≤ it
    * are visible, so any historical consistent state can be re-read — pure
    * manifest filtering, no data rewrite, no extra I/O.
    */
  def readCommitted(section: String, table: Option[String] = None,
      asOfBatch: Option[Long] = None): Option[DataFrame] = {
    val route = sectionRoute.getOrElse(section,
      throw new IllegalArgumentException(s"unknown section $section"))
    val s = log.state()
    asOfBatch.foreach(a => require(s.floor.forall(a >= _),
      s"asOfBatch=$a predates the compaction epoch ${s.floor.get} — that history was compacted away"))
    val ids = asOfBatch.fold(s.live)(b => s.live.filter(_ <= b))
    readDirs(s.floor.map(compactDir).toSeq ++ ids.map(batchDir)).map { df =>
      val routeDf = df.where(col("route") === route)
      table.fold(routeDf)(t => routeDf.where(col("src_table") === t))
    }
  }

  /** The events under those of `dirs` that exist; None when there are
    * none, or no part files to infer a schema from (legal: a stream whose
    * batches were all fully filtered commits dirs with no part files —
    * content genuinely absent). Matched on the error CONDITION, not the
    * message text, which is Spark-version-dependent phrasing. The `batch`
    * partition-discovery column is internal dir naming (compaction renames
    * it) — never part of the content.
    */
  private def readDirs(dirs: Seq[String]): Option[DataFrame] = {
    val live = dirs.filter(d => fs.exists(new Path(d)))
    if (live.isEmpty) None
    else try Some(spark.read.option("basePath", s"$outDir/events").parquet(live: _*).drop("batch"))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) => None
    }
  }

  /** One table's committed change log (partition-pruned). */
  def readTable(table: String): Option[DataFrame] =
    readCommitted("events", Some(table))

  /** Distinct tables present in the committed data route, from the
    * `data/<table>/<date>` partition keys of the live and epoch manifests
    * (no data file is read).
    */
  def tables(): Seq[String] = {
    val s = log.state()
    val table = s""""partition":"${sectionRoute("events")}/([^"]*)/[^"/]*"""".r
    (s.live.map(log.entry) ++ s.floor.map(log.epoch))
      .flatMap(m => table.findAllMatchIn(log.read(m)).map(_.group(1)))
      .distinct.sorted
  }

  /** The lineage manifest as a DataFrame (metrics / audits): the live
    * per-batch manifests plus the current compaction epoch's aggregated
    * lineage. Retired manifests linger one epoch cycle on disk (deferred
    * cleanup — see `compact`) but are not read.
    */
  def readManifest(): Option[DataFrame] = {
    val s = log.state()
    val files = s.live.map(log.entry) ++ s.floor.map(log.epoch)
    if (files.isEmpty) None else Some(spark.read.json(files.map(_.toString): _*))
  }

  /** Log compaction (Iceberg `rewrite_data_files`-style bin-packing):
    * rewrite every live batch with id ≤ `upToBatch` into ONE compacted
    * snapshot directory and retire their per-batch manifests behind a
    * single epoch marker. CONTENT-PRESERVING — `readCommitted` returns
    * byte-identical rows before and after (a test pins it); what changes is
    * the file and manifest count, which over a 10^12-turn run would
    * otherwise grow without bound (one manifest + ≥1 file per micro-batch).
    *
    * Crash-safe by the same single-rename rule as `commit`:
    * staging dir → final dir → epoch marker rename is the ONLY visibility
    * flip (readers never glob data dirs — they follow manifests), and a
    * crash at any earlier point leaves an invisible orphan that the next
    * compaction overwrites. Cleanup of retired dirs/manifests runs AFTER
    * the flip; a crash mid-cleanup leaves unreferenced files only.
    *
    * Time travel: `asOfBatch` below the epoch floor is refused (that
    * history is physically merged); at or above it works unchanged.
    * The epoch manifest carries the lineage only: a compacted batch's
    * metrics fields (its source latency) go with its retired manifest.
    * Returns the new epoch floor.
    *
    * Concurrency: the flip itself is atomic, and cleanup is DEFERRED one
    * epoch — artifacts retired by this flip stay on disk until the NEXT
    * compaction, so a reader that resolved its dir list just before the
    * flip finishes its scan against the (byte-identical) retired files.
    * Physical deletion only touches artifacts invisible for a full epoch
    * cycle — Iceberg's rewrite-now-expire-later, at the cost of ≤1 extra
    * retained generation on disk. The grace window is therefore ONE epoch
    * cycle of wall time: a reader slower than that (dir list older than a
    * full cycle) can still hit deleted files — size `compactEveryBatches`
    * × trigger interval above the longest expected external scan (see the
    * config scaladoc); deletion is never gated on reader liveness.
    */
  def compact(upToBatch: Long = Long.MaxValue): Long = {
    val s = log.state()
    val floor = s.floor
    val eligible = s.live.filter(_ <= upToBatch)
    require(eligible.nonEmpty, "compact: no live batches at or below upToBatch")
    val c = eligible.max
    val staging = s"$outDir/events/.staging-compact-$c"
    fs.delete(new Path(staging), true)
    // ONE aggregate over the source gives the slot counts and the epoch
    // lineage. lsn: the CDC envelope's source.lsn; the corpus-ingest
    // envelope's `source` is a string and its lsn is ts_ms (= doc_id). An
    // ALL-EMPTY live history still flips the epoch (bounding the manifest)
    // with an empty snapshot dir and empty lineage.
    val lineage = readDirs(floor.map(compactDir).toSeq ++ eligible.map(batchDir)) match {
      case Some(df) =>
        val cdc = df.schema.find(_.name == "source")
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
        val l = ExactlyOnceSink.lineage(
          ExactlyOnceSink.lineageRows(df, if (cdc) col("source.lsn") else col("ts_ms")))
        writeDir(staging, df, l.map(r => r._1 -> r._2).toMap)
        l
      case None => fs.mkdirs(new Path(staging)); Seq.empty
    }
    val dst = new Path(compactDir(c))
    fs.delete(dst, true) // orphan from a crashed earlier attempt at the same c
    if (!fs.rename(new Path(staging), dst))
      throw new java.io.IOException(s"compaction rename failed for epoch $c")
    log.publishEpoch(c, manifestBody(c, lineage, _ => ""","compacted":true"""))
    // ---- visibility flipped; cleanup is DEFERRED one epoch ----
    // Artifacts retired by THIS flip (the eligible batch dirs and the
    // previous compacted dir) stay on disk until the NEXT compaction, so a
    // reader that resolved its dir list just before the flip can still
    // finish its scan — Iceberg's rewrite-now-expire-later. Only artifacts
    // already invisible for a full epoch cycle (id ≤ previous floor) are
    // physically deleted now: data dirs first, then their log entries.
    floor.foreach { p =>
      val batch = """batch=(\d+)""".r
      val compacted = """batch=(\d+)-compact""".r
      fs.listStatus(new Path(s"$outDir/events")).foreach { st =>
        st.getPath.getName match {
          case batch(id) if id.toLong <= p => fs.delete(st.getPath, true)
          case compacted(id) if id.toLong < p => fs.delete(st.getPath, true)
          case _ =>
        }
      }
      log.retire(p, s)
    }
    c
  }
}

object ExactlyOnceSink {

  /** Runs `f` over `df`'s rows computed ONCE and kept in the block manager
    * as rows (lost blocks recompute from lineage), then frees them. A sink
    * writer reads its batch twice, but a streaming micro-batch's plan must
    * run once: Spark's progress counts input rows, and a stateful plan
    * commits state, per execution. Rows cost a copy; `Dataset.persist`'s
    * columnar cache cost 2–3 s above the scan on a 1.56M-event batch.
    */
  def computedOnce[A](df: DataFrame)(f: DataFrame => A): A = {
    val rows = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    try f(GraftSqlBridge.dataFrame(df.sparkSession, rows, df.schema))
    finally { rows.unpersist(); () }
  }

  /** The lineage / slot key of a row: `route/src_table/p_date`. */
  def partKey: Column = concat_ws("/", col("route"), col("src_table"), col("p_date"))

  /** ONE aggregate per `partKey`: rows of (part, rows, minLsn, maxLsn,
    * `extra`…). */
  def lineageRows(df: DataFrame, lsn: Column, extra: Column*): Array[Row] =
    df.groupBy(partKey.as("part"))
      .agg(count(lit(1)), coalesce(min(lsn), lit(-1L)) +: coalesce(max(lsn), lit(-1L)) +: extra: _*)
      .collect()

  /** The commit lineage (part, rows, minLsn, maxLsn) of `lineageRows`. */
  def lineage(rows: Array[Row]): Seq[(String, Long, Long, Long)] =
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  /** Cells per write slot, as a power of two: a slot takes from a hot key
    * the share of the key's range it covers. Spreading a key evenly over
    * whole slots overloads those it shares with neighbour keys (largest
    * task 1.77× the even share on a zipf-1.1 test batch; 1.05× with cells).
    */
  val CellBits = 10

  /** Exact range layout: keys in sorted order, key k covering the
    * cumulative row range [c, c+n) and cell i of `parts << CellBits` the
    * rows [i·total/cells, (i+1)·total/cells). A key gets every cell its
    * range touches, as (first cell, width); cell i is slot `i >> CellBits`.
    */
  def cellRanges(counts: Map[String, Long], parts: Int): Map[String, (Int, Int)] = {
    val live = counts.filter(_._2 > 0).toSeq.sortBy(_._1)
    val total = BigInt(live.map(_._2).sum)
    val cells = BigInt(parts) << CellBits
    var c = BigInt(0)
    live.map { case (k, n) =>
      val first = (c * cells / total).toInt
      val last = ((c + n - 1) * cells / total).toInt
      c += n
      k -> ((first, last - first + 1))
    }.toMap
  }
}
