package graft

import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.pipeline.{BucketStore, CdcPipeline, MaterializedView, Savepoint, StreamPack}
import graft.sink.ExactlyOnceSink
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** Exactly-once under a crash at EVERY filesystem mutation. Each case runs
  * one store operation on a fresh copy of a store at batch N−1 once per k,
  * killing the process (`FaultFs`) at its k-th mutation, until k passes the
  * run's mutation count. After each crash:
  *
  *   - the state readers see is exactly N−1 or N;
  *   - every path a reader resolves from it exists;
  *   - a rerun (a restart replaying the operation) converges to N, the
  *     state of a clean run, with the same resolution check;
  *   - for stores with a deletion grace, paths a reader resolved at N−1
  *     still exist.
  */
class CrashEnumerationSpec extends SparkSpec {
  import spark.implicits._

  private val conf = spark.sparkContext.hadoopConfiguration
  FaultFs.register(conf)
  private val fs = new Path(FaultFs.Uri).getFileSystem(conf)

  private def faultDir(prefix: String): String = s"fault://${tmpDir(prefix)}"

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  private def copy(src: String, dst: String): Unit = {
    FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, conf); ()
  }

  /** A killed process's tasks may still run; a restart waits them out. */
  private def quiesce(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while ((tracker.getActiveJobIds.nonEmpty || tracker.getExecutorInfos.exists(_.numRunningTasks > 0))
        && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Enumerate every crash point of `op` on copies of `base`; returns how
    * many there were. `resolved` are the paths a reader of a store resolves
    * from its visible state; `grace` also requires those of N−1 to survive.
    */
  private def enumerate[V](name: String, base: String, grace: Boolean)(op: String => Unit,
      rerun: String => Unit, visible: String => V, resolved: String => Seq[String],
      settled: String => Unit = _ => ()): Unit = {
    val t0 = System.nanoTime()
    val before = visible(base)
    val kept = if (grace) resolved(base).map(_.stripPrefix(base)) else Nil
    val clean = s"$base-clean"
    copy(base, clean)
    op(clean)
    val after = visible(clean)
    fs.delete(new Path(clean), true)
    def check(dir: String, when: String): Unit = {
      (resolved(dir) ++ kept.map(dir + _)).foreach(p =>
        assert(exists(p), s"$name $when: a reader resolves $p, which is gone"))
    }
    var k = 1L
    var done = false
    while (!done) {
      val dir = s"$base-k$k"
      copy(base, dir)
      FaultFs.arm(k)
      val err = try { op(dir); None } catch { case NonFatal(e) => Some(e) }
      val killed = FaultFs.killed
      quiesce()
      FaultFs.disarm()
      if (!killed) {
        err.foreach(e => throw e) // k is past the run's mutations: a clean run
        done = true
      } else {
        val v = visible(dir)
        assert(v == before || v == after,
          s"$name: after a crash at mutation $k readers see neither N−1 nor N: $v")
        check(dir, s"after a crash at mutation $k")
        rerun(dir)
        assert(visible(dir) == after, s"$name: the rerun after a crash at mutation $k diverges")
        check(dir, s"after the rerun of a crash at mutation $k")
        settled(dir)
      }
      fs.delete(new Path(dir), true)
      k += 1
    }
    assert(k > 2, s"$name: no crash point was reached")
    info(f"${k - 2} crash points in ${(System.nanoTime() - t0) / 1e9}%.0f s")
  }

  test("commit log names: temp, foreign and overflowing names never parse") {
    import graft.util.CommitLog.Name
    val batch = Name("batch-", 9, ".json")
    assert(batch(7L) == "batch-000000007.json" && batch.unapply(batch(7L)).contains(7L))
    assert(batch.unapply("batch-1234567890.json").contains(1234567890L))
    val marker = Name("")
    Seq(".tmp-batch-000000007.json", "batch-.json", "batch-00000000x.json",
      "epoch-000000007.json", "batch-0000000000000000001.json").foreach(n =>
      assert(batch.unapply(n).isEmpty, n))
    Seq(".tmp-7", "epoch-7", "", "-1", ".7.crc").foreach(n => assert(marker.unapply(n).isEmpty, n))
    assert(Name("_epoch-").unapply("_epoch-3").contains(3L))
  }

  // ---- the CDC sink ----

  // a fifth of the changes malformed (error route), a fifth schema changes
  private val cfg = GenConfig(numConvs = 8, avgTurns = 4, seed = 11L, changeFiles = 2,
    malformedFrac = 0.2, schemaChangeFrac = 0.2, longGapProb = 0.3)

  /** Batch i: the generator's phase i−1 (batch 0 = the snapshot reads),
    * stamped with a fixed `processing_timestamp` as the streaming pipeline
    * stamps each batch from its offset log, so a rerun rewrites every
    * column.
    */
  private lazy val cdcBatches: Seq[DataFrame] = {
    val ev = TranscriptGen.events(spark, cfg).toDF()
    (-1 to 1).map(p => ev.where(col("phase") === p).select(col("event.*"))
      .withColumn("processing_timestamp", lit(new Timestamp(1700000000000L + p)))
      .localCheckpoint())
  }

  private def sinkView(dir: String) = {
    val sink = new ExactlyOnceSink(spark, dir)
    val floor = sink.epochFloor
    val live = sink.committedBatchIds
    val manifests = (live.map(b => f"batch-$b%09d.json") ++ floor.map(c => f"epoch-$c%09d.json"))
      .map(n => graft.util.FsText.readText(fs, new Path(s"$dir/_manifest/$n")))
    (floor, live, manifests, sink.readCommitted("events").map(canon).getOrElse(Nil))
  }

  private def sinkDirs(dir: String): Seq[String] = {
    val sink = new ExactlyOnceSink(spark, dir)
    sink.epochFloor.map(c => s"$dir/events/batch=$c-compact").toSeq ++
      sink.committedBatchIds.map(b => s"$dir/events/batch=$b")
  }

  test("crash at every mutation: sink processBatch") {
    val base = s"${faultDir("ce-batch")}/out"
    CdcPipeline.processBatch(new ExactlyOnceSink(spark, base), cdcBatches(0), 0L)
    def op(dir: String): Unit = CdcPipeline.processBatch(new ExactlyOnceSink(spark, dir), cdcBatches(1), 1L)
    enumerate("processBatch", base, grace = true)(op, op, sinkView, sinkDirs)
  }

  test("crash at every mutation: sink compact") {
    // floor 1 with batch 2 live: the compaction to 2 retires epoch 1's
    // inputs, which must outlive it by one epoch
    val base = s"${faultDir("ce-compact")}/out"
    val sink = new ExactlyOnceSink(spark, base)
    cdcBatches.indices.foreach { b =>
      CdcPipeline.processBatch(sink, cdcBatches(b), b.toLong)
      if (b == 1) sink.compact()
    }
    enumerate("compact", base, grace = true)(
      dir => { new ExactlyOnceSink(spark, dir).compact(); () },
      dir => {
        val s = new ExactlyOnceSink(spark, dir)
        if (s.committedBatchIds.nonEmpty) s.compact()
      },
      sinkView, sinkDirs)
  }

  // ---- the bucket stores ----

  private val nBuckets = 2

  private def deltas(rows: (String, Long, Long)*) =
    rows.toSeq.toDF("grp", "d_keys", "d_sum").localCheckpoint()

  /** Groups over both buckets. */
  private lazy val groups: Seq[String] = {
    val bs = ('a' to 'h').map(_.toString).toDF("grp")
      .select(col("grp"), pmod(xxhash64(col("grp")), lit(nBuckets.toLong)))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(bs.map(_._2).distinct.size == nBuckets)
    bs.map(_._1).toSeq
  }

  private def viewOf(dir: String) = new MaterializedView(spark, dir, nBuckets)

  private def store(dir: String) = new BucketStore(spark, dir, nBuckets, viewOf(dir).viewSchema)

  private def genDirs(dir: String): Seq[String] =
    store(dir).bucketGens().toSeq.map { case (b, g) => s"$dir/data/bucket=$b/gen=$g" }

  test("crash at every mutation: MaterializedView.applyDeltas, and no generation leaks") {
    val base = s"${faultDir("ce-view")}/view"
    viewOf(base).applyDeltas(0L, deltas(groups.map(g => (g, 1L, 10L)): _*))
    viewOf(base).applyDeltas(1L, deltas(groups.map(g => (g, 1L, 1L)): _*))
    val batch2 = deltas(groups.map(g => (g, 1L, 5L)) :+ ((groups.head, -2L, -11L)): _*)
    def op(dir: String): Unit = viewOf(dir).applyDeltas(2L, batch2)
    enumerate("applyDeltas", base, grace = false)(op, op,
      dir => canon(viewOf(dir).read()), genDirs,
      settled = dir => {
        // the next publish of a bucket leaves only its committed generation
        viewOf(dir).applyDeltas(3L, deltas(groups.map(g => (g, 1L, 1L)): _*))
        store(dir).bucketGens().foreach { case (b, g) =>
          val gens = fs.listStatus(new Path(s"$dir/data/bucket=$b")).map(_.getPath.getName).toSeq
          assert(gens == Seq(s"gen=$g"), s"bucket $b keeps superseded generations: $gens")
        }
      })
  }

  test("crash at every mutation: MaterializedView.compactCommits") {
    val base = s"${faultDir("ce-marks")}/view"
    (0L to 3L).foreach { b =>
      viewOf(base).applyDeltas(b, deltas(groups.map(g => (g, 1L, b)): _*))
      if (b == 1L) viewOf(base).compactCommits()
    }
    def commits(dir: String) =
      fs.listStatus(new Path(s"$dir/_commits")).map(_.getPath.getName).sorted.toSeq
    def op(dir: String): Unit = { viewOf(dir).compactCommits(); () }
    enumerate("compactCommits", base, grace = true)(op, op,
      dir => (canon(viewOf(dir).read()), store(dir).bucketGens(), (0L to 4L).map(viewOf(dir).isCommitted)),
      genDirs,
      settled = dir => assert(commits(dir) == Seq("epoch-3"), commits(dir)))
  }

  // ---- the stream packer ----

  /** ~120 documents: the generator's turns, doc_id = conversation · 1000 + turn. */
  private lazy val docs = TranscriptGen.snapshot(spark, GenConfig(numConvs = 30, avgTurns = 4)).toDF()
    .select((substring(col("conv_id"), 6, 8).cast("long") * 1000 + col("turn_idx")).as("doc_id"),
      col("text"))
    .localCheckpoint()

  test("crash at every mutation: StreamPack.applyBatch") {
    val base = s"${faultDir("ce-pack")}/pack"
    val slices = Seq(docs.where(col("doc_id") < 15000), docs.where(col("doc_id") >= 15000))
      .map(_.coalesce(1).localCheckpoint())
    StreamPack.applyBatch(spark, base, 0L, slices(0), seqLen = 256)
    def op(dir: String): Unit = StreamPack.applyBatch(spark, dir, 1L, slices(1), seqLen = 256)
    enumerate("StreamPack.applyBatch", base, grace = true)(op, op,
      dir => (StreamPack.cursor(spark, dir), canon(StreamPack.readManifest(spark, dir))),
      dir => (0L to StreamPack.cursor(spark, dir)._1).map(b => s"$dir/seqs/batch=$b"))
  }

  // ---- the gram index ----

  test("crash at every mutation: compactGramIndex") {
    // epoch 2 plus an append: compacting to 3 drops epoch 1's tables and
    // marker, which readers of epoch 2 never resolve
    val base = s"${faultDir("ce-gram")}/idx"
    val part = (i: Int) => docs.where(col("doc_id") % 4 === i)
    Dedup.writeGramIndex(part(0), base, n = 3, numPostingFiles = 2)
    Seq(1, 2).foreach { i =>
      Dedup.appendGramIndex(part(i), base)
      Dedup.compactGramIndex(spark, base, numPostingFiles = 2)
    }
    Dedup.appendGramIndex(part(3), base)
    def epoch(dir: String) = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .collect { case s if s.startsWith("_epoch-") => s.stripPrefix("_epoch-").toInt }.max
    def tables(dir: String) = {
      val e = epoch(dir)
      Seq("md5", "grams", "counts", "gramdf").map(t => s"$dir/$t-e$e")
    }
    // content digest: rows and an order-free hash sum per table, one job
    def content(dir: String) = {
      val idx = Dedup.readGramIndex(spark, dir)
      Seq(idx.md5s.distinct(), idx.grams, idx.counts, idx.gramDf).zipWithIndex.map { case (df, i) =>
        df.select(lit(i).as("t"), count(lit(1)).as("n"),
          sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L))).as("h"))
      }.reduce(_ union _).collect().map(_.toString).sorted.toSeq
    }
    def op(dir: String): Unit = { Dedup.compactGramIndex(spark, dir, numPostingFiles = 2); () }
    // the epoch number is not part of the visible state: a rerun after the
    // marker compacts once more, to identical content
    enumerate("compactGramIndex", base, grace = true)(op,
      dir => if (epoch(dir) == 2) op(dir), content, tables)
  }

  // ---- savepoints ----

  /** A directory's files with their bodies' md5, its own path (which a
    * savepoint's rebased log and marker name) masked; None when absent.
    */
  private def tree(dest: String): Option[Seq[(String, String)]] =
    if (!exists(dest)) None
    else {
      val root = new Path(dest).toUri.getPath
      val it = fs.listFiles(new Path(dest), true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { st =>
        val in = fs.open(st.getPath)
        val body = try new String(in.readAllBytes(), "ISO-8859-1") finally in.close()
        st.getPath.toUri.getPath.stripPrefix(root) ->
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            body.replace(dest, "<dest>").replace(root, "<dest>").getBytes("ISO-8859-1"))
      }
      Some(files.toSeq.sorted)
    }

  /** The copies a resume reads, and the stream dir the marker names. */
  private def savepointDirs(dest: String, store: String): Seq[String] =
    if (!exists(dest)) Nil
    else Seq("checkpoint", store, "stream").map(d => s"$dest/$d") :+ Savepoint.streamDirOf(fs, dest)

  private def enumerateSavepoint(name: String, store: String)(create: String => Unit): Unit =
    enumerate(name, faultDir(s"ce-$name"), grace = false)(dir => create(s"$dir/sp"),
      dir => if (!exists(s"$dir/sp")) create(s"$dir/sp"),
      dir => tree(s"$dir/sp"),
      dir => savepointDirs(s"$dir/sp", store),
      settled = dir => assert(!exists(s"$dir/.staging-sp"), "a staging dir outlives the rerun"))

  test("crash at every mutation: Savepoint.create") {
    // the whole fixture lives on fault:///, so every lookup must take its
    // filesystem from the path
    val table = faultDir("ce-sp-table")
    val work = faultDir("ce-sp-work")
    val small = GenConfig(numConvs = 6, avgTurns = 4, changeFiles = 2)
    TranscriptGen.writeTable(spark, small, table)
    ChangeStreamReader.deliverChanges(spark, table, s"$work/stream", _ == 0)
    CdcPipeline.runAvailable(spark, table, s"$work/stream", s"$work/out", s"$work/checkpoint")
    val original = tree(work)
    enumerateSavepoint("savepoint", "out")(Savepoint.create(spark, work, _))
    assert(tree(work) == original, "crashed attempts must leave the original untouched")
  }

  test("crash at every mutation: Savepoint.createStore") {
    val changes = faultDir("ce-sps-changes")
    val work = faultDir("ce-sps-work")
    val t0 = 1900000000000000L
    def ts(us: Long) = Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
    val rows = Seq((1L, ts(t0), 1L, "U", "a", 10L), (2L, ts(t0 + 5000000L), 2L, "U", "b", 5L),
      (9L, ts(t0 + 86400L * 1000000L), 9L, "U", "hb", 0L))
    // two files, one trigger each: the second one's watermark seals the first
    val df = rows.toDF("user_id", "ts", "event_id", "op", "grp", "v")
    Seq("f1" -> df.where(col("grp") =!= "hb"), "f2" -> df.where(col("grp") === "hb")).foreach {
      case (name, part) =>
        part.coalesce(1).write.parquet(s"$changes/.tmp-$name")
        fs.rename(fs.globStatus(new Path(s"$changes/.tmp-$name/part-*.parquet"))(0).getPath,
          new Path(s"$changes/$name.parquet"))
    }
    MaterializedView.start(spark, changes, df.schema, s"$work/store", s"$work/ck",
      nBuckets = nBuckets).awaitTermination()
    enumerateSavepoint("savepoint-store", "store")(
      Savepoint.createStore(spark, s"$work/ck", s"$work/store", changes, _))
  }
}
