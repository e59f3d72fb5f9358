package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.pipeline.{MaterializedView, Retractions}

/** The dynamic-table loop end to end (changelog → retraction deltas →
  * exactly-once bucket-wise view folds) plus the fold's crash-window and
  * lifecycle edges driven directly through `applyDeltas`.
  */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def mkTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  test("streamed view == batch currentAggregate; rerun is a no-op") {
    val t0 = 1700000000000000L
    val rows = Seq(
      (1L, mkTs(t0), 1L, "U", "a", 10L),
      (1L, mkTs(t0 + 1500), 2L, "U", "b", 20L),
      (1L, mkTs(t0 + 1500), 3L, "U", "c", 30L),
      (2L, mkTs(t0 + 5000000L), 10L, "U", "a", 5L),
      (2L, mkTs(t0 + 9000000L), 11L, "D", "", 0L),
      (3L, mkTs(t0 + 2000000L), 20L, "U", "a", 7L))
    val batchDf = rows.toDF("user_id", "ts", "event_id", "op", "grp", "v")
    val want = Retractions.currentAggregate(batchDf, "user_id", "ts",
      "event_id", "op", "grp", "v")

    val src = tmpDir("mv-src")
    def writeF(name: String, rs: Seq[(Long, Timestamp, Long, String, String, Long)]): Unit = {
      val tmp = s"$src/.tmp-$name"
      rs.toDF("user_id", "ts", "event_id", "op", "grp", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    // out of order: file 2 carries the tie sibling and the delete, both
    // older than file 1's max; sentinels advance the watermark so every
    // real change seals before the stream drains
    val (f2, f1) = rows.partition(r => r._3 == 2L || r._3 == 11L)
    writeF("b1", f1)
    writeF("b2", f2)
    writeF("b3", Seq((99L, mkTs(t0 + 86400L * 1000000L), 900L, "U", "hb", 0L)))
    writeF("b4", Seq((99L, mkTs(t0 + 172800L * 1000000L), 901L, "U", "hb", 0L)))
    val work = tmpDir("mv-work")
    val ck = tmpDir("mv-ck")
    val q = MaterializedView.start(spark, src, batchDf.schema, work, ck,
      watermark = "60 seconds", nBuckets = 8)
    q.awaitTermination()
    val view = new MaterializedView(spark, work, nBuckets = 8)
    assertSameRows(view.read().where(col("grp") =!= "hb"), want,
      "streamed view == batch current aggregate")

    // resume with nothing new: no-op, view byte-identical, no new commits
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val commitsBefore = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$work/_commits")).length
    val q2 = MaterializedView.start(spark, src, batchDf.schema, work, ck,
      watermark = "60 seconds", nBuckets = 8)
    q2.awaitTermination()
    assertSameRows(view.read().where(col("grp") =!= "hb"), want,
      "rerun leaves the view unchanged")
    val commitsAfter = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$work/_commits")).length
    assert(commitsAfter == commitsBefore,
      s"rerun must not fold new batches: $commitsBefore -> $commitsAfter")
  }

  test("view run survives a relocatable savepoint: resume from the copy alone, zero dupes/loss") {
    import graft.pipeline.Savepoint
    val t0 = 1900000000000000L
    val rows = Seq(
      (1L, mkTs(t0), 1L, "U", "a", 10L),
      (1L, mkTs(t0 + 1500), 2L, "U", "b", 20L),
      (1L, mkTs(t0 + 1500), 3L, "U", "c", 30L),
      (2L, mkTs(t0 + 5000000L), 10L, "U", "a", 5L),
      (2L, mkTs(t0 + 9000000L), 11L, "D", "", 0L),
      (3L, mkTs(t0 + 2000000L), 20L, "U", "a", 7L))
    val batchDf = rows.toDF("user_id", "ts", "event_id", "op", "grp", "v")
    val want = Retractions.currentAggregate(batchDf, "user_id", "ts",
      "event_id", "op", "grp", "v")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val src = tmpDir("sv-src")
    def writeF(name: String, rs: Seq[(Long, Timestamp, Long, String, String, Long)]): Unit = {
      val tmp = s"$src/.tmp-$name"
      rs.toDF("user_id", "ts", "event_id", "op", "grp", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    // phase 1: ALL real changes delivered, but the watermark never
    // advances enough to seal them — the per-key state (the unripe
    // buffers) is the ONLY place they live when the savepoint is taken
    val (f2, f1) = rows.partition(r => r._3 == 2L || r._3 == 11L)
    writeF("b1", f1)
    writeF("b2", f2)
    val work = tmpDir("sv-work") + "/store"
    val ck = tmpDir("sv-ck") + "/checkpoint"
    MaterializedView.start(spark, src, batchDf.schema, work, ck,
      watermark = "60 seconds", nBuckets = 8).awaitTermination()

    // savepoint mid-stream, then DELETE every original dir — the copy
    // must be self-contained (the r3 relocatability rule)
    val dest = tmpDir("sv-dest") + "/sp"
    Savepoint.createStore(spark, ck, work, src, dest)
    Seq(src, work, ck).foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))

    // phase 2 runs from the COPY: sentinels advance the watermark so the
    // buffered changes seal and fold — into the copied store
    def writeDest(name: String, rs: Seq[(Long, Timestamp, Long, String, String, Long)]): Unit = {
      val tmp = s"$dest/.tmp-$name"
      rs.toDF("user_id", "ts", "event_id", "op", "grp", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dest/stream/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    writeDest("b3", Seq((99L, mkTs(t0 + 86400L * 1000000L), 900L, "U", "hb", 0L)))
    writeDest("b4", Seq((99L, mkTs(t0 + 172800L * 1000000L), 901L, "U", "hb", 0L)))
    MaterializedView.start(spark, s"$dest/stream", batchDf.schema,
      s"$dest/store", s"$dest/checkpoint", watermark = "60 seconds",
      nBuckets = 8).awaitTermination()
    val view = new MaterializedView(spark, s"$dest/store", nBuckets = 8)
    assertSameRows(view.read().where(col("grp") =!= "hb"), want,
      "resumed-from-savepoint view == batch current aggregate (no dupes, no loss)")
  }

  test("streamed row store == LWW current view; deletes drop rows") {
    import graft.pipeline.MaterializedTable
    val t0 = 1800000000000000L
    val rows = Seq(
      (1L, mkTs(t0), 1L, "U", "a", 10L),
      (1L, mkTs(t0 + 1500), 2L, "U", "b", 20L),
      (1L, mkTs(t0 + 1500), 3L, "U", "c", 30L),
      (2L, mkTs(t0 + 5000000L), 10L, "U", "a", 5L),
      (2L, mkTs(t0 + 9000000L), 11L, "D", "", 0L),
      (3L, mkTs(t0 + 2000000L), 20L, "U", "a", 7L))
    val src = tmpDir("mt-src")
    def writeF(name: String, rs: Seq[(Long, Timestamp, Long, String, String, Long)]): Unit = {
      val tmp = s"$src/.tmp-$name"
      rs.toDF("user_id", "ts", "event_id", "op", "grp", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val (f2, f1) = rows.partition(r => r._3 == 2L || r._3 == 11L)
    writeF("b1", f1)
    writeF("b2", f2)
    writeF("b3", Seq((99L, mkTs(t0 + 86400L * 1000000L), 900L, "U", "hb", 0L)))
    writeF("b4", Seq((99L, mkTs(t0 + 172800L * 1000000L), 901L, "U", "hb", 0L)))
    val work = tmpDir("mt-work")
    val q = MaterializedView.startTable(spark, src,
      rows.toDF("user_id", "ts", "event_id", "op", "grp", "v").schema,
      work, tmpDir("mt-ck"), watermark = "60 seconds", nBuckets = 8)
    q.awaitTermination()
    val tbl = new MaterializedTable(spark, work, nBuckets = 8)
    val got = tbl.read().where(col("k") =!= 99L)
      .select(col("k"), col("grp"), col("v"), col("tie"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // LWW: u1's same-microsecond tie resolves to tie=3 (c, 30); u2 is
    // deleted; u3 keeps its single upsert
    assert(got == Set((1L, "c", 30L, 3L), (3L, "a", 7L, 20L)), s"row store: $got")
  }

  test("coherence: aggregating the row store == the aggregate view, same changelog") {
    import graft.pipeline.MaterializedTable
    // same changelog driven through BOTH stores (unit-level: the deltas
    // the two streaming emitters would produce for these sealed changes)
    val work1 = tmpDir("coh-view")
    val work2 = tmpDir("coh-table")
    val view = new graft.pipeline.MaterializedView(spark, work1, nBuckets = 4)
    val tbl = new MaterializedTable(spark, work2, nBuckets = 4)
    // k1: a(10) -> b(20); k2: a(5) -> delete; k3: a(7)
    view.applyDeltas(0L, Seq(("a", 1L, 10L), ("a", 1L, 5L), ("a", 1L, 7L))
      .toDF("grp", "d_keys", "d_sum"))
    view.applyDeltas(1L, Seq(("a", -1L, -10L), ("b", 1L, 20L), ("a", -1L, -5L))
      .toDF("grp", "d_keys", "d_sum"))
    tbl.applyRowDeltas(0L, Seq((1L, 100L, 1L, false, "a", 10L),
      (2L, 101L, 2L, false, "a", 5L), (3L, 102L, 3L, false, "a", 7L))
      .toDF("k", "ts_us", "tie", "del", "grp", "v"))
    tbl.applyRowDeltas(1L, Seq((1L, 200L, 4L, false, "b", 20L),
      (2L, 201L, 5L, true, "", 0L))
      .toDF("k", "ts_us", "tie", "del", "grp", "v"))
    val aggFromTable = tbl.read().groupBy(col("grp"))
      .agg(count(lit(1)).as("n_keys"), sum(col("v")).as("sum_v"))
    assertSameRows(aggFromTable, view.read(),
      "row store aggregated == aggregate view")
  }

  test("applyRowDeltas: within-batch LWW, cross-batch replace, replay skip") {
    import graft.pipeline.MaterializedTable
    val work = tmpDir("mt-unit")
    val tbl = new MaterializedTable(spark, work, nBuckets = 4)
    def d(rows: (Long, Long, Long, Boolean, String, Long)*) =
      rows.toSeq.toDF("k", "ts_us", "tie", "del", "grp", "v")
    def state(): Map[Long, (String, Long)] = tbl.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    // two sealed changes for k=1 in one batch: the newest (ts, tie) wins
    tbl.applyRowDeltas(0L, d((1L, 100L, 1L, false, "a", 10L),
      (1L, 100L, 2L, false, "b", 20L), (2L, 50L, 3L, false, "a", 5L)))
    assert(state() == Map(1L -> ("b", 20L), 2L -> ("a", 5L)), s"b0: ${state()}")
    // cross-batch: k=1 replaced, k=2 deleted, k=3 appears
    tbl.applyRowDeltas(1L, d((1L, 200L, 4L, false, "c", 30L),
      (2L, 210L, 5L, true, "", 0L), (3L, 220L, 6L, false, "a", 7L)))
    assert(state() == Map(1L -> ("c", 30L), 3L -> ("a", 7L)), s"b1: ${state()}")
    // replay of a committed batch is a whole-batch skip
    tbl.applyRowDeltas(1L, d((1L, 999L, 9L, false, "zz", 99L)))
    assert(state() == Map(1L -> ("c", 30L), 3L -> ("a", 7L)), "replay must be skipped")
  }

  test("applyDeltas: replay skip, uncommitted gens invisible, group death, zero-net batch") {
    val work = tmpDir("mv-unit")
    val view = new MaterializedView(spark, work, nBuckets = 4)
    def d(rows: (String, Long, Long)*) = rows.toSeq.toDF("grp", "d_keys", "d_sum")
    def state(): Map[String, (Long, Long)] = view.read().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    view.applyDeltas(0L, d(("a", 1L, 10L), ("b", 1L, 20L)))
    view.applyDeltas(1L, d(("a", 1L, 5L), ("b", -1L, -20L), ("c", 1L, 1L)))
    assert(state() == Map("a" -> (2L, 15L), "c" -> (1L, 1L)), s"after b1: ${state()}")

    // replay of a committed batch is a whole-batch skip
    view.applyDeltas(1L, d(("a", 100L, 100L)))
    assert(state() == Map("a" -> (2L, 15L), "c" -> (1L, 1L)), "replay must be skipped")

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    view.applyDeltas(2L, d(("a", 1L, 100L)))
    assert(state() == Map("a" -> (3L, 115L), "c" -> (1L, 1L)), s"after b2: ${state()}")

    // group death: fold to zero keys removes the row; it must not
    // resurrect when an unrelated later batch touches other buckets
    view.applyDeltas(3L, d(("c", -1L, -1L)))
    assert(state() == Map("a" -> (3L, 115L)), s"dead group removed: ${state()}")
    view.applyDeltas(4L, d(("zz", 1L, 9L)))
    assert(state() == Map("a" -> (3L, 115L), "zz" -> (1L, 9L)),
      s"dead group must stay dead: ${state()}")

    // a zero-net batch commits (replay-safe) without touching any bucket
    val gensBefore = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/data"))
      .map(_.getPath.getName).sorted.toSeq
    view.applyDeltas(5L, d(("a", 1L, 1L), ("a", -1L, -1L)))
    assert(view.isCommitted(5L), "zero-net batch must still commit")
    val gensAfter = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/data"))
      .map(_.getPath.getName).sorted.toSeq
    assert(state() == Map("a" -> (3L, 115L), "zz" -> (1L, 9L)))
    assert(gensBefore == gensAfter, "zero-net batch must not rewrite buckets")

    // marker-chain compaction: one epoch file replaces the per-batch
    // markers; content, committed-ness, and subsequent folds unchanged
    val upTo = view.compactCommits()
    assert(upTo == 5L, s"epoch upper bound: $upTo")
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/_commits"))
      .map(_.getPath.getName).sorted.toSeq
    assert(names == Seq("epoch-5"), s"markers must fold into the epoch: $names")
    assert(state() == Map("a" -> (3L, 115L), "zz" -> (1L, 9L)),
      "compaction must not change the view")
    assert((0L to 5L).forall(view.isCommitted), "epoch must cover old batch ids")
    assert(!view.isCommitted(6L), "future ids stay uncommitted")
    // folds continue on top of the epoch; a second compaction folds again
    view.applyDeltas(6L, d(("a", 1L, 1L)))
    assert(state() == Map("a" -> (4L, 116L), "zz" -> (1L, 9L)), s"post-epoch fold: ${state()}")
    assert(view.compactCommits() == 6L)
    assert(state() == Map("a" -> (4L, 116L), "zz" -> (1L, 9L)))
  }
}
