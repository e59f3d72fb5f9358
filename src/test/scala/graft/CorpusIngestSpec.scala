package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.pipeline.CorpusIngest
import graft.sink.ExactlyOnceSink

/** Streaming corpus ingestion: the corpus operators composed with the
  * exactly-once sink (curation is engine-neutral, delivery is the CDC
  * machinery's).
  */
class CorpusIngestSpec extends SparkSpec {

  private val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def writeSlice(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = s"$dir/.tmp-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  test("streaming ingest == batch curation; exactly-once across reruns and late files") {
    val dir = tmpDir("ci-docs"); val out = tmpDir("ci-out"); val ck = tmpDir("ci-ck")
    // the known corpus holds already-curated (scrubbed) text
    val known = docs.where(col("doc_id") % 50 === 0)
      .select(TextAnalysis.scrub(col("text")).as("text"))
    val first = docs.where(col("doc_id") < 400)
    writeSlice(dir, "f1", first.where(col("doc_id") < 200))
    writeSlice(dir, "f2", first.where(col("doc_id") >= 200))
    CorpusIngest.start(spark, dir, docs.schema, known, out, ck, minQuality = 0.5)
      .awaitTermination()
    val sink = new ExactlyOnceSink(spark, out)
    val got = sink.readCommitted("events").get.cache()
    // == batch curation over the same input (content-hash sets: which twin
    // of an identical-text pair survives dropDuplicates is tie-arbitrary)
    val want = CorpusIngest.curate(first, known).dropDuplicates("content_md5").cache()
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.select("content_md5").collect().map(_.getString(0)).toSet ==
      want.select("content_md5").collect().map(_.getString(0)).toSet)
    // the gates actually gated: known content absent, quality floor holds,
    // digit runs scrubbed
    val knownSet = known.collect().map(_.getString(0)).toSet
    assert(got.where(col("text").isin(knownSet.toSeq: _*)).count() == 0)
    assert(got.where(col("quality") < 0.5).count() == 0)
    assert(got.where(col("text").rlike("[0-9]")).count() == 0)
    // per-source read is the sink's partition-pruned table view
    assert(sink.readCommitted("events", table = Some("src3")).get.count() ==
      got.where(col("src_table") === "src3").count())
    // exactly-once: a plain rerun adds nothing
    CorpusIngest.start(spark, dir, docs.schema, known, out, ck, minQuality = 0.5)
      .awaitTermination()
    assert(sink.readCommitted("events").get.count() == got.count())
    // a late file appends exactly its own curated survivors, no dups
    writeSlice(dir, "f3", docs.where(col("doc_id") >= 400))
    CorpusIngest.start(spark, dir, docs.schema, known, out, ck, minQuality = 0.5)
      .awaitTermination()
    val after = sink.readCommitted("events").get.cache()
    val wantAll = CorpusIngest.curate(docs, known).dropDuplicates("content_md5")
    assert(after.count() == wantAll.count())
    assert(after.select("content_md5").distinct().count() == after.count(),
      "no content duplicated across the incremental runs")
    // lineage carries per-source doc-id ranges for the audit trail
    val man = sink.readManifest().get
    assert(man.where(col("partition").contains("src")).count() > 0)
    // log compaction works on the ingest envelope too (its lineage lsn is
    // ts_ms = doc_id): content re-reads identically, epoch lineage present
    val before = after.collect().map(_.mkString("|")).sorted.toSeq
    sink.compact()
    val compacted = sink.readCommitted("events").get
    assert(compacted.collect().map(_.mkString("|")).sorted.toSeq == before)
    assert(sink.readManifest().get.where(col("compacted") === true).count() > 0)
    got.unpersist(); want.unpersist(); after.unpersist()
  }

  test("near-dup stage: a paraphrased known doc is dropped in-stream; streaming == batch") {
    import spark.implicits._
    val dir = tmpDir("cn-docs"); val out = tmpDir("cn-out"); val ck = tmpDir("cn-ck")
    // a long shared base so the paraphrase keeps jaccard >= 0.6 while
    // clearing the 0.5 quality gate (diverse letter-only vocabulary)
    val base = (0 until 60).map(i =>
      s"tok${('a' + i / 26).toChar}${('a' + i % 26).toChar}base").mkString(" ")
    val knownText = base + " ending alpha beta gamma"
    val paraphrase = base + " ending delta epsilon zeta"  // near-dup of known
    val fresh = (0 until 60).map(i =>
      s"new${('a' + i % 26).toChar}${('a' + i / 26).toChar}word").mkString(" ") +
      " totally different content"
    val known = Seq(knownText).toDF("text")
    val batch = Seq((1L, "src0", knownText),   // exact dup of known
                    (2L, "src0", paraphrase),  // NEAR dup — only the near stage drops it
                    (3L, "src1", fresh))       // survives
      .toDF("doc_id", "source", "text")
    writeSlice(dir, "b1", batch)
    val q = CorpusIngest.start(spark, dir, batch.schema, known, out, ck,
      minQuality = 0.3, nearThreshold = Some(0.6))
    q.awaitTermination()
    val sink = new ExactlyOnceSink(spark, out)
    val got = sink.readCommitted("events").get
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L),
      "exact dup dropped by curate, paraphrase by the near stage, fresh kept")
    // streaming == batch: the curateNear batch form computes the same set
    val want = CorpusIngest.curateNear(batch, known, minQuality = 0.3,
      nearThreshold = 0.6)
    assert(want.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    // without the near stage the paraphrase would have flowed through —
    // the stage is load-bearing, not vacuous
    val withoutNear = CorpusIngest.curate(batch, known, minQuality = 0.3)
    assert(withoutNear.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
  }

  test("near-dup stage via a STORED gram index == inline index (exactly-once intact)") {
    import spark.implicits._
    val dir = tmpDir("cni-docs"); val out = tmpDir("cni-out"); val ck = tmpDir("cni-ck")
    val idxDir = s"${tmpDir("cni-idx")}/idx"
    val known = docs.where(col("doc_id") % 50 === 0)
      .select(TextAnalysis.scrub(col("text")).as("text"))
    // the stored index over the SAME keying the inline path uses
    graft.ops.Dedup.writeGramIndex(
      known.select(md5(col("text")).as("kid"), col("text")).dropDuplicates("kid"),
      idxDir, n = 3, idCol = "kid")
    val first = docs.where(col("doc_id") < 400)
    writeSlice(dir, "f1", first)
    CorpusIngest.start(spark, dir, docs.schema, known, out, ck,
      minQuality = 0.5, nearThreshold = Some(0.6), nearIndexDir = Some(idxDir))
      .awaitTermination()
    val sink = new ExactlyOnceSink(spark, out)
    val got = sink.readCommitted("events").get
    val want = CorpusIngest.curateNear(first, known, minQuality = 0.5,
      nearThreshold = 0.6).dropDuplicates("content_md5")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.select("content_md5").collect().map(_.getString(0)).toSet ==
      want.select("content_md5").collect().map(_.getString(0)).toSet,
      "stored-index streaming near stage == batch curateNear")
    // rerun is still a no-op with the near stage on
    CorpusIngest.start(spark, dir, docs.schema, known, out, ck,
      minQuality = 0.5, nearThreshold = Some(0.6), nearIndexDir = Some(idxDir))
      .awaitTermination()
    assert(sink.readCommitted("events").get.count() == got.count())
  }

  test("event-time watermark bounds the in-stream dedup state across batches") {
    import spark.implicits._
    val dir = tmpDir("cw-docs"); val out = tmpDir("cw-out"); val ck = tmpDir("cw-ck")
    val known = Seq.empty[String].toDF("text")
    def mkDocs(day: Int, n: Int): DataFrame =
      (0 until n).map { i =>
        val id = day * 1000L + i
        // letter-only unique (doc, day) tag in every token: scrub must not
        // collapse texts (digits would mask to <NUM>) and no two docs may
        // share content, or the in-stream dedup eats them
        val tag = s"u${('a' + i / 26).toChar}${('a' + i % 26).toChar}${('a' + day).toChar}"
        val text = (0 until 40).map(j =>
          s"w${('a' + (i + j) % 26).toChar}${('a' + (j * 3) % 26).toChar}$tag").mkString(" ")
        (id, s"src${i % 2}", text,
          java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 00:00:00"))
      }.toDF("doc_id", "source", "text", "ts")
    val schema = mkDocs(1, 1).schema
    // three files, three days apart, one file per trigger → the watermark
    // advances between micro-batches and EXPIRES prior days' dedup state
    writeSlice(dir, "d1", mkDocs(1, 50))
    writeSlice(dir, "d2", mkDocs(4, 50))
    writeSlice(dir, "d3", mkDocs(7, 50))
    val q = CorpusIngest.start(spark, dir, schema, known, out, ck,
      minQuality = 0.0, maxFilesPerTrigger = 1,
      eventTimeCol = Some("ts"), dedupWatermark = "24 hours")
    q.awaitTermination()
    // boundedness is the claim: the unbounded dropDuplicates would end at
    // exactly 150 rows; with the watermark, expired days leave the store
    // so no batch ever holds all three days
    val stateSeries = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .filter(_.nonEmpty).map(_.head.numRowsTotal).toSeq
    assert(stateSeries.exists(_ > 0) && stateSeries.max <= 100,
      s"state must never hold all 150 hashes: $stateSeries")
    // content still exactly-once: every doc distinct, all 150 committed
    val sink = new ExactlyOnceSink(spark, out)
    assert(sink.readCommitted("events").get.count() == 150)
  }

  test("a fully-filtered micro-batch commits empty and does not wedge the stream") {
    import spark.implicits._
    val dir = tmpDir("ci-empty-docs"); val out = tmpDir("ci-empty-out")
    val ck = tmpDir("ci-empty-ck")
    // every doc fails the quality gate (degenerate single-token repeats)
    val junk = (0 until 30).map(i => (i.toLong, s"src${i % 3}", "spam " * 3))
      .toDF("doc_id", "source", "text")
    writeSlice(dir, "junk", junk)
    val known = Seq.empty[String].toDF("text")
    CorpusIngest.start(spark, dir, junk.schema, known, out, ck, minQuality = 0.9)
      .awaitTermination()
    val sink = new ExactlyOnceSink(spark, out)
    assert(sink.committedBatchIds.nonEmpty, "empty batch must still commit")
    assert(sink.readCommitted("events").forall(_.count() == 0))
    // compacting an ALL-EMPTY history still flips the epoch (bounds the
    // manifest) instead of crashing on schema inference
    val epoch = sink.compact()
    assert(sink.epochFloor.contains(epoch))
    assert(sink.readCommitted("events").forall(_.count() == 0))
    // and a follow-up file with a doc engineered past the 0.9 gate (120
    // tokens, 20% stopwords, ~8.7 mean chars, 0.86 diversity → ≈0.96)
    // flows through the same stream
    // letter-only tokens: scrub runs BEFORE the gate, so digit-bearing
    // tokens would all collapse to the same <NUM>-masked string and kill
    // the diversity term
    val goodText = ((0 until 96).map(i =>
      s"wordy${('a' + i / 26).toChar}${('a' + i % 26).toChar}xyz") ++
      Seq.fill(3)(Seq("the", "a", "of", "and", "to", "in", "is", "over")).flatten)
      .mkString(" ")
    writeSlice(dir, "good",
      Seq((100L, "src0", goodText)).toDF("doc_id", "source", "text"))
    CorpusIngest.start(spark, dir, junk.schema, known, out, ck, minQuality = 0.9)
      .awaitTermination()
    assert(sink.readCommitted("events").get.count() == 1)
  }

  test("continuous sequence packing == one-shot pack; cursor survives; replay no-op") {
    import graft.pipeline.StreamPack
    val dir = tmpDir("sp-docs"); val work = tmpDir("sp-work"); val ck = tmpDir("sp-ck")
    // id-ordered arrival: with in-order delivery the tape equals the
    // batch operator's (the contract under test)
    writeSlice(dir, "f1", docs.where(col("doc_id") < 150))
    writeSlice(dir, "f2", docs.where(col("doc_id") >= 150 && col("doc_id") < 300))
    StreamPack.start(spark, dir, docs.schema, work, ck, seqLen = 512)
      .awaitTermination()
    val mid = StreamPack.cursor(spark, work)
    assert(mid._2 > 0, s"cursor must advance: $mid")
    // a third file arrives later: the packer continues the SAME tape
    writeSlice(dir, "f3", docs.where(col("doc_id") >= 300))
    StreamPack.start(spark, dir, docs.schema, work, ck, seqLen = 512)
      .awaitTermination()
    val want = graft.ops.Corpus.packSequences(docs, seqLen = 512)
    assertSameRows(StreamPack.readManifest(spark, work), want,
      "continuous pack == one-shot pack")
    val (lastBatch, endCur) = StreamPack.cursor(spark, work)
    // the cursor is the total token count of the packable corpus
    val totalTokens = docs
      .select(sum(TextAnalysis.tokenCount(col("text")).cast("long"))).first().getLong(0)
    assert(endCur == totalTokens, s"cursor $endCur != corpus tokens $totalTokens")

    // rerun with nothing new: no-op (no new commits, manifest identical)
    StreamPack.start(spark, dir, docs.schema, work, ck, seqLen = 512)
      .awaitTermination()
    assert(StreamPack.cursor(spark, work) == ((lastBatch, endCur)))
    assertSameRows(StreamPack.readManifest(spark, work), want, "rerun no-op")

    // a replay of an already-committed batch is a whole-batch skip
    StreamPack.applyBatch(spark, work, lastBatch,
      docs.limit(1), seqLen = 512)
    assertSameRows(StreamPack.readManifest(spark, work), want, "committed replay skipped")
  }
}
