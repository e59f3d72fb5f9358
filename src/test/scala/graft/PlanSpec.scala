package graft

import graft.queries.Queries

/** Physical-plan audits: the optimizations we rely on at 100 TB must
  * actually appear in the executed plan — pushdown reaching the scan,
  * broadcast joins for dims, whole-stage codegen in the hot paths.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Runs `df`, then whether an operator line of its final plan inside a
    * `*(n)` whole-stage-codegen stage calls `call`. The kernels plan as
    * `static_invoke(graft.functions.<Kernels>.<method>(…))`.
    */
  private def inCodegenStage(df: org.apache.spark.sql.DataFrame, call: String): Boolean = {
    df.collect()
    plan(df).linesIterator.exists(l =>
      l.contains(call) && "\\*\\(\\d+\\) ".r.findFirstIn(l).isDefined)
  }

  test("q2: filter is pushed to the parquet scan; schema pruned") {
    val p = plan(Queries.q2Filter(spark, sf))
    assert(p.contains("PushedFilters") &&
      (p.contains("o_orderpriority") || p.contains("IsNotNull")), p.take(800))
    // ReadSchema carries only the needed columns, not all 6
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_orderstatus"),
      readSchema)
  }

  test("q3: dimension joins are broadcast, fact side never pre-shuffled") {
    val p = plan(Queries.q3JoinAgg(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "no sort-merge join for broadcastable dims")
  }

  test("q1: two-phase hash aggregate with map-side partials") {
    val p = plan(Queries.q1Agg(spark, sf))
    assert(p.contains("partial_sum"), "map-side partial aggregation present")
    assert(p.contains("HashAggregate"))
    // exactly one data exchange (the group-by), plus the output sort
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange hashpartitioning")) == 1)
  }

  test("q22: candidate generation is an equi-join, never a nested loop") {
    val p = plan(Queries.q22EmbDedup(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "embedding near-dup must not plan an all-pairs join:\n" + p.take(800))
  }

  test("q11/q12: dedup joins are equi-joins with partial aggregation, never cartesian") {
    Seq(Queries.q11NgramJaccard(spark, sf), Queries.q12MinhashLsh(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(600))
      assert(p.contains("partial_count") || p.contains("partial_min"),
        "map-side partial aggregation present:\n" + p.take(600))
      // inverted-index and verify exchanges move 8-byte xxhash64 gram keys
      // — never the gram STRING (at 100 TB the gram stream dominates
      // shuffle volume; the only per-id aggregate rows are counts)
      val bad = p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("gram#"))
      assert(!bad, "no gram strings in any exchange:\n" + p.take(800))
    }
  }

  test("q59: cosine self-join candidates meet in a cid equi-join, never a nested loop") {
    val p = plan(graft.ops.Similarity.cosineSelfJoin(
      Queries.table(spark, sf, "embeddings"), threshold = 0.40, nlist = 16))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "semantic-dedup pair stage must not plan an all-pairs join:\n" + p.take(800))
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("cid#")) ||
      p.contains("BroadcastHashJoin"),
      "candidates meet in the cid equi-join:\n" + p.take(800))
  }

  test("q26: cluster propagation is equi-joins only, never a nested loop") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    // force the at-scale distributed path (the driver union-find shortcut
    // would plan as a LocalTableScan and prove nothing)
    val p = plan(graft.ops.Dedup.dedupClusters(pairs, driverMaxEdges = 0L))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "label propagation must be equi-join shaped:\n" + p.take(600))
  }

  test("q27: hash sampling is a narrow shuffle-free filter with pruned schema") {
    // private parquet copy: other suites cache documents.parquet in the
    // shared session, and cache substitution would hide the file scan
    val dir = tmpDir("q27plan")
    spark.read.parquet(s"$sf/documents.parquet").write.parquet(s"$dir/documents.parquet")
    val p = plan(Queries.q27HashSample(spark, dir))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "content-hash sampling must be a narrow filter:\n" + p.take(600))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), "sampling must not read the text column: " + readSchema)
  }

  test("q15: IVF assignment is a narrow codegen'd map (no join/exchange before the index)") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val (index, _) = graft.ops.Similarity.buildIvfIndex(embs, nlist = 16)
    val p = plan(index)
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "nearest_centroid must not shuffle:\n" + p.take(600))
    assert(inCodegenStage(index, "VectorKernels.assign("),
      "nearest_centroid must run inside a codegen stage:\n" + plan(index).take(800))
  }

  test("q28: as-of join is one key shuffle + window — no range join, no nested loop") {
    val p = plan(Queries.q28AsofJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of must be the union+window shape, not a join:\n" + p.take(800))
    assert(p.contains("Window"), p.take(400))
    // exactly one data shuffle: the partitionBy(key) exchange for the window
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      "single key shuffle:\n" + p.take(800))
  }

  test("q30: vocab top-k is TakeOrderedAndProject over partial aggregation, no full sort") {
    val p = plan(Queries.q30Vocab(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort:\n" + p.take(600))
    assert(p.contains("partial_count"), "map-side vocab combine:\n" + p.take(600))
  }

  test("q31: df and N join back as broadcasts — corpus term stream shuffles once") {
    val p = plan(Queries.q31TfIdf(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "df/N must broadcast:\n" + p.take(800))
    assert(p.contains("BroadcastHashJoin") && p.contains("BroadcastNestedLoopJoin"),
      "vocab-side broadcast equi-join + 1-row N broadcast:\n" + p.take(800))
  }

  test("q32: benchmark grams broadcast; corpus text is never shuffled") {
    val p = plan(Queries.q32Decontaminate(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "gram semi-join must broadcast:\n" + p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    // only the hit doc-id set shuffles (for the distinct + anti-join) —
    // no exchange may carry the text column
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text"))
    assert(!badExchange, "no shuffle of document text:\n" + p.take(800))
  }

  test("q39: spans shuffle as 8-byte fingerprints — window text never in an exchange") {
    val p = plan(Queries.q39SubstringDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the fingerprint projection precedes every shuffle: no exchange may
    // carry the window text or the gram strings (at 100 TB the exchanges
    // move 8-byte keys, not the corpus)
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("text#") || l.contains("gram#")))
    assert(!bad, "no shuffle of window/document text:\n" + p.take(800))
  }

  test("q41: probes broadcast; embedding vectors never enter an exchange") {
    val p = plan(Queries.q41KnnJoin(spark, sf))
    // the corpus×probes product is the intended broadcast NLJ (probe side
    // tiny); what must NOT happen is a shuffle of the vectors — the only
    // exchange is the per-probe top-k over (qid, id, cosine)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("embedding#") || l.contains("qvec#")))
    assert(!bad, "no shuffle of embedding vectors:\n" + p.take(800))
  }

  test("q43: bucketed knn — cid equi-joins only, no cartesian, top-k moves scores not vectors") {
    val p = plan(Queries.q43KnnBucketed(spark, sf))
    // the corpus-scale regime's whole point: probes and corpus meet in cid
    // EQUI-joins — never a cartesian/NLJ product (q41's broadcast product
    // is the contract this operator exists to avoid)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // the per-probe top-k windows repartition by qid carrying only
    // (qid, id, cosine) — vectors must not ride the ranking exchange
    val bad = p.linesIterator.exists(l =>
      l.contains("hashpartitioning(qid") &&
        (l.contains("embedding#") || l.contains("qvec#")))
    assert(!bad, "top-k exchange must move scores, not vectors:\n" + p.take(800))
    spark.catalog.clearCache()
  }

  test("q44: packing shuffles doc metadata only — text never in an exchange") {
    val p = plan(Queries.q44PackShards(spark, sf))
    // the writer/token projection is scan-side; the per-writer sort and
    // the fill aggregate move (doc_id, writer, n_tokens) — at 100 TB the
    // exchanges carry ~24 bytes/doc, never the corpus text
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text:\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p.take(600))
  }

  test("q45: mixture balancing is a narrow content-hash filter — no shuffle, no join") {
    val p = plan(Queries.q45MixtureBalance(spark, sf))
    // rates resolve to literal thresholds at plan time (the count aggregate
    // is a separate strata-bounded job); the applied filter is q27/q35-
    // shaped: one scan, zero exchanges
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "balanced sample must stay narrow:\n" + p.take(800))
  }

  test("q46: overlap matrix shuffles 8-byte gram hashes — gram text never in an exchange") {
    val p = plan(Queries.q46SourceOverlap(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("text#") || l.contains("gram#")))
    assert(!bad, "no shuffle of gram/document text:\n" + p.take(800))
  }

  test("q47: keep-best dedup — text never in an exchange, survivors via semi-join") {
    val p = plan(Queries.q47BestRepDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text:\n" + p.take(800))
    spark.catalog.clearCache()
  }

  test("q48: outlier stats broadcast back — one scan, no text shuffle") {
    val p = plan(Queries.q48LengthOutliers(spark, sf))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "strata stats must broadcast:\n" + p.take(800))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text:\n" + p.take(800))
  }

  test("q49: budget prefix — whole-bin fast path is narrow; no hash shuffle of text") {
    val p = plan(Queries.q49TokenBudget(spark, sf))
    // the kept-whole bins are a pure filter; only the ONE boundary bin
    // (corpus/2^binBits of the data) rides the single-partition running
    // sum — no hash exchange may carry text, and no join is needed
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no hash shuffle of document text:\n" + p.take(800))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(600))
  }

  test("q50: incremental dedup — md5/gram-hash exchanges only, no text shuffle") {
    val p = plan(Queries.q50IncrementalDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("text#") || l.contains("gram#")))
    assert(!bad, "no shuffle of document/gram text:\n" + p.take(800))
  }

  test("q55: indexed incremental dedup reads postings from the index — corpus text never re-scanned") {
    import spark.implicits._
    val dir = tmpDir("gramidxplan")
    // distinct on-disk locations so the scans are attributable in the plan
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six seven"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "fresh novel content with no overlap"))
      .toDF("doc_id", "text").write.parquet(s"$dir/new")
    graft.ops.Dedup.writeGramIndex(
      spark.read.parquet(s"$dir/corpus"), s"$dir/idx", n = 3)
    val idx = graft.ops.Dedup.readGramIndex(spark, s"$dir/idx")
    val nw = spark.read.parquet(s"$dir/new")
    val p = plan(graft.ops.Dedup.incrementalDedupIdsIndexed(nw, idx))
    assert(!p.contains(s"$dir/corpus"),
      "the daily batch must not pay a corpus re-scan:\n" + p.take(1200))
    assert(p.contains(s"$dir/idx/grams") && p.contains(s"$dir/idx/md5"),
      "postings/md5s must come from the stored index:\n" + p.take(1200))
  }

  test("q56: ingest near stage — md5/gram-hash exchanges only, no text shuffle") {
    val p = plan(Queries.q56IngestNear(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("text#") || l.contains("gram#")))
    assert(!bad, "no shuffle of document/gram text:\n" + p.take(800))
  }

  test("q57: persisted IVF probe is a cid-partition-pruned read") {
    val p = plan(Queries.q57AnnIvfPersisted(spark, sf))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cid"),
      "probe must prune cid partitions at the scan:\n" + p.take(1200))
  }

  test("q65: filtered ANN — label predicate pushed to the index scan, cid partitions pruned") {
    val p = plan(Queries.q65FilteredAnn(spark, sf))
    val scan = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("label")).getOrElse("")
    assert(scan.nonEmpty,
      "label predicate must push down to the at-rest index parquet scan:\n" + p.take(1200))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cid"),
      "probe must still prune cid partitions at the scan:\n" + p.take(1200))
  }

  test("q66: hard negatives — probes broadcast; corpus vectors never enter an exchange") {
    val p = plan(Queries.q66HardNegatives(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probe side must broadcast:\n" + p.take(800))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("embedding#"))
    assert(!bad, "corpus vectors must not shuffle (only per-qid scores do):\n" + p.take(800))
  }

  test("q67: chunking is a narrow projection + bounded explode — no exchange at all") {
    val p = plan(Queries.q67ChunkDocs(spark, sf))
    assert(!p.contains("Exchange"),
      "chunking must not shuffle (narrow cut + explode):\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(600))
  }

  test("q68: sequence packing — bin offsets broadcast back, text never in an exchange") {
    val p = plan(Queries.q68PackSequences(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "bin offsets must join back as a broadcast:\n" + p.take(800))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text (offsets/longs only):\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q69: length rebalancing is a narrow threshold filter — no join, no text exchange") {
    val p = plan(Queries.q69LengthBalance(spark, sf))
    assert(!p.contains("Join"), "thresholds ride the plan as literals:\n" + p.take(800))
    assert(!p.contains("Exchange hashpartitioning"),
      "the kept-set filter must not shuffle:\n" + p.take(800))
  }

  test("q72: BM25 — narrow scoring scan, top-k via TakeOrderedAndProject, no text shuffle") {
    val p = plan(Queries.q72Bm25(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must not global-sort:\n" + p.take(800))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "document text must not shuffle:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q51: centroid classify — narrow argmax kernel, no dim-join fan-out, no text in any exchange") {
    val p = plan(Queries.q51CentroidClassify(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // r7: scoring is the one-pass centroid_argmax kernel over the cached
    // embedding projection — the former dim-join (×strata row fan-out) and
    // its window argmax are gone from the plan entirely
    val q51 = Queries.q51CentroidClassify(spark, sf)
    assert(inCodegenStage(q51, "VectorKernels.centroidArgmax("),
      "scores must come from the narrow argmax kernel:\n" + plan(q51).take(1600))
    assert(!p.contains("row_number"),
      "no window argmax — the kernel decides per row:\n" + p.take(800))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text:\n" + p.take(800))
  }

  test("q52: assembly composition — no text in any hash exchange across all stages") {
    val p = plan(Queries.q52Assembly(spark, sf))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q42: curation pipeline joins move ids only — text never in an exchange") {
    val p = plan(Queries.q42Curation(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!bad, "no shuffle of document text:\n" + p.take(800))
  }

  test("q29: repetition report is a single narrow projection (no shuffle, no join)") {
    val dir = tmpDir("q29plan")
    spark.read.parquet(s"$sf/documents.parquet").write.parquet(s"$dir/documents.parquet")
    val p = plan(Queries.q29Repetition(spark, dir))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "repetition stats must be narrow:\n" + p.take(600))
  }

  test("q34: retention self-join is an equi-join with partial aggregation") {
    val p = plan(Queries.q34Retention(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "retention must be equi-join shaped:\n" + p.take(600))
    assert(p.contains("partial_count"), p.take(600))
  }

  test("CDC routed projection stays narrow (no exchange before the sink shuffle)") {
    import graft.pipeline.CdcPipeline
    val df = graft.source.ChangeStreamReader.batch(spark,
      { val d = tmpDir("plan"); // tiny synthetic stream dir
        val cfg = graft.source.TranscriptGen.GenConfig(numConvs = 5)
        graft.source.TranscriptGen.writeTable(spark, cfg, d)
        graft.source.ChangeStreamReader.spoolSnapshot(spark, d, s"$d/stream")
        s"$d/stream" })
    val p = plan(CdcPipeline.routed(df))
    assert(!p.contains("Exchange"), "route+enrich must be shuffle-free:\n" + p.take(800))
    // "*(1)" prefix = whole-stage-codegen stage 1 in the compact rendering
    assert(p.contains("*(1)"), "projection is codegen'd:\n" + p.take(300))
  }
}
