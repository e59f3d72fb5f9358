package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch analytics queries over the driver test tables, each paired with a
  * DuckDB oracle in SparkEntry.oracleSql. These exercise the engine's
  * operator surface (aggregation, joins, windows, sessionization, pattern
  * matching, dedup, text analysis, similarity) in oracle-checkable form;
  * the streaming semantics of the same operators are covered by the
  * ScalaTest suites.
  */
object Queries {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Order-independent exact sum of a 2-decimal double column: scale to
    * integer cents, sum as long (exact), descale. Floating sums are
    * order-dependent across engines; this makes Spark and DuckDB agree
    * bit-for-bit.
    */
  def sumCents(c: Column): Column = (sum(round(c * 100).cast("long")) / 100.0)

  /** Same for a product of two 2-decimal columns (price * (1-discount)). */
  def sumCentsProd(a: Column, b: Column): Column =
    (sum(round(a * 100).cast("long") * round(b * 100).cast("long")) / 10000.0)

  /** q1: pricing-summary aggregation (TPC-H Q1 shape) over lineitem.
    * Map-side partial agg + final agg; one shuffle on the 6-value group key.
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sumCents(col("l_extendedprice")).as("sum_base_price"),
        sumCentsProd(col("l_extendedprice"), lit(1) - col("l_discount")).as("sum_disc_price"),
        (sum(round(col("l_quantity") * 100).cast("long")) / count(lit(1)) / 100.0).as("avg_qty"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q2: selective filter + projection — predicate and column pruning must
    * reach the parquet scan (PushedFilters / 2-column ReadSchema).
    */
  def q2Filter(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_custkey"))

  /** q3: 3-way join — the customer DIMENSION broadcasts; orders is
    * fact-sized (TPC-H: lineitem/4), so it gets NO hint — at test scale
    * Spark auto-broadcasts it under the size threshold, at 100 TB it
    * correctly shuffles into a sort-merge join instead of OOMing the
    * driver with a forced fact broadcast.
    */
  def q3JoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val o = table(spark, sfDir, "orders")
    val c = table(spark, sfDir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sumCentsProd(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_mktsegment"))
  }

  /** q4: top-3 parts by revenue within each brand (ranking window,
    * deterministic tiebreak).
    */
  def q4TopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = table(spark, sfDir, "lineitem")
    val p = table(spark, sfDir, "part")
    val rev = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sumCentsProd(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("p_partkey"))
    rev.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("revenue"), col("rk"))
  }

  /** q5: tumbling 1h event-time window (batch form of Windows.tumbling). */
  def q5Tumbling(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumCents(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** q6: sliding 1h window, 15m slide. */
  def q6Sliding(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("window_start"), col("event_type"), col("n"))

  /** q7: turn-gap sessionization per user (session_window, 30m gap). */
  def q7Session(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("session_start"), col("user_id"), col("n_events"))

  /** q8: CEP-style adjacent-pair pattern: purchase immediately followed by
    * error for the same user within 10 minutes (lag/lead sequence detect).
    */
  def q8CepPattern(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(spark, sfDir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("next_id", lead(col("event_id"), 1).over(w))
      .where(col("event_type") === "purchase" && col("next_type") === "error" &&
        unix_micros(col("next_ts").cast("timestamp")) - unix_micros(col("ts").cast("timestamp")) <= 600L * 1000000L)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("next_id").as("error_id"))
  }

  /** q9: interval join (batch form of the stream-stream join): every error
    * within 10 minutes after a purchase by the same user.
    */
  def q9IntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
    val a = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val b = ev.where(col("event_type") === "error")
      .select(col("user_id").as("u2"), col("event_id").as("error_id"), col("ts").as("e_ts"))
    a.join(b, col("user_id") === col("u2") &&
        col("e_ts") > col("p_ts") &&
        unix_micros(col("e_ts").cast("timestamp")) - unix_micros(col("p_ts").cast("timestamp")) <= 600L * 1000000L)
      .select(col("user_id"), col("purchase_id"), col("error_id"))
  }

  // ---- training-data ops over documents / embeddings ----

  def q10DedupExact(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.exact(table(spark, sfDir, "documents"))

  def q11NgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.ngramJaccardPairs(table(spark, sfDir, "documents"), n = 3, threshold = 0.6)

  def q12MinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.minhashLshPairs(table(spark, sfDir, "documents"), n = 3, threshold = 0.6)

  /** q13 runs at the operator default maxHamming=3 — the scale-safe point:
    * 4 chunks of 15 bits give 2^15 bucket values per chunk, so candidate
    * volume stays ~4·n²/2^15 instead of the 7-bit-chunk quadratic blowup
    * the r2 verdict flagged at maxHamming=7.
    */
  def q13Simhash(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.simhashPairs(table(spark, sfDir, "documents"), maxHamming = 3)

  private def queryVec(spark: SparkSession, sfDir: String, id: Long): Array[Float] =
    table(spark, sfDir, "embeddings").where(col("vec_id") === id)
      .select(col("embedding")).first().getSeq[Float](0).toArray

  def q14AnnBrute(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Similarity.bruteForceTopK(table(spark, sfDir, "embeddings"),
      queryVec(spark, sfDir, 0L), k = 10, excludeId = Some(0L))

  /** q15: IVF at production-shaped settings (nlist=64, nProbe=4): k-means
    * centroids + triangle-inequality expansion keep the result exactly
    * equal to brute force (the oracle) on any data distribution.
    */
  def q15AnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Similarity.ivfTopK(table(spark, sfDir, "embeddings"),
      queryVec(spark, sfDir, 0L), k = 10, nlist = 64, nProbe = 4, excludeId = Some(0L))

  def q16LangId(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("lang"), graft.ops.TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))

  def q17Quality(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(
        round(avg(graft.ops.TextAnalysis.qualityScore(col("text"))), 4).as("avg_quality"),
        count(lit(1)).as("n_docs"))

  def q18Tokens(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(
        sum(graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
        // cast to long so the physical type matches DuckDB's wider max()
        // integer (r1: values matched, hash failed on INT32 vs INT64)
        max(graft.ops.TextAnalysis.tokenCount(col("text"))).cast("long").as("max_tokens"))

  def q19Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("doc_id"), graft.ops.TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  def q20Rollup(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer")
      .join(broadcast(table(spark, sfDir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, sfDir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sumCents(col("c_acctbal")).as("total_bal"))

  def q21Distinct(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))

  /** q22: embedding-cosine near-dup over hashed-3-gram document embeddings
    * (the embeddings fixture is uniform noise with no near-dup structure —
    * its cosine tail is continuous around any threshold, so no sub-quadratic
    * method exists on it; the documents corpus has planted near-dups with a
    * 0.95-vs-0.29 cosine gap). Sign-LSH banded candidates + exact integer
    * verify; threshold 4/5. The gate query PINS the 12-bit operating point
    * (bands auto-size to 105) so the DuckDB mirror enumerates the same
    * bands tractably at gate scale; the operator's own default auto-sizes
    * bitsPerBand from the corpus count (Dedup.autoBitsPerBand).
    */
  def q22EmbDedup(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.embeddingNearDupPairs(table(spark, sfDir, "documents"),
      bitsPerBand = 12)

  /** q25: exact cosine range search (every vector with cosine ≥ 0.25 to the
    * query) through the IVF index's triangle-inequality bucket prune.
    */
  def q25AnnRange(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Similarity.ivfRangeSearch(table(spark, sfDir, "embeddings"),
      queryVec(spark, sfDir, 0L), threshold = 0.25, nlist = 64, excludeId = Some(0L))

  /** q24: BPE-ish token accounting (letter/digit runs + punctuation marks),
    * the subword-budget twin of q18's whitespace counts.
    */
  def q24BpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(
        sum(graft.ops.TextAnalysis.bpeTokenCount(col("text")).cast("long")).as("total_bpe"),
        max(graft.ops.TextAnalysis.bpeTokenCount(col("text"))).cast("long").as("max_bpe"))

  /** q23: multimodal decode plumbing + per-modality stats. All five columns
    * are oracle-checked: routing, byte accounting and frame sampling are
    * pure integer arithmetic, and avg_f0 derives from the integer-exact
    * feature-lane fold (Multimodal.f0Numerator) so even the float column
    * reproduces bit-for-bit in DuckDB.
    */
  /** q26: dedup clustering — near-dup pairs (the q11/q12 operator) collapsed
    * into connected components; each doc labeled with its cluster's min id
    * (the representative a dedup pipeline keeps).
    */
  def q26DedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.dedupClusters(
      graft.ops.Dedup.minhashLshPairs(table(spark, sfDir, "documents"), n = 3, threshold = 0.6))

  /** q27: deterministic content-hash sampling (25% split) — reproducible
    * across engines/partitionings, the train/eval-split primitive.
    */
  def q27HashSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.hashSample(table(spark, sfDir, "documents"), rate = 0.25)
      .select(col("doc_id"), col("source"))

  /** q28: as-of join — each purchase gets the latest at-or-before click by
    * the same user (temporal lookup join; null when the user never
    * clicked). Single-shuffle union + running-last, never a range join.
    */
  def q28AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.pipeline.Joins.asOfJoin(purchases, clicks, "user_id", "ts", "event_id")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("asof.event_id").as("click_id"))
  }

  /** q29: Gopher-style repetition signals per document. */
  def q29Repetition(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextAnalysis.repetitionStats(table(spark, sfDir, "documents"))

  /** q30: corpus vocabulary — top-20 tokens by frequency. */
  def q30Vocab(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextAnalysis.vocab(table(spark, sfDir, "documents"), k = 20)

  /** q31: per-document top-3 tf·idf terms. */
  def q31TfIdf(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextAnalysis.tfIdf(table(spark, sfDir, "documents"), topK = 3)

  /** q32: benchmark decontamination — survivors after dropping every doc
    * sharing an 8-gram with the eval slice (doc_id ≡ 0 mod 20).
    */
  def q32Decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    graft.ops.Dedup.decontaminate(docs, docs.where(col("doc_id") % 20 === 0), n = 8)
      .select(col("doc_id"), col("source"))
  }

  /** q33: exact per-group percentiles (p50/p95 of event value). Exact
    * `percentile` is a per-group sort — correct up to the low-cardinality-
    * groups regime (5 event types here, each group a parallel sort); a
    * 100 TB high-cardinality rollup swaps in `approx_percentile` with the
    * same query shape (t-digest mergeable sketch, map-side combine).
    */
  def q33Percentiles(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))

  /** q34: day-over-day retention — for each activity date, distinct active
    * users and how many are active again the next day. distinct (user, day)
    * grid + a self equi-join on (user, day+1): both shuffle on composite
    * keys, no window over the whole user history.
    */
  def q34Retention(spark: SparkSession, sfDir: String): DataFrame = {
    // cached (r7): the grid feeds the activity aggregate AND both self-join
    // sides — uncached, the events scan + distinct ran 3× (before-plan).
    // r7b: a lead-window variant (one user_id exchange instead of the
    // composite-key self-join) was built and MEASURED SLOWER — min-of-4
    // same-window A/B (OPTIMIZATION_r07.md): self-join 0.75 s vs window
    // 1.14 s at sf0.1 — the cached grid broadcast-joins here while the window forces
    // a full sort behind its exchange; reverted per the empirical loop
    // (guide §1.1, the q31/q60-cache precedent).
    val ud = table(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct().cache()
    val act = ud.groupBy(col("d")).agg(count(lit(1)).as("n_active"))
    val ret = ud.as("a")
      .join(ud.as("b"),
        col("a.user_id") === col("b.user_id") && col("b.d") === date_add(col("a.d"), 1))
      .groupBy(col("a.d").as("d")).agg(count(lit(1)).as("n_retained"))
    act.join(ret, Seq("d"), "left")
      .select(col("d"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
  }

  /** q35: stratified deterministic sampling — per-source mixing rates
    * (src0→1/2, src1→1/4, others 1/8), exact rational thresholds.
    */
  def q35StratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.stratifiedSample(table(spark, sfDir, "documents"), "source",
      Map("src0" -> ((1L, 2L)), "src1" -> ((1L, 4L))), defaultRate = (1L, 8L))
      .select(col("doc_id"), col("source"))

  /** q36: CUBE aggregation — all grouping-set combinations of
    * (event_type, day) in one pass (rollup's bigger sibling, q20).
    */
  def q36Cube(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .cube(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), sumCents(col("value")).as("total_value"))

  /** q37: ordered funnel — users with a view, then a click strictly after
    * their FIRST view, then a purchase strictly after that first
    * qualifying click. Each stage is one aggregate + equi-join on user_id
    * (no window over full per-user histories, no cross join) — the
    * conversion-funnel primitive at event-log scale.
    */
  def q37Funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
    def stage(t: String) = ev.where(col("event_type") === t)
    // v and c are cached (r7): each feeds the next stage's join AND its own
    // final count — uncached, the funnel re-derived every upstream stage
    // per consumer (12 events scans in the before-plan, 6 after)
    val v = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("v_ts")).cache()
    val c = stage("click").join(v, "user_id").where(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts")).cache()
    val p = stage("purchase").join(c, "user_id").where(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  /** q38: document-length histogram (10-token buckets, capped at 19) —
    * the corpus-shape report every pipeline run starts with. Exact integer
    * bucketing in both engines, one hash aggregate.
    */
  def q38LenHistogram(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(least(floor(graft.ops.TextAnalysis.tokenCount(col("text")) / 10.0), lit(19))
        .cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** q63: event-transition mining — the role/tool-SEQUENCE analytics a
    * transcript pipeline runs (which step follows which, and how long the
    * hand-off dwells): per user, order events by (ts, event_id) and count
    * every (event_type → next) bigram, plus the exact total gap in
    * integer microseconds (no float time math — the q31 convention).
    *
    * Scale: ONE shuffle on user_id (the per-key sharding every stateful
    * stage already uses — co-partitions with CEP/sessionization at
    * 100 TB), `lead` within the partition, then a hash agg on the tiny
    * (from, to) domain with map-side combine. No global sort, no driver
    * work, output bounded by |event_type|².
    */
  def q63EventBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // ts is TIMESTAMP_NTZ; the session TZ is pinned UTC everywhere, so the
    // cast is the identity on the microsecond line (and gaps are diffs —
    // any fixed offset cancels)
    val us = unix_micros(col("ts").cast("timestamp"))
    table(spark, sfDir, "events")
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"),
        (lead(us, 1).over(w) - us).as("gap_us"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("gap_us")).as("total_gap_us"))
  }

  /** q64: changelog aggregation with retractions — the per-group
    * aggregate over the CURRENT table implied by an upsert/delete
    * changelog (the dynamic-table semantic every CDC consumer maintains:
    * as keys move between groups or die, the view stays exact without
    * reprocessing). The changelog derives deterministically from
    * `events`: each row upserts its user's (event_type, v) unless
    * event_id % 17 == 0, which deletes the user. `Retractions
    * .retractStream` is the streaming twin — per-change retraction
    * deltas whose per-group fold EventTimeSpec pins == this batch form.
    *
    * Scale: one shuffle on user_id (co-partitioned with the LWW view /
    * SCD2 / CEP stages), `row_number` inside the partition, then a hash
    * aggregate with map-side combine on the tiny group domain. Values
    * are exact integers — retraction algebra over longs is bit-exact.
    */
  def q64RetractAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ch = table(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_id") % 17 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("event_type"), (col("event_id") % 997).as("v"))
    graft.pipeline.Retractions.currentAggregate(ch, "user_id", "ts",
      "event_id", "op", "event_type", "v")
  }

  /** q39: substring-level dedup report — per document, how many of its
    * 8-token sliding windows repeat verbatim in OTHER documents (the Lee
    * et al. 2021 substring-dedup signal; complements doc-level q10–q13).
    * n_spans derives from the token count arithmetically (narrow, no
    * second explode); the dup counts come from the fingerprint-window
    * operator.
    */
  def q39SubstringDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val k = 8
    val dupPerDoc = graft.ops.Dedup.duplicateSpans(docs, k = k, minDocs = 2)
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"))
    docs.select(col("doc_id"),
        (graft.ops.TextAnalysis.tokenCount(col("text")) - (k - 1)).cast("long").as("n_spans"))
      .where(col("n_spans") >= 1)
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)) / col("n_spans"), 4).as("dup_frac"))
  }

  /** q40: pattern scrubbing (PII-redaction plumbing) — per document, the
    * number of masked spans and the md5 of the scrubbed text, so the
    * oracle verifies the REWRITTEN content bit-for-bit, not just counts.
    */
  def q40Scrub(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.scrubCount(col("text")).cast("long").as("n_masked"),
        md5(graft.ops.TextAnalysis.scrub(col("text")).cast("binary")).as("scrubbed_md5"))

  /** q41: batch kNN join — top-5 cosine neighbors for every probe vector
    * (vec_id ≡ 0 mod 100) in one corpus scan; the multi-query twin of
    * q14's single-query top-k.
    */
  def q41KnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val probes = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.ops.Similarity.knnJoin(emb, probes, k = 5)
  }

  /** q43: CORPUS-SCALE bucketed kNN join — top-5 cosine neighbors for every
    * probe (vec_id ≡ 0 mod 20) through IVF centroid buckets: probes and
    * corpus meet only in cid equi-joins (never a corpus broadcast or
    * cartesian — the regime q41's broadcast-probe contract excludes).
    * Exact by triangle-inequality expansion, so the oracle is the same
    * brute-force ranking as q41's.
    */
  def q43KnnBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val probes = emb.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.ops.Similarity.knnJoinBucketed(emb, probes, k = 5, nlist = 16, nProbe = 2)
  }

  /** q42: the end-to-end corpus-curation pipeline a training-data user
    * actually runs — quality filter → exact dedup (keep the min-id
    * representative) → benchmark decontamination (8-gram overlap with the
    * eval slice) → deterministic 50% subsample — composed from the
    * individual operators (q17/q10/q32/q27 building blocks), so the whole
    * chain is one lazy plan Catalyst optimizes end to end. Every stage is
    * engine-neutral arithmetic, so the full composite is oracle-checked,
    * not just its parts.
    */
  def q42Curation(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val quality = docs.where(graft.ops.TextAnalysis.qualityScore(col("text")) >= 0.5)
    // id-only join algebra: every text consumer (quality score, content
    // hash, gram probe) computes SCAN-SIDE and narrow; the joins that
    // follow move ids alone, so document text never enters an exchange —
    // at 100 TB neither the dedup-winner set nor the contaminated set is
    // broadcastable, and joining full rows against them would shuffle the
    // whole corpus text (PlanSpec pins the no-text-exchange property)
    val reps = graft.ops.Dedup.exact(quality).select(col("doc_id"))
    val hits = graft.ops.Dedup.contaminatedIds(
      quality, docs.where(col("doc_id") % 20 === 0), n = 8)
    val kept = quality.select(col("doc_id"), col("source"))
      .join(reps, Seq("doc_id"), "left_semi")
      .join(hits, Seq("doc_id"), "left_anti")
    graft.ops.Dedup.hashSample(kept, rate = 0.5)
      .select(col("doc_id"), col("source"))
  }

  /** q44: training-shard packing — documents assigned to (writer, shard)
    * slots under a 1024-token budget across 8 content-addressed writers
    * (the "concatenate then chunk" layout of GPT-style pretraining);
    * reported as the per-shard fill so the whole layout is one compact
    * oracle-checked table.
    */
  def q44PackShards(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.packShards(table(spark, sfDir, "documents"),
        tokenBudget = 1024, numWriters = 8)
      .groupBy(col("writer"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))

  /** q45: mixture balancing — per-source acceptance rates COMPUTED from
    * corpus counts to hit 4:3:2:1 target weights over src0..src3 (all other
    * sources weight 0), applied through the deterministic content hash; the
    * data-mixing step q35's static rates come from.
    */
  def q45MixtureBalance(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.balanceMixture(table(spark, sfDir, "documents"), "source",
        Map("src0" -> ((4L, 10L)), "src1" -> ((3L, 10L)),
          "src2" -> ((2L, 10L)), "src3" -> ((1L, 10L))))
      .select(col("doc_id"), col("source"))

  /** q46: cross-source 8-gram overlap matrix — distinct shared grams per
    * source pair (corpus forensics for mirrored/syndicated content between
    * sources).
    */
  def q46SourceOverlap(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.sourceOverlap(table(spark, sfDir, "documents"), n = 8)

  /** q47: keep-best dedup — the survivor set when each near-dup cluster
    * (q26's components) keeps its highest-QUALITY member instead of its
    * min id; singletons survive unchanged. The representative policy
    * production dedup actually wants.
    */
  def q47BestRepDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val keep = graft.ops.Dedup.bestRepresentatives(docs,
      graft.ops.Dedup.minhashLshPairs(docs, n = 3, threshold = 0.6),
      graft.ops.TextAnalysis.qualityScore(col("text")))
    docs.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"))
  }

  /** q48: per-source length outliers — documents beyond 2 population
    * standard deviations from their source's mean token count, flagged in
    * exact integer arithmetic (no float z-scores).
    */
  def q48LengthOutliers(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextAnalysis.lengthOutliers(table(spark, sfDir, "documents"),
      strataCol = "source", k = 2)

  /** q49: token-budget subsample — the deterministic hash-order corpus
    * prefix holding ≤ 15000 tokens (two-pass bin threshold, no global
    * sort; the oracle IS the global-sort definition).
    */
  def q49TokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.tokenBudgetSample(table(spark, sfDir, "documents"),
        budget = 15000L)
      .select(col("doc_id"), col("source"))

  /** q50: incremental dedup — the docs of a "new batch" (doc_id ≡ 3 mod
    * 10) that survive exact + 3-gram-jaccard dedup against the existing
    * corpus (all other docs); the daily-ingest stage of a production
    * pipeline, with the new/old join asymmetry the all-pairs operators
    * don't have.
    */
  def q50IncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val nw = docs.where(col("doc_id") % 10 === 3)
    val old = docs.where(col("doc_id") % 10 =!= 3)
    nw.join(graft.ops.Dedup.incrementalDedupIds(nw, old, n = 3, threshold = 0.6),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"))
  }

  /** q51: centroid classification report — confusion matrix of actual
    * source vs nearest-embedding-centroid prediction (integer-exact
    * centroids and dots; the semantic source-attribution primitive).
    */
  def q51CentroidClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    graft.ops.Corpus.centroidClassify(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("pred")).agg(count(lit(1)).as("n"))
  }

  /** q52: the end-to-end corpus-ASSEMBLY pipeline (the back half q42's
    * curation chain feeds): mixture balancing to 4:3:2:1 over src0..src3 →
    * 2000-token budget prefix → shard packing (512-token shards, 4
    * writers), reported as the final per-shard fill. The composition twin
    * of q42: every stage is the same exact engine-neutral arithmetic as
    * its standalone query, so the whole assembly is oracle-checked as one
    * result. (Unlike q42's single lazy plan, the assembly stages are
    * pass-bounded by design: mixture rates and the budget boundary each
    * need one strata/bin-bounded driver aggregate — that IS the two-pass
    * structure that avoids a global sort at 100 TB.)
    */
  def q52Assembly(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val mixed = graft.ops.Corpus.balanceMixture(docs, "source",
      Map("src0" -> ((4L, 10L)), "src1" -> ((3L, 10L)),
        "src2" -> ((2L, 10L)), "src3" -> ((1L, 10L))))
    val sized = graft.ops.Corpus.tokenBudgetSample(mixed, budget = 2000L)
    graft.ops.Corpus.packShards(sized, tokenBudget = 512, numWriters = 4)
      .groupBy(col("writer"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  /** q53: the streaming-ingest curation transform (CorpusIngest.curate) in
    * its deterministic batch form — scrub → quality gate → known-content
    * drop → content hash — so the ingest path sits under the same DuckDB
    * gate as everything else (its streaming==batch equivalence and the
    * tie-arbitrary in-stream dedup are pinned by CorpusIngestSpec).
    * The quality float stays a PREDICATE and is not emitted (q31
    * convention: at sf0.1 one doc's pre-rounded quality sat within an ulp
    * of a 0.00005 boundary and rounded differently per engine — rows
    * matched, the emitted float did not).
    */
  def q53IngestCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val known = docs.where(col("doc_id") % 50 === 0)
      .select(graft.ops.TextAnalysis.scrub(col("text")).as("text"))
    graft.pipeline.CorpusIngest.curate(docs, known, minQuality = 0.5)
      .select(col("doc_id"), col("source"), col("content_md5"))
  }

  /** q54: substring-dedup removal — every doc's token counts before/after
    * excising duplicated 8-token windows, plus the md5 of the REWRITTEN
    * text (q40's convention: the oracle verifies the rewrite bit-for-bit,
    * not just counts). The rewrite q39 reports on.
    */
  def q54SpanRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val rewritten = graft.ops.Dedup.removeDuplicateSpans(docs, k = 8, minDocs = 2)
    docs.select(col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_before"))
      .join(rewritten.select(col("doc_id"),
        when(length(col("text")) === 0, 0L)
          .otherwise(graft.ops.TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("n_after"),
        md5(col("text").cast("binary")).as("new_md5")), "doc_id")
  }

  /** Content-addressed on-disk index shared across a session's queries
    * (q55/q57): built once per (sfDir, kind) under a `_done` marker —
    * the driver test tables are immutable, so path-addressing is safe,
    * and the query then measures the INDEXED path (probe/join against
    * the at-rest index), not a rebuild.
    */
  private def ensureIndexDir(spark: SparkSession, sfDir: String,
      kind: String)(build: String => Unit): String = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val dir = s"/tmp/graft-index-$kind-$safe"
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_done")
    val fs = marker.getFileSystem(conf)
    // r7 (ADVICE): the marker carries a CONTENT fingerprint of the source
    // tables (file names, lengths, mtimes), not just the path — fixture
    // parquet regenerated at the same path invalidates the cached index
    // instead of silently answering q55/q57/q65/q70 from stale postings
    val fp = {
      val src = new org.apache.hadoop.fs.Path(sfDir)
      val srcFs = src.getFileSystem(conf)
      if (!srcFs.exists(src)) "none"
      else srcFs.listStatus(src).sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .mkString("|")
    }
    val fresh = fs.exists(marker) &&
      scala.util.Try(graft.util.FsText.readText(fs, marker)).toOption.contains(fp)
    if (!fresh) {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      build(dir)
      graft.util.FsText.writeAtomic(fs, marker, fp)
    }
    dir
  }

  /** q55: q50's incremental dedup through the STORED corpus gram index —
    * the daily-runnable form: the corpus (doc_id % 10 ≠ 3) is indexed once
    * at rest (`writeGramIndex`); the new batch joins pre-hashed postings
    * without ever re-scanning corpus text. Same result as q50 by
    * construction (OpsSpec pins index == recompute; PlanSpec pins the
    * no-corpus-rescan property). The fixture index is built through the
    * FULL maintenance lifecycle — write(⅔ of the corpus) → append(the
    * rest) → compact — so the gate exercises epoch resolution and the
    * compacted layout, not just a fresh write.
    */
  def q55IncrementalIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val nw = docs.where(col("doc_id") % 10 === 3)
    val dir = ensureIndexDir(spark, sfDir, "gram-old-n3") { d =>
      val corpus = docs.where(col("doc_id") % 10 =!= 3)
      graft.ops.Dedup.writeGramIndex(corpus.where(col("doc_id") % 3 =!= 1), d, n = 3)
      graft.ops.Dedup.appendGramIndex(corpus.where(col("doc_id") % 3 === 1), d)
      graft.ops.Dedup.compactGramIndex(spark, d)
      ()
    }
    val idx = graft.ops.Dedup.readGramIndex(spark, dir)
    nw.join(graft.ops.Dedup.incrementalDedupIdsIndexed(nw, idx, threshold = 0.6),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"))
  }

  /** q56: q53's ingest curation plus the NEAR-dup stage — curated docs
    * sharing ≥ 0.6 3-gram jaccard with any known-corpus text are dropped
    * too (the stage the streaming ingest runs per micro-batch when
    * `nearThreshold` is set), so near-verbatim re-crawls die in-stream.
    */
  def q56IngestNear(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val known = docs.where(col("doc_id") % 50 === 0)
      .select(graft.ops.TextAnalysis.scrub(col("text")).as("text"))
    graft.pipeline.CorpusIngest.curateNear(docs, known, minQuality = 0.5,
        nearThreshold = 0.6)
      .select(col("doc_id"), col("source"), col("content_md5"))
  }

  /** q57: q15's exact IVF top-k through the PERSISTED index — built once
    * via `writeIvfIndex` (cid-partitioned parquet + JSON model sidecar),
    * probed via `readIvfIndex` + `ivfSearch`, so the at-rest round-trip
    * sits under the same brute-force oracle as the inline path and the
    * probe is a partition-pruned read (PlanSpec). The fixture index is
    * built through the maintenance lifecycle — write(¾ of the vectors) →
    * append(the rest) — so the gate also proves search stays exact over
    * appended partitions with merged radii (centroids trained on the
    * initial ¾ only; exactness is by construction at ANY centroids).
    */
  def q57AnnIvfPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureIndexDir(spark, sfDir, "ivf-64") { d =>
      val embs = table(spark, sfDir, "embeddings")
      graft.ops.Similarity.writeIvfIndex(embs.where(col("vec_id") % 4 =!= 1), d,
        nlist = 64)
      graft.ops.Similarity.appendIvfIndex(embs.where(col("vec_id") % 4 === 1), d)
      ()
    }
    val (index, model) = graft.ops.Similarity.readIvfIndex(spark, dir)
    graft.ops.Similarity.ivfSearch(index, model, queryVec(spark, sfDir, 0L),
      k = 10, nProbe = 4, excludeId = Some(0L))
  }

  /** q65: FILTERED ANN through the persisted index — exact top-k among
    * the vectors satisfying a metadata predicate (label % 3 == 1),
    * pre-filtered so every slot holds a true match. Reuses q57's at-rest
    * fixture index: the predicate pushes down to the index parquet scan
    * and composes with the cid partition prune (PlanSpec).
    */
  def q65FilteredAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureIndexDir(spark, sfDir, "ivf-64") { d =>
      val embs = table(spark, sfDir, "embeddings")
      graft.ops.Similarity.writeIvfIndex(embs.where(col("vec_id") % 4 =!= 1), d,
        nlist = 64)
      graft.ops.Similarity.appendIvfIndex(embs.where(col("vec_id") % 4 === 1), d)
      ()
    }
    val (index, model) = graft.ops.Similarity.readIvfIndex(spark, dir)
    graft.ops.Similarity.filteredSearch(index, model,
      queryVec(spark, sfDir, 0L), pred = col("label") % 3 === 1,
      k = 10, nProbe = 4, excludeId = Some(0L))
  }

  /** q66: hard-negative mining — for every probe (vec_id % 100 == 0), the
    * top-5 nearest vectors carrying a DIFFERENT label: the high-cosine
    * wrong-class pairs contrastive training feeds on. The label mismatch
    * is a pair predicate inside the scoring stage (pre-filter — all 5
    * slots are true negatives), on `knnJoin`'s broadcast-probe shape: one
    * narrow corpus scan, no corpus shuffle.
    */
  def q66HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val embs = table(spark, sfDir, "embeddings")
    val probes = embs.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    graft.ops.Similarity.hardNegatives(embs, probes, k = 5)
  }

  /** q67: fixed-size token chunking with overlap (32-token chunks every
    * 24) — the RAG/embedding prep cut, offsets exact and each chunk's
    * text md5-verified by the oracle (the rewrite convention). Fully
    * narrow: no shuffle anywhere.
    */
  def q67ChunkDocs(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.chunkDocs(table(spark, sfDir, "documents"),
      chunkTokens = 32, overlap = 8)

  /** q68: sequence packing — the corpus token stream in doc_id order cut
    * into 512-token training sequences, docs spanning boundaries (the
    * GPT-style pack). The global offsets come from q49's two-pass binned
    * cumsum on the id axis — no global sort; the oracle IS the
    * global-sort definition.
    */
  def q68PackSequences(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.packSequences(table(spark, sfDir, "documents"),
      seqLen = 512)

  /** q69: length-distribution flattening — each token-length quartile
    * resampled to the smallest quartile's size via exact-integer discrete
    * boundaries + the q45 2^60 hash threshold. The de-biasing step of
    * mixture building; emits the kept (doc_id, bucket).
    */
  def q69LengthBalance(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Corpus.lengthBalance(table(spark, sfDir, "documents"))

  /** q70: q43's corpus-scale kNN join through the PERSISTED index — the
    * daily-runnable form (the q55 story for ANN): probes pay two cid
    * equi-joins against the at-rest cid-partitioned parquet; k-means
    * never re-trains per batch. Same brute-force-ranking oracle as q43
    * (exact by construction at ANY centroids, including the appended
    * generation the fixture index carries).
    */
  def q70KnnPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureIndexDir(spark, sfDir, "ivf-64") { d =>
      val embs = table(spark, sfDir, "embeddings")
      graft.ops.Similarity.writeIvfIndex(embs.where(col("vec_id") % 4 =!= 1), d,
        nlist = 64)
      graft.ops.Similarity.appendIvfIndex(embs.where(col("vec_id") % 4 === 1), d)
      ()
    }
    val (index, model) = graft.ops.Similarity.readIvfIndex(spark, dir)
    val probes = table(spark, sfDir, "embeddings")
      .where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    graft.ops.Similarity.knnJoinBucketedOn(index, model, probes, k = 5, nProbe = 4)
  }

  /** q71: changelog JOIN aggregate — the batch form of the maintained
    * dynamic-table join (`Retractions.joinDeltaStream` is the streaming
    * twin): two changelogs (odd/even users) LWW-resolve independently,
    * inner-join on the shared attribute, aggregate per join key. One
    * key-shuffle window per side + one equi-join + a hash agg on the
    * tiny join-key domain.
    */
  def q71JoinAggregate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Retractions
    val ev = table(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_id") % 17 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("event_type"), (col("event_id") % 997).as("v"))
    def side(parity: Int) = Retractions.currentTable(
      ev.where(col("user_id") % 2 === parity), "user_id", "ts", "event_id", "op")
    side(1).select(col("event_type").as("grp"), col("v").as("va"))
      .join(side(0).select(col("event_type").as("grp"), col("v").as("vb")), "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("va")).as("sum_va"),
        sum(col("vb")).as("sum_vb"))
  }

  /** q72: BM25 top-20 retrieval for a fixed 3-term query — the lexical
    * retrieval op every corpus pipeline pairs with ANN, in the
    * cross-engine-exact rational-idf variant (no `ln` — libm rounding is
    * not portable; see `TextAnalysis.bm25TopK`).
    */
  def q72Bm25(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextAnalysis.bm25TopK(table(spark, sfDir, "documents"),
      terms = Seq("spark", "join", "window"), k = 20)

  /** q73: leakage-safe train/test split — the split-time decontamination
    * every eval pipeline needs: test = the content-addressed ~10%
    * (`hashSample` — reproducible on any engine/partitioning), train =
    * the remainder MINUS anything exact- or near-duplicating a test doc
    * (the q50 asymmetric index join, threshold 0.6), so test answers
    * can't leak into training via re-crawls/paraphrases. Emits
    * (doc_id, split).
    */
  def q73LeakSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val test = graft.ops.Dedup.hashSample(docs, rate = 0.10, salt = "t0")
    val cand = docs.join(test.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val kept = cand.join(
      graft.ops.Dedup.incrementalDedupIds(cand, test, threshold = 0.6),
      Seq("doc_id"), "left_semi")
    test.select(col("doc_id"), lit("test").as("split"))
      .unionByName(kept.select(col("doc_id"), lit("train").as("split")))
  }

  /** q58: SCD2 history materialization of the `events` changelog — each
    * user's event stream becomes versioned rows with validity intervals
    * (the warehouse history table a CDC pipeline feeds; `Scd2.scd2Stream`
    * is the streaming twin, EventTimeSpec pins streaming == batch).
    * One shuffle on the key; `lead` runs inside the partition.
    */
  def q58Scd2(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Scd2.materialize(table(spark, sfDir, "events"),
        "user_id", "ts", "event_id")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"))

  /** q59: semantic dedup over the embedding table — every pair at cosine
    * ≥ 0.40 (EXACT, centroid blocking only accelerates — recall 1.0 by
    * construction) feeds connected components; cluster = min reachable
    * vec_id, the same representative policy as q26's text-level dedup.
    * The SemDeDup workflow (Abbas et al. 2023) in exact-threshold form.
    */
  def q59SemanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = graft.ops.Similarity.cosineSelfJoin(
      table(spark, sfDir, "embeddings"), threshold = 0.40, nlist = 16)
    graft.ops.Dedup.dedupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"))
  }

  /** q60: containment dedup — ordered (contained, container) pairs at
    * |A∩B|/|A| ≥ 4/5 over 3-gram sets; the asymmetric twin of q11 that
    * catches snippets embedded in longer docs. Exact-integer threshold.
    */
  def q60Containment(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.containmentPairs(table(spark, sfDir, "documents"),
      n = 3, tNum = 4L, tDen = 5L)

  /** q61: winnowing (MOSS) near-dup screen — 4-token window hashes,
    * rightmost-min selection over 5-hash windows, pairs sharing ≥3
    * selected fingerprints. ~2/(w+1) of q39's span density with the
    * w+k−1-token match guarantee.
    */
  def q61Winnow(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.winnowPairs(table(spark, sfDir, "documents"),
      k = 4, w = 5, minShared = 3)

  /** q62: corpus-df novelty filter — per-doc mean 3-gram document
    * frequency vs the corpus mean, rare (<3/4×) and boilerplate (>3/2×)
    * tails flagged by exact-integer cross-multiplication.
    */
  def q62GramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextAnalysis.gramNovelty(table(spark, sfDir, "documents"))

  def q23Multimodal(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Multimodal.modalityStats(
      graft.ops.Multimodal.mediaFromDocuments(table(spark, sfDir, "documents")))
      .select(col("modality"), col("n_media"), col("total_bytes"), col("total_frames"),
        col("avg_f0"))
}
