package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * language-ID, quality scoring, token accounting, document fingerprinting.
  *
  * Everything is built from codegen'd Catalyst built-ins (split/transform/
  * aggregate/filter higher-order functions) — no UDFs in the hot path, so
  * whole-stage codegen spans the full scan→project pipeline and the work
  * distributes trivially (narrow, no shuffle until the final aggregate).
  * Formulas are deliberately SQL-expressible so DuckDB oracles can replicate
  * them bit-for-bit (integer/ratio arithmetic + round).
  */
object TextAnalysis {

  /** Whitespace tokens. Synthetic corpus is single-space separated; for real
    * corpora swap the pattern for \\s+ — semantics stay the same.
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenizer stand-in (GPT-2's structure without the
    * unicode categories a cross-engine oracle can't mirror): letter runs,
    * digit runs, and single punctuation marks. The regex uses only classes
    * with identical semantics in Java regex (Spark codegen) and RE2
    * (DuckDB), so counts are engine-exact.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** A small function-word list that exists in the synthetic vocab; the
    * language-ID heuristic is "function-word ratio over threshold".
    * (Canonical copy lives next to the quality kernel so the two can never
    * drift — r7.)
    */
  val StopWords: Seq[String] =
    graft.functions.HashingKernels.QualityStopWords.toSeq

  def stopwordRatio(text: Column): Column = {
    val w = tokens(text)
    val stops = filter(w, t => t.isin(StopWords: _*))
    size(stops).cast("double") / size(w)
  }

  /** n-gram-heuristic language ID: function-word density. Real corpora would
    * use per-language character n-gram profiles; the decision structure
    * (ratio → argmax/threshold) is identical.
    */
  def langId(text: Column, threshold: Double = 0.04): Column =
    when(stopwordRatio(text) >= threshold, "en").otherwise("other")

  /** Composite quality score in [0,1]: length, function-word density,
    * mean token length, lexical diversity — each capped and equally
    * weighted, rounded for cross-engine stability.
    *
    * r7: one-pass codegen'd kernel (HashingKernels.qualityScore) replacing the
    * interpreted builtin-HOF tree (aggregate/filter/array_distinct per
    * token) — bit-identical by construction (the kernel replicates the
    * expression's float-op order and Spark Round semantics; OpsSpec pins
    * kernel == the expression form, kept in test scope).
    */
  def qualityScore(text: Column): Column =
    call_function("quality_score", text)

  /** Pattern scrubbing — the PII-redaction plumbing of corpus pipelines:
    * every match of `pattern` is replaced by the mask token, and
    * `scrubCount` reports how many replacements were made (the per-doc
    * redaction audit). A deployment swaps in its email/phone/credential
    * patterns; the default masks digit runs, which the fixtures actually
    * contain, so the oracle check exercises real replacements. Patterns
    * must use only constructs with identical Java-regex (Spark codegen)
    * and RE2 (DuckDB) semantics — character classes and plus/star
    * repetition qualify, lookaround does not.
    *
    * Narrow and codegen'd: scrubbing a 100 TB corpus is a pure map over
    * the text column — no shuffle, no UDF.
    */
  def scrub(text: Column, pattern: String = "[0-9]+",
      mask: String = "<NUM>"): Column =
    regexp_replace(text, pattern, mask)

  def scrubCount(text: Column, pattern: String = "[0-9]+"): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Engine-neutral 60-bit token hash: the first 15 md5-hex chars as an
    * integer (< 2^60, so it is an exact signed BIGINT in Spark AND DuckDB —
    * 16 chars would overflow the signed range one engine or the other).
    * Built from codegen'd builtins (md5/substring/conv).
    */
  def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Rolling document fingerprint: polynomial fold of per-token md5-derived
    * hashes in a 31-bit Mersenne ring. Order-sensitive (same bag of words,
    * different order → different fingerprint), O(tokens), no shuffle, and
    * bit-reproducible in any engine (DuckDB oracle mirrors it exactly).
    */
  def fingerprint(text: Column): Column =
    // one-pass native kernel (HashingKernels.fingerprint31); the builtin-HOF
    // fold it replaced interpreted the md5/conv tree per token (OpsSpec
    // pins kernel == expression-formula equality)
    call_function("fingerprint31", text)

  /** Frequency-preserving word bigrams (the codegen'd `word_ngrams` kernel
    * dedupes — repetition measurement needs multiplicity). Pure builtin
    * HOFs, narrow. Guarded: `sequence(1, 0)` would count DOWN in Spark, so
    * sub-2-token docs short-circuit to an empty array.
    */
  def bigramsWithMultiplicity(text: Column): Column = {
    val w = tokens(text)
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style per-document repetition signals (Rae et al. 2021 §A1.1,
    * public): duplicate-word fraction (1 − distinct/total) and the fraction
    * of bigram occurrences taken by the single most frequent bigram. High
    * values mark degenerate/boilerplate docs a training pipeline drops.
    *
    * Scale: dup_word_frac is narrow (array builtins in one projection); the
    * top-bigram fraction is one explode + two hash aggregations keyed by
    * (doc, gram) then (doc) — map-side partials on both, shuffle volume
    * ≤ one (doc_id, gram-hash, count) row per distinct in-doc bigram.
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val w = tokens(t)
    // fully narrow: the top-bigram fraction runs as the one-pass codegen'd
    // top_bigram_frac kernel (0.0 for sub-2-token docs), so the whole
    // report is a single projection — no explode, no shuffle, no join
    // (the explode + double-aggregate shape it replaced was 5.5 s at sf0.1;
    // OpsSpec pins kernel == aggregate-formula equality)
    docs.select(col(idCol),
      size(w).cast("long").as("n_words"),
      round(lit(1.0) - size(array_distinct(w)).cast("double") / size(w), 4)
        .as("dup_word_frac"),
      round(call_function("top_bigram_frac", t), 4).as("top_bigram_frac"))
  }

  /** Corpus vocabulary: top-k tokens by frequency, ties broken by token —
    * the vocab-building primitive. One explode + hash aggregate (map-side
    * partial combine collapses each partition to its local vocab before the
    * shuffle) + a TakeOrderedAndProject top-k — never a full sort.
    */
  def vocab(docs: DataFrame, k: Int = 20, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Per-document top-k terms by tf·idf (idf = ln(N/df), tf = in-doc term
    * count). Keyword extraction / relevance weighting over the corpus.
    *
    * Scale: tf is one (doc, term) hash aggregate; df re-aggregates the tf
    * side (vocab-sized, broadcast back); N joins in as a broadcast 1-row
    * aggregate — no driver collect, no second corpus scan. The final top-k
    * is a running row_number over the (doc) shuffle. Ranking orders by the
    * ROUNDED score then term, so rank is reproducible cross-engine even
    * where ln() differs in the last ulp.
    *
    * The EMITTED columns are the integer-exact (tf, df) rather than the
    * float score: a tfidf value within ~1 ulp of a 0.00005 rounding
    * boundary can round differently per engine (r3 advice) — the score is
    * recomputable from (tf, df, N), so emitting the exact integers keeps
    * the oracle check bit-exact without weakening it.
    */
  def tfIdf(docs: DataFrame, topK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // NOT cached (r7, measured): tf's explode + partial agg + exchange is
    // already shared between its two consumers by ReuseExchange; a cache
    // only adds a materialization barrier (isolated min-of-3: 1.10 s
    // uncached vs 1.65 s cached)
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("_rn", row_number().over(w)).where(col("_rn") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"))
  }

  /** Per-stratum length-outlier detection in EXACT integer arithmetic:
    * flag documents whose token count deviates more than `k` population
    * standard deviations from their stratum mean. The z-test
    * |x − μ| > k·σ with μ = S/n, σ² = (nQ − S²)/n² cross-multiplies to
    * (nx − S)² > k²(nQ − S²) — all integers, so the flag set reproduces
    * bit-for-bit in any engine with NO float mean/std (a float z-score at
    * a boundary could flip cross-engine). The anomaly-gate step of corpus
    * intake: truncated scrapes and concatenation blowups sit in exactly
    * these tails.
    *
    * Scale: one (stratum)-keyed aggregate (map-side partials, strata-many
    * rows) broadcast back over the narrow (id, stratum, tokens)
    * projection — text never shuffles, one corpus scan. The squares run in
    * decimal(38,0): at corpus scale n·x reaches ~10¹² and its square
    * overflows a long; decimal keeps the comparison exact (DuckDB mirrors
    * in HUGEINT).
    */
  def lengthOutliers(docs: DataFrame, strataCol: String = "source", k: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val x = docs.select(col(idCol), col(strataCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    // cast BEFORE multiplying — EVERYWHERE, including inside the sums:
    // sum(n_tokens²) in LongType wraps silently (non-ANSI) at ~10¹¹ docs
    // of 10⁴ tokens, and n·s2 alone reaches ~10²⁴ at corpus scale. The
    // aggregates themselves run in decimal(38,0), mirroring the oracle's
    // HUGEINT sums.
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val stats = x.groupBy(col(strataCol)).agg(
      count(lit(1)).as("n"), sum(dec(col("n_tokens"))).as("s1"),
      sum(dec(col("n_tokens")) * dec(col("n_tokens"))).as("s2"))
    val dev = dec(col("n")) * dec(col("n_tokens")) - dec(col("s1"))
    val variance = dec(col("n")) * dec(col("s2")) - dec(col("s1")) * dec(col("s1"))
    x.join(broadcast(stats), strataCol)
      .where(dev * dev > lit(k.toLong * k) * variance)
      .select(col(idCol), col(strataCol), col("n_tokens"))
  }

  /** Corpus-frequency novelty score — the integer-exact stand-in for the
    * LM-perplexity filter class (CCNet's "how typical of the corpus is
    * this document" signal, recast on n-gram DOCUMENT frequency so the
    * decision is reproducible bit-for-bit): each doc's mean corpus df
    * over its distinct n-grams, compared against the corpus-wide mean by
    * exact cross-multiplication. `is_rare` (mean below rareNum/rareDen ×
    * corpus mean) flags garbled/off-distribution text; `is_boiler` (above
    * boilNum/boilDen ×) flags template/boilerplate-dominated docs — the
    * two tails a quality pipeline cuts.
    *
    * Scale: one gram-hash df aggregate + one join back (both shuffle
    * 8-byte xxhash64 keys — q11's discipline, text never moves), one
    * per-doc aggregate, and a 1-row totals broadcast. The comparisons run
    * in decimal(38,0): sum_df × total_ng reaches ~10²⁸ at corpus scale
    * (DuckDB mirrors in HUGEINT).
    */
  def gramNovelty(docs: DataFrame, n: Int = 3,
      rareNum: Long = 3L, rareDen: Long = 4L,
      boilNum: Long = 3L, boilDen: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(rareNum > 0 && rareDen > 0 && boilNum > 0 && boilDen > 0,
      "gramNovelty: thresholds must be positive rationals")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // cached (r7): the hashed grams feed the df aggregate AND the join-back
    // probe — one corpus explode instead of two (the q11 convention)
    val gh = Dedup.grams(docs, n, idCol, textCol)
      .select(col("id"), xxhash64(col("gram")).as("gh")).cache()
    val dfs = gh.groupBy("gh").agg(count(lit(1)).as("df"))
    val per = gh.join(dfs, "gh").groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(col("df")).as("sum_df"))
    val tot = per.agg(sum(dec(col("n_grams"))).as("tot_ng"),
      sum(dec(col("sum_df"))).as("tot_df"))
    per.crossJoin(broadcast(tot))
      .select(col("id").as(idCol), col("n_grams"),
        round(col("sum_df") / col("n_grams"), 4).as("mean_df"),
        (dec(col("sum_df")) * col("tot_ng") * lit(rareDen) <
          dec(col("n_grams")) * col("tot_df") * lit(rareNum)).as("is_rare"),
        (dec(col("sum_df")) * col("tot_ng") * lit(boilDen) >
          dec(col("n_grams")) * col("tot_df") * lit(boilNum)).as("is_boiler"))
  }

  /** Convenience projection of all per-document text features. */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("lang_pred", langId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** BM25 top-k retrieval with a CROSS-ENGINE-EXACT scoring variant: the
    * standard BM25 term weight with the log idf replaced by the rational
    * smoothing (N+1)/(df+1) — rank-equivalent per term (both are
    * monotone-decreasing in df), and, unlike `ln`, built ONLY from IEEE
    * +,−,×,÷ whose results are identical in every engine. Terms sum in
    * the FIXED order given (left-associated in the oracle too), so the
    * emitted double reproduces bit-for-bit; the rank orders by the
    * ROUNDED score with the id tiebreak (q51 convention).
    *
    * score(d) = Σ_t [(N+1)/(df_t+1)] · [tf·(k1+1)] / [tf + k1·(1−b) +
    * k1·b·dl·N/T], with k1 = 1.2, b = 0.75 folded to the constants
    * 2.2 / 0.3 / 0.9 literally, in that parse order, in both engines.
    *
    * Scale: per-term tf is a narrow `filter(tokens)` count — no explode,
    * no shuffle until the final top-k (TakeOrderedAndProject); N/T/df
    * are one aggregate collected to the driver and ride as literals.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && k >= 1, "bm25TopK: need terms and k >= 1")
    val toks = tokens(col(textCol))
    def tf(t: String): Column =
      size(filter(toks, x => x === lit(t))).cast("double")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(size(filter(toks, x => x === lit(t))) > 0, 1L).otherwise(0L))
        .as(s"df_$i")
    }
    val aggs = docs.agg(count(lit(1)).as("n"),
      (sum(tokenCount(col(textCol)).cast("long")).as("t") +: dfCols): _*).first()
    val n = aggs.getLong(0).toDouble
    val totalT = aggs.getLong(1).toDouble
    val dl = tokenCount(col(textCol)).cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val idf = (n + 1.0) / (aggs.getLong(2 + i).toDouble + 1.0)
      (lit(idf) * (tf(t) * lit(2.2))) /
        (tf(t) + lit(0.3) + (lit(0.9) * dl * lit(n)) / lit(totalT))
    }.reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    // TakeOrderedAndProject first (no global shuffle); the rank window
    // then runs over the k survivors only
    val top = docs.withColumn("score", round(score, 4))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("score").desc, col(idCol))))
  }
}
