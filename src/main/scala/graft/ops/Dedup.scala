package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design:
  *   - Exact dedup is one hash-aggregate on a 64-bit text hash (map-side
  *     partial agg; never shuffles full text).
  *   - Pairwise similarity is NEVER all-pairs: candidates come from
  *     inverted-index joins (shared n-gram), LSH band buckets, or SimHash
  *     chunk buckets — each a standard equi-shuffle join whose fan-out is
  *     bounded by bucket sizes, then verified exactly. At 100 TB the band/
  *     bucket key is the shuffle key and hot buckets are handled by AQE
  *     skew-join (on) or a frequency cap on pathological grams.
  *
  * Cache lifecycle: the pairwise operators cache their gram/signature/
  * embedding intermediate because the returned (lazy) plan reads it from
  * several branches — reliable storage-level caching is deliberately kept
  * over localCheckpoint (which loses lineage and can't survive executor
  * loss on a real cluster). The caches belong to the session: a harness
  * running many invocations in one session releases them between calls
  * with `spark.catalog.clearCache()` (Verify/Bench do).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical text. The
    * shuffle key is the 128-bit md5 of the text, never the text itself —
    * at 100 TB the map-side partials carry 32 bytes per distinct doc
    * instead of the raw corpus (md5 collision on distinct texts:
    * birthday-bounded ≈ n²/2¹²⁸, immaterial below ~2⁶⁰ docs).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("_fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Distinct word n-grams per document: (id, gram). Narrow explode of the
    * codegen'd `word_ngrams` kernel (the former builtin-HOF pipeline
    * interpreted at ~1 ms/doc — 60% of q11's runtime). Documents shorter
    * than n tokens yield no grams.
    */
  def grams(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(call_function("word_ngrams", col(textCol), lit(n))).as("gram"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join:
    * docs sharing ≥1 gram are candidates; |A∩B| falls out of the join
    * group-count; |A∪B| = |A|+|B|−|A∩B|.
    *
    * `maxGramDf` is the hot-gram guard for pathological corpora (one
    * boilerplate gram shared by k docs makes a k² bucket): grams with
    * document frequency above the cap are dropped from the inverted INDEX
    * only — candidate pairs still verify their jaccard over the FULL gram
    * sets, so emitted values stay exact. A pair is missed only if ALL its
    * shared grams are above the cap, which at jaccard ≥ 0.6 means the docs
    * are made almost entirely of corpus-wide boilerplate (run exact dedup
    * first). Default off: the fixture gate demands provable equality.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.6,
      maxGramDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // every inverted-index exchange moves the 8-byte xxhash64 of the gram,
    // never the gram STRING (~2.5× less shuffle at 3-word grams, far more
    // at larger n; grams are distinct-per-doc so a collision would need
    // two distinct grams of ONE doc colliding — ~grams²/2^64 — and would
    // only perturb one intersection count, which the DuckDB oracle
    // joining gram text would catch). The CACHE sits on the hashed
    // (id, gh) projection, not the gram strings (r7: caching post-hash
    // stores 8 bytes/gram instead of the gram text AND saves the explode +
    // xxhash64 recompute in every consumer branch — sizes, both self-join
    // sides, the capped-path verify).
    val gh = grams(docs, n, idCol, textCol)
      .select(col("id"), xxhash64(col("gram")).as("gh")).cache()
    val sizes = gh.groupBy("id").agg(count(lit(1)).as("ng"))
    if (maxGramDf == Int.MaxValue) {
      // exact single-join path: intersection counts fall out directly
      val inter = gh.as("a").join(gh.as("b"),
          col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
        .agg(count(lit(1)).as("inter"))
      jaccardFilter(inter, sizes, threshold)
    } else {
      // capped index → candidates → exact verify over full gram sets
      val hot = gh.groupBy("gh").agg(count(lit(1)).as("df"))
        .where(col("df") > maxGramDf).select("gh")
      val idx = gh.join(broadcast(hot), Seq("gh"), "left_anti")
      val cand = idx.as("a").join(idx.as("b"),
          col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .distinct()
      val inter = cand
        .join(gh.toDF("id1", "gh"), "id1")
        .join(gh.toDF("id2", "gh"), Seq("id2", "gh"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      jaccardFilter(inter, sizes, threshold)
    }
  }

  private def jaccardFilter(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("ng", "ng1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("ng", "ng2"), "id2")
      .withColumn("raw_j", col("inter") / (col("ng1") + col("ng2") - col("inter")))
      .where(col("raw_j") >= threshold)
      .select(col("id1"), col("id2"), round(col("raw_j"), 4).as("jaccard"))

  /** Asymmetric CONTAINMENT pairs — Broder's containment coefficient
    * |grams(A) ∩ grams(B)| / |grams(A)| (public definition: Broder 1997,
    * "On the resemblance and containment of documents"). Catches a short
    * doc embedded inside a longer one, which symmetric jaccard structurally
    * misses: the union in the denominator is dominated by the long doc, so
    * a fully-contained snippet scores low on jaccard but 1.0 on
    * containment. Emits ORDERED rows (contained, container): a
    * near-identical pair legitimately yields both orientations.
    *
    * Same inverted-index discipline as `ngramJaccardPairs`: one gram-hash
    * equi-join computes every intersection, the threshold is an
    * exact-integer cross-multiplication (inter·tDen ≥ tNum·ng — no float
    * in the decision), and every exchange moves 8-byte gram hashes, never
    * text. At 100 TB this is the same shuffle shape q11 already proved.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, tNum: Long = 4L,
      tDen: Long = 5L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"containmentPairs: threshold must be a rational in (0, 1], got $tNum/$tDen")
    // cached hashed projection (r7, the q11 convention): the self-join's two
    // sides and the sizes aggregate otherwise each re-explode and re-hash
    // the corpus text
    val gh = grams(docs, n, idCol, textCol)
      .select(col("id"), xxhash64(col("gram")).as("gh")).cache()
    val sizes = gh.groupBy("id").agg(count(lit(1)).as("ng"))
    val inter = gh.as("a").join(gh.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    // r7b: BOTH orientations emit from ONE pass over the intersection
    // table. The former union-of-two-projections shape shared the
    // self-join EXCHANGE between its branches but re-ran the final
    // (id1, id2) aggregate and the sizes join once per orientation
    // (OPTIMIZATION_r07.md: the duplicated tail cost ~0.9 s of q60's 2.4 s at
    // sf0.1); joining both sizes once and exploding the qualifying
    // orientations narrowly computes the aggregate exactly once. Output
    // rows are identical: same exact-integer threshold per orientation,
    // same rounded ratio, row order immaterial under the gate's canonical
    // sort.
    val j = inter
      .join(sizes.toDF("id1", "ng1"), "id1")
      .join(sizes.toDF("id2", "ng2"), "id2")
    val orient = array(
      struct(col("id1").as("contained"), col("id2").as("container"),
        (col("inter") * lit(tDen) >= lit(tNum) * col("ng1")).as("ok"),
        round(col("inter") / col("ng1"), 4).as("containment")),
      struct(col("id2").as("contained"), col("id1").as("container"),
        (col("inter") * lit(tDen) >= lit(tNum) * col("ng2")).as("ok"),
        round(col("inter") / col("ng2"), 4).as("containment")))
    j.select(explode(filter(orient, s => s.getField("ok"))).as("r"))
      .select(col("r.contained"), col("r.container"), col("r.containment"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * algorithm — public technique): hash every k-token window, slide a
    * selection window of `w` consecutive hashes over them, and keep the
    * MINIMUM of each window (ties → the RIGHTMOST occurrence — the
    * original paper's robust-winnowing rule, which makes selection
    * position-stable under edits). Guarantee: any shared run of
    * ≥ w + k − 1 tokens yields at least one shared fingerprint, while
    * only ~2/(w+1) of positions are kept — a tunable sketch density
    * between full substring fingerprinting (q39, every window) and
    * whole-doc MinHash (q12).
    *
    * Output: distinct selected (id, pos, fp). Docs with fewer than w
    * k-gram positions have no full window and yield no fingerprints
    * (documented contract; lower w or k for very short docs).
    *
    * Scale (r7): selection runs entirely inside the `winnow_fps` kernel —
    * one narrow codegen'd pass per document (hash windows, slide, emit
    * distinct rightmost-min selections), so there is NO shuffle at all
    * until a caller aggregates; the former shape shuffled every k-gram
    * span into a per-doc sort just to run the frame-min. The selected
    * set is identical by construction (selected positions are monotone,
    * so in-kernel last-position dedup IS the old distinct; ModelCheckSpec
    * pins kernel == brute-force model).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, "winnowFingerprints: k and w must be >= 1")
    docs.select(col(idCol).as("id"),
        explode(call_function("winnow_fps", col(textCol), lit(k), lit(w))).as("sel"))
      .select(col("id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }

  /** MOSS-style near-dup report over winnowed fingerprints: pairs of docs
    * sharing ≥ `minShared` distinct selected fingerprint VALUES. The pair
    * join runs over the winnowed sketch (~2/(w+1) of the q39 span
    * density), shuffling 8-byte fps only — the cheap screen before exact
    * verification or span extraction.
    */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minShared >= 1, "winnowPairs: minShared must be >= 1")
    val f = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col("id"), col("fp")).distinct()
    f.as("a").join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** MinHash + LSH banding → candidate pairs → exact-Jaccard verification.
    * bands*rowsPerBand hash functions; candidate threshold ≈
    * (1/bands)^(1/rowsPerBand). Verification keeps precision exact, so the
    * output equals `ngramJaccardPairs` whenever LSH recall is 1 (tests pin
    * this on the fixture corpus).
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.6,
      bands: Int = 32, rowsPerBand: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // cache the HASHED gram projection (r7, same rationale as
    // ngramJaccardPairs): sizes and both verify joins derive from (id, gh)
    // — the gram strings never need to materialize
    val gh = grams(docs, n, idCol, textCol)
      .select(col("id"), xxhash64(col("gram")).as("gh")).cache()
    // band keys in ONE narrow kernel pass per doc (r7b): the former shape
    // fed a 64-min hash AGGREGATE over every cached gram row (one exchange
    // + agg machinery) just to slice and re-hash the signature; the kernel
    // computes the identical integers doc-locally (OpsSpec pins kernel ==
    // aggregate pipeline), so candidate generation has NO shuffle before
    // the band-bucket join itself
    val banded = docs.select(col(idCol).as("id"),
        posexplode(call_function("minhash_band_keys", col(textCol), lit(n),
          lit(bands), lit(rowsPerBand))))
      .toDF("id", "band", "sig")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
    // exact verification of candidates only: intersect gram sets via a
    // two-step equi-join on (id, gram-hash) — no cross-product of gram
    // lists, and no gram STRING in any exchange (8-byte xxhash64 keys;
    // same collision note as ngramJaccardPairs)
    val sizes = gh.groupBy("id").agg(count(lit(1)).as("ng"))
    val inter = cand
      .join(gh.toDF("id1", "gh"), "id1")
      .join(gh.toDF("id2", "gh"), Seq("id2", "gh"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    jaccardFilter(inter, sizes, threshold)
  }

  /** SimHash bit width: 60 (the md5-derived token hash is 15 hex chars so
    * it stays an exact signed BIGINT in every engine — see
    * TextAnalysis.tokenHash60).
    */
  val SimhashBits = 60

  /** SimHash per document from engine-neutral md5 token hashes
    * (unweighted); bit-reproducible in DuckDB, so q13 is hash-checked
    * rather than rows-only.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // one narrow codegen'd pass per doc (HashingKernels.simhash60) — the former
    // explode + 60-conditional-sum groupBy shuffled one row per token
    // (OpsSpec pins kernel == expression-formula equality)
    docs.select(col(idCol).as("id"),
      call_function("simhash60", col(textCol)).as("simhash"))

  /** SimHash near-dup candidates: block on (maxHamming+1) bit-chunks — by
    * pigeonhole, any pair within `maxHamming` of SimhashBits shares at
    * least one identical chunk — then filter by true hamming distance.
    * Exact recall by construction. Default 3 is the standard simhash dedup
    * operating point; larger thresholds trade chunk width for candidate
    * volume.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashCandidates(docs, maxHamming, idCol, textCol)
      .where(col("hamming") <= maxHamming)

  /** The pre-verify candidate pairs of the pigeonhole chunk join (with
    * their true hamming distance). Exposed so scale audits can assert the
    * candidate volume stays ≪ n² at the operating radius.
    *
    * Two blocking regimes, both with GUARANTEED recall:
    *   - radius ≤ 4: classic pigeonhole — (r+1) chunks, some chunk matches
    *     exactly; chunk width ≥ 12 bits keeps buckets fine-grained.
    *   - radius > 4: MULTI-INDEX pigeonhole (1-error-tolerant — the
    *     multi-index-hashing family, Norouzi et al. 2012, public):
    *     ceil((r+1)/2) chunks, so some chunk carries ≤1 mismatched bit
    *     (if every chunk had ≥2, the total would exceed r); one join side
    *     additionally emits every 1-bit-flip variant of each chunk, so the
    *     ≤1-error chunk still meets an exact equi-key. At r=7 this keeps
    *     15-bit chunks (vs the r2-flagged 7-bit chunks whose ≤128 bucket
    *     values grew candidates as ~8·n²/128): key space 2¹⁵ per chunk,
    *     variant fan-out ×16 on one side only — ~32× fewer candidates,
    *     still a plain equi-shuffle join.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 30, "maxHamming out of range")
    val multiIndex = maxHamming > 4
    val nChunks = if (multiIndex) (maxHamming + 2) / 2 else maxHamming + 1
    val width = SimhashBits / nChunks
    val sh = simhash(docs, idCol, textCol).cache()
    def chunkCols(variants: Boolean) = (0 until nChunks).flatMap { c =>
      val hi = if (c == nChunks - 1) SimhashBits else (c + 1) * width
      val w = hi - c * width
      val mask = if (w >= 64) -1L else (1L << w) - 1
      val base = shiftright(col("simhash"), c * width).bitwiseAND(mask)
      val keys = if (!variants) Seq(base)
        else base +: (0 until w).map(b => base.bitwiseXOR(lit(1L << b)))
      keys.map(k => struct(lit(c).as("c"), k.as("v")))
    }
    def chunks(variants: Boolean) =
      sh.select(col("id"), col("simhash"),
          explode(array(chunkCols(variants): _*)).as("ck"))
        .select(col("id"), col("simhash"), col("ck.c"), col("ck.v"))
    val ham = {
      // popcount via bit_count builtin
      bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
    }
    // hamming(chunk_x, chunk_y) ≤ 1  ⟺  x's exact key ∈ y's variant keys —
    // symmetric, so expanding ONE side is enough for every orientation
    chunks(variants = false).as("x").join(chunks(variants = multiIndex).as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        ham.as("hamming"))
      .distinct()
  }

  /** Collapse near-dup pairs into clusters: every doc appearing in `pairs`
    * is labeled with the MINIMUM doc id reachable through the near-dup
    * graph (connected components by iterative min-label propagation). This
    * is the step a dedup pipeline actually keys on — pairs alone can't
    * pick one representative per duplicate group when dups chain
    * (A≈B, B≈C but A̸≈C).
    *
    * Scale: per iteration one equi-join edges⋈labels + one min-aggregate —
    * all shuffles on doc id. Converges in graph-diameter iterations; dup
    * clusters in real corpora are shallow (near-clique), so 3–5 passes
    * close them. `maxIters` bounds the worst case (a path graph); raise it
    * for adversarial chains. Early-exits as soon as a pass changes nothing.
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20,
      driverMaxEdges: Long = 5000000L,
      id1Col: String = "id1", id2Col: String = "id2"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val undirected = pairs.select(col(id1Col).cast("long").as("src"),
      col(id2Col).cast("long").as("dst")).distinct().cache()
    // ONE action decides the branch (r7): collecting through limit(cap+1)
    // is bounded exactly like the old count() gate (≤ cap+1 rows reach the
    // driver) but skips the separate count job over the heavy pairs
    // pipeline — on the driver path the collected rows ARE the edges.
    val capPlusOne = (math.min(driverMaxEdges, Int.MaxValue - 2L) + 1L).toInt
    val probe = undirected.limit(capPlusOne).collect()
    if (probe.length <= driverMaxEdges) {
      // Near-dup graphs are SPARSE relative to the corpus (LSH emits ~1% of
      // pairs); below the cap a driver union-find closes components in one
      // collect + one linear pass — no per-iteration Spark jobs. The collect
      // is bounded by `driverMaxEdges` (~80 MB at the default), the same
      // bounded-by-construction class as the k-means sample. The probe
      // collected the FULL edge set (its limit was above the cap), so no
      // second job runs — vertex ids derive from the SAME collected array
      // (r3 flagged the operator's battery cost, so every job here must
      // earn its keep).
      val edgeArr = probe
      undirected.unpersist()
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeArr.foreach { e =>
        val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
        // attach the larger root under the smaller: the component minimum
        // never gains a parent, so every root IS its component's min id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val ids = edgeArr.iterator
        .flatMap(e => Iterator(e.getLong(0), e.getLong(1))).toSet
      ids.toSeq.sorted.map(v => (v, find(v))).toDF("doc_id", "cluster")
    } else {
      val edges = undirected
        .union(undirected.select(col("dst").as("src"), col("src").as("dst")))
        .cache()
      // each iteration references the previous labels twice (propagation +
      // changed-count), so lineage grows 2^i without truncation — the plan
      // string alone OOMs the driver. localCheckpoint cuts the plan at every
      // step (on a cluster with executor loss in play, set a checkpoint dir
      // and swap in .checkpoint()).
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")).localCheckpoint()
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIters) {
        val prop = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(col("src")).agg(min("cluster").as("nbr"))
        val next = labels.join(prop, labels("id") === prop("src"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"))
          .localCheckpoint()
        changed = next.as("n")
          .join(labels.select(col("id").as("oid"), col("cluster").as("old")),
            col("id") === col("oid"))
          .where(col("cluster") =!= col("old")).count()
        labels = next
        i += 1
      }
      edges.unpersist()
      undirected.unpersist()
      // loud beats wrong: min-label propagation converges in component-
      // diameter steps, so a chain longer than maxIters would exit here
      // with one real component split into several — fail instead of
      // returning plausible-but-wrong clusters (raise maxIters, or run
      // exact dedup first to collapse the verbatim chains)
      if (changed > 0)
        throw new IllegalStateException(
          s"dedupClusters: label propagation not converged after $maxIters iterations " +
            s"($changed labels still moving) — component diameter exceeds maxIters")
      labels.select(col("id").as("doc_id"), col("cluster"))
    }
  }

  /** Incremental dedup — the shape a DAILY pipeline actually runs: dedup a
    * NEW batch against the EXISTING corpus (not all-pairs over the union).
    * A new doc is dropped when (a) its exact text already exists in the
    * corpus, or (b) it shares ≥ `threshold` n-gram jaccard with ANY corpus
    * doc. Within-batch duplicates are left to the all-pairs operators
    * (q10/q12) — this is the cross-set stage, scoped so the corpus side
    * can be a PRECOMPUTED gram index table at 100 TB (recompute here keeps
    * the operator self-contained).
    *
    * Scale: both stages shuffle 8-byte keys only — the exact stage
    * anti-joins on a scan-side md5, the near stage equi-joins the new
    * batch's gram fingerprints against the corpus's inverted index
    * (gram-hash keyed; a 60-bit collision could at most add one phantom
    * shared gram to a pair — the q39 trade, and the oracle joining gram
    * TEXT would catch it). Gram-set sizes join back as id-only
    * aggregates; text never enters an exchange. The batch side is
    * day-sized, the corpus side corpus-sized — the join asymmetry the
    * all-pairs operators don't have.
    */
  def incrementalDedupIds(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      threshold: Double = 0.6, maxGramDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalDedupIdsIndexed(newDocs, gramIndexOf(corpus, n, idCol, textCol),
      threshold, maxGramDf, idCol, textCol)

  /** The corpus-side state `incrementalDedupIds` joins against: the
    * distinct content md5 set (exact stage), the gram-hash inverted index
    * (oid, g), per-doc gram counts, and per-gram document frequency. Built
    * inline by `gramIndexOf` (self-contained recompute) or loaded AT REST
    * by `readGramIndex` — the form a daily pipeline actually runs, where
    * re-scanning and re-hashing 100 TB of corpus text per day-sized batch
    * would dominate the whole job. Both paths feed the identical join
    * algebra, so index == recompute by construction (and OpsSpec pins it).
    */
  final case class GramIndex(md5s: DataFrame, grams: DataFrame,
      counts: DataFrame, gramDf: DataFrame, n: Int)

  /** Build the corpus gram index inline (one corpus scan; every output is
    * 8-byte hashes + ids — text never leaves the scan).
    */
  def gramIndexOf(corpus: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): GramIndex = {
    val md5s = corpus.select(md5(col(textCol)).as("h")).distinct()
    // grams() is already distinct-per-doc, so the hashed streams are too
    // (a within-doc hash collision would need ~2^32 grams in one doc);
    // xxhash64 per the q11/q12 re-key convention — internal join key only,
    // the oracle joins gram text. CACHED (r7): the postings feed the join,
    // the per-doc counts and (capped path / writeGramIndex) the df
    // aggregate — without the cache each branch re-explodes and re-hashes
    // the corpus text (q50 paid the explode 2–3×; the session harness
    // releases via clearCache, the established lifecycle contract).
    val g = grams(corpus, n, idCol, textCol)
      .select(col("id").as("oid"), xxhash64(col("gram")).as("g")).cache()
    val counts = g.groupBy(col("oid")).agg(count(lit(1)).as("ngB"))
    val df = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    GramIndex(md5s, g, counts, df, n)
  }

  /** Persist the corpus gram index: four parquet tables + an `n` sidecar
    * (`meta.json`, real JSON — `readGramIndex` refuses a gram-size
    * mismatch loudly instead of silently joining 3-gram hashes against a
    * 5-gram index). Postings are repartitioned by `g` so each file holds a
    * contiguous hash range — at 100 TB this is the bucketed-table layout
    * that lets the daily join shuffle only the day-sized batch side.
    */
  def writeGramIndex(corpus: DataFrame, dir: String, n: Int = 3,
      numPostingFiles: Int = 32, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = corpus.sparkSession
    // a REBUILD resets the epoch history: stale epoch markers from a
    // previous index generation would otherwise point readers at the old
    // compacted tables instead of the fresh epoch-0 ones. Markers go first
    // (a crash then leaves orphan tables, never a marker without tables).
    // Contract: a rebuild deletes the old epoch tables IMMEDIATELY (unlike
    // compact's one-epoch deletion grace) — don't rebuild while readers are
    // in-flight (they fail loudly with FAILED_READ, never read torn data)
    val log = gramLog(spark, dir)
    log.retire(Long.MaxValue, log.state())
    val fs = log.dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(log.dir)) fs.listStatus(log.dir).foreach { st =>
      if (st.getPath.getName.matches(".*-e\\d+")) fs.delete(st.getPath, true)
    }
    val idx = gramIndexOf(corpus, n, idCol, textCol)
    idx.md5s.write.mode("overwrite").parquet(s"$dir/md5")
    idx.grams.repartition(numPostingFiles, col("g"))
      .write.mode("overwrite").parquet(s"$dir/grams")
    idx.counts.write.mode("overwrite").parquet(s"$dir/counts")
    idx.gramDf.write.mode("overwrite").parquet(s"$dir/gramdf")
    graft.util.FsText.write(spark,
      s"$dir/meta.json", s"""{"n":$n,"format":"graft-gram-index-v1"}""")
  }

  /** Epoch-suffix for the index's table dirs: epoch 0 is the bare
    * `writeGramIndex` layout; compaction e publishes `md5-e<e>` etc.
    */
  private def gramEpochSuffix(e: Long): String = if (e == 0) "" else s"-e$e"

  /** The index's epoch log: one empty `_epoch-<e>` marker per published
    * compaction, in the index dir itself. The current epoch is the highest
    * marker (0 when none) — the sink's single-visibility-point rule: a
    * compaction's tables are invisible until its marker exists, so a crash
    * mid-compaction leaves readers on the previous epoch.
    */
  private def gramLog(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = new org.apache.hadoop.fs.Path(dir)
    new graft.util.CommitLog(d.getFileSystem(spark.sparkContext.hadoopConfiguration),
      d, graft.util.CommitLog.Name("_epoch-"))
  }

  private def gramEpoch(s: graft.util.CommitLog.State): Long = s.entries.lastOption.getOrElse(0L)

  private def readGramIndexMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val metaSchema = StructType(Seq(
      StructField("n", IntegerType), StructField("format", StringType)))
    val meta = spark.read.schema(metaSchema).json(s"$dir/meta.json").collect()
    require(meta.length == 1 && !meta(0).isNullAt(0) &&
        meta(0).getString(1) == "graft-gram-index-v1",
      s"$dir/meta.json is not a graft gram-index sidecar")
    meta(0).getInt(0)
  }

  /** Load a stored gram index (see `writeGramIndex`) at its highest
    * published compaction epoch. Per-gram df is aggregated across append
    * generations at read (one small groupBy on the already-tiny df
    * table — appends write their own generation's partial counts; a
    * compaction collapses them back to one row per gram).
    */
  def readGramIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): GramIndex = {
    val n = readGramIndexMeta(spark, dir)
    val s = gramEpochSuffix(gramEpoch(gramLog(spark, dir).state()))
    GramIndex(
      spark.read.parquet(s"$dir/md5$s"),
      spark.read.parquet(s"$dir/grams$s"),
      spark.read.parquet(s"$dir/counts$s"),
      spark.read.parquet(s"$dir/gramdf$s")
        .groupBy(col("g")).agg(sum(col("df")).as("df")),
      n)
  }

  /** Append a new batch's postings to a stored gram index — the MAINTENANCE
    * half of the daily story: after a day's survivors join the corpus, the
    * index grows by the day's postings instead of being rebuilt from
    * 100 TB of corpus text. Gram size comes from the sidecar (never trust
    * the caller to repeat it). CONTRACT: each doc id may be appended at
    * most once (a re-appended id would double its gram counts and corrupt
    * every jaccard against it — the same discipline as the sink's
    * exactly-once batches; wrap calls in that machinery when the upstream
    * can redeliver). The four appends are not atomic: a crash mid-append
    * leaves a partial generation — rebuild with `writeGramIndex`, or drive
    * appends through an exactly-once commit wrapper in production.
    */
  def appendGramIndex(newDocs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val n = readGramIndexMeta(spark, dir)
    val s = gramEpochSuffix(gramEpoch(gramLog(spark, dir).state()))
    val idx = gramIndexOf(newDocs, n, idCol, textCol)
    idx.md5s.write.mode("append").parquet(s"$dir/md5$s")
    idx.grams.write.mode("append").parquet(s"$dir/grams$s")
    idx.counts.write.mode("append").parquet(s"$dir/counts$s")
    idx.gramDf.write.mode("append").parquet(s"$dir/gramdf$s")
  }

  /** Compact a stored gram index: fold every append generation back into
    * the `writeGramIndex` layout — postings re-bucketed by `g` into
    * `numPostingFiles` contiguous-hash-range files, per-gram df partials
    * collapsed to one row, file counts bounded again. The maintenance
    * loop this completes (write → append… → compact, mirroring the
    * sink's epoch compaction) is what keeps the daily-dedup index
    * healthy at 100 TB: appends are cheap but erode the bucketed layout
    * (their postings aren't hash-ranged) and grow file counts and df
    * partials without bound; compaction restores all three invariants
    * without touching corpus text.
    *
    * Crash-safe by the sink's single-visibility-point rule: the new
    * epoch's four tables are written to `*-e<next>` dirs that readers
    * ignore until the `_epoch-<next>` marker is created (an atomic
    * create). A crash mid-write leaves readers on the current epoch and
    * a re-run overwrites the partial tables. Physical deletion of old
    * epochs is deferred ONE epoch (again the sink's convention): epoch
    * `e-1`'s tables are dropped when `e+1` publishes, so in-flight
    * readers of the previous epoch get a full compaction cycle of grace.
    * Single-writer contract: don't run compact concurrently with an
    * append (same discipline `appendGramIndex` already documents).
    *
    * Returns the published epoch number.
    */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, numPostingFiles: Int = 32): Int = {
    readGramIndexMeta(spark, dir) // validates format before any writes
    val log = gramLog(spark, dir)
    val st = log.state()
    val e = gramEpoch(st)
    val cur = readGramIndex(spark, dir)
    val next = e + 1
    val s = gramEpochSuffix(next)
    cur.md5s.distinct().write.mode("overwrite").parquet(s"$dir/md5$s")
    cur.grams.repartition(numPostingFiles, col("g"))
      .write.mode("overwrite").parquet(s"$dir/grams$s")
    cur.counts.write.mode("overwrite").parquet(s"$dir/counts$s")
    // readGramIndex already folded the df partials; one row per gram
    cur.gramDf.write.mode("overwrite").parquet(s"$dir/gramdf$s")
    log.publish(next, "")
    if (e >= 1) {
      val sOld = gramEpochSuffix(e - 1)
      val fs = log.dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("md5", "grams", "counts", "gramdf").foreach { t =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$t$sOld"), true)
      }
      log.retire(e - 1, st)
    }
    next.toInt
  }

  /** `incrementalDedupIds` against a prebuilt/stored corpus index — the
    * daily-runnable form: only the NEW batch's text is scanned and hashed;
    * the corpus side contributes pre-hashed postings and counts.
    */
  def incrementalDedupIdsIndexed(newDocs: DataFrame, idx: GramIndex,
      threshold: Double = 0.6, maxGramDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newHash = newDocs.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
    val exactSurvivors = newHash.join(idx.md5s, Seq("h"), "left_anti")
      .select(col("id"))
    // cached (r7): the batch-side hashed grams feed the index join AND the
    // per-doc count aggregate (plus two joins on the capped path) — one
    // batch-text explode instead of two
    val gNew = grams(newDocs, idx.n, idCol, textCol)
      .select(col("id"), xxhash64(col("gram")).as("g")).cache()
    val gOld = idx.grams
    val nNew = gNew.groupBy(col("id")).agg(count(lit(1)).as("ngA"))
    val nOld = idx.counts
    // `maxGramDf` is the same hot-gram guard as ngramJaccardPairs', and it
    // matters MORE here: a corpus-wide boilerplate gram joins every new
    // doc containing it against its whole corpus-side posting list. Hot
    // grams (corpus document frequency above the cap) leave the INDEX
    // only; candidate pairs still verify over FULL gram sets, so emitted
    // survivors stay exact — a new doc slips through only if ALL its
    // shared grams are boilerplate, which at jaccard ≥ 0.6 means run
    // exact dedup first (q11's documented contract).
    val inter = if (maxGramDf == Int.MaxValue) {
      gNew.join(gOld, "g")
        .groupBy(col("id"), col("oid")).agg(count(lit(1)).as("inter"))
    } else {
      val hot = idx.gramDf.where(col("df") > maxGramDf).select(col("g"))
      val cand = gNew.join(broadcast(hot), Seq("g"), "left_anti")
        .join(gOld.join(broadcast(hot), Seq("g"), "left_anti"), "g")
        .select(col("id"), col("oid")).distinct()
      cand.join(gNew, "id").join(gOld, Seq("oid", "g"))
        .groupBy(col("id"), col("oid")).agg(count(lit(1)).as("inter"))
    }
    val nearHits = inter.join(nNew, "id").join(nOld, "oid")
      .where(col("inter") / (col("ngA") + col("ngB") - col("inter")) >= threshold)
      .select(col("id")).distinct()
    exactSurvivors.join(nearHits, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /** Representative selection by SCORE: the ids to KEEP after near-dup
    * dedup when the policy is "keep the best copy" rather than
    * `dedupClusters`' keep-min-id — per connected component of `pairs`,
    * the member maximizing `score` (ties → lowest id) survives, plus every
    * doc in no component. Keep-min-id discards a well-formed original
    * whenever a lower id holds the mangled scrape of it; scoring the
    * representative is what production dedup actually runs (quality,
    * length, or source-priority as the score).
    *
    * Scale: the score computes SCAN-SIDE on the narrow (id, score)
    * projection — text never enters a shuffle; cluster labels come from
    * the bounded `dedupClusters`; the argmax is one window over the
    * cluster key (components are near-dup-sized, so no skewed partition);
    * the result is an id set for `left_semi` composition (q42's id-only
    * join algebra).
    */
  def bestRepresentatives(docs: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val clusters = dedupClusters(pairs) // (doc_id, cluster)
    val scored = docs.select(col(idCol).cast("long").as("doc_id"), score.as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("_score").desc, col("doc_id"))
    val reps = clusters.join(scored, "doc_id")
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).select(col("doc_id"))
    scored.select(col("doc_id"))
      .join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
      .union(reps)
  }

  /** Deterministic content-hash sampling: keep a row iff the md5-derived
    * 60-bit uniform of (salt, id) falls under `rate`. No RNG state, so the
    * SAME rows are selected on any engine, any partitioning, any run — the
    * standard trick for reproducible train/eval splits and corpus
    * subsampling at 100 TB (a `sample()` with a seed is partitioning-
    * dependent; this is content-addressed). Engine-neutral: mirrors as
    * ('0x' || substr(md5(...),1,15))::UBIGINT < floor(rate·2^60) in DuckDB.
    */
  def hashSample(docs: DataFrame, rate: Double, salt: String = "s0",
      idCol: String = "doc_id"): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val threshold = java.math.BigDecimal.valueOf(rate)
      .multiply(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(60)))
      .toBigInteger.longValueExact()
    docs.where(graft.ops.TextAnalysis.tokenHash60(
      concat(lit(salt), lit(":"), col(idCol).cast("string"))) < threshold)
  }

  /** Stratified deterministic sampling: per-stratum rates as EXACT
    * rationals (num/den), applied through the same salted 60-bit content
    * hash as `hashSample` — reproducible across engines, partitionings and
    * reruns, and a doc keeps/loses membership monotonically as its
    * stratum's rate moves (nested samples for curriculum mixes). Strata
    * not in `rates` fall back to `defaultRate`. Narrow filter: threshold
    * selection is one CASE over the stratum column, no shuffle, no joins —
    * the standard per-source mixing-weights primitive of corpus building.
    */
  def stratifiedSample(df: DataFrame, strataCol: String,
      rates: Map[String, (Long, Long)], defaultRate: (Long, Long) = (0L, 1L),
      salt: String = "s0", idCol: String = "doc_id"): DataFrame = {
    def thr(r: (Long, Long)): Long = {
      val (num, den) = r
      require(num >= 0 && den > 0 && num <= den, s"rate must be in [0,1]: $num/$den")
      // floor(num * 2^60 / den) — exact in BigInteger, fits a long
      java.math.BigInteger.valueOf(num).shiftLeft(60)
        .divide(java.math.BigInteger.valueOf(den)).longValueExact()
    }
    val threshold = rates.toSeq.sortBy(_._1).foldRight(lit(thr(defaultRate))) {
      case ((stratum, r), acc) => when(col(strataCol) === stratum, lit(thr(r))).otherwise(acc)
    }
    df.where(graft.ops.TextAnalysis.tokenHash60(
      concat(lit(salt), lit(":"), col(idCol).cast("string"))) < threshold)
  }

  /** Sign-LSH band count sized FROM the threshold: the smallest `bands`
    * such that a pair at cosine exactly `t` collides in ≥1 band with
    * probability ≥ 1 − targetMiss (collision per band = p^bits with
    * p = 1 − acos(t)/π; pairs above t only do better). This replaces a
    * fixed band count whose recall floor silently moved with the caller's
    * threshold (ADVICE r2): with sized bands the miss probability AT the
    * operating threshold itself is bounded, not just at the planted-dup
    * cosine.
    */
  def lshBandsFor(t: Double, bitsPerBand: Int, targetMiss: Double = 1e-3): Int = {
    require(t > 0.0 && t < 1.0, s"LSH threshold must be in (0,1), got $t")
    val p = 1.0 - math.acos(t) / math.Pi
    val pBand = math.pow(p, bitsPerBand)
    require(pBand > 1e-12,
      s"threshold $t with $bitsPerBand bits/band is un-LSH-able (band match prob $pBand)")
    math.max(1, math.ceil(math.log(targetMiss) / math.log1p(-pBand)).toInt)
  }

  /** Scale-aware sign-LSH band width: ⌈log₂ n⌉ + 4 bits (floor 12). Each
    * band then has ≥ 16n possible keys, so the birthday-bound on FALSE
    * candidates is ≈ bands · n²/2^bits ≤ bands · n/16 — per-band candidate
    * volume stays LINEAR in n instead of the fixed-width O(n²·const) floor
    * (the r4-measured 3%-of-all-pairs constant at 12 bits: 374k candidate
    * pairs at 5k docs grew to 36.9M at 50k). `lshBandsFor` re-sizes the
    * band count as bits grow (recall at the threshold stays ≥ 1−10⁻³ by
    * construction), multiplying back ~(1/p(t))^bits ≈ n^0.33 at t = 0.8 —
    * net candidate growth ~n^1.33, the sign-LSH asymptotic, instead of n².
    * A fixed caller-supplied width keeps exactly what it asks for (the
    * gate query pins 12/105 so its DuckDB mirror stays tractable).
    */
  def autoBitsPerBand(n: Long): Int =
    math.max(12, 4 + 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))

  /** EXACT all-pairs embedding cosine (reference implementation): a
    * non-equi join → nested loop, O(n²). Test/small-scale ONLY — it is the
    * recall oracle for `embeddingNearDupPairs`, never a production path.
    */
  def embeddingCosinePairsExact(embs: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embs.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("raw_c"))
      .where(col("raw_c") >= threshold)
      .select(col("id1"), col("id2"), round(col("raw_c"), 4).as("cosine"))
  }

  /** Deterministic hashed-n-gram document embeddings: dims-long signed
    * integer count vectors (see HashingKernels.embed), plus the exact
    * integer squared norm. Narrow map — no explode, no shuffle.
    */
  def hashedEmbeddings(docs: DataFrame, dims: Int = 256, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        call_function("hash_embed", col(textCol), lit(dims), lit(n)).as("v"))
      .withColumn("n2", call_function("dot_i64", col("v"), col("v")))
      .where(col("n2") > 0)

  /** Float-embedding near-dup over a real Array[Float]/Array[Double]
    * column: sign-LSH banded candidates (scale-invariant hyperplane sign
    * bits) + exact cosine verify. `bands ≤ 0` (the default) sizes the band
    * count from the threshold via `lshBandsFor`, so the miss probability
    * for a pair AT cosine `threshold` itself is ≤ 10⁻³ (pairs above it
    * only do better); a caller-fixed `bands` takes whatever floor that
    * implies. Every EMITTED pair is exactly verified with the same
    * expression as the all-pairs reference, so precision is 1 and values
    * are bit-identical to it. Near-dup detection below t ≈ 0.8 on
    * unstructured vectors is not LSH-able (measured on the uniform fixture:
    * the candidate set degenerates to all pairs) — that regime needs the
    * exact reference or a quantized index, not this operator.
    */
  def embeddingCosinePairs(embs: DataFrame, threshold: Double,
      bands: Int = 0, bitsPerBand: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // bitsPerBand ≤ 0 (the default): size the band width from the corpus —
    // a fixed width carries an O(n²·const) false-candidate floor at scale
    // (autoBitsPerBand scaladoc); the count() is one metadata-cheap job
    val bits = if (bitsPerBand > 0) bitsPerBand else autoBitsPerBand(embs.count())
    val nBands = if (bands > 0) bands else lshBandsFor(threshold, bits)
    val isFloat = Similarity.isFloatVec(embs, vecCol)
    val e = embs.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"))
    val keys = embs.select(col(idCol).as("id"),
        posexplode(graft.functions.VectorFunctions.lshBandKeysFp(
          col(vecCol), isFloat, nBands, bits)))
      .toDF("id", "band", "key")
    val cand = keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
    cand
      .join(e.select(col("id").as("id1"), col("v").as("v1"), col("nrm").as("n1")), "id1")
      .join(e.select(col("id").as("id2"), col("v").as("v2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("raw_c"))
      .where(col("raw_c") >= threshold)
      .select(col("id1"), col("id2"), round(col("raw_c"), 4).as("cosine"))
  }

  /** Embedding-cosine near-dup via sign-LSH blocking + exact integer verify
    * (replaces the r1 all-pairs join — VERDICT.md next-steps #1).
    *
    * Candidates: each vector gets `bands` keys of `bitsPerBand` hyperplane
    * sign bits; vectors sharing any (band, key) are candidates — a standard
    * equi-shuffle join on the band key whose fan-out is bounded by bucket
    * sizes (measured at sf0.1: 1.1% of all pairs). Verify: exact integer
    * arithmetic — cos ≥ tNum/tDen ⇔ dot > 0 ∧ tDen²·dot² ≥ tNum²·|a|²·|b|²
    * — so the emitted pairs and cosines are bit-reproducible in any engine
    * (the DuckDB oracle mirrors every step; there is NO floating-point
    * anywhere before the final display rounding).
    *
    * Recall: a pair at cosine c collides with probability
    * 1−(1−p^bits)^bands, p = 1−acos(c)/π. `bands ≤ 0` (the default) sizes
    * the band count from the threshold via `lshBandsFor` so the miss
    * probability AT t = tNum/tDen itself is ≤ 10⁻³ (at t = 4/5 with 12
    * bits: 105 bands; the fixture's planted near-dups at c ≈ 0.95 then
    * collide with probability 1 − 10⁻²⁰, and the OpsSpec recall test pins
    * 100% against the exact all-pairs reference). A caller-fixed `bands`
    * takes whatever floor that implies — the r2-flagged silent gap. At
    * 100 TB the shuffle key is the (band, key) pair and AQE skew-join
    * handles hot buckets.
    *
    * Candidate-volume scaling (measured, r4; fixed r5): at a FIXED
    * 12-bit/105-band point the false-candidate rate is a CONSTANT ≈3% of
    * all pairs on this corpus family (374k candidates at 5k docs, 36.9M at
    * 50k) — random cross-doc cosines (~0.3) are close enough to t = 0.8
    * that 12 sign bits only separate them that far, so candidates are
    * O(n²·0.03). The DEFAULT (`bitsPerBand ≤ 0`) therefore auto-sizes the
    * band width from the corpus count — `autoBitsPerBand` — and
    * `lshBandsFor` re-sizes bands, driving the exponent to the sign-LSH
    * asymptotic n^(1+ρ) (ρ ≈ 0.33–0.44 here) with recall at the threshold
    * still ≥ 1−10⁻³ by construction (OpsSpec pins candidate-fraction
    * decrease at two corpus sizes AND auto == exact on the fixture). An
    * explicit bitsPerBand keeps exactly what it asks for — the gate query
    * pins 12 so its DuckDB mirror stays tractable at gate scale.
    */
  def embeddingNearDupPairs(docs: DataFrame, tNum: Long = 4L, tDen: Long = 5L,
      dims: Int = 256, n: Int = 3, bands: Int = 0, bitsPerBand: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be a rational in (0, 1]")
    // cached: the embedding projection (md5 per distinct gram — the hot
    // kernel) feeds three branches (band keys + both verify sides); without
    // the cache it is recomputed per branch
    val emb = hashedEmbeddings(docs, dims, n, idCol, textCol).cache()
    val bits = if (bitsPerBand > 0) bitsPerBand else autoBitsPerBand(emb.count())
    val nBands = if (bands > 0) bands
      else lshBandsFor(tNum.toDouble / tDen, bits)
    val cand = signLshCandidates(emb, nBands, bits)
    val e1 = emb.select(col("id").as("id1"), col("v").as("v1"), col("n2").as("n21"))
    val e2 = emb.select(col("id").as("id2"), col("v").as("v2"), col("n2").as("n22"))
    cand.join(e1, "id1").join(e2, "id2")
      .withColumn("dot", call_function("dot_i64", col("v1"), col("v2")))
      .where(col("dot") > 0 &&
        lit(tDen * tDen) * col("dot") * col("dot") >= lit(tNum * tNum) * col("n21") * col("n22"))
      .select(col("id1"), col("id2"),
        round(col("dot").cast("double") / sqrt((col("n21") * col("n22")).cast("double")), 4)
          .as("cosine"))
  }

  /** The sign-LSH candidate pair set over hashed embeddings (`emb` from
    * `hashedEmbeddings`: id, v, n2) — the blocking stage of
    * `embeddingNearDupPairs` alone. Package-visible so the candidate
    * VOLUME (the thing the auto-sized operating point controls) is
    * directly auditable: OpsSpec measures the candidate fraction at two
    * corpus sizes and pins that it falls under auto-sizing.
    */
  private[graft] def signLshCandidates(emb: DataFrame, bands: Int,
      bitsPerBand: Int): DataFrame = {
    val keys = emb.select(col("id"),
        posexplode(call_function("lsh_band_keys", col("v"), lit(bands), lit(bitsPerBand))))
      .toDF("id", "band", "key")
    keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
  }

  /** Benchmark decontamination: drop every corpus document sharing ANY word
    * n-gram with the (small) benchmark/eval set — the standard n-gram-
    * overlap rule training pipelines apply before training (GPT-3 paper
    * §C uses 13-grams; default 8 here because the fixtures' docs are
    * shorter). Catches the eval docs themselves AND near-verbatim
    * paraphrases that exact-hash matching misses.
    *
    * Scale: benchmark gram sets are eval-suite sized (thousands of docs) →
    * `broadcast` semi-join against the corpus gram explode, so the corpus
    * is scanned ONCE with no shuffle of text; only the hit doc-id set
    * (≤ corpus rows, usually tiny) shuffles into the final left_anti.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    corpus.join(contaminatedIds(corpus, benchmark, n, idCol, textCol),
      Seq(idCol), "left_anti")

  /** The contaminated doc-id set alone (the gram probe of `decontaminate`
    * without the join-back): corpus grams explode scan-side (narrow),
    * benchmark grams broadcast, only ids shuffle. Compose with id-only
    * joins when the caller doesn't need the full surviving rows — a
    * pipeline that joins full corpus rows against a non-broadcastable
    * filter would shuffle the text column for nothing (q42 uses this).
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bg = grams(benchmark, n, idCol, textCol).select(col("gram")).distinct()
    grams(corpus, n, idCol, textCol)
      .join(broadcast(bg), Seq("gram"))
      .select(col("id").as(idCol)).distinct()
  }

  /** SUBSTRING-level dedup: find repeated k-token spans ACROSS the corpus —
    * the complement of the doc-level operators above, and what production
    * corpus pipelines run in addition to them (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * public suffix-array/fingerprint technique; this is the fingerprint-
    * window form). A boilerplate header shared by thousands of otherwise-
    * distinct pages never reaches jaccard 0.6, but its span repeats
    * verbatim — exactly what this flags for cutting.
    *
    * Every k-token sliding window is fingerprinted (engine-neutral 60-bit
    * md5 hash of the window text); a window is DUPLICATED when its
    * fingerprint occurs in ≥ `minDocs` distinct documents and ≥ `minOcc`
    * times overall (defaults flag cross-document repeats; `minDocs = 1,
    * minOcc = 2` flags within-document repetition instead).
    *
    * Output: one row per duplicated window occurrence —
    * (id, pos, fp, n_docs, n_occ) with `pos` the 0-based token offset, so
    * a downstream pass can cut or collapse the exact spans.
    *
    * Scale: after the narrow fingerprint projection, everything shuffles
    * on the 8-byte fp — the window TEXT never enters an exchange (PlanSpec
    * asserts it). Two fp shuffles (occurrence count + join back); the
    * duplicated-fp side is the output of a HAVING-style filter, small
    * enough for AQE to broadcast in the common case. fp collisions merge
    * unrelated windows at ~(#windows)²/2⁶⁰ — immaterial below ~10⁹ spans
    * per fingerprint space, and a collision can only over-flag.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
      minOcc: Int = 2, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && minDocs >= 1 && minOcc >= 1, "duplicateSpans: bad params")
    // cached: the fingerprint projection (full text scan + per-window md5 —
    // the dominant cost) feeds both the occurrence count and the join-back
    // probe side; without the cache the corpus is scanned and hashed twice
    // (same lifecycle contract as the other pairwise operators here — the
    // session harness releases it with clearCache). r7b: the window hash
    // runs inside the one-pass `span_fps` kernel (the winnow_fps move) —
    // same tokenHash60 values by construction (OpsSpec pins it), but the
    // window STRINGS never materialize as rows: the explode and the cache
    // carry (id, pos, 8-byte fp) only.
    val spans = docs.select(col(idCol).as("id"),
        posexplode(call_function("span_fps", col(textCol), lit(k))).as(Seq("pos", "fp")))
      .cache()
    val dup = spans.groupBy(col("fp"))
      .agg(countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs && col("n_occ") >= minOcc)
    spans.join(dup, Seq("fp"))
      .select(col("id"), col("pos"), col("fp"), col("n_docs"), col("n_occ"))
  }

  /** Substring dedup REMOVAL — the rewrite step `duplicateSpans` reports
    * for (Lee et al. 2021's actual operation): every token covered by at
    * least one duplicated k-window is excised and the document is rebuilt
    * from the survivors in order (a fully-covered doc becomes the empty
    * string; spacing normalizes to single spaces, which is the corpus
    * convention). Returns (idCol, textCol) for EVERY input doc.
    *
    * Scale: only AFFECTED documents (those with ≥1 duplicated span — the
    * boilerplate carriers, typically a small corpus fraction) pay the
    * token explode + rebuild shuffle; every other doc passes through the
    * narrow anti-join branch untouched. Covered positions travel as
    * (id, int) pairs; the rebuild is one (id)-keyed aggregate whose
    * array_sort runs per doc, not across docs.
    */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // r7b: the rebuild is ONE narrow kernel over (text, span-start set) —
    // the former shape exploded every affected doc's tokens into rows,
    // anti-joined the k-expanded covered positions and re-assembled with a
    // per-doc sort aggregate (three exchanges of token/position rows). Per
    // affected doc the duplicated START set is collected once (bounded by
    // its span occurrences) and `remove_spans` excises covered tokens
    // in-place, reproducing the old pipeline bit-for-bit (OpsSpec pins
    // kernel == pipeline, including the fully-covered → "" case). The
    // cov table is CACHED: it feeds the inner (affected) join and the
    // untouched anti-join branch — same lifecycle contract as `spans`.
    val cov = duplicateSpans(docs, k, minDocs, minOcc = 2, idCol, textCol)
      .groupBy(col("id").as(idCol))
      .agg(collect_set(col("pos")).as("_starts"))
      .cache()
    val affectedOut = docs.join(cov, Seq(idCol))
      .select(col(idCol),
        call_function("remove_spans", col(textCol), col("_starts"), lit(k)).as(textCol))
    docs.join(cov, Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol))
      .unionByName(affectedOut)
  }
}
