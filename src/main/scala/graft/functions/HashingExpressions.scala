package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic embedding construction and LSH banding — the Spark-first
  * replacement for the r1 all-pairs embedding-cosine join (VERDICT.md
  * "What's wrong" #2) — plus the text kernels of the dedup and quality
  * operators.
  *
  * Everything here is an exact, engine-independent function of its input
  * (md5-derived dims / signs / hyperplanes, integer arithmetic only), so a
  * DuckDB oracle reproduces each step bit-for-bit — approximation lives in
  * WHICH candidate pairs are generated, never in any computed value.
  *
  * SQL reaches these static methods through [[GraftFunctions]], whose
  * names build Spark `StaticInvoke` expressions: whole-stage codegen calls
  * the method inline.
  */
object HashingKernels {

  private val mdLocal = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".toCharArray

  def md5hex(s: String): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The 60-bit md5 fingerprint — `parseLong(md5hex(s).substring(0, 15), 16)`
    * (TextAnalysis.tokenHash60 semantics) computed straight from the digest
    * bytes: the first 15 hex chars are the top 60 bits of the big-endian
    * first 8 digest bytes, so the value is `be >>> 4` — no 32-char hex
    * string, no substring, no radix parse. Provably identical (15 nibbles
    * read most-significant-first either way; OpsSpec pins equality on
    * random strings). This sits in the per-token/per-window inner loop of
    * simhash60 / fingerprint31 / winnow_fps / span_fps.
    */
  def md5fp60(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val be = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  /** dims-long signed n-gram count vector: for each DISTINCT word n-gram g,
    * dim = first 8 md5-hex chars of g as uint mod dims, sign = parity of the
    * 9th hex char. One pass per document — no explode, no shuffle.
    */
  def embed(text: String, dims: Int, n: Int): Array[Long] = {
    val w = text.split(" ", -1)
    val v = new Array[Long](dims)
    if (w.length >= n) {
      val seen = new java.util.HashSet[String]((w.length * 2) max 16)
      var i = 0
      while (i <= w.length - n) {
        val sb = new java.lang.StringBuilder(w(i))
        var k = 1
        while (k < n) { sb.append(' ').append(w(i + k)); k += 1 }
        val g = sb.toString
        if (seen.add(g)) {
          // digest-bytes fast path (r7b, the md5fp60 move): the first 8 hex
          // chars are digest bytes 0–3 big-endian (unsigned), the 9th hex
          // char is the high nibble of byte 4 — identical dim/sign to the
          // hex-string parse this replaces (OpsSpec pins hash_embed
          // determinism; the q22/q51 oracles pin the values end-to-end)
          val md = mdLocal.get()
          md.reset()
          val d = md.digest(g.getBytes("UTF-8"))
          val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          val dim = (u32 % dims).toInt
          val sign = if (((d(4) >> 4) & 1) == 0) 1L else -1L
          v(dim) += sign
        }
        i += 1
      }
    }
    v
  }

  def embedArray(text: UTF8String, dims: Int, n: Int): ArrayData =
    new GenericArrayData(embed(text.toString, dims, n))

  /** ±1 hyperplane matrix H(p)(d), deterministic: parity of the first
    * md5-hex char of "h:p:d". Cached per (planes, dims) — computed once per
    * executor, never shipped with the plan.
    */
  private val hpCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Byte]]]()

  def hyperplanes(planes: Int, dims: Int): Array[Array[Byte]] =
    hpCache.computeIfAbsent((planes, dims), { key =>
      val (p, d) = key
      Array.tabulate(p) { pi =>
        val row = new Array[Byte](d)
        var di = 0
        while (di < d) {
          row(di) =
            if ((Character.digit(md5hex(s"h:$pi:$di").charAt(0), 16) & 1) == 0) 1 else -1
          di += 1
        }
        row
      }
    })

  /** DIM-MAJOR transpose of `hyperplanes` — ht(d)(p) = H(p)(d). The
    * integer band-key kernel iterates nonzero dims on the outside (hashed
    * n-gram embeddings are sparse: ~50 of 256 dims at the fixture shape),
    * so the inner loop wants one contiguous per-dim row (r7).
    */
  private val hpTCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Byte]]]()

  private def hyperplanesT(planes: Int, dims: Int): Array[Array[Byte]] =
    hpTCache.computeIfAbsent((planes, dims), { key =>
      val (p, d) = key
      val h = hyperplanes(p, d)
      Array.tabulate(d) { di =>
        val row = new Array[Byte](p)
        var pi = 0
        while (pi < p) { row(pi) = h(pi)(di); pi += 1 }
        row
      }
    })

  /** bands LSH keys: key(b) packs bitsPerBand sign bits, bit i of band b =
    * [dot(v, H(b*bitsPerBand+i)) > 0]. Integer dot → the sign is exact in
    * any engine (no FP tie ambiguity).
    *
    * r7: accumulation is SPARSE and dim-major — for each nonzero dim,
    * one contiguous pass adds x·H(p)(d) into all plane dots. Work drops
    * from dims×planes to nnz×planes per vector (~5× at the fixture
    * sparsity; the q22 operating point runs 1,260 planes). Integer adds
    * commute exactly, so every dot — and therefore every key — is
    * bit-identical to the plane-major form.
    */
  def bandKeys(vec: ArrayData, bands: Int, bitsPerBand: Int): ArrayData = {
    val dims = vec.numElements()
    val v = vec.toLongArray()
    val planes = bands * bitsPerBand
    val ht = hyperplanesT(planes, dims)
    val dots = new Array[Long](planes)
    var d = 0
    while (d < dims) {
      val x = v(d)
      if (x != 0L) {
        val row = ht(d)
        var p = 0
        while (p < planes) { dots(p) += x * row(p); p += 1 }
      }
      d += 1
    }
    val keys = new Array[Long](bands)
    var p = 0
    while (p < planes) {
      if (dots(p) > 0L) keys(p / bitsPerBand) |= 1L << (p % bitsPerBand)
      p += 1
    }
    new GenericArrayData(keys)
  }

  /** Distinct word n-grams (first-occurrence order). Semantics match
    * `split(text, " ")` with Java limit -1 (trailing empties kept) and the
    * DuckDB oracle's string_split — and the former builtin-HOF pipeline,
    * which interpreted at ~1 ms/doc; this runs in ~10 µs/doc.
    */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    val w = text.toString.split(" ", -1)
    if (w.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]((w.length * 2) max 16)
    var i = 0
    while (i <= w.length - n) {
      val sb = new java.lang.StringBuilder(w(i))
      var k = 1
      while (k < n) { sb.append(' ').append(w(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** ALL word n-gram windows in order (array index = token offset) — the
    * positional twin of `wordNgrams` for span-level operators, where every
    * occurrence and its exact offset matter (duplicateSpans).
    */
  def wordNgramsAll(text: UTF8String, n: Int): ArrayData = {
    val w = text.toString.split(" ", -1)
    if (w.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](w.length - n + 1)
    var i = 0
    while (i <= w.length - n) {
      val sb = new java.lang.StringBuilder(w(i))
      var k = 1
      while (k < n) { sb.append(' ').append(w(i + k)); k += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The function-word list of the quality/lang-id heuristics (canonical
    * copy — ops.TextAnalysis.StopWords aliases it).
    */
  val QualityStopWords: Array[String] =
    Array("the", "a", "of", "and", "to", "in", "is", "over")

  private val StopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    QualityStopWords.foreach(s.add)
    s
  }

  /** Composite quality score in ONE pass per document (r7): replicates the
    * builtin-HOF expression form FLOATING-OP BY FLOATING-OP —
    *   lenScore      = min(1, n/100)
    *   stopScore     = min(1, (stops/n)·5)
    *   meanLenScore  = min(1, (charSum/n)/8)    charSum folds as LONG
    *   diversity     = distinct/n
    *   score         = Round(((lenScore+stopScore)+meanLenScore+diversity)/4, 4)
    * with Spark Round's BigDecimal.valueOf(x).setScale(4, HALF_UP) — so the
    * result is bit-identical to the expression pipeline it replaces (and to
    * the DuckDB mirror that matched it). Token length counts CODE POINTS,
    * matching Spark `length` = UTF8String.numChars. The interpreted HOFs
    * (aggregate / filter / array_distinct per token, ~0.1 ms/doc) made this
    * the dominant scan cost of every quality-gated pipeline stage.
    */
  def qualityScore(text: UTF8String): Double = {
    val w = text.toString.split(" ", -1)
    val n = w.length.toDouble
    var stops = 0
    var charSum = 0L
    val distinct = new java.util.HashSet[String]((w.length * 2) max 16)
    var i = 0
    while (i < w.length) {
      val t = w(i)
      if (StopSet.contains(t)) stops += 1
      charSum += t.codePointCount(0, t.length)
      distinct.add(t)
      i += 1
    }
    val lenScore = math.min(1.0, n / 100.0)
    val stopScore = math.min(1.0, (stops / n) * 5.0)
    val meanLenScore = math.min(1.0, charSum.toDouble / n / 8.0)
    val diversity = distinct.size / n
    java.math.BigDecimal
      .valueOf((((lenScore + stopScore) + meanLenScore) + diversity) / 4.0)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Winnowing fingerprint selection in ONE pass per document (r7): hash
    * every k-token window with the engine-neutral 60-bit md5 hash
    * (TextAnalysis.tokenHash60 semantics — first 15 md5-hex chars as a
    * long), slide the w-window, keep each window's minimum fp with ties to
    * the RIGHTMOST position (robust winnowing), and emit the DISTINCT
    * selected (pos, fp) pairs. Replaces the posexplode → per-doc window
    * sort → frame-min → distinct pipeline (a full corpus shuffle on the
    * doc key) with a narrow codegen'd map; the selected set is identical
    * by construction (ModelCheckSpec pins it against the brute-force
    * model). Selected positions are monotone non-decreasing as the window
    * slides, so last-emitted-position dedup IS distinct. Docs with fewer
    * than w windows yield an empty array (the `_n = w` contract).
    */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val wd = text.toString.split(" ", -1)
    if (wd.length < k) return new GenericArrayData(Array.empty[Any])
    val m = wd.length - k + 1
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val fps = new Array[Long](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(wd(i))
      var j = 1
      while (j < k) { sb.append(' ').append(wd(i + j)); j += 1 }
      fps(i) = md5fp60(sb.toString)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](2 * m / (w + 1) + 4)
    var lastPos = -1
    i = 0
    while (i <= m - w) {
      var sel = i
      var j = i + 1
      while (j < i + w) { if (fps(j) <= fps(sel)) sel = j; j += 1 }
      if (sel != lastPos) {
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](sel, fps(sel)))
        lastPos = sel
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Per-window 60-bit span fingerprints in ONE pass per document (r7b):
    * fp(i) = the engine-neutral md5 hash (TextAnalysis.tokenHash60
    * semantics) of the k-token window at offset i — exactly the values the
    * former `posexplode(word_ngrams_all) → tokenHash60(gram)` pipeline
    * produced, without materializing a window STRING row per position:
    * the window text lives only inside this kernel, the explode moves
    * 8-byte longs, and the md5 goes straight from digest bytes to the
    * 60-bit value (md5fp60). Array index = token offset, so
    * `posexplode` reproduces the old (pos, fp) rows bit-for-bit
    * (OpsSpec pins kernel == expression-pipeline equality).
    */
  def spanFps(text: UTF8String, k: Int): ArrayData = {
    val w = text.toString.split(" ", -1)
    if (w.length < k) return new GenericArrayData(Array.empty[Long])
    val m = w.length - k + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(w(i))
      var j = 1
      while (j < k) { sb.append(' ').append(w(i + j)); j += 1 }
      out(i) = md5fp60(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rebuild a document with every k-window at the given start offsets
    * excised (r7b — the q54 rebuild stage): a token at position t survives
    * iff NO start s in `starts` covers it (s ≤ t ≤ s+k−1); survivors join
    * with single spaces. Replicates the former explode-tokens →
    * covered-(id,tp) anti-join → array_sort(collect_list) aggregate
    * BIT-FOR-BIT (same token order, same " " join, "" when fully covered)
    * while moving only (id, starts-array) through the shuffle — the
    * affected docs' token stream never explodes into rows (OpsSpec pins
    * kernel == pipeline equality).
    */
  def removeSpans(text: UTF8String, startsIn: ArrayData, k: Int): UTF8String = {
    val w = text.toString.split(" ", -1)
    val starts = startsIn.toIntArray()
    java.util.Arrays.sort(starts)
    val sb = new java.lang.StringBuilder
    var si = 0
    var coveredUntil = -1 // highest token index covered so far
    var t = 0
    while (t < w.length) {
      while (si < starts.length && starts(si) <= t) {
        val hi = starts(si) + k - 1
        if (hi > coveredUntil) coveredUntil = hi
        si += 1
      }
      if (t > coveredUntil) {
        if (sb.length > 0) sb.append(' ')
        sb.append(w(t))
      }
      t += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Most MinHash rows per document: ring hash h < 2^31 and multiplier
    * a = 2k+1 < 2^16 keep h·a + b below 2^48, inside a signed long.
    */
  val MaxMinhashRows = 1 << 15

  /** MinHash LSH band keys in ONE pass per document (r7b): the
    * MinHash signature → band-slice → `xxhash64(slice)` pipeline
    * collapsed into a narrow kernel. Replicates the expression algebra
    * BIT-FOR-BIT:
    *   - gram hash gh = Spark `xxhash64(gram)` = XXH64.hashUTF8String(g, 42)
    *     over the DISTINCT word n-grams (grams() semantics);
    *   - ring hash h = pmod(gh, p), p = 2³¹−1;
    *   - signature k = min over grams of pmod(h·(2k+1) + 40503·(k+1), p);
    *   - band key b = Spark `xxhash64(h_{b·r}, …, h_{b·r+r−1})` = the
    *     seed-chained XXH64.hashLong fold starting at 42.
    * Replaces the cached-gram-projection → 64-min hash aggregate (one
    * exchange + agg machinery over every gram row) with per-doc local
    * arithmetic — the identical integers come out, so the candidate set
    * and everything downstream is unchanged (OpsSpec pins kernel ==
    * aggregate-pipeline equality). Docs with no n-gram (fewer than n
    * tokens) return an EMPTY array, matching the aggregate form where a
    * doc with no gram rows has no signature row at all.
    */
  def minhashBandKeys(text: UTF8String, n: Int, bands: Int,
      rowsPerBand: Int): ArrayData = {
    require(bands.toLong * rowsPerBand <= MaxMinhashRows,
      s"minhash_band_keys: bands*rowsPerBand exceeds $MaxMinhashRows")
    val p = 2147483647L // 2^31 - 1
    val numHashes = bands * rowsPerBand
    val w = text.toString.split(" ", -1)
    if (w.length < n) return new GenericArrayData(Array.empty[Long])
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val seen = new java.util.HashSet[String]((w.length * 2) max 16)
    var i = 0
    while (i <= w.length - n) {
      val sb = new java.lang.StringBuilder(w(i))
      var j = 1
      while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
      val g = sb.toString
      if (seen.add(g)) {
        val gh = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(UTF8String.fromString(g), 42L)
        val h = ((gh % p) + p) % p
        var k = 0
        while (k < numHashes) {
          val a = 2L * k + 1
          val b = 40503L * (k + 1)
          val v = (((h * a + b) % p) + p) % p
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    val keys = new Array[Long](bands)
    var bnd = 0
    while (bnd < bands) {
      var key = 42L
      var r = 0
      while (r < rowsPerBand) {
        key = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(mins(bnd * rowsPerBand + r), key)
        r += 1
      }
      keys(bnd) = key
      bnd += 1
    }
    new GenericArrayData(keys)
  }

  /** 60-bit unweighted SimHash over md5 token hashes in ONE pass per
    * document — replaces the explode + 60-conditional-sum aggregate shape
    * (2M shuffled rows and a wide groupBy at sf0.1) with a narrow codegen'd
    * map. Bit-identical to the expression formula it replaced and to the
    * DuckDB oracle: token = `split(text, " ")` with trailing empties, token
    * hash = first 15 md5-hex chars as a long (TextAnalysis.tokenHash60),
    * bit b set iff Σ±1 over tokens' bit b is > 0.
    */
  def simhash60(text: UTF8String): Long = {
    val w = text.toString.split(" ", -1)
    val counts = new Array[Int](60)
    var i = 0
    while (i < w.length) {
      val h = md5fp60(w(i))
      var b = 0
      while (b < 60) {
        counts(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** Rolling 31-bit-Mersenne-ring document fingerprint in one pass —
    * same fold as TextAnalysis.fingerprint's builtin-HOF formula
    * (acc·1000003 + h mod p, h = tokenHash60 mod p), which interpreted the
    * md5/conv expression tree per token.
    */
  def fingerprint31(text: UTF8String): Long = {
    val p = 2147483647L // 2^31 - 1
    val w = text.toString.split(" ", -1)
    var acc = 0L
    var i = 0
    while (i < w.length) {
      val h = md5fp60(w(i)) % p
      acc = (acc * 1000003L + h) % p
      i += 1
    }
    acc
  }

  /** Fraction of bigram occurrences taken by the single most frequent
    * bigram, in one pass per document (local hash map) — replaces the
    * explode + (doc, gram) + (doc) double aggregation, making the whole
    * repetition report narrow. 0.0 for sub-2-token docs. The raw IEEE
    * division max/total is returned; display rounding stays in the column
    * expression so it matches the DuckDB oracle's round exactly.
    */
  def topBigramFrac(text: UTF8String): Double = {
    val w = text.toString.split(" ", -1)
    if (w.length < 2) return 0.0
    val counts = new java.util.HashMap[String, Int]((w.length * 2) max 16)
    var maxC = 0
    var i = 0
    while (i < w.length - 1) {
      val g = w(i) + " " + w(i + 1)
      val c = counts.merge(g, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      i += 1
    }
    maxC.toDouble / (w.length - 1)
  }

  /** Sign-LSH band keys over a float/double vector (sign bits are
    * scale-invariant, so no normalization needed). Same deterministic ±1
    * hyperplanes as the integer path.
    */
  def bandKeysFp(vec: ArrayData, isFloat: Boolean, bands: Int, bitsPerBand: Int): ArrayData = {
    val dims = vec.numElements()
    val v = new Array[Double](dims)
    var d = 0
    while (d < dims) {
      v(d) = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
      d += 1
    }
    val h = hyperplanes(bands * bitsPerBand, dims)
    val keys = new Array[Long](bands)
    var p = 0
    while (p < bands * bitsPerBand) {
      val row = h(p)
      var dot = 0.0
      var i = 0
      while (i < dims) { dot += v(i) * row(i); i += 1 }
      if (dot > 0.0) keys(p / bitsPerBand) |= 1L << (p % bitsPerBand)
      p += 1
    }
    new GenericArrayData(keys)
  }

  /** Exact integer dot product of two long arrays of equal length. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    var s = 0L
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) { s += x(i) * y(i); i += 1 }
    s
  }
}


/** The SQL names of the kernels. Each name builds one `StaticInvoke` of a
  * [[HashingKernels]] or [[VectorKernels]] method, so whole-stage codegen
  * calls the method inline and the interpreted path calls it by
  * reflection. Int parameters must be int literals; their bounds are
  * checked here, when the function resolves, before any job runs.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** `cls.method(args…)`: null when any argument is null, otherwise the
    * method's result, which is never null; `dt` is its Catalyst type.
    */
  private[functions] def kernel(cls: Class[_], method: String, dt: DataType,
      args: Expression*): Expression =
    StaticInvoke(cls, dt, method, args, propagateNull = true, returnNullable = false)

  private def hashing(method: String, dt: DataType, args: Expression*): Expression =
    kernel(HashingKernels.getClass, method, dt, args: _*)

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private val Selections = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)

  private[functions] def requireBanding(what: String, bands: Int, bitsPerBand: Int): Unit =
    require(bands > 0 && bitsPerBand > 0 && bitsPerBand < 63, s"$what: bad banding")

  private def ngrams(name: String, method: String)(a: Seq[Expression]): Expression = {
    require(intLit(a(1), "n") > 0, s"$name: n must be positive")
    hashing(method, Strings, a(0), a(1))
  }

  private def elemKind(e: Expression, what: String): Expression =
    Literal(VectorKernels.elemKind(e.dataType, what))

  /** One row per SQL name: its builder over the resolved arguments. */
  val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "hash_embed" -> { a =>
      require(intLit(a(1), "dims") > 0 && intLit(a(2), "n") > 0,
        "hash_embed: dims and n must be positive")
      hashing("embedArray", Longs, a(0), a(1), a(2))
    },
    "lsh_band_keys" -> { a =>
      requireBanding("lsh_band_keys", intLit(a(1), "bands"), intLit(a(2), "bitsPerBand"))
      hashing("bandKeys", Longs, a(0), a(1), a(2))
    },
    "dot_i64" -> (a => hashing("dotLong", LongType, a(0), a(1))),
    "dot_f64" -> (a => kernel(VectorKernels.getClass, "dotD", DoubleType,
      a(0), elemKind(a(0), "dot_f64"), a(1), elemKind(a(1), "dot_f64"))),
    "norm_f64" -> (a => kernel(VectorKernels.getClass, "normD", DoubleType,
      a(0), elemKind(a(0), "norm_f64"))),
    "word_ngrams" -> ngrams("word_ngrams", "wordNgrams"),
    "word_ngrams_all" -> ngrams("word_ngrams_all", "wordNgramsAll"),
    "quality_score" -> (a => hashing("qualityScore", DoubleType, a(0))),
    "winnow_fps" -> { a =>
      require(intLit(a(1), "k") >= 1 && intLit(a(2), "w") >= 1,
        "winnow_fps: k and w must be >= 1")
      hashing("winnowFps", Selections, a(0), a(1), a(2))
    },
    "simhash60" -> (a => hashing("simhash60", LongType, a(0))),
    "fingerprint31" -> (a => hashing("fingerprint31", LongType, a(0))),
    "top_bigram_frac" -> (a => hashing("topBigramFrac", DoubleType, a(0))),
    "span_fps" -> { a =>
      require(intLit(a(1), "k") >= 1, "span_fps: k must be >= 1")
      hashing("spanFps", Longs, a(0), a(1))
    },
    "minhash_band_keys" -> { a =>
      val (n, bands, rows) = (intLit(a(1), "n"), intLit(a(2), "bands"), intLit(a(3), "rowsPerBand"))
      require(n >= 1 && bands >= 1 && rows >= 1 &&
        bands.toLong * rows <= HashingKernels.MaxMinhashRows, "minhash_band_keys: bad params")
      hashing("minhashBandKeys", Longs, a(0), a(1), a(2), a(3))
    },
    "remove_spans" -> { a =>
      require(intLit(a(2), "k") >= 1, "remove_spans: k must be >= 1")
      hashing("removeSpans", StringType, a(0), a(1), a(2))
    }
  )

  /** Registers every kernel name on `spark` (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit =
    registry.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.registerFunction(new FunctionIdentifier(name),
        new ExpressionInfo(classOf[StaticInvoke].getName, name), build)
    }
}
