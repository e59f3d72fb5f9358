package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis.{stopwordRatio, tokens}

/** The builtin-expression pipelines the native kernels replaced. No query
  * path uses them; `OpsSpec` compares each kernel against its expression
  * form, row for row.
  */
object LegacyKernels {

  /** MinHash signature matrix: for each doc, numHashes minima of
    * (a_k * xxhash64(gram) + b_k) mod p. One explode + one groupBy(id). The
    * base ring hash `h = xxhash64(gram) mod p` is one projected column
    * before the aggregate, shared by the `numHashes` min-aggregates.
    */
  def minhashSignatures(g: DataFrame, numHashes: Int): DataFrame = {
    // 31-bit Mersenne ring keeps every product inside a 64-bit long under
    // ANSI mode (no silent wrap in Spark 4): h < 2^31, a < 2^8 → a*h+b < 2^40
    val p = 2147483647L // 2^31 - 1
    val mins = (0 until numHashes).map { k =>
      val a = 2L * k + 1
      val b = 40503L * (k + 1)
      min(pmod(col("_h") * a + b, lit(p))).as(s"h$k")
    }
    g.select(col("id"), pmod(xxhash64(col("gram")), lit(p)).as("_h"))
      .groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  private def pmod(c: Column, m: Column): Column = ((c % m) + m) % m

  /** The expression form of `TextAnalysis.qualityScore`. */
  def qualityScoreExpr(text: Column): Column = {
    val w = tokens(text)
    val n = size(w).cast("double")
    val lenScore = least(lit(1.0), n / 100.0)
    val stopScore = least(lit(1.0), stopwordRatio(text) * 5.0)
    val charSum = aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double")
    val meanLenScore = least(lit(1.0), charSum / n / 8.0)
    val diversity = size(array_distinct(w)).cast("double") / n
    round((lenScore + stopScore + meanLenScore + diversity) / 4.0, 4)
  }
}
