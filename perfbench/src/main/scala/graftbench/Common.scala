package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.DecimalType

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    /** Input-size multiplier (1.0 = the benchmark's sizes; the self-test
      * runs tiny inputs). */
    scale: Double,
    /** Self-test only: perturb every expected digest, which must fail the run. */
    corruptExpected: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      kv.get("trace").contains("1"), need("work"), kv.get("scale").fold(1.0)(_.toDouble),
      kv.get("corrupt-expected").contains("1"))
  }
}

/** Metrics, operation counts and correctness verdicts of one run. */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  /** Canary readings before and after the run, as JSON objects. */
  var canary: Seq[(String, String)] = Nil

  /** One operation with its verification: counts as attempted, and as
    * failed when `ok` is false.
    */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${metrics(endToEnd)},"per_layer":${metrics(layers)},""" +
      canary.map { case (k, v) => s"${Json.str(k)}:$v," }.mkString +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")}}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 50)
}

/** Order-independent content digest of a DataFrame: row count plus the exact
  * sum of per-row 64-bit hashes over the named columns.
  */
final case class Digest(rows: Long, sum: java.math.BigDecimal) {
  def corrupted: Digest = Digest(rows, sum.add(java.math.BigDecimal.ONE))
  override def toString: String = s"rows=$rows sum=$sum"
}

object Digest {
  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.select(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0), r.getDecimal(1))
  }
}

/** Shared run context: the session, spans, the optional job probe, output
  * and scratch-directory helpers.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val out = new Outcome
  val probe: Option[JobProbe] =
    if (args.trace) { val p = new JobProbe; spark.sparkContext.addSparkListener(p); Some(p) } else None
  val span = new Spans(spark.sparkContext, args.trace)

  def fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  def dir(name: String): String = s"${args.work}/$name"
  /** Recursive local delete; unlike `fs` it still works once the session
    * has stopped. */
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
  }
  def scaled(n: Int): Int = math.max(20, math.round(n * args.scale).toInt)

  def expect(d: Digest): Digest = if (args.corruptExpected) d.corrupted else d

  /** Total GC seconds of this JVM so far. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  def now: Double = System.nanoTime() / 1e9

  /** A batch that read new input: its source offsets moved. (Row counts do
    * not tell: a pushed-down filter can skip every row of a new file.)
    */
  def isData(p: StreamingQueryProgress): Boolean =
    p.sources.exists(s => s.startOffset != s.endOffset)

  /** Data batches of a finished query, one per batch id. */
  def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(isData).groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)

  /** Wall-clock ms at which a batch's trigger started. */
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def durationS(ps: Seq[StreamingQueryProgress], keys: String*): Double =
    ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
}
