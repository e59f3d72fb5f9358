package graft

import org.apache.spark.sql.functions._

import graft.queries.Queries

/** Battery queries pinned beyond the DuckDB gate: outputs that must not
  * depend on how the plan is partitioned, and equal to a second
  * formulation of the same question.
  */
class QuerySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // coalescing off: AQE would fold this small input into one partition at
  // either count, and the comparison would be one plan against itself
  private def q63At(partitions: Int): Seq[String] =
    withConf("spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      canon(Queries.q63EventBigrams(spark, sf))
    }

  test("q63: equal rows at 4 and 7 shuffle partitions") {
    val at4 = q63At(4)
    assert(at4.nonEmpty)
    assert(q63At(7) == at4)
  }

  test("q63: equals a window-free successor self-join") {
    val ev = spark.read.parquet(s"$sf/events.parquet").select(col("user_id"),
      col("event_id"), col("event_type"), unix_micros(col("ts").cast("timestamp")).as("us"))
    // each event's successor: the least later (us, event_id) of its user
    val next = ev.as("a").join(ev.as("b"), col("a.user_id") === col("b.user_id") &&
        (col("b.us") > col("a.us") ||
          (col("b.us") === col("a.us") && col("b.event_id") > col("a.event_id"))))
      .groupBy(col("a.user_id"), col("a.event_id"), col("a.event_type"), col("a.us"))
      .agg(min(struct(col("b.us").as("us"), col("b.event_id").as("event_id"),
        col("b.event_type").as("event_type"))).as("n"))
    val want = next
      .groupBy(col("event_type").as("from_type"), col("n.event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("n.us") - col("us")).as("total_gap_us"))
    assert(want.count() > 0)
    assertSameRows(Queries.q63EventBigrams(spark, sf), want, "q63 vs successor self-join")
  }
}
