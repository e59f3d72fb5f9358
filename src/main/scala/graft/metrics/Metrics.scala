package graft.metrics

/** Wall-clock decomposition of the sink path, accumulated per batch by
  * `CdcPipeline.processBatch` (one nanoTime pair per stage — nothing on the
  * row-level hot path). The bench resets it per rep and ships the totals in
  * the artifact, so a slow rep is diagnosable from the JSON alone: Spark's
  * own `durationMs` says WHERE the trigger time went (source read vs
  * addBatch), this says where addBatch went (write vs lineage agg vs
  * manifest commit). (VERDICT r4 #1c.)
  */
object StageTimers {
  import java.util.concurrent.atomic.AtomicLong

  /** One pipeline's counters. Keyed by the sink's `outDir`, so two
    * concurrent pipelines in one JVM never interleave their stage totals,
    * and a bench rep's reset cannot race another active pipeline's
    * accumulation.
    */
  private final class Timers {
    val writeNs = new AtomicLong()
    val lineageNs = new AtomicLong()
    val commitNs = new AtomicLong()
    val batches = new AtomicLong()
  }

  private val byPipeline =
    new java.util.concurrent.ConcurrentHashMap[String, Timers]()

  private def timers(pipeline: String): Timers =
    byPipeline.computeIfAbsent(pipeline, _ => new Timers)

  def addWrite(pipeline: String, ns: Long): Unit = {
    timers(pipeline).writeNs.addAndGet(ns); ()
  }
  def addLineage(pipeline: String, ns: Long): Unit = {
    timers(pipeline).lineageNs.addAndGet(ns); ()
  }
  def addCommit(pipeline: String, ns: Long): Unit = {
    timers(pipeline).commitNs.addAndGet(ns); ()
  }
  def batchDone(pipeline: String): Unit = {
    timers(pipeline).batches.incrementAndGet(); ()
  }

  /** Drop one pipeline's counters (bench reps use unique outDirs; this
    * bounds the map).
    */
  def reset(pipeline: String): Unit = { byPipeline.remove(pipeline); () }

  /** One pipeline's stage totals in seconds + batch count. */
  def snapshot(pipeline: String): Map[String, Double] = {
    val t = timers(pipeline)
    Map(
      "sink_write" -> t.writeNs.get / 1e9,
      "lineage_agg" -> t.lineageNs.get / 1e9,
      "sink_commit" -> t.commitNs.get / 1e9,
      "batches" -> t.batches.get.toDouble)
  }
}

/** The source-latency alert threshold (≙ reference
  * monitoring/CDCMonitor.scala:28-30: warn when now − source.ts_ms exceeds
  * 10 s). The reference keeps its metrics in a mutable singleton, which it
  * concedes is wrong under parallelism > 1 (SURVEY.md §7.5). Here each
  * committed batch's manifest lines are its metrics record: the one lineage
  * aggregate of `CdcPipeline.processBatch` measures every event's latency
  * against the batch's `processing_timestamp`, and the sink publishes the
  * max / sum / count and the late-event count with the commit.
  */
object LatencyMonitor {

  /** Reference threshold: 10 s (CDCMonitor.scala:28). */
  val DefaultAlertMs = 10000L
}
