package graft.source

import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{ChangeEvent, SourceInfo, Turn}

/** Deterministic synthetic transcript change-stream generator (FIXTURES.md §1-3).
  *
  * Replaces the reference's docker-initialized CRUD fixtures
  * (reference: database/init/init-db.sql:2-31, README.md:236-273) with a
  * seeded, Spark-parallel generator over the transcript schema. Determinism
  * is per-conversation: each conv_id derives its own RNG from
  * (seed, convIdx), so output is identical regardless of partitioning or
  * parallelism — a requirement for the exact-equality oracle and for the
  * local[8]-vs-local[32] scaling runs to see the same input.
  *
  * Scale notes: generation is a narrow flatMap over spark.range(numConvs) —
  * no shuffle, linear scale-out. Zipf skew (hot conversations) is computed
  * from a closed-form weight, not sampling, so skew tests are reproducible.
  */
object TranscriptGen {

  final case class GenConfig(
      numConvs: Int,
      avgTurns: Int = 20,
      seed: Long = 42L,
      /** 0 = uniform turn counts; >0 → turns_i ∝ (i+1)^-zipf (hot convs). */
      zipf: Double = 0.0,
      /** number of incremental change files ("binlog segments"). */
      changeFiles: Int = 4,
      /** extra c/u/d events per snapshot turn. */
      changeEventsPerTurn: Double = 0.3,
      /** fraction of change events emitted with op=null (error route). */
      malformedFrac: Double = 0.0,
      /** fraction of change events that are schema-change events. */
      schemaChangeFrac: Double = 0.0,
      baseEpochMs: Long = 1700000000000L, // 2023-11-14T22:13:20Z
      /** probability a turn gap is a session-breaking long gap. */
      longGapProb: Double = 0.05,
      /** session-breaking gap in ms (tests use gap > sessionGapMs). */
      longGapMs: Long = 2 * 3600 * 1000L
  )

  private val Vocab: Array[String] =
    ("the quick brown fox jumps over lazy dog stream spark window state join " +
      "checkpoint commit offset snapshot replay watermark session tool call " +
      "answer question context token model agent plan search result error retry " +
      "fix code test data table row column batch file partition shuffle key").split(" ")

  private val Tools = Array("search", "calculator", "browser", "python", "sql")

  val Db = "transcripts"
  val Schema = "public"
  val Table = "conversations"

  /** Event tagged with the change-file phase it belongs to; phase = -1 means
    * snapshot (op='r'). lsn is strictly monotone per conversation.
    */
  final case class PhasedEvent(phase: Int, event: ChangeEvent)

  def convId(idx: Long): String = f"conv-$idx%08d"

  /** Turn count for conversation idx under the configured skew. */
  def turnCount(cfg: GenConfig, idx: Long): Int = {
    if (cfg.zipf <= 0.0) {
      val rng = new Random(cfg.seed ^ (idx * 0x9e3779b97f4a7c15L))
      math.max(2, cfg.avgTurns / 2 + rng.nextInt(cfg.avgTurns + 1))
    } else {
      // closed-form zipf: weight (i+1)^-z, normalized so mean ≈ avgTurns.
      // Hot head: conv 0 gets ~avgTurns * N^z / H_N-ish turns.
      val w = math.pow(idx + 1.0, -cfg.zipf)
      // approximate normalizer: integral of x^-z from 1..N
      val n = cfg.numConvs.toDouble
      val norm =
        if (math.abs(cfg.zipf - 1.0) < 1e-9) math.log(n + 1)
        else (math.pow(n, 1.0 - cfg.zipf) - 1.0) / (1.0 - cfg.zipf)
      // avgTurns.toDouble FIRST: an Int*Int product overflows at
      // numConvs*avgTurns > 2^31 (exactly the 10^9+-conversation scales
      // this generator targets) and would collapse every conversation to 2
      math.max(2, math.round(cfg.avgTurns.toDouble * cfg.numConvs * w / math.max(norm, 1e-9)).toInt)
    }
  }

  private def words(rng: Random, n: Int): String =
    Array.fill(n)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")

  private def mkSource(tsMs: Long, snapshot: Option[String], lsn: Long): SourceInfo =
    SourceInfo(Db, Schema, Table, tsMs, snapshot, Some(lsn))

  /** All events for one conversation: snapshot reads then phased changes.
    * Pure function of (cfg, idx) — the determinism contract.
    */
  def genConv(cfg: GenConfig, idx: Long): Seq[PhasedEvent] = {
    val rng = new Random(cfg.seed ^ (idx * 0x9e3779b97f4a7c15L) ^ 0x5bd1e995L)
    val cid = convId(idx)
    val nTurns = turnCount(cfg, idx)
    var lsn = idx * 1000000L
    var tsMs = cfg.baseEpochMs + (idx % 100000L) * 1000L
    val out = Seq.newBuilder[PhasedEvent]

    // --- snapshot turns (op='r'), monotone (turn_idx, ts) per conv ---
    // long (session-breaking) gaps are capped in expectation per conversation
    // so a zipf-hot conversation doesn't stretch over months of event time
    // (which would explode time-bucket cardinality downstream)
    val effLongGapProb = math.min(cfg.longGapProb, 20.0 / nTurns)
    var pendingTool: Option[String] = None
    val turns = (0 until nTurns).map { t =>
      val gap =
        if (rng.nextDouble() < effLongGapProb) cfg.longGapMs + rng.nextInt(3600000)
        else 1000L + rng.nextInt(30000)
      tsMs += gap
      val (role, tool) =
        if (pendingTool.isDefined) { val p = pendingTool; pendingTool = None; ("tool", p) }
        else if (t == 0) ("user", None)
        else if (t % 2 == 1) {
          // assistant turn; sometimes issues a tool call answered by next turn
          if (rng.nextDouble() < 0.3) {
            val tl = Tools(rng.nextInt(Tools.length))
            pendingTool = Some(tl)
            ("assistant", Some(tl))
          } else ("assistant", None)
        } else ("user", None)
      Turn(cid, t, role, words(rng, 5 + rng.nextInt(20)), tool, new Timestamp(tsMs))
    }
    turns.foreach { tu =>
      lsn += 1
      out += PhasedEvent(
        -1,
        ChangeEvent(Some("r"), tu.ts.getTime, None, Some(tu),
          Some(mkSource(tu.ts.getTime, Some("true"), lsn)), None)
      )
    }

    // --- incremental changes: interleaved c/u/d (+ malformed / schema) ---
    // `liveKeys` is an O(1) random-pick structure (swap-remove on delete);
    // the earlier sorted-array pick was O(n log n) PER EVENT, which made
    // zipf-hot conversations (300k turns) take minutes to generate.
    val nChanges = math.max(0, math.round(nTurns * cfg.changeEventsPerTurn).toInt)
    val live = scala.collection.mutable.Map[Int, Turn](turns.map(t => t.turn_idx -> t): _*)
    val liveKeys = scala.collection.mutable.ArrayBuffer[Int](turns.map(_.turn_idx): _*)
    var nextIdx = nTurns
    var chgTs = tsMs
    for (c <- 0 until nChanges) {
      val phase = if (cfg.changeFiles <= 1) 0 else c * cfg.changeFiles / math.max(nChanges, 1)
      chgTs += 1000L + rng.nextInt(20000)
      lsn += 1
      val r = rng.nextDouble()
      val evt: ChangeEvent =
        if (r < cfg.malformedFrac) {
          // malformed: missing op (reference error route, CDCEventProcessor.scala:29-37)
          ChangeEvent(None, chgTs, None, None, Some(mkSource(chgTs, None, lsn)), None)
        } else if (r < cfg.malformedFrac + cfg.schemaChangeFrac) {
          // schema change: historyRecord present (CDCEventProcessor.scala:63-68)
          ChangeEvent(Some("c"), chgTs, None, None, Some(mkSource(chgTs, None, lsn)),
            Some(s"""{"ddl":"ALTER TABLE conversations ADD COLUMN x$c INT"}"""))
        } else {
          val kind = rng.nextDouble()
          if (kind < 0.25 || live.isEmpty) {
            // insert: append a new turn
            val tu = Turn(cid, nextIdx, if (nextIdx % 2 == 1) "assistant" else "user",
              words(rng, 5 + rng.nextInt(20)), None, new Timestamp(chgTs))
            nextIdx += 1
            live(tu.turn_idx) = tu
            liveKeys += tu.turn_idx
            ChangeEvent(Some("c"), chgTs, None, Some(tu), Some(mkSource(chgTs, None, lsn)), None)
          } else if (kind < 0.85) {
            // update: rewrite text of an existing turn
            val k = liveKeys(rng.nextInt(liveKeys.length))
            val old = live(k)
            val neu = old.copy(text = old.text + s" [rev$c]", ts = new Timestamp(chgTs))
            live(k) = neu
            ChangeEvent(Some("u"), chgTs, Some(old), Some(neu), Some(mkSource(chgTs, None, lsn)), None)
          } else {
            // delete: swap-remove keeps the pick O(1)
            val pos = rng.nextInt(liveKeys.length)
            val k = liveKeys(pos)
            liveKeys(pos) = liveKeys(liveKeys.length - 1)
            liveKeys.remove(liveKeys.length - 1)
            val old = live.remove(k).get
            ChangeEvent(Some("d"), chgTs, Some(old), None, Some(mkSource(chgTs, None, lsn)), None)
          }
        }
      out += PhasedEvent(phase, evt)
    }
    out.result()
  }

  /** All events for the whole table, Spark-parallel and deterministic. */
  def events(spark: SparkSession, cfg: GenConfig): Dataset[PhasedEvent] = {
    import spark.implicits._
    spark.range(cfg.numConvs.toLong).flatMap(i => genConv(cfg, i))
  }

  /** The initial table state (what the snapshot phase reads). */
  def snapshot(spark: SparkSession, cfg: GenConfig): Dataset[Turn] = {
    import spark.implicits._
    events(spark, cfg).filter(_.phase == -1).map(_.event.after.get)
  }

  /** Batch oracle: the final materialized table after applying every change
    * (last-writer-wins by lsn per (conv_id, turn_idx); 'd' removes the row).
    * Computed order-independently — the invariant the streaming path must hit.
    */
  def finalState(spark: SparkSession, cfg: GenConfig): Dataset[Turn] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = events(spark, cfg)
      .map(_.event)
      .filter(e => e.op.exists(o => o == "r" || o == "c" || o == "u" || o == "d") && e.historyRecord.isEmpty)
      .toDF()
    val keyed = ev.select(
      coalesce($"after.conv_id", $"before.conv_id").as("k_conv"),
      coalesce($"after.turn_idx", $"before.turn_idx").as("k_idx"),
      $"op".as("opv"), $"after", $"source.lsn".as("lsn"))
    val w = Window.partitionBy($"k_conv", $"k_idx").orderBy($"lsn".desc)
    keyed
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"opv" =!= "d")
      .select($"after.*")
      .as[Turn]
  }

  /** Write the Iceberg-shaped table: `snapshot/` (initial state, clustered by
    * conv) + `changes/chg-NNNN.parquet` (append-only change log segments).
    */
  def writeTable(spark: SparkSession, cfg: GenConfig, dir: String,
      filesPerSegment: Int = 1): Unit = {
    import spark.implicits._
    snapshot(spark, cfg)
      .repartition(math.max(spark.sparkContext.defaultParallelism / 2, 1), $"conv_id")
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.mode("overwrite").parquet(s"$dir/snapshot")
    val ev = events(spark, cfg).cache()
    try {
      (0 until cfg.changeFiles).foreach { p =>
        writeChangeFile(ev.filter(_.phase == p).map(_.event), dir, p, filesPerSegment)
      }
    } finally ev.unpersist()
  }

  /** Append one change-log segment (used by tests to simulate arrival).
    * Splitting a segment into several files keeps the incremental read
    * parallel at high core counts (one parquet file is one-ish input split
    * at this size — a single fat file would serialize the scan).
    */
  def writeChangeFile(ds: Dataset[ChangeEvent], dir: String, phase: Int,
      numFiles: Int = 1): Unit = {
    val tmp = s"$dir/.tmp-chg-$phase"
    ds.repartition(numFiles).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      ds.sparkSession.sparkContext.hadoopConfiguration)
    val dstDir = new org.apache.hadoop.fs.Path(s"$dir/changes")
    fs.mkdirs(dstDir)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
    parts.zipWithIndex.foreach { case (st, i) =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(f"$dir/changes/chg-$phase%04d-$i%03d.parquet"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
