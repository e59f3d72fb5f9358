package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Turn
import graft.pipeline.{Cep, Joins, Windows}
import graft.source.TranscriptGen
import graft.source.TranscriptGen.GenConfig

/** Event-time layer: windows + watermarks, CEP state machines, stream-stream
  * joins (SURVEY.md §5.2 items 4; north-rule operators absent from the
  * reference).
  */
class EventTimeSpec extends SparkSpec {

  private val turnSchema = Encoders.product[Turn].schema

  private def writeTurnFile(dir: String, name: String, turns: Seq[Turn]): Unit = {
    import spark.implicits._
    val tmp = s"$dir/.tmp-$name"
    spark.createDataset(turns).coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  private def streamTurns(dir: String, mft: Int = 1): DataFrame =
    spark.readStream.schema(turnSchema).option("maxFilesPerTrigger", mft).parquet(dir)

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    drainToMemory(df, name, mode)
    spark.table(name)
  }

  /** Run `df` into memory table `name` until the input is drained, then
    * stop; the stopped query still carries its progress reports.
    */
  private def drainToMemory(df: DataFrame, name: String, mode: String): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    q
  }

  /** State store instances each stateful operator reported, over every
    * progress report of `q`.
    */
  private def storeInstances(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators).map(_.numStateStoreInstances)

  private val JoinStateFormat = "spark.sql.streaming.join.stateFormatVersion"

  private def genTurns(cfg: GenConfig): DataFrame = {
    import spark.implicits._
    TranscriptGen.events(spark, cfg).filter(_.event.op.exists(o => o == "r" || o == "c"))
      .map(_.event.after.get).toDF()
  }

  private def t(conv: String, idx: Int, role: String, tool: Option[String], tsSec: Long): Turn =
    Turn(conv, idx, role, s"text-$idx", tool, new Timestamp(1700000000000L + tsSec * 1000))

  // ---------------- windows ----------------

  test("tumbling/sliding/session windows: streaming == batch on same input") {
    val cfg = GenConfig(numConvs = 60, avgTurns = 12, longGapProb = 0.15)
    val batchTurns = genTurns(cfg)
    val dir = tmpDir("win")
    writeTurnFile(dir, "all", batchTurns.collect().map(r =>
      Turn(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getTimestamp(5))).toSeq)

    // complete mode flushes every window regardless of watermark → exact
    // equality with batch is checkable without sentinel plumbing
    assertSameRows(
      runToMemory(Windows.tumbling(streamTurns(dir, 3), "1 hour", Some("30 seconds")), "w_tum", "complete"),
      Windows.tumbling(batchTurns, "1 hour"), "tumbling")
    assertSameRows(
      runToMemory(Windows.sliding(streamTurns(dir, 3), "1 hour", "15 minutes", Some("30 seconds")), "w_sli", "complete"),
      Windows.sliding(batchTurns, "1 hour", "15 minutes"), "sliding")
    assertSameRows(
      runToMemory(Windows.session(streamTurns(dir, 3), "30 minutes", Some("30 seconds")), "w_ses", "complete"),
      Windows.session(batchTurns, "30 minutes"), "session")
  }

  test("session window splits on gap > threshold") {
    import spark.implicits._
    val turns = Seq(
      t("c1", 0, "user", None, 0), t("c1", 1, "assistant", None, 60),
      t("c1", 2, "user", None, 120),
      // 2h gap → new session
      t("c1", 3, "user", None, 7320), t("c1", 4, "assistant", None, 7380))
    val got = Windows.session(spark.createDataset(turns).toDF(), "30 minutes")
      .orderBy("session_start").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("n_turns") == 3 && got(1).getAs[Long]("n_turns") == 2)
  }

  test("late data beyond the watermark is dropped in append mode") {
    val dir = tmpDir("late")
    // batch 1: base data; batches 2-3: advance the watermark AND let the
    // eviction run (Spark applies the new watermark one batch later);
    // batch 4: the late event — its window state is gone and its event time
    // is far below the watermark → dropped; batch 5: final flush.
    writeTurnFile(dir, "b1", Seq(t("c1", 0, "user", None, 0), t("c1", 1, "user", None, 600)))
    writeTurnFile(dir, "b2", Seq(t("adv", 0, "user", None, 100000)))
    writeTurnFile(dir, "b3", Seq(t("adv", 1, "user", None, 110000)))
    writeTurnFile(dir, "b4", Seq(t("c1", 2, "user", None, 60))) // hours late
    writeTurnFile(dir, "b5", Seq(t("adv", 2, "user", None, 200000)))
    val got = runToMemory(
      Windows.tumbling(streamTurns(dir), "1 hour", Some("10 seconds")), "w_late", "append")
    val c1 = got.where(col("conv_id") === "c1").orderBy("window_start").collect()
    // both c1 base turns are in the same 1h window; the late turn (same
    // window) arrived after the watermark passed → dropped, count stays 2
    assert(c1.map(_.getAs[Long]("n_turns")).toSeq == Seq(2L))
  }

  // ---------------- CEP ----------------

  private val craftedConv: Seq[Turn] = Seq(
    t("cx", 0, "user", None, 0),
    t("cx", 1, "assistant", Some("search"), 10),
    t("cx", 2, "tool", Some("search"), 20), // roundtrip 1→2
    t("cx", 3, "user", None, 30),
    t("cx", 4, "user", None, 40), // user_repeat 3→4
    t("cx", 5, "assistant", Some("browser"), 50),
    t("cx", 6, "assistant", Some("sql"), 60), // unanswered browser 5→6
    t("cx", 7, "tool", Some("sql"), 70), // roundtrip 6→7
    t("cx", 8, "assistant", Some("python"), 80) // left open → timeout (streaming)
  )

  test("CEP batch: crafted conversation yields the expected pattern set") {
    import spark.implicits._
    val got = Cep.detect(spark.createDataset(craftedConv).toDF(), streaming = false)
      .collect().map(m => (m.pattern, m.start_turn, m.end_turn)).toSet
    assert(got == Set(
      ("tool_roundtrip", 1, 2), ("user_repeat", 3, 4),
      ("unanswered_tool_call", 5, 6), ("tool_roundtrip", 6, 7)))
  }

  test("CEP batch matches the window-function oracle on generated data") {
    val turns = genTurns(GenConfig(numConvs = 80, avgTurns = 15))
    val got = Cep.detect(turns, streaming = false).toDF()
      .where(col("pattern").isin("tool_roundtrip", "tool_mismatch"))
      .select("conv_id", "pattern", "start_turn", "end_turn", "detail")
    val want = Cep.batchToolOracle(turns)
      .select("conv_id", "pattern", "start_turn", "end_turn", "detail")
    assertSameRows(got, want, "cep-vs-oracle")
    assert(got.count() > 0)
  }

  test("CEP streaming: equals batch + fires event-time timeout for open call") {
    val dir = tmpDir("cep")
    writeTurnFile(dir, "b1", craftedConv.take(5))
    writeTurnFile(dir, "b2", craftedConv.drop(5))
    writeTurnFile(dir, "b3", Seq(t("adv", 0, "user", None, 86400)))
    writeTurnFile(dir, "b4", Seq(t("adv", 1, "user", None, 172800)))
    val stream = streamTurns(dir).withWatermark("ts", "5 seconds")
    val got = runToMemory(Cep.detect(stream, streaming = true, horizonMs = 60000L).toDF(),
      "cep_s", "append")
      .where(col("conv_id") === "cx")
      .collect().map(r => (r.getAs[String]("pattern"), r.getAs[Int]("start_turn"))).toSet
    assert(got == Set(
      ("tool_roundtrip", 1), ("user_repeat", 3),
      ("unanswered_tool_call", 5), ("tool_roundtrip", 6),
      ("unanswered_tool_call", 8))) // ← the timeout-fired one
  }

  test("CEP streaming: permanent turn_idx gap is drained after the horizon") {
    val dir = tmpDir("cepgap")
    // turn 1 never arrives (e.g. malformed → error route): the frontier must
    // advance past the gap once the watermark clears the horizon, and the
    // buffered tail (2→3 roundtrip) must still be emitted with bounded state
    writeTurnFile(dir, "b1", Seq(
      t("cg", 0, "user", None, 0),
      t("cg", 2, "assistant", Some("sql"), 20),
      t("cg", 3, "tool", Some("sql"), 30)))
    writeTurnFile(dir, "b2", Seq(t("adv", 0, "user", None, 86400)))
    writeTurnFile(dir, "b3", Seq(t("adv", 1, "user", None, 172800)))
    val stream = streamTurns(dir).withWatermark("ts", "5 seconds")
    val got = runToMemory(Cep.detect(stream, streaming = true, horizonMs = 60000L).toDF(),
      "cep_gap", "append")
      .where(col("conv_id") === "cg")
      .collect().map(r => (r.getAs[String]("pattern"), r.getAs[Int]("start_turn"))).toSet
    assert(got == Set(("tool_roundtrip", 2)))
  }

  test("CEP streaming: gap drains on the DATA path for a continuously-active conversation") {
    val dir = tmpDir("cepdd")
    // turn 1 never arrives; the SAME conversation keeps receiving turns in
    // every batch, so its event-time timeout never fires (Spark only fires
    // timeouts for keys with no arrivals) — the permanent-gap drain must
    // run on the data path or this conversation starves forever
    writeTurnFile(dir, "b1", Seq(
      t("cd", 0, "user", None, 0),
      t("cd", 2, "assistant", Some("sql"), 20),
      t("cd", 3, "tool", Some("sql"), 30)))
    writeTurnFile(dir, "b2", Seq(t("cd", 4, "user", None, 100)))
    writeTurnFile(dir, "b3", Seq(t("cd", 5, "user", None, 200)))
    val stream = streamTurns(dir).withWatermark("ts", "5 seconds")
    val got = runToMemory(Cep.detect(stream, streaming = true, horizonMs = 60000L).toDF(),
      "cep_dd", "append")
      .collect().map(r => (r.getAs[String]("pattern"), r.getAs[Int]("start_turn"))).toSet
    assert(got.contains(("tool_roundtrip", 2)), s"buffered tail must drain past the gap: $got")
    assert(got.contains(("user_repeat", 4)), s"post-gap turns must keep flowing: $got")
    // and NO user_repeat may span the known-missing turn (role continuity
    // resets when the frontier is forced over a hole)
    assert(!got.contains(("user_repeat", 0)), s"no pattern across the hole: $got")
  }

  test("CEP batch: residual gap is drained at end of input") {
    import spark.implicits._
    val turns = Seq(
      t("cb", 0, "user", None, 0),
      t("cb", 2, "assistant", Some("sql"), 20),
      t("cb", 3, "tool", Some("sql"), 30))
    val got = Cep.detect(spark.createDataset(turns).toDF(), streaming = false)
      .collect().map(m => (m.pattern, m.start_turn, m.end_turn)).toSet
    assert(got == Set(("tool_roundtrip", 2, 3)))
  }

  test("CEP is robust to out-of-order arrival across batches") {
    val dir = tmpDir("cepooo")
    // deliver the conversation back-to-front; pending buffer must reorder
    writeTurnFile(dir, "b1", craftedConv.drop(5))
    writeTurnFile(dir, "b2", craftedConv.take(5))
    val stream = streamTurns(dir).withWatermark("ts", "1 hour")
    val got = runToMemory(Cep.detect(stream, streaming = true).toDF(), "cep_o", "append")
      .collect().map(r => (r.getAs[String]("pattern"), r.getAs[Int]("start_turn"))).toSet
    assert(got == Set(
      ("tool_roundtrip", 1), ("user_repeat", 3),
      ("unanswered_tool_call", 5), ("tool_roundtrip", 6)))
  }

  test("dropDuplicatesWithinWatermark: in-stream redelivery dedup") {
    val dir = tmpDir("dedup")
    val base = Seq(
      t("c1", 0, "user", None, 0), t("c1", 1, "assistant", None, 10),
      t("c2", 0, "user", None, 20))
    writeTurnFile(dir, "b1", base)
    writeTurnFile(dir, "b2", base.take(2)) // redelivery of two events
    writeTurnFile(dir, "b3", Seq(t("c3", 0, "user", None, 30)))
    val got = runToMemory(
      Windows.dedupWithinWatermark(streamTurns(dir), watermark = "1 hour"),
      "dd", "append")
    assert(got.count() == 4, "3 base + 1 new, redeliveries dropped")
    assert(got.select("conv_id", "turn_idx").distinct().count() == 4)
  }

  test("stream-static dedup: streaming == batch anti-join; no state growth") {
    import spark.implicits._
    val dir = tmpDir("ssdedup")
    val turns = Seq(
      t("c1", 0, "user", None, 0), t("c1", 1, "assistant", None, 10),
      t("c2", 0, "user", None, 20), t("c2", 1, "assistant", None, 30),
      t("c3", 0, "user", None, 40))
    writeTurnFile(dir, "b1", turns.take(3))
    writeTurnFile(dir, "b2", turns.drop(3))
    // static corpus already holds the text of turn_idx 0 ("text-0")
    val corpus = Seq("text-0", "unrelated known content").toDF("text")
    val got = runToMemory(
      Joins.streamStaticDedup(streamTurns(dir), corpus), "ssd", "append")
    val want = Joins.streamStaticDedup(spark.createDataset(turns).toDF(), corpus)
    assertSameRows(got, want, "stream-static dedup streaming == batch")
    // only the turn_idx >= 1 texts survive (idx-0 texts are known content)
    assert(got.count() == 2 && got.where(col("turn_idx") === 0).count() == 0)
  }

  // ---------------- streaming as-of join ----------------

  test("as-of join streaming == batch; out-of-order within watermark; late-left null") {
    import spark.implicits._
    val t0 = 1700000000000L
    def ts(sec: Long) = new Timestamp(t0 + sec * 1000)
    def tsMicro(sec: Long, us: Int) = { val t = ts(sec); t.setNanos(us * 1000); t }
    // left (purchases-like) and right (clicks-like) with an equal-ts pair,
    // an equal-ts right tie, and a key with no right rows at all. u4 lives
    // inside one millisecond: its two right rows are 300 µs apart and the
    // later one has the SMALLER tie, so only microsecond order matches the
    // left at +800 µs to tie 206 (and the one at +350 µs to tie 207)
    val left = Seq(("u1", ts(10), 100L), ("u1", ts(40), 101L), ("u2", ts(15), 102L),
      ("u3", ts(25), 103L), ("u4", tsMicro(60, 350), 104L), ("u4", tsMicro(60, 800), 105L))
      .toDF("k", "ts", "id")
    val right = Seq(("u1", ts(10), 200L), ("u1", ts(30), 201L), ("u1", ts(30), 205L),
      ("u2", ts(50), 202L), ("u4", tsMicro(60, 200), 207L), ("u4", tsMicro(60, 500), 206L))
      .toDF("k", "ts", "id")
    val want = Joins.asOfJoin(left, right, "k", "ts", "id")
      .select(col("k"), col("id"), col("asof.id").as("mid"), col("ts"),
        col("asof.ts").as("matched_ts"))

    // deliver the envelope out-of-order across files (second file carries
    // events OLDER than the first file's max — inside the watermark delay)
    val env = Joins.asOfEvents(left, right, "k", "ts", "id").toDF()
    val rows = env.as[graft.pipeline.Joins.AsOfEvent].collect().sortBy(_.tie)
    val (f1, f2) = rows.partition(e => e.tie % 2 == 0)
    val dir = tmpDir("asof")
    def writeEnv(name: String, es: Seq[graft.pipeline.Joins.AsOfEvent]): Unit = {
      val tmp = s"$dir/.tmp-$name"
      spark.createDataset(es.toSeq).coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    writeEnv("b1", f1.toSeq)
    writeEnv("b2", f2.toSeq)
    // watermark-advancing sentinels on an unrelated key (left side, so the
    // final one emits nothing that collides with the checked keys)
    writeEnv("b3", Seq(graft.pipeline.Joins.AsOfEvent("zz", ts(86400), 900L, false, "{}")))
    writeEnv("b4", Seq(graft.pipeline.Joins.AsOfEvent("zz", ts(172800), 901L, false, "{}")))
    val stream = spark.readStream.schema(env.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "5 seconds").as[graft.pipeline.Joins.AsOfEvent]
    val got = runToMemory(Joins.asOfJoinStream(stream).toDF(), "asof_s", "append")
      .where(col("k") =!= "zz")
      .select(col("k"), col("tie").as("id"), col("matched_tie").as("mid"), col("ts"),
        col("matched_ts"))
    assertSameRows(got, want, "streaming as-of == batch as-of")
    // and the exact expected matches, independently of the batch operator
    val m = got.collect().map(r => r.getLong(1) ->
      (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(m == Map(100L -> 200L, 101L -> 205L, 102L -> -1L, 103L -> -1L,
      104L -> 207L, 105L -> 206L))
    // microseconds survive the operator: u4's output times are not truncated
    val late = got.where(col("id") === 105L).collect().head
    assert(late.getTimestamp(3) == tsMicro(60, 800) && late.getTimestamp(4) == tsMicro(60, 500),
      s"u4 times: $late")

    // at-least-once redelivery: replaying batch 1's events inside the
    // watermark window must not double-emit matches
    val dir2 = tmpDir("asofdup")
    def writeEnv2(name: String, es: Seq[graft.pipeline.Joins.AsOfEvent]): Unit = {
      val tmp = s"$dir2/.tmp-$name"
      spark.createDataset(es.toSeq).coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir2/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    writeEnv2("b1", f1.toSeq)
    writeEnv2("b2", (f2 ++ f1).toSeq) // full redelivery of b1 alongside b2
    writeEnv2("b3", Seq(graft.pipeline.Joins.AsOfEvent("zz", ts(86400), 900L, false, "{}")))
    writeEnv2("b4", Seq(graft.pipeline.Joins.AsOfEvent("zz", ts(172800), 901L, false, "{}")))
    val stream2 = spark.readStream.schema(env.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir2)
      .withWatermark("ts", "5 seconds").as[graft.pipeline.Joins.AsOfEvent]
    val got2 = runToMemory(Joins.asOfJoinStream(stream2).toDF(), "asof_dup", "append")
      .where(col("k") =!= "zz")
      .select(col("k"), col("tie").as("id"), col("matched_tie").as("mid"), col("ts"),
        col("matched_ts"))
    assertSameRows(got2, want, "redelivered stream still == batch")
  }

  test("streaming as-of: idle-key TTL drops retained state; no TTL retains it") {
    import spark.implicits._
    val t0 = 1700000000000L
    def ts(sec: Long) = new Timestamp(t0 + sec * 1000)
    def ev(k: String, sec: Long, tie: Long, isLeft: Boolean) =
      graft.pipeline.Joins.AsOfEvent(k, ts(sec), tie, isLeft, "{}")
    // key "a": right at 10s, left at 20s (matches at b4 once the watermark
    // passes). Then the key idles while zz sentinels advance event time a
    // day per batch — with a 1h TTL the idle timeout fires at b5 and the
    // state is REMOVED. A redelivery of the already-emitted left (b6)
    // probes redelivery safety after expiry (the engine's late filter
    // drops it — it is below the previous batch's watermark); a NEW left
    // at a live timestamp (b7) probes what expiry forgot.
    val files = Seq(
      "b1" -> Seq(ev("a", 10, 200L, false)),
      "b2" -> Seq(ev("a", 20, 100L, true)),
      "b3" -> Seq(ev("zz", 86400, 900L, false)),
      "b4" -> Seq(ev("zz", 172800, 901L, false)),
      "b5" -> Seq(ev("zz", 259200, 902L, false)),
      "b6" -> Seq(ev("a", 20, 100L, true)),
      "b7" -> Seq(ev("a", 300000, 101L, true)),
      "b8" -> Seq(ev("zz", 432000, 903L, false)),
      "b9" -> Seq(ev("zz", 518400, 904L, false)))
    def run(ttl: Option[Long], tag: String): Seq[(Long, Long)] = {
      val dir = tmpDir(s"asofttl$tag")
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      files.foreach { case (name, es) =>
        val tmp = s"$dir/.tmp-$name"
        spark.createDataset(es).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
        fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val schema = Encoders.product[graft.pipeline.Joins.AsOfEvent].schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .withWatermark("ts", "5 seconds").as[graft.pipeline.Joins.AsOfEvent]
      runToMemory(graft.pipeline.Joins.asOfJoinStream(stream, idleTtlMs = ttl).toDF(),
        s"asof_ttl_$tag", "append")
        .where(col("k") === "a")
        .collect().map(r => r.getAs[Long]("tie") ->
          (if (r.isNullAt(r.fieldIndex("matched_tie"))) -1L else r.getAs[Long]("matched_tie")))
        .toSeq.sorted
    }
    // 1h TTL: tie 100 emits exactly once (the post-expiry redelivery at b6
    // must NOT duplicate it), and the new left after expiry gets a NULL
    // match — the retained right row was forgotten
    assert(run(Some(3600L * 1000), "on") == Seq(100L -> 200L, 101L -> -1L),
      "TTL must expire the retained right row; post-expiry redelivery must not re-emit")
    // no TTL: retain-forever behavior — the redelivery is still dropped
    // and the new left finds the old right
    assert(run(None, "off") == Seq(100L -> 200L, 101L -> 200L),
      "without TTL the retained right row must survive idle periods")
  }

  // ---------------- stream-stream join ----------------

  test("tool-call/response stream-stream join: streaming == batch") {
    val cfg = GenConfig(numConvs = 80, avgTurns = 15)
    val batchTurns = genTurns(cfg)
    val dir = tmpDir("join")
    val collected = batchTurns.collect().map(r =>
      Turn(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getTimestamp(5))).toSeq
    // split on event time, so no watermark a no-data batch moves between
    // b1 and b2 can drop b2's rows as late
    val (a, b) = collected.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
      .splitAt(collected.size / 2)
    writeTurnFile(dir, "b1", a)
    writeTurnFile(dir, "b2", b)
    val q = drainToMemory(
      Joins.toolCallResponse(streamTurns(dir, 1), "10 minutes", Some("30 seconds")),
      "join_s", "append")
    val want = Joins.toolCallResponse(batchTurns, "10 minutes")
    assertSameRows(spark.table("join_s"), want, "stream-stream join")
    assert(want.count() > 0)
    // join state format v3 (the engine default): one store per shuffle
    // partition; the v2 format would report four per partition
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val stores = storeInstances(q)
    assert(stores.nonEmpty && stores.forall(_ == partitions),
      s"join state stores per batch $stores, want $partitions (one per partition)")
  }

  test("a join checkpoint written under state format v2 resumes on v2") {
    val cfg = GenConfig(numConvs = 80, avgTurns = 15, seed = 7)
    val batchTurns = genTurns(cfg)
    val dir = tmpDir("v2join")
    val out = tmpDir("v2join-out")
    val ck = tmpDir("v2join-ck")
    val collected = batchTurns.collect().map(r =>
      Turn(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getTimestamp(5))).toSeq
    // split on event time: the first run ends with a no-data batch that
    // moves the watermark, so a second file reaching back below it would
    // lose rows as late on any resume, whatever the state format
    val (a, b) = collected.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
      .splitAt(collected.size / 2)
    // a file sink, not memory: the memory sink cannot resume a checkpoint
    def drainJoin(): StreamingQuery = {
      val q = Joins.toolCallResponse(streamTurns(dir, 1), "10 minutes", Some("30 seconds"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).start()
      q.processAllAvailable(); q.stop()
      q
    }
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
    writeTurnFile(dir, "b1", a)
    // suites share one session: set the old format for the first run only
    val default = spark.conf.get(JoinStateFormat)
    val firstStores =
      try {
        spark.conf.set(JoinStateFormat, "2")
        storeInstances(drainJoin())
      } finally spark.conf.set(JoinStateFormat, default)
    assert(default == "3")
    assert(firstStores.nonEmpty && firstStores.forall(_ == 4 * partitions),
      s"v2 run: stores per batch $firstStores, want ${4 * partitions}")
    val firstRows = spark.read.parquet(out).count()
    // restart on the same checkpoint under the v3 default: the offset log
    // carries format 2, so the resumed query must keep its four stores
    writeTurnFile(dir, "b2", b)
    val stores = storeInstances(drainJoin())
    assert(stores.nonEmpty && stores.forall(_ == 4 * partitions),
      s"resumed run: stores per batch $stores, want ${4 * partitions} (format 2 kept)")
    val want = Joins.toolCallResponse(batchTurns, "10 minutes")
    assertSameRows(spark.read.parquet(out), want, "v2 checkpoint resumed")
    assert(firstRows > 0 && want.count() > firstRows)
  }

  test("outer tool-call join: timed-out calls emit nulls; streaming == batch") {
    val cfg = GenConfig(numConvs = 80, avgTurns = 15, seed = 99)
    val batchTurns = genTurns(cfg)
    val dir = tmpDir("ojoin")
    val collected = batchTurns.collect().map(r =>
      Turn(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getTimestamp(5))).toSeq
    // split on event time, so no watermark a no-data batch moves between
    // b1 and b2 can drop b2's rows as late
    val (a, b) = collected.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
      .splitAt(collected.size / 2)
    // an outer join can only emit a null for a call once the watermark
    // passes call_ts + horizon — calls near the end of a FINITE stream
    // would stay in state forever. The operational pattern is heartbeat
    // events that advance the watermark; these sentinels join nothing
    // (unique conv/tool, resp_ts == call_ts fails the > bound) and appear
    // in BOTH inputs, so streaming == batch stays exact.
    val maxTs = collected.map(_.ts.getTime).max
    val hb = Seq(
      Turn("zz-heartbeat", 0, "assistant", "hb", Some("zz-hb"),
        new Timestamp(maxTs + 3600 * 1000L)),
      Turn("zz-heartbeat", 1, "tool", "hb", Some("zz-hb"),
        new Timestamp(maxTs + 3600 * 1000L)))
    writeTurnFile(dir, "b1", a)
    writeTurnFile(dir, "b2", b)
    writeTurnFile(dir, "b3", hb)
    import spark.implicits._
    val batchAll = batchTurns.unionByName(spark.createDataset(hb).toDF())
    // the heartbeat's OWN unmatched call stays in streaming state (nothing
    // advances the watermark past it) — excluded from both sides
    val got = runToMemory(
      Joins.toolCallResponseOuter(streamTurns(dir, 1), "10 minutes", Some("30 seconds")),
      "ojoin_s", "append").where(col("conv_id") =!= "zz-heartbeat")
    val want = Joins.toolCallResponseOuter(batchAll, "10 minutes")
      .where(col("conv_id") =!= "zz-heartbeat")
    assertSameRows(got, want, "outer stream-stream join")
    // the outer join's whole point: unmatched calls appear with nulls, and
    // the matched subset equals the inner join exactly
    assert(want.where(col("resp_idx").isNull).count() > 0,
      "generator must produce some unanswered tool calls")
    assertSameRows(want.where(col("resp_idx").isNotNull),
      Joins.toolCallResponse(batchTurns, "10 minutes"),
      "outer∖nulls == inner")
  }

  test("SCD2 streaming: closed versions == batch; out-of-order + redelivery + equal-ts tie") {
    import spark.implicits._
    import graft.pipeline.Scd2
    def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000)
    def tsMicro(sec: Long, us: Int) = { val t = ts(sec); t.setNanos(us * 1000); t }
    // u1 has an equal-ts tie (zero-duration version), u3 a single open row.
    // u4's first two changes are 300 µs apart inside one millisecond and
    // the later one has the SMALLER tie: only microsecond order closes
    // p before q, and every u4 time carries microseconds
    val changes = Seq(
      ("u1", ts(10), 1L, "a"), ("u1", ts(20), 2L, "b"), ("u1", ts(20), 3L, "b2"),
      ("u1", ts(40), 4L, "c"), ("u2", ts(15), 5L, "x"), ("u2", ts(35), 6L, "y"),
      ("u3", ts(25), 7L, "only"), ("u4", tsMicro(50, 100), 9L, "p"),
      ("u4", tsMicro(50, 400), 8L, "q"), ("u4", tsMicro(55, 7), 10L, "r"))
      .toDF("k", "ts", "tie", "v")
    val want = Scd2.materialize(changes, "k", "ts", "tie")
      .where(col("valid_to").isNotNull)
      .select(col("k"), col("ts").as("valid_from"), col("tie").as("from_tie"),
        col("valid_to"))
    val rows = Scd2.scd2Events(changes, "k", "ts", "tie").collect()
    val (f1, f2) = rows.partition(_.tie % 2 == 0)
    val dir = tmpDir("scd2")
    def writeEnv(name: String, es: Seq[Scd2.Scd2Event]): Unit = {
      val tmp = s"$dir/.tmp-$name"
      spark.createDataset(es).coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    // second file carries events OLDER than the first file's max (inside the
    // watermark delay) plus an exact redelivery of an already-sent change
    writeEnv("b1", f1.toSeq)
    writeEnv("b2", f2.toSeq :+ f1.head)
    writeEnv("b3", Seq(Scd2.Scd2Event("zz", ts(86400), 900L, "{}")))
    writeEnv("b4", Seq(Scd2.Scd2Event("zz", ts(172800), 901L, "{}")))
    val envSchema = Encoders.product[Scd2.Scd2Event].schema
    val stream = spark.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "5 seconds").as[Scd2.Scd2Event]
    val got = runToMemory(Scd2.scd2Stream(stream).toDF(), "scd2_s", "append")
      .where(col("k") =!= "zz")
      .select(col("k"), col("valid_from"), col("from_tie"), col("valid_to"))
    assertSameRows(got, want, "streaming SCD2 closed set == batch history")
    val u4 = got.where(col("k") === "u4").orderBy(col("valid_from")).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getTimestamp(3))).toSeq
    assert(u4 == Seq((tsMicro(50, 100), 9L, tsMicro(50, 400)),
      (tsMicro(50, 400), 8L, tsMicro(55, 7))), s"u4 versions: $u4")
    // batch mode of the same operator seals everything — identical closed set
    val batchGot = Scd2.scd2Stream(
        Scd2.scd2Events(changes, "k", "ts", "tie"), streaming = false).toDF()
      .select(col("k"), col("valid_from"), col("from_tie"), col("valid_to"))
    assertSameRows(batchGot, want, "batch-mode scd2Stream == materialize")
    // the current view is the LWW row per key
    val cur = Scd2.currentView(changes, "k", "ts", "tie")
      .select(col("k"), col("tie")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("u1" -> 4L, "u2" -> 6L, "u3" -> 7L, "u4" -> 10L))
  }

  test("rowDeltaStream: fully-drained keys remove their state rows") {
    // r7 (ADVICE): a key whose buffer fully drains must state.remove() —
    // an empty RowState retained forever is one state row per key ever seen
    import spark.implicits._
    import graft.pipeline.Retractions
    def mkTs(sec: Long) = new Timestamp(1700000000000L + sec * 1000)
    val dir = tmpDir("rowdrain")
    def writeF(name: String, rs: Seq[(Long, Timestamp, Long, String, String, Long)]): Unit = {
      val tmp = s"$dir/.tmp-$name"
      rs.toDF("k", "ts", "event_id", "op", "grp", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    writeF("b1", Seq((1L, mkTs(10), 1L, "U", "g", 5L), (2L, mkTs(12), 2L, "U", "g", 6L)))
    // far-future heartbeats ripen keys 1 and 2 completely; the last
    // heartbeat's own event stays pending, so exactly ONE state row remains
    writeF("b2", Seq((99L, mkTs(100000), 900L, "U", "g", 0L)))
    writeF("b3", Seq((99L, mkTs(200000), 901L, "U", "g", 0L)))
    val schema = Seq((1L, mkTs(0), 1L, "U", "g", 1L))
      .toDF("k", "ts", "event_id", "op", "grp", "v").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "60 seconds")
    val ev = Retractions.changeEvents(stream, "k", "ts", "event_id", "op", "grp", "v")
    val q = Retractions.rowDeltaStream(ev).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("rowdrain_s").start()
    q.processAllAvailable()
    val stateRows = q.recentProgress.flatMap(_.stateOperators.headOption)
      .lastOption.map(_.numRowsTotal)
    q.stop()
    assert(stateRows.contains(1L),
      s"drained keys must leave no state row (want 1 — the unripe heartbeat), got $stateRows")
  }

  // ---------------- streaming event-transition mining (q63 twin) ----------------

  test("transition mining: streaming == batch; out-of-order + micro ties + redelivery") {
    import graft.pipeline.Transitions
    import spark.implicits._
    val t0 = 1700000000000000L // micros
    def mkTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    // user 1 has a same-microsecond tie (ids 2,3) that only the
    // (ts, event_id) total order resolves, plus sub-millisecond gaps that
    // only exact micro arithmetic preserves; user 2 is a plain pair
    val evs = Seq(
      (1L, 1L, "view", mkTs(t0)),
      (1L, 2L, "click", mkTs(t0 + 1500)),
      (1L, 3L, "view", mkTs(t0 + 1500)),
      (1L, 4L, "purchase", mkTs(t0 + 30000000L)),
      (2L, 10L, "view", mkTs(t0 + 5000000L)),
      (2L, 11L, "view", mkTs(t0 + 7000000L)))
    val batchDf = evs.toDF("user_id", "event_id", "event_type", "ts")

    // independent oracle: the q63 window shape inline
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val want = batchDf
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"),
        (lead(us, 1).over(w) - us).as("gap_us"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("gap_us")).as("total_gap_us"))

    def agg(transitions: DataFrame): DataFrame = transitions
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("gap_us")).as("total_gap_us"))

    // batch mode of the operator == the window oracle
    assertSameRows(agg(Transitions.mine(batchDf, streaming = false).toDF()),
      want, "batch-mode transition mining == window oracle")

    // streaming: deliver out of order across files (file 2 carries events
    // OLDER than file 1's max, inside the watermark delay), then redeliver
    // everything inside the window, then watermark-advancing sentinels
    val dir = tmpDir("trans")
    def writeF(name: String, rows: Seq[(Long, Long, String, Timestamp)]): Unit = {
      val tmp = s"$dir/.tmp-$name"
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val (f2, f1) = evs.partition(e => e._2 == 2L || e._2 == 11L)
    writeF("b1", f1)
    writeF("b2", f2)
    writeF("b3", f1 ++ f2) // full at-least-once redelivery inside the window
    writeF("b4", Seq((99L, 900L, "hb", mkTs(t0 + 86400L * 1000000L))))
    writeF("b5", Seq((99L, 901L, "hb", mkTs(t0 + 172800L * 1000000L))))
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "60 seconds")
    val got = runToMemory(Transitions.mine(stream, streaming = true).toDF(),
      "trans_s", "append")
      .where(col("user_id") =!= 99L)
    assertSameRows(agg(got), want, "streaming transition mining == batch")
    // pin the exact per-user transitions independently of the oracle shape
    val u1 = got.where(col("user_id") === 1L).orderBy(col("gap_us"))
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(u1 == Seq(("click", "view", 0L), ("view", "click", 1500L),
      ("view", "purchase", 29998500L)), s"u1 transitions: $u1")
  }

  // ---------------- retraction aggregation (q64 twin) ----------------

  test("retraction agg: delta fold == batch; group moves, deletes, ties, redelivery") {
    import graft.pipeline.Retractions
    import spark.implicits._
    val t0 = 1700000000000000L // micros
    def mkTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    // u1 moves a → b → c with a same-microsecond tie (ids 2,3) that only
    // the (ts, tie) total order resolves; u2 is upserted then DELETED;
    // u3 is a plain single upsert. Groups: a holds u3 only, b folds to
    // zero (must vanish), c holds u1.
    val rows = Seq(
      (1L, mkTs(t0), 1L, "U", "a", 10L),
      (1L, mkTs(t0 + 1500), 2L, "U", "b", 20L),
      (1L, mkTs(t0 + 1500), 3L, "U", "c", 30L),
      (2L, mkTs(t0 + 5000000L), 10L, "U", "a", 5L),
      (2L, mkTs(t0 + 9000000L), 11L, "D", "", 0L),
      (3L, mkTs(t0 + 2000000L), 20L, "U", "a", 7L))
    val batchDf = rows.toDF("user_id", "ts", "event_id", "op", "grp", "v")

    val want = Retractions.currentAggregate(batchDf, "user_id", "ts",
      "event_id", "op", "grp", "v")
    val wantMap = want.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wantMap == Map("a" -> (1L, 7L), "c" -> (1L, 30L)),
      s"batch current aggregate: $wantMap")

    // batch mode of the streaming operator: fold == currentAggregate
    val batchFold = Retractions.foldDeltas(Retractions.retractStream(
      Retractions.changeEvents(batchDf, "user_id", "ts", "event_id",
        "op", "grp", "v"), streaming = false).toDF())
    assertSameRows(batchFold, want, "batch-mode retract fold == currentAggregate")

    // streaming: out-of-order delivery across files (file 2 carries the
    // tie sibling and the delete, both OLDER than file 1's max), a full
    // at-least-once redelivery inside the window, then watermark sentinels
    val dir = tmpDir("retract")
    def writeF(name: String, rs: Seq[(Long, Timestamp, Long, String, String, Long)]): Unit = {
      val tmp = s"$dir/.tmp-$name"
      rs.toDF("user_id", "ts", "event_id", "op", "grp", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val (f2, f1) = rows.partition(r => r._3 == 2L || r._3 == 11L)
    writeF("b1", f1)
    writeF("b2", f2)
    writeF("b3", f1 ++ f2)
    writeF("b4", Seq((99L, mkTs(t0 + 86400L * 1000000L), 900L, "U", "hb", 0L)))
    writeF("b5", Seq((99L, mkTs(t0 + 172800L * 1000000L), 901L, "U", "hb", 0L)))
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "60 seconds")
    val got = runToMemory(Retractions.retractStream(
      Retractions.changeEvents(stream, "user_id", "ts", "event_id",
        "op", "grp", "v")).toDF(), "retract_s", "append")
      .where(col("grp") =!= "hb")
    assertSameRows(Retractions.foldDeltas(got), want,
      "streaming retract fold == batch current aggregate")
    // the delta log itself: exactly one retraction per replaced/deleted
    // version — 3 insert-side and 2 retract-side rows for u1+u2+u3 minus
    // the sentinel, i.e. the telescoping is visible, not just its sum
    val deltas = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(deltas.count(_._2 == 1L) == 5 && deltas.count(_._2 == -1L) == 3,
      s"delta log shape: ${deltas.toSeq}")
  }

  // -------------- incremental join maintenance (dynamic-table join) --------------

  test("join deltas: fold == LWW inner join; cross-side interleaving, updates, deletes") {
    import graft.pipeline.Retractions
    import spark.implicits._
    val t0 = 2000000000000000L // micros
    def mkTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    // (side, j, k, ts, tie, op, v): on j=x, A updates a1's value, inserts
    // and deletes a2; B inserts b1 then deletes it, inserts b2 BETWEEN
    // a1's two versions. j=y holds an unmatched A row (no pairs); the
    // final join must be exactly {(x, a1, b2, 11, 200)}.
    val rows = Seq(
      (1, "x", 1L, mkTs(t0), 1L, "U", 10L),
      (0, "x", 50L, mkTs(t0 + 500000L), 2L, "U", 100L),
      (1, "x", 2L, mkTs(t0 + 1000000L), 3L, "U", 20L),
      (1, "x", 1L, mkTs(t0 + 2000000L), 4L, "U", 11L),
      (0, "x", 51L, mkTs(t0 + 3000000L), 5L, "U", 200L),
      (1, "x", 2L, mkTs(t0 + 4000000L), 6L, "D", 0L),
      (0, "x", 50L, mkTs(t0 + 5000000L), 7L, "D", 0L),
      (1, "y", 3L, mkTs(t0 + 1000000L), 8L, "U", 7L))
    val df = rows.toDF("side", "j", "k", "ts", "event_id", "op", "v")
    def sides(d: org.apache.spark.sql.DataFrame) = (
      Retractions.changeEvents(d.where(col("side") === 1), "k", "ts",
        "event_id", "op", "j", "v"),
      Retractions.changeEvents(d.where(col("side") === 0), "k", "ts",
        "event_id", "op", "j", "v"))
    // generic oracle: LWW per (side, k), drop deletes, inner join on j
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("side"), col("k")).orderBy(col("ts").desc, col("event_id").desc)
    val lww = df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col("op") =!= "D")
    val want = lww.where(col("side") === 1)
      .select(col("j"), col("k").as("a_k"), col("v").as("va"))
      .join(lww.where(col("side") === 0)
        .select(col("j"), col("k").as("b_k"), col("v").as("vb")), "j")
      .select(col("j"), col("a_k"), col("b_k"), col("va"), col("vb"))
    val (ba, bb) = sides(df)
    val batchFold = Retractions.foldJoinDeltas(
      Retractions.joinDeltaStream(ba, bb, streaming = false).toDF())
    assertSameRows(batchFold, want, "batch-mode join fold == LWW inner join")
    assert(want.count() == 1L, "fixture sanity: one surviving pair")

    // streaming: the two sides are branches of ONE watermarked source;
    // file 2 delivers B's early insert and A's value update LATE (inside
    // the window), file 3 redelivers everything, sentinels seal
    val dir = tmpDir("jdelta")
    def writeF(name: String, rs: Seq[(Int, String, Long, Timestamp, Long, String, Long)]): Unit = {
      val tmp = s"$dir/.tmp-$name"
      rs.toDF("side", "j", "k", "ts", "event_id", "op", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val (f2, f1) = rows.partition(r => r._5 == 2L || r._5 == 4L)
    writeF("b1", f1)
    writeF("b2", f2)
    writeF("b3", f1 ++ f2)
    writeF("b4", Seq((0, "hb", 99L, mkTs(t0 + 86400L * 1000000L), 900L, "U", 0L)))
    writeF("b5", Seq((0, "hb", 99L, mkTs(t0 + 172800L * 1000000L), 901L, "U", 0L)))
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "60 seconds")
    val (sa, sb) = sides(stream)
    val got = runToMemory(Retractions.joinDeltaStream(sa, sb).toDF(),
      "jdelta_s", "append")
      .where(col("j") =!= "hb")
    assertSameRows(Retractions.foldJoinDeltas(got), want,
      "streaming join fold == LWW inner join")
    // the retraction algebra is visible: a1's value update retracted the
    // (10, 100) pair it had with b1 before inserting (11, 100)
    val log = got.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(log.contains((1L, 50L, -1L, 10L, 100L)) && log.contains((1L, 50L, 1L, 11L, 100L)),
      s"update must retract the old pair: $log")
  }

  test("join fold over the fixture changelog == the q71 batch join aggregate") {
    import graft.pipeline.Retractions
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"),
        when(col("event_id") % 17 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("event_type"), (col("event_id") % 997).as("v"))
    // the fixture changelog MOVES users between event types and its D rows
    // carry no attribute — exactly what rekeyMoves exists to rewrite
    def side(parity: Int) = Retractions.changeEvents(
      Retractions.rekeyMoves(ev.where(col("user_id") % 2 === parity),
        "user_id", "ts", "event_id", "op", "event_type", "v"),
      "user_id", "ts", "event_id", "op", "event_type", "v")
    val folded = Retractions.foldJoinDeltas(
      Retractions.joinDeltaStream(side(1), side(0), streaming = false).toDF())
      .groupBy(col("j").as("grp"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("va")).as("sum_va"),
        sum(col("vb")).as("sum_vb"))
    assertSameRows(folded,
      graft.queries.Queries.q71JoinAggregate(spark, "/root/testdata/sf0.001"),
      "streaming-op fold aggregated == batch join aggregate")
  }
}
