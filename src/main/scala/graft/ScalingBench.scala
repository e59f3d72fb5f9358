package graft

/** N → 4N executor scaling evidence for BASELINE's criterion ("N and 4N
  * executors ≥ 0.8"): the same job on the same input under
  * `local-cluster[n,2,4096]`, n = 1, 4, 16 SEPARATE 2-core executor JVMs
  * (own heap, own GC, shuffle over loopback), the faithful emulation of an
  * N-executor deployment on one box. perfbench's `scaling.efficiency_1_to_n`
  * measures 1 → N threads inside one JVM; only this run compares executor
  * counts, which is why it is kept.
  *
  * Protocol:
  *   - k repetitions per level, fully interleaved (1,4,16, 1,4,16, …) so
  *     slow machine drift hits every level equally;
  *   - medians reported with min–max spread;
  *   - the measured job is the CDC replay through the exactly-once sink
  *     plus the analytics pass (CEP, session + tumbling windows, the
  *     tool-call join, LWW materialization), `Bench.cdcThroughput`;
  *   - ALU and streamed-memory controls on the same core counts, same
  *     process, separate scheduler/memory-bus limits from engine ones;
  *   - a fresh driver JVM per engine run.
  *
  * Usage: sbt "runMain graft.ScalingBench [numConvs] [avgTurns] [reps] [zipf]"
  * (SPARK_HOME must point at the Spark distribution: the workers launch
  * executor JVMs from it). Writes BENCH/BASELINE.md and prints one JSON line.
  * Child mode (internal): graft.ScalingBench --child <executors> <convs> <turns> <zipf>
  */
object ScalingBench {

  private val Levels = Seq(1, 4, 16)
  private val CoresPerExecutor = 2

  /** One measured run on `executors` 2-core executor JVMs. */
  def runLevel(executors: Int, numConvs: Int, avgTurns: Int, zipf: Double): (Double, Long) = {
    val spark = GraftSession.cluster(executors, CoresPerExecutor, 4096, s"graft-scaling-x$executors")
    try Bench.cdcThroughput(spark, numConvs, avgTurns, "/tmp/graft-scaling",
      analytics = true, zipf = zipf)
    finally spark.stop()
  }

  /** Raw-ALU control: `threads` threads × `iters` LCG iterations each.
    * Returns iterations/second. Pure register arithmetic — zero memory
    * traffic — so it isolates what the box's scheduler can deliver.
    */
  def lcgBurn(threads: Int, iters: Long = 2000000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + t
        var i = 0L
        while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.addAndGet(x)
        ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    threads * iters / ((System.nanoTime() - t0) / 1e9)
  }

  /** Memory-bandwidth control: `threads` threads each stream-sum a private
    * 64 MB long array `passes` times. Returns bytes/second delivered. This
    * is what Spark's scan/shuffle work actually stresses — on one box all
    * threads share a single memory system, so its scaling curve is the
    * honest upper bound for the engine's.
    */
  def memBurn(threads: Int, passes: Int = 32): Double = {
    val words = 8 * 1024 * 1024 // 64 MB per thread (≫ LLC share, fits 8g heap ×32)
    val arrays = Array.fill(threads)(Array.tabulate[Long](words)(_.toLong))
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val a = arrays(t)
        var s = 0L
        var p = 0
        while (p < passes) {
          var i = 0
          while (i < a.length) { s += a(i); i += 1 }
          p += 1
        }
        sink.addAndGet(s)
        ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    threads.toDouble * passes * words * 8 / ((System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Run one level in a fresh driver JVM; returns (events/s, events). */
  private def spawn(executors: Int, numConvs: Int, avgTurns: Int, zipf: Double): (Double, Long) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ opens ++ Seq("-Xmx24g", "-cp", System.getProperty("java.class.path"),
      "graft.ScalingBench", "--child", executors.toString, numConvs.toString,
      avgTurns.toString, zipf.toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_HOME", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val proc = pb.start()
    // keep a tail of child output: a child that dies (OOM, missing
    // SPARK_HOME, startup failure) must fail THIS run with its actual
    // error, not an opaque parse failure after hours of reps
    var result: Option[String] = None
    val tail = new scala.collection.mutable.ArrayDeque[String]()
    scala.io.Source.fromInputStream(proc.getInputStream).getLines().foreach { l =>
      if (l.startsWith("SCALING_RESULT")) result = Some(l)
      else { tail.append(l); if (tail.size > 40) { tail.removeHead(); () } }
    }
    val code = proc.waitFor()
    result.map(_.split(" ")) match {
      case Some(Array(_, _, tps, events)) => (tps.toDouble, events.toLong)
      case _ => throw new IllegalStateException(
        s"scaling child (executors=$executors) exited code=$code without SCALING_RESULT; " +
          s"last output:\n${tail.mkString("\n")}")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--child")) {
      val Array(_, x, c, t, z) = args
      val (tps, events) = runLevel(x.toInt, c.toInt, t.toInt, z.toDouble)
      println(f"SCALING_RESULT $x $tps%.1f $events")
      return
    }
    val numConvs = args.lift(0).map(_.toInt).getOrElse(20000)
    val avgTurns = args.lift(1).map(_.toInt).getOrElse(20)
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    // default 0.5: realistic sub-linear skew. At zipf > 1 the HOTTEST key is
    // a constant fraction of the whole corpus (~14% at z=1.1) — keyed CEP /
    // sessionization on one conversation is inherently serial, so the DATA
    // imposes an Amdahl ceiling (BENCH/SKEW.md) that no engine escapes.
    val zipf = args.lift(3).map(_.toDouble).getOrElse(0.5)

    val runs = Levels.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    var nEvents = 0L
    for (r <- 1 to reps; x <- Levels) {
      val (tps, n) = spawn(x, numConvs, avgTurns, zipf)
      nEvents = n
      runs(x) += tps
      println(f"[scaling] rep=$r executors=$x tps=$tps%.0f")
    }
    val Seq(l0, l1, l2) = Levels
    val med = Levels.map(x => x -> median(runs(x).toSeq)).toMap
    val eff = (med(l1) / med(l0)) / 4.0
    val eff16 = (med(l2) / med(l1)) / 4.0

    val cores = Levels.map(_ * CoresPerExecutor)
    println("[scaling] running ALU control…")
    val alu = cores.map(c => c -> lcgBurn(c)).toMap
    println("[scaling] running memory-bandwidth control…")
    val mem = cores.map(c => c -> memBurn(c)).toMap
    def ctrlEff(m: Map[Int, Double], i: Int): Double = (m(cores(i)) / m(cores(i - 1))) / 4.0

    def lbl(x: Int): String = s"$x×(2-core executor JVM)"
    def spread(x: Int): String = {
      val s = runs(x).toSeq.sorted
      f"${s.head}%,.0f–${s.last}%,.0f"
    }
    def ctrlRows(m: Map[Int, Double]): String = cores.zipWithIndex.map { case (c, i) =>
      f"| $c | ${m(c)}%.3e | ${if (i == 0) "—" else f"${ctrlEff(m, i)}%.3f"} |"
    }.mkString("\n")
    val verdictLine =
      if (eff >= 0.8)
        f"**N → 4N criterion (${lbl(l0)} → ${lbl(l1)}): median efficiency $eff%.3f ≥ 0.8 — met.**"
      else
        f"**N → 4N criterion (${lbl(l0)} → ${lbl(l1)}): median efficiency $eff%.3f — " +
          f"below 0.8 on this one-box sandbox. Same-session controls at the same core " +
          f"counts: ALU ${ctrlEff(alu, 1)}%.3f, streamed memory ${ctrlEff(mem, 1)}%.3f; " +
          f"see BENCH/EXECUTORS.md and BENCH/SKEW.md.**"

    val report =
      f"""# BENCH — measured results
         |
         |## End-to-end throughput scaling (north-rule criterion)
         |
         |Same job — snapshot+incremental CDC replay through the exactly-once sink
         |PLUS the full engine pass (CEP state machines, session/tumbling windows,
         |tool-call stream join, LWW materialization) — on byte-identical input
         |and batch boundaries (seed=42, zipf=$zipf, $numConvs%,d conversations,
         |$nEvents%,d change events incl. snapshot reads). Protocol: $reps
         |repetitions per level, fully interleaved (1,4,16, 1,4,16, …), fresh
         |driver JVM per run, medians reported.
         |
         || level | median events/s (envelope; ≈1.31×turns) | spread (min–max) | median efficiency vs N/4 |
         ||---|---|---|---|
         || ${lbl(l0)} (N) | ${med(l0)}%,.0f | ${spread(l0)} | — |
         || ${lbl(l1)} (4N) | ${med(l1)}%,.0f | ${spread(l1)} | **$eff%.3f** |
         || ${lbl(l2)} (16N) | ${med(l2)}%,.0f | ${spread(l2)} | $eff16%.3f (vs 4N) |
         |
         |$verdictLine
         |
         |### Control experiments on the same core counts, same process
         |
         |1. Raw ALU (pure-register LCG burn, zero memory traffic):
         |
         || threads | iters/s | efficiency vs N/4 |
         ||---|---|---|
         |${ctrlRows(alu)}
         |
         |2. Streamed memory (each thread sum-scans a private 64 MB array):
         |
         || threads | bytes/s | efficiency vs N/4 |
         ||---|---|---|
         |${ctrlRows(mem)}
         |
         |Measured ${java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)}.
         |""".stripMargin
    val dir = java.nio.file.Paths.get("BENCH")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("BASELINE.md"), report)
    println(report)
    println(f"""{"scaling_efficiency":$eff%.3f,"mode":"executors","tpsN":${med(l0)}%.0f,"tps4N":${med(l1)}%.0f,"tps16N":${med(l2)}%.0f,"eff_4_16":$eff16%.3f,"reps":$reps,"zipf":$zipf,"alu_eff":${ctrlEff(alu, 1)}%.3f,"alu_eff_16":${ctrlEff(alu, 2)}%.3f,"mem_eff":${ctrlEff(mem, 1)}%.3f,"mem_eff_16":${ctrlEff(mem, 2)}%.3f}""")
  }
}
