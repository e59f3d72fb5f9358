package graftbench

import graft.GraftSession

/** One benchmark workload. The harness times `prepare` several times and
  * `warmUp` once as set-up, then calls `measure` for the timed window and
  * `verify` on what the window produced.
  */
trait Workload {
  /** Build the inputs from the seed (repeatable: each call starts over). */
  def prepare(): Unit
  /** Everything else before the timed window, once. */
  def warmUp(): Unit
  /** Run for `seconds`, filling the end-to-end (and, traced, per-layer) metrics. */
  def measure(seconds: Int): Unit
  /** Check the window's final outputs against the oracle. */
  def verify(): Unit
}

/** Benchmark JVM entry point. Prints one `GRAFTBENCH_RESULT {json}` line;
  * perfbench/run.py turns it into the benchmark's result line.
  *
  *   --workload cdc|stateful_cep --seed N --seconds S
  *   --trace 0|1 --work DIR [--scale F] [--corrupt-expected 0|1]
  */
object Harness {
  /** Preparations of an untimed run; a traced run prepares once and takes
    * its set-up layers from the untimed run of the same seed, which keeps
    * the pair inside a run's time budget. */
  val PrepareReps = 3

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val canaryBefore = Canary.measure()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors, "graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, args)
    val wl: Workload = args.workload match {
      case "cdc" => new Cdc(ctx)
      case "stateful_cep" => new StatefulCep(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // (result, seconds) of one set-up or run phase, logged to the JVM log
    def timed[T](phase: String)(body: => T): (T, Double) = {
      val t = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t) / 1e9
      System.err.println(f"[graftbench] $phase%-10s $s%8.3f s")
      (r, s)
    }
    System.err.println(f"[graftbench] session    $sessionS%8.3f s")
    val prepS = (1 to (if (args.trace) 1 else PrepareReps)).map(_ => timed("prepare")(wl.prepare())._2)
    val warmS = timed("warm-up")(wl.warmUp())._2
    ctx.out.e2e("setup_s", sessionS + Stats.median(prepS) + warmS, "s")

    val gc0 = ctx.gcSeconds
    timed("measure")(wl.measure(args.seconds))
    val gcS = ctx.gcSeconds - gc0
    timed("verify")(wl.verify())
    // the job list goes to the JVM log, for reading a slow traced run
    ctx.probe.foreach(_.finished(spark.sparkContext).foreach(j =>
      System.err.println(f"[graftbench] job ${j.id}%5d ${j.wallS}%8.3f s ${j.span}%-24s ${j.site}")))
    ctx.out.e2e("peak_rss_mb", peakRssMb, "MB")
    ctx.out.canary = Seq("canary_before" -> canaryBefore, "canary_after" -> Canary.measure())
    wl match {
      case cdc: Cdc if args.trace =>
        ctx.out.layer("scaling.efficiency_1_to_n", timed("scaling")(cdc.scalingEfficiency())._1, "ratio")
      case _ =>
    }
    ctx.out.layer("setup.session_s", sessionS, "s")
    ctx.out.layer("setup.prepare_s", Stats.median(prepS), "s")
    ctx.out.layer("setup.warmup_s", warmS, "s")
    if (args.trace) ctx.out.layer("jvm.gc_s", gcS, "s")
    println("GRAFTBENCH_RESULT " + ctx.out.json)
    if (!spark.sparkContext.isStopped) spark.stop()
    System.exit(0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Box-load canary: the ALU and memory-bandwidth burns of
  * graft.ScalingBench, three short bursts each (median; the first also pays
  * the JIT), as a JSON object. The memory burn uses one thread (64 MB), so it
  * barely moves the JVM's resident set.
  */
object Canary {
  def measure(): String = {
    def median3(f: => Double) = Seq.fill(3)(f).sorted.apply(1)
    val alu = median3(graft.ScalingBench.lcgBurn(Runtime.getRuntime.availableProcessors, iters = 50000000L))
    val mem = median3(graft.ScalingBench.memBurn(1, passes = 8))
    f"""{"alu_giters_per_s":${alu / 1e9}%.4f,"mem_gb_per_s":${mem / 1e9}%.4f}"""
  }
}
