package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings this engine assumes everywhere:
  * UTC, AQE on (skew-join handling at scale), shuffle partitions sized to
  * the core count (not the 200 default, which is wrong for local mode and
  * would be tuned per-cluster in production).
  */
object GraftSession {

  /** Multi-executor local cluster: `numExecutors` SEPARATE executor JVMs
    * (own heap, own GC) × `coresPerExecutor` — the faithful emulation of an
    * N-executor Spark deployment on one box (local[k] shares one JVM and
    * one garbage collector across all "executors"). Requires SPARK_HOME
    * (worker processes launch from the distribution) — /opt/spark here.
    */
  def cluster(numExecutors: Int, coresPerExecutor: Int, memMb: Int,
      appName: String = "graft"): SparkSession = {
    val appCp = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
    ready(engineDefaults(SparkSession.builder(), numExecutors * coresPerExecutor)
      .master(s"local-cluster[$numExecutors,$coresPerExecutor,$memMb]")
      .appName(appName)
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.executor.extraClassPath", appCp)
      .getOrCreate())
  }

  def local(cores: Int, appName: String = "graft"): SparkSession =
    ready(engineDefaults(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName(appName)
      .getOrCreate())

  /** The settings both factories share, the state store and join state
    * format included: a cluster run must exercise the layout local runs use.
    */
  private def engineDefaults(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // stream-stream join state in ONE RocksDB store per shuffle partition
      // (virtual column families; requires the RocksDB provider above), not
      // the v2 default's four (keyToNumValues + keyWithIndexToValue per
      // side), so a join batch commits as many stores as a CEP or session
      // operator. Spark records the format in each checkpoint's offset log:
      // a join query started under v2 resumes on v2, only new queries take
      // v3 (EventTimeSpec pins both). perfbench stateful_cep, 4 cores:
      // traced, pipeline.tool_join_s 4.49 -> 3.08 s and state.commit_s
      // 11.9 -> 6.9 s per pass; untraced, batch_p90_ms median 1,626 ->
      // 1,205 ms over 20 interleaved pairs (18 won).
      .config("spark.sql.streaming.join.stateFormatVersion", "3")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let the planner choose shuffled-hash join when its size conditions
      // are met (guide §3.1/§9): skips the per-partition sorts of
      // sort-merge; parallelism-independent (a per-partition strategy, with
      // the planner's build-side size guard + AQE). A/B at sf0.1 (min-of-4,
      // same window): q11 1.38→1.34, q22 2.31→2.25, q60 1.67→1.56.
      // The cost: a shuffled-hash build side is an in-memory hash map that
      // cannot spill, so a partition whose size the planner or AQE's
      // coalescing underestimates can run out of memory where sort-merge
      // would have spilled to disk.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  private def ready(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate may return a pre-existing session built without the
    // extensions config — the imperative path is idempotent either way
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark
  }
}
