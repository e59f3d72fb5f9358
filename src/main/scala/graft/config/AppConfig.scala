package graft.config

/** Environment-mode configuration (≙ reference config/AppConfig.scala:16-84:
  * priority CLI args > system properties > environment defaults, with ${VAR}
  * substitution and per-env validation — reference
  * validation/EnvironmentValidator.scala:27-79).
  *
  * The reference's env ladder (local/dev/staging/prod — main.scala:241-338)
  * maps to parallelism + checkpoint-interval + trigger defaults here.
  */
final case class AppConfig(
    env: String = "local",
    mode: String = "available",
    parallelism: Int = Runtime.getRuntime.availableProcessors(),
    checkpointIntervalSec: Int = 30,
    maxFilesPerTrigger: Int = 48,
    tableDir: String = "",
    workDir: String = "",
    sessionGap: String = "30 minutes",
    joinHorizon: String = "10 minutes",
    watermark: String = "30 seconds",
    exportFormat: String = "parquet",
    exportCompression: String = "none",
    latencyAlertMs: Long = 10000L,
    tables: Seq[String] = Nil,
    restartAttempts: Int = 3,
    restartDelayMs: Long = 10000L,
    /** Sink file rolling: max records per committed parquet file (0 =
      * no cap). ≙ reference rolling policy by size/interval
      * (sink/S3Sink.scala:116-120,262-293) — recast as Spark's native
      * per-file record cap; the reference's "128MB"/"5min" string forms
      * parse through `rollingFileSize`/`rollingInterval` below.
      */
    sinkMaxRecordsPerFile: Long = 0L,
    rollingFileSize: String = "128MB",
    rollingInterval: String = "5min",
    /** Run sink log compaction every N committed batches (0 = never).
      * Bounds manifest/file growth on a continuous deployment — the
      * Iceberg rewrite+expire cadence, at the trigger boundary.
      *
      * Minimum-safe cadence: physical deletion of retired artifacts is
      * deferred exactly ONE epoch (ExactlyOnceSink.compact), so an
      * external reader's dir list stays valid for one full compaction
      * cycle = compactEveryBatches × trigger interval. Set the cadence so
      * that product comfortably exceeds the longest concurrent external
      * scan (e.g. an export job); a tiny compactEvery under a fast trigger
      * shrinks the grace window toward zero.
      */
    compactEveryBatches: Long = 0L
) {
  def rollingFileSizeBytes: Long = graft.sink.Export.parseSizeBytes(rollingFileSize)
  def rollingIntervalMs: Long = graft.sink.Export.parseTimeToMillis(rollingInterval)

  /** Probe the storage paths before starting the job (≙ reference
    * validation/EnvironmentValidator.scala:133-162, which checks cloud
    * paths/credentials up front): tableDir must exist, workDir must be
    * creatable AND writable (probe file create + delete). URI-scheme
    * agnostic — the same probe works for file://, hdfs://, s3a://.
    */
  def validateEnvironment(
      hadoopConf: org.apache.hadoop.conf.Configuration): Either[String, Unit] = {
    // each probe owns its error attribution — a malformed tableDir URI must
    // not be reported as a workDir failure
    def probe(label: String, dir: String)(body: => Either[String, Unit]): Either[String, Unit] =
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          Left(s"environment validation failed for $label '$dir': ${e.getMessage}")
      }
    val tableOk = probe("tableDir", tableDir) {
      if (tableDir.isEmpty) Right(())
      else {
        val p = new org.apache.hadoop.fs.Path(tableDir)
        if (p.getFileSystem(hadoopConf).exists(p)) Right(())
        else Left(s"tableDir does not exist: $tableDir")
      }
    }
    tableOk.flatMap { _ =>
      probe("workDir", workDir) {
        if (workDir.isEmpty) Right(())
        else {
          val p = new org.apache.hadoop.fs.Path(workDir)
          val fs = p.getFileSystem(hadoopConf)
          fs.mkdirs(p)
          val probePath = new org.apache.hadoop.fs.Path(
            p, s".probe-${java.util.UUID.randomUUID()}")
          val out = fs.create(probePath, true)
          out.write(1); out.close()
          fs.delete(probePath, false)
          Right(())
        }
      }
    }
  }
  /** ≙ reference AppConfig.validateConfiguration (AppConfig.scala:259-273)
    * + the format/compression whitelist of
    * validation/EnvironmentValidator.scala:110-119.
    */
  def validate(): Either[String, AppConfig] = {
    if (!AppConfig.Envs.contains(env)) Left(s"unknown env '$env' (${AppConfig.Envs.mkString("/")})")
    else if (!AppConfig.Modes.contains(mode))
      Left(s"unknown mode '$mode' (${AppConfig.Modes.mkString("/")})")
    else if (parallelism < 1) Left("parallelism must be >= 1")
    else if (checkpointIntervalSec < 1) Left("checkpoint interval must be >= 1s")
    else if (maxFilesPerTrigger < 1) Left("maxFilesPerTrigger must be >= 1")
    else if (!graft.sink.Export.Formats.contains(exportFormat))
      Left(s"unsupported output format '$exportFormat' " +
        s"(one of ${graft.sink.Export.Formats.mkString("/")})")
    else if (!graft.sink.Export.Compressions.contains(exportCompression))
      Left(s"unsupported compression '$exportCompression' " +
        s"(one of ${graft.sink.Export.Compressions.mkString("/")})")
    else if (latencyAlertMs < 1)
      Left(s"latencyAlertMs must be >= 1 (got $latencyAlertMs)")
    else if (rollingIntervalMs > 0 && rollingIntervalMs < 1000)
      // 0 = time-based rolling disabled; a sub-second interval would drive
      // a sub-second continuous trigger (WAL/manifest churn, near-zero
      // compaction grace) and is never what a rolling policy means
      Left(s"rollingInterval must be >= 1s or 0/unset to disable (got ${rollingIntervalMs}ms)")
    else if (rollingFileSizeBytes > 0 && rollingFileSizeBytes < 64 * 1024)
      // a byte target below the parquet footer+dictionary floor cannot be
      // met by ANY record cap — files would degenerate toward 1 row each
      Left(s"rollingFileSize must be >= 64KB or 0/unset to disable (got ${rollingFileSizeBytes}B)")
    else Right(this)
  }
}

object AppConfig {

  val Envs = Set("local", "dev", "staging", "prod")

  /** `available` = drain currently-available input and stop
    * (Trigger.AvailableNow — the bounded-replay mode every test and bench
    * uses); `continuous` = the reference's actual deployment mode: periodic
    * micro-batches every `checkpointIntervalSec` seconds
    * (Trigger.ProcessingTime ≙ reference env-specific checkpoint interval,
    * main.scala:251,271,291,315).
    */
  val Modes = Set("available", "continuous")

  /** Per-env defaults (≙ reference main.scala:247,267,287,311 parallelism
    * 1/1/2/2, checkpoint 30/45/60/60 s, and fixed-delay restart strategy
    * 3×10s/3×15s/4×20s/5×30s — recast for this runtime).
    */
  private val envDefaults = Map(
    "local" -> (8, 30, 3, 10000L),
    "dev" -> (8, 45, 3, 15000L),
    "staging" -> (16, 60, 4, 20000L),
    "prod" -> (32, 60, 5, 30000L)
  )

  /** ${VAR} substitution from the environment (≙ AppConfig.scala:103-109). */
  def substitute(v: String, getenv: String => Option[String] = sys.env.get): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r.replaceAllIn(v, m =>
      scala.util.matching.Regex.quoteReplacement(getenv(m.group(1)).getOrElse("")))

  /** Parse a simple `key=value` properties file (missing file → empty). */
  def loadPropsFile(path: java.nio.file.Path): Map[String, String] = {
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(path)
      try p.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      p.asScala.toMap
    }
  }

  /** Load with the reference's priority (AppConfig.scala:36-84): defaults <
    * env-mode < application.properties < {env}.properties < system
    * properties < CLI `key=value` args. The file layer is enabled by a
    * `configDir` key (CLI or sysprop); ${VAR} substitution applies to every
    * layer.
    */
  def load(args: Seq[String], props: Map[String, String] = sys.props.toMap,
      getenv: String => Option[String] = sys.env.get): Either[String, AppConfig] = {
    val cli = args.filter(_.contains("=")).map { a =>
      val Array(k, v) = a.split("=", 2); k -> substitute(v, getenv)
    }.toMap
    def raw(k: String): Option[String] = cli.get(k).orElse(props.get(s"graft.$k"))
    // env is resolved AFTER reading application.properties, so a
    // file-declared env loads its own {env}.properties layer (ADVICE r2:
    // resolving from CLI/sysprops only skipped that layer).
    val fileLayer: Map[String, String] = raw("configDir") match {
      case Some(dir) if dir.nonEmpty =>
        val base = loadPropsFile(java.nio.file.Paths.get(dir, "application.properties"))
        // substitute BEFORE choosing the {env}.properties layer: a
        // file-declared env of "${DEPLOY_ENV}" must load prod.properties,
        // not a literal "${DEPLOY_ENV}.properties"
        val envEff = raw("env").orElse(base.get("env").map(substitute(_, getenv)))
          .getOrElse("local")
        val perEnv = loadPropsFile(java.nio.file.Paths.get(dir, s"$envEff.properties"))
        (base ++ perEnv).map { case (k, v) => k -> substitute(v, getenv) }
      case _ => Map.empty
    }
    def get(k: String): Option[String] =
      cli.get(k).orElse(props.get(s"graft.$k")).orElse(fileLayer.get(k))
    val env = get("env").getOrElse("local")
    val (defPar, defCk, defRestarts, defDelay) =
      envDefaults.getOrElse(env, (8, 30, 3, 10000L))
    val cfg = AppConfig(
      env = env,
      mode = get("mode").getOrElse("available"),
      parallelism = get("parallelism").map(_.toInt).getOrElse(defPar),
      checkpointIntervalSec = get("checkpointIntervalSec").map(_.toInt).getOrElse(defCk),
      maxFilesPerTrigger = get("maxFilesPerTrigger").map(_.toInt).getOrElse(48),
      tableDir = get("tableDir").getOrElse(""),
      workDir = get("workDir").getOrElse(""),
      sessionGap = get("sessionGap").getOrElse("30 minutes"),
      joinHorizon = get("joinHorizon").getOrElse("10 minutes"),
      watermark = get("watermark").getOrElse("30 seconds"),
      exportFormat = get("exportFormat").getOrElse("parquet"),
      exportCompression = get("exportCompression").getOrElse("none"),
      latencyAlertMs = get("latencyAlertMs").map(_.toLong).getOrElse(10000L),
      tables = get("tables").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      restartAttempts = get("restartAttempts").map(_.toInt).getOrElse(defRestarts),
      restartDelayMs = get("restartDelayMs").map(_.toLong).getOrElse(defDelay),
      sinkMaxRecordsPerFile = get("sinkMaxRecordsPerFile").map(_.toLong).getOrElse(0L),
      rollingFileSize = get("rollingFileSize").getOrElse("128MB"),
      rollingInterval = get("rollingInterval").getOrElse("5min"),
      compactEveryBatches = get("compactEveryBatches").map(_.toLong).getOrElse(0L)
    )
    cfg.validate()
  }
}
