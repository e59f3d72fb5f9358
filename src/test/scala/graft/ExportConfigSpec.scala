package graft

import org.apache.spark.sql.functions._

import graft.config.AppConfig
import graft.pipeline.CdcPipeline
import graft.sink.{ExactlyOnceSink, Export}
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** Export formats (JSONL / Avro / DLQ — reference K1/K2 recast) and the
  * env-mode config loader (reference AppConfig priority order).
  */
class ExportConfigSpec extends SparkSpec {

  private lazy val workDir: String = {
    val tableDir = tmpDir("etable")
    val streamDir = tmpDir("estream")
    val w = tmpDir("ework")
    TranscriptGen.writeTable(spark,
      GenConfig(numConvs = 30, avgTurns = 8, malformedFrac = 0.05,
        schemaChangeFrac = 0.05), tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, s"$w/out", s"$w/ck")
    w
  }

  test("JSONL export round-trips the committed data events") {
    val dest = tmpDir("ejson")
    Export.jsonl(spark, s"$workDir/out", dest)
    val back = spark.read.json(dest)
    val want = new ExactlyOnceSink(spark, s"$workDir/out").readCommitted("events").get
    assert(back.count() == want.count())
    // per-row payload equality on the after-image text
    assert(back.where(col("after").isNotNull).count() ==
      want.where(col("after").isNotNull).count())
  }

  test("Avro export writes reference-shaped flat records readable by avro-core") {
    val dest = tmpDir("eavro")
    Export.avro(spark, s"$workDir/out", dest)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dest/part-*.avro"))
    assert(files.nonEmpty)
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new java.io.File(files(0).getPath.toUri.getPath),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    var n = 0
    var sawOp = false
    while (reader.hasNext) {
      val rec = reader.next()
      n += 1
      if (Seq("c", "u", "d", "r").contains(rec.get("operation").toString)) sawOp = true
    }
    reader.close()
    assert(n > 0 && sawOp)
  }

  test("DLQ export carries the malformed events in the wrapper shape") {
    val dest = tmpDir("edlq")
    Export.dlq(spark, s"$workDir/out", dest)
    val dlq = spark.read.json(dest)
    val nErr = new ExactlyOnceSink(spark, s"$workDir/out").readCommitted("errors").get.count()
    assert(nErr > 0 && dlq.count() == nErr)
    assert(dlq.columns.contains("error_type") && dlq.columns.contains("original_record"))
  }

  test("config: priority order, env defaults, substitution, validation") {
    val c = AppConfig.load(Seq("env=prod", "tableDir=/x")).toOption.get
    assert(c.parallelism == 32 && c.checkpointIntervalSec == 60 && c.tableDir == "/x")
    val d = AppConfig.load(Seq("env=prod", "parallelism=4")).toOption.get
    assert(d.parallelism == 4) // CLI beats env default
    assert(AppConfig.load(Seq("env=nope")).isLeft)
    assert(AppConfig.load(Seq("parallelism=0")).isLeft)
    assert(AppConfig.load(Seq("latencyAlertMs=0")).isLeft)
    assert(AppConfig.substitute("pre-${HOME}-post", s => Some("/root").filter(_ => s == "HOME"))
      == "pre-/root-post")
  }

  test("config: properties-file layer sits under sysprops/CLI, {env} beats application") {
    val dir = tmpDir("cfg")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "application.properties"),
      "parallelism=5\nmaxFilesPerTrigger=12\nworkDir=${HOME}/w\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "prod.properties"),
      "parallelism=7\n")
    val getenv: String => Option[String] = s => Some("/home/x").filter(_ => s == "HOME")
    // {env}.properties overrides application.properties
    val c = AppConfig.load(Seq("env=prod", s"configDir=$dir"), Map.empty, getenv).toOption.get
    assert(c.parallelism == 7 && c.maxFilesPerTrigger == 12)
    // ${VAR} substitution applies inside files
    assert(c.workDir == "/home/x/w")
    // CLI beats the file layer
    val d = AppConfig.load(Seq("env=prod", s"configDir=$dir", "parallelism=3"),
      Map.empty, getenv).toOption.get
    assert(d.parallelism == 3)
    // sysprops beat the file layer
    val e = AppConfig.load(Seq("env=prod", s"configDir=$dir"),
      Map("graft.parallelism" -> "9"), getenv).toOption.get
    assert(e.parallelism == 9)
  }

  test("config/export: format and compression whitelists reject bad values") {
    intercept[IllegalArgumentException](Export.validateFormat("json", "zip"))
    intercept[IllegalArgumentException](Export.validateFormat("avro", "lz4"))
    intercept[IllegalArgumentException](
      Export.jsonl(spark, s"$workDir/out", tmpDir("nope"), compression = "zip"))
  }

  test("compressed exports round-trip: gzip JSONL, snappy Avro") {
    val jdest = tmpDir("ejsongz")
    Export.jsonl(spark, s"$workDir/out", jdest, compression = "gzip")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$jdest/*/*.gz")).nonEmpty)
    val want = new ExactlyOnceSink(spark, s"$workDir/out").readCommitted("events").get.count()
    assert(spark.read.json(jdest).count() == want)

    val adest = tmpDir("eavrosnappy")
    Export.avro(spark, s"$workDir/out", adest, compression = "snappy")
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(s"$adest/part-*.avro"))
    assert(files.nonEmpty)
    var n = 0L
    files.foreach { f =>
      val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        new java.io.File(f.getPath.toUri.getPath),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      assert(reader.getMetaString("avro.codec") == "snappy")
      while (reader.hasNext) { reader.next(); n += 1 }
      reader.close()
    }
    assert(n == want)
  }

  test("avro export re-run overwrites instead of appending (task-retry-safe naming)") {
    val dest = tmpDir("eavro2")
    Export.avro(spark, s"$workDir/out", dest)
    val count1 = spark.read.format("binaryFile").load(s"$dest/part-*.avro").count()
    Export.avro(spark, s"$workDir/out", dest) // re-run: same part names, republished
    assert(spark.read.format("binaryFile").load(s"$dest/part-*.avro").count() == count1)
  }

  test("avro publish retires stale fallback sidecars and heals parked .old files") {
    val dest = tmpDir("eavro3")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def put(name: String, body: String): Unit = {
      val o = fs.create(new org.apache.hadoop.fs.Path(s"$dest/$name"), true)
      o.write(body.getBytes("UTF-8")); o.close()
    }
    // a previous run's encode-failure sidecar, and a crash that parked the
    // old container under .old without landing its replacement
    put("part-00000.fallback.jsonl", """{"stale":true}""")
    put("part-99999.avro.old", "parked")
    Export.avro(spark, s"$workDir/out", dest)
    // clean re-run has no fallback → the stale sidecar must be gone (its
    // raw-JSON rows would double the records in the republished avro)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest/part-00000.fallback.jsonl")))
    // the parked file was restored, then swept as a no-longer-present part
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest/part-99999.avro.old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest/part-99999.avro")))
    // and no .old residue remains after a successful publish
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$dest/part-*.old")).isEmpty)
  }

  test("schema-change export carries the schema route in the wrapper shape") {
    val dest = tmpDir("eschema")
    Export.schemaChanges(spark, s"$workDir/out", dest)
    val sc = spark.read.json(dest)
    val nSc = new ExactlyOnceSink(spark, s"$workDir/out")
      .readCommitted("schema_changes").get.count()
    assert(nSc > 0 && sc.count() == nSc)
    assert(sc.columns.contains("change_type") && sc.columns.contains("details"))
    assert(sc.where(col("change_type") === "schema_change").count() == nSc)
  }

  test("size/duration parsers mirror the reference's forms and defaults") {
    assert(Export.parseTimeToMillis("5min") == 300000L)
    assert(Export.parseTimeToMillis("30 sec") == 30000L)
    assert(Export.parseTimeToMillis("250ms") == 250L)
    assert(Export.parseTimeToMillis("whenever") == 300000L) // reference default
    assert(Export.parseSizeBytes("128MB") == (128L << 20))
    assert(Export.parseSizeBytes("2GB") == (2L << 30))
    assert(Export.parseSizeBytes("64 KB") == (64L << 10))
    assert(Export.parseSizeBytes("lots") == (128L << 20)) // reference default
    // bare "0" disables a policy — defaulting it to 5min/128MB would
    // silently re-enable what the user turned off
    assert(Export.parseTimeToMillis("0") == 0L && Export.parseSizeBytes("0") == 0L)
    val c = AppConfig.load(Seq("rollingFileSize=256MB", "rollingInterval=2min")).toOption.get
    assert(c.rollingFileSizeBytes == (256L << 20) && c.rollingIntervalMs == 120000L)
    // a byte target below the parquet per-file floor is a config error —
    // no record cap can meet it (files degenerate toward 1 row each)
    assert(AppConfig.load(Seq("rollingFileSize=4KB")).isLeft)
    assert(AppConfig.load(Seq("rollingFileSize=0")).toOption.isDefined, "0 disables")
  }

  test("avro encode failure falls back to raw JSON per record, container stays valid") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("table_name", StringType), StructField("operation", StringType),
      StructField("timestamp", LongType), StructField("before", StringType),
      StructField("after", StringType), StructField("source", StringType),
      StructField("processing_time", LongType), StructField("pipeline_version", StringType),
      StructField("data_quality_score", DoubleType), StructField("_raw_json", StringType)))
    def row(op: String): org.apache.spark.sql.Row = org.apache.spark.sql.Row(
      "t", op, 1L, null, "{}", "{}", 2L, "1.0.0", 0.5,
      s"""{"table_name":"t","operation":${if (op == null) "null" else "\"" + op + "\""}}""")
    // through createDataFrame so rows carry their schema (getAs-by-name)
    val withSchema = spark.createDataFrame(
      java.util.Arrays.asList(row("c"), row(null), row("u")), schema)
      .collect().sortBy(r => Option(r.getString(1)).getOrElse("")) // "", c, u
    val rows = Iterator(withSchema(1), withSchema(0), withSchema(2)) // c, null, u
    val dir = tmpDir("avrofb")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val avroPath = new org.apache.hadoop.fs.Path(s"$dir/part-00000.avro")
    val fbPath = new org.apache.hadoop.fs.Path(s"$dir/part-00000.fallback.jsonl")
    val (ok, fb) = Export.writeAvroPart(rows, Export.avroSchemaJson, fs, avroPath, fbPath, "none")
    assert(ok == 2 && fb == 1)
    // the avro container holds exactly the two good records
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new java.io.File(avroPath.toUri.getPath),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val ops = Iterator.continually(reader).takeWhile(_.hasNext).map(_.next().get("operation").toString).toList
    reader.close()
    assert(ops == List("c", "u"))
    // the poisoned record's raw JSON landed in the sidecar
    val fbLines = scala.io.Source.fromFile(fbPath.toUri.getPath).getLines().toList
    assert(fbLines.size == 1 && fbLines.head.contains("\"operation\":null"))
  }

  test("sink maxRecordsPerFile rolls committed files at the cap") {
    val tableDir = tmpDir("rolltable")
    val streamDir = tmpDir("rollstream")
    val out = tmpDir("rollout")
    TranscriptGen.writeTable(spark, GenConfig(numConvs = 40, avgTurns = 8), tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir)
    val q = CdcPipeline.start(spark, streamDir, out, tmpDir("rollck"),
      maxFilesPerTrigger = 1000, maxRecordsPerFile = 25L)
    q.awaitTermination()
    val ev = new ExactlyOnceSink(spark, out).readCommitted("events").get
    val perFile = ev.groupBy(input_file_name()).count()
    assert(perFile.agg(max("count")).first().getLong(0) <= 25L,
      "no committed file may exceed the record cap")
    assert(ev.count() > 25L, "fixture must be large enough to roll")
  }

  test("sink rollingFileSize caps committed file bytes end-to-end") {
    val tableDir = tmpDir("bytetable")
    val streamDir = tmpDir("bytestream")
    val out = tmpDir("byteout")
    TranscriptGen.writeTable(spark, GenConfig(numConvs = 40, avgTurns = 8), tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir)
    val byteCap = 16384L // 16 KB — far below one batch's volume
    val q = CdcPipeline.start(spark, streamDir, out, tmpDir("byteck"),
      maxFilesPerTrigger = 4, rollingFileSizeBytes = byteCap)
    q.awaitTermination()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(new org.apache.hadoop.fs.Path(s"$out/events"), true)
    var n = 0
    var maxLen = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; maxLen = math.max(maxLen, f.getLen) }
    }
    // the record cap is derived from measured bytes/row (bootstrap estimate
    // on batch 1) — enforce the byte target with a 2× slack for parquet
    // footer granularity and the coarseness of a per-file record count
    assert(maxLen <= 2 * byteCap,
      s"committed file of $maxLen bytes exceeds the $byteCap-byte rolling target")
    // and rolling must actually have split output (not one file per bucket)
    val sink = new ExactlyOnceSink(spark, out)
    assert(n > sink.committedBatchIds.size, "size policy must roll files within batches")
    // rolling must not drop or duplicate anything: every input event lands
    // in exactly one committed route
    val committed = Seq("events", "errors", "schema_changes")
      .flatMap(s => sink.readCommitted(s).map(_.count())).sum
    assert(committed == ChangeStreamReader.batch(spark, streamDir).count(),
      "rolled output must carry every input event exactly once")
  }

  test("config: rollingInterval caps the continuous trigger period (time-based rolling)") {
    import org.apache.spark.sql.streaming.Trigger
    // rollingInterval below the env checkpoint interval wins (files must
    // close at least every rollingInterval)...
    val c = AppConfig.load(Seq("env=prod", "mode=continuous", "rollingInterval=2sec")).toOption.get
    assert(CdcPipeline.triggerFor(c) == Trigger.ProcessingTime(2000L))
    // ...and the default 5min rollingInterval does not stretch a 60s cadence
    val d = AppConfig.load(Seq("env=prod", "mode=continuous")).toOption.get
    assert(CdcPipeline.triggerFor(d) == Trigger.ProcessingTime(60000L))
    // 0 = time-based rolling DISABLED — must not collapse into a 1 ms
    // trigger (WAL churn, near-zero compaction grace)
    val e = AppConfig.load(Seq("env=prod", "mode=continuous", "rollingInterval=0sec")).toOption.get
    assert(CdcPipeline.triggerFor(e) == Trigger.ProcessingTime(60000L))
    // the bare "0" spelling the validation error suggests works too
    val e0 = AppConfig.load(Seq("env=prod", "mode=continuous", "rollingInterval=0")).toOption.get
    assert(CdcPipeline.triggerFor(e0) == Trigger.ProcessingTime(60000L))
    // sub-second intervals are config errors, not micro-triggers
    assert(AppConfig.load(Seq("rollingInterval=250ms")).isLeft)
  }

  test("savepoint: a rebase that matches nothing fails loudly (re-ingest hazard)") {
    // a rendering mismatch between the supposed old stream dir and the
    // checkpoint's recorded URIs must abort savepoint creation, not ship a
    // copy that silently re-ingests everything on resume
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    intercept[IllegalStateException] {
      pipeline.Savepoint.rebaseSourceLog(fs, s"$workDir/ck",
        "/definitely/not/the/stream/dir", "/tmp/elsewhere/stream")
    }
  }

  test("config: parallelism drives the session core count (forked pipeline run)") {
    // the knob can only be proven in a FRESH JVM (this suite's session is
    // already built); fork graft.Main pipeline with parallelism=3 and read
    // the session facts it prints
    val tableDir = tmpDir("partable")
    val workDir = tmpDir("parwork")
    TranscriptGen.writeTable(spark, GenConfig(numConvs = 10, avgTurns = 4, changeFiles = 1), tableDir)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.Main", "pipeline",
      s"tableDir=$tableDir", s"workDir=$workDir", "parallelism=3")
    val outBuf = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    var line = reader.readLine()
    while (line != null) { outBuf.append(line).append('\n'); line = reader.readLine() }
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "forked pipeline timed out")
    assert(proc.exitValue() == 0, s"forked pipeline failed:\n${outBuf.takeRight(4000)}")
    val outStr = outBuf.toString
    assert(outStr.contains("cores=3") && outStr.contains("master=local[3]"),
      s"parallelism=3 must build a 3-core session; got:\n${outStr.linesIterator.filter(_.contains("[pipeline]")).mkString("\n")}")
  }

  test("config: mode selects the trigger; continuous uses the env checkpoint interval") {
    import org.apache.spark.sql.streaming.Trigger
    val avail = AppConfig.load(Seq("env=prod")).toOption.get
    assert(avail.mode == "available" &&
      CdcPipeline.triggerFor(avail) == Trigger.AvailableNow())
    val cont = AppConfig.load(Seq("env=prod", "mode=continuous")).toOption.get
    assert(cont.checkpointIntervalSec == 60) // prod env default
    assert(CdcPipeline.triggerFor(cont) == Trigger.ProcessingTime(60000L))
    val cust = AppConfig.load(Seq("mode=continuous", "checkpointIntervalSec=5")).toOption.get
    assert(CdcPipeline.triggerFor(cust) == Trigger.ProcessingTime(5000L))
    assert(AppConfig.load(Seq("mode=sometimes")).isLeft)
  }

  test("config: env declared in application.properties loads its {env}.properties layer") {
    val dir = tmpDir("cfgenv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "application.properties"),
      "env=prod\nmaxFilesPerTrigger=12\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "prod.properties"),
      "parallelism=7\n")
    val c = AppConfig.load(Seq(s"configDir=$dir"), Map.empty, _ => None).toOption.get
    assert(c.env == "prod", "file-declared env must be effective")
    assert(c.parallelism == 7, "file-declared env must load its own {env}.properties")
    assert(c.restartAttempts == 5 && c.restartDelayMs == 30000L,
      "file-declared env must drive env defaults")
  }

  test("config: a ${VAR}-declared env substitutes before picking its {env}.properties") {
    val dir = tmpDir("cfgenvsub")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "application.properties"),
      "env=${DEPLOY_ENV}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "prod.properties"),
      "parallelism=9\n")
    val c = AppConfig.load(Seq(s"configDir=$dir"), Map.empty,
      v => Some("prod").filter(_ => v == "DEPLOY_ENV")).toOption.get
    assert(c.env == "prod")
    assert(c.parallelism == 9,
      "substituted env must load prod.properties, not '${DEPLOY_ENV}.properties'")
  }

  test("environment validation probes tableDir existence and workDir writability") {
    val t = tmpDir("envok")
    val cfgOk = AppConfig.load(Seq(s"tableDir=$t", s"workDir=$t/w")).toOption.get
    assert(cfgOk.validateEnvironment(spark.sparkContext.hadoopConfiguration).isRight)
    val cfgBad = AppConfig.load(Seq(s"tableDir=$t/definitely-missing")).toOption.get
    assert(cfgBad.validateEnvironment(spark.sparkContext.hadoopConfiguration).isLeft)
  }

  test("continuous trigger commits multiple periodic micro-batches") {
    val tableDir = tmpDir("conttable")
    val streamDir = tmpDir("contstream")
    val out = tmpDir("contout")
    TranscriptGen.writeTable(spark, GenConfig(numConvs = 30, avgTurns = 6, changeFiles = 2), tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir, numFiles = 8)
    val sink = new ExactlyOnceSink(spark, out)
    val q = CdcPipeline.start(spark, streamDir, out, tmpDir("contck"),
      maxFilesPerTrigger = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(300L))
    try {
      val deadline = System.currentTimeMillis() + 120000L
      while (sink.committedBatchIds.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      assert(sink.committedBatchIds.size >= 2,
        "periodic trigger must commit multiple micro-batches")
    } finally q.stop()
  }

  test("continuous trigger + periodic compaction: epoch lands mid-stream, state exact") {
    val tableDir = tmpDir("cctable")
    val streamDir = tmpDir("ccstream")
    val out = tmpDir("ccout")
    val cfg = GenConfig(numConvs = 40, avgTurns = 6, changeFiles = 2)
    TranscriptGen.writeTable(spark, cfg, tableDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir, numFiles = 8)
    val sink = new ExactlyOnceSink(spark, out)
    val q = CdcPipeline.start(spark, streamDir, out, tmpDir("ccck"),
      maxFilesPerTrigger = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(300L),
      compactEvery = 2L)
    try {
      val deadline = System.currentTimeMillis() + 120000L
      while (sink.epochFloor.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      assert(sink.epochFloor.nonEmpty, "compaction must land under the periodic trigger")
      // drain completely: isDataAvailable is false BETWEEN triggers, so poll
      // the committed row count against the input instead of the status flag
      val expected = ChangeStreamReader.batch(spark, streamDir).count()
      def committed(): Long = Seq("events", "errors", "schema_changes")
        .flatMap(s => sink.readCommitted(s).map(_.count())).sum
      while (committed() < expected && System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      assert(committed() == expected, "stream must drain all input before the check")
    } finally q.stop()
    assertSameRows(
      CdcPipeline.materialize(spark, out).toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "state after mid-stream compaction under the periodic trigger")
  }

  test("savepoint: relocatable — resumes after the ORIGINAL workDir is deleted") {
    val tableDir = tmpDir("rltable")
    val w = tmpDir("rlwork")
    val dest = s"${tmpDir("rldest")}/sp" // must not pre-exist
    val cfg = GenConfig(numConvs = 40, avgTurns = 8, changeFiles = 3)
    TranscriptGen.writeTable(spark, cfg, tableDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // phase 1: snapshot + first change file only (Main `run` layout: stream
    // under the workDir)
    ChangeStreamReader.deliverChanges(spark, tableDir, s"$w/stream", phaseFilter = _ == 0)
    CdcPipeline.runAvailable(spark, tableDir, s"$w/stream", s"$w/out", s"$w/checkpoint")
    pipeline.Savepoint.create(spark, w, dest)
    // the savepoint must be SELF-CONTAINED: destroy the original lineage
    fs.delete(new org.apache.hadoop.fs.Path(w), true)
    // resume from the savepoint alone: deliver the remaining phases into
    // the savepoint's own stream dir and drain
    ChangeStreamReader.deliverChanges(spark, tableDir, s"$dest/stream")
    CdcPipeline.runAvailable(spark, tableDir, s"$dest/stream", s"$dest/out", s"$dest/checkpoint")
    assertSameRows(
      CdcPipeline.materialize(spark, s"$dest/out").toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "relocated savepoint resume vs oracle")
    // exactly-once across the cut: phase-1 batches must not have re-ingested
    // (every input event committed exactly once)
    val sink = new ExactlyOnceSink(spark, s"$dest/out")
    val committed = Seq("events", "errors", "schema_changes")
      .flatMap(s => sink.readCommitted(s).map(_.count())).sum
    assert(committed == ChangeStreamReader.batch(spark, s"$dest/stream").count(),
      "relocated resume must neither duplicate nor drop events")
    // chained: a savepoint OF a savepoint is equally self-contained — its
    // source stream dir comes from the first savepoint's marker
    val dest2 = s"${tmpDir("rldest2")}/sp2"
    pipeline.Savepoint.create(spark, dest, dest2)
    fs.delete(new org.apache.hadoop.fs.Path(dest), true)
    assert(pipeline.Savepoint.streamDirOf(fs, dest2) == s"$dest2/stream")
    CdcPipeline.runAvailable(spark, tableDir, s"$dest2/stream", s"$dest2/out", s"$dest2/checkpoint")
    assertSameRows(
      CdcPipeline.materialize(spark, s"$dest2/out").toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "second-generation savepoint resume vs oracle")
    // corrupt marker fails loudly instead of guessing a stream dir
    val mk = fs.create(new org.apache.hadoop.fs.Path(s"$dest2/savepoint.json"), true)
    mk.write("""{"oops":true}""".getBytes("UTF-8")); mk.close()
    intercept[IllegalStateException](pipeline.Savepoint.streamDirOf(fs, dest2))
  }

  test("savepoint: an INGEST workDir is relocatable too — resume after deleting the original") {
    import spark.implicits._
    // ingest laid out in the savepoint's workDir convention: docs file
    // stream under $w/stream, sink under $w/out, checkpoint $w/checkpoint
    val w = tmpDir("ingw")
    val dest = s"${tmpDir("ingdest")}/sp"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val known = docs.where(col("doc_id") % 50 === 0)
      .select(graft.ops.TextAnalysis.scrub(col("text")).as("text"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def addFile(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$dir/.tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      ()
    }
    // phase 1: first half ingested, then savepoint
    addFile(s"$w/stream", "f1", docs.where(col("doc_id") < 250))
    graft.pipeline.CorpusIngest.start(spark, s"$w/stream", docs.schema, known,
      s"$w/out", s"$w/checkpoint", minQuality = 0.5).awaitTermination()
    pipeline.Savepoint.create(spark, w, dest)
    // self-contained: the original lineage is GONE
    fs.delete(new org.apache.hadoop.fs.Path(w), true)
    // phase 2: a late file lands in the savepoint's own stream dir; resume
    // from the savepoint alone
    addFile(s"$dest/stream", "f2", docs.where(col("doc_id") >= 250))
    graft.pipeline.CorpusIngest.start(spark, s"$dest/stream", docs.schema, known,
      s"$dest/out", s"$dest/checkpoint", minQuality = 0.5).awaitTermination()
    val got = new ExactlyOnceSink(spark, s"$dest/out").readCommitted("events").get.cache()
    val want = graft.pipeline.CorpusIngest.curate(docs, known)
      .dropDuplicates("content_md5")
    // zero loss, zero duplication across the savepoint cut
    assert(got.count() == want.count() && got.count() > 0,
      s"resumed ingest must equal one-shot curation: ${got.count()} vs ${want.count()}")
    assert(got.select("content_md5").distinct().count() == got.count(),
      "no content duplicated across the savepoint cut")
    got.unpersist()
    ()
  }

  test("savepoint: URI-encoded (space-containing) workDir rebases and resumes") {
    val tableDir = tmpDir("uritable")
    val w = s"${tmpDir("uriwork")}/work dir with spaces"
    val dest = s"${tmpDir("uridest")}/sp dest"
    val cfg = GenConfig(numConvs = 20, avgTurns = 6, changeFiles = 2)
    TranscriptGen.writeTable(spark, cfg, tableDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // the seen-file log stores file: URIs, so a space renders as %20 — the
    // rebase must rewrite the ENCODED form (r4 documented caveat, now live)
    ChangeStreamReader.deliverChanges(spark, tableDir, s"$w/stream", phaseFilter = _ == 0)
    CdcPipeline.runAvailable(spark, tableDir, s"$w/stream", s"$w/out", s"$w/checkpoint")
    pipeline.Savepoint.create(spark, w, dest)
    fs.delete(new org.apache.hadoop.fs.Path(w), true)
    ChangeStreamReader.deliverChanges(spark, tableDir, s"$dest/stream")
    CdcPipeline.runAvailable(spark, tableDir, s"$dest/stream", s"$dest/out", s"$dest/checkpoint")
    assertSameRows(
      CdcPipeline.materialize(spark, s"$dest/out").toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "space-containing savepoint resume vs oracle")
    val sink = new ExactlyOnceSink(spark, s"$dest/out")
    val committed = Seq("events", "errors", "schema_changes")
      .flatMap(s => sink.readCommitted(s).map(_.count())).sum
    assert(committed == ChangeStreamReader.batch(spark, s"$dest/stream").count(),
      "encoded-path resume must neither duplicate nor drop events")
  }

  test("savepoint: a PARTIALLY-matching rebase aborts (subset re-ingest hazard)") {
    // one entry under the stream dir, one foreign (second source / symlink
    // rendering) — shipping this would re-ingest only the foreign subset on
    // resume, the silent-duplication class ADVICE r4 flagged
    val ck = tmpDir("pmck")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val log = fs.create(new org.apache.hadoop.fs.Path(s"$ck/sources/0/0"), true)
    log.write(
      ("v1\n" +
        """{"path":"file:///tmp/pm-stream/a.parquet","timestamp":1,"batchId":0}""" + "\n" +
        """{"path":"file:///somewhere/else/b.parquet","timestamp":1,"batchId":0}""" + "\n")
        .getBytes("UTF-8"))
    log.close()
    val e = intercept[IllegalStateException](
      pipeline.Savepoint.rebaseSourceLog(fs, ck, "/tmp/pm-stream", "/tmp/pm-new"))
    assert(e.getMessage.contains("1 of 2") && e.getMessage.contains("somewhere/else"),
      e.getMessage)
  }

  test("savepoint: a copied checkpoint resumes identically (no dupes/loss)") {
    val tableDir = tmpDir("svtable")
    val streamDir = tmpDir("svstream")
    val out1 = tmpDir("svout")
    val ck1 = tmpDir("svck")
    val cfg = GenConfig(numConvs = 40, avgTurns = 8, changeFiles = 2)
    TranscriptGen.writeTable(spark, cfg, tableDir)
    // phase 1: snapshot only
    CdcPipeline.runAvailable(spark, tableDir, streamDir, out1, ck1)
    // savepoint = copy of checkpoint + sink state (reference README.md:444-467)
    val ck2 = tmpDir("svck2")
    val out2 = tmpDir("svout2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(ck1),
      fs, new org.apache.hadoop.fs.Path(ck2), false, spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(out1),
      fs, new org.apache.hadoop.fs.Path(out2), false, spark.sparkContext.hadoopConfiguration)
    // deliver changes, resume BOTH lineages independently
    ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, out1, ck1)
    CdcPipeline.runAvailable(spark, tableDir, streamDir, out2, ck2)
    assertSameRows(
      CdcPipeline.materialize(spark, out1).toDF(),
      CdcPipeline.materialize(spark, out2).toDF(),
      "savepoint lineage")
    assertSameRows(
      CdcPipeline.materialize(spark, out2).toDF(),
      TranscriptGen.finalState(spark, cfg).toDF(),
      "savepoint vs oracle")
  }
}
