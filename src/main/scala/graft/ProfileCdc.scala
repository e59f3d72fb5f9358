package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{CdcPipeline, Router}
import graft.sink.ExactlyOnceSink
import graft.source.ChangeStreamReader

/** Ad-hoc profiling main: decomposes CDC replay cost into stages over an
  * existing spooled stream dir. Usage:
  *   runMain graft.ProfileCdc <streamDir> [tableDir] [mft,mft,...]
  * `tableDir` spools the table into streamDir first; the mft list is run
  * IN ORDER, so interleave repeats (e.g. 48,96,48,96,48,96) — a monotone
  * list confounds the comparison with JIT/page-cache warmup (measured:
  * the first replay of a JVM runs ~1.7× slower than its third).
  */
object ProfileCdc {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  def main(args: Array[String]): Unit = {
    val streamDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    sys.props.getOrElseUpdate("graft.replayMode", "true") // declared replay
    val spark = GraftSession.local(cpus, "graft-profile")
    // optional second arg: a generated table dir to spool into streamDir
    // first (same layout Bench.replayOnce uses); "" or "-" skips the spool
    // (re-profile an already-spooled dir, e.g. to vary the codec per JVM)
    args.lift(1).filter(d => d.nonEmpty && d != "-").foreach { tableDir =>
      ChangeStreamReader.deliverChanges(spark, tableDir, streamDir)
      ChangeStreamReader.spoolSnapshot(spark, tableDir, streamDir, numFiles = 64)
    }
    val df = ChangeStreamReader.batch(spark, streamDir)
    val n = time("count(read)")(df.count())
    println(s"[profile] events=$n cpus=$cpus")
    time("route+enrich only (noop sink)") {
      CdcPipeline.routed(df).write.format("noop").mode("overwrite").save()
    }
    time("routed + unpartitioned parquet write") {
      CdcPipeline.routed(df).write.mode("overwrite").parquet("/tmp/prof-flat")
    }
    time("processBatch (lineage aggregate + count-ranged write, pipeline path)") {
      val sink = new ExactlyOnceSink(spark, "/tmp/prof-sink-" + System.nanoTime())
      CdcPipeline.processBatch(sink, df, 0L)
    }
    val mfts = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(48, 96, 48, 96, 48, 96))
    mfts.foreach { mft =>
      time(s"full streaming replay (fresh checkpoint, mft=$mft)") {
        val q = CdcPipeline.start(spark, streamDir, "/tmp/prof-out-" + System.nanoTime(),
          "/tmp/prof-ck-" + System.nanoTime(), maxFilesPerTrigger = mft)
        q.awaitTermination()
      }
    }
    spark.stop()
  }
}
