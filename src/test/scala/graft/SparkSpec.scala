package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite, temp dirs deleted
  * after the suite, row-exact DataFrame comparison (sorted canonical
  * string form — the per-row invariant is exact equality, so no tolerance).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(4, getClass.getSimpleName)

  private val madeDirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A fresh directory under java.io.tmpdir, deleted with its contents
    * after the suite.
    */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(s"graft-$prefix").toFile
    madeDirs.synchronized(madeDirs += d)
    d.toString
  }

  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def assertSameRows(got: DataFrame, want: DataFrame, hint: String = ""): Unit = {
    val g = canon(got)
    val w = canon(want)
    if (g != w) {
      val gOnly = g.diff(w).take(5)
      val wOnly = w.diff(g).take(5)
      fail(
        s"$hint row mismatch: got=${g.size} want=${w.size}\n" +
          s"  only-in-got: ${gOnly.mkString(" | ")}\n" +
          s"  only-in-want: ${wOnly.mkString(" | ")}")
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM (getOrCreate) — do not stop.
    try madeDirs.synchronized(madeDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    finally super.afterAll()
  }
}
