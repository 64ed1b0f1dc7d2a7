package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; Spark sessions are cheap to share, expensive to build).
  */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sf: String = SparkSpec.sf

  /** A fresh corpus dir holding copies of `tables` from [[sf]]: a test that
    * invalidates or releases its artifacts then leaves the memos of [[sf]],
    * which the other suites of the JVM share, untouched. */
  def privateCorpus(tables: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-private-corpus")
    tables.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }
}
