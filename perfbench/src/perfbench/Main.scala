package perfbench

import graft.ml.MlSentimentScorer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM: set-up, then the workload's scenarios.
  * Writes its result as JSON to `--out`; `run.py` prints the contract line.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  */
object Main {

  /** Each workload runs its own two scenarios; a traced run also runs the
    * other workload's scenarios at a small size, so every layer reports. */
  val workloads = Seq("backfill-ticks", "corpus-stream")

  def session(root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workloads.contains(workload), s"unknown workload $workload; one of ${workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = Files.createDirectories(Path.of(opts("work")))

    // set-up: Spark session ready plus the ML scorer's fit, once, as the
    // first thing the process does, so it is the cold set-up a new process pays
    val t0 = System.nanoTime()
    val spark = session(root)
    val ready = (System.nanoTime() - t0) / 1e9
    val ml = new MlSentimentScorer(spark)
    val t1 = System.nanoTime()
    ml.model
    val fit = (System.nanoTime() - t1) / 1e9
    System.err.println(f"[perfbench] set-up: session $ready%.2f s, fit $fit%.2f s")

    val trace = new Trace(traced)
    trace.attach(spark.sparkContext)
    val progress = new Scenarios.StreamProgress
    spark.streams.addListener(progress)
    val stats = new Stats
    val c = new Ctx(spark, trace, stats, root, seed)
    val phase = mutable.LinkedHashMap.empty[String, Double]
    def run[T](c: Ctx, name: String)(body: => T): T = {
      c.scenario = name
      val t = System.nanoTime()
      val out = body
      phase(name) = (System.nanoTime() - t) / 1e9
      System.err.println(f"[perfbench] $name took ${phase(name)}%.2f s")
      out
    }
    def lakeScenarios(c: Ctx, reviews: Int, ticks: Int, readsPerTick: Int): Unit = {
      val lake = run(c, "backfill")(Scenarios.backfill(c, reviews, ml))
      run(c, "ticks")(Scenarios.ticks(c, lake, ticks, pagesPerTick = 2, readsPerTick, alternate = c.traced && ticks > 4))
    }
    def corpusScenarios(c: Ctx, docs: Int, probes: Int, files: Int): Unit = {
      // the stream first: it also warms the engine's generic paths for the corpus build
      run(c, "stream")(Scenarios.stream(c, files, rowsPerFile = 400, gapMs = 225, triggerMs = 400, progress))
      run(c, "corpus")(Scenarios.corpus(c, docs, probes, probeQueries = 8, alternate = c.traced && probes > 4))
    }
    // Operation counts scale with --seconds: about the measured time on a
    // 4-core machine with the engine as it was when the benchmark was written.
    // The floors give each latency series its tail: 34 samples put ten
    // beyond p70.6. Ticks and reads cost over a second each, so the run
    // budget holds only 11 of each, and their "tail" is p9.1.
    workload match {
      case "backfill-ticks" =>
        lakeScenarios(c, 3000, ticks = math.max(11, (seconds / 4).round.toInt), readsPerTick = 1)
        if (traced) corpusScenarios(c, 600, probes = 4, files = 8)
      case "corpus-stream" =>
        corpusScenarios(c, 1200, probes = math.max(34, (seconds / 2).round.toInt),
          files = math.max(34, (seconds / 2).round.toInt))
        // two reads a tick, so that each of the two ticks reads both kinds
        if (traced) lakeScenarios(c, 600, ticks = 2, readsPerTick = 2)
    }

    val report = Report(workload, traced, (ready, fit), stats, trace, phase.toMap)
    if (traced) Files.write(root.resolve("spans.json"), report.spansJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    Files.write(Path.of(opts("out")), report.json.getBytes(StandardCharsets.UTF_8))
  }
}
