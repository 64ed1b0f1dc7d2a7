package perfbench

import scala.collection.mutable

/** Turns one run's samples and spans into the end-to-end metrics (every run)
  * and the per-layer metrics (traced runs). */
final case class Report(workload: String, traced: Boolean, setup: (Double, Double),
                        stats: Stats, trace: Trace, phases: Map[String, Double]) {
  import Stats.{median, tail}

  private val detail = mutable.LinkedHashMap.empty[String, String]

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The workload's samples behind the three end-to-end families (bulk rate,
    * freshness latency, read latency), with the scenario-level metric name
    * each value is reported under. */
  private val (bulk, fresh, read) = workload match {
    case "backfill-ticks" =>
      (("backfill_reviews_per_s", "backfill_reviews_per_s", "backfill"),
        ("tick_s", "tick", "ticks"), ("read_s", "read", "dashboard reads"))
    case _ =>
      (("corpus_docs_per_s", "corpus_docs_per_s", "corpus build"),
        ("stream_lag_s", "stream_lag", "stream files"), ("ann_probe_s", "ann_probe", "probe batches"))
  }

  /** p50 and tail of a latency series: the tail is the highest percentile
    * with at least ten samples beyond it, noted with the sample count. */
  private def latency(slot: String, series: (String, String, String)): Seq[(String, Double, String)] = {
    val (key, name, what) = series
    val xs = stats.get(key)
    if (xs.size < 11) {
      detail(slot) = s"${name}_*: only ${xs.size} $what"
      return Nil
    }
    val (t, pct) = tail(xs)
    val caveat = if (pct <= 50) s"; ${name}_tail_s is not a tail: ${xs.size} samples are too few for one" else ""
    detail(slot) = f"${name}_p50_s / ${name}_tail_s: p50 and p$pct%.1f of ${xs.size} $what" + caveat
    Seq((s"${slot}_p50_s", median(xs), "s"), (s"${slot}_tail_s", t, "s"))
  }

  val endToEnd: Seq[(String, Double, String)] = {
    detail("setup_s") = f"the process's one cold set-up: session ${setup._1}%.3f s + ML fit ${setup._2}%.3f s"
    val bulkXs = stats.get(bulk._1)
    detail("bulk_items_per_s") = s"${bulk._2}: median of ${bulkXs.size} ${bulk._3}"
    Seq(("setup_s", setup._1 + setup._2, "s"), ("peak_rss_mb", peakRssMb, "MB")) ++
      Seq(("bulk_items_per_s", median(bulkXs), "1/s")).filter(_ => bulkXs.nonEmpty) ++
      latency("fresh", fresh) ++ latency("read", read)
  }

  // ------------------------------------------------------------ per layer

  private lazy val self = trace.selfSeconds
  private lazy val spark = trace.sparkBySpan()
  private lazy val byId = trace.spans.map(s => s.id -> s).toMap
  private def root(s: trace.Span): trace.Span = if (s.parent < 0) s else root(byId(s.parent))

  /** The scenario each layer's figures come from: where the layer does the
    * work its metrics are meant to move. */
  private val home = Map("ingest" -> "backfill", "silver" -> "backfill", "score" -> "backfill",
    "enrich" -> "ticks", "read" -> "ticks", "dedup" -> "corpus", "ann" -> "corpus", "stream" -> "stream")

  private def spans(layer: String, name: String => Boolean = _ => true): Seq[trace.Span] =
    trace.spans.filter(s => s.layer == layer && s.scenario == home(layer) && name(s.name)).toSeq

  private def samples(key: String): Seq[Double] = stats.get(s"${home(key.takeWhile(_ != '.'))}:$key")
  private def med(key: String): Double = median(samples(key))
  private def ratio(a: String, b: String): Double = samples(a).sum / samples(b).sum

  private def counter(ss: Seq[trace.Span], name: String): Double = {
    val i = SparkCounters.names.indexOf(name)
    ss.flatMap(s => spark.get(s.id)).map(_(i)).sum
  }

  private def under(roots: Seq[trace.Span]): Seq[trace.Span] = {
    val ids = roots.map(_.id).toSet
    trace.spans.filter(s => ids(root(s).id)).toSeq
  }

  lazy val perLayer: Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    def callS(layer: String) = median(spans(layer).map(_.seconds))
    def spanS(name: String) = median(spans(name.takeWhile(_ != '.'), _ == name).map(_.seconds))

    add("ingest.call_s", callS("ingest"), "s")
    add("ingest.rows", med("ingest.rows"), "count")
    add("ingest.input_bytes", med("ingest.input_bytes"), "B")
    add("ingest.bronze_files_written", med("ingest.bronze_files_written"), "count")
    add("ingest.bronze_bytes_per_input_byte", ratio("ingest.bronze_bytes", "ingest.input_bytes"), "ratio")
    add("ingest.corrupt_rows", med("ingest.corrupt_rows"), "count")
    add("silver.call_s", callS("silver"), "s")
    add("silver.rows", med("silver.rows"), "count")
    add("enrich.call_s", callS("enrich"), "s")
    add("enrich.rows_scored", med("enrich.rows_scored"), "count")
    add("enrich.silver_rows_rewritten", med("enrich.silver_rows_rewritten"), "count")
    add("enrich.rows_rewritten_per_row_scored", ratio("enrich.silver_rows_rewritten", "enrich.rows_scored"), "ratio")
    add("enrich.results_files", med("enrich.results_files"), "count")
    add("score.fit_s", setup._2, "s")
    add("score.call_s", callS("score"), "s")

    val reads = trace.spans.filter(s => s.name == "bench.read" && s.scenario == home("read")).toSeq
    add("read.page_s", spanS("read.page"), "s")
    add("read.summary_s", spanS("read.summary"), "s")
    add("read.files_scanned", med("read.files_scanned"), "count")
    add("read.bytes_scanned", counter(under(reads), "input_bytes") / reads.size, "B")
    add("read.rows_scanned_per_row_returned", ratio("read.rows_scanned", "read.rows_returned"), "ratio")
    add("read.jobs_per_query", counter(under(reads), "jobs") / reads.size, "count")

    Seq("shingles", "minhash", "candidates", "verify", "clusters").foreach(k => add(s"dedup.${k}_s", spanS(s"dedup.$k"), "s"))
    Seq("shingle_rows", "candidate_pairs", "verified_pairs").foreach(k => add(s"dedup.$k", med(s"dedup.$k"), "count"))
    add("dedup.verified_per_candidate", ratio("dedup.verified_pairs", "dedup.candidate_pairs"), "ratio")

    val probes = spans("ann", _ == "ann.probe")
    add("ann.build_s", spanS("ann.build"), "s")
    add("ann.probe_s", spanS("ann.probe"), "s")
    add("ann.candidates_per_query", med("ann.candidates_per_query"), "count")
    add("ann.shuffle_bytes_per_batch", counter(probes, "shuffle_write_bytes") / probes.size, "B")

    Seq("batches" -> "count", "rows_per_batch" -> "count", "trigger_s" -> "s", "add_batch_s" -> "s",
      "wal_commit_s" -> "s", "query_planning_s" -> "s", "latest_offset_s" -> "s",
      "backlog_files_max" -> "count", "generator_late_s" -> "s")
      .foreach { case (k, u) => add(s"stream.$k", med(s"stream.$k"), u) }

    // engine counters per freshness operation: a tick, or a stream micro-batch
    val (ops, nOps, what) =
      if (workload == "backfill-ticks") {
        val ts = trace.spans.filter(s => s.name == "bench.ticks" && s.scenario == "ticks").toSeq
        (ts, ts.size.toDouble, "tick")
      } else (trace.spans.filter(_.name == "bench.stream").toSeq, samples("stream.all_batches").sum, "stream micro-batch")
    val opSpans = under(ops)
    SparkCounters.names.foreach { k =>
      add(s"spark.$k", counter(opSpans, k) / nOps, if (k.endsWith("_s")) "s" else if (k.endsWith("bytes")) "B" else "count")
    }
    detail("spark.*") = f"engine counters per $what, over $nOps%.0f"

    // self time per call: span duration minus the part its child spans cover
    home.keys.toSeq.sorted.foreach { l =>
      val ss = spans(l)
      add(s"$l.self_s", ss.map(s => self(s.id)).sum / math.max(1, ss.size), "s")
    }
    val (tr, pl) = (stats.get("overhead:traced"), stats.get("overhead:plain"))
    add("trace.overhead_share", median(tr) / median(pl) - 1, "ratio")
    detail("trace.overhead_share") = f"median traced / untraced ${fresh._3 match { case "ticks" => "tick"; case _ => "probe batch" }} " +
      f"- 1, ${tr.size} traced and ${pl.size} untraced in this run"
    out.toSeq
  }

  def spansJson: String = trace.toJson(self, spark)

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString("{", ",", "}")

  def json: String = {
    val info = stats.info.map { case (k, v) => s"${str(k)}:${str(v.toString)}" } ++
      phases.map { case (k, v) => s"${str(s"phase_${k}_s")}:${str(f"$v%.2f")}" }
    val e2e = endToEnd
    val layers = if (traced) perLayer else Nil
    s"""{"correct":${stats.failed == 0},"attempted":${stats.attempted},"failed":${stats.failed},""" +
      s""""metrics":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""detail":{${detail.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")}},""" +
      s""""info":{${info.mkString(",")}},"failures":[${stats.failures.map(str).mkString(",")}],""" +
      s""""samples":{${stats.samples.map { case (k, v) => s"${str(k)}:[${v.map(num).mkString(",")}]" }.mkString(",")}}}"""
  }
}
