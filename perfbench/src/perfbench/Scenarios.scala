package perfbench

import graft.ml.{LexiconScorer, SentimentScorer}
import graft.operators.{Dedup, IvfIndex, Orchestration, Similarity}
import graft.sources.ReviewIngest
import graft.streaming.EnrichStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Samples, counts and check outcomes of one run. */
final class Stats {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def add(key: String, v: Double): Unit = samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def get(key: String): Seq[Double] = samples.get(key).fold(Seq.empty[Double])(_.toSeq)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** One operation: counted as attempted, and as failed when it throws or
    * returns false (a failed output check). */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        e.printStackTrace()
        false
    }
    if (!ok) fail(what)
    ok
  }

  /** A check inside an operation; records what failed. */
  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond && failures.size < 20) failures += what
    cond
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, by nearest
    * rank: (value, percentile). Needs at least 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    require(n >= 11, s"a tail needs at least 11 samples, got $n")
    (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** What one run shares across its scenarios. */
final class Ctx(val spark: SparkSession, val trace: Trace, val stats: Stats,
                val root: Path, seed: Long) {
  val rng = new SplittableRandom(seed)
  /** The scenario running now; spans and per-layer samples are keyed by it. */
  var scenario = ""
  def now: Double = System.nanoTime() / 1e9
  def dir(name: String): Path = Files.createDirectories(root.resolve(name))
  def traced: Boolean = trace.on
  def span[T](name: String, request: String)(body: => T): T = trace(name, scenario, request)(body)
  /** A per-layer sample, recorded only on traced runs. */
  def layer(key: String, v: Double): Unit = if (traced) stats.add(s"$scenario:$key", v)
}

object Scenarios {

  private def files(p: Path, suffix: String): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toList
      finally s.close()
    }

  private def bytesUnder(p: Path, suffix: String): Long = files(p, suffix).map(Files.size).sum

  /** Each parquet file under `p` with its modification time. */
  private def stamps(p: Path): Map[Path, Long] =
    files(p, ".parquet").map(f => f -> Files.getLastModifiedTime(f).toMillis).toMap

  private val validLabels = Set("positive", "neutral", "negative")

  // ------------------------------------------------------------ backfill

  /** The lake that backfill builds and ticks extend: what has landed so far
    * and the label each landed review was scored with. */
  final class Lake(val layout: Orchestration.Layout, val hotels: Gen.Zipf) {
    val landed = mutable.ArrayBuffer.empty[Gen.Review]
    val label = mutable.Map.empty[Long, String]
  }

  /** The bulk catch-up job: `nReviews` reviews in API pages (plus one
    * corrupt page) → ingestToBronze → buildSilver → enrich with the ML
    * scorer, once, on an empty lake. */
  def backfill(c: Ctx, nReviews: Int, ml: SentimentScorer): Lake = {
    import c.spark
    val lake = new Lake(Orchestration.Layout(c.root.resolve("lake").toString), new Gen.Zipf(200, 1.1))
    val layout = lake.layout
    val reviews = Gen.reviews(c.rng, 1L, nReviews, lake.hotels)
    val pagesDir = c.dir("backfill-pages")
    val pages = Gen.writePages(pagesDir, "page", reviews)
    Gen.writeCorruptPage(pagesDir, "page-corrupt")
    val inputBytes = bytesUnder(pagesDir, ".json")
    c.stats.info("backfill") = s"$nReviews reviews in $pages pages of 25 + 1 corrupt page ($inputBytes bytes), " +
      "200 hotels Zipf(1.1), ML scorer"
    lake.landed ++= reviews
    c.stats.op("backfill") {
      val start = c.now
      c.span("bench.backfill", "backfill") {
        c.span("ingest.ingestToBronze", "backfill") {
          Orchestration.ingestToBronze(spark, pagesDir.toString, layout)
        }
        c.span("silver.buildSilver", "backfill") { Orchestration.buildSilver(spark, layout) }
        if (c.traced) c.span("score.ml", "backfill") {
          ml.score(spark.read.parquet(layout.silver).filter(col("processed") === 0)
            .select(col("id").cast("string").as("record_id"), col("text_column").as("text")))
            .write.format("noop").mode("overwrite").save()
        }
        c.span("enrich.enrich", "backfill") { Orchestration.enrich(spark, layout, ml) }
      }
      c.stats.add("backfill_reviews_per_s", nReviews / (c.now - start))
      if (c.traced) {
        c.layer("ingest.input_bytes", inputBytes.toDouble)
        c.layer("ingest.bronze_files_written", files(Path.of(layout.bronze), ".parquet").size)
        c.layer("ingest.bronze_bytes", bytesUnder(Path.of(layout.bronze), ".parquet").toDouble)
        c.layer("ingest.rows", spark.read.parquet(layout.bronze).count().toDouble)
        // Spark rejects a raw-JSON query that reads only the corrupt-record column
        c.layer("ingest.corrupt_rows", ReviewIngest.readEnvelope(spark, pagesDir.toString)
          .filter(col("_corrupt_record").isNotNull).select(col("count"), col("_corrupt_record"))
          .collect().length.toDouble)
        c.layer("silver.rows", spark.read.parquet(layout.silver).count().toDouble)
      }
      checkBackfill(c, lake)
    }
    lake
  }

  private def checkBackfill(c: Ctx, lake: Lake): Boolean = {
    val s = c.stats
    val byId = lake.landed.map(v => v.id -> v).toMap
    val res = c.spark.read.parquet(lake.layout.results).collect()
    val ids = res.map(_.getString(0).toLong)
    res.foreach(r => lake.label(r.getString(0).toLong) = r.getString(1))
    val silver = c.spark.read.parquet(lake.layout.silver)
      .agg(count(lit(1)), sum(when(col("processed") === 1, 1).otherwise(0))).head()
    var ok = s.check(ids.length == byId.size && ids.distinct.length == ids.length && ids.forall(byId.contains),
      s"backfill: ${ids.length} results (${ids.distinct.length} distinct) for ${byId.size} reviews")
    ok &= s.check(silver.getLong(0) == byId.size && silver.getLong(1) == byId.size,
      s"backfill: silver ${silver.getLong(0)} rows, ${silver.getLong(1)} processed, want ${byId.size}")
    ok &= s.check(res.forall(r => validLabels(r.getString(1))), "backfill: label outside the vocabulary")
    ok &= s.check(res.forall { r => val p = r.getDouble(2); p > 1.0 / 3 && p <= 1.0 },
      "backfill: confidence outside (1/3, 1]")
    // the agreement floor MlSentimentScorer.mlGate sets on the strong-marker subset
    val strong = res.flatMap(r => byId.get(r.getString(0).toLong)
      .flatMap(v => Gen.strongLabel(v.text)).map(_ == r.getString(1)))
    val agree = if (strong.isEmpty) 0.0 else strong.count(identity).toDouble / strong.length
    ok &= s.check(agree >= 0.6, f"backfill: ML/lexicon agreement $agree%.3f < 0.6 on ${strong.length} strong rows")
    c.stats.info("backfill_ml_lexicon_agreement") = f"$agree%.3f over ${strong.length} strong-marker reviews"
    ok
  }

  // ------------------------------------------------------------ ticks

  /** The reference's timer path on the backfilled lake, one closed-loop
    * client: each of `nTicks` ticks lands `pagesPerTick` pages, ingests
    * them, appends them to silver and runs enrich with the lexicon scorer;
    * `readsPerTick` dashboard reads follow each tick. Orchestration.run is
    * not used per tick: its buildSilver rewrites silver with processed = 0,
    * which would re-score every review. With `alternate`, only even ticks
    * (and their reads) are traced, so the odd ones measure the untraced
    * cost in the same process. */
  def ticks(c: Ctx, lake: Lake, nTicks: Int, pagesPerTick: Int, readsPerTick: Int,
            alternate: Boolean): Unit = {
    import c.spark
    val layout = lake.layout
    Orchestration.registerCatalogs(spark, layout)
    var nextId = 10000000L
    c.stats.info("ticks") = s"$nTicks ticks of $pagesPerTick pages of 25 on the backfilled lake, " +
      s"lexicon scorer, $readsPerTick dashboard reads after each"
    val tracing = c.trace.on
    (0 until nTicks).foreach { tick =>
      c.trace.on = tracing && (!alternate || tick % 2 == 0)
      val req = s"tick-$tick"
      val batch = Gen.reviews(c.rng, nextId, 25 * pagesPerTick, lake.hotels)
      nextId += batch.size
      val tickDir = c.dir(s"ticks-land/$tick")
      Gen.writePages(tickDir, "page", batch)
      c.stats.op(s"ticks $req") {
        val bronzeBefore = if (c.traced) files(Path.of(layout.bronze), ".parquet").toSet else Set.empty[Path]
        val resultsBefore = if (c.traced) files(Path.of(layout.results), ".parquet").size else 0
        var silverBefore = Map.empty[Path, Long]
        var silverWritten = Seq.empty[Path]
        val start = c.now
        val scored = c.span("bench.ticks", req) {
          c.span("ingest.ingestToBronze", req) {
            Orchestration.ingestToBronze(spark, tickDir.toString, layout)
          }
          c.span("silver.toSilver", req) {
            ReviewIngest.toSilver(ReviewIngest.ingest(spark, tickDir.toString))
              .write.mode("append").parquet(layout.silver)
          }
          if (c.traced) c.span("score.lexicon", req) {
            LexiconScorer.score(spark.read.parquet(layout.silver).filter(col("processed") === 0)
              .select(col("id").cast("string").as("record_id"), col("text_column").as("text")))
              .write.format("noop").mode("overwrite").save()
          }
          if (c.traced) silverBefore = stamps(Path.of(layout.silver))
          val n = c.span("enrich.enrich", req) { Orchestration.enrich(spark, layout, LexiconScorer) }
          if (c.traced) silverWritten = stamps(Path.of(layout.silver))
            .filter { case (f, t) => !silverBefore.get(f).contains(t) }.keys.toSeq
          n
        }
        val secs = c.now - start
        c.stats.add("tick_s", secs)
        if (alternate) c.stats.add(if (c.traced) "overhead:traced" else "overhead:plain", secs)
        lake.landed ++= batch
        batch.foreach(v => lake.label(v.id) = Gen.lexiconLabel(v.text))
        if (c.traced) {
          val bronzeNew = files(Path.of(layout.bronze), ".parquet").filterNot(bronzeBefore)
          c.layer("ingest.input_bytes", bytesUnder(tickDir, ".json").toDouble)
          c.layer("ingest.bronze_files_written", bronzeNew.size)
          c.layer("ingest.bronze_bytes", bronzeNew.map(Files.size).sum.toDouble)
          c.layer("ingest.rows", batch.size)
          c.layer("silver.rows", batch.size)
          c.layer("enrich.rows_scored", scored.toDouble)
          // silver rows in the files enrich wrote or replaced, counted from their footers
          c.layer("enrich.silver_rows_rewritten",
            if (silverWritten.isEmpty) 0.0 else spark.read.parquet(silverWritten.map(_.toString): _*).count().toDouble)
          c.layer("enrich.results_files", files(Path.of(layout.results), ".parquet").size - resultsBefore)
        }
        // collected rather than counted in Spark: one stage instead of a shuffle
        val ids = spark.read.parquet(layout.results).select("record_id").collect().map(_.getString(0))
        val distinct = ids.distinct.length
        c.stats.check(scored == batch.size && ids.length == lake.landed.size && distinct == ids.length,
          s"ticks $req: enriched $scored of ${batch.size}; ${ids.length} results " +
            s"($distinct distinct) for ${lake.landed.size} landed")
      }
      // a tick's reads alternate page and summary, and the first kind
      // alternates every two ticks, so alternately traced ticks see both
      (0 until readsPerTick).foreach(i => read(c, lake, s"$req-read-$i", (tick / 2 + i) % 2 == 0))
    }
    c.trace.on = tracing
  }

  /** One dashboard read: the top page of a Zipf-drawn hotel, or that hotel's
    * sentiment summary over ai.sentiment_results joined to bronze. */
  private def read(c: Ctx, lake: Lake, req: String, page: Boolean): Unit = {
    import c.spark
    val hotel = Gen.hotelId(lake.hotels.sample(c.rng))
    c.stats.op(s"read $req") {
      val start = c.now
      var df: DataFrame = null
      val rows = c.span("bench.read", req) {
        if (page) c.span("read.page", req) {
          df = ReviewIngest.pageQuery(spark.read.parquet(lake.layout.bronze), hotelId = hotel)
          df.collect()
        } else c.span("read.summary", req) {
          df = spark.sql(
            s"""SELECT r.sentiment, count(*) AS n
               |FROM ai.sentiment_results r
               |JOIN parquet.`${lake.layout.bronze}` b ON CAST(r.record_id AS BIGINT) = b.review_id
               |WHERE b.hotel_id = $hotel
               |GROUP BY r.sentiment""".stripMargin)
          df.collect()
        }
      }
      val secs = c.now - start
      c.stats.add("read_s", secs)
      if (c.traced) {
        val (nFiles, nRows) = ScanStats(df)
        c.layer("read.files_scanned", nFiles)
        c.layer("read.rows_scanned", nRows)
        c.layer("read.rows_returned", rows.length)
      }
      if (page) {
        val got = rows.map(_.getLong(0)).toSeq
        val want = Gen.expectedPage(lake.landed, hotel)
        c.stats.check(got == want, s"read $req: pageQuery(hotel $hotel) = ${got.take(5)}... want ${want.take(5)}...")
      } else {
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = lake.landed.iterator.filter(_.hotel == hotel).toSeq
          .groupBy(v => lake.label(v.id)).map { case (k, v) => k -> v.size.toLong }
        c.stats.check(got == want, s"read $req: summary(hotel $hotel) = $got, want $want")
      }
    }
  }

  // ------------------------------------------------------------ corpus

  /** The LLM-data workload: near-dup detection over `nDocs` documents with
    * planted clusters (shingles → minhash → banded candidates → verified
    * Jaccard → clusters) and an IVF build over their embeddings, once; then
    * `nProbes` closed-loop probe batches of `probeQueries` queries. Each
    * stage's output is materialised inside its span so the stage is timed.
    * With `alternate`, only even probe batches are traced. */
  def corpus(c: Ctx, nDocs: Int, nProbes: Int, probeQueries: Int, alternate: Boolean): Unit = {
    import c.spark
    import spark.implicits._
    val threshold = 0.5
    val corpus = Gen.corpus(c.rng, nDocs, threshold)
    val vecs = Gen.embeddings(c.rng, nDocs, 32, 24)
    val docsPath = c.root.resolve("corpus-docs").toString
    val embPath = c.root.resolve("corpus-emb").toString
    corpus.docs.toDF("doc_id", "text").repartition(4).write.parquet(docsPath)
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      .repartition(4).write.parquet(embPath)
    c.stats.info("corpus") = s"$nDocs docs, ${corpus.plantedPairs.size} planted near-dup pairs (Jaccard >= $threshold); " +
      s"$nDocs x 32 embeddings around 24 centres; IVF k=16, nProbe=6, top-10; " +
      s"$nProbes probe batches of $probeQueries queries"
    val shingleSets = corpus.docs.map { case (id, t) => id -> Gen.shingleSet(t) }.toMap

    var index: (DataFrame, DataFrame) = null
    c.stats.op("corpus build") {
      val start = c.now
      val docs = spark.read.parquet(docsPath)
      val (sh, cand, ver) = c.span("bench.corpus", "build") {
        val sh = c.span("dedup.shingles", "build") { val d = Dedup.shingles(docs).persist(); d.count(); d }
        val sig = c.span("dedup.minhash", "build") { val d = Dedup.minhashSignatures(sh).persist(); d.count(); d }
        val cand = c.span("dedup.candidates", "build") { val d = Dedup.bandedCandidates(sig).persist(); d.count(); d }
        val ver = c.span("dedup.verify", "build") {
          val d = Dedup.verifyJaccard(sh, cand).filter(col("jaccard") >= threshold).persist(); d.count(); d
        }
        c.span("dedup.clusters", "build") { Dedup.nearDupClusters(ver).count() }
        index = c.span("ann.build", "build") {
          val (assigned, centroids) = IvfIndex.buildIndex(spark.read.parquet(embPath))
          val a = assigned.persist(); a.count()
          (a, centroids)
        }
        sig.unpersist()
        (sh, cand, ver)
      }
      c.stats.add("corpus_docs_per_s", nDocs / (c.now - start))
      val verified = ver.select("doc_a", "doc_b", "jaccard").collect()
      if (c.traced) {
        c.layer("dedup.shingle_rows", sh.count().toDouble)
        c.layer("dedup.candidate_pairs", cand.count().toDouble)
        c.layer("dedup.verified_pairs", verified.length)
        val sizes = index._1.groupBy("cell").count().collect().map(_.getLong(1))
        c.layer("ann.candidates_per_query", 6.0 * sizes.sum / sizes.length)
      }
      Seq(sh, cand, ver).foreach(_.unpersist())
      val found = verified.map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = corpus.plantedPairs.count(found).toDouble / math.max(1, corpus.plantedPairs.size)
      val exact = verified.forall { r =>
        val j = Gen.jaccard(shingleSets(r.getLong(0)), shingleSets(r.getLong(1)))
        j >= threshold && math.abs(j - r.getDouble(2)) <= 1e-4
      }
      c.stats.info("corpus_planted_pair_recall") = f"$recall%.4f"
      c.stats.check(recall >= 0.9, f"corpus: planted-pair recall $recall%.3f < 0.9") &
        c.stats.check(exact, s"corpus: a verified pair's exact Jaccard is below $threshold or differs")
    }
    if (index == null) return

    val (assigned, centroids) = index
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val emb = spark.read.parquet(embPath)
    val tracing = c.trace.on
    def queries(n: Int = probeQueries): DataFrame = {
      val ids = Iterator.continually(c.rng.nextInt(nDocs)).distinct.take(n).toSeq
      spark.createDataFrame(ids.map(i => Row(i.toLong, vecs(i).toSeq)).asJava, schema)
    }
    // the first `warmProbes` batches warm the probe's code paths and are not timed
    val warmProbes = 6
    (0 until warmProbes + nProbes).foreach { probe =>
      val timed = probe >= warmProbes
      c.trace.on = tracing && timed && (!alternate || probe % 2 == 0)
      val req = s"probe-$probe"
      val q = queries()
      c.stats.op(s"ann $req") {
        val start = c.now
        val got = c.span("ann.probe", req) {
          IvfIndex.ivfTopK(q, assigned, centroids, k = 10).collect()
        }
        val secs = c.now - start
        if (timed) c.stats.add("ann_probe_s", secs)
        if (timed && alternate) c.stats.add(if (c.traced) "overhead:traced" else "overhead:plain", secs)
        c.stats.check(got.length == 10 * probeQueries, s"ann $req: ${got.length} rows, want ${10 * probeQueries}")
      }
    }
    c.trace.on = tracing
    // recall@10 of two more batches against the exact top-10, outside the timed loop
    c.stats.op("ann recall") {
      val q = queries(2 * probeQueries)
      val got = IvfIndex.ivfTopK(q, assigned, centroids, k = 10).collect().map(r => (r.getLong(0), r.getLong(1)))
      val truth = Similarity.bruteForceTopK(q, emb, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.count(truth).toDouble / truth.size
      c.stats.info("ann_recall_at_10") = f"$recall%.4f over ${2 * probeQueries} queries"
      c.stats.check(recall >= 0.8, f"ann: recall@10 $recall%.3f < 0.8")
    }
    assigned.unpersist()
  }

  // ------------------------------------------------------------ stream

  /** Batch progress of streaming queries, from a benchmark-registered
    * listener: batch id → (commit wall time ms, progress). */
  final class StreamProgress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[Long, (Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches.put(p.batchId, (start + p.durationMs.get("triggerExecution").longValue(), p))
      }
    }
  }

  /** An open-loop generator renames pre-written silver-shaped parquet files
    * into the watched directory, one every `gapMs`; EnrichStream.run with a
    * ProcessingTime trigger drains them. Lag is measured from each file's
    * scheduled landing to the commit of the micro-batch that read it. */
  def stream(c: Ctx, measuredFiles: Int, rowsPerFile: Int, gapMs: Long, triggerMs: Long,
             progress: StreamProgress): Unit = {
    val warmFiles = 4
    val nFiles = warmFiles + measuredFiles
    import c.spark
    import spark.implicits._
    val stage = c.root.resolve("stream-stage")
    val watched = c.dir("stream-in")
    val out = c.root.resolve("stream-out").toString
    val ckpt = c.root.resolve("stream-ckpt").toString
    val texts = Gen.reviews(c.rng, 50000000L, nFiles * rowsPerFile, new Gen.Zipf(200, 1.1))
    texts.map(v => (v.id, v.text, 0, ((v.id - 50000000L) / rowsPerFile).toInt))
      .toDF("id", "text_column", "processed", "f")
      .repartition(col("f")).write.partitionBy("f").parquet(stage.toString)
    val staged = (0 until nFiles).map { f =>
      val part = files(stage.resolve(s"f=$f"), ".parquet")
      require(part.size == 1, s"stream file $f staged as ${part.size} parts")
      part.head
    }
    c.stats.info("stream") = s"$warmFiles warm-up files, then $measuredFiles files of $rowsPerFile rows, one every " +
      f"$gapMs ms (${1000.0 * rowsPerFile / gapMs}%.0f rows/s); ProcessingTime($triggerMs ms), lexicon scorer"

    c.stats.op("stream run") {
      progress.batches.clear()
      val landedAt = new Array[Long](nFiles)
      var t0 = 0L
      // measured file f (f >= warmFiles) is due at t0 + (f - warmFiles) * gapMs
      def due(f: Int): Long = t0 + (f - warmFiles) * gapMs
      def land(f: Int): Unit = {
        Files.move(staged(f), watched.resolve(f"part-$f%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        landedAt(f) = System.currentTimeMillis()
      }
      val q = c.span("bench.stream", "run") {
        c.span("stream.run", "run") {
          val q = EnrichStream.run(spark, watched.toString, out, ckpt, LexiconScorer,
            Trigger.ProcessingTime(triggerMs))
          c.trace.alias(q.runId.toString)
          try {
            // the warm-up files land at once and drain before the schedule
            // starts, so the query's cold first batches leave no backlog
            (0 until warmFiles).foreach(land)
            q.processAllAvailable()
            t0 = System.currentTimeMillis() + 100
            (warmFiles until nFiles).foreach { f =>
              val wait = due(f) - System.currentTimeMillis()
              if (wait > 0) Thread.sleep(wait)
              land(f)
            }
            q.processAllAvailable()
          } finally q.stop()
          q
        }
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      q.exception.foreach(e => throw e)
      // which batch read each file: the file source's own log in the checkpoint
      val batchOf = mutable.Map.empty[Int, Long]
      val entry = "\"path\":\"[^\"]*part-(\\d+)\\.parquet\".*?\"batchId\":(\\d+)".r
      files(Path.of(ckpt, "sources"), "").filterNot(_.getFileName.toString.startsWith(".")).foreach { f =>
        Files.readAllLines(f).asScala.foreach(l => entry.findFirstMatchIn(l)
          .foreach(m => batchOf(m.group(1).toInt) = m.group(2).toLong))
      }
      val measured = warmFiles until nFiles
      measured.foreach { f =>
        val b = batchOf.getOrElse(f, -1L)
        val commit = Option(progress.batches.get(b)).map(_._1)
        require(commit.isDefined, s"stream file $f: no committed batch (batch $b)")
        c.stats.add("stream_lag_s", (commit.get - due(f)) / 1e3)
      }
      c.layer("stream.generator_late_s", measured.map(f => landedAt(f) - due(f)).max / 1e3)
      // batch figures cover the batches that read measured files
      val measuredBatches = measured.map(batchOf)
      val ps = measuredBatches.distinct.flatMap(b => Option(progress.batches.get(b))).map(_._2)
      c.layer("stream.batches", ps.size)
      c.layer("stream.all_batches", progress.batches.size)
      c.layer("stream.rows_per_batch", ps.map(_.numInputRows).sum.toDouble / ps.size)
      c.layer("stream.backlog_files_max", measuredBatches.groupBy(identity).values.map(_.size).max)
      ps.sortBy(_.batchId).foreach { p =>
        def d(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.longValue() / 1e3)
        c.stats.add("stream_batch_s", d("triggerExecution"))
        c.layer("stream.trigger_s", d("triggerExecution"))
        c.layer("stream.add_batch_s", d("addBatch"))
        c.layer("stream.wal_commit_s", d("walCommit"))
        c.layer("stream.query_planning_s", d("queryPlanning"))
        c.layer("stream.latest_offset_s", d("latestOffset"))
      }
      // exactly once, and every label equals the lexicon recomputation
      val sink = spark.read.parquet(out).collect()
      val want = texts.map(v => v.id -> Gen.lexiconLabel(v.text)).toMap
      val got = sink.map(r => r.getString(0).toLong -> r.getString(1))
      c.stats.check(got.length == want.size && got.map(_._1).distinct.length == got.length,
        s"stream: sink has ${got.length} rows (${got.map(_._1).distinct.length} distinct ids) for ${want.size} landed") &
        c.stats.check(got.forall { case (id, l) => want.get(id).contains(l) }, "stream: a label differs from the lexicon")
    }
  }
}

/** Files and rows read by the file scans of an executed query. */
object ScanStats {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def apply(df: DataFrame): (Double, Double) = {
    var files = 0.0; var rows = 0.0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case f: FileSourceScanExec =>
          files += f.metrics.get("numFiles").fold(0L)(_.value)
          rows += f.metrics.get("numOutputRows").fold(0L)(_.value)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (files, rows)
  }
}
