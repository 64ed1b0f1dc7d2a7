package graft

import graft.ml.LexiconScorer
import graft.operators.Orchestration
import graft.operators.Orchestration.Layout
import graft.sources.ReviewIngest
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Pipeline end-to-end (SURVEY.md §5.3): review pages → bronze → silver →
  * enrich (hermetic scorer) → results + all rows marked processed; a re-run
  * enriches nothing new. */
class OrchestrationSpec extends SparkSpec {

  private def parquetFiles(dir: String): Map[Path, Long] = {
    val p = Path.of(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f -> Files.getLastModifiedTime(f).toMillis).toMap
      finally s.close()
    }
  }

  test("full pipeline: 25 reviews end-to-end, then an idempotent re-run") {
    val layout = Layout(Files.createTempDirectory("graft-pipe").toString)
    val n = Orchestration.run(spark, ReviewPages.write(25).toString, layout, LexiconScorer)
    assert(n === 25L)

    val results = spark.read.parquet(layout.results)
    assert(results.columns.toSeq === Seq("record_id", "sentiment", "confidence"))
    assert(results.count() === 25L)
    assert(results.select("sentiment").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("positive", "neutral", "negative")))

    val silver = spark.read.parquet(layout.silver)
    assert(silver.filter(col("processed") === 0).count() === 0L, "all rows marked processed")

    // re-run enrich only: pending set is empty → P6 short-circuit, no new rows
    val n2 = Orchestration.enrich(spark, layout, LexiconScorer)
    assert(n2 === 0L)
    assert(spark.read.parquet(layout.results).count() === 25L, "re-run appended rows")
  }

  test("observed metrics ride the action and equal a direct aggregation") {
    import org.apache.spark.sql.functions._
    val m = Orchestration.observedMetrics(spark, sf).head()
    val direct = operators.Pipeline.silverBuild(spark, sf).agg(
      count(lit(1)), sum(col("processed")).cast("long"),
      count(when(col("text_column").isNull, 1)),
      sum(length(col("text_column"))).cast("long")).head()
    assert(m.getAs[Long]("n_rows") === direct.getLong(0))
    assert(m.getAs[Long]("n_processed") === direct.getLong(1))
    assert(m.getAs[Long]("n_null_text") === direct.getLong(2))
    assert(m.getAs[Long]("text_chars") === direct.getLong(3))
    assert(m.getAs[Long]("n_rows") > 0, "empty corpus verifies nothing")
  }

  test("P7: config validation names every missing key") {
    val ex = intercept[IllegalArgumentException] {
      Orchestration.validateConfig(
        Map("endpoint" -> "x", "key" -> ""),
        Seq("endpoint", "key", "db_server"))
    }
    assert(ex.getMessage.contains("key") && ex.getMessage.contains("db_server"))
    Orchestration.validateConfig(Map("endpoint" -> "x"), Seq("endpoint")) // passes
  }

  test("S8: dual catalogs expose silver and results as separate namespaces") {
    val layout = Layout(Files.createTempDirectory("graft-cat").toString)
    Orchestration.run(spark, ReviewPages.write(25).toString, layout, LexiconScorer)
    Orchestration.registerCatalogs(spark, layout)
    assert(spark.sql("SELECT count(*) FROM adf.source_table").head().getLong(0) === 25L)
    assert(spark.sql("SELECT count(*) FROM ai.sentiment_results").head().getLong(0) === 25L)
    val joined = spark.sql(
      """SELECT s.id, r.sentiment FROM adf.source_table s
        |JOIN ai.sentiment_results r ON CAST(s.id AS STRING) = r.record_id""".stripMargin)
    assert(joined.count() === 25L) // J2: result↔source key propagation
  }

  test("S4: bronze landing is partitioned by hotel_id") {
    val layout = Layout(Files.createTempDirectory("graft-bronze").toString)
    Orchestration.ingestToBronze(spark, ReviewPages.write(25).toString, layout)
    val dirs = new java.io.File(layout.bronze).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("hotel_id=")), s"no partition dirs in ${dirs.toSeq}")
    // partition pruning: a hotel_id filter scans only its partition
    val plan = spark.read.parquet(layout.bronze)
      .filter(col("hotel_id") === 1676161L).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("hotel_id"))
  }

  test("enrich rewrites only the silver files that hold pending rows") {
    val root = Files.createTempDirectory("graft lake")
    val layout = Layout(root.toString)
    assert(layout.root.contains(" "))
    assert(Orchestration.run(spark, ReviewPages.write(root.resolve("pages-a"), 10).toString,
      layout, LexiconScorer) === 10L)
    val processedFiles = parquetFiles(layout.silver)
    Thread.sleep(20) // a rewritten file would get a later modification time
    // two appended batches, one pending silver file each, as a timer tick lands them
    Seq(("pages-b", 100L), ("pages-c", 200L)).foreach { case (d, first) =>
      val pages = ReviewPages.write(root.resolve(d), 8, firstId = first)
      ReviewIngest.toSilver(ReviewIngest.ingest(spark, pages.toString)).coalesce(1)
        .write.mode("append").parquet(layout.silver)
    }
    val pendingFiles = parquetFiles(layout.silver).keySet -- processedFiles.keySet
    assert(pendingFiles.size === 2)

    assert(Orchestration.enrich(spark, layout, LexiconScorer) === 16L)
    val after = parquetFiles(layout.silver)
    processedFiles.foreach { case (f, t) => assert(after.get(f).contains(t), s"$f was touched") }
    assert(pendingFiles.forall(f => !after.contains(f)), "a pending file was left in silver")

    val want = ((1L to 10L) ++ (100L until 108L) ++ (200L until 208L)).sorted
    val results = spark.read.parquet(layout.results).select(col("record_id").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(results === want, "each id once in results")
    val silver = spark.read.parquet(layout.silver).collect()
    assert(silver.map(_.getAs[Long]("id")).sorted.toSeq === want, "each id once in silver")
    assert(silver.forall(_.getAs[Int]("processed") == 1))
    assert(!Files.exists(Path.of(s"${layout.silver}__staging")))
    assert(!Files.exists(Path.of(s"${layout.results}__staging")))
  }

  test("enrich publishes no 0-row results or silver file") {
    val root = Files.createTempDirectory("graft-nonempty")
    val layout = Layout(root.toString)
    assert(Orchestration.run(spark, ReviewPages.write(root.resolve("pages-a"), 400).toString,
      layout, LexiconScorer) === 400L)
    // a timer tick: 50 new reviews land in bronze and silver, then enrich
    val tick = ReviewPages.write(root.resolve("pages-b"), 50, firstId = 1000L)
    assert(Orchestration.run(spark, tick.toString, layout, LexiconScorer) === 50L)
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(layout.results, layout.silver).foreach { dir =>
      val rows = parquetFiles(dir).keys.toSeq.map { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
        try f.getFileName -> reader.getRecordCount finally reader.close()
      }
      assert(rows.nonEmpty && rows.forall(_._2 >= 1L), s"$dir footers: $rows")
    }
    assert(spark.read.parquet(layout.results).count() === 450L)
  }

  test("an enrich with nothing pending returns 0 and writes nothing") {
    val layout = Layout(Files.createTempDirectory("graft-empty").toString)
    Orchestration.run(spark, ReviewPages.write(12).toString, layout, LexiconScorer)
    val results = parquetFiles(layout.results)
    val silver = parquetFiles(layout.silver)
    assert(Orchestration.enrich(spark, layout, LexiconScorer) === 0L)
    assert(parquetFiles(layout.results) === results)
    assert(parquetFiles(layout.silver) === silver)
    assert(!Files.exists(Path.of(s"${layout.results}__staging")))
  }

  test("Orchestration.run twice on the same pages scores each review once") {
    val root = Files.createTempDirectory("graft-twice")
    val layout = Layout(root.resolve("lake").toString)
    val pages = ReviewPages.write(root.resolve("pages-a"), 15).toString
    assert(Orchestration.run(spark, pages, layout, LexiconScorer) === 15L)
    assert(Orchestration.run(spark, pages, layout, LexiconScorer) === 0L)
    // overlapping pages: ids 11-15 already landed, 16-20 are new, and 20
    // repeats within the call
    val overlap = ReviewPages.writePage(root.resolve("pages-b"), (11L to 20L) :+ 20L).toString
    assert(Orchestration.run(spark, overlap, layout, LexiconScorer) === 5L)

    val want = (1L to 20L).toSeq
    def ids(dir: String, c: String): Seq[Long] =
      spark.read.parquet(dir).select(col(c).cast("long")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(layout.bronze, "review_id") === want, "each id once in bronze")
    assert(ids(layout.silver, "id") === want, "each id once in silver")
    assert(ids(layout.results, "record_id") === want, "each id once in results")
    assert(spark.read.parquet(layout.silver).filter(col("processed") === 0).count() === 0L)

    // the dashboard page reads bronze: it must equal one run over ids 1-20
    val single = Layout(root.resolve("single").toString)
    Orchestration.run(spark, ReviewPages.write(root.resolve("pages-all"), 20).toString,
      single, LexiconScorer)
    def page(l: Layout) = ReviewIngest.pageQuery(spark.read.parquet(l.bronze)).collect().toSeq
    assert(page(layout).nonEmpty)
    assert(page(layout) === page(single))
  }
}
