package graft

import graft.sources.ReviewIngest
import org.apache.spark.sql.functions._

/** Golden-fixture ingest tests (SURVEY.md §5.1) on `ReviewIngest.samplePath`,
  * a reconstruction of the reference's captured API response from the
  * witness values SURVEY.md §1.2 cites (FIXTURES.md §1), not the capture
  * itself. The `sample.json:N` line numbers in the test names cite the
  * capture's witness lines. */
class IngestSpec extends SparkSpec {
  private val samplePath = ReviewIngest.samplePath
  private lazy val reviews = ReviewIngest.ingest(spark, samplePath).cache()

  test("envelope explodes to exactly 25 reviews (sample.json:2 count)") {
    assert(reviews.count() === 25L)
  }

  test("record 1 carries review_id 5140125308 (sample.json:22)") {
    assert(reviews.filter(col("review_id") === 5140125308L).count() === 1L)
  }

  test("ragged field: hotelier_response_date null in record 1, set in record 2") {
    val r1 = reviews.filter(col("review_id") === 5140125308L)
      .select("hotelier_response_date").head()
    assert(r1.isNullAt(0))
    assert(reviews.filter(col("hotelier_response_date").isNotNull).count() > 0)
  }

  test("empty strings are normalized to null (anonymous, author.age_group)") {
    assert(reviews.filter(col("anonymous") === "").count() === 0L)
    assert(reviews.filter(col("author.age_group") === "").count() === 0L)
    assert(reviews.filter(col("anonymous").isNull).count() > 0)
  }

  test("timestamp parsing: review_ts is a UTC timestamp, never null") {
    assert(reviews.filter(col("review_ts").isNull).count() === 0L)
    val y = reviews.select(min(year(col("review_ts")))).head().getInt(0)
    assert(y >= 2020 && y <= 2026)
  }

  test("epoch parsing: hotelier_response_ts matches the epoch-seconds column") {
    val row = reviews.filter(col("hotelier_response_date").isNotNull)
      .select(col("hotelier_response_date"),
        unix_timestamp(col("hotelier_response_ts"))).head()
    assert(row.getLong(0) === row.getLong(1))
  }

  test("nested extraction: author.type is populated (P4's filter target)") {
    assert(reviews.filter(col("author.type").isNull).count() === 0L)
  }

  test("silver build: id/text_column/processed with concat_ws skipping nulls") {
    val silver = ReviewIngest.toSilver(reviews)
    assert(silver.columns.toSeq === Seq("id", "text_column", "processed"))
    assert(silver.count() === 25L)
    assert(silver.filter(col("processed") =!= 0).count() === 0L)
    // every review has at least a title, so text_column is never empty
    assert(silver.filter(length(col("text_column")) === 0).count() === 0L)
  }

  test("corrupt records are retained, not dropped (PERMISSIVE posture)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-corrupt").toFile
    val p = new java.io.File(tmp, "bad.json")
    java.nio.file.Files.writeString(p.toPath, """{"count": 1, "result": [{"review_id": }]}""")
    // collect all columns first: Spark disallows queries that reference only
    // the internal corrupt-record column
    val rows = ReviewIngest.readEnvelope(spark, p.getAbsolutePath).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("_corrupt_record") != null)
  }
}
