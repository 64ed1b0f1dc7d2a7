package graft

import graft.sources.ReviewIngest
import org.apache.spark.sql.functions._

/** The reference's ingest-side query (P3/P4/P5 + O1/O2) on the golden
  * fixture `ReviewIngest.samplePath`, a reconstruction of the reference's
  * captured API response from the witness values SURVEY.md §1.2 cites
  * (FIXTURES.md §1). Its languages and author types include values outside
  * the query's lists, and 7 of its 25 reviews match with 6 distinct
  * helpful-vote counts, so the predicate, order and page-size checks are
  * not vacuous. */
class PageQuerySpec extends SparkSpec {
  private lazy val reviews = ReviewIngest.ingest(spark, ReviewIngest.samplePath)

  test("page query applies all three predicate classes") {
    val page = ReviewIngest.pageQuery(reviews).collect()
    assert(page.nonEmpty, "golden fixture should contain matching reviews")
    assert(page.forall(r => Seq("en-gb", "de", "fr").contains(r.getAs[String]("languagecode"))))
    assert(page.forall(r =>
      Seq("solo_traveller", "review_category_group_of_friends").contains(r.getAs[String]("author_type"))))
  }

  test("relevance order: helpful votes desc, recency desc") {
    val page = ReviewIngest.pageQuery(reviews).collect()
    val votes = page.map(_.getAs[Int]("helpful_vote_count"))
    assert(votes.sameElements(votes.sortBy(v => -v)), "not sorted by helpful votes desc")
    // the exact page: 5140076690 (2025-01-04) and 5139540968 (2024-12-02)
    // tie at 2 votes, and recency puts the newer one first, ahead of the
    // review_id tiebreak that would order them the other way round
    assert(page.map(_.getAs[Long]("review_id")).toSeq === Seq(
      5139735972L, 5139492182L, 5140125308L, 5140076690L, 5139540968L,
      5139150288L, 5138954612L))
  }

  test("page size caps the result (O2)") {
    assert(ReviewIngest.pageQuery(reviews, pageSize = 2).count() === 2L)
    assert(ReviewIngest.pageQuery(reviews).count() === 7L, "the default page holds every match")
  }
}
