package graft

import graft.ml.BatchedScorer
import graft.ml.BatchedScorer.{Doc, Scored}
import graft.sources.ReviewIngest
import org.apache.spark.sql.functions._

/** Quarantine scoring, ragged page merge. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("quarantine mode: poison batch yields error rows, not a failed job") {
    val docs = (1 to 25).map(i => Doc(i.toString, if (i == 13) "POISON" else s"t$i"))
      .toDS().repartition(1)
    def scorer(batch: Seq[Doc]): Seq[Scored] = {
      if (batch.exists(_.text == "POISON")) sys.error("scorer exploded")
      batch.map(d => Scored(d.record_id, "neutral", 0.5))
    }
    val out = BatchedScorer.scoreBatchedWithQuarantine(docs, scorer _).collect()
    assert(out.length === 25)
    val failed = out.filter(_.error != null)
    // the poison doc's whole batch of 10 quarantines (abort-whole-batch is
    // the reference's RPC granularity); the other batches score
    assert(failed.length === 10)
    assert(failed.forall(_.sentiment == null))
    assert(out.count(_.sentiment == "neutral") === 15)
  }

  test("strict mode reproduces abort-all") {
    val docs = (1 to 5).map(i => Doc(i.toString, "POISON")).toDS()
    intercept[org.apache.spark.SparkException] {
      BatchedScorer.scoreBatchedWithQuarantine(
        docs, _ => sys.error("boom"), strict = true).collect()
    }
  }

  test("mergePages aligns ragged schemas by name with null fill") {
    val p1 = Seq((1L, "t1")).toDF("review_id", "title")
    val p2 = Seq((2L, "fr")).toDF("review_id", "languagecode")
    val merged = ReviewIngest.mergePages(Seq(p1, p2))
    assert(merged.columns.toSet === Set("review_id", "title", "languagecode"))
    assert(merged.count() === 2L)
    assert(merged.filter(col("review_id") === 2L).select("title").head().isNullAt(0))
  }
}
