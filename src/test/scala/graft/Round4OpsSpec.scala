package graft

import graft.operators.{Corpus, Dedup, Relational, TextAnalysis}
import org.apache.spark.sql.functions._

/** Pins for the round-4 additions: BM25 ranking, token entropy, PMI
  * collocations, explicit moment statistics, deterministic mode, frame-edge
  * window functions, and the bound-oracled MinHash estimator. Each test pins
  * an invariant the DuckDB hash-compare can't see (internal consistency,
  * agreement with an independent Spark built-in, estimator bounds).
  */
class Round4OpsSpec extends SparkSpec with org.scalactic.Tolerance {

  test("token entropy is bounded by ln(n_types) and ttr is in (0, 1]") {
    val rows = TextAnalysis.tokenEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTypes = r.getAs[Long]("n_types")
      val entropy = r.getAs[Double]("entropy")
      val ttr = r.getAs[Double]("ttr")
      assert(nTypes <= r.getAs[Long]("n_tokens"))
      // entropy is ROUNDED to 4dp in the query output, so allow the half-ulp
      // of that rounding (5e-5) over the exact ln(n_types) ceiling
      assert(entropy >= -1e-9 && entropy <= math.log(nTypes.toDouble) + 5.1e-5)
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }

  test("bm25 ranking is dense, deterministic, and monotone in score") {
    val rows = TextAnalysis.bm25Rank(spark, sf).orderBy(col("rank")).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r.getAs[Long]("n_terms_hit") >= 1L && r.getAs[Long]("n_terms_hit") <= 4L))
  }

  test("pmi collocations honor the min-count floor and rank by pmi") {
    val rows = TextAnalysis.pmiCollocations(spark, sf).orderBy(col("rank")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("cab") >= 5L))
    val pmis = rows.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
  }

  test("explicit moments agree with Spark's population skewness/kurtosis") {
    // Spark's built-ins ARE the population formulas — an independent
    // implementation of the same two-pass arithmetic must agree to float
    // noise. (The oracle can't make this comparison: DuckDB's built-ins are
    // sample-corrected, which is exactly why momentStats spells the math out.)
    val ours = Relational.momentStats(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val builtins = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(skewness(col("value")).as("sk"), kurtosis(col("value")).as("ku"))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(ours.keySet == builtins.keySet && ours.nonEmpty)
    ours.foreach { case (et, r) =>
      assert(r.getAs[Double]("skew") === builtins(et).getAs[Double]("sk") +- 1e-3)
      assert(r.getAs[Double]("excess_kurt") === builtins(et).getAs[Double]("ku") +- 1e-3)
    }
  }

  test("modal event type is the true per-user argmax count") {
    val counts = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
    val maxes = counts.groupBy(col("user_id")).agg(max(col("n")).as("n_max"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_max")).toMap
    val modal = Relational.modalEventType(spark, sf).collect()
    assert(modal.length == maxes.size)
    modal.foreach { r =>
      assert(r.getAs[Long]("n_events") == maxes(r.getAs[Long]("user_id")))
    }
  }

  test("frame-edge windows: last/first constant per partition, nth null iff short") {
    val rows = Relational.windowFirstLast(spark, sf).collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    assert(rows.nonEmpty)
    rows.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("first_order")).distinct.length == 1)
      assert(rs.map(_.getAs[Long]("last_order")).distinct.length == 1)
      val second = rs.map(r => Option(r.getAs[Any]("second_order")))
      if (rs.length == 1) assert(second.head.isEmpty)
      else assert(second.forall(_.nonEmpty))
    }
  }

  test("minhash estimate stays inside the 4.5-sigma bound on every pair") {
    val rows = Dedup.minhashJaccardEst(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("in_bound") == 1))
  }

  test("trailing moving average stays inside each user's value envelope") {
    val avgs = Relational.movingAvg(spark, sf)
    val env = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val out = avgs.join(env, Seq("user_id"))
      // floor-to-cents can sit up to 0.01 below the true min
      .filter(col("trailing_avg") < col("lo") - 0.01 || col("trailing_avg") > col("hi"))
    assert(out.count() == 0)
  }

  test("MAD is non-negative and outliers are a strict subset") {
    val rows = Relational.madOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n_events"))
    }
  }

  test("correlation is bounded in [-1, 1]") {
    val rows = Relational.corrStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("qty_price_corr")) <= 1.0))
  }

  test("mutual information is non-negative and chi2/dof are consistent") {
    val mi = Corpus.langSourceMi(spark, sf)
      .agg(sum(col("mi_term"))).head().getDouble(0)
    // MI >= 0 for any joint distribution; per-cell terms may be negative
    assert(mi >= -1e-9)
    val chi = Corpus.langSourceChi2(spark, sf).head()
    assert(chi.getAs[Double]("chi2") >= 0.0)
    val nLang = Tables.documents(spark, sf).select(col("lang")).distinct().count()
    val nSrc = Tables.documents(spark, sf).select(col("source")).distinct().count()
    assert(chi.getAs[Long]("dof") == (nLang - 1) * (nSrc - 1))
  }

  test("KS statistic is a probability-difference in [0, 1]") {
    val r = Corpus.ksLengthTest(spark, sf).head()
    val d = r.getAs[Double]("ks_d")
    assert(d >= 0.0 && d <= 1.0)
    assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
  }

  test("ann recall bound flags are set for both approximate paths") {
    val r = graft.operators.Similarity.annRecallBound(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_queries") == 10L)
    assert(r.head.getAs[Int]("ivf_in_bound") == 1)
    assert(r.head.getAs[Int]("lsh_in_bound") == 1)
  }

  test("token gini is in [0, 1) and grows with concentration") {
    val r = Corpus.tokenGini(spark, sf).head()
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0)
    assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
  }

  test("novelty is a ratio and unique shingles are a subset") {
    val rows = Dedup.noveltyScores(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_shingles"))
      val nv = r.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
    }
  }

  test("passage-dedup keep flag matches the shared-ratio policy") {
    val rows = Dedup.passageDedupDecision(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_windows"))
      val keep = r.getAs[Int]("keep") == 1
      assert(keep == (r.getAs[Double]("shared_ratio") <= 0.5))
    }
  }

  test("zipf slope is negative on natural-ish frequency decay") {
    val r = Corpus.zipfSlope(spark, sf).head()
    assert(r.getAs[Long]("n_types") > 1L)
    assert(r.getAs[Double]("zipf_slope") < 0.0)
  }

  test("ewma stays inside each user's value envelope") {
    val out = Relational.ewmaTrailing(spark, sf)
    val env = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // any convex combination of (floor-cents of) past values sits in the
    // envelope, up to the 0.01 floor slack
    val bad = out.join(env, Seq("user_id"))
      .filter(col("ewma") < col("lo") - 0.01 || col("ewma") > col("hi"))
    assert(bad.count() == 0)
  }

  test("densified hourly series is gapless and sums to the event count") {
    val dense = Relational.densifyHourly(spark, sf)
    val nTypes = Tables.events(spark, sf).select(col("event_type")).distinct().count()
    val hours = dense.select(col("hour")).distinct().count()
    // spine completeness: rows = hours × types exactly
    assert(dense.count() == hours * nTypes)
    // zero-filling must not invent or lose events
    val total = dense.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("activity islands partition the active hours exactly") {
    val islands = Relational.activityIslands(spark, sf)
    val activeHours = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts"))).distinct().count()
    assert(islands.agg(sum(col("n_hours"))).head().getLong(0) == activeHours)
    islands.collect().foreach { r =>
      assert(!r.getAs[java.sql.Timestamp]("island_start")
        .after(r.getAs[java.sql.Timestamp]("island_end")))
    }
  }

  test("round-4 corpus operators survive a hostile documents table end to end") {
    // The EdgeCaseSpec poison shapes, written as a FULL-schema documents
    // table so the (session, dir)-shaped operators run against it unchanged
    // — a poison row must degrade (drop/null), never throw under ANSI mode.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-poison-docs").toString
    Seq(
      (1L, null.asInstanceOf[String], "en", "src0", 0L),
      (2L, "", "en", "src0", 0L),
      (3L, "   \t  ", "de", "src1", 6L),
      (4L, "single", "de", "src1", 6L),
      (5L, "two tokens", "fr", "src2", 10L),
      (6L, "日本語のテキストです 中文文本", "zh", "src2", 14L),
      (7L, "emoji 🎉🎊 and controlchars", "en", "src0", 28L),
      (8L, ("a " * 50) + "long tail", "en", "src1", 109L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.operators.SessionCache.invalidate(dir)
    // each op must EXECUTE without an exception; row counts are free to be 0
    assert(TextAnalysis.tokenEntropy(spark, dir).collect() != null)
    assert(TextAnalysis.bm25Rank(spark, dir).collect() != null)
    assert(TextAnalysis.pmiCollocations(spark, dir, minCount = 1).collect() != null)
    assert(Dedup.noveltyScores(spark, dir).collect() != null)
    assert(Dedup.passageDedupDecision(spark, dir).collect() != null)
    assert(Dedup.minhashJaccardEst(spark, dir).collect() != null)
    assert(Corpus.zipfSlope(spark, dir).collect() != null)
    assert(Corpus.tokenGini(spark, dir).collect() != null)
    assert(Corpus.ksLengthTest(spark, dir).collect() != null)
    assert(Corpus.langSourceMi(spark, dir).collect() != null)
    assert(Corpus.langSourceChi2(spark, dir).collect() != null)
    graft.operators.SessionCache.invalidate(dir)
  }
}
