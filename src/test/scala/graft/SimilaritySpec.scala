package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity-search invariants (D3): exact cosine math, brute-force top-k
  * correctness on known vectors, and LSH recall against the exact baseline. */
class SimilaritySpec extends SparkSpec with org.scalactic.Tolerance {
  import spark.implicits._

  test("cosine column math: orthogonal=0, identical=1, opposite=-1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 2.0), Seq(1.0, 2.0), 1.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0)).toDF("a", "b", "expected")
    val rows = df.withColumn("cos", graft.functions.VectorFunctions.cosine(col("a"), col("b"))).collect()
    rows.foreach(r => assert(r.getDouble(3) === r.getDouble(2) +- 1e-9))
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (1L, Seq(1.0f, 0.1f)),   // closest
      (2L, Seq(1.0f, 1.0f)),   // mid
      (3L, Seq(0.0f, 1.0f)),   // orthogonal
      (4L, Seq(-1.0f, 0.0f)))  // opposite
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(q, c, 3).orderBy("rank")
      .select("cand_id").as[Long].collect()
    assert(out.toSeq === Seq(1L, 2L, 3L))
  }

  test("LSH top-k achieves >=60% recall@5 vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(queries, emb, 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall was $recall")
  }

  test("probe-quality bounds: all flags green, and each flag actually bites") {
    // the three promoted gate payloads must be all-green on real data …
    for ((name, bound) <- Seq(
        "ivf" -> operators.IvfIndex.annIvfBound(spark, sf),
        "q8" -> operators.IvfIndex.annIvfQ8Bound(spark, sf),
        "lsh" -> Similarity.annLshBound(spark, sf))) {
      val r = bound.head()
      assert(r.getAs[Long]("n_queries") === 10L, s"$name n_queries")
      assert(r.getAs[Long]("n_exact") === 50L, s"$name n_exact")
      assert(r.getAs[Int]("recall_in_bound") === 1, s"$name recall flag")
      assert(r.getAs[Int]("returned_in_bound") === 1, s"$name returned flag")
      assert(r.getAs[Int]("regret_in_bound") === 1, s"$name regret flag")
    }
    // … and a deliberately broken probe must trip them: feeding the WORST
    // 5 candidates as the "probe" maximizes regret and zeroes recall
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, 5)
    val worst = {
      import org.apache.spark.sql.expressions.Window
      val qq = q.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        graft.functions.VectorFunctions.vecNorm(col("embedding")).as("q_norm"))
      val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        graft.functions.VectorFunctions.vecNorm(col("embedding")).as("c_norm"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").asc, col("cand_id").asc)
      c.crossJoin(broadcast(qq)).filter(col("query_id") =!= col("cand_id"))
        .withColumn("cos", try_divide(
          graft.functions.VectorFunctions.vecDot(col("q_emb"), col("c_emb")),
          col("q_norm") * col("c_norm")))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("cand_id"), round(col("cos"), 4).as("cos"), col("rank"))
    }
    val tripped = Similarity.probeQualityBound(brute, worst,
      minRecall = 0.6, maxRegret = 0.12, minReturnedFrac = 1.0).head()
    assert(tripped.getAs[Int]("recall_in_bound") === 0, "worst-probe recall must trip")
    assert(tripped.getAs[Int]("regret_in_bound") === 0, "worst-probe regret must trip")
    assert(tripped.getAs[Int]("returned_in_bound") === 1, "volume alone stays green")
  }

  test("cosine near-dup LSH bound: flags green on real data, trip when decimated") {
    val bound = Similarity.cosineNearDupLshBound(spark, sf).head()
    val exactN = Similarity.cosineNearDups(spark, sf).count()
    assert(bound.getAs[Long]("n_true_slice") === exactN, "slice truth count")
    assert(exactN > 0, "empty slice truth — the bound verifies nothing")
    assert(bound.getAs[Int]("slice_recall_in_bound") === 1)
    assert(bound.getAs[Int]("precision_ok") === 1)
    // a decimated pair set (~1/7 kept) must trip the recall flag; a pair
    // frame with a sub-threshold cosine must trip precision
    val lsh = Similarity.cosineNearDupsBucketed(spark, sf)
    val exact = Similarity.cosineNearDups(spark, sf)
    val thinned = Similarity.pairSetBound(
      lsh.filter(col("vec_a") % 7 === 0), exact, 0.35, 0.7).head()
    assert(thinned.getAs[Int]("slice_recall_in_bound") === 0, "decimation must trip recall")
    val polluted = Similarity.pairSetBound(
      lsh.withColumn("cos", col("cos") - 0.2), exact, 0.35, 0.7).head()
    assert(polluted.getAs[Int]("precision_ok") === 0, "sub-threshold cos must trip precision")
  }

  test("LSH signatures are deterministic (seeded hyperplanes)") {
    val emb = Tables.embeddings(spark, sf).limit(20)
    val r1 = Similarity.lshTopK(emb.filter(col("vec_id") < 3), emb, 3).collect()
    val r2 = Similarity.lshTopK(emb.filter(col("vec_id") < 3), emb, 3).collect()
    assert(r1.sameElements(r2))
  }

  test("VecDot participates in whole-stage codegen (not a fallback leaf)") {
    val df = Tables.embeddings(spark, sf)
      .select(graft.functions.VectorFunctions.vecDot(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact plan form;
    // the vecdot projection must sit inside one
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("vecdot")),
      s"vecdot not inside a codegen span:\n$plan")
    // interpreted eval agrees with the generated code path
    val viaCodegen = df.head().getDouble(0)
    val row = Tables.embeddings(spark, sf).select("embedding").head().getSeq[Float](0)
    val expected = row.map(v => v.toDouble * v).sum
    assert(math.abs(viaCodegen - expected) < 1e-6)
  }

  test("bucketed cosine near-dup: exact-verified subset of the baseline, recall >= 60%") {
    val exact = Similarity.cosineNearDups(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // apply the exact baseline's vec_id bound to the (unbounded) bucketed
    // side too, so the subset/recall comparison stays valid if the test
    // corpus ever grows past maxVecId vectors
    val bucketed = Similarity.cosineNearDupsBucketed(spark, sf)
      .filter(col("vec_a") < 500 && col("vec_b") < 500)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // candidates are verified with EXACT cosine, so no false positives ever
    assert(bucketed.subsetOf(exact), s"false positives: ${bucketed -- exact}")
    assert(exact.nonEmpty, "baseline found no pairs — threshold too high for testdata")
    val recall = (exact & bucketed).size.toDouble / exact.size
    assert(recall >= 0.6, s"bucketed recall was $recall")
  }

  test("bucketed near-dup plans with NO cartesian product (equi-join on buckets only)") {
    val plan = Similarity.cosineNearDupsBucketed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed path must never plan an all-pairs join:\n$plan")
  }

  test("duplicate native-expression instances compile in one codegen function (fresh locals)") {
    // two VecDot/VecNorm/PolyHash instances land in the SAME generated
    // function; with fixed local names Janino rejects the span and Spark
    // silently falls back to interpreted eval. fallback=false makes that
    // failure loud.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0), "ab", "cd")).toDF("a", "b", "s1", "s2")
        .select(
          graft.functions.VectorFunctions.vecDot(col("a"), col("a")).as("daa"),
          graft.functions.VectorFunctions.vecDot(col("b"), col("b")).as("dbb"),
          graft.functions.VectorFunctions.vecNorm(col("a")).as("na"),
          graft.functions.VectorFunctions.vecNorm(col("b")).as("nb"),
          graft.functions.TextFunctions.polyHash(col("s1")).as("h1"),
          graft.functions.TextFunctions.polyHash(col("s2")).as("h2"))
      val r = df.head()
      assert(r.getDouble(0) === 5.0 +- 1e-9)
      assert(r.getDouble(1) === 25.0 +- 1e-9)
      assert(r.getDouble(2) === math.sqrt(5.0) +- 1e-9)
      assert(r.getDouble(3) === math.sqrt(25.0) +- 1e-9)
      def ph(s: String) = s.foldLeft(0L)((acc, c) => (acc * 257L + c) % 1000000007L)
      assert(r.getLong(4) === ph("ab") && r.getLong(5) === ph("cd"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("int8 quantization: reconstruction error bounded by scale/2, range in [-127,127]") {
    val rows = Similarity.quantizeEmbeddings(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val maxErr = r.getDouble(3)
      // round-to-nearest puts every element within half a quantization step;
      // both outputs are rounded to 6dp, so allow that granularity as slack
      assert(maxErr <= scale / 2 + 1e-6, s"vec ${r.getLong(0)}: err $maxErr > ${scale / 2}")
    }
    // q_sum of a 64-dim int8 vector is bounded by 64 × 127
    assert(rows.forall(r => math.abs(r.getLong(2)) <= 64L * 127L))
  }

  test("label centroids: mean of each dimension within the label") {
    val df = Seq((0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)), (1, Seq(10.0f, 20.0f)))
      .toDF("label", "embedding")
    val cents = df
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg("v").as("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(cents((0, 0)) === 2.0 +- 1e-6)
    assert(cents((0, 1)) === 4.0 +- 1e-6)
    assert(cents((1, 0)) === 10.0 +- 1e-6)
  }


  test("SemDeDup: planted near-identical neighbors drop greedily within their cell only") {
    // cell 0: 1 and 2 are near-identical to 0 (within eps), 3 is not;
    // cell 1: 4 is an exact copy of 0 but sits in another cell — kept
    val assigned = Seq(
      (0, 0L, Seq(1.0f, 0.0f, 0.0f)),
      (0, 1L, Seq(0.999f, 0.01f, 0.0f)),  // ~0.9999 cos to id 0 -> dropped
      (0, 2L, Seq(0.998f, 0.02f, 0.0f)),  // near id 0 and id 1 -> dropped
      (0, 3L, Seq(0.0f, 1.0f, 0.0f)),     // orthogonal -> kept
      (1, 4L, Seq(1.0f, 0.0f, 0.0f)))     // duplicate embedding, other cell -> kept
      .toDF("cell", "vec_id", "embedding")
    val out = Similarity.semanticDedupFrom(assigned, eps = 0.05)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0) === ((4L, 2L)), s"cell 0: expected 2 of 4 dropped, got ${out(0)}")
    assert(out(1) === ((1L, 0L)), s"cell 1: cross-cell duplicate must be kept, got ${out(1)}")
  }

  test("SemDeDup summary is deterministic over the real IVF cells") {
    val r1 = Similarity.semanticDedup(spark, sf).orderBy("cell").collect()
    val r2 = Similarity.semanticDedup(spark, sf).orderBy("cell").collect()
    assert(r1.sameElements(r2))
    assert(r1.map(_.getLong(1)).sum === Tables.embeddings(spark, sf).count())
  }

  test("RP-signature artifacts are memoized per (session, corpus, params) with a drop hook") {
    val d = privateCorpus("embeddings")
    val (s1, n1) = Similarity.rpSigArtifacts(spark, d,
      Similarity.CosineLshTables, Similarity.CosineLshBits)
    val (s2, n2) = Similarity.rpSigArtifacts(spark, d,
      Similarity.CosineLshTables, Similarity.CosineLshBits)
    assert((s1 eq s2) && (n1 eq n2),
      "second call must return the same persisted frames, not a rebuild")
    val (other, _) = Similarity.rpSigArtifacts(spark, d, 2, Similarity.CosineLshBits)
    assert(!(other eq s1), "another geometry is another entry")
    operators.SessionCache.invalidate(d)
    assert(operators.SessionCache.size(d) === 0, "invalidate drops every geometry of the dir")
    val (s3, _) = Similarity.rpSigArtifacts(spark, d,
      Similarity.CosineLshTables, Similarity.CosineLshBits)
    assert(!(s3 eq s1), "invalidate must evict the memoized frames")
    operators.SessionCache.invalidate(d)
    streaming.EventsStream.deleteRecursively(new java.io.File(d))
  }
}
