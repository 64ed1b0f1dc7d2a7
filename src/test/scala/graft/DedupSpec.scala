package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup invariants (D1/D2): idempotence, keep-rule determinism, and LSH
  * candidate quality on planted near-duplicates. */
class DedupSpec extends SparkSpec with org.scalactic.Tolerance {
  import spark.implicits._

  test("D1: exact dedup keeps exactly one row per key, lowest order value") {
    val df = Seq((1L, "a", 10), (2L, "a", 5), (3L, "b", 7)).toDF("id", "key", "v")
    val out = Dedup.exactDedup(df, Seq("key"), "id").collect()
    assert(out.length === 2)
    assert(out.map(r => r.getString(1) -> r.getLong(0)).toMap === Map("a" -> 1L, "b" -> 3L))
  }

  test("D1: dedup is idempotent — dedup(dedup(x)) == dedup(x)") {
    val docs = Tables.documents(spark, sf)
    val once = Dedup.exactDedup(docs, Seq("lang", "source"), "doc_id")
    val twice = Dedup.exactDedup(once, Seq("lang", "source"), "doc_id")
    assert(once.count() === twice.count())
    assert(once.except(twice).isEmpty)
  }

  test("D2: minhash signatures are deterministic across runs") {
    val sh = Dedup.shingles(Tables.documents(spark, sf))
    val s1 = Dedup.minhashSignatures(sh).orderBy("doc_id").collect()
    val s2 = Dedup.minhashSignatures(sh).orderBy("doc_id").collect()
    assert(s1.sameElements(s2))
  }

  test("D2: LSH banding finds planted near-duplicates") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val nearDup = base.replace("lazy", "sleepy") // high-jaccard pair
    val distinct = "completely different content about spark execution engines and shuffles " * 4
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinct)).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs)
    val cand = Dedup.bandedCandidates(Dedup.minhashSignatures(sh))
    val verified = Dedup.verifyJaccard(sh, cand)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 2L)))
    assert(!verified.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("D2: docs shorter than the shingle width flow through without crashing") {
    // sequence(0, size - n) is DESCENDING for size < n — unguarded, slice
    // throws on these legal short documents (ADVICE r02)
    val docs = Seq((1L, "one"), (2L, "two words"), (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, n = 3)
    assert(sh.select("doc_id").distinct().as[Long].collect().toSet === Set(3L),
      "only the doc with >= n tokens has shingles")
    val cand = Dedup.bandedCandidates(Dedup.minhashSignatures(sh))
    assert(cand.count() === 0L)
  }

  test("D2: exact Jaccard verification computes the right value") {
    // two docs sharing exactly half their shingle sets
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, n = 3) // shingles: 4 per doc, 2 shared
    val j = Dedup.verifyJaccard(sh, Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .select("jaccard").head().getDouble(0)
    assert(j === 2.0 / 6.0 +- 0.001)
  }

  test("D2: ML MinHashLSH agrees with hand-rolled LSH on planted dups") {
    val base = "spark shuffles partition data across executors for wide dependencies " * 3
    val docs = Seq(
      (1L, base), (2L, base.replace("wide", "narrow")),
      (3L, "unrelated text about hotel reviews and sentiment scoring pipelines " * 3))
      .toDF("doc_id", "text")
    val tokenizer = new org.apache.spark.ml.feature.RegexTokenizer()
      .setInputCol("text").setOutputCol("tokens").setPattern("\\s+")
    val ngram = new org.apache.spark.ml.feature.NGram().setN(3)
      .setInputCol("tokens").setOutputCol("shingles")
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("shingles").setOutputCol("features").setNumFeatures(1 << 18)
    val staged = tf.transform(ngram.transform(tokenizer.transform(docs)))
    val lsh = new org.apache.spark.ml.feature.MinHashLSH()
      .setInputCol("features").setOutputCol("hashes").setNumHashTables(8).setSeed(42L)
    val pairs = lsh.fit(staged).approxSimilarityJoin(staged, staged, 0.6, "d")
      .select(col("datasetA.doc_id").as[Long], col("datasetB.doc_id").as[Long])
      .filter(r => r._1 < r._2).collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("near-dup clusters: min-label propagation finds connected components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) === 1L && clusters(2L) === 1L && clusters(3L) === 1L)
    assert(clusters(10L) === 10L && clusters(11L) === 10L)
  }

  test("near-dup clusters: chain longer than one hop converges") {
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(chain).collect().map(_.getLong(1)).distinct
    assert(clusters.toSeq === Seq(1L), "chain should collapse to one cluster")
  }

  test("canonical selection: longest doc wins its cluster, ties to lowest id") {
    // planted cluster {1,2,3}: doc 2 is longest; singleton pair {10,11} tie
    // on length so 10 (lowest id) wins
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster")
    val docs = Seq(
      (1L, "aa bb"), (2L, "aa bb cc dd ee"), (3L, "aa"),
      (10L, "xx yy"), (11L, "zz ww"))
      .toDF("doc_id", "text")
    val byKeep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("len").desc, col("doc_id").asc)
    val won = labels.join(docs.select(col("doc_id"), length(col("text")).as("len")), Seq("doc_id"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(byKeep))
      .filter(col("rn") === 1)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(won === Map(1L -> 2L, 10L -> 10L))
    // and the end-to-end registered query returns one canonical per cluster
    val e2e = Dedup.canonicalPerCluster(spark, sf)
    assert(e2e.select("cluster").distinct().count() === e2e.count())
  }

  test("shingle/signature artifacts are memoized per (session, corpus)") {
    val d = privateCorpus("documents")
    val (sh1, sig1) = Dedup.shingleArtifacts(spark, d)
    val (sh2, sig2) = Dedup.shingleArtifacts(spark, d)
    assert((sh1 eq sh2) && (sig1 eq sig2),
      "second call must return the same persisted frames, not a rebuild")
    // lifecycle: invalidating the corpus forces a rebuild on next access
    operators.SessionCache.invalidate(d)
    val (sh3, _) = Dedup.shingleArtifacts(spark, d)
    assert(!(sh3 eq sh1), "invalidate must evict the memoized frames")
    operators.SessionCache.invalidate(d)
    streaming.EventsStream.deleteRecursively(new java.io.File(d))
  }

  test("minhash banding recall: every exact pair at j >= 0.5 survives the banded path") {
    // exact 3-shingle Jaccard over a bounded slice (all-pairs BY DESIGN — the
    // correctness baseline), vs the banded pipeline at the same threshold.
    // b=8/r=4 banding admits a j-pair with prob 1-(1-j⁴)⁸ (≈ 40% at j=0.5,
    // 98.5% at j=0.8) PER HASH DRAW — but the draw is deterministic here, so
    // recall on THIS corpus is a fixed, pinnable fact, not a probability.
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 80)
    val sh = Dedup.shingles(docs)
    val ids = sh.select(col("doc_id")).distinct()
    val allPairs = ids.select(col("doc_id").as("doc_a"))
      .crossJoin(ids.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
    val exact = Dedup.verifyJaccard(sh, allPairs)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.verifyJaccard(sh, Dedup.bandedCandidates(Dedup.minhashSignatures(sh)))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(exact), "banded pairs must verify against the same exact measure")
    val missed = exact -- banded
    assert(missed.isEmpty,
      s"exact j>=0.5 pairs missed by b=8/r=4 banding on this corpus: $missed")
  }

  test("full-corpus LSH clusters refine the exact bounded clusters on the overlap") {
    // the scale path's pairs (3-shingle minhash, j >= 0.2), restricted to the
    // oracle slice, must never link docs the exact bigram clustering
    // (threshold 0.05, strictly looser) puts in different clusters
    val exact = Dedup.clusterLabels(spark, sf)
    val lshPairs = Dedup.nearDupPairs(spark, sf, 0.2)
      .filter(col("doc_a") < 80 && col("doc_b") < 80)
    val disagree = lshPairs
      .join(exact.select(col("doc_id").as("doc_a"), col("cluster").as("ca")), Seq("doc_a"))
      .join(exact.select(col("doc_id").as("doc_b"), col("cluster").as("cb")), Seq("doc_b"))
      .filter(col("ca") =!= col("cb"))
    assert(disagree.isEmpty, "an LSH near-dup pair links across exact clusters")
    // the registered summary runs end-to-end over the WHOLE corpus and is
    // structurally sane: every cluster has >= 2 members (labels only exist
    // for docs appearing in some pair) and the label is its own min member
    val sum = Dedup.nearDupClusterSummaryLsh(spark, sf)
    assert(sum.filter(col("cluster_size") < 2).isEmpty)
  }

  test("SimHash: identical docs get identical signatures; near-dups are close") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val docs = Seq((1L, base), (2L, base), (3L, base.replace("beta", "exla")))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    val hamming = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(hamming <= 16, s"near-dup hamming was $hamming")
  }

  test("simhash/ml recall bounds: flags green, truth non-empty, decimation trips") {
    for ((name, bound) <- Seq("simhash" -> Dedup.simhashRecallBound(spark, sf),
                              "ml" -> Dedup.mlRecallBound(spark, sf))) {
      val r = bound.head()
      assert(r.getAs[Long]("n_true_high") > 0, s"$name: empty slice truth verifies nothing")
      assert(r.getAs[Int]("recall_in_bound") === 1, s"$name recall flag")
    }
    // an empty pair set must trip the flag (truth is non-empty here)
    val empty = Dedup.simhashNearDups(spark, sf, 8)
      .filter(col("doc_a") < 0).select(col("doc_a"), col("doc_b"))
    val tripped = Dedup.recallBoundVsHighJaccard(spark, sf, empty, minRecall = 0.75).head()
    assert(tripped.getAs[Int]("recall_in_bound") === 0, "empty pair set must trip recall")
  }

  test("incremental near-dup: cross-set only, exact-verified, bound flags green") {
    val pairs = Dedup.incrementalNearDupPairs(spark, sf).collect()
    // every emitted pair must straddle the batch boundary, new side first
    pairs.foreach { r =>
      assert(r.getAs[Long]("new_doc") % 10 === 6L, "left side must be the new batch")
      assert(r.getAs[Long]("dup_of") % 10 !== 6L, "right side must be the corpus")
      assert(r.getAs[Double]("jaccard") >= 0.4999, "verify threshold")
    }
    // the probe's cross-set result must agree with the full production
    // pipeline restricted to cross-set pairs: same banding, same verify —
    // incrementality must not change WHAT is found, only what is scanned
    val prod = Dedup.nearDupPairs(spark, sf, 0.5).collect().flatMap { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      if ((a % 10 == 6) != (b % 10 == 6))
        Some(if (a % 10 == 6) (a, b) else (b, a)) else None
    }.toSet
    val inc = pairs.map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"))).toSet
    // production rounds jaccard to 4dp before thresholding; the
    // incremental path thresholds unrounded — allow only boundary rows to
    // differ (none exist in the test corpora; assert set equality modulo
    // the 0.49995..0.5 band)
    assert(inc === prod, s"incremental must equal production cross-set: $inc vs $prod")
    val bound = Dedup.incrementalNearDupBound(spark, sf).head()
    assert(bound.getAs[Long]("n_true_cross") > 0, "cross-set truth must be non-vacuous")
    assert(bound.getAs[Int]("precision_ok") === 1)
    assert(bound.getAs[Int]("recall_in_bound") === 1)
  }

  test("D1 incremental: bloom-pruned result equals the plain exact anti-join") {
    val docs = Tables.documents(spark, sf)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val existing = docs.filter(col("doc_id") % 10 < 6)
    val pruned = Dedup.incrementalDedupFrames(incoming, existing)
      .select("doc_id").as[Long].collect().sorted
    val exact = incoming
      .withColumn("h", xxhash64(col("text")))
      .join(existing.select(xxhash64(col("text")).as("h")), Seq("h"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(pruned.sameElements(exact), "bloom pruning must not change the result")
    assert(pruned.nonEmpty, "split must leave some genuinely-new docs")
    assert(pruned.length < incoming.count(), "split must leave some dups to drop")
  }

  test("D1 incremental: empty snapshot keeps every incoming row") {
    val incoming = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val existing = incoming.filter(col("doc_id") < 0) // empty, same schema
    val out = Dedup.incrementalDedupFrames(incoming, existing)
    assert(out.count() === 2, "null bloom (no snapshot) must coalesce to keep-all")
  }

  test("D1 incremental: full-overlap snapshot drops every incoming row") {
    val incoming = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val existing = Seq((10L, "alpha"), (11L, "beta")).toDF("doc_id", "text")
    assert(Dedup.incrementalDedupFrames(incoming, existing).count() === 0)
  }

  test("edit-distance pairs match a driver DP recomputation on a small slice") {
    val got = Dedup.editDistancePairs(spark, sf, maxDocId = 60).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("lev")).toMap
    // independent classic Levenshtein, driver-side
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      d = lev(ta, tb) if d <= 60 && d <= 0.25 * math.max(ta.length, tb.length)
    } yield (ia, ib) -> d).toMap
    assert(got === expected)
  }

  test("edit-distance scale path: exact precision, high recall vs the bounded baseline") {
    val exact = Dedup.editDistancePairs(spark, sf, maxDocId = 1000000L).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("lev")).toMap
    val scale = Dedup.editDistanceNearDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("lev")).toMap
    assert(exact.nonEmpty, "planted near-dups must produce relative-threshold pairs")
    // every emitted pair is a true pair with the exact distance (precision 1)
    scale.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"scale path emitted a wrong pair/distance $k -> $v")
    }
    // tiny-edit pairs share nearly all shingles — banding recall ≥ 90%
    assert(scale.size >= math.ceil(exact.size * 0.9).toInt,
      s"recall ${scale.size}/${exact.size} below the banding bound")
  }

  test("D1 incremental: plan probes ONE reused bloom subquery, anti-join broadcasts") {
    val docs = Tables.documents(spark, sf)
    val plan = Dedup.incrementalDedupFrames(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 10 < 6))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom probe missing from the plan")
    assert(plan.contains("LeftAnti"), "exact verify must be an anti-join")
    assert(!plan.contains("SortMergeJoin"),
      s"the maybe-set anti-join must broadcast, not shuffle the corpus:\n$plan")
  }
}
