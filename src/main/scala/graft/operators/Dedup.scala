package graft.operators

import graft.Tables
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, NGram, RegexTokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators (SURVEY.md §2.11 D1/D2) over the `documents`
  * corpus — reference hook: `review_hash`/`review_id` present-but-unused in
  * the captured API data (sample.json:21-22).
  *
  * Scale design: every path below is bucketed — candidates meet only inside a
  * hash bucket (LSH band or signature), never via an O(n²) all-pairs join.
  * At 100 TB the shuffle key is the band/bucket hash, so candidate
  * generation is one shuffle whose fan-in per reducer is the bucket size,
  * not the corpus size.
  */
object Dedup {

  /** D1 exact dedup, keep-first: canonical row per key via a row_number
    * window (deterministic, unlike dropDuplicates' arbitrary pick). One
    * shuffle on the dedup key. */
  def exactDedup(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** D1 as a registered query: one canonical doc per (lang, source),
    * keep lowest doc_id. */
  def exactDedupDocs(s: SparkSession, d: String): DataFrame =
    exactDedup(Tables.documents(s, d), Seq("lang", "source"), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** D1 keep-latest variant (the streaming-upsert shape: latest doc_id wins),
    * aggregated small for the oracle. */
  def keepLatestSummary(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id").desc)
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_canonical"), sum(col("doc_id")).as("id_sum"))
  }

  // ---------------------------------------------------------------- MinHash

  /** Word-level shingles as 64-bit hashes: (doc_id, shingle) pairs, distinct.
    * `n`-word windows over the whitespace token stream, hashed to longs
    * inside the same projection — the distinct/groupBy shuffles then carry
    * 8-byte keys instead of full shingle strings (at corpus scale that is
    * most of the exchange volume), and downstream minhash functions hash a
    * long instead of re-hashing the string. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val tokens = docs.select(col("doc_id"), split(lower(col("text")), "\\s+").as("tokens"))
    tokens
      // docs shorter than n tokens have no n-shingles; without the guard
      // sequence(0, negative) is DESCENDING ([0,-1,...]) and slice throws
      .filter(size(col("tokens")) >= n)
      .select(col("doc_id"), explode(
        // sliding n-gram via sequence + transform: no UDF, stays in codegen
        expr(s"transform(sequence(0, size(tokens) - $n), i -> xxhash64(concat_ws(' ', slice(tokens, i + 1, $n))))")
          .as("sh")).as("shingle"))
      .distinct()
  }

  /** MinHash signatures: `numHashes` seeded xxhash64 functions over the
    * shingle hash, elementwise min per doc. Partial aggregation makes the
    * shuffle carry one signature row per doc, independent of shingle count. */
  def minhashSignatures(sh: DataFrame, numHashes: Int = 32): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding: signature → (band_id, band_hash) keys. Docs agreeing on any
    * band become candidates via an equi-join on the band key — the bucketed
    * candidate join that replaces all-pairs. */
  def bandedCandidates(sig: DataFrame, bands: Int = 8, rows: Int = 4): DataFrame = {
    val banded = sig.select(
      col("doc_id"),
      posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, concat_ws(',', slice(sig, b * $rows + 1, $rows))))"))
        .as(Seq("band_id", "band_hash")))
    val a = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the shingle sets.
    * The intersection is computed candidate-first: candidates ⋈ shingles(a)
    * ⋈ shingles(b), so cost is |candidates| × avg-set-size. (Joining
    * shingles⋈shingles on the shingle key first would be quadratic in
    * shingle popularity — a common 3-gram shared by k docs costs k² rows
    * before any candidate filter, which detonates on a shared-vocabulary
    * corpus.) */
  def verifyJaccard(sh: DataFrame, candidates: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val inter = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("set_size", "size_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("set_size", "size_b"), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("n_common") / (col("size_a") + col("size_b") - col("n_common")), 4))
  }

  /** Shingle + signature frames memoized per (session, corpus dir) — the
    * persisted-artifact contract shared with the IVF index and cluster
    * labels: the shingle scan (tokenize + hash + distinct, the dominant cost
    * of the minhash path) and the signature aggregation are corpus BUILDS
    * that run once per corpus, not per query. At cluster scale these are
    * parquet tables written by the ingest pass; here the same contract is a
    * persisted frame keyed on the session identity so a restarted session is
    * never served frames bound to a dead context. (Round-3 verdict: the
    * unmemoized build re-ran inside every timed query — 44.7 s driver-side.) */
  @transient private lazy val shingleCache =
    new SessionCache[(DataFrame, DataFrame)]()

  def shingleArtifacts(s: SparkSession, d: String): (DataFrame, DataFrame) =
    shingleCache.getOrCompute(s, d) {
      val sh = shingles(Tables.documents(s, d)).persist()
      (sh, minhashSignatures(sh).persist())
    }

  /** Wide (passage-width) shingle frames under the same contract, keyed by
    * window size — [[repeatedPassageStats]]' corpus build. Separate from
    * [[shingleArtifacts]] because the minhash signatures that ride the
    * 3-gram frame have no analog here. */
  @transient private lazy val passageCache =
    new SessionCache[DataFrame]()

  def passageShingleArtifact(s: SparkSession, d: String, n: Int): DataFrame =
    passageCache.getOrCompute(s, d, n) {
      shingles(Tables.documents(s, d), n).persist()
    }

  /** D2 end-to-end (hand-rolled MinHash+LSH): near-dup pairs above a Jaccard
    * threshold. Deterministic (seeded hashes), bucketed throughout; reads the
    * memoized shingle/signature artifacts, so a query invocation pays only
    * the band join + candidate-proportional verify. */
  def nearDupPairs(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame = {
    val (sh, sig) = shingleArtifacts(s, d)
    val cand = bandedCandidates(sig)
    verifyJaccard(sh, cand)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash estimator accuracy, bound-oracled (the pattern that turned the
    * approx-percentile/distinct queries oracle-checkable): over a bounded
    * doc slice, every pair with exact 3-gram-shingle Jaccard ≥ `threshold`
    * gets its 128-hash MinHash estimate compared against the exact value.
    * The output carries the exact Jaccard (DuckDB recomputes it from the
    * shingle strings) plus an `in_bound` flag for |est − exact| ≤ 0.2 —
    * ≈4.5σ for 128 hashes (σ = √(J(1−J)/128) ≤ 0.0442), so the flag is 1
    * for every row and the WHOLE row including the bound check hash-matches.
    * The pair set is defined by the EXACT Jaccard, not the estimate, so
    * membership is oracle-deterministic. */
  def minhashJaccardEst(s: SparkSession, d: String,
                        maxDocId: Long = 200, threshold: Double = 0.02,
                        numHashes: Int = 128, bound: Double = 0.2): DataFrame = {
    val sh = shingles(Tables.documents(s, d).filter(col("doc_id") < maxDocId))
    val sig = minhashSignatures(sh, numHashes)
    val allPairs = sig.select(col("doc_id").as("doc_a")).crossJoin(
      broadcast(sig.select(col("doc_id").as("doc_b"))))
      .filter(col("doc_a") < col("doc_b"))
    val exact = verifyJaccard(sh, allPairs)
      .filter(col("n_common") / (col("size_a") + col("size_b") - col("n_common")) >= threshold)
    val est = exact
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est", expr(
        s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) / CAST($numHashes AS DOUBLE)"))
    est.select(
      col("doc_a"), col("doc_b"), col("jaccard"),
      (abs(col("est") - col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
        <= bound).cast("int").as("in_bound"))
  }

  /** D2 via Spark ML MinHashLSH — a CROSS-CHECK of [[nearDupPairs]], not the
    * scale path: `approxSimilarityJoin` bands with r=1 rows per table, so on
    * a shared-vocabulary corpus it ORs in nearly every weakly-similar pair
    * (candidate volume ≈ (1-(1-j)^L)·n², j≈0.05 ⇒ ~18% of ALL pairs) and
    * degenerates toward all-pairs. The hand-rolled banding (r=4) keeps the
    * candidate rate at j^4 per band. This validation query therefore runs on
    * an EXPLICIT bounded slice (`doc_id < 500` — documented, not silent;
    * candidate volume is quadratic in the slice, so the cross-check cost is
    * CONSTANT in corpus size). A modulo sample (rounds ≤4: `doc_id % 10 = 0`)
    * is the wrong shape for a dup cross-check: planted dup pairs are random
    * id pairs, so a p-rate sample keeps a pair with probability p² — at
    * sf0.01 it kept none and the query returned 0 rows (CORRECTNESS_r04),
    * i.e. zero evidence. The contiguous slice IS the sf0.01 corpus in full,
    * so every planted group is present at verify time;
    * DedupSpec cross-checks the two implementations on planted dups. */
  def mlNearDupPairs(s: SparkSession, d: String, maxJaccardDist: Double = 0.8): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
    val tokenizer = new RegexTokenizer().setInputCol("text").setOutputCol("tokens").setPattern("\\s+")
    val ngram = new NGram().setN(3).setInputCol("tokens").setOutputCol("shingles")
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features").setNumFeatures(1 << 18)
    val staged = tf.transform(ngram.transform(tokenizer.transform(docs)))
      .select(col("doc_id"), col("features"))
    // 4 tables: Spark's MinHashLSH bands are single-hash (r=1), so each
    // extra table multiplies the candidate volume on low-similarity corpora;
    // 4 keeps recall high at the dist<=0.8 threshold without OR-ing in
    // every weakly-similar pair.
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(staged)
    model.approxSimilarityJoin(staged, staged, maxJaccardDist, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(col("jaccard_dist"), 4).as("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Exact n-gram (word bigram) Jaccard over a bounded doc subset — the
    * all-pairs correctness baseline the LSH paths approximate. Bounded by
    * `maxDocId` because all-pairs is O(n²) BY DESIGN here; the scale path is
    * [[nearDupPairs]]. Oracle-checkable end to end. */
  /** (doc_id, distinct word-bigram set) for a bounded doc slice — shared
    * by the symmetric-Jaccard and asymmetric-containment baselines so the
    * tokenization can never silently diverge between them (and their
    * oracles). Single-token docs are dropped: they have no bigrams
    * (sequence(0, -1) would DESCEND and element_at(toks, 0) throw), and
    * their empty gram set can never reach any threshold. */
  private def bigramGramSets(s: SparkSession, d: String, maxDocId: Long): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), array_distinct(
        expr("transform(sequence(0, size(toks) - 2), i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"))
        .as("grams"))

  def ngramJaccardPairs(s: SparkSession, d: String,
                        maxDocId: Long = 80, threshold: Double = 0.08): DataFrame = {
    val grams = bigramGramSets(s, d, maxDocId)
    val a = grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val b = grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    a.crossJoin(broadcast(b))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("raw_j", col("n_inter") / (size(col("ga")) + size(col("gb")) - col("n_inter")))
      // filter on the raw value, round only for output — filtering on the
      // rounded value would disagree with the oracle at the threshold edge
      .filter(col("raw_j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("raw_j"), 4).as("jaccard"))
  }

  /** Exact bigram CONTAINMENT over a bounded doc subset: C(a→b) =
    * |G(a)∩G(b)| / |G(a)| — the asymmetric near-dup measure. A short
    * document embedded verbatim in a much longer one scores C≈1 while its
    * symmetric Jaccard dilutes toward |a|/|b| and slips under any dedup
    * threshold — exactly the quote/boilerplate/subset-dup case Jaccard
    * misses. Emits BOTH directions (containment is not symmetric; which
    * side is the subset is the decision a dedup policy needs). All-pairs BY
    * DESIGN on the bounded slice — the oracle baseline; the scale path is
    * [[containmentPairsAtScale]]. */
  def containmentPairs(s: SparkSession, d: String,
                       maxDocId: Long = 80, threshold: Double = 0.5): DataFrame = {
    val grams = bigramGramSets(s, d, maxDocId)
    val a = grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val b = grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    a.crossJoin(broadcast(b))
      .filter(col("doc_a") =!= col("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("raw_c", col("n_inter") / size(col("ga")))
      .filter(col("raw_c") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("raw_c"), 4).as("containment"))
  }

  /** Containment at corpus scale: shingle-hash equi-join instead of
    * all-pairs. Ubiquitous shingles (document frequency > `maxShingleDf`)
    * are dropped first — they are boilerplate n-grams that would fan the
    * equi-join out toward all-pairs while carrying no dedup signal (the
    * containment denominator is recomputed over the SAME pruned space, so
    * the measure stays self-consistent). Join volume is then Σ_shingle
    * df², df ≤ cap — bounded per key by construction, the same
    * candidate-control idea as LSH banding but for the asymmetric measure.
    * Reads the memoized shingle artifact; every exchange carries 8-byte
    * hashes + ids. */
  /** Pruned-shingle frames for containment, memoized per (session, dir,
    * df-cap) — the df table and the capped prune are corpus BUILDS (one
    * pass over the shingle artifact each), not per-query work; the timed
    * query pays only the candidate self-join and the per-pair aggregation,
    * the same split as the minhash and IVF artifacts. */
  @transient private lazy val containmentCache =
    new SessionCache[(DataFrame, DataFrame)]()

  def containmentArtifacts(s: SparkSession, d: String,
                           maxShingleDf: Long = 50): (DataFrame, DataFrame) =
    containmentCache.getOrCompute(s, d, maxShingleDf) {
      val (sh, _) = shingleArtifacts(s, d)
      val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("sdf"))
        .filter(col("sdf") >= 2 && col("sdf") <= maxShingleDf)
        .select(col("shingle"))
      val pruned = sh.join(dfs, Seq("shingle")).persist()
      (pruned, pruned.groupBy(col("doc_id")).agg(count(lit(1)).as("sz")).persist())
    }

  def containmentPairsAtScale(s: SparkSession, d: String,
                              threshold: Double = 0.8, maxShingleDf: Long = 50): DataFrame = {
    val (pruned, sizes) = containmentArtifacts(s, d, maxShingleDf)
    val common = pruned.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(pruned.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .filter(col("n_common") >= col("sz_a") * threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common") / col("sz_a"), 4).as("containment"))
  }

  /** Connected components as ONE declarative recursive query (Spark 4's
    * `WITH RECURSIVE`) over the bounded exact-pair graph — the same
    * clusters [[nearDupClusters]] computes with its driver-side iteration
    * loop, but as a single lazy plan the optimizer owns end to end (no
    * collect-per-round convergence probe, no manual lineage cuts).
    * Spark's recursive CTEs support UNION ALL only (no set-semantics
    * dedup), so on a cyclic graph the walk must be made finite explicitly:
    * labels propagate only while strictly DECREASING (`r.lbl < e.a`) and a
    * depth bound caps path length. min-per-node over all ≤depth-bounded
    * decreasing walks = the true component min whenever the component
    * diameter fits the bound (planted dup clusters are tiny); the oracle
    * runs the IDENTICAL bounded recursion, so the compare is exact either
    * way. Row growth is bounded by decreasing-label paths in components of
    * size m — O(m!) worst-case in a clique, fine for near-dup cluster
    * sizes; the iterative form stays the 100 TB path. */
  private val ccViewCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The bounded exact bigram-Jaccard pair set, memoized per (session,
    * corpus dir) — the shared input of the connected-components gate family
    * ([[recursiveClusters]] and [[Graph.connectedComponentsStar]]'s
    * `q_cc_star` gate): the all-pairs gram join is the whole build cost
    * (~1.3 s at sf0.1; the component computations over the ~25 cached pairs
    * are milliseconds), so two gate queries verifying two independent
    * algorithms against one truth pay it once — the same persisted-artifact
    * contract as the shingle/signature frames. Eagerly localCheckpointed:
    * both consumers re-reference the frame from inside iterative/recursive
    * plans, where uncut lineage would re-derive the join per step. */
  @transient private lazy val ccPairCache =
    new SessionCache[DataFrame]()

  def ccPairArtifact(s: SparkSession, d: String): DataFrame =
    ccPairCache.getOrCompute(s, d) {
      ngramJaccardPairs(s, d).localCheckpoint(true)
    }

  /** The doc<200 sibling of [[ccPairArtifact]], input of the `q_triangles`
    * gate: the doc<80 slice is triangle-FREE at sf0.01/sf0.1 (15 open
    * wedges, 0 closed — measured), which would leave the kernel's
    * wedge-closing join vacuously unexercised at the gate. The 200-doc
    * slice has 35/8/6 triangles at sf0.001/0.01/0.1 with only ~150-200
    * edges, so the evidence is non-vacuous at every SF and the all-pairs
    * gram join stays bounded-oracle-sized. */
  @transient private lazy val triPairCache =
    new SessionCache[DataFrame]()

  def triPairArtifact(s: SparkSession, d: String): DataFrame =
    triPairCache.getOrCompute(s, d) {
      ngramJaccardPairs(s, d, maxDocId = 200).localCheckpoint(true)
    }

  def recursiveClusters(s: SparkSession, d: String, maxDepth: Int = 6): DataFrame = {
    // Materialize the (tiny, bounded) pair set before recursing: the CTE
    // inliner would otherwise re-derive the all-pairs gram join inside
    // EVERY recursion step (measured 2.6 s → the join is the whole cost;
    // the recursion over ~25 cached pairs is milliseconds). The view name
    // is counter-unique per call — a fixed name would let two concurrent
    // callers on one session read each other's pair sets.
    val view = s"graft_cc_pairs_${ccViewCounter.incrementAndGet()}"
    ccPairArtifact(s, d).createOrReplaceTempView(view)
    s.sql(s"""
      WITH RECURSIVE edges AS (
        SELECT doc_a AS a, doc_b AS b FROM $view
        UNION ALL SELECT doc_b AS a, doc_a AS b FROM $view),
      reach(node, lbl, depth) AS (
        SELECT a, a, 0 FROM (SELECT DISTINCT a FROM edges)
        UNION ALL
        SELECT e.a, r.lbl, r.depth + 1 FROM edges e JOIN reach r ON e.b = r.node
        WHERE r.lbl < e.a AND r.depth < $maxDepth)
      SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node""")
  }

  /** Candidate-generation recall of the banded MinHash pipeline, measured
    * against EXACT shingle Jaccard on a bounded slice — the evaluation a
    * dedup deployment runs before trusting its thresholds. Per true-pair
    * tier (high: j ≥ 0.8, mid: 0.5 ≤ j < 0.8), the fraction that the
    * (bands=8, rows=4) banding surfaces as candidates. Theory for (8,4):
    * P(candidate) = 1−(1−j⁴)⁸ ≈ 0.99 at j=0.8, ≈ 0.40 at j=0.5 — the spec
    * pins the high tier ≥ 0.9, and the mid tier documents WHY the banding
    * is tuned for near-identical pairs, not borderline ones. All-pairs
    * exact Jaccard is bounded BY DESIGN (the same slice discipline as the
    * other oracle baselines); the measured pipeline is the production
    * bucketed one, unmodified. */
  def minhashCandidateRecall(s: SparkSession, d: String, maxDocId: Long = 500): DataFrame = {
    // slice bound 500, not 80: the sf0.01 corpus plants its dup groups
    // across the id range, and a recall evaluated over zero true pairs is
    // zero evidence (the q_near_dup_ml lesson from CORRECTNESS_r04)
    val exact = jaccardTruthArtifact(s, d, maxDocId)
      .filter(col("j") >= 0.5)
      .withColumn("tier", when(col("j") >= 0.8, "high").otherwise("mid"))
    val sliceShingles = shingles(Tables.documents(s, d).filter(col("doc_id") < maxDocId))
    val cand = bandedCandidates(minhashSignatures(sliceShingles))
      .withColumn("hit", lit(1L))
    exact.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_surfaced"),
        round(sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)).cast("double"), 4)
          .as("recall"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a BOUNDED doc slice —
    * the exact correctness baseline for character-level dedup, the measure
    * that catches what token-set measures miss (transposed words score
    * identical shingle sets; a character-level threshold separates true
    * small edits from full rewrites of similar length). The relative
    * threshold lev ≤ `relThreshold`·max(len) is the standard form: an
    * absolute bound would pass short unrelated texts and fail long
    * near-dups. Both engines implement the identical classic DP (unit-cost
    * insert/delete/substitute), and the threshold product is a multiple of
    * 0.25 — exact in double and decimal alike — so the DuckDB compare is
    * integer-exact. The in-plan `levenshtein(_, _, cap)` banded form bounds
    * the DP cost per pair at the corpus-wide maximum admissible distance
    * (returns −1 past the cap, which the relative filter then discards
    * correctly since cap ≥ every per-pair threshold). All-pairs BY DESIGN
    * bounded by `maxDocId` — the unbounded scale path is
    * [[editDistanceNearDups]]. */
  def editDistancePairs(s: SparkSession, d: String, maxDocId: Long = 300,
                        relThreshold: Double = 0.25, maxDist: Int = 60): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val a = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"), col("len").as("la"))
    val b = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"), col("len").as("lb"))
    // cap = min(absolute ceiling, relThreshold * longest doc) — the
    // absolute ceiling is the practical near-dup semantics (beyond a few
    // dozen edits two texts aren't variants of one document) AND the cost
    // lever: the banded DP is O(len·cap) per pair, so capping at 60 cut
    // the sf0.1 query 13.3 s → ~3 s. The 1-row max-length aggregate is a
    // model-sized driver value (the centroid pattern; the function's
    // threshold parameter is a literal int). max(len) is NULL on an empty
    // slice — cap 0 then; every downstream join is empty anyway, so the
    // result is the correctly-typed empty frame, not an NPE.
    val capRow = docs.agg(ceil(max(col("len")) * lit(relThreshold)).cast("int")).head()
    val cap = if (capRow.isNullAt(0)) 0 else math.min(maxDist, capRow.getInt(0))
    a.crossJoin(broadcast(b))
      .filter(col("doc_a") < col("doc_b"))
      // exact prefilter, not an approximation: |la−lb| ≤ lev always, so a
      // pair failing it can never pass the relative threshold — the DP
      // (the whole cost of this query: measured 9.7 s → ~3 s at sf0.1)
      // runs only on length-compatible pairs, admissions unchanged
      .filter(abs(col("la") - col("lb")) <= greatest(col("la"), col("lb")) * lit(relThreshold))
      .withColumn("lev", levenshtein(col("ta"), col("tb"), cap))
      .filter(col("lev") >= 0 && col("lev") <= lit(maxDist) &&
        col("lev") <= greatest(col("la"), col("lb")) * lit(relThreshold))
      .select(col("doc_a"), col("doc_b"), col("lev"))
  }

  /** The bounded exact slice truth ([[editDistancePairs]]), memoized per
    * (session, dir, slice) — the cc-pair/tri-pair staged-truth pattern
    * (round-9 verdict next #1c): BOTH `q_edit_distance` and
    * `q_edit_distance_scale` consume the same doc<300 truth, and its
    * banded-DP cross join is the whole cost of each (~2.8 s per query at
    * sf0.1 driver-side, paid twice before this artifact existed). The
    * truth set is slice-bounded (≤ a few hundred rows), so the cached
    * frame is model-sized. */
  @transient private lazy val edTruthCache =
    new SessionCache[DataFrame]()

  def edTruthArtifact(s: SparkSession, d: String, maxDocId: Long = 300): DataFrame =
    edTruthCache.getOrCompute(s, d, maxDocId) {
      val t = editDistancePairs(s, d, maxDocId = maxDocId).cache()
      t.count() // materialize: the artifact contract, not lazy lineage
      t
    }

  /** Edit-distance dedup at corpus scale: the banded minhash candidates
    * (memoized shingle/signature artifacts) prefilter to docs sharing a
    * signature band — a tiny-edit pair shares nearly all its shingles, so
    * banding recall on the lev≤25% population is effectively the high-
    * jaccard tier's (≥98% at (8,4) banding) — then a length lower bound
    * (|la−lb| ≤ lev by definition) and the banded exact DP verify each
    * candidate. Join volume is candidate-proportional; the DP runs on
    * candidates only, never n². Precision is exact (every emitted pair is
    * verified); recall rides the banding and is spec-pinned against the
    * bounded baseline — the same contract split as
    * [[nearDupPairs]]/[[minhashCandidateRecall]]. */
  def editDistanceNearDups(s: SparkSession, d: String,
                           relThreshold: Double = 0.25, maxDist: Int = 60): DataFrame = {
    val (_, sig) = shingleArtifacts(s, d)
    val cand = bandedCandidates(sig)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    // same empty-corpus guard as the bounded baseline above
    val capRow = docs.agg(ceil(max(col("len")) * lit(relThreshold)).cast("int")).head()
    val cap = if (capRow.isNullAt(0)) 0 else math.min(maxDist, capRow.getInt(0))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"), col("len").as("la")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"), col("len").as("lb")), Seq("doc_b"))
      .filter(abs(col("la") - col("lb")) <= greatest(col("la"), col("lb")) * lit(relThreshold))
      .withColumn("lev", levenshtein(col("ta"), col("tb"), cap))
      .filter(col("lev") >= 0 && col("lev") <= lit(maxDist) &&
        col("lev") <= greatest(col("la"), col("lb")) * lit(relThreshold))
      .select(col("doc_a"), col("doc_b"), col("lev"))
  }

  /** [[editDistanceNearDups]] in the driver-checkable bound form (the
    * minhash-recall promotion pattern, round-7 VERDICT ask #4). The scale
    * path's emitted SET is banding-dependent (not SQL-recomputable), so the
    * payload is the exact side plus flags: the true pair count and lev
    * checksum on the bounded slice (doc_id < `sliceMax` — DuckDB recomputes
    * both with its unbanded levenshtein, the `q_edit_distance` oracle
    * shape) and two in-bound flags the oracle pins at 1 — precision (every
    * scale-path pair inside the slice appears in the exact baseline WITH
    * the same distance; the banded DP is exact on admitted pairs, so any
    * mismatch is a wiring bug) and recall (matched ≥ `recallBound` of the
    * slice's true pairs; DedupSpec measures ≥0.9 — tiny-edit pairs share
    * nearly all shingles — so 0.75 holds with slack). */
  def editDistanceScaleBound(s: SparkSession, d: String, sliceMax: Long = 300,
                             recallBound: Double = 0.75): DataFrame = {
    val truePairs = edTruthArtifact(s, d, maxDocId = sliceMax)
    val scaleSlice = editDistanceNearDups(s, d)
      .filter(col("doc_a") < sliceMax && col("doc_b") < sliceMax)
      .withColumnRenamed("lev", "lev_sc")
    // coalesce(…, 0): an empty join (a slice with no true pairs — the
    // sf0.1 generation plants its near-dups outside doc_id<300) must
    // degrade to the oracle's zeros-and-ones row, not an all-NULL sum row
    truePairs.join(scaleSlice, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("lev").isNotNull, 1L).otherwise(0L)), lit(0L)).as("nt"),
        coalesce(sum(when(col("lev").isNotNull, col("lev").cast("long"))
          .otherwise(0L)), lit(0L)).as("ls"),
        coalesce(sum(when(col("lev_sc").isNotNull &&
          (col("lev").isNull || col("lev") =!= col("lev_sc")), 1L)
          .otherwise(0L)), lit(0L)).as("bad"),
        coalesce(sum(when(col("lev").isNotNull && col("lev") === col("lev_sc"), 1L)
          .otherwise(0L)), lit(0L)).as("matched"))
      .select(
        col("nt").as("n_true_slice"),
        col("ls").as("lev_sum_slice"),
        (col("bad") === 0).cast("int").as("precision_ok"),
        (col("matched") >= ceil(col("nt") * lit(recallBound))).cast("int")
          .as("recall_ok"))
  }

  /** [[minhashCandidateRecall]] in the driver-checkable bound form (the
    * `q_ann_recall` pattern): the exact side — tier membership and true-pair
    * counts from the full-precision shingle join — is recomputed verbatim by
    * the DuckDB oracle, while the banding recall (hash-dependent, not
    * SQL-recomputable) collapses to an in-bound flag the oracle pins at 1.
    * Bounds: high tier (j≥0.8) must surface ≥90% — banding (8,4) hits a
    * pair with prob 1-(1-j⁴)⁸ ≥ 0.98 at j=0.8; mid tier ≥25% — the same
    * formula gives 0.40 at the j=0.5 floor, so 0.25 holds with slack. */
  /** Exact 3-shingle Jaccard for every pair in the bounded doc slice —
    * the shared ground truth of the recall-bound promotions
    * ([[minhashCandidateRecall]], [[simhashRecallBound]],
    * [[mlRecallBound]]). All-pairs BY DESIGN bounded: truth only exists
    * exact. */
  /** [[exactShingleJaccardPairs]] memoized per (session, dir, slice) — the
    * ed-truth-300 staged-truth pattern applied to the shingle-Jaccard
    * ground truth (round 19): FOUR recall-bound gates (q_near_dup_minhash /
    * _ml / _simhash / q_minhash_recall) and the incremental cross-set bound
    * each re-ran the slice's shingle self-join per query — the dominant
    * cost of every one of them. The truth set is slice-bounded (≤ a few
    * thousand pair rows at any SF), so the cached frame is model-sized. */
  @transient private lazy val jaccardTruthCache =
    new SessionCache[DataFrame]()

  def jaccardTruthArtifact(s: SparkSession, d: String, maxDocId: Long = 500): DataFrame =
    jaccardTruthCache.getOrCompute(s, d, maxDocId) {
      val t = exactShingleJaccardPairs(s, d, maxDocId).cache()
      t.count() // materialize: the artifact contract, not lazy lineage
      t
    }

  private[graft] def exactShingleJaccardPairs(s: SparkSession, d: String,
                                              maxDocId: Long): DataFrame = {
    val sh = shingles(Tables.documents(s, d).filter(col("doc_id") < maxDocId))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    sh.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(sh.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), Seq("doc_b"))
      .withColumn("j", col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
  }

  /** A near-dup path's recall against the high-Jaccard slice truth,
    * collapsed to the 1-row bound payload (the `q_cosine_near_dup_lsh`
    * promotion pattern for token-space paths): `n_true_high` is the exact
    * J ≥ 0.5 pair count on the `doc_id < 500` slice — DuckDB recomputes it
    * from the gram strings, the `q_minhash_recall` oracle arithmetic — and
    * the flag pins the path's hit rate on those pairs. Deterministic: both
    * the truth set and each path's pair set are pure functions of the
    * corpus (content hashes, seeded hyperplanes), no RNG anywhere. */
  private[graft] def recallBoundVsHighJaccard(s: SparkSession, d: String,
                                       pairs: DataFrame, minRecall: Double,
                                       maxDocId: Long = 500): DataFrame = {
    // Shape deliberately kept as TWO independent 1-row aggregates
    // crossJoined (round 19): the join-once rewrite (left join + single
    // aggregate) halves the static plan (q_near_dup_ml 52 → 28 Exchanges)
    // but measured ~50% SLOWER at sf0.1 — AQE exchange reuse already
    // dedupes the duplicated truth subtree at runtime and the independent
    // 1-row branches schedule concurrently (same finding as
    // Similarity.pairSetBound; see OPTIMIZATION_r19.md).
    val truth = jaccardTruthArtifact(s, d, maxDocId)
      .filter(col("j") >= 0.5).select(col("doc_a"), col("doc_b"))
    val hits = truth.join(
      pairs.filter(col("doc_a") < maxDocId && col("doc_b") < maxDocId)
        .select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    truth.agg(count(lit(1)).as("n_true_high")).crossJoin(hits).select(
      col("n_true_high"),
      (col("n_hit") >= col("n_true_high") * minRecall).cast("int").as("recall_in_bound"))
  }

  /** PRODUCTION minhash pipeline, bound-oracled (`q_near_dup_minhash`
    * promotion): [[nearDupPairs]] — the full-corpus memoized
    * shingle/signature artifacts, banding, exact-Jaccard verify at 0.2 —
    * held to the high-Jaccard slice truth. Complements `q_minhash_recall`,
    * which REBUILDS the pipeline on the slice to measure banding in
    * isolation: this flag runs the artifact-cached production path
    * end-to-end, so a stale memoized artifact, a banding regression, or a
    * verify-stage bug all red the same row a user's dedup run reads. */
  def minhashProductionRecallBound(s: SparkSession, d: String): DataFrame =
    recallBoundVsHighJaccard(s, d,
      nearDupPairs(s, d, 0.2).select(col("doc_a"), col("doc_b")), minRecall = 0.5)

  /** INCREMENTAL near-dup dedup — the continuous-ingest shape every
    * crawl-fed training pipeline runs: a NEW batch of documents probed
    * against the EXISTING corpus's banded signature table, without ever
    * re-banding the corpus against itself. [[incrementalDedup]] covers the
    * exact-hash rung (Bloom-pruned anti-join); this is the near-dup rung
    * above it. The batch is `doc_id % batchMod == batchRem` (a held-out
    * tenth — at real scale, today's crawl delta); the corpus band keys are
    * derived from the MEMOIZED signature artifact (at scale: the persisted
    * band table the ingest pass maintains), so the probe is one equi-join
    * on (band_id, band_hash) whose cost is NEW-BATCH-proportional, plus
    * the candidate-proportional exact-Jaccard verify. Emits
    * (new_doc, dup_of, jaccard) — the drop/keep decision feed. */
  def incrementalNearDupPairs(s: SparkSession, d: String, batchMod: Long = 10,
                              batchRem: Long = 6, threshold: Double = 0.5,
                              bands: Int = 8, rows: Int = 4): DataFrame = {
    val (sh, sig) = shingleArtifacts(s, d)
    def bandKeys(sigDf: DataFrame): DataFrame = sigDf.select(
      col("doc_id"),
      posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, concat_ws(',', slice(sig, b * $rows + 1, $rows))))"))
        .as(Seq("band_id", "band_hash")))
    val isNew = col("doc_id") % batchMod === batchRem
    val corpusBands = bandKeys(sig.filter(!isNew))
    val newBands = bandKeys(sig.filter(isNew))
    val cand = newBands
      .select(col("band_id"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(corpusBands.select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_id", "band_hash"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // threshold on the UNROUNDED ratio — the identical double-division
    // predicate the exact slice truth applies, so the bound's precision
    // flag can never red on a 4dp rounding edge (j ≈ 0.49997 → "0.5")
    verifyJaccard(sh, cand)
      .filter(col("n_common") / (col("size_a") + col("size_b") - col("n_common")) >= threshold)
      .select(col("doc_a").as("new_doc"), col("doc_b").as("dup_of"), col("jaccard"))
  }

  /** Incremental near-dup, bound-oracled (`q_near_dup_incremental`
    * promotion — the [[minhashProductionRecallBound]] pattern on the
    * CROSS-SET truth): DuckDB recomputes the exact high-Jaccard pairs in
    * the doc<500 slice that straddle the batch boundary (exactly one side
    * in the new batch); the banded probe must recover ≥ `minRecall` of
    * them (recall flag), and every emitted slice pair must be in the
    * truth (precision flag — the verify stage computes exact Jaccard, so
    * any miss is a wiring bug). batchRem=6 is chosen measured: the slice
    * truth has cross-set pairs at EVERY SF for it (3/5/1), including the
    * single sf0.1 pair the production banding is already proven to
    * surface (`q_near_dup_minhash` green at sf0.1 with n_true_high=1). */
  def incrementalNearDupBound(s: SparkSession, d: String,
                              minRecall: Double = 0.5): DataFrame = {
    val emitted = incrementalNearDupPairs(s, d)
      .select(least(col("new_doc"), col("dup_of")).as("doc_a"),
        greatest(col("new_doc"), col("dup_of")).as("doc_b"))
      .filter(col("doc_a") < 500 && col("doc_b") < 500)
    val truth = jaccardTruthArtifact(s, d, 500)
      .filter(col("j") >= 0.5)
      .filter((col("doc_a") % 10 === 6) =!= (col("doc_b") % 10 === 6))
      .select(col("doc_a"), col("doc_b"))
    // ONE full-outer join + ONE 1-row aggregate (round 19, guide §2.4): the
    // old shape referenced `truth` three times (count + hit join + anti
    // join) and `emitted` twice (hit + anti) — the exact shingle-Jaccard
    // slice pipeline ran 3× and the banded probe + verify 2× per query.
    // Both sides are unique on (doc_a, doc_b) (truth: groupBy output;
    // emitted: verify over a distinct candidate set, and new/corpus doc
    // sets are disjoint so least/greatest cannot collide), so the outer
    // join reproduces all three counts exactly: count(is_true) = |truth|,
    // count(both) = |truth ∩ emitted| (the old inner-join count),
    // count(is_emit where is_true null) = |emitted ∖ truth| (the old
    // anti-join count).
    truth.withColumn("is_true", lit(1))
      .join(emitted.withColumn("is_emit", lit(1)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(col("is_true")).as("n_true_cross"),
        count(when(col("is_true") === 1, col("is_emit"))).as("n_hit"),
        count(when(col("is_true").isNull, col("is_emit"))).as("n_bad"))
      .select(col("n_true_cross"),
        (col("n_bad") === 0).cast("int").as("precision_ok"),
        (col("n_hit") >= col("n_true_cross") * minRecall).cast("int").as("recall_in_bound"))
  }

  /** SimHash path, bound-oracled (`q_near_dup_simhash` promotion): the
    * 16-bit-block candidates at Hamming ≤ 8 must recover ≥ 75% of the
    * high-Jaccard slice truth (measured 0.92–1.0 across SFs — a tiny edit
    * moves few token counts, so few simhash bits). The raw candidate
    * frame stays spec-pinned in DedupSpec. */
  def simhashRecallBound(s: SparkSession, d: String): DataFrame =
    recallBoundVsHighJaccard(s, d,
      simhashNearDups(s, d, 8).select(col("doc_a"), col("doc_b")), minRecall = 0.75)

  /** Spark ML MinHashLSH path, bound-oracled (`q_near_dup_ml` promotion):
    * the approxSimilarityJoin candidates must recover ≥ 90% of the
    * high-Jaccard slice truth (measured 1.0 at every SF — r=1 banding
    * surfaces every strong pair; the known degeneracy is PRECISION on
    * shared-vocab corpora, which the ml path's exact-distance filter
    * already handles). Raw pair frame stays spec-pinned in DedupSpec. */
  def mlRecallBound(s: SparkSession, d: String): DataFrame =
    recallBoundVsHighJaccard(s, d,
      mlNearDupPairs(s, d).select(col("doc_a"), col("doc_b")), minRecall = 0.9)

  def minhashRecallBound(s: SparkSession, d: String): DataFrame =
    minhashCandidateRecall(s, d).select(
      col("tier"), col("n_true_pairs"),
      (col("recall") >= when(col("tier") === "high", 0.9).otherwise(0.25))
        .cast("int").as("in_bound"))

  /** Near-dup clusters: connected components over the verified near-dup
    * pair graph by iterative min-label propagation (each round: every doc
    * adopts the smallest label among itself and its neighbors; fixpoint in
    * O(log n) rounds for realistic dup-cluster diameters). All joins are
    * keyed on doc id — no driver-side graph. Returns (doc_id, cluster) for
    * every doc that appears in at least one pair; the canonical doc of a
    * cluster is its min id. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // Iterative plans need their lineage cut each round or the DAG doubles
    // (shared policy: Iterative.cutLineage — durable checkpoint when a
    // checkpoint dir is configured, localCheckpoint otherwise).
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = cut(edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("cluster", col("doc_id")))
    var changed = true
    var iter = 0
    var prevSum = labels.agg(coalesce(sum(col("cluster")), lit(0L))).head().getLong(0)
    while (changed && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("cluster")).as("n_min"))
      val next = cut(labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("n_min"), col("cluster"))).as("cluster")))
      // min-label propagation is monotone (labels only decrease), so the
      // label sum strictly decreases every non-converged round — one cheap
      // aggregate on the already-checkpointed frame replaces the join-based
      // change probe (one less shuffle per iteration)
      val labelSum = next.agg(coalesce(sum(col("cluster")), lit(0L))).head().getLong(0)
      changed = labelSum != prevSum
      prevSum = labelSum
      labels = next
      iter += 1
    }
    labels
  }

  /** Cluster labels memoized per (session, corpus dir) — the contract of a
    * persisted cluster table: label propagation runs once per corpus, and
    * every downstream decision (summary, canonical selection, anti-join
    * decontamination) reads the same materialized labels instead of
    * re-running the iterative loop. Keyed on the session identity too, so a
    * restarted SparkSession is never served frames bound to a dead context. */
  @transient private lazy val labelCache =
    new SessionCache[DataFrame]()

  def clusterLabels(s: SparkSession, d: String): DataFrame =
    labelCache.getOrCompute(s, d) {
      nearDupClusters(ngramJaccardPairs(s, d, threshold = 0.05)).cache()
    }

  /** Registered: cluster summary over the exact bounded n-gram pairs. */
  def nearDupClusterSummary(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"), sum(col("doc_id")).as("id_sum"))

  /** Full-corpus cluster labels from the BUCKETED candidate path — the scale
    * path's labels, fed by [[nearDupPairs]] over the whole corpus instead of
    * the doc_id<80 exact baseline (round-3 verdict: the shipped cluster
    * decisions only ever saw the oracle slice). Memoized under the same
    * persisted-cluster-table contract as [[clusterLabels]]. */
  @transient private lazy val lshLabelCache =
    new SessionCache[DataFrame]()

  def clusterLabelsLsh(s: SparkSession, d: String): DataFrame =
    lshLabelCache.getOrCompute(s, d) {
      nearDupClusters(nearDupPairs(s, d, 0.2)).cache()
    }

  /** Registered (rows-only; DedupSpec pins agreement with the exact bounded
    * clusters on the overlapping id range): cluster summary over the
    * full-corpus LSH pairs. */
  def nearDupClusterSummaryLsh(s: SparkSession, d: String): DataFrame =
    clusterLabelsLsh(s, d)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"), sum(col("doc_id")).as("id_sum"))

  /** Full-corpus LSH clustering, bound-oracled (`q_dedup_clusters_lsh`
    * promotion — the structure-invariant form, the weakest rung of the
    * promotion ladder, used only where the output IS cluster structure):
    * the label assignment is hash-path state, so the payload is the exact
    * bounded component count (doc<80 bigram-0.05 truth — DuckDB recomputes
    * it with the `q_dedup_clusters` recursive CTE) plus four flags:
    *  - refinement: no production LSH pair on the slice links docs the
    *    strictly-looser exact clustering separates (the DedupSpec
    *    invariant, now driver-checked every round);
    *  - min-label: every cluster's label is its own minimum member (the
    *    propagation fixpoint actually converged);
    *  - sizes: no singleton clusters (labels exist only for paired docs);
    *  - non-empty: the path found clusters at all (the flags above must
    *    not pass vacuously).
    * Pair-level quality of the same pipeline is gated by the sibling
    * `q_near_dup_minhash` / `q_minhash_recall` rows. */
  def lshClustersBound(s: SparkSession, d: String): DataFrame = {
    val labels = clusterLabelsLsh(s, d)
    val exact = clusterLabels(s, d)
    val crossings = nearDupPairs(s, d, 0.2)
      .filter(col("doc_a") < 80 && col("doc_b") < 80)
      .join(exact.select(col("doc_id").as("doc_a"), col("cluster").as("ca")), Seq("doc_a"))
      .join(exact.select(col("doc_id").as("doc_b"), col("cluster").as("cb")), Seq("doc_b"))
      .filter(col("ca") =!= col("cb"))
      .agg(count(lit(1)).as("n_cross"))
    val structure = labels.groupBy(col("cluster"))
      .agg(min(col("doc_id")).as("mn"), count(lit(1)).as("sz"))
      .agg(coalesce(max((col("cluster") =!= col("mn")).cast("int")), lit(1)).as("bad_label"),
        coalesce(max((col("sz") < 2).cast("int")), lit(1)).as("bad_size"),
        count(lit(1)).as("n_lsh_clusters"))
    exact.select(col("cluster")).distinct().agg(count(lit(1)).as("n_true_clusters"))
      .crossJoin(crossings).crossJoin(structure).select(
        col("n_true_clusters"),
        (col("n_cross") === 0).cast("int").as("refinement_ok"),
        (col("bad_label") === 0).cast("int").as("min_label_ok"),
        (col("bad_size") === 0).cast("int").as("sizes_ok"),
        (col("n_lsh_clusters") >= 1).cast("int").as("nonempty_ok"))
  }

  /** Full-corpus LSH canonical selection, bound-oracled
    * (`q_dedup_canonical_lsh` promotion, same structure-invariant form):
    * the payload pins the keep policy via an INDEPENDENT formulation —
    * `max(struct(len, -doc_id))` per cluster, an aggregate, against the
    * shipped window/rank plan — plus one-keeper-per-cluster and size
    * consistency; the exact column is the corpus size. */
  def lshCanonicalBound(s: SparkSession, d: String): DataFrame = {
    val labels = clusterLabelsLsh(s, d)
    val docs = Tables.documents(s, d).select(col("doc_id"), length(col("text")).as("len"))
    val best = labels.join(docs, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("b"),
        count(lit(1)).as("sz"))
      .select(col("cluster"), col("b.len").as("blen"), (-col("b.nid")).as("bid"), col("sz"))
    val canon = canonicalPerClusterLsh(s, d)
    val checks = canon.join(best, Seq("cluster"))
      .agg(count(lit(1)).as("n_joined"),
        coalesce(max((col("canonical_id") =!= col("bid") ||
          col("kept_len") =!= col("blen") ||
          col("cluster_size") =!= col("sz")).cast("int")), lit(1)).as("bad_policy"))
    val counts = canon.agg(count(lit(1)).as("n_canon"))
      .crossJoin(labels.select(col("cluster")).distinct().agg(count(lit(1)).as("n_clusters")))
    Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(checks).crossJoin(counts).select(
        col("n_docs"),
        (col("bad_policy") === 0).cast("int").as("policy_ok"),
        (col("n_canon") === col("n_clusters") && col("n_joined") === col("n_canon") &&
          col("n_canon") >= 1).cast("int").as("one_keeper_ok"))
  }

  /** The decision a dedup pass actually ships: WHICH duplicate to keep.
    * Canonical doc per near-dup cluster by keep-policy "longest text wins,
    * ties to the lowest doc_id" (longest-kept is the common pretraining
    * choice — the fullest variant of a boilerplate family survives). Labels
    * join back to the corpus keyed on doc_id; the two windows partition by
    * cluster — every stage is keyed on ids, and the frame entering the
    * windows holds only docs that appear in some dup pair, a vanishing
    * fraction of the corpus. */
  def canonicalPerCluster(s: SparkSession, d: String): DataFrame =
    canonicalFromLabels(clusterLabels(s, d), s, d)

  /** Canonical selection over the FULL-CORPUS LSH labels — the keep decision
    * the scale path actually ships (same keep-policy, labels from the
    * bucketed pipeline instead of the bounded oracle slice). */
  def canonicalPerClusterLsh(s: SparkSession, d: String): DataFrame =
    canonicalFromLabels(clusterLabelsLsh(s, d), s, d)

  private def canonicalFromLabels(labels: DataFrame, s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), length(col("text")).as("len"))
    val byKeep = Window.partitionBy(col("cluster")).orderBy(col("len").desc, col("doc_id").asc)
    val byCluster = Window.partitionBy(col("cluster"))
    labels.join(docs, Seq("doc_id"))
      .withColumn("rn", row_number().over(byKeep))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("canonical_id"),
        col("len").as("kept_len"), col("cluster_size"))
  }

  /** SimHash: 64-bit signature from per-token hashes by bit-voting; near-dups
    * are signatures within a small Hamming distance. Computed in one compiled
    * pass per row by the native [[graft.functions.SimHash64]] expression — a
    * pure projection, no shuffle (the earlier explode-per-bit formulation
    * shuffled docs × tokens × 64 rows). Candidates bucket on 4 16-bit
    * signature blocks, so a pair within Hamming distance 3 shares at least
    * one block (pigeonhole). */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.TextFunctions.simhash64(split(lower(col("text")), "\\s+")).as("simhash"))

  /** SimHash near-dup candidates: block-bucket join + exact Hamming check. */
  def simhashNearDups(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    val sig = simhash(Tables.documents(s, d))
    val blocks = sig.select(
      col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)"))
        .as(Seq("block_id", "block_val")))
    val a = blocks.select(col("block_id"), col("block_val"), col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = blocks.select(col("block_id"), col("block_val"), col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("block_id", "block_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), bit_count(expr("sig_a ^ sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Repeated-passage statistics — the survey step of exact-substring dedup
    * (the "dedup training data at the 50-token level" recipe): how many
    * fixed-width token windows appear in 2+ distinct documents, as a
    * histogram of sharing degree. Drives the decision of WHETHER passage
    * dedup is worth a pass over the corpus before paying for one.
    *
    * Scale shape: rides [[shingles]] (per-doc-distinct 8-byte window
    * hashes), so the frequency aggregation shuffles one row per distinct
    * (doc, window) hash — never window text — and the histogram is a
    * second agg over the repeated subset only. */
  def repeatedPassageStats(s: SparkSession, d: String, n: Int = 20): DataFrame =
    passageShingleArtifact(s, d, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .groupBy(col("n_docs")).agg(count(lit(1)).as("n_passages"))

  /** Per-document n-gram novelty — the memorization-risk/diversity metric:
    * what fraction of a doc's distinct 3-gram shingles appear in NO other
    * document. Low novelty = boilerplate family member; a corpus whose mean
    * novelty collapses is a crawl gone circular. Rides the memoized
    * [[shingleArtifacts]] frame, so the frequency agg and the rejoin both
    * exchange 8-byte hashes — the [[graft.operators.TextAnalysis#boilerplateLines]]
    * shape one level down (n-grams instead of sentences). */
  def noveltyScores(s: SparkSession, d: String): DataFrame = {
    val (sh, _) = shingleArtifacts(s, d)
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("n_docs_with"))
    sh.join(freq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs_with") === 1, 1L).otherwise(0L)).as("n_unique"),
        round(avg(when(col("n_docs_with") === 1, 1.0).otherwise(0.0)), 4).as("novelty"))
  }

  /** The decision [[repeatedPassageStats]] surveys for: per document, the
    * fraction of its 20-token windows shared with other documents, and the
    * keep/drop flag at the `maxShared` policy threshold — exact-substring
    * dedup's shipped output. The flag compares the ROUNDED ratio so the
    * threshold decision is engine-identical. Same artifact, same two
    * hash-keyed shuffles as the survey query. */
  def passageDedupDecision(s: SparkSession, d: String,
                           n: Int = 20, maxShared: Double = 0.5): DataFrame = {
    val sh = passageShingleArtifact(s, d, n)
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("nd"))
    sh.join(freq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"),
        round(avg(when(col("nd") >= 2, 1.0).otherwise(0.0)), 4).as("shared_ratio"))
      .withColumn("keep", (col("shared_ratio") <= maxShared).cast("int"))
  }

  /** SOFT dedup — near-dup-proportional sampling weights: keep every
    * member of a near-duplicate component but weight it at 1/|component|,
    * so a content family's TOTAL sampling mass is duplication-invariant
    * (the ablation-friendly alternative to hard dropping: downstream
    * samplers multiply by weight_ppm instead of filtering, and no
    * information is destroyed). Keyed on the NEAR-dup component label —
    * the production form (exact-text copies are its trivial subcase, and
    * the synthetic corpus plants near-dups at every SF where exact copies
    * exist only at sf0.1, which would make an exact-text gate vacuous at
    * the driver's SF). Weights ship in exact integer ppm (10⁶ DIV n) so
    * the payload hashes.
    *
    * Scale shape: the [[graft.operators.Graph.triClusterLabels]] component
    * artifact (memoized; at real scale the full LSH pair stream's labels)
    * broadcast-joins the corpus — dup-rate-proportional — and the member
    * count is one |groups|-keyed aggregate joined back; singletons keep
    * their own id as group and weight 10⁶. */
  def softDedupWeights(s: SparkSession, d: String): DataFrame = {
    val labels = Graph.triClusterLabels(s, d)
    val assigned = Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("grp"))
    val sizes = assigned.groupBy(col("grp")).agg(count(lit(1)).as("n_members"))
    assigned.join(sizes, Seq("grp"))
      .select(col("doc_id"), col("n_members"),
        expr("1000000 DIV n_members").as("weight_ppm"))
  }

  // ----------------------------------------------------- Incremental dedup

  /** D1 incremental exact dedup: keep the rows of `incoming` whose content
    * hash does not appear in `existing` (the prior corpus snapshot) — the
    * re-crawl-vs-corpus shape every continuously-updated training corpus
    * needs. Reference hook: the `review_hash` dedup mandate
    * (sample.json:21-22, SURVEY.md §2.11 D1).
    *
    * Scale design: a Bloom filter over the snapshot's 8-byte content hashes
    * (Spark's native `BloomFilterAggregate`, one compact sketch via a
    * scalar subquery — the same expression pair Spark's own runtime join
    * filters use) prunes the incoming side FIRST. Rows the filter has
    * definitely never seen skip the exact join entirely; only the
    * might-contain set (true dups + the configured false-positive sliver)
    * pays the anti-join against the snapshot. At 100 TB the snapshot never
    * re-shuffles per batch: the sketch is built once (broadcast-sized,
    * ~1.2 MB at the default 1M items), and the exact verify join's probe
    * side is proportional to the dup rate, not the batch size. Bloom
    * filters have no false negatives, so the result is EXACTLY the plain
    * anti-join's — which is what the DuckDB oracle checks.
    *
    * The `maybe` probe is null when the snapshot is empty (no sketch to
    * build) — coalesced to false so an empty snapshot keeps everything. */
  def incrementalDedupFrames(incoming: DataFrame, existing: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftx.{toColumn, toExpression}
    val exHash = existing.select(xxhash64(col("text")).as("h"))
    val bloom = exHash.agg(
      toColumn(new BloomFilterAggregate(toExpression(col("h")), 1L << 20)
        .toAggregateExpression()).as("bf"))
    val maybe = coalesce(
      toColumn(BloomFilterMightContain(
        ScalarSubquery(bloom.queryExecution.analyzed),
        toExpression(xxhash64(col("text"))))),
      lit(false))
    val probed = incoming.withColumn("maybe", maybe)
    val fresh = probed.filter(!col("maybe"))
    val verified = probed.filter(col("maybe"))
      .withColumn("h", xxhash64(col("text")))
      .join(exHash, Seq("h"), "left_anti")
      .drop("h")
    fresh.unionByName(verified).drop("maybe")
  }

  /** Registered incremental-dedup query: the "incoming re-crawl batch"
    * (doc_id % 3 == 0) deduplicated against the "prior snapshot"
    * (doc_id % 10 < 6) — both scale-invariant modulo splits of the corpus,
    * no driver-side counts. Oracle: the plain NOT EXISTS anti-join. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalDedupFrames(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 10 < 6))
      .select(col("doc_id"), col("source"))
  }
}
