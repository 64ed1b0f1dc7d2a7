package graft.operators

import graft.Tables
import graft.functions.VectorFunctions.{cosine, rpSignatures, vecDot, vecNorm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (SURVEY.md §2.11 D3):
  * brute-force cosine top-k as the correctness baseline, an LSH-bucketed
  * variant as the 100 TB path, and per-label centroids.
  *
  * Vector math uses the custom codegen expressions in
  * [[graft.functions.VectorFunctions]] — a tight primitive loop per pair
  * instead of Spark's interpreted per-element higher-order-function lambdas,
  * reading `array<float>` without up-casting.
  */
object Similarity {

  /** Brute-force exact top-k: queries × candidates, cosine, windowed top-k.
    * Correct at any scale but O(|Q|·|C|) — the oracle baseline the bucketed
    * path is measured against. Queries are broadcast (small side); norms are
    * computed once per row, not once per pair. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      vecNorm(col("embedding")).as("q_norm"))
    val c = candidates.select(
      col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      vecNorm(col("embedding")).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", try_divide(vecDot(col("q_emb"), col("c_emb")), col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** ANN recall, bound-oracled (the q_minhash_est pattern): overall
    * recall@5 of the IVF probe and the sign-LSH path against the exact
    * brute-force baseline, emitted as in-bound flags at the ≥60% level the
    * ScalaTest pins assert. Promotes the spec-only recall invariant into
    * the driver's hash-compared correctness artifact — the oracle emits the
    * query-set size and literal 1s; any recall regression below the bound
    * flips a flag and reds the row. All three top-k frames are 25 rows; the
    * joins are trivially broadcast. */
  def annRecallBound(s: SparkSession, d: String, minRecall: Double = 0.6): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // 10-query probe set (the IvfStreamSpec convention): wide enough that
    // the ≥60% aggregate bound holds with headroom at every test SF
    val q = emb.filter(col("vec_id") < 10)
    val (assigned, centroids) = IvfIndex.index(s, d)
    val brute = bruteForceTopK(q, emb, 5).select(col("query_id"), col("cand_id"))
    val ivf = IvfIndex.ivfTopK(q, assigned, centroids, 5)
      .select(col("query_id"), col("cand_id"))
    val lsh = lshTopK(q, emb, 5)
      .select(col("query_id"), col("cand_id"))
    val base = brute.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("query_id")).as("n_queries"))
    val hitIvf = brute.join(ivf, Seq("query_id", "cand_id")).agg(count(lit(1)).as("n_ivf"))
    val hitLsh = brute.join(lsh, Seq("query_id", "cand_id")).agg(count(lit(1)).as("n_lsh"))
    base.crossJoin(hitIvf).crossJoin(hitLsh)
      .select(
        col("n_queries"),
        (col("n_ivf") / col("n_exact") >= minRecall).cast("int").as("ivf_in_bound"),
        (col("n_lsh") / col("n_exact") >= minRecall).cast("int").as("lsh_in_bound"))
  }

  /** Probe-quality bound — the promotion shape for the approximate ANN
    * probe queries (the `q_ann_recall` / `q_minhash_recall` in-bound-flag
    * pattern). A probe's candidate SET is hash/model state DuckDB cannot
    * re-derive, so the gate payload collapses it into counts the oracle
    * recomputes exactly plus three flags it pins:
    *  - recall@k vs the exact baseline (the set metric `q_ann_recall`
    *    established);
    *  - returned volume (a probe quietly returning 2 of 5 neighbors must
    *    red the row even if the 2 are correct);
    *  - COSINE REGRET — the worst per-query loss in summed EXACT cosine vs
    *    the exact top-k. Regret is the metric recall can't see: recall
    *    counts set membership, regret prices the substitutes — a probe
    *    that misses 2 of 5 but returns the 6th/7th-best costs ~nothing,
    *    one that fills with unrelated vectors reds the flag. A probe
    *    returning fewer than k rows pays each missing neighbor's full
    *    cosine as regret, so the flags reinforce each other.
    * Both frames carry EXACT cosines (the probes rescore candidates with
    * the same float math as brute force), so regret needs no approximate
    * arithmetic; probe ⊆ candidates ⇒ regret ≥ 0 up to the shared 4dp
    * rounding. */
  private[graft] def probeQualityBound(brute: DataFrame, probe: DataFrame,
      minRecall: Double, maxRegret: Double,
      minReturnedFrac: Double): DataFrame = {
    val bs = brute.groupBy(col("query_id"))
      .agg(sum(col("cos")).as("b_sum"), count(lit(1)).as("nb"))
    val ps = probe.groupBy(col("query_id"))
      .agg(sum(col("cos")).as("p_sum"), count(lit(1)).as("np"))
    val hits = brute.select(col("query_id"), col("cand_id"))
      .join(probe.select(col("query_id"), col("cand_id")), Seq("query_id", "cand_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("nhit"))
    bs.join(ps, Seq("query_id"), "left").join(hits, Seq("query_id"), "left")
      .select(col("b_sum"), col("nb"),
        coalesce(col("p_sum"), lit(0.0)).as("p_sum"),
        coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("nhit"), lit(0L)).as("nhit"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("nb")).as("n_exact"),
        (sum(col("nhit")) / sum(col("nb")) >= minRecall).cast("int").as("recall_in_bound"),
        (sum(col("np")) >= sum(col("nb")) * minReturnedFrac).cast("int").as("returned_in_bound"),
        (max((col("b_sum") - col("p_sum")) / col("nb")) <= maxRegret).cast("int").as("regret_in_bound"))
  }

  /** Measurement sibling of [[probeQualityBound]] (dev/spec use): the raw
    * per-probe aggregates the flag thresholds are calibrated against. */
  private[graft] def probeQualityMeasured(brute: DataFrame, probe: DataFrame): DataFrame = {
    val bs = brute.groupBy(col("query_id"))
      .agg(sum(col("cos")).as("b_sum"), count(lit(1)).as("nb"))
    val ps = probe.groupBy(col("query_id"))
      .agg(sum(col("cos")).as("p_sum"), count(lit(1)).as("np"))
    val hits = brute.select(col("query_id"), col("cand_id"))
      .join(probe.select(col("query_id"), col("cand_id")), Seq("query_id", "cand_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("nhit"))
    bs.join(ps, Seq("query_id"), "left").join(hits, Seq("query_id"), "left")
      .agg(
        (sum(col("nhit")) / sum(col("nb"))).as("recall"),
        (sum(coalesce(col("np"), lit(0L))) / sum(col("nb"))).as("returned_frac"),
        max((col("b_sum") - coalesce(col("p_sum"), lit(0.0))) / col("nb")).as("max_regret"))
  }

  /** Sign-LSH probe, bound-oracled (`q_ann_lsh`): [[lshTopK]] over the
    * 10-query set, collapsed by [[probeQualityBound]]. The raw top-k frame
    * stays pinned in SimilaritySpec. */
  def annLshBound(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    probeQualityBound(bruteForceTopK(q, emb, 5), lshTopK(q, emb, 5),
      minRecall = 0.6, maxRegret = 0.08, minReturnedFrac = 0.8)
  }

  /** D3 as a registered query: exact top-5 neighbors for the first 5 vectors. */
  def annBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 5)
  }

  /** Hard-negative mining for contrastive embedding training (the
    * training-data op behind "for each anchor, find the most-confusable
    * examples of a DIFFERENT class"): top-k highest-cosine candidates whose
    * label differs from the anchor's. Same bounded-anchor / broadcast shape
    * as [[bruteForceTopK]] — the anchor set is the small side by contract
    * (a mining batch, not the corpus), so candidates never shuffle; the
    * label inequality is a residual predicate on the broadcast join. At
    * 100 TB the candidate stage swaps for the IVF probe exactly as
    * `q_ann_ivf` does — the keep/rank logic downstream is unchanged. */
  def hardNegatives(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5).select(
      col("vec_id").as("query_id"), col("label").as("q_label"),
      col("embedding").as("q_emb"), vecNorm(col("embedding")).as("q_norm"))
    val c = emb.select(
      col("vec_id").as("cand_id"), col("label").as("c_label"),
      col("embedding").as("c_emb"), vecNorm(col("embedding")).as("c_norm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("cos", try_divide(vecDot(col("q_emb"), col("c_emb")), col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("q_label"), col("cand_id"),
        col("c_label"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** LSH-bucketed ANN (the scale path): `tables` hash tables × `bits` sign
    * bits, all signatures computed in one pass per row, then ONE equi-join on
    * (table, signature) — at 100 TB the bucket key is the shuffle key and
    * each reducer sees one bucket, not the corpus. Defaults favor recall on
    * near-orthogonal embeddings (few bits, many tables); at real scale raise
    * `bits` to shrink buckets and keep per-reducer fan-in bounded. Recall vs
    * exact is pinned in SimilaritySpec. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              tables: Int = 12, bits: Int = 4): DataFrame = {
    def withSigs(df: DataFrame, idAs: String, embAs: String, normAs: String): DataFrame =
      df.select(
        col("vec_id").as(idAs), col("embedding").as(embAs),
        vecNorm(col("embedding")).as(normAs),
        posexplode(rpSignatures(col("embedding"), tables, bits)).as(Seq("t", "sig")))
    val qSigs = withSigs(queries, "query_id", "q_emb", "q_norm")
    val cSigs = withSigs(candidates, "cand_id", "c_emb", "c_norm")
    val candPairs = cSigs
      .join(broadcast(qSigs), Seq("t", "sig"))
      .filter(col("query_id") =!= col("cand_id"))
      .dropDuplicates("query_id", "cand_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id").asc)
    candPairs
      .withColumn("cos", try_divide(vecDot(col("q_emb"), col("c_emb")), col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs above a similarity threshold — the
    * all-pairs EXACT correctness baseline, and therefore BOUNDED by
    * `maxVecId` by design (mirroring [[Dedup.ngramJaccardPairs]]'s bound):
    * all-pairs is O(n²) and must never run unbounded in production. The
    * unbounded scale path is [[cosineNearDupsBucketed]]. */
  def cosineNearDups(s: SparkSession, d: String, threshold: Double = 0.35,
                     maxVecId: Long = 500): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .filter(col("vec_id") < maxVecId)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", try_divide(vecDot(col("ea"), col("eb")), col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** Near-dup pairs at scale: candidates from the sign-RP signature bucket
    * join (ONE equi-join on (table, signature) — the shuffle key is the
    * bucket, each reducer sees one bucket, never the corpus), then exact
    * cosine verification of candidates only. Defaults favor recall at test
    * scale (many tables, few bits); at 100 TB raise `bits` to shrink buckets
    * and keep per-reducer fan-in bounded. Recall vs the exact baseline is
    * pinned in SimilaritySpec. */
  /** RP-signature + normed-vector frames memoized per (session, corpus dir,
    * tables, bits) — the same persisted-artifact contract as the minhash
    * shingles and the IVF index: signatures are a corpus BUILD (one pass
    * over the embeddings), not a per-query cost. Without this the self-join
    * in [[cosineNearDupsBucketed]] evaluated the 96-hyperplane projection
    * TWICE per query (both join sides re-derive from the scan). */
  @transient private lazy val rpSigCache =
    new SessionCache[(DataFrame, DataFrame)]()

  def rpSigArtifacts(s: SparkSession, d: String,
                     tables: Int, bits: Int): (DataFrame, DataFrame) =
    rpSigCache.getOrCompute(s, d, (tables, bits)) {
      val emb = Tables.embeddings(s, d)
      val sigs = emb.select(
        col("vec_id"),
        posexplode(rpSignatures(col("embedding"), tables, bits)).as(Seq("t", "sig")))
      val normed = emb
        .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
      (sigs.persist(), normed.persist())
    }

  /** Default LSH parameterization for the cosine near-dup path. Chosen by a
    * measured sweep (recall vs exact baseline / wall time at test scale):
    * (24 t, 4 b) 0.973 recall / 3.0 s → (48 t, 6 b) 0.965 / 0.77 s — 4×
    * fewer candidate pairs (bucket occupancy falls 4× per 2 extra bits;
    * pair volume falls 16× per table, tables only double) at equal recall.
    * The same lever scales further: at larger corpora raise `bits` to hold
    * per-bucket occupancy roughly constant. */
  val CosineLshTables = 48
  val CosineLshBits = 6

  def cosineNearDupsBucketed(s: SparkSession, d: String, threshold: Double = 0.35,
                             tables: Int = CosineLshTables, bits: Int = CosineLshBits): DataFrame = {
    // Candidate generation carries ONLY ids through the bucket join — the
    // shuffle is O(candidate pairs × 16 bytes). Vectors rejoin per side at
    // verification, keyed on vec_id (at corpus scale that is a keyed join
    // against the embeddings table, not a broadcast — left to the
    // optimizer). Carrying the vectors through the candidate shuffle
    // instead multiplies exchange volume by the embedding width (measured
    // 16.6 s vs 2 s at sf0.1).
    val (sigs, e) = rpSigArtifacts(s, d, tables, bits)
    val cand = sigs.select(col("t"), col("sig"), col("vec_id").as("vec_a"))
      .join(sigs.select(col("t"), col("sig"), col("vec_id").as("vec_b")), Seq("t", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("cos", try_divide(vecDot(col("ea"), col("eb")), col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** The bucketed cosine near-dup path, bound-oracled (`q_cosine_near_dup_lsh`
    * promotion — the probe-quality-bound pattern applied to the pair
    * family). The RP-bucket candidate set is hash state, so the payload
    * collapses it against the EXACT bounded slice (`vec_id < 500`, the
    * `q_cosine_near_dup` baseline DuckDB recomputes with
    * list_cosine_similarity):
    *  - `n_true_slice` — the exact slice pair count, recomputed by the
    *    oracle (238–271 pairs at every test SF, so the bound always has
    *    teeth);
    *  - slice recall ≥ 0.7 (measured 0.92–0.97 across SFs — banding that
    *    starts dropping planted near-dups reds the flag well before the
    *    spec's 0.6 envelope);
    *  - precision — every emitted pair's exact cosine clears the
    *    threshold (4dp-rounding guard at 0.3499). True by construction of
    *    the verify stage; the flag pins that the stage stays in the plan.
    * The raw pair frame stays spec-pinned in SimilaritySpec. */
  def cosineNearDupLshBound(s: SparkSession, d: String, threshold: Double = 0.35,
                            sliceMax: Long = 500,
                            minSliceRecall: Double = 0.7): DataFrame =
    pairSetBound(cosineNearDupsBucketed(s, d, threshold),
      cosineNearDups(s, d, threshold, sliceMax), threshold, minSliceRecall)

  private[graft] def pairSetBound(lsh: DataFrame, exact: DataFrame,
                                  threshold: Double, minSliceRecall: Double): DataFrame = {
    // Shape deliberately kept as THREE independent 1-row aggregates
    // crossJoined (round 19): a join-once rewrite (full-outer on the pair
    // key + single aggregate) halves the static plan (32 → 14 Exchanges)
    // but measured 35–60% SLOWER at sf0.1 — the duplicate subtrees are
    // deduped at runtime by AQE exchange reuse AND the independent 1-row
    // branches schedule as concurrent stages, while the join-once form
    // adds a pair-keyed Exchange+Sort on the serial critical path. See
    // OPTIMIZATION_r19.md (q_cosine_near_dup_lsh).
    val truthPairs = exact.select(col("vec_a"), col("vec_b"))
    val truth = truthPairs.agg(count(lit(1)).as("n_true_slice"))
    val hits = truthPairs.join(lsh.select(col("vec_a"), col("vec_b")), Seq("vec_a", "vec_b"))
      .agg(count(lit(1)).as("n_hit"))
    val props = lsh.agg(coalesce(min(col("cos")), lit(1.0)).as("min_cos"))
    truth.crossJoin(hits).crossJoin(props).select(
      col("n_true_slice"),
      (col("n_hit") >= col("n_true_slice") * minSliceRecall).cast("int").as("slice_recall_in_bound"),
      (col("min_cos") >= threshold - 0.0001).cast("int").as("precision_ok"))
  }

  /** Symmetric int8 quantization of embeddings: per-vector scale =
    * max|x|/127, q = round(x/scale) — a 4× storage/shuffle-volume cut for
    * the ANN candidate stages (verify still reads the float vectors).
    * Registered as reconstruction-error stats per vector so the DuckDB
    * oracle pins the whole arithmetic chain; the scale floor guards the
    * all-zero vector (identically on both engines). */
  def quantizeEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("scale",
        greatest(expr("array_max(transform(emb, x -> abs(x)))") / lit(127.0), lit(1e-30)))
      .withColumn("qv", expr("transform(emb, x -> CAST(round(x / scale) AS INT))"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale"),
        expr("aggregate(qv, 0L, (acc, x) -> acc + x)").as("q_sum"),
        round(expr("array_max(zip_with(emb, qv, (x, q) -> abs(x - q * scale)))"), 6).as("max_err"))

  /** Per-label centroids via posexplode + partial-agg mean per (label, pos) —
    * the shuffle carries (label × dim) rows, never the vectors themselves. */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 5).as("centroid_v"))
      .filter(col("pos") < 8) // small stable slice for the oracle dump

  /** SemDeDup core (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = cluster the embedding space with a coarse quantizer,
    * then drop near-identical neighbors WITHIN each cluster only. Input is
    * any (cell, vec_id, embedding) assignment — here the IVF index's k-means
    * cells, reused as-is, so the quantizer is trained once per corpus and
    * shared between ANN probes and dedup.
    *
    * Within-cell pairing is a self-equi-join on `cell`: per-reducer work is
    * quadratic in CELL size, never corpus size — the paper's own bound; at
    * 100 TB you raise k so cells stay ~10⁴ vectors and the join stays one
    * shuffle on a dense int key. The keep policy is greedy min-id: a vector
    * is dropped iff some LOWER-id vector in its cell sits within `eps`
    * cosine distance — deterministic, one pass, and every surviving pair is
    * ≥ eps apart or in different cells (pinned in SimilaritySpec). */
  def semanticDedupFrom(assigned: DataFrame, eps: Double = 0.05): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("id_keep"),
      col("embedding").cast("array<double>").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_drop"),
      col("embedding").cast("array<double>").as("emb_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_keep") < col("id_drop"))
      // try_divide: zero vectors rank as null cosine and survive (they are
      // nobody's near-duplicate), instead of ANSI DIVIDE_BY_ZERO
      .withColumn("cos", try_divide(vecDot(col("emb_a"), col("emb_b")),
        vecNorm(col("emb_a")) * vecNorm(col("emb_b"))))
      .filter(col("cos") >= 1.0 - eps)
      .select(col("cell"), col("id_drop")).distinct()
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .join(dropped.groupBy(col("cell")).agg(count(lit(1)).as("nd")), Seq("cell"), "left")
      .select(col("cell"), col("n_vectors"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"))
  }

  /** Registered query body: SemDeDup summary per IVF cell (the cells are
    * k-means model state; the keep/drop semantics are spec-pinned). */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDedupFrom(IvfIndex.index(s, d)._1)

  /** SemDeDup, bound-oracled (`q_semantic_dedup` promotion, the
    * structure-invariant form): cells are k-means state, so the payload is
    * the exact corpus size plus three invariants the oracle pins —
    * conservation (every vector counted in exactly one cell), the greedy
    * keep direction (the global minimum vec_id can never be dropped: no
    * lower id exists anywhere, let alone in its cell), and the cell-count
    * envelope (1..k cells). Per-cell keep/drop semantics stay spec-pinned
    * in SimilaritySpec; the embedding-space quality siblings
    * (`q_ann_recall`, `q_cosine_near_dup_lsh`) gate the geometry. */
  def semanticDedupBound(s: SparkSession, d: String, eps: Double = 0.05): DataFrame = {
    val assigned = IvfIndex.index(s, d)._1
    val summary = semanticDedupFrom(assigned, eps)
    val minId = assigned.agg(min(col("vec_id")).as("mid"))
    val a = assigned.select(col("cell"), col("vec_id").as("id_keep"),
      col("embedding").cast("array<double>").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_drop"),
      col("embedding").cast("array<double>").as("emb_b"))
    val minDropped = a.join(b, Seq("cell"))
      .filter(col("id_keep") < col("id_drop"))
      .withColumn("cos", try_divide(vecDot(col("emb_a"), col("emb_b")),
        vecNorm(col("emb_a")) * vecNorm(col("emb_b"))))
      .filter(col("cos") >= 1.0 - eps)
      .select(col("id_drop")).distinct()
      .crossJoin(minId).filter(col("id_drop") === col("mid"))
      .agg(count(lit(1)).as("n_min_dropped"))
    val agg = summary.agg(sum(col("n_vectors")).as("cell_total"),
      count(lit(1)).as("n_cells"))
    Tables.embeddings(s, d).agg(count(lit(1)).as("n_vectors"))
      .crossJoin(agg).crossJoin(minDropped).select(
        col("n_vectors"),
        (col("cell_total") === col("n_vectors")).cast("int").as("conservation_ok"),
        (col("n_min_dropped") === 0).cast("int").as("min_id_kept_ok"),
        (col("n_cells").between(1, 16)).cast("int").as("cells_ok"))
  }

  /** Label coherence: avg cosine of each vector to its label centroid — a
    * quality metric for the embedding space; joins rows against a broadcast
    * per-label aggregate. */
  def labelCoherence(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val centroids = emb
      .select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos")).agg(avg(col("v")).as("cv"))
      .groupBy(col("label")).agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pairs"))
      .select(col("label"), expr("transform(pairs, p -> p.cv)").as("centroid"))
    emb.join(broadcast(centroids), Seq("label"))
      .withColumn("cos", cosine(col("emb"), col("centroid")))
      .groupBy(col("label"))
      .agg(round(avg(col("cos")), 4).as("avg_cos_to_centroid"), count(lit(1)).as("n_vectors"))
  }
}
