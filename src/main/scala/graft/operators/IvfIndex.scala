package graft.operators

import graft.Tables
import graft.functions.VectorFunctions.{vecDot, vecNorm}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) ANN index (SURVEY.md §2.11 D3 scale path, alternative
  * to sign-LSH): a seeded k-means coarse quantizer assigns every vector to a
  * cell; queries probe their `nProbe` nearest cells only. `nProbe` is the
  * recall/cost dial — on strongly clustered corpora 2-3 cells suffice; the
  * default 6 (of 16) holds recall on near-isotropic embeddings like the
  * synthetic test vectors.
  *
  * Scale shape: the partition/join key is the cell id — candidate generation
  * is one equi-join on `cell`, and each reducer scans one cell (≈ n/k
  * vectors), never the corpus. Recall is tunable via `nProbe`; the exact
  * [[Similarity.bruteForceTopK]] is the measuring stick (IvfSpec).
  */
object IvfIndex {

  /** Train the coarse quantizer and assign cells. Returns (assigned, centroids)
    * where `assigned` = input + `cell` int column, `centroids` = (cell,
    * centroid array<double>). Deterministic: fixed seed, k-means∥ init. */
  def buildIndex(emb: DataFrame, k: Int = 16): (DataFrame, DataFrame) = {
    val featured = emb.withColumn("features", array_to_vector(col("embedding").cast("array<double>")))
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("cell").fit(featured)
    val assigned = model.transform(featured).drop("features")
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    val spark = emb.sparkSession
    import spark.implicits._
    (assigned, centroids.toSeq.toDF("cell", "centroid"))
  }

  /** Probe: for each query, its `nProbe` nearest cells by centroid distance,
    * then exact cosine within those cells only. */
  def ivfTopK(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int = 6): DataFrame = {
    val qc = queries
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(broadcast(centroids))
      // try_divide: a zero-vector query (or a degenerate centroid) must rank
      // as a null distance, not throw ANSI DIVIDE_BY_ZERO and kill the probe
      .withColumn("cdist", -try_divide(vecDot(col("q_emb"), col("centroid")),
        vecNorm(col("q_emb")) * vecNorm(col("centroid"))))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist").asc, col("cell").asc)
    val probed = qc.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val cands = assigned
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("cell"))
    val scored = cands
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", try_divide(vecDot(col("q_emb"), col("c_emb").cast("array<double>")),
        vecNorm(col("q_emb")) * vecNorm(col("c_emb"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Two-stage probe over an int8-quantized index: retrieve-then-rerank.
    *
    * Stage 1 ranks candidates inside the probed cells by cosine over the
    * QUANTIZED vectors — the per-vector scale cancels out of the cosine
    * (v ≈ qv·s ⇒ dot(q,v)/|q||v| ≈ dot(q,qv)/|q||qv|), so the candidate
    * stage needs only the tinyint arrays: at corpus scale that is the 4×
    * exchange/storage cut [[Similarity.quantizeEmbeddings]] promises, made
    * real. Stage 2 rejoins only the `rerank`·k survivors to the float
    * vectors (keyed on id) for exact scoring. Recall vs the float probe is
    * pinned in IvfStreamSpec. */
  def ivfTopKQuantized(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
                       k: Int, nProbe: Int = 6, rerank: Int = 3,
                       quantizedOpt: Option[DataFrame] = None): DataFrame = {
    // The int8 table is INDEX STATE (what a production deployment stores
    // next to the cell assignments — the 4× cut quantizeEmbeddings
    // promises); the registered gate passes the memoized [[q8Index]] so
    // the per-row quantization transform runs once per corpus, not inside
    // every probe's stage-1 scan (round 19: the transform was the gate's
    // single largest job, 0.8 s of a 2.9 s total at sf0.1). Fuzz/spec
    // callers omit it and get the inline derivation — bit-identical
    // arithmetic either way, pinned by IvfStreamSpec equality.
    val quantized = quantizedOpt.getOrElse(quantizeAssigned(assigned))
    val qc = queries
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", -try_divide(vecDot(col("q_emb"), col("centroid")),
        vecNorm(col("q_emb")) * vecNorm(col("centroid"))))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist").asc, col("cell").asc)
    val probed = qc.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val approxW = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("cand_id").asc)
    val survivors = quantized
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("qvd", col("qv").cast("array<double>"))
      .withColumn("acos", try_divide(vecDot(col("q_emb"), col("qvd")),
        vecNorm(col("q_emb")) * vecNorm(col("qvd"))))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= k * rerank)
      .select(col("query_id"), col("q_emb"), col("cand_id"))
    val exact = assigned.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("c_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id").asc)
    survivors.join(exact, Seq("cand_id"))
      .withColumn("cos", try_divide(vecDot(col("q_emb"), col("c_emb")),
        vecNorm(col("q_emb")) * vecNorm(col("c_emb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Symmetric per-vector int8 quantization of the assigned index — the
    * candidate-stage representation [[ivfTopKQuantized]] scores against.
    * Factored out so the memoized [[q8Index]] and the inline fuzz/spec path
    * share one expression (identical bits by construction). */
  private[graft] def quantizeAssigned(assigned: DataFrame): DataFrame =
    assigned.select(
      col("vec_id").as("cand_id"), col("cell"),
      expr("""transform(embedding, x -> CAST(round(x / greatest(
             |  array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0D,
             |  1e-30D)) AS TINYINT))""".stripMargin).as("qv"))

  /** The int8 index table, memoized per (session, dir) under the same
    * persisted-index contract as [[pqIndex]] — a real deployment stores the
    * quantized vectors alongside the cell assignments; deriving them inside
    * every probe re-paid the per-row transform per query (round 19). */
  @transient private lazy val q8Cache =
    new SessionCache[DataFrame]()

  def q8Index(s: SparkSession, d: String): DataFrame =
    q8Cache.getOrCompute(s, d) {
      val (assigned, _) = index(s, d)
      quantizeAssigned(assigned).cache()
    }

  // ------------------------------------------------ Product quantization

  /** PQ geometry: 64-dim embeddings → 8 subspaces × 8 dims, 32 codes per
    * subspace — each vector compresses to 8×5 bits (51× vs float32), the
    * IVF+PQ layout every billion-vector ANN deployment runs (Jégou et al.
    * 2011). The int8 path ([[ivfTopKQuantized]]) cuts 4×; PQ is the next
    * rung, trading recall for another order of magnitude. Geometry chosen
    * by measurement on the near-isotropic synthetic embeddings (the
    * hardest case for PQ — no cluster structure for the codebooks to
    * exploit): 4×16-dim/16-code measured recall 0.20-0.36; 8×8-dim/32-code
    * at the shipped operating point (nProbe 8, rerank 10) measures recall
    * 0.74/0.70/0.74 and max regret ≤0.040 across the three SFs
    * (MeasureAnnMain sweep; the old (6,6) point measured 0.52 worst). */
  val PqSubspaces = 8
  val PqCodes = 32

  /** Train per-subspace codebooks: an independent seeded k-means on each
    * 8-dim slice of the corpus (64 dims / [[PqSubspaces]]=8). Training cost is m small fits over the
    * corpus (subsample at real scale, as for the coarse quantizer); the
    * result is an (m·k)-row model frame — broadcast-sized at any corpus. */
  def pqCodebooks(emb: DataFrame, m: Int = PqSubspaces, k: Int = PqCodes): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    val sub = dim / m
    (0 until m).flatMap { j =>
      val featured = emb
        .select(expr(s"slice(CAST(embedding AS ARRAY<DOUBLE>), ${j * sub + 1}, $sub)").as("sv"))
        .withColumn("features", array_to_vector(col("sv")))
      val model = new KMeans().setK(k).setSeed(42L + j).setMaxIter(20)
        .setFeaturesCol("features").setPredictionCol("code").fit(featured)
      model.clusterCenters.zipWithIndex.map { case (c, i) => (j, i, c.toArray) }
    }.toDF("subspace", "code", "codebook")
  }

  /** Encode vectors against the codebooks: nearest codebook entry per
    * subspace, ties broken toward the smaller code. Kept in EXPLODED form
    * (m rows per vector, keyed (vec_id, subspace, code)) because the ADC
    * probe joins on exactly that key. Scale shape: one broadcast join of
    * the (m·k)-row model against the m-exploded scan plus a partial-agg
    * argmin — no window, no shuffle beyond the group-by. */
  def pqEncode(assigned: DataFrame, codebooks: DataFrame, m: Int = PqSubspaces): DataFrame =
    assigned
      .select(col("vec_id"), col("cell"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"))
      .join(broadcast(codebooks), Seq("subspace"))
      .withColumn("sv",
        expr("slice(CAST(embedding AS ARRAY<DOUBLE>), subspace * size(codebook) + 1, size(codebook))"))
      .withColumn("dist2",
        expr("aggregate(zip_with(sv, codebook, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy(col("vec_id"), col("cell"), col("subspace"))
      .agg(min(struct(col("dist2"), col("code"))).as("best"))
      .select(col("vec_id"), col("cell"), col("subspace"), col("best.code").as("code"))

  /** IVF+PQ probe — asymmetric distance computation (ADC) then exact
    * rerank. Stage 1: the query builds a lookup table of per-(subspace,
    * code) partial dot products and partial squared norms against the raw
    * float query (|q|·m·k rows — broadcast), so scoring a candidate is m
    * LUT hits summed: approx cos rank key = Σpdot / sqrt(Σ|c_j|²), the
    * codebook-reconstructed cosine, WITHOUT touching any candidate float.
    * At corpus scale the candidate side ships 5 code bytes per vector
    * (8 codes × 5 bits) — the entire point. Stage 2 rejoins only the rerank·k survivors to the
    * float vectors for exact cosine, so the emitted scores are exact and
    * [[Similarity.probeQualityBound]]'s regret flag measures what PQ lost.
    * Division by |q| is per-query constant and skipped in the rank key. */
  def ivfTopKPq(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
                codebooks: DataFrame, codes: DataFrame,
                k: Int, nProbe: Int = 8, rerank: Int = 10): DataFrame = {
    val qc = queries
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", -try_divide(vecDot(col("q_emb"), col("centroid")),
        vecNorm(col("q_emb")) * vecNorm(col("centroid"))))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist").asc, col("cell").asc)
    val probed = qc.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val lut = queries
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(broadcast(codebooks))
      .withColumn("qsv", expr("slice(q_emb, subspace * size(codebook) + 1, size(codebook))"))
      .withColumn("pdot",
        expr("aggregate(zip_with(qsv, codebook, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"))
      .withColumn("pc2",
        expr("aggregate(transform(codebook, x -> x * x), 0D, (acc, x) -> acc + x)"))
      .select(col("query_id"), col("subspace"), col("code"), col("pdot"), col("pc2"))
    val survivors = codes
      .join(broadcast(probed.select(col("query_id"), col("cell"))), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("pc2")).as("ac2"))
      .withColumn("acos", try_divide(col("adot"), sqrt(col("ac2"))))
    val approxW = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("cand_id").asc)
    val reranked = survivors
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= k * rerank)
      .select(col("query_id"), col("cand_id"))
    val exact = assigned.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("c_emb"))
    val qe = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id").asc)
    reranked.join(exact, Seq("cand_id")).join(broadcast(qe), Seq("query_id"))
      .withColumn("cos", try_divide(vecDot(col("q_emb"), col("c_emb")),
        vecNorm(col("q_emb")) * vecNorm(col("c_emb"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** PQ model + codes, memoized per (session, dir) alongside the coarse
    * index — the persisted-index contract extended with the codebook and
    * code tables (what a real IVF+PQ deployment stores). */
  @transient private lazy val pqCache =
    new SessionCache[(DataFrame, DataFrame)]()

  def pqIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    pqCache.getOrCompute(s, d) {
      val (assigned, _) = index(s, d)
      val cb = pqCodebooks(Tables.embeddings(s, d)).cache()
      (cb, pqEncode(assigned, cb).cache())
    }

  /** IVF+PQ probe, bound-oracled (`q_ann_ivf_pq`): the 51×-compressed ADC
    * path held to the FAMILY-STANDARD probe-quality bound (round-9 verdict
    * ask #2 — the old (6,6) point forced the gate's loosest pin, 0.4).
    * Thresholds calibrated against the MeasureAnnMain sweep at the shipped
    * (nProbe 8, rerank 10) point: recall worst 0.70 → pinned 0.6 (the
    * sibling convention's margin); regret worst 0.040 → pinned 0.12. */
  def annIvfPqBound(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val (assigned, centroids) = index(s, d)
    val (cb, codes) = pqIndex(s, d)
    Similarity.probeQualityBound(
      Similarity.bruteForceTopK(q, emb, 5),
      ivfTopKPq(q, assigned, centroids, cb, codes, 5),
      minRecall = 0.6, maxRegret = 0.12, minReturnedFrac = 1.0)
  }

  /** STREAMING ANN serving (`q_stream_ann`): a stream of query vectors
    * scored per micro-batch against the session-memoized (≡ persisted)
    * IVF index inside `foreachBatch` — the model-serving shape of every
    * production vector-search pipeline (index built offline, queries
    * arrive as a stream, each batch probes the broadcast/persisted index;
    * no stateful operator, so the drained union over batches equals the
    * one-batch probe EXACTLY — top-k is per-query-independent). The gate
    * collapses the drained sink through the same probe-quality bound as
    * the batch IVF row, so a batch-boundary bug (a query scored against a
    * partial index, or dropped between batches) reds the flags or the
    * counts. */
  def streamAnnGate(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    Similarity.probeQualityBound(
      Similarity.bruteForceTopK(q, emb, 5), streamAnnProbe(s, d),
      minRecall = 0.6, maxRegret = 0.12, minReturnedFrac = 1.0)
  }

  /** The drained foreachBatch probe itself (localCheckpointed off its
    * scratch sink) — [[streamAnnGate]] collapses it through the bound;
    * IvfStreamSpec asserts it equals the one-batch [[ivfTopK]] EXACTLY. */
  private[graft] def streamAnnProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventsStream.memoDrain(s, d, "ann") {
      import org.apache.spark.sql.streaming.Trigger
      val (assigned, centroids) = index(s, d)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      val base = java.nio.file.Files.createTempDirectory("graft-stream-ann-gate")
      val srcDir = base.resolve("src").toString
      val outDir = base.resolve("out").toString
      val ckptDir = base.resolve("ckpt").toString
      // isolated child session at 8 shuffle partitions — the drainGate
      // conf contract, without mutating the caller's session (the
      // persisted index is served across sessions by the shared context's
      // CacheManager, the cross-JVM analog of a probe job loading a
      // persisted index table)
      val iso = s.newSession()
      iso.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        q.repartitionByRange(2, col("vec_id")).write.mode("overwrite").parquet(srcDir)
        val query = iso.readStream
          .schema(emb.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckptDir)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            ivfTopK(batch, assigned, centroids, 5)
              .write.mode("append").parquet(outDir)
          }
          .start()
        try query.awaitTermination() finally query.stop()
        // KEYSPACE state bounds (round-12 verdict #1): serving is
        // stateless by design (each batch probes the persisted index; no
        // stateful operator) — pinned — and the sink is keyed by (query id,
        // rank), so it may never exceed |query ids| × k. A batch re-emitted
        // across restarts, or a probe that stopped limiting to top-k, grows
        // the sink past the keyspace and reds here.
        graft.streaming.EventsStream.requireStateless(query, "graft-stream-ann-gate")
        val sink = iso.read.parquet(outDir)
        graft.streaming.EventsStream.requireKeyspaceBounded(
          sink.count(), q.count() * 5, "graft-stream-ann-gate sink")
        sink.localCheckpoint(true)
      } finally
        // failure path included: a drain error must not leak the scratch
        // tree (the payload is localCheckpointed before this runs)
        graft.streaming.EventsStream.deleteRecursively(base.toFile)
    }

  /** Index build is a SEPARATE stage from probing — the at-scale shape: the
    * quantizer is trained and vectors assigned ONCE (a batch index build),
    * then every query is probe-only. Here the built index is memoized per
    * (session, dir) — keying on the session too, or a restarted
    * SparkSession would be served cached frames bound to a dead context —
    * and the assignment/centroid frames are cached, so repeated queries
    * (and the bench) pay k-means exactly once per corpus: the contract of a
    * persisted index table on cluster storage. If the underlying embeddings
    * change, call [[SessionCache.invalidate]] (a persisted index needs an
    * explicit rebuild too). */
  @transient private lazy val indexCache =
    new SessionCache[(DataFrame, DataFrame)]()

  def index(s: SparkSession, d: String): (DataFrame, DataFrame) =
    indexCache.getOrCompute(s, d) {
      val (assigned, centroids) = buildIndex(Tables.embeddings(s, d))
      (assigned.cache(), centroids.cache())
    }

  /** Persist the built index to storage — the literal form of the
    * persisted-index contract the memoization simulates: two parquet tables
    * (cell assignments, centroids) written once per corpus build. A probe
    * job on another JVM/cluster calls [[load]] and never touches k-means. */
  def save(s: SparkSession, d: String, indexDir: String): Unit = {
    val (assigned, centroids) = index(s, d)
    assigned.write.mode("overwrite").parquet(s"$indexDir/assigned")
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Load a persisted index: probe-ready (assigned, centroids) frames backed
    * by the parquet tables — no fit, no session cache dependency. */
  def load(s: SparkSession, indexDir: String): (DataFrame, DataFrame) =
    (s.read.parquet(s"$indexDir/assigned"), s.read.parquet(s"$indexDir/centroids"))

  /** Registered query: IVF top-5 for the first 5 vectors (rows-only — the
    * k-means cells are model state, not SQL; recall pinned in IvfSpec).
    * Probe-only against the built index. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val (assigned, centroids) = index(s, d)
    ivfTopK(Tables.embeddings(s, d).filter(col("vec_id") < 5), assigned, centroids, 5)
  }

  /** IVF probe, bound-oracled (`q_ann_ivf`): [[ivfTopK]] over the 10-query
    * set, collapsed by [[Similarity.probeQualityBound]] — deterministic
    * counts plus recall / returned-volume / cosine-regret flags the oracle
    * pins. The raw top-k frame stays pinned in IvfStreamSpec. */
  def annIvfBound(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val (assigned, centroids) = index(s, d)
    Similarity.probeQualityBound(
      Similarity.bruteForceTopK(q, emb, 5),
      ivfTopK(q, assigned, centroids, 5),
      minRecall = 0.6, maxRegret = 0.12, minReturnedFrac = 1.0)
  }

  /** Quantized two-stage IVF probe, bound-oracled (`q_ann_ivf_q8`): the
    * int8 retrieve-then-rerank path held to the same exact-cosine regret
    * standard as the float probe — quantization error that survives the
    * rerank stage shows up directly in the regret flag. */
  def annIvfQ8Bound(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val (assigned, centroids) = index(s, d)
    Similarity.probeQualityBound(
      Similarity.bruteForceTopK(q, emb, 5),
      ivfTopKQuantized(q, assigned, centroids, 5,
        quantizedOpt = Some(q8Index(s, d))),
      minRecall = 0.6, maxRegret = 0.12, minReturnedFrac = 1.0)
  }
}
