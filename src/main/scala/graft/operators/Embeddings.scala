package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-matrix statistics for training-data pipelines (D3 adjunct):
  * per-dimension moments, whitening, and the top principal component —
  * the preprocessing a corpus of embeddings gets before ANN indexing or
  * SemDeDup (centering + variance normalization collapses nuisance scale
  * differences between encoder checkpoints; the top PC is the classic
  * "rogue dimension" diagnostic for anisotropic embedding spaces).
  *
  * Scale shape: every statistic here is one aggregation pass over the
  * exploded (dim, value) stream — 64 keys, partial aggregation absorbs the
  * 64× explosion map-side, the shuffle carries (dim × partition) rows. The
  * whitening transform itself is scan-local: the 64-row stats frame
  * broadcasts back onto the vectors (a corpus BUILD → cheap transform
  * split, same contract as the IVF index). The covariance/PCA step
  * accumulates a d×d Gram matrix per partition and reduces
  * partition-count-many model-sized arrays — data never shuffles, and the
  * 64×64 eigen step is driver math on MODEL state (like k-means
  * centroids), not row data. */
object Embeddings {

  /** Per-dimension mean / population variance / extrema — the whitening
    * statistics table. Full DuckDB oracle (double accumulation on both
    * sides; 6dp rounding absorbs summation-order noise). */
  def dimStats(s: SparkSession, d: String): DataFrame =
    dimStatsOf(Tables.embeddings(s, d))

  def dimStatsOf(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("mean"),
        round(var_pop(col("x")), 6).as("variance"),
        round(min(col("x")), 6).as("min_x"),
        round(max(col("x")), 6).as("max_x"))

  /** Whitened L2 norm per vector: sqrt Σ_dim (x−μ_dim)²/(σ²_dim+ε) — the
    * end-to-end check that the whitening transform (center, scale) is
    * applied consistently; emitting the norm rather than the 64-dim
    * whitened array keeps the compare scalar-per-row (element-wise array
    * rounding has a measurably higher boundary-flip risk at 4dp). The
    * stats frame is 64 rows — Spark broadcasts it onto the scan; the only
    * wide stage is the stats build itself. */
  def whitenedNorms(s: SparkSession, d: String): DataFrame =
    whitenedNormsOf(Tables.embeddings(s, d))

  def whitenedNormsOf(emb: DataFrame): DataFrame = {
    val x = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
    val stats = x.groupBy(col("dim"))
      .agg(avg(col("x")).as("mu"), var_pop(col("x")).as("v"))
    x.join(broadcast(stats), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(round(sqrt(sum(
        (col("x") - col("mu")) * (col("x") - col("mu")) / (col("v") + lit(1e-9)))), 4)
        .as("whitened_norm"))
  }

  /** Driver-side covariance model: one `mapPartitions` pass accumulating
    * (count, Σx, Σxxᵀ) into a d + d² array per partition, reduced to a
    * single model — the treeAggregate pattern for d×d Gram matrices
    * (shuffle volume = partitions × d², independent of row count). This is
    * the ONE place the embedding layer drops to an imperative
    * per-partition loop: a d² accumulator has no declarative equivalent
    * that avoids a d²-wide explode. */
  /** Memoized per (session, corpus) under the same persisted-artifact
    * contract as the IVF index and shingle frames: the covariance is a
    * corpus BUILD (one pass), the eigen step and bound query are the cheap
    * reads. */
  @transient private lazy val covCache =
    new SessionCache[(Long, Array[Double], Array[Double])]()

  def covarianceModel(s: SparkSession, d: String): (Long, Array[Double], Array[Double]) =
    covCache.getOrCompute(s, d) { buildCovarianceModel(s, d) }

  private def buildCovarianceModel(s: SparkSession, d: String): (Long, Array[Double], Array[Double]) = {
    import s.implicits._
    val vecs = Tables.embeddings(s, d).select(col("embedding")).as[Array[Float]]
    val dim = 64
    val acc = vecs.mapPartitions { it =>
      val sums = new Array[Double](dim)
      val gram = new Array[Double](dim * dim)
      var n = 0L
      it.foreach { v =>
        require(v.length == dim, s"embedding of length ${v.length}, expected $dim")
        n += 1
        var i = 0
        while (i < dim) {
          val xi = v(i).toDouble
          sums(i) += xi
          var j = 0
          while (j < dim) { gram(i * dim + j) += xi * v(j).toDouble; j += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty else Iterator((n, sums, gram))
    }.collect() // one model-sized row per non-empty partition
    require(acc.nonEmpty, s"no embeddings in $d — cannot build a covariance model")
    val (n, sums, gram) = acc.reduce { (a, b) =>
      (a._1 + b._1,
        a._2.zip(b._2).map { case (x, y) => x + y },
        a._3.zip(b._3).map { case (x, y) => x + y })
    }
    val mean = sums.map(_ / n)
    val cov = Array.tabulate(dim * dim) { k =>
      val i = k / dim; val j = k % dim
      gram(k) / n - mean(i) * mean(j)
    }
    (n, mean, cov)
  }

  /** Top principal component via cyclic Jacobi eigendecomposition of the
    * d×d covariance (driver math on model state, like k-means centroids —
    * O(d³) per sweep is trivial at d=64 and, unlike power iteration,
    * converges regardless of the spectral gap: synthetic near-isotropic
    * embeddings have λ₂/λ₁ ≈ 1, where power iteration stalls — measured
    * residual 4e-5·‖C‖ after 50 iterations vs ~1e-12 here). Returns
    * (unit eigenvector of the largest eigenvalue, that eigenvalue). */
  def topPrincipalComponent(cov: Array[Double], dim: Int = 64,
                            maxSweeps: Int = 50): (Array[Double], Double) = {
    // a: working copy (symmetric); v: accumulated rotations (columns are
    // eigenvectors on convergence)
    val a = cov.clone()
    val vm = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) { vm(i * dim + i) = 1.0; i += 1 }
    def off(): Double = {
      var s = 0.0; var p = 0
      while (p < dim) {
        var q = p + 1
        while (q < dim) { val e = a(p * dim + q); s += e * e; q += 1 }
        p += 1
      }
      s
    }
    var sweep = 0
    while (sweep < maxSweeps && off() > 1e-24) {
      var p = 0
      while (p < dim) {
        var q = p + 1
        while (q < dim) {
          val apq = a(p * dim + q)
          if (math.abs(apq) > 1e-18) {
            val app = a(p * dim + p); val aqq = a(q * dim + q)
            val theta = (aqq - app) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < dim) {
              val akp = a(k * dim + p); val akq = a(k * dim + q)
              a(k * dim + p) = c * akp - s * akq
              a(k * dim + q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < dim) {
              val apk = a(p * dim + k); val aqk = a(q * dim + k)
              a(p * dim + k) = c * apk - s * aqk
              a(q * dim + k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < dim) {
              val vkp = vm(k * dim + p); val vkq = vm(k * dim + q)
              vm(k * dim + p) = c * vkp - s * vkq
              vm(k * dim + q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val top = (0 until dim).maxBy(j => a(j * dim + j))
    val lambda = a(top * dim + top)
    val vec = Array.tabulate(dim)(k => vm(k * dim + top))
    val nrm = math.sqrt(vec.map(e => e * e).sum)
    (vec.map(_ / nrm), lambda)
  }

  /** Inverse of the covariance by Gauss–Jordan with partial pivoting —
    * driver math on the d×d model, like the Jacobi step. A tiny ridge
    * (εI) keeps a numerically singular covariance (duplicated dims,
    * n < d) invertible without visibly perturbing well-conditioned ones. */
  def invertCovariance(cov: Array[Double], dim: Int = 64,
                       ridge: Double = 1e-9): Array[Double] = {
    val a = Array.tabulate(dim, dim)((i, j) =>
      cov(i * dim + j) + (if (i == j) ridge else 0.0))
    val inv = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var col = 0
    while (col < dim) {
      var pivot = col
      var r = col + 1
      while (r < dim) { if (math.abs(a(r)(col)) > math.abs(a(pivot)(col))) pivot = r; r += 1 }
      require(math.abs(a(pivot)(col)) > 1e-18, s"covariance not invertible at column $col")
      if (pivot != col) {
        val t = a(pivot); a(pivot) = a(col); a(col) = t
        val ti = inv(pivot); inv(pivot) = inv(col); inv(col) = ti
      }
      val p = a(col)(col)
      var j = 0
      while (j < dim) { a(col)(j) /= p; inv(col)(j) /= p; j += 1 }
      r = 0
      while (r < dim) {
        if (r != col) {
          val f = a(r)(col)
          if (f != 0.0) {
            var k = 0
            while (k < dim) { a(r)(k) -= f * a(col)(k); inv(r)(k) -= f * inv(col)(k); k += 1 }
          }
        }
        r += 1
      }
      col += 1
    }
    val flat = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) { System.arraycopy(inv(i), 0, flat, i * dim, dim); i += 1 }
    flat
  }

  /** Per-vector squared Mahalanobis distance m² = (x−μ)ᵀ C⁻¹ (x−μ) — the
    * embedding-space outlier score (rogue vectors, encoder glitches,
    * mislabeled modality) a training-data pipeline filters on before
    * contrastive sampling. The model (μ, C⁻¹) is built once per corpus
    * (memoized covariance + driver inversion) and broadcast; scoring is a
    * narrow typed map — zero shuffle at any corpus size. */
  def mahalanobis(s: SparkSession, d: String): org.apache.spark.sql.Dataset[(Long, Double)] = {
    import s.implicits._
    val (_, mean, cov) = covarianceModel(s, d)
    val inv = invertCovariance(cov)
    val bMean = s.sparkContext.broadcast(mean)
    val bInv = s.sparkContext.broadcast(inv)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val mu = bMean.value; val a = bInv.value
        val dim = mu.length
        val xc = new Array[Double](dim)
        var i = 0
        while (i < dim) { xc(i) = v(i).toDouble - mu(i); i += 1 }
        var m2 = 0.0
        i = 0
        while (i < dim) {
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += a(i * dim + j) * xc(j); j += 1 }
          m2 += xc(i) * acc
          i += 1
        }
        (id, m2)
      }
  }

  /** Registered bound query: the per-vector scores are model state SQL
    * cannot re-derive, but the POPULATION IDENTITY is exact — with the
    * population covariance of the same sample, mean(m²) = d algebraically
    * (trace(C⁻¹·C) = d), so the oracle pins n and the literal 64.0, and
    * any drift in the covariance build, the inversion, or the scoring loop
    * breaks the identity and reds the row. EmbeddingsSpec pins the
    * per-vector path. */
  def mahalanobisBound(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mahalanobis(s, d).toDF("vec_id", "m2")
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("m2")), 4).as("avg_m2"))
  }

  /** Registered bound query (the `q_ann_recall` pattern): the eigenpair
    * itself is model state SQL cannot re-derive, but three of its
    * invariants are checkable — the dimension count, the unit norm of v,
    * and dominance: the top eigenvalue of a covariance matrix is ≥ its
    * largest diagonal entry (max per-dim variance), which DuckDB CAN
    * recompute. EmbeddingsSpec pins the exact eigen math (Cv = λv) against
    * a driver recomputation. */
  def pcaBound(s: SparkSession, d: String): DataFrame = {
    val (n, _, cov) = covarianceModel(s, d)
    val (v, lambda) = topPrincipalComponent(cov)
    val unitNorm = math.abs(math.sqrt(v.map(e => e * e).sum) - 1.0) < 1e-9
    val maxDimVar = (0 until 64).map(i => cov(i * 64 + i)).max
    // 1e-9 slack: λ and the diagonal come from the same double pipeline,
    // but the comparison must not hinge on the last ulp
    val dominates = lambda >= maxDimVar - 1e-9
    val rows = java.util.List.of(
      org.apache.spark.sql.Row(n, 64, if (unitNorm) 1 else 0, if (dominates) 1 else 0))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_vectors", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_dims", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("unit_norm", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("lambda_dominates", org.apache.spark.sql.types.IntegerType)))
    s.createDataFrame(rows, schema)
  }
}
