package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.11 D4) — reference hook: the
  * photo-URL structs in the review payload (sample.json:31-38,335-354).
  *
  * Media assets are opaque `binary` columns plus a typed metadata struct;
  * decode/resize/frame-sample run per-partition over the binary payload.
  * The actual codecs are NOT in this container, so the decode kernel is a
  * clearly-marked deterministic fake ([[fakeDecodeFeatures]]) — the Spark
  * side (schema, batching, partition-locality, output shape) is real and
  * tested in MultimodalSpec.
  *
  * Scale notes: binary payloads ride the scan; feature extraction is a
  * narrow map (no shuffle); downstream ANN over the extracted features
  * reuses [[Similarity]]'s bucketed path. For real data the source would be
  * `spark.read.format("binaryFile")` with `pathGlobFilter`, partitioned by
  * asset shard.
  */
object Multimodal {

  /** Synthesize an assets table from documents: payload = utf-8 bytes of the
    * text (a stand-in for image bytes), metadata = typed struct. */
  def assets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("asset_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("image/fake").as("mime"),
        length(col("text")).cast("long").as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** STUB decode kernel: a real deployment would call an image codec here
    * (e.g. JPEG decode → resize(64x64) → channel means). This deterministic
    * fake derives an 8-dim float feature purely from the bytes so tests can
    * pin exact values. Marked fake by name and by the `decoder` metadata
    * field. */
  def fakeDecodeFeatures(df: DataFrame): DataFrame = {
    val dims = 8
    df
      .withColumn("features", expr(
        s"""transform(sequence(0, ${dims - 1}),
           |  i -> CAST(pmod(xxhash64(i, payload), 1000L) AS DOUBLE) / 1000.0)""".stripMargin))
      .withColumn("decoder", lit("fake-deterministic-v1"))
  }

  /** Frame sampling stub: byte-range slices standing in for video frames —
    * real implementation would demux; slicing shape/stride is what matters
    * to the Spark plan. */
  def sampleFrames(df: DataFrame, frameBytes: Int = 32, nFrames: Int = 4): DataFrame =
    df.withColumn("frames", expr(
      s"""transform(sequence(0, ${nFrames - 1}),
         |  f -> substring(payload, f * $frameBytes + 1, $frameBytes))""".stripMargin))

  /** Registered frame-sampling query, oracle-checked on the one thing SQL
    * can see through the opaque payload: per-frame BYTE LENGTHS. The DuckDB
    * oracle derives them arithmetically from octet_length, so the
    * byte-exact slicing contract (stride, truncated tail, empty
    * past-the-end frames) is pinned end to end even though the frame bytes
    * themselves never enter the compare. */
  def frameSampleQuery(s: SparkSession, d: String): DataFrame =
    sampleFrames(assets(s, d), frameBytes = 32, nFrames = 4)
      .select(col("asset_id"), posexplode(col("frames")).as(Seq("frame_id", "frame")))
      .select(col("asset_id"), col("frame_id"),
        length(col("frame")).cast("int").as("frame_bytes"))

  final case class DecodedAsset(asset_id: Long, features: Seq[Float])

  /** Deterministic fake kernel for the batched decode path (same honesty
    * contract as [[fakeDecodeFeatures]]): 8 floats derived from strided
    * byte rolling-hashes — a stand-in for a codec producing a fixed-width
    * feature vector per asset. */
  def fakeBatchKernel(payloads: Seq[Array[Byte]]): Seq[Array[Float]] =
    payloads.map { p =>
      Array.tabulate(8) { i =>
        var s = 0L
        var j = i
        while (j < p.length) { s = (s * 31 + (p(j) & 0xff)) % 997; j += 8 }
        s / 997.0f
      }
    }

  /** Batch-shaped decode plumbing: payloads reach the kernel in batches of
    * ≤ `batchSize`, one kernel call per batch per partition, order
    * preserved — the Scala analog of an Arrow-batched decode UDF (a real
    * codec amortizes per-call setup across the batch exactly like the
    * reference's batch-of-10 RPC, G1). Per-partition, so decoding is a
    * narrow map — no shuffle at any corpus size. */
  def decodeBatched(assets: Dataset[(Long, Array[Byte])],
                    kernel: Seq[Array[Byte]] => Seq[Array[Float]],
                    batchSize: Int = 16): Dataset[DecodedAsset] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val feats = kernel(batch.map(_._2))
        require(feats.size == batch.size,
          s"decode kernel returned ${feats.size} features for ${batch.size} payloads")
        batch.zip(feats).map { case ((id, _), f) => DecodedAsset(id, f.toSeq) }
      }
    }
  }

  // ---- real decode path (javax.imageio, hermetic) --------------------------

  /** Deterministic synthetic PNG: a solid-RGB image whose color and
    * dimensions are pure functions of the asset id —
    * r = id mod 256, g = 2·id mod 256, b = 3·id mod 256,
    * width = 4 + id mod 5, height = 4 + id mod 3. PNG is lossless, so a
    * REAL decoder must recover exactly these values; that is what lets the
    * DuckDB oracle verify a binary codec it cannot run — the expected
    * features are arithmetic in the id. (The gradient-image spec pins
    * per-pixel decode fidelity beyond what a solid color can.) */
  def syntheticPng(assetId: Long): Array[Byte] = {
    val w = (4 + assetId % 5).toInt
    val h = (4 + assetId % 3).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (((assetId % 256) << 16) | (((assetId * 2) % 256) << 8)
      | ((assetId * 3) % 256)).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Image assets table: one deterministic PNG per document id. The encode
    * runs distributed (a narrow map over the scan) — at real scale this
    * frame IS the `binaryFile` source; the synthesis only replaces the
    * fixture bytes, not the plumbing. */
  def imageAssets(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map(id => (id, syntheticPng(id)))
  }

  /** REAL decode kernel: `javax.imageio` PNG decode → (width, height,
    * n_channels, per-channel means), one fixed-width Float vector per
    * payload — the same batch contract as [[fakeBatchKernel]], now backed
    * by an actual codec. Means of 8-bit channels are exact in Float
    * (integers < 256 over ≤48 pixels). `setUseCache(false)` keeps ImageIO
    * off executor-local disk — decode stays a pure in-memory map. */
  def imageBatchKernel(payloads: Seq[Array[Byte]]): Seq[Array[Float]] = {
    javax.imageio.ImageIO.setUseCache(false)
    payloads.map { bytes =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "payload is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = (w * h).toFloat
      Array(w.toFloat, h.toFloat, img.getColorModel.getNumComponents.toFloat,
        sr / n, sg / n, sb / n)
    }
  }

  /** Decoded image features via the SAME batched plumbing as the stub path
    * ([[decodeBatched]]): batches of ≤16 payloads per kernel call per
    * partition, narrow map, no shuffle. */
  def imageFeatures(s: SparkSession, d: String): Dataset[DecodedAsset] =
    decodeBatched(imageAssets(s, d), imageBatchKernel)

  /** Registered query over the REAL decode: the DuckDB oracle recomputes
    * every output column arithmetically from the id (see [[syntheticPng]]),
    * so a broken or stubbed codec — wrong dims, wrong channel order, any
    * lossy step — fails the hash compare. */
  def imageDecodeQuery(s: SparkSession, d: String): DataFrame =
    imageFeatures(s, d).toDF().select(
      col("asset_id"),
      element_at(col("features"), 1).cast("int").as("width"),
      element_at(col("features"), 2).cast("int").as("height"),
      element_at(col("features"), 3).cast("int").as("n_channels"),
      round(element_at(col("features"), 4).cast("double"), 4).as("mean_r"),
      round(element_at(col("features"), 5).cast("double"), 4).as("mean_g"),
      round(element_at(col("features"), 6).cast("double"), 4).as("mean_b"))

  // ---- real audio path (javax.sound.sampled, hermetic) ---------------------

  /** Deterministic synthetic WAV: 16-bit signed little-endian mono PCM at
    * 8 kHz, n = 64 + id mod 33 samples of a square wave — amplitude
    * 1000 + (id mod 100)·10, half-period 2 + id mod 7 (sample i is +amp
    * when ⌊i/p⌋ is even, −amp otherwise). PCM in a WAV container is
    * lossless, so a REAL decoder must recover exactly these integers —
    * the [[syntheticPng]] contract transplanted to audio, with
    * `javax.sound.sampled` playing the part of `javax.imageio`. */
  def syntheticWav(assetId: Long): Array[Byte] = {
    val n = (64 + assetId % 33).toInt
    val p = (2 + assetId % 7).toInt
    val amp = (1000 + (assetId % 100) * 10).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = if ((i / p) % 2 == 0) amp else -amp
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio assets table: one deterministic WAV per document id — the same
    * narrow-map synthesis stand-in for a `binaryFile` source as
    * [[imageAssets]]. */
  def audioAssets(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map(id => (id, syntheticWav(id)))
  }

  /** REAL audio decode kernel: WAV container parse + PCM frame read via
    * `javax.sound.sampled`, then the standard cheap audio screeners a
    * corpus pass wants — length, format, peak, integer sum of |sample|
    * (volume proxy), and the zero-crossing count (pitch/noisiness proxy).
    * Every output is an exact integer (sums bounded well under 2²⁴, so
    * the Float feature slots are exact), which is what lets the oracle
    * verify the codec arithmetically. Same ≤16-payload batch contract as
    * [[imageBatchKernel]]. */
  def audioBatchKernel(payloads: Seq[Array[Byte]]): Seq[Array[Float]] =
    payloads.map { bytes =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
        s"unexpected decoded format: $fmt")
      val data = ais.readAllBytes()
      val n = data.length / 2
      var peak = 0; var sumAbs = 0L; var flips = 0; var prev = 0
      var i = 0
      while (i < n) {
        val v = (data(2 * i + 1) << 8) | (data(2 * i) & 0xff)
        val a = math.abs(v)
        if (a > peak) peak = a
        sumAbs += a
        if (i > 0 && v.toLong * prev < 0) flips += 1
        prev = v
        i += 1
      }
      Array(n.toFloat, fmt.getSampleRate, fmt.getChannels.toFloat,
        peak.toFloat, sumAbs.toFloat, flips.toFloat)
    }

  /** Registered query over the REAL audio decode (same batched plumbing as
    * the image path): the oracle re-generates the square wave per id with
    * `range` + a lag window and recomputes every column as integer
    * arithmetic — container parse, endianness, sign handling, and frame
    * accounting are all under the hash. */
  def audioDecodeQuery(s: SparkSession, d: String): DataFrame =
    decodeBatched(audioAssets(s, d), audioBatchKernel).toDF().select(
      col("asset_id"),
      element_at(col("features"), 1).cast("int").as("n_samples"),
      element_at(col("features"), 2).cast("int").as("sample_rate"),
      element_at(col("features"), 3).cast("int").as("n_channels"),
      element_at(col("features"), 4).cast("int").as("peak"),
      element_at(col("features"), 5).cast("long").as("sum_abs"),
      element_at(col("features"), 6).cast("int").as("n_sign_flips"))
}
