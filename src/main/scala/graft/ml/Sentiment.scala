package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
import org.apache.spark.ml.{Pipeline => MlPipeline, PipelineModel}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sentiment enrichment — the reference's signature operator, made hermetic
  * (reference FunctionApp2/process_data/__init__.py:56-82 POSTs batches of 10
  * docs to Azure AI Language; that service is unreachable here, and at 100 TB
  * a per-10-row RPC is the bottleneck anyway).
  *
  * Three implementations behind one trait:
  *  - [[LexiconScorer]] — pure Catalyst column math (codegen'd, no UDF, no
  *    model state). Deterministic, SQL-expressible, so it carries the DuckDB
  *    oracle for the enrichment path. This is the 100 TB default: scoring is
  *    a projection, it adds zero shuffles.
  *  - [[MlSentimentScorer]] — Spark ML pipeline (RegexTokenizer → HashingTF →
  *    multinomial LogisticRegression), seeded and trained on a fixed
  *    in-memory corpus so results are reproducible with no network.
  *  - [[BatchedScorer]] — the reference-shaped path: `mapPartitions` +
  *    `grouped(10)` preserving the batch-of-10 RPC contract (G1,
  *    __init__.py:56,60,82) so a real remote scorer could be plugged in and
  *    unit-tested (≤10 docs/call, order preserved).
  */
trait SentimentScorer {
  /** Input: (record_id string, text string). Output adds
    * `sentiment` ("positive"|"neutral"|"negative") and `confidence` double —
    * the SentimentResults shape (__init__.py:88-95). */
  def score(docs: DataFrame): DataFrame
}

/** Lexicon scorer: counts positive/negative marker words with
  * `regexp_count` (whole-stage codegen; no UDF per SURVEY.md §2.12 policy). */
object LexiconScorer extends SentimentScorer {
  val positiveWords = Seq("fast", "good", "great")
  val negativeWords = Seq("slow", "bad", "poor")
  private def hits(words: Seq[String]) =
    regexp_count(lower(col("text")), lit(words.mkString("\\b(", "|", ")\\b")))

  override def score(docs: DataFrame): DataFrame =
    docs
      .withColumn("pos_hits", hits(positiveWords))
      .withColumn("neg_hits", hits(negativeWords))
      .withColumn(
        "sentiment",
        when(col("pos_hits") > col("neg_hits"), "positive")
          .when(col("neg_hits") > col("pos_hits"), "negative")
          .otherwise("neutral"))
      .withColumn(
        "confidence",
        round((col("pos_hits") + lit(1.0)) / (col("pos_hits") + col("neg_hits") + lit(2.0)), 4))
      .drop("pos_hits", "neg_hits")
}

/** Hermetic Spark ML scorer (M1): seeded end-to-end; the training corpus is
  * generated arithmetically (no RNG) so two runs — or two clusters — produce
  * the identical model. */
class MlSentimentScorer(spark: SparkSession) extends SentimentScorer {
  import spark.implicits._

  /** Tiny synthetic labeled corpus: class-correlated marker words mixed with
    * shared filler, cycled deterministically. */
  private def corpus: DataFrame = {
    val filler = Seq("table", "row", "data", "query", "batch", "window")
    val marker = Map(
      0 -> Seq("slow", "bad", "poor", "broken"),
      1 -> Seq("okay", "plain", "average", "usual"),
      2 -> Seq("fast", "good", "great", "solid"))
    (0 until 240).map { i =>
      val label = i % 3
      val m = marker(label)
      val text = Seq(
        m(i % m.size), filler(i % filler.size), m((i / 3) % m.size),
        filler((i / 2) % filler.size), m((i / 7) % m.size)).mkString(" ")
      (text, label.toDouble)
    }.toDF("text", "label")
  }

  lazy val model: PipelineModel = MlSentimentScorer.cachedModel(this)

  /** M2/M3: schema-checked output, keeping only the winning label and its
    * probability (the reference keeps confidenceScores.positive only,
    * __init__.py:93). Label lookup and max-probability are built-ins
    * (`element_at` over a literal array, `array_max` over
    * `vector_to_array`) — codegen'd column math in the hot path, per the
    * §2.12 built-ins-first policy, instead of two per-row Scala UDFs. */
  override def score(docs: DataFrame): DataFrame = {
    require(docs.columns.contains("text"), "scorer input needs a `text` column")
    MlSentimentScorer.decorate(model.transform(docs))
  }
}

object MlSentimentScorer {
  private val labels = Seq("negative", "neutral", "positive")

  /** M2/M3 post-processing shared by the in-JVM and the loaded-from-disk
    * scorer: winning label + its probability from the raw ML columns. */
  private[ml] def decorate(scored: DataFrame): DataFrame = {
    val labelVocab = array(labels.map(lit): _*)
    scored
      .withColumn("sentiment",
        element_at(labelVocab, col("prediction").cast("int") + 1))
      .withColumn("confidence",
        array_max(org.apache.spark.ml.functions.vector_to_array(col("probability"))))
      .drop("tokens", "features", "rawPrediction", "probability", "prediction")
  }

  /** Ship the trained model to disk (MLWriter) — the cross-JVM
    * shipped-model contract: train once, score anywhere, no refit. */
  def save(spark: SparkSession, path: String): Unit =
    new MlSentimentScorer(spark).model.write.overwrite().save(path)

  /** Load a shipped model (MLReader) and wrap it as a scorer. No fit runs:
    * `PipelineModel.load` deserializes the trained stages as-is. */
  def loadScorer(path: String): SentimentScorer = new SentimentScorer {
    private val loaded = PipelineModel.load(path)
    override def score(docs: DataFrame): DataFrame = {
      require(docs.columns.contains("text"), "scorer input needs a `text` column")
      decorate(loaded.transform(docs))
    }
  }
  /** `q_sentiment_ml` in the driver-checkable bound form (the minhash-
    * recall promotion pattern — the last non-LSH rows-only query). Per-doc
    * LR predictions are deterministic (hermetic fixed-seed model) but not
    * SQL-recomputable, so the payload is: the doc count and the size of
    * the STRONG-LEXICON subset (docs whose positive/negative marker
    * margin is ≥ 2 — both exactly recomputed by the oracle from the same
    * regexp arithmetic as `q_sentiment_dist`), plus three flags the
    * oracle pins at 1 — every emitted label in the 3-label vocabulary,
    * every confidence in the 3-class max-softmax range (1/3, 1], and
    * model↔lexicon agreement ≥ `agreeBound` on the strong subset. The
    * model is trained on those marker words but real documents bury them
    * in unrelated tokens the hashed-TF LR also weighs: measured agreement
    * 0.764 / 0.789 / 0.801 at sf0.001 / 0.01 / 0.1. The gate bound is 0.6
    * — comfortably under every measurement yet far above what a broken
    * model can reach (random 3-class = 0.33, any constant label ≤ 0.55 of
    * the strong subset); SentimentSpec pins the tighter measured rate.
    * Per-doc output stays the API surface; determinism across fits is
    * SentimentSpec's pin. */
  def mlGate(s: SparkSession, d: String, agreeBound: Double = 0.6): DataFrame = {
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id").cast("string").as("record_id"), col("text"))
    val scored = new MlSentimentScorer(s).score(docs)
      .select(col("record_id"), col("sentiment"), col("confidence"))
    val strong = docs
      .withColumn("p", regexp_count(lower(col("text")),
        lit(LexiconScorer.positiveWords.mkString("\\b(", "|", ")\\b"))))
      .withColumn("n", regexp_count(lower(col("text")),
        lit(LexiconScorer.negativeWords.mkString("\\b(", "|", ")\\b"))))
      .select(col("record_id"),
        when(col("p") - col("n") >= 2, "positive")
          .when(col("n") - col("p") >= 2, "negative").as("strong_label"))
      .filter(col("strong_label").isNotNull)
    scored.join(strong, Seq("record_id"), "left")
      .agg(
        count(lit(1)).as("nd"),
        sum(when(col("strong_label").isNotNull, 1L).otherwise(0L)).as("ns"),
        sum(when(col("strong_label").isNotNull &&
          col("sentiment") === col("strong_label"), 1L).otherwise(0L)).as("agree"),
        sum(when(col("sentiment").isin("positive", "negative", "neutral"), 1L)
          .otherwise(0L)).as("valid"),
        sum(when(col("confidence") > lit(1.0 / 3 - 1e-9) &&
          col("confidence") <= lit(1.0 + 1e-9), 1L).otherwise(0L)).as("confok"))
      .select(
        col("nd").as("n_docs"),
        col("ns").as("n_strong"),
        (col("valid") === col("nd")).cast("int").as("labels_ok"),
        (col("confok") === col("nd")).cast("int").as("conf_ok"),
        (col("agree") >= ceil(col("ns") * lit(agreeBound))).cast("int")
          .as("agree_ok"))
  }

  /** The fit is deterministic (fixed corpus, fixed seed), so one trained
    * model serves every scorer instance in the JVM — scoring calls don't
    * each pay the training job. */
  @volatile private var cached: PipelineModel = _
  private[ml] def cachedModel(scorer: MlSentimentScorer): PipelineModel = synchronized {
    if (cached == null) {
      val tokenizer = new RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
      val tf = new HashingTF()
        .setInputCol("tokens").setOutputCol("features").setNumFeatures(1 << 12)
      val lr = new LogisticRegression()
        .setFamily("multinomial").setMaxIter(50).setRegParam(0.01)
      cached = new MlPipeline().setStages(Array(tokenizer, tf, lr)).fit(scorer.corpus)
    }
    cached
  }
}

/** Reference-shaped batched scoring (G1): groups an iterator into batches of
  * ≤`batchSize` and scores each batch with one call, preserving order — the
  * exact contract of the reference's RPC loop (__init__.py:56-82), minus the
  * network. Batching is per-partition; it never shuffles. */
object BatchedScorer {
  final case class Doc(record_id: String, text: String)
  final case class Scored(record_id: String, sentiment: String, confidence: Double)

  def scoreBatched(
      docs: Dataset[Doc],
      scoreBatch: Seq[Doc] => Seq[Scored],
      batchSize: Int = 10): Dataset[Scored] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val out = scoreBatch(batch)
        require(out.size == batch.size, s"scorer returned ${out.size} for ${batch.size} docs")
        out
      }
    }
  }

  /** One scored-or-quarantined row per input doc. */
  final case class ScoredOrFailed(record_id: String, sentiment: String,
                                  confidence: Double, error: String)

  /** Failure-mode surface for the batch scorer (SURVEY.md §7 risks):
    *
    * - `strict = true` reproduces the reference's abort-all contract — one
    *   failing batch fails the task, Spark retries it, and if retries
    *   exhaust, the job (FunctionApp2/process_data/__init__.py:71-75).
    * - `strict = false` (engine default): a failing batch quarantines its
    *   docs — every row still comes out, scored rows with `error = null`,
    *   failed rows with the scorer's message in `error` — so one poison
    *   document can't sink a 100 TB scoring run.
    */
  def scoreBatchedWithQuarantine(
      docs: Dataset[Doc],
      scoreBatch: Seq[Doc] => Seq[Scored],
      batchSize: Int = 10,
      strict: Boolean = false): Dataset[ScoredOrFailed] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        scala.util.Try {
          val out = scoreBatch(batch)
          require(out.size == batch.size, s"scorer returned ${out.size} for ${batch.size} docs")
          out
        } match {
          case scala.util.Success(out) =>
            out.map(s => ScoredOrFailed(s.record_id, s.sentiment, s.confidence, null))
          case scala.util.Failure(e) if !strict =>
            batch.map(d => ScoredOrFailed(d.record_id, null, Double.NaN, String.valueOf(e.getMessage)))
          case scala.util.Failure(e) => throw e
        }
      }
    }
  }

  /** Deterministic stand-in for the remote service: text-length parity. */
  def stubScoreBatch(batch: Seq[Doc]): Seq[Scored] = {
    require(batch.size <= 10, s"batch of ${batch.size} exceeds the 10-doc API contract")
    batch.map { doc =>
      val s = doc.text.length % 3 match {
        case 0 => "neutral"; case 1 => "positive"; case 2 => "negative"
      }
      Scored(doc.record_id, s, 0.5 + (doc.text.length % 50) / 100.0)
    }
  }
}
