package graft

import graft.operators.{Dedup, SessionCache}
import graft.streaming.EventsStream
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Corpus-replacement invalidation: every memoized artifact is keyed by its
  * corpus DIR, so rewriting the parquet tables in place (compaction,
  * backfill, fixture swap) silently keeps serving the old corpus until
  * [[SessionCache.invalidate]] runs. This spec pins the whole path: the
  * memo IS stale after an in-place swap, and `invalidate` makes the next
  * access recompute from the new files — for the staged events, the drained
  * gate payloads, and the document-derived caches alike — and frees what
  * the dropped memos held, checkpoint blocks included. */
class InvalidationSpec extends SparkSpec {

  test("invalidate recomputes drains and ed truth after an in-place swap") {
    val d = Files.createTempDirectory("graft-corpus-swap").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("overwrite").parquet(s"$d/events.parquet")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")

    val sum1 = EventsStream.windowedAggGate(spark, d)
      .agg(sum(col("n_events"))).head().getLong(0)
    val truth1 = Dedup.edTruthArtifact(spark, d).count()
    // a BATCH-layer dir-keyed cache (round-12 ADVICE: before round 13 these
    // were NOT chained — the shingle artifact kept serving the replaced
    // corpus while the streaming memos recomputed)
    val sig1 = Dedup.shingleArtifacts(spark, d)._2.count()

    // In-place swap BY AN EXTERNAL WRITER (filesystem move, not this
    // session's DataFrameWriter — an in-session overwrite fires
    // refreshByPath and hides exactly the staleness this hook exists for):
    // events cut to the first half of the time range (fewer windows AND
    // fewer events — the payload's sum(n_events) must strictly drop);
    // documents replaced by a doc<100 slice plus an EXACT copy of each at
    // doc_id+100 (lev = 0 pairs, admissible under any threshold).
    def swapExternally(v2: org.apache.spark.sql.DataFrame, table: String): Unit = {
      val tmp = Files.createTempDirectory("graft-swap-stage").toString
      v2.write.mode("overwrite").parquet(tmp)
      EventsStream.deleteRecursively(new java.io.File(s"$d/$table"))
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(s"$d/$table"))
    }
    val mm = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
    val cut = new java.sql.Timestamp(mm.getTimestamp(0).getTime +
      (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2)
    swapExternally(ev.filter(col("ts") < lit(cut)), "events.parquet")
    val base = docs.filter(col("doc_id") < 100)
    val baseCount = base.count()
    assert(baseCount > 0, "fixture must have docs under id 100")
    swapExternally(
      base.unionByName(base.withColumn("doc_id", col("doc_id") + 100)),
      "documents.parquet")

    // WITHOUT invalidation both memos still serve the replaced corpus —
    // the hazard this hook exists for.
    val staleSum = EventsStream.windowedAggGate(spark, d)
      .agg(sum(col("n_events"))).head().getLong(0)
    val staleTruth = Dedup.edTruthArtifact(spark, d).count()
    val staleSig = Dedup.shingleArtifacts(spark, d)._2.count()
    assert(staleSum === sum1, "drain memo unexpectedly recomputed without invalidation")
    assert(staleTruth === truth1, "ed truth memo unexpectedly recomputed without invalidation")
    assert(staleSig === sig1, "shingle memo unexpectedly recomputed without invalidation")

    SessionCache.invalidate(d)

    val freshSum = EventsStream.windowedAggGate(spark, d)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(freshSum < sum1,
      s"post-invalidation drain must see the halved corpus ($freshSum vs $sum1)")
    // every (i, i+100) planted pair is exact → lev 0; >= admits incidental
    // same-text pairs without depending on them
    val planted = Dedup.edTruthArtifact(spark, d)
      .filter(col("lev") === 0 && col("doc_b") === col("doc_a") + 100).count()
    assert(planted >= baseCount,
      s"post-invalidation truth must contain the $baseCount planted exact pairs (got $planted)")
    // the batch-layer cache must also see the swapped corpus: the doc set
    // went from the full table to 2×(doc<100), so the per-doc signature
    // row count (MinhashPerms rows per doc) must change with it
    val freshSig = Dedup.shingleArtifacts(spark, d)._2.count()
    assert(freshSig !== sig1,
      s"post-invalidation shingle artifact must reflect the swapped corpus ($freshSig vs $sig1)")

    SessionCache.invalidate(d) // drop the swap corpus's artifacts
    EventsStream.deleteRecursively(new java.io.File(d))
  }

  test("invalidate frees a checkpointed artifact and drops only its own dir") {
    val d = privateCorpus("documents")
    val other = privateCorpus("documents")
    val sc = spark.sparkContext
    def checkpointRdds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

    val cc = Dedup.ccPairArtifact(spark, d)
    val ccIds = checkpointRdds(cc)
    assert(ccIds.nonEmpty, "ccPairArtifact must be a locally checkpointed frame")
    assert(ccIds.forall(sc.getPersistentRDDs.contains), "checkpoint blocks must be held")
    Dedup.shingleArtifacts(spark.newSession(), d) // another session, same dir
    val otherCc = Dedup.ccPairArtifact(spark, other)
    val otherRows = otherCc.count()
    val otherEntries = SessionCache.size(other)
    assert(SessionCache.size(d) >= 2 && otherEntries >= 1)

    SessionCache.invalidate(d)

    assert(!ccIds.exists(sc.getPersistentRDDs.contains),
      s"invalidate must unpersist the checkpoint RDDs $ccIds")
    assert(SessionCache.size(d) === 0, "an entry of the invalidated dir survived")
    assert(SessionCache.size(other) === otherEntries, "another dir's entries were dropped")
    assert(Dedup.ccPairArtifact(spark, other) eq otherCc)
    assert(otherCc.count() === otherRows, "another dir's checkpoint must stay readable")
    assert(!(Dedup.ccPairArtifact(spark, d) eq cc), "the invalidated artifact must rebuild")

    Seq(d, other).foreach { dir =>
      SessionCache.invalidate(dir)
      EventsStream.deleteRecursively(new java.io.File(dir))
    }
  }

  test("state-bound machinery is live: an impossible bound reds the drain") {
    // The in-gate watermark-horizon bounds only protect if the require
    // actually fires — this drives a real drain through drainGate with a
    // bound below the sentinel's own held rows (always >= 2) and pins the
    // red path; the green path is every bounded gate at three SFs.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val src = EventsStream.stageEvents(spark, sf)
    val e = intercept[IllegalArgumentException] {
      EventsStream.drainGate(spark, "graft-bound-red-gate", stateBound = 1L) {
        (iso, out, ckpt) =>
          EventsStream.windowedCents(EventsStream.readEvents(iso, src))
            .writeStream.trigger(Trigger.AvailableNow()).outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet").option("path", out).start()
      }((df: DataFrame) => df)
    }
    assert(e.getMessage.contains("watermark-horizon bound"),
      s"wrong failure path: ${e.getMessage}")
  }

  test("keyspace-bound machinery is live: an impossible bound reds the profile drain") {
    // Round-12 verdict #1 completed the in-gate state contract to 13/13 by
    // deriving KEYSPACE bounds for the five gates whose state is keyed by a
    // finite id space rather than time. Same liveness obligation as the
    // watermark red path above: drive a real transformWithState drain
    // through drainGate with a bound below one user's state rows and pin
    // that the require fires; the green path is every keyspace gate at
    // three SFs.
    import org.apache.spark.sql.DataFrame
    val src = EventsStream.stageEvents(spark, sf)
    val e = intercept[IllegalArgumentException] {
      EventsStream.drainGate(spark, "graft-keyspace-red-gate", stateBound = 1L,
        boundKind = "keyspace") { (iso, out, ckpt) =>
        streaming.StateV2Profile.runProfiles(iso, src, out, ckpt)
      }((df: DataFrame) => df)
    }
    assert(e.getMessage.contains("keyspace bound"),
      s"wrong failure path: ${e.getMessage}")
    // the snapshot/sink variant (upsert/ann/enrich/pipeline gates) is a
    // pure check — red path pinned directly
    val e2 = intercept[IllegalArgumentException] {
      EventsStream.requireKeyspaceBounded(5L, 4L, "red-path")
    }
    assert(e2.getMessage.contains("keyspace bound"),
      s"wrong failure path: ${e2.getMessage}")
  }
}
