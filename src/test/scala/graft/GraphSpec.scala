package graft

import graft.operators.{Graph, SessionCache}
import org.apache.spark.sql.functions._

/** Pins for the general directed PageRank ([[Graph.pageRankDirected]]) and
  * the session-scoped artifact cache. The directed fixture is the exact
  * case the bipartite fast path's shortcut cannot handle: a chain with a
  * dangling tail, where skipping the dangling-mass redistribution leaks
  * rank every iteration and skipping the nodes-frame resurrection drops
  * the zero-in-degree head entirely. */
class GraphSpec extends SparkSpec {

  private def chain() = {
    import spark.implicits._
    // a → b → c: c is dangling (absorbs mass), a has zero in-degree
    Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
  }

  test("directed pagerank conserves mass on a dangling chain") {
    val ranks = Graph.pageRankDirected(chain(), iters = 5).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(ranks.keySet === Set(1L, 2L, 3L), "zero-in-degree head must survive")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9,
      s"dangling mass leaked: total=${ranks.values.sum}")
    assert(ranks.values.forall(_ > 0.0))
  }

  test("directed pagerank matches the hand-rolled recomputation") {
    val d = 0.85
    val t = graft.operators.Iterative.teleport(d)
    val n = 3.0
    var r = Map(1L -> 1.0 / n, 2L -> 1.0 / n, 3L -> 1.0 / n)
    for (_ <- 1 to 5) {
      val dm = r(3L) // node 3 is the only dangling node
      r = Map(
        1L -> (t / n + d * (0.0 + dm / n)),
        2L -> (t / n + d * (r(1L) + dm / n)),
        3L -> (t / n + d * (r(2L) + dm / n)))
    }
    val got = Graph.pageRankDirected(chain(), iters = 5).collect()
      .map(row => row.getAs[Long]("node") -> row.getAs[Double]("rank")).toMap
    r.foreach { case (node, expected) =>
      assert(math.abs(got(node) - expected) < 1e-12, s"node $node")
    }
  }

  test("directed pagerank without dangling nodes degenerates to the plain loop") {
    import spark.implicits._
    // 2-cycle: no dangling mass, symmetric → both ranks 0.5
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "w")
    val ranks = Graph.pageRankDirected(edges, iters = 5).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(math.abs(ranks(1L) - 0.5) < 1e-12 && math.abs(ranks(2L) - 0.5) < 1e-12)
  }

  test("personalized pagerank: exact-zero floor off-seed, restart mass to seeds, conservation") {
    import spark.implicits._
    // chain 1→2→3 seeded at {2}: node 1 is unreachable from the teleport
    // (rank must be EXACTLY 0, no uniform floor), node 3 dangles (its mass
    // restarts at the seed) — hand-rolled recomputation, the
    // pageRankDirected test pattern
    val d = 0.85
    val t = graft.operators.Iterative.teleport(d)
    var r = Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0)
    for (_ <- 1 to 5) {
      val dm = r(3L)
      r = Map(1L -> 0.0,
        2L -> (t * 1.0 + d * (r(1L) + dm * 1.0)),
        3L -> (d * r(2L)))
    }
    val got = Graph.personalizedPageRank(chain(),
      Seq(2L).toDF("node"), iters = 5).collect()
      .map(row => row.getAs[Long]("node") -> row.getAs[Double]("rank")).toMap
    assert(got(1L) === 0.0, "off-walk node must sit on the exact-zero floor")
    r.foreach { case (node, expected) =>
      assert(math.abs(got(node) - expected) < 1e-12, s"node $node")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "restart mass conserved")
  }

  test("directed and personalized pagerank gates pin their exact payloads") {
    def payload(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    val directed = Seq(63706L, 61122L, 60114L, 64220L, 86808L, 45395L, 20142L,
      13138L, 11201L, 10668L, 10522L, 16536L, 21857L, 27058L, 33563L) ++
      Seq.fill(10)(45395L)
    // seeds {0, 12, 24}: five steps reach at most five chain nodes past a
    // seed, so 6..11 and 18..23 sit on the exact-zero floor
    val ppr = Seq(70249L, 60746L, 54738L, 55840L, 75401L, 147902L) ++
      Seq.fill(6)(0L) ++ Seq(70249L, 60746L, 54738L, 55840L, 75401L, 147902L) ++
      Seq.fill(6)(0L) :+ 70249L
    for ((name, gate, ranks) <- Seq(
        ("q_pagerank_directed", Graph.pageRankDirectedGate _, directed),
        ("q_ppr", Graph.pprGate _, ppr)))
      assert(payload(gate(spark, sf)) ===
        ranks.zipWithIndex.map { case (ppm, node) => (node, ppm, 1) }, name)
  }

  test("lineage cut keeps the iterated plan bounded") {
    // 20 iterations with checkpointEvery=2 must not blow the plan budget —
    // the point of the periodic cut; completing quickly IS the assertion
    val ranks = Graph.pageRankDirected(chain(), iters = 20).collect()
    assert(math.abs(ranks.map(_.getAs[Double]("rank")).sum - 1.0) < 1e-9)
  }

  test("session cache: hit on same session, miss across sessions, explicit removal") {
    val cache = new SessionCache[Object]()
    val s1 = spark
    val s2 = spark.newSession()
    val (d, other) = ("graft-cache-test-a", "graft-cache-test-b")
    val a = cache.getOrCompute(s1, d)(new Object)
    assert(cache.getOrCompute(s1, d)(new Object) eq a, "same session must hit")
    assert(!(cache.getOrCompute(s1, d, 1)(new Object) eq a), "other params are another entry")
    val b = cache.getOrCompute(s2, d)(new Object)
    assert(!(b eq a), "a different session must never see another session's entry")
    val c = cache.getOrCompute(s1, other)(new Object)
    assert(cache.size === 4)
    SessionCache.invalidate(d)
    assert(cache.size === 1, "invalidate drops the dir's entries in every session")
    assert(cache.getOrCompute(s1, other)(new Object) eq c, "another dir's entry survives")
    assert(!(cache.getOrCompute(s1, d)(new Object) eq a), "an invalidated entry rebuilds")
    Seq(d, other).foreach(SessionCache.invalidate)
    assert(cache.size === 0)
  }

  test("star contraction collapses a chain — the shape that starves propagation") {
    import spark.implicits._
    // path 1—2—…—40: diameter 39, so min-label propagation would need ~39
    // rounds (or log n with doubling); star contraction's round count is
    // logarithmic in SIZE regardless of shape. maxRounds 12 must suffice.
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Graph.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === (1L to 40L).toSet)
    assert(got.values.forall(_ == 1L), s"one component rooted at 1, got ${got.values.toSet}")
  }

  test("star contraction agrees with min-label propagation on a multi-component graph") {
    import spark.implicits._
    // three components of different shapes: a triangle+appendage, a chain,
    // a single edge — plus reversed orientations and a duplicate pair
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L),
      (20L, 21L), (21L, 22L), (22L, 23L),
      (31L, 30L), (30L, 31L)).toDF("doc_a", "doc_b")
    val star = Graph.connectedComponentsStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = graft.operators.Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
    assert(star(13L) === 10L && star(23L) === 20L && star(31L) === 30L)
  }

  test("star contraction: empty and self-pair-only inputs yield empty output") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Graph.connectedComponentsStar(empty).count() === 0L)
    val selfOnly = Seq((5L, 5L)).toDF("doc_a", "doc_b")
    assert(Graph.connectedComponentsStar(selfOnly).count() === 0L)
  }

  test("triangle kernel: K4, pendant, star, and empty graphs") {
    import spark.implicits._
    def stats(pairs: Seq[(Long, Long)]) = {
      val r = Graph.triangleStats(pairs.toDF("doc_a", "doc_b")).head()
      (r.getAs[Long]("n_triangles"), r.getAs[Long]("n_wedges"),
        r.getAs[Long]("clustering_ppm"))
    }
    // K4: C(4,3)=4 triangles, 4 nodes × C(3,2)=12 wedges, clustering = 1
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(stats(k4) === ((4L, 12L, 1000000L)))
    // triangle + pendant edge: 1 triangle, C(3,2)+1+1+... degs (2,2,3,1):
    // wedges 1+1+3+0 = 5, clustering = 3/5
    assert(stats(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) === ((1L, 5L, 600000L)))
    // star K1,5 (the skew shape): zero triangles, C(5,2)=10 wedges at the hub
    assert(stats((2L to 6L).map(i => (1L, i))) === ((0L, 10L, 0L)))
    // empty: all-zero row, no divide-by-zero
    assert(stats(Seq.empty) === ((0L, 0L, 0L)))
  }

  test("k-core peeling: pendant chain strips, clique survives, cascade needs its rounds") {
    import spark.implicits._
    def core(pairs: Seq[(Long, Long)], k: Int, rounds: Int = 8) =
      Graph.kCore(pairs.toDF("doc_a", "doc_b"), k, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle with a 3-node pendant chain hanging off node 3: the 2-core
    // is exactly the triangle, and the chain peels one node per round —
    // round 1 drops 6, round 2 drops 5, round 3 drops 4 (the cascade)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(core(g, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // under-provisioned rounds stop mid-cascade: after 2 peels node 4
    // still holds its edge to 3 — the documented fixed-round semantics
    assert(core(g, 2, rounds = 2).keySet === Set(1L, 2L, 3L, 4L))
    // K4 is its own 3-core; asking for k=4 empties it (deg max = 3)
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(core(k4, 3) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(core(k4, 4) === Map.empty)
  }

  test("label propagation splits bridged triangles and keeps ties deterministic") {
    import spark.implicits._
    def lpa(pairs: Seq[(Long, Long)], rounds: Int = 4) =
      Graph.labelPropagation(pairs.toDF("doc_a", "doc_b"), rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two triangles joined by one bridge edge 3—4: count-majority keeps
    // each dense side together and the bridge splits — hand-rolled sync
    // LPA with (count DESC, label ASC) lands {1,2,3}→1, {4,5,6}→3 after 4
    // rounds (node 4's majority flips to its triangle at round 3)
    val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    assert(lpa(bridged) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // a single edge oscillates under synchronous LPA (the documented
    // bipartite case): even round counts return every label to its owner —
    // deterministic either way, which is what the fixed-round gate needs
    assert(lpa(Seq((1L, 2L)), rounds = 4) === Map(1L -> 1L, 2L -> 2L))
    assert(lpa(Seq((1L, 2L)), rounds = 3) === Map(1L -> 2L, 2L -> 1L))
    // a clique collapses to its min label and STAYS there
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(lpa(k4).values.toSet === Set(1L))
  }

  test("bfs hop distance: exact radius-k ball, multi-source min, unreached absent") {
    import spark.implicits._
    // chain 10—11—…—20: both endpoints are seeds (node % 10 == 0), so
    // distances meet in the middle and node 15 (5 hops from both) falls
    // outside the radius-4 ball
    val chain = (10L until 20L).map(i => (i, i + 1))
    val got = Graph.bfsHops(chain.toDF("doc_a", "doc_b"), seedEvery = 10, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 3L, 14L -> 4L,
      16L -> 4L, 17L -> 3L, 18L -> 2L, 19L -> 1L, 20L -> 0L)
    assert(got === expected)
    // no seeds in the graph → empty result, no failure
    val noSeed = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(Graph.bfsHops(noSeed, seedEvery = 10, rounds = 4).count() === 0L)
  }

  test("weighted sssp: multi-edge cheap path beats direct edge, exact integer distances") {
    import spark.implicits._
    // seeds = node 10. Direct 10—12 costs 7000 bp (j=0.3); the detour
    // 10—11—12 costs 5000+1000 = 6000 (j=0.5, 0.9) — relaxation must take
    // it. Node 13 hangs off 12 (j=0.25 → 7500) → 13500 via the detour.
    val pairs = Seq(
      (10L, 11L, 0.5), (11L, 12L, 0.9), (10L, 12L, 0.3), (12L, 13L, 0.25))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Graph.ssspWeighted(pairs, seedEvery = 10, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 0L, 11L -> 5000L, 12L -> 6000L, 13L -> 13500L))
    // with a 1-round bound the detour is invisible: the direct edge wins
    val oneRound = Graph.ssspWeighted(pairs, seedEvery = 10, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneRound(12L) === 7000L, "bounded relaxation sees only <=1-edge paths")
  }

  test("centrality profile: star and chain hand values, truncation at the ball radius") {
    import spark.implicits._
    def prof(pairs: Seq[(Long, Long)]) =
      Graph.centralityProfile(pairs.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // star K1,4: hub reaches 4 at distance 1 (h12 = 48); each leaf reaches
    // the hub at 1 and the 3 other leaves at 2 (12 + 3·6 = 30)
    val star = prof((2L to 5L).map(l => (1L, l)))
    assert(star(1L) === ((48L, 1L, 4L)))
    (2L to 5L).foreach(l => assert(star(l) === ((30L, 2L, 4L)), s"leaf $l"))
    // chain 1—…—6: endpoint 1 cannot reach node 6 inside radius 4
    // (h12 = 12+6+4+3 = 25 over 4 nodes); center 3 reaches everything
    // (two at 1, two at 2, one at 3: 24+12+4 = 40)
    val chain = prof((1L until 6L).map(i => (i, i + 1)))
    assert(chain(1L) === ((25L, 4L, 4L)), "endpoint truncated at the ball")
    assert(chain(3L) === ((40L, 3L, 5L)), "center reaches the whole chain")
  }

  test("modularity: bridged triangles score the hand value, integer-exact") {
    import spark.implicits._
    // the LPA fixture: communities {1,2,3} and {4,5,6}, m = 7, l_c = 3
    // each, d_c = 7 each → Q·4m² = 2·(4·7·3 − 49) = 70
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("doc_a", "doc_b")
    val r = Graph.modularity(pairs, Graph.labelPropagation(pairs)).head()
    assert(r.getAs[Long]("q_4m2") === 70L && r.getAs[Long]("n_edges") === 7L)
    // a single community over the same graph: Q·4m² = 4·7·7 − 14² = 0 —
    // the everything-in-one-cluster null is worth exactly nothing
    val one = pairs.select(col("doc_a").as("doc_id")).unionAll(
      pairs.select(col("doc_b").as("doc_id"))).distinct()
      .select(col("doc_id"), lit(1L).as("community"))
    assert(Graph.modularity(pairs, one).head().getAs[Long]("q_4m2") === 0L)
  }

  test("assortativity: a star is perfectly disassortative") {
    import spark.implicits._
    // K1,4: every edge joins degree 4 to degree 1 → r = −1 exactly
    val star = (2L to 5L).map(l => (1L, l)).toDF("doc_a", "doc_b")
    val r = Graph.degreeAssortativity(star).head()
    assert(r.getAs[Long]("n_edges") === 8L)
    assert(r.getAs[Double]("assortativity") === -1.0)
  }

  test("random walks: every hop is an edge, every start covered, fully deterministic") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("doc_a", "doc_b")
    def run() = Graph.randomWalks(pairs, steps = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rows = run()
    val nodes = Set(1L, 2L, 3L, 4L, 5L, 10L, 11L)
    // coverage: exactly steps+1 positions per start, step 0 = the start
    assert(rows.size === nodes.size * 5)
    nodes.foreach(n => assert(rows.contains((n, 0, n))))
    // validity: every consecutive hop traverses a real edge
    val edges = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    val byStart = rows.groupBy(_._1)
    byStart.values.foreach { positions =>
      val path = positions.toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Seq(u, v) =>
        assert(edges.contains((u, v)), s"hop $u→$v is not an edge")
      }
    }
    // the isolated component can only oscillate between its two nodes
    assert(byStart(10L).map(_._3).subsetOf(Set(10L, 11L)))
    // determinism: a second evaluation reproduces the identical set
    assert(run() === rows)
  }

  test("releaseSession evicts one session's entries everywhere and runs the release callback") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val cache = new SessionCache[String](v => released += v)
    val s2 = spark.newSession()
    val d = privateCorpus("documents")
    cache.getOrCompute(spark, d)("mine")
    cache.getOrCompute(s2, d)("theirs")
    // a real operator cache participates in the same global hook
    val artifactBefore = graft.operators.Dedup.shingleArtifacts(s2, d)._1
    SessionCache.releaseSession(s2)
    assert(released.toSeq === Seq("theirs"), "only the released session's value runs the callback")
    assert(cache.size === 1, "the other session's entry survives")
    val artifactAfter = graft.operators.Dedup.shingleArtifacts(s2, d)._1
    assert(!(artifactAfter eq artifactBefore), "released artifact must rebuild on next access")
    SessionCache.invalidate(d)
    streaming.EventsStream.deleteRecursively(new java.io.File(d))
  }

  test("personalized pagerank normalizes by seeds ∩ nodes: an absent seed is ignored") {
    import spark.implicits._
    // seeds {2, 99} on the 1→2→3 chain: 99 has no node row, so if the
    // teleport divided by |S|=2, seed 2 would restart with mass 1/2 and the
    // total would settle below 1 — the ADVICE-flagged leak. With the
    // intersection the result must be IDENTICAL to seeding {2} alone.
    val withAbsent = Graph.personalizedPageRank(chain(),
      Seq(2L, 99L).toDF("node"), iters = 5).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    val presentOnly = Graph.personalizedPageRank(chain(),
      Seq(2L).toDF("node"), iters = 5).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(withAbsent === presentOnly, "absent seed must not dilute restart mass")
    assert(math.abs(withAbsent.values.sum - 1.0) < 1e-9,
      s"mass conservation with an absent seed: total=${withAbsent.values.sum}")
  }

  test("degree assortativity emits NULL, not NaN, on a degree-regular graph") {
    import spark.implicits._
    // perfect matching 1—2, 3—4: every degree is 1, both variances are 0,
    // the Pearson denominator vanishes. Spark must emit NULL (and the
    // oracle's nullif agrees) — a NaN here diverges engines because
    // DuckDB's 0/0 depends on ieee_floating_point_ops.
    val matching = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val r = Graph.degreeAssortativity(matching).head()
    assert(r.getAs[Long]("n_edges") === 4L)
    assert(r.isNullAt(r.fieldIndex("assortativity")),
      "degenerate variance product must yield NULL")
  }

  test("k-core at volume: 100k generated edges, per-round shrink matches the exact peel") {
    import spark.implicits._
    // The gate rides a bounded ~200-node artifact; this exercises the
    // kernel beyond it (round-8 verdict #4): a deterministic ~99k-edge,
    // ~98k-node graph — a planted 500-node circulant 2-core (degree 4,
    // must survive intact), 2,000 pendant paths of length 10 (each peels
    // exactly one node per synchronized round — a forced 10-round
    // cascade), and 78k star leaves for the round-1 volume drop. Truth is
    // a driver-side exact synchronized peel; Spark's survivors must match
    // EXACTLY at two intermediate round counts and at fixpoint, and the
    // per-round edge count must shrink strictly until then.
    def lcg(x: Long): Long = (x * 1103515245L + 12345L) & 0x7fffffffL
    val core = (0 until 500).flatMap(i => (1 to 2).map(j => (i.toLong, ((i + j) % 500).toLong)))
    val paths = (0 until 2000).flatMap { p =>
      val base = 10000L + 10L * p
      ((p % 500).toLong, base) +: (0 until 9).map(i => (base + i, base + i + 1))
    }
    val stars = (30000 until 108000).map(v => (v.toLong, lcg(v) % 500))
    val raw = (core ++ paths ++ stars)
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct
    // driver-side synchronized peel (k=2) to fixpoint, tracking edge counts
    val k = 2
    var edges = raw
    var sizes = List(edges.size)
    var converged = false
    while (!converged) {
      val deg = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (v, e) => v -> e.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter { case (a, b) => keep(a) && keep(b) }
      if (next.size == sizes.head) converged = true
      else { edges = next; sizes ::= next.size }
    }
    val roundsToFix = sizes.size - 1
    assert(roundsToFix >= 3, s"cascade must need multiple rounds, took $roundsToFix")
    assert(sizes.reverse == sizes.reverse.sorted.reverse && sizes.distinct.size == sizes.size,
      "per-round edge count must shrink strictly until fixpoint")
    val finalDeg = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, e) => (v, e.size.toLong) }
    assert(finalDeg.keySet === (0 until 500).map(_.toLong).toSet,
      "exactly the planted circulant core must survive (paths and stars are acyclic)")
    val pairs = raw.toDF("doc_a", "doc_b")
    // exact mirror of the driver peel at the same round counts: survivors
    // after 2 rounds, after 4, and at (convergence + margin)
    def sparkNodes(rounds: Int): Map[Long, Long] =
      Graph.kCore(pairs, k = k, rounds = rounds).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_deg")).toMap
    def driverNodes(rounds: Int): Map[Long, Long] = {
      var e = raw
      for (_ <- 1 to rounds) {
        val deg = (e ++ e.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.size }
        val keep = deg.filter(_._2 >= k).keySet
        e = e.filter { case (a, b) => keep(a) && keep(b) }
      }
      (e ++ e.map(_.swap)).groupBy(_._1).map { case (v, es) => (v, es.size.toLong) }
    }
    Seq(2, 4, roundsToFix + 2).foreach { r =>
      assert(sparkNodes(r) === driverNodes(r), s"round-$r survivor set diverged")
    }
  }

  test("star contraction and LPA at volume: ~102k edges vs union-find / synchronous mirror") {
    import spark.implicits._
    // the k-core volume harness extended to the PRODUCTION CC path and the
    // LPA kernel: the ~99k-edge connected web (circulant core + pendant
    // paths + star leaves — one component) plus 1,000 disjoint triangles,
    // so the contraction must both collapse a ~98k-node component to label
    // 0 AND keep 1,000 small components apart. Truth: driver union-find
    // (exact, any graph). LPA truth: a 4-round synchronous mirror of the
    // documented update rule (most frequent neighbor label, ties smallest).
    def lcg(x: Long): Long = (x * 1103515245L + 12345L) & 0x7fffffffL
    val core = (0 until 500).flatMap(i => (1 to 2).map(j => (i.toLong, ((i + j) % 500).toLong)))
    val paths = (0 until 2000).flatMap { p =>
      val base = 10000L + 10L * p
      ((p % 500).toLong, base) +: (0 until 9).map(i => (base + i, base + i + 1))
    }
    val stars = (30000 until 108000).map(v => (v.toLong, lcg(v) % 500))
    val tris = (0 until 1000).flatMap { t =>
      val b = 200000L + 3L * t
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    }
    val raw = (core ++ paths ++ stars ++ tris)
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct
    val pairs = raw.toDF("doc_a", "doc_b")
    // driver union-find truth
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    raw.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = raw.flatMap { case (a, b) => Seq(a, b) }.distinct
    val truth = nodes.map(n => n -> find(n)).toMap
    val got = Graph.connectedComponentsStar(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(got.size === nodes.size)
    // star contraction labels by the component min; union-find roots are
    // mins too (we always hang the larger root on the smaller)
    assert(got === truth, "star contraction must agree with union-find on every node")
    assert(truth.values.toSet.size === 1001, "one web + 1000 triangles")
    // LPA: 4-round synchronous driver mirror
    val adj = (raw ++ raw.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lbl = nodes.map { n =>
        val counts = adj(n).groupBy(lbl).map { case (l, xs) => (l, xs.size) }
        val best = counts.toSeq.maxBy { case (l, c) => (c, -l) }
        n -> best._1
      }.toMap
    }
    val lpaGot = Graph.labelPropagation(pairs, rounds = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("community")).toMap
    assert(lpaGot === lbl, "LPA must equal the synchronous mirror after 4 rounds")
  }

  test("BFS, weighted SSSP and PPR at volume: ~99k generated edges vs exact driver mirrors") {
    import spark.implicits._
    // the k-core/CC volume harness extended to the remaining iterative
    // kernels (round-9 verdict #4): the same deterministic ~99k-edge web
    // (circulant 2-core + 2,000 pendant length-10 paths + 78k star
    // leaves). BFS/SSSP truth: synchronized min-relaxation mirrors of the
    // documented fixed-round rule (exact integer arithmetic, exact-map
    // compare). PPR truth: a dense power-iteration mirror of the
    // teleport/dangling formula — with 78k star leaves on the DST side of
    // the min→max edge direction, the dangling-mass term carries most of
    // the graph's rank every iteration, the hardest case for it.
    def lcg(x: Long): Long = (x * 1103515245L + 12345L) & 0x7fffffffL
    val core = (0 until 500).flatMap(i => (1 to 2).map(j => (i.toLong, ((i + j) % 500).toLong)))
    val paths = (0 until 2000).flatMap { p =>
      val base = 10000L + 10L * p
      ((p % 500).toLong, base) +: (0 until 9).map(i => (base + i, base + i + 1))
    }
    val stars = (30000 until 108000).map(v => (v.toLong, lcg(v) % 500))
    val raw = (core ++ paths ++ stars)
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct
    val nodes = raw.flatMap { case (a, b) => Seq(a, b) }.distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // ---- BFS: radius-4 ball from every node ≡ 0 (mod 10000)
    val seedEvery = 10000
    val bfsSeeds = nodes.filter(_ % seedEvery == 0)
    assert(bfsSeeds.size >= 5, "seed set must be non-trivial")
    var hop = bfsSeeds.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val relaxed = hop.toSeq.flatMap { case (n, d) => adj(n).map(_ -> (d + 1)) }
      hop = (hop.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val bfsGot = Graph.bfsHops(raw.toDF("doc_a", "doc_b"), seedEvery = seedEvery, rounds = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hops")).toMap
    assert(bfsGot === hop, "volume BFS must equal the synchronized relaxation mirror")
    assert(hop.values.max === 4L && hop.size > bfsSeeds.size,
      "the 4-round ball must actually grow and hit its radius")
    // ---- SSSP: same seeds, integer basis-point weights derived from a
    // deterministic pseudo-jaccard so every pair weight is exact long math
    val jac = raw.map { case (a, b) => (a, b) -> ((a * 31 + b * 7) % 97).toDouble / 100.0 }.toMap
    val wOf = raw.map { case (a, b) =>
      (a, b) -> (10000L - math.round(jac((a, b)) * 10000)) }.toMap
    val symW = raw.flatMap { case (a, b) =>
      Seq((a, b, wOf((a, b))), (b, a, wOf((a, b)))) }
    val adjW = symW.groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3)) }
    var distBp = bfsSeeds.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val relaxed = distBp.toSeq.flatMap { case (n, d) =>
        adjW(n).map { case (m, w) => m -> (d + w) } }
      distBp = (distBp.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val pairsW = raw.map { case (a, b) => (a, b, jac((a, b))) }
      .toDF("doc_a", "doc_b", "jaccard")
    val ssspGot = Graph.ssspWeighted(pairsW, seedEvery = seedEvery, rounds = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dist_bp")).toMap
    assert(ssspGot === distBp, "volume SSSP must equal the Bellman-Ford mirror")
    // ---- PPR: directed min→max edges (78k star leaves are dangling),
    // seeds mixing the hub core, a path interior and a dangling star leaf
    val pprSeeds = Seq(0L, 10005L, stars.head._1)
    assert(pprSeeds.forall(nodes.contains))
    val damping = 0.85
    val teleport = graft.operators.Iterative.teleport(damping)
    val outDeg = raw.groupBy(_._1).map { case (k, v) => k -> v.size }
    val inAdj = raw.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val dangling = nodes.filterNot(outDeg.contains)
    val sVec = nodes.map(n => n -> (if (pprSeeds.contains(n)) 1.0 / pprSeeds.size else 0.0)).toMap
    var rank = sVec
    for (_ <- 1 to 5) {
      val dMass = dangling.iterator.map(rank).sum
      rank = nodes.map { n =>
        val cin = inAdj.getOrElse(n, Seq.empty).iterator
          .map(u => rank(u) / outDeg(u)).sum
        n -> (teleport * sVec(n) + damping * (cin + dMass * sVec(n)))
      }.toMap
    }
    val pprGot = Graph.personalizedPageRank(
      raw.map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "w"),
      pprSeeds.toDF("node"), iters = 5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(pprGot.keySet === nodes.toSet)
    val maxDiff = nodes.map(n => math.abs(pprGot(n) - rank(n))).max
    assert(maxDiff < 1e-9, s"volume PPR diverged from the power-iteration mirror by $maxDiff")
    assert(math.abs(pprGot.values.sum - 1.0) < 1e-6,
      s"mass conservation at volume: total=${pprGot.values.sum}")
    // (no off-seed zero floor here: under min→max direction every node is
    // reachable from the core seed — the exact-zero floor is pinned by the
    // small directed fixture above)
  }

  test("pair-graph components stay within the oracle's depth-12 reach from their min node") {
    // the q_cluster_split oracle derives component labels with a depth-12
    // recursive CTE — exact only while every component member is within 12
    // hops of the component's min-label node. connectedComponentsStar is an
    // exact fixpoint, so a future corpus growing a chain-shaped dup
    // component would silently diverge; this pins the assumption so a
    // corpus change fails the SUITE, not the gate. The artifact is bounded
    // (doc<200), so driver-side BFS is exact and cheap.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d + "/documents.parquet").exists()).foreach { d =>
        val pairs = graft.operators.Dedup.triPairArtifact(spark, d).collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
        val adj = (pairs ++ pairs.map(_.swap))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        // BFS from each component's min node; eccentricity must be <= 12
        val nodes = adj.keySet
        var unseen = collection.mutable.Set[Long](nodes.toSeq: _*)
        while (unseen.nonEmpty) {
          // component of the globally-smallest unseen node = its min node
          val root = unseen.min
          var frontier = Set(root)
          var seen = Set(root)
          var depth = 0
          while (frontier.nonEmpty) {
            val next = frontier.flatMap(adj(_)).diff(seen)
            if (next.nonEmpty) depth += 1
            seen ++= next
            frontier = next
          }
          assert(depth <= 12,
            s"$d: component of $root has eccentricity $depth > oracle depth 12")
          unseen --= seen
        }
      }
  }
}
