package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational edge lists — the loop-of-joins
  * pattern (the same shape as [[Dedup.clusterLabels]]'s label propagation,
  * which covers connected components; this adds weighted-propagation
  * centrality).
  *
  * Scale shape: one iteration = one equi-join of the edge list against the
  * |V|-row rank frame plus one groupBy(dst) — both shuffles keyed on node
  * id, so co-partitioning the edge list by src (bucketing) makes every
  * iteration after the first exchange-free on the edge side. Edge weights
  * are PRE-AGGREGATED (customer×supplier multiplicity collapses to one
  * weighted edge), so the per-iteration volume is |E_distinct|, not raw
  * lineitem. The rank frame is |V| rows — it never grows, and the
  * fixed-iteration loop (no convergence collect) keeps the whole thing one
  * deterministic lazy plan.
  */
object Graph {

  /** Shuffle width for the iterated graph gates and their persisted edge
    * artifacts — the exchanges inside a power/contraction loop move
    * |V|-proportional state (~15k ranks rows at sf0.1), so the right
    * partition count is state-sized, not input-sized (measured here and in
    * the gate scaladocs: 8 beats the session's 32 on every iterated gate).
    * A cluster-scale corpus would size it to |V| / target rows per
    * partition; ranks are identical at any width (PartitionInvarianceSpec). */
  val GatePartitions: Int = 8

  /** Scope `spark.sql.shuffle.partitions` to [[GatePartitions]] for a gate
    * body — every iterated gate ran this same set/try/finally inline; one
    * helper keeps the width consistent with the persisted artifacts, whose
    * co-partitioning the loops rely on. */
  private def withGatePartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", GatePartitions.toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Normalized edge list + node set memoized per (session, corpus dir) —
    * the persisted-artifact contract shared with the IVF index and the
    * minhash shingle frames: building the graph (fact⋈fact join, distinct-
    * pair weight aggregation, per-src normalization window) is a corpus
    * BUILD that runs once, not once per power iteration. Unmemoized, the
    * lazy plan re-derives this whole pipeline inside EVERY iteration of
    * [[pageRank]] (the iteration plan references `norm` five times — 6.4 s
    * measured at sf0.1; 1.3 s with the build hoisted). At cluster scale
    * these are bucketed tables written by the ingest pass. */
  @transient private lazy val edgeCache =
    new SessionCache[(DataFrame, DataFrame, DataFrame)]()

  /** (normalized edges, nodes, distinct weighted pairs) — the third frame
    * is the pre-namespace (custkey, suppkey, w) aggregate, reused by
    * [[degreeHistogram]] so the fact⋈fact join runs once per corpus, not
    * once per graph query. */
  def graphArtifacts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    edgeCache.getOrCompute(s, d) {
      val (norm0, nodes0, pairs0) = buildGraphArtifacts(s, d)
      // Pin the src hash-partitioning INTO the norm frame, so the PageRank
      // loop join re-shuffles only the |V|-row ranks side, not the |E| edge
      // frame, in every iteration. `persist()` is not enough: an
      // InMemoryRelation caching an AdaptiveSparkPlan reports Unknown
      // partitioning to its consumers (plans/r19/q_pagerank_before.txt:
      // Exchange+Sort above the InMemoryTableScan in all 5 iterations).
      // `localCheckpoint` pins the layout in a LogicalRDD, which exposes
      // outputPartitioning, and AQE is scoped off for this one
      // materialization because under AQE the layout is still Unknown at
      // checkpoint-capture time. Width = [[GatePartitions]]; rows are the
      // same either way. The checkpoint blocks live until the memo is
      // released, which unpersists the checkpoint's RDD ([[SessionCache]]).
      val pinnedNorm = {
        val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        try norm0.repartition(GatePartitions, col("src")).localCheckpoint(true)
        finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      (pinnedNorm, nodes0.persist(), pairs0.persist())
    }

  private def buildGraphArtifacts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
      val pairs = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey").as("orderkey"), col("o_custkey")), Seq("orderkey"))
        .groupBy(col("o_custkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("w"))
        .persist()
      // Long node ids for every shuffle/join/sort in the propagation loop —
      // customers ≥ 0, suppliers strictly negative via -(key+1) (keys start
      // at 0 in this corpus, so a bare negation would merge customer 0 and
      // supplier 0 — observed as a lost node at sf0.01). The "c7"/"s7"
      // display strings exist only in the final projection: hashing and
      // sort comparisons on 8-byte longs beat UTF8 strings on every
      // exchange the iterations pay for.
      val edges = pairs.select(
          col("o_custkey").as("src"), (-(col("l_suppkey") + 1)).as("dst"), col("w"))
        .unionAll(pairs.select(
          (-(col("l_suppkey") + 1)).as("src"), col("o_custkey").as("dst"), col("w")))
      // Out-weight normalization as a window over src: p(src→dst) sums to 1
      // per src. Window, not join-back — one shuffle on src, no second pass
      // over the edge list.
      val norm = edges.select(col("src"), col("dst"),
        (col("w") / sum(col("w")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))).as("p"))
      val nodes = edges.select(col("src").as("node")).distinct()
      (norm, nodes, pairs)
  }

  /** Weighted PageRank on the bipartite customer↔supplier graph induced by
    * orders⋈lineitem (edge weight = number of lineitems between the pair,
    * out-edge probabilities weight-normalized). Fixed `iters` power steps
    * with damping 0.85 from a uniform start — every node in the graph has
    * at least one out-edge by construction (nodes ARE edge endpoints), so
    * there is no dangling-mass correction to apply. |V| is the one
    * driver-side scalar (a count of the persisted nodes artifact — the
    * centroid pattern); per-node normalizers stay in the plan. Final ranks
    * are emitted in parts-per-million
    * (integer) — the double chain is identically associated in any engine
    * only up to round-off, and ±1e-12 relative noise must not flip a hash
    * compare. */
  def pageRank(s: SparkSession, d: String, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    // Bipartite, undirected, both directions materialized; node ids
    // namespaced ("c7" vs "s7") so customer and supplier keys stay
    // distinct nodes. Build memoized — see [[graphArtifacts]].
    val (norm, nodes, _) = graphArtifacts(s, d)
    // |V| as a driver scalar (the centroid pattern, round 19): the old
    // broadcast 1-row aggregate re-counted the persisted nodes frame in the
    // init AND in every iteration's projection — six
    // BroadcastNestedLoopJoin subplans per gate call for one number
    // (plans/r19/q_pagerank_before.txt). One count() job replaces them;
    // 1.0/n and teleport/n are the same IEEE divisions the per-row
    // expressions ran, so the ranks are bit-identical.
    val n = nodes.count()
    // see Iterative.teleport: decimal-string constant, identical bits to
    // the oracle's 0.15 literal
    val teleport = Iterative.teleport(damping)
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      // The graph is undirected (both directions materialized), so every
      // node is the dst of at least one edge and the contribution aggregate
      // already covers ALL of |V| — no nodes-frame left join needed to
      // resurrect zero-in-degree nodes, and no dangling mass exists to
      // redistribute (see [[pageRankDirected]] for the general form). One
      // keyed join + one aggregate per iteration is the whole loop body.
      // NOT a broadcast join: the checkpointed norm frame carries its src
      // partitioning, and the ranks side arrives pre-partitioned too (the
      // previous iteration's aggregate is keyed on the same ids at the same
      // width), so the join moves NOTHING — the per-iteration shuffle is
      // the contribution aggregate alone. Broadcasting ranks instead was
      // measured SLOWER (5.35 s vs 4.8 s at sf0.1: five sequential driver
      // collect+rebroadcast rounds replace five cheap exchanges and buy
      // nothing, since the edge side never moved). SHUFFLE_HASH on the
      // |V|-row ranks side: a sort-merge join would re-SORT the |E|-row
      // edge frame every iteration to probe a 15k-row build side (guide
      // §3.1 — hash-build the small side, stream the big one).
      ranks = norm
        .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("p") * col("rank")).as("cin"))
        .select(col("node"),
          (lit(teleport / n)
            + lit(damping) * col("cin")).as("rank"))
    }
    ranks.select(
      when(col("node") >= 0, concat(lit("c"), col("node")))
        .otherwise(concat(lit("s"), -(col("node") + 1))).as("node"),
      round(col("rank") * 1e6, 0).cast("long").as("rank_ppm"))
  }

  /** PageRank over an ARBITRARY directed weighted edge list — the general
    * form [[pageRank]]'s bipartite fast path specializes. Two things the
    * undirected shortcut can legitimately skip become load-bearing here:
    *
    *  - **Dangling mass.** A node with in-edges but no out-edges absorbs
    *    rank and, untreated, leaks it from the system every iteration
    *    (Σrank decays geometrically and the ranking order itself warps
    *    toward teleport-only). The standard correction redistributes each
    *    iteration's dangling mass uniformly: rank' = teleport/N +
    *    d·(Σ_in p·rank + dangling/N). The dangling aggregate is ONE row —
    *    computed in-plan by filtering the ranks frame on the dangling flag
    *    it carries, broadcast back. No driver-side `.collect()` of row
    *    data; the loop stays fully declarative.
    *  - **Zero-in-degree nodes.** In a directed graph a source node
    *    receives no contributions, so the per-iteration aggregate would
    *    lose it. Round 19: instead of a |V|-row left join from the nodes
    *    frame per iteration (plans/r19/q_pagerank_directed_before.txt),
    *    the normalized edge list is augmented ONCE at build with a p=0
    *    self-loop per node — every node then reaches the contribution
    *    aggregate's dst groups by construction (cin picks up only the
    *    exact 0.0 term, and x + 0.0 = x for the non-negative contribution
    *    sums, so the arithmetic is bit-identical), and the self-loop rows
    *    ferry the per-node dangling flag to the update projection. p is a
    *    LITERAL 0.0, not window-normalized: a dangling src has weight sum
    *    0 and 0/0 would poison the sum with NaN.
    *
    * Each iteration shuffles |E|+|V| contribution rows keyed on dst plus a
    * 1-row aggregate — the same volume bound as the fast path. Lineage is
    * cut every `checkpointEvery` iterations (durable `checkpoint` when the
    * context has a checkpoint dir — the cluster mode — else
    * `localCheckpoint`): without the cut the self-referential plan doubles
    * per iteration and the 100-iteration convergence run a real graph needs
    * would OOM the driver on plan bytes alone.
    *
    * Returns (node, rank) as doubles — callers needing a hash-stable
    * projection quantize exactly as [[pageRank]] does. Mass conservation
    * (Σrank = 1 every iteration, dangling nodes included) is pinned by
    * GraphSpec on a directed chain where the undirected shortcut would
    * lose the tail node's entire rank. */
  def pageRankDirected(edges: DataFrame, iters: Int = 5,
                       damping: Double = 0.85,
                       checkpointEvery: Int = 2): DataFrame = {
    val teleport = Iterative.teleport(damping)
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    // out-degree table: nodes with NO out-edges are the dangling set —
    // folded into the nodes frame as a flag the loop can filter on
    val hasOut = e.select(col("src").as("node")).distinct()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .join(hasOut.withColumn("h", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("h").isNull, lit(1)).otherwise(lit(0)).as("dang"))
      .persist()
    // |V| as a driver scalar (the centroid pattern): replaces a broadcast
    // 1-row count subplan in the init and in every iteration
    val n = nodes.count()
    val norm = e.select(col("src"), col("dst"),
        (col("w") / sum(col("w")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))).as("p"),
        lit(null).cast("int").as("dang"))
      .unionAll(nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(0.0).as("p"), col("dang")))
      .persist()
    var ranks = nodes.select(col("node"), col("dang"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      val dMass = ranks.filter(col("dang") === 1)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
      // NO join-strategy hint here (unlike [[pageRank]]): this operator's
      // gate inputs are model-sized nation-derived graphs where the
      // persisted norm auto-broadcasts — forcing SHUFFLE_HASH re-added
      // exchange setup to all 5 iterations and measured ~10% SLOWER on
      // q_ppr. A production caller with a large edge frame co-partitions
      // norm on src up front (the [[graphArtifacts]] treatment) and the
      // planner picks the shuffled join on its own. The self-loop rows
      // carry each node's dang flag into its dst group (max over the one
      // non-null value), so no post-agg join is needed.
      ranks = norm
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("p") * col("rank")).as("cin"), max(col("dang")).as("dang"))
        .crossJoin(broadcast(dMass))
        .select(col("node"), col("dang"),
          (lit(teleport / n)
            + lit(damping) * (col("cin")
              + col("dmass") / lit(n.toDouble))).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) ranks = Iterative.cutLineage(ranks)
    }
    // materialize the final ranks off the helper frames' lineage, then
    // release them — per-call persists must not accumulate in storage
    // memory across repeated invocations (unlike the memoized artifact
    // caches, these frames have no session-level eviction hook).
    val out = Iterative.cutLineage(ranks.select(col("node"), col("rank")))
    norm.unpersist(); nodes.unpersist()
    out
  }

  /** `q_pagerank` gate wrapper: every iteration exchange moves the |V|-row
    * ranks frame (~15k rows at sf0.1), so the gate executes the loop under
    * state-sized shuffle partitions (8, the drainGate convention) and
    * materializes before restoring the session conf — measured 4.4 s →
    * 2.9 s warm at sf0.1 against the session default 32 (the win is task
    * launch + exchange setup across 5 chained iterations, not data). The
    * same |V|-proportional sizing a production convergence run applies via
    * AQE advisory sizing; ranks are identical at any partitioning
    * (PartitionInvarianceSpec). */
  def pageRankGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { pageRank(s, d).localCheckpoint(true) }

  /** [[pageRankDirected]] AS a correctness-gate query (the `q_ann_recall`
    * bound pattern, round-7 VERDICT ask #3): a deterministic directed
    * weighted graph derived from `nation` — chain 0→1→…→24 (w=1) plus
    * weighted hub in-edges 5..9→0 (w=2) — exercises every branch the
    * undirected fast path skips: weighted out-degree normalization
    * (nodes 5..9 split 1/3 vs 2/3), a multi-in-degree hub (node 0, which
    * is also the chain head, so no node has zero in-degree), and a
    * dangling tail (node 24, no out-edges) whose mass the
    * redistribution term must conserve. The DuckDB oracle recomputes the
    * same 5 power iterations unrolled arithmetically (the `q_pagerank`
    * oracle pattern + a dangling-mass CTE per iteration); ranks compare in
    * integer ppm. `mass_ok` pins Σrank = 1 (the property the dangling
    * correction exists to preserve) as an in-bound flag the oracle fixes
    * at 1. State-sized shuffle partitions for the 25-node loop (the
    * [[pageRankGate]] sizing, measured 3.7-6.3 s @32 vs 2.5-2.7 s @8 at
    * sf0.1): the per-iteration cuts execute inside this scope, so the
    * conf applies to them as well as the final assembly. */
  def pageRankDirectedGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) {
      // checkpointEvery = 1: each directed iteration references the previous
      // ranks frame from TWO branches (the contribution join and the
      // dangling-mass broadcast), so uncut lineage re-derives leaves ~3^i
      // times — measured 22.6 s for 5 iterations on this 25-node graph with
      // cuts disabled vs ~2 s cutting every iteration (the default
      // every-2 cadence, one uncut doubling per pair, measured 4.0 s).
      // Large-graph runs amortize differently (each cut materializes |V|
      // rows); at 25 nodes the cut is the cheap side of the trade.
      gatePayload(pageRankDirected(nationGraph(s, d), iters = 5,
        checkpointEvery = 1))
    }

  /** The directed graph both nation-derived gates run on: chain
    * 0→1→…→24 (w=1) plus weighted hub in-edges 5..9→0 (w=2). */
  private def nationGraph(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d).select(col("n_nationkey").cast("int").as("k"))
    n.filter(col("k") < 24)
      .select(col("k").as("src"), (col("k") + 1).as("dst"), lit(1.0).as("w"))
      .unionByName(n.filter(col("k").between(5, 9))
        .select(col("k").as("src"), lit(0).as("dst"), lit(2.0).as("w")))
  }

  /** (node, rank_ppm, mass_ok) of a nation gate's ranks, materialized:
    * integer ppm ranks and the Σrank = 1 flag the oracle fixes at 1. */
  private def gatePayload(ranks: DataFrame): DataFrame = {
    val mass = ranks.agg(sum(col("rank")).as("m"))
    ranks.crossJoin(broadcast(mass))
      .select(col("node").cast("int").as("node"),
        round(col("rank") * 1e6, 0).cast("long").as("rank_ppm"),
        (abs(col("m") - lit(1.0)) < lit(1e-9)).cast("int").as("mass_ok"))
      .localCheckpoint(true)
  }

  /** Personalized PageRank: the teleport vector concentrates on a SEED SET
    * instead of spreading uniformly — rank measures proximity to the seeds
    * under random-walk-with-restart, the standard relevance/selection
    * centrality (data selection around a trusted core, related-item
    * expansion, spam distance). Two changes from [[pageRankDirected]], both
    * in the teleport term: restart mass goes to s(v) = 1/|S| on seeds and
    * 0 elsewhere, and DANGLING mass returns to the seeds too (the walk
    * restarts when it falls off the graph) — rank' = teleport·s +
    * d·(Σ_in p·rank + dmass·s). Mass still sums to 1 every iteration:
    * Σcin = 1 − dmass, so the total is teleport + d·(1−dmass+dmass) = 1.
    * Nodes the seeds cannot reach get rank EXACTLY 0 (no uniform floor) —
    * that sparsity is what makes PPR useful as a selection score and, at
    * real scale, what keeps a frontier-sparse implementation feasible.
    *
    * Same per-iteration shape and cut cadence as the directed form: |E|
    * contribution join + two broadcast 1-row/|S|-row aggregates. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                           damping: Double = 0.85,
                           checkpointEvery: Int = 2): DataFrame = {
    val teleport = Iterative.teleport(damping)
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    // normalize by seeds ∩ nodes, not the raw seed list: a seed absent from
    // the edge set gets no node row, so dividing by |S| would leave
    // teleport+dangling mass summing to <1 and break mass conservation
    val nodeIds = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().persist()
    val seedSet = seeds.select(col("node")).distinct().join(nodeIds, Seq("node"))
    // |S ∩ V| is a model-sized driver value (the centroid pattern); an
    // empty intersection would make s(v) = 0 everywhere and return a
    // plausible-looking all-zero rank vector, so it fails fast instead
    val nS = seedSet.agg(count(lit(1))).head().getLong(0)
    require(nS >= 1,
      "personalizedPageRank: no seed appears in the edge set (teleport mass would vanish)")
    // per-node teleport share s(v) and dangling flag, carried through the
    // loop by the ranks frame and the self-loop rows (see
    // [[pageRankDirected]] — the same round-19 shape: no per-iteration
    // |V|-row left join, the dangling aggregate is a filter on ranks)
    val hasOut = e.select(col("src").as("node")).distinct()
    val nodes = nodeIds
      .join(seedSet.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .join(hasOut.withColumn("h", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed").isNotNull, lit(1.0 / nS))
          .otherwise(lit(0.0)).as("s"),
        when(col("h").isNull, lit(1)).otherwise(lit(0)).as("dang"))
      .persist()
    val norm = e.select(col("src"), col("dst"),
        (col("w") / sum(col("w")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))).as("p"),
        lit(null).cast("double").as("s"),
        lit(null).cast("int").as("dang"))
      .unionAll(nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(0.0).as("p"), col("s"), col("dang")))
      .persist()
    var ranks = nodes.select(col("node"), col("s"), col("dang"),
      col("s").as("rank"))
    for (i <- 1 to iters) {
      val dMass = ranks.filter(col("dang") === 1)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
      // no hint — same reasoning as [[pageRankDirected]]: the gate graphs
      // are model-sized and auto-broadcast beats forced shuffle machinery
      ranks = norm
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("p") * col("rank")).as("cin"),
          max(col("s")).as("s"), max(col("dang")).as("dang"))
        .crossJoin(broadcast(dMass))
        .select(col("node"), col("s"), col("dang"),
          (lit(teleport) * col("s")
            + lit(damping) * (col("cin")
              + col("dmass") * col("s"))).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) ranks = Iterative.cutLineage(ranks)
    }
    // cut, then release the helper frames — see [[pageRankDirected]]
    val out = Iterative.cutLineage(ranks.select(col("node"), col("rank")))
    norm.unpersist(); nodes.unpersist(); nodeIds.unpersist()
    out
  }

  /** `q_ppr` gate: personalized PageRank on the SAME nation chain+hub graph
    * as [[pageRankDirectedGate]], seeded at node % 12 = 0 — {0, 12, 24}.
    * The seed choice is adversarial on purpose: 0 is the multi-in-degree
    * hub, 12 sits mid-chain, and 24 is the DANGLING tail, so the
    * dangling-restart term feeds visibly back into the seed ranks and
    * nodes 1..5 (upstream of every seed's outflow... reachable only
    * through the chain) separate cleanly from the teleport-free zero
    * floor. Oracle unrolls the identical 5 iterations; mass_ok pins
    * Σrank = 1. */
  def pprGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) {
      val seeds = Tables.nation(s, d).filter(col("n_nationkey") % 12 === 0)
        .select(col("n_nationkey").cast("int").as("node"))
      gatePayload(personalizedPageRank(nationGraph(s, d), seeds,
        iters = 5, checkpointEvery = 1))
    }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction — the O(log² n)-round web-scale algorithm (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", ACM SoCC 2014) — the scale sibling of
    * [[Dedup.nearDupClusters]]'s min-label propagation. Propagation needs
    * O(diameter) rounds: fine on near-clique dup clusters, pathological on
    * chain-shaped graphs (link graphs, citation chains, session stitching)
    * where the diameter is O(n). Star contraction's round count depends
    * only logarithmically on component SIZE, never on shape: each
    * large-star hangs every node's larger neighbors off its neighborhood
    * minimum, each small-star re-hangs the smaller ones, and deep trees
    * collapse geometrically toward the component minimum.
    *
    * Scale shape per round: two keyed groupBys (neighborhood minima) + two
    * keyed joins + dedup — every exchange keyed on node id over at most
    * 2|E| rows, and |E| itself SHRINKS monotonically toward |V|−#components
    * as trees flatten (contrast propagation, which re-joins the full edge
    * list every round forever). Lineage is cut per round
    * ([[Iterative.cutLineage]]: durable checkpoint under a checkpoint dir,
    * else localCheckpoint); convergence is probed with a 1-row
    * (count, Σchild, Σparent) aggregate on the already-cut frame — the
    * monotone-checksum probe [[Dedup.nearDupClusters]] uses, no driver-side
    * edge data.
    *
    * Input: (doc_a, doc_b) pair rows, either orientation, self-pairs
    * ignored. Output: (doc_id, cluster) for every node incident to ≥1 pair,
    * cluster = the component's minimum node id — identical contract (and
    * identical output) to the propagation and recursive-CTE forms; the
    * `q_cc_star` gate pins that equality against the recursive oracle. */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 12): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    // canonical parent-pointer form: child > parent on every row
    var e = cut(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("child"),
        least(col("doc_a"), col("doc_b")).as("parent"))
      .filter(col("child") =!= col("parent"))
      .distinct())
    def probe(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(col("child")), lit(0L)),
        coalesce(sum(col("parent")), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // One LARGE-STAR + SMALL-STAR contraction round, as a pure plan
    // transform (no cut, no probe — the loop below decides the cadence).
    def contractRound(in: DataFrame): DataFrame = {
      // LARGE-STAR over the symmetric neighborhood: for each u with
      // m = min(N(u) ∪ {u}), connect every STRICTLY LARGER neighbor to m.
      // Emitted rows have v > u ≥ m, so the output is canonical by
      // construction and never contains a self-loop.
      val sym = in.select(col("child").as("u"), col("parent").as("v"))
        .unionAll(in.select(col("parent").as("u"), col("child").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("child"), col("m").as("parent"))
        .distinct()
      // SMALL-STAR on the canonical list: for each child u with parent set
      // P(u) (all < u) and m = min(P(u)), re-hang u and every other parent
      // on m. Again p > m and u > m, so canonical form is preserved.
      val pMin = large.groupBy(col("child")).agg(min(col("parent")).as("m"))
      large.join(pMin, Seq("child"))
        .filter(col("parent") =!= col("m"))
        .select(col("parent").as("child"), col("m").as("parent"))
        .unionAll(pMin.select(col("child"), col("m").as("parent")))
        .distinct()
    }
    var prev = probe(e)
    var converged = false
    var round = 0
    // ONE contraction round per cut + probe — KEPT deliberately (round 19):
    // batching two rounds per cut to halve the driver round-trips was
    // measured 3× SLOWER (1.9 → 6.0 s at sf0.1), because the round body
    // references its input THREE times (sym = in ∪ in, and `large` feeds
    // both pMin and the re-hang join), so an uncut pair re-executes the
    // inner round's plan up to 4× — the self-referential doubling the
    // per-round cut exists to prevent (contrast labelPropagation, where
    // the state frame feeds the next round exactly once and the per-round
    // cut WAS removable). See OPTIMIZATION_r19.md.
    while (!converged && round < maxRounds) {
      e = cut(contractRound(e))
      val cur = probe(e)
      // fixpoint = the round was an identity: E is then a star forest with
      // one star per component rooted at the component min (a root that
      // weren't its star's min would be re-hung by small-star; two stars of
      // one component would imply an edge between them, which a further
      // large-star would rewire)
      converged = cur == prev
      prev = cur
      round += 1
    }
    e.select(col("child").as("doc_id"), col("parent").as("cluster"))
      .unionAll(e.select(col("parent").as("doc_id"), col("parent").as("cluster")))
      .distinct()
  }

  /** Component labels of the doc<200 pair graph, memoized per (session,
    * corpus dir) — the star-contraction fixpoint is a corpus BUILD (the
    * [[Dedup.clusterLabels]] contract): the cluster-keyed split and any
    * other label consumer read the artifact; rebuilding the contraction
    * inside each consumer would re-pay the per-round driver probes. */
  @transient private lazy val triLabelCache =
    new SessionCache[DataFrame]()

  def triClusterLabels(s: SparkSession, d: String): DataFrame =
    triLabelCache.getOrCompute(s, d) {
      connectedComponentsStar(Dedup.triPairArtifact(s, d)).localCheckpoint(true)
    }

  /** `q_cc_star` gate: star contraction over the SAME memoized exact
    * bounded pair set as `q_cc_recursive` ([[Dedup.ccPairArtifact]]) — two
    * independent component algorithms checked against one recursive-CTE
    * oracle truth. State-sized shuffle partitions for the tiny iterative
    * frames, the [[pageRankGate]] sizing. */
  def ccStarGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { connectedComponentsStar(Dedup.ccPairArtifact(s, d)).localCheckpoint(true) }

  /** Exact triangle count + global clustering coefficient by the
    * DEGREE-ORDERED node-iterator — the standard scale-bound triangle
    * kernel (Schank & Wagner's forward algorithm; the MapReduce form is
    * Suri & Vassilvitskii, WWW 2011). Orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher: the orientation is a
    * total order, so each triangle has exactly one node with two outgoing
    * edges and is counted exactly once — and per-node FORWARD degree is
    * O(√|E|) on any graph, so the wedge join generates Σ d_fwd(v)² =
    * O(|E|^1.5) candidate rows regardless of skew. The naive node-iterator
    * explodes on exactly the graphs that matter: a celebrity node of
    * degree 10⁶ contributes 5·10¹¹ wedges unordered, but at most |E|
    * forward wedges here — the same reason the LSH operators cap bucket
    * fan-in rather than trusting average-case degree.
    *
    * Dataflow: degree agg (one keyed shuffle) → orientation filter →
    * self-join on the wedge apex (keyed shuffle) → equi-join against the
    * canonical undirected edge list to close wedges (keyed shuffle). No
    * iteration, no driver state. Output is ONE row: triangle count, wedge
    * count Σ C(deg,2), and the global clustering coefficient 3T/W in
    * integer ppm (the [[pageRank]] quantization — a double ratio must not
    * flip a hash compare), 0 when the graph has no wedges. */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    val withDeg = sym
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    // forward orientation: (deg, id) lexicographic — a DAG by totality
    val fwd = withDeg
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("src"), col("b").as("dst"))
    // wedges at the out-degree-2 apex; u < w canonicalizes the candidate
    // pair so the closing join hits the canonical edge list directly
    val wedges = fwd.as("e1").join(fwd.as("e2"), Seq("src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
    val tri = wedges.join(und, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    // DIV, not `/`: Column./ is double division and would float the count
    val wcount = deg.agg(
      coalesce(sum(expr("deg * (deg - 1) DIV 2")), lit(0L)).as("n_wedges"))
    tri.crossJoin(broadcast(wcount))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0L))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges") * 1e6, 0)
            .cast("long")).as("clustering_ppm"))
  }

  /** `q_triangles` gate: the triangle kernel over the memoized doc<200
    * exact pair set ([[Dedup.triPairArtifact]] — wide enough that the
    * slice is never triangle-free; the doc<80 CC slice is). Oracle
    * recomputes the count with the direct 3-way a<b<c join, which is
    * exact on the bounded slice and precisely what the degree-ordered
    * form avoids at scale. */
  def triangleGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { triangleStats(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** k-core decomposition by FIXED-ROUND peeling: each round drops every
    * node whose degree in the CURRENT subgraph is < k, then restricts the
    * edge set to survivors — the maximal subgraph where every node keeps ≥k
    * in-subgraph neighbors once the peel reaches fixpoint. The core is the
    * standard corpus-graph denoising step (strip pendant chains/trees
    * before community or centrality analysis) and the classic iterative
    * subgraph kernel: per round one degree aggregate + two semi-joins, all
    * keyed on node id, on an edge set that only SHRINKS.
    *
    * `rounds` is FIXED, not a convergence loop — the [[q_cc_recursive]]
    * depth-bound trick: the oracle unrolls the identical peel count, so the
    * gate compare is exact whether or not the peel has reached fixpoint
    * (on the gate slice it converges by round 7, measured at every SF; a
    * production run sizes rounds generously or probes the 1-row edge-count
    * fixpoint the way [[connectedComponentsStar]] does). Peeling can
    * cascade O(n) rounds on pathological chains — for exact unbounded
    * cores at scale, raise `rounds`; each round is one cheap shrinking
    * pass. Returns (doc_id, core_deg): the surviving nodes with their
    * degree inside the final subgraph. */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 8): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    var e = cut(pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    for (_ <- 1 to rounds) {
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val keep = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("node"))
      e = cut(e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
    }
    e.select(col("a").as("doc_id")).unionAll(e.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("core_deg"))
  }

  /** `q_kcore` gate: the 2-core of the doc<200 exact pair graph
    * ([[Dedup.triPairArtifact]]) — strips the pendant tree fringe
    * (156→104 edges at sf0.01) and keeps 71 nodes, so both the peel and
    * the survivor set are non-vacuous at every SF. Oracle unrolls the same
    * 8 peels as materialized CTEs. */
  def kCoreGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { kCore(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** Synchronous label propagation communities with a DETERMINISTIC update
    * rule: each round, every node adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label (Raghavan et al. 2007,
    * with the random tie-break and asynchronous schedule both removed — the
    * async form is order-dependent and can never be gate-checked). Classic
    * LPA can oscillate on bipartite substructures, which is exactly why
    * `rounds` is FIXED rather than a convergence loop: the oracle unrolls
    * the identical round count, so the compare is exact whether or not the
    * labeling has stabilized (on the gate slice it stabilizes by round 3,
    * measured — planted dup clusters are near-cliques and collapse to their
    * min label immediately).
    *
    * Scale shape: per round one |E|-row join against the |V|-row label
    * frame plus two keyed aggregates — the [[pageRank]] iteration shape,
    * with the argmax expressed as `max(struct(count, -label))` so the
    * per-node winner is a partial-aggregable one-pass reduction (no window
    * sort over the neighborhood lists). Lineage cut per round. Unlike
    * components (which LPA also solves), the count-majority rule keeps
    * DENSE subgraphs together while letting bridges split — the corpus use
    * is topic/community grouping of the near-dup graph, one level finer
    * than [[connectedComponentsStar]]'s components. */
  def labelPropagation(pairs: DataFrame, rounds: Int = 4): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = cut(und.unionAll(und.select(col("b").as("a"), col("a").as("b"))))
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    // NO per-round lineage cut (round 19): `labels` feeds the next round
    // exactly ONCE (the cut `sym` frame is the only other input), so the
    // uncut plan grows LINEARLY in `rounds` — ~3 operators per round, not
    // the self-referential doubling the cut policy exists for (contrast
    // pageRankDirected, where ranks feeds two branches per iteration, or
    // kCore/bfsHops, where the state frame is referenced 2-3× per round).
    // For the fixed 4-round gate the 4 per-round localCheckpoint
    // materialization jobs were a third of the gate's job count; all 4
    // rounds now plan and execute as one query. Labels are identical
    // (the cut was a layout/materialization op only).
    for (_ <- 1 to rounds) {
      val counted = sym
        .join(labels.select(col("node").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("cnt"))
      labels = counted
        .groupBy(col("a").as("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lbl"))
    }
    labels.select(col("node").as("doc_id"), col("lbl").as("community"))
  }

  /** `q_label_prop` gate: 4 deterministic LPA rounds over the memoized
    * doc<200 exact pair set ([[Dedup.triPairArtifact]] — the slice where
    * the graph has non-clique structure worth splitting). Oracle unrolls
    * the same 4 rounds as materialized CTEs with a (count DESC, label ASC)
    * row_number argmax. */
  def labelPropGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { labelPropagation(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** Multi-source BFS hop distance by FIXED-ROUND minimum relaxation:
    * seeds (every `seedEvery`-th doc id present in the graph) start at
    * distance 0; each round every node takes min(own dist, neighbor dist
    * + 1). After k rounds the frame holds EXACTLY the nodes within k hops
    * of a seed, each with its true hop distance — Bellman-Ford on the hop
    * metric, where round i can only improve nodes at distance i, so fixed
    * rounds = an exact radius-k ball rather than an approximation. The
    * oracle unrolls the identical relaxation (the [[kCore]] trick), so the
    * compare is exact even for nodes the bound leaves unreached.
    *
    * The corpus use is contamination/provenance radius queries ("everything
    * within 2 near-dup hops of a flagged document") — the frontier form of
    * the same scan the incremental dedup probe does one hop of. Scale
    * shape: per round one |E| join keyed on node id + one min aggregate
    * over ≤(|V| + frontier·avg-deg) rows; the distance frame never exceeds
    * |V| rows. A frontier-delta form (join only nodes improved last round)
    * sends strictly less data but needs a second anti-join per round —
    * worth it only when the ball is small relative to |V|. */
  def bfsHops(pairs: DataFrame, seedEvery: Int = 10, rounds: Int = 4): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = cut(und.unionAll(und.select(col("b").as("a"), col("a").as("b"))))
    var dist = cut(sym.select(col("a").as("node")).distinct()
      .filter(col("node") % seedEvery === 0)
      .select(col("node"), lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val relaxed = sym
        .join(dist.select(col("node").as("b"), col("dist")), Seq("b"))
        .select(col("a").as("node"), (col("dist") + 1).as("dist"))
      dist = cut(dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }
    dist.select(col("node").as("doc_id"), col("dist").as("hops"))
  }

  /** `q_bfs_hops` gate: the radius-4 ball around every 10th doc id in the
    * doc<200 pair graph ([[Dedup.triPairArtifact]]). Oracle unrolls the
    * same 4 min-relaxation rounds as materialized CTEs. */
  def bfsGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { bfsHops(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** Weighted single-source (multi-seed) shortest paths by FIXED-ROUND
    * min-plus relaxation — [[bfsHops]] with the hop metric replaced by an
    * INTEGER dissimilarity weight: w = 10000 − round(jaccard·10⁴) basis
    * points, so near-identical documents are cheap to traverse and the
    * distance "how far is v from the flagged set, moving through
    * similarity" is exact long arithmetic end to end (no float ever enters
    * the relaxation — the reason the gate can hash distances directly
    * instead of quantizing). After k rounds each present node carries the
    * exact minimum path weight over ≤k-edge paths from any seed — genuine
    * Bellman-Ford semantics, which the oracle unrolls identically; unlike
    * the hop metric, a k-bounded weighted distance can still shrink with
    * more rounds (a long cheap path), and that bound is part of the
    * contract both engines compute.
    *
    * Scale shape identical to [[bfsHops]]: per round one |E| join keyed on
    * node id + one min aggregate; the distance frame is ≤|V| rows. */
  def ssspWeighted(pairs: DataFrame, seedEvery: Int = 10, rounds: Int = 4): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"),
        (lit(10000L) - round(col("jaccard") * 10000).cast("long")).as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val sym = cut(und.unionAll(
      und.select(col("b").as("a"), col("a").as("b"), col("w"))))
    var dist = cut(sym.select(col("a").as("node")).distinct()
      .filter(col("node") % seedEvery === 0)
      .select(col("node"), lit(0L).as("dist_bp")))
    for (_ <- 1 to rounds) {
      val relaxed = sym
        .join(dist.select(col("node").as("b"), col("dist_bp")), Seq("b"))
        .select(col("a").as("node"), (col("dist_bp") + col("w")).as("dist_bp"))
      dist = cut(dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist_bp")).as("dist_bp")))
    }
    dist.select(col("node").as("doc_id"), col("dist_bp"))
  }

  /** `q_sssp` gate: exact ≤4-edge weighted distances from the % 10 seed
    * set over the doc<200 pair graph, weights in integer basis points of
    * bigram dissimilarity. Oracle unrolls the same relaxation with the
    * same weight derivation. */
  def ssspGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { ssspWeighted(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** Per-node centrality profile over the radius-k ball: ALL-PAIRS hop
    * distances by running the [[bfsHops]] min-relaxation from EVERY node
    * simultaneously — the frame is keyed (src, node), so one round is
    * still one equi-join keyed on node id, just over |V|·ball rows — then
    * per source: harmonic centrality, eccentricity, and reach. Harmonic
    * ships as the INTEGER Σ lcm(1..k)/d (k=4 → 12/d ∈ {12,6,4,3}), so the
    * classic float centrality becomes exact long arithmetic and hashes
    * directly — the same trick as [[ssspWeighted]]'s basis points. The
    * corpus reading: high h12 = hub of a dup neighborhood (a canonical-
    * doc candidate), ecc/reach = how far its influence extends. Truncated
    * at radius k BY CONTRACT (both engines compute the same ball) — the
    * honest form at scale, where exact all-pairs distances don't exist
    * and HyperBall-style sketches estimate exactly this truncated sum. */
  def centralityProfile(pairs: DataFrame, rounds: Int = 4): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = cut(und.unionAll(und.select(col("b").as("a"), col("a").as("b"))))
    var dist = cut(sym.select(col("a").as("node")).distinct()
      .select(col("node").as("src"), col("node"), lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val relaxed = sym
        .join(dist.select(col("src"), col("node").as("b"), col("dist")), Seq("b"))
        .select(col("src"), col("a").as("node"), (col("dist") + 1).as("dist"))
      dist = cut(dist.unionAll(relaxed)
        .groupBy(col("src"), col("node")).agg(min(col("dist")).as("dist")))
    }
    dist.filter(col("dist") > 0)
      .groupBy(col("src").as("doc_id"))
      .agg(sum(expr("12 DIV dist")).as("h12"),
        max(col("dist")).as("ecc4"),
        count(lit(1)).as("n_reached"))
  }

  /** `q_graph_centrality` gate: the radius-4 centrality profile of every
    * node in the doc<200 pair graph. Oracle unrolls the identical
    * all-pairs relaxation. */
  def centralityGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { centralityProfile(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** Deterministic pseudo-random walks — the node2vec/DeepWalk positive-
    * pair sampler with the RNG replaced by the engine-portable LCG
    * ([[Corpus.lcgStep]]): from every node, `steps` uniform-neighbor hops
    * where hop t out of node v on the walk started at `start` picks
    * neighbor rank 1 + lcg(start·1000003 + v·97 + t) mod deg(v) over the
    * id-ordered adjacency. Keying the choice by (start, v, t) gives
    * distinct walks genuinely different trajectories while keeping every
    * choice a pure function the oracle can replay — a `rand()` walk can
    * never be gate-checked, and partition-seeded RNG wouldn't even be
    * stable across cluster sizes (the [[Corpus.hashBucket]] argument). A
    * production run salts the key with a seed; the dataflow is unchanged.
    *
    * Scale shape: the ranked adjacency (row_number + count per src) is a
    * one-shuffle corpus build; each step is one equi-join of the |V|·walks
    * frontier against it, keyed on node id — the PageRank iteration
    * volume with the aggregate replaced by a rank filter. Emits
    * (start, step, node) for steps 0..k: the skip-gram pair stream a
    * graph-embedding trainer consumes. */
  def randomWalks(pairs: DataFrame, steps: Int = 4): DataFrame = {
    def cut(df: DataFrame): DataFrame = Iterative.cutLineage(df)
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val adj = cut(sym.select(col("a").as("u"), col("b").as("v"))
      .withColumn("rn", row_number().over(w.orderBy(col("v"))))
      .withColumn("deg", count(lit(1)).over(w)))
    var walk = cut(adj.select(col("u").as("start")).distinct()
      .select(col("start"), col("start").as("node")))
    var frames = List(walk.select(col("start"), lit(0).as("step"), col("node")))
    for (t <- 1 to steps) {
      val key = col("start") * lit(1000003L) + col("node") * lit(97L) + lit(t.toLong)
      val next = walk.join(adj.withColumnRenamed("u", "node"), Seq("node"))
        .filter(col("rn") === lit(1) + pmod(Corpus.lcgStep(key), col("deg")))
        .select(col("start"), col("v").as("node"))
      walk = cut(next)
      frames ::= walk.select(col("start"), lit(t).as("step"), col("node"))
    }
    frames.reverse.reduce(_ unionAll _)
  }

  /** `q_random_walks` gate: 4-step walks from every node of the doc<200
    * pair graph ([[Dedup.triPairArtifact]]). Oracle unrolls the identical
    * 4 LCG-ranked hops over the same id-ordered adjacency. */
  def randomWalkGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) { randomWalks(Dedup.triPairArtifact(s, d)).localCheckpoint(true) }

  /** Degree assortativity as SUFFICIENT STATISTICS: over every directed
    * edge of the symmetric pair graph, the exact integer moments of
    * (deg(src), deg(dst)) — n, Σx, Σy, Σxy, Σx², Σy² — plus the Pearson
    * coefficient they determine. The moments are the hashable payload
    * (all longs); the coefficient is safe to ship too because every input
    * is integral, so both engines run the identical double expression
    * (one correctly-rounded sqrt, one division) on identical operands —
    * no accumulation-order ambiguity survives the integer aggregation.
    * Assortative (r>0) graphs percolate dup clusters differently than
    * disassortative ones — the diagnostic that decides hub-salting before
    * the heavier kernels. One degree aggregate + two keyed joins + a
    * 1-row reduction. */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("node").as("a"), col("deg").as("x")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("y")), Seq("b"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
      .select(col("n_edges"), col("sum_x"), col("sum_y"), col("sum_xy"),
        col("sum_x2"), col("sum_y2"),
        // degree-regular graphs (e.g. a perfect matching) zero the variance
        // product; emit NULL rather than NaN so both engines agree (DuckDB's
        // 0/0 behavior depends on ieee_floating_point_ops)
        when((col("n_edges") * col("sum_x2") - col("sum_x") * col("sum_x"))
          * (col("n_edges") * col("sum_y2") - col("sum_y") * col("sum_y")) === 0,
          lit(null).cast("double"))
          .otherwise(
            round((col("n_edges") * col("sum_xy") - col("sum_x") * col("sum_y")).cast("double")
              / sqrt((col("n_edges") * col("sum_x2") - col("sum_x") * col("sum_x")).cast("double")
                * (col("n_edges") * col("sum_y2") - col("sum_y") * col("sum_y")).cast("double")), 6))
          .as("assortativity"))
  }

  /** `q_assortativity` gate over the doc<200 pair graph. */
  def assortativityGate(s: SparkSession, d: String): DataFrame =
    degreeAssortativity(Dedup.triPairArtifact(s, d)).localCheckpoint(true)

  /** Newman modularity of a labeling, in EXACT INTEGERS: Q·4m² =
    * Σ_c (4·m·l_c − d_c²) with m = |undirected edges|, l_c = intra-
    * community edge count, d_c = total degree of community c — the
    * all-long form of Q = Σ_c (l_c/m − (d_c/2m)²), so evaluating the
    * community quality needs no float anywhere (the [[ssspWeighted]]
    * basis-point discipline applied to the modularity functional). Scale
    * shape: one |E| join against the |V|-row label frame per side + two
    * small aggregates. Applied to [[labelPropagation]]'s labels, this is
    * the standard "did LPA find real structure" check (Q·4m² > 0 ⇔
    * better than random). */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val und = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // labels are referenced THREE times below (both tag sides + degC);
    // cut once here so a lazily-built labeling (labelPropagation no longer
    // cuts per round — round 19) executes once, not per reference
    val lab = Iterative.cutLineage(labels.select(col("doc_id"), col("community")))
    val tagged = und
      .join(lab.select(col("doc_id").as("a"), col("community").as("ca")), Seq("a"))
      .join(lab.select(col("doc_id").as("b"), col("community").as("cb")), Seq("b"))
    val m = und.agg(count(lit(1)).as("m"))
    val intra = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("l_c"))
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val degC = sym.join(lab.select(col("doc_id").as("a"), col("community")), Seq("a"))
      .groupBy(col("community")).agg(count(lit(1)).as("d_c"))
    degC.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select((lit(4) * col("m") * coalesce(col("l_c"), lit(0L))
        - col("d_c") * col("d_c")).as("term"))
      .agg(sum(col("term")).as("q_4m2"))
      .crossJoin(broadcast(m))
      .select(col("q_4m2"), col("m").as("n_edges"))
  }

  /** `q_modularity` gate: the integer modularity of the 4-round LPA
    * labeling of the doc<200 graph — community detection AND its quality
    * functional under one hash. Oracle chains the q_label_prop unroll
    * with the same integer aggregation. */
  def modularityGate(s: SparkSession, d: String): DataFrame =
    withGatePartitions(s) {
      val pairs = Dedup.triPairArtifact(s, d)
      modularity(pairs, labelPropagation(pairs)).localCheckpoint(true)
    }

  /** Degree distribution of the same customer↔supplier graph: per side, how
    * many nodes have each neighbor count — the first diagnostic run on any
    * graph before heavier analytics (a heavy-tailed degree histogram is what
    * motivates salting the propagation joins). Two partial-agg shuffles,
    * both on node id, output |distinct degrees| rows; the distinct-pair
    * dedup reuses the exact edge aggregation [[pageRank]] starts from. */
  def degreeHistogram(s: SparkSession, d: String): DataFrame = {
    val pairs = graphArtifacts(s, d)._3
    val degrees = pairs.groupBy(col("o_custkey").as("id"))
      .agg(count(lit(1)).as("degree")).withColumn("side", lit("customer"))
      .unionAll(pairs.groupBy(col("l_suppkey").as("id"))
        .agg(count(lit(1)).as("degree")).withColumn("side", lit("supplier")))
    degrees.groupBy(col("side"), col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
  }
}
