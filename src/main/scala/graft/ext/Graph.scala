package graft.ext
import graft.Ckpt
import graft.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative link-graph analytics over edge lists — the authority-scoring
  * layer of a corpus-curation pipeline (web-scale corpora weight documents
  * by the centrality of their source domain in the hyperlink graph; the
  * classic formulation is Page et al., "The PageRank Citation Ranking").
  * The reference has no graph surface; this extends the same per-source
  * quality posture its schools/programs views take to graph-derived
  * quality.
  *
  * Design for scale: rank state is one (node, rank) row per vertex and
  * every iteration is joins + one aggregation over the edge list — the
  * standard Pregel-as-shuffle shape, O(E) per round, no adjacency lists
  * collected anywhere. The edge list (with out-degrees) is persisted once
  * and reused by all rounds; the rank frame is localCheckpoint'ed per
  * round so lineage stays flat instead of growing a 2-joins-per-iteration
  * tree (same idiom as [[Dedup.connectedComponents]]).
  */
object Graph {

  /** Shuffle parallelism matched to a staged graph's edge count:
    * ~250k edges per partition, clamped to [1, cap]. Iterative rank/label
    * rounds move O(V)/O(E) frames dozens of times; running a
    * vocabulary-sized graph (text_keywords: 31 nodes at sf0.1) at the
    * session's corpus-sized shuffle setting costs 600+ near-empty tasks
    * of pure scheduling per query (measured: 3.5 s → 2.3 s with matched
    * parallelism), while a purchase graph at sf10 (~10⁸ edges) saturates
    * the cap and keeps today's plan. This is the static stage-time twin
    * of AQE partition coalescing, which only merges AFTER each shuffle
    * has already been scheduled wide. Callers run the rank loop in a
    * child session carrying this value. */
  def rankParallelism(edgeCount: Long, cap: Int = 32): Int = {
    val per = 250000L
    math.max(1L, math.min(cap.toLong, (edgeCount + per - 1L) / per)).toInt
  }

  /** PageRank by fixed-iteration power iteration over a DIRECTED edge list
    * with columns (src, dst). Returns (node, rank) for every node that
    * appears as an endpoint.
    *
    * rank'(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank(u)/outdeg(u)
    *
    * Dangling mass (nodes with no out-edges) is dropped, not redistributed
    * — the original simplification; feed a bidirected edge list (as the
    * registered query does) when every node must keep out-degree ≥ 1.
    * Duplicate (src, dst) rows count as parallel edges; pre-distinct the
    * input for simple-graph semantics. All arithmetic is plain doubles —
    * callers comparing across engines round at the end (registry precedent:
    * 6 decimals on O(1)-scaled values).
    *
    * Checkpoint cadence: each iteration references the previous rank frame
    * exactly once and the persisted edge/node frames otherwise, so between
    * checkpoints the plan is a LINEAR chain run as consecutive shuffle
    * stages of one job. Both extremes lose (measured at sf0.1, 1.17M
    * edges, 10 rounds): every-round checkpointing pays iters eager
    * job-scheduling round-trips (13.0 s), while a 10-round chain pays
    * optimizer+codegen cost that grows with plan depth (14.6 s); the
    * interval-4 default is the measured sweet spot (9.6 s). The final
    * frame is checkpointed eagerly so the returned DataFrame is free of
    * the unpersisted lineage.
    *
    * Convergence early-exit: with `epsilon = Some(ε)`, iteration stops at
    * the first CHECKPOINT whose ranks moved less than ε (max |Δrank| over
    * all nodes) since the previous checkpoint. The check rides the
    * checkpoint cadence on purpose: the frame is materialized there
    * anyway, so the test costs one O(V) join + aggregate per interval and
    * never makes the in-between rounds eager (which the cadence note above
    * measured at +35%). Note the criterion is movement over a WINDOW of
    * `checkpointInterval` rounds, not the textbook per-round Δ: for
    * monotone-decaying modes it is stricter (never exits earlier), but an
    * OSCILLATING mode with eigenvalue λ < 0 cancels across an even window
    * (|λ^interval − 1| can undershoot |λ − 1|), so the window test can fire
    * while per-round movement still exceeds ε. Choose ε with the window in
    * mind, or set `checkpointInterval = 1` for the exact textbook stop
    * (paying the every-round eager cadence). Default None = fixed
    * iterations — the mode oracles replay (an unrolled-CTE oracle cannot
    * know the data-dependent stop round). */
  def pagerank(edges: DataFrame, iters: Int = 10,
               damping: Double = 0.85,
               checkpointInterval: Int = 4,
               epsilon: Option[Double] = None): DataFrame = {
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")
    require(checkpointInterval >= 1,
      s"checkpointInterval must be positive, got $checkpointInterval")
    // materialize the caller's edge derivation ONCE: out-degrees, the node
    // set and the join side each re-read `edges`, and a derivation like
    // "join two tables, distinct, bidirect" re-executing per consumer was
    // the measured bulk of this operator (sf0.1 profile: 8.0 s building
    // out-degrees + 2.5 s building nodes vs ~0.8 s per rank iteration)
    val e = edges.select(col("src"), col("dst")).ckpt()
    // out-degree rides along each edge so an iteration is ONE join with the
    // rank frame (contribution = rank(src)/outdeg(src)), not two.
    // Persisted PRE-PARTITIONED on the join key (the GraphX edge-partition
    // idiom): the cached partitioning satisfies every round's join
    // requirement, so an iteration shuffles only the O(V) rank/contribution
    // frames — the O(E) edge table never moves again.
    val out = e.join(
      e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")),
      Seq("src")).repartition(col("src")).persist()
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val ranks = prUniform(out, nodes0, iters, damping, checkpointInterval,
      epsilon)
    out.unpersist()
    ranks
  }

  /** [[pagerank]] over a PRE-BIDIRECTED, outdeg-ANNOTATED edge table the
    * ingest pipeline staged BUCKETED BY `src` ([[graft.io.Sinks
    * .writeBucketed]]) — the staged-layout read path the round-12
    * bucketed-LPA precedent established, applied to the rank family: no
    * per-run derivation join/distinct, no edge checkpoint, and no
    * Exchange anywhere on the edge input of a power-iteration round (the
    * bucket layout satisfies every round's src-join requirement;
    * PlanSpec pins it). Caller contract: columns (src, dst, outdeg),
    * deduplicated, self-loop-free, both orientations present, outdeg =
    * per-src row count as DOUBLE (what the staged writer computes).
    * Bidirected ⇒ the src column alone covers the node set. Output is
    * hash-identical to [[pagerank]] over the matching edge list. */
  def pagerankBucketed(e0: DataFrame, iters: Int = 10,
                       damping: Double = 0.85,
                       checkpointInterval: Int = 4,
                       epsilon: Option[Double] = None): DataFrame = {
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")
    // persist keeps the bucketed scan's HashPartitioning(src) on the
    // cached blocks — rounds re-read memory, not parquet
    val out = e0.select(col("src"), col("dst"), col("outdeg")).persist()
    val nodes0 = out.select(col("src").as("node")).distinct()
    val ranks = prUniform(out, nodes0, iters, damping, checkpointInterval,
      epsilon)
    out.unpersist()
    ranks
  }

  /** Uniform-teleport wrapper: builds the (node, __base, __init) frame
    * for plain PageRank — base = (1−d)/N, init = 1/N, both driver-side
    * double literals, the exact IEEE chain the pre-refactor loop
    * computed — and runs [[prLoop]]. */
  private def prUniform(out: DataFrame, nodes0: DataFrame, iters: Int,
                        damping: Double, checkpointInterval: Int,
                        epsilon: Option[Double]): DataFrame = {
    val nodes = nodes0.repartition(col("node")).persist()
    val n = nodes.count().toDouble // also materializes the persisted nodes
    val base = (1.0 - damping) / n
    val withBase = nodes.select(col("node"), lit(base).as("__base"),
      lit(1.0 / n).as("__init"))
    val ranks = prLoop(out, withBase, iters, damping,
      checkpointInterval, epsilon)
    nodes.unpersist()
    ranks
  }

  /** The shared damped power-iteration loop over a persisted,
    * src-partitioned, outdeg-annotated edge frame `out` and a node frame
    * (backed by a caller-persisted node set) carrying per-node teleport
    * terms: rank'(v) = __base(v) + d · Σ rank(u)/outdeg(u).
    *
    * Block lifetime: each interval checkpoint SUPERSEDES the previous
    * one — once the new frame is materialized (ckpt is eager) and the
    * convergence delta (the predecessor's only reader) has run, the
    * predecessor is dropped via [[Ckpt.drop]], so the loop pins O(1)
    * rank checkpoints however many iterations run (the graph_ppr 32 GiB
    * sf10 margin: 10 rounds previously held every interval checkpoint
    * until scope close). */
  private def prLoop(out: DataFrame, nodes: DataFrame, iters: Int,
                     damping: Double, checkpointInterval: Int,
                     epsilon: Option[Double]): DataFrame = {
    require(checkpointInterval >= 1,
      s"checkpointInterval must be positive, got $checkpointInterval")
    var ranks = nodes.select(col("node"), col("__init").as("rank"))
    var prevCp = ranks
    var lastCp: DataFrame = null
    var i = 1
    var converged = false
    while (i <= iters && !converged) {
      val contrib = out.join(ranks, out("src") === ranks("node"))
        .groupBy(out("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("cin"))
      // left join keeps zero-in-degree nodes alive at the base rank
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("__base") + lit(damping) * coalesce(col("cin"), lit(0.0)))
            .as("rank"))
      if (i % checkpointInterval == 0 || i == iters) {
        ranks = ranks.ckpt() // eager: materializes rounds so far
        epsilon.foreach { eps =>
          // both sides are checkpointed O(V) frames; one agg, no shuffle of E
          val delta = ranks
            .join(prevCp.withColumnRenamed("rank", "__prev"), Seq("node"))
            .agg(max(abs(col("rank") - col("__prev"))).as("d"))
            .head().getAs[Double]("d")
          if (delta < eps) converged = true
        }
        // the superseded checkpoint has no remaining consumer: the new
        // one is materialized and its delta read (if any) has run
        if (lastCp ne null) Ckpt.drop(lastCp)
        lastCp = ranks
        prevCp = ranks
      }
      i += 1
    }
    ranks
  }

  /** Personalized PageRank (random walk with restart to a SEED SET —
    * Haveliwala, "Topic-sensitive PageRank", WWW'02): like [[pagerank]]
    * but the teleport mass lands uniformly on `seeds` instead of all of
    * V, so rank measures proximity to the seeds — the "more like these"
    * primitive (seed = curated docs, ranked = crawl; seed = one nation's
    * customers, ranked = the supplier graph around them). Returns every
    * node with its rank; seeds-only restart means rank decays with
    * distance from the seed set.
    *
    * Contract: `edges` must leave no dangling nodes (every node needs
    * outdeg ≥ 1 — automatic for a bidirected edge list, which is what
    * every caller here feeds); dangling mass would otherwise leak out of
    * the distribution. `seeds` is a 1-column frame of node ids (a subset
    * of V; ids absent from the graph contribute teleport mass nowhere
    * and are dropped).
    *
    * Plan: identical Pregel-as-shuffle shape to [[pagerank]] — the O(E)
    * out-degree-annotated edge list persists PRE-PARTITIONED on the join
    * key, each round shuffles only the O(V) rank frame, interval
    * checkpoints keep lineage flat. The seed indicator rides the node
    * frame as a 0/1 column, so the restart term is a projection, not a
    * join. */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 10, damping: Double = 0.85,
                           checkpointInterval: Int = 4): DataFrame = {
    require(iters >= 1, s"personalizedPagerank needs >= 1 iteration: $iters")
    val e = edges.select(col("src"), col("dst")).ckpt()
    val out = e.join(
      e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")),
      Seq("src")).repartition(col("src")).persist()
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val ranks = prSeeded(out, nodes0, seeds, iters, damping,
      checkpointInterval)
    out.unpersist()
    ranks
  }

  /** [[personalizedPagerank]] over the staged bucketed outdeg-annotated
    * edge table — same contract and rationale as [[pagerankBucketed]]. */
  def personalizedPagerankBucketed(e0: DataFrame, seeds: DataFrame,
                                   iters: Int = 10, damping: Double = 0.85,
                                   checkpointInterval: Int = 4): DataFrame = {
    require(iters >= 1, s"personalizedPagerank needs >= 1 iteration: $iters")
    val out = e0.select(col("src"), col("dst"), col("outdeg")).persist()
    val nodes0 = out.select(col("src").as("node")).distinct()
    val ranks = prSeeded(out, nodes0, seeds, iters, damping,
      checkpointInterval)
    out.unpersist()
    ranks
  }

  /** Seeded-teleport wrapper: restart mass lands uniformly on the seed
    * set — __base = (1−d)·(seed/|S|), __init = seed/|S|, the exact
    * per-row IEEE chain the pre-refactor loop computed — then the shared
    * [[prLoop]]. */
  private def prSeeded(out: DataFrame, nodes0: DataFrame, seeds: DataFrame,
                       iters: Int, damping: Double,
                       checkpointInterval: Int): DataFrame = {
    val seedSet = seeds.select(col(seeds.columns(0)).as("node")).distinct()
    val nodes = nodes0
      .join(seedSet.select(col("node"), lit(1.0).as("__seed")),
        Seq("node"), "left")
      .na.fill(0.0, Seq("__seed"))
      .repartition(col("node")).persist()
    val nSeeds = nodes.agg(sum(col("__seed"))).head().getDouble(0)
    require(nSeeds > 0, "no seed id present in the graph")
    // restart vector: 1/|S| on seeds, 0 elsewhere
    val restart = col("__seed") / nSeeds
    val withBase = nodes.select(col("node"),
      ((lit(1.0) - damping) * restart).as("__base"),
      restart.as("__init"))
    val ranks = prLoop(out, withBase, iters, damping,
      checkpointInterval, epsilon = None)
    nodes.unpersist()
    ranks
  }

  /** Per-node triangle counts over an UNDIRECTED edge list (src, dst) —
    * the clustering-structure primitive (community density, spam-farm
    * detection) complementing [[pagerank]]'s centrality.
    *
    * Degree-oriented wedge join (the standard distributed formulation,
    * e.g. Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    * Last Reducer", WWW'11): every edge is oriented from its (degree, id)-
    * smaller endpoint, wedges are the self-join of oriented edges on the
    * apex, and a wedge counts iff its far pair closes in the canonical
    * edge set. Orientation bounds per-apex out-degree by O(√E), so wedge
    * volume is O(E^1.5) worst-case instead of Σ deg² — the difference
    * between a hot celebrity vertex generating deg² ≈ 10¹² wedge rows and
    * the bounded oriented form; that IS the 100 TB posture, no cap knobs.
    * Each triangle is counted exactly once (its (degree, id)-minimum
    * vertex is the unique apex with out-edges to both others); all joins
    * are equi-joins over edge-list-sized frames.
    *
    * Input edges may be duplicated/reversed/self-looped — canonicalized
    * and deduplicated here. Returns (node, n_triangles) for nodes in ≥1
    * triangle; counts are exact integers, so the oracle is a plain
    * three-way SQL join with no float tolerance.
    *
    * Storage contract (round-15 ADVICE): the returned frame is an EAGER
    * V-sized localCheckpoint — that is what lets the two E-sized
    * intermediates (canonical edges + adjacency) release before return
    * instead of pinning for the JVM's lifetime. The checkpoint blocks
    * themselves stay pinned until the CALLER releases them: inside a
    * [[graft.Ckpt.releasing]] scope (Verify/Bench wrap every query run in
    * one) release is automatic at scope close; library callers outside a
    * scope must `graft.Ckpt.drop(result)` once done, like every other
    * ckpt-returning op here. */
  def triangleCounts(edges: DataFrame,
                     canonical: Boolean = false): DataFrame = {
    // `canonical = true`: edges is ALREADY the deduplicated a ≤ b pair
    // list (the staged ingest artifact) — skip the E-sized distinct
    val e = (if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
      .persist() // reused by degrees, both wedge sides, and the closure join
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("w"))
    // Edge-iterator form, not wedge-materialization: for each oriented
    // edge (u,w), triangles through it are |N⁺(u) ∩ N⁺(w)| (each triangle
    // counted exactly once, at the edge between its two (degree,id)-
    // smaller vertices). The out-adjacency table is orientation-bounded —
    // Σ|N⁺| = E entries total — so both joins carry E rows against an
    // E-entry side (broadcastable when it fits, plain shuffle when not)
    // and the intersection happens per row in place: the O(E^1.5) wedge
    // set is never materialized or shuffled (measured at sf0.1: 1.2M
    // edges → 41M wedges; this form cut 8.6 s to the groupBy of 3·T
    // corner rows + two E-sized joins).
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("w"))).as("nbrs"))
      .persist() // both endpoint joins
    val tri = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("nw")), Seq("w"))
      .withColumn("common", array_intersect(col("nu"), col("nw")))
      .where(size(col("common")) > 0)
    // corners: u and w once per closing vertex, plus each closing vertex
    // materialize the (V-sized) counts eagerly so the two E-sized caches
    // can release NOW (round 14): returning a lazy frame over them pinned
    // `e` + `adj` for the JVM's lifetime — the storage leak that degraded
    // every later query in a multi-query JVM (the bench retime pathology)
    // and eroded the sf10 32 GiB margin. Same ckpt-then-unpersist idiom
    // as [[graft.ext.Dedup.nearDupCandidatesFromSets]].
    val counts = tri
      .select(explode(concat(
        array_repeat(col("u"), size(col("common"))),
        array_repeat(col("w"), size(col("common"))),
        col("common"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .ckpt()
    e.unpersist()
    adj.unpersist()
    counts
  }

  /** Multi-source BFS levels over an undirected edge list (src, dst):
    * (node, dist) for every node within `maxHops` of `sources` (a frame
    * with a `node` column), dist = hop count of the shortest path.
    *
    * Frontier BFS as iterative joins: each round joins the CURRENT
    * frontier (never the full visited set) against the edge list, then
    * anti-joins visited — O(E_frontier) work per round, with frontier and
    * visited as flat localCheckpoint'ed O(V) frames (the
    * [[graft.ext.Dedup]] connected-components idiom). Rounds are bounded
    * by `maxHops`, so the plan never grows; the per-round empty-frontier
    * check is one cheap job on a checkpointed frame and exits early on
    * exhausted components. */
  def bfsLevels(edges: DataFrame, sources: DataFrame,
                maxHops: Int, dedupDirected: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // `dedupDirected = true`: edges is already a DEDUPLICATED directed
    // pair list whose reversed set is disjoint from it (e.g. the staged
    // parity-encoded bipartite purchase graph) — bidirecting needs no
    // E-sized distinct shuffle
    val e0 = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val e = (if (dedupDirected) e0 else e0.distinct()).persist()
    var visited = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).ckpt()
    var frontier = visited.select(col("node"))
    var hop = 1L
    while (hop <= maxHops && frontier.take(1).nonEmpty) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop))
        .ckpt()
      visited = visited.union(next).ckpt()
      frontier = next.select(col("node"))
      hop += 1
    }
    e.unpersist()
    visited
  }

  /** Synchronous label-propagation communities (Raghavan, Albert & Kumara,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks", 2007) over an undirected edge list (src, dst)
    * with LONG node ids ≥ 0. Returns (node, community) after `iters`
    * rounds; community = the surviving label (a node id).
    *
    * Determinism: the classic algorithm breaks max-count ties randomly and
    * updates asynchronously — both unusable for a cross-engine-hashable
    * operator. This is the SYNCHRONOUS variant with the min-label
    * tiebreak: every round, each node adopts the most frequent label among
    * its neighbors' previous-round labels, smallest label on ties. Output
    * is a pure function of (edges, iters), so a SQL replay of the same
    * rounds hash-matches. The known synchronous pathology — labels can
    * oscillate on bipartite structures instead of converging — is bounded
    * by the fixed round budget; callers clustering a bipartite graph
    * should project it (as the registered co-purchase query does) rather
    * than raise `iters`.
    *
    * Scale — ACTIVE-FRONTIER delta iteration (round 11, the standard
    * GraphX/Pregel vote-to-halt shape): synchronous LPA has a provable
    * skip rule — if none of x's neighbors changed label in round i−1,
    * the multiset x aggregates in round i is identical to round i−1's,
    * so label_i(x) = label_{i−1}(x) without recomputation. Round 1 is
    * the classic full E-sized join; every later round first derives the
    * TOUCHED set (nodes adjacent to the previous round's changed nodes),
    * recomputes the argmax only over touched nodes' full in-neighborhoods
    * (a semi-join-restricted slice of the persisted pre-partitioned edge
    * list), and carries every other label forward. At 100 TB the last
    * rounds of a converging community structure touch a small frontier
    * instead of re-shuffling all E per round — and an EMPTY frontier
    * proves the fixpoint, so remaining rounds are skipped outright
    * (output provably identical to running them). Results are
    * bit-identical to the full recomputation: touched nodes aggregate
    * their complete neighborhoods, so counts and the min-label tiebreak
    * cannot drift. The per-node argmax is a single `max(struct(n, -label))`
    * partial-aggregable struct max (no window). Rounds checkpoint on
    * `checkpointInterval` cadence. Self-loops dropped, duplicate/reversed
    * edges deduplicated. */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
                       checkpointInterval: Int = 2,
                       canonical: Boolean = false): DataFrame = {
    require(iters >= 1, s"labelPropagation needs >= 1 iteration: $iters")
    require(checkpointInterval >= 1,
      s"checkpointInterval must be positive, got $checkpointInterval")
    // materialized BEFORE bidirecting: und appears twice in the union, and
    // an expensive caller derivation (e.g. a basket self-join) would
    // otherwise execute twice inside e's first materialization — the same
    // idiom as [[pagerank]]'s edge checkpoint. `canonical = true` asserts
    // the caller already passes the deduplicated a ≤ b pair list (usually
    // one it also feeds [[modularity]]) — skipping a full E-sized distinct
    // shuffle AND a second non-evictable checkpoint (the sf10 OOM lesson).
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt()
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")).persist()
    val out = lpaRounds(e, iters, checkpointInterval)
    e.unpersist()
    out
  }

  /** [[labelPropagation]] over a PRE-BIDIRECTED, PRE-PARTITIONED edge
    * table — the staged-layout read path: `e0` is the bidirected edge
    * list an ingest pipeline wrote BUCKETED BY `src`
    * ([[graft.io.Sinks.writeBucketed]]), so each round's src-side join
    * consumes the bucket layout directly — no derivation self-join, no
    * E-sized distinct, and no repartition exchange anywhere on the edge
    * input (PlanSpec pins it). This is the last per-round shuffle lever
    * for the iterative family at 100 TB: the only E-sized movement left
    * is the partial-aggregated message combine itself.
    *
    * Caller contract (what the staged writer produces): deduplicated,
    * self-loop-free, BOTH orientations present. Output is hash-identical
    * to [[labelPropagation]] over the matching canonical pair list. */
  def labelPropagationBucketed(e0: DataFrame, iters: Int = 5,
                               checkpointInterval: Int = 2): DataFrame = {
    require(iters >= 1, s"labelPropagation needs >= 1 iteration: $iters")
    // persist keeps the bucketed scan's HashPartitioning(src) on the
    // cached blocks — rounds re-read memory, not parquet
    val e = e0.select(col(e0.columns(0)).as("src"),
      col(e0.columns(1)).as("dst")).persist()
    val out = lpaRounds(e, iters, checkpointInterval)
    e.unpersist()
    out
  }

  /** The shared LPA round loop over a bidirected, partitioned-by-src,
    * persisted edge frame (see [[labelPropagation]] for the algorithm
    * and the adaptive full/delta round policy). */
  private def lpaRounds(e: DataFrame, iters: Int,
                        checkpointInterval: Int): DataFrame = {
    require(checkpointInterval >= 1,
      s"checkpointInterval must be positive, got $checkpointInterval")

    def argmaxLabels(sub: DataFrame, labels: DataFrame): DataFrame =
      sub.join(labels, sub("src") === labels("node"))
        .groupBy(sub("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy("node")
        .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))

    // round 1: every node is active — the classic full-E round
    var labels = argmaxLabels(e,
        e.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label")))
      .ckpt()
    // frontier = nodes whose round-1 label differs from their init (self)
    var changed = labels.where(col("node") =!= col("label"))
      .select(col("node")).ckpt()
    var changedCnt = changed.count()
    val vCount = labels.count()
    Ckpt.frontier(e.sparkSession, "lpa", 1, changedCnt)
    // superseded-checkpoint bookkeeping: the loop pins O(1) rounds of
    // O(V) state instead of every round until scope close — but the drop
    // must TRAIL BY TWO rounds, not one: a full round's `changed` is a
    // lazy view over (next ⋈ PRIOR labels), and the following round's
    // delta branch re-executes that view — dropping the prior round's
    // checkpoint at round end therefore kills blocks a localCheckpoint
    // cannot recompute (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, caught by the
    // round-13 bench smoke). After round i's frontier count, round i−2's
    // frames have no live lazy reference left: every view over them
    // (round i−1's `changed`) was superseded during round i.
    var olderLabels: DataFrame = null
    var olderChanged: DataFrame = null
    var i = 2
    while (i <= iters && changedCnt > 0) {
      val priorLabels = labels
      val priorChanged = changed
      // ADAPTIVE delta iteration (round 11): a delta round derives the
      // touched set (an E-sized join + distinct) and semi-restricts the
      // edge list (another E-sized shuffle) — ~3x a full round's work
      // when most nodes are still moving. Measured at sf10 (dense
      // 100-clone co-purchase graph, frontier stays ≳70% of V for all
      // rounds): always-delta ran 406 s vs ~250 s full. So recompute
      // FULL rounds while the frontier is wide and switch to delta
      // rounds only once |changed| < V/5, where skipping settled
      // neighborhoods actually pays; an empty frontier still exits
      // outright. Output is bit-identical either way (delta rounds
      // aggregate full in-neighborhoods of touched nodes).
      if (changedCnt * 5 < vCount) {
        // delta round: nodes that CAN change = in-neighbors of last
        // round's changed set (undirected ⇒ both orientations in e)
        val touched = e
          .join(changed.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
        val sub = e.join(touched.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
        val updated = argmaxLabels(sub, labels)
        // untouched labels carry forward unchanged (the skip rule above)
        val next = labels.as("l")
          .join(updated.as("u"), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("u.label"), col("l.label")).as("label"),
            (col("u.label").isNotNull &&
              col("u.label") =!= col("l.label")).as("__chg"))
          .ckpt()
        changed = next.where(col("__chg")).select(col("node"))
        labels = next.select(col("node"), col("label"))
      } else {
        // full round: one E-join argmax; the frontier is read off the
        // label diff (a V-sized join of two checkpointed frames)
        val next = argmaxLabels(e, labels).ckpt()
        changed = next.as("n")
          .join(labels.as("l"), Seq("node"))
          .where(col("n.label") =!= col("l.label"))
          .select(col("node"))
        labels = next
      }
      changedCnt = changed.count()
      Ckpt.frontier(e.sparkSession, "lpa", i, changedCnt)
      if (olderLabels ne null) {
        Ckpt.drop(olderLabels)
        Ckpt.drop(olderChanged)
      }
      olderLabels = priorLabels
      olderChanged = priorChanged
      i += 1
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar, "Friends and neighbors
    * on the web", Social Networks 2003): score every NON-adjacent node
    * pair sharing ≥ `minCommon` neighbors by Σ_z 1/ln(deg(z)) over the
    * common neighbors z — common-neighbor counting where rare shared
    * contacts weigh more than hubs. Returns (u, w, n_common, aa), u < w,
    * the standard "who should be connected next" ranking.
    *
    * Scale: wedge enumeration is inherent to the score (one addend per
    * wedge), so the armor is `maxDeg`: centers above it are dropped WHOLE
    * before pairing — a hub's addend 1/ln(deg) is the smallest possible
    * while its wedge fan-out is deg², the worst cost/signal row in the
    * graph (same rationale as [[graft.ext.Recommend.itemCooccur]]'s
    * maxBasket). Candidate volume is then Σ_capped deg(z)² ≤ V·maxDeg²;
    * everything is equality-joined and partial-aggregable; existing edges
    * leave via one anti-join. Degree-1 centers form no wedge, so
    * ln(deg) ≥ ln 2 — no division hazard. */
  def adamicAdar(edges: DataFrame, maxDeg: Long = 30,
                 minCommon: Long = 2,
                 canonical: Boolean = false): DataFrame = {
    require(maxDeg >= 2, s"maxDeg below 2 centers nothing: $maxDeg")
    // `canonical = true`: edges is ALREADY the deduplicated a ≤ b pair
    // list (typically a staged parquet scan — cheap to re-read, so no
    // checkpoint needed either)
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt() // 3 consumers: degrees, wedges, anti
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val ctr = e.groupBy("src").agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDeg && col("d") >= 2)
    val half = e.join(ctr, Seq("src"))
    val scored = half.as("x")
      .join(half.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("u"), col("y.dst").as("w"),
        col("x.d").as("d"))
      .groupBy("u", "w")
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("d").cast("double"))).as("__aa"))
      .where(col("n_common") >= minCommon)
    scored.join(und,
        scored("u") === und("a") && scored("w") === und("b"), "left_anti")
      .select(col("u"), col("w"), col("n_common"),
        Timeseries.r5(col("__aa")).as("aa"))
  }

  /** Neighbor-set Jaccard link prediction (Liben-Nowell & Kleinberg,
    * "The link prediction problem for social networks", CIKM'03):
    * non-adjacent pairs scored |N(u)∩N(v)| / |N(u)∪N(v)| — the
    * normalized sibling of [[adamicAdar]] (which weights common
    * neighbors by rarity; this one normalizes by combined neighborhood
    * size, so high-degree nodes do not dominate). Returns
    * (u, w, n_common, jaccard), u < w. Exact integer counts, ONE
    * division at the r5 site.
    *
    * Same wedge armor as [[adamicAdar]]: centers above `maxDeg` are
    * dropped whole before pairing (deg² fan-out), so n_common counts
    * common neighbors THROUGH bounded-degree centers — the documented
    * recall trade; the u/w degrees in the denominator stay FULL
    * (uncapped), so the score never inflates from the cap. */
  def neighborJaccard(edges: DataFrame, maxDeg: Long = 30,
                      minCommon: Long = 2,
                      canonical: Boolean = false): DataFrame = {
    require(maxDeg >= 2, s"maxDeg below 2 centers nothing: $maxDeg")
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt() // consumers: degrees, wedges, anti
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val ctr = deg.where(col("d") <= maxDeg && col("d") >= 2)
      .select(col("src"))
    val half = e.join(ctr, Seq("src"))
    val scored = half.as("x")
      .join(half.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("u"), col("y.dst").as("w"))
      .groupBy("u", "w")
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
    val du = deg.select(col("src").as("u"), col("d").as("__du"))
    val dw = deg.select(col("src").as("w"), col("d").as("__dw"))
    scored.join(und,
        scored("u") === und("a") && scored("w") === und("b"), "left_anti")
      .join(du, Seq("u")).join(dw, Seq("w"))
      .select(col("u"), col("w"), col("n_common"),
        Timeseries.r5(col("n_common").cast("double")
          / (col("__du") + col("__dw") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** HITS hubs and authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) over a DIRECTED edge list —
    * the two-sided centrality for bipartite interaction graphs (buyers →
    * products, queries → documents): a node is a good authority when good
    * hubs point at it, a good hub when it points at good authorities.
    * Fixed `iters` synchronous rounds, each side L1-normalized per round
    * (a deterministic contract an unrolled-SQL replay can mirror; the
    * textbook L2 norm adds a sqrt for no ranking difference). Returns
    * (node, role ∈ {hub, authority}, score) with r5 rounding.
    *
    * Scale: each half-round is ONE O(E) equi-join with the O(V) score
    * frame plus a partial-aggregable sum — the family's Pregel-as-shuffle
    * shape; the normalizer is a broadcast 1-row frame. Scores
    * localCheckpoint per round so lineage stays flat. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"hits needs >= 1 iteration: $iters")
    val e = edges.select(col("src"), col("dst")).distinct().ckpt()
    def normalize(df: DataFrame, c: String): DataFrame = {
      val s = df.agg(sum(col(c)).as("__s"))
      df.crossJoin(broadcast(s))
        .select(col("node"), (col(c) / col("__s")).as(c))
        .ckpt()
    }
    var h = e.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0)).ckpt()
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = normalize(
        e.join(h, e("src") === h("node"))
          .groupBy(e("dst").as("node")).agg(sum(col("h")).as("a")), "a")
      h = normalize(
        e.join(a, e("dst") === a("node"))
          .groupBy(e("src").as("node")).agg(sum(col("a")).as("h")), "h")
    }
    h.select(col("node"), lit("hub").as("role"),
        Timeseries.r5(col("h")).as("score"))
      .unionAll(a.select(col("node"), lit("authority").as("role"),
        Timeseries.r5(col("a")).as("score")))
  }

  /** [[hits]] over PRE-DEDUPLICATED directed edges the ingest pipeline
    * staged in BOTH bucket orientations — `eBySrc` bucketed by `src`,
    * `eByDst` bucketed by `dst`, same (src, dst) edge set ([[graft.io
    * .Sinks.writeBucketed]]): the authority half-round joins on src and
    * the hub half-round on dst, so ONE layout cannot serve both
    * Exchange-free — the staged twin layouts can (the score frames, O(V),
    * shuffle to meet the buckets; PlanSpec pins no Exchange on either
    * edge input). No per-run derivation join, no E-sized distinct, no
    * edge checkpoint. Output is hash-identical to [[hits]] over the
    * matching edge list. */
  def hitsBucketed(eBySrc: DataFrame, eByDst: DataFrame,
                   iters: Int = 3): DataFrame = {
    require(iters >= 1, s"hits needs >= 1 iteration: $iters")
    // persist keeps each bucketed scan's HashPartitioning on the cached
    // blocks — rounds re-read memory, not parquet
    val es = eBySrc.select(col("src"), col("dst")).persist()
    val ed = eByDst.select(col("src"), col("dst")).persist()
    def normalize(df: DataFrame, c: String): DataFrame = {
      val s = df.agg(sum(col(c)).as("__s"))
      df.crossJoin(broadcast(s))
        .select(col("node"), (col(c) / col("__s")).as(c))
        .ckpt()
    }
    var h = es.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0)).ckpt()
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = normalize(
        es.join(h, es("src") === h("node"))
          .groupBy(es("dst").as("node")).agg(sum(col("h")).as("a")), "a")
      h = normalize(
        ed.join(a, ed("dst") === a("node"))
          .groupBy(ed("src").as("node")).agg(sum(col("a")).as("h")), "h")
    }
    es.unpersist(); ed.unpersist()
    h.select(col("node"), lit("hub").as("role"),
        Timeseries.r5(col("h")).as("score"))
      .unionAll(a.select(col("node"), lit("authority").as("role"),
        Timeseries.r5(col("a")).as("score")))
  }

  /** Degree assortativity coefficient (Newman, "Assortative mixing in
    * networks", Phys. Rev. Lett. 2002): the Pearson correlation of
    * endpoint degrees over the BIDIRECTED edge list — positive means hubs
    * link to hubs (social graphs), negative means hubs link to leaves
    * (the web, co-purchase graphs). One summary row:
    * (n_edges, assortativity).
    *
    * All five correlation sums are exact integers (degrees are counts;
    * products in 38-digit decimals), so the single final expression is
    * the only float site — r5-rounded, engine-identical. Plan: one degree
    * aggregation, two V-sized joins back to the edges, one global
    * partial-aggregable sum — O(E), no window, nothing collected. */
  def assortativity(edges: DataFrame,
                    canonical: Boolean = false): DataFrame = {
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt() // degrees + both endpoint joins
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val xy = e
      .join(deg.select(col("src"), col("d").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("y")), Seq("dst"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val (n, sx, sy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"))
    val (sxy, sxx, syy) = (col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    val num = n * sxy - sx * sy
    val den = sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    s.select((col("n") / 2).cast("long").as("n_edges"),
      Timeseries.r5(when(den === 0.0, null).otherwise(num / den))
        .as("assortativity"))
  }

  /** Newman modularity of a community assignment (Newman & Girvan,
    * "Finding and evaluating community structure in networks", Phys. Rev.
    * E 2004): per community c, q_c = e_c/m − (d_c/2m)², where m counts
    * undirected edges, e_c the intra-community edges and d_c the summed
    * degree; Σ q_c is the partition's modularity Q. The quality gauge for
    * [[labelPropagation]]'s output — communities are only as good as the
    * Q they achieve. Returns (community, n_nodes, e_intra, d_tot, q).
    *
    * All counts are exact BIGINTs; q is two divisions and one multiply at
    * ONE rounding site. Plan: two vocabulary-sized joins of the edge list
    * against the label frame (labels are V-sized), partial-aggregable
    * counts, m broadcast as a 1-row frame — nothing beyond O(E) moves.
    *
    * `canonical = true` asserts `edges` is ALREADY the deduplicated
    * undirected (a ≤ b) pair list — typically the frame the caller also
    * fed [[labelPropagation]] — and skips this function's own
    * canonicalize + localCheckpoint. That matters when composing: each
    * localCheckpoint of an E-sized frame is NON-EVICTABLE storage
    * (truncated lineage cannot be recomputed), and stacking three copies
    * (caller's, LPA's, this one's) starves execution memory at scale —
    * the sf10 OOM that motivated the flag. */
  def modularity(edges: DataFrame, labels: DataFrame,
                 canonical: Boolean = false): DataFrame = {
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt() // consumers: m, intra, degrees
    val m = und.agg(count(lit(1)).as("m"))
    val la = labels.select(col("node").as("a"), col("community").as("ca"))
    val lb = labels.select(col("node").as("b"), col("community").as("cb"))
    // ONE E⋈V⋈V label join feeds BOTH per-community sums: each edge emits
    // its two endpoint communities (an endpoint in c adds 1 to c's degree
    // total), carrying an intra flag that both endpoints of an
    // intra-community edge set — so Σ flag = 2·e_intra exactly. This
    // replaces the former separate intra join + per-node degree
    // aggregation (two more E-sized shuffles) with one join + one
    // partial-aggregable pass.
    val endpoints = und.join(la, Seq("a")).join(lb, Seq("b"))
      .select(explode(array(col("ca"), col("cb"))).as("community"),
        when(col("ca") === col("cb"), 1L).otherwise(0L).as("__intra"))
    val sums = endpoints.groupBy("community")
      .agg(count(lit(1)).as("d_tot"), (sum(col("__intra")) / 2)
        .cast("long").as("e_intra"))
    val nNodes = labels.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val half = col("d_tot").cast("double") / (lit(2) * col("m"))
    nNodes.join(sums, Seq("community"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("e_intra"),
        col("d_tot"),
        Timeseries.r5(col("e_intra").cast("double") / col("m")
          - half * half).as("q"))
  }

  /** k-core peeling over an undirected edge list (src, dst): repeatedly
    * delete nodes of degree < k (each deletion can push neighbors below k —
    * the cascade is the point), up to `rounds` synchronous rounds. Returns
    * (node, deg) — every node still carrying ≥1 edge in the peeled
    * subgraph, with its degree THERE. The k-core (Seidman, "Network
    * structure and minimum degree", Social Networks 1983) is the classic
    * dense-backbone extractor: spam/bot rings and boilerplate templates
    * concentrate in high cores, the long sparse tail peels away.
    *
    * Fixed `rounds` budget, like [[labelPropagation]]: output is a pure
    * function of (edges, k, rounds), so a fixed-unroll SQL replay
    * hash-matches. Peeling is monotone (each round only removes), so once
    * a round removes nothing the result is the true k-core and EVERY later
    * round is a no-op — the early exit below therefore never changes the
    * result vs a replay that runs all `rounds` rounds; budgets past the
    * fixpoint are free.
    *
    * Scale: each round is one O(E) partial-aggregable degree count plus
    * two semi-joins of the edge list against the O(V) survivor set —
    * the Pregel-as-shuffle shape shared by the whole family; the survivor
    * frame is what shrinks, the edge list never grows. Rounds
    * localCheckpoint so lineage stays flat; the per-round fixpoint test is
    * one count() on the frame just checkpointed (already materialized —
    * no extra job over data). Self-loops dropped, duplicate/reversed
    * edges deduplicated. */
  /** Per-node CORE NUMBERS by iterated h-index (Lü, Zhou, Zhang &
    * Stanley, "The H-index of a network node and its relation to degree
    * and coreness", Nature Communications 2016): h₀ = degree, hₖ(v) =
    * H-index of v's neighbors' hₖ₋₁ values; the sequence is monotone
    * non-increasing and converges to the coreness — the value
    * [[kCore]] answers one threshold of, for ALL k at once.
    *
    * Fixed `rounds` budget like the rest of the family: the output is a
    * pure function of (edges, rounds), monotone in rounds, and rounds
    * past the fixpoint are no-ops — so a fixed-unroll SQL replay matches
    * whether or not the budget reached convergence. The per-node H-index
    * is tie-order-insensitive (equal neighbor values contribute the same
    * h whatever their rank order), so row_number's arbitrary tie order
    * cannot leak into the result.
    *
    * Scale: each round is one O(E) join of the persisted pre-partitioned
    * edge list with the O(V) value frame, one per-node window rank over
    * E rows, one partial-aggregable max — Pregel-as-shuffle, nothing
    * collected. Self-loops dropped, duplicates/reversals deduplicated. */
  def coreness(edges: DataFrame, rounds: Int = 4,
               checkpointInterval: Int = 2,
               canonical: Boolean = false): DataFrame = {
    require(rounds >= 1, s"coreness needs >= 1 round, got $rounds")
    require(checkpointInterval >= 1,
      s"checkpointInterval must be positive, got $checkpointInterval")
    // `canonical = true`: edges is ALREADY the deduplicated a < b pair
    // list (a staged parquet layout) — skip the E-sized distinct+ckpt
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt()
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")).persist()
    var h = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("h"))
      .ckpt()
    for (i <- 1 to rounds) {
      val nb = e.join(h, e("src") === h("node"))
        .select(e("dst").as("node"), col("h").as("nh"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("nh").desc)
      h = nb.withColumn("r", row_number().over(w).cast("long"))
        .groupBy("node")
        .agg(max(when(col("nh") >= col("r"), col("r")).otherwise(0L)).as("h"))
      if (i % checkpointInterval == 0 || i == rounds) h = h.ckpt()
    }
    e.unpersist()
    h.select(col("node"), col("h").as("coreness"))
  }

  def kCore(edges: DataFrame, k: Long, rounds: Int,
            canonical: Boolean = false): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    require(rounds >= 1, s"kCore needs >= 1 round, got $rounds")
    // `canonical = true`: input is already the deduplicated a < b pair
    // list (a staged parquet layout) — skip the E-sized distinct+ckpt
    val und = if (canonical)
      edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b"))
    else edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct().ckpt()
    var e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt()
    var nEdges = e.count()
    var i = 1
    var done = nEdges == 0L
    while (i <= rounds && !done) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k)
      val next = e
        .join(keep.select(col("src").as("__keep_s")),
          col("src") === col("__keep_s"), "left_semi")
        .join(keep.select(col("src").as("__keep_d")),
          col("dst") === col("__keep_d"), "left_semi")
        .ckpt()
      val n = next.count()
      if (n == nEdges) done = true // fixpoint: the true k-core, stop early
      else { e = next; nEdges = n }
      i += 1
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }
}
