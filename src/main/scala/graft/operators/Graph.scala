package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph computation as a DataFrame loop — PageRank over an
  * edge list, the crawl-graph quality signal (Common-Crawl-style corpora
  * rank candidate pages by link authority before any text filter runs).
  *
  * Design (100 TB shape): each iteration is ONE join of the edge table
  * against the current rank vector plus ONE aggregation keyed by `dst` —
  * both shuffle on graph keys, with map-side partial aggregation doing
  * the in-degree combining before the exchange. The rank vector (|V|
  * rows, two columns) is orders of magnitude smaller than the edge table
  * at web scale; Catalyst broadcasts it when it fits, and AQE picks the
  * strategy per iteration otherwise. Lineage is cut with
  * `localCheckpoint` every iteration so 20 iterations do not compound a
  * 20-deep plan (the classic iterative-DataFrame failure mode). The
  * distributed loops hold no driver-side row data: their only actions
  * are scalar counts. Small graphs take a driver kernel ([[DriverGate]]).
  *
  * Two aggregation modes, equal up to float associativity:
  *  - `exact = false` (default, the scale path): incoming contributions
  *    combine with a plain `sum` — map-side partials, unordered,
  *    non-deterministic in the last ulps.
  *  - `exact = true` (the oracle path): contributions fold
  *    left-to-right in `src` order via `aggregate(array_sort(
  *    collect_list(...)))`, bitwise-reproducible against a DuckDB
  *    `list_reduce(list(... ORDER BY src))` mirror. Per-node state is
  *    bounded by in-degree — correct for oracle-scale graphs, and for
  *    production graphs whose max in-degree is bounded; the unordered
  *    sum is the default for exactly the hub-node reason.
  *
  * Semantics: standard damped PageRank on a weighted digraph,
  * `rank'(v) = (1-d)/N + d * Σ_{(u,v) ∈ E} rank(u) * w(u,v) / outw(u)`,
  * with dangling-node mass NOT redistributed (it leaks to the teleport
  * term — the "weak PageRank" convention; ranks then sum to < 1 when
  * dangling nodes exist, and ranking order is unaffected for the
  * connected bulk). Weights are integral (edge multiplicities), so
  * `outw` is an exact integer sum and each contribution costs exactly
  * one IEEE multiply and one divide — the property that makes the
  * oracle mirror bitwise.
  */
object Graph {

  /** PageRank over `edges` (`srcCol`, `dstCol`, integral `weightCol`).
    * Returns (node, rank) for every node appearing as source or
    * destination. `iterations` fixed (no convergence test — the oracle
    * needs a deterministic step count; callers wanting convergence wrap
    * the loop and diff successive vectors). An `exact` run on a small
    * graph computes the same fixed point on the driver ([[DriverGate]]).
    *
    * With `checkpoint = true` the returned vector is a MATERIALIZED
    * localCheckpoint (caller-owned: unpersist when done); every
    * intermediate checkpoint — superseded rank vectors, the node set,
    * the out-weighted edge frame — is released inside the loop, so a
    * 50-iteration run holds exactly one rank-vector copy at any time. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int = 5, damping: Double = 0.85,
      exact: Boolean = false, checkpoint: Boolean = false): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    DriverRank.collect(edges, srcCol, dstCol, weightCol, exact) match {
      case Some(g) => g.toFrame(DriverRank.fixed(g, iterations, damping))
      case None => pageRankDistributed(
        edges, srcCol, dstCol, weightCol, iterations, damping, exact, checkpoint)
    }
  }

  /** [[pageRank]]'s distributed loop, whatever the graph size. */
  private[graft] def pageRankDistributed(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int, damping: Double,
      exact: Boolean, checkpoint: Boolean): DataFrame = {
    val (eo0, nodes) = rankEdges(edges, srcCol, dstCol, weightCol)
    val nodesP = if (checkpoint) nodes.localCheckpoint(eager = true) else nodes
    val n = nodesP.count()
    val eo = if (checkpoint) eo0.localCheckpoint(eager = true) else eo0
    val teleport = lit((1.0 - damping) / n.toDouble)
    var ranks = nodesP.withColumn("rank", lit(1.0 / n.toDouble))
    var prev: DataFrame = null
    var i = 0
    while (i < iterations) {
      val next = rankStep(eo, nodesP, ranks, teleport, damping, exact)
      if (checkpoint) {
        val cp = next.localCheckpoint(eager = true)
        // the prior iteration's checkpoint blocks are dead the moment the
        // next vector is MATERIALIZED (eager above) — release them, or a
        // long run accumulates one rank-vector copy per iteration until
        // the context cleaner happens to notice
        if (prev != null) prev.unpersist(blocking = false)
        prev = cp
        ranks = cp
      } else ranks = next
      i += 1
    }
    if (checkpoint) {
      // the support frames are dead too once the final vector is
      // materialized; only the returned checkpoint stays caller-owned
      nodesP.unpersist(blocking = false)
      eo.unpersist(blocking = false)
    }
    ranks
  }

  /** Personalized (topic-sensitive) PageRank: teleport mass lands ONLY on
    * the `seeds` node set instead of uniformly — the crawl-frontier
    * prioritizer ("rank the web relative to these trusted pages") and
    * the similar-item expander ("what's close to this seed set in the
    * link structure"). Same per-iteration shape and cache hygiene as
    * [[pageRank]]; the seed set joins in once as the teleport column
    * (broadcast when small, which seed sets are). Nodes unreachable from
    * the seeds converge to rank 0 — that's the feature. Returns a
    * MATERIALIZED caller-owned checkpoint like `pageRank(checkpoint =
    * true)`. `exact` selects the src-ordered incoming fold, as in
    * [[pageRank]]; the driver path also needs a bounded, null-free seed
    * set in the edges' id family. */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      exact: Boolean = false): DataFrame = {
    require(iterations >= 1, "personalizedPageRank: iterations must be >= 1")
    val sameFamily = DriverRank.sameIdFamily(
      edges.select(col(srcCol)).schema.head.dataType,
      seeds.select(col(seedCol)).schema.head.dataType)
    val g = if (sameFamily) DriverRank.collect(edges, srcCol, dstCol, weightCol, exact) else None
    // distinct in the ORIGINAL seed type, as the distributed path counts them
    val seedRows = g.flatMap(_ =>
      DriverGate.collect(seeds.select(col(seedCol)).distinct(), DriverGate.RankEdges))
    (g, seedRows) match {
      case (Some(g), Some(s)) => g.toFrame(DriverRank.personalized(g, s, iterations, damping))
      case _ => personalizedPageRankDistributed(
        edges, srcCol, dstCol, weightCol, seeds, seedCol, iterations, damping, exact)
    }
  }

  /** [[personalizedPageRank]]'s distributed loop, whatever the graph size. */
  private[graft] def personalizedPageRankDistributed(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int, damping: Double, exact: Boolean): DataFrame = {
    val (eo0, nodes) = rankEdges(edges, srcCol, dstCol, weightCol)
    val s = seeds.select(col(seedCol).as("node")).distinct()
    val nSeeds = s.count()
    require(nSeeds >= 1, "personalizedPageRank: seeds must be non-empty")
    // teleport column: 1/|S| on seeds, 0 elsewhere — joined ONCE and
    // carried through every iteration's node frame
    val nodesT = nodes
      .join(broadcast(s.withColumn("__is_seed", lit(true))), Seq("node"), "left")
      .select(col("node"),
        when(col("__is_seed"), lit(1.0 / nSeeds.toDouble))
          .otherwise(lit(0.0)).as("tele"))
      .localCheckpoint(eager = true)
    val eo = eo0.localCheckpoint(eager = true)
    var ranks = nodesT.select(col("node"), col("tele").as("rank"))
      .localCheckpoint(eager = true)
    var i = 0
    while (i < iterations) {
      val next = rankStep(eo, nodesT, ranks, lit(1.0 - damping) * col("tele"), damping, exact)
        .localCheckpoint(eager = true)
      ranks.unpersist(blocking = false)
      ranks = next
      i += 1
    }
    nodesT.unpersist(blocking = false)
    eo.unpersist(blocking = false)
    ranks
  }

  /** Convergence-looped variant for production use: iterates in blocks of
    * `blockIters` (checkpointed), stopping when the max absolute rank
    * delta falls below `tol` or `maxIterations` is hit. Returns
    * (ranks, iterationsRun). The delta probe is one scalar agg — no row
    * data reaches the driver. `exact` selects the src-ordered incoming
    * fold, as in [[pageRank]] — which makes the CONVERGENCE STEP COUNT
    * deterministic too (the unordered sum's last-ulp jitter can flip a
    * delta probe sitting exactly at `tol`); the driver path replicates
    * the block/delta/step-count logic exactly (max |Δ| is
    * order-independent). */
  def pageRankConverged(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      tol: Double = 1e-6, maxIterations: Int = 50,
      damping: Double = 0.85, blockIters: Int = 5,
      exact: Boolean = false): (DataFrame, Int) =
    DriverRank.collect(edges, srcCol, dstCol, weightCol, exact) match {
      case Some(g) =>
        val (ranks, done) =
          DriverRank.converged(g, tol, maxIterations, damping, blockIters)
        (g.toFrame(ranks), done)
      case None => pageRankConvergedDistributed(
        edges, srcCol, dstCol, weightCol, tol, maxIterations, damping, blockIters, exact)
    }

  /** [[pageRankConverged]]'s distributed loop, whatever the graph size. */
  private[graft] def pageRankConvergedDistributed(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      tol: Double, maxIterations: Int, damping: Double, blockIters: Int,
      exact: Boolean): (DataFrame, Int) = {
    // the edge scaffolding (node set, out-weights) is loop-INVARIANT —
    // built ONCE rather than once per block, so the possibly-expensive
    // upstream edge pipeline runs once (g3: 2.4 s → 1.4 s)
    val (eo0, nodes0) = rankEdges(edges, srcCol, dstCol, weightCol)
    val nodes = nodes0.localCheckpoint(eager = true)
    val n = nodes.count()
    val eo = eo0.localCheckpoint(eager = true)
    val teleport = lit((1.0 - damping) / n.toDouble)
    var ranks = nodes.withColumn("rank", lit(1.0 / n.toDouble))
      .localCheckpoint(eager = true)
    var done = 0
    var converged = false
    while (!converged && done < maxIterations) {
      var cur = ranks
      var i = 0
      while (i < blockIters) {
        // checkpointed every iteration: checkpointing only at block end
        // measured slower on g3 (2.5 → 3.6 s) — the unrolled exact-mode
        // aggregate trees cost more to optimize and execute as one deep
        // action than the per-iteration materializations
        val next = rankStep(eo, nodes, cur, teleport, damping, exact)
          .localCheckpoint(eager = true)
        // release superseded in-block checkpoints (never the block start,
        // which the delta probe still needs)
        if (cur ne ranks) cur.unpersist(blocking = false)
        cur = next
        i += 1
      }
      val delta = cur.as("a")
        .join(ranks.as("b"), col("a.node") === col("b.node"))
        .agg(max(abs(col("a.rank") - col("b.rank"))).as("d"))
        .head().getDouble(0)
      ranks.unpersist(blocking = false) // superseded block start
      ranks = cur
      done += blockIters
      converged = delta < tol
    }
    nodes.unpersist(blocking = false)
    eo.unpersist(blocking = false)
    (ranks, done)
  }

  /** Advance an existing rank vector `start` by `iterations` steps over
    * `edges` — the building block for convergence loops and for
    * incremental re-ranking after an edge-table append. */
  def advance(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      start: DataFrame, iterations: Int, damping: Double = 0.85,
      exact: Boolean = false): DataFrame = {
    val (eo0, nodes0) = rankEdges(edges, srcCol, dstCol, weightCol)
    val nodes = nodes0.localCheckpoint(eager = true)
    val n = nodes.count()
    val eo = eo0.localCheckpoint(eager = true)
    val teleport = lit((1.0 - damping) / n.toDouble)
    var ranks = start
    var i = 0
    while (i < iterations) {
      val next = rankStep(eo, nodes, ranks, teleport, damping, exact)
        .localCheckpoint(eager = true)
      // release superseded checkpoints (never the caller's start vector)
      if (i > 0) ranks.unpersist(blocking = false)
      ranks = next
      i += 1
    }
    nodes.unpersist(blocking = false)
    eo.unpersist(blocking = false)
    ranks
  }

  /** The out-weighted edge frame (src, dst, w, ow) and the node set (node)
    * every rank loop iterates over, both lazy so each caller keeps its own
    * checkpoint policy. `ow` is the exact long sum of the long
    * multiplicities out of `src`. */
  private def rankEdges(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): (DataFrame, DataFrame) = {
    val e = edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    (e.join(e.groupBy("src").agg(sum("w").as("ow")), "src"), nodes)
  }

  /** One rank step: `teleport + damping * inc(v)` for every row of
    * `nodes`, where inc(v) combines `rank(u) * w / ow(u)` over the edges
    * into v — a plain `sum`, or with `exact` a left fold in (src, contrib)
    * order. `teleport` may read `nodes`' columns (the personalized `tele`). */
  private def rankStep(
      eo: DataFrame, nodes: DataFrame, ranks: DataFrame,
      teleport: Column, damping: Double, exact: Boolean): DataFrame = {
    val contribs = eo
      .join(ranks, eo("src") === ranks("node"))
      .select(col("dst"), col("src"),
        (col("rank") * col("w").cast("double") / col("ow").cast("double"))
          .as("contrib"))
    val inc =
      if (exact)
        contribs.groupBy("dst").agg(
          aggregate(
            array_sort(collect_list(struct(col("src"), col("contrib")))),
            lit(0.0),
            (acc: Column, x: Column) => acc + x.getField("contrib"))
            .as("inc"))
      else
        contribs.groupBy("dst").agg(sum("contrib").as("inc"))
    nodes
      .join(inc, nodes("node") === inc("dst"), "left")
      .select(col("node"),
        (teleport + lit(damping) * coalesce(col("inc"), lit(0.0))).as("rank"))
  }

  /** Canonical undirected simple edge list: one row per unordered pair,
    * `a < b`, loops dropped — the normal form every triangle/neighbor
    * operator below consumes. One distinct (= one shuffle on the pair). */
  def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
      least(col(srcCol), col(dstCol)).as("a"),
      greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Enumerate every triangle exactly once as an id-sorted node triple
    * (x < y < z) via the DEGREE-ORDERED wedge join — the standard
    * distributed triangle algorithm (MPC "compact-forward"): orient each
    * edge from the endpoint that is smaller in the total order
    * (degree, id), build wedges from each node's out-neighborhood, and
    * close them against the oriented edge list. Orientation by degree
    * bounds every out-neighborhood by O(√m) regardless of skew — a
    * celebrity node with 10M followers contributes wedges only through
    * its (few) higher-degree peers, where id-orientation would enumerate
    * C(10M, 2) pairs. The triangle SET is orientation-invariant, so an
    * oracle may enumerate by plain id order and match row-for-row.
    * Three shuffles total: degree agg, wedge self-join on the hinge,
    * closing join on the (v1, v2) pair. */
  def triangles(
      edges: DataFrame, srcCol: String, dstCol: String,
      checkpoint: Boolean = false): DataFrame = {
    val canon0 = canonicalEdges(edges, srcCol, dstCol)
    trianglesFromCanon(
      if (checkpoint) canon0.localCheckpoint(eager = true) else canon0,
      checkpoint)
  }

  /** [[triangles]] body over an already-materialized canonical edge
    * frame, enumerated by SORTED-ADJACENCY INTERSECTION rather than the
    * wedge self-join + closing semi-join it replaced:
    * group each node's oriented out-neighborhood into one sorted array,
    * attach both endpoints' arrays to every oriented edge, and
    * `array_intersect` them — for the (deg, id)-ordered orientation the
    * triangle {x<y<z} appears exactly once, via its lowest edge (x, y)
    * with z ∈ out(x) ∩ out(y) (y ∉ out(z) and x ∉ out(y) by
    * orientation, so no other edge can emit it). The intersection work
    * is the SAME Σ_u outdeg(u)² the wedge join paid, but it runs inside
    * one projection over |E| rows instead of materializing W wedge rows
    * through an exchange and shuffling them again for the closing join
    * — two full shuffles of the wedge set gone (guide §2.4), and the
    * per-candidate cost is an array-hash probe instead of a joined row.
    * Measured at sf0.1: the g5 enumeration job 5.8 s → sub-second; the
    * orientation bound still caps every array at O(√m) under any skew.
    * `checkpoint` materializes `oriented` when the caller's plan defeats
    * exchange reuse (the [[hopDistance]] reasoning). */
  private def trianglesFromCanon(
      canon: DataFrame, checkpoint: Boolean): DataFrame = {
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient u -> v where (deg_u, u) < (deg_v, v)
    val oriented0 = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val oriented =
      if (checkpoint) oriented0.localCheckpoint(eager = true) else oriented0
    val adj = oriented.groupBy(col("u").as("n"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    oriented
      .join(adj.select(col("n").as("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("n").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("t"))
      .select(
        col("t").getItem(0).as("x"),
        col("t").getItem(1).as("y"),
        col("t").getItem(2).as("z"))
  }

  /** Per-node triangle participation counts (nodes in ≥1 triangle).
    * One explode + one count over [[triangles]]. */
  def triangleCounts(
      edges: DataFrame, srcCol: String, dstCol: String,
      checkpoint: Boolean = false): DataFrame =
    triangles(edges, srcCol, dstCol, checkpoint)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** Link-prediction scores for every EXISTING edge: common-neighbor
    * count (= triangles through the edge) and neighborhood Jaccard
    * `cn / (deg_a + deg_b − cn)`. Reuses the degree-ordered triangle
    * enumeration rather than intersecting adjacency lists per edge —
    * at web scale the triangle set is far smaller than Σ deg(a)·deg(b)
    * over edges, and the Jaccard is one integer-fed IEEE division
    * (oracle-exact). Edges in no triangle surface with cn = 0. */
  def edgeCommonNeighbors(
      edges: DataFrame, srcCol: String, dstCol: String,
      checkpoint: Boolean = false): DataFrame = {
    val canon0 = canonicalEdges(edges, srcCol, dstCol)
    // one canonicalization feeds the degree agg, the output join, AND
    // the triangle enumeration — materialized once under checkpoint
    val canon = if (checkpoint) canon0.localCheckpoint(eager = true) else canon0
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // the three id-canonical edges of each id-sorted triple
    val tri = trianglesFromCanon(canon, checkpoint)
    val cn = tri.select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("x").as("a"), col("z").as("b")),
        struct(col("y").as("a"), col("z").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    canon
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .join(cn, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"),
        coalesce(col("cn"), lit(0L)).as("cn"))
      .withColumn("jaccard",
        col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
  }

  /** Bounded MIN-LABEL propagation — `iterations` synchronous rounds of
    * `label(n) ← min(label(n), min over in-neighbors' labels)`, labels
    * initialized to the node id. This is the fixed-round core of
    * connected components / community seeding: after k rounds every node
    * carries the smallest id reachable within k hops (the unbounded
    * fixpoint is [[connectedComponents]]' pointer jumping; the bounded form
    * is a closed form ANY engine can replay, so it sits in the hard
    * oracle gate where the convergence loop cannot).
    *
    * Scale shape per round: one equi join of the edge list against the
    * label frame (shuffle on node id) + one partial-agg MIN — the g1
    * PageRank cost model; `checkpoint` cuts the unrolled lineage the
    * same way. Undirected graphs: pass a symmetrized edge list. */
  def minLabelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, checkpoint: Boolean = false): DataFrame = {
    require(iterations >= 0,
      s"minLabelPropagation: iterations must be >= 0, got $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val eCp = if (checkpoint) e.localCheckpoint(eager = true) else e
    val nodes = eCp.select(col("src").as("node"))
      .union(eCp.select(col("dst").as("node"))).distinct()
    var labels = nodes.withColumn("label", col("node"))
    // rounds stay LAZY between periodic cuts — each round references
    // the previous labels twice (identity union + edge join), but the two
    // subtrees are identical so ReusedExchange dedups them at execution;
    // with the edge frame materialized above, a bounded-round run is ONE
    // job instead of one eager checkpoint action per round (measured on
    // g7: 6 actions → 2). Deep runs still cut lineage every `cutEvery`
    // rounds (the hits idiom) so a 50-round caller can't blow the
    // analyzer up — the cut frequency trades plan size against action
    // count, never the answer.
    val cutEvery = 8
    var lastCut: DataFrame = null
    var i = 0
    while (i < iterations) {
      val contrib = eCp.join(labels, eCp("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      labels = labels.select("node", "label").union(contrib)
        .groupBy("node").agg(min("label").as("label"))
      i += 1
      if (checkpoint && i % cutEvery == 0 && i < iterations) {
        val cp = labels.localCheckpoint(eager = true)
        if (lastCut != null) lastCut.unpersist(blocking = false)
        lastCut = cp
        labels = cp
      }
    }
    labels
  }

  /** Connected components to CONVERGENCE by min-label POINTER JUMPING —
    * the run-to-fixpoint complement of [[minLabelPropagation]]'s
    * bounded-round form, and the shape that survives high-diameter
    * graphs at scale: plain min-propagation needs DIAMETER rounds (a
    * 10⁶-long chain = 10⁶ shuffles), while adding the label-of-my-label
    * self-join each round squares the reach — O(log n) rounds on any
    * topology. Per round: one edge⋈label join (neighbor labels), one
    * label⋈label join (pointer jump — the label table is |V| rows, far
    * smaller than the edge list), one map-side-combined MIN, and one
    * changed-row count that doubles as the fixpoint test (the loop needs
    * an action per round anyway — the g6 argument). Undirected closure
    * is taken internally; labels are the component's MIN node id, exact
    * integers end to end (oracle-replayable: min reachable id is a
    * recursive-CTE or closed-form fact, never a float). Refuses to
    * return an UNCONVERGED answer — `maxRounds` exhaustion is a loud
    * require, not a silently-partial labeling, because 2·log₂(n)+2
    * rounds provably suffice (reach doubles per round) and hitting the
    * bound means the caller's maxRounds is too small, not the graph too
    * big. Every round's label frame is an eager `localCheckpoint` and
    * the superseded one is released — NOT optional here, unlike the
    * bounded loops (pageRank/minLabelPropagation reference their state
    * once per round, so an unpinned lineage grows linearly and stays
    * analyzable; this loop references `labels` FOUR times per round —
    * identity, edge join, both sides of the pointer jump — so an
    * unpinned logical plan is O(4^rounds) nodes and the ANALYZER, which
    * runs before cache substitution, hangs long before execution would);
    * nothing enters the session cache.
    * A small integral graph is labelled by the driver-side union-find
    * instead ([[DriverGate]]), which is exact by construction and never
    * consults `maxRounds` (it has no partial answer to refuse).
    * Both paths return the same (node, label) schema: ids keep the
    * coerced src∪dst input type. The returned frame is caller-owned. */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1,
      s"connectedComponents: maxRounds must be >= 1, got $maxRounds")
    DriverGate.longPairs(edges, srcCol, dstCol) match {
      case Some(pairs) =>
        val spark = edges.sparkSession
        import spark.implicits._
        val ids = DriverUnionFind.sortedIds(pairs)
        val root = DriverUnionFind.unionAll(ids, pairs)
        val nodeType = DriverGate.nodeType(edges, srcCol, dstCol)
        DriverGate.datasetOf(spark, Seq.tabulate(ids.length)(i => (ids(i), ids(root(i)))))
          .toDF("node", "label")
          .select(col("node").cast(nodeType).as("node"),
            col("label").cast(nodeType).as("label"))
      case None => connectedComponentsDistributed(edges, srcCol, dstCol, maxRounds)
    }
  }

  /** [[connectedComponents]]' distributed loop, whatever the graph size. */
  private[graft] def connectedComponentsDistributed(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val viaEdge = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val viaJump = labels.select(col("node"), col("label").as("__mid"))
        .join(labels.select(col("node").as("__mid2"), col("label").as("__jl")),
          col("__mid") === col("__mid2"))
        .select(col("node"), col("__jl").as("label"))
      val next0 = labels.select("node", "label").union(viaEdge).union(viaJump)
        .groupBy("node").agg(min("label").as("label"))
      val next = next0.localCheckpoint(eager = true)
      val changed = next.select(col("node"), col("label").as("__new"))
        .join(labels, Seq("node"))
        .filter(col("__new") =!= col("label"))
        .count()
      labels.unpersist(blocking = false)
      labels = next
      done = changed == 0L
      round += 1
    }
    require(done,
      s"connectedComponents: not converged after $maxRounds rounds — " +
        "pointer jumping needs ~2*log2(n)+2; raise maxRounds (a partial " +
        "labeling would be a WRONG answer, not an approximate one)")
    labels
  }

  /** HITS hubs & authorities (Kleinberg 1999) in the bounded-round,
    * UNNORMALIZED form that keeps every score an exact integer — the
    * same oracle argument as [[minLabelPropagation]]: k rounds are a
    * closed form any engine replays with unrolled joins, where the
    * normalized fixpoint is not. Round r:
    * `a_r(v) = Σ_{(u,v)∈E} h_{r-1}(u)`, then `h_r(u) = Σ_{(u,v)∈E}
    * a_r(v)` (the classic update order — hubs see the CURRENT round's
    * authorities). h_0 = 1. On a bipartite src→dst graph (customer→part,
    * user→domain) hubs rank the left side, authorities the right — the
    * curation use: authority-ranked domains/parts given hub-weighted
    * actors. Scale shape per round: two equi-joins of the edge list
    * against node-score frames + two partial-agg SUMs (the g1/g7 cost
    * model); scores stay exact integers (magnitudes grow ~(avg degree)^r
    * — when the conservative degree-derived worst case fits 62 bits the
    * sums run as plain BIGINTs; beyond that the loop switches to a
    * DECIMAL(38,0) path with lazy overflow asserts, since a silent
    * non-ANSI sum() wrap would be a wrong ANSWER, not a slow one — the
    * operator never refuses a config a priori, it only fails loudly on
    * ACTUAL overflow). Returns (node, hub, authority) with 0
    * for a side the node never plays. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"hits: rounds must be >= 1, got $rounds")
    // materialize the canonical edge frame ONCE: the degree guards
    // scan it twice and every round joins it twice more — with a derived
    // caller edge list (g8's orders⋈lineitem) the un-pinned form re-ran
    // that join ~6× per query. The iterative-loop localCheckpoint
    // contract from pageRank applies; blocks are ContextCleaner-reclaimed.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .localCheckpoint(eager = true)
    // OVERFLOW GUARD: scores grow up to (maxInDeg·maxOutDeg) per round,
    // and in non-ANSI mode sum(BIGINT) wraps SILENTLY — the one way this
    // operator could return a wrong answer at scale. Two cheap degree
    // aggs (map-side combined; the edge frame is scanned 2·rounds times
    // anyway) bound the worst case a priori: a_r ≤ maxIn·h_{r-1} and
    // h_r ≤ maxOut·a_r, so max score ≤ (maxIn·maxOut)^rounds — require
    // that within 62 bits or fail LOUD with the measured degrees.
    // Degree-1 graphs (scores pinned at 1) pass via the max(2,·) floor.
    val maxIn = e.groupBy("dst").agg(count(lit(1)).as("d"))
      .agg(coalesce(max("d"), lit(1L))).head().getLong(0)
    val maxOut = e.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(coalesce(max("d"), lit(1L))).head().getLong(0)
    // The static bound is deliberately CONSERVATIVE (scores may never
    // route through the max-degree node — e.g. a 2-regular cycle stays
    // at 1 forever), so a failing bound selects a slower-but-exact
    // DECIMAL(38,0) path instead of refusing: sums get ~126 bits of
    // headroom, a lazy per-round assert_true ride fails LOUD if a sum
    // ever nulls out (Spark's non-ANSI decimal-overflow signal), and
    // the final scores narrow back to BIGINT behind the same guard —
    // the caller only ever sees an exact answer or an exception.
    val bitsPerRound =
      math.log(math.max(2.0, maxIn.toDouble * maxOut.toDouble)) / math.log(2.0)
    val wide = rounds * bitsPerRound > 62.0
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def guarded(df: DataFrame): DataFrame =
      if (!wide) df
      else df.select(col("node"),
        (col("score") + coalesce(assert_true(col("score").isNotNull,
          lit(s"hits: a round-score sum overflowed DECIMAL(38,0) " +
            s"(maxIn=$maxIn maxOut=$maxOut rounds=$rounds)")),
          lit(0))).as("score"))
    var h = e.select(col("src").as("node")).distinct()
      .withColumn("score", if (wide) lit(1L).cast(dec38) else lit(1L))
    var a: DataFrame = null
    // deep round counts compound 2 joins/round of LOGICAL lineage — task
    // serialization stack-overflows near ~50 rounds, so cut the lineage
    // every few rounds with an eager localCheckpoint, releasing the
    // superseded cut (the pageRank idiom); shallow runs skip this
    // entirely and stay one lazy plan
    val cutEvery = 8
    var lastCut: DataFrame = null
    var r = 0
    while (r < rounds) {
      a = guarded(e.join(h, e("src") === h("node"))
        .groupBy(col("dst").as("node")).agg(sum("score").as("score"))
        .select(col("node"), col("score")))
      h = guarded(e.join(a, e("dst") === a("node"))
        .groupBy(col("src").as("node")).agg(sum("score").as("score"))
        .select(col("node"), col("score")))
      r += 1
      if (rounds > 2 * cutEvery && r % cutEvery == 0 && r < rounds) {
        val cut = h.localCheckpoint(eager = true)
        if (lastCut != null) lastCut.unpersist(blocking = false)
        lastCut = cut
        h = cut
      }
    }
    def narrowed(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (!wide) c
      else (c + coalesce(assert_true(abs(c) <= lit(Long.MaxValue).cast(dec38),
        lit("hits: final score exceeds BIGINT — lower rounds")),
        lit(0))).cast("long")
    val zero = lit(0L).cast(
      if (wide) dec38 else org.apache.spark.sql.types.LongType: org.apache.spark.sql.types.DataType)
    val out = h.select(col("node"), col("score").as("hub"))
      .join(a.select(col("node"), col("score").as("authority")), Seq("node"), "full_outer")
      .select(col("node"),
        narrowed(coalesce(col("hub"), zero)).as("hub"),
        narrowed(coalesce(col("authority"), zero)).as("authority"))
    if (lastCut == null) out
    else {
      // materialize the small per-node result, then release the cut —
      // the returned frame is caller-owned (unpersist when done)
      val fin = out.localCheckpoint(eager = true)
      lastCut.unpersist(blocking = false)
      fin
    }
  }

  /** Multi-source BFS hop distance — the graph-neighborhood expander
    * (crawl frontiers, "within-k-hops of the seed set" retrieval,
    * contamination blast radius): returns `(node, dist)` for every node
    * reachable from `seeds` within `maxHops` directed hops, `dist` = the
    * MINIMUM hop count (seeds at 0). Classic frontier iteration: each
    * round joins only the CURRENT frontier against the edge list (one
    * shuffle bounded by frontier × out-degree, never the whole distance
    * vector) and anti-joins the seen set to keep newly reached nodes —
    * BFS order makes the first sighting the minimum distance, so the
    * result is exact integers with no re-relaxation. Early-exits when a
    * frontier empties (the per-round `count()` the loop needs anyway).
    *
    * With `checkpoint = true` the growing seen set and each frontier are
    * materialized `localCheckpoint`s and superseded copies are released
    * per round — the [[pageRank]] lineage-cut contract; the returned
    * frame is caller-owned (unpersist when done). */
  def hopDistance(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int,
      checkpoint: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"hopDistance: maxHops must be >= 0, got $maxHops")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    // the edge frame is re-joined EVERY round: when the caller's edge list
    // is itself a derived subtree (the g6 co-occurrence self-join), each
    // frontier expansion would re-run that derivation — materialize it
    // once alongside the distance vector (the g1 pageRank contract)
    val e = if (checkpoint) e0.localCheckpoint(eager = true) else e0
    val seed0 = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
    var dist = if (checkpoint) seed0.localCheckpoint(eager = true) else seed0
    var frontier = dist
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
      val fresh0 = reached.join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(h + 1L))
      val fresh = if (checkpoint) fresh0.localCheckpoint(eager = true) else fresh0
      if (fresh.isEmpty) {
        if (checkpoint) fresh.unpersist(blocking = false)
        done = true
      } else {
        // only the FRONTIER needs eager materialization (the next
        // round's join re-reads it) — the accumulated dist is a lazy
        // UNION of already-materialized frontier checkpoints, so
        // re-checkpointing it each round just re-serialized the same
        // rows maxHops times (one eager action per round gone; the
        // union tree is ≤ maxHops shallow)
        dist = dist.union(fresh)
        frontier = fresh
        h += 1
      }
    }
    dist
  }
}
