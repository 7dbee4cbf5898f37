package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MatOps

/** Link-graph centrality — the crawl-prioritization signal behind every
  * web-scale corpus (Common Crawl ranks hosts by harmonic centrality /
  * PageRank before fetching; C4-era pipelines reuse those ranks as a
  * source-quality prior). The operator is the classic damped power
  * iteration over an edge list, expressed as a DataFrame fixpoint loop.
  *
  * Determinism: ranks live on a 2⁻⁴⁰ fixed-point integer grid. Every
  * per-edge contribution is an INTEGER division `rank div outdeg`, the
  * damping is integer `(85·s) div 100`, and all sums are int64 — so the
  * result is bit-identical under any partitioning and any engine (a
  * float power iteration would depend on reduction order at every
  * round). Multi-edges are kept: a (src,dst) pair occurring t times
  * contributes t shares — the weighted-random-surfer reading of a
  * transition log. Dangling nodes leak their mass (the standard
  * simplification; total mass decays toward the teleport floor instead
  * of being redistributed — identical on both engines).
  *
  * Plan at 100 TB: the edge list is degree-annotated ONCE and cached
  * pre-partitioned on `src`, so each iteration pays one shuffle of the
  * N-row rank table to the edge partitioning, one map-side-combined
  * aggregate of contributions on `dst`, and one left join back to the
  * (tiny relative to edges) node table — the edge corpus itself never
  * re-shuffles. Iterations use [[Materialize.cutLoop]]: eager truncation
  * so k rounds stack neither lineage nor pinned generations (the
  * discipline of [[Dedup.connectedComponents]]).
  */
object Graph {

  /** Fixed-point grid: total rank mass starts at 2^40. */
  val RankScale: Long = 1L << 40

  /** Damped PageRank over `edges(srcCol, dstCol)` (node ids: long).
    * Returns (node, rank_fp, rank) — rank_fp the exact integer rank,
    * rank its double rendering (exact: division by a power of two).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingPct > 0 && dampingPct < 100, s"dampingPct in (0,100), got $dampingPct")
    // One cut up front: the caller's edge derivation (often a window
    // over a raw event log) is consumed FOUR times below — the two node
    // projections, the degree aggregate, and the degree join — and must
    // compute once, not once per consumer.
    val slim = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .materialized
    val nodes = slim.select(col("src").as("node"))
      .union(slim.select(col("dst").as("node")))
      .distinct()
      .materialized // consumed every iteration + the driver count
    // One driver scalar (the bounded-collect class of the watermark
    // read): N sizes the teleport terms, nothing else leaves the cluster.
    val n = nodes.count()
    val initFp = RankScale / n
    val baseFp = (initFp * (100L - dampingPct)) / 100L
    val degreed = slim
      .join(slim.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(col("src"))
      .materialized // the big side: degree-annotated once, never re-shuffled
    var ranks = nodes.select(col("node"), lit(initFp).as("r"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // shuffle_hash, not sort-merge: the cached edge side would
      // otherwise re-SORT its full volume every iteration; hash-joining
      // with the rank table as build side pays only the N-row rank
      // shuffle per round (the unavoidable per-iteration exchange — the
      // checkpoint erases partitioning) and streams the edges from cache
      val inc = degreed
        .join(ranks.hint("shuffle_hash"), degreed("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      val next = nodes
        .join(inc.hint("shuffle_hash"), nodes("node") === inc("dst"), "left")
        .select(nodes("node"),
          (lit(baseFp) + expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("r"))
      ranks = Materialize.cutLoop(next, prev)
      prev = Some(ranks)
    }
    ranks.select(col("node"), col("r").as("rank_fp"),
      (col("r").cast("double") / lit(RankScale.toDouble)).as("rank"))
  }

  /** Personalized PageRank: the teleport mass returns to the SEED set
    * instead of spreading uniformly — the seed-expansion tool (grow a
    * curated list of high-quality domains into the neighborhood the
    * random surfer actually reaches from them; the crawl-frontier
    * prioritizer's second stage). Same integer grid, same loop
    * discipline as [[pageRank]]; the only structural change is the
    * teleport term `base·[node ∈ seeds]`, carried as a boolean on the
    * node table (one broadcast-joined flag, fixed for the whole run).
    * Nodes the surfer cannot reach stay at rank 0 and are dropped from
    * the output. Returns (node, is_seed, rank_fp, rank).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String = "node",
                           iters: Int = 5, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val slim = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .materialized
    val seedSet = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    val nodes = slim.select(col("src").as("node"))
      .union(slim.select(col("dst").as("node")))
      .union(seedSet)
      .distinct()
      .join(seedSet.withColumn("_s", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("_s"), lit(false)).as("is_seed"))
      .materialized // flag fixed for the run; consumed every iteration
    val s = nodes.where(col("is_seed")).count()
    require(s > 0, "personalizedPageRank needs a non-empty seed set")
    val initFp = RankScale / s
    val baseFp = (initFp * (100L - dampingPct)) / 100L
    val degreed = slim
      .join(slim.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(col("src"))
      .materialized
    var ranks = nodes.select(col("node"),
      when(col("is_seed"), lit(initFp)).otherwise(lit(0L)).as("r"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val inc = degreed
        .join(ranks.hint("shuffle_hash"), degreed("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      val next = nodes
        .join(inc.hint("shuffle_hash"), nodes("node") === inc("dst"), "left")
        .select(nodes("node"),
          (when(col("is_seed"), lit(baseFp)).otherwise(lit(0L))
            + expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("r"))
      ranks = Materialize.cutLoop(next, prev)
      prev = Some(ranks)
    }
    nodes.join(ranks, Seq("node"))
      .where(col("r") > 0)
      .select(col("node"), col("is_seed"), col("r").as("rank_fp"),
        (col("r").cast("double") / lit(RankScale.toDouble)).as("rank"))
  }

  /** Triangle counting by degree orientation (the MapReduce-era
    * Suri–Vassilvitskii / Cohen design, the standard at graph scale):
    * simplify to undirected distinct edges (self-loops out, (u,v)≡(v,u)),
    * then orient every edge from its lower-(degree, node) endpoint to
    * the higher — each triangle survives as exactly ONE directed wedge
    * (a→b, a→c) closed by (b→c), and — the scale property — every
    * node's out-degree in the oriented graph is O(√|E|), so the wedge
    * self-join fans out Σ outdeg² ≤ |E|^1.5 instead of the Σ deg² of a
    * naive orientation (one celebrity node with degree d would
    * otherwise mint d² wedges). Returns one row:
    * (n_nodes, n_edges, n_triangles, max_degree).
    *
    * Plan: degree table = one aggregate over edge endpoints; orientation
    * is a projection over the degree-joined edges (two broadcast-or-
    * shuffle joins of a 2-column table); wedges = one self-join on the
    * low endpoint; closure = one join of wedges against oriented edges;
    * the count is a map-side-combined scalar. Everything is slim
    * (8-byte pairs), nothing is ever corpus-quadratic.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .materialized // consumed by the degree aggregate AND the orientation join
    val deg = raw.select(col("u").as("node")).union(raw.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .materialized // joined twice (both endpoints) + the max aggregate
    // orient from lower (deg, node) to higher: a total order, so every
    // undirected edge gets exactly one direction
    val oriented = raw
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("hi"))
      .materialized // consumed by both wedge legs AND the closure probe
    // per-side column names: three self-join legs over one cached plan
    val wl = oriented.select(col("lo").as("_wa"), col("hi").as("b"))
    val wr = oriented.select(col("lo").as("_wa2"), col("hi").as("c"))
    val wedges = wl.join(wr, col("_wa") === col("_wa2"))
      .where(col("b") < col("c"))
      .select(col("b"), col("c"))
    // the wedge pair (b, c) is ordered by NODE id while the edge is
    // ordered by (deg, node) — NORMALIZE the probe to node order so the
    // closure is one hash EQUI-join. The r13 form probed both
    // orientations through an OR condition, which plans as a
    // BroadcastNestedLoopJoin: O(|wedges|·|edges|) interpreted predicate
    // evaluations — the accidental near-cartesian of guide §3, and the
    // operator's real scale risk (measured 4.2 s at sf0.1 vs 1.1 s as
    // an equi-join). Each undirected edge appears exactly once in
    // `oriented`, so the normalized equi-join matches the identical row
    // set: n_triangles is unchanged.
    val probe = oriented.select(least(col("lo"), col("hi")).as("_pl"),
      greatest(col("lo"), col("hi")).as("_ph"))
    val closed = wedges.join(probe,
      col("b") === col("_pl") && col("c") === col("_ph"))
    raw.agg(count(lit(1)).as("n_edges")).crossJoin(
      deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_degree")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("max_degree"))
  }

  /** Per-node local clustering coefficient — the node-grain refinement
    * of [[triangleCount]]: cc(v) = 2·t(v) / (deg(v)·(deg(v)−1)), t(v)
    * the triangles through v (Watts & Strogatz 1998). The spam-farm /
    * cohesion feature per page, where the global triangle count is the
    * corpus summary.
    *
    * Same degree-oriented wedge join as [[triangleCount]] (each
    * triangle closes exactly once), then each closed triangle credits
    * its THREE corners via a bounded 3-explode and one count
    * aggregate. All counts int64; cc is one IEEE division. Emits
    * (node, deg, triangles, cc) for deg ≥ 2, ordered by node.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .materialized
    val deg = raw.select(col("u").as("node")).union(raw.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .materialized
    val oriented = raw
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("hi"))
      .materialized
    val wl = oriented.select(col("lo").as("_wa"), col("hi").as("b"))
    val wr = oriented.select(col("lo").as("_wa2"), col("hi").as("c"))
    val wedges = wl.join(wr, col("_wa") === col("_wa2"))
      .where(col("b") < col("c"))
      .select(col("_wa").as("wa"), col("b"), col("c"))
    // node-order-normalized closure equi-join (see [[triangleCount]])
    val probe = oriented.select(least(col("lo"), col("hi")).as("_pl"),
      greatest(col("lo"), col("hi")).as("_ph"))
    val closed = wedges.join(probe,
      col("b") === col("_pl") && col("c") === col("_ph"))
    val tri = closed
      .select(explode(array(col("wa"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("triangles"))
      .where(col("deg") >= 2)
      .select(col("node"), col("deg"), col("triangles"),
        ((col("triangles") * 2).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double")).as("cc"))
      .orderBy(col("node"))
  }

  /** Breadth-first reachability layers from a seed set over a DIRECTED
    * edge list — the crawl-depth audit (how many hops from the curated
    * seed hosts does the frontier reach each page?) and the
    * link-distance feature crawl schedulers prioritize by. `dist(n)` is
    * the first round the expansion reaches `n`; layers are SETS, so the
    * result is independent of partitioning and arc multiplicity
    * (the edge list is distinct-ed up front — reachability needs each
    * arc once).
    *
    * Plan: the distinct edge list is cached pre-partitioned on `src`
    * once; each round pays one shuffle-hash join of the (small)
    * frontier against it, one distinct on the discovered endpoints, and
    * one anti-join against the visited set — never a corpus-sized
    * rescan. Rounds use [[Materialize.cutLoop]] (eager truncation +
    * release of the dead generation, the
    * [[Dedup.connectedComponents]] discipline), and one driver scalar
    * per round (the frontier count) stops the loop as soon as a layer
    * comes back empty. Returns (node, dist), dist in [0, maxDepth].
    */
  def bfsLayers(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String = "node",
                maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val slim = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .materialized // probed by every round's frontier join
    var visited = Materialize.cutLoop(
      seeds.select(col(seedCol).cast("long").as("node")).distinct()
        .withColumn("dist", lit(0)),
      None)
    var frontier = visited
    var d = 1
    var done = false
    while (d <= maxDepth && !done) {
      val next = slim
        .join(frontier.hint("shuffle_hash"), slim("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(d))
      val newFrontier = Materialize.cutLoop(next, None)
      // the bounded-driver-scalar class (one count per round, like the
      // CC fixpoint's convergence check): stop as soon as a layer is dry
      if (newFrontier.count() == 0L) {
        Materialize.release(newFrontier)
        done = true
      } else {
        val newVisited = Materialize.cutLoop(visited.union(newFrontier), Some(visited))
        if (!(frontier eq visited)) Materialize.release(frontier)
        frontier = newFrontier
        visited = newVisited
      }
      d += 1
    }
    // the final frontier's rows live on in the checkpointed visited set
    if (!(frontier eq visited)) Materialize.release(frontier)
    // the operator is eager by here (every generation localCheckpointed),
    // so its one persist cut — the cached edge list — is dead; releasing
    // it keeps multi-operator sessions from accumulating pinned blocks
    // (the ADVICE.md operator-local-persist contract)
    Materialize.release(slim)
    visited
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection on the undirected transition graph: every node starts as
    * its own label; each round every node adopts its neighbors' MODE
    * label (count desc, then lowest label — a total order, so the whole
    * run is deterministic under any partitioning, where classic LPA's
    * random tie-break makes results unreproducible). Communities are
    * the label groups after `iters` rounds. Synchronous LPA can
    * oscillate on bipartite structure; a fixed round count plus
    * deterministic ties makes the output a well-defined measurement
    * either way (the PageRank fixed-iteration posture, not a
    * convergence promise).
    *
    * Plan: symmetrized distinct edges cached pre-partitioned on `src`
    * once; each round is one shuffle-hash join of the N-row label table
    * to the edges, one (node, label) count aggregate (map-side
    * combined), and one per-node argmax via a `max(struct)` — no rank
    * window, no sort. [[Materialize.cutLoop]] per round. Returns
    * (node, label, community_size).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val und = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .materialized // probed by every round's label join
    var labels = Materialize.cutLoop(
      sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")),
      None)
    var prev: Option[DataFrame] = Some(labels)
    for (_ <- 1 to iters) {
      // neighbor-mode via max(struct(count, -label)): lexicographic max
      // picks the highest count, then (negated) the lowest label —
      // every node in sym has >= 1 neighbor, so no row is lost
      val next = sym
        .join(labels.hint("shuffle_hash"), sym("dst") === labels("node"))
        .groupBy(sym("src"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (lit(0L) - col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (lit(0L) - col("m.nl")).as("label"))
      labels = Materialize.cutLoop(next, prev)
      prev = Some(labels)
    }
    // labels is checkpointed — the returned plan no longer reads sym, so
    // the edge cache can be released (same contract as bfsLayers)
    Materialize.release(sym)
    labels.withColumn("community_size",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("label"))))
  }

  /** k-core decomposition (fixed k): iteratively peel nodes of degree
    * < k from the undirected graph until every survivor has >= k
    * surviving neighbors (Seidman 1983) — the link-graph density filter
    * behind spam-farm detection and crawl-frontier pruning (a page
    * whose neighborhood survives the 4-core sits in a densely
    * interlinked region; isolated chains and pendant trees peel away).
    *
    * Peeling is MONOTONE (the live edge set only shrinks) and the
    * surviving set after any round is partitioning-independent, so the
    * fixpoint — and every truncated prefix of it — is deterministic:
    * the driver row (`graph_kcore`) runs the same bounded number of
    * rounds the DuckDB oracle unrolls, and early-stopping at an earlier
    * fixpoint cannot change the answer. Returns (node, degree) for the
    * surviving core, degree counted within the core.
    *
    * Plan: each round is one degree aggregate over the live edges
    * (map-side combined; vocabulary-sized output) and two semi-joins
    * filtering the edge list against the surviving node set — AQE
    * broadcasts the node side while it is small, shuffle-joins at web
    * scale. Rounds use [[Materialize.cutLoop]] (eager truncation +
    * release of the dead generation); one driver scalar per round (the
    * live-edge count, the CC convergence-check class) stops the loop at
    * the fixpoint.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val und = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    var live = Materialize.cutLoop(
      und.union(und.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
      None)
    var prev: Option[DataFrame] = Some(live)
    var n = live.count()
    var done = n == 0L
    var round = 0
    while (round < maxRounds && !done) {
      // both semi-joins consume the surviving node set — pin it for the
      // round (one degree aggregate, not two) and release it once the
      // new edge generation is materialized
      val keep = Materialize.cutLoop(
        live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k)
          .select(col("src").as("node")),
        None)
      val next = live
        .join(keep, live("src") === keep("node"), "left_semi")
        .join(keep.select(col("node").as("node2")),
          live("dst") === col("node2"), "left_semi")
      live = Materialize.cutLoop(next, prev)
      prev = Some(live)
      Materialize.release(keep)
      val m = live.count()
      done = m == n // fixpoint: peeling removed nothing this round
      n = m
      round += 1
    }
    live.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /** Fixed-point grid for HITS scores: each rescale renormalizes the
    * total authority (resp. hub) mass to 2^20. */
  val HitsScale: Long = 1L << 20

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * list — the companion centrality to [[pageRank]]: a good HUB links
    * to many good authorities, a good AUTHORITY is linked from many
    * good hubs. In a crawl corpus the authority score finds the
    * canonical/original pages (the ones mirrors point AT — a
    * dedup-canonicalization prior), the hub score finds link farms and
    * index pages (downweighted as boilerplate carriers).
    *
    * Determinism: scores live on a 2⁻²⁰ fixed-point grid. Each
    * half-iteration is an int64 sum over in-/out-edges (multi-edges
    * kept: t parallel links contribute t shares) followed by an integer
    * renormalization `(s · 2^20) div Σs` — HITS diverges without the
    * per-round normalization, and doing it as one integer division
    * against the global sum keeps every score bit-identical under any
    * partitioning. The global sum is read off the checkpointed
    * half-step mass table with a BOUNDED driver collect (one int64 —
    * the k-means-centroid class) and folded into the renormalization
    * as a literal: the earlier crossJoin(one-row agg) form made the
    * broadcast-NLJ build job re-execute the half-step's edge join+agg a
    * second time per half-step. Grid headroom: pre-rescale sums are bounded by
    * |E| · 2^20 and the rescale multiplies by 2^20 again, so int64
    * holds through |E| ≈ 8·10⁶ per partition-independent total; beyond
    * that, widen the accumulator to DECIMAL(38,0) — the grid itself
    * (and the oracle replay) is unchanged.
    *
    * Plan at 100 TB: identical shape to [[pageRank]] — the edge list is
    * cached once pre-partitioned, each half-round pays one N-row score
    * shuffle (shuffle_hash against the cached edges, never re-sorting
    * them) plus one map-side-combined aggregate; rounds use
    * [[Materialize.cutLoop]] so k iterations stack neither lineage nor
    * pinned generations. Returns (node, auth_fp, hub_fp, authority,
    * hub) — the doubles are exact renderings (division by 2^20).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val slim = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .materialized
    val nodes = slim.select(col("src").as("node"))
      .union(slim.select(col("dst").as("node")))
      .distinct()
      .materialized // consumed twice per iteration
    val srcPart = slim.repartition(col("src")).materialized
    val dstPart = slim.repartition(col("dst")).materialized
    var hubs = nodes.select(col("node"), lit(HitsScale).as("h"))
    var auths: DataFrame = null
    var prevH: Option[DataFrame] = None
    var prevA: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // Renormalization scalar as a DRIVER-HELD LITERAL (guide §1.2 —
      // the perceptron/centroid discipline): the crossJoin(agg) form
      // executed the half-step's join+agg subtree TWICE per half-step —
      // once inside the broadcast-NLJ's build job for the one-row sum,
      // once in the main pass — so each iteration paid 4 edge-join+agg
      // executions instead of 2. Checkpointing the raw mass table once,
      // reading its one-row total with a bounded collect (a single
      // int64 — the k-means-centroid bounded-collect class), and
      // folding it into the renormalization expression as a literal
      // halves the heavy work. `(s * Scale) div t` is evaluated with
      // the identical int64 operands, so every score is bit-identical.
      // authority half-step: pull hub mass along in-edges, renormalize
      val araw = Materialize.cutPinned(srcPart
        .join(hubs.hint("shuffle_hash"), srcPart("src") === hubs("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("s")))
      // coalesce(.., 1): only reachable on an EMPTY edge set, where
      // `nodes` is empty too and no row ever divides by it
      val at = araw.agg(coalesce(sum(col("s")), lit(1L))).collect()(0).getLong(0)
      val nextA = nodes
        .join(araw.hint("shuffle_hash"), nodes("node") === araw("dst"), "left")
        .select(nodes("node"),
          expr(s"(coalesce(s, 0L) * ${HitsScale}L) div ${at}L").as("a"))
      auths = Materialize.cutLoop(nextA, prevA)
      prevA = Some(auths)
      Materialize.release(araw)
      // hub half-step: pull the fresh authority mass along out-edges
      val hraw = Materialize.cutPinned(dstPart
        .join(auths.hint("shuffle_hash"), dstPart("dst") === auths("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("s")))
      val ht = hraw.agg(coalesce(sum(col("s")), lit(1L))).collect()(0).getLong(0)
      val nextH = nodes
        .join(hraw.hint("shuffle_hash"), nodes("node") === hraw("src"), "left")
        .select(nodes("node"),
          expr(s"(coalesce(s, 0L) * ${HitsScale}L) div ${ht}L").as("h"))
      hubs = Materialize.cutLoop(nextH, prevH)
      prevH = Some(hubs)
      Materialize.release(hraw)
    }
    // shuffle_hash: both sides are N-row checkpoints — SMJ would sort
    // both for a one-shot stitch
    auths.join(hubs.hint("shuffle_hash"), Seq("node"))
      .select(col("node"), col("a").as("auth_fp"), col("h").as("hub_fp"),
        (col("a").cast("double") / lit(HitsScale.toDouble)).as("authority"),
        (col("h").cast("double") / lit(HitsScale.toDouble)).as("hub"))
  }

  /** HyperBall (Boldi & Vigna 2013) — approximate neighborhood
    * function and harmonic centrality, THE web-scale centrality recipe
    * (Common Crawl's host ranking runs exactly this): give every node a
    * HyperLogLog sketch of {itself}, then for `rounds` iterations merge
    * each node's sketch with its in-neighbors' — after round r, node
    * v's sketch estimates |ball(v, r)| = #nodes within distance r
    * ALONG edges INTO v. Exact all-pairs BFS is O(N·E); HyperBall is
    * O(rounds · E) with 256 bytes of state per node, which is why it is
    * the only centrality that runs on a hundred-billion-edge graph.
    *
    * Determinism: the sketch is the md5-coin register layout of
    * [[graft.plans.HllRegisters]] (register = pure function of the
    * coin; merge = elementwise max — order- and partitioning-free), so
    * every register in every round replays bit-for-bit in the DuckDB
    * oracle. Registers are carried SPARSE — a (node, j, mr) table, one
    * row per non-zero register, never a dense 2^p grid — so per-round
    * cost is one edge equi-join + one (node, j) max aggregate:
    * |E|·(avg non-zero registers) rows, map-side combined. Rounds use
    * [[Materialize.cutLoop]]. Returns one row per (node, r ∈ 0..rounds)
    * with the register summary (v_zero, s_scaled) from which the
    * caller derives the raw / linear-counting estimate (the
    * `active_users_hll` recipe) and the harmonic sum
    * Σ_r (|ball(r)|−|ball(r−1)|)/r.
    */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
                rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val slim = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .materialized // probed every round
    val nodes = slim.select(col("src").as("node"))
      .union(slim.select(col("dst").as("node")))
      .distinct()
    // seed sketch = {node} itself: one register per node from its coin
    var regs = nodes
      .select(col("node"),
        graft.plans.Md5Prefix.of(concat(lit("hb:"), col("node")), 14)
          .as("_coin"))
      .select(col("node"),
        expr("_coin >> 48").as("j"),
        expr("CASE WHEN (_coin & 281474976710655L) = 0 THEN 49L" +
          " ELSE 49L - length(bin(_coin & 281474976710655L)) END").as("mr"))
    regs = Materialize.cutLoop(regs, None)
    def summarize(r: DataFrame, round: Int): DataFrame = r
      .groupBy(col("node"))
      .agg(count(lit(1)).as("_cnt"),
        sum(expr("shiftleft(1L, cast(49 - mr as int))")).as("_sp"))
      .select(col("node"), lit(round).as("r"),
        (lit(256L) - col("_cnt")).as("v_zero"),
        (col("_sp") + (lit(256L) - col("_cnt")) * lit(1L << 49)).as("s_scaled"))
    // each summary must be PINNED (eager truncating cut) before the
    // loop's next cutLoop releases the register generation its lazy
    // plan would otherwise re-read — the released-checkpoint trap
    var out = Materialize.cutPinned(summarize(regs, 0))
    var prev: Option[DataFrame] = Some(regs)
    for (round <- 1 to rounds) {
      val contrib = slim
        .join(regs.hint("shuffle_hash"), slim("src") === regs("node"))
        .select(col("dst").as("node"), col("j"), col("mr"))
      val next = contrib.union(regs)
        .groupBy(col("node"), col("j")).agg(max(col("mr")).as("mr"))
      regs = Materialize.cutLoop(next, prev)
      prev = Some(regs)
      out = out.unionByName(Materialize.cutPinned(summarize(regs, round)))
    }
    // every consumer of the edge cache and of the final register
    // generation has materialized (all summaries are pinned cuts)
    Materialize.release(regs)
    Materialize.release(slim)
    out
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * (source out-degree, target in-degree) over directed edges — the
    * one-number structural health check of a link graph (organic webs
    * are mildly DISassortative, r < 0: hubs point at leaves; a
    * link-farm mesh of mutually-linked hubs drives r positive, which
    * is why the metric sits next to [[reciprocity]] in a spam audit).
    *
    * Two degree aggregates + two equi-joins annotate each edge, then
    * ONE six-sum aggregate (n, Σx, Σy, Σxy, Σx², Σy² — all exact
    * int64) feeds the closed-form correlation; the only floats are the
    * final fixed-order divisions and two IEEE sqrts, replayed
    * identically by the oracle. Cost: |E| map + two shuffles on node
    * keys, one row out at any scale.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = Materialize.cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val od = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val ind = e.groupBy(col("dst")).agg(count(lit(1)).as("ind"))
    e.join(od, Seq("src")).join(ind, Seq("dst"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("outd")).as("_sx"), sum(col("ind")).as("_sy"),
        sum(col("outd") * col("ind")).as("_sxy"),
        sum(col("outd") * col("outd")).as("_sx2"),
        sum(col("ind") * col("ind")).as("_sy2"))
      .select(col("n_edges"),
        when(
          col("n_edges") * col("_sx2") - col("_sx") * col("_sx") > 0 &&
            col("n_edges") * col("_sy2") - col("_sy") * col("_sy") > 0,
          (col("n_edges") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
            (sqrt((col("n_edges") * col("_sx2") - col("_sx") * col("_sx")).cast("double")) *
              sqrt((col("n_edges") * col("_sy2") - col("_sy") * col("_sy")).cast("double"))))
          .as("assortativity"))
  }

  /** Per-node link reciprocity: of a node's distinct out-links, how many
    * are answered by the reverse link — the classic link-spam signal
    * (organic link graphs are mostly one-directional; reciprocal-link
    * farms trade edges in pairs, so a high reciprocity ratio over a
    * non-trivial out-degree flags collusion) and, on interaction
    * graphs, the mutual-follow measure.
    *
    * Plan: dedup to distinct directed edges (self-loops dropped), then
    * ONE self equi-join on the reversed pair — (src,dst) against
    * (dst,src) — which shuffles each side once on a composite key; no
    * window, nothing quadratic (the join key is the full edge, so
    * matches are 1:1). The per-node rollup is a map-side-combined
    * aggregate. Ratio on the 2⁻²⁰ grid. Returns (node, out_edges,
    * reciprocated, recip_fp, reciprocity).
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .materialized // consumed as probe AND as the reversed build side
    val rev = e.select(col("dst").as("r_src"), col("src").as("r_dst"))
    e.join(rev, e("src") === col("r_src") && e("dst") === col("r_dst"), "left")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("out_edges"),
        sum(when(col("r_src").isNotNull, 1L).otherwise(0L)).as("reciprocated"))
      .select(col("src").as("node"), col("out_edges"), col("reciprocated"),
        expr("(reciprocated * 1048576L) div out_edges").as("recip_fp"),
        (col("reciprocated").cast("double") / col("out_edges").cast("double")).as("reciprocity"))
  }

  /** Adamic–Adar link prediction over an undirected edge list: for every
    * non-adjacent-or-adjacent node pair (a, b) sharing at least one
    * neighbor, AA(a,b) = Σ_z 1/ln(deg(z)) over the common neighbors z —
    * the classic "which links are missing" score (Adamic & Adar 2003),
    * used in crawl-frontier expansion and related-item backfill.
    *
    * Determinism: each shared neighbor's contribution is floored to the
    * 2⁻⁴⁰ fixed-point grid (`floor(2^40 / ln deg)`) and summed as int64 —
    * associative, so partitioning-independent, and the cross-engine ln()
    * ulp risk is absorbed by the grid (the [[graft.operators.Retrieval]]
    * contract). Ties in the top-k break on (node_a, node_b).
    *
    * Plan at 100 TB: the pair generation is the wedge self-join
    * `adj(z, a) ⋈ adj(z, b)` on the shared neighbor — an equi-join, never
    * a cross join — and its fan-out is degree-bounded: hubs with
    * deg > `degCap` are dropped BEFORE the join (their per-pair weight
    * 1/ln(deg) is the smallest in the graph, so this is the standard
    * cheap-and-principled truncation: a 10⁶-degree hub would otherwise
    * contribute 10¹² near-zero-weight pairs). Degree-1 neighbors generate
    * no wedge and drop out naturally. One aggregate on (a, b) with
    * map-side combine collapses the wedges; the top-k is a TakeOrdered,
    * not a global sort.
    */
  /** Newman modularity of a community assignment over an undirected
    * edge list — the "did the clustering mean anything" audit run after
    * [[labelPropagation]]: Q = Σ_c (L_c/m − (D_c/2m)²), L_c the
    * community's internal edge count, D_c its degree sum, m the total
    * edge count. Q near 0 means the partition is no better than random
    * wiring; real community structure lands 0.3–0.7 (Newman 2006).
    *
    * Exact arithmetic: per community the numerator 4m·L_c − D_c² is
    * int64 (the whole Q is Σ numerator / 4m² — one IEEE division at the
    * end), so the audit is partitioning-independent. At web scale
    * 4m·L_c can exceed int64 — swap the numerator to decimal(38,0)
    * there; the plan is unchanged.
    *
    * Plan: the edge list distincts once; degrees are one aggregate;
    * labels join onto edges twice (slim (node, label) rows — AQE
    * broadcasts while small); one aggregate per community + one 1-row
    * global. Emits per community: (label, n_nodes, internal_edges,
    * degree_sum, q_num) plus the global `q` repeated — ordered.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .materialized // edge count, degree aggregate, and the labeled join
    val lab = labels.select(col("node"), col("label")).materialized
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dSum = deg.join(lab, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val internal = und
      .join(lab.select(col("node").as("u"), col("label").as("_lu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("label").as("_lv")), Seq("v"))
      .where(col("_lu") === col("_lv"))
      .groupBy(col("_lu").as("label")).agg(count(lit(1)).as("internal_edges"))
    val m = und.agg(count(lit(1)).as("m"))
    val perC = dSum.join(internal, Seq("label"), "left")
      .na.fill(0L, Seq("internal_edges"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("internal_edges"), col("degree_sum"),
        (lit(4L) * col("m") * col("internal_edges")
          - col("degree_sum") * col("degree_sum")).as("q_num"), col("m"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    perC
      .withColumn("q", sum(col("q_num")).over(w).cast("double")
        / (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
      .select(col("label"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"), col("q_num"), col("q"))
      .orderBy(col("label"))
  }

  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 degCap: Long = 64L, topK: Int = 50): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .materialized // consumed by the degree aggregate AND both adjacency legs
    val adj = raw.select(col("u").as("z"), col("v").as("nbr"))
      .union(raw.select(col("v").as("z"), col("u").as("nbr")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    // per-neighbor contribution on the 2^-40 grid; deg >= 2 or no wedge
    val small = adj.join(deg.where(col("deg") <= degCap && col("deg") >= 2L), Seq("z"))
      .select(col("z"), col("nbr"),
        floor(lit(1099511627776.0) / log(col("deg").cast("double"))).cast("long").as("w_fp"))
      .materialized // both wedge legs read it
    val left = small.select(col("z"), col("nbr").as("node_a"), col("w_fp"))
    val right = small.select(col("z").as("z2"), col("nbr").as("node_b"))
    left.join(right, col("z") === col("z2") && col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("w_fp")).as("aa_fp"))
      .select(col("node_a"), col("node_b"), col("common_neighbors"), col("aa_fp"),
        (col("aa_fp").cast("double") / 1099511627776.0).as("aa_score"))
      .orderBy(col("aa_fp").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }

  /** k-truss peeling (Cohen 2008): run exactly `rounds` rounds of
    * [count per-edge triangle support → drop edges with
    * support < k−2] over the undirected simple graph — the
    * cohesive-subgraph extractor one notch stronger than k-core
    * (every surviving edge sits in ≥ k−2 triangles INSIDE the
    * surviving graph). A fixed round count keeps the result
    * oracle-unrollable; when the graph converges within `rounds` (the
    * fixture does) the output IS the exact k-truss, and the final
    * round's support column is the true in-truss support. Emits the
    * surviving edges (src, dst, support).
    *
    * Plan: each round is one wedge join over the CURRENT edge set
    * (edges ⋈ neighbor list twice, count per edge — the
    * [[triangleCount]] shape) + one filter; generations go through
    * [[Materialize.cutLoop]] so round r's plan is depth-1 and exactly
    * one edge-set generation is live. Support counting is the standard
    * |E|^1.5-bounded wedge pass on an oriented implementation; this
    * unoriented form is O(Σ deg(u)·deg(v)) — fine for item graphs,
    * and the oriented optimization drops in without changing results.
    */
  def trussPeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame =
    trussPeelImpl(edges, srcCol, dstCol, k, rounds)._1

  /** The PEEL CURVE of [[trussPeel]]: per round, the surviving edge
    * count and the number removed — the convergence/dup-burden view
    * (round 0 is the initial simple graph; a final round with
    * n_removed = 0 certifies the fixpoint was reached). Emits
    * (round, n_edges, n_removed) — `rounds`+1 rows, so the output is
    * non-empty even when the graph peels to nothing.
    */
  def trussPeelCurve(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, counts) = trussPeelImpl(edges, srcCol, dstCol, k, rounds)
    Materialize.release(e)
    val curve = counts.zipWithIndex.map { case (n, r) =>
      (r, n, if (r == 0) 0L else counts(r - 1) - n)
    }
    spark.createDataset(curve).toDF("round", "n_edges", "n_removed")
      .orderBy(col("round"))
  }

  /** Shared peel loop: returns the final (pinned) edge set and the
    * per-generation edge counts (index 0 = the normalized input).
    * Each generation is already materialized by cutLoop, so the counts
    * are free reads of checkpointed blocks.
    */
  private def trussPeelImpl(edges: DataFrame, srcCol: String, dstCol: String,
                            k: Int, rounds: Int): (DataFrame, Seq[Long]) = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, "need rounds >= 1")
    val counts = Seq.newBuilder[Long]
    var e = Materialize.cutLoop(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .withColumn("support", lit(0L)), previous = None)
    counts += e.count()
    for (_ <- 1 to rounds) {
      val dir = e.select(col("u").as("x"), col("v").as("w"))
        .unionByName(e.select(col("v").as("x"), col("u").as("w")))
      val sup = e.select(col("u"), col("v"))
        .join(dir.select(col("x").as("_pu"), col("w").as("_wc")),
          col("_pu") === col("u"))
        .join(dir.select(col("x").as("_qv"), col("w").as("_wc2")),
          col("_qv") === col("v") && col("_wc2") === col("_wc"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("_sup"))
      e = Materialize.cutLoop(
        e.select(col("u"), col("v"))
          .join(sup, Seq("u", "v"), "left")
          .select(col("u"), col("v"), coalesce(col("_sup"), lit(0L)).as("support"))
          .where(col("support") >= (k - 2).toLong),
        previous = Some(e))
      counts += e.count()
    }
    val out = e.select(col("u").as("src"), col("v").as("dst"),
      col("support").cast("int").as("support"))
      .orderBy(col("src"), col("dst"))
    val pinned = Materialize.cutPinned(out)
    Materialize.release(e)
    (pinned, counts.result())
  }
}
