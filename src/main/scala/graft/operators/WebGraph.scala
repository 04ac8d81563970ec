package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics over the edge relation
  * [[TextAnalysis.extractOutlinks]] produces — the web-scale ranking /
  * connectivity layer of a crawl pipeline (the reference engine has no
  * graph surface; this is extension-axis, like the rest of the crawl
  * family).
  */
object WebGraph {

  /** PageRank (Page et al. 1999) with uniform teleport and dangling-mass
    * redistribution, a FIXED number of power iterations:
    *
    *   rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u)/outdeg(u) + D/N )
    *
    * where D is the summed rank of dangling nodes (no out-edges) and N
    * the node count. Parallel edges collapse first (a page linking
    * twice is one endorsement — the standard reading); self-loops are
    * kept (they contribute to their own node, same as every textbook
    * formulation that doesn't special-case them). A null endpoint is
    * one node; a null SOURCE's out-edges are dropped, as an SQL
    * equi-join on the source drops them, so the null node is dangling
    * and its mass returns through D — no mass leaks either way.
    *
    * Scale shape — the iteration runs over ONE node-keyed state relation
    * (node, dsts, N, rank) that carries each node's deduplicated
    * out-adjacency as an array (see [[adjacency]]):
    *
    *  - setup is one node-keyed aggregate (adjacency and out-degree
    *    together) plus the 1-row N count broadcast onto it, materialized
    *    once;
    *  - an iteration is two aggregates and no keyed join:
    *    `explode(dsts)` emits `rank / size(dsts)` per out-edge, unioned
    *    with one zero row per node that carries the static columns, into
    *    one node-keyed sum that PARTIAL-AGGREGATES — a hub with a billion
    *    in-links receives per-partition partial sums, never a single fat
    *    reducer (the carried array makes it a sort-based aggregate; the
    *    last iteration drops `dsts` and hash-aggregates); the dangling
    *    mass D is one global sum over `dsts IS NULL`, joined back as a
    *    1-row broadcast nested loop. The shuffle carries each node's
    *    adjacency once per iteration, where a join-based step shuffles
    *    (or broadcasts) the edge relation besides the contributions.
    *    Out-degree skew is bounded by page size (a page has only so many
    *    links), which is also what bounds a `dsts` array;
    *  - every scalar stays IN-PLAN: no `.count()` / `.collect()` on the
    *    driver (the iteration COUNT is a fixed small constant, the
    *    usual 10–50 of the literature);
    *  - each iteration but the last ends in `localCheckpoint` — the
    *    l38/l58 precedent — so lineage stays flat instead of doubling
    *    the plan depth per iteration; the last one is returned as a plan
    *    because the caller consumes it exactly once.
    *
    * Output: (node, rank) for every node that appears as an edge
    * endpoint. Ranks sum to 1 up to FP rounding.
    */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               damping: Double = 0.85, srcCol: String = "src",
               dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val adj = adjacency(edges, srcCol, dstCol)
    val nFrame = adj.agg(count(lit(1)).cast("double").as("n_nodes"))
    val state = adj.crossJoin(broadcast(nFrame))
      .select(col("node"), col("dsts"), col("n_nodes"),
        (lit(1.0) / col("n_nodes")).as("rank"))
      .localCheckpoint()
    powerIterate(state, "n_nodes", iterations) { (contrib, dangling) =>
      (lit(1.0) - damping) / col("n_nodes") +
        lit(damping) * (contrib + dangling / col("n_nodes"))
    }
  }

  /** The deduplicated out-adjacency of every node, as
    * (node, dsts: array<string>), from ONE node-keyed aggregate: each
    * edge emits (src, struct(dst)) and (dst, null), and `collect_set`
    * of the structs yields the distinct destinations (a struct keeps a
    * null `dst` that a bare `collect_set` would drop, so an edge into
    * the null node still counts toward out-degree and delivers its
    * share). A node that is no edge's source — a destination-only or an
    * extra node — and the null node, whose out-edges are dropped, get
    * `dsts = null`: the dangling marker.
    */
  private def adjacency(edges: DataFrame, srcCol: String, dstCol: String,
                        extraNodes: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val out = e.select(col("src").as("node"),
      when(col("src").isNotNull, struct(col("dst"))).as("d"))
    val rows = (e.select(col("dst").as("node")) +: extraNodes.toSeq)
      .foldLeft(out)((u, x) =>
        u.unionByName(x.select(col("node")), allowMissingColumns = true))
    rows.groupBy(col("node")).agg(collect_set(col("d")).as("ds"))
      .select(col("node"),
        when(size(col("ds")) > 0, transform(col("ds"), _.getField("dst")))
          .as("dsts"))
  }

  /** The power iteration [[pageRank]] and [[personalizedPageRank]]
    * share, over a materialized state (node, dsts, `static`, rank):
    * `static` is the teleport column ([[pageRank]]'s N, the
    * personalized s(v)) and `update(contrib, dangling)` the new rank
    * from a node's summed in-contribution and the dangling mass D.
    *
    * The zero row per node restores the nodes nothing links to and
    * carries `dsts` and `static` through the sum as the r21 union trick
    * does (x + 0.0 is exact in IEEE for every non-negative x, and
    * contributions are non-negative): no join re-attaches them.
    */
  private def powerIterate(state0: DataFrame, static: String,
                           iterations: Int)(
      update: (Column, Column) => Column): DataFrame = {
    var state = state0
    var it = 1
    while (it <= iterations) {
      val contribs = state.select(explode(col("dsts")).as("node"),
        (col("rank") / size(col("dsts"))).as("c"))
      val dangling = state.filter(col("dsts").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling_mass"))
      val next = contribs
        .unionByName(state.select(col("node"), lit(0.0).as("c"),
          col("dsts"), col(static)), allowMissingColumns = true)
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"),
          first(col("dsts"), ignoreNulls = true).as("dsts"),
          max(col(static)).as(static))
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("dsts"), col(static),
          update(col("contrib"), col("dangling_mass")).as("rank"))
      state = if (it < iterations) next.localCheckpoint() else next
      it += 1
    }
    state.select(col("node"), col("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999), fixed iterations, in
    * EXACT INTEGER form: starting from hub = 1 everywhere,
    *
    *   auth'(v) = Σ_{u→v} hub(u)      then
    *   hub'(v)  = Σ_{v→w} auth'(w)
    *
    * with NO per-iteration normalization — the classical algorithm
    * normalizes to keep floats bounded, but normalization is one
    * uniform scalar per iteration and cannot change the RANKING, which
    * is what hubs/authorities are for (callers divide by the max for
    * display). Unnormalized, every score is an exact integer (a count
    * of length-bounded alternating paths), so the oracle needs no
    * quantization and a hash compares bit-for-bit. Parallel edges
    * collapse (one endorsement per page pair, the pageRank reading).
    *
    * Scale shape: each iteration is two src/dst-keyed equi-join +
    * partial-aggregated sums (hub fan-in dies map-side, the l62
    * argument), localCheckpointed. Output: (node, hub, authority) for
    * every edge endpoint.
    */
  def hits(edges: DataFrame, iterations: Int = 2,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    // a projection of the checkpointed nodes: checkpointing it again
    // would cost a job and a stored copy for nothing
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("authority"))
    var it = 0
    // zero-score nodes are restored by unioning a (node, 0) row into
    // the endorsement stream before the per-node sum (the r21 union
    // trick — exact in integers): one exchange per half-iteration
    // instead of a groupBy plus a nodes-side re-shuffled left-outer
    // join
    while (it < iterations) {
      auth = e.join(hub, e("src") === hub("node"))
        .select(col("dst").as("node"), col("hub").as("v"))
        .unionByName(nodes.select(col("node"), lit(0L).as("v")))
        .groupBy(col("node")).agg(sum(col("v")).as("authority"))
        .localCheckpoint()
      hub = e.join(auth, e("dst") === auth("node"))
        .select(col("src").as("node"), col("authority").as("v"))
        .unionByName(nodes.select(col("node"), lit(0L).as("v")))
        .groupBy(col("node")).agg(sum(col("v")).as("hub"))
        .localCheckpoint()
      it += 1
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("hub"), col("authority"))
  }

  /** Personalized PageRank (Haveliwala 2002, "Topic-Sensitive
    * PageRank") — [[pageRank]] with the teleport mass restricted to a
    * SEED set: the crawl-prioritization / related-page primitive (rank
    * frontier URLs by proximity to trusted seeds — the OPIC/seed-crawl
    * shape; also the "similar pages" signal). The recurrence swaps the
    * uniform 1/N teleport vector for s(v) = 1/|S| on seeds, 0
    * elsewhere — dangling mass also returns to the seeds:
    *
    *   rank'(v) = (1−d)·s(v) + d·(Σ_{u→v} rank(u)/outdeg(u) + D·s(v))
    *
    * Initial rank = s(v) (all mass starts on the seeds). Ranks sum to
    * 1 every iteration; nodes unreachable from the seed set correctly
    * converge to 0. Same scale shape as [[pageRank]], the same
    * iteration: s(v) is computed once at setup (the seed set broadcast
    * onto the node state) and rides the state as a static column, so
    * the teleport term is the only difference; fixed iteration count (a
    * convergence-tolerance stop would need one scalar read per
    * iteration — the BPE-argmax-style control scalar — and is left to
    * deployments that want it).
    *
    * Output: (node, rank) for every node that is an edge endpoint OR a
    * seed (an uncrawled seed is a legitimate node — dropping it would
    * leak its teleport share each iteration).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 10, damping: Double = 0.85,
                           srcCol: String = "src",
                           dstCol: String = "dst",
                           seedCol: String = "node"): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val seedSet = seeds.select(col(seedCol).cast("string").as("node"))
      .distinct().localCheckpoint()
    val nSeeds = seedSet.agg(count(lit(1)).cast("double").as("n_seeds"))
    // seeds join the edge endpoints as nodes: a seed not (yet) present
    // in the edge relation — the seed-frontier case this operator exists
    // for — must still carry its 1/|S| teleport share, or mass leaks
    // every iteration and ranks stop summing to 1. Such a seed has no
    // out-edges, so it is dangling and its mass returns to the seeds
    // through the D·s(v) term, conserving the invariant. s(v) is a
    // static column: 1/|S| on seeds, 0 off, and the initial rank.
    val s = when(col("__seed") === 1, lit(1.0) / col("n_seeds"))
      .otherwise(lit(0.0))
    val state = adjacency(edges, srcCol, dstCol, Some(seedSet))
      .join(broadcast(seedSet.withColumn("__seed", lit(1))),
        Seq("node"), "left_outer")
      .crossJoin(broadcast(nSeeds))
      .select(col("node"), col("dsts"), s.as("s"), s.as("rank"))
      .localCheckpoint()
    powerIterate(state, "s", iterations) { (contrib, dangling) =>
      (lit(1.0) - damping) * col("s") +
        lit(damping) * (contrib + dangling * col("s"))
    }
  }

  /** Neighborhood function / ball sizes by KMV sketch — HyperBall
    * (Boldi & Vigna, "In-Core Computation of Geometric Centralities
    * with HyperBall", 2013) with k-minimum-values sketches in place of
    * HyperLogLog counters: for every node v and radius r ≤ `radius`,
    * an estimate of |B(v,r)| = |{w : dist(v→w) ≤ r}| — the statistic
    * behind reachability profiles, harmonic/closeness centrality, and
    * "effective diameter" on graphs where an exact per-node BFS is
    * impossible (a 100 TB web graph has ~10¹⁰ nodes; exact all-pairs
    * ball sizes are quadratic, the sketch pass is |E|·k·radius).
    *
    * Recurrence: B(v,0) = {v}; B(v,r) = B(v,r−1) ∪ ⋃_{v→w} B(w,r−1).
    * KMV sketches are UNION-MERGEABLE (the k smallest of the
    * concatenation of two k-min lists IS the k-min list of the set
    * union — the l55/l57-proven merge), so each iteration is:
    *
    *   - one `dst`-keyed equi-join (edge picks up its target's ≤ k
    *     sketch rows — the build side is sketch-sized, ≤ k rows per
    *     node, so dst-side in-degree skew is bounded by construction);
    *   - a union with the node's own current rows;
    *   - the per-node k smallest via a row_number window that Spark
    *     pushes down as WindowGroupLimit (each map partition forwards
    *     ≤ k rows per node before the shuffle — out-degree fan-in
    *     collapses map-side, the l55 shape);
    *   - `localCheckpoint`, so lineage stays flat per iteration (the
    *     l38/l58/pageRank precedent).
    *
    * Estimator: the l55 KMV form — |B| ≈ (k−1)·M/h₍k₎ when the sketch
    * is full, EXACT n_kept when |B| < k. Hashes are 60-bit md5
    * prefixes of the node id, so the sketch itself is cross-engine:
    * a SQL oracle re-derives every kth_min and estimate exactly from
    * relationally-computed reachable sets — the estimates carry no
    * engine-private randomness.
    *
    * Output: (node, radius, n_kept, kth_min, est_ball) for every node
    * and every radius 0..`radius` (radius 0 rows are the exact
    * singleton — they pin the hash convention).
    */
  def neighborhoodKmv(edges: DataFrame, radius: Int = 2, k: Int = 64,
                      srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // radius-0 sketch: each node's own 60-bit md5-prefix hash, held as a
    // 1-element sorted array — the sketch lives as ONE ROW PER NODE
    // (node, hs sorted ascending, |hs| ≤ k) so per-radius stats are a
    // narrow projection and each growth round is ONE aggregation
    var sketch = nodes.select(col("node"),
      array(conv(substring(md5(col("node")), 1, 15), 16, 10).cast("long"))
        .as("hs")).localCheckpoint()
    var out = kmvStats(sketch, 0, k)
    var r = 1
    while (r <= radius) {
      sketch = neighborhoodStep(e, sketch, k).localCheckpoint()
      out = out.unionByName(kmvStats(sketch, r, k))
      r += 1
    }
    out
  }

  /** Per-radius stats from the array-form sketch — no exchange: the
    * kept hashes are sorted ascending, so n_kept = |hs| and
    * kth_min = hs.last, and the estimator is row-local arithmetic
    * (same expression order as the pre-r21 groupBy form, so est_ball
    * is bit-identical).
    */
  private def kmvStats(sk: DataFrame, r: Int, k: Int): DataFrame = {
    val m = math.pow(2.0, 60) // 15 hex chars, the l55 hash space
    val nKept = size(col("hs")).cast("long")
    val kthMin = element_at(col("hs"), size(col("hs")))
    sk.select(col("node"), lit(r).as("radius"), nKept.as("n_kept"),
      kthMin.as("kth_min"),
      TextAnalysis.quant(
        when(nKept < k, nKept.cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(m) /
            kthMin.cast("double")), 2).as("est_ball"))
  }

  /** Harmonic centrality from [[neighborhoodKmv]] ball estimates —
    * the statistic HyperBall exists to compute (Boldi & Vigna 2014
    * use exactly this decomposition):
    *
    *   H(v) = Σ_{w≠v} 1/dist(v→w)
    *        = Σ_{r≥1} (|B(v,r)| − |B(v,r−1)|)/r
    *
    * (each node first reached at distance r contributes 1/r). Takes
    * the (node, radius, est_ball) frame and pivots the ≤ radius+1
    * rows per node into columns via max-when conditional aggregation
    * — ONE node-keyed aggregate, and the per-node sum is then a
    * closed-form expression over the pivoted columns evaluated in a
    * FIXED order (a double `sum()` over per-row terms would expose
    * FP addition-order nondeterminism; the pivot keeps the arithmetic
    * engine-reproducible, the l33 decimal-normalizer stance). Truncation
    * at `radius` makes this the LOWER-bound estimate every finite
    * HyperBall run reports; callers pick radius ≥ the effective
    * diameter they care about.
    *
    * Output: (node, harmonic) — harmonic quantized to 1e-2 like the
    * ball estimates it derives from.
    */
  def harmonicCentrality(balls: DataFrame, radius: Int): DataFrame = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val aggs = (0 to radius).map(r =>
      max(when(col("radius") === r, col("est_ball"))).as(s"b$r"))
    val pivoted = balls.groupBy(col("node"))
      .agg(aggs.head, aggs.tail: _*)
    val h = (1 to radius)
      .map(r => (col(s"b$r") - col(s"b${r - 1}")) / lit(r.toDouble))
      .reduce(_ + _)
    pivoted.select(col("node"),
      TextAnalysis.quant(h, 2).as("harmonic"))
  }

  /** One sketch-growth iteration as a pure plan (package-visible so
    * PlanSpec can pin the single-exchange shape and the join strategy
    * without peeling checkpoints). Takes and returns the ARRAY-form
    * sketch (node, hs sorted ascending, |hs| ≤ k).
    *
    * r21 shape: the pre-r21 form ran THREE keyed passes per radius —
    * a (node, h) `distinct` exchange, a `row_number` window exchange
    * (WindowGroupLimit-capped), and the stats groupBy — because the
    * sketch lived as ≤ k ROWS per node. Holding it as one sorted array
    * per node collapses all of that into ONE aggregation (map-side
    * partial dedup, one exchange), with the k-min cut enforced INSIDE
    * the aggregate; KMV union-mergeability makes the forms produce
    * identical kept sets. The exploded (node, h) view exists only
    * map-side, feeding the dst-keyed join.
    *
    * r22 (ADVICE r21 medium): the r21 spelling was
    * `slice(array_sort(collect_set(h)), 1, k)`, whose collect_set
    * partial holds a hub node's FULL distinct hash set (up to
    * k·(in-degree+1) longs in one unspillable array) before the slice
    * cuts it — an OOM/skew hazard at the 100 TB design point. The
    * [[graft.functions.expressions.KMinLongsAgg]] aggregate keeps the
    * k-min cut on every update/merge, so per-group buffer state is
    * O(k) at any in-degree while the kept set (k smallest distinct,
    * sorted ascending) is bit-identical.
    */
  private[graft] def neighborhoodStep(e: DataFrame, sketch: DataFrame,
                                      k: Int): DataFrame = {
    val flat = sketch.select(col("node"), explode(col("hs")).as("h"))
    flat.unionByName(
        e.join(flat, e("dst") === flat("node"))
          .select(e("src").as("node"), col("h")))
      .groupBy(col("node"))
      .agg(graft.functions.expressions.KMinAgg
        .kmin_longs(col("h"), k).as("hs"))
  }

  /** Anchor-text aggregation — the classic link-graph text signal
    * (anchor text describes the TARGET better than the target's own
    * page; every web-search stack and several pretraining corpora
    * aggregate it): for each destination url, the distinct non-empty
    * anchor strings pointing at it, with link and distinct-source
    * counts.
    *
    * Scale shape: one dst-keyed aggregate; `n_links` and the anchor
    * set partial-aggregate map-side (collect_set's per-key cardinality
    * is bounded by `maxAnchors` only at the merge — a deployment
    * capping adversarial fan-in would pre-limit per (dst, anchor)
    * pair; at fixture scale the set stays small). `n_sources` is the
    * one count-distinct, which Spark expands to a two-phase partial
    * aggregate — skew-free like the l60 doc-frequency pass.
    */
  def anchorText(links: DataFrame, maxAnchors: Int = 32): DataFrame =
    links
      .groupBy(col("dst_url"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src_url")).as("n_sources"),
        slice(sort_array(collect_set(
          when(col("anchor") =!= "", col("anchor")))), 1, maxAnchors)
          .as("anchors"))
}
