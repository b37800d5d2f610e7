package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analyses over an edge DataFrame (src, dst [, kind, weight]) —
  * the Spark form of the reference's call/type-graph consumers
  * (callers/callees/trace/impact/dead/related, SURVEY §2.12).
  *
  * BFS is an iterative frontier join with an accumulated visited set
  * (the reference's impact/bfs.rs:49-110 re-expressed): each level
  * is one shuffle on the join key. Scale notes baked in:
  *  - depth cap AND node cap (the reference caps at 10k ancestors,
  *    bfs.rs:11-14) bound runaway closures on hub-heavy graphs;
  *  - each level is localCheckpoint'ed so the lineage doesn't grow
  *    per iteration (a 10-level BFS would otherwise re-plan 10 nested
  *    joins);
  *  - hub skew is the known hazard — at 100 TB the edge table would be
  *    pre-bucketed by src and heavy keys salted; AQE skew-join handles
  *    moderate skew here.
  */
object GraphOps {

  val DefaultMaxNodes = 10000L

  /** Multi-source BFS. Returns (node, depth) with depth = minimum hop
    * distance from any seed (seeds at depth 0). Frontier expansion stops
    * at maxDepth or when the visited set exceeds maxNodes.
    *
    * @param edges directed edges; pass a symmetrized frame for
    *              undirected semantics (or use `bfsReverse` for ancestors).
    * @param materializeEdges lineage-cut the edge frame once before a
    *              multi-level walk (it is read once per level); pass
    *              false when it is already a table scan or materialized.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
          maxNodes: Long = DefaultMaxNodes,
          materializeEdges: Boolean = true): DataFrame =
    expand(edges, seeds, maxDepth, maxNodes, materializeEdges,
      labeled = false, paths = false)

  /** BFS with shortest-path reconstruction — the `trace` operator
    * (the reference's impact/bfs.rs:304-380 plus the path the min-hop
    * closure alone loses). Returns (node, depth, path): each visited
    * node carries ONE deterministic shortest path, encoded "seed->a->b";
    * at every level the candidate paths through the (already-minimal)
    * parent paths are reduced with MIN, so ties pick the
    * lexicographically smallest path. The path column adds O(depth)
    * bytes per row, bounded by maxDepth.
    */
  def bfsPaths(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
               maxNodes: Long = DefaultMaxNodes): DataFrame =
    expand(edges, seeds, maxDepth, maxNodes, materializeEdges = true,
      labeled = false, paths = true)

  /** Per-seed labeled BFS: seeds carry a `seed` label alongside the
    * start `node`, and every reached pair keeps the seed it was
    * reached FROM — the shape of "tests covering each of these
    * functions" closures where reachability must stay attributable.
    * Returns distinct (seed, node, depth) with the seeds at depth 0.
    * Visited subtraction is per pair (a cycle never re-expands an
    * already-reached pair) and maxNodes caps the PAIR count.
    */
  def bfsLabeled(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                 maxNodes: Long = DefaultMaxNodes,
                 materializeEdges: Boolean = true): DataFrame =
    expand(edges, seeds, maxDepth, maxNodes, materializeEdges,
      labeled = true, paths = false)

  /** Reverse-direction BFS (ancestors — the `impact` direction). */
  def bfsReverse(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                 maxNodes: Long = DefaultMaxNodes,
                 materializeEdges: Boolean = true): DataFrame =
    bfs(edges.select(col("dst").as("src"), col("src").as("dst")),
      seeds, maxDepth, maxNodes, materializeEdges)

  /** The one frontier-expansion loop behind the BFS variants. Rows are
    * keyed by `node`, or by (seed, node) when `labeled`; with `paths`
    * each key also carries a `path`, reduced per key with MIN. Output
    * columns: the keys, `depth`, then `path`.
    *
    * Per level: join the frontier to the edges by name, dedupe per key,
    * subtract the visited keys (levels are therefore disjoint), cut
    * lineage. Three regimes:
    *  - shallow (maxDepth <= 3, uncapped): one lazy plan, no jobs until
    *    the caller's action — per-level checkpoints and counts are each
    *    a Spark job whose scheduling overhead dominates at this depth,
    *    and the lineage they would cut is only maxDepth joins deep;
    *  - counted: each level is checkpointed and counted in ONE job
    *    (Materialize.stableCounted); the visited count is the running
    *    sum of level counts, which drives the node cap and the
    *    empty-frontier exit;
    *  - cap unreachable: when the closure provably cannot exceed
    *    maxNodes, the counts buy nothing and each level is only
    *    checkpointed (the checkpoints stay: a fully lazy deep loop
    *    measured 2-3× slower, its anti-joins make unrolled plans
    *    exponential).
    */
  private def expand(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                     maxNodes: Long, materializeEdges: Boolean,
                     labeled: Boolean, paths: Boolean): DataFrame = {
    val labels = if (labeled) Seq("seed") else Nil
    val keys = labels :+ "node"
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (maxDepth > 1 && materializeEdges) e0.transform(Materialize.stable) else e0
    val shallow = maxDepth <= 3 && maxNodes == Long.MaxValue
    val init = seeds.select(keys.map(col): _*).distinct().withColumn("depth", lit(0))
    var visited = if (paths) init.withColumn("path", col("node").cast("string")) else init
    var reached = 0L
    var uncapped = shallow
    if (!shallow) {
      val (v, n) = Materialize.stableCounted(visited)
      visited = v
      reached = n
      uncapped = capUnreachable(e, reached, maxDepth, maxNodes, labeled)
    }
    var frontier = visited
    var d = 1
    var lastAdded = 1L
    while (d <= maxDepth && reached <= maxNodes && (uncapped || lastAdded > 0)) {
      // name-based join (frontier columns renamed): in shallow mode the
      // frontier's lineage CONTAINS e, so dataset-qualified refs like
      // e("dst") would be ambiguous self-join references
      val hop = frontier
        .select(labels.map(col) ++ Seq(col("node").as("__fnode")) ++
          (if (paths) Seq(col("path").as("__fpath")) else Nil): _*)
        .join(e, col("__fnode") === col("src"))
        .select(labels.map(col) ++ Seq(col("dst").as("node")) ++
          (if (paths) Seq(concat(col("__fpath"), lit("->"),
            col("dst").cast("string")).as("path")) else Nil): _*)
      val dedup =
        if (paths) hop.groupBy(keys.map(col): _*).agg(min(col("path")).as("path"))
        else hop.distinct()
      var next = dedup.join(visited.select(keys.map(col): _*), keys, "left_anti")
        .withColumn("depth", lit(d))
      if (!shallow) {
        if (uncapped) next = next.transform(Materialize.stable)
        else {
          val (m, n) = Materialize.stableCounted(next)
          next = m
          lastAdded = n
          reached += n
        }
      }
      visited = visited.unionByName(next)
      frontier = next
      d += 1
    }
    visited
  }

  /** Cap-reachability probe: true when the closure provably stays
    * within maxNodes, so the per-level counts that implement the cap
    * can be skipped. With n0 seed keys and E edge rows the closure
    * holds at most n0 + E nodes, or n0·(1+E) pairs when labeled — in
    * both forms n0 + w·E with w = 1 or n0 — so it fits iff
    * E <= (maxNodes − n0) / w. The probe is LIMIT-bounded: it scans at
    * most that many edge rows plus one, saturated at 1e8 rows (a count
    * that hits the limit means "too many", never a bound). Only run at
    * the report depths 2..6: at depth 1 the probe costs what it saves,
    * and without counts there is no empty-frontier exit. Empty seed
    * sets skip it: the counted rail ends them after one empty level.
    */
  private def capUnreachable(e: DataFrame, n0: Long, maxDepth: Int,
                             maxNodes: Long, labeled: Boolean): Boolean =
    maxDepth > 1 && maxDepth <= 6 && maxNodes < Long.MaxValue &&
      n0 > 0 && n0 <= maxNodes && {
        val w = if (labeled) n0 else 1L
        val limit = math.min((maxNodes - n0) / w + 1, 100000000L).toInt
        e.limit(limit).count() < limit
      }

  /** 1-hop neighbors with edge multiplicity (callers/callees shape). */
  def neighbors(edges: DataFrame, seeds: DataFrame): DataFrame =
    edges.join(broadcast(seeds), edges("src") === seeds("node"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_edges"))

  /** Collapse parallel edges of different kinds to the single most
    * trusted one per (src, dst), by an explicit rank map — never a
    * lexical MIN on the kind string (the reference is explicit about
    * this distinction, /root/reference/src/parser/types.rs:267-286).
    */
  def collapseByTrust(edges: DataFrame, kindRank: Map[String, Int]): DataFrame = {
    val rankCol = kindRank.foldLeft(lit(Int.MaxValue)) {
      case (acc, (kind, rank)) => when(col("kind") === kind, lit(rank)).otherwise(acc)
    }
    edges
      .withColumn("kind_rank", rankCol)
      .groupBy(col("src"), col("dst"))
      .agg(min(struct(col("kind_rank"), col("kind"))).as("best"))
      .select(col("src"), col("dst"), col("best.kind").as("kind"))
  }

  /** Co-occurrence "related" score: nodes sharing out-neighbors with the
    * seeds, weighted by the number of shared neighbors
    * (/root/reference/src/related.rs re-expressed as a self-join + agg).
    *
    * The shared-neighbor key is `dst`, which on a real call graph is
    * hub-skewed (every function calls `log`); a plain shuffle join puts
    * each hub's whole posting on one reducer. The big (full-edge) side
    * is therefore salted over the hub key and the small (seed-edge) side
    * replicated — deterministic salts, result row-identical to the
    * unsalted join (pinned in GraphOpsSpec).
    */
  def related(edges: DataFrame, seeds: DataFrame,
              numSalts: Int = 8,
              materializeEdges: Boolean = true): DataFrame = {
    // both join sides derive from `edges`; if it is itself a derived
    // join (co-purchase), materialize once instead of twice — skip when
    // it is already a table scan (prebuilt index)
    val e = if (materializeEdges) edges.transform(graft.operators.Materialize.stable) else edges
    val a = e.join(broadcast(seeds), e("src") === seeds("node"))
      .select(col("src").as("seed"), col("dst").as("shared"))
    val b = e.select(col("src").as("other"), col("dst").as("shared"))
    Skew.saltedJoin(b, a, "shared", Seq("other", "shared"), numSalts)
      .filter(col("other") =!= col("seed"))
      .groupBy(col("seed"), col("other"))
      .agg(countDistinct(col("shared")).as("n_shared"))
  }

  /** Damped PageRank in exact integer micro-units — the global
    * importance ranking (hotspot analysis generalized past q43's
    * in-degree counting: a caller's own importance propagates).
    *
    * Determinism across engines and partitionings: float summation is
    * order-dependent, so each edge's contribution pr(src)/outdeg(src)
    * is rounded to an INTEGER micro-unit per edge BEFORE aggregation —
    * BIGINT addition commutes — and the damping multiply+round is one
    * IEEE op per node per round. Fixed iteration count (no convergence
    * test) keeps the plan static and the oracle unrollable.
    *
    * Dangling mass: callers must pass an edge set where every ranked
    * node has outdeg ≥ 1 (a symmetric graph guarantees it); dangling
    * redistribution is deliberately out of scope and documented.
    *
    * Scale: each round is one (edges ⋈ pr) shuffle on src + one dst
    * aggregation — the canonical distributed PageRank; pr stays
    * |nodes|-sized, and pre-partitioning both sides on the join key
    * (or bucketing the edge table) removes the per-round exchange.
    */
  /** Nodes below which the per-round rank join broadcasts the rank
    * vector (a |nodes|-row, 16-byte-row frame — 5M nodes ≈ 80 MB).
    * Above it the hint is withheld so the planner uses a shuffled
    * hash/SMJ join: an explicit broadcast() is ALWAYS honored
    * regardless of size, so an unconditional hint on a billion-node
    * graph would collect the full rank vector to the driver every
    * round and fail at the 8 GB broadcast limit — there is no
    * "graceful degradation" out of an explicit hint.
    */
  val PageRankBroadcastNodeCap = 5000000L

  /** Degree-joined edge frame (src, dst, outdeg) — the per-round join
    * input pageRank re-reads every iteration. Exposed so an index build
    * can persist it once (the `resolved_edges` pattern) instead of
    * paying the degree aggregation + join per run.
    */
  def degreeJoinedEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    e.join(outdeg, "src").select(col("src"), col("dst"), col("outdeg"))
  }

  def pageRank(edges: DataFrame, iters: Int = 3,
               materializeEdges: Boolean = true): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (materializeEdges) e0.transform(Materialize.stable) else e0
    pageRankFromDegreeJoined(
      degreeJoinedEdges(e).transform(Materialize.stable), iters)
  }

  /** PageRank over an ALREADY degree-joined (src, dst, outdeg) frame —
    * the prebuilt-index entry point: callers that persisted
    * `degreeJoinedEdges` (see Indexes.build) skip the per-run degree
    * aggregation + join entirely. `withDeg` must be cheap to rescan
    * (a table scan or a materialized frame): it is read once per round.
    */
  def pageRankFromDegreeJoined(withDeg: DataFrame, iters: Int = 3): DataFrame = {
    // materialize the init frame BEFORE counting (the q169 LPA order):
    // otherwise the strategy count and round 1 each re-run the
    // |edges|-sized distinct
    var pr = withDeg.select(col("src").as("node")).distinct()
      .withColumn("pr_micro", lit(1000000L))
      .transform(Materialize.stable)
    // one count up front (|nodes| rows) decides the per-round join
    // strategy; the loop itself never re-counts
    val useBroadcast = pr.count() <= PageRankBroadcastNodeCap
    (1 to iters).foreach { _ =>
      // Small graphs: broadcast the rank frame so each round is a
      // map-side hash join over the pinned edge frame (the only shuffle
      // per round is the groupBy(dst) re-aggregation). Large graphs:
      // no hint — the planner shuffles both sides (rank re-derivation
      // is per-round work either way; broadcasting it would collect to
      // the driver every round).
      val prSide = if (useBroadcast) broadcast(pr) else pr
      pr = withDeg
        .join(prSide, withDeg("src") === prSide("node"))
        .select(col("dst"),
          round(col("pr_micro").cast("double") / col("outdeg"), 0)
            .cast("long").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_micro"))
        .select(col("dst").as("node"),
          round(lit(150000.0) + lit(0.85) * col("in_micro"), 0)
            .cast("long").as("pr_micro"))
        // per-round lineage cut on the |nodes|-sized rank frame (the
        // q169 LPA pattern): without it round N's plan holds rounds
        // 1..N−1 as live subtrees and the broadcast COLLECT of the
        // rank side recomputes them all — O(iters²) round-joins, a
        // scale-killer at production iteration counts
        .transform(Materialize.stable)
    }
    pr
  }

  /** Per-node triangle counts via the DEGREE-ORDERED wedge join — the
    * distributed triangle algorithm (Suri & Vassilvitskii's MapReduce
    * formulation): orient every undirected edge from its lower-rank to
    * higher-rank endpoint under the total order (degree, node), build
    * wedges by self-joining oriented edges on their source, and close
    * each wedge against the oriented edge set. Orientation bounds each
    * node's out-degree by O(√m) on any graph, so the wedge join never
    * explodes on hub nodes — the property that makes this the 100 TB
    * shape where a naive neighborhood-intersection melts on skew.
    *
    * Input: symmetric or one-directional (src, dst) pairs; output:
    * (node, n_tri) for every node in ≥1 triangle. Each triangle
    * contributes once to each of its three corners.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsFromOriented(
      orientEdges(edges).transform(Materialize.stable))

  /** Degree-orientation of an edge set: undirected-dedup, per-node
    * degrees, each edge emitted lower→higher under the (degree, node)
    * total order as (a, b, db) with db = b's degree. This is the
    * expensive, per-run-invariant half of triangleCounts — exposed so
    * the index build can persist it (q153 then pays only the wedge
    * join + close per run).
    */
  def orientEdges(edges: DataFrame): DataFrame =
    orientFromUnd(edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("x"),
        greatest(col("src"), col("dst")).as("y"))
      .distinct()
      .transform(Materialize.stable))

  /** orientEdges over an input KNOWN symmetric and row-distinct (both
    * orientations present exactly once — the persisted co-purchase
    * artifact's contract): the undirected dedup reduces to a src < dst
    * filter, dropping the distinct's full-table shuffle (guide §2.4 — a
    * distinct on data that is already unique). No materialization: the
    * filter re-scans cost less than a checkpoint copy when the input is
    * a table scan.
    */
  def orientEdgesFromSymmetric(edges: DataFrame): DataFrame =
    orientFromUnd(edges.filter(col("src") < col("dst"))
      .select(col("src").as("x"), col("dst").as("y")))

  private def orientFromUnd(und: DataFrame): DataFrame = {
    val deg = und.select(col("x").as("node"))
      .unionByName(und.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // orient by (d, node): a < b iff (d_a, a) < (d_b, b)
    val withD = und
      .join(deg.select(col("node").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("d").as("dy")), Seq("y"))
    withD.select(
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("a"),
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")),
          struct(col("dy").as("d"), col("y").as("n")))
          .otherwise(struct(col("dx").as("d"), col("x").as("n")))
          .as("bkey"))
      .select(col("a"), col("bkey.n").as("b"), col("bkey.d").as("db"))
  }

  /** Wedge-join + close over an already-oriented (a, b, db) edge frame
    * (see orientEdges). `oriented` is scanned three times — pass a
    * table scan or a materialized frame.
    */
  def triangleCountsFromOriented(oriented: DataFrame): DataFrame = {
    val wedges = oriented.select(col("a"), col("b"), col("db"))
      .join(oriented.select(col("a"), col("b").as("c"), col("db").as("dc")),
        Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
    val tris = wedges.join(
      oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }
}
