package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whole-graph analytics over an edge DataFrame (src, dst, ...) — the
  * batch-analytics layer above the reference's per-request traversals
  * (SURVEY §2.B cat 11 scale path). Everything here is plain DataFrame
  * algebra: Catalyst sees every join, so AQE/broadcast/skew handling apply
  * unchanged on a real cluster.
  */
object GraphAnalytics {

  /** Undirected simple edge set: canonical (u < v) pairs, self-loops and
    * parallel edges dropped. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Per-node degree over the undirected simple graph. */
  def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))

  /** Per-node triangle counts via degree-ordered orientation.
    *
    * Each undirected edge is oriented from its lower-(degree, id) endpoint
    * to the higher one; every node's out-degree is then O(√m), so the wedge
    * self-join produces O(m^1.5) rows total instead of Σ deg² — the standard
    * scalable triangle algorithm (two equi-join shuffles; a hub node with
    * degree 10⁶ contributes no wedges because all its edges point *into* it).
    * Returns (node, tri) for nodes in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    orientedTriangles(undirected(edges).localCheckpoint())
      .select(explode(array(col("a"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))

  /** Degree-ordered triangle enumeration over a canonical (u < v) simple
    * edge set: each triangle appears exactly once as (a, y, z) in
    * orientation order. Shared by [[triangleCounts]] and the k-truss
    * per-edge support counts. */
  private def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = degrees(und)
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    // orient low-(deg,id) → high-(deg,id); keep the head's order key so the
    // wedge pair below can be canonicalized without re-joining degrees
    val oriented = und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b"),
            col("dv").as("db")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"),
            col("du").as("db"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db"))
      .localCheckpoint()
    val e1 = oriented.select(col("a"), col("b").as("y"), col("db").as("dy"))
    val e2 = oriented.select(col("a"), col("b").as("z"), col("db").as("dz"))
    // wedge (y, z) canonical in orientation order, closed iff y→z oriented
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("dy") < col("dz") ||
        (col("dy") === col("dz") && col("y") < col("z")))
    val closing = oriented.select(col("a").as("y"), col("b").as("z"))
    wedges.join(closing, Seq("y", "z"))
      .select(col("a"), col("y"), col("z"))
  }

  /** Bounded-hop single-source weighted shortest paths: `hops` rounds of
    * min-plus relaxation over (node, dist) — Bellman-Ford's DataFrame
    * form, one join + one min-aggregation shuffle per round. The existing
    * BFS traversal minimizes HOPS (then maximizes weight); this minimizes
    * accumulated WEIGHT — a different semiring, the one routing/cost
    * queries need. Weights must be ≥ 0 for the bound to be exact.
    * Returns (node, dist) for nodes reachable within `hops`. */
  def shortestPaths(edges: DataFrame, start: Long, hops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight")).localCheckpoint()
    var dists = e.sparkSession.range(1).select(lit(start).as("node"), lit(0.0).as("dist"))
    for (_ <- 1 to hops) {
      val relaxed = e.join(dists, e("src") === dists("node"))
        .select(col("dst").as("node"), (col("dist") + col("weight")).as("dist"))
      dists = dists.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dists
  }

  /** Hop distances from EVERY pivot at once over the undirected simple
    * graph — the shared-traversal core of pivot-sampled closeness
    * (Eppstein–Wang, Fast approximation of centralities, SODA'01): the
    * frontier rows carry the pivot id, so K BFS runs execute as ONE set
    * of per-round joins/aggregations — no per-pivot loop, no extra
    * shuffles, and the per-round state is ≤ K·|V| fixed-width rows. At
    * 100 TB this is the point of pivot sampling: exact all-pairs
    * closeness is |V| BFS runs; K fixed pivots bound the work to K
    * frontier expansions regardless of graph size.
    * Returns (p, node, d) — min hop distance per reached (pivot, node). */
  def multiSourceHopDistances(und: DataFrame, pivots: DataFrame,
                              hops: Int): DataFrame = {
    val e = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    var dist = pivots.select(col("p"), col("p").as("node"), lit(0).as("d"))
    for (_ <- 1 to hops) {
      val nxt = e.join(dist, e("src") === dist("node"))
        .select(col("p"), col("dst").as("node"), (col("d") + 1).as("d"))
      dist = dist.unionByName(nxt)
        .groupBy("p", "node").agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    dist
  }

  /** Pivot-sampled Brandes betweenness centrality (Brandes 2001; pivot
    * sampling per Brandes–Pich 2007), hop-capped. Forward phase: K
    * level-synchronous BFS expansions carried as ONE frontier keyed by
    * pivot — each level is an equi-join against the edge list plus a
    * left-anti join against the visited set, with shortest-path counts
    * (sigma) accumulated by integer group-sums (exact, order-free).
    * Backward phase: dependency accumulation level by level —
    * delta(v) = Σ over successors w of sigma_v/sigma_w · (1 + delta_w) —
    * where the single double expression per edge is rounded to 8 places
    * and fixed into DECIMAL(20,8), so per-node sums are exact decimal
    * arithmetic and results cannot depend on partitioning. State per
    * round is ≤ K·|V| fixed-width rows; exact betweenness is |V| BFS
    * runs, pivots bound it to K regardless of graph size.
    * Returns (node, bc DOUBLE) = Σ over pivots of delta — unnormalized,
    * levels 1..hops-1 (the hop-cap truncates deeper dependencies; pivots
    * contribute nothing to themselves by construction). */
  def betweennessApprox(und: DataFrame, pivots: DataFrame, hops: Int): DataFrame = {
    val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(20, 8))
    val e = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    var levels = Vector(
      pivots.select(col("p"), col("p").as("node"), lit(1L).as("sig")).localCheckpoint())
    var visited = levels(0).select(col("p"), col("node")).localCheckpoint()
    for (_ <- 1 to hops) {
      val prev = levels.last
      val cand = e.join(prev, e("src") === prev("node"))
        .select(col("p"), col("dst").as("node"), col("sig"))
      val nxt = cand.join(visited, Seq("p", "node"), "left_anti")
        .groupBy(col("p"), col("node")).agg(sum(col("sig")).as("sig"))
        .localCheckpoint()
      levels :+= nxt
      visited = visited.unionByName(nxt.select(col("p"), col("node"))).localCheckpoint()
    }
    var nextInfo = levels(hops)
      .select(col("p").as("np"), col("node").as("w"), col("sig").as("sigw"),
        zero.as("dw"))
    val deltas = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- hops - 1 to 1 by -1) {
      val cur = levels(d)
      val contrib = e.join(cur, e("src") === cur("node"))
        .join(nextInfo, col("dst") === col("w") && col("p") === col("np"))
        .select(col("p"), col("node"),
          // floor idiom, not round(,8): a contribution landing on an 8dp
          // half-boundary splits Spark's HALF_UP from DuckDB's
          // scaled-binary rounding (invariant 12 — the r12 sf0.1 staged
          // sweep caught exactly one such tie, bc off by 1e-6)
          NodeEmbedding.pround(
            col("sig").cast("double") / col("sigw").cast("double") *
              (lit(1.0) + col("dw").cast("double")), 8)
            .cast(org.apache.spark.sql.types.DecimalType(20, 8)).as("c"))
        .groupBy(col("p"), col("node")).agg(sum(col("c")).as("delta"))
      val deltaD = cur.join(contrib, Seq("p", "node"), "left")
        .select(col("p"), col("node"), col("sig"),
          coalesce(col("delta"), zero).as("delta"))
        .localCheckpoint()
      deltas += deltaD.select(col("p"), col("node"), col("delta"))
      nextInfo = deltaD.select(col("p").as("np"), col("node").as("w"),
        col("sig").as("sigw"), col("delta").as("dw"))
    }
    deltas.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("delta")).as("bc_dec"))
      .select(col("node"), col("bc_dec").cast("double").as("bc"))
  }

  /** Fixed-point scale for integer PageRank: ranks live in [0, 10^12]. */
  val PrScale = 1000000000000L

  /** Exact deterministic PageRank: `iters` synchronous iterations in
    * 10^-12 fixed-point BIGINT arithmetic (damping 0.85 as the rational
    * 85/100, truncating integer division throughout). Integer sums are
    * exact and associative, so the result is bit-identical regardless of
    * partitioning/merge order — unlike double-precision PageRank, this
    * hash-matches a sequential oracle at any cluster size. Dangling-node
    * mass is dropped (no redistribution), matching the unrolled-CTE oracle.
    * It is [[personalizedPageRank]] with every node a seed.
    *
    * Per iteration: one shuffle for the contribution aggregation, one for
    * the rank re-join; lineage is cut with localCheckpoint so the plan
    * doesn't grow multiplicatively with iteration count.
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int): DataFrame =
    fixedPointRank(edges, lit(true), _.count(), iters)

  /** Personalized PageRank: the [[pageRankFixedPoint]] kernel, but ALL
    * teleport mass returns to the seed set (init = PrScale/|S| on seeds,
    * 0 elsewhere; per-iteration base paid only to seeds) —
    * proximity-to-seeds ranking, the "related items" / seed-expansion
    * primitive. Exact BIGINT arithmetic keeps it bit-identical at any
    * partitioning, so the unrolled-CTE oracle reproduces every rank. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           iters: Int): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a seed set")
    fixedPointRank(edges, col("n").isin(seeds: _*), _ => seeds.size, iters)
  }

  /** The integer PageRank kernel: nodes where `isSeed` (over the node
    * column `n`) holds start at PrScale/|S| and receive the teleport
    * base, where |S| = `seedCount` of the node table. A zero count
    * (PageRank of an empty graph) returns the empty node table. */
  private def fixedPointRank(edges: DataFrame, isSeed: Column,
                             seedCount: DataFrame => Long, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).distinct().localCheckpoint()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val n = seedCount(nodes)
    if (n == 0)
      return nodes.select(col("n").as("node"), lit(0L).as("rank_fp"))
    val init = PrScale / n
    val base = (15L * init) / 100L
    var rank = nodes.select(col("n"),
      when(isSeed, lit(init)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(rank, e("src") === rank("n")).join(outdeg, "src")
        .select(col("dst").as("n"), expr("r DIV od").as("c"))
        .groupBy("n").agg(sum(col("c")).as("cs"))
      rank = nodes.join(contrib, Seq("n"), "left")
        .select(col("n"),
          (when(isSeed, lit(base)).otherwise(lit(0L)) +
            expr("(85 * coalesce(cs, CAST(0 AS BIGINT))) DIV 100")).as("r"))
        .localCheckpoint()
    }
    rank.select(col("n").as("node"), col("r").as("rank_fp"))
  }

  /** Fixed-point scale for eigenvector centrality: after every rescale
    * the rank vector sums to ~10^6 (parts-per-million shares). The small
    * scale is what makes the arithmetic overflow-proof: pre-rescale mass
    * is ≤ max_outdeg·10^6 and the rescale numerator ≤ 10^12·10^6 = 10^18
    * < Long.MaxValue for any out-degree up to 10^6. */
  val EigScale = 1000000L

  /** Eigenvector centrality by power iteration with an INTEGER L1
    * renormalization each round — the centrality family member PageRank's
    * teleport deliberately hides (a hub's score here is exactly the sum
    * of its in-neighbours' scores, no damping floor). x_{i+1} =
    * normalize(Aᵀ x_i), where normalize rescales to Σx = [[EigScale]]
    * via truncating integer division (x·EigScale DIV Σ) — the rescale is
    * what doubles-based power iteration does with a norm divide, but
    * exact: every iterate is a pure integer function of the graph, so the
    * result is bit-identical at any partitioning and the unrolled-CTE
    * oracle replays every round. Mass parked on sink nodes drains (no
    * teleport); if the whole vector drains to zero the rescale guard
    * keeps zeros instead of dividing by it. Per iteration: one
    * contribution shuffle + one rank re-join, lineage cut per round —
    * the identical scale shape as [[pageRankFixedPoint]].
    *
    * Returns (node, eig_fp) — parts-per-million of the L1-normalized
    * principal eigenvector direction after `iters` rounds. */
  def eigenvectorCentrality(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).distinct().localCheckpoint()
    val n = nodes.count()
    if (n == 0)
      return nodes.select(col("n").as("node"), lit(0L).as("eig_fp"))
    // seed = max(share, 1): for n ≤ EigScale this IS the exact 10^6/n
    // share; past 10^6 nodes the integer share truncates to 0 and would
    // silently zero the whole iteration, so floor at 1 — the first
    // rescale renormalizes to ΣEigScale regardless of the seed's scale
    // (round-1 rescale numerator ≤ indeg·10^6, still < Long.MaxValue).
    var rank = nodes.select(col("n"), lit(math.max(EigScale / n, 1L)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(rank, e("src") === rank("n"))
        .select(col("dst").as("n"), col("r"))
        .groupBy("n").agg(sum(col("r")).as("c"))
      val tot = contrib.agg(sum(col("c")).as("s"))
      rank = nodes.join(contrib, Seq("n"), "left")
        .crossJoin(broadcast(tot))
        .select(col("n"),
          when(col("s").isNull || col("s") === 0L, lit(0L))
            .otherwise(expr(
              s"(coalesce(c, CAST(0 AS BIGINT)) * $EigScale) DIV s"))
            .as("r"))
        .localCheckpoint()
    }
    rank.select(col("n").as("node"), col("r").as("eig_fp"))
  }

  /** Earliest-arrival temporal reachability: `rounds` synchronous
    * label-correcting rounds of
    * arr(v) ← min(arr(v), min{ts : (u,v,ts) ∈ E, ts ≥ arr(u)}) from
    * `start` (arrival = epoch). Time-respecting paths only — an edge that
    * fired before you arrived at its source is unusable, so the reachable
    * set is a strict subset of static BFS's. Earliest arrival has optimal
    * substructure (an earlier arrival only unlocks MORE outgoing edges),
    * so bounded rounds give exact earliest arrival over ≤`rounds`-edge
    * temporal paths; the min semiring keeps every round
    * order-independent and bit-identical at any partitioning. Expects
    * the RAW multi-edge stream (src, dst, ts) — per-edge timestamps are
    * the traversed information. Per round: one src-keyed equi-join with
    * the time guard as a join predicate + one min agg. */
  def temporalReachability(edges: DataFrame, start: Long,
                           rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("ts")).localCheckpoint()
    var arr = e.sparkSession.range(1)
      .select(lit(start).as("node"),
        lit("1970-01-01 00:00:00").cast("timestamp").as("arr"))
    for (_ <- 1 to rounds) {
      val cand = e.join(arr, e("src") === arr("node") && e("ts") >= arr("arr"))
        .groupBy(e("dst")).agg(min(e("ts")).as("arr"))
        .select(col("dst").as("node"), col("arr"))
      arr = arr.unionByName(cand)
        .groupBy(col("node")).agg(min(col("arr")).as("arr"))
        .localCheckpoint()
    }
    arr
  }

  /** Both directions of the undirected simple edge set — the adjacency
    * relation the per-node iterative algorithms below join against. */
  private def bothWays(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    und.unionAll(und.select(col("v"), col("u"))).toDF("u", "v")
  }

  /** The checkpointed both-ways adjacency helpers derive internally —
    * public so a COMPOSED query (LPA feeding a Louvain move / modularity
    * score) can build it ONCE and hand the same frame to every stage
    * (r14-opt: each helper re-deriving it paid one extra undirected
    * distinct + materialization of the full edge list per stage). */
  def bothWaysCheckpointed(edges: DataFrame): DataFrame =
    bothWays(edges).localCheckpoint()

  /** Synchronous min-label propagation, `iters` rounds of
    * label(v) ← min(label(v), min over neighbors label(u)), labels seeded
    * with node ids. The min semiring makes every round order-independent —
    * no random tie-breaks, so the result hash-matches a sequential oracle
    * at any parallelism. After diam(G) rounds this is exactly connected
    * components; at fewer rounds it is bounded-radius community labels
    * (what the declared query uses). One equi-join + one min-agg shuffle
    * per round.
    *
    * r15 (guide §2.4/§5): min over N(v) ∪ {v} expressed by appending one
    * self-loop per node to the adjacency ONCE, so each round references
    * the label table exactly once (a join) instead of twice (join +
    * union-with-previous). With a single reference per round the whole
    * iters-round chain is a LINEAR lazy plan — no per-round
    * localCheckpoint jobs, no superseded checkpoint blocks to free, one
    * Spark job for the entire propagation instead of one per round.
    * Recurrence unchanged: lab'(v) = min_{u ∈ N(v) ∪ {v}} lab(u) ≡
    * min(lab(v), min_{u∼v} lab(u)); BIGINT min, so bit-identical. */
  def labelPropagation(edges: DataFrame, iters: Int,
                       prebuiltEe: DataFrame = null): DataFrame = {
    val ee = if (prebuiltEe != null) prebuiltEe
      else bothWays(edges).localCheckpoint()
    // Lazy narrow union over the checkpointed adjacency: one (u, u) row per
    // EDGE row (duplicates are absorbed by the min) — no distinct shuffle,
    // no second materialized copy of the edge list.
    val eeSelf = ee.unionByName(ee.select(col("u"), col("u").as("v")))
    var lab = ee.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) {
      lab = eeSelf.join(lab, eeSelf("u") === lab("node"))
        .select(eeSelf("v").as("node"), col("label"))
        .groupBy("node").agg(min(col("label")).as("label"))
    }
    // Materialize ONCE at the end: composed consumers (modularity reads the
    // labeling twice, louvainMove four times) must not re-execute the whole
    // chain per reference. 2 eager jobs total (eeSelf + result) vs the old
    // one-per-round.
    lab.localCheckpoint()
  }

  /** Connected components of the undirected graph over `edges` (src,
    * dst) → (node, component), component = the minimum member id (both
    * BIGINT). Every non-null endpoint is a vertex, so a node whose only
    * edges are self-loops is its own component; an edge with a null
    * endpoint contributes nothing. Labels are node ids and every step is
    * a min — order-independent, so the answer hash-matches a
    * true-reachability oracle at any parallelism.
    *
    * The canonical (u ≤ v) edge rows are counted once. At or under
    * `localEdgeLimit` — after a [[requireDriverFits]] heap check — it is
    * collected and solved with one driver-side union-find pass, because
    * below a few million edges the per-round scheduling of a distributed
    * fixpoint costs more than the whole problem. Above the gate each
    * round runs (1) a neighbor-min step label(v) ← min(label(v),
    * min_{u∼v} label(u)) — the [[labelPropagation]] kernel — then (2) a
    * pointer-jumping step label(v) ← min(label(v), label(label(v))) that
    * chases each label one hop up its own component tree. Jumping
    * roughly doubles the radius the component minimum has flooded per
    * round, so convergence takes O(log diam) rounds instead of O(diam).
    * The loop stops on the first round that changes no label and fails
    * LOUDLY after `maxIters` rounds: a silently-unconverged CC is a wrong
    * answer, not a slow one (the q_spatial_dbscan oracle caught exactly
    * that at 8 fixed rounds). [[GraphXOps.connectedComponents]] is the
    * RDD/Pregel form of the same fixpoint. */
  def connectedComponents(edges: DataFrame, maxIters: Int,
                          localEdgeLimit: Long = 1L << 22): DataFrame = {
    val (s, d) = (col("src").cast("long"), col("dst").cast("long"))
    // duplicates stay until the gate: the union-find absorbs them, so only
    // the distributed path pays the dedup shuffle
    val und = edges.filter(s.isNotNull && d.isNotNull)
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .localCheckpoint()
    val m = und.count()
    if (m <= localEdgeLimit) {
      requireDriverFits(m, "connected components")
      val spark = edges.sparkSession
      import spark.implicits._
      minRootUnionFind(und.as[(Long, Long)].collect()).toDF("node", "component")
    } else {
      val ee = und.unionAll(und.select(col("v"), col("u"))).distinct()
        .localCheckpoint()
      var lab = ee.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("comp"))
        .localCheckpoint()
      var converged = false
      var round = 0
      while (!converged && round < maxIters) {
        round += 1
        val nb = ee.join(lab, ee("u") === lab("node"))
          .select(ee("v").as("node"), col("comp"))
        val stepped = lab.unionByName(nb)
          .groupBy("node").agg(min(col("comp")).as("comp"))
        // labels are always node ids, so comp(n) resolves in `stepped` itself
        val next = stepped.join(
            stepped.select(col("node").as("comp"), col("comp").as("pcomp")),
            Seq("comp"))
          .select(col("node"), least(col("comp"), col("pcomp")).as("comp"))
          .localCheckpoint()
        val changed = next.join(lab.select(col("node"), col("comp").as("prev")),
            Seq("node"))
          .filter(col("comp") =!= col("prev")).count()
        // `changed` was the last reader of the previous round's checkpoint
        org.apache.spark.sql.graft.bridge.unpersistCheckpoint(lab)
        lab = next
        converged = changed == 0L
      }
      require(converged,
        s"connected components did not converge in $maxIters pointer-doubling " +
          "rounds; raise the budget (labels would silently be wrong)")
      lab.select(col("node"), col("comp").as("component"))
    }
  }

  /** Driver-side union-find over `pairs`, iterative so a chain-shaped
    * input near the collect gate cannot overflow the JVM stack. Union
    * always hangs the larger root under the smaller, so every root is
    * its component's minimum: returns node → minimum member, for every
    * node in `pairs`. */
  private def minRootUnionFind(pairs: Iterable[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toSeq.map(n => (n, find(n)))
  }

  /** Per-community Newman modularity contributions for a given node
    * labeling (e.g. [[labelPropagation]]'s): for community c,
    * q_c = e_c/(2m) − (d_c/(2m))², where e_c counts BOTH directions of
    * intra-community edges, d_c is the community degree sum, and 2m is the
    * directed-pair count of the undirected simple graph — Σ q_c is the
    * partition's modularity Q, THE quality number community detection is
    * judged by (clustering without it is unfalsifiable). All inputs stay
    * exact integers until one final double division per community, so the
    * result hash-matches a sequential oracle at any parallelism. Shape:
    * two label joins on the edge list + two small aggs — linear, no
    * all-pairs anywhere. Returns (label, n_nodes, e_intra2, deg_sum,
    * q_contrib). */
  def modularity(edges: DataFrame, labels: DataFrame,
                 prebuiltEe: DataFrame = null): DataFrame = {
    val ee = if (prebuiltEe != null) prebuiltEe
      else bothWays(edges).localCheckpoint()
    val m2 = ee.agg(count(lit(1)).as("m2"))
    val lu = labels.select(col("node").as("u"), col("label").as("lu"))
    val lv = labels.select(col("node").as("v"), col("label").as("lv"))
    val deg = ee.groupBy("u").agg(count(lit(1)).as("deg"))
    val byLabel = deg.join(lu, "u")
      .groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = ee.join(lu, "u").join(lv, "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_intra2"))
    byLabel.join(intra, Seq("label"), "left")
      .withColumn("e_intra2", coalesce(col("e_intra2"), lit(0L)))
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"), col("e_intra2"), col("deg_sum"),
        round(col("e_intra2").cast("double") / col("m2") -
          (col("deg_sum").cast("double") / col("m2")) *
            (col("deg_sum").cast("double") / col("m2")), 6).as("q_contrib"))
  }

  /** Louvain phase-2 graph coarsening (Blondel et al. 2008): collapse a
    * partition into its community super-graph — one node per community,
    * a super-edge (c1 ≤ c2) per pair of communities with `weight` = the
    * number of original CANONICAL edges between them (c1 = c2 rows carry
    * the intra-community edge count, the self-loop weight the next
    * Louvain level needs). This is what makes multi-level community
    * detection tractable at 100 TB: each level shrinks the edge list by
    * the coarsening factor, and the collapse itself is two node-keyed
    * label joins + ONE (c1, c2)-keyed count — linear in |E|, with the
    * giant-community key skew absorbed map-side by the count's partial
    * aggregation. Returns (c1, c2, weight). */
  def coarsenGraph(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val lsrc = labels.select(col("node").as("src"), col("label").as("lsrc"))
    val ldst = labels.select(col("node").as("dst"), col("label").as("ldst"))
    e.join(lsrc, "src").join(ldst, "dst")
      .select(least(col("lsrc"), col("ldst")).as("c1"),
        greatest(col("lsrc"), col("ldst")).as("c2"))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("weight"))
  }

  /** One synchronous Louvain local-moving round (Blondel et al. 2008
    * phase 1, the simultaneous-update variant distributed Louvain
    * implementations use): every node simultaneously re-labels to the
    * candidate community c — a neighbor's label or its own — maximizing
    * the INTEGER move score m2·e(u,c) − d(u)·d'(c), where e(u,c) counts
    * u's edges into c, d'(c) is c's degree sum excluding u when c is u's
    * own community, and m2 = |directed pairs| (2m). The score is the
    * standard modularity gain scaled by the positive constant 2m² — same
    * argmax, but EXACT BIGINT arithmetic end-to-end, so the chosen moves
    * (smallest-label tie-break) are bit-identical at any parallelism and
    * an unrolled-CTE oracle replays them. Because all nodes decide from
    * the OLD labels, the result is order-independent (sequential Louvain's
    * visit-order dependence is exactly what a distributed engine cannot
    * afford). Refines a coarse partition (e.g. [[labelPropagation]]'s)
    * toward higher [[modularity]]; a modularity-optimal partition is a
    * fixed point (spec: the perfect two-triangle split doesn't move).
    *
    * Scale shape: degree/community aggregations + one (u, neighbor-label)
    * groupBy + one per-node argmax window — all linear in |E|, keyed by
    * node or label, never all-pairs. Returns (node, label). */
  def louvainMove(edges: DataFrame, labels: DataFrame,
                  prebuiltEe: DataFrame = null): DataFrame = {
    val ee = if (prebuiltEe != null) prebuiltEe
      else bothWays(edges).localCheckpoint()
    val m2 = ee.agg(count(lit(1)).as("m2"))
    val deg = ee.groupBy("u").agg(count(lit(1)).as("deg"))
    val dc = deg.join(labels.select(col("node").as("u"), col("label")), "u")
      .groupBy(col("label").as("c")).agg(sum(col("deg")).as("dsum"))
    val euc = ee.join(labels.select(col("node").as("v"), col("label").as("c")), "v")
      .groupBy(col("u"), col("c")).agg(count(lit(1)).as("e"))
    val cand = euc.unionByName(
        labels.select(col("node").as("u"), col("label").as("c"), lit(0L).as("e")))
      .groupBy(col("u"), col("c")).agg(max(col("e")).as("e"))
    val own = labels.select(col("node").as("u"), col("label").as("own"))
    val wBest = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("c"))
    // dc is |labels|-rows small but its key is WILDLY skewed (min-label
    // flooding leaves one giant community): a shuffle join on c would
    // funnel most of cand into one partition (measured 26.7× at 10× rows)
    // — broadcast it so cand never repartitions by label
    cand.join(deg, "u").join(broadcast(dc), "c").join(own, "u")
      .crossJoin(broadcast(m2))
      .withColumn("score", col("m2") * col("e") - col("deg") *
        (col("dsum") - when(col("c") === col("own"), col("deg")).otherwise(lit(0L))))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("u").as("node"), col("c").as("label"))
  }

  /** The weighted Louvain local-moving round [[louvainMove]]'s integer
    * discipline generalizes to — the round that runs on a COARSENED
    * super-graph ([[coarsenGraph]]'s (c1 ≤ c2, weight) output, self-loops
    * carrying intra-community weight), which is what makes multi-level
    * Louvain possible: level L's move reads level L−1's super-graph, so
    * each level's cost is the (shrinking) super-edge count, never the
    * original |E|. Semantics per Blondel et al. 2008 on weighted graphs:
    * node u moves to the candidate community c (a neighbor's label or its
    * own) maximizing m2·e(u,c) − wdeg(u)·d'(c), where e(u,c) = Σ w(u,v)
    * over u's non-self edges into c, wdeg(u) = Σ_adj w + 2·w_self(u)
    * (a self-loop contributes both endpoints), d'(c) = Σ wdeg over c's
    * members excluding u when c is u's own community, and m2 = 2·Σ all
    * weights — equal to the ORIGINAL graph's 2m when the weights came
    * from [[coarsenGraph]], so scores are commensurate across levels.
    * All-BIGINT, smallest-label tie-break, synchronous (all nodes decide
    * from the old labels): bit-identical at any parallelism, oracle-
    * replayable. With unit weights and no self-loops this IS
    * [[louvainMove]] (spec-pinned). Caveat, measured on the bipartite
    * event fixture: simultaneous moves of MANY super-nodes into one
    * target can collectively overshoot and lower modularity — the
    * declared multi-level pipeline therefore uses the guaranteed-monotone
    * [[louvainMergeRound]] at level 2 and keeps this sweep for
    * seed-refinement shapes where per-node gains dominate. Returns
    * (node, label). */
  def louvainMoveWeighted(superEdges: DataFrame, labels: DataFrame): DataFrame = {
    val und = superEdges.filter(col("c1") =!= col("c2"))
      .select(col("c1").as("u"), col("c2").as("v"), col("weight"))
    val adj = und.unionByName(und.select(col("v").as("u"), col("u").as("v"),
      col("weight"))).localCheckpoint()
    val selfW = superEdges.filter(col("c1") === col("c2"))
      .select(col("c1").as("u"), col("weight").as("wself"))
    val m2 = superEdges.agg((sum(col("weight")) * lit(2L)).as("m2"))
    val nodes = labels.select(col("node").as("u"))
    val deg = nodes
      .join(adj.groupBy("u").agg(sum(col("weight")).as("aw")), Seq("u"), "left")
      .join(selfW, Seq("u"), "left")
      .select(col("u"), (coalesce(col("aw"), lit(0L)) +
        lit(2L) * coalesce(col("wself"), lit(0L))).as("wdeg"))
    val dc = deg.join(labels.select(col("node").as("u"), col("label")), "u")
      .groupBy(col("label").as("c")).agg(sum(col("wdeg")).as("dsum"))
    val euc = adj.join(labels.select(col("node").as("v"), col("label").as("c")), "v")
      .groupBy(col("u"), col("c")).agg(sum(col("weight")).as("e"))
    val cand = euc.unionByName(
        labels.select(col("node").as("u"), col("label").as("c"), lit(0L).as("e")))
      .groupBy(col("u"), col("c")).agg(max(col("e")).as("e"))
    val own = labels.select(col("node").as("u"), col("label").as("own"))
    val wBest = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("c"))
    // same skew rule as louvainMove: dc/deg/m2 are label- or node-count
    // sized and the label key is skewed — broadcast, never shuffle cand by c
    cand.join(deg, "u").join(broadcast(dc), "c").join(own, "u")
      .crossJoin(broadcast(m2))
      .withColumn("score", col("m2") * col("e") - col("wdeg") *
        (col("dsum") - when(col("c") === col("own"), col("wdeg")).otherwise(lit(0L))))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("u").as("node"), col("c").as("label"))
  }

  /** One agglomerative community-merge round over a coarsened super-graph
    * ([[coarsenGraph]]'s (c1 ≤ c2, weight), self-loops carrying intra
    * weight) — the level-2 step of the declared multi-level Louvain
    * pipeline. Merging communities a, b changes the exact modularity
    * numerator by 2·(m2·w(a,b) − wdeg(a)·wdeg(b)), and the gains of
    * DISJOINT merges are exactly additive, so the round merges a
    * deterministic MATCHING of positive-gain pairs: every community
    * points at its best positive-gain partner (gain desc, id tie-break)
    * and a pair merges iff the choice is MUTUAL. Mutual-best pairs are
    * disjoint by construction, every accepted merge strictly increases
    * modularity, hence Q(level 2) > Q(level 1) whenever any merge fires
    * and Q never decreases — the guarantee a SYNCHRONOUS local-move sweep
    * cannot give at this granularity ([[louvainMoveWeighted]]'s
    * simultaneous moves can collectively overshoot: measured Q −0.23 →
    * −0.5 on the bipartite event fixture when every node piles into the
    * same hub community). This is heavy-edge matching agglomeration
    * (METIS-style coarsening applied to modularity), all-BIGINT and
    * oracle-replayable.
    *
    * Scale shape: everything is keyed by community id over the
    * SUPER-graph (|communities| nodes, |super-edges| pairs — already
    * coarsened, orders of magnitude below |E|); the degree table is
    * community-count rows, broadcast like [[louvainMove]]'s dc for the
    * same skew reason. Returns the super-node relabel map (node, label):
    * label = min(a, b) for matched pairs, else the node itself. */
  def louvainMergeRound(superEdges: DataFrame): DataFrame = {
    val und = superEdges.filter(col("c1") =!= col("c2"))
    val adj = und.select(col("c1").as("u"), col("c2").as("v"), col("weight"))
      .unionByName(und.select(col("c2").as("u"), col("c1").as("v"),
        col("weight"))).localCheckpoint()
    val selfW = superEdges.filter(col("c1") === col("c2"))
      .select(col("c1").as("u"), col("weight").as("wself"))
    val m2 = superEdges.agg((sum(col("weight")) * lit(2L)).as("m2"))
    val nodes = superEdges.select(col("c1").as("u"))
      .unionByName(superEdges.select(col("c2").as("u"))).distinct()
    val deg = nodes
      .join(adj.groupBy("u").agg(sum(col("weight")).as("aw")), Seq("u"), "left")
      .join(selfW, Seq("u"), "left")
      .select(col("u"), (coalesce(col("aw"), lit(0L)) +
        lit(2L) * coalesce(col("wself"), lit(0L))).as("wdeg"))
    val gains = adj
      .join(broadcast(deg.select(col("u"), col("wdeg").as("du"))), "u")
      .join(broadcast(deg.select(col("u").as("v"), col("wdeg").as("dv"))), "v")
      .crossJoin(broadcast(m2))
      .select(col("u"), col("v"),
        (col("m2") * col("weight") - col("du") * col("dv")).as("g"))
      .filter(col("g") > 0)
    val wBest = Window.partitionBy(col("u")).orderBy(col("g").desc, col("v"))
    val best = gains.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1).select(col("u"), col("v"))
    val mutual = best.as("a").join(best.as("b"),
        col("a.u") === col("b.v") && col("a.v") === col("b.u"))
      .select(col("a.u").as("u"), col("a.v").as("v"))
    nodes.join(mutual, Seq("u"), "left")
      .select(col("u").as("node"),
        when(col("v").isNull, col("u"))
          .otherwise(least(col("u"), col("v"))).as("label"))
  }

  /** Integer fixed-point HITS over the DIRECTED edge set (src → dst),
    * `iters` unnormalized rounds: auth ← Aᵀ·hub, hub ← A·auth, seeds 1.
    * Skipping the usual L2 normalization keeps every value an exact
    * BIGINT — rankings are identical (normalization is a positive scalar)
    * and the result hash-matches a sequential oracle at any parallelism.
    * Values grow ~(d_max²)^iters, so iters must stay small (the declared
    * query uses 2 — far inside BIGINT for any fixture and for any graph
    * with d_max < ~2000 at iters 2). One equi-join + one sum-agg shuffle
    * per half-step, lineage cut per step. Returns (node, hub, auth). */
  def hitsFixedPoint(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src").as("u"), col("dst").as("v"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node"))).distinct().localCheckpoint()
    var hub = nodes.select(col("node"), lit(1L).as("h"))
    var auth = nodes.select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      val aIn = e.join(hub, e("u") === hub("node"))
        .groupBy(e("v").as("node")).agg(sum(col("h")).as("a"))
      auth = nodes.join(aIn, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0L)).as("a"))
        .localCheckpoint()
      val hOut = e.join(auth, e("v") === auth("node"))
        .groupBy(e("u").as("node")).agg(sum(col("a")).as("h"))
      hub = nodes.join(hOut, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0L)).as("h"))
        .localCheckpoint()
    }
    hub.join(auth, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Adamic-Adar link prediction: for each non-adjacent pair (a, b),
    * score = Σ over common neighbors w of 1/ln(deg(w)). Hubs with
    * degree > `maxHubDeg` are skipped — the standard pruning: a hub's
    * per-pair contribution 1/ln(d) is tiny while its wedge count C(d,2)
    * is what makes naive AA quadratic. With the cap, wedge rows are
    * ≤ |V|·C(maxHubDeg,2) — linear in nodes, cluster-safe. Degree-1 nodes
    * are filtered BEFORE the contribution divide (they'd produce no pair
    * anyway, but ANSI mode evaluates 1/ln(1) eagerly). Each contribution is
    * rounded to 8dp then summed as DECIMAL (order-independent); final
    * score rounded to 6dp. Returns (a, b, score). */
  def adamicAdar(edges: DataFrame, maxHubDeg: Int): DataFrame = {
    val ee = bothWays(edges).localCheckpoint()
    val deg = ee.groupBy(col("u").as("w")).agg(count(lit(1)).as("deg"))
    val nbr = ee.select(col("u").as("w"), col("v").as("n"))
      .join(deg.filter(col("deg") <= maxHubDeg && col("deg") >= 2), "w")
      .withColumn("c", round(lit(1.0) / log(col("deg").cast("double")), 8)
        .cast("decimal(18,8)"))
    val wedges = nbr.as("x").join(nbr.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"), col("x.c").as("c"))
    wedges.join(ee.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .groupBy("a", "b")
      .agg(round(sum(col("c")).cast("double"), 6).as("score"))
  }

  /** Bounded-round k-core peeling (onion decomposition): round i removes
    * every node whose degree within the surviving induced subgraph is < k.
    * Returns (node, peel_round) over ALL nodes — the 1-based round the node
    * was peeled at, 0 for survivors. Each non-final round removes ≥1 node,
    * so `rounds` ≥ |V| always reaches the fixpoint, where the 0-labels are
    * exactly the k-core; the declared query's round budget is past the
    * fixpoint on every fixture (asserted by GraphAnalyticsSpec). Two
    * shuffles per round (survivor semi-joins + degree agg). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val ee = bothWays(edges).localCheckpoint()
    var alive = ee.select(col("u").as("node")).distinct().localCheckpoint()
    var peeled = alive.select(col("node"), lit(0).as("peel_round")).limit(0)
    for (i <- 1 to rounds) {
      val keep = ee
        .join(alive.select(col("node").as("u")), "u")
        .join(alive.select(col("node").as("v")), "v")
        .groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("u").as("node"))
        .localCheckpoint()
      val dropped = alive.join(keep, Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("peel_round"))
      peeled = peeled.unionByName(dropped)
      alive = keep
    }
    peeled.unionByName(alive.select(col("node"), lit(0).as("peel_round")))
  }

  /** Per-edge triangle support over a canonical (u < v) simple edge set:
    * each enumerated triangle credits its three edges once. Only edges in
    * ≥ 1 triangle appear — k-truss peeling treats the rest as support 0. */
  private def edgeSupport(und: DataFrame): DataFrame =
    orientedTriangles(und)
      .select(explode(array(
        struct(least(col("a"), col("y")).as("u"),
          greatest(col("a"), col("y")).as("v")),
        struct(least(col("a"), col("z")).as("u"),
          greatest(col("a"), col("z")).as("v")),
        struct(least(col("y"), col("z")).as("u"),
          greatest(col("y"), col("z")).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))

  /** Bounded-round k-truss peeling (Cohen 2008): round i removes every edge
    * whose triangle support within the surviving subgraph is < k − 2.
    * Returns (u, v, peel_round) over ALL canonical undirected edges — the
    * 1-based round the edge was peeled at, 0 for survivors. After the
    * fixpoint the 0-labels are exactly the k-truss (every edge in ≥ k − 2
    * triangles of the truss); each non-final round removes ≥ 1 edge, so
    * `rounds` ≥ |E| always converges, and the declared query's budget is
    * past the fixpoint on every fixture (GraphAnalyticsSpec asserts the
    * next round changes nothing). Per round the support recount is the
    * degree-ordered O(m^1.5) triangle enumeration — never a per-node
    * neighborhood cross product — so each round is two equi-join shuffles
    * plus an aggregation, the shape that survives a 1000-executor graph. */
  /** Luby-style maximal independent set with deterministic hash
    * priorities (Luby 1986, the parallel-MIS workhorse): per round,
    * every undecided node whose priority is a strict minimum among its
    * UNDECIDED neighbors joins the set; its neighbors become dominated.
    * The priority pr(v) = H("mis:" v)·2²¹ + v is a single injective
    * BIGINT (requires node ids < 2²¹ — true for every fixture graph; at
    * larger id spaces widen the shift), so min-aggregation is exact and
    * the whole run is a pure function of the graph — replayable by the
    * SQL oracle and identical at any parallelism (a selected node can
    * never also be dominated: strict minimality is asymmetric). Per
    * round: one adjacency join + min-agg for neighbor minima, two
    * semi/anti joins to shrink the undecided set — the O(log n)
    * expected-round parallel shape, each round two shuffles. Returns
    * (node, state ∈ in|out|und, round decided; und ⇒ round 0). */
  def lubyMis(edges: DataFrame, rounds: Int): DataFrame = {
    val ee = bothWays(edges).localCheckpoint()
    val prio = graft.pipeline.TextOps.strHash(
      concat(lit("mis:"), col("n").cast("string"))) * lit(2097152L) + col("n")
    var undec = ee.select(col("u").as("n")).distinct()
      .withColumn("pr", prio).localCheckpoint()
    var decided = undec
      .select(col("n"), lit("in").as("state"), lit(0).as("round")).limit(0)
    var i = 1
    var fixpoint = false
    while (i <= rounds && !fixpoint) {
      val nb = ee
        .join(undec.select(col("n").as("v"), col("pr").as("vpr")), "v")
        .join(undec.select(col("n").as("u")), "u")
        .groupBy(col("u")).agg(min(col("vpr")).as("mn"))
      val sel = undec
        .join(nb.select(col("u").as("n"), col("mn")), Seq("n"), "left")
        .filter(col("mn").isNull || col("pr") < col("mn"))
        .select(col("n"))
        .localCheckpoint()
      val dominated = ee.join(sel.select(col("n").as("u")), "u")
        .select(col("v").as("n")).distinct()
        .join(undec.select(col("n")), Seq("n"), "left_semi")
      decided = decided
        .unionByName(sel.select(col("n"), lit("in").as("state"),
          lit(i).as("round")))
        .unionByName(dominated.select(col("n"), lit("out").as("state"),
          lit(i).as("round")))
      undec = undec
        .join(sel, Seq("n"), "left_anti")
        .join(dominated, Seq("n"), "left_anti")
        .localCheckpoint()
      // r15 early-exit (guide §2): with distinct hash priorities a
      // non-empty undecided set always selects its minimum, so undec can
      // only stop shrinking by becoming EMPTY — every later round then
      // produces zero 'in'/'out' rows and leaves undec empty, i.e. the
      // output is bit-identical with or without the remaining rounds.
      // The isEmpty probe reads the just-materialized checkpoint blocks
      // (one trivial job) and saves whole no-op rounds of join+checkpoint
      // past the fixpoint (3 of 5 rounds at sf0.1). Old undec/sel blocks
      // stay persisted: `decided` references them lazily until the final
      // union executes.
      fixpoint = undec.isEmpty
      i += 1
    }
    decided.unionByName(
      undec.select(col("n"), lit("und").as("state"), lit(0).as("round")))
  }

  /** Strongly connected components of a DIRECTED graph by iterated
    * forward/backward max-label propagation (the Pregel-era "coloring"
    * SCC; cf. Orzan 2004 / Salihoglu & Widom VLDB'14 — public
    * algorithms, original DataFrame formulation). Per peeling round,
    * over the remaining subgraph:
    *   fwd(v) = max id that can REACH v,  bwd(v) = max id v can REACH,
    * each computed by `propSteps` iterations of a neighbor-max step
    * fused with a pointer-jumping step lab(v) ← max(lab(v), lab(lab(v)))
    * — sound because lab(v) always holds a node on the required side of
    * v (reaching / reached), and reachability composes; jumping doubles
    * the propagated radius per step, so O(log diam) steps reach the
    * fixpoint exactly like [[connectedComponents]]' distributed path.
    * Extraction: fwd(v) = bwd(v) = c proves v→*c and c→*v, so v ∈
    * SCC(c); mutual-reachability paths never leave an SCC (any node on
    * a u⇄v cycle is itself mutually reachable with both), so whole SCCs
    * share (fwd, bwd) and are extracted COMPLETE, labeled with their
    * maximum member id. Removing an extracted SCC cannot disconnect a
    * surviving one, so peeling on the shrinking remainder is exact. The
    * global max remaining id always satisfies fwd = bwd = itself, so
    * every round extracts ≥ 1 SCC and the loop terminates; the round
    * cap only bounds pathological id-ordered SCC chains, and hitting it
    * throws rather than returning a partial labeling. Per round: two
    * label propagations (two equi-join shuffles per step) + one
    * node-keyed join — no transitive closure is ever materialized,
    * which is what makes SCC viable on a 100 TB edge list where the
    * closure is quadratic. Returns (node, scc = max member id).
    *
    * The finish is size-GATED like [[connectedComponents]]: once
    * the remaining edge count drops to `localEdgeLimit` the tail is
    * collected and solved with one driver-side iterative Tarjan pass —
    * after the giant SCC peels off, the remainder of a real graph is a
    * long straggler tail whose per-round frontier is tiny, exactly
    * where scheduling round-trips dominate (the trim-then-local-finish
    * design production SCC implementations use). Both paths label an
    * SCC with its maximum member id, so the mutual-reachability oracle
    * checks whichever combination ran. */
  /** Conservative per-collected-edge driver heap cost: a boxed (Long,
    * Long) tuple + array slot + union-find map entry. */
  val LocalFinishRowBytes = 96L

  /** Guard for the size-gated driver-side local finishes
    * ([[connectedComponents]], [[stronglyConnectedComponents]], the BFS
    * frontier) and the serving catalog's load: refuse
    * the collect when the bytes estimate exceeds a quarter of the heap
    * currently available to the driver JVM — a fat edge list fails
    * LOUDLY with an actionable message instead of OOMing the driver
    * mid-job. */
  def requireDriverFits(rows: Long, what: String,
                        rowBytes: Long = LocalFinishRowBytes): Unit = {
    val rt = Runtime.getRuntime
    val avail = rt.maxMemory - (rt.totalMemory - rt.freeMemory)
    val need = rows * rowBytes
    require(need <= avail / 4,
      s"$what local finish would collect $rows rows (~$need bytes) but only " +
        s"$avail heap bytes are free on the driver; raise driver memory or " +
        s"lower the local-finish limit so the tail stays distributed")
  }

  def stronglyConnectedComponents(edges: DataFrame, propSteps: Int = 32,
                                  maxRounds: Int = 40,
                                  localEdgeLimit: Long = 1L << 22): DataFrame = {
    // the forward and backward propagations are the SAME fixpoint over
    // mirrored edges, so both run as ONE keyed computation with a `dir`
    // column in every join key — half the scheduling round-trips, which
    // dominate once the remaining frontier is small
    def propagate(e2: DataFrame, nodes: DataFrame): DataFrame = {
      var lab = nodes
        .select(col("node"), explode(array(lit(0), lit(1))).as("dir"))
        .withColumn("lab", col("node"))
      // labels only ever INCREASE, so the label sum is strictly monotone
      // until the fixpoint: an unchanged sum IS convergence. Detecting it
      // beats a worst-case fixed step count because real rounds converge
      // in O(log diam) ≪ cap steps (a dense graph converges in 2-3), and
      // the fixpoint property — lab(v) ≥ lab(u) on every edge u→v —
      // guarantees lab(v) = max reaching id EXACTLY, independent of the
      // step budget
      var prev: java.math.BigDecimal = null
      var converged = false
      var step = 0
      while (!converged && step < propSteps) {
        step += 1
        val nb = e2.join(lab,
            e2("a") === lab("node") && e2("dir") === lab("dir"))
          .select(e2("b").as("node"), e2("dir").as("dir"), col("lab"))
        val stepped = lab.unionByName(nb)
          .groupBy("node", "dir").agg(max(col("lab")).as("lab"))
        // labels are remaining-node ids, so lab(lab) resolves in `stepped`
        lab = stepped.join(
            stepped.select(col("node").as("lab"), col("dir"),
              col("lab").as("plab")),
            Seq("lab", "dir"))
          .select(col("node"), col("dir"),
            greatest(col("lab"), col("plab")).as("lab"))
          .localCheckpoint()
        val s = lab.agg(sum(col("lab"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("s"))
          .head.getDecimal(0)
        if (s == prev) converged = true else prev = s
      }
      require(converged, s"SCC propagation did not converge in $propSteps steps")
      lab
    }
    var rem = edges.select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst")).localCheckpoint()
    var nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    var acc = nodes.select(col("node"), col("node").as("scc")).limit(0)
    var round = 0
    var finished = false
    while (round < maxRounds && !finished) {
      lazy val remRows = rem.count()
      if (nodes.isEmpty) { finished = true }
      else if (remRows <= localEdgeLimit) {
        requireDriverFits(remRows + nodes.count(), "SCC Tarjan")
        val es = rem.collect().map(r => (r.getLong(0), r.getLong(1)))
        val ns = nodes.collect().map(_.getLong(0))
        val comp = tarjanScc(ns, es)
        val spark = rem.sparkSession
        import spark.implicits._
        val local = ns.toSeq.map(n => (n, comp.getOrElse(n, n)))
          .toDF("node", "scc")
        acc = acc.unionByName(local).localCheckpoint()
        finished = true
      } else {
      val e2 = rem
        .select(col("src").as("a"), col("dst").as("b"), lit(0).as("dir"))
        .unionByName(rem
          .select(col("dst").as("a"), col("src").as("b"), lit(1).as("dir")))
      val both = propagate(e2, nodes)
        .groupBy("node")
        .agg(max(when(col("dir") === 0, col("lab"))).as("fwd"),
          max(when(col("dir") === 1, col("lab"))).as("bwd"))
        .localCheckpoint()
      acc = acc.unionByName(
          both.filter(col("fwd") === col("bwd"))
            .select(col("node"), col("fwd").as("scc")))
        .localCheckpoint()
      nodes = both.filter(col("fwd") =!= col("bwd"))
        .select("node").localCheckpoint()
      rem = rem
        .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint()
      round += 1
      }
    }
    require(finished,
      s"SCC peeling did not converge within $maxRounds rounds")
    acc
  }

  /** Iterative (explicit-stack) Tarjan SCC for the local finish of
    * [[stronglyConnectedComponents]]; labels each SCC with its maximum
    * member id to match the distributed path. */
  private def tarjanScc(ns: Array[Long],
                        es: Array[(Long, Long)]): Map[Long, Long] = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    val empty = Array.empty[Long]
    for (root <- ns if !index.contains(root)) {
      val work = scala.collection.mutable.Stack.empty[(Long, Iterator[Long])]
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      work.push((root, adj.getOrElse(root, empty).iterator))
      while (work.nonEmpty) {
        val (v, it) = work.top
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            work.push((w, adj.getOrElse(w, empty).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty) {
            val p = work.top._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            var members = List.empty[Long]
            var done = false
            while (!done) {
              val w = stack.remove(stack.length - 1); onStack -= w
              members ::= w
              if (w == v) done = true
            }
            val mx = members.max
            members.foreach(m => comp(m) = mx)
          }
        }
      }
    }
    comp.toMap
  }

  /** Borůvka minimum spanning forest (Borůvka 1926 — THE parallel MST:
    * O(log n) rounds, every step a keyed join/agg, no priority queue and
    * no union-find, which is why it is the algorithm that survives a
    * 100 TB edge list where Kruskal's global sort + sequential
    * union-find and Prim's frontier heap cannot run). Per round every
    * component selects its minimum incident cross-component edge under
    * the STRICT total order (w, u, v) — ties broken by endpoint ids, so
    * the selected structure in the component graph is a pseudo-forest
    * whose only cycles are 2-cycles (mutual minima, deduped on the edge
    * key) and the computed forest is the unique MSF under that order,
    * replayable edge-for-edge by a sequential oracle. Contraction
    * relabels via [[connectedComponents]] on the chosen component links
    * — size-gated, so the link table (one row per active component,
    * geometrically shrinking and orders of magnitude smaller than the
    * edge list) is usually solved by the driver-side union-find, and a
    * billion-component first round on a 100 TB edge list takes the
    * distributed pointer-jumping fixpoint instead. Components without a
    * cross edge are finished and keep their label. Components at least
    * halve per round, so
    * ⌈log₂ n⌉ rounds suffice; the loop exits on the first round with no
    * cross-component edge and throws if the cap is hit un-converged.
    * Input edges are canonicalized (least/greatest, self-loops dropped,
    * parallel edges keep min w). Returns the forest rows (u, v, w). */
  def boruvkaMst(edges: DataFrame, maxRounds: Int = 24): DataFrame = {
    val e = edges
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"), col("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))
      .localCheckpoint()
    var comp = e.select(col("u").as("n")).unionByName(e.select(col("v").as("n")))
      .distinct().select(col("n"), col("n").as("c")).localCheckpoint()
    var mst = e.limit(0)
    var round = 0
    var active = true
    while (round < maxRounds && active) {
      val cu = comp.select(col("n").as("u"), col("c").as("cu"))
      val cv = comp.select(col("n").as("v"), col("c").as("cv"))
      val x = e.join(cu, "u").join(cv, "v")
        .filter(col("cu") =!= col("cv")).localCheckpoint()
      if (x.isEmpty) { active = false }
      else {
        val inc = x.select(col("cu").as("cc"), col("w"), col("u"), col("v"),
            col("cu"), col("cv"))
          .unionByName(x.select(col("cv").as("cc"), col("w"), col("u"),
            col("v"), col("cu"), col("cv")))
        val chosen = inc.groupBy("cc")
          .agg(min(struct(col("w"), col("u"), col("v"), col("cu"),
            col("cv"))).as("me"))
          .select(col("me.u").as("u"), col("me.v").as("v"),
            col("me.w").as("w"), col("me.cu").as("cu"), col("me.cv").as("cv"))
          .distinct()
          .localCheckpoint()
        mst = mst.unionByName(chosen.select("u", "v", "w")).localCheckpoint()
        val merged = connectedComponents(
            chosen.select(col("cu").as("src"), col("cv").as("dst")), maxIters = 64)
          .select(col("node").as("c"), col("component").as("newc"))
        comp = comp.join(merged, Seq("c"), "left")
          .select(col("n"), coalesce(col("newc"), col("c")).as("c"))
          .localCheckpoint()
        round += 1
      }
    }
    require(!active, s"Boruvka did not converge within $maxRounds rounds")
    mst
  }

  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3 (got $k)")
    var alive = undirected(edges).localCheckpoint()
    var peeled = alive.select(col("u"), col("v"), lit(0).as("peel_round")).limit(0)
    var aliveCount = alive.count()
    var i = 1
    var fixpoint = false
    while (i <= rounds && !fixpoint) {
      val sup = edgeSupport(alive)
      val keep = alive.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select("u", "v")
        .localCheckpoint()
      // r15 early-exit (guide §2): support is a pure function of the
      // surviving edge set, so a round that peels NOTHING is a fixpoint —
      // every later round recomputes the same supports and peels nothing.
      // One count over the just-checkpointed blocks per round (trivial)
      // saves whole no-op rounds of the O(m^1.5) wedge join past
      // convergence; rows out are identical (skipped rounds contribute
      // zero peeled rows).
      val keepCount = keep.count()
      if (keepCount == aliveCount) {
        fixpoint = true
        alive = keep
      } else {
        peeled = peeled.unionByName(
          alive.join(keep, Seq("u", "v"), "left_anti")
            .select(col("u"), col("v"), lit(i).as("peel_round")))
        alive = keep
        aliveCount = keepCount
      }
      i += 1
    }
    peeled.unionByName(alive.select(col("u"), col("v"), lit(0).as("peel_round")))
  }
}
