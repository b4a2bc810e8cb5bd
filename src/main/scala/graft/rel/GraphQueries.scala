package graft.rel

import graft.{QueryDef, Tables}
import graft.graph.{Bfs, GraphOps}
import graft.hybrid.HybridSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared graph + hybrid operator queries — SURVEY.md §2.B cats 11 & 14.
  *
  * The graph is derived deterministically from fixtures: an edge per
  * (user, k%15, event_type) with weight = MAX(value) — a directed, typed,
  * weighted multigraph over ≤15 nodes, exactly the reference's edge model
  * (parallel edges across types, app.py:110-121). The DuckDB oracle runs a
  * depth-bounded recursive CTE: all walks of length = min-dist are simple,
  * so MAX(pw) at min dist equals max-weight-among-shortest-paths
  * (SURVEY §7.5.1) and both engines accumulate each winning path's weight
  * left-to-right → bit-identical doubles.
  */
object GraphQueries {

  /** The shared derived edge table, Spark side. */
  private[rel] def eventEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") % 15).as("dst"),
        $"event_type".as("etype"), $"value".as("w0"))
      .groupBy($"src", $"dst", $"etype")
      .agg(max($"w0").as("weight"))
      // one materialization per query: the derived edge table feeds both the
      // traversal loop and the induced-edge join; recomputing the JSON parse
      // + aggregation per consumer would double the dominant scan cost
      .localCheckpoint()
  }

  /** The same edge table, DuckDB side (CTE fragment). */
  private[rel] val edgesCte =
    """edges AS (
      |  SELECT user_id AS src,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) % 15 AS dst,
      |         event_type AS etype, MAX(value) AS w
      |  FROM events GROUP BY 1, 2, 3)""".stripMargin

  /** Depth-bounded BFS walk → (node, dist=min, pw=max at min dist). */
  private def bfsCte(depth: Int, typeFilter: Option[String],
                     table: String = "edges"): String = {
    val src = typeFilter.fold(table)(t => s"(SELECT * FROM $table WHERE etype = '$t')")
    s"""walk(node, dist, pw) AS (
       |  SELECT CAST(0 AS BIGINT), 0, CAST(0.0 AS DOUBLE)
       |  UNION ALL
       |  SELECT e.dst, w0.dist + 1, w0.pw + e.w
       |  FROM walk w0 JOIN $src e ON e.src = w0.node
       |  WHERE w0.dist < $depth),
       |lab AS (SELECT node, dist, pw, MIN(dist) OVER (PARTITION BY node) AS md FROM walk),
       |bfs AS (SELECT node, dist, MAX(pw) AS pw FROM lab WHERE dist = md GROUP BY node, dist)""".stripMargin
  }

  /** Untyped BFS, depth 3 from node 0 (O17; TC-GRAPH-01/03 shape). */
  val graphBfs = QueryDef(
    "q_graph_bfs",
    (s, dir) => {
      import s.implicits._
      Bfs.traverse(eventEdges(s, dir), lit(0L), depth = 3)
        .select($"node", $"dist", round($"path_weight", 6).as("path_weight"))
        .orderBy($"node")
    },
    Some(s"""WITH RECURSIVE $edgesCte, ${bfsCte(3, None)}
             SELECT node, dist, round(pw, 6) AS path_weight FROM bfs ORDER BY node"""))

  /** Type-filtered BFS (O16/O17 edge-type equality filter; TC-GRAPH-02). */
  val graphBfsTyped = QueryDef(
    "q_graph_bfs_typed",
    (s, dir) => {
      import s.implicits._
      Bfs.traverse(eventEdges(s, dir), lit(0L), depth = 3,
        edgeType = Some(("etype", "purchase")))
        .select($"node", $"dist", round($"path_weight", 6).as("path_weight"))
        .orderBy($"node")
    },
    Some(s"""WITH RECURSIVE $edgesCte, ${bfsCte(3, Some("purchase"))}
             SELECT node, dist, round(pw, 6) AS path_weight FROM bfs ORDER BY node"""))

  /** Closeness scoring over the traversal (O18) — the traversal-wide max
    * weight couples every node's score (1-row agg broadcast). */
  val graphScore = QueryDef(
    "q_graph_score",
    (s, dir) => {
      import s.implicits._
      val bfs = Bfs.traverse(eventEdges(s, dir), lit(0L), depth = 3)
      GraphOps.closeness(bfs, lit(0L), maxDepth = 3)
        .select($"node", $"dist", round($"path_weight", 6).as("path_weight"),
          round($"graph_score", 6).as("score"))
        .orderBy($"node")
    },
    Some(s"""WITH RECURSIVE $edgesCte, ${bfsCte(3, None)},
             mw AS (SELECT MAX(pw) AS max_w FROM bfs)
             SELECT node, dist, round(pw, 6) AS path_weight,
                    round(CASE WHEN node = 0 THEN 1.0
                               WHEN dist > 3 THEN 0.0
                               ELSE ((3 - dist + 1) / 4.0) *
                                    (CASE WHEN max_w > 0 THEN 0.5 + 0.5 * pw / max_w ELSE 1.0 END)
                          END, 6) AS score
             FROM bfs, mw ORDER BY node"""))

  /** Induced subgraph (O19): all edges with both endpoints visited —
    * NOT type-filtered (reference quirk, app.py:613-634). */
  val graphInduced = QueryDef(
    "q_graph_induced",
    (s, dir) => {
      import s.implicits._
      val edges = eventEdges(s, dir)
      val visited = Bfs.traverse(edges, lit(0L), depth = 2)
      GraphOps.inducedEdges(edges, visited)
        .select($"src", $"dst", $"etype", $"weight")
        .orderBy($"src", $"dst", $"etype")
    },
    Some(s"""WITH RECURSIVE $edgesCte, ${bfsCte(2, None)},
             vis AS (SELECT DISTINCT node FROM bfs)
             SELECT e.src, e.dst, e.etype, e.w AS weight FROM edges e
             WHERE e.src IN (SELECT node FROM vis) AND e.dst IN (SELECT node FROM vis)
             ORDER BY src, dst, etype"""))

  /** The BFS re-expressed as a NATIVE Spark SQL recursive CTE — Spark 4.x
    * executes `WITH RECURSIVE` (UnionLoop under Catalyst), so the exact
    * recursion the DuckDB oracle has always run now also runs verbatim on
    * the Spark side; only the edge-derivation CTE differs by JSON-function
    * dialect (get_json_object vs json_extract_string). Cross-checks
    * [[graft.graph.Bfs.traverse]] (the driver-loop implementation behind
    * q_graph_bfs) against the planner's own fixpoint execution — three
    * independent BFS engines, one hash. Depth-bounded recursion keeps the
    * per-iteration frontier an equi-join on the node key. */
  val graphBfsSql = QueryDef(
    "q_graph_bfs_sql",
    (s, dir) => {
      // materialize the derived edge table ONCE before the recursive SQL:
      // UnionLoop re-executes the recursion step's whole subtree per
      // level, and with the edges CTE inlined that re-paid the events
      // scan + JSON parse + aggregation every level (measured 3.1 s warm
      // at sf0.1; with the checkpointed view each level joins a cached
      // 2k-row table). The recursion itself still runs verbatim as
      // Spark SQL — the planner's own WITH RECURSIVE fixpoint.
      eventEdges(s, dir)
        .select(col("src"), col("dst"), col("etype"), col("weight").as("w"))
        .createOrReplaceTempView("bfs_edges")
      s.sql(
        s"""WITH RECURSIVE ${bfsCte(3, None, table = "bfs_edges")}
           |SELECT node, dist, round(pw, 6) AS path_weight FROM bfs ORDER BY node""".stripMargin)
    },
    Some(s"""WITH RECURSIVE $edgesCte, ${bfsCte(3, None)}
       |SELECT node, dist, round(pw, 6) AS path_weight FROM bfs ORDER BY node""".stripMargin))

  /** Full hybrid fusion pipeline (O20, cat 14): min-max-normalized vector
    * scores ⊕ BFS closeness from doc 0 over a deterministic doc ring graph,
    * 0.7/0.3 weights, final>0 filter, top-25. One composed Catalyst plan. */
  val hybrid = QueryDef(
    "q_hybrid",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents").select($"doc_id".as("id"))
      val vecScores = Tables(s, dir, "embeddings")
        .filter(size($"embedding") === 64)
        .select($"vec_id".as("id"),
          round(graft.functions.vec.dot($"embedding",
            typedlit(VectorQueries.queryVec)), 6).as("vector_score"))
      val ring = Tables(s, dir, "documents")
        .select($"doc_id".as("src"), (($"doc_id" * 7 + 13) % 500).as("dst"),
          (lit(1.0) + ($"doc_id" % 5)).as("weight"))
      val bfs = Bfs.traverse(ring, lit(0L), depth = 2)
      val g = GraphOps.closeness(bfs, lit(0L), maxDepth = 2)
        .select($"node".as("id"), $"graph_score")
      HybridSearch.fuse(docs, vecScores, Some(g),
        vectorWeight = 0.7, graphWeight = 0.3, topK = 25, roundTo = Some(6))
        .select($"id", round($"vec_norm", 6).as("vec_norm"),
          round($"graph_score", 6).as("graph_score"), $"final_score")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH RECURSIVE
         |ring AS (SELECT doc_id AS src, (doc_id * 7 + 13) % 500 AS dst,
         |                1.0 + (doc_id % 5) AS w
         |         FROM documents),
         |walk(node, dist, pw) AS (
         |  SELECT CAST(0 AS BIGINT), 0, CAST(0.0 AS DOUBLE)
         |  UNION ALL
         |  SELECT e.dst, w0.dist + 1, w0.pw + e.w
         |  FROM walk w0 JOIN ring e ON e.src = w0.node WHERE w0.dist < 2),
         |lab AS (SELECT node, dist, pw, MIN(dist) OVER (PARTITION BY node) AS md FROM walk),
         |bfs AS (SELECT node, dist, MAX(pw) AS pw FROM lab WHERE dist = md GROUP BY node, dist),
         |mw AS (SELECT MAX(pw) AS max_w FROM bfs),
         |gs AS (SELECT node AS id,
         |              CASE WHEN node = 0 THEN 1.0
         |                   WHEN dist > 2 THEN 0.0
         |                   ELSE ((2 - dist + 1) / 3.0) *
         |                        (CASE WHEN max_w > 0 THEN 0.5 + 0.5 * pw / max_w ELSE 1.0 END)
         |              END AS graph_score
         |       FROM bfs, mw),
         |vs AS (SELECT vec_id AS id,
         |              round(list_dot_product(CAST(embedding AS DOUBLE[]), $qv), 6) AS v
         |       FROM embeddings WHERE len(embedding) = 64),
         |mm AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM vs),
         |vn AS (SELECT id, CASE WHEN vmax = vmin THEN 1.0
         |                       ELSE (v - vmin) / (vmax - vmin) END AS vn
         |       FROM vs, mm),
         |f AS (SELECT d.doc_id AS id,
         |             COALESCE(vn.vn, 0.0) AS vnv,
         |             COALESCE(gs.graph_score, 0.0) AS gsv
         |      FROM documents d
         |      LEFT JOIN vn ON vn.id = d.doc_id
         |      LEFT JOIN gs ON gs.id = d.doc_id)
         |SELECT id, round(vnv, 6) AS vec_norm, round(gsv, 6) AS graph_score,
         |       round(0.7 * vnv + 0.3 * gsv, 6) AS final_score
         |FROM f WHERE round(0.7 * vnv + 0.3 * gsv, 6) > 0
         |ORDER BY final_score DESC, id LIMIT 25""".stripMargin
    })

  // ------------------------------------------------- whole-graph analytics
  /** Untyped distinct edge pairs, DuckDB side (requires edgesCte). */
  private val edCte = "ed AS (SELECT DISTINCT src, dst FROM edges)"

  /** Degree statistics per node: undirected simple degree + directed
    * out/in degrees over the derived event graph. */
  val graphDegree = QueryDef(
    "q_graph_degree",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir).select($"src", $"dst").distinct()
      val und = graft.graph.GraphAnalytics.undirected(ed)
      val deg = graft.graph.GraphAnalytics.degrees(und)
      val nodes = ed.select($"src".as("n")).union(ed.select($"dst".as("n"))).distinct()
      val outd = ed.groupBy($"src".as("n")).agg(count(lit(1)).as("outd"))
      val ind = ed.groupBy($"dst".as("n")).agg(count(lit(1)).as("ind"))
      nodes.join(deg, Seq("n"), "left").join(outd, Seq("n"), "left")
        .join(ind, Seq("n"), "left")
        .select($"n".as("node"),
          coalesce($"deg", lit(0L)).as("deg"),
          coalesce($"outd", lit(0L)).as("outd"),
          coalesce($"ind", lit(0L)).as("ind"))
        .orderBy($"node")
    },
    Some(s"""WITH $edgesCte, $edCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM ed WHERE src <> dst),
             deg AS (SELECT n, COUNT(*) AS deg
                     FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
                     GROUP BY n),
             nodes AS (SELECT DISTINCT n
                       FROM (SELECT src AS n FROM ed UNION ALL SELECT dst AS n FROM ed)),
             o AS (SELECT src AS n, COUNT(*) AS outd FROM ed GROUP BY src),
             i AS (SELECT dst AS n, COUNT(*) AS ind FROM ed GROUP BY dst)
             SELECT nodes.n AS node,
                    CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
                    CAST(COALESCE(o.outd, 0) AS BIGINT) AS outd,
                    CAST(COALESCE(i.ind, 0) AS BIGINT) AS ind
             FROM nodes LEFT JOIN deg ON deg.n = nodes.n
                        LEFT JOIN o ON o.n = nodes.n
                        LEFT JOIN i ON i.n = nodes.n
             ORDER BY node"""))

  /** Per-node triangle counts via degree-ordered orientation (the
    * O(m^1.5) scalable algorithm — see GraphAnalytics.triangleCounts);
    * the oracle mirrors the orientation algebraically. */
  val graphTriangles = QueryDef(
    "q_graph_triangles",
    (s, dir) => {
      import s.implicits._
      graft.graph.GraphAnalytics.triangleCounts(eventEdges(s, dir))
        .orderBy($"node")
    },
    Some(s"""WITH $edgesCte, $edCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM ed WHERE src <> dst),
             deg AS (SELECT n, COUNT(*) AS d
                     FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
                     GROUP BY n),
             ori AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                                 THEN u ELSE v END AS a,
                            CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                                 THEN v ELSE u END AS b,
                            CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                                 THEN dv.d ELSE du.d END AS db
                     FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
             w AS (SELECT e1.a AS a, e1.b AS y, e2.b AS z
                   FROM ori e1 JOIN ori e2 ON e1.a = e2.a
                   WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)),
             t AS (SELECT w.a, w.y, w.z FROM w JOIN ori c ON c.a = w.y AND c.b = w.z)
             SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
             FROM (SELECT unnest([a, y, z]) AS node FROM t)
             GROUP BY node ORDER BY node"""))

  /** Oracle-side k-truss peel rounds: per round i, sup = per-edge common
    * neighbor count (one pair equi-join over both-ways adjacency, exactly
    * the support definition), then e(i+1) keeps support ≥ k−2. e CTEs are
    * MATERIALIZED — the final peel-round left-join chain references every
    * round, and DuckDB inlines plain CTEs per reference. */
  private def ktrussCtes(k: Int, rounds: Int): String =
    (0 until rounds).map { i =>
      s"""b$i AS (SELECT u, v FROM e$i UNION ALL SELECT v AS u, u AS v FROM e$i),
         |s$i AS (SELECT e.u, e.v, COUNT(*) AS sup
         |        FROM e$i e JOIN b$i a ON a.u = e.u
         |        JOIN b$i b ON b.u = e.v AND b.v = a.v
         |        GROUP BY e.u, e.v),
         |e${i + 1} AS MATERIALIZED (
         |        SELECT e.u, e.v FROM e$i e
         |        JOIN s$i s ON s.u = e.u AND s.v = e.v
         |        WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")

  /** 5-truss onion decomposition of the hash-halved event graph, 7 peeling
    * rounds (past the fixpoint on every fixture — sf0.001 converges in 5
    * rounds, sf0.01 in 4, sf0.1 in 6; GraphAnalyticsSpec asserts one more
    * round changes nothing): (u, v, peel_round) for every edge, 0 = in the
    * 5-truss. The full event graph is too dense to peel (minimum support
    * 12 at sf0.01), so the derivation drops half the edges with the same
    * deterministic md5 hash rule sparseEdges uses — both engines keep the
    * identical half at every scale factor. */
  val graphKtruss = QueryDef(
    "q_graph_ktruss",
    (s, dir) => {
      import s.implicits._
      val und = graft.graph.GraphAnalytics.undirected(
          eventEdges(s, dir).select($"src", $"dst"))
        .filter(graft.pipeline.TextOps.strHash(
          concat($"u".cast("string"), lit(":"), $"v".cast("string"))) % 2 === 0)
        .select($"u".as("src"), $"v".as("dst"))
      graft.graph.GraphAnalytics.kTrussPeel(und, k = 5, rounds = 7)
        .orderBy($"u", $"v")
    },
    Some {
      val rounds = 7
      val cases = (1 to rounds).map(i => s"WHEN a$i.u IS NULL THEN $i").mkString(" ")
      val joins = (1 to rounds)
        .map(i => s"LEFT JOIN e$i a$i ON a$i.u = e0.u AND a$i.v = e0.v")
        .mkString(" ")
      s"""WITH $edgesCte, $edCte,
          und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                  FROM ed WHERE src <> dst),
          e0 AS MATERIALIZED (
            SELECT u, v FROM und
            WHERE (CAST(('0x'||substr(md5(CAST(u AS VARCHAR) || ':' ||
                     CAST(v AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 2147483647) % 2 = 0),
          ${ktrussCtes(5, rounds)}
          SELECT e0.u, e0.v, CAST(CASE $cases ELSE 0 END AS INT) AS peel_round
          FROM e0 $joins
          ORDER BY e0.u, e0.v"""
    })

  /** Degree assortativity (Pearson correlation of endpoint degrees over
    * the both-ways undirected edge list — Newman 2002's mixing
    * coefficient in its plain-Pearson form): every moment (Σx, Σy, Σxy,
    * Σx², Σy², M) is an exact BIGINT sum of integer degrees — map-side
    * partial-aggregable, one shuffle — and the coefficient is a single
    * double expression over the six exact integers, bit-identical in
    * both engines. Negative r = hubs attach to leaves (the expected
    * shape for this user↔key graph). */
  val graphAssortativity = QueryDef(
    "q_graph_assortativity",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir).select($"src", $"dst").distinct()
      val und = graft.graph.GraphAnalytics.undirected(ed)
      val both = und.unionAll(und.select($"v".as("u"), $"u".as("v")))
      val deg = graft.graph.GraphAnalytics.degrees(und)
      val e = both
        .join(deg.select($"n".as("u"), $"deg".as("x")), "u")
        .join(deg.select($"n".as("v"), $"deg".as("y")), "v")
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      // moment accumulators in DECIMAL(38,0): per-row products deg·deg
      // reach 10¹⁸ at 10⁹-degree hubs and their int64 SUM overflows far
      // earlier — decimals keep every moment exact at any graph size
      e.agg(count(lit(1)).as("m"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x".cast(dec) * $"y").as("sxy"),
          sum($"x".cast(dec) * $"x").as("sxx"),
          sum($"y".cast(dec) * $"y").as("syy"))
        // zero-variance guard (regular graphs — the sf0.001 graph is one):
        // r is undefined; emit 0.0 instead of an ANSI divide-by-zero.
        // Guard arithmetic in DECIMAL(38,0): m·sxx and sx² overflow
        // int64 once Σdeg² reaches ~10¹² (hit at the 10× bench scale) —
        // exact decimals keep the boolean identical at every scale
      .select($"m",
          when($"m".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx" <= 0 ||
               $"m".cast(dec) * $"syy" - $"sy".cast(dec) * $"sy" <= 0, lit(0.0))
            .otherwise(
              round(($"m".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
                (sqrt($"m".cast("double") * $"sxx" - $"sx".cast("double") * $"sx") *
                 sqrt($"m".cast("double") * $"syy" - $"sy".cast("double") * $"sy")),
                6)).as("r"))
    },
    Some(s"""WITH $edgesCte, $edCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM ed WHERE src <> dst),
             bi AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
             deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
                     FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
                     GROUP BY n),
             e AS (SELECT du.d AS x, dv.d AS y FROM bi
                   JOIN deg du ON du.n = bi.u JOIN deg dv ON dv.n = bi.v),
             s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                          SUM(CAST(x AS HUGEINT) * y) AS sxy,
                          SUM(CAST(x AS HUGEINT) * x) AS sxx,
                          SUM(CAST(y AS HUGEINT) * y) AS syy
                   FROM e)
             SELECT m,
                    CASE WHEN CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <= 0
                           OR CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy <= 0
                         THEN 0.0
                         ELSE round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                               (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                                sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                               6)
                    END AS r
             FROM s"""))

  /** Edge reciprocity of the DIRECTED event graph: the share of directed
    * edges whose reverse edge also exists — one (dst, src)-keyed
    * self-semi-join plus two counts, the standard directed-graph health
    * stat. Self-loops excluded (trivially reciprocal). */
  val graphReciprocity = QueryDef(
    "q_graph_reciprocity",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir).select($"src", $"dst").distinct()
        .filter($"src" =!= $"dst")
      val recip = ed.join(ed.select($"dst".as("src"), $"src".as("dst")),
        Seq("src", "dst"), "left_semi")
      ed.agg(count(lit(1)).as("m")).crossJoin(
          broadcast(recip.agg(count(lit(1)).as("mr"))))
        .select($"m", $"mr",
          round($"mr".cast("double") / $"m", 6).as("reciprocity"))
    },
    Some(s"""WITH $edgesCte, $edCte,
             d AS (SELECT src, dst FROM ed WHERE src <> dst),
             r AS (SELECT a.src, a.dst FROM d a
                   WHERE EXISTS (SELECT 1 FROM d b
                                 WHERE b.src = a.dst AND b.dst = a.src)),
             c AS (SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS m,
                          CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS mr)
             SELECT m, mr, round(CAST(mr AS DOUBLE) / m, 6) AS reciprocity
             FROM c"""))

  /** Exact fixed-point PageRank (5 iterations, damping 85/100, BIGINT
    * 10^-12 scale — GraphAnalytics.pageRankFixedPoint). Unlike the HLL/
    * double-precision variants, integer arithmetic makes the oracle exact:
    * the unrolled-CTE DuckDB query reproduces every rank bit-for-bit. */
  val graphPagerankExact = QueryDef(
    "q_graph_pagerank_exact",
    (s, dir) => {
      import s.implicits._
      graft.graph.GraphAnalytics
        .pageRankFixedPoint(eventEdges(s, dir), iters = 5)
        .orderBy($"node")
    },
    Some(pagerankSql(5)))

  /** Eigenvector centrality (GraphAnalytics.eigenvectorCentrality): power
    * iteration with an exact integer L1 rescale per round, so unlike
    * double-precision power iteration every iterate — including the
    * truncating renormalization divide — is replayed bit-for-bit by the
    * unrolled-CTE oracle. The un-damped counterpart of
    * q_graph_pagerank_exact on the same derived edge table: a node's
    * score is purely the sum of its in-neighbours' scores, which is the
    * statistic PageRank's 15% teleport floor deliberately blurs. */
  val graphEigen = QueryDef(
    "q_graph_eigen",
    (s, dir) => {
      import s.implicits._
      graft.graph.GraphAnalytics
        .eigenvectorCentrality(eventEdges(s, dir), iters = 5)
        .orderBy($"node")
    },
    Some {
      val iters = 5
      val sc = graft.graph.GraphAnalytics.EigScale
      val head =
        s"""WITH $edgesCte, $edCte,
           |nodes AS (SELECT DISTINCT n
           |          FROM (SELECT src AS n FROM ed UNION ALL SELECT dst AS n FROM ed)),
           |p AS (SELECT COUNT(*) AS n FROM nodes),
           |r0 AS (SELECT nodes.n, $sc // p.n AS r FROM nodes CROSS JOIN p)""".stripMargin
      val steps = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS n, SUM(r.r) AS c
           |        FROM ed e JOIN r${i - 1} r ON r.n = e.src
           |        GROUP BY e.dst),
           |s$i AS (SELECT SUM(c) AS s FROM c$i),
           |r$i AS (SELECT nodes.n,
           |               CASE WHEN s$i.s IS NULL OR s$i.s = 0 THEN 0
           |                    ELSE (COALESCE(c$i.c, 0) * $sc) // s$i.s
           |               END AS r
           |        FROM nodes CROSS JOIN s$i LEFT JOIN c$i ON c$i.n = nodes.n)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$steps
         |SELECT n AS node, CAST(r AS BIGINT) AS eig_fp FROM r$iters ORDER BY node""".stripMargin
    })

  /** Temporal (time-respecting) reachability from node 0: earliest
    * arrival over paths whose edge timestamps never decrease — the
    * contact-tracing / information-flow primitive static BFS cannot
    * express (an edge that fired BEFORE you arrived at its source is not
    * usable, so the reachable set is a strict subset of the static one).
    * Uses the RAW multi-edge stream with per-edge timestamps — the
    * (src, dst, etype) collapse every other graph query rides would
    * destroy exactly the information this query traverses. Four
    * synchronous label-correcting rounds of
    * arr(v) ← min(arr(v), min{ts : (u,v,ts), ts ≥ arr(u)}) — the min
    * semiring over MICROS instants, so every round is order-independent
    * and the unrolled oracle replays it exactly; earliest arrival has
    * optimal substructure (an earlier arrival only ever unlocks MORE
    * outgoing edges), so bounded rounds = exact earliest arrival over
    * ≤4-edge temporal paths. Per round: one src-keyed equi-join with the
    * time guard riding as a join predicate + one min agg — the
    * pageRankFixedPoint shuffle shape at any scale. */
  val graphTemporal = QueryDef(
    "q_graph_temporal",
    (s, dir) => {
      import s.implicits._
      val ed = Tables(s, dir, "events")
        .select($"user_id".as("src"),
          (get_json_object($"props", "$.k").cast("long") % 15).as("dst"),
          $"ts")
      graft.graph.GraphAnalytics.temporalReachability(ed, start = 0L, rounds = 4)
        .orderBy($"node")
    },
    Some {
      val head =
        s"""WITH tedges AS (SELECT user_id AS src,
           |         CAST(json_extract_string(props, '$$.k') AS BIGINT) % 15 AS dst,
           |         ts
           |       FROM events),
           |a0 AS (SELECT CAST(0 AS BIGINT) AS node,
           |              TIMESTAMP '1970-01-01 00:00:00' AS arr)""".stripMargin
      val steps = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.dst AS node, MIN(e.ts) AS arr
           |        FROM tedges e JOIN a${i - 1} a
           |          ON e.src = a.node AND e.ts >= a.arr
           |        GROUP BY e.dst),
           |a$i AS (SELECT node, MIN(arr) AS arr FROM
           |          (SELECT * FROM a${i - 1} UNION ALL SELECT * FROM c$i)
           |        GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$steps
         |SELECT node, arr FROM a4 ORDER BY node""".stripMargin
    })

  /** Bounded-hop weighted shortest paths from node 0 (min-plus semiring —
    * GraphAnalytics.shortestPaths). The multigraph collapses to min-weight
    * simple edges first (same min-plus result). The oracle replays the
    * SAME level-by-level Bellman–Ford relaxation as the engine — per hop
    * one edge-relax + per-node MIN — instead of enumerating walks with a
    * recursive CTE: a walk enumeration is exponential in the hop bound on
    * a dense graph (the r12 sf0.1 sweep measured the pivot variant
    * spilling >50 GB), while relaxation is |E| work per level. FP-safe
    * AND result-identical: IEEE addition is monotonic, so min-then-add
    * equals enumerate-then-min bit-for-bit. */
  val graphSssp = QueryDef(
    "q_graph_sssp",
    (s, dir) => {
      import s.implicits._
      val ed2 = eventEdges(s, dir)
        .groupBy($"src", $"dst").agg(min($"weight").as("weight"))
      graft.graph.GraphAnalytics.shortestPaths(ed2, start = 0L, hops = 4)
        .select($"node", round($"dist", 6).as("dist"))
        .orderBy($"node")
    },
    Some {
      val levels = (1 to 4).map { k =>
        s"""l$k AS (SELECT node, MIN(pw) AS pw FROM (
           |         SELECT node, pw FROM l${k - 1}
           |         UNION ALL
           |         SELECT e.dst, l.pw + e.w FROM l${k - 1} l
           |         JOIN ed2 e ON e.src = l.node) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCte,
         |ed2 AS (SELECT src, dst, MIN(w) AS w FROM edges GROUP BY src, dst),
         |l0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS pw),
         |$levels
         |SELECT node, round(pw, 6) AS dist
         |FROM l4 ORDER BY node""".stripMargin
    })

  /** Pivot-sampled harmonic centrality — closeness's robust sibling
    * (Boldi–Vigna 2014: Σ 1/d instead of 1/Σd, so disconnection costs a
    * term instead of special-casing): same K = 5 pivot multi-source BFS
    * as q_graph_closeness_approx, but the statistic is EXACT-RATIONAL —
    * hop distances are ≤ 4, so Σ 1/d = (Σ 12/d)/12 with every 12/d an
    * exact integer (lcm trick), the sum an order-independent BIGINT, and
    * the single final division the only float op. Unreached pivots
    * contribute 0 naturally — no reachability cap needed at all. */
  val graphHarmonic = QueryDef(
    "q_graph_harmonic",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir)
      val und = graft.graph.GraphAnalytics.undirected(ed.select($"src", $"dst"))
      val nodes = und.select($"u".as("n"))
        .unionByName(und.select($"v".as("n"))).distinct()
      val pivots = nodes.orderBy($"n").limit(5).select($"n".as("p"))
      val d = graft.graph.GraphAnalytics.multiSourceHopDistances(
        und, pivots, hops = 4)
      nodes.join(d.filter($"d" > 0)
            .select($"node".as("n"), expr("12 DIV d").as("q")),
          Seq("n"), "left")
        .groupBy($"n")
        .agg(coalesce(sum($"q"), lit(0L)).as("sum_q"))
        .select($"n".as("node"), $"sum_q",
          round($"sum_q" / lit(12.0), 6).as("harmonic"))
        .orderBy($"node")
    },
    Some(s"""WITH RECURSIVE $edgesCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM edges WHERE src <> dst),
             bi AS (SELECT u AS src, v AS dst FROM und
                    UNION ALL SELECT v, u FROM und),
             nodes AS (SELECT DISTINCT n FROM
                         (SELECT u AS n FROM und UNION ALL SELECT v FROM und)),
             piv AS (SELECT n AS p FROM nodes ORDER BY n LIMIT 5),
             walk(p, node, d) AS (
               SELECT p, p, 0 FROM piv
               UNION
               SELECT w.p, e.dst, w.d + 1
               FROM walk w JOIN bi e ON e.src = w.node WHERE w.d < 4),
             md AS (SELECT p, node, MIN(d) AS d FROM walk GROUP BY p, node),
             hq AS (SELECT node, 12 // d AS q FROM md WHERE d > 0)
             SELECT nodes.n AS node,
                    CAST(COALESCE(SUM(hq.q), 0) AS BIGINT) AS sum_q,
                    round(COALESCE(SUM(hq.q), 0) / 12.0::DOUBLE, 6) AS harmonic
             FROM nodes LEFT JOIN hq ON hq.node = nodes.n
             GROUP BY nodes.n ORDER BY node"""))

  /** Pivot-sampled approximate closeness centrality (Eppstein–Wang):
    * hop distances from K = 5 deterministic pivots (the smallest node
    * ids) to every node in ONE shared multi-source BFS, distance capped
    * at hops+1 for pivots that cannot reach a node within the bound, and
    * approx_closeness = K / Σ_p min(d(p,v), hops+1). Exact closeness is
    * |V| BFS runs — pivot sampling is the standard fixed-work estimator,
    * and the capped sum makes the statistic total (no reachability
    * special-casing) and all-integer until one final division. */
  val graphClosenessApprox = QueryDef(
    "q_graph_closeness_approx",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir)
      val und = graft.graph.GraphAnalytics.undirected(ed.select($"src", $"dst"))
      val nodes = und.select($"u".as("n"))
        .unionByName(und.select($"v".as("n"))).distinct()
      val pivots = nodes.orderBy($"n").limit(5).select($"n".as("p"))
      val d = graft.graph.GraphAnalytics.multiSourceHopDistances(
        und, pivots, hops = 4)
      val dd = d.select($"p".as("dp"), $"node".as("dn"), $"d")
      broadcast(pivots).crossJoin(nodes)
        .join(dd, $"p" === $"dp" && $"n" === $"dn", "left")
        .groupBy($"n")
        .agg(sum(coalesce($"d", lit(5))).cast("long").as("sum_dist"),
          sum(when($"d".isNull, 1).otherwise(0)).cast("int").as("n_unreached"))
        .select($"n".as("node"), $"sum_dist", $"n_unreached",
          round(lit(5.0) / $"sum_dist", 6).as("approx_closeness"))
        .orderBy($"node")
    },
    Some(s"""WITH RECURSIVE $edgesCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM edges WHERE src <> dst),
             bi AS (SELECT u AS src, v AS dst FROM und
                    UNION ALL SELECT v, u FROM und),
             nodes AS (SELECT DISTINCT n FROM
                         (SELECT u AS n FROM und UNION ALL SELECT v FROM und)),
             piv AS (SELECT n AS p FROM nodes ORDER BY n LIMIT 5),
             walk(p, node, d) AS (
               SELECT p, p, 0 FROM piv
               UNION
               SELECT w.p, e.dst, w.d + 1
               FROM walk w JOIN bi e ON e.src = w.node WHERE w.d < 4),
             md AS (SELECT p, node, MIN(d) AS d FROM walk GROUP BY p, node),
             g AS (SELECT piv.p, nodes.n FROM piv CROSS JOIN nodes),
             st AS (SELECT g.n AS node,
                           SUM(COALESCE(md.d, 5)) AS sum_dist,
                           SUM(CASE WHEN md.d IS NULL THEN 1 ELSE 0 END) AS n_unreached
                    FROM g LEFT JOIN md ON md.p = g.p AND md.node = g.n
                    GROUP BY g.n)
             SELECT node, CAST(sum_dist AS BIGINT) AS sum_dist,
                    CAST(n_unreached AS INT) AS n_unreached,
                    round(5.0 / sum_dist, 6) AS approx_closeness
             FROM st ORDER BY node"""))

  /** Pivot-sampled neighborhood function + effective diameter (the ANF
    * statistic, Palmer et al. KDD'02, estimated from the same K = 5 pivot
    * BFS the closeness query shares): per hop h, reached = # of
    * (pivot, node) pairs with d ≤ h, frac = reached / pairs-within-cap,
    * and is_eff marks the smallest h covering ≥ 90% — the effective-
    * diameter reading. The 90% test is ALL-INTEGER (10·reached ≥ 9·total
    * — no rounded-double threshold compare); the cumulative sum is a
    * self-join over the ≤ hops+1-row per-hop table, never a window over
    * data rows. Exact ANF is all-pairs BFS; K pivots bound the work at
    * any graph size. */
  val graphDiameter = QueryDef(
    "q_graph_diameter",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir)
      val und = graft.graph.GraphAnalytics.undirected(ed.select($"src", $"dst"))
      val nodes = und.select($"u".as("n"))
        .unionByName(und.select($"v".as("n"))).distinct()
      val pivots = nodes.orderBy($"n").limit(5).select($"n".as("p"))
      val d = graft.graph.GraphAnalytics.multiSourceHopDistances(
        und, pivots, hops = 4)
      val byHop = d.groupBy($"d").agg(count(lit(1)).as("cnt"))
      val cum = byHop.as("a")
        .join(broadcast(byHop.as("b")), $"b.d" <= $"a.d")
        .groupBy($"a.d")
        .agg(sum($"b.cnt").as("reached"))
        .select($"d".as("h"), $"reached")
      val tot = byHop.agg(sum($"cnt").as("total"))
      val fr = cum.crossJoin(broadcast(tot))
      val mh = fr.filter($"reached" * 10 >= $"total" * 9)
        .agg(min($"h").as("mh"))
      fr.crossJoin(broadcast(mh))
        .select($"h", $"reached".cast("long").as("reached"),
          round($"reached".cast("double") / $"total", 6).as("frac"),
          when($"h" === $"mh", 1).otherwise(0).cast("int").as("is_eff"))
        .orderBy($"h")
    },
    Some(s"""WITH RECURSIVE $edgesCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM edges WHERE src <> dst),
             bi AS (SELECT u AS src, v AS dst FROM und
                    UNION ALL SELECT v, u FROM und),
             nodes AS (SELECT DISTINCT n FROM
                         (SELECT u AS n FROM und UNION ALL SELECT v FROM und)),
             piv AS (SELECT n AS p FROM nodes ORDER BY n LIMIT 5),
             walk(p, node, d) AS (
               SELECT p, p, 0 FROM piv
               UNION
               SELECT w.p, e.dst, w.d + 1
               FROM walk w JOIN bi e ON e.src = w.node WHERE w.d < 4),
             md AS (SELECT p, node, MIN(d) AS d FROM walk GROUP BY p, node),
             bh AS (SELECT d, COUNT(*) AS cnt FROM md GROUP BY d),
             cum AS (SELECT a.d AS h, SUM(b.cnt) AS reached
                     FROM bh a JOIN bh b ON b.d <= a.d GROUP BY a.d),
             tot AS (SELECT SUM(cnt) AS total FROM bh),
             mh AS (SELECT MIN(h) AS mh FROM cum, tot
                    WHERE reached * 10 >= total * 9)
             SELECT h, CAST(reached AS BIGINT) AS reached,
                    round(CAST(reached AS DOUBLE) / total, 6) AS frac,
                    CAST(CASE WHEN h = mh THEN 1 ELSE 0 END AS INT) AS is_eff
             FROM cum, tot, mh ORDER BY h"""))

  /** Per-node local clustering coefficient: cc = 2·tri / (deg·(deg−1)).
    *
    * Composes the O(m^1.5) degree-ordered triangle count with undirected
    * degrees — one extra broadcastable join over q_graph_triangles' plan.
    * FP-safe: 2·tri and deg·(deg−1) are exactly representable integers, so
    * the single IEEE division is bit-identical in both engines.
    */
  val graphClustering = QueryDef(
    "q_graph_clustering",
    (s, dir) => {
      import s.implicits._
      val ed = eventEdges(s, dir)
      val und = graft.graph.GraphAnalytics.undirected(ed.select($"src", $"dst"))
      val deg = graft.graph.GraphAnalytics.degrees(und)
      val tri = graft.graph.GraphAnalytics.triangleCounts(ed)
      deg.join(tri, deg("n") === tri("node"), "left")
        .select(deg("n").as("node"), $"deg",
          coalesce($"tri", lit(0L)).as("tri"),
          when($"deg" >= 2,
            // deg cast double BEFORE the product: deg·(deg−1) in int64
            // overflows past ~3·10⁹ neighbors (same class of cliff the
            // assortativity guard hit at the 10× bench)
            (lit(2.0) * coalesce($"tri", lit(0L))) /
              ($"deg".cast("double") * ($"deg" - 1)))
            .otherwise(lit(0.0)).as("cc"))
        .orderBy($"node")
    },
    Some(s"""WITH $edgesCte, $edCte,
             und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                     FROM ed WHERE src <> dst),
             deg AS (SELECT n, COUNT(*) AS d
                     FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
                     GROUP BY n),
             ori AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                                 THEN u ELSE v END AS a,
                            CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                                 THEN v ELSE u END AS b,
                            CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                                 THEN dv.d ELSE du.d END AS db
                     FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
             w AS (SELECT e1.a AS a, e1.b AS y, e2.b AS z
                   FROM ori e1 JOIN ori e2 ON e1.a = e2.a
                   WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)),
             t AS (SELECT w.a, w.y, w.z FROM w JOIN ori c ON c.a = w.y AND c.b = w.z),
             tri AS (SELECT node, COUNT(*) AS tri
                     FROM (SELECT unnest([a, y, z]) AS node FROM t) GROUP BY node)
             SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS deg,
                    CAST(COALESCE(tri.tri, 0) AS BIGINT) AS tri,
                    CASE WHEN deg.d >= 2
                         THEN (2.0 * COALESCE(tri.tri, 0)) / (deg.d * (deg.d - 1))
                         ELSE 0.0 END AS cc
             FROM deg LEFT JOIN tri ON tri.node = deg.n
             ORDER BY node"""))

  /** Item-item neighbor-Jaccard similarity (link prediction / co-occurrence).
    *
    * Treats the derived graph bipartitely: an "item" is any dst node, its
    * neighborhood the distinct src users pointing at it. Common neighbors
    * come from one equi-join on user — the standard co-occurrence shape
    * whose cost is Σ_user (items-per-user)², bounded here by the 15-item
    * universe and at scale by capping per-user lists (the usual guard).
    * Jaccard = |∩| / (|A|+|B|−|∩|): one IEEE division of exact integers,
    * bit-identical both engines, so ranking on it is hash-stable.
    */
  val graphJaccard = QueryDef(
    "q_graph_jaccard",
    (s, dir) => {
      import s.implicits._
      val adj = eventEdges(s, dir)
        .select($"dst".as("item"), $"src".as("usr")).distinct()
        .localCheckpoint()
      val d = adj.groupBy($"item").agg(count(lit(1)).as("di"))
      val a = adj.select($"item".as("ia"), $"usr")
      val b = adj.select($"item".as("ib"), $"usr")
      val pairs = a.join(b, Seq("usr")).filter($"ia" < $"ib")
        .groupBy($"ia", $"ib").agg(count(lit(1)).as("common"))
      pairs
        .join(d.select($"item".as("ia"), $"di".as("da")), Seq("ia"))
        .join(d.select($"item".as("ib"), $"di".as("db")), Seq("ib"))
        .select($"ia", $"ib", $"common",
          ($"common".cast("double") / ($"da" + $"db" - $"common")).as("jaccard"))
        .orderBy($"jaccard".desc, $"ia", $"ib")
        .limit(20)
    },
    Some(s"""WITH $edgesCte, $edCte,
             adj AS (SELECT DISTINCT dst AS item, src AS usr FROM ed),
             d AS (SELECT item, COUNT(*) AS di FROM adj GROUP BY item),
             pr AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS common
                    FROM adj a JOIN adj b ON a.usr = b.usr AND a.item < b.item
                    GROUP BY 1, 2)
             SELECT ia, ib, CAST(common AS BIGINT) AS common,
                    CAST(common AS DOUBLE) / (da.di + db.di - common) AS jaccard
             FROM pr JOIN d da ON da.item = pr.ia JOIN d db ON db.item = pr.ib
             ORDER BY jaccard DESC, ia, ib LIMIT 20"""))

  private def pagerankSql(iters: Int): String =
    s"""${pagerankCtes(iters)}
       |SELECT n AS node, CAST(r AS BIGINT) AS rank_fp FROM r$iters ORDER BY node""".stripMargin

  /** Personalized PageRank from seeds {0, 1} (GraphAnalytics
    * .personalizedPageRank — all teleport mass to the seed set): the
    * seed-expansion / related-items primitive, exact BIGINT fixed point
    * like q_graph_pagerank_exact so the oracle replays every iteration. */
  val graphPpr = QueryDef(
    "q_graph_ppr",
    (s, dir) => {
      import s.implicits._
      graft.graph.GraphAnalytics
        .personalizedPageRank(eventEdges(s, dir), seeds = Seq(0L, 1L), iters = 5)
        .orderBy($"node")
    },
    Some {
      val iters = 5
      val seeds = Seq(0L, 1L)
      val seedList = seeds.mkString("(", ", ", ")")
      val init = graft.graph.GraphAnalytics.PrScale / seeds.size
      val base = (15L * init) / 100L
      val head =
        s"""WITH $edgesCte, $edCte,
           |nodes AS (SELECT DISTINCT n
           |          FROM (SELECT src AS n FROM ed UNION ALL SELECT dst AS n FROM ed)),
           |od AS (SELECT src, COUNT(*) AS od FROM ed GROUP BY src),
           |r0 AS (SELECT n, CASE WHEN n IN $seedList THEN $init ELSE 0 END AS r
           |       FROM nodes)""".stripMargin
      val steps = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS n, SUM(r.r // od.od) AS cs
           |        FROM ed e JOIN r${i - 1} r ON r.n = e.src JOIN od ON od.src = e.src
           |        GROUP BY e.dst),
           |r$i AS (SELECT nodes.n,
           |               (CASE WHEN nodes.n IN $seedList THEN $base ELSE 0 END)
           |               + ((85 * COALESCE(c$i.cs, 0)) // 100) AS r
           |        FROM nodes LEFT JOIN c$i ON c$i.n = nodes.n)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$steps
         |SELECT n AS node, CAST(r AS BIGINT) AS rank_fp FROM r$iters ORDER BY node""".stripMargin
    })

  /** Connected components on the size-gated operator
    * (GraphAnalytics.connectedComponents — driver union-find under the
    * edge gate, else the convergence-checked min-flood + pointer-jumping
    * fixpoint), the same labelling q_graphx_cc computes with GraphX.
    * Shares that query's independent label-propagation oracle, so a hash
    * match proves the fixpoint — not a replay of the engine's rounds. */
  val graphCc = QueryDef(
    "q_graph_cc",
    (s, dir) => {
      import s.implicits._
      graft.graph.GraphAnalytics
        .connectedComponents(eventEdges(s, dir), maxIters = 64)
        .orderBy($"node")
    },
    Some(s"""WITH $edgesCte,
             |${ccLabelPropSql(32)}""".stripMargin))

  /** Unrolled min-label-propagation CC oracle over the `edges` CTE —
    * replaces the `reach(v, r)` transitive closure, whose row count is
    * Σ |component|² (the r12 walk-enumeration class, invariant 13: the
    * dense sf1 hub graph put it past 45 min). 32 rounds is still an
    * INDEPENDENT convergence proof, not a replay of the engine's
    * iterations: every edge of this schema joins a user to one of the
    * 15 hubs (dst = k % 15), so a simple path alternates user/hub and
    * visits ≤ 15 distinct hubs — diameter ≤ 31 AT ANY CORPUS SIZE, and
    * round-R labels equal min-id-within-R-hops, the exact fixpoint.
    * Every round is MATERIALIZED so the unstaged driver gate evaluates
    * each level once (the q_text_domain_clf precedent) instead of
    * inlining level i−1 twice into level i (2³² subtree blowup). */
  private[rel] def ccLabelPropSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT v, MIN(l) AS l FROM (
         |    SELECT v, l FROM l${i - 1}
         |    UNION ALL
         |    SELECT u.a AS v, p.l FROM und u JOIN l${i - 1} p ON p.v = u.b)
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges
       |       UNION SELECT dst, src FROM edges),
       |l0 AS (SELECT DISTINCT a AS v, a AS l FROM und),
       |$steps
       |SELECT v AS node, l AS component FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Strongly connected components over a hash-derived DIRECTED graph
    * (≤200 nodes: src = user_id % 200, dst = md5-hash % 200, 1-in-3
    * hash-sampled — random enough for a giant SCC plus a singleton tail,
    * the shape coloring-SCC peeling is interesting on; the dense event
    * graph's user→key edges are bipartite-acyclic, i.e. vacuous). The
    * oracle is TRUE mutual reachability — a directed recursive-CTE
    * closure self-joined on (v→*r ∧ r→*v) — so a hash match proves the
    * bounded-step forward/backward max-label propagation genuinely hit
    * its fixpoint AND the peeling converged, not that the oracle
    * replayed the same rounds (same stance as q_graph_cc). Labels are
    * max member ids in both engines by construction. */
  val graphScc = QueryDef(
    "q_graph_scc",
    (s, dir) => {
      import s.implicits._
      val k = get_json_object($"props", "$.k")
      val hv = graft.pipeline.TextOps.strHash(
        concat($"user_id".cast("string"), lit(":"), k))
      val dg = Tables(s, dir, "events")
        .select(($"user_id" % 200).as("src"), (hv % 200).as("dst"), hv.as("hv"))
        .filter($"hv" % 3 === 0 && $"src" =!= $"dst")
        .select($"src", $"dst")
        .distinct()
        .localCheckpoint()
      // 1000-edge local-finish gate: at the sf0.01 correctness gate the
      // first (giant-SCC) round runs the distributed path and the
      // straggler tail finishes locally — the oracle checks the combo
      graft.graph.GraphAnalytics
        .stronglyConnectedComponents(dg, localEdgeLimit = 1000L)
        .orderBy($"node")
    },
    Some("""WITH RECURSIVE
             h AS (SELECT user_id % 200 AS src,
                          (CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR) || ':' ||
                             json_extract_string(props, '$.k')), 1, 15)) AS BIGINT)
                           % 2147483647) AS hv
                   FROM events),
             dg AS (SELECT DISTINCT src, hv % 200 AS dst
                    FROM h WHERE hv % 3 = 0 AND src <> hv % 200),
             verts AS (SELECT DISTINCT v
                       FROM (SELECT src AS v FROM dg UNION ALL SELECT dst FROM dg)),
             reach(v, r) AS (
               SELECT v, v FROM verts
               UNION
               SELECT r0.v, e.dst FROM reach r0 JOIN dg e ON e.src = r0.r)
             SELECT f.v AS node, MAX(f.r) AS scc
             FROM reach f JOIN reach b ON b.v = f.r AND b.r = f.v
             GROUP BY f.v ORDER BY node"""))

  /** The integer fixed-point PageRank CTE chain (WITH ... r$iters), shared
    * with GraphXQueries' agreement cross-check. */
  private[rel] def pagerankCtes(iters: Int): String = {
    val head =
      s"""WITH $edgesCte, $edCte,
         |nodes AS (SELECT DISTINCT n
         |          FROM (SELECT src AS n FROM ed UNION ALL SELECT dst AS n FROM ed)),
         |p AS (SELECT COUNT(*) AS n FROM nodes),
         |od AS (SELECT src, COUNT(*) AS od FROM ed GROUP BY src),
         |r0 AS (SELECT nodes.n, 1000000000000 // p.n AS r FROM nodes CROSS JOIN p)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS n, SUM(r.r // od.od) AS cs
         |        FROM ed e JOIN r${i - 1} r ON r.n = e.src JOIN od ON od.src = e.src
         |        GROUP BY e.dst),
         |r$i AS (SELECT nodes.n,
         |               ((15 * (1000000000000 // p.n)) // 100)
         |               + ((85 * COALESCE(c$i.cs, 0)) // 100) AS r
         |        FROM nodes CROSS JOIN p LEFT JOIN c$i ON c$i.n = nodes.n)""".stripMargin
    }
    s"""$head,
       |${steps.mkString(",\n")}""".stripMargin
  }

  /** Rich-club coefficient profile (Zhou & Mondragón 2004; Colizza et
    * al. 2006 normalization left to the reader — the raw φ(k) is the
    * audit): for each degree threshold k, the density of the subgraph
    * induced by nodes of degree > k — do the hubs preferentially
    * interconnect? φ(k) = 2·E_k / (N_k·(N_k−1)), guarded to 0 when
    * fewer than 2 nodes survive. Shapes: one degree aggregation, one
    * thresholds×edges semi-filter (|thresholds| = 4 — a constant
    * explode, not a corpus blow-up), exact integers until one division
    * per threshold row. */
  val graphRichclub = QueryDef(
    "q_graph_richclub",
    (s, dir) => {
      import s.implicits._
      val und = graft.graph.GraphAnalytics.undirected(
        eventEdges(s, dir).select($"src", $"dst").distinct())
      val deg = graft.graph.GraphAnalytics.degrees(und)
      val ks = s.range(0, 4).select(expr("CAST(1 AS BIGINT) << CAST(id AS INT)").as("k"))
      val nk = deg.crossJoin(broadcast(ks))
        .filter($"deg" > $"k")
        .groupBy($"k").agg(count(lit(1)).as("n_k"))
      val ek = und
        .join(deg.select($"n".as("u"), $"deg".as("du")), "u")
        .join(deg.select($"n".as("v"), $"deg".as("dv")), "v")
        .crossJoin(broadcast(ks))
        .filter($"du" > $"k" && $"dv" > $"k")
        .groupBy($"k").agg(count(lit(1)).as("e_k"))
      nk.join(ek, Seq("k"), "left")
        .select($"k".cast("int").as("k"), $"n_k",
          coalesce($"e_k", lit(0L)).as("e_k"),
          when($"n_k" < 2, lit(0.0)).otherwise(
            floor(lit(2.0) * coalesce($"e_k", lit(0L)) /
              ($"n_k" * ($"n_k" - 1)) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("phi"))
        .orderBy($"k")
    },
    Some(s"""WITH $edgesCte, $edCte,
             |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
             |        FROM ed WHERE src <> dst),
             |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
             |        FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
             |        GROUP BY n),
             |ks AS (SELECT CAST(1 << CAST(u.i AS INT) AS BIGINT) AS k
             |       FROM unnest(range(4)) AS u(i)),
             |nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k
             |       FROM deg, ks WHERE deg > k GROUP BY k),
             |ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS e_k
             |       FROM und JOIN deg du ON du.n = und.u
             |                JOIN deg dv ON dv.n = und.v, ks
             |       WHERE du.deg > k AND dv.deg > k GROUP BY k)
             |SELECT CAST(nk.k AS INT) AS k, nk.n_k,
             |       CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
             |       CASE WHEN nk.n_k < 2 THEN 0.0
             |            ELSE floor(2.0 * COALESCE(ek.e_k, 0) /
             |                       (nk.n_k * (nk.n_k - 1)) * 1e6 + 0.5) / 1e6
             |       END AS phi
             |FROM nk LEFT JOIN ek ON ek.k = nk.k
             |ORDER BY k""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(graphBfs, graphBfsTyped, graphBfsSql, graphScore, graphInduced, hybrid,
      graphDegree, graphTriangles, graphKtruss, graphAssortativity,
      graphReciprocity, graphPagerankExact, graphEigen, graphHarmonic, graphPpr,
      graphSssp, graphTemporal, graphCc, graphScc, graphClustering, graphJaccard,
      graphClosenessApprox, graphDiameter, graphRichclub)
}
