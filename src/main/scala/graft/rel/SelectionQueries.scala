package graft.rel

import graft.{Artifact, QueryDef, Tables}
import graft.graph.{NodeEmbedding, Walks}
import graft.pipeline.{Selection, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared queries for training-data selection and corpus generation —
  * DSIR importance reweighting over the documents table and deterministic
  * random-walk corpora over the sparse bipartite graph (ScaleQueries'
  * fixture). Both are "generate training data from the lake" operators a
  * 100 TB pipeline runs downstream of dedup/quality.
  */
object SelectionQueries {

  private val P = TextOps.P
  private def hvSql(x: String) =
    s"CAST(('0x'||substr(md5($x),1,15)) AS BIGINT) % $P"
  private val toksSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""

  /** DSIR importance selection (Xie et al. NeurIPS 2023): documents from
    * sources src0/src1 define the target distribution; every document gets
    * the hashed-unigram importance log-ratio weight and the top 50 are
    * selected. The oracle replays the full estimator — hashed buckets,
    * Laplace-smoothed counts, one rounded log per bucket, exact decimal
    * document sums — so a hash match proves the entire selection pipeline,
    * not just the ranking. */
  val pipelineDsir = QueryDef(
    "q_pipeline_dsir",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val w = Selection.dsirWeights(docs, "doc_id", "text",
        $"source".isin("src0", "src1"), buckets = 128)
      docs.select($"doc_id", $"source")
        .join(w, Seq("doc_id"))
        .select($"doc_id", $"source", $"weight")
        .orderBy($"weight".desc, $"doc_id")
        .limit(50)
    },
    Some(s"""WITH toks AS (
             |  SELECT doc_id, source, unnest($toksSql) AS tok FROM documents),
             |bk AS (SELECT doc_id, source, (${hvSql("tok")}) % 128 AS b FROM toks),
             |counts AS (
             |  SELECT b, CAST(COUNT(*) AS BIGINT) AS craw,
             |         CAST(SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END)
             |              AS BIGINT) AS ctgt
             |  FROM bk GROUP BY b),
             |tots AS (SELECT CAST(SUM(craw) AS BIGINT) AS traw,
             |                CAST(SUM(ctgt) AS BIGINT) AS ttgt FROM counts),
             |lr AS (
             |  SELECT b, CAST(round(ln((ctgt + 1) * (traw + 128) /
             |                          ((craw + 1) * (ttgt + 128))), 8)
             |                 AS DECIMAL(12,8)) AS lr
             |  FROM counts CROSS JOIN tots),
             |w AS (
             |  SELECT bk.doc_id, bk.source, CAST(SUM(lr.lr) AS DOUBLE) AS weight
             |  FROM bk JOIN lr ON bk.b = lr.b
             |  GROUP BY bk.doc_id, bk.source)
             |SELECT doc_id, source, weight FROM w
             |ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin))

  /** Deterministic random-walk corpus (DeepWalk/node2vec shape with the
    * RNG replaced by the cross-engine hash): 4-step walks from the 10
    * smallest user nodes of the sparse bipartite graph. The oracle unrolls
    * the walk as four joins against the identically-ranked adjacency list
    * and replays the hash choice — walks are a pure function of the graph,
    * so both engines step to the same nodes. */
  val graphWalks = QueryDef(
    "q_graph_walks",
    (s, dir) => {
      import s.implicits._
      val edges = ScaleQueries.sparseEdges(s, dir)
      val seeds = edges.select($"src".as("wid")).distinct()
        .orderBy($"wid").limit(10)
      Walks.deterministicWalks(edges, seeds, steps = 4)
        .select($"wid", $"step", $"node")
        .orderBy($"wid", $"step")
    },
    Some(s"""WITH $walkCorpusCtes
         |SELECT wid, CAST(step AS INT) AS step, node FROM walks
         |ORDER BY wid, step""".stripMargin))

  /** The deterministic-walk corpus as a reusable CTE chain ending in
    * `walks(wid, step, node)` — shared by q_graph_walks and the
    * embedding-training consumers so the corpus is PROVABLY the same
    * frame in all three oracles. */
  private def walkCorpusCtes: String = {
    def stepCte(t: Int) =
      s"""w$t AS (
         |  SELECT p.wid, $t AS step, a.v AS node
         |  FROM w${t - 1} p JOIN adj a ON a.u = p.node
         |  WHERE a.r = (${hvSql(s"CAST(p.wid AS VARCHAR) || ':$t:' || CAST(a.u AS VARCHAR)")})
         |              % a.deg + 1)""".stripMargin
    s"""${ScaleQueries.eeCte},
       |adj AS MATERIALIZED (
       |  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS r,
       |         COUNT(*) OVER (PARTITION BY u) AS deg
       |  FROM (SELECT DISTINCT u, v FROM ee)),
       |seeds AS (SELECT u AS wid FROM (SELECT DISTINCT u FROM e0) ORDER BY u LIMIT 10),
       |w0 AS (SELECT wid, 0 AS step, wid AS node FROM seeds),
       |${(1 to 4).map(stepCte).mkString(",\n")},
       |walks AS MATERIALIZED (SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL
       |          SELECT * FROM w2 UNION ALL SELECT * FROM w3 UNION ALL
       |          SELECT * FROM w4)""".stripMargin
  }

  /** Node2vec-biased second-order walk corpus (Walks.node2vecWalks) over
    * the event graph — chosen over the bipartite fixture because the
    * triangle ("stay close", weight 4) move class actually fires there;
    * return moves weigh 1, explore moves 2. 10 seed walkers, 4 steps.
    * The oracle unrolls every step: candidate classification is the same
    * (prev, x) edge left join, cumulative integer weights via the
    * per-walker window, and the hash draw r = H(wid:t:cur) mod Σw picks
    * the identical candidate — a hash match proves every biased choice. */
  val graphNode2vec = QueryDef(
    "q_graph_node2vec",
    (s, dir) => {
      import s.implicits._
      val ed = GraphQueries.eventEdges(s, dir)
        .filter($"src" =!= $"dst").select($"src", $"dst")
      val nodes = ed.select($"src".as("n"))
        .union(ed.select($"dst".as("n"))).distinct()
      val seeds = nodes.orderBy($"n").limit(10).select($"n".as("wid"))
      Walks.node2vecWalks(ed, seeds, steps = 4)
        .select($"wid", $"step", $"node")
        .orderBy($"wid", $"step")
    },
    Some {
      def hv(t: Int, nodeExpr: String) =
        hvSql(s"CAST(wid AS VARCHAR) || ':$t:' || CAST($nodeExpr AS VARCHAR)")
      def stepCtes(t: Int) =
        s"""c$t AS (
           |  SELECT f.wid, f.prev, f.node AS cur, a.v AS x, a.r,
           |         CASE WHEN a.v = f.prev THEN 1
           |              WHEN e.u IS NOT NULL THEN 4
           |              ELSE 2 END AS wt
           |  FROM f${t - 1} f JOIN adj a ON a.u = f.node
           |  LEFT JOIN und e ON e.u = f.prev AND e.v = a.v),
           |g$t AS (
           |  SELECT wid, cur, x, wt,
           |         SUM(wt) OVER (PARTITION BY wid ORDER BY r) AS cw,
           |         SUM(wt) OVER (PARTITION BY wid) AS tw
           |  FROM c$t),
           |f$t AS (
           |  SELECT wid, cur AS prev, x AS node FROM g$t
           |  WHERE (${hv(t, "cur")}) % tw >= cw - wt
           |    AND (${hv(t, "cur")}) % tw < cw)""".stripMargin
      s"""WITH ${GraphQueries.edgesCte},
         |und AS MATERIALIZED (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT src AS u, dst AS v FROM edges WHERE src <> dst
         |    UNION ALL
         |    SELECT dst AS u, src AS v FROM edges WHERE src <> dst)),
         |adj AS MATERIALIZED (
         |  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS r,
         |         COUNT(*) OVER (PARTITION BY u) AS deg
         |  FROM und),
         |seeds AS (SELECT u AS wid FROM (SELECT DISTINCT u FROM und)
         |          ORDER BY u LIMIT 10),
         |w0 AS (SELECT wid, 0 AS step, wid AS node FROM seeds),
         |f1 AS (SELECT p.wid, a.u AS prev, a.v AS node
         |       FROM w0 p JOIN adj a ON a.u = p.node
         |       WHERE a.r = (${hv(1, "a.u")}) % a.deg + 1),
         |${(2 to 4).map(stepCtes).mkString(",\n")}
         |SELECT wid, CAST(step AS INT) AS step, node FROM (
         |  SELECT wid, step, node FROM w0
         |  UNION ALL SELECT wid, 1 AS step, node FROM f1
         |  UNION ALL SELECT wid, 2 AS step, node FROM f2
         |  UNION ALL SELECT wid, 3 AS step, node FROM f3
         |  UNION ALL SELECT wid, 4 AS step, node FROM f4)
         |ORDER BY wid, step""".stripMargin
    })

  // --------------------------------------- walk → embedding training
  /** Engine-portable k-dp rounding in SQL text: floor(x·10^k + 0.5)/10^k
    * — the exact formula [[graft.graph.NodeEmbedding.pround]] compiles on
    * the Spark side. round(x, k) is FORBIDDEN inside the GD replay: its
    * tie-breaking differs cross-engine (Spark BigDecimal HALF_UP vs
    * DuckDB multiply-then-nearbyint) and shipped r10's q_graph_embeddings
    * red by exactly one 6dp grid point; floor/×/+/÷ are all
    * IEEE-correctly-rounded, so this text is bit-identical to the Spark
    * column by construction. */
  private def prSql(x: String, k: Int) = s"floor(($x) * 1e$k + 0.5) / 1e$k"

  /** Shared SGNS-training CTE chain: vocabulary rank, hash-drawn
    * negatives, pair-group multiplicities, hash-initialized in-vectors
    * / zero out-vectors, and `iters` unrolled synchronous GD steps
    * ending in `u$iters(n, k, val)` — the DuckDB replay of
    * [[graft.graph.NodeEmbedding.trainSgns]] (d=4, window=2, 2
    * negatives, lr=1). Every rounding point mirrors the engine via
    * [[prSql]]: 8dp DECIMAL-summed dot products, 8dp sigmoid, 8dp
    * DECIMAL(20,10) gradient sums scaled by exact multiplicities,
    * 6dp weights; untouched (node, dim) weights pass through the
    * LEFT JOIN bit-for-bit. NULL nodes are dropped from the vocabulary
    * on BOTH engines (sparseEdges can emit a NULL dst under try_cast;
    * Spark sorts NULLs first, DuckDB last — unfiltered, every rank
    * would shift and all hash-drawn negatives diverge). */
  private def sgnsCtes(iters: Int): String = {
    def stepCtes(t: Int) =
      s"""e$t AS (
         |  SELECT r.ctr, r.ctx, r.y, r.m,
         |         ${prSql(
             "1.0 / (1.0 + exp(-(" +
               prSql("CAST(SUM(CAST(" + prSql("u.val * c.val", 8) +
                 " AS DECIMAL(20,10))) AS DOUBLE)", 8) + ")))", 8)} - r.y AS err
         |  FROM trn r
         |  JOIN u${t - 1} u ON u.n = r.ctr
         |  JOIN c${t - 1} c ON c.n = r.ctx AND c.k = u.k
         |  GROUP BY r.ctr, r.ctx, r.y, r.m),
         |gu$t AS MATERIALIZED (
         |  SELECT e.ctr AS n, c.k,
         |         SUM(CAST(${prSql("e.err * c.val", 8)} AS DECIMAL(20,10)) * e.m) AS g,
         |         CAST(SUM(e.m) AS BIGINT) AS cnt
         |  FROM e$t e JOIN c${t - 1} c ON c.n = e.ctx
         |  GROUP BY e.ctr, c.k),
         |gc$t AS MATERIALIZED (
         |  SELECT e.ctx AS n, u.k,
         |         SUM(CAST(${prSql("e.err * u.val", 8)} AS DECIMAL(20,10)) * e.m) AS g,
         |         CAST(SUM(e.m) AS BIGINT) AS cnt
         |  FROM e$t e JOIN u${t - 1} u ON u.n = e.ctr
         |  GROUP BY e.ctx, u.k),
         |u$t AS MATERIALIZED (
         |  SELECT u.n, u.k,
         |         CASE WHEN g.n IS NULL THEN u.val
         |              ELSE ${prSql(
             s"u.val - (${prSql("1.0 * CAST(g.g AS DOUBLE) / g.cnt", 6)})", 6)}
         |         END AS val
         |  FROM u${t - 1} u LEFT JOIN gu$t g ON g.n = u.n AND g.k = u.k),
         |c$t AS MATERIALIZED (
         |  SELECT c.n, c.k,
         |         CASE WHEN g.n IS NULL THEN c.val
         |              ELSE ${prSql(
             s"c.val - (${prSql("1.0 * CAST(g.g AS DOUBLE) / g.cnt", 6)})", 6)}
         |         END AS val
         |  FROM c${t - 1} c LEFT JOIN gc$t g ON g.n = c.n AND g.k = c.k)"""
        .stripMargin
    def negLeg(j: Int) =
      s"""SELECT p.ctr, vr.n AS ctx, 0.0 AS y
         |  FROM pairs p CROSS JOIN nv
         |  JOIN vr ON vr.rk = (${hvSql(
             s"CAST(p.wid AS VARCHAR) || ':' || CAST(p.s1 AS VARCHAR) || " +
               s"':' || CAST(p.s2 AS VARCHAR) || ':n$j'")}) % nv.nv"""
        .stripMargin
    s"""$walkCorpusCtes,
       |nodes AS MATERIALIZED (SELECT DISTINCT u AS n FROM ee WHERE u IS NOT NULL),
       |vr AS MATERIALIZED (SELECT n, ROW_NUMBER() OVER (ORDER BY n) - 1 AS rk FROM nodes),
       |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM vr),
       |dims AS (SELECT * FROM (VALUES (0), (1), (2), (3)) d(k)),
       |pairs AS MATERIALIZED (
       |  SELECT a.wid, a.step AS s1, b.step AS s2, a.node AS ctr, b.node AS ctx
       |  FROM walks a JOIN walks b ON a.wid = b.wid AND a.step <> b.step
       |   AND abs(a.step - b.step) <= 2),
       |trn AS MATERIALIZED (
       |  SELECT ctr, ctx, y, CAST(COUNT(*) AS BIGINT) AS m FROM (
       |    SELECT ctr, ctx, 1.0 AS y FROM pairs
       |    UNION ALL ${negLeg(1)}
       |    UNION ALL ${negLeg(2)})
       |  GROUP BY ctr, ctx, y),
       |u0 AS MATERIALIZED (
       |  SELECT n, k, ${prSql(
             s"""(((${hvSql(
               "'u:' || CAST(n AS VARCHAR) || ':' || CAST(k AS VARCHAR)")})
       |           % 2001) - 1000) / 10000.0""".stripMargin, 6)} AS val
       |  FROM vr CROSS JOIN dims),
       |c0 AS MATERIALIZED (SELECT n, k, 0.0 AS val FROM vr CROSS JOIN dims),
       |${(1 to iters).map(stepCtes).mkString(",\n")}""".stripMargin
  }

  /** Corpus→train artifact per (session, sf dir): q_graph_embeddings
    * and q_graph_embed_auc train the IDENTICAL fixture (same walks, same
    * hyperparameters), so whichever runs second reuses the checkpointed
    * weight table instead of re-running all three GD iterations — r10's
    * bench had the pair at #1/#2 registry-wide (14 s combined at sf0.1),
    * half of it retraining. The tables are |V|·d rows (tiny at any
    * corpus scale). */
  private[graft] val sgnsTrained = Artifact("sgns_training") { (s, dir) =>
    import s.implicits._
    val edges = ScaleQueries.sparseEdges(s, dir)
    val seeds = edges.select($"src".as("wid")).distinct()
      .orderBy($"wid").limit(10)
    val walks = Walks.deterministicWalks(edges, seeds, steps = 4)
    val nodes = edges.select($"src".as("n"))
      .union(edges.select($"dst".as("n"))).distinct()
    val (vr, nvDf) = NodeEmbedding.vocabRank(nodes)
    (NodeEmbedding.trainSgnsFrom(walks, vr, nvDf), vr, nvDf)
  }

  /** Deterministic node-embedding training over the q_graph_walks
    * corpus — skip-gram with negative sampling by full-batch GD
    * ([[graft.graph.NodeEmbedding]]; Mikolov NIPS'13 / DeepWalk
    * KDD'14), the step that makes the walk generators a complete
    * graph-ML pipeline: corpus → trained vectors, all inside the
    * engine, versioned with the graph they were fit on. The float
    * discipline is Classifier.scala's (fixed 3 iterations, 8dp
    * sigmoids and DECIMAL gradient sums, 6dp weights — every rounding
    * via the engine-portable floor idiom, see [[prSql]]; the ONLY
    * libm call is the sigmoid's exp, rounded to 8dp per invariant
    * 10), so the DuckDB oracle replays the ENTIRE training — walks,
    * vocabulary, negative draws, all three GD iterations — and a hash
    * match proves every weight of the trained artifact, not a summary
    * statistic. Output: the in-vector table (node, dim, emb). */
  val graphEmbeddings = QueryDef(
    "q_graph_embeddings",
    (s, dir) => {
      import s.implicits._
      val (emb, _, _) = sgnsTrained(s, dir)
      emb.select($"n".as("node"), $"k".as("dim"), $"val".as("emb"))
        .orderBy($"node", $"dim")
    },
    Some(s"""WITH ${sgnsCtes(3)}
         |SELECT n AS node, CAST(k AS INT) AS dim, val AS emb
         |FROM u3 ORDER BY node, dim""".stripMargin))

  /** Downstream evaluation of the trained embeddings: link-prediction
    * AUC — do in-vector dot products rank the graph's own edges above
    * hash-drawn non-edges? Positives = canonical edges; negatives =
    * one hash-drawn node pair per edge, anti-joined against BOTH edge
    * orientations, deduped. Scores are round-8 DECIMAL-summed dots;
    * AUC is the tie-aware Mann-Whitney count form (exact BIGINTs
    * until one final division — the Classifier.evalSweep recipe; the
    * cumulative window runs over the DISTINCT round-8 score table,
    * never corpus rows). The oracle re-trains all three iterations
    * AND re-derives the eval — one hash pins the whole
    * corpus→train→evaluate pipeline. */
  val graphEmbedAuc = QueryDef(
    "q_graph_embed_auc",
    (s, dir) => {
      val edges = ScaleQueries.sparseEdges(s, dir)
      val (emb, vr, nvDf) = sgnsTrained(s, dir)
      NodeEmbedding.linkAuc(emb, edges, vr, nvDf)
    },
    Some(s"""WITH ${sgnsCtes(3)},
         |pose AS (SELECT u AS na, v AS nb, 1.0 AS y FROM e0),
         |cand AS (
         |  SELECT (${hvSql(
               "'na:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")})
         |           % nv.nv AS rka,
         |         (${hvSql(
               "'nb:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")})
         |           % nv.nv AS rkb
         |  FROM e0 CROSS JOIN nv),
         |candn AS (
         |  SELECT a.n AS na, b.n AS nb
         |  FROM cand JOIN vr a ON a.rk = cand.rka JOIN vr b ON b.rk = cand.rkb
         |  WHERE a.n <> b.n),
         |neg AS (
         |  SELECT DISTINCT na, nb FROM candn
         |  WHERE NOT EXISTS (SELECT 1 FROM ee
         |                    WHERE ee.u = candn.na AND ee.v = candn.nb)),
         |lab AS (SELECT na, nb, y FROM pose
         |        UNION ALL SELECT na, nb, 0.0 AS y FROM neg),
         |sc AS MATERIALIZED (
         |  SELECT l.na, l.nb, l.y,
         |         ${prSql("CAST(SUM(CAST(" + prSql("ua.val * ub.val", 8) +
             " AS DECIMAL(20,10))) AS DOUBLE)", 8)} AS s
         |  FROM lab l
         |  JOIN u3 ua ON ua.n = l.na
         |  JOIN u3 ub ON ub.n = l.nb AND ub.k = ua.k
         |  GROUP BY l.na, l.nb, l.y),
         |grp AS (
         |  SELECT s, CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |         CAST(SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM sc GROUP BY s),
         |tot AS (
         |  SELECT CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |         CAST(SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
         |         ${prSql(
             """CAST(SUM(CASE WHEN y = 1.0
         |                 THEN CAST(s AS DECIMAL(20,10)) END) AS DOUBLE)
         |               / SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)""".stripMargin,
             6)} AS mean_pos,
         |         ${prSql(
             """CAST(SUM(CASE WHEN y = 0.0
         |                 THEN CAST(s AS DECIMAL(20,10)) END) AS DOUBLE)
         |               / SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)""".stripMargin,
             6)} AS mean_neg
         |  FROM sc),
         |cum AS (
         |  SELECT s, np, nn,
         |         COALESCE(SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
         |           PRECEDING AND 1 PRECEDING), 0) AS cumneg
         |  FROM grp),
         |mwc AS (SELECT CAST(SUM(np * (2 * cumneg + nn)) AS BIGINT) AS c2 FROM cum)
         |SELECT n_pos, n_neg, mean_pos, mean_neg,
         |       ${prSql("CAST(c2 AS DOUBLE) / (2.0 * n_pos * n_neg)", 6)} AS auc
         |FROM tot CROSS JOIN mwc""".stripMargin))

  val all: Seq[QueryDef] = Seq(pipelineDsir, graphWalks, graphNode2vec,
    graphEmbeddings, graphEmbedAuc)
}
