package graft.rel

import graft.{Artifact, QueryDef, Tables}
import graft.pipeline._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declared training-data-pipeline operator queries: dedup (exact, MinHash
  * signatures + LSH pairs, SimHash, n-gram Jaccard, embedding cosine), ANN
  * (LSH-bucketed), text analysis (langid, quality, tokens, fingerprint),
  * multimodal feature plumbing.
  *
  * The fixtures contain no natural duplicates (max pairwise embedding
  * cosine 0.479; consecutive-doc shingle Jaccard ≤ 0.024), so dedup queries
  * PLANT deterministic duplicates inside the query (id+100000 copies,
  * optionally text-mutated) — the operators then have real positives to
  * find, and the DuckDB oracle plants identically.
  */
object PipelineQueries {

  /** Absolute size of the deterministic [[Audit.sample]] the quadratic
    * vector audits (q_vec_hubness, q_vec_labelprop) run over — a fixed
    * SIZE, not a fixed fraction, so pair volume is constant at 100 TB. */
  val AuditN = 120

  /** The TOKENIZED documents table as a session artifact — the text
    * family's shared intermediate (the SURVEY §13 materialize-once
    * pattern applied ACROSS queries): documents plus a precomputed `toks`
    * column, spread and localCheckpointed once per (session, dir). The
    * q_text_{tokens,vocab,tfidf,oov,langid,quality,fingerprint} family
    * all consume it, so the corpus regex tokenization — their dominant
    * cost — is paid once per session instead of once per query. At
    * cluster scale this is the tokenized staging table a curation DAG
    * materializes before its analysis fan-out. */
  val tokenizedDocs = Artifact("tokenized_docs") { (s, dir) =>
    TextOps.spread(Tables(s, dir, "documents"))
      .withColumn("toks", TextOps.tokens(col("text")))
      .localCheckpoint()
  }

  // ---- shared DuckDB fragments (mirror graft.pipeline.TextOps exactly) ----
  private val P = TextOps.P
  private def hvSql(x: String) =
    s"CAST(('0x'||substr(md5($x),1,15)) AS BIGINT) % $P"
  private val toksSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""
  private val shinglesCte =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
       |sh AS (SELECT doc_id, list_distinct(
       |         CASE WHEN len(toks) >= 3
       |              THEN list_transform(range(len(toks)-2),
       |                     j -> toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3])
       |              ELSE [] END) AS shs
       |       FROM t)""".stripMargin
  private val minhashCte = // requires corpus + shinglesCte
    s"""hv AS (SELECT doc_id, ${hvSql("s")} AS hv
       |       FROM (SELECT doc_id, unnest(shs) AS s FROM sh)),
       |mh AS (SELECT doc_id, i, MIN(((2*i + 1) * hv + 7919*i) % $P) AS mh
       |       FROM hv CROSS JOIN (SELECT unnest(range(16)) AS i)
       |       GROUP BY doc_id, i)""".stripMargin

  /** DuckDB cosine with the zero-norm guard VectorSearch uses. */
  private def cosSql(a: String, b: String) =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0
       |     THEN 0.0
       |     ELSE list_dot_product($a, $b) /
       |          (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
       |END""".stripMargin

  /** Unrolled-CTE replay of Similarity.kmeansCentroids (⌈√n⌉-spaced seeds,
    * `iters` Lloyd rounds of arg-max round-6 cosine assignment + decimal-
    * exact per-(cell, dim) means): defines CTEs sp, e, c0, and per round
    * a$i/m$i/c$i — consumers read the trained centroids from c$iters. */
  private def kmeansCtes(iters: Int): String = {
    // Assignment hot loop optimized for the at-scale DuckDB sweep with
    // BIT-IDENTICAL semantics: each side's norm sqrt(v·v) is computed
    // once per ROW (nv/nc — the same double the inline CASE recomputed
    // per PAIR, 5 list_dot_products → 1), and the rounded cosine is a
    // named column so the rank window orders by it instead of
    // re-evaluating the expression (sf1: 48 s → ~8 s per trained-ANN
    // oracle; values, and therefore every hash, unchanged).
    // The rank window runs over SLIM (vid, cid, ccos) rows and the
    // winner joins back to `e` for its 64-double vector — the window
    // form that carries the list payload through the partition sort was
    // the actual sf1 cost (measured 23 s per centroid build vs ~2 s
    // slim; pair count is unchanged, ordering semantics identical).
    val iterCtes = (1 to iters).map { i =>
      s"""a$i AS (SELECT t.vid, e.v, t.cid FROM (
         |          SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid
         |                   ORDER BY ccos DESC, cid) AS rn FROM (
         |            SELECT e.vid, c.cid,
         |                   round(CASE WHEN e.nv * c.nc = 0 THEN 0.0
         |                              ELSE list_dot_product(e.v, c.cv) / (e.nv * c.nc)
         |                         END, 6) AS ccos
         |            FROM e CROSS JOIN c${i - 1} c)) t
         |         JOIN e ON e.vid = t.vid WHERE t.rn = 1),
         |m$i AS (SELECT cid, CAST(u.j AS INT) AS idx,
         |               round(CAST(SUM(CAST(v[u.j + 1] AS DECIMAL(20,10))) AS DOUBLE)
         |                     / COUNT(*), 6) AS m
         |        FROM a$i, unnest(range(len(v))) AS u(j) GROUP BY cid, idx),
         |c$i AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS nc FROM (
         |          SELECT cid, list(m ORDER BY idx) AS cv FROM m$i GROUP BY cid))""".stripMargin
    }.mkString(",\n")
    s"""sp AS (SELECT CAST(greatest(ceil(sqrt(COUNT(*))), ceil(COUNT(*)/256.0)) AS BIGINT) AS s FROM embeddings),
       |e AS (SELECT vid, v, sqrt(list_dot_product(v, v)) AS nv FROM (
       |        SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
       |c0 AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS nc FROM (
       |        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |        FROM embeddings WHERE vec_id % (SELECT s FROM sp) = 0)),
       |$iterCtes""".stripMargin
  }
  /** The optimized full-corpus assignment against a [[kmeansCtes]]
    * centroid table (same norm-precompute discipline): emits
    * (vid, v, cid, ccos) — one row per vector, its round-6 arg-max cell. */
  private def kmAssignSql(cName: String): String =
    s"""SELECT t.vid, e.v, t.cid, t.ccos FROM (
       |  SELECT vid, cid, ccos, ROW_NUMBER() OVER (PARTITION BY vid
       |           ORDER BY ccos DESC, cid) AS rn FROM (
       |    SELECT e.vid, c.cid,
       |           round(CASE WHEN e.nv * c.nc = 0 THEN 0.0
       |                      ELSE list_dot_product(e.v, c.cv) / (e.nv * c.nc)
       |                 END, 6) AS ccos
       |    FROM e CROSS JOIN $cName c)) t
       |JOIN e ON e.vid = t.vid WHERE t.rn = 1""".stripMargin

  /** The trained quantizers as session artifacts: a production system
    * trains a codebook ONCE and serves every query from the persisted
    * artifact (the Engine's BM25 index is derived once per nodes table) —
    * per-query retraining would be the anti-pattern. Centroids are
    * bit-deterministic, so memoization cannot change any result; the five
    * coarse-quantizer queries and the two PQ ones share one training
    * each per (session, sfDir). Bench warms both untimed (q_ann_opq was
    * absorbing the PQ training that q_ann_pq_* then read back in ~1 s). */
  private[graft] val trainedCentroids = Artifact("kmeans_centroids") { (s, dir) =>
    Similarity.kmeansCentroids(Tables(s, dir, "embeddings"),
      "vec_id", "embedding", iters = 2,
      corpusN = Tables.rowCount(s, dir, "embeddings"))
  }
  private[graft] val trainedPqCodebook = Artifact("pq_codebook") { (s, dir) =>
    Similarity.pqCodebookTrained(Tables(s, dir, "embeddings"),
      "vec_id", "embedding", dim = 64, m = 8, iters = 2,
      corpusN = Tables.rowCount(s, dir, "embeddings"))
  }
  /** The classifier family's shared training: q_text_classifier,
    * q_text_classifier_eval, and q_text_classifier_ece train the
    * IDENTICAL model on the IDENTICAL feature frame — features and the
    * 1-row weight frame are built once per (session, sfDir) and the three
    * queries diverge only in what they report (weights / operating curve
    * / calibration). */
  private val qualFeat = Artifact("quality_features") { (s, dir) =>
    Classifier.qualityFeatures(Tables(s, dir, "documents")).localCheckpoint()
  }
  private val logRegWeights = Artifact("logreg_weights") { (s, dir) =>
    Classifier.trainWeights(qualFeat(s, dir), iters = 5, lr = 2.0)
  }

  /** Unrolled-CTE replay of per-subspace Lloyd PQ training
    * (Similarity.pqCodebookTrained): psub = (vid, s, xs) subvector rows,
    * pc0 = the ⌈√n⌉-spaced seed codewords, then per iteration one
    * (vid, s)-argmin assignment window and one decimal-exact per-(s, cid,
    * dim) mean. Defines pc{iters} (the trained codebook) for the caller —
    * shared by q_ann_pq_trained and q_ann_pq_err the way kmeansCtes is
    * shared by the coarse-quantizer family. */
  private def pqKmeansCtes(iters: Int, p: String = "p",
                           src: String = "embeddings"): String = {
    // Same bit-identical hot-loop discipline as [[kmeansCtes]]: the
    // subvector self-term x·x (xx) and codeword self-term c·c (cc) are
    // computed once per row, so the L2² expansion costs ONE 8-dim dot
    // product per (vector, codeword) pair instead of six (3 dot products
    // × the projection+ORDER BY double evaluation); d2 is a named column
    // the rank window reads back. Values — and hashes — unchanged.
    val iterCtes = (1 to iters).map { i =>
      s"""${p}a$i AS (SELECT t.vid, t.s, ${p}sub.xs, ${p}sub.xx, t.cid FROM (
         |            SELECT vid, s, cid, ROW_NUMBER() OVER (PARTITION BY vid, s
         |                     ORDER BY d2, cid) AS rn FROM (
         |              SELECT ${p}sub.vid, ${p}sub.s, c.cid,
         |                     round(${p}sub.xx - 2.0*list_dot_product(xs, cs) + c.cc, 6) AS d2
         |              FROM ${p}sub JOIN ${p}c${i - 1} c ON c.s = ${p}sub.s)) t
         |           JOIN ${p}sub ON ${p}sub.vid = t.vid AND ${p}sub.s = t.s
         |           WHERE t.rn = 1),
         |${p}m$i AS (SELECT s, cid, CAST(u.j AS INT) AS idx,
         |                round(CAST(SUM(CAST(xs[u.j + 1] AS DECIMAL(20,10))) AS DOUBLE)
         |                      / COUNT(*), 6) AS m
         |         FROM ${p}a$i, unnest(range(len(xs))) AS u(j) GROUP BY s, cid, idx),
         |${p}c$i AS (SELECT s, cid, cs, list_dot_product(cs, cs) AS cc FROM (
         |           SELECT s, cid, list(m ORDER BY idx) AS cs FROM ${p}m$i GROUP BY s, cid))""".stripMargin
    }.mkString(",\n")
    s"""${p}sp AS (SELECT CAST(greatest(ceil(sqrt(COUNT(*))), ceil(COUNT(*)/256.0)) AS BIGINT) AS sp FROM $src),
       |${p}e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM $src),
       |${p}ss AS (SELECT unnest(range(8)) AS s),
       |${p}sub AS (SELECT vid, s, xs, list_dot_product(xs, xs) AS xx FROM (
       |             SELECT vid, s, list_slice(v, s*8 + 1, s*8 + 8) AS xs
       |             FROM ${p}e CROSS JOIN ${p}ss)),
       |${p}c0 AS (SELECT s, vid AS cid, xs AS cs, xx AS cc FROM ${p}sub
       |           WHERE vid % (SELECT sp FROM ${p}sp) = 0),
       |$iterCtes""".stripMargin
  }

  /** DuckDB CTE fragment: (vid, s) L2²-argmin assignment of `subName`
    * against codebook `cbName`, emitting (vid, s, cid, d2). */
  private def pqAssignSql(cbName: String, subName: String = "psub"): String =
    s"""SELECT vid, s, cid, d2 FROM (
       |  SELECT vid, s, cid, d2, ROW_NUMBER() OVER (PARTITION BY vid, s
       |           ORDER BY d2, cid) AS rn FROM (
       |    SELECT $subName.vid, $subName.s, c.cid,
       |           round($subName.xx - 2.0*list_dot_product(xs, cs) + c.cc, 6) AS d2
       |    FROM $subName JOIN $cbName c ON c.s = $subName.s)) WHERE rn = 1""".stripMargin

  /** The round-8 logistic margin shared by every oracle that scores the
    * trained quality filter. */
  private val logRegZ = "round(w0 + w1*x1 + w2*x2 + w3*x3, 8)"

  /** Unrolled-CTE replay of Classifier's full-batch logistic GD: junk
    * planting, feature construction, and `iters` gradient steps. Defines
    * f (y, x1..x3) and w{iters}_ (the trained weights) for the caller's
    * final SELECT — shared by q_text_classifier and
    * q_text_classifier_eval the way kmeansCtes is shared by the trained
    * ANN family. */
  private def logRegCtes(iters: Int, lr: String = "2.0"): String = {
    val enStopLit = TextAnalysis.stopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val junkLit = graft.pipeline.Classifier.junkSuffix
    val gSteps = (1 to iters).map { t =>
      s"""g$t AS (SELECT SUM(CAST(round(d, 8) AS DECIMAL(20,10))) AS s0,
         |              SUM(CAST(round(d * x1, 8) AS DECIMAL(20,10))) AS s1,
         |              SUM(CAST(round(d * x2, 8) AS DECIMAL(20,10))) AS s2,
         |              SUM(CAST(round(d * x3, 8) AS DECIMAL(20,10))) AS s3,
         |              COUNT(*) AS n
         |       FROM (SELECT round(1.0/(1.0 + exp(-$logRegZ)), 8) - y AS d, x1, x2, x3
         |             FROM f, w${t - 1}_)),
         |w${t}_ AS (SELECT round(w0 - $lr * round(CAST(s0 AS DOUBLE) / n, 8), 6) AS w0,
         |                round(w1 - $lr * round(CAST(s1 AS DOUBLE) / n, 8), 6) AS w1,
         |                round(w2 - $lr * round(CAST(s2 AS DOUBLE) / n, 8), 6) AS w2,
         |                round(w3 - $lr * round(CAST(s3 AS DOUBLE) / n, 8), 6) AS w3
         |         FROM w${t - 1}_, g$t)""".stripMargin
    }.mkString(",\n")
    s"""corpus AS (
       |  SELECT text, 0.0::DOUBLE AS y FROM documents
       |  UNION ALL SELECT text || '$junkLit', 1.0::DOUBLE FROM documents),
       |base AS (SELECT y, text, $toksSql AS toks FROM corpus),
       |f AS (SELECT y,
       |             CAST(len(toks) AS BIGINT) AS ntoks,
       |             round(CAST(len(list_intersect(list_distinct(toks), $enStopLit)) AS DOUBLE)
       |                   / len(list_distinct(toks)), 6) AS x1,
       |             round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
       |                   / len(toks) / 10.0, 6) AS x2,
       |             round((length(text) - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))
       |                   * 10.0 / length(text), 6) AS x3
       |      FROM base WHERE len(toks) > 0 AND length(text) > 0),
       |w0_ AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,
       |               0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3),
       |$gSteps""".stripMargin
  }

  // --------------------------------------------------------------- dedup
  /** Exact dedup over corpus + 15 planted exact copies. */
  val dedupExact = QueryDef(
    "q_dedup_exact",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 15).select(($"doc_id" + 100000).as("doc_id"), $"text"))
      Dedup.exactGroups(corpus, "doc_id", "text")
        .filter($"n" > 1)
        .select($"h", $"keep_id", $"n")
        .orderBy($"keep_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 15)
            SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n
            FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
            ORDER BY keep_id"""))

  /** MinHash signatures (row shape) over word 3-shingles. */
  val dedupMinhash = QueryDef(
    "q_dedup_minhash",
    (s, dir) => {
      import s.implicits._
      Dedup.minhashSignatures(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id", $"i")
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents),
             $shinglesCte,
             $minhashCte
             SELECT doc_id, CAST(i AS INT) AS i, mh FROM mh ORDER BY doc_id, i"""))

  /** MinHash-LSH candidate pairs over corpus + 20 planted near-copies
    * (text || ' qq17 zz88'): bands → bucket join → est-Jaccard ≥ 0.5. */
  val dedupMinhashPairs = QueryDef(
    "q_dedup_minhash_pairs",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      Dedup.minhashPairs(corpus, "doc_id", "text")
        .select($"a", $"b", round($"est_jaccard", 6).as("est_jaccard"))
        .orderBy($"a", $"b")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             $minhashCte,
             bands AS (SELECT doc_id, i // 4 AS band,
                              md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
                       FROM mh GROUP BY doc_id, i // 4),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
             est AS (SELECT c.a, c.b,
                            SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0 AS ej
                     FROM cand c
                     JOIN mh ma ON ma.doc_id = c.a
                     JOIN mh mb ON mb.doc_id = c.b AND mb.i = ma.i
                     GROUP BY c.a, c.b)
             SELECT a, b, round(ej, 6) AS est_jaccard FROM est
             WHERE ej >= 0.5 ORDER BY a, b"""))

  /** k-anonymity generalization-ladder audit (Sweeney 2002) — the
    * release gate a training-data pipeline runs before publishing rows
    * with quasi-identifiers, here over the sensitive slice (customers in
    * arrears): group by the finest QI (nation, segment); groups with
    * ≥ k = 5 members release as-is (level 0); smaller groups GENERALIZE
    * one rung up the ladder to (region, segment) and release if the
    * coarser group reaches k (level 1); rows still identifiable after
    * the ladder are SUPPRESSED — k-anonymity's hard floor. Emits the
    * 3-row audit card (groups + rows per outcome, zero-filled from a
    * static level table so the shape is SF-independent). Two keyed
    * aggregations + one semi-join — each level touches only the prior
    * level's risky rows, so the ladder is linear in the released table
    * at any scale. */
  val privacyKanon = QueryDef(
    "q_privacy_kanon",
    (s, dir) => {
      import s.implicits._
      val K = 5
      val cust = Tables(s, dir, "customer").filter($"c_acctbal" < 0)
        .join(broadcast(Tables(s, dir, "nation")
          .select($"n_nationkey", $"n_regionkey")),
          $"c_nationkey" === $"n_nationkey")
      val g0 = cust.groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n")).localCheckpoint()
      val risky = cust.join(
        g0.filter($"n" < K).select($"c_nationkey", $"c_mktsegment"),
        Seq("c_nationkey", "c_mktsegment"), "left_semi")
      val g1 = risky.groupBy($"n_regionkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n")).localCheckpoint()
      val sums = Seq(
        ("0:nation+segment", g0.filter($"n" >= K)),
        ("1:region+segment", g1.filter($"n" >= K)),
        ("2:suppressed", g1.filter($"n" < K)))
        .map { case (lvl, df) =>
          df.agg(count(lit(1)).as("n_groups"),
            coalesce(sum($"n"), lit(0L)).as("n_rows"))
            .select(lit(lvl).as("level"), $"n_groups", $"n_rows")
        }
      sums.reduce(_ unionByName _).orderBy($"level")
    },
    Some("""WITH c AS (SELECT c.c_nationkey, c.c_mktsegment, n.n_regionkey
                       FROM customer c
                       JOIN nation n ON n.n_nationkey = c.c_nationkey
                       WHERE c.c_acctbal < 0),
             g0 AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
                    FROM c GROUP BY 1, 2),
             risky AS (SELECT c.* FROM c
                       JOIN g0 ON g0.c_nationkey = c.c_nationkey
                              AND g0.c_mktsegment = c.c_mktsegment
                       WHERE g0.n < 5),
             g1 AS (SELECT n_regionkey, c_mktsegment, COUNT(*) AS n
                    FROM risky GROUP BY 1, 2)
             SELECT '0:nation+segment' AS level,
                    CAST(COUNT(*) AS BIGINT) AS n_groups,
                    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows
             FROM g0 WHERE n >= 5
             UNION ALL
             SELECT '1:region+segment', CAST(COUNT(*) AS BIGINT),
                    CAST(COALESCE(SUM(n), 0) AS BIGINT)
             FROM g1 WHERE n >= 5
             UNION ALL
             SELECT '2:suppressed', CAST(COUNT(*) AS BIGINT),
                    CAST(COALESCE(SUM(n), 0) AS BIGINT)
             FROM g1 WHERE n < 5
             ORDER BY level"""))

  /** l-diversity audit of the k-anonymous release (Machanavajjhala et
    * al., ICDE 2006) — the homogeneity-attack check k-anonymity alone
    * misses: a group of ≥ k rows that all share ONE sensitive value
    * still discloses it for every member. Over q_privacy_kanon's
    * release policy (QI = (region, segment), k = 5 — one rung up
    * q_privacy_kanon's ladder so the audit is non-vacuous at every SF),
    * each equivalence class reports its distinct-l of the sensitive
    * attribute (balance bucket = floor(acctbal/2000) — exact integer)
    * and whether it clears l ≥ 3. All-integer arithmetic; one
    * groupBy with a distinct-count — the class table is bounded by
    * |QI domain|, never corpus rows. */
  val privacyLdiv = QueryDef(
    "q_privacy_ldiv",
    (s, dir) => {
      import s.implicits._
      val K = 5
      val cust = Tables(s, dir, "customer")
        .join(broadcast(Tables(s, dir, "nation")
          .select($"n_nationkey", $"n_regionkey")),
          $"c_nationkey" === $"n_nationkey")
        .select($"n_regionkey", $"c_mktsegment",
          floor($"c_acctbal" / 2000.0).cast("int").as("bucket"))
      val g = cust.groupBy($"n_regionkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct($"bucket").as("l"))
        .filter($"n" >= K)
      g.select($"n_regionkey".as("region"), $"c_mktsegment".as("segment"),
          $"n", $"l", ($"l" >= 3).as("diverse"))
        .orderBy($"region", $"segment")
    },
    Some("""WITH c AS (SELECT n.n_regionkey, c.c_mktsegment,
                              CAST(floor(c.c_acctbal / 2000.0) AS INT) AS bucket
                       FROM customer c
                       JOIN nation n ON n.n_nationkey = c.c_nationkey),
            g AS (SELECT n_regionkey AS region, c_mktsegment AS segment,
                         CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(COUNT(DISTINCT bucket) AS BIGINT) AS l
                  FROM c GROUP BY 1, 2)
            SELECT region, segment, n, l, l >= 3 AS diverse
            FROM g WHERE n >= 5
            ORDER BY region, segment"""))

  /** Cluster-level near-dup report — the step AFTER pair generation
    * every production dedup runs (CCNet / RefinedWeb "duplicate
    * clusters"): LSH pairs → connected components (pairs are not
    * transitive; a keep-one-per-PAIR rule over a chain a~b~c either
    * over- or under-deletes) → per-cluster-size histogram with the
    * documents-to-remove count (size − 1 per cluster, keep-min-id).
    * Components run on GraphAnalytics.connectedComponents (local
    * union-find under the edge gate, else the convergence-CHECKED
    * min-flood/pointer-jumping fixpoint — never a fixed round budget)
    * over the pair edges; the oracle is a TRUE recursive-CTE transitive
    * closure, so the hash match proves real convergence (the q_graph_cc
    * stance) and the engine side now fails loudly instead of splitting
    * long chains when a budget is short. Plants
    * size-3 chains (two mutations of each doc < 12) alongside the
    * standard size-2 pairs (12 ≤ doc < 20), so both histogram rows carry
    * real mass and the chain case genuinely exercises transitivity. */
  val dedupCluster = QueryDef(
    "q_dedup_cluster",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text")
        .unionByName(docs.filter($"doc_id" < 12)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
        .unionByName(docs.filter($"doc_id" < 12)
          .select(($"doc_id" + 200000).as("doc_id"),
            concat($"text", lit(" qq17 zz88 yy33")).as("text")))
        .unionByName(docs.filter($"doc_id" >= 12 && $"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
        .select($"a".as("src"), $"b".as("dst"))
      // size-gated CC with a LOUD convergence check (maxIters 64 ≫ the
      // O(log diam) bound): a fixed 4-round budget would silently split
      // longer LSH chains into bogus extra clusters at scale — the same
      // unconverged-CC failure mode the q_spatial_dbscan oracle caught.
      graft.graph.GraphAnalytics.connectedComponents(pairs, maxIters = 64)
        .groupBy($"component").agg(count(lit(1)).as("size"))
        .groupBy($"size")
        .agg(count(lit(1)).as("n_clusters"),
          sum($"size" - 1).as("n_removed"))
        .select($"size".cast("bigint").as("size"), $"n_clusters",
          $"n_removed".cast("bigint").as("n_removed"))
        .orderBy($"size")
    },
    Some(s"""WITH RECURSIVE corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 12
               UNION ALL SELECT doc_id + 200000, text || ' qq17 zz88 yy33'
               FROM documents WHERE doc_id < 12
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id >= 12 AND doc_id < 20),
             $shinglesCte,
             $minhashCte,
             bands AS (SELECT doc_id, i // 4 AS band,
                              md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
                       FROM mh GROUP BY doc_id, i // 4),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
             est AS (SELECT c.a, c.b,
                            SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0 AS ej
                     FROM cand c
                     JOIN mh ma ON ma.doc_id = c.a
                     JOIN mh mb ON mb.doc_id = c.b AND mb.i = ma.i
                     GROUP BY c.a, c.b),
             und AS (SELECT a AS u, b AS v FROM est WHERE ej >= 0.5
                     UNION SELECT b, a FROM est WHERE ej >= 0.5),
             verts AS (SELECT DISTINCT u AS x FROM und),
             reach(x, r) AS (
               SELECT x, x FROM verts
               UNION
               SELECT r0.x, u.v FROM reach r0 JOIN und u ON u.u = r0.r),
             comp AS (SELECT x, MIN(r) AS c FROM reach GROUP BY x),
             cs AS (SELECT c, COUNT(*) AS sz FROM comp GROUP BY c)
             SELECT CAST(sz AS BIGINT) AS size,
                    CAST(COUNT(*) AS BIGINT) AS n_clusters,
                    CAST(SUM(sz - 1) AS BIGINT) AS n_removed
             FROM cs GROUP BY sz ORDER BY size"""))

  /** Leakage-safe train/test split — the reason production pipelines
    * dedup BEFORE splitting: a doc-hash split puts near-duplicates on
    * both sides of the boundary (train/test contamination — the
    * evaluation silently measures memorization), while splitting by the
    * DEDUP-CLUSTER representative keeps every near-dup family on one
    * side, leak-free BY CONSTRUCTION. Pipeline: LSH pairs → connected
    * components → rep = component label (min-id; singletons are their
    * own rep) → deterministic md5 bucket of doc_id (naive) vs rep
    * (cluster-safe) at 80/20 → count straddling pairs per policy. The
    * oracle recomputes everything incl. a TRUE recursive-CTE closure
    * and DuckDB's own md5, so the hash match pins the split assignment
    * bit-for-bit. At fixture scale the naive policy leaks a nonzero
    * planted-pair count; the cluster policy reads exactly 0. Scale: one
    * LSH pass + CC on the pair graph + two hash projections — no new
    * shuffle beyond what dedup already paid. */
  val splitLeakage = QueryDef(
    "q_split_leakage",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
        .localCheckpoint()
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
        .select($"a".as("src"), $"b".as("dst"))
        .localCheckpoint() // CC re-reads edges per round; freeze the LSH
      // gated + convergence-checked (not a fixed 4-round budget): long
      // LSH chains must not silently split — that would misreport
      // leak_pairs for the cluster-safe policy as if it leaked.
      val comp = graft.graph.GraphAnalytics
        .connectedComponents(pairs, maxIters = 64)
        .select($"node".as("doc_id"), $"component")
      def bucket(c: org.apache.spark.sql.Column) =
        graft.functions.hashx.md5Prefix(c.cast("string"), 8) % 5
      val asg = corpus.select($"doc_id").join(comp, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"component", $"doc_id").as("rep"))
        .withColumn("tr_naive", bucket($"doc_id") < 4)
        .withColumn("tr_safe", bucket($"rep") < 4)
        .localCheckpoint()
      val leaks = pairs
        .join(asg.select($"doc_id".as("src"), $"tr_naive".as("na"),
          $"tr_safe".as("sa")), "src")
        .join(asg.select($"doc_id".as("dst"), $"tr_naive".as("nb"),
          $"tr_safe".as("sb")), "dst")
        .agg(
          coalesce(sum(when($"na" =!= $"nb", 1L).otherwise(0L)), lit(0L))
            .as("naive_leak"),
          coalesce(sum(when($"sa" =!= $"sb", 1L).otherwise(0L)), lit(0L))
            .as("safe_leak"))
      val counts = asg.agg(
        sum(when($"tr_naive", 1L).otherwise(0L)).as("naive_train"),
        sum(when($"tr_safe", 1L).otherwise(0L)).as("safe_train"),
        count(lit(1)).as("total"))
      counts.crossJoin(leaks).select(
        lit("a_naive_by_doc").as("policy"),
        $"naive_train".as("n_train"),
        ($"total" - $"naive_train").as("n_test"),
        $"naive_leak".as("leak_pairs"))
        .unionByName(counts.crossJoin(leaks).select(
          lit("b_cluster_safe").as("policy"),
          $"safe_train".as("n_train"),
          ($"total" - $"safe_train").as("n_test"),
          $"safe_leak".as("leak_pairs")))
        .orderBy($"policy")
    },
    Some(s"""WITH RECURSIVE corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             $minhashCte,
             bands AS (SELECT doc_id, i // 4 AS band,
                              md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
                       FROM mh GROUP BY doc_id, i // 4),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
             est AS (SELECT c.a, c.b,
                            SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0 AS ej
                     FROM cand c
                     JOIN mh ma ON ma.doc_id = c.a
                     JOIN mh mb ON mb.doc_id = c.b AND mb.i = ma.i
                     GROUP BY c.a, c.b),
             p AS (SELECT a, b FROM est WHERE ej >= 0.5),
             und AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
             verts AS (SELECT DISTINCT u AS x FROM und),
             reach(x, r) AS (
               SELECT x, x FROM verts
               UNION
               SELECT r0.x, u.v FROM reach r0 JOIN und u ON u.u = r0.r),
             comp AS (SELECT x, MIN(r) AS c FROM reach GROUP BY x),
             asg AS (SELECT c2.doc_id,
                            COALESCE(comp.c, c2.doc_id) AS rep,
                            CAST(('0x'||substr(md5(CAST(c2.doc_id AS VARCHAR)),1,8)) AS BIGINT) % 5 < 4 AS tr_naive,
                            CAST(('0x'||substr(md5(CAST(COALESCE(comp.c, c2.doc_id) AS VARCHAR)),1,8)) AS BIGINT) % 5 < 4 AS tr_safe
                     FROM corpus c2 LEFT JOIN comp ON comp.x = c2.doc_id),
             leaks AS (SELECT
                 COALESCE(SUM(CASE WHEN x.tr_naive <> y.tr_naive THEN 1 ELSE 0 END), 0) AS naive_leak,
                 COALESCE(SUM(CASE WHEN x.tr_safe <> y.tr_safe THEN 1 ELSE 0 END), 0) AS safe_leak
               FROM p JOIN asg x ON x.doc_id = p.a
                      JOIN asg y ON y.doc_id = p.b),
             counts AS (SELECT
                 CAST(SUM(CASE WHEN tr_naive THEN 1 ELSE 0 END) AS BIGINT) AS naive_train,
                 CAST(SUM(CASE WHEN tr_safe THEN 1 ELSE 0 END) AS BIGINT) AS safe_train,
                 CAST(COUNT(*) AS BIGINT) AS total
               FROM asg)
             SELECT 'a_naive_by_doc' AS policy, naive_train AS n_train,
                    total - naive_train AS n_test,
                    CAST(naive_leak AS BIGINT) AS leak_pairs
             FROM counts CROSS JOIN leaks
             UNION ALL
             SELECT 'b_cluster_safe', safe_train, total - safe_train,
                    CAST(safe_leak AS BIGINT)
             FROM counts CROSS JOIN leaks
             ORDER BY policy"""))

  /** MinHash estimator quality, self-measured in-engine (the sketch
    * analog of q_ann_recall): for the 20 planted near-dup pairs, the
    * 16-component signature agreement rate vs the exact shingle Jaccard,
    * plus |error|. Both sides are existing oracle-checked operators; this
    * query closes the loop on HOW GOOD the cheap estimate is — the number
    * that justifies choosing the LSH threshold. Estimates are k/16 (exact
    * binary fractions), so the comparison is float-safe. */
  val dedupMinhashEval = QueryDef(
    "q_dedup_minhash_eval",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val pairs = docs.filter($"doc_id" < 20)
        .select($"doc_id".as("a"), ($"doc_id" + 100000).as("b"))
      val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
      val est = pairs
        .join(sigs.toDF("a", "i", "mha"), Seq("a"))
        .join(sigs.toDF("b", "i", "mhb"), Seq("b", "i"))
        .groupBy($"a", $"b")
        .agg(round(avg(when($"mha" === $"mhb", 1.0).otherwise(0.0)), 6).as("est"))
      val exact = Dedup.ngramJaccard(corpus, "doc_id", "text", pairs)
        .select($"a", $"b", round($"jaccard", 6).as("exact"))
      est.join(exact, Seq("a", "b"))
        .withColumn("err", round(abs($"est" - $"exact"), 6))
        .orderBy($"a")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             $minhashCte,
             pairs AS (SELECT doc_id AS a, doc_id + 100000 AS b
                       FROM documents WHERE doc_id < 20),
             e AS (SELECT p.a, p.b,
                          round(AVG(CASE WHEN ma.mh = mb.mh THEN 1.0 ELSE 0.0 END), 6) AS est
                   FROM pairs p
                   JOIN mh ma ON ma.doc_id = p.a
                   JOIN mh mb ON mb.doc_id = p.b AND ma.i = mb.i
                   GROUP BY p.a, p.b),
             x AS (SELECT p.a, p.b,
                          round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
                                (len(sa.shs) + len(sb.shs)
                                 - len(list_intersect(sa.shs, sb.shs))), 6) AS exact
                   FROM pairs p
                   JOIN sh sa ON sa.doc_id = p.a
                   JOIN sh sb ON sb.doc_id = p.b)
             SELECT e.a, e.b, e.est, x.exact, round(abs(e.est - x.exact), 6) AS err
             FROM e JOIN x ON e.a = x.a AND e.b = x.b ORDER BY e.a"""))

  /** Pair-level precision/recall of the MinHash-LSH candidate generator
    * against exact-Jaccard ground truth — the eval that tells you what
    * the banding scheme actually costs in missed dups and wasted
    * verifications (dedupMinhashEval scores the ESTIMATOR; this scores
    * the whole candidate pipeline). The operator under test runs
    * corpus-wide; ground truth needs all-pairs exact Jaccard, which is
    * quadratic, so it is computed on a bounded AUDIT SAMPLE (the 20
    * planted originals + their clones, 780 pairs) — exactly how a
    * production pipeline audits LSH: sample, exhaustively label,
    * intersect. Truth = round-6 exact shingle Jaccard ≥ 0.5; predicted =
    * est-Jaccard ≥ 0.5 LSH pairs restricted to the sample. One row:
    * tp/fp/fn + precision/recall. */
  val dedupLshPr = QueryDef(
    "q_dedup_lsh_pr",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val inSample = (c: Column) => c < 20 || c >= 100000
      val ids = corpus.filter(inSample($"doc_id")).select($"doc_id")
      val pairsAll = ids.toDF("a")
        .join(broadcast(ids.toDF("b")), $"a" < $"b")
      val truth = Dedup.ngramJaccard(corpus, "doc_id", "text", pairsAll)
        .filter(round($"jaccard", 6) >= 0.5).select($"a", $"b")
      val pred = Dedup.minhashPairs(corpus, "doc_id", "text")
        .filter(inSample($"a") && inSample($"b")).select($"a", $"b")
      pred.withColumn("p", lit(1))
        .join(truth.withColumn("t", lit(1)), Seq("a", "b"), "full_outer")
        .agg(
          sum(when($"p".isNotNull && $"t".isNotNull, 1L).otherwise(0L)).as("tp"),
          sum(when($"p".isNotNull && $"t".isNull, 1L).otherwise(0L)).as("fp"),
          sum(when($"p".isNull && $"t".isNotNull, 1L).otherwise(0L)).as("fn"))
        .select($"tp", $"fp", $"fn",
          round($"tp".cast("double") / ($"tp" + $"fp"), 6).as("prec"),
          round($"tp".cast("double") / ($"tp" + $"fn"), 6).as("rec"))
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             $minhashCte,
             bands AS (SELECT doc_id, i // 4 AS band,
                              md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
                       FROM mh GROUP BY doc_id, i // 4),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
             est AS (SELECT c.a, c.b,
                            SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0 AS ej
                     FROM cand c
                     JOIN mh ma ON ma.doc_id = c.a
                     JOIN mh mb ON mb.doc_id = c.b AND mb.i = ma.i
                     GROUP BY c.a, c.b),
             pred AS (SELECT a, b FROM est WHERE ej >= 0.5
                      AND (a < 20 OR a >= 100000) AND (b < 20 OR b >= 100000)),
             ids AS (SELECT doc_id FROM corpus WHERE doc_id < 20 OR doc_id >= 100000),
             tr AS (SELECT x.doc_id AS a, y.doc_id AS b
                    FROM ids x JOIN ids y ON x.doc_id < y.doc_id
                    JOIN sh sa ON sa.doc_id = x.doc_id
                    JOIN sh sb ON sb.doc_id = y.doc_id
                    WHERE round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
                          (len(sa.shs) + len(sb.shs)
                           - len(list_intersect(sa.shs, sb.shs))), 6) >= 0.5),
             c AS (SELECT
                     (SELECT COUNT(*) FROM pred p JOIN tr t
                        ON p.a = t.a AND p.b = t.b) AS tp,
                     (SELECT COUNT(*) FROM pred) AS np,
                     (SELECT COUNT(*) FROM tr) AS nt)
             SELECT CAST(tp AS BIGINT) AS tp, CAST(np - tp AS BIGINT) AS fp,
                    CAST(nt - tp AS BIGINT) AS fn,
                    round(CAST(tp AS DOUBLE) / np, 6) AS prec,
                    round(CAST(tp AS DOUBLE) / nt, 6) AS rec
             FROM c"""))

  /** MinHash-LSH parameter auto-tuning — the knob a 100 TB dedup run
    * turns first. The 16-perm signature admits five (bands, rows) splits;
    * for each, the closed-form S-curve P(candidate | s) = 1 − (1 − s^r)^b
    * ([[graft.pipeline.Dedup.lshSCurve]], MMDS ch. 3) is evaluated at the
    * EXACT Jaccard of every audit-sample pair (the q_dedup_lsh_pr
    * sample: 20 planted originals + clones, 780 pairs — constant size at
    * any SF), giving the EXPECTED true-positive / false-positive /
    * false-negative candidate mass against the ≥ 0.5 target threshold and
    * the expected-F1 each split would score. Output is ordered best split
    * first — row 1 IS the tuning choice (PipelineSpec pins that it
    * maximizes F1 and that the engine's shipped 4×4 banding is on the
    * efficient frontier). All powers are multiplication chains (never
    * libm pow), masses sum in DECIMAL(18,6) of floor-6 values, ratios are
    * floor-idiom-rounded — hash-portable at any scale. */
  val dedupLshTune = QueryDef(
    "q_dedup_lsh_tune",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val inSample = (c: Column) => c < 20 || c >= 100000
      val ids = corpus.filter(inSample($"doc_id")).select($"doc_id")
      val pairsAll = ids.toDF("a")
        .join(broadcast(ids.toDF("b")), $"a" < $"b")
      val sj = Dedup.ngramJaccard(corpus, "doc_id", "text", pairsAll)
        .select(round($"jaccard", 6).as("s"))
      val splits = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
      val withPs = splits.foldLeft(sj) { case (df, (b, r)) =>
        df.withColumn(s"p_${b}_$r", Dedup.lshSCurve(col("s"), b, r)) }
      val stackArgs = splits.map { case (b, r) => s"$b, $r, p_${b}_$r" }
        .mkString(", ")
      val longF = withPs.select($"s",
        expr(s"stack(${splits.size}, $stackArgs) AS (bands, rows_per_band, p)"))
      val pd = col("p").cast(DecimalType(18, 6))
      val zero = lit(BigDecimal(0)).cast(DecimalType(18, 6))
      val one = lit(BigDecimal(1)).cast(DecimalType(18, 6))
      def fl6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      longF.groupBy($"bands", $"rows_per_band")
        .agg(
          sum(when($"s" >= 0.5, pd).otherwise(zero)).as("tp_d"),
          sum(when($"s" < 0.5, pd).otherwise(zero)).as("fp_d"),
          sum(when($"s" >= 0.5, one - pd).otherwise(zero)).as("fn_d"))
        .select($"bands".cast("int").as("bands"),
          $"rows_per_band".cast("int").as("rows_per_band"),
          $"tp_d".cast("double").as("exp_tp"),
          $"fp_d".cast("double").as("exp_fp"),
          $"fn_d".cast("double").as("exp_fn"))
        .withColumn("prec",
          when($"exp_tp" + $"exp_fp" === 0.0, 0.0)
            .otherwise(fl6($"exp_tp" / ($"exp_tp" + $"exp_fp"))))
        .withColumn("rec",
          when($"exp_tp" + $"exp_fn" === 0.0, 0.0)
            .otherwise(fl6($"exp_tp" / ($"exp_tp" + $"exp_fn"))))
        .withColumn("f1",
          when($"prec" + $"rec" === 0.0, 0.0)
            .otherwise(fl6(lit(2.0) * $"prec" * $"rec" / ($"prec" + $"rec"))))
        .orderBy($"f1".desc, $"bands")
    },
    Some {
      val branches = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
        .zipWithIndex.map { case ((b, r), i) =>
          val head = if (i == 0) s"SELECT $b AS bands, $r AS rows_per_band, " +
            s"${Dedup.lshSCurveSql(b, r)} AS p, s" else s"SELECT $b, $r, ${Dedup.lshSCurveSql(b, r)}, s"
          s"$head FROM x"
        }.mkString("\n                      UNION ALL ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
         |  FROM documents WHERE doc_id < 20),
         |$shinglesCte,
         |ids AS (SELECT doc_id FROM corpus WHERE doc_id < 20 OR doc_id >= 100000),
         |pairs AS (SELECT i1.doc_id AS a, i2.doc_id AS b
         |          FROM ids i1 JOIN ids i2 ON i1.doc_id < i2.doc_id),
         |x AS (SELECT round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
         |             (len(sa.shs) + len(sb.shs)
         |              - len(list_intersect(sa.shs, sb.shs))), 6) AS s
         |      FROM pairs p JOIN sh sa ON sa.doc_id = p.a
         |                   JOIN sh sb ON sb.doc_id = p.b),
         |br AS ($branches),
         |agg AS (SELECT bands, rows_per_band,
         |          SUM(CASE WHEN s >= 0.5 THEN CAST(p AS DECIMAL(18,6))
         |                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS tp_d,
         |          SUM(CASE WHEN s < 0.5 THEN CAST(p AS DECIMAL(18,6))
         |                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS fp_d,
         |          SUM(CASE WHEN s >= 0.5
         |                   THEN CAST(1 AS DECIMAL(18,6)) - CAST(p AS DECIMAL(18,6))
         |                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS fn_d
         |        FROM br GROUP BY bands, rows_per_band),
         |m AS (SELECT CAST(bands AS INT) AS bands,
         |             CAST(rows_per_band AS INT) AS rows_per_band,
         |             CAST(tp_d AS DOUBLE) AS exp_tp,
         |             CAST(fp_d AS DOUBLE) AS exp_fp,
         |             CAST(fn_d AS DOUBLE) AS exp_fn
         |      FROM agg),
         |pr AS (SELECT bands, rows_per_band, exp_tp, exp_fp, exp_fn,
         |         CASE WHEN exp_tp + exp_fp = 0 THEN 0.0
         |              ELSE floor((exp_tp / (exp_tp + exp_fp)) * 1e6 + 0.5) / 1e6
         |         END AS prec,
         |         CASE WHEN exp_tp + exp_fn = 0 THEN 0.0
         |              ELSE floor((exp_tp / (exp_tp + exp_fn)) * 1e6 + 0.5) / 1e6
         |         END AS rec
         |       FROM m)
         |SELECT bands, rows_per_band, exp_tp, exp_fp, exp_fn, prec, rec,
         |       CASE WHEN prec + rec = 0 THEN 0.0
         |            ELSE floor((2.0 * prec * rec / (prec + rec)) * 1e6 + 0.5) / 1e6
         |       END AS f1
         |FROM pr ORDER BY f1 DESC, bands""".stripMargin
    })

  /** 32-bit SimHash per document. */
  val dedupSimhash = QueryDef(
    "q_dedup_simhash",
    (s, dir) => {
      import s.implicits._
      Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents),
             t AS (SELECT doc_id, unnest($toksSql) AS tok FROM corpus),
             tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok),
             h AS (SELECT doc_id, tf, ${hvSql("tok")} AS hv FROM tf),
             bits AS (SELECT doc_id, b,
                             SUM(tf * (CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS sig
                      FROM h CROSS JOIN (SELECT unnest(range(32)) AS b)
                      GROUP BY doc_id, b)
             SELECT doc_id,
                    CAST(SUM(CASE WHEN sig > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
             FROM bits GROUP BY doc_id ORDER BY doc_id"""))

  /** n-gram Jaccard verification on candidate pairs: each planted near-copy
    * vs its original (high J) and consecutive docs (low J). */
  val dedupNgram = QueryDef(
    "q_dedup_ngram",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val pairs = docs.filter($"doc_id" < 20)
        .select($"doc_id".as("a"), ($"doc_id" + 100000).as("b"))
        .unionByName(docs.filter($"doc_id" < 20)
          .select($"doc_id".as("a"), ($"doc_id" + 1).as("b")))
      Dedup.ngramJaccard(corpus, "doc_id", "text", pairs)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             pairs AS (SELECT doc_id AS a, doc_id + 100000 AS b FROM documents WHERE doc_id < 20
                       UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id < 20),
             j AS (SELECT p.a, p.b,
                          len(list_intersect(sa.shs, sb.shs)) AS inter,
                          len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS uni
                   FROM pairs p
                   JOIN sh sa ON sa.doc_id = p.a
                   JOIN sh sb ON sb.doc_id = p.b)
             SELECT a, b, round(inter / CAST(uni AS DOUBLE), 6) AS jaccard
             FROM j ORDER BY a, b"""))

  /** Embedding-cosine near-dup detection, production shape: LSH bucket
    * equi-join candidates → exact cosine verify → top-25. Corpus = fixture
    * embeddings + 10 planted exact copies (vec_id+100000): identical
    * vectors always share a bucket, so every planted pair surfaces at
    * cos ≈ 1.0; the remaining rows are the most-similar natural
    * same-bucket candidates. The all-pairs exact baseline
    * (Dedup.embeddingCosinePairs) is cross-checked in PipelineSpec, not
    * declared — its O(n²) plan must never ship. */
  val dedupEmbCosLsh = QueryDef(
    "q_dedup_embcos_lsh",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val corpus = e.select($"vec_id", $"embedding").unionByName(
        e.filter($"vec_id" < 10)
          .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
      Dedup.embeddingCosineLsh(corpus, "vec_id", "embedding", topK = 25)
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $lit) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 10),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM corpus),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
         |             round(CASE WHEN sqrt(list_dot_product(x.v, x.v)) *
         |                             sqrt(list_dot_product(y.v, y.v)) = 0 THEN 0.0
         |                        ELSE list_dot_product(x.v, y.v) /
         |                             (sqrt(list_dot_product(x.v, x.v)) *
         |                              sqrt(list_dot_product(y.v, y.v))) END, 6) AS cos
         |      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT a, b, cos FROM p ORDER BY cos DESC, a, b LIMIT 25""".stripMargin
    })

  /** Binary sign-sketch Hamming ANN (Similarity.hammingTopK): 8-byte
    * packed sign codes, xor+popcount ranking, exact cosine carried for
    * the finalists — the memory-bandwidth sketch. The oracle rebuilds the
    * codes with a list_reduce fold and the same MSB-first bit order. */
  val vecHamming = QueryDef(
    "q_vec_hamming",
    (s, dir) => {
      import s.implicits._
      Similarity.hammingTopK(Tables(s, dir, "embeddings"), "vec_id",
          "embedding", VectorQueries.queryVec, k = 10)
        .orderBy($"hamming", $"vec_id")
    },
    Some {
      def qCode(xs: Seq[Double]): Long =
        xs.foldLeft(0L)((a, x) => a * 2 + (if (x > 0) 1L else 0L))
      val q1 = qCode(VectorQueries.queryVec.take(32))
      val q2 = qCode(VectorQueries.queryVec.drop(32))
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      def codeSql(sl: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform($sl, x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT))),
           |  (a, b) -> a*2 + b)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |             ${codeSql("v[1:32]")} AS h1,
         |             ${codeSql("v[33:64]")} AS h2
         |      FROM e)
         |SELECT vec_id,
         |       CAST(bit_count(xor(h1, CAST($q1 AS BIGINT))) +
         |            bit_count(xor(h2, CAST($q2 AS BIGINT))) AS INT) AS hamming,
         |       round(${cosSql("v", qv)}, 6) AS cos
         |FROM b ORDER BY hamming, vec_id LIMIT 10""".stripMargin
    })

  /** Packed-Hamming ANN for a query BATCH (Similarity.hammingTopKQueries):
    * corpus sign codes built once, ranking joins only the two packed
    * BIGINT columns, exact cosine computed for the ≤ batch·k finalists
    * only. Single-query equivalence with q_vec_hamming's path is
    * spec-pinned (SketchIvfSpec). */
  val vecHammingBatch = QueryDef(
    "q_vec_hamming_batch",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      Similarity.hammingTopKQueries(e, "vec_id", "embedding",
          e.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64, k = 5)
        .orderBy($"qid", $"rn")
    },
    Some {
      def codeSql(sl: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform($sl, x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT))),
           |  (a, b) -> a*2 + b)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |             ${codeSql("v[1:32]")} AS h1,
         |             ${codeSql("v[33:64]")} AS h2
         |      FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv,
         |             ${codeSql("v[1:32]")} AS qh1,
         |             ${codeSql("v[33:64]")} AS qh2
         |      FROM e WHERE vec_id < 3),
         |r AS (SELECT q.qid, b.vec_id,
         |             CAST(bit_count(xor(b.h1, q.qh1)) +
         |                  bit_count(xor(b.h2, q.qh2)) AS INT) AS hamming,
         |             b.v, q.qv
         |      FROM b CROSS JOIN q),
         |t AS (SELECT qid, vec_id, hamming, v, qv,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY hamming, vec_id) AS rn
         |      FROM r)
         |SELECT qid, vec_id AS cand, hamming,
         |       round(${cosSql("v", "qv")}, 6) AS cos, CAST(rn AS INT) AS rn
         |FROM t WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    })

  /** Int8 scalar-quantized ANN (Similarity.sq8TopK): one global max-|x|
    * scale quantizes every component to ⌊x·127/M⌋, the scan ranks on the
    * exact all-integer quantized dot product, and the true cosine runs
    * only on the 30 finalists — the 4×-compressed SQ8 serving scan.
    * Both engines compute the identical ⌊x·127/M⌋ codes (floor of one
    * IEEE multiply-divide), so the candidate set is bit-identical and
    * the hash check covers the whole path. */
  val annSq8 = QueryDef(
    "q_ann_sq8",
    (s, dir) => {
      import s.implicits._
      Similarity.sq8TopK(Tables(s, dir, "embeddings"), "vec_id",
          "embedding", VectorQueries.queryVec, k = 10, rerank = 30)
        .orderBy($"cos".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |m AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS mx FROM e),
         |c AS (SELECT vec_id, v,
         |             CAST(list_dot_product(
         |               list_transform(v, x -> floor(x * 127.0 / mx)),
         |               list_transform($qv, x -> floor(x * 127.0 / mx)))
         |               AS BIGINT) AS qdot
         |      FROM e CROSS JOIN m),
         |r AS (SELECT vec_id, v, qdot FROM c
         |      ORDER BY qdot DESC, vec_id LIMIT 30)
         |SELECT vec_id, qdot, round(${cosSql("v", qv)}, 6) AS cos
         |FROM r ORDER BY round(${cosSql("v", qv)}, 6) DESC, vec_id
         |LIMIT 10""".stripMargin
    })

  /** SQ8 ANN for a query BATCH (Similarity.sq8TopKQueries): the corpus
    * is int8-coded once per batch against the one global scale, ranking
    * is the exact integer dot per (query, vector), and the true cosine
    * runs only on per-query rerank finalists. Single-query equivalence
    * with q_ann_sq8's path is spec-pinned (SketchIvfSpec). */
  val annSq8Batch = QueryDef(
    "q_ann_sq8_batch",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      Similarity.sq8TopKQueries(e, "vec_id", "embedding",
          e.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, rerank = 30)
        .orderBy($"qid", $"rn")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |m AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS mx FROM e),
            |cc AS (SELECT vec_id, v,
            |              list_transform(v, x -> floor(x * 127.0 / mx)) AS qc
            |       FROM e CROSS JOIN m),
            |cq AS (SELECT vec_id AS qid, v AS qv,
            |              list_transform(v, x -> floor(x * 127.0 / mx)) AS qq
            |       FROM e CROSS JOIN m WHERE vec_id < 3),
            |s AS (SELECT cq.qid, cc.vec_id, cc.v, cq.qv,
            |             CAST(list_dot_product(cc.qc, cq.qq) AS BIGINT) AS qdot
            |      FROM cc CROSS JOIN cq),
            |r AS (SELECT qid, vec_id, v, qv, qdot,
            |             ROW_NUMBER() OVER (PARTITION BY qid
            |               ORDER BY qdot DESC, vec_id) AS rf
            |      FROM s),
            |t AS (SELECT qid, vec_id, qdot,
            |             round(${cosSql("v", "qv")}, 6) AS cos
            |      FROM r WHERE rf <= 30),
            |f AS (SELECT qid, vec_id, qdot, cos,
            |             ROW_NUMBER() OVER (PARTITION BY qid
            |               ORDER BY cos DESC, vec_id) AS rn
            |      FROM t)
            |SELECT qid, vec_id AS cand, qdot, cos, CAST(rn AS INT) AS rn
            |FROM f WHERE rn <= 5 ORDER BY qid, rn""".stripMargin))

  /** Nearest-class-mean evaluation over the labeled embeddings — the
    * prototype-classifier probe (per-class mean embedding, each vector
    * assigned to its highest-dot-product prototype) that diagnoses how
    * linearly separable an embedding space's labels are before any
    * training run. Class means are DECIMAL-exact sums over the exploded
    * (label, dim) key — map-side partial-aggregable at any scale — and
    * the per-(vector, class) score sums round-8 decimal products, so
    * argmax ranks are partition-independent; prototypes are a
    * |labels|·dim broadcast. Returns per-label (n, n_correct, acc). */
  val vecNcm = QueryDef(
    "q_vec_ncm",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val x = TextOps.spread(Tables(s, dir, "embeddings"))
        .select($"vec_id", $"label",
          posexplode($"embedding".cast("array<double>")).as(Seq("i", "x")))
      val means = x.groupBy($"label".as("ml"), $"i")
        .agg(count(lit(1)).as("nm"),
          sum($"x".cast(DecimalType(20, 12))).as("sx"))
        .select($"ml", $"i",
          round($"sx".cast("double") / $"nm", 6).as("m"))
      val scores = x.join(broadcast(means), Seq("i"))
        .groupBy($"vec_id", $"label", $"ml")
        .agg(sum(round($"x" * $"m", 8).cast(DecimalType(20, 8))).as("sc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"vec_id").orderBy($"sc".desc, $"ml")
      val pred = scores.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      pred.groupBy($"label")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when($"ml" === $"label", 1).otherwise(0)).cast("long").as("n_correct"))
        .select($"label", $"n", $"n_correct",
          round($"n_correct".cast("double") / $"n", 6).as("acc"))
        .orderBy($"label")
    },
    Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            x AS (SELECT vec_id, label, CAST(u.j AS INT) AS i, v[u.j + 1] AS xv
                  FROM e, unnest(range(len(v))) AS u(j)),
            mn AS (SELECT label AS ml, i,
                          round(CAST(SUM(CAST(xv AS DECIMAL(20,12))) AS DOUBLE)
                                / COUNT(*), 6) AS m
                   FROM x GROUP BY label, i),
            sc AS (SELECT x.vec_id, x.label, mn.ml,
                          SUM(CAST(round(x.xv * mn.m, 8) AS DECIMAL(20,8))) AS s
                   FROM x JOIN mn USING (i)
                   GROUP BY x.vec_id, x.label, mn.ml),
            pr AS (SELECT vec_id, label, ml FROM (
                     SELECT vec_id, label, ml,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, ml) AS rn
                     FROM sc) WHERE rn = 1)
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN ml = label THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_correct,
                   round(CAST(SUM(CASE WHEN ml = label THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*), 6) AS acc
            FROM pr GROUP BY label ORDER BY label"""))

  /** SemDeDup over TRAINED k-means cells (Dedup.semanticDedup): the
    * 10 planted exact copies must each be pruned by their original —
    * identical vectors always share a cell, and the original is the
    * smallest ≥τ cell-mate. Training is replayed by the shared
    * kmeansCtes; pruning is a within-cell pairwise CTE, exactly the
    * per-cell quadratic the Spark side bounds by cell size. */
  val dedupSemantic = QueryDef(
    "q_dedup_semantic",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val corpus = e.select($"vec_id", $"embedding").unionByName(
        e.filter($"vec_id" < 10)
          .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
      val cent = trainedCentroids(s, dir)
      Dedup.semanticDedup(corpus, "vec_id", "embedding", cent, tau = 0.99)
        .orderBy($"vec_id")
    },
    Some(s"""WITH ${kmeansCtes(2)},
         |corp AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM (
         |           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           UNION ALL SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
         |           FROM embeddings WHERE vec_id < 10)),
         |asg AS (SELECT t.vid, corp.v, corp.nv, t.cid FROM (
         |          SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid
         |                   ORDER BY ccos DESC, cid) AS rn FROM (
         |            SELECT corp.vec_id AS vid, c.cid,
         |                   round(CASE WHEN corp.nv * c.nc = 0 THEN 0.0
         |                              ELSE list_dot_product(corp.v, c.cv) / (corp.nv * c.nc)
         |                         END, 6) AS ccos
         |            FROM corp CROSS JOIN c2 c)) t
         |         JOIN corp ON corp.vec_id = t.vid WHERE t.rn = 1),
         |pr AS (SELECT x.vid AS vid, y.vid AS bvid,
         |              round(CASE WHEN x.nv * y.nv = 0 THEN 0.0
         |                         ELSE list_dot_product(x.v, y.v) / (x.nv * y.nv)
         |                    END, 6) AS cos
         |       FROM asg x JOIN asg y ON x.cid = y.cid AND y.vid < x.vid),
         |hit AS (SELECT vid, bvid, cos,
         |               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY bvid) AS rn
         |        FROM pr WHERE cos >= 0.99)
         |SELECT vid AS vec_id, bvid AS keep_id, cos FROM hit WHERE rn = 1
         |ORDER BY vec_id""".stripMargin))

  /** SemDeDup with the EXECUTABLE cell budget (Dedup.semanticDedupBudget):
    * cells over `budget` rows split into residual sign-LSH sub-buckets, so
    * a hot cell's pair volume is bounded instead of |cell|². budget = 15
    * at sf0.01 puts most trained cells (avg ≈ 22) over budget, exercising
    * the residual split in the oracle comparison; the 10 planted exact
    * copies share cell, centroid, AND residual with their originals, so
    * each is still pruned by its original. The oracle replays training
    * (kmeansCtes), assignment, cell sizing, and the residual hyperplane
    * signs as literal-vector dot products. */
  val dedupSemanticBudget = QueryDef(
    "q_dedup_semantic_budget",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val corpus = e.select($"vec_id", $"embedding").unionByName(
        e.filter($"vec_id" < 10)
          .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
      val cent = trainedCentroids(s, dir)
      Dedup.semanticDedupBudget(corpus, "vec_id", "embedding", cent,
          tau = 0.99, budget = 15L, numPlanes = 4, dim = 64)
        .orderBy($"vec_id")
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val subSql = planes.zipWithIndex.map { case (p, b) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"""(CASE WHEN list_dot_product(a.v, $lit) -
           |           list_dot_product(a.cv, $lit) > 0
           |      THEN ${1L << b} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH ${kmeansCtes(2)},
         |corp AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM (
         |           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           UNION ALL SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
         |           FROM embeddings WHERE vec_id < 10)),
         |asg AS (SELECT t.vid, corp.v, corp.nv, c.cid, c.cv FROM (
         |          SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid
         |                   ORDER BY ccos DESC, cid) AS rn FROM (
         |            SELECT corp.vec_id AS vid, c.cid,
         |                   round(CASE WHEN corp.nv * c.nc = 0 THEN 0.0
         |                              ELSE list_dot_product(corp.v, c.cv) / (corp.nv * c.nc)
         |                         END, 6) AS ccos
         |            FROM corp CROSS JOIN c2 c)) t
         |         JOIN corp ON corp.vec_id = t.vid
         |         JOIN c2 c ON c.cid = t.cid
         |         WHERE t.rn = 1),
         |sz AS (SELECT cid, COUNT(*) AS csz FROM asg GROUP BY cid),
         |bg AS (SELECT a.vid, a.v, a.nv, a.cid,
         |              CASE WHEN s.csz > 15 THEN $subSql ELSE 0 END AS sub
         |       FROM asg a JOIN sz s ON s.cid = a.cid),
         |pr AS (SELECT x.vid AS vid, y.vid AS bvid,
         |              round(CASE WHEN x.nv * y.nv = 0 THEN 0.0
         |                         ELSE list_dot_product(x.v, y.v) / (x.nv * y.nv)
         |                    END, 6) AS cos
         |       FROM bg x JOIN bg y
         |         ON x.cid = y.cid AND x.sub = y.sub AND y.vid < x.vid),
         |hit AS (SELECT vid, bvid, cos,
         |               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY bvid) AS rn
         |        FROM pr WHERE cos >= 0.99)
         |SELECT vid AS vec_id, bvid AS keep_id, cos FROM hit WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    })

  // ----------------------------------------------------------------- ANN
  /** Sign-LSH bucketed ANN: 4 exact-literal hyperplanes → 16 buckets;
    * queries (vec_id < 5) probe only their own bucket. */
  val annLsh = QueryDef(
    "q_ann_lsh",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding", k = 5)
        .orderBy($"qid", $"rn")
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $lit) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
         |s AS (SELECT q.qid, c.vec_id AS cid,
         |             round(CASE WHEN sqrt(list_dot_product(c.v, c.v)) *
         |                             sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0.0
         |                        ELSE list_dot_product(c.v, q.qv) /
         |                             (sqrt(list_dot_product(c.v, c.v)) *
         |                              sqrt(list_dot_product(q.qv, q.qv))) END, 6) AS cos
         |      FROM b c JOIN q ON c.bucket = q.bucket),
         |r AS (SELECT qid, cid, cos,
         |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |      FROM s)
         |SELECT qid, cid, cos, CAST(rn AS INT) AS rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    })

  /** Multi-probe LSH ANN: queries additionally probe every bucket at
    * hamming distance 1 — recall climbs toward brute force at (H+1)× the
    * candidate cost instead of scanning all 2^H buckets. */
  val annLshMultiprobe = QueryDef(
    "q_ann_lsh_multiprobe",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding",
        k = 5, probeRadius = 1)
        .orderBy($"qid", $"rn")
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $lit) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
         |qp AS (SELECT qid, qv,
         |              unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                      xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |       FROM q),
         |s AS (SELECT qp.qid, c.vec_id AS cid,
         |             round(CASE WHEN sqrt(list_dot_product(c.v, c.v)) *
         |                             sqrt(list_dot_product(qp.qv, qp.qv)) = 0 THEN 0.0
         |                        ELSE list_dot_product(c.v, qp.qv) /
         |                             (sqrt(list_dot_product(c.v, c.v)) *
         |                              sqrt(list_dot_product(qp.qv, qp.qv))) END, 6) AS cos
         |      FROM b c JOIN qp ON c.bucket = qp.bucket),
         |r AS (SELECT qid, cid, cos,
         |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |      FROM s)
         |SELECT qid, cid, cos, CAST(rn AS INT) AS rn FROM r
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    })

  /** Non-64-dim ANN: the LSH path over a 256-dim corpus derived from the
    * fixture embeddings by DuckDB-expressible algebra (v ∥ reverse(v) ∥
    * v/2 ∥ −v — all exact doubles). Exercises the hyperplane-dimension
    * derivation in [[Similarity.lshTopK]]: planes must span all 256
    * components, not a 64-dim prefix. */
  val annLsh256 = QueryDef(
    "q_ann_lsh_256",
    (s, dir) => {
      import s.implicits._
      val vd = $"embedding".cast("array<double>")
      val e = Tables(s, dir, "embeddings")
        .select($"vec_id",
          concat(vd, reverse(vd),
            transform(vd, x => x / 2.0), transform(vd, x => -x)).as("v256"))
      Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id", "v256", k = 5)
        .orderBy($"qid", $"rn")
    },
    Some {
      val planes = Similarity.hyperplanes(4, 256)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $lit) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id,
         |             list_concat(list_concat(v, list_reverse(v)),
         |                         list_concat(list_transform(v, x -> x / 2.0),
         |                                     list_transform(v, x -> -x))) AS v
         |      FROM e0),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
         |s AS (SELECT q.qid, c.vec_id AS cid,
         |             round(CASE WHEN sqrt(list_dot_product(c.v, c.v)) *
         |                             sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0.0
         |                        ELSE list_dot_product(c.v, q.qv) /
         |                             (sqrt(list_dot_product(c.v, c.v)) *
         |                              sqrt(list_dot_product(q.qv, q.qv))) END, 6) AS cos
         |      FROM b c JOIN q ON c.bucket = q.bucket),
         |r AS (SELECT qid, cid, cos,
         |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |      FROM s)
         |SELECT qid, cid, cos, CAST(rn AS INT) AS rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    })

  /** Product-quantization ANN (Similarity.pqTopK): 8 subspaces × ⌈√n⌉-spaced
    * deterministic codebook, asymmetric-distance scoring. Completes the ANN
    * family (brute / sign-LSH / multi-probe / IVF / PQ). */
  val annPq = QueryDef(
    "q_ann_pq",
    (s, dir) => {
      import s.implicits._
      Similarity.pqTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          VectorQueries.queryVec, k = 10,
          corpusN = Tables.rowCount(s, dir, "embeddings"))
        .orderBy($"score".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH sp AS (SELECT CAST(greatest(ceil(sqrt(COUNT(*))), ceil(COUNT(*)/256.0)) AS BIGINT) AS sp FROM embeddings),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ss AS (SELECT unnest(range(8)) AS s),
         |sub AS (SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS xs
         |        FROM e CROSS JOIN ss),
         |cb AS (SELECT vec_id AS cid, s, list_slice(v, s*8 + 1, s*8 + 8) AS cs
         |       FROM e CROSS JOIN ss WHERE vec_id % (SELECT sp FROM sp) = 0),
         |asg AS (SELECT vec_id, s, cid FROM (
         |          SELECT sub.vec_id, sub.s, cb.cid,
         |                 ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
         |                   round(list_dot_product(xs, xs) - 2.0*list_dot_product(xs, cs)
         |                         + list_dot_product(cs, cs), 6), cb.cid) AS rn
         |          FROM sub JOIN cb ON cb.s = sub.s) WHERE rn = 1),
         |q AS (SELECT s, cid,
         |             round(list_dot_product(list_slice($qv, s*8 + 1, s*8 + 8), cs), 6) AS contrib
         |      FROM cb),
         |sc AS (SELECT a.vec_id,
         |              round(CAST(SUM(CAST(q.contrib AS DECIMAL(20,10))) AS DOUBLE), 6) AS score
         |       FROM asg a JOIN q ON q.s = a.s AND q.cid = a.cid
         |       GROUP BY a.vec_id)
         |SELECT vec_id, score FROM sc ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    })

  /** PQ-flat ADC for a query BATCH (Similarity.pqTopKQueries): the corpus
    * is PQ-coded once for the whole batch (the assignment pass is query-
    * independent), per-query ADC rides the broadcast-gated
    * (qid, s, cid) lookup table, top-k windows partition by qid.
    * Single-query equivalence with q_ann_pq's path is spec-pinned
    * (SketchIvfSpec). */
  val annPqBatch = QueryDef(
    "q_ann_pq_batch",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      Similarity.pqTopKQueries(e, "vec_id", "embedding",
          e.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64, k = 5,
          corpusN = Tables.rowCount(s, dir, "embeddings"), queriesN = 3L)
        .orderBy($"qid", $"rn")
    },
    Some(s"""WITH sp AS (SELECT CAST(greatest(ceil(sqrt(COUNT(*))), ceil(COUNT(*)/256.0)) AS BIGINT) AS sp FROM embeddings),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ss AS (SELECT unnest(range(8)) AS s),
         |sub AS (SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS xs
         |        FROM e CROSS JOIN ss),
         |cb AS (SELECT vec_id AS cid, s, list_slice(v, s*8 + 1, s*8 + 8) AS cs
         |       FROM e CROSS JOIN ss WHERE vec_id % (SELECT sp FROM sp) = 0),
         |asg AS (SELECT vec_id, s, cid FROM (
         |          SELECT sub.vec_id, sub.s, cb.cid,
         |                 ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
         |                   round(list_dot_product(xs, xs) - 2.0*list_dot_product(xs, cs)
         |                         + list_dot_product(cs, cs), 6), cb.cid) AS rn
         |          FROM sub JOIN cb ON cb.s = sub.s) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
         |qc AS (SELECT q.qid, cb.s, cb.cid,
         |              round(list_dot_product(list_slice(q.qv, cb.s*8 + 1, cb.s*8 + 8),
         |                                     cb.cs), 6) AS contrib
         |       FROM q CROSS JOIN cb),
         |sc AS (SELECT qc.qid, a.vec_id,
         |              round(CAST(SUM(CAST(qc.contrib AS DECIMAL(20,10))) AS DOUBLE), 6) AS score
         |       FROM asg a JOIN qc ON qc.s = a.s AND qc.cid = a.cid
         |       GROUP BY qc.qid, a.vec_id)
         |SELECT qid, vec_id AS cand, score, CAST(rn AS INT) AS rn FROM (
         |  SELECT qid, vec_id, score,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
         |  FROM sc) WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin))

  /** ANN quality evaluation as a query: recall@5 of multi-probe LSH
    * against the exact brute-force top-5, per query vector — the metric
    * every ANN deployment tracks, computed by the engine itself (join the
    * approximate and exact top-k lists, count the intersection). */
  val annRecall = QueryDef(
    "q_ann_recall",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val approx = Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id",
          "embedding", k = 5, probeRadius = 1)
        .select($"qid", $"cid")
      val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qv"))
      val c = TextOps.spread(e).select($"vec_id".as("cid"), $"embedding".as("cv"))
      val exact = Similarity.nearest(c, q, "qid", "cid", "cos",
          graft.functions.vec.cosine($"cv", $"qv"), 5, 6)
        .select($"qid", $"cid")
      exact.join(approx, Seq("qid", "cid"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("n_hit"),
          (count(lit(1)) / 5.0).as("recall_at_5"))
        .orderBy($"qid")
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $lit) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      val cos = (a: String, b: String) =>
        s"""round(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0
           |           THEN 0.0
           |           ELSE list_dot_product($a, $b) /
           |                (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END, 6)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
         |qp AS (SELECT qid, qv,
         |              unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                      xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |       FROM q),
         |sa AS (SELECT qp.qid, c.vec_id AS cid, ${cos("c.v", "qp.qv")} AS cos
         |       FROM b c JOIN qp ON c.bucket = qp.bucket),
         |approx AS (SELECT qid, cid FROM (
         |             SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |             FROM sa) WHERE rn <= 5),
         |se AS (SELECT q.qid, c.vec_id AS cid, ${cos("c.v", "q.qv")} AS cos
         |       FROM e c CROSS JOIN q),
         |exact AS (SELECT qid, cid FROM (
         |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |            FROM se) WHERE rn <= 5)
         |SELECT exact.qid, CAST(COUNT(*) AS BIGINT) AS n_hit,
         |       COUNT(*) / 5.0::DOUBLE AS recall_at_5
         |FROM exact JOIN approx USING (qid, cid)
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin
    })

  /** Recall@5 of the TRAINED-IVF query path (kmeansCentroids →
    * ivfTopKQueries) against the exact brute-force top-5 — the follow-up
    * measurement the trained quantizer exists for: q_ann_recall evaluates
    * multi-probe LSH, this evaluates the k-means IVF on the same 5 query
    * vectors. The oracle replays training (shared kmeansCtes), probes, and
    * both rankings. */
  val annRecallTrained = QueryDef(
    "q_ann_recall_trained",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val cent = trainedCentroids(s, dir)
      val approx = Similarity.ivfTopKQueries(e, "vec_id", "embedding", cent,
          e.filter($"vec_id" < 5), "vec_id", "embedding", k = 5, nprobe = 2)
        .select($"qid", $"cand".as("cid"))
      val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qv"))
      val c = TextOps.spread(e).select($"vec_id".as("cid"), $"embedding".as("cv"))
      val exact = Similarity.nearest(c, q, "qid", "cid", "cos",
          graft.functions.vec.cosine($"cv", $"qv"), 5, 6)
        .select($"qid", $"cid")
      exact.join(approx, Seq("qid", "cid"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("n_hit"),
          (count(lit(1)) / 5.0).as("recall_at_5"))
        .orderBy($"qid")
    },
    Some(s"""WITH ${kmeansCtes(2)},
             |af AS (${kmAssignSql("c2")}),
             |q AS (SELECT vid AS qid, v AS qv FROM e WHERE vid < 5),
             |pr AS (SELECT qid, qv, cid FROM (
             |         SELECT q.qid, q.qv, c.cid,
             |                ROW_NUMBER() OVER (PARTITION BY q.qid
             |                  ORDER BY round(${cosSql("q.qv", "c.cv")}, 6) DESC, c.cid) AS rn
             |         FROM q CROSS JOIN c2 c) WHERE rn <= 2),
             |sa AS (SELECT pr.qid, af.vid AS cand,
             |              round(${cosSql("af.v", "pr.qv")}, 6) AS score
             |       FROM af JOIN pr USING (cid)),
             |approx AS (SELECT qid, cand AS cid FROM (
             |             SELECT qid, cand, ROW_NUMBER() OVER (PARTITION BY qid
             |               ORDER BY score DESC, cand) AS rn
             |             FROM sa) WHERE rn <= 5),
             |se AS (SELECT q.qid, e.vid AS cid, round(${cosSql("e.v", "q.qv")}, 6) AS cos
             |       FROM e CROSS JOIN q),
             |exact AS (SELECT qid, cid FROM (
             |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY cos DESC, cid) AS rn
             |            FROM se) WHERE rn <= 5)
             |SELECT exact.qid, CAST(COUNT(*) AS BIGINT) AS n_hit,
             |       COUNT(*) / 5.0::DOUBLE AS recall_at_5
             |FROM exact JOIN approx USING (qid, cid)
             |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin))

  /** The nprobe tuning curve — the recall/latency dial every IVF
    * deployment turns, measured as ONE plan: corpus assignment and
    * candidate scoring run ONCE against the top-4 probes, then each
    * sweep setting nprobe ∈ {1, 2, 4} re-ranks the candidate subset with
    * probe rank ≤ nprobe ((setting, query)-partitioned windows — a
    * per-setting re-run would repeat the assignment pass, the cost that
    * dominates at scale). Aggregated recall@5 over the 5-query set must
    * be non-decreasing in nprobe by construction (candidate sets nest) —
    * spec-asserted, and the left join from the settings table keeps a
    * zero-recall setting present rather than silently absent. */
  // ---------------------------------------------------- graph ANN (NSW)

  /** NSW navigation parameters — one place, cited by both the Spark path
    * (Similarity.nswGraph/nswTopKQueries defaults) and the oracle CTEs. */
  private val NswM = 8
  private val NswBeam = 16
  private val NswHops = 6

  /** The navigable graph as a session artifact (the trainedCentroids
    * convention): built once per (session, sfDir), shared by q_ann_nsw
    * and q_ann_nsw_recall — a production NSW index is a per-snapshot
    * artifact, not a per-query build. Bit-deterministic, so sharing
    * cannot change any result. r14-opt: it also carries the normed-corpus
    * scoring frame (cid, cv, ncv) — the beam search reads it every hop,
    * and deriving it per QUERY paid one full corpus materialization each
    * for q_ann_nsw and q_ann_nsw_recall. */
  private[graft] val nswIndexShared = Artifact("nsw_index") { (s, dir) =>
    import org.apache.spark.sql.functions.col
    val emb = Tables(s, dir, "embeddings")
    val (e, r) = Similarity.nswIndex(emb,
      "vec_id", "embedding", m = NswM,
      corpusN = Tables.rowCount(s, dir, "embeddings"))
    val c = emb.select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("ncv", graft.functions.vec.norm(col("cv")))
    (e.localCheckpoint(), r.localCheckpoint(), c.localCheckpoint())
  }

  /** Unrolled-CTE replay of Similarity.nswGraph + fixed-hop beam search:
    * defines nb (bucketed corpus with precomputed norms), nedges (local
    * top-M + rep star + rep clique, MATERIALIZED — referenced at every
    * hop), the caller-supplied query CTE nq (qid, qv, nn), and per hop
    * the expansion/beam/visited triple nex$i / nlv$i / nvis$i — all
    * MATERIALIZED so the unstaged driver gate never inlines level i−1
    * multiple times into level i (invariant 13). Consumers read the
    * final candidate set from nvis$NswHops. */
  private def nswCtes(nqSql: String): String = {
    // adaptive H (Similarity.nswPlanesFor): the SAME minimal-H-with-
    // 2^H >= n/32 rule as exact integer comparisons — a 9-branch CASE
    // chain over COUNT(*), never ceil(log2(n)) (libm tail at power-of-two
    // boundaries). All 12 candidate planes are emitted; bits b >= h are
    // masked off, which equals Spark's sum over the first h planes.
    val nhSql =
      """nh AS (SELECT CASE WHEN c <= 512 THEN 4 WHEN c <= 1024 THEN 5
        |               WHEN c <= 2048 THEN 6 WHEN c <= 4096 THEN 7
        |               WHEN c <= 8192 THEN 8 WHEN c <= 16384 THEN 9
        |               WHEN c <= 32768 THEN 10 WHEN c <= 65536 THEN 11
        |               ELSE 12 END AS h
        |        FROM (SELECT COUNT(*) AS c FROM embeddings))""".stripMargin
    val planes = Similarity.nswHyperplanes(12, 64)
    val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
      val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN $b < (SELECT h FROM nh) AND list_dot_product($v, $lit) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    def sc(c: String, q: String, cn: String, qn: String) =
      s"round(CASE WHEN $cn * $qn = 0 THEN 0.0 ELSE list_dot_product($c, $q) / ($cn * $qn) END, 6)"
    val lvls = (1 to NswHops).map { i =>
      s"""nex$i AS MATERIALIZED (
         |  SELECT DISTINCT f.qid, g.dst AS cid,
         |         ${sc("c.v", "q.qv", "c.nv", "q.nn")} AS score
         |  FROM nlv${i - 1} f JOIN nedges g ON g.src = f.cid
         |       JOIN nb c ON c.vid = g.dst JOIN nq q ON q.qid = f.qid),
         |nlv$i AS MATERIALIZED (
         |  SELECT qid, cid, score FROM (
         |    SELECT qid, cid, score, ROW_NUMBER() OVER (PARTITION BY qid
         |             ORDER BY score DESC, cid) AS rn
         |    FROM (SELECT qid, cid, score FROM nex$i
         |          UNION SELECT qid, cid, score FROM nlv${i - 1}) u)
         |  WHERE rn <= $NswBeam),
         |nvis$i AS MATERIALIZED (
         |  SELECT qid, cid, score FROM nvis${i - 1}
         |  UNION SELECT qid, cid, score FROM nex$i)""".stripMargin
    }.mkString(",\n")
    s"""$nhSql,
       |ne AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nb AS MATERIALIZED (SELECT vid, v, sqrt(list_dot_product(v, v)) AS nv,
       |                           ${bucketSql("v")} AS bucket FROM ne),
       |nlp AS (SELECT x.vid AS src, y.vid AS dst,
       |               ${sc("x.v", "y.v", "x.nv", "y.nv")} AS cos
       |        FROM nb x JOIN nb y ON x.bucket = y.bucket AND x.vid <> y.vid),
       |nloc AS (SELECT src, dst FROM (
       |           SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |                    ORDER BY cos DESC, dst) AS rn FROM nlp)
       |         WHERE rn <= $NswM),
       |nrep AS MATERIALIZED (SELECT bucket, MIN(vid) AS rid FROM nb GROUP BY bucket),
       |nedges AS MATERIALIZED (
       |  SELECT src, dst FROM nloc
       |  UNION SELECT dst, src FROM nloc
       |  UNION SELECT b.vid, r.rid FROM nb b JOIN nrep r ON r.bucket = b.bucket AND r.rid <> b.vid
       |  UNION SELECT r.rid, b.vid FROM nb b JOIN nrep r ON r.bucket = b.bucket AND r.rid <> b.vid
       |  UNION SELECT x.rid, y.rid FROM nrep x JOIN nrep y ON x.rid <> y.rid),
       |ncent AS MATERIALIZED (
       |  SELECT bucket, cent, sqrt(list_dot_product(cent, cent)) AS ncn FROM (
       |    SELECT bucket, list(m ORDER BY idx) AS cent FROM (
       |      SELECT bucket, CAST(u.j AS INT) AS idx,
       |             round(CAST(SUM(CAST(v[u.j + 1] AS DECIMAL(20,10))) AS DOUBLE)
       |                   / COUNT(*), 6) AS m
       |      FROM nb, unnest(range(len(v))) AS u(j) GROUP BY bucket, idx) mm
       |    GROUP BY bucket) cc),
       |nq AS ($nqSql),
       |nsel AS MATERIALIZED (
       |  SELECT qid, bucket FROM (
       |    SELECT q.qid, cc.bucket, ROW_NUMBER() OVER (PARTITION BY q.qid
       |             ORDER BY ${sc("cc.cent", "q.qv", "cc.ncn", "q.nn")} DESC,
       |                      cc.bucket) AS rn
       |    FROM nq q CROSS JOIN ncent cc) z
       |  WHERE rn <= ${2 * NswBeam}),
       |nlv0 AS MATERIALIZED (
       |  SELECT s.qid, c.vid AS cid,
       |         ${sc("c.v", "q.qv", "c.nv", "q.nn")} AS score
       |  FROM nsel s JOIN nrep r ON r.bucket = s.bucket
       |       JOIN nb c ON c.vid = r.rid JOIN nq q ON q.qid = s.qid),
       |nvis0 AS (SELECT qid, cid, score FROM nlv0),
       |$lvls""".stripMargin
  }

  /** Graph-based ANN (NSW-style) — the industry-dominant vector-serving
    * method, absent from the family until round 14: deterministic
    * navigable graph ([[graft.pipeline.Similarity.nswGraph]]: bucket-local
    * top-M kNN edges + a rep-clique navigation layer) and a fixed-hop
    * greedy beam search from the min-id entry node
    * ([[graft.pipeline.Similarity.nswTopK]]). Reference contrast:
    * app.py:390-392 is explicitly index-free full scan — this is the
    * builder-mandate vector-indexing surface. The oracle rebuilds the
    * graph and replays every beam hop as MATERIALIZED level CTEs (the
    * q_graph_sssp shape). Serving cost per query after the one-time
    * build: beam·degree candidate scorings per hop, independent of n. */
  val annNsw = QueryDef(
    "q_ann_nsw",
    (s, dir) => {
      import s.implicits._
      val (ie, ir, ic) = nswIndexShared(s, dir)
      Similarity.nswTopK(Tables(s, dir, "embeddings"), "vec_id",
          "embedding", VectorQueries.queryVec, k = 10, m = NswM,
          beamWidth = NswBeam, hops = NswHops,
          index = Some((ie, ir)), normedCorpus = Some(ic))
        .orderBy($"score".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH ${nswCtes(
           s"SELECT CAST(0 AS BIGINT) AS qid, $qv AS qv, " +
           s"sqrt(list_dot_product($qv, $qv)) AS nn")}
         |SELECT cid AS vec_id, score FROM nvis$NswHops
         |ORDER BY score DESC, cid LIMIT 10""".stripMargin
    })

  /** Recall@5 of the NSW beam search against exact brute force on the
    * 5-query batch — the published quality number for the graph-ANN
    * path (the q_ann_recall convention: LSH, trained-IVF, and now NSW
    * each carry their own recall audit). Beam levels replayed per query;
    * exact side is the same full-scan window as q_ann_recall. */
  val annNswRecall = QueryDef(
    "q_ann_nsw_recall",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val (ie, ir, ic) = nswIndexShared(s, dir)
      val approx = Similarity.nswTopKQueries(e, "vec_id", "embedding",
          e.filter($"vec_id" < 5), "vec_id", "embedding", k = 5, m = NswM,
          beamWidth = NswBeam, hops = NswHops,
          index = Some((ie, ir)), normedCorpus = Some(ic))
        .select($"qid", $"cand".as("cid"))
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"),
          $"embedding".cast("array<double>").as("qv"))
        .withColumn("nq", graft.functions.vec.norm($"qv"))
      val c = TextOps.spread(e)
        .select($"vec_id".as("cid"),
          $"embedding".cast("array<double>").as("cv"))
        .withColumn("ncv", graft.functions.vec.norm($"cv"))
      val exact = Similarity.nearest(c, q, "qid", "cid", "cos",
          when($"ncv" * $"nq" === 0, 0.0).otherwise(
            graft.functions.vec.dot($"cv", $"qv") / ($"ncv" * $"nq")), 5, 6)
        .select($"qid", $"cid")
      exact.join(approx, Seq("qid", "cid"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("n_hit"),
          (count(lit(1)) / 5.0).as("recall_at_5"))
        .orderBy($"qid")
    },
    Some {
      s"""WITH ${nswCtes("SELECT vid AS qid, v AS qv, nv AS nn FROM nb WHERE vid < 5")},
         |approx AS (SELECT qid, cid FROM (
         |             SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY score DESC, cid) AS rn
         |             FROM nvis$NswHops) WHERE rn <= 5),
         |se AS (SELECT q.qid, c.vid AS cid,
         |              round(CASE WHEN c.nv * q.nn = 0 THEN 0.0
         |                         ELSE list_dot_product(c.v, q.qv) / (c.nv * q.nn)
         |                    END, 6) AS cos
         |       FROM nb c CROSS JOIN nq q),
         |exact AS (SELECT qid, cid FROM (
         |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |              ORDER BY cos DESC, cid) AS rn
         |            FROM se) WHERE rn <= 5)
         |SELECT exact.qid, CAST(COUNT(*) AS BIGINT) AS n_hit,
         |       COUNT(*) / 5.0::DOUBLE AS recall_at_5
         |FROM exact JOIN approx USING (qid, cid)
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin
    })

  val annNprobeCurve = QueryDef(
    "q_ann_nprobe_curve",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val vec = graft.functions.vec
      val e = Tables(s, dir, "embeddings")
      val cent = trainedCentroids(s, dir)
      val c = TextOps.spread(e).select($"vec_id".as("vid"), $"embedding".as("v"))
      val af = Similarity.assignCells(c, cent, 6).select($"vid", $"v", $"cid")
      val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qv"))
      val pr = Similarity.nearest(q, cent, "qid", "cid", "qcos",
          vec.cosine($"qv", $"cv"), 4, 6)
        .select($"qid", $"qv", $"cid", $"rn".as("prn"))
      val cand = af.join(broadcast(pr), "cid")
        .select($"qid", $"vid",
          round(vec.cosine($"v", $"qv"), 6).as("score"), $"prn")
      val settings = Seq(1, 2, 4).toDF("nprobe")
      val wS = Window.partitionBy($"nprobe", $"qid").orderBy($"score".desc, $"vid")
      val approx = cand.join(broadcast(settings), $"prn" <= $"nprobe")
        .withColumn("rn", row_number().over(wS)).filter($"rn" <= 5)
        .select($"nprobe", $"qid", $"vid")
      val exact = Similarity.nearest(c, q, "qid", "vid", "cos",
          vec.cosine($"v", $"qv"), 5, 6).select($"qid", $"vid")
      val hits = approx.join(exact, Seq("qid", "vid"))
        .groupBy($"nprobe").agg(count(lit(1)).as("h"))
      settings.join(hits, Seq("nprobe"), "left")
        .select($"nprobe",
          coalesce($"h", lit(0L)).as("n_hit"),
          round(coalesce($"h", lit(0L)) / lit(25.0), 6).as("recall_at_5"))
        .orderBy($"nprobe")
    },
    Some(s"""WITH ${kmeansCtes(2)},
             |af AS (${kmAssignSql("c2")}),
             |q AS (SELECT vid AS qid, v AS qv FROM e WHERE vid < 5),
             |pr AS (SELECT qid, qv, cid, rn AS prn FROM (
             |         SELECT q.qid, q.qv, c.cid,
             |                ROW_NUMBER() OVER (PARTITION BY q.qid
             |                  ORDER BY round(${cosSql("q.qv", "c.cv")}, 6) DESC, c.cid) AS rn
             |         FROM q CROSS JOIN c2 c) WHERE rn <= 4),
             |cand AS (SELECT pr.qid, af.vid,
             |                round(${cosSql("af.v", "pr.qv")}, 6) AS score, pr.prn
             |         FROM af JOIN pr USING (cid)),
             |st AS (SELECT unnest([1, 2, 4]) AS nprobe),
             |ap AS (SELECT nprobe, qid, vid FROM (
             |         SELECT st.nprobe, c.qid, c.vid,
             |                ROW_NUMBER() OVER (PARTITION BY st.nprobe, c.qid
             |                  ORDER BY c.score DESC, c.vid) AS rn
             |         FROM cand c JOIN st ON c.prn <= st.nprobe) WHERE rn <= 5),
             |se AS (SELECT q.qid, e.vid, round(${cosSql("e.v", "q.qv")}, 6) AS cos
             |       FROM e CROSS JOIN q),
             |exact AS (SELECT qid, vid FROM (
             |            SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY cos DESC, vid) AS rn
             |            FROM se) WHERE rn <= 5),
             |hits AS (SELECT ap.nprobe, COUNT(*) AS h
             |         FROM ap JOIN exact USING (qid, vid) GROUP BY ap.nprobe)
             |SELECT st.nprobe, CAST(COALESCE(hits.h, 0) AS BIGINT) AS n_hit,
             |       round(COALESCE(hits.h, 0) / 25.0::DOUBLE, 6) AS recall_at_5
             |FROM st LEFT JOIN hits ON hits.nprobe = st.nprobe
             |ORDER BY st.nprobe""".stripMargin))

  /** Hubness audit (Radovanović et al. JMLR 2010) — the k-occurrence
    * distribution that diagnoses whether an embedding space is skewed
    * toward hub points (a few vectors appearing in everyone's top-k,
    * the classic high-dimensional ANN failure mode). Runs on the
    * [[Audit.sample]] — a deterministic ABSOLUTE-size sample
    * (first [[AuditN]] rows by (md5(vec_id), vec_id)), so the all-pairs
    * kNN inside the audit is genuinely constant-cost at 100 TB (the
    * sample is a fixed SIZE, not a fixed fraction; AuditSpec pins
    * size-invariance): exact top-5 within the sample, count how often
    * each point occurs in others' lists (N_5), emit the N_5 histogram
    * with antihubs (N_5 = 0) preserved via the left join from the
    * sample. */
  val vecHubness = QueryDef(
    "q_vec_hubness",
    (s, dir) => {
      import s.implicits._
      val vec = graft.functions.vec
      val sDf = Audit.sample(Tables(s, dir, "embeddings"), "vec_id", AuditN)
        .select($"vec_id".as("vid"), $"embedding".as("v"))
      val nb = sDf.select($"vid".as("nid"), $"v".as("nv"))
      val knn = Similarity.nearest(TextOps.spread(sDf), nb, "vid", "nid", "cos",
          vec.cosine($"v", $"nv"), 5, 6, on = Some($"vid" =!= $"nid"))
        .select($"nid")
      val occ = knn.groupBy($"nid").agg(count(lit(1)).as("o"))
      sDf.select($"vid").join(occ, $"vid" === $"nid", "left")
        .select(coalesce($"o", lit(0L)).as("occ"))
        .groupBy($"occ").agg(count(lit(1)).as("n_points"))
        .orderBy($"occ")
    },
    Some(s"""WITH s AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings ${Audit.sampleSql("vec_id", AuditN)}),
             |pa AS (SELECT a.vid, b.vid AS nid,
             |              round(${cosSql("a.v", "b.v")}, 6) AS cos
             |       FROM s a JOIN s b ON a.vid <> b.vid),
             |knn AS (SELECT nid FROM (
             |          SELECT vid, nid, ROW_NUMBER() OVER (PARTITION BY vid
             |            ORDER BY cos DESC, nid) AS rn
             |          FROM pa) WHERE rn <= 5),
             |oc AS (SELECT nid, COUNT(*) AS o FROM knn GROUP BY nid)
             |SELECT CAST(COALESCE(oc.o, 0) AS BIGINT) AS occ,
             |       CAST(COUNT(*) AS BIGINT) AS n_points
             |FROM s LEFT JOIN oc ON oc.nid = s.vid
             |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Semi-supervised label propagation over the sample kNN graph (Zhu &
    * Ghahramani 2002) — the label-spreading audit a curation pipeline
    * runs to extend a small labeled set: on the [[Audit.sample]]
    * (absolute size [[AuditN]] — constant pair volume at 100 TB, same
    * economics as q_vec_hubness; AuditSpec pins size-invariance),
    * build the symmetrized exact 5-NN graph, clamp every vid % 3 == 0
    * sample point to its true label, and run 2 synchronous
    * cosine-CUBED-weighted vote rounds: each edge votes cm³ where
    * cm = round(cos·10^6) — EXACT integer micro-units (cm³ ≤ 10^18
    * fits int64 per edge; sums go through DECIMAL(38,0)/HUGEINT), so
    * the vote is order-independent and bit-identical in both engines.
    * Cubing sharpens the kernel (a standard heat-kernel-style weight):
    * an exact-duplicate edge (cos = 1 → 10^18) outvotes any plausible
    * same-label noise coalition (fixture max noise cos 0.479 → cube
    * ≈ 0.11·10^18 — ten same-label noise edges still lose), which is
    * what makes the planted-copy pin provable rather than lucky.
    * Score desc + label asc tie-break, no RNG anywhere. Seeds stay
    * clamped; points no labeled vote reaches report -1, not a guess.
    *
    * The fixture's raw-cosine 5-NN carries NO label signal (measured
    * 0.114 same-label edge rate at k=5 ≈ the 10-class chance rate; the
    * class structure lives in the means, which is q_vec_ncm's territory)
    * — so, per this module's planting convention, each seed gets one
    * EXACT unlabeled copy at vec_id + (max(vec_id) + 1) — the offset is
    * DERIVED from the corpus, so no real vec_id can collide with a
    * planted copy: the copy's cos-1.0 edge to its original dominates
    * every noise vote, every planted copy must adopt its original's
    * label in round 1 (spec-pinned 100%), and the unplanted points
    * honestly measure the no-signal floor the audit exists to expose. */
  val vecLabelprop = QueryDef(
    "q_vec_labelprop",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val vec = graft.functions.vec
      val emb = Tables(s, dir, "embeddings")
      val off = emb.agg((max($"vec_id") + 1).as("off"))
      val base = Audit.sample(emb, "vec_id", AuditN)
        .select($"vec_id".as("vid"), $"embedding".as("v"), $"label")
        .crossJoin(broadcast(off))
      val sm = base.unionByName(
          base.filter($"vid" % 3 === 0)
            .select(($"vid" + $"off").as("vid"), $"v", $"label", $"off"))
        .localCheckpoint()
      val nb = sm.select($"vid".as("nid"), $"v".as("nv"))
      val knn = Similarity.nearest(TextOps.spread(sm), nb, "vid", "nid", "cos",
          vec.cosine($"v", $"nv"), 5, 6, on = Some($"vid" =!= $"nid"))
        .select($"vid", $"nid", $"cos")
      val und = knn.unionByName(
          knn.select($"nid".as("vid"), $"vid".as("nid"), $"cos"))
        .groupBy($"vid", $"nid").agg(max($"cos").as("cos"))
        .withColumn("cm", round($"cos" * 1000000, 0).cast("long"))
        .localCheckpoint()
      val seeds = sm.filter($"vid" % 3 === 0 && $"vid" < $"off")
        .select($"vid", $"label")
      var lab = seeds
      for (_ <- 1 to 2) {
        val wm = Window.partitionBy($"vid").orderBy($"sc".desc, $"label")
        val prop = und.join(lab.select($"vid".as("nid"), $"label"), "nid")
          .groupBy($"vid", $"label")
          .agg(sum(($"cm" * $"cm" * $"cm").cast(DecimalType(38, 0))).as("sc"))
          .withColumn("rn", row_number().over(wm)).filter($"rn" === 1)
          .join(seeds.select($"vid"), Seq("vid"), "left_anti")
          .select($"vid", $"label")
        lab = seeds.unionByName(prop).localCheckpoint()
      }
      sm.select($"vid", $"label".as("truth"),
          ($"vid" % 3 === 0 && $"vid" < $"off").cast("int").as("is_seed"),
          ($"vid" >= $"off").cast("int").as("is_copy"))
        .join(lab.select($"vid", $"label".as("pred")), Seq("vid"), "left")
        .select($"vid".as("vec_id"), $"is_seed", $"is_copy",
          coalesce($"pred", lit(-1)).as("pred"), $"truth",
          ($"pred".isNotNull && $"pred" === $"truth").cast("int").as("correct"))
        .orderBy($"vec_id")
    },
    Some {
      val rounds = (1 to 2).map { i =>
        s"""m$i AS (SELECT e.vid, l.label,
           |               SUM(e.cm * e.cm * e.cm) AS sc
           |        FROM und e JOIN l${i - 1} l ON l.vid = e.nid
           |        GROUP BY e.vid, l.label),
           |p$i AS (SELECT vid, label FROM (
           |          SELECT vid, label, ROW_NUMBER() OVER (PARTITION BY vid
           |            ORDER BY sc DESC, label) AS rn FROM m$i) WHERE rn = 1),
           |l$i AS (SELECT * FROM l0 UNION ALL
           |        SELECT p$i.vid, p$i.label FROM p$i
           |        WHERE p$i.vid NOT IN (SELECT vid FROM l0))""".stripMargin
      }.mkString(",\n")
      s"""WITH mx AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings),
         |sb AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v, label
         |          FROM embeddings ${Audit.sampleSql("vec_id", AuditN)}),
         |s AS (SELECT vid, v, label, off FROM sb CROSS JOIN mx
         |      UNION ALL SELECT vid + off, v, label, off
         |      FROM sb CROSS JOIN mx WHERE vid % 3 = 0),
         |pa AS (SELECT a.vid, b.vid AS nid,
         |              round(${cosSql("a.v", "b.v")}, 6) AS cos
         |       FROM s a JOIN s b ON a.vid <> b.vid),
         |knn AS (SELECT vid, nid, cos FROM (
         |          SELECT vid, nid, cos, ROW_NUMBER() OVER (PARTITION BY vid
         |            ORDER BY cos DESC, nid) AS rn
         |          FROM pa) WHERE rn <= 5),
         |und AS (SELECT vid, nid,
         |               CAST(round(MAX(cos) * 1000000, 0) AS BIGINT) AS cm FROM
         |          (SELECT vid, nid, cos FROM knn
         |           UNION ALL SELECT nid, vid, cos FROM knn)
         |        GROUP BY vid, nid),
         |l0 AS (SELECT vid, label FROM s WHERE vid % 3 = 0 AND vid < off),
         |$rounds
         |SELECT s.vid AS vec_id,
         |       CAST(CASE WHEN s.vid % 3 = 0 AND s.vid < s.off
         |                 THEN 1 ELSE 0 END AS INT) AS is_seed,
         |       CAST(CASE WHEN s.vid >= s.off THEN 1 ELSE 0 END AS INT) AS is_copy,
         |       CAST(COALESCE(l2.label, -1) AS INT) AS pred,
         |       s.label AS truth,
         |       CAST(CASE WHEN l2.label = s.label THEN 1 ELSE 0 END AS INT) AS correct
         |FROM s LEFT JOIN l2 ON l2.vid = s.vid
         |ORDER BY vec_id""".stripMargin
    })

  // --------------------------------------------------------- text analysis
  val textLangId = QueryDef(
    "q_text_langid",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.languageIdFrom(tokenizedDocs(s, dir), "doc_id", $"toks")
        .orderBy($"doc_id")
    },
    Some {
      val hits = TextAnalysis.stopwords.map { case (lang, words) =>
        val litList = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(list_distinct($toksSql), $litList)) AS INT) AS hits_$lang"
      }.mkString(",\n                    ")
      s"""WITH h AS (SELECT doc_id, $hits FROM documents)
         |SELECT doc_id, hits_en, hits_de, hits_es, hits_fr,
         |       CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
         |            WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
         |            WHEN hits_es >= hits_fr THEN 'es'
         |            ELSE 'fr' END AS pred_lang
         |FROM h ORDER BY doc_id""".stripMargin
    })

  val textQuality = QueryDef(
    "q_text_quality",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.qualityScoreFrom(tokenizedDocs(s, dir), "doc_id",
          $"toks", $"text")
        .orderBy($"doc_id")
    },
    Some {
      val allStop = TextAnalysis.stopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT doc_id,
         |         CAST(len($toksSql) AS INT) AS n_tokens,
         |         CAST(length(text) AS INT) AS n_chars,
         |         CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
         |         CAST(len(list_intersect(list_distinct($toksSql), $allStop)) AS INT) AS n_stop
         |  FROM documents),
         |r AS (SELECT *,
         |             n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
         |             n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio
         |      FROM b)
         |SELECT doc_id, n_tokens, n_chars, n_punct, n_stop, stop_ratio, punct_ratio,
         |       round(0.4 * stop_ratio + 0.3 * least(n_tokens / 100.0, 1.0) +
         |             0.3 * (1.0 - punct_ratio), 6) AS quality
         |FROM r ORDER BY doc_id""".stripMargin
    })

  /** Gopher rule-battery keep/drop gate (TextAnalysis.gopherFilter): the
    * published word-statistics rules as ALL-INTEGER comparisons — mean
    * word length via 10·Σlen vs lo·n, the distinct ratio via
    * den·distinct vs num·n — so every flag is bit-identical cross-engine
    * with zero float traffic. Each of the four rules fails on at least
    * one fixture doc (spec-asserted), so none of the flags is vacuous. */
  val textGopher = QueryDef(
    "q_text_gopher",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.gopherFilter(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    Some {
      val allStop = TextAnalysis.stopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT doc_id,
         |         CAST(len($toksSql) AS INT) AS n_words,
         |         CAST(len(list_distinct($toksSql)) AS INT) AS n_distinct,
         |         CAST(COALESCE(list_sum(list_transform($toksSql,
         |                w -> CAST(length(w) AS BIGINT))), 0) AS BIGINT) AS sum_wlen,
         |         CAST(len(list_intersect(list_distinct($toksSql), $allStop)) AS INT) AS n_stop
         |  FROM documents),
         |f AS (SELECT *,
         |        CASE WHEN n_words BETWEEN 30 AND 80 THEN 1 ELSE 0 END AS r_wc,
         |        CASE WHEN 10 * sum_wlen >= 40 * n_words
         |              AND 10 * sum_wlen <= 50 * n_words THEN 1 ELSE 0 END AS r_mwl,
         |        CASE WHEN 20 * n_distinct >= 9 * n_words THEN 1 ELSE 0 END AS r_rep,
         |        CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
         |      FROM b)
         |SELECT doc_id, n_words, n_distinct, sum_wlen, n_stop,
         |       CAST(r_wc AS INT) AS r_wc, CAST(r_mwl AS INT) AS r_mwl,
         |       CAST(r_rep AS INT) AS r_rep, CAST(r_stop AS INT) AS r_stop,
         |       CAST(r_wc * r_mwl * r_rep * r_stop AS INT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    })

  val textTokens = QueryDef(
    "q_text_tokens",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.tokenCountsFrom(tokenizedDocs(s, dir), "doc_id",
          $"toks", $"text")
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id,
                    CAST(len($toksSql) AS INT) AS ws_tokens,
                    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_ish_tokens,
                    CAST(length(text) AS INT) AS n_chars
             FROM documents ORDER BY doc_id"""))

  val textFingerprint = QueryDef(
    "q_text_fingerprint",
    (s, dir) => {
      import s.implicits._
      TextAnalysis.fingerprintFrom(tokenizedDocs(s, dir), "doc_id", $"toks")
        .orderBy($"doc_id")
    },
    Some(s"""SELECT doc_id,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform($toksSql, x -> ${hvSql("x")})),
                      (acc, h) -> (acc * 31 + h) % $P) AS fp
             FROM documents ORDER BY doc_id"""))

  // ------------------------------------------------------------ multimodal
  /** Binary-payload feature extraction through the mapPartitions batch
    * plumbing (decode step stubbed — see Multimodal). */
  val multimodal = QueryDef(
    "q_multimodal_features",
    (s, dir) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))
        .as[MediaRow]
      Multimodal.extractFeatures(media)
        .toDF()
        .select($"doc_id", $"n_bytes", $"digest", $"format")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   md5(text) AS digest,
                   'text/plain' AS format
            FROM documents ORDER BY doc_id"""))

  /** REAL image decode through the batch plumbing: PNG payloads (JDK-encoded
    * gradients sized by doc_id) are decoded by javax.imageio inside
    * extractFeatures; the oracle recomputes the expected pixel dimensions
    * from the sizing formula. Round-trips encoder → binary column →
    * per-partition decoder, so a broken decode path can't pass. */
  val multimodalImage = QueryDef(
    "q_multimodal_image",
    (s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .filter($"doc_id" < 50).select($"doc_id").as[Long]
        .map(id => MediaRow(id,
          Multimodal.pngPayload((8 + id % 5).toInt, (4 + id % 3).toInt),
          "image/png", "synthetic"))
      Multimodal.extractFeatures(media)
        .toDF()
        .select($"doc_id", $"format", $"width", $"height")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, 'image/png' AS format,
                   CAST(8 + doc_id % 5 AS INT) AS width,
                   CAST(4 + doc_id % 3 AS INT) AS height
            FROM documents WHERE doc_id < 50 ORDER BY doc_id"""))

  /** REAL audio decode, declared form (properties oracle, the
    * q_multimodal_image pattern): synthesize deterministic WAV payloads
    * (16-bit PCM, 8 kHz, parameterized frames/channels per doc_id),
    * decode them with the pure-JDK `javax.sound.sampled` parser inside
    * a partition-batched map, and check every decoded stream property —
    * sample rate, channel count, frame count, integer duration —
    * against the generation parameters the oracle recomputes. Frame
    * counts are multiples of 8 so duration_ms = frames/8 is exact
    * integer math in both engines. */
  val multimodalAudio = QueryDef(
    "q_multimodal_audio",
    (s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .filter($"doc_id" < 40).select($"doc_id").as[Long]
        .map(id => MediaRow(id,
          Multimodal.wavPayload(8000, (800 + (id % 5) * 80).toInt,
            (1 + id % 2).toInt),
          "audio/wav", "synthetic"))
      Multimodal.extractAudioFeatures(media)
        .toDF()
        .select($"doc_id", $"sample_rate", $"channels", $"n_frames",
          $"duration_ms")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
                   CAST(1 + doc_id % 2 AS INT) AS channels,
                   CAST(800 + (doc_id % 5) * 80 AS BIGINT) AS n_frames,
                   CAST((800 + (doc_id % 5) * 80) // 8 AS BIGINT) AS duration_ms
            FROM documents WHERE doc_id < 40 ORDER BY doc_id"""))

  /** Perceptual near-duplicate image dedup: REAL decode (javax.imageio)
    * → 64-bit average-hash (integer box-mean luma grid, exact — no
    * float resampling) → 4×16-bit band LSH join → exact popcount
    * verify; the MinHash-LSH dedup shape applied to a multimodal
    * column, never all-pairs. Fixture: decorrelated noise PNGs seeded
    * by doc_id % 12, so planted duplicate groups are pixel-identical
    * (Hamming 0) while cross-seed hashes are independent 64-bit values
    * (collision ~2^-64 — and the oracle hash match would catch one).
    * The oracle recomputes expected pairs from the seeding formula;
    * GENUINE near-dup behavior (1-pixel perturbation → small nonzero
    * Hamming, still recalled through the band join) is pinned in
    * PipelineSpec where pixels can be touched directly. */
  val multimodalPhash = QueryDef(
    "q_multimodal_phash",
    (s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .filter($"doc_id" < 60).select($"doc_id").as[Long]
        .map(id => MediaRow(id,
          Multimodal.noisyPngPayload(16, 16, id % 12),
          "image/png", "synthetic"))
      Multimodal.phashPairs(Multimodal.imageAHashes(media), maxHamming = 3)
        .orderBy($"a_id", $"b_id")
    },
    Some("""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(0 AS INT) AS hamming
            FROM documents a JOIN documents b
              ON a.doc_id % 12 = b.doc_id % 12 AND a.doc_id < b.doc_id
            WHERE a.doc_id < 60 AND b.doc_id < 60
            ORDER BY a_id, b_id"""))

  /** REAL video decode + duplicate-video detection over Motion-JPEG
    * payloads (round 9 — the last multimodal stub closed): each of 24
    * synthetic videos is a genuine MJPEG elementary stream (16×16
    * JDK-JPEG frames, 3 + id%4 frames, frame pixels keyed by
    * (id%12, frame_idx)), so video d and d+12 are byte-identical
    * streams and no other pair is. The engine marker-walks the stream
    * (Multimodal.splitMjpegFrames), DECODES every frame via
    * javax.imageio, aggregates a per-video fingerprint (frame count,
    * decoded dims, XOR of per-frame aHash64), and joins videos on the
    * full fingerprint — the video-level twin of q_multimodal_phash.
    * The oracle predicts the planted pairs and frame counts from pure
    * id arithmetic, so a hash match proves the splitter found EXACTLY
    * the encoded frames (n_frames = 3 + id%4), the decode is real
    * (16×16 dims feed the fingerprint join), and the pairing has zero
    * false positives/negatives. Scale: frame decode is per-row map
    * work; the dedup join is an equi-join on a 64-bit fingerprint —
    * never pairwise. */
  val multimodalVideo = QueryDef(
    "q_multimodal_video",
    (s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .filter($"doc_id" < 24).select($"doc_id").as[Long]
        .map(id => MediaRow(id,
          Multimodal.mjpegPayload(16, 16, 3 + (id % 4).toInt, id % 12),
          "video/x-motion-jpeg", "synthetic"))
      val vids = Multimodal.videoFrames(media)
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_frames"),
          min($"width").as("w"), min($"height").as("h"),
          expr("bit_xor(ahash)").as("vhash"))
      val a = vids.select($"doc_id".as("a_id"), $"n_frames", $"w", $"h", $"vhash")
      val b = vids.select($"doc_id".as("b_id"), $"n_frames", $"w", $"h", $"vhash")
      a.join(b, Seq("n_frames", "w", "h", "vhash"))
        .filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id", $"n_frames")
        .orderBy($"a_id", $"b_id")
    },
    Some("""SELECT a.doc_id AS a_id, a.doc_id + 12 AS b_id,
                   CAST(3 + a.doc_id % 4 AS INT) AS n_frames
            FROM documents a WHERE a.doc_id < 12
            ORDER BY a_id, b_id"""))

  /** Frame sampling, declared form: fixed-size chunking of the payload.
    * DuckDB 1.0 cannot slice BLOBs, so the oracle chunks the TEXT (the
    * fixture is ASCII ⇒ char chunks == byte chunks); the byte-level
    * operator (Multimodal.frameSample over binary) is asserted equivalent
    * in PipelineSpec. */
  val multimodalFrames = QueryDef(
    "q_multimodal_frames",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .filter($"doc_id" < 20)
        .select($"doc_id",
          posexplode(transform(
            sequence(lit(0), ((length($"text") + 63) / 64).cast("int") - 1),
            i => substring($"text", i * 64 + 1, lit(64)))))
        .select($"doc_id", $"pos".as("frame_idx"),
          length($"col").as("n_chars"), $"col".as("frame"))
        .orderBy($"doc_id", $"frame_idx")
    },
    Some("""SELECT doc_id, CAST(u.j AS INT) AS frame_idx,
                   CAST(length(substring(text, CAST(u.j * 64 + 1 AS INT), 64)) AS INT) AS n_chars,
                   substring(text, CAST(u.j * 64 + 1 AS INT), 64) AS frame
            FROM documents,
                 unnest(range(CAST(ceil(length(text) / 64.0) AS BIGINT))) AS u(j)
            WHERE doc_id < 20
            ORDER BY doc_id, frame_idx"""))

  /** Positional phrase search — the inverted-index operator BM25 lacks:
    * exact-phrase matching ("row column sort") via POSITIONAL postings
    * intersection. The engine filters each term's postings FIRST (term
    * selectivity prunes before any join), shifts positions so a match
    * aligns at the leading term, and equi-joins on (doc, pos) — the
    * classic phrase-query plan: per-term selective scans + two
    * hash joins on a compound key, no window over the corpus, no
    * re-tokenization at query time in a real deployment (the postings
    * table is the persisted index; here it derives inline from the
    * shared tokenizer). Output: matching docs with occurrence count
    * and first match position. The oracle is the independent
    * formulation — one positional table self-joined with pos+1/pos+2
    * adjacency — so the hash match cross-checks the two plans. */
  val textPhrase = QueryDef(
    "q_text_phrase",
    (s, dir) => {
      import s.implicits._
      val toks = Tables(s, dir, "documents")
        .select($"doc_id", posexplode(TextOps.tokens($"text")))
        .withColumnRenamed("col", "tok")
      val p0 = toks.filter($"tok" === "row").select($"doc_id", $"pos")
      val p1 = toks.filter($"tok" === "column")
        .select($"doc_id", ($"pos" - 1).as("pos"))
      val p2 = toks.filter($"tok" === "sort")
        .select($"doc_id", ($"pos" - 2).as("pos"))
      p0.join(p1, Seq("doc_id", "pos")).join(p2, Seq("doc_id", "pos"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_matches"), min($"pos").as("first_pos"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
             pos AS (SELECT doc_id, CAST(i AS INT) AS pos,
                            toks[CAST(i + 1 AS INT)] AS tok
                     FROM t, unnest(range(len(toks))) AS r(i)),
             m AS (SELECT a.doc_id, a.pos
                   FROM pos a
                   JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                             AND b.tok = 'column'
                   JOIN pos c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
                             AND c.tok = 'sort'
                   WHERE a.tok = 'row')
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
                    MIN(pos) AS first_pos
             FROM m GROUP BY doc_id ORDER BY doc_id"""))

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * PageRank over the word co-occurrence graph — top-50 vocab by
    * frequency, an undirected edge per adjacent token pair, ranks from
    * the SAME exact-integer fixed-point kernel as
    * q_graph_pagerank_exact (GraphAnalytics.pageRankFixedPoint, BIGINT
    * // arithmetic — bit-identical at any partitioning, so the oracle
    * replays every iteration as unrolled CTEs instead of trusting a
    * float to converge the same way twice). The unsupervised
    * keyword/keyphrase seed step of document tagging. Scale: the graph
    * is VOCAB-sized (≤ 50·49 edges regardless of corpus rows — the
    * corpus is touched once for counts and once for adjacency); each
    * PR iteration is one equi-join + one agg on that tiny edge set.
    * Output: top-20 keywords by final rank, token tie-break. */
  val textTextrank = QueryDef(
    "q_text_textrank",
    (s, dir) => {
      import s.implicits._
      val toks = Tables(s, dir, "documents")
        .select($"doc_id", posexplode(TextOps.tokens($"text")))
        .withColumnRenamed("col", "tok")
      val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok").limit(50)
        .select($"tok").localCheckpoint()
      val a = toks.select($"doc_id", $"pos", $"tok".as("src"))
      val b = toks.select($"doc_id", ($"pos" - 1).as("pos"), $"tok".as("dst"))
      val adj = a.join(b, Seq("doc_id", "pos"))
        .filter($"src" =!= $"dst").select($"src", $"dst")
      val und = adj.unionByName(adj.select($"dst".as("src"), $"src".as("dst")))
        .join(broadcast(vocab.select($"tok".as("src"))), "src")
        .join(broadcast(vocab.select($"tok".as("dst"))), "dst")
      graft.graph.GraphAnalytics.pageRankFixedPoint(und, iters = 5)
        .orderBy($"rank_fp".desc, $"node").limit(20)
        .select($"node".as("token"), $"rank_fp")
    },
    Some {
      val steps = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst AS n, SUM(r.r // od.od) AS cs
           |        FROM ed e JOIN r${i - 1} r ON r.n = e.src
           |                  JOIN od ON od.src = e.src
           |        GROUP BY e.dst),
           |r$i AS (SELECT nodes.n,
           |               ((15 * (1000000000000 // p.n)) // 100)
           |               + ((85 * COALESCE(c$i.cs, 0)) // 100) AS r
           |        FROM nodes CROSS JOIN p
           |        LEFT JOIN c$i ON c$i.n = nodes.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |pos AS (SELECT doc_id, CAST(i AS INT) AS pos,
         |               toks[CAST(i + 1 AS INT)] AS tok
         |        FROM t, unnest(range(len(toks))) AS r(i)),
         |vocab AS (SELECT tok FROM (
         |            SELECT tok, COUNT(*) AS cnt FROM pos GROUP BY tok
         |            ORDER BY cnt DESC, tok LIMIT 50)),
         |adj AS (SELECT a.tok AS src, b.tok AS dst
         |        FROM pos a JOIN pos b
         |          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |        WHERE a.tok <> b.tok),
         |ed AS (SELECT DISTINCT x.src, x.dst
         |       FROM (SELECT src, dst FROM adj
         |             UNION ALL SELECT dst, src FROM adj) x
         |       JOIN vocab v1 ON v1.tok = x.src
         |       JOIN vocab v2 ON v2.tok = x.dst),
         |nodes AS (SELECT DISTINCT n
         |          FROM (SELECT src AS n FROM ed UNION ALL SELECT dst FROM ed)),
         |p AS (SELECT COUNT(*) AS n FROM nodes),
         |od AS (SELECT src, COUNT(*) AS od FROM ed GROUP BY src),
         |r0 AS (SELECT nodes.n, 1000000000000 // p.n AS r
         |       FROM nodes CROSS JOIN p),
         |$steps
         |SELECT n AS token, CAST(r AS BIGINT) AS rank_fp FROM r5
         |ORDER BY rank_fp DESC, token LIMIT 20""".stripMargin
    })

  // ----------------------------------------------- corpus-level text stats
  /** Vocabulary extraction: top-20 tokens by document frequency — the
    * corpus pass before any tokenizer/stopword decision. DF (not term
    * count) so a token spamming one doc can't dominate. */
  val textVocab = QueryDef(
    "q_text_vocab",
    (s, dir) => {
      import s.implicits._
      tokenizedDocs(s, dir)
        .select($"doc_id", explode(array_distinct($"toks")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"token")
        .limit(20)
    },
    Some(s"""SELECT token, CAST(COUNT(*) AS BIGINT) AS df
             FROM (SELECT doc_id, unnest(list_distinct($toksSql)) AS token
                   FROM documents)
             GROUP BY token ORDER BY df DESC, token LIMIT 20"""))

  /** Vocabulary coverage / OOV rate per source: the top-100 corpus words
    * by token frequency (word tie-break at the boundary) form the
    * vocabulary; each source reports its share of token OCCURRENCES
    * outside it — the coverage report run before committing to any
    * fixed-vocabulary tokenizer. The vocab is a 100-row broadcast; the
    * scan is one exploded-token pass with a map-side countable left
    * join. All-integer until one rounded division. */
  val textOov = QueryDef(
    "q_text_oov",
    (s, dir) => {
      import s.implicits._
      val toks = tokenizedDocs(s, dir)
        .select($"source", explode($"toks").as("token"))
      val vocab = toks.groupBy($"token").agg(count(lit(1)).as("tf"))
        .orderBy($"tf".desc, $"token").limit(100)
        .select($"token", lit(1).as("inv"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"inv".isNull, 1L).otherwise(0L)).as("n_oov"))
        .select($"source", $"n_tokens", $"n_oov",
          round($"n_oov".cast("double") / $"n_tokens", 6).as("oov_rate"))
        .orderBy($"source")
    },
    Some(s"""WITH t AS (SELECT source, unnest($toksSql) AS token FROM documents),
            |v AS (SELECT token FROM (
            |        SELECT token, COUNT(*) AS tf FROM t GROUP BY token
            |        ORDER BY tf DESC, token LIMIT 100)),
            |j AS (SELECT t.source,
            |             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
            |      FROM t LEFT JOIN v ON v.token = t.token)
            |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            |       CAST(SUM(oov) AS BIGINT) AS n_oov,
            |       round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
            |FROM j GROUP BY source ORDER BY source""".stripMargin))

  /** kNN label-consistency probe (the neighbor-agreement signal noisy-
    * label detection starts from, Confident-Learning-adjacent): for each
    * of the 25 probe vectors, the 5 nearest round-6-cosine neighbors
    * (self excluded), and the share carrying the probe's own label. The
    * probes ride a broadcast; ranking is a qid-partitioned window over
    * the one corpus scan. A low agree value flags a vector whose label
    * disagrees with its neighborhood. */
  val vecLabelConsistency = QueryDef(
    "q_vec_label_consistency",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
        .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
      val probes = e.filter($"vec_id" < 25)
        .select($"vec_id".as("qid"), $"label".as("qlabel"), $"v".as("qv"))
      Similarity.nearest(TextOps.spread(e), probes, "qid", "vec_id", "cos",
          graft.functions.vec.cosine($"v", $"qv"), 5, 6,
          on = Some($"vec_id" =!= $"qid"))
        .groupBy($"qid", $"qlabel")
        .agg(sum(when($"label" === $"qlabel", 1L).otherwise(0L)).as("n_same"))
        .select($"qid".as("vec_id"), $"qlabel".as("label"), $"n_same",
          round($"n_same".cast("double") / 5, 6).as("agree"))
        .orderBy($"vec_id")
    },
    Some {
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |p AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
         |      FROM e WHERE vec_id < 25),
         |s AS (SELECT p.qid, p.qlabel, e.vec_id, e.label,
         |             round(${cosSql("e.v", "p.qv")}, 6) AS cos
         |      FROM e CROSS JOIN p WHERE e.vec_id <> p.qid),
         |r AS (SELECT qid, qlabel, vec_id, label,
         |             ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cos DESC, vec_id) AS rn
         |      FROM s),
         |agg AS (SELECT qid, qlabel,
         |               SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS ns
         |        FROM r WHERE rn <= 5 GROUP BY qid, qlabel)
         |SELECT qid AS vec_id, qlabel AS label, CAST(ns AS BIGINT) AS n_same,
         |       round(CAST(ns AS DOUBLE) / 5, 6) AS agree
         |FROM agg ORDER BY vec_id""".stripMargin
    })

  /** Pairwise source vocabulary overlap: Jaccard similarity of the
    * distinct-token sets of every source pair — the corpus-comparison
    * matrix run before mixing domains (high overlap ⇒ redundant
    * domains). One (source, token) distinct pass; intersections via a
    * token-keyed self-join (each token contributes its source pairs —
    * never a cross join of vocabularies); all-integer until the final
    * rounded division. */
  val textSourceSim = QueryDef(
    "q_text_source_sim",
    (s, dir) => {
      import s.implicits._
      val st = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", explode(array_distinct(TextOps.tokens($"text"))).as("token"))
        .distinct()
      val sizes = st.groupBy($"source").agg(count(lit(1)).as("nv"))
      val inter = st.select($"token", $"source".as("s1"))
        .join(st.select($"token", $"source".as("s2")), "token")
        .filter($"s1" < $"s2")
        .groupBy($"s1", $"s2").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select($"source".as("s1"), $"nv".as("n1"))), "s1")
        .join(broadcast(sizes.select($"source".as("s2"), $"nv".as("n2"))), "s2")
        .select($"s1", $"s2", $"inter",
          round($"inter".cast("double") / ($"n1" + $"n2" - $"inter"), 6).as("jaccard"))
        .orderBy($"s1", $"s2")
    },
    Some(s"""WITH st AS (SELECT DISTINCT source, token FROM (
            |             SELECT source, unnest(list_distinct($toksSql)) AS token
            |             FROM documents)),
            |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
            |       FROM st GROUP BY source),
            |it AS (SELECT a.source AS s1, b.source AS s2,
            |              CAST(COUNT(*) AS BIGINT) AS inter
            |       FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
            |       GROUP BY a.source, b.source)
            |SELECT it.s1, it.s2, it.inter,
            |       round(CAST(it.inter AS DOUBLE) / (z1.nv + z2.nv - it.inter), 6)
            |         AS jaccard
            |FROM it JOIN sz z1 ON z1.source = it.s1
            |        JOIN sz z2 ON z2.source = it.s2
            |ORDER BY it.s1, it.s2""".stripMargin))

  /** One-query dataset card: the headline stats a corpus publish ships
    * with (doc/token counts, vocabulary size, exact-duplicate fraction,
    * language count, mean doc length) as (metric, value) rows — six
    * independent full-scan aggregates, each map-side partial-aggregable,
    * unioned into one artifact. */
  val profileDataset = QueryDef(
    "q_profile_dataset",
    (s, dir) => {
      import s.implicits._
      val docs = TextOps.spread(Tables(s, dir, "documents"))
      val toks = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
      val nDocs = docs.agg(count(lit(1)).cast("double").as("value"))
        .select(lit("n_docs").as("metric"), $"value")
      val nTokens = toks.agg(count(lit(1)).cast("double").as("value"))
        .select(lit("n_tokens").as("metric"), $"value")
      val nVocab = toks.select($"token").distinct()
        .agg(count(lit(1)).cast("double").as("value"))
        .select(lit("n_vocab").as("metric"), $"value")
      val dupFrac = docs.agg(
          (lit(1.0) - countDistinct(md5($"text")).cast("double") /
            count(lit(1))).as("raw"))
        .select(lit("exact_dup_frac").as("metric"), round($"raw", 6).as("value"))
      val nLangs = docs.select($"lang").distinct()
        .agg(count(lit(1)).cast("double").as("value"))
        .select(lit("n_langs").as("metric"), $"value")
      val meanChars = docs.agg(
          (sum($"n_chars").cast("double") / count(lit(1))).as("raw"))
        .select(lit("mean_chars").as("metric"), round($"raw", 6).as("value"))
      nDocs.unionByName(nTokens).unionByName(nVocab).unionByName(dupFrac)
        .unionByName(nLangs).unionByName(meanChars)
        .orderBy($"metric")
    },
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents)
            |SELECT metric, value FROM (
            |  SELECT 'n_docs' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM documents
            |  UNION ALL
            |  SELECT 'n_tokens', CAST(COUNT(*) AS DOUBLE) FROM t
            |  UNION ALL
            |  SELECT 'n_vocab', CAST(COUNT(DISTINCT token) AS DOUBLE) FROM t
            |  UNION ALL
            |  SELECT 'exact_dup_frac',
            |         round(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6)
            |  FROM documents
            |  UNION ALL
            |  SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS DOUBLE) FROM documents
            |  UNION ALL
            |  SELECT 'mean_chars',
            |         round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
            |  FROM documents)
            |ORDER BY metric""".stripMargin))

  /** Smoothed TF-IDF scores for a fixed term set over every matching doc:
    * tf · (ln((N+1)/(df+1)) + 1). Integer tf/df feed a single ln — the
    * double result is engine-identical; round 6 regardless. */
  val textTfidf = QueryDef(
    "q_text_tfidf",
    (s, dir) => {
      import s.implicits._
      val terms = VectorQueries.bm25Terms
      val docs = tokenizedDocs(s, dir)
      val toks = docs.select($"doc_id", explode($"toks").as("token"))
        .filter($"token".isin(terms: _*))
      val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
      val n = docs.select(count(lit(1)).as("n"))
      tf.join(broadcast(df), "token").crossJoin(broadcast(n))
        .select($"doc_id", $"token",
          round($"tf" * (log(($"n" + 1).cast("double") / ($"df" + 1)) + 1.0), 6)
            .as("tfidf"))
        .orderBy($"doc_id", $"token")
    },
    Some {
      val termList = VectorQueries.bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM toks WHERE token IN ($termList) GROUP BY doc_id, token),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
         |SELECT tf.doc_id, tf.token AS token,
         |       round(tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df.df + 1)) + 1.0), 6) AS tfidf
         |FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
         |ORDER BY tf.doc_id, tf.token""".stripMargin
    })

  /** Deterministic hash sampling: a ~5% sample selected by the cross-engine
    * md5 hash of the row key — reproducible on any cluster (no RNG, no
    * partition dependence), the way training subsets stay auditable. */
  val sampleHash = QueryDef(
    "q_sample_hash",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .filter(TextOps.strHash(
          concat($"l_orderkey", lit("-"), $"l_linenumber")) % 100 < 5)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_sampled"),
          (count(lit(1)) * 20).as("est_rows"))
        .orderBy($"l_returnflag")
    },
    Some(s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_sampled,
                    CAST(COUNT(*) * 20 AS BIGINT) AS est_rows
             FROM lineitem
             WHERE ${hvSql("l_orderkey || '-' || l_linenumber")} % 100 < 5
             GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Stratified deterministic sampling: per-class rates (rare classes kept
    * whole, common ones thinned) via the md5 row hash — the class-balance
    * pass of a training pipeline, reproducible on any cluster. */
  val sampleStratified = QueryDef(
    "q_sample_stratified",
    (s, dir) => {
      import s.implicits._
      val rate = when($"event_type" === "signup", 100) // keep all
        .when($"event_type" === "purchase", 50)        // keep half
        .otherwise(10)                                 // keep 10%
      Tables(s, dir, "events")
        .filter(TextOps.strHash($"event_id".cast("string")) % 100 < rate)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"event_type")
    },
    Some(s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept
             FROM events
             WHERE ${hvSql("CAST(event_id AS VARCHAR)")} % 100 <
                   CASE WHEN event_type = 'signup' THEN 100
                        WHEN event_type = 'purchase' THEN 50
                        ELSE 10 END
             GROUP BY event_type ORDER BY event_type"""))

  /** RAG-style document chunking: fixed-size token windows (20 tokens,
    * stride 10) via posexplode over window starts — wide-row text becomes
    * retrieval-unit rows without any driver loop. */
  val textChunks = QueryDef(
    "q_text_chunks",
    (s, dir) => {
      import s.implicits._
      TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .select($"doc_id", $"toks",
          posexplode(sequence(lit(0), greatest(size($"toks") - 1, lit(0)), lit(10)))
            .as(Seq("chunk_idx", "start")))
        .filter($"start" < size($"toks"))
        .select($"doc_id", $"chunk_idx",
          size(slice($"toks", $"start" + 1, lit(20))).as("n_toks"),
          concat_ws(" ", slice($"toks", $"start" + 1, lit(20))).as("chunk"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
             c AS (SELECT doc_id, CAST(u.s // 10 AS INT) AS chunk_idx,
                          list_slice(toks, u.s + 1, u.s + 20) AS ch
                   FROM t, unnest(range(0, len(toks), 10)) AS u(s))
             SELECT doc_id, chunk_idx, CAST(len(ch) AS INT) AS n_toks,
                    array_to_string(ch, ' ') AS chunk
             FROM c ORDER BY doc_id, chunk_idx"""))

  /** PII redaction: email/phone patterns scrubbed map-side (pure
    * regexp_replace — codegen'd, no shuffle; the shape of every
    * large-scale scrubbing pass). PII is planted deterministically
    * (user<id>@example.com, 555-01xx) since the fixture corpus has none;
    * the md5 of the cleaned text makes the oracle compare the full
    * redacted output, not just counts. */
  val textPii = QueryDef(
    "q_text_pii",
    (s, dir) => {
      import s.implicits._
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "[0-9]{3}-[0-9]{4}"
      val docs = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id",
          concat($"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com or 555-01"),
            lpad(($"doc_id" % 100).cast("string"), 2, "0")).as("text"))
      docs.select($"doc_id",
          regexp_count($"text", lit(emailRe)).cast("int").as("n_email"),
          regexp_count($"text", lit(phoneRe)).cast("int").as("n_phone"),
          md5(regexp_replace(regexp_replace($"text", emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("clean_md5"))
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                     '@example.com or 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS INT) AS n_phone,
                   md5(regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                       '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS clean_md5
            FROM d ORDER BY doc_id"""))

  /** Benchmark decontamination: docs sharing any word-3-shingle with the
    * held-out set (doc_id < 5) are flagged with their overlap count — the
    * training-data hygiene pass that keeps eval sets out of the corpus.
    * Benchmark shingles are a broadcast build side; the corpus side is one
    * map-side explode + hash join, so cost is linear in corpus shingles at
    * any scale. */
  val textDecontam = QueryDef(
    "q_text_decontam",
    (s, dir) => {
      import s.implicits._
      val sh = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", explode(TextOps.shingles(TextOps.tokens($"text"))).as("sh"))
      val bench = sh.filter($"doc_id" < 5).select($"sh".as("bsh")).distinct()
      sh.filter($"doc_id" >= 5)
        .join(broadcast(bench), $"sh" === $"bsh")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_overlap"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents),
             $shinglesCte,
             bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id < 5),
             x AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id >= 5)
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
             FROM x JOIN bench USING (s)
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Longest-shared-span decontamination (Lee et al. ACL'22 "Deduplicating
    * Training Data" framing): q_text_decontam flags ANY 3-shingle overlap;
    * this reports HOW MUCH — the maximum run of consecutive shared word
    * 3-grams per (corpus doc, benchmark doc) pair, i.e. the longest
    * verbatim token span (run + 2 tokens), the number an exclusion policy
    * actually thresholds on. Shape: positional 3-grams
    * ([[TextOps.kgrams]]) on both sides, benchmark side broadcast; a
    * match at corpus position p and benchmark position q lies on
    * diagonal p − q, and consecutive matches on one diagonal form a
    * gaps-and-islands run (pos − row_number is constant within a run).
    * Every window is partitioned by (doc, bench doc, diagonal) — matched
    * positions only, never corpus rows. A 12-token span from each
    * benchmark doc is planted into a fresh 100000+b corpus doc so the
    * span length is pinned, not vacuous (the q_text_pii convention).
    * n_matches counts matched (position, diagonal) pairs — a gram
    * aligning to several benchmark positions contributes once per
    * diagonal. */
  val textDecontamSpan = QueryDef(
    "q_text_decontam_span",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val planted = docs.filter($"doc_id" < 5)
        .select(($"doc_id" + 100000).as("doc_id"),
          concat(lit("qx1 qx2 "),
            concat_ws(" ", slice(TextOps.tokens($"text"), 1, 12)),
            lit(" qx3")).as("text"))
      val corpus = docs.select($"doc_id", $"text").unionByName(planted)
      val grams = TextOps.spread(corpus)
        .select($"doc_id",
          posexplode(TextOps.kgrams(TextOps.tokens($"text"), 3)))
        .select($"doc_id", $"pos", $"col".as("g"))
      val bench = grams.filter($"doc_id" < 5)
        .select($"doc_id".as("bdoc"), $"pos".as("bpos"), $"g")
      val m = grams.filter($"doc_id" >= 5)
        .join(broadcast(bench), "g")
        .select($"doc_id", $"bdoc", $"pos", ($"pos" - $"bpos").as("diag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id", $"bdoc", $"diag").orderBy($"pos")
      m.withColumn("isl", $"pos" - row_number().over(w))
        .groupBy($"doc_id", $"bdoc", $"diag", $"isl")
        .agg(count(lit(1)).as("run"))
        .groupBy($"doc_id", $"bdoc")
        .agg((max($"run") + 2).cast("int").as("max_span_toks"),
          sum($"run").cast("long").as("n_matches"))
        .orderBy($"doc_id", $"bdoc")
    },
    Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000,
             |         'qx1 qx2 ' || array_to_string(list_slice($toksSql, 1, 12), ' ') || ' qx3'
             |  FROM documents WHERE doc_id < 5),
             |t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
             |gr AS (SELECT doc_id, CAST(u.j AS INT) AS pos,
             |              toks[u.j+1] || ' ' || toks[u.j+2] || ' ' || toks[u.j+3] AS g
             |       FROM t, unnest(range(greatest(len(toks) - 2, 0))) AS u(j)),
             |b AS (SELECT doc_id AS bdoc, pos AS bpos, g FROM gr WHERE doc_id < 5),
             |m AS (SELECT gr.doc_id, b.bdoc, gr.pos, gr.pos - b.bpos AS diag
             |      FROM gr JOIN b USING (g) WHERE gr.doc_id >= 5),
             |r AS (SELECT doc_id, bdoc, diag, pos,
             |             pos - ROW_NUMBER() OVER (
             |               PARTITION BY doc_id, bdoc, diag ORDER BY pos) AS isl
             |      FROM m),
             |runs AS (SELECT doc_id, bdoc, diag, isl, COUNT(*) AS run
             |         FROM r GROUP BY 1, 2, 3, 4)
             |SELECT doc_id, bdoc, CAST(MAX(run) + 2 AS INT) AS max_span_toks,
             |       CAST(SUM(run) AS BIGINT) AS n_matches
             |FROM runs GROUP BY 1, 2 ORDER BY doc_id, bdoc""".stripMargin))

  /** Gap-tolerant (edit-tolerant) decontamination spans — the fuzzy
    * extension of [[textDecontamSpan]]: one substituted token inside a
    * copied span kills the three 3-grams that cover it, so the EXACT
    * detector reports two short islands where a contamination policy
    * should see one long near-verbatim span. On each (doc, bench,
    * diagonal) the islands (start/end matched positions) are merged when
    * separated by ≤ 3 missing positions — exactly the hole one interior
    * token edit leaves — via a windowed lag + running-sum group pass over
    * the ISLAND table (≤ matched-position rows, never corpus rows; no new
    * join, the r12-verdict shape). All arithmetic is integer. A 12-token
    * span with its 6th token swapped is planted per benchmark doc
    * (200000+b), pinning merged span 12 vs exact span 6 (spec'd). */
  val textDecontamFuzzy = QueryDef(
    "q_text_decontam_fuzzy",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val planted = docs.filter($"doc_id" < 5)
        .select(($"doc_id" + 200000).as("doc_id"),
          concat(lit("qx1 qx2 "),
            concat_ws(" ", slice(TextOps.tokens($"text"), 1, 5)),
            lit(" qz9 "),
            concat_ws(" ", slice(TextOps.tokens($"text"), 7, 6)),
            lit(" qx3")).as("text"))
      val corpus = docs.select($"doc_id", $"text").unionByName(planted)
      val grams = TextOps.spread(corpus)
        .select($"doc_id",
          posexplode(TextOps.kgrams(TextOps.tokens($"text"), 3)))
        .select($"doc_id", $"pos", $"col".as("g"))
      val bench = grams.filter($"doc_id" < 5)
        .select($"doc_id".as("bdoc"), $"pos".as("bpos"), $"g")
      val m = grams.filter($"doc_id" >= 5)
        .join(broadcast(bench), "g")
        .select($"doc_id", $"bdoc", $"pos", ($"pos" - $"bpos").as("diag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id", $"bdoc", $"diag").orderBy($"pos")
      val runs = m.withColumn("isl", $"pos" - row_number().over(w))
        .groupBy($"doc_id", $"bdoc", $"diag", $"isl")
        .agg(min($"pos").as("st"), max($"pos").as("en"),
          count(lit(1)).as("run"))
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id", $"bdoc", $"diag").orderBy($"st")
      runs
        .withColumn("brk",
          when($"st" - lag($"en", 1).over(wm) > 4, 1).otherwise(0))
        .withColumn("grp", sum($"brk").over(wm.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"doc_id", $"bdoc", $"diag", $"grp")
        .agg((max($"en") - min($"st") + 3).as("fspan"),
          max($"run").as("mrun"), sum($"run").as("tm"))
        .groupBy($"doc_id", $"bdoc")
        .agg(max($"fspan").cast("int").as("max_fuzzy_toks"),
          (max($"mrun") + 2).cast("int").as("max_exact_toks"),
          sum($"tm").cast("long").as("n_matches"))
        .orderBy($"doc_id", $"bdoc")
    },
    Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 200000,
             |         'qx1 qx2 ' || array_to_string(list_slice($toksSql, 1, 5), ' ')
             |         || ' qz9 ' || array_to_string(list_slice($toksSql, 7, 12), ' ') || ' qx3'
             |  FROM documents WHERE doc_id < 5),
             |t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
             |gr AS (SELECT doc_id, CAST(u.j AS INT) AS pos,
             |              toks[u.j+1] || ' ' || toks[u.j+2] || ' ' || toks[u.j+3] AS g
             |       FROM t, unnest(range(greatest(len(toks) - 2, 0))) AS u(j)),
             |b AS (SELECT doc_id AS bdoc, pos AS bpos, g FROM gr WHERE doc_id < 5),
             |m AS (SELECT gr.doc_id, b.bdoc, gr.pos, gr.pos - b.bpos AS diag
             |      FROM gr JOIN b USING (g) WHERE gr.doc_id >= 5),
             |r AS (SELECT doc_id, bdoc, diag, pos,
             |             pos - ROW_NUMBER() OVER (
             |               PARTITION BY doc_id, bdoc, diag ORDER BY pos) AS isl
             |      FROM m),
             |runs AS (SELECT doc_id, bdoc, diag, isl, MIN(pos) AS st,
             |                MAX(pos) AS en, COUNT(*) AS run
             |         FROM r GROUP BY 1, 2, 3, 4),
             |mg AS (SELECT *, CASE WHEN st - LAG(en) OVER (
             |                        PARTITION BY doc_id, bdoc, diag
             |                        ORDER BY st) > 4
             |                      THEN 1 ELSE 0 END AS brk
             |       FROM runs),
             |mg2 AS (SELECT *, SUM(brk) OVER (
             |                    PARTITION BY doc_id, bdoc, diag ORDER BY st
             |                    ROWS UNBOUNDED PRECEDING) AS grp
             |        FROM mg),
             |sp AS (SELECT doc_id, bdoc, diag, grp,
             |              MAX(en) - MIN(st) + 3 AS fspan,
             |              MAX(run) AS mrun, SUM(run) AS tm
             |       FROM mg2 GROUP BY 1, 2, 3, 4)
             |SELECT doc_id, bdoc, CAST(MAX(fspan) AS INT) AS max_fuzzy_toks,
             |       CAST(MAX(mrun) + 2 AS INT) AS max_exact_toks,
             |       CAST(SUM(tm) AS BIGINT) AS n_matches
             |FROM sp GROUP BY 1, 2 ORDER BY doc_id, bdoc""".stripMargin))

  /** Near-dup RESOLUTION: MinHash-LSH pairs → connected components → each
    * doc mapped to its component's canonical (minimum) id + component
    * size. The step after candidate generation that actually decides which
    * training docs to keep. */
  val dedupCanonical = QueryDef(
    "q_dedup_canonical",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
      val cc = graft.graph.GraphAnalytics.connectedComponents(
        pairs.select($"a".as("src"), $"b".as("dst")), maxIters = 64)
      val sizes = cc.groupBy($"component").agg(count(lit(1)).as("component_size"))
      cc.join(sizes, "component")
        .select($"node".as("doc_id"), $"component".as("canonical"), $"component_size")
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             $minhashCte,
             bands AS (SELECT doc_id, i // 4 AS band,
                              md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
                       FROM mh GROUP BY doc_id, i // 4),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
             est AS (SELECT c.a, c.b,
                            SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0 AS ej
                     FROM cand c
                     JOIN mh ma ON ma.doc_id = c.a
                     JOIN mh mb ON mb.doc_id = c.b AND mb.i = ma.i
                     GROUP BY c.a, c.b),
             pairs AS (SELECT a, b FROM est WHERE ej >= 0.5),
             und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
             verts AS (SELECT DISTINCT a AS v FROM und),
             reach(v, r) AS (
               SELECT v, v FROM verts
               UNION
               SELECT r0.v, u.b FROM reach r0 JOIN und u ON u.a = r0.r)
             SELECT v AS doc_id, MIN(r) AS canonical,
                    CAST(COUNT(DISTINCT r) AS BIGINT) AS component_size
             FROM reach GROUP BY v ORDER BY doc_id"""))

  /** EXACT all-pairs near-dup join via prefix filtering (AllPairs/PPJoin,
    * Bayardo WWW'07) — the zero-false-negative counterpart to the LSH
    * pipeline: candidate pairs come from an equi-join on each doc's
    * RAREST shingles (global df order), so buckets stay small while the
    * guarantee stays exact. Threshold is the RATIONAL 4/5 — the
    * production near-dup bar, it keeps prefixes at ~L/5 instead of
    * t = 0.5's ~L/2 (measured 18 s → ~2 s warm at sf0.1: prefix length
    * drives candidate volume quadratically), and every filter stays
    * integer arithmetic. Corpus plants mutated copies of doc_id < 20
    * (append two tokens: ~3 new shingles, J ≈ L/(L+3) ≥ 0.8 for L ≥ 12);
    * natural pairs sit at shingle Jaccard ≤ 0.024. Completeness vs the
    * brute-force cross join is spec-asserted (PipelineSpec); the declared
    * plan never goes all-pairs. */
  val dedupAllPairs = QueryDef(
    "q_dedup_allpairs",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      Dedup.allPairsJaccard(corpus, "doc_id", "text", 4, 5)
        .select($"a", $"b", $"inter", $"uni", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             r AS (SELECT doc_id, len(shs) AS len, unnest(shs) AS s
                   FROM sh WHERE len(shs) > 0),
             df AS (SELECT s, COUNT(*) AS df FROM r GROUP BY s),
             p AS (SELECT doc_id, len, s FROM (
                     SELECT r.doc_id, r.len, r.s,
                            ROW_NUMBER() OVER (PARTITION BY r.doc_id
                              ORDER BY df.df, r.s) AS rn
                     FROM r JOIN df USING (s))
                   WHERE rn <= len - (len * 4 + 4) // 5 + 1),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM p x JOIN p y ON x.s = y.s AND x.doc_id < y.doc_id
                        AND y.len * 5 >= x.len * 4
                        AND x.len * 5 >= y.len * 4),
             j AS (SELECT c.a, c.b,
                          len(list_intersect(sa.shs, sb.shs)) AS inter,
                          len(sa.shs) + len(sb.shs)
                            - len(list_intersect(sa.shs, sb.shs)) AS uni
                   FROM cand c
                   JOIN sh sa ON sa.doc_id = c.a
                   JOIN sh sb ON sb.doc_id = c.b)
             SELECT a, b, CAST(inter AS INT) AS inter, CAST(uni AS INT) AS uni,
                    round(inter / CAST(uni AS DOUBLE), 6) AS jaccard
             FROM j WHERE inter * 5 >= uni * 4
             ORDER BY a, b"""))

  /** BOUNDED-REPORT near-dup summary: per document, its single best
    * near-dup partner (highest exact Jaccard, partner-id tie-break)
    * from the same AllPairs/PPJoin prefix-filtered join as
    * q_dedup_allpairs. The full pair list is output-bound by clone
    * density (a planted-clone cluster of size c emits c·(c−1)/2 rows —
    * at sf1 the pair dump, not the join, dominated the runtime); the
    * top-1 report is ≤ one row per document at ANY density, so the
    * at-scale artifact measures operator cost, not output volume —
    * and it is the report a dedup pipeline actually consumes ("who is
    * my duplicate", not "every duplicate pair"). Ranking compares the
    * raw IEEE quotient inter/uni (bit-identical cross-engine — single
    * correctly-rounded division of exact integers), never a rounded
    * value. */
  val dedupTop1 = QueryDef(
    "q_dedup_top1",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val pairs = Dedup.allPairsJaccard(corpus, "doc_id", "text", 4, 5)
      val both = pairs
        .select($"a".as("doc_id"), $"b".as("partner"), $"inter", $"uni")
        .unionByName(pairs
          .select($"b".as("doc_id"), $"a".as("partner"), $"inter", $"uni"))
      val w = Window.partitionBy($"doc_id")
        .orderBy(($"inter" / $"uni".cast("double")).desc, $"partner")
      both.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", $"partner", $"inter", $"uni",
          round($"inter" / $"uni".cast("double"), 6).as("jaccard"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
               FROM documents WHERE doc_id < 20),
             $shinglesCte,
             r AS (SELECT doc_id, len(shs) AS len, unnest(shs) AS s
                   FROM sh WHERE len(shs) > 0),
             df AS (SELECT s, COUNT(*) AS df FROM r GROUP BY s),
             p AS (SELECT doc_id, len, s FROM (
                     SELECT r.doc_id, r.len, r.s,
                            ROW_NUMBER() OVER (PARTITION BY r.doc_id
                              ORDER BY df.df, r.s) AS rn
                     FROM r JOIN df USING (s))
                   WHERE rn <= len - (len * 4 + 4) // 5 + 1),
             cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM p x JOIN p y ON x.s = y.s AND x.doc_id < y.doc_id
                        AND y.len * 5 >= x.len * 4
                        AND x.len * 5 >= y.len * 4),
             j AS (SELECT c.a, c.b,
                          len(list_intersect(sa.shs, sb.shs)) AS inter,
                          len(sa.shs) + len(sb.shs)
                            - len(list_intersect(sa.shs, sb.shs)) AS uni
                   FROM cand c
                   JOIN sh sa ON sa.doc_id = c.a
                   JOIN sh sb ON sb.doc_id = c.b),
             pairs AS (SELECT a, b, inter, uni FROM j
                       WHERE inter * 5 >= uni * 4),
             und AS (SELECT a AS doc_id, b AS partner, inter, uni FROM pairs
                     UNION ALL
                     SELECT b AS doc_id, a AS partner, inter, uni FROM pairs),
             rk AS (SELECT doc_id, partner, inter, uni,
                           ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY inter / CAST(uni AS DOUBLE) DESC,
                                      partner) AS rn
                    FROM und)
             SELECT doc_id, partner,
                    CAST(inter AS INT) AS inter, CAST(uni AS INT) AS uni,
                    round(inter / CAST(uni AS DOUBLE), 6) AS jaccard
             FROM rk WHERE rn = 1
             ORDER BY doc_id"""))

  /** QUALITY-AWARE near-dup resolution: MinHash-LSH pairs → connected
    * components → keep the HIGHEST-quality doc per component (heuristic
    * quality score, doc_id tie-break) — the production policy
    * (q_dedup_canonical's min-id keeper is the arbitrary baseline; real
    * pipelines keep the best-scoring duplicate, not the first-crawled
    * one). One row per dup-component member: its keeper, the keeper's
    * quality, and whether this row survives. */
  val dedupKeepBest = QueryDef(
    "q_dedup_keep_best",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val corpus = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit(" qq17 zz88")).as("text")))
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
      val cc = graft.graph.GraphAnalytics.connectedComponents(
        pairs.select($"a".as("src"), $"b".as("dst")), maxIters = 64)
      val q = TextAnalysis.qualityScore(corpus, "doc_id", "text")
        .select($"doc_id", $"quality")
      // the keeper is each component's first row in (quality desc, doc_id)
      // order: one window pass, so the quality scores are computed once
      val w = Window.partitionBy($"component").orderBy($"quality".desc, $"doc_id")
      cc.select($"node".as("doc_id"), $"component").join(q, "doc_id")
        .select($"doc_id", first($"doc_id").over(w).as("keep_id"),
          first($"quality").over(w).as("keep_quality"))
        .select($"doc_id", $"keep_id", $"keep_quality",
          ($"doc_id" === $"keep_id").as("kept"))
        .orderBy($"doc_id")
    },
    Some {
      val allStop = TextAnalysis.stopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text || ' qq17 zz88'
         |  FROM documents WHERE doc_id < 20),
         |$shinglesCte,
         |$minhashCte,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
         |          FROM mh GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |est AS (SELECT c.a, c.b,
         |               SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0 AS ej
         |        FROM cand c
         |        JOIN mh ma ON ma.doc_id = c.a
         |        JOIN mh mb ON mb.doc_id = c.b AND mb.i = ma.i
         |        GROUP BY c.a, c.b),
         |pairs AS (SELECT a, b FROM est WHERE ej >= 0.5),
         |und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         |verts AS (SELECT DISTINCT a AS v FROM und),
         |reach(v, r) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT r0.v, u.b FROM reach r0 JOIN und u ON u.a = r0.r),
         |comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v),
         |qb AS (SELECT doc_id,
         |              CAST(len($toksSql) AS INT) AS n_tokens,
         |              CAST(length(text) AS INT) AS n_chars,
         |              CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
         |              CAST(len(list_intersect(list_distinct($toksSql), $allStop)) AS INT) AS n_stop
         |       FROM corpus),
         |qual AS (SELECT doc_id,
         |                round(0.4 * (n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE)) +
         |                      0.3 * least(n_tokens / 100.0, 1.0) +
         |                      0.3 * (1.0 - n_punct / CAST(greatest(n_chars, 1) AS DOUBLE)), 6) AS quality
         |         FROM qb),
         |mem AS (SELECT c.doc_id, c.component, q.quality
         |        FROM comp c JOIN qual q USING (doc_id)),
         |keep AS (SELECT component, doc_id AS keep_id, quality AS keep_quality
         |         FROM (SELECT component, doc_id, quality,
         |                      ROW_NUMBER() OVER (PARTITION BY component
         |                        ORDER BY quality DESC, doc_id) AS rn
         |               FROM mem) WHERE rn = 1)
         |SELECT m.doc_id, k.keep_id, k.keep_quality, m.doc_id = k.keep_id AS kept
         |FROM mem m JOIN keep k USING (component)
         |ORDER BY m.doc_id""".stripMargin
    })

  /** Sequence packing: greedy contiguous token-budget binning (2048 tokens)
    * of docs into training examples, per source — running token cumsum
    * windowed by source, bin = start-offset DIV budget. Integer arithmetic
    * throughout (exact cross-engine); partitioned by source so the window
    * never globalizes. The pre-tokenizer packing pass every LLM data
    * pipeline runs before writing training shards. */
  val textPack = QueryDef(
    "q_text_pack",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", $"source",
          size(TextOps.tokens($"text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum($"n_tokens").over(w))
        .select($"doc_id", $"source", $"n_tokens",
          (($"cum" - $"n_tokens") / 2048).cast("long").as("bin"))
        .orderBy($"source", $"doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                          x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, source, n_tokens,
                         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM t)
            SELECT doc_id, source, n_tokens,
                   CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
            FROM c ORDER BY source, doc_id"""))

  /** Int8 embedding quantization: per-vector symmetric scale (max |x|),
    * q_i = ⌊x·127/scale⌋. floor (not round) keeps the comparison off the
    * .5-boundary engine divergence; identical input doubles ⇒ identical
    * quantized ints, so the checksum is exact. The 4× storage cut every
    * billion-vector ANN corpus takes before indexing. */
  val vecQuantize = QueryDef(
    "q_vec_quantize",
    (s, dir) => {
      import s.implicits._
      val vd = $"embedding".cast("array<double>")
      Tables(s, dir, "embeddings")
        .select($"vec_id", vd.as("v"),
          array_max(transform(vd, x => abs(x))).as("scale"))
        // NB: round-for-display must happen in a LATER projection — Spark
        // 4's lateral column aliases would otherwise resolve $"scale"
        // inside these lambdas to the rounded alias, silently quantizing
        // against the wrong denominator
        .select($"vec_id", $"scale",
          when($"scale" === 0.0, 0L).otherwise(
            aggregate(transform($"v", x => floor(x * 127.0 / $"scale").cast("long")),
              lit(0L), (acc, q) => acc + q)).as("q_checksum"),
          when($"scale" === 0.0, 0)
            .otherwise(size(filter($"v", x => abs(x) === $"scale")))
            .as("n_at_scale"))
        .select($"vec_id", round($"scale", 6).as("scale"),
          $"q_checksum", $"n_at_scale")
        .orderBy($"vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sc AS (SELECT vec_id, v,
                          list_max(list_transform(v, x -> abs(x))) AS scale
                   FROM e)
            SELECT vec_id, round(scale, 6) AS scale,
                   CASE WHEN scale = 0 THEN 0
                        ELSE CAST(list_sum(list_transform(v,
                               x -> CAST(floor(x * 127.0 / scale) AS BIGINT))) AS BIGINT)
                   END AS q_checksum,
                   CASE WHEN scale = 0 THEN 0
                        ELSE CAST(len(list_filter(v, x -> abs(x) = scale)) AS INT)
                   END AS n_at_scale
            FROM sc ORDER BY vec_id"""))

  /** Domain-mixture reweighting: per-source token shares and the resample
    * rate that flattens the mix to a uniform target — the "data mixing"
    * stage that decides how much of each domain a training run sees.
    * Integer token counts → one double division each; rates capped at 1. */
  val mixWeights = QueryDef(
    "q_mix_weights",
    (s, dir) => {
      import s.implicits._
      val docs = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", size(TextOps.tokens($"text")).cast("long").as("nt"))
      val bySource = docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("tokens"))
      val total = bySource.agg(sum($"tokens").as("total"),
        count(lit(1)).as("n_sources"))
      bySource.crossJoin(broadcast(total))
        .select($"source", $"n_docs", $"tokens",
          round($"tokens".cast("double") / $"total", 6).as("share"),
          round(least(lit(1.0),
            (lit(1.0) / $"n_sources") / ($"tokens".cast("double") / $"total")), 6)
            .as("resample_rate"))
        .orderBy($"source")
    },
    Some(s"""WITH d AS (SELECT source,
                    CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
             bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                           CAST(SUM(nt) AS BIGINT) AS tokens
                    FROM d GROUP BY source),
             t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
                          CAST(COUNT(*) AS BIGINT) AS n_sources FROM bs)
             SELECT source, n_docs, tokens,
                    round(CAST(tokens AS DOUBLE) / total, 6) AS share,
                    round(least(1.0::DOUBLE,
                      (1.0::DOUBLE / n_sources) / (CAST(tokens AS DOUBLE) / total)), 6)
                      AS resample_rate
             FROM bs, t ORDER BY source"""))

  /** Temperature-scaled domain sampling (w_s ∝ n_s^α, α = 1/2 — the
    * multilingual/multi-domain upsampling rule of mBERT/XLM-R/mT5-class
    * training mixes): between natural proportions (α = 1, big domains
    * drown small ones) and uniform (α = 0, q_mix_weights' target), the
    * temperature exponent boosts low-resource domains by √-law. α = 1/2
    * makes every per-item op IEEE-exact-or-rounded-identically: sqrt is
    * CORRECTLY ROUNDED by IEEE 754 (unlike pow/exp — no libm risk at
    * all), the normalizer is an exact DECIMAL(18,8) sum of the 8dp-cast
    * terms (order-independent), and each weight/boost is division +
    * floor-idiom 6dp. One groupBy over the corpus; everything after is
    * |sources| rows. */
  val mixTemperature = QueryDef(
    "q_mix_temperature",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      def f6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      val bySource = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", size(TextOps.tokens($"text")).cast("long").as("nt"))
        .groupBy($"source")
        .agg(sum($"nt").as("tokens"))
        .select($"source", $"tokens",
          sqrt($"tokens".cast("double")).cast(DecimalType(18, 8)).as("u"))
      val tot = bySource.agg(
        sum($"u").as("z"), sum($"tokens").as("total"))
      bySource.crossJoin(broadcast(tot))
        .select($"source", $"tokens",
          f6($"u".cast("double") / $"z".cast("double")).as("weight"),
          f6(($"u".cast("double") / $"z".cast("double")) /
            ($"tokens".cast("double") / $"total".cast("double"))).as("boost"))
        .orderBy($"source")
    },
    Some(s"""WITH d AS (SELECT source,
                    CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
             bs AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens
                    FROM d GROUP BY source),
             u AS (SELECT source, tokens,
                          CAST(sqrt(CAST(tokens AS DOUBLE)) AS DECIMAL(18,8)) AS u
                   FROM bs),
             t AS (SELECT SUM(u) AS z, CAST(SUM(tokens) AS BIGINT) AS total FROM u)
             SELECT source, tokens,
                    floor((CAST(u AS DOUBLE) / CAST(z AS DOUBLE)) * 1e6 + 0.5) / 1e6
                      AS weight,
                    floor(((CAST(u AS DOUBLE) / CAST(z AS DOUBLE)) /
                           (CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE))) * 1e6 + 0.5) / 1e6
                      AS boost
             FROM u, t ORDER BY source"""))

  /** Deterministic weighted source interleave — the executable training
    * ORDER the mixture weights feed (stride scheduling / weighted
    * round-robin): each doc's virtual time is rank-within-source divided
    * by the source's temperature-0.5 weight √n_s, and the schedule is
    * the global (vt, source, doc_id) sort — big sources get
    * proportionally more slots but sublinearly (√), small sources
    * surface early and evenly instead of clumping at epoch boundaries.
    * Per-source ranks are a source-partitioned window; the final total
    * order is a distributed range sort, NOT a window — the schedule of a
    * 100 TB corpus materializes without any single-partition stage.
    * Cross-engine floats: rn/√n is either a ≤2-digit exact rational
    * (perfect-square n) or irrational — no decimal-midpoint rounding
    * divergence exists. */
  val mixSchedule = QueryDef(
    "q_mix_schedule",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", $"source")
      val cnt = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      docs.withColumn("rn", row_number().over(w))
        .join(broadcast(cnt), "source")
        .select($"doc_id", $"source",
          round($"rn" / sqrt($"n"), 6).as("vt"))
        .orderBy($"vt", $"source", $"doc_id")
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
           d AS (SELECT doc_id, source,
                        ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                 FROM documents)
           SELECT d.doc_id, d.source, round(d.rn / sqrt(c.n), 6) AS vt
           FROM d JOIN c USING (source)
           ORDER BY vt, source, doc_id"""))

  /** Water-filling quota sampler — balanced sampling under per-group
    * caps, the mixture-rebalancing step after [[mixWeights]] decides the
    * targets: with budget B over language groups, find the cap c where
    * Σ min(n_g, c) = B (groups under the cap contribute everything,
    * surplus redistributes upward), then SELECT the docs: per group the
    * md5-hash-ranked first `alloc` documents (deterministic "random"
    * without an RNG). The allocation solve runs entirely on the
    * |groups|-row aggregate table with ALL-INTEGER arithmetic — rank and
    * cumulative via a tiny self-join (never a partition-less window), the
    * split point k* = the largest rank whose group still fits fully
    * (n·(K−k+1) + cum_{k−1} ≤ B, monotone so max is sound), cap and
    * remainder by integer DIV/MOD with the +1s going to the largest
    * groups first. Selection is one lang-partitioned window over the
    * corpus + a broadcast of the K-row allocation — the only data-sized
    * work, linear at any corpus size. Output proves the contract:
    * n_picked ≡ alloc per group and Σ alloc = B (spec-pinned). */
  val mixWaterfill = QueryDef(
    "q_mix_waterfill",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 400L
      val d = Tables(s, dir, "documents").select($"doc_id", $"lang")
      val g = d.groupBy($"lang").agg(count(lit(1)).as("n"))
      val alloc = Selection.waterfillAlloc(g, "lang", B)
      val w = Window.partitionBy($"lang")
        .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      val picked = d.withColumn("rn", row_number().over(w))
        .join(broadcast(alloc.select($"lang", $"alloc")), "lang")
        .filter($"rn" <= $"alloc")
        .groupBy($"lang")
        .agg(count(lit(1)).as("np"), sum($"doc_id").as("ps"))
      alloc.join(picked, Seq("lang"), "left")
        .select($"lang", $"n".as("n_docs"), $"fit".as("is_full"), $"alloc",
          coalesce($"np", lit(0L)).as("n_picked"),
          coalesce($"ps", lit(0L)).as("picked_sum"))
        .orderBy($"lang")
    },
    Some("""WITH g AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
           rk AS (SELECT g.lang, g.n, COUNT(*) AS rk, SUM(g2.n) AS cum
                  FROM g JOIN g g2 ON (g2.n, g2.lang) <= (g.n, g.lang)
                  GROUP BY g.lang, g.n),
           kr AS (SELECT COUNT(*) AS kk FROM g),
           ft AS (SELECT rk.*, kr.kk,
                         CASE WHEN n * (kk - rk + 1) + (cum - n) <= 400
                              THEN 1 ELSE 0 END AS fit
                  FROM rk CROSS JOIN kr),
           st AS (SELECT COALESCE(MAX(CASE WHEN fit = 1 THEN rk END), 0) AS kstar,
                         COALESCE(MAX(CASE WHEN fit = 1 THEN cum END), 0) AS cumstar
                  FROM ft),
           al AS (SELECT ft.lang, ft.n, ft.fit,
                         CASE WHEN ft.fit = 1 THEN ft.n
                              ELSE ((400 - st.cumstar) // (ft.kk - st.kstar)) +
                                   (CASE WHEN ft.kk - ft.rk + 1 <=
                                          (400 - st.cumstar) % (ft.kk - st.kstar)
                                         THEN 1 ELSE 0 END)
                         END AS alloc
                  FROM ft CROSS JOIN st),
           dr AS (SELECT doc_id, lang,
                         ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                  FROM documents),
           pk AS (SELECT dr.lang, COUNT(*) AS np, SUM(dr.doc_id) AS ps
                  FROM dr JOIN al ON al.lang = dr.lang AND dr.rn <= al.alloc
                  GROUP BY dr.lang)
           SELECT al.lang, al.n AS n_docs, CAST(al.fit AS INT) AS is_full,
                  CAST(al.alloc AS BIGINT) AS alloc,
                  CAST(COALESCE(pk.np, 0) AS BIGINT) AS n_picked,
                  CAST(COALESCE(pk.ps, 0) AS BIGINT) AS picked_sum
           FROM al LEFT JOIN pk ON pk.lang = al.lang
           ORDER BY al.lang"""))

  /** DSIR-style data selection (Xie et al. NeurIPS'23 —
    * [[graft.pipeline.Dsir]]): every document scored by the hashed-ngram
    * log importance weight of the target domain (lang = 'en') over the
    * raw pool, then resampled by Gumbel-perturbed top-64 — the public
    * mixture/selection operator between q_mix_weights' domain shares and
    * q_sample_weighted's weighted sampling. The Gumbel perturbation is
    * the q_sample_weighted md5 discipline: u = (h + 0.5)/P, inner −ln
    * floor-rounded at 8dp (and clamped at 1e-8 so a u within 5e-9 of 1
    * cannot produce −ln(0) = ∞ at any corpus size), outer −ln at 6dp.
    * Scale shape: corpus-linear feature explode + (doc, bucket) agg; both
    * bag models are ≤256-row broadcasts; selection is TakeOrdered — no
    * global window. PipelineSpec pins that planted target-lookalike docs
    * out-rank off-domain docs by logw. */
  val mixDsir = QueryDef(
    "q_mix_dsir",
    (s, dir) => {
      import s.implicits._
      val pr = graft.graph.NodeEmbedding.pround _
      val lw = Dsir.logWeights(Tables(s, dir, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en",
        keep = Seq("lang"), buckets = 256)
      lw.withColumn("h", TextOps.strHash(
          concat(lit("dsirg:"), $"doc_id".cast("string"))))
        .withColumn("u", ($"h" + 0.5) / TextOps.P)
        .withColumn("t1", pr(-log($"u"), 8))
        .withColumn("g", pr(-log(greatest($"t1", lit(1e-8))), 6))
        .select($"doc_id", $"lang",
          pr($"lw".cast("double"), 6).as("logw"),
          pr($"lw".cast("double") + $"g", 6).as("score"))
        .orderBy($"score".desc, $"doc_id").limit(64)
    },
    Some(s"""WITH dt AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
             |gs AS (SELECT doc_id, lang, unnest(toks) AS g FROM dt
             |       UNION ALL
             |       SELECT doc_id, lang, toks[u.j+1] || ' ' || toks[u.j+2]
             |       FROM dt, unnest(range(greatest(len(toks) - 1, 0))) AS u(j)),
             |f AS (SELECT doc_id, lang,
             |             CAST((CAST(('0x' || substr(md5('dsir:' || g), 1, 15)) AS BIGINT)
             |                   % ${TextOps.P}) % 256 AS INT) AS b,
             |             CAST(COUNT(*) AS BIGINT) AS c
             |      FROM gs GROUP BY 1, 2, 3),
             |tc AS (SELECT b, SUM(c) AS ct FROM f WHERE lang = 'en' GROUP BY b),
             |rc AS (SELECT b, SUM(c) AS cr FROM f GROUP BY b),
             |tt AS (SELECT (SELECT SUM(ct) FROM tc) AS t,
             |              (SELECT SUM(cr) FROM rc) AS r),
             |lam AS (SELECT rc.b,
             |               CAST(${prSql("ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / (t + 256))", 8)} AS DECIMAL(12,8))
             |             - CAST(${prSql("ln(CAST(rc.cr + 1 AS DOUBLE) / (r + 256))", 8)} AS DECIMAL(12,8)) AS lam
             |        FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tt),
             |lw AS (SELECT doc_id, lang,
             |              SUM(CAST(c AS DECIMAL(12,0)) * lam) AS lwdec
             |       FROM f JOIN lam ON f.b = lam.b GROUP BY 1, 2),
             |sc AS (SELECT doc_id, lang, CAST(lwdec AS DOUBLE) AS lwdbl,
             |              ${prSql(s"-ln(((CAST(('0x' || substr(md5('dsirg:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % ${TextOps.P}) + 0.5) / ${TextOps.P})", 8)} AS t1
             |       FROM lw)
             |SELECT doc_id, lang, ${prSql("lwdbl", 6)} AS logw,
             |       ${prSql(s"lwdbl + ${prSql("-ln(greatest(t1, 1e-8))", 6)}", 6)} AS score
             |FROM sc
             |ORDER BY score DESC, doc_id LIMIT 64""".stripMargin))

  // ------------------------------------------------------------------ BPE
  /** Shared DuckDB replay of BPE training (mirrors Bpe.train exactly):
    * v0 = per-character piece states over the distinct-word vocabulary,
    * then per merge step i: p_i adjacent pair counts, t_i the top-1 pair
    * (count desc, pair asc), v_i the vocabulary after the literal
    * spaced-string replace. Yields CTEs wt, v0, p1..pM, t1..tM, v1..vM. */
  private def bpeCtes(m: Int): String = {
    val steps = (1 to m).map { i =>
      s"""p$i AS (SELECT q.cnt, q.ps[u.j+1] || ' ' || q.ps[u.j+2] AS pair
         |        FROM (SELECT cnt, string_split(trim(state), ' ') AS ps FROM v${i - 1}) q,
         |             unnest(range(greatest(len(q.ps) - 1, 0))) AS u(j)),
         |t$i AS (SELECT pair, c FROM (
         |          SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c,
         |                 ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, pair) AS rn
         |          FROM p$i GROUP BY pair) WHERE rn = 1),
         |v$i AS (SELECT w, cnt,
         |               CASE WHEN t.pair IS NULL THEN state
         |                    ELSE replace(state, ' ' || t.pair || ' ',
         |                         ' ' || replace(t.pair, ' ', '') || ' ') END AS state
         |        FROM v${i - 1} LEFT JOIN t$i t ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""wt AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |v0 AS (SELECT w, COUNT(*) AS cnt,
       |              ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS state
       |       FROM wt GROUP BY w),
       |$steps""".stripMargin
  }

  /** Unrolled-CTE replay of [[graft.pipeline.UnigramLm]] hard-EM
    * training: candidate substring counts, the integer-scaled piece
    * costs (cost_e8 = ⌊−ln(p)·1e8 + 0.5⌋ — one libm call per piece,
    * then pure BIGINT DP), TWO fixed-depth Viterbi passes (10 unrolled
    * positions, ≤4-char pieces, smallest-k tie-break via ordered CASE),
    * and the usage-pruned add-one-smoothed final vocabulary. Pieces ride
    * as sorted (pl, cl) lists; lookups are
    * COALESCE(cl[list_position(pl, piece)], BIG). Defines `upc` (the
    * final piece table), `unp` (per-word final piece counts) and `uwt`
    * (the token stream) for the callers. */
  private val uniMaxK = 4
  private val uniMaxLen = 10
  private def uniDpPass(p: String, lists: String): String = {
    val maxK = uniMaxK
    val maxLen = uniMaxLen
    val big: String = graft.pipeline.UnigramLm.Big.toString
    val steps = (1 to maxLen).map { j =>
        val ks = 1 to math.min(maxK, j)
        val cands = ks.map { k =>
          s"""d${j - k} + COALESCE(cl[list_position(pl, substr(w, ${j - k + 1}, $k))], $big) AS c$k,
             |                    seg${j - k} || ' ' || substr(w, ${j - k + 1}, $k) AS t$k""".stripMargin
        }.mkString(",\n                    ")
        val dj = "LEAST(" + ks.map(k => s"c$k").mkString(", ") + ")"
        def pick(rest: List[Int]): String = rest match {
          case k :: Nil => s"t$k"
          case k :: tl =>
            s"CASE WHEN ${tl.map(o => s"c$k <= c$o").mkString(" AND ")} THEN t$k ELSE ${pick(tl)} END"
          case Nil => throw new IllegalStateException("no candidates")
        }
        val drop = ks.map(k => s"c$k, t$k").mkString(", ")
        s"""${p}$j AS (SELECT * EXCLUDE ($drop), $dj AS d$j, ${pick(ks.toList)} AS seg$j
           |        FROM (SELECT *,
           |                    ${cands}
           |              FROM ${p}${j - 1}))""".stripMargin
      }.mkString(",\n")
    s"""${p}0 AS (SELECT w, cnt, pl, cl, CAST(0 AS BIGINT) AS d0, '' AS seg0
       |        FROM uv0, $lists),
       |$steps""".stripMargin
  }
  private val uniSegCase = (1 to uniMaxLen)
    .map(j => s"WHEN len(w) = $j THEN seg$j").mkString(" ")
  /** Budget-dependent tail of the unigram-LM replay (M-step pruning,
    * smoothed costs, final Viterbi pass) with every CTE name suffixed by
    * `tag`, so q_text_unigram_curve can replay several budgets against
    * the SHARED first-E-step prefix (uv0..uch1 are budget-independent).
    * tag = "" reproduces the original untagged names byte-for-byte. */
  private def unigramBudgetCtes(budget: Int, tag: String = ""): String = {
    val maxLen = uniMaxLen
    s"""umu1$tag AS (SELECT piece, uc FROM (
       |           SELECT piece, uc, ROW_NUMBER() OVER (ORDER BY uc DESC, piece) AS rn
       |           FROM uuc WHERE len(piece) > 1) WHERE rn <= $budget),
       |uk1$tag AS (SELECT piece, uc FROM uch1 UNION ALL SELECT piece, uc FROM umu1$tag),
       |ut1$tag AS (SELECT CAST(SUM(uc + 1) AS BIGINT) AS tot FROM uk1$tag),
       |upc$tag AS (SELECT piece, uc AS usage,
       |               CAST(floor((-ln(CAST(uc + 1 AS DOUBLE) / tot)) * 1e8 + 0.5) AS BIGINT) AS cost_e8
       |        FROM uk1$tag, ut1$tag),
       |up1$tag AS (SELECT list(piece ORDER BY piece) AS pl,
       |               list(cost_e8 ORDER BY piece) AS cl FROM upc$tag),
       |${uniDpPass(s"${tag}vd", s"up1$tag")},
       |vseg$tag AS (SELECT w, cnt,
       |                trim(CASE $uniSegCase
       |                     ELSE trim(regexp_replace(w, '(.)', '\\1 ', 'g')) END) AS seg
       |         FROM ${tag}vd$maxLen)""".stripMargin
  }
  private def unigramCtes(pool: Int = 16, budget: Int = 8): String = {
    val maxK = uniMaxK
    val maxLen = uniMaxLen
    def dpPass(p: String, lists: String): String = uniDpPass(p, lists)
    val segCase = uniSegCase
    s"""uwt AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |uv0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM uwt GROUP BY w),
       |usub AS (SELECT substr(w, CAST(u.s AS INT) + 1, CAST(x.k AS INT)) AS piece,
       |                CAST(SUM(cnt) AS BIGINT) AS c
       |         FROM uv0, unnest(range(len(w))) AS u(s),
       |              unnest(range(1, ${maxK + 1})) AS x(k)
       |         WHERE u.s + x.k <= len(w)
       |         GROUP BY 1),
       |uch AS (SELECT piece, c FROM usub WHERE len(piece) = 1),
       |umu AS (SELECT piece, c FROM (
       |          SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
       |          FROM usub WHERE len(piece) > 1) WHERE rn <= $pool),
       |uk0 AS (SELECT piece, c FROM uch UNION ALL SELECT piece, c FROM umu),
       |ut0 AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM uk0),
       |uc0 AS (SELECT piece,
       |               CAST(floor((-ln(CAST(c AS DOUBLE) / tot)) * 1e8 + 0.5) AS BIGINT) AS cost_e8
       |        FROM uk0, ut0),
       |up0 AS (SELECT list(piece ORDER BY piece) AS pl,
       |               list(cost_e8 ORDER BY piece) AS cl FROM uc0),
       |${dpPass("ud", "up0")},
       |useg AS (SELECT w, cnt,
       |                trim(CASE $segCase
       |                     ELSE trim(regexp_replace(w, '(.)', '\\1 ', 'g')) END) AS seg
       |         FROM ud$maxLen),
       |uuc AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS uc
       |        FROM (SELECT cnt, unnest(string_split(seg, ' ')) AS piece FROM useg)
       |        GROUP BY 1),
       |uch1 AS (SELECT uch.piece, CAST(COALESCE(uuc.uc, 0) AS BIGINT) AS uc
       |         FROM uch LEFT JOIN uuc USING (piece)),
       |${unigramBudgetCtes(budget)},
       |unp AS (SELECT w, CAST(len(string_split(seg, ' ')) AS INT) AS np FROM vseg)""".stripMargin
  }

  /** Unigram-LM training as a session artifact — shared by the lm /
    * apply / fertility queries (training is bit-deterministic, so sharing
    * cannot change any result). */
  private[graft] val unigramTrained = Artifact("unigram_lm") { (s, dir) =>
    UnigramLm.train(Tables(s, dir, "documents"), "text")
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training
    * ([[graft.pipeline.UnigramLm]] — deterministic Viterbi hard-EM, the
    * tokenizer family's missing half beside BPE: candidate substring
    * pool → integer-cost Viterbi segmentation → usage-pruned add-one
    * vocabulary). Output is the final trained piece table; the oracle
    * replays candidate counting, both unrolled 10-position DPs, and the
    * pruning, so a hash match proves every piece, usage count, and
    * integer cost of the trained artifact. */
  val textUnigramLm = QueryDef(
    "q_text_unigram_lm",
    (s, dir) => {
      import s.implicits._
      val (pieces, _) = unigramTrained(s, dir)
      pieces.orderBy($"piece")
    },
    Some(s"""WITH ${unigramCtes()}
             |SELECT piece, usage, cost_e8 FROM upc ORDER BY piece""".stripMargin))

  /** Unigram-LM apply: per-doc whitespace vs trained-unigram token
    * counts (UnigramLm.tokenCounts) — the Viterbi-optimal counterpart of
    * q_text_bpe's greedy-merge budget numbers. PipelineSpec pins
    * compression ≥ the equal-budget BPE tokenizer (8 multi-char pieces
    * each) on the fixture; the two trainers land within ~1% of each
    * other at every scale, with unigram ahead wherever the optimal
    * segmentation can exploit a piece BPE's bottom-up merges never
    * form. */
  val textUnigramApply = QueryDef(
    "q_text_unigram_apply",
    (s, dir) => {
      import s.implicits._
      val (_, perWord) = unigramTrained(s, dir)
      UnigramLm.tokenCounts(Tables(s, dir, "documents"), "doc_id", "text",
          perWord)
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${unigramCtes()}
             |SELECT uwt.doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS ws_tokens,
             |       CAST(SUM(COALESCE(unp.np, len(uwt.w))) AS BIGINT) AS uni_tokens
             |FROM uwt LEFT JOIN unp USING (w)
             |GROUP BY uwt.doc_id ORDER BY uwt.doc_id""".stripMargin))

  /** Per-language tokenizer fertility (pieces per word) under the
    * trained unigram LM — the multilingual-parity audit (a tokenizer
    * that fragments one language's words into many more pieces taxes
    * that language's effective context window and training compute; the
    * number parity studies report per language). One broadcast join of
    * the lang-tagged token stream against the |vocab|-row segmentation
    * table; out-of-vocabulary words fall back to per-character pieces,
    * exactly the apply path. On this fixture the synthetic text is
    * lang-independent, so the audit correctly reports near-parity — the
    * operator, not the corpus, is under test. */
  val textUnigramFertility = QueryDef(
    "q_text_unigram_fertility",
    (s, dir) => {
      import s.implicits._
      val (_, perWord) = unigramTrained(s, dir)
      val np = perWord.select($"w", size(split($"seg", " ")).as("np"))
      TextOps.spread(Tables(s, dir, "documents"))
        .select($"lang", explode(TextOps.tokens($"text")).as("w"))
        .join(broadcast(np), Seq("w"), "left")
        .withColumn("np", coalesce($"np", length($"w")))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_words"),
          sum($"np").cast("long").as("n_pieces"))
        .select($"lang", $"n_words", $"n_pieces",
          graft.graph.NodeEmbedding.pround(
            $"n_pieces".cast("double") / $"n_words", 6).as("fertility"))
        .orderBy($"lang")
    },
    Some(s"""WITH ${unigramCtes()},
             |d AS (SELECT lang, unnest($toksSql) AS w FROM documents)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
             |       CAST(SUM(COALESCE(unp.np, len(d.w))) AS BIGINT) AS n_pieces,
             |       ${prSql("CAST(SUM(COALESCE(unp.np, len(d.w))) AS DOUBLE) / COUNT(*)", 6)} AS fertility
             |FROM d LEFT JOIN unp USING (w)
             |GROUP BY lang ORDER BY lang""".stripMargin))

  /** Compression-vs-vocabulary curve for the trained unigram-LM tokenizer
    * (the Heaps-law counterpart for TRAINED tokenizers): total corpus
    * tokens under multi-char piece budgets 4 / 8 / 16 — the number a
    * vocabulary-size decision actually trades against embedding-table
    * width. One training per budget (budget 8 shares the session memo
    * with the lm/apply/fertility trio); the candidate pool and the first
    * E-step are budget-independent, so the oracle replays them ONCE and
    * forks only the M-step pruning + final Viterbi per budget
    * ([[unigramBudgetCtes]]). Corpus tokens come from the distinct-word
    * vocabulary (Σ cnt·|seg|) — corpus-size-independent after the word
    * count, the flattest scale curve in the registry. PipelineSpec pins
    * monotone compression: a larger piece budget never tokenizes worse
    * (supersets of pieces only add Viterbi options; usage-based pruning
    * preserves the dominant pieces on this corpus — measured, and pinned
    * so a regression is loud). */
  val textUnigramCurve = QueryDef(
    "q_text_unigram_curve",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      Seq(4, 8, 16).map { budget =>
        val (_, perWord) =
          if (budget == 8) unigramTrained(s, dir)
          else UnigramLm.train(docs, "text", budget = budget)
        perWord
          .select(($"cnt" * size(split($"seg", " ")).cast("long")).as("tok"))
          .agg(sum($"tok").as("corpus_tokens"))
          .select(lit(budget).as("budget"),
            $"corpus_tokens".cast("long").as("corpus_tokens"))
      }.reduce(_ unionByName _).orderBy($"budget")
    },
    Some {
      def arm(tag: String) =
        s"""SELECT ${tag.drop(1)} AS budget,
           |       CAST(SUM(cnt * len(string_split(seg, ' '))) AS BIGINT) AS corpus_tokens
           |FROM vseg$tag""".stripMargin
      s"""WITH ${unigramCtes()},
         |${unigramBudgetCtes(4, "b4")},
         |${unigramBudgetCtes(16, "b16")}
         |SELECT budget, corpus_tokens FROM (
         |  ${arm("b4")}
         |  UNION ALL
         |  SELECT 8 AS budget,
         |         CAST(SUM(cnt * len(string_split(seg, ' '))) AS BIGINT) AS corpus_tokens
         |  FROM vseg
         |  UNION ALL
         |  ${arm("b16")})
         |ORDER BY budget""".stripMargin
    })

  /** BPE merge table: 8 deterministic merges trained on the documents
    * vocabulary (Bpe.train). Hash-matching the oracle's unrolled replay
    * checks every intermediate pair count, tie-break, and greedy merge —
    * training itself is the thing under test. */
  val textBpeMerges = QueryDef(
    "q_text_bpe_merges",
    (s, dir) => {
      import s.implicits._
      val (merges, _) = Bpe.train(Tables(s, dir, "documents"), "text", numMerges = 8)
      merges.orderBy($"step")
    },
    Some {
      val union = (1 to 8).map(i => s"SELECT $i AS step, pair, c FROM t$i")
        .mkString("\n  UNION ALL ")
      s"""WITH ${bpeCtes(8)}
         |SELECT * FROM (
         |  $union)
         |ORDER BY step""".stripMargin
    })

  /** BPE apply: per-doc whitespace vs trained-BPE token counts
    * (Bpe.tokenCounts) — the budget numbers sequence packing and mixture
    * weights should rest on, no longer a whitespace proxy. */
  val textBpe = QueryDef(
    "q_text_bpe",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val (_, vocab) = Bpe.train(docs, "text", numMerges = 8)
      Bpe.tokenCounts(docs, "doc_id", "text", vocab)
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${bpeCtes(8)},
             |np AS (SELECT w, len(string_split(trim(state), ' ')) AS np FROM v8)
             |SELECT wt.doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS ws_tokens,
             |       CAST(SUM(np.np) AS BIGINT) AS bpe_tokens
             |FROM wt JOIN np USING (w)
             |GROUP BY wt.doc_id ORDER BY wt.doc_id""".stripMargin))

  /** IVF-flat ANN over TRAINED centroids: 2 deterministic Lloyd
    * iterations from the ⌈√n⌉-spaced seeds (Similarity.kmeansCentroids),
    * then the exact same probe/rank query path as q_ann_ivf
    * (Similarity.ivfTopKWith). The oracle REPLAYS TRAINING as unrolled
    * CTEs — per iteration one assignment window + one decimal-exact
    * per-(cell, dim) mean — which only works because training is
    * bit-deterministic (fixed iterations, round-6 cosine, id tie-breaks,
    * DECIMAL partial sums). Closes the "swap in trained codebooks at
    * production scale" IOU the untrained IVF documented. */
  val annIvfTrained = QueryDef(
    "q_ann_ivf_trained",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val cent = trainedCentroids(s, dir)
      Similarity.ivfTopKWith(e, "vec_id", "embedding", cent,
          VectorQueries.queryVec, k = 10, nprobe = 2)
        .orderBy($"score".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH ${kmeansCtes(2)},
         |af AS (${kmAssignSql("c2")}),
         |pr AS (SELECT cid FROM (
         |         SELECT cid, ROW_NUMBER() OVER (ORDER BY round(${cosSql("cv", qv)}, 6) DESC, cid) AS rn
         |         FROM c2) WHERE rn <= 2)
         |SELECT vid AS vec_id, round(${cosSql("v", qv)}, 6) AS score
         |FROM af JOIN pr USING (cid)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    })

  /** IVF→PQ→exact-rerank ANN (Similarity.ivfPqTopK): trained coarse
    * cells prune the corpus, PQ asymmetric distance ranks only the probed
    * cells' members, the ADC top-30 get exact-cosine reranked to the
    * final top-10 — the FAISS-IVFPQ serving composition as ONE Catalyst
    * plan. The oracle chains the shared k-means training replay, the
    * probe, and the PQ code CTEs; the PQ arithmetic is the same
    * pqAdcScores kernel q_ann_pq hash-checks corpus-wide. */
  val annIvfPq = QueryDef(
    "q_ann_ivfpq",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val cent = trainedCentroids(s, dir)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", cent,
          VectorQueries.queryVec, k = 10, nprobe = 2, rerank = 30,
          corpusN = Tables.rowCount(s, dir, "embeddings"))
        .orderBy($"score".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH ${kmeansCtes(2)},
         |af AS (${kmAssignSql("c2")}),
         |pb AS (SELECT cid FROM (
         |         SELECT cid, ROW_NUMBER() OVER (ORDER BY round(${cosSql("cv", qv)}, 6) DESC, cid) AS rn
         |         FROM c2) WHERE rn <= 2),
         |cand AS (SELECT vid, v FROM af JOIN pb USING (cid)),
         |pss AS (SELECT unnest(range(8)) AS s),
         |psub AS (SELECT vid, s, list_slice(v, s*8 + 1, s*8 + 8) AS xs
         |         FROM cand CROSS JOIN pss),
         |pcb AS (SELECT vid AS ccid, s, list_slice(v, s*8 + 1, s*8 + 8) AS cs
         |        FROM e CROSS JOIN pss WHERE vid % (SELECT s FROM sp) = 0),
         |pasg AS (SELECT vid, s, ccid FROM (
         |           SELECT psub.vid, psub.s, pcb.ccid,
         |                  ROW_NUMBER() OVER (PARTITION BY psub.vid, psub.s ORDER BY
         |                    round(list_dot_product(xs, xs) - 2.0*list_dot_product(xs, cs)
         |                          + list_dot_product(cs, cs), 6), pcb.ccid) AS rn
         |           FROM psub JOIN pcb ON pcb.s = psub.s) WHERE rn = 1),
         |pqc AS (SELECT s, ccid,
         |               round(list_dot_product(list_slice($qv, s*8 + 1, s*8 + 8), cs), 6) AS contrib
         |        FROM pcb),
         |padc AS (SELECT a.vid,
         |                round(CAST(SUM(CAST(pqc.contrib AS DECIMAL(20,10))) AS DOUBLE), 6) AS pq_score
         |         FROM pasg a JOIN pqc ON pqc.s = a.s AND pqc.ccid = a.ccid
         |         GROUP BY a.vid),
         |ptop AS (SELECT vid, pq_score,
         |                ROW_NUMBER() OVER (ORDER BY pq_score DESC, vid) AS prn
         |         FROM padc)
         |SELECT t.vid AS vec_id, t.pq_score, round(${cosSql("cand.v", qv)}, 6) AS score
         |FROM ptop t JOIN cand ON cand.vid = t.vid
         |WHERE t.prn <= 30
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    })

  /** BATCHED IVF→PQ→rerank serving (Similarity.ivfPqTopKQueries): three
    * query vectors share ONE corpus assignment pass and ONE candidate
    * PQ-coding pass; probes, ADC lookups, and rerank/top-k windows are
    * per-qid — the amortized plan a production ANN service runs, where
    * the per-query-literal q_ann_ivfpq cannot amortize assignment.
    * Single-query equivalence to ivfPqTopK is spec-pinned
    * (SketchIvfSpec); the oracle replays training (shared
    * kmeansCtes), per-query probes, shared PQ codes, and both ranks. */
  val annIvfPqBatch = QueryDef(
    "q_ann_ivfpq_batch",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val cent = trainedCentroids(s, dir)
      Similarity.ivfPqTopKQueries(e, "vec_id", "embedding", cent,
          e.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64,
          k = 5, nprobe = 2, rerank = 30,
          corpusN = Tables.rowCount(s, dir, "embeddings"), queriesN = 3L)
        .orderBy($"qid", $"rn")
    },
    Some(s"""WITH ${kmeansCtes(2)},
         |af AS (${kmAssignSql("c2")}),
         |q AS (SELECT vid AS qid, v AS qv FROM e WHERE vid < 3),
         |pr AS (SELECT qid, qv, cid FROM (
         |         SELECT q.qid, q.qv, c.cid,
         |                ROW_NUMBER() OVER (PARTITION BY q.qid
         |                  ORDER BY round(${cosSql("q.qv", "c.cv")}, 6) DESC, c.cid) AS rn
         |         FROM q CROSS JOIN c2 c) WHERE rn <= 2),
         |cand AS (SELECT pr.qid, pr.qv, af.vid, af.v FROM af JOIN pr USING (cid)),
         |cvec AS (SELECT vid, v FROM af WHERE cid IN (SELECT cid FROM pr)),
         |pss AS (SELECT unnest(range(8)) AS s),
         |psub AS (SELECT vid, s, list_slice(v, s*8 + 1, s*8 + 8) AS xs
         |         FROM cvec CROSS JOIN pss),
         |pcb AS (SELECT vid AS ccid, s, list_slice(v, s*8 + 1, s*8 + 8) AS cs
         |        FROM e CROSS JOIN pss WHERE vid % (SELECT s FROM sp) = 0),
         |pasg AS (SELECT vid, s, ccid FROM (
         |           SELECT psub.vid, psub.s, pcb.ccid,
         |                  ROW_NUMBER() OVER (PARTITION BY psub.vid, psub.s ORDER BY
         |                    round(list_dot_product(xs, xs) - 2.0*list_dot_product(xs, cs)
         |                          + list_dot_product(cs, cs), 6), pcb.ccid) AS rn
         |           FROM psub JOIN pcb ON pcb.s = psub.s) WHERE rn = 1),
         |pqc AS (SELECT q.qid, pcb.s, pcb.ccid,
         |               round(list_dot_product(list_slice(q.qv, pcb.s*8 + 1, pcb.s*8 + 8),
         |                                      pcb.cs), 6) AS contrib
         |        FROM q CROSS JOIN pcb),
         |padc AS (SELECT c.qid, c.vid,
         |                round(CAST(SUM(CAST(pqc.contrib AS DECIMAL(20,10))) AS DOUBLE), 6) AS pq_score
         |         FROM (SELECT DISTINCT qid, vid FROM cand) c
         |         JOIN pasg a ON a.vid = c.vid
         |         JOIN pqc ON pqc.qid = c.qid AND pqc.s = a.s AND pqc.ccid = a.ccid
         |         GROUP BY c.qid, c.vid),
         |fin AS (SELECT qid, vid, pq_score FROM (
         |          SELECT qid, vid, pq_score,
         |                 ROW_NUMBER() OVER (PARTITION BY qid
         |                   ORDER BY pq_score DESC, vid) AS prn
         |          FROM padc) WHERE prn <= 30),
         |rr AS (SELECT f.qid, f.vid, f.pq_score,
         |              round(${cosSql("cand.v", "cand.qv")}, 6) AS score
         |       FROM fin f JOIN cand ON cand.qid = f.qid AND cand.vid = f.vid)
         |SELECT qid, vid AS cand, pq_score, score, CAST(rn AS INT) AS rn FROM (
         |  SELECT qid, vid, pq_score, score,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn
         |  FROM rr) WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin))

  /** PQ ADC top-k over a TRAINED per-subspace Lloyd codebook
    * (Similarity.pqCodebookTrained + pqTopKWith) — the fine-quantizer
    * half of the trained-quantizer story, completing q_ann_ivf_trained's
    * coarse half. The oracle replays all m subspace k-means runs as one
    * set of unrolled CTEs (subspace id as a group key). */
  val annPqTrained = QueryDef(
    "q_ann_pq_trained",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val cb = trainedPqCodebook(s, dir)
      Similarity.pqTopKWith(e, "vec_id", "embedding", cb,
          VectorQueries.queryVec, k = 10)
        .orderBy($"score".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH ${pqKmeansCtes(2)},
         |pasg AS (${pqAssignSql("pc2")}),
         |pqc AS (SELECT s, cid,
         |               round(list_dot_product(list_slice($qv, s*8 + 1, s*8 + 8), cs), 6) AS contrib
         |        FROM pc2),
         |padc AS (SELECT a.vid,
         |                round(CAST(SUM(CAST(pqc.contrib AS DECIMAL(20,10))) AS DOUBLE), 6) AS score
         |         FROM pasg a JOIN pqc ON pqc.s = a.s AND pqc.cid = a.cid
         |         GROUP BY a.vid)
         |SELECT vid AS vec_id, score FROM padc
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    })

  /** PQ quantization error, spaced vs trained (Similarity.pqMse): the
    * mean round-6 L2² from every subvector to its assigned codeword —
    * the number codebook training exists to reduce, measured in-engine.
    * Lloyd's objective is non-increasing, so trained ≤ spaced (spec
    * asserts it; this query publishes both, hash-checked). */
  /** Shared RQ replay CTEs: sp/e/cb1/a1e (argmin level 1)/r1 (exact
    * zip_with residuals)/cb2/a2 (argmin level 2 with both error terms).
    * Consumed by q_ann_rq and q_ann_rq_err. */
  private val rqCtes: String =
    s"""sp AS (SELECT CAST(greatest(ceil(sqrt(COUNT(*))), ceil(COUNT(*)/256.0)) AS BIGINT) AS sp FROM embeddings),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb1 AS (SELECT vec_id AS cid1, v AS c1 FROM e
       |        WHERE vec_id % (SELECT sp FROM sp) = 0),
       |a1e AS (SELECT vec_id, v, cid1, c1, d2 FROM (
       |         SELECT e.vec_id, e.v, cb1.cid1, cb1.c1,
       |                round(list_dot_product(e.v, e.v)
       |                      - 2.0*list_dot_product(e.v, cb1.c1)
       |                      + list_dot_product(cb1.c1, cb1.c1), 6) AS d2,
       |                ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |                  round(list_dot_product(e.v, e.v)
       |                        - 2.0*list_dot_product(e.v, cb1.c1)
       |                        + list_dot_product(cb1.c1, cb1.c1), 6),
       |                  cb1.cid1) AS rn
       |         FROM e CROSS JOIN cb1) WHERE rn = 1),
       |r1 AS (SELECT vec_id, cid1, d2,
       |              list_transform(range(len(v)), i -> v[i+1] - c1[i+1]) AS r
       |       FROM a1e),
       |cb2 AS (SELECT vec_id AS cid2, r AS c2 FROM r1
       |        WHERE vec_id % (SELECT sp FROM sp) = 1
       |        UNION ALL
       |        SELECT -1 AS cid2, list_transform(v, x -> 0.0::DOUBLE) AS c2
       |        FROM e WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
       |a2 AS (SELECT vec_id, cid1, cid2, d2, d2r FROM (
       |        SELECT r1.vec_id, r1.cid1, cb2.cid2, r1.d2,
       |               round(list_dot_product(r1.r, r1.r)
       |                     - 2.0*list_dot_product(r1.r, cb2.c2)
       |                     + list_dot_product(cb2.c2, cb2.c2), 6) AS d2r,
       |               ROW_NUMBER() OVER (PARTITION BY r1.vec_id ORDER BY
       |                 round(list_dot_product(r1.r, r1.r)
       |                       - 2.0*list_dot_product(r1.r, cb2.c2)
       |                       + list_dot_product(cb2.c2, cb2.c2), 6),
       |                 cb2.cid2) AS rn
       |        FROM r1 CROSS JOIN cb2) WHERE rn = 1)""".stripMargin

  /** Two-level residual quantization ADC top-10 (Similarity.rqTopK) —
    * the RQ family beside PQ/SQ8: full-dim spaced level-1 codebook,
    * offset-stratum residual level-2 codebook, score = q·(c1+c2) as two
    * DECIMAL-added round-6 lookups. The oracle replays both assignment
    * levels (argmin windows over cross joins) and the exact zip_with
    * residual arithmetic. */
  val annRq = QueryDef(
    "q_ann_rq",
    (s, dir) => {
      import s.implicits._
      Similarity.rqTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          VectorQueries.queryVec, k = 10,
          corpusN = Tables.rowCount(s, dir, "embeddings"))
        .orderBy($"score".desc, $"vec_id")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH ${rqCtes},
         |t1 AS (SELECT cid1, round(list_dot_product($qv, c1), 6) AS t1 FROM cb1),
         |t2 AS (SELECT cid2, round(list_dot_product($qv, c2), 6) AS t2 FROM cb2),
         |sc AS (SELECT a2.vec_id,
         |              round(CAST(CAST(t1.t1 AS DECIMAL(20,10))
         |                         + CAST(t2.t2 AS DECIMAL(20,10)) AS DOUBLE), 6) AS score
         |       FROM a2 JOIN t1 USING (cid1) JOIN t2 USING (cid2))
         |SELECT vec_id, score FROM sc ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    })

  /** Per-level RQ mean squared error (Similarity.rqMse) — the number
    * that justifies the second level: mse(level 2) < mse(level 1) on the
    * fixture, measured, not argued (the spec also pins the inequality). */
  val annRqErr = QueryDef(
    "q_ann_rq_err",
    (s, dir) => {
      import s.implicits._
      Similarity.rqMse(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        corpusN = Tables.rowCount(s, dir, "embeddings"))
    },
    Some(s"""WITH ${rqCtes}
         |SELECT 1 AS level,
         |       round(CAST(SUM(CAST(d2 AS DECIMAL(20,10))) AS DOUBLE)
         |             / COUNT(*), 6) AS mse FROM a2
         |UNION ALL
         |SELECT 2 AS level,
         |       round(CAST(SUM(CAST(d2r AS DECIMAL(20,10))) AS DOUBLE)
         |             / COUNT(*), 6) AS mse FROM a2
         |ORDER BY level""".stripMargin))

  val annPqErr = QueryDef(
    "q_ann_pq_err",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val spaced = Similarity.pqCodebookSpaced(e, "vec_id", "embedding",
        dim = 64, corpusN = Tables.rowCount(s, dir, "embeddings"))
      val trained = trainedPqCodebook(s, dir)
      // r15: BOTH MSE passes assign the identical (vid, s, xs) subvector
      // table — slice the corpus once (guide §5; values bit-identical,
      // the codebook is the only thing that differs between the arms)
      val sub = Similarity.pqSubvectors(e, "vec_id", "embedding", dim = 64)
      Similarity.pqMse(e, "vec_id", "embedding", spaced, dim = 64,
          prebuiltSub = sub)
        .select(lit("spaced").as("codebook"), $"mse")
        .unionByName(
          Similarity.pqMse(e, "vec_id", "embedding", trained, dim = 64,
              prebuiltSub = sub)
            .select(lit("trained").as("codebook"), $"mse"))
        .orderBy($"codebook")
    },
    Some {
      s"""WITH ${pqKmeansCtes(2)},
         |sasg AS (${pqAssignSql("pc0")}),
         |tasg AS (${pqAssignSql("pc2")}),
         |smse AS (SELECT round(CAST(SUM(CAST(d2 AS DECIMAL(20,10))) AS DOUBLE)
         |                      / COUNT(*), 6) AS mse FROM sasg),
         |tmse AS (SELECT round(CAST(SUM(CAST(d2 AS DECIMAL(20,10))) AS DOUBLE)
         |                      / COUNT(*), 6) AS mse FROM tasg)
         |SELECT codebook, mse FROM (
         |  SELECT 'spaced' AS codebook, mse FROM smse
         |  UNION ALL SELECT 'trained', mse FROM tmse)
         |ORDER BY codebook""".stripMargin
    })

  /** OPQ-style space re-layout before PQ (Ge et al. CVPR'13, the
    * parametric eigenvalue-allocation solution specialized to the
    * coordinate basis — [[graft.pipeline.Similarity.permuteBalanced]]):
    * dims ranked by exact-decimal per-dim variance and dealt snake-wise
    * into the 8 subspaces, so a spectrum-ordered embedding's variance no
    * longer piles into the first subspaces. Publishes the falsifying
    * number directly: mean quantization error of the trained-PQ codebook
    * on the CONTIGUOUS layout (shared with q_ann_pq_err's trained arm —
    * one memoized training) vs the SAME trainer on the permuted layout.
    * The oracle replays variance ranking, the closed-form snake
    * allocation, the re-layout, and both Lloyd trainings as unrolled
    * CTEs. PipelineSpec asserts err(permuted) < err(contiguous). */
  val annOpq = QueryDef(
    "q_ann_opq",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val n = Tables.rowCount(s, dir, "embeddings")
      // r14-opt: the permuted re-layout feeds THREE consumers (the Lloyd
      // trainer's subvector table, its spaced seed codebook, and the
      // final MSE pass) — materialize it once instead of replaying the
      // variance ranking + snake allocation + re-layout per consumer
      val permuted = Similarity.permuteBalanced(e, "vec_id", "embedding",
        dim = 64, m = 8).localCheckpoint()
      // r15 (verdict item 3): the Lloyd trainer and the permuted-side MSE
      // pass slice the SAME checkpointed permuted corpus into the SAME
      // (vid, s, xs) subvector table — build it once and hand it to both
      // (one explode+slice pass instead of two; values bit-identical)
      val permSub = Similarity.pqSubvectors(permuted, "vec_id", "embedding",
        dim = 64, m = 8)
      val permCb = Similarity.pqCodebookTrained(permuted, "vec_id",
        "embedding", dim = 64, m = 8, iters = 2, corpusN = n,
        prebuiltSub = permSub)
      Similarity.pqMse(e, "vec_id", "embedding",
          trainedPqCodebook(s, dir), dim = 64)
        .select(lit("contiguous").as("codebook"), $"mse")
        .unionByName(
          Similarity.pqMse(permuted, "vec_id", "embedding", permCb, dim = 64,
              prebuiltSub = permSub)
            .select(lit("permuted").as("codebook"), $"mse"))
        .orderBy($"codebook")
    },
    Some {
      s"""WITH ${pqKmeansCtes(2)},
         |ovar AS (SELECT CAST(u.j AS INT) AS i,
         |                CAST(SUM(CAST(v[u.j+1] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS m1,
         |                CAST(SUM(CAST(${prSql("v[u.j+1] * v[u.j+1]", 8)} AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS m2
         |         FROM pe, unnest(range(64)) AS u(j) GROUP BY 1),
         |ornk AS (SELECT i, ${prSql("m2 - m1 * m1", 6)} AS vr FROM ovar),
         |orr AS (SELECT i, CAST(ROW_NUMBER() OVER (ORDER BY vr DESC, i) AS INT) - 1 AS r FROM ornk),
         |oal AS (SELECT i, r,
         |               CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS sub
         |        FROM orr),
         |opl AS (SELECT i, sub,
         |               CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY i) AS INT) - 1 AS k
         |        FROM oal),
         |oprm AS (SELECT list(i ORDER BY sub * 8 + k) AS parr FROM opl),
         |opemb AS (SELECT vid AS vec_id, list_transform(parr, oi -> v[oi + 1]) AS embedding
         |          FROM pe, oprm),
         |${pqKmeansCtes(2, "o", "opemb")},
         |casg AS (${pqAssignSql("pc2")}),
         |oasg AS (${pqAssignSql("oc2", "osub")}),
         |cmse AS (SELECT round(CAST(SUM(CAST(d2 AS DECIMAL(20,10))) AS DOUBLE)
         |                      / COUNT(*), 6) AS mse FROM casg),
         |omse AS (SELECT round(CAST(SUM(CAST(d2 AS DECIMAL(20,10))) AS DOUBLE)
         |                      / COUNT(*), 6) AS mse FROM oasg)
         |SELECT codebook, mse FROM (
         |  SELECT 'contiguous' AS codebook, mse FROM cmse
         |  UNION ALL SELECT 'permuted', mse FROM omse)
         |ORDER BY codebook""".stripMargin
    })

  /** Cluster-stratified representative selection: per TRAINED k-means
    * cell, the `perCell` members nearest their centroid — the
    * coverage-preserving subset selection (coreset/diversity sampling)
    * curation pipelines use where uniform sampling over-draws dense
    * regions. Reuses kmeansCentroids verbatim; selection is one broadcast
    * assignment + one cid-partitioned window (scale shape identical to the
    * IVF build). Oracle replays training via the shared unrolled CTEs. */
  val vecDiverse = QueryDef(
    "q_vec_diverse",
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cent = trainedCentroids(s, dir)
      Similarity.cellRepresentatives(e, "vec_id", "embedding", cent, perCell = 2)
    },
    Some(s"""WITH ${kmeansCtes(2)},
             |af AS (${kmAssignSql("c2")})
             |SELECT cid, vid AS vec_id, ccos, CAST(rn AS INT) AS rn FROM (
             |  SELECT cid, vid, ccos,
             |         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ccos DESC, vid) AS rn
             |  FROM af) WHERE rn <= 2
             |ORDER BY cid, rn""".stripMargin))

  /** Per-label embedding centroids in exploded (label, idx, c) form —
    * class prototypes for clustering/classifier init. Element-wise means
    * go through DECIMAL(20,10) partial sums (order-independent; no float
    * sits exactly on a 10dp half-boundary, so the decimal conversion is
    * engine-identical), divided as doubles. */
  val vecCentroids = QueryDef(
    "q_vec_centroids",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      TextOps.spread(Tables(s, dir, "embeddings"))
        .select($"label", posexplode($"embedding".cast("array<double>")))
        .groupBy($"label", $"pos".as("idx"))
        .agg(count(lit(1)).as("n"),
          round(sum($"col".cast(DecimalType(20, 10))).cast("double") / count(lit(1)), 6)
            .as("c"))
        .orderBy($"label", $"idx")
    },
    Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            x AS (SELECT label, CAST(u.j AS INT) AS idx, v[u.j + 1] AS x
                  FROM e, unnest(range(len(v))) AS u(j))
            SELECT label, idx, CAST(COUNT(*) AS BIGINT) AS n,
                   round(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6) AS c
            FROM x GROUP BY label, idx ORDER BY label, idx"""))

  /** Corpus-trained bigram-LM perplexity scoring — the classic
    * model-based quality filter (docs the corpus LM finds surprising are
    * outliers). Train = two count aggregations (unigrams, bigrams) over
    * the corpus; score = per-doc mean negative log add-one-smoothed
    * bigram probability. Float discipline: each log is rounded to 8dp,
    * summed through DECIMAL(20,12) (order-independent), mean rounded to
    * 6dp. At scale both count tables partition by their leading token —
    * a broadcast join against the doc bigrams. */
  val textPerplexity = QueryDef(
    "q_text_perplexity",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val docs = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
      val bg = docs
        .select($"doc_id", $"toks",
          posexplode(slice($"toks", lit(1), greatest(size($"toks") - 1, lit(0)))))
        .select($"doc_id", $"col".as("w1"), element_at($"toks", $"pos" + 2).as("w2"))
      val uni = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val pair = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val v = docs.select(explode($"toks").as("w")).agg(countDistinct($"w").as("v"))
      bg.join(broadcast(pair), Seq("w1", "w2"))
        .join(broadcast(uni), Seq("w1"))
        .crossJoin(broadcast(v))
        .withColumn("nlp", round(-log(($"c12" + 1.0) / ($"c1" + $"v")), 8)
          .cast(DecimalType(20, 12)))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          // cast the exact decimal sum to double BEFORE dividing — decimal
          // division scale rules would otherwise diverge from the oracle's
          // double arithmetic in the last ulp
          round(sum($"nlp").cast("double") / count(lit(1)), 6).as("avg_nll"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
             |bg AS (SELECT doc_id, toks[j+1] AS w1, toks[j+2] AS w2
             |       FROM t, unnest(range(greatest(len(toks) - 1, 0))) AS u(j)),
             |uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
             |pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
             |v AS (SELECT COUNT(DISTINCT w) AS v FROM
             |        (SELECT unnest(toks) AS w FROM t)),
             |sc AS (SELECT bg.doc_id,
             |              CAST(round(-ln((pair.c12 + 1.0) / (uni.c1 + v.v)), 8) AS DECIMAL(20,12)) AS nlp
             |       FROM bg JOIN pair USING (w1, w2) JOIN uni USING (w1), v)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |       round(CAST(SUM(nlp) AS DOUBLE) / COUNT(*), 6) AS avg_nll
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** In-engine trained quality classifier (Classifier.trainLogReg —
    * deterministic full-batch logistic GD, 3 iterations, lr 2.0): planted
    * junk-suffixed copies form the positive class (the degenerate-doc
    * shape a production filter removes), surface statistics are the
    * features. The oracle replays the planting, feature construction, and
    * EVERY gradient step as unrolled CTEs — the trained model is
    * hash-reproducible, like the k-means codebooks and BPE merges.
    * PipelineSpec asserts the trained weights actually separate (accuracy
    * ≥ 0.95 on the planted classes). */
  val textClassifier = QueryDef(
    "q_text_classifier",
    (s, dir) => Classifier.trainLogReg(
      qualFeat(s, dir),
      names = Seq("bias", "stop_cov", "tok_len", "nonalpha"),
      iters = 5, lr = 2.0, trained = Some(logRegWeights(s, dir))),
    Some {
      s"""WITH ${logRegCtes(5)},
         |acc AS (SELECT round(AVG(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 6) AS train_acc
         |        FROM (SELECT y, round(1.0/(1.0 + exp(-$logRegZ)), 8) AS p FROM f, w5_))
         |SELECT feature, weight, train_acc FROM (
         |  SELECT 'bias' AS feature, w0 AS weight FROM w5_
         |  UNION ALL SELECT 'stop_cov', w1 FROM w5_
         |  UNION ALL SELECT 'tok_len', w2 FROM w5_
         |  UNION ALL SELECT 'nonalpha', w3 FROM w5_), acc
         |ORDER BY feature""".stripMargin
    })

  /** Operating curve + rank AUC of the trained quality filter
    * (Classifier.evalSweep): 9 thresholds' confusion counts / P / R / F1
    * plus the tie-aware Mann-Whitney AUC — the table a production
    * threshold is actually picked from, computed in-engine off ONE corpus
    * pass into a per-distinct-score count table (everything downstream is
    * small). AUC keeps exact BIGINT numerators until one final division,
    * so the oracle (training replayed via the shared unrolled-CTE steps,
    * then the same count algebra) hash-matches at any parallelism. */
  val textClassifierEval = QueryDef(
    "q_text_classifier_eval",
    (s, dir) => Classifier.evalSweep(
      qualFeat(s, dir),
      iters = 5, lr = 2.0, trained = Some(logRegWeights(s, dir))),
    Some {
      s"""WITH ${logRegCtes(5)},
         |sc AS (SELECT y, round(1.0/(1.0 + exp(-$logRegZ)), 8) AS s FROM f, w5_),
         |g AS (SELECT s, SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np,
         |             SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nn
         |      FROM sc GROUP BY s),
         |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS npos,
         |               CAST(SUM(nn) AS BIGINT) AS nneg FROM g),
         |cum AS (SELECT s, np, nn,
         |               COALESCE(SUM(nn) OVER (ORDER BY s
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
         |        FROM g),
         |auc AS (SELECT round(CAST(c2 AS DOUBLE) / (2.0 * npos * nneg), 6) AS auc
         |        FROM (SELECT SUM(np * (2 * cumneg + nn)) AS c2 FROM cum), tot),
         |thr AS (SELECT u.k / 10.0 AS thr FROM unnest(range(1, 10)) AS u(k)),
         |sw AS (SELECT thr,
         |              CAST(COALESCE(SUM(CASE WHEN s >= thr THEN np END), 0) AS BIGINT) AS tp,
         |              CAST(COALESCE(SUM(CASE WHEN s >= thr THEN nn END), 0) AS BIGINT) AS fp
         |       FROM thr, g GROUP BY thr)
         |SELECT thr, tp, fp, npos - tp AS fn, nneg - fp AS tn,
         |       round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
         |       round(CAST(tp AS DOUBLE) / npos, 6) AS recall,
         |       round(2.0 * round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6)
         |               * round(CAST(tp AS DOUBLE) / npos, 6) /
         |             nullif(round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6)
         |               + round(CAST(tp AS DOUBLE) / npos, 6), 0.0), 6) AS f1,
         |       auc
         |FROM sw, tot, auc ORDER BY thr""".stripMargin
    })

  /** Reliability diagram + expected calibration error of the trained
    * quality filter ([[graft.pipeline.Classifier.calibration]]): per
    * probability-decile bin, empirical positive rate vs mean predicted
    * probability, plus the Σ(n_b/N)·|acc−conf| summary — the audit that
    * licenses using the classifier's SCORES as selection weights
    * (q_text_classifier_eval validates only the ranking). The oracle
    * replays training via the shared unrolled GD CTEs, then the same
    * bin algebra: exact counts, exact DECIMAL(18,8) score sums,
    * floor-idiom gaps scaled by DECIMAL(12,0) bin counts (invariant 12),
    * one final division. ≤ 10 bins at any corpus scale. */
  val textClassifierEce = QueryDef(
    "q_text_classifier_ece",
    (s, dir) => Classifier.calibration(
      qualFeat(s, dir),
      iters = 5, lr = 2.0, trained = Some(logRegWeights(s, dir))),
    Some {
      s"""WITH ${logRegCtes(5)},
         |sc AS (SELECT y, round(1.0/(1.0 + exp(-$logRegZ)), 8) AS s FROM f, w5_),
         |b AS (SELECT CAST(LEAST(CAST(floor(s * 10) AS BIGINT), 9) AS INT) AS bin,
         |             s, y
         |      FROM sc),
         |agg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |               CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
         |               SUM(CAST(s AS DECIMAL(18,8))) AS ssum
         |        FROM b GROUP BY bin),
         |ece AS (SELECT floor((CAST(SUM(t) AS DOUBLE) / SUM(n)) * 1e6 + 0.5) / 1e6 AS ece
         |        FROM (SELECT n,
         |                     CAST(floor(abs(CAST(npos AS DOUBLE) / n -
         |                                    CAST(ssum AS DOUBLE) / n) * 1e8 + 0.5) / 1e8
         |                          AS DECIMAL(18,8)) * CAST(n AS DECIMAL(12,0)) AS t
         |              FROM agg))
         |SELECT bin, n, npos,
         |       floor((CAST(npos AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS acc,
         |       floor((CAST(ssum AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS conf,
         |       ece
         |FROM agg, ece ORDER BY bin""".stripMargin
    })

  /** Quality-threshold yield curve ([[graft.pipeline.Classifier
    * .yieldCurve]]): for each of 9 fixed cut points, keep documents whose
    * trained junk score is BELOW the cut and publish kept-doc count,
    * kept-token count, kept-token share, and the planted-bad leak rate —
    * the kept-volume-vs-contamination trade-off a production filtering
    * run reports before committing a threshold (q_text_classifier_eval
    * scores the CLASSIFIER; this scores the CORPUS outcome, token-
    * weighted, which is what a token-budgeted pretraining mix needs).
    * Rides the shared feature/weights memos; corpus cost is one scan into
    * the bounded distinct-score group table. Yield is monotone
    * nondecreasing in the threshold (PipelineSpec pins it). Oracle
    * replays training via the shared unrolled GD CTEs, then the same
    * exact-BIGINT sweep algebra with two single-division round-6 ratios. */
  val qualityYield = QueryDef(
    "q_quality_yield",
    (s, dir) => Classifier.yieldCurve(
      qualFeat(s, dir),
      iters = 5, lr = 2.0, trained = Some(logRegWeights(s, dir))),
    Some {
      s"""WITH ${logRegCtes(5)},
         |sc AS (SELECT y, ntoks, round(1.0/(1.0 + exp(-$logRegZ)), 8) AS s FROM f, w5_),
         |g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
         |             CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS nbad,
         |             CAST(SUM(ntoks) AS BIGINT) AS tok
         |      FROM sc GROUP BY s),
         |tot AS (SELECT CAST(SUM(nbad) AS BIGINT) AS npos,
         |               CAST(SUM(tok) AS BIGINT) AS toktot FROM g),
         |thr AS (SELECT u.k / 10.0 AS thr FROM unnest(range(1, 10)) AS u(k)),
         |sw AS (SELECT thr,
         |              CAST(COALESCE(SUM(CASE WHEN s < thr THEN n END), 0) AS BIGINT) AS kept_docs,
         |              CAST(COALESCE(SUM(CASE WHEN s < thr THEN tok END), 0) AS BIGINT) AS kept_tokens,
         |              CAST(COALESCE(SUM(CASE WHEN s < thr THEN nbad END), 0) AS BIGINT) AS bad_kept
         |       FROM thr, g GROUP BY thr)
         |SELECT thr, kept_docs, kept_tokens,
         |       round(CAST(kept_tokens AS DOUBLE) / toktot, 6) AS kept_token_share,
         |       round(CAST(bad_kept AS DOUBLE) / npos, 6) AS bad_leak_rate
         |FROM sw, tot ORDER BY thr""".stripMargin
    })

  /** Pointwise mutual information over adjacent token pairs — collocation
    * mining, the standard phrase-detection pass (word2vec-style phrase
    * merging, stopword-collocation auditing) a corpus pipeline runs before
    * tokenizer training. PMI(x,y) = ln(p(xy)/(p(x)p(y))) computed from
    * exact integer counts as ONE double ratio (identical multiply order on
    * both sides — no log-sum reassociation), rounded to 6dp before the
    * ranking. Scale shape: two explode+groupBy count tables (map-side
    * partial aggs), the pair table joins the unigram table twice on the
    * token key (shuffle equi-joins, AQE-broadcastable), scalar totals
    * broadcast. Rare pairs (c12 < 3) are dropped BEFORE the joins — at
    * corpus scale the pair table's long tail is the volume, and PMI on
    * singletons is noise anyway. */
  val textPmi = QueryDef(
    "q_text_pmi",
    (s, dir) => {
      import s.implicits._
      val docs = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
      val uni = docs.select(explode($"toks").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
      val n = uni.agg(sum($"c").as("n"))
      val bg = docs
        .select($"toks",
          posexplode(slice($"toks", lit(1), greatest(size($"toks") - 1, lit(0)))))
        .select($"col".as("w1"), element_at($"toks", $"pos" + 2).as("w2"))
      val pair = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val m = pair.agg(sum($"c12").as("m"))
      pair.filter($"c12" >= 3)
        .join(uni.select($"w".as("w1"), $"c".as("c1")), Seq("w1"))
        .join(uni.select($"w".as("w2"), $"c".as("c2")), Seq("w2"))
        .crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .select(concat($"w1", lit(" "), $"w2").as("bigram"), $"c12",
          round(log(($"c12".cast("double") * $"n" * $"n") /
            ($"m".cast("double") * $"c1" * $"c2")), 6).as("pmi"))
        .orderBy($"pmi".desc, $"bigram").limit(100)
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
             |uni AS (SELECT w, COUNT(*) AS c FROM
             |          (SELECT unnest(toks) AS w FROM t) GROUP BY w),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
             |bg AS (SELECT toks[j+1] AS w1, toks[j+2] AS w2
             |       FROM t, unnest(range(greatest(len(toks) - 1, 0))) AS u(j)),
             |pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
             |m AS (SELECT CAST(SUM(c12) AS BIGINT) AS m FROM pair)
             |SELECT pair.w1 || ' ' || pair.w2 AS bigram,
             |       CAST(pair.c12 AS BIGINT) AS c12,
             |       round(ln((CAST(pair.c12 AS DOUBLE) * n.n * n.n) /
             |                (CAST(m.m AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
             |FROM pair JOIN uni u1 ON u1.w = pair.w1
             |          JOIN uni u2 ON u2.w = pair.w2, n, m
             |WHERE pair.c12 >= 3
             |ORDER BY pmi DESC, bigram LIMIT 100""".stripMargin))

  // ----------------------------------------- multi-class domain classifier
  /** Class order (sorted) and feature layout shared by the softmax pair:
    * x_j = floor-round-6 of 10·|dtoks ∩ stopwords_lang_j| / |dtoks| for
    * j → (de, en, es, fr); zh has no marker list and is learned from the
    * all-low-coverage signature (bias vs the others). */
  private val domainClasses = Seq("de", "en", "es", "fr", "zh")
  private val domainFeatNames = Seq("bias", "cov_de", "cov_en", "cov_es", "cov_fr")
  private def prSql(x: String, k: Int) = s"floor(($x) * 1e$k + 0.5) / 1e$k"

  /** Planted domain corpus: each doc gets its own lang's 7 stopwords
    * appended once (the q_text_classifier planting discipline — fixture
    * lang labels are independent of the synthetic text, so the learnable
    * signal is planted deterministically). Feature frame (y, x1..x4). */
  private val domainFeat = Artifact("domain_features") { (s, dir) =>
    import s.implicits._
    val sw = TextAnalysis.stopwords
    val sfx = sw.tail.foldLeft(
      when($"lang" === sw.head._1, " " + sw.head._2.mkString(" "))) {
      case (acc, (l, ws)) => acc.when($"lang" === l, " " + ws.mkString(" "))
    }.otherwise(lit(""))
    val marked = TextOps.spread(Tables(s, dir, "documents"))
      .select($"lang".as("y"), concat($"text", sfx).as("text"))
      .select($"y", array_distinct(TextOps.tokens($"text")).as("dtoks"))
      .filter(size($"dtoks") > 0)
    val swMap = sw.toMap
    val feats = Seq("de", "en", "es", "fr").zipWithIndex.map { case (l, i) =>
      graft.graph.NodeEmbedding.pround(
        lit(10.0) * size(array_intersect($"dtoks", typedlit(swMap(l))))
          .cast("double") / size($"dtoks"), 6).as(s"x${i + 1}")
    }
    marked.select(($"y" +: feats): _*).localCheckpoint()
  }

  private[graft] val softmaxWeights = Artifact("softmax_weights") { (s, dir) =>
    Softmax.train(domainFeat(s, dir), domainClasses, d = 4,
      iters = 4, lr = 5.0)
  }

  /** Unrolled-CTE replay of [[graft.pipeline.Softmax]] domain training:
    * planting, coverage features, and every GD iteration's K·(d+1)
    * decimal gradient sums — plus `spp`/`predt` (final probabilities and
    * argmax predictions) for the callers' selects. Every rounding is the
    * floor idiom (invariant 12), spelled identically to the Column side. */
  private def softmaxCtes(iters: Int, lr: String = "5.0"): String = {
    val ks = domainClasses
    def zSql(k: String) = prSql(
      s"w_${k}_0 + w_${k}_1*x1 + w_${k}_2*x2 + w_${k}_3*x3 + w_${k}_4*x4", 8)
    val denom = ks.map(k => s"e_$k").mkString(" + ")
    def probsSelect(wTab: String) =
      s"""SELECT y, x1, x2, x3, x4,
         |       ${ks.map(k => s"${prSql(s"e_$k / ($denom)", 8)} AS p_$k").mkString(",\n       ")}
         |FROM (SELECT y, x1, x2, x3, x4,
         |             ${ks.map(k => s"${prSql(s"exp(${zSql(k)})", 8)} AS e_$k").mkString(",\n             ")}
         |      FROM sf_, $wTab)""".stripMargin
    val markCase = TextAnalysis.stopwords.map { case (l, ws) =>
      s"WHEN '$l' THEN ' ${ws.mkString(" ")}'"
    }.mkString(" ")
    val featSql = Seq("de", "en", "es", "fr").zipWithIndex.map { case (l, i) =>
      val lit = TextAnalysis.stopwords.toMap.apply(l)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"${prSql(s"10.0 * CAST(len(list_intersect(dtoks, $lit)) AS DOUBLE) / len(dtoks)", 6)} AS x${i + 1}"
    }.mkString(",\n       ")
    val steps = (1 to iters).map { t =>
      val sums = (for (k <- ks; j <- 0 to 4) yield {
        val xj = if (j == 0) "1.0" else s"x$j"
        s"SUM(CAST(${prSql(s"d_$k * $xj", 8)} AS DECIMAL(20,10))) AS s_${k}_$j"
      }).mkString(",\n              ")
      val dks = ks.map(k =>
        s"p_$k - (CASE WHEN y = '$k' THEN 1.0 ELSE 0.0 END) AS d_$k")
        .mkString(",\n                   ")
      val upds = (for (k <- ks; j <- 0 to 4) yield
        s"${prSql(s"w_${k}_$j - $lr * ${prSql(s"CAST(s_${k}_$j AS DOUBLE) / n", 8)}", 6)} AS w_${k}_$j")
        .mkString(",\n              ")
      s"""sp$t AS MATERIALIZED (${probsSelect(s"sw${t - 1}")}),
         |sg$t AS MATERIALIZED (SELECT $sums,
         |              COUNT(*) AS n
         |       FROM (SELECT x1, x2, x3, x4,
         |                   $dks
         |             FROM sp$t)),
         |sw$t AS MATERIALIZED (SELECT $upds
         |       FROM sw${t - 1}, sg$t)""".stripMargin
    }.mkString(",\n")
    val predCase = {
      def cond(k: String, rest: Seq[String]) =
        rest.map(r => s"p_$k >= p_$r").mkString(" AND ")
      s"""CASE WHEN ${cond("de", Seq("en", "es", "fr", "zh"))} THEN 'de'
         |     WHEN ${cond("en", Seq("es", "fr", "zh"))} THEN 'en'
         |     WHEN ${cond("es", Seq("fr", "zh"))} THEN 'es'
         |     WHEN ${cond("fr", Seq("zh"))} THEN 'fr'
         |     ELSE 'zh' END""".stripMargin
    }
    s"""sdoc AS (SELECT lang AS y,
       |           text || (CASE lang $markCase ELSE '' END) AS text
       |         FROM documents),
       |sbase AS (SELECT y, list_distinct($toksSql) AS dtoks FROM sdoc),
       |sf_ AS MATERIALIZED (SELECT y,
       |       $featSql
       |        FROM sbase WHERE len(dtoks) > 0),
       |sw0 AS (SELECT ${(for (k <- ks; j <- 0 to 4) yield s"0.0::DOUBLE AS w_${k}_$j").mkString(", ")}),
       |$steps,
       |spp AS MATERIALIZED (${probsSelect(s"sw$iters")}),
       |predt AS MATERIALIZED (SELECT y, ($predCase) AS pred FROM spp)""".stripMargin
  }

  /** In-engine trained multi-class domain classifier
    * ([[graft.pipeline.Softmax]] — deterministic full-batch softmax GD,
    * 4 iterations, lr 5.0) over the 5 lang domains: each doc's own
    * domain markers are planted (labels are independent of the synthetic
    * text), stopword-coverage fractions are the features, zh is the
    * no-marker class. The oracle replays planting, features, and EVERY
    * gradient step as unrolled CTEs — all 25 weights are
    * hash-reproducible, the k-means-codebook convention. This is the
    * LEARNED domain tagger feeding the mixture queries
    * (q_mix_temperature / q_mix_doremi train on GIVEN domains). */
  val textDomainClf = QueryDef(
    "q_text_domain_clf",
    (s, dir) => {
      import s.implicits._
      val w = softmaxWeights(s, dir)
      val scored = domainFeat(s, dir).crossJoin(broadcast(w))
        .select($"y", Softmax.predCol(domainClasses, 4).as("pred"))
      val acc = scored.agg(graft.graph.NodeEmbedding.pround(
        avg(when($"pred" === $"y", 1.0).otherwise(0.0)), 6).as("train_acc"))
      val entries = (for (k <- domainClasses; j <- 0 to 4) yield
        s"'$k', '${domainFeatNames(j)}', ${Softmax.wcol(k, j)}").mkString(", ")
      w.crossJoin(broadcast(acc))
        .select(expr(s"stack(25, $entries) AS (lang, feature, weight)"),
          $"train_acc")
        .orderBy($"lang", $"feature")
    },
    Some {
      val rows = (for (k <- domainClasses; j <- 0 to 4) yield
        if (k == "de" && j == 0)
          s"SELECT 'de' AS lang, 'bias' AS feature, w_de_0 AS weight FROM sw4"
        else
          s"SELECT '$k', '${domainFeatNames(j)}', w_${k}_$j FROM sw4")
        .mkString("\n         |  UNION ALL ")
      s"""WITH ${softmaxCtes(4)},
         |acc AS (SELECT ${prSql("AVG(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END)", 6)} AS train_acc
         |        FROM predt)
         |SELECT lang, feature, weight, train_acc FROM (
         |  $rows), acc
         |ORDER BY lang, feature""".stripMargin
    })

  /** Per-class operating report of the trained domain classifier:
    * support / predicted-count / true positives, floor-round-6 precision,
    * recall, F1 (0-pinned when undefined on BOTH engines), and the
    * macro-F1 summary — per-class F1s sum through exact DECIMAL(18,6)
    * before the one mean division, so the 5-way average is
    * order-independent. Confusion counts are exact BIGINTs off one
    * corpus pass; everything downstream runs on the 5-row class table. */
  val textDomainEval = QueryDef(
    "q_text_domain_eval",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val pr6 = graft.graph.NodeEmbedding.pround(_: Column, 6)
      val w = softmaxWeights(s, dir)
      val conf = domainFeat(s, dir).crossJoin(broadcast(w))
        .select($"y", Softmax.predCol(domainClasses, 4).as("pred"))
        .groupBy($"y", $"pred").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val cls = domainClasses.toDF("lang")
      val tr = conf.groupBy($"y".as("lang")).agg(sum($"c").as("n_true"))
      val pd = conf.groupBy($"pred".as("lang")).agg(sum($"c").as("n_pred"))
      val tp = conf.filter($"y" === $"pred")
        .select($"y".as("lang"), $"c".as("tp"))
      val m = cls
        .join(broadcast(tr), Seq("lang"), "left")
        .join(broadcast(pd), Seq("lang"), "left")
        .join(broadcast(tp), Seq("lang"), "left")
        .select($"lang", coalesce($"n_true", lit(0L)).as("n_true"),
          coalesce($"n_pred", lit(0L)).as("n_pred"),
          coalesce($"tp", lit(0L)).as("tp"))
        .withColumn("precision", when($"n_pred" === 0, 0.0)
          .otherwise(pr6($"tp".cast("double") / $"n_pred")))
        .withColumn("recall", when($"n_true" === 0, 0.0)
          .otherwise(pr6($"tp".cast("double") / $"n_true")))
        .withColumn("f1", when($"precision" + $"recall" === 0.0, 0.0)
          .otherwise(pr6(lit(2.0) * $"precision" * $"recall" /
            ($"precision" + $"recall"))))
      val macroF1 = m.agg(pr6(
        sum($"f1".cast(DecimalType(18, 6))).cast("double") / count(lit(1)))
        .as("macro_f1"))
      m.crossJoin(broadcast(macroF1)).orderBy($"lang")
    },
    Some {
      s"""WITH ${softmaxCtes(4)},
         |conf AS (SELECT y, pred, COUNT(*) AS c FROM predt GROUP BY 1, 2),
         |cls AS (SELECT unnest(['de', 'en', 'es', 'fr', 'zh']) AS lang),
         |tr AS (SELECT y AS lang, SUM(c) AS n_true FROM conf GROUP BY 1),
         |pd AS (SELECT pred AS lang, SUM(c) AS n_pred FROM conf GROUP BY 1),
         |tp AS (SELECT y AS lang, c AS tp FROM conf WHERE y = pred),
         |m AS (SELECT cls.lang,
         |             CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
         |             CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
         |             CAST(COALESCE(tp, 0) AS BIGINT) AS tp
         |      FROM cls LEFT JOIN tr USING (lang)
         |               LEFT JOIN pd USING (lang)
         |               LEFT JOIN tp USING (lang)),
         |mm AS (SELECT lang, n_true, n_pred, tp,
         |              CASE WHEN n_pred = 0 THEN 0.0
         |                   ELSE ${prSql("CAST(tp AS DOUBLE) / n_pred", 6)} END AS precision,
         |              CASE WHEN n_true = 0 THEN 0.0
         |                   ELSE ${prSql("CAST(tp AS DOUBLE) / n_true", 6)} END AS recall
         |       FROM m),
         |mf AS (SELECT lang, n_true, n_pred, tp, precision, recall,
         |              CASE WHEN precision + recall = 0.0 THEN 0.0
         |                   ELSE ${prSql("2.0 * precision * recall / (precision + recall)", 6)} END AS f1
         |       FROM mm),
         |mac AS (SELECT ${prSql("CAST(SUM(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6)} AS macro_f1
         |        FROM mf)
         |SELECT lang, n_true, n_pred, tp, precision, recall, f1, macro_f1
         |FROM mf, mac ORDER BY lang""".stripMargin
    })

  /** The END-TO-END training-data pipeline as ONE composed plan: plant
    * duplicates + PII → scrub → language-ID → quality filter → exact
    * dedup (min-id keeper on the CLEANED text) → token-budget sequence
    * packing → per-(source, bin) shard stats. Every stage is an operator
    * verified standalone elsewhere; this query proves they compose into
    * the real pipeline DAG — all map-side or key-shuffled, no stage
    * collects, so the same plan runs at any scale. (The PII suffix keys on
    * doc_id % 100000 so planted copies stay byte-identical to their
    * originals and the dedup stage visibly removes them.) */
  val pipelineE2e = QueryDef(
    "q_pipeline_e2e",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val base = Tables(s, dir, "documents").select($"doc_id", $"source", $"text")
      val withDups = base.unionByName(
        base.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"), $"source", $"text"))
      val clean = withDups
        .withColumn("text", concat($"text", lit(" contact user"),
          ($"doc_id" % 100000).cast("string"), lit("@example.com")))
        .withColumn("text", regexp_replace($"text", emailRe, "<EMAIL>"))
      // language + quality are COLUMN kernels — fused into one projection
      // (self-joining per-row derivations would add two full-corpus
      // shuffles for nothing); the only wide ops are the dedup groupBy,
      // its keeper join, and the per-source packing window
      val scored = clean
        .withColumn("pred_lang", TextAnalysis.predLangCol($"text"))
        .withColumn("quality", TextAnalysis.qualityCol($"text"))
        .withColumn("nt", size(TextOps.tokens($"text")).cast("long"))
      val keepers = clean.groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val surviving = scored.join(keepers, "doc_id")
        .filter($"pred_lang" === "en" && $"quality" >= 0.5)
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      surviving
        .withColumn("cum", sum($"nt").over(w))
        .withColumn("bin", (($"cum" - $"nt") / 2048).cast("long"))
        .groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("sum_tokens"))
        .orderBy($"source", $"bin")
    },
    Some {
      val hits = TextAnalysis.stopwords.map { case (lang, words) =>
        val litList = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(list_distinct($toksSql), $litList)) AS INT) AS hits_$lang"
      }.mkString(",\n                ")
      val allStop = TextAnalysis.stopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (SELECT doc_id, source, text FROM documents),
         |wd AS (SELECT doc_id, source, text FROM base
         |       UNION ALL SELECT doc_id + 100000, source, text FROM base WHERE doc_id < 20),
         |corpus AS (SELECT doc_id, source,
         |                  regexp_replace(
         |                    text || ' contact user' || CAST(doc_id % 100000 AS VARCHAR) || '@example.com',
         |                    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g') AS text
         |           FROM wd),
         |h AS (SELECT doc_id, $hits FROM corpus),
         |lang AS (SELECT doc_id,
         |                CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
         |                     WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
         |                     WHEN hits_es >= hits_fr THEN 'es'
         |                     ELSE 'fr' END AS pred_lang
         |         FROM h),
         |qb AS (SELECT doc_id,
         |              CAST(len($toksSql) AS INT) AS n_tokens,
         |              CAST(length(text) AS INT) AS n_chars,
         |              CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
         |              CAST(len(list_intersect(list_distinct($toksSql), $allStop)) AS INT) AS n_stop
         |       FROM corpus),
         |qual AS (SELECT doc_id, n_tokens,
         |                round(0.4 * (n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE)) +
         |                      0.3 * least(n_tokens / 100.0, 1.0) +
         |                      0.3 * (1.0 - n_punct / CAST(greatest(n_chars, 1) AS DOUBLE)), 6) AS quality
         |         FROM qb),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
         |surv AS (SELECT c.doc_id, c.source, CAST(q.n_tokens AS BIGINT) AS nt
         |         FROM corpus c
         |         JOIN keep USING (doc_id)
         |         JOIN lang USING (doc_id)
         |         JOIN qual q USING (doc_id)
         |         WHERE lang.pred_lang = 'en' AND q.quality >= 0.5),
         |p AS (SELECT doc_id, source, nt,
         |             SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM surv)
         |SELECT source, CAST((cum - nt) // 2048 AS BIGINT) AS bin,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(nt) AS BIGINT) AS sum_tokens
         |FROM p GROUP BY source, bin ORDER BY source, bin""".stripMargin
    })

  /** Pipeline survival funnel — the observability counterpart of
    * q_pipeline_e2e: how many docs survive each curation stage (raw →
    * dedup-keeper → language → quality), computed as conditional sums in
    * ONE corpus pass + the keeper join. The audit row every production
    * pipeline logs per run. */
  val pipelineFunnel = QueryDef(
    "q_pipeline_funnel",
    (s, dir) => {
      import s.implicits._
      val base = Tables(s, dir, "documents").select($"doc_id", $"source", $"text")
      val corpus = base.unionByName(
        base.filter($"doc_id" < 20)
          .select(($"doc_id" + 100000).as("doc_id"), $"source", $"text"))
      val scored = corpus
        .withColumn("pred_lang", TextAnalysis.predLangCol($"text"))
        .withColumn("quality", TextAnalysis.qualityCol($"text"))
      val keepers = corpus.groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id", lit(1).as("k"))
      scored.join(keepers, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_raw"),
          coalesce(sum($"k"), lit(0)).cast("bigint").as("n_dedup"),
          coalesce(sum(when($"pred_lang" === "en", $"k")), lit(0))
            .cast("bigint").as("n_lang"),
          coalesce(sum(when($"pred_lang" === "en" && $"quality" >= 0.5, $"k")), lit(0))
            .cast("bigint").as("n_quality"))
    },
    Some {
      val hits = TextAnalysis.stopwords.map { case (lang, words) =>
        val litList = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_intersect(list_distinct($toksSql), $litList)) AS INT) AS hits_$lang"
      }.mkString(",\n                ")
      val allStop = TextAnalysis.stopwords.flatMap(_._2)
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (SELECT doc_id, source, text FROM documents),
         |corpus AS (SELECT doc_id, source, text FROM base
         |           UNION ALL SELECT doc_id + 100000, source, text FROM base WHERE doc_id < 20),
         |h AS (SELECT doc_id, text, $hits FROM corpus),
         |scored AS (SELECT doc_id, text,
         |                  CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
         |                       WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
         |                       WHEN hits_es >= hits_fr THEN 'es'
         |                       ELSE 'fr' END AS pred_lang,
         |                  round(0.4 * (CAST(len(list_intersect(list_distinct($toksSql), $allStop)) AS INT)
         |                               / CAST(greatest(CAST(len($toksSql) AS INT), 1) AS DOUBLE)) +
         |                        0.3 * least(CAST(len($toksSql) AS INT) / 100.0, 1.0) +
         |                        0.3 * (1.0 - (CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS INT)
         |                                      / CAST(greatest(CAST(length(text) AS INT), 1) AS DOUBLE))), 6) AS quality
         |           FROM h),
         |keep AS (SELECT MIN(doc_id) AS doc_id, 1 AS k FROM corpus GROUP BY md5(text))
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
         |       CAST(COALESCE(SUM(k), 0) AS BIGINT) AS n_dedup,
         |       CAST(COALESCE(SUM(CASE WHEN pred_lang = 'en' THEN k END), 0) AS BIGINT) AS n_lang,
         |       CAST(COALESCE(SUM(CASE WHEN pred_lang = 'en' AND quality >= 0.5 THEN k END), 0) AS BIGINT) AS n_quality
         |FROM scored LEFT JOIN keep USING (doc_id)""".stripMargin
    })

  /** Corpus drift monitoring: Jensen-Shannon divergence between the token
    * distributions of two corpus slices (lang = en vs de here; in
    * production, yesterday's crawl vs today's) — the number a mixture /
    * contamination monitor alerts on. Exact integer counts feed one
    * double ratio per token; each KL term is rounded to 8 then summed in
    * DECIMAL(20,12), so the divergence is bit-identical at any
    * parallelism (the q_text_perplexity log discipline). Scale shape: two
    * token-keyed counts + one full-outer join on token + one global
    * aggregate — linear in corpus tokens, vocabulary-bounded join keys,
    * no pairwise anything. */
  val textDrift = QueryDef(
    "q_text_drift",
    (s, dir) => {
      import s.implicits._
      val d = TextOps.spread(Tables(s, dir, "documents"))
      TextAnalysis.jsDivergence(
          d.filter($"lang" === "en"), d.filter($"lang" === "de"), "text")
        .select($"kl_a".as("kl_en"), $"kl_b".as("kl_de"),
          $"js_div", $"shared_vocab")
    },
    Some(s"""WITH da AS (SELECT unnest($toksSql) AS tok FROM documents WHERE lang = 'en'),
            |ca AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ca FROM da GROUP BY tok),
            |db AS (SELECT unnest($toksSql) AS tok FROM documents WHERE lang = 'de'),
            |cb AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cb FROM db GROUP BY tok),
            |na AS (SELECT CAST(SUM(ca) AS BIGINT) AS na FROM ca),
            |nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS nb FROM cb),
            |j AS (SELECT COALESCE(a.tok, b.tok) AS tok,
            |             COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
            |      FROM ca a FULL JOIN cb b ON a.tok = b.tok),
            |pr AS (SELECT tok, ca, cb,
            |              CAST(ca AS DOUBLE) / na.na AS p,
            |              CAST(cb AS DOUBLE) / nb.nb AS q
            |       FROM j, na, nb),
            |terms AS (SELECT ca, cb,
            |                 CASE WHEN ca > 0 THEN round(p * ln(p / ((p + q) / 2)), 8)
            |                      ELSE 0.0 END AS ta,
            |                 CASE WHEN cb > 0 THEN round(q * ln(q / ((p + q) / 2)), 8)
            |                      ELSE 0.0 END AS tb
            |          FROM pr),
            |agg AS (SELECT round(CAST(SUM(CAST(ta AS DECIMAL(20,12))) AS DOUBLE), 6) AS kl_en,
            |               round(CAST(SUM(CAST(tb AS DECIMAL(20,12))) AS DOUBLE), 6) AS kl_de,
            |               CAST(COUNT(CASE WHEN ca > 0 AND cb > 0 THEN 1 END) AS BIGINT) AS shared_vocab
            |        FROM terms)
            |SELECT kl_en, kl_de, round((kl_en + kl_de) / 2, 6) AS js_div, shared_vocab
            |FROM agg""".stripMargin))

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick 5 results from the cosine top-25 maximizing
    * 0.7·relevance − 0.3·max-similarity-to-already-picked — the standard
    * diversification pass a retrieval pipeline runs AFTER ANN. The greedy
    * loop is inherently sequential but each step touches only the BOUNDED
    * candidate list (top-25 here; top-N always), so at 100 TB the corpus
    * scan is the ANN stage and MMR costs k·N tiny comparisons — the
    * per-step argmax is a limit(1) over ≤N rows, never a corpus pass.
    * Scores round-6 with id tie-breaks; the oracle replays all 4 greedy
    * steps as unrolled CTEs. */
  val vecMmr = QueryDef(
    "q_vec_mmr",
    (s, dir) => {
      import s.implicits._
      val qv = array(VectorQueries.queryVec.map(lit): _*)
      val cand = Tables(s, dir, "embeddings")
        .filter(size($"embedding") === 64)
        .select($"vec_id".as("vid"),
          $"embedding".cast("array<double>").as("v"),
          round(graft.functions.vec.cosine($"embedding", qv), 6).as("rel"))
        .orderBy($"rel".desc, $"vid").limit(25)
        .localCheckpoint()
      var sel = cand.orderBy($"rel".desc, $"vid").limit(1)
        .select($"vid", $"v", $"rel".as("score"), lit(1).as("pick"))
        .localCheckpoint()
      for (t <- 2 to 5) {
        val selv = broadcast(sel.select($"vid".as("svid"), $"v".as("sv")))
        val msim = cand.join(sel.select($"vid"), Seq("vid"), "left_anti")
          .crossJoin(selv)
          .withColumn("sim", round(graft.functions.vec.cosine($"v", $"sv"), 6))
          .groupBy($"vid").agg(max($"sim").as("msim"))
        val pick = cand.join(msim, "vid")
          .withColumn("score", round(lit(0.7) * $"rel" - lit(0.3) * $"msim", 6))
          .orderBy($"score".desc, $"vid").limit(1)
          .select($"vid", $"v", $"score", lit(t).as("pick"))
        sel = sel.unionByName(pick).localCheckpoint()
      }
      sel.select($"pick", $"vid".as("vec_id"), $"score").orderBy($"pick")
    },
    Some {
      val qv = VectorQueries.queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      val steps = (2 to 5).map { t =>
        s"""m$t AS (SELECT c.vid, MAX(round(${cosSql("c.v", "s.v")}, 6)) AS msim
           |        FROM cand c, sel${t - 1} s
           |        WHERE c.vid NOT IN (SELECT vid FROM sel${t - 1})
           |        GROUP BY c.vid),
           |s$t AS (SELECT c.vid, c.v, round(0.7 * c.rel - 0.3 * m.msim, 6) AS score, $t AS pick
           |        FROM cand c JOIN m$t m ON m.vid = c.vid
           |        ORDER BY score DESC, c.vid LIMIT 1),
           |sel$t AS (SELECT vid, v FROM sel${t - 1} UNION ALL SELECT vid, v FROM s$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH cand AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v,
         |                     round(${cosSql("CAST(embedding AS DOUBLE[])", qv)}, 6) AS rel
         |              FROM embeddings WHERE len(embedding) = 64
         |              ORDER BY rel DESC, vid LIMIT 25),
         |s1 AS (SELECT vid, v, rel AS score, 1 AS pick FROM cand
         |       ORDER BY rel DESC, vid LIMIT 1),
         |sel1 AS (SELECT vid, v FROM s1),
         |$steps
         |SELECT pick, vid AS vec_id, score FROM (
         |  SELECT pick, vid, score FROM s1
         |  UNION ALL SELECT pick, vid, score FROM s2
         |  UNION ALL SELECT pick, vid, score FROM s3
         |  UNION ALL SELECT pick, vid, score FROM s4
         |  UNION ALL SELECT pick, vid, score FROM s5)
         |ORDER BY pick""".stripMargin
    })

  /** Simplified silhouette of the TRAINED k-means partition (Rousseeuw
    * 1987, centroid variant on cosine distance): per vector, a = distance
    * to its own (nearest) centroid, b = distance to the best OTHER
    * centroid, s = (b−a)/max(a,b) = (cos1−cos2)/(1−cos2) since assignment
    * IS the cosine argmax — the cluster-quality number a curation
    * pipeline watches before trusting per-cluster sampling or SemDeDup
    * cells. One broadcast-centroid join + one vid window (top-2 centroids
    * per vector) + one cid aggregation — linear in corpus size, the exact
    * shape of the IVF assignment it evaluates. Per-vector s rounds to 8,
    * per-cell means sum in DECIMAL(20,12) — bit-identical at any
    * parallelism; the oracle replays training via the shared kmeansCtes. */
  val vecSilhouette = QueryDef(
    "q_vec_silhouette",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val e = TextOps.spread(Tables(s, dir, "embeddings"))
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("v"))
      val cent = trainedCentroids(s, dir)
      val top2 = Similarity.nearest(e, cent, "vid", "cid", "ccos",
          graft.functions.vec.cosine($"v", $"cv"), 2, 6)
        .groupBy($"vid")
        .agg(max(when($"rn" === 1, $"cid")).as("cid"),
          max(when($"rn" === 1, $"ccos")).as("cos1"),
          max(when($"rn" === 2, $"ccos")).as("cos2"))
      top2
        .withColumn("sil", when(lit(1.0) - $"cos2" === 0.0, lit(0.0))
          .otherwise(round(($"cos1" - $"cos2") / (lit(1.0) - $"cos2"), 8)))
        .groupBy($"cid")
        .agg(count(lit(1)).as("n"),
          round(sum($"sil".cast(DecimalType(20, 12))).cast("double") /
            count(lit(1)), 6).as("mean_sil"))
        .orderBy($"cid")
    },
    Some(s"""WITH ${kmeansCtes(2)},
         |rk AS (SELECT vid, cid, ccos, ROW_NUMBER() OVER (PARTITION BY vid
         |         ORDER BY ccos DESC, cid) AS rn
         |       FROM (SELECT e.vid, c.cid,
         |                    round(CASE WHEN e.nv * c.nc = 0 THEN 0.0
         |                               ELSE list_dot_product(e.v, c.cv) / (e.nv * c.nc)
         |                          END, 6) AS ccos
         |             FROM e CROSS JOIN c2 c)),
         |t2 AS (SELECT vid, MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
         |              MAX(CASE WHEN rn = 1 THEN ccos END) AS cos1,
         |              MAX(CASE WHEN rn = 2 THEN ccos END) AS cos2
         |       FROM rk WHERE rn <= 2 GROUP BY vid),
         |sl AS (SELECT cid, CASE WHEN 1.0 - cos2 = 0.0 THEN 0.0
         |                        ELSE round((cos1 - cos2) / (1.0 - cos2), 8) END AS sil
         |       FROM t2)
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |       round(CAST(SUM(CAST(sil AS DECIMAL(20,12))) AS DOUBLE)
         |             / COUNT(*), 6) AS mean_sil
         |FROM sl GROUP BY cid ORDER BY cid""".stripMargin))

  /** Embedding out-of-distribution scoring: ood = 1 − cosine to the
    * NEAREST trained centroid — the curation filter that flags vectors no
    * trained cell represents well (mojibake, empty-text embeddings,
    * modality mix-ups) before they poison training batches. Reuses the
    * session-trained codebook (one broadcast join + one vid window —
    * the IVF assignment pass itself); top-20 by score with id
    * tie-breaks. */
  val vecOod = QueryDef(
    "q_vec_ood",
    (s, dir) => {
      import s.implicits._
      val e = TextOps.spread(Tables(s, dir, "embeddings"))
        .select($"vec_id".as("vid"), $"embedding".cast("array<double>").as("v"))
      val cent = trainedCentroids(s, dir)
      Similarity.assignCells(e, cent, 6)
        .select($"vid".as("vec_id"), $"cid",
          round(lit(1.0) - $"ccos", 6).as("ood"))
        .orderBy($"ood".desc, $"vec_id").limit(20)
    },
    Some(s"""WITH ${kmeansCtes(2)},
         |rk AS (SELECT vid, cid, ccos, ROW_NUMBER() OVER (PARTITION BY vid
         |         ORDER BY ccos DESC, cid) AS rn
         |       FROM (SELECT e.vid, c.cid,
         |                    round(CASE WHEN e.nv * c.nc = 0 THEN 0.0
         |                               ELSE list_dot_product(e.v, c.cv) / (e.nv * c.nc)
         |                          END, 6) AS ccos
         |             FROM e CROSS JOIN c2 c))
         |SELECT vid AS vec_id, cid, round(1.0 - ccos, 6) AS ood
         |FROM rk WHERE rn = 1
         |ORDER BY ood DESC, vec_id LIMIT 20""".stripMargin))

  /** MRR@10 + MAP@10 of the multi-probe LSH ranking against the exact
    * top-10 relevant set (Similarity.rankEvalAt) — the two retrieval-eval
    * numbers beside q_rank_ndcg's graded gain: MRR scores how soon the
    * FIRST true neighbor appears, MAP the precision at every true-hit
    * position. Shares q_rank_ndcg's approx/exact derivations; all terms
    * are small rationals rounded before DECIMAL sums (b ≤ 10 ⇒ the
    * terminating expansions stop within 3 digits — no half-boundary). */
  val rankMrr = QueryDef(
    "q_rank_mrr",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val approx = Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id",
          "embedding", k = 10, probeRadius = 1)
        .select($"qid", $"cid", $"rn".as("pos"))
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val c = TextOps.spread(e).select($"vec_id".as("cid"), $"embedding".as("cv"))
      val relevant = Similarity.nearest(c, q, "qid", "cid", "cos",
          graft.functions.vec.cosine($"cv", $"qv"), 10, 6)
        .select($"qid", $"cid")
      Similarity.rankEvalAt(approx, relevant, k = 10)
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val pl = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $pl) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
         |qp AS (SELECT qid, qv,
         |              unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                      xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |       FROM q),
         |sa AS (SELECT qp.qid, c.vec_id AS cid, round(${cosSql("c.v", "qp.qv")}, 6) AS cos
         |       FROM b c JOIN qp ON c.bucket = qp.bucket),
         |approx AS (SELECT qid, cid, rn AS pos FROM (
         |             SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cos DESC, cid) AS rn FROM sa) WHERE rn <= 10),
         |se AS (SELECT q.qid, c.vec_id AS cid, round(${cosSql("c.v", "q.qv")}, 6) AS cos
         |       FROM e c CROSS JOIN q),
         |rel AS (SELECT qid, cid FROM (
         |          SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |            ORDER BY cos DESC, cid) AS rn FROM se) WHERE rn <= 10),
         |j AS (SELECT a.qid, a.pos,
         |             CASE WHEN r.cid IS NULL THEN 0 ELSE 1 END AS rel
         |      FROM approx a LEFT JOIN rel r ON r.qid = a.qid AND r.cid = a.cid),
         |c2 AS (SELECT qid, pos, rel,
         |              SUM(rel) OVER (PARTITION BY qid ORDER BY pos) AS cumrel
         |       FROM j),
         |n AS (SELECT qid, COUNT(*) AS nrel FROM rel GROUP BY qid),
         |g AS (SELECT qid,
         |             COALESCE(MAX(CASE WHEN rel = 1
         |                          THEN round(1.0 / pos, 6) END), 0.0) AS mrr,
         |             CAST(SUM(CAST(CASE WHEN rel = 1
         |                    THEN round(CAST(cumrel AS DOUBLE) / pos, 8)
         |                    ELSE 0.0 END AS DECIMAL(20,12))) AS DOUBLE) AS apn
         |      FROM c2 GROUP BY qid)
         |SELECT g.qid, g.mrr,
         |       round(g.apn / LEAST(n.nrel, 10), 6) AS ap
         |FROM g JOIN n USING (qid) ORDER BY qid""".stripMargin
    })

  /** nDCG@10 of the multi-probe LSH ranking against the exact cosine
    * ranking (Similarity.ndcgAt) — the graded ranking-quality eval that
    * complements q_ann_recall's set-overlap recall: recall@k treats all
    * top-k hits equally, nDCG also penalizes the index for ranking the
    * best neighbors low. Relevance = 11 − exact_rank inside the exact
    * top-10, 0 outside; discounts and the ideal-DCG normalizer are fixed
    * 8dp literals (no runtime log), terms round-8 into DECIMAL sums. The
    * eval itself costs k rows per query — the corpus pass is the ANN and
    * exact stages being compared. */
  val rankNdcg = QueryDef(
    "q_rank_ndcg",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val approx = Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id",
          "embedding", k = 10, probeRadius = 1)
        .select($"qid", $"cid", $"rn".as("pos"))
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val c = TextOps.spread(e).select($"vec_id".as("cid"), $"embedding".as("cv"))
      val exact = Similarity.nearest(c, q, "qid", "cid", "cos",
          graft.functions.vec.cosine($"cv", $"qv"), 10, 6)
        .select($"qid", $"cid", (lit(11) - $"rn").as("rel"))
      Similarity.ndcgAt(approx, exact, k = 10)
    },
    Some {
      val planes = Similarity.hyperplanes(4, 64)
      val bucketSql = (v: String) => planes.zipWithIndex.map { case (p, b) =>
        val pl = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product($v, $pl) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      val discs = Similarity.ndcgDiscounts(10)
        .map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      val idcg = Similarity.idcgAt(10)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
         |qp AS (SELECT qid, qv,
         |              unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                      xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |       FROM q),
         |sa AS (SELECT qp.qid, c.vec_id AS cid, round(${cosSql("c.v", "qp.qv")}, 6) AS cos
         |       FROM b c JOIN qp ON c.bucket = qp.bucket),
         |approx AS (SELECT qid, cid, rn AS pos FROM (
         |             SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY cos DESC, cid) AS rn FROM sa) WHERE rn <= 10),
         |se AS (SELECT q.qid, c.vec_id AS cid, round(${cosSql("c.v", "q.qv")}, 6) AS cos
         |       FROM e c CROSS JOIN q),
         |exact AS (SELECT qid, cid, 11 - rn AS rel FROM (
         |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |              ORDER BY cos DESC, cid) AS rn FROM se) WHERE rn <= 10),
         |t AS (SELECT a.qid,
         |             round(COALESCE(ex.rel, 0) * ($discs)[a.pos], 8) AS term
         |      FROM approx a LEFT JOIN exact ex ON ex.qid = a.qid AND ex.cid = a.cid),
         |g AS (SELECT qid, CAST(SUM(CAST(term AS DECIMAL(20,12))) AS DOUBLE) AS d
         |      FROM t GROUP BY qid)
         |SELECT qid, round(d, 6) AS dcg, round(d / $idcg, 6) AS ndcg
         |FROM g ORDER BY qid""".stripMargin
    })

  // ------------------------------------------------ edit-distance join
  /** Edit-distance similarity join (ed ≤ 2) over 24-char document
    * signatures via PassJoin segment filtering (pipeline/EditDist.scala
    * — Li et al. ICDE 2011): candidates from an equi-join between each
    * string's 3 home segments and every string's ±2-shifted
    * segment-shaped probes (zero false negatives by the pigeonhole
    * theorem), exact codegen `levenshtein` on candidates only — never
    * all-pairs. This is the typo/OCR-noise tier of the dedup ladder:
    * token-set similarity (q_dedup_allpairs) is blind to sub-token
    * corruption, which is exactly what edit distance measures. Planted
    * per the module convention: doc_id < 12 get copies at +100000 with
    * 2 characters substituted (positions 5 and 13 — different
    * segments), so true pairs at ed ≤ 2 provably exist; natural
    * same-prefix pairs join them. Signatures shorter than 24 chars (a
    * document shorter than the substring window) are EXCLUDED by
    * passJoinPairs' enforced length contract — mirrored in the oracle —
    * rather than fed through off-spec segment arithmetic; a mixed-length
    * corpus runs one call per length bucket. The DuckDB oracle is an INDEPENDENT
    * unnest/VALUES formulation of the same filter (its completeness vs
    * brute force is property-tested in QualitySpec), so the hash match
    * cross-checks the two candidate generators against each other. */
  val joinEditdist = QueryDef(
    "q_join_editdist",
    (s, dir) => {
      import s.implicits._
      val base = Tables(s, dir, "documents")
        .select($"doc_id".as("id"), substring($"text", 1, 24).as("sig"))
      val planted = base.filter($"id" < 12)
        .select(($"id" + 100000).as("id"),
          concat(substring($"sig", 1, 4), lit("q"), substring($"sig", 6, 7),
            lit("z"), substring($"sig", 14, 11)).as("sig"))
      EditDist.passJoinPairs(base.unionByName(planted), "id", "sig",
          len = 24, d = 2)
        .orderBy($"a", $"b")
    },
    Some("""WITH base AS (
              SELECT doc_id AS id, substr(text, 1, 24) AS sig FROM documents),
            corpus0 AS (
              SELECT id, sig FROM base
              UNION ALL
              SELECT id + 100000,
                     substr(sig,1,4) || 'q' || substr(sig,6,7) || 'z' ||
                     substr(sig,14,11)
              FROM base WHERE id < 12),
            -- mirror passJoinPairs' enforced exactly-24 length contract
            corpus AS (SELECT id, sig FROM corpus0 WHERE length(sig) = 24),
            segs AS (
              SELECT id AS g_id, i, substr(sig, 1 + (i-1)*8, 8) AS sub
              FROM corpus CROSS JOIN (VALUES (1),(2),(3)) AS seg(i)),
            probes AS (
              SELECT id AS p_id, i, substr(sig, 1 + (i-1)*8 + sh, 8) AS sub
              FROM corpus CROSS JOIN (VALUES (1),(2),(3)) AS seg(i)
                          CROSS JOIN (VALUES (-2),(-1),(0),(1),(2)) AS s(sh)
              WHERE 1 + (i-1)*8 + sh BETWEEN 1 AND 17),
            cand AS (
              SELECT DISTINCT least(p_id, g_id) AS a, greatest(p_id, g_id) AS b
              FROM probes JOIN segs
                ON probes.i = segs.i AND probes.sub = segs.sub
              WHERE p_id <> g_id),
            v AS (
              SELECT c.a, c.b, levenshtein(ca.sig, cb.sig) AS ed
              FROM cand c JOIN corpus ca ON ca.id = c.a
                          JOIN corpus cb ON cb.id = c.b)
            SELECT a, b, CAST(ed AS INT) AS ed FROM v
            WHERE ed <= 2 ORDER BY a, b"""))

  val all: Seq[QueryDef] = Seq(
    joinEditdist,
    dedupExact, dedupMinhash, dedupMinhashPairs, dedupMinhashEval,
    dedupCluster, splitLeakage, privacyKanon, privacyLdiv, dedupLshPr, dedupLshTune, dedupSimhash, dedupNgram,
    dedupEmbCosLsh, annLsh, annLshMultiprobe, annLsh256, annPq, annRecall,
    textLangId, textQuality, textGopher, textTokens, textFingerprint, textPhrase, textTextrank, multimodal,
    multimodalImage, multimodalAudio, multimodalFrames, multimodalPhash, multimodalVideo,
    textVocab, textTfidf, sampleHash,
    textChunks, dedupCanonical, dedupAllPairs, dedupTop1, dedupKeepBest, sampleStratified, textPii, textDecontam,
    textDecontamSpan, textDecontamFuzzy,
    textPack, vecQuantize, textPerplexity, mixWeights, mixTemperature, mixSchedule, mixWaterfill, mixDsir, vecCentroids,
    annIvfTrained, annIvfPq, annIvfPqBatch, annPqBatch, annPqTrained, annPqErr, annOpq, annRq, annRqErr, vecDiverse,
    annNsw, annNswRecall,
    annRecallTrained, annNprobeCurve, vecHubness, vecLabelprop, textBpeMerges, textBpe,
    textUnigramLm, textUnigramApply, textUnigramFertility, textUnigramCurve,
    textPmi, textClassifier, textClassifierEval, textClassifierEce, qualityYield,
    textDomainClf, textDomainEval, dedupSemantic,
    dedupSemanticBudget, vecHamming, vecHammingBatch, annSq8, annSq8Batch,
    vecNcm, vecLabelConsistency, textOov, textSourceSim, profileDataset,
    textDrift, vecMmr, vecSilhouette, vecOod, rankNdcg, rankMrr,
    pipelineE2e, pipelineFunnel)
}
