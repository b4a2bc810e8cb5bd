package graft.rel

import graft.{Artifact, QueryDef, Tables}
import graft.pipeline.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Generation-evaluation metrics — the operator class a training pipeline
  * runs on MODEL OUTPUTS against references (eval-set scoring, regression
  * tests between checkpoints, distillation filtering), which the registry
  * did not yet cover: character error rate (edit distance), BLEU-2
  * (clipped n-gram precision + brevity penalty, Papineni et al. ACL'02),
  * and ROUGE-2 precision/recall/F1 (Lin, ACL'04 workshop).
  *
  * The "hypothesis" side is a deterministic corruption of the reference
  * (every 7th token dropped, 'the'→'teh') built with IDENTICAL semantics
  * in both engines, so the metrics exercise real mismatch patterns
  * (substitutions + deletions) while staying a pure function of the
  * corpus. Scale shape: everything is per-document streams — windows
  * partitioned by doc_id, token/bigram counts keyed by (doc, gram),
  * one broadcast-free equi-join per n — linear in corpus tokens at any
  * scale; CER bounds the O(L²) edit-distance kernel by truncating to
  * 400 chars per doc (the per-row cost cap, not a correctness cap).
  *
  * Float discipline: n-gram counts are exact integers; precision/recall/
  * F1 are single IEEE divisions (portable, invariant 10 exemption);
  * BLEU's exp/ln round to 8dp and the final product runs through an
  * exact DECIMAL multiply (no double round-6 tie class).
  */
object EvalQueries {

  private val toksSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""

  // ------------------------------------------------------ shared streams
  /** Reference token stream (doc_id, pos, tok), 0-based positions. */
  private def refStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", posexplode(TextOps.tokens($"text")))
      .toDF("doc_id", "pos", "tok")
  }

  /** Corrupted hypothesis stream: drop every 7th token (pos % 7 = 3),
    * substitute 'the'→'teh', re-rank positions densely per doc. */
  private def hypStream(p: DataFrame): DataFrame = {
    import p.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    p.filter($"pos" % 7 =!= 3)
      .select($"doc_id", $"pos",
        when($"tok" === "the", "teh").otherwise($"tok").as("tok"))
      .withColumn("rn", row_number().over(w) - 1)
      .select($"doc_id", $"rn".as("pos"), $"tok")
  }

  /** Contiguous bigram stream via LEAD (concat nulls out at stream end —
    * same null-propagation in DuckDB's `||`). */
  private def bigrams(st: DataFrame): DataFrame = {
    import st.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    st.select($"doc_id",
        concat($"tok", lit(" "), lead($"tok", 1).over(w)).as("bg"))
      .filter($"bg".isNotNull)
  }

  /** Per-doc clipped match count Σ_g min(count_hyp(g), count_ref(g)) —
    * the modified-precision numerator, one equi-join on (doc, gram). */
  private def clipped(ref: DataFrame, hyp: DataFrame, gram: String): DataFrame = {
    import ref.sparkSession.implicits._
    val r = ref.groupBy($"doc_id", col(gram)).agg(count(lit(1)).as("cr"))
    val h = hyp.groupBy($"doc_id", col(gram)).agg(count(lit(1)).as("ch"))
    r.join(h, Seq("doc_id", gram))
      .groupBy($"doc_id").agg(sum(least($"cr", $"ch")).as("m"))
  }

  /** Shared hypothesis/stream CTE chain for the DuckDB oracles. */
  private val streamCtes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |p AS (SELECT doc_id, CAST(u.j AS INT) AS pos, toks[u.j+1] AS tok
       |      FROM t, unnest(range(len(toks))) AS u(j)),
       |hp0 AS (SELECT doc_id, pos,
       |               CASE WHEN tok = 'the' THEN 'teh' ELSE tok END AS tok
       |        FROM p WHERE pos % 7 <> 3),
       |hp AS (SELECT doc_id,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |                   - 1 AS INT) AS pos, tok
       |       FROM hp0),
       |rb AS (SELECT doc_id, bg FROM (
       |         SELECT doc_id, tok || ' ' ||
       |                LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
       |         FROM p) WHERE bg IS NOT NULL),
       |hb AS (SELECT doc_id, bg FROM (
       |         SELECT doc_id, tok || ' ' ||
       |                LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
       |         FROM hp) WHERE bg IS NOT NULL),
       |nr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS r_len FROM p GROUP BY 1),
       |nh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS h_len FROM hp GROUP BY 1),
       |c1 AS (SELECT r.doc_id, CAST(SUM(LEAST(r.cr, h.ch)) AS BIGINT) AS m
       |       FROM (SELECT doc_id, tok, COUNT(*) AS cr FROM p GROUP BY 1, 2) r
       |       JOIN (SELECT doc_id, tok, COUNT(*) AS ch FROM hp GROUP BY 1, 2) h
       |         ON r.doc_id = h.doc_id AND r.tok = h.tok
       |       GROUP BY 1),
       |c2 AS (SELECT r.doc_id, CAST(SUM(LEAST(r.cr, h.ch)) AS BIGINT) AS m
       |       FROM (SELECT doc_id, bg, COUNT(*) AS cr FROM rb GROUP BY 1, 2) r
       |       JOIN (SELECT doc_id, bg, COUNT(*) AS ch FROM hb GROUP BY 1, 2) h
       |         ON r.doc_id = h.doc_id AND r.bg = h.bg
       |       GROUP BY 1),
       |base AS (SELECT nr.doc_id, nr.r_len, nh.h_len,
       |                COALESCE(c1.m, 0) AS m1, COALESCE(c2.m, 0) AS m2
       |         FROM nr JOIN nh ON nr.doc_id = nh.doc_id
       |         LEFT JOIN c1 ON c1.doc_id = nr.doc_id
       |         LEFT JOIN c2 ON c2.doc_id = nr.doc_id
       |         WHERE nr.r_len >= 2 AND nh.h_len >= 2)""".stripMargin

  /** Per-doc (doc_id, r_len, h_len, m1, m2) — the Spark mirror of the
    * oracle's `base` CTE. A session artifact: BLEU and ROUGE read the
    * IDENTICAL clipped-count table (r11 bench had each paying the ~3 s
    * stream+count derivation separately). */
  private[graft] val baseFrame = Artifact("eval_base_frame") { (s, dir) =>
    import s.implicits._
    val p = refStream(TextOps.spread(Tables(s, dir, "documents")))
      .localCheckpoint()
    val hp = hypStream(p)
    val nr = p.groupBy($"doc_id").agg(count(lit(1)).as("r_len"))
    val nh = hp.groupBy($"doc_id").agg(count(lit(1)).as("h_len"))
    nr.join(nh, "doc_id")
      .join(clipped(p, hp, "tok").withColumnRenamed("m", "m1"),
        Seq("doc_id"), "left")
      .join(clipped(bigrams(p), bigrams(hp), "bg").withColumnRenamed("m", "m2"),
        Seq("doc_id"), "left")
      .select($"doc_id", $"r_len", $"h_len",
        coalesce($"m1", lit(0L)).as("m1"), coalesce($"m2", lit(0L)).as("m2"))
      .filter($"r_len" >= 2 && $"h_len" >= 2)
      .localCheckpoint()
  }

  // ------------------------------------------------- character error rate
  /** Character error rate between each reference and its corrupted
    * hypothesis: Levenshtein distance (native codegen `levenshtein` in
    * Spark, native `levenshtein` in DuckDB — the same standard DP, exact
    * integers) over the first 400 chars, divided by the reference
    * length. The 400-char cap bounds the O(L²) DP per row — the
    * per-row cost envelope at 100 TB; CER on a fixed prefix is the
    * standard bounded variant. cer is a single IEEE division, round-6
    * (portable — invariant 10 exemption). */
  val evalCer = QueryDef(
    "q_eval_cer",
    (s, dir) => {
      import s.implicits._
      val docs = TextOps.spread(Tables(s, dir, "documents"))
      docs.select($"doc_id",
          substring($"text", 1, 400).as("ref"),
          substring(expr("replace(replace(text, 'the', 'teh'), ' and ', ' an ')"),
            1, 400).as("hyp"))
        .select($"doc_id",
          length($"ref").as("ref_len"),
          levenshtein($"ref", $"hyp").as("ed"))
        .filter($"ref_len" > 0)
        .select($"doc_id", $"ref_len", $"ed",
          round($"ed" / $"ref_len".cast("double"), 6).as("cer"))
        .orderBy($"doc_id")
    },
    Some("""WITH pairs AS (
              SELECT doc_id,
                     substring(text, 1, 400) AS ref,
                     substring(replace(replace(text, 'the', 'teh'),
                                       ' and ', ' an '), 1, 400) AS hyp
              FROM documents),
            m AS (SELECT doc_id,
                         CAST(length(ref) AS INT) AS ref_len,
                         CAST(levenshtein(ref, hyp) AS INT) AS ed
                  FROM pairs WHERE length(ref) > 0)
            SELECT doc_id, ref_len, ed,
                   round(ed / CAST(ref_len AS DOUBLE), 6) AS cer
            FROM m ORDER BY doc_id"""))

  // ----------------------------------------------------------------- BLEU
  /** BLEU-2 per document: clipped unigram/bigram precisions, brevity
    * penalty, geometric mean. Counts are exact integers; the two libm
    * points (ln of each precision, exp of their mean / of the brevity
    * exponent) round to 8dp (invariant 10) and the final BP×gm product
    * runs through an exact DECIMAL(18,8) multiply + round-6 — a double
    * product of two 8dp values can land exactly on a 6dp half-way
    * (double round-6 would tie-split cross-engine), the decimal product
    * cannot. Docs where any n-gram level has zero matches score 0 (the
    * standard uncmoothed convention, guarded before any ln). */
  val evalBleu = QueryDef(
    "q_eval_bleu",
    (s, dir) => {
      import s.implicits._
      val p1 = $"m1" / $"h_len".cast("double")
      val p2 = $"m2" / ($"h_len" - 1).cast("double")
      val bp = when($"h_len" >= $"r_len", lit(1.0))
        .otherwise(round(exp(lit(1.0) - $"r_len" / $"h_len".cast("double")), 8))
      val gm = round(exp(lit(0.5) * (round(log(p1), 8) + round(log(p2), 8))), 8)
      baseFrame(s, dir)
        .select($"doc_id", $"r_len", $"h_len", $"m1", $"m2",
          when($"m1" === 0 || $"m2" === 0, lit(0.0))
            .otherwise(round(bp.cast(DecimalType(18, 8)) *
              gm.cast(DecimalType(18, 8)), 6).cast("double"))
            .as("bleu"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $streamCtes
         |SELECT doc_id, r_len, h_len, m1, m2,
         |       CASE WHEN m1 = 0 OR m2 = 0 THEN 0.0
         |            ELSE CAST(round(
         |              CAST(CASE WHEN h_len >= r_len THEN 1.0
         |                        ELSE round(exp(1.0 - r_len / CAST(h_len AS DOUBLE)), 8)
         |                   END AS DECIMAL(18,8)) *
         |              CAST(round(exp(0.5 *
         |                (round(ln(m1 / CAST(h_len AS DOUBLE)), 8) +
         |                 round(ln(m2 / CAST(h_len - 1 AS DOUBLE)), 8))), 8)
         |                   AS DECIMAL(18,8)), 6) AS DOUBLE)
         |       END AS bleu
         |FROM base ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- ROUGE
  /** ROUGE-2 per document: bigram precision, recall, F1 from the same
    * clipped counts. All-rational — nh2 = h_len−1 and nr2 = r_len−1
    * exactly (contiguous streams), so every metric is one IEEE division
    * of exact integers (F1 = 2m/(nh2+nr2) — the P,R share the numerator,
    * so the harmonic mean collapses to a single quotient), round-6. */
  val evalRouge = QueryDef(
    "q_eval_rouge",
    (s, dir) => {
      import s.implicits._
      baseFrame(s, dir)
        .select($"doc_id", $"m2",
          ($"h_len" - 1).as("h2"), ($"r_len" - 1).as("r2"),
          round($"m2" / ($"h_len" - 1).cast("double"), 6).as("prec"),
          round($"m2" / ($"r_len" - 1).cast("double"), 6).as("rec"),
          round(lit(2.0) * $"m2" / ($"h_len" + $"r_len" - 2).cast("double"), 6)
            .as("f1"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $streamCtes
         |SELECT doc_id, m2, h_len - 1 AS h2, r_len - 1 AS r2,
         |       round(m2 / CAST(h_len - 1 AS DOUBLE), 6) AS prec,
         |       round(m2 / CAST(r_len - 1 AS DOUBLE), 6) AS rec,
         |       round(2.0 * m2 / CAST(h_len + r_len - 2 AS DOUBLE), 6) AS f1
         |FROM base ORDER BY doc_id""".stripMargin))

  // -------------------------------------------------------- Cohen's kappa
  /** Inter-annotator agreement (Cohen's kappa) between two independent
    * rule labelers over the corpus — the label-quality audit a training
    * pipeline runs before trusting weak labels (are two heuristics
    * agreeing beyond chance?). Labeler A = char-length rule (≥ 300),
    * labeler B = token-count rule (≥ 55) — correlated but not identical,
    * so the chance-corrected term is load-bearing. The 2×2 confusion
    * matrix is ONE map-side aggregation (constant-size state at any
    * corpus scale); kappa = (n·(n11+n00) − E) / (n² − E) with
    * E = (n11+n10)(n11+n01) + (n01+n00)(n10+n00) computed in
    * DECIMAL(38,0) (n² overflows int64 at the 100 TB design point —
    * the q_stats_changepoint wide-internal convention), then ONE double
    * division, floor-idiom 6dp (invariant 12). */
  val labelKappa = QueryDef(
    "q_label_kappa",
    (s, dir) => {
      import s.implicits._
      val d38 = DecimalType(38, 0)
      def d(c: org.apache.spark.sql.Column) = c.cast(d38)
      val docs = TextOps.spread(Tables(s, dir, "documents"))
      val lab = docs.select(
        (length($"text") >= 300).cast("int").as("a"),
        (size(TextOps.tokens($"text")) >= 55).cast("int").as("b"))
      val agg = lab.agg(
        count(lit(1)).as("n"),
        sum($"a" * $"b").as("n11"),
        sum($"a" * (lit(1) - $"b")).as("n10"),
        sum((lit(1) - $"a") * $"b").as("n01"),
        sum((lit(1) - $"a") * (lit(1) - $"b")).as("n00"))
      val e = d($"n11" + $"n10") * d($"n11" + $"n01") +
        d($"n01" + $"n00") * d($"n10" + $"n00")
      def f6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      agg.select($"n", $"n11", $"n10", $"n01", $"n00",
        f6(($"n11" + $"n00") / $"n".cast("double")).as("po"),
        f6(e.cast("double") /
          ($"n".cast("double") * $"n".cast("double"))).as("pe"),
        f6((d($"n") * d($"n11" + $"n00") - e).cast("double") /
          (d($"n") * d($"n") - e).cast("double")).as("kappa"))
    },
    Some(s"""WITH lab AS (
         |  SELECT CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS a,
         |         CASE WHEN len($toksSql) >= 55 THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |cm AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(a * b) AS BIGINT) AS n11,
         |         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         |         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         |         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
         |  FROM lab),
         |wide AS (
         |  SELECT n, n11, n10, n01, n00,
         |         CAST(n11 + n10 AS DECIMAL(38,0)) * CAST(n11 + n01 AS DECIMAL(38,0))
         |           + CAST(n01 + n00 AS DECIMAL(38,0)) * CAST(n10 + n00 AS DECIMAL(38,0)) AS e
         |  FROM cm)
         |SELECT n, n11, n10, n01, n00,
         |       floor(((n11 + n00) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS po,
         |       floor((CAST(e AS DOUBLE) /
         |              (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS pe,
         |       floor((CAST(CAST(n AS DECIMAL(38,0)) * CAST(n11 + n00 AS DECIMAL(38,0)) - e AS DOUBLE) /
         |              CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) - e AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS kappa
         |FROM wide""".stripMargin))

  // ---------------------------------------------------- Bradley-Terry
  /** Bradley-Terry strength fitting from pairwise preferences (the
    * preference-aggregation op of RLHF/eval pipelines: turn "A beat B"
    * comparisons into per-item strengths) via Hunter's MM algorithm
    * (Hunter, Annals of Statistics 2004), 5 fixed iterations:
    * w_i ← (W_i + 1) / Σ_{j≠i} t_ij / (w_i + w_j), then normalize —
    * add-one win smoothing keeps every strength strictly positive (a
    * zero-win item would otherwise zero out and poison the shared
    * denominators with ∞). Comparisons are a pure function of the
    * corpus: doc 2k vs doc 2k+1 (an equi-join on doc_id parity — NO
    * global window over the corpus), winner = more tokens, tie = lower
    * doc_id, same-source pairs dropped; items are the SOURCES, so the
    * fit ranks domains by document "wins". Scale shape: one corpus
    * pass into a ≤|sources|² count matrix; the MM iterations run on
    * that tiny table (each per-i denominator is an exact DECIMAL sum
    * of floor-8 terms — order-independent; one double division per
    * item per iteration). The oracle replays all 5 iterations as
    * unrolled CTEs. */
  val prefBt = QueryDef(
    "q_pref_bt",
    (s, dir) => {
      import s.implicits._
      def f8(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e8) + lit(0.5)) / lit(1e8)
      def f6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      val d = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", $"source", size(TextOps.tokens($"text")).as("nt"))
      val a = d.filter($"doc_id" % 2 === 0)
        .select(($"doc_id" / 2).cast("long").as("p"),
          $"source".as("sa"), $"nt".as("na"), $"doc_id".as("ida"))
      val b = d.filter($"doc_id" % 2 === 1)
        .select((($"doc_id" - 1) / 2).cast("long").as("p"),
          $"source".as("sb"), $"nt".as("nb"))
      val cmp = a.join(b, "p").filter($"sa" =!= $"sb")
        .select(
          when($"na" >= $"nb", $"sa").otherwise($"sb").as("wi"),
          when($"na" >= $"nb", $"sb").otherwise($"sa").as("lj"))
      val m = cmp.groupBy($"wi", $"lj").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val t = m.select($"wi".as("i"), $"lj".as("j"), $"n")
        .unionByName(m.select($"lj".as("i"), $"wi".as("j"), $"n"))
        .groupBy($"i", $"j").agg(sum($"n").as("t"))
        .localCheckpoint()
      val wins = t.select($"i").distinct()
        .join(m.groupBy($"wi").agg(sum($"n").as("w0"))
          .withColumnRenamed("wi", "i"), Seq("i"), "left")
        .select($"i", (coalesce($"w0", lit(0L)) + 1).as("wp"))
        .localCheckpoint()
      val ncmp = t.groupBy($"i").agg(sum($"t").as("ncmp"))
      var w = wins.select($"i", lit(1.0).as("w"))
      for (_ <- 1 to 5) {
        val den = t
          .join(w.select($"i", $"w".as("vi")), "i")
          .join(w.select($"i".as("j"), $"w".as("vj")), "j")
          .groupBy($"i")
          .agg(sum(f8($"t" / ($"vi" + $"vj")).cast(DecimalType(18, 8))).as("s"))
        val raw = wins.join(den, "i")
          .select($"i", f8($"wp".cast("double") / $"s".cast("double")).as("r"))
        val z = raw.agg(sum($"r".cast(DecimalType(18, 8))).as("z"))
        w = raw.crossJoin(broadcast(z))
          .select($"i", f8($"r" / $"z".cast("double")).as("w"))
          .localCheckpoint()
      }
      w.join(wins, "i").join(ncmp, "i")
        .select($"i".as("source"), ($"wp" - 1).as("wins"), $"ncmp",
          f6($"w").as("strength"))
        .orderBy($"strength".desc, $"source")
    },
    Some {
      def f(x: String, k: Int) = s"floor(($x) * 1e$k + 0.5) / 1e$k"
      def iter(k: Int) =
        s"""den$k AS (
           |  SELECT t.i, SUM(CAST(${f(s"t.t / (wi.w + wj.w)", 8)}
           |                   AS DECIMAL(18,8))) AS s
           |  FROM t JOIN w${k - 1} wi ON wi.i = t.i
           |         JOIN w${k - 1} wj ON wj.i = t.j
           |  GROUP BY t.i),
           |raw$k AS (
           |  SELECT wins.i, ${f(s"CAST(wins.wp AS DOUBLE) / CAST(den$k.s AS DOUBLE)", 8)} AS r
           |  FROM wins JOIN den$k ON den$k.i = wins.i),
           |z$k AS (SELECT SUM(CAST(r AS DECIMAL(18,8))) AS z FROM raw$k),
           |w$k AS MATERIALIZED (
           |  SELECT i, ${f(s"r / CAST(z AS DOUBLE)", 8)} AS w FROM raw$k, z$k)"""
          .stripMargin
      s"""WITH d AS (SELECT doc_id, source,
         |                  CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
         |cmp AS (
         |  SELECT CASE WHEN a.nt >= b.nt THEN a.source ELSE b.source END AS wi,
         |         CASE WHEN a.nt >= b.nt THEN b.source ELSE a.source END AS lj
         |  FROM (SELECT doc_id // 2 AS p, source, nt FROM d WHERE doc_id % 2 = 0) a
         |  JOIN (SELECT (doc_id - 1) // 2 AS p, source, nt FROM d WHERE doc_id % 2 = 1) b
         |    ON a.p = b.p
         |  WHERE a.source <> b.source),
         |m AS MATERIALIZED (
         |  SELECT wi, lj, CAST(COUNT(*) AS BIGINT) AS n FROM cmp GROUP BY wi, lj),
         |t AS MATERIALIZED (
         |  SELECT i, j, CAST(SUM(n) AS BIGINT) AS t FROM (
         |    SELECT wi AS i, lj AS j, n FROM m
         |    UNION ALL SELECT lj AS i, wi AS j, n FROM m)
         |  GROUP BY i, j),
         |wins AS MATERIALIZED (
         |  SELECT it.i, CAST(COALESCE(wm.w0, 0) + 1 AS BIGINT) AS wp
         |  FROM (SELECT DISTINCT i FROM t) it
         |  LEFT JOIN (SELECT wi AS i, SUM(n) AS w0 FROM m GROUP BY wi) wm
         |    ON wm.i = it.i),
         |ncmp AS (SELECT i, CAST(SUM(t) AS BIGINT) AS ncmp FROM t GROUP BY i),
         |w0 AS (SELECT i, 1.0 AS w FROM wins),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT w5.i AS source, wins.wp - 1 AS wins, ncmp.ncmp,
         |       ${f("w5.w", 6)} AS strength
         |FROM w5 JOIN wins ON wins.i = w5.i JOIN ncmp ON ncmp.i = w5.i
         |ORDER BY strength DESC, source""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(evalCer, evalBleu, evalRouge, labelKappa,
    prefBt)
}
