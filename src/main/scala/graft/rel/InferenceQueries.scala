package graft.rel

import graft.{QueryDef, Tables}
import graft.pipeline.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical-inference and mining operators a production data platform
  * runs beside the pipeline queries — resampling uncertainty (bootstrap),
  * censored-time-to-event analysis (Kaplan-Meier), association mining
  * (frequent itemsets), and loss-driven mixture reweighting (DoReMi-style
  * exponentiated gradient):
  *
  *   - q_stats_bootstrap — Poisson-bootstrap confidence interval for the
  *     mean order value. The classical n-out-of-n resample is a driver
  *     loop; the POISSON bootstrap (each row enters replicate b with
  *     Poisson(1) multiplicity — Chamandy et al., "Estimating Uncertainty
  *     for Massive Data Streams", Google TR 2012) is the at-scale form:
  *     one explode by B, one keyed aggregation, map-side combinable.
  *   - q_events_survival — Kaplan-Meier estimator (Kaplan & Meier, JASA
  *     1958) over user lifetimes with right-censoring at the observation
  *     horizon: per-user reduce, per-duration counts, prefix sums over
  *     the ≤ day-span duration table.
  *   - q_events_itemsets — frequent event-type pairs with support and
  *     lift (Agrawal & Srikant, VLDB'94 shape, pair order): baskets are
  *     (user, day) DISTINCT type sets, the pair join is per-basket and
  *     bounded by the type-domain squared, never corpus².
  *   - q_mix_doremi — one exponentiated-gradient domain-reweighting step
  *     (DoReMi, Xie et al. NeurIPS'23): per-domain excess loss under the
  *     global unigram LM, softmax with uniform smoothing — the
  *     loss-driven counterpart of q_mix_temperature's count-driven rule.
  *
  * Float discipline (CLAUDE.md invariants 10/12): counts and Poisson
  * weights are exact integers; every transcendental (ln/exp) rounds to
  * ≤8dp via the floor idiom `floor(x·10^k + 0.5)/10^k` spelled
  * identically in both SQL texts; rounded terms sum through exact
  * DECIMALs; quotients are single IEEE divisions of exactly-representable
  * inputs (portable), floor-rounded only at the output edge.
  */
object InferenceQueries {

  /** Engine-portable k-dp rounding (see NodeEmbedding.pround). */
  private def pr(c: Column, k: Int): Column = {
    val p = math.pow(10, k)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }
  private def prSql(x: String, k: Int) = s"floor(($x) * 1e$k + 0.5) / 1e$k"

  private val toksSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""

  // ------------------------------------------------- Poisson bootstrap
  /** Poisson(1) CDF thresholds P(X ≤ k), k = 0..7: a row's replicate
    * multiplicity is the count of thresholds its uniform draw clears
    * (inverse-CDF transform; the k ≥ 9 tail mass ~1.1e-6 truncates to
    * weight 8 — the same convention in both engines, so no split).
    * Literals are the shortest round-trip doubles; decimal-literal →
    * double parsing is correctly rounded in Spark and DuckDB alike. */
  private val poissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253")

  /** Uniform u ∈ [0,1) keyed by a string: top 13 hex digits of md5 give
    * an exact 52-bit integer; /2^52 is a pure exponent shift, so u is
    * EXACT and bit-identical across engines (the TextOps.strHash / e8
    * uniform family). */
  private def u52(key: Column): Column =
    graft.functions.hashx.md5Prefix(key, 13) /
      lit((1L << 52).toDouble)
  private def u52Sql(x: String) =
    s"CAST(('0x' || substr(md5($x), 1, 13)) AS BIGINT) / ${(1L << 52).toDouble}"

  /** Percentile-method bootstrap CI for the mean order value: B = 200
    * Poisson replicates, each row carrying an md5-drawn Poisson(1)
    * multiplicity per replicate; CI endpoints are the 5th / 196th order
    * statistics of the replicate means ((B+1)·0.025 = 5.025 → 5,
    * (B+1)·0.975 = 195.975 → 196 — the classical percentile rule).
    * Scale shape: ONE projection explodes each row ×B (no join), the
    * replicate aggregation is map-side combinable into exactly B groups,
    * and everything downstream runs on the 200-row replicate table (the
    * ordered rank window is bounded by the CONSTANT B —
    * PlanScan.globalWindowReviewed). Money goes through exact cents
    * (DECIMAL(18,2)·100 → BIGINT); replicate means are single IEEE
    * divisions of exact integers, floor-rounded 6dp at the edge. */
  val statsBootstrap = QueryDef(
    "q_stats_bootstrap",
    (s, dir) => {
      import s.implicits._
      val b = 200
      val o = TextOps.spread(Tables(s, dir, "orders"))
        .select($"o_orderkey",
          ($"o_totalprice".cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
      val wCase = poissonCdf.map(c => when(col("u") >= lit(c.toDouble), 1L)
        .otherwise(0L)).reduce(_ + _)
      val reps = o
        .select($"o_orderkey", $"cents",
          explode(expr(s"sequence(1, $b)")).as("rep"))
        .withColumn("u", u52(concat(lit("boot:"),
          $"o_orderkey".cast("string"), lit(":"), $"rep".cast("string"))))
        .withColumn("w", wCase)
        .groupBy($"rep")
        .agg(sum($"w").as("sw"), sum($"w" * $"cents").as("swx"))
        .select($"rep", when($"sw" =!= 0L,
          $"swx".cast("double") / $"sw").as("mean_b"))
      // NULLS LAST pinned on both sides: the sw=0 guard can emit a NULL
      // mean_b, and the engines' DEFAULT null order diverges (Spark asc
      // = NULLS FIRST, DuckDB asc = NULLS LAST) — exactly the degenerate
      // replicate the guard exists for would shift rn=5/196 otherwise.
      val rn = Window.orderBy($"mean_b".asc_nulls_last, $"rep")
      val ci = reps.withColumn("rn", row_number().over(rn))
        .agg(max(when($"rn" === 5, $"mean_b")).as("lo"),
          max(when($"rn" === 196, $"mean_b")).as("hi"))
      val base = o.agg(count(lit(1)).as("n_orders"),
        (sum($"cents").cast("double") / count(lit(1))).as("mean_cents"))
      base.crossJoin(broadcast(ci))
        .select($"n_orders", lit(b).as("b"),
          pr($"mean_cents", 6).as("mean_cents"),
          pr($"lo", 6).as("lo_cents"), pr($"hi", 6).as("hi_cents"))
    },
    Some(s"""WITH o AS (SELECT o_orderkey,
             |            CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             |          FROM orders),
             |x AS (SELECT o_orderkey, cents, CAST(u.r AS INT) AS rep,
             |             ${u52Sql("'boot:' || o_orderkey || ':' || CAST(u.r AS INT)")} AS u
             |      FROM o, unnest(range(1, 201)) AS u(r)),
             |w AS (SELECT rep,
             |             ${poissonCdf.map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)")
                              .mkString(" + ")} AS w, cents
             |      FROM x),
             |m AS (SELECT rep,
             |             CASE WHEN CAST(SUM(w) AS BIGINT) = 0 THEN NULL
             |                  ELSE 1.0 * CAST(SUM(w * cents) AS BIGINT) / CAST(SUM(w) AS BIGINT)
             |             END AS mean_b
             |      FROM w GROUP BY rep),
             |r AS (SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b NULLS LAST, rep) AS rn FROM m),
             |ci AS (SELECT MAX(CASE WHEN rn = 5 THEN mean_b END) AS lo,
             |              MAX(CASE WHEN rn = 196 THEN mean_b END) AS hi FROM r),
             |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             |                1.0 * CAST(SUM(cents) AS BIGINT) / COUNT(*) AS mean_cents
             |         FROM o)
             |SELECT n_orders, 200 AS b, ${prSql("mean_cents", 6)} AS mean_cents,
             |       ${prSql("lo", 6)} AS lo_cents, ${prSql("hi", 6)} AS hi_cents
             |FROM base, ci""".stripMargin))

  // ---------------------------------------------------- Kaplan-Meier
  /** Kaplan-Meier time-to-conversion with right-censoring: per user,
    * duration runs from the first event day to the first `purchase` day
    * (event observed); users who never purchase are censored at the
    * corpus horizon. Per distinct duration t: at-risk
    * n(t) (prefix-sum complement), events d(t), censored c(t), and
    * S(t) = Π_{t'≤t, d>0} (1 − d/n) via 8dp-floor-rounded ln factors
    * summed through exact DECIMAL and exponentiated once per row (if a
    * time exhausts the risk set, S pins to 0 from there — the ln(0)
    * guard). Scale shape: the corpus is touched only by the per-user
    * reduce; every window runs over the ≤ day-span duration table
    * (PlanScan.globalWindowReviewed). */
  val eventsSurvival = QueryDef(
    "q_events_survival",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .select($"user_id", $"ts".cast("date").as("d"), $"event_type")
      val g = ev.agg(max($"d").as("gm"))
      val per = ev.groupBy($"user_id")
        .agg(min($"d").as("fd"),
          min(when($"event_type" === "purchase", $"d")).as("pd"))
        .crossJoin(broadcast(g))
        .select(
          when($"pd".isNotNull, 1).otherwise(0).as("e"),
          when($"pd".isNotNull, datediff($"pd", $"fd"))
            .otherwise(datediff($"gm", $"fd")).cast("int").as("t"))
      val byT = per.groupBy($"t").agg(
        count(lit(1)).as("c_all"),
        sum(when($"e" === 1, 1L).otherwise(0L)).as("d_events"),
        sum(when($"e" === 1, 0L).otherwise(1L)).as("c_censored"))
      val tot = per.agg(count(lit(1)).as("n"))
      val wPrev = Window.orderBy($"t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wIncl = Window.orderBy($"t")
        .rowsBetween(Window.unboundedPreceding, 0)
      byT.crossJoin(broadcast(tot))
        .withColumn("n_risk", $"n" - coalesce(sum($"c_all").over(wPrev), lit(0L)))
        .withColumn("lf",
          when($"d_events" === 0 || $"d_events" >= $"n_risk",
            lit(0).cast(DecimalType(18, 8)))
            .otherwise(pr(log(lit(1.0) - $"d_events" / $"n_risk"), 8)
              .cast(DecimalType(18, 8))))
        .withColumn("ls", sum($"lf").over(wIncl))
        .withColumn("zf", max(when($"d_events" >= $"n_risk", 1).otherwise(0))
          .over(wIncl))
        .select($"t".as("t_days"), $"n_risk", $"d_events", $"c_censored",
          when($"zf" === 1, lit(0.0))
            .otherwise(pr(exp($"ls".cast("double")), 6)).as("surv"))
        .orderBy($"t_days")
    },
    Some(s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
             |g AS (SELECT MAX(d) AS gm FROM ev),
             |ul AS (SELECT user_id, MIN(d) AS fd,
             |              MIN(CASE WHEN event_type = 'purchase' THEN d END) AS pd
             |       FROM ev GROUP BY 1),
             |per AS (SELECT CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS e,
             |               CAST(CASE WHEN pd IS NOT NULL
             |                    THEN date_diff('day', fd, pd)
             |                    ELSE date_diff('day', fd, gm) END AS INT) AS t
             |        FROM ul, g),
             |byt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c_all,
             |               CAST(SUM(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
             |               CAST(SUM(CASE WHEN e = 1 THEN 0 ELSE 1 END) AS BIGINT) AS c_censored
             |        FROM per GROUP BY t),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
             |r AS (SELECT t, d_events, c_censored,
             |             n - CAST(COALESCE(SUM(c_all) OVER (ORDER BY t
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
             |      FROM byt, tot),
             |sv AS (SELECT t, n_risk, d_events, c_censored,
             |              SUM(CASE WHEN d_events = 0 OR d_events >= n_risk
             |                       THEN CAST(0 AS DECIMAL(18,8))
             |                       ELSE CAST(${prSql("ln(1.0 - 1.0 * d_events / n_risk)", 8)} AS DECIMAL(18,8)) END)
             |                OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
             |              MAX(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
             |                OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zf
             |       FROM r)
             |SELECT t AS t_days, n_risk, d_events, c_censored,
             |       CASE WHEN zf = 1 THEN 0.0
             |            ELSE ${prSql("exp(CAST(ls AS DOUBLE))", 6)} END AS surv
             |FROM sv ORDER BY t_days""".stripMargin))

  // ------------------------------------------------ frequent itemsets
  /** Frequent event-type pairs with support and lift: baskets = DISTINCT
    * (user, day, type); the a < b self-join is keyed by basket, so its
    * fan-out is bounded by the type-domain choose 2 per basket — never
    * corpus². Lift = n_ab·N / (n_a·n_b): exact BIGINT products, one IEEE
    * division, floor-rounded 6dp. minsup = 5 baskets. */
  val eventsItemsets = QueryDef(
    "q_events_itemsets",
    (s, dir) => {
      import s.implicits._
      val b = Tables(s, dir, "events")
        .select($"user_id", $"ts".cast("date").as("day"), $"event_type")
        .distinct()
      val nb = b.select($"user_id", $"day").distinct()
        .agg(count(lit(1)).as("nbaskets"))
      val singles = b.groupBy($"event_type").agg(count(lit(1)).as("ns"))
      val pairs = b.as("x")
        .join(b.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.day") === col("y.day") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5)
      pairs
        .join(broadcast(singles.select($"event_type".as("a"), $"ns".as("n_a"))), "a")
        .join(broadcast(singles.select($"event_type".as("b"), $"ns".as("n_b"))), "b")
        .crossJoin(broadcast(nb))
        .select($"a", $"b", $"n_ab", $"n_a", $"n_b",
          pr(($"n_ab" * $"nbaskets").cast("double") / ($"n_a" * $"n_b"), 6)
            .as("lift"))
        .orderBy($"n_ab".desc, $"a", $"b")
    },
    Some(s"""WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
             |          FROM events),
             |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbaskets
             |       FROM (SELECT DISTINCT user_id, day FROM b)),
             |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ns FROM b GROUP BY 1),
             |p AS (SELECT x.event_type AS a, y.event_type AS b,
             |             CAST(COUNT(*) AS BIGINT) AS n_ab
             |      FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
             |        AND x.event_type < y.event_type
             |      GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT p.a, p.b, p.n_ab, sa.ns AS n_a, sb.ns AS n_b,
             |       ${prSql("CAST(p.n_ab * nb.nbaskets AS DOUBLE) / (sa.ns * sb.ns)", 6)} AS lift
             |FROM p JOIN s sa ON sa.event_type = p.a
             |       JOIN s sb ON sb.event_type = p.b, nb
             |ORDER BY n_ab DESC, a, b""".stripMargin))

  // ------------------------------------------------- DoReMi reweighting
  /** One exponentiated-gradient domain-reweighting step (DoReMi, Xie et
    * al. NeurIPS'23) driven by each domain's excess loss under the
    * GLOBAL unigram LM: domains whose token distribution diverges from
    * the corpus read as higher-loss and get upweighted —
    * w_d = (1−ε)·exp(ℓ_d − ℓ_min)/Z + ε/|D| with ε = 0.1. Loss terms
    * −ln(c_t/N) floor-round to 8dp and sum through DECIMAL(20,12)
    * (order-independent); exp(·) floor-rounds to 8dp into DECIMAL(18,8)
    * so Z is exact; the final affine map is a fixed IEEE op sequence on
    * exact inputs, floor-rounded 6dp. Scale shape: one token explode,
    * one vocab groupBy, one broadcast join back, one per-domain reduce —
    * the softmax runs on the |domains|-row table. */
  val mixDoremi = QueryDef(
    "q_mix_doremi",
    (s, dir) => {
      import s.implicits._
      val toks = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", explode(TextOps.tokens($"text")).as("w"))
      val uni = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      val nTot = uni.agg(sum($"c").as("ntot"))
      val byDom = toks
        .join(broadcast(uni), "w")
        .crossJoin(broadcast(nTot))
        .withColumn("nll", pr(-log($"c" / $"ntot"), 8).cast(DecimalType(20, 12)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"), sum($"nll").as("snll"))
        .withColumn("loss", pr($"snll".cast("double") / $"n_tokens", 8))
      val mn = byDom.agg(min($"loss").as("lmin"),
        count(lit(1)).as("nd"))
      val wraw = byDom.crossJoin(broadcast(mn))
        .withColumn("wraw", pr(exp($"loss" - $"lmin"), 8)
          .cast(DecimalType(18, 8)))
      val z = wraw.agg(sum($"wraw").as("z"))
      wraw.crossJoin(broadcast(z))
        .select($"source", $"n_tokens", $"loss",
          pr(lit(0.9) * ($"wraw".cast("double") / $"z".cast("double")) +
            lit(0.1) / $"nd", 6).as("weight"))
        .orderBy($"source")
    },
    Some(s"""WITH t AS (SELECT source, unnest($toksSql) AS w FROM documents),
             |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY w),
             |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS ntot FROM uni),
             |dom AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |               SUM(CAST(${prSql("-ln(1.0 * c / ntot)", 8)} AS DECIMAL(20,12))) AS snll
             |        FROM t JOIN uni USING (w), nt GROUP BY source),
             |l AS (SELECT source, n_tokens,
             |             ${prSql("CAST(snll AS DOUBLE) / n_tokens", 8)} AS loss
             |      FROM dom),
             |mn AS (SELECT MIN(loss) AS lmin, CAST(COUNT(*) AS BIGINT) AS nd FROM l),
             |wr AS (SELECT source, n_tokens, loss,
             |              CAST(${prSql("exp(loss - lmin)", 8)} AS DECIMAL(18,8)) AS wraw
             |       FROM l, mn),
             |z AS (SELECT SUM(wraw) AS z FROM wr)
             |SELECT source, n_tokens, loss,
             |       ${prSql("0.9 * (CAST(wraw AS DOUBLE) / CAST(z.z AS DOUBLE)) + 0.1 / mn.nd", 6)} AS weight
             |FROM wr, z, mn ORDER BY source""".stripMargin))

  // ------------------------------------------------- Kendall tau-b
  /** Kendall tau-b rank agreement between two orderings of the SAME item
    * set (Kendall 1938; tau-b tie correction per Agresti) — the metric
    * comparing two rankers (BM25 vs embedding, old vs new scorer)
    * without assuming scores are comparable. Items: the top-50 documents
    * by character count (deterministic doc_id tie-break — a
    * limit-bounded set, so every downstream window/join is over ≤ 50
    * rows at any corpus size); ranking A = characters, ranking B =
    * whitespace tokens. All pair classification is exact integer
    * arithmetic; tau_b = (C − D)/√((n0 − Ta)(n0 − Tb)) is one
    * IEEE-correctly-rounded sqrt and one division, floor-rounded 6dp. */
  val rankTau = QueryDef(
    "q_rank_tau",
    (s, dir) => {
      import s.implicits._
      val top = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          size(TextOps.tokens($"text")).cast("long").as("nt"))
        .orderBy($"n_chars".desc, $"doc_id")
        .limit(50)
      val ranked = top
        .withColumn("ra", rank().over(Window.orderBy($"n_chars".desc)))
        .withColumn("rb", rank().over(Window.orderBy($"nt".desc)))
      val pairs = ranked.as("i")
        .join(ranked.as("j"), col("i.doc_id") < col("j.doc_id"))
        .select(
          (col("i.ra") - col("j.ra")).as("da"),
          (col("i.rb") - col("j.rb")).as("db"))
      pairs.agg(
        count(lit(1)).as("n0"),
        sum(when($"da" * $"db" > 0, 1L).otherwise(0L)).as("conc"),
        sum(when($"da" * $"db" < 0, 1L).otherwise(0L)).as("disc"),
        sum(when($"da" === 0, 1L).otherwise(0L)).as("ties_a"),
        sum(when($"db" === 0, 1L).otherwise(0L)).as("ties_b"))
        .select($"n0", $"conc", $"disc", $"ties_a", $"ties_b",
          pr(($"conc" - $"disc").cast("double") /
            sqrt(($"n0" - $"ties_a") * ($"n0" - $"ties_b")), 6).as("tau_b"))
    },
    Some(s"""WITH top AS (SELECT doc_id, n_chars,
             |              CAST(len($toksSql) AS BIGINT) AS nt
             |            FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
             |r AS (SELECT doc_id,
             |             RANK() OVER (ORDER BY n_chars DESC) AS ra,
             |             RANK() OVER (ORDER BY nt DESC) AS rb
             |      FROM top),
             |p AS (SELECT i.ra - j.ra AS da, i.rb - j.rb AS db
             |      FROM r i JOIN r j ON i.doc_id < j.doc_id),
             |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             |             CAST(SUM(CASE WHEN da * db > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             |             CAST(SUM(CASE WHEN da * db < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             |             CAST(SUM(CASE WHEN da = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_a,
             |             CAST(SUM(CASE WHEN db = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_b
             |      FROM p)
             |SELECT n0, conc, disc, ties_a, ties_b,
             |       ${prSql("CAST(conc - disc AS DOUBLE) / sqrt((n0 - ties_a) * (n0 - ties_b))", 6)} AS tau_b
             |FROM a""".stripMargin))

  // --------------------------------------------- Jensen-Shannon drift
  /** Per-source Jensen-Shannon divergence against the REST of the corpus
    * (Lin 1991) — the symmetric, bounded (≤ ln 2) domain-drift measure a
    * mixture audit reads alongside q_text_drift's KL. The absent-token
    * mass needs no source×vocab cross join: for tokens missing from
    * source s, p = 0 and the integrand collapses to (q/2)·ln 2, so
    * JSD = Σ_{t∈s} [p/2·ln(p/m) + q/2·ln(q/m)] + (ln 2)/2·(1 − Q_s)
    * with Q_s the rest-mass of s's own tokens — one closed-form
    * remainder instead of a vocabulary-sized anti-join. ln terms
    * floor-round to 8dp and sum through DECIMAL(20,12); q likewise
    * floor-rounds to 12dp BEFORE its DECIMAL cast (round-trip casts of
    * an unrounded double split HALF_UP vs scaled-binary cross-engine);
    * the rationals p, q, m are fixed IEEE op sequences spelled
    * identically in both engines; ln 2 is the shortest-round-trip
    * literal, not a libm call. */
  val textJsd = QueryDef(
    "q_text_jsd",
    (s, dir) => {
      import s.implicits._
      val ln2 = 0.6931471805599453
      val toks = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", explode(TextOps.tokens($"text")).as("w"))
      val bySrcTok = toks.groupBy($"source", $"w").agg(count(lit(1)).as("cs"))
      val glob = bySrcTok.groupBy($"w").agg(sum($"cs").as("cg"))
      val bySrc = bySrcTok.groupBy($"source").agg(sum($"cs").as("ns"),
        count(lit(1)).as("ndist"))
      val nTot = glob.agg(sum($"cg").as("ntot"))
      val terms = bySrcTok
        .join(glob, "w")
        .join(broadcast(bySrc), "source")
        .crossJoin(broadcast(nTot))
        .withColumn("p", $"cs".cast("double") / $"ns")
        .withColumn("q", ($"cg" - $"cs").cast("double") / ($"ntot" - $"ns"))
        .withColumn("m", lit(0.5) * ($"p" + $"q"))
        .withColumn("term",
          (pr(lit(0.5) * $"p" * log($"p" / $"m"), 8) +
            when($"q" > 0, pr(lit(0.5) * $"q" * log($"q" / $"m"), 8))
              .otherwise(lit(0.0))).cast(DecimalType(20, 12)))
        .withColumn("qd", pr($"q", 12).cast(DecimalType(20, 12)))
      terms.groupBy($"source")
        .agg(max($"ns").as("n_tokens"), max($"ndist").as("distinct_tokens"),
          sum($"term").as("ts"), sum($"qd").as("qs"))
        .select($"source", $"n_tokens", $"distinct_tokens",
          pr($"ts".cast("double") +
            lit(0.5) * lit(ln2) * (lit(1.0) - $"qs".cast("double")), 6)
            .as("jsd"))
        .orderBy($"source")
    },
    Some(s"""WITH t AS (SELECT source, unnest($toksSql) AS w FROM documents),
             |st AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs FROM t GROUP BY 1, 2),
             |g AS (SELECT w, CAST(SUM(cs) AS BIGINT) AS cg FROM st GROUP BY w),
             |bs AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns,
             |              CAST(COUNT(*) AS BIGINT) AS ndist
             |       FROM st GROUP BY source),
             |nt AS (SELECT CAST(SUM(cg) AS BIGINT) AS ntot FROM g),
             |x AS (SELECT st.source, CAST(cs AS DOUBLE) / ns AS p,
             |             CAST(cg - cs AS DOUBLE) / (ntot - ns) AS q
             |      FROM st JOIN g USING (w) JOIN bs USING (source), nt),
             |y AS (SELECT source,
             |             CAST(${prSql("0.5 * p * ln(p / (0.5 * (p + q)))", 8)} +
             |                  (CASE WHEN q > 0
             |                        THEN ${prSql("0.5 * q * ln(q / (0.5 * (p + q)))", 8)}
             |                        ELSE 0.0 END) AS DECIMAL(20,12)) AS term,
             |             CAST(${prSql("q", 12)} AS DECIMAL(20,12)) AS qd
             |      FROM x)
             |SELECT bs.source, bs.ns AS n_tokens, bs.ndist AS distinct_tokens,
             |       ${prSql("CAST(ts AS DOUBLE) + 0.5 * 0.6931471805599453 * (1.0 - CAST(qs AS DOUBLE))", 6)} AS jsd
             |FROM (SELECT source, SUM(term) AS ts, SUM(qd) AS qs FROM y GROUP BY source) a
             |JOIN bs USING (source) ORDER BY source""".stripMargin))

  // ----------------------------------------- split-conformal interval
  /** Distribution-free prediction interval for per-document token count
    * by split conformal (Vovk et al.; Lei et al. JASA'18): the
    * even-doc_id half calibrates, the odd half audits. Nonconformity =
    * |tokens − center| with center = the calibration-mean floor (exact
    * integer); q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration residual
    * (α = 0.1), read off a prefix sum over the DISTINCT-residual
    * histogram — bounded by the token-count domain, never corpus rows
    * (q_stats_ks convention); audited coverage on the held-out half must
    * land ≥ 1−α in expectation (the spec pins the guarantee's finite-
    * sample direction). ALL-INTEGER until the one final division. */
  val statsConformal = QueryDef(
    "q_stats_conformal",
    (s, dir) => {
      import s.implicits._
      val d = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("nt"))
      val cal = d.filter($"doc_id" % 2 === 0)
      val tst = d.filter($"doc_id" % 2 =!= 0)
      val cstat = cal.agg(count(lit(1)).as("n_cal"),
        expr("SUM(nt) DIV COUNT(*)").as("center"))
      val res = cal.crossJoin(broadcast(cstat))
        .select(abs($"nt" - $"center").as("r"), $"n_cal", $"center")
      val hist = res.groupBy($"r", $"n_cal", $"center")
        .agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy($"r")
        .rowsBetween(Window.unboundedPreceding, 0)
      val qhat = hist
        .withColumn("cum", sum($"c").over(wCum))
        .filter($"cum" >= expr("((n_cal + 1) * 9 + 9) DIV 10"))
        .agg(min($"r").as("qhat"))
      val tstat = tst.crossJoin(broadcast(cstat.select($"center")))
        .crossJoin(broadcast(qhat))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs($"nt" - $"center") <= $"qhat", 1L).otherwise(0L))
            .as("covered"))
      cstat.crossJoin(broadcast(qhat)).crossJoin(broadcast(tstat))
        .select($"n_cal", $"center", $"qhat", $"n_test", $"covered",
          pr($"covered".cast("double") / $"n_test", 6).as("coverage"))
    },
    Some(s"""WITH d AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS nt
             |          FROM documents),
             |cal AS (SELECT nt FROM d WHERE doc_id % 2 = 0),
             |tst AS (SELECT nt FROM d WHERE doc_id % 2 <> 0),
             |cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
             |              CAST(SUM(nt) // COUNT(*) AS BIGINT) AS center
             |       FROM cal),
             |h AS (SELECT abs(nt - center) AS r, CAST(COUNT(*) AS BIGINT) AS c,
             |             ANY_VALUE(n_cal) AS n_cal
             |      FROM cal, cs GROUP BY 1),
             |q AS (SELECT CAST(MIN(r) AS BIGINT) AS qhat FROM (
             |        SELECT r, n_cal, SUM(c) OVER (ORDER BY r
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |        FROM h)
             |      WHERE cum >= ((n_cal + 1) * 9 + 9) // 10),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             |             CAST(SUM(CASE WHEN abs(nt - center) <= qhat
             |                           THEN 1 ELSE 0 END) AS BIGINT) AS covered
             |      FROM tst, cs, q)
             |SELECT n_cal, center, qhat, n_test, covered,
             |       ${prSql("CAST(covered AS DOUBLE) / n_test", 6)} AS coverage
             |FROM cs, q, t""".stripMargin))

  // ------------------------------------------------- Gini concentration
  /** Gini coefficient of token mass across documents — the corpus-
    * concentration audit (is the training set dominated by a few huge
    * documents?). The classic rank formula G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n
    * needs a corpus-wide sort; over the DISTINCT-value histogram the
    * rank-sum telescopes instead: items sharing value v occupy the rank
    * block (C_prev, C_prev + c_v], whose rank sum is
    * c_v·C_prev + c_v(c_v+1)/2 — so Σ i·xᵢ = Σ_v v·(that), ALL-INTEGER
    * prefix sums over a table bounded by the token-count domain
    * (q_stats_ks convention), two IEEE divisions at the edge. */
  val statsGini = QueryDef(
    "q_stats_gini",
    (s, dir) => {
      import s.implicits._
      val d = TextOps.spread(Tables(s, dir, "documents"))
        .select(size(TextOps.tokens($"text")).cast("long").as("nt"))
      val hist = d.groupBy($"nt").agg(count(lit(1)).as("c"))
      val wPrev = Window.orderBy($"nt")
        .rowsBetween(Window.unboundedPreceding, -1)
      // The 2× is multiplied through (2·Σi·xᵢ = Σ_v v·(2c·C_prev + c(c+1)))
      // so no division ever touches the integers; rank sums reach ~n²·x̄ —
      // DECIMAL(38,0) internals (the q_label_kappa convention: exact far
      // past int64, scale 0 so no silent scale clip; DuckDB runs the same
      // values through HUGEINT). INTERNAL only — outputs are BIGINT/DOUBLE.
      val d38 = DecimalType(38, 0)
      val sums = hist
        .withColumn("cprev", coalesce(sum($"c").over(wPrev), lit(0L)))
        .withColumn("rsum2", lit(2).cast(d38) * $"c".cast(d38) * $"cprev".cast(d38) +
          $"c".cast(d38) * ($"c".cast(d38) + lit(1).cast(d38)))
        .agg(sum($"c").as("n"), sum($"nt" * $"c").as("tot"),
          sum($"nt".cast(d38) * $"rsum2").as("rs2"))
      sums.select($"n", $"tot",
        pr($"rs2".cast("double") /
          ($"n".cast("double") * $"tot".cast("double")) -
          ($"n" + lit(1.0)) / $"n", 6).as("gini"))
    },
    Some(s"""WITH d AS (SELECT CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
             |h AS (SELECT nt, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY nt),
             |p AS (SELECT nt, c,
             |             CAST(COALESCE(SUM(c) OVER (ORDER BY nt
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cprev
             |      FROM h),
             |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             |             CAST(SUM(nt * c) AS BIGINT) AS tot,
             |             SUM(CAST(nt AS HUGEINT) *
             |                 (2 * CAST(c AS HUGEINT) * cprev +
             |                  CAST(c AS HUGEINT) * (c + 1))) AS rs2
             |      FROM p)
             |SELECT n, tot,
             |       ${prSql("CAST(rs2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)) - (n + 1.0) / n", 6)} AS gini
             |FROM a""".stripMargin))

  // ------------------------------------------------ batch sessionization
  /** Gap-based sessionization of the event stream (30-minute inactivity
    * cutoff) reduced to the session-length histogram — the batch
    * counterpart of the streaming q_stream_session pipeline. Session
    * boundaries come from a lag window PARTITIONED BY user (no global
    * window at any scale); the boundary cumsum is another user-
    * partitioned window; sessions then reduce by (user, session) and the
    * report by session length. Durations stay exact epoch-micros
    * integers until one division chain at the edge. */
  val eventsSessions = QueryDef(
    "q_events_sessions",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("us"))
      val wu = Window.partitionBy($"user_id").orderBy($"us")
      val sess = ev
        .withColumn("brk",
          when(lag($"us", 1).over(wu).isNull ||
            $"us" - lag($"us", 1).over(wu) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("sid", sum($"brk").over(
          Window.partitionBy($"user_id").orderBy($"us")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"sid")
        .agg(count(lit(1)).as("len"), (max($"us") - min($"us")).as("dur_us"))
      sess.groupBy($"len")
        .agg(count(lit(1)).as("n_sessions"),
          pr((sum($"dur_us").cast("double") / count(lit(1))) / lit(1e6), 6)
            .as("avg_duration_sec"))
        .orderBy($"len")
    },
    Some(s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
             |b AS (SELECT user_id, us,
             |             CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             |                    OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
             |                       > 30 * 60 * 1000000
             |                  THEN 1 ELSE 0 END AS brk
             |      FROM ev),
             |sx AS (SELECT user_id, us,
             |              SUM(brk) OVER (PARTITION BY user_id ORDER BY us
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |       FROM b),
             |sess AS (SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS len,
             |                CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
             |         FROM sx GROUP BY 1, 2)
             |SELECT len, CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |       ${prSql("(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*)) / 1e6", 6)} AS avg_duration_sec
             |FROM sess GROUP BY len ORDER BY len""".stripMargin))

  // ----------------------------------------------------- Welch z-test
  /** A/B experiment readout — Welch z-test on events-per-user between
    * the even/odd user_id cohorts (unequal-variance two-sample test;
    * Welch 1947). Per-cohort Σx and Σx² are exact BIGINTs off one
    * per-user reduce; means, variances and z are a fixed IEEE op
    * sequence (divisions + one correctly-rounded sqrt — no libm risk
    * class), floor-rounded 6dp; a zero standard error (all counts
    * identical) pins z to 0 via a comparison of the deterministic
    * double itself. */
  val statsAbtest = QueryDef(
    "q_stats_abtest",
    (s, dir) => {
      import s.implicits._
      val per = Tables(s, dir, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("x"))
        .select(($"user_id" % 2).as("v"), $"x")
      val agg = per.groupBy($"v")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"))
      val w = agg.agg(
        max(when($"v" === 1, $"n")).as("n1"),
        max(when($"v" === 1, $"sx")).as("sx1"),
        max(when($"v" === 1, $"sxx")).as("sxx1"),
        max(when($"v" === 0, $"n")).as("n0"),
        max(when($"v" === 0, $"sx")).as("sx0"),
        max(when($"v" === 0, $"sxx")).as("sxx0"))
      def m(sx: Column, n: Column) = sx.cast("double") / n
      def va(sxx: Column, sx: Column, n: Column) =
        (sxx.cast("double") -
          sx.cast("double") * sx.cast("double") / n) / (n - lit(1L))
      val se = sqrt(va($"sxx1", $"sx1", $"n1") / $"n1" +
        va($"sxx0", $"sx0", $"n0") / $"n0")
      w.select($"n1", $"n0",
        pr(m($"sx1", $"n1"), 6).as("mean1"),
        pr(m($"sx0", $"n0"), 6).as("mean0"),
        when(se === 0.0, lit(0.0))
          .otherwise(pr((m($"sx1", $"n1") - m($"sx0", $"n0")) / se, 6))
          .as("z"))
    },
    Some {
      def va(sxx: String, sx: String, n: String) =
        s"(CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE) / $n) / ($n - 1)"
      val se = s"sqrt(${va("sxx1", "sx1", "n1")} / n1 + ${va("sxx0", "sx0", "n0")} / n0)"
      s"""WITH per AS (SELECT user_id % 2 AS v, CAST(COUNT(*) AS BIGINT) AS x
         |             FROM events GROUP BY user_id),
         |a AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
         |             CAST(SUM(x) AS BIGINT) AS sx,
         |             CAST(SUM(x * x) AS BIGINT) AS sxx
         |      FROM per GROUP BY v),
         |w AS (SELECT CAST(MAX(CASE WHEN v = 1 THEN n END) AS BIGINT) AS n1,
         |             CAST(MAX(CASE WHEN v = 1 THEN sx END) AS BIGINT) AS sx1,
         |             CAST(MAX(CASE WHEN v = 1 THEN sxx END) AS BIGINT) AS sxx1,
         |             CAST(MAX(CASE WHEN v = 0 THEN n END) AS BIGINT) AS n0,
         |             CAST(MAX(CASE WHEN v = 0 THEN sx END) AS BIGINT) AS sx0,
         |             CAST(MAX(CASE WHEN v = 0 THEN sxx END) AS BIGINT) AS sxx0
         |      FROM a)
         |SELECT n1, n0,
         |       ${prSql("CAST(sx1 AS DOUBLE) / n1", 6)} AS mean1,
         |       ${prSql("CAST(sx0 AS DOUBLE) / n0", 6)} AS mean0,
         |       CASE WHEN $se = 0.0 THEN 0.0
         |            ELSE ${prSql(
               s"(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0) / ($se)", 6)} END AS z
         |FROM w""".stripMargin
    })

  // ------------------------------------------------------- Heaps' law
  /** Heaps-law fit of vocabulary growth across domains (Heaps 1978:
    * V ≈ K·N^β, so ln V is affine in ln N): exact OLS over the
    * |domains|-row (ln N_s, ln V_s) point set — the lexical-diversity
    * summary that flags template-heavy or boilerplate domains (β → 0)
    * vs natural text (β ≈ 0.5–0.7). ln's floor-round to 8dp; their
    * products go through exact DECIMAL(38,16) sums; slope and intercept
    * are divisions of exactly-representable numerators/denominators,
    * floor-rounded 6dp. */
  val textHeaps = QueryDef(
    "q_text_heaps",
    (s, dir) => {
      import s.implicits._
      // 8dp lns cast to DECIMAL(12,8); their products are EXACT 16dp
      // decimals ((12,8)×(12,8) → (25,16), far under precision 38 — no
      // silent scale clip, invariant 12). The normal-equation arithmetic
      // then runs entirely in DOUBLE with operands cast FIRST (identical
      // IEEE op sequence in both engines).
      val d8 = DecimalType(12, 8)
      val pts = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", explode(TextOps.tokens($"text")).as("w"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), countDistinct($"w").as("v"))
        .select(pr(log($"n"), 8).cast(d8).as("x"),
          pr(log($"v"), 8).cast(d8).as("y"))
      val sums = pts.agg(count(lit(1)).as("k"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
        .select($"k", $"sx".cast("double").as("sx"),
          $"sy".cast("double").as("sy"), $"sxx".cast("double").as("sxx"),
          $"sxy".cast("double").as("sxy"))
      val nm = $"k".cast("double") * $"sxy" - $"sx" * $"sy"
      val dn = $"k".cast("double") * $"sxx" - $"sx" * $"sx"
      sums.select($"k", pr(nm / dn, 6).as("beta"),
        pr(($"sy" - nm / dn * $"sx") / $"k", 6).as("ln_k"))
    },
    Some {
      val nm = "CAST(k AS DOUBLE) * sxy - sx * sy"
      val dn = "CAST(k AS DOUBLE) * sxx - sx * sx"
      s"""WITH t AS (SELECT source, unnest($toksSql) AS w FROM documents),
         |p AS (SELECT CAST(${prSql("ln(COUNT(*))", 8)} AS DECIMAL(12,8)) AS x,
         |             CAST(${prSql("ln(COUNT(DISTINCT w))", 8)} AS DECIMAL(12,8)) AS y
         |      FROM t GROUP BY source),
         |sm AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |              CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |              -- widen ONE operand: DuckDB plans (12,8)×(12,8) on the
         |              -- int64 decimal path and ln(90M-token corpora)² overflows
         |              -- DECIMAL(18,16) at sf1; the int128 product is the same
         |              -- exact 16dp decimal (Spark's BigDecimal already is)
         |              CAST(SUM(CAST(x AS DECIMAL(20,8)) * x) AS DOUBLE) AS sxx,
         |              CAST(SUM(CAST(x AS DECIMAL(20,8)) * y) AS DOUBLE) AS sxy
         |       FROM p)
         |SELECT k, ${prSql(s"($nm) / ($dn)", 6)} AS beta,
         |       ${prSql(s"(sy - ($nm) / ($dn) * sx) / k", 6)} AS ln_k
         |FROM sm""".stripMargin
    })

  // --------------------------------------------------- soft dedup weights
  /** SoftDeDup-style duplication reweighting: instead of DROPPING
    * duplicates, each document carries training weight 1/|cluster| so
    * every distinct text contributes unit effective mass regardless of
    * copy count (the downweight-don't-delete alternative the dedup
    * ladder's removal ops lack). Clusters here are exact-text groups
    * (md5 of the normalized text — the q_dedup_exact keying); the
    * weight is one IEEE division, floor-rounded 6dp. One groupBy + one
    * join back, both keyed by the text hash — linear at any scale. */
  val dedupReweight = QueryDef(
    "q_dedup_reweight",
    (s, dir) => {
      import s.implicits._
      val d = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", md5(lower(trim($"text"))).as("h"))
      val cs = d.groupBy($"h").agg(count(lit(1)).as("csize"))
      d.join(cs, "h")
        .select($"doc_id", $"csize",
          pr(lit(1.0) / $"csize", 6).as("w"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
             |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS csize FROM d GROUP BY h)
             |SELECT doc_id, csize, ${prSql("1.0 / csize", 6)} AS w
             |FROM d JOIN c USING (h) ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------ n-gram novelty
  /** Per-document n-gram novelty: the share of a document's DISTINCT
    * trigrams whose global FIRST occurrence (minimum doc_id) is this
    * document — the freshness signal that separates template/boilerplate
    * tails from genuinely new text as a corpus accretes. Two keyed
    * aggregations (per-(doc, gram) distinct, per-gram min) and one
    * equi-join back — linear in corpus trigrams; the ratio is one IEEE
    * division, floor-rounded 6dp. */
  val textNovelty = QueryDef(
    "q_text_novelty",
    (s, dir) => {
      import s.implicits._
      val tg = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id",
          explode(TextOps.kgrams(TextOps.tokens($"text"), 3)).as("g"))
        .distinct()
      val first = tg.groupBy($"g").agg(min($"doc_id").as("fdoc"))
      tg.join(first, "g")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"fdoc" === $"doc_id", 1L).otherwise(0L)).as("novel"))
        .select($"doc_id", $"n_grams", $"novel",
          pr($"novel".cast("double") / $"n_grams", 6).as("novelty"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
             |tg AS (SELECT DISTINCT doc_id,
             |              toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3] AS g
             |       FROM t, unnest(range(greatest(len(toks) - 2, 0))) AS u(j)),
             |f AS (SELECT g, MIN(doc_id) AS fdoc FROM tg GROUP BY g)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |       CAST(SUM(CASE WHEN fdoc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
             |       ${prSql("CAST(SUM(CASE WHEN fdoc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS novelty
             |FROM tg JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // -------------------------------------------------------- pass@k
  /** Unbiased pass@k estimator (Chen et al. 2021, the HumanEval
    * combinatorial form): per item with n trials and c successes,
    * pass@k = 1 − C(n−c,k)/C(n,k) = 1 − Π_{j<k}(n−c−j)/(n−j), exact
    * when n−c ≥ k and exactly 1 otherwise (every k-subset contains a
    * success). Items are users, trials their events, successes their
    * purchases, k = 3 (the fixture's stand-in for per-prompt sample
    * grading). Per-item values are fixed IEEE product chains
    * floor-rounded 8dp, averaged through an exact DECIMAL sum. */
  val evalPassk = QueryDef(
    "q_eval_passk",
    (s, dir) => {
      import s.implicits._
      val k = 3
      val per = Tables(s, dir, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("c"))
        .filter($"n" >= k)
      val frac = (0 until k).map(j =>
        ($"n" - $"c" - lit(j)).cast("double") / ($"n" - lit(j)))
        .reduce(_ * _)
      val p = per.withColumn("pk",
        when($"n" - $"c" < k, lit(1.0)).otherwise(pr(lit(1.0) - frac, 8)))
      p.agg(count(lit(1)).as("n_items"),
        pr(sum($"pk".cast(DecimalType(18, 8))).cast("double") /
          count(lit(1)), 6).as(s"pass_at_$k"))
        .select($"n_items", lit(k).as("k"), col(s"pass_at_$k"))
    },
    Some(s"""WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |              CAST(SUM(CASE WHEN event_type = 'purchase'
             |                            THEN 1 ELSE 0 END) AS BIGINT) AS c
             |             FROM events GROUP BY user_id),
             |f AS (SELECT CASE WHEN n - c < 3 THEN 1.0
             |             ELSE ${prSql(
               "1.0 - (CAST(n - c - 0 AS DOUBLE) / (n - 0)) * " +
                 "(CAST(n - c - 1 AS DOUBLE) / (n - 1)) * " +
                 "(CAST(n - c - 2 AS DOUBLE) / (n - 2))", 8)} END AS pk
             |      FROM per WHERE n >= 3)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_items, 3 AS k,
             |       ${prSql("CAST(SUM(CAST(pk AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)", 6)} AS pass_at_3
             |FROM f""".stripMargin))

  // -------------------------------------------------- epoch allocation
  /** Data-constrained epoch allocation (the repeat-budgeting step of
    * Muennighoff et al. NeurIPS'23): given a token budget B = 2× the
    * corpus and temperature-0.5 target weights w_s ∝ √n_s, each domain
    * trains for epochs_s = min(4, w_s·B/n_s) epochs (the ~4-epoch
    * diminishing-returns cap) for alloc_s = ⌊epochs_s·n_s⌋ tokens.
    * The √n weights go through DECIMAL(18,8) (IEEE sqrt is correctly
    * rounded — the q_mix_temperature convention); everything after is a
    * fixed IEEE op sequence on exact inputs. One groupBy + a 1-row
    * broadcast — |domains| rows end to end. */
  val mixEpochs = QueryDef(
    "q_mix_epochs",
    (s, dir) => {
      import s.implicits._
      val bySrc = TextOps.spread(Tables(s, dir, "documents"))
        .select($"source", size(TextOps.tokens($"text")).cast("long").as("nt"))
        .groupBy($"source")
        .agg(sum($"nt").as("n"))
        .select($"source", $"n",
          sqrt($"n".cast("double")).cast(DecimalType(18, 8)).as("u"))
      val tot = bySrc.agg(sum($"u").as("z"), sum($"n").as("total"))
      val ep = least(lit(4.0),
        ($"u".cast("double") / $"z".cast("double")) *
          (lit(2.0) * $"total") / $"n")
      bySrc.crossJoin(broadcast(tot))
        .select($"source", $"n".as("n_tokens"),
          pr($"u".cast("double") / $"z".cast("double"), 6).as("weight"),
          pr(ep, 6).as("epochs"),
          floor(ep * $"n").cast("long").as("alloc_tokens"))
        .orderBy($"source")
    },
    Some(s"""WITH d AS (SELECT source,
             |            CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
             |bs AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n FROM d GROUP BY source),
             |u AS (SELECT source, n,
             |             CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(18,8)) AS u
             |      FROM bs),
             |t AS (SELECT SUM(u) AS z, CAST(SUM(n) AS BIGINT) AS total FROM u)
             |SELECT source, n AS n_tokens,
             |       ${prSql("CAST(u AS DOUBLE) / CAST(z AS DOUBLE)", 6)} AS weight,
             |       ${prSql("least(4.0, (CAST(u AS DOUBLE) / CAST(z AS DOUBLE)) * (2.0 * total) / n)", 6)} AS epochs,
             |       CAST(floor(least(4.0, (CAST(u AS DOUBLE) / CAST(z AS DOUBLE)) * (2.0 * total) / n) * n) AS BIGINT) AS alloc_tokens
             |FROM u, t ORDER BY source""".stripMargin))

  // -------------------------------------------------- watermark detection
  /** Green-list watermark detection (Kirchenbauer et al. ICML'23): a
    * watermarking sampler biases each token toward a "green list" seeded
    * by the previous token's hash; the detector recomputes membership —
    * green(w₁→w₂) = hash(w₁:w₂) even — and tests the green fraction
    * against the null binomial(n, 1/2): z = (2g − n)/√n. Per-doc bigram
    * stream (the q_text_perplexity shape), exact integer counts, one
    * correctly-rounded sqrt + one division, floor-rounded 6dp. Unmarked
    * text (this fixture) must read |z| ~ O(1) — the spec pins the null
    * band. */
  val textWatermark = QueryDef(
    "q_text_watermark",
    (s, dir) => {
      import s.implicits._
      val docs = TextOps.spread(Tables(s, dir, "documents"))
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
      val bg = docs
        .select($"doc_id", $"toks",
          posexplode(slice($"toks", lit(1), greatest(size($"toks") - 1, lit(0)))))
        .select($"doc_id", $"col".as("w1"), element_at($"toks", $"pos" + 2).as("w2"))
      bg.select($"doc_id",
        (TextOps.strHash(concat($"w1", lit(":"), $"w2")) % 2).as("green"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when($"green" === 0, 1L).otherwise(0L)).as("g"))
        .select($"doc_id", $"n", $"g",
          pr(($"g" * 2 - $"n").cast("double") / sqrt($"n".cast("double")), 6)
            .as("z"))
        .orderBy($"doc_id")
    },
    Some {
      val h = s"CAST(('0x' || substr(md5(w1 || ':' || w2), 1, 15)) AS BIGINT) % ${TextOps.P}"
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[j+1] AS w1, toks[j+2] AS w2
         |       FROM t, unnest(range(greatest(len(toks) - 1, 0))) AS u(j)),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(SUM(CASE WHEN ($h) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g
         |       FROM bg GROUP BY doc_id)
         |SELECT doc_id, n, g,
         |       ${prSql("CAST(g * 2 - n AS DOUBLE) / sqrt(CAST(n AS DOUBLE))", 6)} AS z
         |FROM sc ORDER BY doc_id""".stripMargin
    })

  // ----------------------------------------------- Matryoshka recall
  /** Matryoshka truncation audit (Kusupati et al. NeurIPS'22 framing):
    * recall@5 of HALF-dimension cosine search against the full-dim
    * exact top-5 for the standard 5 query vectors — how much ranking
    * survives cutting the embedding to its 32-dim prefix (the
    * latency/quality dial MRL-style embeddings expose). Same
    * brute-force shape as q_ann_recall's exact arm: a 5-query broadcast
    * against the spread corpus, per-query top-5 windows (partitioned by
    * qid), round-6 cosines on both engines. Left-joins the hit counts
    * back onto the query set so a zero-overlap query reports
    * recall_at_5 = 0 instead of vanishing — the audit must be loudest
    * exactly when truncation damage is worst. */
  val vecMatryoshka = QueryDef(
    "q_vec_matryoshka",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val c = TextOps.spread(e).select($"vec_id".as("cid"), $"embedding".as("cv"))
      def top5(score: Column) = graft.pipeline.Similarity
        .nearest(c, q, "qid", "cid", "cos", score, 5, 6).select($"qid", $"cid")
      val full = top5(graft.functions.vec.cosine($"cv", $"qv"))
      val half = top5(graft.functions.vec.cosine(
        slice($"cv", 1, 32), slice($"qv", 1, 32)))
      val hits = full.join(half, Seq("qid", "cid"))
        .groupBy($"qid").agg(count(lit(1)).as("nh"))
      q.select($"qid").join(broadcast(hits), Seq("qid"), "left")
        .select($"qid", coalesce($"nh", lit(0L)).as("n_hit"),
          (coalesce($"nh", lit(0L)) / 5.0).as("recall_at_5"))
        .orderBy($"qid")
    },
    Some {
      def cos(a: String, b: String) =
        s"""round(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0
           |           THEN 0.0
           |           ELSE list_dot_product($a, $b) /
           |                (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END, 6)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
         |sf AS (SELECT q.qid, c.vec_id AS cid, ${cos("c.v", "q.qv")} AS cos
         |       FROM e c CROSS JOIN q),
         |full5 AS (SELECT qid, cid FROM (
         |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |            FROM sf) WHERE rn <= 5),
         |sh AS (SELECT q.qid, c.vec_id AS cid,
         |              ${cos("list_slice(c.v, 1, 32)", "list_slice(q.qv, 1, 32)")} AS cos
         |       FROM e c CROSS JOIN q),
         |half5 AS (SELECT qid, cid FROM (
         |            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |            FROM sh) WHERE rn <= 5),
         |hit AS (SELECT full5.qid, CAST(COUNT(*) AS BIGINT) AS nh
         |        FROM full5 JOIN half5 USING (qid, cid) GROUP BY full5.qid)
         |SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hit,
         |       coalesce(nh, 0) / 5.0::DOUBLE AS recall_at_5
         |FROM q LEFT JOIN hit USING (qid) ORDER BY q.qid""".stripMargin
    })

  val all: Seq[QueryDef] =
    Seq(statsBootstrap, eventsSurvival, eventsItemsets, mixDoremi,
      rankTau, textJsd, statsConformal, statsGini,
      eventsSessions, statsAbtest, textHeaps,
      dedupReweight, textNovelty, evalPassk, mixEpochs,
      textWatermark, vecMatryoshka)
}
