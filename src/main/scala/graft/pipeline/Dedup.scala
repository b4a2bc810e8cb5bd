package graft.pipeline

import graft.functions.vec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Every operator is shuffle-shaped for 100 TB: exact dedup is one groupBy
  * on a 128-bit digest (no text comparison after the hash); MinHash-LSH
  * turns the quadratic all-pairs problem into |bands| equi-join shuffles on
  * (band, band_key); SimHash reduces a document to one int64 so candidate
  * generation is a bit-bucket join; only the final verification (n-gram
  * Jaccard / embedding cosine) touches candidate pairs, whose cardinality
  * LSH already bounded.
  */
object Dedup {
  import TextOps._

  /** Exact dedup: group by md5(text); keeper = min id per group.
    * At scale: the only wide op is one hash-keyed groupBy — never compares
    * full texts, never collects. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** MinHash signatures in row shape: (doc_id, i, mh) for i < numHashes,
    * over word 3-shingles. Computed entirely MAP-SIDE by the compiled
    * [[graft.functions.MinHashSig]] expression (one md5 per shingle, tight
    * permutation loop) — the operator is shuffle-free; the only exploded
    * rows are the numHashes output rows per doc. Empty docs (no shingles)
    * yield no rows, matching the aggregate formulation. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16): DataFrame =
    spread(docs)
      .select(col(idCol).as("doc_id"),
        graft.functions.text.minhashSig(
          tokens(col(textCol)), 3, numHashes).as("sig"))
      // NOTE: posexplode's injected size/notnull condition textually inlines
      // the signature expression, but runtime subexpression elimination
      // dedupes it (verified: an explicit exchange barrier buys nothing)
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("mh"))

  /** MinHash-LSH candidate pairs: band signatures → equi-join buckets →
    * estimated Jaccard (matching-minhash fraction) ≥ threshold.
    * rowsPerBand=4 over 16 hashes → 4 bands; est-Jaccard verification
    * prunes band-collision false positives. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val mh = minhashSignatures(docs, idCol, textCol, numHashes)
    val bands = bandKeys(mh, rowsPerBand)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    estJaccard(cand, mh, mh, numHashes).filter(col("est_jaccard") >= threshold)
  }

  /** Estimated Jaccard (matching-minhash fraction) for candidate pairs
    * (a, b) whose signatures may live in DIFFERENT tables — the shared
    * verification step of the batch self-join ([[minhashPairs]]) and the
    * streaming index-vs-batch path (streaming.NearDupIngest). Returns
    * (a, b, est_jaccard). */
  private[graft] def estJaccard(cand: DataFrame, sigA: DataFrame,
                                sigB: DataFrame, numHashes: Int): DataFrame = {
    val ma = sigA.select(col("doc_id").as("a"), col("i"), col("mh").as("mha"))
    val mb = sigB.select(col("doc_id").as("b"), col("i"), col("mh").as("mhb"))
    cand.join(ma, "a").join(mb, Seq("b", "i"))
      .groupBy(col("a"), col("b"))
      .agg((sum(when(col("mha") === col("mhb"), 1).otherwise(0)) /
        lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** Band keys for LSH banding over (doc_id, i, mh) signature rows: one
    * row per (doc, band) keyed by the md5 of the band's minhashes in
    * i-order. Collision-free for distinct band contents (a weighted sum —
    * the previous key — can collide, adding spurious candidates),
    * fixed-width, and cross-engine reproducible (md5 of the
    * comma-joined decimal values). */
  private[graft] def bandKeys(mh: DataFrame, rowsPerBand: Int): DataFrame =
    mh.groupBy(col("doc_id"), floor(col("i") / rowsPerBand).as("band"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("i"), col("mh")))),
          s => s.getField("mh").cast("string")))).as("bkey"))

  /** 32-bit SimHash over unigram TF: bit b set iff Σ tf·(±1 by hash bit b)
    * is positive. One doc → one int64; near-dups differ in few bits. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    val tf = spread(docs).select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .withColumn("hv", strHash(col("t")))
    tf.select(col("doc_id"), col("tf"), col("hv"),
        explode(sequence(lit(0), lit(bits - 1))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(col("tf") *
        (expr("shiftright(hv, b)").bitwiseAND(1) * 2 - 1)).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
        .otherwise(0L)).as("simhash"))
  }

  /** Word-3-shingle Jaccard for given candidate pairs (a ⋈ b by id).
    * Shingles are computed only for docs that appear in a pair (semi-join
    * pruning) — candidate sets are tiny relative to the corpus. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame): DataFrame = {
    val ids = pairs.select(col("a").as("pid"))
      .unionByName(pairs.select(col("b").as("pid"))).distinct()
    // r15 (guide §4): shingle arrays stored SORTED (per-doc cost) so the
    // per-PAIR verify kernel is a zero-allocation merge count instead of
    // array_intersect's per-pair hash set + thrown-away intersection array
    val sh = docs
      .join(broadcast(ids), col(idCol) === col("pid"), "left_semi")
      .select(col(idCol).as("id"),
        array_sort(shingles(tokens(col(textCol)))).as("sh"))
    pairs
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter",
        graft.functions.hashx.sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("jaccard", col("inter") /
        (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Embedding-cosine near-dup ranking, scale path: sign-LSH bucket each
    * vector (hyperplanes at the TRUE corpus dimension), generate candidate
    * pairs by a bucket equi-join (one shuffle keyed on the bucket int —
    * never an all-pairs loop), then exact-cosine-verify only the
    * candidates. Same output shape as [[embeddingCosinePairs]] restricted
    * to same-bucket candidates; exact duplicates always collide (identical
    * vector ⇒ identical bucket), so dedup recall on true copies is 1.0.
    * At 100 TB raise `numPlanes` so buckets stay executor-sized. */
  def embeddingCosineLsh(emb: DataFrame, idCol: String, vecCol: String,
                         topK: Int, numPlanes: Int = 4, roundTo: Int = 6,
                         dim: Int = 0): DataFrame = {
    val vd = Similarity.doubles(col(vecCol))
    val trueDim =
      if (dim > 0) dim
      else emb.select(size(col(vecCol)).as("d")).head(1)
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (trueDim == 0) // empty corpus: no pairs, right schema
      return emb.sparkSession.emptyDataFrame
        .select(lit(0L).as("a"), lit(0L).as("b"), lit(0.0).as("cos")).limit(0)
    val planes = Similarity.hyperplanes(numPlanes, trueDim)
    // per-row precompute (cast, norm, bucket) happens |rows| times; the
    // pair loop below touches only same-bucket candidates
    val side = spread(emb).select(col(idCol).as("id"), vd.as("v"),
      vec.norm(vd).as("nrm"), Similarity.bucketCol(vd, planes).as("bucket"))
    side.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na"),
        col("bucket"))
      .join(side.select(col("id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"), col("bucket")), "bucket")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(when(col("na") * col("nb") === 0.0, 0.0)
          .otherwise(vec.dot(col("va"), col("vb")) / (col("na") * col("nb"))),
          roundTo).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Embedding-cosine near-dup ranking: all pairs i<j scored, top-k most
    * similar. The all-pairs cross join is the EXACT BASELINE, kept for
    * spec cross-checks only — the declared/production operator is
    * [[embeddingCosineLsh]] (candidate generation must never be O(n²) at
    * scale). */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           topK: Int, roundTo: Int = 6): DataFrame = {
    // per-row precompute on each side: float→double cast and norm happen
    // |rows| times, so the O(n²) pair loop does exactly one dot per pair
    val vd = Similarity.doubles(col(vecCol))
    // spread the STREAM side: a small-file corpus scans as 1 partition and
    // the broadcast-NL pair loop inherits it — single-threaded O(n²)
    val a = spread(emb).select(col(idCol).as("a"), vd.as("va"), vec.norm(vd).as("na"))
    val b = emb.select(col(idCol).as("b"), vd.as("vb"), vec.norm(vd).as("nb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(when(col("na") * col("nb") === 0.0, 0.0)
          .otherwise(vec.dot(col("va"), col("vb")) / (col("na") * col("nb"))),
          roundTo).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with a caller-supplied coarse quantizer (cid, cv)
    * — typically [[Similarity.kmeansCentroids]] — then prune every vector
    * whose CELL contains a smaller-id vector with round-6 cosine ≥ `tau`.
    * Returns one row per pruned vector: (idCol, keep_id, cos), keep_id =
    * the smallest qualifying cell-mate (min-struct tie discipline).
    *
    * Scale shape — the SemDeDup trick re-expressed as a plan: candidate
    * generation is the cluster assignment (broadcast centroids + ONE
    * narrow corpus pass, the IVF-build shape), and the pairwise check is
    * one cid equi-join, so pair volume is Σ_cell |cell|² — with the
    * ⌈√n⌉-sized trained codebook that is ~n^1.5 cell-local work instead
    * of the n² corpus cross-join, and each cell's pairs stay inside one
    * shuffle partition. Exact copies always share a cell (identical
    * vector ⇒ identical round-6 argmax + cid tie-break), so recall on
    * true duplicates is 1; near-dups split across cell boundaries are the
    * documented SemDeDup approximation (raise k or probe neighbors to
    * tighten). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    cent: DataFrame, tau: Double,
                    roundTo: Int = 6): DataFrame = {
    val assigned = Similarity.assignCells(Similarity.vectors(emb, idCol, vecCol),
        cent, roundTo).select(col("vid"), col("v"), col("cid"))
    assigned.join(assigned.select(col("cid"), col("vid").as("bvid"),
        col("v").as("bv")), "cid")
      .filter(col("bvid") < col("vid"))
      .withColumn("cos", round(vec.cosine(col("v"), col("bv")), roundTo))
      .filter(col("cos") >= tau)
      .groupBy(col("vid"))
      .agg(min(struct(col("bvid"), col("cos"))).as("k"))
      .select(col("vid").as(idCol), col("k.bvid").as("keep_id"),
        col("k.cos").as("cos"))
  }

  /** Budget-keyed cell assignment shared by [[semanticDedupBudget]] and
    * its spec: every vector's cell (arg-max round-6 cosine vs the
    * broadcast quantizer, cid tie-break) plus a sub-group key `sub` that
    * is 0 for cells within the `budget` and a RESIDUAL sign-LSH bucket
    * (hyperplane signs of v − centroid) for oversized cells. Residuals of
    * a tight cluster center on 0, so the hyperplanes split exactly the
    * cells raw-vector LSH cannot (a tight cluster sits on ONE side of
    * every raw hyperplane); identical vectors share cell, centroid, and
    * residual, so exact duplicates always share (cid, sub). Returns
    * (vid, v, cid, sub). */
  private[graft] def budgetGroups(emb: DataFrame, idCol: String,
                                  vecCol: String, cent: DataFrame,
                                  budget: Long, numPlanes: Int,
                                  roundTo: Int, dim: Int): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 63,
      s"numPlanes must be in [1, 63] (got $numPlanes): 0 planes has no " +
        "reduce seed and >63 overflows the int64 sub-bucket key")
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val trueDim =
      if (dim > 0) dim
      else emb.select(size(col(vecCol)).as("d")).head(1)
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (trueDim == 0)
      return emb.sparkSession.range(0)
        .select(lit(0L).as("vid"), array().cast("array<double>").as("v"),
          lit(0L).as("cid"), lit(0L).as("sub"))
    val planes = Similarity.hyperplanes(numPlanes, trueDim)
    val assigned = Similarity.assignCells(Similarity.vectors(emb, idCol, vecCol),
        cent, roundTo).select(col("vid"), col("v"), col("cid"), col("cv"))
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val subCol = planes.zipWithIndex.map { case (p, b) =>
      when(vec.dot(col("v"), typedlit(p)) -
        vec.dot(col("cv"), typedlit(p)) > 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)
    assigned.join(broadcast(sizes), "cid")
      .withColumn("sub",
        when(col("csz") > budget, subCol).otherwise(lit(0L)))
      .select(col("vid"), col("v"), col("cid"), col("sub"))
  }

  /** [[semanticDedup]] with an EXECUTABLE cell budget — the configuration
    * that makes SemDeDup linear in corpus size instead of n^1.5: the
    * caller sizes the quantizer to the budget (k ≈ n/B centroids —
    * `kmeansCentroids(..., centroidEvery = B)`), so expected cell-local
    * pair volume is B² per cell and n·B total, CONSTANT per row as the
    * corpus grows; and any cell that still exceeds B (skewed corpora
    * cluster hard) falls back to residual sign-LSH sub-buckets
    * ([[budgetGroups]]), bounding the quadratic blow-up a hot cell would
    * otherwise put in one shuffle partition. Near-dups split across
    * sub-buckets are the same documented approximation as SemDeDup's own
    * cell boundaries (raise `numPlanes`' complement or probe neighbors to
    * tighten); exact duplicates always share (cid, sub), so recall on
    * true copies stays 1. Same output contract as [[semanticDedup]]. */
  def semanticDedupBudget(emb: DataFrame, idCol: String, vecCol: String,
                          cent: DataFrame, tau: Double, budget: Long,
                          numPlanes: Int = 4, roundTo: Int = 6,
                          dim: Int = 0): DataFrame = {
    val g = budgetGroups(emb, idCol, vecCol, cent, budget, numPlanes,
      roundTo, dim)
    g.join(g.select(col("cid"), col("sub"), col("vid").as("bvid"),
        col("v").as("bv")), Seq("cid", "sub"))
      .filter(col("bvid") < col("vid"))
      .withColumn("cos", round(vec.cosine(col("v"), col("bv")), roundTo))
      .filter(col("cos") >= tau)
      .groupBy(col("vid"))
      .agg(min(struct(col("bvid"), col("cos"))).as("k"))
      .select(col("vid").as(idCol), col("k.bvid").as("keep_id"),
        col("k.cos").as("cos"))
  }

  /** Rolling-window substring dedup (Lee et al.-style exact substring
    * dedup, on stride-1 token windows): fingerprint EVERY k-token window
    * of every doc (TextOps.kgrams — the zip_with-over-slices rolling
    * build), find windows shared by ≥ `minDocs` distinct docs, and remove
    * every token position covered by a shared window. Catches what
    * [[segmentCleanse]]'s FIXED windows structurally miss: two docs
    * sharing a long span at different token offsets never collide on a
    * fixed segment boundary, but every interior k-window of the shared
    * span collides here regardless of offset.
    *
    * Returns one row per non-empty doc:
    * (doc_id, n_toks, n_dup_toks, cleaned = md5 of surviving tokens in
    * order; md5("") when the whole doc is duplicated span).
    *
    * Scale shape: windows explode to ≈ |tokens| rows/doc with ROLLING
    * POLYNOMIAL fingerprints over per-token hashes (the codegen'd
    * functions.RollingWindowHash — one short md5 per token, never a
    * k-token string per window, one compiled pass per row); ONE
    * distinct-count groupBy on the fingerprint finds shared windows
    * (frequency is the signal — no pairwise compare anywhere); dup-window
    * START positions fold back as one small per-doc int array, and
    * coverage is an in-row interval test — covered positions are never
    * exploded (a k× row blow-up + distinct that goes super-linear when
    * most of the corpus is duplicated), and the full corpus token list is
    * never exploded or re-sorted. All linear in corpus token count. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 20, minDocs: Long = 2): DataFrame = {
    val t = spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
    val g = t.select(col("doc_id"),
        posexplode(graft.functions.text.windowHashes(col("toks"), k)))
      .select(col("doc_id"), col("pos").as("j"), col("col").as("gh"))
    val dup = g.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"))
    // Collect only the dup-window STARTS per doc (≤ |windows| ints) and
    // test coverage in-row: token i is covered iff some start s satisfies
    // s ≤ i ≤ s+k-1. NEVER explode the k covered positions per window —
    // on a heavily-duplicated corpus (the 100 TB case this operator
    // exists for) that explode-then-distinct is a k·|dup windows|-row
    // shuffle of the whole corpus; measured 56× super-linear on the
    // ×10 near-dup-clone scaling fixture (125 s at sf1) vs linear here.
    val cov = g.join(dup, "gh")
      .groupBy("doc_id").agg(collect_set(col("j")).as("starts"))
    t.join(cov, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept",
        filter(col("toks"), (w, i) =>
          !exists(col("starts"), s => s <= i && i <= s + (k - 1))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_dup_toks"),
        md5(array_join(col("kept"), " ")).as("cleaned"))
  }

  /** Winnowing fingerprint similarity (the MOSS algorithm, Schleimer et
    * al. SIGMOD'03): hash every k-token window of every doc (the same
    * rolling [[graft.functions.RollingWindowHash]] kernel substring dedup
    * uses), then slide a w-hash window over the hash sequence and select
    * each window's MINIMUM — only ~2/(w+1) of positions survive, yet any
    * span of ≥ k+w-1 shared tokens is GUARANTEED to contribute at least
    * one shared selected hash, at any token offset. Doc pairs are then
    * generated by equi-join on the selected hash value — candidate
    * generation on a small key, never all-pairs — with hashes selected in
    * more than `maxDocs` docs dropped first (a boilerplate fingerprint's
    * pair fan-out is quadratic volume and zero signal, the same hub cap
    * as Adamic-Adar). Returns (a, b, shared): pairs with ≥ `minShared`
    * distinct shared fingerprints, strongest first.
    *
    * Scale shape: one posexplode to window hashes, a PER-DOC window
    * function for the sliding min (partitioned by doc — no global sort),
    * one distinct, one frequency groupBy for the cap, one equi-join on
    * the fingerprint value. The selection step cuts the join input by
    * ~2/(w+1) versus joining raw window hashes — winnowing IS the
    * volume-reduction step that makes substring-level similarity joins
    * affordable at corpus scale. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 4,
                  minShared: Long = 2, maxDocs: Long = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
    val g = t.select(col("doc_id"),
        graft.functions.text.windowHashes(col("toks"), k).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("nh"), posexplode(col("hs")))
      .select(col("doc_id"), col("nh"), col("pos").as("j"), col("col").as("gh"))
    val frame = Window.partitionBy("doc_id").orderBy("j")
      .rowsBetween(Window.currentRow, w - 1)
    // a window's selected VALUE is its min — tie position is irrelevant
    // to the distinct (doc, hash) set, so no argmin join is needed
    val fp = g.withColumn("m", min(col("gh")).over(frame))
      .filter(col("j") <= col("nh") - w)
      .select(col("doc_id"), col("m").as("fh")).distinct()
      .localCheckpoint()
    val usable = fp.groupBy("fh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDocs)
      .select(col("fh"))
    val fpr = fp.join(usable, "fh")
    fpr.select(col("fh"), col("doc_id").as("a"))
      .join(fpr.select(col("fh"), col("doc_id").as("b")), Seq("fh"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("shared").desc, col("a"), col("b"))
  }

  /** Segment-level boilerplate removal (the line-dedup stage of CCNet-style
    * web pipelines, on token segments since fixture docs are single-line):
    * split each doc into fixed `segLen`-token segments, count how many
    * DISTINCT docs each segment appears in, and drop segments shared by
    * ≥ `minDocs` docs — headers, footers, cookie banners. Returns one row
    * per doc: (doc_id, n_seg, n_kept, cleaned) where cleaned is the md5 of
    * the surviving segments rejoined in order.
    *
    * Scale shape: explode to (doc, j, seg), ONE distinct-count groupBy on
    * the segment string, one broadcast-or-shuffle join back, one groupBy
    * on doc id. No pairwise comparison anywhere — frequency IS the
    * boilerplate signal. */
  def segmentCleanse(docs: DataFrame, idCol: String, textCol: String,
                     segLen: Int = 10, minDocs: Long = 10): DataFrame = {
    val nSeg = ceil(size(col("toks")).cast("double") / segLen).cast("int")
    // zero-token docs: sequence(0, -1) yields the DESCENDING [0,-1], which
    // would emit two phantom empty segments where the oracle's range(0)
    // emits none — guard to an empty array so both engines drop the doc
    val segIdx = when(col("toks").isNotNull && size(col("toks")) > 0,
      sequence(lit(0), nSeg - 1)).otherwise(array().cast("array<int>"))
    val segs = spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(
        transform(segIdx,
          j => array_join(slice(col("toks"), j * segLen + lit(1), lit(segLen)), " "))))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "seg")
    val boiler = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("seg"), lit(true).as("boiler"))
    segs.join(boiler, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("boiler").isNull, struct(col("j"), col("seg"))))),
            s => s.getField("seg")),
          " ")).as("cleaned"))
  }

  /** EXACT all-pairs set-similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    * every document pair with word-3-shingle Jaccard ≥ `threshold`, with
    * NO false negatives — the exact counterpart to [[minhashPairs]] when
    * the dedup decision cannot tolerate LSH's probabilistic recall.
    *
    * Prefix-filtering principle: order every doc's shingle set by one
    * GLOBAL total order (ascending document frequency, rarest first, then
    * lexicographic); if J(x,y) ≥ t, then the first
    * |x| − ⌈t·|x|⌉ + 1 shingles of x and the first |y| − ⌈t·|y|⌉ + 1 of y
    * must share at least one shingle. Candidate generation is therefore an
    * equi-join on PREFIX shingles only — and because prefixes hold each
    * doc's RAREST shingles, join buckets are small by construction (the
    * frequency order is what makes this affordable; a random order would
    * put boilerplate shingles in prefixes and blow the join up).
    *
    * Scale shape: one groupBy for shingle document frequency, one join to
    * attach df, a PER-DOC window (partitioned by doc_id — no global sort)
    * to take the prefix, one equi-join on the shingle string with the
    * symmetric length filter ⌈t·|x|⌉ ≤ |y| ∧ ⌈t·|y|⌉ ≤ |x| as join
    * predicates, then exact verification of only the candidate pairs via
    * [[ngramJaccard]]'s set-intersection step. Completeness (no false
    * negatives vs brute force) is spec-asserted in PipelineSpec.
    *
    * The threshold is the RATIONAL thrNum/thrDen, and every comparison is
    * integer arithmetic: prefix length L − ⌈t·L⌉ + 1 computes ⌈t·L⌉ as
    * (L·num + den − 1) DIV den, the length filter |y| ≥ t·|x| is
    * den·|y| ≥ num·|x|, the verification is den·inter ≥ num·uni. A double
    * threshold would put ceil() one ulp wrong at exact multiples (e.g.
    * 0.8·5 = 4.0000000000000002 → prefix one SHORT → a false negative in
    * the one operator whose contract is zero false negatives).
    *
    * Returns (a, b, inter, uni, jaccard) for pairs with jaccard ≥ t,
    * a < b. Docs with no shingles (< 3 tokens) cannot reach t > 0 and are
    * excluded. */
  def allPairsJaccard(docs: DataFrame, idCol: String, textCol: String,
                      thrNum: Int, thrDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thrNum >= 1 && thrNum <= thrDen,
      s"threshold must be in (0, 1] (got $thrNum/$thrDen): prefix length " +
        "|x| - ceil(t*|x|) + 1 degenerates to the whole set at t = 0")
    // one materialization: the shingle table feeds FOUR consumers (df
    // counts, prefix ranking, both verify sides) — without it the
    // tokenizer+kgram chain re-executes per consumer and dominates the
    // runtime (measured 12.7 → 3.6 s warm at sf0.1)
    // r15 (guide §4): shingles stored SORTED so the verify-stage
    // intersection is a zero-allocation merge count (see ngramJaccard)
    val sh = spread(docs)
      .select(col(idCol).as("doc_id"),
        array_sort(shingles(tokens(col(textCol)))).as("shs"))
      .filter(size(col("shs")) > 0)
      .localCheckpoint()
    val rows = sh.select(col("doc_id"), size(col("shs")).as("len"),
      explode(col("shs")).as("s"))
    val df = rows.groupBy("s").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = rows.join(df, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("len") - expr(s"(len * $thrNum + $thrDen - 1) DIV $thrDen") + 1)
      .select(col("doc_id"), col("len"), col("rn"), col("s"))
    // positional filter (PPJoin, Xiao et al. WWW'08): J ≥ t needs overlap
    // α = ⌈t/(1+t)·(Lx+Ly)⌉; at a shared prefix shingle at ranks
    // (rnx, rny), every other shared shingle is LATER in the global
    // order, so overlap ≤ 1 + min(Lx−rnx, Ly−rny). Suffix bounds shrink
    // with rank, so the earliest shared shingle carries the largest
    // bound — testing every match is equivalent to testing the first,
    // and a J ≥ t pair always survives (bound ≥ true overlap ≥ α).
    // Exact rational arithmetic throughout, as above.
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id") &&
          col("y.len") * thrDen >= col("x.len") * thrNum &&
          col("x.len") * thrDen >= col("y.len") * thrNum &&
          expr(s"""1 + least(x.len - x.rn, y.len - y.rn) >=
                   ($thrNum * (x.len + y.len) + ${thrNum + thrDen - 1})
                     DIV ${thrNum + thrDen}"""))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val full = sh.select(col("doc_id"), col("shs"))
    cand
      .join(full.select(col("doc_id").as("a"), col("shs").as("sha")), "a")
      .join(full.select(col("doc_id").as("b"), col("shs").as("shb")), "b")
      .withColumn("inter",
        graft.functions.hashx.sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .filter(col("inter") * thrDen >= col("uni") * thrNum)
      .withColumn("jaccard", col("inter") / col("uni").cast("double"))
      .select(col("a"), col("b"), col("inter"), col("uni"), col("jaccard"))
  }

  /** EXACT containment-similarity join: every ORDERED doc pair (a, b),
    * a ≠ b, with |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ t — the
    * ASYMMETRIC cousin of [[allPairsJaccard]] that catches what Jaccard
    * structurally misses: an excerpt fully contained in a much longer
    * document (J = |A|/|B| → 0 as B grows, containment stays 1.0). This
    * is the dedup decision for quote-inclusion / page-within-site /
    * subset-scrape duplicates (Broder's "containment" from the original
    * resemblance paper, SEQUENCES'97).
    *
    * Prefix filter, containment form: order shingles by global df
    * (rarest first, then lexicographic — ONE total order for everyone).
    * If C(a→b) ≥ t then b shares ≥ ⌈t·|A|⌉ of A's shingles, so A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles contain at least one shared shingle
    * (else all shared sit in a suffix of size ⌈t·|A|⌉ − 1 < ⌈t·|A|⌉).
    * Unlike the Jaccard join the CONTAINING side cannot be prefix-
    * truncated (a tiny excerpt inside a huge doc shares only rare-in-A
    * shingles that may rank anywhere in B), so candidates come from
    * A-prefix ⋈ B-full-index — still never all-pairs: the join volume is
    * Σ_{s ∈ prefixes} df(s), and prefixes hold each doc's RAREST
    * shingles by construction. The positional bound (earliest shared
    * shingle in the global order at ranks rnA/rnB: inter ≤ 1 +
    * min(|A|−rnA, |B|−rnB)) and the length bound |B| ≥ ⌈t·|A|⌉ (inter
    * ≤ |B|) prune candidates before verification; both are exact
    * rational arithmetic, so zero false negatives (spec-asserted vs the
    * brute-force cross join in PipelineSpec).
    *
    * Returns (a, b, len_a, len_b, inter, containment) — containment =
    * inter/len_a ≥ t, both directions possible for same-size near-dups.
    *
    * `shingleK` sets the word-shingle width — the knob that keeps the
    * candidate volume linear: posting lists grow with corpus/|shingle
    * types|, so once the k-shingle type space saturates, Σ df(prefix)
    * turns quadratic. Measured on the synthetic fixture (≈40-word
    * vocabulary): 3-shingle mean df 9.6 → 74.6 going sf0.1 → sf1
    * (35k types, saturated) vs 4-shingle 1.2 → 10.3 (252k types) —
    * the sf1 bench caught containment at 19.9× for 10× rows with k=3.
    * Pick k so vocab^k ≫ corpus shingle instances. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       thrNum: Int, thrDen: Int, shingleK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thrNum >= 1 && thrNum <= thrDen,
      s"threshold must be in (0, 1] (got $thrNum/$thrDen)")
    // r15 (guide §4): sorted shingles → merge-count verify (see above)
    val sh = spread(docs)
      .select(col(idCol).as("doc_id"),
        array_sort(shingles(tokens(col(textCol)), shingleK)).as("shs"))
      .filter(size(col("shs")) > 0)
      .localCheckpoint()
    val rows = sh.select(col("doc_id"), size(col("shs")).as("len"),
      explode(col("shs")).as("s"))
    val df = rows.groupBy("s").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val ranked = rows.join(df, "s")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("len"), col("rn"), col("s"))
    val prefix = ranked.filter(col("rn") <=
      col("len") - expr(s"(len * $thrNum + $thrDen - 1) DIV $thrDen") + 1)
    val cand = prefix.as("x").join(ranked.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id") &&
          // |B| >= ceil(t*|A|): inter <= |B| must reach the overlap bar
          col("y.len") * thrDen >= col("x.len") * thrNum &&
          // positional bound at the matched shingle (earliest-match logic
          // as in allPairsJaccard: testing every match subsumes the first)
          expr(s"""1 + least(x.len - x.rn, y.len - y.rn) >=
                   (x.len * $thrNum + $thrDen - 1) DIV $thrDen"""))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val full = sh.select(col("doc_id"), col("shs"))
    cand
      .join(full.select(col("doc_id").as("a"), col("shs").as("sha")), "a")
      .join(full.select(col("doc_id").as("b"), col("shs").as("shb")), "b")
      .withColumn("len_a", size(col("sha")))
      .withColumn("len_b", size(col("shb")))
      .withColumn("inter",
        graft.functions.hashx.sortedIntersectCount(col("sha"), col("shb")))
      .filter(col("inter") * thrDen >= col("len_a") * thrNum)
      .withColumn("containment", col("inter") / col("len_a").cast("double"))
      .select(col("a"), col("b"), col("len_a"), col("len_b"), col("inter"),
        col("containment"))
  }

  /** Closed-form MinHash-LSH collision probability ("S-curve"): with `b`
    * bands of `r` rows over an ideal signature, a pair at Jaccard s is a
    * candidate with P = 1 − (1 − s^r)^b — the formula every LSH parameter
    * choice is made from (Leskovec/Rajaraman/Ullman, MMDS ch. 3).
    *
    * Both powers are expanded as LEFT-ASSOCIATIVE multiplication chains,
    * never `pow()`: IEEE * is correctly rounded so the chain is
    * bit-identical on any engine, while libm pow is not (invariant 10
    * territory). The result is floor-idiom-rounded to 6dp (invariant 12)
    * so downstream sums/ranks are tie-stable cross-engine. */
  def lshSCurve(s: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1 && rowsPerBand >= 1)
    val sr = (1 to rowsPerBand).map(_ => s).reduce(_ * _)
    val miss = lit(1.0) - sr
    val pmiss = (1 to bands).map(_ => miss).reduce(_ * _)
    floor((lit(1.0) - pmiss) * lit(1e6) + lit(0.5)) / lit(1e6)
  }

  /** The identical S-curve as DuckDB SQL text over a column named `s` —
    * the oracle-side twin of [[lshSCurve]], same chains, same floor
    * idiom. */
  def lshSCurveSql(bands: Int, rowsPerBand: Int): String = {
    val sr = "(" + List.fill(rowsPerBand)("s").mkString(" * ") + ")"
    val pmiss = "(" + List.fill(bands)(s"(1.0 - $sr)").mkString(" * ") + ")"
    s"floor((1.0 - $pmiss) * 1e6 + 0.5) / 1e6"
  }
}
