package graft.api

import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.HashEmbed
import graft.graph.{Bfs, GraphAnalytics, GraphOps}
import graft.hybrid.HybridSearch
import graft.model._
import graft.search.{Bm25, Bm25Index}
import graft.store.{Snapshot, TableCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.unsafe.types.UTF8String

/** Opt-in serving mode for [[Engine.vectorSearch]].
  *
  * [[AnnMode.BruteForce]] is the reference contract (app.py:394-444,
  * full-scan exact top-k) and the default — its results are bit-identical
  * to the reference and must never change. The approximate modes make the
  * engine's trained-index serving paths (the ones the declared q_ann_*
  * queries exercise) reachable through the same facade: they generate a
  * candidate set from the index, then score the SURVIVORS with the exact
  * reference scoring (dot product + dim filter + metadata post-filter), so
  * an approximate hit always carries the same `vectorScore` the reference
  * would report for it. */
sealed trait AnnMode
object AnnMode {
  /** Reference-faithful exact full scan (the default). */
  case object BruteForce extends AnnMode
  /** Trained k-means coarse quantizer (derived from the embeddings table,
    * so trained again after an embedding write): probe the `nprobe` cells
    * nearest the query, exact-score only their members. */
  final case class TrainedIvf(nprobe: Int = 2) extends AnnMode
  /** SQ8 int8 scalar quantization: integer-dot scan over 8-bit codes,
    * exact rerank of the `rerank` best candidates. */
  final case class Sq8(rerank: Int = 64) extends AnnMode
}

/** The engine facade — the reference's full 14-endpoint capability surface
  * (SURVEY §2.A O21-O23, app.py:753-940) as plain Scala methods.
  * HTTP status contracts map to Option/Boolean returns (404 → None).
  *
  * A serving request reads one catalog [[Snapshot]] and answers with keyed
  * lookups on it: node, embedding and edge reads by key, graph traversal
  * over the source index, and vector scores from one loop over the
  * snapshot's embedding arena. No request runs a Catalyst query or a Spark
  * job; the approximate vector modes generate their candidates with Spark,
  * and BM25, the trained ANN artifacts and connected components still run
  * plans.
  */
final class Engine(val catalog: TableCatalog, val dim: Int = HashEmbed.DefaultDim) {
  private val spark = catalog.spark
  import spark.implicits._

  private def now(): String = Instant.now().toString
  private def newId(prefix: String): String = s"$prefix-${UUID.randomUUID()}"

  def this(spark: org.apache.spark.sql.SparkSession) = this(new TableCatalog(spark))

  // ------------------------------------------------------------ node CRUD
  /** POST /nodes (O21, app.py:753-782). Embedding precedence: explicit >
    * auto_embed > none (app.py:761-769). */
  def createNode(text: String, metadata: Map[String, String] = Map.empty,
                 autoEmbed: Boolean = true,
                 embedding: Option[Seq[Float]] = None): NodeDetails = {
    val id = newId("node")
    val ts = now()
    val emb = embedding.orElse(
      if (autoEmbed) Some(HashEmbed.encode(text, dim).toSeq) else None)
    catalog.upsertNode(Node(id, text, metadata, ts, ts), emb.map(v => EmbeddingRow(id, v, v.length)))
    getNode(id).get
  }

  /** GET /nodes/{id} (O3, app.py:163-202): details + has_embedding +
    * outgoing/incoming edges, read by key and through the edge indexes (a
    * self-loop is in both lists). */
  def getNode(id: String): Option[NodeDetails] = {
    val s = catalog.snapshot
    s.node(id).map { node =>
      val emb = s.embedding(id)
      val incident = edgeInfos((s.outEdges(id) ++ s.inEdges(id)).toSeq.distinct)
      NodeDetails(node.id, node.text, node.metadata, node.created_at,
        node.updated_at, emb.nonEmpty, emb.map(_.vector),
        incident.filter(_.source == node.id), incident.filter(_.target == node.id))
    }
  }

  /** Response-sized edges in Spark's order by id, sorted on the driver. */
  private def edgeInfos(edges: Seq[EdgeRow]): Seq[EdgeInfo] =
    edges.sortBy(_.id)(Engine.SparkStringOrder).map(Engine.info)

  /** PUT /nodes/{id} (O2+O21, app.py:794-821): partial update; embedding
    * precedence explicit > regen (re-encode of the NEW text) > keep. One
    * catalog write ([[TableCatalog.updateNode]]): a concurrent delete wins
    * or loses whole, and a concurrent update is never lost. */
  def updateNode(id: String, text: Option[String] = None,
                 metadata: Option[Map[String, String]] = None,
                 regenEmbedding: Boolean = false,
                 embedding: Option[Seq[Float]] = None): Option[NodeDetails] = {
    val updated = catalog.updateNode(id) { old =>
      val newText = text.getOrElse(old.text)
      val emb = embedding.orElse(
        if (regenEmbedding) Some(HashEmbed.encode(newText, dim).toSeq) else None)
      (old.copy(text = newText, metadata = metadata.getOrElse(old.metadata), updated_at = now()),
        emb.map(v => EmbeddingRow(id, v, v.length)))
    }
    if (updated) getNode(id) else None
  }

  /** DELETE /nodes/{id} (O4, app.py:824-834): cascade per TC-API-04;
    * false (404) if there was no such node, or a concurrent delete removed
    * it first. */
  def deleteNode(id: String): Boolean = catalog.deleteNode(id)

  def getAllNodes(): Seq[(String, String, Map[String, String])] =
    catalog.snapshot.allNodes.map(n => (n.id, n.text, n.metadata)).toSeq

  // ------------------------------------------------------------ edge CRUD
  /** POST /edges (O22, app.py:839-850): both endpoints must exist when
    * the edge is written ([[TableCatalog.createEdge]]). */
  def createEdge(source: String, target: String, etype: String,
                 weight: Double = 1.0): Option[EdgeInfo] = {
    val e = EdgeRow(newId("edge"), source, target, etype, weight, now())
    Option.when(catalog.createEdge(e))(Engine.info(e))
  }

  def getEdge(id: String): Option[EdgeInfo] = catalog.snapshot.edge(id).map(Engine.info)

  /** PUT /edges/{id} (O8, app.py:288-308): partial, coalesce-with-current,
    * one catalog write ([[TableCatalog.updateEdge]]). */
  def updateEdge(id: String, etype: Option[String] = None,
                 weight: Option[Double] = None): Option[EdgeInfo] =
    catalog.updateEdge(id)(old =>
      old.copy(etype = etype.getOrElse(old.etype), weight = weight.getOrElse(old.weight)))
      .map(Engine.info)

  def deleteEdge(id: String): Boolean = catalog.deleteEdge(id)

  // -------------------------------------------------------------- search
  /** POST /search/vector (O12, app.py:394-444): top-k by the reference's
    * dot product with dim-mismatch skip and exact-match AND metadata
    * filter, answered on the driver from one snapshot: the scores of
    * [[Snapshot.vectorScores]] over its embedding arena, ordered by
    * [[Engine.rank]] as Spark's `ORDER BY score DESC, id` orders them,
    * then [[answer]]'s node reads.
    * So an embedding without a node row never appears, and the filter
    * applies before truncation, as the reference post-filters before
    * truncating (app.py:427-442). An embedding with a null vector has no
    * score and never ranks. */
  def vectorSearch(queryText: String, topK: Int = 10,
                   metadataFilter: Map[String, String] = Map.empty,
                   mode: AnnMode = AnnMode.BruteForce): Seq[VectorHit] = {
    require(topK >= 0, s"topK must be non-negative, got $topK")
    val s = catalog.snapshot
    val q = HashEmbed.encode(queryText, dim)
    val scores = s.vectorScores(q, candidateIds(s, q, topK, metadataFilter.nonEmpty, mode))
    answer(s, Engine.rank(scores.size)(scores.score, scores.key), topK, metadataFilter)(
      i => Engine.str(scores.key(i)))
      .map { case (i, n) => VectorHit(n.id, n.text, n.metadata, scores.score(i)) }
  }

  /** The ids of the embeddings a vector search for `q` scores: None (all
    * of the query's dimension) under brute force, an approximate mode's
    * candidate set otherwise, generated by Spark over the snapshot's
    * embeddings. Either way the survivors get the exact reference scoring,
    * metadata filter and order. */
  private[graft] def candidateIds(s: Snapshot, q: Array[Float], topK: Int, filtered: Boolean,
                                  mode: AnnMode): Option[Seq[String]] = mode match {
    case AnnMode.BruteForce => None
    case approx =>
      val eligible = s.embeddings.filter($"dim" === q.length)
      val qd = q.toSeq.map(_.toDouble)
      // with a metadata filter, over-fetch so post-filtering the
      // candidate set can still fill topK (the post-filter ANN shape;
      // Similarity.filteredTopKAuto is the auto-deciding batch form)
      val budget = if (filtered) topK * 4 else topK
      val cand = approx match {
        case AnnMode.TrainedIvf(nprobe) =>
          graft.pipeline.Similarity.ivfTopKWith(
            eligible, "node_id", "vector", trainedQuantizer(s), qd,
            k = budget, nprobe = nprobe)
        case AnnMode.Sq8(rerank) =>
          // serving form: the scale derived from the embeddings table — a
          // query must not pay a corpus-wide max-|x| agg for a number that
          // only changes on write (trained once per table, persistable)
          graft.pipeline.Similarity.sq8TopKWithScale(
            eligible, "node_id", "vector", sq8TrainedScale(s), qd,
            k = budget, rerank = math.max(rerank, budget))
        case AnnMode.BruteForce => throw new IllegalStateException
      }
      // Serving invariant: an approximate mode must never silently
      // return nothing when the corpus has matches. The candidate set
      // is ≤ budget rows by construction, so collecting it is cheap;
      // an EMPTY candidate set on a non-empty corpus means a degenerate
      // index artifact — fall back to brute force and count it (test
      // hook) rather than propagate an empty answer.
      val candIds = cand.select($"node_id".cast("string")).as[String].collect()
      if (candIds.isEmpty) {
        annFallbackCount += 1
        Console.err.println(s"[graft] approximate mode $approx produced " +
          "no candidates; serving this query brute-force")
        None
      } else Some(candIds.toSeq)
  }

  /** The answer of a search over `ranked` candidates: the first `topK`
    * whose node row exists in `s` and passes `metadataFilter`, in ranked
    * order, with that row — one keyed read per candidate walked. A
    * candidate without a node row (an orphan embedding, a dangling BFS
    * target) is skipped, as the joins from `nodes` it replaces skipped it.
    * The filter is `element_at(metadata, k) = v` for each (k, v), as Spark
    * evaluates it: a null map, a missing key or a null value never
    * matches, and strings compare as their UTF-8 encodings. */
  private def answer[A](s: Snapshot, ranked: Iterator[A], topK: Int,
                        metadataFilter: Map[String, String])(id: A => String): Seq[(A, Node)] = {
    val filter = metadataFilter.toSeq.map { case (k, v) => (Engine.utf8(k), Engine.utf8(v)) }
    def keep(n: Node) = filter.forall { case (k, v) =>
      n.metadata != null && n.metadata.get(k).exists(x => x != null && x == v)
    }
    ranked.flatMap(a => s.node(id(a)).filter(keep).map(a -> _)).take(topK).toSeq
  }

  /** Test hook: quantizer TRAININGS by this Engine (loads don't count) —
    * lets AnnPersistSpec prove a warmed restart serves without retraining. */
  @volatile private[graft] var quantizerTrainCount: Int = 0

  /** Test hook: how often an approximate serving call fell back to brute
    * force because its candidate set came back empty — the safety net
    * behind the non-empty-candidate serving invariant. Zero in healthy
    * operation. */
  @volatile private[graft] var annFallbackCount: Int = 0

  /** Test hook: SQ8 scale TRAININGS (corpus scans) by this Engine. */
  @volatile private[graft] var sq8TrainCount: Int = 0

  /** Test hook: BM25 index builds by this Engine. */
  @volatile private[graft] var bm25BuildCount: Int = 0

  /** SQ8's one trained parameter — the embeddings table's global max-|x|
    * over this Engine's `dim` — derived from the table like the coarse
    * quantizer: one corpus agg per table instead of per query. */
  private def sq8TrainedScale(s: Snapshot): Double = s.ofEmbeddings(s"sq8/$dim") {
    sq8TrainCount += 1
    val row = s.embeddings.filter($"dim" === dim)
      .agg(max(array_max(transform($"vector".cast("array<double>"), x => abs(x)))))
      .head()
    if (row.isNullAt(0)) 1.0 else row.getDouble(0)
  }

  /** The trained coarse quantizer over the embeddings of this Engine's
    * `dim` (2 k-means refinement rounds over a √n-spaced seed —
    * [[graft.pipeline.Similarity.kmeansCentroids]]), derived from the
    * embeddings table: training is paid by the first TrainedIvf search
    * after an embedding write, not per query and not per write. */
  private def trainedQuantizer(s: Snapshot): DataFrame = s.ofEmbeddings(s"ivf/$dim") {
    quantizerTrainCount += 1
    // node_id is a string; kmeansCentroids spaces integer ids, so key
    // the training view by the id hash. Seeds must be non-empty BY
    // CONSTRUCTION: raw hash keys mod spacing select zero rows with
    // P ≈ e^(−√n) over random UUIDs (the r13 AnnMode flake — empty
    // centroids → empty candidates → empty search result). Take the
    // numSeeds smallest hash keys instead: deterministic given ids,
    // ≥ 1 seed whenever the corpus is non-empty, and bounded by
    // min(⌈√n⌉, kMax) rows — a distributed top-k (TakeOrdered), no
    // global sort materialized.
    val keyed = s.embeddings.filter($"dim" === dim)
      .select(xxhash64($"node_id").as("kid"), $"vector")
    val n = keyed.count()
    val numSeeds = math.max(1L, math.min(
      math.ceil(math.sqrt(n.toDouble)).toLong,
      graft.pipeline.Similarity.kMax))
    val seeds = keyed.orderBy($"kid").limit(numSeeds.toInt)
    val cent = graft.pipeline.Similarity
      .kmeansCentroids(keyed, "kid", "vector", iters = 2, corpusN = n, seeds = seeds)
    try onDriver(cent) finally bridge.unpersistCheckpoint(cent)
  }

  /** `df` (≤ kMax rows, or rows a caller has gated) as a local relation
    * held on the driver: no block outlives the Engine's reference to it. */
  private def onDriver(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** BM25 keyword search (O15). Declared capability: built + queryable even
    * though no reference endpoint exposes it (app.py:670-672 keeps it out
    * of hybrid; SURVEY authoritative-source note).
    *
    * The index is derived from the nodes table and reused across queries
    * until a node write replaces the table — the reference's
    * rebuild-on-write contract (app.py:772-773), with the rebuild paid by
    * the first search after the write instead of by every write. Its tf
    * and idf tables are held on the driver, gated by
    * [[GraphAnalytics.requireDriverFits]], and the build's checkpoints are
    * freed, so a superseded index holds no block. */
  private def bm25Index(s: Snapshot): Bm25Index = s.ofNodes("bm25") {
    bm25BuildCount += 1
    val ix = Bm25.build(s.nodes, "id", "text")
    try {
      GraphAnalytics.requireDriverFits(ix.tf.count() + ix.idf.count(), "BM25 index",
        Engine.Bm25RowBytes)
      ix.copy(tf = onDriver(ix.tf), idf = onDriver(ix.idf))
    } finally {
      bridge.unpersistCheckpoint(ix.tf)
      bridge.unpersistCheckpoint(ix.idf)
    }
  }

  def bm25Search(queryText: String, topK: Int = 10): Seq[Bm25Hit] = {
    val terms = queryText.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    if (terms.isEmpty) Seq.empty
    else Bm25.search(bm25Index(catalog.snapshot), terms.distinct, topK)
      .as[(String, Double)].collect().map { case (i, s) => Bm25Hit(i, s) }.toSeq
  }

  /** GET /search/graph (O19, app.py:893-903): None when start missing.
    * The traversal walks the snapshot's source index ([[traverse]]); the
    * visited nodes are keyed reads, and the induced edges are the
    * out-edges of visited nodes whose target was visited too. */
  def graphSearch(startId: String, depth: Int = 2,
                  edgeType: Option[String] = None): Option[GraphSearchResult] = {
    val s = catalog.snapshot
    if (!s.hasNode(startId)) None
    else {
      val bfs = traverse(s, startId, depth, edgeType)
      // a null target names no node and matches no edge
      val visited = bfs.map(_._1).filter(_ != null).toSet
      // start excluded (app.py:599); ordered by (dist, node) as Spark does
      val nodes = bfs.filter(h => h._2 > 0 && h._1 != null)
        .sortBy(h => (h._2, h._1))(Ordering.Tuple2(Ordering.Int, Engine.SparkStringOrder))
        .flatMap { case (id, dist, pw) =>
          s.node(id).map(n => GraphNodeHit(n.id, n.text, n.metadata, dist, pw))
        }
      // induced subgraph, not type-filtered (GraphOps.inducedEdges' rule)
      val induced = edgeInfos(visited.toSeq.flatMap(s.outEdges).filter(e => visited(e.target)))
      Some(GraphSearchResult(startId, depth, edgeType, nodes, induced))
    }
  }

  /** The (node, dist, path_weight) rows of a BFS from `start` over the
    * snapshot's source index: [[Bfs.levels]], the rule [[Bfs.traverse]]
    * runs over a DataFrame of edges, with the edges of type `edgeType`. */
  private def traverse(s: Snapshot, start: String, depth: Int,
                       edgeType: Option[String]): Seq[(String, Int, java.lang.Double)] =
    Bfs.levels(start, depth) { frontier =>
      frontier.toSeq.flatMap(s.outEdges).filter(e => edgeType.forall(_ == e.etype))
        .map(e => (e.source, e.target, java.lang.Double.valueOf(e.weight)))
    }

  /** POST /search/hybrid (O20, app.py:657-736): weighted vector+graph
    * fusion, BM25 deliberately not fused, answered on the driver from one
    * snapshot: the vector scores of [[vectorSearch]], the closeness of the
    * BFS rows ([[GraphOps.closenessRows]]), the fusion over the scored
    * rows ([[HybridSearch.fuseRows]]), then [[Engine.rank]] and [[answer]].
    * Each row form computes exactly what its plan form computes. */
  def hybridSearch(queryText: String, vectorWeight: Double = 0.7,
                   graphWeight: Double = 0.3, topK: Int = 10,
                   graphStartId: Option[String] = None,
                   graphDepth: Int = 2): Option[Seq[HybridHit]] = {
    require(topK >= 0, s"topK must be non-negative, got $topK")
    val s = catalog.snapshot
    if (graphStartId.exists(id => !s.hasNode(id)))
      None // 404 contract, app.py:909-910
    else {
      val vecScores = s.vectorScores(HashEmbed.encode(queryText, dim))
      val graphScores = graphStartId.fold(Seq.empty[(String, java.lang.Double)]) { start =>
        // hybrid BFS ignores edge_type (app.py:712)
        GraphOps.closenessRows(traverse(s, start, graphDepth, None), start, graphDepth)
          // the anchor's graph contribution is zeroed: the reference's own
          // harness (test_final.py:749-779) requires graph-only hybrid to
          // rank the closest TRUE neighbor first, which is impossible if
          // the start node itself returns at score 1.0 (app.py:564-565
          // does exactly that and fails its own TC-HYB-02). The harness is
          // the executable spec; O18's start=1.0 contract is unchanged in
          // GraphOps.closeness (q_graph_score stays oracle-exact). A null
          // target, like SQL's `node <> start`, is dropped too.
          .filter { case (node, _) => node != null && node != start }
      }
      val f = HybridSearch.fuseRows(vecScores, graphScores, vectorWeight, graphWeight,
        s.nodeIds)
      Some(answer(s, Engine.rank(f.size)(f.finalScore, f.key), topK, Map.empty)(
        i => Engine.str(f.key(i)))
        .map { case (i, n) => HybridHit(n.id, n.text, f.vecNorm(i), f.graphScore(i), f.finalScore(i)) })
    }
  }

  /** Whole-graph analytics over the store (beyond the reference's ego
    * traversals): connected components of the edge graph as (id,
    * component id), ordered by id. Ids map to dense ranks in
    * `String.compareTo` order, so the representative — the minimum rank —
    * is the UTF-16-smallest member id. */
  def connectedComponents(): Seq[(String, String)] = {
    val all = catalog.edges
    val ranks = graft.graph.GraphXOps
      .stringVertexMapping(all, "source", "target")
      .as[(String, Long)].collect()
    val vm = ranks.toSeq.toDF("sid", "vid")
    val edges = all
      .join(vm.select($"sid".as("source"), $"vid".as("src")), "source")
      .join(vm.select($"sid".as("target"), $"vid".as("dst")), "target")
    val sid = ranks.map(_.swap).toMap
    graft.graph.GraphAnalytics.connectedComponents(edges, maxIters = 64)
      .as[(Long, Long)].collect()
      .map { case (n, c) => (sid(n), sid(c)) }
      .sortBy(_._1)(Engine.SparkStringOrder).toSeq
  }

  // --------------------------------------------- trained-ANN persistence
  /** Persist the trained ANN artifacts (round-9: at 100 TB a trained
    * index is a versioned durable artifact, not a warm cache — the
    * Bm25Index.save pattern). Trains the coarse quantizer if the table has
    * none yet, stamps the CONTENT fingerprint of the embeddings snapshot
    * ([[graft.search.AnnArtifacts.fingerprintOf]] — order-independent, so
    * it survives a restart, where the derived quantizer does not). */
  def saveAnnIndex(dir: String): Unit = {
    val s = catalog.snapshot
    graft.search.AnnArtifacts(
      centroids = trainedQuantizer(s),
      // PQ codebooks belong to the batch pipeline API, where the caller
      // owns the artifact (Similarity.pqTopKWith) — the facade serves
      // IVF + SQ8, so those are what it persists
      pqCodebook = None, sq8Scale = Some(sq8TrainedScale(s)),
      fingerprint = graft.search.AnnArtifacts.fingerprintOf(s.embeddings))
      .save(dir)
  }

  /** Offer a persisted artifact's quantizer and scale as the embeddings
    * table's, where it has none yet. Serves ONLY if the stored fingerprint
    * matches the live embeddings snapshot — a stale artifact is refused
    * (returns false) and the next TrainedIvf search retrains, never
    * silently serving the wrong snapshot. */
  def loadAnnIndex(dir: String): Boolean = {
    val art = graft.search.AnnArtifacts.load(spark, dir)
    val s = catalog.snapshot
    val fresh = art.fingerprint == graft.search.AnnArtifacts.fingerprintOf(s.embeddings)
    if (fresh) {
      s.ofEmbeddings(s"ivf/$dim")(onDriver(art.centroids))
      art.sq8Scale.foreach(sc => s.ofEmbeddings(s"sq8/$dim")(sc))
    }
    fresh
  }

  /** GET / health (O23, app.py:923-926). */
  def health(): Map[String, String] =
    Map("status" -> "ok", "service" -> "vector-graph-engine")

  /** GET /stats (O23, app.py:929-940): the catalog's held row counts. */
  def stats(): Stats = catalog.stats
}

object Engine {

  /** Spark's string order — UTF-8 bytes (`UTF8String.compareTo`) — for the
    * driver-side sorts of response rows. `String.compareTo` compares UTF-16
    * units and puts a supplementary character (U+1F600) before U+FFFD. */
  val SparkStringOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Spark's double order (`SQLOrderingUtil.compareDoubles`): NaN is
    * greatest and −0.0 equals 0.0. `java.lang.Double.compare` puts −0.0
    * before 0.0. */
  val SparkDoubleOrder: Ordering[Double] = (a, b) => SQLOrderingUtil.compareDoubles(a, b)

  /** `s` as Spark holds it: its UTF-8 encoding read back, so a lone
    * surrogate becomes `?` as in a Spark string literal. */
  private def utf8(s: String): String = if (s == null) null else UTF8String.fromString(s).toString

  private def info(e: EdgeRow): EdgeInfo = EdgeInfo(e.id, e.source, e.target, e.etype, e.weight)

  private def str(s: UTF8String): String = if (s == null) null else s.toString

  /** Driver heap a held BM25 row keeps, a tf or an idf row: its row
    * object, two strings and the local relation's copy; an estimate, not
    * measured. */
  private val Bm25RowBytes = 256L

  /** Rows 0 until `n` in Spark's `ORDER BY score DESC, id` — the order of
    * every serving search's answer: scores by [[SparkDoubleOrder]], ties
    * by key in UTF-8 byte order, a null key first as in Spark's ascending
    * order. The row numbers come off a heap as the iterator advances, so
    * taking the first k of n costs O(n + k log n), not a full sort. */
  def rank(n: Int)(score: Int => Double, key: Int => UTF8String): Iterator[Int] = {
    val first: Ordering[Int] = { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(score(b), score(a))
      if (c != 0) c
      else {
        val (x, y) = (key(a), key(b))
        if (x == null || y == null) java.lang.Boolean.compare(x != null, y != null) else x.compareTo(y)
      }
    }
    // the queue dequeues its greatest element: order it by `first` reversed
    val heap = mutable.PriorityQueue.empty(first.reverse)
    heap ++= (0 until n)
    Iterator.fill(n)(heap.dequeue())
  }
}
