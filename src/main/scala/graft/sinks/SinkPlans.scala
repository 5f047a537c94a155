package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named plan registry for the persisted index sinks — the same
  * idea as `SparkEntry.queries`, but for the sink lifecycle: every
  * corpus-sized DataFrame a sink build/append/probe/compact executes,
  * exposed WITHOUT running the write side effect, so the plan-quality
  * and shuffle-budget regression nets can gate sink plans alongside
  * the query surface (the round-8 verdict: "sinks are real
  * corpus-sized jobs today invisible to the window/cartesian/codegen
  * gates").
  *
  * Build/append entries are the relations the writers persist (the
  * write itself adds only the file commit, no plan nodes); probe
  * entries are the public read surfaces over a PRE-BUILT index
  * ([[buildAll]]); compact entries mirror each sink's compact job
  * (reader + the re-clustering repartition — the one plan-shaping op
  * compact adds). Append plans are structurally identical to build
  * plans over a smaller input (same relations() / assignCells()
  * code path), so they are not listed twice.
  */
object SinkPlans {

  private val K = 16

  private def docs(spark: SparkSession, dataDir: String): DataFrame =
    graft.Tables(spark, dataDir).documents
      .select(col("doc_id"), col("text"))

  private def emb(spark: SparkSession, dataDir: String): DataFrame =
    graft.Tables(spark, dataDir).embeddings
      .select(col("vec_id"), col("embedding"))

  /** Build every sink's index over the dataDir tables into
    * `idxRoot/<sink>` — the fixture the probe/compact plan entries
    * read. The vector dir carries BOTH the raw and PQ trees (the
    * VectorIndexSpec compact layout).
    */
  def buildAll(spark: SparkSession, dataDir: String,
      idxRoot: String): Unit = {
    val d = docs(spark, dataDir)
    val e = emb(spark, dataDir)
    TextIndex.build(d, s"$idxRoot/text")
    SpanIndex.build(d, s"$idxRoot/span")
    DedupIndex.build(d, s"$idxRoot/dedup")
    // held-out slice as the contamination index's eval side
    ContamIndex.build(d.where(col("doc_id") % 20 === 0),
      s"$idxRoot/contam")
    VectorIndex.build(e, s"$idxRoot/vector", k = K)
    VectorIndex.buildPq(e, s"$idxRoot/vector", k = K)
    LmIndex.build(d, s"$idxRoot/lm")
    ClusterIndex.build(graft.Tables(spark, dataDir).documents
      .select(col("doc_id"), col("source"), col("text")),
      s"$idxRoot/cluster")
  }

  /** The registry: name → thunk building the plan-bearing DataFrame.
    * Thunks (not eager frames) because several entries localCheckpoint
    * during construction; the gates build one at a time. Requires
    * [[buildAll]] to have populated idxRoot.
    */
  def plans(spark: SparkSession, dataDir: String, idxRoot: String)
      : Seq[(String, () => DataFrame)] = {
    val d = () => docs(spark, dataDir)
    val e = () => emb(spark, dataDir)
    val batch = () => docs(spark, dataDir).where(col("doc_id") < 20)
    val queries = () => emb(spark, dataDir).where(col("vec_id") < 10)
    val text = s"$idxRoot/text"
    val span = s"$idxRoot/span"
    val dedup = s"$idxRoot/dedup"
    val contam = s"$idxRoot/contam"
    val vector = s"$idxRoot/vector"
    val lm = s"$idxRoot/lm"
    Seq(
      // ---- build relations (corpus-sized write inputs) ----
      "TextIndex.build.postings" -> (() => TextIndex.relations(d())._1),
      "TextIndex.build.doclens" -> (() => TextIndex.relations(d())._2),
      "TextIndex.build.stats" -> (() => TextIndex.relations(d())._3),
      "SpanIndex.build.grams" -> (() => SpanIndex.relations(d())._1),
      "SpanIndex.build.dfs" -> (() => SpanIndex.relations(d())._2),
      "SpanIndex.build.docs" -> (() => SpanIndex.relations(d())._3),
      "DedupIndex.build.fingerprints" -> (() => d().select(col("doc_id"),
        graft.queries.Q.fingerprint(col("text")).as("fp"))),
      "DedupIndex.build.bands" -> (() =>
        DedupIndex.banded(DedupIndex.sigs(d()))),
      "ContamIndex.build.postings" -> (() =>
        ContamIndex.relations(d())._1),
      "ContamIndex.build.docs" -> (() => ContamIndex.relations(d())._2),
      "LmIndex.build.bigrams" -> (() => LmIndex.relations(d())._1),
      "LmIndex.build.words" -> (() => LmIndex.relations(d())._2),
      "VectorIndex.build.assign" -> (() => {
        val ne = VectorIndex.normalized(e())
        VectorIndex.assignCells(ne,
          graft.queries.SimilarityQueries.ivfCentroids(ne, K, iters = 0))
      }),
      // ---- probe / search surfaces over the persisted index ----
      "TextIndex.searchBm25" -> (() =>
        TextIndex.searchBm25(spark, text, Seq("the", "data"), 10)),
      "TextIndex.searchPhrase" -> (() =>
        TextIndex.searchPhrase(spark, text, Seq("of", "the"))),
      "SpanIndex.probe" -> (() => SpanIndex.probe(spark, span, batch())),
      "DedupIndex.classify" -> (() =>
        DedupIndex.classify(spark, dedup, batch())),
      "ContamIndex.probe" -> (() =>
        ContamIndex.probe(spark, contam, batch())),
      "VectorIndex.search" -> (() =>
        VectorIndex.search(spark, vector, queries(), nprobe = 2,
          topK = 3)),
      "VectorIndex.searchAdc" -> (() =>
        VectorIndex.searchAdc(spark, vector, queries(), nprobe = 2,
          topK = 3)),
      "VectorIndex.cellBalance" -> (() =>
        VectorIndex.cellBalance(spark, vector)),
      "LmIndex.score" -> (() => LmIndex.score(spark, lm, batch())),
      "LmIndex.scoreKn" -> (() => LmIndex.scoreKn(spark, lm, batch())),
      "LmIndex.probeNext" -> (() =>
        LmIndex.probeNext(spark, lm, Seq("the", "data"), 5)),
      // the one interactive serving path (q171's fused ranking over
      // BOTH persisted indexes — graft.ServeBench measures its
      // per-query latency at scale): its two corpus-sized scans, the
      // only Spark jobs a lookup runs (Retrieval.hybridSearchPrepared
      // fuses their ≤arms rows on the driver), gated so the lexical
      // arm's word-IN pushdown and the semantic scan's cell pruning
      // stay reviewed plans. The driver values a prepared handle
      // would supply — totals, the normalized query vector, the probed
      // cells — are fixed stand-ins here (their values do not shape
      // the plan), so building these frames executes nothing.
      "Retrieval.hybridSearch.lexical" -> (() =>
        TextIndex.searchBm25On(TextIndex.readPostings(spark, text),
          TextIndex.readDoclens(spark, text), nn = 1000L,
          toktot = 100000L, Seq("the", "data"), topK = 50)),
      "Retrieval.hybridSearch.semantic" -> (() =>
        graft.queries.Retrieval.semanticCandidates(
          VectorIndex.readPostings(spark, vector), qid = 0L,
          qv = Seq.fill(64)(0.125), cells = Seq(0L, 1L), fetch = 58)),
      // the three index-backed EVAL paths (MRR, NDCG, decontamination
      // screen) — their in-query twins q269/q172/q280 are plan-gated
      // via SparkEntry, but the index-backed candidate plans (postings
      // cell pruning, bounded broadcasts, anti-join exclusion) are
      // distinct plans that must stay reviewed in their own right
      "Retrieval.hybridMrrFromIndexes" -> (() => {
        val q = emb(spark, dataDir).where(col("vec_id") < 8)
          .join(docs(spark, dataDir), col("doc_id") === col("vec_id"))
          .select(col("vec_id"), lit(0L).as("label"), col("text"),
            col("embedding"))
        val corpus = docs(spark, dataDir)
          .select(col("doc_id"), lit(0L).as("label"), col("text"))
        graft.queries.Retrieval.hybridMrrFromIndexes(spark, text,
          vector, q, corpus, nprobe = 2, lexFetchK = 50)
      }),
      "Retrieval.ndcgFromIndexes" -> (() => {
        val q = emb(spark, dataDir).where(col("vec_id") < 8)
          .select(col("vec_id"), lit(0L).as("label"), col("embedding"))
        graft.queries.Retrieval.ndcgFromIndexes(spark, vector, q,
          emb(spark, dataDir).select(col("vec_id"),
            lit(0L).as("label")), nprobe = 2)
      }),
      "Retrieval.semanticDecontamFromIndexes" -> (() =>
        graft.queries.Retrieval.semanticDecontamFromIndexes(spark,
          vector, emb(spark, dataDir).select(col("vec_id"))
            .where(col("vec_id") % 20 === 0), nprobe = 2)),
      // the cluster index's two distinctive plans: per-wave edge
      // discovery (batch shingles vs the persisted postings — the
      // O(batch × fanout) claim) and the additive dedup-mass report
      // (O(clusters), never a re-cluster)
      "ClusterIndex.append.edges" -> (() =>
        ClusterIndex.appendEdgesPlan(spark, s"$idxRoot/cluster",
          graft.Tables(spark, dataDir).documents
            .select(col("doc_id"), col("source"), col("text"))
            .where(col("doc_id") < 20))),
      "ClusterIndex.report" -> (() =>
        ClusterIndex.report(spark, s"$idxRoot/cluster")),
      "ClusterIndex.compact.shingles" -> (() =>
        ClusterIndex.readRel(spark, s"$idxRoot/cluster", "shingles",
            Seq("source", "shingle", "doc_id", "n"), None)
          .repartitionByRange(col("shingle"))
          .sortWithinPartitions(col("shingle"), col("doc_id"))),
      // ---- compact jobs (reader + re-clustering repartition) ----
      "TextIndex.compact.postings" -> (() =>
        TextIndex.readPostings(spark, text)
          .repartitionByRange(col("word"))
          .sortWithinPartitions(col("word"), col("doc_id"))),
      "SpanIndex.compact.grams" -> (() =>
        SpanIndex.livePostings(spark, span)
          .repartitionByRange(col("gram"))
          .sortWithinPartitions(col("gram"), col("doc_id"), col("pos"))),
      "DedupIndex.compact.fingerprints" -> (() =>
        DedupIndex.readFingerprints(spark, dedup)
          .repartition(col("fp"))),
      "ContamIndex.compact.postings" -> (() =>
        ContamIndex.readPostings(spark, contam)
          .repartitionByRange(col("g"))
          .sortWithinPartitions(col("g"), col("doc_id"))),
      "VectorIndex.compact.postings" -> (() =>
        VectorIndex.readPostings(spark, vector)
          .repartition(col("cell"))),
      "LmIndex.compact.bigrams" -> (() =>
        LmIndex.readBigrams(spark, lm)
          .repartitionByRange(col("w1"), col("w2"))
          .sortWithinPartitions(col("w1"), col("w2"))),
      // the retraining compact's two stages: the hash-ordered sample
      // (one TakeOrdered + the reviewed ≤256-row renumber window) and
      // the full reassignment scan against the retrained quantizer
      // the hot-cell split's reassignment (bounded to the split cell's
      // members — the O(hot cell) claim the plan gate keeps honest:
      // one partition-pruned cell read, a ≤256-row sub-quantizer, a
      // 2-row broadcast assignment)
      "VectorIndex.split.reassign" -> (() =>
        VectorIndex.splitAssignment(spark, vector, cellId = 0L,
          newId = K.toLong,
          trainIters = graft.queries.SimilarityQueries.IvfIters)._1),
      "VectorIndex.compactRetrain.assign" -> (() => {
        val merged = VectorIndex.readPostings(spark, vector)
          .select(col("vec_id"), col("v"))
        VectorIndex.assignCells(merged,
          graft.queries.SimilarityQueries.ivfCentroids(
            VectorIndex.retrainSample(merged), K, iters = 0))
      }))
  }
}
