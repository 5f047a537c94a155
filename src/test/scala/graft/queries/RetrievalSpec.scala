package graft.queries

import graft.TestSpark
import graft.sinks.{TextIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Retrieval.hybridMrrFromIndexes]] differs from the oracle-gated
  * q269 ONLY in the candidate source (persisted TextIndex/VectorIndex
  * probes + bounded re-scores); with every IVF cell probed and both
  * fetches covering the corpus it must reproduce q269 ROW FOR ROW —
  * the ValuationSpec pin pattern.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def embeddings: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  private def documents: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))

  /** vec_id's (vec_id, embedding) row as a one-row local relation — the
    * query shape a serving caller hands in. */
  private def localQuery(id: Long): DataFrame = spark.createDataFrame(
    embeddings.where(col("vec_id") === id).collect().toSeq.asJava,
    embeddings.schema)

  /** A TextIndex over every document and a k=16 VectorIndex over every
    * embedding, shared by the read-only serving tests. */
  private lazy val servingIndexes: (String, String) = {
    val tIdx = TestSpark.tmpDir("serve-text")
    TextIndex.build(documents, tIdx)
    val vIdx = TestSpark.tmpDir("serve-ivf")
    VectorIndex.build(embeddings, vIdx, k = 16)
    (tIdx, vIdx)
  }

  /** The serving composition [[Retrieval.hybridSearchPrepared]]
    * replaced, kept as its reference: each arm a distributed plan —
    * [[TextIndex.searchBm25]] for the lexical arm; [[VectorIndex.search]]
    * fetching arms + 8 (the tie margin) candidates, re-scored at
    * round-9 on the stored vectors and ranked by a window for the
    * semantic arm — fused by [[SimilarityQueries.rrfFuseTop]]. */
  private def distributedHybrid(tIdx: String, vIdx: String,
      terms: Seq[String], q: DataFrame, nprobe: Int, arms: Int = 50,
      topN: Int = 20): DataFrame = {
    val lex = TextIndex.searchBm25(spark, tIdx, terms, arms)
      .select(col("doc_id"), col("rk").as("lex_rk"))
    val qv = q.select(expr("l2_normalize(embedding)").as("qv"))
      .localCheckpoint()
    val hits = VectorIndex.search(spark, vIdx, q, nprobe, topK = arms + 8)
      .select(col("neighbor_id").as("vec_id"))
    val sem = VectorIndex.storedVectors(spark, vIdx)
      .join(broadcast(hits), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(expr("dot_product(v, qv)"), 9).as("cos_r"))
      .orderBy(col("cos_r").desc, col("doc_id").asc)
      .limit(arms)
      .withColumn("sem_rk", row_number().over(Q.bounded.orderBy(
        col("cos_r").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("sem_rk"))
    SimilarityQueries.rrfFuseTop(sem, lex, 60, topN)
  }

  private def sameRanking(got: DataFrame, want: DataFrame,
      what: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), s"$what: schema")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.nonEmpty && g == w, s"$what: rows")
  }

  test("hybridMrrFromIndexes: full probe + full fetch ≡ q269") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    // q269's eval corpus: docs that carry embeddings
    val corpus = docs.join(e, docs("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("label"), col("text"))
      .localCheckpoint()
    val n = corpus.count().toInt
    val tIdx = TestSpark.tmpDir("retrieval-text")
    graft.sinks.TextIndex.build(
      corpus.select(col("doc_id"), col("text")), tIdx)
    val vIdx = TestSpark.tmpDir("retrieval-ivf")
    graft.sinks.VectorIndex.build(e, vIdx, k = 16)
    // fresh reads (not corpus ⋈ e — corpus already descends from e and
    // localCheckpoint preserves attribute ids, so that re-join is an
    // ambiguous self-join at analysis)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < 8)
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")),
        col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("label"), col("text"), col("embedding"))
      .localCheckpoint()

    // precondition for EXACT parity on the lexical arm: q269 ranks the
    // WHOLE corpus (zero-similarity docs back-fill by ascending id), so
    // the BM25 match set must cover it — every corpus doc shares ≥1
    // word with every query
    val qterms = queries.select(col("vec_id").as("qid"),
      expr(s"array_distinct(${TextQueries.wordsExpr})").as("terms"))
    val matches = graft.sinks.TextIndex
      .searchBm25Batch(spark, tIdx, qterms, topK = n + 8)
      .groupBy("qid").count().collect()
    assert(matches.length == 8 && matches.forall(_.getLong(1) == n),
      "fixture must satisfy full-match precondition (see scaladoc)")

    // semFetchK = n so the SEMANTIC fetch also covers the corpus: the
    // default (topN + margin) fetches raw-cosine candidates, and a
    // round-9 tie group straddling that boundary could legally break
    // parity with q269, which ranks the whole corpus
    val got = Retrieval.hybridMrrFromIndexes(spark, tIdx, vIdx,
        queries, corpus, nprobe = 16, lexFetchK = n + 8, semFetchK = n)
      .collect().toSeq
    val want = graft.SparkEntry.queries("q269_hybrid_mrr")(spark, dir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "index-backed hybrid eval != q269 at full probe")
  }

  test("hybridSearch: full probe ≡ q171's fused ranking") {
    // q171's corpus: lexical arm over ALL documents (q132's terms),
    // semantic arm over the embeddings, query = vec_id 0 (excluded
    // from candidates — VectorIndex.search drops self)
    val tIdx = TestSpark.tmpDir("hybrid-text")
    graft.sinks.TextIndex.build(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")), tIdx)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val vIdx = TestSpark.tmpDir("hybrid-ivf")
    graft.sinks.VectorIndex.build(e, vIdx, k = 16)
    val got = Retrieval.hybridSearch(spark, tIdx, vIdx,
        Seq("spark", "window", "merge"),
        e.where(col("vec_id") === 0)
          .select(col("vec_id"), col("embedding")),
        nprobe = 16)
      .collect().toSeq
    val want = graft.SparkEntry.queries("q171_rrf_hybrid")(spark, dir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "index-backed hybrid search != q171 at full probe")
  }

  test("hybridSearchPrepared: warm ≡ cold; handle pins the snapshot") {
    // the warm path is hybridSearch over a prepared handle (cached
    // statistics, reused file indexes) — results must be IDENTICAL
    // (the cold path delegates through an uncached handle, so this is
    // a pin on the caching, not a separate plan); and the handle is a
    // SNAPSHOT: an append after prepareServing is invisible to it
    // until re-prepare (the serving tier's publish-and-swap contract)
    val tIdx = TestSpark.tmpDir("warm-text")
    graft.sinks.TextIndex.build(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")), tIdx)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vIdx = TestSpark.tmpDir("warm-ivf")
    graft.sinks.VectorIndex.build(e, vIdx, k = 16)
    val terms = Seq("spark", "window", "merge")
    val q = e.where(col("vec_id") === 0)
    val handle = Retrieval.prepareServing(spark, tIdx, vIdx)
    try {
      val cold = Retrieval.hybridSearch(spark, tIdx, vIdx, terms, q,
        nprobe = 16).collect().toSeq
      val warm = Retrieval.hybridSearchPrepared(handle, terms, q,
        nprobe = 16).collect().toSeq
      assert(warm.nonEmpty && warm == cold,
        "prepared handle must reproduce the unprepared ranking")

      // append an exact duplicate of the query vector under a new id:
      // at full probe its cos 1.0 takes semantic rank 1 and shifts
      // every other sem_rk, so a fresh read MUST change the fusion…
      graft.sinks.VectorIndex.append(spark, vIdx,
        e.where(col("vec_id") === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            col("embedding")))
      val fresh = Retrieval.hybridSearch(spark, tIdx, vIdx, terms, q,
        nprobe = 16).collect().toSeq
      assert(fresh != cold,
        "append must be visible to an unprepared search")
      // …while the prepared handle still serves the prepare-time rows
      val still = Retrieval.hybridSearchPrepared(handle, terms, q,
        nprobe = 16).collect().toSeq
      assert(still == cold,
        "handle must pin the prepare-time index snapshot")
    } finally handle.close()
  }

  test("ndcgFromIndexes: persisted quantizer + probes ≡ q172") {
    // the index built at q172's quantizer (k=16 first-vector anchors,
    // trainIters=0 default) and probed at its nprobe=2 must reproduce
    // the in-query NDCG eval row for row — the metric tail is shared
    // (ndcgAt10Tail), so what this pins is the candidate path:
    // persisted centroids/assignments/probe rule ≡ ivfRanked's
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val vIdx = TestSpark.tmpDir("retrieval-ndcg-ivf")
    graft.sinks.VectorIndex.build(
      e.select(col("vec_id"), col("embedding")), vIdx, k = 16)
    val got = Retrieval.ndcgFromIndexes(spark, vIdx, e,
        e.select(col("vec_id"), col("label")), nprobe = 2)
      .orderBy(col("qlabel")).collect().toSeq
    val want = graft.SparkEntry.queries("q172_ndcg_eval")(spark, dir)
      .orderBy(col("qlabel")).collect().toSeq
    assert(got.nonEmpty && got == want,
      "index-backed NDCG eval != q172 at the pinned configuration")
  }

  test("semanticDecontamFromIndexes: persisted quantizer ≡ q280") {
    // the index built at q280's quantizer (k=16 first-vector anchors
    // over the FULL corpus) holds both splits; the twin screens the
    // same bounded eval battery (stride ∧ cap — non-binding at this
    // SF) against everything the stride excludes, so at nprobe=2 the
    // candidate path must reproduce the in-query screen row for row
    // (the z-score tail is shared — what this pins is the candidate
    // source: persisted cells/centroids/vectors ≡ ivfRanked's)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vIdx = TestSpark.tmpDir("retrieval-decontam-ivf")
    graft.sinks.VectorIndex.build(e, vIdx, k = 16)
    val evalIds = e.select(col("vec_id"))
      .where(col("vec_id") % 20 === 0 &&
        col("vec_id") < 20L * SimilarityQueries.DecontamEvalCap)
    val excludeIds = e.select(col("vec_id"))
      .where(col("vec_id") % 20 === 0)
    val got = Retrieval.semanticDecontamFromIndexes(spark, vIdx,
        evalIds, excludeIds, nprobe = 2)
      .collect().toSeq
    val want = graft.SparkEntry.queries("q280_semantic_decontam")(
        spark, dir)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "index-backed decontamination screen != q280")
  }

  test("hybridMrrFromIndexes: bounded fetch degrades gracefully") {
    // with a narrow candidate budget the metric must still be a valid
    // MRR in [0, 1] over all 8 queries for all three systems — the
    // production configuration, not the parity one
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val corpus = docs.join(e, docs("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("label"), col("text"))
      .localCheckpoint()
    val tIdx = TestSpark.tmpDir("retrieval-text-b")
    graft.sinks.TextIndex.build(
      corpus.select(col("doc_id"), col("text")), tIdx)
    val vIdx = TestSpark.tmpDir("retrieval-ivf-b")
    graft.sinks.VectorIndex.build(e, vIdx, k = 16)
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < 8)
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")),
        col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("label"), col("text"), col("embedding"))
    val rows = Retrieval.hybridMrrFromIndexes(spark, tIdx, vIdx,
        queries, corpus, nprobe = 4, lexFetchK = 100)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) == 8L, "every query scored")
      val mrr = r.getDouble(3)
      assert(mrr >= 0.0 && mrr <= 1.0, s"${r.getString(0)}: $mrr")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 8L)
    }
  }

  test("hybridSearchPrepared: bounded probe ≡ the distributed composition") {
    // nprobe = 4 of k = 16: the driver-side probe ranking, the
    // cell-pruned candidate scan, the literal BM25 totals and the
    // driver fusion must reproduce the all-Spark plans row for row
    val (tIdx, vIdx) = servingIndexes
    val handle = Retrieval.prepareServing(spark, tIdx, vIdx)
    try {
      Seq(0L -> Seq("spark", "window", "merge"),
          7L -> Seq("the", "data", "of"),
          42L -> Seq("merge", "index", "query")).foreach {
        case (id, terms) =>
          val q = localQuery(id)
          val got = Retrieval.hybridSearchPrepared(handle, terms, q,
            nprobe = 4)
          sameRanking(got, distributedHybrid(tIdx, vIdx, terms, q, 4),
            s"query $id")
          val rows = got.collect()
          assert(rows.exists(!_.isNullAt(2)) && rows.exists(!_.isNullAt(3)),
            s"query $id: both arms must contribute")
      }
    } finally handle.close()
  }

  test("hybridSearchPrepared: a probe tie goes to the lower cent_id") {
    // vec 1 := vec 0's embedding, so the first-k quantizer's centroids
    // 0 and 1 are identical: every vector assigns to cell 0 (the lower
    // id wins the assignment tie) and cell 1 is empty. Querying with
    // vec 0 ties both similarities, so nprobe = 1 must probe cell 0 —
    // VectorIndex.search's (sim DESC, cent_id ASC) window — or the
    // semantic arm comes back empty
    val e = embeddings.where(col("vec_id") =!= 1L).unionByName(
      embeddings.where(col("vec_id") === 0L)
        .select(lit(1L).as("vec_id"), col("embedding")))
    val vIdx = TestSpark.tmpDir("tie-ivf")
    VectorIndex.build(e, vIdx, k = 16)
    val (tIdx, _) = servingIndexes
    val terms = Seq("spark", "window", "merge")
    val q = localQuery(0L)
    val handle = Retrieval.prepareServing(spark, tIdx, vIdx)
    try {
      val qv = q.select(expr("l2_normalize(embedding)")).head()
        .getSeq[Double](0)
      assert(Retrieval.probeCells(handle.centroids, qv, 2) == Seq(0L, 1L))
      val got = Retrieval.hybridSearchPrepared(handle, terms, q,
        nprobe = 1)
      assert(got.collect().exists(!_.isNullAt(3)),
        "the semantic arm must read the populated cell 0")
      sameRanking(got, distributedHybrid(tIdx, vIdx, terms, q, 1),
        "tied probe")
    } finally handle.close()
  }

  test("prepareServing pins the totals it collected across an append") {
    val tIdx = TestSpark.tmpDir("pinned-text")
    TextIndex.build(documents, tIdx)
    val (_, vIdx) = servingIndexes
    val terms = Seq("spark", "window", "merge")
    val q = localQuery(0L)
    val handle = Retrieval.prepareServing(spark, tIdx, vIdx)
    try {
      val (nn, toktot) = (handle.nn, handle.toktot)
      val before = Retrieval.hybridSearchPrepared(handle, terms, q,
        nprobe = 4).collect().toSeq
      // one new 6-token doc made of the query terms: lexical rank 1 for
      // any handle that sees it
      val doc = Row(1000000L, "spark window merge spark window merge")
      TextIndex.append(spark.createDataFrame(java.util.List.of(doc),
        documents.schema), tIdx)
      val fresh = Retrieval.prepareServing(spark, tIdx, vIdx, cache = false)
      assert(fresh.nn == nn + 1 && fresh.toktot == toktot + 6,
        "a re-prepared handle must see the appended totals")
      assert(Retrieval.hybridSearchPrepared(fresh, terms, q, nprobe = 4)
        .collect().toSeq != before)
      assert(handle.nn == nn && handle.toktot == toktot,
        "the handle's collected totals must not move")
      assert(Retrieval.hybridSearchPrepared(handle, terms, q, nprobe = 4)
        .collect().toSeq == before,
        "handle must keep serving the prepare-time snapshot")
    } finally handle.close()
  }

  test("a lookup's two scans read only the term and cell ranges") {
    // the plan gates review these frames' shapes; this pins that the
    // term bag reaches the postings scan as a pushed IN filter and the
    // probed cells prune the IVF partitions before any file is opened
    val (tIdx, vIdx) = servingIndexes
    def scans(df: DataFrame) = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val lex = scans(TextIndex.searchBm25On(
        TextIndex.readPostings(spark, tIdx),
        TextIndex.readDoclens(spark, tIdx), nn = 1L, toktot = 1L,
        Seq("spark", "merge"), topK = 50))
      .filter(_.output.exists(_.name == "word"))
    assert(lex.nonEmpty && lex.forall(
      _.metadata("PushedFilters").contains("In(word")), "word IN pushdown")
    val sem = scans(Retrieval.semanticCandidates(
      VectorIndex.readPostings(spark, vIdx), qid = 0L,
      qv = Seq.fill(64)(0.125), cells = Seq(2L, 5L), fetch = 58))
    assert(sem.nonEmpty && sem.forall(s =>
      s.partitionFilters.exists(_.references.exists(_.name == "cell")) &&
        s.selectedPartitions.partitionCount == 2), "cell partition pruning")
  }

  test("hybridSearchPrepared over an empty TextIndex serves the semantic arm") {
    // zero indexed docs: the totals collect as (0, null) and there is
    // nothing to score — the lookup must still answer from the vector
    // index, as the distributed composition does
    val tIdx = TestSpark.tmpDir("empty-text")
    TextIndex.build(documents.where(lit(false)), tIdx)
    val (_, vIdx) = servingIndexes
    val terms = Seq("spark", "window", "merge")
    val q = localQuery(0L)
    val handle = Retrieval.prepareServing(spark, tIdx, vIdx)
    try {
      assert(handle.nn == 0L && handle.toktot == 0L)
      sameRanking(Retrieval.hybridSearchPrepared(handle, terms, q, 4),
        distributedHybrid(tIdx, vIdx, terms, q, 4), "empty text index")
    } finally handle.close()
  }
}
