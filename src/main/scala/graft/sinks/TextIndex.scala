package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Persisted inverted text index — the postings/statistics structures
  * behind q132 (BM25) and q139 (boolean retrieval) as durable LIBRARY
  * artifacts: tokenize and aggregate the corpus once, then serve any
  * number of term queries without re-reading a single document.
  *
  * Layout:
  * {{{
  *   <dir>/postings/  (word, doc_id, tf,  range-clustered + sorted by
  *                     positions[])       word → parquet min/max stats
  *                                        prune non-matching files and
  *                                        row groups at the scan;
  *                                        positions are 0-based per doc
  *                                        (phrase search reads them,
  *                                        bag-of-words scorers skip the
  *                                        column via parquet projection)
  *   <dir>/doclens/   (doc_id, dl)        per-doc token counts
  *   <dir>/stats/     (nn, toktot)        one row PER build/append
  *                                        delta; readers SUM
  * }}}
  *
  * Incremental maintenance ([[append]]) is O(batch): each batch writes
  * its own range-clustered postings delta files (their min/max stats
  * prune independently — a term lookup reads only word-range-matching
  * files from EVERY generation), appends its doclens rows, and appends
  * a one-row (nn, toktot) delta to stats. Readers merge at read time:
  * parquet unions delta files natively and [[readTotals]] sums the
  * stats log — the DedupIndex.append contract, and TextIndexSpec pins
  * append-then-search ≡ full rebuild. Contract: appended doc_ids must
  * be NEW (dedup/ingest upstream decides admission — same as
  * DedupIndex); re-appending an indexed doc would double-count it.
  * Many small appends accumulate delta generations; [[compact]] folds
  * them back into one tight range-clustered tree without recomputing a
  * row (the [[IndexSink]] contract).
  *
  * Scale shape: a term lookup pushes `word IN (...)` into the parquet
  * scan (PushedFilters — the spec asserts it), so only the files whose
  * word range covers a query term are read: the inverted-index access
  * path, file-pruned instead of B-tree-walked. Scoring then touches
  * only matching postings; doc lengths join co-keyed on doc_id and the
  * one-row summed stats broadcast. The BM25 math and result contract
  * are `Q.bm25Part`/`Q.bm25TopK` — the SAME definitions q132
  * executes, so the persisted and in-query rankers cannot drift;
  * TextIndexSpec additionally pins search over the persisted index
  * byte-for-byte to the in-query q132 plan.
  */
object TextIndex {

  /** The three index relations for one (doc_id, text) batch — ONE
    * tokenization shared by build/append/appendDelta so the three
    * write paths cannot drift.
    */
  private[sinks] def relations(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
        posexplode(expr(graft.queries.TextQueries.wordsExpr))
          .as(Seq("pos", "word")))
      .ckpt() // feeds postings AND doclens/stats
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .ckpt() // feeds doclens AND the stats delta
    val postings = toks.groupBy(col("word"), col("doc_id"))
      // positions ride along sorted (0-based, per doc) — the
      // positional-postings payload phrase search reads; bag-of-words
      // scorers (BM25, boolean) never deserialize the column thanks to
      // parquet's columnar projection
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      // range-cluster + sort by word: every file covers a tight word
      // range, so a term filter prunes files via parquet min/max stats
      // (per append/delta generation — each prunes independently)
      .repartitionByRange(col("word"))
      .sortWithinPartitions(col("word"), col("doc_id"))
    val stats = dl
      .agg(count(lit(1)).as("nn"), sum(col("dl")).as("toktot"))
      .coalesce(1)
    (postings, dl, stats)
  }

  /** Tokenize and index a (doc_id, text) corpus from scratch. */
  def build(docs: DataFrame, outDir: String): Unit = {
    val (postings, dl, stats) = relations(docs)
    postings.write.mode(SaveMode.Overwrite).parquet(s"$outDir/postings")
    dl.write.mode(SaveMode.Overwrite).parquet(s"$outDir/doclens")
    stats.write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
  }

  /** Incrementally index a (doc_id, text) batch of NEW docs — O(batch),
    * no corpus rescan: postings/doclens deltas + a one-row stats delta
    * (merged at read; see the object scaladoc for the contract).
    * Routed through the claimed gen-scoped delta tree (negative-gen
    * namespace — [[DeltaIO.nextPlainGen]]) like DedupIndex/LmIndex/
    * VectorIndex, NOT parquet mode-append on the main tree: the
    * mode-append commit lists + schema-infers the whole main tree, a
    * constant factor that grows with the corpus (the r9 10× SinkBench
    * flag), and two concurrent appenders under it silently interleave.
    * The claim makes concurrent plain appends race-safe; `claim`
    * defaults to the filesystem create (object stores pass
    * [[ClaimPrimitive.conditionalPut]]).
    */
  def append(docs: DataFrame, indexDir: String,
      claim: Option[ClaimPrimitive] = None): Unit =
    appendDelta(docs, indexDir,
      DeltaIO.nextPlainGen(docs.sparkSession, indexDir,
        Seq("postings", "doclens", "stats"), claim))

  /** Replay-safe gen-scoped [[append]] (the [[IndexSink.appendDelta]]
    * contract): all three relations land under their own
    * `<rel>_delta/gen=<gen>/` subtree with Overwrite, so a replayed
    * micro-batch rewrites its own generation instead of double-counting
    * every tf/dl/stats row. This is what makes a STREAMING TextIndex
    * ingest twin possible at all — foreachBatch is at-least-once, and
    * under plain append a single replay would silently inflate BM25's
    * corpus statistics forever.
    */
  def appendDelta(docs: DataFrame, indexDir: String, gen: Long): Unit = {
    val (postings, dl, stats) = relations(docs)
    DeltaIO.writeGen(postings, indexDir, "postings", gen)
    DeltaIO.writeGen(dl, indexDir, "doclens", gen)
    DeltaIO.writeGen(stats, indexDir, "stats", gen)
  }

  /** Postings across the main tree and every streaming delta gen. */
  private[graft] def readPostings(spark: SparkSession,
      indexDir: String): DataFrame =
    DeltaIO.readMerged(spark, indexDir, "postings",
      Seq("word", "doc_id", "tf", "positions"))

  /** Doc lengths across the main tree and every delta gen. */
  private[graft] def readDoclens(spark: SparkSession,
      indexDir: String): DataFrame =
    DeltaIO.readMerged(spark, indexDir, "doclens", Seq("doc_id", "dl"))

  /** Corpus totals merged across build/append/delta generations: one
    * row (nn, toktot).
    */
  private[graft] def readTotals(spark: SparkSession,
      indexDir: String): DataFrame =
    DeltaIO.readMerged(spark, indexDir, "stats", Seq("nn", "toktot"))
      .agg(sum(col("nn")).as("nn"), sum(col("toktot")).as("toktot"))

  /** BM25 top-k over the persisted index for a bag of query terms —
    * q132's scorer and output contract: (rk, doc_id, n_terms, score).
    */
  def searchBm25(spark: SparkSession, indexDir: String,
      terms: Seq[String], topK: Int): DataFrame = {
    val (tf, df) = termStats(readPostings(spark, indexDir), terms)
    graft.queries.Q.bm25TopK(graft.queries.Q.bm25Aggregate(tf, df,
      readDoclens(spark, indexDir), readTotals(spark, indexDir)), topK)
  }

  /** [[searchBm25]] over pre-resolved index relations with the corpus
    * totals as driver values — the serving form: a prepared handle
    * (`Retrieval.prepareServing`) resolves the postings/doclens trees
    * ONCE and collects the one (nn, toktot) row at prepare time, so
    * per-query cost is the word-pruned postings scan plus the scoring
    * tail, with the totals folded into the plan as literals instead of
    * a crossJoin. Same term scan, BM25 weight (`Q.bm25Part`) and top-k
    * contract as [[searchBm25]].
    */
  private[graft] def searchBm25On(postings: DataFrame,
      doclens: DataFrame, nn: Long, toktot: Long, terms: Seq[String],
      topK: Int): DataFrame = {
    val (tf, df) = termStats(postings, terms)
    graft.queries.Q.bm25TopK(graft.queries.Q.bm25Sum(
      tf.join(broadcast(df), "word").join(doclens, "doc_id"),
      lit(nn), lit(toktot), Seq("doc_id")), topK)
  }

  /** The term bag's postings, (word, doc_id, tf) behind the pushed
    * `word IN (...)` filter, and their per-word document frequencies
    * (word, df).
    */
  private def termStats(postings: DataFrame, terms: Seq[String])
      : (DataFrame, DataFrame) = {
    val tf = postings
      .where(col("word").isin(terms: _*))
      .select(col("word"), col("doc_id"), col("tf"))
    (tf, tf.groupBy(col("word")).agg(count(lit(1)).as("df")))
  }

  /** Batched BM25 over the persisted index: ONE postings scan serves a
    * bounded SET of term-bag queries — the shape a retrieval EVAL runs
    * (q269: a fixed query battery against the corpus), where looping
    * [[searchBm25]] would re-open the index per query.
    *
    * @param queries (qid, terms array<string>) — bounded by design (a
    *                query batch, not a corpus): the distinct term union
    *                is collected to drive the same `word IN (...)`
    *                parquet pushdown as [[searchBm25]], and the per-qid
    *                term lists broadcast into the postings scan.
    * @param topK    neighbors kept per qid — ranked by `Q.bm25TopKPerQuery`
    *                (the [[searchBm25]] round-9 key + doc_id tiebreak,
    *                partition-pre-capped so a common term's corpus-sized
    *                match set never sorts in one task)
    * @return (qid, rk, doc_id, n_terms, score) — [[searchBm25]]'s
    *         contract plus the qid; per-word df and corpus totals are
    *         the same merged statistics, so for any single query the
    *         batch ranking ≡ the single ranking (TextIndexSpec pins it)
    */
  def searchBm25Batch(spark: SparkSession, indexDir: String,
      queries: DataFrame, topK: Int): DataFrame = {
    val qterms = queries
      .select(col("qid"), explode(array_distinct(col("terms")))
        .as("word"))
      .ckpt() // bounded: |queries| · |terms| rows, feeds collect + join
    val termSet = qterms.select(col("word")).distinct()
      .collect().map(_.getString(0)).toSeq
    val tf = readPostings(spark, indexDir)
      .where(col("word").isin(termSet: _*))
      .select(col("word"), col("doc_id"), col("tf"))
      .ckpt() // feeds df AND the per-query scoring
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val qtf = tf.join(broadcast(qterms), "word")
    val scored = graft.queries.Q.bm25AggregateBy(
      qtf, df, readDoclens(spark, indexDir),
      readTotals(spark, indexDir), Seq("qid", "doc_id"))
    graft.queries.Q.bm25TopKPerQuery(scored, topK)
  }

  /** Exact phrase search over the positional postings — q189's matcher
    * (`Q.phraseHits`, the shared anchor-vote scorer) and output
    * contract (doc_id, n_hits, first_pos), but starting from the
    * word-pruned postings scan instead of a corpus re-tokenization:
    * only files whose word range covers a phrase word are read, then
    * each surviving posting explodes back to (pos, w) votes. The spec
    * pins parity with the in-query q189 plan over the same corpus.
    */
  def searchPhrase(spark: SparkSession, indexDir: String,
      phrase: Seq[String]): DataFrame = {
    val toks = readPostings(spark, indexDir)
      .where(col("word").isin(phrase.distinct: _*))
      .select(col("doc_id"), col("word").as("w"),
        explode(col("positions")).as("pos"))
    graft.queries.Q.phraseHits(toks, phrase)
  }

  /** Compact an appended index: re-cluster EVERY postings generation
    * into one word-range-sorted generation (a term lookup then prunes
    * one tight file set instead of one per append), consolidate
    * doclens, and fold the stats log to a single row — all without
    * re-tokenizing a document (contrast [[build]], which re-reads the
    * corpus). Writes to a separate directory; the swap is the caller's
    * atomic-rename concern (the CorpusExport.compact contract — never
    * read-and-overwrite one path in a single job).
    */
  def compact(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    readPostings(spark, srcDir) // main + every streaming delta gen
      .repartitionByRange(col("word"))
      .sortWithinPartitions(col("word"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dstDir/postings")
    readDoclens(spark, srcDir)
      .write.mode(SaveMode.Overwrite).parquet(s"$dstDir/doclens")
    readTotals(spark, srcDir)
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dstDir/stats")
  }
}
