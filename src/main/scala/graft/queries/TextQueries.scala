package graft.queries

import graft.{QDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Ckpt._

/** Text-analysis operators over the `documents` table — the reference's
  * wc/indexer apps re-expressed as declarative Spark queries (SURVEY.md
  * §2.3 "Spark-native formulation") plus the LLM-pipeline text operators:
  * token statistics, quality scoring, language-ID heuristic, and document
  * fingerprinting.
  *
  * All scalar work uses builtin `functions._` / Catalyst lambda
  * expressions (codegen'd, partial-agg friendly) — no Scala UDFs. Every
  * computation is cross-engine deterministic: md5 for hashing, exact
  * integer counts, and double arithmetic only on exact integers.
  *
  * Scale: each query is a single scan + hash aggregation; explode fan-out
  * (one row per token) is bounded by map-side partial aggregation before
  * the shuffle, so 100 TB of documents shuffles only (word, partial-count)
  * pairs per partition.
  */
object TextQueries {

  /** Token list: split on runs of non-letters, drop empties (the wc.go
    * tokenizer, `/root/reference/mrapps/wc.go:21-27`). Shared with
    * DedupQueries.
    */
  // regexp_extract_all of the letter runs — provably the same array as
  // filter(split(lower(text), '[^a-z]+'), x -> x != ''), but fully
  // codegen'd: ArrayFilter is a HigherOrderFunction with NO codegen, so
  // the filter formulation paid an interpreted pass over every token of
  // every document in the ~20 queries that tokenize.
  val wordsExpr = "regexp_extract_all(lower(text), '[a-z]+', 0)"
  val wordsExprDuck =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"
  private val W = wordsExpr
  private val WDuck = wordsExprDuck

  /** PII detection patterns — ONE definition shared by the q218 batch
    * scrub and `CorpusStreaming.piiAlerts` (the monitor must fire on
    * exactly what the scrub would redact). RE2-compatible subset
    * (char classes + bounded repeats), so Java regex and DuckDB's RE2
    * agree; raw form (single backslash) — SQL-literal users escape.
    */
  val piiEmailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  val piiPhonePat = "[0-9]{3}-[0-9]{4}"

  // ------------------------------------------------------------------
  // BPE training machinery shared by q216 (the training loop) and
  // q226 (the apply twin) — ONE definition, the sharedSpans/logregSteps
  // anti-drift rule. See q216's design note for the sentinel-encoding
  // argument.
  // ------------------------------------------------------------------

  /** Token stream of a sentinel-encoded corpus row `s`. */
  private val bpeToks = "split(substring(s, 2, length(s) - 2), '><')"

  /** Sentinel-encode the corpus: '<w1><w2>…' per doc (empty docs out). */
  private def bpeEnc0(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), expr(W).as("ws"))
      .where(expr("size(ws) > 0"))
      .select(col("doc_id"),
        concat(lit("<"), expr("array_join(ws, '><')"), lit(">"))
          .as("s"))
      .ckpt() // feeds round-1 count AND rewrite

  /** One BPE merge superstep: corpus pair count → 1-row argmax (tie →
    * lexicographic) → narrow rewrite with the winner broadcast.
    * Returns (merged corpus, the round's report row).
    */
  private def bpeStep(df: org.apache.spark.sql.DataFrame, r: Int) = {
    // The pair stream comes from the native SentinelPairs generator:
    // one streaming pass per corpus row, no token array or per-pair
    // struct (same rows as the split + transform(sequence) form, which
    // R16ExprSpec keeps as its reference).
    val pairs = df.select(graft.functions.SentinelPairs.sentinelPairs(
      col("s")).as(Seq("w1", "w2")))
    val top = pairs
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(1)
      .ckpt() // 1-row winner: rewrite + output row
    val merged = df.crossJoin(broadcast(top))
      .select(col("doc_id"), expr(
        """replace(s, concat('<', w1, '><', w2, '>'),
             concat('<', w1, '_', w2, '>'))""").as("s"))
      .ckpt() // superstep barrier (next round's input)
    val stats = merged.select(explode(expr(bpeToks)).as("tok"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("vocab"))
    val row = top.crossJoin(broadcast(stats))
      .select(lit(r).cast("int").as("round"), col("w1"), col("w2"),
        col("cnt").as("pair_count"), col("n_tokens"), col("vocab"))
    (merged, row)
  }

  /** DuckDB restatement of [[graft.functions.Shingles]] for word
    * n-grams over a `ws` word-list column — ONE definition of the
    * slice offsets (they must mirror the generator exactly), shared by
    * the q56 (n=13) and q62 (n=5) oracles.
    */
  def ngramsDuck(n: Int): String =
    s"""list_distinct(
         CASE WHEN len(ws) < $n THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(ws) - ${n - 2}),
                     i -> list_aggregate(ws[i:i+${n - 1}], 'string_agg', ' '))
         END)"""

  /** BPE-ish token count over `text` (letter runs, digit runs,
    * punctuation runs — the GPT-2 pretokenizer shape), ONE definition
    * per engine shared by q19/q53/q68 so the tokenizer cannot drift
    * between queries. Whitespace is the EXPLICIT [[Q.wsChars]] class
    * (never `\s` — Java's includes VT, RE2's does not); the two
    * spellings differ only by the escaping layer each engine's string
    * path applies (Spark SQL literals unescape one level, DuckDB's do
    * not). Interpolating these into s-interpolated oracle strings is
    * safe — interpolation inserts the finished value verbatim.
    */
  val bpeCountExpr =
    s"""cast(size(regexp_extract_all(lower(text),
       '[a-z]+|[0-9]+|[^a-z0-9${Q.wsCharsSql}]+', 0)) as bigint)"""
  val bpeCountExprDuck =
    s"""CAST(len(regexp_extract_all(lower(text),
       '[a-z]+|[0-9]+|[^a-z0-9${Q.wsChars}]+')) AS BIGINT)"""

  /** Shared add-one-smoothed bigram-LM construction — ONE definition
    * for the q184 perplexity filter and the q249 DoReMi-style mixture
    * reweighter (the sharedSpans/logregSteps anti-drift rule). Returns
    * (big, lp): the checkpointed (doc_id, source, w1, w2) bigram
    * stream — the corpus is tokenized ONCE and feeds history counts,
    * pair counts, and scoring — and the (w1, w2, lp) round-9
    * conditional log-probability table. The lookup is a co-keyed
    * (w1, w2) equi-join: the bigram table is vocab²-bounded and NOT
    * broadcastable at scale, unlike q75's unigram table; the vocab
    * size rides in as a ONE-row broadcast (q37 pattern). Each ln term
    * rounds at 9 over exact integer counts (q75's discipline).
    */
  private[queries] def bigramLm(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val toks = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), expr(W).as("ws"))
      .where(size(col("ws")) >= 2)
    val big = toks.select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
           i -> struct(element_at(ws, i) as w1,
                       element_at(ws, i + 1) as w2))""")).as("bg"))
      .select(col("doc_id"), col("source"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .ckpt() // feeds c12, c1, AND the scoring join
    val c12 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val lp = c12.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"), expr(
        """round(ln((cast(c12 as double) + 1.0d)
           / (cast(c1 as double) + cast(v as double))), 9)""").as("lp"))
    (big, lp)
  }

  /** DuckDB restatement of [[bigramLm]] — the CTE chain both oracles
    * share verbatim.
    */
  private[queries] val bigramLmDuck: String = s"""
        toks AS (SELECT doc_id, source, ws
                 FROM (SELECT doc_id, source, $wordsExprDuck AS ws
                       FROM documents) t0
                 WHERE len(ws) >= 2),
        big AS (SELECT doc_id, source, bg['w1'] AS w1, bg['w2'] AS w2
                FROM (SELECT doc_id, source,
                        unnest(list_transform(range(1, len(ws)),
                          i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS bg
                      FROM toks) t1),
        c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
                FROM big GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
               FROM big GROUP BY 1),
        vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
               FROM (SELECT unnest(ws) AS w FROM toks) t2),
        lp AS (SELECT w1, w2,
                      ROUND(LN((CAST(c12 AS DOUBLE) + 1.0)
                        / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))), 9)
                        AS lp
               FROM c12 JOIN c1 USING (w1), vv)"""

  val defs: Seq[QDef] = Seq(
    // ------------------------------------------------------------------
    // q17: word count gone native — vs the MR shim this gets map-side
    // partial aggregation for free (SURVEY.md §4.1: the reference has no
    // combiner; Catalyst adds one automatically).
    QDef(
      "q17_doc_wordcount",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"), explode(expr(W)).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"))
      },
      Some(s"""
        SELECT word, COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest($WDuck) AS word FROM documents) t
        GROUP BY word
      """)),

    // ------------------------------------------------------------------
    // q18: inverted index gone native (indexer.go semantics: per-doc
    // DISTINCT words, postings sorted by doc id, comma-joined).
    QDef(
      "q18_inverted_index",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"),
            explode(array_distinct(expr(W))).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_docs"),
            array_join(
              transform(array_sort(collect_list(col("doc_id"))),
                x => x.cast("string")),
              ",").as("doc_list"))
      },
      Some(s"""
        SELECT word, COUNT(*) AS n_docs,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_list
        FROM (SELECT doc_id, unnest(list_distinct($WDuck)) AS word
              FROM documents) t
        GROUP BY word
      """)),

    // ------------------------------------------------------------------
    // q19: per-document token statistics + quality score (length,
    // punctuation and stopword ratios — the classic data-quality
    // heuristics). One narrow projection, no shuffle at all.
    QDef(
      "q19_text_stats",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(
            col("doc_id"),
            expr("cast(size(ws) as bigint)").as("n_tokens"),
            // whitespace tokenization + a BPE-ish regex (letter runs,
            // digit runs, punctuation runs — the GPT-2 pretokenizer
            // shape), both countable identically in RE2 and Java regex
            expr(s"""cast(size(filter(split(text, '${Q.wsReSql}+'),
                    x -> x != '')) as bigint)""").as("n_ws_tokens"),
            expr(bpeCountExpr).as("n_bpeish_tokens"),
            expr("cast(size(array_distinct(ws)) as bigint)").as("n_distinct"),
            expr("cast(length(text) as bigint)").as("n_chars_actual"),
            // nullif-guarded denominators: Spark's non-ANSI x/0 is NULL
            // but DuckDB's IEEE double division yields inf/NaN, so an
            // empty-token doc at any future SF would hash-diverge.
            // nullif pins both engines to NULL.
            expr("aggregate(ws, 0L, (a, x) -> a + length(x)) / nullif(size(ws), 0)")
              .as("avg_token_len"),
            expr("size(filter(ws, x -> x = 'the' or x = 'a')) / nullif(size(ws), 0)")
              .as("stopword_ratio"),
            expr("length(regexp_replace(text, '[a-z ]', '')) / nullif(length(text), 0)")
              .as("punct_ratio"),
            expr("size(array_distinct(ws)) / nullif(size(ws), 0)").as("ttr"))
          // round(…, 9): the three-term multiply-add differs by 1 ulp
          // between engines (FMA/association); 9 digits is far above the
          // noise and far below any semantic signal.
          .withColumn("quality_score",
            expr("round(0.4 * stopword_ratio + 0.3 * ttr + " +
              "0.3 * (least(n_tokens, 200) / 200.0), 9)"))
      },
      Some(s"""
        SELECT doc_id, n_tokens, n_ws_tokens, n_bpeish_tokens, n_distinct,
               n_chars_actual, avg_token_len,
               stopword_ratio, punct_ratio, ttr,
               ROUND(0.4 * stopword_ratio + 0.3 * ttr
                 + 0.3 * (LEAST(n_tokens, 200) / 200.0), 9) AS quality_score
        FROM (
          SELECT doc_id,
                 CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(regexp_split_to_array(text,
                   '${Q.wsRe}+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
                 $bpeCountExprDuck AS n_bpeish_tokens,
                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
                 CAST(length(text) AS BIGINT) AS n_chars_actual,
                 CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                   / nullif(len(ws), 0) AS avg_token_len,
                 CAST(len(list_filter(ws, x -> x = 'the' OR x = 'a')) AS DOUBLE)
                   / nullif(len(ws), 0) AS stopword_ratio,
                 CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
                   / nullif(length(text), 0) AS punct_ratio,
                 CAST(len(list_distinct(ws)) AS DOUBLE)
                   / nullif(len(ws), 0) AS ttr
          FROM (SELECT doc_id, text, $WDuck AS ws FROM documents) t0) t1
      """)),

    // ------------------------------------------------------------------
    // q20: language-ID via stopword-marker counts with a fixed priority
    // argmax (deterministic tiebreak). The marker lists are tiny
    // broadcast-free literals; at scale this is a pure map.
    QDef(
      "q20_lang_id",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .withColumn("s_en", expr(
            "cast(size(filter(ws, x -> x in ('the','a','of','and'))) as bigint)"))
          .withColumn("s_de", expr(
            "cast(size(filter(ws, x -> x in ('der','die','das','und'))) as bigint)"))
          .withColumn("s_es", expr(
            "cast(size(filter(ws, x -> x in ('el','la','los','que'))) as bigint)"))
          .withColumn("s_fr", expr(
            "cast(size(filter(ws, x -> x in ('le','les','et','une'))) as bigint)"))
          .withColumn("pred_lang", expr(
            """CASE
               WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END"""))
          .select(col("doc_id"), col("lang").as("labeled_lang"),
            col("pred_lang"), col("s_en"), col("s_de"), col("s_es"),
            col("s_fr"))
      },
      Some(s"""
        SELECT doc_id, lang AS labeled_lang,
               CASE
                 WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                 WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                 WHEN s_es >= s_fr THEN 'es'
                 ELSE 'fr' END AS pred_lang,
               s_en, s_de, s_es, s_fr
        FROM (
          SELECT doc_id, lang,
            CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS BIGINT) AS s_en,
            CAST(len(list_filter(ws, x -> x IN ('der','die','das','und'))) AS BIGINT) AS s_de,
            CAST(len(list_filter(ws, x -> x IN ('el','la','los','que'))) AS BIGINT) AS s_es,
            CAST(len(list_filter(ws, x -> x IN ('le','les','et','une'))) AS BIGINT) AS s_fr
          FROM (SELECT doc_id, lang, $WDuck AS ws FROM documents) t0) t1
      """)),

    // ------------------------------------------------------------------
    // q21: document fingerprint — md5 of whitespace-normalized lowercase
    // text — plus per-fingerprint cluster size via a window count.
    QDef(
      "q21_fingerprint",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("fp", Q.fingerprint(col("text")))
          .withColumn("n_same",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
          .select(col("doc_id"), col("fp"), col("n_same"))
      },
      Some(s"""
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_same
        FROM (SELECT doc_id, ${Q.fingerprintDuck} AS fp
              FROM documents) t
      """)),

    // ------------------------------------------------------------------
    // q49: rolling-hash document fingerprinting (MOSS-style winnowing):
    // hash every 8-char gram, keep each 4-gram window's minimum hash —
    // the classic local-fingerprint scheme whose selected set is robust
    // to insertions/reordering (unlike q21's whole-document digest).
    // One explode + one window + one aggregation; per-doc fan-out is
    // O(len), partial-agg shrinks it before the shuffle.
    QDef(
      "q49_winnowing",
      (s, dir) => {
        // The Winnow generator emits each doc's DISTINCT selected minima
        // locally (no 2M-row window shuffle — see its scaladoc), so the
        // only shuffle is the final per-doc aggregation.
        Tables(s, dir).documents
          .select(col("doc_id"),
            graft.functions.Winnow.winnow(col("text"), 8, 4).as("fp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp"), // rows are distinct per doc
            min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      },
      Some("""
        WITH pos AS (
          SELECT doc_id, text,
                 unnest(range(1, GREATEST(length(text) - 7, 1) + 1)) AS i
          FROM documents),
        grams AS (
          SELECT doc_id, i,
                 substring(md5(substring(lower(text), i, 8)), 1, 8) AS h
          FROM pos),
        sel AS (
          SELECT doc_id, i,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n_pos
          FROM grams)
        SELECT doc_id, COUNT(DISTINCT fp) AS n_fp,
               MIN(fp) AS min_fp, MAX(fp) AS max_fp
        FROM sel
        WHERE i <= n_pos - 3
        GROUP BY doc_id
      """)),

    // ------------------------------------------------------------------
    // q57: Gopher-style repetition quality signals — the "remove docs
    // that repeat themselves" filter of a production corpus pipeline:
    // top-word fraction, top-2-gram fraction (with multiplicity, so a
    // distinct-shingle generator can't be used), distinct-word ratio,
    // and the repetitive flag (thresholds sit at the corpus ~p90 so the
    // flag actually splits the data). The max aggregate keeps only the
    // top COUNT, never the gram itself — no tie-break nondeterminism.
    //
    // Shape: posexplode + per-doc lead window for grams (the array
    // formulation trips Catalyst filter-inlining — see DedupQueries),
    // then two (doc, term)-keyed aggregations that partial-aggregate
    // map-side; per-doc fan-out is O(len) rows, never O(len) arrays.
    QDef(
      "q57_repetition_stats",
      (s, dir) => {
        val words = Tables(s, dir).documents
          .select(col("doc_id"), posexplode(expr(W)).as(Seq("pos", "word")))
        val byDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos").asc)
        val wordStats = words
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_words"), max(col("c")).as("top_w"),
            count(lit(1)).as("n_distinct"))
        val gramStats = words
          .withColumn("nxt", lead(col("word"), 1).over(byDoc))
          .where(col("nxt").isNotNull)
          .select(col("doc_id"),
            concat_ws(" ", col("word"), col("nxt")).as("g"))
          .groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_grams"), max(col("c")).as("top_g"))
        wordStats.join(gramStats, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_words"),
            expr("cast(top_w as double) / n_words").as("top_word_frac"),
            expr("""case when n_grams is null then 0.0d
                    else cast(top_g as double) / n_grams end""")
              .as("top_2gram_frac"),
            expr("cast(n_distinct as double) / n_words")
              .as("distinct_ratio"),
            expr("""cast(cast(top_w as double) / n_words > 0.14
                      or (n_grams is not null
                          and cast(top_g as double) / n_grams > 0.07)
                    as int)""").as("repetitive"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $WDuck AS ws FROM documents),
        words AS (SELECT doc_id, unnest(ws) AS word FROM w),
        grams AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i+1])) AS g FROM w),
        ws_ AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                       CAST(MAX(c) AS BIGINT) AS top_w,
                       CAST(COUNT(*) AS BIGINT) AS n_distinct
                FROM (SELECT doc_id, word, COUNT(*) AS c FROM words
                      GROUP BY 1, 2) t GROUP BY 1),
        gs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                      CAST(MAX(c) AS BIGINT) AS top_g
               FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams
                     GROUP BY 1, 2) t GROUP BY 1)
        SELECT doc_id, n_words,
               CAST(top_w AS DOUBLE) / n_words AS top_word_frac,
               CASE WHEN n_grams IS NULL THEN 0.0
                    ELSE CAST(top_g AS DOUBLE) / n_grams END
                 AS top_2gram_frac,
               CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
               CAST(CAST(top_w AS DOUBLE) / n_words > 0.14
                      OR (n_grams IS NOT NULL
                          AND CAST(top_g AS DOUBLE) / n_grams > 0.07)
                    AS INT) AS repetitive
        FROM ws_ LEFT JOIN gs USING (doc_id)
      """)),

    // ------------------------------------------------------------------
    // q62: boilerplate n-gram detection — the corpus-wide "which
    // phrases repeat across documents" scan that precedes header/footer
    // stripping: 5-grams ranked by document frequency (df >= 3), with
    // source spread and a sample doc. The Shingles generator emits
    // per-doc DISTINCT grams, so counting rows IS counting documents —
    // and stacking groupBy(gram, source) under groupBy(gram) computes
    // df, the source spread, and the sample doc in ONE pass over the
    // gram stream: no DISTINCT aggregate (q32/q60 Expand lesson), no
    // second scan, and both levels are partial-agg friendly.
    QDef(
      "q62_boilerplate_ngrams",
      (s, dir) => {
        val grams = Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            graft.functions.Shingles.shingles(col("text"), 5).as("gram"))
        grams.groupBy(col("gram"), col("source"))
          .agg(count(lit(1)).as("n_docs_src"), min(col("doc_id")).as("m"))
          .groupBy(col("gram"))
          .agg(sum(col("n_docs_src")).as("df"),
            count(lit(1)).as("n_sources"),
            min(col("m")).as("sample_doc"))
          .where(col("df") >= 3)
          .select(col("gram"), col("df"), col("n_sources"), col("sample_doc"))
          .orderBy(col("df").desc, col("gram").asc)
          .limit(50)
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        g AS (SELECT doc_id, source, unnest(${ngramsDuck(5)}) AS gram
              FROM w)
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MIN(doc_id) AS sample_doc
        FROM g
        GROUP BY gram HAVING COUNT(*) >= 3
        ORDER BY df DESC, gram ASC
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q70: vocabulary coverage / OOV rate — the tokenizer-QA pass: build
    // the corpus top-16 vocabulary by document frequency (ties broken by
    // word, so the cut is deterministic), then score every document's
    // out-of-vocabulary token ratio. The vocab derives from a
    // partial-agg-friendly count over per-doc DISTINCT words (no
    // corpus-wide DISTINCT shuffle), collapses to ONE broadcast row
    // holding the vocab array, and the per-doc scoring is a pure
    // scan-side lambda — at 100 TB the only shuffle is the tiny word-df
    // aggregation.
    QDef(
      "q70_vocab_coverage",
      (s, dir) => {
        val wsDf = Tables(s, dir).documents
          .select(col("doc_id"), expr(W).as("ws"))
        val vocabArr = wsDf
          .select(explode(array_distinct(col("ws"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("w").asc).limit(16)
          .agg(sort_array(collect_list(col("w"))).as("vocab"))
        wsDf.crossJoin(broadcast(vocabArr))
          .select(col("doc_id"),
            expr("cast(size(ws) as bigint)").as("n_tokens"),
            expr("""cast(size(filter(ws, x -> not array_contains(vocab, x)))
                    as bigint)""").as("n_oov"))
          .withColumn("oov_ratio", expr(
            "cast(n_oov as double) / nullif(n_tokens, 0)"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $WDuck AS ws FROM documents),
        df AS (SELECT word, COUNT(*) AS df
               FROM (SELECT doc_id, unnest(list_distinct(ws)) AS word
                     FROM w) t0
               GROUP BY word),
        vocab AS (SELECT list(word ORDER BY word) AS vocab
                  FROM (SELECT word FROM df
                        ORDER BY df DESC, word ASC LIMIT 16) t1)
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(ws,
                    x -> NOT list_contains(vocab.vocab, x))) AS BIGINT)
                 AS n_oov,
               CAST(len(list_filter(ws,
                    x -> NOT list_contains(vocab.vocab, x))) AS DOUBLE)
                 / nullif(len(ws), 0) AS oov_ratio
        FROM w, vocab
      """)),

    // ------------------------------------------------------------------
    // q74: heavy hitters — the corpus top-10 words by occurrence, with
    // the estimate from Spark's approx_top_k sketch verified IN-QUERY
    // against the exact count (the q32 pattern: the flag's exact
    // restatement is DuckDB-expressible, so an engine-specific sketch
    // still gets a hash-checked oracle row). At this vocabulary size the
    // sketch tracks every item exactly; at web scale the same plan
    // stands — one sketch aggregate instead of a full word shuffle —
    // and the flags would expose any estimate drifting past 5%.
    QDef(
      "q74_heavy_hitters",
      (s, dir) => {
        val words = Tables(s, dir).documents
          .select(explode(expr(W)).as("w"))
        // top-10 via sort+limit (TakeOrderedAndProject, O(k) per
        // partition) — the word-count table is vocabulary-sized
        // (Heaps-law growth), never rank it globally; rk is assigned
        // over the 10 survivors (the q185 shape)
        val exact = words.groupBy(col("w"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w").asc)
          .limit(10)
          .withColumn("rk", row_number().over(Q.bounded.orderBy(
            col("cnt").desc, col("w").asc)))
        // maxItemsTracked pinned explicitly (not the version-dependent
        // default) — the estimate is exact while distinct words fit the
        // budget, and SkewAndSketchSpec asserts the flags in-suite
        val approx = words
          .agg(expr("approx_top_k(w, 64, 65536)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("w"), col("e.count").as("est"))
        exact.join(approx, Seq("w"), "left")
          .select(col("rk"), col("w"), col("cnt"),
            expr("""cast(case when est is not null
                         and abs(est - cnt) <= 0.05d * cnt
                         then 1 else 0 end as int)""").as("ok_est"))
      },
      Some(s"""
        WITH counts AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(ws) AS w
                FROM (SELECT $WDuck AS ws FROM documents) t0) t1
          GROUP BY w)
        SELECT rk, w, cnt, 1 AS ok_est
        FROM (SELECT w, cnt,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC)
                          AS INTEGER) AS rk
              FROM counts) t2
        WHERE rk <= 10
      """)),

    // ------------------------------------------------------------------
    // q75: unigram language-model scoring — the CCNet/C4-style quality
    // filter: train corpus unigram probabilities, score every document
    // by its mean token log-probability (high = stereotypical prose,
    // low = rare-token noise). The LM is the corpus itself, so no
    // smoothing is needed (every token has mass). Scale shape: the
    // probability table aggregates to vocabulary size; scoring is one
    // equi-join on the word (auto-broadcast while the vocab fits, a
    // co-keyed shuffle join once it doesn't) + a per-doc partial agg.
    // Determinism: ln() is rounded at 9 per word (both engines compute
    // the same correctly-rounded double almost everywhere; the round
    // guards the residual ulp), and the per-doc mean re-rounds at 6 so
    // accumulation order cannot show.
    QDef(
      "q75_unigram_logprob",
      (s, dir) => {
        val toks = Tables(s, dir).documents
          .select(col("doc_id"), explode(expr(W)).as("w"))
        val counts = toks.groupBy(col("w"))
          .agg(count(lit(1)).as("c"))
        // corpus token total as a ONE-ROW aggregate crossJoined
        // broadcast (the q37 pattern) — never a single-task window
        // over the vocabulary-sized count table
        val total = counts.agg(sum(col("c")).as("t"))
        val probs = counts
          .crossJoin(broadcast(total))
          .select(col("w"),
            expr("round(ln(cast(c as double) / t), 9)").as("lp"))
        // probs is VOCAB-sized (Heaps-law growth): no broadcast hint —
        // auto-broadcast while small, co-keyed word join at scale
        toks.join(probs, Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            round(avg(col("lp")), 6).as("avg_logprob_r"))
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest(ws) AS w
                      FROM (SELECT doc_id, $WDuck AS ws FROM documents) t0),
        probs AS (SELECT w,
                         ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                           / SUM(COUNT(*)) OVER ()), 9) AS lp
                  FROM toks GROUP BY w)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(lp), 6) AS avg_logprob_r
        FROM toks JOIN probs USING (w)
        GROUP BY doc_id
      """)),

    // ------------------------------------------------------------------
    // q82: PII scrubbing — the redaction pass every training-corpus build
    // runs before text leaves the ingest tier. The synthetic tables carry
    // no raw PII, so the query first derives a contact ledger from
    // `customer` (name + reconstructable email + phone), then runs the
    // actual operator under test: class-based regex masking (emails, then
    // phone-shaped digit runs on the already-email-masked text) plus
    // per-row match counts from the pre-masked text.
    //
    // Scale: a pure narrow map over the scan — no shuffle at all; the
    // regexes are codegen'd `RegExpReplace`/`RegExpExtractAll`, and both
    // patterns are RE2-compatible so the DuckDB oracle runs them verbatim
    // (Spark replaces globally by default; DuckDB needs the 'g' flag).
    QDef(
      "q82_pii_scrub",
      (s, dir) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "[0-9]{3}-[0-9]{4}"
        Tables(s, dir).customer
          .withColumn("ledger", concat(
            col("c_name"), lit(" <"),
            regexp_replace(lower(col("c_name")), lit("customer#"), lit("user")),
            lit("@example.com> tel "),
            substring(lpad(col("c_custkey").cast("string"), 7, "0"), 1, 3),
            lit("-"),
            substring(lpad(col("c_custkey").cast("string"), 7, "0"), 4, 4)))
          .select(
            col("c_custkey"),
            size(regexp_extract_all(col("ledger"), lit(email), lit(0)))
              .cast("bigint").as("n_emails"),
            size(regexp_extract_all(col("ledger"), lit(phone), lit(0)))
              .cast("bigint").as("n_phones"),
            regexp_replace(
              regexp_replace(col("ledger"), lit(email), lit("<EMAIL>")),
              lit(phone), lit("<PHONE>")).as("masked"))
      },
      Some("""
        WITH led AS (
          SELECT c_custkey,
                 c_name || ' <'
                   || regexp_replace(lower(c_name), 'customer#', 'user')
                   || '@example.com> tel '
                   || substring(lpad(CAST(c_custkey AS VARCHAR), 7, '0'), 1, 3)
                   || '-'
                   || substring(lpad(CAST(c_custkey AS VARCHAR), 7, '0'), 4, 4)
                   AS ledger
          FROM customer)
        SELECT c_custkey,
               CAST(len(regexp_extract_all(ledger,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(ledger, '[0-9]{3}-[0-9]{4}'))
                 AS BIGINT) AS n_phones,
               regexp_replace(
                 regexp_replace(ledger,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS masked
        FROM led
      """)),

    // ------------------------------------------------------------------
    // q91: bigram language model — add-k-smoothed conditional
    // probabilities P(w2|w1) estimated from the corpus, the n-gram LM
    // construction behind classic perplexity filters (and the bigram
    // big sibling of q75's unigram scorer). Three bounded stages:
    // (1) one Generate per document emits adjacent word pairs (pure
    // scan-side, no shuffle); (2) groupBy(w1,w2) with map-side partial
    // agg — cardinality is bounded by vocab², reached only
    // asymptotically; (3) the w1 marginal via a window over the
    // ALREADY-AGGREGATED bigram relation (a shuffle of vocab²-bounded
    // rows, not corpus rows). The conditioning-vocab size V arrives by
    // the q37 pattern: a one-row aggregate crossJoin-broadcast into the
    // plan, not a driver-side count. Top-100 by count with total-order
    // tiebreaks; ln computed on identical exact-integer inputs in both
    // engines, rounded to 6.
    QDef(
      "q91_bigram_lm",
      (s, dir) => {
        val bg = Tables(s, dir).documents
          .select(expr(W).as("ws"))
          .where(size(col("ws")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(ws) - 1),
                 i -> struct(element_at(ws, i) as w1,
                             element_at(ws, i + 1) as w2))""")).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val vocab = bg.agg(
          countDistinct(col("w1")).as("v"))
        val byW1 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1"))
        bg.withColumn("c1", sum(col("c12")).over(byW1))
          .crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"), col("c12"), col("c1"),
            round(expr("ln((c12 + 0.5D) / (c1 + 0.5D * v))"), 6)
              .as("logp"))
          .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
          .limit(100)
      },
      Some(s"""
        WITH w AS (SELECT $WDuck AS ws FROM documents),
        bg AS (
          SELECT ws[u.i] AS w1, ws[u.i + 1] AS w2,
                 CAST(COUNT(*) AS BIGINT) AS c12
          FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u
          WHERE len(ws) >= 2
          GROUP BY 1, 2),
        v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM bg),
        m AS (SELECT w1, w2, c12,
                     CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1
              FROM bg)
        SELECT w1, w2, c12, c1,
               ROUND(ln((c12 + 0.5) / (c1 + 0.5 * v)), 6) AS logp
        FROM m, v
        ORDER BY c12 DESC, w1 ASC, w2 ASC
        LIMIT 100
      """)),

    // ------------------------------------------------------------------
    // q97: per-document word-distribution entropy — the information-
    // theoretic repetition signal (low entropy = chant-like/boilerplate
    // text; complements q57's top-word fractions). Two-level aggregation
    // keyed by (doc_id, word) then doc_id: both partial-agg friendly,
    // sharded by doc at scale. norm_entropy = H / ln(n_distinct)
    // (the max-entropy bound), nullif-guarded for single-word docs;
    // `0 -` (not unary minus) so an exactly-zero H cannot surface as
    // IEEE -0.0 in one engine and +0.0 in the other.
    QDef(
      "q97_word_entropy",
      (s, dir) => {
        val cnt = Tables(s, dir).documents
          .select(col("doc_id"), explode(expr(W)).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
        cnt.join(tot, "doc_id")
          .groupBy(col("doc_id"), col("n"), col("n_distinct"))
          .agg(round(lit(0.0) -
            sum((col("c") / col("n")) * log(col("c") / col("n"))), 6)
            .as("entropy"))
          .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
            col("entropy"),
            round(col("entropy") /
              nullif(log(col("n_distinct").cast("double")), lit(0.0)), 6)
              .as("norm_entropy"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, unnest($WDuck) AS word FROM documents),
        cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
        tot AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct
                FROM cnt GROUP BY 1)
        SELECT c.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
               CAST(t.n_distinct AS BIGINT) AS n_distinct,
               round(0.0 - SUM((c.c / t.n) * ln(c.c / t.n)), 6) AS entropy,
               round(round(0.0 - SUM((c.c / t.n) * ln(c.c / t.n)), 6) /
                     nullif(ln(CAST(t.n_distinct AS DOUBLE)), 0), 6)
                 AS norm_entropy
        FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
        GROUP BY c.doc_id, t.n, t.n_distinct
      """)),

    // ------------------------------------------------------------------
    // q116: BPE merge-candidate statistics — the first step of byte-pair-
    // encoding tokenizer training: count adjacent symbol pairs across
    // every word OCCURRENCE (frequency-weighted, as BPE requires — not
    // per distinct word) and rank the top merge candidates. The pair
    // stream is a scan-side Generate (sequence + substring, codegen'd,
    // no shuffle); the global count is partial-agg friendly; and the
    // final ranking window runs over the DISTINCT PAIR table, which is
    // bounded by the symbol alphabet squared (≤676 for [a-z]²) — a
    // driver-sized relation no matter how many petabytes of text fed it.
    // A full BPE trainer iterates this exact query, merging the winner
    // into the symbol stream each round.
    QDef(
      "q116_bpe_pairs",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("pair").asc)
        Tables(s, dir).documents
          .select(explode(expr(W)).as("w"))
          .where(length(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 20)
          .select(col("rk"), col("pair"), col("cnt"))
      },
      Some(s"""
        WITH words AS (SELECT unnest($WDuck) AS w FROM documents),
        prs AS (SELECT unnest(list_transform(range(1, length(w)),
                  i -> substring(w, i, 2))) AS pair
                FROM words WHERE length(w) >= 2),
        cnt AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM prs GROUP BY pair)
        SELECT CAST(rk AS INTEGER) AS rk, pair, cnt
        FROM (SELECT pair, cnt,
                     ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS rk
              FROM cnt) t
        WHERE rk <= 20
      """)),

    // ------------------------------------------------------------------
    // q134: skip-gram co-occurrence pair extraction (window ≤ 2) — the
    // training-pair generator for word2vec-style embeddings. The
    // crucial scale decision: a positional self-join (explode positions,
    // join doc to itself on |pb−pa| ≤ 2) would shuffle the token stream
    // twice and explode the join; instead the pairs are built ARRAY-
    // LOCALLY inside one projection — two transform() passes over the
    // token array (gap 1 and gap 2) concatenated and exploded — so the
    // only shuffle is the final pair-count aggregation, which is
    // partial-aggregable and sharded on the pair key. Counts are exact
    // integers; ranking is (cnt, wa, wb, gap) — total, no floats
    // anywhere.
    QDef(
      "q134_skipgram_pairs",
      (s, dir) => {
        Tables(s, dir).documents
          .select(expr(W).as("ws"))
          .where(expr("size(ws) >= 3"))
          .select(explode(expr(
            """concat(
                 transform(sequence(0, size(ws) - 2),
                   i -> named_struct('wa', ws[i], 'wb', ws[i + 1],
                                     'gap', 1)),
                 transform(sequence(0, size(ws) - 3),
                   i -> named_struct('wa', ws[i], 'wb', ws[i + 2],
                                     'gap', 2)))""")).as("pr"))
          .select(col("pr.wa").as("wa"), col("pr.wb").as("wb"),
            col("pr.gap").as("gap"))
          .groupBy(col("wa"), col("wb"), col("gap"))
          .agg(count(lit(1)).as("cnt"))
          // top-25 via sort+limit (TakeOrderedAndProject) — the pair-
          // count table is vocab²-ish, never rank it globally; rk is
          // assigned over the 25 survivors (the q185 shape)
          .orderBy(col("cnt").desc, col("wa").asc, col("wb").asc,
            col("gap").asc)
          .limit(25)
          .withColumn("rk", row_number().over(Q.bounded.orderBy(
            col("cnt").desc, col("wa").asc, col("wb").asc, col("gap").asc)))
      },
      Some(s"""
        WITH t AS (SELECT $WDuck AS ws FROM documents),
        p AS (SELECT unnest(list_concat(
                list_transform(range(len(ws) - 1),
                  i -> {'wa': ws[i + 1], 'wb': ws[i + 2], 'gap': 1}),
                list_transform(range(len(ws) - 2),
                  i -> {'wa': ws[i + 1], 'wb': ws[i + 3], 'gap': 2})))
                AS pr
              FROM t WHERE len(ws) >= 3),
        c AS (SELECT pr.wa AS wa, pr.wb AS wb, pr.gap AS gap,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM p GROUP BY 1, 2, 3)
        SELECT wa, wb, gap, cnt, CAST(rk AS INTEGER) AS rk
        FROM (SELECT wa, wb, gap, cnt,
                     ROW_NUMBER() OVER (ORDER BY cnt DESC, wa ASC, wb ASC,
                       gap ASC) AS rk
              FROM c) t
        WHERE rk <= 25
      """)),

    // ------------------------------------------------------------------
    // q150: hashing-trick featurization through the NATIVE fnv1a
    // Catalyst expression (graft.functions.Fnv1aHash, the codegen'd
    // reference shuffle hash) — vocabulary hashed into 64 buckets,
    // reporting per-bucket vocabulary size, total occurrences, and the
    // collision-aware top word (exact argmax via max(struct)). The
    // oracle RESTATES FNV-1a 32-bit byte-for-byte in DuckDB SQL
    // (list_reduce over ascii codes with wrapping-multiply emulated in
    // BIGINT mod 2^32), so the driver's hash gate now covers the
    // custom expression's arithmetic itself — not just Scala-side
    // known-answer tests. Vocab agg is partial-aggregable; the bucket
    // rollup runs on the |vocab| relation, never the token stream.
    QDef(
      "q150_feature_hashing",
      (s, dir) => {
        val vocab = Tables(s, dir).documents
          .select(explode(expr(W)).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
          .withColumn("bucket", expr("fnv1a(word) % 64"))
        vocab.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_occ")).as("n_occurrences"),
            max(struct(col("n_occ"), col("word"))).getField("word")
              .as("top_word"))
      },
      Some("""
        WITH vocab AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occ
          FROM (SELECT unnest(list_filter(regexp_split_to_array(
                  lower(text), '[^a-z]+'), x -> x <> '')) AS word
                FROM documents) t
          GROUP BY 1),
        b AS (SELECT word, n_occ,
                CAST((list_reduce(list_prepend(2166136261::BIGINT,
                  list_transform(range(length(word)),
                    i -> ascii(substring(word, CAST(i + 1 AS INT), 1))
                           ::BIGINT)),
                  (acc, x) -> (xor(acc, x) * 16777619) % 4294967296)
                  % 2147483648) % 64 AS INTEGER) AS bucket
              FROM vocab)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_occ) AS BIGINT) AS n_occurrences,
               (MAX({'n': n_occ, 'w': word})).w AS top_word
        FROM b GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q139: boolean AND retrieval — postings-list intersection, the
    // conjunctive complement to q132's ranked BM25: documents that
    // contain ALL THREE query terms, with per-term frequencies. The
    // intersection is counting, not joining: term-filtered postings
    // (filtered BEFORE the shuffle, the inverted-index access path)
    // aggregate per doc with a HAVING count(distinct term) = 3 —
    // one partial-aggregable pass, no k-way self-join, the plan an
    // inverted index would execute. Per-term tfs pivot out as
    // conditional sums in the same aggregate. Top-20 by total tf,
    // doc_id tiebreak — all integers.
    QDef(
      "q139_boolean_retrieval",
      (s, dir) => {
        val hits = Tables(s, dir).documents
          .select(col("doc_id"), explode(expr(W)).as("word"))
          .where(col("word").isin("spark", "window", "merge"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("word")).as("n_terms"),
            sum(when(col("word") === "spark", 1L).otherwise(0L))
              .as("tf_spark"),
            sum(when(col("word") === "window", 1L).otherwise(0L))
              .as("tf_window"),
            sum(when(col("word") === "merge", 1L).otherwise(0L))
              .as("tf_merge"))
          .where(col("n_terms") === 3)
          .withColumn("tf_total",
            col("tf_spark") + col("tf_window") + col("tf_merge"))
        // top-20 via sort+limit — the hit set is data-sized (every doc
        // matching all three terms); rk ranks only the 20 survivors
        hits.orderBy(col("tf_total").desc, col("doc_id").asc)
          .limit(20)
          .withColumn("rk", row_number().over(Q.bounded.orderBy(
            col("tf_total").desc, col("doc_id").asc)))
          .select(col("rk"), col("doc_id"), col("tf_spark"),
            col("tf_window"), col("tf_merge"), col("tf_total"))
      },
      Some(s"""
        WITH hits AS (
          SELECT doc_id,
                 CAST(COUNT(DISTINCT word) AS BIGINT) AS n_terms,
                 CAST(SUM(CASE WHEN word = 'spark' THEN 1 ELSE 0 END)
                   AS BIGINT) AS tf_spark,
                 CAST(SUM(CASE WHEN word = 'window' THEN 1 ELSE 0 END)
                   AS BIGINT) AS tf_window,
                 CAST(SUM(CASE WHEN word = 'merge' THEN 1 ELSE 0 END)
                   AS BIGINT) AS tf_merge
          FROM (SELECT doc_id, unnest($WDuck) AS word FROM documents) t
          WHERE word IN ('spark', 'window', 'merge')
          GROUP BY 1 HAVING COUNT(DISTINCT word) = 3)
        SELECT CAST(rk AS INTEGER) AS rk, doc_id, tf_spark, tf_window,
               tf_merge, tf_total
        FROM (SELECT doc_id, tf_spark, tf_window, tf_merge,
                     tf_spark + tf_window + tf_merge AS tf_total,
                     ROW_NUMBER() OVER (ORDER BY tf_spark + tf_window
                       + tf_merge DESC, doc_id ASC) AS rk
              FROM hits) t
        WHERE rk <= 20
      """)),

    // ------------------------------------------------------------------
    // q154: language-ID confusion matrix — q20's stopword-marker
    // classifier evaluated against the labeled lang column as a full
    // cross-tab (labeled × predicted, with per-cell share of the
    // labeled row). The classifier is the IDENTICAL CASE/filter
    // expression q20 ships, so this is the eval harness for an
    // operator already under the gate: a pure map + one partial-
    // aggregable count + a broadcast row-total join. Shares divide
    // exact integers, round 6.
    QDef(
      "q154_langid_confusion",
      (s, dir) => {
        val cells = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .withColumn("s_en", expr(
            "cast(size(filter(ws, x -> x in ('the','a','of','and'))) as bigint)"))
          .withColumn("s_de", expr(
            "cast(size(filter(ws, x -> x in ('der','die','das','und'))) as bigint)"))
          .withColumn("s_es", expr(
            "cast(size(filter(ws, x -> x in ('el','la','los','que'))) as bigint)"))
          .withColumn("s_fr", expr(
            "cast(size(filter(ws, x -> x in ('le','les','et','une'))) as bigint)"))
          .withColumn("pred_lang", expr(
            """CASE
               WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END"""))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        val rowTot = cells.groupBy(col("lang"))
          .agg(sum(col("n")).as("lang_n"))
        cells.join(broadcast(rowTot), "lang")
          .select(col("lang"), col("pred_lang"), col("n"),
            round(col("n").cast("double") / col("lang_n"), 6).as("share"),
            when(col("lang") === col("pred_lang"), 1).otherwise(0)
              .as("correct"))
      },
      Some(s"""
        WITH p AS (
          SELECT lang,
                 CASE
                   WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                     THEN 'en'
                   WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                   WHEN s_es >= s_fr THEN 'es'
                   ELSE 'fr' END AS pred_lang
          FROM (
            SELECT lang,
              CAST(len(list_filter(ws, x -> x IN ('the','a','of','and')))
                AS BIGINT) AS s_en,
              CAST(len(list_filter(ws, x -> x IN ('der','die','das','und')))
                AS BIGINT) AS s_de,
              CAST(len(list_filter(ws, x -> x IN ('el','la','los','que')))
                AS BIGINT) AS s_es,
              CAST(len(list_filter(ws, x -> x IN ('le','les','et','une')))
                AS BIGINT) AS s_fr
            FROM (SELECT lang, $WDuck AS ws FROM documents) t0) t1),
        cells AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
                  FROM p GROUP BY 1, 2),
        rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_n
               FROM cells GROUP BY 1)
        SELECT c.lang, c.pred_lang, c.n,
               ROUND(CAST(c.n AS DOUBLE) / r.lang_n, 6) AS share,
               CASE WHEN c.lang = c.pred_lang THEN 1 ELSE 0 END AS correct
        FROM cells c JOIN rt r ON r.lang = c.lang
      """)),

    // ------------------------------------------------------------------
    // q174: Zipf rank–frequency fit per language — the corpus-health
    // diagnostic (natural text slopes ≈ −1; template/boilerplate text
    // flattens or steepens). Per-lang word counts partial-aggregate,
    // the ranking window runs over the DISTINCT-word table partitioned
    // by lang (bounded by vocabulary, q116's discipline — never the
    // token stream), and the OLS slope/intercept over the top-100
    // (ln rank, ln count) points comes from per-lang moment sums:
    // each ln is round-9 (libm), the ≤100-term moment sums round-6
    // before the closed form, so summation order can't leak into the
    // hash.
    QDef(
      "q174_zipf_slope",
      (s, dir) => {
        val counts = Tables(s, dir).documents
          .select(col("lang"), explode(expr(W)).as("word"))
          .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
        val byLang = Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("word").asc)
        val pts = counts
          .withColumn("rk", row_number().over(byLang))
          .where(col("rk") <= 100)
          .select(col("lang"),
            expr("round(ln(cast(rk as double)), 9)").as("x"),
            expr("round(ln(cast(c as double)), 9)").as("y"))
        pts.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("x")), 6).as("sx"),
            round(sum(col("y")), 6).as("sy"),
            round(sum(col("x") * col("x")), 6).as("sxx"),
            round(sum(col("x") * col("y")), 6).as("sxy"))
          .select(col("lang"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
              .as("slope"),
            round((col("sy") - (col("n") * col("sxy") - col("sx")
              * col("sy")) / (col("n") * col("sxx") - col("sx")
              * col("sx")) * col("sx")) / col("n"), 6).as("intercept"))
      },
      Some(s"""
        WITH counts AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c
                        FROM (SELECT lang, unnest($WDuck) AS word
                              FROM documents) t
                        GROUP BY 1, 2),
        pts AS (SELECT lang,
                       ROUND(LN(CAST(rk AS DOUBLE)), 9) AS x,
                       ROUND(LN(CAST(c AS DOUBLE)), 9) AS y
                FROM (SELECT lang, c,
                             ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY c DESC, word ASC) AS rk
                      FROM counts) r
                WHERE rk <= 100),
        m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                     ROUND(SUM(x), 6) AS sx, ROUND(SUM(y), 6) AS sy,
                     ROUND(SUM(x * x), 6) AS sxx,
                     ROUND(SUM(x * y), 6) AS sxy
              FROM pts GROUP BY 1)
        SELECT lang, n,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                 AS slope,
               ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                      * sx) / n, 6) AS intercept
        FROM m
      """)),

    // ------------------------------------------------------------------
    // q184: bigram-perplexity quality filter — the CCNet-style second
    // half of q75's unigram scorer: train an add-one-smoothed bigram
    // LM on the corpus itself and score every document by perplexity
    // exp(−mean ln p(w_i | w_{i−1})); high perplexity = text the
    // corpus's own statistics find surprising (noise, boilerplate
    // soup, wrong-language shards) — the classic pretraining-data
    // quality gate. Scale shape: bigrams are extracted ARRAY-LOCALLY
    // (transform over the token array — no positional self-join), the
    // bigram stream is scanned once (checkpoint) and feeds history
    // counts, pair counts, and scoring; the probability lookup is a
    // co-keyed (w1, w2) equi-join — the bigram table is vocab²-bounded
    // and NOT broadcastable at scale, unlike q75's unigram table. The
    // vocab size rides in as a ONE-row broadcast (q37 pattern).
    // Determinism: each ln term rounds at 9 over exact integer counts
    // (q75's discipline); the per-doc mean and final exp round at 6 so
    // accumulation order never shows.
    QDef(
      "q184_perplexity_filter",
      (s, dir) => {
        val (big, lp) = bigramLm(s, dir)
        big.join(lp, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(exp(-avg(col("lp"))), 6).as("ppl"))
      },
      Some(s"""
        WITH $bigramLmDuck
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(EXP(-AVG(lp)), 6) AS ppl
        FROM big JOIN lp USING (w1, w2)
        GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q189: positional phrase search — find every document containing
    // the exact token sequence "table hash" and count its occurrences,
    // the positional-postings operation under quoted-query retrieval
    // (and the exact-span probe decontamination pipelines run when a
    // benchmark prompt must match CONTIGUOUSLY, not as a bag of grams).
    //
    // The anchor trick makes it one aggregation instead of an n-way
    // self-join: token (pos, w) matching phrase slot idx votes for
    // anchor = pos - idx; an anchor with all |phrase| DISTINCT slots
    // present is a contiguous occurrence. Repeated phrase words are
    // handled for free (a token votes once per slot it matches).
    //
    // Scale: the broadcast phrase-slot join keeps ONLY tokens whose
    // word occurs in the phrase — the token stream collapses at the
    // scan; the anchor aggregation is keyed (doc_id, anchor), fully
    // distributed; nothing global anywhere. Over a persisted index the
    // same scorer starts from file-pruned positional postings instead
    // of a corpus scan (TextIndex.searchPhrase — the spec pins the two
    // formulations to each other).
    QDef(
      "q189_phrase_search",
      (s, dir) => {
        val toks = Tables(s, dir).documents
          .select(col("doc_id"), posexplode(expr(W)).as(Seq("pos", "w")))
        Q.phraseHits(toks, Seq("table", "hash"))
      },
      Some(s"""
        WITH ws AS (SELECT doc_id, $WDuck AS ws FROM documents),
        t AS (SELECT doc_id, unnest(ws) AS w,
                     unnest(range(len(ws))) AS pos
              FROM ws),
        p(idx, w) AS (VALUES (0, 'table'), (1, 'hash')),
        a AS (SELECT t.doc_id, t.pos - p.idx AS anchor
              FROM t JOIN p ON t.w = p.w
              GROUP BY t.doc_id, t.pos - p.idx
              HAVING COUNT(DISTINCT p.idx) = 2)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(MIN(anchor) AS INTEGER) AS first_pos
        FROM a GROUP BY doc_id
      """)),

    // ------------------------------------------------------------------
    // q202: count-min sketch heavy hitters with an exact error audit —
    // the mergeable-sketch complement to q74's approx_top_k: a CMS
    // (Cormode & Muthukrishnan 2005) is a plain (row, col)→count table,
    // so shards build independently and union by cell-sum, and it
    // answers point queries for ANY item, not just tracked ones. Depth
    // d=4 rows × width w=16 columns (sized DOWN to the ~31-word test
    // vocabulary so collisions actually occur and the audit shows
    // nonzero overcounts; production widths are 2^16+ — a parameter,
    // not a structural change), salted-md5 column hashes (the
    // q81 seed-free idiom, so Spark and the oracle build bit-identical
    // sketches). est(w) = min over rows of cell[r][h_r(w)] — an
    // overestimate by construction, never under; the output audits
    // exactly that: the top-15 exact words with their CMS estimate and
    // the (always ≥ 0) overcount. All-integer — nothing to round.
    //
    // Scale: the sketch is ≤ d·w = 64 cells (2^18+ in production) regardless of corpus
    // size — built by one keyed agg over the word counts, probed by a
    // 60-row equi-join. The only data-sized pass is the word count
    // itself; top-15 via sort+limit (never a global rank over the
    // vocabulary — the q74 lesson).
    QDef(
      "q202_cms_heavy_hitters",
      (s, dir) => {
        def cmsCol = expr(
          """cast(conv(substring(md5(cast(concat('cms',
               cast(r as string), '|', w) as binary)), 1, 6),
               16, 10) as bigint) % 16""")
        val wc = Tables(s, dir).documents
          .select(explode(expr(W)).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .ckpt() // feeds sketch build AND exact top-15
        val sketch = wc.withColumn("r", explode(expr("sequence(0, 3)")))
          .withColumn("col", cmsCol)
          .groupBy(col("r"), col("col"))
          .agg(sum(col("cnt")).as("cell"))
        val top = wc.orderBy(col("cnt").desc, col("w").asc).limit(15)
          .withColumn("rk", row_number().over(Q.bounded.orderBy(
            col("cnt").desc, col("w").asc)).cast("int"))
        top.withColumn("r", explode(expr("sequence(0, 3)")))
          .withColumn("col", cmsCol)
          .join(sketch, Seq("r", "col"))
          .groupBy(col("rk"), col("w"), col("cnt"))
          .agg(min(col("cell")).as("est"))
          .select(col("rk"), col("w"), col("cnt").as("exact_cnt"),
            col("est"), (col("est") - col("cnt")).as("overcount"))
          .orderBy(col("rk"))
      },
      Some(s"""
        WITH wc AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(ws) AS w
                FROM (SELECT $WDuck AS ws FROM documents) t0) t1
          GROUP BY w),
        h AS (SELECT w, cnt, r.r,
                     ('0x' || substring(md5('cms' || CAST(r.r AS VARCHAR)
                        || '|' || w), 1, 6))::BIGINT % 16 AS col
              FROM wc CROSS JOIN range(0, 4) r(r)),
        sk AS (SELECT r, col, CAST(SUM(cnt) AS BIGINT) AS cell
               FROM h GROUP BY 1, 2),
        top AS (SELECT w, cnt,
                       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC)
                            AS INTEGER) AS rk
                FROM wc),
        pr AS (SELECT t.rk, t.w, t.cnt, r.r,
                      ('0x' || substring(md5('cms' || CAST(r.r AS VARCHAR)
                         || '|' || t.w), 1, 6))::BIGINT % 16 AS col
               FROM top t CROSS JOIN range(0, 4) r(r)
               WHERE t.rk <= 15)
        SELECT pr.rk, pr.w, pr.cnt AS exact_cnt,
               CAST(MIN(sk.cell) AS BIGINT) AS est,
               CAST(MIN(sk.cell) - pr.cnt AS BIGINT) AS overcount
        FROM pr JOIN sk ON sk.r = pr.r AND sk.col = pr.col
        GROUP BY 1, 2, 3
        ORDER BY rk
      """)),

    // ------------------------------------------------------------------
    // q216: BPE TRAINING, three merge supersteps — q116 counts merge
    // CANDIDATES once; this executes the actual training loop (count
    // adjacent pairs → adopt the most frequent as a new vocab symbol →
    // rewrite the corpus → repeat), the algorithm behind every modern
    // subword tokenizer (Sennrich 2016), here over word symbols. Each
    // superstep is one corpus pair-count (keyed agg), a 1-row argmax
    // (sort+limit 1, tie → lexicographic pair), and a NARROW rewrite
    // pass with the 1-row winner broadcast — the q101/q201 bounded-
    // superstep discipline, nothing iterates on the driver.
    //
    // The rewrite trick that keeps both engines EXACTLY aligned:
    // token streams are sentinel-encoded as '<a><b><c>', so the merge
    // is a plain substring replace of '<a><b>' with '<a_b>' —
    // boundary-safe (sentinels can't occur inside a token, so no
    // false submatch like 'xa  b'), and left-to-right non-overlapping
    // replace semantics (identical in Spark and DuckDB) are exactly
    // BPE's greedy merge: '<a><a><a>' merges once, '<a><b><a><b>'
    // merges twice. All-integer output: per round the adopted pair,
    // its count, and the post-merge corpus token/vocab totals.
    QDef(
      "q216_bpe_train",
      (s, dir) => {
        val (e1, r1) = bpeStep(bpeEnc0(Tables(s, dir).documents), 1)
        val (e2, r2) = bpeStep(e1, 2)
        val (_, r3) = bpeStep(e2, 3)
        r1.unionByName(r2).unionByName(r3).orderBy(col("round"))
      },
      Some(s"""
        WITH e0 AS MATERIALIZED (
          SELECT doc_id, '<' || array_to_string(ws, '><') || '>' AS s
          FROM (SELECT doc_id, $WDuck AS ws FROM documents) t
          WHERE len(ws) > 0),
        p1 AS (SELECT p.w1 AS w1, p.w2 AS w2,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM (SELECT unnest(list_transform(range(1, len(arr)),
                              i -> {'w1': arr[i], 'w2': arr[i+1]})) AS p
                     FROM (SELECT string_split(substr(s, 2,
                             length(s) - 2), '><') AS arr FROM e0) q0) q1
               GROUP BY 1, 2),
        t1 AS MATERIALIZED (SELECT * FROM p1
               ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1),
        e1 AS MATERIALIZED (
          SELECT doc_id, replace(s, '<'||w1||'><'||w2||'>',
                                 '<'||w1||'_'||w2||'>') AS s
          FROM e0, t1),
        s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
               FROM (SELECT unnest(string_split(substr(s, 2,
                       length(s) - 2), '><')) AS tok FROM e1) q),
        p2 AS (SELECT p.w1 AS w1, p.w2 AS w2,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM (SELECT unnest(list_transform(range(1, len(arr)),
                              i -> {'w1': arr[i], 'w2': arr[i+1]})) AS p
                     FROM (SELECT string_split(substr(s, 2,
                             length(s) - 2), '><') AS arr FROM e1) q0) q1
               GROUP BY 1, 2),
        t2 AS MATERIALIZED (SELECT * FROM p2
               ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1),
        e2 AS MATERIALIZED (
          SELECT doc_id, replace(s, '<'||w1||'><'||w2||'>',
                                 '<'||w1||'_'||w2||'>') AS s
          FROM e1, t2),
        s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
               FROM (SELECT unnest(string_split(substr(s, 2,
                       length(s) - 2), '><')) AS tok FROM e2) q),
        p3 AS (SELECT p.w1 AS w1, p.w2 AS w2,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM (SELECT unnest(list_transform(range(1, len(arr)),
                              i -> {'w1': arr[i], 'w2': arr[i+1]})) AS p
                     FROM (SELECT string_split(substr(s, 2,
                             length(s) - 2), '><') AS arr FROM e2) q0) q1
               GROUP BY 1, 2),
        t3 AS MATERIALIZED (SELECT * FROM p3
               ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1),
        e3 AS MATERIALIZED (
          SELECT doc_id, replace(s, '<'||w1||'><'||w2||'>',
                                 '<'||w1||'_'||w2||'>') AS s
          FROM e2, t3),
        s3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
               FROM (SELECT unnest(string_split(substr(s, 2,
                       length(s) - 2), '><')) AS tok FROM e3) q)
        SELECT CAST(1 AS INTEGER) AS round, w1, w2,
               cnt AS pair_count, n_tokens, vocab FROM t1, s1
        UNION ALL
        SELECT CAST(2 AS INTEGER), w1, w2, cnt, n_tokens, vocab
        FROM t2, s2
        UNION ALL
        SELECT CAST(3 AS INTEGER), w1, w2, cnt, n_tokens, vocab
        FROM t3, s3
        ORDER BY round
      """)),

    // ------------------------------------------------------------------
    // q218: PII scrub — the detect-and-redact pass every released
    // training corpus runs (emails/phones out, typed placeholders in).
    // The synthetic corpus carries no PII, so the fixture INJECTS it
    // deterministically (the q187/q215 recipe — generate in-query,
    // restate in the oracle): doc_id mod 4 plants an email, a phone,
    // both, or nothing, each a pure string function of doc_id. The op
    // then counts matches per class and emits the md5 fingerprint of
    // the REDACTED text — so an engine that misses one match, matches
    // greedily differently, or replaces with the wrong placeholder
    // hash-fails, not just miscounts. Patterns stay in the
    // RE2-compatible subset (char classes + bounded repeats), where
    // Java regex and DuckDB's RE2 agree.
    //
    // Scale: pure scan-side map — no shuffle at all beyond the sink;
    // the redacted payload never leaves the partition (only the
    // 32-char fingerprint rides out), which is the actual 100 TB
    // constraint for a rewrite pass.
    QDef(
      "q218_pii_scrub",
      (s, dir) => {
        val emailPat = piiEmailPat.replace("\\", "\\\\") // SQL-literal escape
        val phonePat = piiPhonePat
        Tables(s, dir).documents
          .select(col("doc_id"), expr("""
            concat(text, case
              when doc_id % 4 = 0 then concat(' contact user',
                cast(doc_id as string), '@example.com for details')
              when doc_id % 4 = 1 then concat(' call 555-',
                lpad(cast(doc_id % 10000 as string), 4, '0'), ' today')
              when doc_id % 4 = 2 then concat(' reach user',
                cast(doc_id as string), '@mail.org or 555-',
                lpad(cast(doc_id % 10000 as string), 4, '0'), ' now')
              else '' end)""").as("aug"))
          .select(col("doc_id"),
            expr(s"cast(regexp_count(aug, '$emailPat') as bigint)")
              .as("n_emails"),
            expr(s"cast(regexp_count(aug, '$phonePat') as bigint)")
              .as("n_phones"),
            expr(s"""md5(regexp_replace(regexp_replace(aug,
                '$emailPat', '<EMAIL>'), '$phonePat', '<PHONE>'))""")
              .as("redacted_fp"))
      },
      Some("""
        WITH aug AS (
          SELECT doc_id, text || CASE
                   WHEN doc_id % 4 = 0 THEN ' contact user' || doc_id
                     || '@example.com for details'
                   WHEN doc_id % 4 = 1 THEN ' call 555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || ' today'
                   WHEN doc_id % 4 = 2 THEN ' reach user' || doc_id
                     || '@mail.org or 555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || ' now'
                   ELSE '' END AS aug
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z]+\.[a-z]+'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}'))
                    AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(aug,
                 '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_fp
        FROM aug
      """)),

    // ------------------------------------------------------------------
    // q222: KV-prefix-cache audit — the serving-economics twin of the
    // dedup family: requests sharing an identical leading token run hit
    // the same KV-cache entry, so the size distribution of
    // first-8-token prefix groups IS the attainable cache hit mass.
    // The synthetic corpus has no shared prefixes, so the fixture
    // plants one deterministically (the q218 recipe): doc_id mod 7 = 0
    // docs get the same system-prompt prefix prepended in-query; the
    // audit must find exactly those groups. Per prefix-group size:
    // group count, docs covered, and the corpus share — the ≥2-size
    // rows are the cacheable mass.
    //
    // Scale: prefix fingerprints are a scan-side map (md5 of the first
    // 8 tokens — no positional explode); two keyed aggs (prefix →
    // size, size → counts) plus the one-row total crossJoin (q37
    // pattern). The prefix fingerprint is the shard key at 100 TB.
    QDef(
      "q222_prefix_cache",
      (s, dir) => {
        val sysPrompt = "you are a helpful assistant follow the " +
          "system instructions carefully"
        val sizes = Tables(s, dir).documents
          .select(col("doc_id"), expr(
            s"""case when doc_id % 7 = 0 then concat('$sysPrompt ', text)
                else text end""").as("text"))
          .select(col("doc_id"), expr(W).as("ws"))
          .where(expr("size(ws) >= 8"))
          .select(expr(
            "md5(array_join(slice(ws, 1, 8), ' '))").as("prefix_fp"))
          .groupBy(col("prefix_fp"))
          .agg(count(lit(1)).as("group_size"))
          .groupBy(col("group_size"))
          .agg(count(lit(1)).as("n_groups"),
            (count(lit(1)) * col("group_size")).as("n_docs"))
          .ckpt() // feeds the totals AND the output rows
        val tot = sizes.agg(sum(col("n_docs")).as("total"))
        sizes.crossJoin(broadcast(tot))
          .select(col("group_size"), col("n_groups"), col("n_docs"),
            round(col("n_docs").cast("double") / col("total"), 6)
              .as("doc_share_r"))
      },
      Some(s"""
        WITH aug AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN 'you are a helpful assistant follow '
                              || 'the system instructions carefully '
                              || text
                            ELSE text END AS text
                     FROM documents),
        ws AS (SELECT doc_id, $WDuck AS ws FROM aug),
        fp AS (SELECT md5(list_aggregate(ws[1:8], 'string_agg', ' '))
                 AS prefix_fp
               FROM ws WHERE len(ws) >= 8),
        grp AS (SELECT prefix_fp, CAST(COUNT(*) AS BIGINT) AS group_size
                FROM fp GROUP BY 1),
        sz AS (SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
                      CAST(COUNT(*) * group_size AS BIGINT) AS n_docs
               FROM grp GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM sz)
        SELECT group_size, n_groups, n_docs,
               ROUND(CAST(n_docs AS DOUBLE) / total, 6) AS doc_share_r
        FROM sz, tot
      """)),

    // ------------------------------------------------------------------
    // q223: RAG chunking audit — retrieval corpora split documents
    // into overlapping fixed windows (64 tokens, stride 48 ⇒ 16-token
    // overlap) so a passage is never cut mid-context; the audit prices
    // that choice: chunks per doc, total chunk tokens, and the
    // inflation ratio the overlap costs at embedding/indexing time.
    // Chunk k of an n-token doc starts at 48k (every 48k < n) and
    // covers min(64, n − 48k) tokens — so counts and token sums are
    // CLOSED-FORM integer folds over sequence(0, ⌈n/48⌉−1), a pure
    // scan-side map with no explode and ZERO shuffles (the q218
    // shape); only the rounded inflation divides.
    QDef(
      "q223_rag_chunking",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"),
            expr(s"cast(size($W) as bigint)").as("n_tokens"))
          .select(col("doc_id"), col("n_tokens"),
            expr("case when n_tokens = 0 then 0L else (n_tokens + 47) div 48 end")
              .as("n_chunks"))
          .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
            expr("""case when n_chunks = 0 then 0L else
                    aggregate(sequence(0L, n_chunks - 1), 0L,
                      (a, k) -> a + least(64L, n_tokens - k * 48L))
                    end""").as("chunk_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
            col("chunk_tokens"),
            expr("""case when n_tokens = 0 then 1.0d
                    else round(chunk_tokens / cast(n_tokens as double), 6)
                    end""").as("inflation_r"))
      },
      Some(s"""
        WITH n AS (SELECT doc_id, CAST(len($WDuck) AS BIGINT) AS n_tokens
                   FROM documents),
        k AS (SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens = 0 THEN 0
                          ELSE (n_tokens + 47) // 48 END AS n_chunks
              FROM n),
        c AS (SELECT doc_id, n_tokens, n_chunks,
                     CAST(COALESCE(list_sum(list_transform(
                       range(0, n_chunks),
                       x -> least(64, n_tokens - x * 48))), 0) AS BIGINT)
                       AS chunk_tokens
              FROM k)
        SELECT doc_id, n_tokens, CAST(n_chunks AS BIGINT) AS n_chunks,
               chunk_tokens,
               CASE WHEN n_tokens = 0 THEN 1.0
                    ELSE ROUND(chunk_tokens / CAST(n_tokens AS DOUBLE), 6)
               END AS inflation_r
        FROM c
      """)),

    // ------------------------------------------------------------------
    // q252: Heaps-law exponent fit — the in-engine scaling-law
    // estimation behind the q246 "vocab is Heaps-bounded" claim and
    // every vocab-capacity decision: V(n) ≈ K·n^β, fit by OLS on the
    // 10 log-log points (ln n_p, ln V_p) of the deterministic doc_id
    // decile prefixes (cutoff_p: doc_id·10 < (max_id+1)*p — a pure
    // integer comparison, no global sort or rank). Types are word
    // 3-GRAMS (the q23/q144 shingle relation): the synthetic corpus'
    // unigram vocabulary is closed (31 words — β would be 0 by
    // saturation), while its 3-gram type inventory grows with a real
    // sub-unit exponent, which is exactly the regime the law
    // describes. V_p needs only each type's FIRST doc (min(doc_id) —
    // one scan-side partial agg over the TYPE relation, not the
    // token stream); n_p needs only per-doc gram counts. Both
    // collapse to ONE wide row via 10 conditional integer sums
    // against the broadcast 1-row max_id (q37 pattern), so the whole
    // curve + fit costs two partial-agg exchanges at any corpus
    // size. ln quantizes at 9; β and ln K are the closed-form OLS
    // scalars (round 6), repeated per point row via the 1-row fit
    // crossJoin.
    QDef(
      "q252_heaps_fit",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        // token-count arm: an n-word doc has exactly max(n-2, 0)
        // 3-grams, so ntok needs only the word split — building the
        // gram strings here doubled the gram-construction cost for a
        // number the split already determines (guide §1.2: don't
        // compute things you throw away)
        val mx = docs.agg(max(col("doc_id")).as("mx"))
        val dt = docs.select(col("doc_id"),
            expr(s"cast(greatest(size($W) - 2, 0) as bigint)")
              .as("ntok"))
          .crossJoin(broadcast(mx))
        val tokAggs = (1 to 10).map(p =>
          sum(when(col("doc_id") * 10 < (col("mx") + 1L) * p,
            col("ntok")).otherwise(0L)).as(s"n$p"))
        val toks = dt.groupBy().agg(tokAggs.head, tokAggs.tail: _*)
        // vocab arm: the Shingles generator (one streaming pass per
        // row, per-doc-distinct) replaces explode(transform(...)) —
        // per-doc duplicate grams cannot change min(doc_id) per type,
        // and the native pass skips the per-gram Column machinery
        val fdoc = docs.select(
            graft.functions.Shingles.shingles(col("text"), 3).as("w"),
            col("doc_id"))
          .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
          .crossJoin(broadcast(mx))
        val vocAggs = (1 to 10).map(p =>
          sum(when(col("fd") * 10 < (col("mx") + 1L) * p, 1L)
            .otherwise(0L)).as(s"v$p"))
        val vocs = fdoc.groupBy().agg(vocAggs.head, vocAggs.tail: _*)
        val pts = toks.crossJoin(broadcast(vocs))
          .selectExpr(s"""stack(10, ${(1 to 10).map(p =>
              s"cast($p as int), n$p, v$p").mkString(", ")})
            as (decile, n_tokens, vocab)""")
          .ckpt() // 10 rows: the curve feeds the fit AND the output
        val fit = pts
          .select(expr("round(ln(cast(n_tokens as double)), 9)").as("x"),
            expr("round(ln(cast(vocab as double)), 9)").as("y"))
          .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .selectExpr(
            // `+ 0.0` so an exactly-zero fit coefficient cannot
            // surface as IEEE −0.0 in one engine (the q97 rule)
            """round((m * sxy - sx * sy)
               / (m * sxx - sx * sx), 6) + 0.0d as beta_r""",
            """round((sy - (m * sxy - sx * sy)
                 / (m * sxx - sx * sx) * sx) / m, 6) + 0.0d
               as ln_k_r""")
        pts.crossJoin(broadcast(fit))
          .select(col("decile"), col("n_tokens"), col("vocab"),
            col("beta_r"), col("ln_k_r"))
          .orderBy(col("decile"))
      },
      Some(s"""
        WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        ws AS (SELECT doc_id, $WDuck AS w FROM documents),
        dt AS (SELECT doc_id,
                      CAST(greatest(len(w) - 2, 0) AS BIGINT) AS ntok
               FROM ws),
        toks AS (SELECT ${(1 to 10).map(p =>
          s"""CAST(SUM(CASE WHEN doc_id * 10 < (mx + 1) * $p
              THEN ntok ELSE 0 END) AS BIGINT) AS n$p""")
          .mkString(", ")}
                 FROM dt, mx),
        fdoc AS (SELECT g, MIN(doc_id) AS fd
                 FROM (SELECT doc_id, unnest(
                         list_transform(range(0, greatest(len(w)-2, 0)),
                           j -> array_to_string(w[j+1 : j+3], ' ')))
                         AS g
                       FROM ws) t GROUP BY 1),
        vocs AS (SELECT ${(1 to 10).map(p =>
          s"""CAST(SUM(CASE WHEN fd * 10 < (mx + 1) * $p
              THEN 1 ELSE 0 END) AS BIGINT) AS v$p""")
          .mkString(", ")}
                 FROM fdoc, mx),
        pts AS (${(1 to 10).map(p =>
          s"""SELECT CAST($p AS INTEGER) AS decile, n$p AS n_tokens,
              v$p AS vocab FROM toks, vocs""")
          .mkString("\n          UNION ALL\n          ")}),
        xy AS (SELECT decile, n_tokens, vocab,
                      ROUND(LN(CAST(n_tokens AS DOUBLE)), 9) AS x,
                      ROUND(LN(CAST(vocab AS DOUBLE)), 9) AS y
               FROM pts),
        fit AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, SUM(x) AS sx,
                       SUM(y) AS sy, SUM(x * y) AS sxy,
                       SUM(x * x) AS sxx
                FROM xy)
        SELECT decile, n_tokens, vocab,
               ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
                 + 0.0 AS beta_r,
               ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx)
                      * sx) / m, 6) + 0.0 AS ln_k_r
        FROM xy, fit ORDER BY decile
      """)),

    // ------------------------------------------------------------------
    // q254: Good-Turing frequency-spectrum smoothing per source — the
    // classical LM estimate of UNSEEN mass (what fraction of the next
    // crawl's tokens will be words this source has never shown:
    // p_unseen = N1/T) plus the adjusted counts r* = (r+1)·N_{r+1}/N_r
    // for r = 1..5, read off the word-frequency spectrum. The spectrum
    // is two partial-agg exchanges — (source, word) counts (the
    // vocabulary relation), then (source, r) type counts — and
    // collapses to ONE wide row per source via 6 conditional sums, so
    // the 5 output rows per source stack() shuffle-free (q229's
    // wide-row discipline). All counts exact integers; r* and the
    // unseen mass are closing round-6 divisions, NULL where N_r = 0
    // (no types at that count ⇒ the estimator is undefined).
    QDef(
      "q254_good_turing",
      (s, dir) => {
        val wc = Tables(s, dir).documents
          .select(col("source"), explode(expr(W)).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
        val specAggs = Seq(
          sum(col("c")).as("t_tokens"),
          count(lit(1)).as("v_types")) ++
          (1 to 6).map(r =>
            sum(when(col("c") === r, 1L).otherwise(0L))
              .as(s"nr$r"))
        val spec = wc.groupBy(col("source"))
          .agg(specAggs.head, specAggs.tail: _*)
        spec.selectExpr("source", "t_tokens", "v_types",
            "round(cast(nr1 as double) / t_tokens, 6) as unseen_mass_r",
            s"""stack(5, ${(1 to 5).map(r =>
              s"""cast($r as int), nr$r,
                case when nr$r = 0 then null
                else round(${r + 1}.0d * nr${r + 1} / nr$r, 6)
                end""").mkString(", ")})
              as (r, n_r, r_star_r)""")
          .select(col("source"), col("r"), col("n_r"), col("r_star_r"),
            col("t_tokens"), col("v_types"), col("unseen_mass_r"))
          .orderBy(col("source"), col("r"))
      },
      Some(s"""
        WITH wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                    FROM (SELECT source, unnest($WDuck) AS w
                          FROM documents) t GROUP BY 1, 2),
        spec AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t_tokens,
                        CAST(COUNT(*) AS BIGINT) AS v_types,
                        ${(1 to 6).map(r =>
          s"""CAST(SUM(CASE WHEN c = $r THEN 1 ELSE 0 END) AS BIGINT)
              AS nr$r""").mkString(", ")}
                 FROM wc GROUP BY 1),
        st AS (${(1 to 5).map(r =>
          s"""SELECT source, CAST($r AS INTEGER) AS r, nr$r AS n_r,
              CASE WHEN nr$r = 0 THEN NULL
              ELSE ROUND(${r + 1}.0 * nr${r + 1} / nr$r, 6) END
                AS r_star_r,
              t_tokens, v_types,
              ROUND(CAST(nr1 AS DOUBLE) / t_tokens, 6) AS unseen_mass_r
              FROM spec""").mkString("\n          UNION ALL\n          ")})
        SELECT source, r, n_r, r_star_r, t_tokens, v_types,
               unseen_mass_r
        FROM st ORDER BY source, r
      """)),

    // ------------------------------------------------------------------
    // q257: lexical diversity — raw TTR (type/token ratio) plus MATTR
    // (Covington & McFall 2010: the mean TTR of every 50-token sliding
    // window), the length-robust diversity score corpus-quality
    // pipelines use because raw TTR collapses as documents grow. The
    // whole computation is ROW-LOCAL (each doc's windows live in its
    // own token array — transform over sequence + array_distinct), so
    // the query is a pure narrow map: zero shuffles at any corpus
    // size. Docs at or under the window size fall back to raw TTR
    // (the standard convention); empty docs are NULL. Window distinct
    // counts are exact integers; the two divisions round at 6.
    QDef(
      "q257_mattr",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"), col("lang"), expr(W).as("ws"))
          .select(col("doc_id"), col("lang"),
            expr("cast(size(ws) as bigint)").as("n_tokens"),
            expr("cast(size(array_distinct(ws)) as bigint)")
              .as("n_types"),
            expr("""case when size(ws) = 0 then null
                else round(cast(size(array_distinct(ws)) as double)
                           / size(ws), 6) end""").as("ttr_r"),
            expr("""case when size(ws) = 0 then null
                when size(ws) <= 50 then
                  round(cast(size(array_distinct(ws)) as double)
                        / size(ws), 6)
                else round(cast(aggregate(
                    transform(sequence(1, size(ws) - 49),
                      i -> size(array_distinct(slice(ws, i, 50)))),
                    0L, (a, x) -> a + x) as double)
                  / (50.0d * (size(ws) - 49)), 6)
                end""").as("mattr_r"))
      },
      Some(s"""
        SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
               CASE WHEN len(ws) = 0 THEN NULL
                    ELSE ROUND(CAST(len(list_distinct(ws)) AS DOUBLE)
                               / len(ws), 6) END AS ttr_r,
               CASE WHEN len(ws) = 0 THEN NULL
                    WHEN len(ws) <= 50 THEN
                      ROUND(CAST(len(list_distinct(ws)) AS DOUBLE)
                            / len(ws), 6)
                    ELSE ROUND(CAST(list_sum(list_transform(
                        range(1, len(ws) - 48),
                        i -> len(list_distinct(ws[i : i + 49]))))
                        AS DOUBLE)
                      / (50.0 * (len(ws) - 49)), 6)
               END AS mattr_r
        FROM (SELECT doc_id, lang, $WDuck AS ws FROM documents) t
      """)),

    // ------------------------------------------------------------------
    // q259: interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
    // Chen & Goodman 1998 interpolated form with absolute discount
    // D = 0.75) — the smoothing KenLM-class production LMs actually
    // use for perplexity filtering, next to q184's add-one baseline.
    // KN replaces the raw unigram backoff with the CONTINUATION
    // distribution — p_cont(w2) ∝ |{w1 : c(w1 w2) > 0}| — so words
    // that appear often but only in fixed collocations (e.g. the
    // "francisco" effect) stop inflating unseen-context probability:
    //   p_kn(w2|w1) = (max(c12 − D, 0) + D·N1+(w1,·)·p_cont(w2)) / c1
    // All inputs are exact integer counts off the SHARED bigramLm
    // relation (q184's corpus/tokenizer/V discipline): c12, its
    // per-history sum c1, the distinct-continuation counts N1+(w1,·)
    // and N1+(·,w2), and the distinct-bigram total. Per-bigram lp
    // rounds at 9 (identical operator order in both engines), per-doc
    // perplexity at 6.
    //
    // Scale: every KN relation is vocab/vocab²-bounded and derived
    // from ONE ckpt'd bigram stream; the scoring lookup is the same
    // co-keyed (w1, w2) equi-join as q184 (NOT broadcastable at
    // scale); the distinct-bigram total rides in as a 1-row broadcast
    // (q37 pattern). The corpus is scanned once.
    QDef(
      "q259_kneser_ney",
      (s, dir) => {
        val (big, _) = bigramLm(s, dir)
        val c12 = big.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
          .ckpt() // feeds history stats, continuation stats AND lp
        val hist = c12.groupBy(col("w1"))
          .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
        val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
        val nall = c12.agg(count(lit(1)).as("nall"))
        val lpk = c12.join(hist, "w1").join(cont, "w2")
          .crossJoin(broadcast(nall))
          .select(col("w1"), col("w2"), expr(
            """round(ln((greatest(cast(c12 as double) - 0.75d, 0.0d)
               + 0.75d * cast(n1f as double) * cast(n1b as double)
                 / cast(nall as double))
               / cast(c1 as double)), 9)""").as("lp"))
        big.join(lpk, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(exp(-avg(col("lp"))), 6).as("ppl_kn"))
      },
      Some(s"""
        WITH $bigramLmDuck,
        h AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1k,
                     CAST(COUNT(*) AS BIGINT) AS n1f
              FROM c12 GROUP BY 1),
        cb AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
               FROM c12 GROUP BY 1),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS nall FROM c12),
        lpk AS (SELECT c.w1, c.w2,
                  ROUND(LN((GREATEST(CAST(c.c12 AS DOUBLE) - 0.75, 0.0)
                    + 0.75 * CAST(h.n1f AS DOUBLE)
                      * CAST(cb.n1b AS DOUBLE) / CAST(na.nall AS DOUBLE))
                    / CAST(h.c1k AS DOUBLE)), 9) AS lp
                FROM c12 c JOIN h ON h.w1 = c.w1
                JOIN cb ON cb.w2 = c.w2, na)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(EXP(-AVG(lp)), 6) AS ppl_kn
        FROM big JOIN lpk USING (w1, w2)
        GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q267: Gopher-style rule battery (Rae et al. 2021 §A1.1) — the
    // per-RULE quality audit that decides which heuristic gates fire
    // before a destructive filter: unlike q52's first-failing-stage
    // funnel, every document is evaluated against EVERY rule
    // independently, so the report says which rules carry the load and
    // which are dead on this corpus. Six rules: word-count bounds
    // [50, 100000], mean word length outside [3, 10], symbol ratio
    // (#/ellipsis per word > 0.1), fewer than 2 distinct Gopher
    // stopwords, alphabetic-word fraction < 0.8, and top-token
    // repetition fraction > 0.2 (the q57 signal as a gate). Raw-text
    // rules use WHITESPACE words (the Gopher convention); the
    // stopword/repetition rules use the engine tokenizer. All rule
    // inputs are exact integers; ratios round at 9 BEFORE the
    // threshold compare so both engines decide every boundary
    // identically. Zero-token/zero-word docs fail the ratio rules by
    // definition (explicit CASE, not a null that silently drops).
    //
    // Scale: one pure narrow map computes the 6 booleans per doc (the
    // repetition rule's top-multiplicity is a sorted-run fold over the
    // doc's own token array — O(n log n) row-local, no unnest); ONE
    // conditional-sum wide row + a 6-row stack + the 1-row doc-count
    // broadcast. The corpus shuffles nothing.
    QDef(
      "q267_gopher_rules",
      (s, dir) => {
        val flags = Tables(s, dir).documents
          .select(col("doc_id"), col("text"), expr(W).as("tk"),
            expr(s"""filter(split(trim(text), '${Q.wsReSql}+'),
                    x -> x <> '')""").as("ws"))
          .select(col("doc_id"),
            expr("size(ws)").cast("long").as("nw"),
            expr("size(tk)").cast("long").as("nt"),
            expr("""aggregate(ws, 0L,
                    (a, x) -> a + cast(length(x) as bigint))""")
              .as("wchars"),
            expr("cast(length(text) - length(replace(text, '#', ''))"
              + " as bigint)").as("nhash"),
            expr("""cast((length(text)
                    - length(replace(text, '...', ''))) / 3
                    as bigint)""").as("nell"),
            expr("""cast(size(filter(array('the','be','to','of','and',
                    'that','have','with'),
                    sw -> array_contains(tk, sw))) as bigint)""")
              .as("nstop"),
            expr("""cast(size(filter(ws,
                    x -> x rlike '[A-Za-z]')) as bigint)""").as("nalpha"),
            expr("""aggregate(array_sort(tk),
                    named_struct('p', '', 'r', 0L, 'm', 0L),
                    (a, x) -> named_struct('p', x,
                      'r', if(x = a.p, a.r + 1L, 1L),
                      'm', greatest(a.m, if(x = a.p, a.r + 1L, 1L))),
                    a -> a.m)""").as("topm"))
          .selectExpr("doc_id",
            "nw < 50 or nw > 100000 as f1",
            """nw = 0 or round(cast(wchars as double) / nw, 9) < 3.0d
               or round(cast(wchars as double) / nw, 9) > 10.0d as f2""",
            """case when nw = 0 then true else
               round(cast(nhash + nell as double) / nw, 9) > 0.1d
               end as f3""",
            "nstop < 2 as f4",
            """case when nw = 0 then true else
               round(cast(nalpha as double) / nw, 9) < 0.8d
               end as f5""",
            """case when nt = 0 then true else
               round(cast(topm as double) / nt, 9) > 0.2d
               end as f6""")
        val ks = 1 to 6
        val names = Map(1 -> "word_count_bounds", 2 -> "mean_word_length",
          3 -> "symbol_ratio", 4 -> "stopword_presence",
          5 -> "alpha_word_fraction", 6 -> "top_token_repetition")
        val wide = flags.agg(
          count(lit(1)).as("n_docs"),
          ks.map(k => sum(when(col(s"f$k"), 1L).otherwise(0L))
            .as(s"c$k")): _*)
        wide.selectExpr("n_docs", s"""stack(6, ${ks.map(k =>
            s"'${names(k)}', c$k").mkString(", ")})
            as (rule, n_failing)""")
          .select(col("rule"), col("n_failing"),
            expr("round(cast(n_failing as double) / n_docs, 6)")
              .as("pct_failing_r"),
            col("n_docs"))
          .orderBy(col("rule"))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, text, $WDuck AS tk,
                 list_filter(string_split_regex(trim(text), '${Q.wsRe}+'),
                   x -> x <> '') AS ws
          FROM documents),
        feat AS (
          SELECT doc_id,
                 CAST(len(ws) AS BIGINT) AS nw,
                 CAST(len(tk) AS BIGINT) AS nt,
                 CAST(COALESCE(list_sum(list_transform(ws,
                   x -> length(x))), 0) AS BIGINT) AS wchars,
                 CAST(length(text) - length(replace(text, '#', ''))
                   AS BIGINT) AS nhash,
                 CAST((length(text) - length(replace(text, '...', '')))
                   / 3 AS BIGINT) AS nell,
                 CAST(len(list_filter(['the','be','to','of','and',
                   'that','have','with'],
                   sw -> list_contains(tk, sw))) AS BIGINT) AS nstop,
                 CAST(len(list_filter(ws,
                   x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                   AS nalpha
          FROM base),
        topm AS (
          SELECT doc_id, CAST(COALESCE(MAX(c), 0) AS BIGINT) AS topm
          FROM (SELECT doc_id, COUNT(*) AS c
                FROM (SELECT doc_id, unnest(tk) AS w FROM base) u
                GROUP BY doc_id, w) cc
          GROUP BY doc_id),
        fl AS (
          SELECT f.doc_id,
                 (nw < 50 OR nw > 100000) AS f1,
                 (nw = 0 OR ROUND(CAST(wchars AS DOUBLE) / nw, 9) < 3.0
                  OR ROUND(CAST(wchars AS DOUBLE) / nw, 9) > 10.0) AS f2,
                 (CASE WHEN nw = 0 THEN TRUE ELSE
                  ROUND(CAST(nhash + nell AS DOUBLE) / nw, 9) > 0.1
                  END) AS f3,
                 (nstop < 2) AS f4,
                 (CASE WHEN nw = 0 THEN TRUE ELSE
                  ROUND(CAST(nalpha AS DOUBLE) / nw, 9) < 0.8
                  END) AS f5,
                 (CASE WHEN nt = 0 THEN TRUE ELSE
                  ROUND(CAST(COALESCE(t.topm, 0) AS DOUBLE) / nt, 9)
                    > 0.2 END) AS f6
          FROM feat f LEFT JOIN topm t ON t.doc_id = f.doc_id),
        wide AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                 CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                 CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                 CAST(SUM(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
                 CAST(SUM(CASE WHEN f6 THEN 1 ELSE 0 END) AS BIGINT) AS c6
          FROM fl)
        SELECT t.rule, t.n_failing,
               ROUND(CAST(t.n_failing AS DOUBLE) / w.n_docs, 6)
                 AS pct_failing_r,
               w.n_docs
        FROM wide w, LATERAL (VALUES
          ('word_count_bounds', w.c1), ('mean_word_length', w.c2),
          ('symbol_ratio', w.c3), ('stopword_presence', w.c4),
          ('alpha_word_fraction', w.c5),
          ('top_token_repetition', w.c6)) t(rule, n_failing)
        ORDER BY t.rule
      """)),

    // ------------------------------------------------------------------
    // q277: per-source distinct-n diversity — the corpus-diversity
    // report (Li et al. 2016's distinct-1/2/3, the standard
    // template-detection signal): for each source and n ∈ {1, 2, 3},
    // the n-gram token count, TYPE count, their ratio (low = the
    // source repeats itself), and the single most frequent n-gram's
    // mass share (high = one template dominates — the boilerplate
    // smoking gun q222's prefix audit sees only at sequence starts).
    // Complements q97 (per-DOC entropy) and q252 (corpus-level Heaps
    // growth) with the per-SOURCE repetition profile a mixture
    // designer reads before weighting (q179/q249).
    //
    // Determinism: all-integer counts off one (source, n, gram) keyed
    // agg; the two ratios are single rounded divisions of exact
    // integers. No floats anywhere else. A sources x {1,2,3} spine
    // (the q255/q271/q275 empty-cell discipline) keeps a row for
    // every combination: a source whose documents all have fewer
    // than n words reports 0 grams / 0 types / NULL ratios instead
    // of silently dropping — exactly the degenerate source a
    // diversity report must surface. The spine rides the gram stream
    // itself as per-doc NULL-gram sentinel rows (count(g) ignores
    // them in both engines) rather than a separate distinct+join —
    // same two keyed aggs, zero extra shuffles, no cross join.
    //
    // Scale: the gram stream collapses map-side into the (source, n,
    // gram)-keyed count relation (gram TYPES per source — Heaps-
    // bounded, q252's argument); totals/types/max derive from THAT
    // relation, so the corpus is scanned once (a ckpt'd ws relation
    // feeds the three explode branches) and nothing data-sized is
    // ever re-keyed.
    QDef(
      "q277_distinct_ngrams",
      (s, dir) => {
        val wsrel = Tables(s, dir).documents
          .select(col("source"), expr(W).as("ws"))
          .ckpt() // one corpus scan feeds the three gram branches
        def branch(n: Int) = {
          val g =
            if (n == 1) explode(col("ws"))
            else explode(expr(
              s"""case when size(ws) < $n then array()
                  else transform(sequence(1, size(ws) - ${n - 1}),
                    i -> concat_ws(' ', slice(ws, i, $n))) end"""))
          wsrel.select(col("source"), lit(n).as("n"), g.as("g"))
        }
        val sentinel = wsrel.select(col("source"),
          explode(array(lit(1), lit(2), lit(3))).as("n"),
          lit(null).cast("string").as("g"))
        branch(1).union(branch(2)).union(branch(3)).union(sentinel)
          .groupBy(col("source"), col("n"), col("g"))
          .agg(count(col("g")).as("c")) // NULL sentinels count 0
          .groupBy(col("source"), col("n"))
          .agg(sum(col("c")).as("n_grams"),
            count(col("g")).as("n_distinct"),
            max(col("c")).as("cmax"))
          .select(col("source"), col("n"), col("n_grams"),
            col("n_distinct"),
            when(col("n_grams") > 0,
              round(col("n_distinct").cast("double") / col("n_grams"), 6))
              .as("distinct_ratio_r"),
            when(col("n_grams") > 0,
              round(col("cmax").cast("double") / col("n_grams"), 6))
              .as("top_share_r"))
          .orderBy(col("source"), col("n"))
      },
      Some(s"""
        WITH w AS (SELECT source, $WDuck AS ws FROM documents),
        g AS (
          SELECT source, 1 AS n, unnest(ws) AS g FROM w
          UNION ALL
          SELECT source, 2 AS n,
                 unnest(CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(ws)),
                     i -> list_aggregate(ws[i:i+1], 'string_agg', ' '))
                   END) AS g
          FROM w
          UNION ALL
          SELECT source, 3 AS n,
                 unnest(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(ws) - 1),
                     i -> list_aggregate(ws[i:i+2], 'string_agg', ' '))
                   END) AS g
          FROM w
          UNION ALL
          SELECT source, n, NULL::VARCHAR AS g
          FROM w CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS n) ns),
        c AS (SELECT source, n, g, CAST(COUNT(g) AS BIGINT) AS c
              FROM g GROUP BY 1, 2, 3)
        SELECT source, n, CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(COUNT(g) AS BIGINT) AS n_distinct,
               CASE WHEN SUM(c) > 0 THEN
                 ROUND(CAST(COUNT(g) AS DOUBLE) / SUM(c), 6) END
                 AS distinct_ratio_r,
               CASE WHEN SUM(c) > 0 THEN
                 ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) END
                 AS top_share_r
        FROM c GROUP BY 1, 2
        ORDER BY 1, 2
      """))
  )
}
