package graft.queries

import graft.{QDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Ckpt._

/** End-to-end training-data-pipeline operators over `documents` — the
  * stages that sit AROUND dedup/quality scoring in a real corpus build:
  * reproducible train/held-out splitting, the C4-style cleaning funnel,
  * and sequence-length bucketing for batch packing.
  *
  * Everything is a deterministic pure map or a partial-agg-friendly
  * aggregation; the only shuffle anywhere is a groupBy on a low-cardinality
  * derived key (split/reason/bucket), so each query's plan is a single
  * scan + exchange that shards cleanly at 100 TB.
  */
object PipelineQueries {

  private val W = TextQueries.wordsExpr
  private val WDuck = TextQueries.wordsExprDuck
  private val fingerprintDuck = Q.fingerprintDuck

  /** Integer-exact candidate quality score shared by q227 (preference
    * pairs) and q230 (group-relative advantages): stop-word count
    * ×100000 div token count, −1 for empty docs. ONE definition (and
    * one DuckDB restatement) so the two training-data ops can never
    * rank candidates differently. Requires a `ws` column (W applied).
    */
  val prefScoreSpark: String =
    """case when size(ws) = 0 then -1L
       else (cast(size(filter(ws, x -> x = 'the' or x = 'a'))
             as bigint) * 100000) div size(ws) end"""
  val prefScoreDuck: String =
    """CASE WHEN len(ws) = 0 THEN -1
       ELSE CAST(len(list_filter(ws,
              x -> x = 'the' OR x = 'a')) AS BIGINT)
            * 100000 // len(ws) END"""

  /** The three deterministic labeling functions (vote 1 / 0 /
    * abstain −1 per doc; require `ws` = W applied, plus `text` for the
    * digit LF) shared by q229 (per-LF health report) and q241
    * (pairwise agreement) — ONE definition per engine so the
    * agreement audit provably measures the LFs the report ships.
    */
  val lfSpark: Seq[(String, String)] = Seq(
    "lf_length" -> """case when size(ws) >= 60 then 1
                         when size(ws) < 20 then 0
                         else -1 end""",
    "lf_stopmass" -> """case when size(filter(ws, x -> x = 'the' or x = 'a'))
                           * 10 >= size(ws) and size(ws) > 0 then 1
                         when size(filter(ws, x -> x = 'the' or x = 'a'))
                           = 0 then 0
                         else -1 end""",
    "lf_digit" -> "case when text rlike '[0-9]' then 1 else -1 end")
  /** The FIM (fill-in-the-middle) rewrite shared by q232 (example
    * construction) and q244 (BLEU scoring of the rewrite against the
    * original): deterministic md5 coin picks ~50% of docs, character
    * thirds split PSM-style. ONE definition per engine so the metric
    * provably scores the rewrite q232 ships. Output carries doc_id,
    * text (the reference), fim, n_chars, cut1, cut2, example (the
    * candidate).
    */
  private def fimRewritten(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), col("text"),
        expr("""substring(md5(cast(concat('fim|',
                  cast(doc_id as string)) as binary)), 1, 1) < '8'""")
          .as("fim"),
        length(col("text")).as("n_chars"))
      .withColumn("cut1", expr("n_chars div 3"))
      .withColumn("cut2", expr("(2 * n_chars) div 3"))
      .withColumn("example", expr(
        """case when fim then concat('<PRE>',
             substring(text, 1, cut1), '<SUF>',
             substring(text, cut2 + 1, n_chars - cut2), '<MID>',
             substring(text, cut1 + 1, cut2 - cut1))
           else text end"""))

  /** DuckDB restatement of [[fimRewritten]] — CTEs d/c/e; `e` is the
    * shared output relation.
    */
  private val fimRewrittenDuckCtes: String = """
        d AS (SELECT doc_id, text,
                          substring(md5('fim|' || CAST(doc_id AS VARCHAR)),
                                    1, 1) < '8' AS fim,
                          length(text) AS n_chars
                   FROM documents),
        c AS (SELECT doc_id, text, fim, n_chars,
                     n_chars // 3 AS cut1,
                     (2 * n_chars) // 3 AS cut2
              FROM d),
        e AS (SELECT doc_id, text, fim, n_chars, cut1, cut2,
                     CASE WHEN fim THEN '<PRE>'
                            || substr(text, 1, CAST(cut1 AS INTEGER))
                            || '<SUF>'
                            || substr(text, CAST(cut2 + 1 AS INTEGER),
                                      CAST(n_chars - cut2 AS INTEGER))
                            || '<MID>'
                            || substr(text, CAST(cut1 + 1 AS INTEGER),
                                      CAST(cut2 - cut1 AS INTEGER))
                          ELSE text END AS example
              FROM c)"""

  val lfDuck: Seq[(String, String)] = Seq(
    "lf_length" -> """CASE WHEN len(ws) >= 60 THEN 1
                      WHEN len(ws) < 20 THEN 0 ELSE -1 END""",
    "lf_stopmass" -> """CASE WHEN len(list_filter(ws,
                        x -> x = 'the' OR x = 'a')) * 10 >= len(ws)
                        AND len(ws) > 0 THEN 1
                      WHEN len(list_filter(ws,
                        x -> x = 'the' OR x = 'a')) = 0 THEN 0
                      ELSE -1 END""",
    "lf_digit" -> """CASE WHEN regexp_matches(text, '[0-9]') THEN 1
                      ELSE -1 END""")

  /** Packing shard count — the writer-parallelism unit shared by the
    * q217 batch audit and `CorpusStreaming.packingAssignments` (state =
    * one long per shard, output files = one stream per shard). ONE
    * definition so the twins can never pack to different layouts. 8 is
    * the demo default sized to the sf0.01 gate; at 100 TB this is the
    * knob that sets ingest parallelism (shards ≈ writer tasks), which
    * is exactly why it must be a parameter and not a constant baked
    * into two query bodies (the round-7 finding).
    */
  val packShards: Int = 8

  /** Packing block size in tokens, shared the same way. */
  val packBlock: Int = 256

  /** q217's per-shard packing audit over any (doc_id, n_tok-derivable)
    * docs relation, with the shard count and block size as parameters —
    * the ONE definition of the batch packing layout (shard = doc_id %
    * shards, docs concatenate in doc_id order, blocks of `block`
    * tokens). The streaming twin must agree with this at EVERY shard
    * count, not just the default — CorpusStreamingSpec pins parity at a
    * non-default count.
    */
  def packingAudit(docs: org.apache.spark.sql.DataFrame,
      shards: Int = packShards, block: Int = packBlock)
      : org.apache.spark.sql.DataFrame = {
    val byShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        expr(s"cast(size($W) as bigint)").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(byShard))
      .withColumn("is_split",
        (col("n_tok") > 0L &&
          expr(s"((cum - 1) div $block) > ((cum - n_tok) div $block)"))
          .cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("is_split")).as("n_split_docs"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens + ${block - 1}) div $block").as("n_blocks"),
        col("n_split_docs"),
        (expr(s"(n_tokens + ${block - 1}) div $block") * block.toLong
          - col("n_tokens")).as("tail_waste"))
  }

  /** Deterministic hash split: md5 of a salted doc id, compared on the
    * first two hex chars — 'cd' = 205/256 ≈ 80% train. String compare
    * avoids hex→int conversion, which DuckDB cannot express portably.
    * Reassigning a doc never depends on the rest of the corpus, so the
    * split is stable under corpus growth — the property that matters for
    * decontaminating held-out sets.
    *
    * Public: `CorpusStreaming` and the export specs consume the SAME
    * expression — a drifted copy would silently desynchronize the
    * streaming twin from the batch split.
    */
  val splitExprSpark =
    """case when substring(md5(cast(concat('split|', cast(doc_id as string)) as binary)), 1, 2) < 'cd'
            then 'train' else 'held_out' end"""
  val splitExprDuck =
    """CASE WHEN substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
            THEN 'train' ELSE 'held_out' END"""

  /** The cleaning-funnel feature thresholds, shared by q52, q60, and
    * the streaming funnel — one definition so corpus tuning can't fork.
    */
  val minTokens = 30L
  val minStopRatio = 0.02
  // nullif denominator: Spark's non-ANSI x/0 is NULL but DuckDB's IEEE
  // double division is NaN; the guard pins an empty-token doc to NULL in
  // both engines, and NULL comparisons then fall the same way everywhere
  // (an empty doc is caught by the n_tokens < minTokens arm first anyway).
  val stopRatioExprSpark =
    "size(filter(ws, x -> x = 'the' or x = 'a')) / nullif(size(ws), 0)"

  /** Shared by q201 (training trace) and q210 (apply + eval): the
    * labeled feature relation and the three quantized GD supersteps.
    * ONE definition so the scorer q210 applies is provably the model
    * q201 reports. Returns (features, per-iteration result rows); each
    * row carries (iter, loss-at-entry, post-update weights).
    * Determinism/scale contract documented at q201.
    */
  private def logregSteps(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val feats = Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"), expr(W).as("ws"))
      .select(col("doc_id"), col("lang"),
        expr("case when n_chars >= 300 then 1.0d else 0.0d end").as("y"),
        expr("""coalesce(round(
            cast(size(filter(ws, t -> t = 'the' or t = 'a')) as double)
            / cast(nullif(size(ws), 0) as double), 6), 0.0d)""").as("x1"),
        expr("""coalesce(round(
            cast(size(array_distinct(ws)) as double)
            / cast(nullif(size(ws), 0) as double), 6), 0.0d)""").as("x2"),
        expr("""coalesce(round(
            cast(n_chars as double)
            / (10.0d * cast(nullif(size(ws), 0) as double)), 6), 0.0d)""")
          .as("x3"))
      .ckpt() // feeds all three supersteps + q210's scoring
    def step(w: org.apache.spark.sql.DataFrame, it: Int) =
      feats.crossJoin(broadcast(w))
        .withColumn("z", round(col("b") + col("w1") * col("x1")
          + col("w2") * col("x2") + col("w3") * col("x3"), 6))
        // clamp away from {0, 1}: once |z| ≳ 21.4 the round-9 sigmoid
        // saturates to exactly 1.0 (or 0.0) and log(1-p) would be
        // log(0) — Spark yields NULL (silently dropping the row from
        // avg) while DuckDB's LN(0) errors outright. The clamp keeps
        // the loss finite and both engines on the identical trajectory
        // whatever the data; it only binds at the saturation boundary.
        .withColumn("p", greatest(lit(1e-9), least(lit(1.0 - 1e-9),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9))))
        .agg(
          max(col("b")).as("b0"), max(col("w1")).as("w1o"),
          max(col("w2")).as("w2o"), max(col("w3")).as("w3o"),
          round(avg(-(col("y") * log(col("p"))
            + (lit(1.0) - col("y")) * log(lit(1.0) - col("p")))), 6)
            .as("loss_r"),
          round(avg(col("p") - col("y")), 9).as("g0"),
          round(avg((col("p") - col("y")) * col("x1")), 9).as("g1"),
          round(avg((col("p") - col("y")) * col("x2")), 9).as("g2"),
          round(avg((col("p") - col("y")) * col("x3")), 9).as("g3"))
        .select(lit(it).cast("int").as("iter"), col("loss_r"),
          round(col("b0") - lit(5.0) * col("g0"), 7).as("b"),
          round(col("w1o") - lit(5.0) * col("g1"), 7).as("w1"),
          round(col("w2o") - lit(5.0) * col("g2"), 7).as("w2"),
          round(col("w3o") - lit(5.0) * col("g3"), 7).as("w3"))
        .ckpt() // superstep barrier: 1 row
    val w0 = s.range(1).select(
      lit(0.0).as("b"), lit(0.0).as("w1"),
      lit(0.0).as("w2"), lit(0.0).as("w3"))
    val r1 = step(w0, 1)
    val r2 = step(r1.select(col("b"), col("w1"), col("w2"), col("w3")), 2)
    val r3 = step(r2.select(col("b"), col("w1"), col("w2"), col("w3")), 3)
    (feats, Seq(r1, r2, r3))
  }

  /** DuckDB restatement of [[logregSteps]] (features f with lang →
    * supersteps → final weights w3c), interpolated into the q201 and
    * q210 oracles. */
  private val logregChainDuck = s"""f AS MATERIALIZED (
          SELECT doc_id, lang,
                 CASE WHEN n_chars >= 300 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS y,
                 COALESCE(ROUND(
                   CAST(len(list_filter(ws, t -> t = 'the' OR t = 'a'))
                        AS DOUBLE)
                   / CAST(nullif(len(ws), 0) AS DOUBLE), 6), 0.0) AS x1,
                 COALESCE(ROUND(
                   CAST(len(list_distinct(ws)) AS DOUBLE)
                   / CAST(nullif(len(ws), 0) AS DOUBLE), 6), 0.0) AS x2,
                 COALESCE(ROUND(
                   CAST(n_chars AS DOUBLE)
                   / (10.0 * CAST(nullif(len(ws), 0) AS DOUBLE)), 6),
                   0.0) AS x3
          FROM (SELECT doc_id, lang, n_chars, $WDuck AS ws
                FROM documents) t0),
        i1 AS (SELECT ROUND(AVG(-(y*LN(p) + (1.0-y)*LN(1.0-p))), 6)
                        AS loss_r,
                      ROUND(AVG(p - y), 9) AS g0,
                      ROUND(AVG((p - y)*x1), 9) AS g1,
                      ROUND(AVG((p - y)*x2), 9) AS g2,
                      ROUND(AVG((p - y)*x3), 9) AS g3
               FROM (SELECT y, x1, x2, x3,
                            GREATEST(1e-9, LEAST(1.0 - 1e-9,
                              ROUND(1.0/(1.0 + EXP(-ROUND(
                              0.0 + 0.0*x1 + 0.0*x2 + 0.0*x3, 6))), 9)))
                              AS p
                     FROM f) t),
        w1 AS MATERIALIZED (SELECT loss_r, ROUND(0.0 - 5.0*g0, 7) AS b,
                      ROUND(0.0 - 5.0*g1, 7) AS w1, ROUND(0.0 - 5.0*g2, 7) AS w2,
                      ROUND(0.0 - 5.0*g3, 7) AS w3 FROM i1),
        i2 AS (SELECT MAX(b) AS b0, MAX(w1) AS w1o, MAX(w2) AS w2o,
                      MAX(w3) AS w3o,
                      ROUND(AVG(-(y*LN(p) + (1.0-y)*LN(1.0-p))), 6)
                        AS loss_r,
                      ROUND(AVG(p - y), 9) AS g0,
                      ROUND(AVG((p - y)*x1), 9) AS g1,
                      ROUND(AVG((p - y)*x2), 9) AS g2,
                      ROUND(AVG((p - y)*x3), 9) AS g3
               FROM (SELECT f.y, f.x1, f.x2, f.x3,
                            w.b, w.w1, w.w2, w.w3,
                            GREATEST(1e-9, LEAST(1.0 - 1e-9,
                              ROUND(1.0/(1.0 + EXP(-ROUND(
                              w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3,
                              6))), 9))) AS p
                     FROM f, w1 w) t),
        w2 AS MATERIALIZED (SELECT loss_r, ROUND(b0 - 5.0*g0, 7) AS b,
                      ROUND(w1o - 5.0*g1, 7) AS w1, ROUND(w2o - 5.0*g2, 7) AS w2,
                      ROUND(w3o - 5.0*g3, 7) AS w3 FROM i2),
        i3 AS (SELECT MAX(b) AS b0, MAX(w1) AS w1o, MAX(w2) AS w2o,
                      MAX(w3) AS w3o,
                      ROUND(AVG(-(y*LN(p) + (1.0-y)*LN(1.0-p))), 6)
                        AS loss_r,
                      ROUND(AVG(p - y), 9) AS g0,
                      ROUND(AVG((p - y)*x1), 9) AS g1,
                      ROUND(AVG((p - y)*x2), 9) AS g2,
                      ROUND(AVG((p - y)*x3), 9) AS g3
               FROM (SELECT f.y, f.x1, f.x2, f.x3,
                            w.b, w.w1, w.w2, w.w3,
                            GREATEST(1e-9, LEAST(1.0 - 1e-9,
                              ROUND(1.0/(1.0 + EXP(-ROUND(
                              w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3,
                              6))), 9))) AS p
                     FROM f, w2 w) t),
        w3c AS MATERIALIZED (SELECT loss_r, ROUND(b0 - 5.0*g0, 7) AS b,
                       ROUND(w1o - 5.0*g1, 7) AS w1, ROUND(w2o - 5.0*g2, 7) AS w2,
                       ROUND(w3o - 5.0*g3, 7) AS w3 FROM i3)"""

  /** BPE merge supersteps to run for q246/q247 — enough to cross from
    * character pairs into multi-character subwords on this corpus.
    */
  private val bpeIters = 8

  /** In-engine BPE tokenizer training (Sennrich et al. 2016), the
    * word-count formulation every production trainer uses: the corpus
    * is scanned ONCE into a (word, frequency) vocabulary — bounded by
    * word TYPES (Heaps' law), not corpus size — and every superstep
    * after that runs on the vocabulary relation alone. Each word is a
    * space-joined symbol string seeded as its characters plus an `_`
    * end-of-word marker (words are `[a-z]+`, so `_` cannot collide);
    * a superstep is:
    *   1. adjacent-pair counts: explode each word's (n−1) symbol
    *      bigrams weighted by word frequency, partial-agg sum — the
    *      only shuffle, keyed on the pair;
    *   2. argmax pair via min(struct(-cnt, pair)) — map-side
    *      combinable, count-desc with lexicographic tiebreak (the
    *      q227/q242 idiom), all exact integers;
    *   3. merge: a left fold over the word's symbol LIST (`aggregate`
    *      in Spark, `list_reduce` in DuckDB): append symbol x to the
    *      accumulator WITHOUT a delimiter when the accumulator's last
    *      symbol is l and x is r, with one otherwise. This is exactly
    *      Sennrich's greedy left-to-right non-overlapping merge-all
    *      (the i += 2 skip falls out: the merged symbol `lr` can
    *      never equal l, so it never re-merges with a following r) —
    *      including consecutive occurrences like `a b a b` → `ab ab`,
    *      which a space-padded string `replace` misses because the
    *      scanner consumes the shared delimiter space. The merge row
    *      rides a broadcast one-row crossJoin (the q201
    *      model-broadcast shape), so the vocab never moves.
    * Determinism: there are NO floats anywhere in the trainer — counts
    * are exact integers and the tiebreak is a total order, so both
    * engines learn the identical merge table by construction. ckpt()
    * between supersteps cuts lineage (the q101/q201 discipline).
    * Returns (one merge row per superstep, the vocab at EVERY stage —
    * v0 through v_bpeIters; q247 audits the final one, q248 sweeps the
    * whole trajectory for the compression curve).
    */
  /** Apply ONE learned merge (the 1-row (l, r) frame `best`) to every
    * word's symbol string — the Sennrich greedy LTR merge-all fold,
    * factored out so the TRAINER's superstep (bpeSteps) and the
    * APPLY path (q256's held-out encoding) provably use the identical
    * merge semantics.
    */
  /** Sennrich merge-all as a fold over symbol string `rep` with merge
    * symbols `l`/`r` (SQL column/field names spliced by the caller):
    * the accumulator is the merged-so-far symbol string; (last symbol
    * = l, x = r) ⇒ append x with NO space (the joined token is
    * textually l||r = merged). endswith, not LIKE: l may contain the
    * `_` end-of-word marker, which LIKE would treat as a wildcard.
    * ONE definition spliced into both [[applyMerge]] (per-superstep,
    * broadcast l/r columns) and q256's all-merges held-out fold
    * (m.l/m.r over the collected merge table) so the two apply paths
    * cannot drift.
    */
  private def mergeFoldSql(rep: String, l: String, r: String): String =
    s"""aggregate(
          slice(split($rep, ' '), 2,
                greatest(size(split($rep, ' ')) - 1, 0)),
          element_at(split($rep, ' '), 1),
          (acc, x) -> if(x = $r and (acc = $l or
                         endswith(acc, concat(' ', $l))),
                         concat(acc, x),
                         concat(acc, ' ', x)))"""

  private def applyMerge(vocab: org.apache.spark.sql.DataFrame,
      best: org.apache.spark.sql.DataFrame) = vocab
    .crossJoin(broadcast(best.select(col("l"), col("r"))))
    .select(col("word"), col("wf"),
      expr(mergeFoldSql("rep", "l", "r")).as("rep"))
    .ckpt()

  /** The char-split (word, wf, rep) TYPE vocabulary of `docs` — the
    * relation every BPE train/apply stage starts from.
    */
  private def charVocab(docs: org.apache.spark.sql.DataFrame) = docs
    .select(explode(expr(W)).as("word"))
    .groupBy(col("word")).agg(count(lit(1)).as("wf"))
    .select(col("word"), col("wf"),
      // split(word, '') keeps a trailing '' under Java's limit=-1
      // split — filter it out so symbols stay non-empty
      expr("""concat(concat_ws(' ',
               filter(split(word, ''), c -> c <> '')), ' _')""")
        .as("rep"))
    .ckpt() // the corpus is never read again

  /** One BPE superstep over a (word, wf, rep) vocab: the argmax merge
    * row (1 row, ckpt'd) and the merged vocab. DEGENERATE input (every
    * word fully merged ⇒ zero adjacent pairs): the global agg over
    * zero rows emits one ALL-NULL merge row and [[applyMerge]] is the
    * identity (x = NULL never matches) — bpeChainDuck's empty-p_i
    * UNION-ALL branch mirrors exactly this, spec-pinned in
    * TrainedOpsSpec.
    */
  /** @param fuseBest elide the argmax row's barrier (r16 fusion, guide
    *   §2.6/§5). ONLY when the caller consumes the merge rows at most
    *   through applyMerge's broadcast build: q247/q248 use just the
    *   vocab trajectory, so the elision saves one job per superstep
    *   for free (A/B: q247 1.86→1.70 s, q248 1.64→1.44 s). q246/q256
    *   consume the merge rows a second time (final union / held-out
    *   apply), where recomputing the pair-count agg per consumer
    *   measured SLOWER than the barrier (A/B: q246 0.96×, q256 0.84×
    *   with fusion) — they keep the ckpt.
    */
  private[queries] def bpeStep(vocab: org.apache.spark.sql.DataFrame,
      it: Int, fuseBest: Boolean = false) = {
    val best = vocab
      .select(col("wf"), expr(
        // adjacent symbol bigrams; zip_with over 0-length slices
        // yields [] for fully-merged single-symbol words
        """zip_with(
             slice(split(rep, ' '), 1, size(split(rep, ' ')) - 1),
             slice(split(rep, ' '), 2, size(split(rep, ' ')) - 1),
             (x, y) -> concat(x, ' ', y))""").as("pairs"))
      .select(col("wf"), explode(col("pairs")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("cnt"))
      .agg(min(struct((-col("cnt")).as("nc"), col("pair").as("p")))
        .as("m"))
      .select(lit(it).cast("int").as("iter"), col("m.p").as("pair"),
        expr("element_at(split(m.p, ' '), 1)").as("l"),
        expr("element_at(split(m.p, ' '), 2)").as("r"),
        expr("replace(m.p, ' ', '')").as("merged"),
        (-col("m.nc")).as("cnt"))
      // The 1-row argmax pays its own eager-ckpt job per superstep
      // (8 per BPE query) unless elided: then the pair-count agg runs
      // inside applyMerge's broadcast BUILD instead (same work, one
      // fewer job per step). Per-callsite, see the fuseBest scaladoc.
      .transform(d => if (fuseBest) d else d.ckpt())
    (best, applyMerge(vocab, best))
  }

  private def bpeSteps(s: org.apache.spark.sql.SparkSession,
      dir: String, trainOnly: Boolean = false,
      fuseBest: Boolean = false) = {
    val docs0 = Tables(s, dir).documents
    val vocab0 = charVocab(
      if (trainOnly) docs0.where(expr(splitExprSpark) === "train")
      else docs0)
    def step(vocab: org.apache.spark.sql.DataFrame, it: Int) =
      bpeStep(vocab, it, fuseBest)
    var vocab = vocab0
    val vocabs = scala.collection.mutable.ArrayBuffer(vocab0)
    val merges = (1 to bpeIters).map { it =>
      val (b, v) = step(vocab, it); vocab = v; vocabs += v; b
    }
    (merges, vocabs.toSeq)
  }

  /** DuckDB restatement of [[bpeSteps]]: v0 (vocab) then, per
    * superstep i, p_i (pair counts) → b_i (argmax merge row, ORDER BY
    * cnt DESC, pair LIMIT 1 — the same total order) → v_i (merged
    * vocab). Generated by the same loop so the two chains cannot
    * drift in length. DEGENERATE superstep (no pairs remain — every
    * word fully merged): Spark's global agg over zero rows emits ONE
    * all-null merge row and applyMerge is the identity, so b_i here
    * UNION-ALLs the matching all-null row when p_i is empty — without
    * it the `FROM v, b` cross join would empty every later v_i and
    * the engines would disagree on tiny vocabs or large bpeIters.
    */
  private def bpeChainDuck(docWhere: String = ""): String = {
    val sb = new StringBuilder
    sb.append(s"""v0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wf,
                 array_to_string(string_split(word, ''), ' ') || ' _'
                   AS rep
          FROM (SELECT unnest($WDuck) AS word
                FROM documents $docWhere) tw
          GROUP BY 1)""")
    for (i <- 1 to bpeIters) {
      sb.append(s""",
        p$i AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt
               FROM (SELECT wf,
                            unnest(list_transform(range(1, len(a)),
                              j -> a[j] || ' ' || a[j + 1])) AS pair
                     FROM (SELECT wf, string_split(rep, ' ') AS a
                           FROM v${i - 1}) t$i) u$i
               GROUP BY 1),
        b$i AS (SELECT * FROM (
                 SELECT CAST($i AS INTEGER) AS iter, pair,
                        string_split(pair, ' ')[1] AS l,
                        string_split(pair, ' ')[2] AS r,
                        replace(pair, ' ', '') AS merged, cnt
                 FROM p$i ORDER BY cnt DESC, pair LIMIT 1) g$i
               UNION ALL
               SELECT CAST($i AS INTEGER), CAST(NULL AS VARCHAR),
                      CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                      CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
               WHERE NOT EXISTS (SELECT 1 FROM p$i)),
        v$i AS MATERIALIZED (
          SELECT word, wf,
                 list_reduce(string_split(rep, ' '),
                   (acc, x) -> CASE
                     WHEN x = b.r AND (acc = b.l OR
                          ends_with(acc, ' ' || b.l))
                     THEN acc || x ELSE acc || ' ' || x END) AS rep
          FROM v${i - 1}, b$i b)""")
    }
    sb.toString
  }

  val defs: Seq[QDef] = Seq(
    // ------------------------------------------------------------------
    // q51: reproducible train/held-out split with per-(split, lang)
    // stratification stats — the reproducibility contract is the hash,
    // not a random seed, so any engine (or any rerun at any scale)
    // assigns every document identically.
    QDef(
      "q51_train_test_split",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("split", expr(splitExprSpark))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("cast(length(text) as bigint)")).as("n_chars"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      },
      Some(s"""
        SELECT split, lang, COUNT(*) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM (SELECT doc_id, lang, text, $splitExprDuck AS split
              FROM documents) t
        GROUP BY split, lang
      """)),

    // ------------------------------------------------------------------
    // q52: the cleaning funnel — every document is assigned its FIRST
    // failing stage (dup loser → too short → low quality → kept), and
    // the funnel reports doc and token counts per outcome. This is the
    // shape of a C4/RefinedWeb-style pipeline audit: one pass computes
    // per-doc features (pure map), one window resolves dedup survivors,
    // one tiny aggregation summarizes. Thresholds are corpus-tuned
    // (tokens >= 30, stopword_ratio >= 0.02) so the quality stages are
    // non-empty at every SF; dup_loser appears where the corpus actually
    // has exact dups (sf0.1: 8 docs — smaller SFs have none).
    QDef(
      "q52_clean_funnel",
      (s, dir) => {
        val byFp = Window.partitionBy(col("fp"))
        val scored = Tables(s, dir).documents
          .withColumn("fp", Q.fingerprint(col("text")))
          .withColumn("ws", expr(W))
          .withColumn("n_tokens", expr("cast(size(ws) as bigint)"))
          .withColumn("stop_ratio", expr(stopRatioExprSpark))
          .withColumn("keep_id", min(col("doc_id")).over(byFp))
        val reasoned = scored.withColumn("outcome", expr(
          s"""case when doc_id != keep_id then 'dup_loser'
                  when n_tokens < $minTokens then 'too_short'
                  when stop_ratio < $minStopRatio then 'low_quality'
                  else 'kept' end"""))
        reasoned
          .groupBy(col("outcome"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("doc_id")).as("sample_doc"))
      },
      Some(s"""
        WITH feat AS (
          SELECT doc_id, ${Q.fingerprintDuck} AS fp,
                 CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(ws, x -> x = 'the' OR x = 'a')) AS DOUBLE)
                   / nullif(len(ws), 0) AS stop_ratio
          FROM (SELECT doc_id, text, $WDuck AS ws FROM documents) t0),
        resolved AS (
          SELECT doc_id, n_tokens, stop_ratio,
                 MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
          FROM feat)
        SELECT CASE WHEN doc_id <> keep_id THEN 'dup_loser'
                    WHEN n_tokens < 30 THEN 'too_short'
                    WHEN stop_ratio < 0.02 THEN 'low_quality'
                    ELSE 'kept' END AS outcome,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS sample_doc
        FROM resolved
        GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q53: sequence-length bucketing for batch packing — documents
    // binned by BPE-ish token count into power-of-two context buckets;
    // per bucket: doc count, token total, and the padding waste if each
    // doc were padded to the bucket top. The waste column is what a
    // packing scheduler minimizes; computing it per bucket is one pure
    // map + one 4-row aggregation.
    QDef(
      "q53_length_buckets",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("n_tok", expr(TextQueries.bpeCountExpr))
          .withColumn("bucket_top", expr(
            """cast(case when n_tok <= 16 then 16
                         when n_tok <= 32 then 32
                         when n_tok <= 64 then 64
                         when n_tok <= 128 then 128
                         else 256 end as bigint)"""))
          .groupBy(col("bucket_top"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            // overflow docs (n_tok > 256) get truncated, not padded —
            // clamp so they can't contribute NEGATIVE waste
            sum(greatest(col("bucket_top") - col("n_tok"), lit(0L)))
              .as("pad_waste"))
      },
      Some(s"""
        SELECT bucket_top, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(GREATEST(bucket_top - n_tok, 0)) AS BIGINT)
                 AS pad_waste
        FROM (
          SELECT n_tok,
                 CAST(CASE WHEN n_tok <= 16 THEN 16
                           WHEN n_tok <= 32 THEN 32
                           WHEN n_tok <= 64 THEN 64
                           WHEN n_tok <= 128 THEN 128
                           ELSE 256 END AS BIGINT) AS bucket_top
          FROM (SELECT ${TextQueries.bpeCountExprDuck} AS n_tok
                FROM documents) t0) t1
        GROUP BY bucket_top
      """)),

    // ------------------------------------------------------------------
    // q55: deterministic source-quota mixing — the Pile/Dolma-style
    // "mix sources at target weights" stage. Each source gets a weight
    // from its mixing config (here derived from the source id; in
    // production a broadcast config table) and keeps its
    // ceil(weight * n_source) lowest documents by md5 rank — a
    // reproducible sample: no seed, no RNG, identical on any engine and
    // at any parallelism. Weights are binary-exact fractions
    // (0.25/0.5/0.75) so weight * n is exact in both DOUBLE and DECIMAL
    // arithmetic and the quota can never disagree across engines.
    //
    // Scale: one window per source (Spark's external, spilling sort).
    // If the exact per-source rank ever became the bottleneck, the
    // sort-free variant keeps docs with md5 below a weight-scaled
    // cutoff — constant-time per row, quota exact only in expectation.
    QDef(
      "q55_source_quota_mix",
      (s, dir) => {
        val bySrc = Window.partitionBy(col("source"))
        Tables(s, dir).documents
          .withColumn("h",
            md5(concat(lit("mix|"), col("doc_id").cast("string"))
              .cast("binary")))
          .withColumn("rk", row_number()
            .over(bySrc.orderBy(col("h").asc, col("doc_id").asc))
            .cast("bigint"))
          .withColumn("quota", expr(
            """cast(ceil((case cast(substring(source, 4) as int) % 3
                            when 0 then 0.25d when 1 then 0.5d
                            else 0.75d end)
                         * (count(1) over (partition by source))) as bigint)"""))
          .where(col("rk") <= col("quota"))
          .select(col("source"), col("doc_id"), col("rk"), col("quota"))
      },
      Some("""
        SELECT source, doc_id, rk, quota
        FROM (
          SELECT source, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)) ASC,
                                 doc_id ASC) AS BIGINT) AS rk,
                 CAST(CEIL((CASE CAST(substring(source, 4) AS INT) % 3
                              WHEN 0 THEN 0.25 WHEN 1 THEN 0.5
                              ELSE 0.75 END)
                           * COUNT(*) OVER (PARTITION BY source)) AS BIGINT)
                   AS quota
          FROM documents) t
        WHERE rk <= quota
      """)),

    // ------------------------------------------------------------------
    // q56: held-out decontamination — the GPT-3/PaLM-style audit that a
    // held-out document shares no 13-gram with any training document.
    // Emits every held-out doc with its distinct-13-gram total, how many
    // of those grams appear anywhere in train, how many train docs
    // contribute, and the contamination ratio.
    //
    // Scale: the contamination join is keyed by the 13-gram itself — the
    // natural shard key (this is exactly a distributed inverted-index
    // probe). Shingle generation is the zero-shuffle Shingles generator;
    // hot grams (boilerplate) are AQE-skew-split territory, and the
    // per-doc aggregation shrinks map-side before its shuffle.
    QDef(
      "q56_decontamination",
      (s, dir) => {
        val sh = Tables(s, dir).documents
          .withColumn("split", expr(splitExprSpark))
          .select(col("doc_id"), col("split"),
            graft.functions.Shingles.shingles(col("text"), 13).as("g"))
        val held = sh.where(col("split") === "held_out")
        val train = sh.where(col("split") === "train")
        val hits = held.alias("h")
          .join(train.alias("t"), col("h.g") === col("t.g"))
          .groupBy(col("h.doc_id").as("doc_id"))
          .agg(countDistinct(col("h.g")).as("hit_grams"),
            countDistinct(col("t.doc_id")).as("hit_train_docs"))
        val totals = held.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("tot")) // generator rows are distinct
        Tables(s, dir).documents
          .withColumn("split", expr(splitExprSpark))
          .where(col("split") === "held_out")
          .select(col("doc_id"))
          .join(totals, Seq("doc_id"), "left")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("tot"), lit(0L)).as("n_shingles"),
            coalesce(col("hit_grams"), lit(0L)).as("n_contaminated"),
            coalesce(col("hit_train_docs"), lit(0L)).as("n_train_docs"),
            expr("""case when coalesce(tot, 0L) = 0 then 0.0d
                    else cast(coalesce(hit_grams, 0L) as double) / tot
                    end""").as("contam_ratio"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $splitExprDuck AS split, $WDuck AS ws
                   FROM documents),
        sh AS (SELECT doc_id, split, unnest(${TextQueries.ngramsDuck(13)}) AS g
               FROM w),
        hits AS (SELECT h.doc_id,
                        CAST(COUNT(DISTINCT h.g) AS BIGINT) AS hit_grams,
                        CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
                          AS hit_train_docs
                 FROM sh h JOIN sh t ON h.g = t.g
                 WHERE h.split = 'held_out' AND t.split = 'train'
                 GROUP BY h.doc_id),
        totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tot
                   FROM sh WHERE split = 'held_out' GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(tot, 0) AS n_shingles,
               COALESCE(hit_grams, 0) AS n_contaminated,
               COALESCE(hit_train_docs, 0) AS n_train_docs,
               CASE WHEN COALESCE(tot, 0) = 0 THEN 0.0
                    ELSE CAST(COALESCE(hit_grams, 0) AS DOUBLE) / tot END
                 AS contam_ratio
        FROM (SELECT doc_id FROM w WHERE split = 'held_out') d
        LEFT JOIN totals USING (doc_id)
        LEFT JOIN hits USING (doc_id)
      """)),

    // ------------------------------------------------------------------
    // q60: the corpus build, end to end, as ONE DAG — what a nightly
    // pipeline run actually executes: per-doc features (pure map) →
    // exact-dedup survivor resolution (one window) → cleaning funnel →
    // deterministic train/held-out split → per-(split, lang) corpus
    // report. Composes q52's funnel, q22's survivor rule, and q51's
    // split; a single scan feeds everything, and the only shuffles are
    // the fingerprint window and the final low-cardinality aggregation.
    QDef(
      "q60_corpus_build",
      (s, dir) => {
        val byFp = Window.partitionBy(col("fp"))
        val kept = Tables(s, dir).documents
          .withColumn("fp", Q.fingerprint(col("text")))
          .withColumn("ws", expr(W))
          .withColumn("n_tokens", expr("cast(size(ws) as bigint)"))
          .withColumn("stop_ratio", expr(stopRatioExprSpark))
          .withColumn("keep_id", min(col("doc_id")).over(byFp))
          .where(col("doc_id") === col("keep_id") &&
            col("n_tokens") >= minTokens && col("stop_ratio") >= minStopRatio)
          .withColumn("split", expr(splitExprSpark))
        // distinct agg kept SEPARATE from the plain aggregates: mixing
        // them plans an Expand that duplicates every input row per
        // aggregate family (the q32 lesson); the rejoin is tiny.
        val plain = kept.groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("doc_id")).as("min_doc"))
        val srcs = kept.groupBy(col("split"), col("lang"))
          .agg(countDistinct(col("source")).as("n_sources"))
        plain.join(srcs, Seq("split", "lang"))
          .select(col("split"), col("lang"), col("n_docs"),
            col("n_tokens"), col("n_sources"), col("min_doc"))
      },
      Some(s"""
        WITH feat AS (
          SELECT doc_id, lang, source,
                 ${Q.fingerprintDuck} AS fp,
                 CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(ws, x -> x = 'the' OR x = 'a'))
                      AS DOUBLE) / nullif(len(ws), 0) AS stop_ratio
          FROM (SELECT doc_id, lang, source, text, $WDuck AS ws
                FROM documents) t0),
        kept AS (
          SELECT * FROM (
            SELECT doc_id, lang, source, n_tokens, stop_ratio,
                   MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
            FROM feat) t
          WHERE doc_id = keep_id AND n_tokens >= 30 AND stop_ratio >= 0.02)
        SELECT $splitExprDuck AS split, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MIN(doc_id) AS min_doc
        FROM kept
        GROUP BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q67: stratified sampling with per-stratum rates — downsample
    // over-represented languages (en keeps 1/2, es 1/4, the rest 1/8)
    // the same way q51 splits: a salted md5 of the doc id compared
    // against a fixed-width hex threshold, so membership is a pure map,
    // reproducible at any scale, and independent of the rest of the
    // corpus. Rates are binary fractions so the hex cutoffs ('8000',
    // '4000', '2000' of 0x10000) are EXACT — no float rounding can
    // disagree across engines.
    QDef(
      "q67_stratified_sample",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("h4", expr(
            """substring(md5(cast(concat('strat|', cast(doc_id as string))
                 as binary)), 1, 4)"""))
          .withColumn("rate", expr(
            """case lang when 'en' then 0.5d
                         when 'es' then 0.25d else 0.125d end"""))
          .where(col("h4") < expr(
            """case lang when 'en' then '8000'
                         when 'es' then '4000' else '2000' end"""))
          .select(col("doc_id"), col("lang"), col("source"),
            col("rate"), col("h4"))
      },
      Some("""
        SELECT doc_id, lang, source,
               CAST(CASE lang WHEN 'en' THEN 0.5
                         WHEN 'es' THEN 0.25 ELSE 0.125 END AS DOUBLE) AS rate,
               substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 4) AS h4
        FROM documents
        WHERE substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 4)
              < CASE lang WHEN 'en' THEN '8000'
                          WHEN 'es' THEN '4000' ELSE '2000' END
      """)),

    // ------------------------------------------------------------------
    // q68: sequence packing for pretraining — concatenate each source's
    // documents in doc_id order and cut the stream every 4096 BPE-ish
    // tokens (GPT-style concat-then-chunk packing). Each doc's shard id
    // and offset derive from the running token count BEFORE it, so the
    // whole layout is one window cumsum per source — the partition key
    // a 1000-executor writer would shard on — and every number is exact
    // integer arithmetic.
    QDef(
      "q68_pack_sequences",
      (s, dir) => {
        val bySrc = Window.partitionBy(col("source"))
          .orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            expr(TextQueries.bpeCountExpr).as("n_tokens"))
          .withColumn("start_tok",
            sum(col("n_tokens")).over(bySrc) - col("n_tokens"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            expr("cast(floor(start_tok / 4096.0d) as bigint)").as("shard_id"),
            (col("start_tok") % 4096L).as("shard_offset"))
      },
      Some(s"""
        SELECT doc_id, source, n_tokens,
               CAST(FLOOR(start_tok / 4096.0) AS BIGINT) AS shard_id,
               start_tok % 4096 AS shard_offset
        FROM (
          SELECT doc_id, source, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY source
                        ORDER BY doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) - n_tokens AS start_tok
          FROM (
            SELECT doc_id, source,
                   ${TextQueries.bpeCountExprDuck} AS n_tokens
            FROM documents) t0) t1
      """)),

    // ------------------------------------------------------------------
    // q69: FUZZY decontamination — q56 flags held-out docs sharing exact
    // 13-grams with train; this catches the near-duplicate leak those
    // misses: document-level Jaccard over 8-gram shingles between the
    // two splits, reported for pairs at >= 0.5. Same sparse
    // explode-join-count shape as q24 (zero-overlap pairs never
    // materialize; the shingle is the shuffle key), but ACROSS two
    // relations — the train×held case no within-corpus blocking key
    // covers. The single division is one exact double op, so 0.5
    // compares identically across engines.
    QDef(
      "q69_fuzzy_decontamination",
      (s, dir) => {
        // localCheckpoint: the shingle relation feeds both the held-out
        // and train sides of the join (same call as jaccardPairs)
        // set size from the generator (shinglesWithCount), not a
        // count() window — removes the Exchange+Sort of the full
        // 8-gram relation (guide §2.4; same as jaccardPairsOf)
        val sh8 = Tables(s, dir).documents
          .withColumn("split", expr(splitExprSpark))
          .select(col("doc_id"), col("split"),
            graft.functions.Shingles.shinglesWithCount(col("text"), 8)
              .as(Seq("g", "n")))
          .ckpt()
        val held = sh8.where(col("split") === "held_out").alias("h")
        val train = sh8.where(col("split") === "train").alias("t")
        held.join(train, col("h.g") === col("t.g"))
          .groupBy(col("h.doc_id").as("doc_held"),
            col("t.doc_id").as("doc_train"),
            col("h.n").as("n_h"), col("t.n").as("n_t"))
          .agg(count(lit(1)).as("n_common"))
          .withColumn("jaccard",
            expr("cast(n_common as double) / (n_h + n_t - n_common)"))
          .where(col("jaccard") >= 0.5)
          .select(col("doc_held"), col("doc_train"), col("n_common"),
            round(col("jaccard"), 6).as("jaccard_r"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $splitExprDuck AS split, $WDuck AS ws
                   FROM documents),
        sh AS (SELECT doc_id, split, g,
                      COUNT(*) OVER (PARTITION BY doc_id) AS n
               FROM (SELECT doc_id, split,
                            unnest(${TextQueries.ngramsDuck(8)}) AS g
                     FROM w) t0),
        pairs AS (
          SELECT h.doc_id AS doc_held, t.doc_id AS doc_train,
                 h.n AS n_h, t.n AS n_t,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh h JOIN sh t ON h.g = t.g
          WHERE h.split = 'held_out' AND t.split = 'train'
          GROUP BY 1, 2, 3, 4)
        SELECT doc_held, doc_train, n_common,
               ROUND(CAST(n_common AS DOUBLE) / (n_h + n_t - n_common), 6)
                 AS jaccard_r
        FROM pairs
        WHERE CAST(n_common AS DOUBLE) / (n_h + n_t - n_common) >= 0.5
      """)),

    // ------------------------------------------------------------------
    // q79: boilerplate-chunk removal WITH document reconstruction — the
    // CCNet "drop duplicated lines, keep the rest of the document" pass
    // (the corpus has no line breaks, so a line = a disjoint 10-token
    // chunk). Chunks are fingerprinted, a chunk appearing in more than 3
    // distinct docs is boilerplate, and each document is reassembled
    // from its surviving chunks in order. The chunk fingerprint is the
    // only shuffle key (df count + the join back), per-doc reassembly
    // partial-aggs collect_list keyed by doc_id, and document text
    // leaves the result as an md5 so the output stays narrow.
    QDef(
      "q79_chunk_dedup_rebuild",
      (s, dir) => {
        // localCheckpoint: chunks feeds the df count AND the join back
        val chunks = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("doc_id"),
            posexplode(expr(
              """case when size(ws) = 0 then array()
                 else transform(
                   sequence(0, cast((size(ws) + 9) div 10 as int) - 1),
                   i -> concat_ws(' ', slice(ws, i * 10 + 1, 10)))
                 end""")).as(Seq("i", "ctext")))
          .withColumn("fp", md5(col("ctext")))
          .ckpt()
        val df = chunks.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("n_docs"))
        val rebuilt = chunks.join(df, "fp")
          .where(col("n_docs") <= 3)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            md5(expr("""concat_ws(' ',
              transform(array_sort(collect_list(struct(i, ctext))),
                s -> s.ctext))""")).as("clean_fp"))
        Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("doc_id"),
            expr("cast((size(ws) + 9) div 10 as bigint)").as("n_chunks"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
            (col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
              .as("n_dropped"),
            coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $WDuck AS ws FROM documents),
        base AS (SELECT doc_id,
                        CAST((len(ws) + 9) // 10 AS BIGINT) AS n_chunks,
                        ws
                 FROM w),
        chunks AS (SELECT doc_id, i.i AS i,
                          array_to_string(ws[(i.i*10 + 1):(i.i*10 + 10)],
                            ' ') AS ctext
                   FROM base,
                        (SELECT unnest(range(0, 1000)) AS i) i
                   WHERE i.i < n_chunks),
        fps AS (SELECT doc_id, i, ctext, md5(ctext) AS fp FROM chunks),
        df AS (SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM fps GROUP BY fp),
        rebuilt AS (SELECT doc_id,
                           CAST(COUNT(*) AS BIGINT) AS n_kept,
                           md5(string_agg(ctext, ' ' ORDER BY i))
                             AS clean_fp
                    FROM fps JOIN df USING (fp)
                    WHERE n_docs <= 3
                    GROUP BY doc_id)
        SELECT b.doc_id, b.n_chunks,
               b.n_chunks - COALESCE(n_kept, 0) AS n_dropped,
               COALESCE(clean_fp, md5('')) AS clean_fp
        FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
      """)),

    // ------------------------------------------------------------------
    // q81: weighted sampling without replacement (Efraimidis-Spirakis)
    // — draw 50 documents with probability proportional to n_chars, but
    // DETERMINISTICALLY: the uniform draw is md5-derived (first 6 hex
    // chars + 0.5, over 2^24), the E-S key is ln(u)/w, and the sample
    // is the top 50 keys. One scan + TakeOrderedAndProject — no global
    // sort, no RNG, identical on any engine, any partitioning, any
    // rerun; the same seed-free reproducibility contract as q51/q55.
    // Keys are rounded at 9 before ranking (ln is correctly-rounded in
    // ANSI engines; the round keeps any ulp slack away from the
    // boundary) and the limit tiebreaks on doc_id.
    QDef(
      "q81_weighted_sample",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"), col("n_chars"),
            expr("""round(
                ln((cast(conv(substring(md5(cast(concat('wsample|',
                            cast(doc_id as string)) as binary)), 1, 6),
                          16, 10) as bigint)
                    + 0.5d) / 16777216.0d)
                / cast(n_chars as double), 9)""").as("key_r"))
          .orderBy(col("key_r").desc, col("doc_id").asc)
          .limit(50)
      },
      Some("""
        SELECT doc_id, n_chars,
               ROUND(LN((('0x' || substring(md5('wsample|'
                            || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                         + 0.5) / 16777216.0)
                     / CAST(n_chars AS DOUBLE), 9) AS key_r
        FROM documents
        ORDER BY key_r DESC, doc_id ASC
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q77: BLOOM-prefiltered decontamination — the q56 probe from the
    // training side, restructured the way a 100 TB corpus forces: build
    // a bloom filter over the held-out 13-grams (bloom_filter_agg, a
    // scalar subquery so it's computed once and broadcast into every
    // scan task), drop non-matching train grams AT THE SCAN with
    // might_contain, and only ship the surviving candidates into the
    // exact semi-join verify. False positives die in the verify step, so
    // the result is exact — the oracle is the plain join — while the
    // shuffle carries ~FPP·N rows instead of every gram in the corpus.
    // This is Spark's InjectRuntimeFilter pattern made explicit and
    // user-steerable (sized here for 64k grams / 1 Mbit ≈ 128 KB).
    // Output: per train doc, how many distinct held-out grams it leaks.
    QDef(
      "q77_bloom_decontamination",
      (s, dir) => {
        // localCheckpoint: the shingle relation feeds the bloom build,
        // the candidate scan, and the verify join
        val sh = Tables(s, dir).documents
          .withColumn("split", expr(splitExprSpark))
          .select(col("doc_id"), col("split"),
            graft.functions.Shingles.shingles(col("text"), 13).as("g"))
          .ckpt()
        sh.createOrReplaceTempView("q77_sh")
        s.sql("""
          WITH held AS (SELECT DISTINCT g FROM q77_sh
                        WHERE split = 'held_out'),
          cand AS (SELECT doc_id, g FROM q77_sh
                   WHERE split = 'train'
                     AND might_contain(
                           (SELECT bloom_filter_agg(xxhash64(g),
                                     CAST(65536 AS BIGINT),
                                     CAST(1048576 AS BIGINT))
                            FROM held),
                           xxhash64(g)))
          SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_leaked
          FROM cand
          WHERE EXISTS (SELECT 1 FROM held h WHERE h.g = cand.g)
          GROUP BY doc_id
        """)
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $splitExprDuck AS split, $WDuck AS ws
                   FROM documents),
        sh AS (SELECT doc_id, split, unnest(${TextQueries.ngramsDuck(13)}) AS g
               FROM w),
        held AS (SELECT DISTINCT g FROM sh WHERE split = 'held_out')
        SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_leaked
        FROM sh
        WHERE split = 'train' AND g IN (SELECT g FROM held)
        GROUP BY doc_id
      """)),

    // ------------------------------------------------------------------
    // q85: deterministic epoch shuffle — the training-order generator.
    // Each epoch re-orders the whole corpus by an epoch-salted md5, and
    // every document lands in a hash shard (first hex nibble → 16 here)
    // with a dense position inside its shard. Readers stream shards in
    // nibble order, positions in rank order, and two runs of any engine
    // produce byte-identical epochs — the reproducibility contract a
    // resumable training job needs (no RNG state to checkpoint).
    //
    // Scale: the per-shard row_number is a window keyed by (epoch,
    // shard) — at 100 TB you widen the shard key to 4 hex chars (65,536
    // partitions) and the same plan holds: hash exchange + in-partition
    // sort, no global total-order bottleneck (contrast a single
    // row_number over the corpus, which serializes on one partition).
    QDef(
      "q85_epoch_shuffle",
      (s, dir) => {
        val byRank = Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("h").asc, col("doc_id").asc)
        Tables(s, dir).documents
          .select(col("doc_id"),
            explode(expr("sequence(1, 2)")).as("epoch"))
          .withColumn("h", md5(concat(
            lit("epoch"), col("epoch").cast("string"), lit("|"),
            col("doc_id").cast("string")).cast("binary")))
          .withColumn("shard", substring(col("h"), 1, 1))
          .select(col("doc_id"), col("epoch").cast("int").as("epoch"),
            col("shard"),
            row_number().over(byRank).cast("bigint").as("pos"))
      },
      Some("""
        WITH e AS (
          SELECT doc_id, CAST(epoch.epoch AS INTEGER) AS epoch,
                 md5('epoch' || CAST(epoch.epoch AS VARCHAR) || '|'
                     || CAST(doc_id AS VARCHAR)) AS h
          FROM documents, (SELECT unnest(range(1, 3)) AS epoch) epoch)
        SELECT doc_id, epoch, substring(h, 1, 1) AS shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY epoch, substring(h, 1, 1)
                      ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos
        FROM e
      """)),

    // ------------------------------------------------------------------
    // q93: context-window chunking — slide a 64-token window with
    // stride 48 (16-token overlap) over each document and emit one row
    // per chunk with its position and content fingerprint: the
    // RAG-index / training-example builder. Pure narrow map + one
    // Generate per document — ZERO shuffles at any scale; chunk count
    // is ceil((n-64)/48)+1 ≡ (n-1) div 48 + 1 in exact integer
    // arithmetic, identical in both engines, and the trailing chunk is
    // naturally short (slice clamps). The fingerprint is md5 of the
    // space-joined chunk, so downstream chunk-level dedup (q79's shape)
    // can run directly on this output.
    QDef(
      "q93_doc_chunks",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"), expr(W).as("ws"))
          .where(size(col("ws")) > 0)
          .select(col("doc_id"), size(col("ws")).as("doc_tokens"),
            explode(expr(
              """transform(sequence(0, (size(ws) - 1) div 48),
                   i -> struct(i as chunk_id,
                               slice(ws, i * 48 + 1, 64) as chunk))"""))
              .as("c"))
          .select(col("doc_id"),
            // div yields LONG, so the sequence elements (and the struct
            // field) are BIGINT — narrow to the INT the oracle emits
            col("c.chunk_id").cast("int").as("chunk_id"),
            size(col("c.chunk")).as("n_tokens"),
            md5(array_join(col("c.chunk"), " ").cast("binary"))
              .as("chunk_fp"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $WDuck AS ws FROM documents),
        c AS (SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_id,
                     ws[(u.i * 48 + 1):(u.i * 48 + 64)] AS chunk
              FROM w, LATERAL (SELECT unnest(
                       range(0, (len(ws) - 1) // 48 + 1)) AS i) u
              WHERE len(ws) > 0)
        SELECT doc_id, chunk_id,
               CAST(len(chunk) AS INTEGER) AS n_tokens,
               md5(list_aggregate(chunk, 'string_agg', ' ')) AS chunk_fp
        FROM c
      """)),

    // ------------------------------------------------------------------
    // q94: CDC latest-wins upsert — MERGE-compaction semantics without
    // a table format: a re-crawl batch (every 7th document, with
    // changed text) is unioned against the standing corpus and each
    // doc_id keeps its highest-version row. The window row_number over
    // (doc_id, version DESC) is exactly how Delta/Iceberg compaction
    // resolves multiple snapshots of a key; at 100 TB the exchange
    // hashes on doc_id (the natural partition key) and each group is
    // 2 rows, so there is no skew surface. Output: the merged corpus
    // state aggregated per (source, version) so the result stays
    // hash-checkable and version mix is visible.
    QDef(
      "q94_cdc_upsert",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val corpus = docs.select(col("doc_id"), col("source"), col("text"),
          lit(1).as("version"))
        // the re-crawl: every 7th doc arrives again with edited text
        val batch = docs.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), col("source"),
            concat(col("text"), lit(" [recrawled]")).as("text"),
            lit(2).as("version"))
        val byDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("version").desc)
        corpus.unionByName(batch)
          .withColumn("rn", row_number().over(byDoc))
          .where(col("rn") === 1)
          .groupBy(col("source"), col("version"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("bigint")).as("n_chars"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      },
      Some("""
        WITH merged AS (
          SELECT doc_id, source, text, version FROM (
            SELECT doc_id, source, text, version,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY version DESC) AS rn
            FROM (
              SELECT doc_id, source, text, 1 AS version FROM documents
              UNION ALL
              SELECT doc_id, source, text || ' [recrawled]', 2
              FROM documents WHERE doc_id % 7 = 0)) t
          WHERE rn = 1)
        SELECT source, version, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM merged
        GROUP BY source, version
      """)),

    // ------------------------------------------------------------------
    // q107: DSIR-style importance-weighted data selection (Xie et al.,
    // "Data Selection for Language Models via Importance Resampling"):
    // score every non-target document by the mean per-token
    // log-likelihood ratio between a target-domain unigram LM (src1)
    // and the whole-corpus LM, add-1 smoothed over the shared
    // vocabulary, and keep the top-50 most target-like. The two LMs
    // are word-keyed aggregates joined back onto the token stream by
    // word (the shard key); corpus totals ride in as a broadcast
    // 1-row aggregate. Both engines compute each token's ratio from
    // identical exact integers with identical IEEE ops; the per-doc
    // mean rounds at 6; top-50 under a total-order tiebreak.
    QDef(
      "q107_dsir",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val w = docs
          .select(col("doc_id"), col("source"), explode(expr(W)).as("word"))
          .ckpt()
        val corpus = w.groupBy(col("word")).agg(count(lit(1)).as("cc"))
        val tgt = w.where(col("source") === "src1")
          .groupBy(col("word")).agg(count(lit(1)).as("ct"))
        val tot = w.agg(count(lit(1)).as("nc"),
          sum(when(col("source") === "src1", 1).otherwise(0))
            .cast("bigint").as("nt"),
          countDistinct(col("word")).as("v"))
        val scored = w
          .join(corpus, "word")
          .join(tgt, Seq("word"), "left")
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(log(
              ((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
                (col("nt") + col("v"))) /
                ((col("cc") + lit(1.0)) / (col("nc") + col("v"))))) /
              count(lit(1)), 6).as("weight"))
        scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
          .where(col("source") =!= "src1")
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("weight"))
          .orderBy(col("weight").desc, col("doc_id").asc)
          .limit(50)
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, unnest($WDuck) AS word
                   FROM documents),
        corpus AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cc
                   FROM w GROUP BY 1),
        tgt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS ct
                FROM w WHERE source = 'src1' GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
                       CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                         AS BIGINT) AS nt,
                       CAST(COUNT(DISTINCT word) AS BIGINT) AS v
                FROM w),
        scored AS (
          SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 round(SUM(ln(((COALESCE(t.ct, 0) + 1.0) / (tot.nt + tot.v)) /
                              ((c.cc + 1.0) / (tot.nc + tot.v)))) /
                       COUNT(*), 6) AS weight
          FROM w JOIN corpus c ON c.word = w.word
                 LEFT JOIN tgt t ON t.word = w.word, tot
          GROUP BY w.doc_id)
        SELECT s.doc_id, d.source, s.n_tokens, s.weight
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        WHERE d.source <> 'src1'
        ORDER BY s.weight DESC, s.doc_id ASC LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q108: canary-scan decontamination audit — the direct-substring
    // complement to q56's n-gram probe: deterministic 40-char canaries
    // are cut from a sample of held-out documents (same q51 split
    // expression, same whitespace normalization as the dedup
    // fingerprint) and scanned for verbatim leakage into the train
    // split. The canary list is tiny BY CONSTRUCTION (a fixed sample of
    // one split), so it broadcasts and the containment test runs
    // scan-side over train — the one theta join in the suite whose
    // small side cannot grow with the corpus.
    QDef(
      "q108_canary_scan",
      (s, dir) => {
        val norm = regexp_replace(trim(lower(col("text"))), Q.wsRe + "+", " ")
        val split = Tables(s, dir).documents
          .select(col("doc_id"), norm.as("norm"),
            expr(splitExprSpark).as("split"))
        val canaries = split
          .where(col("split") === "held_out" && col("doc_id") % 5 === 0 &&
            length(col("norm")) >= 50)
          .select(col("doc_id").as("canary_doc"),
            substring(col("norm"), 11, 40).as("canary"))
        val hits = split.where(col("split") === "train")
          .select(col("doc_id").as("hit_doc"), col("norm"))
          .join(broadcast(canaries), instr(col("norm"), col("canary")) > 0)
          .select(col("canary_doc"), col("hit_doc"))
        canaries.join(hits, Seq("canary_doc"), "left")
          .groupBy(col("canary_doc"), col("canary"))
          .agg(count(col("hit_doc")).as("n_hits"),
            coalesce(min(col("hit_doc")), lit(-1L)).as("first_hit"))
          .select(col("canary_doc"),
            length(col("canary")).cast("bigint").as("canary_len"),
            col("n_hits"), col("first_hit"))
      },
      Some(s"""
        WITH split AS (
          SELECT doc_id,
                 regexp_replace(trim(lower(text)), '${Q.wsRe}+', ' ', 'g')
                   AS norm,
                 $splitExprDuck AS split
          FROM documents),
        canaries AS (
          SELECT doc_id AS canary_doc, substring(norm, 11, 40) AS canary
          FROM split
          WHERE split = 'held_out' AND doc_id % 5 = 0
            AND length(norm) >= 50),
        hits AS (
          SELECT c.canary_doc, t.doc_id AS hit_doc
          FROM canaries c JOIN split t
            ON t.split = 'train' AND position(c.canary IN t.norm) > 0)
        SELECT c.canary_doc, CAST(length(c.canary) AS BIGINT) AS canary_len,
               CAST(COUNT(h.hit_doc) AS BIGINT) AS n_hits,
               COALESCE(MIN(h.hit_doc), -1) AS first_hit
        FROM canaries c LEFT JOIN hits h ON h.canary_doc = c.canary_doc
        GROUP BY c.canary_doc, c.canary
      """)),

    // ------------------------------------------------------------------
    // q112: per-source KL divergence from the corpus word distribution —
    // the drift monitor for a multi-source ingest (which feed's language
    // model diverged this week?). Proper KL needs mass on the FULL
    // shared vocabulary (absent words carry add-1 mass), so the grid is
    // sources x vocab: the tiny per-source totals broadcast into a
    // cross join against the vocab aggregate — bounded by |vocab|, not
    // corpus size — then source counts left-join in by (source, word).
    // Identical exact-integer inputs feed identical IEEE ops in both
    // engines; the per-source sum rounds at 6.
    QDef(
      "q112_kl_drift",
      (s, dir) => {
        val w = Tables(s, dir).documents
          .select(col("source"), explode(expr(W)).as("word"))
          .ckpt() // feeds corpus counts, totals, and source counts
        val corpus = w.groupBy(col("word")).agg(count(lit(1)).as("cc"))
        val tot = w.agg(count(lit(1)).as("nc"),
          countDistinct(col("word")).as("v"))
        val src = w.groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("cs"))
        val stot = src.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
        corpus.crossJoin(broadcast(stot))
          .join(src, Seq("source", "word"), "left")
          .na.fill(0L, Seq("cs"))
          .crossJoin(broadcast(tot))
          .groupBy(col("source"))
          .agg(max(col("ns")).as("n_tokens"),
            // 1.0D, not 1.0: a bare decimal literal drags the whole
            // term into DECIMAL arithmetic with engine-specific scales
            // (the q23 bug class); explicit doubles keep both engines
            // on identical IEEE ops
            round(sum(
              expr("""((cast(cs as double) + 1.0D) / (ns + v)) *
                      ln(((cast(cs as double) + 1.0D) / (ns + v)) /
                         ((cast(cc as double) + 1.0D) / (nc + v)))""")), 6)
              .as("kl_divergence"))
      },
      Some(s"""
        WITH w AS (SELECT source, unnest($WDuck) AS word FROM documents),
        corpus AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cc
                   FROM w GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
                       CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM w),
        src AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cs
                FROM w GROUP BY 1, 2),
        stot AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns
                 FROM src GROUP BY 1),
        grid AS (SELECT st.source, c.word, c.cc, st.ns,
                        COALESCE(s.cs, 0) AS cs
                 FROM stot st CROSS JOIN corpus c
                 LEFT JOIN src s ON s.source = st.source
                                AND s.word = c.word)
        SELECT g.source, MAX(g.ns) AS n_tokens,
               round(SUM(((CAST(g.cs AS DOUBLE) + 1.0) / (g.ns + t.v)) *
                         ln(((CAST(g.cs AS DOUBLE) + 1.0) / (g.ns + t.v)) /
                            ((CAST(g.cc AS DOUBLE) + 1.0) / (t.nc + t.v)))),
                     6) AS kl_divergence
        FROM grid g, tot t
        GROUP BY g.source
      """)),

    // ------------------------------------------------------------------
    // q113: exact-k stratified sample — exactly 5 documents per
    // language, chosen by salted-md5 rank (q67 samples by RATE; audits
    // and eval sets need fixed counts). Seed-free and reproducible like
    // every sampler in the suite; the window is partitioned by stratum
    // so no global ordering exists, and row_number streams.
    QDef(
      "q113_stratified_k",
      (s, dir) => {
        val byLang = Window.partitionBy(col("lang")).orderBy(
          md5(concat(lit("strat|"), col("doc_id").cast("string"))
            .cast("binary")),
          col("doc_id"))
        Tables(s, dir).documents
          .withColumn("rank", row_number().over(byLang).cast("bigint"))
          .where(col("rank") <= 5)
          .select(col("doc_id"), col("lang"), col("rank"))
      },
      Some("""
        SELECT doc_id, lang, CAST(rk AS BIGINT) AS rank FROM (
          SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents) t
        WHERE rk <= 5
      """)),

    // ------------------------------------------------------------------
    // q135: k-fold cross-validation audit — hash-assign every document
    // to one of 5 folds (salted md5, the q51/q81 idiom: no stored
    // assignment table, any engine derives identical folds) and audit
    // stratification: per (fold, lang) doc/char counts, the fold's
    // share of its language, and a balance flag (within ±0.08 of the
    // ideal 1/5). Disjointness is by construction (a doc hashes to ONE
    // fold); the share check is what catches a skewed hash or a
    // filtered corpus. One partial-aggregable pass + a broadcast
    // per-lang totals join — the 10^10-doc shape. The flag compares
    // the same IEEE expression in both engines (exact-int ratio vs
    // literal), share is emitted at round-6.
    QDef(
      "q135_fold_audit",
      (s, dir) => {
        val folds = Tables(s, dir).documents
          .withColumn("fold", expr(
            """cast(conv(substring(md5(cast(concat('fold|',
                 cast(doc_id as string)) as binary)), 1, 4), 16, 10)
               as int) % 5"""))
          .groupBy(col("fold"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
        val langTot = folds.groupBy(col("lang"))
          .agg(sum(col("n_docs")).as("lang_n"))
        folds.join(broadcast(langTot), "lang")
          .select(col("fold"), col("lang"), col("n_docs"), col("n_chars"),
            round(col("n_docs").cast("double") / col("lang_n"), 6)
              .as("share"),
            when(abs(col("n_docs").cast("double") / col("lang_n") -
              lit(0.2d)) < lit(0.08d), 1).otherwise(0).as("balanced"))
      },
      Some("""
        WITH f AS (SELECT (('0x' || substring(md5('fold|'
                     || CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER) % 5
                     AS fold, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars
                   FROM documents GROUP BY 1, 2),
        lt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_n
               FROM f GROUP BY 1)
        SELECT fold, f.lang, n_docs, n_chars,
               ROUND(CAST(n_docs AS DOUBLE) / lang_n, 6) AS share,
               CASE WHEN ABS(CAST(n_docs AS DOUBLE) / lang_n - 0.2) < 0.08
                    THEN 1 ELSE 0 END AS balanced
        FROM f JOIN lt ON lt.lang = f.lang
      """)),

    // ------------------------------------------------------------------
    // q144: overlapping sliding-window chunking (window 48, stride 32,
    // 16-token overlap) — the RAG/embedding chunker, as opposed to
    // q93's disjoint chunks. Chunk starts and slices are built ARRAY-
    // LOCALLY in one projection (transform over the start grid +
    // slice), exploded, fingerprinted, and folded back to a per-doc
    // audit: chunk count, distinct fingerprints (catches pathological
    // repetition where overlapping windows collapse), and total
    // chunked tokens (48/32 oversampling makes it ≈ 1.5× the doc
    // length — the audit makes that amplification visible). One
    // explode + one doc-keyed aggregation; no token ever crosses the
    // wire un-chunked.
    QDef(
      "q144_overlap_chunks",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"), expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
          .where(expr("size(ws) >= 1"))
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, cast((size(ws) - 1) div 32 as int)),
                 i -> slice(ws, i * 32 + 1, 48))""")).as("c"))
          .select(col("doc_id"), md5(concat_ws(" ", col("c")).cast("binary"))
            .as("fp"), size(col("c")).as("ctoks"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("fp")).as("n_distinct_fp"),
            sum(col("ctoks").cast("bigint")).as("chunk_tokens"))
      },
      Some("""
        WITH t AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                       '[^a-z]+'), x -> x <> '') AS ws
                   FROM documents),
        ch AS (SELECT doc_id,
                 unnest(list_transform(range((len(ws) - 1) // 32 + 1),
                   i -> ws[i * 32 + 1 : i * 32 + 48])) AS c
               FROM t WHERE len(ws) >= 1),
        f AS (SELECT doc_id, md5(array_to_string(c, ' ')) AS fp,
                     len(c) AS ctoks
              FROM ch)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
               CAST(SUM(ctoks) AS BIGINT) AS chunk_tokens
        FROM f GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q155: right-to-be-forgotten erasure audit — apply a deterministic
    // deletion list (user_id % 37 = 0, the stand-in for a DSAR batch)
    // to the event stream as a hash anti-join (the shape that scales:
    // the deletion list shards with the stream key; at 10^12 rows the
    // list side is a bloom-filter broadcast and the anti-join stays
    // one pass) and emit the compliance scorecard: before/after
    // volumes plus an IN-QUERY residue check — rows surviving the
    // erasure that still hit the deletion predicate (must be 0; a
    // broken anti-join flips ok_no_residue and fails the hash gate).
    QDef(
      "q155_erasure_audit",
      (s, dir) => {
        val ev = Tables(s, dir).events.select(col("user_id"))
        val kept = ev.where(col("user_id") % 37 =!= 0)
        val before = ev.agg(count(lit(1)).as("n_events_before"),
          countDistinct(col("user_id")).as("n_users_before"))
        val after = kept.agg(count(lit(1)).as("n_events_after"),
          countDistinct(col("user_id")).as("n_users_after"),
          sum(when(col("user_id") % 37 === 0, 1L).otherwise(0L))
            .as("residue"))
        before.crossJoin(broadcast(after))
          .select(col("n_events_before"), col("n_users_before"),
            col("n_events_after"), col("n_users_after"),
            when(col("residue") === 0, 1).otherwise(0)
              .as("ok_no_residue"))
      },
      Some("""
        WITH b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events_before,
                          CAST(COUNT(DISTINCT user_id) AS BIGINT)
                            AS n_users_before
                   FROM events),
        a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events_after,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT)
                       AS n_users_after,
                     CAST(SUM(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS residue
              FROM events WHERE user_id % 37 <> 0)
        SELECT n_events_before, n_users_before, n_events_after,
               n_users_after,
               CASE WHEN residue = 0 THEN 1 ELSE 0 END AS ok_no_residue
        FROM b, a
      """)),

    // ------------------------------------------------------------------
    // q156: largest-remainder quota apportionment — divide a fixed
    // 1000-doc sampling budget across sources EXACTLY proportionally
    // (Hamilton's method): integer floor shares, then the leftover
    // seats go to the largest remainders. Every quantity is integer
    // arithmetic — the remainder comparison is (B·n) mod N, never a
    // float fraction — so the allocation is bit-exact and
    // reproducible, which is what makes a sampling manifest auditable.
    // One partial-aggregable count + two windows over the |sources|
    // relation (tiny by construction); Σalloc = B is enforced by the
    // method itself.
    QDef(
      "q156_quota_apportion",
      (s, dir) => {
        val B = 1000L
        val counts = Tables(s, dir).documents
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(sum(col("n_docs")).as("nn"))
        val based = counts.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($B * n_docs) div nn"))
          .withColumn("rem", expr(s"($B * n_docs) % nn"))
        val deficit = based.agg((lit(B) - sum(col("base")))
          .as("deficit"))
        based.crossJoin(broadcast(deficit))
          .withColumn("rk", row_number().over(Q.bounded.orderBy(
            col("rem").desc, col("source").asc)))
          .select(col("source"), col("n_docs"), col("base"),
            when(col("rk") <= col("deficit"), 1L).otherwise(0L)
              .as("extra"))
          .withColumn("alloc", col("base") + col("extra"))
      },
      Some("""
        WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn FROM c),
        b AS (SELECT source, n_docs,
                     (1000 * n_docs) // nn AS base,
                     (1000 * n_docs) % nn AS rem
              FROM c, t),
        d AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS deficit FROM b),
        r AS (SELECT source, n_docs, base, rem,
                     ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                       AS rk
              FROM b)
        SELECT source, n_docs, CAST(base AS BIGINT) AS base,
               CAST(CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
                 AS extra,
               CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc
        FROM r, d
      """)),

    // ------------------------------------------------------------------
    // q158: corpus concentration curve (Lorenz points) — how much of
    // the corpus the top-k sources account for, the diversity report a
    // dataset card publishes. The heavy pass is the per-source count;
    // the ranked cumulative-share window runs on the |sources|
    // relation only. Shares divide exact integers by the grand total,
    // round 6; the top-80% membership flag compares the same IEEE
    // ratio in both engines.
    QDef(
      "q158_source_concentration",
      (s, dir) => {
        val counts = Tables(s, dir).documents
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(sum(col("n_docs")).as("nn"))
        val cum = Q.bounded.orderBy(col("n_docs").desc, col("source").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(Q.bounded.orderBy(
            col("n_docs").desc, col("source").asc)))
          .withColumn("cum_docs", sum(col("n_docs")).over(cum))
          .select(col("rk"), col("source"), col("n_docs"),
            round(col("cum_docs").cast("double") / col("nn"), 6)
              .as("cum_share"),
            when(col("cum_docs").cast("double") / col("nn") <= 0.8d, 1)
              .otherwise(0).as("in_top80"))
      },
      Some("""
        WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn FROM c),
        r AS (SELECT source, n_docs,
                     ROW_NUMBER() OVER (ORDER BY n_docs DESC, source ASC)
                       AS rk,
                     SUM(n_docs) OVER (ORDER BY n_docs DESC, source ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_docs
              FROM c)
        SELECT CAST(rk AS INTEGER) AS rk, source, n_docs,
               ROUND(CAST(cum_docs AS DOUBLE) / nn, 6) AS cum_share,
               CASE WHEN CAST(cum_docs AS DOUBLE) / nn <= 0.8 THEN 1
                    ELSE 0 END AS in_top80
        FROM r, t
      """)),

    // ------------------------------------------------------------------
    // q169: quantile-shift (Q-Q) profile of document length per source
    // against a fixed reference source — the quantile-space companion to
    // q117's PSI and q112's KL: histogram methods miss a pure location
    // shift inside one wide bin; the decile table localizes WHERE in the
    // distribution two sources diverge. Per-source deciles come from
    // Q.exactPercentiles (external window sort partitioned BY SOURCE —
    // bounded per task at any corpus size, never a global order), the
    // 9-decile wide row unpivots through a zero-shuffle stack Generate,
    // and the reference deciles (9 rows) broadcast into the compare.
    QDef(
      "q169_quantile_shift",
      (s, dir) => {
        val ps = (1 to 9).map(i => (i / 10.0, s"d$i"))
        val wide = Q.exactPercentiles(
          Tables(s, dir).documents.select(col("source"), col("n_chars")),
          "source", "n_chars", ps)
        // round-at-9 BEFORE any derived column: the two engines'
        // interpolation formulas (a·lo + b·hi vs lo + b·(hi−lo)) differ
        // by 1 ulp off-grid, and a shift computed from rounded inputs
        // can never produce the −0.0-vs-0.0 hash split either.
        val long = wide.selectExpr("source",
          s"""stack(9, ${(1 to 9).map(i => s"${i * 10}, round(d$i, 9)")
            .mkString(", ")}) as (p, v)""")
        val ref = long.where(col("source") === "src0")
          .select(col("p"), col("v").as("ref_v"))
        long.join(broadcast(ref), "p")
          .select(col("source"), col("p"), col("v"), col("ref_v"),
            round(col("v") - col("ref_v"), 9).as("shift"),
            round(col("v") / nullif(col("ref_v"), lit(0.0d)), 9)
              .as("ratio"))
      },
      Some(s"""
        WITH s AS (SELECT source,
                     ${(1 to 9).map(i =>
                       s"quantile_cont(n_chars, 0.${i}) AS d$i")
                       .mkString(", ")}
                   FROM documents GROUP BY 1),
        long AS (${(1 to 9).map(i =>
                   s"SELECT source, ${i * 10} AS p, ROUND(d$i, 9) AS v FROM s")
                   .mkString(" UNION ALL ")}),
        ref AS (SELECT p, v AS ref_v FROM long WHERE source = 'src0')
        SELECT source, p, v, ref_v,
               ROUND(v - ref_v, 9) AS shift,
               ROUND(v / nullif(ref_v, 0.0), 9) AS ratio
        FROM long JOIN ref USING (p)
      """)),

    // ------------------------------------------------------------------
    // q178: T5-style span-corruption example generation — the denoising
    // objective's (input, target) pairs, built DETERMINISTICALLY (fixed
    // mask schedule: a 3-token span starting at every 20th position ≈
    // 15% noise, the schedule a seeded RNG would produce but replayable
    // on any engine/partitioning): input replaces each span with a
    // numbered sentinel, target is the sentinel-prefixed masked
    // tokens. Pure narrow map — one flatten(transform(sequence...))
    // per doc, no shuffle at all; outputs ship as md5 fingerprints so
    // the relation stays row-small at any corpus scale. The oracle
    // rebuilds both streams with the identical arithmetic.
    QDef(
      "q178_span_corruption",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("ws", expr(TextQueries.wordsExpr))
          .where(size(col("ws")) >= 1)
          .select(col("doc_id"),
            size(col("ws")).cast("bigint").as("n_tokens"),
            expr("""size(filter(sequence(0, size(ws) - 1),
                      i -> i % 20 = 5)) """).cast("bigint").as("n_spans"),
            expr("""size(filter(sequence(0, size(ws) - 1),
                      i -> i % 20 between 5 and 7))""").cast("bigint")
              .as("n_masked"),
            expr("""md5(cast(concat_ws(' ',
                flatten(transform(sequence(0, size(ws) - 1), i ->
                  case when i % 20 = 5
                         then array(concat('<extra_id_',
                                cast(i div 20 as string), '>'))
                       when i % 20 between 6 and 7 then array()
                       else array(element_at(ws, i + 1)) end)))
              as binary))""").as("input_fp"),
            expr("""md5(cast(concat_ws(' ',
                flatten(transform(sequence(0, size(ws) - 1), i ->
                  case when i % 20 = 5
                         then array(concat('<extra_id_',
                                cast(i div 20 as string), '>'),
                              element_at(ws, i + 1))
                       when i % 20 between 6 and 7
                         then array(element_at(ws, i + 1))
                       else array() end)))
              as binary))""").as("target_fp"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, ${TextQueries.wordsExprDuck} AS ws
                   FROM documents),
        f AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) >= 1)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(len(list_filter(range(0, n), i -> i % 20 = 5))
                 AS BIGINT) AS n_spans,
               CAST(len(list_filter(range(0, n),
                 i -> i % 20 BETWEEN 5 AND 7)) AS BIGINT) AS n_masked,
               md5(array_to_string(flatten(list_transform(range(0, n),
                 i -> CASE WHEN i % 20 = 5
                        THEN ['<extra_id_' || CAST(i // 20 AS VARCHAR)
                              || '>']
                      WHEN i % 20 BETWEEN 6 AND 7 THEN []
                      ELSE [ws[CAST(i AS INTEGER) + 1]] END)), ' '))
                 AS input_fp,
               md5(array_to_string(flatten(list_transform(range(0, n),
                 i -> CASE WHEN i % 20 = 5
                        THEN ['<extra_id_' || CAST(i // 20 AS VARCHAR)
                              || '>', ws[CAST(i AS INTEGER) + 1]]
                      WHEN i % 20 BETWEEN 6 AND 7
                        THEN [ws[CAST(i AS INTEGER) + 1]]
                      ELSE [] END)), ' ')) AS target_fp
        FROM f
      """)),

    // ------------------------------------------------------------------
    // q179: temperature-scaled source mixing (α = 0.7, the mT5/Pile
    // upsampling rule) — sampling probabilities p_i ∝ w_i^α over the
    // per-source token mass, with the boost factor each source gets vs
    // its natural share. One partial-agg pass builds the 20-row source
    // table; the α-power is round-9 (libm pow), the normalizer is a
    // broadcast one-row sum of those rounded terms, and the final
    // shares round at 6 — the q112/q117 float-parity recipe. At 100 TB
    // this is the same tiny-relation plan: the fact scan aggregates
    // once, everything downstream is broadcast arithmetic.
    QDef(
      "q179_temperature_mix",
      (s, dir) => {
        val src = Tables(s, dir).documents
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("w"))
          .withColumn("wa", round(expr("pow(cast(w as double), 0.7d)"), 9))
          .ckpt() // feeds the totals AND the per-source rows
        val tot = src.agg(sum(col("w")).as("tw"), sum(col("wa")).as("twa"))
        src.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("w"),
            round(col("wa") / col("twa"), 6).as("p_sample"),
            round(col("w").cast("double") / col("tw"), 6).as("p_natural"),
            round((col("wa") / col("twa"))
              / (col("w").cast("double") / col("tw")), 6).as("boost"))
      },
      Some("""
        WITH src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                            CAST(SUM(n_chars) AS BIGINT) AS w,
                            ROUND(POW(CAST(SUM(n_chars) AS DOUBLE), 0.7), 9)
                              AS wa
                     FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, SUM(wa) AS twa
                FROM src)
        SELECT source, n_docs, w,
               ROUND(wa / twa, 6) AS p_sample,
               ROUND(CAST(w AS DOUBLE) / tw, 6) AS p_natural,
               ROUND((wa / twa) / (CAST(w AS DOUBLE) / tw), 6) AS boost
        FROM src, tot
      """)),

    // ------------------------------------------------------------------
    // q182: Bloom-filter membership probe for cross-split
    // decontamination — the sketch-based complement to q56 (13-gram
    // inverted index) and q108 (canary scan): build a 512-bit / 4-hash
    // Bloom filter over the held-out fingerprints (the q51 split rule,
    // Q.fingerprint contract), probe every train document, and AUDIT
    // the sketch against exact membership — flagged = all 4 bits set,
    // exact = a real fingerprint match, false positives = the
    // difference; the per-source false-positive rate is the query's
    // deliverable (the number you'd use to size the filter before
    // shipping it). Every hash is md5-derived (the cross-engine rule),
    // so bit positions — and therefore the sketch itself — are
    // bit-identical in both engines; all outputs are exact integers or
    // one final rounded ratio. Scale shape: the bit set is ≤512 rows
    // regardless of corpus size and joins by bit position (an
    // equi-join); probes are 4 narrow rows per train doc; the exact
    // check is a fingerprint equi semi-join. Width is a demo constant —
    // production sizes bits ~ 1.44·|held_out|·k; the plan is unchanged.
    QDef(
      "q182_bloom_probe",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .withColumn("split", expr(splitExprSpark))
          .withColumn("fp", Q.fingerprint(col("text")))
          .ckpt() // feeds build, probe, and the exact audit
        val posExpr = "cast(conv(substring(md5(cast(concat('bf', " +
          "cast(i as string), '|', fp) as binary)), 1, 4), 16, 10) " +
          "as int) % 512"
        val bits = docs.where(col("split") === "held_out")
          .select(col("fp"), explode(expr("sequence(0, 3)")).as("i"))
          .select(expr(posExpr).as("pos")).distinct()
        val train = docs.where(col("split") === "train")
        val hits = train
          .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("i"),
            col("fp"))
          .select(col("doc_id"), expr(posExpr).as("pos"))
          .join(bits, "pos")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("nbits"))
        val exact = docs.where(col("split") === "held_out")
          .select(col("fp")).distinct().withColumn("is_exact", lit(1L))
        train
          .join(hits, Seq("doc_id"), "left")
          .join(exact, Seq("fp"), "left")
          .select(col("source"),
            when(coalesce(col("nbits"), lit(0L)) === 4L, 1L)
              .otherwise(0L).as("flagged"),
            coalesce(col("is_exact"), lit(0L)).as("exact"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_train"),
            sum(col("flagged")).cast("bigint").as("n_flagged"),
            sum(col("exact")).cast("bigint").as("n_exact"),
            sum(col("flagged") * (lit(1L) - col("exact")))
              .cast("bigint").as("n_false_pos"))
          .withColumn("fp_rate", round(col("n_false_pos").cast("double")
            / nullif(col("n_train") - col("n_exact"), lit(0L)), 6))
      },
      Some(s"""
        WITH docs AS (SELECT doc_id, source, $splitExprDuck AS split,
                             ${Q.fingerprintDuck} AS fp
                      FROM documents),
        bits AS (SELECT DISTINCT
                   ('0x' || substring(md5('bf' || CAST(i AS VARCHAR)
                     || '|' || fp), 1, 4))::INT % 512 AS pos
                 FROM docs, (SELECT unnest(range(4)) AS i) js
                 WHERE split = 'held_out'),
        train AS (SELECT * FROM docs WHERE split = 'train'),
        hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nbits
                 FROM (SELECT t.doc_id,
                         ('0x' || substring(md5('bf' || CAST(i AS VARCHAR)
                           || '|' || fp), 1, 4))::INT % 512 AS pos
                       FROM train t, (SELECT unnest(range(4)) AS i) js) p
                 JOIN bits USING (pos) GROUP BY 1),
        exact AS (SELECT DISTINCT fp, 1 AS is_exact FROM docs
                  WHERE split = 'held_out'),
        per AS (SELECT t.source,
                  CASE WHEN COALESCE(h.nbits, 0) = 4 THEN 1 ELSE 0 END
                    AS flagged,
                  COALESCE(e.is_exact, 0) AS exact
                FROM train t
                LEFT JOIN hits h ON h.doc_id = t.doc_id
                LEFT JOIN exact e ON e.fp = t.fp)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train,
               CAST(SUM(flagged) AS BIGINT) AS n_flagged,
               CAST(SUM(exact) AS BIGINT) AS n_exact,
               CAST(SUM(flagged * (1 - exact)) AS BIGINT) AS n_false_pos,
               ROUND(CAST(SUM(flagged * (1 - exact)) AS DOUBLE)
                 / NULLIF(COUNT(*) - SUM(exact), 0), 6) AS fp_rate
        FROM per GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q200: corpus health dashboard — the one-page per-source report a
    // curation team actually reviews between pipeline runs, built as a
    // SINGLE DAG over one documents scan: exact-dup exposure (q22's
    // fingerprint rule), funnel pass rate (q52's thresholds — the
    // SHARED minTokens/minStopRatio definitions, so tuning can't fork
    // the dashboard from the funnel), split shares (q51's hash rule),
    // and token mass. Every rate is docs-counted exact integers over
    // exact integers, rounded at 6 on output.
    //
    // Scale: one scan-side feature map + ONE fp-keyed dup aggregation
    // joined back on the fingerprint (both shuffles keyed, no window,
    // no self-join) + a |sources|-row rollup. The dashboard costs one
    // pass over the corpus regardless of its size.
    QDef(
      "q200_corpus_health",
      (s, dir) => {
        val feats = Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            Q.fingerprint(col("text")).as("fp"),
            expr(W).as("ws"))
          .select(col("doc_id"), col("source"), col("fp"),
            expr("cast(size(ws) as bigint)").as("n_tokens"),
            expr(stopRatioExprSpark).as("stop_ratio"),
            expr(splitExprSpark).as("split"))
          .ckpt() // feeds the dup agg AND the rollup
        val dups = feats.groupBy(col("fp"))
          .agg(count(lit(1)).as("fpc"))
        feats.join(dups, "fp")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(when(col("fpc") > 1, 1L).otherwise(0L)).as("dup_docs"),
            sum(when(col("n_tokens") >= minTokens &&
              col("stop_ratio") >= minStopRatio, 1L).otherwise(0L))
              .as("pass_docs"),
            sum(when(col("split") === "train", 1L).otherwise(0L))
              .as("train_docs"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("dup_docs"),
            round(col("dup_docs").cast("double") / col("n_docs"), 6)
              .as("dup_rate_r"),
            round(col("pass_docs").cast("double") / col("n_docs"), 6)
              .as("pass_rate_r"),
            round(col("train_docs").cast("double") / col("n_docs"), 6)
              .as("train_share_r"),
            round(col("n_tokens").cast("double") / col("n_docs"), 6)
              .as("mean_tokens_r"))
      },
      Some(s"""
        WITH f AS (SELECT doc_id, source, ${Q.fingerprintDuck} AS fp,
                          $WDuck AS ws
                   FROM documents),
        feats AS (SELECT doc_id, source, fp,
                         CAST(len(ws) AS BIGINT) AS n_tokens,
                         len(list_filter(ws, x -> x = 'the' OR x = 'a'))
                           / nullif(len(ws), 0) AS stop_ratio,
                         $splitExprDuck AS split
                  FROM f),
        dups AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS fpc
                 FROM feats GROUP BY 1)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_docs,
               ROUND(CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*), 6) AS dup_rate_r,
               ROUND(CAST(SUM(CASE WHEN n_tokens >= $minTokens
                          AND stop_ratio >= $minStopRatio
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                 AS pass_rate_r,
               ROUND(CAST(SUM(CASE WHEN split = 'train'
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                 AS train_share_r,
               ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6)
                 AS mean_tokens_r
        FROM feats JOIN dups USING (fp)
        GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q201: a TRAINED quality classifier — full-batch logistic
    // regression fit by exactly three gradient-descent supersteps,
    // entirely inside the engine. The existing quality scorers (q20,
    // q57) apply FIXED thresholds; real pipeline classifiers
    // (fastText-style quality filters) are fit to labels. Here the
    // label is the long-document class (n_chars ≥ 300) and the
    // features are deliberately LENGTH-INDEPENDENT lexical ratios
    // (stopword ratio, type-token ratio, chars-per-token): the model
    // must rediscover Herdan's law — type-token ratio falls as docs
    // grow — rather than read the answer off a length feature. Three
    // lr=5 supersteps take it from the ln 2 start to a ~0.91-accuracy
    // separator (TrainedOpsSpec pins strict descent; q210 reports the
    // accuracy), demonstrating the mechanism AND that it learns.
    //
    // Distributed-GD shape: the model (4 doubles) rides a one-row
    // broadcast crossJoin onto the feature relation; each superstep is
    // ONE narrow map + ONE all-reduce average (Spark's partial
    // aggregation = the map-side gradient combine), so data never
    // moves and the shuffle is 4 doubles per partition — the textbook
    // data-parallel training loop. localCheckpoint between supersteps
    // cuts lineage (the q101/q199 discipline).
    //
    // Determinism: z is rounded at 6 BEFORE exp (canonicalizing the
    // one input whose last-ulp could differ), the sigmoid at 9 and
    // clamped into [1e-9, 1-1e-9] (saturation at |z| ≳ 21.4 would
    // otherwise feed log(0): NULL-dropped rows in Spark, a hard
    // error in DuckDB), the
    // averaged gradients at 9 (summation-order slack ~1e-13), weights
    // at 7 after each update — so both engines walk the identical
    // quantized trajectory. Weights start at 0 ⇒ iter-1 loss is
    // exactly ln 2. Each row reports the loss AT ENTRY to the
    // superstep and the weights AFTER its update.
    QDef(
      "q201_logreg_quality",
      (s, dir) => {
        val (_, rounds) = logregSteps(s, dir)
        rounds.reduce(_ unionByName _)
          .select(col("iter"), col("loss_r"),
            col("b"), col("w1"), col("w2"), col("w3"))
          .orderBy(col("iter"))
      },
      Some(s"""
        WITH $logregChainDuck
        SELECT CAST(1 AS INTEGER) AS iter, loss_r, b, w1, w2, w3 FROM w1
        UNION ALL
        SELECT CAST(2 AS INTEGER), loss_r, b, w1, w2, w3 FROM w2
        UNION ALL
        SELECT CAST(3 AS INTEGER), loss_r, b, w1, w2, w3 FROM w3c
        ORDER BY iter
      """)),

    // ------------------------------------------------------------------
    // q207: differentially-private corpus statistics — per-source doc
    // counts released through the Laplace mechanism (ε = 1, count
    // sensitivity 1): released = n + round(Lap(1/ε)), with the Laplace
    // draw inverted from a SEED-FREE md5 uniform per source (the
    // q51/q81 reproducibility idiom: u = (md5_24bit('dp|'||source) +
    // 0.5) / 2^24, noise = −sign(u−½)·ln(1−2|u−½|)/ε). Publishing
    // corpus composition without exposing exact counts is a standard
    // requirement when training-data reports leave the trust boundary;
    // the true count and absolute error columns here are the AUDIT
    // view (they stay inside), not part of the release.
    //
    // Determinism: the uniform is exact rational arithmetic, ln is
    // correctly-rounded in both engines and the draw is rounded at 6
    // BEFORE the integer round, so any last-ulp slack sits 6 digits
    // away from the rounding boundary. Scale: one keyed count over the
    // corpus, then |sources| rows of scalar math.
    QDef(
      "q207_dp_counts",
      (s, dir) => {
        val noise =
          """round(
               -signum(u - 0.5d)
                * ln(1.0d - 2.0d * abs(u - 0.5d)), 6)"""
        Tables(s, dir).documents
          .groupBy(col("source")).agg(count(lit(1)).as("n_true"))
          .withColumn("u", expr(
            """(cast(conv(substring(md5(cast(concat('dp|', source)
                 as binary)), 1, 6), 16, 10) as bigint) + 0.5d)
               / 16777216.0d"""))
          .withColumn("noise_r", expr(noise))
          .select(col("source"), col("n_true"),
            (col("n_true") + round(col("noise_r")).cast("bigint"))
              .as("released"),
            abs(round(col("noise_r")).cast("bigint")).as("abs_err"))
          .orderBy(col("source"))
      },
      Some("""
        WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
                   FROM documents GROUP BY 1),
        u AS (SELECT source, n_true,
                     (('0x' || substring(md5('dp|' || source), 1, 6))::BIGINT
                      + 0.5) / 16777216.0 AS u
              FROM c),
        nz AS (SELECT source, n_true,
                      ROUND(-SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)),
                            6) AS noise_r
               FROM u)
        SELECT source, n_true,
               CAST(n_true + CAST(ROUND(noise_r) AS BIGINT) AS BIGINT)
                 AS released,
               ABS(CAST(ROUND(noise_r) AS BIGINT)) AS abs_err
        FROM nz ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // q208: Horvitz-Thompson estimation from a Poisson sample — the
    // audit that justifies running expensive per-doc analyses (quality
    // model scoring, dedup candidate stats) on a SAMPLE at 100 TB:
    // size-proportional inclusion π_i = min(1, n_chars/2000), include
    // doc i iff its seed-free md5 uniform u_i < π_i, and estimate
    // corpus totals as Σ_{i∈S} x_i/π_i. The estimator is unbiased by
    // construction; the output places the estimates next to the exact
    // totals (computable at this SF) with relative errors, so the
    // sampling budget's accuracy is measured, not assumed.
    //
    // Determinism: π is an exact double ratio, u exact rational; each
    // HT term rounds at 6 (big-doc terms are exact integers — π capped
    // at 1), the sums at 4. Scale: one corpus pass computing (π, u)
    // per doc — a narrow map + filter feeding two all-reduce sums; the
    // exact totals are one more partial-agg pass over the same scan.
    QDef(
      "q208_ht_estimate",
      (s, dir) => {
        val d = Tables(s, dir).documents
          .select(col("doc_id"), col("n_chars"),
            expr("least(1.0d, cast(n_chars as double) / 2000.0d)")
              .as("pi"),
            expr(
              """(cast(conv(substring(md5(cast(concat('ht|',
                   cast(doc_id as string)) as binary)), 1, 6), 16, 10)
                   as bigint) + 0.5d) / 16777216.0d""").as("u"))
          .ckpt() // feeds the sample AND the exact totals
        val est = d.where(col("u") < col("pi"))
          .agg(count(lit(1)).as("n_sampled"),
            round(sum(round(lit(1.0) / col("pi"), 6)), 4)
              .as("est_docs_r"),
            round(sum(round(col("n_chars") / col("pi"), 6)), 4)
              .as("est_chars_r"))
        val exact = d.agg(count(lit(1)).as("true_docs"),
          sum(col("n_chars")).as("true_chars"))
        est.crossJoin(broadcast(exact))
          .select(col("n_sampled"), col("est_docs_r"), col("true_docs"),
            col("est_chars_r"), col("true_chars"),
            round(abs(col("est_chars_r") / col("true_chars") - 1.0d), 6)
              .as("rel_err_chars_r"))
      },
      Some("""
        WITH d AS (SELECT doc_id, n_chars,
                          LEAST(1.0, CAST(n_chars AS DOUBLE) / 2000.0)
                            AS pi,
                          (('0x' || substring(md5('ht|'
                             || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                           + 0.5) / 16777216.0 AS u
                   FROM documents),
        est AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
                       ROUND(SUM(ROUND(1.0 / pi, 6)), 4) AS est_docs_r,
                       ROUND(SUM(ROUND(n_chars / pi, 6)), 4)
                         AS est_chars_r
                FROM d WHERE u < pi),
        ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_docs,
                      CAST(SUM(n_chars) AS BIGINT) AS true_chars
               FROM d)
        SELECT n_sampled, est_docs_r, true_docs, est_chars_r, true_chars,
               ROUND(ABS(est_chars_r / true_chars - 1.0), 6)
                 AS rel_err_chars_r
        FROM est, ex
      """)),

    // ------------------------------------------------------------------
    // q210: apply the q201-trained classifier — the other half of a
    // trained pipeline scorer: score every document with the FINAL
    // superstep's weights (shared logregSteps, so the model applied is
    // provably the model q201 reports) and roll the scores up per
    // language: count, mean score, and accuracy at the 0.5 threshold
    // against the long-doc label (y = n_chars ≥ 300; the lang rollup
    // checks the learned separator generalizes across every language
    // stratum). This is the train→apply composition a production quality
    // filter runs: fit once, then ONE narrow scoring pass with the
    // 4-double model on a broadcast one-row crossJoin — scoring cost
    // is a single corpus scan at any scale, and the per-lang rollup is
    // an enum-bounded keyed agg.
    //
    // Determinism: the scoring expression is q201's quantized one
    // (z@6 before exp, sigmoid@9 clamped into [1e-9, 1-1e-9] exactly
    // as in training); the 0.5 comparison reads a round-9
    // value whose distance from 0.5 is never sub-ulp (z = 0 exactly
    // would need all-zero weights, excluded after superstep 1); means
    // round at 6, accuracy is exact-integer count ratio rounded at 6.
    QDef(
      "q210_model_apply",
      (s, dir) => {
        val (feats, rounds) = logregSteps(s, dir)
        val w3 = rounds.last
          .select(col("b"), col("w1"), col("w2"), col("w3"))
        feats.crossJoin(broadcast(w3))
          .withColumn("z", round(col("b") + col("w1") * col("x1")
            + col("w2") * col("x2") + col("w3") * col("x3"), 6))
          .withColumn("p", greatest(lit(1e-9), least(lit(1.0 - 1e-9),
            round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9))))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("p")), 6).as("mean_score_r"),
            sum(when((col("p") >= 0.5) === (col("y") === 1.0), 1L)
              .otherwise(0L)).as("n_correct"))
          .select(col("lang"), col("n"), col("mean_score_r"),
            col("n_correct"),
            round(col("n_correct").cast("double") / col("n"), 6)
              .as("acc_r"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH $logregChainDuck,
        sc AS (SELECT f.lang, f.y,
                      GREATEST(1e-9, LEAST(1.0 - 1e-9,
                        ROUND(1.0/(1.0 + EXP(-ROUND(
                        w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3,
                        6))), 9))) AS p
               FROM f, w3c w)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(p), 6) AS mean_score_r,
               CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               ROUND(CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0)
                        THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                 AS acc_r
        FROM sc GROUP BY 1 ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q217: sequence-packing audit — the GPT-style concat-and-chunk
    // step that turns a token stream into fixed BLOCK-token training
    // blocks (block = packBlock = 256 — small enough that the
    // split/waste accounting is exercised even at the sf0.01 gate,
    // where 2048-token blocks would never fill). Packing is PER OUTPUT
    // SHARD by construction (each writer task concatenates its own
    // shard's docs in id order — the layout every large trainer uses,
    // and what makes the op shard-parallel instead of a global
    // sequential fold): shard = doc_id % packShards, docs concatenate
    // in doc_id order, and a doc whose [start, end) token interval
    // crosses a block boundary is SPLIT across two blocks — the
    // attention-contamination case packing audits exist to count. The
    // whole layout lives in ONE parameterized definition
    // (packingAudit), shared constants with the streaming twin. Per
    // shard: docs, tokens, blocks, boundary-split docs, and the tail
    // waste the final partial block pads out.
    //
    // Scale: one exchange on the shard key serves the running-total
    // window AND the rollup; windows are bounded by corpus/shards per
    // task and the shard count scales with the writer parallelism
    // (that is WHY it is a parameter — at 100 TB ingest, 8 writer
    // tasks would be the bottleneck by construction).
    // All arithmetic is integer — hash-exact cross-engine.
    QDef(
      "q217_sequence_packing",
      (s, dir) => packingAudit(Tables(s, dir).documents),
      Some(s"""
        WITH d AS (SELECT doc_id, doc_id % $packShards AS shard,
                          CAST(len($WDuck) AS BIGINT) AS n_tok
                   FROM documents),
        c AS (SELECT shard, doc_id, n_tok,
                     SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM d),
        f AS (SELECT shard, n_tok,
                     CASE WHEN n_tok > 0
                           AND (cum - 1) // $packBlock
                               > (cum - n_tok) // $packBlock
                          THEN 1 ELSE 0 END AS is_split, cum
              FROM c)
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST((SUM(n_tok) + ${packBlock - 1}) // $packBlock
                    AS BIGINT) AS n_blocks,
               CAST(SUM(is_split) AS BIGINT) AS n_split_docs,
               CAST((SUM(n_tok) + ${packBlock - 1}) // $packBlock
                    * $packBlock - SUM(n_tok)
                    AS BIGINT) AS tail_waste
        FROM f GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q220: temperature-reweighted mixture allocation — the sampling
    // schedule step that turns per-source token counts into training
    // shares (multilingual/multi-domain recipe: p_i ∝ n_i^α with
    // α < 1 upweights the tail so small sources aren't drowned).
    // α = 1/2 deliberately: sqrt is IEEE-correctly-rounded in both
    // engines (pow is not), so the share math stays cross-engine
    // deterministic — sqrt_r canonicalizes at 9, the ≤|sources| sum
    // carries only round-6-absorbed order slack (the accepted q203
    // class), and the 100k-token allocation rounds from the canonical
    // share.
    //
    // Scale: one scan-side agg to |sources| rows, then a one-row
    // totals crossJoin (the q37 pattern) — nothing data-sized moves.
    QDef(
      "q220_mixture_temperature",
      (s, dir) => {
        val src = Tables(s, dir).documents
          .groupBy(col("source"))
          .agg(expr(s"cast(sum(size($W)) as bigint)").as("n_tokens"))
          .withColumn("sqrt_r", round(sqrt(col("n_tokens").cast("double")), 9))
          .ckpt() // feeds the totals AND the share rows
        val tot = src.agg(sum(col("sqrt_r")).as("tot"))
        src.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"), col("sqrt_r"),
            round(col("sqrt_r") / col("tot"), 6).as("share_r"))
          .withColumn("alloc_100k",
            round(col("share_r") * 100000d, 0).cast("bigint"))
      },
      Some(s"""
        WITH src AS (SELECT source,
                            CAST(SUM(len($WDuck)) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY 1),
        sq AS (SELECT source, n_tokens,
                      ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 9) AS sqrt_r
               FROM src),
        tot AS (SELECT SUM(sqrt_r) AS tot FROM sq)
        SELECT source, n_tokens, sqrt_r,
               ROUND(sqrt_r / tot, 6) AS share_r,
               CAST(ROUND(ROUND(sqrt_r / tot, 6) * 100000, 0) AS BIGINT)
                 AS alloc_100k
        FROM sq, tot
      """)),

    // ------------------------------------------------------------------
    // q224: corpus-version diff — the release-engineering op between
    // two crawl snapshots: which documents were added, removed,
    // changed, or untouched, and what the token-mass delta is per
    // class (the changelog that gates "retrain or patch"). v2 is
    // simulated in-query as a pure function of v1 (the fixture recipe:
    // doc_id mod 10 = 9 re-keyed as new ids ⇒ one removed + one added
    // each, mod 10 = 3 text-revised ⇒ changed), so the oracle restates
    // it exactly. Change detection is Q.fingerprint equality — the
    // SAME content fingerprint the dedup/streaming layers key on, so
    // "changed" here is precisely "would re-ingest" there.
    //
    // Scale: one full-outer equi-join on doc_id (the natural shard
    // key, both sides pre-shrunk to id+fp+token count — payloads never
    // join) and a 4-group rollup.
    QDef(
      "q224_corpus_diff",
      (s, dir) => {
        val v1 = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        val v2 = v1.where(col("doc_id") % 10 =!= 9)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 3,
              concat(col("text"), lit(" updated revision text")))
              .otherwise(col("text")).as("text"))
          .unionByName(v1.where(col("doc_id") % 10 === 9)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        def keyed(v: org.apache.spark.sql.DataFrame, suf: String) =
          v.select(col("doc_id"),
            graft.queries.Q.fingerprint(col("text")).as(s"fp$suf"),
            expr(s"cast(size($W) as bigint)").as(s"n_tok$suf"))
        keyed(v1, "1").join(keyed(v2, "2"), Seq("doc_id"), "full_outer")
          .select(expr("""case when fp1 is null then 'added'
                               when fp2 is null then 'removed'
                               when fp1 <> fp2 then 'changed'
                               else 'unchanged' end""").as("status"),
            col("n_tok1"), col("n_tok2"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("n_tok2"), lit(0L))
              - coalesce(col("n_tok1"), lit(0L))).as("token_delta"))
      },
      Some(s"""
        WITH v1 AS (SELECT doc_id, text FROM documents),
        v2 AS (SELECT doc_id,
                      CASE WHEN doc_id % 10 = 3
                           THEN text || ' updated revision text'
                           ELSE text END AS text
               FROM v1 WHERE doc_id % 10 <> 9
               UNION ALL
               SELECT doc_id + 1000000, text FROM v1 WHERE doc_id % 10 = 9),
        a AS (SELECT doc_id, $fingerprintDuck AS fp1,
                     CAST(len($WDuck) AS BIGINT) AS n_tok1 FROM v1),
        b AS (SELECT doc_id, $fingerprintDuck AS fp2,
                     CAST(len($WDuck) AS BIGINT) AS n_tok2 FROM v2),
        j AS (SELECT CASE WHEN a.fp1 IS NULL THEN 'added'
                          WHEN b.fp2 IS NULL THEN 'removed'
                          WHEN a.fp1 <> b.fp2 THEN 'changed'
                          ELSE 'unchanged' END AS status,
                     a.n_tok1, b.n_tok2
              FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(COALESCE(n_tok2, 0) - COALESCE(n_tok1, 0))
                    AS BIGINT) AS token_delta
        FROM j GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q227: preference-pair construction — the DPO/RLHF data step that
    // turns a scored candidate pool into (chosen, rejected) training
    // pairs: within each group (source × lang here — the prompt proxy
    // this corpus offers), the best-scoring doc is `chosen`, the worst
    // is `rejected`, and the score margin is the pair weight the DPO
    // loss consumes. Score is EXACT integer arithmetic (stop-word
    // count ×100000 div token count — a crude quality prior, but the
    // OPERATOR is the point), ties break to the lowest doc_id on both
    // ends, and zero-margin groups (no real preference) are dropped —
    // the same admission rule a production pair builder applies.
    //
    // Scale: argmax/argmin via max/min(struct(...)) — fully partial-
    // aggregable (map-side combine), ONE exchange to |source×lang|
    // rows, NO window over group members: at 100 TB a per-prompt
    // candidate pool can be arbitrarily large and this plan never
    // materializes or sorts it. (The oracle uses rank windows — it
    // restates semantics, not the scale plan.)
    QDef(
      "q227_preference_pairs",
      (s, dir) => {
        val scored = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("source"), col("lang"), col("doc_id"),
            expr(prefScoreSpark).as("score"))
        scored.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("score"), (-col("doc_id")).as("nid"))).as("ch"),
            min(struct(col("score"), col("doc_id"))).as("rj"))
          .where(col("n_docs") >= 2L &&
            col("ch.score") - col("rj.score") > 0L)
          .select(col("source"), col("lang"), col("n_docs"),
            (-col("ch.nid")).as("chosen_id"),
            col("ch.score").as("chosen_score"),
            col("rj.doc_id").as("rejected_id"),
            col("rj.score").as("rejected_score"),
            (col("ch.score") - col("rj.score")).as("margin"))
      },
      Some(s"""
        WITH sc AS (
          SELECT source, lang, doc_id, $prefScoreDuck AS score
          FROM (SELECT source, lang, doc_id, $WDuck AS ws
                FROM documents)),
        r AS (SELECT source, lang, doc_id, score,
                     ROW_NUMBER() OVER (PARTITION BY source, lang
                       ORDER BY score DESC, doc_id ASC) AS rc,
                     ROW_NUMBER() OVER (PARTITION BY source, lang
                       ORDER BY score ASC, doc_id ASC) AS rr,
                     COUNT(*) OVER (PARTITION BY source, lang) AS nd
              FROM sc),
        ch AS (SELECT source, lang, nd, doc_id AS chosen_id,
                      score AS chosen_score FROM r WHERE rc = 1),
        rj AS (SELECT source, lang, doc_id AS rejected_id,
                      score AS rejected_score FROM r WHERE rr = 1)
        SELECT ch.source, ch.lang, CAST(ch.nd AS BIGINT) AS n_docs,
               chosen_id, chosen_score, rejected_id, rejected_score,
               chosen_score - rejected_score AS margin
        FROM ch JOIN rj ON rj.source = ch.source AND rj.lang = ch.lang
        WHERE ch.nd >= 2 AND chosen_score - rejected_score > 0
      """)),

    // ------------------------------------------------------------------
    // q229: weak-supervision diagnostics — the Snorkel-style labeling-
    // function health report a programmatic-labeling pipeline runs
    // before training a label model: three deterministic LFs vote
    // 1 / 0 / abstain(-1) per document, and the report gives each LF's
    // coverage (non-abstain votes), overlaps (votes where at least one
    // OTHER LF also voted), conflicts (votes where another LF voted
    // DIFFERENTLY — the signal that decides whether an LF is noise),
    // and positive rate. LFs here are integer-exact text heuristics
    // (length band, stop-word mass, digit presence); the OPERATOR —
    // per-LF agreement accounting without materializing a doc × LF
    // matrix join — is the point.
    //
    // Scale: one scan computes all three votes per doc (narrow map,
    // payloads stay put), ONE global partial-agg collapses to a single
    // wide row, and the per-LF rows come from a zero-shuffle stack()
    // rotation (the q84 pattern). Nothing data-sized shuffles; adding
    // an LF adds columns, never rows or joins.
    QDef(
      "q229_weak_label_report",
      (s, dir) => {
        val votes = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(
            expr(lfSpark(0)._2).as("l1"),
            expr(lfSpark(1)._2).as("l2"),
            expr(lfSpark(2)._2).as("l3"))
        def cov(a: String) = sum(when(col(a) =!= -1, 1L).otherwise(0L))
        def ovl(a: String, b: String, c: String) =
          sum(when(col(a) =!= -1 &&
            (col(b) =!= -1 || col(c) =!= -1), 1L).otherwise(0L))
        def cfl(a: String, b: String, c: String) =
          sum(when(col(a) =!= -1 &&
            ((col(b) =!= -1 && col(b) =!= col(a)) ||
             (col(c) =!= -1 && col(c) =!= col(a))), 1L).otherwise(0L))
        def pos(a: String) = sum(when(col(a) === 1, 1L).otherwise(0L))
        votes.agg(count(lit(1)).as("n_docs"),
            cov("l1").as("c1"), ovl("l1", "l2", "l3").as("o1"),
            cfl("l1", "l2", "l3").as("k1"), pos("l1").as("p1"),
            cov("l2").as("c2"), ovl("l2", "l1", "l3").as("o2"),
            cfl("l2", "l1", "l3").as("k2"), pos("l2").as("p2"),
            cov("l3").as("c3"), ovl("l3", "l1", "l2").as("o3"),
            cfl("l3", "l1", "l2").as("k3"), pos("l3").as("p3"))
          .selectExpr("n_docs", """stack(3,
              'lf_length', c1, o1, k1, p1,
              'lf_stopmass', c2, o2, k2, p2,
              'lf_digit', c3, o3, k3, p3)
            as (lf, coverage, overlaps, conflicts, n_pos)""")
          .select(col("lf"), col("n_docs"), col("coverage"),
            col("overlaps"), col("conflicts"), col("n_pos"),
            expr("""case when coverage = 0 then null
                    else round(cast(n_pos as double) / coverage, 6)
                    end""").as("pos_rate_r"))
      },
      Some(s"""
        WITH v AS (
          SELECT ${lfDuck(0)._2} AS l1,
                 ${lfDuck(1)._2} AS l2,
                 ${lfDuck(2)._2} AS l3
          FROM (SELECT text, $WDuck AS ws FROM documents)),
        w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN l1 <> -1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN l1 <> -1 AND (l2 <> -1 OR l3 <> -1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS o1,
               CAST(SUM(CASE WHEN l1 <> -1 AND
                        ((l2 <> -1 AND l2 <> l1) OR (l3 <> -1 AND l3 <> l1))
                        THEN 1 ELSE 0 END) AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN l1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
               CAST(SUM(CASE WHEN l2 <> -1 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN l2 <> -1 AND (l1 <> -1 OR l3 <> -1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS o2,
               CAST(SUM(CASE WHEN l2 <> -1 AND
                        ((l1 <> -1 AND l1 <> l2) OR (l3 <> -1 AND l3 <> l2))
                        THEN 1 ELSE 0 END) AS BIGINT) AS k2,
               CAST(SUM(CASE WHEN l2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
               CAST(SUM(CASE WHEN l3 <> -1 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
               CAST(SUM(CASE WHEN l3 <> -1 AND (l1 <> -1 OR l2 <> -1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS o3,
               CAST(SUM(CASE WHEN l3 <> -1 AND
                        ((l1 <> -1 AND l1 <> l3) OR (l2 <> -1 AND l2 <> l3))
                        THEN 1 ELSE 0 END) AS BIGINT) AS k3,
               CAST(SUM(CASE WHEN l3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p3
          FROM v)
        SELECT 'lf_length' AS lf, n_docs, c1 AS coverage, o1 AS overlaps,
               k1 AS conflicts, p1 AS n_pos,
               CASE WHEN c1 = 0 THEN NULL
                    ELSE ROUND(CAST(p1 AS DOUBLE) / c1, 6) END AS pos_rate_r
        FROM w
        UNION ALL
        SELECT 'lf_stopmass', n_docs, c2, o2, k2, p2,
               CASE WHEN c2 = 0 THEN NULL
                    ELSE ROUND(CAST(p2 AS DOUBLE) / c2, 6) END FROM w
        UNION ALL
        SELECT 'lf_digit', n_docs, c3, o3, k3, p3,
               CASE WHEN c3 = 0 THEN NULL
                    ELSE ROUND(CAST(p3 AS DOUBLE) / c3, 6) END FROM w
      """)),

    // ------------------------------------------------------------------
    // q230: group-relative advantage estimation — the GRPO data step:
    // within each candidate group (source × lang, the same prompt
    // proxy as q227 and the SAME shared score), each candidate's
    // advantage is its z-score against the group's mean/stddev —
    // no value model, the group IS the baseline. Groups of one and
    // zero-variance groups yield NULL advantage (no relative signal),
    // exactly the degenerate-group rule a production GRPO batch
    // builder applies. Mean and population variance derive from EXACT
    // integer sums (Σscore, Σscore² are bigints), so the doubles are
    // bit-identical cross-engine and only the final round-6 matters.
    //
    // Scale: group moments are ONE partial-agg exchange to
    // |source×lang| rows, broadcast back into the scan — the candidate
    // pool itself never shuffles and never sorts, at any pool size
    // (contrast a window z-score, which would move every candidate).
    QDef(
      "q230_group_advantages",
      (s, dir) => {
        val scored = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("source"), col("lang"), col("doc_id"),
            expr(prefScoreSpark).as("score"))
        val moments = scored.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_group"),
            sum(col("score")).as("s1"),
            sum(col("score") * col("score")).as("s2"))
        scored.join(broadcast(moments), Seq("source", "lang"))
          .withColumn("mean", col("s1").cast("double") / col("n_group"))
          .withColumn("varp", greatest(lit(0.0d),
            col("s2").cast("double") / col("n_group")
              - col("mean") * col("mean")))
          .select(col("source"), col("lang"), col("doc_id"),
            col("score"), col("n_group"),
            expr("""case when n_group < 2 or varp <= 0.0d then null
                    else round((score - mean) / sqrt(varp), 6)
                    end""").as("adv_r"))
      },
      Some(s"""
        WITH sc AS (
          SELECT source, lang, doc_id, $prefScoreDuck AS score
          FROM (SELECT source, lang, doc_id, $WDuck AS ws
                FROM documents)),
        m AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_group,
                     CAST(SUM(score) AS BIGINT) AS s1,
                     CAST(SUM(score * score) AS BIGINT) AS s2
              FROM sc GROUP BY 1, 2),
        j AS (SELECT sc.source, sc.lang, sc.doc_id, sc.score, m.n_group,
                     CAST(m.s1 AS DOUBLE) / m.n_group AS mean,
                     GREATEST(0.0, CAST(m.s2 AS DOUBLE) / m.n_group
                       - (CAST(m.s1 AS DOUBLE) / m.n_group)
                         * (CAST(m.s1 AS DOUBLE) / m.n_group)) AS varp
              FROM sc JOIN m ON m.source = sc.source
                             AND m.lang = sc.lang)
        SELECT source, lang, doc_id, score, n_group,
               CASE WHEN n_group < 2 OR varp <= 0.0 THEN NULL
                    ELSE ROUND((score - mean) / SQRT(varp), 6)
                    END AS adv_r
        FROM j
      """)),

    // ------------------------------------------------------------------
    // q231: packing block-size sweep — the efficiency frontier the
    // parameterized packing layout exists to answer: for each
    // candidate context length (64 / 256 / 1024 / 4096 tokens), how
    // many blocks does the corpus pack into, how many documents get
    // SPLIT across a block boundary (attention contamination), and
    // what fraction of the last block per shard is padding waste?
    // Small blocks waste less but split more; the sweep hands the
    // trainer the tradeoff curve in one pass. Shares q217's exact
    // layout definitions (packShards, the per-shard doc_id-ordered
    // cumsum).
    //
    // Scale: the running cumsum is computed ONCE (it is block-size
    // independent) behind a single shard-keyed exchange; the 4-way
    // block sweep is a narrow explode over scalars; two tiny rollups
    // end at 4 rows. Adding a candidate block size costs one array
    // literal, never another pass over the corpus.
    QDef(
      "q231_packing_sweep",
      (s, dir) => {
        val byShard = Window.partitionBy(col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir).documents
          .select(col("doc_id"),
            (col("doc_id") % packShards).as("shard"),
            expr(s"cast(size($W) as bigint)").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(byShard))
          .withColumn("block",
            explode(array(lit(64L), lit(256L), lit(1024L), lit(4096L))))
          .withColumn("is_split",
            (col("n_tok") > 0L &&
              expr("((cum - 1) div block) > ((cum - n_tok) div block)"))
              .cast("long"))
          .groupBy(col("block"), col("shard"))
          .agg(sum(col("n_tok")).as("toks"),
            sum(col("is_split")).as("splits"))
          .groupBy(col("block"))
          .agg(sum(expr("(toks + block - 1) div block")).as("n_blocks"),
            sum(col("splits")).as("n_split_docs"),
            sum(expr("(toks + block - 1) div block * block - toks"))
              .as("tail_waste"))
          .select(col("block"), col("n_blocks"), col("n_split_docs"),
            col("tail_waste"),
            expr("""round(cast(tail_waste as double)
                    / (n_blocks * block), 6)""").as("waste_ratio_r"))
      },
      Some(s"""
        WITH d AS (SELECT doc_id, doc_id % $packShards AS shard,
                          CAST(len($WDuck) AS BIGINT) AS n_tok
                   FROM documents),
        c AS (SELECT shard, doc_id, n_tok,
                     SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM d),
        e AS (SELECT shard, n_tok, cum, b.block
              FROM c, (VALUES (64), (256), (1024), (4096)) b(block)),
        f AS (SELECT block, shard,
                     CAST(SUM(n_tok) AS BIGINT) AS toks,
                     CAST(SUM(CASE WHEN n_tok > 0
                              AND (cum - 1) // block
                                  > (cum - n_tok) // block
                              THEN 1 ELSE 0 END) AS BIGINT) AS splits
              FROM e GROUP BY 1, 2)
        SELECT CAST(block AS BIGINT) AS block,
               CAST(SUM((toks + block - 1) // block) AS BIGINT)
                 AS n_blocks,
               CAST(SUM(splits) AS BIGINT) AS n_split_docs,
               CAST(SUM((toks + block - 1) // block * block - toks)
                    AS BIGINT) AS tail_waste,
               ROUND(CAST(SUM((toks + block - 1) // block * block - toks)
                          AS DOUBLE)
                     / (SUM((toks + block - 1) // block) * block), 6)
                 AS waste_ratio_r
        FROM f GROUP BY block
      """)),

    // ------------------------------------------------------------------
    // q232: fill-in-the-middle example construction — the FIM
    // pretraining transform (Bavarian et al. 2022): a deterministic
    // 50% of documents (md5 coin on the doc id, the q51 seed-free
    // recipe) are rewritten PSM-style as
    // <PRE> prefix <SUF> suffix <MID> middle, splitting at exact
    // character thirds; the rest pass through verbatim. The output
    // pins the split arithmetic (segment lengths) AND the constructed
    // example bytes (md5 fingerprint of the rewritten string), so a
    // one-character slip in any segment boundary hash-fails. This is
    // an EXAMPLE-CONSTRUCTION op (the map that feeds the tokenizer),
    // not an analysis op — the engine has to rewrite payloads, not
    // just count them.
    //
    // Scale: pure narrow map — payloads are rewritten in place on the
    // scan side and only scalar lengths + a 32-char fingerprint leave
    // the partition (the output deliberately does NOT carry the
    // rewritten text). Zero shuffles at any corpus size.
    QDef(
      "q232_fim_examples",
      (s, dir) => {
        fimRewritten(s, dir)
          .select(col("doc_id"),
            col("fim").cast("long").as("fim_applied"),
            col("n_chars").cast("bigint").as("n_chars"),
            when(col("fim"), col("cut1")).otherwise(col("n_chars"))
              .cast("bigint").as("len_prefix"),
            when(col("fim"), col("cut2") - col("cut1")).otherwise(0L)
              .cast("bigint").as("len_middle"),
            when(col("fim"), col("n_chars") - col("cut2")).otherwise(0L)
              .cast("bigint").as("len_suffix"),
            md5(col("example").cast("binary")).as("example_fp"))
      },
      Some(s"""
        WITH $fimRewrittenDuckCtes
        SELECT doc_id,
               CAST(CASE WHEN fim THEN 1 ELSE 0 END AS BIGINT)
                 AS fim_applied,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(CASE WHEN fim THEN cut1 ELSE n_chars END AS BIGINT)
                 AS len_prefix,
               CAST(CASE WHEN fim THEN cut2 - cut1 ELSE 0 END AS BIGINT)
                 AS len_middle,
               CAST(CASE WHEN fim THEN n_chars - cut2 ELSE 0 END AS BIGINT)
                 AS len_suffix,
               md5(example) AS example_fp
        FROM e
      """)),

    // ------------------------------------------------------------------
    // q234: chat-template rendering + loss-mask accounting — the SFT
    // data-prep step that turns raw interaction logs into rendered
    // conversation examples: each q16 session (30-min gap rule, the
    // SHARED sessionization) becomes one conversation, events become
    // "role: type" turns in (ts, event_id) order, and the op reports
    // per conversation the turn mix, the characters the loss WILL see
    // (assistant turns) vs the masked context (user turns), and the
    // md5 of the fully rendered example — so a template change, a turn
    // dropped, or a wrong sort order hash-fails. Deterministic render
    // inside an agg: collect_list carries (ts, event_id, line) structs,
    // sort_array pins the order (collect_list alone is
    // partition-order-dependent), array_join rebuilds the transcript —
    // the Spark idiom for DuckDB's string_agg(... ORDER BY ...).
    //
    // Scale: ONE user_id exchange serves the session lag window, the
    // session-index cumsum, and the per-conversation agg; rendered
    // transcripts exist only inside the agg buffer per conversation —
    // only scalar counts + a 32-char fingerprint leave.
    QDef(
      "q234_chat_render",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val cum = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir).events
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("""case when event_id % 2 = 0 then 'user'
                    else 'assistant' end""").as("role"),
            col("event_type"))
          .withColumn("line",
            concat(col("role"), lit(": "), col("event_type")))
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_s",
            when(col("prev_ts").isNull ||
              (unix_micros(col("ts")) - unix_micros(col("prev_ts")))
                / 1e6 > 1800, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("new_s")).over(cum))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_turns"),
            sum(when(col("role") === "user", 1L).otherwise(0L))
              .as("n_user_turns"),
            sum(when(col("role") === "assistant", 1L).otherwise(0L))
              .as("n_asst_turns"),
            sum(when(col("role") === "assistant",
              length(col("line")).cast("long")).otherwise(0L))
              .as("n_loss_chars"),
            sum(when(col("role") =!= "assistant",
              length(col("line")).cast("long")).otherwise(0L))
              .as("n_mask_chars"),
            md5(expr("""cast(array_join(transform(
                  sort_array(collect_list(struct(ts, event_id, line))),
                  s -> s.line), '\n') as binary)""")).as("render_fp"))
      },
      Some("""
        WITH e AS (SELECT user_id, ts, event_id, event_type,
                          CASE WHEN event_id % 2 = 0 THEN 'user'
                               ELSE 'assistant' END AS role
                   FROM events),
        l AS (SELECT *, role || ': ' || event_type AS line FROM e),
        s AS (SELECT *, CASE WHEN prev_ts IS NULL
                              OR EPOCH(ts) - EPOCH(prev_ts) > 1800
                             THEN 1 ELSE 0 END AS new_s
              FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC) AS prev_ts
                    FROM l) t),
        x AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC
                ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM s)
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_user_turns,
               CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_asst_turns,
               CAST(SUM(CASE WHEN role = 'assistant' THEN length(line)
                        ELSE 0 END) AS BIGINT) AS n_loss_chars,
               CAST(SUM(CASE WHEN role <> 'assistant' THEN length(line)
                        ELSE 0 END) AS BIGINT) AS n_mask_chars,
               md5(string_agg(line, chr(10)
                 ORDER BY ts ASC, event_id ASC)) AS render_fp
        FROM x GROUP BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q235: pass@k estimation — the unbiased estimator every code/eval
    // harness reports (Chen et al. 2021): per problem with n samples
    // of which c pass, pass@k = 1 − C(n−c, k)/C(n, k). The binomial
    // ratio is computed as the EXPLICIT product chain
    // Π_{i<k} (n−c−i)/(n−i) — the same left-associated double
    // multiplication text in both engines (no log-gamma, whose
    // rounding differs), so the values are bit-identical before the
    // final round-6. n < k → NULL (estimator undefined), n − c < k →
    // exactly 1 (k draws cannot all fail). Samples here are a
    // deterministic md5 coin per doc grouped into 50 problems — the
    // OPERATOR (grouped exact combinatorics at corpus scale) is the
    // point.
    //
    // Scale: one partial-agg exchange to |problems| rows; the product
    // chain is scalar arithmetic on the aggregated (n, c) — nothing
    // per-sample survives the agg.
    QDef(
      "q235_pass_at_k",
      (s, dir) => {
        def chain(k: Int): String = (0 until k)
          .map(i => s"(cast(n - c - $i as double) / (n - $i))")
          .mkString(" * ")
        def passk(k: Int): String =
          s"""case when n < $k then null
              when n - c < $k then 1.0d
              else round(1.0d - ${chain(k)}, 6) end"""
        Tables(s, dir).documents
          .select((col("doc_id") % 50L).as("problem"),
            expr("""case when substring(md5(cast(concat('pass|',
                      cast(doc_id as string)) as binary)), 1, 1) < '6'
                    then 1L else 0L end""").as("ok"))
          .groupBy(col("problem"))
          .agg(count(lit(1)).as("n"), sum(col("ok")).as("c"))
          .select(col("problem"), col("n"), col("c"),
            expr(passk(1)).as("pass1_r"),
            expr(passk(5)).as("pass5_r"),
            expr(passk(10)).as("pass10_r"))
      },
      Some {
        def chain(k: Int): String = (0 until k)
          .map(i => s"(cast(n - c - $i as double) / (n - $i))")
          .mkString(" * ")
        def passk(k: Int): String =
          s"""CASE WHEN n < $k THEN NULL
              WHEN n - c < $k THEN 1.0
              ELSE ROUND(1.0 - ${chain(k)}, 6) END"""
        s"""
        WITH sm AS (SELECT doc_id % 50 AS problem,
                           CASE WHEN substring(md5('pass|'
                                  || CAST(doc_id AS VARCHAR)), 1, 1) < '6'
                                THEN 1 ELSE 0 END AS ok
                    FROM documents),
        g AS (SELECT problem, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(ok) AS BIGINT) AS c
              FROM sm GROUP BY 1)
        SELECT problem, n, c,
               ${passk(1)} AS pass1_r,
               ${passk(5)} AS pass5_r,
               ${passk(10)} AS pass10_r
        FROM g
        """
      }),

    // ------------------------------------------------------------------
    // q236: needle-in-haystack suite construction — the long-context
    // eval builder: every fifth document becomes a haystack, and for
    // each probe depth (10/25/50/75/90 % of the character length) a
    // canary sentence unique to (doc, depth) is spliced in at the
    // exact offset, yielding the (haystack, needle, depth) triples a
    // retrieval-accuracy-by-depth curve is measured on. The oracle
    // pins the splice arithmetic (insert position, output length) AND
    // the constructed bytes (md5) — an off-by-one at any depth
    // hash-fails. Eval-set CONSTRUCTION is a first-class pipeline
    // stage: the engine has to manufacture the benchmark, not just
    // score it.
    //
    // Scale: one scan, a 5-way narrow explode of scalar depths, the
    // splice is per-row substring arithmetic — payloads never leave
    // their partition and only offsets + a fingerprint ship out.
    QDef(
      "q236_needle_suite",
      (s, dir) => {
        Tables(s, dir).documents
          .where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"),
            length(col("text")).cast("bigint").as("n_chars"))
          .withColumn("depth",
            explode(array(lit(10L), lit(25L), lit(50L), lit(75L),
              lit(90L))))
          .withColumn("needle", concat(lit(" The secret code is NEEDLE-"),
            col("doc_id"), lit("-"), col("depth"), lit(". ")))
          .withColumn("insert_pos",
            expr("(depth * n_chars) div 100"))
          .withColumn("built", expr(
            """concat(substring(text, 1, cast(insert_pos as int)), needle,
               substring(text, cast(insert_pos + 1 as int),
                 cast(n_chars - insert_pos as int)))"""))
          .select(col("doc_id"), col("depth"), col("n_chars"),
            col("insert_pos"),
            length(col("built")).cast("bigint").as("n_out_chars"),
            md5(col("built").cast("binary")).as("built_fp"))
      },
      Some("""
        WITH h AS (SELECT doc_id, text,
                          CAST(length(text) AS BIGINT) AS n_chars
                   FROM documents WHERE doc_id % 5 = 0),
        d AS (SELECT h.*, dd.depth
              FROM h, (VALUES (10), (25), (50), (75), (90)) dd(depth)),
        b AS (SELECT doc_id, CAST(depth AS BIGINT) AS depth, n_chars,
                     (depth * n_chars) // 100 AS insert_pos,
                     substr(text, 1, CAST((depth * n_chars) // 100
                                          AS INTEGER))
                       || ' The secret code is NEEDLE-' || doc_id || '-'
                       || depth || '. '
                       || substr(text,
                            CAST((depth * n_chars) // 100 + 1 AS INTEGER),
                            CAST(n_chars - (depth * n_chars) // 100
                                 AS INTEGER))
                       AS built
              FROM d)
        SELECT doc_id, depth, n_chars,
               CAST(insert_pos AS BIGINT) AS insert_pos,
               CAST(length(built) AS BIGINT) AS n_out_chars,
               md5(built) AS built_fp
        FROM b
      """)),

    // ------------------------------------------------------------------
    // q239: UniMax budget allocation (Chung et al. 2023) — the mixture
    // rule q179/q220's temperature scaling can't express: distribute a
    // token budget UNIFORMLY across sources subject to a per-source
    // epoch cap (capacity = cap × n_tokens), so no source repeats more
    // than `cap` epochs and the freed budget water-fills the rest.
    // Closed form over sources sorted by capacity ascending: source i
    // (of k) is CAP-BOUND iff capacity_i·(k−i+1) ≤ B − prefix_{i−1};
    // binding is prefix-closed under this order (smaller capacities
    // bind first), pinned by a running-min rather than assumed. The
    // unbound sources split the residue by exact integer division;
    // the sub-|sources| remainder is reported as leftover_tokens, not
    // silently smeared. All integer arithmetic — hash-exact; only the
    // final epochs ratio rounds.
    //
    // Scale: one scan-side partial agg to |sources| rows; every window
    // runs on that bounded relation (Q.bounded — never corpus-keyed),
    // and the two one-row rollups broadcast back (q37 pattern). The
    // corpus is touched exactly once at any size.
    QDef(
      "q239_unimax_allocation",
      (s, dir) => {
        val B = 100000L
        val cap = 4L
        val byCap = Q.bounded.orderBy(col("capacity"), col("source"))
        val run = byCap.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val ranked = Tables(s, dir).documents
          .groupBy(col("source"))
          .agg(expr(s"cast(sum(size($W)) as bigint)").as("n_tokens"))
          .withColumn("capacity", col("n_tokens") * cap)
          .withColumn("i", row_number().over(byCap))
          .withColumn("pre", sum(col("capacity")).over(run))
          .withColumn("k", count(lit(1)).over(Q.bounded))
          .withColumn("bind_own",
            (col("capacity") * (col("k") - col("i") + 1L) <=
              lit(B) - (col("pre") - col("capacity"))).cast("int"))
          .withColumn("bound", min(col("bind_own")).over(run) === 1)
          .ckpt() // |sources| rows feed the rollup AND the final select
        val tot = ranked.agg(
          sum(when(col("bound"), col("capacity")).otherwise(0L))
            .cast("bigint").as("sum_bound"),
          sum(when(col("bound"), 1L).otherwise(0L)).cast("bigint")
            .as("n_bound"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("fair", expr(
            s"case when k > n_bound then ($B - sum_bound) div " +
              "(k - n_bound) else null end"))
          .withColumn("alloc_tokens",
            when(col("bound"), col("capacity")).otherwise(col("fair")))
          .select(col("source"), col("n_tokens"), col("capacity"),
            col("bound"), col("alloc_tokens"),
            round(col("alloc_tokens").cast("double") /
              nullif(col("n_tokens"), lit(0L)).cast("double"), 6)
              .as("epochs_r"),
            (lit(B) - col("sum_bound") -
              coalesce(col("fair") * (col("k") - col("n_bound")), lit(0L)))
              .as("leftover_tokens"))
      },
      Some(s"""
        WITH src AS (SELECT source,
                            CAST(SUM(len($WDuck)) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY 1),
        r AS (SELECT source, n_tokens, n_tokens * 4 AS capacity,
                     ROW_NUMBER() OVER (ORDER BY n_tokens * 4, source)
                       AS i,
                     CAST(SUM(n_tokens * 4) OVER (ORDER BY n_tokens * 4,
                       source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre,
                     CAST(COUNT(*) OVER () AS BIGINT) AS k
              FROM src),
        b AS (SELECT *, CASE WHEN capacity * (k - i + 1)
                                  <= 100000 - (pre - capacity)
                             THEN 1 ELSE 0 END AS bind_own
              FROM r),
        bb AS (SELECT *, MIN(bind_own) OVER (ORDER BY capacity, source
                 ROWS UNBOUNDED PRECEDING) = 1 AS bound
               FROM b),
        agg AS (SELECT CAST(SUM(CASE WHEN bound THEN capacity ELSE 0 END)
                            AS BIGINT) AS sum_bound,
                       CAST(SUM(CASE WHEN bound THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_bound
                FROM bb),
        f AS (SELECT bb.*, agg.sum_bound, agg.n_bound,
                     CASE WHEN k > n_bound
                          THEN (100000 - sum_bound) // (k - n_bound)
                          ELSE NULL END AS fair
              FROM bb, agg)
        SELECT source, n_tokens, CAST(capacity AS BIGINT) AS capacity,
               bound,
               CAST(CASE WHEN bound THEN capacity ELSE fair END
                    AS BIGINT) AS alloc_tokens,
               ROUND(CAST(CASE WHEN bound THEN capacity ELSE fair END
                          AS DOUBLE) / NULLIF(n_tokens, 0), 6)
                 AS epochs_r,
               CAST(100000 - sum_bound
                    - COALESCE(fair * (k - n_bound), 0)
                    AS BIGINT) AS leftover_tokens
        FROM f
      """)),

    // ------------------------------------------------------------------
    // q240: Bradley–Terry strength fit — the reward-modeling step after
    // q227's pair construction: turn pairwise preference OUTCOMES into
    // per-player strengths (the BT MLE is what ranks arena-style
    // preference data and weights RLHF mixtures). Players are sources;
    // a match happens per lang (the prompt proxy) between every source
    // pair present, winner = the higher per-(lang, source) champion
    // score (q227's SHARED prefScore — ties to the lexicographically
    // smaller source; exact integers, so outcomes are hash-exact).
    // The fit runs 3 fixed minorize-maximize iterations
    //   p_i ← (W_i + 1) / Σ_j n_ij / (p_i + p_j)
    // with add-one smoothing on wins so an all-losing player keeps a
    // positive strength (the MLE is degenerate otherwise) and each
    // denominator/strength ROUNDED AT 9 (the q101/q201 quantized-
    // trajectory discipline: the ≤|players| double sums carry only
    // fold-order ulps, absorbed at 1e-9, so Spark and DuckDB walk
    // identical iterates). Output adds the round-6 normalized share.
    //
    // Scale: the corpus collapses to |lang × source| champion rows in
    // ONE partial-agg exchange (max, never a member window); matches,
    // the win/game tallies and every MM iteration live on ≤|sources|²
    // rows — bounded by the schema, not the corpus. The oracle unrolls
    // the same 3 iterations as chained CTEs.
    QDef(
      "q240_bradley_terry",
      (s, dir) => {
        val champ = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("lang"), col("source"),
            expr(prefScoreSpark).as("score"))
          .groupBy(col("lang"), col("source"))
          .agg(max(col("score")).as("best"))
          .ckpt() // |lang × source| rows feed both sides of the match join
        val games = champ.as("a").join(champ.as("b"),
            col("a.lang") === col("b.lang") &&
              col("a.source") < col("b.source"))
          .select(col("a.source").as("sa"), col("b.source").as("sb"),
            when(col("a.best") >= col("b.best"), 1L).otherwise(0L)
              .as("win_a"))
          .groupBy(col("sa"), col("sb"))
          .agg(count(lit(1)).as("n_games"), sum(col("win_a")).as("wins_a"))
          .ckpt() // ≤|sources|² rows feed the tally + 3 iterations
        val tally = games
          .select(col("sa").as("source"), col("n_games"),
            col("wins_a").as("w"))
          .unionByName(games.select(col("sb").as("source"),
            col("n_games"), (col("n_games") - col("wins_a")).as("w")))
          .groupBy(col("source"))
          .agg(sum(col("n_games")).cast("bigint").as("n_games"),
            sum(col("w")).cast("bigint").as("wins"))
          .withColumn("wsm", (col("wins") + 1L).cast("double"))
          .ckpt() // feeds every iteration + the final report
        def iterate(p: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val g2 = games
            .join(p.select(col("source").as("sa"), col("p").as("pa")), "sa")
            .join(p.select(col("source").as("sb"), col("p").as("pb")), "sb")
            .withColumn("d", col("n_games") / (col("pa") + col("pb")))
          val den = g2.select(col("sa").as("source"), col("d"))
            .unionByName(g2.select(col("sb").as("source"), col("d")))
            .groupBy(col("source"))
            .agg(round(sum(col("d")), 9).as("den"))
          tally.join(den, "source")
            .select(col("source"), round(col("wsm") / col("den"), 9)
              .as("p"))
        }
        val p0 = tally.select(col("source"), lit(1.0d).as("p"))
        val p3 = iterate(iterate(iterate(p0))).ckpt() // feeds tot + rows
        val tot = p3.agg(sum(col("p")).as("t"))
        tally.join(p3, "source").crossJoin(broadcast(tot))
          .select(col("source"), col("wins"), col("n_games"),
            col("p").as("strength_r"),
            round(col("p") / col("t"), 6).as("share_r"))
      },
      Some(s"""
        WITH sc AS (
          SELECT lang, source, $prefScoreDuck AS score
          FROM (SELECT lang, source, $WDuck AS ws FROM documents)),
        champ AS (SELECT lang, source, MAX(score) AS best
                  FROM sc GROUP BY 1, 2),
        games AS (SELECT a.source AS sa, b.source AS sb,
                         CAST(COUNT(*) AS BIGINT) AS n_games,
                         CAST(SUM(CASE WHEN a.best >= b.best
                                  THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
                  FROM champ a JOIN champ b
                    ON a.lang = b.lang AND a.source < b.source
                  GROUP BY 1, 2),
        tally AS (SELECT source,
                         CAST(SUM(n_games) AS BIGINT) AS n_games,
                         CAST(SUM(w) AS BIGINT) AS wins,
                         CAST(SUM(w) + 1 AS DOUBLE) AS wsm
                  FROM (SELECT sa AS source, n_games, wins_a AS w
                          FROM games
                        UNION ALL
                        SELECT sb, n_games, n_games - wins_a FROM games) u
                  GROUP BY 1),
        p0 AS (SELECT source, CAST(1.0 AS DOUBLE) AS p FROM tally),
        d1 AS (SELECT source, ROUND(SUM(d), 9) AS den FROM (
                 SELECT g.sa AS source, g.n_games / (pa.p + pb.p) AS d
                 FROM games g JOIN p0 pa ON pa.source = g.sa
                              JOIN p0 pb ON pb.source = g.sb
                 UNION ALL
                 SELECT g.sb, g.n_games / (pa.p + pb.p)
                 FROM games g JOIN p0 pa ON pa.source = g.sa
                              JOIN p0 pb ON pb.source = g.sb) u
               GROUP BY 1),
        p1 AS (SELECT t.source, ROUND(t.wsm / d.den, 9) AS p
               FROM tally t JOIN d1 d ON d.source = t.source),
        d2 AS (SELECT source, ROUND(SUM(d), 9) AS den FROM (
                 SELECT g.sa AS source, g.n_games / (pa.p + pb.p) AS d
                 FROM games g JOIN p1 pa ON pa.source = g.sa
                              JOIN p1 pb ON pb.source = g.sb
                 UNION ALL
                 SELECT g.sb, g.n_games / (pa.p + pb.p)
                 FROM games g JOIN p1 pa ON pa.source = g.sa
                              JOIN p1 pb ON pb.source = g.sb) u
               GROUP BY 1),
        p2 AS (SELECT t.source, ROUND(t.wsm / d.den, 9) AS p
               FROM tally t JOIN d2 d ON d.source = t.source),
        d3 AS (SELECT source, ROUND(SUM(d), 9) AS den FROM (
                 SELECT g.sa AS source, g.n_games / (pa.p + pb.p) AS d
                 FROM games g JOIN p2 pa ON pa.source = g.sa
                              JOIN p2 pb ON pb.source = g.sb
                 UNION ALL
                 SELECT g.sb, g.n_games / (pa.p + pb.p)
                 FROM games g JOIN p2 pa ON pa.source = g.sa
                              JOIN p2 pb ON pb.source = g.sb) u
               GROUP BY 1),
        p3 AS (SELECT t.source, ROUND(t.wsm / d.den, 9) AS p
               FROM tally t JOIN d3 d ON d.source = t.source),
        tot AS (SELECT SUM(p) AS t FROM p3)
        SELECT t.source, t.wins, t.n_games, p3.p AS strength_r,
               ROUND(p3.p / tot.t, 6) AS share_r
        FROM tally t JOIN p3 ON p3.source = t.source, tot
      """)),

    // ------------------------------------------------------------------
    // q241: pairwise labeling-function agreement — the
    // inter-annotator-reliability companion to q229's per-LF health
    // report: for every LF pair, Cohen's kappa over the documents BOTH
    // voted on (chance-corrected agreement — raw overlap can look high
    // purely because both LFs skew positive). Runs on the SHARED
    // lfSpark/lfDuck definitions, so the audit provably measures the
    // LFs q229 ships. The 2×2 contingency is exact integers from one
    // global partial agg; po/pe/kappa are the same IEEE double chain
    // in both engines, rounded at 6, with degenerate guards (no
    // co-voted docs → NULLs; pe = 1, i.e. both LFs constant on the
    // co-voted set → kappa NULL via nullif).
    //
    // Scale: one scan computes all three votes per doc (narrow map),
    // ONE global partial-agg collapses to a single wide row, and the
    // per-pair rows come from a zero-shuffle stack() rotation — the
    // q229/q84 pattern; adding an LF adds columns and stack rows,
    // never joins.
    QDef(
      "q241_lf_agreement",
      (s, dir) => {
        val votes = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(
            expr(lfSpark(0)._2).as("l1"),
            expr(lfSpark(1)._2).as("l2"),
            expr(lfSpark(2)._2).as("l3"))
        def pairAggs(a: String, b: String, sfx: String) = {
          val both = col(a) =!= -1 && col(b) =!= -1
          Seq(
            sum(when(both, 1L).otherwise(0L)).as(s"nb$sfx"),
            sum(when(both && col(a) === col(b), 1L).otherwise(0L))
              .as(s"agree$sfx"),
            sum(when(both && col(a) === 1, 1L).otherwise(0L))
              .as(s"a1$sfx"),
            sum(when(both && col(b) === 1, 1L).otherwise(0L))
              .as(s"b1$sfx"))
        }
        val aggs = pairAggs("l1", "l2", "_12") ++
          pairAggs("l1", "l3", "_13") ++ pairAggs("l2", "l3", "_23")
        votes.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"""stack(3,
              '${lfSpark(0)._1}', '${lfSpark(1)._1}',
                nb_12, agree_12, a1_12, b1_12,
              '${lfSpark(0)._1}', '${lfSpark(2)._1}',
                nb_13, agree_13, a1_13, b1_13,
              '${lfSpark(1)._1}', '${lfSpark(2)._1}',
                nb_23, agree_23, a1_23, b1_23)
            as (lf_a, lf_b, n_both, n_agree, na1, nb1)""")
          .selectExpr("lf_a", "lf_b", "n_both", "n_agree",
            """case when n_both = 0 then null
               else round(cast(n_agree as double) / n_both, 6)
               end as po_r""",
            """case when n_both = 0 then null
               else round((cast(n_agree as double) / n_both
                 - (cast(na1 as double) * nb1
                    + cast(n_both - na1 as double) * (n_both - nb1))
                   / (cast(n_both as double) * n_both))
                 / nullif(1.0d
                   - (cast(na1 as double) * nb1
                      + cast(n_both - na1 as double) * (n_both - nb1))
                     / (cast(n_both as double) * n_both), 0.0d), 6)
               end as kappa_r""")
      },
      Some(s"""
        WITH v AS (
          SELECT ${lfDuck(0)._2} AS l1,
                 ${lfDuck(1)._2} AS l2,
                 ${lfDuck(2)._2} AS l3
          FROM (SELECT text, $WDuck AS ws FROM documents)),
        w AS (SELECT
          CAST(SUM(CASE WHEN l1 <> -1 AND l2 <> -1 THEN 1 ELSE 0 END)
               AS BIGINT) AS nb_12,
          CAST(SUM(CASE WHEN l1 <> -1 AND l2 <> -1 AND l1 = l2
                   THEN 1 ELSE 0 END) AS BIGINT) AS agree_12,
          CAST(SUM(CASE WHEN l1 <> -1 AND l2 <> -1 AND l1 = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS a1_12,
          CAST(SUM(CASE WHEN l1 <> -1 AND l2 <> -1 AND l2 = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS b1_12,
          CAST(SUM(CASE WHEN l1 <> -1 AND l3 <> -1 THEN 1 ELSE 0 END)
               AS BIGINT) AS nb_13,
          CAST(SUM(CASE WHEN l1 <> -1 AND l3 <> -1 AND l1 = l3
                   THEN 1 ELSE 0 END) AS BIGINT) AS agree_13,
          CAST(SUM(CASE WHEN l1 <> -1 AND l3 <> -1 AND l1 = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS a1_13,
          CAST(SUM(CASE WHEN l1 <> -1 AND l3 <> -1 AND l3 = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS b1_13,
          CAST(SUM(CASE WHEN l2 <> -1 AND l3 <> -1 THEN 1 ELSE 0 END)
               AS BIGINT) AS nb_23,
          CAST(SUM(CASE WHEN l2 <> -1 AND l3 <> -1 AND l2 = l3
                   THEN 1 ELSE 0 END) AS BIGINT) AS agree_23,
          CAST(SUM(CASE WHEN l2 <> -1 AND l3 <> -1 AND l2 = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS a1_23,
          CAST(SUM(CASE WHEN l2 <> -1 AND l3 <> -1 AND l3 = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS b1_23
          FROM v),
        rows_ AS (
          SELECT '${lfDuck(0)._1}' AS lf_a, '${lfDuck(1)._1}' AS lf_b,
                 nb_12 AS n_both, agree_12 AS n_agree,
                 a1_12 AS na1, b1_12 AS nb1 FROM w
          UNION ALL
          SELECT '${lfDuck(0)._1}', '${lfDuck(2)._1}',
                 nb_13, agree_13, a1_13, b1_13 FROM w
          UNION ALL
          SELECT '${lfDuck(1)._1}', '${lfDuck(2)._1}',
                 nb_23, agree_23, a1_23, b1_23 FROM w)
        SELECT lf_a, lf_b, n_both, n_agree,
               CASE WHEN n_both = 0 THEN NULL
                    ELSE ROUND(CAST(n_agree AS DOUBLE) / n_both, 6)
                    END AS po_r,
               CASE WHEN n_both = 0 THEN NULL
                    ELSE ROUND((CAST(n_agree AS DOUBLE) / n_both
                      - (CAST(na1 AS DOUBLE) * nb1
                         + CAST(n_both - na1 AS DOUBLE) * (n_both - nb1))
                        / (CAST(n_both AS DOUBLE) * n_both))
                      / NULLIF(1.0
                        - (CAST(na1 AS DOUBLE) * nb1
                           + CAST(n_both - na1 AS DOUBLE) * (n_both - nb1))
                          / (CAST(n_both AS DOUBLE) * n_both), 0.0), 6)
                    END AS kappa_r
        FROM rows_
      """)),

    // ------------------------------------------------------------------
    // q242: self-consistency vote aggregation (Wang et al. 2022) — the
    // eval/inference-data step between q235's pass@k (needs ground
    // truth) and production majority voting (doesn't): per problem,
    // the modal answer across sampled generations, its vote share, and
    // the vote-distribution entropy (the abstain/escalate signal).
    // Samples are deterministic md5 pseudo-answers skewed toward a
    // modal value (half the coins land 'A', the rest spread A–D) so
    // the vote structure is real. Modal selection is argmax with the
    // lexicographically-smallest tiebreak via min(struct(-votes,
    // answer)) — map-side combinable, no window over group members
    // (the q227 discipline).
    //
    // Scale: two partial-agg exchanges — samples → (problem, answer)
    // counts (bounded by problems × answer alphabet) → per-problem
    // rollup. The sample pool itself never shuffles beyond the first
    // keyed agg and never sorts. Entropy sums ≤|alphabet| round-9
    // terms per problem; final rounds at 6.
    QDef(
      "q242_self_consistency",
      (s, dir) => {
        val votes = Tables(s, dir).documents
          .select((col("doc_id") % 50L).as("problem"),
            expr("""case when substring(md5(cast(concat('vote|',
                      cast(doc_id as string)) as binary)), 1, 1) < '8'
                    then 'A' else
                      substring('ABCD',
                        cast(instr('0123456789abcdef',
                          substring(md5(cast(concat('vote|',
                            cast(doc_id as string)) as binary)), 2, 1)) - 1
                          as int) % 4 + 1, 1)
                    end""").as("answer"))
          .groupBy(col("problem"), col("answer"))
          .agg(count(lit(1)).as("votes"))
          .ckpt() // (problem × alphabet) rows feed modal AND entropy
        votes.groupBy(col("problem"))
          .agg(sum(col("votes")).as("n_samples"),
            min(struct((-col("votes")).as("nv"), col("answer")))
              .as("m"),
            count(lit(1)).as("n_distinct_answers"),
            sum(expr("round(votes * ln(votes), 9)")).as("slnl"))
          .select(col("problem"),
            col("n_samples").cast("bigint").as("n_samples"),
            col("m.answer").as("modal_answer"),
            (-col("m.nv")).cast("bigint").as("n_modal"),
            col("n_distinct_answers").cast("bigint")
              .as("n_distinct_answers"),
            round((-col("m.nv")).cast("double") / col("n_samples"), 6)
              .as("agreement_r"),
            // H = ln n − (Σ v ln v)/n, each v ln v rounded at 9
            (round(log(col("n_samples").cast("double")) -
              col("slnl") / col("n_samples"), 6) + lit(0.0d))
              .as("entropy_r"))
      },
      Some("""
        WITH sm AS (SELECT doc_id % 50 AS problem,
                      CASE WHEN substring(md5('vote|'
                             || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
                           THEN 'A'
                           ELSE substring('ABCD',
                             CAST(strpos('0123456789abcdef',
                               substring(md5('vote|'
                                 || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                               AS INTEGER) % 4 + 1, 1)
                      END AS answer
                    FROM documents),
        v AS (SELECT problem, answer, CAST(COUNT(*) AS BIGINT) AS votes
              FROM sm GROUP BY 1, 2),
        r AS (SELECT problem, answer, votes,
                     ROW_NUMBER() OVER (PARTITION BY problem
                       ORDER BY votes DESC, answer ASC) AS rk,
                     CAST(SUM(votes) OVER (PARTITION BY problem)
                          AS BIGINT) AS n_samples,
                     CAST(COUNT(*) OVER (PARTITION BY problem)
                          AS BIGINT) AS n_distinct_answers,
                     SUM(ROUND(votes * LN(votes), 9))
                       OVER (PARTITION BY problem) AS slnl
              FROM v)
        SELECT problem, n_samples, answer AS modal_answer,
               votes AS n_modal, n_distinct_answers,
               ROUND(CAST(votes AS DOUBLE) / n_samples, 6)
                 AS agreement_r,
               ROUND(LN(CAST(n_samples AS DOUBLE)) - slnl / n_samples, 6)
                 + 0.0 AS entropy_r
        FROM r WHERE rk = 1
      """)),

    // ------------------------------------------------------------------
    // q243: unbiased Best-of-N value estimation — given every
    // candidate's score in a group (q227's prompt proxy and SHARED
    // prefScore), what reward would best-of-n sampling achieve at
    // n = 1/2/4 WITHOUT resampling? The exact unbiased estimator
    // (WebGPT appendix): E[max of a random size-n subset] =
    // Σ_i s_(i) · C(i−1, n−1) / C(N, n) over ascending order
    // statistics. The sweep that prices how much reward extra samples
    // buy before anyone trains a thing.
    //
    // Determinism/scale: the rank runs in a GROUP-keyed window
    // (bounded by the group, sharded across groups — ties are
    // weight-invariant since equal scores commute, doc_id pins the
    // order anyway); the weighted sums Σ s·(i−1), Σ s·(i−1)(i−2)(i−3)
    // are EXACT DECIMAL(38,0) integers (HUGEINT in DuckDB), so only
    // the one closing division per n is double — identical IEEE text,
    // rounded at 6, NULL when N < n.
    QDef(
      "q243_best_of_n",
      (s, dir) => {
        val byGrp = Window.partitionBy(col("source"), col("lang"))
          .orderBy(col("score"), col("doc_id"))
        Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("source"), col("lang"), col("doc_id"),
            expr(prefScoreSpark).as("score"))
          .withColumn("i", row_number().over(byGrp))
          // cast to DECIMAL(38,0) BEFORE multiplying (the HUGEINT-first
          // DuckDB form): score·(i−1)(i−2)(i−3) in Long wraps past
          // Long.MaxValue once a group exceeds ~45k rows
          .withColumn("sd", col("score").cast(DecimalType(38, 0)))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("sd")).as("s1"),
            sum(col("sd") * (col("i") - 1L)).as("s2"),
            sum(col("sd") * (col("i") - 1L) * (col("i") - 2L) *
              (col("i") - 3L)).as("s4"))
          .selectExpr("source", "lang", "cast(n as bigint) as n_samples",
            """round(cast(s1 as double) / n, 6) as bon1_r""",
            """case when n < 2 then null
               else round(cast(s2 as double) * 2
                 / (cast(n as double) * (n - 1)), 6) end as bon2_r""",
            """case when n < 4 then null
               else round(cast(s4 as double) * 4
                 / (cast(n as double) * (n - 1) * (n - 2) * (n - 3)), 6)
               end as bon4_r""")
      },
      Some(s"""
        WITH sc AS (
          SELECT source, lang, doc_id, $prefScoreDuck AS score
          FROM (SELECT source, lang, doc_id, $WDuck AS ws
                FROM documents)),
        r AS (SELECT source, lang, score,
                     ROW_NUMBER() OVER (PARTITION BY source, lang
                       ORDER BY score ASC, doc_id ASC) AS i
              FROM sc),
        g AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(score AS HUGEINT)) AS HUGEINT) AS s1,
                     CAST(SUM(CAST(score AS HUGEINT) * (i - 1))
                          AS HUGEINT) AS s2,
                     CAST(SUM(CAST(score AS HUGEINT) * (i - 1) * (i - 2)
                              * (i - 3)) AS HUGEINT) AS s4
              FROM r GROUP BY 1, 2)
        SELECT source, lang, n AS n_samples,
               ROUND(CAST(s1 AS DOUBLE) / n, 6) AS bon1_r,
               CASE WHEN n < 2 THEN NULL
                    ELSE ROUND(CAST(s2 AS DOUBLE) * 2
                      / (CAST(n AS DOUBLE) * (n - 1)), 6) END AS bon2_r,
               CASE WHEN n < 4 THEN NULL
                    ELSE ROUND(CAST(s4 AS DOUBLE) * 4
                      / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3)),
                      6) END AS bon4_r
        FROM g
      """)),

    // ------------------------------------------------------------------
    // q244: corpus-scale BLEU — the n-gram overlap metric every eval
    // harness needs, run as a distributed operator: each document's
    // FIM rewrite (the SHARED fimRewritten construction q232 ships) is
    // scored as the CANDIDATE against the original text as the
    // REFERENCE — clipped modified n-gram precisions p1..p4, brevity
    // penalty, unsmoothed BLEU-4. Non-rewritten docs are built-in
    // controls (candidate ≡ reference ⇒ BLEU exactly 1); rewritten
    // docs scramble order at the third boundaries and inject sentinel
    // tokens, so every pn < 1 for real reasons. Clipped counts are
    // EXACT integers ((doc, n, gram)-keyed count join — the q184
    // bigram shape); each ln pn quantizes at 9 AND the 4-term sum
    // runs in exact decimals before the /4 mean (q184's exp/ln
    // discipline + the q243 exact-sum discipline — no float
    // reassociation anywhere), BLEU and pn round at 6.
    //
    // Scale: a PURE NARROW MAP — candidate and reference tokens live
    // in the same row, so the clipped counts come from the native
    // gram_clip kernel (graft.functions.GramClip, word mode: per-row
    // reference-gram hash multiset, codegen'd) and no gram row ever
    // exists. The r9/r10 relational formulation exploded 4 orders ×
    // words per side through a (doc, n, gram) exchange (6.2 s at
    // sf0.1); this plan has ZERO exchanges. The DuckDB oracle keeps
    // the relational formulation — same exact integers by
    // construction, so the hash compare also pins the kernel.
    QDef(
      "q244_bleu",
      (s, dir) => {
        val base = fimRewritten(s, dir)
          .select(col("doc_id"), col("fim"), col("text"), col("example"))
        val toks = base.select(col("doc_id"),
          col("fim").cast("long").as("fim_applied"),
          expr(W).as("rw"),
          expr(W.replace("(text)", "(example)")).as("cw"))
        val g = toks.select(
          Seq(col("doc_id"), col("fim_applied"),
            expr("cast(size(cw) as bigint)").as("c_len"),
            expr("cast(size(rw) as bigint)").as("r_len")) ++
            (1 to 4).map(k =>
              expr(s"gram_clip(cw, rw, $k)").as(s"g$k")): _*)
        g.selectExpr(Seq("doc_id", "fim_applied", "c_len", "r_len") ++
          (1 to 4).map(k =>
            s"""case when g$k[1] = 0 then null
                else round(cast(g$k[0] as double) / g$k[1], 6)
                end as p${k}_r""") ++ Seq(
          """case when g1[1] = 0 or g1[0] = 0
               or g2[1] = 0 or g2[0] = 0
               or g3[1] = 0 or g3[0] = 0
               or g4[1] = 0 or g4[0] = 0
             then 0.0d
             else round(
               (case when c_len >= r_len then 1.0d
                else exp(1.0d - cast(r_len as double) / c_len) end)
               * exp(cast(
                   cast(round(ln(cast(g1[0] as double) / g1[1]), 9)
                     as decimal(32, 12))
                 + cast(round(ln(cast(g2[0] as double) / g2[1]), 9)
                     as decimal(32, 12))
                 + cast(round(ln(cast(g3[0] as double) / g3[1]), 9)
                     as decimal(32, 12))
                 + cast(round(ln(cast(g4[0] as double) / g4[1]), 9)
                     as decimal(32, 12)) as double) / 4.0d), 6)
             end as bleu_r"""): _*)
      },
      Some(s"""
        WITH $fimRewrittenDuckCtes,
        refw AS (SELECT doc_id, $WDuck AS w FROM e),
        candw AS (SELECT doc_id,
                    ${WDuck.replace("lower(text)", "lower(example)")} AS w
                  FROM e),
        nn AS (SELECT unnest(ARRAY[1, 2, 3, 4]) AS n),
        ug AS (SELECT doc_id, n, unnest(
                 list_transform(range(0, greatest(len(w) - n + 1, 0)),
                   j -> array_to_string(w[j + 1 : j + n], ' ')))
                 AS gram, 1 AS tc, 0 AS tr
               FROM candw, nn
               UNION ALL
               SELECT doc_id, n, unnest(
                 list_transform(range(0, greatest(len(w) - n + 1, 0)),
                   j -> array_to_string(w[j + 1 : j + n], ' ')))
                 AS gram, 0 AS tc, 1 AS tr
               FROM refw, nn),
        cr AS (SELECT doc_id, n, gram, CAST(SUM(tc) AS BIGINT) AS c,
                      CAST(SUM(tr) AS BIGINT) AS r
               FROM ug GROUP BY 1, 2, 3),
        pn AS (SELECT doc_id, n,
                      CAST(SUM(c) AS BIGINT) AS tot,
                      CAST(SUM(LEAST(c, r)) AS BIGINT) AS clip
               FROM cr WHERE c > 0 OR r > 0
               GROUP BY 1, 2),
        piv AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN n = 1 THEN tot END) AS BIGINT) AS tot1,
                 CAST(SUM(CASE WHEN n = 1 THEN clip END) AS BIGINT) AS clip1,
                 CAST(SUM(CASE WHEN n = 2 THEN tot END) AS BIGINT) AS tot2,
                 CAST(SUM(CASE WHEN n = 2 THEN clip END) AS BIGINT) AS clip2,
                 CAST(SUM(CASE WHEN n = 3 THEN tot END) AS BIGINT) AS tot3,
                 CAST(SUM(CASE WHEN n = 3 THEN clip END) AS BIGINT) AS clip3,
                 CAST(SUM(CASE WHEN n = 4 THEN tot END) AS BIGINT) AS tot4,
                 CAST(SUM(CASE WHEN n = 4 THEN clip END) AS BIGINT) AS clip4
                FROM pn GROUP BY 1),
        lens AS (SELECT e.doc_id,
                   CAST(CASE WHEN fim THEN 1 ELSE 0 END AS BIGINT)
                     AS fim_applied,
                   CAST(len(r.w) AS BIGINT) AS r_len,
                   CAST(len(c2.w) AS BIGINT) AS c_len
                 FROM e
                 JOIN refw r ON r.doc_id = e.doc_id
                 JOIN candw c2 ON c2.doc_id = e.doc_id)
        SELECT l.doc_id, l.fim_applied, l.c_len, l.r_len,
               CASE WHEN COALESCE(tot1, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(clip1 AS DOUBLE) / tot1, 6)
                    END AS p1_r,
               CASE WHEN COALESCE(tot2, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(clip2 AS DOUBLE) / tot2, 6)
                    END AS p2_r,
               CASE WHEN COALESCE(tot3, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(clip3 AS DOUBLE) / tot3, 6)
                    END AS p3_r,
               CASE WHEN COALESCE(tot4, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(clip4 AS DOUBLE) / tot4, 6)
                    END AS p4_r,
               CASE WHEN COALESCE(tot1, 0) = 0 OR COALESCE(clip1, 0) = 0
                      OR COALESCE(tot2, 0) = 0 OR COALESCE(clip2, 0) = 0
                      OR COALESCE(tot3, 0) = 0 OR COALESCE(clip3, 0) = 0
                      OR COALESCE(tot4, 0) = 0 OR COALESCE(clip4, 0) = 0
                    THEN 0.0
                    ELSE ROUND(
                      (CASE WHEN c_len >= r_len THEN 1.0
                            ELSE EXP(1.0 - CAST(r_len AS DOUBLE) / c_len)
                            END)
                      * EXP(CAST(
                          CAST(ROUND(LN(CAST(clip1 AS DOUBLE) / tot1), 9)
                            AS DECIMAL(32, 12))
                        + CAST(ROUND(LN(CAST(clip2 AS DOUBLE) / tot2), 9)
                            AS DECIMAL(32, 12))
                        + CAST(ROUND(LN(CAST(clip3 AS DOUBLE) / tot3), 9)
                            AS DECIMAL(32, 12))
                        + CAST(ROUND(LN(CAST(clip4 AS DOUBLE) / tot4), 9)
                            AS DECIMAL(32, 12)) AS DOUBLE) / 4.0), 6)
                    END AS bleu_r
        FROM lens l LEFT JOIN piv ON piv.doc_id = l.doc_id
      """)),

    // ------------------------------------------------------------------
    // q246: BPE tokenizer TRAINING in the engine — the merge table a
    // subword tokenizer is (Sennrich et al. 2016), learned at corpus
    // scale. See bpeSteps for the full mechanism + determinism story;
    // the headline is the SHAPE: one corpus scan → word-frequency
    // vocabulary (bounded by word types, not corpus size), then every
    // superstep is a vocab-local pair explode + ONE pair-keyed
    // partial-agg shuffle + a map-side-combinable argmax + a broadcast
    // one-row merge map — the vocabulary never re-shuffles and the
    // corpus is never rescanned, which is exactly how BPE training
    // stays tractable at 100 TB. Zero floats: the learned merge table
    // is identical across engines by exact-integer construction, not
    // by quantization.
    QDef(
      "q246_bpe_train",
      (s, dir) => {
        val (merges, _) = bpeSteps(s, dir)
        merges.reduce(_ unionByName _)
          .select(col("iter"), col("pair"), col("merged"), col("cnt"))
          .orderBy(col("iter"))
      },
      Some(s"""
        WITH ${bpeChainDuck()}
        ${(1 to bpeIters)
          .map(i => s"SELECT iter, pair, merged, cnt FROM b$i")
          .mkString("\n        UNION ALL\n        ")}
        ORDER BY iter
      """)),

    // ------------------------------------------------------------------
    // q247: tokenizer fertility audit — the learned q246 merges put to
    // work. Every word's final symbol representation gives its subword
    // token count; joining that vocabulary map back onto the exploded
    // corpus (token-keyed equi-join against a broadcast-sized vocab —
    // word TYPES, not instances) rolls up per language: whitespace
    // words, BPE tokens, fertility (tokens per word — THE
    // cross-language tokenizer-equity metric multilingual pipelines
    // report) and chars per token (compression). Same-language docs
    // share morphology, so fertility differences surface tokenizer
    // bias directly. Scale: one corpus explode + one broadcast join +
    // one partial-agg rollup; the 8-superstep trainer itself runs on
    // the vocab relation only. Integer counts exact; the two ratios
    // are single closing divisions rounded at 6.
    QDef(
      "q247_bpe_fertility",
      (s, dir) => {
        val (_, vocabs) = bpeSteps(s, dir, fuseBest = true)
        val tok = vocabs.last.select(col("word"),
          expr("cast(size(split(rep, ' ')) as bigint)").as("n_bpe"))
        Tables(s, dir).documents
          .select(col("lang"), explode(expr(W)).as("word"))
          .join(broadcast(tok), "word")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_bpe")).as("n_bpe_tokens"),
            sum(length(col("word"))).as("n_word_chars"))
          .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
            round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
              .as("fertility_r"),
            round(col("n_word_chars").cast("double")
              / col("n_bpe_tokens"), 6).as("chars_per_token_r"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH ${bpeChainDuck()},
        tok AS (SELECT word,
                       CAST(len(string_split(rep, ' ')) AS BIGINT)
                         AS n_bpe
                FROM v$bpeIters),
        dw AS (SELECT lang, unnest($WDuck) AS word FROM documents)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
               ROUND(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 6)
                 AS fertility_r,
               ROUND(CAST(SUM(len(word)) AS DOUBLE) / SUM(n_bpe), 6)
                 AS chars_per_token_r
        FROM dw JOIN tok USING (word)
        GROUP BY 1 ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q248: BPE compression curve — what each learned merge BUYS. The
    // tokenizer-design question behind every vocab-size decision is
    // marginal compression: corpus tokens, fertility (tokens/word) and
    // chars/token after 0..8 merges. Everything derives from the vocab
    // relation alone (Σ wf·|rep_i| — the corpus is NEVER rescanned and
    // no per-step corpus join exists), so the sweep costs one union of
    // the 9 checkpointed vocab stages + ONE 9-group aggregate: the
    // whole trajectory is as cheap as the training run that produced
    // it. All counts exact integers; two closing round-6 divisions.
    QDef(
      "q248_bpe_compression",
      (s, dir) => {
        val (_, vocabs) = bpeSteps(s, dir, fuseBest = true)
        vocabs.zipWithIndex.map { case (v, i) =>
          v.select(lit(i).cast("int").as("iter"), col("word"),
            col("wf"), col("rep"))
        }.reduce(_ unionByName _)
          .groupBy(col("iter"))
          .agg(count(lit(1)).as("n_word_types"),
            sum(col("wf")).as("n_words"),
            sum(col("wf") *
              expr("cast(size(split(rep, ' ')) as bigint)"))
              .as("n_tokens"),
            // chars include the `_` end-of-word marker symbol — the
            // same convention the rep carries
            sum(col("wf") * expr("cast(length(word) + 1 as bigint)"))
              .as("n_chars"))
          .select(col("iter"), col("n_word_types"), col("n_words"),
            col("n_tokens"),
            round(col("n_tokens").cast("double") / col("n_words"), 6)
              .as("fertility_r"),
            round(col("n_chars").cast("double") / col("n_tokens"), 6)
              .as("chars_per_token_r"))
          .orderBy(col("iter"))
      },
      Some(s"""
        WITH ${bpeChainDuck()},
        uni AS (${(0 to bpeIters)
          .map(i =>
            s"SELECT CAST($i AS INTEGER) AS iter, word, wf, rep FROM v$i")
          .mkString("\n          UNION ALL\n          ")})
        SELECT iter, CAST(COUNT(*) AS BIGINT) AS n_word_types,
               CAST(SUM(wf) AS BIGINT) AS n_words,
               CAST(SUM(wf * len(string_split(rep, ' '))) AS BIGINT)
                 AS n_tokens,
               ROUND(CAST(SUM(wf * len(string_split(rep, ' ')))
                          AS DOUBLE) / SUM(wf), 6) AS fertility_r,
               ROUND(CAST(SUM(wf * (len(word) + 1)) AS DOUBLE)
                     / SUM(wf * len(string_split(rep, ' '))), 6)
                 AS chars_per_token_r
        FROM uni GROUP BY 1 ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q249: DoReMi-style mixture reweighting (Xie et al. 2023, the
    // single-proxy-round form) — the loss-DRIVEN counterpart of q179's
    // temperature mixing and q239's UniMax: domains whose proxy loss
    // exceeds the corpus average get upweighted multiplicatively,
    // w ∝ base_share · exp(η·excess), η = 1. The proxy loss is the
    // SHARED q184 bigram LM (TextQueries.bigramLm — one definition,
    // the anti-drift rule): per-source mean NLL in nats.
    //
    // Determinism/scale: each round-9 lp term becomes an exact
    // nano-nat BIGINT, so the per-source sums are order-independent
    // integers (the q243 exact-moments discipline applied to floats) —
    // the ONLY doubles are |sources| closing divisions, one exp
    // (rounded at 6, q184's discipline), and the final normalize over
    // the ≤|sources|-row relation. The corpus collapses to |sources|
    // rows in one partial-agg exchange; everything after is scalar.
    QDef(
      "q249_doremi_mixture",
      (s, dir) => doremiWeights(s, dir).orderBy(col("source")),
      Some(s"""
        WITH ${TextQueries.bigramLmDuck},
        $doremiWeightsDuckCtes
        SELECT source, n_bigrams, mean_nll_r, excess_nll_r,
               base_share_r, doremi_weight_r
        FROM dmrep ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // q250: Fleiss' kappa per source — the MULTI-rater chance-corrected
    // agreement statistic over the SAME three labeling functions q229
    // reports on and q241 compares pairwise (lfSpark/lfDuck — one
    // definition, the anti-drift rule). Unlike Cohen's pairwise form,
    // Fleiss measures the panel as a whole: abstain (−1) is kept as
    // its own category, so every doc has exactly k = 3 ratings and the
    // classical identities hold. Per doc the category counts n_ij are
    // ROW-LOCAL off the three vote columns (no doc × LF relation ever
    // materializes — the q229/q84 wide-row discipline), so the whole
    // query is one source-keyed partial-agg exchange over exact
    // integers: S = Σ_i (Σ_j n_ij² − k) and the category totals C_j.
    // P̄ = S/(N·k(k−1)), P_e = ΣC_j²/(Nk)², κ = (P̄−P_e)/(1−P_e);
    // the ONLY doubles are the closing per-source divisions (round 6),
    // NULL when P_e = 1 (a constant panel has no chance-corrected
    // signal — the q241 degenerate-pair rule).
    QDef(
      "q250_fleiss_kappa",
      (s, dir) => {
        val nij = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("source"),
            expr(lfSpark(0)._2).as("l1"),
            expr(lfSpark(1)._2).as("l2"),
            expr(lfSpark(2)._2).as("l3"))
          .selectExpr("source",
            """(case when l1 = 1 then 1 else 0 end
              + case when l2 = 1 then 1 else 0 end
              + case when l3 = 1 then 1 else 0 end) as n1""",
            """(case when l1 = 0 then 1 else 0 end
              + case when l2 = 0 then 1 else 0 end
              + case when l3 = 0 then 1 else 0 end) as n0""",
            """(case when l1 = -1 then 1 else 0 end
              + case when l2 = -1 then 1 else 0 end
              + case when l3 = -1 then 1 else 0 end) as na""")
        nij.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("cast(n1*n1 + n0*n0 + na*na - 3 as bigint)"))
              .as("s_agree"),
            sum(col("n1").cast("long")).as("c1"),
            sum(col("n0").cast("long")).as("c0"),
            sum(col("na").cast("long")).as("ca"))
          .selectExpr("source", "cast(n_docs as bigint) as n_docs",
            "round(cast(s_agree as double) / (6 * n_docs), 6) as p_bar_r",
            """round((cast(c1 as double)*c1 + cast(c0 as double)*c0
                 + cast(ca as double)*ca)
               / (cast(3 * n_docs as double) * (3 * n_docs)), 6)
               as p_e_r""",
            """round((cast(s_agree as double) / (6 * n_docs)
                - (cast(c1 as double)*c1 + cast(c0 as double)*c0
                   + cast(ca as double)*ca)
                  / (cast(3 * n_docs as double) * (3 * n_docs)))
              / nullif(1.0d
                - (cast(c1 as double)*c1 + cast(c0 as double)*c0
                   + cast(ca as double)*ca)
                  / (cast(3 * n_docs as double) * (3 * n_docs)), 0.0d),
              6) as fleiss_kappa_r""")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH v AS (
          SELECT source, ${lfDuck(0)._2} AS l1,
                 ${lfDuck(1)._2} AS l2,
                 ${lfDuck(2)._2} AS l3
          FROM (SELECT source, text, $WDuck AS ws FROM documents)),
        nij AS (SELECT source,
                  (CASE WHEN l1 = 1 THEN 1 ELSE 0 END
                 + CASE WHEN l2 = 1 THEN 1 ELSE 0 END
                 + CASE WHEN l3 = 1 THEN 1 ELSE 0 END) AS n1,
                  (CASE WHEN l1 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN l2 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN l3 = 0 THEN 1 ELSE 0 END) AS n0,
                  (CASE WHEN l1 = -1 THEN 1 ELSE 0 END
                 + CASE WHEN l2 = -1 THEN 1 ELSE 0 END
                 + CASE WHEN l3 = -1 THEN 1 ELSE 0 END) AS na
                FROM v),
        g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n1*n1 + n0*n0 + na*na - 3) AS BIGINT)
                       AS s_agree,
                     CAST(SUM(n1) AS BIGINT) AS c1,
                     CAST(SUM(n0) AS BIGINT) AS c0,
                     CAST(SUM(na) AS BIGINT) AS ca
              FROM nij GROUP BY 1)
        SELECT source, n_docs,
               ROUND(CAST(s_agree AS DOUBLE) / (6 * n_docs), 6)
                 AS p_bar_r,
               ROUND((CAST(c1 AS DOUBLE)*c1 + CAST(c0 AS DOUBLE)*c0
                      + CAST(ca AS DOUBLE)*ca)
                 / (CAST(3 * n_docs AS DOUBLE) * (3 * n_docs)), 6)
                 AS p_e_r,
               ROUND((CAST(s_agree AS DOUBLE) / (6 * n_docs)
                   - (CAST(c1 AS DOUBLE)*c1 + CAST(c0 AS DOUBLE)*c0
                      + CAST(ca AS DOUBLE)*ca)
                     / (CAST(3 * n_docs AS DOUBLE) * (3 * n_docs)))
                 / NULLIF(1.0
                   - (CAST(c1 AS DOUBLE)*c1 + CAST(c0 AS DOUBLE)*c0
                      + CAST(ca AS DOUBLE)*ca)
                     / (CAST(3 * n_docs AS DOUBLE) * (3 * n_docs)), 0.0),
                 6) AS fleiss_kappa_r
        FROM g ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // q251: corpus-scale chrF2 (Popović 2015) — the character-level
    // companion to q244's word BLEU over the SAME shared FIM rewrite:
    // per doc, character n-gram (n = 1..4) clipped matches of the
    // candidate (example) against the reference (text), averaged into
    // chrP/chrR and combined as F_{β=2} = 5PR/(4P+R) — the MT metric
    // that catches morphology/typo-level divergence word BLEU is blind
    // to. Whitespace is stripped first (the standard chrF convention),
    // so the metric scores characters, not tokenization. Non-rewritten
    // docs are built-in chrF = 1 controls.
    //
    // Determinism: clipped/total counts are EXACT integers off ONE
    // (doc, n, gram)-keyed conditional aggregation over the UNIONED
    // side-tagged gram streams — Σ least(c, r) ≡ the clipped-match sum
    // a candidate↔reference count join would compute, without the
    // join: both sides' counts land in the same hash-agg row (absent
    // side = 0, so least() clips it exactly like the outer join's
    // coalesce did). Per-n P/R quantize at 9 before the arithmetic
    // mean (avg ignores NULL degenerate orders identically in both
    // engines), F at 6.
    // Scale: a PURE NARROW MAP — candidate and reference live in the
    // same row, so the clipped counts come from the native gram_clip
    // kernel (graft.functions.GramClip: per-row reference-gram hash
    // multiset, O(len·n), codegen'd) and no gram row ever exists. The
    // r10 relational formulation moved ~8× corpus chars of gram rows
    // through a (doc, n, gram) exchange and was the bench's slowest
    // query (11.3 s at sf0.1); this plan has ZERO exchanges and is
    // embarrassingly parallel at any corpus size. The DuckDB oracle
    // keeps the relational formulation — same exact integers by
    // construction, so the hash compare also pins the kernel.
    QDef(
      "q251_chrf",
      (s, dir) => {
        val base = fimRewritten(s, dir)
          .select(col("doc_id"), col("fim"),
            expr("replace(text, ' ', '')").as("rt"),
            expr("replace(example, ' ', '')").as("ct"))
        val g = base.select(
          Seq(col("doc_id"), col("fim").cast("long").as("fim_applied")) ++
            (1 to 4).map(k =>
              expr(s"gram_clip(ct, rt, $k)").as(s"g$k")): _*)
        // per-n precision/recall (round 9) quantize into exact
        // decimals before the n-average (the q243/q262 discipline):
        // the 4-term sum is exact and order-free in both engines, the
        // single double division by the non-NULL count is the only
        // float op left — no reassociation ULP risk. NULL (degenerate)
        // orders are skipped identically.
        val p = g.select(
          Seq(col("doc_id"), col("fim_applied")) ++
            (1 to 4).flatMap(k => Seq(
              expr(s"""case when g$k[1] = 0 then null else
                round(cast(g$k[0] as double) / cast(g$k[1] as double), 9)
                end""").as(s"cp$k"),
              expr(s"""case when g$k[2] = 0 then null else
                round(cast(g$k[0] as double) / cast(g$k[2] as double), 9)
                end""").as(s"cr$k"))): _*)
        def nAvg(pre: String) =
          s"""cast(coalesce(cast(${pre}1 as decimal(32, 12)), 0)
                 + coalesce(cast(${pre}2 as decimal(32, 12)), 0)
                 + coalesce(cast(${pre}3 as decimal(32, 12)), 0)
                 + coalesce(cast(${pre}4 as decimal(32, 12)), 0)
                 as double)
             / nullif(cast((${pre}1 is not null) as int)
                    + cast((${pre}2 is not null) as int)
                    + cast((${pre}3 is not null) as int)
                    + cast((${pre}4 is not null) as int), 0)"""
        p.withColumn("chrp", expr(nAvg("cp")))
          .withColumn("chrr", expr(nAvg("cr")))
          .selectExpr("doc_id", "fim_applied",
            "round(chrp, 6) as chrp_r", "round(chrr, 6) as chrr_r",
            """case when chrp is null or chrr is null
                 or chrp + chrr = 0.0d then 0.0d
               else round(5.0d * chrp * chrr
                          / (4.0d * chrp + chrr), 6)
               end as chrf2_r""")
      },
      Some(s"""
        WITH $fimRewrittenDuckCtes,
        b AS (SELECT doc_id, fim, replace(text, ' ', '') AS rt,
                     replace(example, ' ', '') AS ct
              FROM e),
        nn AS (SELECT unnest(ARRAY[1, 2, 3, 4]) AS n),
        ug AS (SELECT doc_id, n, unnest(
                 list_transform(range(1, greatest(length(ct) - n + 2, 1)),
                   i -> substr(ct, i, n))) AS gram,
                 1 AS tc, 0 AS tr
               FROM b, nn
               UNION ALL
               SELECT doc_id, n, unnest(
                 list_transform(range(1, greatest(length(rt) - n + 2, 1)),
                   i -> substr(rt, i, n))) AS gram,
                 0 AS tc, 1 AS tr
               FROM b, nn),
        cr AS (SELECT doc_id, n, gram, CAST(SUM(tc) AS BIGINT) AS c,
                      CAST(SUM(tr) AS BIGINT) AS r
               FROM ug GROUP BY 1, 2, 3),
        pr AS (SELECT doc_id, n,
                      CAST(SUM(LEAST(c, r)) AS BIGINT) AS clip,
                      CAST(SUM(c) AS BIGINT) AS totc,
                      CAST(SUM(r) AS BIGINT) AS totr
               FROM cr GROUP BY 1, 2),
        f AS (SELECT doc_id,
                     CAST(SUM(CASE WHEN totc = 0 THEN NULL
                         ELSE CAST(ROUND(CAST(clip AS DOUBLE) / totc, 9)
                           AS DECIMAL(32, 12)) END) AS DOUBLE)
                     / NULLIF(COUNT(CASE WHEN totc = 0 THEN NULL
                         ELSE 1 END), 0) AS chrp,
                     CAST(SUM(CASE WHEN totr = 0 THEN NULL
                         ELSE CAST(ROUND(CAST(clip AS DOUBLE) / totr, 9)
                           AS DECIMAL(32, 12)) END) AS DOUBLE)
                     / NULLIF(COUNT(CASE WHEN totr = 0 THEN NULL
                         ELSE 1 END), 0) AS chrr
              FROM pr GROUP BY 1)
        SELECT b.doc_id,
               CAST(CASE WHEN fim THEN 1 ELSE 0 END AS BIGINT)
                 AS fim_applied,
               ROUND(chrp, 6) AS chrp_r, ROUND(chrr, 6) AS chrr_r,
               CASE WHEN chrp IS NULL OR chrr IS NULL
                      OR chrp + chrr = 0.0 THEN 0.0
                    ELSE ROUND(5.0 * chrp * chrr
                               / (4.0 * chrp + chrr), 6)
               END AS chrf2_r
        FROM b LEFT JOIN f ON f.doc_id = b.doc_id
      """)),

    // ------------------------------------------------------------------
    // q253: generation novelty / memorization audit — for each
    // candidate output (the SHARED q232 FIM rewrite), what fraction of
    // its word 5-grams appear NOWHERE in the original corpus? The
    // inverse of q56's decontamination containment: there the overlap
    // is the alarm, here it is the memorization signal — a "generated"
    // corpus whose novelty rate is ~0 is a copy, and one whose novelty
    // is ~1 on non-rewritten controls is a broken metric (controls are
    // verbatim corpus docs, so their novelty is 0 BY CONSTRUCTION —
    // the built-in calibration row, q244's discipline). Rewritten docs
    // are novel exactly at the splice boundaries and sentinel tokens,
    // so their rates are strictly between.
    //
    // Scale: the corpus gram SET is the distinct 5-gram relation (one
    // scan-side partial agg — types, not occurrences); the candidate
    // stream joins it co-keyed on gram (left, null ⇒ novel), then
    // rolls up per doc. Payloads never shuffle; only grams do. The
    // membership relation is exactly what `sinks/ContamIndex` persists
    // at 13 grams — at 100 TB this query probes that index instead of
    // rebuilding the set.
    QDef(
      "q253_novelty_audit",
      (s, dir) => {
        val base = fimRewritten(s, dir)
          .select(col("doc_id"), col("fim"), col("text"), col("example"))
          .ckpt() // feeds the corpus gram set AND the candidate stream
        def grams(src: String) = expr(
          s"""case when size($src) >= 5 then
              transform(sequence(0, size($src) - 5),
                j -> concat_ws(' ', slice($src, j + 1, 5)))
            else array() end""")
        // corpus gram SET via the native Shingles generator (per-doc
        // dedup cannot change the global distinct set; r15 — skips
        // the per-gram Column machinery of explode(transform(...)))
        val corpus = base
          .select(graft.functions.Shingles.shingles(col("text"), 5)
            .as("gram"))
          .distinct()
        val cand = base
          .select(col("doc_id"),
            expr(W.replace("(text)", "(example)")).as("w"))
          .select(col("doc_id"), explode(grams("w")).as("gram"))
        val nov = cand
          .join(corpus.withColumn("seen", lit(1)), Seq("gram"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("seen").isNull, 1L).otherwise(0L))
              .as("n_novel"))
        base.select(col("doc_id"),
            col("fim").cast("long").as("fim_applied"))
          .join(nov, Seq("doc_id"), "left")
          .selectExpr("doc_id", "fim_applied",
            "cast(coalesce(n_grams, 0) as bigint) as n_grams",
            "cast(coalesce(n_novel, 0) as bigint) as n_novel",
            """case when coalesce(n_grams, 0) = 0 then null
               else round(cast(n_novel as double) / n_grams, 6)
               end as novelty_r""")
      },
      Some(s"""
        WITH $fimRewrittenDuckCtes,
        cw AS (SELECT doc_id, $WDuck AS w FROM e),
        corpus AS (SELECT DISTINCT unnest(
                     list_transform(range(0, greatest(len(w) - 4, 0)),
                       j -> array_to_string(w[j + 1 : j + 5], ' ')))
                     AS gram
                   FROM cw),
        candw AS (SELECT doc_id,
                    ${WDuck.replace("lower(text)", "lower(example)")}
                      AS w
                  FROM e),
        cand AS (SELECT doc_id, unnest(
                   list_transform(range(0, greatest(len(w) - 4, 0)),
                     j -> array_to_string(w[j + 1 : j + 5], ' ')))
                   AS gram
                 FROM candw),
        nov AS (SELECT cand.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_grams,
                       CAST(SUM(CASE WHEN corpus.gram IS NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                FROM cand LEFT JOIN corpus
                  ON corpus.gram = cand.gram
                GROUP BY 1)
        SELECT e.doc_id,
               CAST(CASE WHEN fim THEN 1 ELSE 0 END AS BIGINT)
                 AS fim_applied,
               CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN COALESCE(n_grams, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(n_novel AS DOUBLE) / n_grams, 6)
               END AS novelty_r
        FROM e LEFT JOIN nov ON nov.doc_id = e.doc_id
      """)),

    // ------------------------------------------------------------------
    // q256: tokenizer OOV-generalization audit — the APPLY path of the
    // q246 trainer, on data it never saw: merges are learned on the
    // TRAIN split only (the SHARED q51 splitExpr), then applied to the
    // HELD-OUT split's word vocabulary through the SAME mergeFoldSql
    // fold the trainer's applyMerge uses (one definition — the apply
    // path cannot drift from training semantics). Because the synthetic corpus'
    // word vocabulary is closed, genuine OOV is INJECTED as ground
    // truth (the q218 discipline): a deterministic md5 coin doubles
    // the first character of ~1/8 of held-out word INSTANCES (0-based
    // instance position salts the coin), creating real unseen types
    // the merge table must encode from characters. The audit reports,
    // per language, the OOV instance rate (≈ the coin rate — the
    // built-in calibration) and SEPARATE in-vocab vs OOV fertility:
    // the gap is exactly what tokenizer-generalization reviews look
    // for before shipping a vocab.
    //
    // Scale: train chain = q246 (vocab-relation supersteps); the
    // held-out vocab is Heaps-bounded TYPES; the scoring join
    // broadcasts the type table into the held-out instance stream.
    // All counts exact integers; three closing round-6 divisions.
    QDef(
      "q256_bpe_oov_audit",
      (s, dir) => {
        // sequential on purpose: overlapping the train chain with the
        // held-out stream via graft.Par measured 1.30× SLOWER in the
        // r15 conf A/B (the superstep chain is job-latency-bound, not
        // capacity-bound — extra concurrency only contends)
        // train chain keeps the per-step argmax barrier (fuseBest =
        // false): the merge rows are consumed TWICE here (applyMerge's
        // broadcast + the held-out mergeTab collect), and fusing them
        // measured 0.92× in the r16 A/B — recomputing the 8 pair-count
        // aggs inside mergeTab's broadcast build costs more than the 8
        // barrier jobs save.
        val (merges, vocabs) = bpeSteps(s, dir, trainOnly = true)
        val hw = Tables(s, dir).documents
          .where(expr(splitExprSpark) === "held_out")
          .selectExpr("doc_id", "lang", s"posexplode($W) as (pos, w0)")
          .select(col("lang"), expr(
            """case when substring(md5(cast(concat('typo|',
                 cast(doc_id as string), '|', cast(pos as string))
                 as binary)), 1, 1) < '2'
               then concat(substring(w0, 1, 1), w0) else w0 end""")
            .as("word"))
          .ckpt() // feeds the held vocab AND the scoring join
        val hv0 = hw.groupBy(col("word")).agg(count(lit(1)).as("wf"))
          .select(col("word"), col("wf"),
            expr("""concat(concat_ws(' ',
                     filter(split(word, ''), c -> c <> '')), ' _')""")
              .as("rep"))
          .ckpt()
        // r16 (guide §2.6/§5): the held-out chain used to re-apply the
        // 8 learned merges one applyMerge (= one eager-ckpt barrier +
        // one broadcast) at a time — 16 driver-latency-bound jobs on a
        // Heaps-bounded TYPE table. The merge table is fully known
        // after training, so apply ALL merges in ONE pass: collect the
        // 8 (iter, l, r) rows into a single ordered-array broadcast and
        // fold them over each word's rep with the SAME mergeFoldSql
        // semantics, nested inside an outer aggregate over the merge
        // sequence (data-driven iteration — no plan-unrolled expression
        // blowup). Result is identical by construction: the fold
        // applies b1..b8 in iter order exactly as the sequential chain
        // did.
        val mergeTab = merges.reduce(_ unionByName _)
          .agg(sort_array(collect_list(
            struct(col("iter"), col("l"), col("r")))).as("ms"))
        val hv = hv0.crossJoin(broadcast(mergeTab))
          .select(col("word"), col("wf"),
            expr(s"""aggregate(ms, rep, (acc0, m) ->
                       ${mergeFoldSql("acc0", "m.l", "m.r")})""")
              .as("rep"))
        val tok = hv.select(col("word"),
            expr("cast(size(split(rep, ' ')) as bigint)").as("n_bpe"))
          .join(vocabs.head.select(col("word"),
            lit(1L).as("in_train")), Seq("word"), "left")
        hw.join(broadcast(tok), "word")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"),
            sum(when(col("in_train").isNull, 1L).otherwise(0L))
              .as("n_oov"),
            sum(when(col("in_train").isNotNull, col("n_bpe"))
              .otherwise(0L)).as("tok_in"),
            sum(when(col("in_train").isNull, col("n_bpe"))
              .otherwise(0L)).as("tok_oov"),
            sum(col("n_bpe")).as("tok_all"),
            sum(length(col("word")).cast("bigint")).as("n_chars"))
          .selectExpr("lang", "n_words", "n_oov",
            "round(cast(n_oov as double) / n_words, 6) as oov_rate_r",
            """case when n_words = n_oov then null
               else round(cast(tok_in as double) / (n_words - n_oov), 6)
               end as fertility_in_r""",
            """case when n_oov = 0 then null
               else round(cast(tok_oov as double) / n_oov, 6)
               end as fertility_oov_r""",
            "round(cast(n_chars as double) / tok_all, 6)"
              + " as chars_per_token_r")
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH ${bpeChainDuck(s"WHERE $splitExprDuck = 'train'")},
        hw AS MATERIALIZED (
          SELECT lang,
                 CASE WHEN substring(md5('typo|'
                        || CAST(doc_id AS VARCHAR) || '|'
                        || CAST(p['i'] AS VARCHAR)), 1, 1) < '2'
                      THEN substr(p['w'], 1, 1) || p['w']
                      ELSE p['w'] END AS word
          FROM (SELECT doc_id, lang,
                  unnest(list_transform(range(0, len(ws)),
                    i -> {'i': i, 'w': ws[i + 1]})) AS p
                FROM (SELECT doc_id, lang, $WDuck AS ws
                      FROM documents
                      WHERE $splitExprDuck = 'held_out') t0) t1),
        hv0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wf,
                 array_to_string(string_split(word, ''), ' ') || ' _'
                   AS rep
          FROM hw GROUP BY 1)${(1 to bpeIters).map(i => s""",
        hv$i AS MATERIALIZED (
          SELECT word, wf,
                 list_reduce(string_split(rep, ' '),
                   (acc, x) -> CASE
                     WHEN x = b.r AND (acc = b.l OR
                          ends_with(acc, ' ' || b.l))
                     THEN acc || x ELSE acc || ' ' || x END) AS rep
          FROM hv${i - 1}, b$i b)""").mkString},
        tok AS (SELECT word,
                       CAST(len(string_split(rep, ' ')) AS BIGINT)
                         AS n_bpe
                FROM hv$bpeIters),
        tv AS (SELECT word FROM v0),
        g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
                     CAST(SUM(CASE WHEN tv.word IS NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS n_oov,
                     CAST(SUM(CASE WHEN tv.word IS NOT NULL THEN n_bpe
                          ELSE 0 END) AS BIGINT) AS tok_in,
                     CAST(SUM(CASE WHEN tv.word IS NULL THEN n_bpe
                          ELSE 0 END) AS BIGINT) AS tok_oov,
                     CAST(SUM(n_bpe) AS BIGINT) AS tok_all,
                     CAST(SUM(len(hw.word)) AS BIGINT) AS n_chars
              FROM hw JOIN tok ON tok.word = hw.word
                   LEFT JOIN tv ON tv.word = hw.word
              GROUP BY 1)
        SELECT lang, n_words, n_oov,
               ROUND(CAST(n_oov AS DOUBLE) / n_words, 6) AS oov_rate_r,
               CASE WHEN n_words = n_oov THEN NULL
                    ELSE ROUND(CAST(tok_in AS DOUBLE)
                               / (n_words - n_oov), 6)
               END AS fertility_in_r,
               CASE WHEN n_oov = 0 THEN NULL
                    ELSE ROUND(CAST(tok_oov AS DOUBLE) / n_oov, 6)
               END AS fertility_oov_r,
               ROUND(CAST(n_chars AS DOUBLE) / tok_all, 6)
                 AS chars_per_token_r
        FROM g ORDER BY lang
      """)),

    // ------------------------------------------------------------------
    // q258: Neyman optimal sampling allocation — how many docs to
    // audit from each source given a fixed review budget (B = 1000):
    // n_h ∝ N_h·S_h (stratum size × stratum std of the SHARED quality
    // score q193/q243 rank by), the classical variance-minimizing
    // allocation for stratified estimation — the eval-set and
    // human-review-budget construction step after q135's k-fold split.
    // Integer allocations via LARGEST-REMAINDER rounding (floor the
    // real allocations, then hand the deficit to the largest
    // fractional parts, source-asc tiebreak), so Σ alloc_n = B
    // exactly — a report that doesn't sum to the budget is a bug, not
    // a rounding convention.
    //
    // Determinism/scale: per-stratum moments are exact DECIMAL(38,0)
    // sums (score ≤ 1e5, so Σx² needs the q243 HUGEINT-first
    // discipline at corpus scale); S_h = sqrt of the exact variance
    // (sqrt is IEEE-correctly-rounded in both engines — the q220
    // rule); the corpus collapses to |sources| rows in ONE partial-agg
    // exchange, and the remainder ranking is a window over that
    // bounded relation.
    QDef(
      "q258_neyman_allocation",
      (s, dir) => {
        val B = 1000L
        val st = Tables(s, dir).documents
          .withColumn("ws", expr(W))
          .select(col("source"), expr(prefScoreSpark).as("x"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("x").cast(DecimalType(38, 0))).as("s1"),
            sum(col("x").cast(DecimalType(38, 0)) *
              col("x").cast(DecimalType(38, 0))).as("s2"))
          .selectExpr("source", "cast(n_docs as bigint) as n_docs",
            """case when n_docs < 2 then 0.0d
               else sqrt((cast(n_docs as double) * cast(s2 as double)
                          - cast(s1 as double) * cast(s1 as double))
                         / (cast(n_docs as double) * (n_docs - 1)))
               end as sd""")
          .withColumn("wh", col("n_docs").cast("double") * col("sd"))
          .ckpt() // |sources| rows
        val tot = st.agg(sum(col("wh")).as("wt"))
        val alloc = st.crossJoin(broadcast(tot))
          .selectExpr("source", "n_docs", "round(sd, 6) as sd_r",
            s"floor($B.0d * wh / nullif(wt, 0.0d)) as base_n",
            s"""$B.0d * wh / nullif(wt, 0.0d)
               - floor($B.0d * wh / nullif(wt, 0.0d)) as frac""")
        val rem = alloc
          .agg((lit(B) - sum(col("base_n"))).as("rdef"))
        alloc.crossJoin(broadcast(rem))
          .withColumn("rk", row_number().over(Q.bounded
            .orderBy(col("frac").desc, col("source").asc)))
          .selectExpr("source", "n_docs", "sd_r",
            """cast(base_n + (case when rk <= rdef then 1 else 0 end)
               as bigint) as alloc_n""")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH sc AS (SELECT source, $prefScoreDuck AS x
                    FROM (SELECT source, doc_id, $WDuck AS ws
                          FROM documents) t0),
        st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
                      CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                           AS HUGEINT) AS s2
               FROM sc GROUP BY 1),
        sd AS (SELECT source, n_docs,
                      CASE WHEN n_docs < 2 THEN 0.0
                           ELSE sqrt((CAST(n_docs AS DOUBLE)
                                      * CAST(s2 AS DOUBLE)
                                      - CAST(s1 AS DOUBLE)
                                        * CAST(s1 AS DOUBLE))
                                     / (CAST(n_docs AS DOUBLE)
                                        * (n_docs - 1))) END AS sd
               FROM st),
        w AS (SELECT source, n_docs, sd,
                     CAST(n_docs AS DOUBLE) * sd AS wh FROM sd),
        tot AS (SELECT SUM(wh) AS wt FROM w),
        alloc AS (SELECT source, n_docs, ROUND(sd, 6) AS sd_r,
                         FLOOR(1000.0 * wh / NULLIF(wt, 0.0)) AS base_n,
                         1000.0 * wh / NULLIF(wt, 0.0)
                           - FLOOR(1000.0 * wh / NULLIF(wt, 0.0))
                           AS frac
                  FROM w, tot),
        rem AS (SELECT 1000 - CAST(SUM(base_n) AS BIGINT) AS rdef
                FROM alloc),
        rk AS (SELECT source, n_docs, sd_r, base_n, rdef,
                      ROW_NUMBER() OVER (ORDER BY frac DESC, source ASC)
                        AS rk
               FROM alloc, rem)
        SELECT source, n_docs, sd_r,
               CAST(base_n + (CASE WHEN rk <= rdef THEN 1 ELSE 0 END)
                    AS BIGINT) AS alloc_n
        FROM rk ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // q263: corpus-scale ROUGE-1/ROUGE-2 (Lin 2004) — the
    // recall-oriented summary-eval companion to q244's
    // precision-oriented BLEU over the SAME shared FIM rewrite:
    // per doc, word n-gram (n = 1, 2) clipped overlap as precision
    // (/candidate grams), recall (/reference grams) and F1.
    // Non-rewritten docs are built-in F1 = 1 controls. Counts come
    // from the SAME native gram_clip kernel as q244 (word mode), so
    // the query is a pure zero-shuffle narrow map; the DuckDB oracle
    // keeps the relational explode+clip-join formulation, pinning the
    // kernel from a second metric family. P/R/F round at 6; F is
    // computed from the unrounded P/R with the chrF-style degenerate
    // guard (no grams on a side ⇒ NULL P or R ⇒ F 0.0).
    QDef(
      "q263_rouge",
      (s, dir) => {
        val base = fimRewritten(s, dir)
          .select(col("doc_id"), col("fim"), col("text"), col("example"))
        val toks = base.select(col("doc_id"),
          col("fim").cast("long").as("fim_applied"),
          expr(W).as("rw"),
          expr(W.replace("(text)", "(example)")).as("cw"))
        val g = toks.select(
          Seq(col("doc_id"), col("fim_applied")) ++
            (1 to 2).map(k =>
              expr(s"gram_clip(cw, rw, $k)").as(s"g$k")): _*)
        g.selectExpr(Seq("doc_id", "fim_applied") ++
          (1 to 2).flatMap(k => Seq(
            s"""case when g$k[1] = 0 then null
                else round(cast(g$k[0] as double) / g$k[1], 6)
                end as r${k}_p_r""",
            s"""case when g$k[2] = 0 then null
                else round(cast(g$k[0] as double) / g$k[2], 6)
                end as r${k}_r_r""",
            s"""case when g$k[1] = 0 or g$k[2] = 0
                  or g$k[0] = 0 then 0.0d
                else round(2.0d * (cast(g$k[0] as double) / g$k[1])
                           * (cast(g$k[0] as double) / g$k[2])
                           / (cast(g$k[0] as double) / g$k[1]
                              + cast(g$k[0] as double) / g$k[2]), 6)
                end as r${k}_f_r""")): _*)
      },
      Some(s"""
        WITH $fimRewrittenDuckCtes,
        refw AS (SELECT doc_id, $WDuck AS w FROM e),
        candw AS (SELECT doc_id,
                    ${WDuck.replace("lower(text)", "lower(example)")} AS w
                  FROM e),
        nn AS (SELECT unnest(ARRAY[1, 2]) AS n),
        ug AS (SELECT doc_id, n, unnest(
                 list_transform(range(1, greatest(len(w) - n + 2, 1)),
                   i -> array_to_string(w[i : i + n - 1], ' '))) AS gram,
                 1 AS tc, 0 AS tr
               FROM candw, nn
               UNION ALL
               SELECT doc_id, n, unnest(
                 list_transform(range(1, greatest(len(w) - n + 2, 1)),
                   i -> array_to_string(w[i : i + n - 1], ' '))) AS gram,
                 0 AS tc, 1 AS tr
               FROM refw, nn),
        cr AS (SELECT doc_id, n, gram, CAST(SUM(tc) AS BIGINT) AS c,
                      CAST(SUM(tr) AS BIGINT) AS r
               FROM ug GROUP BY 1, 2, 3),
        pr AS (SELECT doc_id, n,
                      CAST(SUM(LEAST(c, r)) AS BIGINT) AS clip,
                      CAST(SUM(c) AS BIGINT) AS totc,
                      CAST(SUM(r) AS BIGINT) AS totr
               FROM cr GROUP BY 1, 2),
        wdd AS (SELECT doc_id,
                 SUM(CASE WHEN n = 1 THEN clip END) AS c1,
                 SUM(CASE WHEN n = 1 THEN totc END) AS tc1,
                 SUM(CASE WHEN n = 1 THEN totr END) AS tr1,
                 SUM(CASE WHEN n = 2 THEN clip END) AS c2,
                 SUM(CASE WHEN n = 2 THEN totc END) AS tc2,
                 SUM(CASE WHEN n = 2 THEN totr END) AS tr2
               FROM pr GROUP BY 1)
        SELECT e.doc_id,
               CAST(CASE WHEN fim THEN 1 ELSE 0 END AS BIGINT)
                 AS fim_applied,
               CASE WHEN COALESCE(tc1, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(c1 AS DOUBLE) / tc1, 6) END AS r1_p_r,
               CASE WHEN COALESCE(tr1, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(c1 AS DOUBLE) / tr1, 6) END AS r1_r_r,
               CASE WHEN COALESCE(tc1, 0) = 0 OR COALESCE(tr1, 0) = 0
                      OR COALESCE(c1, 0) = 0 THEN 0.0
                    ELSE ROUND(2.0 * (CAST(c1 AS DOUBLE) / tc1)
                               * (CAST(c1 AS DOUBLE) / tr1)
                               / (CAST(c1 AS DOUBLE) / tc1
                                  + CAST(c1 AS DOUBLE) / tr1), 6)
               END AS r1_f_r,
               CASE WHEN COALESCE(tc2, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(c2 AS DOUBLE) / tc2, 6) END AS r2_p_r,
               CASE WHEN COALESCE(tr2, 0) = 0 THEN NULL
                    ELSE ROUND(CAST(c2 AS DOUBLE) / tr2, 6) END AS r2_r_r,
               CASE WHEN COALESCE(tc2, 0) = 0 OR COALESCE(tr2, 0) = 0
                      OR COALESCE(c2, 0) = 0 THEN 0.0
                    ELSE ROUND(2.0 * (CAST(c2 AS DOUBLE) / tc2)
                               * (CAST(c2 AS DOUBLE) / tr2)
                               / (CAST(c2 AS DOUBLE) / tc2
                                  + CAST(c2 AS DOUBLE) / tr2), 6)
               END AS r2_f_r
        FROM e LEFT JOIN wdd ON wdd.doc_id = e.doc_id
      """)),

    // ------------------------------------------------------------------
    // q264: dataset cartography / training-dynamics data maps
    // (Swayamdipta et al. 2020) — per-example CONFIDENCE (mean
    // true-class probability across training checkpoints) and
    // VARIABILITY (population std across checkpoints), the curation
    // signal that separates easy-to-learn / ambiguous / hard examples
    // without any human labels. The checkpoints are the SHARED q201
    // logistic-regression trajectory (logregSteps — one definition, so
    // the maps can never drift from the trained model q210 applies):
    // probabilities under the weights BEFORE each of the 3 supersteps
    // (zeros, w1, w2), computed with the EXACT step formula (round-6
    // z, round-9 clamped sigmoid). conf/var round at 9 and the region
    // thresholds compare the ROUNDED values, so both engines bucket
    // identically.
    //
    // Scale: the weight frames are ONE-row broadcasts (q37 pattern);
    // scoring is a pure narrow map over the ckpt'd feature relation —
    // zero corpus shuffles, embarrassingly parallel at any size.
    QDef(
      "q264_data_maps",
      (s, dir) => {
        val (feats, steps) = logregSteps(s, dir)
        def sig(z: String) =
          s"""greatest(1e-9, least(1.0d - 1e-9,
              round(1.0d / (1.0d + exp(-round($z, 6))), 9)))"""
        val p1 = sig("0.0d + 0.0d * x1 + 0.0d * x2 + 0.0d * x3")
        val p2 = sig("b1 + w11 * x1 + w21 * x2 + w31 * x3")
        val p3 = sig("b2 + w12 * x1 + w22 * x2 + w32 * x3")
        def pt(p: String) =
          s"case when y = 1.0d then ($p) else 1.0d - ($p) end"
        feats
          .crossJoin(broadcast(steps(0).select(col("b").as("b1"),
            col("w1").as("w11"), col("w2").as("w21"),
            col("w3").as("w31"))))
          .crossJoin(broadcast(steps(1).select(col("b").as("b2"),
            col("w1").as("w12"), col("w2").as("w22"),
            col("w3").as("w32"))))
          .selectExpr("doc_id", "cast(y as bigint) as y",
            s"(${pt(p1)} + ${pt(p2)} + ${pt(p3)}) / 3.0d as m",
            s"""((${pt(p1)}) * (${pt(p1)}) + (${pt(p2)}) * (${pt(p2)})
                + (${pt(p3)}) * (${pt(p3)})) / 3.0d as m2""")
          .selectExpr("doc_id", "y", "round(m, 9) as conf_r",
            "round(sqrt(greatest(m2 - m * m, 0.0d)), 9) as var_r")
          .withColumn("region", expr(
            """case when var_r > 0.15d then 'ambiguous'
               when conf_r >= 0.6d then 'easy'
               when conf_r <= 0.4d then 'hard'
               else 'mid' end"""))
      },
      Some(s"""
        WITH $logregChainDuck,
        t AS (SELECT f.doc_id, f.y, f.x1, f.x2, f.x3,
                     a.b AS b1, a.w1 AS w11, a.w2 AS w21, a.w3 AS w31,
                     b.b AS b2, b.w1 AS w12, b.w2 AS w22, b.w3 AS w32
              FROM f, w1 a, w2 b),
        pp AS (SELECT doc_id, y,
                 GREATEST(1e-9, LEAST(1.0 - 1e-9,
                   ROUND(1.0 / (1.0 + EXP(-ROUND(
                     0.0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3, 6))), 9)))
                   AS p1,
                 GREATEST(1e-9, LEAST(1.0 - 1e-9,
                   ROUND(1.0 / (1.0 + EXP(-ROUND(
                     b1 + w11 * x1 + w21 * x2 + w31 * x3, 6))), 9)))
                   AS p2,
                 GREATEST(1e-9, LEAST(1.0 - 1e-9,
                   ROUND(1.0 / (1.0 + EXP(-ROUND(
                     b2 + w12 * x1 + w22 * x2 + w32 * x3, 6))), 9)))
                   AS p3
               FROM t),
        mm AS (SELECT doc_id, CAST(y AS BIGINT) AS y,
                 ((CASE WHEN y = 1.0 THEN p1 ELSE 1.0 - p1 END)
                  + (CASE WHEN y = 1.0 THEN p2 ELSE 1.0 - p2 END)
                  + (CASE WHEN y = 1.0 THEN p3 ELSE 1.0 - p3 END))
                 / 3.0 AS m,
                 ((CASE WHEN y = 1.0 THEN p1 ELSE 1.0 - p1 END)
                    * (CASE WHEN y = 1.0 THEN p1 ELSE 1.0 - p1 END)
                  + (CASE WHEN y = 1.0 THEN p2 ELSE 1.0 - p2 END)
                    * (CASE WHEN y = 1.0 THEN p2 ELSE 1.0 - p2 END)
                  + (CASE WHEN y = 1.0 THEN p3 ELSE 1.0 - p3 END)
                    * (CASE WHEN y = 1.0 THEN p3 ELSE 1.0 - p3 END))
                 / 3.0 AS m2
               FROM pp),
        rr AS (SELECT doc_id, y, ROUND(m, 9) AS conf_r,
                 ROUND(SQRT(GREATEST(m2 - m * m, 0.0)), 9) AS var_r
               FROM mm)
        SELECT doc_id, y, conf_r, var_r,
               CASE WHEN var_r > 0.15 THEN 'ambiguous'
                    WHEN conf_r >= 0.6 THEN 'easy'
                    WHEN conf_r <= 0.4 THEN 'hard'
                    ELSE 'mid' END AS region
        FROM rr
      """)),

    // ------------------------------------------------------------------
    // q265: group-aware (leakage-free) split assignment — the FIX for
    // the contamination class q233 measures: hashing each DOCUMENT
    // into train/held_out lets exact duplicates straddle the split and
    // leak evaluation text into training. Assigning by the GROUP key
    // instead (the q22 content fingerprint — every member of a dup
    // group shares it) makes straddling impossible BY CONSTRUCTION.
    // The report gives per-split doc/group/char masses under the
    // group-level assignment plus both straddle counts: doc-level
    // (the bug being fixed — nonzero exactly where the corpus has
    // cross-assigned dup groups) and group-level (the built-in
    // always-0 control).
    //
    // Scale: the corpus is scanned ONCE into the fingerprint-grouped
    // relation (min/max split markers instead of countDistinct — the
    // straddle test only needs "are they all equal") and BOTH the
    // per-split rollup and the 1-row-broadcast straddle totals derive
    // from that group relation, never re-touching documents; every agg
    // is partial map-side. The same md5 discipline as q51 — seed-free,
    // reproducible under corpus growth.
    QDef(
      "q265_group_split",
      (s, dir) => {
        val d = Tables(s, dir).documents
          .select(col("doc_id"), col("text"))
          .withColumn("fp", Q.fingerprint(col("text")))
          .withColumn("doc_split", expr(splitExprSpark))
          .withColumn("grp_split",
            expr(splitExprSpark.replace("cast(doc_id as string)", "fp")))
        val fpg = d.groupBy(col("fp")).agg(
            count(lit(1)).as("grp_docs"),
            sum(expr("cast(length(text) as bigint)")).as("grp_chars"),
            min(col("doc_split")).as("ds_min"),
            max(col("doc_split")).as("ds_max"),
            // grp_split is a function of fp, so min == max == the
            // group's split; min/max kept anyway — their disagreement
            // IS the (impossible-by-construction) group-level straddle
            min(col("grp_split")).as("gs_min"),
            max(col("grp_split")).as("gs_max"))
          .ckpt() // group-bounded; feeds the rollup AND the totals
        val glob = fpg.agg(
          sum(when(col("ds_min") =!= col("ds_max"), 1L).otherwise(0L))
            .as("straddle_doc_level"),
          sum(when(col("gs_min") =!= col("gs_max"), 1L).otherwise(0L))
            .as("straddle_group_level"))
        fpg.groupBy(col("gs_min").as("grp_split")).agg(
            sum(col("grp_docs")).as("n_docs"),
            count(lit(1)).as("n_groups"),
            sum(col("grp_chars")).as("n_chars"))
          .crossJoin(broadcast(glob))
          .orderBy(col("grp_split"))
      },
      Some(s"""
        WITH d AS (SELECT doc_id, text, ${Q.fingerprintDuck} AS fp,
                     $splitExprDuck AS doc_split,
                     ${splitExprDuck.replace(
                       "CAST(doc_id AS VARCHAR)", "fp")} AS grp_split
                   FROM documents),
        fpg AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS grp_docs,
                  CAST(SUM(length(text)) AS BIGINT) AS grp_chars,
                  MIN(doc_split) AS ds_min, MAX(doc_split) AS ds_max,
                  MIN(grp_split) AS gs_min, MAX(grp_split) AS gs_max
                FROM d GROUP BY 1),
        gl AS (SELECT CAST(SUM(CASE WHEN ds_min <> ds_max
                        THEN 1 ELSE 0 END) AS BIGINT)
                        AS straddle_doc_level,
                      CAST(SUM(CASE WHEN gs_min <> gs_max
                        THEN 1 ELSE 0 END) AS BIGINT)
                        AS straddle_group_level
               FROM fpg)
        SELECT gs_min AS grp_split,
               CAST(SUM(grp_docs) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(grp_chars) AS BIGINT) AS n_chars,
               gl.straddle_doc_level, gl.straddle_group_level
        FROM fpg, gl
        GROUP BY 1, 5, 6
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q271: confident-learning label-noise audit (Northcutt, Jiang &
    // Chuang, JAIR 2021) — the data-curation step that asks the SHARED
    // q201 model which given labels it confidently disagrees with.
    // Per-class self-confidence thresholds t_j = mean p_j over the
    // examples GIVEN label j (the CL prescription: an example only
    // counts toward class j if the model is at least as confident as
    // it typically is on true-j examples); each example lands in the
    // confident-joint cell (given, argmax over classes whose p_j ≥
    // t_j), or in the unassigned class (-1) when neither threshold is
    // met. Off-diagonal cells are the estimated label errors — here,
    // docs whose length class contradicts what their length-independent
    // lexical ratios predict.
    //
    // Determinism: p1 is q210's exact scoring expression (round-6 z,
    // round-9 clamped sigmoid), p0 = round(1 − p1, 9); thresholds sum
    // round-9 probabilities as DECIMAL(32,12) (exact, order-free)
    // before ONE double division rounded at 9, so the p ≥ t compares
    // are bit-identical in both engines; the both-confident tie goes
    // to argmax with ties to class 1 (explicit, spec-pinned). A
    // 6-row (given × {-1,0,1}) literal spine keeps empty cells.
    // Degenerate corpus (one class absent): that class's count is
    // nullif-guarded to NULL, so its threshold is explicitly NULL,
    // every p >= NULL compare is NULL, and no example can ever be
    // confidently assigned to the absent class — each doc lands in
    // the present class (if over ITS threshold) or in -1. Pinned in
    // TrainedOpsSpec ("q271 degenerate one-class corpus").
    //
    // Scale: one scoring scan off the ckpt'd features (model = 1-row
    // broadcast), one all-reduce for the thresholds broadcast back,
    // one 6-cell conditional agg — no corpus joins, no windows.
    QDef(
      "q271_label_noise",
      (s, dir) => {
        val (feats, rounds) = logregSteps(s, dir)
        val w3 = rounds.last
          .select(col("b"), col("w1"), col("w2"), col("w3"))
        val sc = feats.crossJoin(broadcast(w3))
          .withColumn("z", round(col("b") + col("w1") * col("x1")
            + col("w2") * col("x2") + col("w3") * col("x3"), 6))
          .withColumn("p1", greatest(lit(1e-9), least(lit(1.0 - 1e-9),
            round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9))))
          .withColumn("p0", round(lit(1.0) - col("p1"), 9))
          .withColumn("given", col("y").cast("int"))
          .ckpt() // feeds the thresholds AND the classification scan
        val thr = sc.agg(
          round(expr("""cast(sum(case when given = 1
                then cast(p1 as decimal(32, 12)) end) as double)""")
            / nullif(sum(when(col("given") === 1, 1L).otherwise(0L)),
              lit(0L)), 9)
            .as("t1"),
          round(expr("""cast(sum(case when given = 0
                then cast(p0 as decimal(32, 12)) end) as double)""")
            / nullif(sum(when(col("given") === 0, 1L).otherwise(0L)),
              lit(0L)), 9)
            .as("t0"))
        val cls = sc.crossJoin(broadcast(thr))
          .withColumn("conf", expr("""case
              when p1 >= t1 and p0 >= t0
                then (case when p1 >= p0 then 1 else 0 end)
              when p1 >= t1 then 1
              when p0 >= t0 then 0
              else -1 end"""))
          .groupBy(col("given"), col("conf"))
          .agg(count(lit(1)).as("n"),
            round(expr("""cast(sum(cast(case when given = 1 then p1
                  else p0 end as decimal(32, 12))) as double)""")
              / count(lit(1)), 6).as("mp"))
        val spine = s.sql("""SELECT * FROM VALUES
            (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1)
            AS t(given, conf)""")
        spine.join(cls, Seq("given", "conf"), "left")
          .select(col("given").as("given_label"),
            col("conf").as("confident_label"),
            coalesce(col("n"), lit(0L)).as("n_docs"),
            col("mp").as("mean_p_given_r"),
            when(col("conf") >= 0 && col("conf") =!= col("given"), 1)
              .otherwise(0).as("is_flagged"))
          .orderBy(col("given_label"), col("confident_label"))
      },
      Some(s"""
        WITH $logregChainDuck,
        sc0 AS (SELECT CAST(f.y AS INTEGER) AS given,
                  GREATEST(1e-9, LEAST(1.0 - 1e-9,
                    ROUND(1.0/(1.0 + EXP(-ROUND(
                    w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3,
                    6))), 9))) AS p1
                FROM f, w3c w),
        sc AS (SELECT given, p1, ROUND(1.0 - p1, 9) AS p0 FROM sc0),
        thr AS (SELECT
                  ROUND(CAST(SUM(CASE WHEN given = 1
                      THEN CAST(p1 AS DECIMAL(32, 12)) END) AS DOUBLE)
                    / NULLIF(SUM(CASE WHEN given = 1
                        THEN 1 ELSE 0 END), 0), 9)
                    AS t1,
                  ROUND(CAST(SUM(CASE WHEN given = 0
                      THEN CAST(p0 AS DECIMAL(32, 12)) END) AS DOUBLE)
                    / NULLIF(SUM(CASE WHEN given = 0
                        THEN 1 ELSE 0 END), 0), 9)
                    AS t0
                FROM sc),
        cls AS (SELECT given,
                  CASE
                    WHEN p1 >= t1 AND p0 >= t0
                      THEN (CASE WHEN p1 >= p0 THEN 1 ELSE 0 END)
                    WHEN p1 >= t1 THEN 1
                    WHEN p0 >= t0 THEN 0
                    ELSE -1 END AS conf,
                  CASE WHEN given = 1 THEN p1 ELSE p0 END AS pg
                FROM sc, thr),
        agg AS (SELECT given, conf, CAST(COUNT(*) AS BIGINT) AS n,
                  ROUND(CAST(SUM(CAST(pg AS DECIMAL(32, 12)))
                      AS DOUBLE) / COUNT(*), 6) AS mp
                FROM cls GROUP BY 1, 2),
        spine(given, conf) AS (VALUES
            (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        SELECT sp.given AS given_label, sp.conf AS confident_label,
               COALESCE(a.n, 0) AS n_docs,
               a.mp AS mean_p_given_r,
               CAST(CASE WHEN sp.conf >= 0 AND sp.conf <> sp.given
                    THEN 1 ELSE 0 END AS INTEGER) AS is_flagged
        FROM spine sp LEFT JOIN agg a
          ON a.given = sp.given AND a.conf = sp.conf
        ORDER BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q272: forgetting-events audit (Toneva et al., ICLR 2019) — the
    // example-difficulty signal the SHARED q201 trajectory already
    // carries: an example is "forgotten" when it flips correct →
    // incorrect between consecutive checkpoints. Classes per the
    // paper: never_learned (incorrect at every checkpoint),
    // forgettable (≥1 forgetting event), unforgettable (correct
    // somewhere, zero forgetting events) — unforgettable examples are
    // the classic candidates for aggressive downsampling, forgettable
    // ones the high-value hard examples. Complements q264's
    // confidence/variability maps (same checkpoints, different
    // signal: threshold flips, not probability moments).
    //
    // Determinism: each checkpoint's p_i is q210's exact scoring
    // expression under that checkpoint's (round-7) weights; "correct"
    // is (p_i ≥ 0.5) == (y = 1) on the round-9 clamped sigmoid —
    // bit-identical across engines; final-model true-class confidence
    // sums as DECIMAL(32,12) before one rounded division.
    //
    // Scale: all three weight rows are 1-row broadcasts into ONE
    // feature scan (q264's shape); the rollup is a ≤3-row conditional
    // agg + share against a broadcast total — no joins, no windows.
    QDef(
      "q272_forgetting",
      (s, dir) => {
        val (feats, rounds) = logregSteps(s, dir)
        def wsel(i: Int) = rounds(i - 1).select(
          col("b").as(s"b$i"), col("w1").as(s"w1_$i"),
          col("w2").as(s"w2_$i"), col("w3").as(s"w3_$i"))
        def p(i: Int) = greatest(lit(1e-9), least(lit(1.0 - 1e-9),
          round(lit(1.0) / (lit(1.0) + exp(-round(col(s"b$i")
            + col(s"w1_$i") * col("x1") + col(s"w2_$i") * col("x2")
            + col(s"w3_$i") * col("x3"), 6))), 9)))
        val sc = feats
          .crossJoin(broadcast(wsel(1)))
          .crossJoin(broadcast(wsel(2)))
          .crossJoin(broadcast(wsel(3)))
          .withColumn("p3", p(3))
          .withColumn("c1", (p(1) >= 0.5) === (col("y") === 1.0))
          .withColumn("c2", (p(2) >= 0.5) === (col("y") === 1.0))
          .withColumn("c3", (col("p3") >= 0.5) === (col("y") === 1.0))
          .withColumn("nf",
            when(col("c1") && !col("c2"), 1).otherwise(0)
              + when(col("c2") && !col("c3"), 1).otherwise(0))
          .withColumn("cls", expr("""case
              when not c1 and not c2 and not c3 then 'never_learned'
              when nf >= 1 then 'forgettable'
              else 'unforgettable' end"""))
          .withColumn("conf3", when(col("y") === 1.0, col("p3"))
            .otherwise(round(lit(1.0) - col("p3"), 9)))
          .ckpt() // feeds the total AND the per-class rollup
        val tot = sc.agg(count(lit(1)).as("total"))
        sc.groupBy(col("cls"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nf").cast("long")).as("n_forget_events"),
            round(expr("""cast(sum(cast(conf3 as decimal(32, 12)))
                as double)""") / count(lit(1)), 6).as("mean_conf3_r"))
          .crossJoin(broadcast(tot))
          .select(col("cls").as("class"), col("n_docs"),
            col("n_forget_events"),
            round(col("n_docs").cast("double") / col("total"), 6)
              .as("share_r"),
            col("mean_conf3_r"))
          .orderBy(col("class"))
      },
      Some(s"""
        WITH $logregChainDuck,
        sc0 AS (SELECT f.y,
                  GREATEST(1e-9, LEAST(1.0 - 1e-9,
                    ROUND(1.0/(1.0 + EXP(-ROUND(
                    a.b + a.w1*f.x1 + a.w2*f.x2 + a.w3*f.x3,
                    6))), 9))) AS q1,
                  GREATEST(1e-9, LEAST(1.0 - 1e-9,
                    ROUND(1.0/(1.0 + EXP(-ROUND(
                    b.b + b.w1*f.x1 + b.w2*f.x2 + b.w3*f.x3,
                    6))), 9))) AS q2,
                  GREATEST(1e-9, LEAST(1.0 - 1e-9,
                    ROUND(1.0/(1.0 + EXP(-ROUND(
                    c.b + c.w1*f.x1 + c.w2*f.x2 + c.w3*f.x3,
                    6))), 9))) AS q3
                FROM f, w1 a, w2 b, w3c c),
        sc1 AS (SELECT y, q3,
                  (q1 >= 0.5) = (y = 1.0) AS c1,
                  (q2 >= 0.5) = (y = 1.0) AS c2,
                  (q3 >= 0.5) = (y = 1.0) AS c3
                FROM sc0),
        sc AS (SELECT
                 (CASE WHEN c1 AND NOT c2 THEN 1 ELSE 0 END
                  + CASE WHEN c2 AND NOT c3 THEN 1 ELSE 0 END) AS nf,
                 CASE WHEN NOT c1 AND NOT c2 AND NOT c3
                      THEN 'never_learned'
                      WHEN (CASE WHEN c1 AND NOT c2 THEN 1 ELSE 0 END
                            + CASE WHEN c2 AND NOT c3 THEN 1 ELSE 0
                              END) >= 1
                      THEN 'forgettable'
                      ELSE 'unforgettable' END AS cls,
                 CASE WHEN y = 1.0 THEN q3
                      ELSE ROUND(1.0 - q3, 9) END AS conf3
               FROM sc1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM sc)
        SELECT cls AS class, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nf) AS BIGINT) AS n_forget_events,
               ROUND(CAST(COUNT(*) AS DOUBLE) / t.total, 6) AS share_r,
               ROUND(CAST(SUM(CAST(conf3 AS DECIMAL(32, 12)))
                   AS DOUBLE) / COUNT(*), 6) AS mean_conf3_r
        FROM sc, tot t
        GROUP BY 1, t.total
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q274: canary-exposure memorization audit (Carlini et al., USENIX
    // Security 2019 "The Secret Sharer") — the privacy metric that
    // quantifies HOW memorized a planted secret is, not just whether it
    // appears (q108's verbatim scan): the planted sequence is ranked by
    // model score against a reference set of perturbed candidates, and
    // exposure = log2 |R| − log2 rank(planted). A fully-memorized
    // canary ranks 1 (exposure = log2 |R| bits); an unmemorized one
    // ranks randomly (exposure ≈ 0).
    //
    // The "model" is the SHARED q184 add-one bigram LM (the corpus's
    // own statistics — bigramLm's `big` relation, so the audit scores
    // under exactly the LM the perplexity filter ships). Canaries are
    // 6-token windows of real train documents (planted by definition:
    // their bigrams have live counts); each gets up to 63 reference
    // variants with ONE token replaced by an md5-ranked vocabulary
    // word (deterministic, seed-free — the q51/q81 idiom), mostly
    // yielding unseen bigrams that score at the smoothing floor.
    //
    // Determinism: counts are exact integers off the shared relation;
    // each candidate bigram's add-one term ln((c12+1)/(c1+V)) rounds
    // at 9 into DECIMAL(20,9) (5-term sums exact, order-free); means
    // round at 6 BEFORE ranking with the planted-first tiebreak
    // (conservative: a tie reads as memorized). V and the replacement
    // vocabulary derive from big's w1 ∪ w2 — provably equal to the
    // ≥2-token-doc vocabulary (every token of such a doc appears in
    // some bigram: the first as w1, the rest as w2).
    //
    // Scale: canaries are LIMIT-bounded (8) and the candidate relation
    // is ≤ 8·64·5 bigram rows at ANY corpus size; scoring joins key it
    // against the vocab²-bounded c12 / vocab-bounded c1 (q184's
    // documented non-broadcast exchanges); the rank window partitions
    // by canary over ≤64 rows. Nothing scales with the corpus except
    // the shared LM build itself.
    QDef(
      "q274_canary_exposure",
      (s, dir) => {
        val (big, _) = TextQueries.bigramLm(s, dir)
        val c12 = big.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val c1g = big.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
        val words = big.select(col("w1").as("word"))
          .union(big.select(col("w2").as("word"))).distinct()
        val v = words.agg(count(lit(1)).as("v"))
        val repl = words
          .withColumn("h", md5(col("word").cast("binary")))
          .orderBy(col("h").asc).limit(63)
          .agg(expr("""transform(
              sort_array(collect_list(struct(h, word))),
              x -> x.word)""").as("repl"))
        val can = Tables(s, dir).documents
          .select(col("doc_id"), expr(W).as("ws"),
            expr(splitExprSpark).as("split"))
          .where(col("split") === "train" && size(col("ws")) >= 8
            && col("doc_id") % 7 === 0)
          .orderBy(col("doc_id").asc).limit(8)
          .select(col("doc_id").as("cid"),
            expr("slice(ws, 3, 6)").as("planted"))
        val cands = can.crossJoin(broadcast(repl))
          .select(col("cid"), col("planted"), col("repl"),
            explode(expr("sequence(0, least(63, size(repl)))")).as("j"))
          .select(col("cid"), col("j"), expr(
            """case when j = 0 then planted
               else transform(sequence(1, 6),
                 i -> case when i = ((j - 1) % 6) + 1
                      then element_at(repl, j)
                      else element_at(planted, i) end) end""").as("cw"))
        val cbg = cands.select(col("cid"), col("j"), explode(expr(
            """transform(sequence(1, 5),
               i -> struct(element_at(cw, i) as w1,
                           element_at(cw, i + 1) as w2))""")).as("bg"))
          .select(col("cid"), col("j"),
            col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val scored = cbg
          .join(c1g, Seq("w1"), "left")
          .join(c12, Seq("w1", "w2"), "left")
          .crossJoin(broadcast(v))
          .select(col("cid"), col("j"), expr(
            """cast(round(ln((cast(coalesce(c12, 0) as double) + 1.0d)
               / (cast(coalesce(c1, 0) as double) + cast(v as double))),
               9) as decimal(20, 9))""").as("lpq"))
          .groupBy(col("cid"), col("j"))
          .agg(round(expr("cast(sum(lpq) as double)") / lit(5.0), 6)
            .as("mean_lp_r"))
        val byCan = Window.partitionBy(col("cid"))
        scored
          .withColumn("rk", row_number().over(
            byCan.orderBy(col("mean_lp_r").desc, col("j").asc)))
          .withColumn("n", count(lit(1)).over(byCan))
          .where(col("j") === 0)
          .select(col("cid").as("canary_doc"),
            col("n").cast("int").as("n_candidates"),
            col("rk").as("planted_rank"), col("mean_lp_r"),
            expr("""round((ln(cast(n as double))
                - ln(cast(rk as double))) / ln(2.0d), 6)""")
              .as("exposure_r"))
          .orderBy(col("canary_doc"))
      },
      Some(s"""
        WITH ${TextQueries.bigramLmDuck},
        vocab AS (SELECT DISTINCT w1 AS word FROM big
                  UNION SELECT DISTINCT w2 FROM big),
        v2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
        repl AS (SELECT list(word ORDER BY h) AS repl FROM (
                   SELECT word, md5(word) AS h FROM vocab
                   ORDER BY h LIMIT 63) t),
        can AS (SELECT doc_id AS cid, ws[3:8] AS planted
                FROM (SELECT doc_id, $WDuck AS ws,
                        $splitExprDuck AS split FROM documents) t
                WHERE split = 'train' AND len(ws) >= 8
                  AND doc_id % 7 = 0
                ORDER BY doc_id LIMIT 8),
        cands AS (SELECT cid, j,
                    CASE WHEN j = 0 THEN planted
                         ELSE list_transform(range(1, 7),
                           i -> CASE WHEN i = ((j - 1) % 6) + 1
                                THEN repl[j] ELSE planted[i] END)
                    END AS cw
                  FROM (SELECT c.cid, c.planted, r.repl,
                          unnest(range(0,
                            LEAST(63, len(r.repl)) + 1)) AS j
                        FROM can c, repl r) t),
        cbg AS (SELECT cid, j, bg['w1'] AS w1, bg['w2'] AS w2
                FROM (SELECT cid, j,
                        unnest(list_transform(range(1, 6),
                          i -> {'w1': cw[i], 'w2': cw[i + 1]})) AS bg
                      FROM cands) t),
        scored AS (SELECT cid, j,
                     ROUND(CAST(SUM(CAST(ROUND(LN(
                         (CAST(COALESCE(c12.c12, 0) AS DOUBLE) + 1.0)
                         / (CAST(COALESCE(c1.c1, 0) AS DOUBLE)
                            + v2.v)), 9) AS DECIMAL(20, 9)))
                       AS DOUBLE) / 5.0, 6) AS mean_lp_r
                   FROM cbg LEFT JOIN c1 ON c1.w1 = cbg.w1
                     LEFT JOIN c12 ON c12.w1 = cbg.w1
                       AND c12.w2 = cbg.w2, v2
                   GROUP BY 1, 2),
        rk AS (SELECT cid, j, mean_lp_r,
                 ROW_NUMBER() OVER (PARTITION BY cid
                   ORDER BY mean_lp_r DESC, j ASC) AS rk,
                 COUNT(*) OVER (PARTITION BY cid) AS n
               FROM scored)
        SELECT cid AS canary_doc, CAST(n AS INTEGER) AS n_candidates,
               CAST(rk AS INTEGER) AS planted_rank, mean_lp_r,
               ROUND((LN(CAST(n AS DOUBLE)) - LN(CAST(rk AS DOUBLE)))
                 / LN(2.0), 6) AS exposure_r
        FROM rk WHERE j = 0
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q275: calibration report (reliability diagram + ECE + Brier) for
    // the SHARED q201 model — the eval that decides whether the
    // quality classifier's scores can gate thresholded decisions
    // (q210 reports accuracy; a model can be accurate AND
    // miscalibrated): confidence = max(p, 1−p) lands in one of 10
    // equal-width bins, each bin reports count, mean confidence, and
    // empirical accuracy, and their gap rolls up into expected
    // calibration error ECE = Σ_b (n_b/N)·|acc_b − conf_b| (Naeini et
    // al. 2015 / Guo et al. 2017) next to the Brier score mean(p−y)².
    //
    // Determinism: p is q210's exact scoring expression; conf is the
    // max of two round-9 values, so the bin index floor(conf·10)+1 is
    // computed over an EXACT DECIMAL(10,9)·10 product (no double
    // boundary); per-bin means sum DECIMAL(32,12) (exact, order-free)
    // before one rounded division; ECE and Brier terms quantize at 12
    // into DECIMAL(32,12) before their exact sums. A 10-row literal
    // bin spine keeps empty bins (conf ≥ 0.5 makes bins 1–5
    // structurally empty — the spine shows that rather than hiding it).
    //
    // Scale: one scoring scan (model = 1-row broadcast) → a ≤10-row
    // bin agg + a 1-row Brier all-reduce; ECE folds the bin relation;
    // globals ride 1-row broadcast crossJoins. No joins over data, no
    // windows.
    QDef(
      "q275_calibration",
      (s, dir) => {
        val (feats, rounds) = logregSteps(s, dir)
        val w3 = rounds.last
          .select(col("b"), col("w1"), col("w2"), col("w3"))
        val sc = feats.crossJoin(broadcast(w3))
          .withColumn("z", round(col("b") + col("w1") * col("x1")
            + col("w2") * col("x2") + col("w3") * col("x3"), 6))
          .withColumn("p", greatest(lit(1e-9), least(lit(1.0 - 1e-9),
            round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9))))
          .withColumn("conf",
            greatest(col("p"), round(lit(1.0) - col("p"), 9)))
          .withColumn("ok",
            ((col("p") >= 0.5) === (col("y") === 1.0)).cast("long"))
          .withColumn("bin", expr(
            "cast(floor(cast(conf as decimal(10, 9)) * 10) as int) + 1"))
          .ckpt() // feeds the bin agg AND the Brier/total all-reduce
        val bins = sc.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(col("ok")).as("nok"),
            round(expr("""cast(sum(cast(conf as decimal(32, 12)))
                as double)""") / count(lit(1)), 9).as("conf_r"))
          .withColumn("acc_r",
            round(col("nok").cast("double") / col("n"), 9))
          .withColumn("gap_r",
            round(abs(col("acc_r") - col("conf_r")), 9))
          .ckpt() // ≤10 rows; feeds the spine join AND the ECE fold
        val glob = sc.agg(count(lit(1)).as("nn"),
          round(expr("""cast(sum(cast(round((p - y) * (p - y), 12)
              as decimal(32, 12))) as double)""")
            / count(lit(1)), 6).as("brier_r"))
        val ece = bins.crossJoin(broadcast(glob))
          .agg(round(expr("""cast(sum(cast(round(
              (cast(n as double) / nn) * gap_r, 12)
              as decimal(32, 12))) as double)"""), 6).as("ece_r"))
        val spine = s.sql(
          "SELECT explode(sequence(1, 10)) AS bin")
        spine.join(bins, Seq("bin"), "left")
          .crossJoin(broadcast(glob.select(col("brier_r"))))
          .crossJoin(broadcast(ece))
          .select(col("bin"),
            coalesce(col("n"), lit(0L)).as("n_docs"),
            col("conf_r"), col("acc_r"), col("gap_r"),
            col("ece_r"), col("brier_r"))
          .orderBy(col("bin"))
      },
      Some(s"""
        WITH $logregChainDuck,
        sc0 AS (SELECT f.y,
                  GREATEST(1e-9, LEAST(1.0 - 1e-9,
                    ROUND(1.0/(1.0 + EXP(-ROUND(
                    w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3,
                    6))), 9))) AS p
                FROM f, w3c w),
        sc AS (SELECT y, p,
                 GREATEST(p, ROUND(1.0 - p, 9)) AS conf,
                 CASE WHEN (p >= 0.5) = (y = 1.0)
                      THEN 1 ELSE 0 END AS ok
               FROM sc0),
        sb AS (SELECT y, p, conf, ok,
                 CAST(FLOOR(CAST(conf AS DECIMAL(10, 9)) * 10)
                   AS INTEGER) + 1 AS bin
               FROM sc),
        bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(ok) AS BIGINT) AS nok,
                   ROUND(CAST(SUM(CAST(conf AS DECIMAL(32, 12)))
                       AS DOUBLE) / COUNT(*), 9) AS conf_r
                 FROM sb GROUP BY 1),
        bins2 AS (SELECT bin, n, nok, conf_r,
                    ROUND(CAST(nok AS DOUBLE) / n, 9) AS acc_r
                  FROM bins),
        bins3 AS (SELECT bin, n, nok, conf_r, acc_r,
                    ROUND(ABS(acc_r - conf_r), 9) AS gap_r
                  FROM bins2),
        gstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                   ROUND(CAST(SUM(CAST(ROUND((p - y) * (p - y), 12)
                       AS DECIMAL(32, 12))) AS DOUBLE)
                     / COUNT(*), 6) AS brier_r
                 FROM sb),
        ece AS (SELECT ROUND(CAST(SUM(CAST(ROUND(
                    (CAST(b.n AS DOUBLE) / g.nn) * b.gap_r, 12)
                    AS DECIMAL(32, 12))) AS DOUBLE), 6) AS ece_r
                FROM bins3 b, gstat g),
        spine AS (SELECT unnest(range(1, 11)) AS bin)
        SELECT CAST(sp.bin AS INTEGER) AS bin,
               COALESCE(b.n, 0) AS n_docs,
               b.conf_r, b.acc_r, b.gap_r,
               e.ece_r, g.brier_r
        FROM spine sp
          LEFT JOIN bins3 b ON b.bin = sp.bin, ece e, gstat g
        ORDER BY 1
      """))
  )

  /** q249's per-source DoReMi weight relation — ONE definition shared
    * by the q249 QDef and q279's curation close-out (the sharedSpans
    * rule): (source, n_bigrams, mean_nll_r, excess_nll_r,
    * base_share_r, doremi_weight_r), unordered. Determinism/scale
    * contract documented at q249.
    */
  private[queries] def doremiWeights(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (big, lp) = TextQueries.bigramLm(s, dir)
    val bySrc = big.join(lp, Seq("w1", "w2"))
      .select(col("source"),
        expr("cast(round(-lp * 1e9) as bigint)").as("nll9"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll9")).as("nll9_sum"))
      .ckpt() // |sources| rows
    val tot = bySrc.agg(sum(col("n_bigrams")).as("nt"),
      sum(col("nll9_sum")).as("st"))
    val w = bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_bigrams"),
        expr("round(cast(nll9_sum as double) / 1e9 / n_bigrams, 9)")
          .as("mean_nll"),
        expr("round(cast(st as double) / 1e9 / nt, 9)")
          .as("corpus_nll"),
        expr("round(cast(n_bigrams as double) / nt, 9)")
          .as("base_share"))
      .withColumn("excess",
        expr("round(mean_nll - corpus_nll, 9)"))
      .withColumn("raw",
        expr("round(base_share * exp(excess), 6)"))
    val z = w.agg(sum(col("raw")).as("z"))
    w.crossJoin(broadcast(z))
      .select(col("source"), col("n_bigrams"),
        expr("round(mean_nll, 6)").as("mean_nll_r"),
        expr("round(excess, 6)").as("excess_nll_r"),
        expr("round(base_share, 6)").as("base_share_r"),
        expr("round(raw / z, 6)").as("doremi_weight_r"))
  }

  /** DuckDB twin of [[doremiWeights]] (consumes
    * [[TextQueries.bigramLmDuck]]'s `big`/`lp` relations; final CTE
    * `dmrep`). CTE names dm-prefixed so the fragment composes with the
    * cluster-assignment chain (whose names include `w`) in q279.
    */
  private[queries] lazy val doremiWeightsDuckCtes: String = """
        dmsc AS (SELECT source, CAST(ROUND(-lp * 1e9) AS BIGINT) AS nll9
                 FROM big JOIN lp USING (w1, w2)),
        dmbs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                        CAST(SUM(nll9) AS BIGINT) AS nll9_sum
                 FROM dmsc GROUP BY 1),
        dmtt AS (SELECT CAST(SUM(n_bigrams) AS BIGINT) AS nt,
                        CAST(SUM(nll9_sum) AS BIGINT) AS st FROM dmbs),
        dmw AS (SELECT source, n_bigrams,
                  ROUND(CAST(nll9_sum AS DOUBLE) / 1e9 / n_bigrams, 9)
                    AS mean_nll,
                  ROUND(CAST(st AS DOUBLE) / 1e9 / nt, 9)
                    AS corpus_nll,
                  ROUND(CAST(n_bigrams AS DOUBLE) / nt, 9)
                    AS base_share
                FROM dmbs, dmtt),
        dmw2 AS (SELECT source, n_bigrams, mean_nll, base_share,
                   ROUND(mean_nll - corpus_nll, 9) AS excess,
                   ROUND(base_share
                         * EXP(ROUND(mean_nll - corpus_nll, 9)), 6)
                     AS raw
                 FROM dmw),
        dmz AS (SELECT SUM(raw) AS z FROM dmw2),
        dmrep AS (SELECT source, n_bigrams,
                    ROUND(mean_nll, 6) AS mean_nll_r,
                    ROUND(excess, 6) AS excess_nll_r,
                    ROUND(base_share, 6) AS base_share_r,
                    ROUND(raw / z, 6) AS doremi_weight_r
                  FROM dmw2, dmz)"""
}
