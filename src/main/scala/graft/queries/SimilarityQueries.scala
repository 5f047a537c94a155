package graft.queries

import graft.{QDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Ckpt._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * q26 is the exact brute-force baseline: query-set × corpus cosine with
  * a windowed top-k. q27 is the scale path: sign-bucket LSH (axis-aligned
  * random-hyperplane hashing) so each query only scans its bucket — on a
  * cluster the bucket id becomes the shuffle/partition key and the
  * brute-force join never materializes. An IVF refinement would replace
  * the sign buckets with k-means centroid ids; the plumbing is identical.
  *
  * Dot products run through Catalyst lambda folds over double-cast
  * arrays — codegen'd, no UDFs, deterministic sequential summation.
  */
object SimilarityQueries {

  /** cosine of pre-normalized vectors = one dot product per pair, via
    * the codegen'd DotProduct expression (same sequential multiply-add
    * order as a lambda fold, so bit-identical results — but a primitive
    * loop instead of 64 interpreted lambda steps). Normalizing per ROW
    * instead of per PAIR already cut the pair stage from three folds to
    * one; the native expression removes the interpretation overhead.
    */
  private val COS = "dot_product(qv, v)"

  /** The KNN-Shapley ranked sweep shared by q262 (full), q268
    * (truncated top-R) and [[Valuation.knnShapleyTopR]] (truncated
    * top-R over a VectorIndex probe) — ONE definition so the three
    * surfaces cannot drift (the sharedSpans rule). Input `cand` is the
    * (qid, tid, tl, ind, sim) candidate relation — EVERY training
    * point per query for the exact value, or any similarity-descending
    * truncation of it for the estimator; `sim` must already be
    * round(·, 9).
    *
    * Per query: rank by (sim DESC, tid ASC), optionally cap at `rCap`,
    * then the Jia et al. closed-form suffix sweep with terms quantized
    * at 12 decimals into DECIMAL(32,12) (exact, order-independent —
    * the q243 discipline) and the suffix sum as a RUNNING frame over
    * rank DESC (O(n); see the q262 header for why not UNBOUNDED
    * FOLLOWING). Boundary terms: the deepest rank is
    *   - i = ntr (nothing truncated): s_N = 1[y_N = y]/N, the exact
    *     closed form;
    *   - i = R < ntr: the tail beyond R is FOLDED to zero
    *     (s_{R+1} := 0, ind_{R+1} := 0 — each dropped term is bounded
    *     by 1/i, so the whole tail contributes at most K/R to any
    *     point's value); the folded boundary ind·min(K,R)/(K·R)
    *     coincides with the exact one when R = ntr ≥ K, which is what
    *     makes full-R truncation ≡ q262 (ValuationSpec pins it).
    *
    * Returns one row per training point: (tid, tl, nq = #queries whose
    * candidate set retained it, tot = exact decimal sum of its
    * per-query values) — callers finish the normalization (q262
    * divides by nq ≡ |val| at full R; the truncated surfaces divide by
    * |val|, a point absent from a query's top-R contributing 0 there).
    */
  private[queries] def shapleySweep(cand: DataFrame, ntr: DataFrame,
      rCap: Option[Int], kNn: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("tid").asc)
    val ranked0 = cand.withColumn("i", row_number().over(w))
    val ranked = rCap.map(r => ranked0.where(col("i") <= r))
      .getOrElse(ranked0)
    // lead AFTER the cap: the truncated estimator sees only the top-R
    // (at i = R the successor is the folded tail, not rank R+1)
    val wi = Window.partitionBy(col("qid")).orderBy(col("i").asc)
    val t = ranked.withColumn("indn", lead(col("ind"), 1).over(wi))
      .crossJoin(broadcast(ntr))
      .withColumn("term", expr(
        s"""cast(round(case
             when indn is null and i = ntr
               then cast(ind as double) / ntr
             when indn is null
               then cast(ind as double)
                    * cast(least($kNn, i) as double)
                    / cast($kNn * i as double)
             else cast(ind - indn as double)
                  * cast(least($kNn, i) as double)
                  / cast($kNn * i as double) end, 12)
           as decimal(32, 12))"""))
    val sv = t.withColumn("sv", sum(col("term")).over(
      Window.partitionBy(col("qid")).orderBy(col("i").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sv.groupBy(col("tid"), col("tl"))
      .agg(sum(col("sv")).as("tot"), count(lit(1)).as("nq"))
  }

  /** The greedy MMR selection supersteps shared by q260 (brute-force
    * candidates) and [[Valuation.mmrFromIndex]] (VectorIndex.search
    * candidates) — ONE definition so the two cannot drift. Input
    * `cand` is the per-query candidate relation (qid, vec_id, simq, v)
    * with simq already round(·, 9), ckpt'd by the caller (it feeds the
    * pair sims and every superstep). Selection: rank 1 is the max-simq
    * candidate; each further rank maximizes
    * λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s) with λ = 0.7,
    * argmaxes via min(struct(-mmr, vec_id)) — a total order both
    * engines share, no window over the corpus. Returns
    * (qid, rank, vec_id, score) for `steps` ranks.
    *
    * Scale: pair sims are |cand|²-bounded per query and keyed by qid;
    * after the candidate pass the corpus is never touched again.
    */
  /** Word-trigram shingle set over a words column named `ws` — q23's
    * shingle rule, shared by q269 and [[Retrieval]] so the in-query
    * and index-backed lexical arms shingle identically.
    */
  private[queries] def triShingles: org.apache.spark.sql.Column =
    expr("""array_distinct(case when size(ws) < 3
        then array()
        else transform(sequence(3, size(ws)),
          i -> concat_ws(' ', element_at(ws, i - 2),
            element_at(ws, i - 1), element_at(ws, i))) end)""")

  /** Round-9 Jaccard between shingle columns named `sg` and `qsg`
    * (empty∪empty scores 0) — q269's lexical similarity, shared with
    * [[Retrieval]]'s candidate re-scorer.
    */
  private[queries] def triJaccard9: org.apache.spark.sql.Column =
    expr("""round(case
        when size(sg) + size(qsg) = 0 then 0.0d
        else cast(size(array_intersect(sg, qsg)) as double)
             / (size(sg) + size(qsg)
                - size(array_intersect(sg, qsg))) end, 9)""")

  /** q171's RRF fusion + fused-top-N tail, shared with
    * [[Retrieval.hybridSearch]] (the serving-path twin): takes the two
    * CAPPED candidate lists (doc_id, sem_rk) / (doc_id, lex_rk), fuses
    * by 1/(kRrf+rank) with a missing side contributing 0, and returns
    * q171's contract (rk, doc_id, lex_rk, sem_rk, rrf) for the top
    * `topN`. Bounded inputs by construction, so the global rank is
    * over ≤ 2·arms rows.
    */
  private[queries] def rrfFuseTop(sem: DataFrame, lex: DataFrame,
      kRrf: Int = 60, topN: Int = 20): DataFrame =
    sem.join(lex, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rk"), col("sem_rk"),
        round(
          coalesce(lit(1.0d) / (lit(kRrf) + col("lex_rk")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(kRrf) + col("sem_rk")), lit(0.0d)),
          9).as("rrf"))
      .withColumn("rk", row_number().over(Q.bounded.orderBy(
        col("rrf").desc, col("doc_id").asc)))
      .where(col("rk") <= topN)
      .select(col("rk"), col("doc_id"), col("lex_rk"), col("sem_rk"),
        col("rrf"))

  /** q269's RRF fusion + MRR@10 eval tail, shared with
    * [[Retrieval.hybridMrrFromIndexes]] — ONE definition of the fused
    * system and the metric so the in-query and index-backed surfaces
    * cannot drift (the [[shapleySweep]]/[[mmrSelect]] discipline).
    *
    * @param sem  (qid, vec_id, rel, sem_rk) — the semantic arm's
    *             CAPPED per-query list (rank by round-9 cosine desc,
    *             vec_id asc, rk <= topN)
    * @param lex  (qid, vec_id, rel, lex_rk) — the lexical arm's capped
    *             list under the same discipline
    * @param qids one row per query (qid) — the eval spine, so a
    *             query with no top-10 hit still scores 0
    * @param kRrf RRF smoothing constant (Cormack et al.'s 60)
    * @return (system, n_queries, n_hit, mrr_at_10_r) for the three
    *         systems lexical_jaccard / semantic_cosine / hybrid_rrf
    *
    * Scale: both inputs are bounded (topN rows per query), so the
    * fusion join, ranking windows, and eval aggregate never touch
    * anything corpus-sized.
    */
  private[queries] def hybridMrrTail(sem: DataFrame, lex: DataFrame,
      qids: DataFrame, kRrf: Int = 60): DataFrame = {
    val s = sem.sparkSession
    val byRrf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("vec_id").asc)
    val fused = sem.withColumnRenamed("rel", "rel_s")
      .join(lex.withColumnRenamed("rel", "rel_l"),
        Seq("qid", "vec_id"), "full_outer")
      .select(col("qid"), col("vec_id"),
        greatest(coalesce(col("rel_s"), lit(0)),
          coalesce(col("rel_l"), lit(0))).as("rel"),
        round(
          coalesce(lit(1.0d) / (lit(kRrf) + col("lex_rk")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(kRrf) + col("sem_rk")), lit(0.0d)),
          9).as("rrf"))
      .withColumn("rrf_rk", row_number().over(byRrf))
    val ranked = lex.select(lit("lexical_jaccard").as("system"),
        col("qid"), col("rel"), col("lex_rk").as("rk"))
      .unionByName(sem.select(lit("semantic_cosine").as("system"),
        col("qid"), col("rel"), col("sem_rk").as("rk")))
      .unionByName(fused.select(lit("hybrid_rrf").as("system"),
        col("qid"), col("rel"), col("rrf_rk").as("rk")))
    val hits = ranked.where(col("rel") === 1 && col("rk") <= 10)
      .groupBy(col("system"), col("qid"))
      .agg(min(col("rk")).as("first_rel"))
    val systems = s.createDataset(Seq("lexical_jaccard",
        "semantic_cosine", "hybrid_rrf"))(
        org.apache.spark.sql.Encoders.STRING).toDF("system")
    val spine = qids.select(col("qid")).crossJoin(systems)
    spine.join(hits, Seq("system", "qid"), "left")
      .select(col("system"),
        expr("""cast(round(coalesce(1.0d / first_rel, 0.0d), 12)
                as decimal(32, 12))""").as("rr"),
        when(col("first_rel").isNotNull, 1L).otherwise(0L).as("hit"))
      .groupBy(col("system"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("hit")).as("n_hit"),
        round(expr("cast(sum(rr) as double)") /
          count(lit(1)), 6).as("mrr_at_10_r"))
      .orderBy(col("system"))
  }

  /** q172's NDCG@10 evaluation tail over a per-query candidate
    * relation — ONE definition shared by the in-query q172 QDef and
    * [[Retrieval.ndcgFromIndexes]] (the persisted-VectorIndex twin),
    * the hybridMrrTail discipline: the metric math cannot drift
    * between the eval surfaces because only one copy exists.
    *
    * @param cand (qid, qlabel, nid, nlabel, sim) — every candidate the
    *             retrieval produced for each query (NOT top-k-capped:
    *             the ideal DCG needs the full relevant count among
    *             candidates), sim raw (ranking rounds at 9 inside)
    * @return (qlabel, n_eval, mean_ndcg) — q172's contract
    */
  private[queries] def ndcgAt10Tail(cand: DataFrame): DataFrame = {
    val perQ = cand
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(round(col("sim"), 9).desc, col("nid").asc)))
      .withColumn("rel",
        when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
      .groupBy(col("qid"), col("qlabel"))
      .agg(
        sum(when(col("pos") <= 10 && col("rel") === 1L,
          expr("round(1.0d / log2(cast(pos as double) + 1.0d), 9)"))
          .otherwise(lit(0.0d))).as("dcg"),
        sum(col("rel")).as("r_tot"))
      .withColumn("idcg", expr(
        """case when r_tot = 0 then null
           else aggregate(sequence(1, cast(least(10L, r_tot) as int)),
             0D, (a, i) ->
               a + round(1.0d / log2(cast(i as double) + 1.0d), 9))
           end"""))
      .withColumn("ndcg", round(col("dcg") / col("idcg"), 6))
    perQ.groupBy(col("qlabel"))
      .agg(count(col("ndcg")).as("n_eval"),
        round(sum(col("ndcg")) / count(col("ndcg")), 6)
          .as("mean_ndcg"))
  }

  /** q280's eval-battery size bound: the semantic decontamination
    * screen probes AT MOST this many eval docs (the stride sample is
    * additionally capped at `vec_id < 20·DecontamEvalCap`), so the two
    * broadcast sides the query ships to executors are fixed-size at
    * ANY corpus scale — the q262/q268 fixed-val-set discipline. At the
    * gate SFs the cap never binds (max vec_id ≪ 10240); in production
    * it encodes the real contract: decontamination screens a fixed,
    * versioned eval RELEASE, not a corpus-proportional sample.
    */
  private[graft] val DecontamEvalCap = 512L

  /** q280's closing report over the per-eval nearest-train-neighbor
    * relation — ONE definition shared by the in-query q280 QDef and
    * [[Retrieval.semanticDecontamFromIndexes]] (the persisted-
    * VectorIndex twin), the ndcgAt10Tail discipline: the z-score
    * ranking cannot drift between the two surfaces.
    *
    * @param nn (eval_id, nn_train_id, nn_cos_r) — one row per eval
    *           doc, cosine already rounded at 9
    * @return top-50 most-suspect (eval_id, nn_train_id, nn_cos_r, z_r)
    */
  private[queries] def decontamTail(nn: DataFrame): DataFrame = {
    val nnc = nn.ckpt() // feeds the stats row AND the ranked report
    val stats = nnc.agg(avg(col("nn_cos_r")).as("mu"),
      stddev_samp(col("nn_cos_r")).as("sigma"))
    nnc.crossJoin(broadcast(stats))
      .select(col("eval_id"), col("nn_train_id"), col("nn_cos_r"),
        round((col("nn_cos_r") - col("mu")) / col("sigma"), 6)
          .as("z_r"))
      .orderBy(col("nn_cos_r").desc, col("eval_id").asc)
      .limit(50)
  }

  private[queries] def mmrSelect(cand: DataFrame,
      steps: Int = 8): DataFrame = {
    val pairs = cand.as("a").join(cand.as("b"),
        col("a.qid") === col("b.qid") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.qid").as("qid"), col("a.vec_id").as("da"),
        col("b.vec_id").as("db"),
        round(expr("dot_product(a.v, b.v)"), 9).as("simp"))
      .ckpt() // |cand|²-bounded per query
    // NOTE r15: lazy checkpoints through this loop won a back-to-back
    // isolated A/B (4.4 s → 3.5 s) but REGRESSED (+0.6 s) in every
    // full-285-query bench run — under session-long block-manager
    // churn the deferred finalize stages lose more than the saved
    // barrier jobs. Eager kept; the full-session number is the one
    // the driver measures.
    def pickStep(sel: DataFrame, i: Int): DataFrame = {
      val ms = pairs.join(sel.select(col("qid"),
          col("vec_id").as("db")), Seq("qid", "db"))
        .groupBy(col("qid"), col("da")).agg(max(col("simp")).as("ms"))
        .withColumnRenamed("da", "vec_id")
      cand
        .join(sel.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_anti")
        .join(ms, Seq("qid", "vec_id"))
        .select(col("qid"), col("vec_id"),
          expr("round(0.7d * simq - 0.3d * ms, 9)").as("mmr"))
        .groupBy(col("qid"))
        .agg(min(struct((-col("mmr")).as("ns"), col("vec_id").as("id")))
          .as("m"))
        .select(col("qid"), col("m.id").as("vec_id"),
          lit(i).as("rank"), (-col("m.ns")).as("score"))
    }
    var sel = cand.groupBy(col("qid"))
      .agg(min(struct((-col("simq")).as("ns"), col("vec_id").as("id")))
        .as("m"))
      .select(col("qid"), col("m.id").as("vec_id"),
        lit(1).as("rank"), (-col("m.ns")).as("score"))
      .ckpt()
    // NOTE r16: unrolling TWO supersteps per barrier (second pick's
    // plan referencing the first's unmaterialized union) measured
    // 0.78× in the order-alternating A/B despite 69-vs-82 jobs — sel
    // is referenced THREE times per step (ms join, left_anti, union),
    // so the unfused pick recomputes ~4× per barrier and the extra
    // work beats the saved job latency. One barrier per step kept,
    // like the r15 lazy-ckpt revert.
    for (i <- 2 to steps) {
      sel = sel.unionByName(pickStep(sel, i)).ckpt() // superstep barrier
    }
    sel
  }

  /** The DuckDB CTE chain producing q262's per-(query, training-point)
    * suffix values `sv` — the oracle-side twin of [[knnShapley]],
    * shared by the q262 and q270 oracles so the two restatements
    * cannot drift. CTE names: e, tr, va, n, p, r, t, sv.
    */
  private[queries] val knnShapleyDuckCtes: String = """
        e AS MATERIALIZED (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        tr AS (SELECT vec_id AS tid, label AS tl, v AS tv
               FROM e WHERE vec_id % 10 <> 0),
        va AS (SELECT vec_id AS qid, label AS ql, v AS qv
               FROM e WHERE vec_id % 10 = 0 AND vec_id < 2048),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntr FROM tr),
        p AS MATERIALIZED (SELECT va.qid, tr.tid, tr.tl,
               CASE WHEN tr.tl = va.ql THEN 1 ELSE 0 END AS ind,
               ROUND(list_sum(list_transform(range(1, 65),
                 i -> tr.tv[i] * va.qv[i])), 9) AS sim
             FROM tr, va),
        r AS (SELECT qid, tid, tl, ind,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY sim DESC, tid ASC) AS i,
                LEAD(ind) OVER (PARTITION BY qid
                  ORDER BY sim DESC, tid ASC) AS indn
              FROM p),
        t AS (SELECT qid, tid, tl, i,
                CAST(ROUND(CASE WHEN indn IS NULL
                  THEN CAST(ind AS DOUBLE) / ntr
                  ELSE CAST(ind - indn AS DOUBLE)
                       * CAST(LEAST(5, i) AS DOUBLE)
                       / CAST(5 * i AS DOUBLE) END, 12)
                  AS DECIMAL(32, 12)) AS term
              FROM r, n),
        sv AS (SELECT qid, tid, tl,
                 SUM(term) OVER (PARTITION BY qid ORDER BY i DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sv
               FROM t)"""

  /** q262's exact KNN-Shapley report, (vec_id, label, shap_r) — ONE
    * definition shared by the q262 QDef and q270's per-cluster mass
    * rollup (the sharedSpans rule). The validation set is FIXED-SIZE
    * by design (every 10th of the first 2048 ids — real eval suites
    * don't grow with the training corpus): the pair relation is
    * |train|×|val| and stays LINEAR in the corpus; the id cap is above
    * every tested SF's max id, so outputs are unchanged there. The
    * ranked sweep (rank → 12-decimal terms → running suffix frame) is
    * [[shapleySweep]]; uncapped here, so the deepest rank is the exact
    * s_N = ind/N closed-form boundary.
    */
  private[graft] def knnShapley(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir).ckpt()
    val tr = e.where(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("tid"), col("label").as("tl"),
        col("v").as("tv"))
    val va = e.where(col("vec_id") % 10 === 0 &&
        col("vec_id") < 2048)
      .select(col("vec_id").as("qid"), col("label").as("ql"),
        col("v").as("qv"))
    val ntr = tr.agg(count(lit(1)).as("ntr"))
    val p = tr.crossJoin(broadcast(va))
      .select(col("qid"), col("tid"), col("tl"),
        when(col("tl") === col("ql"), 1).otherwise(0).as("ind"),
        round(expr("dot_product(tv, qv)"), 9).as("sim"))
    shapleySweep(p, ntr, rCap = None)
      .select(col("tid").as("vec_id"), col("tl").as("label"),
        expr("round(cast(tot as double) / nq, 9)").as("shap_r"))
  }

  /** q279's close-out composition over an EXPLICIT Shapley relation —
    * ONE definition executed by the q279 QDef (which passes the live
    * [[knnShapley]]) and by the streaming incremental close-out
    * ([[graft.streaming.CorpusStreaming.curationCloseoutIncrementalSink]],
    * which passes the relation CACHED to parquet once): the value arm
    * depends only on the FIXED embedding release, so caching it is
    * exact, not approximate — the two surfaces cannot drift because
    * the composition exists once and the cached input is pinned
    * byte-for-byte by the spec. `shap` must be (vec_id, label,
    * shap_r), [[knnShapley]]'s contract.
    */
  private[graft] def curationCloseout(
      s: org.apache.spark.sql.SparkSession, dir: String,
      shap: DataFrame): DataFrame =
    curationCloseout(s, dir, shap, DedupQueries.dedupWeights(s, dir))

  /** [[curationCloseout]] over an EXPLICIT dedup-mass relation too —
    * the fully-parameterized form the INDEX-BACKED streaming close-out
    * executes ([[graft.streaming.CorpusStreaming
    * .curationCloseoutIndexedSink]], which passes
    * [[graft.sinks.ClusterIndex.report]]'s incrementally-maintained
    * rollup — spec-pinned ≡ [[DedupQueries.dedupWeights]] over the
    * accumulated corpus, so the substitution is exact). `dw` must be
    * [[DedupQueries.dedupWeights]]'s contract (source, n_docs,
    * effective_mass_r, raw_share_r, dedup_share_r, uniqueness_r).
    */
  private[graft] def curationCloseout(
      s: org.apache.spark.sql.SparkSession, dir: String,
      shap: DataFrame, dw: DataFrame,
      mw0: Option[DataFrame] = None): DataFrame = {
    val mw = mw0.getOrElse(PipelineQueries.doremiWeights(s, dir))
      .select(col("source"), col("doremi_weight_r"))
    val docs = Tables(s, dir).documents
      .select(col("doc_id"), col("source"))
    val vm = docs
      .join(shap, docs("doc_id") === col("vec_id"))
      .select(col("source"),
        expr("cast(round(shap_r, 9) as decimal(32, 9))").as("shp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_valued"),
        round(expr("cast(sum(shp) as double)"), 9)
          .as("value_mass_r"),
        round(expr("cast(sum(shp) as double)") / count(lit(1)), 9)
          .as("mean_value_r"))
    dw.join(vm, Seq("source"), "left")
      .join(mw, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("uniqueness_r"),
        col("dedup_share_r"), col("n_valued"), col("value_mass_r"),
        col("mean_value_r"), col("doremi_weight_r"),
        expr("""case
            when uniqueness_r < 0.5d then 'hold_duplication'
            when mean_value_r is not null and mean_value_r < 0.0d
              then 'hold_value'
            else 'ship' end""").as("verdict"))
      .orderBy(col("source"))
  }

  /** Unit-normalized double vectors via the native codegen'd
    * `l2_normalize` expression (O(2d) per row; the lambda formulation
    * it replaced inlined the norm into the transform — O(d²)
    * interpreted steps per row, and L2NormalizeSpec pins the two
    * bit-identical).
    */
  private[queries] def vectors(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir).embeddings
      .select(col("vec_id"), col("label"),
        expr("l2_normalize(embedding)").as("v"))

  /** Shared by q204 (spectrum) and q209 (ABTT re-rank): the
    * dim-exploded corpus, round-9 per-dim means, and the top principal
    * component of the round-9 covariance after three power-iteration
    * steps, as the 64-row relation `(i, v, lambda_r)` (loading per
    * dimension, the round-6 Rayleigh quotient repeated). ONE definition
    * so the re-ranker provably removes the exact component q204
    * reports — a drifted copy would silently desynchronize the two.
    * Determinism/scale contract documented at q204.
    */
  private def pcaParts(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val dims = Tables(s, dir).embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("i", "x")))
      .ckpt() // feeds mean, both gram sides, and q209's reuse
    val mu = dims.groupBy(col("i"))
      .agg(round(avg(col("x")), 9).as("mu"))
    // NOTE r16: replacing this self-join with a pure MAP (explode dim
    // i, `transform(vv, y -> x*y)` for the row's 64 products, partial
    // agg — no join, no vec_id exchange, 6 fewer jobs) measured
    // 0.70×/0.81× on q204/q209 in the clean order-alternating A/B and
    // was REVERTED: the interpreted per-element lambda costs more than
    // the whole-stage-codegen'd join it saves (the DotProduct
    // scaladoc's HOF lesson — 64·64·|docs| interpreted steps).
    val gram = dims.as("a")
      .join(dims.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(avg(col("a.x") * col("b.x")).as("exy"))
      .join(mu.select(col("i"), col("mu").as("mi")), "i")
      .join(mu.select(col("i").as("j"), col("mu").as("mj")), "j")
      .select(col("i"), col("j"),
        round(col("exy") - col("mi") * col("mj"), 9).as("g"))
      // barrier: the build keeps its own parallelism instead of being
      // pulled into the single task of the coalesce(1) below
      .ckpt()
    // d² = 4,096 cells: the whole power iteration runs in ONE task,
    // with no exchange (graft.functions.PowerIteration)
    val power = graft.functions.PowerIteration.udaf(64, 3)
    val v3 = gram.coalesce(1)
      .agg(power(col("i"), col("j"), col("g")).as("pc"))
      .select(posexplode(col("pc.v")).as(Seq("i", "v")),
        col("pc.lambda_r").as("lambda_r"))
    (dims, mu, v3)
  }

  /** DuckDB restatement of [[pcaParts]] (dims → mu → gram → v3),
    * interpolated into the q204 and q209 oracles. */
  private val pcaChainDuck = """dims AS MATERIALIZED (
          SELECT vec_id, p.p AS i, (embedding::DOUBLE[])[p.p + 1] AS x
          FROM embeddings, (SELECT unnest(range(0, 64)) AS p) p),
        mu AS MATERIALIZED (
          SELECT i, ROUND(AVG(x), 9) AS mu FROM dims GROUP BY 1),
        g0 AS (SELECT a.i AS i, b.i AS j, AVG(a.x * b.x) AS exy
               FROM dims a JOIN dims b ON a.vec_id = b.vec_id
               GROUP BY 1, 2),
        gram AS MATERIALIZED (
          SELECT g0.i, g0.j, ROUND(exy - ma.mu * mb.mu, 9) AS g
          FROM g0 JOIN mu ma ON ma.i = g0.i
                  JOIN mu mb ON mb.i = g0.j),
        v0 AS (SELECT p.p AS i, 0.125 AS v
               FROM (SELECT unnest(range(0, 64)) AS p) p),
        w1 AS MATERIALIZED (SELECT g.i, SUM(g.g * v.v) AS w
               FROM gram g JOIN v0 v ON v.i = g.j GROUP BY 1),
        v1 AS MATERIALIZED (SELECT i, ROUND(w / n.nrm, 9) AS v
               FROM w1, (SELECT ROUND(SQRT(SUM(w * w)), 9) AS nrm
                         FROM w1) n),
        w2 AS MATERIALIZED (SELECT g.i, SUM(g.g * v.v) AS w
               FROM gram g JOIN v1 v ON v.i = g.j GROUP BY 1),
        v2 AS MATERIALIZED (SELECT i, ROUND(w / n.nrm, 9) AS v
               FROM w2, (SELECT ROUND(SQRT(SUM(w * w)), 9) AS nrm
                         FROM w2) n),
        w3 AS MATERIALIZED (SELECT g.i, SUM(g.g * v.v) AS w
               FROM gram g JOIN v2 v ON v.i = g.j GROUP BY 1),
        v3 AS MATERIALIZED (SELECT i, ROUND(w / n.nrm, 9) AS v
               FROM w3, (SELECT ROUND(SQRT(SUM(w * w)), 9) AS nrm
                         FROM w3) n)"""

  /** IVF training-sample cap and Lloyd iteration count, shared by the
    * in-query quantizer and `sinks.VectorIndex` (and restated verbatim
    * in [[ivfCentsDuck]]).
    */
  private[graft] val IvfSampleCap = 256
  private[graft] val IvfIters = 3

  /** TRAINED IVF coarse quantizer: spherical k-means centroids from a
    * fixed number of Lloyd iterations over a bounded, deterministic
    * training sample (`vec_id < ` [[IvfSampleCap]]), seeded by the
    * first-k convention. This is how a production IVF index trains at
    * 100 TB — the quantizer fits on a SAMPLE (faiss trains on
    * ~10⁴–10⁵ vectors regardless of corpus size), then the full corpus
    * is assigned against the frozen centroids — so training cost is
    * corpus-size-independent, and an incremental index built over any
    * superset of the sample reproduces the exact same quantizer
    * (VectorIndexSpec's trained-append contract relies on this).
    *
    * OPT-IN, not the q48-family default: on this repo's synthetic
    * corpus training measurably hurts fixed-nprobe recall (see
    * [[ivfRanked]]'s scaladoc for the numbers) because the embeddings
    * carry no cluster structure for Lloyd to find. q188 pins the
    * training math cross-engine; `VectorIndex.build(trainIters = …)`
    * uses it for corpora where it earns its keep.
    *
    * Determinism (the q101 bounded-superstep recipe): each iteration
    * is a barrier — assign sample to nearest centroid (sim desc,
    * cent_id asc: q48's exact tiebreak), per-cell per-dim mean rounded
    * at 9 (partial-agg summation order cannot show), spherical
    * renormalize (exact IEEE ops over the round-9 inputs), empty cells
    * keep their previous centroid. localCheckpoint per superstep keeps
    * lineage flat; every relation is ≤ sample-sized.
    */
  private[graft] def ivfCentroids(e: org.apache.spark.sql.DataFrame,
      k: Int, iters: Int = IvfIters): org.apache.spark.sql.DataFrame = {
    val samp = e.filter(col("vec_id") < IvfSampleCap)
      .select(col("vec_id"), col("v")).ckpt()
    var cents = samp.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      .ckpt()
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id").asc)
    for (_ <- 1 to iters) {
      val assign = samp.join(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cent_id"),
          expr("dot_product(v, cv)").as("sim"))
        .withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1)
        .select(col("cent_id"), col("v"))
      val means = assign
        .select(col("cent_id"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cent_id"), col("i"))
        .agg(round(avg(col("x")), 9).as("m"))
        .groupBy(col("cent_id"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(i, m))), s -> s.m)")
          .as("mv"))
      cents = cents.select(col("cent_id"), col("cv").as("prev"))
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(
          expr("""transform(mv, x -> x / sqrt(
                    aggregate(mv, 0D, (a, y) -> a + y * y)))"""),
          col("prev")).as("cv"))
        .ckpt()
    }
    cents
  }

  /** DuckDB CTE chain restating [[ivfCentroids]] exactly (seed, sample,
    * [[IvfIters]] Lloyd iterations with round-9 means + spherical
    * renormalize + empty-cell carryover), ending in
    * `cents(cent_id, cv)`. Interpolated into every oracle whose query
    * rides [[ivfRanked]]; assumes a prior CTE `e(vec_id, v)`.
    */
  private[queries] val ivfCentsDuck: String = {
    val chain = (1 to IvfIters).map { n =>
      val p = n - 1
      s"""trsims$n AS (SELECT s.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65),
                     i -> s.v[i] * c.cv[i])) AS sim
                 FROM trsamp s, trcents$p c),
        trassign$n AS (SELECT vec_id, cent_id FROM (
                   SELECT vec_id, cent_id,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM trsims$n) t WHERE rn = 1),
        trmeans$n AS (SELECT a.cent_id, t.i, ROUND(AVG(s.v[t.i]), 9) AS m
                 FROM trassign$n a JOIN trsamp s ON s.vec_id = a.vec_id,
                      range(1, 65) t(i)
                 GROUP BY 1, 2),
        trmv$n AS (SELECT cent_id, list(m ORDER BY i) AS mv
                 FROM trmeans$n GROUP BY 1),
        trcents$n AS (SELECT c.cent_id,
                   COALESCE(list_transform(v.mv, x -> x / sqrt(
                     list_sum(list_transform(v.mv, y -> y * y)))),
                     c.cv) AS cv
                 FROM trcents$p c LEFT JOIN trmv$n v
                   ON v.cent_id = c.cent_id)"""
    }.mkString(",\n        ")
    s"""trsamp AS (SELECT vec_id, v FROM e WHERE vec_id < $IvfSampleCap),
        trcents0 AS (SELECT vec_id AS cent_id, v AS cv
                     FROM e WHERE vec_id < 16),
        $chain,
        cents AS (SELECT cent_id, cv FROM trcents$IvfIters)"""
  }

  /** IVF cell assignment shared by q48/q59/q120/q149/q172: the first
    * `k` vectors are the centroids (data-point ANCHORS); every vector
    * joins the broadcast centroid table and keeps its best cell by
    * (sim desc, cent_id asc). One definition so the callers can never
    * quantize differently.
    *
    * Anchors are the MEASURED choice, not a stand-in kept for
    * convenience: round-6 swapped in [[ivfCentroids]]'s trained
    * k-means here and q120's recall@3 dropped 0.967 → 0.700 at equal
    * nprobe (plateauing at 0.767 even at nprobe = 4) on both sf0.01
    * and sf0.1 — this corpus is near-uniform on the sphere (12% of
    * true top-3 neighbors share the query's label; chance = 10%), so
    * Lloyd iterations minimize quantization error while DEGRADING
    * neighbor co-location. Trained quantization remains available
    * (q188 pins the math; `VectorIndex.build(trainIters = …)` opts in)
    * for corpora with real cluster structure.
    *
    * @return (vec_id, cell, v) — plus rank 1..k in `ranked` form for
    *         callers that probe multiple cells
    */
  private def ivfRanked(e: org.apache.spark.sql.DataFrame, k: Int) = {
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id").asc)
    e.join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"), col("v"),
        expr("dot_product(v, cv)").as("sim"))
      .withColumn("rn", row_number().over(byVec))
  }

  private def ivfAssign(e: org.apache.spark.sql.DataFrame, k: Int) =
    ivfRanked(e, k).filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"), col("v"))

  /** Product-quantization building blocks shared by q71 (codes) and q72
    * (ADC search): 8 subspaces of 8 dims, codebook = the first 16
    * vectors' slices (the suite's deterministic stand-in for trained
    * centroids, cf. q48).
    *
    * ‖sub‖² is hoisted per (vector, subspace) row (40k interpreted
    * folds) so the 640k-row scoring path runs ONE codegen'd dot_product
    * plus scalar arithmetic — an interpreted zip_with fold there was
    * the whole pipeline's cost. d2 = ‖sub‖² + ‖csub‖² − 2·sub·csub
    * (same decomposition in the oracles); greatest(…, 0) pins the
    * −1e-16 cancellation residue of identical subvectors away from
    * −0.0 (repr-level hash divergence). The argmin folds map-side as
    * min(struct(d2r, cent_id)) instead of sorting under a window; the
    * struct order (distance, then centroid id) is the same tiebreak the
    * oracles' ROW_NUMBER uses.
    *
    * @return (subbed, cents, assigned): per-(vec, j) subvectors with
    *         norms; the 128-row codebook; the per-(vec, j) chosen
    *         (cent_id, d2r)
    */
  private def pqParts(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val subbed = pqSub(vectors(s, dir))
    val cents = pqCodebook(subbed)
    (subbed, cents, pqAssign(subbed, cents))
  }

  /** Per-(vec, j) subvectors with hoisted norms from unit-normalized
    * (vec_id, v) rows — the split step of [[pqParts]], shared with
    * `sinks.VectorIndex`'s persisted PQ path so the two formulations
    * cannot drift (ONE definition of the subspace slicing).
    */
  private[graft] def pqSub(e: org.apache.spark.sql.DataFrame) =
    e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("j"),
        col("v"))
      .select(col("vec_id"), col("j"),
        expr("slice(v, j * 8 + 1, 8)").as("sub"))
      .withColumn("sub2", expr(
        "aggregate(sub, 0D, (a, x) -> a + x * x)"))

  /** The 128-row codebook: the first 16 vectors' subspace slices (the
    * fixed-sample convention that keeps PQ append ≡ rebuild exact,
    * cf. q48's quantizer).
    */
  private[graft] def pqCodebook(subbed: org.apache.spark.sql.DataFrame) =
    subbed.where(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cent_id"), col("j"),
        col("sub").as("csub"), col("sub2").as("csub2"))

  /** Nearest-codeword assignment per (vec, j): map-side argmin over
    * min(struct(d2r, cent_id)) — distance-then-centroid-id, the same
    * tiebreak the oracles' ROW_NUMBER uses.
    */
  private[graft] def pqAssign(subbed: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame) =
    subbed.join(broadcast(cents), Seq("j"))
      .withColumn("d2r", expr(
        """round(greatest(sub2 + csub2 - 2.0d * dot_product(sub, csub),
             0D), 9)"""))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2r"), col("cent_id"))).as("b"))
      .select(col("vec_id"), col("j"),
        col("b.cent_id").as("cent_id"), col("b.d2r").as("d2r"))

  /** Per-query ADC lookup table — (qid, j, cent_id, qd2r), the
    * subspace distance of each query slice to each codeword, rounded
    * at 9 (the q71/q72 fold-order guard). queries × 128 rows —
    * broadcast by callers.
    */
  private[graft] def pqLut(qsubbed: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame) =
    qsubbed
      .select(col("vec_id").as("qid"), col("j"),
        col("sub").as("qsub"), col("sub2").as("qsub2"))
      .join(broadcast(cents), Seq("j"))
      .select(col("qid"), col("j"), col("cent_id"),
        expr("""round(greatest(qsub2 + csub2
                  - 2.0d * dot_product(qsub, csub), 0D), 9)""")
          .as("qd2r"))

  /** ADC scoring over exploded (vec_id, j, cent_id) codes against a
    * broadcast LUT: approximate distance = 8 lookups summed (rounded
    * at 6), self-match excluded, top-k per query with vec_id tiebreak
    * — q72's scorer and output contract (qid, neighbor_id, rk,
    * adist_r), shared with `sinks.VectorIndex.searchAdc`.
    */
  private[graft] def pqAdcTopK(codes: org.apache.spark.sql.DataFrame,
      lut: org.apache.spark.sql.DataFrame, topK: Int) = {
    val byQ = Window.partitionBy(col("qid"))
      .orderBy(col("ad6").asc, col("vec_id").asc)
    // codes without a qid column (q72) score against EVERY query in
    // the LUT; IVF-pruned candidates (VectorIndex.searchAdc) carry
    // their qid, so the join scores each candidate for its query only
    val keys = if (codes.columns.contains("qid"))
      Seq("qid", "j", "cent_id") else Seq("j", "cent_id")
    codes.join(broadcast(lut), keys)
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("qd2r")), 6).as("ad6"))
      .withColumn("rk", row_number().over(byQ))
      .where(col("rk") <= topK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rk"),
        col("ad6").as("adist_r"))
  }

  /** DuckDB restatement of [[pqParts]] — the shared CTE prefix of the
    * q71/q72 oracles (`e` → `subbed` → `cents` → `scored` → `assigned`).
    */
  private val pqDuckCtes = """
    e AS (SELECT vec_id,
            list_transform(embedding::DOUBLE[],
              x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
          FROM embeddings),
    subbed AS (SELECT vec_id, j, sub,
                      list_sum(list_transform(sub, x -> x * x)) AS sub2
               FROM (SELECT vec_id, j, v[(j*8 + 1):(j*8 + 8)] AS sub
                     FROM e, (SELECT unnest(range(0, 8)) AS j) js) t),
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cent_id, j,
                     sub AS csub, sub2 AS csub2
              FROM subbed WHERE vec_id < 16),
    scored AS (SELECT s.vec_id, s.j, c.cent_id,
                      ROUND(GREATEST(s.sub2 + c.csub2
                        - 2.0 * list_sum(list_transform(range(1, 9),
                            i -> s.sub[i] * c.csub[i])), 0), 9) AS d2r
               FROM subbed s JOIN cents c ON s.j = c.j),
    assigned AS (SELECT * FROM (
                   SELECT vec_id, j, cent_id, d2r,
                          ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d2r ASC, cent_id ASC) AS rn
                   FROM scored) t WHERE rn = 1)"""

  val defs: Seq[QDef] = Seq(
    // ------------------------------------------------------------------
    // q26: brute-force cosine top-5 for the first 10 vectors as queries.
    QDef(
      "q26_cosine_topk",
      (s, dir) => {
        val e = vectors(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        q.join(e, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"),
            expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("neighbor_id"), col("rk"),
            round(col("cos"), 6).as("cos_r"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        scored AS (
          SELECT qid, e.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) AS cos
          FROM q JOIN e ON e.vec_id <> qid),
        ranked AS (
          SELECT qid, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored)
        SELECT qid, neighbor_id, CAST(rk AS INTEGER) AS rk,
               ROUND(cos, 6) AS cos_r
        FROM ranked WHERE rk <= 5
      """)),

    // ------------------------------------------------------------------
    // q27: LSH-bucketed ANN — bucket = sign bits of dims 1..4 (16
    // buckets); neighbors only scanned within the query's bucket. The
    // candidate join is equi-join on bucket, so it shuffles by bucket
    // instead of exploding into a cross join.
    QDef(
      "q27_ann_bucketed",
      (s, dir) => {
        val bucketExpr =
          """cast(case when element_at(v, 1) >= 0D then 8 else 0 end
               + case when element_at(v, 2) >= 0D then 4 else 0 end
               + case when element_at(v, 3) >= 0D then 2 else 0 end
               + case when element_at(v, 4) >= 0D then 1 else 0 end
             as int)"""
        val e = vectors(s, dir).withColumn("bucket", expr(bucketExpr))
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("bucket").as("qbucket"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        q.join(e, col("bucket") === col("qbucket") &&
            col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qbucket").as("bucket"),
            col("vec_id").as("neighbor_id"), expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("bucket"), col("neighbor_id"), col("rk"),
            round(col("cos"), 6).as("cos_r"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v,
                 CAST(CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
                    + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END AS INTEGER)
                   AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket
              FROM e WHERE vec_id < 20),
        scored AS (
          SELECT qid, qbucket AS bucket, e.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) AS cos
          FROM q JOIN e ON e.bucket = qbucket AND e.vec_id <> qid),
        ranked AS (
          SELECT qid, bucket, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored)
        SELECT qid, bucket, neighbor_id, CAST(rk AS INTEGER) AS rk,
               ROUND(cos, 6) AS cos_r
        FROM ranked WHERE rk <= 3
      """)),

    // ------------------------------------------------------------------
    // q33: embedding-cosine near-dup — the dedup flavor that keys on
    // vector similarity, formulated as the production two-stage pipeline:
    // (1) candidate generation via sign-LSH banding — 8 bands × 8 sign
    // bits each (random-hyperplane LSH with axis-aligned planes); a pair
    // is a candidate iff it collides in ≥1 band — then (2) exact cosine
    // re-rank of candidates, top-20 with full tiebreak. The oracle
    // restates the identical band semantics (the q23 MinHash-LSH
    // pattern), so the check is a full hash match on a well-defined
    // candidate set.
    //
    // Scale: candidates come from an equi-join on (band, bucket) — the
    // shuffle key that shards across executors — and carry only id
    // pairs; vectors are re-joined by id for the re-rank. No cross
    // product anywhere. On this synthetic corpus (top pair cosine ≈ 0.5,
    // i.e. no true near-dups) the 8×8-bit config keeps 3.1% of all
    // pairs; on a real near-dup corpus (cos ≥ 0.9) band recall is ≥98%
    // while pruning far harder. The round-1 brute-force formulation
    // (BroadcastNestedLoopJoin over all pairs) is retired — a cartesian
    // product is a scale-killer regardless of labeling.
    QDef(
      "q33_embedding_neardup",
      (s, dir) => {
        // Sign bits from the RAW float embedding (not the normalized
        // copy): positive-norm division preserves sign, but comparing
        // the stored value leaves zero room for cross-engine drift.
        val bandCols = (0 until 8).map { b =>
          val bits = (1 to 8).map { k =>
            s"(case when element_at(embedding, ${8 * b + k}) >= 0 then ${256 >> k} else 0 end)"
          }.mkString(" + ")
          struct(lit(b).as("band"), expr(s"cast($bits as int)").as("bucket"))
        }
        val banded = Tables(s, dir).embeddings
          .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
          .select(col("vec_id"), col("bb.band").as("band"),
            col("bb.bucket").as("bucket"))
        val cand = banded.alias("a").join(banded.alias("b"),
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
          .distinct()
        val e = vectors(s, dir)
        val va = e.select(col("vec_id").as("id_a"), col("v").as("qv"))
        val vb = e.select(col("vec_id").as("id_b"), col("v"))
        cand.join(va, "id_a").join(vb, "id_b")
          .select(col("id_a"), col("id_b"), round(expr(COS), 6).as("cos_r"))
          .orderBy(col("cos_r").desc, col("id_a").asc, col("id_b").asc)
          .limit(20)
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        bands AS (
          SELECT vec_id, band,
                 list_sum(list_transform(range(1, 9),
                   k -> CASE WHEN embedding[band*8 + k] >= 0
                             THEN 256 >> k ELSE 0 END)) AS bucket
          FROM e, (SELECT unnest(range(0, 8)) AS band) b),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bucket = b.bucket
                  AND a.vec_id < b.vec_id),
        scored AS (
          SELECT id_a, id_b,
                 ROUND(list_sum(list_transform(range(1, 65),
                   i -> ea.v[i] * eb.v[i])), 6) AS cos_r
          FROM cand
          JOIN e ea ON ea.vec_id = id_a
          JOIN e eb ON eb.vec_id = id_b)
        SELECT id_a, id_b, cos_r
        FROM scored
        ORDER BY cos_r DESC, id_a ASC, id_b ASC
        LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // q48: IVF ANN — the other scale path next to q27's LSH. Coarse
    // quantizer = the first 16 vectors as data-point anchors — the
    // MEASURED winner over trained k-means for this corpus (see
    // ivfRanked's scaladoc; q188 ships the trained path for corpora
    // with cluster structure): every vector is assigned to its nearest
    // centroid cell, queries probe their top-2 cells, and only those
    // cells are scanned.
    // On a cluster the cell id is the partition key — the corpus-wide
    // scan becomes nprobe cell scans. All similarity math runs through
    // the codegen'd dot_product over pre-normalized vectors.
    QDef(
      "q48_ann_ivf",
      (s, dir) => {
        val e = vectors(s, dir)
        val ranked = ivfRanked(e, 16)
        val assign = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("cent_id").as("cell"))
        val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
        val cand = probes.join(assign, "cell")
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"))
          .distinct()
        val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
        val n = e.select(col("vec_id").as("neighbor_id"), col("v"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        cand.join(q, "qid").join(n, "neighbor_id")
          .select(col("qid"), col("neighbor_id"),
            expr("dot_product(qv, v)").as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("neighbor_id"),
            col("rk").cast("int").as("rk"), round(col("cos"), 6).as("cos_r"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
        probes AS (SELECT vec_id AS qid, cent_id AS cell
                   FROM ranked WHERE rn <= 2 AND vec_id < 10),
        cand AS (SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
                 FROM probes p JOIN assign a ON a.cell = p.cell
                 WHERE a.vec_id <> p.qid),
        scored AS (
          SELECT c.qid, c.neighbor_id,
                 list_sum(list_transform(range(1, 65),
                   i -> qe.v[i] * ne.v[i])) AS cos
          FROM cand c
          JOIN e qe ON qe.vec_id = c.qid
          JOIN e ne ON ne.vec_id = c.neighbor_id),
        out AS (SELECT qid, neighbor_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos DESC, neighbor_id ASC) AS rk
                FROM scored)
        SELECT qid, neighbor_id, CAST(rk AS INTEGER) AS rk,
               ROUND(cos, 6) AS cos_r
        FROM out WHERE rk <= 3
      """)),

    // ------------------------------------------------------------------
    // q59: SemDeDup-style semantic dedup (Abbas et al. 2023): assign
    // every embedding to its IVF cell (q48's coarse quantizer), compute
    // pairwise cosine ONLY within cells, and drop any vector that has a
    // smaller-id ε-neighbor in its cell — the pragmatic greedy survivor
    // rule (transitive grouping is q54's connected components applied to
    // these edges). ε = 0.4 is corpus-tuned: the synthetic embeddings
    // have no true near-dups (max cos ≈ 0.53), so a production 0.9+
    // threshold would make keep/drop trivial. Cosines are rounded to 9
    // digits BEFORE thresholding so a 1-ulp fold-order difference can
    // never flip ε-membership across engines.
    //
    // Scale: the cell id bounds the quadratic blast radius and is the
    // shuffle key — exactly the SemDeDup design point (cluster first so
    // pairwise work is per-cell, never corpus-wide).
    QDef(
      "q59_semantic_dedup",
      (s, dir) => {
        // localCheckpoint: the assignment table feeds both sides of the
        // within-cell self-join AND the final left join — three
        // recomputes of the centroid-probe pipeline without it. Same
        // materialize-the-contracted-table call as q54/q58; SemDeDup's
        // cluster assignment is persisted state in the reference design
        // too (Abbas et al. 2023 §3).
        val assign = ivfAssign(vectors(s, dir), 16).ckpt()
        val a = assign.alias("a")
        val b = assign.alias("b")
        val pairs = a.join(b,
            col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
            expr("round(dot_product(a.v, b.v), 9)").as("cos9"))
          .where(col("cos9") >= 0.4)
        val neighbors = pairs
          .select(col("ia").as("vec_id"), col("ib").as("nb"), col("cos9"))
          .union(pairs.select(col("ib"), col("ia"), col("cos9")))
        val stats = neighbors.groupBy(col("vec_id"))
          .agg(count(lit(1)).as("n_near"), min(col("nb")).as("min_nb"),
            max(col("cos9")).as("max_cos"))
        assign.select(col("vec_id"), col("cell"))
          .join(stats, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            expr("""cast(case when min_nb is null or min_nb > vec_id
                         then 1 else 0 end as int)""").as("keep"),
            coalesce(round(col("max_cos"), 6), lit(0.0d)).as("max_cos_r"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id, e.v,
                   list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        assign AS (SELECT vec_id, cent_id AS cell, v FROM (
                     SELECT vec_id, cent_id, v,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY sim DESC, cent_id ASC) AS rn
                     FROM sims) t WHERE rn = 1),
        pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                    ROUND(list_sum(list_transform(range(1, 65),
                      i -> a.v[i] * b.v[i])), 9) AS cos9
                  FROM assign a JOIN assign b
                    ON a.cell = b.cell AND a.vec_id < b.vec_id
                  WHERE ROUND(list_sum(list_transform(range(1, 65),
                      i -> a.v[i] * b.v[i])), 9) >= 0.4),
        neighbors AS (SELECT ia AS vec_id, ib AS nb, cos9 FROM pairs
                      UNION ALL SELECT ib, ia, cos9 FROM pairs),
        stats AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_near,
                         MIN(nb) AS min_nb, MAX(cos9) AS max_cos
                  FROM neighbors GROUP BY vec_id)
        SELECT a.vec_id, a.cell,
               COALESCE(n_near, 0) AS n_near,
               CAST(CASE WHEN min_nb IS NULL OR min_nb > a.vec_id
                    THEN 1 ELSE 0 END AS INT) AS keep,
               COALESCE(ROUND(max_cos, 6), 0.0) AS max_cos_r
        FROM assign a LEFT JOIN stats ON stats.vec_id = a.vec_id
      """)),

    // ------------------------------------------------------------------
    // q71: product quantization (the PQ in IVF-PQ, Jégou et al. 2011) —
    // the compression that makes billion-vector ANN feasible: the 64-dim
    // vector splits into 8 subspaces of 8 dims; each subvector is coded
    // as its nearest of 16 per-subspace centroids (here the first 16
    // vectors' slices — the deterministic stand-in this suite uses for
    // trained centroids, cf. q48), compressing 512 bytes to 8. Output is
    // every vector's 8-byte code plus its reconstruction error.
    //
    // Scale: the codebook is 128 tiny rows — broadcast; assignment is a
    // scan-side map over (vector × subspace) rows, partial-agg folds the
    // 8 codes back per vector; nothing shuffles except the final 40k-row
    // regroup on vec_id. Determinism: squared distances are rounded to
    // 9 digits BEFORE the argmin (1-ulp fold-order guard) and the
    // tiebreak is centroid id; the error sum re-rounds at 6.
    QDef(
      "q71_pq_codes",
      (s, dir) => {
        val (_, _, assigned) = pqParts(s, dir)
        val codeCols = (0 until 8).map(k =>
          sum(when(col("j") === k, col("cent_id"))).cast("int")
            .as(s"code_$k"))
        assigned.groupBy(col("vec_id"))
          .agg(codeCols.head, (codeCols.tail :+
            round(sqrt(sum(col("d2r"))), 6).as("recon_err_r")): _*)
      },
      Some(s"""
        WITH $pqDuckCtes
        SELECT vec_id,
               CAST(SUM(CASE WHEN j = 0 THEN cent_id END) AS INTEGER) AS code_0,
               CAST(SUM(CASE WHEN j = 1 THEN cent_id END) AS INTEGER) AS code_1,
               CAST(SUM(CASE WHEN j = 2 THEN cent_id END) AS INTEGER) AS code_2,
               CAST(SUM(CASE WHEN j = 3 THEN cent_id END) AS INTEGER) AS code_3,
               CAST(SUM(CASE WHEN j = 4 THEN cent_id END) AS INTEGER) AS code_4,
               CAST(SUM(CASE WHEN j = 5 THEN cent_id END) AS INTEGER) AS code_5,
               CAST(SUM(CASE WHEN j = 6 THEN cent_id END) AS INTEGER) AS code_6,
               CAST(SUM(CASE WHEN j = 7 THEN cent_id END) AS INTEGER) AS code_7,
               ROUND(SQRT(SUM(d2r)), 6) AS recon_err_r
        FROM assigned
        GROUP BY vec_id
      """)),

    // ------------------------------------------------------------------
    // q72: PQ asymmetric-distance search (the ADC in IVF-PQ) — the read
    // side of q71's codes: each query vector precomputes an 8×16 lookup
    // table of subspace distances to the codebook, and every corpus
    // vector's approximate distance is just 8 table lookups summed —
    // the codes table is never decompressed. Top-3 per query by
    // approximate distance.
    //
    // Scale: the LUT is (queries × 128) rows — broadcast; the scoring
    // join is codes ⋈ LUT on (subspace, code), a pure map over the
    // codes stream; per-(query, vector) sums partial-agg before the
    // only shuffle. Determinism: LUT entries are rounded at 9 (same
    // guard as q71); ranks compare the SUM rounded at 6 with vec_id
    // tiebreak, so a 1-ulp fold-order difference cannot reorder.
    QDef(
      "q72_pq_adc_search",
      (s, dir) => {
        val (subbed, cents, assigned) = pqParts(s, dir)
        val codes = assigned
          .select(col("vec_id"), col("j"), col("cent_id"))
        // LUT + scorer are the SAME definitions sinks.VectorIndex's
        // persisted ADC path executes (pqLut/pqAdcTopK) — the spec's
        // parity gate keeps the two formulations in sync
        pqAdcTopK(codes,
          pqLut(subbed.where(col("vec_id") < 10), cents), 3)
      },
      Some(s"""
        WITH $pqDuckCtes,
        codes AS (SELECT vec_id, j, cent_id FROM assigned),
        lut AS (SELECT s.vec_id AS qid, s.j, c.cent_id,
                       ROUND(GREATEST(s.sub2 + c.csub2
                         - 2.0 * list_sum(list_transform(range(1, 9),
                             i -> s.sub[i] * c.csub[i])), 0), 9) AS qd2r
                FROM subbed s JOIN cents c ON s.j = c.j
                WHERE s.vec_id < 10),
        sc AS (SELECT l.qid, co.vec_id,
                      ROUND(SUM(qd2r), 6) AS ad6
               FROM codes co JOIN lut l
                 ON co.j = l.j AND co.cent_id = l.cent_id
               WHERE l.qid <> co.vec_id
               GROUP BY 1, 2),
        ranked AS (SELECT qid, vec_id, ad6,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ad6 ASC, vec_id ASC) AS rk
                   FROM sc)
        SELECT qid, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rk,
               ad6 AS adist_r
        FROM ranked WHERE rk <= 3
      """)),

    // ------------------------------------------------------------------
    // q73: embedding outlier detection — the drift/QA pass over a
    // labeled embedding corpus: per-label centroid (dimension-wise
    // mean), then the 5 vectors farthest from their own centroid. The
    // shape is fully exploded — (vec, dim) rows join the broadcast
    // (label, dim) centroid and the squared deltas partial-agg back per
    // vector — so nothing ever materializes a per-group array and the
    // only real shuffle is keyed by vec_id.
    //
    // Determinism: the dimension means are averages of ~N doubles in
    // engine/partition-dependent order, so they are rounded at 9 before
    // any distance math; ranks compare the distance rounded at 6 with a
    // vec_id tiebreak (the q72 rule), so fold-order ulp noise cannot
    // reorder.
    QDef(
      "q73_embedding_outliers",
      (s, dir) => {
        // localCheckpoint: dims feeds the centroid aggregation AND the
        // distance join (the repo's standard materialize-once call for
        // a twice-consumed subtree)
        val dims = vectors(s, dir)
          .select(col("vec_id"), col("label"),
            posexplode(col("v")).as(Seq("p", "x")))
          .ckpt()
        val centroid = dims.groupBy(col("label"), col("p"))
          .agg(round(avg(col("x")), 9).as("c"))
        val byLabel = Window.partitionBy(col("label"))
          .orderBy(col("dist_r").desc, col("vec_id").asc)
        dims.join(broadcast(centroid), Seq("label", "p"))
          .groupBy(col("vec_id"), col("label"))
          .agg(round(sqrt(sum((col("x") - col("c")) * (col("x") - col("c")))),
            6).as("dist_r"))
          .withColumn("rk", row_number().over(byLabel))
          .where(col("rk") <= 5)
          .select(col("label"), col("vec_id"), col("rk"), col("dist_r"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        dims AS (SELECT vec_id, label, p.p AS p, v[p.p + 1] AS x
                 FROM e, (SELECT unnest(range(0, 64)) AS p) p),
        centroid AS (SELECT label, p, ROUND(AVG(x), 9) AS c
                     FROM dims GROUP BY label, p),
        dist AS (SELECT vec_id, d.label,
                        ROUND(SQRT(SUM((x - c) * (x - c))), 6) AS dist_r
                 FROM dims d JOIN centroid ct
                   ON d.label = ct.label AND d.p = ct.p
                 GROUP BY 1, 2),
        ranked AS (SELECT label, vec_id, dist_r,
                          ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist_r DESC, vec_id ASC) AS rk
                   FROM dist)
        SELECT label, vec_id, CAST(rk AS INTEGER) AS rk, dist_r
        FROM ranked WHERE rk <= 5
      """)),

    // ------------------------------------------------------------------
    // q76: k-means, two Lloyd rounds, k = 8 — the trained-centroid step
    // that q48's IVF and q71's PQ stand in for with "first k vectors"
    // (cf. reference's clustering-free pipeline; this is the Spark-side
    // trainer a user would run before either). Everything stays in the
    // exploded (vec, dim) layout q73 established: assignment is a join
    // against the BROADCAST (cent, dim) table + two partial-aggable
    // shuffles (sum d² per (vec, cent), then argmin per vec); centroid
    // recompute is one avg keyed by (cent, dim). Nothing ever holds a
    // per-cluster array, so the plan scales linearly in corpus size and
    // the centroid state stays k×64 rows regardless of N.
    //
    // Determinism (the q71-q73 rules): init centroids are the first 8
    // vectors; d² = ‖v‖² + ‖c‖² − 2·v·c (the q71 decomposition, so the
    // hot loop is ONE codegen'd dot_product per (vec, cent) instead of
    // 64 aggregated dim rows), greatest(…, 0)-pinned and rounded at 9
    // before the argmin, whose tiebreak is min(struct(d2r, cent_id)) =
    // the oracle's ROW_NUMBER order; recomputed centroid dims are
    // rounded at 9 and reassembled in p order before round-2 math; the
    // reported mean d² is rounded at 6.
    QDef(
      "q76_kmeans",
      (s, dir) => {
        // vecs feeds both assignment rounds and the centroid recompute
        // — the standard materialize-once localCheckpoint
        val vecs = vectors(s, dir)
          .select(col("vec_id"), col("v"),
            expr("aggregate(v, 0D, (a, x) -> a + x * x)").as("v2"))
          .ckpt()
        def assign(cents: org.apache.spark.sql.DataFrame) =
          vecs.join(broadcast(cents))
            .withColumn("d2r", expr(
              """round(greatest(v2 + c2 - 2.0d * dot_product(v, cv), 0D),
                   9)"""))
            .groupBy(col("vec_id"))
            .agg(min(struct(col("d2r"), col("cent_id"))).as("b"))
            .select(col("vec_id"), col("b.cent_id").as("cent_id"),
              col("b.d2r").as("d2r"))
        val cents0 = vecs.where(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("cent_id"),
            col("v").as("cv"), col("v2").as("c2"))
        val cents1 = vecs
          .join(assign(cents0).select("vec_id", "cent_id"), "vec_id")
          .select(col("cent_id"), posexplode(col("v")).as(Seq("p", "x")))
          .groupBy(col("cent_id"), col("p"))
          .agg(round(avg(col("x")), 9).as("c"))
          .groupBy(col("cent_id"))
          .agg(expr("transform(array_sort(collect_list(struct(p, c))), " +
            "s -> s.c)").as("cv"))
          .withColumn("c2", expr("aggregate(cv, 0D, (a, x) -> a + x * x)"))
        assign(cents1)
          .groupBy(col("cent_id"))
          .agg(count(lit(1)).as("n"), round(avg(col("d2r")), 6).as("avg_d2"))
          .select(col("cent_id"), col("n"), col("avg_d2"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        ev AS (SELECT vec_id, v,
                      list_sum(list_transform(v, x -> x * x)) AS v2
               FROM e),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cent_id, v AS cv, v2 AS c2
               FROM ev WHERE vec_id < 8),
        s1 AS (SELECT vec_id, cent_id,
                      ROUND(GREATEST(v2 + c2
                        - 2.0 * list_sum(list_transform(range(1, 65),
                            i -> v[i] * cv[i])), 0), 9) AS d2r
               FROM ev, c0),
        a1 AS (SELECT vec_id, cent_id FROM (
                 SELECT vec_id, cent_id,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY d2r ASC, cent_id ASC) AS rn
                 FROM s1) t WHERE rn = 1),
        c1d AS (SELECT a.cent_id, p.p AS p, ROUND(AVG(v[p.p + 1]), 9) AS c
                FROM ev d JOIN a1 a ON d.vec_id = a.vec_id,
                     (SELECT unnest(range(0, 64)) AS p) p
                GROUP BY 1, 2),
        c1 AS (SELECT cent_id, cv,
                      list_sum(list_transform(cv, x -> x * x)) AS c2
               FROM (SELECT cent_id, list(c ORDER BY p) AS cv
                     FROM c1d GROUP BY cent_id) t),
        s2 AS (SELECT vec_id, cent_id,
                      ROUND(GREATEST(v2 + c2
                        - 2.0 * list_sum(list_transform(range(1, 65),
                            i -> v[i] * cv[i])), 0), 9) AS d2r
               FROM ev, c1),
        a2 AS (SELECT vec_id, cent_id, d2r FROM (
                 SELECT vec_id, cent_id, d2r,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY d2r ASC, cent_id ASC) AS rn
                 FROM s2) t WHERE rn = 1)
        SELECT cent_id, COUNT(*) AS n, ROUND(AVG(d2r), 6) AS avg_d2
        FROM a2 GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q115: contrastive HARD-NEGATIVE mining — for each query vector,
    // the top-3 most similar vectors with a DIFFERENT label (the
    // near-miss negatives a contrastive/embedding trainer pairs with
    // each anchor). Same bounded shape as q26: |queries| × corpus, not
    // corpus², so the candidate stage is a broadcast of the 10-row
    // query set against a scan of the corpus — at 100 TB the corpus
    // side stays partition-local and only 30 result rows leave. The
    // label inequality ALSO excludes self-pairs (an anchor shares its
    // own label), so no explicit id filter is needed.
    QDef(
      "q115_hard_negatives",
      (s, dir) => {
        val e = vectors(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neg_id").asc)
        broadcast(q).join(e, col("label") =!= col("qlabel"))
          .select(col("qid"), col("qlabel"),
            col("vec_id").as("neg_id"), col("label").as("neg_label"),
            expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("qlabel"), col("neg_id"),
            col("neg_label"), col("rk"), round(col("cos"), 6).as("cos_r"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
              FROM e WHERE vec_id < 10),
        scored AS (
          SELECT qid, qlabel, e.vec_id AS neg_id, e.label AS neg_label,
                 list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) AS cos
          FROM q JOIN e ON e.label <> qlabel),
        ranked AS (
          SELECT qid, qlabel, neg_id, neg_label, cos,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, neg_id ASC) AS rk
          FROM scored)
        SELECT qid, qlabel, neg_id, neg_label,
               CAST(rk AS INTEGER) AS rk, ROUND(cos, 6) AS cos_r
        FROM ranked WHERE rk <= 3
      """)),

    // ------------------------------------------------------------------
    // q119: model-eval at scale — one-vs-rest AUC for each label, where
    // the "model" scores every vector by cosine to that label's centroid
    // (the retrieval-quality readout an embedding pipeline runs after
    // (re)training). AUC is the tie-corrected Mann-Whitney statistic:
    //   AUC = Σ_s pos(s) · (negBelow(s) + ½·neg(s)) / (n_pos · n_neg)
    // computed over the DISTINCT-SCORE aggregate, never a global
    // row_number over raw rows: scores round at 6 first, so the rank
    // window's input is bounded by the distinct rounded scores per
    // label (≤10⁶ rows at ANY corpus size), and every product/sum in
    // the statistic is exact half-integer arithmetic — bit-identical
    // across engines, no float drift to absorb. Centroid arrays
    // broadcast; each vector scores with an array-local dot product.
    QDef(
      "q119_auc_eval",
      (s, dir) => {
        val vecs = vectors(s, dir).ckpt() // centroids + scoring
        // centroids via the (vec, dim) explode — a partial agg on
        // (label, p); but SCORING never re-explodes: the per-label
        // centroid is packed back into an array (10 rows) and each
        // vector takes an array-local zip_with dot against the
        // broadcast pack — N×10 rows instead of an N×64×10 join
        val dims = vecs.select(col("vec_id"), col("label"),
          posexplode(col("v")).as(Seq("p", "x")))
        val centroid = dims.groupBy(col("label").as("clabel"), col("p"))
          .agg(round(avg(col("x")), 9).as("c"))
        val packs = centroid.groupBy(col("clabel"))
          .agg(expr("transform(array_sort(collect_list(struct(p, c)))," +
            " s -> s.c)").as("cv"))
        val scores = vecs.join(broadcast(packs))
          .select(col("vec_id"), col("label"), col("clabel"),
            round(expr("aggregate(zip_with(v, cv, (x, y) -> x * y)," +
              " 0D, (a, b) -> a + b)"), 6).as("score"))
        val sc = scores.groupBy(col("clabel"), col("score"))
          .agg(sum(when(col("label") === col("clabel"), 1).otherwise(0))
            .as("pc"),
            sum(when(col("label") =!= col("clabel"), 1).otherwise(0))
              .as("nc"))
        val below = Window.partitionBy(col("clabel"))
          .orderBy(col("score").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = sc.withColumn("cumneg",
          coalesce(sum(col("nc")).over(below), lit(0L)))
        cum.groupBy(col("clabel"))
          .agg(sum(col("pc")).as("n_pos"), sum(col("nc")).as("n_neg"),
            round(sum(col("pc") *
              (col("cumneg").cast("double") +
                lit(0.5d) * col("nc").cast("double"))) /
              (sum(col("pc")) * sum(col("nc"))), 6).as("auc"))
          .select(col("clabel").as("label"), col("n_pos"), col("n_neg"),
            col("auc"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        dims AS (SELECT vec_id, label, p.p AS p, v[p.p + 1] AS x
                 FROM e, (SELECT unnest(range(0, 64)) AS p) p),
        centroid AS (SELECT label AS clabel, p, ROUND(AVG(x), 9) AS c
                     FROM dims GROUP BY 1, 2),
        scores AS (SELECT d.vec_id, d.label, ct.clabel,
                          ROUND(SUM(x * c), 6) AS score
                   FROM dims d JOIN centroid ct ON d.p = ct.p
                   GROUP BY 1, 2, 3),
        sc AS (SELECT clabel, score,
                      CAST(SUM(CASE WHEN label = clabel
                               THEN 1 ELSE 0 END) AS BIGINT) AS pc,
                      CAST(SUM(CASE WHEN label <> clabel
                               THEN 1 ELSE 0 END) AS BIGINT) AS nc
               FROM scores GROUP BY 1, 2),
        cum AS (SELECT clabel, score, pc, nc,
                       COALESCE(SUM(nc) OVER (PARTITION BY clabel
                         ORDER BY score ASC ROWS BETWEEN UNBOUNDED
                         PRECEDING AND 1 PRECEDING), 0) AS cumneg
                FROM sc)
        SELECT clabel AS label,
               CAST(SUM(pc) AS BIGINT) AS n_pos,
               CAST(SUM(nc) AS BIGINT) AS n_neg,
               ROUND(SUM(pc * (CAST(cumneg AS DOUBLE)
                               + 0.5 * CAST(nc AS DOUBLE)))
                     / (SUM(pc) * SUM(nc)), 6) AS auc
        FROM cum GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q120: ANN recall AUDIT — q48's claim ("IVF 2-probe recall@3") as a
    // driver-gated relation instead of a spec assertion: per query, how
    // many of the brute-force top-3 did the IVF index return? The
    // ground-truth side is q26's bounded shape (10 anchors × corpus);
    // the ANN side is q48's exact pipeline via the SAME ivfRanked
    // helper, so the audit measures the index that actually ships.
    // Recall is exact thirds — integer hit counts over a left-semi
    // join on (qid, neighbor) — so no float can drift; an index
    // regression (recall dropping) flips hash/rows and fails the gate.
    QDef(
      "q120_ann_recall",
      (s, dir) => {
        val e = vectors(s, dir)
        // ground truth: brute-force top-3 (q26's shape, k=3)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        val gt = q.join(e, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"),
            expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("neighbor_id"))
        // ANN: q48's IVF 2-probe top-3 (same ivfRanked helper).
        // ranked feeds assign AND probes but is NOT checkpointed here
        // (unlike q149/q172): both consumers branch after the same
        // centroid-join + window subtree, so exchange reuse bounds the
        // recompute to the post-shuffle window pass, and the measured
        // eager-materialization cost exceeded the saving (bench A/B:
        // ~2.45 s vs ~3.1 s at sf0.1). The 20-row probe batch still
        // broadcasts so the cell join never shuffles on 16 keys.
        val ranked = ivfRanked(e, 16)
          .select(col("vec_id"), col("cent_id"), col("rn"))
        val assign = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("cent_id").as("cell"))
        val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
        val cand = assign.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"))
          .distinct()
        val n = e.select(col("vec_id").as("neighbor_id"), col("v"))
        val ann = cand.join(q, "qid").join(n, "neighbor_id")
          .select(col("qid"), col("neighbor_id"), expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("neighbor_id"))
        val hits = gt.join(ann, Seq("qid", "neighbor_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
        q.select(col("qid"))
          .join(hits, Seq("qid"), "left").na.fill(0L, Seq("n_hits"))
          .select(col("qid"), col("n_hits"),
            round(col("n_hits").cast("double") / lit(3.0d), 6)
              .as("recall_r"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        gts AS (SELECT qid, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                         list_sum(list_transform(range(1, 65),
                           i -> qv[i] * v[i])) DESC, e.vec_id ASC) AS rk
                FROM q JOIN e ON e.vec_id <> qid),
        gt AS (SELECT qid, neighbor_id FROM gts WHERE rk <= 3),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
        probes AS (SELECT vec_id AS qid, cent_id AS cell
                   FROM ranked WHERE rn <= 2 AND vec_id < 10),
        cand AS (SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
                 FROM probes p JOIN assign a ON a.cell = p.cell
                 WHERE a.vec_id <> p.qid),
        anns AS (SELECT c.qid, c.neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
                          list_sum(list_transform(range(1, 65),
                            i -> qe.v[i] * ne.v[i])) DESC,
                          c.neighbor_id ASC) AS rk
                 FROM cand c
                 JOIN e qe ON qe.vec_id = c.qid
                 JOIN e ne ON ne.vec_id = c.neighbor_id),
        ann AS (SELECT qid, neighbor_id FROM anns WHERE rk <= 3),
        hits AS (SELECT g.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
                 FROM gt g JOIN ann a
                   ON a.qid = g.qid AND a.neighbor_id = g.neighbor_id
                 GROUP BY 1)
        SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
               ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0, 6)
                 AS recall_r
        FROM q LEFT JOIN hits h ON h.qid = q.qid
      """)),

    // ------------------------------------------------------------------
    // q127: threshold-sweep classifier evaluation — the operating-curve
    // companion to q119's AUC: score every vector against the label-0
    // centroid (one broadcast join + partial-aggregable dot product),
    // then evaluate the binary classifier "label = 0 iff score >= t"
    // at a fixed grid of thresholds, emitting the confusion matrix and
    // precision/recall/F1 per threshold. The sweep is a broadcast
    // cross join against a 7-row literal grid — each of the N·7 rows
    // contributes to ONE (threshold) group, so the whole evaluation is
    // a single map-side-combinable aggregation, the shape that holds
    // at 10^11 scored rows. All matrix cells are exact integers;
    // the P/R/F1 divisions are the same IEEE expressions in both
    // engines, nullif-guarded, rounded at 6.
    QDef(
      "q127_threshold_eval",
      (s, dir) => {
        val vecs = vectors(s, dir)
        // centroid from the label-0 slice only (explode is 50×64 rows);
        // scoring is an array-local zip_with dot against the ONE-row
        // broadcast centroid pack — the corpus is never exploded
        val centroid = vecs.where(col("label") === 0)
          .select(col("vec_id"), posexplode(col("v")).as(Seq("p", "x")))
          .groupBy(col("p")).agg(round(avg(col("x")), 9).as("c"))
        val pack = centroid
          .agg(expr("transform(array_sort(collect_list(struct(p, c)))," +
            " s -> s.c)").as("cv"))
        val scored = vecs.crossJoin(broadcast(pack))
          .select(col("vec_id"), col("label"),
            round(expr("aggregate(zip_with(v, cv, (x, y) -> x * y)," +
              " 0D, (a, b) -> a + b)"), 6).as("score"))
        val grid = expr(
          "explode(array(-0.25D, 0D, 0.1D, 0.2D, 0.3D, 0.4D, 0.5D))")
        scored.select(col("label"), col("score"), grid.as("t"))
          .groupBy(col("t"))
          .agg(
            sum(when(col("score") >= col("t") && col("label") === 0, 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("score") >= col("t") && col("label") =!= 0, 1L)
              .otherwise(0L)).as("fp"),
            sum(when(col("score") < col("t") && col("label") === 0, 1L)
              .otherwise(0L)).as("fn"),
            sum(when(col("score") < col("t") && col("label") =!= 0, 1L)
              .otherwise(0L)).as("tn"))
          .select(col("t"), col("tp"), col("fp"), col("fn"), col("tn"),
            round(col("tp").cast("double") /
              nullif(col("tp") + col("fp"), lit(0L)), 6).as("precision_"),
            round(col("tp").cast("double") /
              nullif(col("tp") + col("fn"), lit(0L)), 6).as("recall_"),
            round(lit(2.0d) * col("tp").cast("double") /
              nullif(lit(2L) * col("tp") + col("fp") + col("fn"), lit(0L)),
              6).as("f1"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        dims AS (SELECT vec_id, label, p.p AS p, v[p.p + 1] AS x
                 FROM e, (SELECT unnest(range(0, 64)) AS p) p),
        centroid AS (SELECT p, ROUND(AVG(x), 9) AS c
                     FROM dims WHERE label = 0 GROUP BY 1),
        scored AS (SELECT d.vec_id, d.label, ROUND(SUM(x * c), 6) AS score
                   FROM dims d JOIN centroid ct ON d.p = ct.p
                   GROUP BY 1, 2),
        m AS (SELECT t.t,
                CAST(SUM(CASE WHEN score >= t.t AND label = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN score >= t.t AND label <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN score < t.t AND label = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(SUM(CASE WHEN score < t.t AND label <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM scored, (SELECT unnest([CAST(-0.25 AS DOUBLE), 0.0, 0.1,
                                           0.2, 0.3, 0.4, 0.5]) AS t) t
              GROUP BY 1)
        SELECT t, tp, fp, fn, tn,
               ROUND(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6)
                 AS precision_,
               ROUND(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall_,
               ROUND(2.0 * CAST(tp AS DOUBLE)
                     / nullif(2 * tp + fp + fn, 0), 6) AS f1
        FROM m
      """)),

    // ------------------------------------------------------------------
    // q149: distributed k-NN classification eval — leave-one-out
    // 5-NN over the IVF index (q48's quantizer via the SAME ivfRanked
    // helper), majority vote, per-label accuracy. Every vector is a
    // query; its candidates come from its 2 probe cells through a pure
    // EQUI-join on the cell id (the shard key), never an all-pairs
    // scan — this is the eval loop a 10^9-vector embedding table can
    // actually run. The vote argmax folds map-side as
    // max(struct(votes, -label)) (count desc, label asc — no window
    // over the vote table); accuracy is exact integer counts with one
    // rounded division. The oracle restates the identical pipeline
    // (q120's idiom), so index assignment, probing, ranking, and
    // voting are all under the hash gate.
    QDef(
      "q149_knn_eval",
      (s, dir) => {
        val e = vectors(s, dir).ckpt() // quantizer + both sides
        // checkpoint + broadcast shape shared with q172 (see there):
        // rk feeds assign AND probes; the cell join must not shuffle on
        // a |centroids|-key column, so the eval-batch sides broadcast
        // and the corpus-sized postings stay put. Pruned checkpoint;
        // neighbor vectors re-enter via the e join.
        val rk = ivfRanked(e, 16)
          .select(col("vec_id"), col("cent_id"), col("rn"))
          .ckpt()
        val assign = rk.filter(col("rn") === 1)
          .select(col("vec_id").as("nid"), col("cent_id").as("cell"))
          .join(e.select(col("vec_id").as("nid"), col("label")
            .as("nlabel"), col("v").as("nv")), "nid")
        val probes = rk.filter(col("rn") <= 2)
          .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
        val top5 = assign.join(broadcast(probes), "cell")
          .where(col("nid") =!= col("qid"))
          .join(broadcast(e.select(col("vec_id").as("qid"),
            col("v").as("qv"))), "qid")
          .withColumn("sim", expr("dot_product(nv, qv)"))
          .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("sim").desc, col("nid").asc)))
          .where(col("rk") <= 5)
        val pred = top5.groupBy(col("qid"), col("nlabel"))
          .agg(count(lit(1)).as("votes"))
          .groupBy(col("qid"))
          .agg(max(struct(col("votes"), (-col("nlabel")).as("nl")))
            .getField("nl").as("neg_pred"))
          .select(col("qid"), (-col("neg_pred")).as("plabel"))
        pred.join(e.select(col("vec_id").as("qid"), col("label")), "qid")
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("plabel") === col("label"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("label"), col("n"), col("n_correct"),
            round(col("n_correct").cast("double") / col("n"), 6).as("acc"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT a.vec_id, c.cent_id,
                        list_sum(list_transform(range(1, 65),
                          i -> a.v[i] * c.cv[i])) AS sim
                 FROM e a, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT r.vec_id AS nid, r.cent_id AS cell, ne.label
                     AS nlabel
                   FROM ranked r JOIN e ne ON ne.vec_id = r.vec_id
                   WHERE r.rn = 1),
        probes AS (SELECT vec_id AS qid, cent_id AS cell
                   FROM ranked WHERE rn <= 2),
        scored AS (SELECT p.qid, a.nid, a.nlabel,
                     ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                       list_sum(list_transform(range(1, 65),
                         i -> qe.v[i] * ne.v[i])) DESC, a.nid ASC) AS rk
                   FROM probes p JOIN assign a ON a.cell = p.cell
                    AND a.nid <> p.qid
                   JOIN e qe ON qe.vec_id = p.qid
                   JOIN e ne ON ne.vec_id = a.nid),
        votes AS (SELECT qid, nlabel, CAST(COUNT(*) AS BIGINT) AS votes
                  FROM scored WHERE rk <= 5 GROUP BY 1, 2),
        pred AS (SELECT qid,
                   -((MAX({'v': votes, 'nl': -nlabel})).nl) AS plabel
                 FROM votes GROUP BY 1)
        SELECT qe.label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN p.plabel = qe.label THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct,
               ROUND(CAST(SUM(CASE WHEN p.plabel = qe.label
                        THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS acc
        FROM pred p JOIN e qe ON qe.vec_id = p.qid
        GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q171: hybrid retrieval — reciprocal-rank fusion (k = 60) of the
    // BM25 lexical ranking (q132's scorer, shared helper — the two
    // queries cannot drift) and a semantic cosine ranking against one
    // query vector, the lexical+vector hybrid every RAG stack runs.
    // Embeddings are document vectors (vec_id = doc_id). Both ranks are
    // computed on round-9 scores with doc_id tiebreaks; every RRF term
    // is an exact rational 1/(60+rank) evaluated identically in both
    // engines, so the fused ordering is bit-deterministic. BOTH arms
    // are capped at top-50 BEFORE fusion (standard RRF candidate
    // lists) — at scale the semantic candidates come from the IVF
    // index (q48) and the lexical ones from the inverted index; each
    // cap is a sort+limit (TakeOrderedAndProject, O(k) per partition)
    // with ranks assigned over the ≤50 survivors, never a global
    // row_number over a corpus-sized relation. The fusion itself only
    // ever touches the two bounded candidate lists (full-outer join
    // on doc_id, missing side contributes 0).
    QDef(
      "q171_rrf_hybrid",
      (s, dir) => {
        val e = vectors(s, dir).ckpt() // query vec + corpus
        val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
        val sem = e.where(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(expr(COS), 9).as("cos_r"))
          .orderBy(col("cos_r").desc, col("doc_id").asc)
          .limit(50)
          .withColumn("sem_rk", row_number().over(Q.bounded.orderBy(
            col("cos_r").desc, col("doc_id").asc)))
          .select(col("doc_id"), col("sem_rk"))
        val lex = AnalyticQueries.bm25Scored(s, dir)
          .withColumn("key", round(col("score_raw"), 9))
          .orderBy(col("key").desc, col("doc_id").asc)
          .limit(50)
          .withColumn("lex_rk", row_number().over(Q.bounded.orderBy(
            col("key").desc, col("doc_id").asc)))
          .select(col("doc_id"), col("lex_rk"))
        rrfFuseTop(sem, lex)
      },
      Some(s"""
        WITH ${graft.queries.AnalyticQueries.bm25ScoredDuck},
        e AS (SELECT vec_id,
                list_transform(embedding::DOUBLE[],
                  x -> x / sqrt(list_sum(list_transform(
                    embedding::DOUBLE[], y -> y * y)))) AS v
              FROM embeddings),
        qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        sem AS (SELECT vec_id AS doc_id,
                       list_sum(list_transform(range(1, 65),
                         i -> qv[i] * v[i])) AS cos
                FROM e, qv WHERE vec_id <> 0),
        semr AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY ROUND(cos, 9) DESC,
                     doc_id ASC) AS INTEGER) AS sem_rk
                 FROM sem),
        sem50 AS (SELECT doc_id, sem_rk FROM semr WHERE sem_rk <= 50),
        lexr AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY ROUND(score_raw, 9)
                     DESC, doc_id ASC) AS INTEGER) AS lex_rk
                 FROM sc),
        lex50 AS (SELECT doc_id, lex_rk FROM lexr WHERE lex_rk <= 50),
        fused AS (SELECT COALESCE(s.doc_id, l.doc_id) AS doc_id,
                         l.lex_rk, s.sem_rk,
                         ROUND(COALESCE(CAST(1.0 AS DOUBLE)
                                 / (60 + l.lex_rk), 0)
                             + COALESCE(CAST(1.0 AS DOUBLE)
                                 / (60 + s.sem_rk), 0), 9) AS rrf
                  FROM sem50 s FULL OUTER JOIN lex50 l
                    ON s.doc_id = l.doc_id)
        SELECT CAST(rk AS INTEGER) AS rk, doc_id, lex_rk, sem_rk, rrf
        FROM (SELECT doc_id, lex_rk, sem_rk, rrf,
                     ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC)
                       AS rk
              FROM fused) t
        WHERE rk <= 20
      """)),

    // ------------------------------------------------------------------
    // q172: NDCG@10 of the IVF retrieval (graded ranking quality — the
    // metric that sees WHERE the relevant hits land, where q120's
    // recall and q149's accuracy only count them): every vector queries
    // the 2-probe IVF index (the SAME ivfRanked quantizer q48 ships),
    // relevance = same label, DCG discounts 1/log2(pos+1) are rounded
    // at 9 (libm log2 may differ by 1 ulp), ideal DCG comes from the
    // per-query relevant-candidate count via a bounded 10-term
    // sequence fold, and per-label means absorb summation-order ulps
    // at round-6. Candidate generation is the bucketed cell join —
    // never an all-pairs product.
    QDef(
      "q172_ndcg_eval",
      (s, dir) => {
        val e = vectors(s, dir).ckpt()
        // checkpoint: rk feeds BOTH assign and probes — without it the
        // centroid join + per-vec window runs twice. Pruned to the
        // 3-int projection first: the neighbor vectors re-enter via the
        // e join below instead of riding the window + checkpoint 16×.
        val rk = ivfRanked(e, 16)
          .select(col("vec_id"), col("cent_id"), col("rn"))
          .ckpt()
        val assign = rk.filter(col("rn") === 1)
          .select(col("vec_id").as("nid"), col("cent_id").as("cell"))
          .join(e.select(col("vec_id").as("nid"),
            col("label").as("nlabel"), col("v").as("nv")), "nid")
        val probes = rk.filter(col("rn") <= 2)
          .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
        // broadcast the EVAL-BATCH sides (probe list + query vectors):
        // a shuffle join on "cell" has only |centroids| distinct keys —
        // a 16-task parallelism ceiling with per-cell skew — while the
        // probe/query relations are bounded by the evaluation batch
        // (here the corpus stands in; production recall audits sample).
        // Postings (assign) stay partitioned — the corpus-sized side
        // never moves, matching VectorIndex's probe-time pruning story.
        val cand = assign.join(broadcast(probes), "cell")
          .where(col("nid") =!= col("qid"))
          .join(broadcast(e.select(col("vec_id").as("qid"),
            col("v").as("qv"), col("label").as("qlabel"))), "qid")
          .withColumn("sim", expr("dot_product(nv, qv)"))
        ndcgAt10Tail(cand)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT a.vec_id, c.cent_id,
                        list_sum(list_transform(range(1, 65),
                          i -> a.v[i] * c.cv[i])) AS sim
                 FROM e a, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT r.vec_id AS nid, r.cent_id AS cell,
                          ne.label AS nlabel, ne.v AS nv
                   FROM ranked r JOIN e ne ON ne.vec_id = r.vec_id
                   WHERE r.rn = 1),
        probes AS (SELECT vec_id AS qid, cent_id AS cell
                   FROM ranked WHERE rn <= 2),
        cand AS (SELECT p.qid, qe.label AS qlabel, a.nid, a.nlabel,
                        list_sum(list_transform(range(1, 65),
                          i -> a.nv[i] * qe.v[i])) AS sim
                 FROM probes p
                 JOIN assign a ON a.cell = p.cell AND a.nid <> p.qid
                 JOIN e qe ON qe.vec_id = p.qid),
        pos AS (SELECT qid, qlabel, nid, nlabel, sim,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY ROUND(sim, 9) DESC, nid ASC) AS pos
                FROM cand),
        perq AS (SELECT qid, qlabel,
                        SUM(CASE WHEN pos <= 10 AND nlabel = qlabel
                              THEN ROUND(CAST(1.0 AS DOUBLE)
                                / log2(CAST(pos AS DOUBLE) + 1.0), 9)
                              ELSE CAST(0.0 AS DOUBLE) END) AS dcg,
                        CAST(SUM(CASE WHEN nlabel = qlabel THEN 1
                                      ELSE 0 END) AS BIGINT) AS r_tot
                 FROM pos GROUP BY 1, 2),
        scored AS (SELECT qid, qlabel, dcg, r_tot,
                     CASE WHEN r_tot = 0 THEN NULL
                       ELSE list_sum(list_transform(
                              range(1, CAST(LEAST(10, r_tot) AS INTEGER)
                                       + 1),
                              i -> ROUND(CAST(1.0 AS DOUBLE)
                                / log2(CAST(i AS DOUBLE) + 1.0), 9)))
                       END AS idcg
                   FROM perq)
        SELECT qlabel, CAST(COUNT(ROUND(dcg / idcg, 6)) AS BIGINT)
                 AS n_eval,
               ROUND(SUM(ROUND(dcg / idcg, 6))
                     / COUNT(ROUND(dcg / idcg, 6)), 6) AS mean_ndcg
        FROM scored GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q173: calibration (reliability) bins for the centroid classifier —
    // is a confidence of 0.8 right 80% of the time? Score = logistic of
    // the margin between own-label and best-other-label centroid
    // cosine; ten confidence bins report empirical accuracy, mean
    // confidence, and the Brier term. Centroid DERIVATION runs in the
    // exploded (vec, dim) layout q73/q76 established (per-(label, dim)
    // means are one partial-agg shuffle); the result is |labels|×|dims|
    // — bounded, not corpus-sized — so SCORING repacks it to arrays,
    // broadcasts the 10-row centroid table, and computes one codegen'd
    // dot_product per (vec, label) as a narrow map. Round-6 restructure
    // (bench: 1.73 s → see commit): the previous form joined the
    // exploded dims table against centroids on p (|corpus|·|dims|·
    // |labels| rows) and folded the dots back through a 3-key shuffle
    // agg; the array form materializes |corpus|·|labels| rows and
    // shuffles nothing until the 10-row bin rollup. Dots and the
    // logistic stay round-9 (index-ordered summation vs the oracle's
    // group sum / libm exp); accuracy is exact integer arithmetic; the
    // means absorb ulps at round-6.
    QDef(
      "q173_calibration_bins",
      (s, dir) => {
        val e = vectors(s, dir)
          .ckpt() // feeds centroid derivation AND scoring
        val centroid = e
          .select(col("label"), posexplode(col("v")).as(Seq("p", "x")))
          .groupBy(col("label").as("clabel"), col("p"))
          .agg(round(avg(col("x")), 9).as("c"))
        val centArr = centroid.groupBy(col("clabel"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(p, c))), s -> s.c)")
            .as("cv"))
        val dots = e.join(broadcast(centArr))
          .select(col("vec_id"), col("label"), col("clabel"),
            round(expr("dot_product(v, cv)"), 9).as("dot"))
        val per = dots.groupBy(col("vec_id"), col("label"))
          .agg(
            max(when(col("clabel") === col("label"), col("dot")))
              .as("own"),
            max(when(col("clabel") =!= col("label"), col("dot")))
              .as("best_other"))
          .withColumn("margin", round(col("own") - col("best_other"), 9))
          .withColumn("conf",
            round(lit(1.0d) / (lit(1.0d) + exp(-col("margin"))), 9))
          .withColumn("correct",
            when(col("margin") > 0.0d, 1L).otherwise(0L))
          .withColumn("bin",
            least(lit(9), floor(col("conf") * 10.0d).cast("int")))
        per.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("conf")) / count(lit(1)), 6).as("mean_conf"),
            round(sum(col("correct")).cast("double") / count(lit(1)), 6)
              .as("frac_correct"),
            round(sum((col("conf") - col("correct"))
              * (col("conf") - col("correct"))) / count(lit(1)), 6)
              .as("brier"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        dims AS (SELECT vec_id, label, p.p AS p, v[p.p + 1] AS x
                 FROM e, (SELECT unnest(range(0, 64)) AS p) p),
        centroid AS (SELECT label AS clabel, p, ROUND(AVG(x), 9) AS c
                     FROM dims GROUP BY 1, 2),
        dots AS (SELECT vec_id, d.label, ct.clabel,
                        ROUND(SUM(x * c), 9) AS dot
                 FROM dims d JOIN centroid ct ON ct.p = d.p
                 GROUP BY 1, 2, 3),
        per AS (SELECT vec_id, label,
                       MAX(CASE WHEN clabel = label THEN dot END) AS own,
                       MAX(CASE WHEN clabel <> label THEN dot END)
                         AS best_other
                FROM dots GROUP BY 1, 2),
        sc AS (SELECT vec_id, label,
                      ROUND(own - best_other, 9) AS margin
               FROM per),
        pr AS (SELECT vec_id,
                      ROUND(CAST(1.0 AS DOUBLE)
                            / (1.0 + exp(-margin)), 9) AS conf,
                      CASE WHEN margin > 0.0 THEN 1 ELSE 0 END AS correct
               FROM sc)
        SELECT CAST(LEAST(9, CAST(FLOOR(conf * 10.0) AS INTEGER))
                 AS INTEGER) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(conf) / COUNT(*), 6) AS mean_conf,
               ROUND(CAST(SUM(correct) AS DOUBLE) / COUNT(*), 6)
                 AS frac_correct,
               ROUND(SUM((conf - correct) * (conf - correct))
                     / COUNT(*), 6) AS brier
        FROM pr GROUP BY 1
      """)),

    // ------------------------------------------------------------------
    // q188: trained IVF quantizer — the full spherical-k-means Lloyd
    // chain (ivfCentroids: bounded sample, 3 barrier iterations,
    // round-9 means, renormalize, empty-cell carryover) pinned
    // cross-engine: DuckDB re-trains from the identical recipe and the
    // hash compare covers every centroid component, so a drifted
    // tiebreak, a missed round, or a wrong mean denominator in EITHER
    // engine fails the round. Output is the exploded (cent_id, dim,
    // component) table at round-6 — 16×64 rows. Scale shape: every
    // relation in training is sample-bounded (≤ IvfSampleCap rows);
    // the corpus contributes only the pushdown-pruned sample scan.
    // This is the opt-in quantizer behind VectorIndex.build(trainIters)
    // — see ivfRanked's scaladoc for why the q48 family measures
    // better on anchors for THIS corpus.
    QDef(
      "q188_ivf_train",
      (s, dir) => {
        val cents = ivfCentroids(vectors(s, dir), 16)
        cents.select(col("cent_id"),
            posexplode(col("cv")).as(Seq("i0", "x")))
          .select(col("cent_id"),
            (col("i0") + 1).cast("int").as("i"),
            round(col("x"), 6).as("c_r"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        $ivfCentsDuck
        SELECT cent_id, CAST(t.i AS INTEGER) AS i,
               ROUND(cv[t.i], 6) AS c_r
        FROM cents, range(1, 65) t(i)
      """)),

    // ------------------------------------------------------------------
    // q192: semantic decontamination — the embedding-space twin of the
    // q56/q69 gram probes: a held-out item is contaminated when some
    // TRAIN item sits above a cosine threshold, even with zero verbatim
    // n-gram overlap (paraphrases, translations, template rewrites —
    // the leakage exact decontamination provably misses). Split is the
    // house md5 rule (seed-free, corpus-growth-stable): held-out =
    // first md5 hex digit of the salted vec_id = '0' (a 1/16 audit
    // slice).
    //
    // Scale shape is q59's: IVF cell assignment bounds the pairwise
    // blast radius — held × train pairs only WITHIN a cell, never
    // corpus-wide (cells are the shuffle key; a production run probes
    // 2-3 cells per held item like q48 instead of exact-1, trading
    // recall for cost). Cosines round at 9 before thresholding
    // (q59's ulp guard); the top match is the struct-max (highest
    // cos9, then highest train id) so ties cannot flip cross-engine.
    // ε = 0.4 is corpus-tuned like q59 (the synthetic embeddings have
    // no true near-dups; production uses 0.9+).
    QDef(
      "q192_semantic_decontamination",
      (s, dir) => {
        val assign = ivfAssign(vectors(s, dir), 16)
          .withColumn("held", expr(
            """substring(md5(cast(concat('semdecon|',
                 cast(vec_id as string)) as binary)), 1, 1) = '0'"""))
          .ckpt() // feeds both probe sides + the spine
        val h = assign.where(col("held")).alias("h")
        val t = assign.where(!col("held")).alias("t")
        val ev = h.join(t, col("h.cell") === col("t.cell"))
          .select(col("h.vec_id").as("vec_id"),
            col("t.vec_id").as("tid"),
            expr("round(dot_product(h.v, t.v), 9)").as("cos9"))
          .where(col("cos9") >= 0.4)
          .groupBy(col("vec_id"))
          .agg(count(lit(1)).as("n_matches"),
            max(struct(col("cos9"), col("tid"))).as("b"))
        assign.where(col("held"))
          .select(col("vec_id"), col("cell"))
          .join(ev, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("b.tid"), lit(-1L)).as("top_train_id"),
            coalesce(round(col("b.cos9"), 6), lit(0.0d)).as("max_cos_r"),
            expr("""cast(case when n_matches is not null
                         then 1 else 0 end as int)""").as("contaminated"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id, e.v,
                   list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        assign AS (SELECT vec_id, cell, v,
                          substring(md5('semdecon|'
                            || CAST(vec_id AS VARCHAR)), 1, 1) = '0' AS held
                   FROM (SELECT vec_id, cent_id AS cell, v,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cent_id ASC) AS rn
                         FROM sims) r WHERE rn = 1),
        pairs AS (SELECT h.vec_id, t.vec_id AS tid,
                    ROUND(list_sum(list_transform(range(1, 65),
                      i -> h.v[i] * t.v[i])), 9) AS cos9
                  FROM assign h JOIN assign t
                    ON h.cell = t.cell AND h.held AND NOT t.held
                  WHERE ROUND(list_sum(list_transform(range(1, 65),
                      i -> h.v[i] * t.v[i])), 9) >= 0.4),
        ev AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
                      MAX({'cos9': cos9, 'tid': tid}) AS b
               FROM pairs GROUP BY vec_id)
        SELECT a.vec_id, a.cell,
               COALESCE(n_matches, 0) AS n_matches,
               COALESCE(b.tid, -1) AS top_train_id,
               COALESCE(ROUND(b.cos9, 6), 0.0) AS max_cos_r,
               CAST(CASE WHEN n_matches IS NOT NULL THEN 1 ELSE 0 END
                    AS INT) AS contaminated
        FROM assign a LEFT JOIN ev ON ev.vec_id = a.vec_id
        WHERE a.held
      """)),

    // ------------------------------------------------------------------
    // q194: ADC recall audit — q120's driver-gated recall relation for
    // the PQ surface: how much top-3 quality does 64× compression cost?
    // The ann side is exactly q72's full-corpus ADC ranking (shared
    // pqLut/pqAdcTopK — and therefore also exactly what the persisted
    // VectorIndex.searchAdc serves at full probe, by its spec pin); the
    // ground truth is q26's brute-force top-3. q120 measures the IVF
    // ROUTING loss; this isolates the QUANTIZATION loss — the two
    // knobs an IVF-PQ deployment tunes independently (nprobe vs code
    // budget). Exact integer hit counts; a codebook regression fails
    // the hash gate.
    QDef(
      "q194_adc_recall",
      (s, dir) => {
        val (subbed, cents, assigned) = pqParts(s, dir)
        val ann = pqAdcTopK(
            assigned.select(col("vec_id"), col("j"), col("cent_id")),
            pqLut(subbed.where(col("vec_id") < 10), cents), 3)
          .select(col("qid"), col("neighbor_id"))
        val e = vectors(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        val gt = q.join(e, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"),
            expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("neighbor_id"))
        val hits = gt.join(ann, Seq("qid", "neighbor_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
        q.select(col("qid"))
          .join(hits, Seq("qid"), "left").na.fill(0L, Seq("n_hits"))
          .select(col("qid"), col("n_hits"),
            round(col("n_hits").cast("double") / lit(3.0d), 6)
              .as("recall_r"))
      },
      Some(s"""
        WITH $pqDuckCtes,
        codes AS (SELECT vec_id, j, cent_id FROM assigned),
        lut AS (SELECT s.vec_id AS qid, s.j, c.cent_id,
                       ROUND(GREATEST(s.sub2 + c.csub2
                         - 2.0 * list_sum(list_transform(range(1, 9),
                             i -> s.sub[i] * c.csub[i])), 0), 9) AS qd2r
                FROM subbed s JOIN cents c ON s.j = c.j
                WHERE s.vec_id < 10),
        sc AS (SELECT l.qid, co.vec_id,
                      ROUND(SUM(qd2r), 6) AS ad6
               FROM codes co JOIN lut l
                 ON co.j = l.j AND co.cent_id = l.cent_id
               WHERE l.qid <> co.vec_id
               GROUP BY 1, 2),
        anns AS (SELECT qid, vec_id AS neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY ad6 ASC, vec_id ASC) AS rk
                 FROM sc),
        ann AS (SELECT qid, neighbor_id FROM anns WHERE rk <= 3),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        gts AS (SELECT qid, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                         list_sum(list_transform(range(1, 65),
                           i -> qv[i] * v[i])) DESC, e.vec_id ASC) AS rk
                FROM q JOIN e ON e.vec_id <> qid),
        gt AS (SELECT qid, neighbor_id FROM gts WHERE rk <= 3),
        hits AS (SELECT g.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
                 FROM gt g JOIN ann a
                   ON a.qid = g.qid AND a.neighbor_id = g.neighbor_id
                 GROUP BY 1)
        SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
               ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0, 6)
                 AS recall_r
        FROM q LEFT JOIN hits h ON h.qid = q.qid
      """)),

    // ------------------------------------------------------------------
    // q198: margin-based bitext mining — the parallel-corpus miner
    // (Artetxe & Schwenk 2019, the CCMatrix/LASER recipe): treat labels
    // as languages and find CROSS-label pairs that are MUTUAL nearest
    // neighbors, scored by the margin cos(a,b) / mean(top-3 cos of
    // either side) — absolute cosine alone over-selects hub vectors;
    // the margin normalizes by each side's neighborhood density.
    //
    // Scale shape is q59's: candidates only within an IVF cell (the
    // cell is the shuffle key — corpus × corpus never materializes;
    // 1-probe assignment trades a little mutual-NN recall for the
    // bounded blast radius, and production raises k so cells stay
    // small). Cosines round at 9 before ranking (dst-id tiebreak);
    // mutuality is an equi-join of the top-1 relation with itself;
    // margins re-round at 6 on output.
    QDef(
      "q198_bitext_mining",
      (s, dir) => {
        val e = vectors(s, dir)
        val assign = ivfAssign(e, 16)
          .join(e.select(col("vec_id"), col("label")), "vec_id")
          .ckpt() // feeds both sides of the cell join
        val a = assign.alias("a")
        val b = assign.alias("b")
        val scored = a.join(b,
            col("a.cell") === col("b.cell") &&
            col("a.label") =!= col("b.label"))
          .select(col("a.vec_id").as("src"), col("a.label").as("slabel"),
            col("b.vec_id").as("dst"), col("b.label").as("dlabel"),
            expr("round(dot_product(a.v, b.v), 9)").as("cos9"))
          .ckpt() // feeds the top-1 AND the top-3 mean
        val w = Window.partitionBy(col("src"))
          .orderBy(col("cos9").desc, col("dst").asc)
        val rk = scored.withColumn("rk", row_number().over(w))
        val top1 = rk.where(col("rk") === 1)
          .select(col("src"), col("slabel"), col("dst"), col("cos9"))
        val top3m = rk.where(col("rk") <= 3)
          .groupBy(col("src")).agg(round(avg(col("cos9")), 9).as("m3"))
        top1.alias("x").join(top1.alias("y"),
            col("x.src") === col("y.dst") && col("x.dst") === col("y.src")
              && col("x.src") < col("x.dst"))
          .select(col("x.src").as("id_a"), col("x.slabel").as("label_a"),
            col("x.dst").as("id_b"), col("y.slabel").as("label_b"),
            col("x.cos9").as("cos9"))
          .join(top3m.select(col("src").as("id_a"), col("m3").as("ma")),
            "id_a")
          .join(top3m.select(col("src").as("id_b"), col("m3").as("mb")),
            "id_b")
          .select(col("id_a"), col("label_a"), col("id_b"),
            col("label_b"), round(col("cos9"), 6).as("cos_r"),
            round(col("cos9") * lit(2.0d) / (col("ma") + col("mb")), 6)
              .as("margin_r"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, e.label, c.cent_id, e.v,
                   list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        assign AS (SELECT vec_id, label, cell, v FROM (
                     SELECT vec_id, label, cent_id AS cell, v,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY sim DESC, cent_id ASC) AS rn
                     FROM sims) t WHERE rn = 1),
        scored AS (SELECT a.vec_id AS src, a.label AS slabel,
                          b.vec_id AS dst, b.label AS dlabel,
                          ROUND(list_sum(list_transform(range(1, 65),
                            i -> a.v[i] * b.v[i])), 9) AS cos9
                   FROM assign a JOIN assign b
                     ON a.cell = b.cell AND a.label <> b.label),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY cos9 DESC, dst ASC) AS rk FROM scored),
        top1 AS (SELECT src, slabel, dst, cos9 FROM rk WHERE rk = 1),
        top3m AS (SELECT src, ROUND(AVG(cos9), 9) AS m3
                  FROM rk WHERE rk <= 3 GROUP BY 1),
        mutual AS (SELECT x.src AS id_a, x.slabel AS label_a,
                          x.dst AS id_b, y.slabel AS label_b,
                          x.cos9 AS cos9
                   FROM top1 x JOIN top1 y
                     ON x.src = y.dst AND x.dst = y.src
                        AND x.src < x.dst)
        SELECT id_a, label_a, id_b, label_b,
               ROUND(cos9, 6) AS cos_r,
               ROUND(cos9 * 2.0 / (ma.m3 + mb.m3), 6) AS margin_r
        FROM mutual
        JOIN top3m ma ON ma.src = id_a
        JOIN top3m mb ON mb.src = id_b
      """)),

    // ------------------------------------------------------------------
    // q204: top principal component of the embedding corpus via THREE
    // power-iteration steps on the covariance matrix — the
    // embedding-space analysis primitive behind whitening, ABTT
    // ("all-but-the-top" anisotropy removal), and drift monitoring:
    // a corpus whose top eigenvalue dominates is anisotropic and
    // cosine-retrieval quality (q120) degrades. Two-phase shape:
    //
    //   1. covariance build: one n·d² pass — per-vector dim explode,
    //      self-join on vec_id, (i,j)-keyed partial-agg average; the
    //      shuffle is d² = 4,096 cells no matter how many vectors.
    //      This is the ONLY data-sized stage.
    //   2. power iteration: ONE bounded step in ONE task — a typed
    //      aggregate assembles the d² checkpointed cells by index and
    //      runs G·v / ‖G·v‖ three times plus the Rayleigh quotient in
    //      a local loop (no driver-side math, no per-step barrier:
    //      as three checkpointed d²-row join + d-row aggregate
    //      supersteps the query ran 38 Spark jobs at sf0.001, now 9).
    //
    // Determinism: covariance entries round at 9 (the avg's summation
    // -order slack is ~1e-13); each iterate renormalizes with a
    // round-9 norm and re-rounds at 9, every sum in ascending index
    // order, so both engines walk the same quantized trajectory from
    // the exact-binary start v0 = 0.125·1; the reported loadings and
    // Rayleigh quotient λ = v·Gv round at 6.
    QDef(
      "q204_pca_power",
      (s, dir) => {
        val (_, _, v3) = pcaParts(s, dir)
        v3.select(col("i"), round(col("v"), 6).as("loading_r"),
            col("lambda_r"))
          .orderBy(col("i"))
      },
      Some(s"""
        WITH $pcaChainDuck,
        w4 AS MATERIALIZED (SELECT g.i, SUM(g.g * v.v) AS w
               FROM gram g JOIN v3 v ON v.i = g.j GROUP BY 1),
        lam AS (SELECT ROUND(SUM(w4.w * v3.v), 6) AS lambda_r
                FROM w4 JOIN v3 USING (i))
        SELECT CAST(v3.i AS INTEGER) AS i, ROUND(v3.v, 6) AS loading_r,
               lam.lambda_r
        FROM v3, lam ORDER BY i
      """)),

    // ------------------------------------------------------------------
    // q209: all-but-the-top re-ranking (Mu & Viswanath 2018) — q204
    // put to USE: embedding corpora are anisotropic (a dominant mean +
    // top-component direction inflates every cosine), and removing
    // them measurably sharpens retrieval. Pipeline: center on q204's
    // round-9 means, project out the SAME round-9 top component
    // (shared pcaParts — the re-ranker provably removes the component
    // q204 reports), renormalize, then brute-force top-3 for the 10
    // anchor vectors under the corrected geometry, with the raw
    // cosine of each surviving pair alongside — the audit column that
    // shows how far anisotropy was distorting the ranking.
    //
    // Scale: correction is a narrow per-(vec, dim) map off broadcast
    // 64-row mu/v3; corrected vectors re-pack to arrays so scoring is
    // the q119/q127 shape — a 10-row broadcast anchor pack crossed
    // into ONE corpus scan, dots via the codegen'd dot_product; never
    // a dim-keyed corpus×corpus join. Per-anchor ranks are windows
    // keyed by anchor (the q26 brute-force contract: anchors bounded
    // at 10 BY DEFINITION). Ranking compares round-6 cosines (ties →
    // neighbor id), so ordering never reads unrounded doubles.
    QDef(
      "q209_abtt_rerank",
      (s, dir) => {
        val (dims, mu, v3) = pcaParts(s, dir)
        val centered = dims
          .join(broadcast(mu), "i")
          .join(broadcast(v3.select(col("i"), col("v").as("pc"))), "i")
          .select(col("vec_id"), col("i"),
            (col("x") - col("mu")).as("xc"), col("pc"))
          .ckpt() // feeds projection AND residual
        val proj = centered.groupBy(col("vec_id"))
          .agg(round(sum(col("xc") * col("pc")), 9).as("p"))
        val resid = centered.join(proj, "vec_id")
          .select(col("vec_id"), col("i"),
            (col("xc") - col("p") * col("pc")).as("u"))
          .ckpt() // feeds norm AND the pack
        val rnorm = resid.groupBy(col("vec_id"))
          .agg(round(sqrt(sum(col("u") * col("u"))), 9).as("nrm"))
        val packed = resid.join(rnorm, "vec_id")
          .select(col("vec_id"), col("i"),
            round(col("u") / col("nrm"), 9).as("cu"))
          .groupBy(col("vec_id"))
          .agg(expr("transform(array_sort(collect_list(struct(i, cu))), s -> s.cu)")
            .as("cv"))
          .join(vectors(s, dir).select(col("vec_id"), col("v").as("rv")),
            "vec_id")
          .ckpt() // one corrected+raw pack, scanned twice
        val anchors = packed.where(col("vec_id") < 10)
          .select(col("vec_id").as("anchor"), col("cv").as("acv"),
            col("rv").as("arv"))
        val byA = Window.partitionBy(col("anchor"))
          .orderBy(col("cos_corr_r").desc, col("nb").asc)
        packed.crossJoin(broadcast(anchors))
          .where(col("vec_id") =!= col("anchor"))
          .select(col("anchor"), col("vec_id").as("nb"),
            round(expr("dot_product(acv, cv)"), 6).as("cos_corr_r"),
            round(expr("dot_product(arv, rv)"), 6).as("cos_raw_r"))
          .withColumn("rk", row_number().over(byA))
          .where(col("rk") <= 3)
          .select(col("anchor"), col("rk"), col("nb"),
            col("cos_corr_r"), col("cos_raw_r"))
          .orderBy(col("anchor"), col("rk"))
      },
      Some(s"""
        WITH $pcaChainDuck,
        cen AS MATERIALIZED (
          SELECT d.vec_id, d.i, d.x - m.mu AS xc, v3.v AS pc
          FROM dims d JOIN mu m ON m.i = d.i JOIN v3 ON v3.i = d.i),
        pp AS (SELECT vec_id, ROUND(SUM(xc * pc), 9) AS p
               FROM cen GROUP BY 1),
        uu AS MATERIALIZED (
          SELECT c.vec_id, c.i, c.xc - p.p * c.pc AS u
          FROM cen c JOIN pp p USING (vec_id)),
        un AS (SELECT vec_id, ROUND(SQRT(SUM(u * u)), 9) AS nrm
               FROM uu GROUP BY 1),
        cu AS MATERIALIZED (
          SELECT u.vec_id, u.i, ROUND(u.u / un.nrm, 9) AS cu
          FROM uu u JOIN un USING (vec_id)),
        rn AS (SELECT vec_id, SQRT(SUM(x * x)) AS rn
               FROM dims GROUP BY 1),
        rw AS MATERIALIZED (
          SELECT d.vec_id, d.i, d.x / rn.rn AS r
          FROM dims d JOIN rn USING (vec_id)),
        cc AS (SELECT ca.vec_id AS anchor, cb.vec_id AS nb,
                      ROUND(SUM(ca.cu * cb.cu), 6) AS cos_corr_r
               FROM cu ca JOIN cu cb
                 ON ca.i = cb.i AND ca.vec_id < 10
                AND ca.vec_id <> cb.vec_id
               GROUP BY 1, 2),
        cr AS (SELECT ra.vec_id AS anchor, rb.vec_id AS nb,
                      ROUND(SUM(ra.r * rb.r), 6) AS cos_raw_r
               FROM rw ra JOIN rw rb
                 ON ra.i = rb.i AND ra.vec_id < 10
                AND ra.vec_id <> rb.vec_id
               GROUP BY 1, 2),
        tp AS (SELECT anchor, nb, cos_corr_r,
                      ROW_NUMBER() OVER (PARTITION BY anchor
                        ORDER BY cos_corr_r DESC, nb ASC) AS rk
               FROM cc)
        SELECT tp.anchor, CAST(tp.rk AS INTEGER) AS rk, tp.nb,
               tp.cos_corr_r, cr.cos_raw_r
        FROM tp JOIN cr ON cr.anchor = tp.anchor AND cr.nb = tp.nb
        WHERE tp.rk <= 3
        ORDER BY tp.anchor, tp.rk
      """)),

    // ------------------------------------------------------------------
    // q212: recall@k CURVE for the IVF index — q120 generalized from
    // the single recall@3 point to the operating curve (k = 1, 3, 5,
    // 10) an index consumer actually tunes against: rank brute-force
    // ground truth and IVF 2-probe candidates to depth 10 once (the
    // SAME q120 machinery: q26 brute-force shape, ivfRanked 16-cell
    // quantizer), join the two rankings per (anchor, neighbor), and
    // read every k off that one joined relation via a 4-row literal
    // spine — no per-k re-rank, no extra corpus pass. All-integer hit
    // counts; recall_r = hits / (10 anchors · k) rounded at 6.
    QDef(
      "q212_recall_curve",
      (s, dir) => {
        val e = vectors(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        val gt = q.join(e, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"),
            expr(COS).as("cos"))
          .withColumn("rk_gt", row_number().over(w))
          .filter(col("rk_gt") <= 10)
          .select(col("qid"), col("neighbor_id"), col("rk_gt"))
        val ranked = ivfRanked(e, 16)
          .select(col("vec_id"), col("cent_id"), col("rn"))
        val assign = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("cent_id").as("cell"))
        val probes = ranked.filter(col("rn") <= 2 && col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
        val cand = assign.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"))
          .distinct()
        val n = e.select(col("vec_id").as("neighbor_id"), col("v"))
        val ann = cand.join(q, "qid").join(n, "neighbor_id")
          .select(col("qid"), col("neighbor_id"), expr(COS).as("cos"))
          .withColumn("rk_ann", row_number().over(w))
          .filter(col("rk_ann") <= 10)
          .select(col("qid"), col("neighbor_id"), col("rk_ann"))
        val joined = gt.join(ann, Seq("qid", "neighbor_id"))
          .ckpt() // ≤100 rows, read once per curve point
        val spine = s.range(1)
          .select(explode(expr("array(1, 3, 5, 10)")).as("k"))
        joined.crossJoin(broadcast(spine))
          .groupBy(col("k").cast("int").as("k"))
          .agg(sum(when(col("rk_gt") <= col("k")
            && col("rk_ann") <= col("k"), 1L).otherwise(0L))
            .as("n_hits"))
          .select(col("k"), col("n_hits"),
            (lit(10L) * col("k")).cast("bigint").as("n_possible"),
            round(col("n_hits").cast("double")
              / (lit(10.0d) * col("k")), 6).as("recall_r"))
          .orderBy(col("k"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        gts AS (SELECT qid, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                         list_sum(list_transform(range(1, 65),
                           i -> qv[i] * v[i])) DESC, e.vec_id ASC) AS rk_gt
                FROM q JOIN e ON e.vec_id <> qid),
        gt AS (SELECT qid, neighbor_id, rk_gt FROM gts WHERE rk_gt <= 10),
        cents AS (SELECT vec_id AS cent_id, v AS cv
                  FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65),
                     i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT vec_id, cent_id AS cell FROM ranked
                   WHERE rn = 1),
        probes AS (SELECT vec_id AS qid, cent_id AS cell
                   FROM ranked WHERE rn <= 2 AND vec_id < 10),
        cand AS (SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
                 FROM probes p JOIN assign a ON a.cell = p.cell
                 WHERE a.vec_id <> p.qid),
        anns AS (SELECT c.qid, c.neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
                          list_sum(list_transform(range(1, 65),
                            i -> qe.v[i] * ne.v[i])) DESC,
                          c.neighbor_id ASC) AS rk_ann
                 FROM cand c
                 JOIN e qe ON qe.vec_id = c.qid
                 JOIN e ne ON ne.vec_id = c.neighbor_id),
        ann AS (SELECT qid, neighbor_id, rk_ann FROM anns
                WHERE rk_ann <= 10),
        j AS (SELECT g.rk_gt, a.rk_ann
              FROM gt g JOIN ann a
                ON a.qid = g.qid AND a.neighbor_id = g.neighbor_id),
        ks AS (SELECT unnest([1, 3, 5, 10]) AS k)
        SELECT CAST(ks.k AS INTEGER) AS k,
               CAST(SUM(CASE WHEN j.rk_gt <= ks.k AND j.rk_ann <= ks.k
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(10 * ks.k AS BIGINT) AS n_possible,
               ROUND(CAST(SUM(CASE WHEN j.rk_gt <= ks.k
                               AND j.rk_ann <= ks.k
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / (10.0 * ks.k), 6) AS recall_r
        FROM ks CROSS JOIN j
        GROUP BY ks.k
        ORDER BY k
      """)),

    // ------------------------------------------------------------------
    // q213: Davies-Bouldin index of the LABEL clustering in embedding
    // space — the clustering-quality audit (lower = tighter, better-
    // separated clusters): for each label, within-cluster scatter s_i
    // (mean member→centroid distance) and the worst (s_i + s_j) /
    // d(c_i, c_j) ratio against every other label; DB = mean of the
    // per-label worsts. Complements q73 (which flags outlier MEMBERS)
    // with a per-CLUSTER health score, and q173/q149 (which consume
    // the label centroids) with the "are these labels even separable"
    // check that should gate them.
    //
    // Scale: one dim-exploded pass builds centroids (|labels|·d cells)
    // and member scatters (keyed agg); everything after is |labels|²-
    // bounded arithmetic. Determinism: centroids round-9, member
    // distances round-9, scatters round-6, centroid distances round-9,
    // ratios round-6; the worst-ratio argmax tiebreaks on the other
    // label's id.
    QDef(
      "q213_davies_bouldin",
      (s, dir) => {
        val dims = Tables(s, dir).embeddings
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding").cast("array<double>"))
              .as(Seq("i", "x")))
          .ckpt() // feeds centroids AND member distances
        val cent = dims.groupBy(col("label"), col("i"))
          .agg(round(avg(col("x")), 9).as("c"))
          .ckpt() // feeds scatter AND the centroid pairs
        val scat = dims.join(cent, Seq("label", "i"))
          .groupBy(col("vec_id"), col("label"))
          .agg(round(sqrt(sum((col("x") - col("c"))
            * (col("x") - col("c")))), 9).as("dist"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_members"),
            round(avg(col("dist")), 6).as("s_r"))
          .ckpt() // |labels| rows, read three times
        val cd = cent.as("a")
          .join(cent.as("b"),
            col("a.i") === col("b.i") && col("a.label") =!= col("b.label"))
          .groupBy(col("a.label").as("label"), col("b.label").as("other"))
          .agg(round(sqrt(sum((col("a.c") - col("b.c"))
            * (col("a.c") - col("b.c")))), 9).as("d"))
        val byWorst = Window.partitionBy(col("label"))
          .orderBy(col("ratio_r").desc, col("other").asc)
        val worst = cd
          .join(scat.select(col("label"), col("s_r")), "label")
          .join(scat.select(col("label").as("other"),
            col("s_r").as("s_other")), "other")
          .withColumn("ratio_r",
            round((col("s_r") + col("s_other")) / col("d"), 6))
          .withColumn("rn", row_number().over(byWorst))
          .where(col("rn") === 1)
          .select(col("label"), col("other").as("worst_other"),
            col("ratio_r"))
          .ckpt() // |labels| rows, feeds db AND the output
        val db = worst.agg(round(avg(col("ratio_r")), 6).as("db_index_r"))
        scat.join(worst, "label")
          .crossJoin(broadcast(db))
          .select(col("label"), col("n_members"), col("s_r"),
            col("worst_other"), col("ratio_r"), col("db_index_r"))
          .orderBy(col("label"))
      },
      Some("""
        WITH dims AS MATERIALIZED (
          SELECT vec_id, label, p.p AS i,
                 (embedding::DOUBLE[])[p.p + 1] AS x
          FROM embeddings, (SELECT unnest(range(0, 64)) AS p) p),
        cent AS MATERIALIZED (
          SELECT label, i, ROUND(AVG(x), 9) AS c
          FROM dims GROUP BY 1, 2),
        scat AS MATERIALIZED (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
                 ROUND(AVG(dist), 6) AS s_r
          FROM (SELECT d.vec_id, d.label,
                       ROUND(SQRT(SUM((d.x - c.c) * (d.x - c.c))), 9)
                         AS dist
                FROM dims d JOIN cent c
                  ON c.label = d.label AND c.i = d.i
                GROUP BY 1, 2) m
          GROUP BY 1),
        cd AS (SELECT a.label AS label, b.label AS other,
                      ROUND(SQRT(SUM((a.c - b.c) * (a.c - b.c))), 9) AS d
               FROM cent a JOIN cent b
                 ON a.i = b.i AND a.label <> b.label
               GROUP BY 1, 2),
        rat AS (SELECT cd.label, cd.other,
                       ROUND((sa.s_r + sb.s_r) / cd.d, 6) AS ratio_r
                FROM cd
                JOIN scat sa ON sa.label = cd.label
                JOIN scat sb ON sb.label = cd.other),
        worst AS (SELECT label, other AS worst_other, ratio_r
                  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                          ORDER BY ratio_r DESC, other ASC) AS rn
                        FROM rat) t WHERE rn = 1),
        db AS (SELECT ROUND(AVG(ratio_r), 6) AS db_index_r FROM worst)
        SELECT s.label, s.n_members, s.s_r, w.worst_other, w.ratio_r,
               db.db_index_r
        FROM scat s JOIN worst w ON w.label = s.label, db
        ORDER BY s.label
      """)),

    // ------------------------------------------------------------------
    // q221: IVF cell-balance audit — the serving-ops health check for
    // the q48/VectorIndex layout. Cell sizes ARE the probe cost model:
    // a hot cell is scanned by every query that ranks its centroid
    // high (the skew that motivates q183-style salting or cell
    // splitting), and an EMPTY cell is a wasted quantizer slot. Per
    // cell: member count (empty cells included via the 16-row centroid
    // left join), corpus share, and an exact-integer hot flag
    // (n·k > 2·total ⟺ n > 2·mean — no float compare can flip it).
    //
    // Scale: the assignment is q48's broadcast-centroid window (one
    // vec_id exchange), the rollup is a 16-group agg, and the totals
    // ride the one-row crossJoin (q37 pattern). Nothing here grows
    // with the corpus except the one assignment pass.
    QDef(
      "q221_ivf_balance",
      (s, dir) => {
        val e = vectors(s, dir)
        val counts = ivfAssign(e, 16)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
          .ckpt() // feeds the totals AND the per-cell rows
        val tot = counts.agg(sum(col("n_vecs")).as("total"))
        val cells = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cell"))
        cells.join(counts, Seq("cell"), "left")
          .select(col("cell"),
            coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
          .crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vecs"),
            round(col("n_vecs").cast("double") / col("total"), 6)
              .as("share_r"),
            (col("n_vecs") * 16L > col("total") * 2L).cast("int")
              .as("hot"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65), i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
        counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
                   FROM assign GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM counts)
        SELECT c.cent_id AS cell,
               CAST(COALESCE(n.n_vecs, 0) AS BIGINT) AS n_vecs,
               ROUND(CAST(COALESCE(n.n_vecs, 0) AS DOUBLE) / t.total, 6)
                 AS share_r,
               CAST(CASE WHEN COALESCE(n.n_vecs, 0) * 16 > t.total * 2
                         THEN 1 ELSE 0 END AS INTEGER) AS hot
        FROM cents c LEFT JOIN counts n ON n.cell = c.cent_id, tot t
      """)),

    // ------------------------------------------------------------------
    // q225: contrastive triplet generation — the training-data
    // GENERATOR the similarity family feeds: per anchor, ONE
    // (anchor, positive, negative) row where the positive is the
    // nearest SAME-label vector (the supervised-SimCSE positive rule)
    // and the negative is q115's hardest DIFFERENT-label vector, plus
    // the triplet margin pos − neg that curriculum/loss weighting
    // consumes. Anchors are the bounded first-10 pack (q26/q115's
    // shape): both scoring passes are one broadcast-anchors × corpus
    // scan, top-1 per (anchor, side) via the keyed rank window —
    // bounded at any corpus size; at 100 TB the corpus side would come
    // from the IVF cells (q59's rule), same downstream contract.
    QDef(
      "q225_contrastive_triplets",
      (s, dir) => {
        val e = vectors(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        def top1(cond: org.apache.spark.sql.Column, side: String) =
          broadcast(q).join(e, cond)
            .select(col("qid"), col("qlabel"), col("vec_id"),
              expr(COS).as("cos"))
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
            .select(col("qid"), col("qlabel"),
              col("vec_id").as(s"${side}_id"),
              round(col("cos"), 6).as(s"${side}_cos_r"))
        val pos = top1(col("label") === col("qlabel")
          && col("vec_id") =!= col("qid"), "pos")
        val neg = top1(col("label") =!= col("qlabel"), "neg")
        pos.join(neg, Seq("qid", "qlabel"))
          .select(col("qid"), col("qlabel"), col("pos_id"),
            col("pos_cos_r"), col("neg_id"), col("neg_cos_r"),
            round(col("pos_cos_r") - col("neg_cos_r"), 6).as("margin_r"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
              FROM e WHERE vec_id < 10),
        pos AS (SELECT qid, qlabel, vec_id AS pos_id,
                       ROUND(cos, 6) AS pos_cos_r
                FROM (SELECT qid, qlabel, e.vec_id,
                             list_sum(list_transform(range(1, 65),
                               i -> qv[i] * v[i])) AS cos,
                             ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY list_sum(list_transform(range(1, 65),
                                 i -> qv[i] * v[i])) DESC,
                               e.vec_id ASC) AS rk
                      FROM q JOIN e
                        ON e.label = qlabel AND e.vec_id <> qid) t
                WHERE rk = 1),
        neg AS (SELECT qid, vec_id AS neg_id, ROUND(cos, 6) AS neg_cos_r
                FROM (SELECT qid, e.vec_id,
                             list_sum(list_transform(range(1, 65),
                               i -> qv[i] * v[i])) AS cos,
                             ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY list_sum(list_transform(range(1, 65),
                                 i -> qv[i] * v[i])) DESC,
                               e.vec_id ASC) AS rk
                      FROM q JOIN e ON e.label <> qlabel) t
                WHERE rk = 1)
        SELECT p.qid, p.qlabel, p.pos_id, p.pos_cos_r,
               n.neg_id, n.neg_cos_r,
               ROUND(p.pos_cos_r - n.neg_cos_r, 6) AS margin_r
        FROM pos p JOIN neg n ON n.qid = p.qid
      """)),

    // ------------------------------------------------------------------
    // q228: int8 symmetric quantization audit — the serving-side
    // compression step every embedding store runs before shipping
    // vectors to disk/GPU (4× smaller than float32): per vector, scale
    // s = max|x| / 127, code c_j = clamp(⌊x_j/s + 0.5⌋, ±127), and the
    // audit reports the scale, the worst per-dimension reconstruction
    // error, and how well the quantized vector preserves cosine against
    // its own float original — the number that decides whether retrieval
    // can run on the compressed copy. ⌊x + 0.5⌋ instead of round():
    // floor is exactly specified in BOTH engines, so the codes are
    // bit-identical cross-engine (round()'s half-away behavior is not a
    // contract we need to rely on); max/abs are order-independent, so
    // scale_r and max_abs_err_r are EXACT, and only the cosine (a
    // 64-term double sum) carries the accepted round-6 order slack.
    //
    // Scale: pure narrow map over the embeddings scan — per-vector
    // arithmetic via array higher-order functions, ZERO shuffles,
    // payloads never leave their partition. The audit is a scan you
    // run once per quantizer config over any corpus size.
    QDef(
      "q228_int8_quant_audit",
      (s, dir) => {
        Tables(s, dir).embeddings
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v"))
          .withColumn("s",
            expr("array_max(transform(v, x -> abs(x))) / 127.0d"))
          .withColumn("q", expr(
            """transform(v, x -> case when s = 0.0d then 0.0d
               else least(127.0d, greatest(-127.0d, floor(x / s + 0.5d)))
               end)"""))
          .withColumn("max_abs_err",
            expr("array_max(zip_with(v, q, (x, c) -> abs(x - c * s)))"))
          .withColumn("dot", expr(
            "aggregate(zip_with(v, q, (x, c) -> x * c * s), 0.0d, (acc, y) -> acc + y)"))
          .withColumn("nv", expr(
            "sqrt(aggregate(transform(v, x -> x * x), 0.0d, (acc, y) -> acc + y))"))
          .withColumn("nq", expr(
            "sqrt(aggregate(transform(q, c -> c * s * c * s), 0.0d, (acc, y) -> acc + y))"))
          .select(col("vec_id"),
            round(col("s"), 9).as("scale_r"),
            round(col("max_abs_err"), 9).as("max_abs_err_r"),
            expr("""case when s = 0.0d or nv = 0.0d or nq = 0.0d
                    then null else round(dot / (nv * nq), 6)
                    end""").as("cos_r"))
      },
      Some("""
        WITH d AS (SELECT vec_id, p.p AS j,
                          (embedding::DOUBLE[])[p.p + 1] AS x
                   FROM embeddings,
                        (SELECT unnest(range(0, 64)) AS p) p),
        sc AS (SELECT vec_id, MAX(ABS(x)) / 127.0 AS s
               FROM d GROUP BY 1),
        qd AS (SELECT d.vec_id, d.x, sc.s,
                      CASE WHEN sc.s = 0 THEN 0.0
                           ELSE LEAST(127.0, GREATEST(-127.0,
                                  FLOOR(d.x / sc.s + 0.5))) END AS c
               FROM d JOIN sc ON sc.vec_id = d.vec_id),
        agg AS (SELECT vec_id, MAX(s) AS s,
                       MAX(ABS(x - c * s)) AS max_abs_err,
                       SUM(x * c * s) AS dot,
                       SQRT(SUM(x * x)) AS nv,
                       SQRT(SUM(c * s * c * s)) AS nq
                FROM qd GROUP BY 1)
        SELECT vec_id, ROUND(s, 9) AS scale_r,
               ROUND(max_abs_err, 9) AS max_abs_err_r,
               CASE WHEN s = 0 OR nv = 0 OR nq = 0 THEN NULL
                    ELSE ROUND(dot / (nv * nq), 6) END AS cos_r
        FROM agg
      """)),

    // ------------------------------------------------------------------
    // q238: matryoshka truncation-recall audit — before serving
    // retrieval on a PREFIX of the embedding (the Matryoshka /
    // dimension-truncation storage play: a d=8 prefix index is 8×
    // smaller and 8× cheaper to scan than d=64), measure what the
    // truncation costs: per anchor and per candidate width d ∈
    // {8,16,32,64}, brute-force top-3 under the RENORMALIZED d-prefix
    // cosine, intersected with the full-dimension top-3 ground truth
    // (q120's gt shape and its exact-integer hit discipline). d=64 is
    // the built-in control row — the prefix ranking IS the ground
    // truth there, so recall must be exactly 1.
    //
    // Scale: the 10-anchor pack broadcasts; the corpus scans ONCE per
    // anchor-join with the 4 widths a narrow explode over scalars
    // (slice + dot_product are array-local — the q127 broadcast-grid
    // shape); the rank window partitions by (qid, d) — bounded by
    // anchors × widths, never corpus-global. Prefix norms renormalize
    // the sliced vectors (stored vectors are unit only at FULL width).
    QDef(
      "q238_matryoshka_recall",
      (s, dir) => {
        val e = vectors(s, dir).select(col("vec_id"), col("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        val gt = q.join(e, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("neighbor_id"),
            expr(COS).as("cos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("neighbor_id"))
          .ckpt() // ≤30 rows feeding all four width audits
        val wd = Window.partitionBy(col("qid"), col("d"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        val pref = q.join(e, col("vec_id") =!= col("qid"))
          .withColumn("d",
            explode(array(lit(8), lit(16), lit(32), lit(64))))
          .select(col("qid"), col("d"), col("vec_id").as("neighbor_id"),
            expr("""dot_product(slice(qv, 1, d), slice(v, 1, d))
                    / (sqrt(dot_product(slice(qv, 1, d), slice(qv, 1, d)))
                       * sqrt(dot_product(slice(v, 1, d), slice(v, 1, d))))""")
              .as("cos"))
          .withColumn("rk", row_number().over(wd))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("d"), col("neighbor_id"))
        val hits = pref
          .join(gt, Seq("qid", "neighbor_id"), "left_semi")
          .groupBy(col("qid"), col("d")).agg(count(lit(1)).as("n_hits"))
        q.select(col("qid"))
          .withColumn("d",
            explode(array(lit(8), lit(16), lit(32), lit(64))))
          .join(hits, Seq("qid", "d"), "left").na.fill(0L, Seq("n_hits"))
          .select(col("qid"), col("d").cast("bigint").as("d"),
            col("n_hits"),
            round(col("n_hits").cast("double") / lit(3.0d), 6)
              .as("recall_r"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        gts AS (SELECT qid, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                         list_sum(list_transform(range(1, 65),
                           i -> qv[i] * v[i])) DESC, e.vec_id ASC) AS rk
                FROM q JOIN e ON e.vec_id <> qid),
        gt AS (SELECT qid, neighbor_id FROM gts WHERE rk <= 3),
        prefs AS (SELECT qid, dd.d, e.vec_id AS neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY qid, dd.d ORDER BY
                          list_sum(list_transform(range(1, dd.d + 1),
                            i -> qv[i] * v[i]))
                          / (sqrt(list_sum(list_transform(range(1, dd.d + 1),
                               i -> qv[i] * qv[i])))
                             * sqrt(list_sum(list_transform(range(1, dd.d + 1),
                                 i -> v[i] * v[i])))) DESC,
                          e.vec_id ASC) AS rk
                 FROM q JOIN e ON e.vec_id <> qid,
                      (VALUES (8), (16), (32), (64)) dd(d)),
        pref AS (SELECT qid, d, neighbor_id FROM prefs WHERE rk <= 3),
        hits AS (SELECT p.qid, p.d, CAST(COUNT(*) AS BIGINT) AS n_hits
                 FROM pref p JOIN gt g
                   ON g.qid = p.qid AND g.neighbor_id = p.neighbor_id
                 GROUP BY 1, 2),
        spine AS (SELECT qid, dd.d FROM q,
                    (VALUES (8), (16), (32), (64)) dd(d))
        SELECT s.qid, CAST(s.d AS BIGINT) AS d,
               COALESCE(h.n_hits, 0) AS n_hits,
               ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0, 6)
                 AS recall_r
        FROM spine s LEFT JOIN hits h ON h.qid = s.qid AND h.d = s.d
      """)),

    // ------------------------------------------------------------------
    // q260: MMR diversified retrieval (Carbonell & Goldstein 1998) —
    // the re-ranker RAG stacks run between ANN and the context window:
    // greedily build a k=8 result list where each pick maximizes
    //   mmr = λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s),  λ=0.7
    // so near-duplicate passages stop crowding out coverage. Five
    // query vectors; candidates are the exact top-20 per query (q26's
    // brute-force shape — at scale the candidate set comes from
    // VectorIndex.search instead and everything downstream is
    // unchanged). Selection runs as 8 supersteps over the ckpt'd
    // candidate/pair-sim relations (the bpeSteps/logregSteps idiom):
    // per step one bounded max-agg + one argmax via min(struct(-mmr,
    // vec_id)) — count-desc/id-asc total order, no window over the
    // corpus. All similarities round at 9 BEFORE ranking, so both
    // engines pick identical argmaxes by construction.
    //
    // Scale: candidates are bounded (20/query) and pair sims are
    // |cand|²-bounded per query, keyed by qid — the iteration state
    // never touches the corpus again after the one top-k pass; queries
    // shard independently (the qid is the natural partition key).
    QDef(
      "q260_mmr_rerank",
      (s, dir) => {
        val e = vectors(s, dir).select(col("vec_id"), col("v")).ckpt()
        val qs = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val cand = e.join(broadcast(qs), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            round(expr(COS), 9).as("simq"), col("v"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("simq").desc, col("vec_id").asc)))
          .where(col("rk") <= 20).drop("rk")
          .ckpt() // 100 rows feeding pair sims + every superstep
        // selection supersteps are mmrSelect, shared with the
        // VectorIndex-candidate surface (Valuation.mmrFromIndex)
        mmrSelect(cand)
          .select(col("qid"), col("rank"), col("vec_id"),
            col("score").as("mmr_r"))
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        val sel = (2 to 8).map { i =>
          val p = i - 1
          s"""s$i AS MATERIALIZED (SELECT qid, vec_id, $i AS rank, mmr AS score FROM (
               SELECT r.qid, r.vec_id,
                      ROUND(0.7 * r.simq - 0.3 * m.ms, 9) AS mmr,
                      ROW_NUMBER() OVER (PARTITION BY r.qid
                        ORDER BY ROUND(0.7 * r.simq - 0.3 * m.ms, 9) DESC,
                                 r.vec_id ASC) AS rk
               FROM cand r
               JOIN (SELECT p.qid, p.da, MAX(p.simp) AS ms
                     FROM pairs p JOIN sel$p s
                       ON s.qid = p.qid AND s.vec_id = p.db
                     GROUP BY 1, 2) m
                 ON m.qid = r.qid AND m.da = r.vec_id
               WHERE NOT EXISTS (SELECT 1 FROM sel$p s2
                                 WHERE s2.qid = r.qid
                                   AND s2.vec_id = r.vec_id)) t$i
             WHERE rk = 1),
        sel$i AS MATERIALIZED (SELECT * FROM sel$p UNION ALL SELECT * FROM s$i)"""
        }.mkString(",\n        ")
        s"""
        WITH e AS MATERIALIZED (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        cand0 AS (SELECT q.qid, e.vec_id,
                    ROUND(list_sum(list_transform(range(1, 65),
                      i -> q.qv[i] * e.v[i])), 9) AS simq, e.v
                  FROM q JOIN e ON e.vec_id <> q.qid),
        cand AS MATERIALIZED (SELECT qid, vec_id, simq, v FROM (
                   SELECT qid, vec_id, simq, v,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY simq DESC, vec_id ASC) AS rk
                   FROM cand0) t0 WHERE rk <= 20),
        pairs AS MATERIALIZED (SELECT a.qid, a.vec_id AS da, b.vec_id AS db,
                    ROUND(list_sum(list_transform(range(1, 65),
                      i -> a.v[i] * b.v[i])), 9) AS simp
                  FROM cand a JOIN cand b
                    ON a.qid = b.qid AND a.vec_id <> b.vec_id),
        sel1 AS MATERIALIZED (SELECT qid, vec_id, 1 AS rank, simq AS score FROM (
                   SELECT qid, vec_id, simq,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY simq DESC, vec_id ASC) AS rk
                   FROM cand) t1 WHERE rk = 1),
        $sel
        SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id,
               score AS mmr_r
        FROM sel8
        ORDER BY qid, rank
      """
      }),

    // ------------------------------------------------------------------
    // q262: KNN-Shapley data valuation (Jia et al., VLDB 2019) — the
    // exact Shapley value of every TRAINING point under a K-NN
    // surrogate classifier, the data-attribution operator curation
    // pipelines use to price individual examples. The closed form
    // turns an exponential game-theoretic sum into one ranked sweep
    // per validation point: sort training points by similarity to the
    // query, then
    //   s_(N) = 1[y_(N) = y] / N
    //   s_(i) = s_(i+1) + (1[y_(i)=y] − 1[y_(i+1)=y])·min(K,i)/(K·i)
    // i.e. a suffix sum — computed as a RUNNING window frame over
    // rank DESC (O(n); Spark's UNBOUNDED FOLLOWING frame re-scans per
    // row and is O(n²)). Per-rank terms quantize at 12
    // decimals into DECIMAL(32,12), so both the frame sum and the
    // per-training-point sum over validation queries are EXACT
    // integer-scaled arithmetic — order-independent, cross-engine
    // deterministic (the q243 discipline); similarities round at 9
    // before ranking with a vec_id tiebreak.
    //
    // Scale: validation sets are small by design (here every 10th
    // vector) and ride a broadcast; the pair relation is
    // |train|×|val| keyed by qid, and the ranked sweep is the
    // definitionally-required O(N log N) per query, sharded across
    // queries. At larger |train|, the standard truncation applies
    // (rank-i terms are bounded by 1/i, so the tail beyond rank R
    // contributes ≤ K/R) — probe the VectorIndex for the top-R and
    // fold the tail; the formula and this plan are unchanged.
    QDef(
      "q262_knn_shapley",
      (s, dir) => knnShapley(s, dir),
      Some(s"""
        WITH $knnShapleyDuckCtes
        SELECT tid AS vec_id, tl AS label,
               ROUND(CAST(SUM(sv) AS DOUBLE) / COUNT(*), 9) AS shap_r
        FROM sv
        GROUP BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q268: TRUNCATED top-R KNN-Shapley — the 100 TB form of q262.
    // The exact sweep needs every training point ranked per query;
    // at corpus scale that is the one thing you cannot do, and the
    // closed form says you do not have to: each rank-i term is bounded
    // by 1/i (for i ≥ K), so the tail beyond rank R contributes at
    // most Σ_{i>R} 1/i·(K/K) ≤ K/R to any point's value. Keep only
    // each query's top-R by similarity, fold the tail to zero
    // (s_{R+1} := 0), and the estimator's error is bounded and
    // controllable by R. Here R = 64 against the brute-force top-R so
    // the truncation SEMANTICS are oracle-gated end-to-end; the
    // production candidate source is VectorIndex.search
    // ([[Valuation.knnShapleyTopR]] — same shapleySweep, spec-pinned
    // to this query and to q262 at full R). Points outside every
    // query's top-R carry value 0 under the fold and are absent from
    // the report; normalization is by |val| (a point absent from a
    // query's top-R contributes 0 for that query, unlike q262's
    // per-point count, which equals |val| only when nothing is
    // truncated).
    //
    // Scale: the candidate relation is |val|·R rows (not |train|·|val|),
    // the sweep is O(R log R) per query sharded by qid, and with the
    // index as candidate source the corpus is never cross-joined at
    // all — only probed cells are scanned.
    QDef(
      "q268_shapley_topr",
      (s, dir) => {
        val e = vectors(s, dir).ckpt()
        val tr = e.where(col("vec_id") % 10 =!= 0)
          .select(col("vec_id").as("tid"), col("label").as("tl"),
            col("v").as("tv"))
        val va = e.where(col("vec_id") % 10 === 0 &&
            col("vec_id") < 2048)
          .select(col("vec_id").as("qid"), col("label").as("ql"),
            col("v").as("qv"))
        val ntr = tr.agg(count(lit(1)).as("ntr"))
        val nva = va.agg(count(lit(1)).as("nva"))
        val p = tr.crossJoin(broadcast(va))
          .select(col("qid"), col("tid"), col("tl"),
            when(col("tl") === col("ql"), 1).otherwise(0).as("ind"),
            round(expr("dot_product(tv, qv)"), 9).as("sim"))
        shapleySweep(p, ntr, rCap = Some(64))
          .crossJoin(broadcast(nva))
          .select(col("tid").as("vec_id"), col("tl").as("label"),
            col("nq"),
            expr("round(cast(tot as double) / nva, 9)").as("shap_topr_r"))
      },
      Some("""
        WITH e AS MATERIALIZED (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        tr AS (SELECT vec_id AS tid, label AS tl, v AS tv
               FROM e WHERE vec_id % 10 <> 0),
        va AS (SELECT vec_id AS qid, label AS ql, v AS qv
               FROM e WHERE vec_id % 10 = 0 AND vec_id < 2048),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntr FROM tr),
        nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS nva FROM va),
        p AS MATERIALIZED (SELECT va.qid, tr.tid, tr.tl,
               CASE WHEN tr.tl = va.ql THEN 1 ELSE 0 END AS ind,
               ROUND(list_sum(list_transform(range(1, 65),
                 i -> tr.tv[i] * va.qv[i])), 9) AS sim
             FROM tr, va),
        r0 AS (SELECT qid, tid, tl, ind,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim DESC, tid ASC) AS i
               FROM p),
        r AS (SELECT qid, tid, tl, ind, i,
                LEAD(ind) OVER (PARTITION BY qid ORDER BY i ASC) AS indn
              FROM r0 WHERE i <= 64),
        t AS (SELECT qid, tid, tl, i,
                CAST(ROUND(CASE
                  WHEN indn IS NULL AND i = ntr
                    THEN CAST(ind AS DOUBLE) / ntr
                  WHEN indn IS NULL
                    THEN CAST(ind AS DOUBLE)
                         * CAST(LEAST(5, i) AS DOUBLE)
                         / CAST(5 * i AS DOUBLE)
                  ELSE CAST(ind - indn AS DOUBLE)
                       * CAST(LEAST(5, i) AS DOUBLE)
                       / CAST(5 * i AS DOUBLE) END, 12)
                  AS DECIMAL(32, 12)) AS term
              FROM r, n),
        sv AS (SELECT qid, tid, tl,
                 SUM(term) OVER (PARTITION BY qid ORDER BY i DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sv
               FROM t)
        SELECT tid AS vec_id, tl AS label,
               CAST(COUNT(*) AS BIGINT) AS nq,
               ROUND(CAST(SUM(sv) AS DOUBLE) / nva, 9) AS shap_topr_r
        FROM sv, nv
        GROUP BY tid, tl, nva
      """)),

    // ------------------------------------------------------------------
    // q269: retrieval-system MRR@10 eval — the reranking-quality report
    // a RAG stack reads before shipping a retriever change: THREE
    // systems scored side by side on the same query set (8 query docs,
    // label relevance — the q172 convention):
    //   lexical  — word-trigram Jaccard between query and candidate
    //              document text (q23's shingle rule);
    //   semantic — embedding cosine (vec_id = doc_id, q171's arms);
    //   hybrid   — RRF(k = 60) fusion of the two top-50 lists (q171's
    //              fusion, generalized from 1 query to a query SET).
    // MRR@10 = mean over queries of 1/rank-of-first-relevant (0 when
    // no relevant doc lands in the top 10). Per-query reciprocals
    // quantize at 12 decimals into DECIMAL(32,12) before the mean
    // (exact, order-independent — the q243 discipline); both sims
    // round at 9 with doc_id tiebreaks before ranking.
    //
    // Scale: the 8 queries broadcast (shingle sets + query vectors);
    // ONE corpus scan computes both sims per (query, candidate); the
    // per-qid top-50 caps and the ≤150-row fusion/eval tail are
    // bounded by |queries|, which is fixed by design — the corpus is
    // scanned once and never self-joined. At 100 TB the candidate
    // lists come from the persisted indexes —
    // Retrieval.hybridMrrFromIndexes (TextIndex.searchBm25Batch +
    // VectorIndex.search) is that path, sharing this query's shingle
    // rule, similarity, and fusion/eval tail; RetrievalSpec pins it
    // ≡ this query at full probe.
    QDef(
      "q269_hybrid_mrr",
      (s, dir) => {
        val e = vectors(s, dir).ckpt()
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), expr(TextQueries.wordsExpr).as("ws"))
          .select(col("doc_id"), triShingles.as("sg"))
        val corpus = e.join(docs, e("vec_id") === docs("doc_id"))
          .select(col("vec_id"), col("label"), col("v"), col("sg"))
          .ckpt()
        val qs = corpus.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("label").as("ql"),
            col("v").as("qv"), col("sg").as("qsg"))
        val byQ = (c: String) => Window.partitionBy(col("qid"))
          .orderBy(col(c).desc, col("vec_id").asc)
        val scored = corpus.join(broadcast(qs),
            col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            when(col("label") === col("ql"), 1).otherwise(0).as("rel"),
            round(expr("dot_product(v, qv)"), 9).as("sim_sem"),
            triJaccard9.as("sim_lex"))
          .ckpt() // feeds both arms + the fusion
        val sem = scored
          .withColumn("sem_rk", row_number().over(byQ("sim_sem")))
          .where(col("sem_rk") <= 50)
          .select(col("qid"), col("vec_id"), col("rel"), col("sem_rk"))
        val lex = scored
          .withColumn("lex_rk", row_number().over(byQ("sim_lex")))
          .where(col("lex_rk") <= 50)
          .select(col("qid"), col("vec_id"), col("rel"), col("lex_rk"))
        hybridMrrTail(sem, lex, qs.select(col("qid")))
      },
      Some(s"""
        WITH e AS MATERIALIZED (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        d AS (SELECT doc_id, ${TextQueries.wordsExprDuck} AS ws
              FROM documents),
        corpus AS MATERIALIZED (
          SELECT e.vec_id, e.label, e.v,
                 list_distinct(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END)
                   AS sg
          FROM e JOIN d ON d.doc_id = e.vec_id),
        qs AS (SELECT vec_id AS qid, label AS ql, v AS qv, sg AS qsg
               FROM corpus WHERE vec_id < 8),
        scored AS MATERIALIZED (
          SELECT q.qid, c.vec_id,
                 CASE WHEN c.label = q.ql THEN 1 ELSE 0 END AS rel,
                 ROUND(list_sum(list_transform(range(1, 65),
                   i -> c.v[i] * q.qv[i])), 9) AS sim_sem,
                 ROUND(CASE WHEN len(c.sg) + len(q.qsg) = 0 THEN 0.0
                   ELSE CAST(len(list_intersect(c.sg, q.qsg)) AS DOUBLE)
                        / (len(c.sg) + len(q.qsg)
                           - len(list_intersect(c.sg, q.qsg))) END, 9)
                   AS sim_lex
          FROM corpus c JOIN qs q ON c.vec_id <> q.qid),
        sem AS (SELECT qid, vec_id, rel, sem_rk FROM (
                  SELECT qid, vec_id, rel,
                         CAST(ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY sim_sem DESC, vec_id ASC)
                           AS INTEGER) AS sem_rk
                  FROM scored) t WHERE sem_rk <= 50),
        lex AS (SELECT qid, vec_id, rel, lex_rk FROM (
                  SELECT qid, vec_id, rel,
                         CAST(ROW_NUMBER() OVER (PARTITION BY qid
                           ORDER BY sim_lex DESC, vec_id ASC)
                           AS INTEGER) AS lex_rk
                  FROM scored) t WHERE lex_rk <= 50),
        fused AS (SELECT COALESCE(s.qid, l.qid) AS qid,
                         COALESCE(s.vec_id, l.vec_id) AS vec_id,
                         GREATEST(COALESCE(s.rel, 0), COALESCE(l.rel, 0))
                           AS rel,
                         ROUND(COALESCE(CAST(1.0 AS DOUBLE)
                                 / (60 + l.lex_rk), 0)
                             + COALESCE(CAST(1.0 AS DOUBLE)
                                 / (60 + s.sem_rk), 0), 9) AS rrf
                  FROM sem s FULL OUTER JOIN lex l
                    ON s.qid = l.qid AND s.vec_id = l.vec_id),
        fr AS (SELECT qid, vec_id, rel,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rrf DESC, vec_id ASC) AS INTEGER) AS rrf_rk
               FROM fused),
        ranked AS (
          SELECT 'lexical_jaccard' AS system, qid, rel, lex_rk AS rk
          FROM lex
          UNION ALL
          SELECT 'semantic_cosine' AS system, qid, rel, sem_rk AS rk
          FROM sem
          UNION ALL
          SELECT 'hybrid_rrf' AS system, qid, rel, rrf_rk AS rk FROM fr),
        hits AS (SELECT system, qid, MIN(rk) AS first_rel
                 FROM ranked WHERE rel = 1 AND rk <= 10
                 GROUP BY 1, 2),
        spine AS (SELECT q.qid, s.system FROM qs q,
                    (VALUES ('lexical_jaccard'), ('semantic_cosine'),
                            ('hybrid_rrf')) s(system))
        SELECT sp.system,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(CASE WHEN h.first_rel IS NOT NULL THEN 1 ELSE 0
                 END) AS BIGINT) AS n_hit,
               ROUND(CAST(SUM(CAST(ROUND(COALESCE(
                   CAST(1.0 AS DOUBLE) / h.first_rel, 0.0), 12)
                 AS DECIMAL(32, 12))) AS DOUBLE) / COUNT(*), 6)
                 AS mrr_at_10_r
        FROM spine sp LEFT JOIN hits h
          ON h.system = sp.system AND h.qid = sp.qid
        GROUP BY 1
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q270: duplicate pricing — per-CLUSTER Shapley mass, the q262 ×
    // q54 composition the curation loop closes with: near-duplicates
    // split the attribution a unique example would get (a K-NN
    // surrogate distributes the same neighborhood evidence across all
    // copies), so pricing data by per-POINT value systematically
    // underpays duplicated content and a dedup decision should weigh
    // the CLUSTER's pooled mass. Composition of two shared
    // definitions — DedupQueries.clusterAssignment (q54's star-
    // contraction components) and knnShapley (q262's exact sweep) —
    // joined on vec_id = doc_id (embeddings are document vectors),
    // inner: only train-covered docs carry value. Per-cluster masses
    // sum as exact DECIMAL(32,9) (the round-9 values are recovered
    // exactly by the cast; sums stay order-independent), then roll up
    // into size classes by the number of VALUED members (1 / 2-3 /
    // 4+), reporting pooled mass and mean per-point value per class —
    // the singleton row is the "what a unique example earns" baseline.
    //
    // Scale: clusters come from banded candidates + O(log²)-round
    // components (q54's argument), values from the linear q262 sweep
    // (q268's truncated form at corpus scale); the join is one
    // doc_id-keyed hash join and the report collapses to ≤ 3 rows.
    QDef(
      "q270_cluster_value",
      (s, dir) => {
        // sequential on purpose: overlapping these two arms with
        // graft.Par measured 1.39× SLOWER in the r15 conf A/B (the
        // Shapley arm saturates the machine; concurrent block writes
        // only contend) — unlike q279, whose three arms do overlap
        val shap = knnShapley(s, dir)
        val clusters = DedupQueries.clusterAssignment(s, dir)
        val perCluster = clusters
          .join(shap, clusters("doc_id") === shap("vec_id"))
          .select(col("cluster_id"),
            expr("cast(round(shap_r, 9) as decimal(32, 9))").as("shp"))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_pts"), sum(col("shp")).as("mass"))
        perCluster
          .select(expr("""case when n_pts = 1 then 'singleton'
              when n_pts <= 3 then 'small_2_3'
              else 'large_4_plus' end""").as("size_class"),
            col("n_pts"), col("mass"))
          .groupBy(col("size_class"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("n_pts")).as("n_train_points"),
            round(expr("cast(sum(mass) as double)"), 9).as("mass_r"),
            round(expr("cast(sum(mass) as double)") /
              sum(col("n_pts")), 9).as("mean_per_point_r"))
          .orderBy(col("size_class"))
      },
      Some(s"""
        WITH RECURSIVE ${DedupQueries.clusterAssignDuckCtes},
        $knnShapleyDuckCtes,
        shap AS (SELECT tid AS vec_id,
                   ROUND(CAST(SUM(sv) AS DOUBLE) / COUNT(*), 9) AS shap_r
                 FROM sv GROUP BY tid),
        j AS (SELECT a.cluster_id,
                     CAST(ROUND(s.shap_r, 9) AS DECIMAL(32, 9)) AS shp
              FROM assign a JOIN shap s ON s.vec_id = a.doc_id),
        pc AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
                      SUM(shp) AS mass
               FROM j GROUP BY 1),
        cls AS (SELECT CASE WHEN n_pts = 1 THEN 'singleton'
                  WHEN n_pts <= 3 THEN 'small_2_3'
                  ELSE 'large_4_plus' END AS size_class, n_pts, mass
                FROM pc)
        SELECT size_class,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(n_pts) AS BIGINT) AS n_train_points,
               ROUND(CAST(SUM(mass) AS DOUBLE), 9) AS mass_r,
               ROUND(CAST(SUM(mass) AS DOUBLE) / SUM(n_pts), 9)
                 AS mean_per_point_r
        FROM cls
        GROUP BY 1
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q273: semantic-cluster topic terms (c-TF-IDF, the BERTopic
    // class-based TF-IDF — Grootendorst 2022) — the "what is actually
    // IN each region of embedding space" report a curation loop reads
    // next to the cell-balance audit (q221): each IVF cell (the SAME
    // shared ivfAssign quantization q48/q59/q120 serve from) is
    // treated as one class-document, and its top-5 most DISTINCTIVE
    // terms are ranked by c-TF-IDF = tf(w, cell) · ln(1 + A / f_w)
    // with A the mean words-per-cell and f_w the word's corpus
    // frequency — high-tf words shared by every cell (stopwords) are
    // damped by the idf part without any stopword list. Joined on
    // vec_id = doc_id (embeddings are document vectors; topics cover
    // the embedded subset).
    //
    // Determinism: A = Σtf / 16 is exact (integer sum, /2⁴ exact in
    // binary); A / f_w rounds at 9 before the (correctly-rounded)
    // ln; scores round at 6 BEFORE ranking, ties break on the term;
    // output keyed (cell, rank) with a total order.
    //
    // Scale: cell assignment is the broadcast-16-centroid narrow map;
    // the (cell, word) relation is vocab×16-bounded after one
    // doc_id-keyed join + partial agg — corpus tokens collapse
    // map-side; f_w and A derive from THAT bounded relation (the
    // corpus is never rescanned); the rank window partitions by cell
    // over ≤vocab rows. At 100 TB every exchange ships counts, not
    // tokens.
    QDef(
      "q273_cell_topics",
      (s, dir) => {
        val e = vectors(s, dir)
        val cells = ivfAssign(e, 16)
          .select(col("vec_id"), col("cell"))
        val words = Tables(s, dir).documents
          .select(col("doc_id"),
            explode(expr(TextQueries.wordsExpr)).as("w"))
        val cw = words
          .join(cells, words("doc_id") === cells("vec_id"))
          .groupBy(col("cell"), col("w"))
          .agg(count(lit(1)).as("tf"))
          .ckpt() // vocab×16-bounded; feeds f_w, A, AND the scoring
        val wf = cw.groupBy(col("w")).agg(sum(col("tf")).as("fw"))
        val avgc = cw.agg(
          (sum(col("tf")).cast("double") / lit(16.0)).as("a"))
        val byCell = Window.partitionBy(col("cell"))
          .orderBy(col("score_r").desc, col("w").asc)
        cw.join(wf, "w")
          .crossJoin(broadcast(avgc))
          .withColumn("score_r", round(col("tf")
            * log(lit(1.0) + round(col("a") / col("fw"), 9)), 6))
          .withColumn("rk", row_number().over(byCell))
          .where(col("rk") <= 5)
          .select(col("cell"), col("rk").as("rank"),
            col("w").as("term"), col("tf"), col("score_r"))
          .orderBy(col("cell"), col("rank"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv
                  FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65),
                     i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT vec_id, cent_id AS cell
                   FROM ranked WHERE rn = 1),
        words AS (SELECT doc_id, unnest(ws) AS w
                  FROM (SELECT doc_id,
                          ${TextQueries.wordsExprDuck} AS ws
                        FROM documents) t),
        cw AS (SELECT a.cell, wo.w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM words wo JOIN assign a ON a.vec_id = wo.doc_id
               GROUP BY 1, 2),
        wf AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS fw
               FROM cw GROUP BY 1),
        av AS (SELECT CAST(SUM(tf) AS DOUBLE) / 16.0 AS a FROM cw),
        scored AS (SELECT cw.cell, cw.w, cw.tf,
                     ROUND(cw.tf * LN(1.0 + ROUND(av.a / wf.fw, 9)),
                       6) AS score_r
                   FROM cw JOIN wf ON wf.w = cw.w, av),
        rk AS (SELECT cell, w, tf, score_r,
                 ROW_NUMBER() OVER (PARTITION BY cell
                   ORDER BY score_r DESC, w ASC) AS rk
               FROM scored)
        SELECT cell, CAST(rk AS INTEGER) AS rank, w AS term, tf,
               score_r
        FROM rk WHERE rk <= 5
        ORDER BY cell, rank
      """)),

    // ------------------------------------------------------------------
    // q276: semantic drift between sources — Jensen-Shannon divergence
    // of per-source EMBEDDING-SPACE distributions over the SHARED
    // ivfAssign cells: each source becomes a 16-bucket histogram of
    // where its documents land in vector space, Laplace-smoothed
    // (+1 per cell) so empty cells carry mass, and every source PAIR
    // gets JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q). The semantic
    // companion to q112's lexical KL (two sources can share vocabulary
    // yet occupy different embedding regions — templated boilerplate
    // does exactly that) and the MAUVE-style divergence-over-quantized-
    // embeddings idea reduced to its relational core. JS is symmetric
    // and bounded by ln 2, so the matrix reads as a distance.
    //
    // Determinism: cell counts are exact integers; p = (n+1)/(tot+16)
    // is ONE double division of exact integers (identical IEEE result
    // in both engines); per-cell JS terms round at 12 into
    // DECIMAL(32,12) so the 16-term sum is exact and order-free; js_r
    // rounds at 6. ln(p/m) is safe: smoothing keeps p, m > 0.
    //
    // Scale: the only corpus-sized work is the shared cell assignment
    // (broadcast-16-centroid narrow map) + one doc_id-keyed join to
    // source + one (source, cell) partial agg — everything downstream
    // is |sources|·16 and |sources|²·16 bounded (sources are a
    // fixed-cardinality dimension, the q112/q249 premise).
    QDef(
      "q276_semantic_drift",
      (s, dir) => {
        val e = vectors(s, dir)
        val cells = ivfAssign(e, 16)
          .select(col("vec_id"), col("cell"))
        val docSrc = Tables(s, dir).documents
          .select(col("doc_id"), col("source"))
        val sc = docSrc
          .join(cells, docSrc("doc_id") === cells("vec_id"))
          .groupBy(col("source"), col("cell"))
          .agg(count(lit(1)).as("n"))
          .ckpt() // |sources|×16-bounded; feeds totals AND the grid
        val stot = sc.groupBy(col("source")).agg(sum(col("n")).as("tot"))
        val cellSpine = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cell"))
        val hist = stot.crossJoin(broadcast(cellSpine))
          .join(sc, Seq("source", "cell"), "left")
          .select(col("source"), col("cell"), col("tot"),
            expr("""(cast(coalesce(n, 0) as double) + 1.0d)
               / (cast(tot as double) + 16.0d)""").as("p"))
        val h1 = hist.select(col("source").as("s1"), col("cell"),
          col("p").as("p1"), col("tot").as("n1"))
        val h2 = hist.select(col("source").as("s2"), col("cell"),
          col("p").as("p2"), col("tot").as("n2"))
        h1.join(h2, Seq("cell"))
          .where(col("s1") < col("s2"))
          .select(col("s1"), col("s2"), col("n1"), col("n2"), expr(
            """cast(round(
                 0.5d * p1 * ln(p1 / ((p1 + p2) / 2.0d))
               + 0.5d * p2 * ln(p2 / ((p1 + p2) / 2.0d)), 12)
               as decimal(32, 12))""").as("t"))
          .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
          .agg(round(expr("cast(sum(t) as double)"), 6).as("js_r"))
          .select(col("s1").as("source_a"), col("s2").as("source_b"),
            col("n1").as("n_docs_a"), col("n2").as("n_docs_b"),
            col("js_r"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv
                  FROM e WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65),
                     i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        assign AS (SELECT vec_id, cent_id AS cell
                   FROM ranked WHERE rn = 1),
        sc AS (SELECT d.source, a.cell, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents d JOIN assign a ON a.vec_id = d.doc_id
               GROUP BY 1, 2),
        stot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot
                 FROM sc GROUP BY 1),
        hist AS (SELECT st.source, c.cent_id AS cell, st.tot,
                   (CAST(COALESCE(s.n, 0) AS DOUBLE) + 1.0)
                     / (CAST(st.tot AS DOUBLE) + 16.0) AS p
                 FROM stot st CROSS JOIN cents c
                 LEFT JOIN sc s ON s.source = st.source
                   AND s.cell = c.cent_id)
        SELECT a.source AS source_a, b.source AS source_b,
               a.tot AS n_docs_a, b.tot AS n_docs_b,
               ROUND(CAST(SUM(CAST(ROUND(
                   0.5 * a.p * LN(a.p / ((a.p + b.p) / 2.0))
                 + 0.5 * b.p * LN(b.p / ((a.p + b.p) / 2.0)), 12)
                 AS DECIMAL(32, 12))) AS DOUBLE), 6) AS js_r
        FROM hist a JOIN hist b
          ON a.cell = b.cell AND a.source < b.source
        GROUP BY 1, 2, 3, 4
        ORDER BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q279: curation close-out — the one per-source ship/hold report a
    // data lead reads before freezing a training mixture, composing
    // this suite's three per-source signals WITHOUT re-deriving any of
    // them (every input is a shared definition, the anti-drift rule):
    //   - duplication: q278's dedup-aware mass (DedupQueries
    //     .dedupWeights — uniqueness = effective/raw mass);
    //   - value: q262's exact KNN-Shapley (knnShapley), rolled up per
    //     SOURCE instead of q270's per-cluster size classes — a
    //     source whose valued docs HURT eval on average is flagged;
    //   - mixture: q249's DoReMi weight (PipelineQueries
    //     .doremiWeights) — the weight the source ships WITH.
    // Verdict rule (deterministic over the round-6/9 inputs):
    // hold_duplication when under half the source's mass is unique
    // (uniqueness_r < 0.5 — a crawl that mostly re-crawled itself),
    // hold_value when its mean per-doc Shapley is negative (actively
    // harmful to the fixed eval set), else ship.
    //
    // Determinism: every numeric input is an already-rounded shared
    // relation; the only new arithmetic is the per-source decimal
    // Shapley mass (q270's DECIMAL(32,9) quantization) and two round-9
    // closing divisions; the verdict compares rounded doubles to
    // constants. NULL-safe: a source with no valued docs (no
    // embeddings among its docs) keeps NULL value columns and can
    // only hold on duplication.
    //
    // Scale: all three inputs collapse to |sources|-bounded relations
    // before this query touches them (their own headers carry the
    // 100 TB arguments; q54's assignment and the sweep sit behind
    // ckpts); the composition itself is two |sources|-row left joins
    // and one doc_id-keyed hash join for the value rollup — nothing
    // new is corpus-sized.
    QDef(
      "q279_curation_closeout",
      (s, dir) => {
        // the three per-source arms are independent eager ckpt chains
        // (Shapley sweep, q54 cluster mass, DoReMi supersteps) — build
        // them concurrently so one arm's superstep tail back-fills the
        // others' stages (guide §2.6; graft.Par scaladoc)
        val (shap, dw, mw) = graft.Par.par3(
          knnShapley(s, dir),
          DedupQueries.dedupWeights(s, dir),
          PipelineQueries.doremiWeights(s, dir))
        curationCloseout(s, dir, shap, dw, Some(mw))
      },
      Some(s"""
        WITH RECURSIVE ${DedupQueries.clusterAssignDuckCtes},
        ${DedupQueries.dedupWeightsDuckCtes},
        $knnShapleyDuckCtes,
        ${TextQueries.bigramLmDuck},
        ${PipelineQueries.doremiWeightsDuckCtes},
        shap AS (SELECT tid AS vec_id,
                   ROUND(CAST(SUM(sv) AS DOUBLE) / COUNT(*), 9) AS shap_r
                 FROM sv GROUP BY tid),
        vm AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_valued,
                 ROUND(CAST(SUM(CAST(ROUND(s2.shap_r, 9)
                     AS DECIMAL(32, 9))) AS DOUBLE), 9) AS value_mass_r,
                 ROUND(CAST(SUM(CAST(ROUND(s2.shap_r, 9)
                     AS DECIMAL(32, 9))) AS DOUBLE) / COUNT(*), 9)
                   AS mean_value_r
               FROM documents d JOIN shap s2 ON s2.vec_id = d.doc_id
               GROUP BY 1)
        SELECT dwrep.source, dwrep.n_docs, dwrep.uniqueness_r,
               dwrep.dedup_share_r, vm.n_valued, vm.value_mass_r,
               vm.mean_value_r, dmrep.doremi_weight_r,
               CASE
                 WHEN dwrep.uniqueness_r < 0.5 THEN 'hold_duplication'
                 WHEN vm.mean_value_r IS NOT NULL
                      AND vm.mean_value_r < 0.0 THEN 'hold_value'
                 ELSE 'ship' END AS verdict
        FROM dwrep
          LEFT JOIN vm ON vm.source = dwrep.source
          LEFT JOIN dmrep ON dmrep.source = dwrep.source
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q280: semantic eval-set decontamination screen — the EMBEDDING-
    // level leakage audit q56/q108's gram probes can't see (a
    // paraphrased or translated eval doc shares no 13-gram with its
    // train twin, but its embedding sits next to it): for every doc of
    // the BOUNDED eval battery (vec_id % 20 = 0 — q67's split
    // convention — capped at vec_id < 20·DecontamEvalCap, so the
    // battery is ≤ 512 docs at any corpus size), the
    // nearest TRAIN neighbor by cosine, reported as the top-50
    // most-suspect list with a z-score against the eval-set's own
    // nearest-neighbor distribution. No fixed threshold: leakage is a
    // TAIL property of the corpus at hand (this fixture's cross-pair
    // cosines top out ~0.43, so any literal cutoff is degenerate) —
    // the operator ranks suspects and quantifies how far each sits
    // outside its own distribution; the data lead reads from the top.
    //
    // Candidates come from the SAME first-16 IVF quantizer q48/q172
    // ship (ivfRanked — one definition): train docs keep their rn=1
    // cell, eval docs probe their top-2 cells, so the blast radius per
    // eval doc is 2 cells, never the train corpus. Determinism: cosine
    // rounds at 9 before the argmax (nid-asc tiebreak); mu/sigma are
    // one-row aggregates whose summation-order ulps the round-6
    // z absorbs.
    //
    // Scale: the corpus-sized side (train assignments) never moves —
    // the eval battery is BOUNDED IN-QUERY (stride sample ∧
    // vec_id < 20·DecontamEvalCap, the q262/q268 val-set discipline),
    // so the two broadcast sides are ≤ DecontamEvalCap rows at ANY
    // corpus size — without the bound the 1/20th stride grows linearly
    // with the corpus and the broadcast is a guaranteed driver stop
    // long before the join struggles (the r14 verdict's finding). The
    // bound does not bind at the gate SFs (max vec_id ≪ 10240), and at
    // production scale it IS the semantics: a decontamination screen
    // runs against a fixed, versioned eval release, never "5 % of
    // whatever the corpus is today". Per-eval NN is a qid-partitioned
    // window over cell-bounded candidates; the stats row crossJoins
    // (q37 pattern) into a TakeOrdered-50 report. The persisted-index
    // twin is [[Retrieval.semanticDecontamFromIndexes]]
    // (spec-pinned ≡ this query at full parity via the shared
    // [[decontamTail]]).
    QDef(
      "q280_semantic_decontam",
      (s, dir) => {
        val e = vectors(s, dir).ckpt()
        // 3-int projection (the q172 discipline): assignments feed the
        // train side AND the eval probes without re-running the
        // centroid join per consumer
        val rk = ivfRanked(e, 16)
          .select(col("vec_id"), col("cent_id"), col("rn"))
          .ckpt()
        val evalCap = lit(20L * DecontamEvalCap)
        val train = rk.filter(col("rn") === 1 && col("vec_id") % 20 =!= 0)
          .select(col("vec_id").as("nid"), col("cent_id").as("cell"))
          .join(e.select(col("vec_id").as("nid"), col("v").as("nv")),
            "nid")
        val probes = rk.filter(col("rn") <= 2 &&
            col("vec_id") % 20 === 0 && col("vec_id") < evalCap)
          .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
        val nn = train.join(broadcast(probes), "cell")
          .join(broadcast(e.where(col("vec_id") % 20 === 0 &&
              col("vec_id") < evalCap)
            .select(col("vec_id").as("qid"), col("v").as("qv"))), "qid")
          .select(col("qid"), col("nid"),
            round(expr("dot_product(nv, qv)"), 9).as("cos_r"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("cos_r").desc, col("nid").asc)))
          .where(col("rk") === 1)
          .select(col("qid").as("eval_id"), col("nid").as("nn_train_id"),
            col("cos_r").as("nn_cos_r"))
        decontamTail(nn)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, label,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
                  WHERE vec_id < 16),
        sims AS (SELECT a.vec_id, c.cent_id,
                        list_sum(list_transform(range(1, 65),
                          i -> a.v[i] * c.cv[i])) AS sim
                 FROM e a, cents c),
        ranked AS (SELECT vec_id, cent_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, cent_id ASC) AS rn
                   FROM sims),
        train AS (SELECT r.vec_id AS nid, r.cent_id AS cell, ne.v AS nv
                  FROM ranked r JOIN e ne ON ne.vec_id = r.vec_id
                  WHERE r.rn = 1 AND r.vec_id % 20 <> 0),
        probes AS (SELECT vec_id AS qid, cent_id AS cell
                   FROM ranked
                   WHERE rn <= 2 AND vec_id % 20 = 0
                     AND vec_id < ${20L * DecontamEvalCap}),
        cand AS (SELECT p.qid, t.nid,
                        ROUND(list_sum(list_transform(range(1, 65),
                          i -> t.nv[i] * qe.v[i])), 9) AS cos_r
                 FROM probes p
                 JOIN train t ON t.cell = p.cell
                 JOIN e qe ON qe.vec_id = p.qid),
        nn AS (SELECT qid AS eval_id, nid AS nn_train_id,
                      cos_r AS nn_cos_r
               FROM (SELECT qid, nid, cos_r,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_r DESC, nid ASC) AS rk
                     FROM cand) t
               WHERE rk = 1),
        st AS (SELECT AVG(nn_cos_r) AS mu,
                      STDDEV_SAMP(nn_cos_r) AS sigma FROM nn)
        SELECT eval_id, nn_train_id, nn_cos_r,
               ROUND((nn_cos_r - st.mu) / st.sigma, 6) AS z_r
        FROM nn CROSS JOIN st
        ORDER BY nn_cos_r DESC, eval_id ASC
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q282: embedding ingest integrity — the data-quality screen a
    // vector pipeline runs after every embedding job, per SOURCE:
    // coverage (did every document get a vector?), dimension
    // consistency (one ndim per corpus — a mixed-model ingest shows up
    // as n_dims_distinct > 1), zero vectors (an encoder that emitted
    // all-zeros normalizes to NaN downstream and silently poisons
    // every cosine), non-finite coordinates, and the norm envelope
    // (min/avg/max of the RAW norm — a drifted encoder shifts it).
    // The q168-family counterpart for the embeddings table: q168
    // audits text rows, nothing audited vectors.
    //
    // Determinism: the norm is a sequential array fold (identical IEEE
    // op order in both engines) rounded at 6; the mean sums the
    // ROUNDED norms as exact DECIMAL(18,6) before one rounded
    // division; everything else is integer counts.
    //
    // Scale: one narrow map over the embeddings scan (fold + flags per
    // row — no shuffle), one id-keyed join to attach sources, two
    // |sources|-bounded rollups. Nothing pairwise, nothing windowed.
    QDef(
      "q282_embedding_integrity",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), col("source"))
        val perVec = Tables(s, dir).embeddings
          .select(col("vec_id"),
            expr("cast(size(embedding) as bigint)").as("ndim"),
            round(expr(
              """sqrt(aggregate(embedding, cast(0.0 as double),
                   (a, x) -> a + cast(x as double) * cast(x as double)))"""),
              6).as("norm_r"),
            expr("""cast(exists(embedding, x -> isnan(x)
                 or abs(x) = cast('Infinity' as double)) as int)""")
              .as("bad"))
        val cov = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val agg = docs.join(perVec, docs("doc_id") === col("vec_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_vecs"),
            countDistinct(col("ndim")).as("n_dims_distinct"),
            sum(when(col("norm_r") === 0.0d, 1L).otherwise(0L))
              .as("n_zero"),
            sum(col("bad").cast("long")).as("n_nonfinite"),
            min(col("norm_r")).as("norm_min_r"),
            round(expr(
              "cast(sum(cast(norm_r as decimal(18, 6))) as double)")
              / count(lit(1)), 6).as("norm_avg_r"),
            max(col("norm_r")).as("norm_max_r"))
        cov.join(agg, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
            round(coalesce(col("n_vecs"), lit(0L)).cast("double")
              / col("n_docs"), 6).as("coverage_r"),
            col("n_dims_distinct"), col("n_zero"), col("n_nonfinite"),
            col("norm_min_r"), col("norm_avg_r"), col("norm_max_r"))
          .orderBy(col("source"))
      },
      Some("""
        WITH pv AS (SELECT vec_id,
                      CAST(len(embedding) AS BIGINT) AS ndim,
                      ROUND(sqrt(list_sum(list_transform(
                        embedding::DOUBLE[], x -> x * x))), 6) AS norm_r,
                      CASE WHEN list_sum(list_transform(
                             embedding::DOUBLE[],
                             x -> CASE WHEN isnan(x) OR NOT isfinite(x)
                                  THEN 1 ELSE 0 END)) > 0
                           THEN 1 ELSE 0 END AS bad
                    FROM embeddings),
        cov AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1),
        agg AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                  CAST(COUNT(DISTINCT p.ndim) AS BIGINT)
                    AS n_dims_distinct,
                  CAST(SUM(CASE WHEN p.norm_r = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_zero,
                  CAST(SUM(p.bad) AS BIGINT) AS n_nonfinite,
                  MIN(p.norm_r) AS norm_min_r,
                  ROUND(CAST(SUM(CAST(p.norm_r AS DECIMAL(18, 6)))
                    AS DOUBLE) / COUNT(*), 6) AS norm_avg_r,
                  MAX(p.norm_r) AS norm_max_r
                FROM documents d JOIN pv p ON p.vec_id = d.doc_id
                GROUP BY 1)
        SELECT c.source, c.n_docs,
               COALESCE(a.n_vecs, 0) AS n_vecs,
               ROUND(CAST(COALESCE(a.n_vecs, 0) AS DOUBLE) / c.n_docs,
                 6) AS coverage_r,
               a.n_dims_distinct, a.n_zero, a.n_nonfinite,
               a.norm_min_r, a.norm_avg_r, a.norm_max_r
        FROM cov c LEFT JOIN agg a ON a.source = c.source
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q283: IVF occupancy skew — the ONE-row dashboard number behind
    // q221's per-cell balance audit and the splitHotCells trigger:
    // Gini coefficient of the 16-cell occupancy (0 = perfectly
    // balanced, →1 = everything in one cell), the largest cell's
    // share, the EXPECTED probed-corpus share for an nprobe=1 query
    // drawn from the data distribution (Σ share² — the quantity
    // ServeBench showed per-query latency tracks), and the hot-cell
    // count under q221's exact-integer rule. An operator watches THIS
    // number drift upward across append generations and schedules a
    // split/retrain when it moves.
    //
    // Determinism: occupancies are exact integers off the shared
    // ivfRanked assignment; the Gini rank orders 16 rows by (n,
    // cent_id); every reported value is one rounded division of exact
    // integer sums.
    //
    // Scale: the assignment is the shared broadcast-centroid scan; the
    // skew math runs over a 16-row relation (Q.bounded window).
    QDef(
      "q283_ivf_skew",
      (s, dir) => {
        val k = 16
        val e = vectors(s, dir).ckpt()
        val occ = ivfRanked(e, k).filter(col("rn") === 1)
          .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
        val spine = e.where(col("vec_id") < k)
          .select(col("vec_id").as("cent_id"))
        val cells = spine.join(occ, Seq("cent_id"), "left")
          .select(col("cent_id"), coalesce(col("n"), lit(0L)).as("n"))
          .ckpt() // 16 rows: feeds the rank, the totals, and the agg
        val ranked = cells.withColumn("i", row_number().over(
          Q.bounded.orderBy(col("n").asc, col("cent_id").asc)))
        val tot = cells.agg(sum(col("n")).as("total"))
        ranked.crossJoin(broadcast(tot))
          .groupBy()
          .agg(count(lit(1)).as("n_cells"),
            max(col("total")).as("total_vecs"),
            round(max(col("n")).cast("double") / max(col("total")), 6)
              .as("max_share_r"),
            round(sum((lit(2L) * col("i") - lit(k + 1L)) * col("n"))
              .cast("double") / (lit(k.toLong) * max(col("total"))), 6)
              .as("gini_r"),
            round(sum(col("n") * col("n")).cast("double")
              / (max(col("total")).cast("double")
                 * max(col("total")).cast("double")), 6)
              .as("expected_probe_share_r"),
            sum(when(col("n") * k > col("total") * 2L, 1L)
              .otherwise(0L)).as("hot_cells"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_sum(list_transform(
                         embedding::DOUBLE[], y -> y * y)))) AS v
                   FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
                  WHERE vec_id < 16),
        sims AS (SELECT e.vec_id, c.cent_id,
                   list_sum(list_transform(range(1, 65),
                     i -> e.v[i] * c.cv[i])) AS sim
                 FROM e, cents c),
        assign AS (SELECT vec_id, cent_id FROM (
                     SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY sim DESC, cent_id ASC) AS rn
                     FROM sims) t WHERE rn = 1),
        occ AS (SELECT c.cent_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n
                FROM cents c LEFT JOIN assign a
                  ON a.cent_id = c.cent_id
                GROUP BY 1),
        rk AS (SELECT cent_id, n,
                 ROW_NUMBER() OVER (ORDER BY n ASC, cent_id ASC) AS i
               FROM occ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM occ)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               MAX(t.total) AS total_vecs,
               ROUND(CAST(MAX(n) AS DOUBLE) / MAX(t.total), 6)
                 AS max_share_r,
               ROUND(CAST(SUM((2 * i - 17) * n) AS DOUBLE)
                 / (16 * MAX(t.total)), 6) AS gini_r,
               ROUND(CAST(SUM(n * n) AS DOUBLE)
                 / (CAST(MAX(t.total) AS DOUBLE)
                    * CAST(MAX(t.total) AS DOUBLE)), 6)
                 AS expected_probe_share_r,
               CAST(SUM(CASE WHEN n * 16 > t.total * 2
                 THEN 1 ELSE 0 END) AS BIGINT) AS hot_cells
        FROM rk CROSS JOIN tot t
      """)),

    // ------------------------------------------------------------------
    // q285: embedding drift between ingest halves — the release-QA
    // companion to q282's integrity screen: per SOURCE, the cosine
    // between the mean embedding of the FIRST and SECOND half of the
    // ingest (vec_id order, the repo-wide ingest-order convention). A
    // re-run of the same encoder over fresh crawl holds drift_cos_r
    // near 1; a silent encoder upgrade, a tokenizer change, or a
    // topic shift in the crawl shows up as a per-source drop — BEFORE
    // any similarity index built on the release degrades.
    //
    // Determinism (the q282 discipline): each coordinate rounds at 6
    // and sums as exact DECIMAL(18,6) per (source, half, dim) — one
    // deterministic double mean per cell; the 64-term cosine sums
    // round-12 products as exact DECIMAL(32,12); one rounded double
    // division closes. The 2-way half split sums {m, 0.0} — exact.
    //
    // Scale: one posexplode scan (64 rows/vector) into a
    // (source, half, dim)-keyed partial agg — ǀsourcesǀ·128 rows out
    // of the exchange; everything after is bounded by that grid. The
    // max-id spine is a 1-row broadcast cross (the q252 discipline).
    QDef(
      "q285_embedding_drift",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), col("source"))
        val mx = Tables(s, dir).embeddings
          .agg(max(col("vec_id")).as("maxid"))
        val ev = Tables(s, dir).embeddings
          .join(docs, docs("doc_id") === col("vec_id"))
          .crossJoin(broadcast(mx))
          .select(col("source"),
            when(col("vec_id") * 2 <= col("maxid"), lit(0L))
              .otherwise(lit(1L)).as("half"),
            col("embedding"))
          .ckpt() // feeds the dim grid AND the per-half counts
        val dims = ev
          .select(col("source"), col("half"),
            posexplode(col("embedding")))
          .select(col("source"), col("half"), col("pos"),
            expr("cast(round(cast(col as double), 6) as decimal(18, 6))")
              .as("vq"))
        val m = dims.groupBy(col("source"), col("half"), col("pos"))
          .agg((expr("cast(sum(vq) as double)") / count(lit(1)))
            .as("m"))
        val paired = m.groupBy(col("source"), col("pos"))
          .agg(sum(when(col("half") === 0L, col("m"))
            .otherwise(lit(0.0d))).as("m0"),
            sum(when(col("half") === 1L, col("m"))
              .otherwise(lit(0.0d))).as("m1"))
        val sums = paired
          .select(col("source"),
            expr("cast(round(m0 * m1, 12) as decimal(32, 12))")
              .as("p01"),
            expr("cast(round(m0 * m0, 12) as decimal(32, 12))")
              .as("p00"),
            expr("cast(round(m1 * m1, 12) as decimal(32, 12))")
              .as("p11"))
          .groupBy(col("source"))
          .agg(sum(col("p01")).as("s01"), sum(col("p00")).as("s00"),
            sum(col("p11")).as("s11"))
        val cnt = ev.groupBy(col("source"))
          .agg(sum(when(col("half") === 0L, 1L).otherwise(0L))
            .as("n_first"),
            sum(when(col("half") === 1L, 1L).otherwise(0L))
              .as("n_second"))
        cnt.join(sums, Seq("source"))
          .select(col("source"), col("n_first"), col("n_second"),
            when(col("s00") === 0 || col("s11") === 0, lit(null))
              .otherwise(round(col("s01").cast("double") /
                (sqrt(col("s00").cast("double")) *
                  sqrt(col("s11").cast("double"))), 6))
              .as("drift_cos_r"))
          .orderBy(col("source"))
      },
      Some("""
        WITH mx AS (SELECT MAX(vec_id) AS maxid FROM embeddings),
        ev AS (SELECT d.source,
                 CASE WHEN e.vec_id * 2 <= m.maxid THEN 0 ELSE 1 END
                   AS half,
                 e.embedding
               FROM embeddings e
                 JOIN documents d ON d.doc_id = e.vec_id, mx m),
        dims AS (SELECT source, half, p.p AS pos,
                   CAST(ROUND(CAST(embedding[p.p + 1] AS DOUBLE), 6)
                     AS DECIMAL(18, 6)) AS vq
                 FROM ev, (SELECT unnest(range(0, 64)) AS p) p),
        m AS (SELECT source, half, pos,
                CAST(SUM(vq) AS DOUBLE) / COUNT(*) AS m
              FROM dims GROUP BY 1, 2, 3),
        paired AS (SELECT source, pos,
                SUM(CASE WHEN half = 0 THEN m ELSE 0 END) AS m0,
                SUM(CASE WHEN half = 1 THEN m ELSE 0 END) AS m1
              FROM m GROUP BY 1, 2),
        sums AS (SELECT source,
                SUM(CAST(ROUND(m0 * m1, 12) AS DECIMAL(32, 12))) AS s01,
                SUM(CAST(ROUND(m0 * m0, 12) AS DECIMAL(32, 12))) AS s00,
                SUM(CAST(ROUND(m1 * m1, 12) AS DECIMAL(32, 12))) AS s11
              FROM paired GROUP BY 1),
        cnt AS (SELECT source,
                CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_first,
                CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_second
              FROM ev GROUP BY 1)
        SELECT c.source, c.n_first, c.n_second,
               CASE WHEN s.s00 = 0 OR s.s11 = 0 THEN NULL
                    ELSE ROUND(CAST(s.s01 AS DOUBLE) /
                      (sqrt(CAST(s.s00 AS DOUBLE)) *
                       sqrt(CAST(s.s11 AS DOUBLE))), 6) END
                 AS drift_cos_r
        FROM cnt c JOIN sums s USING (source)
        ORDER BY 1
      """))
  )
}
