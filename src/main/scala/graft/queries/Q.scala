package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Ckpt._

/** Shared cross-engine-deterministic building blocks (see README
  * "determinism rules"). Single definitions so a fix in one surface
  * can't silently desynchronize another.
  */
object Q {

  /** Exact decimal sum of a money expression, surfaced as double —
    * order-independent and schema-stable across engines. A product of k
    * two-decimal factors needs scale 2k to stay exact.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Explicit whitespace class for every cross-engine regex: Java's
    * `\s` includes `\x0B` (vertical tab) but RE2's does not, so a
    * shared split/normalize must never spell `\s` — a VT in a document
    * would flip word counts between the engines (r11 ADVICE). Three
    * spellings for the three escaping layers:
    *  - [[wsRe]]: real regex chars (`\t` = backslash-t, …) — for Java
    *    `functions.regexp_*` Columns and for INTERPOLATION into DuckDB
    *    oracle strings (interpolated values pass through verbatim).
    *  - [[wsReSql]]: double-backslashed — for Spark SQL `expr("...")`
    *    strings, whose string-literal parser unescapes one level.
    */
  val wsChars: String = " \\t\\n\\x0B\\f\\r"
  val wsRe: String = "[" + wsChars + "]"
  val wsCharsSql: String = wsChars.replace("\\", "\\\\")
  val wsReSql: String = "[" + wsCharsSql + "]"

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * used by q21 (per-doc fingerprint) and q22 (exact dedup).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), wsRe + "+", " ").cast("binary"))

  /** DuckDB restatement of [[fingerprint]]. */
  val fingerprintDuck: String =
    s"md5(regexp_replace(trim(lower(text)), '$wsRe+', ' ', 'g'))"

  /** Window base for a relation the CALLER asserts is bounded (at most
    * a few thousand rows regardless of input scale: survivor lists from
    * sort+limit, histograms, rollups over enum-sized keys).
    *
    * This is a source-level ASSERTION MARKER, not a plan change:
    * Catalyst's EliminateWindowPartitions folds the constant partition
    * key away, so the physical plan is the standard single-partition
    * window either way (including its "No Partition Defined" log line).
    * The teeth live in PlanQualitySpec's `globalWindowBudget`: every
    * query whose plan contains an unpartitioned WindowExec must carry a
    * reviewed bounded-input justification there, so an UNREVIEWED
    * data-sized global window — the real 100 TB scale bug — fails the
    * gate.
    */
  def bounded: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(lit(0))

  /** Exact interpolated percentiles via sort + window-rank interpolation.
    *
    * Spark's holistic `percentile` buffers EVERY group value in one
    * aggregation buffer — at 100 TB with 3 group keys that is ~600M
    * doubles per buffer, an OOM rather than a slowdown. This shape keeps
    * memory bounded per task: the window sort is Spark's external
    * (spilling) sort, row_number streams, and only the two boundary rows
    * per percentile survive into a conditional-max aggregate.
    *
    * Semantics match `percentile` / DuckDB `quantile_cont`: position
    * p*(n-1) computed in doubles, linear interpolation
    * (ceil(pos)-pos)*v_lo + (pos-floor(pos))*v_hi.
    *
    * @param ps (fraction, output column name) pairs
    * @return one row per key: key, then one double column per entry of ps
    */
  def exactPercentiles(df: DataFrame, key: String, valueCol: String,
      ps: Seq[(Double, String)]): DataFrame = {
    // nulls sort LAST and n counts only non-null values, matching
    // percentile/quantile_cont's skip-nulls contract (nulls-first +
    // count(*) would shift every rank and pick the null row for low
    // fractions); same fix as plans.ScaleSafePercentiles
    val byVal = Window.partitionBy(col(key)).orderBy(col("v").asc_nulls_last)
    val grp = Window.partitionBy(col(key))
    val ranked = df
      .select(col(key), col(valueCol).cast("double").as("v"))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(col("v")).over(grp))
    def pos(p: Double) = s"(cast($p as double) * (n - 1))"
    // Ties in v land on arbitrary rn among equal values, so the picked
    // boundary VALUE is deterministic even though the rank choice isn't.
    val picks = ps.flatMap { case (p, name) =>
      Seq(
        max(when(expr(s"rn = cast(floor(${pos(p)}) as bigint) + 1"),
          col("v"))).as(s"${name}_lo"),
        max(when(expr(s"rn = cast(ceil(${pos(p)}) as bigint) + 1"),
          col("v"))).as(s"${name}_hi"))
    } :+ max(col("n")).as("n")
    val agg = ranked.groupBy(col(key)).agg(picks.head, picks.tail: _*)
    val outs = ps.map { case (p, name) =>
      val po = pos(p)
      expr(
        s"""case when floor($po) = ceil($po) then ${name}_lo
             else (ceil($po) - $po) * ${name}_lo
                + ($po - floor($po)) * ${name}_hi end""").as(name)
    }
    agg.select(col(key) +: outs: _*)
  }

  /** GLOBAL exact interpolated percentiles by 2-phase histogram
    * selection — the order-statistic technique [[exactPercentiles]]'s
    * per-group window sort cannot give you when there is no group key:
    * a single-task sort (or rank window) of the fact table is the one
    * plan that never survives 100 TB.
    *
    * Phase 1 bins every non-null value into 1000 equi-width buckets
    * from a broadcast one-row min/max and cumulates the ≤1000-row
    * histogram (the only global window, over ≤1000 rows). Phase 2
    * locates each target rank's bucket, semi-joins the scan down to
    * just those buckets, then REFINES twice: each target bucket is
    * re-binned into 1000 sub-buckets by its OWN min/max (so a
    * degenerate first pass — constant column, extreme-outlier range —
    * cannot funnel the whole relation into one rank window), all-tied
    * sub-buckets resolve directly with no window, non-tied target
    * sub-buckets re-bin once more by THEIR own min/max (closing the
    * in-bucket-outlier cliff level 1 leaves), and the final rank
    * window is partitioned by (bucket, sub, sub2) — ~n/10⁹ rows per
    * task. Matches `percentile` / DuckDB `quantile_cont` semantics
    * (skip nulls, position p*(n-1), linear interpolation); callers
    * round the float result (the q34 round-6 contract).
    *
    * NOTE the two `localCheckpoint()`s eagerly execute the bounds and
    * binning stages at construction time — PlanQualitySpec's
    * global-window gate therefore never sees the ≤1000-row histogram
    * cum (documented blind spot next to `globalWindowBudget`).
    *
    * @param ps (fraction, output column name) pairs
    * @return ONE row: bigint `n` (non-null count) + one unrounded
    *         double column per entry of ps (null when n = 0)
    */
  def globalExactPercentiles(df: DataFrame, valueCol: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
    val b = vals.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(lit(1)).as("n"))
      .ckpt() // one-row bounds: feeds binning AND targets
    val binned = vals.crossJoin(broadcast(b))
      .withColumn("bin", least(lit(999),
        floor((col("v") - col("lo"))
          / nullif((col("hi") - col("lo")) / 1000.0d, lit(0.0d)))
          .cast("int")))
      .na.fill(0, Seq("bin"))
      .ckpt() // feeds the histogram AND the refine scan
    val cum = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .withColumn("cume", sum(col("c")).over(bounded.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // each target fraction → its interpolation position, then the two
    // boundary ranks (floor/ceil + 1) that bracket it
    val targets = b.select(explode(array(ps.map { case (p, nm) =>
        struct(lit(nm).as("pct"), lit(p).as("p"))
      }: _*)).as("t"), col("n"))
      .select(col("t.pct").as("pct"), col("t.p").as("p"), col("n"))
      .withColumn("pos", col("p") * (col("n") - lit(1L)).cast("double"))
      .select(col("pct"), col("pos"), explode(array(
        struct(lit("lo").as("side"),
          (floor(col("pos")).cast("bigint") + 1L).as("rk")),
        struct(lit("hi").as("side"),
          (ceil(col("pos")).cast("bigint") + 1L).as("rk")))).as("t2"))
      .select(col("pct"), col("pos"), col("t2.side").as("side"),
        col("t2.rk").as("rk"))
    val tloc = targets.join(cum,
        col("cume") >= col("rk") && col("cume") - col("c") < col("rk"))
      .select(col("pct"), col("pos"), col("side"), col("bin"),
        (col("rk") - (col("cume") - col("c"))).as("within"))
      .ckpt() // tiny (2·|ps| rows); feeds semi-join + pick
    // ---- refinement level: re-bin WITHIN each target bucket --------
    // Without it, a degenerate first histogram (constant column: every
    // row lands in bin 0 via the nullif/na.fill path; extreme-outlier
    // hi: ~all rows funnel into one bucket) would make the final rank
    // window a single task over ~the whole relation. One recursive
    // level re-bins each target bucket by ITS OWN min/max — the
    // outlier that skewed the global range is absent from the bucket's
    // local range, so the re-bin distributes properly — and sub-buckets
    // whose min == max (all ties, including the constant-column case)
    // resolve to that value DIRECTLY, with no rank window at all.
    // Level 1's residual — a non-tied cliff concentrated inside the
    // BUCKET-local range/1000 (an in-bucket outlier stretches the
    // local range so the cliff lands in one sub-bucket) — is closed by
    // a SECOND level below, which re-bins the target sub-bucket by its
    // own min/max (excluding the in-bucket outlier too); the final
    // rank window partitions by (bin, sub, sub2), ~n/10⁹ per task.
    val cand0 = binned.join(broadcast(
      tloc.select(col("bin")).distinct()), Seq("bin"), "left_semi")
    // NOTE r16: eliding the bstats/tloc2/tloc3 barriers (no ckpt, the
    // BPE-trainer fusion) was tried and REVERTED — the clean
    // order-alternating A/B measured 0.94×/0.95×/0.98× on
    // q180/q148/q211: each tiny relation here has MULTIPLE consumers
    // (semi-join broadcast + pick join + direct union), so the elided
    // subtree recomputes per consumer and only 1-2 jobs actually
    // disappear. Barrier fusion pays only where the subtree lands in
    // exactly one consumer's existing job (the applyMerge pattern).
    val bstats = cand0.groupBy(col("bin"))
      .agg(min(col("v")).as("lo2"), max(col("v")).as("hi2"))
      .ckpt() // ≤ 2·|ps| rows: feeds the sub-binning
    val sub0 = cand0.join(broadcast(bstats), Seq("bin"))
      .withColumn("sub", least(lit(999),
        floor((col("v") - col("lo2"))
          / nullif((col("hi2") - col("lo2")) / 1000.0d, lit(0.0d)))
          .cast("int")))
      .na.fill(0, Seq("sub"))
      .select(col("bin"), col("sub"), col("v"))
      .ckpt() // feeds the sub-histogram AND the rank scan
    val subcum = sub0.groupBy(col("bin"), col("sub"))
      .agg(count(lit(1)).as("c2"),
        min(col("v")).as("slo"), max(col("v")).as("shi"))
      .withColumn("cume2", sum(col("c2"))
        .over(Window.partitionBy(col("bin")).orderBy(col("sub"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tloc2 = broadcast(tloc).join(subcum,
        Seq("bin"), "inner")
      .where(col("cume2") >= col("within") &&
        col("cume2") - col("c2") < col("within"))
      .select(col("pct"), col("pos"), col("side"), col("bin"),
        col("sub"), (col("within") - (col("cume2") - col("c2")))
          .as("within2"),
        col("slo"), col("shi"))
      .ckpt() // tiny (2·|ps| rows); feeds pick + direct
    // all-tied sub-bucket (slo == shi): the within2-th smallest IS slo
    val direct = tloc2.where(col("slo") === col("shi"))
      .select(col("pct"), col("pos"), col("side"), col("slo").as("v"))
    // rename the join keys: tloc2 descends from sub0, so same-named
    // columns share expression ids and a bare equality would hit the
    // ambiguous-self-join path
    val need = tloc2.where(col("slo") =!= col("shi"))
      .select(col("pct"), col("pos"), col("side"),
        col("bin").as("tbin"), col("sub").as("tsub"),
        col("within2"), col("slo"), col("shi"))
    // ---- refinement level 2: re-bin WITHIN each target sub-bucket --
    // Same step one level down. The sub-bucket-local bounds come FREE
    // from tloc2 (subcum already aggregated slo/shi per target), so no
    // extra bounds pass runs; the inner join against the tiny distinct
    // (bin, sub, lo, hi) relation is the semi-join and the bounds
    // attach in one. A THIRD-order cliff (recursively self-similar
    // inside the sub-bucket-local range/1000) would need yet another
    // level; none is built because each level's direct path already
    // resolves every all-tied case and two levels bound the final
    // window by the deepest sub-bucket's occupancy — the cliff fixture
    // in GlobalPercentilesSpec pins that bound.
    val bounds3 = need.select(col("tbin").as("bin"),
      col("tsub").as("sub"), col("slo").as("lo3"), col("shi").as("hi3"))
      .distinct()
    val sub1 = sub0.join(broadcast(bounds3), Seq("bin", "sub"))
      .withColumn("sub2", least(lit(999),
        floor((col("v") - col("lo3"))
          / nullif((col("hi3") - col("lo3")) / 1000.0d, lit(0.0d)))
          .cast("int")))
      .na.fill(0, Seq("sub2"))
      .select(col("bin"), col("sub"), col("sub2"), col("v"))
      .ckpt() // feeds the sub2 histogram AND the rank scan
    val subcum2 = sub1.groupBy(col("bin"), col("sub"), col("sub2"))
      .agg(count(lit(1)).as("c3"),
        min(col("v")).as("slo2"), max(col("v")).as("shi2"))
      .withColumn("cume3", sum(col("c3"))
        .over(Window.partitionBy(col("bin"), col("sub"))
          .orderBy(col("sub2"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tloc3 = broadcast(need).join(subcum2,
        col("bin") === col("tbin") && col("sub") === col("tsub"))
      .where(col("cume3") >= col("within2") &&
        col("cume3") - col("c3") < col("within2"))
      .select(col("pct"), col("pos"), col("side"), col("bin"),
        col("sub"), col("sub2"),
        (col("within2") - (col("cume3") - col("c3"))).as("within3"),
        col("slo2"), col("shi2"))
      .ckpt() // tiny (≤ 2·|ps| rows); feeds pick + direct2
    val direct2 = tloc3.where(col("slo2") === col("shi2"))
      .select(col("pct"), col("pos"), col("side"), col("slo2").as("v"))
    val need2 = tloc3.where(col("slo2") =!= col("shi2"))
      .select(col("pct"), col("pos"), col("side"),
        col("bin").as("tbin"), col("sub").as("tsub"),
        col("sub2").as("tsub2"), col("within3"))
    val cand = sub1.join(broadcast(
        need2.select(col("tbin").as("bin"), col("tsub").as("sub"),
          col("tsub2").as("sub2")).distinct()),
        Seq("bin", "sub", "sub2"), "left_semi")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bin"), col("sub"), col("sub2"))
          .orderBy(col("v").asc)))
    val picked = cand.join(broadcast(need2),
        col("bin") === col("tbin") && col("sub") === col("tsub") &&
          col("sub2") === col("tsub2") && col("rn") === col("within3"))
      .select(col("pct"), col("pos"), col("side"), col("v"))
      .unionByName(direct)
      .unionByName(direct2)
      .groupBy(col("pct"), col("pos"))
      .agg(max(when(col("side") === "lo", col("v"))).as("vlo"),
        max(when(col("side") === "hi", col("v"))).as("vhi"))
      .select(col("pct"), expr(
        """case when floor(pos) = ceil(pos) then vlo
           else (ceil(pos) - pos) * vlo + (pos - floor(pos)) * vhi
           end""").as("value"))
    // always exactly one row, even on empty input (agg w/o groupBy)
    val wide = picked.agg(
      max(when(col("pct") === ps.head._2, col("value"))).as(ps.head._2),
      ps.tail.map { case (_, nm) =>
        max(when(col("pct") === nm, col("value"))).as(nm)
      }: _*)
    b.select(col("n")).crossJoin(broadcast(wide))
  }

  /** The per-posting BM25 term weight — ONE definition of the ranking
    * math (k1 = 1.2 → tf·(k1+1) = tf·2.2 numerator, b = 0.75 length
    * normalization, Robertson +1 idf) over a row's `tf`, `df` and `dl`
    * columns. q132's in-query scorer, `sinks.TextIndex.searchBm25` and
    * the serving path's lexical arm all sum it, so the persisted-index
    * and in-query rankers cannot drift (their spec parity is pinned at
    * specific term sets; this makes it structural).
    *
    * @param nn     corpus document count: the crossed-in totals column,
    *               or a driver literal
    * @param toktot corpus token count, likewise
    */
  def bm25Part(nn: Column, toktot: Column): Column =
    log(lit(1.0d) + (nn.cast("double") - col("df") +
      lit(0.5d)) / (col("df").cast("double") + lit(0.5d))) *
      (col("tf").cast("double") * lit(2.2d)) /
      (col("tf").cast("double") + lit(1.2d) *
        (lit(0.25d) + lit(0.75d) *
          col("dl").cast("double") / (toktot.cast("double") / nn)))

  /** [[bm25Part]] summed per `keys` over (tf, df, dl[, nn, toktot])
    * rows: (keys…, score_raw, n_terms).
    */
  def bm25Sum(scored: DataFrame, nn: Column, toktot: Column,
      keys: Seq[String]): DataFrame =
    scored.withColumn("part", bm25Part(nn, toktot))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("part")).as("score_raw"),
        count(lit(1)).as("n_terms"))

  /** Per-posting BM25 scoring + per-doc aggregation with the corpus
    * totals as a one-row relation — q132's in-query scorer and
    * `sinks.TextIndex.searchBm25`.
    *
    * @param tf     (doc_id, word, tf) postings, pre-filtered to terms
    * @param df     (word, df) document frequencies (broadcast)
    * @param dl     (doc_id, dl) document lengths (co-keyed join)
    * @param totals ONE-row (nn, toktot) corpus totals (broadcast)
    * @return (doc_id, score_raw, n_terms)
    */
  def bm25Aggregate(tf: DataFrame, df: DataFrame, dl: DataFrame,
      totals: DataFrame): DataFrame =
    bm25AggregateBy(tf, df, dl, totals, Seq("doc_id"))

  /** [[bm25Aggregate]] generalized to extra grouping keys — the
    * batched-search shape (`sinks.TextIndex.searchBm25Batch`): tf rows
    * additionally carry a `qid` and the per-doc sum becomes per
    * (qid, doc). SAME scoring expression — [[bm25Aggregate]] delegates
    * here, so the single- and multi-query rankers share one formula.
    */
  def bm25AggregateBy(tf: DataFrame, df: DataFrame, dl: DataFrame,
      totals: DataFrame, keys: Seq[String]): DataFrame =
    bm25Sum(tf.join(broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(totals)),
      col("nn"), col("toktot"), keys)

  /** BM25 result contract shared by q132 and TextIndex.searchBm25:
    * rank at round-9 (IEEE noise guard), top-k via sort+limit
    * (TakeOrderedAndProject — never a global rank over every scored
    * doc), rk over the ≤k survivors, score emitted at round-6.
    */
  def bm25TopK(scored: DataFrame, topK: Int): DataFrame =
    scored
      .withColumn("key", round(col("score_raw"), 9))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(topK)
      .withColumn("rk", row_number().over(bounded.orderBy(
        col("key").desc, col("doc_id").asc)))
      .select(col("rk"), col("doc_id"), col("n_terms"),
        round(col("score_raw"), 6).as("score"))

  /** Per-query variant of [[bm25TopK]] for batched search over a
    * (qid, doc_id, score_raw, n_terms) relation: the same round-9
    * ranking key and doc_id tiebreak, capped per qid. A common term
    * makes one qid's match set corpus-sized, so a single per-qid
    * window would sort it in ONE task; instead a partition-local
    * pre-cap (any superset of the true top-k is rank-safe) bounds the
    * final per-qid window to ≤ k rows per input partition.
    */
  def bm25TopKPerQuery(scored: DataFrame, topK: Int): DataFrame = {
    val byQ = Window.partitionBy(col("qid"))
      .orderBy(col("key").desc, col("doc_id").asc)
    scored
      .withColumn("key", round(col("score_raw"), 9))
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("qid"), spark_partition_id())
          .orderBy(col("key").desc, col("doc_id").asc)))
      .where(col("prk") <= topK)
      .withColumn("rk", row_number().over(byQ))
      .where(col("rk") <= topK)
      .select(col("qid"), col("rk").cast("int").as("rk"),
        col("doc_id"), col("n_terms"),
        round(col("score_raw"), 6).as("score"))
  }

  /** Positional phrase scorer shared by q189 and TextIndex.searchPhrase
    * — ONE definition of the anchor-vote matcher so the in-query and
    * persisted-index formulations cannot drift. A token (pos, w)
    * matching phrase slot idx votes for anchor = pos - idx; an anchor
    * with all |phrase| DISTINCT slots present is a contiguous
    * occurrence. The phrase-slot relation is |phrase| rows (broadcast);
    * the vote aggregation is keyed (doc_id, anchor) — nothing global.
    *
    * @param toks   (doc_id, pos, w) — 0-based token positions; callers
    *               may pre-filter to phrase words (postings path) or
    *               pass the raw stream (the broadcast join drops
    *               non-phrase tokens either way)
    * @param phrase the token sequence, in order
    * @return (doc_id, n_hits, first_pos) — one row per matching doc
    */
  def phraseHits(toks: DataFrame, phrase: Seq[String]): DataFrame = {
    // a 64-slot bound covers any realistic quoted query and buys the
    // slot-completeness check as ONE bit_or aggregate (map-side
    // partial) instead of a COUNT(DISTINCT idx) — which Spark expands
    // into a second keyed aggregation, a whole extra shuffle
    require(phrase.nonEmpty && phrase.length <= 64,
      s"phrase must have 1..64 tokens, got ${phrase.length}")
    val slots = toks.sparkSession.range(1)
      .select(posexplode(array(phrase.map(lit): _*)).as(Seq("idx", "w")))
    val full = (phrase.indices.map(1L << _)).reduce(_ | _)
    toks.join(broadcast(slots), "w")
      .select(col("doc_id"), (col("pos") - col("idx")).as("anchor"),
        expr("shiftleft(cast(1 as bigint), idx)").as("bit"))
      .groupBy(col("doc_id"), col("anchor"))
      .agg(bit_or(col("bit")).as("slots"))
      .where(col("slots") === full)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("anchor")).cast("int").as("first_pos"))
  }

  /** Shared oracle for the per-customer top-3 orders — q7 (window
    * formulation) and q39 (bounded top-k aggregate) implement the SAME
    * semantics; one oracle string encodes that.
    */
  val topOrdersOracle: String = """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
          FROM orders) t
    WHERE rk <= 3
  """
}
