package graft.queries

import graft.{QDef, Tables}
import org.apache.spark.sql.functions._
import graft.Ckpt._

/** Deduplication operators over `documents` — the core of an LLM
  * training-data pipeline: exact dedup, MinHash+LSH banding, n-gram
  * Jaccard verification, and SimHash.
  *
  * Every hash is md5-based so the DuckDB oracle computes bit-identical
  * values (Spark's xxhash64/murmur are not portable across engines).
  * At production scale md5-per-shingle is still a pure map-side cost;
  * the shuffles are the band-bucket join (MinHash) and the blocked
  * self-join (Jaccard), both bounded by the blocking keys.
  *
  * Candidate generation is blocked on `source` — the natural "same crawl
  * / same shard" blocking key — so the self-join is per-block
  * O(block²), not O(N²); at 100 TB the block is the LSH bucket itself.
  */
object DedupQueries {

  private val W = TextQueries.wordsExpr
  private val WDuck = TextQueries.wordsExprDuck

  private val SGDuck =
    """list_distinct(
         CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END)"""

  /** Distinct word 3-gram shingles as ROWS (doc_id, source, shingle),
    * via the custom [[graft.functions.Shingles]] Generator — a single
    * scan-side pass, no shuffles.
    *
    * History of this shape (kept because both alternatives are traps):
    * an array-valued `transform(sequence(...), i -> element_at(ws, i))`
    * column gets inlined into pushed-down null-check filters, making the
    * split O(len²) per document (observed 45s+ at sf0.1); the composed
    * row formulation (posexplode + window lead + distinct) is correct
    * but pays a window shuffle plus a distinct shuffle before dedup work
    * begins. The Generator emits already-distinct shingles streaming.
    */
  /** q190's hot-gram df cap: positioned 8-grams occurring more than
    * this many times corpus-wide are dropped BEFORE the cross-doc
    * equi-join. The join is quadratic in per-gram df, so one
    * boilerplate navbar gram with df = 10⁵ would alone contribute
    * 10¹⁰ pairs; the cap bounds every gram's blast radius at
    * cap² = 4096 pairs. Real shared spans are unaffected — a span
    * shared by k docs contributes grams with df = k, and k > 64
    * verbatim copies IS boilerplate by definition (the Lee et al.
    * 2022 suffix-array pipeline drops those grams the same way).
    */
  val spanDfCap = 64

  /** Positioned 8-gram anchors of a (doc_id, text) relation:
    * (doc_id, pos, gram) — the span-matching currency shared by q190
    * and the persisted `sinks.SpanIndex` (ONE definition, so the
    * in-query and indexed probes cannot drift).
    */
  def positionedGrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // native generator instead of posexplode(transform(...)) — same
    // rows, one streaming pass, no per-gram Column machinery or
    // intermediate array (r15; PositionedShinglesSpec pins parity)
    docs.select(col("doc_id"),
      graft.functions.PositionedShingles
        .positionedShingles(col("text"), 8).as(Seq("pos", "gram")))

  /** Diagonal gaps-and-islands over cross-doc gram matches
    * (da, db, pa, diag) → per-pair (longest_run, n_spans). A match at
    * positions (pa, pb) lies on diagonal pa − pb; consecutive matches
    * on one diagonal are one shared run (pa − row_number constant
    * within it), and a run of L tokens is L − 7 gram matches, so
    * run_len = matches + 7 exactly. Shared by q190 and
    * `sinks.SpanIndex.probe`.
    */
  def spanRuns(m: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("da"), col("db"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("island", col("pa") - row_number().over(byDiag))
      .groupBy(col("da"), col("db"), col("diag"), col("island"))
      .agg((count(lit(1)) + 7).as("run_len"))
      .groupBy(col("da"), col("db"))
      .agg(max(col("run_len")).cast("int").as("longest_run"),
        count(lit(1)).as("n_spans"))
  }

  /** q190's core, parameterized so the spec can drive it with a
    * hot-gram fixture: positioned 8-gram anchors, df cap, cross-doc
    * equi-join on the gram, diagonal gaps-and-islands → per-pair
    * longest shared run + distinct maximal runs. See the q190 QDef
    * for the full design note.
    */
  def sharedSpans(docs: org.apache.spark.sql.DataFrame,
      dfCap: Int): org.apache.spark.sql.DataFrame = {
    val grams = positionedGrams(docs)
      .ckpt() // feeds the df count AND both join sides
    // the hot set is tiny by construction — only grams repeated > cap
    // times corpus-wide (corpus_grams / cap is its hard upper bound,
    // and real corpora are far below it) — so it broadcasts and the
    // exclusion is a narrow anti-join on both scan sides.
    val hot = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap)
      .select(col("gram"))
    val kept = grams.join(broadcast(hot), Seq("gram"), "left_anti")
    val m = kept.alias("a").join(kept.alias("b"),
        col("a.gram") === col("b.gram") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.pos").as("pa"),
        (col("a.pos") - col("b.pos")).as("diag"))
    spanRuns(m)
  }

  private def shingleRows(s: org.apache.spark.sql.SparkSession, dir: String) =
    shingleRowsOf(Tables(s, dir).documents)

  /** [[shingleRows]] over an explicit (doc_id, source, text) relation —
    * the form the persisted cluster index builds/appends from
    * ([[graft.sinks.ClusterIndex]]); the dir form delegates here so the
    * shingle definition exists once.
    */
  private[graft] def shingleRowsOf(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), col("source"),
      graft.functions.Shingles.shingles(col("text"), 3).as("shingle"))

  /** One MinHash signature row per doc (sig_0..sig_7) — shared by q23
    * (4×2 banded LSH) and q121 (the band-config sweep), so the tuner
    * measures exactly the signatures q23 ships.
    *
    * 8 minhashes as 8 MIN aggregates over shingle rows — pure
    * map-side-combinable aggregation, no per-doc arrays, no UDFs.
    * md5 is the dominant cost, so each digest yields FOUR 32-bit
    * minhash fields (disjoint 8-hex-char substrings; fixed-width
    * hex compares lexicographically == numerically): 2 digests per
    * shingle instead of 8.
    *
    * localCheckpoint: one signature row per doc feeds both sides of
    * the bucket self-join — without it the shingle+md5+min pipeline
    * runs again for the build side (same call as q58's sig table).
    */
  private def minhashSigs(s: org.apache.spark.sql.SparkSession, dir: String) =
    minhashSigsOver(shingleRows(s, dir))

  /** [[minhashSigs]]'s aggregation over an explicit (doc_id, source,
    * shingle[, ...]) relation — q121/q281 pass their already-ckpt'd
    * [[shingleExRows]] so the corpus is shingled once, not once for
    * the signature arm and once for the exact-Jaccard arm.
    */
  private def minhashSigsOver(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val minhashes = (0 until 8).map { j =>
      val seed = if (j < 4) "A|" else "B|"
      val lo = (j % 4) * 8 + 1
      min(substring(
        md5(concat(lit(seed), col("shingle")).cast("binary")), lo, 8))
        .as(s"sig_$j")
    }
    sh.groupBy(col("doc_id"), col("source"))
      .agg(minhashes.head, minhashes.tail: _*)
      .ckpt()
  }

  /** (doc_a, doc_b, jaccard) for source-blocked pairs with at least one
    * common shingle — the sparse explode-join-count formulation shared
    * by q24 (top-k verification) and q54 (cluster formation). Pairs with
    * zero overlap never materialize.
    */
  /** q54's per-document cluster assignment, (doc_id, cluster_id) —
    * Jaccard ≥ 0.02 edges + large-star/small-star connected components
    * (cluster id = min doc_id of the component; singletons are their
    * own cluster). ONE definition shared by the q54 QDef and q270's
    * per-cluster value rollup (the sharedSpans rule).
    */
  private[queries] def clusterAssignment(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    clusterAssignmentOf(Tables(s, dir).documents)

  /** [[clusterAssignment]] over an explicit (doc_id, source, text)
    * relation — shared with [[graft.sinks.ClusterIndex.build]] so the
    * persisted clusters and the in-query q54 components are ONE
    * definition (edges, threshold, star-contraction, min-id labels).
    */
  private[graft] def clusterAssignmentOf(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val edges = jaccardPairsOf(docs)
      .where(col("jaccard") >= 0.02)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val assign = graft.core.ConnectedComponents.run(edges)
      .select(col("u").as("doc_id"), col("v").as("cid"))
    docs.select(col("doc_id"))
      .join(assign, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"))
  }

  /** The DuckDB CTE chain producing q54's `assign` relation
    * (doc_id, cluster_id) — the oracle-side twin of
    * [[clusterAssignment]] (reachability-closure restatement; needs
    * WITH RECURSIVE). CTE names: w, sh, edges, und, walk, comp, assign.
    */
  private[queries] lazy val clusterAssignDuckCtes: String = s"""
        w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        edges AS (SELECT doc_a AS u, doc_b AS v FROM ($jaccardPairsDuck) jp
                  WHERE jaccard >= 0.02),
        und AS (SELECT u AS src, v AS dst FROM edges
                UNION ALL SELECT v, u FROM edges),
        walk(node, label) AS (
          SELECT DISTINCT src, src FROM und
          UNION
          SELECT u.dst, wk.label FROM walk wk JOIN und u ON u.src = wk.node),
        comp AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node),
        assign AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
                   FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)"""

  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    jaccardPairsOf(Tables(s, dir).documents)

  /** [[jaccardPairs]] over an explicit (doc_id, source, text) relation
    * (the dir form delegates) — also the pair rule
    * [[graft.sinks.ClusterIndex]] restates for its batch-vs-index edge
    * discovery, so the similarity threshold's inputs have one shape.
    */
  private[graft] def jaccardPairsOf(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // localCheckpoint: the shingle relation feeds BOTH sides of the
    // self-join; without materialization the planner re-runs the
    // shingle Generate for the second side (measured ~1.5× this
    // stage). The materialized form is the posting-list shape a
    // 100 TB dedup pass would persist anyway before pair generation.
    jaccardPairsFromEx(shingleExRows(docs))
  }

  /** The ckpt'd (doc_id, source, shingle, n) posting relation every
    * trigram pair/signature consumer starts from. The per-doc set size
    * rides the generator (shinglesWithCount), not a count() window —
    * the window formulation paid a full Exchange + Sort of the
    * corpus-sized shingle relation just to count rows generated
    * contiguously per doc (guide §2.4). Exposed separately so queries
    * needing BOTH the pair join and the signatures (q121, q281) shingle
    * the corpus ONCE instead of once per arm.
    */
  private[queries] def shingleExRows(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"),
        graft.functions.Shingles.shinglesWithCount(col("text"), 3)
          .as(Seq("shingle", "n")))
      .ckpt()

  /** [[jaccardPairsOf]]'s join over an explicit [[shingleExRows]]. */
  private[queries] def jaccardPairsFromEx(
      ex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = ex.alias("a")
    val b = ex.alias("b")
    a.join(b,
        col("a.source") === col("b.source") &&
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .select(col("doc_a"), col("doc_b"),
        expr("common / (n_a + n_b - common)").as("jaccard"))
  }

  /** DuckDB restatement of [[jaccardPairs]] (assumes CTEs `w` and `sh`
    * from $WDuck / $SGDuck are in scope).
    */
  private val jaccardPairsDuck = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sg, b.sg))) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sg, b.sg)) > 0"""

  val defs: Seq[QDef] = Seq(
    // ------------------------------------------------------------------
    // q22: exact dedup — group by content fingerprint; keep the minimum
    // doc_id per cluster (the standard deterministic survivor rule).
    QDef(
      "q22_exact_dedup",
      (s, dir) => {
        Tables(s, dir).documents
          .withColumn("fp", Q.fingerprint(col("text")))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("keep_id"),
            array_join(
              transform(array_sort(collect_list(col("doc_id"))),
                x => x.cast("string")), ",").as("doc_ids"))
      },
      Some(s"""
        SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        FROM (SELECT doc_id, ${Q.fingerprintDuck} AS fp
              FROM documents) t
        GROUP BY fp
      """)),

    // ------------------------------------------------------------------
    // q23: MinHash + LSH near-dup candidates. 8 md5-seeded minhashes over
    // word 3-gram shingles, 4 bands x 2 rows; pairs sharing a band bucket
    // (within a source block) are candidates; estimated Jaccard =
    // signature agreement. Top-50 with full tiebreak.
    //
    // Scale: signatures are one map pass; the only shuffle is the
    // explode-by-band + bucket join, whose fan-in is the bucket size —
    // exactly how MinHashLSH sharding behaves on a cluster.
    QDef(
      "q23_minhash_lsh",
      (s, dir) => {
        val sigs = minhashSigs(s, dir)
        val bands = sigs.withColumn("bucket",
          explode(array((0 until 4).map(b =>
            md5(concat(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
              .cast("binary"))): _*)))
        val a = bands.alias("a")
        val b = bands.alias("b")
        val agree = (0 until 8)
          .map(j => s"(case when a.sig_$j = b.sig_$j then 1 else 0 end)")
          .mkString(" + ")
        a.join(b,
            col("a.bucket") === col("b.bucket") &&
            col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            // 8.0D: a bare 8.0 literal parses as DECIMAL(2,1), which would
            // make est_jaccard DECIMAL(17,6) while the oracle's len(...)/8.0
            // is DOUBLE — identical values, different hash (round-1 red cell).
            expr(s"cast(($agree) as double) / 8.0D").as("est_jaccard"))
          .distinct()
          .orderBy(col("est_jaccard").desc, col("doc_a").asc,
            col("doc_b").asc)
          .limit(50)
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        sig AS (SELECT doc_id, source,
                  list_transform(range(0, 8),
                    j -> list_min(list_transform(sg,
                      s -> substring(md5(CASE WHEN j < 4 THEN 'A|' ELSE 'B|' END || s),
                                     (j % 4) * 8 + 1, 8)))) AS sig
                FROM sh),
        bands AS (SELECT doc_id, source, sig,
                    unnest(list_transform(range(0, 4),
                      b -> md5(sig[2*b + 1] || sig[2*b + 2]))) AS bucket
                  FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.sig AS sig_a, b.sig AS sig_b
                  FROM bands a JOIN bands b
                    ON a.bucket = b.bucket AND a.source = b.source
                   AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               len(list_filter(range(1, 9), j -> sig_a[j] = sig_b[j])) / 8.0
                 AS est_jaccard
        FROM pairs
        ORDER BY est_jaccard DESC, doc_a ASC, doc_b ASC
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q24: exact n-gram Jaccard over source-blocked pairs — the
    // verification stage behind q23's candidates. Top-50 closest pairs.
    //
    // Sparse formulation: explode shingles and equi-join on
    // (source, shingle), so |A∩B| is a COUNT per pair and |A∪B| =
    // n_a + n_b - common. This replaces per-pair O(|sg|) array
    // intersections (a 45s stage at sf0.1) with one shuffle keyed by
    // shingle — the formulation that survives scale-up, since pairs with
    // zero overlap are never materialized.
    QDef(
      "q24_ngram_jaccard",
      (s, dir) =>
        jaccardPairs(s, dir)
          .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
          .limit(50),
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w)
        SELECT doc_a, doc_b, jaccard FROM ($jaccardPairsDuck) jp
        ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q25: 16-bit SimHash from word unigrams (with multiplicity). Bit b
    // comes from hex digit b/4, bit b%4 of md5(word); the doc's bit is
    // the sign of the +1/-1 vote sum. One explode + 16 conditional sums —
    // a single aggregation pass, partial-agg friendly.
    QDef(
      "q25_simhash",
      (s, dir) => {
        // (doc, word, multiplicity) pre-agg before hashing/voting — see
        // q58's comment; votes are identical, md5 runs ~40× less often.
        val exploded = Tables(s, dir).documents
          .select(col("doc_id"), explode(expr(W)).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("c"))
          .withColumn("h", md5(col("word").cast("binary")))
        val votes = (0 until 16).map { bIdx =>
          val hexPos = bIdx / 4 + 1
          val bit = bIdx % 4
          sum(expr(
            s"""case when (shiftright(instr('0123456789abcdef',
                  substring(h, $hexPos, 1)) - 1, $bit) & 1) = 1
                then c else -c end""")).as(s"s_$bIdx")
        }
        val simhashExpr = (0 until 16)
          .map(bIdx => s"(case when s_$bIdx >= 0 then ${1L << bIdx} else 0 end)")
          .mkString("cast(", " + ", " as bigint)")
        exploded.groupBy(col("doc_id"))
          .agg(votes.head, votes.tail: _*)
          .withColumn("simhash", expr(simhashExpr))
          .select(col("doc_id"), col("simhash"))
      },
      Some {
        val votes = (0 until 16).map { bIdx =>
          val hexPos = bIdx / 4 + 1
          val bit = bIdx % 4
          s"""CAST(SUM(CASE WHEN ((strpos('0123456789abcdef',
                substring(h, $hexPos, 1)) - 1) >> $bit) & 1 = 1
              THEN 1 ELSE -1 END) AS BIGINT) AS s_$bIdx"""
        }.mkString(",\n")
        val simhash = (0 until 16)
          .map(bIdx => s"(CASE WHEN s_$bIdx >= 0 THEN ${1L << bIdx} ELSE 0 END)")
          .mkString("CAST(", " + ", " AS BIGINT)")
        s"""
        SELECT doc_id, $simhash AS simhash
        FROM (
          SELECT doc_id, $votes
          FROM (SELECT doc_id, md5(word) AS h
                FROM (SELECT doc_id, unnest($WDuck) AS word
                      FROM documents) t0) t1
          GROUP BY doc_id) t2
        """
      }),

    // ------------------------------------------------------------------
    // q58: 64-bit SimHash near-dup JOIN at scale — q25's sketch widened
    // to 64 bits (16-bit collides wholesale on a same-vocabulary corpus:
    // 594k "near" pairs at sf0.1 vs 299 real ones at 64-bit) and stored
    // as FOUR 16-bit bands, which are simultaneously (a) the simhash
    // value and (b) the pigeonhole LSH key: hamming ≤ 3 < 4 bands
    // guarantees at least one identical band, so an equi-join on
    // (band_idx, band_value) finds EXACTLY the pairs an all-pairs scan
    // would — the oracle below is that brute-force restatement. The only
    // shuffle is keyed by the band value; the 64 vote sums are one
    // partial-agg-friendly aggregation over exploded words.
    QDef(
      "q58_simhash_neardup",
      (s, dir) => {
        // pre-aggregate to (doc, word, multiplicity) BEFORE hashing and
        // voting: the md5 and the 64 vote cases then run once per
        // distinct word per doc, not once per occurrence (~40× fewer
        // rows through the expensive expressions; identical votes since
        // Σ_occurrences ±1 = Σ_distinct ±count).
        val exploded = Tables(s, dir).documents
          .select(col("doc_id"), explode(expr(W)).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("c"))
          .withColumn("h", md5(col("word").cast("binary")))
          // decode each 16-bit band ONCE per row (4 convs) instead of
          // re-extracting a hex digit inside all 64 vote cases — the
          // vote sums below are then pure shifts on these ints
          .withColumns((0 until 4).map(k => s"h_$k" ->
            expr(s"cast(conv(substring(h, ${4 * k + 1}, 4), 16, 10) as int)"))
            .toMap)
        // vote s_k_b: band k (hex digits 4k+1..4k+4 of md5), bit b.
        // Digit b/4 of band k is bits 4*(3 - b/4).. of h_k (leftmost hex
        // char is most significant), bit b%4 within the digit — same
        // bit the substring/instr formulation (and the oracle) reads.
        val votes = (0 until 4).flatMap { k =>
          (0 until 16).map { b =>
            val shift = 4 * (3 - b / 4) + (b % 4)
            sum(expr(
              s"""case when (shiftright(h_$k, $shift) & 1) = 1
                  then c else -c end""")).as(s"s_${k}_$b")
          }
        }
        val bandExprs = (0 until 4).map { k =>
          (0 until 16)
            .map(b => s"(case when s_${k}_$b >= 0 then ${1L << b} else 0 end)")
            .mkString("cast(", " + ", s" as bigint) as sh_$k")
        }
        // localCheckpoint: the signature table (one row per doc, four
        // longs) feeds BOTH sides of the band self-join; without
        // materialization the planner recomputes the whole explode +
        // md5 + 64-sum pipeline for the second side (measured ~2× the
        // query). At scale this is the same call: sigs are ~1e-4 of
        // corpus bytes, and materializing the contracted table before a
        // self-join is the standard shape (cf. the CC checkpoint).
        val sh = exploded.groupBy(col("doc_id"))
          .agg(votes.head, votes.tail: _*)
          .selectExpr("doc_id" +: bandExprs: _*)
          .ckpt()
        val banded = sh.withColumn("band",
          explode(array((0 until 4).map(k =>
            struct(lit(k).as("i"), col(s"sh_$k").as("v"))): _*)))
        val a = banded.alias("a")
        val b = banded.alias("b")
        val ham = (0 until 4)
          .map(k => s"bit_count(a.sh_$k ^ b.sh_$k)").mkString(" + ")
        a.join(b,
            col("a.band.i") === col("b.band.i") &&
            col("a.band.v") === col("b.band.v") &&
            col("a.doc_id") < col("b.doc_id"))
          .where(expr(s"($ham) <= 3"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            expr(s"cast(($ham) as int)").as("hamming"))
          .distinct()
          .withColumn("est_similarity",
            expr("cast(1.0d - cast(hamming as double) / 64.0d as double)"))
      },
      Some {
        val sums = (0 until 4).flatMap { k =>
          (0 until 16).map { b =>
            val hexPos = 4 * k + b / 4 + 1
            s"""SUM(CASE WHEN ((strpos('0123456789abcdef',
                  substring(h, $hexPos, 1)) - 1) >> ${b % 4}) & 1 = 1
                THEN 1 ELSE -1 END) AS s_${k}_$b"""
          }
        }.mkString(",\n")
        val bands = (0 until 4).map { k =>
          (0 until 16)
            .map(b => s"(CASE WHEN s_${k}_$b >= 0 THEN ${1L << b} ELSE 0 END)")
            .mkString("CAST(", " + ", s" AS BIGINT) AS sh_$k")
        }.mkString(", ")
        val ham = (0 until 4)
          .map(k => s"bit_count(xor(a.sh_$k, b.sh_$k))").mkString(" + ")
        s"""
        WITH v AS (SELECT doc_id, $sums
                   FROM (SELECT doc_id, md5(word) AS h
                         FROM (SELECT doc_id, unnest($WDuck) AS word
                               FROM documents) t0) t1
                   GROUP BY doc_id),
        sh AS (SELECT doc_id, $bands FROM v)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST($ham AS INT) AS hamming,
               CAST(1.0 - CAST($ham AS DOUBLE) / 64.0 AS DOUBLE)
                 AS est_similarity
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE ($ham) <= 3
        """
      }),

    // ------------------------------------------------------------------
    // q54: near-dup CLUSTER formation — the step that turns pairwise
    // similarity (q23/q24) into dedup groups. Documents whose Jaccard
    // similarity reaches 0.02 within a source block are edges; connected
    // components over that graph (alternating large-star/small-star —
    // see graft.core.ConnectedComponents for the O(log²)-round scale
    // argument) assign every doc a cluster id = the minimum doc_id of
    // its component; singletons are their own cluster. Output is the
    // full per-document assignment table a survivor rule consumes —
    // n_members and is_survivor (min-id rule) included.
    //
    // The oracle restates components as a recursive CTE (min label over
    // the reachability closure) — a formulation DuckDB can run exactly
    // but which would NOT scale (the closure is O(Σ component²) rows);
    // the star-contraction side is the 100 TB shape. Also validated
    // beyond the driver's sf0.01 gate: at sf0.1 (5000 docs, 1520 edges,
    // 3495 clusters incl. a diameter-12 component) the full assignment
    // matched an independent union-find with zero mismatches.
    QDef(
      "q54_dedup_clusters",
      (s, dir) => {
        // window, not groupBy+rejoin: one shuffle on cluster_id and one
        // pass over the assignment (the rejoin recomputed the documents
        // join for the second reference)
        clusterAssignment(s, dir)
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .select(col("doc_id"), col("cluster_id"), col("n_members"),
            (col("doc_id") === col("cluster_id")).as("is_survivor"))
      },
      Some(s"""
        WITH RECURSIVE $clusterAssignDuckCtes
        SELECT a.doc_id, a.cluster_id, n.n_members,
               a.doc_id = a.cluster_id AS is_survivor
        FROM assign a
        JOIN (SELECT cluster_id, COUNT(*) AS n_members FROM assign
              GROUP BY cluster_id) n
          ON a.cluster_id = n.cluster_id
      """)),

    // ------------------------------------------------------------------
    // q80: cross-SOURCE overlap matrix — the corpus-curation question
    // one level up from q24's per-document pairs: how much does feed A
    // duplicate feed B? Distinct (source, 8-gram) postings self-join on
    // the shingle (the shuffle key; zero-overlap source pairs never
    // materialize, exactly the q24 sparse-join argument), count common
    // grams per ordered pair, and report containment = common / the
    // smaller side's vocabulary. At 100 TB the postings relation is the
    // same inverted index q56 builds, and the pair aggregate is 20×20.
    QDef(
      "q80_source_overlap",
      (s, dir) => {
        // localCheckpoint: the postings relation feeds both join sides
        // and the per-source totals
        val postings = Tables(s, dir).documents
          .select(col("source"),
            graft.functions.Shingles.shingles(col("text"), 8).as("g"))
          .distinct()
          .ckpt()
        val totals = postings.groupBy(col("source"))
          .agg(count(lit(1)).as("tot"))
        postings.alias("a")
          .join(postings.alias("b"),
            col("a.g") === col("b.g") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_common"))
          .join(totals.select(col("source").as("source_a"),
            col("tot").as("tot_a")), "source_a")
          .join(totals.select(col("source").as("source_b"),
            col("tot").as("tot_b")), "source_b")
          .select(col("source_a"), col("source_b"), col("n_common"),
            round(col("n_common").cast("double") /
              least(col("tot_a"), col("tot_b")), 6).as("containment"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        postings AS (SELECT DISTINCT source, g
                     FROM (SELECT source,
                                  unnest(${TextQueries.ngramsDuck(8)}) AS g
                           FROM w) t),
        totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
                   FROM postings GROUP BY source),
        pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                         CAST(COUNT(*) AS BIGINT) AS n_common
                  FROM postings a JOIN postings b
                    ON a.g = b.g AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT source_a, source_b, n_common,
               ROUND(CAST(n_common AS DOUBLE)
                 / LEAST(ta.tot, tb.tot), 6) AS containment
        FROM pairs
        JOIN totals ta ON ta.source = pairs.source_a
        JOIN totals tb ON tb.source = pairs.source_b
      """)),

    // ------------------------------------------------------------------
    // q83: incremental dedup — the ingest-time variant every continuously
    // fed corpus needs: a NEW batch (the newest 10% of doc ids, boundary
    // computed in-query so it is SF-independent) is checked against the
    // EXISTING corpus, never against itself. Each new doc is classified
    // exact_dup (fingerprint already in the corpus), near_dup (≥6/8
    // MinHash signature agreement with a corpus doc via band buckets), or
    // unique, with the smallest matching corpus doc as evidence.
    //
    // Scale: this is the shape that makes dedup O(batch), not O(corpus):
    // the exact probe is a fingerprint equi-join (at 100 TB: against the
    // persisted fingerprint index, batch side broadcast), and the fuzzy
    // probe joins band buckets new×corpus only — no corpus self-join ever
    // runs. Signatures are the same map-side-combinable 8-MIN aggregate
    // as q23 (2 md5 digests per shingle, 4 fields each).
    QDef(
      "q83_incremental_dedup",
      (s, dir) => {
        // (max+1)*9: integer-exact "newest 10%" boundary — doc_id*10 >= c9
        val cut = Tables(s, dir).documents
          .agg(((max(col("doc_id")) + 1) * 9).as("c9"))
        // localCheckpoint: fp+flag feeds the exact probe's both sides,
        // the sig flag join, and the final left joins
        val base = Tables(s, dir).documents
          .select(col("doc_id"), Q.fingerprint(col("text")).as("fp"))
          .crossJoin(broadcast(cut))
          .withColumn("is_new", expr("doc_id * 10 >= c9"))
          .select(col("doc_id"), col("fp"), col("is_new"))
          .ckpt()
        val exact = base.where(col("is_new")).alias("n")
          .join(base.where(!col("is_new")).alias("c"),
            col("n.fp") === col("c.fp"))
          .groupBy(col("n.doc_id").as("doc_id"))
          .agg(min(col("c.doc_id")).as("exact_match"))
        val minhashes = (0 until 8).map { j =>
          val seed = if (j < 4) "A|" else "B|"
          val lo = (j % 4) * 8 + 1
          min(substring(
            md5(concat(lit(seed), col("shingle")).cast("binary")), lo, 8))
            .as(s"sig_$j")
        }
        // localCheckpoint: the banded sig table feeds both join sides
        val bands = shingleRows(s, dir)
          .groupBy(col("doc_id"))
          .agg(minhashes.head, minhashes.tail: _*)
          .join(base.select(col("doc_id"), col("is_new")), Seq("doc_id"))
          .withColumn("bucket",
            explode(array((0 until 4).map(b =>
              md5(concat(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
                .cast("binary"))): _*)))
          .ckpt()
        val agree = (0 until 8)
          .map(j => s"(case when a.sig_$j = b.sig_$j then 1 else 0 end)")
          .mkString(" + ")
        val near = bands.where(col("is_new")).alias("a")
          .join(bands.where(!col("is_new")).alias("b"),
            col("a.bucket") === col("b.bucket"))
          .where(expr(s"($agree) >= 6"))
          .groupBy(col("a.doc_id").as("doc_id"))
          .agg(min(col("b.doc_id")).as("near_match"))
        base.where(col("is_new")).select(col("doc_id"))
          .join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            expr("""case when exact_match is not null then 'exact_dup'
                         when near_match is not null then 'near_dup'
                         else 'unique' end""").as("status"),
            coalesce(col("exact_match"), col("near_match"), lit(-1L))
              .as("match_id"))
      },
      Some(s"""
        WITH cut AS (SELECT (MAX(doc_id) + 1) * 9 AS c9 FROM documents),
        base AS (SELECT doc_id, ${Q.fingerprintDuck} AS fp,
                        doc_id * 10 >= (SELECT c9 FROM cut) AS is_new
                 FROM documents),
        exact AS (SELECT n.doc_id, MIN(c.doc_id) AS exact_match
                  FROM base n JOIN base c
                    ON n.fp = c.fp AND n.is_new AND NOT c.is_new
                  GROUP BY n.doc_id),
        w AS (SELECT doc_id, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, $SGDuck AS sg FROM w),
        sig AS (SELECT doc_id,
                  list_transform(range(0, 8),
                    j -> list_min(list_transform(sg,
                      s -> substring(md5(CASE WHEN j < 4 THEN 'A|' ELSE 'B|' END || s),
                                     (j % 4) * 8 + 1, 8)))) AS sig
                FROM sh),
        bands AS (SELECT s.doc_id, s.sig, b.is_new,
                    unnest(list_transform(range(0, 4),
                      k -> md5(sig[2*k + 1] || sig[2*k + 2]))) AS bucket
                  FROM sig s JOIN base b USING (doc_id)),
        near AS (SELECT a.doc_id, MIN(b.doc_id) AS near_match
                 FROM bands a JOIN bands b
                   ON a.bucket = b.bucket AND a.is_new AND NOT b.is_new
                 WHERE len(list_filter(range(1, 9),
                         j -> a.sig[j] = b.sig[j])) >= 6
                 GROUP BY a.doc_id)
        SELECT n.doc_id,
               CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                    WHEN nr.near_match IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS status,
               CAST(COALESCE(e.exact_match, nr.near_match, -1) AS BIGINT)
                 AS match_id
        FROM base n
        LEFT JOIN exact e ON n.doc_id = e.doc_id
        LEFT JOIN near nr ON n.doc_id = nr.doc_id
        WHERE n.is_new
      """)),

    // ------------------------------------------------------------------
    // q92: asymmetric containment — the quote/subset detector Jaccard
    // misses: a short document wholly quoted inside a long one has
    // containment |A∩B|/|A| ≈ 1 while its Jaccard stays tiny (the union
    // is dominated by the long doc). Same sparse source-blocked
    // shingle-join shape as q24 (zero-overlap pairs never materialize;
    // the shingle is the shard key at 100 TB); the only new math is
    // dividing the common count by EACH side's shingle count instead of
    // the union. Top-50 by the larger containment, total-order
    // tiebreaks, int/int division producing identical doubles in both
    // engines.
    QDef(
      "q92_containment",
      (s, dir) => {
        // set size from the generator, not a count() window — same
        // Exchange+Sort removal as jaccardPairsOf (guide §2.4)
        val ex = Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            graft.functions.Shingles.shinglesWithCount(col("text"), 3)
              .as(Seq("shingle", "n")))
          .ckpt()
        val a = ex.alias("a")
        val b = ex.alias("b")
        a.join(b,
            col("a.source") === col("b.source") &&
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.n").as("n_a"), col("b.n").as("n_b"))
          .agg(count(lit(1)).as("common"))
          .select(col("doc_a"), col("doc_b"),
            expr("common / n_a").as("cont_a"),
            expr("common / n_b").as("cont_b"),
            expr("common / (n_a + n_b - common)").as("jaccard"))
          .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
          .orderBy(col("containment").desc, col("doc_a").asc,
            col("doc_b").asc)
          .limit(50)
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.sg, b.sg)) AS BIGINT) AS common,
                 CAST(len(a.sg) AS BIGINT) AS n_a,
                 CAST(len(b.sg) AS BIGINT) AS n_b
          FROM sh a JOIN sh b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sg, b.sg)) > 0)
        SELECT doc_a, doc_b,
               common / n_a AS cont_a,
               common / n_b AS cont_b,
               common / (n_a + n_b - common) AS jaccard,
               greatest(common / n_a, common / n_b) AS containment
        FROM pairs
        ORDER BY containment DESC, doc_a ASC, doc_b ASC
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q111: prefix-filtered set-similarity join (PPJoin family) — the
    // EXACT Jaccard-threshold join that scales: tokens sort by global
    // (document-frequency, token) order, and a pair can reach J >= t
    // only if the two docs share a token inside their first
    // n - ceil(t*n) + 1 tokens (J >= t forces overlap >= ceil(t*n) on
    // both sides). Candidates therefore come from exploding only the
    // PREFIX (rare tokens first, so postings lists are short), then
    // exact re-rank via array_intersect on the full sets. No integer
    // token ranks exist anywhere — the (df, gram) pair IS the global
    // order, so there is no global row_number bottleneck. The DuckDB
    // oracle is the UNFILTERED postings join: result equality proves
    // the prefix filter dismissed nothing.
    QDef(
      "q111_prefix_simjoin",
      (s, dir) => {
        // 0.6, not lower: the prefix length is n - ceil(t*n) + 1, so
        // pruning power comes FROM the threshold (at t=0.4 the prefix
        // is 60% of every doc and candidates blow up ~8x for the same
        // 25-pair answer — prefix filtering is a high-threshold tool)
        val t = 0.6
        // localCheckpoint: the shingle scan (regex tokenize + md5 per
        // gram — the dominant per-row cost) feeds BOTH the df count and
        // the (df, g) join; without it the corpus is re-shingled twice
        val sh = Tables(s, dir).documents
          .select(col("doc_id"),
            graft.functions.Shingles.shingles(col("text"), 3).as("g"))
          .ckpt()
        val dfreq = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
        // one row per doc: full gram set in global (df, g) order + the
        // prefix slice; localCheckpoint — feeds the candidate self-join
        // AND both verify joins
        // NOTE r16: a linear merge-intersect over per-doc
        // lexicographically pre-sorted gram arrays (custom expression)
        // was tried for the verify stage and REVERTED — it measured
        // SLOWER than size(array_intersect(...)) at BOTH sf0.1 (3.3 vs
        // 2.3 s) and 100× (per-element UTF8String compares lose to the
        // codegen'd hash-set path). The verify win that stands is the
        // conditional fan-out below.
        val docs = sh.join(dfreq, "g")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("df"), col("g"))))
            .as("arr"))
          .select(col("doc_id"),
            expr("transform(arr, e -> e.g)").as("grams"),
            size(col("arr")).as("n"),
            expr(s"""transform(slice(arr, 1,
                size(arr) - cast(ceil(${t}d * size(arr)) as int) + 1),
                e -> e.g)""").as("prefix"))
          .ckpt()
        // PPJoin's two candidate prunes ride the postings join (both
        // SAFE supersets of the true result — the oracle equality and
        // SimJoinSpec's brute-force net prove nothing is dismissed):
        //   length: J >= t forces t*nx <= ny;
        //   positional: a pair first meeting at prefix positions
        //   (pa, pb) can overlap at most 1 + min(nx-pa, ny-pb), which
        //   must reach ceil(t/(1+t)*(nx+ny)).
        val posts = docs.select(col("doc_id"), col("n"),
          posexplode(col("prefix")).as(Seq("pos", "g")))
        val cands = posts.alias("a")
          .join(posts.alias("b"),
            col("a.g") === col("b.g") &&
              col("a.doc_id") < col("b.doc_id") &&
              col("b.n") * lit(1.0) >= lit(t) * col("a.n") &&
              col("a.n") * lit(1.0) >= lit(t) * col("b.n") &&
              (lit(1) + least(col("a.n") - col("a.pos"),
                col("b.n") - col("b.pos"))) * lit(1.0 + t) >=
                lit(t) * (col("a.n") + col("b.n")))
          .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
          .distinct()
        // r16: spread the verify stage — CONDITIONALLY. At gate SFs the
        // distinct's output is a few MB of (x, y) ids, so AQE coalesces
        // it to ~1 partition and the whole exact re-rank (the query's
        // dominant stage: per-pair array_intersect over ~500-gram
        // docs) runs on one core — bytes are a bad proxy for this
        // stage's work. A round-robin repartition of the TINY candidate
        // relation (never the document payloads) fans it across the
        // session's shuffle partitions: sf0.1 verify 2.25 → 0.98 s.
        // CONDITIONAL on the materialized docs relation's partition
        // count (free off the checkpoint) because at 100× the scan is
        // already wide, AQE no longer under-parallelizes, and the same
        // repartition measured PURE LOSS (+15 s) — the fan-out fires
        // exactly when natural parallelism is below the core count,
        // at any SF, with no constant tuned to either. With checkpoints
        // disabled (full-plan audit) docs is an unexecuted plan: its
        // partition count means nothing and `.rdd` would run its
        // shuffle stages, so the probe is skipped there.
        val fanOut = !graft.Ckpt.disabled &&
          docs.rdd.getNumPartitions < s.sparkContext.defaultParallelism
        val candsR =
          if (fanOut) cands.repartition(
            s.conf.get("spark.sql.shuffle.partitions").toInt)
          else cands
        candsR
          .join(docs.select(col("doc_id").as("x"), col("grams").as("gx"),
            col("n").as("nx")), "x")
          .join(docs.select(col("doc_id").as("y"), col("grams").as("gy"),
            col("n").as("ny")), "y")
          .withColumn("i", size(array_intersect(col("gx"), col("gy")))
            .cast("bigint"))
          .where(col("i") / (col("nx") + col("ny") - col("i")) >= t)
          .select(col("x"), col("y"),
            round(col("i") / (col("nx") + col("ny") - col("i")), 6)
              .as("jaccard"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, $WDuck AS ws FROM documents),
        sh AS (SELECT DISTINCT doc_id, ws[u.i] || ' ' || ws[u.i + 1] ||
                      ' ' || ws[u.i + 2] AS g
               FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) u
               WHERE len(ws) >= 3),
        sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS x, b.doc_id AS y,
                         CAST(COUNT(*) AS BIGINT) AS i
                  FROM sh a JOIN sh b
                    ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT i.x, i.y,
               round(CAST(i.i AS DOUBLE) / (sx.n + sy.n - i.i), 6) AS jaccard
        FROM inter i JOIN sz sx ON sx.doc_id = i.x
                     JOIN sz sy ON sy.doc_id = i.y
        WHERE CAST(i.i AS DOUBLE) / (sx.n + sy.n - i.i) >= 0.6
      """)),

    // ------------------------------------------------------------------
    // q121: LSH band-config TUNER — the precision/recall sweep an
    // operator runs before picking q23's banding: for each (bands ×
    // rows-per-band) split of the SAME 8 signatures q23 ships
    // (minhashSigs — one definition, the tuner can't measure a
    // different index), count candidate pairs, hits against the exact
    // Jaccard ≥ 0.5 ground truth, and the derived precision/recall.
    // All four configs ride ONE union relation through ONE bucket
    // self-join — the per-config fan-out is 8+4+2+1 bucket rows per
    // doc, and the expensive stage (exact ground truth) is computed
    // once, not per config. Counts are exact integers; the ratios are
    // single divisions rounded at 6 — nothing engine-specific.
    QDef(
      "q121_lsh_tuning",
      (s, dir) => {
        import s.implicits._
        val configs = Seq(("8x1", 8, 1), ("4x2", 4, 2),
          ("2x4", 2, 4), ("1x8", 1, 8))
        // ONE ckpt'd shingle pass feeds both arms (the signature agg
        // and the exact ground truth each re-shingled the corpus
        // before r15). Sequential on purpose: overlapping the arms
        // with graft.Par measured 1.20× SLOWER in the r15 conf A/B.
        val ex = shingleExRows(Tables(s, dir).documents)
        val sigs = minhashSigsOver(ex)
        val bands = configs.map { case (label, nb, r) =>
          sigs.withColumn("bucket", explode(array((0 until nb).map { bd =>
              md5(concat((0 until r).map(i => col(s"sig_${bd * r + i}"))
                : _*).cast("binary"))
            }: _*)))
            .select(lit(label).as("config"), col("doc_id"),
              col("source"), col("bucket"))
        }.reduce(_ unionByName _)
        val a = bands.alias("a")
        val b = bands.alias("b")
        val cand = a.join(b,
            col("a.config") === col("b.config") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.config").as("config"),
            col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .ckpt() // feeds the per-config count AND the hit join
        val gt = jaccardPairsFromEx(ex).where(col("jaccard") >= 0.5d)
          .select(col("doc_a"), col("doc_b"))
          .ckpt() // feeds n_true AND the hit join
        val nTrue = gt.agg(count(lit(1)).as("n_true"))
        val nCand = cand.groupBy(col("config"))
          .agg(count(lit(1)).as("n_cand"))
        val nHits = cand.join(gt, Seq("doc_a", "doc_b"), "left_semi")
          .groupBy(col("config")).agg(count(lit(1)).as("n_hits"))
        configs.map(_._1).toDF("config")
          .join(nCand, Seq("config"), "left").na.fill(0L, Seq("n_cand"))
          .join(nHits, Seq("config"), "left").na.fill(0L, Seq("n_hits"))
          .crossJoin(broadcast(nTrue))
          .select(col("config"), col("n_cand"), col("n_hits"),
            col("n_true"),
            round(col("n_hits").cast("double") /
              nullif(col("n_cand"), lit(0L)), 6).as("precision_r"),
            round(col("n_hits").cast("double") /
              nullif(col("n_true"), lit(0L)), 6).as("recall_r"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        sig AS (SELECT doc_id, source,
                  list_transform(range(0, 8),
                    j -> list_min(list_transform(sg,
                      s -> substring(md5(CASE WHEN j < 4 THEN 'A|' ELSE 'B|' END || s),
                                     (j % 4) * 8 + 1, 8)))) AS sig
                FROM sh),
        cfg AS (SELECT * FROM (VALUES ('8x1', 8, 1), ('4x2', 4, 2),
                               ('2x4', 2, 4), ('1x8', 1, 8))
                t(config, nb, r)),
        bands AS (SELECT c.config, s.doc_id, s.source,
                    unnest(list_transform(range(0, c.nb),
                      b -> md5(array_to_string(
                        sig[CAST(b * c.r AS INTEGER) + 1 :
                            CAST((b + 1) * c.r AS INTEGER)], ''))))
                      AS bucket
                  FROM sig s, cfg c),
        cand AS (SELECT DISTINCT a.config, a.doc_id AS doc_a,
                        b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.config = b.config AND a.bucket = b.bucket
                  AND a.source = b.source AND a.doc_id < b.doc_id),
        gt AS (SELECT doc_a, doc_b FROM ($jaccardPairsDuck) j
               WHERE jaccard >= 0.5),
        ncand AS (SELECT config, CAST(COUNT(*) AS BIGINT) AS n_cand
                  FROM cand GROUP BY 1),
        nhits AS (SELECT c.config, CAST(COUNT(*) AS BIGINT) AS n_hits
                  FROM cand c JOIN gt g
                    ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
                  GROUP BY 1),
        ntrue AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM gt)
        SELECT cfg.config,
               COALESCE(nc.n_cand, 0) AS n_cand,
               COALESCE(nh.n_hits, 0) AS n_hits,
               nt.n_true,
               ROUND(CAST(COALESCE(nh.n_hits, 0) AS DOUBLE)
                     / nullif(COALESCE(nc.n_cand, 0), 0), 6) AS precision_r,
               ROUND(CAST(COALESCE(nh.n_hits, 0) AS DOUBLE)
                     / nullif(nt.n_true, 0), 6) AS recall_r
        FROM cfg
        LEFT JOIN ncand nc ON nc.config = cfg.config
        LEFT JOIN nhits nh ON nh.config = cfg.config, ntrue nt
      """)),

    // ------------------------------------------------------------------
    // q162: duplication profile — the cluster-SIZE histogram of q22's
    // exact-dedup clusters (how much of the corpus is singletons vs
    // 2-dup vs k-dup), plus each size's share of documents: the
    // corpus-health panel a dedup run reports. Two partial-aggregable
    // rollups (fingerprint → size, size → clusters) — the second runs
    // on the |clusters| relation — and a broadcast doc total. Pure
    // integers plus one rounded division.
    QDef(
      "q162_dup_profile",
      (s, dir) => {
        val sizes = Tables(s, dir).documents
          .withColumn("fp", Q.fingerprint(col("text")))
          .groupBy(col("fp")).agg(count(lit(1)).as("sz"))
        val tot = sizes.agg(sum(col("sz")).as("n_docs"))
        sizes.groupBy(col("sz"))
          .agg(count(lit(1)).as("n_clusters"))
          .crossJoin(broadcast(tot))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("docs_covered"),
            round((col("sz") * col("n_clusters")).cast("double") /
              col("n_docs"), 6).as("doc_share"))
      },
      Some(s"""
        WITH sizes AS (SELECT CAST(COUNT(*) AS BIGINT) AS sz
                       FROM (SELECT doc_id, ${Q.fingerprintDuck} AS fp
                             FROM documents) t
                       GROUP BY fp),
        tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n_docs FROM sizes)
        SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(sz * COUNT(*) AS BIGINT) AS docs_covered,
               ROUND(CAST(sz * COUNT(*) AS DOUBLE) / n_docs, 6)
                 AS doc_share
        FROM sizes, tot GROUP BY sz, n_docs
      """)),

    // ------------------------------------------------------------------
    // q190: cross-document shared spans — for every doc pair sharing at
    // least one verbatim 8-token run, the length of the LONGEST shared
    // run and the number of distinct maximal runs. This is the
    // exact-substring dedup signal (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): near-dup metrics
    // like Jaccard (q24) miss a long verbatim quote inside otherwise
    // different documents; this finds it, positionally.
    //
    // Suffix arrays are the single-machine tool; the distributed shape
    // is gram anchors + diagonal runs: positioned 8-gram fingerprints
    // equi-join across docs (the ONLY shuffle that touches the corpus,
    // keyed by the gram); a match at positions (pa, pb) lies on
    // diagonal pa − pb, and consecutive matches on one diagonal are a
    // longer shared run — maximal runs fall out of the classic
    // gaps-and-islands trick (pa − row_number is constant within a
    // run), with every window partitioned by (pair, diagonal). A
    // shared run of L tokens ⇒ L − 7 consecutive gram matches, so
    // run_len = matches + 7, exactly.
    //
    // Scale: gram-keyed join like q56's decontamination probe; within
    // a (pair, diagonal) partition positions are distinct, so windows
    // are bounded by the matched-span length. Hot boilerplate grams
    // (navbars, license headers — one df=10⁵ gram is 10¹⁰ join pairs)
    // are excluded by the q62-style df cap BEFORE the cross-doc join;
    // the cap is restated in the oracle, so hash equality proves the
    // capped semantics, and on this corpus (max df 4 at sf0.1) the cap
    // never binds — the result equals the uncapped join's.
    QDef(
      "q190_shared_spans",
      (s, dir) => sharedSpans(
        Tables(s, dir).documents.select(col("doc_id"), col("text")),
        spanDfCap),
      Some(s"""
        WITH ws AS (SELECT doc_id, $WDuck AS ws FROM documents),
        g AS (SELECT doc_id, i - 1 AS pos,
                     list_aggregate(ws[i:i+7], 'string_agg', ' ') AS gram
              FROM ws, unnest(range(1, len(ws) - 6)) AS t(i)
              WHERE len(ws) >= 8),
        hot AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(*) > $spanDfCap),
        k AS (SELECT g.* FROM g ANTI JOIN hot USING (gram)),
        m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
                     a.pos - b.pos AS diag
              FROM k a JOIN k b
                ON a.gram = b.gram AND a.doc_id < b.doc_id),
        r AS (SELECT da, db, diag,
                     pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag
                       ORDER BY pa) AS island
              FROM m),
        runs AS (SELECT da, db, diag, island,
                        COUNT(*) + 7 AS run_len
                 FROM r GROUP BY 1, 2, 3, 4)
        SELECT da, db, CAST(MAX(run_len) AS INTEGER) AS longest_run,
               CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM runs GROUP BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q193: quality-aware canonical selection — q54 picks each dup
    // cluster's min-id member; real curation pipelines keep the BEST
    // member (SemDeDup, C4: the representative with the highest quality
    // score), because the lowest id is often the worst crawl of the
    // page. Clusters come from the same connected-components machinery
    // as q54 (shared `ConnectedComponents.run` + the same Jaccard edge
    // rule); the survivor is the cluster argmax of (stop-word ratio,
    // token count, lowest id) — the ratio as an EXACT scaled integer
    // (×10⁶ div), so the quality compare is integer arithmetic both
    // engines get bit-identical, and the argmax is one windowed
    // max(struct(...)) per cluster (no groupBy + rejoin recompute —
    // q54's own note).
    //
    // Scale: edges/CC as q54 (banded candidates at 100 TB); the quality
    // pass is a scan-side map; the survivorship window shuffles once on
    // cluster_id.
    QDef(
      "q193_canonical_selection",
      (s, dir) => {
        val edges = jaccardPairs(s, dir)
          .where(col("jaccard") >= 0.02)
          .select(col("doc_a").as("u"), col("doc_b").as("v"))
        val assign = graft.core.ConnectedComponents.run(edges)
          .select(col("u").as("doc_id"), col("v").as("cid"))
        val qual = Tables(s, dir).documents
          .select(col("doc_id"), expr(W).as("ws"))
          .select(col("doc_id"),
            expr("cast(size(ws) as bigint)").as("n_tokens"),
            expr("""(cast(size(filter(ws, x -> x = 'the' or x = 'a'))
                      as bigint) * 1000000) div greatest(size(ws), 1)""")
              .as("stop_scaled"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
        qual.join(assign, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cid"), col("doc_id")).as("cluster_id"),
            col("n_tokens"), col("stop_scaled"))
          .withColumn("b", max(struct(col("stop_scaled"),
            col("n_tokens"), (-col("doc_id")).as("nd"))).over(win))
          .withColumn("n_members", count(lit(1)).over(win))
          .select(col("doc_id"), col("cluster_id"), col("n_members"),
            (-col("b.nd")).as("survivor_id"),
            (col("doc_id") === -col("b.nd")).cast("int").as("keep"))
      },
      Some(s"""
        WITH RECURSIVE
        w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        edges AS (SELECT doc_a AS u, doc_b AS v FROM ($jaccardPairsDuck) jp
                  WHERE jaccard >= 0.02),
        und AS (SELECT u AS src, v AS dst FROM edges
                UNION ALL SELECT v, u FROM edges),
        walk(node, label) AS (
          SELECT DISTINCT src, src FROM und
          UNION
          SELECT u.dst, wk.label FROM walk wk JOIN und u ON u.src = wk.node),
        comp AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node),
        qual AS (SELECT doc_id,
                        CAST(len(ws) AS BIGINT) AS n_tokens,
                        (CAST(len(list_filter(ws,
                           x -> x = 'the' OR x = 'a')) AS BIGINT)
                         * 1000000) // greatest(len(ws), 1) AS stop_scaled
                 FROM w),
        labeled AS (SELECT q.doc_id,
                           COALESCE(c.cluster_id, q.doc_id) AS cluster_id,
                           q.n_tokens, q.stop_scaled
                    FROM qual q LEFT JOIN comp c ON c.node = q.doc_id),
        sel AS (SELECT doc_id, cluster_id, n_tokens, stop_scaled,
                       MAX({'s': stop_scaled, 'n': n_tokens,
                            'nd': -doc_id})
                         OVER (PARTITION BY cluster_id) AS b,
                       CAST(COUNT(*) OVER (PARTITION BY cluster_id)
                            AS BIGINT) AS n_members
                FROM labeled)
        SELECT doc_id, cluster_id, n_members,
               -(b.nd) AS survivor_id,
               CAST(CASE WHEN doc_id = -(b.nd) THEN 1 ELSE 0 END AS INT)
                 AS keep
        FROM sel
      """)),

    // ------------------------------------------------------------------
    // q219: span-removal audit — what an exact-substring dedup pass
    // (Lee et al. 2022) would actually DELETE. q190 reports shared
    // spans per PAIR; removal needs them per DOCUMENT: every token
    // position covered by any cross-document verbatim run of ≥ 8
    // tokens is duplicated text, and the per-doc duplicated-token
    // count + retention ratio is the ship-or-hold report before a
    // destructive rewrite of a 100 TB corpus.
    //
    // Shape: the q190 anchor machinery (positionedGrams + hot-gram df
    // cap, shared code) marks matched positions; each match covers
    // [pos, pos+8), and the union of overlapping/adjacent intervals
    // per doc is one gaps-and-islands pass (new island when the gap
    // between consecutive matched positions exceeds the gram width) —
    // covered = max − min + 8 per island, summed per doc.
    //
    // Scale: the cross-doc join is gram-keyed and cap-bounded (q190's
    // argument); the interval-merge window is per (doc), bounded by
    // matched positions in that doc, never corpus-sized. Integer
    // arithmetic throughout; the single ratio rounds at 6.
    QDef(
      "q219_span_removal",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), col("text"))
        val grams = positionedGrams(docs)
          .ckpt() // feeds the df count AND both join sides
        val hot = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("df"))
          .where(col("df") > spanDfCap)
          .select(col("gram"))
        val kept = grams.join(broadcast(hot), Seq("gram"), "left_anti")
        val dup = kept.alias("a").join(kept.alias("b"),
            col("a.gram") === col("b.gram") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"))
          .distinct()
        val byDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        val cum = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)
        val cov = dup
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(byDoc) > 8, 1)
              .otherwise(0))
          .withColumn("isl", sum(col("brk")).over(cum))
          .groupBy(col("doc_id"), col("isl"))
          .agg((max(col("pos")) - min(col("pos")) + 8).as("covered"))
          .groupBy(col("doc_id"))
          .agg(sum(col("covered")).as("dup_tokens"),
            count(lit(1)).as("n_islands"))
        docs.select(col("doc_id"),
            expr(s"cast(size($W) as bigint)").as("n_tokens"))
          .join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            coalesce(col("n_islands"), lit(0L)).as("n_islands"),
            expr("""case when n_tokens = 0 then 1.0d
                    else round((n_tokens - coalesce(dup_tokens, 0L))
                               / cast(n_tokens as double), 6)
                    end""").as("retention_r"))
      },
      Some(s"""
        WITH ws AS (SELECT doc_id, $WDuck AS ws FROM documents),
        g AS (SELECT doc_id, i - 1 AS pos,
                     list_aggregate(ws[i:i+7], 'string_agg', ' ') AS gram
              FROM ws, unnest(range(1, len(ws) - 6)) AS t(i)
              WHERE len(ws) >= 8),
        hot AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(*) > $spanDfCap),
        k AS (SELECT g.* FROM g ANTI JOIN hot USING (gram)),
        m AS (SELECT DISTINCT a.doc_id, a.pos
              FROM k a JOIN k b
                ON a.gram = b.gram AND a.doc_id <> b.doc_id),
        i AS (SELECT doc_id, pos,
                     CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                            ORDER BY pos) > 8 THEN 1 ELSE 0 END AS brk
              FROM m),
        j AS (SELECT doc_id, pos,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS isl
              FROM i),
        cov AS (SELECT doc_id, isl, MAX(pos) - MIN(pos) + 8 AS covered
                FROM j GROUP BY 1, 2),
        agg AS (SELECT doc_id, SUM(covered) AS dup_tokens,
                       CAST(COUNT(*) AS BIGINT) AS n_islands
                FROM cov GROUP BY 1),
        n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM ws)
        SELECT n.doc_id, n.n_tokens,
               CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(COALESCE(n_islands, 0) AS BIGINT) AS n_islands,
               CASE WHEN n.n_tokens = 0 THEN 1.0
                    ELSE ROUND((n.n_tokens - COALESCE(dup_tokens, 0))
                               / CAST(n.n_tokens AS DOUBLE), 6)
               END AS retention_r
        FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id
      """)),

    // ------------------------------------------------------------------
    // q233: cross-split near-dup leakage matrix — the contamination
    // check exact-gram decontamination (q56) structurally CANNOT see:
    // a held-out document whose near-duplicate (reworded boilerplate,
    // template siblings) sits in train leaks evaluation signal without
    // sharing a single 13-gram. Composes two shared definitions that
    // therefore cannot drift from their oracles: q23's banded MinHash
    // candidates with q83's ≥6/8 signature-agreement near rule, and
    // q51's seed-free md5 split — every near-dup pair is classified by
    // the splits of its two ends, giving the (split_a, split_b) pair
    // matrix plus how many distinct docs on each side participate.
    // The train×held_out cells are the leakage a release gate acts on.
    //
    // Scale: candidates are banded (never all-pairs — the q23 shape),
    // the split attach is scan-side md5 arithmetic, and the rollup
    // ends at ≤4 rows; adding the check to an existing dedup pass
    // costs one projection, not a new corpus scan.
    QDef(
      "q233_split_leakage",
      (s, dir) => {
        val sigs = minhashSigs(s, dir)
        val bands = sigs.withColumn("bucket",
          explode(array((0 until 4).map(b =>
            md5(concat(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
              .cast("binary"))): _*)))
        val agree = (0 until 8)
          .map(j => s"(case when a.sig_$j = b.sig_$j then 1 else 0 end)")
          .mkString(" + ")
        val split = (c: String) =>
          PipelineQueries.splitExprSpark.replace("doc_id", c)
        bands.alias("a").join(bands.alias("b"),
            col("a.bucket") === col("b.bucket") &&
            col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
          .where(expr(s"($agree) >= 6"))
          .select(col("a.doc_id").as("doc_a"),
            col("b.doc_id").as("doc_b"))
          .distinct()
          .withColumn("split_a", expr(split("doc_a")))
          .withColumn("split_b", expr(split("doc_b")))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_a")).as("n_docs_a"),
            countDistinct(col("doc_b")).as("n_docs_b"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        sig AS (SELECT doc_id, source,
                  list_transform(range(0, 8),
                    j -> list_min(list_transform(sg,
                      s -> substring(md5(CASE WHEN j < 4 THEN 'A|' ELSE 'B|' END || s),
                                     (j % 4) * 8 + 1, 8)))) AS sig
                FROM sh),
        bands AS (SELECT doc_id, source, sig,
                    unnest(list_transform(range(0, 4),
                      b -> md5(sig[2*b + 1] || sig[2*b + 2]))) AS bucket
                  FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                    ON a.bucket = b.bucket AND a.source = b.source
                   AND a.doc_id < b.doc_id
                  WHERE len(list_filter(range(1, 9),
                          j -> a.sig[j] = b.sig[j])) >= 6),
        cls2 AS (SELECT p.doc_a, p.doc_b,
                  ${PipelineQueries.splitExprDuck
                     .replace("doc_id", "p.doc_a")} AS split_a,
                  ${PipelineQueries.splitExprDuck
                     .replace("doc_id", "p.doc_b")} AS split_b
                 FROM pairs p)
        SELECT split_a, split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS n_docs_a,
               CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_b
        FROM cls2 GROUP BY 1, 2
      """)),

    // ------------------------------------------------------------------
    // q237: dedup-threshold ROI sweep — the report that decides WHERE to
    // set the near-dup cutoff before a destructive dedup pass: for each
    // candidate Jaccard threshold (50..90%), how many pairs qualify,
    // how many documents are touched, and how many documents are
    // DOMINATED (have a smaller-id near-dup, i.e. would be dropped by
    // the pairwise min-id rule — a lower bound on full-component
    // removals, which q54 computes for the one chosen threshold).
    // Thresholds are integer percents so the group key is exact;
    // jaccard rounds at 9 before the compare (the q59 thresholding
    // idiom) and t_pct/100.0 is the same double in both engines.
    //
    // Scale: the expensive part — sparse source-blocked pair
    // generation — runs ONCE (shared jaccardPairs, checkpointed); the
    // sweep is a 5-way narrow explode over the PAIR table (already
    // sub-corpus-sized), and both rollups aggregate that small
    // relation. The 5-row threshold spine LEFT-joins the rollups so a
    // threshold with zero qualifying pairs still reports (the row a
    // threshold-picker actually wants to see). Adding a candidate
    // threshold costs an array literal, never another corpus pass.
    QDef(
      "q237_dedup_threshold_sweep",
      (s, dir) => {
        val sw = jaccardPairs(s, dir)
          .select(col("doc_a"), col("doc_b"),
            round(col("jaccard"), 9).as("j9"))
          .withColumn("t_pct", explode(array(
            lit(50L), lit(60L), lit(70L), lit(80L), lit(90L))))
          .where(col("j9") >= col("t_pct") / 100.0d)
          .ckpt() // tiny thresholded pair stream feeds both rollups
        val perPair = sw.groupBy(col("t_pct"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_b")).as("n_dominated"))
        val perDoc = sw
          .select(col("t_pct"),
            explode(array(col("doc_a"), col("doc_b"))).as("d"))
          .distinct()
          .groupBy(col("t_pct")).agg(count(lit(1)).as("n_docs"))
        s.range(1).select(explode(array(
            lit(50L), lit(60L), lit(70L), lit(80L), lit(90L)))
            .as("t_pct"))
          .join(perPair, Seq("t_pct"), "left")
          .join(perDoc, Seq("t_pct"), "left")
          .select(col("t_pct"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_dominated"), lit(0L)).as("n_dominated"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        jp AS ($jaccardPairsDuck),
        sw AS (SELECT t.t_pct, doc_a, doc_b FROM jp,
                 (VALUES (50), (60), (70), (80), (90)) t(t_pct)
               WHERE ROUND(jaccard, 9) >= t.t_pct / 100.0),
        pp AS (SELECT t_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                      CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dominated
               FROM sw GROUP BY 1),
        dd AS (SELECT t_pct, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
               FROM (SELECT t_pct, doc_a AS d FROM sw
                     UNION SELECT t_pct, doc_b FROM sw) u
               GROUP BY 1)
        SELECT CAST(t.t_pct AS BIGINT) AS t_pct,
               COALESCE(pp.n_pairs, 0) AS n_pairs,
               COALESCE(dd.n_docs, 0) AS n_docs,
               COALESCE(pp.n_dominated, 0) AS n_dominated
        FROM (VALUES (50), (60), (70), (80), (90)) t(t_pct)
        LEFT JOIN pp ON pp.t_pct = t.t_pct
        LEFT JOIN dd ON dd.t_pct = t.t_pct
      """)),

    // ------------------------------------------------------------------
    // q245: character-level edit-distance near-dup re-rank — the dedup
    // modality shingles can't express: Levenshtein similarity catches
    // single-character edits, OCR noise and small insertions that
    // shift every overlapping shingle. All-pairs edit distance is
    // O(n²·len²) and unshippable, so candidates come from q23's
    // banded MinHash buckets (the SAME minhashSigs/band construction —
    // never all-pairs), pre-filtered by the length-difference lower
    // bound (|len_a − len_b| ≤ 64 ⇒ lev ≥ the difference) and a
    // 4000-char payload cap that bounds the per-pair DP at any corpus
    // size. Both engines ship a native levenshtein (identical unit-
    // cost DP), so lev is an exact integer; similarity rounds at 6 and
    // the top-50 report carries the full deterministic tiebreak.
    //
    // Scale: the ONLY payload shuffle is the two text joins for
    // surviving candidate pairs (bounded by band-bucket collisions AND
    // the per-doc top-64 fan-out cap, so a boilerplate dup clique of m
    // docs costs 64·m DPs, not C(m,2)); the DP runs partition-local
    // per pair; TakeOrdered closes it.
    QDef(
      "q245_edit_neardup",
      (s, dir) => {
        val (kept, culled) = editRerankCandidates(s, dir)
        val d = editDocs(s, dir)
        kept
          .join(d.select(col("doc_id").as("doc_a"),
            col("text").as("ta")), "doc_a")
          .join(d.select(col("doc_id").as("doc_b"),
            col("text").as("tb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
            levenshtein(col("ta"), col("tb")).cast("bigint").as("lev"))
          .withColumn("edit_sim_r",
            round(lit(1.0d) - col("lev").cast("double") /
              greatest(col("len_a"), col("len_b"), lit(1L)), 6))
          .withColumn("is_neardup", col("edit_sim_r") >= 0.8d)
          .crossJoin(broadcast(culled))
          .orderBy(col("edit_sim_r").desc, col("doc_a"), col("doc_b"))
          .limit(50)
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        sig AS (SELECT doc_id, source,
                  list_transform(range(0, 8),
                    j -> list_min(list_transform(sg,
                      s -> substring(md5(CASE WHEN j < 4 THEN 'A|' ELSE 'B|' END || s),
                                     (j % 4) * 8 + 1, 8)))) AS sig
                FROM sh),
        bands AS (SELECT doc_id, source,
                    unnest(list_transform(range(0, 4),
                      b -> md5(sig[2*b + 1] || sig[2*b + 2]))) AS bucket
                  FROM sig),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        CAST(COUNT(*) AS BIGINT) AS n_bands
                 FROM bands a JOIN bands b
                   ON a.bucket = b.bucket AND a.source = b.source
                  AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
        d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
              FROM documents WHERE length(text) <= 4000),
        ranked AS (SELECT c.doc_a, c.doc_b, da.len AS len_a,
                          db.len AS len_b,
                          ROW_NUMBER() OVER (PARTITION BY c.doc_a
                            ORDER BY c.n_bands DESC,
                                     ABS(da.len - db.len) ASC,
                                     c.doc_b ASC) AS rk
                   FROM cand c
                   JOIN d da ON da.doc_id = c.doc_a
                   JOIN d db ON db.doc_id = c.doc_b
                   WHERE ABS(da.len - db.len) <= 64),
        surv AS (SELECT doc_a, doc_b, len_a, len_b
                 FROM ranked WHERE rk <= 64),
        culled AS (SELECT CAST(COUNT(*) AS BIGINT) AS culled_pairs
                   FROM ranked WHERE rk > 64),
        p AS (SELECT s.doc_a, s.doc_b, s.len_a, s.len_b,
                     CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev
              FROM surv s
              JOIN d da ON da.doc_id = s.doc_a
              JOIN d db ON db.doc_id = s.doc_b),
        r AS (SELECT doc_a, doc_b, len_a, len_b, lev,
                     ROUND(1.0 - CAST(lev AS DOUBLE)
                           / GREATEST(len_a, len_b, 1), 6) AS edit_sim_r
              FROM p)
        SELECT doc_a, doc_b, len_a, len_b, lev, edit_sim_r,
               edit_sim_r >= 0.8 AS is_neardup, culled.culled_pairs
        FROM r CROSS JOIN culled
        ORDER BY edit_sim_r DESC, doc_a, doc_b
        LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // q255: cross-source duplicate-overlap matrix — which PAIRS of
    // sources ship the same content? The provenance rollup of q22's
    // exact dedup (and the matrix q200's per-source dup exposure can't
    // show): for every unordered source pair, the number of shared
    // content fingerprints and the fingerprint-set Jaccard. The spine
    // is the |sources|² pair grid (two tiny broadcast distinct-source
    // lists — q114's bounded-relation cross), so ZERO-overlap pairs
    // stay in the report: "no leakage between crawl A and vendor B" is
    // a row, not an absence.
    //
    // Scale: the fingerprint relation is (source, fp) DISTINCT — one
    // scan-side partial agg; the overlap join is fp-co-keyed
    // (source-pair counting rides the fp shuffle), and per-source set
    // sizes arrive broadcast. Payloads never shuffle — only 32-char
    // fingerprints do.
    QDef(
      "q255_source_overlap",
      (s, dir) => {
        val fps = Tables(s, dir).documents
          .select(col("source"), Q.fingerprint(col("text")).as("fp"))
          .distinct()
          .ckpt() // feeds the pair join, set sizes, AND the spine
        val sizes = fps.groupBy(col("source"))
          .agg(count(lit(1)).as("n_fps"))
        val inter = fps.as("a")
          .join(fps.as("b"), col("a.fp") === col("b.fp") &&
            col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared"))
        val spine = sizes.select(col("source").as("source_a"),
            col("n_fps").as("na"))
          .crossJoin(broadcast(sizes.select(col("source").as("source_b"),
            col("n_fps").as("nb"))))
          .where(col("source_a") < col("source_b"))
        spine.join(inter, Seq("source_a", "source_b"), "left")
          .selectExpr("source_a", "source_b", "na", "nb",
            "cast(coalesce(n_shared, 0) as bigint) as n_shared",
            """round(cast(coalesce(n_shared, 0) as double)
               / (na + nb - coalesce(n_shared, 0)), 6) as jaccard_r""")
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""
        WITH fps AS (SELECT DISTINCT source, ${Q.fingerprintDuck} AS fp
                     FROM documents),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fps
                  FROM fps GROUP BY 1),
        inter AS (SELECT a.source AS source_a, b.source AS source_b,
                         CAST(COUNT(*) AS BIGINT) AS n_shared
                  FROM fps a JOIN fps b
                    ON a.fp = b.fp AND a.source < b.source
                  GROUP BY 1, 2),
        spine AS (SELECT sa.source AS source_a, sb.source AS source_b,
                         sa.n_fps AS na, sb.n_fps AS nb
                  FROM sizes sa, sizes sb
                  WHERE sa.source < sb.source)
        SELECT source_a, source_b, na, nb,
               CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
               ROUND(CAST(COALESCE(n_shared, 0) AS DOUBLE)
                     / (na + nb - COALESCE(n_shared, 0)), 6)
                 AS jaccard_r
        FROM spine LEFT JOIN inter USING (source_a, source_b)
        ORDER BY source_a, source_b
      """)),

    // ------------------------------------------------------------------
    // q278: dedup-aware mixture reweighting (the SlimPajama/RefinedWeb
    // discipline): near-duplicate copies should not each count as a
    // full example when a mixture is weighted, so every document
    // carries weight 1/|its q54 cluster| and per-source EFFECTIVE mass
    // is the sum of those weights — a source that is 40% internal
    // near-dups contributes 40% less than its raw document share
    // claims. Reports raw share vs dedup-adjusted share side by side,
    // plus a uniqueness ratio (effective / raw, 1.0 = fully unique) —
    // the correction a q179/q249-style mixture should consume instead
    // of raw counts. Composition over the SHARED
    // DedupQueries.clusterAssignment (q54's star-contraction
    // components, also consumed by q270), so the clusters priced,
    // surveyed, and reweighted are provably the same ones.
    //
    // Determinism: per-doc weights round(1/|cluster|, 12) quantize
    // into DECIMAL(32,12), so per-source sums and the grand total are
    // exact and order-free; shares are single rounded divisions.
    //
    // Scale: clusters come from banded candidates + O(log²)-round
    // components (q54's argument); cluster sizes are one
    // cluster_id-keyed agg; the weight join is doc_id/cluster_id
    // equi-keyed; everything after the per-source agg is
    // |sources|-bounded with 1-row-broadcast totals.
    QDef(
      "q278_dedup_weights",
      (s, dir) => dedupWeights(s, dir).orderBy(col("source")),
      Some(s"""
        WITH RECURSIVE $clusterAssignDuckCtes,
        $dedupWeightsDuckCtes
        SELECT source, n_docs, effective_mass_r, raw_share_r,
               dedup_share_r, uniqueness_r
        FROM dwrep
        ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q281: MinHash estimator CALIBRATION — how accurate is the
    // 8-permutation estimate on THIS corpus? q121 tunes the band
    // config by precision/recall against a fixed 0.5 truth; this is
    // the orthogonal audit: for every banded candidate pair, compare
    // the estimator (n_agree/8, the signature-agreement fraction the
    // near-dup rules threshold on) against the EXACT trigram Jaccard,
    // rolled up per agreement level — the empirical calibration curve
    // (bias + MAE per level) that tells an operator what "6/8 agree"
    // actually means in Jaccard units before picking q23's ≥6/8 rule.
    // Every ingredient is a shared definition (minhashSigs, the q23/
    // q245 band construction, jaccardPairs' exact ground truth), so
    // the audit measures the estimator the dedup rules ship.
    //
    // Determinism: n_agree is an exact integer; est = n_agree/8 is an
    // exact binary fraction; exact Jaccard rounds at 9 before the
    // round-6 means (summation-order ulps absorbed). Pairs that share
    // a band but no shingle (a 2^-32 hex-collision event) drop from
    // BOTH engines via the jaccard > 0 inner join — same relation.
    //
    // Scale: candidates are banded (never all-pairs); the agreement
    // join ships 8 fixed-width hex fields per side onto the bounded
    // candidate set; the exact-Jaccard side is the q237-shared
    // shingle-postings join; the rollup is ≤9 rows.
    QDef(
      "q281_minhash_calibration",
      (s, dir) => {
        // ONE ckpt'd shingle pass feeds the signature arm AND the
        // exact-Jaccard arm (each re-shingled the corpus before r15);
        // the arms then build concurrently (guide §2.6; graft.Par)
        val ex = shingleExRows(Tables(s, dir).documents)
        val (sigs, exact) = graft.Par.par2(
          minhashSigsOver(ex), // ckpt'd inside: feeds bands AND the
                               // per-pair agreement
          jaccardPairsFromEx(ex)
            .select(col("doc_a"), col("doc_b"),
              round(col("jaccard"), 9).as("j9"))
            .ckpt())
        val bands = sigs.withColumn("bucket",
          explode(array((0 until 4).map(b =>
            md5(concat(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
              .cast("binary"))): _*)))
          .select(col("doc_id"), col("source"), col("bucket"))
        val cand = bands.alias("a").join(bands.alias("b"),
            col("a.bucket") === col("b.bucket") &&
              col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val agree = (0 until 8)
          .map(j => s"(case when a.sig_$j = b.sig_$j then 1 else 0 end)")
          .mkString(" + ")
        val est = cand
          .join(sigs.alias("a"), col("doc_a") === col("a.doc_id"))
          .join(sigs.alias("b"), col("doc_b") === col("b.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            expr(agree).cast("bigint").as("n_agree"))
        est.join(exact, Seq("doc_a", "doc_b"))
          .groupBy(col("n_agree"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg(col("j9")), 6).as("mean_exact_r"),
            round(avg(col("n_agree") / lit(8.0d) - col("j9")), 6)
              .as("bias_r"),
            round(avg(abs(col("n_agree") / lit(8.0d) - col("j9"))), 6)
              .as("mae_r"))
          .select(col("n_agree"),
            (col("n_agree") / lit(8.0d)).as("est_jaccard"),
            col("n_pairs"), col("mean_exact_r"), col("bias_r"),
            col("mae_r"))
          .orderBy(col("n_agree"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        sig AS (SELECT doc_id, source,
                  list_transform(range(0, 8),
                    j -> list_min(list_transform(sg,
                      s -> substring(md5(CASE WHEN j < 4 THEN 'A|' ELSE 'B|' END || s),
                                     (j % 4) * 8 + 1, 8)))) AS sig
                FROM sh),
        bands AS (SELECT doc_id, source,
                    unnest(list_transform(range(0, 4),
                      b -> md5(sig[2*b + 1] || sig[2*b + 2]))) AS bucket
                  FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.bucket = b.bucket AND a.source = b.source
                  AND a.doc_id < b.doc_id),
        est AS (SELECT c.doc_a, c.doc_b,
                  CAST(list_sum(list_transform(range(0, 8),
                    j -> CASE WHEN sa.sig[j+1] = sb.sig[j+1]
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_agree
                FROM cand c
                  JOIN sig sa ON sa.doc_id = c.doc_a
                  JOIN sig sb ON sb.doc_id = c.doc_b),
        jp AS ($jaccardPairsDuck),
        j AS (SELECT e.n_agree, ROUND(p.jaccard, 9) AS j9
              FROM est e JOIN jp p
                ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
              WHERE p.jaccard > 0)
        SELECT n_agree, n_agree / 8.0 AS est_jaccard,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(j9), 6) AS mean_exact_r,
               ROUND(AVG(n_agree / 8.0 - j9), 6) AS bias_r,
               ROUND(AVG(ABS(n_agree / 8.0 - j9)), 6) AS mae_r
        FROM j GROUP BY 1 ORDER BY 1
      """)),

    // ------------------------------------------------------------------
    // q284: shingle-novelty decay curve — the crawl-freshness question
    // a corpus lead asks before paying for the NEXT crawl tranche: as
    // the corpus grew (doc_id order = ingest order, the repo-wide
    // convention), what fraction of each decile's distinct content was
    // NEW vs already seen? A healthy crawl holds novelty high; a crawl
    // re-visiting itself decays toward q278's duplication verdicts
    // long before exact dup rates move, because shingles repeat across
    // near-dups that fingerprints miss. Content unit = the SAME
    // distinct word-trigram shingle q23/q54/q245 dedup on (shared
    // generator), so "novel" here means novel to the dedup pass too.
    //
    // Scale: one Generate scan → a (decile, shingle) distinct + a
    // shingle-keyed min — both shuffles keyed by the shingle (the
    // postings key); the decile spine is ≤10 rows; the corpus max id
    // is a 1-row broadcast cross (the q252 discipline). Nothing
    // pairwise, nothing quadratic.
    QDef(
      "q284_novelty_curve",
      (s, dir) => {
        val mx = Tables(s, dir).documents
          .agg(max(col("doc_id")).as("maxid"))
        val dec = shingleRows(s, dir)
          .crossJoin(broadcast(mx))
          .select(least(lit(9L), floor(col("doc_id") * lit(10.0d) /
            (col("maxid") + lit(1L)))).as("decile"), col("shingle"))
        val pairs = dec.distinct().ckpt() // feeds first-seen AND the
                                          // per-decile rollup
        val first = pairs.groupBy(col("shingle"))
          .agg(min(col("decile")).as("first_dec"))
        pairs.join(first, Seq("shingle"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_dec") === col("decile"), 1L)
              .otherwise(0L)).as("new_grams"))
          .select(col("decile"), col("n_grams"), col("new_grams"),
            round(col("new_grams").cast("double") / col("n_grams"), 6)
              .as("novelty_r"))
          .orderBy(col("decile"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, source, $WDuck AS ws FROM documents),
        sh AS (SELECT doc_id, source, $SGDuck AS sg FROM w),
        mx AS (SELECT MAX(doc_id) AS maxid FROM documents),
        rows0 AS (SELECT doc_id, unnest(sg) AS shingle FROM sh),
        dec AS (SELECT CAST(LEAST(9, FLOOR(r.doc_id * 10.0 /
                    (m.maxid + 1))) AS BIGINT) AS decile, r.shingle
                FROM rows0 r, mx m),
        pairs AS (SELECT DISTINCT decile, shingle FROM dec),
        fs AS (SELECT shingle, MIN(decile) AS first_dec
               FROM pairs GROUP BY 1)
        SELECT p.decile, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_dec = p.decile
                    THEN 1 ELSE 0 END) AS BIGINT) AS new_grams,
               ROUND(CAST(SUM(CASE WHEN f.first_dec = p.decile
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                 AS novelty_r
        FROM pairs p JOIN fs f USING (shingle)
        GROUP BY 1 ORDER BY 1
      """))
  )

  /** q245's payload-capped doc relation (docs ≤ 4000 chars with their
    * byte length) — ONE definition shared by the candidate builder and
    * the report tail's text joins.
    */
  private def editDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir).documents
      .where(length(col("text")) <= 4000)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("bigint").as("len"))

  /** q245's PRE-REPORT candidate construction: banded-MinHash pairs,
    * the |Δlen| ≤ 64 length-bound cull, and the per-doc_a top-64
    * fan-out cap, returned as (kept, culled) — kept = (doc_a, doc_b,
    * len_a, len_b) after the cap, culled = the one-row exact count of
    * pairs the cap dropped. The q245 QDef composes the edit-distance
    * report over these; the relation is ALSO exposed (private[graft])
    * so DedupCapSpec can assert the cap on the pre-LIMIT relation —
    * the published report is LIMIT 50, where per-doc_a fan-out can
    * never exceed 50 and a ≤64 assertion would be vacuous.
    */
  private[graft] def editRerankCandidates(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val sigs = minhashSigs(s, dir)
    val bands = sigs.withColumn("bucket",
      explode(array((0 until 4).map(b =>
        md5(concat(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}"))
          .cast("binary"))): _*)))
    // n_bands (how many of the 4 LSH bands collided) rides along at
    // the same shuffle cost as the old DISTINCT — it is the per-pair
    // MinHash evidence and the cap's primary ranking key
    val cand = bands.alias("a").join(bands.alias("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
    // lens-first: the 8-byte length columns join onto ALL candidate
    // pairs and the |Δlen| ≤ 64 lower bound culls before the text
    // payloads attach — only SURVIVING pairs ever shuffle a payload
    val lens = editDocs(s, dir).select(col("doc_id"), col("len"))
    val surv = cand
      .join(lens.select(col("doc_id").as("doc_a"),
        col("len").as("len_a")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"),
        col("len").as("len_b")), "doc_b")
      .where(abs(col("len_a") - col("len_b")) <= 64L)
      // per-doc fan-out cap — a DOCUMENTED output contract: a doc
      // with > 64 band candidates only re-ranks its top 64, so a
      // true near-dup can in principle be culled pre-DP. A hot
      // boilerplate clique of m docs otherwise produces C(m,2)
      // band-candidate pairs and the DP cost goes quadratic in the
      // clique (the round-10 dup-clique probe measured exactly
      // that). Top-64 per doc_a ranks by the strongest pre-payload
      // proxy: shared-band count DESC (MinHash collision evidence —
      // 4 shared bands ≈ higher Jaccard than 1), then |Δlen| ASC,
      // then doc_b (a deterministic total order). This bounds the
      // DP at 64·n pairs at ANY clique size; the window partitions
      // by doc_a, so it shards with the candidate set.
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_a"))
          .orderBy(col("n_bands").desc,
            abs(col("len_a") - col("len_b")).asc,
            col("doc_b").asc)))
      .ckpt() // feeds the kept pairs AND the culled-pairs count
    // the cap's recall bound made OBSERVABLE (the r13 weak): every
    // report row carries the exact number of candidate pairs the
    // top-64 cap dropped on THIS corpus — 0 means the cap was
    // vacuous and the re-rank was complete; a consumer deciding
    // dedup policy reads the recall cost instead of trusting a
    // scaladoc. One-row aggregate, broadcast into the ≤50-row
    // report (the q252 one-row-crossJoin discipline).
    val culled = surv.where(col("rk") > 64)
      .agg(count(lit(1)).as("culled_pairs"))
    (surv.where(col("rk") <= 64).drop("rk", "n_bands"), culled)
  }

  /** q278's per-source dedup-aware mass relation — ONE definition
    * shared by the q278 QDef and q279's curation close-out (the
    * sharedSpans rule): (source, n_docs, effective_mass_r,
    * raw_share_r, dedup_share_r, uniqueness_r), unordered.
    */
  private[queries] def dedupWeights(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    dedupWeightsOf(Tables(s, dir).documents)

  /** [[dedupWeights]] over an explicit (doc_id, source, text) relation
    * — the full-recompute form [[graft.sinks.ClusterIndex]]'s parity
    * spec compares its incremental report against.
    */
  private[graft] def dedupWeightsOf(
      docs0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val assign = clusterAssignmentOf(docs0).ckpt()
    val docs = docs0.select(col("doc_id"), col("source"))
    val sized = assign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csz"))
    val agg = docs
      .join(assign, Seq("doc_id"))
      .join(sized, Seq("cluster_id"))
      .select(col("source"),
        expr("cast(round(1.0d / csz, 12) as decimal(32, 12))")
          .as("wq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wq")).as("eff"))
      .ckpt() // |sources|-bounded; feeds the totals AND the shares
    dedupWeightsTail(agg)
  }

  /** The per-source share/uniqueness tail over an explicit
    * (source, n_docs BIGINT, eff DECIMAL) aggregate — ONE definition
    * executed by [[dedupWeights]] (live cluster recompute) and by
    * [[graft.sinks.ClusterIndex.report]] (the incrementally maintained
    * aggregate), so the two surfaces cannot drift in their rounding or
    * share arithmetic.
    */
  private[graft] def dedupWeightsTail(
      agg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tot = agg.agg(sum(col("n_docs")).as("tn"),
      sum(col("eff")).as("te"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("eff").cast("double"), 6).as("effective_mass_r"),
        round(col("n_docs").cast("double") / col("tn"), 6)
          .as("raw_share_r"),
        round(expr("cast(eff as double) / cast(te as double)"), 6)
          .as("dedup_share_r"),
        round(expr("cast(eff as double)") / col("n_docs"), 6)
          .as("uniqueness_r"))
  }

  /** DuckDB twin of [[dedupWeights]] (consumes the
    * [[clusterAssignDuckCtes]] `assign` relation; final CTE `dwrep`).
    * CTE names: sized, dd, dwagg, dwtot, dwrep.
    */
  private[queries] lazy val dedupWeightsDuckCtes: String = """
        sized AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csz
                  FROM assign GROUP BY 1),
        dd AS (SELECT d.source,
                 CAST(ROUND(1.0 / s2.csz, 12) AS DECIMAL(32, 12)) AS wq
               FROM documents d
                 JOIN assign a ON a.doc_id = d.doc_id
                 JOIN sized s2 ON s2.cluster_id = a.cluster_id),
        dwagg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    SUM(wq) AS eff
                  FROM dd GROUP BY 1),
        dwtot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
                         SUM(eff) AS te
                  FROM dwagg),
        dwrep AS (SELECT source, n_docs,
                    ROUND(CAST(eff AS DOUBLE), 6) AS effective_mass_r,
                    ROUND(CAST(n_docs AS DOUBLE) / t.tn, 6)
                      AS raw_share_r,
                    ROUND(CAST(eff AS DOUBLE) / CAST(t.te AS DOUBLE), 6)
                      AS dedup_share_r,
                    ROUND(CAST(eff AS DOUBLE) / n_docs, 6)
                      AS uniqueness_r
                  FROM dwagg, dwtot t)"""
}
