package graft.queries

import graft.{QDef, Tables}
import graft.apps.{Indexer, WordCount}
import graft.core.{MRApp, MapReduce}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** The MR-compatibility layer under the driver's DuckDB oracle: the
  * MRApp map/reduce implementations run through the engine's own map
  * and reduce sides (`MapReduce.dataset`: `packShards`, a Catalyst
  * exchange on the shard index, `reduceShard`) over `documents` rows
  * (doc_id stands in for the file name, text for the contents — the
  * engine's whole-file record model, SURVEY.md §1.2). This closes the
  * loop: the code that `MapReduce.run` runs and that is golden-tested
  * against the sequential oracle is also hash-checked against SQL.
  */
object MRQueries {

  /** Run an MRApp over (doc_id-as-name, text) records; output is the
    * reference's (key, value) string pairs.
    */
  private def runApp(s: SparkSession, dir: String, app: MRApp): DataFrame = {
    val docs = Tables(s, dir).documents
      .select(col("doc_id").cast("string"), col("text"))
      .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
    MapReduce.dataset(docs, app).toDF("key", "value")
  }

  /** DuckDB restatement of WordCount.tokenize (wc.go:23-26): split on
    * runs of non-Unicode-letters, case-PRESERVING. Deliberately not
    * TextQueries.wordsExprDuck, which lowercases and splits on [^a-z]+ —
    * the two only coincide on all-lowercase-ASCII text; this oracle
    * stays faithful on any corpus.
    */
  private val mrWordsDuck =
    """list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')"""

  val defs: Seq[QDef] = Seq(
    // wc.go semantics end-to-end: tokenize on non-letters, value is the
    // occurrence count as a decimal STRING (the reference's string-only
    // data plane, SURVEY.md §1.1).
    QDef(
      "q42_mrapp_wordcount",
      (s, dir) => runApp(s, dir, WordCount),
      Some(s"""
        SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value
        FROM (SELECT unnest($mrWordsDuck) AS word
              FROM documents) t
        GROUP BY word
      """)),

    // indexer.go semantics: per-doc distinct words; value is
    // "%d %s" with the doc-name list sorted BYTE-WISE (doc ids as
    // strings: "10" < "2") and comma-joined.
    QDef(
      "q43_mrapp_indexer",
      (s, dir) => runApp(s, dir, Indexer),
      Some(s"""
        SELECT word AS key,
               CAST(COUNT(*) AS VARCHAR) || ' ' ||
                 string_agg(name, ',' ORDER BY name) AS value
        FROM (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS name,
                     unnest($mrWordsDuck) AS word
              FROM documents) t
        GROUP BY word
      """))
  )
}
