package graft.apps

import graft.core.{KV, MRApp}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ArraySeq

/** The reference's five application plugins (SURVEY.md §2.3) as Scala
  * MRApps with byte-for-byte output fidelity.
  */

/** Word count (`/root/reference/mrapps/wc.go`): tokenize on "not a
  * unicode letter" — digits and punctuation are separators — emit
  * (word, "1") per occurrence; reduce = occurrence count as decimal
  * string.
  */
object WordCount extends MRApp {
  val name = "wc"
  def map(file: String, contents: String): Seq[KV] =
    tokenize(contents).map(KV(_, "1"))
  def reduce(key: String, values: Seq[String]): String =
    values.size.toString

  /** strings.FieldsFunc(contents, !unicode.IsLetter) — wc.go:23-26: the
    * maximal runs of letters, scanned by code point.
    * `Character.isLetter` is exactly Java's `\p{L}`; a lone surrogate
    * is not a letter, so it separates words.
    */
  def tokenize(contents: String): Seq[String] = {
    val words = ArraySeq.newBuilder[String]
    val n = contents.length
    var start = -1
    var i = 0
    while (i < n) {
      val cp = contents.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { words += contents.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) words += contents.substring(start, n)
    words.result()
  }
}

/** Inverted index (`/root/reference/mrapps/indexer.go`): DISTINCT words
  * per document (indexer.go:21-25), reduce emits `"%d %s"` with the doc
  * list sorted and comma-joined (indexer.go:36-39).
  */
object Indexer extends MRApp {
  val name = "indexer"
  def map(document: String, contents: String): Seq[KV] =
    WordCount.tokenize(contents).distinct.map(KV(_, document))
  def reduce(key: String, values: Seq[String]): String = {
    val sorted = values.sorted(graft.core.ByteOrdering)
    s"${sorted.size} ${sorted.mkString(",")}"
  }
}

/** No-crash golden (`/root/reference/mrapps/nocrash.go`): four constant
  * keys a..d carrying (filename, byte-length of filename, byte-length of
  * contents, "xyzzy"); reduce = values sorted and space-joined. Go `len`
  * is byte length, hence UTF-8 byte counts.
  */
object NoCrash extends MRApp {
  val name = "nocrash"
  def map(filename: String, contents: String): Seq[KV] = Seq(
    KV("a", filename),
    KV("b", filename.getBytes(UTF_8).length.toString),
    KV("c", contents.getBytes(UTF_8).length.toString),
    KV("d", "xyzzy"))
  def reduce(key: String, values: Seq[String]): String =
    values.sorted(graft.core.ByteOrdering).mkString(" ")
}

/** Crash analog (`/root/reference/mrapps/crash.go`): same query as
  * NoCrash plus fault injection. The reference kills the worker process
  * (~33%) or sleeps 0-10s (~33%); Spark's unit of recovery is the task,
  * so we throw in the task instead — same recovery semantics under test
  * (re-execution + output dedup), different blast radius (SURVEY.md §7.4).
  *
  * The injection is keyed to TaskContext.attemptNumber so the job always
  * terminates: only first attempts fail.
  */
final case class FaultInjected(
    inner: MRApp,
    crashProb: Double = 0.33,
    maxDelayMs: Int = 0) extends MRApp {
  val name = s"crash-${inner.name}"

  private def maybeCrash(): Unit = {
    val ctx = org.apache.spark.TaskContext.get()
    if (ctx != null && ctx.attemptNumber() == 0) {
      val r = scala.util.Random.nextInt(1000)
      if (r < (crashProb * 1000).toInt)
        throw new RuntimeException("injected crash (first attempt)")
      else if (maxDelayMs > 0 && r < 2 * (crashProb * 1000).toInt)
        Thread.sleep(scala.util.Random.nextInt(maxDelayMs).toLong)
    }
  }

  def map(file: String, contents: String): Seq[KV] = {
    maybeCrash(); inner.map(file, contents)
  }
  def reduce(key: String, values: Seq[String]): String = {
    maybeCrash(); inner.reduce(key, values)
  }
}
