package graft.core

import graft.TestSpark
import graft.apps.{FaultInjected, Indexer, NoCrash, WordCount}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** Golden-output tests replicating the reference lab harness (SURVEY.md
  * §5): the distributed engine must produce the same key→value set as the
  * independent sequential oracle, with each mr-out file sorted by key and
  * keys placed in their FNV-1a shard.
  */
class MapReduceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def books: Seq[String] =
    Seq("whale.txt", "garden.txt", "numbers.txt", "repeat.txt")
      .map(f => TestSpark.resource(s"books/$f"))

  private def edge: Seq[String] =
    Seq("empty.txt", "unicode.txt", "hotkey.txt")
      .map(f => TestSpark.resource(s"edge/$f"))

  private def runBoth(app: MRApp, inputs: Seq[String], nReduce: Int = 10)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val dOut = TestSpark.tmpDir(s"mr-${app.name}-dist")
    val sOut = TestSpark.tmpDir(s"mr-${app.name}-seq")
    MapReduce.run(spark, inputs, app, nReduce, dOut)
    MapReduce.runSequential(inputs, app, sOut)
    (MapReduce.readOutput(dOut), MapReduce.readOutput(sOut))
  }

  test("wc distributed == sequential oracle (books + edge)") {
    val (dist, seq) = runBoth(WordCount, books ++ edge)
    assert(dist.toMap == seq.toMap)
    assert(dist.size == seq.size) // no duplicate keys across shards
  }

  test("indexer distributed == sequential oracle") {
    val (dist, seq) = runBoth(Indexer, books)
    assert(dist.toMap == seq.toMap)
  }

  test("nocrash distributed == sequential oracle") {
    val (dist, seq) = runBoth(NoCrash, books ++ edge)
    assert(dist.toMap == seq.toMap)
    // reduce output: sorted, space-joined values per key, 4 keys a..d
    assert(dist.map(_._1).sorted == Seq("a", "b", "c", "d"))
  }

  /** A key by code point, safe for the test reporter's encoder. */
  private def cps(s: String): String =
    s.codePoints.toArray.map(c => f"U+$c%04X").mkString(" ")

  /** Go's string `<`, computed here without the code under test. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** Checks that every mr-out file in `out` holds its keys in strictly
    * increasing byte order and only keys of its FNV-1a shard; returns the
    * keys of each file by shard. */
  private def checkLayout(out: String, nReduce: Int): Map[Int, Seq[String]] = {
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("mr-out-"))
    assert(files.nonEmpty)
    files.map { f =>
      val shard = f.getName.stripPrefix("mr-out-").toInt
      val keys = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(_.split(" ")(0)).toSeq
      keys.zip(keys.drop(1)).foreach { case (a, b) =>
        assert(utf8Lt(a, b),
          s"${f.getName} not sorted: ${cps(a)} before ${cps(b)}")
      }
      keys.foreach { k =>
        assert(graft.functions.Fnv1a.hash(k) % nReduce == shard,
          s"key ${cps(k)} in wrong shard ${f.getName}")
      }
      shard -> keys
    }.toMap
  }

  test("each mr-out file is sorted by key and holds only its FNV shard") {
    val out = TestSpark.tmpDir("mr-wc-layout")
    MapReduce.run(spark, books, WordCount, 10, out)
    checkLayout(out, 10)
  }

  test("mr-out files are in UTF-8 byte order where UTF-16 order differs") {
    // Fullwidth letters (U+FF21..U+FF5A, 3 UTF-8 bytes from 0xEF) sort
    // AFTER surrogate pairs (0xD800..) in UTF-16 but BEFORE the 4-byte
    // supplementary letters (from 0xF0) in UTF-8.
    def str(points: Int*) = new String(points.toArray, 0, points.length)
    val fullwidth = (0xff21 to 0xff5a).filter(Character.isLetter)
    val supplementary = (0x10000 to 0x1000b) ++ (0x20000 to 0x2000b)
    assert(supplementary.forall(Character.isLetter))
    val ascii = Seq("a", "m", "z")
    val words = fullwidth.map(str(_)) ++ supplementary.map(str(_)) ++ ascii ++
      (for (a <- ascii; f <- fullwidth.take(6); s <- supplementary.take(6))
        yield Seq(a + str(f), a + str(s), str(f, s), str(s, f))).flatten
    // Word i occurs 1 + i % 4 times, spread over two files.
    val tally = words.distinct.zipWithIndex.map { case (w, i) => w -> (1 + i % 4) }
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("mr-utf8-in"))
    val inputs = Seq(0, 1).map { part =>
      val body = tally.flatMap { case (w, n) => Seq.fill(n)(w) }
        .zipWithIndex.collect { case (w, i) if i % 2 == part => w }
      val f = dir.resolve(s"part-$part.txt")
      java.nio.file.Files.write(f, body.mkString(" ", "\n", "\n").getBytes(UTF_8))
      f.toString
    }
    val out = TestSpark.tmpDir("mr-utf8-out")
    val nReduce = 3
    MapReduce.run(spark, inputs, WordCount, nReduce, out)
    val byShard = checkLayout(out, nReduce)
    // The corpus must really force the two orders apart inside a shard.
    assert(byShard.values.exists { keys =>
      keys.zip(keys.drop(1)).exists { case (a, b) => a.compareTo(b) > 0 }
    }, "no shard orders a pair differently in UTF-16 and UTF-8")
    val got = MapReduce.readOutput(out)
    assert(got.size == tally.size) // no key in two shards or twice in one
    assert(got.toMap == tally.map { case (w, n) => w -> n.toString }.toMap)
  }

  test("empty input file contributes nothing; empty shards produce no file") {
    val out = TestSpark.tmpDir("mr-empty")
    // Single tiny file with 2 distinct words -> at most 2 of 10 shards
    MapReduce.run(spark, Seq(TestSpark.resource("books/repeat.txt")),
      WordCount, 10, out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("mr-out-"))
    val distinctWords = 5 // echo delta alpha beta gamma
    assert(files.length <= distinctWords)
    val all = MapReduce.readOutput(out).toMap
    assert(all("echo") == "10")
    assert(all("gamma") == "2")
  }

  test("crash app recovers via task retry and matches nocrash golden") {
    val inputs = books
    val golden = TestSpark.tmpDir("mr-golden")
    MapReduce.runSequential(inputs, NoCrash, golden)
    val out = TestSpark.tmpDir("mr-crash")
    MapReduce.run(spark, inputs, FaultInjected(NoCrash, crashProb = 0.6),
      10, out)
    assert(MapReduce.readOutput(out).toMap ==
      MapReduce.readOutput(golden).toMap)
  }

  test("unicode tokenization: digits/punct separate, letters kept") {
    val words = WordCount.tokenize("one1two22three333 naïve-café 日本語!")
    assert(words == Seq("one", "two", "three", "naïve", "café", "日本語"))
  }
}
