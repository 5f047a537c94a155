package graft.core

import graft.TestSpark
import graft.apps.{FaultInjected, Indexer, NoCrash, WordCount}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.Encoders
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

  test("Dataset form == sequential oracle (wc, indexer, nocrash; books + edge)") {
    val inputs = books ++ edge
    val docs = spark.createDataset(inputs.map { f =>
      (f, new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), UTF_8))
    })(Encoders.tuple(Encoders.STRING, Encoders.STRING))
    Seq(WordCount, Indexer, NoCrash).foreach { app =>
      val sOut = TestSpark.tmpDir(s"mr-${app.name}-ds-seq")
      MapReduce.runSequential(inputs, app, sOut)
      val got = MapReduce.dataset(docs, app).collect().toSeq
      assert(got.sorted == MapReduce.readOutput(sOut).sorted, app.name)
    }
  }

  test("run rejects a non-positive nReduce") {
    Seq(0, -1).foreach { n =>
      val e = intercept[IllegalArgumentException] {
        MapReduce.run(spark, books, WordCount, n, TestSpark.tmpDir("mr-n"))
      }
      assert(e.getMessage.contains("nReduce"), e.getMessage)
    }
  }

  test("MRMain rejects flags other than --seq and --nreduce=N") {
    val in = TestSpark.resource("books/repeat.txt")
    Seq(Seq("--nreduce", "5"), Seq("--bogus")).foreach { flags =>
      val out = TestSpark.tmpDir("mr-main-flags")
      val e = intercept[IllegalArgumentException] {
        MRMain.main((Seq("wc", out, in) ++ flags).toArray)
      }
      assert(e.getMessage.contains("usage: MRMain"), e.getMessage)
      assert(new java.io.File(out).list().isEmpty)
    }
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

  /** Emits what a packed shuffle block must carry intact: keys and values
    * with lone surrogates (next to a surrogate pair), empty keys and
    * values, a value over 64 KiB and long runs of equal values broken by
    * other values. Some keys occur in every file, so several map tasks
    * pack them. Reduce reports each distinct value by length, UTF-16 hash
    * and multiplicity, so a value that changes in transit changes the
    * output even where the sink encodes it as `?`. */
  private object EdgeValues extends MRApp {
    val name = "edge-values"
    private val hi = "\uD800"
    private val lo = "\uDC00"
    private val smile = "\uD83D\uDE00"
    def map(file: String, contents: String): Seq[KV] = {
      val f = new java.io.File(file).getName.stripSuffix(".txt")
      val n = contents.length
      Seq(KV("hi" + hi, "lo" + lo), KV(lo + "z", hi), KV(smile, smile + lo),
        KV("", ""), KV("", f), KV(f, ""), KV(f + hi, lo + f),
        KV("big", "x" * 70000 + hi + f)) ++
        Seq.fill(3000 + n)(KV("run", "same")) ++
        Seq(KV("run", "other"), KV("run", "")) ++
        Seq.fill(2000)(KV("run", "same")) ++
        Seq.tabulate(500)(i => KV(s"alt$f", if (i % 3 == 2) "b" else "a"))
    }
    def reduce(key: String, values: Seq[String]): String =
      values.groupBy(identity).toSeq
        .map { case (v, vs) => s"${v.length}.${v.hashCode}x${vs.size}" }
        .sorted.mkString(s"${values.size} ", ",", "")
  }

  test("packed shuffle carries surrogates, empty and 64 KiB values, runs") {
    val dOut = TestSpark.tmpDir("mr-edge-values-dist")
    MapReduce.run(spark, books, EdgeValues, 3, dOut)
    checkLayout(dOut, 3)
    val sOut = TestSpark.tmpDir("mr-edge-values-seq")
    MapReduce.runSequential(books, EdgeValues, sOut)
    val (dist, seq) = (MapReduce.readOutput(dOut), MapReduce.readOutput(sOut))
    assert(dist.size == seq.size)
    assert(dist.toMap == seq.toMap)
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

  test("property: code-point tokenizer == regex split on non-letters") {
    // ASCII, Latin-1, CJK and supplementary letters; combining marks
    // (Mn, not letters), digits, punctuation, spaces and lone surrogates.
    val piece: Gen[String] = Gen.oneOf(
      Gen.choose(0x61, 0x7a), Gen.choose(0xc0, 0xff),
      Gen.choose(0x4e00, 0x9fff), Gen.choose(0x20000, 0x2a6df),
      Gen.choose(0x300, 0x36f), Gen.choose(0x30, 0x39),
      Gen.oneOf(0x20, 0x21, 0x2c, 0x2d, 0x2e, 0x3b, 0x5f, 0x0a),
      Gen.choose(0xd800, 0xdfff)
    ).map(cp => new String(Character.toChars(cp)))
    val text = Gen.choose(0, 24).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    val p = Prop.forAll(text) { s =>
      (WordCount.tokenize(s) ==
        s.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)) :| cps(s)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5000), p)
    assert(res.passed, res.status match {
      case SCTest.Failed(_, labels) => labels.mkString("; ")
      case other => other.getClass.getSimpleName
    })
  }
}
