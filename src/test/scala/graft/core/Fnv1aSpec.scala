package graft.core

import graft.TestSpark
import graft.functions.Fnv1a
import org.apache.spark.HashPartitioner
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import java.nio.charset.StandardCharsets.UTF_8

class Fnv1aSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("known FNV-1a 32 values (masked to non-negative, like worker.go:38-42)") {
    // Computed independently from the FNV-1a definition.
    assert(Fnv1a.hash("") == 18652613)
    assert(Fnv1a.hash("a") == 1678518572)
    assert(Fnv1a.hash("abc") == 440920331)
    assert(Fnv1a.hash("hello world") == 1435189159)
    assert(Fnv1a.hash("naïve") == 429525035)
    assert(Fnv1a.hash("日本語") == 6249703)
  }

  test("hash is non-negative and partitioner stays in range") {
    // MapReduce.run shuffles a block to shard fnv1a(k) % n through
    // HashPartitioner(n), which must be the identity on those indexes.
    check(Prop.forAll { (s: String, n0: Int) =>
      val n = math.abs(n0 % 64) + 1
      val h = Fnv1a.hash(s)
      h >= 0 && new HashPartitioner(n).getPartition(h % n) == h % n
    })
  }

  test("property: engine(wc) == oracle(wc) on random inputs") {
    check(Prop.forAll(org.scalacheck.Gen.listOfN(30,
      org.scalacheck.Gen.alphaNumStr)) { words =>
      val text = words.mkString(" ")
      val counted = WordCountOracle.count(text)
      val viaApp = graft.apps.WordCount.map("f", text)
        .groupBy(_.key).map { case (k, kvs) =>
          k -> graft.apps.WordCount.reduce(k, kvs.map(_.value))
        }
      viaApp == counted
    })
  }

  test("catalyst expression fnv1a(col) == scala Fnv1a.hash") {
    val spark = TestSpark.spark
    import spark.implicits._
    val samples = Seq("", "a", "abc", "hello world", "naïve", "日本語",
      "xyzzy", "the", "straße")
    val df = samples.toDF("s")
      .select(org.apache.spark.sql.functions.col("s"),
        Fnv1a.fnv1a(org.apache.spark.sql.functions.col("s")).as("h"))
    val got = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    samples.foreach(s => assert(got(s) == Fnv1a.hash(s), s))
  }

  // Independent trivial word counter used as the ScalaCheck oracle.
  private object WordCountOracle {
    def count(text: String): Map[String, String] =
      text.split("[^\\p{L}]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toString }
  }

  test("byte ordering matches Go string compare on multi-byte runes") {
    // UTF-16 would order ａ (fullwidth a, 3 UTF-8 bytes) before
    // 𐀀 (U+10000, 4 bytes); byte-wise both start 0xEF vs 0xF0.
    assert(ByteOrdering.compare("ａ", new String(Character.toChars(0x10000))) < 0)
    assert(ByteOrdering.compare("abc", "abd") < 0)
    assert(ByteOrdering.compare("ab", "abc") < 0)
    assert(ByteOrdering.compare("b", "aa") > 0)
  }

  // One code point (or one lone surrogate) from a script class whose
  // UTF-16 and UTF-8 orders agree (ASCII, Latin-1, Greek, CJK) or may
  // not (U+E000-U+FFFF against supplementary pairs and lone surrogates).
  private val piece: Gen[String] = Gen.oneOf(
    Gen.choose(0x20, 0x7e), Gen.choose(0xa0, 0xff),
    Gen.choose(0x391, 0x3c9), Gen.choose(0x4e00, 0x9fff),
    Gen.choose(0xe000, 0xffff), Gen.choose(0x10000, 0x10ffff),
    Gen.choose(0xd800, 0xdbff), Gen.choose(0xdc00, 0xdfff)
  ).map(cp => new String(Character.toChars(cp)))

  private val text: Gen[String] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, piece)).map(_.mkString)

  // Two strings that share a prefix, which ends in a high surrogate
  // about a third of the time, so a suffix opening with a low surrogate
  // completes a pair on one side only.
  private val pair: Gen[(String, String)] = for {
    p0 <- text
    high <- Gen.frequency(2 -> Gen.const(""),
      1 -> Gen.choose(0xd800, 0xdbff).map(_.toChar.toString))
    a <- text
    b <- text
  } yield (p0 + high + a, p0 + high + b)

  test("property: hash == hashBytes of the UTF-8 bytes") {
    // `a` may end in a lone high surrogate, which `a + b` may complete.
    val p = Prop.forAll(pair) { case (a, b) =>
      Prop.all(Seq(a, a + b).map { s =>
        (Fnv1a.hash(s) == Fnv1a.hashBytes(s.getBytes(UTF_8))) :| units(s)
      }: _*)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5000), p)
    assert(res.passed, failure(res))
  }

  test("property: byte ordering == unsigned compare of the UTF-8 bytes") {
    val p = Prop.forAll(pair) { case (a, b) =>
      (Integer.signum(ByteOrdering.compare(a, b)) ==
        Integer.signum(java.util.Arrays.compareUnsigned(
          a.getBytes(UTF_8), b.getBytes(UTF_8)))) :| s"${units(a)} ${units(b)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5000), p)
    assert(res.passed, failure(res))
  }

  // Labels name the strings by UTF-16 unit, which reads better than the
  // raw text when it holds lone surrogates.
  private def units(s: String) =
    s.map(c => f"${c.toInt}%04x").mkString("[", " ", "]")

  private def failure(res: SCTest.Result): String = res.status match {
    case SCTest.Failed(_, labels) => labels.mkString("; ")
    case other => other.getClass.getSimpleName
  }
}
