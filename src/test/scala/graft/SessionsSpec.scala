package graft

import org.scalatest.funsuite.AnyFunSuite

/** The executor-sizing guardrail from the r12 100×-probe OOM finding:
  * shuffle partitions derive from the input's on-disk size instead of
  * being a purely manual knob. Pure arithmetic + a real directory
  * measurement — no extra SparkSession is spun up here.
  */
class SessionsSpec extends AnyFunSuite {

  test("partitionsFor holds bytes-per-task constant as data grows") {
    val mib = 1L << 20
    // below one task width: the core count is the floor
    assert(Sessions.partitionsFor(0L, 32) == 32)
    assert(Sessions.partitionsFor(18 * mib, 32) == 32) // ~sf0.1
    // the r12 100× probe shape (~1.8 GB on disk): the derived count
    // is the one whose absence produced AGGREGATE_OUT_OF_MEMORY
    val x100 = Sessions.partitionsFor(1800 * mib, 32)
    assert(x100 > 32 && x100 == math.ceil(1800.0 / 16).toInt)
    // ceil semantics: one byte over a boundary adds a partition
    assert(Sessions.partitionsFor(16 * mib, 4) == 4)
    assert(Sessions.partitionsFor(16 * mib * 10 + 1, 4) == 11)
    // 10× the data at fixed target → ~10× the partitions (linear)
    val p1 = Sessions.partitionsFor(320 * mib, 1)
    val p10 = Sessions.partitionsFor(3200 * mib, 1)
    assert(p10 == 10 * p1)
  }

  test("coresOf parses local master specs without throwing on '*'") {
    assert(Sessions.coresOf("8") == 8)
    assert(Sessions.coresOf("4,4") == 4)
    // local[*]'s star (a valid SPARK_GRAFT_CPUS) must size like the
    // host it is, not throw NumberFormatException at session startup
    val hostCores = Runtime.getRuntime.availableProcessors
    assert(Sessions.coresOf("*") == hostCores)
    assert(Sessions.coresOf("*,4") == hostCores)
    // ONLY the literal star gets the host fallback: a typo'd spec must
    // fail fast at startup, not silently size everything to the box
    intercept[IllegalArgumentException](Sessions.coresOf("8x"))
    intercept[IllegalArgumentException](Sessions.coresOf(""))
  }

  test("Bench's cpus field is valid JSON for every SPARK_GRAFT_CPUS form") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("4", "*", "8,4").foreach { spec =>
      val line = s"""{"metric":"total",${Bench.envJson(spec, 4)}}"""
      val node = json.readTree(line) // throws on invalid JSON
      assert(node.get("cpus").isInt, line)
      assert(node.get("cpus").asInt == Sessions.coresOf(spec), line)
      assert(node.get("parallelism").asInt == 4, line)
    }
  }

  test("derivedShufflePartitions measures a real directory") {
    val dir = TestSpark.tmpDir("sessions-sizing")
    val f = new java.io.File(dir, "blob.bin")
    val out = new java.io.FileOutputStream(f)
    out.write(new Array[Byte](3 << 20)) // 3 MiB
    out.close()
    // 3 MiB at a 1 MiB target → 3 partitions, floored by cores
    assert(Sessions.derivedShufflePartitions(dir, 2,
      targetBytesPerTask = 1L << 20) == 3)
    assert(Sessions.derivedShufflePartitions(dir, 8,
      targetBytesPerTask = 1L << 20) == 8)
    // a missing directory degrades to the core floor, never throws
    assert(Sessions.derivedShufflePartitions(
      s"$dir/definitely-missing", 16) == 16)
  }
}
