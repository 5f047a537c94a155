package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.functions.Fnv1a

/** Byte-wise string ordering matching Go's `<` on strings
  * (`/root/reference/mr/worker.go:28-32` sorts on UTF-8 bytes; Scala's
  * default String ordering compares UTF-16 code units, which diverges for
  * supplementary-plane characters).
  *
  * The result is exactly `Arrays.compareUnsigned` over `getBytes(UTF_8)`,
  * computed without allocating: the strings are compared `charAt` by
  * `charAt`, because for BMP chars that are not surrogates UTF-16 order is
  * code point order, which UTF-8 byte order preserves. When a surrogate
  * sits at the first differing position it falls back to comparing the
  * encoded bytes, so pairs and lone surrogates (encoded as `?`) order as
  * `getBytes` orders them. A shared prefix that ends in a high surrogate
  * needs no check of its own: it encodes differently on the two sides
  * only when a low surrogate follows on one side, which is either a
  * surrogate at the first differing position or, past the end of the
  * shorter string, still orders the shorter string first (`?` = 0x3F
  * sorts before a 4-byte lead byte).
  */
object ByteOrdering extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length - b.length
    else {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (Character.isSurrogate(x) || Character.isSurrogate(y)) bytewise(a, b)
      else x - y
    }
  }

  private def bytewise(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
}

/** The reference's 5-stage dataflow (SURVEY.md §1.1) on Spark:
  *
  * {{{
  * files → Map(filename, contents) → [(k,v)]       wholeTextFiles + per-task
  *                                                 map, grouped by k
  *       → fnv1a(k) % nReduce shards               one packed block per
  *                                                 (map task, shard), shuffled
  *                                                 by shard index
  *       → per-shard group by k, keys in order     blocks decoded into a hash
  *                                                 group + sort of the
  *                                                 distinct keys
  *       → Reduce(k, [v…])                         holistic reduce per key
  *       → "k v\n" lines in mr-out-<shard>         per-partition text sink
  * }}}
  *
  * The shuffle follows the reference's intermediate layout: a map task
  * writes one file per reduce bucket (`mr-X-Y`, worker.go:131-149), and
  * here it writes one record per bucket, a block holding each of its
  * keys once with that key's values (see `packShards`), rather than one
  * shuffle record per pair.
  *
  * `packShards` and `reduceShard` are the only distributed formulation
  * of the engine. `run` drives them over files with an RDD shuffle and
  * the text sink; `dataset` drives the same two functions over a
  * Dataset of `(name, contents)` rows, with the shuffle planned as a
  * Catalyst exchange, for the SQL-facing queries (q42/q43 in
  * `MRQueries`, hash-checked against DuckDB).
  *
  * This compatibility shim intentionally keeps the reference's whole-file
  * input granularity and holistic reduce (one full value list in memory per
  * key — the reference does the same, worker.go:160-181). It is the
  * fidelity layer; the scale layer is the native DataFrame engine in
  * `graft.queries`, where the same applications are declarative queries
  * with partial aggregation (see TextQueries wc/index).
  *
  * Spark supplies every coordination operator in SURVEY.md §2.2 (scheduling,
  * barriers, retries, speculation, liveness, output dedup) natively.
  */
object MapReduce {

  /** The reference's default reduce shard count (mrmaster.go:23). */
  val DefaultNReduce = 10

  /** Distributed run: writes `mr-out-<p>` for each non-empty shard into
    * `outDir` (empty shards produce no file — master.go:256-259 elides
    * them too). Returns the number of output files written.
    */
  def run(
      spark: SparkSession,
      inputs: Seq[String],
      app: MRApp,
      nReduce: Int = DefaultNReduce,
      outDir: String): Int = {
    require(inputs.nonEmpty, "no input files")
    require(nReduce > 0, s"nReduce must be positive, got $nReduce")
    val sc = spark.sparkContext
    val out = outDir
    // Clear stale mr-out-* from a previous run in the same dir — shards
    // that are empty (or out of range) this run would otherwise keep old
    // content and corrupt readOutput / CLI diffs.
    locally {
      val dir = new Path(out)
      val fs = dir.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(dir)) {
        fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.startsWith("mr-out-"))
          .foreach(fs.delete(_, false))
      }
    }
    // Broadcast, so that a reduce task does not deserialize a whole
    // Configuration from its closure.
    val hadoopConf = sc.broadcast(new SerializableConfiguration(
      sc.hadoopConfiguration))
    try {
      val written = files(spark, inputs)
        .mapPartitions(packShards(app, _, nReduce))
        // the identity on shard indexes 0 until nReduce
        .partitionBy(new HashPartitioner(nReduce))
        .mapPartitionsWithIndex { (pid, blocks) =>
          val pairs = reduceShard(app, blocks.map(_._2))
          if (pairs.isEmpty) Iterator.empty
          else {
            // Write mr-out-<pid> like worker.go:182-199, via temp + rename
            // so task retries/speculation commit atomically (the reference
            // gets this from the master's first-finish-wins dedup,
            // master.go:214-217).
            val dir = new Path(out)
            val fs = dir.getFileSystem(hadoopConf.value.value)
            fs.mkdirs(dir)
            val tmp = new Path(dir,
              s".mr-out-$pid.${java.util.UUID.randomUUID()}.tmp")
            val os = fs.create(tmp, true)
            val text = pairs.iterator.map { case (k, v) => s"$k $v\n" }
            try os.write(text.mkString.getBytes(UTF_8)) finally os.close()
            val dst = new Path(dir, s"mr-out-$pid")
            if (fs.exists(dst)) fs.delete(dst, false)
            fs.rename(tmp, dst)
            Iterator.single(pid)
          }
        }
        .collect()
      written.length
    } finally hadoopConf.destroy()
  }

  /** The engine over a Dataset of `(name, contents)` rows, one row per
    * input "file": each partition packs its shards as a map task of
    * `run` does, the blocks are grouped by shard index in a Catalyst
    * exchange, and each shard is reduced by `reduceShard`. Returns the
    * `(key, value)` rows of every shard, each shard's keys in byte order.
    * The shard count is the reference's default, `DefaultNReduce`.
    */
  def dataset(
      docs: Dataset[(String, String)],
      app: MRApp): Dataset[(String, String)] = {
    docs
      .mapPartitions(packShards(app, _, DefaultNReduce))(
        Encoders.tuple(Encoders.scalaInt, Encoders.BINARY))
      .groupByKey(_._1)(Encoders.scalaInt)
      .flatMapGroups((_, blocks) => reduceShard(app, blocks.map(_._2)))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
  }

  /** Sequential golden oracle mirroring mrsequential.go:25-87: one
    * global sort of every pair by key (`sort.Sort(ByKey)`), a scan of the
    * runs of equal keys, single `mr-out-0`. Pure local Scala — no Spark,
    * and none of `run`'s reduce side — so engine tests compare a genuinely
    * independent implementation.
    */
  def runSequential(inputs: Seq[String], app: MRApp, outDir: String): Unit = {
    val inter = inputs.toVector.flatMap { f =>
      val contents = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), UTF_8)
      app.map(f, contents)
    }.sortBy(_.key)(ByteOrdering)
    val out = new StringBuilder
    var i = 0
    while (i < inter.length) {
      val key = inter(i).key
      var j = i + 1
      while (j < inter.length && inter(j).key == key) j += 1
      out ++= s"$key ${app.reduce(key, inter.slice(i, j).map(_.value))}\n"
      i = j
    }
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("mr-out-0"),
      out.result().getBytes(UTF_8))
  }

  /** Map side of one task: apply `app.map` to each of the task's files,
    * group the emitted pairs by key in a hash map (values in emission
    * order, taken from the app's `KV`s) and pack the groups of each
    * reduce shard `fnv1a(key) % nReduce` into one block. Returns
    * `(shard, block)` for each shard that got a key, so a task shuffles
    * at most `nReduce` records, like the reference's `mr-X-Y` files.
    *
    * A block is a sequence of groups, each written with Kryo's
    * `Output`: the key, its value count, then its values, a run of equal
    * consecutive values as the value and the run's length (a word
    * count's values are one run of "1"). Kryo's string codec keeps lone
    * surrogates and has no length limit, unlike `DataOutput.writeUTF`.
    */
  private def packShards(
      app: MRApp,
      files: Iterator[(String, String)],
      nReduce: Int): Iterator[(Int, Array[Byte])] = {
    val groups = new java.util.HashMap[String, ArrayBuffer[String]]()
    files.foreach { case (file, contents) =>
      app.map(file, contents).foreach { kv =>
        groups.computeIfAbsent(kv.key, _ => new ArrayBuffer[String]()) +=
          kv.value
      }
    }
    val blocks = new Array[Output](nReduce)
    groups.forEach { (key, values) =>
      val shard = Fnv1a.hash(key) % nReduce
      if (blocks(shard) == null) blocks(shard) = new Output(4096, -1)
      val block = blocks(shard)
      block.writeString(key)
      block.writeVarInt(values.length, true)
      var i = 0
      while (i < values.length) {
        val v = values(i)
        var j = i + 1
        while (j < values.length && values(j) == v) j += 1
        block.writeString(v)
        block.writeVarInt(j - i, true)
        i = j
      }
    }
    Iterator.range(0, nReduce).collect {
      case shard if blocks(shard) != null => (shard, blocks(shard).toBytes)
    }
  }

  /** Reduce one shard: decode its blocks, one per map task that had keys
    * of this shard, into a hash map from key to values (each block's
    * values in emission order, the blocks in arrival order), sort only
    * the distinct keys byte-wise and apply the holistic reduce once per
    * key in that order, giving the shard's `(key, value)` pairs, which
    * `run` writes as `"%v %v\n"` lines (worker.go:201). The reference
    * sorts every pair (worker.go:181) because its intermediate data lives
    * in files; a Spark reduce task already holds its whole shard in
    * memory, so only the distinct keys need ordering.
    */
  private def reduceShard(
      app: MRApp, blocks: Iterator[Array[Byte]]): Seq[(String, String)] = {
    val groups = new java.util.HashMap[String, ArrayBuffer[String]]()
    blocks.foreach { bytes =>
      val block = new Input(bytes)
      while (block.position < block.limit) {
        val key = block.readString()
        var n = block.readVarInt(true)
        val values = groups.computeIfAbsent(key, _ => new ArrayBuffer[String]())
        values.sizeHint(values.length + n)
        while (n > 0) {
          val v = block.readString()
          val run = block.readVarInt(true)
          var r = 0
          while (r < run) { values += v; r += 1 }
          n -= run
        }
      }
    }
    val keys = groups.keySet.toArray(new Array[String](0))
    java.util.Arrays.sort(keys, ByteOrdering)
    ArraySeq.unsafeWrapArray(keys).map { k =>
      val values = ArraySeq.unsafeWrapArray(groups.get(k).toArray)
      (k, app.reduce(k, values))
    }
  }

  /** The input files as `(path, contents)` records, one per file, with
    * the path the caller gave: the reference hands Map the CLI argument
    * verbatim (mrsequential.go:49), while wholeTextFiles absolutizes, so
    * resolved paths are mapped back.
    *
    * Task granularity differs from the reference's one map task per
    * input file (master.go:289-296): `inputs.size` is only a minimum
    * split hint, and wholeTextFiles packs small files into shared
    * splits, so a map task covers a split of ONE OR MORE whole files
    * (24 small files give 16-17 map tasks). A file is never divided,
    * but a task retry re-runs Map over every file in its split.
    *
    * NOTE: the packing stays on measurement. One map task per file, as
    * `sc.union(inputs.map(wholeTextFiles(_, 1)))`, took a traced perfbench
    * `mr-apps` pass (24 files, 4 cores) from 1.22 to 2.21 s at seed 5 and
    * from 1.25 to 1.93 s at seed 6: `scheduler.gap_ms` rose from 156 to
    * 908 ms and from 164 to 754 ms, the driver listing each file's RDD on
    * its own, while the map stage itself gained only 0.05-0.13 s.
    */
  private def files(
      spark: SparkSession, inputs: Seq[String]): RDD[(String, String)] = {
    val nameMap = inputs
      .map(i => new java.io.File(i).getAbsolutePath -> i).toMap
    spark.sparkContext
      .wholeTextFiles(inputs.mkString(","), inputs.size)
      .map { case (uri, contents) =>
        val p = normalizePath(uri)
        (nameMap.getOrElse(p, p), contents)
      }
  }

  /** wholeTextFiles yields `file:/abs/path`; the reference passes the CLI
    * arg through untouched. Normalize to a plain filesystem path so app
    * output (indexer doc lists, crash filenames) matches the oracle.
    */
  private def normalizePath(uri: String): String = {
    if (uri.startsWith("file:")) new java.net.URI(uri).getPath else uri
  }

  /** Read back an output directory (all mr-out-* files) as (key, value)
    * pairs for assertions.
    */
  def readOutput(outDir: String): Seq[(String, String)] = {
    val dir = new java.io.File(outDir)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("mr-out-")).sortBy(_.getName)
    files.toSeq.flatMap { f =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f.toPath, UTF_8).asScala.map { line =>
        val sp = line.indexOf(' ')
        (line.substring(0, sp), line.substring(sp + 1))
      }
    }
  }
}
