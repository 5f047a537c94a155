package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.Partitioner
import org.apache.spark.sql.SparkSession

/** Byte-wise string ordering matching Go's `<` on strings
  * (`/root/reference/mr/worker.go:28-32` sorts on UTF-8 bytes; Scala's
  * default String ordering compares UTF-16 code units, which diverges for
  * supplementary-plane characters).
  */
object ByteOrdering extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
}

/** Exact-fidelity partitioner: shard = fnv1a32(key) & 0x7fffffff % nReduce
  * (`/root/reference/mr/worker.go:131-132`). Partition index == shard
  * index, which plain `repartition(n, col)` does NOT guarantee (it murmurs
  * the column again).
  */
final class Fnv1aPartitioner(val numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int =
    graft.functions.Fnv1a.hash(key.asInstanceOf[String]) % numPartitions
  override def equals(o: Any): Boolean = o match {
    case p: Fnv1aPartitioner => p.numPartitions == numPartitions
    case _ => false
  }
  override def hashCode: Int = numPartitions
}

/** The reference's 5-stage dataflow (SURVEY.md §1.1) on Spark:
  *
  * {{{
  * files → Map(filename, contents) → [(k,v)]       wholeTextFiles + flatMap
  *       → fnv1a(k) % nReduce shards               partitionBy(Fnv1aPartitioner)
  *       → per-shard sort by k, group runs         in-partition sort + run scan
  *       → Reduce(k, [v…])                         holistic UDAF per key
  *       → "k v\n" lines in mr-out-<shard>         per-partition text sink
  * }}}
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

  /** Distributed run: writes `mr-out-<p>` for each non-empty shard into
    * `outDir` (empty shards produce no file — master.go:256-259 elides
    * them too). Returns the number of output files written.
    */
  def run(
      spark: SparkSession,
      inputs: Seq[String],
      app: MRApp,
      nReduce: Int = 10,
      outDir: String): Int = {
    require(inputs.nonEmpty, "no input files")
    val sc = spark.sparkContext
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      sc.hadoopConfiguration)
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
    val pairs = mapStage(spark, inputs, app)

    val written = pairs
      .partitionBy(new Fnv1aPartitioner(nReduce))
      .mapPartitionsWithIndex { (pid, it) =>
        val lines = reducePartition(app, it)
        if (lines.isEmpty) Iterator.empty
        else {
          // Write mr-out-<pid> like worker.go:182-199, via temp + rename so
          // task retries/speculation commit atomically (the reference gets
          // this from the master's first-finish-wins dedup, master.go:214-217).
          val dir = new Path(out)
          val fs = dir.getFileSystem(hadoopConf.value)
          fs.mkdirs(dir)
          val tmp = new Path(dir,
            s".mr-out-$pid.${java.util.UUID.randomUUID()}.tmp")
          val os = fs.create(tmp, true)
          try os.write(lines.mkString.getBytes(UTF_8)) finally os.close()
          val dst = new Path(dir, s"mr-out-$pid")
          if (fs.exists(dst)) fs.delete(dst, false)
          fs.rename(tmp, dst)
          Iterator.single(pid)
        }
      }
      .collect()
    written.length
  }

  /** Sequential golden oracle mirroring mrsequential.go:25-87: single
    * global sort, single `mr-out-0`. Pure local Scala — no Spark — so
    * engine tests compare a genuinely independent implementation.
    */
  def runSequential(inputs: Seq[String], app: MRApp, outDir: String): Unit = {
    val inter = inputs.flatMap { f =>
      val contents = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), UTF_8)
      app.map(f, contents)
    }
    val lines = reducePartition(app, inter.iterator.map(kv => (kv.key, kv.value)))
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("mr-out-0"),
      lines.mkString.getBytes(UTF_8))
  }

  /** Sort a shard by key (byte-wise, unstable is fine — per-key value
    * order is unspecified, SURVEY.md §1.4), scan runs of equal keys, apply
    * the holistic reduce, format `"%v %v\n"` (worker.go:181-201).
    */
  private def reducePartition(
      app: MRApp, it: Iterator[(String, String)]): Seq[String] = {
    val data = it.toArray
    if (data.isEmpty) return Nil
    scala.util.Sorting.stableSort(data,
      (a: (String, String), b: (String, String)) =>
        ByteOrdering.compare(a._1, b._1) < 0)
    val outLines = Seq.newBuilder[String]
    var i = 0
    while (i < data.length) {
      var j = i + 1
      while (j < data.length && data(j)._1 == data(i)._1) j += 1
      val values = java.util.Arrays.copyOfRange(data, i, j).map(_._2).toSeq
      outLines += s"${data(i)._1} ${app.reduce(data(i)._1, values)}\n"
      i = j
    }
    outLines.result()
  }

  /** Shared scan+map stage, Map called with the caller's ORIGINAL path
    * string — the reference hands Map the CLI argument verbatim
    * (mrsequential.go:49), while wholeTextFiles absolutizes, so resolved
    * paths are mapped back. Used by both the exact-layout runner and the
    * Catalyst-planned MRAggregators.runDataset.
    *
    * Task granularity differs from the reference's one map task per
    * input file (master.go:289-296): `inputs.size` is only a minimum
    * split hint, and wholeTextFiles packs small files into shared
    * splits, so a map task covers a split of ONE OR MORE whole files
    * (24 small files give 16-17 map tasks). A file is never divided,
    * but a task retry re-runs Map over every file in its split.
    */
  def mapStage(
      spark: SparkSession,
      inputs: Seq[String],
      app: MRApp): org.apache.spark.rdd.RDD[(String, String)] = {
    val nameMap = inputs
      .map(i => new java.io.File(i).getAbsolutePath -> i).toMap
    spark.sparkContext
      .wholeTextFiles(inputs.mkString(","), inputs.size)
      .flatMap { case (uri, contents) =>
        val p = normalizePath(uri)
        app.map(nameMap.getOrElse(p, p), contents)
          .map(kv => (kv.key, kv.value))
      }
  }

  /** wholeTextFiles yields `file:/abs/path`; the reference passes the CLI
    * arg through untouched. Normalize to a plain filesystem path so app
    * output (indexer doc lists, crash filenames) matches the oracle.
    */
  def normalizePath(uri: String): String = {
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
