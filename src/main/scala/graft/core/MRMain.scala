package graft.core

/** CLI entry point mirroring the reference's runners
  * (`/root/reference/main/mrsequential.go`, `main/mrmaster.go` +
  * `main/mrworker.go` collapse to one Spark driver — SURVEY.md §3.2):
  *
  * {{{
  * sbt "runMain graft.core.MRMain <app> <outDir> <input...> [--seq] [--nreduce=N]"
  * }}}
  *
  * `<app>` is a registry name (wc | indexer | nocrash) replacing the
  * reference's `.so` plugin argument. `--seq` runs the single-process
  * sequential oracle (mr-out-0); default is the distributed engine
  * (mr-out-0..nReduce-1, nReduce defaults to 10 like mrmaster.go:23).
  * Any other flag, `--nreduce N` included, is rejected with the usage
  * message before a session starts.
  */
object MRMain {
  private val usage =
    "usage: MRMain <app> <outDir> <input...> [--seq] [--nreduce=N]"

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    flags.find(f => f != "--seq" && !f.startsWith("--nreduce="))
      .foreach(f => throw new IllegalArgumentException(
        s"unknown flag $f; $usage"))
    require(pos.length >= 3, usage)
    val app = MRApp.byName(pos(0))
    val outDir = pos(1)
    // expand filename *-globs on LOCAL paths: sbt's runner passes them
    // through unexpanded, and while Spark's reader globs natively, the
    // sequential oracle reads files directly — the documented
    // `books/*.txt` form must work identically on both paths. Schemed
    // URIs and directory-component wildcards pass through untouched
    // (Hadoop globs those natively on the distributed path; --seq does
    // not support them). A zero-match glob fails loudly — a silently
    // empty input would produce a success-looking empty oracle output.
    val inputs = pos.drop(2).toSeq.flatMap { in =>
      val schemed = in.contains("://")
      val p = java.nio.file.Paths.get(if (schemed) "x" else in)
      val nameGlob = !schemed && p.getFileName.toString.contains("*")
      val dirGlob = !schemed &&
        Option(p.getParent).exists(_.toString.contains("*"))
      if (!nameGlob || dirGlob) Seq(in)
      else {
        val dir = Option(p.getParent)
          .getOrElse(java.nio.file.Paths.get("."))
        val m = java.nio.file.FileSystems.getDefault
          .getPathMatcher(s"glob:${p.getFileName}")
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(dir)
        val matched =
          try s.filter(f => m.matches(f.getFileName) &&
              java.nio.file.Files.isRegularFile(f))
            .sorted().iterator().asScala.map(_.toString).toSeq
          finally s.close()
        require(matched.nonEmpty, s"glob matched no files: $in")
        matched
      }
    }
    val seq = flags.contains("--seq")
    val nReduce = flags.collectFirst {
      case f if f.startsWith("--nreduce=") => f.stripPrefix("--nreduce=").toInt
    }.getOrElse(MapReduce.DefaultNReduce)

    if (seq) {
      MapReduce.runSequential(inputs, app, outDir)
      println(s"wrote ${outDir}/mr-out-0")
    } else {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      val spark = graft.Sessions.local("graft-mr", cpus)
      val n = MapReduce.run(spark, inputs, app, nReduce, outDir)
      println(s"wrote $n mr-out files to $outDir")
      spark.stop()
    }
  }
}
