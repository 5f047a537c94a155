package graft

/** Dump `.explain("formatted")` for the given queries (every query when
  * none is named) to files — the per-round plan-evidence artifact
  * (plans/r{N}/<q>_{before,after}.txt). A before/after pair comes from
  * two commits: run the dump once on each with its own suffix.
  *
  * A change that lives INSIDE a checkpointed sub-plan is invisible to
  * the production dump (the ckpt renders as Scan ExistingRDD — the r15
  * verdict's evidence gap); pass suffix `full_before`/`full_after` to
  * dump with checkpoints DISABLED (Ckpt.disabled, the audit-spec flag)
  * so the sub-plan shapes are directly visible. Nothing executes in
  * that mode.
  *
  * usage: runMain graft.PlanDump <outDir> <suffix> <sfDir> [q...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, sfDir) = args.take(3)
    val named = args.drop(3).toSeq
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.localSized("graft-plandump", "32", sfDir)
    if (suffix.startsWith("full_")) Ckpt.disabled = true
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"[plandump] $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
