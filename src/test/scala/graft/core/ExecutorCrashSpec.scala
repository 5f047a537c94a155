package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[graft.apps.ExecutorCrashDemo]] in a child JVM: an executor
  * JVM is halted inside `MapReduce.run`, once mid map stage and once mid
  * reduce stage, on a real local-cluster (process blast radius, matching
  * crash.go's os.Exit), and each run must still write the sequential
  * oracle's output. A child process is required because this JVM
  * already hosts the shared local[4,4] test SparkContext.
  */
class ExecutorCrashSpec extends AnyFunSuite {

  private def inputs: Seq[String] =
    Seq("books/whale.txt", "books/garden.txt", "books/numbers.txt",
      "books/repeat.txt", "edge/empty.txt", "edge/unicode.txt",
      "edge/hotkey.txt").map(graft.TestSpark.resource)

  test("executor JVM kill mid-job recovers to the uncrashed result") {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    // Spark-on-JDK17 module opens for the child driver JVM: build.sbt's
    // own list, handed to this JVM as one property. Passed explicitly
    // rather than copied from this JVM's runtime args: under sbt those
    // flags are not reliably visible via RuntimeMXBean, and a missing
    // java.nio open fails Kryo's HeapByteBuffer registration only once
    // a shuffle runs.
    val addOpens = sys.props.get("graft.jdk17AddOpens")
      .getOrElse(fail("graft.jdk17AddOpens is not set (see build.sbt)"))
      .split(" ").toSeq
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"),
      "graft.apps.ExecutorCrashDemo") ++ inputs
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    // The in-JVM standalone Worker builds executor commands through the
    // launcher, which needs the scala version when SPARK_HOME is a
    // distribution without load-spark-env.sh having run.
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val finished = proc.waitFor()
    assert(finished == 0,
      s"ExecutorCrashDemo exited $finished; last output:\n" +
        out.linesIterator.toSeq.takeRight(40).mkString("\n"))
    assert(out.contains("[executor-crash] map-stage kill recovered"))
    assert(out.contains("[executor-crash] reduce-stage kill recovered"))
    assert(out.contains("[executor-crash] OK"))
  }
}
