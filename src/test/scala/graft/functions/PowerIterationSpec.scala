package graft.functions

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q204/q209's one-task power iteration must reproduce, bit for bit,
  * the relational superstep formulation it replaced (G·v as a d²-row
  * join + per-row `sum`, a one-row `round(sqrt(sum(w*w)), 9)` norm,
  * `round(w / nrm, 9)`) — the DuckDB oracle restates that formulation,
  * and q209's re-ranking reads the loadings unrounded.
  */
class PowerIterationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = 64

  private def bits(x: Double) = java.lang.Double.doubleToLongBits(x)

  test("round matches Spark's round on halfway and random doubles") {
    val rnd = new scala.util.Random(204)
    val xs = Seq(0.0000000005, -0.0000000015, 0.00000000025,
      0.1234567895, -1.2345678905, 2.5e-10, 123456.0000000005,
      1e-20, 0.9999999995, Double.NaN, Double.PositiveInfinity) ++
      Seq.fill(300)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8) - 4))
    val df = spark.createDataFrame(xs.zipWithIndex)
      .toDF("x", "k")
      .select(col("k"), col("x"), round(col("x"), 9).as("r9"),
        round(col("x"), 6).as("r6"))
    df.collect().foreach { r =>
      val x = r.getDouble(1)
      assert(bits(PowerIteration.round(x, 9)) == bits(r.getDouble(2)), s"r9($x)")
      assert(bits(PowerIteration.round(x, 6)) == bits(r.getDouble(3)), s"r6($x)")
    }
  }

  test("one-task step == checkpointed superstep chain, bit for bit") {
    // a covariance-like PSD matrix with round-9 cells: G = AᵀA / n - c
    val rnd = new scala.util.Random(209)
    val a = Array.fill(40, d)(rnd.nextGaussian())
    val cells = for (i <- 0 until d; j <- 0 until d) yield
      (i, j, PowerIteration.round(
        a.map(r => r(i) * r(j)).sum / a.length - 0.01, 9))
    // several partitions, shuffled: partial buffers must merge exactly
    val gram = spark.createDataFrame(rnd.shuffle(cells))
      .toDF("i", "j", "g").repartition(5).localCheckpoint()

    val top = gram.agg(PowerIteration.udaf(d, 3)(col("i"), col("j"), col("g"))
        .as("pc"))
      .select(col("pc.v"), col("pc.lambda_r")).head()

    def mult(v: DataFrame) =
      gram.join(v.select(col("i").as("j"), col("v")), "j")
        .groupBy(col("i")).agg(sum(col("g") * col("v")).as("w"))
    def normalize(w: DataFrame) = {
      val nrm = w.agg(round(sqrt(sum(col("w") * col("w"))), 9).as("nrm"))
      w.crossJoin(broadcast(nrm))
        .select(col("i"), round(col("w") / col("nrm"), 9).as("v"))
        .localCheckpoint()
    }
    val v0 = spark.range(0, d)
      .select(col("id").cast("int").as("i"), lit(0.125).as("v"))
    val v3 = normalize(mult(normalize(mult(normalize(mult(v0))))))
    val lam = mult(v3).join(v3, "i")
      .agg(round(sum(col("w") * col("v")), 6)).head().getDouble(0)
    val ref = v3.orderBy("i").collect().map(_.getDouble(1))

    val got = top.getSeq[Double](0)
    assert(got.length == d)
    got.zip(ref).zipWithIndex.foreach { case ((x, y), i) =>
      assert(bits(x) == bits(y), s"dim $i: $x vs $y")
    }
    assert(bits(top.getDouble(1)) == bits(lam),
      s"λ ${top.getDouble(1)} vs $lam")
  }
}
