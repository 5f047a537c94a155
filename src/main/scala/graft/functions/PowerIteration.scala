package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Top eigenpair of a small dense symmetric matrix by a fixed number of
  * power-iteration steps, as ONE typed Aggregator over its `(i, j, g)`
  * cells.
  *
  * The matrix is d×d with d bounded by definition (q204's covariance is
  * 64×64 = 4,096 cells at any corpus size), so the whole loop fits in
  * one task: the buffer assembles the cells by index into a dense
  * row-major array (order of arrival cannot matter — every cell lands
  * in its own slot), and [[finish]] runs the iteration locally. A
  * superstep-per-relational-step formulation pays one checkpoint
  * barrier, and its Spark jobs, per step for 4,096 multiply-adds.
  *
  * Arithmetic contract (restated by the q204/q209 DuckDB oracle):
  *  - v0 = 1/√d in every slot (0.125 at d = 64: exact in binary);
  *  - per step: w_i = Σ_j g_ij·v_j, nrm = round9(√Σ_i w_i²),
  *    v_i = round9(w_i / nrm);
  *  - λ = round6(Σ_i (G·v)_i·v_i) on the final v.
  * Every sum runs in ascending index order from 0.0; rounding is Spark
  * `round`'s HALF_UP on the double's decimal form ([[round]]). Both
  * engines therefore walk the same quantized trajectory: any summation
  * order slack (~1e-16) is absorbed by the round-9 re-quantization.
  */
final class PowerIteration(d: Int, steps: Int) extends Aggregator[
    (Int, Int, Double), Array[Double], PowerIteration.Top] {
  import PowerIteration.{Top, round}

  def zero: Array[Double] = new Array[Double](d * d)
  def reduce(b: Array[Double], c: (Int, Int, Double)): Array[Double] = {
    b(c._1 * d + c._2) = c._3; b
  }
  // partial buffers hold disjoint cells (zeros elsewhere): x + 0.0 == x
  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    a.indices.foreach(k => a(k) += b(k)); a
  }

  /** G·v with each row's sum in ascending column order. */
  private def mult(g: Array[Double], v: Array[Double]): Array[Double] =
    Array.tabulate(d)(i =>
      (0 until d).foldLeft(0.0)((s, j) => s + g(i * d + j) * v(j)))

  def finish(g: Array[Double]): Top = {
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    for (_ <- 1 to steps) {
      val w = mult(g, v)
      val nrm = round(math.sqrt(w.foldLeft(0.0)((s, x) => s + x * x)), 9)
      v = w.map(x => round(x / nrm, 9))
    }
    val gv = mult(g, v)
    val lam = gv.indices.foldLeft(0.0)((s, i) => s + gv(i) * v(i))
    Top(v.toSeq, round(lam, 6))
  }

  // kryo: the buffer is shuffle-transient, never stored columnar
  def bufferEncoder: Encoder[Array[Double]] = Encoders.kryo[Array[Double]]
  def outputEncoder: Encoder[Top] = Encoders.product[Top]
}

object PowerIteration {
  /** The eigenvector (index = dimension) and its round-6 Rayleigh
    * quotient. */
  case class Top(v: Seq[Double], lambda_r: Double)

  /** Spark `round(x, scale)` on a double: HALF_UP on the double's
    * shortest decimal form (`BigDecimal.valueOf`), NaN/±∞ unchanged. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** As an untyped aggregate over three columns `(i, j, g)`. */
  def udaf(d: Int, steps: Int) =
    org.apache.spark.sql.functions.udaf(new PowerIteration(d, steps),
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaDouble))
}
