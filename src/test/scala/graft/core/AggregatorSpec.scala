package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class AggregatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fnv1a registered as a SQL function via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT fnv1a('abc') AS h, fnv1a('') AS e, fnv1a(CAST(NULL AS STRING)) AS n")
      .collect().head
    assert(r.getInt(0) == graft.functions.Fnv1a.hash("abc"))
    assert(r.getInt(1) == graft.functions.Fnv1a.hash(""))
    assert(r.isNullAt(2))
  }

  test("dot_product registered as SQL function; codegen == interpreted") {
    val df = spark.sql(
      """SELECT dot_product(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d,
                dot_product(array(1D), array(2D, 9D)) AS mismatched,
                dot_product(array(1D, CAST(NULL AS DOUBLE)), array(2D, 3D))
                  AS nullelem""")
    val r = df.collect().head
    assert(r.getDouble(0) == 32.0)
    // malformed input → NULL, never a silently-truncated sum
    assert(r.isNullAt(1), "length mismatch must yield NULL")
    assert(r.isNullAt(2), "null element must yield NULL")
    // interpreted path (eval) must agree with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit = (xs: Seq[Double]) => Literal.create(xs,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val e = graft.functions.DotProduct(lit(Seq(1.5, -2.0)), lit(Seq(4.0, 0.25)))
    assert(e.eval(null) == 1.5 * 4.0 + (-2.0) * 0.25)
    val mism = graft.functions.DotProduct(lit(Seq(1.5)), lit(Seq(4.0, 0.25)))
    assert(mism.eval(null) == null)
  }
}
