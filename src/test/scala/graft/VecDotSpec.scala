package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VecDot
import graft.pipeline.Similarity

/** The native VecDot expression must be bit-identical to the
  * aggregate(zip_with(...)) fold it replaced — same index order, same
  * widening — in both codegen and interpreted (fallback) evaluation.
  */
class VecDotSpec extends AnyFunSuite with TestSession {

  private def fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    (0 until 64).map { i =>
      (i.toLong,
       Seq.fill(16)(rnd.nextGaussian().toFloat),
       Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("id", "a", "b")
  }

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("float arrays: bit-identical to the HOF fold, codegen and interpreted") {
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val rows = fixture.select(
        VecDot(col("a"), col("b")).as("native"),
        hofDot(col("a"), col("b")).as("hof")).collect()
      rows.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
               java.lang.Double.doubleToLongBits(r.getDouble(1)), codegen)
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("long arrays stay in exact long arithmetic; mixed float/double widens") {
    val r = fixture.select(
      VecDot(Similarity.quantize(col("a")), Similarity.quantize(col("b"))).as("ql"),
      VecDot(col("a"), lit(Array.fill(16)(0.5))).as("mixed")).collect()
    assert(r.forall(_.get(0).isInstanceOf[Long]))
    assert(r.forall(_.get(1).isInstanceOf[Double]))
    // null array -> null result (BinaryExpression null-safety)
    val n = fixture.select(VecDot(lit(null).cast("array<float>"), col("b"))).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("similarity paths stay inside whole-stage codegen") {
    // repartition so the projection runs in an executor stage rather than
    // being folded into a LocalTableScan at plan time
    val df = fixture.repartition(2)
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    df.collect() // materialize so AQE's final plan (with codegen spans) exists
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd stages render as "*(n) Project" in AQE's final plan — a
    // CodegenFallback expression would strip the star from its stage
    assert(plan.contains("*(1) Project"), plan)
  }
}
