package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Flat centroid matrix (row-major, `dim` doubles per centroid) with
  * precomputed inverse norms, shipped to executors as ONE torrent
  * broadcast.
  */
final class CentroidMat(val ids: Array[Int], val flat: Array[Double],
                        val invNorm: Array[Double]) extends Serializable

/** Nearest-centroid id by cosine over a broadcast centroid matrix — the IVF
  * assign step (build + Lloyd refinement) as ONE native expression.
  *
  * The Column-level formulation (`array_min(array(struct(1 - cos(v, c_i),
  * i), ...))`) materializes one dot-product subtree per centroid in a
  * single projection: fine at tens of centroids, but centroid count scales
  * with sqrt(corpus) for a balanced IVF index — a 10^9-vector corpus wants
  * ~30k centroids, and a 30k-term expression tree blows past codegen
  * method/constant-pool limits and falls back to interpretation. The
  * generated code here is a fixed-size nested loop: O(1) code size,
  * O(C·dim) runtime, and the plan stays inside whole-stage codegen at any
  * centroid count.
  *
  * The matrix itself rides as a REAL Spark broadcast, not a plan-embedded
  * reference object: a reference object serializes into the task binary,
  * which every task deserializes independently — measured at 10^4
  * centroids × dim 1024 (an 81 MB matrix) that fixed cost was ~15 s/job
  * (BENCH_LOCAL.md "Centroid-scale ceiling removed"; the retired
  * CentroidStress tool, at git 6fef9ce), swamping the actual argmin. The
  * broadcast ships once per executor via torrent blocks and is cached
  * across jobs — exactly what Lloyd iterations and repeated probes want.
  *
  * Ranking arithmetic: argmin of cosine distance = argmax of
  * dot(v, c)·(1/|c|) — |v| is constant across candidates, so neither |v|
  * nor the division is computed. Exact ties keep the lowest centroid ID
  * and zero-norm centroids rank last, matching the Column formulation's
  * struct min over (distance, id) where a zero centroid scored NaN.
  * Returns null only for a null vector; an empty centroid set is a
  * construction error.
  */
case class ArgMinCosine(child: Expression, mat: Broadcast[CentroidMat],
                        nCentroids: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  private def elemOf(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => et
    case _                => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = elemOf(child.dataType) match {
    case LongType | FloatType | DoubleType | IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"arg_min_cosine expects an array of long/int/float/double elements, " +
        s"got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val m = mat.value
    val (ids, flat, invNorm) = (m.ids, m.flat, m.invNorm)
    val v = input.asInstanceOf[ArrayData]
    val et = elemOf(child.dataType)
    val n = math.min(dim, v.numElements())
    def d(i: Int): Double = et match {
      case DoubleType  => v.getDouble(i)
      case FloatType   => v.getFloat(i).toDouble
      case LongType    => v.getLong(i).toDouble
      case IntegerType => v.getInt(i).toDouble
      case other       => throw new IllegalStateException(s"arg_min_cosine: $other")
    }
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < ids.length) {
      var dot = 0.0
      val off = c * dim
      var i = 0
      while (i < n) { dot += flat(off + i) * d(i); i += 1 }
      // zero-norm centroid → -inf, never preferred over a real score (the
      // struct-min formulation got NaN there, which Spark ranks last too);
      // exact ties keep the SMALLEST id, matching array_min over (d, id)
      val s = if (invNorm(c) == 0.0) Double.NegativeInfinity else dot * invNorm(c)
      if (s > bestScore || (s == bestScore && ids(c) < ids(best))) {
        bestScore = s; best = c
      }
      c += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val reader = elemOf(child.dataType) match {
        case DoubleType  => "getDouble"
        case FloatType   => "getFloat"
        case LongType    => "getLong"
        case IntegerType => "getInt"
        case other       => throw new IllegalStateException(s"arg_min_cosine: $other")
      }
      // only the broadcast HANDLE lives in the task binary; the arrays are
      // fetched once per task-JVM init via mutable state
      val bcRef = ctx.addReferenceObj("argminBc", mat,
        "org.apache.spark.broadcast.Broadcast")
      val flatRef = ctx.addMutableState("double[]", "argminFlat",
        v => s"$v = ((graft.functions.CentroidMat) $bcRef.value()).flat();")
      val invRef = ctx.addMutableState("double[]", "argminInv",
        v => s"$v = ((graft.functions.CentroidMat) $bcRef.value()).invNorm();")
      val idsRef = ctx.addMutableState("int[]", "argminIds",
        v => s"$v = ((graft.functions.CentroidMat) $bcRef.value()).ids();")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val off = ctx.freshName("off")
      val dot = ctx.freshName("dot")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      s"""
         |final int $n = java.lang.Math.min($dim, $a.numElements());
         |int $best = 0;
         |double $bestScore = java.lang.Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $nCentroids; $c++) {
         |  double $dot = 0.0d;
         |  final int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $flatRef[$off + $i] * ((double)$a.$reader($i));
         |  }
         |  final double $s = $invRef[$c] == 0.0d
         |    ? java.lang.Double.NEGATIVE_INFINITY : $dot * $invRef[$c];
         |  if ($s > $bestScore ||
         |      ($s == $bestScore && $idsRef[$c] < $idsRef[$best])) {
         |    $bestScore = $s; $best = $c;
         |  }
         |}
         |${ev.value} = $idsRef[$best];
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArgMinCosine =
    copy(child = newChild)
}

object ArgMinCosine {
  /** Column-level entry: nearest centroid id for each vector row. */
  def apply(vec: Column, centroids: Seq[(Int, Seq[Float])]): Column = {
    require(centroids.nonEmpty, "arg_min_cosine needs at least one centroid")
    val dim = centroids.head._2.length
    val ids = centroids.map(_._1).toArray
    val flat = new Array[Double](ids.length * dim)
    val invNorm = new Array[Double](ids.length)
    centroids.zipWithIndex.foreach { case ((_, v), c) =>
      require(v.length == dim, "centroid dimensions must agree")
      // copy via toArray: the Seq is often a List, whose positional apply
      // is O(i) — indexing it in this loop made the whole build O(dim²)
      // per centroid (~10 s of driver time at 10^4 centroids × dim 1024)
      val a = v.toArray
      var ss = 0.0
      var i = 0
      while (i < dim) {
        val x = a(i).toDouble
        flat(c * dim + i) = x
        ss += x * x
        i += 1
      }
      // a zero centroid can only come from a zero seed vector; rank it last
      invNorm(c) = if (ss == 0.0) 0.0 else 1.0 / math.sqrt(ss)
    }
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val bc = sc.broadcast(new CentroidMat(ids, flat, invNorm))
    ColumnBridge.column(
      ArgMinCosine(ColumnBridge.expression(vec), bc, ids.length, dim))
  }
}
