package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.SqlShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native cosine similarity over `array<float>` embedding columns.
  *
  * The Column-math formulation (`zip_with` + `aggregate`) is semantically
  * fine but Catalyst evaluates higher-order functions interpretively —
  * per-element closure dispatch dominates at ANN scan rates. This
  * expression is one compiled loop per row (doGenCode emits a static
  * call), with the same arithmetic as VectorFunctions.cosine: floats
  * widened to double, sequential accumulation, dot/(‖a‖·‖b‖), 0.0 when
  * either norm is 0 — so results are bit-identical to the HOF version and
  * the DuckDB oracle comparisons are unchanged.
  */
object VectorKernels {
  /** Static kernel the generated code calls. */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; aa += x * x; bb += y * y
      i += 1
    }
    val na = math.sqrt(aa); val nb = math.sqrt(bb)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
  }

  /** SRP bucket over a float array — same hyperplane hash and accumulation
    * order as VectorFunctions.srpBucketAt, so buckets are bit-identical
    * between the UDF and expression forms.
    */
  def srpBucketFloat(v: ArrayData, nPlanes: Int, offset: Int): Long = {
    var bucket = 0L
    var p = 0
    val n = v.numElements()
    while (p < nPlanes) {
      var s = 0.0
      var j = 0
      while (j < n) {
        s += v.getFloat(j) * graft.functions.VectorFunctions.hyperplaneComponent(offset + p, j)
        j += 1
      }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<FLOAT> args, got ${children.map(_.dataType)}")

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.VectorKernels.cosineFloat($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(newLeft, newRight)
}

/** Sign-random-projection LSH bucket as a native codegen expression —
  * identical math to VectorFunctions.srpBucketAt (same hyperplane hash,
  * same accumulation order → bit-identical buckets), but one compiled
  * loop per row instead of a Scala UDF's per-row encode/decode. The
  * bucketing stage of every LSH query (q34/q37/q45) stays inside
  * whole-stage codegen.
  */
case class SrpBucket(child: Expression, nPlanes: Int, offset: Int)
    extends UnaryExpression with Serializable {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"srp_bucket expects ARRAY<FLOAT>, got ${child.dataType}")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.srpBucketFloat(v.asInstanceOf[ArrayData], nPlanes, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.expressions.VectorKernels.srpBucketFloat($v, $nPlanes, $offset);")

  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

object VectorExpressions {
  def cosineSim(a: Column, b: Column): Column =
    SqlShims.column(CosineSimilarity(SqlShims.expression(a), SqlShims.expression(b)))

  def srpBucketExpr(v: Column, nPlanes: Int, offset: Int = 0): Column =
    SqlShims.column(SrpBucket(SqlShims.expression(v), nPlanes, offset))
}
