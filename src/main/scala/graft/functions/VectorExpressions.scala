package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for vector math over `array<float>` columns.
  *
  * The reference's similarity search (SURVEY.md Q3/Q4, WEB-LOCAL
  * `ingestion-pipeline-website-local.py:143–176`) delegates cosine-distance
  * scans to Weaviate. Here the vectors are ordinary columns, so the distance
  * is a scalar expression — implemented natively (not a Scala UDF) so it
  * participates in whole-stage codegen: the generated Java loop reads the
  * unsafe array data directly, with no boxing or Row conversion in the hot
  * path. At 100 TB this expression is the inner loop of every kNN scan.
  *
  * Accumulation is strictly left-to-right in double precision, matching the
  * semantics of a sequential scan over the array (and DuckDB's
  * `list_cosine_similarity` on `DOUBLE[]`), so results are reproducible
  * bit-for-bit regardless of partitioning.
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
}

object VectorBinaryExpression {
  /** Interpreted-path guard; the codegen path emits the same check. */
  def checkSameLength(a: ArrayData, b: ArrayData): Int = {
    if (a.numElements() != b.numElements()) {
      throw new IllegalArgumentException(
        s"vector length mismatch: ${a.numElements()} vs ${b.numElements()}")
    }
    a.numElements()
  }
}

/** dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), clamped to [-1, 1];
  * 0.0 if either norm is 0 (asserted in VectorContractSpec). The clamp
  * keeps self-similarity at exactly 1.0 (the unclamped quotient can exceed
  * 1 by 1 ulp) and matches DuckDB's `list_cosine_similarity` bit-for-bit
  * on `DOUBLE[]` inputs.
  *
  * Length mismatch THROWS (as DuckDB's does) — silently truncating to the
  * shorter array would let a ragged-vector table drift from the oracle
  * without any signal.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = graft.functions.VectorBinaryExpression.checkSameLength($a, $b);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : java.lang.Math.max(-1.0, java.lang.Math.min(1.0,
         |      $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb))));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The interpreted arithmetic, line for line the generated loop's: the
    * one cosine code outside a plan calls (the driver cell ranker and the
    * batch IVF heap scan in [[graft.operators.Similarity]]), so a value
    * computed there equals the expression's bit for bit.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = VectorBinaryExpression.checkSameLength(a, b)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else {
      val r = dot / (math.sqrt(na) * math.sqrt(nb))
      math.max(-1.0, math.min(1.0, r))
    }
  }
}

/** Plain inner product over `array<float>` in double precision. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = VectorBinaryExpression.checkSameLength(a, b)
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = graft.functions.VectorBinaryExpression.checkSameLength($a, $b);
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points for the vector expressions. */
object vectors {
  private def colOf(e: Expression): Column = ColumnBridge.column(e)
  private def exprOf(c: Column): Expression = ColumnBridge.expression(c)

  def cosineSimilarity(a: Column, b: Column): Column =
    colOf(CosineSimilarity(exprOf(a), exprOf(b)))

  def dotProduct(a: Column, b: Column): Column =
    colOf(DotProduct(exprOf(a), exprOf(b)))
}
