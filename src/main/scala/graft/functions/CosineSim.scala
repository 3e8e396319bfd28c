package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity between two numeric array columns (float or double
  * elements) as a native codegen expression: one fused loop computing dot
  * and both norms (three multiply-adds per dimension), instead of three
  * interpreted `aggregate`/`zip_with` passes. Deterministic index-order
  * accumulation in double precision — bit-identical to the fold-based
  * definition.
  *
  * An undefined cosine is NULL, never NaN: a zero-norm side makes it
  * 0/0 (as do non-finite elements). NULL fails every `>=` filter, sorts
  * last under `desc` and lowest in a struct argmax, so no caller needs
  * its own guard; a NaN would pass `cos >= minCos` and rank first.
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elem(dt: DataType): Option[Boolean] = dt match {
    case ArrayType(FloatType, _) => Some(false)
    case ArrayType(DoubleType, _) => Some(true)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elem(left.dataType).isDefined && elem(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects ARRAY<FLOAT|DOUBLE> args, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private lazy val leftDouble = elem(left.dataType).get
  private lazy val rightDouble = elem(right.dataType).get

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val c = CosineSim.compute(a.asInstanceOf[ArrayData], leftDouble,
      b.asInstanceOf[ArrayData], rightDouble)
    if (c.isNaN) null else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.CosineSim.compute($a, $leftDouble, $b, $rightDouble);
      ${ev.isNull} = Double.isNaN(${ev.value});
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** The raw cosine: NaN where undefined (the expression turns it NULL). */
  def compute(a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): Double = {
    // Mixed-dimension embeddings (vectors from different models) must not
    // silently score by prefix — the truncated norms make the result look
    // plausible while meaning nothing.
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"graft_cosine: embedding dimensions differ " +
          s"(${a.numElements()} vs ${b.numElements()})")
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def col(a: Column, b: Column): Column =
    GraftColumnShim.column(CosineSim(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))
}
