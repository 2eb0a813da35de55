package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array_sort, col, collect_list, struct,
  transform}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst vector math over `array<float>` embedding columns.
  *
  * The reference computes cosine similarity per-document in NumPy on the
  * driver (/root/reference/rag_processor.py:26-77); here it is a codegen'd
  * expression evaluated inside whole-stage codegen — a tight primitive
  * loop over ArrayData with zero boxing, accumulating in double (which is
  * also exactly what DuckDB's list_cosine_similarity computes, keeping the
  * oracle hash-stable).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  /** Java loop body; sees `a`, `b` (ArrayData), writes `${ev.value}`.
    * Every Java local MUST come from `ctx.freshName` — two vector
    * expressions can land in one generated function (a projection
    * computing relevance and max-sim, or post-CSE reuse), and a fixed
    * local name trips Janino ("Redefinition of local variable"), silently
    * dropping the whole projection to interpreted mode.
    */
  protected def loopCode(ctx: CodegenContext, a: String, b: String, result: String): String
  /** Interpreted-mode loop; must return a value of [[dataType]]. */
  protected def loopEval(a: ArrayData, b: ArrayData): Any

  override def nullSafeEval(a: Any, b: Any): Any =
    loopEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => loopCode(ctx, a, b, ev.value))
}

object VectorBinaryExpression {
  /** Dimension mismatch is a data bug; fail loudly (as DuckDB's
    * list_cosine_similarity does) instead of silently truncating — a wrong
    * answer that *looks* right is the worst failure mode an engine has.
    * Called from both interpreted eval and generated code.
    */
  def requireSameDim(a: Int, b: Int): Unit =
    if (a != b) throw new IllegalArgumentException(
      s"vector dimension mismatch: $a vs $b")
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_similarity"

  protected def loopEval(x: ArrayData, y: ArrayData): Double = CosineSimilarity.of(x, y)

  protected def loopCode(ctx: CodegenContext, a: String, b: String, result: String): String = {
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    val ny = ctx.freshName("ny")
    val i = ctx.freshName("i")
    val x = ctx.freshName("x")
    val y = ctx.freshName("y")
    s"""
       |int $n = $a.numElements();
       |graft.functions.VectorBinaryExpression.requireSameDim($n, $b.numElements());
       |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = (double) $a.getFloat($i);
       |  double $y = (double) $b.getFloat($i);
       |  $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
       |}
       |$result = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       |""".stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  /** The cosine arithmetic, stated once: the interpreted expression and
    * the graph walk's in-task scorer both call it, and `loopCode` is its
    * generated twin (same accumulation order, so both paths agree bit
    * for bit).
    */
  def of(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    VectorBinaryExpression.requireSameDim(n, y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  protected def loopEval(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    VectorBinaryExpression.requireSameDim(n, y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  protected def loopCode(ctx: CodegenContext, a: String, b: String, result: String): String = {
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val i = ctx.freshName("i")
    s"""
       |int $n = $a.numElements();
       |graft.functions.VectorBinaryExpression.requireSameDim($n, $b.numElements());
       |double $dot = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
       |}
       |$result = $dot;
       |""".stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact integer dot product over two `array<long>` columns — the
  * scorer of the hash-feature sum vectors (Embedder.hashSumRows), where
  * every component is an exact ±1-bit sum and the dot must stay a
  * single long (a 64-term column expression would otherwise inline its
  * packed-lane derivation per term and blow both the optimizer and the
  * 64 KB codegen budget — measured as an OOM during planning).
  *
  * Overflow bound is a CALLER CONTRACT, not a runtime check: the loop
  * accumulates raw `long` products (no Math.addExact — an exact-check
  * per term would halve the hot-loop throughput this expression exists
  * for). Callers feed hash-sum components bounded by the token count
  * (≤ 65 535 in practice), keeping the 64-dim sum ≤ 2.7e11 — nine
  * orders under Long.MaxValue; inputs outside that envelope would wrap
  * silently, so new call sites must carry their own bound argument.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product_long"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  protected def loopEval(x: ArrayData, y: ArrayData): Any = {
    val n = x.numElements()
    VectorBinaryExpression.requireSameDim(n, y.numElements())
    var dot = 0L; var i = 0
    while (i < n) { dot += x.getLong(i) * y.getLong(i); i += 1 }
    dot
  }

  protected def loopCode(ctx: CodegenContext, a: String, b: String, result: String): String = {
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val i = ctx.freshName("i")
    s"""
       |int $n = $a.numElements();
       |graft.functions.VectorBinaryExpression.requireSameDim($n, $b.numElements());
       |long $dot = 0L;
       |for (int $i = 0; $i < $n; $i++) {
       |  $dot += $a.getLong($i) * $b.getLong($i);
       |}
       |$result = $dot;
       |""".stripMargin
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorFunctions {
  private def toExpr(c: Column): Expression = ColumnBridge.expression(c)
  private def toCol(e: Expression): Column = ColumnBridge.column(e)

  /** Cosine similarity between two `array<float>` columns, as double. */
  def cosineSim(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Dot product between two `array<float>` columns, as double. */
  def dot(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  /** Exact integer dot product between two `array<long>` columns. */
  def dotLong(a: Column, b: Column): Column =
    toCol(DotProductLong(toExpr(a), toExpr(b)))

  /** Aggregate: the group's `value` column as an array ordered by its
    * `key` column — a vector reassembled from its (i, v) component rows.
    */
  def collectSorted(key: String, value: String): Column =
    transform(array_sort(collect_list(struct(col(key), col(value)))),
      x => x.getField(value))
}
