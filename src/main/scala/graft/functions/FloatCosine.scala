package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Native cosine similarity over two `array<float>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`,
  * [[graft.vector.VectorOps.cosine]]'s original shape) evaluates
  * interpreted — per-element lambda dispatch with boxing, outside
  * whole-stage codegen. This expression generates a tight primitive loop
  * via `doGenCode`, which matters precisely where cosine sits in this
  * library: the |candidates| × pair hot paths of brute-force top-k and
  * LSH verification.
  *
  * Result parity: accumulates in double over float inputs in index order —
  * the exact association order of the sequential HOF left-fold — so
  * results are bit-identical to the HOF form and to DuckDB's `list_sum`
  * over `list_transform` (the oracle formulation). Mismatched lengths
  * yield NULL (as the HOF form does via zip_with null-padding) — a
  * malformed vector must surface as a null, not a plausible prefix score.
  * Zero-norm inputs yield NaN (same as the HOF form).
  */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = bridge.floatArrayInputs
  override def dataType: DataType = DoubleType
  // nullable even over non-null inputs: length mismatch yields NULL (and
  // codegen assigns ev.isNull, which needs a real variable, not a fold)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double x = (double) $a.getFloat($i);
         |    final double y = (double) $b.getFloat($i);
         |    $dot += x * y; $na += x * x; $nb += y * y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatCosine =
    copy(left = newLeft, right = newRight)
}
