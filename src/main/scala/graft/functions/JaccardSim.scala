package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native set-Jaccard over two `array<string>` columns — semantically
  * identical to
  * `when(size(array_union(a,b))===0, 0.0).otherwise(size(array_intersect(a,b))/size(array_union(a,b)))`
  * (inputs treated as SETS; both sides deduped) but one hash-set pass per
  * row instead of two interpreted set-builder expressions that each
  * rebuild both arrays. This is the VERIFY step of every near-dup
  * pipeline — evaluated once per LSH candidate pair (q28/q29/q57/q72),
  * which at corpus scale is the largest per-row workload
  * after the band keys themselves.
  *
  * Parity: |A∩B| and |A∪B| are exact integers (distinct semantics, null
  * elements ignored like array_intersect/union ignore nothing — Spark's
  * set ops KEEP a null element, so we count it as a regular value);
  * the ratio is the same double division. NULL input → NULL.
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = bridge.stringArrayInput ++ bridge.stringArrayInput
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    // distinct left set; null element modeled as a sentinel key
    val setA = new java.util.HashSet[AnyRef](math.max(16, xa.numElements() * 2))
    var i = 0
    var nullInA = false
    while (i < xa.numElements()) {
      if (xa.isNullAt(i)) nullInA = true
      else setA.add(xa.getUTF8String(i))
      i += 1
    }
    val seenB = new java.util.HashSet[AnyRef](math.max(16, xb.numElements() * 2))
    var nullInB = false
    var inter = 0L
    var j = 0
    while (j < xb.numElements()) {
      if (xb.isNullAt(j)) nullInB = true
      else {
        val v = xb.getUTF8String(j)
        if (seenB.add(v) && setA.contains(v)) inter += 1
      }
      j += 1
    }
    if (nullInA && nullInB) inter += 1
    val distinctA = setA.size + (if (nullInA) 1 else 0)
    val distinctB = seenB.size + (if (nullInB) 1 else 0)
    val union = distinctA + distinctB - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("jacc", this, classOf[JaccardSim].getName)
      s"${ev.value} = (Double) $ref.nullSafeEval($a, $b);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}
