package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.bridge

/** Column wrappers for the native graft expressions.
  *
  * DataFrame API: `GraftFunctions.cosineF(a, b)`. SQL: every session that
  * `graft.Session` builds sets `spark.sql.extensions=graft.functions.GraftExtensions`,
  * which exposes `graft_cosine` to `spark.sql(...)`.
  */
object GraftFunctions {

  def cosineF(a: Column, b: Column): Column =
    bridge.column(FloatCosine(bridge.expression(a),
      bridge.expression(b)))

  def srpBucketF(vec: Column, nPlanes: Int, planeOffset: Int,
                 maxDims: Int): Column =
    bridge.column(SrpBucket(bridge.expression(vec), nPlanes, planeOffset, maxDims))
}

/** `spark.sql.extensions` entry point (SparkSessionExtensions): the native
  * cosine as the SQL function `graft_cosine` plus the date-string-compare
  * pushdown optimizer rule ([[graft.plans.DateStringComparePushdown]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      new ExpressionInfo("graft.functions", "graft_cosine",
        "cosine similarity of two float arrays (double result)"),
      args => FloatCosine(args(0), args(1))))
    ext.injectOptimizerRule(_ => graft.plans.DateStringComparePushdown)
  }
}
