package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated quantiles in TWO exchanges — the replacement for
  * `percentile(v, q)`, whose buffer holds every value of the group (an
  * executor OOM for a single large group). The state here is one counter
  * per DISTINCT value, so the operator is meant for value domains whose
  * distinct cardinality per group is bounded (integer cents, ratings,
  * token counts: the common quantile targets in an analytics pipeline).
  *
  *   1. `groupBy(group, value).count()` — the value histogram (one
  *      map-side-combinable exchange);
  *   2. ONE window pass per group over the distinct-value grain gives
  *      each value its cumulative rank range `[lo, hi)` and the group
  *      total `n` (second exchange);
  *   3. every requested quantile's flanking values fall out of a single
  *      conditional min-aggregate over the same grain — the group
  *      partitioning from step 2 is reused, so NO further exchange —
  *      and interpolation is a projection.
  *
  * Reproduces Spark's `Percentile` arithmetic exactly:
  * `(higher − pos)·lowerValue + (pos − lower)·higherValue` at
  * `pos = (n−1)·q` (Spark Percentile.getPercentile), so swapping this in
  * under a query keeps any `quantile_cont` oracle hash-matched.
  *
  * Step 2 sorts each group's distinct values in one task, so a
  * continuous domain with ~10^6+ distinct values per group stays correct
  * but slow. No caller has such a domain; if one appears, a bounded-state
  * sketch is the known answer, measured at that point.
  */
object Quantiles {

  /** @param df        input
    * @param groupCols grouping columns (empty = one global group)
    * @param valueCol  numeric column (nulls ignored, like `percentile`)
    * @param quantiles (outputColumnName, q) pairs, each q in [0,1]
    * @param countCol  when set, also emit the group's NON-NULL value
    *                  count under this name — it falls out of the window
    *                  pass for free, so callers needing the count
    *                  alongside quantiles skip a whole extra aggregate
    *                  (≡ `count(*)` when the value column is non-null)
    * @return one row per group: groupCols ++ one double column per
    *         quantile (groups with no non-null value emit no row)
    */
  def valueHistogramQuantiles(df: DataFrame, groupCols: Seq[String],
                              valueCol: String,
                              quantiles: Seq[(String, Double)],
                              countCol: Option[String] = None): DataFrame = {
    require(quantiles.nonEmpty && quantiles.map(_._1).distinct == quantiles.map(_._1))
    val g = if (groupCols.isEmpty) Seq("__g") else groupCols
    val base0 = if (groupCols.isEmpty) df.withColumn("__g", lit(1)) else df
    val base = base0
      .select(g.map(col) :+ col(valueCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)

    // exchange 1: the value histogram
    val hist = base.groupBy(g.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    // exchange 2: cumulative rank range per distinct value + group total
    // (both windows share the one group-keyed exchange and sort)
    val wOrd = Window.partitionBy(g.map(col): _*).orderBy("__v")
    val wAll = Window.partitionBy(g.map(col): _*)
    val cum = hist
      .withColumn("__hi", sum("__c").over(wOrd))
      .withColumn("__n", sum("__c").over(wAll))
      .withColumn("__lo", col("__hi") - col("__c"))

    // a value's [lo, hi) ranges partition [0, n), and every target rank
    // floor/ceil((n−1)·q) lies in [0, n−1] — so exactly one row per group
    // satisfies each bracket and min(when(...)) IS that value
    def posOf(q: Double): Column = (col("__n") - 1).cast("double") * lit(q)
    val aggs = quantiles.flatMap { case (name, q) =>
      val kLo = floor(posOf(q)).cast("long")
      val kHi = ceil(posOf(q)).cast("long")
      Seq(
        min(when(kLo >= col("__lo") && kLo < col("__hi"), col("__v")))
          .as(s"__l_$name"),
        min(when(kHi >= col("__lo") && kHi < col("__hi"), col("__v")))
          .as(s"__u_$name"))
    } :+ first("__n").as("__nt")
    val perG = cum.groupBy(g.map(col): _*).agg(aggs.head, aggs.tail: _*)

    // Spark Percentile interpolation, bit-for-bit
    val qCols = quantiles.map { case (name, q) =>
      val p = (col("__nt") - 1).cast("double") * lit(q)
      when(floor(p) === ceil(p), col(s"__l_$name"))
        .otherwise((ceil(p) - p) * col(s"__l_$name") +
          (p - floor(p)) * col(s"__u_$name")).as(name)
    }
    val out = perG.select(
      g.map(col) ++ qCols ++ countCol.map(n => col("__nt").as(n)): _*)
    if (groupCols.isEmpty) out.drop("__g") else out
  }
}
