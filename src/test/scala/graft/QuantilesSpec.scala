package graft

import org.apache.spark.sql.functions._
import graft.ops.Quantiles

/** [[graft.ops.Quantiles.valueHistogramQuantiles]] must reproduce Spark's
  * exact `percentile` BIT-FOR-BIT (same interpolation arithmetic) while
  * holding one counter per distinct value — checked against the built-in
  * on adversarial shapes: ties, constant groups, single-row groups, skewed
  * mass, negative values, boundary quantiles and nulls.
  */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  private val qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95)

  private def checkVH(data: Seq[(String, Long)]): Unit = {
    val df = data.toDF("grp", "v").repartition(4)
    val got = Quantiles.valueHistogramQuantiles(df, Seq("grp"), "v", qs,
        countCol = Some("n"))
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Double]("p25"), r.getAs[Double]("p50"), r.getAs[Double]("p95")),
          r.getAs[Long]("n"))).toMap
    val want = df.groupBy("grp")
      .agg(expr("percentile(v, 0.25)").as("p25"),
        expr("percentile(v, 0.5)").as("p50"),
        expr("percentile(v, 0.95)").as("p95"),
        expr("count(v)").as("n"))
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Double]("p25"), r.getAs[Double]("p50"), r.getAs[Double]("p95")),
          r.getAs[Long]("n"))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, w) => assert(got(k) === w, s"group $k") }
  }

  test("value-histogram path matches built-in percentile across adversarial shapes") {
    val rnd = new scala.util.Random(7)
    checkVH(
      (1 to 500).map(_ => ("uniform", rnd.nextLong() % 100000)) ++
      (1 to 300).map(_ => ("ties", (rnd.nextInt(5) * 10).toLong)) ++
      (1 to 50).map(_ => ("constant", 7L)) ++
      Seq(("single", 42L)) ++
      (1 to 400).map(i => ("skew", if (i < 390) 1L else i * 1000L)) ++
      (1 to 200).map(_ => ("negative", rnd.nextLong() % 1000 - 5000)))
  }

  test("value-histogram path: global quantiles + the exact two-exchange plan") {
    val df = (1 to 1000).map(i => (i * 37 % 501).toLong).toDF("v").repartition(8)
    val got = Quantiles.valueHistogramQuantiles(df, Nil, "v",
      Seq("p01" -> 0.01, "p99" -> 0.99))
    // the operator's own contract: exactly 2 exchanges beyond the input's
    // repartition — histogram groupBy + the group-keyed cumulative window
    // (the flanking-value aggregate reuses the window's partitioning).
    // Counted BEFORE execution: a post-collect AQE plan string appends the
    // "Initial Plan" section, double-counting every exchange.
    val n = got.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange") && !l.contains("Broadcast"))
    assert(n <= 3, s"expected <= 3 exchanges (incl. the test repartition), saw $n")
    val want = df.agg(expr("percentile(v, 0.01)"), expr("percentile(v, 0.99)"))
      .collect().head
    val row = got.collect().head
    assert(row.getAs[Double]("p01") === want.getDouble(0))
    assert(row.getAs[Double]("p99") === want.getDouble(1))
  }

  test("both paths are bit-for-bit equal on shared domains (property sweep)") {
    // the two paths: valueHistogramQuantiles and Spark's own `percentile`.
    // Property-style sweep: randomized group layouts × value
    // distributions, including constant groups, a single-distinct-value
    // domain, heavy ties and mixed-sign values, and boundary quantiles
    // q=0 / q=1 / an irrational-position q=1/3
    val qs2 = Seq("q0" -> 0.0, "q13" -> (1.0 / 3.0), "q50" -> 0.5, "q1" -> 1.0)
    val gens: Seq[(String, scala.util.Random => Long)] = Seq(
      "constant" -> (_ => 13L),
      "two_values" -> (r => if (r.nextBoolean()) -5L else 9L),
      "heavy_ties" -> (r => (r.nextInt(4) * 100).toLong),
      "uniform" -> (r => r.nextLong() % 10000),
      "geometric" -> (r => (math.pow(2, r.nextInt(20)).toLong)),
      "negative" -> (r => -math.abs(r.nextLong() % 100000)))
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val data = gens.flatMap { case (grp, gen) =>
        val n = 1 + rnd.nextInt(400)
        (1 to n).map(_ => (grp, gen(rnd)))
      }
      val df = data.toDF("grp", "v").repartition(4)
      def toMap(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getAs[String]("grp") ->
          qs2.map { case (name, _) =>
            // compare raw bits: "bit-for-bit" means exactly that
            java.lang.Double.doubleToRawLongBits(r.getAs[Double](name))
          }).toMap
      val pct = qs2.map { case (name, q) => expr(s"percentile(v, ${q}D)").as(name) }
      val got = toMap(Quantiles.valueHistogramQuantiles(df, Seq("grp"), "v", qs2))
      val want = toMap(df.groupBy("grp").agg(pct.head, pct.tail: _*))
      assert(got === want, s"paths diverged (seed=$seed)")
    }
  }

  test("value-histogram path stays correct (if not cheap) past its intended cardinality") {
    // the doc marks high-distinct-per-group as the WRONG route for the
    // two-exchange path — but wrong route must mean slow, never wrong:
    // 50k distinct values in one group still matches the built-in exactly
    val df = spark.range(50000)
      .select((col("id").cast("double") * 3.7).as("v")).repartition(8)
    val got = Quantiles.valueHistogramQuantiles(df, Nil, "v",
      Seq("p10" -> 0.1, "p90" -> 0.9)).collect().head
    val want = df.agg(expr("percentile(v, 0.1)"), expr("percentile(v, 0.9)"))
      .collect().head
    assert(got.getAs[Double]("p10") === want.getDouble(0))
    assert(got.getAs[Double]("p90") === want.getDouble(1))
  }

  test("value-histogram path ignores nulls like percentile") {
    val df = Seq[(String, java.lang.Long)](("a", 1L), ("a", null), ("a", 3L),
      ("b", null)).toDF("grp", "v")
    val got = Quantiles.valueHistogramQuantiles(df, Seq("grp"), "v",
      Seq("p50" -> 0.5), countCol = Some("n")).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("p50"), r.getAs[Long]("n"))).toMap
    // group b has no non-null values: no row (percentile would emit null)
    assert(got === Map("a" -> ((2.0, 2L))))
  }
}
