package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DateStringComparePushdown optimizer rule (injected via
  * GraftExtensions, active in this suite's session): `date_format(col,
  * 'yyyy-MM-dd') <cmp> 'literal'` must reach the parquet scan as a native
  * date/timestamp predicate, with identical results, and must NOT rewrite
  * when the literal's string-compare semantics genuinely differ.
  */
class PlanRuleSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def orders = spark.read.parquet(s"$sfDir/orders.parquet")

  private def events = graft.io.Tables.eventsMicros(spark, sfDir)

  test("DATE column: formatted-string compares push as native date filters") {
    val df = orders.filter(date_format(col("o_orderdate"), "yyyy-MM-dd") < "1995-03-15")
      .select("o_orderkey")
    assert(plan(df).contains("LessThan(o_orderdate"), plan(df).take(600))
    // identical results to the native form
    val native = orders.filter(col("o_orderdate") < to_date(lit("1995-03-15")))
      .select("o_orderkey")
    assert(sortedRows(df) === sortedRows(native))
  }

  test("DATE column: literal-on-the-left flips and pushes") {
    val df = orders.filter(lit("1995-03-15") > date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .select("o_orderkey")
    assert(plan(df).contains("LessThan(o_orderdate"), plan(df).take(600))
  }

  test("TIMESTAMP column: formatted equality becomes a day range; pushes on µs parquet") {
    // the reference's raw-string daily-extract shape (SURVEY S3). On
    // Spark 4.1+ the nanos testdata reads as TIMESTAMP_NTZ and the
    // adapter's ts is Cast(ntz AS timestamp) — the rule unwraps the cast
    // (fixed-offset UTC session) and bounds the bare NTZ attribute, so
    // the range reaches PushedFilters of the RAW nanos scan itself
    val df = events.filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-18")
      .select("event_id")
    val p = plan(df)
    assert(p.contains(">= 2024-01-18 00:00:00") && p.contains("< 2024-01-19 00:00:00"),
      p.take(800))
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-18T00:00)"),
      p.take(1200))
    val native = events.filter(col("ts") >= to_timestamp(lit("2024-01-18 00:00:00")) &&
      col("ts") < to_timestamp(lit("2024-01-19 00:00:00")))
      .select("event_id")
    assert(sortedRows(df) === sortedRows(native))
    assert(df.count() > 0)

    // on a re-materialized µs-LTZ parquet (the cast column written out,
    // r3's original fixture) the plain TIMESTAMP branch still pushes
    val dir = tempDir("graft_rule_ts").toString
    events.select("event_id", "ts").write.mode("overwrite").parquet(dir)
    val pushed = spark.read.parquet(dir)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-18")
    val pp = plan(pushed)
    assert(pp.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"), pp.take(800))
    assert(pushed.count() === df.count())
  }

  test("TIMESTAMP column: inequality maps to the correct day boundary") {
    val le = events.filter(date_format(col("ts"), "yyyy-MM-dd") <= "2024-01-18")
    val leNative = events.filter(col("ts") < to_timestamp(lit("2024-01-19 00:00:00")))
    assert(le.count() === leNative.count())
    val gt = events.filter(date_format(col("ts"), "yyyy-MM-dd") > "2024-01-18")
    val gtNative = events.filter(col("ts") >= to_timestamp(lit("2024-01-19 00:00:00")))
    assert(gt.count() === gtNative.count())
  }

  test("DST-zone session: the NTZ cast shape is left alone, results stay correct") {
    // In a non-fixed-offset render zone the rule must leave
    // `date_format(Cast(ntz AS timestamp)) = 'day'` COMPLETELY untouched:
    // naive bounds are wrong by construction there, and even sound zoned
    // bounds on the cast get re-unwrapped to naive bounds by Spark's own
    // UnwrapCastInBinaryComparison — which is unsound across a DST gap
    // (this exact test caught that as a live wrong-results bug in r6).
    // Pacific/Apia makes the gap observable at day grain: the zone skipped
    // ALL of 2011-12-30, so every naive 12-30 value casts forward into
    // rendered 12-31 — naive-date and rendered-date disagree for a whole
    // day, and any naive-bound rewrite returns visibly wrong rows.
    val dir = tempDir("graft_rule_dst").toString
    spark.range(0, 72) // hourly naive 2011-12-29T00 .. 2011-12-31T23 (NTZ)
      .selectExpr("id AS event_id",
        "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ'2011-12-29 00:00:00') AS ts")
      .write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Apia")
      // The analyzer inserts Cast(ntz AS timestamp) under date_format for
      // any NTZ column, so this IS the only NTZ shape the optimizer sees
      // (same as eventsMicros' explicit adapter cast). Rendered dates:
      // ids 0-23 → 12-29; ids 24-47 (the skipped naive day) cast forward
      // 24h → 12-31; ids 48-71 → 12-31.
      def casted(day: String) = spark.read.parquet(dir)
        .filter(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd") === day)
        .select("event_id")
      // no naive bound may reach the scan in either direction
      val p = plan(casted("2011-12-31"))
      assert(!p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual"),
        s"NTZ bounds pushed in a DST zone:\n${p.take(1200)}")
      // ...and the ROWS are the rendered-date matches, not the naive ones:
      // a naive rewrite would return 24 rows for 12-31 and 24 for 12-30
      assert(sortedRows(casted("2011-12-31")) === (24L until 72L).map(i => Seq(i)))
      assert(casted("2011-12-30").count() === 0)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("guards: non-ISO literals and non-ISO formats stay as string compares") {
    // '1995-3-15' parses as a date loosely but NOT strictly — its string
    // compare ('1995-3...' > '1995-0...') differs from the date compare,
    // so the rule must leave it alone
    val loose = orders.filter(date_format(col("o_orderdate"), "yyyy-MM-dd") < "1995-3-15")
    assert(!plan(loose).contains("LessThan(o_orderdate"), plan(loose).take(600))
    // a different format string is out of scope
    val fmt = orders.filter(date_format(col("o_orderdate"), "dd-MM-yyyy") < "15-03-1995")
    assert(!plan(fmt).contains("LessThan(o_orderdate"), plan(fmt).take(600))
    // and the loose literal's results are the (string-compare) originals
    val manual = orders
      .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") < "1995-3-15").count()
    val expected = orders
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("s"))
      .filter(col("s") < "1995-3-15").count()
    assert(manual === expected)
  }
}
