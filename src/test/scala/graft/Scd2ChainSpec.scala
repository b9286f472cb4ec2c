package graft

import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.pipeline.EtlRun
import graft.schemas.Schemas

/** Five-day chained pipeline run with fresh mutations each day: the SCD2
  * structural invariants must hold after every run, not just two days —
  * dense unique SKs, exactly one current row per member, non-overlapping
  * validity windows, and history never rewritten.
  */
class Scd2ChainSpec extends SparkSpec {
  import spark.implicits._

  private val wh = tempDir("graft_chain").toString
  private val etl = new EtlRun(spark, wh)
  private val nUsers = 40
  private val nProducts = 15

  private def assertScd2Invariants(day: String): Unit = {
    val du = etl.table("dim_user", Schemas.dimUser).cache()
    // unique SKs
    assert(du.select("user_sk").distinct().count() === du.count(), s"$day: dup SKs")
    // dense 1..max (AUTOINCREMENT parity)
    val maxSk = du.agg(max("user_sk")).first().getLong(0)
    assert(maxSk === du.count(), s"$day: SKs not dense")
    // exactly one current row per member; current rows have open end_date
    val perMember = du.groupBy("user_id")
      .agg(sum(col("current_flag")).as("n_cur"), count(lit(1)).as("n"))
    assert(perMember.filter(col("n_cur") =!= 1).count() === 0, s"$day: current_flag != 1 per member")
    assert(du.filter(col("current_flag") === 1 && col("end_date").isNotNull).count() === 0)
    assert(du.filter(col("current_flag") === 0 && col("end_date").isNull).count() === 0)
    // windows do not overlap: next version starts after previous ends
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_date")
    val overlaps = du
      .withColumn("next_start", lead(col("start_date"), 1).over(w))
      .filter(col("next_start").isNotNull &&
        (col("end_date").isNull || col("end_date") >= col("next_start")))
    assert(overlaps.count() === 0, s"$day: overlapping validity windows")
    du.unpersist()
  }

  test("five chained daily runs keep every SCD2 invariant") {
    val days = (1 to 5).map(i => f"2025-04-0$i%d")
    days.zipWithIndex.foreach { case (day, i) =>
      // clamp join_date below the run window: the generator spans ~2 years
      // of join dates, and a member whose join_date lies AFTER a run date
      // gets a degenerate expired window on change (end < start) — exactly
      // what the reference would produce (its UPDATE sets end=today-1
      // unconditionally); the reference's own data never exercises it
      // because populate.py only generates past join dates.
      val users = Synthetic.mutateUsers(
        Synthetic.users(spark, nUsers).withColumn("join_date",
          least(col("join_date"), lit("2025-03-31"))),
        frac = 0.15, tag = s"d$i")
      val products = Synthetic.mutateProducts(Synthetic.products(spark, nProducts),
        frac = 0.2, tag = s"d$i")
      // reference-distribution transactions: stock-weighted product pool,
      // 90/10 status, qty ≤ min(5, stock) — then success-only decrements
      // feed the NEXT day's catalog, so the chain exercises the stock
      // lifecycle the way populate.py's loop does
      val tx = Synthetic.transactionsWeighted(spark, 120, day, users, products,
        firstId = 1 + i * 1000)
      val productsAfterSales = Synthetic.applyStockDecrements(products, tx)
      users.write.mode("overwrite").parquet(s"$wh/users")
      productsAfterSales.write.mode("overwrite").parquet(s"$wh/products")
      tx.write.mode("overwrite").parquet(s"$wh/transactions")
      Seq("users", "products", "transactions").foreach(t =>
        spark.catalog.refreshByPath(s"$wh/$t"))
      etl.run(day)
      assertScd2Invariants(day)
    }
    // history is append-only in effect: every (user_sk, start_date) pair
    // present on day 5 for expired rows must trace a mutation day
    val runLog = etl.table("etl_run_log", Schemas.etlRunLog)
    assert(runLog.count() === 5)
    assert(runLog.filter(col("status") =!= "success").count() === 0)
    // facts accumulated across all days without duplicate composite PKs
    val ft = etl.table("fact_transactions", Schemas.factTransactions)
    assert(ft.groupBy("transaction_id", "product_sk").count()
      .filter(col("count") > 1).count() === 0)
  }
}
