package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.validate.{Rule, Rules, Validator}

/** The data contract (reference ETL/validation.py:31-176): rule firing,
  * warning-vs-error semantics, cross-entity checks, price-mismatch epsilon.
  */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  test("user contract: bad email / blank name / null join_date reject; clean passes") {
    val users = Seq(
      (1, "ann", "a@x.com", "2024-01-01"),       // clean
      (2, "", "b@x.com", "2024-01-01"),          // blank name
      (3, "cyd", "not-an-email", "2024-01-01"),  // bad email
      (4, "dee", "d@x.com", null)                // null join_date
    ).toDF("user_id", "name", "email", "join_date")
    val v = new Validator(
      Rules.userRules(col("user_id"), col("name"), col("email"), col("join_date")),
      "user", col("user_id"))
    val ann = v.annotate(users)
    assert(v.valid(ann).select("user_id").as[Int].collect().toSeq === Seq(1))
    assert(v.rejected(ann).count() === 3)
    assert(v.errors(ann).select("error_type").distinct().as[String].head()
      === "invalid_user")
  }

  test("warnings log but never reject") {
    val df = Seq((1, 5), (1, 5)).toDF("tx_id", "q")
    val occ = row_number().over(Window.partitionBy("tx_id").orderBy("q"))
    val v = new Validator(Seq(
      Rule.warning("duplicate_tx_id", col("occ") >= 2, lit("dup"))), "transaction", col("tx_id"))
    val ann = v.annotate(df.withColumn("occ", occ))
    assert(v.valid(ann).count() === 2)   // both rows pass
    assert(v.errors(ann).count() === 1)  // one warning logged
    assert(v.errors(ann).select("severity").as[String].head() === "warning")
  }

  test("transaction contract: each error type fires on its row and only there") {
    // columns: tx, date, user, product, qty, pay, status, total, uk, pk, exp, occ
    val base = Seq(
      (1, "2024-01-05", 10, 100, 2, "visa", "success", 20.0, true, true, Some(10.0), 1),
      (2, "2024-01-05", 99, 100, 2, "visa", "success", 20.0, false, true, Some(10.0), 1),
      (3, "2024-01-05", 10, 999, 2, "visa", "success", 20.0, true, false, None, 1),
      (4, "2024-01-05", 10, 100, 0, "visa", "success", 0.0, true, true, Some(10.0), 1),
      (5, "2024-01-05", 10, 100, -3, "visa", "success", 1.0, true, true, Some(10.0), 1),
      (6, "2024-01-05", 10, 100, 2, "bitcoin", "success", 20.0, true, true, Some(10.0), 1),
      (7, "2024-01-05", 10, 100, 2, "visa", "pending", 20.0, true, true, Some(10.0), 1),
      (8, "not a date", 10, 100, 2, "visa", "success", 20.0, true, true, Some(10.0), 1),
      (9, "2024-01-05", 10, 100, 2, "visa", "success", 25.0, true, true, Some(10.0), 1)
    ).toDF("tx", "date", "user", "product", "qty", "pay", "status", "total", "uk", "pk", "exp", "occ")
    val v = new Validator(
      Rules.transactionRules(col("tx"), col("date"), col("user"), col("product"),
        col("qty"), col("pay"), col("status"), col("total"),
        col("uk"), col("pk"), col("exp"), col("occ")),
      "transaction", col("tx"))
    val ann = v.annotate(base)
    val fired = v.errors(ann).select("record_id", "error_type")
      .as[(String, String)].collect().toSeq.sorted
    assert(fired === Seq(
      "2" -> "orphan_user", "3" -> "orphan_product", "4" -> "qty_zero",
      "5" -> "qty_negative", "6" -> "invalid_payment_type",
      "7" -> "invalid_status", "8" -> "bad_date_format",
      "9" -> "price_mismatch").map { case (a, b) => (a, b) }.sorted)
    // price_mismatch is a warning -> tx 9 still valid; errors reject
    assert(v.valid(ann).select("tx").as[Int].collect().toSeq.sorted === Seq(1, 9))
  }

  test("price-mismatch epsilon: |total/qty - expected| <= 0.01 passes") {
    val mk = (tx: Int, total: Double) =>
      (tx, "2024-01-05", 10, 100, 2, "visa", "success", total, true, true, Some(10.0), 1)
    val df = Seq(mk(1, 20.02), mk(2, 20.021)).toDF(
      "tx", "date", "user", "product", "qty", "pay", "status", "total", "uk", "pk", "exp", "occ")
    val v = new Validator(
      Rules.transactionRules(col("tx"), col("date"), col("user"), col("product"),
        col("qty"), col("pay"), col("status"), col("total"),
        col("uk"), col("pk"), col("exp"), col("occ")),
      "transaction", col("tx"))
    val fired = v.errors(v.annotate(df)).select("record_id").as[String].collect().toSeq
    assert(fired === Seq("2")) // 0.01 within epsilon; 0.0105 fires
  }

  test("errorLog carries the full reference etl_error_log schema") {
    val users = Seq((2, "", "b@x.com", "2024-01-01")).toDF("user_id", "name", "email", "join_date")
    val v = new Validator(
      Rules.userRules(col("user_id"), col("name"), col("email"), col("join_date")),
      "user", col("user_id"), tableName = "users")
    // the shape EtlRun hands to the one error-log builder
    val log = graft.audit.Audit.errorLog(
      v.errors(v.annotate(users)).withColumn("table_name", lit(v.tableName)), 7L,
      to_timestamp(lit("2024-06-01 00:00:00")))
    assert(log.columns.toSeq === Seq("run_id", "entity", "table_name", "record_id",
      "error_type", "message", "created_at", "severity"))
    val r = log.collect().head
    assert(r.getAs[Long]("run_id") === 7L)
    assert(r.getAs[String]("table_name") === "users")
    assert(r.getAs[String]("message") === "Empty name for user 2")
  }
}
