package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipeline.EtlRun
import graft.schemas.Schemas

/** Warehouse state after one run: per-table row counts and a content
  * fingerprint that ignores wall-clock columns. */
final case class State(counts: Map[String, Long], fingerprint: String)

/** Output checks: the demo.ipynb acceptance invariants (SURVEY §5) plus a
  * content fingerprint. Each invariant returns the run dates it fails on,
  * so a violation counts against the day that produced it. */
object Checks {

  /** ETL tables with the columns left out of the fingerprint. */
  private val tables: Seq[(String, StructType, Seq[String])] = Seq(
    ("dim_user", Schemas.dimUser, Nil),
    ("dim_product", Schemas.dimProduct, Nil),
    ("dim_date", Schemas.dimDate, Nil),
    ("fact_transactions", Schemas.factTransactions, Nil),
    ("fact_stock_history", Schemas.factStockHistory, Nil),
    (graft.facts.TxSidecar.tableName, graft.facts.TxSidecar.schema, Nil),
    ("etl_run_log", Schemas.etlRunLog, Seq("started_at", "ended_at", "duration_ms")),
    ("etl_error_log", Schemas.etlErrorLog, Seq("created_at")))

  /** Row counts and fingerprint of every ETL table, in one job. The hash
    * of a table is the sum of its rows' xxhash64, so row order and file
    * layout do not matter. */
  def state(spark: SparkSession, etl: EtlRun): State = {
    val parts = tables.map { case (name, schema, drop) =>
      val df = etl.table(name, schema).drop(drop: _*)
      df.select(lit(name).as("t"), xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
    }
    val rows = parts.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)).as("n"), sum("h").as("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), String.valueOf(r.get(2)))).toMap
    val counts = tables.map { case (t, _, _) => t -> rows.get(t).map(_._1).getOrElse(0L) }.toMap
    val text = tables.map { case (t, _, _) => s"$t:${rows.get(t).map(x => s"${x._1}:${x._2}").getOrElse("0")}" }
      .mkString("|")
    val md = java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
    State(counts, md.take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  /** `(check, date)` rows naming the run dates a check fails on. */
  private def failing(check: String, df: DataFrame, dateCol: String): DataFrame =
    df.select(lit(check).as("check"), col(dateCol).cast("string").as("date"))

  /** SCD2: exactly one current version per key, and each closed version
    * ends before the next one starts. Fails the day a bad version began. */
  def scd2(dim: DataFrame, key: String, sk: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("start_date"), col(sk))
    val checked = dim
      .withColumn("next_start", lead(col("start_date"), 1).over(w))
      .withColumn("n_current", sum(col("current_flag")).over(Window.partitionBy(key)))
    failing(s"scd2_$key", checked.filter(col("n_current") =!= 1 ||
      (col("next_start").isNotNull && (col("end_date").isNull || col("end_date") >= col("next_start"))) ||
      (col("next_start").isNull && col("current_flag") =!= 1)), "start_date")
  }

  /** One fact row per (transaction_id, product_sk). */
  def uniqueFacts(facts: DataFrame): DataFrame =
    failing("unique_fact", facts.groupBy("transaction_id", "product_sk")
      .agg(count(lit(1)).as("n"), max("load_date").as("load_date")).filter(col("n") > 1), "load_date")

  /** Every fact's surrogate key names a version valid on the fact's date. */
  def factKeysResolve(facts: DataFrame, dim: DataFrame, sk: String): DataFrame = {
    val f = facts.select(col(sk), col("load_date"),
      to_date(col("date_id").cast("string"), "yyyyMMdd").as("fact_date"))
    val d = dim.select(col(sk).as("d_sk"), col("start_date"), col("end_date"))
    failing(s"${sk}_valid", f.join(d, col(sk) === col("d_sk"), "left_outer").filter(col("d_sk").isNull ||
      col("fact_date") < col("start_date") ||
      (col("end_date").isNotNull && col("fact_date") > col("end_date"))), "load_date")
  }

  /** Error-log rows per run equal the run row's errors + warnings. */
  def errorLogMatchesRunLog(runLog: DataFrame, errorLog: DataFrame): DataFrame = {
    val logged = errorLog.groupBy("run_id").agg(count(lit(1)).as("logged"))
    failing("error_log_counts", runLog.join(logged, Seq("run_id"), "left_outer")
      .filter(coalesce(col("logged"), lit(0L)) =!= col("errors") + col("warnings")), "run_date")
  }

  /** All invariants over the final warehouse, in one job: check name →
    * the run dates it fails on (absent when it holds). */
  def invariants(etl: EtlRun): Map[String, Set[String]] = {
    val dimUser = etl.table("dim_user", Schemas.dimUser)
    val dimProduct = etl.table("dim_product", Schemas.dimProduct)
    val facts = etl.table("fact_transactions", Schemas.factTransactions)
    Seq(
      scd2(dimUser, "user_id", "user_sk"),
      scd2(dimProduct, "product_id", "product_sk"),
      uniqueFacts(facts),
      factKeysResolve(facts, dimUser, "user_sk"),
      factKeysResolve(facts, dimProduct, "product_sk"),
      errorLogMatchesRunLog(etl.table("etl_run_log", Schemas.etlRunLog),
        etl.table("etl_error_log", Schemas.etlErrorLog)))
      .reduce(_ unionByName _).distinct().collect()
      .groupBy(_.getString(0)).map { case (k, rows) => k -> rows.map(_.getString(1)).toSet }
  }

  /** Run-log inserted counters and the table each one counts. */
  val insertedColumns: Seq[(String, String)] = Seq(
    "rows_users_inserted" -> "dim_user",
    "rows_products_inserted" -> "dim_product",
    "rows_stock_inserted" -> "fact_stock_history",
    "rows_transactions_inserted" -> "fact_transactions")
}
