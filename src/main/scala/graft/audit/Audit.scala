package graft.audit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run- and record-level audit (reference ETL/scripts/create_db.py:10-42,
  * ETL/etl.py:58-117): one `etl_run_log` row per run with status, timing
  * and per-table insert counts; one `etl_error_log` row per rule violation
  * or load-time skip.
  *
  * Spark has no UPDATE, so the run row is written ONCE at the end of the
  * run (the reference inserts 'failed' then updates to the final state —
  * the observable end state is identical; a crash before the final write
  * leaves no row, which callers treat as failed).
  */
object Audit {

  /** One row per DQ event: (entity, table_name, record_id, error_type,
    * severity, message) + run_id + created_at, in reference column order. */
  def errorLog(events: DataFrame, runId: Long, createdAt: Column = current_timestamp()): DataFrame =
    events.select(
      lit(runId).as("run_id"),
      col("entity"),
      col("table_name"),
      col("record_id"),
      col("error_type"),
      col("message"),
      createdAt.as("created_at"),
      col("severity"))

  /** The final run row (reference finish_etl_run, etl.py:97-117). */
  def runRow(spark: SparkSession, runId: Long, runDate: String, sourceDate: String,
             status: String, startedAtMs: Long, endedAtMs: Long,
             counts: Map[String, Long], errors: Long, warnings: Long,
             notes: String = ""): DataFrame = {
    import spark.implicits._
    Seq((runId, runDate, sourceDate, status,
      new java.sql.Timestamp(startedAtMs), new java.sql.Timestamp(endedAtMs),
      endedAtMs - startedAtMs,
      counts.getOrElse("dim_user_inserted", 0L),
      counts.getOrElse("dim_product_inserted", 0L),
      counts.getOrElse("fact_stock_history_inserted", 0L),
      counts.getOrElse("fact_transactions_inserted", 0L),
      errors, warnings, notes))
      .toDF("run_id", "run_date", "source_date", "status", "started_at", "ended_at",
        "duration_ms", "rows_users_inserted", "rows_products_inserted",
        "rows_stock_inserted", "rows_transactions_inserted", "errors", "warnings", "notes")
      .withColumn("run_date", to_date(col("run_date")))
      .withColumn("source_date", to_date(col("source_date")))
  }
}
