package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One data-contract rule: if `condition` is true for a row, the rule fired.
  *
  * Mirrors the reference's `DataValidator` checks (reference
  * ETL/validation.py:31-176): each check appends an error-log record; a row
  * is rejected only when a rule of severity `error` fired — `warning` rules
  * log but never reject (validation.py:155-165).
  *
  * @param errorType stable machine key, e.g. "orphan_user"
  * @param severity  "error" (rejects the row) or "warning" (logs only)
  * @param condition boolean Column; true means VIOLATION
  * @param message   human-readable message Column (may interpolate row values)
  */
final case class Rule(errorType: String, severity: String, condition: Column, message: Column)

object Rule {
  val Error = "error"
  val Warning = "warning"
  def error(errorType: String, condition: Column, message: Column): Rule =
    Rule(errorType, Error, condition, message)
  def warning(errorType: String, condition: Column, message: Column): Rule =
    Rule(errorType, Warning, condition, message)
}

/** Set-based rule engine: evaluates every rule in ONE projection pass and
  * yields both streams (valid rows, error log) from the same annotated
  * DataFrame — no per-row Python loop, no second scan.
  *
  * Design (SURVEY.md §2.9 U1): a `failed_rules` column of
  * `array<struct<error_type,severity,message>>` built with
  * `array(when(rule, struct(...)), ...)` + `filter(isNotNull)`. The error
  * stream is `explode(failed_rules)` (a built-in Generator — codegen
  * friendly, stays inside whole-stage codegen); validity is
  * `!exists(failed_rules, severity == 'error')`. Each output is a narrow
  * transformation over the annotated frame, so at 100 TB the contract costs
  * one scan and zero shuffles.
  */
final class Validator(rules: Seq[Rule], entity: String, recordId: Column,
                      val tableName: String = "") {

  val failedRulesCol = "failed_rules"

  /** Input + `failed_rules` array column (empty array when clean). */
  def annotate(df: DataFrame): DataFrame = {
    val fired = rules.map { r =>
      when(
        r.condition,
        struct(
          lit(r.errorType).as("error_type"),
          lit(r.severity).as("severity"),
          r.message.as("message")
        )
      )
    }
    df.withColumn(failedRulesCol, filter(array(fired: _*), x => x.isNotNull))
  }

  private def hasError(c: Column): Column =
    exists(c, r => r.getField("severity") === Rule.Error)

  /** Rows with no error-severity violation (warnings pass through),
    * `failed_rules` dropped. */
  def valid(annotated: DataFrame): DataFrame =
    annotated.filter(!hasError(col(failedRulesCol))).drop(failedRulesCol)

  /** Rows rejected by at least one error-severity rule. */
  def rejected(annotated: DataFrame): DataFrame =
    annotated.filter(hasError(col(failedRulesCol))).drop(failedRulesCol)

  /** The error events: one row per (record, fired rule). Tagged with
    * `table_name`, they are the input of [[graft.audit.Audit.errorLog]],
    * which builds the reference `etl_error_log` rows
    * (ETL/scripts/create_db.py:29-42). */
  def errors(annotated: DataFrame): DataFrame =
    annotated
      .select(recordId.cast("string").as("record_id"), explode(col(failedRulesCol)).as("e"))
      .select(
        lit(entity).as("entity"),
        col("record_id"),
        col("e.error_type").as("error_type"),
        col("e.severity").as("severity"),
        col("e.message").as("message")
      )
}
