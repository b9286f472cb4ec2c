package graft.dims

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Calendar dimension builder (reference ETL/etl.py:122-144).
  *
  * `date_id` is the smart key `int(yyyyMMdd)` (etl.py:119-120); `week` and
  * `weekday` are ISO calendar values (`d.isocalendar()`, etl.py:131):
  * `weekofyear` in Spark is already ISO-8601, and `weekday(c)` is 0=Monday
  * so `+1` yields ISO weekday (1=Mon..7=Sun).
  *
  * Built from the *data's own* distinct dates — a distinct over dates is
  * a tiny aggregation even at 100 TB (bounded by days, not rows). The
  * reference back-fills `dim_date` per transaction date (etl.py:320-324);
  * [[graft.pipeline.EtlRun]] loads only transactions dated `today`, so
  * it appends the row of a one-date frame holding `today` when the table
  * lacks it.
  */
object DimDate {
  def dateId(c: Column): Column = date_format(c, "yyyyMMdd").cast("int")

  /** Distinct calendar rows for every date appearing in `dates`. */
  def fromDates(df: DataFrame, dateCol: Column): DataFrame = {
    val d = to_date(dateCol)
    df.select(d.as("full_date"))
      .where(col("full_date").isNotNull)
      .distinct()
      .select(
        dateId(col("full_date")).as("date_id"),
        col("full_date"),
        year(col("full_date")).as("year"),
        month(col("full_date")).as("month"),
        dayofmonth(col("full_date")).as("day"),
        weekofyear(col("full_date")).as("week"),
        (weekday(col("full_date")) + 1).as("weekday")
      )
  }
}
