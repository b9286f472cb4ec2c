package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Parquet table access over the driver testdata layout (`<dir>/<name>.parquet`).
  *
  * The reference reads SQLite tables (reference ETL/etl.py:28-42); here every
  * table is a columnar Parquet file and Catalyst pushes projections/filters
  * into the scan. At cluster scale the same helpers point at a partitioned
  * table root instead of a single file — call sites never assume a layout.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** OLTP ingest from CSV with the contract philosophy: malformed lines
    * are NOT dropped or fatal — they land with nulls plus the raw line in
    * `_corrupt_record`, so the validation layer decides their fate and the
    * error log can quote the offending input (the reference's equivalent
    * is SQLite's dynamic typing letting bad text arrive for the validator,
    * SURVEY §1.5). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Same contract for JSON-lines input. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** `events.parquet` carries TIMESTAMP(NANOS), which different Spark
    * runtimes surface differently: 4.1+ reads it as TIMESTAMP_NTZ (µs
    * truncation built in); older runtimes under
    * `spark.sql.legacy.parquet.nanosAsLong` surface a raw nanos long.
    * Normalize both to a session-zone TIMESTAMP `ts` at µs precision —
    * in the UTC sessions this library runs, the NTZ→LTZ cast is the
    * identity on the underlying micros, which is exactly DuckDB's own
    * µs-truncated read of the same file, so oracle hashes line up.
    * Type-guarded so the same code runs on any of the three read shapes. */
  def eventsMicros(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ->LTZ cast interprets the wall-clock in the SESSION zone;
        // it is the identity on the underlying micros (= DuckDB's read of
        // the same file) only under a zero-offset session. A non-UTC
        // caller would silently shift every ts and break oracle-hash
        // parity, so enforce the precondition instead of documenting it.
        // (Kept as a plain cast rather than a zone-pinning convert:
        // DateStringComparePushdown unwraps exactly this cast shape to
        // push day bounds into the raw NTZ scan — q164's PushedFilters.)
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val rules = java.time.ZoneId.of(tz).getRules
        require(rules.isFixedOffset &&
            rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
          s"eventsMicros requires a zero-offset session timeZone " +
            s"(spark.sql.session.timeZone=UTC); got '$tz'")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
