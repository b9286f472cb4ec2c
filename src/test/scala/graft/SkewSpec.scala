package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Hot-key salted join: result parity with a plain join. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // one hot key (0) with 1000 rows, 50 cold keys with 4 rows each
  private def big = spark.range(1000).select(lit(0L).as("k"), col("id").as("v"))
    .unionByName(spark.range(200).select((col("id") % 50 + 1).as("k"), col("id").as("v")))
  private def small = spark.range(51).select(col("id").as("k"),
    concat(lit("dim"), col("id")).as("attr"))

  test("saltedJoinHotKeys equals the plain join and only salts hot keys") {
    val plain = big.join(small, Seq("k"))
    val salted = Skew.saltedJoinHotKeys(big, small, Seq("k"),
      buckets = 8, hotThreshold = 100)
    assert(sortedRows(salted.select("k", "v", "attr"))
      === sortedRows(plain.select("k", "v", "attr")))
  }
}
