package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling join helper for the 100 TB path.
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) already handles sort-merge skew at runtime; this helper covers
  * the case AQE cannot: a shuffled join whose hot keys are known or
  * measurable up front, where salting turns one straggler partition into
  * `buckets` parallel ones.
  *
  * Shape: the big (skewed) side's hot keys get a salt in [0, buckets);
  * the small side's hot keys are exploded `buckets`× with every salt
  * value; the join key becomes (key, salt). Row multiplication happens only on the SMALL side
  * — the big side is never duplicated — so the extra cost is
  * `buckets × |small|`, bought back by removing the straggler.
  */
object Skew {

  /** Salt ONLY the keys that are actually hot (two-pass): measure key
    * frequencies on the big side, salt keys above `hotThreshold` rows,
    * pass the rest through un-salted. The frequency aggregate is key-sized
    * and broadcast; cold keys pay zero overhead.
    */
  def saltedJoinHotKeys(big: DataFrame, small: DataFrame, keys: Seq[String],
                        buckets: Int, hotThreshold: Long): DataFrame = {
    val kc = keys.map(col)
    val hot = big.groupBy(kc: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold).select(kc: _*)
      .withColumn("__hot", lit(true))
    // salt = hash(all columns, row id): the row id disambiguates fully
    // identical duplicate rows of a hot key (the common fact-load skew),
    // which a pure content hash would pile into ONE salt bucket. The salt
    // never affects join results (the small side carries every salt), only
    // the shuffle distribution, so the id's run-to-run instability is
    // harmless.
    val tagged = big.join(broadcast(hot), keys, "left_outer")
      .withColumn("__salt",
        when(col("__hot"),
          pmod(hash((big.columns.map(col) :+ monotonically_increasing_id()).toSeq: _*),
            lit(buckets)))
          .otherwise(lit(0)))
      .drop("__hot")
    val smallTagged = small.join(broadcast(hot), keys, "left_outer")
    val replicated = smallTagged
      .withColumn("__salt",
        when(col("__hot"), sequence(lit(0), lit(buckets - 1)))
          .otherwise(array(lit(0))))
      .withColumn("__salt", explode(col("__salt")))
      .drop("__hot")
    tagged.join(replicated, keys :+ "__salt", "inner").drop("__salt")
  }
}
