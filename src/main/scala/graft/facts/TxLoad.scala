package graft.facts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dims.DimDate
import graft.ops.{AsOfJoin, Dedup}

/** The composed fact-transaction load (reference ETL/etl.py:307-381):
  * anti-join against already-loaded ids → per-row date parse + dim_date
  * backfill → point-in-time user/product SK lookups (orphans warned and
  * skipped) → in-batch composite-PK first-wins dedup → fact projection.
  *
  * One J5 entry point: with a sidecar prune (EtlRun) the anti-join reads
  * only the fact partitions the per-`load_date` id index could not rule
  * out ([[Dedup.antiJoinExistingPartitionPruned]]); without one it is the
  * exact [[Dedup.antiJoinExisting]] against every loaded id. Both PIT
  * lookups are broadcast equi-joins with zero fact-side exchanges
  * ([[AsOfJoin.pitLookup]]), and the first-wins window reuses the
  * anti-join's hash partitioning on `transaction_id` where possible — so
  * the load is one fact shuffle end-to-end.
  */
object TxLoad {

  /** @param validTx  validated + normalized transactions (date is
    *                  'yyyy-MM-dd', payment/status lowercased)
    * @param dimUser   full SCD2 user snapshot
    * @param dimProduct full SCD2 product snapshot
    * @param existingFact current fact_transactions (any columns incl.
    *                  transaction_id)
    * @param today     run date 'yyyy-MM-dd' (load_date stamp)
    * @param sidecarPrune when the caller maintains per-`load_date` id
    *                  sidecars ([[TxSidecar]] — EtlRun does), the
    *                  already-probed scan set + batch bloom: the anti-join
    *                  then reads ONLY those fact partitions (zero history
    *                  bytes on a disjoint-id day). Requires the sidecar
    *                  superset contract
    *                  ([[graft.ops.Dedup.antiJoinExistingPartitionPruned]]).
    *                  None keeps the plain exact anti-join.
    * @return (newFacts, warnings, dimDateRows) — warnings carry
    *         (entity, table_name, record_id, error_type, severity, message);
    *         dimDateRows are calendar rows for every loaded tx date
    *         (the reference back-fills dim_date per row, etl.py:320-324)
    */
  def load(validTx: DataFrame, dimUser: DataFrame, dimProduct: DataFrame,
           existingFact: DataFrame, today: String,
           sidecarPrune: Option[TxSidecar.Prune] = None): (DataFrame, DataFrame, DataFrame) = {

    // J5 — fidelity: keyed on transaction_id ALONE (etl.py:308-311), so a
    // partially loaded multi-product tx is never completed on re-run.
    val fresh = (sidecarPrune match {
      case Some(p) =>
        Dedup.antiJoinExistingPartitionPruned(validTx, existingFact,
          "transaction_id", "load_date",
          p.scanDates.map(java.sql.Date.valueOf), p.pruneBloom)
      case None => Dedup.antiJoinExisting(validTx, existingFact, Seq("transaction_id"))
    }).withColumn("tx_date", to_date(col("date")))

    // PIT lookups (J3). The reference probes user first and skips the row
    // before probing product (etl.py:326-360) — so a row missing BOTH only
    // warns about the user.
    val withUser = AsOfJoin.pitLookup(fresh, dimUser,
      col("user_id"), "user_id", col("tx_date"), Seq("user_sk"))
    val withBoth = AsOfJoin.pitLookup(withUser, dimProduct,
      col("product_id"), "product_id", col("tx_date"), Seq("product_sk"))

    // J6 — in-batch composite-PK dedup. The reference's "first" is
    // insertion order, which parquet does not preserve — so the tiebreak
    // among PK-duplicate rows that DIFFER (the injected 'duplicate' kind
    // mutates other columns) must name every remaining column, or the
    // kept row varies across partitionings (ordering by the PK alone is
    // a total tie inside its own window partition).
    val tiebreak = withBoth.columns
      .filterNot(Seq("transaction_id", "pit_product_sk").contains).map(col).toSeq
    val orphanUser = withBoth.filter(col("pit_user_sk").isNull)
    val orphanProduct = withBoth.filter(col("pit_user_sk").isNotNull && col("pit_product_sk").isNull)
    val resolved = withBoth.filter(col("pit_user_sk").isNotNull && col("pit_product_sk").isNotNull)
    val (kept, dups) = Dedup.firstWins(resolved,
      Seq("transaction_id", "pit_product_sk"), tiebreak)

    val facts = kept.select(
      col("transaction_id"),
      col("pit_user_sk").as("user_sk"),
      col("pit_product_sk").as("product_sk"),
      DimDate.dateId(col("tx_date")).as("date_id"),
      col("quantity"),
      col("price").as("total"),
      col("payment_type"),
      col("status"),
      to_date(lit(today)).as("load_date")
    )

    def warn(df: DataFrame, errorType: String, message: org.apache.spark.sql.Column) =
      df.select(
        lit("transaction").as("entity"),
        lit("fact_transactions").as("table_name"),
        col("transaction_id").cast("string").as("record_id"),
        lit(errorType).as("error_type"),
        lit("warning").as("severity"),
        message.as("message"))

    val warnings = warn(orphanUser, "orphan_user",
        format_string("User %s not in dim_user for transaction %s, skipping",
          col("user_id").cast("string"), col("transaction_id").cast("string")))
      .unionByName(warn(orphanProduct, "orphan_product",
        format_string("Product %s not in dim_product for transaction %s, skipping",
          col("product_id").cast("string"), col("transaction_id").cast("string"))))
      .unionByName(warn(dups, "duplicate_tx_id",
        format_string("Could not insert transaction %s: duplicate key",
          col("transaction_id").cast("string"))))

    (facts, warnings, DimDate.fromDates(kept, col("tx_date")))
  }
}
