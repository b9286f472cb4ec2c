package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.audit.Audit
import graft.dims.Scd2
import graft.facts.{StockHistory, TxLoad, TxSidecar}
import graft.pipeline.EtlRun
import graft.schemas.Schemas
import graft.validate.{Rules, Validator}

/** Solo probes: after a traced day, call each layer's public function on
  * that day's inputs, with the pipeline idle. The warehouse state the day
  * started from is read from `pre` (a copy taken before the day), the
  * day's own dimension snapshots from `live`; nothing is written to
  * either. Inputs are cached and counted untimed; each timed output goes
  * to a noop write (the `io` probe writes under `scratch`).
  *
  * Returns the day's per-layer metrics and whether the probed fact load
  * agrees with the pipeline's run-log count.
  */
final class Probes(spark: SparkSession, live: EtlRun, pre: EtlRun, preDir: String,
                   scratch: String, spans: Spans, daySpan: String) {

  private val held = mutable.ArrayBuffer[DataFrame]()

  private def cached(df: DataFrame): DataFrame = {
    val c = df.cache(); held += c; c.count(); c
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def solo(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    spans.timed(s"probe:$name", daySpan)(body)
    (System.nanoTime() - t0) / 1e9
  }

  def run(today: String, runRow: Row): (Map[String, Double], Boolean) =
    try probe(today, runRow) finally held.foreach(df => scala.util.Try(df.unpersist()))

  private def probe(today: String, runRow: Row): (Map[String, Double], Boolean) = {
    val m = mutable.LinkedHashMap[String, Double]()
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val runId = runRow.getAs[Long]("run_id")
    val txInserted = runRow.getAs[Long]("rows_transactions_inserted")

    // ---- io: open every ETL table of the pre-day state (listing + heal check)
    m("io.table_open_s") = solo("io.table_open") {
      Seq("dim_user" -> Schemas.dimUser, "dim_product" -> Schemas.dimProduct,
        "dim_date" -> Schemas.dimDate, "fact_transactions" -> Schemas.factTransactions,
        "fact_stock_history" -> Schemas.factStockHistory, "etl_run_log" -> Schemas.etlRunLog,
        "etl_error_log" -> Schemas.etlErrorLog)
        .foreach { case (t, s) => pre.table(t, s) }
    }

    // ---- validate: the three rule sets, as EtlRun wires them
    val users = cached(live.table("users", Schemas.users))
    val products = cached(live.table("products", Schemas.products))
    val txToday = cached(live.table("transactions", Schemas.transactions).filter(col("date") === lit(today)))
    val userV = new Validator(
      Rules.userRules(col("user_id"), col("name"), col("email"), col("join_date")),
      "user", col("user_id"), "users")
    val productV = new Validator(
      Rules.productRules(col("product_id"), col("name"), col("price"), col("stock")),
      "product", col("product_id"), "products")
    val usersAnn = cached(userV.annotate(users))
    val productsAnn = cached(productV.annotate(products))
    val validUsers = cached(userV.valid(usersAnn))
    val validProducts = cached(productV.valid(productsAnn))
    val dupW = Window.partitionBy("transaction_id").orderBy("transaction_id", "user_id", "product_id")
    val txJoined = cached(txToday
      .join(broadcast(validUsers.select(col("user_id").as("vu_user_id"))),
        col("user_id") === col("vu_user_id"), "left_outer")
      .join(broadcast(validProducts.select(col("product_id").as("vp_product_id"), col("price").as("vp_price"))),
        col("product_id") === col("vp_product_id"), "left_outer")
      .withColumn("dup_occurrence", row_number().over(dupW)))
    val txV = new Validator(
      Rules.transactionRules(col("transaction_id"), col("date"), col("user_id"),
        col("product_id"), col("quantity"), col("payment_type"), col("status"), col("price"),
        col("vu_user_id").isNotNull, col("vp_product_id").isNotNull,
        col("vp_price"), col("dup_occurrence")),
      "transaction", col("transaction_id"), "transactions")
    m("validate.solo_s") = solo("validate") {
      noop(userV.annotate(users)); noop(productV.annotate(products)); noop(txV.annotate(txJoined))
    }
    val txAnn = cached(txV.annotate(txJoined))
    val rowsIn = (users.count() + products.count() + txToday.count()).toDouble
    val rejected = (userV.rejected(usersAnn).count() + productV.rejected(productsAnn).count() +
      txV.rejected(txAnn).count()).toDouble
    m("validate.rows_in") = rowsIn
    m("validate.rows_rejected") = rejected
    m("validate.valid_ratio") = ratio(rowsIn - rejected, rowsIn)
    val validTx = cached(txV.valid(txAnn)
      .withColumn("date", date_format(Rules.parseMultiDate(col("date")), "yyyy-MM-dd"))
      .withColumn("payment_type", lower(coalesce(col("payment_type"), lit(""))))
      .withColumn("status", lower(coalesce(col("status"), lit(""))))
      .drop("vu_user_id", "vp_product_id", "vp_price", "dup_occurrence"))

    // ---- dims: SCD2 merge of both dimensions against the pre-day snapshots
    val userSpec = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk", Seq("join_date"))
    val productSpec = Scd2(Seq("product_id"), Seq("name", "category", "price"), "product_sk")
    val preUserDim = cached(pre.table("dim_user", Schemas.dimUser))
    val preProductDim = cached(pre.table("dim_product", Schemas.dimProduct))
    val incomingUsers = cached(validUsers.withColumn("join_date", to_date(col("join_date"))))
    val incomingProducts = cached(validProducts.drop("stock"))
    def nextUser = userSpec.merge(preUserDim, incomingUsers, today, col("join_date"))
    def nextProduct = productSpec.merge(preProductDim, incomingProducts, today, to_date(lit(today)))
    m("dims.user.merge_s") = solo("dims.user.merge")(noop(nextUser))
    m("dims.product.merge_s") = solo("dims.product.merge")(noop(nextProduct))
    val nextUserC = cached(nextUser.select(Schemas.dimUser.fieldNames.map(col).toIndexedSeq: _*))
    val written = (nextUserC.count() + nextProduct.count()).toDouble
    val changed = (runRow.getAs[Long]("rows_users_inserted") + runRow.getAs[Long]("rows_products_inserted")).toDouble
    m("dims.rows_written") = written
    m("dims.rows_changed") = changed
    m("dims.changed_per_written") = ratio(changed, written)

    // ---- io: the staged snapshot overwrite, into scratch
    m("io.overwrite_s") = solo("io.overwrite")(graft.io.Fs.overwriteViaStaging(nextUserC, s"$scratch/dim_user"))

    // ---- facts.j5: sidecar state, batch bloom, probe, resolve
    val lastInserted = pre.table("etl_run_log", Schemas.etlRunLog)
      .agg(coalesce(expr("max_by(rows_transactions_inserted, run_id)"), lit(0L))).first().getLong(0)
    val estItems = math.max(2L * (if (lastInserted > 0L) lastInserted else validTx.count()), 65536L)
    val sidecarPath = s"$preDir/${TxSidecar.tableName}"
    var res: TxSidecar.Resolution = null
    var bb: Option[TxSidecar.BatchBloom] = None
    var nOverlap = 0
    m("facts.j5.solo_s") = solo("facts.j5") {
      val st = TxSidecar.readState(spark, sidecarPath, s"$preDir/fact_transactions")
      bb = TxSidecar.buildBatchBloom(validTx, "transaction_id", estItems)
      val (hits, n) = bb.fold((Seq.empty[String], 0))(b =>
        TxSidecar.probeState(validTx, "transaction_id", st, b, spark, sidecarPath))
      nOverlap = n
      res = TxSidecar.resolve(st, hits)
    }
    m("facts.j5.partitions_scanned") = res.scanDates.size.toDouble
    m("facts.j5.partitions_total") = res.allDates.toDouble
    m("facts.j5.scan_ratio") = ratio(res.scanDates.size, res.allDates)
    m("facts.j5.overlap_rows") = nOverlap.toDouble

    // ---- facts.tx: the PIT fact load against the day's dims, all three outputs
    val dimUserNow = cached(live.table("dim_user", Schemas.dimUser))
    val dimProductNow = cached(live.table("dim_product", Schemas.dimProduct))
    val preFacts = pre.table("fact_transactions", Schemas.factTransactions)
    def txLoad = TxLoad.load(validTx, dimUserNow, dimProductNow, preFacts, today,
      sidecarPrune = Some(res.prune(bb.map(_.bloom))))
    m("facts.tx.solo_s") = solo("facts.tx") {
      val (f, w, d) = txLoad; noop(f); noop(w); noop(d)
    }
    val (txFacts, txWarnings, _) = txLoad
    val probedInserted = txFacts.count()
    val txRowsIn = validTx.count().toDouble
    m("facts.tx.rows_in") = txRowsIn
    m("facts.tx.rows_inserted") = txInserted.toDouble
    m("facts.tx.inserted_ratio") = ratio(txInserted.toDouble, txRowsIn)

    // ---- facts.stock: change-only stock snapshot
    def stockLoad = StockHistory.load(validProducts, dimProductNow,
      pre.table("fact_stock_history", Schemas.factStockHistory), today)
    m("facts.stock.solo_s") = solo("facts.stock") {
      val (s, w) = stockLoad; noop(s); noop(w)
    }
    m("facts.stock.rows_inserted") = runRow.getAs[Long]("rows_stock_inserted").toDouble

    // ---- audit: the load-warning error log
    val warnings = cached(stockLoad._2.unionByName(txWarnings))
    m("audit.solo_s") = solo("audit")(noop(Audit.errorLog(warnings, runId)))
    m("audit.error_rows") = runRow.getAs[Long]("errors").toDouble
    m("audit.warning_rows") = runRow.getAs[Long]("warnings").toDouble

    (m.toMap, probedInserted == txInserted)
  }
}
