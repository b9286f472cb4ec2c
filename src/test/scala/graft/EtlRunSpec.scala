package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.pipeline.EtlRun
import graft.schemas.Schemas

/** End-to-end pipeline battery (SURVEY §5): generate valid + adversarial
  * OLTP data, run two consecutive days with mutations in between, then
  * assert the reference demo.ipynb cell-26 invariants (clean OLAP), the
  * audit-log reconciliation, SCD2 versioning, and idempotent re-run.
  */
class EtlRunSpec extends SparkSpec {
  import spark.implicits._

  private val wh = tempDir("graft_e2e").toString
  private lazy val etl = new EtlRun(spark, wh)

  private val nUsers = 50
  private val nProducts = 20
  private val day1 = "2025-03-01"
  private val day2 = "2025-03-02"

  private def writeOltp(users: DataFrame, products: DataFrame, tx: DataFrame,
                        root: String = wh): Unit = {
    users.write.mode("overwrite").parquet(s"$root/users")
    products.write.mode("overwrite").parquet(s"$root/products")
    // the transactions SOURCE is partitioned by its raw date string — the
    // warehouse layout SURVEY §1.6 maps the reference's daily access to:
    // the S3 extract's `date = today` equality then prunes to ONE
    // partition directory instead of listing the whole table
    tx.write.mode("overwrite").partitionBy("date").parquet(s"$root/transactions")
    Seq("users", "products", "transactions").foreach(t =>
      spark.catalog.refreshByPath(s"$root/$t"))
  }

  private def tbl(name: String) = name match {
    case "dim_user" => etl.table(name, Schemas.dimUser)
    case "dim_product" => etl.table(name, Schemas.dimProduct)
    case "dim_date" => etl.table(name, Schemas.dimDate)
    case "fact_transactions" => etl.table(name, Schemas.factTransactions)
    case "fact_stock_history" => etl.table(name, Schemas.factStockHistory)
    case "etl_error_log" => etl.table(name, Schemas.etlErrorLog)
    case "etl_run_log" => etl.table(name, Schemas.etlRunLog)
  }

  /** Facts whose `date_id` has no `dim_date` row (the calendar FK). */
  private def orphanDates(facts: DataFrame, dimDate: DataFrame): Long =
    facts.join(dimDate, Seq("date_id"), "left_anti").count()

  // --- day 1: valid + all 14 adversarial kinds ---------------------------
  private def writeDay1(root: String): Unit = {
    val (badU, badP, badT) = Synthetic.invalid(spark, day1, nUsers, nProducts)
    writeOltp(
      Synthetic.users(spark, nUsers).unionByName(badU),
      Synthetic.products(spark, nProducts).unionByName(badP),
      Synthetic.transactions(spark, 200, day1, nUsers, nProducts).unionByName(badT), root)
  }

  private lazy val day1Run: Unit = {
    writeDay1(wh)
    etl.run(day1)
  }

  test("day 1 run succeeds and writes a run-log row with reconciled counters") {
    day1Run
    val log = tbl("etl_run_log").filter(col("run_id") === 1).collect()
    assert(log.length === 1)
    val r = log.head
    assert(r.getAs[String]("status") === "success")
    val errLog = tbl("etl_error_log").filter(col("run_id") === 1)
    assert(r.getAs[Long]("errors") ===
      errLog.filter(col("severity") === "error").count())
    assert(r.getAs[Long]("warnings") ===
      errLog.filter(col("severity") === "warning").count())
    assert(r.getAs[Long]("rows_transactions_inserted") ===
      tbl("fact_transactions").count())
  }

  test("demo cell-26 invariants: OLAP side is clean after day 1") {
    day1Run
    val du = tbl("dim_user"); val dp = tbl("dim_product")
    val ft = tbl("fact_transactions")
    // 1-2: no empty names / bad emails in dim_user
    assert(du.filter(col("name").isNull || trim(col("name")) === "").count() === 0)
    assert(du.filter(!col("email").rlike(graft.validate.Rules.emailPattern)).count() === 0)
    // 3-4: no negative-stock (tracked in fact) / overpriced products
    assert(dp.filter(col("price") >= 10000).count() === 0)
    assert(tbl("fact_stock_history").filter(col("stock") < 0).count() === 0)
    // 5: no qty <= 0 facts
    assert(ft.filter(col("quantity") <= 0).count() === 0)
    // 6-7: payment/status domains normalized + valid
    assert(ft.filter(!col("payment_type").isin(
      graft.validate.Rules.validPaymentTypes: _*)).count() === 0)
    assert(ft.filter(!col("status").isin(
      graft.validate.Rules.validStatuses: _*)).count() === 0)
    // 8-9: no orphan facts (every SK resolves to a dim row)
    assert(ft.join(du.select("user_sk"), Seq("user_sk"), "left_anti").count() === 0)
    assert(ft.join(dp.select("product_sk"), Seq("product_sk"), "left_anti").count() === 0)
    // every fact date_id exists in dim_date (backfill worked)
    assert(ft.join(tbl("dim_date").select("date_id"), Seq("date_id"), "left_anti").count() === 0)
  }

  test("audit log captured every injected error kind") {
    day1Run
    val kinds = tbl("etl_error_log").filter(col("run_id") === 1)
      .select("error_type").distinct().as[String].collect().toSet
    val expected = Set("invalid_user", "price_ge_10000", "negative_stock",
      "orphan_user", "orphan_product", "qty_zero", "qty_negative",
      "invalid_payment_type", "invalid_status",
      "duplicate_tx_id", "price_mismatch")
    assert(expected.subsetOf(kinds), s"missing: ${expected -- kinds}")
    // every row names its table: the validated source, or the fact table
    // whose load skipped it
    val tagged = tbl("etl_error_log").filter(col("run_id") === 1)
      .select("entity", "table_name").distinct().as[(String, String)].collect().toSet
    assert(Set("user" -> "users", "product" -> "products", "transaction" -> "transactions")
      .subsetOf(tagged), tagged)
    assert(tagged.map(_._2).subsetOf(Set("users", "products", "transactions",
      "fact_transactions", "fact_stock_history")), tagged)
    // fidelity: bad-date rows are INVISIBLE to the daily run — the extract
    // compares the raw date string to today, and a dd-MM-yyyy date can
    // never equal it (reference etl.py:160-168; the injected bad formats
    // in generate_invalid.py:303-309 all miss the equality too). The
    // parser itself is covered by DateParseSpec and q03/q04.
    assert(!kinds.contains("bad_date_format"))
  }

  test("day 2 with mutations: SCD2 versions, and day-1 facts are not reloaded") {
    day1Run
    val factsAfterDay1 = tbl("fact_transactions").count()
    val skAfterDay1 = tbl("dim_user").agg(max("user_sk")).first().getLong(0)

    // mutate: 5 users change email, 3 products change price (OLTP main.ipynb
    // cells 10-15); transactions continue on day 2
    val users2 = Synthetic.users(spark, nUsers).withColumn("email",
      when(col("user_id") <= 5, concat(lit("changed"), col("user_id"), lit("@example.com")))
        .otherwise(col("email")))
    val products2 = Synthetic.products(spark, nProducts).withColumn("price",
      when(col("product_id") <= 3, round(col("price") + 5.0, 2)).otherwise(col("price")))
    writeOltp(users2, products2,
      Synthetic.transactions(spark, 150, day2, nUsers, nProducts, firstId = 5001))
    etl.run(day2)

    val du = tbl("dim_user")
    // 5 changed users now have 2 versions: one expired, one current
    assert(du.filter(col("user_id") <= 5 && col("current_flag") === 0).count() === 5)
    assert(du.filter(col("user_id") <= 5 && col("current_flag") === 1)
      .filter(col("start_date") === to_date(lit(day2))).count() === 5)
    assert(du.filter(col("user_id") <= 5 && col("current_flag") === 0)
      .filter(col("end_date") === date_sub(to_date(lit(day2)), 1)).count() === 5)
    // new SKs extend past day-1 max
    assert(du.agg(max("user_sk")).first().getLong(0) === skAfterDay1 + 5)
    // unchanged users still single-version
    assert(du.filter(col("user_id") > 5 && col("user_id") <= nUsers).count() === nUsers - 5)
    // product price change -> second version + a stock row only when changed
    assert(tbl("dim_product").filter(col("product_id") <= 3).count() === 6)
    // day-1 facts were not duplicated by day 2
    assert(tbl("fact_transactions")
      .join(tbl("dim_date").filter(col("full_date") === to_date(lit(day1)))
        .select("date_id"), Seq("date_id")).count() === factsAfterDay1)
  }

  test("fact tables are partitioned by load_date (pruned daily access)") {
    day1Run
    assert(Files.exists(java.nio.file.Paths.get(
      s"$wh/fact_transactions/load_date=$day1")))
    assert(Files.exists(java.nio.file.Paths.get(
      s"$wh/fact_stock_history/load_date=$day1")))
    // a load_date filter prunes to one partition (no full-table file list)
    val pruned = tbl("fact_transactions").filter(col("load_date") === to_date(lit(day1)))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("load_date=") || scan.contains(s"load_date=$day1"))
    assert(pruned.count() > 0)
  }

  test("daily extract prunes the partitioned transactions source (S3 at 100 TB)") {
    day1Run
    val plan = etl.table("transactions", Schemas.transactions)
      .filter(col("date") === day1).queryExecution.executedPlan.toString
    // the raw-string equality lands in PartitionFilters — one directory
    // read per day, the scale path for the incremental extract
    assert(plan.contains("PartitionFilters"), plan.take(800))
    assert(plan.contains(s"= $day1"), plan.take(800))
  }

  test("sink policy: every computed sink lands one part-file per day at fixture size") {
    val whS = tempDir("graft_e2e_sinks").toString
    val etlS = new EtlRun(spark, whS)
    def parquetFiles = fileListing(whS).keySet.filter(_.endsWith(".parquet"))
    def newFilesByTable(run: => Unit): Map[String, Int] = {
      val before = parquetFiles
      run
      (parquetFiles -- before).toSeq.groupBy(f => Paths.get(f).getName(0).toString)
        .map { case (t, fs) => t -> fs.size }
    }
    writeDay1(whS)
    val day1Files = newFilesByTable(etlS.run(day1))
    // day 2 re-versions both dimensions (5 emails, 3 prices, so 3 stock
    // rows) and loads fresh transactions
    writeOltp(Synthetic.users(spark, nUsers).withColumn("email",
        when(col("user_id") <= 5, concat(lit("changed"), col("user_id"), lit("@example.com")))
          .otherwise(col("email"))),
      Synthetic.products(spark, nProducts).withColumn("price",
        when(col("product_id") <= 3, col("price") + 5.0).otherwise(col("price"))),
      Synthetic.transactions(spark, 150, day2, nUsers, nProducts, firstId = 5001), whS)
    val day2Files = newFilesByTable(etlS.run(day2))
    val computed = Seq("dim_user", "dim_product", "fact_transactions", "fact_stock_history",
      "etl_error_log")
    Seq(day1 -> day1Files, day2 -> day2Files).foreach { case (d, files) =>
      computed.foreach(t => assert(files.get(t).contains(1), s"$d $t: $files"))
    }
    // a rewritten dimension snapshot is one file in all
    Seq("dim_user", "dim_product").foreach(t =>
      assert(fileListing(s"$whS/$t").keys.count(_.endsWith(".parquet")) === 1, t))
  }

  test("append: an empty frame observes zeros above the rebalance and writes no part-file") {
    val whE = tempDir("graft_e2e_empty").toString
    // a computed frame with upstream partitions and no rows, as a re-run's
    // fact increment: the observation must still report, as zeros
    val empty = spark.range(0, 100, 1, 4).filter(col("id") < 0)
      .select(col("id"), to_date(lit(day1)).as("load_date"))
    val r = new EtlRun(spark, whE).append(empty, "t", Seq("load_date"),
      Seq(coalesce(sum("id"), lit(0L)).as("s")))
    assert((r.getLong(0), r.getLong(1)) === (0L, 0L))
    assert(!fileListing(whE).keys.exists(_.endsWith(".parquet")))
  }

  test("staged append is all-or-nothing: a mid-job failure leaves the table untouched") {
    day1Run
    import scala.jdk.CollectionConverters._
    def partFiles: Set[String] = {
      val walk = Files.walk(java.nio.file.Paths.get(s"$wh/fact_stock_history"))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val rowsBefore = tbl("fact_stock_history").count()
    val filesBefore = partFiles
    // 4 partitions, one of which raises mid-task: some tasks succeed and
    // land part-files in STAGING, but promotion never runs
    val boom = spark.range(0, 8, 1, 4).select(
      when(col("id") === 7, raise_error(lit("boom"))).otherwise(col("id")).as("x"))
    intercept[Exception] { etl.append(boom, "fact_stock_history") }
    assert(partFiles === filesBefore)
    assert(tbl("fact_stock_history").count() === rowsBefore)
  }

  test("staged append recovery: interrupted promotion completes, dead-job debris is dropped") {
    day1Run
    // use the UNPARTITIONED error log: recovered root-level part-files and
    // partition-dir layouts must not mix within one table
    val staging = java.nio.file.Paths.get(s"$wh/etl_error_log__append_staging")
    val rowsBefore = tbl("etl_error_log").count()
    import scala.jdk.CollectionConverters._
    def strayFileFrom(dir: String): java.nio.file.Path = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally w.close()
    }

    // simulate a crash AFTER job commit but MID-promotion: staging holds a
    // _SUCCESS marker plus one not-yet-moved part-file
    val strayDf = tbl("etl_error_log").limit(3).withColumn("run_id", lit(90L))
    val tmpOut = tempDir("graft_stray").toString
    strayDf.write.mode("overwrite").parquet(tmpOut)
    Files.createDirectories(staging)
    Files.createFile(staging.resolve("_SUCCESS"))
    val stray = strayFileFrom(tmpOut)
    Files.move(stray, staging.resolve("recovered-" + stray.getFileName))

    // the next append must first COMPLETE the interrupted promotion, then
    // land its own rows
    val extra = tbl("etl_error_log").limit(2).withColumn("run_id", lit(91L))
    etl.append(extra, "etl_error_log")
    assert(tbl("etl_error_log").count() === rowsBefore + 3 + 2)
    assert(tbl("etl_error_log").filter(col("run_id") === 90L).count() === 3)
    assert(!Files.exists(staging))

    // a MARKERLESS staging dir is a dead job's debris: dropped, not promoted
    Files.createDirectories(staging)
    val tmpOut2 = tempDir("graft_stray").toString
    strayDf.write.mode("overwrite").parquet(tmpOut2)
    val stray2 = strayFileFrom(tmpOut2)
    Files.move(stray2, staging.resolve("dead-" + stray2.getFileName))
    val extra2 = tbl("etl_error_log").limit(1).withColumn("run_id", lit(92L))
    etl.append(extra2, "etl_error_log")
    assert(tbl("etl_error_log").count() === rowsBefore + 3 + 2 + 1)
    assert(tbl("etl_error_log").filter(col("run_id") === 90L).count() === 3)
  }

  test("idempotent re-run: same day twice inserts nothing new") {
    day1Run
    // ensure day-2 state exists (ordering safety if run standalone)
    if (tbl("etl_run_log").filter(col("run_date") === day2).isEmpty) etl.run(day2)
    val before = (tbl("fact_transactions").count(), tbl("fact_stock_history").count(),
      tbl("dim_user").count(), tbl("dim_product").count())
    val dims = Seq("dim_user", "dim_product", "dim_date")
    val filesBefore = dims.map(t => t -> fileListing(s"$wh/$t")).toMap
    def dimEntries = Files.list(Paths.get(wh)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("dim_")).toSet
    etl.run(day2)
    val after = (tbl("fact_transactions").count(), tbl("fact_stock_history").count(),
      tbl("dim_user").count(), tbl("dim_product").count())
    assert(after === before)
    // a zero-change day rewrites no dimension: same files, same sizes, and
    // no staging debris left next to the tables
    dims.foreach(t => assert(fileListing(s"$wh/$t") === filesBefore(t), t))
    assert(dimEntries === dims.toSet)
  }

  test("every fact date_id has a dim_date row, invalid corpus included") {
    day1Run
    assert(orphanDates(tbl("fact_transactions"), tbl("dim_date")) === 0L)
    assert(tbl("dim_date").groupBy("date_id").count().filter(col("count") > 1).isEmpty)
  }

  test("torn dimension swap, then a zero-change day: table() heals and nothing is rewritten") {
    val whT = tempDir("graft_e2e_torn").toString
    val etlT = new EtlRun(spark, whT)
    writeDay1(whT)
    etlT.run(day1)
    val tables = Seq("dim_user" -> Schemas.dimUser, "dim_product" -> Schemas.dimProduct,
      "dim_date" -> Schemas.dimDate, "fact_transactions" -> Schemas.factTransactions,
      "fact_stock_history" -> Schemas.factStockHistory)
    def contents = tables.map { case (t, schema) => t -> sortedRows(etlT.table(t, schema)) }.toMap
    val before = contents
    // a crashed swap: the next snapshot was staged complete (`_SUCCESS`),
    // the live one demoted to `__old`, and the promotion never happened
    etlT.table("dim_user", Schemas.dimUser).write.parquet(s"$whT/dim_user__staging")
    Files.move(Paths.get(whT, "dim_user"), Paths.get(whT, "dim_user__old"))
    val run = etlT.run(day1).first()
    assert(run.getAs[String]("status") === "success")
    Seq("rows_users_inserted", "rows_products_inserted", "rows_stock_inserted",
      "rows_transactions_inserted").foreach(c => assert(run.getAs[Long](c) === 0L, c))
    assert(contents === before)
    Seq("dim_user__staging", "dim_user__old").foreach(d =>
      assert(!Files.exists(Paths.get(whT, d)), s"$d left behind"))
  }

  test("SQL surface: demo-notebook queries run unchanged over the warehouse") {
    day1Run
    graft.pipeline.Olap.registerViews(spark, wh)
    val cur = spark.sql(
      "SELECT count(*) FROM dim_user WHERE current_flag = 1").first().getLong(0)
    assert(cur === tbl("dim_user").filter(col("current_flag") === 1).count())
    val rollup = spark.sql(
      """SELECT error_type, severity, COUNT(*) AS count FROM etl_error_log
        |WHERE run_id = 1 GROUP BY error_type, severity ORDER BY count DESC""".stripMargin)
    assert(rollup.count() > 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM fact_transactions WHERE quantity <= 0").first().getLong(0) === 0)
  }

  test("a failing run still writes a 'failed' run-log row") {
    day1Run
    val runsBefore = tbl("etl_run_log").count()
    val sidecars = graft.facts.TxSidecar.tableName
    def sidecarRows = etl.table(sidecars, graft.facts.TxSidecar.schema).count()
    def factDates = tbl("fact_transactions").select("load_date").distinct().collect().toSet
    val (sidecarsBefore, factDatesBefore, errorsBefore) =
      (sidecarRows, factDates, tbl("etl_error_log").count())
    // break the source: user_id written as STRING clashes with the LongType
    // read schema — the scan throws mid-run (missing columns would NOT
    // fail: schema-on-read nulls them and validation just rejects rows)
    Seq(("not-a-long", "x")).toDF("user_id", "junk")
      .write.mode("overwrite").parquet(s"$wh/users")
    spark.catalog.refreshByPath(s"$wh/users")
    intercept[Exception] { etl.run("2025-03-03") }
    val log = tbl("etl_run_log").orderBy(col("run_id").desc).limit(1).collect().head
    assert(tbl("etl_run_log").count() === runsBefore + 1)
    assert(log.getAs[String]("status") === "failed")
    // the run row is all the failed day leaves behind
    assert(sidecarRows === sidecarsBefore)
    assert(factDates === factDatesBefore)
    assert(tbl("etl_error_log").count() === errorsBefore)
  }

  test("a run leaves the session's cache as it found it") {
    // EtlRun caches its validated extracts and the tagged fact subtree for
    // the day; a frame left registered would be substituted into the next
    // day's structurally equal plans (the day-reuse trap). Other suites
    // in this JVM may leave frames cached, so start from an empty cache.
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    val whC = tempDir("graft_e2e_cache").toString
    writeDay1(whC)
    val etlC = new EtlRun(spark, whC)
    for (day <- Seq(day1, day1)) { // a new day, then a re-run that scans history
      assert(cm.isEmpty)
      assert(etlC.run(day).first().getAs[String]("status") === "success")
      assert(cm.isEmpty, s"run of $day left frames cached")
    }
  }

  test("multi-day replay: five drifting days re-version dims exactly and accumulate facts without reloads") {
    // VERDICT r12 "what's missing" #2's correctness side: tools
    // .EtlReplayBench measures the N-day wall profile at corpus scale;
    // this pins the N-day STATE arithmetic at fixture scale. Every
    // expectation below is derived INDEPENDENTLY of the pipeline, from
    // the seeded drift model itself (which ids mutate on which day).
    val whM = tempDir("graft_e2e_multiday").toString
    val etlM = new EtlRun(spark, whM)
    val nU = 40; val nP = 15; val txPerDay = 60; val nDays = 5
    def day(d: Int) = java.time.LocalDate.parse("2025-03-01").plusDays(d.toLong).toString

    var users = Synthetic.users(spark, nU)
    var products = Synthetic.products(spark, nP)
    var expUserRows = nU.toLong    // dim_user versions
    var expProdRows = nP.toLong    // dim_product versions
    var expStockRows = 0L          // change-only stock snapshot rows
    var expFactRows = 0L
    // users whose SCD2 chain restarted at some replayed day: a mutation
    // re-versions with start_date = runDate, which makes a future-joiner
    // PIT-valid from that day on (Scd2.merge contract, not a bug)
    var restarted = Set.empty[Long]

    for (d <- 0 until nDays) {
      if (d > 0) {
        users = Synthetic.mutateUsers(users, 0.3, tag = s"mu$d")
        products = Synthetic.mutateProducts(products, 0.3, tag = s"mp$d")
      }
      val tx = Synthetic.transactions(spark, txPerDay, day(d), nU, nP,
        firstId = 1L + d.toLong * txPerDay)
      users.write.mode("overwrite").parquet(s"$whM/users")
      products.write.mode("overwrite").parquet(s"$whM/products")
      tx.write.mode("overwrite").partitionBy("date").parquet(s"$whM/transactions")
      Seq("users", "products", "transactions")
        .foreach(t => spark.catalog.refreshByPath(s"$whM/$t"))

      etlM.run(day(d))

      // ---- independent drift arithmetic for this day
      if (d > 0) {
        val muIds = spark.range(1, nU + 1)
          .filter(Synthetic.rnd(s"mu$d", col("id")) < 0.3)
          .as[Long].collect().toSet
        expUserRows += muIds.size    // name or email changed -> one new version
        restarted ++= muIds
        // price branch ([0, .15)) re-versions dim_product AND (new SK) a
        // stock row; stock branch ([.15, .3)) a stock row only
        expProdRows += spark.range(1, nP + 1)
          .filter(Synthetic.rnd(s"mp$d", col("id")) < 0.15).count()
        expStockRows += spark.range(1, nP + 1)
          .filter(Synthetic.rnd(s"mp$d", col("id")) < 0.3).count()
      } else expStockRows += nP     // day 1 records every product once
      // a tx loads iff its user has a PIT-valid version at the tx date:
      // join_date <= day, or the chain restarted on an earlier replay day
      val restartedPred =
        if (restarted.isEmpty) lit(false) else col("user_id").isInCollection(restarted)
      expFactRows += tx.join(
          Synthetic.users(spark, nU)
            .select(col("user_id"), to_date(col("join_date")).as("jd")), Seq("user_id"))
        .filter(col("jd") <= to_date(lit(day(d))) || restartedPred)
        .count()
    }

    def tm(name: String) = name match {
      case "dim_date" => etlM.table(name, Schemas.dimDate)
      case "dim_user" => etlM.table(name, Schemas.dimUser)
      case "dim_product" => etlM.table(name, Schemas.dimProduct)
      case "fact_transactions" => etlM.table(name, Schemas.factTransactions)
      case "fact_stock_history" => etlM.table(name, Schemas.factStockHistory)
      case "etl_run_log" => etlM.table(name, Schemas.etlRunLog)
    }
    assert(tm("dim_user").count() === expUserRows)
    assert(tm("dim_user").filter(col("current_flag") === 1).count() === nU)
    assert(tm("dim_product").count() === expProdRows)
    assert(tm("dim_product").filter(col("current_flag") === 1).count() === nP)
    assert(tm("fact_stock_history").count() === expStockRows)
    assert(tm("fact_transactions").count() === expFactRows)
    // calendar FK: every loaded fact's date has its dim_date row, and the
    // calendar holds exactly the replayed days
    assert(orphanDates(tm("fact_transactions"), tm("dim_date")) === 0L)
    assert(tm("dim_date").select(col("full_date").cast("string")).as[String].collect().toSet ===
      (0 until nDays).map(day).toSet)
    // each day's one calendar row lands in one part-file, no empty ones
    assert(fileListing(s"$whM/dim_date").keys.count(_.endsWith(".parquet")) === nDays)
    // run-log: one success row per day, insert counters reconciling to the
    // same arithmetic (totals equal the accumulated table counts)
    val runs = tm("etl_run_log")
    assert(runs.count() === nDays)
    assert(runs.filter(col("status") === "success").count() === nDays)
    assert(runs.agg(sum("rows_transactions_inserted")).first().getLong(0) === expFactRows)
    assert(runs.agg(sum("rows_stock_inserted")).first().getLong(0) === expStockRows)
    assert(runs.agg(sum("rows_users_inserted")).first().getLong(0) === expUserRows)
    assert(runs.agg(sum("rows_products_inserted")).first().getLong(0) === expProdRows)

    // J5 sidecar accounting over the same replay: one index row per day,
    // and every day after the first probed CLEAN (fresh ids are disjoint
    // from all history, so the anti-join read zero historical partitions
    // — the flat-fact_tx design point the sf10 replay measures at scale)
    val sidecars = etlM.table(graft.facts.TxSidecar.tableName, graft.facts.TxSidecar.schema)
    assert(sidecars.count() === nDays)
    val notes = runs.orderBy("run_id").select("notes").as[String].collect()
    assert(notes.forall(n => n.startsWith("j5:path=sidecar;") &&
      n.contains("hit=0;uncovered=0;scan=0/")), notes.mkString("\n"))
    // disjoint daily id blocks end every probe at the range screen: no
    // sidecar row ever overlaps the batch, so no bloom bytes are fetched
    assert(notes.forall(_.contains("overlap=0;")), notes.mkString("\n"))
    notes.zipWithIndex.foreach { case (n, i) =>
      assert(n.contains(s"scan=0/$i"), s"day $i notes: $n") // i indexed days before it
    }
  }

  test("J5 sidecar re-run: the probe scans exactly the one partition holding the replayed ids") {
    day1Run
    // a fresh day with globally new ids: probe must come back empty
    val day9 = "2025-03-09"
    writeOltp(Synthetic.users(spark, nUsers), Synthetic.products(spark, nProducts),
      Synthetic.transactions(spark, 50, day9, nUsers, nProducts, firstId = 90001))
    etl.run(day9)
    def lastNotes() = tbl("etl_run_log").orderBy(col("run_id").desc)
      .select("notes").first().getString(0)
    val fresh = lastNotes()
    assert(fresh.contains("hit=0;uncovered=0;scan=0/"), fresh)
    assert(!fresh.contains("ineffective"), fresh)

    // idempotent re-run of the SAME day: every id hits day9's sidecar —
    // the probe narrows the history read to exactly that partition
    val factsBefore = tbl("fact_transactions").count()
    etl.run(day9)
    val rerun = lastNotes()
    assert(rerun.contains("hit=1;uncovered=0;scan=1/"), rerun)
    assert(rerun.contains("overlap=1;"), rerun) // only day9's range overlaps
    assert(tbl("fact_transactions").count() === factsBefore) // nothing reloaded
  }

  test("J5 sidecar tiering e2e: mid-replay compaction keeps re-runs idempotent at month granularity") {
    val whT = tempDir("graft_e2e_tier").toString
    val etlT = new EtlRun(spark, whT)
    val nU = 20; val nP = 8; val txPerDay = 30
    // two cold months' worth of days, then a far-future day that compacts
    val days = Seq("2025-01-01", "2025-01-02", "2025-01-03",
      "2025-02-01", "2025-02-02", "2025-02-03")
    def runDay(d: String, firstId: Long): Unit = {
      Synthetic.users(spark, nU).write.mode("overwrite").parquet(s"$whT/users")
      Synthetic.products(spark, nP).write.mode("overwrite").parquet(s"$whT/products")
      Synthetic.transactions(spark, txPerDay, d, nU, nP, firstId = firstId)
        .write.mode("overwrite").partitionBy("date").parquet(s"$whT/transactions")
      Seq("users", "products", "transactions")
        .foreach(t => spark.catalog.refreshByPath(s"$whT/$t"))
      etlT.run(d)
    }
    def notesOf(runId: Int) = etlT.table("etl_run_log", Schemas.etlRunLog)
      .filter(col("run_id") === runId).select("notes").first().getString(0)

    days.zipWithIndex.foreach { case (d, i) => runDay(d, 1L + i.toLong * txPerDay) }
    // the trigger needs TxSidecar.MinFolded (30) rows folded away: seed
    // 31 cold daily rows for December 2024 (no fact partition) in one
    // write, with ids far above the replay's. One bloom over all seeded
    // ids serves every row, a superset of each row's own ids.
    val seedBase = 10000000L
    val seedBloom = graft.facts.TxSidecar.buildBatchBloom(
      spark.range(seedBase, seedBase + 3100L).toDF("transaction_id"), "transaction_id", 4096L)
      .get.bloom
    val seeded = (1 to 31).map { i =>
      val d = java.sql.Date.valueOf(f"2024-12-$i%02d")
      val lo = seedBase + (i - 1) * 100L
      org.apache.spark.sql.Row(d, lo, lo + 99L, 100L, seedBloom, d)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(seeded, 1),
      graft.facts.TxSidecar.schema)
      .write.mode("append").parquet(s"$whT/${graft.facts.TxSidecar.tableName}")
    spark.catalog.refreshByPath(s"$whT/${graft.facts.TxSidecar.tableName}")

    // day 7 (June): 37 cold dailies − 3 months = 34 ≥ 30 → tiering fires
    runDay("2025-06-01", firstId = 1000L)
    assert(notesOf(7).contains(";tier=37->3"), notesOf(7))
    val sidecars = etlT.table(graft.facts.TxSidecar.tableName, graft.facts.TxSidecar.schema)
    assert(sidecars.count() === 4) // 3 month rows + June's daily row
    assert(sidecars.filter(col("bloom").isNull).count() === 3)

    // re-run a COMPACTED day: the tier row (range-only) admits the old
    // ids, the scan expands to that month's partitions, and the exact
    // anti-join keeps the re-run idempotent — zero facts reloaded
    val factsBefore = etlT.table("fact_transactions", Schemas.factTransactions).count()
    runDay("2025-01-02", firstId = 1L + txPerDay) // same ids as original day 2
    assert(etlT.table("fact_transactions", Schemas.factTransactions).count() === factsBefore)
    val rerun = notesOf(8)
    // month granularity: the January partitions are scanned (the tier
    // row's range admits the replayed ids), but the prune still rules
    // out February and June — scanned strictly between 0 and all
    val scan = "scan=(\\d+)/(\\d+)".r.findFirstMatchIn(rerun).get
    assert(scan.group(1).toInt >= 1 && scan.group(1).toInt < scan.group(2).toInt, rerun)
    assert(!rerun.contains("ineffective"), rerun)

    // a fresh far-id day still ends at the range screen: zero scan
    runDay("2025-06-02", firstId = 5000L)
    assert(notesOf(9).contains("hit=0;uncovered=0;scan=0/"), notesOf(9))
  }
}
