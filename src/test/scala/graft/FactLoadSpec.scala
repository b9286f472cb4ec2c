package graft

import org.apache.spark.sql.functions._
import graft.facts.{StockHistory, TxLoad}

/** Focused unit coverage of the composed fact loads (beyond the oracle
  * checks of q19/q20 and the e2e battery): warning routing, date
  * backfill rows, orphan-probe ordering, change-only insert logic.
  */
class FactLoadSpec extends SparkSpec {
  import spark.implicits._

  private def dimUser = Seq((1L, 10L, "2024-01-01", null.asInstanceOf[String]))
    .toDF("user_sk", "user_id", "start_date", "end_date")
    .withColumn("start_date", to_date(col("start_date")))
    .withColumn("end_date", to_date(col("end_date")))

  private def dimProduct = Seq((5L, 100L, "2024-01-01", null.asInstanceOf[String]))
    .toDF("product_sk", "product_id", "start_date", "end_date")
    .withColumn("start_date", to_date(col("start_date")))
    .withColumn("end_date", to_date(col("end_date")))

  private def tx(rows: (Long, String, Long, Long, Int, Double)*) =
    rows.toSeq.toDF("transaction_id", "date", "user_id", "product_id", "quantity", "price")
      .withColumn("payment_type", lit("visa")).withColumn("status", lit("success"))

  private val emptyFact = Seq.empty[Long].toDF("transaction_id")

  /** Run `body` with the given session confs, then restore them. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val onePartitionAqe =
    Seq("spark.sql.shuffle.partitions" -> "1", "spark.sql.adaptive.enabled" -> "true")
  private val sevenPartitionsNoAqe = Seq("spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "false", "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("orphan user is warned and skipped BEFORE the product probe") {
    val batch = tx((1L, "2024-02-01", 99L, 999L, 1, 10.0)) // both orphan
    val (facts, warnings, _) = TxLoad.load(batch, dimUser, dimProduct, emptyFact, "2024-02-02")
    assert(facts.count() === 0)
    val w = warnings.select("error_type").as[String].collect().toSeq
    assert(w === Seq("orphan_user")) // reference probes user first, row skipped
  }

  test("orphan product warns only when the user resolved") {
    val batch = tx((2L, "2024-02-01", 10L, 999L, 1, 10.0))
    val (_, warnings, _) = TxLoad.load(batch, dimUser, dimProduct, emptyFact, "2024-02-02")
    assert(warnings.select("error_type").as[String].collect().toSeq === Seq("orphan_product"))
  }

  test("dim_date backfill emits one calendar row per loaded tx date") {
    val batch = tx(
      (3L, "2024-02-01", 10L, 100L, 1, 10.0),
      (4L, "2024-02-03", 10L, 100L, 2, 20.0),
      (5L, "2024-02-03", 10L, 100L, 3, 30.0)) // same date as 4
    val (facts, _, dates) = TxLoad.load(batch, dimUser, dimProduct, emptyFact, "2024-02-04")
    assert(facts.count() === 3)
    assert(dates.select("date_id").distinct().as[Int].collect().toSet
      === Set(20240201, 20240203))
    val r = dates.filter(col("date_id") === 20240203).distinct().collect().head
    assert(r.getAs[Int]("year") === 2024)
    assert(r.getAs[Int]("weekday") === 6) // 2024-02-03 is Saturday (ISO)
  }

  test("anti-join on transaction_id alone blocks partially-loaded multi-product txs") {
    val batch = tx(
      (6L, "2024-02-01", 10L, 100L, 1, 10.0),
      (7L, "2024-02-01", 10L, 100L, 1, 10.0))
    val existing = Seq(6L).toDF("transaction_id")
    val (facts, _, _) = TxLoad.load(batch, dimUser, dimProduct, existing, "2024-02-02")
    assert(facts.select("transaction_id").as[Long].collect().toSeq === Seq(7L))
  }

  test("stock history inserts only changed values; first observation always records") {
    val products = Seq((100L, "p", "cat", 10.0, 7), (200L, "q", "cat", 20.0, 3))
      .toDF("product_id", "name", "category", "price", "stock")
    val dim = Seq((5L, 100L, 1), (6L, 200L, 1))
      .toDF("product_sk", "product_id", "current_flag")
    val existing = Seq((5L, 20240101, 7, "2024-01-01")) // product 100 already at 7
      .toDF("product_sk", "date_id", "stock", "load_date")
      .withColumn("load_date", to_date(col("load_date")))
    val (inserts, warnings) = StockHistory.load(products, dim, existing, "2024-02-01")
    // 100 unchanged -> skipped; 200 first observation -> recorded
    assert(inserts.select("product_sk", "stock").as[(Long, Int)].collect().toSeq
      === Seq((6L, 3)))
    assert(warnings.count() === 0)
  }

  test("J5 sidecar prune: TxLoad yields IDENTICAL facts and warnings (both prune states)") {
    // partitioned history: evens ≤ 600 live in two load_date partitions;
    // the sidecar-pruned load must match the plain path row-for-row,
    // including duplicate warnings for blocked ids
    val dir = tempDir("graft_j5_sidecar").toString
    try {
      import graft.facts.TxSidecar
      val hist = ((2L to 300L by 2).map((_, "2024-01-01")) ++
        (302L to 600L by 2).map((_, "2024-01-02")))
        .toDF("transaction_id", "load_date")
        .withColumn("load_date", to_date(col("load_date")))
      hist.write.partitionBy("load_date").parquet(s"$dir/fact")
      val existing = spark.read.parquet(s"$dir/fact")
      val batch = tx((1L to 400L).map(i => (i, "2024-02-01", 10L, 100L, 1, 10.0)): _*)

      def sidecarOf(date: String, ids: Seq[Long]) = {
        val bb = TxSidecar.buildBatchBloom(ids.toDF("transaction_id"), "transaction_id", 4096).get
        TxSidecar.Sidecar(date, date, bb.minId, bb.maxId, bb.nRows, bb.bloom)
      }
      val sidecars = Seq(sidecarOf("2024-01-01", 2L to 300L by 2),
        sidecarOf("2024-01-02", 302L to 600L by 2))
      val st = TxSidecar.State(sidecars.map(s =>
        TxSidecar.Meta(s.loadDate, s.dateMax, s.minId, s.maxId, s.nRows)),
        Seq("2024-01-01", "2024-01-02"))
      val bb = TxSidecar.buildBatchBloom(batch, "transaction_id", 4096).get
      val hits = TxSidecar.probeHitDates(batch, "transaction_id", sidecars)
      // ids 1..400 overlap both partitions' ranges (2..300 and 302..600)
      assert(hits === Seq("2024-01-01", "2024-01-02"))

      val res = TxSidecar.resolve(st, hits)
      val (plainF, plainW, _) = TxLoad.load(batch, dimUser, dimProduct, existing, "2024-02-02")
      val (scF, scW, _) = TxLoad.load(batch, dimUser, dimProduct, existing, "2024-02-02",
        sidecarPrune = Some(res.prune(Some(bb.bloom))))
      assert(sortedRows(scF) === sortedRows(plainF))
      assert(sortedRows(scW) === sortedRows(plainW))
      assert(scF.select("transaction_id").as[Long].collect().toSet === (1L to 400L by 2).toSet)
    } finally graft.io.Fs.deleteRecursively(dir, spark.sessionState.newHadoopConf())
  }

  test("fact load is identical under shuffle partitions 1 (AQE on) and 7 (AQE off)") {
    // plan-independence of the first-wins dedup: PK duplicates that differ
    // in other columns must keep the same winner whether the window runs
    // in one partition or seven, broadcast or sort-merge. The batch also
    // carries an orphan user, an orphan product and an already-loaded id.
    // It arrives through a shuffle on a non-key column (as EtlRun's
    // validated batch arrives through the validation window), so the
    // order in which duplicates reach the dedup varies with the config.
    val batch = tx(((1L to 60L).flatMap(i => Seq(
        (i, "2024-02-01", 10L, 100L, 1, 10.0 * i),
        (i, s"2024-02-0${1 + i % 3}", 10L, 100L, 2 + (i % 4).toInt, 20.0 * i))) ++ Seq(
        (61L, "2024-02-01", 99L, 100L, 1, 10.0), // orphan user
        (62L, "2024-02-01", 10L, 999L, 1, 10.0), // orphan product
        (63L, "2024-02-01", 10L, 100L, 1, 10.0))): _*) // already loaded
      .repartition(col("quantity"))
    val existing = Seq(63L).toDF("transaction_id")
    def loadUnder(conf: Seq[(String, String)]): Seq[Seq[Seq[Any]]] = withConf(conf: _*) {
      val (f, w, d) = TxLoad.load(batch, dimUser, dimProduct, existing, "2024-02-04")
      Seq(sortedRows(f), sortedRows(w), sortedRows(d))
    }
    val a = loadUnder(onePartitionAqe)
    val b = loadUnder(sevenPartitionsNoAqe)
    assert(b === a)
    val Seq(facts, warnings, _) = a
    assert(facts.size === 60) // one winner per PK; 63 blocked, 61/62 orphaned
    assert(warnings.map(_(3)).groupBy(identity).view.mapValues(_.size).toMap ===
      Map("duplicate_tx_id" -> 60, "orphan_user" -> 1, "orphan_product" -> 1))
  }

  test("split of a cached tag equals the load: every kind, both prune states, 1 and 7 partitions") {
    // one evaluation for both sinks: EtlRun caches TxLoad.tag and splits
    // it. Tx 1's orphan-user line shares (transaction_id, product_sk) with
    // a resolved line and sorts before it on the tiebreak (user 5 < 10):
    // a window over all rows that let the orphan rank first would turn
    // the resolved line into a duplicate and lose the fact.
    val dir = tempDir("graft_tag_split").toString
    Seq((6L, "2024-01-01")).toDF("transaction_id", "load_date")
      .withColumn("load_date", to_date(col("load_date")))
      .write.partitionBy("load_date").parquet(s"$dir/fact")
    val existing = spark.read.parquet(s"$dir/fact")
    val batch = tx(
      (1L, "2024-02-01", 10L, 100L, 1, 10.0),
      (1L, "2024-02-01", 5L, 100L, 1, 5.0), // orphan user beside a resolved line
      (2L, "2024-02-01", 99L, 100L, 1, 10.0), // orphan user
      (3L, "2024-02-01", 10L, 999L, 1, 10.0), // orphan product
      (4L, "2024-02-01", 99L, 999L, 1, 10.0), // both missing: warns only about the user
      (5L, "2024-02-01", 10L, 100L, 2, 20.0), // PK duplicate, other columns differ
      (5L, "2024-02-01", 10L, 100L, 1, 10.0),
      (6L, "2024-02-01", 10L, 100L, 1, 10.0)) // already loaded
      .repartition(col("quantity"))
    val bloom = graft.facts.TxSidecar.buildBatchBloom(batch, "transaction_id", 4096).get.bloom
    // the probe's two outcomes: the one partition holding tx 6 is scanned,
    // or every partition is pruned (the batch then shares no id with history)
    val pruneStates = Seq(
      "scan" -> (batch, graft.facts.TxSidecar.Prune(Seq("2024-01-01"), Some(bloom))),
      "pruned" -> (batch.filter(col("transaction_id") =!= 6L),
        graft.facts.TxSidecar.Prune(Nil, None)))
    val today = "2024-02-04"
    val expectedFacts = Seq(1L, 5L).map(id =>
      Seq(id, 1L, 5L, 20240201, 1, 10.0, "visa", "success", java.sql.Date.valueOf(today)))
    val expectedWarnings = Seq(
      (1L, "orphan_user", "User 5 not in dim_user for transaction 1, skipping"),
      (2L, "orphan_user", "User 99 not in dim_user for transaction 2, skipping"),
      (3L, "orphan_product", "Product 999 not in dim_product for transaction 3, skipping"),
      (4L, "orphan_user", "User 99 not in dim_user for transaction 4, skipping"),
      (5L, "duplicate_tx_id", "Could not insert transaction 5: duplicate key"))
      .map { case (id, kind, msg) =>
        Seq("transaction", "fact_transactions", id.toString, kind, "warning", msg) }
    for {
      conf <- Seq(onePartitionAqe, sevenPartitionsNoAqe)
      (state, (in, prune)) <- pruneStates
    } withConf(conf: _*) {
      val clue = s"$state under $conf"
      val (loadF, loadW, _) = TxLoad.load(in, dimUser, dimProduct, existing, today, Some(prune))
      val tagged = TxLoad.tag(in, dimUser, dimProduct, existing, Some(prune)).cache()
      try {
        val (f, w) = TxLoad.split(tagged, today)
        assert(sortedRows(f) === expectedFacts, clue)
        assert(sortedRows(w) === expectedWarnings, clue)
        assert(sortedRows(loadF) === expectedFacts, clue)
        assert(sortedRows(loadW) === expectedWarnings, clue)
        assert(f.schema === loadF.schema && w.schema === loadW.schema, clue)
      } finally tagged.unpersist(blocking = true)
    }
  }

  test("stock orphan (no current dim row) is warned and skipped") {
    val products = Seq((300L, "r", "cat", 5.0, 1))
      .toDF("product_id", "name", "category", "price", "stock")
    val dim = Seq((9L, 300L, 0)) // only an EXPIRED version exists
      .toDF("product_sk", "product_id", "current_flag")
    val empty = Seq.empty[(Long, Int, Int, String)]
      .toDF("product_sk", "date_id", "stock", "load_date")
    val (inserts, warnings) = StockHistory.load(products, dim, empty, "2024-02-01")
    assert(inserts.count() === 0)
    assert(warnings.select("error_type").as[String].collect().toSeq === Seq("orphan_product"))
  }
}
