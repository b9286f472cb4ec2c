package graft.tools

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.gen.Synthetic

/** Multi-day ETL replay at corpus scale (VERDICT r12 "what's missing" #2):
  * N consecutive `--today` runs of the REAL [[graft.pipeline.EtlRun]]
  * against one ACCUMULATING warehouse — dims re-versioning daily, facts
  * and audit logs appending daily — recording per-day wall and per-stage
  * job time, so the flat-vs-growing question is answered by an artifact
  * instead of a two-day fixture test.
  *
  * The daily raw inputs follow the reference's OLTP drift model
  * (populate.py change_existent_users/products + fresh transactions):
  * each day mutates a seeded ~2% of users and products (SCD2 re-version
  * triggers), decrements stock by the previous day's successful sales
  * (stock-history change rows), and appends a fresh block of transactions
  * with globally unique ids. Input staging is UNTIMED; the timed region is
  * exactly `EtlRun.run(day)` (eager — every stage write happens inside).
  * Each day also records the files the run created under the ETL tables
  * (`files_created`, `mb_created`, `files_by_table`; regular non-dot files
  * new after the run, perfbench's `files_per_day` definition).
  *
  * Growth expectations to check against the artifact (all by design):
  *  - dim_user/dim_product snapshot rewrite: current rows + ~2%/day closed
  *    versions → linear in days but tiny slope (the SCD2 full-snapshot
  *    rewrite is the suspect the verdict named); every replayed day
  *    drifts both, so none takes the no-new-version skip of `Scd2.persist`;
  *  - dim_date: one filtered read + one-row append per day → flat;
  *  - fact_transactions anti-join (J5: id-only vs the WHOLE target, the
  *    reference's re-run contract): the per-`load_date` id sidecars
  *    (graft.facts.TxSidecar) prune the history read to the partitions an
  *    incoming id could hit — zero on a fresh-id day — so the J5 cost
  *    stays flat in loaded days; the run-log notes carry the scan ratio;
  *  - fact_stock_history current-flag probe (J2/P2): the daily sales
  *    decrement (2M tx over 50k products) touches nearly every product,
  *    so the table grows ~nProducts/day — near-linear growth IS the
  *    designed baseline here, not a regression signal (ADVICE r13).
  *
  * Usage: tools/run_main.sh graft.tools.EtlReplayBench
  *   env SPARK_GRAFT_DAYS      (default 30)
  *       SPARK_GRAFT_USERS     (default 500000)
  *       SPARK_GRAFT_PRODUCTS  (default 50000)
  *       SPARK_GRAFT_TX_PER_DAY(default 2000000)  ≈ sf10 facts over 30 days
  *       SPARK_GRAFT_CPUS      (default: available processors)
  *       SPARK_GRAFT_OUT       (default /tmp/BENCH_etl_replay.json)
  *       SPARK_GRAFT_WH        persistent warehouse dir (default: fresh
  *                             temp dir, deleted on exit; a given dir is
  *                             KEPT, enabling resume + A/B on one state)
  *       SPARK_GRAFT_FROM      first day index (default 0; resuming needs
  *                             SPARK_GRAFT_WH pointing at a warehouse that
  *                             already holds days 0..FROM-1)
  */
object EtlReplayBench {

  def main(args: Array[String]): Unit = {
    import graft.Session.intEnv
    val days = intEnv("SPARK_GRAFT_DAYS", 30, 1)
    val nUsers = intEnv("SPARK_GRAFT_USERS", 500000, 1)
    val nProducts = intEnv("SPARK_GRAFT_PRODUCTS", 50000, 1)
    val txPerDay = intEnv("SPARK_GRAFT_TX_PER_DAY", 2000000, 1)
    val cpus = graft.Session.cpus()
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT", "/tmp/BENCH_etl_replay.json")
    val fromDay = intEnv("SPARK_GRAFT_FROM", 0, 0)

    // the daily increment is MB-scale: AQE starts at core count (the
    // factory default), the posture q180 adopted for exactly this job
    // shape (VERDICT r11 #3)
    val spark = graft.Session.builder(cpus).getOrCreate()

    // per-stage attribution: EtlRun labels each phase's jobs "etl:<stage>"
    val active = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageMs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc.startsWith("etl:")) active.put(js.jobId, (js.time, desc.stripPrefix("etl:")))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(active.remove(je.jobId)).foreach { case (t0, stage) =>
          stageMs.computeIfAbsent(stage, _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(je.time - t0): Unit
        }
    })

    val wh = sys.env.get("SPARK_GRAFT_WH") match {
      case Some(dir) => // persistent: kept across runs for resume / solo A/B
        val f = new java.io.File(dir); f.mkdirs(); f
      case None =>
        graft.io.Fs.deleteLocalOnExit(
          java.nio.file.Files.createTempDirectory("graft_etl_replay").toFile)
    }
    def path(t: String) = s"$wh/$t"
    // regular, non-dot files under the ETL tables (the sources excluded):
    // path → bytes, perfbench's files_per_day / write_mb_per_day definition
    val sources = Set("users", "products", "transactions")
    def etlFiles(): Map[String, Long] = {
      val root = wh.toPath
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => !sources(root.relativize(p).getName(0).toString))
        .filter(p => !p.getFileName.toString.startsWith("."))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
      finally walk.close()
    }
    // day 0 follows the last `Synthetic.users` join date (2024-01-01 +
    // 700 days), so every generated user is PIT-valid from the first day
    def day(d: Int) = java.time.LocalDate.parse("2026-01-01").plusDays(d.toLong).toString

    val etl = new graft.pipeline.EtlRun(spark, wh.toString)
    val perDay = Vector.newBuilder[String]

    for (d <- fromDay until days) {
      val today = day(d)

      // ---- UNTIMED input staging: the OLTP side drifts, the ETL ingests.
      // users/products: day 0 generates the base; later days mutate a
      // seeded ~2% of the PREVIOUS raw snapshot (read back from the
      // warehouse so the lineage stays one mutation deep, not d deep).
      val (users, products) =
        if (d == 0)
          (Synthetic.users(spark, nUsers), Synthetic.products(spark, nProducts))
        else {
          val prevU = spark.read.schema(graft.schemas.Schemas.users).parquet(path("users"))
          val prevP = spark.read.schema(graft.schemas.Schemas.products).parquet(path("products"))
          val prevTx = spark.read.schema(graft.schemas.Schemas.transactions)
            .parquet(path("transactions")).filter(col("date") === day(d - 1))
          // product drift re-versions dim_product via NAME (not price:
          // Synthetic.transactions prices off the base formula, so price
          // drift would flood price_mismatch warnings that the reference's
          // catalog-consistent OLTP never produces); stock drifts via +10
          // restocks and the previous day's sales decrements
          val drifted = prevP
            .withColumn("__r", Synthetic.rnd(s"mp$d", col("product_id")))
            .withColumn("name", when(col("__r") < 0.01,
              concat(col("name"), lit(s" v$d"))).otherwise(col("name")))
            .withColumn("stock", when(col("__r") >= 0.01 && col("__r") < 0.02,
              col("stock") + 10).otherwise(col("stock")))
            .drop("__r")
          (Synthetic.mutateUsers(prevU, 0.02, tag = s"mu$d"),
            Synthetic.applyStockDecrements(drifted, prevTx))
        }
      // overwrite via a temp dir: the source frames READ the same paths
      // they replace, so materialize first, then swap
      Seq("users" -> users, "products" -> products).foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(path(s"${t}__next"))
        graft.io.Fs.deleteRecursively(path(t), spark.sessionState.newHadoopConf())
        // fail FAST on a swap failure: a silent renameTo=false would leave
        // the next day reading the deleted path (ADVICE r13)
        if (!new java.io.File(path(s"${t}__next")).renameTo(new java.io.File(path(t))))
          throw new java.io.IOException(s"rename ${t}__next -> $t failed")
        // external overwrite of a path a long-lived session reads:
        // invalidate cached plans/listings for it (EtlRunSpec.writeOltp's
        // documented pattern)
        spark.catalog.refreshByPath(path(t))
      }
      Synthetic.transactions(spark, txPerDay, today, nUsers, nProducts,
          firstId = 1L + d.toLong * txPerDay)
        .write.mode("append").partitionBy("date").parquet(path("transactions"))
      spark.catalog.refreshByPath(path("transactions"))

      // ---- TIMED: the pipeline itself (eager; run-log row forced inside).
      // Clear BOTH maps: a stale `active` entry whose job-end arrives
      // later would bleed its duration into this day (ADVICE r13).
      stageMs.clear()
      active.clear()
      val filesBefore = etlFiles()
      val t0 = System.nanoTime()
      val runLog = etl.run(today)
      val (status, runNotes) = {
        val r = runLog.select("status", "notes").first()
        (r.getString(0), Option(r.getString(1)).getOrElse(""))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val created = etlFiles() -- filesBefore.keySet
      // deterministic drain (not a fixed sleep): every queued listener
      // event is delivered before the per-stage snapshot
      org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(spark.sparkContext)

      // ---- UNTIMED: accumulation telemetry
      import graft.schemas.Schemas
      val factRows = etl.table("fact_transactions", Schemas.factTransactions).count()
      val dimUserRows = etl.table("dim_user", Schemas.dimUser).count()
      val dimProductRows = etl.table("dim_product", Schemas.dimProduct).count()
      val stockRows = etl.table("fact_stock_history", Schemas.factStockHistory).count()
      val errRows = etl.table("etl_error_log", Schemas.etlErrorLog).count()

      val stages = stageMs.asScala.toSeq.sortBy(-_._2.get())
          .map { case (k, v) => s""""$k":${v.get() / 1e3}""" }.mkString(",")
      val filesByTable = created.keys.groupBy(f => java.nio.file.Paths.get(f).getName(0).toString)
        .toSeq.sortBy(_._1).map { case (t, fs) => s""""$t":${fs.size}""" }.mkString(",")
      // the run row's notes carry the J5 sidecar prune stats (scan set
      // size, ineffective flag) — the per-day observability VERDICT r14
      // asked to land in replay artifacts
      val line = s"""{"day":"$today","i":$d,"wall_s":${math.round(wall * 1000) / 1000.0},""" +
        s""""status":"$status","notes":"$runNotes","fact_tx_rows":$factRows,""" +
        s""""dim_user_rows":$dimUserRows,""" +
        s""""dim_product_rows":$dimProductRows,"stock_rows":$stockRows,""" +
        s""""error_rows":$errRows,"files_created":${created.size},""" +
        s""""mb_created":${math.round(created.values.sum / 1e3) / 1e3},""" +
        s""""files_by_table":{$filesByTable},"stage_s":{$stages}}"""
      System.err.println(s"[etl-replay] $line")
      perDay += line
    }

    val daysJson = perDay.result().mkString("[", ",", "]")
    val doc = s"""{"metric":"etl_replay","days":$days,"from_day":$fromDay,"n_users":$nUsers,""" +
      s""""n_products":$nProducts,"tx_per_day":$txPerDay,"cpus":$cpus,""" +
      s""""per_day":$daysJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(doc)
    spark.stop()
  }
}
