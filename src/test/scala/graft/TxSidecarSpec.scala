package graft

import org.apache.spark.sql.functions._
import graft.facts.TxSidecar
import graft.ops.Dedup

/** Unit coverage of the per-load_date id-bloom sidecars (the J5
  * sublinear-history-I/O path, VERDICT r15 #1): batch bloom build, range+
  * bloom probe semantics (superset/union contracts), prune resolution
  * incl. the ineffective-prune signal, and the partition-pruned anti-join
  * identity. The EtlRun integration (sidecar rows written per day, notes
  * in the run log, crash-ordering) is covered e2e in EtlRunSpec.
  */
class TxSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def idsDf(ids: Seq[Long]) = ids.toDF("transaction_id")

  private def sidecarOf(date: String, ids: Seq[Long]): TxSidecar.Sidecar = {
    val bb = TxSidecar.buildBatchBloom(idsDf(ids), "transaction_id", 4096).get
    TxSidecar.Sidecar(date, date, bb.minId, bb.maxId, bb.nRows, bb.bloom)
  }

  private def metaOf(s: TxSidecar.Sidecar): TxSidecar.Meta =
    TxSidecar.Meta(s.loadDate, s.dateMax, s.minId, s.maxId, s.nRows)

  test("buildBatchBloom: empty batch is None; ranges and counts are exact") {
    assert(TxSidecar.buildBatchBloom(idsDf(Nil), "transaction_id", 4096).isEmpty)
    val bb = TxSidecar.buildBatchBloom(idsDf(Seq(7L, 3L, 99L)), "transaction_id", 4096).get
    assert((bb.minId, bb.maxId, bb.nRows) === (3L, 99L, 3L))
  }

  test("probe: disjoint id ranges hit nothing — the typical-day zero-scan case") {
    val history = Seq(sidecarOf("2025-03-01", 1L to 100L),
      sidecarOf("2025-03-02", 101L to 200L))
    assert(TxSidecar.probeHitDates(idsDf(Seq(201L, 300L)), "transaction_id", history).isEmpty)
  }

  test("probe: an id present in a day's partition always hits that day (no false negatives)") {
    val history = Seq(sidecarOf("2025-03-01", 1L to 100L),
      sidecarOf("2025-03-02", 101L to 200L))
    val hits = TxSidecar.probeHitDates(idsDf(Seq(150L, 999L)), "transaction_id", history)
    assert(hits.contains("2025-03-02"))
    assert(!hits.contains("2025-03-01")) // 150 and 999 are outside day 1's range
  }

  test("probe: multiple sidecar rows for one date are unioned (re-run appends)") {
    val history = Seq(sidecarOf("2025-03-01", 1L to 10L),
      sidecarOf("2025-03-01", 500L to 510L)) // same-day re-run's second row
    assert(TxSidecar.probeHitDates(idsDf(Seq(505L)), "transaction_id", history)
      === Seq("2025-03-01"))
    assert(TxSidecar.probeHitDates(idsDf(Seq(100L)), "transaction_id", history).isEmpty)
  }

  test("resolve: sidecar-less partitions are always scanned; hits add to the set") {
    val st = TxSidecar.State(Seq(metaOf(sidecarOf("2025-03-02", 1L to 10L))),
      factDates = Seq("2025-03-01", "2025-03-02"))
    val r = TxSidecar.resolve(st, hits = Seq("2025-03-02"))
    assert(r.scanDates === Seq("2025-03-01", "2025-03-02"))
    assert(r.allDates === 2)
    assert(!r.ineffective) // < 5 partitions: never flagged
  }

  test("resolve: flags the q19 signature — >=80% of >=5 indexed partitions scanned") {
    val days = (1 to 6).map(i => s"2025-03-0$i")
    val st = TxSidecar.State(days.map(d => metaOf(sidecarOf(d, 1L to 5L))), days)
    assert(TxSidecar.resolve(st, hits = days.take(5)).ineffective) // 5/6 ≥ 80%
    assert(!TxSidecar.resolve(st, hits = days.take(4)).ineffective) // 4/6 < 80%
    // below 5 indexed partitions the flag never fires (tiny warehouses)
    val small = TxSidecar.State(days.take(4).map(d => metaOf(sidecarOf(d, 1L to 5L))), days.take(4))
    assert(!TxSidecar.resolve(small, hits = days.take(4)).ineffective)
  }

  test("readState: fact partitions without a sidecar row are uncovered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_state").toString
    val conf = spark.sessionState.newHadoopConf()
    try {
      val fact = Seq((1L, "2025-03-01"), (2L, "2025-03-02"))
        .toDF("transaction_id", "load_date")
        .withColumn("load_date", to_date(col("load_date")))
      fact.write.partitionBy("load_date").parquet(s"$dir/fact_transactions")
      val bb = TxSidecar.buildBatchBloom(idsDf(Seq(1L)), "transaction_id", 1024).get
      TxSidecar.sidecarRow(spark, "2025-03-01", bb)
        .write.parquet(s"$dir/${TxSidecar.tableName}")
      val st = TxSidecar.readState(spark, s"$dir/${TxSidecar.tableName}",
        s"$dir/fact_transactions")
      assert(st.metas.map(_.loadDate) === Seq("2025-03-01"))
      assert(st.uncoveredDates === Seq("2025-03-02"))
      // two-phase round-trip: a range-overlapping batch fetches the
      // persisted bloom (pushed load_date filter) and probes true...
      val batch1 = TxSidecar.buildBatchBloom(idsDf(Seq(1L)), "transaction_id", 1024).get
      assert(TxSidecar.probeState(idsDf(Seq(1L)), "transaction_id", st, batch1,
        spark, s"$dir/${TxSidecar.tableName}") === (Seq("2025-03-01"), 1))
      // ...and a range-disjoint batch ends at the metadata screen: zero
      // hits, zero bloom rows fetched, no probe job at all
      val batch2 = TxSidecar.buildBatchBloom(idsDf(Seq(500L)), "transaction_id", 1024).get
      assert(TxSidecar.probeState(idsDf(Seq(500L)), "transaction_id", st, batch2,
        spark, s"$dir/${TxSidecar.tableName}") === (Seq.empty, 0))
    } finally graft.io.Fs.deleteRecursively(dir, conf)
  }

  test("tiering: compact rolls cold daily rows into month range rows; coverage is a superset") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_tier").toString
    val conf = spark.sessionState.newHadoopConf()
    val scPath = s"$dir/${TxSidecar.tableName}"
    try {
      // 2 months of daily rows + 2 recent days; fact partitions to match
      val days = (1 to 28).map(i => f"2025-01-$i%02d") ++
        (1 to 28).map(i => f"2025-02-$i%02d") ++ Seq("2025-04-01", "2025-04-02")
      days.zipWithIndex.foreach { case (d, i) =>
        val bb = TxSidecar.buildBatchBloom(
          idsDf(Seq(i * 100L, i * 100L + 1L)), "transaction_id", 1024).get
        TxSidecar.sidecarRow(spark, d, bb).write.mode("append").parquet(scPath)
      }
      days.map((_, 1L)).toDF("load_date", "transaction_id")
        .withColumn("load_date", to_date(col("load_date")))
        .write.partitionBy("load_date").parquet(s"$dir/fact")

      TxSidecar.compact(spark, scPath, cutoff = "2025-03-01")
      val st = TxSidecar.readState(spark, scPath, s"$dir/fact")
      // 56 cold dailies collapsed to 2 month rows; 2 recent dailies verbatim
      assert(st.metas.size === 4)
      val tiers = st.metas.filter(m => m.dateMax > m.loadDate).sortBy(_.loadDate)
      assert(tiers.map(m => (m.loadDate, m.dateMax)) ===
        Seq(("2025-01-01", "2025-01-28"), ("2025-02-01", "2025-02-28")))
      assert(tiers.map(_.nRows) === Seq(56L, 56L)) // summed member counts
      // every fact partition is still covered (superset invariant)
      assert(st.uncoveredDates.isEmpty)
      // id ranges are the union of members: Jan ids 0..2701, Feb 2800..5501
      assert(tiers.map(m => (m.minId, m.maxId)) === Seq((0L, 2701L), (2800L, 5501L)))

      // probe a batch whose ids fall inside January's range: the tier row
      // has no bloom, so the range admits it and the hit expands to the
      // month's fact partitions — coarse, but never a false negative
      val bbJan = TxSidecar.buildBatchBloom(idsDf(Seq(150L)), "transaction_id", 1024).get
      val (hits, nOv) = TxSidecar.probeState(idsDf(Seq(150L)), "transaction_id",
        st, bbJan, spark, scPath)
      assert(nOv === 1)
      assert(hits === (1 to 28).map(i => f"2025-01-$i%02d"))
      // disjoint ids still end at the range screen: zero scan
      val bbNew = TxSidecar.buildBatchBloom(idsDf(Seq(999999L)), "transaction_id", 1024).get
      assert(TxSidecar.probeState(idsDf(Seq(999999L)), "transaction_id",
        st, bbNew, spark, scPath) === (Seq.empty, 0))

      // idempotent: recompaction regroups tier rows into themselves
      TxSidecar.compact(spark, scPath, cutoff = "2025-03-01")
      val st2 = TxSidecar.readState(spark, scPath, s"$dir/fact")
      assert(st2.metas.sortBy(m => (m.loadDate, m.minId))
        === st.metas.sortBy(m => (m.loadDate, m.minId)))
    } finally graft.io.Fs.deleteRecursively(dir, conf)
  }

  test("tiering: v1 sidecar files (no date_max) read as daily rows; maybeCompact self-quenches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_v1").toString
    val conf = spark.sessionState.newHadoopConf()
    val scPath = s"$dir/${TxSidecar.tableName}"
    try {
      // write rows with the PRE-tiering 5-column schema (date_max absent)
      val v1Schema = org.apache.spark.sql.types.StructType(
        TxSidecar.schema.fields.filterNot(_.name == "date_max"))
      // 28 January days + 12 February days, one v1 row each
      val dates = (1 to 28).map(i => f"2025-01-$i%02d") ++ (1 to 12).map(i => f"2025-02-$i%02d")
      val rows = dates.zipWithIndex.map { case (d, i) =>
        val bb = TxSidecar.buildBatchBloom(idsDf(Seq(i.toLong)), "transaction_id", 1024).get
        org.apache.spark.sql.Row(java.sql.Date.valueOf(d), bb.minId, bb.maxId, bb.nRows, bb.bloom)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), v1Schema)
        .write.parquet(scPath)
      dates.map((_, 1L)).toDF("load_date", "transaction_id")
        .withColumn("load_date", to_date(col("load_date")))
        .write.partitionBy("load_date").parquet(s"$dir/fact")

      val st = TxSidecar.readState(spark, scPath, s"$dir/fact")
      assert(st.metas.forall(m => m.dateMax === m.loadDate)) // null date_max → daily
      assert(st.uncoveredDates.isEmpty)

      // 40 cold dailies − 2 target months = 38 ≥ MinFolded (30): fires
      val fired = TxSidecar.maybeCompact(spark, scPath, st, today = "2025-06-01")
      assert(fired === Some((40, 2)))
      val st2 = TxSidecar.readState(spark, scPath, s"$dir/fact")
      assert(st2.metas.size === 2)
      assert(st2.uncoveredDates.isEmpty)
      // self-quenching: tier rows contribute rows − months = 0, no re-fire
      assert(TxSidecar.maybeCompact(spark, scPath, st2, today = "2025-06-01").isEmpty)
    } finally graft.io.Fs.deleteRecursively(dir, conf)
  }

  test("tiering crash windows: an interrupted compaction swap self-heals at the next read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_crash").toString
    val conf = spark.sessionState.newHadoopConf()
    val scPath = s"$dir/${TxSidecar.tableName}"
    import org.apache.hadoop.fs.Path
    try {
      val idsByDay = Seq("2025-01-05" -> (1L to 50L), "2025-01-20" -> (100L to 150L),
        "2025-04-01" -> (1000L to 1050L))
      idsByDay.foreach { case (d, ids) =>
        val bb = TxSidecar.buildBatchBloom(idsDf(ids), "transaction_id", 1024).get
        TxSidecar.sidecarRow(spark, d, bb).write.mode("append").parquet(scPath)
      }
      idsByDay.flatMap { case (d, ids) => ids.map((_, d)) }
        .toDF("transaction_id", "load_date")
        .withColumn("load_date", to_date(col("load_date")))
        .write.partitionBy("load_date").parquet(s"$dir/fact")
      val fsys = new Path(scPath).getFileSystem(conf)

      // window A: compaction staged (_SUCCESS complete), crash right
      // after the demote — no table at the path at all
      TxSidecar.compactedFrame(spark, scPath, "2025-03-01")
        .write.mode("overwrite").parquet(scPath + "__staging")
      assert(fsys.rename(new Path(scPath), new Path(scPath + "__old")))
      // NO manual cache refresh: the heal itself must invalidate the
      // session's pre-crash listing (recoverSnapshot returns healed=true
      // and readState refreshes — the r13 stale-cache lesson)
      val st = TxSidecar.readState(spark, scPath, s"$dir/fact") // promotes staging
      assert(st.metas.size === 2) // January tier + April daily
      assert(st.metas.exists(m => m.loadDate === "2025-01-05" && m.dateMax === "2025-01-20"))
      assert(st.uncoveredDates.isEmpty) // no covered partition lost coverage
      fsys.delete(new Path(scPath + "__old"), true)

      // window B: crash mid-staging-JOB (marker-less staging) after a
      // demote — recovery must restore the demoted snapshot, not promote
      // the torn staging
      assert(fsys.rename(new Path(scPath), new Path(scPath + "__old")))
      fsys.delete(new Path(scPath + "__staging"), true)
      fsys.mkdirs(new Path(scPath + "__staging")) // no _SUCCESS inside
      val st2 = TxSidecar.readState(spark, scPath, s"$dir/fact") // restores __old
      assert(st2.metas.sortBy(m => (m.loadDate, m.minId))
        === st.metas.sortBy(m => (m.loadDate, m.minId)))
      assert(st2.uncoveredDates.isEmpty)
    } finally graft.io.Fs.deleteRecursively(dir, conf)
  }

  test("tiering: anti-join over a compacted index is identical to the plain anti-join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_tier_join").toString
    val conf = spark.sessionState.newHadoopConf()
    val scPath = s"$dir/${TxSidecar.tableName}"
    try {
      // history: odd ids on two old January days, evens on a recent day
      val hist = ((1L to 199L by 2).map((_, "2025-01-05")) ++
        (201L to 399L by 2).map((_, "2025-01-20")) ++
        (1000L to 1100L by 2).map((_, "2025-04-01")))
        .toDF("transaction_id", "load_date")
        .withColumn("load_date", to_date(col("load_date")))
      hist.write.partitionBy("load_date").parquet(s"$dir/fact")
      val existing = spark.read.parquet(s"$dir/fact")
      Seq(("2025-01-05", 1L to 199L by 2), ("2025-01-20", 201L to 399L by 2),
        ("2025-04-01", 1000L to 1100L by 2)).foreach { case (d, ids) =>
        val bb = TxSidecar.buildBatchBloom(idsDf(ids), "transaction_id", 1024).get
        TxSidecar.sidecarRow(spark, d, bb).write.mode("append").parquet(scPath)
      }
      TxSidecar.compact(spark, scPath, cutoff = "2025-03-01")
      val st = TxSidecar.readState(spark, scPath, s"$dir/fact")

      // a backfill batch hitting the compacted month: scans BOTH January
      // partitions (month granularity) but not April, and the result is
      // row-identical to the plain anti-join
      val incoming = idsDf((1L to 250L).toSeq)
      val bb = TxSidecar.buildBatchBloom(incoming, "transaction_id", 4096).get
      val (hits, _) = TxSidecar.probeState(incoming, "transaction_id", st, bb, spark, scPath)
      assert(hits === Seq("2025-01-05", "2025-01-20"))
      val res = TxSidecar.resolve(st, hits)
      assert(!res.scanDates.contains("2025-04-01"))
      val pruned = Dedup.antiJoinExistingPartitionPruned(incoming, existing,
        "transaction_id", "load_date", res.scanDates.map(java.sql.Date.valueOf),
        Some(bb.bloom))
      val plain = Dedup.antiJoinExisting(incoming, existing, Seq("transaction_id"))
      assert(sortedRows(pruned) === sortedRows(plain))
      assert(pruned.as[Long].collect().toSet === (2L to 250L by 2).toSet)
    } finally graft.io.Fs.deleteRecursively(dir, conf)
  }

  test("partition-pruned anti-join: identical to the plain anti-join under the superset contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_join").toString
    val conf = spark.sessionState.newHadoopConf()
    try {
      // history: evens 2..200 on day 1, 301..400 on day 2
      val hist = ((2L to 200L by 2).map((_, "2025-03-01")) ++
        (301L to 400L).map((_, "2025-03-02")))
        .toDF("transaction_id", "load_date")
        .withColumn("load_date", to_date(col("load_date")))
      hist.write.partitionBy("load_date").parquet(s"$dir/fact")
      val existing = spark.read.parquet(s"$dir/fact")
      val sidecars = Seq(sidecarOf("2025-03-01", 2L to 200L by 2),
        sidecarOf("2025-03-02", 301L to 400L))

      val incoming = idsDf((1L to 120L).toSeq) // overlaps day 1 only
      val bb = TxSidecar.buildBatchBloom(incoming, "transaction_id", 4096).get
      val hits = TxSidecar.probeHitDates(incoming, "transaction_id", sidecars)
      assert(hits === Seq("2025-03-01")) // day 2's range never probes true
      val res = TxSidecar.resolve(
        TxSidecar.State(sidecars.map(metaOf), Seq("2025-03-01", "2025-03-02")), hits)

      val prunedJoin = Dedup.antiJoinExistingPartitionPruned(incoming, existing,
        "transaction_id", "load_date",
        res.scanDates.map(java.sql.Date.valueOf), Some(bb.bloom))
      val plainJoin = Dedup.antiJoinExisting(incoming, existing, Seq("transaction_id"))
      assert(sortedRows(prunedJoin) === sortedRows(plainJoin))
      assert(prunedJoin.as[Long].collect().toSet === (1L to 120L by 2).toSet)
      // the day-2 partition is pruned OUT of the scan
      val plan = prunedJoin.queryExecution.executedPlan.toString
      assert(!plan.contains("load_date=2025-03-02"), plan.take(1200))

      // empty scan set: the batch passes through with NO history read
      val disjoint = idsDf(Seq(1000L, 1001L))
      val none = TxSidecar.probeHitDates(disjoint, "transaction_id", sidecars)
      assert(none.isEmpty)
      val passthrough = Dedup.antiJoinExistingPartitionPruned(disjoint, existing,
        "transaction_id", "load_date", Nil, None)
      assert(passthrough.as[Long].collect().toSet === Set(1000L, 1001L))
      assert(!passthrough.queryExecution.executedPlan.toString.contains("fact"))
    } finally graft.io.Fs.deleteRecursively(dir, conf)
  }
}
