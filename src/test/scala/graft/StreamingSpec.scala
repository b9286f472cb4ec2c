package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamPipelines

/** Structured Streaming twins: drain the sf0.001 events through the
  * file-source streams with Trigger.AvailableNow and compare against the
  * equivalent batch computation.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val eventsDir: String = {
    // re-materialize events at µs session-zone TIMESTAMP (source file is
    // TIMESTAMP(NANOS), which the file STREAM source's fixed schema cannot
    // read directly; eventsMicros normalizes whatever the runtime reads)
    val dir = Files.createTempDirectory("graft_stream_events").toString
    graft.io.Tables.eventsMicros(spark, sfDir)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling-window counts equal the batch aggregation") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val q = StreamPipelines.tumblingCounts(
        StreamPipelines.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(120000)

    val batch = spark.read.parquet(eventsDir)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"), col("sum_cents"))

    // append mode only emits windows the watermark has passed; every emitted
    // window must match its batch value, and most windows must have emitted
    val streamed = spark.table("tumbling")
    assert(streamed.count() > 0)
    assert(streamed.join(batch,
      Seq("window_start", "event_type", "n", "sum_cents")).count() === streamed.count())
  }

  test("streaming sliding-window counts equal the batch sliding aggregation") {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val q = StreamPipelines.slidingCounts(
        StreamPipelines.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(120000)

    val batch = spark.read.parquet(eventsDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"))

    val streamed = spark.table("sliding")
    assert(streamed.count() > 0)
    // every emitted row must match its batch twin exactly
    assert(streamed.join(batch,
      Seq("window_start", "event_type", "n")).count() === streamed.count())
    // ...and the emitted set must actually be SLIDING: all four 15-min
    // phases present (a tumbling regression would emit only :00 starts
    // yet still pass the subset check above)
    val phases = streamed
      .select(substring(col("window_start"), 15, 2).as("m"))
      .distinct().as[String].collect().toSet
    assert(phases === Set("00", "15", "30", "45"))
  }

  test("streaming SCD2 maintenance (foreachBatch) equals the batch merge") {
    import graft.dims.Scd2
    import graft.gen.Synthetic
    val dim = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk", Seq("join_date"))
    val users = Synthetic.users(spark, 60)
    val day0 = dim.init(users, col("join_date"))

    // seed the dimension snapshot, then stream a day of mutations into it
    val wh = Files.createTempDirectory("graft_scd2_stream").toString
    val dimPath = s"$wh/dim_user"
    day0.write.parquet(dimPath)
    val mutations = Synthetic.mutateUsers(users, 0.4)
      .select("user_id", "name", "email", "join_date")
    val mutDir = s"$wh/mutations"
    mutations.write.parquet(mutDir)

    val stream = spark.readStream.schema(mutations.schema).parquet(mutDir)
    val q = StreamPipelines.scd2Sink(stream, dimPath, dim,
        startForNew = col("join_date"), runDateForBatch = (_, _) => "2025-06-01")
      .option("checkpointLocation", s"$wh/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(dimPath)
    val batch = dim.merge(day0, mutations, "2025-06-01", col("join_date"))
    // identical snapshots, surrogate keys included (SK assignment is
    // deterministic in natural-key order)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // the mutation actually versioned something
    assert(streamed.filter(col("current_flag") === 0).count() > 0)
  }

  test("replaying an already-merged SCD2 batch leaves the snapshot's files untouched") {
    import graft.dims.Scd2
    import graft.gen.Synthetic
    val dim = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk", Seq("join_date"))
    val users = Synthetic.users(spark, 40)
    val day0 = dim.init(users, col("join_date"))
    val wh = Files.createTempDirectory("graft_scd2_replay").toString
    val dimPath = s"$wh/dim_user"
    day0.write.parquet(dimPath)
    val mutations = Synthetic.mutateUsers(users, 0.4)
      .select("user_id", "name", "email", "join_date")
    mutations.write.parquet(s"$wh/mutations")
    // a fresh checkpoint re-delivers the same batch, as after a lost commit
    def drain(ckpt: String): Unit = {
      val q = StreamPipelines.scd2Sink(
          spark.readStream.schema(mutations.schema).parquet(s"$wh/mutations"),
          dimPath, dim, startForNew = col("join_date"), runDateForBatch = (_, _) => "2025-06-01")
        .option("checkpointLocation", s"$wh/$ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain("ckpt1")
    val merged = fileListing(dimPath)
    assert(spark.read.parquet(dimPath).filter(col("current_flag") === 0).count() > 0)
    drain("ckpt2")
    assert(fileListing(dimPath) === merged)
    val batch = dim.merge(day0, mutations, "2025-06-01", col("join_date"))
    val streamed = spark.read.parquet(dimPath)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("two-micro-batch SCD2 sink lands exactly on the q120 registry row") {
    import graft.queries.Scd2StreamTwin
    val sfDir = "/root/testdata/sf0.001"
    val wh = Files.createTempDirectory("graft_scd2_twin").toString
    val dimPath = s"$wh/dim_user"
    Scd2StreamTwin.cur(spark, sfDir).write.parquet(dimPath)

    // two sequential AvailableNow runs over a shared checkpoint make the
    // micro-batch ORDER deterministic: run 1 sees only batch1's files,
    // run 2 only batch2's — batchIds 0 and 1, run dates d1 and d2
    val mutDir = s"$wh/mutations"
    val schema = Scd2StreamTwin.batch1(spark, sfDir).schema
    def drain(): Unit = {
      val q = StreamPipelines.scd2Sink(
          spark.readStream.schema(schema).parquet(mutDir),
          dimPath, Scd2StreamTwin.dim, startForNew = col("join_date"),
          runDateForBatch = (_, id) =>
            if (id == 0) Scd2StreamTwin.d1 else Scd2StreamTwin.d2)
        .option("checkpointLocation", s"$wh/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    Scd2StreamTwin.batch1(spark, sfDir).write.mode("append").parquet(mutDir)
    drain()
    Scd2StreamTwin.batch2(spark, sfDir).write.mode("append").parquet(mutDir)
    drain()

    val streamed = Scd2StreamTwin.project(spark.read.parquet(dimPath))
    val registry = SparkEntry.queries("q120_scd2_stream_twin")(spark, sfDir)
    assert(streamed.count() === registry.count())
    assert(streamed.exceptAll(registry).isEmpty &&
      registry.exceptAll(streamed).isEmpty)
    // both mutation waves versioned rows at their own run dates
    val ends = streamed.filter(col("current_flag") === 0)
      .select("end_date").distinct().as[String].collect().toSet
    assert(ends === Set("1998-05-31", "1998-06-14"))
  }

  test("streaming contract validation equals the batch validator split") {
    import graft.gen.Synthetic
    val day = "2025-03-01"
    val users = Synthetic.users(spark, 50)
    val products = Synthetic.products(spark, 20)
    val tx = Synthetic.transactions(spark, 300, day, 50, 20)
      .unionByName(Synthetic.invalid(spark, day, 50, 20)._3)
    val txDir = Files.createTempDirectory("graft_stream_tx").toString
    tx.write.mode("overwrite").parquet(txDir)

    val stream = spark.readStream.schema(tx.schema).parquet(txDir)
    val (valid, errors) = StreamPipelines.validateTransactions(stream, users, products)
    val out = Files.createTempDirectory("graft_stream_vout").toString
    val q1 = valid.writeStream.format("memory").queryName("valid_tx")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/c1").start()
    val q2 = errors.writeStream.format("memory").queryName("tx_errors")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/c2").start()
    q1.awaitTermination(120000); q2.awaitTermination(120000)

    val (bValid, bErrors) = StreamPipelines.validateTransactions(
      spark.read.parquet(txDir), users, products)
    assert(spark.table("valid_tx").count() === bValid.count())
    assert(spark.table("valid_tx").count() > 0)
    assert(sortedRows(spark.table("tx_errors")) === sortedRows(bErrors))
    // error severities present: injected kinds produce both levels
    assert(spark.table("tx_errors").select("severity").distinct().count() === 2)
  }

  test("dedupeStream drops re-delivered ids within the watermark") {
    val dir = Files.createTempDirectory("graft_stream_dup").toString
    // events with every 3rd id re-delivered 10 minutes later
    val base = spark.read.parquet(eventsDir).limit(600)
      .select("event_id", "ts", "user_id")
    base.unionByName(base.filter(col("event_id") % 3 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 10 MINUTES")))
      .write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG").parquet(dir)
    val out = Files.createTempDirectory("graft_dup_out").toString
    val q = StreamPipelines.dedupeStream(stream, Seq("event_id"), "ts")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(120000)

    val got = spark.table("deduped")
    assert(got.count() === 600) // every id exactly once
    assert(got.groupBy("event_id").count().filter(col("count") > 1).count() === 0)
  }

  test("stream-stream interval join matches the batch banded interval join") {
    val out = Files.createTempDirectory("graft_ij_out").toString
    val ev = StreamPipelines.readEvents(spark, eventsDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"), col("value"))
    val q = StreamPipelines.intervalJoinStream(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts", 1800)
      .select(col("event_id"), col("user_id"), col("p_ts"), col("value"))
      .writeStream.format("memory").queryName("ij")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(120000)

    val bev = spark.read.parquet(eventsDir)
    val batch = graft.ops.IntervalJoin.within(
      bev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts")),
      bev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value")),
      "user_id", "ts", "p_ts", 1800)
      .select(col("event_id"), col("user_id"), col("p_ts"), col("value"))

    val streamed = spark.table("ij")
    assert(streamed.count() > 0)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("streaming sessionization matches batch q40 sessions and q158 paths") {
    val out = Files.createTempDirectory("graft_sess_out").toString
    implicit val s = spark
    val ev = StreamPipelines.readEvents(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamPipelines.SessionEvent]
    val q = StreamPipelines.sessionize(ev)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(120000)

    val batch = SparkEntry.queries("q40_sessionize")(spark, sfDir)
      .select(col("user_id"), col("session_num").cast("long").as("session_num"),
        col("n_events"))

    val streamed = spark.table("sessions")
    assert(streamed.count() > 0)
    // every emitted (closed/timed-out) session must equal its batch twin
    assert(streamed.select("user_id", "session_num", "n_events")
      .join(batch, Seq("user_id", "session_num", "n_events")).count()
      === streamed.count())

    // ...and its PATH must equal q158's per-session first-5 aggregation
    // (the independent-harness pin for the newest registry query): rebuild
    // the batch per-session path frame with q158's exact inner shape
    import org.apache.spark.sql.expressions.Window
    val bev = spark.read.parquet(eventsDir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batchPaths = bev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_num", sum("new_session").over(run))
      .groupBy("user_id", "session_num")
      .agg(slice(array_sort(collect_list(struct(
        col("ts"), col("event_id"), col("event_type")))), 1, 5).as("s5"))
      .select(col("user_id"), col("session_num").cast("long").as("session_num"),
        concat_ws(">", expr("transform(s5, x -> x.event_type)")).as("path"))
    assert(streamed.select("user_id", "session_num", "path")
      .join(batchPaths, Seq("user_id", "session_num", "path")).count()
      === streamed.count())
  }

  test("streaming curation (fp dedup -> gate -> daily stats) equals batch q139") {
    val dir = Files.createTempDirectory("graft_curate_docs").toString
    val out = Files.createTempDirectory("graft_curate_out").toString
    val epoch = 1704067200L
    // the q139 arrival order, one sorted file so file-source arrival ==
    // (ts, doc_id) order; a far-future sentinel advances the watermark
    // past every real day window (its own window never closes/emits)
    val rows = graft.queries.QLlm.docsWithDups(spark, sfDir)
      .select(col("doc_id"),
        timestamp_seconds(lit(epoch) + col("doc_id") * 60L).as("ts"),
        col("text"))
    val sentinel = Seq((-1L, epoch + 200L * 86400L, "flush sentinel row"))
      .toDF("doc_id", "sec", "text")
      .select(col("doc_id"), timestamp_seconds(col("sec")).as("ts"), col("text"))
    rows.unionByName(sentinel)
      .repartition(1).sortWithinPartitions("ts", "doc_id")
      .write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(dir)
    val q = StreamPipelines.curateDocs(stream)
      .writeStream.format("memory").queryName("curation")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(120000)

    // the sentinel closed every REAL window: full equality, not subset
    val streamed = spark.table("curation")
    val batch = SparkEntry.queries("q139_stream_curation_twin")(spark, sfDir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming near-dup detection equals the batch twin (q178) across batches") {
    val dir = Files.createTempDirectory("graft_stream_neardup").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    val epoch = 1704067200L
    val rows = graft.queries.QLlm.docsWithDups(spark, sfDir)
      .select(col("doc_id"),
        timestamp_seconds(lit(epoch) + col("doc_id") * 60L).as("ts"),
        col("text"))
    // THREE arrival-ordered files → with maxFilesPerTrigger=1 the stream
    // sees three micro-batches, so the per-band ring state must CARRY
    // across batch boundaries for the duplicate copies (doc_id+10000/
    // +20000, all in the last file) to match their originals
    val cuts = Seq(col("doc_id") < 3000,
      col("doc_id") >= 3000 && col("doc_id") < 10000, col("doc_id") >= 10000)
    cuts.foreach { c =>
      rows.filter(c).repartition(1).sortWithinPartitions("ts", "doc_id")
        .write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes: files picked up oldest-first
    }
    val stream = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(dir)
    val q = StreamPipelines.nearDupStream(stream)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt").start()
    q.awaitTermination(180000)

    // per-band hits → the per-doc report the batch twin emits
    val streamed = spark.table("neardup")
      .groupBy("doc_id")
      .agg(min("other_id").as("dup_of"),
        round(expr("min_by(est, other_id)"), 6).as("est6"))
    val batch = SparkEntry.queries("q178_stream_neardup_twin")(spark, sfDir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0,
      "stream emitted a (doc, dup_of, est) the batch twin does not have")
    assert(batch.exceptAll(streamed).count() === 0,
      "batch twin has matches the stream missed")
    // the cross-batch carry genuinely fired: some matched doc arrived in
    // a LATER file than its dup_of original
    assert(streamed.filter(col("doc_id") >= 10000 && col("dup_of") < 3000)
      .count() > 0, "no cross-batch match — the state-carry proof is vacuous")
  }

  test("near-dup state horizon evicts dormant bands (and only dormant bands)") {
    val epoch = 1704067200L
    def docsAt(minOffset: Long, df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        timestamp_seconds(lit(epoch) + (lit(minOffset) + col("doc_id")) * 60L).as("ts"),
        col("text"))
    val base = graft.queries.QLlm.docsWithDups(spark, sfDir)
    // f1: originals (minutes 0..~10k). f2: unrelated filler far in the
    // future — its only job is advancing the WATERMARK past every
    // original band's timeout so eviction fires at the end of its batch.
    // f3: the verbatim +20000 copies, later still.
    def filler(ids: Range, minOffset: Long) = docsAt(minOffset,
      spark.range(ids.start, ids.end).select(col("id").as("doc_id"),
        concat(lit("watermark advancing filler document number "),
          col("id").cast("string"), lit(" with enough unique tokens")).as("text")))
    // f1: originals, minutes 0..9999. f2: filler A at ~minute 12000 —
    // advances the watermark read by the NEXT batch past every original
    // band's timeout (last arrival + 1 h ≤ minute 10059). f3: filler B at
    // ~minute 13000 — the batch in which the original bands hold NO data,
    // so their hasTimedOut path actually fires and removes the rings
    // (a band receiving data is served the data instead of the timeout).
    // f4: the verbatim +20000 copies at minutes 20000+ — they land in the
    // SAME band keys as their originals, and must find them empty.
    val f1 = docsAt(0, base.filter(col("doc_id") < 10000))
    val f2 = filler(50000 until 50010, -38000) // minutes 12000..12009
    val f3 = filler(60000 until 60010, -47000) // minutes 13000..13009
    val f4 = docsAt(0, base.filter(col("doc_id") >= 20000))

    def run(horizon: Option[String], name: String): org.apache.spark.sql.DataFrame = {
      val dir = Files.createTempDirectory(s"graft_evict_$name").toString
      val out = Files.createTempDirectory("graft_stream_out").toString
      Seq(f1, f2, f3, f4).foreach { f =>
        f.repartition(1).sortWithinPartitions("ts", "doc_id")
          .write.mode("append").parquet(dir)
        Thread.sleep(1100)
      }
      val stream = spark.readStream
        .option("maxFilesPerTrigger", "1")
        .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(dir)
      val q = StreamPipelines.nearDupStream(stream, stateHorizon = horizon)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/ckpt").start()
      q.awaitTermination(180000)
      spark.table(name)
    }

    // CONTROL (no horizon): the +20000 verbatim copies match their
    // originals across both filler batches — state carried
    val control = run(None, "evict_control")
    assert(control.filter(col("doc_id") >= 20000 && col("other_id") < 10000)
      .count() > 0, "control found no cross-batch match — eviction test vacuous")

    // HORIZON 1h: the original bands sit dormant through filler B's
    // batch with the watermark past their timeouts → rings removed; the
    // copies then arrive to empty state and must NOT match, while
    // matches WITHIN the original window are untouched (set-equal to
    // the control's)
    val evicted = run(Some("1 hour"), "evict_1h")
    assert(evicted.filter(col("doc_id") >= 20000 && col("other_id") < 10000)
      .count() === 0, "dormant band state survived past the horizon")
    val evOrig = evicted.filter(col("doc_id") < 10000)
    val ctOrig = control.filter(col("doc_id") < 10000)
    assert(evOrig.exceptAll(ctOrig).count() === 0 &&
      ctOrig.exceptAll(evOrig).count() === 0,
      "eviction changed matches inside the horizon window")
  }
}
