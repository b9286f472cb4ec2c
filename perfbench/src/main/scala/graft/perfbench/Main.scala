package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.EtlRun
import graft.schemas.Schemas

/** One ETL workload: the source shape and which day its timed runs load. */
final case class Workload(name: String, shape: Shape, rerun: Boolean)

/** One timed `EtlRun.run` call and what the benchmark saw around it. */
final case class Day(wallS: Double, cpuS: Double, filesCreated: Long, bytesCreated: Long,
                     traced: Boolean, layer: Map[String, Double], failures: Seq[String])

/** Benchmark process for one run of one workload (see perfbench/README.md).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>
  *             --catalog <catalog fixture dir>
  *
  * Set-up (`setup_s`: everything from JVM start to the first timed run):
  * start the session, generate day 0's sources, bootstrap the warehouse
  * with `EtlRun.run(day 0)`, check it, and for `daily_steady` make day
  * 1's sources current. That warehouse is the snapshot every timed run starts
  * from: each one copies it (untimed) and calls `EtlRun.run` once —
  * day 1 for `daily_steady`, a re-run of day 0 for `rerun_overlap` —
  * until the timed wall reaches `--seconds`. Outputs are checked untimed
  * after each run and over the last run's warehouse. A traced run times
  * its first run with the stage listener on and probes the layers after
  * it, then repeats the run untraced, then probes the `queries` layer with
  * a catalog pass ([[Catalog]]). Metrics are printed as bare numbers; the
  * script that starts this process attaches their units from
  * BENCHMARK.json. The last stdout line is the result.
  */
object Main {
  val workloads: Map[String, Workload] = Seq(
    Workload("daily_steady", Shape(users = 20000, products = 2000, txPerDay = 10000,
      userDrift = 0.02, productRename = 0.01, productRestock = 0.01), rerun = false),
    Workload("rerun_overlap", Shape(users = 20000, products = 2000, txPerDay = 10000,
      userDrift = 0.02, productRename = 0.01, productRestock = 0.01), rerun = true),
  ).map(w => w.name -> w).toMap

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Copy `src` into a fresh `dst`. */
  private def copyTree(src: File, dst: File): Unit = {
    deleteTree(dst)
    val root = src.toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.toPath.resolve(root.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target)
    } finally walk.close()
  }

  /** Regular files under the warehouse's ETL tables: path → bytes. */
  private def listFiles(wh: File): Map[String, Long] = {
    val root = wh.toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filter(p => !Inputs.isSource(root.relativize(p).getName(0).toString))
      .filter(p => !p.getFileName.toString.startsWith("."))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally walk.close()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
    finally src.close()
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    // any integer seed; folded into the non-negative Int range the inputs use
    val seed = (BigInt(opts("seed")) mod BigInt(Int.MaxValue)).toInt
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("dir")).getAbsoluteFile
    val catalogDir = new File(opts("catalog")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors()

    val sessionT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "67108864")
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "536870912")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionT0) / 1e9

    val spans = new Spans(s"${workload.name}-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}")
    val listener = if (trace) {
      val l = new StageListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val fpRecord = new FingerprintRecord(new File(work,
      s"fingerprints/${workload.name}-${workload.shape.hashCode.toHexString}-s$seed.txt"))
    val setupFailures = mutable.ArrayBuffer[String]()

    /** Untimed check of one finished run against the table deltas. */
    def runFailures(row: Row, before: State, after: State): Seq[String] = {
      val status = if (row.getAs[String]("status") != "success") Seq("run_status") else Nil
      status ++ Checks.insertedColumns.collect {
        case (c, t) if row.getAs[Long](c) != after.counts(t) - before.counts(t) => s"inserted_vs_delta:$t"
      }
    }

    // ---- SET-UP: the snapshot every timed run starts from
    val snapshot = new File(work, "snapshot"); deleteTree(snapshot); snapshot.mkdirs()
    val inputs = new Inputs(spark, snapshot.toString, workload.shape, seed)
    val snapEtl = new EtlRun(spark, snapshot.toString)
    val opIndex = if (workload.rerun) 0 else 1
    val today = Inputs.day(opIndex)
    spans.timed("setup:generate", "run")(inputs.generate(opIndex + 1))
    // the generator's garbage would otherwise set the old generation's peak,
    // and so the process's peak RSS, by when its next collection happens
    System.gc()
    val bootRow = spans.timed("setup:bootstrap", "run")(snapEtl.run(Inputs.day(0)).first())
    val setupState = Checks.state(spark, snapEtl)
    setupFailures ++= runFailures(bootRow, State(Map.empty.withDefaultValue(0L), ""), setupState)
      .map(f => s"setup:$f")
    if (!fpRecord.check(s"setup:${Inputs.day(0)}", setupState.fingerprint))
      setupFailures += "setup:fingerprint"
    if (opIndex > 0) inputs.advance(opIndex)
    val sourceRows = inputs.sourceRows(opIndex)

    // ---- TIMED: one run at a time, each on a fresh copy of the snapshot
    val days = mutable.ArrayBuffer[Day]()
    val minDays = if (trace) 2 else 1
    var setupS = 0.0
    var opDir = snapshot
    while (days.map(_.wallS).sum < seconds || days.size < minDays) {
      val i = days.size
      val traced = trace && i == 0
      if (i > 0) deleteTree(opDir)
      opDir = new File(work, s"run$i"); copyTree(snapshot, opDir)
      val etl = new EtlRun(spark, opDir.toString)
      val filesBefore = listFiles(opDir)
      listener.foreach { l => l.reset(); l.enabled = traced }
      // collect the set-up's (or the previous run's) garbage untimed, so no
      // full collection of it lands inside the timed run
      System.gc()
      val gc0 = gcMs()
      val cpu0 = osBean.getProcessCpuTime
      val t0ms = System.currentTimeMillis()
      if (i == 0) setupS = (t0ms - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val t0 = System.nanoTime()
      val runLog = etl.run(today)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val t1ms = System.currentTimeMillis()
      listener.foreach(_.enabled = false)
      val daySpan = s"day:$i:$today"
      spans.add(daySpan, t0ms, t1ms, "run")
      val created = listFiles(opDir) -- filesBefore.keySet

      val row = runLog.first()
      val after = Checks.state(spark, etl)
      val fails = mutable.ArrayBuffer[String]() ++ runFailures(row, setupState, after)
      if (!fpRecord.check(s"run:$today", after.fingerprint)) fails += "fingerprint"
      if (workload.rerun && Checks.insertedColumns.exists { case (c, _) => row.getAs[Long](c) != 0L })
        fails += "rerun_inserted_rows"
      val layer = if (!traced) Map.empty[String, Double] else {
        org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(spark.sparkContext)
        val pipe = StageListener.dayMetrics(listener.get.finished, t1ms - t0ms, daySpan, spans)
        val (probe, agrees) = new Probes(spark, etl, snapEtl, snapshot.toString,
          new File(work, "probe-scratch").toString, spans, daySpan).run(today, row)
        if (!agrees) fails += "probe_fact_count"
        pipe ++ probe ++ Map(
          "io.files_written" -> created.keys.count(_.endsWith(".parquet")).toDouble,
          "jvm.gc_s" -> (gcMs() - gc0) / 1e3)
      }
      days += Day(wall, cpu, created.size, created.values.sum, traced, layer, fails.toSeq)
    }

    // ---- CHECKS over the last run's warehouse; a violation on the timed
    // day fails every timed run, one on an earlier day fails the set-up
    val lastEtl = new EtlRun(spark, opDir.toString)
    val invariantFails = Checks.invariants(lastEtl)
    val checked = days.map(d => d.copy(failures = d.failures ++
      invariantFails.collect { case (name, bad) if bad.contains(today) => name }))
    setupFailures ++= invariantFails.collect {
      case (name, bad) if (bad - today).nonEmpty => s"setup:$name:${(bad - today).mkString(",")}"
    }
    // error-type mix of the timed run (the set-up run is id 1)
    val mix = lastEtl.table("etl_error_log", Schemas.etlErrorLog).filter(col("run_id") > 1L)
      .groupBy("error_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    fpRecord.save()

    // ---- QUERIES (traced only): one catalog pass, after the timed runs
    val (catalogMetrics, catalogRows, catalogFailed) =
      if (!trace) (Map.empty[String, Double], Map.empty[String, Long], Seq.empty[String])
      else Catalog.run(spark, catalogDir, listener.get, spans, "run")

    // ---- METRICS
    val n = checked.size.toDouble
    val walls = checked.map(_.wallS).toVector
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "day_s" -> median(walls),
      "rows_per_s" -> sourceRows * n / walls.sum,
      "cpu_s_per_day" -> checked.map(_.cpuS).sum / n,
      "write_mb_per_day" -> checked.map(_.bytesCreated).sum / n / 1e6,
      "files_per_day" -> checked.map(_.filesCreated).sum / n,
      "peak_rss_mb" -> peakRssMb())
    val perLayer: Seq[(String, Double)] = if (!trace) Nil else {
      val tracedDay = checked.head
      // the untraced reference: this process's untraced repeats of the day
      val untracedS = median(walls.tail)
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
      (tracedDay.layer ++ catalogMetrics).toSeq.sortBy(_._1) ++ Seq(
        "jvm.heap_peak_mb" -> heapPeak,
        "jvm.session_start_s" -> sessionS,
        "trace.day_s" -> tracedDay.wallS,
        "trace.untraced_day_s" -> untracedS,
        "trace.overhead_s" -> (tracedDay.wallS - untracedS))
    }
    val reported = if (trace) perLayer else endToEnd
    val failedDays = checked.count(_.failures.nonEmpty)
    val correct = failedDays == 0 && setupFailures.isEmpty && catalogFailed.isEmpty

    spans.add("run", ManagementFactory.getRuntimeMXBean.getStartTime, System.currentTimeMillis(), "")
    spans.write(new File(work, s"spans/${spans.run}.jsonl"))
    val metricsJson = Json.obj(reported.map { case (k, v) => k -> Json.num(v) })
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload.name), "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"), "seconds" -> Json.num(seconds), "cpus" -> cpus.toString,
      "shape" -> Json.str(workload.shape.toString), "invalid_per_kind" -> inputs.perKind.toString,
      "day" -> Json.str(today), "source_rows" -> sourceRows.toString,
      "setup_failures" -> setupFailures.map(Json.str).mkString("[", ",", "]"),
      "fingerprint" -> Json.str(fpRecord.last),
      "error_mix" -> Json.obj(mix.map { case (k, v) => k -> v.toString }),
      "catalog_failed" -> catalogFailed.map(Json.str).mkString("[", ",", "]"),
      "catalog_rows" -> Json.obj(catalogRows.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "runs" -> checked.map { d => Json.obj(Seq(
        "wall_s" -> Json.num(d.wallS), "cpu_s" -> Json.num(d.cpuS), "traced" -> d.traced.toString,
        "failures" -> d.failures.map(Json.str).mkString("[", ",", "]")))
      }.mkString("[", ",", "]"),
      "metrics" -> metricsJson))
    val resultFile = new File(work, s"results/${spans.run}.json")
    resultFile.getParentFile.mkdirs()
    java.nio.file.Files.write(resultFile.toPath, (detail + "\n").getBytes("UTF-8"))
    println(detail)
    // a failed set-up fails the one run it fed; each catalog query counts once
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> (checked.size + (if (trace) Catalog.sample(catalogDir).size else 0)).toString,
      "failed" -> ((if (setupFailures.nonEmpty) checked.size else failedDays) + catalogFailed.size).toString,
      "metrics" -> metricsJson)))
    System.out.flush()
    spark.stop()
  }
}

/** Fingerprints this workload and seed produced on earlier runs in the
  * same checkout (traced or not): a later run must reproduce them. */
final class FingerprintRecord(file: File) {
  private val known = mutable.LinkedHashMap[String, String]()
  if (file.exists()) java.nio.file.Files.readAllLines(file.toPath).asScala.foreach { l =>
    l.split(" ") match { case Array(k, v) => known(k) = v; case _ => }
  }
  var last = ""

  /** True when `fp` matches what is on record for `key` (or nothing is). */
  def check(key: String, fp: String): Boolean = {
    last = fp
    known.get(key) match {
      case Some(prev) => prev == fp
      case None => known(key) = fp; true
    }
  }

  def save(): Unit = {
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath,
      known.map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
