package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds; `parent` names the
  * span that caused this one, `run` is shared by every span of one
  * benchmark process. */
final case class Span(name: String, start: Long, end: Long, parent: String, run: String) {
  def json: String =
    s"""{"name":${Json.str(name)},"start":$start,"end":$end,"parent":${Json.str(parent)},""" +
      s""""run":${Json.str(run)}}"""
}

/** In-memory span log, written once when the run ends. */
final class Spans(val run: String) {
  private val buf = mutable.ArrayBuffer[Span]()

  def add(name: String, start: Long, end: Long, parent: String): Unit =
    synchronized { buf += Span(name, start, end, parent, run) }

  /** Time `body` as span `name` under `parent`. */
  def timed[T](name: String, parent: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally add(name, t0, System.currentTimeMillis(), parent)
  }

  def write(file: java.io.File): Unit = synchronized {
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath,
      buf.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-job record: the `etl:<stage>` label [[graft.pipeline.EtlRun]] puts
  * on its jobs, the catalog family [[Catalog]] runs it under, the job
  * interval, and the task metrics of its stages. */
final class JobRec(val stage: String, val family: String, val start: Long) {
  var end: Long = -1L
  var cpuNs, gcMs, shuffleBytes, spillBytes, outputBytes = 0L
}

/** Groups Spark jobs by pipeline stage or catalog family. Registered only
  * on a traced run; `enabled` is on only while the traced `EtlRun.run` call
  * or the timed catalog pass runs. */
final class StageListener extends SparkListener {
  @volatile var enabled = false
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val desc = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val family = Option(js.properties).flatMap(p => Option(p.getProperty(Catalog.familyProperty)))
      .getOrElse("")
    val rec = new JobRec(if (desc.startsWith("etl:")) desc.stripPrefix("etl:") else "", family, js.time)
    jobs(js.jobId) = rec
    js.stageIds.foreach(stageToJob(_) = rec)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageToJob.get(te.stageId); m <- Option(te.taskMetrics)) {
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Forget everything recorded so far (start of a day or pass). */
  def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }

  /** Finished jobs since the last reset. Call after draining the bus. */
  def finished: Seq[JobRec] = synchronized { jobs.values.filter(_.end >= 0).toVector }
}

object StageListener {
  /** Pipeline stages in DAG order — the names `EtlRun` labels jobs with. */
  val stages: Seq[String] = Seq("run-id", "dim_user", "dim_product", "fact_plan", "fact_stock",
    "fact_tx", "dim_date", "error_log", "sidecar_tier", "run_log")

  /** Total length of the union of `[start, end]` intervals: concurrent
    * jobs count once, unlike a sum of job durations. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Per-layer `pipeline.*` metrics of one day of `wallMs` from its jobs,
    * plus a span per stage. */
  def dayMetrics(jobs: Seq[JobRec], wallMs: Long, daySpan: String, spans: Spans): Map[String, Double] = {
    val byStage = jobs.filter(_.stage.nonEmpty).groupBy(_.stage)
    val span = stages.map { s =>
      s -> byStage.get(s).map(js => (js.map(_.end).max - js.map(_.start).min) / 1e3).getOrElse(0.0)
    }.toMap
    val perStage = stages.flatMap { s =>
      val js = byStage.getOrElse(s, Nil)
      if (js.nonEmpty) spans.add(s"stage:$s", js.map(_.start).min, js.map(_.end).max, daySpan)
      Seq(
        s"pipeline.$s.span_s" -> span(s),
        s"pipeline.$s.busy_s" -> unionMs(js.map(j => (j.start, j.end))) / 1e3,
        s"pipeline.$s.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"pipeline.$s.shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        s"pipeline.$s.jobs" -> js.size.toDouble)
    }
    val allBusy = unionMs(jobs.map(j => (j.start, j.end)))
    val stageBusySum = stages.map(s => unionMs(byStage.getOrElse(s, Nil).map(j => (j.start, j.end)))).sum
    val critical = span("run-id") + math.max(span("dim_user"), span("dim_product")) +
      span("fact_plan") + Seq("fact_stock", "fact_tx", "dim_date", "error_log").map(span).max +
      span("sidecar_tier") + span("run_log")
    perStage.toMap ++ Map(
      "pipeline.driver_gap_s" -> (wallMs - allBusy) / 1e3,
      "pipeline.critical_path_s" -> critical,
      "pipeline.overlap" -> (if (allBusy > 0) stageBusySum.toDouble / allBusy else 0.0),
      "pipeline.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6,
      "pipeline.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "io.mb_written" -> jobs.map(_.outputBytes).sum / 1e6)
  }
}
