package graft.perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.SparkEntry
import graft.queries.{ClusterLabels, QCurate, QEtl, QLlm, QScale}

/** The `queries` layer probe of a traced run: a fixed sample of the
  * registered catalog queries (`SparkEntry.queries`) over the fixture
  * tables committed under `perfbench/catalog/sf0.001`. The sample and each
  * query's row count are listed in `perfbench/catalog/expected_rows.tsv`;
  * the whole catalog takes ~110 s a pass on 4 cores, too long for one run.
  *
  * One pass times each query to a noop write with the stage listener on,
  * its jobs tagged with the query's family; an observed count on the
  * same write gives the query's rows, which must equal the recorded count.
  * There is no separate warm-up pass: the ETL runs before it have warmed
  * the JVM, and a second pass ran only ~5% faster than the first (4 cores). As in
  * `graft.Bench`, cached frames are dropped after every query and the
  * shared cluster labels are built once in the pass.
  */
object Catalog {
  /** Local property naming the family of the query a job belongs to. */
  val familyProperty = "perfbench.catalog.family"

  val families: Seq[(String, Set[String])] = Seq(
    "etl" -> QEtl.all, "llm" -> QLlm.all, "curate" -> QCurate.all, "scale" -> QScale.all)
    .map { case (f, qs) => f -> qs.map(_.name).toSet }

  /** The sample listed under `fixtureDir`: query name → recorded row count. */
  def sample(fixtureDir: File): Map[String, Long] =
    java.nio.file.Files.readAllLines(new File(fixtureDir, "expected_rows.tsv").toPath).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\t"); q -> n.toLong }.toMap

  /** Runs the pass. Returns the `queries.*` metrics, each query's row
    * count, and the queries that failed (threw, or counted other rows). */
  def run(spark: SparkSession, fixtureDir: File, listener: StageListener, spans: Spans,
          parent: String): (Map[String, Double], Map[String, Long], Seq[String]) = {
    val dir = new File(fixtureDir, "sf0.001").toString
    val expected = sample(fixtureDir)
    val registry = SparkEntry.queries
    val failed = mutable.LinkedHashSet[String]() ++ expected.keys.filterNot(registry.contains)
    val queries = registry.toSeq.filter(q => expected.contains(q._1)).sortBy(_._1)
    val familyOf = families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    val sc = spark.sparkContext

    ClusterLabels.reset()
    listener.reset(); listener.enabled = true
    val wallS = mutable.Map[String, Double]().withDefaultValue(0.0)
    val rows = mutable.LinkedHashMap[String, Long]()
    val passT0 = System.currentTimeMillis()
    spans.timed("catalog:pass", parent) {
      queries.foreach { case (name, fn) =>
        sc.setLocalProperty(familyProperty, familyOf(name))
        val t0 = System.nanoTime()
        try {
          val obs = Observation(name)
          spans.timed(s"query:$name", "catalog:pass") {
            fn(spark, dir).observe(obs, count(lit(1)).as("rows"))
              .write.format("noop").mode("overwrite").save()
          }
          rows(name) = obs.get("rows").asInstanceOf[Long]
          if (rows(name) != expected(name)) failed += name
        } catch { case e: Throwable => System.err.println(s"[perfbench] $name: $e"); failed += name }
        finally {
          wallS(familyOf(name)) += (System.nanoTime() - t0) / 1e9
          sc.setLocalProperty(familyProperty, null)
          spark.catalog.clearCache()
        }
      }
    }
    val passMs = System.currentTimeMillis() - passT0
    listener.enabled = false
    val labelsS = ClusterLabels.buildSecondsSinceReset
    ClusterLabels.reset()
    org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(sc)
    val jobs = listener.finished

    val byFamily = jobs.groupBy(_.family)
    val metrics = families.flatMap { case (f, _) =>
      val js = byFamily.getOrElse(f, Nil)
      Seq(
        s"queries.$f.s" -> wallS(f),
        s"queries.$f.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"queries.$f.shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        s"queries.$f.spill_mb" -> js.map(_.spillBytes).sum / 1e6)
    }.toMap ++ Map(
      "queries.labels_build_s" -> labelsS,
      "queries.driver_gap_s" -> (passMs - StageListener.unionMs(jobs.map(j => (j.start, j.end)))) / 1e3)
    (metrics, rows.toMap, failed.toSeq)
  }
}
