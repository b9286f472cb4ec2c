package graft

import org.apache.spark.sql.functions._
import graft.queries.ClusterLabels

/** The shared materialized cluster-labels artifact (consumed by q72, q134,
  * q154, q163): structural invariants plus memo/rebuild determinism — if
  * the artifact ever drifted between consumers, three green queries would
  * silently disagree about what a "cluster" is.
  */
class ClusterLabelsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("labels are min-id components, counts consistent, memo and rebuild stable") {
    val a = ClusterLabels(spark, sfDir).cache()
    // min-label propagation: the label IS the smallest member id...
    assert(a.filter(col("cluster_id") > col("doc_id")).count() === 0)
    // ...and that member exists, so representatives biject with clusters
    val reps = a.filter(col("doc_id") === col("cluster_id")).count()
    assert(reps === a.select("cluster_id").distinct().count())
    // one row per doc
    assert(a.select("doc_id").distinct().count() === a.count())
    // n_members agrees with the actual member count of every cluster
    val bad = a.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        min("n_members").as("lo"), max("n_members").as("hi"))
      .filter(col("n") =!= col("lo") || col("n") =!= col("hi"))
    assert(bad.count() === 0)
    // the injected verbatim copies (doc_id+20000) must cluster with their
    // originals — near-dup recall floor on the known-dup corpus
    val verbatimClustered = a.filter(col("doc_id") >= 20000 && col("n_members") === 1).count()
    assert(verbatimClustered === 0, "a verbatim copy escaped its cluster")

    // memoized read returns identical content
    val b = ClusterLabels(spark, sfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // rebuild after reset is deterministic (reset deletes the old scratch
    // dir, so pin a's content on the driver before invalidating it)
    val aRows = sortedRows(a)
    a.unpersist()
    ClusterLabels.reset()
    val c = ClusterLabels(spark, sfDir)
    assert(sortedRows(c) === aRows)
  }

  test("memo keys on input CONTENT: a mutated documents table rebuilds") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempDir("graft_cl_fp")
    val doc = dir.resolve("documents.parquet")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"), doc,
      StandardCopyOption.REPLACE_EXISTING)
    val art1 = ClusterLabels(spark, dir.toString).inputFiles.toSet
    // unchanged input → the memoized artifact is served again
    assert(ClusterLabels(spark, dir.toString).inputFiles.toSet === art1)
    // same bytes, newer mtime = "rewritten table" → fingerprint changes
    // and the artifact is REBUILT, never served stale
    assert(doc.toFile.setLastModified(doc.toFile.lastModified() + 2000))
    val art2 = ClusterLabels(spark, dir.toString).inputFiles.toSet
    assert(art2.intersect(art1).isEmpty, "stale artifact served after input mutation")
    ClusterLabels.reset()
  }

  test("a failed build leaks no scratch directory") {
    import java.nio.file.Files
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs = tmpRoot.listFiles()
      .filter(_.getName.startsWith("graft_cluster_labels")).map(_.getName).toSet
    val dir = tempDir("graft_cl_bad")
    Files.writeString(dir.resolve("documents.parquet"), "not parquet")
    val before = scratchDirs
    intercept[Throwable] { ClusterLabels(spark, dir.toString).count() }
    assert(scratchDirs === before, "failed build left a scratch dir behind")
  }
}
