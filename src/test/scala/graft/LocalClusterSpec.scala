package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Multi-executor equivalence: the whole point of the library is that
  * `local[32]` results carry to a real cluster, where every closure,
  * `Encoder`, and native `Expression` must SERIALIZE across JVM
  * boundaries and lineage cuts must use reliable checkpoints. This
  * spec actually crosses that boundary: it runs a representative query
  * battery on a plain local session, then re-runs it on
  * `local-cluster[2,2,1536]` — a standalone master + worker spawning
  * TWO SEPARATE EXECUTOR JVMs from $SPARK_HOME — with a checkpoint dir
  * configured, so `Fixpoint.cut` takes the reliable-`checkpoint`
  * branch (the code path no local-mode test can reach). Results must
  * be bit-identical.
  *
  * The battery spans the machinery families: parquet scan + pushdown
  * (q01), single-pass SCD2 (q06), as-of window (q07), native
  * minhash/shingle/jaccard expressions (q29), FloatCosine codegen +
  * top-k (q33), multimodal mapPartitions + case-class encoders
  * (q38/q62/q176), HOF + let-binding (q44), the composed curation
  * pipeline with chain candidates (q57), two-exchange quantiles (q64),
  * the shared ClusterLabels artifact — Components propagation under
  * reliable checkpointing (q72), embedding components (q121), the
  * mid-loop-cut PageRank fixpoint (q131), prefix-filter chains (q153),
  * the custom synthetic source (q161), and the r9 native expressions —
  * row-local repetition stats (q123), the fused MinHash signature in the
  * arrival chain (q178), and SPI-cached audio feature decode (q179).
  *
  * Runs in its OWN forked JVM (build.sbt testGrouping): it stops and
  * starts SparkContexts, which cannot coexist with the suite-wide
  * shared session.
  */
class LocalClusterSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private val battery = Seq(
    "q01_scan_project", "q06_scd2_merge", "q07_pit_lookup",
    "q29_minhash_lsh_dedup", "q33_cosine_topk", "q38_multimodal_meta",
    "q44_token_counts", "q57_corpus_curation", "q62_frame_sample",
    "q64_quantiles", "q72_dedup_clusters", "q121_embed_dedup_clusters",
    "q131_domain_pagerank", "q153_prefix_filter_join",
    "q161_synthetic_source", "q176_image_phash",
    // r9 native expressions under real cross-JVM serialization: the
    // fused MinHash signature (q178's arrival chain), the row-local
    // repetition stats, and the SPI-cached audio feature decode
    "q123_repetition_filters", "q178_stream_neardup_twin",
    "q179_audio_features")

  /** Collect each query to (sorted columns, rows rendered per sorted
    * column order, row-sorted) — the same order-insensitive shape the
    * DuckDB oracle compare hashes. */
  private def run(spark: SparkSession): Map[String, (Seq[String], Seq[Seq[String]])] =
    battery.map { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val cols = df.columns.toSeq.sorted
      val rows = df.collect().toSeq
        .map(r => cols.map(c => String.valueOf(r.getAs[Any](c))))
        .sortBy(_.mkString(""))
      n -> ((cols, rows))
    }.toMap

  private def builder(master: String) =
    Session.builder(cpus = 4).master(master)
      .config("spark.sql.shuffle.partitions", "8")

  test("representative battery is bit-identical across real executor JVMs, " +
       "reliable-checkpoint branch included") {
    // reference: plain local session — Fixpoint.cut's localCheckpoint branch
    graft.queries.ClusterLabels.reset()
    val ref = {
      val s = builder("local[4]").getOrCreate()
      try run(s)
      finally { graft.queries.ClusterLabels.reset(); s.stop() }
    }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // cluster: two executor processes + reliable checkpoint dir
    val classes = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath).mkString(":")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lc-ckpt")
    val got =
      try {
        val s = builder("local-cluster[2,2,1536]")
          .config("spark.executor.extraClassPath", classes)
          .getOrCreate()
        s.sparkContext.setCheckpointDir(ckpt.toString)
        try {
          assert(s.sparkContext.master.startsWith("local-cluster"),
            "cluster session did not start")
          run(s)
        } finally { graft.queries.ClusterLabels.reset(); s.stop() }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }

    battery.foreach { n =>
      assert(got(n)._1 === ref(n)._1, s"$n: schema drifted across executors")
      assert(got(n)._2.size === ref(n)._2.size, s"$n: row count drifted")
      assert(got(n)._2 === ref(n)._2, s"$n: values drifted across executors")
      assert(ref(n)._2.nonEmpty, s"$n: empty battery result proves nothing")
    }
  }
}
