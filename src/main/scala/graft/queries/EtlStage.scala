package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.io.Fs

/** Staged synthetic day-1 warehouse for q180 (the oracle-checked run-log
  * query). q180 must run the REAL [[graft.pipeline.EtlRun]] against a
  * fresh warehouse every invocation (the pipeline mutates its warehouse —
  * SCD2 state, fact appends, audit sinks — so re-running on a used one
  * exercises the idempotent-re-run path, a DIFFERENT contract with
  * different counts). But the INPUTS (synthetic users/products/
  * transactions + the 14-kind adversarial battery) are deterministic and
  * identical every time, and generating + parquet-writing them cost a
  * fixed ~7 s INSIDE the timed bench path (VERDICT r10 "what's wrong" #1:
  * q180's ~9.8 s was the most expensive row of every sf0.1 artifact, none
  * of it scale-dependent).
  *
  * So, the [[ClusterLabels]] discipline: generate and write the three
  * input tables ONCE per JVM into a memoized staging dir (Bench's untimed
  * per-query warmup triggers this), then each q180 invocation file-copies
  * them (a few KB) into a fresh temp warehouse. The timed region becomes
  * copy + EtlRun + run-log read — the pipeline itself, not its test
  * fixture. [[stageSeconds]] lets the bench artifact attribute the
  * staging cost explicitly, à la `labels_build_s`.
  *
  * Every temp dir this object creates is deleted at JVM exit
  * ([[graft.io.Fs.deleteLocalOnExit]]; ADVICE r10: repeated sweeps leaked
  * a parquet warehouse per q180 invocation). Warehouses cannot be deleted
  * mid-session — the run-log DataFrame a caller holds still reads from
  * its warehouse's audit sink — so cleanup is deferred to exit; the dirs
  * are KB-sized.
  */
object EtlStage {

  /** The staged day + corpus sizes — q180's contract constants; the
    * DuckDB oracle (QEtl.q180Sql) re-derives counts for exactly these. */
  val day = "2025-03-01"
  val (nUsers, nProducts, nTx) = (50, 20, 200)

  @volatile private var stagedInputs: String = null
  private val stageNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seconds spent generating + writing the staged inputs (0.0 while no
    * q180 ran; constant after the first — it never re-stages). */
  def stageSeconds: Double = stageNanos.get() / 1e9

  /** A fresh warehouse pre-populated with the staged day-1 inputs —
    * generate-once, copy-per-call. Thread-safe; the first caller pays the
    * generation, everyone pays only the KB-scale file copy. */
  def freshWarehouse(spark: SparkSession): String = synchronized {
    if (stagedInputs == null) {
      val t0 = System.nanoTime()
      val dir = Fs.deleteLocalOnExit(
        java.nio.file.Files.createTempDirectory("graft_q180_inputs").toFile)
      val (badU, badP, badT) = Synthetic.invalid(spark, day, nUsers, nProducts)
      Synthetic.users(spark, nUsers).unionByName(badU)
        .write.mode("overwrite").parquet(s"$dir/users")
      Synthetic.products(spark, nProducts).unionByName(badP)
        .write.mode("overwrite").parquet(s"$dir/products")
      // raw-string date partitioning, the warehouse layout (SURVEY §1.6)
      Synthetic.transactions(spark, nTx, day, nUsers, nProducts).unionByName(badT)
        .write.mode("overwrite").partitionBy("date").parquet(s"$dir/transactions")
      stageNanos.addAndGet(System.nanoTime() - t0)
      stagedInputs = dir.toString
    }
    val wh = Fs.deleteLocalOnExit(java.nio.file.Files.createTempDirectory("graft_q180_wh").toFile)
    Seq("users", "products", "transactions").foreach { t =>
      Fs.copyLocal(new java.io.File(stagedInputs, t), new java.io.File(wh, t))
    }
    wh.toString
  }
}
