package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× (configurable) scale-up of the driver testdata —
  * the empirical leg of the 100 TB argument (VERDICT r5 next-round #1).
  *
  * Every scale claim in PERF.md so far is plan-shape reasoning at sf0.1
  * (shuffle budgets, hot-key caps). This tool manufactures an
  * sf1-equivalent corpus so [[graft.Bench]] (`SPARK_GRAFT_SF_DIR` at the
  * output) and [[PlanAudit]] can RECORD that the heavy families scale
  * ~linearly and keep their exchange counts.
  *
  * Scaling is replication with deterministic perturbation, not fresh
  * generation — the scaled data keeps the base distribution exactly
  * (same text/value marginals per replica) while growing the hard parts
  * the way a real corpus grows:
  *
  *  - `documents`: K replicas, ids offset per replica, text perturbed
  *    with a replica suffix. Replicas of one base doc are ~identical →
  *    every base doc becomes a near-dup CLUSTER of size K. That is the
  *    adversarial shape for the LSH/closure family (bigger bands, K²/2
  *    in-bucket pairs per doc) — exactly what the caps and the shared
  *    label artifact must survive at corpus scale.
  *  - `embeddings`: K replicas, ids offset, per-element jitter of ±0.5%
  *    keyed on (vec_id, element index) — near-identical vectors stress
  *    IVF/SRP bucket occupancy without changing the space's geometry.
  *  - `events`: K replicas, event ids offset, and USER ids offset — user
  *    cardinality grows K× with per-user history unchanged, which is how
  *    an event stream actually scales (more users, not longer sessions).
  *    Same wall-clock range → K× events/day, denser sessionize groups.
  *    `ts` is written as TIMESTAMP_NTZ so the scaled file round-trips
  *    through the same NTZ read shape (and DateStringComparePushdown
  *    path) as the driver's TIMESTAMP(NANOS) file.
  *  - `orders`/`lineitem`: K replicas with a SHARED orderkey offset
  *    (the order↔line FK survives replication) and customer/part/supp
  *    keys unchanged — the fact side grows 10×, the dimension catalog
  *    stays fixed, which is exactly how a transactional star grows.
  *  - dimensions (`region`..`part`): byte-copied unchanged — a drop-in
  *    `SPARK_GRAFT_SF_DIR` whose small-side joins stay broadcast-able.
  *
  * No wall-clock or RNG anywhere: reruns produce byte-identical rows
  * (file mtimes aside), so recorded sf1 numbers are reproducible.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> [K=10]
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = if (args.length > 2) graft.Session.atLeast("K", args(2), 1) else 10
    val spark = graft.Session.builder().getOrCreate()
    run(spark, src, out, k)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    // K <= 0 would cross-join an empty replica frame: empty scaled tables
    require(k >= 1, s"K must be an integer >= 1, got '$k'")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // unscaled tables: byte-copy (exact, cheap; all are ≤ a few MB here —
    // at a real deployment these would be HDFS copies or views)
    val copyOnly = Seq("region", "nation", "customer", "supplier", "part")
    copyOnly.foreach { t =>
      graft.io.Fs.copyLocal(new java.io.File(s"$src/$t.parquet"), new java.io.File(s"$out/$t.parquet"))
    }
    scaleFacts(spark, src, out, k)
    scaleDocuments(spark, src, out, k)
    scaleEmbeddings(spark, src, out, k)
    scaleEvents(spark, src, out, k)
  }

  /** Cross-join with a K-row replica frame — broadcast by construction
    * (the replica side is `spark.range(K)`), so the scale-up plan is a
    * narrow map over the base scan: no shuffle to produce K× rows. */
  private def replicate(df: DataFrame, k: Int): DataFrame =
    df.crossJoin(broadcast(df.sparkSession.range(k).toDF("rep")))

  private def scaleFacts(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    // ONE offset for both tables — the order↔lineitem FK must hold across
    // replicas. 1e7 floor keeps any derived-id arithmetic downstream
    // (+10⁴-style synthetic offsets) inside a replica's band.
    val maxOk = math.max(
      ord.agg(max("o_orderkey")).head().getLong(0),
      li.agg(max("l_orderkey")).head().getLong(0))
    val off = math.max(pow10Ceil(maxOk + 1), 10000000L)
    replicate(ord, k)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * off)
      .drop("rep")
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(li, k)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * off)
      .drop("rep")
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }

  private def scaleDocuments(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val base = spark.read.parquet(s"$src/documents.parquet")
    // id offset = pow10 ceiling of max id (base id recoverable as
    // new_id % off), floored at 1e6: QLlm.docsWithDups derives dup ids at
    // doc_id+10000/+20000, so replica bands must be wide enough that the
    // derived ids of replica r stay inside r's band (a 10000 offset made
    // replica 1's ids collide with replica 0's derived dups — observed as
    // q153 returning 0 rows on the scaled corpus)
    val off = math.max(pow10Ceil(base.agg(max("doc_id")).head().getLong(0) + 1), 1000000L)
    val scaled = replicate(base, k)
      .select(
        (col("doc_id") + col("rep") * off).as("doc_id"),
        // replica 0 keeps the base text verbatim; others get a 2-token
        // suffix → ~identical shingle sets → a K-member near-dup cluster
        when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rev "), col("rep"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")) // base schema is int64
    scaled.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  private def scaleEmbeddings(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val off = pow10Ceil(base.agg(max("vec_id")).head().getLong(0) + 1)
    val scaled = replicate(base, k)
      .select(
        (col("vec_id") + col("rep") * off).as("vec_id"),
        // deterministic per-element jitter, ±0.5% relative: replicas are
        // near-duplicates in cosine space (clustered mass for IVF/SRP)
        // but never bit-identical
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x * (lit(1.0f) +
              (pmod(hash(col("vec_id"), col("rep"), i), lit(1000)) - lit(500))
                .cast("float") / lit(100000.0f)))
              .cast("float"))).as("embedding"),
        col("label"))
    scaled.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def scaleEvents(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val base = graft.io.Tables.eventsMicros(spark, src)
    val eOff = pow10Ceil(base.agg(max("event_id")).head().getLong(0) + 1)
    val uOff = pow10Ceil(base.agg(max("user_id")).head().getLong(0) + 1)
    val scaled = replicate(base, k)
      .select(
        (col("event_id") + col("rep") * eOff).as("event_id"),
        // NTZ write → the scaled file reads back through the same
        // TIMESTAMP_NTZ shape (and pushdown-rule path) as the driver's
        // TIMESTAMP(NANOS) original
        col("ts").cast("timestamp_ntz").as("ts"),
        (col("user_id") + col("rep") * uOff).as("user_id"),
        col("event_type"), col("value"), col("props"))
    scaled.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  private def pow10Ceil(n: Long): Long = {
    var p = 1L
    while (p < n) p *= 10
    p
  }
}
