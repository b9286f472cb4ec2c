package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skew-adversarial variant of a scaled corpus (VERDICT r9 #6): ScaleGen
  * grows VOLUME with the base distribution intact; this tool injects the
  * pathology volume alone cannot show — a boilerplate spike.
  *
  *  - `documents`: a deterministic 5% slice (doc_id % 20 == 3) has its
  *    text REPLACED by one shared boilerplate paragraph. Identical text
  *    → identical shingle sets → identical minhash band keys: every one
  *    of the 8 LSH bands gains ONE key holding the whole slice (25k
  *    members at the sf10 row count) — the exact shape that made the
  *    pre-r10 q138 probe quadratic on a single hot key, and the
  *    real-world footer/disclaimer case a 100 TB crawl always contains.
  *  - `embeddings`: the same 5% slice (vec_id % 20 == 3) collapses onto
  *    one shared vector with ±0.1% deterministic jitter — every SRP
  *    table gains one bucket holding the slice (the q35/q121 analogue).
  *  - every other table: byte-copied — timed control queries (facts,
  *    lexical) see identical inputs, so any delta there is noise.
  *
  * The intended reading: run [[CapBench]] with BASE = the uniform scaled
  * dir and SCALED = this dir (same row counts!) — the telemetry shows
  * each guard absorbing the spike (chain sites: pairs_post stays ~linear
  * while pairs_pre explodes; cap sites: keys_over_cap picks up the hot
  * key) and the timings bound the wall-clock cost of the pathology.
  *
  * Usage: runMain graft.tools.SkewGen <srcDir> <outDir> [fracDenom=20]
  */
object SkewGen {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val denom = if (args.length > 2) args(2).toInt else 20
    val spark = graft.Session.builder().getOrCreate()
    run(spark, src, out, denom)
    spark.stop()
  }

  /** One long-enough paragraph that its 3-shingle set dwarfs any
    * incidental overlap with organic docs — the classic crawl footer. */
  private val boilerplate: String =
    ("all rights reserved this page is provided as is without warranty " +
      "of any kind either express or implied including but not limited " +
      "to the implied warranties of merchantability fitness for a " +
      "particular purpose or non infringement please review our terms " +
      "of service and privacy policy before continuing to use this site").trim

  def run(spark: SparkSession, src: String, out: String, denom: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events").foreach { t =>
      ScaleGen.copyRec(new java.io.File(s"$src/$t.parquet"),
        new java.io.File(s"$out/$t.parquet"))
    }
    val hot = col("doc_id") % denom === 3

    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"),
        when(hot, lit(boilerplate)).otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val hotV = col("vec_id") % denom === 3
    val vecs = spark.read.parquet(s"$src/embeddings.parquet")
    // the shared vector: deterministic per-index values in [-1, 1) — the
    // jitter (±0.1%, keyed on vec_id) keeps collapsed vectors
    // near-identical in cosine without being bit-equal
    // the final cast keeps the column ARRAY<FLOAT> — arithmetic promotes
    // to double, and the float-typed native cosine rejects a drifted type
    val shared = transform(col("embedding"), (_, i) =>
      (((pmod(hash(lit("skewvec"), i), lit(2000)) - lit(1000))
        .cast("float") / lit(1000.0f)) *
        (lit(1.0f) + (pmod(hash(col("vec_id"), i), lit(200)) - lit(100))
          .cast("float") / lit(100000.0f))).cast("float"))
    vecs.select(col("vec_id"),
        when(hotV, shared).otherwise(col("embedding")).as("embedding"),
        col("label"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }
}
