package graft

import org.apache.spark.sql.functions._
import graft.tools.ScaleGen

/** [[graft.tools.ScaleGen]] manufactures the K× corpora behind the
  * empirical scale evidence (BENCH_sf1.json). If its invariants drift —
  * id bands colliding with derived-id arithmetic, a broken order↔line FK,
  * schema changes, nondeterminism — every recorded scale number becomes
  * an artifact of generator bugs instead of engine behavior, so the
  * invariants are pinned here at sf0.001/K=2.
  */
class ScaleGenSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  private def freshOut(): String = tempDir("graft_scalegen_spec").toString

  test("K < 1 fails naming K before the output dir is created") {
    val out = freshOut() + "/out"
    val err = intercept[IllegalArgumentException](ScaleGen.run(spark, src, out, 0))
    assert(err.getMessage.contains("K must be an integer >= 1"))
    assert(!new java.io.File(out).exists(), "a rejected K must write nothing")
  }

  test("K=2 scale-up: counts, disjoint id bands, FK, schemas, determinism") {
    val out = freshOut()
    ScaleGen.run(spark, src, out, 2)

    def n(dir: String, t: String): Long = spark.read.parquet(s"$dir/$t.parquet").count()

    // scaled tables double, copied dimensions do not
    for (t <- Seq("documents", "embeddings", "events", "orders", "lineitem"))
      assert(n(out, t) === 2 * n(src, t), s"$t not K-scaled")
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      assert(n(out, t) === n(src, t), s"$t should be copied verbatim")

    // ids stay unique across replicas (disjoint bands)...
    for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
        "events" -> "event_id", "orders" -> "o_orderkey")) {
      val d = spark.read.parquet(s"$out/$t.parquet")
      assert(d.select(id).distinct().count() === d.count(), s"$t.$id collides")
    }
    // ...and the documents band is wide enough that docsWithDups' derived
    // ids (+10000/+20000, QLlm.docsWithDups) cannot cross into the next
    // replica's band — the collision that zeroed q153 on an early corpus
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val maxBase = spark.read.parquet(s"$src/documents.parquet")
      .agg(max("doc_id")).head().getLong(0)
    val bands = docs.select((col("doc_id") / 1000000L).cast("long").as("band")).distinct()
    assert(bands.count() === 2 && maxBase + 20000 < 1000000L)

    // order↔lineitem FK survives replication (same offset both sides)
    val o = spark.read.parquet(s"$out/orders.parquet").select("o_orderkey")
    val l = spark.read.parquet(s"$out/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"))
    assert(l.join(o, Seq("o_orderkey"), "left_anti").count() === 0)

    // schemas unchanged (events compared through the eventsMicros
    // normalizer — the base file is TIMESTAMP(NANOS), the scaled one
    // TIMESTAMP_NTZ; both must normalize to the same micros TIMESTAMP)
    for (t <- Seq("documents", "embeddings", "orders", "lineitem"))
      assert(spark.read.parquet(s"$out/$t.parquet").schema ===
        spark.read.parquet(s"$src/$t.parquet").schema, s"$t schema drift")
    assert(graft.io.Tables.eventsMicros(spark, out).schema ===
      graft.io.Tables.eventsMicros(spark, src).schema)

    // replica 0 is the base, verbatim (documents: modulo-recoverable)
    val rep0 = docs.filter(col("doc_id") < 1000000L)
    val base = spark.read.parquet(s"$src/documents.parquet")
    assert(rep0.exceptAll(base).isEmpty && base.exceptAll(rep0).isEmpty)

    // deterministic: a second run reproduces identical rows
    val out2 = freshOut()
    ScaleGen.run(spark, src, out2, 2)
    val docs2 = spark.read.parquet(s"$out2/documents.parquet")
    assert(docs.exceptAll(docs2).isEmpty && docs2.exceptAll(docs).isEmpty)
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val emb2 = spark.read.parquet(s"$out2/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    assert(emb.exceptAll(emb2).isEmpty && emb2.exceptAll(emb).isEmpty)

    Seq(out, out2).foreach(graft.io.Fs.deleteRecursively(_, spark.sessionState.newHadoopConf()))
  }
}
