package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dedup family: anti-join vs target (J5), in-batch first-wins (J6/W3),
  * change-only capture (P5/W1), exact content clusters.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("antiJoinExisting drops already-loaded ids, keyed on id alone") {
    val incoming = Seq((1, "a"), (2, "b"), (3, "c")).toDF("tx_id", "v")
    val existing = Seq((2, 99), (4, 99)).toDF("tx_id", "product_sk")
    val out = Dedup.antiJoinExisting(incoming, existing, Seq("tx_id"))
    assert(sortedRows(out) === Seq(Seq(1, "a"), Seq(3, "c")))
  }

  test("antiJoinExistingBloomed equals the exact anti-join on a key-typed frame") {
    // long keys (BloomFilterAggregate input type); heavy overlap so both
    // the drop and keep paths exercise, plus a tiny estItems to push the
    // false-positive rate up — fps must fall through to the exact join
    val incoming = (1L to 300L).map(i => (i, s"v$i")).toDF("tx_id", "v")
    val existing = (1L to 900L by 3).toDF("tx_id")
    val exact = Dedup.antiJoinExisting(incoming, existing, Seq("tx_id"))
    val bloomed = Dedup.antiJoinExistingBloomed(incoming, existing, "tx_id", estItems = 32L)
    assert(sortedRows(bloomed) === sortedRows(exact))
    assert(bloomed.count() === 200) // 300 incoming minus every third
  }

  test("antiJoinExistingBloomed: empty incoming yields empty without scanning history") {
    val incoming = Seq.empty[(Long, String)].toDF("tx_id", "v")
    val existing = (1L to 10L).toDF("tx_id")
    val out = Dedup.antiJoinExistingBloomed(incoming, existing, "tx_id", estItems = 1024L)
    assert(out.count() === 0)
  }

  test("antiJoinExistingBloomed prunes the history scan before the exchange") {
    // history must be a REAL scan: over a LocalRelation the optimizer
    // evaluates the bloom probe at plan time (ConvertToLocalRelation)
    // and the assertion would see nothing
    val dir = java.nio.file.Files.createTempDirectory("graft_j5_bloom").toString
    try {
      Seq(6L).toDF("tx_id").write.mode("overwrite").parquet(dir)
      val incoming = Seq((6L, "loaded"), (8L, "new")).toDF("tx_id", "v")
      val out = Dedup.antiJoinExistingBloomed(incoming, spark.read.parquet(dir), "tx_id",
        estItems = 1024L)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"expected bloom probe in plan:\n$plan")
      assert(sortedRows(out) === Seq(Seq(8L, "new")))
    } finally graft.io.Fs.deleteRecursively(dir, spark.sessionState.newHadoopConf())
  }

  test("firstWins keeps exactly one row per PK and routes the rest to dups") {
    val batch = Seq((1, 10, 1, "first"), (1, 10, 2, "second"), (1, 11, 1, "other-pk"))
      .toDF("tx_id", "product_sk", "seq", "v")
    val (kept, dups) = Dedup.firstWins(batch, Seq("tx_id", "product_sk"), Seq(col("seq")))
    assert(sortedRows(kept) === Seq(Seq(1, 10, 1, "first"), Seq(1, 11, 1, "other-pk")))
    assert(sortedRows(dups) === Seq(Seq(1, 10, 2, "second")))
  }

  test("changedOnly keeps first row per key (even null) and value changes only") {
    val hist = Seq(
      (1, 1, Some(5)), (1, 2, Some(5)), (1, 3, Some(7)), (1, 4, Some(7)),
      (2, 1, None), (2, 2, None), (2, 3, Some(1))
    ).toDF("pid", "day", "stock")
    val out = Dedup.changedOnly(hist, Seq("pid"), Seq(col("day")), col("stock"))
    assert(sortedRows(out) === Seq(
      Seq(1, 1, 5), Seq(1, 3, 7),          // first + change
      Seq(2, 1, null), Seq(2, 3, 1)))      // null first row recorded
  }

  test("exactClusters: min id representative + multiplicity") {
    val docs = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("id", "t")
    val out = Dedup.exactClusters(docs, col("id"), md5(col("t")))
      .select("keep_id", "n_members")
    assert(sortedRows(out) === Seq(Seq(1L, 2L), Seq(2L, 1L)))
  }

  test("lshBandCandidates hot-band cap excludes oversize bands, keeps the rest") {
    import graft.text.TextOps
    // 5 verbatim copies of one text (every band has 5 members — hot) plus
    // an unrelated PAIR of near-identical texts (bands of 2 — cold)
    val hotText = "the quick brown fox jumps over the lazy dog again and again today"
    val coldText = "completely different content about spark shuffle partitions and joins"
    val docs = ((1L to 5L).map(i => (i, hotText)) ++
        Seq((11L, coldText), (12L, coldText)))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .cache()
    val uncapped = Dedup.lshBandCandidates(docs).collect()
    // truth: all 10 hot pairs + the cold pair
    assert(uncapped.length === 11)
    val capped = Dedup.lshBandCandidates(docs, maxBandSize = 3)
      .as[(Long, Long)].collect().toSet
    // the 5-member bands are excluded entirely; the cold pair survives
    assert(capped === Set((11L, 12L)))
    docs.unpersist()
  }
}
