package graft

/** Registry integrity: every `SparkEntry.queries` entry must EXECUTE to a
  * noop sink against the real testdata. The r4 regression proved the
  * analyze-level guard necessary (a parquet TIMESTAMP(NANOS)→NTZ runtime
  * change broke four queries and the loss surfaced only as silently missing
  * correctness rows); r5's verdict asked for the stronger form — execution
  * also catches codegen failures, runtime casts, and corrupt partitions
  * that analysis cannot see. Any exception fails here with the query named.
  * Wall cost at sf0.001 is ~2 minutes for the whole registry.
  */
class RegistrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every registered query EXECUTES against sf0.001") {
    // Pre-warm the shared labels artifact once, outside the per-query
    // loop: ClusterLabels.apply eagerly materializes the LSH+closure
    // subtree at DataFrame-construction time, so without this the first
    // consumer (q134) would carry the build cost and a build failure
    // would be misattributed to it.
    try graft.queries.ClusterLabels(spark, sfDir)
    catch { case e: Throwable =>
      fail(s"shared ClusterLabels build failed: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(300))
    }
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
      }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      finally spark.catalog.clearCache()
    }
    assert(broken.isEmpty, s"\n${broken.size} queries fail execution:\n" +
      broken.mkString("\n"))
  }

  test("every oracle key names a registered query, and the flagship runs") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys with no query: $orphans")
    assert(SparkEntry.entry(spark).limit(1).count() === 1)
  }

  test("cache contract: clearCache between invocations prevents stale reuse over mutated inputs") {
    // ~20 registry queries cache() internal frames without in-body
    // unpersist (deliberate: the returned frame is lazy, so an in-body
    // unpersist would defeat the cache before the caller's action). The
    // CONTRACT is that harnesses clear the catalog cache between
    // invocations — Bench and Verify both do — because
    // Spark's CacheManager substitutes by PLAN equality: a second
    // invocation over the same path would silently serve the first
    // run's rows after the underlying files changed (the r13 EtlRun
    // stale-cache bug class). This pins that the documented contract is
    // sufficient: mutate the input between invocations, clear, and the
    // second result must reflect the mutation.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_contract").toString
    try {
      // q106 (winsorized stats) caches its percentile frame in-body;
      // re-write its one input as a mutable directory-backed copy
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.parquet(s"$dir/lineitem.parquet")
      val q = SparkEntry.queries("q106_winsorize")
      val first = sortedRows(q(spark, dir))
      // mutate: double the table (append a copy of every part-file)
      spark.read.parquet(s"$dir/lineitem.parquet").withColumn("l_quantity",
          col("l_quantity") * 2).write.mode("append").parquet(s"$dir/lineitem.parquet")
      spark.catalog.refreshByPath(s"$dir/lineitem.parquet")
      spark.catalog.clearCache() // the harness contract under test
      val second = sortedRows(q(spark, dir))
      assert(second !== first, "post-clearCache invocation served stale cached rows")
    } finally {
      spark.catalog.clearCache()
      graft.io.Fs.deleteRecursively(dir, spark.sessionState.newHadoopConf())
    }
  }
}
