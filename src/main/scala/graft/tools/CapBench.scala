package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Cap/chain-engagement evidence at 100× rows (VERDICT r6 #3, r7 #1/#2).
  *
  * The pair-growth families (banded LSH q119/labels-build, SRP buckets
  * q121/q54, prefix-filter tokens q153) grow with CANDIDATE-PAIR count —
  * the exact term their guards exist to bound — and sf1 (10×) is too
  * small to show most guards biting. This tool measures, at each
  * supplied scale, the thing itself:
  *
  *   - per guard site: total keys (bands/buckets/tokens), keys over the
  *     cap, and candidate pairs BEFORE vs AFTER the guard — computed
  *     from the key-size histogram (slim aggregates; no pair is ever
  *     materialized), so the telemetry is cheap even where an uncapped
  *     join would be quadratic. Two guard kinds, mirroring the
  *     operators exactly:
  *       · cap sites (q119 band cap 2, q121 bucket cap 12): keys whose
  *         size crosses the cap are EXCLUDED — post = Σ_{kept} n(n−1)/2;
  *       · chain sites (labels build, q153): candidates are each row's
  *         J successors in sort order within its key group
  *         ([[graft.ops.Dedup.lshBandCandidates]] neighborWidth) —
  *         post = Σ_{kept} (n ≤ J ? n(n−1)/2 : J·n − J(J+1)/2), a
  *         STRUCTURAL linear bound that needs no cap to engage. This is
  *         the r8 fix for r7's finding that dup-dense growth kept every
  *         band under a production cap while pairs grew ~K²;
  *   - timed runs (min of SPARK_GRAFT_RUNS) of the labels build plus
  *     the heavy-family queries (VERDICT r7 #2): the bounded near-dup
  *     operators (q119 capped bands, q121 capped buckets, q153 chained
  *     prefix groups, q134 label consumers), the iterative/composed
  *     shapes (q57, q124, q151, q130), the lexical/fact anchors (q94,
  *     q19), and the linear no-guard control (q166 PQ).
  *
  * Pairwise-output queries whose post-guard candidate count STILL
  * exceeds PairBudget are skipped with the telemetry as the recorded
  * reason. After r9's q29 re-contract (per-doc drop-list over chain
  * candidates — VERDICT r8 #1) and r10's q35/q138 re-contracts
  * (VERDICT r9 #1/#2), every pairwise-GENERATION site in the registry
  * is instrumented here (VERDICT r9 #3): the band family (cap,
  * labels-chain, incremental-chain), the SRP family (bucket cap,
  * multi-table chain), the prefix-filter chain, and the basket
  * self-join whose bound is structural (group = physical order; its
  * `max_key_n` is the evidence). `skipped` should be empty at every
  * side; the budget stays as the tripwire it was built to be.
  *
  * Usage: runMain graft.tools.CapBench
  *   env: SPARK_GRAFT_BASE_DIR    (default /root/testdata/sf0.1)
  *        SPARK_GRAFT_SCALED_DIR  (default /root/repo/scratch/sf10)
  *        SPARK_GRAFT_RUNS        (default 2, per-query MIN)
  *        SPARK_GRAFT_OUT         (default /root/repo/BENCH_sf10_caps.json)
  *        SPARK_GRAFT_TIME_LABELS (default 1; 0 skips the labels timing)
  */
object CapBench {

  /** One guard site. `sizes` returns one row per key: (n = group size
    * the candidates derive from, cv = the value the cap tests — group
    * size for band/bucket caps, corpus df for q153's token cap).
    * `chain` = Some(J) for sorted-neighborhood sites. `structural` marks
    * sites whose key groups are bounded by the DATA MODEL (q92's basket
    * = one physical order): their total pair mass grows LINEARLY with
    * key count forever, so the skip tripwire tests the LARGEST key's
    * pair mass (a degenerate group) instead of the total. */
  private case class Site(name: String, query: String,
                          sizes: (SparkSession, String) => DataFrame,
                          capOf: Long => Long,
                          chain: Option[Int],
                          structural: Boolean = false)

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR", "/root/testdata/sf0.1")
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR", "/root/repo/scratch/sf10")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT", "/root/repo/BENCH_sf10_caps.json")
    val nRuns = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").trim.toInt)
      .getOrElse(2).max(1)
    val timeLabels = sys.env.getOrElse("SPARK_GRAFT_TIME_LABELS", "1") == "1"
    val spark = graft.Session.builder(aqeStart512 = true).getOrCreate()

    // --- guard sites (key-size frames mirror the operators exactly) ---
    def bandSizes(s: SparkSession, dir: String): DataFrame =
      graft.queries.QLlm.docsWithDups(s, dir)
        .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          explode(TextOps.minhashBandKeys(col("sh"), 16, 8, 2)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .withColumn("cv", col("n"))
    def bucketSizes(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .select(graft.vector.VectorOps.srpBucket(col("vec"), 6).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .withColumn("cv", col("n"))
    // q153's index: PREFIX rows only (rn ≤ n − ⌈0.9n⌉ + 1), sized per
    // token, cap tested against the token's full-corpus df — exactly the
    // operator's filter (the r7 site over-counted by using the full
    // token histogram; ADVICE r7)
    def prefixSizes(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val d = graft.queries.QLlm.docsWithDups(s, dir)
        .select(col("doc_id"), array_distinct(TextOps.tokens(col("text"))).as("tk"))
        .filter(size(col("tk")) > 0)
      val dfreq = d.select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("df"))
      d.select(col("doc_id"), size(col("tk")).as("n"), explode(col("tk")).as("w"))
        .join(dfreq, Seq("w"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy("df", "w")))
        .filter(col("rn") <= col("n") - ceil(col("n") * 0.9) + 1)
        .groupBy(col("w").as("k")).agg(count(lit(1)).as("n"), first("df").as("cv"))
    }

    // q35's multi-table SRP keys: 4 independent 12-plane tables, sizes
    // per (table, bucket) group — the chain (8 successors) bounds pairs
    // inside each group structurally
    def srpTableSizes(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(explode(array((0 until 4).map(tb =>
          concat(lit(s"$tb:"), graft.vector.VectorOps
            .srpBucket(col("embedding"), 12, planeOffset = tb * 12)
            .cast("string"))): _*)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .withColumn("cv", col("n"))
    // q92's joins are keyed by the physical basket (order): no cap and no
    // chain — the bound is the data model itself (baskets are small at
    // any corpus size). The site records the pair mass and max basket so
    // a degenerate feed (one giant synthetic order) would trip the budget
    def basketSizes(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("k"), col("l_partkey")).distinct()
        .groupBy("k").agg(count(lit(1)).as("n"))
        .withColumn("cv", col("n"))

    val sites = Seq(
      Site("lsh_bands_cap2", "q119_lsh_banded_cap", bandSizes, _ => 2L, None),
      Site("lsh_bands_chain3_labels", "q134_labels_build", bandSizes,
        _ => Long.MaxValue, Some(3)),
      // q138 emits only from the ~10% new-docs slice, so this chain bound
      // (all rows emit) is a conservative OVER-estimate of its pair mass
      Site("lsh_bands_chain3_incremental", "q138_incremental_dedup", bandSizes,
        _ => Long.MaxValue, Some(3)),
      Site("srp_buckets_cap12", "q121_embed_dedup_clusters", bucketSizes,
        _ => 12L, None),
      Site("srp_tables_chain8", "q35_ann_srp_topk", srpTableSizes,
        _ => Long.MaxValue, Some(8)),
      Site("basket_orders_structural", "q92_basket_pairs", basketSizes,
        _ => Long.MaxValue, None, structural = true),
      Site("prefix_tokens_chain3", "q153_prefix_filter_join", prefixSizes,
        nDocs => math.min(math.max(64L, math.ceil(nDocs * 0.01).toLong), 8192L),
        Some(3)))

    def nDocsAt(dir: String): Long =
      graft.queries.QLlm.docsWithDups(spark, dir)
        .filter(size(array_distinct(TextOps.tokens(col("text")))) > 0).count()

    case class Tele(cap: Long, chain: Option[Int], keys: Long, keysOver: Long,
                    pairsPre: Long, pairsPost: Long, maxKeyN: Long)
    def telemetry(site: Site, dir: String, nDocs: Long): Tele = {
      val cap = site.capOf(nDocs)
      // pairs from the size histogram only: n·(n−1)/2 per key, never a
      // join (n·(n−1) is even, so the sums stay exact long arithmetic);
      // chain sites bound kept keys to J·n − J(J+1)/2 (n > J)
      val allPairs2 = col("n") * (col("n") - 1)
      val keptPairs2 = site.chain match {
        case Some(j) =>
          when(col("n") <= j, allPairs2)
            .otherwise(lit(2L * j) * col("n") - lit(j.toLong * (j + 1)))
        case None => allPairs2
      }
      val row = site.sizes(spark, dir)
        .agg(count(lit(1)).as("keys"),
          coalesce(sum(when(col("cv") > cap, 1L).otherwise(0L)), lit(0L)).as("over"),
          coalesce(sum(allPairs2), lit(0L)).as("pre2"),
          coalesce(sum(when(col("cv") <= cap, keptPairs2).otherwise(0L)),
            lit(0L)).as("post2"),
          coalesce(max(col("n")), lit(0L)).as("max_n"))
        .head()
      spark.catalog.clearCache()
      Tele(cap, site.chain, row.getLong(0), row.getLong(1),
        row.getLong(2) / 2, row.getLong(3) / 2, row.getLong(4))
    }

    // the r7 trio + the sf1 heavy family (VERDICT r7 #2); q134 reads the
    // labels artifact built in the labels-timing step, so its number is
    // the CONSUMER cost — labels_build carries the closure itself
    // SPARK_GRAFT_TIMED_ONLY="q29,...": time just these (telemetry still
    // covers every site) — re-measuring a subset without a full sweep
    val timedOnly = sys.env.get("SPARK_GRAFT_TIMED_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val timedQueries = Seq("q119_lsh_banded_cap", "q121_embed_dedup_clusters",
      "q153_prefix_filter_join", "q166_pq_adc_topk", "q134_leakage_free_split",
      "q29_minhash_lsh_dedup", "q177_lsh_chain_topk", "q57_corpus_curation",
      "q124_block_dedup", "q151_triangle_count", "q130_bigram_lm",
      "q88_bm25_search", "q94_tfidf_terms", "q19_fact_tx_load",
      "q35_ann_srp_topk", "q138_incremental_dedup", "q92_basket_pairs",
      "q131_domain_pagerank").filter(q => timedOnly.forall(_.contains(q)))

    // Pairwise-similarity queries EMIT pairs, so their output (not just
    // their join) grows quadratically in near-dup cluster width; on a
    // corpus whose post-guard candidate count exceeds this bound the
    // timed run is skipped WITH the telemetry as the recorded reason.
    // After r9's q29 re-contract every entry is chain- or cap-bounded —
    // the budget is a tripwire that should never fire.
    //
    // The tripwire scales with the corpus (r11): the chain sites' post
    // mass is STRUCTURALLY linear (≤ 24/doc for the 8-band J=3 chains,
    // ≤ 32/vec for the 4-table SRP chain), so a fixed 50M budget —
    // calibrated at sf10 — fired on sf100's perfectly-linear 151.7M
    // (22.6/doc) and skipped the four chain queries at exactly the scale
    // the measurement existed for. 40/doc sits above every structural
    // ceiling and ~2 orders of magnitude below quadratic mass (sf100
    // pre-chain: ~5,700/doc), so linear growth never trips it and a
    // broken guard still does.
    val PairBudget = 50000000L
    val PairBudgetPerDoc = 40L
    val pairwiseOf = Map("q153_prefix_filter_join" -> "prefix_tokens_chain3",
      "q119_lsh_banded_cap" -> "lsh_bands_cap2",
      "q29_minhash_lsh_dedup" -> "lsh_bands_chain3_labels",
      "q177_lsh_chain_topk" -> "lsh_bands_chain3_labels",
      "q138_incremental_dedup" -> "lsh_bands_chain3_incremental",
      "q121_embed_dedup_clusters" -> "srp_buckets_cap12",
      "q35_ann_srp_topk" -> "srp_tables_chain8",
      "q92_basket_pairs" -> "basket_orders_structural")

    // codegen warmup (same rationale as Bench/ScaleBench)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    timedQueries.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[capbench] warm $name: $e") }
      finally spark.catalog.clearCache()
    }
    graft.queries.ClusterLabels.reset()

    def timeAt(dir: String, skip: Set[String]): Map[String, Double] = {
      val acc = scala.collection.mutable.LinkedHashMap[String, Double]()
      for (run <- 1 to nRuns) {
        // labels FIRST: q134's timing then reads the memoized artifact
        // (consumer cost), and labels_build carries the closure
        if (timeLabels) {
          graft.queries.ClusterLabels.reset()
          val t0 = System.nanoTime()
          graft.queries.ClusterLabels(spark, dir).write.format("noop")
            .mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[capbench] $dir%-28s labels_build $dt%8.2f s (run $run)")
          acc.update("labels_build", math.min(
            acc.getOrElse("labels_build", Double.MaxValue), dt))
        }
        timedQueries.filterNot(skip).foreach { name =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[capbench] $dir%-28s $name%-28s $dt%8.2f s (run $run)")
          acc.update(name, math.min(acc.getOrElse(name, Double.MaxValue), dt))
          spark.catalog.clearCache()
        }
      }
      graft.queries.ClusterLabels.reset()
      acc.toMap
    }

    def f(d: Double): String = f"$d%.3f"
    def sideJson(dir: String): String = {
      val nDocs = nDocsAt(dir)
      val budget = math.max(PairBudget, PairBudgetPerDoc * nDocs)
      val tele = sites.map(s => s -> telemetry(s, dir, nDocs))
      val byName = tele.map { case (s, t) => s.name -> t }.toMap
      val structuralOf = sites.map(s => s.name -> s.structural).toMap
      val skip = pairwiseOf.collect {
        // structural sites (data-model-bounded groups) legitimately grow
        // their TOTAL mass linearly forever — their tripwire is one
        // degenerate group, not the sum
        case (q, siteName) if {
          val t = byName(siteName)
          val mass = if (structuralOf(siteName))
            t.maxKeyN * (t.maxKeyN - 1) / 2 else t.pairsPost
          mass > budget
        } => q
      }.toSet
      val times = timeAt(dir, skip)
      val tJson = tele.map { case (s, t) =>
        val capStr = if (t.cap == Long.MaxValue) "null" else t.cap.toString
        val chainStr = t.chain.map(_.toString).getOrElse("null")
        s""""${s.name}":{"query":"${s.query}","cap":$capStr,""" +
          s""""chain_width":$chainStr,""" +
          s""""keys":${t.keys},"keys_over_cap":${t.keysOver},""" +
          s""""max_key_n":${t.maxKeyN},""" +
          s""""pairs_pre_cap":${t.pairsPre},"pairs_post_cap":${t.pairsPost},""" +
          s""""cap_engaged":${t.keysOver > 0 || t.pairsPost < t.pairsPre}}"""
      }.mkString("{", ",", "}")
      val qJson = times.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
      val skipJson = skip.toSeq.sorted.map(q =>
        s""""$q":"pairwise output exceeds $budget post-cap pairs"""")
        .mkString("{", ",", "}")
      s"""{"dir":${jstr(dir)},"n_docs":$nDocs,"caps":$tJson,"timed_s":$qJson,""" +
        s""""skipped":$skipJson}"""
    }

    val line = s"""{"metric":"cap_bench","unit":"sec","runs":$nRuns,""" +
      s""""agg":"min","base":${sideJson(baseDir)},""" +
      s""""scaled":${sideJson(scaledDir)}}"""
    println(line)
    val w = new java.io.PrintWriter(outPath); try w.println(line) finally w.close()
    spark.stop()
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
