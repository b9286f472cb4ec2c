package graft.tools

/** Empirical scale evidence for the heavy query families (VERDICT r5
  * next-round #1): run the most expensive registered queries at the base
  * scale AND at a [[ScaleGen]]-produced K× scale, record per-query
  * wall-clock (min of N runs) and physical-plan exchange counts at both
  * scales, and emit one JSON artifact (committed as BENCH_sf1.json).
  *
  * What "scales linearly" means here, concretely:
  *  - `ratio` (scaled_s / base_s) stays in the vicinity of the data
  *    ratio (10× rows) rather than exploding quadratically — the caps
  *    (q119/q153), the banded LSH + shared closure (q134 carrier), and
  *    the bounded graph joins (q131/q151) are exactly the places where a
  *    naive plan would go K²;
  *  - `sh_base == sh_scaled` / `bc_base == bc_scaled`: the plan SHAPE is
  *    scale-invariant — no extra exchanges appear at 10× (AQE may still
  *    resize partitions, which is the point of AQE).
  *
  * Shapes measured per query, not asserted: the JSON is the evidence,
  * PERF.md carries the reading. The label-consumer queries (q72/q154/
  * q163) ride along to show the persisted-artifact pattern holds at 10×
  * (their cost must stay ~flat; the build cost lands on whichever
  * consumer runs first — q134 in sorted order).
  *
  * Usage: runMain graft.tools.ScaleBench
  *   env: SPARK_GRAFT_BASE_DIR   (default /root/testdata/sf0.1)
  *        SPARK_GRAFT_SCALED_DIR (default /root/repo/scratch/sf1)
  *        SPARK_GRAFT_RUNS       (default 2, per-query MIN)
  *        SPARK_GRAFT_OUT        (default /root/repo/BENCH_sf1.json)
  */
object ScaleBench {

  /** The cost-dominating families from BENCH_r05 + their artifact
    * consumers. Sorted execution order matters: q134 < q154 < q163 < q72
    * lexically is NOT true (q119 < q131 < ... < q72), so the closure
    * build lands on q134 only because q119/q131 don't consume labels —
    * the first label consumer in this list order pays it. */
  val heavy: Seq[String] = Seq(
    "q57_corpus_curation",     // 12-exchange composed curation pipeline
    "q119_lsh_banded_cap",     // hot-band cap provably biting
    "q121_embed_dedup_clusters", // SRP pairs + checkpointed closure
    "q131_domain_pagerank",    // 8 fixed-point iterations
    "q134_leakage_free_split", // carries the shared ClusterLabels build
    "q72_dedup_clusters",      // label consumer (must stay ~flat ex-build)
    "q154_cluster_representative", // label consumer
    "q163_dedup_survivorship", // label consumer
    "q151_triangle_count",     // degree-oriented wedge join
    "q153_prefix_filter_join", // PPJoin prefix filter + hot-token cap
    "q164_event_daily_extract", // NTZ pushdown scan family
    "q165_ivf_recall",         // IVF vs brute-force recall contract
    // r6 additions that scale with the data (q170/q171 are narrow
    // per-row maps over the same tables — covered by the families above)
    "q166_pq_adc_topk",        // PQ encode is corpus×m×ks; ADC corpus×m
    "q167_pq_recall",          // brute force + ADC + rerank, all 10×
    "q168_ols_trend",          // fact-side join + month-grain aggregate
    "q169_corr_profile",       // one-pass power sums over 10× lineitem
    "q172_bpe_merges",         // vocabulary-bounded merge rounds
    // r6-final additions (the r6 sf1 artifacts stopped at 172 — these
    // close the gap so the committed scale record covers the registry)
    "q173_linear_probe",       // closed-form normal equations over 10× rows
    "q174_incremental_sessionize", // state carry + full-recompute proof, 10× events
    "q175_lang_vocab_overlap") // per-lang token vocab join

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR", "/root/testdata/sf0.1")
    val scaledDir = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR", "/root/repo/scratch/sf1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT", "/root/repo/BENCH_sf1.json")
    val nRuns = graft.Session.intEnv("SPARK_GRAFT_RUNS", 2, 1)
    val spark = graft.Session.builder(aqeStart512 = true).getOrCreate()

    // codegen warmup: each heavy plan compiles once at sf0.001 (identical
    // generated classes — see Bench.scala's rationale), so timed runs at
    // BOTH scales measure throughput, not Janino/JIT
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    heavy.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[sbench] warm $name: $e") }
      finally spark.catalog.clearCache()
    }
    graft.queries.ClusterLabels.reset()

    case class Res(secs: Double, rows: Long, shuffles: Int, broadcasts: Int)
    def runAt(dir: String): Map[String, Res] = {
      val acc = scala.collection.mutable.LinkedHashMap[String, Res]()
      for (run <- 1 to nRuns) {
        graft.queries.ClusterLabels.reset() // each run pays the build once
        heavy.foreach { name =>
          // construction INSIDE the timer: ClusterLabels.apply eagerly
          // materializes the closure artifact at DataFrame-construction
          // time, so timing only the write would silently exclude the
          // registry's most expensive subtree from its carrier query
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(name)(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[sbench] $dir%-28s $name%-28s $dt%8.2f s (run $run)")
          val plan = df.queryExecution.executedPlan.toString
          val prev = acc.get(name)
          // rows counted once (run 1 only — count() re-executes the query)
          val rows = prev.map(_.rows).getOrElse(df.count())
          acc.update(name, Res(
            math.min(prev.map(_.secs).getOrElse(Double.MaxValue), dt),
            rows,
            graft.ops.Bucketing.shuffleCount(df),
            "BroadcastExchange".r.findAllIn(plan).length))
          spark.catalog.clearCache()
        }
      }
      acc.toMap
    }

    def tableRows(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()

    val base = runAt(baseDir)
    val scaled = runAt(scaledDir)

    val factors = Seq("documents", "embeddings", "events").map { t =>
      val b = tableRows(baseDir, t); val s = tableRows(scaledDir, t)
      t -> (b, s)
    }

    def f(d: Double): String = f"$d%.3f"
    val qJson = heavy.map { name =>
      val b = base(name); val s = scaled(name)
      s""""$name":{"base_s":${f(b.secs)},"scaled_s":${f(s.secs)},""" +
        s""""ratio":${f(s.secs / b.secs)},"rows_base":${b.rows},"rows_scaled":${s.rows},""" +
        s""""sh_base":${b.shuffles},"sh_scaled":${s.shuffles},""" +
        s""""bc_base":${b.broadcasts},"bc_scaled":${s.broadcasts}}"""
    }.mkString("{", ",", "}")
    val fJson = factors.map { case (t, (b, s)) =>
      s""""$t":{"rows_base":$b,"rows_scaled":$s,"factor":${f(s.toDouble / b)}}"""
    }.mkString("{", ",", "}")
    val totalB = heavy.map(base(_).secs).sum
    val totalS = heavy.map(scaled(_).secs).sum
    val line =
      s"""{"metric":"scale_bench","unit":"sec","base_dir":"$baseDir",""" +
        s""""scaled_dir":"$scaledDir","runs":$nRuns,"agg":"min",""" +
        s""""total_base":${f(totalB)},"total_scaled":${f(totalS)},""" +
        s""""total_ratio":${f(totalS / totalB)},"data_factors":$fJson,""" +
        s""""queries":$qJson}"""
    println(line)
    val w = new java.io.PrintWriter(outPath); try w.println(line) finally w.close()
    spark.stop()
  }
}
