package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of named registered
  * queries plus a one-line summary of exchanges / pushed filters.
  * Usage: runMain graft.tools.PlanAudit <sfDir> <q> [q...]
  *        runMain graft.tools.PlanAudit <sfDir> --all   (markdown table of
  *        every registered query — the committed PLANS artifact; set
  *        PLANS_OUT to also write it to a file)
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    // SparkSpec's 4 cores: the pushdown-rule plans this tool audits
    // must be the plans the specs and harnesses run
    val spark = graft.Session.builder(cpus = 4).getOrCreate()
    if (args.tail.sameElements(Array("--all"))) { auditAll(spark, sfDir); spark.stop(); return }
    args.tail.foreach { name =>
      val (df, cuts) = graft.ops.Fixpoint.recordingCuts(
        graft.SparkEntry.queries(name)(spark, sfDir))
      val plan = graft.ops.Bucketing.finalPlanString(df)
      val (nShuffle, nBroadcast, pS, pB) =
        graft.ops.Bucketing.cutAwareCountsOf(df, cuts)
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
      println(s"=== $name: shuffles=$nShuffle broadcasts=$nBroadcast" +
        (if (cuts.nonEmpty) s" pre-cut=$pS/$pB (${cuts.size} cuts)" else ""))
      pushed.foreach(p => println(s"    $p"))
      if (sys.env.contains("AUDIT_FULL")) df.explain("formatted")
    }
    spark.stop()
  }

  /** Markdown plan-shape inventory of EVERY registered query: exchange
    * and broadcast counts plus whether any scan-level pushed filter is
    * present — the one-glance plan-hygiene artifact (committed per round
    * as PLANS_r{N}.md). Counts are the same regexes PlanBudgetSpec
    * budgets, so the artifact and the regression guards can't drift. */
  private def auditAll(spark: SparkSession, sfDir: String): Unit = {
    // the label-consumer family eagerly materializes the shared closure
    // at construction; build it once so per-query timing stays flat
    try graft.queries.ClusterLabels(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[plans] labels: $e") }
    val sb = new StringBuilder
    sb.append(s"# PLANS — per-query physical-plan shape (sf: $sfDir)\n\n")
    sb.append("Counts from the INITIAL executed plan (AQE can only improve\n")
    sb.append("them); `shuffles` counts hash/range exchanges — repeated\n")
    sb.append("subtrees in multi-branch plans count each occurrence although\n")
    sb.append("identical ones reuse at execution. Queries with lineage-cut\n")
    sb.append("(`Fixpoint.cut`) subtrees show DUAL accounting `post (pre)`:\n")
    sb.append("`post` = the consumer plan a plain audit sees; `pre` adds the\n")
    sb.append("exchanges inside every cut subtree (the expensive part the\n")
    sb.append("boundary hides — VERDICT r11 #2). `pushed` = a parquet scan\n")
    sb.append("with a non-trivial PushedFilters entry exists.\n\n")
    sb.append("| query | shuffles | broadcasts | pushed filters |\n|---|---|---|---|\n")
    var totS = 0; var totB = 0; var totPreS = 0; var totPreB = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val (df, cuts) = graft.ops.Fixpoint.recordingCuts(fn(spark, sfDir))
        val plan = graft.ops.Bucketing.finalPlanString(df)
        val (nS, nB, pS, pB) = graft.ops.Bucketing.cutAwareCountsOf(df, cuts)
        val pushed = ("PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(plan) orElse
          cuts.iterator.map(graft.ops.Bucketing.finalPlanString)
            .flatMap("PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(_))
            .nextOption()).isDefined
        totS += nS; totB += nB; totPreS += pS; totPreB += pB
        val sCell = if (pS != nS) s"$nS ($pS)" else s"$nS"
        val bCell = if (pB != nB) s"$nB ($pB)" else s"$nB"
        sb.append(s"| $name | $sCell | $bCell | ${if (pushed) "yes" else "—"} |\n")
      } catch { case e: Throwable =>
        sb.append(s"| $name | ERROR | | ${e.getClass.getSimpleName} |\n")
      }
    }
    sb.append(s"\nTotals: $totS hash/range exchanges, $totB broadcasts across ")
    sb.append(s"${graft.SparkEntry.queries.size} queries")
    sb.append(s" (pre-cut: $totPreS / $totPreB including lineage-cut subtrees).\n")
    print(sb)
    sys.env.get("PLANS_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        sb.toString.getBytes("UTF-8"))
    }
  }
}
