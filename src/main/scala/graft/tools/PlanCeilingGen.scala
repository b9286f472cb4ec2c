package graft.tools

/** Generates the all-query plan-shape ceiling table PlanBudgetSpec pins
  * (VERDICT r10 next-round #8): 345 exchanges across 180 plans is healthy,
  * but only the historically-bad plans had hand-written budgets — a
  * currently-narrow query silently gaining a shuffle would land unnoticed.
  * This records EVERY registered query's initial-plan exchange and
  * broadcast counts at the spec's scale; the spec then asserts
  * count ≤ recorded + 1 for all of them.
  *
  * Regenerate (after an intentional plan change — the failing assert's
  * message says so):
  *   tools/run_main.sh graft.tools.PlanCeilingGen /root/testdata/sf0.001 \
  *     src/test/resources/plan_ceilings.tsv
  *
  * Counting matches PlanAudit/PlanBudgetSpec exactly
  * ([[graft.ops.Bucketing.shuffleCount]] on the Initial-Plan-stripped
  * string), so the committed artifact and the regression guard can't
  * drift. The session is SparkSpec's (`graft.Session` at 4 cores) —
  * ceilings are only valid against the
  * environment that generated them.
  */
object PlanCeilingGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val spark = graft.Session.builder(cpus = 4).getOrCreate()
    // the label-consumer family materializes the shared closure at
    // construction; build it once up front
    try graft.queries.ClusterLabels(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[ceilings] labels: $e") }
    val sb = new StringBuilder
    sb.append("# query\tshuffles\tbroadcasts\tpre_shuffles\tpre_broadcasts")
    sb.append("  (generated by PlanCeilingGen")
    sb.append(s" at $sfDir — regenerate via tools/run_main.sh, see scaladoc;")
    sb.append(" pre_* include lineage-cut subtrees, VERDICT r11 #2)\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // cut-aware: the pre_* columns count exchanges INSIDE Fixpoint.cut
      // subtrees too, so a shuffle added behind a cut boundary still
      // trips PlanBudgetSpec (the q165/q167 blind spot)
      val (nS, nB, pS, pB, nCuts) =
        graft.ops.Bucketing.cutAwareCounts(fn(spark, sfDir))
      sb.append(s"$name\t$nS\t$nB\t$pS\t$pB\n")
      System.err.println(s"[ceilings] $name $nS $nB pre=$pS/$pB cuts=$nCuts")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $outFile")
    spark.stop()
  }
}
