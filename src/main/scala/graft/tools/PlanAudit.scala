package graft.tools

/** Plan auditor: a one-line summary of exchanges (cut-aware, as
  * PlanCeilingGen and PlanBudgetSpec count them) and the scan-level
  * PushedFilters of named registered queries; `AUDIT_FULL=1` also prints
  * the formatted physical plan. The every-query inventory is
  * PlanCeilingGen's `plan_ceilings.tsv`.
  * Usage: runMain graft.tools.PlanAudit <sfDir> <q> [q...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    // SparkSpec's 4 cores: the pushdown-rule plans this tool audits
    // must be the plans the specs and harnesses run
    val spark = graft.Session.builder(cpus = 4).getOrCreate()
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
}
