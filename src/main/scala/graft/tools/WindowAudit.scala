package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window

/** Global-window inventory (VERDICT r15 #2): for every registered query,
  * walk the OPTIMIZED logical plan (plus any lineage-cut subtrees) and
  * report each Window node with an EMPTY partitionSpec — the plans that
  * log `WindowExec: No Partition Defined` and move all input rows to a
  * single partition. The committed inventory (OPTIMIZATION_r16.md) must
  * argue every hit is bounded (O(groups), not O(rows)) or fix it.
  * Usage: runMain graft.tools.WindowAudit <sfDir> [q...]
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.Session.builder(cpus = 4).getOrCreate()
    try graft.queries.ClusterLabels(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[winaudit] labels: $e") }
    val only = args.tail.toSet
    var totalHits = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val (df, cuts) = graft.ops.Fixpoint.recordingCuts(fn(spark, sfDir))
          def globalWindows(d: DataFrame): Seq[String] =
            d.queryExecution.optimizedPlan.collect {
              case w: Window if w.partitionSpec.isEmpty =>
                val fns = w.windowExpressions.map(_.sql).mkString("; ").take(160)
                val ord = w.orderSpec.map(_.sql).mkString(", ").take(80)
                s"fn=[$fns] order=[$ord]"
            }
          val hits = globalWindows(df) ++ cuts.flatMap(globalWindows)
          if (hits.nonEmpty) {
            totalHits += hits.size
            hits.foreach(h => println(s"GLOBALWIN\t$name\t$h"))
          }
        } catch { case e: Throwable =>
          println(s"ERROR\t$name\t${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
        }
      }
    println(s"TOTAL global-window sites: $totalHits")
    spark.stop()
  }
}
