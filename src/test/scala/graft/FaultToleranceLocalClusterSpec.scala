package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Executor-LOSS resilience: on a real cluster executors die mid-query,
  * and the library's claims — task retry over deterministic lineage,
  * reliable checkpoints surviving the loss — have to hold then, not
  * just in a clean run. This spec makes it happen: it runs a composed
  * curation query on `local-cluster[2,2,1536]`, records the answer,
  * then re-runs it while SIGKILLing one of the two executor JVMs
  * mid-flight. Spark must retry the lost tasks (and refetch/recompute
  * lost shuffle blocks) and land on the IDENTICAL result.
  *
  * Named *LocalClusterSpec so build.sbt's testGrouping routes it to the
  * forked JVM that may stop/start SparkContexts.
  */
class FaultToleranceLocalClusterSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  /** pids of live CoarseGrainedExecutorBackend processes (the executor
    * JVMs the standalone worker spawned — separate from this JVM). */
  private def executorPids(): Seq[Int] =
    Option(new java.io.File("/proc").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .filter { f =>
        try new String(java.nio.file.Files.readAllBytes(
          f.toPath.resolve("cmdline"))).contains("CoarseGrainedExecutorBackend")
        catch { case _: Exception => false }
      }
      .map(_.getName.toInt)

  test("a query survives losing an executor mid-flight with an identical result") {
    val classes = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath).mkString(":")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ft-ckpt")
    val s = Session.builder(cpus = 4).master("local-cluster[2,2,1536]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.executor.extraClassPath", classes)
      // a killed executor must not fail the app before retries engage
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")
      .getOrCreate()
    try {
      s.sparkContext.setCheckpointDir(ckpt.toString)

      def answer(): Seq[Seq[String]] = {
        val df = SparkEntry.queries("q57_corpus_curation")(s, sfDir)
        val cols = df.columns.toSeq.sorted
        df.collect().toSeq
          .map(r => cols.map(c => String.valueOf(r.getAs[Any](c))))
          .sortBy(_.mkString(""))
      }

      // first clean run = ground truth AND codegen warmup (cold runs are
      // 5×+ slower on janino/C2); the SECOND run's wall time is what the
      // chaos run will resemble, so the kill window derives from it
      val expected = answer()
      assert(expected.nonEmpty)
      val t0 = System.nanoTime()
      val warm = answer()
      val cleanMs = (System.nanoTime() - t0) / 1000000
      assert(warm === expected, "clean runs disagree — query not deterministic")

      // wait until both executor JVMs are registered
      var waited = 0
      while (executorPids().size < 2 && waited < 60) { Thread.sleep(500); waited += 1 }
      val before = executorPids()
      assert(before.size >= 2, s"expected 2 executor JVMs, saw $before")

      // chaos run: kill one executor shortly after the query starts
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val run = Future(answer())
      // kill ~20% into the measured WARM runtime: early enough that most
      // stages still lie ahead, late enough that tasks have landed on
      // both executors
      Thread.sleep(math.max(400L, cleanMs / 5))
      assert(!run.isCompleted,
        s"query finished before the kill window (clean run ${cleanMs} ms) — " +
          "grow the battery so the chaos run proves something")
      val victim = before.head
      Runtime.getRuntime.exec(Array("kill", "-9", victim.toString)).waitFor()
      val got = Await.result(run, 5.minutes)

      assert(!executorPids().contains(victim), "victim executor should be dead")
      assert(got === expected,
        "result drifted after losing an executor mid-query")
    } finally {
      s.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
