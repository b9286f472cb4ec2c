package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: the engine config every main and spec gets, the
  * one `SPARK_GRAFT_CPUS` reader, a guard that it stays the only place a
  * session is built, a guard against `spark.graft.*` conf knobs, and a
  * guard that `graft.io.Fs` owns the one JVM shutdown hook. */
class SessionSpec extends SparkSpec {

  /** Every `.scala` file under `root`, as paths relative to it. */
  private def scalaFiles(root: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => Paths.get(root).relativize(p).toString).toSeq.sorted

  /** The files under `root` whose source contains `text`. */
  private def filesContaining(root: String, text: String): Seq[String] =
    scalaFiles(root).filter(f => Files.readString(Paths.get(root, f)).contains(text))

  test("a factory session carries the engine config") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.extensions") === "graft.functions.GraftExtensions")
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems") === "67108864")
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits") === "536870912")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val cos = spark.sql("SELECT graft_cosine(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
      "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(cos - 11.0 / (5.0 * math.sqrt(5.0))) < 1e-12)
  }

  test("SPARK_GRAFT_CPUS: a positive integer or the processor count, else fail naming it") {
    assert(Session.cpus(Map.empty) === Runtime.getRuntime.availableProcessors())
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> " 6 ")) === 6)
    Seq("abc", "0", "-2", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](Session.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("intEnv: unset gives the default; garbage or below-min fails naming the variable") {
    assert(Session.intEnv("SPARK_GRAFT_DAYS", 30, 1, Map.empty) === 30)
    assert(Session.intEnv("SPARK_GRAFT_FROM", 7, 0, Map("SPARK_GRAFT_FROM" -> " 0 ")) === 0)
    assert(Session.intEnv("SPARK_GRAFT_RUNS", 2, 1, Map("SPARK_GRAFT_RUNS" -> "5")) === 5)
    Seq("abc", "", "2.5", "0", "-3").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Session.intEnv("SPARK_GRAFT_RUNS", 2, 1, Map("SPARK_GRAFT_RUNS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_RUNS"), e.getMessage)
    }
  }

  test("graft.Session is the only source file that builds a Spark session") {
    val call = "SparkSession" + ".builder" // split so this file does not match itself
    // the walk must reach both trees, not stop short of the sources
    val walked = scalaFiles("src")
    assert(Seq("main/scala/graft/pipeline/EtlRun.scala", "test/scala/graft/SessionSpec.scala")
      .forall(walked.contains), s"source walk missed a tree: found ${walked.size} files")
    assert(filesContaining("src", call) === Seq("main/scala/graft/Session.scala"))
  }

  test("the program reads no spark.graft.* conf keys") {
    // a tuning knob needs two non-test callers that want different
    // values; until one exists a value is a constant in its module
    assert(scalaFiles("src/main").contains("scala/graft/pipeline/EtlRun.scala"),
      "source walk missed src/main")
    val knobs = filesContaining("src/main", "spark.graft.")
    assert(knobs.isEmpty, s"spark.graft.* keys in: ${knobs.mkString(", ")}")
  }

  test("graft.io.Fs is the only program file that registers a shutdown hook") {
    // scratch dirs are deleted at exit through Fs.deleteLocalOnExit's one
    // hook, not a private hook per caller
    assert(filesContaining("src/main", "addShutdownHook") === Seq("scala/graft/io/Fs.scala"))
  }
}
