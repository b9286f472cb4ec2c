package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: the engine config every main and spec gets, the
  * one `SPARK_GRAFT_CPUS` reader, and a guard that it stays the only
  * place a session is built. */
class SessionSpec extends SparkSpec {

  test("a factory session carries the engine config") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.extensions") === "graft.functions.GraftExtensions")
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems") === "67108864")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val dot = spark.sql("SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
      "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d").head().getDouble(0)
    assert(dot === 11.0)
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
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"source walk found only ${files.size} files")
    val builders = files.filter(p => Files.readString(p).contains(call))
      .map(p => Paths.get("src").relativize(p).toString).sorted
    assert(builders === Seq("main/scala/graft/Session.scala"))
  }
}
