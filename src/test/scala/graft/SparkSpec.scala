package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast — Spark start-up dominates otherwise.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Collect to a sorted Seq of Seq[Any] for order-insensitive compares. */
  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Every file under `dir`: relative path → (size, mtime) — equal
    * listings mean nothing under `dir` was rewritten. */
  def fileListing(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .toMap
    finally walk.close()
  }

  def tempDir(prefix: String): java.nio.file.Path = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  // a fixed 4 cores, not SPARK_GRAFT_CPUS: plan ceilings and plan-shape
  // budgets are recorded against this session
  lazy val session: SparkSession = Session.builder(cpus = 4).getOrCreate()

  /** A fresh local scratch dir, deleted when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    graft.io.Fs.deleteLocalOnExit(java.nio.file.Files.createTempDirectory(prefix).toFile).toPath
}
