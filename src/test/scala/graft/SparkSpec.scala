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
}

object SparkSpec {
  // a fixed 4 cores, not SPARK_GRAFT_CPUS: plan ceilings and plan-shape
  // budgets are recorded against this session
  lazy val session: SparkSession = Session.builder(cpus = 4).getOrCreate()
}
