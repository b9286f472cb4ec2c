package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dims.Scd2

/** q120: TWO sequential [[Scd2.merge]] waves — two days of mutations
  * applied to one dimension in order — over customer-derived inputs,
  * with a DuckDB oracle reproducing the chained result (including the
  * per-merge surrogate-key continuation).
  *
  * The two waves mutate DISJOINT key sets (≡0 vs ≡5 mod 10, plus new
  * members in wave 2), so each key's final state is computable in one
  * SQL pass while sk assignment still exercises the chained max-sk
  * handoff (wave-2 keys continue past wave-1's allocations).
  */
object Scd2StreamTwin {
  val d1 = "1998-06-01"
  val d2 = "1998-06-15"
  val dim: Scd2 = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk", Seq("join_date"))

  private def mkEmail(k: Column) = concat(lit("u"), k.cast("string"), lit("@x.com"))
  private def jd(k: Column) = date_add(to_date(lit("1994-01-01")), (k % 365).cast("int"))

  /** Seed snapshot (same construction as q06's `cur`). */
  def cur(s: SparkSession, dir: String): DataFrame =
    QLlm.t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name").as("name"),
        mkEmail(col("c_custkey")).as("email"), jd(col("c_custkey")).as("join_date"))
      .withColumn("user_sk", (col("user_id") + 1).cast("long"))
      .withColumn("start_date", to_date(lit("1995-01-01")))
      .withColumn("end_date", lit(null).cast("date"))
      .withColumn("current_flag", lit(1))
      .select("user_sk", "user_id", "name", "email", "join_date",
        "start_date", "end_date", "current_flag")

  /** Wave 1 (run date [[d1]]): name changes on keys ≡ 0 (mod 10). */
  def batch1(s: SparkSession, dir: String): DataFrame =
    QLlm.t(s, dir, "customer").filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("user_id"),
        concat(col("c_name"), lit(" v2")).as("name"),
        mkEmail(col("c_custkey")).as("email"), jd(col("c_custkey")).as("join_date"))

  /** Wave 2 (run date [[d2]]): disjoint name changes (≡ 5 mod 10)
    * plus brand-new members entering at [[d2]]. */
  def batch2(s: SparkSession, dir: String): DataFrame = {
    val c = QLlm.t(s, dir, "customer")
    c.filter(col("c_custkey") % 10 === 5)
      .select(col("c_custkey").as("user_id"),
        concat(col("c_name"), lit(" v3")).as("name"),
        mkEmail(col("c_custkey")).as("email"), jd(col("c_custkey")).as("join_date"))
      .unionByName(c.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000).as("user_id"),
          concat(lit("New "), col("c_custkey").cast("string")).as("name"),
          mkEmail(col("c_custkey") + 1000000).as("email"),
          to_date(lit(d2)).as("join_date")))
  }

  /** Hash-comparable projection (dates to `yyyy-MM-dd` strings). */
  def project(df: DataFrame): DataFrame =
    df.select(col("user_sk"), col("user_id"), col("name"), col("email"),
      date_format(col("join_date"), "yyyy-MM-dd").as("join_date"),
      date_format(col("start_date"), "yyyy-MM-dd").as("start_date"),
      date_format(col("end_date"), "yyyy-MM-dd").as("end_date"),
      col("current_flag"))

  /** The chained two-wave merge — the dimension snapshot after both
    * waves are applied in order. Since r8's single-pass
    * [[Scd2.merge]] (the four filtered join derivations collapsed into
    * one explode pass) the chained plan no longer fans out — 22→7
    * broadcasts and ~30% faster with NO caching needed (VERDICT r7 #5;
    * PlanBudgetSpec pins the collapsed shape). */
  def merged(s: SparkSession, dir: String): DataFrame = {
    val m1 = dim.merge(cur(s, dir), batch1(s, dir), d1, col("join_date"))
    val m2 = dim.merge(m1, batch2(s, dir), d2, col("join_date"))
    project(m2)
  }

  val oracleSql: String =
    """WITH c AS (SELECT c_custkey AS k, c_name,
      |    'u' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email,
      |    strftime(DATE '1994-01-01' + CAST(c_custkey % 365 AS INT), '%Y-%m-%d')
      |      AS jd
      |  FROM customer),
      |consts AS (SELECT max(k) + 1 AS n0,
      |    count(*) FILTER (WHERE k % 10 = 0) AS n1 FROM c),
      |unchanged AS (
      |  SELECT k + 1 AS user_sk, k AS user_id, c_name AS name, email, jd AS join_date,
      |         '1995-01-01' AS start_date, CAST(NULL AS VARCHAR) AS end_date,
      |         1 AS current_flag
      |  FROM c WHERE k % 10 NOT IN (0, 5)),
      |expired1 AS (
      |  SELECT k + 1, k, c_name, email, jd, '1995-01-01', '1998-05-31', 0
      |  FROM c WHERE k % 10 = 0),
      |v2 AS (
      |  SELECT (SELECT n0 FROM consts) + row_number() OVER (ORDER BY k),
      |         k, c_name || ' v2', email, jd, '1998-06-01', CAST(NULL AS VARCHAR), 1
      |  FROM c WHERE k % 10 = 0),
      |expired2 AS (
      |  SELECT k + 1, k, c_name, email, jd, '1995-01-01', '1998-06-14', 0
      |  FROM c WHERE k % 10 = 5),
      |b2 AS (
      |  SELECT k AS user_id, c_name || ' v3' AS name, email, jd AS join_date
      |  FROM c WHERE k % 10 = 5
      |  UNION ALL
      |  SELECT k + 1000000, 'New ' || CAST(k AS VARCHAR),
      |         'u' || CAST(k + 1000000 AS VARCHAR) || '@x.com', '1998-06-15'
      |  FROM c WHERE k % 100 = 0),
      |v3 AS (
      |  SELECT (SELECT n0 + n1 FROM consts) + row_number() OVER (ORDER BY user_id),
      |         user_id, name, email, join_date, '1998-06-15',
      |         CAST(NULL AS VARCHAR), 1
      |  FROM b2)
      |SELECT * FROM unchanged UNION ALL SELECT * FROM expired1
      |UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM expired2
      |UNION ALL SELECT * FROM v3""".stripMargin
}
