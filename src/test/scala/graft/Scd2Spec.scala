package graft

import org.apache.spark.sql.functions._
import graft.dims.Scd2

/** SCD2 merge semantics (reference ETL/etl.py:170-263): insert / update /
  * unchanged, validity windows, passthrough attributes, SK continuity,
  * idempotent re-run, and scalable init numbering.
  */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private val dim = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk",
    passthrough = Seq("join_date"))

  private def snap0 = Seq(
    (1L, 10, "ann", "a@x.com", "2020-01-01", "2024-01-01", null.asInstanceOf[String], 1),
    (2L, 20, "bob", "b@x.com", "2020-02-02", "2024-01-01", null.asInstanceOf[String], 1)
  ).toDF("user_sk", "user_id", "name", "email", "join_date", "start_date", "end_date", "current_flag")
    .withColumn("join_date", to_date(col("join_date")))
    .withColumn("start_date", to_date(col("start_date")))
    .withColumn("end_date", to_date(col("end_date")))

  private def incoming = Seq(
    (10, "ann", "a@x.com", "2020-01-01"),      // unchanged
    (20, "bob", "bob@new.com", "2020-02-02"),  // changed email
    (30, "cyd", "c@x.com", "2024-05-05")       // brand new
  ).toDF("user_id", "name", "email", "join_date")
    .withColumn("join_date", to_date(col("join_date")))

  private def merged = dim.merge(snap0, incoming, "2024-06-01", col("join_date"))

  test("unchanged member keeps its row untouched") {
    val ann = merged.filter(col("user_id") === 10).collect()
    assert(ann.length === 1)
    val r = ann.head
    assert(r.getAs[Long]("user_sk") === 1L)
    assert(r.getAs[Int]("current_flag") === 1)
    assert(r.getAs[java.sql.Date]("end_date") === null)
  }

  test("changed member is expired (end = run-1) and re-versioned at runDate") {
    val bob = merged.filter(col("user_id") === 20)
      .orderBy("start_date").collect()
    assert(bob.length === 2)
    val (old, neu) = (bob(0), bob(1))
    assert(old.getAs[Int]("current_flag") === 0)
    assert(old.getAs[java.sql.Date]("end_date").toString === "2024-05-31")
    assert(neu.getAs[Int]("current_flag") === 1)
    assert(neu.getAs[String]("email") === "bob@new.com")
    assert(neu.getAs[java.sql.Date]("start_date").toString === "2024-06-01")
  }

  test("brand-new member starts at the policy start date (join_date here)") {
    val cyd = merged.filter(col("user_id") === 30).collect().head
    assert(cyd.getAs[java.sql.Date]("start_date").toString === "2024-05-05")
    assert(cyd.getAs[Int]("current_flag") === 1)
  }

  test("new SKs are dense past the previous max, in natural-key order") {
    val sks = merged.filter(col("start_date") >= lit("2024-05-05"))
      .orderBy("user_id").select("user_sk").as[Long].collect().toSeq
    assert(sks === Seq(3L, 4L)) // bob's new version (20) then cyd (30)
  }

  test("passthrough change alone does not version (join_date not compared)") {
    val inc = Seq((10, "ann", "a@x.com", "1999-09-09"))
      .toDF("user_id", "name", "email", "join_date")
      .withColumn("join_date", to_date(col("join_date")))
    val m = dim.merge(snap0, inc, "2024-06-01", col("join_date"))
    assert(m.filter(col("user_id") === 10).count() === 1)
    assert(m.filter(col("user_id") === 10).select("user_sk").as[Long].head() === 1L)
  }

  test("merge is idempotent: re-running the same day changes nothing") {
    val once = merged
    val twice = dim.merge(once, incoming, "2024-06-01", col("join_date"))
    assert(sortedRows(twice.select(once.columns.map(col).toSeq: _*)) === sortedRows(once))
  }

  test("null-safe change detection: null -> value is a change, null -> null is not") {
    val cur = Seq((1L, 10, null.asInstanceOf[String], "a@x.com", "2024-01-01",
        null.asInstanceOf[String], 1))
      .toDF("user_sk", "user_id", "name", "email", "start_date", "end_date", "current_flag")
      .withColumn("start_date", to_date(col("start_date")))
      .withColumn("end_date", to_date(col("end_date")))
    val d2 = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk")
    val same = Seq((10, null.asInstanceOf[String], "a@x.com")).toDF("user_id", "name", "email")
    val diff = Seq((10, "ann", "a@x.com")).toDF("user_id", "name", "email")
    assert(d2.merge(cur, same, "2024-06-01", to_date(lit("2024-06-01"))).count() === 1)
    assert(d2.merge(cur, diff, "2024-06-01", to_date(lit("2024-06-01"))).count() === 2)
  }

  // ---- persist: the one SCD2 snapshot write path -----------------------
  // closed history, a member the extract omits (bob), and a member whose
  // extract row differs only in a passthrough column (dee's join_date)
  private def histSnap = Seq(
    (1L, 10, "anne", "a@x.com", "2020-01-01", "2023-01-01", "2023-12-31", 0),
    (2L, 10, "ann", "a@x.com", "2020-01-01", "2024-01-01", null.asInstanceOf[String], 1),
    (3L, 20, "bob", "b@x.com", "2020-02-02", "2024-01-01", null.asInstanceOf[String], 1),
    (4L, 40, "dee", "d@x.com", "2021-04-04", "2024-02-02", null.asInstanceOf[String], 1)
  ).toDF("user_sk", "user_id", "name", "email", "join_date", "start_date", "end_date", "current_flag")
    .withColumn("join_date", to_date(col("join_date")))
    .withColumn("start_date", to_date(col("start_date")))
    .withColumn("end_date", to_date(col("end_date")))

  private def extract(rows: (Int, String, String, String)*) = rows
    .toDF("user_id", "name", "email", "join_date")
    .withColumn("join_date", to_date(col("join_date")))

  private def unchangedExtract =
    extract((10, "ann", "a@x.com", "2020-01-01"), (40, "dee", "d@x.com", "1999-09-09"))

  private def tempTable(df: org.apache.spark.sql.DataFrame): String = {
    val p = tempDir("graft_scd2_persist").resolve("dim").toString
    df.write.parquet(p)
    p
  }

  test("zero fresh versions: the merge reproduces the current snapshot as a multiset") {
    val m = dim.merge(histSnap, unchangedExtract, "2024-06-01", col("join_date"))
    assert(m.exceptAll(histSnap).isEmpty && histSnap.exceptAll(m).isEmpty)
    assert(m.count() === histSnap.count())
  }

  test("persist skips the write when no version is fresh: the snapshot's files stay") {
    val p = tempTable(histSnap)
    val before = fileListing(p)
    val n = dim.persist(spark.read.parquet(p), unchangedExtract, "2024-06-01", col("join_date"), p)
    assert(n === 0L)
    assert(fileListing(p) === before)
    val dir = java.nio.file.Paths.get(p)
    assert(!java.nio.file.Files.exists(dir.resolveSibling("dim__staging")))
    assert(sortedRows(spark.read.parquet(p)) === sortedRows(histSnap))
  }

  test("persist on a changed day returns the old observe(n) - before count and writes the merge") {
    val p = tempTable(histSnap)
    // ann unchanged, bob's email changes, dee passthrough-only, cyd new
    val inc = extract((10, "ann", "a@x.com", "2020-01-01"), (20, "bob", "bob@new.com", "2020-02-02"),
      (30, "cyd", "c@x.com", "2024-05-05"), (40, "dee", "d@x.com", "1999-09-09"))
    val cur = spark.read.parquet(p)
    val before = cur.count()
    val obs = org.apache.spark.sql.Observation()
    val expected = sortedRows(dim.merge(cur, inc, "2024-06-01", col("join_date"))
      .observe(obs, count(lit(1)).as("n")))
    val oldInserted = obs.get("n").asInstanceOf[Long] - before
    val n = dim.persist(cur, inc, "2024-06-01", col("join_date"), p)
    assert(n === oldInserted)
    assert(n === 2L) // bob's new version + cyd
    assert(sortedRows(spark.read.parquet(p)) === expected)
  }

  test("init assigns dense 1..n SKs in key order without a global window") {
    val extract = (1 to 500).map(i => (1000 - i, s"u$i", s"u$i@x.com"))
      .toDF("user_id", "name", "email")
    val d2 = Scd2(Seq("user_id"), Seq("name", "email"), "user_sk")
    val out = d2.init(extract, lit("2024-01-01")).orderBy("user_sk")
      .select("user_sk", "user_id").as[(Long, Int)].collect().toSeq
    assert(out.map(_._1) === (1L to 500L))
    assert(out.map(_._2) === (500 to 999).toSeq) // ascending key order
  }
}
