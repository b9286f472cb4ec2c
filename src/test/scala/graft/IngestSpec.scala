package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.schemas.Schemas

/** CSV / JSON-lines ingest: malformed input survives to the validation
  * layer as nulls + `_corrupt_record`, never crashes the read.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("CSV ingest: clean rows parse typed, corrupt rows carry the raw line") {
    val dir = tempDir("graft_csv").toString
    Files.writeString(Paths.get(s"$dir/users.csv"),
      """user_id,name,email,join_date
        |1,Ann,a@x.com,2024-01-01
        |not-a-number,Bob,b@x.com,2024-01-02
        |3,Cyd,c@x.com,2024-01-03
        |""".stripMargin)
    val df = Tables.readCsv(spark, s"$dir/users.csv", Schemas.users).cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    val bad = df.filter(col("_corrupt_record").isNotNull).collect().head
    assert(bad.getAs[String]("_corrupt_record").startsWith("not-a-number"))
    assert(df.filter(col("_corrupt_record").isNull)
      .select("user_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("JSONL ingest: same corrupt-record contract") {
    val dir = tempDir("graft_jsonl").toString
    Files.writeString(Paths.get(s"$dir/products.json"),
      """{"product_id": 1, "name": "P1", "category": "home", "price": 9.5, "stock": 3}
        |{"product_id": "oops, not a number
        |{"product_id": 2, "name": "P2", "category": "books", "price": 3.25, "stock": 0}
        |""".stripMargin)
    // cache first: Spark refuses corrupt-record-only projections over a
    // raw json scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = Tables.readJsonl(spark, s"$dir/products.json", Schemas.products).cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    assert(df.filter(col("_corrupt_record").isNull)
      .select("product_id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("corrupt rows flow into the validator as rejects, quoting the input") {
    val dir = tempDir("graft_csv2").toString
    Files.writeString(Paths.get(s"$dir/users.csv"),
      """user_id,name,email,join_date
        |1,Ann,a@x.com,2024-01-01
        |garbage line that is not csv-ish at all,,,
        |""".stripMargin)
    val raw = Tables.readCsv(spark, s"$dir/users.csv", Schemas.users)
    import graft.validate.{Rule, Rules, Validator}
    val rules = Rules.userRules(col("user_id"), col("name"), col("email"), col("join_date")) :+
      Rule.error("corrupt_input", col("_corrupt_record").isNotNull,
        concat(lit("Unparseable input: "), col("_corrupt_record")))
    val v = new Validator(rules, "user", col("user_id"), "users")
    val ann = v.annotate(raw)
    assert(v.valid(ann).count() === 1)
    val msgs = v.errors(ann).filter(col("error_type") === "corrupt_input")
      .select("message").as[String].collect()
    assert(msgs.length === 1 && msgs.head.contains("garbage line"))
  }
}
