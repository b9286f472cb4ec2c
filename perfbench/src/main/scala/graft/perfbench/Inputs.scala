package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.schemas.Schemas

/** Size and drift of one ETL workload's OLTP source.
  *
  * @param users          base users (ids 1..users)
  * @param products       base products (ids 1..products)
  * @param txPerDay       fresh transaction ids per day (~20% more rows:
  *                       the generator's multi-product lines)
  * @param userDrift      share of users whose name or email changes per day
  * @param productRename  share of products renamed per day (re-versions
  *                       `dim_product`)
  * @param productRestock share of products restocked (+10) per day
  * @param invalidShare   share of a day's transaction rows drawn from the
  *                       14-kind invalid corpus
  */
final case class Shape(users: Int, products: Int, txPerDay: Int, userDrift: Double,
                       productRename: Double, productRestock: Double,
                       invalidShare: Double = 0.01)

/** The OLTP side of one benchmark warehouse: writes the raw `users`,
  * `products` and `transactions` next to the ETL tables, the layout
  * [[graft.pipeline.EtlRun]] extracts from.
  *
  * Everything derives from `seed`: the transaction id block (and through
  * the generator's md5 draws, every attribute of it) and the drifting
  * user/product subsets. Day 0 is 2026-01-01, after the generator's last
  * join date (2025-11-30), so no transaction predates its user's first
  * SCD2 version.
  */
final class Inputs(spark: SparkSession, wh: String, shape: Shape, seed: Int) {
  import Inputs._

  private def path(t: String) = s"$wh/$t"

  /** First transaction id of the seed's id block; invalid rows live below
    * [[CorpusIdFloor]] + 1000 × days, far under it. */
  private val txBase: Long = 1000000L + (seed.toLong & 0xffffL) * 100000000L

  /** Rows per invalid kind: `invalidShare` of a day's ~1.2 × txPerDay
    * rows spread over the nine transaction kinds. */
  val perKind: Int = math.max(1, math.min(99,
    math.round(shape.invalidShare * shape.txPerDay * 1.2 / 9).toInt))

  /** Day `d`'s `users` and `products` snapshots: day 0 is the base
    * catalog plus the invalid user/product records; each later day drifts
    * the day before (read back from disk) and takes that day's sales off
    * the stock. */
  private def catalog(d: Int): (DataFrame, DataFrame) =
    if (d == 0) {
      val (badU, badP, _) = Synthetic.invalid(spark, day(0), shape.users, shape.products, perKind)
      // the corpus keys its records from 9000; move them past the base ids
      (Synthetic.users(spark, shape.users)
        .unionByName(badU.withColumn("user_id", col("user_id") + shape.users.toLong)),
        Synthetic.products(spark, shape.products)
          .unionByName(badP.withColumn("product_id", col("product_id") + shape.products.toLong)))
    } else {
      val prevU = spark.read.schema(Schemas.users).parquet(path(s"users__day${d - 1}"))
      val prevP = spark.read.schema(Schemas.products).parquet(path(s"products__day${d - 1}"))
      val prevTx = spark.read.schema(Schemas.transactions).parquet(path("transactions"))
        .filter(col("date") === day(d - 1))
      // products re-version by NAME: price drift would flood
      // price_mismatch warnings, since the transaction generator prices
      // off the base catalog
      val r = Synthetic.rnd(s"mp$seed-$d", col("product_id"))
      val rename = shape.productRename
      val restock = rename + shape.productRestock
      val drifted = prevP
        .withColumn("name", when(r < rename, concat(col("name"), lit(s" v$d"))).otherwise(col("name")))
        .withColumn("stock", when(r >= rename && r < restock, col("stock") + 10).otherwise(col("stock")))
      (Synthetic.mutateUsers(prevU, shape.userDrift, tag = s"mu$seed-$d"),
        Synthetic.applyStockDecrements(drifted, prevTx))
    }

  /** Day `d`'s transactions: a fresh id block plus its invalid rows. */
  private def transactions(d: Int): DataFrame = {
    val valid = Synthetic.transactions(spark, shape.txPerDay, day(d), shape.users,
      shape.products, firstId = txBase + d.toLong * shape.txPerDay)
    val (_, _, badTx) = Synthetic.invalid(spark, day(d), shape.users, shape.products,
      perKind, Some(valid))
    // The corpus numbers kind k's rows 9000 + 100k + i. Give each day its
    // own ids (a repeated id would be a re-delivery, not a fresh invalid
    // row) and push the orphans' references past any real user/product.
    // Duplicates copy real ids from `valid` and keep them.
    val id = col("transaction_id")
    val inCorpus = id >= CorpusIdBase && id < CorpusIdBase + 900
    val kind = floor((id - CorpusIdBase) / 100)
    badTx
      .withColumn("user_id", when(inCorpus && kind === 0,
        col("user_id") + 10L * shape.users).otherwise(col("user_id")))
      .withColumn("product_id", when(inCorpus && kind === 1,
        col("product_id") + 10L * shape.products).otherwise(col("product_id")))
      .withColumn("transaction_id", when(inCorpus,
        id - CorpusIdBase + CorpusIdFloor + d.toLong * 1000).otherwise(id))
      .unionByName(valid)
  }

  /** Write the sources of days 0 until `days`: every day's transactions
    * into `transactions` (the extract filters on the date), and each
    * day's catalog aside until [[advance]] makes it current. Day 0's
    * catalog starts current. */
  def generate(days: Int): Unit = {
    (0 until days).foreach { d =>
      val (users, products) = catalog(d)
      users.write.parquet(path(s"users__day$d"))
      products.write.parquet(path(s"products__day$d"))
      transactions(d).write.mode("append").partitionBy("date").parquet(path("transactions"))
    }
    advance(0)
  }

  /** Make day `d`'s generated catalog the current `users`/`products`. */
  def advance(d: Int): Unit = Seq("users", "products").foreach { t =>
    graft.io.Fs.deleteRecursively(path(t), spark.sessionState.newHadoopConf())
    if (!new java.io.File(path(s"${t}__day$d")).renameTo(new java.io.File(path(t))))
      throw new java.io.IOException(s"rename ${t}__day$d -> $t failed")
    spark.catalog.refreshByPath(path(t))
  }

  /** Source rows one run extracts: whole `users` and `products`
    * snapshots plus today's transactions. */
  def sourceRows(d: Int): Long =
    spark.read.schema(Schemas.users).parquet(path("users")).select(lit(1).as("one"))
      .unionByName(spark.read.schema(Schemas.products).parquet(path("products")).select(lit(1).as("one")))
      .unionByName(spark.read.schema(Schemas.transactions).parquet(path("transactions"))
        .filter(col("date") === day(d)).select(lit(1).as("one")))
      .count()
}

object Inputs {
  private val CorpusIdBase = 9000L
  private val CorpusIdFloor = 10000L

  /** Calendar day `d` of every workload. */
  def day(d: Int): String = java.time.LocalDate.parse("2026-01-01").plusDays(d.toLong).toString

  /** Top-level directories of the raw OLTP side, kept out of warehouse
    * accounting: the current tables and the catalogs not yet current. */
  def isSource(dir: String): Boolean =
    Set("users", "products", "transactions").contains(dir) || dir.contains("__day")
}
