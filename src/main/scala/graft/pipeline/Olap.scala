package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.schemas.Schemas

/** SQL surface over the parquet warehouse: registers every OLAP + audit
  * table as a temp view so reference users' ad-hoc SQL (demo.ipynb's
  * analytics and cell-26 invariant checks, `SELECT ... FROM dim_user
  * WHERE current_flag = 1`, error-log rollups) runs unchanged via
  * `spark.sql(...)`. The graft native functions come with the session
  * (`graft.functions.GraftExtensions`).
  */
object Olap {

  val tables: Map[String, org.apache.spark.sql.types.StructType] = Map(
    "users" -> Schemas.users,
    "products" -> Schemas.products,
    "transactions" -> Schemas.transactions,
    "dim_date" -> Schemas.dimDate,
    "dim_user" -> Schemas.dimUser,
    "dim_product" -> Schemas.dimProduct,
    "fact_transactions" -> Schemas.factTransactions,
    "fact_stock_history" -> Schemas.factStockHistory,
    "etl_run_log" -> Schemas.etlRunLog,
    "etl_error_log" -> Schemas.etlErrorLog)

  def registerViews(spark: SparkSession, warehouse: String): Unit = {
    val run = new EtlRun(spark, warehouse)
    tables.foreach { case (name, schema) =>
      run.table(name, schema).createOrReplaceTempView(name)
    }
  }
}
