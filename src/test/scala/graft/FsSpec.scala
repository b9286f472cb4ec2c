package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** The Hadoop-API storage layer: snapshot swap crash windows. Every state a
  * crash can leave [[graft.io.Fs.overwriteViaStaging]] in must be readable
  * or recoverable — the delete-then-move predecessor had a window with NO
  * snapshot anywhere; these tests pin the promote-then-swap fix.
  */
class FsSpec extends SparkSpec {
  import spark.implicits._
  import graft.io.Fs

  private def conf = spark.sessionState.newHadoopConf()
  private def freshTable(): String =
    Files.createTempDirectory("graft_fs").toString + "/snap"

  private def write(path: String, vals: Seq[Int]): Unit =
    Fs.overwriteViaStaging(vals.toDF("v"), path)

  private def readVals(path: String): Seq[Int] = {
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path).as[Int].collect().toSeq.sorted
  }

  test("overwriteViaStaging swaps snapshots and leaves no debris") {
    val t = freshTable()
    write(t, Seq(1, 2, 3))
    assert(readVals(t) === Seq(1, 2, 3))
    write(t, Seq(4, 5))
    assert(readVals(t) === Seq(4, 5))
    val f = new Path(t).getFileSystem(conf)
    assert(!f.exists(new Path(t + "__staging")) && !f.exists(new Path(t + "__old")))
  }

  test("crash after demoting target: recovery promotes the complete staging") {
    val t = freshTable()
    write(t, Seq(1))
    // simulate: next write completed its staging (with _SUCCESS), renamed
    // target to __old, then died before promoting staging
    Seq(2).toDF("v").write.mode("overwrite").parquet(t + "__staging")
    val f = new Path(t).getFileSystem(conf)
    assert(f.rename(new Path(t), new Path(t + "__old")))
    Fs.recoverSnapshot(t, conf)
    assert(readVals(t) === Seq(2), "marker-complete staging must win")
    assert(!f.exists(new Path(t + "__old")), "the superseded snapshot is dropped")
  }

  test("crash with incomplete staging: recovery restores the old snapshot") {
    val t = freshTable()
    write(t, Seq(1))
    val f = new Path(t).getFileSystem(conf)
    // simulate: staging has data files but the job never committed
    Seq(2).toDF("v").write.mode("overwrite").parquet(t + "__staging")
    f.delete(new Path(t + "__staging/_SUCCESS"), false)
    assert(f.rename(new Path(t), new Path(t + "__old")))
    Fs.recoverSnapshot(t, conf)
    assert(readVals(t) === Seq(1), "incomplete staging must NOT be promoted")
    assert(!f.exists(new Path(t + "__staging")), "the dead job's staging is dropped")
  }

  test("crash after promotion: a leftover __old beside the target is dropped") {
    val t = freshTable()
    write(t, Seq(1))
    val f = new Path(t).getFileSystem(conf)
    // simulate: the swap promoted its staging, then died before dropping __old
    Seq(0).toDF("v").write.mode("overwrite").parquet(t + "__old")
    assert(!Fs.recoverSnapshot(t, conf), "the target's files are untouched: no heal")
    assert(readVals(t) === Seq(1))
    assert(!f.exists(new Path(t + "__old")))
  }

  test("next overwrite self-heals a torn swap before writing") {
    val t = freshTable()
    write(t, Seq(1))
    val f = new Path(t).getFileSystem(conf)
    assert(f.rename(new Path(t), new Path(t + "__old"))) // torn: no target
    write(t, Seq(3))
    assert(readVals(t) === Seq(3))
    assert(!f.exists(new Path(t + "__old")))
  }

  test("full ETL day runs against an explicit file: scheme URI") {
    // the port's point: the warehouse is a Hadoop-FS URI, not a POSIX
    // path — every staging/swap/read goes through FileSystem resolution.
    // An hdfs:// or s3a:// warehouse takes the identical code path.
    import graft.gen.Synthetic
    import graft.pipeline.EtlRun
    val wh = "file:" + Files.createTempDirectory("graft_fs_uri").toString + "/wh"
    val users = Synthetic.users(spark, 30)
    val products = Synthetic.products(spark, 10)
    val tx = Synthetic.transactions(spark, 60, "2025-03-01", 30, 10)
    users.write.parquet(s"$wh/users")
    products.write.parquet(s"$wh/products")
    tx.write.partitionBy("date").parquet(s"$wh/transactions")
    val run = new EtlRun(spark, wh).run("2025-03-01")
    assert(run.select("status").head().getString(0) === "success")
    assert(spark.read.parquet(s"$wh/dim_user")
      .filter(col("current_flag") === 1).count() === 30)
    assert(spark.read.parquet(s"$wh/fact_transactions").count() > 0)
  }

  test("promoteInto merges partitioned part-files idempotently") {
    val base = Files.createTempDirectory("graft_fs").toString
    val staging = s"$base/stage"
    val target = s"$base/tbl"
    Seq((1, "a"), (2, "b")).toDF("v", "p").write.partitionBy("p").parquet(staging)
    Fs.promoteInto(staging, target, conf)
    Fs.promoteInto(staging, target, conf) // re-run: remainder only, no dup
    assert(spark.read.parquet(target).count() === 2)
    assert(Fs.hasParquetData(s"$target/p=a", conf))
  }
}
