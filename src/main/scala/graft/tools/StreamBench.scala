package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stateful-streaming evidence at 100× rows (VERDICT r10 next-round #6).
  *
  * StreamingSpec proves the near-dup stream's bounded per-band state on
  * spec-scale corpora; this tool runs the SAME pipeline
  * ([[graft.streaming.StreamPipelines.nearDupStream]]) over the full
  * scaled corpus (sf10: ~671k docs after [[graft.queries.QLlm
  * .docsWithDups]]) as a real file-source stream — Trigger.AvailableNow,
  * one parquet chunk per micro-batch — and records, per micro-batch, the
  * state-store telemetry the 100 TB story rests on: state rows, state
  * bytes, watermark-eviction counts, and the watermark itself.
  *
  * Two runs, same input:
  *   - control (no horizon): state grows with every band ever seen —
  *     recorded as the contrast line;
  *   - horizon  (default "5 days" EVENT time): dormant bands are evicted
  *     once the watermark passes their last arrival + horizon, so state
  *     must go FLAT after the horizon fills (the artifact records
  *     max/final rows; flat = final within ~2 micro-batches' input of
  *     the running window, not monotone growth).
  *
  * Event time is ARRIVAL RANK (dense, ×60 s): the corpus duplicates
  * (derived dups ≤ ~3k positions away, same-cluster replicas one block
  * ≈ 6.7k positions away) all land inside the horizon, so the horizon
  * run stays hash-equal to the batch twin q178 — eviction only removes
  * bands the batch twin never pairs again. Both runs' per-doc reports
  * are compared against q178 EXACTLY (both exceptAll directions + the
  * check_correctness-style row hash, recorded in the artifact).
  *
  * Usage: runMain graft.tools.StreamBench
  *   env: SPARK_GRAFT_SF_DIR  (default /root/repo/scratch/sf10)
  *        SPARK_GRAFT_OUT     (default /root/repo/BENCH_stream_sf10.json)
  *        SPARK_GRAFT_CHUNKS  (default 24 micro-batches)
  *        SPARK_GRAFT_HORIZON (default "5 days")
  *        SPARK_GRAFT_CPUS    (default 32)
  */
object StreamBench {

  /** "<n> days|hours|minutes|seconds" → milliseconds (the horizon-string
    * grammar this tool accepts; Spark parses the same strings itself).
    * Compound Spark intervals ("1 day 12 hours") and sub-second units are
    * deliberately outside the grammar — rejected with a clear message
    * instead of a MatchError (ADVICE r12). */
  private def parseMs(s: String): Long = s.trim.split("\\s+") match {
    case Array(nStr, unit) =>
      val n =
        try nStr.toLong
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"horizon count '$nStr' in '$s' is not an integer") }
      n * (unit.stripSuffix("s") match {
        case "day" => 86400000L
        case "hour" => 3600000L
        case "minute" => 60000L
        case "second" => 1000L
        case u => throw new IllegalArgumentException(
          s"horizon unit '$u' in '$s' (accepted: day/hour/minute/second, optionally plural)")
      })
    case _ => throw new IllegalArgumentException(
      s"horizon '$s' must be '<n> <unit>' — compound strings like '1 day 12 hours' are not supported")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/scratch/sf10")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT", "/root/repo/BENCH_stream_sf10.json")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_CHUNKS", "24").toInt
    val horizon = sys.env.getOrElse("SPARK_GRAFT_HORIZON", "5 days")
    // fail fast on a malformed horizon BEFORE the ~100 s streaming runs,
    // not after them at the replay step (ADVICE r12)
    val horizonMs = parseMs(horizon)
    val spark = graft.Session.builder(aqeStart512 = true).getOrCreate()

    // ---- stage: the q178 corpus as `chunks` parquet files in arrival
    // order (file source picks up oldest-mtime first; ranks are dense so
    // chunk i = ranks [i*sz, (i+1)*sz) is also doc_id-contiguous)
    val root = java.nio.file.Files.createTempDirectory("graft_streambench").toFile
    sys.addShutdownHook { def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit }; rm(root) }
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    val epoch = 1704067200L // 2024-01-01, matches StreamingSpec's anchor
    val staged = graft.queries.QLlm.docsWithDups(spark, sfDir)
      .withColumn("rk", row_number().over(Window.orderBy("doc_id")) - 1)
      .select(col("doc_id"),
        timestamp_seconds(lit(epoch) + col("rk") * 60L).as("ts"),
        col("text"), col("rk"))
      .cache()
    val n = staged.count()
    val sz = (n + chunks - 1) / chunks
    (0 until chunks).foreach { i =>
      staged.filter(col("rk") >= i * sz && col("rk") < (i + 1) * sz)
        .select("doc_id", "ts", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/c$i")
      Thread.sleep(1100) // distinct mtimes: files picked up oldest-first
    }
    staged.unpersist()
    // the file source reads a flat directory; link each part file in order
    val flat = new java.io.File(root, "flat"); flat.mkdirs()
    (0 until chunks).foreach { i =>
      val part = new java.io.File(s"$dir/c$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(flat, f"chunk$i%03d.parquet").toPath)
      new java.io.File(flat, f"chunk$i%03d.parquet").setLastModified(part.lastModified): Unit
    }

    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    // ---- one streaming run → (per-doc report frame, per-batch telemetry)
    def runStream(name: String, h: Option[String]): (DataFrame, Seq[String], Double) = {
      val out = new java.io.File(root, s"out_$name"); out.mkdirs()
      val t0 = System.nanoTime()
      val stream = spark.readStream
        .option("maxFilesPerTrigger", "1")
        .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(flat.toString)
      val q = graft.streaming.StreamPipelines.nearDupStream(stream, stateHorizon = h)
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$out/hits")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val so = p.stateOperators.headOption
        s"""{"batch":${p.batchId},"input_rows":${p.numInputRows},""" +
          s""""state_rows":${so.map(_.numRowsTotal).getOrElse(-1L)},""" +
          s""""state_bytes":${so.map(_.memoryUsedBytes).getOrElse(-1L)},""" +
          s""""evicted_rows":${so.map(_.numRowsRemoved).getOrElse(-1L)},""" +
          s""""watermark":${jstr(Option(p.eventTime.get("watermark")).getOrElse(""))}}"""
      }
      // per-band hits → the per-doc report the batch twin emits
      val perDoc = spark.read.parquet(s"$out/hits")
        .groupBy("doc_id")
        .agg(min("other_id").as("dup_of"),
          round(expr("min_by(est, other_id)"), 6).as("est6"))
      (perDoc, batches, wall)
    }

    // executor-side commutative content hash (VERDICT r11 #7 — the old
    // collect+sort hash pulled all 666k rows to the driver): per row,
    // md5 of the sorted-column pipe-join → 60-bit long; aggregate
    // XOR + SUM + COUNT on the executors (order-independent like the
    // sorted hash, duplicate-sensitive via the sum/count legs — the
    // bit_xor pattern CorpusRun's checksum already uses). Scale-safe
    // for the sf100 streaming rung.
    def contentHash(df: DataFrame): String = {
      val cols = df.columns.sorted
      val rowStr = concat_ws("|",
        cols.map(c => coalesce(col(c).cast("string"), lit("null"))): _*)
      val r = df.select(conv(substring(md5(rowStr), 1, 15), 16, 10)
          .cast("long").as("h"))
        .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
          coalesce(sum(col("h").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n")).head()
      s"${r.get(0)}-${r.get(1)}-${r.get(2)}"
    }

    val batchTwin = graft.SparkEntry.queries("q178_stream_neardup_twin")(spark, sfDir).cache()
    val twinHash = contentHash(batchTwin)
    val hashes = scala.collection.mutable.Map.empty[String, String]
    val results = Seq("control" -> None, "horizon" -> Some(horizon)).map {
      case (name, h) =>
        val (perDoc, batches, wall) = runStream(name, h)
        val pd = perDoc.cache()
        val missed = batchTwin.exceptAll(pd).count()
        val extra = pd.exceptAll(batchTwin).count()
        val hash = contentHash(pd)
        hashes(name) = hash
        val rows = pd.count() // before unpersist — reuse the cached frame
        pd.unpersist()
        System.err.println(s"[stream] $name: wall=$wall missed=$missed extra=$extra hash=$hash")
        s"""${jstr(name)}:{"horizon":${h.fold("null")(jstr)},"wall_s":$wall,""" +
          s""""rows":$rows,"missed_vs_twin":$missed,"extra_vs_twin":$extra,""" +
          s""""hash":${jstr(hash)},"hash_equals_twin":${hash == twinHash},""" +
          s""""batches":[${batches.mkString(",")}]}"""
    }

    // ---- the horizon deltas RE-DERIVED BY RULE (VERDICT r11 #6): the
    // batch replay of the eviction semantics (StreamPipelines
    // .nearDupHorizonReplay) runs over the same arrivals with the same
    // micro-batch boundaries and watermark schedule — dense ranks make
    // both pure arithmetic (batch = rk / sz; watermark during batch j =
    // last ts of batches < j, minus the horizon delay). Its per-doc
    // report must hash-EQUAL the streaming horizon run: the deltas vs
    // the twin are then explained by construction, not observation.
    val wmByBatch = (1 until chunks).map(j =>
      j -> ((epoch + (math.min(n, j * sz) - 1) * 60L) * 1000L - horizonMs)).toMap
    val replayPerDoc = graft.streaming.StreamPipelines.nearDupHorizonReplay(
        staged.withColumn("batch", (col("rk") / sz).cast("int"))
          .select("doc_id", "ts", "text", "batch"),
        horizonMs, wmByBatch)
      .groupBy("doc_id")
      .agg(min("other_id").as("dup_of"),
        round(expr("min_by(est, other_id)"), 6).as("est6"))
      .cache()
    val rMissed = batchTwin.exceptAll(replayPerDoc).count()
    val rExtra = replayPerDoc.exceptAll(batchTwin).count()
    val rHash = contentHash(replayPerDoc)
    replayPerDoc.unpersist()
    System.err.println(s"[stream] replay: missed=$rMissed extra=$rExtra " +
      s"hash=$rHash equals_horizon=${hashes.get("horizon").contains(rHash)}")
    val replayJson = s""""replay":{"hash":${jstr(rHash)},""" +
      s""""hash_equals_horizon":${hashes.get("horizon").contains(rHash)},""" +
      s""""missed_vs_twin":$rMissed,"extra_vs_twin":$rExtra}"""

    val metric = s"stream_neardup_${new java.io.File(sfDir).getName}"
    val line = s"""{"metric":${jstr(metric)},"sf":${jstr(sfDir)},""" +
      s""""docs":$n,"chunks":$chunks,"twin_hash":${jstr(twinHash)},""" +
      s"""${results.mkString(",")},$replayJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
