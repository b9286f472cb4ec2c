package graft.dims

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Generic SCD Type-2 merge (reference ETL/etl.py:170-263).
  *
  * The reference walks incoming rows one by one, probing the dimension with
  * `SELECT ... WHERE natural_key = ? AND current_flag = 1` and issuing
  * `UPDATE` (expiry, etl.py:197-201) + `INSERT` (new version). Spark has no
  * point UPDATE, so the idiomatic pattern is a snapshot rewrite: read the
  * current snapshot, compute the merged next snapshot, overwrite
  * (SURVEY.md §1.6) — and, like the reference, write nothing on a day
  * with no new version ([[persist]]). One equi-join + one union; with the
  * dimension small relative to facts the join side broadcasts, and at
  * 100 TB the dimension rewrite is still dwarfed by the fact load it serves.
  *
  * Semantics per the reference:
  *  - change detection compares tracked columns null-safely (etl.py:195, 243)
  *  - `passthrough` columns are carried into new versions from the incoming
  *    row but do NOT trigger versioning (dim_user carries join_date while
  *    comparing only name/email, etl.py:188-201)
  *  - expired versions get `end_date = runDate - 1 day`, `current_flag = 0`
  *    (etl.py:196-201)
  *  - new versions/new members get `start_date` from `startForNew` — the
  *    user dim seeds it with `join_date` while the product dim uses the run
  *    date (etl.py:188-189 vs 236-237); changed members always restart at
  *    `runDate`
  *  - surrogate keys are dense and assigned in natural-key order past the
  *    previous max (AUTOINCREMENT parity, SURVEY.md §7.4) — in [[merge]]
  *    that window spans only the day's NEW rows, so the single-partition
  *    sort is bounded by daily change volume, not table size; [[init]]
  *    (whole-table) uses a range-partitioned zipWithIndex instead.
  *
  * @param naturalKey  business key column names
  * @param tracked     columns whose change triggers a new version
  * @param passthrough columns carried into versions but never compared
  * @param skName      surrogate-key column present in `current`
  */
final case class Scd2(naturalKey: Seq[String], tracked: Seq[String], skName: String,
                      passthrough: Seq[String] = Nil) {

  private def attrs = naturalKey ++ tracked ++ passthrough

  /** Next snapshot given the current one and today's extract.
    *
    * `current` columns: skName ++ naturalKey ++ tracked ++ passthrough ++
    * (start_date, end_date, current_flag).
    * `incoming` columns: naturalKey ++ tracked ++ passthrough.
    * `startForNew`: start_date for members not in the dimension yet,
    * evaluated against `incoming`'s columns (e.g. `col("join_date")` or
    * `lit(runDate)`).
    */
  /** @param cutJoin  lazily lineage-cut ([[graft.ops.Fixpoint.cut]]) the
    *                  full-outer join the output branches all derive
    *                  from. Off by default; turn on when merges CHAIN —
    *                  each uncut merge inlines the join subtree into
    *                  every branch of the next, so a k-step chain
    *                  re-plans it ~4^k times (q120's 22-broadcast plan,
    *                  VERDICT r7 #5). A cut, unlike a cache (ADVICE r8:
    *                  a k-step cached chain pinned k dimension-sized
    *                  frames for the session, with no unpersist path),
    *                  is freed by the ContextCleaner as soon as the
    *                  merged frame is no longer referenced, and stops
    *                  the chained plan growing at all. */
  def merge(current: DataFrame, incoming: DataFrame, runDate: String,
            startForNew: Column, cutJoin: Boolean = false): DataFrame =
    mergeWithFresh(current, incoming, runDate, startForNew, cutJoin)._1

  /** Merge, then persist the next snapshot at `path` — the one SCD2
    * snapshot write path ([[graft.pipeline.EtlRun]]'s dimension stages,
    * [[graft.streaming.StreamPipelines.scd2Sink]]). Returns the number of
    * fresh versions (new plus re-versioned members): the inserted count.
    *
    * Every current row is carried exactly once (unchanged or expired) and
    * an expiry comes only with a fresh version, so with zero fresh rows
    * the next snapshot IS the current one: the write is skipped outright
    * (no job, no staging dir, no renames), as the reference's point
    * UPDATE/INSERT writes nothing on an unchanged day (etl.py:188-263).
    * A changed day evaluates the join twice (count, then write); caching
    * it measured slower at perfbench's size than evaluating it twice.
    * Like [[merge]], it assumes one `incoming` row per natural key. */
  def persist(current: DataFrame, incoming: DataFrame, runDate: String,
              startForNew: Column, path: String): Long = {
    val (next, fresh) = mergeWithFresh(current, incoming, runDate, startForNew, cutJoin = false)
    val nFresh = fresh.count()
    if (nFresh > 0) graft.io.Fs.overwriteViaStaging(next, path)
    nFresh
  }

  /** The next snapshot, and the join rows that emit its fresh versions. */
  private def mergeWithFresh(current: DataFrame, incoming: DataFrame, runDate: String,
                             startForNew: Column, cutJoin: Boolean): (DataFrame, DataFrame) = {
    val run = to_date(lit(runDate))

    val history = current.filter(col("current_flag") === 0)
    val cur = current.filter(col("current_flag") === 1)

    val inc = incoming.select(attrs.map(c => col(c).as(s"in_$c")) :+ startForNew.as("in_start"): _*)

    val joined0 = cur.join(
      inc,
      naturalKey.map(k => col(k) === col(s"in_$k")).reduce(_ && _),
      "full_outer"
    )
    val joined = if (cutJoin) graft.ops.Fixpoint.cut(joined0) else joined0

    val hasCur = naturalKey.map(k => col(k).isNotNull).reduce(_ && _)
    val hasInc = naturalKey.map(k => col(s"in_$k").isNotNull).reduce(_ && _)
    val changed = tracked.map(c => !(col(c) <=> col(s"in_$c"))).reduce(_ || _)

    // ONE pass over the join emits both current-row outcomes (r7 #5: the
    // previous four filtered derivations re-planned — and re-evaluated —
    // the join subtree once per branch, which also fanned a chained
    // merge's plan out ~4^k):
    //   1. untouched current rows (no incoming row, or incoming
    //      identical) pass through;
    //   2. changed members' old versions expire with
    //      `end_date = runDate − 1`, `current_flag = 0`.
    val keep = cur.columns.toSeq
    val unchangedS = struct(keep.map(col): _*)
    val expiredS = struct(keep.map {
      case "end_date" => date_sub(run, 1).as("end_date")
      case "current_flag" => lit(0).as("current_flag")
      case c => col(c)
    }: _*)
    val carried = joined
      .select(explode(array(
        when(hasCur && (!hasInc || !changed), unchangedS),
        when(hasCur && hasInc && changed, expiredS))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.*"))

    // 3. fresh versions: changed members restart at runDate, unseen
    // members enter with the policy start date. Dense SKs continue past
    // the previous max, ordered by natural key (reference AUTOINCREMENT
    // follows the ORDER BY <key> extract, etl.py:150) — the window runs
    // over ONLY the fresh rows, so the single-partition sort stays
    // bounded by daily change volume, not table size.
    val maxSk = current.agg(coalesce(max(col(skName)), lit(0L)).as("max_sk"))
    val skWindow = Window.orderBy(naturalKey.map(k => col(s"in_$k")): _*)
    val freshRows = joined.filter(hasInc && (!hasCur || changed))
    val fresh = freshRows
      .withColumn("rn", row_number().over(skWindow))
      .crossJoin(broadcast(maxSk))
      .select(
        (col("max_sk") + col("rn")).cast("long").as(skName) +:
          attrs.map(c => col(s"in_$c").as(c)) :+
          when(hasCur, run).otherwise(to_date(col("in_start"))).as("start_date") :+
          lit(null).cast("date").as("end_date") :+
          lit(1).as("current_flag"): _*
      )

    (history.unionByName(carried).unionByName(fresh), freshRows)
  }

  /** Bootstrap a version-1 snapshot from a bare extract.
    *
    * SKs are dense 1..n in natural-key order WITHOUT a global window: the
    * extract is range-partitioned on the key (globally ordered partitions),
    * sorted within partitions, and numbered with `zipWithIndex` — each
    * partition computes its offset from partition sizes, so the whole-table
    * initial load never funnels through one task (VERDICT r1 "What's wrong"
    * #5).
    */
  def init(extract: DataFrame, startDate: Column): DataFrame = {
    val spark = extract.sparkSession
    val base = extract
      .select(attrs.map(col) :+ to_date(startDate).as("start_date"): _*)
      .repartitionByRange(naturalKey.map(col): _*)
      .sortWithinPartitions(naturalKey.map(col): _*)
    val schema = StructType(StructField(skName, LongType, nullable = false) +: base.schema.fields)
    val numbered = base.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq((i + 1L) +: r.toSeq) }
    spark.createDataFrame(numbered, schema)
      .withColumn("end_date", lit(null).cast("date"))
      .withColumn("current_flag", lit(1))
  }
}
