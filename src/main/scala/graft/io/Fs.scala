package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem helpers shared by the warehouse writers, written against the
  * Hadoop `FileSystem` API so the same staging/promotion semantics run on
  * anything Spark can address — local `file:`, HDFS, or an object store
  * via its Hadoop connector — not just a POSIX mount (`java.nio` cannot
  * even resolve an `hdfs://` path).
  *
  * Durability model: `rename` is atomic on HDFS and POSIX local
  * filesystems, so the snapshot swap below is crash-safe there. Object
  * stores (S3A and friends) implement rename as copy+delete — NOT atomic
  * — which is why every promotion here is gated on Spark's `_SUCCESS`
  * job-commit marker and recovery is re-runnable: a torn rename leaves
  * either the marker-bearing staging dir (recovered forward) or the
  * `__old` snapshot (recovered back), never a half-readable table taken
  * as truth. On object stores, prefer a real table format's manifest
  * commit; this layer keeps the same call shape so that swap-in is local.
  */
object Fs {

  private def fs(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  /** Delete a file or directory tree (no-op when absent). */
  def deleteRecursively(path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val f = fs(p, conf)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Move every data file under `src` into `dst`, preserving relative
    * partition subdirectories (`col=value/...`) and merging with whatever
    * `dst` already holds. Spark part-file names carry task UUIDs, so moves
    * never collide with existing files, and re-running a half-finished
    * promotion simply moves the remainder — the operation is idempotent.
    * Used to make appends all-or-nothing: the stage writes to a staging
    * dir first and only a fully successful job's files are promoted. */
  def promoteInto(src: String, dst: String, conf: Configuration): Unit = {
    val srcP = new Path(src)
    val f = fs(srcP, conf)
    def walk(s: Path, d: Path): Unit = {
      f.mkdirs(d)
      f.listStatus(s).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, new Path(d, name))
        else if (name.endsWith(".parquet")) // skip _SUCCESS / .crc markers
          f.rename(st.getPath, new Path(d, name))
      }
    }
    walk(srcP, new Path(dst))
  }

  /** True when `path` holds a Spark `_SUCCESS` job-commit marker. */
  def hasSuccessMarker(path: String, conf: Configuration): Boolean = {
    val p = new Path(path, "_SUCCESS")
    fs(p, conf).exists(p)
  }

  /** True when `path` exists and holds at least one parquet part-file
    * anywhere below it (partitioned tables nest under `col=value/`). */
  def hasParquetData(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    val f = fs(p, conf)
    f.exists(p) && {
      val it = f.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Distinct values of a partition column, straight off the directory
    * names (`col=value/` subdirectories) — one listing, no footer reads.
    * Empty when the table is absent or unpartitioned. Hive-style encoding
    * is URI-escaped; values here (ISO dates) never need unescaping. */
  def partitionValues(path: String, column: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val f = fs(p, conf)
    val prefix = column + "="
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
      .sorted
  }

  private def stagingOf(path: String) = s"${path}__staging"
  private def oldOf(path: String) = s"${path}__old"

  /** Repair a snapshot table after a crash mid-[[overwriteViaStaging]]:
    * if the target is missing, promote a `_SUCCESS`-complete staging dir
    * forward, else restore the `__old` snapshot, and drop the losing side.
    * If the target is present, drop a leftover `__old` (a crash between
    * promotion and drop); a `__staging` beside a present target is left
    * alone, since a concurrent writer may be staging it. A skipped next
    * write ([[graft.dims.Scd2.persist]]) would otherwise keep this debris.
    * Idempotent and cheap (2 existence probes when the target is healthy
    * — it never touches a table that has no swap debris). Returns whether
    * it healed anything: a heal changes the files behind `path`, so a
    * caller whose session may have cached the pre-crash listing (the
    * file-status cache pins listings for the session,
    * `metadataCacheTTLSeconds=-1` — the r13 stale-cache lesson) must
    * `refreshByPath` on true before reading. Dropping `__old` beside a
    * present target changes nothing behind `path` and returns false. */
  def recoverSnapshot(path: String, conf: Configuration): Boolean = {
    val target = new Path(path)
    val f = fs(target, conf)
    if (f.exists(target)) {
      val old = new Path(oldOf(path))
      if (f.exists(old)) f.delete(old, true)
      false
    } else {
      val staging = new Path(stagingOf(path))
      val old = new Path(oldOf(path))
      val (winner, loser) =
        if (f.exists(staging) && hasSuccessMarker(stagingOf(path), conf)) (staging, old)
        else (old, staging)
      f.exists(winner) && f.rename(winner, target) && { f.delete(loser, true); true }
    }
  }

  /** Overwrite-via-staging snapshot write: write to `<path>__staging`,
    * then swap so EVERY crash window leaves a complete snapshot readable
    * at `path` or recoverable by [[recoverSnapshot]]:
    *
    *   1. recover any debris from a prior crashed swap (promote/restore);
    *   2. job writes staging (`_SUCCESS` marks completion);
    *   3. rename current snapshot to `<path>__old` (atomic);
    *   4. rename staging into place (atomic);
    *   5. delete `__old`.
    *
    * A crash after 3 leaves `__old` plus a marker-complete staging —
    * recovery promotes the staging; a crash with an incomplete staging
    * restores `__old`. The earlier delete-then-move version had a window
    * with NO readable snapshot; this has none. Also refreshes the
    * session's file-status cache — load-bearing: the cache keeps the
    * pre-swap listing forever (`metadataCacheTTLSeconds=-1`), so without
    * it a later read of the same path in this session resolves to
    * renamed-away part-files. Shared by every snapshot table writer
    * (`Scd2.persist`, CorpusRun, the sidecar tiering). */
  def overwriteViaStaging(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    stageSnapshot(df, path)
    commitSnapshot(df.sparkSession, path)
  }

  /** Phase 1 of [[overwriteViaStaging]], exposed so MULTI-TABLE writers
    * (e.g. a snapshot + its manifest) can stage every output while the
    * expensive jobs run, then commit the swaps back-to-back — a failure
    * anywhere in staging leaves every previous snapshot untouched, and
    * the cross-table torn window shrinks to two adjacent renames. */
  def stageSnapshot(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    recoverSnapshot(path, conf)
    df.write.mode("overwrite").parquet(stagingOf(path))
  }

  /** Phase 2 of [[overwriteViaStaging]]: steps 3-5 — demote the current
    * snapshot to `__old`, promote the staged one, drop `__old`. */
  def commitSnapshot(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val target = new Path(path)
    val f = fs(target, conf)
    val old = new Path(oldOf(path))
    if (f.exists(old)) f.delete(old, true) // debris from an earlier completed swap
    if (f.exists(target)) f.rename(target, old)
    f.rename(new Path(stagingOf(path)), target)
    f.delete(old, true)
    spark.catalog.refreshByPath(path)
  }

  // ===== Versioned snapshots (time travel without a table format) =====
  //
  // Same staging/swap discipline as overwriteViaStaging, but each commit
  // RETAINS the demoted snapshot as `<path>__v<N>` (pruned to the `keep`
  // newest) and stamps the current snapshot's version in a `_VERSION`
  // marker file — underscore-prefixed, so every parquet reader ignores
  // it. This is the nightly-pipeline safety net ("yesterday's dim before
  // the bad backfill") and a reproducibility primitive ("train against
  // snapshot v12"), Iceberg-style in shape; a real table format's
  // manifest commit replaces it on object stores. Crash-safety: the
  // marker is written into STAGING after the job's `_SUCCESS`, so every
  // window [[recoverSnapshot]] can promote forward already carries its
  // version — monotonicity survives any crash, and the retained-version
  // chain is append-only until pruned.

  private def versionDirOf(path: String, v: Long) = s"${path}__v$v"

  private def readVersionMarker(dir: String, conf: Configuration): Long = {
    val p = new Path(dir, "_VERSION")
    val f = fs(p, conf)
    if (!f.exists(p)) 0L
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private def writeVersionMarker(dir: String, v: Long, conf: Configuration): Unit = {
    val p = new Path(dir, "_VERSION")
    val out = fs(p, conf).create(p, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
  }

  /** Version of the CURRENT snapshot at `path` (0 = never written by the
    * versioned writer). */
  def snapshotVersion(path: String, conf: Configuration): Long =
    readVersionMarker(path, conf)

  /** Retained historical versions (ascending) — the current snapshot's
    * version is NOT in this list; see [[snapshotVersion]]. */
  def retainedVersions(path: String, conf: Configuration): Seq[Long] = {
    val target = new Path(path)
    val f = fs(target, conf)
    val parent = target.getParent
    val prefix = target.getName + "__v"
    if (parent == null || !f.exists(parent)) Seq.empty
    else f.listStatus(parent).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
      .sorted
  }

  /** Versioned overwrite: stage, demote the current snapshot to its
    * version slot, promote, prune. Returns the NEW current version.
    * Every crash window leaves either a readable current snapshot or a
    * `_SUCCESS`-complete staging that [[recoverSnapshot]] promotes —
    * with its `_VERSION` marker already inside. */
  def overwriteVersioned(df: org.apache.spark.sql.DataFrame, path: String,
                         keep: Int = 3): Long = {
    val spark = df.sparkSession
    val next = stageVersioned(df, path)
    commitVersioned(spark, path, keep)
    next
  }

  /** Stage phase: write staging + stamp its `_VERSION` (= current + 1). */
  def stageVersioned(df: org.apache.spark.sql.DataFrame, path: String): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    recoverSnapshot(path, conf)
    val next = snapshotVersion(path, conf) + 1
    df.write.mode("overwrite").parquet(stagingOf(path))
    writeVersionMarker(stagingOf(path), next, conf)
    next
  }

  /** Commit phase: demote current → its version slot, promote staging,
    * prune retained versions beyond `keep`. */
  def commitVersioned(spark: org.apache.spark.sql.SparkSession, path: String,
                      keep: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val target = new Path(path)
    val f = fs(target, conf)
    if (f.exists(target)) {
      val cur = snapshotVersion(path, conf)
      val slot = new Path(versionDirOf(path, cur))
      if (f.exists(slot)) f.delete(slot, true) // re-run debris; newest wins
      f.rename(target, slot)
    }
    f.rename(new Path(stagingOf(path)), target)
    retainedVersions(path, conf).dropRight(keep)
      .foreach(v => f.delete(new Path(versionDirOf(path, v)), true))
    spark.catalog.refreshByPath(path)
  }

  /** Time-travel read: the snapshot as of version `v` (the current one or
    * any retained historical version). Fails fast with the retained set
    * when `v` has been pruned — silently serving the wrong version is the
    * one unacceptable behavior for a reproducibility primitive.
    *
    * Concurrency contract: this layer assumes a SINGLE WRITER per table
    * path (the nightly-batch model every writer in this repo follows).
    * Readers racing a writer are handled best-effort: after resolving
    * `v == cur` to the live path, the `_VERSION` marker is re-read and,
    * if a concurrent commit moved the current version, the read falls
    * back to the freshly demoted `__v<v>` slot — so the marker-read →
    * parquet-read window cannot silently serve version cur+1 labeled as
    * v. A reader racing the PRUNE of a historical slot can still lose
    * the require/read race; under multiple writers use a real table
    * format's manifest commit instead. */
  def readVersion(spark: org.apache.spark.sql.SparkSession, path: String,
                  v: Long): org.apache.spark.sql.DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = snapshotVersion(path, conf)
    if (v == cur) {
      val df = spark.read.parquet(path)
      // TOCTOU guard: a concurrent commitVersioned between the marker read
      // and the parquet read would have demoted v into its slot. The slot
      // itself can ALSO already be pruned (keep=0, or a commit+prune race)
      // — re-check retention so a lost race fails with the documented
      // "not available: retained=..." contract error, not an opaque
      // path-not-found from the parquet reader.
      if (snapshotVersion(path, conf) == v) df
      else readVersionSlot(spark, path, v, conf)
    } else readVersionSlot(spark, path, v, conf)
  }

  /** Read the `__v<v>` historical slot, translating a losing race in
    * the check → eager-read window into the documented contract error:
    * the retention `require` narrows but cannot close that window
    * (ADVICE r8 — a prune landing in between still surfaced as an
    * opaque path-not-found), so the eager `spark.read.parquet` is also
    * wrapped and a slot that vanishes there re-reports with the
    * post-race retained set. A prune landing AFTER the read returns but
    * before the caller's first action is inherently out of reach — that
    * residual window surfaces as a scan-time FileNotFoundException, the
    * same exposure any snapshot reader has between plan and execute
    * (ADVICE r9). */
  private def readVersionSlot(spark: org.apache.spark.sql.SparkSession,
                              path: String, v: Long,
                              conf: Configuration): org.apache.spark.sql.DataFrame = {
    def unavailable(cause: Throwable): Nothing =
      throw new IllegalArgumentException(
        s"requirement failed: version $v of $path not available: " +
          s"current=${snapshotVersion(path, conf)} " +
          s"retained=${retainedVersions(path, conf).mkString(",")}", cause)
    require(retainedVersions(path, conf).contains(v),
      s"version $v of $path not available: " +
        s"current=${snapshotVersion(path, conf)} " +
        s"retained=${retainedVersions(path, conf).mkString(",")}")
    try spark.read.parquet(versionDirOf(path, v))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if "PATH_NOT_FOUND".equals(e.getCondition) => unavailable(e)
      case e: java.io.FileNotFoundException => unavailable(e)
    }
  }
}
