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

  /** Delete a local file or directory tree (no-op when absent). Plain
    * `java.io`, not the Hadoop API: scratch dirs are local, and the exit
    * hook below runs after Hadoop's own hook may have closed its
    * `FileSystem` cache. */
  def deleteLocal(f: java.io.File): Unit = if (f != null && f.exists()) {
    if (f.isDirectory) f.listFiles().foreach(deleteLocal)
    f.delete(): Unit
  }

  /** Copy a local file or directory tree to `dst`, replacing files that
    * already exist there. */
  def copyLocal(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyLocal(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }

  private val deleteAtExit = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    deleteAtExit.forEach(f => try deleteLocal(f) catch { case _: Exception => () })))

  /** Delete the local tree `f` when the JVM exits (one shared shutdown
    * hook; best-effort). Returns `f`. */
  def deleteLocalOnExit(f: java.io.File): java.io.File = {
    exitHook
    deleteAtExit.add(f)
    f
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
    * (`Scd2.persist`, the sidecar tiering). */
  def overwriteViaStaging(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    recoverSnapshot(path, conf)
    df.write.mode("overwrite").parquet(stagingOf(path))
    val target = new Path(path)
    val f = fs(target, conf)
    val old = new Path(oldOf(path))
    if (f.exists(old)) f.delete(old, true) // debris from an earlier completed swap
    if (f.exists(target)) f.rename(target, old)
    f.rename(new Path(stagingOf(path)), target)
    f.delete(old, true)
    spark.catalog.refreshByPath(path)
  }
}
