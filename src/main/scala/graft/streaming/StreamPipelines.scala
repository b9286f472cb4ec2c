package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming twins of the batch event pipelines (SURVEY §2.10):
  * the reference is daily batch (`--today`), so streaming is the
  * continuous-ingest generalization — file-source `readStream` over the
  * same event schema, watermarked tumbling-window aggregation (q39's
  * streaming form), and gap-based sessionization via
  * `flatMapGroupsWithState` (q40's streaming form, where a window-lag
  * formulation is impossible because the stream never ends).
  *
  * Scale notes: the windowed aggregate is a streaming hash-aggregate with
  * state keyed by (window, event_type) — partial aggregation map-side, one
  * shuffle on the state key, state store size bounded by the watermark
  * horizon. Sessionization keys state by user_id — one shuffle; the
  * per-user state is O(1) (open-session summary), and event-time timeouts
  * evict sessions once the watermark passes the gap, so state never grows
  * with stream length.
  */
object StreamPipelines {

  /** events table schema (matches /root/testdata events.parquet at µs). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Watermarked 1-hour tumbling-window counts/sums per event_type —
    * identical output columns to batch q39 so results can be compared
    * 1:1 once the stream drains (Trigger.AvailableNow in tests). */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"), col("sum_cents"))

  /** Watermarked SLIDING-window counts (1 h window, 15 min slide) — the
    * streaming form of batch q95; each event feeds its 4 overlapping
    * windows, state keyed by (window, event_type) exactly as the tumbling
    * aggregate (4× the state rows, same eviction-by-watermark bound). */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"))

  /** Streaming dimension maintenance: SCD2 upserts from a mutation stream
    * via `foreachBatch` — each micro-batch runs the SAME SCD2 write path
    * the daily batch uses ([[graft.dims.Scd2.persist]]: merge, then an
    * atomic snapshot swap), so batch and streaming dimension states are
    * definitionally consistent. The dim snapshot at `dimPath` must exist
    * (seed with `Scd2.init`). Caller sets the trigger/checkpoint and
    * starts the returned writer.
    *
    * Scale notes: foreachBatch gives exactly-once per micro-batch through
    * checkpointed offsets + the atomic swap (a re-run of a failed batch
    * re-merges idempotently — SCD2 change detection is null-safe equality,
    * so an unchanged re-merge has no fresh version and writes nothing:
    * the snapshot's files stay as they are). State lives in the snapshot,
    * not the state store, so dimension size is unbounded by watermarks.
    */
  def scd2Sink(mutations: DataFrame, dimPath: String, dim: graft.dims.Scd2,
               startForNew: org.apache.spark.sql.Column,
               runDateForBatch: (DataFrame, Long) => String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    mutations.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val current = batch.sparkSession.read.parquet(dimPath)
        dim.persist(current, batch, runDateForBatch(batch, batchId), startForNew, dimPath)
      }
      ()
    }

  /** One event as consumed by the session operator. */
  final case class SessionEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                                event_type: String)

  /** Open-session accumulator carried in the state store (O(1) per user:
    * the path prefix is capped at [[pathLen]] event types).
    *
    * STATE SCHEMA VERSIONING: this case class IS the
    * flatMapGroupsWithState state encoder schema. Any field change (the
    * `first` path buffer was added after the initial release) invalidates
    * checkpoints written by the previous schema — a restarted stream will
    * fail or misdecode state. On upgrade, restart with a fresh checkpoint
    * location (or a new queryName) rather than resuming the old one. */
  final case class SessionState(sessionNum: Long, startUs: Long, lastUs: Long,
                                nEvents: Long, first: Seq[String])

  /** One emitted (closed or flushed) session. `path` is the '>'-joined
    * first-[[pathLen]] event types — the same per-session value q158's
    * batch path aggregation computes, so the stream output pins the
    * newest registry query to an independent harness. */
  final case class SessionOut(user_id: Long, session_num: Long, n_events: Long,
                              session_start: java.sql.Timestamp, path: String)

  val pathLen: Int = 5 // same prefix cap as batch q158

  val gapUs: Long = 1800000000L // 30 min, same as batch q40

  /** Gap-based sessionization with `flatMapGroupsWithState`: events arrive
    * grouped by user; a gap > 30 min closes the open session and emits it.
    * Event-time timeout (watermark) flushes sessions for idle users. The
    * within-batch sort is required because flatMapGroupsWithState presents
    * a batch's rows in arbitrary order.
    */
  def sessionize(events: Dataset[SessionEvent], watermark: String = "2 hours")
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          def emit(s: SessionState): SessionOut =
            SessionOut(userId, s.sessionNum, s.nEvents,
              new java.sql.Timestamp(s.startUs / 1000), s.first.mkString(">"))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(s))
          } else {
            // full-µs event time: Timestamp.getTime is ms-truncated, and the
            // testdata carries real sub-ms micros — ordering at ms precision
            // could diverge from the batch twin (q40/q158 order by exact ts)
            def micros(t: java.sql.Timestamp): Long =
              math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = micros(e.ts)
              def extend(f: Seq[String]) =
                if (f.length < pathLen) f :+ e.event_type else f
              cur match {
                case Some(s) if us - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = us, nEvents = s.nEvents + 1,
                    first = extend(s.first)))
                case Some(s) =>
                  closed += emit(s)
                  cur = Some(SessionState(s.sessionNum + 1, us, us, 1,
                    Seq(e.event_type)))
                case None =>
                  cur = Some(SessionState(1, us, us, 1, Seq(e.event_type)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // evict once the watermark passes the session gap; clamp past
              // the current watermark — EventTimeTimeout throws on a
              // timestamp <= watermark, and a batch whose newest event for
              // this user is already older than (watermark - gap) would
              // otherwise kill the query instead of just expiring the session
              state.setTimeoutTimestamp(math.max(
                s.lastUs / 1000 + gapUs / 1000 + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Flush helper for tests/drains: after the stream ends, sessions still
    * open in the state store have not been emitted. Running with
    * Trigger.AvailableNow + a final empty microbatch fires the event-time
    * timeouts IF the watermark advanced past them; otherwise callers union
    * the batch tail. Kept explicit so the semantics are visible. */

  /** Streaming CORPUS-INGEST curation: content-fingerprint dedup within
    * the watermark horizon (first arrival of a text wins — re-crawls and
    * mirror copies drop), then the frozen q133 quality gate, rolled up to
    * per-day (n_unique, n_kept) ingest stats. Two stateful operators
    * chained — watermarked dedup feeding a watermarked window aggregate —
    * which Spark supports since multi-stateful pipelines landed; state
    * for the dedup is one fingerprint per distinct text inside the
    * horizon, and the aggregate holds one row per open day window.
    * q139 is the batch twin (global first-wins by fingerprint + the same
    * day bucketing); StreamingSpec proves stream == batch == oracle.
    * Expects (doc_id, ts, text); emits (day_start, n_unique, n_kept).
    */
  def curateDocs(docs: DataFrame, watermark: String = "90 days"): DataFrame = {
    val t = graft.text.TextOps
    docs.withColumn("fp", t.hash64(t.normText(col("text"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .withColumn("keep", t.qualityLogit(col("text")) > 0.0d)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_unique"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(unix_timestamp(col("window.start")).as("day_start"),
        col("n_unique"), col("n_kept"))
  }

  /** Streaming duplicate suppression: first occurrence per id passes,
    * re-deliveries within the watermark horizon are dropped — the
    * streaming counterpart of the batch anti-join + first-wins pair, and
    * the stateful layer that [[validateTransactions]]'s contract defers
    * duplicate handling to. State holds one entry per id seen inside the
    * watermark window; older state is evicted, so memory is bounded by
    * (arrival rate × watermark), not stream length. Exactly-once ids are
    * only guaranteed within the horizon — replays farther apart than the
    * watermark are the downstream idempotent anti-join's job (same
    * layering as the reference: PK constraint at insert, set-probe before).
    */
  def dedupeStream(df: DataFrame, idCols: Seq[String], tsCol: String,
                   watermark: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      // dedup on the id ALONE (re-deliveries carry new timestamps) while
      // still evicting state at the watermark — plain dropDuplicates(id)
      // would keep state forever
      .dropDuplicatesWithinWatermark(idCols.toArray)

  /** Watermarked stream-stream interval join: right rows within
    * `windowSec` AFTER each left row, per key — the streaming form of
    * [[graft.ops.IntervalJoin.within]] (q61 is the batch twin). Inputs
    * must carry disjoint column names (`leftTime`/`rightTime` are the two
    * event-time columns). Both sides are watermarked, and the time-range
    * predicate lets Spark bound each side's join state: a buffered left
    * row is dropped once the watermark passes `leftTime + windowSec`, so
    * state is (rate × window + watermark slack), not stream length.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTime: String, rightTime: String, windowSec: Long,
                         watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    // the range condition MUST stay in raw timestamp +/- interval form:
    // Spark's StreamingJoinHelper can only derive state-eviction watermarks
    // from attribute/cast/add/subtract shapes — wrapping the columns in
    // unix_micros() makes the condition unanalyzable and the join state
    // grows without bound
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTime) >= col(leftTime) &&
      col(rightTime) < col(leftTime) + expr(s"INTERVAL $windowSec SECONDS"))
  }

  /** The data contract applied to a TRANSACTION STREAM: stream-static
    * broadcast joins resolve user/product existence and expected price,
    * then the one-pass rule engine annotates each row — every rule is a
    * narrow expression, so the whole contract streams without state.
    * Returns (valid, errors): two streaming frames the caller sinks
    * independently (e.g. parquet fact feed + error-log append).
    *
    * Deviation from batch, by necessity: in-batch duplicate-occurrence
    * ranking is a global window, which has no streaming equivalent — on a
    * stream, duplicate handling belongs to the stateful layer
    * (`dropDuplicates` within the watermark, or the downstream anti-join
    * load which is idempotent anyway). `dupOccurrence` is pinned to 1.
    */
  def validateTransactions(txStream: DataFrame, users: DataFrame,
                           products: DataFrame): (DataFrame, DataFrame) = {
    import graft.validate.{Rules, Validator}
    val userKeys = broadcast(users.select(col("user_id").as("vu_user_id")))
    val productKeys = broadcast(products
      .select(col("product_id").as("vp_product_id"), col("price").as("vp_price")))
    val joined = txStream
      .join(userKeys, col("user_id") === col("vu_user_id"), "left_outer")
      .join(productKeys, col("product_id") === col("vp_product_id"), "left_outer")
    val v = new Validator(
      Rules.transactionRules(col("transaction_id"), col("date"), col("user_id"),
        col("product_id"), col("quantity"), col("payment_type"), col("status"),
        col("price"), col("vu_user_id").isNotNull, col("vp_product_id").isNotNull,
        col("vp_price"), lit(1)),
      "transaction", col("transaction_id"), "transactions")
    val ann = v.annotate(joined)
    val clean = Seq("vu_user_id", "vp_product_id", "vp_price")
    (v.valid(ann).drop(clean: _*), v.errors(ann))
  }

  // ---- streaming NEAR-dup detection -----------------------------------

  /** One (band, doc) arrival: the exploded LSH band key plus the full
    * 16-component signature the agreement estimate needs. */
  final case class BandArrival(band_key: String, doc_id: Long,
                               ts: java.sql.Timestamp, sig: Seq[Long])
  /** Per-band ring state: the `perBand` most recent arrivals. Like
    * [[SessionState]], this case class IS the state contract — its
    * encoder schema is baked into every checkpoint, so ANY field change
    * after first release needs a new query name / checkpoint location
    * (the standard Structured Streaming state-evolution rule). An unread
    * `ts_us` was dropped while still PRE-RELEASE (ADVICE r8 — recency is
    * already encoded by ring position, and eviction runs on the band's
    * timeout timestamp, not per-entry time); that drop made checkpoints
    * written by earlier builds unreadable, acceptable only because no
    * production checkpoint exists yet (ADVICE r9). From release onward:
    * evolve by adding a parallel versioned state class, never by
    * editing this one. */
  final case class BandEntry(doc_id: Long, sig: Seq[Long])
  final case class NearDupHit(doc_id: Long, other_id: Long, est: Double)

  /** Streaming NEAR-duplicate detection — dedup against a corpus that
    * never stops arriving. Each doc's LSH band keys are computed
    * map-side (the same fused native expression every batch dedup
    * uses); state is keyed by band and holds only the `perBand` MOST
    * RECENT arrivals (signature + id, an O(perBand) ring per band) — the
    * sorted-neighborhood chain discipline applied in TIME order, so
    * state is bounded by (live bands × perBand), never corpus size, and
    * per-doc work by bands × perBand comparisons. Emits one
    * (doc_id, other_id, est) row per band match at `est >= threshold`
    * (signature agreement, matches/k); consumers aggregate
    * min(other_id) per doc — [[graft.ops.Dedup.arrivalChainScoredDups]]
    * is the batch twin (StreamingSpec pins stream == batch == oracle).
    *
    * Determinism contract: arrivals are processed in (ts, doc_id) order
    * WITHIN each micro-batch; cross-batch order is arrival order. Under
    * in-order delivery (the monotone ts of the ingest model) this equals
    * the batch twin exactly; late data instead scores against the state
    * present on arrival — the honest streaming semantics.
    *
    * `stateHorizon` bounds state across the OTHER axis: without it,
    * every band key ever seen holds a ring forever (fine for a run,
    * unbounded for a service). With a horizon the input is watermarked
    * and each band arms an EVENT-TIME timeout `horizon` past its latest
    * arrival — bands idle past the horizon are evicted once the
    * watermark passes, so live state is bounded by (bands active inside
    * the horizon × perBand). Eviction is per-band idle time: a band that
    * keeps receiving docs keeps its ring (the recent-arrivals semantics
    * is unchanged); only dormant bands are dropped, and a doc arriving
    * after its family's band went dormant simply starts a fresh ring —
    * StreamingSpec pins both sides (evicted → no match, control without
    * horizon → match).
    *
    * Expects (doc_id, ts, text).
    */
  def nearDupStream(docs: DataFrame, k: Int = 16, bands: Int = 8,
                    rowsPerBand: Int = 2, perBand: Int = 3,
                    threshold: Double = 0.5,
                    stateHorizon: Option[String] = None): Dataset[NearDupHit] = {
    val t = graft.text.TextOps
    import docs.sparkSession.implicits._
    val arrivals = stateHorizon.fold(docs)(h => docs.withWatermark("ts", h))
      .withColumn("sh", t.shingles(t.tokens(col("text")), 3))
      .filter(size(col("sh")) > 0)
      .select(
        explode(t.minhashBandKeys(col("sh"), k, bands, rowsPerBand)).as("band_key"),
        col("doc_id"), col("ts"),
        t.minhashSig(col("sh"), k).as("sig"))
      .as[BandArrival]
    val timeout =
      if (stateHorizon.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    arrivals
      .groupByKey(_.band_key)
      .flatMapGroupsWithState[List[BandEntry], NearDupHit](
        OutputMode.Append, timeout) {
        (_, rows, state: GroupState[List[BandEntry]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var ring = state.getOption.getOrElse(Nil) // most recent first
            val out = List.newBuilder[NearDupHit]
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            sorted.foreach { r =>
              ring.foreach { e =>
                var m = 0
                var i = 0
                while (i < r.sig.length) {
                  if (r.sig(i) == e.sig(i)) m += 1
                  i += 1
                }
                val est = m.toDouble / r.sig.length
                if (est >= threshold) out += NearDupHit(r.doc_id, e.doc_id, est)
              }
              ring = (BandEntry(r.doc_id, r.sig) :: ring).take(perBand)
            }
            state.update(ring)
            // re-arm: horizon past this band's LATEST arrival (in-order
            // input keeps this above the watermark, as the API requires)
            stateHorizon.foreach(h =>
              state.setTimeoutTimestamp(sorted.last.ts.getTime, h))
            out.result().iterator
          }
      }
  }

  /** BATCH replay of [[nearDupStream]]'s horizon semantics — the
    * executable spec of the eviction rule, used to re-derive a streaming
    * run's horizon deltas BY CONSTRUCTION instead of observing them
    * (VERDICT r11 #6). The rule, exactly as the stream executes it:
    *
    *   - a band's timeout is (latest arrival ts + horizon);
    *   - the timeout FIRES in the first micro-batch where the band is
    *     quiet (data precedence: a band with arrivals in a batch is
    *     processed with hasTimedOut=false) AND the watermark — max event
    *     time through the PREVIOUS batch minus the horizon delay — has
    *     passed it;
    *   - a fired timeout removes the ring; the band's next arrival
    *     starts fresh.
    *
    * So for consecutive arrivals a1 (batch b1) → a2 (batch b2) of one
    * band, the ring is cleared between them iff b2 ≥ b1 + 2 and
    * wm(b2 − 1) > a1.ts + horizon (watermarks are monotone, so the
    * largest candidate batch decides).
    *
    * `docs` must carry (doc_id, ts, text, batch); `wmByBatch(j)` is the
    * watermark in force during micro-batch j in epoch-millis
    * (Long.MinValue while no watermark has formed). Input is assumed
    * in-order (ts monotone in batch), matching the stream's ingest
    * model — late-row drops are not replayed.
    *
    * Scale shape: one shuffle on band_key with a sort within partitions,
    * then a linear scan holding O(perBand) state per band — the same
    * bounded-state discipline as the stream itself. */
  def nearDupHorizonReplay(docs: DataFrame, horizonMs: Long,
                           wmByBatch: Map[Int, Long],
                           k: Int = 16, bands: Int = 8,
                           rowsPerBand: Int = 2, perBand: Int = 3,
                           threshold: Double = 0.5): Dataset[NearDupHit] = {
    val t = graft.text.TextOps
    import docs.sparkSession.implicits._
    docs
      .withColumn("sh", t.shingles(t.tokens(col("text")), 3))
      .filter(size(col("sh")) > 0)
      .select(
        explode(t.minhashBandKeys(col("sh"), k, bands, rowsPerBand)).as("band_key"),
        col("doc_id"), col("ts"),
        t.minhashSig(col("sh"), k).as("sig"),
        col("batch").cast("int").as("batch"))
      .as[(String, Long, java.sql.Timestamp, Seq[Long], Int)]
      .repartition(col("band_key"))
      // match the stream's observable order exactly (ADVICE r12): arrival
      // order across batches first, then ms-truncated event time (the
      // stream compares watermarks at ms precision), then doc_id — so ts
      // ties straddling a batch boundary or sub-ms timestamps can't let
      // the replay diverge from the stream it is a spec for
      .sortWithinPartitions(col("band_key"), col("batch"),
        unix_millis(col("ts")), col("doc_id"))
      .mapPartitions { rows =>
        var curBand: String = null
        var ring: List[BandEntry] = Nil
        var lastTs = 0L
        var lastBatch = 0
        rows.flatMap { case (band, docId, ts, sig, batch) =>
          if (band != curBand) { curBand = band; ring = Nil }
          else if (batch >= lastBatch + 2 &&
            wmByBatch.getOrElse(batch - 1, Long.MinValue) > lastTs + horizonMs)
            ring = Nil
          val out = List.newBuilder[NearDupHit]
          ring.foreach { e =>
            var m = 0; var i = 0
            while (i < sig.length) { if (sig(i) == e.sig(i)) m += 1; i += 1 }
            val est = m.toDouble / sig.length
            if (est >= threshold) out += NearDupHit(docId, e.doc_id, est)
          }
          ring = (BandEntry(docId, sig) :: ring).take(perBand)
          lastTs = ts.getTime
          lastBatch = batch
          out.result()
        }
      }
  }
}
