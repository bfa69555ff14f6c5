package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.sources.PsIO

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface at all (SURVEY §2.10); this is
  * extension machinery for the continuous half of a data pipeline. Every
  * transform below works identically on a batch DataFrame and a streaming
  * one (`readStream`) — the watermark is a no-op in batch — so the same
  * query is testable against the parquet fixture and deployable on a
  * stream.
  *
  * Scale posture: windowed aggregation is hash-partitioned on
  * (key, window) with partial aggregation; state store size is bounded by
  * the watermark horizon. Sessionization keeps one state row per active
  * key, evicted on event-time timeout.
  */
object StreamingOps {

  case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** public: the state encoder's generated code must reach the accessors */
  case class SessionState(
      startMs: Long, endMs: Long, n: Long, total: Double)

  val eventSchema: StructType = new StructType()
    .add("event_id", "long").add("ts", "timestamp").add("user_id", "long")
    .add("event_type", "string").add("value", "double").add("props", "string")

  /** File-based stream over a directory of event parquet (each new file =
    * one micro-batch of arrivals). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window aggregation with a watermark: count + sum(value) per
    * (event_type, window). Late rows beyond `lateness` are dropped and
    * their window state evicted. */
  def tumblingAgg(
      events: DataFrame,
      windowLen: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Windowed distribution-drift contingency over a stream: the same
    * (column, bin) cells [[graft.operators.Drift.bins]] counts, per
    * tumbling event-time window — ONE watermarked aggregation, so it
    * runs in append mode with state bounded by windows-in-horizon ×
    * Σbins. Bin labels are [[graft.operators.Drift.cellExprs]] resolved
    * ONCE against the static reference snapshot (top sets must not
    * drift with the stream); score each closed window downstream by
    * joining the emitted contingency to the reference counts and
    * folding with [[graft.operators.Drift.reportFromContingency]]
    * (extraGroupCols = window_start) — a second streaming aggregation
    * would leave append mode, so scoring stays out of the stream. */
  def streamingDriftBins(
      cur: DataFrame,
      binExprs: Seq[(String, Column)],
      windowLen: String = "1 hour",
      lateness: String = "10 minutes",
      tsCol: String = "ts"): DataFrame =
    cur.withWatermark(tsCol, lateness)
      .select(col(tsCol), graft.operators.Drift.cellColumn(binExprs).as("cell"))
      .groupBy(window(col(tsCol), windowLen),
        col("cell.column").as("column"), col("cell.bin").as("bin"))
      .agg(count(lit(1)).as("cur_n"))
      .select(col("window.start").as("window_start"),
        col("column"), col("bin"), col("cur_n"))

  /** The deployable drift monitor: [[streamingDriftBins]] feeding a
    * foreachBatch scorer — each micro-batch carries ONLY closed
    * windows (append mode), and every one is scored against the
    * static reference via [[graft.operators.Drift.scoreWindows]] with
    * exact batch semantics (StreamingSpec holds the differential:
    * streaming psi_bp per window == the batch report over the same
    * window's rows, across a kill/restart).
    *
    * `refCounts` is [[graft.operators.Drift.referenceCounts]] over the
    * reference snapshot with the SAME binExprs — it is collected ONCE
    * here (Σbins rows, the bounded ANN-codebook posture) and inlined
    * as literals into every scored batch, so each micro-batch costs
    * one aggregation and zero joins. `sink` receives the scored report
    * (windowCol, column, ref_n, cur_n, bins, psi_bp, drifted); alert
    * routing stays the caller's. */
  def streamingDriftMonitor(
      cur: DataFrame,
      binExprs: Seq[(String, Column)],
      refCounts: DataFrame,
      checkpoint: String,
      windowLen: String = "1 hour",
      lateness: String = "10 minutes",
      tsCol: String = "ts",
      psiBpThreshold: Long = 1000L)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val refCells = graft.operators.Drift.collectReference(refCounts)
    streamingDriftBins(cur, binExprs, windowLen, lateness, tsCol)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // pin the micro-batch (bounded: closed windows x Σbins rows) so
        // the emptiness probe and the scoring pass share one execution.
        // `sink` must consume the scored frame before returning — the
        // pin is released right after.
        val b = batch.persist()
        try {
          if (!b.isEmpty)
            sink(graft.operators.Drift.scoreWindowsWith(
              b, refCells, "window_start", psiBpThreshold), id)
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** [[streamingDriftMonitor]] with a LIVE reference: instead of
    * pinning the reference at start(), the monitor reads the
    * reference-counts artifact at `refCountsPath` — a parquet relation
    * of (column, bin, ref_n), i.e.
    * [[graft.operators.Drift.referenceCounts]] written to disk — and
    * re-collects it whenever the artifact's recursive data-file
    * signature (path, length, mtime) changes. The check runs per
    * micro-batch and is driver-side METADATA only (one recursive
    * listing; no job unless the artifact actually changed), and it
    * only trusts a COMMITTED artifact (_SUCCESS present) — a batch
    * racing an overwrite keeps the cached reference and picks up the
    * swap next batch. So month-over-month re-baselining is a plain
    * artifact overwrite: the running monitor scores the next closed
    * window against the new reference with no restart and no state
    * loss.
    *
    * Bin labels (`binExprs`) stay PINNED for the monitor's lifetime —
    * refresh the COUNTS under the same stored spec
    * ([[graft.operators.Drift.saveSpec]]/loadSpec); changing the bins
    * changes scoring semantics and the streaming aggregation's state
    * layout, which deserves a deliberate restart. */
  def streamingDriftMonitorRefreshing(
      cur: DataFrame,
      binExprs: Seq[(String, Column)],
      refCountsPath: String,
      checkpoint: String,
      windowLen: String = "1 hour",
      lateness: String = "10 minutes",
      tsCol: String = "ts",
      psiBpThreshold: Long = 1000L)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    // (signature, collected cells); micro-batches run sequentially per
    // query but may migrate threads, hence volatile
    @volatile var cached: (String, graft.operators.Drift.RefCells) = null
    streamingDriftBins(cur, binExprs, windowLen, lateness, tsCol)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        try {
          if (!b.isEmpty) {
            val s = batch.sparkSession
            // crash-safe refresh: a mode("overwrite") rewrite of the
            // artifact is delete-then-write, so a racing batch can
            // observe a missing dir or a half-committed file set. The
            // probe returns None for anything not provably complete
            // (no dir, no _SUCCESS marker yet, no data files) and the
            // batch KEEPS the cached reference — the swap lands at the
            // next batch after the writer commits. Only a first batch
            // with no reference ever collected fails, loudly.
            refArtifactSignature(s, refCountsPath) match {
              case Some(sig) if cached == null || cached._1 != sig =>
                // the probe-then-read is itself a TOCTOU window: an
                // overwrite landing between them makes the read throw —
                // fall back to the cached reference (the swap lands
                // next batch) unless there is nothing to fall back to
                try cached = (sig, graft.operators.Drift.collectReference(
                  PsIO.parquet(s, refCountsPath)))
                catch { case scala.util.control.NonFatal(e) =>
                  if (cached == null) throw e
                }
              case _ =>
                require(cached != null,
                  s"streamingDriftMonitorRefreshing: no committed reference" +
                    s" artifact at $refCountsPath (dir missing, no _SUCCESS," +
                    s" or empty) and none cached yet")
            }
            sink(graft.operators.Drift.scoreWindowsWith(
              b, cached._2, "window_start", psiBpThreshold), id)
          }
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** The recursive (relative path, length, mtime) data-file signature
    * of a committed reference artifact, or None while the artifact is
    * absent or mid-rewrite — same staleness contract as every
    * mtime-based metadata cache (AvroIo headers, parquet FileIndex).
    * Recursive so a partitionBy layout still signatures; gated on the
    * _SUCCESS marker Spark's committer writes LAST, so a half-written
    * file set is never collected (write the artifact with the default
    * committer; with _SUCCESS markers disabled every batch would
    * re-collect nothing and the monitor fails its first batch loudly). */
  private def refArtifactSignature(
      s: org.apache.spark.sql.SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) return None
      val base = fs.makeQualified(p).toString
      val it = fs.listFiles(p, /* recursive = */ true)
      var success = false
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(base).stripPrefix("/")
        // EVERY relative component must be visible: data files nested
        // under a hidden dir (_temporary/, .spark-staging-*/) are a
        // write in flight, not committed output — and only the
        // TOP-LEVEL _SUCCESS marks the commit (a nested one belongs to
        // some other job's tree)
        if (rel == "_SUCCESS") success = true
        else if (!rel.split('/')
            .exists(c => c.startsWith("_") || c.startsWith(".")))
          entries += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
      if (success && entries.nonEmpty) Some(entries.sorted.mkString("\n"))
      else None
    } catch {
      // dir deleted between exists() and the listing (overwrite race)
      case _: java.io.FileNotFoundException => None
    }

  /** Sliding-window variant (windowLen every slide). */
  def slidingAgg(
      events: DataFrame,
      windowLen: String = "1 hour",
      slide: String = "15 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Per-user sessionization with a `gap` inactivity timeout, via
    * `flatMapGroupsWithState` (custom state machine: one SessionState per
    * active user, closed + emitted when the event-time watermark passes
    * last-activity + gap). Works in batch mode too: batch execution never
    * fires timeouts and discards state at end-of-input, so the still-open
    * session is emitted directly there (each group sees ALL its events in
    * one invocation) instead of being parked in state that would vanish.
    */
  def sessionize(
      events: Dataset[Event],
      gap: java.time.Duration,
      lateness: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gap.toMillis
    val streaming = events.isStreaming

    def fn(userId: Long, it: Iterator[Event], state: GroupState[SessionState])
        : Iterator[SessionOut] = {
      val sorted = it.toSeq.sortBy(_.ts.getTime)
      var cur = state.getOption
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      if (sorted.isEmpty) {
        if (state.hasTimedOut) {
          cur.foreach(s => closed += SessionOut(
            userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n, s.total))
          state.remove()
        }
        closed.iterator
      } else {
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.endMs <= gapMs =>
              cur = Some(SessionState(s.startMs, math.max(s.endMs, t),
                s.n + 1, s.total + e.value))
            case Some(s) =>
              closed += SessionOut(
                userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          if (streaming) {
            state.update(s)
            // a session assembled from late events may already be past the
            // watermark: clamp so the timeout registers (and fires ASAP)
            state.setTimeoutTimestamp(
              math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
          } else {
            // batch: end-of-input closes every session NOW — state would
            // be discarded without ever timing out, dropping the session
            closed += SessionOut(
              userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n, s.total)
          }
        }
        closed.iterator
      }
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact dedup on a key subset: keeps the first arrival per
    * key, with state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark` — duplicates arriving within
    * `lateness` of each other are guaranteed dropped, state for older
    * keys is evicted). The streaming face of [[graft.operators.Dedup.exact]]
    * — an ingestion pipeline dedups on the same fingerprint column both
    * in backfill (batch) and live (stream). */
  def streamingDedup(
      events: DataFrame,
      keys: Seq[String],
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner interval join: every left event matched to the
    * right events of the same `key` with `right.ts` in
    * `[left.ts, left.ts + maxDelay]` (e.g. click → purchases within 30
    * minutes). In streaming mode pass `lateness`: both sides get a
    * watermark and the time-range condition lets Spark bound the join
    * state — rows older than watermark + maxDelay are evicted, so state
    * does NOT grow with the stream. In batch mode pass `lateness = None`
    * (`ts` may then be any orderable type, e.g. raw ns-since-epoch longs)
    * and the same plan is an ordinary range join.
    *
    * `maxDelay` is a Column so both faces share one operator:
    * `expr("INTERVAL 30 MINUTES")` for timestamp streams,
    * `lit(30L * 60 * 1_000_000_000)` for ns-long batch columns.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      maxDelay: Column,
      lateness: Option[String]): DataFrame = {
    def wm(df: DataFrame): DataFrame =
      lateness.fold(df)(l => df.withWatermark(tsCol, l))
    val l = wm(left).select(
      col(key).as("l_key"), col("event_id").as("l_event_id"), col(tsCol).as("l_ts"))
    val r = wm(right).select(
      col(key).as("r_key"), col("event_id").as("r_event_id"), col(tsCol).as("r_ts"))
    l.join(r,
        col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + maxDelay)
      .select(col("l_key").as(key),
        col("l_event_id"), col("r_event_id"), col("l_ts"), col("r_ts"))
  }

  // ---- streaming as-of join -----------------------------------------

  /** Tagged input row for [[streamingAsOf]]. */
  case class AsOfIn(key: Long, ts: Timestamp, id: Long, value: Double, isLeft: Boolean)
  /** One buffered event (ms precision — same discipline as sessionize). */
  case class AsOfBuf(tsMs: Long, id: Long, value: Double)
  /** Per-key state: buffered rights (compacted to the in-horizon rows
    * plus ONE dominated row below the watermark), held-back lefts, and —
    * once the key goes idle — the event-time deadline after which the
    * dominated row is evicted (0 while active). */
  case class AsOfJoinState(
      rights: Seq[AsOfBuf], lefts: Seq[AsOfBuf], expireAtMs: Long)
  case class AsOfJoined(
      key: Long, l_id: Long, l_ts: Timestamp,
      r_id: Option[Long], r_ts: Option[Timestamp], r_value: Option[Double])

  /** Streaming backward as-of join — the streaming face of
    * [[graft.plans.AsOfJoinExec]]: every left event gets the latest right
    * event of the same key with `r.ts <= l.ts`.
    *
    * Mechanics: both streams tag-union into one keyed stream; a per-key
    * state machine holds a left until the event-time watermark passes it
    * strictly (only then can no admissible right — `ts <= l.ts`, and not
    * watermark-late — still arrive), then emits it matched. Right-side
    * state is bounded: rows inside the lateness horizon, plus exactly one
    * dominated row below the watermark (any future left's time is ≥ the
    * watermark, so among older rights only the newest can ever win).
    * Idle keys evict after `keyTTL` of event-time silence — an as-of
    * would otherwise have to hold its last right forever for a left that
    * may never come; a post-TTL left simply matches nothing (document the
    * TTL as the staleness bound of the attachment).
    *
    * Works in batch mode too (each group sees all its events at once,
    * emits everything, keeps no state) — differentially tested against
    * the native batch operator in StreamingSpec. Rights ambiguous at the
    * same (key, ts) should be pre-deduped, as in the batch operator.
    */
  def streamingAsOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      lateness: String = "10 minutes",
      keyTTL: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[AsOfJoined] = {
    val session = left.sparkSession
    import session.implicits._
    def prep(df: DataFrame, isLeft: Boolean): DataFrame = df.select(
      col(key).cast("long").as("key"), col(tsCol).as("ts"),
      col(idCol).cast("long").as("id"),
      (if (isLeft) lit(0.0) else col(valueCol).cast("double")).as("value"),
      lit(isLeft).as("isLeft"))
    val u = prep(left, isLeft = true).unionByName(prep(right, isLeft = false))
      .withWatermark("ts", lateness).as[AsOfIn]
    val streaming = u.isStreaming
    val ttlMs = keyTTL.toMillis

    def fn(k: Long, it: Iterator[AsOfIn], state: GroupState[AsOfJoinState])
        : Iterator[AsOfJoined] = {
      val incoming = it.toSeq
      val st = state.getOption.getOrElse(AsOfJoinState(Nil, Nil, 0L))
      val rights = (st.rights ++ incoming.filterNot(_.isLeft)
        .map(e => AsOfBuf(e.ts.getTime, e.id, e.value))).sortBy(r => (r.tsMs, r.id))
      val lefts = (st.lefts ++ incoming.filter(_.isLeft)
        .map(e => AsOfBuf(e.ts.getTime, e.id, 0.0))).sortBy(l => (l.tsMs, l.id))
      val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
      // strict <: at l.ts == wm a right with the same timestamp is not
      // yet watermark-late, so the match could still change
      val (emit, hold) = lefts.partition(_.tsMs < wm)
      val out = emit.map { l =>
        val m = rights.takeWhile(_.tsMs <= l.tsMs).lastOption
        AsOfJoined(k, l.id, new Timestamp(l.tsMs),
          m.map(_.id), m.map(r => new Timestamp(r.tsMs)), m.map(_.value))
      }
      if (streaming) {
        val (dominated, fresh) = rights.partition(_.tsMs < wm)
        val kept = dominated.lastOption.toSeq ++ fresh
        val active = hold.nonEmpty || fresh.nonEmpty || incoming.nonEmpty
        val expired = !active && st.expireAtMs > 0 && wm >= st.expireAtMs
        if (expired || kept.isEmpty && hold.isEmpty) state.remove()
        else {
          // idle = nothing pending and nothing inside the horizon; start
          // (or keep) the TTL clock, else reset it
          val expireAt =
            if (active) 0L
            else if (st.expireAtMs > 0) st.expireAtMs
            else wm + ttlMs
          state.update(AsOfJoinState(kept, hold, expireAt))
          val wake =
            if (hold.nonEmpty) hold.head.tsMs + 1 // emit the oldest left
            else if (fresh.nonEmpty) fresh.last.tsMs + 1 // compact rights
            else expireAt // idle: evict the dominated row at TTL
          state.setTimeoutTimestamp(math.max(wake, wm + 1))
        }
      }
      out.iterator
    }

    u.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** One keyed change-stream record: fingerprint of the payload (8 bytes
    * — the state never carries the payload itself), event-time ms, and a
    * delete marker. */
  case class ChangeIn(key: Long, fp: Long, tsMs: Long, delete: Boolean)
  /** One emitted delta: the key's transition in {added, changed, removed}
    * (unchanged re-upserts are suppressed — the point of a delta). */
  case class DeltaOut(key: Long, status: String, tsMs: Long)
  /** Per-key live state: just the last-seen fingerprint. */
  case class DeltaState(fp: Long)

  /** Streaming keyed delta — the streaming face of
    * [[graft.operators.Snapshot.snapshotDiff]], i.e. CDC-style
    * materialized-corpus maintenance. The input is a stream of upserts
    * (key, payload fingerprint, ts) and deletes; the output is the stream
    * of TRANSITIONS against the maintained state: `added` for a first
    * appearance, `changed` when the fingerprint moved, `removed` on a
    * delete of a live key. Unchanged re-upserts and deletes of absent
    * keys emit nothing, so downstream stages (re-dedup, re-tokenize,
    * index refresh) reprocess exactly the delta — the incremental-refresh
    * contract a 100 TB corpus needs.
    *
    * State is ONE 8-byte fingerprint per LIVE key (deletes evict), the
    * minimal memory for exact CDC — at 10⁹ live documents ≈ 24 GB across
    * the cluster, hash-partitioned by key. Within a micro-batch, records
    * of one key apply in (tsMs, delete-last) order, so a same-timestamp
    * upsert+delete nets to the delete. Fingerprint the payload with
    * `xxhash64(...)` (same note as snapshotDiff's hashed mode: an
    * n²/2⁶⁴ collision risk maps change→unchanged).
    */
  def streamingDelta(
      updates: DataFrame,
      keyCol: String,
      fpCol: Column,
      tsCol: String,
      deleteCol: Column): Dataset[DeltaOut] = {
    val session = updates.sparkSession
    import session.implicits._
    // a timestamp ts converts to epoch ms; a numeric ts IS already ms
    val tsExpr = updates.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => unix_millis(col(tsCol))
      case _ => col(tsCol).cast("long")
    }
    val u = updates.select(
        col(keyCol).cast("long").as("key"),
        fpCol.cast("long").as("fp"),
        tsExpr.as("tsMs"),
        deleteCol.cast("boolean").as("delete"))
      .as[ChangeIn]

    def fn(key: Long, it: Iterator[ChangeIn], state: GroupState[DeltaState])
        : Iterator[DeltaOut] = {
      val out = Seq.newBuilder[DeltaOut]
      var cur: Option[Long] = state.getOption.map(_.fp)
      it.toSeq.sortBy(c => (c.tsMs, c.delete)).foreach { c =>
        (cur, c.delete) match {
          case (Some(_), true) =>
            out += DeltaOut(key, "removed", c.tsMs); cur = None
          case (None, true) => () // delete of an absent key
          case (None, false) =>
            out += DeltaOut(key, "added", c.tsMs); cur = Some(c.fp)
          case (Some(prev), false) if prev != c.fp =>
            out += DeltaOut(key, "changed", c.tsMs); cur = Some(c.fp)
          case _ => () // unchanged re-upsert
        }
      }
      cur match {
        case Some(fp) => state.update(DeltaState(fp))
        case None     => state.remove()
      }
      out.result().iterator
    }

    u.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- streaming near-duplicate candidates ---------------------------

  /** One banding row: doc `id` landed in LSH `bucket` of `band`. */
  case class BandRow(id: Long, band: Int, bucket: Long)
  /** Per-(band,bucket) state: ids admitted so far, oldest first. */
  case class BucketMembers(ids: Seq[Long])
  /** Candidate near-dup pair, a_id < b_id (by arrival-independent id
    * order). May repeat across bands — confirm/dedup downstream. */
  case class CandidatePair(a_id: Long, b_id: Long)

  /** Streaming MinHash-LSH near-duplicate CANDIDATE detection — the
    * streaming face of [[graft.operators.Dedup.minhashLsh]]'s first
    * three stages, sharing its exact banding
    * ([[graft.operators.Dedup.lshBandBuckets]]): as documents arrive,
    * each lands in `bands` LSH buckets; a per-bucket state row remembers
    * the ids admitted so far and every newcomer emits a candidate pair
    * against each of them (plus the pairs within its own micro-batch).
    * Confirmation (exact Jaccard) needs the documents' shingle sets —
    * join the emitted pairs back to the corpus downstream, exactly like
    * the batch operator's confirm stage.
    *
    * State: one row per OCCUPIED (band, bucket), holding ≤ `maxBucket`
    * ids — ~8·maxBucket bytes each, hash-partitioned by bucket key, and
    * the bucket count is bounded by bands · min(corpus, 2³²). The
    * `maxBucket` cap is the hot-bucket valve (same role as the batch
    * family's maxDf/maxBucket caps): a degenerate bucket (e.g. the
    * empty-ish-text signature) stops emitting after maxBucket members
    * instead of growing O(n²) pairs. Ids beyond the cap are dropped from
    * that bucket only — they still pair through their other bands.
    *
    * Batch face: each group sees all its rows at once and no state
    * persists — output = per-bucket pairs, i.e. the batch candidate set
    * (pre-distinct), differentially asserted in StreamingSpec.
    */
  def streamingNearDupCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      maxBucket: Int = 1024): Dataset[CandidatePair] = {
    val session = docs.sparkSession
    import session.implicits._
    // keyed state needs a fixed-width id; require an integral column
    // up front rather than let cast("long") null out a UUID mid-stream
    // (the batch face accepts any id type — this is the one divergence)
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"streamingNearDupCandidates needs an integral id column, got $idCol: $other " +
          "(hash non-numeric ids to long upstream, e.g. xxhash64)")
    }
    val banded = graft.operators.Dedup
      .lshBandBuckets(docs, idCol, textCol, shingleK, numHashes, bands, seed)
      .select(col("id").cast("long").as("id"), col("band"), col("bucket"))
      .as[BandRow]

    def fn(key: (Int, Long), it: Iterator[BandRow], state: GroupState[BucketMembers])
        : Iterator[CandidatePair] = {
      val existing = state.getOption.map(_.ids).getOrElse(Seq.empty)
      val seen = existing.toSet
      // sorted: micro-batch iterator order is nondeterministic; id order
      // makes the emitted pair set a pure function of arrival CONTENT
      val fresh = it.map(_.id).toSeq.distinct.sorted.filterNot(seen)
      val admitted = fresh.take(math.max(0, maxBucket - existing.size))
      val out = Seq.newBuilder[CandidatePair]
      for (n <- admitted; e <- existing)
        out += CandidatePair(math.min(n, e), math.max(n, e))
      for (i <- admitted.indices; j <- (i + 1) until admitted.size)
        out += CandidatePair(admitted(i), admitted(j))
      if (admitted.nonEmpty) state.update(BucketMembers(existing ++ admitted))
      out.result().iterator
    }

    banded.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** The CONTINUOUS form of the avro→lake promotion (q_pipeline_lake's
    * batch composition): gate a streaming landing-zone frame on the
    * lake contract and route each micro-batch's rows — passing rows
    * into a hive-partitioned parquet lake, failing rows into a
    * quarantine relation carrying the FIRST violated rule's name (the
    * same `reason` the batch pipeline emits).
    *
    * Exactly-once by construction: each side is its own streaming
    * query with Spark's transactional file sink (`_spark_metadata`
    * commit log), so a retried micro-batch never double-appends. The
    * price is that the zone is read once per side; the gate is a
    * stateless projection, so the cost is two decodes of each new file
    * — a plain foreachBatch writing both sides would be at-least-once
    * on batch retry, the wrong default for a lake. Callers with
    * decode-bound zones use [[streamingLakePromoteVersioned]], which
    * decodes once per batch and commits each side as a tag-idempotent
    * lake version.
    *
    * Returns the two running queries (lake, quarantine); stop both to
    * end the promotion. Checkpoints live under
    * `checkpointRoot/{lake,quarantine}`. */
  def streamingLakePromote(
      zone: DataFrame, rules: Seq[graft.operators.Checks.Rule],
      lakeDir: String, quarantineDir: String,
      partitionCols: Seq[String], checkpointRoot: String)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         org.apache.spark.sql.streaming.StreamingQuery) = {
    require(zone.isStreaming, "streamingLakePromote: zone must be a streaming frame")
    require(rules.nonEmpty, "streamingLakePromote: at least one contract rule")
    val (good, bad) = gateAndRoute(zone, rules)
    val qLake = good.writeStream.format("parquet")
      .partitionBy(partitionCols: _*)
      .option("path", lakeDir)
      .option("checkpointLocation", s"$checkpointRoot/lake")
      .outputMode(OutputMode.Append).start()
    val qQuarantine = bad.writeStream.format("parquet")
      .option("path", quarantineDir)
      .option("checkpointLocation", s"$checkpointRoot/quarantine")
      .outputMode(OutputMode.Append).start()
    (qLake, qQuarantine)
  }

  /** The shared gate-and-route of BOTH promotion variants — one
    * definition so the reason-naming convention (first violated rule
    * in rule order; the flag's `_bad` suffix stripped, positional
    * suffixes preserved) can never diverge between them. Uses the
    * EXACT generated flag names from the module that generated them —
    * a suffix heuristic would misroute user data that legally carries
    * its own *_bad columns. */
  private def gateAndRoute(df: DataFrame,
      rules: Seq[graft.operators.Checks.Rule]): (DataFrame, DataFrame) = {
    val dataCols = df.columns.toSeq
    val flagged = graft.operators.Checks.flag(df, rules)
    val flagCols = graft.operators.Checks.flagColumnNames(rules)
    val good = flagged.filter(!col("row_bad"))
      .select(dataCols.map(col): _*)
    val reason = flagCols.map(c =>
      when(col(c), lit(c.replaceFirst("_bad(_\\d+)?$", "$1"))))
      .reduce(coalesce(_, _))
    val bad = flagged.filter(col("row_bad"))
      .select(dataCols.map(col) :+ reason.as("reason"): _*)
    (good, bad)
  }

  /** VERSIONED lake promotion: the same gate-and-route as
    * [[streamingLakePromote]], but each side commits every micro-batch
    * as one [[graft.sources.LakeVersions]] version — an atomic
    * manifest swap per epoch instead of a parquet-sink `_spark_metadata`
    * log. What that buys over the file-sink variants:
    *
    *  - the promoted corpus gets TIME TRAVEL and the snapshotDiff
    *    audit per epoch (version N == the lake after micro-batch N);
    *  - a crash between data-land and manifest publish is invisible —
    *    readers keep the previous version;
    *  - per-file footer stats (`statsCols`) ride into the manifest at
    *    commit time, so pinned reads file-prune for free;
    *  - batch and streaming promotions land in the SAME table format —
    *    one reader path, one vacuum, one retention story.
    *
    * Exactly-once comes from the manifest tag: each side's commit
    * carries `<ns>-epoch-<batch>`; a replay (the engine restores at
    * most the one uncommitted batch, so a duplicate is always the
    * LATEST commit) sees its own tag on the latest version and skips.
    * `ns` is derived from the checkpoint root, so a fresh checkpoint
    * restarting batch ordinals can never be fooled by an old query's
    * tags. The two sides commit independently — a crash between them
    * replays only the side whose tag is missing. */
  def streamingLakePromoteVersioned(
      zone: DataFrame, rules: Seq[graft.operators.Checks.Rule],
      lakeDir: String, quarantineDir: String,
      partitionCols: Seq[String], checkpointRoot: String,
      statsCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(zone.isStreaming,
      "streamingLakePromoteVersioned: zone must be a streaming frame")
    require(rules.nonEmpty,
      "streamingLakePromoteVersioned: at least one contract rule")
    val ns = {
      val crc = new java.util.zip.CRC32C()
      crc.update(checkpointRoot.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.toHexString(crc.getValue)
    }
    zone.writeStream
      .option("checkpointLocation", s"$checkpointRoot/promote")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pinned = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (good, bad) = gateAndRoute(pinned, rules)
          val tag = s"$ns-epoch-$id"
          commitEpochSide(lakeDir, good, partitionCols, statsCols, tag): Unit
          commitEpochSide(quarantineDir, bad, Nil, Nil, tag): Unit
        } finally pinned.unpersist(): Unit
      }
      .start()
  }

  /** One side's tag-idempotent versioned commit (see
    * [[streamingLakePromoteVersioned]]); package-visible so the replay
    * skip is directly testable. Returns false when this epoch's tag is
    * already committed (a replayed batch).
    *
    * The replay test scans version tags DOWNWARD from latest, past any
    * interleaved non-epoch commits — a maintenance rewrite
    * (compactCommit/zOrderCommit, which the lake explicitly supports
    * running concurrently) or a manual append landing between an epoch
    * commit and its crash-replay must not unmask a duplicate. The scan
    * stops at this namespace's PREVIOUS epoch tag (epochs are serial:
    * if epoch N's commit had landed, it would sit above epoch N-1's),
    * at the table floor, or at a vacuumed manifest (retention must
    * outlive crash-replay windows — keepVersions >= 2 and any sane
    * olderThanMs do). Header-only reads: O(interleaved commits), not
    * O(files). */
  private[graft] def commitEpochSide(dir: String, df: DataFrame,
      partitionCols: Seq[String], statsCols: Seq[String], tag: String): Boolean = {
    val spark = df.sparkSession
    val ns = tag.substring(0, tag.lastIndexOf("-epoch-"))
    var v = graft.sources.LakeVersions.latestVersion(spark, dir)
    var alreadyCommitted = false
    var decided = v == 0L
    while (!decided && v > 0L) {
      val t = try Some(graft.sources.LakeVersions.tagOf(spark, dir, Some(v)))
              catch { case _: java.io.IOException => None } // vacuumed
      t match {
        case Some(`tag`) => alreadyCommitted = true; decided = true
        case Some(other) if other.startsWith(s"$ns-epoch-") => decided = true
        case Some(_) => v -= 1
        case None => decided = true // past retention: cannot be a live replay
      }
    }
    if (alreadyCommitted) false
    else {
      graft.sources.LakeVersions.commit(spark, dir, df,
        partitionBy = partitionCols, statsCols = statsCols, tag = tag): Unit
      true
    }
  }

  /** Batch sessionization via analytic windows (the shuffle-once,
    * state-store-free form for historical reprocessing): a session break
    * is a gap > `gapMinutes` from the previous event of the same user; the
    * running count of breaks numbers the sessions. One shuffle on user_id;
    * both window functions share the same sort. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // millisecond integer arithmetic end-to-end: deterministic and
    // engine-portable (no sub-second truncation ambiguity)
    val gapMs = gapMinutes * 60000L
    val withMs = events.withColumn("__ms", unix_millis(col("ts")))
    val byUser = Window.partitionBy("user_id").orderBy(col("__ms"), col("event_id"))
    withMs
      .withColumn("prev_ms", lag(col("__ms"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ms").isNull || (col("__ms") - col("prev_ms")) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("brk").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min("ts").as("session_start"), max("ts").as("session_end"),
        count("*").as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }
}
