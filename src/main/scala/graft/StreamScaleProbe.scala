package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Streaming state-store scale probe: drives [[StreamingOps.streamingAsOf]]
  * and [[StreamingOps.sessionize]] through MemoryStream replays at a base
  * and a ×10 key cardinality and records what the state store actually
  * holds (numRowsTotal from the query progress), plus whether idle-key
  * state really evicts on the TTL / session-gap timeout.
  *
  * The batch-side analogue is [[ScaleProbe]]; this closes the same
  * "measured, not asserted" bar for the streaming operators: per-key state
  * must stay O(1) (rows/key flat as keys ×10), and an idle stream must
  * shrink to ~nothing once the watermark passes the TTL — otherwise a
  * 100 TB/day stream with churning keys grows state without bound.
  *
  * {{{ sbt "runMain graft.StreamScaleProbe [baseKeys]" }}}  (default 200)
  */
object StreamScaleProbe {

  private def stateRows(q: StreamingQuery): Long =
    Option(q.lastProgress)
      .map(_.stateOperators.asInstanceOf[Array[_]].foldLeft(0L) {
        case (acc, so: org.apache.spark.sql.streaming.StateOperatorProgress) =>
          acc + so.numRowsTotal
        case (acc, _) => acc
      }).getOrElse(0L)

  private def ev(id: Long, tsMin: Long, user: Long, v: Double, typ: String = "click") =
    Event(id, new Timestamp(tsMin * 60000L), user, typ, v, "{}")

  def main(args: Array[String]): Unit = {
    val baseKeys = args.headOption.map(_.toInt).getOrElse(200)
    val spark = Session.local(32, "graft-stream-scale-probe")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    /** streamingAsOf: `batches` micro-batches of one right + one left per
      * key, then idle batches (sentinel key advances the watermark) to the
      * compaction floor, then one past the 60-minute TTL. Returns
      * (max state rows while active, state after compaction, state after TTL). */
    def asofRun(nKeys: Int, batches: Int): (Long, Long, Long) = {
      val left = MemoryStream[Event]
      val right = MemoryStream[Event]
      val q = StreamingOps.streamingAsOf(
          left.toDF(), right.toDF(), "user_id", "ts", "event_id", "value",
          lateness = "10 minutes", keyTTL = java.time.Duration.ofMinutes(60))
        .writeStream.format("memory").queryName(s"p_asof_$nKeys")
        .outputMode("append").start()
      try {
        var maxActive = 0L
        var id = 0L
        for (b <- 0 until batches) {
          val t = b.toLong * 2 // 2-minute batch cadence
          right.addData((0 until nKeys).map { k =>
            id += 1; ev(id, t, k, t.toDouble, "purchase")
          })
          left.addData((0 until nKeys).map { k => id += 1; ev(id, t + 1, k, 0.0) })
          q.processAllAvailable()
          maxActive = math.max(maxActive, stateRows(q))
        }
        // idle: the sentinel key (-1) pushes the watermark 15 min past the
        // last data twice — held lefts flush, rights compact to the one
        // dominated row per key
        val lastT = batches.toLong * 2
        for (i <- 1 to 2) {
          left.addData(Seq(ev(-1, lastT + 15 * i, -1, 0.0)))
          q.processAllAvailable()
        }
        val afterCompact = stateRows(q)
        // past the TTL (60 min of event-time silence): idle keys evict
        for (i <- 1 to 2) {
          left.addData(Seq(ev(-2, lastT + 30 + 70 * i, -1, 0.0)))
          q.processAllAvailable()
        }
        val afterTtl = stateRows(q)
        val emitted = spark.table(s"p_asof_$nKeys").count()
        println(f"[streamprobe] asof keys=$nKeys%-5d maxActive=$maxActive%-6d " +
          f"afterCompact=$afterCompact%-6d afterTTL=$afterTtl%-4d emitted=$emitted")
        (maxActive, afterCompact, afterTtl)
      } finally q.stop()
    }

    /** sessionize: `batches` micro-batches of one event per key inside one
      * gap window, then watermark pushed past the 30-minute gap. Returns
      * (max state rows while active, state after gap timeout, sessions). */
    def sessionRun(nKeys: Int, batches: Int): (Long, Long, Long) = {
      val input = MemoryStream[Event]
      val q = StreamingOps.sessionize(input.toDS(), java.time.Duration.ofMinutes(30))
        .writeStream.format("memory").queryName(s"p_sess_$nKeys")
        .outputMode("append").start()
      try {
        var maxActive = 0L
        var id = 0L
        for (b <- 0 until batches) {
          input.addData((0 until nKeys).map { k => id += 1; ev(id, b.toLong * 2, k, 1.0) })
          q.processAllAvailable()
          maxActive = math.max(maxActive, stateRows(q))
        }
        val lastT = batches.toLong * 2
        for (i <- 1 to 2) { // watermark past every session's gap timeout
          input.addData(Seq(ev(-1, lastT + 60 * i, -1, 1.0)))
          q.processAllAvailable()
        }
        val afterGap = stateRows(q)
        val sessions = spark.table(s"p_sess_$nKeys")
          .filter($"user_id" >= 0).count()
        println(f"[streamprobe] sessionize keys=$nKeys%-5d maxActive=$maxActive%-6d " +
          f"afterGap=$afterGap%-4d sessions=$sessions")
        (maxActive, afterGap, sessions)
      } finally q.stop()
    }

    /** REAL-corpus replay (round-11): the events table duplicated ×dup
      * under fresh user spaces, replayed in event-time order through
      * both stateful operators, state sampled per micro-batch. The
      * corpus spans 30 days; the state horizons (10-min lateness,
      * 60-min asof TTL, 30-min session gap) are minutes — so rows-in-
      * state must PLATEAU at the keys-in-horizon bound while cumulative
      * input grows ~50×, or the operator leaks state. */
    def replayRun(dup: Int, nBatches: Int): Unit = {
      val raw = graft.sources.PsIO
        .readEventsNs(spark, "/root/testdata/sf0.01/events.parquet")
      val base = raw.select($"event_id".as[Long], $"ts".as[Long],
          $"user_id".as[Long], $"event_type".as[String], $"value".as[Double])
        .collect()
      val all: Array[Event] = (0 until dup).flatMap { i =>
        base.map { case (id, tsNs, u, typ, v) =>
          Event(id * dup + i, new Timestamp(tsNs / 1000000L),
            u + 100000L * i, typ, v, "{}")
        }
      }.toArray.sortBy(_.ts.getTime)
      val chunk = math.max(1, all.length / nBatches)

      // -- streamingAsOf over the replay (clicks asof purchases) --
      val left = MemoryStream[Event]
      val right = MemoryStream[Event]
      val qa = StreamingOps.streamingAsOf(
          left.toDF(), right.toDF(), "user_id", "ts", "event_id", "value",
          lateness = "10 minutes", keyTTL = java.time.Duration.ofMinutes(60))
        .writeStream.format("memory").queryName(s"replay_asof_$dup")
        .outputMode("append").start()
      // -- sessionize over the same replay --
      val sin = MemoryStream[Event]
      val qs = StreamingOps.sessionize(
          sin.toDS(), java.time.Duration.ofMinutes(30))
        .writeStream.format("memory").queryName(s"replay_sess_$dup")
        .outputMode("append").start()
      try {
        var aSeries = Vector.empty[Long]
        var sSeries = Vector.empty[Long]
        all.grouped(chunk).foreach { b =>
          left.addData(b.filter(_.event_type == "click"))
          right.addData(b.filter(_.event_type == "purchase"))
          qa.processAllAvailable()
          sin.addData(b.toSeq)
          qs.processAllAvailable()
          aSeries :+= stateRows(qa)
          sSeries :+= stateRows(qs)
        }
        def summarize(label: String, s: Vector[Long]): Unit = {
          val half = s.drop(s.size / 4).take(s.size / 4).max // 2nd quarter peak
          val late = s.drop(s.size / 2).max // 2nd half peak
          val monotone = s.zip(s.tail).forall { case (a, b) => b >= a }
          println(f"[streamprobe] replay x$dup $label%-10s events=${all.length}%-7d " +
            f"peakQ2=$half%-6d peakH2=$late%-6d last=${s.last}%-6d " +
            f"plateau=${late.toDouble / math.max(1L, half)}%.2f monotone=$monotone")
          println(s"[streamprobe]   series: ${s.mkString(" ")}")
        }
        summarize("asof", aSeries)
        summarize("sessionize", sSeries)
      } finally { qa.stop(); qs.stop() }
    }

    replayRun(1, 50)
    replayRun(10, 50)

    val batches = 10
    val (aBase, aTen) = (asofRun(baseKeys, batches), asofRun(baseKeys * 10, batches))
    val (sBase, sTen) = (sessionRun(baseKeys, batches), sessionRun(baseKeys * 10, batches))

    def perKey(v: Long, k: Int): Double = v.toDouble / k
    println(f"[streamprobe] asof state rows/key: base=${perKey(aBase._1, baseKeys)}%.2f " +
      f"x10=${perKey(aTen._1, baseKeys * 10)}%.2f (flat = per-key state is O(1))")
    println(f"[streamprobe] sessionize state rows/key: base=${perKey(sBase._1, baseKeys)}%.2f " +
      f"x10=${perKey(sTen._1, baseKeys * 10)}%.2f")
    println(s"[streamprobe] TTL eviction: asof afterTTL base=${aBase._3} x10=${aTen._3}; " +
      s"session afterGap base=${sBase._2} x10=${sTen._2} (sentinel-only floors)")

    /** streamingDelta (round-12 ask): state must be exactly one row per
      * LIVE key — re-upserts of unchanged payloads must not grow it
      * (plateau), deletes must shrink it (eviction), and rows/key must
      * stay 1.0 as keys ×10. Returns (afterAdd, afterReupsert,
      * afterChange, afterDelete, emitted). */
    def deltaRun(nKeys: Int): (Long, Long, Long, Long, Long) = {
      val in = MemoryStream[(Long, Long, Long, Boolean)]
      val q = StreamingOps.streamingDelta(
          in.toDS().toDF("key", "fp", "ts", "del"), "key", $"fp", "ts", $"del")
        .writeStream.format("memory").queryName(s"p_delta_$nKeys")
        .outputMode("append").start()
      try {
        def keys(f: Long => Long, del: Boolean = false, upTo: Int = nKeys) =
          (0 until upTo).map(k => (k.toLong, f(k.toLong), 1L, del))
        in.addData(keys(_ => 1L)); q.processAllAvailable()
        val afterAdd = stateRows(q)
        // 3 identical re-upsert batches: state must PLATEAU, not grow
        for (_ <- 1 to 3) { in.addData(keys(_ => 1L)); q.processAllAvailable() }
        val afterReupsert = stateRows(q)
        in.addData(keys(k => if (k % 2 == 0) 2L else 1L)); q.processAllAvailable()
        val afterChange = stateRows(q)
        in.addData(keys(_ => 0L, del = true, upTo = nKeys / 4)); q.processAllAvailable()
        val afterDelete = stateRows(q)
        val emitted = spark.table(s"p_delta_$nKeys").count()
        println(f"[streamprobe] delta keys=$nKeys%-6d afterAdd=$afterAdd%-6d " +
          f"afterReupsertx3=$afterReupsert%-6d afterChange=$afterChange%-6d " +
          f"afterDelete=$afterDelete%-6d emitted=$emitted " +
          f"(expect add=$nKeys, plateau, delete=${nKeys - nKeys / 4}, " +
          f"emitted=${nKeys + nKeys / 2 + nKeys / 4})")
        (afterAdd, afterReupsert, afterChange, afterDelete, emitted)
      } finally q.stop()
    }

    /** streamingNearDupCandidates (round-12 ask): state rows = occupied
      * (band, bucket) groups — linear in DISTINCT content, flat under
      * re-arrivals, and each bucket's id list stops at maxBucket (the
      * hot-bucket valve: a degenerate bucket must stop emitting).
      * `groups` distinct texts × `dupes` identical copies each; with
      * dupes > maxBucket the per-bucket emission cap is C(maxBucket,2)
      * per band. Returns (stateAfterFill, stateAfterMore, pairs). */
    def nearDupRun(groups: Int, dupes: Int, maxBucket: Int): (Long, Long, Long) = {
      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.streamingNearDupCandidates(
          in.toDS().toDF("doc_id", "text"), "doc_id", "text", maxBucket = maxBucket)
        .writeStream.format("memory").queryName(s"p_ndc_${groups}_$maxBucket")
        .outputMode("append").start()
      try {
        def text(g: Int) = s"alpha beta gamma delta epsilon zeta g$g eta theta iota kappa"
        // fill: dupes identical docs per group, 2 batches
        var id = 0L
        for (half <- 0 until 2) {
          in.addData((0 until groups).flatMap { g =>
            (0 until dupes / 2).map { _ => id += 1; (id, text(g)) }
          })
          q.processAllAvailable()
        }
        val afterFill = stateRows(q)
        // more arrivals of the SAME contents: buckets are at maxBucket,
        // state must not grow and (almost) nothing new may emit
        in.addData((0 until groups).map { g => id += 1; (id, text(g)) })
        q.processAllAvailable()
        val afterMore = stateRows(q)
        val pairs = spark.table(s"p_ndc_${groups}_$maxBucket").count()
        val bands = 16
        println(f"[streamprobe] neardup groups=$groups%-5d dupes=$dupes maxBucket=$maxBucket " +
          f"stateAfterFill=$afterFill%-6d afterMore=$afterMore%-6d pairs=$pairs " +
          f"(expect state=${groups * bands}, plateau, pairs<=${groups.toLong * bands * maxBucket * (maxBucket - 1) / 2})")
        (afterFill, afterMore, pairs)
      } finally q.stop()
    }

    val (dBase, dTen) = (deltaRun(baseKeys * 10), deltaRun(baseKeys * 100))
    println(f"[streamprobe] delta state rows/key: base=${dBase._1.toDouble / (baseKeys * 10)}%.2f " +
      f"x10=${dTen._1.toDouble / (baseKeys * 100)}%.2f (flat 1.0 = one fingerprint per live key)")
    val (nBase, nTen) = (nearDupRun(50, 8, 4), nearDupRun(500, 8, 4))
    println(f"[streamprobe] neardup state rows/group: base=${nBase._1 / 50.0}%.2f " +
      f"x10=${nTen._1 / 500.0}%.2f (flat 16.0 = one row per band, capped at maxBucket ids)")
    spark.stop()
  }
}
