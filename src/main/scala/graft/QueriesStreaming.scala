package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-only registered queries (SURVEY.md §2.9's watermark trio),
  * surfaced to the driver as rows-only entries: a MemoryStream replay
  * harness feeds the batch `events` fixture through the real
  * `readStream → watermark → window → append-sink` pipeline with a
  * deterministic batch schedule, so late-data drop semantics are
  * exercised end-to-end (not just in ScalaTest).
  *
  * Not oracle-gated by design: watermark late-drop depends on ARRIVAL
  * ORDER, which batch SQL cannot express — the harness pins the order
  * (one on-time batch, one late batch), and StreamingSpec asserts the
  * exact drop behavior on crafted rows.
  */
object QueriesStreaming {

  private type Q = (SparkSession, String) => DataFrame

  /** Bench-mode knob (round-5 ask #8): the replay harnesses' cost is
    * micro-batch + state-store FIXED cost (per-batch incremental
    * re-planning, stores × partitions × batches), not row volume — a 3×
    * thinner slice was measured flag-on/flag-off and moves nothing
    * (calibration-normalized). Under `-Dgraft.bench.fast=1` (set ONLY by
    * [[graft.Bench]]) the harnesses (a) run with 2 shuffle partitions
    * instead of 8/4 — identical keyed-state semantics, fewer store
    * load/commit cycles — (b) replay in ONE batch instead of two
    * wherever the registered output is batch-schedule-INDEPENDENT
    * (dedup/join/session/enrich; watermark_late's late-drop and
    * restart's stop/start ARE their batch schedules, so those keep
    * theirs), and (c) skip no-data micro-batches where emission does
    * not ride them (see [[withFewPartitions]]'s skipNoDataBatches).
    * Verify and StreamingSpec never set the flag, so the correctness
    * surfaces keep exercising the cross-batch state survival the
    * two-batch schedules exist to show; the flag-on ≡ flag-off
    * StreamingSpec guard pins result identity for every trimmed
    * harness. */
  private def benchFast: Boolean = sys.props.get("graft.bench.fast").contains("1")

  /** Run `body` with a smaller shuffle-partition count: every stateful
    * streaming operator materializes ONE state store per shuffle
    * partition per microbatch, so the bounded replay fixture pays 32
    * store load/commit cycles per batch for a few thousand keys. 8
    * partitions keep the same semantics (state is keyed, not
    * partition-placed) at a quarter of the fixed cost. Production
    * streams size this to the key cardinality, not to this harness. */
  private def withFewPartitions[T](s: SparkSession, n: Int = 8,
      skipNoDataBatches: Boolean = false)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevNoData = s.conf.get(noDataKey)
    s.conf.set(key, (if (benchFast) 2 else n).toString)
    // benchFast only, and ONLY for harnesses whose emission does not ride
    // the post-data no-data batch: complete-mode rollups re-emit on every
    // data batch, and the inner stream-stream join emits during data
    // processing (its watermark only evicts state). Append-mode windowed
    // aggregations (session_live, watermark_late) NEED the no-data batch
    // to flush watermark-closed windows — they never set this. The
    // flag-on ≡ flag-off StreamingSpec guard pins all of this.
    if (benchFast && skipNoDataBatches) s.conf.set(noDataKey, "false")
    try body finally {
      s.conf.set(key, prev)
      s.conf.set(noDataKey, prevNoData)
    }
  }

  /** Memory-backed checkpoint dir for the replay harnesses: every
    * microbatch fsyncs offset/commit logs plus one state-store delta per
    * partition; on the default java.io.tmpdir that is real disk I/O
    * paid per batch for bookkeeping no one reads back (the harness
    * replays from scratch each run). tmpfs when available, /tmp
    * otherwise; the caller deletes the dir after `stop()`. Production
    * streams want the DURABLE location — this is a replay-harness
    * setting, not an engine default. */
  private def tmpCheckpointDir(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, "graft-ckpt-")
    else java.nio.file.Files.createTempDirectory("graft-ckpt-")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    // commons-io closes its directory handles; a hand-rolled Files.walk
    // leaks the stream's descriptors once per harness run
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** start() with a tmpfs checkpoint; pairs with [[stopAndClean]]. */
  private def startCheckpointed[T](
      w: org.apache.spark.sql.streaming.DataStreamWriter[T])
      : (org.apache.spark.sql.streaming.StreamingQuery, java.nio.file.Path) = {
    val dir = tmpCheckpointDir()
    try (w.option("checkpointLocation", dir.toString).start(), dir)
    catch { case e: Throwable =>
      // start() can fail (unsupported plan, sink error) before the
      // (query, dir) pair reaches stopAndClean — don't leak the tmpfs dir
      deleteRecursively(dir); throw e
    }
  }

  private def stopAndClean(q: org.apache.spark.sql.streaming.StreamingQuery,
      dir: java.nio.file.Path): Unit = {
    try q.stop() finally deleteRecursively(dir)
  }

  /** stream_watermark_late: watermarked tumbling counts over a 2-batch
    * replay — batch 1 is the later 80% of events (advances the watermark
    * to max(ts) − 30 min), batch 2 is the earliest 20% (all beyond the
    * lateness bound → dropped by the watermark). Emitted rows are the
    * finalized windows of batch 1; deterministic because the batch
    * boundary is a fixed event-time percentile, not wall-clock.
    *
    * The driver-side collect is the REPLAY HARNESS, not the operator: a
    * bounded 1/16 user slice of the fixture stands in for the unbounded
    * source that `StreamOps.tumblingCounts` serves in production. */
  val streamWatermarkLate: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 5).ts.getTime // 20th-percentile event time
    // The "every early row is dropped" semantics require the cut to sit
    // MORE than the 30-min lateness bound before max(ts) — otherwise a
    // smaller fixture span would silently change what this query means.
    // Fail loudly instead (ADVICE r02).
    val maxTs = rows.last.ts.getTime // eventSlice is time-ordered
    require(cut < maxTs - 30L * 60 * 1000,
      s"fixture event-time span too small for the 30-min lateness bound: " +
        s"20th-pct cut=$cut vs max(ts)=$maxTs — early rows would no longer all be late")
    val (early, onTime) = rows.partition(_.ts.getTime < cut)
    val in = MemoryStream[StreamOps.Event]
    val agg = StreamOps.tumblingCounts(in.toDF(), "ts", "1 hour", "30 minutes")
    val sink = "stream_watermark_late_sink"
    val (q, ckpt) = startCheckpointed(
      agg.writeStream.outputMode("append").format("memory").queryName(sink))
    try {
      in.addData(onTime.toIndexedSeq)  // watermark → max(onTime) − 30 min
      q.processAllAvailable()
      in.addData(early.toIndexedSeq)   // every row is beyond lateness → dropped
      q.processAllAvailable()
    } finally stopAndClean(q, ckpt)
    s.table(sink)
      // epoch-seconds BIGINT (not Timestamp): engine-portable for the
      // DuckDB oracle hash, same convention as stream_tumbling
      .select(col("win_start").cast("long").as("win_start"),
        col("event_type"), col("n_events"),
        graft.functions.Num.r4(col("sum_value")).as("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** stream_dedup_live: watermark-horizon dedup through the streaming
    * engine — the replay feeds every event TWICE in one batch plus the
    * first 100 again in a second (still-within-horizon) batch; exactly
    * one copy of each survives. Rows-only: arrival-order semantics. */
  val streamDedupLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    // note: a thinner slice was measured and does NOT help — microbatch +
    // state-store fixed costs dominate, not row volume
    val rows = eventSlice(s, dir)
    val in = MemoryStream[StreamOps.Event]
    val dedup = StreamOps.dedupByIdWithinWatermark(in.toDF(), "ts", "event_id", "1 hour")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
    val sink = "stream_dedup_live_sink"
    val (q, ckpt) = startCheckpointed(
      dedup.writeStream.outputMode("complete").format("memory").queryName(sink))
    try {
      if (benchFast) { // same duplicates, one batch: output is identical
        in.addData(rows ++ rows ++ rows.take(100))
        q.processAllAvailable()
      } else {
        in.addData(rows ++ rows)        // in-batch duplicates
        q.processAllAvailable()
        in.addData(rows.take(100))      // cross-batch duplicates, same horizon
        q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    s.table(sink).orderBy("event_type")
  }

  /** stream_stateful_live: per-user session scores via
    * flatMapGroupsWithState through the streaming engine, replayed in
    * two batches split at the 50th time percentile (sessions spanning the
    * batch boundary must survive in state). Rows-only; the
    * batch-recompute equivalence is asserted in StreamingSpec. */
  val streamStatefulLive: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val scored = StreamOps.sessionScores(in.toDS(), gapMillis = 30L * 60 * 1000)
    val sink = "stream_stateful_live_sink"
    val (q, ckpt) = startCheckpointed(
      scored.toDF().writeStream.outputMode("append").format("memory")
        .queryName(sink))
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2) // sessions open at the boundary continue from state
      q.processAllAvailable()
    } finally stopAndClean(q, ckpt)
    s.table(sink)
      .select(col("user_id"), col("n_events"),
        graft.functions.Num.r4(col("sum_value")).as("sum_value"),
        col("session_start"), col("session_end"))
      .orderBy("user_id", "session_start")
  }

  /** Deterministic bounded event slice shared by the replay harnesses
    * (1/16 of users, time-ordered). Memoized per (dir, oneInN): the slice
    * is immutable REPLAY INPUT — six registered harnesses would otherwise
    * each pay the same scan+sort+collect to rebuild identical rows. The
    * memo is harness state, not operator state (production streams read
    * from a real source, not a driver-side vector). */
  private val sliceMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      IndexedSeq[graft.streaming.StreamOps.Event]]()

  private def eventSlice(s: SparkSession, dir: String,
      oneInN: Int = 16): IndexedSeq[graft.streaming.StreamOps.Event] = {
    import graft.streaming.StreamOps
    sliceMemo.computeIfAbsent((dir, oneInN), { _ =>
      Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(oneInN.toLong)) === lit(0L))
        .select(col("event_id"), expr("ts div 1000000").as("ms"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("ms", "event_id")
        .collect()
        .map(r => StreamOps.Event(r.getLong(0), new java.sql.Timestamp(r.getLong(1)),
          r.getLong(2), r.getString(3), r.getDouble(4)))
        .toIndexedSeq
    })
  }

  /** stream_session_live: native `session_window` through the streaming
    * engine (watermarked, append mode) — the live form of the batch
    * `stream_session` query. Two deterministic batches; sessions closed
    * by the watermark emit, the tail stays in state. Rows-only. */
  val streamSessionLive: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val sessions = in.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      // epoch-ms BIGINT (not Timestamp): session starts carry ms
      // precision, and the numeric form is what the DuckDB oracle hashes
      .select(unix_millis(col("session_window.start")).as("sess_start"),
        col("user_id"), col("n_events"))
    val sink = "stream_session_live_sink"
    val (q, ckpt) = startCheckpointed(
      sessions.writeStream.outputMode("append").format("memory")
        .queryName(sink))
    try {
      if (benchFast) { // final watermark = max(ts)−30min either way: the
        in.addData(b1 ++ b2) // same closed-session set emits in one batch
        q.processAllAvailable()
      } else {
        in.addData(b1)
        q.processAllAvailable()
        in.addData(b2) // advances the watermark; closed sessions emit
        q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    s.table(sink).orderBy("user_id", "sess_start")
  }

  /** stream_join_live: stream-stream inner join through the engine —
    * every `view` matched to the same user's `click`s within 24 hours
    * (the fixture spans 30 days, so a sub-hour horizon matches nothing),
    * both sides watermarked so join state expires. Replayed in two
    * batches split at the 50th time percentile; INNER join output is a
    * deterministic set regardless of the batch schedule, so the result
    * (per-user match counts, totally ordered) is stable. Rows-only:
    * arrival-order/watermark semantics are not batch-SQL-expressible;
    * StreamingSpec asserts exact pairs on crafted rows and batch-join
    * equivalence on a fixture slice. */
  // 4 partitions (not 8): a stream-stream join materializes FOUR state
  // stores per partition per microbatch (left/right rows + watermark
  // counters), so the fixed store cost is 4× a windowed agg's — halving
  // partitions halves it with identical keyed-state semantics
  val streamJoinLive: Q = (s, dir) =>
    joinLiveHarness(s, dir, "inner", "stream_join_live_sink")(
      _.groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id"))

  /** ONE replay driver for both stream-stream join harnesses (the inner
    * and the round-11 LEFT OUTER form share the slice filter, the
    * 50th-percentile batch cut, the dual MemoryStream feed and the
    * checkpointed memory sink — a fix to the schedule must hit both).
    * The inner form skips no-data batches under the bench flag (its
    * emission never rides them); the OUTER form's null emission DOES
    * ride the post-data watermark batch, so it never skips. */
  private def joinLiveHarness(s: SparkSession, dir: String, joinType: String,
      sink: String)(finish: DataFrame => DataFrame): DataFrame =
    withFewPartitions(s, 4, skipNoDataBatches = joinType == "inner") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamOps
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
        org.apache.spark.sql.Encoders.product[StreamOps.Event]
      // only the two joined event types ride the streams — the other 3/5
      // of the slice would be filtered inside the query anyway, but
      // MemoryStream ingestion is per-row driver work worth avoiding
      val rows = eventSlice(s, dir)
        .filter(e => e.event_type == "view" || e.event_type == "click")
      val cut = rows(rows.length / 2).ts.getTime
      val (b2, b1) = rows.partition(_.ts.getTime >= cut)
      val views = MemoryStream[StreamOps.Event]
      val clicks = MemoryStream[StreamOps.Event]
      val joined = StreamOps.followWithin(
        views.toDF().filter(col("event_type") === "view"),
        clicks.toDF().filter(col("event_type") === "click"),
        lateness = "1 hour", horizon = "24 hours",
        joinType = joinType)
      val (q, ckpt) = startCheckpointed(
        joined.writeStream.outputMode("append").format("memory")
          .queryName(sink))
      try {
        if (benchFast) { // both emitted sets are schedule-independent:
          // the inner pair set by join determinism, the outer null set
          // because it is a function of the FINAL watermark only
          views.addData(b1 ++ b2); clicks.addData(b1 ++ b2)
          q.processAllAvailable()
        } else {
          views.addData(b1); clicks.addData(b1)
          q.processAllAvailable()
          views.addData(b2); clicks.addData(b2) // cut-spanning pairs must match from state
          q.processAllAvailable() // incl. the no-data batch emitting outer nulls
        }
      } finally stopAndClean(q, ckpt)
      finish(s.table(sink))
    }

  /** stream_join_outer_live: stream-stream LEFT OUTER join through the
    * engine (round 11, VERDICT r10 ask #4 — the harder state-expiry
    * semantics the inner member didn't cover): matches emit like the
    * inner join; an unmatched view emits ONE null-click row when the
    * watermark passes its expiry point. ORACLE-GATED because the final
    * emitted set is deterministic given the final watermark
    * W = min(max view ts, max click ts) − lateness (each side's
    * watermark tracks its own post-filter rows; Spark's multi-watermark
    * policy is min): a null row emits iff the view is unmatched AND
    * `view_ms + horizon < W` STRICTLY — the boundary pinned empirically
    * in StreamingSpec (an expiry point exactly AT W stays in state).
    * Output = per-user matched-pair and expired-null counts. */
  val streamJoinOuterLive: Q = (s, dir) =>
    joinLiveHarness(s, dir, "left_outer", "stream_join_outer_live_sink")(
      _.groupBy("user_id")
        .agg(count(col("right_id")).as("n_pairs"),
          count(when(col("right_id").isNull, lit(1))).as("n_expired"))
        .orderBy("user_id"))

  /** stream_join_full_live: the FULL OUTER member completing the
    * stream-stream join family (round 11): matched pairs + BOTH
    * expiry-null streams — a view that never clicked (right columns
    * null once `view_ms + horizon < W` strictly) AND a click with no
    * preceding view (left columns null once `click_ms < W` strictly;
    * the right side's expiry point is its own timestamp — a future
    * view at ts ≤ click_ms could still match while W ≤ click_ms).
    * Both boundaries pinned empirically in StreamingSpec; same
    * min-of-both-streams final watermark as the left-outer member. */
  val streamJoinFullLive: Q = (s, dir) =>
    joinLiveHarness(s, dir, "full_outer", "stream_join_full_live_sink")(
      _.groupBy("user_id")
        .agg(
          count(when(col("left_id").isNotNull && col("right_id").isNotNull,
            lit(1))).as("n_pairs"),
          count(when(col("right_id").isNull, lit(1))).as("n_view_expired"),
          count(when(col("left_id").isNull, lit(1))).as("n_click_expired"))
        .orderBy("user_id"))

  /** stream_enrich_live: stream-STATIC enrichment join — the stateless
    * dimension lookup every event pipeline starts with. The static side
    * (a user→tier dim) is a plain DataFrame joined into each microbatch
    * (broadcast, no state store at all); output is the per-tier value
    * rollup. Rows-only by harness nature; the same join as a batch
    * query is trivially identical because no state is involved. */
  val streamEnrichLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    // static dim: every user in the fixture, tiered deterministically
    val dim = Tables.events(s, dir).select(col("user_id")).distinct()
      .select(col("user_id"), concat(lit("tier"), pmod(col("user_id"), lit(3L))).as("tier"))
    val in = MemoryStream[StreamOps.Event]
    val enriched = in.toDF().join(broadcast(dim), "user_id")
      .groupBy("tier").agg(count(lit(1)).as("n_events"),
        graft.functions.Num.r4(sum("value")).as("sum_value"))
    val sink = "stream_enrich_live_sink"
    val (q, ckpt) = startCheckpointed(
      enriched.writeStream.outputMode("complete").format("memory")
        .queryName(sink))
    try {
      if (benchFast) { // stateless enrichment: one batch, same rollup
        in.addData(rows)
        q.processAllAvailable()
      } else {
        in.addData(rows.take(rows.length / 2))
        q.processAllAvailable()
        in.addData(rows.drop(rows.length / 2))
        q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    s.table(sink).orderBy("tier")
  }

  /** stream_restart_exactly_once: checkpoint-recovery through a FILE
    * sink — the restart-safety contract every production ingestion
    * pipeline leans on. Batch A is processed and the query STOPPED; a
    * second query starts from the SAME checkpoint + output path, first
    * drains nothing (committed offsets — a restart must not re-emit A),
    * then processes batch B. The parquet sink's `_spark_metadata`
    * transaction log makes the directory an exactly-once view even if a
    * crash had left stray part-files: readers trust the log, not the
    * listing. The harness `require`s |out| == |A| + |B| — duplicates or
    * losses across the restart fail loudly rather than skew the rows.
    * Rows-only: restart scheduling is not batch-SQL-expressible; the
    * registered result is the bounded per-type rollup of the recovered
    * output (verified exactly-once by the require + StreamingSpec). */
  val streamRestartExactlyOnce: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val (a, b) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[StreamOps.Event]
    val ckpt = tmpCheckpointDir()
    val outDir = tmpCheckpointDir() // same tmpfs policy as the ckpt
    def start() = in.toDF().writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    // the active query must be stopped BEFORE the finally deletes the
    // checkpoint under it (same discipline as stopAndClean)
    var active: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try {
      val q1 = start(); active = Some(q1)
      in.addData(a)
      q1.processAllAvailable()
      q1.stop(); active = None // planned restart; offsets + sink log committed
      val q2 = start(); active = Some(q2)
      q2.processAllAvailable() // recovery drain: MUST re-emit nothing
      in.addData(b)
      q2.processAllAvailable()
      q2.stop(); active = None
      val out = s.read.parquet(outDir.toString) // reads via _spark_metadata
      val n = out.count()
      require(n == rows.length,
        s"exactly-once violated across restart: wrote $n rows, fed ${rows.length}")
      // bounded driver traffic: one row per event_type (fixture has 5)
      val agg = out.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Num.r4(sum("value")).as("sum_value"))
        .orderBy("event_type").collect()
      s.createDataFrame(java.util.Arrays.asList(agg: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_value",
            org.apache.spark.sql.types.DoubleType))))
    } finally {
      active.foreach(q => try q.stop() catch { case _: Throwable => () })
      deleteRecursively(ckpt); deleteRecursively(outDir)
    }
  }

  /** stream_anomaly_live: the ingest-monitoring lambda — hourly
    * per-type counts through the STREAMING engine (complete mode,
    * 2-batch replay split at the median event time, so window state must
    * survive the batch boundary), then [[graft.operators.Temporal]]'s
    * z-scoring over the emitted table. The split is forced by Structured
    * Streaming itself (stacked aggregations are illegal in one streaming
    * query); counting live + scoring the materialized counts is the
    * production shape. ORACLE-GATED: complete-mode counts after
    * processAllAvailable are the exact batch counts (schedule cannot
    * change them), and the z arithmetic is the integer-moment chain of
    * `ts_anomaly` — DuckDB recomputes both stages over the same slice. */
  val streamAnomalyLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val counts = in.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val sink = "stream_anomaly_live_sink"
    val (q, ckpt) = startCheckpointed(
      counts.writeStream.outputMode("complete").format("memory").queryName(sink))
    try {
      if (benchFast) {
        in.addData(rows); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable() // windows continue from state
      }
    } finally stopAndClean(q, ckpt)
    graft.operators.Temporal.zScoresOverCounts(
        s.table(sink).select(col("event_type").as("grp"),
          col("window.start").cast("long").as("bucket"), col("n_events")))
      .withColumnRenamed("grp", "event_type")
      .orderBy("event_type", "bucket")
  }

  /** stream_changepoint_live: the CUSUM lambda — hourly per-type counts
    * through the STREAMING engine (same complete-mode 2-batch replay as
    * [[streamAnomalyLive]]; stacked aggregations are illegal in one
    * streaming query, so counting live + scoring the emitted table is
    * the forced production split), then
    * [[graft.operators.Temporal.cusumOverCounts]] — live level-shift
    * detection beside the live outlier scoring. ORACLE-GATED by the
    * same argument: complete-mode counts after processAllAvailable are
    * the exact batch counts, and the CUSUM statistic is pure BIGINT. */
  val streamChangepointLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val counts = in.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val sink = "stream_changepoint_live_sink"
    val (q, ckpt) = startCheckpointed(
      counts.writeStream.outputMode("complete").format("memory").queryName(sink))
    try {
      if (benchFast) {
        in.addData(rows); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable() // windows continue from state
      }
    } finally stopAndClean(q, ckpt)
    graft.operators.Temporal.cusumOverCounts(
        s.table(sink).select(col("event_type").as("grp"),
          col("window.start").cast("long").as("bucket"), col("n_events")))
      .withColumnRenamed("grp", "event_type")
      .orderBy("event_type")
  }

  /** stream_markov_live: live first-order Markov transition counting —
    * [[graft.streaming.StreamOps.transitions]] (fMGWS; the last seen
    * event type per user carried in keyed state across the batch
    * boundary) through the streaming engine, then the counts/probability
    * rollup over the emitted table (stacked aggregation after a stateful
    * op is the same forced lambda split as `stream_anomaly_live`).
    * ORACLE-GATED: with the time-ordered two-batch feed the emitted
    * transition multiset equals the batch lag's exactly — a boundary-
    * spanning (prev → next) step emits in batch 2 from state, never
    * twice, never dropped — so DuckDB recomputes the identical rollup
    * from the 1/16 slice. */
  val streamMarkovLive: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val trans = StreamOps.transitions(in.toDS())
    val sink = "stream_markov_live_sink"
    val (q, ckpt) = startCheckpointed(
      trans.toDF().writeStream.outputMode("append").format("memory")
        .queryName(sink))
    try {
      if (benchFast) { // schedule-independent emitted set (oracle doc)
        in.addData(b1 ++ b2); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2) // boundary steps emit here, from state
        q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    val pairs = s.table(sink)
      .groupBy("prev_state", "next_state").agg(count(lit(1)).as("n_trans"))
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("prev_state")
    pairs.select(col("prev_state"), col("next_state"), col("n_trans"),
        sum(col("n_trans")).over(wp).as("n_prev"),
        graft.functions.Num.r8(col("n_trans").cast("double")
          / sum(col("n_trans")).over(wp).cast("double")).as("p"))
      .orderBy("prev_state", "next_state")
  }

  /** stream_ewma_live: the smoothing member of the live scoring trio
    * (outliers → `stream_anomaly_live`, level shifts →
    * `stream_changepoint_live`, trend line → this): hourly per-type
    * counts through the STREAMING engine (same complete-mode 2-batch
    * replay), then the exact dyadic EWMA kernel over the emitted table
    * ([[graft.operators.Temporal.ewmaDyadicOverCounts]]; the forced
    * lambda split — a lag window cannot stack on a live aggregation).
    * ORACLE-GATED by the same argument as its siblings: complete-mode
    * counts after processAllAvailable are the exact batch counts, and
    * the dyadic kernel is bit-exact. Buckets are HOUR INDICES (the
    * dense grid steps by 1). */
  val streamEwmaLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val counts = in.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val sink = "stream_ewma_live_sink"
    val (q, ckpt) = startCheckpointed(
      counts.writeStream.outputMode("complete").format("memory").queryName(sink))
    try {
      if (benchFast) {
        in.addData(rows); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    graft.operators.Temporal.ewmaDyadicOverCounts(
        s.table(sink).select(col("event_type").as("grp"),
          // long/long in the DSL is TRUE division (double) — floor+cast
          // restores the integral hour index the dense grid steps on
          floor(col("window.start").cast("long") / 3600L).cast("long")
            .as("bucket"),
          col("n_events").as("x")))
      .withColumnRenamed("grp", "event_type")
      .orderBy("event_type", "bucket")
  }

  /** stream_scd2_live: live SCD-2 dimension-history building —
    * [[graft.streaming.StreamOps.scd2Live]] (fMGWS; each user's open
    * run carried in keyed state) through the streaming engine. The
    * emitted set is every CLOSED interval = the batch `scd2` rebuild
    * minus each user's final (still-open) run — a deterministic
    * function of the time-ordered feed, so DuckDB recomputes it with
    * the `stream_stateful_live` "all but each user's last" trick.
    * Completes the incremental-SCD2 story: `scd2_incremental` is the
    * batch-delta refresh, this is the per-event live form. */
  val streamScd2Live: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val iv = StreamOps.scd2Live(in.toDS())
    val sink = "stream_scd2_live_sink"
    val (q, ckpt) = startCheckpointed(
      iv.toDF().writeStream.outputMode("append").format("memory")
        .queryName(sink))
    try {
      if (benchFast) { // schedule-independent emitted set (oracle doc)
        in.addData(b1 ++ b2); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2) // boundary-spanning runs close here, from state
        q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    s.table(sink)
      .select(col("user_id"), col("run"), col("event_type"),
        col("eff_from"), col("eff_to"), col("n_rows"))
      .orderBy("user_id", "run")
  }

  /** stream_funnel_live: live signup→purchase conversion tracking —
    * [[graft.streaming.StreamOps.funnelLive]] (fMGWS; first-signup ts +
    * converted flag in keyed state) through the streaming engine. The
    * emitted set equals the batch funnel's converted rows under the
    * time-ordered feed — a conversion spanning the batch cut emits in
    * batch 2 from state, exactly once — so DuckDB recomputes it from
    * the 1/16 slice. The live form of `funnel_steps`. */
  val streamFunnelLive: Q = (s, dir) => withFewPartitions(s) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val conv = StreamOps.funnelLive(in.toDS(), "signup", "purchase")
    val sink = "stream_funnel_live_sink"
    val (q, ckpt) = startCheckpointed(
      conv.toDF().writeStream.outputMode("append").format("memory")
        .queryName(sink))
    try {
      if (benchFast) { // schedule-independent emitted set (oracle doc)
        in.addData(b1 ++ b2); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2) // cut-spanning conversions emit here, from state
        q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    s.table(sink)
      .select(col("user_id"), col("a_ts"), col("b_ts"))
      .orderBy("user_id")
  }

  /** stream_topk_live: live "trending now" — the per-hour top-2 event
    * types by count, maintained through the streaming engine (complete-
    * mode hourly counts across two batches; the rank over the emitted
    * table is the same forced lambda split as `stream_anomaly_live` —
    * a row_number cannot stack on a live aggregation). ORACLE-GATED:
    * complete-mode counts after processAllAvailable are the exact batch
    * counts, and the (n DESC, type ASC) rank is integer-deterministic,
    * so DuckDB recomputes the identical board from the 1/16 slice. */
  val streamTopkLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val eventEnc: org.apache.spark.sql.Encoder[StreamOps.Event] =
      org.apache.spark.sql.Encoders.product[StreamOps.Event]
    val rows = eventSlice(s, dir)
    val cut = rows(rows.length / 2).ts.getTime
    val (b2, b1) = rows.partition(_.ts.getTime >= cut)
    val in = MemoryStream[StreamOps.Event]
    val counts = in.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val sink = "stream_topk_live_sink"
    val (q, ckpt) = startCheckpointed(
      counts.writeStream.outputMode("complete").format("memory").queryName(sink))
    try {
      if (benchFast) {
        in.addData(rows); q.processAllAvailable()
      } else {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      }
    } finally stopAndClean(q, ckpt)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
      .orderBy(col("n_events").desc, col("event_type").asc)
    s.table(sink)
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n_events"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .orderBy("bucket", "rnk")
  }

  /** stream_snapshot_tail: the snapshot lake consumed AS A STREAM
    * through the DSv2 CDC source ([[graft.sources.v2
    * .SnapshotStreamSource]]): three `commitAppend`s land while the
    * query runs; each becomes exactly one micro-batch reading ONLY that
    * commit's files (version offsets, checkpointed). The emitted set is
    * schedule-independent — pass-through of every appended row — so the
    * oracle is the plain batch rollup of the whole corpus. The lake-side
    * twin of `pipeline_snapshot_cdc`'s batch refresh: same file-diff
    * contract, driven by Structured Streaming's offset log instead of
    * explicit version pairs. */
  val streamSnapshotTail: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import graft.sources.Snapshots
    val key = f"${dir.hashCode & 0x7fffffff}%08x"
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_roundtrip/$key/docs_tail"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val d = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
    Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 0).repartition(2))
    val stream = s.readStream.format("graft.sources.v2.SnapshotStreamSource")
      .option("root", root).load()
    val sink = "stream_snapshot_tail_sink"
    val (q, ckpt) = startCheckpointed(
      stream.writeStream.outputMode("append").format("memory").queryName(sink))
    try {
      q.processAllAvailable()
      Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 1).repartition(2))
      q.processAllAvailable()
      Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 2).repartition(2))
      q.processAllAvailable()
    } finally stopAndClean(q, ckpt)
    s.table(sink).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  /** stream_snapshot_table: [[streamSnapshotTail]] through the TABLE
    * IDENTITY (round 13) — `spark.readStream.table("snap.`root`")`
    * tails the same commit log via the catalog
    * ([[graft.sources.v2.SnapshotCatalog]] →
    * `SnapshotBatchScan.toMicroBatchStream`): one name serves batch
    * SQL, INSERT, and the stream. Same three-commit schedule, same
    * pass-through emitted set, same batch-rollup oracle — what the
    * twin pins is that the catalog route is the SAME source (version
    * offsets, file-diff batches), not a second implementation. */
  val streamSnapshotTable: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import graft.sources.Snapshots
    val key = f"${dir.hashCode & 0x7fffffff}%08x"
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_roundtrip/$key/docs_tailtbl"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val d = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
    Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 0).repartition(2))
    s.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    val stream = s.readStream.table(s"snap.`$root`")
    val sink = "stream_snapshot_table_sink"
    val (q, ckpt) = startCheckpointed(
      stream.writeStream.outputMode("append").format("memory").queryName(sink))
    try {
      q.processAllAvailable()
      Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 1).repartition(2))
      q.processAllAvailable()
      Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 2).repartition(2))
      q.processAllAvailable()
    } finally stopAndClean(q, ckpt)
    s.table(sink).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  /** stream_lake_upsert_live: the streaming SINK half of the lake —
    * `foreachBatch` + [[graft.sources.Snapshots.commitMergeOnce]]
    * (idempotent single-commit upserts keyed by the epoch id, the
    * exactly-once recipe Delta spells `txnAppId`/`txnVersion`; ids of
    * the form `upsert-e<id>` keep one marker per writer). Base
    * table = the %3==0 docs; batch 1 upserts the %3==1 docs as 'b1';
    * batch 2 upserts the %3==2 docs as 'b2' PLUS re-upserts the even
    * %3==1 docs as 'b2u' — latest-wins must leave exactly one row per
    * key with the last writer's tag. The TWO-batch schedule is the
    * semantics (a collapse would put conflicting copies of one key in
    * the same version) — like stateful/watermark_late, the fast flag
    * trims partitions but never the batch cut. */
  val streamLakeUpsertLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Snapshots
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val key = f"${dir.hashCode & 0x7fffffff}%08x"
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_roundtrip/$key/docs_upsert"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    implicit val enc: org.apache.spark.sql.Encoder[(Long, String)] =
      org.apache.spark.sql.Encoders.product[(Long, String)]
    val d = Tables.documents(s, dir).select("doc_id", "source")
    Snapshots.commitAppend(s, root, d.filter(col("doc_id") % 3 === 0).repartition(2))
    val ids = d.filter(col("doc_id") % 3 =!= 0).select("doc_id")
      .collect().map(_.getLong(0))
    val b1 = ids.filter(_ % 3 == 1).map(id => (id, "b1"))
    val b2 = ids.filter(_ % 3 == 2).map(id => (id, "b2")) ++
      ids.filter(id => id % 3 == 1 && id % 2 == 0).map(id => (id, "b2u"))
    val in = MemoryStream[(Long, String)]
    val (q, ckpt) = startCheckpointed(
      in.toDF().toDF("doc_id", "source").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          Snapshots.commitMergeOnce(s, root, batch.repartition(2),
            Seq("doc_id"), s"upsert-e$id")
          ()
        })
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally stopAndClean(q, ckpt)
    Snapshots.readSnapshot(s, root).orderBy("doc_id")
  }

  /** stream_sink_snapshot_live: the NATIVE streaming SINK of the lake
    * (round 14 — `df.writeStream.toTable("snap.`root`")`, the write-side
    * twin of `stream_snapshot_table`): each micro-batch lands as ONE
    * atomic append commit whose idempotence marker (a `T` manifest
    * entry keyed by the stream's stable query id + epoch) is committed
    * IN the same manifest version as the files — exactly-once with NO
    * marker-vs-commit crash window (`commitMergeOnce` commits its marker
    * the same way). One catalog name now serves batch SQL,
    * INSERT, DML, DDL, the stream SOURCE and the stream SINK. The
    * driver-side collect is the replay harness feeding MemoryStream,
    * not the operator. Gate: three-batch feed → full content vs the
    * flat oracle, plus one-commit-per-epoch version arithmetic;
    * restart/replay and marker-lifecycle semantics are spec-pinned in
    * StreamSinkSpec. */
  val streamSinkSnapshotLive: Q = (s, dir) => withFewPartitions(s, skipNoDataBatches = true) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Snapshots
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val key = f"${dir.hashCode & 0x7fffffff}%08x"
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_roundtrip/$key/docs_streamsink"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    s.sql(s"CREATE TABLE snap.`$root` (doc_id BIGINT, n_chars BIGINT)")
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.product[(Long, Long)]
    val rows = Tables.documents(s, dir).select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val in = MemoryStream[(Long, Long)]
    val ckpt = tmpCheckpointDir()
    val q = in.toDF().toDF("doc_id", "n_chars").writeStream
      .option("checkpointLocation", ckpt.toString)
      .toTable(s"snap.`$root`")
    try {
      for (k <- 0 until 3) {
        in.addData(rows.filter(_._1 % 3 == k).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally { try q.stop() finally deleteRecursively(ckpt) }
    val v = Snapshots.currentVersion(s, root)
    s.sql(s"SELECT doc_id, n_chars FROM snap.`$root` ORDER BY doc_id")
      .withColumn("one_commit_per_epoch", lit(v == 4L))
  }

  val all: Map[String, Q] = Map(
    "stream_sink_snapshot_live" -> streamSinkSnapshotLive,
    "stream_snapshot_tail" -> streamSnapshotTail,
    "stream_snapshot_table" -> streamSnapshotTable,
    "stream_lake_upsert_live" -> streamLakeUpsertLive,
    "stream_anomaly_live" -> streamAnomalyLive,
    "stream_ewma_live" -> streamEwmaLive,
    "stream_changepoint_live" -> streamChangepointLive,
    "stream_topk_live" -> streamTopkLive,
    "stream_scd2_live" -> streamScd2Live,
    "stream_funnel_live" -> streamFunnelLive,
    "stream_markov_live" -> streamMarkovLive,
    "stream_watermark_late" -> streamWatermarkLate,
    "stream_dedup_live" -> streamDedupLive,
    "stream_stateful_live" -> streamStatefulLive,
    "stream_session_live" -> streamSessionLive,
    "stream_join_live" -> streamJoinLive,
    "stream_join_outer_live" -> streamJoinOuterLive,
    "stream_join_full_live" -> streamJoinFullLive,
    "stream_enrich_live" -> streamEnrichLive,
    "stream_restart_exactly_once" -> streamRestartExactlyOnce
  )

  /** DuckDB oracles for the live harnesses (round-8: these rows were
    * previously rows-only). Each harness's FINAL emitted set is a
    * deterministic function of the fixture — the batch schedules exist
    * to exercise state survival, not to change the answer — so the
    * batch-SQL recomputation below is exact:
    *  - dedup/enrich/restart: plain rollups of the 1/16 slice (dedup
    *    feeds every event 2-3×; exactly one copy survives).
    *  - join: the inner-join pair set is schedule-independent (doc on
    *    [[streamJoinLive]]; no cross-batch match can expire early
    *    because the b2 rows' timestamps bound the b1 watermark).
    *  - stateful (fMGWS, NoTimeout): a session emits only when a LATER
    *    event of the same user closes it ⇒ final set = every session
    *    except each user's last.
    *  - session_live / watermark_late (append mode): emitted ⇔ the
    *    window end precedes the final watermark max(ts) − 30 min (the
    *    late feed in watermark_late never advances it).
    * The shared `s` CTE mirrors [[eventSlice]]; `ms` mirrors the
    * harness's `ts div 1000000`. */
  private val sliceCte =
    """WITH s AS (
      |  SELECT event_id, epoch_ns(ts) // 1000000 AS ms, user_id, event_type, value
      |  FROM events WHERE user_id % 16 = 0)""".stripMargin

  /** Sessions of the slice at the harness's 30-min gap (break when the
    * gap to the previous event is >= the bound — `>=`, matching
    * [[graft.streaming.StreamOps.sessionScores]]), one row per
    * (user, session). */
  private val sessionsCte =
    """o AS (
      |  SELECT user_id, ms, event_id, value,
      |    CASE WHEN lag(ms) OVER w IS NULL
      |              OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS brk
      |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM o),
      |agg AS (
      |  SELECT user_id, sess, count(*) AS n_events,
      |    floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value,
      |    min(ms) AS session_start, max(ms) AS session_end
      |  FROM g GROUP BY user_id, sess)""".stripMargin

  val oracles: Map[String, String] = Map(
    "stream_snapshot_tail" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_snapshot_table" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_sink_snapshot_live" ->
      """SELECT doc_id, n_chars, TRUE AS one_commit_per_epoch
        |FROM documents ORDER BY doc_id""".stripMargin,
    "stream_lake_upsert_live" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN source
        |       WHEN doc_id % 3 = 1 AND doc_id % 2 = 0 THEN 'b2u'
        |       WHEN doc_id % 3 = 1 THEN 'b1'
        |       ELSE 'b2' END AS source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "stream_ewma_live" -> {
      val kernel = (0 until 16)
        .map(k => s"coalesce(lag(x, $k) OVER w, 0) * ${1L << (15 - k)}")
        .mkString(" + ")
      s"""$sliceCte,
      |b AS (SELECT event_type, ms // 3600000 AS bucket, count(*) AS x
      |  FROM s GROUP BY 1, 2),
      |grid AS (SELECT event_type, unnest(range(min(bucket), max(bucket) + 1))
      |    AS bucket
      |  FROM b GROUP BY event_type),
      |dense AS (SELECT g.event_type, g.bucket, coalesce(b.x, 0) AS x
      |  FROM grid g LEFT JOIN b
      |    ON b.event_type = g.event_type AND b.bucket = g.bucket)
      |SELECT event_type, bucket, CAST($kernel AS DOUBLE) / 65536.0 AS ewma
      |FROM dense
      |WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
      |ORDER BY event_type, bucket""".stripMargin
    },
    "stream_markov_live" -> s"""$sliceCte,
      |t AS (SELECT prev AS prev_state, event_type AS next_state,
      |    count(*) AS n_trans
      |  FROM (SELECT user_id, event_type,
      |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id)
      |        AS prev
      |    FROM s)
      |  WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_state, next_state, CAST(n_trans AS BIGINT) AS n_trans,
      |  CAST(sum(n_trans) OVER w AS BIGINT) AS n_prev,
      |  floor(CAST(n_trans AS DOUBLE) / CAST(sum(n_trans) OVER w AS DOUBLE)
      |    * 100000000 + 0.5) / 100000000 AS p
      |FROM t WINDOW w AS (PARTITION BY prev_state)
      |ORDER BY prev_state, next_state""".stripMargin,
    "stream_funnel_live" -> s"""$sliceCte,
      |a AS (SELECT user_id, min(ms) AS a_ts FROM s
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |b AS (SELECT s.user_id, min(s.ms) AS b_ts
      |  FROM s JOIN a ON a.user_id = s.user_id
      |  WHERE s.event_type = 'purchase' AND s.ms > a.a_ts
      |  GROUP BY s.user_id)
      |SELECT a.user_id, a.a_ts, b.b_ts
      |FROM a JOIN b ON b.user_id = a.user_id
      |ORDER BY a.user_id""".stripMargin,
    "stream_scd2_live" -> s"""$sliceCte,
      |c AS (SELECT user_id, ms, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |r AS (SELECT user_id, ms, event_id, event_type,
      |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      |  FROM c),
      |runs AS (SELECT user_id, run, min(event_type) AS event_type,
      |    min(ms) AS eff_from, count(*) AS n_rows
      |  FROM r GROUP BY 1, 2),
      |iv AS (SELECT user_id, run, event_type, eff_from,
      |    lead(eff_from) OVER (PARTITION BY user_id ORDER BY run) AS eff_to,
      |    n_rows
      |  FROM runs)
      |SELECT user_id, run, event_type, eff_from,
      |  CAST(eff_to AS BIGINT) AS eff_to, CAST(n_rows AS BIGINT) AS n_rows
      |FROM iv WHERE eff_to IS NOT NULL ORDER BY user_id, run""".stripMargin,
    "stream_topk_live" -> s"""$sliceCte,
      |b AS (SELECT (ms // 3600000) * 3600 AS bucket, event_type,
      |    count(*) AS n_events
      |  FROM s GROUP BY 1, 2)
      |SELECT bucket, event_type, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(rnk AS INT) AS rnk
      |FROM (SELECT bucket, event_type, n_events,
      |    row_number() OVER (PARTITION BY bucket
      |      ORDER BY n_events DESC, event_type ASC) AS rnk
      |  FROM b) WHERE rnk <= 2
      |ORDER BY bucket, rnk""".stripMargin,
    "stream_changepoint_live" -> s"""$sliceCte,
      |b AS (SELECT event_type, (ms // 3600000) * 3600 AS bucket,
      |    count(*) AS x
      |  FROM s GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, bucket,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS t,
      |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
      |  FROM b),
      |m AS (
      |  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS total
      |  FROM b GROUP BY 1),
      |sc AS (
      |  SELECT p.event_type, p.bucket, m.n, m.total,
      |    abs(m.n * p.prefix - p.t * m.total) AS stat
      |  FROM p JOIN m USING (event_type))
      |SELECT event_type, cp_bucket, cusum, n_buckets, total_events FROM (
      |  SELECT event_type, bucket AS cp_bucket, CAST(stat AS BIGINT) AS cusum,
      |    n AS n_buckets, total AS total_events,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY stat DESC, bucket ASC) AS rn
      |  FROM sc) WHERE rn = 1
      |ORDER BY event_type""".stripMargin,
    "stream_anomaly_live" -> s"""$sliceCte,
      |b AS (SELECT event_type, (ms // 3600000) * 3600 AS bucket,
      |    count(*) AS n_events
      |  FROM s GROUP BY 1, 2),
      |m AS (SELECT event_type, count(*) AS n,
      |    CAST(sum(n_events) AS BIGINT) AS sc,
      |    CAST(sum(n_events * n_events) AS BIGINT) AS scc
      |  FROM b GROUP BY 1)
      |SELECT b.event_type, b.bucket, b.n_events,
      |  CASE WHEN m.n * m.scc - m.sc * m.sc > 0
      |    THEN floor(((CAST(b.n_events AS DOUBLE)
      |        - CAST(m.sc AS DOUBLE) / CAST(m.n AS DOUBLE))
      |      / sqrt((CAST(m.scc AS DOUBLE)
      |          - CAST(m.sc AS DOUBLE) * CAST(m.sc AS DOUBLE) / CAST(m.n AS DOUBLE))
      |        / CAST(m.n AS DOUBLE))) * 10000 + 0.5) / 10000
      |    ELSE 0.0 END AS z
      |FROM b JOIN m USING (event_type)
      |ORDER BY event_type, bucket""".stripMargin,
    "stream_dedup_live" -> s"""$sliceCte
      |SELECT event_type, count(*) AS n_events
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_enrich_live" -> s"""$sliceCte
      |SELECT 'tier' || CAST(user_id % 3 AS VARCHAR) AS tier,
      |  count(*) AS n_events,
      |  floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
      |FROM s GROUP BY 1 ORDER BY tier""".stripMargin,
    "stream_restart_exactly_once" -> s"""$sliceCte
      |SELECT event_type, count(*) AS n_events,
      |  floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_join_live" -> s"""$sliceCte
      |SELECT v.user_id AS user_id, count(*) AS n_pairs
      |FROM (SELECT * FROM s WHERE event_type = 'view') v
      |JOIN (SELECT * FROM s WHERE event_type = 'click') c
      |  ON v.user_id = c.user_id
      | AND c.ms >= v.ms AND c.ms <= v.ms + 86400000
      |GROUP BY v.user_id ORDER BY user_id""".stripMargin,
    // LEFT OUTER: matched pairs as above; a null row emits iff the view
    // is unmatched AND its expiry point sits STRICTLY below the final
    // watermark min(max view ms, max click ms) − 1 h (boundary pinned
    // in StreamingSpec); users whose views are all matched-or-live at
    // stop never emitted a row and so never appear
    "stream_join_outer_live" -> s"""$sliceCte,
      |v AS (SELECT * FROM s WHERE event_type = 'view'),
      |c AS (SELECT * FROM s WHERE event_type = 'click'),
      |w AS (SELECT least((SELECT max(ms) FROM v), (SELECT max(ms) FROM c))
      |        - 3600000 AS wm),
      |m AS (SELECT v.user_id, v.event_id, v.ms, count(c.event_id) AS n_match
      |      FROM v LEFT JOIN c ON v.user_id = c.user_id
      |        AND c.ms >= v.ms AND c.ms <= v.ms + 86400000
      |      GROUP BY v.user_id, v.event_id, v.ms)
      |SELECT user_id, CAST(sum(n_match) AS BIGINT) AS n_pairs,
      |  CAST(count(*) FILTER (n_match = 0
      |    AND ms + 86400000 < (SELECT wm FROM w)) AS BIGINT) AS n_expired
      |FROM m GROUP BY user_id
      |HAVING n_pairs > 0 OR n_expired > 0
      |ORDER BY user_id""".stripMargin,
    // FULL OUTER: both expiry-null streams — a view expires at
    // view_ms + horizon < W (strict), a click at click_ms < W (strict;
    // its own timestamp IS its expiry point — earlier views can always
    // still arrive while W <= click_ms). Same min-watermark rule.
    "stream_join_full_live" -> s"""$sliceCte,
      |v AS (SELECT * FROM s WHERE event_type = 'view'),
      |c AS (SELECT * FROM s WHERE event_type = 'click'),
      |w AS (SELECT least((SELECT max(ms) FROM v), (SELECT max(ms) FROM c))
      |        - 3600000 AS wm),
      |lm AS (SELECT v.user_id, v.event_id, v.ms, count(c.event_id) AS n_match
      |      FROM v LEFT JOIN c ON v.user_id = c.user_id
      |        AND c.ms >= v.ms AND c.ms <= v.ms + 86400000
      |      GROUP BY v.user_id, v.event_id, v.ms),
      |rm AS (SELECT c.user_id, c.event_id, c.ms, count(v.event_id) AS n_match
      |      FROM c LEFT JOIN v ON v.user_id = c.user_id
      |        AND c.ms >= v.ms AND c.ms <= v.ms + 86400000
      |      GROUP BY c.user_id, c.event_id, c.ms),
      |agg AS (SELECT user_id,
      |    CAST(sum(n_match) AS BIGINT) AS n_pairs,
      |    CAST(count(*) FILTER (n_match = 0
      |      AND ms + 86400000 < (SELECT wm FROM w)) AS BIGINT) AS n_view_expired,
      |    CAST(0 AS BIGINT) AS n_click_expired
      |  FROM lm GROUP BY user_id
      |  UNION ALL
      |  SELECT user_id, CAST(0 AS BIGINT),
      |    CAST(0 AS BIGINT),
      |    CAST(count(*) FILTER (n_match = 0
      |      AND ms < (SELECT wm FROM w)) AS BIGINT)
      |  FROM rm GROUP BY user_id)
      |SELECT user_id, CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
      |  CAST(sum(n_view_expired) AS BIGINT) AS n_view_expired,
      |  CAST(sum(n_click_expired) AS BIGINT) AS n_click_expired
      |FROM agg GROUP BY user_id
      |HAVING sum(n_pairs) > 0 OR sum(n_view_expired) > 0
      |    OR sum(n_click_expired) > 0
      |ORDER BY user_id""".stripMargin,
    "stream_stateful_live" -> s"""$sliceCte,
      |$sessionsCte
      |SELECT a.user_id, n_events, sum_value, session_start, session_end
      |FROM agg a
      |JOIN (SELECT user_id, max(sess) AS last_sess FROM agg GROUP BY user_id) l
      |  ON a.user_id = l.user_id AND a.sess < l.last_sess
      |ORDER BY a.user_id, session_start""".stripMargin,
    "stream_session_live" -> s"""$sliceCte,
      |$sessionsCte
      |SELECT session_start AS sess_start, user_id, n_events
      |FROM agg
      |WHERE session_end + 1800000 <= (SELECT max(ms) FROM s) - 1800000
      |ORDER BY user_id, sess_start""".stripMargin,
    "stream_watermark_late" -> s"""$sliceCte,
      |r AS (
      |  SELECT ms, row_number() OVER (ORDER BY ms, event_id) - 1 AS rn,
      |    count(*) OVER () AS n
      |  FROM s),
      |ot AS (
      |  SELECT * FROM s
      |  WHERE ms >= (SELECT ms FROM r WHERE rn = n // 5))
      |SELECT (ms // 3600000) * 3600 AS win_start, event_type,
      |  count(*) AS n_events,
      |  floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
      |FROM ot
      |GROUP BY 1, 2
      |HAVING (min(ms) // 3600000) * 3600000 + 3600000
      |         <= (SELECT max(ms) FROM ot) - 1800000
      |ORDER BY win_start, event_type""".stripMargin
  )
}
