package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event operators
  * ([[graft.ext.Sessionize]]). The reference has no streaming at all
  * (SURVEY.md §2.9); this is the §7.2-M3 extension: the same logical
  * aggregations expressed over an unbounded source with watermarked state.
  *
  * Tests drive these with the parquet `events` table as a file-stream
  * source and a memory sink (`processAllAvailable`), which exercises the
  * real incremental planner. */
object StreamingOps {

  /** Schema of events.parquet when stored as TIMESTAMP(NANOS) and surfaced
    * with nanosAsLong (ts: long). Files stored as TIMESTAMP(MICROS)
    * surface ts as a proper TimestampType instead — see [[readEvents]]. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** How `ts` is stored in the event parquet files. The driver's corpus
    * has shipped both: TIMESTAMP(NANOS) (surfaced as a nanos long under
    * `nanosAsLong`) and TIMESTAMP(MICROS) (a native timestamp). */
  sealed abstract class TsEncoding(private[streaming] val isNanosLong: Boolean)
  object TsEncoding {
    /** Legacy TIMESTAMP(NANOS) storage: ts reads as a nanos `long`. */
    case object NanosLong extends TsEncoding(true)
    /** TIMESTAMP(MICROS) storage: ts reads as a native timestamp. */
    case object Micros extends TsEncoding(false)
  }

  /** File-stream source over a directory that accumulates event parquet
    * files (the streaming contract: new files = new data; the directory
    * must hold ONLY event files). ts is normalized to a microsecond
    * timestamp exactly like the batch reader ([[graft.queries.Registry
    * .events]]): a streaming source needs an explicit schema, so the ts
    * storage encoding is either passed by the caller (`tsEncoding`) or
    * sniffed ONCE from the directory's parquet footers (driver-side,
    * footer-only — no data scan) — nanos-long (legacy TIMESTAMP(NANOS)
    * files) gets `div 1000`, a native timestamp (µs files) passes
    * through.
    *
    * THE ENCODING IS LATCHED AT STREAM CONSTRUCTION. Every file the
    * stream ever reads must use the same ts storage type: a file with
    * the other encoding landing mid-stream is read against the latched
    * schema and fails the batch (or, worse, silently misreads) — Spark
    * file streams cannot re-infer schema per file. Starting on an EMPTY
    * directory therefore requires an explicit `tsEncoding`: there is no
    * footer to sniff, and guessing would silently corrupt a stream whose
    * first real file used the other encoding, so this throws instead. */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None,
      tsEncoding: Option[TsEncoding] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsNanosLong = tsEncoding match {
      case Some(enc) => enc.isNanosLong
      case None =>
        graft.ext.ParquetIO.sniffSchema(spark, dir) match {
          case Some(s) => s("ts").dataType == LongType
          case None => throw new IllegalStateException(
            s"readEvents($dir): no parquet footer to sniff the ts encoding " +
              "from (missing or empty directory). Pass tsEncoding " +
              "explicitly (TsEncoding.Micros for TIMESTAMP(MICROS) files, " +
              "TsEncoding.NanosLong for legacy TIMESTAMP(NANOS)) or stage " +
              "one representative file before starting the stream.")
        }
    }
    val schema =
      if (tsIsNanosLong) eventsRawSchema
      else StructType(eventsRawSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
    val reader = spark.readStream.schema(schema)
    // one file per micro-batch: lets tests drive REAL multi-batch runs
    // (watermark advances between batches) instead of one catch-all batch
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(dir)
    if (tsIsNanosLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Watermarked 1-hour tumbling counts per event type — the streaming twin
    * of `Sessionize.tumbling`. Append mode: a window emits once its
    * watermark passes. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Stream-STATIC enrichment join — the most common production streaming
    * shape: an unbounded event stream joins a bounded dimension table,
    * then rolls up per (window, dimension attribute). The static side is
    * stateless by construction (Spark re-resolves it each micro-batch, so
    * a dimension refresh is picked up on the next trigger) and explicitly
    * broadcast: a shuffle join against a stream would re-shuffle every
    * micro-batch, while the broadcast rides the executors. Only the
    * windowed aggregate keeps state, bounded by the watermark. The SAME
    * function is the batch twin (`events_enriched`, oracle-gated):
    * `withWatermark` is a documented no-op under batch execution, so one
    * definition serves both planners. */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("c_mktsegment"),
        col("n"), col("total_value"))

  /** Stream-stream interval join: purchases joined to the same user's
    * events within the following `windowMinutes`. Both sides are
    * watermarked and the join condition carries the time bound, so state
    * on each side is bounded by the interval + watermark — the canonical
    * scalable stream-join layout. Emits raw (p_id, f_id) match pairs
    * (inner join ⇒ eager append emission). */
  def followUpsStream(events: DataFrame, windowMinutes: Int = 5): DataFrame = {
    val p = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val e = events
      .select(col("user_id").as("f_user"), col("event_id").as("f_id"), col("ts").as("f_ts"))
      .withWatermark("f_ts", "10 minutes")
    p.join(e,
      col("p_user") === col("f_user") &&
        col("f_ts") > col("p_ts") &&
        col("f_ts") <= col("p_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select("p_id", "f_id")
  }

  /** Left-OUTER stream-stream interval join: every purchase emits, with
    * null follow-up columns when no same-user event lands in the window.
    * The outer semantics are the subtle part: an unmatched left row can
    * only emit once the watermark proves no match can still arrive, so
    * null-padded rows trail the matched ones by the lateness horizon —
    * state on both sides stays bounded by interval + watermark exactly as
    * in the inner form. */
  def followUpsStreamOuter(events: DataFrame, windowMinutes: Int = 5): DataFrame = {
    val p = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val e = events
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("f_user"), col("event_id").as("f_id"), col("ts").as("f_ts"))
      .withWatermark("f_ts", "10 minutes")
    p.join(e,
      col("p_user") === col("f_user") &&
        col("f_ts") > col("p_ts") &&
        col("f_ts") <= col("p_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
      .select("p_id", "f_id")
  }

  /** Streaming exact dedup on event_id: watermarked state keeps one entry
    * per key inside the lateness horizon — the streaming twin of the batch
    * exact-dedup operator, and the standard ingest-dedup for at-least-once
    * sources. State is bounded by (events within watermark), not corpus
    * size. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Built-in `session_window` twin of [[sessionizeStream]]: the same gap
    * sessionization as a declarative aggregation — Spark's native session
    * state store instead of hand-rolled `flatMapGroupsWithState` state.
    * Same output shape as [[SessionOut]] (duration from min/max event
    * time, not the gap-padded window bounds).
    *
    * Boundary note: `session_window` merges on overlap, so an event at
    * EXACTLY `last + gap` starts a new session, where the stateful twin's
    * `<= gap` check continues it. The harness events carry microsecond
    * timestamps (an exact boundary hit is measure-zero and absent at every
    * SF); a corpus where the distinction matters should pick one form and
    * keep it. */
  def sessionWindowStream(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        ((unix_micros(max("ts")) - unix_micros(min("ts"))) / 1e6).as("duration_s"),
        round(sum("value"), 2).as("total_value"))
      .select("user_id", "n_events", "duration_s", "total_value")

  /** The one ingest sink: `df` feeds `batchFn` one micro-batch at a time
    * through foreachBatch in update mode. Every standing-index ingest path
    * is `ingestStream(docs)(Family.xIngestBatch(_, …, _))`. The REAL
    * foreachBatch batch id is passed on because it keys the exactly-once
    * `batch_id=<id>` output ([[graft.ext.IngestRecipe.writeBatchOutput]]):
    * foreachBatch is at-least-once, and a replayed batch keeps its id, so
    * it rewrites its own directory instead of appending a second copy. The
    * batch functions' artifacts are the durable state, not Spark's state
    * store, so the serving side reads them without blocking on the stream.
    * An exception thrown by `batchFn` stops the query, and the
    * `StreamingQueryException` carries it as its cause. */
  def ingestStream(df: DataFrame)(batchFn: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    df.writeStream.outputMode("update").foreachBatch(batchFn)

  /** Inverted-index maintenance at ingest: [[ingestStream]] over
    * [[graft.ext.TextStats.bm25IngestBatch]]. Kept as a named entry point
    * because the benchmark's `ingest_serve` workload calls it. */
  def bm25IngestStream(docs: DataFrame, indexPath: String, outPath: String)
      : DataStreamWriter[Row] =
    ingestStream(docs)(graft.ext.TextStats.bm25IngestBatch(_, indexPath, outPath, _))

  /** Streaming CDC apply — the streaming twin of
    * [[graft.ext.Upsert.merge]]: each micro-batch is LWW-compacted
    * ([[graft.ext.Upsert.latestPerKey]] on `(ts, event_id)` DESC) and
    * merged into the parquet table at `targetDir`, so the target always
    * holds exactly one row per user: that user's latest event so far.
    * This wrapper owns the `ts → ts_us` key projection that
    * [[applyUpsertBatch]] orders on.
    *
    * foreachBatch is the standard streaming-merge sink: per batch ONE
    * key-shuffle over (existing ∪ compacted-batch). At production scale
    * the merge target is an ACID table format (MERGE INTO) so the rewrite
    * touches only matched files; plain-parquet overwrite is the offline
    * stand-in with identical merge semantics (see Upsert scaladoc). */
  def upsertStream(updates: DataFrame, targetDir: String): DataStreamWriter[Row] =
    ingestStream(updates.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
      col("event_id"), col("value")))((batch, _) => applyUpsertBatch(batch, targetDir))

  /** One micro-batch of the streaming upsert: compact the batch, union
    * with the current target, keep the latest row per key, then swap the
    * new table in. The merged result is FULLY written to a scratch path
    * first and only then moved over the target
    * ([[graft.ext.IngestRecipe.swapIn]]: delete + rename, and a failed
    * rename throws), so a crash mid-write leaves the current table intact
    * — the remaining exposure is the metadata swap itself, which an ACID
    * table format's MERGE closes completely in production (Upsert
    * scaladoc). */
  def applyUpsertBatch(batch: DataFrame, targetDir: String): Unit = {
    val ord = Seq(col("ts_us").desc, col("event_id").desc)
    val compacted = graft.ext.Upsert.latestPerKey(batch, Seq("user_id"), ord)
    // paths via the Hadoop FileSystem API, not java.io: the target of a
    // cluster deployment is HDFS/object storage, not the driver's disk
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
    val merged =
      if (fs.exists(target)) {
        val current = batch.sparkSession.read.parquet(targetDir)
        graft.ext.Upsert.latestPerKey(current.unionByName(compacted),
          Seq("user_id"), ord)
      } else compacted
    val scratch = new org.apache.hadoop.fs.Path(targetDir + "__staging")
    merged.write.mode("overwrite").parquet(scratch.toString)
    graft.ext.IngestRecipe.swapIn(fs, scratch, target)
  }

  // ------------------------------------------------ stateful sessionize
  final case class Event(user_id: Long, ts: java.sql.Timestamp, ts_us: Long, value: Double)
  final case class SessionState(start_us: Long, last_us: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, n_events: Long, duration_s: Double, total_value: Double)
  final case class TransEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
    event_id: Long, event_type: String)
  final case class LastSeen(ts_us: Long, event_id: Long, event_type: String)
  final case class TransOut(user_id: Long, from_type: String, to_type: String, ts_us: Long)

  /** Custom-state sessionization via `flatMapGroupsWithState`: one state
    * object per user; an EVENT-time timeout (watermark-driven) flushes idle
    * sessions, so replays and tests are deterministic — processing-time
    * timeouts would make emission wall-clock-dependent and keep the query
    * scheduling batches forever. (Batch twin: `Sessionize.sessionize`; the
    * streaming form trades the windowed sort for O(1) state per key — the
    * 100 TB-friendly layout for unbounded input.) */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val typed = events
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Event]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, events, state: GroupState[SessionState]) =>
          def emit(s: SessionState) =
            SessionOut(uid, s.n, (s.last_us - s.start_us) / 1000000.0,
              // same HALF_UP rounding as the batch twin's round(sum, 2)
              BigDecimal(s.total).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit).iterator
            state.remove()
            out
          } else {
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            events.toSeq.sortBy(_.ts_us).foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.last_us <= gapUs =>
                  cur = Some(s.copy(last_us = e.ts_us, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= emit(s)
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
                case None =>
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush once the watermark passes the session's gap horizon;
              // clamped above the current watermark — a group whose latest
              // event is already older than (watermark - gap) would
              // otherwise throw "timeout earlier than watermark" in a
              // multi-batch run
              val horizon = s.last_us / 1000 + gapMinutes * 60000L
              val wmFloor = state.getCurrentWatermarkMs() + 1
              state.setTimeoutTimestamp(math.max(horizon, wmFloor))
            }
            closed.reverseIterator
          }
      }.toDF()
  }

  final case class Change(key: Long, attr: String, ts_us: Long, tie: Long)
  final case class Scd2Open(attr: String, from_us: Long, from_tie: Long, version: Int)
  final case class Scd2Closed(key: Long, attr: String, valid_from_us: Long,
      valid_to_us: Long, version: Int)

  /** Streaming twin of the batch SCD2 build ([[graft.ext.Upsert.scd2]]):
    * incremental Type-2 history maintenance over a change stream with
    * columns (key, attr, ts, tie). CLOSED validity intervals are emitted
    * append-only as soon as the superseding change arrives; the OPEN
    * (current) version per key lives in the group state — which is
    * exactly the serving-table/history-table split of a warehouse SCD2
    * pipeline. State is one (attr, from, version) triple per key with NO
    * timeout: dimension keys are live forever by definition, so state
    * size is the dimension's key cardinality, not the changelog length.
    *
    * In-batch disorder is repaired by the same (ts, tie) sort the batch
    * twin windows on. Cross-batch disorder is NOT repairable in append
    * mode (an event older than the already-open version cannot be
    * retro-inserted — the standard streaming-SCD2 limitation), and Spark
    * does not drop watermark-late rows for flatMapGroupsWithState, so
    * stale arrivals are DISCARDED explicitly here: without that guard a
    * late change would emit an inverted interval (valid_to < valid_from)
    * and replace the open version with older state. Pipelines needing
    * retro-correction replay the affected keys through the batch build. */
  def scd2Stream(changes: DataFrame, lateMinutes: Int = 60): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    val typed = changes
      .withWatermark("ts", s"$lateMinutes minutes")
      .select(col("key"), col("attr"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("tie"))
      .as[Change]
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, evs, state: GroupState[Scd2Open]) =>
          var cur = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[Scd2Closed]
          evs.toSeq.sortBy(e => (e.ts_us, e.tie)).foreach { e =>
            cur match {
              case None =>
                cur = Some(Scd2Open(e.attr, e.ts_us, e.tie, 1))
              case Some(c) if e.ts_us < c.from_us ||
                  (e.ts_us == c.from_us && e.tie < c.from_tie) =>
                () // stale cross-batch arrival, (ts, tie)-older than the
                   // open version — discard (see scaladoc); the tie is
                   // part of the comparison because the batch twin orders
                   // by (ts, tie): a ts-equal-but-older-tie late event
                   // would otherwise close an interval with
                   // valid_to == valid_from and diverge from the batch
              case Some(c) if c.attr != e.attr =>
                out += Scd2Closed(key, c.attr, c.from_us, e.ts_us, c.version)
                cur = Some(Scd2Open(e.attr, e.ts_us, e.tie, c.version + 1))
              case _ => () // unchanged attr → same version continues
            }
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF()
  }

  /** Streaming twin of the batch `events_transitions` query: per-user
    * event-type transition edges emitted incrementally. State is ONE
    * (ts, event_id, type) triple per user — O(1), the unbounded-input
    * layout — remembering only the latest event so the next one emits its
    * edge; an event-time timeout GCs users idle past `idleMinutes` (their
    * next event then simply starts a fresh chain, exactly like the batch
    * window's per-user partition boundary... which never closes, so the
    * timeout is the streaming-only state-size guarantee). In-batch
    * disorder is repaired by the same (ts, event_id) sort the batch twin
    * ranks on; cross-batch disorder is bounded by the watermark. */
  def transitionsStream(events: DataFrame, idleMinutes: Int = 60): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", s"$idleMinutes minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[TransEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, TransOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[LastSeen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption
            val out = scala.collection.mutable.ListBuffer.empty[TransOut]
            evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              last.foreach(l => out += TransOut(uid, l.event_type, e.event_type, e.ts_us))
              last = Some(LastSeen(e.ts_us, e.event_id, e.event_type))
            }
            last.foreach { l =>
              state.update(l)
              val horizon = l.ts_us / 1000 + idleMinutes * 60000L
              state.setTimeoutTimestamp(
                math.max(horizon, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }.toDF()
  }

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_type: String)
  final case class FunnelState(v_us: Long, c_us: Long, done: Boolean)
  final case class FunnelStageOut(user_id: Long, stage: String, ts_us: Long)

  /** Streaming twin of the conversion-window funnel
    * ([[graft.ext.Analytics.funnelWindowed]]): per-user stage events
    * (view → qualifying click → qualifying purchase) appended AS THEY
    * COMPLETE, each step bound to land within `maxGapMinutes` of the
    * previous. Counting stages downstream reproduces the batch funnel's
    * n_view / n_view_click / n_full_funnel exactly (multi-batch
    * spec-pinned). State is O(1) per user — two timestamps + a terminal
    * flag. The flag is load-bearing for parity: the batch semantics pin
    * every step to the user's FIRST view EVER, so an expired funnel must
    * be REMEMBERED (as `done`), not dropped — dropping it would let a
    * later view restart the funnel and emit stages the batch twin never
    * counts. Live timeout-tracked state is bounded by ACTIVE funnels;
    * terminal markers are one tiny record per user who ever viewed —
    * dimension-table cardinality, the same state class as the streaming
    * SCD2 open-version map, not event-volume state. Cross-batch
    * continuation matters: a click landing in a later micro-batch must
    * qualify against the view held in state. */
  def funnelStream(events: DataFrame, maxGapMinutes: Int = 1440): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = maxGapMinutes * 60L * 1000000L
    val typed = events
      .withWatermark("ts", s"$maxGapMinutes minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .as[FunnelEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStageOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // no qualifying next step can arrive anymore — freeze the
            // funnel as terminal (see scaladoc: expired ≠ forgettable)
            state.getOption.foreach(s => state.update(s.copy(done = true)))
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(FunnelState(-1L, -1L, done = false))
            val out = scala.collection.mutable.ListBuffer.empty[FunnelStageOut]
            evs.toSeq.sortBy(_.ts_us).foreach { e =>
              e.event_type match {
                case _ if s.done => ()
                case "view" if s.v_us < 0 =>
                  s = s.copy(v_us = e.ts_us)
                  out += FunnelStageOut(uid, "view", e.ts_us)
                case "click" if s.v_us >= 0 && s.c_us < 0 &&
                    e.ts_us > s.v_us && e.ts_us <= s.v_us + gapUs =>
                  s = s.copy(c_us = e.ts_us)
                  out += FunnelStageOut(uid, "click", e.ts_us)
                case "purchase" if s.c_us >= 0 &&
                    e.ts_us > s.c_us && e.ts_us <= s.c_us + gapUs =>
                  s = s.copy(done = true) // funnel complete — terminal
                  out += FunnelStageOut(uid, "purchase", e.ts_us)
                case _ => ()
              }
            }
            if (s.v_us >= 0) {
              state.update(s)
              if (!s.done) {
                // horizon: last reached step's conversion window
                val horizon = (if (s.c_us >= 0) s.c_us else s.v_us) / 1000 +
                  maxGapMinutes * 60000L
                state.setTimeoutTimestamp(
                  math.max(horizon, state.getCurrentWatermarkMs() + 1))
              }
            }
            out.iterator
          }
      }.toDF()
  }
}
