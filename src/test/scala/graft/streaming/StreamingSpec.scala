package graft.streaming

import graft.SparkSpec
import graft.ext.{Dedup, Mining, Monitor, Multimodal, Sessionize, SourceAudit}
import graft.queries.Registry.events

/** Structured Streaming twins vs their batch counterparts, driven through
  * the real incremental planner (file source → memory sink,
  * `processAllAvailable`). */
class StreamingSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** FileStreamSource wants a directory of event files; stage the single
    * harness parquet into one. */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), d.resolve("events.parquet"))
    d.toString
  }

  test("readEvents normalizes a legacy nanos-long ts encoding identically") {
    // The harness corpus is TIMESTAMP(MICROS) today, but it was
    // TIMESTAMP(NANOS)-as-long before round 8's regeneration and a
    // non-harness deployment may hand the reader either. Re-encode the
    // events table with ts as a raw nanos long (exactly how nanosAsLong
    // surfaces NANOS storage) and check the stream reads it to the SAME
    // rows as the µs-native directory.
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft_events_nanos")
    graft.queries.Registry.events(spark, dir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(d.toString)
    val q = StreamingOps.readEvents(spark, d.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("nanos_norm_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("nanos_norm_out")
        .select("event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      val want = graft.queries.Registry.events(spark, dir)
        .select("event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(got == want, "nanos-long encoding must normalize to the µs rows")
    } finally q.stop()
  }

  test("readEvents starts on an empty directory; files landing later stream through") {
    // The production pattern: the stream is constructed BEFORE the first
    // file lands. No footer to sniff, so the caller must say how ts is
    // stored — guessing here used to silently misread a nanos deployment.
    val d = java.nio.file.Files.createTempDirectory("graft_events_empty")
    val stream = StreamingOps.readEvents(spark, d.toString,
      tsEncoding = Some(StreamingOps.TsEncoding.Micros))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), d.resolve("events.parquet"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("empty_start_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      assert(spark.table("empty_start_out").count() ==
        events(spark, dir).count(), "late-landing file must stream through")
    } finally q.stop()
  }

  test("readEvents on an empty directory refuses to guess the ts encoding") {
    // Pre-round-10 behavior was a silent µs default — a nanos file landing
    // later would be read against a TimestampType schema (error at best,
    // corrupt timestamps at worst). Now it must fail LOUDLY at
    // construction unless the caller states the encoding.
    val d = java.nio.file.Files.createTempDirectory("graft_events_noguess")
    val e = intercept[IllegalStateException] {
      StreamingOps.readEvents(spark, d.toString)
    }
    assert(e.getMessage.contains("tsEncoding"),
      s"error must point the caller at the explicit parameter: ${e.getMessage}")
  }

  test("readEvents nanos stream on a pre-created empty dir reads correctly") {
    // The case the old silent default misread: a legacy-nanos deployment
    // starting its stream on an empty directory. With the encoding stated
    // up front the late-landing nanos file normalizes to the same rows as
    // the µs corpus.
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("graft_events_nanos_empty")
    val stream = StreamingOps.readEvents(spark, d.toString,
      tsEncoding = Some(StreamingOps.TsEncoding.NanosLong))
    graft.queries.Registry.events(spark, dir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(d.toString)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("nanos_empty_start_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("nanos_empty_start_out")
        .select("event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      val want = graft.queries.Registry.events(spark, dir)
        .select("event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(got == want, "explicit nanos encoding must normalize identically")
    } finally q.stop()
  }

  test("streaming tumbling counts == batch tumbling counts") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("tumbling_out")
        .orderBy("window_start", "event_type").collect().toSeq
      val want = Sessionize.tumbling(events(spark, dir)).collect().toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered events (at-least-once ingest)") {
    // stage the same file twice = every event delivered twice
    val d = java.nio.file.Files.createTempDirectory("graft_events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), d.resolve("events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), d.resolve("events_b.parquet"))
    val q = StreamingOps.dedupStream(StreamingOps.readEvents(spark, d.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("dedup_out").count()
      val want = events(spark, dir).count()
      assert(got == want, s"deduped stream rows $got != original $want")
    } finally q.stop()
  }

  test("foreachBatch sink: streaming aggregation lands as parquet") {
    val out = java.nio.file.Files.createTempDirectory("graft_fb").resolve("agg").toString
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000))
      val landed = spark.read.parquet(out)
      val want = Sessionize.tumbling(events(spark, dir)).count()
      assert(landed.count() == want)
    } finally q.stop()
  }

  test("stream-stream interval join == batch range join pairs") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.followUpsStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("followups_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("followups_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin: same pairs before aggregation
      import org.apache.spark.sql.functions._
      val ev = events(spark, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), unix_micros(col("ts")).as("p_us"))
      val e = ev.select(col("user_id"), col("event_id").as("f_id"), unix_micros(col("ts")).as("f_us"))
      val want = p.join(e, Seq("user_id"))
        .filter(col("f_us") > col("p_us") && col("f_us") <= col("p_us") + lit(300000000L))
        .select("p_id", "f_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"stream ${got.size} pairs vs batch ${want.size}")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: matches == batch, null-padding only for unmatched") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.followUpsStreamOuter(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("followups_outer_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("followups_outer_out")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      // batch truth over the same (non-purchase follow-up) pair universe
      import org.apache.spark.sql.functions._
      val ev = events(spark, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), unix_micros(col("ts")).as("p_us"))
      val e = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_id").as("f_id"), unix_micros(col("ts")).as("f_us"))
      val wantMatched = p.join(e, Seq("user_id"))
        .filter(col("f_us") > col("p_us") && col("f_us") <= col("p_us") + lit(300000000L))
        .select("p_id", "f_id")
        .collect().map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
      val matchedGot = got.filter(_._2.isDefined).toSet
      assert(matchedGot == wantMatched,
        s"matched pairs drifted: stream ${matchedGot.size} vs batch ${wantMatched.size}")
      // every null-padded emission must be for a purchase with NO batch match
      val matchedPids = wantMatched.map(_._1)
      val padded = got.filter(_._2.isEmpty).map(_._1)
      assert(padded.forall(pid => !matchedPids.contains(pid)),
        "null-padded row emitted for a purchase that has a match")
      // and no purchase may appear both padded and matched in the stream output
      assert(padded.toSet.intersect(matchedGot.map(_._1)).isEmpty)
    } finally q.stop()
  }

  test("native session_window == batch sessionize (modulo final-watermark sessions)") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.sessionWindowStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("session_window_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("session_window_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      val batch = Sessionize.sessionize(events(spark, dir)).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      // append mode: sessions are only emitted once the watermark passes
      // them; the sessions still open at the final watermark may be held
      // back, same tolerance as the stateful twin below
      val nUsers = batch.map(_._1).distinct.size
      assert(got.size >= batch.size - nUsers && got.size <= batch.size,
        s"expected between ${batch.size - nUsers} and ${batch.size} sessions, got ${got.size}")
      val batchSet = batch.toSet
      assert(got.forall(batchSet.contains),
        "session_window produced a session absent from the batch result")
    } finally q.stop()
  }

  test("stateful and native sessionizers agree on every closed session") {
    val stream1 = StreamingOps.readEvents(spark, eventsDir)
    val stream2 = StreamingOps.readEvents(spark, eventsDir)
    def run(name: String, df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Double)] = {
      val q = df.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        assert(q.awaitTermination(300000), s"$name did not finish in 5 min")
        spark.table(name)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      } finally q.stop()
    }
    val stateful = run("sess_fmgws", StreamingOps.sessionizeStream(stream1))
    val native = run("sess_native", StreamingOps.sessionWindowStream(stream2))
    // both are subsets of the same batch truth; where both emitted a
    // session for the same (user, start), the rows must be identical —
    // equality of the intersection keys catches any semantic drift
    val statefulKeys = stateful.map(t => (t._1, t._2))
    val shared = native.filter(t => statefulKeys.contains((t._1, t._2)))
    assert(shared.subsetOf(stateful),
      "native and stateful sessionizers disagree on a shared session")
    assert(shared.nonEmpty, "no overlap between the two sessionizers' output")
  }

  // ------------------------------------------------- multi-batch drives
  // Everything above runs AvailableNow over ONE file = one data batch.
  // The tests below stage two time-split files with maxFilesPerTrigger=1,
  // so the watermark genuinely advances between batches — the only way to
  // exercise outer-join null-padding, cross-batch session state, and the
  // incremental upsert merge.

  /** Stage the sf0.001 events split at `splitUs` (µs since epoch) into two
    * files whose mtimes force (early, late) arrival order. Splits on the
    * NORMALIZED µs timestamp (Registry.events), so the helper is
    * storage-agnostic — it works whether the harness corpus stores events
    * as TIMESTAMP(NANOS)-as-long or TIMESTAMP(MICROS). The staged files
    * carry the normalized timestamp schema, which readEvents sniffs. */
  private def stageSplit(splitUs: Long, tag: String): String = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val raw = events(spark, dir)
    val d = java.nio.file.Files.createTempDirectory(s"graft_events_$tag")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = d.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(raw.filter(unix_micros(col("ts")) < splitUs), "a.parquet", t0 - 60000)
    writeOne(raw.filter(unix_micros(col("ts")) >= splitUs), "b.parquet", t0)
    d.toString
  }

  test("outer interval join multi-batch: null-padding only after the watermark advances") {
    import org.apache.spark.sql.functions._
    val splitUs = events(spark, dir)
      .agg(expr("percentile(unix_micros(ts), 0.7)")).collect().head.getDouble(0).toLong
    val d = stageSplit(splitUs, "outer_mb")
    val stream = StreamingOps.readEvents(spark, d, maxFilesPerTrigger = Some(1))
    StreamingSpec.recorded.keys.filter(_._1 == "outer_mb").foreach(StreamingSpec.recorded.remove)
    val q = StreamingOps.followUpsStreamOuter(stream)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
        StreamingSpec.recorded.put(("outer_mb", id), rows); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    val rec = StreamingSpec.recorded.toMap.collect { case (("outer_mb", id), rows) => id -> rows }
    assert(rec.size >= 2, s"expected a multi-batch run, got batches ${rec.keySet}")
    // batch 0 ran with watermark 0: nothing can be proven unmatched yet
    assert(rec(0L).forall(_._2.isDefined),
      "batch 0 emitted a null-padded row before any watermark advance")
    val padded = rec.collect { case (id, rows) if id > 0 => rows }.flatten
      .filter(_._2.isEmpty).map(_._1).toSet
    assert(padded.nonEmpty, "advancing watermark must flush null-padded rows")
    // cross-check the full emission against batch truth
    val ev = events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), unix_micros(col("ts")).as("p_us"))
    val e = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("f_id"), unix_micros(col("ts")).as("f_us"))
    val wantMatched = p.join(e, Seq("user_id"))
      .filter(col("f_us") > col("p_us") && col("f_us") <= col("p_us") + lit(300000000L))
      .select("p_id", "f_id")
      .collect().map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
    val gotAll = rec.values.flatten.toSet
    assert(gotAll.filter(_._2.isDefined) == wantMatched, "matched pairs drifted")
    // exactly the unmatched purchases whose no-match horizon the FINAL
    // watermark (max event time - 10 min lateness) has passed
    val maxUs = ev.agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
    val finalWmUs = maxUs - 600000000L
    val matchedPids = wantMatched.map(_._1)
    val expectPadded = p.collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .filter { case (pid, pUs) =>
        !matchedPids.contains(pid) && pUs + 300000000L < finalWmUs }
      .map(_._1).toSet
    assert(padded == expectPadded,
      s"padded set ${padded.size} != expected ${expectPadded.size}")
  }

  test("sessionize continues a session across the batch boundary (state survives)") {
    import org.apache.spark.sql.functions._
    // find a CLOSED (not user-last) session with events at >1 distinct µs,
    // then split INSIDE it — a continuation is guaranteed by construction
    val gapUs = 30L * 60 * 1000000
    val evRows = events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    final case class S(uid: Long, events: Vector[(Long, Double)], isLast: Boolean)
    val sessions = evRows.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val parts = rows.map(r => (r._2, r._3)).sortBy(_._1)
        .foldLeft(Vector.empty[Vector[(Long, Double)]]) { (acc, e) =>
          acc.lastOption match {
            case Some(s) if e._1 - s.last._1 <= gapUs => acc.init :+ (s :+ e)
            case _ => acc :+ Vector(e)
          }
        }
      parts.zipWithIndex.map { case (s, i) => S(uid, s, i == parts.size - 1) }
    }
    val target = sessions
      .filter(s => !s.isLast && s.events.map(_._1).distinct.size >= 2)
      .maxBy(_.events.size)
    // split at the first event strictly later than the session start
    val splitUs = target.events.map(_._1).find(_ > target.events.head._1).get
    val d = stageSplit(splitUs, "sess_mb")
    val stream = StreamingOps.readEvents(spark, d, maxFilesPerTrigger = Some(1))
    val q = StreamingOps.sessionizeStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_mb_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val nBatches =
      try {
        assert(q.awaitTermination(300000), "stream did not finish in 5 min")
        q.recentProgress.map(_.batchId).distinct.length
      } finally q.stop()
    assert(nBatches >= 2, s"expected a multi-batch run, got $nBatches batch(es)")
    val got = spark.table("sessions_mb_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // every emission must be a TRUE full session — a sessionizer that
    // closed state at the batch boundary would emit truncated fragments
    val batchSet = Sessionize.sessionize(events(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(got.forall(batchSet.contains),
      "emitted a session absent from batch truth (boundary truncation?)")
    // and the deliberately-split session must surface MERGED
    val wantTuple = (target.uid, target.events.size.toLong,
      (target.events.last._1 - target.events.head._1) / 1000000.0,
      BigDecimal(target.events.map(_._2).sum)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.contains(wantTuple),
      s"split session $wantTuple not in stream output — state did not continue across batches")
  }

  test("streaming upsert: incremental LWW merge across batches == batch merge") {
    import org.apache.spark.sql.functions._
    val splitUs = events(spark, dir)
      .agg(expr("percentile(unix_micros(ts), 0.5)")).collect().head.getDouble(0).toLong
    val d = stageSplit(splitUs, "upsert_mb")
    val target = java.nio.file.Files.createTempDirectory("graft_upsert")
      .resolve("target").toString
    val q = StreamingOps.upsertStream(
        StreamingOps.readEvents(spark, d, maxFilesPerTrigger = Some(1)), target)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val nBatches =
      try {
        assert(q.awaitTermination(300000), "stream did not finish in 5 min")
        q.recentProgress.map(_.batchId).distinct.length
      } finally q.stop()
    assert(nBatches >= 2, s"expected a multi-batch run, got $nBatches batch(es)")
    def key(r: org.apache.spark.sql.Row) = (
      r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("ts_us")),
      r.getLong(r.fieldIndex("event_id")), r.getDouble(r.fieldIndex("value")))
    val got = spark.read.parquet(target).collect().map(key).toSet
    val ev = events(spark, dir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
    val want = graft.ext.Upsert.latestPerKey(ev, Seq("user_id"),
        Seq(col("ts_us").desc, col("event_id").desc))
      .collect().map(key).toSet
    assert(got == want, s"target ${got.size} rows != batch LWW ${want.size}")
    assert(got.size == got.map(_._1).size, "target must hold one row per user")
  }

  test("streaming sessionize closes every session except each user's last") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.sessionizeStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("sessions_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      val batch = Sessionize.sessionize(events(spark, dir)).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      // Every session closed by an observed gap must emit; sessions whose
      // close relies on the final watermark may or may not flush before the
      // AvailableNow query terminates, so allow [batch-nUsers, batch].
      val nUsers = batch.map(_._1).distinct.size
      assert(got.size >= batch.size - nUsers && got.size <= batch.size,
        s"expected between ${batch.size - nUsers} and ${batch.size} closed sessions, got ${got.size}")
      val batchSet = batch.toSet
      assert(got.forall(batchSet.contains), "streaming session not present in batch result")
    } finally q.stop()
  }

  test("ivf index upsert stream: incremental merges converge to the from-scratch build") {
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val embs = graft.queries.Registry.table(spark, dir, "embeddings")
    val centroids = embs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_upsert")
    val incPath = root.resolve("inc").toString
    val fullPath = root.resolve("full").toString
    // base index from the even vectors; odds arrive as two streamed batches
    Similarity.buildIvfIndexFrom(embs.filter(col("vec_id") % 2 === 0), centroids, incPath)
    val odds = embs.filter(col("vec_id") % 2 === 1)
    val mid = odds.agg(expr("percentile(vec_id, 0.5)")).collect().head.getDouble(0).toLong
    val stage = root.resolve("stage")
    java.nio.file.Files.createDirectory(stage)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(odds.filter(col("vec_id") < mid), "a.parquet", t0 - 60000)
    writeOne(odds.filter(col("vec_id") >= mid), "b.parquet", t0)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      .select("vec_id", "embedding")
    val q = StreamingOps.ingestStream(stream)(
        (b, _) => Similarity.indexUpsertBatch(b, centroids, incPath))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    Similarity.buildIvfIndexFrom(embs, centroids, fullPath)
    def content(p: String) = spark.read.schema(Similarity.IvfIndexSchema).parquet(p)
      .select("vec_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(content(incPath) == content(fullPath),
      "incrementally maintained index diverged from the from-scratch build")
  }

  test("ingestStream: real batch ids 0, 1, 2; a throwing batch stops the query with its cause") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_stream")
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    val t0 = System.currentTimeMillis()
    Seq(0L, 1L, 2L).foreach { i =>
      val tmp = root.resolve(s"tmp$i").toString
      spark.range(i * 10, i * 10 + 10).toDF("doc_id").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(s"f$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(t0 - (2 - i) * 60000))
    }
    def stream = spark.readStream.schema("doc_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    // (batch id, first doc_id of the batch): one file per batch, in order
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = StreamingOps.ingestStream(stream) { (b, id) =>
      seen.add(id -> b.agg(min("doc_id")).head().getLong(0)); ()
    }.trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq(0L -> 0L, 1L -> 10L, 2L -> 20L))

    val boom = new IllegalStateException("batch 1 rejected")
    val failing = StreamingOps.ingestStream(stream) { (_, id) =>
      if (id == 1L) throw boom
    }.trigger(Trigger.AvailableNow()).start()
    val e = intercept[StreamingQueryException] {
      try failing.awaitTermination(300000) finally failing.stop()
    }
    assert(e.getCause eq boom, s"cause was ${e.getCause}")
  }

  test("dedup ingest stream: per-batch index probe+merge == sequential batch fold") {
    import org.apache.spark.sql.functions._
    import graft.ext.Dedup
    val docs = graft.queries.Registry.table(spark, dir, "documents")
      .select("doc_id", "text")
    // delta = the planted copies; batch 1 = exact copies (1M+), batch 2 =
    // near copies (2M+). doc_ids divisible by 100 have BOTH, so batch 2
    // must find pairs against batch-1 docs that entered the index only via
    // the stream's own merge step — the cross-batch evidence.
    val delta = Dedup.planted(docs).filter(col("doc_id") >= 1000000L)
      .localCheckpoint()
    val half1 = delta.filter(col("doc_id") < 2000000L)
    val half2 = delta.filter(col("doc_id") >= 2000000L)
    val root = java.nio.file.Files.createTempDirectory("graft_dedup_ingest")
    def buildIndex(sub: String): String = {
      val p = root.resolve(sub).toString
      val sh = Dedup.shingleRows(docs).localCheckpoint()
      Dedup.bandedSignatures(sh).write.mode("overwrite").parquet(s"$p/banded")
      sh.distinct().write.mode("overwrite").parquet(s"$p/shingles")
      p
    }
    val incIdx = buildIndex("inc"); val foldIdx = buildIndex("fold")
    // sequential batch fold — the reference semantics
    val foldPairs = root.resolve("fold_pairs").toString
    Dedup.dedupIngestBatch(half1, foldIdx, foldPairs, batchId = 0L)
    Dedup.dedupIngestBatch(half2, foldIdx, foldPairs, batchId = 1L)
    // stream: two staged files, one per micro-batch
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(half1, "a.parquet", t0 - 60000)
    writeOne(half2, "b.parquet", t0)
    val incPairs = root.resolve("inc_pairs").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        Dedup.dedupIngestBatch(_, incIdx, incPairs, _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    def pairSet(p: String): Set[(Long, Long, Double)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = pairSet(incPairs); val fold = pairSet(foldPairs)
    assert(inc == fold, s"stream pairs diverged from the sequential fold: " +
      s"only-stream=${(inc -- fold).take(3)} only-fold=${(fold -- inc).take(3)}")
    assert(inc.nonEmpty, "planted delta produced no near-dup pairs")
    assert(inc.exists { case (d, b, _) => d >= 2000000L && b >= 1000000L && b < 2000000L },
      "no cross-batch pair: batch 2 never probed batch 1's merged signatures")
    // INDEPENDENT oracle (the fold above runs the same code under test):
    // the one-shot batch minhashPairs over the full universe (base ∪ both
    // deltas — planted(docs) IS that universe), restricted to the pairs an
    // ingest in (base, half1, half2) order can see: cross-group only
    // (in-batch pairs are by contract not emitted), reoriented to the
    // incremental (id_d=later doc, id_b=earlier doc) layout. Group
    // boundaries align with id magnitude, so minhashPairs' id_a < id_b
    // means grp(lo) <= grp(hi) always.
    val oracle = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def grp(id: Long) = if (id >= 2000000L) 2 else if (id >= 1000000L) 1 else 0
    val want = oracle.collect { case (lo, hi, j) if grp(hi) > grp(lo) => (hi, lo, j) }
    assert(inc == want, s"stream pairs diverged from the independent batch " +
      s"oracle: only-stream=${(inc -- want).take(3)} only-oracle=${(want -- inc).take(3)}")
  }

  test("semantic ingest stream: micro-batched drops == sequential batch fold") {
    import org.apache.spark.sql.functions._
    val embs = graft.queries.Registry.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").localCheckpoint()
    // frozen quantizer, shared by fold and stream — the contract
    val centroids = graft.ext.Similarity.seedCentroids(embs, 8)
    val tau = 0.1
    val half1 = embs.filter(col("vec_id") < 25)
    val half2 = embs.filter(col("vec_id") >= 25)
    val root = java.nio.file.Files.createTempDirectory("graft_sem_stream")
    // sequential batch fold — the reference semantics (cold start both)
    val foldIdx = root.resolve("fold_idx").toString
    val foldDrops = root.resolve("fold_drops").toString
    graft.ext.Dedup.semanticIngestBatch(half1, centroids, foldIdx, foldDrops, 0L, tau)
    graft.ext.Dedup.semanticIngestBatch(half2, centroids, foldIdx, foldDrops, 1L, tau)
    // stream: two staged files, one per micro-batch, same order
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sem_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, stage.resolve(name))
      assert(stage.resolve(name).toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(half1, "a.parquet", t0 - 60000)
    writeOne(half2, "b.parquet", t0)
    val incIdx = root.resolve("inc_idx").toString
    val incDrops = root.resolve("inc_drops").toString
    val stream = spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        Dedup.semanticIngestBatch(_, centroids, incIdx, incDrops, _, tau))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    def dropSet(p: String): Set[(Long, Long, Long, Double)] =
      spark.read.parquet(p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val inc = dropSet(incDrops); val fold = dropSet(foldDrops)
    assert(inc == fold, s"stream drops diverged from the sequential fold: " +
      s"only-stream=${(inc -- fold).take(3)} only-fold=${(fold -- inc).take(3)}")
    assert(inc.nonEmpty, "no cross-batch semantic drops at tau=0.1 — degenerate fixture")
    // every drop is a batch-2 vector witnessed by a batch-1 vector
    assert(inc.forall { case (v, _, w, _) => v >= 25 && w < 25 },
      "drop/witness orientation broken: standing must witness, newcomer must drop")
  }

  test("phash ingest stream: micro-batched pairs == sequential fold == one-shot batch screen") {
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Registry.table(spark, dir, "documents")
      .select("doc_id", "text").localCheckpoint()
    // batch 2 = re-encoded re-crawls (1M+, first byte perturbed) of every
    // 10th batch-1 doc: each pair partner entered the index only via the
    // stream's own merge step — the cross-batch evidence.
    val recrawl = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(lit("X"), expr("substring(text, 2)")))
      .localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft_phash_stream")
    // sequential batch fold — the reference semantics
    val foldIdx = root.resolve("fold_idx").toString
    val foldPairs = root.resolve("fold_pairs").toString
    graft.ext.Multimodal.phashIngestBatch(docs, foldIdx, foldPairs, 0L)
    graft.ext.Multimodal.phashIngestBatch(recrawl, foldIdx, foldPairs, 1L)
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_phash_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, stage.resolve(name))
      assert(stage.resolve(name).toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(docs, "a.parquet", t0 - 60000)
    writeOne(recrawl, "b.parquet", t0)
    val incIdx = root.resolve("inc_idx").toString
    val incPairs = root.resolve("inc_pairs").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        Multimodal.phashIngestBatch(_, incIdx, incPairs, _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    def pairSet(p: String): Set[(Long, Long, Int)] =
      spark.read.parquet(p).select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inc = pairSet(incPairs); val fold = pairSet(foldPairs)
    assert(inc == fold, s"stream pairs diverged from the sequential fold: " +
      s"only-stream=${(inc -- fold).take(3)} only-fold=${(fold -- inc).take(3)}")
    assert(inc.exists { case (a, b, _) => a < 1000000L && b >= 1000000L },
      "no cross-batch pair: batch 2 never probed batch 1's merged hashes")
    // INDEPENDENT oracle: every pair (a,b) is emitted by batch max(grp)'s
    // delta×(base∪delta) probe, so the ingest union must equal the
    // one-shot banded screen over the full corpus — no restriction needed.
    import spark.implicits._
    val oneShot = graft.ext.Dedup.bandedHammingPairs(
      graft.ext.Multimodal.phashTable(
        graft.ext.Multimodal.mediaTable(docs.unionByName(recrawl))
          .as[graft.ext.Multimodal.MediaRow]), "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc == oneShot, s"ingest union diverged from the one-shot screen: " +
      s"only-ingest=${(inc -- oneShot).take(3)} only-batch=${(oneShot -- inc).take(3)}")
  }

  test("source audit stream: multi-batch snapshot == batch audit; replay is idempotent") {
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Registry.table(spark, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_src_audit")
    val state = root.resolve("state").toString
    // stage two doc_id-split files, one micro-batch each
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_audit_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    // cold start: the audit over a not-yet-ingested state is empty, not
    // an error (a dashboard can query before ingest begins)
    assert(graft.ext.SourceAudit.snapshot(spark, state).collect().isEmpty)
    val mid = 250L
    val t0 = System.currentTimeMillis()
    writeOne(docs.filter(col("doc_id") < mid), "a.parquet", t0 - 60000)
    writeOne(docs.filter(col("doc_id") >= mid), "b.parquet", t0)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        SourceAudit.auditIngestBatch(_, state, _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    val want = rows(graft.SparkEntry.queries("corpus_source_audit")(spark, dir))
    val got = rows(graft.ext.SourceAudit.snapshot(spark, state))
    assert(got == want, s"incremental audit diverged from the batch audit")
    // cross-batch evidence: distinct metrics must span batches — a source
    // whose langs or duplicate fps split across the two files would
    // double-count under a per-batch-mergeable (additive) design
    assert(want.exists(_._5 > 1), "fixture has no multi-lang source — weak split")
    // at-least-once replay: re-land batch 1 under its own id → unchanged
    graft.ext.SourceAudit.auditIngestBatch(
      docs.filter(col("doc_id") < mid), state, 0L)
    assert(rows(graft.ext.SourceAudit.snapshot(spark, state)) == want,
      "replaying a batch must not change the audit (overwrite idempotence)")
    // restart-shaped replay: the SAME batch arrives with a different
    // physical layout (row order and partitioning are not stable across a
    // crash-recovered re-execution) — the partition overwrite must land
    // the same facts and the snapshot must not move
    graft.ext.SourceAudit.auditIngestBatch(
      docs.filter(col("doc_id") < mid).orderBy(col("doc_id").desc).repartition(7),
      state, 0L)
    assert(rows(graft.ext.SourceAudit.snapshot(spark, state)) == want,
      "a perturbed-layout replay of the same batchId must leave the audit unchanged")
  }

  test("ivf index upsert: a one-vector batch rewrites only its bucket") {
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val embs = graft.queries.Registry.table(spark, dir, "embeddings")
    val centroids = embs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_onevec").toString
    Similarity.buildIvfIndexFrom(embs, centroids, path)
    def bucketFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("c_id="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = bucketFiles()
    // clone vector 0 under a fresh id: same embedding → same bucket
    val newVec = embs.filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    Similarity.indexUpsertBatch(newVec, centroids, path)
    val after = bucketFiles()
    val home = Similarity.assignToCentroids(newVec, centroids)
      .collect().head.getLong(2)
    val changed = before.keySet.filter(b => before(b) != after.getOrElse(b, Set.empty))
    assert(changed == Set(s"c_id=$home"),
      s"expected only bucket c_id=$home rewritten, got $changed")
    val got = spark.read.schema(Similarity.IvfIndexSchema).parquet(path)
    assert(got.filter(col("vec_id") === 999999L).count() == 1)
    assert(got.count() == embs.count() + 1)
  }

  test("scd2 stream: closed intervals == batch history, versions span the batch boundary") {
    import org.apache.spark.sql.functions._
    // change log = orders (key=o_custkey, attr=o_orderpriority), split at
    // the median date into two files so versions must chain across batches
    val raw = graft.queries.Registry.table(spark, dir, "orders")
    val splitUs = raw
      .agg(expr("percentile(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 0.5)"))
      .collect().head.getDouble(0).toLong
    val d = java.nio.file.Files.createTempDirectory("graft_scd2_mb")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = d.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val us = unix_micros(col("o_orderdate").cast("timestamp"))
    val t0 = System.currentTimeMillis()
    writeOne(raw.filter(us < splitUs), "a.parquet", t0 - 60000)
    writeOne(raw.filter(us >= splitUs), "b.parquet", t0)

    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(d.toString)
      .select(col("o_custkey").as("key"), col("o_orderpriority").as("attr"),
        col("o_orderdate").cast("timestamp").as("ts"), col("o_orderkey").as("tie"))
    val q = StreamingOps.scd2Stream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val nBatches =
      try {
        assert(q.awaitTermination(300000), "stream did not finish in 5 min")
        q.recentProgress.map(_.batchId).distinct.length
      } finally q.stop()
    assert(nBatches >= 2, s"expected a multi-batch run, got $nBatches batch(es)")

    val got = spark.table("scd2_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // batch truth: every CLOSED interval of the batch SCD2 build (the open
    // one lives in streaming state, not in the append output)
    val want = graft.ext.Upsert.scd2(raw.select("o_custkey", "o_orderpriority",
        "o_orderdate", "o_orderkey"), "o_custkey", "o_orderpriority",
        "o_orderdate", "o_orderkey")
      .filter(!col("is_current"))
      .select(col("o_custkey"), col("o_orderpriority"),
        unix_micros(col("valid_from").cast("timestamp")).as("f"),
        unix_micros(col("valid_to").cast("timestamp")).as("t"), col("version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.sorted.toSeq == want.sorted.toSeq,
      s"closed-interval drift: got ${got.length}, want ${want.length}")
    // continuity: intervals that OPENED before the split and CLOSED after
    // it can only emit if the open version survived batch 1 in state
    val boundary = want.filter(t => t._3 < splitUs && t._4 >= splitUs)
    assert(boundary.nonEmpty, "split produced no cross-boundary versions — unusable split")
    val gotSet = got.toSet
    boundary.foreach { t =>
      assert(gotSet.contains(t),
        s"boundary version $t missing — state did not survive the batch")
    }
  }

  test("scd2 stream: a cross-batch stale arrival is discarded, never inverts an interval") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch 1: A@10:00 then B@12:00 (closes A, opens B v2)
    // batch 2: C@11:00 — OLDER than the open version → must be discarded
    //          (watermark does not drop it: flatMapGroupsWithState gets
    //          late rows regardless); then D@13:00 closes B normally
    val d = java.nio.file.Files.createTempDirectory("graft_scd2_late")
    def write(name: String, mtime: Long, rows: Seq[(Long, String, String, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
      rows.toDF("key", "attr", "ts_s", "tie")
        .select(col("key"), col("attr"), to_timestamp(col("ts_s")).as("ts"), col("tie"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, d.resolve(name))
      assert(d.resolve(name).toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    write("a.parquet", t0 - 60000, Seq(
      (1L, "A", "2026-01-01 10:00:00", 1L), (1L, "B", "2026-01-01 12:00:00", 2L)))
    write("b.parquet", t0, Seq(
      (1L, "C", "2026-01-01 11:00:00", 3L), (1L, "D", "2026-01-01 13:00:00", 4L)))

    val schema = spark.read.parquet(d.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.toString)
    val q = StreamingOps.scd2Stream(stream, lateMinutes = 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_late_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()

    val got = spark.table("scd2_late_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._5)
    got.foreach { case (_, _, f, t, _) =>
      assert(t > f, s"inverted interval emitted: $got")
    }
    def us(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000L
    assert(got.toSeq === Seq(
      (1L, "A", us("2026-01-01 10:00:00"), us("2026-01-01 12:00:00"), 1),
      (1L, "B", us("2026-01-01 12:00:00"), us("2026-01-01 13:00:00"), 2)),
      s"stale event must be dropped, normal flow must continue: $got")
  }

  test("stream-static join multi-batch: enriched segment rollup == batch twin") {
    import org.apache.spark.sql.functions._
    val splitUs = events(spark, dir)
      .agg(expr("percentile(unix_micros(ts), 0.5)")).collect().head.getDouble(0).toLong
    val d = stageSplit(splitUs, "enrich_mb")
    val dim = graft.queries.Registry.table(spark, dir, "customer")
    val stream = StreamingOps.readEvents(spark, d, maxFilesPerTrigger = Some(1))
    val q = StreamingOps.enrichedSegmentCounts(stream, dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val nBatches =
      try {
        assert(q.awaitTermination(300000), "stream did not finish in 5 min")
        q.recentProgress.map(_.batchId).distinct.length
      } finally q.stop()
    assert(nBatches >= 2, s"expected a multi-batch run, got $nBatches batch(es)")
    val got = spark.table("enrich_out")
      .orderBy("window_start", "c_mktsegment").collect().toSeq
    // batch twin = the registered oracle-gated query body, same function
    val want = StreamingOps.enrichedSegmentCounts(events(spark, dir), dim)
      .orderBy("window_start", "c_mktsegment").collect().toSeq
    assert(got == want,
      s"stream-static drift: ${got.length} stream rows vs ${want.length} batch rows")
  }

  test("scd2 stream: ts-equal-but-older-tie late arrival is discarded like the batch order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch 1: A@10:00(tie 5), B@12:00(tie 10) — closes A, opens B v2 at
    //          from=(12:00, tie=10)
    // batch 2: C@12:00(tie 3) — SAME ts as the open version but an OLDER
    //          tie: under the batch (ts, tie) order C precedes B, so a
    //          stream that already opened B must discard C (a ts-only
    //          guard would accept it and emit a zero-length interval);
    //          then D@13:00(tie 20) closes B normally
    val d = java.nio.file.Files.createTempDirectory("graft_scd2_tie")
    def write(name: String, mtime: Long, rows: Seq[(Long, String, String, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
      rows.toDF("key", "attr", "ts_s", "tie")
        .select(col("key"), col("attr"), to_timestamp(col("ts_s")).as("ts"), col("tie"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, d.resolve(name))
      assert(d.resolve(name).toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    write("a.parquet", t0 - 60000, Seq(
      (1L, "A", "2026-01-01 10:00:00", 5L), (1L, "B", "2026-01-01 12:00:00", 10L)))
    write("b.parquet", t0, Seq(
      (1L, "C", "2026-01-01 12:00:00", 3L), (1L, "D", "2026-01-01 13:00:00", 20L)))

    val schema = spark.read.parquet(d.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.toString)
    val q = StreamingOps.scd2Stream(stream, lateMinutes = 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_tie_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()

    val got = spark.table("scd2_tie_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._5)
    def us(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000L
    assert(got.toSeq === Seq(
      (1L, "A", us("2026-01-01 10:00:00"), us("2026-01-01 12:00:00"), 1),
      (1L, "B", us("2026-01-01 12:00:00"), us("2026-01-01 13:00:00"), 2)),
      s"tie-older stale event must be dropped, normal flow must continue: $got")
  }

  test("transitions stream: exact edge parity with batch, edges span the batch boundary") {
    import org.apache.spark.sql.functions._
    val splitUs = events(spark, dir)
      .agg(expr("percentile(unix_micros(ts), 0.5)")).collect().head.getDouble(0).toLong
    val d = stageSplit(splitUs, "trans_mb")
    val stream = StreamingOps.readEvents(spark, d, maxFilesPerTrigger = Some(1))
    val q = StreamingOps.transitionsStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("trans_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      val got = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      // batch truth: per-user lead over the SAME (ts, event_id) order —
      // transitions are append-only stateless-per-edge emissions, so the
      // streaming run must reproduce the batch edge multiset EXACTLY
      // (no watermark-dependent tail like sessionize)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val ev = events(spark, dir)
      val wantFull = ev
        .withColumn("to_type", lead("event_type", 1).over(w))
        .withColumn("to_us", lead(unix_micros(col("ts")), 1).over(w))
        .filter(col("to_type").isNotNull)
        .select(col("user_id"), col("event_type"), col("to_type"), col("to_us"),
          unix_micros(col("ts")).as("from_us"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      val want = wantFull.map(t => (t._1, t._2, t._3, t._4))
      assert(got.sorted.toSeq == want.sorted.toSeq,
        s"edge multiset drift: got ${got.length}, want ${want.length}")
      // state continuity: edges whose FROM event precedes the split and TO
      // event follows it can only emit if LastSeen survived batch 1
      val boundary = wantFull.filter(t => t._5 < splitUs && t._4 >= splitUs)
      assert(boundary.nonEmpty, "split produced no cross-boundary edges — unusable split")
      val gotSet = got.toSet
      boundary.foreach { case (uid, from, to, toUs, _) =>
        assert(gotSet.contains((uid, from, to, toUs)),
          s"boundary edge ($uid, $from->$to) missing — state did not survive the batch")
      }
    } finally q.stop()
  }

  test("streaming funnel multi-batch: stage counts reproduce the windowed batch funnel") {
    import org.apache.spark.sql.functions._
    // Split AT some user's qualifying-click timestamp, so that user's view
    // lands in batch 0 and the click in batch 1 — a guaranteed
    // cross-boundary funnel (a blind percentile split found none at
    // sf0.001: the corpus's step gaps span hours-to-days, hence the 24 h
    // conversion window here and in the registered query).
    val gapUs = 24L * 3600 * 1000000
    val base = events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = base.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("us"))).as("v_us"))
    val withC = base.join(v, "user_id")
      .groupBy("user_id", "v_us")
      .agg(min(when(col("event_type") === "click" && col("us") > col("v_us") &&
        col("us") <= col("v_us") + gapUs, col("us"))).as("c_us"))
      .filter(col("c_us").isNotNull)
      .orderBy("user_id")
    assert(withC.count() > 0, "no qualifying view→click user at sf0.001")
    val splitUs = withC.collect().head.getAs[Long]("c_us")
    val d = stageSplit(splitUs, "funnel_mb")
    val stream = StreamingOps.readEvents(spark, d, maxFilesPerTrigger = Some(1))
    StreamingSpec.recordedStages.keys.filter(_._1 == "funnel_mb")
      .foreach(StreamingSpec.recordedStages.remove)
    val q = StreamingOps.funnelStream(stream)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        StreamingSpec.recordedStages.put(("funnel_mb", id), rows); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    val rec = StreamingSpec.recordedStages.toMap
      .collect { case (("funnel_mb", id), rows) => id -> rows }
    assert(rec.size >= 2, s"expected a multi-batch run, got batches ${rec.keySet}")
    val all = rec.values.flatten.toSeq
    // at most one emission per (user, stage) — the terminal/first-view
    // guards at work
    assert(all.groupBy(e => (e._1, e._2)).values.forall(_.size == 1),
      "duplicate stage emission")
    // stage counts == the batch twin's funnel columns
    val batch = graft.ext.Analytics
      .funnelWindowed(events(spark, dir), maxGapUs = 24L * 3600 * 1000000)
      .collect().head
    def stageUsers(st: String) = all.filter(_._2 == st).map(_._1).toSet
    assert(stageUsers("view").size.toLong == batch.getAs[Long]("n_view"))
    assert(stageUsers("click").size.toLong == batch.getAs[Long]("n_view_click"))
    assert(stageUsers("purchase").size.toLong == batch.getAs[Long]("n_full_funnel"))
    // cross-batch continuation: some stage completed in a later batch for
    // a user whose view was emitted in batch 0 — only possible if the
    // funnel state survived the batch boundary
    val b0Views = rec(0L).filter(_._2 == "view").map(_._1).toSet
    val laterSteps = rec.collect { case (id, rows) if id > 0 => rows }.flatten
      .filter(e => e._2 != "view" && b0Views.contains(e._1))
    assert(laterSteps.nonEmpty,
      "split produced no cross-boundary funnel steps — state continuity unexercised")
  }

  test("cusum monitor: 3-batch fold == batch query; replay idempotent; loud on missing baseline") {
    import org.apache.spark.sql.functions._
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    // frozen baseline = the batch query's own self-referential μ, so the
    // monitor must reproduce stats_cusum EXACTLY (shared cusumCore)
    val mu = graft.ext.Monitor.baseline(daily)
    val root = java.nio.file.Files.createTempDirectory("graft_cusum")
    val ledger = root.resolve("ledger").toString
    val out = root.resolve("out").toString
    // cold start: snapshot over a not-yet-created ledger is empty
    assert(graft.ext.Monitor.snapshot(spark, ledger, mu).collect().isEmpty)
    // three chronological day-range batches
    val days = daily.select("d").distinct().orderBy("d").collect().map(_.getDate(0))
    assert(days.length >= 3, "fixture needs ≥3 days")
    val cuts = Seq(days(days.length / 3), days(2 * days.length / 3))
    val batches = Seq(
      daily.filter(col("d") < lit(cuts(0))),
      daily.filter(col("d") >= lit(cuts(0)) && col("d") < lit(cuts(1))),
      daily.filter(col("d") >= lit(cuts(1))))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.ext.Monitor.cusumIngestBatch(b, mu, ledger, out, i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "d", "c", "cusum_pos6", "cusum_neg6", "alarm")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).sortBy(t => (t._1, t._2)).toSeq
    val want = rows(graft.SparkEntry.queries("stats_cusum")(spark, dir))
    assert(rows(graft.ext.Monitor.snapshot(spark, ledger, mu)) == want,
      "ledger snapshot diverged from the batch query")
    // per-batch exactly-once outputs union to the same series
    assert(rows(spark.read.parquet(out)) == want,
      "union of batch_id outputs diverged from the batch query")
    // at-least-once replay with perturbed physical layout: nothing moves
    graft.ext.Monitor.cusumIngestBatch(
      batches(1).orderBy(desc("d")).repartition(7), mu, ledger, out, 1L)
    assert(rows(graft.ext.Monitor.snapshot(spark, ledger, mu)) == want,
      "replaying a batch changed the monitor state")
    assert(rows(spark.read.parquet(out)) == want,
      "replaying a batch changed its exactly-once output")
    // a type with no baseline row must fail loudly, not emit garbage
    val noMu = mu.filter(col("event_type") =!= "view")
    val thrown = intercept[IllegalArgumentException] {
      graft.ext.Monitor.cusumIngestBatch(
        daily.filter(col("event_type") === "view").limit(1),
        noMu, ledger, out, 99L)
    }
    assert(thrown.getMessage.contains("baseline"))
  }

  test("cusum monitor: conflicting counts for one (type, day) fail loudly, never pick a survivor") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cusum_conflict")
    val ledger = root.resolve("ledger").toString
    val out = root.resolve("out").toString
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val mu = Seq(("x", 10000000L)).toDF("event_type", "mu6")
    graft.ext.Monitor.cusumIngestBatch(
      Seq(("x", d1, 10L)).toDF("event_type", "d", "c"), mu, ledger, out, 0L)
    // a DIFFERENT batch re-shipping the same day with a different count is
    // misuse: the anti-join replaces it silently in that batch's output,
    // but both rows land in the ledger — every subsequent read must refuse
    graft.ext.Monitor.cusumIngestBatch(
      Seq(("x", d1, 999L)).toDF("event_type", "d", "c"), mu, ledger, out, 1L)
    val thrown = intercept[IllegalArgumentException] {
      graft.ext.Monitor.snapshot(spark, ledger, mu).collect()
    }
    assert(thrown.getMessage.contains("conflicting"), thrown.getMessage)
  }

  test("cusum monitor: bit-identical in-batch duplicates pass; in-batch disagreement still fails") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val mu = Seq(("x", 10000000L)).toDF("event_type", "mu6")
    def run(batch: org.apache.spark.sql.DataFrame) = {
      val root = java.nio.file.Files.createTempDirectory("graft_cusum_dup")
      val (ledger, out) = (root.resolve("l").toString, root.resolve("o").toString)
      graft.ext.Monitor.cusumIngestBatch(batch, mu, ledger, out, 0L)
      spark.read.parquet(out)
        .select("event_type", "d", "c", "alarm").collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
          r.getBoolean(3))).sortBy(t => (t._1, t._2)).toSeq
    }
    // two bit-identical rows for (x, d1) do NOT conflict — the guard must
    // match readLedger's dropDuplicates-first semantics (ADVICE r11) and
    // the output must equal the deduplicated batch's
    val clean = run(Seq(("x", d1, 10L), ("x", d2, 12L)).toDF("event_type", "d", "c"))
    val dup = run(Seq(("x", d1, 10L), ("x", d1, 10L), ("x", d2, 12L))
      .toDF("event_type", "d", "c"))
    assert(dup == clean, "identical in-batch duplicate day rows changed the output")
    // genuinely disagreeing counts within one batch still fail loudly
    val thrown = intercept[IllegalArgumentException] {
      run(Seq(("x", d1, 10L), ("x", d1, 11L)).toDF("event_type", "d", "c"))
    }
    assert(thrown.getMessage.contains("conflicting"), thrown.getMessage)
  }

  test("cusum monitor: a batch rejected for conflicting counts writes nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cusum_reject")
    val ledger = root.resolve("ledger").toString
    val out = root.resolve("out").toString
    def day(i: Int) = java.sql.Date.valueOf(s"2024-01-0$i")
    val mu = Seq(("x", 10000000L)).toDF("event_type", "mu6")
    def ingest(id: Long, rows: (String, java.sql.Date, Long)*): Unit =
      graft.ext.Monitor.cusumIngestBatch(rows.toDF("event_type", "d", "c"),
        mu, ledger, out, id)
    def ledgerRows = spark.read.parquet(ledger).collect().map(_.toString).sorted.toSeq
    def rejected(id: Long, rows: (String, java.sql.Date, Long)*): Unit = {
      val before = ledgerRows
      val thrown = intercept[IllegalArgumentException](ingest(id, rows: _*))
      assert(thrown.getMessage.contains("conflicting"), thrown.getMessage)
      assert(ledgerRows == before, s"rejected batch $id changed the ledger")
      assert(!new java.io.File(s"$out/batch_id=$id").exists(),
        s"rejected batch $id wrote an output")
    }
    ingest(0L, ("x", day(1), 10L), ("x", day(2), 12L))
    val history = graft.ext.Monitor.snapshot(spark, ledger, mu).collect().toSeq
    // disagreeing counts within one batch: rejected before any write, so
    // the ledger stays clean and the monitor keeps serving
    rejected(1L, ("x", day(3), 5L), ("x", day(3), 6L))
    assert(graft.ext.Monitor.snapshot(spark, ledger, mu).collect().toSeq == history)
    // a ledger already broken by a re-shipped day rejects a later batch on
    // another day, again before writing anything
    ingest(2L, ("x", day(1), 999L))
    rejected(3L, ("x", day(4), 7L))
  }

  test("cusum stream: foreachBatch wiring lands the same alarm history") {
    import org.apache.spark.sql.functions._
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val mu = graft.ext.Monitor.baseline(daily)
    val root = java.nio.file.Files.createTempDirectory("graft_cusum_stream")
    val ledger = root.resolve("ledger").toString
    val out = root.resolve("out").toString
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    val mid = daily.select("d").distinct().orderBy("d").collect()
      .map(_.getDate(0)).apply(daily.select("d").distinct().count().toInt / 2)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cusum_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(daily.filter(col("d") < lit(mid)), "a.parquet", t0 - 60000)
    writeOne(daily.filter(col("d") >= lit(mid)), "b.parquet", t0)
    val stream = spark.readStream
      .schema("event_type STRING, d DATE, c LONG")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        Monitor.cusumIngestBatch(_, mu, ledger, out, _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "d", "c", "cusum_pos6", "cusum_neg6", "alarm")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).sortBy(t => (t._1, t._2)).toSeq
    val want = rows(graft.SparkEntry.queries("stats_cusum")(spark, dir))
    assert(rows(graft.ext.Monitor.snapshot(spark, ledger, mu)) == want)
    assert(rows(spark.read.parquet(out)) == want)
  }

  test("cap ingest stream: ts-split file stream keeps the batch query's earliest-cap set") {
    import org.apache.spark.sql.functions._
    val ev = events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val root = java.nio.file.Files.createTempDirectory("graft_cap_stream")
    val ledger = root.resolve("ledger").toString
    val out = root.resolve("kept").toString
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    val mid = ev.agg(expr("percentile_approx(cast(ts as double), 0.5)"))
      .collect()(0).getDouble(0)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cap_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    // two ts-ordered files → maxFilesPerTrigger=1 gives two micro-batches
    val t0 = System.currentTimeMillis()
    writeOne(ev.filter(col("ts").cast("double") < mid), "a.parquet", t0 - 60000)
    writeOne(ev.filter(col("ts").cast("double") >= mid), "b.parquet", t0)
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        Mining.capIngestBatch(_, ledger, out, _, cap = 5))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val want = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "streamed cap diverged from the batch earliest-cap set")
    // ledger is cap-bounded: ≤ 5 distinct kept events per user
    val over = spark.read.parquet(ledger).groupBy("user_id")
      .agg(countDistinct("event_id").as("n")).filter(col("n") > 5).count()
    assert(over == 0L, "ledger exceeded the cap for some user")
  }

  test("bm25 ingest stream: index, serving, and audits == sequential batch fold") {
    import org.apache.spark.sql.functions._
    import graft.ext.TextStats
    val docs = graft.queries.Registry.table(spark, dir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_stream")
    // sequential batch fold — the reference semantics (cold start both)
    val foldIdx = root.resolve("fold_idx").toString
    val foldOut = root.resolve("fold_out").toString
    TextStats.bm25IngestBatch(half1, foldIdx, foldOut, 0L)
    TextStats.bm25IngestBatch(half2, foldIdx, foldOut, 1L)
    // stream: two staged files, one per micro-batch
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bm25_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(half1, "a.parquet", t0 - 60000)
    writeOne(half2, "b.parquet", t0)
    val incIdx = root.resolve("inc_idx").toString
    val incOut = root.resolve("inc_out").toString
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.bm25IngestStream(stream, incIdx, incOut)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    val terms = Seq("hash", "join", "scan", "vector", "stream")
    def served(idx: String): Seq[String] = {
      val post = spark.read.schema(TextStats.PostingSchema).parquet(s"$idx/postings")
      val sts = spark.read.schema(TextStats.Bm25StatsSchema).parquet(s"$idx/stats")
      val pos = spark.read.schema(TextStats.PositionSchema).parquet(s"$idx/positions")
      (TextStats.bm25FromIndex(post, sts, terms, 20).collect() ++
        TextStats.phraseFromIndex(pos, Seq("hash", "join")).collect())
        .map(_.toString).toSeq
    }
    assert(served(incIdx) == served(foldIdx),
      "stream-built index serves differently from the sequential fold")
    assert(served(incIdx).nonEmpty, "degenerate fixture (nothing served)")
    // and the stream-built index reproduces the corpus-direct ranking
    val directBm25 = TextStats.bm25(docs, terms, 20).collect().map(_.toString).toSeq
    assert(served(incIdx).take(directBm25.size) == directBm25,
      "stream-built index diverged from corpus-direct BM25")
    // vocabulary-growth audits land per batch_id and match the fold
    def audit(out: String, id: Long): Seq[String] =
      spark.read.schema(TextStats.Bm25OutSchema).parquet(s"$out/batch_id=$id")
        .orderBy("doc_id").collect().map(_.toString).toSeq
    (0L to 1L).foreach { id =>
      assert(audit(incOut, id) == audit(foldOut, id),
        s"batch $id audit diverged between stream and fold")
    }
  }

  test("bm25 ingest stream: every job of a batch carries the query's id and job group") {
    import spark.implicits._
    import graft.ext.TextStats
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_props")
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    // two staged files, one per micro-batch
    Seq(Seq((1L, "alpha beta gamma"), (2L, "beta delta")),
      Seq((3L, "gamma gamma epsilon"), (4L, "")))
      .zipWithIndex.foreach { case (docs, i) =>
        val tmp = root.resolve(s"tmp$i").toString
        docs.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, stage.resolve(s"b$i.parquet"))
      }
    // every job start's (query id, job group); the part appends run on
    // threads of their own, so a lost local property shows here
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val flushGroup = s"bm25-props-flush-${System.nanoTime()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
        if (prop("spark.jobGroup.id") == flushGroup) flushed.countDown()
        else { seen.add((prop("sql.streaming.queryId"), prop("spark.jobGroup.id"))); () }
      }
    }
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    spark.sparkContext.addSparkListener(l)
    val q = try {
      val q = StreamingOps.bm25IngestStream(stream,
          root.resolve("idx").toString, root.resolve("out").toString)
        .option("checkpointLocation", root.resolve("chk").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
      finally q.stop()
      spark.sparkContext.setJobGroup(flushGroup, "flush")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      q
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    val jobs = scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
    // two batches, each at least a checkpoint, an output write and four
    // part appends
    assert(jobs.size >= 12, s"too few jobs seen: ${jobs.size}")
    val stray = jobs.filterNot(_ == ((q.id.toString, q.runId.toString)))
    assert(stray.isEmpty,
      s"${stray.size} of ${jobs.size} jobs lack the query's id or job group: ${stray.distinct}")
    assert(TextStats.corpusStatsFromLedger(spark.read.schema(TextStats.Bm25StatsSchema)
      .parquet(root.resolve("idx/stats").toString)) == TextStats.CorpusStats(4L, Some(2.0)))
  }

  test("corpus-build ingest stream: verdicts + readout == sequential batch fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ext.CorpusBuild
    val run = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, run, "en"), (2L, "alpha beta gamma delta epsilon", "de"),
      (3L, run, "en"), // exact dup of 1, later batch
      (4L, (2 to 30).map(i => s"w$i").mkString("CHANGED ", " ", ""), "en"), // near-dup of 1
      (5L, "short text here", "fr"), // fails the quality rule
      (6L, "the quick brown fox jumps over dogs", "en")
    ).toDF("doc_id", "text", "lang").localCheckpoint()
    val emb = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0)))
      .toDF("c_id", "c_emb")
    val score = (surv: org.apache.spark.sql.DataFrame) =>
      surv.filter(size(split(col("text"), "\\s+")) >= 5).select("doc_id")
    val half1 = docs.filter(col("doc_id") <= 2)
    val half2 = docs.filter(col("doc_id") > 2)
    val root = java.nio.file.Files.createTempDirectory("graft_cb_stream")
    val (foldIdx, foldOut) =
      (root.resolve("fold_idx").toString, root.resolve("fold_out").toString)
    CorpusBuild.ingestBatch(half1, emb, cents, score, foldIdx, foldOut, 0L)
    CorpusBuild.ingestBatch(half2, emb, cents, score, foldIdx, foldOut, 1L)
    val stage = java.nio.file.Files.createDirectory(root.resolve("stage"))
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cb_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeOne(half1, "a.parquet", t0 - 60000)
    writeOne(half2, "b.parquet", t0)
    val (incIdx, incOut) =
      (root.resolve("inc_idx").toString, root.resolve("inc_out").toString)
    val stream = spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
    val q = StreamingOps.ingestStream(stream)(
        CorpusBuild.ingestBatch(_, emb, cents, score, incIdx, incOut, _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not finish in 5 min")
    finally q.stop()
    def verdicts(out: String): Seq[String] =
      spark.read.parquet(out).select("doc_id", "stage", "lang", "toks")
        .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(verdicts(incOut) == verdicts(foldOut),
      "stream verdicts diverged from the sequential fold")
    assert(verdicts(incOut).nonEmpty, "degenerate fixture (no verdicts)")
    // drops actually exercised: 3 exact, 4 minhash, 5 quality
    val byDoc = spark.read.parquet(incOut).select("doc_id", "stage")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDoc(3L) == "1_exact" && byDoc(4L) == "2_minhash" &&
      byDoc(5L) == "4_quality" && byDoc(6L) == "kept", byDoc.toString)
    assert(CorpusBuild.readout(spark, incIdx, incOut).collect().map(_.toString).toSeq ==
      CorpusBuild.readout(spark, foldIdx, foldOut).collect().map(_.toString).toSeq,
      "stream readout diverged from the sequential fold")
  }
}

/** Companion holds the foreachBatch recording map so sink closures capture
  * only this object, never the spec instance (the ScalaTest Engine is not
  * serializable). */
object StreamingSpec {
  val recorded =
    new scala.collection.concurrent.TrieMap[(String, Long), Seq[(Long, Option[Long])]]()
  val recordedStages =
    new scala.collection.concurrent.TrieMap[(String, Long), Seq[(Long, String, Long)]]()
}
