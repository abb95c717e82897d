package graft.streaming

import graft.SparkSpec
import graft.streaming.VideoSessionProcessor.{Config, FrameIn}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming wiring: state continuity across micro-batches
  * and idle-timeout session close (the streaming replacements for the
  * reference's poll loop + SIGTERM drain, SURVEY.md §2.1 A9/A10).
  *
  * Abstract so the whole suite runs under BOTH state-store providers
  * (VERDICT r5 ask #8): [[StreamingSpec]] is the default
  * HDFS-backed profile, [[StreamingRocksDbSpec]] re-runs every test
  * under `RocksDBStateStoreProvider` — the 100-TB configuration the
  * scaladocs promise (state larger than executor heap spills to
  * RocksDB's on-disk LSM instead of OOMing the JVM).
  */
abstract class StreamingSpecBase extends SparkSpec with StateStoreProfile {

  import spark.implicits._

  test("keyed state persists across micro-batches (fMGWS)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FrameIn]
    // generous idle timeout: continuity is under test, not the close
    val cfg = Config(inferEveryN = 3, idleTimeoutMs = 120000L)
    val events = VideoSessionProcessor.processStream(input.toDS(), cfg)
    val query = events.writeStream
      .format("memory").queryName("video_events")
      .outputMode(OutputMode.Append())
      .start()
    def detCount() = spark.table("video_events").where($"kind" === "detection").count()
    def awaitDet(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      while (detCount() < n && System.currentTimeMillis() < deadline) Thread.sleep(100L)
      assert(detCount() >= n, s"timed out waiting for $n detections")
    }
    try {
      input.addData(FrameIn("v1", 0, 0L), FrameIn("v1", 1, 1000L))
      awaitDet(2)
      input.addData(FrameIn("v1", 2, 2000L), FrameIn("v1", 3, 3000L))
      awaitDet(4)
      val dets = spark.table("video_events")
        .where($"kind" === "detection").select($"detection.*")
        .orderBy($"frame_number").collect()
      // one continuous session across both batches: idx 0..3, inference at 0 and 3
      assert(dets.map(_.getAs[Long]("session_index")).toSeq == Seq(0L, 1L, 2L, 3L))
      assert(dets.map(_.getAs[Boolean]("inference_ran")).toSeq ==
        Seq(true, false, false, true))
    } finally query.stop()
  }

  test("idle timeout closes a video and emits its completion (fMGWS)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FrameIn]
    val cfg = Config(inferEveryN = 3, idleTimeoutMs = 500L)
    val events = VideoSessionProcessor.processStream(input.toDS(), cfg)
    val query = events.writeStream
      .format("memory").queryName("video_events_timeout")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // all frames in ONE batch; then let the timeout lapse and poll
      // (processAllAvailable never settles under ProcessingTimeTimeout's
      // self-triggering batches)
      input.addData(FrameIn("v1", 0, 0L), FrameIn("v1", 1, 1000L),
        FrameIn("v1", 2, 2000L), FrameIn("v1", 3, 3000L))
      // poll instead of processAllAvailable (which never settles under
      // ProcessingTimeTimeout's self-triggering batches)
      val detDeadline = System.currentTimeMillis() + 30000L
      def dets() = spark.table("video_events_timeout")
        .where($"kind" === "detection").count()
      while (dets() < 4 && System.currentTimeMillis() < detDeadline) Thread.sleep(150L)
      assert(dets() == 4)
      Thread.sleep(1200L)
      input.addData(FrameIn("v2", 0, 0L)) // unrelated key triggers a batch
      val deadline = System.currentTimeMillis() + 30000L
      def completions() = spark.table("video_events_timeout")
        .where($"kind" === "completion" && $"completion.video_id" === "v1")
        .select($"completion.*").collect()
      var comps = completions()
      while (comps.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(250L); comps = completions()
      }
      assert(comps.length == 1)
      assert(comps.head.getAs[org.apache.spark.sql.Row]("stats")
        .getAs[Long]("total_frames") == 4L)
    } finally query.stop()
  }

  test("a video resuming after an idle-timeout close continues the session-id sequence") {
    // the closed-marker semantics end-to-end: timeout emits session 1's
    // completion, later frames for the SAME key open session 2 — no
    // (video_id, session_id) / filepath collision with what was emitted
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FrameIn]
    val cfg = Config(inferEveryN = 3, idleTimeoutMs = 500L)
    val events = VideoSessionProcessor.processStream(input.toDS(), cfg)
    val query = events.writeStream
      .format("memory").queryName("video_events_resume")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def completions() = spark.table("video_events_resume")
        .where($"kind" === "completion" && $"completion.video_id" === "v1")
        .select($"completion.*").orderBy($"local_filepath").collect()
      def awaitComps(n: Int): Array[org.apache.spark.sql.Row] = {
        val deadline = System.currentTimeMillis() + 30000L
        var c = completions()
        while (c.length < n && System.currentTimeMillis() < deadline) {
          Thread.sleep(250L); c = completions()
        }
        c
      }
      input.addData(FrameIn("v1", 0, 0L), FrameIn("v1", 1, 1000L))
      Thread.sleep(1200L)
      input.addData(FrameIn("vx", 0, 0L)) // unrelated key triggers a batch
      assert(awaitComps(1).length == 1)
      // v1 resumes after its close: must continue as session 2
      input.addData(FrameIn("v1", 100, 100000L), FrameIn("v1", 101, 101000L))
      Thread.sleep(1200L)
      input.addData(FrameIn("vy", 0, 0L))
      val comps = awaitComps(2)
      assert(comps.length == 2, s"expected two completions, got ${comps.length}")
      // session id continues: the filepath (which carries it) differs
      assert(comps.map(_.getAs[String]("local_filepath")).toSeq ==
        Seq("/videos/v1_s1.mp4", "/videos/v1_s2.mp4"))
    } finally query.stop()
  }

  test("streaming aggregation in Complete and Update output modes") {
    // Append is exercised everywhere else; Complete re-emits the full
    // result table per batch and Update emits only changed rows — the
    // dashboard/upsert-sink modes.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val agg = input.toDF().toDF("k", "v").groupBy("k").agg(sum($"v").as("total"))
    val qc = agg.writeStream.format("memory").queryName("agg_complete")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(("a", 1), ("b", 2)); qc.processAllAvailable()
      assert(spark.table("agg_complete").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 1L, "b" -> 2L))
      input.addData(("a", 5)); qc.processAllAvailable()
      // complete mode replaces the whole table: running totals, both keys
      assert(spark.table("agg_complete").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 6L, "b" -> 2L))
    } finally qc.stop()
    val input2 = MemoryStream[(String, Int)]
    val agg2 = input2.toDF().toDF("k", "v").groupBy("k").agg(sum($"v").as("total"))
    val qu = agg2.writeStream.format("memory").queryName("agg_update")
      .outputMode(OutputMode.Update()).start()
    try {
      input2.addData(("a", 1), ("b", 2)); qu.processAllAvailable()
      assert(spark.table("agg_update").count() == 2) // both keys changed
      input2.addData(("b", 10)); qu.processAllAvailable()
      val rows = spark.table("agg_update").collect()
        .map(r => r.getString(0) -> r.getLong(1))
      // only b changed in the second batch: exactly one new row, with
      // the updated running total; a is not re-emitted
      assert(rows.length == 3)
      assert(rows.filter(_._1 == "b").map(_._2).sorted.toSeq == Seq(2L, 12L))
      assert(rows.count(_._1 == "a") == 1)
    } finally qu.stop()
  }

  test("event-time timeout closes keyed state when the watermark passes (fMGWS)") {
    // The third stateful-timeout mode (processing-time + timers are
    // covered above): state expires on EVENT time, so replays behave
    // identically regardless of wall-clock — the deterministic choice
    // for backfills.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val sessions = input.toDF().toDF("ts", "key")
      .withWatermark("ts", "5 seconds")
      .as[(java.sql.Timestamp, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[(java.sql.Timestamp, String)], gs: GroupState[Long]) =>
          if (gs.hasTimedOut) {
            val n = gs.get
            gs.remove()
            Iterator(s"closed:$key:$n")
          } else {
            val batch = it.toSeq
            val n = gs.getOption.getOrElse(0L) + batch.size
            gs.update(n)
            // close 10 s of EVENT time after the last event seen
            gs.setTimeoutTimestamp(batch.map(_._1.getTime).max + 10000L)
            Iterator.empty
          }
      }
    val query = sessions.writeStream.format("memory").queryName("et_timeout")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (t("2024-01-01 00:00:01"), "k1"), (t("2024-01-01 00:00:02"), "k1"))
      query.processAllAvailable()
      assert(spark.table("et_timeout").count() == 0) // watermark hasn't passed
      // a much later event advances the watermark past k1's timeout
      input.addData((t("2024-01-01 00:01:00"), "k2"))
      query.processAllAvailable()
      // timeouts fire on the NEXT batch after the watermark advances
      input.addData((t("2024-01-01 00:01:01"), "k2"))
      query.processAllAvailable()
      val rows = spark.table("et_timeout").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("closed:k1:2"))
    } finally query.stop()
  }

  test("watermarked tumbling window over a frame stream (event-time path)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "vid")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "1 minute"), $"vid")
      .agg(count(lit(1)).as("n"))
    val query = agg.writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2024-01-01 00:00:05"), "v1"), (t("2024-01-01 00:00:30"), "v1"))
      query.processAllAvailable()
      // advance past watermark so the first window finalizes
      input.addData((t("2024-01-01 00:02:00"), "v1"))
      query.processAllAvailable()
      input.addData((t("2024-01-01 00:05:00"), "v1"))
      query.processAllAvailable()
      val rows = spark.table("win_out").orderBy($"window.start").collect()
      assert(rows.nonEmpty)
      assert(rows.head.getAs[Long]("n") == 2L) // both 00:00 frames in one window
      // late-data drop: an event far behind the watermark must not
      // resurrect or alter the finalized 00:00 window
      input.addData((t("2024-01-01 00:00:45"), "v1"))
      query.processAllAvailable()
      val after = spark.table("win_out").orderBy($"window.start").collect()
      assert(after.head.getAs[Long]("n") == 2L)
      assert(after.count(_.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").toString.contains("00:00:00")) == 1)
    } finally query.stop()
  }

  test("streaming session_window matches the batch sessionization on the same rows") {
    // the built-in session-window path (q_session_window's batch shape
    // run as a stream): gap-merged sessions finalize when the
    // watermark passes, and the session bounds/counts equal the batch
    // aggregation over the identical rows
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window($"ts", "1 minute"), $"uid")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("s"), $"session_window.end".as("e"),
        $"uid", $"n")
    val query = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // u1: two events 30s apart (one session), then a 5-min gap (new
      // session); u2: one event — arrival split across batches
      val rows = Seq(
        (t("2024-01-01 00:00:05"), 1L), (t("2024-01-01 00:00:35"), 1L),
        (t("2024-01-01 00:05:40"), 1L), (t("2024-01-01 00:00:20"), 2L))
      input.addData(rows.take(2)); query.processAllAvailable()
      input.addData(rows.drop(2)); query.processAllAvailable()
      input.addData((t("2024-01-01 00:20:00"), 9L)); query.processAllAvailable()
      input.addData((t("2024-01-01 00:30:00"), 9L)); query.processAllAvailable()
      val got = spark.table("sess_out").collect()
        .map(r => (r.getLong(2), r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
        .toSet
      // batch expectation over the same rows via the same builder
      val exp = rows.toDF("ts", "uid")
        .groupBy(session_window($"ts", "1 minute"), $"uid")
        .agg(count(lit(1)).as("n"))
        .select($"uid", $"session_window.start", $"session_window.end", $"n")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      assert(exp.subsetOf(got), s"missing sessions: ${exp.diff(got)}")
      assert(exp.size == 3) // two u1 sessions + one u2 session
    } finally query.stop()
  }

  test("stream-static join enriches a frame stream with a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val dim = Seq(("v1", "campA"), ("v2", "campB")).toDF("vid", "campaign")
    val joined = input.toDF().toDF("vid", "fn").join(dim, Seq("vid"), "left")
    val query = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("v1", 0), ("v3", 0))
      query.processAllAvailable()
      val rows = spark.table("ssj_out").orderBy("vid").collect()
      assert(rows.map(r => (r.getString(0), r.getAs[String]("campaign"))).toSeq ==
        Seq(("v1", "campA"), ("v3", null)))
    } finally query.stop()
  }

  test("rate source drives a throughput smoke stream") {
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    val counted = rate.groupBy().count()
    val query = counted.writeStream.format("memory").queryName("rate_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      val deadline = System.currentTimeMillis() + 30000L
      def n(): Long = {
        val rows = spark.table("rate_out").collect()
        if (rows.isEmpty) 0L else rows.head.getLong(0)
      }
      while (n() == 0L && System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(n() > 0L)
    } finally query.stop()
  }

  test("foreachBatch MP4 sink: writer pool per batch, finalize, verify") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-mp4").toString
    val input = MemoryStream[(String, Int, Array[Byte])]
    val query = input.toDF().toDF("vid", "fn", "payload")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        import batch.sparkSession.implicits._
        Jobs.writeAnnotatedVideos(
          batch.select("vid", "fn", "payload").as[(String, Int, Array[Byte])], outDir)
        () // manifest unused here; a production foreachBatch stamps+publishes it
      }
      .start()
    try {
      input.addData(("v1", 0, Array[Byte](1)), ("v1", 1, Array[Byte](2)),
        ("v2", 0, Array[Byte](3)))
      query.processAllAvailable()
      val written = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
        .toArray.map(_.toString).sorted
      assert(written.length == 2)
      assert(written.forall(p => VideoSink.verify(java.nio.file.Paths.get(p))))
    } finally query.stop()
  }

  test("GraftExtensions registers custom SQL functions at session build") {
    // The shared session predates extension injection; exercise the
    // builders directly — the same closures withExtensions would bind.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val byName = graft.GraftExtensions.functions
      .map { case (id, _, b) => id.funcName -> b }.toMap
    assert(byName.keySet == Set("h32", "msgpack_decode_frame", "nfc_normalize",
      "salted_h32_array", "simhash32", "shingles_array", "minhash_signature",
      "dot_product", "l2_normalize", "jaro_winkler"))
    // parameterized builder: literal int args resolve to the expression
    val mh = byName("minhash_signature")(Seq(
      Literal.create(Array("a", "b", "c", "d"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      Literal(3), Literal(12)))
    assert(mh.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() == 12)
    val h = byName("h32")(Seq(Literal(UTF8String.fromString("abc"),
      org.apache.spark.sql.types.StringType)))
    assert(h.eval(null) == 0x90015098L)
  }

  test("streaming corpus curation: fingerprint dedup + quality gate on a doc stream") {
    // The llm curation ops are plain column expressions, so the same
    // pipeline runs unchanged over an unbounded source: canonical
    // fingerprint → dedup-within-watermark → token-count quality gate.
    import graft.functions.TextFunctions.fingerprint
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val curated = input.toDF().toDF("ts", "doc_id", "text")
      .withWatermark("ts", "1 minute")
      .withColumn("fp", fingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fp")
      .where(size(split(col("text"), " ")) >= 3)
    val query = curated.writeStream.format("memory").queryName("curated_docs")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), 1L, "the quick brown fox"),
        (ts("2024-01-01 00:00:02"), 2L, "  The  quick  BROWN fox "), // dup after canonicalization
        (ts("2024-01-01 00:00:03"), 3L, "too short"), // fails the quality gate
        (ts("2024-01-01 00:00:04"), 4L, "a genuinely different document"))
      query.processAllAvailable()
      val kept = spark.table("curated_docs").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(1L, 4L))
    } finally query.stop()
  }

  test("stream-stream interval join matches events within the time bound") {
    // The two-stream correlation shape (e.g. detections ⋈ completions,
    // impressions ⋈ clicks): inner join on key + event-time interval,
    // watermarks bounding both sides' state.
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val det = MemoryStream[(String, java.sql.Timestamp)]
    val ack = MemoryStream[(String, java.sql.Timestamp)]
    val detDf = det.toDF().toDF("vid", "dts").withWatermark("dts", "10 seconds")
    val ackDf = ack.toDF().toDF("avid", "ats").withWatermark("ats", "10 seconds")
    val joined = detDf.join(ackDf,
      expr("vid = avid AND ats BETWEEN dts AND dts + interval 20 seconds"))
    val query = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append()).start()
    try {
      det.addData(("v1", t("2024-01-01 00:00:00")), ("v2", t("2024-01-01 00:00:05")))
      ack.addData(("v1", t("2024-01-01 00:00:10")), // inside v1's 20 s bound
        ("v2", t("2024-01-01 00:00:40"))) // 35 s after v2 — outside
      query.processAllAvailable()
      val rows = spark.table("ssjoin_out").select("vid").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("v1"))
    } finally query.stop()
  }

  test("streaming dedup within watermark drops replayed frames") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Int)]
    val deduped = input.toDF().toDF("ts", "vid", "fn")
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("vid", "fn")
    val query = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 00:00:01"), "v1", 0),
        (t("2024-01-01 00:00:02"), "v1", 0), // duplicate (at-least-once replay)
        (t("2024-01-01 00:00:03"), "v1", 1))
      query.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally query.stop()
  }
}

/** Default-provider profile (HDFS-backed in-memory state store). */
class StreamingSpec extends StreamingSpecBase {
  protected def stateStoreProvider: Option[String] = None
}

/** RocksDB profile: the whole suite again under the state-store the
  * 100-TB deployment would run (keyed state spills to an on-disk LSM
  * instead of living in executor heap). */
class StreamingRocksDbSpec extends StreamingSpecBase {
  protected def stateStoreProvider: Option[String] = Some(RocksDbProvider)
}
