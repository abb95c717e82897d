package firebench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Sessions
import graft.streaming.{DetectMain, FireModel, FrameSerde, Jobs, VideoSessionProcessor, VideoSink}
import graft.streaming.Schemas.FrameMessage
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** `backfill_replay`: batch replay of a stored backlog.
  *
  * The backlog is Kafka-record-shaped parquet (key, value = msgpack
  * frame, topic, partition, offset, timestamp, timestampType), as
  * `IngestMain` writes it, with incompressible payloads and the same
  * gap schedule as `live_cameras`. It is built once per run, untimed.
  * One replay is `DetectMain.run` (decode → `processBatch` → detection
  * and completion parquet) followed by `Jobs.writeAnnotatedVideos` over
  * the decoded payloads with the stub container writer. Replays repeat,
  * each on fresh output directories, until `--seconds` have passed.
  */
object BackfillReplay {
  val Videos = 64
  val FramesPerVideo = 1000
  val PayloadBytes = 2048
  val GapEvery = 200
  val WarmupReplays = 5
  /** A warm session build takes under 0.1 s and reads 0.07 or 0.10 s
    * from run to run, so the median needs several. */
  val SessionSetups = 7
  private val baseMs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  def vid(v: Int): String = f"video$v%04d"
  def phase(seed: Long, v: Int): Int = new SplittableRandom(seed * 7919L + v).nextInt(GapEvery)
  def frameNumber(seed: Long, v: Int, k: Int): Int = k + 401 * ((k + phase(seed, v)) / GapEvery)

  /** Writes the backlog; returns its path. */
  def buildBacklog(spark: SparkSession, seed: Long, dir: Path): String = {
    import spark.implicits._
    val out = dir.resolve("backlog").toString
    val n = Videos.toLong * FramesPerVideo
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 2).as[Long].map { id =>
      val v = (id / FramesPerVideo).toInt
      val k = (id % FramesPerVideo).toInt
      val payload = new Array[Byte](PayloadBytes)
      new SplittableRandom(seed * 1000003L + id).nextBytes(payload)
      val msg = FrameSerde.encodeMsgpack(FrameMessage(vid(v), frameNumber(seed, v, k),
        new java.sql.Timestamp(baseMs + k * 125L), 8.0, payload, 640, 480))
      (vid(v), msg, id)
    }.toDF("key", "value", "id")
      .select(col("key"), col("value"), lit("video-frames").as("topic"),
        pmod(hash(col("key")), lit(6)).cast("int").as("partition"), col("id").as("offset"),
        timestamp_millis(lit(1700000000000L) + col("id") * 10).as("timestamp"),
        lit(0).as("timestampType"))
      .write.mode("overwrite").parquet(out)
    out
  }

  final case class Session(total: Long, fire: Long, maxProb: Double)

  /** Independent per-video fold: gap sessions, inference every 4th
    * frame of a session, cached prediction between, scored with
    * `FireModel.syntheticProbability`. Keyed by completion file path. */
  def expected(seed: Long): Map[String, Map[String, Session]] = {
    val cfg = VideoSessionProcessor.Config()
    (0 until Videos).map { v =>
      val sessions = mutable.LinkedHashMap.empty[String, Session]
      var sid = 0L; var idx = 0L; var last = Int.MinValue; var prob = 0.0
      var cur = Session(0, 0, 0.0)
      def flush(): Unit = if (cur.total > 0) sessions(s"/videos/${vid(v)}_s$sid.mp4") = cur
      (0 until FramesPerVideo).foreach { k =>
        val fn = frameNumber(seed, v, k)
        if (sid == 0 || fn - last > cfg.gapFrames) { flush(); sid += 1; idx = 0; cur = Session(0, 0, 0.0) }
        if (idx % cfg.inferEveryN == 0) {
          val p = FireModel.syntheticProbability(vid(v), fn)
          prob = if (p >= FireModel.DefaultThreshold) p else 0.0
        }
        cur = Session(cur.total + 1, cur.fire + (if (prob > 0) 1 else 0), math.max(cur.maxProb, prob))
        idx += 1; last = fn
      }
      flush()
      vid(v) -> sessions.toMap
    }.toMap
  }

  /** Frames whose outputs are wrong in one replay. */
  def check(spark: SparkSession, out: Path, manifest: Map[String, String],
      want: Map[String, Map[String, Session]]): Long = {
    import spark.implicits._
    val comps = spark.read.parquet(out.resolve("detect/completions").toString)
      .select(col("video_id"), col("local_filepath"), col("stats.total_frames"),
        col("stats.fire_count"), col("stats.max_fire_probability"))
      .as[(String, String, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (v, rows) => v -> rows.map(r => r._2 -> Session(r._3, r._4, r._5)).toMap }
    val dets = spark.read.parquet(out.resolve("detect/detections").toString)
      .groupBy("video_id").count().as[(String, Long)].collect().toMap
    want.toSeq.map { case (v, sessions) =>
      val ok = comps.get(v).contains(sessions) && dets.get(v).contains(FramesPerVideo.toLong) &&
        manifest.get(v).exists(p => VideoSink.verify(Paths.get(p)))
      if (ok) 0L else FramesPerVideo.toLong
    }.sum
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val w = Files.walk(p); try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close() }

  def decoded(spark: SparkSession, backlog: String): Dataset[(String, Int, Array[Byte])] = {
    import spark.implicits._
    FrameSerde.decodeMsgpackDF(spark.read.parquet(backlog))
      .select("video_id", "frame_number", "frame_data").as[(String, Int, Array[Byte])]
  }

  /** One replay into `out`; returns (seconds, manifest). */
  def replay(spark: SparkSession, backlog: String, out: Path,
      mkWriter: (Path, String) => VideoSink.ContainerWriter): (Double, Map[String, String]) = {
    Util.deleteTree(out)
    val t0 = Util.nowS
    Trace.span("detect") { DetectMain.run(spark, backlog, out.resolve("detect").toString) }
    val manifest = Trace.span("sink") {
      Jobs.writeAnnotatedVideos(decoded(spark, backlog), out.resolve("videos").toString, mkWriter)
    }
    (Util.nowS - t0, manifest)
  }

  def run(a: Main.Args): Result = {
    val r = new Result
    var backlog: String = null
    var tasks: Option[TaskTotals] = None
    val (spark, _, setupTimes) = Util.setups(SessionSetups, "firebench-backfill") { s =>
      backlog = buildBacklog(s, a.seed, a.work)
    } { (s, round) =>
      if (a.trace && round == SessionSetups) { val t = new TaskTotals; s.sparkContext.addSparkListener(t); tasks = Some(t) }
    } { _ => () }
    r.e2e("setup_s", Util.median(setupTimes), "s")
    r.note("setup_samples_s", setupTimes.mkString(","))
    val want = expected(a.seed)
    val frames = Videos.toLong * FramesPerVideo
    val mkWriter: (Path, String) => VideoSink.ContainerWriter =
      if (a.trace) Trace.timedWriter else (p, c) => new VideoSink.StubContainerWriter(p, c)
    val out = a.work.resolve("replay")

    // untimed replays warm the JIT: replay time still falls over the
    // first seven or so
    Trace.enabled = false
    val w0 = Util.nowS
    for (_ <- 1 to WarmupReplays) replay(spark, backlog, out, mkWriter)
    val warmupS = Util.nowS - w0
    var failed = 0L
    var attempted = 0L

    Trace.enabled = a.trace
    Util.drain(spark)
    tasks.foreach(_.reset())
    val gc0 = Util.gcMs
    val times = mutable.ArrayBuffer.empty[Double]
    val m0 = Util.nowS
    while (times.size < 2 || Util.nowS - m0 < a.seconds) {
      val (dt, manifest) = replay(spark, backlog, out, mkWriter)
      times += dt
      failed += check(spark, out, manifest, want)
      attempted += frames
    }
    val wallS = Util.nowS - m0
    r.attempted = attempted
    r.failed = failed
    // every frame of one replay waits for that whole replay
    r.e2e("latency_ms", Util.median(times.toSeq) * 1e3, "ms")
    r.e2e("latency_p99_ms", Util.quantile(times.toSeq, 0.99) * 1e3, "ms")
    r.note("replays", times.map(t => f"$t%.3f").mkString(","))
    r.note("backfill_fps", frames / Util.median(times.toSeq))

    if (a.trace) layers(spark, a, r, backlog, out, tasks, times.toSeq, wallS, Util.gcMs - gc0, warmupS)
    r
  }

  private def layers(spark: SparkSession, a: Main.Args, r: Result, backlog: String, out: Path,
      tasks: Option[TaskTotals], times: Seq[Double], wallS: Double, gcMs: Long,
      warmupS: Double): Unit = {
    import spark.implicits._
    Util.drain(spark)
    val n = times.size.toDouble
    r.layer("sink.append_ms", Trace.count("sink.append_ns") / 1e6 / n, "ms")
    r.layer("sink.finalize_ms", Trace.count("sink.finalize_ns") / 1e6 / n, "ms")
    r.layer("sink.bytes_written", Trace.count("sink.bytes_written") / n, "bytes")
    r.layer("sink.videos", Trace.count("sink.videos") / n, "count")
    Util.jvmLayers(r, spark, tasks, wallS, gcMs, warmupS, n)
    tasks.foreach { t =>
      r.layer("scan.bytes_read", t("input_bytes") / n, "bytes")
      r.layer("jobs.per_replay", t("jobs") / n, "count")
    }
    // the remaining layers are timed in passes of their own
    val raw = spark.read.parquet(backlog)
    def frames = FrameSerde.decodeMsgpackDF(raw)
      .select(col("video_id"), col("frame_number"), unix_micros(col("timestamp")).as("timestamp_us"))
      .as[VideoSessionProcessor.FrameIn]
    // Catalyst: build and plan what one replay runs
    val planS = Util.median((1 to 3).map { _ =>
      Trace.span("plan") {
        val t0 = Util.nowS
        val split = Jobs.split(VideoSessionProcessor.processBatch(frames).toDF())
        Seq(split.detections, split.completions, decoded(spark, backlog).toDF())
          .foreach(_.queryExecution.executedPlan)
        Util.nowS - t0
      }
    })
    r.layer("plan.s_total", planS, "s")
    r.layer("exec.s_total", Util.median(times) - planS, "s")
    r.layer("serde.bytes_decoded", raw.select(sum(length(col("value")))).as[Long].head().toDouble, "bytes")
    def noop(ds: Dataset[_]): Double = {
      val t0 = Util.nowS; ds.write.format("noop").mode("overwrite").save(); Util.nowS - t0
    }
    val model = new Trace.TimedBackend(FireModel.SyntheticFireModel())
    val calls0 = Trace.count("model.calls")
    val scored0 = Trace.count("model.frames_scored")
    val busy0 = Trace.totalSeconds("model")
    // decode-only and decode + processBatch passes, alternated three
    // times; medians, so JIT drift between the two does not read as cost
    val (decode, detect) = (1 to 3).map { _ =>
      (Trace.span("serde") { noop(FrameSerde.decodeMsgpackDF(raw)) },
        Trace.span("session") { noop(VideoSessionProcessor.processBatch(frames, model = model)) })
    }.unzip
    val decodeS = Util.median(decode)
    r.layer("serde.decode_s", decodeS, "s")
    r.layer("session.detect_s", Util.median(detect) - decodeS, "s")
    val calls = (Trace.count("model.calls") - calls0) / 3.0
    val scored = (Trace.count("model.frames_scored") - scored0) / 3.0
    r.layer("model.calls", calls, "count")
    r.layer("model.frames_scored", scored, "count")
    r.layer("model.frames_per_call", scored / math.max(calls, 1.0), "count")
    r.layer("model.busy_ms", (Trace.totalSeconds("model") - busy0) / 3.0 * 1e3, "ms")
    val comps = spark.read.parquet(out.resolve("detect/completions").toString)
    r.layer("session.completions_gap", (comps.count() - Videos).toDouble, "count")
    r.layer("session.completions_idle", 0.0, "count")
    // publish: write the replay's detection and completion rows again
    val dets = spark.read.parquet(out.resolve("detect/detections").toString).cache()
    val cmp = comps.cache()
    dets.count(); cmp.count()
    val pub = a.work.resolve("publish")
    val publishS = Trace.span("publish") {
      val t0 = Util.nowS
      dets.write.mode("overwrite").parquet(pub.resolve("detections").toString)
      cmp.write.mode("overwrite").parquet(pub.resolve("completions").toString)
      Util.nowS - t0
    }
    dets.unpersist(true); cmp.unpersist(true)
    r.layer("publish.s", publishS, "s")
    r.layer("publish.bytes_written", dirBytes(pub).toDouble, "bytes")
    Util.deleteTree(pub)

    // single-thread baseline: the same replay on local[1]
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    System.setProperty("spark.master", "local[1]")
    val one = Sessions.build("firebench-backfill-local1")
    one.conf.set("spark.sql.shuffle.partitions", "1")
    one.sparkContext.setLogLevel("ERROR")
    val (t1, _) = replay(one, backlog, out, (p, c) => new VideoSink.StubContainerWriter(p, c))
    System.clearProperty("spark.master")
    r.layer("cpu.parallel_efficiency", t1 / (a.cores * Util.median(times)), "ratio")
    r.note("local1_replay_s", t1)
  }
}
