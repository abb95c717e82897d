package firebench

import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import graft.streaming.{FireModel, FrameSerde, VideoSessionProcessor}
import graft.streaming.Schemas.FrameMessage
import graft.streaming.VideoSessionProcessor.{Config, FrameIn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** `live_cameras`: open-loop camera traffic through the streaming path.
  *
  * 256 cameras at 8 frames/s each; the driver thread, as generator,
  * hands the frames due in each 20 ms tick to a `MemoryStream` (the
  * stand-in for the `video-frames` topic) on schedule, however far the
  * engine, on its own threads, falls behind. A frame's creation time is its tick's due time, and its
  * latency runs from there to the end of the micro-batch that consumed
  * it (progress `timestamp` + `triggerExecution`, from a listener).
  *
  * Every 200 frames each camera's frame numbers jump by 401 (> the
  * 300-frame gap), at a per-camera phase drawn from the seed, so
  * gap-closes happen; every 16th camera stops at a seeded frame index
  * early enough that its 5 s idle-timeout close lands inside the run.
  */
object LiveCameras {
  val Cameras = 256
  val Fps = 8
  val TickMs = 20
  val PayloadBytes = 256
  val WarmupS = 6
  /** A fixed trigger interval, as a latency-bound deployment sets one.
    * Back-to-back triggers (the default) let batch size and duration
    * chase each other for the whole run: p50 read 0.97-2.0 s across
    * seeds. 1 s triggers ran at the edge of capacity on a loaded 4-core
    * host (a batch of 2,048 frames took 0.65-1.1 s) and p50 spread 40 %;
    * 2 s leaves headroom. */
  val TriggerMs = 2000L
  /** Set-ups per run; each starts a stream and waits for a batch. */
  val StreamSetups = 3
  val cfg: Config = Config(idleTimeoutMs = 5000L)
  private val baseMs = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  /** Frames due per tick, 2,048 frames/s / 50 ticks/s = 40.96. */
  private def tickOf(g: Long): Int = (g * 25 / 1024).toInt

  final case class Plan(
      ticks: Array[Array[Array[Byte]]],     // pre-encoded records per tick
      frames: Seq[FrameIn],                 // every camera frame, for the checks
      gapClosed: Set[(String, Long)],       // (video, session) closed by a gap
      idleClosed: Set[(String, Long)],      // last session of a stopped camera
      lastStopTick: Int)                    // tick of the last stopped camera's last frame

  def vid(c: Int): String = f"cam$c%03d"

  /** The whole schedule, a pure function of the seed. */
  def plan(seed: Long, totalTicks: Int): Plan = {
    val rnd = new SplittableRandom(seed)
    val phase = Array.fill(Cameras)(rnd.nextInt(200))
    val framesPerCam = totalTicks * TickMs * Fps / 1000
    // stopped cameras go quiet between 1/4 and 1/2 of the schedule
    val stopAt = Array.tabulate(Cameras)(c =>
      if (c % 16 == 0) framesPerCam / 4 + rnd.nextInt(framesPerCam / 4) else Int.MaxValue)
    val ticks = Array.fill(totalTicks)(mutable.ArrayBuffer.empty[Array[Byte]])
    val frames = mutable.ArrayBuffer.empty[FrameIn]
    val sessions = Array.fill(Cameras)(1L)
    val gap = mutable.Set.empty[(String, Long)]
    var lastStopTick = 0
    var g = 0L
    while (tickOf(g) < totalTicks) {
      val c = (g % Cameras).toInt
      val k = (g / Cameras).toInt
      if (k < stopAt(c)) {
        val t = tickOf(g)
        val fn = k + 401 * ((k + phase(c)) / 200)
        if (k > 0 && (k + phase(c)) % 200 == 0) { gap += ((vid(c), sessions(c))); sessions(c) += 1 }
        val ts = baseMs + (t + 1L) * TickMs
        val payload = new Array[Byte](PayloadBytes)
        new SplittableRandom(seed * 1000003L + g).nextBytes(payload)
        ticks(t) += FrameSerde.encodeMsgpack(
          FrameMessage(vid(c), fn, new Timestamp(ts), Fps.toDouble, payload, 640, 480))
        frames += FrameIn(vid(c), fn, ts * 1000L)
        if (stopAt(c) != Int.MaxValue) lastStopTick = math.max(lastStopTick, t)
      }
      g += 1
    }
    val idle = (0 until Cameras).filter(stopAt(_) != Int.MaxValue).map(c => (vid(c), sessions(c))).toSet
    Plan(ticks.map(_.toArray), frames.toSeq, gap.toSet, idle, lastStopTick)
  }

  /** A started stream plus what the checks and metrics read back. */
  final class Stream(val input: MemoryStream[Array[Byte]], val query: StreamingQuery,
      val sink: String, val log: ProgressLog) {
    /** Waits until a committed batch has consumed `offset`.
      * `processAllAvailable()` never returns here: a processing-time
      * timeout makes the engine run a no-data batch on every trigger,
      * so the query is never idle. */
    def drain(offset: Long): Unit =
      while (!log.all.exists(p => p.id == query.id && p.numInputRows > 0 &&
          p.sources.head.endOffset.trim.toLong >= offset)) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(2)
      }
  }

  def start(spark: SparkSession, a: Main.Args, round: Int, model: FireModel.Backend,
      log: ProgressLog): Stream = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val frames = FrameSerde.decodeMsgpackDF(input.toDF())
      .select(col("video_id"), col("frame_number"), unix_micros(col("timestamp")).as("timestamp_us"))
      .as[FrameIn]
    val sink = a.work.resolve(s"live-sink-$round").toString
    val query = VideoSessionProcessor.processStream(frames, cfg, model).writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", a.work.resolve(s"live-ckpt-$round").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    // primer: one tick of frames on keys the checks ignore; set-up ends
    // when the batch holding it has committed
    val primer = input.addData((0 until 41).map(i => FrameSerde.encodeMsgpack(FrameMessage(
      s"primer$i", 0, new Timestamp(baseMs), Fps.toDouble, new Array[Byte](PayloadBytes), 640, 480))))
    val s = new Stream(input, query, sink, log)
    s.drain(primer.asInstanceOf[LongOffset].offset)
    s
  }

  def run(a: Main.Args): Result = {
    val r = new Result
    val totalTicks = (WarmupS + a.seconds) * 1000 / TickMs
    var p: Plan = null
    val log = new ProgressLog
    val model: FireModel.Backend =
      if (a.trace) new Trace.TimedBackend(FireModel.SyntheticFireModel()) else FireModel.SyntheticFireModel()
    var tasks: Option[TaskTotals] = None
    val (spark, s, setupTimes) = Util.setups(StreamSetups, "firebench-live") { _ =>
      p = plan(a.seed, totalTicks)
    } { (spark, round) =>
      spark.streams.addListener(log)
      if (a.trace && round == StreamSetups) {
        val t = new TaskTotals; spark.sparkContext.addSparkListener(t); tasks = Some(t)
      }
      start(spark, a, round, model, log)
    } { st => st.query.stop() }
    r.e2e("setup_s", Util.median(setupTimes), "s")
    r.note("setup_samples_s", setupTimes.mkString(","))

    // ---- open-loop generator ----
    val offsets = new Array[Long](totalTicks)
    val sentAtMs = new Array[Double](totalTicks)
    Util.drain(spark)
    tasks.foreach(_.reset())
    val gc0 = Util.gcMs
    val anchorMs = System.currentTimeMillis() + 50
    val anchorNs = System.nanoTime() + 50L * 1000000L
    def sleepUntilNs(due: Long): Unit = {
      var now = System.nanoTime()
      while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
    }
    for (t <- 0 until totalTicks) {
      sleepUntilNs(anchorNs + (t + 1L) * TickMs * 1000000L)
      offsets(t) = s.input.addData(p.ticks(t).toSeq).asInstanceOf[LongOffset].offset
      sentAtMs(t) = anchorMs + (System.nanoTime() - anchorNs) / 1e6
    }
    s.drain(offsets.last)
    // short runs end before the stopped cameras' idle timeouts fire
    sleepUntilNs(anchorNs + ((p.lastStopTick + 1L) * TickMs + cfg.idleTimeoutMs + 2 * TriggerMs) * 1000000L)
    s.query.stop()
    val wallS = totalTicks * TickMs / 1000.0
    Util.drain(spark)
    val gcMs = Util.gcMs - gc0

    // ---- latency: due time → end of the batch that consumed the tick ----
    val batches = log.all.filter(b => b.id == s.query.id && b.numInputRows > 0)
    def endOffset(b: StreamingQueryProgress): Long = b.sources.head.endOffset.trim.toLong
    def batchEndMs(b: StreamingQueryProgress): Double =
      Instant.parse(b.timestamp).toEpochMilli + b.durationMs.get("triggerExecution").doubleValue
    val ends = batches.map(endOffset).toArray
    val firstMeasured = WarmupS * 1000 / TickMs
    val lat = mutable.ArrayBuffer.empty[Double]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    var bi = 0
    val measuredBatches = mutable.LinkedHashSet.empty[Int]
    for (t <- firstMeasured until totalTicks) {
      while (bi < ends.length && ends(bi) < offsets(t)) bi += 1
      require(bi < ends.length, s"tick $t (offset ${offsets(t)}) never reached a batch")
      measuredBatches += bi
      val l = batchEndMs(batches(bi)) - (anchorMs + (t + 1.0) * TickMs)
      p.ticks(t).foreach(_ => lat += l)
      lateMs += sentAtMs(t) - (anchorMs + (t + 1.0) * TickMs)
    }
    r.e2e("latency_ms", Util.quantile(lat.toSeq, 0.5), "ms")
    r.e2e("latency_p99_ms", Util.quantile(lat.toSeq, 0.99), "ms")
    r.note("latency_samples", lat.size)
    r.note("batches_measured", measuredBatches.size)

    // ---- checks ----
    check(spark, p, s.sink, r)

    // ---- per-layer ----
    if (a.trace) {
      val mb = measuredBatches.toSeq.map(batches(_))
      def dur(k: String) = mb.map(b => Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      r.layer("microbatch.batches", mb.size, "count")
      r.layer("microbatch.trigger_ms_p50", Util.median(dur("triggerExecution")), "ms")
      r.layer("microbatch.add_batch_ms_p50", Util.median(dur("addBatch")), "ms")
      r.layer("microbatch.query_planning_ms_p50", Util.median(dur("queryPlanning")), "ms")
      r.layer("microbatch.wal_commit_ms_p50", Util.median(dur("walCommit")), "ms")
      r.layer("microbatch.frames_per_batch_p50", Util.median(mb.map(_.numInputRows.toDouble)), "count")
      // frames offered by the time a batch ended but past its end offset
      val lag = mb.map { b =>
        val e = batchEndMs(b); val end = endOffset(b)
        (0 until totalTicks).filter(t => sentAtMs(t) <= e && offsets(t) > end).map(p.ticks(_).length).sum.toDouble
      }
      r.layer("source.lag_frames_max", lag.max, "count")
      r.layer("gen.late_ms_max", lateMs.max, "ms")
      val ops = mb.flatMap(_.stateOperators.headOption)
      r.layer("state.commit_ms_p50", Util.median(ops.map(_.commitTimeMs.toDouble)), "ms")
      r.layer("state.rows_total", ops.last.numRowsTotal.toDouble, "count")
      r.layer("state.memory_bytes", ops.map(_.memoryUsedBytes.toDouble).max, "bytes")
      r.layer("state.rows_removed", ops.map(_.numRowsRemoved.toDouble).sum, "count")
      modelLayers(r)
      Util.jvmLayers(r, spark, tasks, wallS, gcMs, WarmupS.toDouble, 1.0)
    }
    r
  }

  def modelLayers(r: Result): Unit = {
    val calls = Trace.count("model.calls").toDouble
    r.layer("model.calls", calls, "count")
    r.layer("model.frames_scored", Trace.count("model.frames_scored").toDouble, "count")
    r.layer("model.frames_per_call", Trace.count("model.frames_scored") / math.max(calls, 1.0), "count")
    r.layer("model.busy_ms", Trace.totalSeconds("model") * 1e3, "ms")
  }

  /** Stream detections must equal `processBatch` over the same frames
    * (bar `processing_timestamp`); stream completions must be exactly
    * the batch completions of the sessions the schedule closes. */
  def check(spark: SparkSession, p: Plan, sink: String, r: Result): Unit = {
    import spark.implicits._
    val out = spark.read.parquet(sink).where(col("kind") === "completion" ||
      col("detection.video_id").startsWith("cam"))
    val expected = VideoSessionProcessor.processBatch(spark.createDataset(p.frames), cfg).toDF()
    def det(df: DataFrame) = df.where(col("kind") === "detection")
      .select("detection.*").drop("processing_timestamp")
    val sid = regexp_extract(col("local_filepath"), "_s(\\d+)\\.mp4$", 1).cast("long")
    def comp(df: DataFrame) = df.where(col("kind") === "completion").select("completion.*")
      .where(col("video_id").startsWith("cam")).withColumn("sid", sid)
    val closed = (p.gapClosed ++ p.idleClosed).toSeq.toDF("video_id", "sid")
    val (gotDet, expDet) = (det(out).cache(), det(expected).cache())
    val gotComp = comp(out).cache()
    val expComp = comp(expected).join(closed, Seq("video_id", "sid"))
      .select(gotComp.columns.toIndexedSeq.map(col): _*).cache()
    val badDet = math.max(expDet.exceptAll(gotDet).count(), gotDet.exceptAll(expDet).count())
    val missing = expComp.exceptAll(gotComp)
    val badComp = missing.agg(coalesce(sum(col("stats.total_frames")), lit(0L))).as[Long].head() +
      gotComp.exceptAll(expComp).count()
    val got = gotComp.select("video_id", "sid").as[(String, Long)].collect().toSet
    r.attempted = p.frames.size
    r.failed = badDet + badComp
    r.note("completions_gap", (got & p.gapClosed).size)
    r.note("completions_idle", (got & p.idleClosed).size)
    r.layer("session.completions_gap", (got & p.gapClosed).size, "count")
    r.layer("session.completions_idle", (got & p.idleClosed).size, "count")
    if (r.failed > 0)
      System.err.println(s"[live] check failed: detections off by $badDet, completions off by $badComp")
    Seq(gotDet, expDet, gotComp, expComp).foreach(_.unpersist(true))
  }
}
