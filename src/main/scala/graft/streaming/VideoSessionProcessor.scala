package graft.streaming

import java.sql.Timestamp

import graft.streaming.FireModel.Backend
import graft.streaming.Schemas._
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The per-video keyed state machine — the heart of the reference's
  * stream processor (SURVEY.md §2.1 A1–A6), as one pure transition
  * function behind two wirings: `processBatch` (secondary sort over a
  * bounded input) and `processStream` (`flatMapGroupsWithState`, the
  * one streaming wiring):
  *
  *  - A1 init-on-first-frame;
  *  - A2 running max(frame_number);
  *  - A3 gap-based session close: frame gap > `gapFrames` finalizes
  *    the session and re-inits (reference streams/stream.py:341-349,
  *    threshold 300);
  *  - A4 per-video stats (frames, fire frames, max probability —
  *    streams/stream.py:380-386);
  *  - A5 inference cadence: run the model every `inferEveryN`-th
  *    frame of a session, reuse the cached prediction between
  *    (streams/stream.py:366-378) — note the reference keeps this
  *    counter per *process*, which interleaves wrongly when one
  *    consumer handles several videos; per-key state fixes that;
  *  - A6 completion emit on close (streams/stream.py:210-282);
  *  - F4 GradCAM cadence: recompute on the 1st positive of a run,
  *    then every `gradcamEveryN`-th consecutive positive
  *    (streams/models/fire_detect_nn.py:134-153).
  *
  * Scale design: state is O(1) per video (running aggregates — no
  * frame buffering); the shuffle is one hash partition on video_id;
  * in streaming mode state lives in the state store (RocksDB at
  * scale) and idle videos close via processing-time timeout, exactly
  * replacing the reference's shutdown-drain path (A10).
  */
object VideoSessionProcessor {

  final case class Config(
      gapFrames: Int = 300,
      inferEveryN: Int = 4,
      gradcamEveryN: Int = 3,
      width: Int = 640,
      height: Int = 480,
      fps: Double = 30.0,
      idleTimeoutMs: Long = 30000L,
      // How long a closed-session marker outlives its idle-timeout
      // close. Within this horizon a resuming video continues the
      // session-id sequence (no collision with already-emitted
      // completion ids/filepaths); after it the key's state is
      // reclaimed — bounded state, not a forever-tombstone.
      markerTtlMs: Long = 600000L)

  /** Frames per `transition` call (= per predictBatch) in `processBatch`. */
  private val BatchFrames = 64
  private val BatchProcessingTs = new Timestamp(0L)

  /** Minimal frame input for the state machine (payload dropped after
    * decode/inference upstream). */
  final case class FrameIn(
      video_id: String, frame_number: Int, timestamp_us: Long)

  private def initState(sessionId: Long, cfg: Config, f: FrameIn): VideoState =
    VideoState(
      sessionId = sessionId, sessionIndex = 0L,
      lastFrameNumber = f.frame_number, maxFrameSeen = f.frame_number,
      frameCount = 0L, fireCount = 0L, maxFireProb = 0.0,
      consecutiveFire = 0L,
      lastProbability = 0.0, lastHasFire = false,
      meta = VideoMeta(cfg.fps, cfg.width, cfg.height, 0L),
      firstTimestampUs = f.timestamp_us, lastTimestampUs = f.timestamp_us)

  /** Idle-timeout close leaves this marker behind instead of deleting
    * the key outright: the next epoch's session id continues from it
    * (no (video_id, session_id) collision with an already-emitted
    * completion), and after `markerTtlMs` with no input the marker
    * expires entirely — bounded state, unlike a forever-tombstone. */
  def closedMarker(st: VideoState): VideoState =
    st.copy(frameCount = 0L, sessionIndex = 0L, fireCount = 0L,
      maxFireProb = 0.0, consecutiveFire = 0L,
      lastProbability = 0.0, lastHasFire = false)

  def completionOf(videoId: String, st: VideoState): CompletionEvent =
    CompletionEvent(
      video_id = videoId,
      local_filepath = s"/videos/${videoId}_s${st.sessionId}.mp4",
      timestamp = new Timestamp(st.lastTimestampUs / 1000),
      stats = VideoStats(st.frameCount, st.fireCount, st.maxFireProb),
      video_metadata = st.meta.copy(frame_count = st.frameCount))

  /** Process one key's frames (sorted by frame_number) starting from
    * `state`; returns the new state plus emitted events. Pure — no
    * Spark types — so unit tests and both wirings share it. */
  def transition(
      videoId: String,
      state: Option[VideoState],
      frames: Seq[FrameIn],
      cfg: Config,
      model: Backend,
      processingTs: Timestamp): (Option[VideoState], Seq[VideoEvent]) = {

    if (frames.isEmpty) return (state, Seq.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[VideoEvent]
    var st = state match {
      // closed marker from an idle-timeout (persisted frameCount is
      // never 0 for an open session): the next session CONTINUES the
      // id sequence instead of reusing already-emitted ids
      case Some(s) if s.frameCount == 0L => initState(s.sessionId + 1, cfg, frames.head)
      case Some(s) => s
      case None => initState(1L, cfg, frames.head)
    }

    // A5 batching pre-pass: which frames run inference depends only on
    // the gap/session structure (never on predictions), so simulate
    // the sessionIndex walk, collect every cadence-selected frame, and
    // score them in ONE Backend.predictBatch call — the batched
    // forward-pass win the Backend contract exists for; a per-frame
    // call could never amortize model dispatch. The streaming wiring
    // hands transition the whole per-trigger group slice, so the batch
    // here is the trigger's worth of selected frames.
    val preds = {
      val sel = Seq.newBuilder[(String, Int, Int, Int)]
      var simCount = st.frameCount
      var simLast = st.lastFrameNumber
      var simIdx = st.sessionIndex
      frames.foreach { f =>
        if (simCount > 0 && f.frame_number - simLast > cfg.gapFrames) {
          simIdx = 0L; simCount = 0L
        }
        if (simIdx % cfg.inferEveryN == 0)
          sel += ((videoId, f.frame_number, cfg.width, cfg.height))
        simIdx += 1; simCount += 1; simLast = f.frame_number
      }
      val s = sel.result()
      if (s.isEmpty) Iterator.empty else model.predictBatch(s).iterator
    }

    frames.foreach { f =>
      // A3: gap-based session close + re-init. Parity note: the gap is
      // measured against the LAST ARRIVED frame, exactly like the
      // reference (stream.py:343-345) — a producer that restarts
      // numbering mid-session rewinds lastFrameNumber and the next
      // in-order frame can close the session; maxFrameSeen tracks the
      // high-water mark for stats but deliberately does not drive the
      // gap check, matching reference behavior.
      if (st.frameCount > 0 && f.frame_number - st.lastFrameNumber > cfg.gapFrames) {
        out += VideoEvent("completion", None, Some(completionOf(videoId, st)))
        st = initState(st.sessionId + 1, cfg, f)
      }
      // A5: inference cadence — session position 0, N, 2N, … consumes
      // the next batched prediction; frames between reuse the cache.
      val runInference = st.sessionIndex % cfg.inferEveryN == 0
      val (hasFire, prob, detections) =
        if (runInference) {
          val p = preds.next()
          (p.hasFire, p.fireProbability, p.detections)
        } else (
          st.lastHasFire, st.lastProbability,
          // Cache-reused frames re-synthesize the full-frame box from
          // the cached probability — state stays O(1)/key (no box
          // buffering); real backend boxes ride the inference frames.
          if (st.lastHasFire)
            Seq(Detection(Seq(0, 0, cfg.width, cfg.height), st.lastProbability, "fire", 1))
          else Seq.empty)
      // F4: GradCAM cadence over consecutive positives — the reference
      // recomputes when (consecutive-1) % N == 0, i.e. positives
      // 1, N+1, 2N+1 of a run (fire_detect_nn.py:134-153). Deliberate
      // divergence: `consecutive` here counts EVERY positive frame,
      // including ones whose prediction was cache-reused between
      // inference runs, whereas the reference increments only on
      // frames where detect() actually ran — so with inferEveryN=4,
      // gradcamEveryN=3 the recompute positions can differ from the
      // reference's. Counting all positives is internally consistent
      // with the SQL oracle (gaps-and-islands run length) and treats
      // a reused positive as part of the same fire run, which is the
      // semantics the completion stats already use.
      val consecutive = if (hasFire) st.consecutiveFire + 1 else 0L
      val heatmap = hasFire && (consecutive - 1) % cfg.gradcamEveryN == 0

      out += VideoEvent("detection", Some(DetectionResult(
        video_id = videoId,
        frame_number = f.frame_number,
        timestamp = new Timestamp(f.timestamp_us / 1000),
        processing_timestamp = processingTs,
        has_fire = hasFire,
        fire_probability = prob,
        detections = detections,
        frame_metadata = FrameMeta(cfg.width, cfg.height, cfg.fps),
        session_id = st.sessionId,
        session_index = st.sessionIndex,
        inference_ran = runInference,
        heatmap_computed = heatmap)), None)

      st = st.copy(
        sessionIndex = st.sessionIndex + 1,
        lastFrameNumber = f.frame_number,
        maxFrameSeen = math.max(st.maxFrameSeen, f.frame_number),
        frameCount = st.frameCount + 1,
        fireCount = st.fireCount + (if (hasFire) 1 else 0),
        maxFireProb = math.max(st.maxFireProb, prob),
        consecutiveFire = consecutive,
        lastProbability = prob,
        lastHasFire = hasFire,
        lastTimestampUs = f.timestamp_us)
    }
    (Some(st), out.toSeq)
  }

  /** Batch wiring: secondary-sort shape — hash-partition on video_id,
    * sort WITHIN partitions by (video_id, frame_number), then stream
    * each partition through the same pure `transition` in bounded
    * same-key runs of `BatchFrames`. Every session closes at
    * end-of-key (the batch analog of the drain path A10).
    *
    * Why runs, not single frames: `transition`'s A5 pre-pass scores
    * all cadence-selected frames of its input slice in ONE
    * `Backend.predictBatch` call — the forward-pass amortization a
    * real model needs most on exactly this backfill path. Feeding it
    * one frame at a time would cap every inference batch at 1; runs
    * of `BatchFrames` restore batching while keeping task memory
    * bounded (≤ BatchFrames frames buffered, state still O(1)/key).
    * The streaming wiring batches per trigger slice the same way.
    * Run boundaries cannot change the output: folding `transition`
    * over any slicing of a key's frames gives the same events and
    * final state (TransitionSpec checks this). Detections carry
    * `BatchProcessingTs` — a batch run has no trigger instant.
    *
    * Why not groupByKey+flatMapGroups: that wiring must buffer a whole
    * key's frames in task memory to sort them (a 10M-frame video = a
    * per-task memory spike). Here the sort runs in Spark's spillable
    * shuffle sorter — the iterator never materializes a group. */
  def processBatch(
      frames: Dataset[FrameIn],
      cfg: Config = Config(),
      model: Backend = FireModel.SyntheticFireModel()): Dataset[VideoEvent] = {
    implicit val evEnc = Encoders.product[VideoEvent]
    frames
      .repartition(org.apache.spark.sql.functions.col("video_id"))
      .sortWithinPartitions("video_id", "frame_number", "timestamp_us")
      .mapPartitions { it: Iterator[FrameIn] =>
        new Iterator[VideoEvent] {
          private val in = it.buffered
          private var out: Iterator[VideoEvent] = Iterator.empty
          private var curVid: String = null
          private var st: Option[VideoState] = None

          private def closeCurrent(): Iterator[VideoEvent] = {
            val fin = st.map(s =>
              VideoEvent("completion", None, Some(completionOf(curVid, s)))).iterator
            st = None
            fin
          }

          private def advance(): Unit =
            while (!out.hasNext && (in.hasNext || st.isDefined)) {
              if (in.hasNext && (curVid == null || in.head.video_id == curVid)) {
                curVid = in.head.video_id
                // bounded same-key run: one transition (= one
                // predictBatch) per ≤ BatchFrames frames
                val run = scala.collection.mutable.ArrayBuffer.empty[FrameIn]
                while (run.size < BatchFrames && in.hasNext &&
                    in.head.video_id == curVid)
                  run += in.next()
                val (ns, events) =
                  transition(curVid, st, run.toSeq, cfg, model, BatchProcessingTs)
                st = ns
                out = events.iterator
              } else { // key change or end of partition: drain the session
                out = closeCurrent()
                if (in.hasNext) curVid = in.head.video_id
              }
            }

          def hasNext: Boolean = { advance(); out.hasNext }
          def next(): VideoEvent = { advance(); out.next() }
        }
      }
  }

  /** Streaming wiring: state persists across micro-batches; idle keys
    * close via processing-time timeout (replaces the reference's
    * SIGTERM drain + 300-gap close for the stream case). */
  def processStream(
      frames: Dataset[FrameIn],
      cfg: Config = Config(),
      model: Backend = FireModel.SyntheticFireModel()): Dataset[VideoEvent] = {
    implicit val evEnc = Encoders.product[VideoEvent]
    import frames.sparkSession.implicits._
    frames.groupByKey(_.video_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (vid: String, it: Iterator[FrameIn], gs: GroupState[VideoState]) =>
          if (gs.hasTimedOut) {
            gs.getOption match {
              case Some(s) if s.frameCount > 0L =>
                // close the open session; keep a marker for the TTL
                // horizon so a resuming video continues the id sequence
                gs.update(closedMarker(s))
                gs.setTimeoutDuration(cfg.markerTtlMs)
                Iterator.single(
                  VideoEvent("completion", None, Some(completionOf(vid, s))))
              case _ => // marker expired with no new input: forget the key
                gs.remove()
                Iterator.empty
            }
          } else {
            val sorted = it.toSeq.sortBy(f => (f.frame_number, f.timestamp_us))
            // batch-stable processing time (same instant for every key
            // in the micro-batch, stable across task retries) — the
            // wall clock would make replayed output differ per attempt
            val (st, events) = transition(
              vid, gs.getOption, sorted, cfg, model,
              new Timestamp(gs.getCurrentProcessingTimeMs()))
            st.foreach(gs.update)
            gs.setTimeoutDuration(cfg.idleTimeoutMs)
            events.iterator
          }
      }
  }
}
