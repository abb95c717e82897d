package graft.streaming

import java.nio.file.{Path, Paths}

import graft.streaming.FireModel.Backend
import graft.streaming.Schemas._
import graft.streaming.VideoSessionProcessor.{Config, FrameIn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end jobs (SURVEY.md §3): the Spark shapes of the
  * reference's three entry points. Source-agnostic: the same
  * transforms run over a Kafka stream on a cluster, a MemoryStream in
  * tests, or a parquet batch — only the reader differs.
  */
object Jobs {

  final case class DetectOutputs(detections: DataFrame, completions: DataFrame)

  /** §3.2 core: frames → keyed state machine → (detections,
    * completions) over `VideoSessionProcessor.processBatch`. A stream
    * runs the same state machine through `processStream` (the one
    * streaming wiring) and splits its events with [[split]]. */
  def detect(
      frames: Dataset[FrameIn],
      cfg: Config = Config(),
      model: Backend = FireModel.SyntheticFireModel(),
      observation: Option[org.apache.spark.sql.Observation] = None): DetectOutputs = {
    val events = VideoSessionProcessor.processBatch(frames, cfg, model)
    // A7 run-level counters (reference's message/detection/fire
    // totals) ride the plan as an Observation — collected by the
    // executors during the normal pass, no extra action.
    val observed = observation.fold(events.toDF()) { obs =>
      events.toDF().observe(obs,
        count(when(col("kind") === "detection", 1)).as("n_detections"),
        count(when(col("detection.has_fire"), 1)).as("n_fire"),
        count(when(col("kind") === "completion", 1)).as("n_completions"))
    }
    split(observed)
  }

  def split(events: DataFrame): DetectOutputs =
    DetectOutputs(
      detections = events.where(col("kind") === "detection").select("detection.*"),
      completions = events.where(col("kind") === "completion").select("completion.*"))

  /** §3.1 ingest: split a binary source into keyed frame messages.
    * Real video decode needs a codec lib; the decoder seam takes
    * bytes → frame payloads (stubbed deterministically in tests, a
    * JavaCV grabber on a cluster). Emits the msgpack wire format. */
  def ingest(
      files: Dataset[(String, Array[Byte])], // (video_id, file bytes)
      frameSplitter: Array[Byte] => Seq[Array[Byte]],
      fps: Double = 30.0,
      width: Int = 640,
      height: Int = 480,
      extractionInterval: Int = 1): Dataset[(String, Array[Byte])] = {
    import files.sparkSession.implicits._
    files.flatMap { case (videoId, bytes) =>
      frameSplitter(bytes).zipWithIndex
        .filter { case (_, i) => i % extractionInterval == 0 } // S2 sampling
        .map { case (payload, i) =>
          val msg = FrameSerde.encodeMsgpack(FrameMessage(
            videoId, i, new java.sql.Timestamp(0L), fps, payload, width, height))
          (videoId, msg)
        }
    }
  }

  /** MP4 sink stage (§3.2 step 6): partition-local writer pool over
    * annotated frames; finalizes every video at partition end (batch)
    * — in streaming this runs per micro-batch from foreachBatch with
    * finalize driven by completion rows. Frames are repartitioned by
    * video_id here so one video's frames land in one pool. Returns the
    * publish manifest (video_id → finalized path) — one row per video,
    * the driver-side handle the reference stamps into its completion
    * message before publish (streams/stream.py output_path). */
  def writeAnnotatedVideos(
      annotated: Dataset[(String, Int, Array[Byte])], // (video_id, frame_number, payload)
      outDir: String,
      // the muxer seam, surfaced at the job level: pass
      // `(p, _) => new RuntimeAdapters.JavaCvContainerWriter(...)` on a
      // jar-equipped cluster without re-implementing the wiring
      mkWriter: (java.nio.file.Path, String) => VideoSink.ContainerWriter =
        (p, codec) => new VideoSink.StubContainerWriter(p, codec)): Map[String, String] = {
    import annotated.sparkSession.implicits._
    annotated
      .toDF("vid", "fn", "payload") // normalize names (tuple vs named sources)
      .as[(String, Int, Array[Byte])]
      .repartition(col("vid")) // partition affinity by video_id
      .sortWithinPartitions(col("vid"), col("fn"))
      .mapPartitions { it =>
        val pool = new VideoSink.WriterPool(Paths.get(outDir), mkWriter)
        val vids = scala.collection.mutable.LinkedHashSet.empty[String]
        it.foreach { case (vid, _, payload) =>
          vids += vid; pool.append(vid, payload)
        }
        vids.iterator.map(v => v -> pool.finalizeVideo(v).get.toString)
      }
      .collect().toMap // one (video_id, path) pair per video — bounded
  }

  /** Stamp the sink's real output paths into completion events before
    * publish — the production step the reference performs by mutating
    * the completion message (stream.py); events for videos the sink
    * did not write pass through unchanged. */
  def stampFilepaths(
      completions: Seq[CompletionEvent],
      manifest: Map[String, String]): Seq[CompletionEvent] =
    completions.map(c =>
      manifest.get(c.video_id).fold(c)(p => c.copy(local_filepath = p)))

  /** §3.3 uploader: completion events → object-storage copy. Returns
    * (video_id, destination) pairs; destUri may be file:// locally or
    * s3a:// on a cluster — same code path. */
  def uploadCompletions(
      spark: SparkSession,
      completions: Seq[CompletionEvent],
      localDir: Path,
      destBase: String): Seq[(String, String)] =
    completions.flatMap { c =>
      // Destination name mirrors the STAMPED local filename, not a
      // recomputed canonical one: a video spanning micro-batches gets
      // suffix-bumped sink outputs (v1_with_heatmaps_1.mp4, ...), and
      // recomputing the name here would upload every segment onto the
      // same object, keeping only the last. Completions that carry no
      // stamped file on disk (stampFilepaths passes manifest-less
      // events through with their default path — e.g. a gap-close
      // whose frames went through an earlier batch's sink pool) are
      // skipped, not crashed on: one absent file must not fail the
      // whole upload batch.
      val fname = Paths.get(c.local_filepath).getFileName
      val local = localDir.resolve(fname)
      if (!java.nio.file.Files.exists(local)) None
      else Some((c.video_id, VideoSink.uploadTo(spark, local, s"$destBase/videos/$fname")))
    }
}
