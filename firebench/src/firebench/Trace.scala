package firebench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import graft.streaming.FireModel
import graft.streaming.VideoSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory spans and counters for the traced run.
  *
  * Every span is recorded from the benchmark's own code, around a call
  * into a public entry point of the program (or inside a wrapper the
  * program accepts as a parameter). Spark runs tasks in this JVM
  * (`local[n]`), so executor-side wrappers record into the same
  * process-wide store; their parent is the driver span open at the time.
  * Spans stay in memory and are written out once, when the run ends.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  @volatile var enabled: Boolean = false
  /** Driver span that executor-side spans attach to. */
  @volatile private var current: Long = 0L
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def add(name: String, n: Long): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def count(name: String): Long =
    Option(counters.get(name)).map(_.sum).getOrElse(0L)

  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), current, name, startNs, endNs))

  /** Time `body` as a span named `name`; nested calls become children. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = current
    current = id
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, System.nanoTime()))
      current = parent
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Mean self time of one span, per span name: its duration minus the
    * part of it that its children cover (children may overlap — tasks
    * run in parallel). A mean, so it does not grow with the number of
    * replays or passes a run fits in. */
  def selfSeconds: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a >= end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum / ss.size
    }
  }

  def totalSeconds(name: String): Double =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def write(path: Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.asJava)
  }

  /** `FireModel.Backend` wrapper: one span and two counters per call. */
  final class TimedBackend(inner: FireModel.Backend) extends FireModel.Backend {
    def name: String = inner.name
    def predictBatch(frames: Seq[(String, Int, Int, Int)]): Seq[FireModel.FramePrediction] = {
      val t0 = System.nanoTime()
      val out = inner.predictBatch(frames)
      record("model", t0, System.nanoTime())
      add("model.calls", 1)
      add("model.frames_scored", frames.size)
      out
    }
  }

  /** `VideoSink.ContainerWriter` wrapper: append and finalize time,
    * bytes of the finished container. */
  final class TimedWriter(path: Path, inner: VideoSink.ContainerWriter)
      extends VideoSink.ContainerWriter {
    def append(frame: Array[Byte]): Unit = {
      val t0 = System.nanoTime()
      inner.append(frame)
      add("sink.append_ns", System.nanoTime() - t0)
    }
    def framesWritten: Long = inner.framesWritten
    def close(): Unit = {
      val t0 = System.nanoTime()
      inner.close()
      add("sink.finalize_ns", System.nanoTime() - t0)
      add("sink.bytes_written", Files.size(path))
      add("sink.videos", 1)
    }
    def verify(p: Path): Boolean = {
      val t0 = System.nanoTime()
      try inner.verify(p) finally add("sink.finalize_ns", System.nanoTime() - t0)
    }
  }

  def timedWriter(p: Path, codec: String): VideoSink.ContainerWriter =
    new TimedWriter(p, new VideoSink.StubContainerWriter(p, codec))
}

/** Task metrics summed over every task that ends while registered. */
final class TaskTotals extends SparkListener {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit = m.computeIfAbsent(k, _ => new LongAdder).add(v)
  def apply(k: String): Long = Option(m.get(k)).map(_.sum).getOrElse(0L)
  def reset(): Unit = m.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { t =>
    add("cpu_ns", t.executorCpuTime)
    add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
    add("shuffle_fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
    add("spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
    add("input_bytes", t.inputMetrics.bytesRead)
  }
}

/** Keeps every progress event of every query. `recentProgress` holds
  * only the last 100, which empty triggers can fill. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq.sortBy(_.batchId)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
