package firebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Sessions
import org.apache.spark.FirebenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure for `--seconds`, check
  * the outputs, write a result file. `run.py` starts this class; see
  * the README next to it for the workloads and metrics.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE`. `--work` is this run's scratch directory
  * (deleted by the caller).
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path) {
    def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Trace.enabled = a.trace
    Files.createDirectories(a.work)
    val r = a.workload match {
      case "live_cameras" => LiveCameras.run(a)
      case "backfill_replay" => BackfillReplay.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) {
      Trace.write(a.work.resolve("spans.jsonl"))
      Trace.selfSeconds.toSeq.sortBy(_._1).foreach { case (k, v) => r.layer(s"self_s.$k", v, "s") }
    }
    r.note("bytes_written", Util.procIo("write_bytes"))
    Files.writeString(a.out, r.json)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** What one run hands back to `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted: Long = 0L
  var failed: Long = 0L

  def e2e(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit =
    if (Trace.enabled) metrics(name) = (v, unit)
  def note(k: String, v: Any): Unit = info(k) = v.toString

  def json: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) => s"${q(k)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}" }
    val in = info.map { case (k, v) => s"${q(k)}: ${q(v)}" }
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}, "info": {${in.mkString(", ")}}}"""
  }
}

object Util {
  def nowS: Double = System.nanoTime() / 1e9


  /** Linear-interpolated quantile (the usual definition, as numpy's). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** A counter of this process from `/proc/self/io`, e.g. the bytes it
    * has caused to be written to storage. */
  def procIo(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally w.close()
  }

  def drain(spark: SparkSession): Unit = FirebenchBus.drain(spark.sparkContext)

  /** Builds a session `rounds` times and reports each set-up time.
    * Round 1 is timed from JVM start; later rounds from a stopped
    * session. `inputs` runs once, untimed, after the first session is
    * up; `start` is the workload's own timed start (for a stream: start
    * plus first committed batch). Every round but the last is torn
    * down again. Returns the last session, its started state and the
    * set-up times in seconds. */
  def setups[S](rounds: Int, app: String)(inputs: SparkSession => Unit)(
      start: (SparkSession, Int) => S)(stop: S => Unit): (SparkSession, S, Seq[Double]) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, S) = null
    for (i <- 1 to rounds) {
      val t0 = if (i == 1) jvmStartMs / 1e3 else System.currentTimeMillis() / 1e3
      val spark = Sessions.build(app)
      spark.sparkContext.setLogLevel("ERROR")
      val built = System.currentTimeMillis() / 1e3
      if (i == 1) inputs(spark)
      val t1 = nowS
      val s = start(spark, i)
      times += (built - t0) + (nowS - t1)
      if (i < rounds) {
        stop(s)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } else last = (spark, s)
    }
    (last._1, last._2, times.toSeq)
  }

  /** Host and JVM figures every traced run reports. Task totals cover
    * the measured window and are divided by `units`, the number of
    * replays in it (1 for a stream). */
  def jvmLayers(r: Result, spark: SparkSession, tasks: Option[TaskTotals],
      wallS: Double, gcMs: Long, warmupS: Double, units: Double): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    tasks.foreach { t =>
      r.layer("cpu.busy_ratio", t("cpu_ns") / 1e9 / (wallS * cores), "ratio")
      r.layer("shuffle.bytes_written", t("shuffle_write_bytes") / units, "bytes")
      r.layer("shuffle.fetch_wait_ms", t("shuffle_fetch_wait_ms") / units, "ms")
      r.layer("spill.bytes", t("spill_bytes") / units, "bytes")
    }
    r.layer("jvm.gc_ms", gcMs.toDouble, "ms")
    r.layer("jvm.peak_rss_mb", peakRssMb, "MB")
    r.layer("jvm.warmup_s", warmupS, "s")
  }
}
