package graft.streaming

import java.sql.Timestamp

import graft.streaming.FireModel.{Backend, FramePrediction}
import graft.streaming.Schemas.{Detection, VideoState}
import graft.streaming.VideoSessionProcessor.{Config, FrameIn, transition}
import org.scalatest.funsuite.AnyFunSuite

/** Pure state-machine semantics (SURVEY.md §2.1 A1–A6, F4), checked
  * against hand-computed expectations with a scripted model. */
class TransitionSpec extends AnyFunSuite {

  /** Model scripted by frame number: fire iff the frame number is in
    * `fireFrames`; probability 0.9 on fire. */
  case class Scripted(fireFrames: Set[Int]) extends Backend {
    val name = "scripted"
    def predictBatch(frames: Seq[(String, Int, Int, Int)]): Seq[FramePrediction] =
      frames.map { case (_, fn, w, h) =>
        val fire = fireFrames(fn)
        FramePrediction(fire, if (fire) 0.9 else 0.0,
          if (fire) Seq(Detection(Seq(0, 0, w, h), 0.9, "fire", 1)) else Nil, name)
      }
  }

  private val ts = new Timestamp(0L)
  private def frames(vid: String, ns: Int*): Seq[FrameIn] =
    ns.map(n => FrameIn(vid, n, n.toLong * 1000))

  test("A1/A4: init + stats over one session") {
    val cfg = Config(inferEveryN = 1, gradcamEveryN = 3)
    val (st, events) = transition("v1", None, frames("v1", 0, 1, 2, 3),
      cfg, Scripted(Set(1, 2)), ts)
    val dets = events.filter(_.kind == "detection").flatMap(_.detection)
    assert(dets.map(_.has_fire) == Seq(false, true, true, false))
    assert(st.get.frameCount == 4)
    assert(st.get.fireCount == 2)
    assert(st.get.maxFireProb == 0.9)
    assert(st.get.maxFrameSeen == 3)
  }

  test("A3: gap > gapFrames closes the session and re-inits") {
    val cfg = Config(gapFrames = 300, inferEveryN = 1)
    val (st, events) = transition("v1", None,
      frames("v1", 0, 1, 302, 303, 700), cfg, Scripted(Set.empty), ts)
    // 1 -> 302 is a gap of 301 (> 300): close. 303 -> 700 is 397: close.
    val comps = events.filter(_.kind == "completion").flatMap(_.completion)
    assert(comps.size == 2)
    assert(comps.head.stats.total_frames == 2) // frames 0, 1
    assert(comps(1).stats.total_frames == 2)   // frames 302, 303
    assert(st.get.sessionId == 3 && st.get.frameCount == 1)
    // boundary: gap of exactly 300 does NOT close
    val (_, ev2) = transition("v1", None, frames("v1", 0, 300), cfg, Scripted(Set.empty), ts)
    assert(!ev2.exists(_.kind == "completion"))
  }

  test("A5: inference cadence reuses cached prediction between runs") {
    val cfg = Config(inferEveryN = 3, gradcamEveryN = 99)
    // fire on frame 0 only; cadence 3 → inference at idx 0,3: frames 0,3
    val (_, events) = transition("v1", None, frames("v1", 0, 1, 2, 3, 4),
      cfg, Scripted(Set(0)), ts)
    val dets = events.flatMap(_.detection)
    assert(dets.map(_.inference_ran) == Seq(true, false, false, true, false))
    // frames 1,2 reuse frame 0's positive; frames 3,4 carry frame 3's negative
    assert(dets.map(_.has_fire) == Seq(true, true, true, false, false))
  }

  test("F4: GradCAM on 1st positive of a run, then every Nth consecutive") {
    val cfg = Config(inferEveryN = 1, gradcamEveryN = 3)
    // run of 7 positives then negative then positive again
    val (_, events) = transition("v1", None, frames("v1", 0 to 8: _*),
      cfg, Scripted((0 to 6).toSet + 8), ts)
    val dets = events.flatMap(_.detection)
    // reference cadence (consecutive-1) % 3 == 0: consecutive
    // 1,2,3,4,5,6,7 → heatmap at 1,4,7; reset; 8 is a new run → 1
    assert(dets.map(_.heatmap_computed) ==
      Seq(true, false, false, true, false, false, true, false, true))
  }

  test("A6: completion carries metadata and deterministic filepath") {
    val cfg = Config(inferEveryN = 1)
    val (st, _) = transition("v7", None, frames("v7", 0, 1), cfg, Scripted(Set.empty), ts)
    val comp = VideoSessionProcessor.completionOf("v7", st.get)
    assert(comp.local_filepath == "/videos/v7_s1.mp4")
    assert(comp.video_metadata.frame_count == 2)
    assert(comp.stats.total_frames == 2 && comp.stats.fire_count == 0)
  }

  test("idle-timeout marker: the next session continues the id sequence") {
    val cfg = Config()
    val (st1, _) = transition("v1", None, frames("v1", 0, 1), cfg, Scripted(Set()), ts)
    assert(st1.get.sessionId == 1L)
    // idle-timeout close leaves the marker behind (frameCount == 0)
    val marker = VideoSessionProcessor.closedMarker(st1.get)
    assert(marker.frameCount == 0L)
    val (st2, _) = transition("v1", Some(marker), frames("v1", 100, 101), cfg, Scripted(Set()), ts)
    // resumed video continues ids: no (video_id, session_id) collision
    // with the completion already emitted for session 1
    assert(st2.get.sessionId == 2L)
    assert(st2.get.frameCount == 2L)
    assert(VideoSessionProcessor.completionOf("v1", st2.get)
      .local_filepath == "/videos/v1_s2.mp4")
  }

  test("state continuity: resuming from prior state keeps session position") {
    val cfg = Config(inferEveryN = 3)
    val (st1, ev1) = transition("v1", None, frames("v1", 0, 1), cfg, Scripted(Set(0)), ts)
    val (st2, ev2) = transition("v1", st1, frames("v1", 2, 3), cfg, Scripted(Set(0)), ts)
    val dets = (ev1 ++ ev2).flatMap(_.detection)
    // idx 0..3 across the two calls; inference at 0 and 3 only
    assert(dets.map(_.session_index) == Seq(0, 1, 2, 3))
    assert(dets.map(_.inference_ran) == Seq(true, false, false, true))
    assert(st2.get.frameCount == 4)
  }

  test("slicing invariance: any split of a key's frames gives the same events and state") {
    // The invariant both wirings rely on: processBatch cuts a key into
    // fixed-size runs, processStream into whatever each trigger holds.
    // Gaps (session closes), cadence and GradCAM runs all straddle
    // slice boundaries here.
    val cfg = Config(gapFrames = 50, inferEveryN = 3, gradcamEveryN = 2)
    val model = Scripted((0 until 600).filter(n => (n / 5) % 3 == 0).toSet)
    val all = frames("v1", (0 until 200) ++ (260 until 360) ++ (500 until 540): _*)
    def fold(start: Option[VideoState], size: Int) =
      all.grouped(size).foldLeft((start, Vector.empty[Schemas.VideoEvent])) {
        case ((st, acc), slice) =>
          val (next, events) = transition("v1", st, slice, cfg, model, ts)
          (next, acc ++ events)
      }
    val (prior, _) = transition("v1", None, frames("v1", 0, 1), cfg, model, ts)
    for (start <- Seq(None, prior.map(VideoSessionProcessor.closedMarker))) {
      val (wholeSt, wholeEv) = fold(start, all.size)
      assert(wholeEv.count(_.kind == "completion") == 2)
      for (size <- Seq(1, 7, 64)) {
        val (st, ev) = fold(start, size)
        assert(ev.size == wholeEv.size)
        val i = ev.zip(wholeEv).indexWhere { case (a, b) => a != b }
        if (i >= 0) fail(s"slices of $size from $start: event $i is ${ev(i)}, whole-group ${wholeEv(i)}")
        assert(st == wholeSt, s"slices of $size from $start")
      }
    }
  }
}
