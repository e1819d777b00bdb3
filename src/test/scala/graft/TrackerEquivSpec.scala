package graft

import graft.operators.{SpeakingSegments, Tracker}
import graft.operators.Tracker.Det
import graft.pipeline.BatchPipeline
import graft.pipeline.BatchPipeline.{FaceDetector, ScoredPoint, ScoredTrack, SpeakerScorer}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The tracker and per-video kernel as they were before they moved onto
  * struct-of-arrays buffers: `Det` buckets, `list.remove` by `==`, a
  * `Vector` per interpolated track and a `ScoredPoint` per frame —
  * copied verbatim, the oracle for TrackerEquivSpec. */
object TrackerRef {
  import Tracker.iou

  def trackScene(dets: Seq[Det], iouThres: Double = 0.5, numFailedDet: Int = 10,
      minTrack: Int = 11, minFaceSize: Double = 1.0): Seq[Seq[Det]] = {
    // frame buckets in frame order, preserving in-frame order (the sort
    // is stable); mutable like the reference's sceneFaces
    val frames = ArrayBuffer.empty[ArrayBuffer[Det]]
    dets.sortBy(_.frame).foreach { d =>
      if (frames.nonEmpty && frames.last.head.frame == d.frame) frames.last += d
      else frames += ArrayBuffer(d)
    }
    val out = ArrayBuffer.empty[Seq[Det]]
    var go = true
    while (go) {
      val track = ArrayBuffer.empty[Det]
      for (frameFaces <- frames) {
        // `idx` models CPython's listiterator it_index: incremented when a
        // face is yielded, NOT adjusted when the body removes an element —
        // so the face shifting into the removed slot is skipped this pass.
        var idx = 0
        var broke = false
        while (idx < frameFaces.length && !broke) {
          val face = frameFaces(idx)
          idx += 1
          if (track.isEmpty) {
            track += face; removeFirst(frameFaces, face)
          } else if (face.frame - track.last.frame <= numFailedDet) {
            if (iou(face, track.last) > iouThres) {
              track += face; removeFirst(frameFaces, face)
            }
          } else {
            broke = true // reference's `else: break`
          }
        }
      }
      if (track.isEmpty) go = false
      else if (track.length > minTrack) { // strict >, demoTalkNet.py:167
        val interp = interpolate(track.toIndexedSeq)
        val meanW = interp.iterator.map(d => d.x2 - d.x1).sum / interp.length
        val meanH = interp.iterator.map(d => d.y2 - d.y1).sum / interp.length
        if (math.max(meanW, meanH) > minFaceSize) out += interp
      } // else: short track discarded, faces stay consumed
    }
    out.toSeq
  }

  /** `list.remove(face)`: drops the first element equal to `d`, which
    * is in `buf` (a while loop: `indexOf` builds a view per call). */
  private def removeFirst(buf: ArrayBuffer[Det], d: Det): Unit = {
    var j = 0
    while (buf(j) != d) j += 1
    buf.remove(j)
  }

  def interpolate(track: Seq[Det]): Seq[Det] = {
    val known = ArrayBuffer.empty[Det] // one sample per frame, ascending
    track.sortBy(_.frame).foreach { d => // stable: duplicates keep track order
      if (known.nonEmpty && known.last.frame == d.frame) known(known.length - 1) = d
      else known += d
    }
    val f0 = track.head.frame; val f1 = track.last.frame
    var k = 0 // known(k) is the last sample at or before f
    (f0 to f1).map { f =>
      while (k + 1 < known.length && known(k + 1).frame <= f) k += 1
      val a = known(k)
      if (a.frame == f) a
      else {
        val b = known(k + 1)
        val t = (f - a.frame).toDouble / (b.frame - a.frame)
        Det(f, a.x1 + (b.x1 - a.x1) * t, a.y1 + (b.y1 - a.y1) * t,
          a.x2 + (b.x2 - a.x2) * t, a.y2 + (b.y2 - a.y2) * t)
      }
    }
  }

  def trackVideo(scenes: Iterator[(Long, Seq[Det])], iouThres: Double = 0.5,
      numFailedDet: Int = 10, minTrack: Int = 11,
      minFaceSize: Double = 1.0): Iterator[(Long, Long, Seq[Det])] =
    scenes.flatMap { case (sid, dets) =>
      trackScene(dets, iouThres, numFailedDet, minTrack, minFaceSize).iterator.map(sid -> _)
    }.zipWithIndex.map { case ((sid, trk), tid) => (sid, tid.toLong, trk) }

  def keptFaces(detector: FaceDetector, videoId: Long, frame: Int, content: Double,
      confTh: Double = BatchPipeline.ConfTh): Seq[(Int, Double, Double, Double, Double, Double)] =
    detector.detect(videoId, frame, content).zipWithIndex.collect {
      case ((x1, y1, x2, y2, conf), i) if conf > confTh => (i, x1, y1, x2, y2, conf)
    }

  def scoreVideo(videoId: Long, frames: Array[(Int, Double)], scenes: Seq[(Int, Int)],
      detector: FaceDetector, scorer: SpeakerScorer, threshold: Double,
      minFrames: Int): Iterator[ScoredTrack] = {
    val sceneArr = scenes.toArray
    val perScene = Array.fill(sceneArr.length)(ArrayBuffer.empty[Tracker.Det])
    var s = 0
    frames.foreach { case (f, c) =>
      while (s < sceneArr.length && sceneArr(s)._2 <= f) s += 1
      if (s < sceneArr.length && sceneArr(s)._1 <= f &&
          sceneArr(s)._2 - sceneArr(s)._1 >= BatchPipeline.MinSceneLen)
        keptFaces(detector, videoId, f, c).foreach { case (_, x1, y1, x2, y2, _) =>
          perScene(s) += Tracker.Det(f, x1, y1, x2, y2)
        }
    }
    trackVideo(perScene.indices.iterator.map(sid => sid.toLong -> perScene(sid).toSeq))
      .map { case (sid, tid, trk) =>
        val scores = BatchPipeline.trackScores(videoId, tid, trk.length, scorer)
        val points = trk.indices.map { j =>
          val d = trk(j)
          ScoredPoint(d.frame, d.x1, d.y1, d.x2, d.y2, scores(j))
        }
        ScoredTrack(videoId, sid, tid, points,
          SpeakingSegments.scan(trk.map(_.frame).toArray, scores, threshold, minFrames))
      }
  }
}

/** The array tracker and kernel against [[TrackerRef]], compared by raw
  * bits (`doubleToRawLongBits`, so −0.0 ≠ 0.0 and NaN payloads count)
  * on seeded scenes built to reach every branch: 0–4 faces per frame,
  * exact duplicates (equal values and the same object), several takes
  * from one frame in one pass, gaps wider than numFailedDet, tracks of
  * exactly minTrack and minTrack + 1 faces, ±0.0 and NaN coordinates. */
class TrackerEquivSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private def detBits(d: Det): Seq[Long] = Seq(d.frame.toLong, bits(d.x1), bits(d.y1), bits(d.x2), bits(d.y2))
  private def tracksBits(ts: Seq[Seq[Det]]): Seq[Seq[Seq[Long]]] = ts.map(_.map(detBits))

  /** A coordinate from a coarse grid, so equal boxes recur in a frame;
    * both zeros, and now and then NaN. */
  private def coord(r: Random): Double = r.nextInt(14) match {
    case 0 => -0.0
    case 1 => 0.0
    case 13 => Double.NaN
    case k => (k % 4) * 2.0
  }

  /** One scene: frames in random order, 0–4 faces per frame (in-frame
    * order kept), gaps wider than numFailedDet, duplicate faces. */
  private def scene(r: Random): Seq[Det] = {
    var f = 0
    val frames = ArrayBuffer.empty[Seq[Det]]
    while (f < 60) {
      val faces = ArrayBuffer.empty[Det]
      for (_ <- 0 until r.nextInt(5)) {
        val x = coord(r); val y = coord(r)
        faces += Det(f, x, y, x + 10, y + 10)
        r.nextInt(6) match {
          case 0 => faces += faces.last.copy() // equal values, another object
          case 1 => faces += faces.last // the same object twice
          case _ =>
        }
      }
      frames += faces.toSeq
      f += (if (r.nextInt(15) == 0) 12 + r.nextInt(8) else 1 + r.nextInt(2))
    }
    r.shuffle(frames).flatten.toSeq
  }

  private val fixed: Seq[Seq[Det]] = {
    def box(f: Int, x: Double) = Det(f, x, 0.0, x + 10, 10.0)
    Seq(
      // frame 5 holds [A, B, C]: a pass takes A, skips B, takes C
      (0 until 12).map(f => box(f, 0)) :+ box(5, 0.2) :+ box(5, 0.4),
      // [-0.0, +0.0] boxes in one frame: `==` removes the first
      (0 until 14).flatMap(f => Seq(box(f, -0.0), box(f, 0.0), box(f, 0.0))),
      // NaN boxes: each taken only as a pass's first face
      (0 until 13).flatMap(f => Seq(box(f, Double.NaN), box(f, 0.0), box(f, Double.NaN))),
      // a gap of 11 > numFailedDet splits a run
      (0 until 12).map(f => box(f, 0)) ++ (23 until 40).map(f => box(f, 0)))
  }

  test("trackScene equals the reference loop bit for bit (fixed and 600 seeded scenes)") {
    val r = new Random(7)
    var kept = 0
    for (minTrack <- Seq(0, 3, 11); dets <- fixed) {
      val want = TrackerRef.trackScene(dets, minTrack = minTrack)
      assert(tracksBits(Tracker.trackScene(dets, minTrack = minTrack)) === tracksBits(want))
    }
    for (_ <- 1 to 600) {
      val dets = scene(r)
      val (minTrack, gap, thr) = (r.nextInt(12), Seq(1, 5, 10)(r.nextInt(3)), Seq(0.0, 0.5)(r.nextInt(2)))
      val want = TrackerRef.trackScene(dets, thr, gap, minTrack)
      kept += want.length
      assert(tracksBits(Tracker.trackScene(dets, thr, gap, minTrack)) === tracksBits(want))
    }
    assert(kept > 600, "the seeded scenes must keep tracks")
  }

  test("a track of exactly minTrack faces is dropped, minTrack + 1 kept, as in the reference") {
    for (minTrack <- Seq(0, 1, 5, 11, 20); n <- Seq(minTrack, minTrack + 1) if n > 0) {
      val dets = (0 until n).map(f => Det(f * 2, 0.0, 0.0, 10.0, 10.0)) // every other frame
      val got = Tracker.trackScene(dets, minTrack = minTrack)
      assert(tracksBits(got) === tracksBits(TrackerRef.trackScene(dets, minTrack = minTrack)))
      assert(got.length === (if (n > minTrack) 1 else 0))
    }
  }

  test("interpolate equals the reference on unsorted tracks with repeated frames") {
    val r = new Random(11)
    for (_ <- 1 to 300) {
      val dets = Seq.fill(1 + r.nextInt(8)) {
        val x = coord(r)
        Det(r.nextInt(20), x, coord(r), x + r.nextDouble() * 5, 3.0)
      }
      assert(Tracker.interpolate(dets).map(detBits) === TrackerRef.interpolate(dets).map(detBits))
    }
  }

  test("trackVideo numbers tracks across scenes as the reference does") {
    val r = new Random(13)
    for (_ <- 1 to 100) {
      val scenes = Seq.tabulate(1 + r.nextInt(4))(s => (s * 10L + 3, scene(r)))
      val want = TrackerRef.trackVideo(scenes.iterator, minTrack = 4).toSeq
      val fs = new Tracker.Faces()
      val ranges = scenes.map { case (sid, dets) =>
        val lo = fs.length
        dets.sortBy(_.frame).foreach(d => fs.add(d.frame, d.x1, d.y1, d.x2, d.y2))
        (sid, lo, fs.length)
      }
      val got = Tracker.trackVideo(fs, ranges.iterator, minTrack = 4).toSeq
      assert(got.map(t => (t._1, t._2, t._3.dets.map(detBits))) ===
        want.map(t => (t._1, t._2, t._3.map(detBits))))
    }
  }

  /** 0–4 faces a frame, a pure function of (video, frame): coordinates
    * on the coarse grid, conf on both sides of the gate and on it. */
  private object GridDetector extends FaceDetector {
    def detect(videoId: Long, frame: Int, content: Double): Seq[(Double, Double, Double, Double, Double)] = {
      val r = new Random(videoId * 1000003L + frame)
      Seq.fill(r.nextInt(5)) {
        val x = coord(r); val y = coord(r)
        (x, y, x + 10, y + 10, Seq(0.85, 0.9, 0.95, 0.99)(r.nextInt(4)))
      }
    }
  }

  private def pointBits(p: ScoredPoint): Seq[Long] =
    Seq(p.frame.toLong, bits(p.x1), bits(p.y1), bits(p.x2), bits(p.y2), bits(p.score))
  private def trackBits(t: ScoredTrack) =
    (t.video_id, t.scene_id, t.track_id, t.points.map(pointBits), t.segments)

  test("scoreVideo equals the reference kernel (grid and stub detectors, 200 videos)") {
    val r = new Random(17)
    for (v <- 1L to 200L) {
      // frames with gaps and repeats; scenes of random length, some
      // shorter than MinSceneLen, some frames in no scene
      val frames = ArrayBuffer.empty[(Int, Double)]
      var f = r.nextInt(3)
      while (f < 400) {
        frames += ((f, f / 100 * 80.0))
        if (r.nextInt(40) == 0) frames += ((f, f / 100 * 80.0))
        f += 1 + (if (r.nextInt(30) == 0) r.nextInt(15) else 0)
      }
      val scenes = ArrayBuffer.empty[(Int, Int)]
      var s = 0
      while (s < 420) {
        val len = Seq(5, 10, 11, 12, 40, 150)(r.nextInt(6))
        if (r.nextInt(8) != 0) scenes += ((s, s + len))
        s += len
      }
      val detector = if (v % 4 == 0) BatchPipeline.StubDetector else GridDetector
      val arr = frames.toArray
      val want = TrackerRef.scoreVideo(v, arr, scenes.toSeq, detector, BatchPipeline.StubScorer,
        0.0, 5).toSeq
      val got = BatchPipeline.scoreVideo(v, arr, scenes.toSeq, detector, BatchPipeline.StubScorer,
        0.0, 5).toSeq
      assert(got.map(trackBits) === want.map(trackBits), s"video $v")
    }
  }

  test("keptFaces keeps the reference's gate and det_idx") {
    for (v <- 1L to 20L; f <- 0 until 50) {
      val got = BatchPipeline.keptFaces(GridDetector, v, f, 0.0)
      val want = TrackerRef.keptFaces(GridDetector, v, f, 0.0)
      assert(got.map(t => (t._1, bits(t._2), bits(t._3), bits(t._4), bits(t._5), bits(t._6))) ===
        want.map(t => (t._1, bits(t._2), bits(t._3), bits(t._4), bits(t._5), bits(t._6))))
    }
  }
}
