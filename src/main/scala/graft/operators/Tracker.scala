package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Greedy IoU face-track association — the reference's `track_shot`
  * (demoTalkNet.py:146–178) re-expressed as a per-video
  * `groupByKey.flatMapGroups` kernel: inherently order-dependent and
  * greedy, so it is NOT a relational join (SURVEY §2.3 "Greedy IoU
  * track association"). [[trackVideo]] runs a video's scenes in order
  * and numbers their tracks across the video, as the reference appends
  * each scene's tracks to one list (demoTalkNet.py:519–531).
  *
  * Data layout: a video's faces live in one struct-of-arrays buffer,
  * [[Faces]] (frame `Int[]`, x1/y1/x2/y2 `Double[]`, frame order), and
  * a scene is an index range of it. The greedy passes keep each frame's
  * live faces as a slice of an index array, and a kept track is a
  * [[Track]] of dense coordinate arrays, so no per-face object exists.
  * [[trackScene]] and [[interpolate]] are the `Det`-level API over the
  * same loop.
  *
  * Faithfully reproduced quirks (each is observable in outputs):
  *  - CPython list-iterator mutation: `frameFaces.remove(face)` inside
  *    `for face in frameFaces` (demoTalkNet.py:153–162) shifts the list
  *    left but the iterator index is NOT adjusted, so the face that
  *    shifts into the removed slot is SKIPPED for the rest of this
  *    pass — it is only reconsidered by a later pass. With >=3 faces in
  *    a frame a pass can still append several same-frame faces (take
  *    one, skip one, examine the next);
  *  - `list.remove(face)` removes the FIRST live face equal to the
  *    taken one: the taken slot itself always counts as equal (Python's
  *    identity shortcut), another slot when frame and box compare `==`
  *    (so ±0.0 match, a NaN box matches only itself);
  *  - `else: break` (demoTalkNet.py:163) aborts the frame scan once
  *    the gap to the track tail exceeds `numFailedDet`;
  *  - tracks with length <= minTrack are DISCARDED but their faces
  *    stay consumed (removed from the pool);
  *  - kept tracks are densely interpolated per bbox coordinate over
  *    [first..last] frame (interp1d, demoTalkNet.py:168–175) and then
  *    filtered on mean face size (demoTalkNet.py:176).
  *
  * Scale notes: state is bounded by one video's detections; videos
  * partition arbitrarily across executors. No shuffle beyond the
  * groupByKey on video_id.
  */
object Tracker {

  final case class Det(frame: Int, x1: Double, y1: Double, x2: Double, y2: Double)
  final case class TrackFrame(
      video_id: Long, scene_id: Long, track_id: Long,
      frame: Int, x1: Double, y1: Double, x2: Double, y2: Double)

  /** A growable buffer of faces, struct of arrays: face i is the box
    * (x1(i), y1(i), x2(i), y2(i)) on frame(i). */
  final class Faces(capacity: Int = 16) {
    private[operators] var n = 0
    private[operators] var frame = new Array[Int](math.max(capacity, 1))
    private[operators] var x1 = new Array[Double](frame.length)
    private[operators] var y1 = new Array[Double](frame.length)
    private[operators] var x2 = new Array[Double](frame.length)
    private[operators] var y2 = new Array[Double](frame.length)

    def length: Int = n

    def add(f: Int, a: Double, b: Double, c: Double, d: Double): Unit = {
      if (n == frame.length) {
        val cap = 2 * n
        frame = java.util.Arrays.copyOf(frame, cap)
        x1 = java.util.Arrays.copyOf(x1, cap); y1 = java.util.Arrays.copyOf(y1, cap)
        x2 = java.util.Arrays.copyOf(x2, cap); y2 = java.util.Arrays.copyOf(y2, cap)
      }
      frame(n) = f; x1(n) = a; y1(n) = b; x2(n) = c; y2(n) = d
      n += 1
    }

    /** Python's `==` on two faces: same frame and `==` boxes. */
    private[operators] def same(i: Int, j: Int): Boolean =
      frame(i) == frame(j) && x1(i) == x1(j) && y1(i) == y1(j) && x2(i) == x2(j) && y2(i) == y2(j)
  }

  /** One interpolated track: frames `f0 until f0 + length`, one box per
    * frame in dense coordinate arrays. */
  final class Track(val f0: Int, val x1: Array[Double], val y1: Array[Double],
      val x2: Array[Double], val y2: Array[Double]) extends Serializable {
    def length: Int = x1.length
    def frames: Array[Int] = Array.range(f0, f0 + length)
    def dets: IndexedSeq[Det] = (0 until length).map(j => Det(f0 + j, x1(j), y1(j), x2(j), y2(j)))
  }

  /** IoU with zero-overlap clamps (demoTalkNet.py:131–144, evalCol=False). */
  def iou(a: Det, b: Det): Double = iou(a.x1, a.y1, a.x2, a.y2, b.x1, b.y1, b.x2, b.y2)

  private def iou(fs: Faces, a: Int, b: Int): Double =
    iou(fs.x1(a), fs.y1(a), fs.x2(a), fs.y2(a), fs.x1(b), fs.y1(b), fs.x2(b), fs.y2(b))

  private def iou(ax1: Double, ay1: Double, ax2: Double, ay2: Double,
      bx1: Double, by1: Double, bx2: Double, by2: Double): Double = {
    val xA = math.max(ax1, bx1); val yA = math.max(ay1, by1)
    val xB = math.min(ax2, bx2); val yB = math.min(ay2, by2)
    val inter = math.max(0.0, xB - xA) * math.max(0.0, yB - yA)
    val areaA = (ax2 - ax1) * (ay2 - ay1)
    val areaB = (bx2 - bx1) * (by2 - by1)
    inter / (areaA + areaB - inter)
  }

  /** `dets` stably sorted by frame into a [[Faces]] buffer. */
  private def faces(dets: Seq[Det]): Faces = {
    val fs = new Faces(dets.length)
    dets.sortBy(_.frame).foreach(d => fs.add(d.frame, d.x1, d.y1, d.x2, d.y2))
    fs
  }

  /** One scene's greedy pass loop. `dets` must be in (frame, detector
    * output order) — the order the reference sees them. */
  def trackScene(dets: Seq[Det], iouThres: Double = 0.5, numFailedDet: Int = 10,
      minTrack: Int = 11, minFaceSize: Double = 1.0): Seq[Seq[Det]] = {
    val fs = faces(dets)
    tracks(fs, 0, fs.n, iouThres, numFailedDet, minTrack, minFaceSize).map(_.dets).toSeq
  }

  /** One scene's greedy passes over faces `lo until hi` of `fs`, which
    * are in frame order: its kept, interpolated tracks in pass order. */
  private def tracks(fs: Faces, lo: Int, hi: Int, iouThres: Double, numFailedDet: Int,
      minTrack: Int, minFaceSize: Double): Iterator[Track] = {
    // bucket b is one frame's faces, the reference's sceneFaces[b]: its
    // live faces in list order are live(start(b) until start(b) + size(b))
    val live = Array.range(lo, hi)
    val start = new Array[Int](hi - lo)
    val size = new Array[Int](hi - lo)
    var nb = 0
    var i = lo
    while (i < hi) {
      if (i == lo || fs.frame(i) != fs.frame(i - 1)) { start(nb) = i - lo; nb += 1 }
      size(nb - 1) += 1
      i += 1
    }
    // `list.remove(face)`: drop bucket b's first live face equal to `face`
    def remove(b: Int, face: Int): Unit = {
      val s = start(b)
      var j = 0
      while (live(s + j) != face && !fs.same(live(s + j), face)) j += 1
      System.arraycopy(live, s + j + 1, live, s + j, size(b) - j - 1)
      size(b) -= 1
    }
    val take = new Array[Int](hi - lo) // one pass's track, as face indices
    val out = ArrayBuffer.empty[Track]
    var first = 0 // buckets before it are empty for good
    var go = true
    while (go) {
      while (first < nb && size(first) == 0) first += 1
      var n = 0
      var b = first
      var broke = false
      // frames ascend across buckets, so once the gap to the tail breaks
      // one bucket's scan it breaks every later one's at its first face
      while (b < nb && !broke) {
        // `idx` models CPython's listiterator it_index: incremented when a
        // face is yielded, NOT adjusted when the body removes an element —
        // so the face shifting into the removed slot is skipped this pass.
        var idx = 0
        while (idx < size(b) && !broke) {
          val face = live(start(b) + idx)
          idx += 1
          if (n == 0) {
            take(n) = face; n += 1; remove(b, face)
          } else if (fs.frame(face) - fs.frame(take(n - 1)) <= numFailedDet) {
            if (iou(fs, face, take(n - 1)) > iouThres) {
              take(n) = face; n += 1; remove(b, face)
            }
          } else {
            broke = true // reference's `else: break`
          }
        }
        b += 1
      }
      if (n == 0) go = false
      else if (n > minTrack) { // strict >, demoTalkNet.py:167
        val t = interpolate(fs, take, n, fs.frame(take(0)), fs.frame(take(n - 1)))
        // left-to-right sums, as Scala's `sum` over the frames
        var sw = 0.0; var sh = 0.0
        var j = 0
        while (j < t.length) { sw += t.x2(j) - t.x1(j); sh += t.y2(j) - t.y1(j); j += 1 }
        if (math.max(sw / t.length, sh / t.length) > minFaceSize) out += t
      } // else: short track discarded, faces stay consumed
    }
    out.iterator
  }

  /** Dense per-coordinate linear interpolation over [first..last]
    * (interp1d over known frames, demoTalkNet.py:168–175). When one
    * frame occurs multiple times in a track, the LAST occurrence wins
    * the sample point (interp1d keeps the last duplicate x). */
  def interpolate(track: Seq[Det]): Seq[Det] = {
    val fs = faces(track)
    interpolate(fs, Array.range(0, fs.n), fs.n, track.head.frame, track.last.frame).dets
  }

  /** [[interpolate]] of the faces `idx(0 until n)` of `fs`, in frame
    * order, over frames f0..f1. One pointer walks the known frames, so
    * a track is linear in its span. */
  private def interpolate(fs: Faces, idx: Array[Int], n: Int, f0: Int, f1: Int): Track = {
    val known = new Array[Int](n) // one sample per frame, ascending
    var m = 0
    var i = 0
    while (i < n) {
      val d = idx(i)
      if (m > 0 && fs.frame(known(m - 1)) == fs.frame(d)) known(m - 1) = d
      else { known(m) = d; m += 1 }
      i += 1
    }
    val len = math.max(0, f1 - f0 + 1)
    val x1 = new Array[Double](len); val y1 = new Array[Double](len)
    val x2 = new Array[Double](len); val y2 = new Array[Double](len)
    var k = 0 // known(k) is the last sample at or before f
    var j = 0
    while (j < len) {
      val f = f0 + j
      while (k + 1 < m && fs.frame(known(k + 1)) <= f) k += 1
      val a = known(k)
      if (fs.frame(a) == f) {
        x1(j) = fs.x1(a); y1(j) = fs.y1(a); x2(j) = fs.x2(a); y2(j) = fs.y2(a)
      } else {
        val b = known(k + 1)
        val t = (f - fs.frame(a)).toDouble / (fs.frame(b) - fs.frame(a))
        x1(j) = fs.x1(a) + (fs.x1(b) - fs.x1(a)) * t
        y1(j) = fs.y1(a) + (fs.y1(b) - fs.y1(a)) * t
        x2(j) = fs.x2(a) + (fs.x2(b) - fs.x2(a)) * t
        y2(j) = fs.y2(a) + (fs.y2(b) - fs.y2(a)) * t
      }
      j += 1
    }
    new Track(f0, x1, y1, x2, y2)
  }

  /** One video's faces in `fs`, scene by scene: `scenes` gives each
    * scene's (scene_id, lo, hi) face range, in scene order → (scene_id,
    * track_id, track), track_id numbered 0.. across the video. */
  def trackVideo(fs: Faces, scenes: Iterator[(Long, Int, Int)], iouThres: Double = 0.5,
      numFailedDet: Int = 10, minTrack: Int = 11,
      minFaceSize: Double = 1.0): Iterator[(Long, Long, Track)] =
    scenes.flatMap { case (sid, lo, hi) =>
      tracks(fs, lo, hi, iouThres, numFailedDet, minTrack, minFaceSize).map(sid -> _)
    }.zipWithIndex.map { case ((sid, trk), tid) => (sid, tid.toLong, trk) }

  /** Distributed entry: detections(video_id, scene_id, frame, det_idx,
    * x1, y1, x2, y2) → interpolated track frames, one group per video. */
  def trackAll(spark: SparkSession, detections: DataFrame,
      iouThres: Double = 0.5, numFailedDet: Int = 10,
      minTrack: Int = 11, minFaceSize: Double = 1.0): Dataset[TrackFrame] = {
    import spark.implicits._
    detections
      .select(col("video_id").cast("long"), col("scene_id").cast("long"),
        col("frame").cast("int"), col("det_idx").cast("int"),
        col("x1").cast("double"), col("y1").cast("double"),
        col("x2").cast("double"), col("y2").cast("double"))
      .as[(Long, Long, Int, Int, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (v: Long, it: Iterator[(Long, Long, Int, Int, Double, Double, Double, Double)]) =>
        val rows = it.toArray.sortBy(r => (r._2, r._3, r._4))
        val fs = new Faces(rows.length)
        rows.foreach(r => fs.add(r._3, r._5, r._6, r._7, r._8))
        // (scene_id, lo, hi) of each run of one scene_id in `rows`
        val scenes = ArrayBuffer.empty[(Long, Int, Int)]
        var lo = 0
        var i = 1
        while (i <= rows.length) {
          if (i == rows.length || rows(i)._2 != rows(lo)._2) { scenes += ((rows(lo)._2, lo, i)); lo = i }
          i += 1
        }
        trackVideo(fs, scenes.iterator, iouThres, numFailedDet, minTrack, minFaceSize)
          .flatMap { case (sid, tid, t) =>
            Iterator.range(0, t.length).map(j =>
              TrackFrame(v, sid, tid, t.f0 + j, t.x1(j), t.y1(j), t.x2(j), t.y2(j)))
          }
      }
  }
}
