package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Greedy IoU face-track association — the reference's `track_shot`
  * (demoTalkNet.py:146–178) re-expressed as a per-video
  * `groupByKey.flatMapGroups` kernel: inherently order-dependent and
  * greedy, so it is NOT a relational join (SURVEY §2.3 "Greedy IoU
  * track association"). [[trackScene]] runs one scene; [[trackVideo]]
  * numbers a video's tracks across its scenes, as the reference appends
  * each scene's tracks to one list (demoTalkNet.py:519–531).
  *
  * Faithfully reproduced quirks (each is observable in outputs):
  *  - CPython list-iterator mutation: `frameFaces.remove(face)` inside
  *    `for face in frameFaces` (demoTalkNet.py:153–162) shifts the list
  *    left but the iterator index is NOT adjusted, so the face that
  *    shifts into the removed slot is SKIPPED for the rest of this
  *    pass — it is only reconsidered by a later pass. With >=3 faces in
  *    a frame a pass can still append several same-frame faces (take
  *    one, skip one, examine the next);
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

  /** IoU with zero-overlap clamps (demoTalkNet.py:131–144, evalCol=False). */
  def iou(a: Det, b: Det): Double = {
    val xA = math.max(a.x1, b.x1); val yA = math.max(a.y1, b.y1)
    val xB = math.min(a.x2, b.x2); val yB = math.min(a.y2, b.y2)
    val inter = math.max(0.0, xB - xA) * math.max(0.0, yB - yA)
    val areaA = (a.x2 - a.x1) * (a.y2 - a.y1)
    val areaB = (b.x2 - b.x1) * (b.y2 - b.y1)
    inter / (areaA + areaB - inter)
  }

  /** One scene's greedy pass loop. `dets` must be in (frame, detector
    * output order) — the order the reference sees them. */
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

  /** Dense per-coordinate linear interpolation over [first..last]
    * (interp1d over known frames, demoTalkNet.py:168–175). When one
    * frame occurs multiple times in a track, the LAST occurrence wins
    * the sample point (interp1d keeps the last duplicate x). One
    * pointer walks the known frames, so a track is linear in its span. */
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

  /** One video's (scene_id, detections) in scene order → (scene_id,
    * track_id, track), track_id numbered 0.. across the video. */
  def trackVideo(scenes: Iterator[(Long, Seq[Det])], iouThres: Double = 0.5,
      numFailedDet: Int = 10, minTrack: Int = 11,
      minFaceSize: Double = 1.0): Iterator[(Long, Long, Seq[Det])] =
    scenes.flatMap { case (sid, dets) =>
      trackScene(dets, iouThres, numFailedDet, minTrack, minFaceSize).iterator.map(sid -> _)
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
        val scenes = it.toSeq.sortBy(r => (r._2, r._3, r._4)).groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (sid, rows) => sid -> rows.map(r => Det(r._3, r._5, r._6, r._7, r._8)) }
        trackVideo(scenes.iterator, iouThres, numFailedDet, minTrack, minFaceSize)
          .flatMap { case (sid, tid, trk) =>
            trk.map(d => TrackFrame(v, sid, tid, d.frame, d.x1, d.y1, d.x2, d.y2))
          }
      }
  }
}
