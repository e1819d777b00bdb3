package graft.operators

import graft.functions.ExplodeSegments
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Speaking-segment extraction with the reference's exact semantics
  * (extractSpeakingSegments.py:44–61 `find_speaking_segments` +
  * the `>= min_frames` duration gate at :98–99):
  *
  *  - `speaking = score > threshold` (strict >);
  *  - contiguous runs over the dense frame index, END-EXCLUSIVE
  *    (a run closes at the first non-speaking frame i → (start, i));
  *  - a trailing open run closes at n (len of the score array);
  *  - duration gate: (end - start) >= floor(minDurationS * fps);
  *  - seconds are frame/fps doubles (frame↔time at hard-coded fps,
  *    extractSpeakingSegments.py:65–66).
  *
  * [[scan]] is the one implementation, over one key's frame-sorted
  * series: [[extract]] runs it once per key group (through the
  * `ExplodeSegments` generator) and the per-video pipeline kernel
  * (`BatchPipeline.scoreVideo`) once per track.
  */
object SpeakingSegments {

  /** One run of a key: frames [start_frame, end_frame), seg_id 1-based. */
  final case class Segment(seg_id: Long, start_frame: Int, end_frame: Int, n_frames: Long)

  /** The reference's `int(minDuration * fps)` frame gate. */
  def minFrames(minDurationS: Double, fps: Int = 25): Int = (minDurationS * fps).toInt

  /** Row-consecutive runs of `scores(i) > threshold`, end = the run's
    * last frame + 1, kept when (end − start) >= minFrames. */
  def scan(frames: Array[Int], scores: Array[Double], threshold: Double,
      minFrames: Int): Seq[Segment] = {
    val out = ArrayBuffer.empty[Segment]
    var start = -1 // row of the open run's first frame
    for (i <- 0 to frames.length) {
      val speaking = i < frames.length && scores(i) > threshold
      if (speaking && start < 0) start = i
      if (!speaking && start >= 0) {
        val (s, e) = (frames(start), frames(i - 1) + 1)
        if (e - s >= minFrames) out += Segment(out.length + 1L, s, e, (i - start).toLong)
        start = -1
      }
    }
    out.toSeq
  }

  /** keys + Segment columns → the segment table (long end_frame, seconds). */
  def table(segs: DataFrame, keys: Seq[Column], fps: Int = 25): DataFrame =
    segs.select(keys ++ Seq(col("seg_id"), col("start_frame"),
      col("end_frame").cast("long").as("end_frame"), col("n_frames"),
      (col("start_frame").cast("double") / fps).as("start_s"),
      (col("end_frame").cast("double") / fps).as("end_s"),
      ((col("end_frame") - col("start_frame")).cast("double") / fps).as("duration_s")): _*)

  /** scores: one row per (keyCols..., frame, score), frames dense per
    * key; a null score is not speaking. */
  def extract(scores: DataFrame, threshold: Double, minDurationS: Double,
      fps: Int = 25, keyCols: Seq[String] = Seq("video_id", "track_id")): DataFrame = {
    val keys = keyCols.map(col)
    val series = sort_array(collect_list(struct(col("frame").cast("int").as("frame"),
      coalesce(col("score").cast("double"), lit(Double.NaN)).as("score"))))
    def e(c: Column) = GraftBridge.expression(c)
    table(scores.groupBy(keys: _*).agg(series.as("series")).select(keys :+ GraftBridge.column(
      ExplodeSegments(e(col("series")), e(lit(threshold)), e(lit(minFrames(minDurationS, fps))))): _*),
      keys, fps)
  }
}
