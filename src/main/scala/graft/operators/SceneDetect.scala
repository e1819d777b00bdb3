package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Scene detection analog (demoTalkNet.py:93–110): the reference runs
  * PySceneDetect's ContentDetector — a sequential scan over per-frame
  * content values that cuts where the frame-to-frame delta exceeds a
  * threshold, with a minimum scene length, and falls back to "whole
  * video is one scene" when no cut fires (:105–106).
  *
  * The frame-content extraction itself is a media kernel (stubbed in
  * this container); this operator is the order-dependent scan, shaped
  * as a per-video flatMapGroups kernel — scenes then become the
  * parallelism unit for tracking (SURVEY §4 "fat partitions").
  */
object SceneDetect {

  final case class Scene(video_id: Long, scene_id: Long, start_frame: Int, end_frame: Int)

  /** Sequential cut detection over one video's (frame, content) series
    * in frame order. */
  def detect(sorted: Array[(Int, Double)], threshold: Double = 27.0,
      minSceneLen: Int = 15): Seq[(Int, Int)] = {
    if (sorted.isEmpty) return Seq.empty
    val first = sorted.head._1
    val end = sorted.last._1 + 1
    val cuts = Seq.newBuilder[Int]
    var lastCut = first
    var i = 1
    while (i < sorted.length) {
      val delta = math.abs(sorted(i)._2 - sorted(i - 1)._2)
      if (delta > threshold && sorted(i)._1 - lastCut >= minSceneLen) {
        cuts += sorted(i)._1
        lastCut = sorted(i)._1
      }
      i += 1
    }
    val cutList = cuts.result()
    val bounds = (first +: cutList) :+ end
    val scenes = bounds.sliding(2).map(b => (b(0), b(1))).toSeq
    // reference fallback: empty cut list ⇒ whole video is one scene
    if (scenes.isEmpty) Seq((first, end)) else scenes
  }

  /** frameContents(video_id, frame, content) → scene table. */
  def detectAll(spark: SparkSession, frameContents: DataFrame,
      threshold: Double = 27.0, minSceneLen: Int = 15): Dataset[Scene] = {
    import spark.implicits._
    frameContents
      .select(col("video_id").cast("long"), col("frame").cast("int"),
        col("content").cast("double"))
      .as[(Long, Int, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (vid: Long, it: Iterator[(Long, Int, Double)]) =>
        val arr = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        detect(arr, threshold, minSceneLen).zipWithIndex.iterator.map {
          case ((s, e), i) => Scene(vid, i.toLong, s, e)
        }
      }
  }

  // ---------------------------------------------------------------
  // ContentDetector's content computation — REAL math, not a stub.
  // PySceneDetect's ContentDetector (the detector demoTalkNet.py:96
  // adds) converts each frame BGR→HSV and scores frame f as the mean
  // absolute per-pixel delta against frame f−1, averaged over the
  // three channels; a cut fires where that score crosses the
  // threshold subject to the min-scene-len spacing gate. Only the
  // frame DECODE remains a seat (Visual.decodeBgrStub); the HSV
  // transform below is OpenCV's exact uint8 fixed-point path.
  // ---------------------------------------------------------------

  private val HsvShift = 12

  /** OpenCV's cvtColor(BGR2HSV) uint8 reciprocal tables:
    * sdiv[i] = cvRound((255<<12)/i), hdiv[i] = cvRound((180<<12)/(6i)),
    * index 0 = 0. cvRound is round-half-to-even ⇒ Math.rint. */
  val sdivTable: Array[Int] = Array.tabulate(256)(i =>
    if (i == 0) 0 else Math.rint((255 << HsvShift).toDouble / i).toInt)
  val hdivTable: Array[Int] = Array.tabulate(256)(i =>
    if (i == 0) 0 else Math.rint((180 << HsvShift).toDouble / (6.0 * i)).toInt)

  /** Exact OpenCV uint8 BGR→HSV: V = max, S/H via the fixed-point
    * reciprocal tables with +2048 rounding and arithmetic (floor)
    * shifts; H in [0,180). Mask priority matches OpenCV: v==r wins,
    * then v==g. Returns packed (h, s, v). */
  def bgr2hsv(b: Int, g: Int, r: Int): (Int, Int, Int) = {
    val v = math.max(b, math.max(g, r))
    val mn = math.min(b, math.min(g, r))
    val diff = v - mn
    val s = (diff * sdivTable(v) + (1 << (HsvShift - 1))) >> HsvShift
    val hNum =
      if (v == r) g - b
      else if (v == g) b - r + 2 * diff
      else r - g + 4 * diff
    var h = (hNum * hdivTable(diff) + (1 << (HsvShift - 1))) >> HsvShift
    if (h < 0) h += 180
    (h, s, v)
  }

  /** One video's sorted (frame, payload) rows → per-frame exact
    * integer channel |Δ| sums vs the predecessor frame (the first
    * frame has no score): (frame, Σ|ΔH|, Σ|ΔS|, Σ|ΔV|). This is the
    * per-frame metric row PySceneDetect's StatsManager persists
    * (demoTalkNet.py:95 statsManager), kept as exact longs. */
  def channelDeltas(rows: Array[(Int, Array[Byte])], h: Int, w: Int): Array[(Int, Long, Long, Long)] = {
    val npix = h * w
    val out = new Array[(Int, Long, Long, Long)](math.max(0, rows.length - 1))
    var prev: Array[Int] = null
    var i = 0
    while (i < rows.length) {
      // unified seat: REAL ImageIO decode for image payloads, the
      // deterministic stub raster for synthetic ones
      val px = graft.operators.ImageCodec.decodeBgrAuto(rows(i)._2, h, w)
      val hsv = new Array[Int](npix * 3)
      var p = 0
      while (p < npix) {
        val (hh, ss, vv) = bgr2hsv(px(3 * p), px(3 * p + 1), px(3 * p + 2))
        hsv(3 * p) = hh; hsv(3 * p + 1) = ss; hsv(3 * p + 2) = vv
        p += 1
      }
      if (prev != null) {
        var sh = 0L; var ss = 0L; var sv = 0L
        var q = 0
        while (q < npix) {
          sh += math.abs(hsv(3 * q) - prev(3 * q))
          ss += math.abs(hsv(3 * q + 1) - prev(3 * q + 1))
          sv += math.abs(hsv(3 * q + 2) - prev(3 * q + 2))
          q += 1
        }
        out(i - 1) = (rows(i)._1, sh, ss, sv)
      }
      prev = hsv
      i += 1
    }
    out
  }

  /** One video's sorted (frame, payload) rows → per-frame content
    * values (frame f scored against its predecessor; the first frame
    * has no score). npix = h·w is kept a power of two by callers so
    * the three /npix divisions are exact in double and the final /3
    * is a single deterministic IEEE op — what keeps the DuckDB oracle
    * hash-stable. */
  def contentVals(rows: Array[(Int, Array[Byte])], h: Int, w: Int): Array[(Int, Double)] = {
    val n = (h * w).toDouble
    channelDeltas(rows, h, w).map { case (f, sh, ss, sv) =>
      (f, (sh.toDouble / n + ss.toDouble / n + sv.toDouble / n) / 3.0)
    }
  }

  final case class FrameContent(video_id: Long, frame: Int, dh: Long, ds: Long, dv: Long)

  /** payloads(video_id, frame, payload) → the per-frame metric table
    * (exact integer channel sums) — the StatsManager persistence
    * contract as a DataFrame. */
  def contentStats(spark: SparkSession, payloads: DataFrame, h: Int, w: Int): Dataset[FrameContent] = {
    import spark.implicits._
    payloads
      .select(col("video_id").cast("long"), col("frame").cast("int"),
        col("payload").cast("binary"))
      .as[(Long, Int, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (vid: Long, it: Iterator[(Long, Int, Array[Byte])]) =>
        val arr = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        channelDeltas(arr, h, w).iterator.map { case (f, dh, ds, dv) =>
          FrameContent(vid, f, dh, ds, dv)
        }
      }
  }

  /** One video's sorted (frame, payload) rows → every frame's content
    * value, the first frame (no predecessor) scoring 0.0. Each frame
    * is decoded once. */
  def frameContents(sorted: Array[(Int, Array[Byte])], h: Int, w: Int): Array[(Int, Double)] =
    if (sorted.isEmpty) Array.empty
    else (sorted.head._1, 0.0) +: contentVals(sorted, h, w)

  /** The ContentDetector cut scan over one video's sorted
    * [[frameContents]], returning the scenes [start, end) the cuts
    * delimit: lastCut starts at the first frame (whose value is never
    * scanned); a frame with content ≥ threshold cuts iff it is
    * ≥ minSceneLen past the last cut. The next cut after position c is
    * therefore min{f : content(f) ≥ t, f − c ≥ L} — which is what makes
    * the sequential scan expressible as a recursive CTE on the oracle
    * side. */
  def cuts(contents: Array[(Int, Double)], threshold: Double = 27.0,
      minSceneLen: Int = 15): Seq[(Int, Int)] = {
    if (contents.isEmpty) return Seq.empty
    val first = contents.head._1
    val end = contents.last._1 + 1
    val found = Seq.newBuilder[Int]
    var lastCut = first
    var i = 1
    while (i < contents.length) {
      val (f, c) = contents(i)
      if (c >= threshold && f - lastCut >= minSceneLen) { found += f; lastCut = f }
      i += 1
    }
    val bounds = (first +: found.result()) :+ end
    bounds.sliding(2).map(b => (b(0), b(1))).toSeq
  }

  /** [[cuts]] over one video's (frame, payload) rows in any order. */
  def scenesFromPayloads(rows: Array[(Int, Array[Byte])], h: Int, w: Int,
      threshold: Double = 27.0, minSceneLen: Int = 15): Seq[(Int, Int)] =
    cuts(frameContents(rows.sortBy(_._1), h, w), threshold, minSceneLen)

  /** payloads(video_id, frame, payload) → scene table, content series
    * computed for real inside the per-video kernel. Payload bytes
    * never shuffle after the kernel — only (video_id, frame, payload)
    * rows group, and scene rows (4 longs) come back. */
  def contentScenes(spark: SparkSession, payloads: DataFrame, h: Int, w: Int,
      threshold: Double = 27.0, minSceneLen: Int = 15): Dataset[Scene] = {
    import spark.implicits._
    payloads
      .select(col("video_id").cast("long"), col("frame").cast("int"),
        col("payload").cast("binary"))
      .as[(Long, Int, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (vid: Long, it: Iterator[(Long, Int, Array[Byte])]) =>
        val arr = it.map(r => (r._2, r._3)).toArray
        scenesFromPayloads(arr, h, w, threshold, minSceneLen).zipWithIndex.iterator
          .map { case ((s, e), i) => Scene(vid, i.toLong, s, e) }
      }
  }
}
