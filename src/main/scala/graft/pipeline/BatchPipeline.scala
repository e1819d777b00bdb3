package graft.pipeline

import graft.operators.{DurationEnsemble, SceneDetect, SpeakingSegments, Tracker, TrackGeometry}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The whole reference pipeline as ONE Spark DAG — the Spark-native
  * `batchProcessVideos.py` + `demoTalkNet.py main()` (SURVEY §3.1–3.2):
  *
  *   frames ─ scene detect ─ detect faces ─ track ─ geometry ─ score
  *   (duration ensemble) ─ smooth ─ sessionize ─ segments + summary
  *
  * Where the reference crosses a process boundary per stage and per
  * video (subprocess + pickle), here rows group once by video_id, the
  * reference's unit of work — one hash exchange, whose grouping sort
  * also orders each video's rows — and one per-video kernel
  * ([[scoreVideo]]) runs scenes → faces → tracks → scores → segments:
  * every later key only refines video_id, so no stage needs a shuffle
  * of its own. Three entries feed that kernel: [[run]] takes numbered
  * frames, [[runStream]] numbers each video's stream rows 0.. in
  * order as decoding does and takes content from the [[FrameDecoder]]
  * seat (q44), [[runFromPayloads]] computes content from raw payloads.
  * Segments leave the kernel through one single-partition exchange,
  * so a global sort of them is one task. The staged functions
  * ([[detectFaces]], [[assignScenes]], [[scoreTracks]],
  * `SceneDetect.detectAll`, `Tracker.trackAll`,
  * `SpeakingSegments.extract`) are the per-stage Spark API over the
  * same pure kernels. Stage checkpoints are optional parquet writes
  * with the reference's names.
  *
  * The GPU/codec kernels (S3FD, TalkNet, ffmpeg) are pluggable traits
  * ([[FaceDetector]], [[SpeakerScorer]], [[FrameDecoder]]);
  * the defaults are deterministic STUBS (weights aren't shipped in the
  * reference repo either — demoTalkNet.py:58–61 downloads them), so the
  * pipeline is testable end-to-end; swap in real kernels per executor
  * and nothing else changes.
  *
  * Reference quirks reproduced:
  *  - duration "multiset" {1,1,1,2,2,2,3,3,4,5,6} is a Python set ⇒
  *    SIX distinct durations {1..6} (demoTalkNet.py:234);
  *  - ensemble = ONE batched model call per (duration, batch) over
  *    tensor slice bounds (DurationEnsemble), mean over durations,
  *    then numpy.round(·, 1) = rint(x·10)/10 HALF_EVEN in double
  *    space (demoTalkNet.py:256–270);
  *  - visualization smoothing slice [max(i-2,0), min(i+3, n-1))
  *    EXCLUDES the final score for the last three frames
  *    (demoTalkNet.py:350).
  */
object BatchPipeline {

  /** Pluggable per-frame face detector (S3FD's seat). */
  trait FaceDetector extends Serializable {
    def detect(videoId: Long, frame: Int, content: Double): Seq[(Double, Double, Double, Double, Double)] // x1,y1,x2,y2,conf
  }

  /** TalkNet's seat is the BATCHED scorer contract — one model forward
    * per (duration, batch) over tensor slice bounds, not one call per
    * frame. See DurationEnsemble.BatchScorer. */
  type SpeakerScorer = DurationEnsemble.BatchScorer

  /** STUB detector: one slowly-drifting face per frame, conf from a
    * deterministic hash. Replace with the real model kernel. */
  object StubDetector extends FaceDetector {
    def detect(videoId: Long, frame: Int, content: Double): Seq[(Double, Double, Double, Double, Double)] = {
      val x = (frame % 200) / 10.0
      val conf = 0.90 + ((videoId * 31 + frame) % 10) / 100.0
      Seq((x, 10.0, x + 20.0, 25.0, conf))
    }
  }

  /** Pluggable frame decoder (ffmpeg's seat in [[runStream]]): the
    * content of a video's frame `frame`, decoded from its stream row
    * `packet`. (`Media.FrameDecoder` is the whole-file decoder behind
    * the v2 frame source.) */
  trait FrameDecoder extends Serializable {
    def decode(videoId: Long, frame: Int, packet: Row): Double
  }

  /** STUB decoder: a content jump of 80 every 100 frames, so a video
    * cuts into 100-frame scenes; the packet is not read. */
  object StubDecoder extends FrameDecoder {
    def decode(videoId: Long, frame: Int, packet: Row): Double = (frame / 100) * 80.0 + 10.0
  }

  /** Pipeline-default stub model (see DurationEnsemble.StubBatchScorer). */
  val StubScorer: SpeakerScorer = DurationEnsemble.StubBatchScorer

  /** Gates: a face is kept iff conf > ConfTh; a scene of fewer than
    * MinSceneLen frames is not tracked. */
  val ConfTh = 0.9
  val MinSceneLen = 11

  /** The conf gate (the reference's gate sits inside the detector
    * call): `keep(i, face)` for each face of one frame with
    * conf > confTh, i its index in the detector's output. */
  private def gatedFaces(detector: FaceDetector, videoId: Long, frame: Int, content: Double,
      confTh: Double = ConfTh)(keep: (Int, (Double, Double, Double, Double, Double)) => Unit): Unit = {
    val it = detector.detect(videoId, frame, content).iterator
    var i = 0
    while (it.hasNext) {
      val face = it.next()
      if (face._5 > confTh) keep(i, face)
      i += 1
    }
  }

  /** One frame's [[gatedFaces]] as (det_idx, x1, y1, x2, y2, conf). */
  def keptFaces(detector: FaceDetector, videoId: Long, frame: Int, content: Double,
      confTh: Double = ConfTh): Seq[(Int, Double, Double, Double, Double, Double)] = {
    val out = Seq.newBuilder[(Int, Double, Double, Double, Double, Double)]
    gatedFaces(detector, videoId, frame, content, confTh) { case (i, (x1, y1, x2, y2, conf)) =>
      out += ((i, x1, y1, x2, y2, conf))
    }
    out.result()
  }

  /** frames(video_id, frame, content) → detections with conf filter. */
  def detectFaces(spark: SparkSession, frames: DataFrame, detector: FaceDetector,
      confTh: Double = ConfTh): DataFrame = {
    import spark.implicits._
    frames.select(col("video_id").cast("long"), col("frame").cast("int"),
        col("content").cast("double"))
      .as[(Long, Int, Double)]
      .mapPartitions { it =>
        // per-partition init point for the real model
        it.flatMap { case (v, f, c) =>
          keptFaces(detector, v, f, c, confTh).map { case (i, x1, y1, x2, y2, conf) =>
            (v, f, i, x1, y1, x2, y2, conf)
          }
        }
      }
      .toDF("video_id", "frame", "det_idx", "x1", "y1", "x2", "y2", "conf")
  }

  /** Attach scene_id to detections: broadcast the scene table and
    * range-join frame ∈ [start, end). The per-video kernel does the
    * same with a sorted walk over the video's own scenes. */
  def assignScenes(dets: DataFrame, scenes: DataFrame, minSceneLen: Int = MinSceneLen): DataFrame = {
    val keptScenes = scenes
      .filter(col("end_frame") - col("start_frame") >= minSceneLen) // shot-length gate
      .select(col("video_id").as("s_vid"), col("scene_id"),
        col("start_frame"), col("end_frame"))
    dets.join(broadcast(keptScenes),
        col("video_id") === col("s_vid") &&
          col("frame") >= col("start_frame") && col("frame") < col("end_frame"))
      .drop("s_vid", "start_frame", "end_frame")
  }

  /** Duration-ensemble scoring through the BATCHED kernel
    * (DurationEnsemble.ensemble — demoTalkNet.py:225–270): one group
    * per track (the reference's per-cropped-file unit), frames sorted
    * to the track-local index the model slices on, one scoreBatch call
    * per (duration, batch), multiset mean, numpy-rint rounding. The
    * 100 Hz audio row count is 4× the video frames here (the exact
    * MFCC winstep=0.010 ratio for a stream cut at frame boundaries);
    * a real-media impl passes its actual MFCC row count and the
    * truncation arithmetic (:253–255) takes over. */
  def scoreTracks(spark: SparkSession, trackFrames: Dataset[Tracker.TrackFrame],
      scorer: SpeakerScorer): DataFrame = {
    import spark.implicits._
    trackFrames
      .groupByKey(tf => (tf.video_id, tf.track_id))
      .flatMapGroups { (key: (Long, Long), it: Iterator[Tracker.TrackFrame]) =>
        val rows = it.toArray.sortBy(_.frame)
        val scores = trackScores(key._1, key._2, rows.length, scorer)
        rows.indices.iterator.map { j =>
          val tf = rows(j)
          (tf.video_id, tf.scene_id, tf.track_id, tf.frame, scores(j))
        }
      }
      .toDF("video_id", "scene_id", "track_id", "frame", "score")
  }

  /** Ensemble scores of one track of `n` frames, in frame order.
    * nAudio = 4·nVideo exactly → no truncation, scores align 1:1. */
  def trackScores(videoId: Long, trackId: Long, n: Int, scorer: SpeakerScorer): Array[Double] =
    DurationEnsemble.ensemble(DurationEnsemble.EnsembleInput(videoId, trackId,
      nAudioFrames = n * 4, nVideoFrames = n), scorer)

  /** One track frame: the tracker's box and its ensemble score. */
  final case class ScoredPoint(frame: Int, x1: Double, y1: Double, x2: Double, y2: Double,
      score: Double)
  /** One scored track: its frames in frame order and its segments. */
  final case class ScoredTrack(video_id: Long, scene_id: Long, track_id: Long,
      points: Seq[ScoredPoint], segments: Seq[SpeakingSegments.Segment])

  /** A track's points as a view over the tracker's arrays and the
    * scores: a [[ScoredPoint]] exists only when a reader asks for it
    * (q44's segments never do). */
  private final class ScoredPoints(t: Tracker.Track, scores: Array[Double])
      extends IndexedSeq[ScoredPoint] with Serializable {
    def length: Int = scores.length
    def apply(j: Int): ScoredPoint =
      ScoredPoint(t.f0 + j, t.x1(j), t.y1(j), t.x2(j), t.y2(j), scores(j))
  }

  /** The per-video kernel: one video's (frame, content) rows sorted by
    * frame and its scenes [start, end) in order → its scored tracks.
    * Only frames of scenes passing the MinSceneLen gate are detected,
    * their gated faces appended to one [[Tracker.Faces]] buffer, so a
    * scene is a range of it; tracks are numbered across the video
    * (`Tracker.trackVideo`), and each track's segments are one scan of
    * its scores, so a segment never crosses a track or a scene cut. */
  def scoreVideo(videoId: Long, frames: Array[(Int, Double)], scenes: Seq[(Int, Int)],
      detector: FaceDetector, scorer: SpeakerScorer, threshold: Double,
      minFrames: Int): Iterator[ScoredTrack] = {
    val sceneArr = scenes.toArray
    val fs = new Tracker.Faces(frames.length)
    val bounds = new Array[Int](sceneArr.length + 1) // scene s: faces bounds(s) until bounds(s + 1)
    var s = 0
    var i = 0
    while (i < frames.length) {
      val f = frames(i)._1
      while (s < sceneArr.length && sceneArr(s)._2 <= f) { s += 1; bounds(s) = fs.length }
      if (s < sceneArr.length && sceneArr(s)._1 <= f &&
          sceneArr(s)._2 - sceneArr(s)._1 >= MinSceneLen)
        gatedFaces(detector, videoId, f, frames(i)._2) { (_, d) => fs.add(f, d._1, d._2, d._3, d._4) }
      i += 1
    }
    while (s < sceneArr.length) { s += 1; bounds(s) = fs.length }
    Tracker.trackVideo(fs, Iterator.range(0, sceneArr.length).map(s => (s.toLong, bounds(s), bounds(s + 1))))
      .map { case (sid, tid, t) =>
        val scores = trackScores(videoId, tid, t.length, scorer)
        ScoredTrack(videoId, sid, tid, new ScoredPoints(t, scores),
          SpeakingSegments.scan(t.frames, scores, threshold, minFrames))
      }
  }

  /** Visualization smoothing with the reference's tail quirk
    * (slice upper bound min(i+3, n-1) is EXCLUSIVE of the last score):
    * per-track kernel mirroring the numpy slice exactly. */
  def smoothScoresQuirk(spark: SparkSession, scores: DataFrame): DataFrame = {
    import spark.implicits._
    scores.select(col("video_id").cast("long"), col("track_id").cast("long"),
        col("frame").cast("int"), col("score").cast("double"))
      .as[(Long, Long, Int, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Int, Double)]) =>
        val rows = it.toArray.sortBy(_._3)
        val n = rows.length
        rows.indices.iterator.map { i =>
          val lo = math.max(i - 2, 0)
          val hi = math.min(i + 3, n - 1) // exclusive — the quirk
          val slice = rows.slice(lo, hi)
          val m = if (slice.isEmpty) Double.NaN else slice.map(_._4).sum / slice.length
          (key._1, key._2, rows(i)._3, rows(i)._4, m)
        }
      }
      .toDF("video_id", "track_id", "frame", "score", "smoothed")
  }

  /** The DAG's outputs. Each frame is planned on first use, so a caller
    * that reads one of them (q44 reads `segments`) does not pay the
    * analysis of the others on every call. */
  final class PipelineResult(scenes0: => DataFrame, detections0: => DataFrame,
      tracks0: => DataFrame, procTracks0: => DataFrame, scores0: => DataFrame,
      segments0: => DataFrame, summary0: => DataFrame) {
    lazy val scenes: DataFrame = scenes0
    lazy val detections: DataFrame = detections0
    lazy val tracks: DataFrame = tracks0
    lazy val procTracks: DataFrame = procTracks0
    lazy val scores: DataFrame = scores0
    lazy val segments: DataFrame = segments0
    lazy val summary: DataFrame = summary0
  }

  /** The full DAG. `frames` = (video_id, frame, content) — the decoded
    * canonical-media table the ffmpeg kernel would produce — grouped
    * once by video into [[scoreVideo]], with content-delta scene cuts
    * (`SceneDetect.detect`). Optional `checkpointDir` writes each stage
    * as parquet with the reference's stage names
    * (scene/faces/tracks/scores — the pckl contract). */
  def run(spark: SparkSession, frames: DataFrame,
      detector: FaceDetector = StubDetector, scorer: SpeakerScorer = StubScorer,
      threshold: Double = 0.0, minDurationS: Double = 0.2,
      checkpointDir: Option[String] = None): PipelineResult = {
    import spark.implicits._
    val in = frames.select(col("video_id").cast("long").as("video_id"),
      col("frame").cast("int").as("frame"), col("content").cast("double").as("content"))
    val scored = perVideo(in, col("frame")) { (vid, it: Iterator[(Long, Int, Double)]) =>
      val arr = it.map(r => (r._2, r._3)).toArray
      scoreVideo(vid, arr, SceneDetect.detect(arr), detector, scorer, threshold,
        SpeakingSegments.minFrames(minDurationS))
    }
    finish(spark, SceneDetect.detectAll(spark, frames).toDF(),
      detectFaces(spark, frames, detector), scored, checkpointDir)
  }

  /** The full DAG from a video's STREAM rows, the way decoding numbers
    * frames (batchProcessVideos.py:93–124): each video's rows, in
    * `order`, are its frames 0, 1, …, and the [[FrameDecoder]] seat
    * gives each frame's content from its row. Then the same kernel
    * and outputs as [[run]]. `rows` has a `video_id` column and the
    * columns `order` and the decoder read. */
  def runStream(spark: SparkSession, rows: DataFrame, order: Seq[Column],
      decoder: FrameDecoder = StubDecoder,
      detector: FaceDetector = StubDetector, scorer: SpeakerScorer = StubScorer,
      threshold: Double = 0.0, minDurationS: Double = 0.2,
      checkpointDir: Option[String] = None): PipelineResult = {
    import spark.implicits._
    val in = rows.withColumn("video_id", col("video_id").cast("long"))
    implicit val packet: Encoder[Row] = Encoders.row(in.schema)
    def decoded(vid: Long, it: Iterator[Row]): Array[(Int, Double)] =
      it.zipWithIndex.map { case (p, f) => (f, decoder.decode(vid, f, p)) }.toArray
    val scored = perVideo(in, order: _*) { (vid, it: Iterator[Row]) =>
      val arr = decoded(vid, it)
      scoreVideo(vid, arr, SceneDetect.detect(arr), detector, scorer, threshold,
        SpeakingSegments.minFrames(minDurationS))
    }
    lazy val frames = perVideo(in, order: _*) { (vid, it: Iterator[Row]) =>
      decoded(vid, it).iterator.map { case (f, c) => (vid, f, c) }
    }.toDF("video_id", "frame", "content")
    finish(spark, SceneDetect.detectAll(spark, frames).toDF(),
      detectFaces(spark, frames, detector), scored, checkpointDir)
  }

  /** The full DAG from RAW frame payloads: scene cuts and the content
    * the detector sees both come from the REAL ContentDetector chain
    * (fixed-point HSV + mean-|Δ| vs the previous frame —
    * SceneDetect.frameContents; the first frame of a video scores 0.0,
    * the detector's no-predecessor frame), computed once per video
    * inside the same per-video kernel group. Only the payload decode
    * remains a stub seat. `payloads` = (video_id, frame, payload). */
  def runFromPayloads(spark: SparkSession, payloads: DataFrame, h: Int = 16, w: Int = 16,
      sceneThreshold: Double = 27.0, minSceneLen: Int = 15,
      detector: FaceDetector = StubDetector, scorer: SpeakerScorer = StubScorer,
      threshold: Double = 0.0, minDurationS: Double = 0.2,
      checkpointDir: Option[String] = None): PipelineResult = {
    import spark.implicits._
    val in = payloads.select(col("video_id").cast("long").as("video_id"),
      col("frame").cast("int").as("frame"), col("payload").cast("binary").as("payload"))
    def contents(it: Iterator[(Long, Int, Array[Byte])]): Array[(Int, Double)] =
      SceneDetect.frameContents(it.map(r => (r._2, r._3)).toArray, h, w)
    val scored = perVideo(in, col("frame")) { (vid, it: Iterator[(Long, Int, Array[Byte])]) =>
      val arr = contents(it)
      scoreVideo(vid, arr, SceneDetect.cuts(arr, sceneThreshold, minSceneLen),
        detector, scorer, threshold, SpeakingSegments.minFrames(minDurationS))
    }
    lazy val frames = perVideo(in, col("frame")) { (vid, it: Iterator[(Long, Int, Array[Byte])]) =>
      contents(it).iterator.map { case (f, c) => (vid, f, c) }
    }.toDF("video_id", "frame", "content")
    finish(spark,
      SceneDetect.contentScenes(spark, in, h, w, sceneThreshold, minSceneLen).toDF(),
      detectFaces(spark, frames, detector), scored, checkpointDir)
  }

  /** The one per-video grouping of every entry: `rows` hash-partitioned
    * by `video_id`, each video's rows handed to `kernel` sorted by
    * `order` — Spark's grouping sort does the ordering, so no kernel
    * sorts its input. */
  private def perVideo[V: Encoder, T: Encoder](rows: DataFrame, order: Column*)(
      kernel: (Long, Iterator[V]) => Iterator[T]): Dataset[T] =
    rows.groupBy(col("video_id")).as[Long, V](Encoders.scalaLong, implicitly[Encoder[V]])
      .flatMapSortedGroups(order: _*)(kernel)

  /** `tracks`, `scores` and `segments` project the kernel output;
    * `scenes` and `detections` are staged frames off the segments
    * lineage. Stage checkpoints are hive-partitioned by video_id
    * (SURVEY §1.3), so a per-video read (the reference's resume/debug
    * unit) prunes. */
  private def finish(spark: SparkSession, scenes: => DataFrame, detections: => DataFrame,
      scored: Dataset[ScoredTrack], checkpointDir: Option[String]): PipelineResult = {
    def checkpoint(df: DataFrame, name: String): DataFrame = checkpointDir match {
      case Some(dir) =>
        df.write.mode("overwrite").partitionBy("video_id").parquet(s"$dir/$name")
        spark.read.parquet(s"$dir/$name")
      case None => df
    }
    // the tracks and scores checkpoints both write the kernel output
    val out = if (checkpointDir.isDefined) scored.persist(StorageLevel.MEMORY_AND_DISK) else scored
    lazy val points = out.select(col("video_id"), col("scene_id"), col("track_id"),
      inline(col("points")))
    lazy val tracks = checkpoint(points.drop("score"), "tracks")
    lazy val scores = checkpoint(points.drop("x1", "y1", "x2", "y2"), "scores")
    // Segments end on a shuffle into ONE partition: the kernel runs
    // once into it, and a consumer that reads segments twice (the
    // summary) or sorts them (q44's global orderBy) reads the small
    // shuffle output, with no range-sampling job and no second
    // exchange. Segments are a few percent of the frames. `inline`
    // would infer a size filter that stops `points` being pruned from
    // the kernel's serializer, hence inline_outer and a filter after it.
    lazy val segments = SpeakingSegments.table(out.select(col("video_id"), col("track_id"),
        inline_outer(col("segments"))).filter(col("seg_id").isNotNull),
      Seq(col("video_id"), col("track_id"))).repartition(1)
    val r = new PipelineResult(checkpoint(scenes, "scene"), checkpoint(detections, "faces"),
      tracks, TrackGeometry.procTracks(spark, tracks).toDF(), scores, segments,
      // per-video human summary (extractSpeakingSegments.py:152–175)
      segments.groupBy(col("video_id"))
        .agg(countDistinct(col("track_id")).as("n_tracks"),
          count(lit(1)).as("n_segments"),
          sum(col("n_frames")).as("total_frames"),
          round(sum(col("duration_s") * 1000).cast("long") / 1000.0, 3).as("total_speaking_s")))
    // the stage checkpoints are written by this call, not on first read
    if (checkpointDir.isDefined) Seq(r.scenes, r.detections, r.tracks, r.scores)
    r
  }
}
