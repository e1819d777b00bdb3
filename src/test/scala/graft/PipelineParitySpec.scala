package graft

import graft.operators.{DurationEnsemble, SceneDetect, SpeakingSegments, Tracker}
import graft.pipeline.BatchPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{max, min}

/** `BatchPipeline.run` groups each video once and runs its per-video
  * kernel; the staged chain runs one Spark stage per step. Both must
  * give the same tracks and scores, on inputs that reach the branches
  * q44's data never does. */
class PipelineParitySpec extends SparkSpec {

  /** Video 1: three faces per frame (a drifting face, a static one and
    * a near twin of the first, which the CPython iterator skip leaves
    * for a later pass), the drifting face below the conf gate every
    * 7th frame, the drifting pair gone for 16 frames (> numFailedDet),
    * and faces in a trailing 10-frame scene. Video 2: one face, no
    * cut. Video 3: no detections. */
  object ParityDetector extends BatchPipeline.FaceDetector {
    def detect(v: Long, f: Int, c: Double): Seq[(Double, Double, Double, Double, Double)] = {
      val a = (f * 0.5, 10.0, f * 0.5 + 20, 30.0, if (f % 7 == 3) 0.85 else 0.95)
      val b = (100.0, 100.0, 130.0, 130.0, 0.99)
      val twin = (f * 0.5 + 1, 11.0, f * 0.5 + 21, 31.0, 0.97)
      v match {
        case 1L if f >= 20 && f < 36 => Seq(b)
        case 1L => Seq(a, b, twin)
        case 2L => Seq(a)
        case _ => Seq.empty
      }
    }
  }

  private def frames: DataFrame = {
    import spark.implicits._
    // video 1 cuts at 60 and 120: scenes [0,60) [60,120) [120,130)
    ((0 until 130).map(f => (1L, f, if (f >= 60 && f < 120) 120.0 else 10.0)) ++
      (0 until 80).map(f => (2L, f, 10.0)) ++
      (0 until 50).map(f => (3L, f, 10.0)))
      .toDF("video_id", "frame", "content")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The staged chain: scenes → detections → tracks → scores. */
  private def staged(frames: DataFrame, det: BatchPipeline.FaceDetector,
      scorer: BatchPipeline.SpeakerScorer) = {
    val scenes = SceneDetect.detectAll(spark, frames).toDF()
    val dets = BatchPipeline.detectFaces(spark, frames, det)
    val tracks = Tracker.trackAll(spark, BatchPipeline.assignScenes(dets, scenes))
    (scenes, dets, tracks, BatchPipeline.scoreTracks(spark, tracks, scorer))
  }

  test("run's tracks and scores equal the staged chain's, row for row") {
    import spark.implicits._
    val det = ParityDetector
    val (scenes, dets, tracks, stagedScores) = staged(frames, det, BatchPipeline.StubScorer)
    val r = BatchPipeline.run(spark, frames, detector = det)

    assert(rows(r.tracks) === rows(tracks.toDF()))
    assert(rows(r.scores) === rows(stagedScores))

    // the inputs reach the branches they are built for
    assert(scenes.filter($"video_id" === 1).count() === 3)
    assert(dets.filter($"video_id" === 1 && $"frame" === 0).count() === 3)
    assert(dets.filter($"video_id" === 1 && $"frame" >= 120).count() > 0)
    assert(dets.filter($"video_id" === 1 && $"frame" === 3).count() === 2) // conf drop
    val t = r.tracks
    assert(t.filter($"video_id" === 1 && $"frame" >= 120).count() === 0)
    assert(t.filter($"video_id" === 1 && $"scene_id" === 0)
      .select("track_id").distinct().count() >= 3) // the gap splits a track
    assert(t.filter($"video_id" === 2).select("scene_id").distinct().count() === 1)
    assert(t.filter($"video_id" === 3).count() === 0)
    assert(r.scores.count() === t.count())
  }

  /** Every frame speaks, so every track is exactly one segment. */
  object AlwaysSpeaking extends DurationEnsemble.BatchScorer {
    def scoreBatch(in: DurationEnsemble.EnsembleInput, duration: Int, batchIdx: Int,
        aLo: Int, aHi: Int, vLo: Int, vHi: Int): Array[Double] = Array.fill(vHi - vLo)(1.0)
  }

  /** One face that drifts on through the cuts, and in video 5 a static
    * second face: a speaking track ends at every cut and the next
    * scene's track starts on the next frame. */
  object ThroughCuts extends BatchPipeline.FaceDetector {
    def detect(v: Long, f: Int, c: Double): Seq[(Double, Double, Double, Double, Double)] = {
      val a = (f * 0.1, 10.0, f * 0.1 + 20, 30.0, 0.95)
      if (v == 5L) Seq(a, (100.0, 100.0, 130.0, 130.0, 0.99)) else Seq(a)
    }
  }

  test("tracks are numbered per video and a segment never crosses a scene cut") {
    import spark.implicits._
    // video 4 cuts at 40 and 80: scenes [0,40) [40,80) [80,120);
    // video 5 cuts at 50: two faces in each of [0,50) [50,100)
    val multi = ((0 until 120).map(f => (4L, f, if (f >= 40 && f < 80) 120.0 else 10.0)) ++
      (0 until 100).map(f => (5L, f, if (f >= 50) 120.0 else 10.0)))
      .toDF("video_id", "frame", "content")
    val (_, _, _, stagedScores) = staged(multi, ThroughCuts, AlwaysSpeaking)
    val r = BatchPipeline.run(spark, multi, detector = ThroughCuts, scorer = AlwaysSpeaking)

    val perTrack = r.tracks.groupBy("video_id", "scene_id", "track_id")
      .agg(min("frame").as("f0"), (max("frame") + 1).as("f1"))
    assert(perTrack.count() === 7)
    // track ids are unique per video
    assert(perTrack.select("video_id", "track_id").distinct().count() === 7)
    // one segment per track, inside its track's frames
    assert(r.segments.count() === 7)
    val inside = r.segments.join(perTrack, Seq("video_id", "track_id"))
      .filter($"start_frame" === $"f0" && $"end_frame" === $"f1")
    assert(inside.count() === 7)
    // no segment spans a scene cut
    val crossing = r.segments.join(r.scenes.withColumnRenamed("start_frame", "s0")
        .withColumnRenamed("end_frame", "s1"), Seq("video_id"))
      .filter($"s0" > $"start_frame" && $"s0" < $"end_frame")
    assert(crossing.count() === 0)
    assert(rows(r.segments) === rows(SpeakingSegments.extract(stagedScores, 0.0, 0.2)))
  }
}
