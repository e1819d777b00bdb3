package graft

import java.util.concurrent.ConcurrentHashMap

import graft.operators.SceneDetect
import graft.pipeline.BatchPipeline
import org.apache.spark.sql.functions._

/** The face detector is the pipeline's costliest seat (S3FD). Without
  * stage checkpoints, `run` and `runStream` must call it exactly once
  * per frame of a scene that passes the MinSceneLen gate, and never for
  * a frame of a shorter scene. */
class PipelineDetectCountSpec extends SparkSpec {
  import PipelineDetectCountSpec._

  // 100-frame scenes (the stub content jumps every 100 frames); the
  // last scene is 5, 10, 11 and 50 frames long
  private val lengths = Map(1L -> 205, 2L -> 110, 3L -> 111, 4L -> 50)
  private def content(f: Int): Double = (f / 100) * 80.0 + 10.0

  /** (video, frame) of every frame in a scene of >= MinSceneLen frames. */
  private def keptFrames: Set[(Long, Int)] = lengths.toSeq.flatMap { case (v, n) =>
    SceneDetect.detect(Array.tabulate(n)(f => (f, content(f))))
      .filter { case (s, e) => e - s >= BatchPipeline.MinSceneLen }
      .flatMap { case (s, e) => (s until e).map(v -> _) }
  }.toSet

  private def callsDuring(body: => Unit): Map[(Long, Int), Int] = {
    Counting.calls.clear()
    body
    import scala.jdk.CollectionConverters._
    Counting.calls.asScala.map { case (k, n) => k -> n.intValue }.toMap
  }

  test("run calls the detector once per frame of a kept scene") {
    import spark.implicits._
    val frames = lengths.toSeq.flatMap { case (v, n) => (0 until n).map(f => (v, f, content(f))) }
      .toDF("video_id", "frame", "content")
    val calls = callsDuring(BatchPipeline.run(spark, frames, detector = Counting).segments.collect())
    assert(keptFrames.size === 200 + 100 + 111 + 50)
    assert(calls.keySet === keptFrames)
    assert(calls.values.forall(_ == 1))
  }

  test("runStream calls the detector once per frame of a kept scene") {
    import spark.implicits._
    val rows = lengths.toSeq.flatMap { case (v, n) => (0 until n).map(i => (v, i.toLong * 7)) }
      .toDF("video_id", "ts")
    val calls = callsDuring(
      BatchPipeline.runStream(spark, rows, Seq(col("ts")), detector = Counting).segments.collect())
    assert(calls.keySet === keptFrames)
    assert(calls.values.forall(_ == 1))
  }
}

object PipelineDetectCountSpec {
  /** The stub detector, counting its calls per (video, frame). A Scala
    * object: tasks in the local session resolve it to this instance. */
  object Counting extends BatchPipeline.FaceDetector {
    val calls = new ConcurrentHashMap[(Long, Int), Integer]()
    def detect(videoId: Long, frame: Int, content: Double): Seq[(Double, Double, Double, Double, Double)] = {
      calls.merge((videoId, frame), 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      BatchPipeline.StubDetector.detect(videoId, frame, content)
    }
  }
}
