package graft

import graft.operators.DurationEnsemble
import graft.pipeline.BatchPipeline
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q44 numbers each video's frames inside the per-video kernel
  * (`BatchPipeline.runStream`) instead of with a `row_number()` window.
  * On generated events with videos of 150–1,000 frames — several
  * scenes and tracks each, which no test table's events reach — and
  * equal `ts` values that only `event_id` orders, the stream path must
  * give exactly what the window-numbered `run` path gives. */
class PipelineStreamSpec extends SparkSpec {
  import PipelineStreamSpec._

  private val lengths = Seq(150, 237, 400, 613, 999, 1000, 40)

  /** events.parquet: every three consecutive frames of a video share a
    * `ts`, `event_id`s are a seeded permutation (so within a tie the
    * frame order is `event_id` order, not the write order), and the
    * rows are written shuffled over several files. */
  private lazy val dir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    val ids = rnd.shuffle((0 until lengths.sum).toVector).map(_.toLong)
    var k = 0
    val rows = lengths.zipWithIndex.flatMap { case (n, v) =>
      val base = 1700000000000000L + v * 86400000000L
      (0 until n).map { i =>
        val r = (ids(k), base + (i / 3) * 40000L, v.toLong + 7, "frame", i * 0.5, "{}")
        k += 1
        r
      }
    }
    val d = java.nio.file.Files.createTempDirectory("graft_stream").toString
    rnd.shuffle(rows).toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private def stream: DataFrame = Tables.events(spark, dir)
    .select(col("user_id").as("video_id"), col("ts_ns"), col("event_id"))

  /** Frames numbered by the window q44 used before, written out here. */
  private def windowNumbered: DataFrame = stream.withColumn("frame",
    (row_number().over(Window.partitionBy(col("video_id"))
      .orderBy(col("ts_ns"), col("event_id"))) - 1).cast("int"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSame(a: BatchPipeline.PipelineResult, b: BatchPipeline.PipelineResult) = {
    assert(rows(a.scenes) === rows(b.scenes))
    assert(rows(a.tracks) === rows(b.tracks))
    assert(rows(a.scores) === rows(b.scores))
    assert(rows(a.segments) === rows(b.segments))
  }

  test("q44's stream numbering gives the window path's tracks, scores and segments") {
    val hash = DurationEnsemble.HashBatchScorer
    val viaWindow = BatchPipeline.run(spark, windowNumbered.select(col("video_id"), col("frame"),
      (floor(col("frame") / 100) * 80.0 + 10.0).as("content")), scorer = hash)
    val viaStream = BatchPipeline.runStream(spark, stream, Tables.eventsOrder, scorer = hash)
    assertSame(viaStream, viaWindow)

    // q44 itself, in its output order
    val q44 = SparkEntry.queries("q44_pipeline_e2e")(spark, dir).collect().toSeq
    assert(q44 === viaWindow.segments.orderBy("video_id", "track_id", "seg_id").collect().toSeq)

    // every long video has several scenes and several tracks
    def perVideo(df: DataFrame, c: String) = df.groupBy("video_id")
      .agg(countDistinct(col(c))).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scenes = perVideo(viaStream.scenes, "scene_id")
    val tracks = perVideo(viaStream.tracks, "track_id")
    lengths.zipWithIndex.filter(_._1 >= 150).foreach { case (n, v) =>
      assert(scenes(v + 7L) >= 2, s"video of $n frames")
      assert(tracks(v + 7L) >= 2, s"video of $n frames")
    }
    assert(q44.nonEmpty)
  }

  test("each frame's packet is the row the (ts_ns, event_id) order puts there") {
    import spark.implicits._
    val frames = windowNumbered.as[(Long, Long, Long, Int)].map { case (v, ts, e, f) =>
      (v, f, JitterDecoder.decode(v, f, Row(v, ts, e)))
    }.toDF("video_id", "frame", "content")
    val viaWindow = BatchPipeline.run(spark, frames, detector = JitterDetector)
    val viaStream = BatchPipeline.runStream(spark, stream, Tables.eventsOrder,
      decoder = JitterDecoder, detector = JitterDetector)
    assertSame(viaStream, viaWindow)
    // the jitter reaches the tracks: some faces are dropped and bridged
    assert(viaStream.detections.count() < lengths.sum)
  }

  test("q44's plan: no window, no range partitioning, two exchanges") {
    val q44 = SparkEntry.queries("q44_pipeline_e2e")(spark, dir)
    q44.collect()
    object Plan extends AdaptiveSparkPlanHelper
    val plan = q44.queryExecution.executedPlan
    assert(Plan.collect(plan) { case p if p.nodeName.startsWith("Window") => p }.isEmpty, plan)
    val exchanges = Plan.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 2, plan)
    assert(!exchanges.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), plan)
  }
}

object PipelineStreamSpec {
  /** Content that depends on the packet: a jitter of event_id % 5 on
    * the stub's 100-frame steps, too small to cut a scene. */
  object JitterDecoder extends BatchPipeline.FrameDecoder {
    def decode(videoId: Long, frame: Int, packet: Row): Double =
      BatchPipeline.StubDecoder.decode(videoId, frame, packet) + packet.getLong(2) % 5
  }

  /** The stub's drifting face shifted by the jitter, and dropped where
    * the jitter is 0, so tracks see which row each frame came from. */
  object JitterDetector extends BatchPipeline.FaceDetector {
    def detect(videoId: Long, frame: Int, content: Double): Seq[(Double, Double, Double, Double, Double)] = {
      val j = (content - 10.0) % 80.0
      val x = (frame % 200) / 10.0 + j * 0.1
      Seq((x, 10.0, x + 20.0, 25.0, if (j == 0.0) 0.85 else 0.95))
    }
  }
}
