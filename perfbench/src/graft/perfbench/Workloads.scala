package graft.perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.nn.{MapWeights, S3fdNet, TalkNetAudit, TalkNetModel, Tensor}
import graft.operators.{DurationEnsemble, S3fdPost, SceneDetect, SpeakingSegments, Tracker}
import graft.pipeline.{BatchPipeline, ModelWeights}
import graft.queries.NnQueries

object Workloads {
  /** Drop what a query left behind: persisted intermediates and
    * streaming memory-sink views. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def writeOracle(dir: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      Json(names.map(n => n -> sql(n)).toMap))
  }
}

/** q44: the whole reference DAG (scenes → faces → tracks → scores →
  * segments) on a generated events table, one op per pass, item =
  * one frame. */
final class PipelineDag(a: Main.Args) extends Workload {
  private val key = "q44_pipeline_e2e"
  private var spark: SparkSession = _
  private var frames = 0L
  private var checked = ""

  def setup(): Map[String, Double] = {
    val (s, sessionS) = Main.time(Main.session(a))
    spark = s
    frames = scala.io.Source.fromFile(s"${a.data}/frames.txt").mkString.trim.toLong
    Workloads.writeOracle(a.data, Seq(key))
    Map("session_s" -> sessionS)
  }

  def ops(kind: String, index: Int, tracer: Tracer, checkDir: Option[String]): Seq[Op] =
    Seq(Op("q44", frames, () => {
      val r = tracer.span("q44") {
        Main.sink(SparkEntry.queries(key)(spark, a.data), checkDir.map(d => s"$d/$key"))
      }
      if (kind == "check") checked = r._1
      r
    }))

  /** q44 one stage at a time, each stage's input persisted, so every
    * stage span is that stage's own work. TrackGeometry.procTracks is
    * left out: it is not on the segments lineage. Then the nn layer. */
  override def traceExtras(tracer: Tracer): Map[String, Double] = {
    val s = spark
    import s.implicits._
    def stage[T](name: String)(ds: => Dataset[T]): (Dataset[T], Long) =
      tracer.span(s"pipeline.$name") {
        val d = ds.persist(StorageLevel.MEMORY_AND_DISK)
        (d, d.count())
      }
    val (fr, tr, nFrames, nDet, nScored, hash, nSeg) = tracer.span("pipeline.staged") {
      val (fr, nFrames) = stage("frames") {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        graft.sources.Tables.events(s, a.data)
          .withColumn("frame", (row_number().over(w) - 1).cast("int"))
          .select(col("user_id").as("video_id"), col("frame"),
            (floor(col("frame") / 100) * 80.0 + 10.0).as("content"))
      }
      val (sc, _) = stage("scenes")(SceneDetect.detectAll(s, fr).toDF())
      val (det, nDet) = stage("detect")(BatchPipeline.detectFaces(s, fr, BatchPipeline.StubDetector))
      val (sd, _) = stage("assign")(BatchPipeline.assignScenes(det, sc))
      val (tr, _) = stage("track")(Tracker.trackAll(s, sd))
      val (scores, nScored) = stage("score")(
        BatchPipeline.scoreTracks(s, tr, DurationEnsemble.HashBatchScorer))
      val (hash, nSeg) = tracer.span("pipeline.segments") {
        Main.sink(SpeakingSegments.extract(scores, 0.0, 0.2, fps = 25,
          keyCols = Seq("video_id", "track_id"))
          .orderBy(col("video_id"), col("track_id"), col("seg_id")), None)
      }
      (fr, tr, nFrames, nDet, nScored, hash, nSeg)
    }
    require(hash == checked, s"q44 staged stage by stage gave $hash, the fused DAG $checked")
    val offered = fr.as[(Long, Int, Double)]
      .map(r => BatchPipeline.StubDetector.detect(r._1, r._2, r._3).size.toLong).reduce(_ + _)
    val nTracks = tr.select("video_id", "scene_id", "track_id").distinct().count()
    Workloads.reset(s)
    NnLayer.trace(tracer, a.data, a.seed, math.max(1, a.cores - 1)) ++
    Map("pipeline.frames" -> nFrames.toDouble, "pipeline.detections" -> nDet.toDouble,
      "pipeline.tracks" -> nTracks.toDouble, "pipeline.scored_frames" -> nScored.toDouble,
      "pipeline.segments" -> nSeg.toDouble,
      "pipeline.det_kept_ratio" -> nDet.toDouble / offered,
      "pipeline.scored_ratio" -> nScored.toDouble / nFrames)
  }

  override def close(): Unit = spark.stop()
}

/** The nn layer, timed in pipeline_dag's traced run: the real S3FD and
  * TalkNet forwards that would fill the pipeline's detector and scorer
  * seats. One clip is S3FD on a q221 audit raster, then one TalkNet
  * score on the q242 audit input, with weights loaded from the
  * TalkNetAudit .pth checkpoint; nproc − 1 callers score a clip each,
  * once to warm up and once traced. */
object NnLayer {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def trace(tracer: Tracer, dir: String, seed: Long, callers: Int): Map[String, Double] = {
    val src = java.nio.file.Paths.get(dir, "talknet_audit.pth")
    java.nio.file.Files.write(src, TalkNetAudit.checkpointBytes)
    val loads = (0 until 3).map { i =>
      Main.time(ModelWeights.loadCheckpoint(s"file:$src", "talknet_audit.pth",
        s"$dir/work/ckpt$i", sha256 = Some(TalkNetAudit.checkpointSha256)))
    }
    val params = loads.head._1.params
    val rnd = new scala.util.Random(seed)
    val docs = Seq.fill(callers)((rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong))
    val alloc = new AtomicLong(0)
    val pool = Executors.newFixedThreadPool(callers)
    def round(tr: Tracer): Unit = {
      val parent = tr.current
      docs.map { case (doc, raster) =>
        pool.submit[Unit](() => tr.span("clip", parent) {
          val model = new TalkNetModel(MapWeights(params, TalkNetAudit.NoFallback))
          val net = new S3fdNet(NnQueries.S3fdAuditStore)
          val a0 = threads.getCurrentThreadAllocatedBytes
          val (loc, conf, maps) = tr.span("nn.s3fd.forward")(
            net.forward(S3fdNet.preprocess(NnQueries.q221Raster(raster), 32, 32)))
          tr.span("nn.s3fd.post")(S3fdPost.detectFrame(loc, conf, S3fdPost.priors(32, 32, maps), 32, 32, 0.8))
          val scores = tr.span("nn.talknet.score")(
            model.score(TalkNetAudit.mfccFor(doc), TalkNetAudit.frames, 112, 112))
          alloc.addAndGet(threads.getCurrentThreadAllocatedBytes - a0)
          val want = TalkNetAudit.expectedScores(doc)
          require(scores.map(java.lang.Double.doubleToRawLongBits).sameElements(
            want.map(java.lang.Double.doubleToRawLongBits)),
            s"doc $doc: TalkNet scores ${scores.mkString(",")} != expected ${want.mkString(",")}")
        })
      }.foreach(_.get())
    }
    round(new Tracer(false))
    alloc.set(0)
    round(tracer)
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)

    // score() runs the three stems and the attention/head in one call,
    // where no span reaches: call the stems on their own, then score()
    val model = new TalkNetModel(MapWeights(params, TalkNetAudit.NoFallback))
    val mfcc = TalkNetAudit.mfccFor(docs.head._1)
    val frames = TalkNetAudit.frames
    val (_, audioS) = Main.time(tracer.span("nn.talknet.audio")(model.audioFrontend(mfcc)))
    val (feat, frontS) = Main.time(
      tracer.span("nn.talknet.visual_frontend")(model.visualFrontendF(frames, 112, 112)))
    val (_, temporalS) = Main.time(tracer.span("nn.talknet.visual_temporal")(model.visualTemporal(feat)))
    val (_, scoreS) = Main.time(tracer.span("nn.talknet.score")(model.score(mfcc, frames, 112, 112)))

    def t(shape: Int*) = Tensor(shape.toArray, Array.tabulate(shape.product)(i => (i % 7) - 3.0))
    val t2 = TalkNetAudit.T
    val kernels: Seq[(String, Double, () => Tensor)] = Seq(
      // visual stem: conv3d 1→64 (5,7,7)/(1,2,2) on T frames of 112²
      ("conv3d", 2.0 * 64 * t2 * 56 * 56 * 5 * 7 * 7, {
        val x = t(1, t2, 112, 112); val w = t(64, 1, 5, 7, 7)
        () => Tensor.conv3d(x, w, None, 1, 2, 2, 2, 3, 3)
      }),
      // ResNet-18 layer1: 64→64 3×3 on 28²
      ("conv2d", 2.0 * 64 * 28 * 28 * 64 * 9, {
        val x = t(64, 28, 28); val w = t(64, 64, 3, 3)
        () => Tensor.conv2d(x, w, None, padH = 1, padW = 1)
      }),
      // visualConv1D: 512→256, k=5 over T frames
      ("conv1d", 2.0 * 256 * t2 * 512 * 5, {
        val x = t(512, t2); val w = t(256, 512, 5)
        () => Tensor.conv1d(x, w, None, pad = 2)
      }),
      // selfAV in-projection: T×256 · 256→768
      ("linear", 2.0 * t2 * 256 * 768, {
        val x = t(t2, 256); val w = t(768, 256)
        () => Tensor.linear(x, w, None)
      }))
    val kernelMetrics = kernels.flatMap { case (name, flops, run) =>
      run()
      var n = 0
      val (_, secs) = Main.time(tracer.span(s"nn.$name") {
        val end = System.nanoTime() + 300000000L
        while (n == 0 || System.nanoTime() < end) { run(); n += 1 }
      })
      Seq(s"nn.$name.gflops" -> flops * n / secs / 1e9, s"nn.$name.gflop" -> flops / 1e9)
    }
    kernelMetrics.toMap ++ Map("nn.talknet.audio_s" -> audioS,
      "nn.talknet.visual_frontend_s" -> frontS, "nn.talknet.visual_temporal_s" -> temporalS,
      "nn.talknet.fusion_s" -> (scoreS - audioS - frontS - temporalS),
      "nn.alloc_mb_per_clip" -> alloc.get / 1048576.0 / callers,
      "nn.checkpoint_load_s" -> Main.median(loads.map(_._2)))
  }
}

/** A fixed list of sf0.1 queries through the noop sink, each pass in a
  * seeded order; item = one query. */
final class QueryMix(a: Main.Args) extends Workload {
  private var spark: SparkSession = _
  /** Query keys of the mix, named by their qNN prefix in queries.txt. */
  private lazy val names: Seq[String] = {
    val keys = SparkEntry.queries.keys.toSeq
    scala.io.Source.fromFile(s"${a.data}/queries.txt").mkString.trim.split("\\s+").toSeq
      .map(p => keys.find(_.startsWith(p + "_")).getOrElse(sys.error(s"no query with prefix $p")))
  }

  def setup(): Map[String, Double] = {
    val (s, sessionS) = Main.time(Main.session(a))
    spark = s
    Workloads.writeOracle(a.data, names)
    Map("session_s" -> sessionS)
  }

  def ops(kind: String, index: Int, tracer: Tracer, checkDir: Option[String]): Seq[Op] =
    new scala.util.Random(a.seed * 7919 + index).shuffle(names).map { n =>
      val short = n.takeWhile(_ != '_')
      Op(short, 1, () => tracer.span(s"queries.$short") {
        Main.sink(SparkEntry.queries(n)(spark, a.data), checkDir.map(d => s"$d/$n"))
      })
    }

  override def close(): Unit = spark.stop()
}
