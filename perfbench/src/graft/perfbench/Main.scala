package graft.perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a pass: its name, the items (frames, queries) it
  * processes and its body, which returns the hash of its result and
  * the result's row count. */
final case class Op(name: String, items: Long, body: () => (String, Long))

/** The outcome of one op: its wall time, result hash and rows. */
final case class OpResult(name: String, secs: Double, hash: String, rows: Long,
    items: Long, error: Option[String])

/** A workload runs passes of ops. The check pass is untimed and writes
  * what perfbench/run.py compares against the oracles; every later
  * pass compares each op's hash with the check pass. */
trait Workload {
  /** Set-up parts in seconds. */
  def setup(): Map[String, Double]
  /** The ops of one pass, in the order they run. */
  def ops(kind: String, index: Int, tracer: Tracer, checkDir: Option[String]): Seq[Op]
  /** Extra traced work (stage-by-stage DAG, kernel shapes); returns
    * per-layer metrics it measured directly. */
  def traceExtras(tracer: Tracer): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Main {
  final case class Args(workload: String, data: String, out: String, seconds: Double,
      trace: Boolean, seed: Long, cores: Int, fault: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("trace") == "1",
      m("seed").toLong, m("cores").toInt, m.get("fault").filter(_.nonEmpty))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** local[nproc] with four tasks per core in every stage (scans and
    * shuffles), so a core that runs slow for a while takes fewer tasks
    * instead of setting the stage's time. */
  def session(a: Args): SparkSession = {
    val work = s"${a.data}/work"
    val tasks = (4 * a.cores).toString
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", tasks)
      .config("spark.sql.files.minPartitionNum", tasks)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.install(s)
    s
  }

  /** Order-independent hash of a DataFrame's rows, observed on the way
    * into the sink: the sum of per-row xxhash64 values plus the count. */
  def hashed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")
    (df.observe(obs, sum(h).as("h"), count(lit(1)).as("n")), obs)
  }

  /** Runs `df` through the noop sink, or into parquet under `checkDir`
    * for the oracle comparison; returns (hash, rows). */
  def sink(df: DataFrame, checkDir: Option[String]): (String, Long) = {
    val (d, obs) = hashed(df)
    checkDir match {
      case Some(dir) => d.coalesce(1).write.mode("overwrite").parquet(dir)
      case None => d.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    (s"$n:${Option(m("h")).getOrElse(0)}", n)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "pipeline_dag" => new PipelineDag(a)
      case "query_mix" => new QueryMix(a)
      case other => sys.error(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap[String, Any]()
    val (setupParts, setupS) = time(wl.setup())
    out("setup_s") = setupS
    out("setup_parts") = setupParts
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val expected = mutable.Map[String, String]()
    val off = new Tracer(false)
    var injected = false

    /** Runs one pass, records it and returns its wall time: the sum of
      * its ops' times. The reset after each op is not timed, and the
      * host counters leave it out too. */
    def runPass(kind: String, index: Int, tracer: Tracer): Double = {
      val checkDir = if (kind == "check") Some(s"${a.data}/check") else None
      tracer.pass = index
      var host = HostSample.zero
      val results = wl.ops(kind, index, tracer, checkDir).map { op =>
        val h0 = Host.sample()
        val (r, secs) = time(Try(op.body()))
        host = host + (Host.sample() - h0)
        Workloads.reset(SparkSession.active)
        r match {
          case Success((h, n)) => OpResult(op.name, secs, h, n, op.items, None)
          case Failure(e) => OpResult(op.name, secs, "", 0, op.items,
            Some(s"${e.getClass.getName}: ${e.getMessage}"))
        }
      }
      val wall = results.map(_.secs).sum
      val judged = results.map { o =>
        if (kind == "check") { if (o.error.isEmpty) expected(o.name) = o.hash; o }
        else if (!injected && a.fault.contains(o.name) && kind != "warm") {
          injected = true
          o.copy(error = Some("injected fault: result hash corrupted"))
        } else if (o.error.isEmpty && !expected.get(o.name).contains(o.hash))
          o.copy(error = Some(s"hash ${o.hash} != checked ${expected.getOrElse(o.name, "none")}"))
        else o
      }
      val rec = Map[String, Any]("kind" -> kind, "index" -> index, "wall_s" -> wall,
        "items" -> judged.map(_.items).sum, "host" -> Host.report(host),
        "ops" -> judged.map(o => Map("name" -> o.name, "secs" -> o.secs, "hash" -> o.hash,
          "rows" -> o.rows, "items" -> o.items, "error" -> o.error)))
      passes += rec
      System.err.println(f"[perfbench] ${a.workload} $kind pass $index: $wall%.3f s")
      wall
    }

    // the check pass also warms up: it runs at the measured scale
    runPass("check", 0, off)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 1
    // Measure whole passes from pass `start` while the next one fits in
    // the window (at least two; a pass is sized to take several seconds).
    var last = 0.0
    def more(start: Int) = i < start + 2 || elapsed + last <= a.seconds
    if (!a.trace) {
      while (more(1)) { last = runPass("timed", i, off); i += 1 }
    } else {
      // Traced run: one untimed pass first, so the JIT's warm-up does not
      // land on the first untraced pass; then alternate untraced and
      // traced passes in one JVM, so the difference of their medians is
      // the tracing overhead.
      runPass("warm", i, off)
      i += 1
      val start = i
      val tracer = new Tracer(true)
      val counters = new SparkCounters(SparkSession.active)
      def count(on: Boolean): Unit = {
        if (!on) counters.drain()
        counters.on = on
      }
      while (more(start)) {
        val on = (i - start) % 2 == 1
        count(on)
        last = runPass(if (on) "traced" else "untraced", i, if (on) tracer else off)
        count(false)
        i += 1
      }
      tracer.pass = i
      val extras = wl.traceExtras(tracer)
      out("counters") = counters.snapshot()
      out("extras") = extras
      out("spans") = tracer.toJson
    }
    out("passes") = passes.toSeq
    out("peak_rss_mb") = Host.peakRssMb()
    wl.close()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json(out))
  }
}
