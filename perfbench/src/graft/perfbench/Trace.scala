package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the result file perfbench/run.py reads. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Host and JVM counters sampled around every pass, so a pass that
  * lands in a stall window (steal, iowait) or a GC/JIT burst shows it. */
final case class HostSample(cpuTotal: Long, steal: Long, iowait: Long, gcMs: Long,
    jitMs: Long, procCpuNs: Long, jitCpuNs: Long, allocBytes: Long) {
  private def zip(o: HostSample, f: (Long, Long) => Long) = HostSample(
    f(cpuTotal, o.cpuTotal), f(steal, o.steal), f(iowait, o.iowait), f(gcMs, o.gcMs),
    f(jitMs, o.jitMs), f(procCpuNs, o.procCpuNs), f(jitCpuNs, o.jitCpuNs), f(allocBytes, o.allocBytes))
  def +(o: HostSample): HostSample = zip(o, _ + _)
  def -(o: HostSample): HostSample = zip(o, _ - _)
}

object HostSample {
  val zero: HostSample = HostSample(0, 0, 0, 0, 0, 0, 0, 0)
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def sample(): HostSample = {
    // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal ...
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    val total = f.take(8).sum
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    HostSample(total, f(7), f(4), gc, jit, os.getProcessCpuTime, compilerCpuNs(),
      threads.getTotalThreadAllocatedBytes)
  }

  /** CPU time of the JIT compiler threads, from /proc/self/task/<tid>/stat
    * (utime + stime in clock ticks of 10 ms). */
  private def compilerCpuNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum
  }

  /** The figures of a difference of two samples (or a sum of them). */
  def report(d: HostSample): Map[String, Double] = {
    val tot = math.max(1L, d.cpuTotal).toDouble
    Map(
      "steal_frac" -> d.steal / tot,
      "iowait_frac" -> d.iowait / tot,
      "gc_s" -> d.gcMs / 1e3,
      "jit_s" -> d.jitMs / 1e3,
      // the JIT's own CPU is a warm-up cost that shrinks with the JVM's
      // age; it is reported apart so it does not blur the program's cost
      "cpu_s" -> (d.procCpuNs - d.jitCpuNs) / 1e9,
      "jit_cpu_s" -> d.jitCpuNs / 1e9,
      "alloc_mb" -> d.allocBytes / 1048576.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** In-memory spans recorded around the benchmark's calls into each
  * layer. Disabled tracers run the body and record nothing. Self times
  * are derived from the written spans (perfbench/metrics.py). */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long, end: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var pass: Int = -1
  private val t0 = System.nanoTime()

  /** Id of the innermost open span on this thread (0 = none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val p = if (parent >= 0) parent else outer.headOption.getOrElse(0)
      stack.set(id :: outer)
      val s = System.nanoTime()
      try body finally {
        stack.set(outer)
        spans.add(Span(id, name, p, pass, s - t0, System.nanoTime() - t0))
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_ns" -> s.start, "end_ns" -> s.end)
  }
}

/** Spark engine, query, streaming and sink counters for the traced run,
  * from the public listener APIs. Counters accumulate only while
  * `on` is set; `drain` waits for the asynchronous listener bus. */
final class SparkCounters(spark: SparkSession) {
  @volatile var on = false
  private val events = new AtomicLong(0)
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  private val taskTimes = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var worstSkew = 0.0
  private val streamStart = mutable.Map[java.util.UUID, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); if (on) add("spark.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      if (on) {
        add("spark.stages", 1)
        val ts = c.synchronized(taskTimes.remove(e.stageInfo.stageId)).getOrElse(mutable.ArrayBuffer())
        if (ts.size >= 2) {
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) c.synchronized { worstSkew = math.max(worstSkew, sorted.last / med) }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (on && m != null) {
        val info = e.taskInfo
        add("spark.tasks", 1)
        add("spark.task_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.scheduler_delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("sources.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        c.synchronized {
          c("spark.peak_exec_mem_mb") = math.max(c("spark.peak_exec_mem_mb"),
            m.peakExecutionMemory / 1048576.0)
          taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      if (on) {
        add("queries.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
        add("queries.exec_s", durationNs / 1e9)
        val writes = qe.executedPlan.collect { case w: DataWritingCommandExec => w }
        if (writes.nonEmpty) {
          add("sinks.write_s", durationNs / 1e9)
          writes.foreach { w =>
            w.cmd.metrics.get("numFiles").foreach(m => add("sinks.files_written", m.value.toDouble))
            w.cmd.metrics.get("numOutputBytes").foreach(m => add("sinks.output_mb", m.value / 1048576.0))
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      events.incrementAndGet()
      c.synchronized { streamStart(e.id) = System.nanoTime() }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      if (on) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
        add("streaming.batches", 1)
        add("streaming.trigger_s", d.getOrElse("triggerExecution", 0L) / 1e3)
        add("streaming.planning_s", d.getOrElse("queryPlanning", 0L) / 1e3)
        add("streaming.wal_commit_s", d.getOrElse("walCommit", 0L) / 1e3)
        add("streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      events.incrementAndGet()
      val s = c.synchronized(streamStart.remove(e.id))
      if (on) s.foreach(t => add("streaming.lifetime_s", (System.nanoTime() - t) / 1e9))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Wait until the listener bus has been quiet for 250 ms (max 5 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(250)
    }
  }

  def snapshot(): Map[String, Double] = c.synchronized {
    c.toMap + ("spark.stage_skew" -> worstSkew)
  }
}
