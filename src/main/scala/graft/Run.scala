package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and run-a-query loop every main shares:
  * `Bench`, `Verify`, `Explain` and `OptAbProbe` all build their
  * session here and run each query through `exec`, so they cannot
  * drift apart in setup or in the cleanup between queries.
  */
object Run {
  /** Local-mode cores (and the default shuffle-partition count). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session confs: `local[cpus]`, AQE on, UTC session time, no UI. */
  def conf(cpus: Int, shufflePartitions: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The session every main runs on: `conf`, WARN logging and graft's
    * optimizer rules installed. */
  def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = conf(cpus, shufflePartitions)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }

  /** Drops what one query leaves behind: the frames it persist()ed and
    * the memory-sink views (`graft_stream_*`) its streaming helpers
    * registered. clearCache() does not cover temp views; each helper
    * recreates its own view on its next run. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** The sorted query keys, limited by `only` (SPARK_GRAFT_ONLY, e.g.
    * "q71,q42") to those starting with one of its comma-separated
    * prefixes. Unset = every declared query. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.forall(_.exists(n.startsWith)))
  }

  /** A query that threw instead of finishing. */
  final case class Failed(name: String, cause: Throwable) {
    def message: String = s"$name failed: ${cause.getMessage}"
  }

  /** Full materialization through the noop sink: no count() shortcut,
    * no output cost. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Builds query `name` on `dir` and hands it to `sink`; returns the
    * elapsed seconds of both, or the failure. `reset` always runs
    * after the timed region, so cache and GC pressure do not carry
    * into the next query. Any Throwable counts as a failure: a
    * StackOverflowError in one plan must not end the whole run. */
  def exec(spark: SparkSession, name: String, dir: String)(
      sink: DataFrame => Unit): Either[Failed, Double] = {
    val t0 = System.nanoTime()
    val result =
      try {
        sink(SparkEntry.queries(name)(spark, dir))
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(Failed(name, e)) }
    reset(spark)
    result
  }
}
