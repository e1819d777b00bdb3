package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

/** The lifecycle every oracle-checked streaming query shares: replay a
  * table as ordered file drops ([[replay]]), run the stream into a
  * memory sink until all input is processed ([[drain]]), and read the
  * sink back as a batch frame. Production replaces the replay with a
  * live source and the memory sink with a real one; the plan between
  * them is the same.
  */
private[streaming] object StreamRun {

  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
  val StateProvider = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A stream binds its state-store count to the shuffle-partition
    * setting at start (AQE never re-plans a stream), and every
    * micro-batch commits every store, so a test-scale stream at the
    * session's partition count pays that many commits per stateful
    * operator per batch for state that fits in a handful. The rollups
    * size state to their volume; a production deploy sizes this to
    * sustained throughput instead. */
  val StateParts8: Seq[(String, String)] = Seq(ShufflePartitions -> "8")

  /** Sentinel-drained runs: eviction is driven by the sentinel batches
    * themselves (batch N+1 applies batch N's watermark), so no-data
    * micro-batches would only add state-store commit rounds; 2 stores
    * per stateful operator. */
  val Sentinel: Seq[(String, String)] = Seq(ShufflePartitions -> "2", NoDataBatches -> "false")

  /** `transformWithState` requires the RocksDB state store; 8 stores
    * per stateful operator as for the rollups. */
  val RocksDb8: Seq[(String, String)] = Seq(StateProvider -> RocksDbProvider, ShufflePartitions -> "8")

  /** Runs `df` into a memory sink named `graft_stream_<tag>_<sfDir
    * hash>` in output `mode` until all available input is processed,
    * then stops it and returns the sink table. Any still-active query of
    * that name is stopped first. `confs` are set on the session for the
    * run and each is restored afterwards, success or failure (a conf
    * that was unset stays unset). `checkpoint` pins the checkpoint
    * location, so a second drain of the same frame resumes the first. */
  def drain(spark: SparkSession, tag: String, sfDir: String, df: DataFrame,
      mode: String, confs: Seq[(String, String)],
      checkpoint: Option[String] = None): DataFrame = {
    val name = s"graft_stream_${tag}_" + math.abs(sfDir.hashCode).toString
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val set = spark.conf.getAll // explicitly set confs only
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val w = df.writeStream.outputMode(mode).format("memory").queryName(name)
      val q = checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
      try q.processAllAvailable()
      finally q.stop()
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.table(name)
  }

  /** Writes `drops` in order, one file each ([[writeDrop]]), into
    * `stream/` under a fresh `graft_stream_<tag>` scratch directory and
    * returns that stream directory; its parent holds the query's other
    * scratch files. */
  def replay(spark: SparkSession, tag: String, drops: Seq[DataFrame]): String = {
    val dir = Paths.get(graft.queries.Q.scratchDir(spark, s"graft_stream_$tag")).resolve("stream")
    Files.createDirectories(dir)
    drops.zipWithIndex.foreach { case (df, i) => writeDrop(dir.toString, i, df) }
    dir.toString
  }

  /** Writes `df` into stream directory `dir` as exactly ONE parquet
    * file, `<i>.parquet` (two digits), with an mtime `i` minutes after a
    * fixed base. The file source orders files by mtime, so under
    * `maxFilesPerTrigger` drop i arrives whole and after drop i − 1; one
    * file per drop keeps a drop from fanning into one micro-batch per
    * written partition. */
  def writeDrop(dir: String, i: Int, df: DataFrame): Unit = {
    val stream = Paths.get(dir)
    val tmp = stream.resolveSibling(s"tmp$i")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val parts = try listing.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      finally listing.close()
    parts.foreach { f => // one write task, so at most one file
      val dst = stream.resolve(f"$i%02d.parquet")
      Files.move(f, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
  }

  /** Opens the stream over a replay directory, `filesPerTrigger` drop
    * files per micro-batch. */
  def watch(spark: SparkSession, dir: String, filesPerTrigger: Int): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toLong).parquet(dir)

  /** Splits `df` at the integer midpoint of long column `c`'s span into
    * two time-ordered drops (every row of the first precedes every row
    * of the second), and returns them with the span's max. The folds
    * over these drops see rows in time order whatever the split point,
    * so the answer does not depend on it. */
  def halves(df: DataFrame, c: String): (DataFrame, DataFrame, Long) = {
    val span = df.agg(min(col(c)), max(col(c))).head() // 1-row scalar
    // an empty input has a null span: both halves are then empty
    val Seq(lo, hi) = Seq(0, 1).map(i => if (span.isNullAt(i)) 0L else span.getLong(i))
    val mid = lo + (hi - lo) / 2
    (df.filter(col(c) < mid), df.filter(col(c) >= mid), hi)
  }
}
