package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Canonical readers for the driver's parquet tables (TESTDATA.md).
  *
  * Design notes for 100 TB scale: these return plain parquet scans, so
  * Catalyst predicate pushdown / column pruning / partition pruning all
  * apply — callers `select`/`filter` and the scan narrows accordingly.
  * Nothing is cached or collected here, and building a reader runs no
  * Spark job: the events schema is read from one parquet footer on the
  * driver ([[eventsSchema]]).
  *
  * `events.ts` has shipped as parquet TIMESTAMP(NANOS), which Spark 4
  * refuses to read by default (PARQUET_TYPE_ILLEGAL), and as
  * TIMESTAMP(MICROS) with no zone, which Spark reads as TIMESTAMP_NTZ;
  * [[events]] surfaces either as `ts_ns: LongType` (epoch nanoseconds —
  * exactly DuckDB's `epoch_ns(ts)`, which keeps oracle comparisons
  * integer-exact) plus a microsecond-precision `ts` TimestampType for
  * event-time operators. The generators emit whole-microsecond values,
  * so no precision is lost in `ts`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** documents scan with a CPU-work parallelism guard (the round-17
    * measured finding, ARCHITECTURE.md "Scan parallelism vs CPU-heavy
    * text work"): text parquet compresses ~10×, so a 56 MB file is
    * ONE 128 MB-bound scan split carrying ~1.5 GB of tokenize/hash
    * work — the ladder probe caught whole text pipelines flat across
    * a 3× data step because they ran on 1–2 of 32 cores. Widen ONLY
    * when the scan has fewer splits than the session's parallelism:
    * at 100 TB the scan has thousands of splits and this is a no-op
    * (zero shuffle); in the few-large-files regime it decouples
    * per-row CPU parallelism from the split count. `.rdd` here only
    * materializes the physical scan to read its partition count — no
    * job runs. */
  def documentsWide(spark: SparkSession, sfDir: String): DataFrame = {
    val df = table(spark, sfDir, "documents")
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** events with `ts_ns: Long` (epoch nanos) and `ts: Timestamp` (µs),
    * shaped by [[shapeEvents]]. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    shapeEvents(spark.read.schema(eventsSchema(spark, sfDir)).parquet(s"$sfDir/events.parquet"))

  /** [[events]] as a streaming scan, same columns. The file-stream
    * source requires a directory/glob ("basePath must be a directory"):
    * the [e] glob keeps basePath = sfDir but matches only the events
    * table. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    shapeEvents(spark.readStream.schema(eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/[e]vents.parquet"))

  /** The one place that turns a raw events frame's `ts`, batch or
    * streaming, read with [[eventsSchema]], into `ts_ns` (in `ts`'s
    * place) and a µs TimestampType `ts` (appended last).
    *
    * Schema-adaptive: the driver's generator has shipped `ts` both as
    * parquet TIMESTAMP(NANOS) (read as an epoch-ns long via
    * `nanosAsLong`) and as TIMESTAMP(MICROS). Either way the surfaced
    * contract is identical: `ts_ns` is whole-microsecond epoch
    * nanoseconds — exactly DuckDB's `epoch_ns(ts)`, which is
    * µs-precision for both physical types, so every derived integer
    * (gaps, durations, bounds) stays bit-equal to the oracle — and
    * `ts` is a µs TimestampType. Truncation to whole µs is monotone,
    * so orderings are unaffected.
    */
  private def shapeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) file
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_ns", expr("(ts_ns DIV 1000) * 1000"))
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ => // TIMESTAMP(MICROS) file
        raw.select(raw.columns.map {
            case "ts" => (unix_micros(col("ts")) * lit(1000L)).as("ts_ns")
            case c    => col(c)
          }.toIndexedSeq :+ col("ts"): _*)
    }

  /** events.parquet's schema as both events readers scan it: a
    * TIMESTAMP(NANOS) `ts` is an epoch-ns long under `nanosAsLong`, and
    * a zoneless TIMESTAMP(MICROS) `ts`, which Spark infers as
    * TIMESTAMP_NTZ, is declared TimestampType. That read
    * takes the stored micros as they are: no per-row time-zone
    * conversion, and `ts_ns` does not depend on the session time zone,
    * as DuckDB's `epoch_ns` does not.
    *
    * The schema comes from one data file's footer, read on the driver
    * and converted the way Spark's inference converts it (the session's
    * parquet confs, a Spark row-metadata schema in the footer wins), so
    * no schema-inference job runs per call. A directory's data file is
    * its first by name that does not start with `_` or `.`; like
    * inference without `mergeSchema`, the other files are assumed to
    * agree with it. */
  private[graft] def eventsSchema(spark: SparkSession, sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(s"$sfDir/events.parquet")
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    val file = if (!st.isDirectory) st else fs.listStatus(path)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).headOption
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet data file in $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    // nullable, as a file source makes any schema, inferred or given
    StructType(GraftBridge.asNullable(schema).map(f =>
      if (f.name == "ts" && f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
      else f))
  }

  /** events in stream order — by `ts_ns`, ties by `event_id`, nulls
    * first — the order in which a user's events are a video's frames
    * (DuckDB's `ORDER BY epoch_ns(ts), event_id` on these tables). */
  val eventsOrder: Seq[Column] = Seq(col("ts_ns").asc_nulls_first, col("event_id").asc_nulls_first)
}
