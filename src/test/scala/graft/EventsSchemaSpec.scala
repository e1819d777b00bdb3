package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.sources.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Pins the schema-adaptive events contract (the round-8 driver
  * regeneration changed `ts` from TIMESTAMP(NANOS) — an epoch-ns long
  * under `nanosAsLong` — to plain TIMESTAMP(MICROS), which silently
  * broke every events-derived query). Both file vintages must surface
  * the identical (ts_ns whole-µs epoch nanos, µs TimestampType ts)
  * contract, bit-equal between each other and to DuckDB's
  * epoch_ns(ts). */
class EventsSchemaSpec extends SparkSpec {

  test("nanos-long and micros-timestamp vintages surface identical ts_ns") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_evschema")
    val nanosDir = base.resolve("nanos").toString
    val microsDir = base.resolve("micros").toString
    // whole-µs instants plus one with sub-µs nanos (the nanos vintage
    // carried those; truncation must make both vintages agree)
    val rows = Seq(
      (1L, 1700000000_000000000L, 10L, "view", 1.5, "{}"),
      (2L, 1700000001_234567000L, 11L, "click", 2.5, "{}"),
      (3L, 1700000002_345678901L, 12L, "view", 3.5, "{}"))
    // nanos vintage: ts is a raw epoch-ns LONG (what nanosAsLong
    // yields from a TIMESTAMP(NANOS) file)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    // micros vintage: ts is TIMESTAMP_NTZ at µs precision (truncated
    // like the generator's µs output)
    rows.map { case (e, ns, u, t, v, p) => (e, ns / 1000L, u, t, v, p) }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")

    val a = Tables.events(spark, nanosDir)
      .select("event_id", "ts_ns", "ts").collect().sortBy(_.getLong(0))
    val b = Tables.events(spark, microsDir)
      .select("event_id", "ts_ns", "ts").collect().sortBy(_.getLong(0))
    assert(a.toSeq == b.toSeq)
    // whole-µs invariant (what keeps DuckDB integer parity)
    assert(a.forall(_.getLong(1) % 1000L == 0L))
    // sub-µs nanos truncate toward zero: ...678901 → ...678000
    assert(a(2).getLong(1) == 1700000002_345678000L)
  }

  test("the micros vintage gives the same ts_ns under any session time zone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evtz").toString
    Seq((1L, 1700000000123456L), (2L, 1700003600000001L), (3L, 0L))
      .toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        lit(1L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def read() = Tables.events(spark, dir).select("event_id", "ts_ns", "ts")
      .collect().sortBy(_.getLong(0)).toSeq
    val utc = read()
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val la = try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      read()
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
    assert(utc.map(_.getLong(1)) === Seq(1700000000123456000L, 1700003600000001000L, 0L))
    assert(la === utc)
  }

  test("column order and dtypes match across vintages") {
    val real = Tables.events(spark, sf001)
    assert(real.columns.toSeq ==
      Seq("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"))
    assert(real.schema("ts_ns").dataType.typeName == "long")
    assert(real.schema("ts").dataType.typeName == "timestamp")
  }

  /** A TIMESTAMP(NANOS) events file, written with parquet-mr as the
    * older generator wrote it (Spark cannot write that type). */
  private def nanosVintage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_evnanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message schema { optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false));
        |optional int64 user_id; optional binary event_type (STRING); optional double value; }""".stripMargin)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), new Configuration())).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000000L).foreach { case (e, ns) =>
      w.write(g.newGroup().append("event_id", e).append("ts", ns).append("user_id", 3L)
        .append("event_type", "view").append("value", 1.5))
    } finally w.close()
    dir
  }

  /** A Spark-written events directory (part files, `_SUCCESS`, the row
    * metadata schema in each footer), `ts` TIMESTAMP_NTZ. */
  private def sparkVintage(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evspark").toString
    Seq((1L, 1700000000123456L, 5L), (2L, 1700000001000000L, 6L)).toDF("event_id", "us", "user_id")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), lit("click").as("event_type"))
      .repartition(2).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** What inference gives, with `ts` declared as the events readers do. */
  private def inferred(dir: String): StructType =
    StructType(spark.read.parquet(s"$dir/events.parquet").schema.map(f =>
      if (f.name == "ts" && f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f))

  test("the footer schema equals Spark's inferred schema on every vintage") {
    val dirs = Seq("nanos" -> nanosVintage(), "spark dir" -> sparkVintage(), "sf0.001" -> sf001,
      "sf0.01" -> java.nio.file.Paths.get(sf001).resolveSibling("sf0.01").toString)
    dirs.foreach { case (name, dir) =>
      val footer = Tables.eventsSchema(spark, dir) // sets nanosAsLong first
      assert(footer === inferred(dir), name)
    }
    assert(Tables.eventsSchema(spark, dirs.head._2)("ts").dataType.typeName == "long")
  }

  test("Tables.events runs no Spark job") {
    val dir = sparkVintage()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraftTestHooks.drainListenerBus(spark.sparkContext)
      jobs.set(0)
      Seq(dir, sf001, nanosVintage()).foreach(d => Tables.events(spark, d).schema)
      Tables.eventsStream(spark, sf001).schema
      GraftTestHooks.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0)
  }

  test("a missing events path fails with an error that names it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evmissing").toString
    val err = intercept[Exception](Tables.events(spark, dir))
    assert(err.getMessage.contains(s"$dir/events.parquet"), err.getMessage)
  }
}
