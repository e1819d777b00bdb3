package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}

import StreamRun._

/** The shared drain's cleanup: a stream whose batch throws leaves no
  * query running and every conf the drain set back as it was. */
class StreamDrainSpec extends SparkSpec {

  test("a failing drain propagates the error, restores its confs and stops its query") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    val boom = udf((x: Long) => if (x == 2L) throw new IllegalStateException("boom") else x)
    spark.conf.unset(NoDataBatches)
    spark.conf.unset(StateProvider)
    val shuffle = spark.conf.get(ShufflePartitions) // set by the session builder
    val err = intercept[Exception] {
      drain(spark, "failing", "spec", mem.toDF().select(boom(col("value"))), "append",
        Seq(ShufflePartitions -> "3", NoDataBatches -> "false", StateProvider -> RocksDbProvider))
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("boom"))), err)
    assert(spark.conf.get(ShufflePartitions) == shuffle)
    val leftSet = Seq(NoDataBatches, StateProvider).filter(spark.conf.getAll.contains)
    assert(leftSet.isEmpty, "a conf unset before the drain stays unset")
    assert(spark.streams.active.isEmpty)
  }
}
