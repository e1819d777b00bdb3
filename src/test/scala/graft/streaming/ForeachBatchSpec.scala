package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** q258's foreachBatch body reads its micro-batch in two places (the
  * max_by union and the count join); the batch must still be scanned
  * once, which the query's progress shows as `numInputRows`. */
class ForeachBatchSpec extends SparkSpec {

  test("q258 scans each micro-batch once") {
    val sf01 = java.nio.file.Paths.get(sf001).resolveSibling("sf0.01").toString
    val rows = new ConcurrentHashMap[Long, Long]()
    val done = new CountDownLatch(1)
    @volatile var run: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = run = e.runId
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == run) rows.put(e.progress.batchId, e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == run) done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      EventStream.foreachBatchMergeRollup(spark, sf01).collect()
      assert(done.await(60, TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    // the two drops split the orders by key parity: 7,500 rows each
    assert(rows.get(0L) === 7500L)
    assert(rows.get(1L) === 7500L)
  }
}
