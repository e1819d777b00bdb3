package graft

import graft.queries.AnalyticsQueries4
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Semantics pins for the round-12 pack: island merging on a
  * hand-computable timeline, the exact EWMA rational, BFS hop
  * distances on a constructed graph, the OLS solve recovering planted
  * exact coefficients, streaming outer-join equality to its batch
  * plan, and linear-counting sketch invariants. */
class AnalyticsQueries4Spec extends SparkSpec {

  private def run(name: String) =
    AnalyticsQueries4.queries(name)(spark, sf001)

  /** Writes a minimal events.parquet into a scratch dir: rows are
    * (event_id, epoch_us, user_id, event_type, value). */
  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = graft.queries.Q.scratchDir(spark, "analytics4spec")
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q189 merges exactly the windows that overlap") {
    val h = 3600L * 1000000L // one hour in µs
    // user 1: events at 0h, 4h (merge: span 8h), 20h (alone)
    //   → islands [0,12h) and [20h,28h): covered 20h, longest 12h
    // user 2: one event → one island of 8h
    val dir = eventsDir(Seq(
      (1L, 0L, 1L, "view", 1.0), (2L, 4 * h, 1L, "view", 1.0),
      (3L, 20 * h, 1L, "view", 1.0), (4L, 0L, 2L, "view", 1.0)))
    val got = AnalyticsQueries4.queries("q189_interval_coalesce")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val hn = 3600L * 1000000000L
    assert(got.toSeq == Seq(
      (1L, 2L, 20 * hn, 12 * hn),
      (2L, 1L, 8 * hn, 8 * hn)))
  }

  test("q190 weights the last events by descending powers of two") {
    // user 7 with values 1.00, 2.00, 3.00 cents → c = 100, 200, 300.
    // At the last row: num = 300·2⁷ + 200·2⁶ + 100·2⁵ = 54400,
    // den = 2⁷+2⁶+2⁵ = 224.
    val dir = eventsDir(Seq(
      (1L, 1000000L, 7L, "view", 1.0),
      (2L, 2000000L, 7L, "view", 2.0),
      (3L, 3000000L, 7L, "view", 3.0)))
    val got = AnalyticsQueries4.queries("q190_decay_profile")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((7L, 3L, 54400L, 224L)))
  }

  test("q190 den saturates at 255 once a user has ≥ 8 events") {
    val got = run("q190_decay_profile").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, den) = (r.getLong(1), r.getLong(3))
      if (n >= 8) assert(den == 255L)
      else assert(den == (1L << 8) - (1L << (8 - n.toInt)))
    }
  }

  test("q191 assigns min hop distance, not any-hop") {
    // Seeds are pk % 100 == 0. Graph (co-count ≥ 2 needs two shared
    // orders per edge): 100–7 (dist 1), 7–9 (dist 2), 9–100 already
    // dist 0 — a cycle, so min() must win over the 3-hop rediscovery.
    import spark.implicits._
    val dir = graft.queries.Q.scratchDir(spark, "analytics4spec_bfs")
    def orders(ok: Long, pks: Seq[Long]) = pks.map(pk => (ok, pk))
    val li = (orders(1, Seq(100, 7)) ++ orders(2, Seq(100, 7)) ++
      orders(3, Seq(7, 9)) ++ orders(4, Seq(7, 9)) ++
      orders(5, Seq(9, 100)) ++ orders(6, Seq(9, 100)))
      .toDF("l_orderkey", "l_partkey")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(100L, 7L, 9L).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = AnalyticsQueries4.queries("q191_bfs_hops")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 100 at dist 0; 7 and 9 both at dist 1 (9 via the 9–100 edge)
    assert(got.toSeq == Seq((0L, 1L, 100L), (1L, 2L, 16L)))
  }

  test("q192 recovers planted integer coefficients exactly") {
    // y = 500 + 30·hour + 70·dow cents, exactly. The Gram system is
    // then consistent with an integer solution, so num/den must
    // reduce to it: num == coef·den.
    val h = 3600L * 1000000L
    val rows = (0 until 200).map { i =>
      val us = i.toLong * 5 * h
      val hour = (us / h) % 24
      // epoch 0 = Thursday; Spark dayofweek(Sun)=1 → x2 = dow-1
      val dowSpark = ((us / (24 * h) + 4) % 7 + 1)
      val x2 = dowSpark - 1
      val cents = 500 + 30 * hour + 70 * x2
      (i.toLong, us, 1L, "view", cents / 100.0)
    }
    val dir = eventsDir(rows)
    val byCoef = AnalyticsQueries4.queries("q192_ols_normal")(spark, dir)
      .collect().map(r => r.getString(0) -> (BigInt(r.getString(1)), BigInt(r.getString(2)))).toMap
    assert(byCoef("intercept")._1 == BigInt(500) * byCoef("intercept")._2)
    assert(byCoef("hour")._1 == BigInt(30) * byCoef("hour")._2)
    assert(byCoef("dow")._1 == BigInt(70) * byCoef("dow")._2)
    assert(byCoef.values.forall(_._2 > 0), "denominator sign-normalized positive")
  }

  test("q193 streaming outer join equals the batch left join") {
    val batch = {
      val ev = graft.sources.Tables.events(spark, sf001)
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("u"),
          col("ts_ns").as("cns"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("user_id").as("vu"),
          col("ts_ns").as("vns"),
          round(col("value") * 100).cast("long").as("vc"))
      c.join(v, col("vu") === col("u") && col("vns") <= col("cns") &&
          col("vns") >= col("cns") - lit(3600L * 1000000000L), "left")
        .groupBy(col("u").as("user_id"))
        .agg(count(lit(1)).as("n_rows"), count(col("vid")).as("n_matched"),
          countDistinct(col("cid")).as("n_clicks"),
          coalesce(sum(col("vc")), lit(0L)).as("matched_value_c"))
        .orderBy(col("user_id"))
        .collect().map(_.toString).toSeq
    }
    // count the drain's micro-batches: the listener bus delivers a
    // run's progress events before its terminated event
    val name = "graft_stream_outer_" + math.abs(sf001.hashCode).toString
    val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val stopped = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == name) runs.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) batches.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (runs.contains(e.runId)) stopped.countDown()
    }
    spark.streams.addListener(listener)
    val got = try run("q193_stream_outer").collect().map(_.toString).toSeq
      finally {
        stopped.await(60, java.util.concurrent.TimeUnit.SECONDS)
        spark.streams.removeListener(listener)
      }
    assert(got == batch)
    // one batch carries the real rows and the first sentinel drop, one
    // the second sentinel drop; a drop written as several files would
    // add batches
    assert(stopped.getCount == 0 && batches.get == 2)
    // the outer part is real: at least one click has zero views
    val unmatched = run("q193_stream_outer")
      .filter(col("n_rows") > col("n_matched")).count()
    assert(unmatched > 0, "fixture must exercise the outer emission path")
  }

  test("q194 sketch invariants: bits_set ≤ min(n_exact, 16384), words consistent") {
    val got = run("q194_linear_counting").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, bits, words) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(bits <= n && bits <= 16384)
      assert(words <= bits && words <= 512)
      assert(bits > 0 && words > 0)
    }
  }
}
