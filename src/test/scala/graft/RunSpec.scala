package graft

/** The shared session factory and run-a-query loop of every main. */
class RunSpec extends SparkSpec {

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("reset drops cached frames and graft_stream_* views, nothing else") {
    val df = spark.range(10).toDF("id").persist()
    df.count()
    spark.range(3).createOrReplaceTempView("graft_stream_x")
    spark.range(3).createOrReplaceTempView("run_spec_keep")
    try {
      assert(cached(df))
      Run.reset(spark)
      assert(!cached(df))
      assert(!spark.catalog.tableExists("graft_stream_x"))
      assert(spark.catalog.tableExists("run_spec_keep"))
    } finally spark.catalog.dropTempView("run_spec_keep")
  }

  test("selected keeps the sorted keys matching any ONLY prefix") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Run.selected(None) == all)
    val some = Run.selected(Some("q62, q01"))
    assert(some.nonEmpty && some == some.sorted)
    assert(some.contains("q62_ava_merge_audit") && some.contains("q01_pricing_summary"))
    assert(some.forall(n => n.startsWith("q62") || n.startsWith("q01")))
    assert(some == all.filter(n => n.startsWith("q62") || n.startsWith("q01")))
    assert(Run.selected(Some("q6")).size > some.count(_.startsWith("q62")))
  }

  test("exec times a query that finishes and resets after it") {
    var held: org.apache.spark.sql.DataFrame = null
    val r = Run.exec(spark, "q01_pricing_summary", sf001) { df =>
      held = df.persist(); Run.noop(df)
    }
    assert(r.exists(_ >= 0.0), r)
    assert(!cached(held))
  }

  test("exec reports a query that throws as a failure with its name") {
    var held: org.apache.spark.sql.DataFrame = null
    val r = Run.exec(spark, "q01_pricing_summary", sf001) { df =>
      held = df.persist(); held.count()
      throw new IllegalStateException("boom")
    }
    val f = r.swap.getOrElse(fail(s"expected a failure, got $r"))
    assert(f.name == "q01_pricing_summary")
    assert(f.message.contains("q01_pricing_summary") && f.message.contains("boom"))
    assert(!cached(held), "reset must run after a failure too")

    val unknown = Run.exec(spark, "q00_no_such_query", sf001)(Run.noop)
    assert(unknown.swap.exists(_.name == "q00_no_such_query"))
  }

  test("session confs are the ones Bench and Verify always set") {
    assert(Run.conf(4, 7) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    // getOrCreate hands back the shared session with the SQL confs set
    val s = Run.session(4, 4)
    assert(s eq spark)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.experimental.extraOptimizations.contains(SelfDotRewrite))
    // Bench used to pin these two to these values; they are Spark's
    // defaults, so dropping the pins leaves its session unchanged
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
    assert(s.sessionState.conf.getConf(org.apache.spark.sql.internal.SQLConf
      .ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) == 0L)
  }
}
