package graft

/** Planner-policy A/B instrument: times registry queries with and
  * without a set of session confs, ALTERNATING inside ONE JVM (A B A B
  * ...), so the box's documented multi-minute stall windows hit both
  * arms alike and the min-of-N per arm is a same-regime comparison —
  * cross-JVM min-of-2 swung 4x on this machine. Each timed cell runs
  * through `Run.exec` (noop sink, reset after). One JSON line per
  * query.
  *
  * Inputs:
  *  - SPARK_GRAFT_AB_QUERY: comma list of registry keys (default
  *    q271_kcore);
  *  - SPARK_GRAFT_AB_CONF: "k=v;k=v" session confs applied on the NEW
  *    arm only (default spark.sql.join.preferSortMergeJoin=false).
  *    Works for any runtime-settable SQLConf entry — join policy,
  *    AQE thresholds, the streaming state-store provider;
  *  - SPARK_GRAFT_AB_REPS: alternating pairs per query (default 3);
  *  - SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as for Bench.
  *
  * The plan-shape A/Bs of rounds 16 and 17 (old vs shipped query
  * code) are recorded in OPTIMIZATION_r16.md and OPTIMIZATION_r17.md.
  */
object OptAbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "3").toInt
    val qNames = sys.env.getOrElse("SPARK_GRAFT_AB_QUERY", "q271_kcore")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val confKv = sys.env.getOrElse("SPARK_GRAFT_AB_CONF",
        "spark.sql.join.preferSortMergeJoin=false")
      .split(";").map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(s"SPARK_GRAFT_AB_CONF entry '$kv' is not key=value")
        }
      }
    qNames.find(!SparkEntry.queries.contains(_))
      .foreach(qn => sys.error(s"unknown query key: $qn"))
    val spark = Run.session(Run.cpus, Run.cpus)

    // OLD = the session defaults (the shipped, driver-comparable
    // policy), NEW = the same query with the confs applied for that
    // cell only. Conf values are restored after every cell so arms
    // never contaminate each other.
    def cell(qn: String, applyConf: Boolean): Double = {
      val saved = confKv.map { case (k, _) => (k, spark.conf.getOption(k)) }
      if (applyConf) confKv.foreach { case (k, v) => spark.conf.set(k, v) }
      try Run.exec(spark, qn, sfDir)(Run.noop).fold(f => sys.error(f.message), identity)
      finally saved.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    def s(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    for (qn <- qNames) {
      cell(qn, applyConf = true) // codegen/JIT lead, charged to neither arm
      val pairs = (1 to reps).map(_ => (cell(qn, false), cell(qn, true)))
      val (old, nw) = pairs.unzip
      System.err.println(s"[ab] conf_$qn old=${old.map(s).mkString(",")} " +
        s"new=${nw.map(s).mkString(",")}")
      println(s"""{"metric":"ab_conf_$qn","old_min":${s(old.min)},""" +
        s""""new_min":${s(nw.min)},"reps":$reps,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
