package graft

/** Plan-inspection main: prints the formatted physical plan of the
  * named queries (else every SPARK_GRAFT_ONLY-selected query) at the
  * given sf dir, on the same session Bench and Verify run.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Run.selected()
    val spark = Run.session(Run.cpus, Run.cpus)
    for (n <- names) {
      println(s"\n========== $n ==========")
      Run.exec(spark, n, dir)(df => println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
        .left.foreach(f => println(s"[explain] ${f.message}"))
    }
    spark.stop()
  }
}
