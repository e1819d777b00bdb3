package graft

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). Timing forces full
  * materialization through the noop sink (no count() shortcuts, no
  * output cost); a warm-up pass at sf0.001 amortizes JIT/codegen so the
  * numbers reflect steady-state plan cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Run.cpus
    // listFiles() is null for an unreadable or race-deleted dir
    def dirBytes(p: java.io.File): Long =
      if (p.isDirectory) Option(p.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
      else p.length()
    val shufflePartitions = Bench.shufflePartitions(cpus, dirBytes(new java.io.File(sfDir)))
    val spark = Run.session(cpus, shufflePartitions)

    // Sink/roundtrip scratch → tmpfs ONLY on explicit opt-in
    // (SPARK_GRAFT_TMPFS_SCRATCH=1): this VM's disk has a burst-bucket
    // throttle (ARCHITECTURE.md "disk-throttle tail") that can stall
    // late file-writing queries (q46/q54/q67/q68/q71/q226) at 10×
    // their plan cost, and /dev/shm takes the disk out of that
    // measurement — but a silent redirect made the sink-query numbers
    // claim I/O cost they never paid and broke comparability with
    // disk-backed rounds (ADVICE r10). Default is now the real disk
    // regime, and either way the regime is RECORDED in the emitted
    // contract line ("scratch":"tmpfs"|"disk") so every downstream
    // comparison knows which it is reading.
    val wantTmpfs = sys.env.get("SPARK_GRAFT_TMPFS_SCRATCH").contains("1")
    if (wantTmpfs && spark.conf.getOption("graft.scratch.dir").isEmpty) {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm))
        spark.conf.set("graft.scratch.dir", shm.resolve("graft-bench").toString)
    }
    // The regime label probes the ACTUAL filesystem type of the
    // scratch dir (ADVICE r11): a user-supplied graft.scratch.dir on
    // any tmpfs — or a /dev/shm symlink — is recorded as "tmpfs",
    // not mislabeled "disk" by a literal path-prefix check.
    val scratchRegime = spark.conf.getOption("graft.scratch.dir") match {
      case Some(dir) =>
        try {
          val p = java.nio.file.Paths.get(dir)
          var probe = p.toAbsolutePath
          while (!java.nio.file.Files.exists(probe)) probe = probe.getParent
          if (java.nio.file.Files.getFileStore(probe).`type`() == "tmpfs")
            "tmpfs" else "disk"
        } catch { case _: Exception => "disk" }
      case None => "disk"
    }

    def exec(name: String, dir: String): Option[Double] =
      Run.exec(spark, name, dir)(Run.noop) match {
        case Right(dt) =>
          System.err.println(f"[bench] $name%-28s $dt%8.2fs  ($dir)")
          Some(dt)
        case Left(f) =>
          System.err.println(s"[bench] ${f.message}")
          None
      }

    val names = Run.selected()
    // SPARK_GRAFT_ONESHOT=1: skip warm-up and the stall re-measure
    // loop — one timed pass per query. For scale-ladder profiling
    // (tools/gen_scale_ladder.py) where each query is minutes, not
    // seconds, and min-of-N would double the cost. The driver's
    // contract run never sets this.
    val oneshot = sys.env.get("SPARK_GRAFT_ONESHOT").contains("1")
    if (!oneshot) names.foreach(exec(_, "/root/testdata/sf0.001")) // warm-up
    val firstPass = names.map(n => n -> exec(n, sfDir))
    // This VM shows multi-minute whole-machine stall windows under
    // sustained load (a 1 s query can read as 100 s if the window
    // lands on it — verified: the same queries run in isolation at
    // their plan cost). A measurement several times slower than any
    // plan here should be is re-taken once and the MIN reported:
    // steady-state plan cost is what this benchmark exists to
    // measure, and min-of-2 cannot flatter a genuinely slow plan.
    // Up to 3 re-measure rounds: a stall window can outlive a single
    // immediate retry (observed spanning ~2 min of queries), so later
    // rounds re-take only what is still slow, minutes apart. A query
    // whose re-measurement AGREES with its previous sample (within
    // 1.3x) is confirmed genuine and never re-taken again — otherwise
    // every legitimately-slow query (file sinks, streaming) would be
    // re-run in all 3 rounds and get min-of-4 reporting while fast
    // queries get a single sample, a selective-minimum bias. A query
    // that fails on a re-take is reported failed, never left at its
    // earlier time.
    val best = scala.collection.mutable.LinkedHashMap(firstPass: _*)
    val confirmed = scala.collection.mutable.Set[String]()
    // Threshold 4 s (was 8): a clean isolated run shows every
    // non-media query under ~3 s at sf0.1, so anything above 4 s is
    // either genuinely heavy (confirmed once, never re-taken again)
    // or a stall window; at ~10 candidates the re-measure pass costs
    // well under a minute.
    def suspect(n: String): Boolean = best(n).exists(_ > 4.0) && !confirmed(n)
    var round = 0
    while (!oneshot && round < 3 && names.exists(suspect)) {
      for (n <- names if suspect(n); prev <- best(n)) {
        System.err.println(s"[bench] $n: $prev s looks stall-contaminated; re-measuring")
        val t2 = exec(n, sfDir)
        t2.foreach { t =>
          if (math.max(t, prev) <= math.min(t, prev) * 1.3) confirmed += n
        }
        best(n) = t2.map(math.min(_, prev))
      }
      round += 1
    }
    println(contractLine(best.toSeq, scratchRegime, sfDir))
    spark.stop()
  }

  /** Shuffle partitions for an input of `bytes`: one per ~8 MB of
    * compressed parquet (≈128 MB in memory after ~4× decompression and
    * ~4× row-object expansion), never below the core count. Up to
    * sf0.1 (17.5 MB → 3) that is the core count; on the scale ladder
    * it keeps hash aggregations from spilling. */
  def shufflePartitions(cpus: Int, bytes: Long): Int =
    math.max(cpus, (bytes / (8L << 20)).toInt + 1)

  /** The driver's contract line for per-query results (None = the
    * query failed).
    *
    * The driver records only the trailing ~2000 chars of the run's
    * output; with 131 full-length query names the JSON line is ~4.6 KB
    * and its head gets cut, so the structured record never parses
    * ("parsed": null in every round's BENCH artifact). The line keys
    * each query by its unique qNNN prefix with centisecond precision.
    * The full-name, full-precision numbers are already on stderr (one
    * [bench] line per query) for local profiling.
    *
    * If the full line exceeds `budget`, it keeps the CONTRACT SHAPE
    * (qNN keys, seconds values) but lists only the slowest entries —
    * the informative ones — and summarizes the omitted fast tail in a
    * self-describing "omitted" object, shrinking the list until the
    * line fits. Every emitted number stays in seconds.
    *
    * "value" (the total) sums the queries that finished; every query
    * that failed is named in "failed", whatever the budget, and is
    * never folded into "omitted" — a failure must not pass for a fast
    * query.
    */
  def contractLine(results: Seq[(String, Option[Double])], scratch: String,
      sfDir: String, budget: Int = 1900): String = {
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and
    // a comma-decimal locale (de_DE, fr_FR, …) would emit 1,23 —
    // invalid JSON, the exact parse failure this line exists to fix.
    def cs(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", v)
    def key(k: String): String = "\"" + k.takeWhile(_ != '_') + "\""
    val timed = results.collect { case (k, Some(v)) => (k, v) }
    val failed = results.collect { case (k, None) => key(k) }.mkString("[", ",", "]")
    val total = timed.map(_._2).sum
    def line(qs: Seq[(String, Double)], extra: String): String =
      s"""{"metric":"total","value":${cs(total)},"unit":"sec","queries":${
        qs.map { case (k, v) => key(k) + ":" + cs(v) }.mkString("{", ",", "}")
      },"failed":$failed,$extra"scratch":"$scratch","sf":"$sfDir"}"""
    val full = line(timed, "")
    if (full.length <= budget) full else {
      val bySlow = timed.sortBy { case (_, v) => -v }
      // keep shrinks by 20 down to 10 entries, then to none; a failed
      // list too long for the budget is still printed whole
      val keeps = (bySlow.size - 20 to 10 by -20) ++ Seq(10, 0)
      val lines = keeps.map { n =>
        val keep = bySlow.take(n)
        val rest = timed.filterNot(keep.contains(_))
        line(keep.sortBy(_._1),
          s""""omitted":{"n":${rest.size},"sum_sec":${cs(rest.map(_._2).sum)}},""")
      }
      lines.find(_.length <= budget).getOrElse(lines.last)
    }
  }
}
