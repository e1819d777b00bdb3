package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.{Eval, SpeakingSegments}
import org.apache.spark.sql.functions._

/** REFERENCE-DERIVED goldens — outputs computed by executing the
  * reference's OWN code (not hand-derivations):
  *  - ref_ap_golden.json: merge/precision-recall/
  *    compute_average_precision from
  *    utils/get_ava_active_speaker_performance.py (pure numpy+pandas)
  *    via tools/gen_ref_ap_golden.py; pins all three graft AP plans
  *    (fixtures tie-free because pandas sort_values is unstable);
  *  - ref_tracker_golden.json: the real track_shot greedy loop from
  *    demoTalkNet.py (CPython remove-during-iteration semantics and
  *    all) via tools/gen_ref_tracker_golden.py; pins
  *    Tracker.trackScene including dropout interpolation and the
  *    minTrack/minFaceSize gates;
  *  - ref_segments_golden.json: the real find_speaking_segments +
  *    min-duration filter from extractSpeakingSegments.py via
  *    tools/gen_ref_segments_golden.py; pins
  *    SpeakingSegments.extract and its scan (thresholding,
  *    end-exclusive bounds, trailing-run append, int-truncated min
  *    frames);
  *  - ref_runeval_golden.json: the reference evaluator chain run on
  *    q71's exact sf0.001 gt/pred derivation via
  *    tools/gen_ref_runeval_golden.py; pins the COMPLETE
  *    file-to-metric query (CSV roundtrip, 1:1 merge, audit, global
  *    AP) to the number the reference itself computes. */
class RefGoldenSpec extends SparkSpec {

  private case class Case(n: Int, posMod: Int, seedA: Int, ap: Double)

  private val cases: Seq[Case] = {
    val url = getClass.getResource("/ref_ap_golden.json")
    assert(url != null, "ref_ap_golden.json missing — run tools/gen_ref_ap_golden.py")
    val root = new ObjectMapper().readTree(url)
    (0 until root.size()).map { i =>
      val c = root.get(i)
      Case(c.get("n").asInt, c.get("pos_mod").asInt, c.get("seed_a").asInt, c.get("ap").asDouble)
    }
  }

  private def fixtureDf(c: Case) = {
    import spark.implicits._
    (0 until c.n).map { i =>
      val label = if ((i * 7) % c.posMod == 0) 1L else 0L
      val score = ((i * c.seedA + 3) % c.n).toDouble / c.n
      ("g", score, label, i.toLong)
    }.toDF("grp", "score", "label", "uid")
  }

  test("Eval.averagePrecision matches the reference evaluator on all golden cases") {
    cases.foreach { c =>
      val ap = Eval.averagePrecision(fixtureDf(c), "grp", "score", "label", "uid")
        .select("ap").head().getDouble(0)
      assert(math.abs(ap - c.ap) < 1e-10, s"case $c: got $ap")
    }
  }

  test("the scaled two-phase AP plan matches the reference evaluator too") {
    cases.foreach { c =>
      val ap = Eval.averagePrecisionScaled(fixtureDf(c), "grp", "score", "label", "uid", 16)
        .groupBy(col("grp")).agg(sum(col("prec_env") * col("delta_rec")).as("ap"))
        .head().getDouble(1)
      assert(math.abs(ap - c.ap) < 1e-10, s"case $c: got $ap")
    }
  }

  test("Tracker.trackScene matches tracks produced by the reference track_shot loop") {
    // fixture identical to tools/gen_ref_tracker_golden.py: faces in
    // list order A,B,C,D per frame (A with f%17 dropouts, B 5..80,
    // C sub-minFaceSize, D 9-frame short track)
    val dets = (0 until 100).flatMap { f =>
      val faces = Seq.newBuilder[graft.operators.Tracker.Det]
      if (f % 17 != 0)
        faces += graft.operators.Tracker.Det(f, 10 + 0.5 * f, 20.0, 30 + 0.5 * f, 40.0)
      if (f >= 5 && f <= 80)
        faces += graft.operators.Tracker.Det(f, 200 - 0.3 * f, 50.0, 220 - 0.3 * f, 70.0)
      if (f <= 40)
        faces += graft.operators.Tracker.Det(f, 300.0, 300.0, 300.8, 300.8)
      if (f >= 50 && f <= 58)
        faces += graft.operators.Tracker.Det(f, 400.0 + f, 400.0, 430.0 + f, 430.0)
      faces.result()
    }
    val got = graft.operators.Tracker.trackScene(dets)
    val url = getClass.getResource("/ref_tracker_golden.json")
    assert(url != null, "ref_tracker_golden.json missing — run tools/gen_ref_tracker_golden.py")
    val golden = new ObjectMapper().readTree(url)
    assert(got.length === golden.size(), s"track count: got ${got.length}")
    got.zipWithIndex.foreach { case (track, ti) =>
      val g = golden.get(ti)
      val gFrames = (0 until g.get("frames").size()).map(g.get("frames").get(_).asInt)
      assert(track.map(_.frame) === gFrames, s"track $ti frames")
      track.zipWithIndex.foreach { case (d, i) =>
        val bb = g.get("bbox").get(i)
        val exp = Seq(bb.get(0).asDouble, bb.get(1).asDouble, bb.get(2).asDouble, bb.get(3).asDouble)
        Seq(d.x1, d.y1, d.x2, d.y2).zip(exp).zipWithIndex.foreach { case ((a, b), c) =>
          // 1e-9: interp1d/np.interp/our lerp differ only in float op order
          assert(math.abs(a - b) < 1e-9, s"track $ti frame ${d.frame} coord $c: $a vs $b")
        }
      }
    }
  }

  test("SpeakingSegments.extract matches the reference find_speaking_segments") {
    import spark.implicits._
    def series(c: String, n: Int): Seq[Double] = c match {
      case "sin" => (0 until n).map(i => math.sin(i * 0.37) * 2 + 0.1)
      case "trailing" => (0 until n).map(i => if (i < n - 20) -1.0 else 1.0)
      case "all_on" => Seq.fill(n)(1.0)
      case "all_off" => Seq.fill(n)(-1.0)
    }
    val url = getClass.getResource("/ref_segments_golden.json")
    assert(url != null, "ref_segments_golden.json missing — run tools/gen_ref_segments_golden.py")
    val golden = new ObjectMapper().readTree(url)
    (0 until golden.size()).foreach { i =>
      val c = golden.get(i)
      val xs = series(c.get("case").asText, c.get("n").asInt)
      val scores = xs.zipWithIndex
        .map { case (s, f) => (1L, 0L, f, s) }
        .toDF("video_id", "track_id", "frame", "score")
      val got = SpeakingSegments
        .extract(scores, c.get("threshold").asDouble, c.get("min_duration").asDouble)
        .orderBy("start_frame")
        .select("start_frame", "end_frame").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val exp = (0 until c.get("segments").size()).map { j =>
        val s = c.get("segments").get(j)
        (s.get(0).asInt, s.get(1).asLong)
      }
      val what = s"case ${c.get("case").asText} th=${c.get("threshold")} " +
        s"minDur=${c.get("min_duration")}"
      assert(got === exp, what)
      val scanned = SpeakingSegments.scan(xs.indices.toArray, xs.toArray,
        c.get("threshold").asDouble, SpeakingSegments.minFrames(c.get("min_duration").asDouble, 25))
      assert(scanned.map(g => (g.start_frame, g.end_frame.toLong)) === exp, s"scan: $what")
      assert(scanned.map(_.seg_id) === (1L to exp.size.toLong), s"scan seg_id: $what")
    }
  }

  test("q71's file-to-metric AP equals the reference run_evaluation on the same inputs") {
    // tools/gen_ref_runeval_golden.py ran the reference's merge →
    // precision/recall → compute_average_precision on q71's exact
    // sf0.001 derivation (scores unique ⇒ the sort is deterministic)
    val url = getClass.getResource("/ref_runeval_golden.json")
    assert(url != null, "ref_runeval_golden.json missing — run tools/gen_ref_runeval_golden.py")
    val g = new ObjectMapper().readTree(url)
    val row = SparkEntry.queries("q71_ava_eval_e2e")(spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("n") === g.get("n").asLong)
    assert(row.getAs[Long]("n_pos") === g.get("n_pos").asLong)
    assert(row.getAs[Long]("n_ok") === g.get("n").asLong) // audit all-pass
    // q71 nano-quantizes contributions; reference sums pairwise →
    // bound n·0.5e-9
    assert(math.abs(row.getAs[Double]("ap") - g.get("ap").asDouble)
      < g.get("n").asLong * 0.5e-9, s"ap ${row.getAs[Double]("ap")} vs ${g.get("ap").asDouble}")
  }

  test("ApAggregator (typed Aggregator form) matches the reference evaluator") {
    // scores enter as exact nano-scaled longs (order-preserving); the
    // aggregator quantizes each per-row contribution to nanos (its
    // order-independence contract), so the deviation bound is
    // n·0.5e-9 ≈ 2.5e-7 at n=500
    val apUdaf = udaf(graft.functions.ApAggregator,
      org.apache.spark.sql.Encoders.product[graft.functions.ApIn])
    cases.foreach { c =>
      val ap = fixtureDf(c)
        .withColumn("score_n", round(col("score") * 1e9).cast("long"))
        .groupBy(col("grp"))
        .agg(apUdaf(col("score_n"), col("label"), col("uid")).as("ap"))
        .head().getDouble(1)
      assert(math.abs(ap - c.ap) < c.n * 0.5e-9, s"case $c: got $ap")
    }
  }
}
