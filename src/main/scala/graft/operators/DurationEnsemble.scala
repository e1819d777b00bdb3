package graft.operators

import graft.operators.{Dedup => D}

/** The TalkNet duration-ensemble evaluation loop as a batched kernel —
  * demoTalkNet.py:225–270 (`evaluate_network`). The reference's real
  * call shape is one model forward per (duration, batch) over the
  * batch's FULL audio/video tensor slices, not one call per frame:
  *
  *  - durationSet is written `{1,1,1,2,2,2,3,3,4,5,6}` (:234, the
  *    "more reliable" line) but that is a Python SET literal — it
  *    dedupes to SIX distinct durations {1,2,3,4,5,6}, iterated in
  *    ascending order (CPython small-int hash = value). The author
  *    plainly intended a weighted multiset; the faithful semantics is
  *    the deduped set and mean/6;
  *  - per track, features truncate to
  *    length = min((nAudio − nAudio%4)/100, nVideo/25) seconds (:253),
  *    audio keeping round(length·100) 100 Hz rows and video
  *    round(length·25) 25 Hz rows (:254–255);
  *  - for each duration d: ceil(length/d) batches (:257); batch i
  *    covers audio rows [i·d·100, (i+1)·d·100) and video rows
  *    [i·d·25, (i+1)·d·25) (:261–262), clipped to the truncated
  *    lengths; the model emits one score per video frame of the batch;
  *  - the 6 per-duration score arrays average per frame and round to
  *    1 decimal (:269, numpy.round = rint(x·10)/10 in double space —
  *    HALF_EVEN; NOT BigDecimal decimal-string rounding).
  *
  * Accumulation order contract: this kernel sums the 6 members in
  * set-iteration order 1..6 (left fold) — identical to numpy.mean's
  * pairwise summation at this width only because n<8 keeps numpy in
  * its unrolled sequential path; the fold order is the defined
  * semantics here and is what the SQL oracle mirrors.
  */
object DurationEnsemble {

  /** demoTalkNet.py:234 after Python-set dedup, in iteration order. */
  val DurationSet: Seq[Int] = Seq(1, 2, 3, 4, 5, 6)

  /** Per-track feature dimensions before truncation. */
  final case class EnsembleInput(videoId: Long, trackId: Long,
      nAudioFrames: Int, nVideoFrames: Int)

  /** One model forward per (duration, batch) — demoTalkNet.py:258–266.
    * `aLo/aHi` and `vLo/vHi` are the row ranges of the 100 Hz MFCC and
    * 25 Hz face tensors this batch covers; a real TalkNet impl slices
    * its tensors with exactly these bounds. Must return one score per
    * video frame, i.e. an array of length vHi − vLo. */
  trait BatchScorer extends Serializable {
    def scoreBatch(in: EnsembleInput, duration: Int, batchIdx: Int,
        aLo: Int, aHi: Int, vLo: Int, vHi: Int): Array[Double]
  }

  /** length = min((nAudio − nAudio%4)/100, nVideo/25) seconds
    * (demoTalkNet.py:253). */
  def truncatedLength(nAudio: Int, nVideo: Int): Double =
    math.min((nAudio - nAudio % 4) / 100.0, nVideo / 25.0)

  /** Video frames surviving truncation: int(round(length·25)) (:255). */
  def truncatedVideoFrames(nAudio: Int, nVideo: Int): Int =
    Math.round(truncatedLength(nAudio, nVideo) * 25).toInt

  /** Runs the full ensemble loop for one track; returns the rounded
    * per-frame score array (track-local frame index 0..nV′−1). */
  def ensemble(in: EnsembleInput, scorer: BatchScorer): Array[Double] = {
    val length = truncatedLength(in.nAudioFrames, in.nVideoFrames)
    val nA = Math.round(length * 100).toInt // :254
    val nV = Math.round(length * 25).toInt  // :255
    val acc = new Array[Double](nV)
    DurationSet.foreach { d =>
      val batchSize = math.ceil(length / d).toInt // :257
      var i = 0
      while (i < batchSize) {
        val aLo = i * d * 100; val aHi = math.min((i + 1) * d * 100, nA) // :261
        val vLo = i * d * 25;  val vHi = math.min((i + 1) * d * 25, nV)  // :262
        if (vLo < nV) {
          val s = scorer.scoreBatch(in, d, i, aLo, aHi, vLo, vHi)
          require(s.length == vHi - vLo,
            s"scoreBatch returned ${s.length} scores for ${vHi - vLo} frames")
          var j = 0
          while (j < s.length) { acc(vLo + j) += s(j); j += 1 }
        }
        i += 1
      }
    }
    var k = 0
    while (k < nV) {
      // numpy.round(mean, 1): rint in double space, HALF_EVEN (:269)
      acc(k) = Math.rint(acc(k) / DurationSet.length * 10) / 10
      k += 1
    }
    acc
  }

  /** STUB model (pipeline default): temporally smooth per-frame base
    * (real speaking activity comes in runs — the segment extractor
    * depends on that) plus small duration- and batch-dependent terms
    * so the ensemble genuinely averages distinct batched forwards.
    * Rows-only path (q44); no SQL mirror needed. */
  object StubBatchScorer extends BatchScorer {
    override def scoreBatch(in: EnsembleInput, duration: Int, batchIdx: Int,
        aLo: Int, aHi: Int, vLo: Int, vHi: Int): Array[Double] = {
      val out = new Array[Double](vHi - vLo)
      var j = 0
      while (j < out.length) {
        val f = vLo + j
        out(j) = math.sin((f + in.videoId * 13.0 + in.trackId * 7.0) / 10.0) * 0.8 +
          (duration - 3.5) * 0.01 + batchIdx * 0.002
        j += 1
      }
      out
    }
  }

  /** Universal-hash index for the oracle-parity scorer — disjoint from
    * minhash (0..127), SimHash (200..263), frame checksums (777) and
    * ANN (1000+). */
  val ScoreHashIdx = 888
  private val P32 = 4294967291L

  /** Oracle-parity STUB model: per-frame base from the universal-hash
    * family (uhash(888, vid·1e6 + f) scaled to [−1, 1)) plus the same
    * duration/batch terms — every operation integer or
    * literal-double, so DuckDB can mirror it exactly (q65). */
  object HashBatchScorer extends BatchScorer {
    override def scoreBatch(in: EnsembleInput, duration: Int, batchIdx: Int,
        aLo: Int, aHi: Int, vLo: Int, vHi: Int): Array[Double] = {
      val (a, b) = D.affine(ScoreHashIdx)
      val out = new Array[Double](vHi - vLo)
      var j = 0
      while (j < out.length) {
        val f = vLo + j
        val h = (a * (in.videoId * 1000000L + f) + b) % P32
        out(j) = (h % 2000L - 1000L) / 1000.0 +
          (duration - 3.5) * 0.01 + (batchIdx * 37 % 10) * 0.001
        j += 1
      }
      out
    }
  }
}
