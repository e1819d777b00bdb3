package graft

import graft.operators.Tracker
import graft.operators.Tracker.Det

/** Pins the reference's greedy tracker semantics (demoTalkNet.py:146–178)
  * including its quirks — these are NOT derivable from a SQL oracle. */
class TrackerSpec extends SparkSpec {

  private def box(f: Int, x: Double, y: Double = 0.0, w: Double = 10, h: Double = 10) =
    Det(f, x, y, x + w, y + h)

  test("iou matches reference formula incl. zero-overlap clamps") {
    assert(Tracker.iou(box(0, 0), box(0, 0)) === 1.0)
    assert(Tracker.iou(box(0, 0), box(0, 100)) === 0.0) // disjoint → clamp
    // half-overlap in x: inter=50, union=150 → 1/3
    assert(math.abs(Tracker.iou(box(0, 0), box(0, 5)) - 50.0 / 150.0) < 1e-12)
    // symmetry
    assert(Tracker.iou(box(0, 1.5), box(0, 4.2)) === Tracker.iou(box(0, 4.2), box(0, 1.5)))
  }

  test("greedy pass links overlapping faces across frames") {
    val dets = (0 until 15).map(f => box(f, f * 0.5)) // drift 0.5/frame, IoU≈0.9
    val tracks = Tracker.trackScene(dets, minTrack = 11, minFaceSize = 1.0)
    assert(tracks.size === 1)
    assert(tracks.head.size === 15)
  }

  test("strict > minTrack: an 11-detection track is discarded at minTrack=11") {
    val dets = (0 until 11).map(f => box(f, f * 0.5))
    assert(Tracker.trackScene(dets, minTrack = 11).isEmpty)
    assert(Tracker.trackScene(dets, minTrack = 10).size === 1)
  }

  test("gap > numFailedDet ends the track (else: break quirk)") {
    // 12 dets, then a 20-frame hole, then 12 more at the same position
    val dets = (0 until 12).map(f => box(f, 0)) ++ (32 until 44).map(f => box(f, 0))
    val tracks = Tracker.trackScene(dets, numFailedDet = 10, minTrack = 11)
    assert(tracks.size === 2) // two passes, one track each — not merged
    assert(tracks.head.head.frame === 0 && tracks.head.last.frame === 11)
    assert(tracks(1).head.frame === 32)
  }

  test("skip-after-remove: the face shifting into a removed slot is skipped this pass") {
    // frame 5 has two near-identical faces; both IoU>0.5 with the tail.
    // CPython's remove-during-iteration skips the second one for pass 1
    // (it shifts into the removed slot), so pass 1 takes only x1=0;
    // the leftover face forms a length-1 pass-2 track that is discarded.
    val dets = (0 until 12).map(f => box(f, 0)) :+ box(5, 0.5)
    val tracks = Tracker.trackScene(dets, minTrack = 11)
    assert(tracks.size === 1)
    assert(tracks.head.size === 12) // dense frames 0..11
    assert(tracks.head.find(_.frame == 5).get.x1 === 0.0)
  }

  test("a pass can still take several same-frame faces when >=3 are present") {
    // frame 5 holds [A=0, B=0.2, C=0.4]: pass 1 takes A, skips B
    // (shifted into A's slot), examines C and takes it (IoU with tail
    // A is ~0.9) — two same-frame faces in one pass, B left for pass 2.
    val dets = (0 until 12).map(f => box(f, 0)) :+ box(5, 0.2) :+ box(5, 0.4)
    val tracks = Tracker.trackScene(dets, minTrack = 11)
    assert(tracks.size === 1)
    // interp1d last-x-wins at duplicate frame 5: C (x1=0.4) wins the sample
    assert(tracks.head.find(_.frame == 5).get.x1 === 0.4)
  }

  test("short tracks consume their faces (destructive pass quirk)") {
    // 5 isolated overlapping dets: pass 1 builds a 5-track (discarded,
    // faces consumed), pass 2 finds nothing → no infinite loop, no tracks
    val dets = (0 until 5).map(f => box(f, 0))
    assert(Tracker.trackScene(dets, minTrack = 11).isEmpty)
  }

  test("interpolation densifies gaps linearly") {
    val trk = Seq(box(0, 0), box(4, 4)) // hole at 1..3
    val dense = Tracker.interpolate(trk)
    assert(dense.map(_.frame) === (0 to 4))
    assert(dense(2).x1 === 2.0) // midpoint
    assert(dense(1).x1 === 1.0 && dense(3).x1 === 3.0)
  }

  test("frame buckets and face removal match groupBy + indexOf on random scenes (300 cases)") {
    // the bucketing by groupBy/sort and list.remove by indexOf, written
    // out, as the oracle for the linear bucket scan and removeFirst
    def byGroupBy(dets: Seq[Det], minTrack: Int): Seq[Seq[Det]] = {
      val frames = dets.groupBy(_.frame).toVector.sortBy(_._1)
        .map { case (_, fs) => scala.collection.mutable.ArrayBuffer(fs: _*) }
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Det]]
      var go = true
      while (go) {
        val track = scala.collection.mutable.ArrayBuffer.empty[Det]
        for (ff <- frames) {
          var idx = 0
          var broke = false
          while (idx < ff.length && !broke) {
            val face = ff(idx)
            idx += 1
            if (track.isEmpty) { track += face; ff.remove(ff.indexOf(face)) }
            else if (face.frame - track.last.frame <= 10) {
              if (Tracker.iou(face, track.last) > 0.5) { track += face; ff.remove(ff.indexOf(face)) }
            } else broke = true
          }
        }
        if (track.isEmpty) go = false
        else if (track.length > minTrack) out += Tracker.interpolate(track.toSeq)
      }
      out.toSeq
    }
    val r = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      // 1-4 faces per frame on a coarse grid, so equal boxes recur in a
      // frame; frames in random order, some frames empty
      val dets = r.shuffle((0 until 40).filter(_ => r.nextInt(8) != 0).map { f =>
        (0 until 1 + r.nextInt(4)).map(_ => box(f, r.nextInt(3) * 2.0))
      }).flatten
      val minTrack = r.nextInt(12)
      assert(Tracker.trackScene(dets, minTrack = minTrack) === byGroupBy(dets, minTrack))
    }
  }

  test("distributed trackAll matches single-scene trackScene") {
    import spark.implicits._
    val dets = (0 until 15).map(f => (7L, 1L, f, 0, f * 0.5, 0.0, f * 0.5 + 10, 10.0))
    val df = dets.toDF("video_id", "scene_id", "frame", "det_idx", "x1", "y1", "x2", "y2")
    val got = Tracker.trackAll(spark, df).collect()
    assert(got.length === 15)
    assert(got.forall(t => t.video_id == 7L && t.scene_id == 1L && t.track_id == 0L))
  }
}
