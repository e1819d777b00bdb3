package graft.queries

import graft.functions.RollingHash
import graft.operators.{Dedup, Similarity, SpeakingSegments, Tracker}
import graft.sinks.MediaSinks.Archive
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-domain + scale-path operators as queries:
  *  - q31: custom codegen'd Catalyst expression (rolling hash), oracle
  *    mirrored via DuckDB list_reduce over byte codes (ASCII corpus);
  *  - q32: SpeakingSegments library operator with the reference's exact
  *    extract semantics over a dense per-user frame index;
  *  - q40/q41/q43: MinHash-LSH near-dup pairs, SimHash buckets and
  *    hyperplane-LSH ANN on the polynomial universal-hash family —
  *    every step is plain integer/IEEE arithmetic, so each has an
  *    exact DuckDB oracle (the xxhash64-based variants remain as the
  *    production surface, spec-pinned);
  *  - q42/q44: the greedy IoU tracker and the e2e pipeline are
  *    order-dependent sequential kernels; on ARBITRARY input they have
  *    no SQL equivalent (TrackerSpec/PipelineSpec pin those quirks,
  *    GoldenSpec pins sf0.01 checksums), but on the CONSTRUCTED
  *    single-face-per-frame inputs used here the greedy pass provably
  *    reduces to gaps-and-islands, so both run under the full DuckDB
  *    oracle gate (reduction proofs on the query comments).
  */
object DomainQueries extends QueryPack {
  import Q._

  /** Same English stopword family as TextQueries.STOP_EN (q21/q22). */
  private val STOP_EN_RE = "\\b(the|and|of|to|in|is|a)\\b"

  /** Dense per-user frame index + score columns from events (the
    * score-series shape of the reference's scores.pckl). */
  private def scoreSeries(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("frame", (row_number().over(w) - 1).cast("int"))
      .select(col("user_id").as("video_id"), lit(0L).as("track_id"),
        col("frame"), col("value").as("score"), col("event_id"))
  }

  val queries = Map[String, Fn](
    // Custom native Expression with codegen, registered for SQL use.
    "q31_rolling_fingerprint" -> { (s, dir) =>
      RollingHash.register(s)
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr("rolling_hash(text)").as("fp64"))
        .orderBy(col("doc_id"))
    },

    // Reference-exact speaking segments via the library operator
    // (threshold strict >, end-exclusive runs, >= minFrames gate,
    // frame/25 seconds).
    "q32_segments_ref" -> { (s, dir) =>
      SpeakingSegments.extract(scoreSeries(s, dir), threshold = 30.0,
          minDurationS = 0.2, fps = 25, keyCols = Seq("video_id", "track_id"))
        .orderBy(col("video_id"), col("seg_id"))
    },

    // MinHash-LSH near-dup pairs on the polynomial family: shingle →
    // polyHash → 128-way minhash → 32 bands → slice-equality buckets →
    // exact-Jaccard verify ≥ 0.6. Raw double jac (inter/uni of the
    // same longs on both engines — bit-identical).
    "q40_minhash_pairs" -> { (s, dir) =>
      Dedup.minhashCandidatePairs(Tables.table(s, dir, "documents"),
          "doc_id", "text", numHashes = 128, bands = 32, threshold = 0.6,
          shingleK = 3, hashFn = Dedup.polyHash)
        .select(col("id_a"), col("id_b"), col("jac"))
        .orderBy(col("id_a"), col("id_b"))
    },

    "q41_simhash_buckets" -> { (s, dir) =>
      Dedup.simhashBucketsPoly(Tables.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id"))
    },

    // Near-dup RETENTION POLICY (the step after clustering: per
    // duplicate cluster keep the BEST doc, not an arbitrary one) —
    // q72's transitive closure composed with q96's quality margin,
    // representative = argmax (margin, then min doc_id) via one
    // max_by hash aggregation over the cluster key. The full
    // real-world dedup decision expressed end-to-end in one plan:
    // LSH pairs → connected components → quality-ranked keep flags.
    "q108_cluster_retention" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val edges = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.6,
        shingleK = 3, hashFn = Dedup.polyHash)
      val comp = graft.operators.Components.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      val wc = graft.operators.TextOps.wordCounts(docs, "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(sum(col("wn")).as("n_tokens"), count(lit(1)).as("n_distinct"))
      val margin = docs.select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit(TextQueries.STOP_EN), lit(0)))
            .cast("long").as("stop_n"))
        .join(wc, Seq("doc_id"))
        .select(col("doc_id"),
          (lit(10L) * col("stop_n") + lit(3L) * col("n_distinct")
            - lit(2L) * col("n_tokens")).as("margin"))
      val scored = comp.join(margin, col("id") === col("doc_id")).drop("id")
      val kept = scored.groupBy(col("comp"))
        .agg(max_by(col("doc_id"), struct(col("margin"), negate(col("doc_id"))))
          .as("kept_doc"), count(lit(1)).as("cluster_n"))
      scored.join(kept, Seq("comp"))
        .select(col("doc_id"), col("comp").as("cluster_id"), col("margin"),
          when(col("doc_id") === col("kept_doc"), 1L).otherwise(0L).as("kept"),
          col("cluster_n"))
        .orderBy(col("doc_id"))
    },

    // Sketch calibration: minhash-estimated vs exact Jaccard on every
    // LSH candidate pair — the accuracy audit run before committing a
    // (numHashes, bands, threshold) choice to a full-corpus pass.
    // n_match/inter/uni are exact longs; est/jac/the error are single
    // divisions/subtractions of exact values.
    "q105_minhash_estimate" -> { (s, dir) =>
      Dedup.minhashEstimatePairs(Tables.table(s, dir, "documents"),
          "doc_id", "text", numHashes = 128, bands = 32,
          shingleK = 3, hashFn = Dedup.polyHash)
        .withColumn("err_r", round(col("est") - col("jac"), 6))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Dedup CLUSTERING: q40's verified near-dup pairs are only edges;
    // keeping one doc per duplicate group needs their transitive
    // closure. Components.dedupClusters runs iterative min-label
    // propagation (rounds = cluster diameter; only (id, comp) longs
    // ever re-enter the loop); the oracle walks the same closure with
    // a recursive CTE.
    "q72_dedup_clusters" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val edges = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.6,
        shingleK = 3, hashFn = Dedup.polyHash)
      graft.operators.Components.dedupClusters(
          docs.select(col("doc_id").as("id")), edges)
        .orderBy(col("doc_id"))
    },

    // The corpus-cleaning pipeline COMPOSED (the realistic LLM-data
    // shape: quality gate → repetition gate → exact dedup → near-dup
    // cluster dedup), emitting one disposition per document. Gates are
    // integer comparisons (100·stop_n < n_words ⟺ stop_ratio < 0.01,
    // 100·top_n > 15·n_words ⟺ top_word_frac > 0.15) so the oracle
    // never compares derived floats. The expensive stage (MinHash-LSH
    // + closure) runs only on the cheap-gate SURVIVORS — at 100 TB the
    // per-row gates drop junk before anything shuffles token sets.
    // (The driver corpus has no exact duplicates, so the exact_dup
    // branch emits 0 rows there; TextQueries' q24 and the oracle's
    // identical fpk CTE keep the stage itself under test.)
    "q77_corpus_clean" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val wc = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("wn"))
      val rep = wc.groupBy(col("doc_id"))
        .agg(sum(col("wn")).as("n_words"), max(col("wn")).as("top_n"))
      // the gate table carries ONLY per-doc scalars, so the checkpoint
      // that keeps the multi-consumer DAG from re-running the
      // word-count aggregation pins a few longs per doc — never text
      val gates = docs
        .select(col("doc_id"), col("lang"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_EN_RE), lit(0)))
            .cast("long").as("stop_n"))
        .join(rep, Seq("doc_id"))
        .withColumn("fail_quality",
          col("n_words") < 20L || col("stop_n") * 100L < col("n_words"))
        .withColumn("fail_rep", col("top_n") * 100L > col("n_words") * 15L)
        .localCheckpoint()
      // md5 over normalized text runs exactly once; (doc_id, fp) is
      // the second tiny checkpoint every later stage derives from
      val fps = gates.filter(!col("fail_quality") && !col("fail_rep"))
        .select(col("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        .localCheckpoint()
      val fpKeep = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("fp_keep"))
      // survivors' text is deliberately NOT checkpointed: the LSH
      // kernel reads it once via a pruned parquet re-scan and the
      // components loop needs only the ids — pinning near-the-whole
      // corpus' text in the block manager is the wrong trade at scale
      val surv2 = fps.join(fpKeep, Seq("fp"))
        .filter(col("doc_id") === col("fp_keep"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("text"))
      val edges = Dedup.minhashCandidatePairs(surv2, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.6,
        shingleK = 3, hashFn = Dedup.polyHash)
      val comp = graft.operators.Components.connectedComponents(
        surv2.select(col("doc_id").as("id")), edges)
      gates
        .join(fps, Seq("doc_id"), "left")
        .join(fpKeep, Seq("fp"), "left")
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_words"), col("top_n"), col("stop_n"),
          when(col("fail_quality"), "quality")
            .when(col("fail_rep"), "repetition")
            .when(col("doc_id") =!= col("fp_keep"), "exact_dup")
            .when(col("doc_id") =!= col("comp"), "near_dup")
            .otherwise("kept").as("disposition"))
        .orderBy(col("doc_id"))
    },

    // INCREMENTAL dedup: every 5th doc plays the arriving batch, the
    // rest the already-indexed corpus — new docs probe the index's
    // band buckets (one row per new doc: best index match or −1).
    // The q40/q72 full-corpus pairing re-signs everything; this is
    // the steady-state shape where only the batch pays. Same
    // polynomial hash family ⇒ exact oracle via the shared sig CTE.
    "q89_incremental_neardup" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      Dedup.minhashIncrementalMatches(
          docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", numHashes = 128, bands = 32, threshold = 0.6,
          shingleK = 3, hashFn = Dedup.polyHash)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Sign-LSH ANN: hash-derived rational hyperplanes (see
    // Similarity.planes), bucket-equality candidates, exact cosine
    // rank — oracled end-to-end.
    "q43_ann_topk" -> { (s, dir) =>
      Similarity.annTopK(s, Tables.table(s, dir, "embeddings"), k = 10, bits = 8)
        .orderBy(col("qid"), col("rank"))
    },

    // Product-quantization ANN (Similarity.pqTopK): 8×16 codebook from
    // the hash-lowest sample, one encode pass, broadcast query LUTs,
    // bounded per-partition heaps — ADC top-10 per query, every
    // distance the same 0-seeded fold the oracle walks.
    "q78_pq_topk" -> { (s, dir) =>
      Similarity.pqTopK(s, Tables.table(s, dir, "embeddings"), k = 10,
          m = q78M, ksub = q78Ksub)
        .orderBy(col("qid"), col("rank"))
    },

    // Greedy IoU tracker under the ORACLE gate via a CONSTRUCTED
    // input on which the greedy pass provably equals a relational
    // association. One face per frame; frames partition into
    // "segments" of per-video length L = 8 + vid%13 (8..20); within a
    // segment boxes drift 0.5/frame (consecutive IoU ≈ 0.89 > 0.5),
    // across segments the x base jumps 1000 (IoU = 0 exactly). With
    // ≤1 face/frame the CPython iterator quirk never fires and each
    // greedy pass consumes exactly one segment (cross-segment faces
    // are skipped, not consumed, and the pass breaks at gap > 10), so
    // kept tracks = segments with > 11 faces that pass the face-size
    // gate — gaps-and-islands. Every 5th segment is a 0.5×0.5 static
    // "tiny" chain: consumed whole but dropped by the size gate,
    // pinning the consumed-but-discarded branch under the oracle too.
    // Dense frames ⇒ interpolation is the identity, and every output
    // coordinate is a dyadic rational (k·1000 + j·0.5), so doubles
    // are bit-identical across engines. The ADVERSARIAL inputs (multi
    // face frames, holes, rejoin-after-skip) stay pinned by
    // TrackerSpec + RefGoldenSpec reference-produced goldens.
    "q42_greedy_tracks" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      val dets = Tables.events(s, dir)
        .withColumn("frame", (row_number().over(w) - 1).cast("int"))
        .select(col("user_id").as("video_id"), col("frame"))
        .withColumn("len", (col("video_id") % 13 + 8).cast("int"))
        .withColumn("seg", expr("frame div len"))
        .withColumn("fin", expr("frame % len"))
        .withColumn("tiny", col("seg") % 5 === 2)
        .select(col("video_id"), lit(0L).as("scene_id"), col("frame"),
          lit(0).as("det_idx"), col("tiny"),
          (col("seg") * 1000.0 +
            when(col("tiny"), 0.0).otherwise(col("fin") * 0.5)).as("x1"),
          when(col("tiny"), 0.0).otherwise(col("fin") * 0.5).as("y1"))
        .withColumn("x2", col("x1") + when(col("tiny"), 0.5).otherwise(20.0))
        .withColumn("y2", col("y1") + when(col("tiny"), 0.5).otherwise(15.0))
        .drop("tiny")
      Tracker.trackAll(s, dets).toDF()
        .orderBy(col("video_id"), col("track_id"), col("frame"))
    },

    // The WHOLE reference pipeline as one DAG (scenes → faces → tracks
    // → geometry → ensemble scores → segments), stub kernels, driven by
    // the events table as a video stream: a user's events, in
    // (ts_ns, event_id) order, are a video's frames, numbered 0.. inside
    // the per-video kernel (BatchPipeline.runStream) as decoding numbers
    // them — no Spark window; the stub decoder's content jumps 80 every
    // 100 frames; returns the segments, sorted in one task.
    // Under the ORACLE gate: on this input every pipeline stage has a
    // relational closed form — scene cuts land exactly at frame%100==0
    // (content jumps 80 > threshold 27, scene len 100 ≥ minSceneLen),
    // the stub detector emits ≤1 face per frame (absent iff
    // (31·vid+frame)%10==0, the conf==0.90 gate), within a scene the
    // drift x=(frame%200)/10 never wraps (scenes are 100-aligned) so
    // consecutive present faces always chain (IoU ≥ 0.98 > 0.5) and
    // each scene yields ONE track over [first..last] present frame —
    // gaps-and-islands, same argument as q42; tracks are numbered per
    // video. Scoring uses the HashBatchScorer (the oracle-parity model
    // q65 mirrors) on track-LOCAL indices with nAudio=4·nVideo (no
    // truncation), then one segment scan per track. The sin-based
    // StubScorer path (not SQL-mirrorable: libm sin differs across
    // engines) stays pinned by PipelineSpec.
    "q44_pipeline_e2e" -> { (s, dir) =>
      val stream = Tables.events(s, dir)
        .select(col("user_id").as("video_id"), col("ts_ns"), col("event_id"))
      graft.pipeline.BatchPipeline.runStream(s, stream, Tables.eventsOrder,
          scorer = graft.operators.DurationEnsemble.HashBatchScorer).segments
        .orderBy(col("video_id"), col("track_id"), col("seg_id"))
    },

    // The batched duration-ensemble kernel under the oracle gate
    // (demoTalkNet.py:225–270): per user a dense frame track with a
    // jittered audio length (4·nV + uid%7 − 3, so both truncation
    // branches of :253–255 occur across users), scored through
    // DurationEnsemble.ensemble with the hash-family stub model —
    // batch geometry, set-deduped durations, fold-order mean and
    // numpy-rint rounding all mirrored in SQL via the closed form
    // score(f, d) = stub(d, batch = f div 25d).
    "q65_duration_ensemble" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.DurationEnsemble
      scoreSeries(s, dir).select(col("video_id"), col("frame"))
        .as[(Long, Int)]
        .groupByKey(_._1)
        .flatMapGroups { (vid: Long, it: Iterator[(Long, Int)]) =>
          val nV = it.size // frames are dense 0..nV−1 (row_number)
          val nA = 4 * nV + (vid % 7).toInt - 3 // jittered MFCC rows
          val in = DurationEnsemble.EnsembleInput(vid, 0L, nA, nV)
          val scores = DurationEnsemble.ensemble(in, DurationEnsemble.HashBatchScorer)
          scores.indices.iterator.map(j => (vid, j.toLong, scores(j)))
        }
        .toDF("video_id", "frame", "score")
        .groupBy(col("video_id"))
        .agg(count(lit(1)).as("n"), microsSum(col("score")).as("score_u_sum"))
        .orderBy(col("video_id"))
    },

    // Segment file sink under the oracle gate
    // (extractSpeakingSegments.py:117–139): q32's speaking segments,
    // cut to track_%05d_segment_%03d.{avi,wav} on the executors
    // (real WAV cut, stub AVI container), manifest aggregated per
    // video. Byte formulas: avi = 64 + 128·n_frames (stub), wav =
    // 44-byte PCM header + 2·640·n_frames.
    "q67_segment_sink" -> { (s, dir) =>
      val segs = SpeakingSegments.extract(scoreSeries(s, dir),
        threshold = 30.0, minDurationS = 0.2)
      val out = scratchDir(s, "graft_segsink")
      // Archive mode: one zip per partition instead of 2 files per
      // segment — same manifest rows/bytes (oracle unchanged), minus
      // the small-files storm. Per-file reference parity is covered
      // by SinksSpec.
      graft.sinks.MediaSinks.cutSegments(s, segs, out, mode = Archive)
        .groupBy(col("video_id"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_bytes")).as("bytes_sum"))
        .orderBy(col("video_id"))
    },

    // Crop-video sink under the oracle gate (demoTalkNet.py:180–213):
    // one dense track per user (frames 0..n−1, flat geometry), written
    // through writeTrackCrops — per track the stub container is
    // 16 + 8·n bytes, the real WAV cut 44 + 1280·n, the mux header 4,
    // so n_bytes = 64 + 1288·n and wav_samples = 640·n.
    "q68_crop_sink" -> { (s, dir) =>
      val proc = scoreSeries(s, dir).select(col("video_id"), lit(0L).as("scene_id"),
        col("track_id"), col("frame"),
        lit(100.0).as("x"), lit(50.0).as("y"), lit(20.0).as("s"))
      val out = scratchDir(s, "graft_cropsink")
      // Archive mode — see q67; per-track byte/sample formulas and the
      // manifest aggregation are identical in both layouts.
      graft.sinks.MediaSinks.writeTrackCrops(s, proc, out, mode = Archive)
        .groupBy(col("video_id"))
        .agg(count(lit(1)).as("n_tracks"), sum(col("n_bytes")).as("bytes_sum"),
          sum(col("wav_samples")).as("samples_sum"))
        .orderBy(col("video_id"))
    },

    // LOCAL FOLDER SCAN with a glob extension filter under the oracle
    // gate (batchProcessVideos.py:93–99 globs `*.avi` out of a mixed
    // drop folder): executors materialize one file per document into a
    // <source>/doc_<id>.<ext> tree (ext cycles avi/wav/txt by doc_id),
    // then a `binaryFile` scan with pathGlobFilter=*.avi +
    // recursiveFileLookup lists ONLY the avi subset. The scan's
    // projection keeps (path, length) so column pruning drops the
    // `content` blob — listing 1M files never reads a payload byte
    // (the Explain audit asserts the pruned ReadSchema). The oracle
    // recomputes names and byte sizes relationally from documents
    // (ASCII corpus: length(text) = UTF-8 bytes, the q31 note).
    // Scale: file listing is driver-side metadata work proportional
    // to file COUNT (Spark parallelizes listing over a threadpool);
    // the payload read it avoids is the part that scales with bytes.
    "q139_folder_scan" -> { (s, dir) =>
      val root = scratchDir(s, "graft_folderscan")
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val exts = Array("avi", "wav", "txt")
          it.foreach { r =>
            val id = r.getLong(0)
            val p = java.nio.file.Paths.get(root, r.getString(1),
              s"doc_$id.${exts((id % 3).toInt)}")
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p, r.getString(2).getBytes("UTF-8"))
          }
        }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(
          regexp_extract(col("path"), "([^/]+)/doc_\\d+\\.avi$", 1).as("source"),
          regexp_extract(col("path"), "doc_(\\d+)\\.avi$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"))
        .orderBy(col("doc_id"))
    },

    // FACE-CROP IMAGE SINK under the oracle gate (utils/tools.py:
    // 163–186 writes <video>/<entity>/<ts>.jpg crops): one crop per
    // event — entity = event_type within the user's video, timestamps
    // from the per-(user,type) frame index, geometry scaled from
    // `value` — through writeFaceCrops (same EntrySink machinery as
    // q67/q68: per-file or archive-per-partition, identical manifest
    // either way). The stub payload embeds the int pixel box, so
    // bytes_sum certifies the int() crop geometry (tools.py:180–184)
    // relationally: the oracle rebuilds each payload's length from
    // the same double expression tree. Crop PIXELS are covered by the
    // real-codec roundtrips (q114/q121); this row closes the sink's
    // path/layout/geometry contract, the part a switcher relies on.
    "q140_image_sink" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_ns"), col("event_id"))
      val rows = Tables.events(s, dir)
        .withColumn("frame", (row_number().over(w) - 1).cast("double"))
        .select(
          concat(lit("v"), col("user_id")).as("video_key"),
          col("event_type").as("entity_id"),
          (col("frame") / 25.0).as("frame_timestamp"),
          (col("value") / 1000.0).as("x1"), (col("value") / 2000.0).as("y1"),
          ((col("value") + 100.0) / 1000.0).as("x2"),
          ((col("value") + 100.0) / 2000.0).as("y2"))
      val out = scratchDir(s, "graft_facesink")
      graft.sinks.MediaSinks.writeFaceCrops(s, rows, out, mode = Archive)
        .groupBy(col("video_key"), col("entity_id"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_bytes")).as("bytes_sum"))
        .orderBy(col("video_key"), col("entity_id"))
    },
  )

  // ——— DuckDB mirrors of the polynomial-family LSH pipeline ———
  // Same ASCII-only corpus assumption as q31 (polyHashSql folds
  // per-character codepoints, RollingHash/polyHash fold UTF-8 bytes).

  /** Shingle→polyHash→minhash→band→verify, mirroring
    * Dedup.minhashCandidatePairs(numHashes=128, bands=32, k=3,
    * threshold=0.6, hashFn=polyHash) term for term. polyHash < 2^32,
    * so the kernel's mod-P32 token reduction is the identity and the
    * token hash feeds Q.uhashSql directly. The hot-bucket guard
    * (maxBucket=100000) never fires on the driver corpus, so the
    * oracle omits it. */
  /** Shingle→polyHash→minhash signature derivation as a CTE chain
    * (`sg` = (id, toks, sig)) — the shared front of the q40/q72 pair
    * oracles and the q89 incremental probe. */
  private def sigCte(src: String): String = {
    val ph = Q.polyHashSql("mht")
    val uh = Q.uhashSql("mhs", "mhh")
    s"""w AS (
       |  SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\\s+') AS wt
       |  FROM $src),
       |sh AS (
       |  SELECT id,
       |    list_distinct(list_transform(range(0, greatest(len(wt)-3, 0)+1),
       |      mhi -> array_to_string(wt[(CAST(mhi AS INT)+1):(CAST(mhi AS INT)+3)], ' '))) AS toks
       |  FROM w),
       |hs AS (
       |  SELECT id, toks, list_transform(toks, mht -> $ph) AS th FROM sh),
       |sg AS (
       |  SELECT id, toks,
       |    list_transform(range(0, 128), mhs ->
       |      list_min(list_transform(th, mhh -> $uh))) AS sig
       |  FROM hs)""".stripMargin
  }

  /** The q40 pair derivation as a reusable CTE chain (`mhpairs` =
    * verified near-dup pairs) — shared by the q72 closure oracle and
    * q275's leakage-split oracle (AnalyticsQueries11). */
  private[queries] def mhPairsCte(src: String): String = {
    s"""${sigCte(src)},
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.toks AS ta, b.toks AS tb
       |  FROM sg a JOIN sg b ON a.id < b.id
       |  WHERE len(list_filter(range(0, 32),
       |        mhb -> a.sig[(CAST(mhb AS INT)*4+1):(CAST(mhb AS INT)*4+4)]
       |             = b.sig[(CAST(mhb AS INT)*4+1):(CAST(mhb AS INT)*4+4)])) > 0),
       |mhpairs AS MATERIALIZED (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(ta, tb)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(ta, tb))) AS DOUBLE) AS jac
       |  FROM cand
       |  WHERE CAST(len(list_intersect(ta, tb)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(ta, tb))) AS DOUBLE) >= 0.6)""".stripMargin
  }

  private val q40Sql =
    s"WITH ${mhPairsCte("documents")}\nSELECT id_a, id_b, jac FROM mhpairs ORDER BY id_a, id_b"

  /** Mirrors Dedup.minhashEstimatePairs: same shared-band candidate
    * filter as q40 (no jac threshold), n_match = equal signature
    * components, est/jac/err in the identical IEEE expression order. */
  private val q105Sql =
    s"""WITH ${sigCte("documents")},
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.toks AS ta, b.toks AS tb,
       |    a.sig AS sa, b.sig AS sb
       |  FROM sg a JOIN sg b ON a.id < b.id
       |  WHERE len(list_filter(range(0, 32),
       |        mhb -> a.sig[(CAST(mhb AS INT)*4+1):(CAST(mhb AS INT)*4+4)]
       |             = b.sig[(CAST(mhb AS INT)*4+1):(CAST(mhb AS INT)*4+4)])) > 0),
       |pm AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_filter(range(0, 128),
       |      mei -> sa[CAST(mei AS INT)+1] = sb[CAST(mei AS INT)+1])) AS BIGINT) AS n_match,
       |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
       |    CAST(len(list_distinct(list_concat(ta, tb))) AS BIGINT) AS uni
       |  FROM cand)
       |SELECT id_a, id_b, n_match, inter, uni,
       |  CAST(n_match AS DOUBLE)/128.0 AS est,
       |  CAST(inter AS DOUBLE)/uni AS jac,
       |  round(CAST(n_match AS DOUBLE)/128.0 - CAST(inter AS DOUBLE)/uni, 6) AS err_r
       |FROM pm ORDER BY id_a, id_b""".stripMargin

  /** Mirrors Dedup.minhashIncrementalMatches over the %5 split: new
    * docs probe index band buckets, best match = (jac desc, iid asc),
    * clean docs emit (−1, 0.0). */
  private val q89Sql =
    s"""WITH ${sigCte("documents")},
       |idx AS (SELECT * FROM sg WHERE id % 5 <> 0),
       |nw AS (SELECT * FROM sg WHERE id % 5 = 0),
       |cand AS (
       |  SELECT n.id AS nid, i.id AS iid, n.toks AS tn, i.toks AS ti
       |  FROM nw n JOIN idx i ON
       |    len(list_filter(range(0, 32),
       |      mhb -> n.sig[(CAST(mhb AS INT)*4+1):(CAST(mhb AS INT)*4+4)]
       |           = i.sig[(CAST(mhb AS INT)*4+1):(CAST(mhb AS INT)*4+4)])) > 0),
       |ver AS (
       |  SELECT nid, iid,
       |    CAST(len(list_intersect(tn, ti)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(tn, ti))) AS DOUBLE) AS jac
       |  FROM cand
       |  WHERE CAST(len(list_intersect(tn, ti)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(tn, ti))) AS DOUBLE) >= 0.6),
       |best AS (
       |  SELECT nid, iid, jac,
       |    row_number() OVER (PARTITION BY nid ORDER BY jac DESC, iid) AS rn
       |  FROM ver)
       |SELECT d.doc_id,
       |  CAST(coalesce(b.iid, -1) AS BIGINT) AS dup_of,
       |  coalesce(b.jac, 0.0) AS jac
       |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
       |  ON b.nid = d.doc_id
       |WHERE d.doc_id % 5 = 0
       |ORDER BY d.doc_id""".stripMargin

  /** Mirrors Components.dedupClusters over the q40 edge set: the
    * transitive closure via a recursive CTE (min reachable id = the
    * component minimum — exactly the propagation fixpoint). */
  private val q72Sql =
    s"""WITH RECURSIVE ${mhPairsCte("documents")},
       |ccn AS (SELECT doc_id AS id FROM documents),
       |ccs AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mhpairs
       |        UNION ALL SELECT id_b, id_a FROM mhpairs),
       |walk AS (
       |  SELECT id, id AS r FROM ccn
       |  UNION
       |  SELECT s.b AS id, w.r FROM walk w JOIN ccs s ON s.a = w.id),
       |comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_n FROM comp GROUP BY cluster_id)
       |SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_n,
       |  CAST(comp.id = comp.cluster_id AS INT) AS keep
       |FROM comp JOIN sizes USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Mirrors q108: the q72 closure walk + the q96 margin formula,
    * keep = row_number 1 over (margin DESC, doc_id) per cluster ≡ the
    * Spark max_by over (margin, −doc_id). */
  private val q108Sql =
    s"""WITH RECURSIVE ${mhPairsCte("documents")},
       |ccn AS (SELECT doc_id AS id FROM documents),
       |ccs AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mhpairs
       |        UNION ALL SELECT id_b, id_a FROM mhpairs),
       |walk AS (
       |  SELECT id, id AS r FROM ccn
       |  UNION
       |  SELECT s.b AS id, w.r FROM walk w JOIN ccs s ON s.a = w.id),
       |comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
       |wq AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM documents),
       |wc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT word) AS BIGINT) AS n_distinct FROM wq GROUP BY 1),
       |sn AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS BIGINT) AS stop_n
       |  FROM documents),
       |m AS (SELECT wc.doc_id,
       |    10*sn.stop_n + 3*wc.n_distinct - 2*wc.n_tokens AS margin
       |  FROM wc JOIN sn USING (doc_id)),
       |r AS (SELECT comp.id AS doc_id, comp.cluster_id,
       |    CAST(m.margin AS BIGINT) AS margin,
       |    row_number() OVER (PARTITION BY comp.cluster_id
       |      ORDER BY m.margin DESC, comp.id) AS rn,
       |    count(*) OVER (PARTITION BY comp.cluster_id) AS cluster_n
       |  FROM comp JOIN m ON m.doc_id = comp.id)
       |SELECT doc_id, cluster_id, margin,
       |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  CAST(cluster_n AS BIGINT) AS cluster_n
       |FROM r ORDER BY doc_id""".stripMargin

  /** Mirrors Dedup.simhashBucketsPoly (family 200..263): per-token
    * 1-bit hashes, majority vote per bit, signed-64 reassembly (bit 63
    * via the explicit Long.MinValue term), bucket = top 16 bits. */
  private val q41Sql = {
    val ph = Q.polyHashSql("simtk")
    val uh = Q.uhashSql("200+simj", "simh")
    s"""WITH t AS (
       |  SELECT doc_id AS id,
       |    list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
       |  FROM documents),
       |h AS (
       |  SELECT id, len(toks) AS n,
       |    list_transform(toks, simtk -> $ph) AS hs
       |  FROM t),
       |b AS (
       |  SELECT id,
       |    list_transform(range(0, 64), simj ->
       |      CASE WHEN 2*list_sum(list_transform(hs, simh -> $uh % 2)) > n
       |           THEN 1 ELSE 0 END) AS bits
       |  FROM h)
       |SELECT id,
       |  CAST(list_sum(list_transform(range(0, 63),
       |      sj -> CAST(bits[CAST(sj AS INT)+1] AS BIGINT) * (CAST(1 AS BIGINT) << sj))) AS BIGINT)
       |    + CASE WHEN bits[64] = 1 THEN (CAST(-9223372036854775807 AS BIGINT) - 1) ELSE 0 END AS sim64,
       |  CAST(list_sum(list_transform(range(48, 64),
       |      sj -> CAST(bits[CAST(sj AS INT)+1] AS BIGINT) * (CAST(1 AS BIGINT) << (sj - 48)))) AS BIGINT) AS bucket
       |FROM b ORDER BY id""".stripMargin
  }

  /** Mirrors Similarity.annTopK(bits=8, queryEvery=50): plane
    * component (j,d) = uhash(1000+j·dim+d, d+1)/P32 − 0.5, sign-bit
    * bucket, exact-cosine rank within bucket. Folds are strict
    * left-to-right (Q.sqlDotD ≡ the DotProduct expression). */
  private val q43Sql = {
    val uh = Q.uhashSql("1000 + annj*len(embedding) + annd - 1", "annd")
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    ${Q.sqlDotD("embedding", "embedding")} AS n2,
       |    CAST(list_sum(list_transform(range(0, 8), annj ->
       |      CASE WHEN list_reduce(list_transform(range(1, len(embedding)+1),
       |          annd -> (CAST($uh AS DOUBLE)/4294967291.0 - 0.5)
       |                  * CAST(embedding[annd] AS DOUBLE)),
       |        (annx, anny) -> annx + anny) > 0
       |      THEN CAST(1 AS BIGINT) << annj ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, n2 AS qn2, bucket AS qb
       |  FROM v WHERE vec_id % 50 = 0),
       |p AS (SELECT qid, c.vec_id AS cid,
       |    ${Q.sqlDotD("qe", "c.embedding")} / (sqrt(qn2)*sqrt(c.n2)) AS cos
       |  FROM q JOIN v c ON c.bucket = qb AND c.vec_id <> qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM p)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, cid, round(cos, 6) AS cos_r
       |FROM r WHERE rn <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** Mirrors q42's constructed-input greedy tracker (the reduction
    * proof lives on the query): kept tracks = non-tiny segments with
    * > 11 faces, track_id = rank among kept segments by start; dense
    * frames make interpolation the identity, so rows are rebuilt from
    * the same dyadic coordinate forms (bit-identical doubles). */
  private val q42Sql =
    """WITH e AS (SELECT user_id AS video_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) - 1 AS INT) AS frame
      |  FROM events),
      |d AS (SELECT video_id, frame,
      |    frame // CAST(video_id % 13 + 8 AS INT) AS seg,
      |    frame % CAST(video_id % 13 + 8 AS INT) AS fin
      |  FROM e),
      |k AS (SELECT video_id, seg,
      |    row_number() OVER (PARTITION BY video_id ORDER BY seg) - 1 AS track_id
      |  FROM (SELECT video_id, seg FROM d WHERE seg % 5 <> 2
      |        GROUP BY 1, 2 HAVING count(*) > 11))
      |SELECT d.video_id, CAST(0 AS BIGINT) AS scene_id,
      |  CAST(k.track_id AS BIGINT) AS track_id, d.frame,
      |  d.seg*1000.0 + d.fin*0.5 AS x1, d.fin*0.5 AS y1,
      |  d.seg*1000.0 + d.fin*0.5 + 20.0 AS x2, d.fin*0.5 + 15.0 AS y2
      |FROM d JOIN k USING (video_id, seg)
      |ORDER BY video_id, track_id, frame""".stripMargin

  /** Mirrors q44's pipeline on the constructed input (closed forms on
    * the query): scenes = frame//100 gated ≥ 11; detections absent iff
    * (31·vid+frame)%10==0; one track per scene over [first..last]
    * present frame gated > 11 faces, numbered per video in scene order
    * (demoTalkNet.py:519–531); HashBatchScorer ensemble on track-local
    * j (nAudio = 4·nVideo ⇒ no truncation — q65's nv2 CTE degenerates
    * away); gaps-and-islands per (video_id, track_id), so no segment
    * crosses a track (extractSpeakingSegments.py:44–61). */
  private val q44Sql = {
    def sc(d: Int) = {
      val uh = Q.uhashSql("888", "video_id*1000000+j")
      s"(($uh) % 2000 - 1000)/1000.0 + ($d - 3.5)*0.01 + ((j // (25*$d)) * 37 % 10) * 0.001"
    }
    val mean = (1 to 6).map(d => s"(${sc(d)})").mkString("(", " + ", ")/6")
    val rint1 = "(CASE WHEN mean*10 - floor(mean*10) = 0.5 THEN " +
      "(CASE WHEN CAST(floor(mean*10) AS BIGINT) % 2 = 0 THEN floor(mean*10) ELSE floor(mean*10)+1 END) " +
      "ELSE round(mean*10) END / 10)"
    s"""WITH e AS (SELECT user_id AS video_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) - 1 AS BIGINT) AS frame
       |  FROM events),
       |n AS (SELECT video_id, count(*) AS nfr FROM e GROUP BY 1),
       |det AS (SELECT video_id, frame, frame // 100 AS scene_id FROM e
       |  WHERE (video_id*31 + frame) % 10 <> 0),
       |dk AS (SELECT det.* FROM det JOIN n USING (video_id)
       |  WHERE least(100, n.nfr - 100*det.scene_id) >= 11),
       |t AS (SELECT video_id, min(frame) AS f0, max(frame) AS f1,
       |    CAST(row_number() OVER (PARTITION BY video_id ORDER BY scene_id) - 1 AS BIGINT) AS track_id
       |  FROM dk GROUP BY video_id, scene_id HAVING count(*) > 11),
       |tf AS (SELECT video_id, track_id, f0, unnest(generate_series(f0, f1)) AS frame FROM t),
       |sj AS (SELECT video_id, track_id, frame, frame - f0 AS j FROM tf),
       |s0 AS (SELECT video_id, track_id, frame, $mean AS mean FROM sj),
       |f AS (SELECT video_id, track_id, frame,
       |    CASE WHEN $rint1 > 0.0 THEN 1 ELSE 0 END AS speaking FROM s0),
       |c AS (SELECT *,
       |  CASE WHEN lag(speaking) OVER w IS NULL OR lag(speaking) OVER w <> speaking
       |       THEN 1 ELSE 0 END AS changed
       |  FROM f WINDOW w AS (PARTITION BY video_id, track_id ORDER BY frame)),
       |g AS (SELECT *,
       |  CAST(sum(changed) OVER (PARTITION BY video_id, track_id ORDER BY frame
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
       |  FROM c),
       |runs AS (SELECT video_id, track_id, grp,
       |    CAST(min(frame) AS INT) AS start_frame,
       |    CAST(max(frame) + 1 AS BIGINT) AS end_frame,
       |    count(*) AS n_frames
       |  FROM g WHERE speaking = 1 GROUP BY 1, 2, 3
       |  HAVING max(frame) + 1 - min(frame) >= 5)
       |SELECT video_id, track_id,
       |  CAST(row_number() OVER (PARTITION BY video_id, track_id ORDER BY start_frame) AS BIGINT) AS seg_id,
       |  start_frame, end_frame, n_frames,
       |  CAST(start_frame AS DOUBLE)/25 AS start_s,
       |  CAST(end_frame AS DOUBLE)/25 AS end_s,
       |  CAST(end_frame - start_frame AS DOUBLE)/25 AS duration_s
       |FROM runs ORDER BY video_id, track_id, seg_id""".stripMargin
  }

  /** Mirrors DurationEnsemble.ensemble(HashBatchScorer) per frame via
    * the closed form: frame f's batch under duration d is f div 25d,
    * so score(f) = rint1(Σ_{d∈1..6} stub(d, f div 25d)/6) with the
    * fold left-assoc on both engines. rint1 is numpy's rounding
    * rint(x·10)/10 spelled out: DuckDB's round_even(x,1) diverges
    * when x·10 rounds to an exact .5 product (e.g. mean
    * −0.44999999999999996 ·10 → −4.5: rint → −0.4, round_even →
    * −0.5), and the k/1000-derived stub scores hit such ties, so the
    * tie branch is explicit — floor parity picks the even integer,
    * round() covers non-ties (equal to rint away from halves). nv2
    * reproduces the :253–255 truncation. uhash domain
    * video_id·1e6+frame stays < 2^32 for user_id ≤ 4294. */
  private val q65Sql = {
    def sc(d: Int) = {
      val uh = Q.uhashSql("888", "video_id*1000000+frame")
      s"(($uh) % 2000 - 1000)/1000.0 + ($d - 3.5)*0.01 + ((frame // (25*$d)) * 37 % 10) * 0.001"
    }
    val mean = (1 to 6).map(d => s"(${sc(d)})").mkString("(", " + ", ")/6")
    val rint1 = "(CASE WHEN mean*10 - floor(mean*10) = 0.5 THEN " +
      "(CASE WHEN CAST(floor(mean*10) AS BIGINT) % 2 = 0 THEN floor(mean*10) ELSE floor(mean*10)+1 END) " +
      "ELSE round(mean*10) END / 10)"
    s"""WITH e AS (SELECT user_id AS video_id,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) - 1 AS BIGINT) AS frame
       |  FROM events),
       |m AS (SELECT video_id, count(*) AS nv FROM e GROUP BY 1),
       |m2 AS (SELECT video_id,
       |    CAST(round(least(CAST((4*nv + video_id % 7 - 3) - (4*nv + video_id % 7 - 3) % 4 AS DOUBLE)/100,
       |                     CAST(nv AS DOUBLE)/25) * 25) AS BIGINT) AS nv2 FROM m),
       |f AS (SELECT e.video_id, e.frame FROM e JOIN m2 USING (video_id) WHERE e.frame < m2.nv2),
       |s0 AS (SELECT video_id, frame, $mean AS mean FROM f),
       |s AS (SELECT video_id, frame, $rint1 AS score FROM s0)
       |SELECT video_id, count(*) AS n,
       |  CAST(sum(CAST(round(score*1e6) AS BIGINT)) AS BIGINT) AS score_u_sum
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Mirrors q77: gates as integer comparisons, md5 exact dedup, then
    * the recursive closure over the survivors' MinHash pair graph. */
  private val q77Sql =
    s"""WITH RECURSIVE
       |wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM documents),
       |wcq AS (SELECT doc_id, word, count(*) AS wn FROM wd GROUP BY 1, 2),
       |rep AS (SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_words,
       |    CAST(max(wn) AS BIGINT) AS top_n FROM wcq GROUP BY 1),
       |base0 AS (SELECT d.doc_id, d.lang, d.text,
       |    CAST(len(regexp_extract_all(lower(d.text), '\\b(the|and|of|to|in|is|a)\\b')) AS BIGINT) AS stop_n,
       |    r.n_words, r.top_n
       |  FROM documents d JOIN rep r USING (doc_id)),
       |base AS MATERIALIZED (SELECT *,
       |    (n_words < 20 OR stop_n * 100 < n_words) AS fail_quality,
       |    (top_n * 100 > n_words * 15) AS fail_rep
       |  FROM base0),
       |surv1 AS MATERIALIZED (SELECT *, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
       |  FROM base WHERE NOT fail_quality AND NOT fail_rep),
       |fpk AS (SELECT fp, min(doc_id) AS fp_keep FROM surv1 GROUP BY 1),
       |surv2 AS (SELECT s.doc_id, s.text FROM surv1 s JOIN fpk USING (fp)
       |  WHERE s.doc_id = fpk.fp_keep),
       |${mhPairsCte("surv2")},
       |ccs AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mhpairs
       |        UNION ALL SELECT id_b, id_a FROM mhpairs),
       |walk AS (
       |  SELECT doc_id AS id, doc_id AS r FROM surv2
       |  UNION
       |  SELECT s.b AS id, w.r FROM walk w JOIN ccs s ON s.a = w.id),
       |compc AS (SELECT id, min(r) AS comp FROM walk GROUP BY id)
       |SELECT b.doc_id, b.lang, b.n_words, b.top_n, b.stop_n,
       |  CASE WHEN b.fail_quality THEN 'quality'
       |       WHEN b.fail_rep THEN 'repetition'
       |       WHEN b.doc_id <> fpk.fp_keep THEN 'exact_dup'
       |       WHEN b.doc_id <> c.comp THEN 'near_dup'
       |       ELSE 'kept' END AS disposition
       |FROM base b
       |LEFT JOIN surv1 s1 ON s1.doc_id = b.doc_id
       |LEFT JOIN fpk ON fpk.fp = s1.fp
       |LEFT JOIN compc c ON c.id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** Mirrors Similarity.pqTopK(m=8, ksub=16, queryEvery=50, k=10):
    * codebook = row_number over (uhash(6000, id), id) < 16; subspace
    * distances as j-ascending folds of squared diffs; corpus code =
    * argmin (dist, cent_k); ADC = m-ascending fold over LUT entries.
    * Every fold is list_reduce without seed ≡ the kernels' 0.0-seeded
    * ascending loops. The subspace width is len(embedding)//8 — read
    * from the data like the kernel's dim/m — so a re-generated fixture
    * with a different width changes both sides in lockstep instead of
    * silently truncating only the oracle. The m/ksub constants are
    * likewise shared with the Spark call (q78M/q78Ksub interpolated
    * below AND passed to pqTopK) so the two sides cannot drift. */
  private val q78M = 8
  private val q78Ksub = 16
  private val q78Sql = {
    val uh = Q.uhashSql("6000", "(vec_id % 4294967291)")
    s"""WITH cb AS (
       |  SELECT cent_k, embedding FROM (
       |    SELECT embedding,
       |      row_number() OVER (ORDER BY $uh, vec_id) - 1 AS cent_k
       |    FROM embeddings) WHERE cent_k < $q78Ksub),
       |sd AS (
       |  SELECT e.vec_id, pqm.m, cb.cent_k,
       |    list_reduce(list_transform(range(1, len(e.embedding)//$q78M + 1), pqj ->
       |      (CAST(e.embedding[CAST(pqm.m*(len(e.embedding)//$q78M) + pqj AS INT)] AS DOUBLE)
       |         - CAST(cb.embedding[CAST(pqm.m*(len(e.embedding)//$q78M) + pqj AS INT)] AS DOUBLE))
       |      * (CAST(e.embedding[CAST(pqm.m*(len(e.embedding)//$q78M) + pqj AS INT)] AS DOUBLE)
       |         - CAST(cb.embedding[CAST(pqm.m*(len(e.embedding)//$q78M) + pqj AS INT)] AS DOUBLE))),
       |      (pqx, pqy) -> pqx + pqy) AS dist
       |  FROM embeddings e, range(0, $q78M) pqm(m), cb),
       |codes AS MATERIALIZED (
       |  SELECT vec_id AS cid, list(cent_k ORDER BY m) AS code FROM (
       |    SELECT vec_id, m, cent_k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cent_k) AS rn
       |    FROM sd) WHERE rn = 1 GROUP BY vec_id),
       |luts AS MATERIALIZED (
       |  SELECT vec_id AS qid, list(dist ORDER BY m, cent_k) AS lut
       |  FROM sd WHERE vec_id % 50 = 0 GROUP BY vec_id),
       |adc AS (
       |  SELECT l.qid, c.cid,
       |    list_reduce(list_transform(range(0, $q78M), pqm ->
       |      lut[CAST(pqm*$q78Ksub AS INT) + code[CAST(pqm AS INT) + 1] + 1]),
       |      (pqx, pqy) -> pqx + pqy) AS adc
       |  FROM luts l, codes c WHERE c.cid <> l.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn
       |      FROM adc)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, cid, round(adc, 6) AS adc_r
       |FROM r WHERE rn <= 10 ORDER BY qid, rank""".stripMargin
  }

  val oracle = Map(
    "q40_minhash_pairs" -> q40Sql,
    "q105_minhash_estimate" -> q105Sql,
    "q108_cluster_retention" -> q108Sql,
    "q72_dedup_clusters" -> q72Sql,
    "q89_incremental_neardup" -> q89Sql,
    "q77_corpus_clean" -> q77Sql,
    "q78_pq_topk" -> q78Sql,
    "q41_simhash_buckets" -> q41Sql,
    "q43_ann_topk" -> q43Sql,
    "q65_duration_ensemble" -> q65Sql,
    "q42_greedy_tracks" -> q42Sql,
    "q44_pipeline_e2e" -> q44Sql,

    // q32's runs CTE + the sink byte formulas: 2 files per segment,
    // avi 64+128·nf, wav 44+1280·nf → Σ bytes = Σ(108 + 1408·nf).
    "q67_segment_sink" ->
      """WITH e AS (SELECT user_id AS video_id, CAST(0 AS BIGINT) AS track_id,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) - 1 AS INT) AS frame,
        |    value AS score
        |  FROM events),
        |f AS (SELECT *, CASE WHEN score > 30.0 THEN 1 ELSE 0 END AS speaking FROM e),
        |c AS (SELECT *,
        |  CASE WHEN lag(speaking) OVER w IS NULL OR lag(speaking) OVER w <> speaking
        |       THEN 1 ELSE 0 END AS changed
        |  FROM f WINDOW w AS (PARTITION BY video_id, track_id ORDER BY frame)),
        |g AS (SELECT *,
        |  CAST(sum(changed) OVER (PARTITION BY video_id, track_id ORDER BY frame
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
        |  FROM c),
        |runs AS (SELECT video_id, track_id, grp, count(*) AS n_frames
        |  FROM g WHERE speaking = 1 GROUP BY video_id, track_id, grp
        |  HAVING max(frame) + 1 - min(frame) >= 5)
        |SELECT video_id, CAST(2*count(*) AS BIGINT) AS n_files,
        |  CAST(sum(108 + 1408*n_frames) AS BIGINT) AS bytes_sum
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,

    // One track per user with n = count(events) frames; the sink byte
    // formulas (stub container 16+8n, wav 44+1280n, mux header 4).
    "q68_crop_sink" ->
      """SELECT user_id AS video_id, CAST(1 AS BIGINT) AS n_tracks,
        |  CAST(64 + 1288*count(*) AS BIGINT) AS bytes_sum,
        |  CAST(640*count(*) AS BIGINT) AS samples_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q139: names/sizes of the avi-extension subset of the fixture
    // tree, relationally — ASCII corpus, so length(text) = UTF-8 bytes
    // (the q31 note).
    "q139_folder_scan" ->
      """SELECT source, doc_id, CAST(length(text) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    // q140: rebuild each stub payload's length from the same IEEE
    // double tree as the sink's int() pixel casts (tools.py:180–184).
    "q140_image_sink" ->
      """WITH e AS (SELECT 'v' || CAST(user_id AS VARCHAR) AS video_key,
        |    event_type AS entity_id,
        |    CAST(trunc((value/1000.0)*640) AS INT) AS px1,
        |    CAST(trunc((value/2000.0)*360) AS INT) AS py1,
        |    CAST(trunc(((value+100.0)/1000.0)*640) AS INT) AS px2,
        |    CAST(trunc(((value+100.0)/2000.0)*360) AS INT) AS py2
        |  FROM events)
        |SELECT video_key, entity_id, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(length('STUBJPG ' || CAST(px1 AS VARCHAR) || ',' ||
        |    CAST(py1 AS VARCHAR) || ',' || CAST(px2 AS VARCHAR) || ',' ||
        |    CAST(py2 AS VARCHAR))) AS BIGINT) AS bytes_sum
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ASCII-only corpus assumption (same as q29): Spark-side RollingHash
    // folds UTF-8 OCTETS while this oracle folds per-CHARACTER codepoints
    // via ascii(substr(..)) — identical only while byte == codepoint.
    // Non-ASCII text would contribute several byte terms per char in
    // Spark vs one here. Driver generator emits ASCII; revisit if not.
    "q31_rolling_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |    ELSE list_reduce(list_transform(range(1, length(text)+1),
        |           i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |         (h, b) -> (h * 31 + b) % 1000000007)
        |  END AS BIGINT) AS fp64
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_segments_ref" ->
      """WITH e AS (SELECT user_id AS video_id, CAST(0 AS BIGINT) AS track_id,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) - 1 AS INT) AS frame,
        |    value AS score
        |  FROM events),
        |f AS (SELECT *, CASE WHEN score > 30.0 THEN 1 ELSE 0 END AS speaking FROM e),
        |c AS (SELECT *,
        |  CASE WHEN lag(speaking) OVER w IS NULL OR lag(speaking) OVER w <> speaking
        |       THEN 1 ELSE 0 END AS changed
        |  FROM f WINDOW w AS (PARTITION BY video_id, track_id ORDER BY frame)),
        |g AS (SELECT *,
        |  CAST(sum(changed) OVER (PARTITION BY video_id, track_id ORDER BY frame
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
        |  FROM c),
        |runs AS (SELECT video_id, track_id, grp,
        |    CAST(min(frame) AS INT) AS start_frame,
        |    CAST(max(frame) + 1 AS BIGINT) AS end_frame,
        |    count(*) AS n_frames
        |  FROM g WHERE speaking = 1 GROUP BY video_id, track_id, grp
        |  HAVING max(frame) + 1 - min(frame) >= 5)
        |SELECT video_id, track_id,
        |  CAST(row_number() OVER (PARTITION BY video_id, track_id ORDER BY start_frame) AS BIGINT) AS seg_id,
        |  start_frame, end_frame, n_frames,
        |  CAST(start_frame AS DOUBLE)/25 AS start_s,
        |  CAST(end_frame AS DOUBLE)/25 AS end_s,
        |  CAST(end_frame - start_frame AS DOUBLE)/25 AS duration_s
        |FROM runs ORDER BY video_id, seg_id""".stripMargin,
  )
}
