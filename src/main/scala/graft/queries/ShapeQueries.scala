package graft.queries

import graft.operators.{Dedup, Sketches, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 pack: relational reshape (pivot / unpivot / grouping
  * sets), sketch-accelerated analytics with exact-answer guarantees
  * (Misra–Gries heavy hitters, GK-quantile rank audit), fuzzy
  * near-dup via banded edit distance, iterative graph rank (integer
  * fixed-point PageRank), Gopher-style quality rules, and a seeded
  * Poisson bootstrap resample — the remaining classic shapes of a
  * training-data pipeline's composition layer.
  *
  * Scale contracts (the reason each plan is shaped the way it is):
  *  - q152 pivots with an EXPLICIT value list, so no distinct-collect
  *    pre-job runs; the pivot is one hash aggregate.
  *  - q154 blocks the quadratic pair space by (lang, 256-wide length
  *    bin) with a 3-bin left expansion — every |Δlen| ≤ 256 pair is
  *    generated EXACTLY once by an equi-keyed hash join (never a
  *    nested loop), and the O(len²) edit distance runs on a bounded
  *    48-byte normalized prefix.
  *  - q155 sketches per partition (bounded memory, no shuffle), then
  *    recounts only the tiny candidate set; the Misra–Gries superset
  *    guarantee (see operators/Sketches.scala) makes the result equal
  *    to the exact answer, so the full-corpus groupBy of a naive plan
  *    shrinks to a broadcast-semi-join + small agg.
  *  - q158 is the Pregel shape: contributions shuffle on dst once per
  *    iteration; the degree-annotated edge list is one subtree reused
  *    by all three iterations (ReusedExchange).
  *  - Every cross-row sum is over longs (exact, associative) per Q's
  *    float policy, so results are partition-count independent.
  */
object ShapeQueries extends QueryPack {

  private val langs = Seq("de", "en", "es", "fr", "zh")

  /** Normalized ASCII shadow prefix for edit distance: lower-case,
    * strip non-printable-ASCII, first 48 chars. On the ASCII shadow,
    * Spark's code-point Levenshtein and DuckDB's byte Levenshtein
    * agree (1 char = 1 byte); it's also the standard dedup
    * normalization (casefold + charset flattening). */
  private def asciiPrefix(text: Column): Column =
    substring(regexp_replace(lower(text), "[^ -~]", ""), 1, 48)

  /** Poisson(1) replicate count from a uniform draw: the inverse-CDF
    * ladder over uhash(doc_id) ∈ [0, P). Thresholds are
    * floor(cdf_k · P) for P = 4294967291, pinned as integer constants
    * so both engines run the identical comparison (no per-row float
    * math at all). Tail capped at 6 (cdf ≥ 0.99999). */
  private val PoissonThresholds =
    Seq(1580030166L, 3160060333L, 3950075417L, 4213413778L, 4279248368L, 4292415286L)

  private val BootstrapFamily = 15900

  private def uhash(i: Int, x: Column): Column = {
    val (ha, hb) = Dedup.affine(i)
    pmod(lit(ha) * pmod(x, lit(4294967291L)) + lit(hb), lit(4294967291L))
  }

  override def queries: Map[String, Q.Fn] = Map(

    // PIVOT reshape: the per-source language-mass matrix (corpus
    // composition dashboards want the wide shape). The value list is
    // explicit, so Spark skips the collect-distinct pre-job a bare
    // pivot() runs — at 100 TB that pre-job is a full extra scan; the
    // language axis of a corpus is a known small enum. One hash
    // aggregate, output cardinality = |sources|.
    "q152_pivot_matrix" -> { (s, dir) =>
      val wide = Tables.table(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(sum(col("n_chars")))
      wide.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).cast("long").as(l)): _*)
        .orderBy(col("source"))
    },

    // UNPIVOT (melt): per-doc metrics to (doc_id, metric, value) long
    // form — the shape metric stores and per-metric quantile jobs
    // want. Dataset.unpivot is a per-row Expand (no shuffle, no join);
    // output rows = docs × metrics.
    "q153_unpivot_metrics" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          col("n_chars").cast("long").as("chars"),
          size(TextOps.words(col("text"))).cast("long").as("tokens"))
        .unpivot(Array(col("doc_id")), Array(col("chars"), col("tokens")),
          "metric", "value")
        .orderBy(col("doc_id"), col("metric"))
    },

    // FUZZY near-dup via blocked edit distance. Candidate DEFINITION
    // (shared with the oracle, so the compare is still bit-exact):
    // same lang, same 8-char prefix of the normalized ASCII shadow,
    // |Δn_chars| ≤ 256, Levenshtein over the 48-char shadow ≤ 12.
    // The prefix equality is the standard prefix-blocking compromise
    // of similarity joins: an edit inside the first 8 chars escapes
    // the block (at 100 TB you'd union a second pass blocked on a
    // different slice, e.g. the suffix); in exchange the pair space
    // collapses — measured at sf0.1: 2.46 M → 6.3 k candidate pairs,
    // zero of the 79 true matches lost, and the query drops from
    // ~100 s of Levenshtein DP to join cost. Plan: equi-keyed hash
    // join on (lang, prefix8, length-bin); the left side expands to
    // bins {b−1, b, b+1}, the right stays at its own bin, and the
    // doc_a < doc_b gate keeps exactly one copy of each unordered
    // pair (a |Δlen| ≤ 256 pair's bins differ by ≤ 1, and at most
    // one of the left doc's three emitted bins equals the right
    // doc's — no distinct pass needed). The bin key keeps per-bucket
    // fan-in bounded even when a boilerplate prefix goes hot, and
    // the 48-char shadow bounds the O(len²) DP while making Spark's
    // code-point Levenshtein equal DuckDB's byte Levenshtein.
    "q154_fuzzy_dedup" -> { (s, dir) =>
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          asciiPrefix(col("text")).as("pfx"))
        .filter(length(col("pfx")) >= 24)
        .withColumn("p8", substring(col("pfx"), 1, 8))
        .withColumn("bin", expr("n_chars DIV 256"))
      val left = d.select(col("doc_id").as("doc_a"), col("lang"), col("p8"),
          col("n_chars").as("na"), col("pfx").as("pa"),
          explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("jb"))
      val right = d.select(col("doc_id").as("doc_b"), col("lang"), col("p8"),
        col("n_chars").as("nb"), col("pfx").as("pb"), col("bin").as("jb"))
      left.join(right, Seq("lang", "p8", "jb"))
        .filter(col("doc_a") < col("doc_b") &&
          abs(col("na") - col("nb")) <= 256)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
        .filter(col("dist") <= 12)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // HEAVY HITTERS, sketch-accelerated but EXACT: tokens with count
    // strictly above n/200. Pass 1 runs Misra–Gries(256) inside each
    // partition (bounded memory, zero shuffle) — the superset
    // guarantee means no true heavy hitter can be missed (see
    // Sketches.scala for the pigeonhole argument; 256 ≥ 200 is what
    // makes it hold). Pass 2 recounts ONLY the ≤ 256·P candidates via
    // a broadcast semi join and applies the exact threshold. The
    // candidate set itself depends on partitioning (fine — it's an
    // internal superset); the OUTPUT doesn't, which is what the
    // oracle checks. At 100 TB the naive plan shuffles every token;
    // this one shuffles candidates only.
    "q155_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.table(s, dir, "documents")
        .select(explode(TextOps.words(col("text"))).as("w"))
      val cand = toks.as[String]
        .mapPartitions(it => Sketches.misraGries(it, 256))
        .toDF("w").distinct()
      val total = toks.agg(count(lit(1)).as("n"))
      toks.join(broadcast(cand), Seq("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * 200 > col("n"))
        .select(col("w"), col("cnt"))
        .orderBy(col("w"))
    },

    // QUANTILE-SKETCH rank audit (q118/q131 style: the approximate
    // operator runs for real, the OUTPUT is its verified guarantee):
    // per-language percentile_approx(n_chars, 0.5, accuracy=100) must
    // return an element whose rank interval [lt+1, le] intersects the
    // documented approxQuantile bound
    // [floor((p−err)·n), ceil((p+err)·n)], err = 1/accuracy. `ok` is
    // computed from actual counts against the actual sketch output
    // (integer floor/ceil via DIV, no floats); the sketch value itself
    // stays out of the output because GK merge order varies with
    // partitioning — the GUARANTEE is deterministic, the value isn't.
    "q156_quantile_audit" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val ap = docs.groupBy(col("lang"))
        .agg(expr("percentile_approx(n_chars, 0.5D, 100)").as("approx"))
      docs.join(broadcast(ap), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") < col("approx"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("n_chars") <= col("approx"), 1L).otherwise(0L)).as("le"))
        .select(col("lang"), col("n"),
          when(col("le") >= expr("(49 * n) DIV 100") &&
            col("lt") + 1 <= expr("(51 * n + 99) DIV 100"), 1L)
            .otherwise(0L).as("ok"))
        .orderBy(col("lang"))
    },

    // GOPHER-style quality rules (Rae et al. 2021 §A1.1, adapted):
    // word count ∈ [50, 100000]; mean word length ∈ [3, 10]; '#'
    // symbol ratio ≤ 1/10 words; ≥ 80% words contain a Latin letter;
    // ≥ 2 English stopwords. All thresholds integer cross-multiplied
    // (3·words ≤ chars etc.) so no division ever runs. Pure per-row
    // map over array-local token stats — embarrassingly parallel,
    // whole-stage codegen, no shuffle but the output sort.
    "q157_gopher_rules" -> { (s, dir) =>
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val m = Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.words(col("text")).as("wt"),
          (length(col("text")) - length(expr("replace(text, '#', '')")))
            .cast("long").as("n_hash"))
        .select(col("doc_id"), col("n_hash"),
          size(col("wt")).cast("long").as("n_words"),
          length(array_join(col("wt"), "")).cast("long").as("word_chars"),
          size(filter(col("wt"), x => x.rlike("[A-Za-z]")))
            .cast("long").as("n_alpha"),
          size(filter(col("wt"), x => x.isin(stops: _*)))
            .cast("long").as("n_stop"))
      val fWc = col("n_words") >= 50 && col("n_words") <= 100000
      val fMwl = lit(3) * col("n_words") <= col("word_chars") &&
        col("word_chars") <= lit(10) * col("n_words")
      val fSym = lit(10) * col("n_hash") <= col("n_words")
      val fAlpha = lit(5) * col("n_alpha") >= lit(4) * col("n_words")
      val fStop = col("n_stop") >= 2
      def flag(c: Column): Column = when(c, 1L).otherwise(0L)
      m.select(col("doc_id"),
          flag(fWc).as("f_wc"), flag(fMwl).as("f_mwl"), flag(fSym).as("f_sym"),
          flag(fAlpha).as("f_alpha"), flag(fStop).as("f_stop"),
          flag(fWc && fMwl && fSym && fAlpha && fStop).as("keep"))
        .orderBy(col("doc_id"))
    },

    // PAGERANK, integer fixed-point, 3 unrolled iterations over the
    // customer↔supplier co-purchase bipartite graph (nodes 2·custkey
    // / 2·suppkey+1; each distinct trading pair is an undirected edge
    // = two directed edges, so every node has degree ≥ 1 and no
    // dangling mass exists). Ranks live in millionths: r₀ = 10⁶,
    // contribution = r DIV deg, r' = 0.15·10⁶ + (85·Σcontrib) DIV 100
    // — all long arithmetic, so the sums are associative and the
    // result is partition-independent (double-precision PageRank
    // would hash-drift under re-ordered adds). The Pregel shape: the
    // loop-invariant tables (edges, degrees, the degree-annotated
    // edge list) are persist()ed — WITHOUT that, each unrolled
    // iteration inlines the full upstream subtree and the plan grows
    // exponentially (observed: 66 parquet scans for 3 iterations;
    // with the caches: one scan pair + linear rank lineage). Each
    // iteration then moves ONLY the rank table: one shuffle-on-src
    // join + one shuffle-on-dst aggregate — exactly how an iterative
    // graph algorithm must be shaped at 100 TB (cache the edge list,
    // spill-capable MEMORY_AND_DISK, stream the ranks).
    "q158_pagerank" -> { (s, dir) =>
      // MEMORY_AND_DISK_SER for the loop invariants (round-11 verdict
      // task 3): the deserialized default held row objects ~3–4× the
      // serialized bytes, and at rung 2 the edge list outgrew storage
      // memory — every iteration then re-read spilled blocks.
      // Serialized, the same cache holds ~3× the edges before
      // spilling; the per-iteration deserialize cost is one columnar
      // scan, far below a disk round-trip.
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      val e0 = Tables.table(s, dir, "orders")
        .join(Tables.table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .distinct()
        .persist(lvl)
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      // EAGER-FREE of the raw pair cache (round-14 verdict task 2,
      // ARCHITECTURE.md "q158 rung-4 A/B"): e0 has ZERO readers once
      // deg and ed materialize (~1/3 of the cached loop-invariant
      // bytes, dead weight), and at rungs where the cache set
      // competes with shuffle memory the free restores LINEARITY —
      // sf30→sf100 went from 6.9× on 3.33× rows (r14, lazy) to 2.9×
      // (eager free), with sf30 −26% and sf100 −33% at min-of-3. The
      // isolating counter-arm: localCheckpoint's DESERIALIZED blocks
      // are 3–4× the SER bytes — +73% at sf30 and ENOSPC at sf100 —
      // so the above-linear term is cached loop-invariant BYTES vs
      // one box's RAM, not lineage depth.
      val degV = e.groupBy(col("src")).agg(count(lit(1)).as("d")).persist(lvl)
      val edV = e.join(degV, Seq("src"))
        .select(col("src"), col("dst"), col("d")).persist(lvl)
      degV.count(); edV.count(); e0.unpersist()
      val r0 = degV.select(col("src").as("node"), lit(1000000L).as("r"))
      // A SHUFFLE_HASH hint on the rank side was measured in round 16
      // (OPTIMIZATION_r16.md, 4 alternating same-JVM reps at sf0.1) and
      // came out a WASH (pairwise 2–2, mins 4.67 vs 4.82): edV is
      // cached with the ordering its own build join produced, so the
      // per-iteration SMJ never re-sorts it — the sort the hint would
      // remove does not exist. Kept sort-merge, the rung-4-measured
      // shape.
      def step(r: DataFrame): DataFrame =
        edV.join(r.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(expr("r DIV d")).as("cs"))
          .select(col("dst").as("node"),
            (lit(150000L) + expr("(85 * cs) DIV 100")).as("r"))
      step(step(step(r0)))
        .orderBy(col("r").desc, col("node"))
        .limit(50)
    },

    // POISSON(1) BOOTSTRAP resample: the standard distributed
    // bootstrap (Chamandy et al. / Kleiner's BLB lineage) — per-doc
    // replicate count k ~ Poisson(1) via the seeded inverse-CDF
    // ladder, rows exploded k times (the materialized resample), then
    // per-language replicate statistics next to the original counts.
    // Deterministic: the uniform draw is uhash(doc_id), the ladder
    // thresholds are pinned integers. Map-side explode (≤ 6×, mean
    // 1×), one agg per side — no extra shuffle beyond the aggs.
    "q159_poisson_bootstrap" -> { (s, dir) =>
      val u = uhash(BootstrapFamily, col("doc_id"))
      val reps = PoissonThresholds.zipWithIndex
        .foldRight(lit(6L): Column) { case ((t, k), els) =>
          when(u < t, k.toLong).otherwise(els)
        }
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), reps.as("reps"))
      val base = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val boot = d
        .select(col("lang"), col("n_chars"),
          explode(when(col("reps") > 0, sequence(lit(1L), col("reps")))
            .otherwise(array().cast("array<bigint>"))).as("i"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("boot_docs"),
          sum(col("n_chars")).cast("long").as("boot_chars"))
      base.join(boot, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("boot_docs"), lit(0L)).as("boot_docs"),
          coalesce(col("boot_chars"), lit(0L)).as("boot_chars"))
        .orderBy(col("lang"))
    },

    // EXPLICIT GROUPING SETS with grouping() flags — the q93/q109
    // rollup/cube family member where the set list is hand-picked:
    // per-lang totals, per-source totals, and the grand total, WITHOUT
    // the (lang, source) pair level a cube would force. One Expand →
    // one hash agg; output carries grouping() indicators so consumers
    // can tell a real 'de' row from an aggregate row.
    "q160_grouping_sets" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("g_lang"), col("g_source"), col("n_docs"), col("chars"))
        .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))
    },

    // MULTISET set ops — INTERSECT ALL / EXCEPT ALL between two
    // sources' token bags (q09's union and q08's anti-join cover the
    // DISTINCT set algebra; corpus accounting needs the ALL variants:
    // "how many occurrences does src0 share with src1" is a multiset
    // question). Spark's intersectAll/exceptAll compile to counted
    // hash aggregates + a generate — one shuffle on the token, no
    // quadratic pair joins.
    "q161_multiset_ops" -> { (s, dir) =>
      def toks(src: String) = Tables.table(s, dir, "documents")
        .filter(col("source") === src)
        .select(explode(TextOps.words(col("text"))).as("w"))
      val a = toks("src0"); val b = toks("src1")
      def counted(df: DataFrame, op: String) = df
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(lit(op).as("op"), col("w"), col("cnt"))
      counted(a.intersectAll(b), "intersect_all")
        .union(counted(a.exceptAll(b), "except_all"))
        .orderBy(col("op"), col("w"))
    },

    // AGGREGATE-FUNCTION family completion: count_if, bool_and,
    // bool_or, and arg-max/arg-min by a UNIQUE composite key.
    // max_by/min_by are nondeterministic under argument ties, so the
    // ordering argument is n_chars·10⁶ + doc_id — injective while
    // doc_id < 10⁶ (true for the acceptance tables; at larger id
    // spaces widen the multiplier or use a struct ordering key).
    // One hash aggregate, partial-agg friendly: every function here
    // has an associative merge.
    "q162_agg_family" -> { (s, dir) =>
      val key = col("n_chars") * 1000000L + col("doc_id")
      Tables.table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(expr("count_if(n_chars > 300)").as("n_long"),
          when(expr("bool_and(n_chars > 50)"), 1L).otherwise(0L).as("all_over_50"),
          when(expr("bool_or(n_chars > 900)"), 1L).otherwise(0L).as("any_over_900"),
          max_by(col("doc_id"), key).as("longest_doc"),
          min_by(col("doc_id"), key).as("shortest_doc"))
        .orderBy(col("lang"))
    },

    // WINDOW-function family completion: cume_dist, nth_value, and
    // last_value(IGNORE NULLS) over the per-lang length order. The
    // (n_chars, doc_id) key is unique, so cume_dist's tie group is a
    // single row (rank/n — one small-int IEEE division, identical on
    // both engines) and the RANGE-vs-ROWS default-frame distinction
    // is moot. nth_value/last_value are null until their target row
    // enters the frame — nullable longs, compared as such.
    "q163_window_family" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          cume_dist().over(w).as("cd"),
          nth_value(col("doc_id"), 3).over(w).cast("long").as("third_doc"),
          last(when(col("n_chars") % 3 === 0, col("doc_id")), ignoreNulls = true)
            .over(w).cast("long").as("last_div3"))
        .orderBy(col("doc_id"))
    },

    // CONTENT CHECKSUM (the migration/replication audit: do two
    // copies of a table hold the same rows, without moving either?):
    // per-group row count + an order-independent digest = the SUM of
    // per-row rolling_hash fingerprints over a canonical '|'-joined
    // row string (integer/flag columns only — float formatting is
    // engine-specific, so quantities enter as exact rounded longs).
    // Sum-of-hashes is associative/commutative, so the digest is
    // partition- and order-independent by construction; per-row
    // hashes < 10⁹+7 keep the sum far from long overflow. The hash is
    // the codegen'd RollingHash expression (q149's), mirrored by the
    // oracle's polyHashSql.
    "q164_content_checksum" -> { (s, dir) =>
      graft.functions.RollingHash.register(s)
      Tables.table(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_linestatus"),
            round(col("l_quantity")).cast("long")).as("rs"))
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("rolling_hash(rs)")).as("checksum"))
        .orderBy(col("rf"))
    },

    // TIME-RANGE window frame (the §2.5 family's missing member —
    // every other window here is ROWS-framed or unbounded): per-user
    // trailing-10-minute event count and exact value sum, RANGE
    // BETWEEN 600 s PRECEDING AND CURRENT ROW over epoch-nanos. The
    // RANGE frame is value-based, so co-timestamped peers aggregate
    // identically on both engines regardless of their physical order;
    // the sum is integer cents (Q policy). One shuffle on user_id +
    // per-partition sort — the standard window shape, frames slide in
    // O(1) amortized per row.
    "q165_range_frame" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
        .rangeBetween(-600000000000L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"),
          count(lit(1)).over(w).as("cnt_10m"),
          sum(Q.cents(col("value"))).over(w).as("cents_10m"))
        .orderBy(col("event_id"))
    },

    // 2-D SKYLINE (Pareto frontier: docs not dominated in
    // (n_chars, n_tokens) within their language — the multi-criteria
    // retention cut "keep nothing strictly worse on both axes"). The
    // plan is the sorted sweep, not the quadratic join: dominated ⟺
    // max(y over x' > x) ≥ y OR max(y over same x) > y — two window
    // maxes over one per-lang sort (the strict-x window is the
    // 1-FOLLOWING range frame on the ascending x order). O(n log n)
    // per language vs the oracle's NOT EXISTS O(n²); the hash compare
    // certifies the sweep equals the quadratic definition. Equal
    // (x, y) twins both survive (neither strictly dominates).
    "q166_skyline" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(TextOps.words(col("text"))).cast("long").as("n_tokens"))
      // "max(y) over strictly-greater x" via the DESCENDING sort and
      // a growing range frame ending 1 before the current value —
      // O(n) per language — never the ascending-sort shrinking
      // `1..unboundedFollowing` frame, which Spark recomputes per row
      // (quadratic in docs-per-language, against this query's own
      // O(n log n) claim). On a descending order, range offset −1
      // selects rows whose n_chars ≥ current + 1, i.e. exactly the
      // strict-x dominator set.
      val wGt = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc)
        .rangeBetween(Window.unboundedPreceding, -1L)
      val wEq = Window.partitionBy(col("lang"), col("n_chars"))
      base
        .withColumn("m_gt", max(col("n_tokens")).over(wGt))
        .withColumn("m_eq", max(col("n_tokens")).over(wEq))
        .filter(coalesce(col("m_gt"), lit(-1L)) < col("n_tokens") &&
          col("m_eq") <= col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // MERGE APPLY (the lakehouse MERGE INTO shape: a change feed with
    // update/insert/delete actions folded into a base table in one
    // pass). The feed is each user's LATEST event (q106's one-agg
    // max(struct) compaction — never a per-key sort), keyed to
    // 11·user_id so it straddles the base key range: in-range keys
    // update, beyond-range keys insert, and 'error' events delete.
    // The fold itself is one full-outer hash join + a CASE — exactly
    // what Delta/Iceberg MERGE compiles to when the feed isn't
    // broadcastable; `status` makes each branch visible to the
    // oracle. All money flows as integer cents.
    "q167_merge_apply" -> { (s, dir) =>
      val latest = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts_ns"), col("event_id"), col("event_type"),
          col("value"))).as("m"))
        .select((col("user_id") * 11).as("key"),
          when(col("m.event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          Q.cents(col("m.value")).as("new_cents"))
      val base = Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("key"), Q.cents(col("c_acctbal")).as("bal_cents"),
          // Explicit base-presence marker: 'inserted' must mean "no
          // base row", not "base balance was null" — a null-balance
          // base row receiving an upsert is an UPDATE (the oracle
          // tests b.key IS NULL, so the predicates must agree).
          lit(1).as("in_base"))
      base.join(latest, Seq("key"), "full_outer")
        // matched deletes remove the row; unmatched deletes are no-ops
        // — either way every 'delete' row leaves the result.
        .filter(col("op").isNull || col("op") === "upsert")
        .select(col("key"),
          when(col("op") === "upsert", col("new_cents"))
            .otherwise(col("bal_cents")).as("bal_cents"),
          when(col("op").isNull, lit("kept"))
            .when(col("in_base").isNull, lit("inserted"))
            .otherwise(lit("updated")).as("status"))
        .orderBy(col("key"))
    },

    // TIME-SERIES GAP FILL with last-observation-carried-forward (the
    // resample step a feature/metrics pipeline runs before training
    // on regular time grids): per user, an HOURLY grid spanning that
    // user's first..last event hour; hours with no event carry the
    // previous observed value. The per-(user, hour) observation is
    // the hour's LATEST event (q106's one-agg max(struct)
    // compaction), the grid is a per-user sequence() explode (grid
    // size = span × users, independent of event count), and the fill
    // is one last(IGNORE NULLS) window per user — no self-joins, no
    // per-gap scans. `observed` keeps real and carried rows
    // distinguishable. Money as cents; hours as epoch-hour longs.
    "q168_gap_fill" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ob = Tables.events(s, dir)
        .withColumn("hr", expr("ts_ns DIV 3600000000000"))
        .groupBy(col("user_id"), col("hr"))
        .agg(max(struct(col("ts_ns"), col("event_id"),
          Q.cents(col("value")).as("cents"))).as("m"))
        .select(col("user_id"), col("hr"), col("m.cents").as("ob_cents"))
        .persist() // referenced by the bounds agg AND the merge union
      val grid = ob.groupBy(col("user_id"))
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("hr"))
      // Attach observations to the grid by UNION + one (user, hr) agg
      // instead of a grid⋈ob equi-join (round-17): the grid's hour set
      // CONTAINS ob's NON-NULL hours by construction (lo..hi span
      // them), so max(ob_cents) over the two branches is exactly the
      // left join's ob_cents — null iff the hour had no observation
      // (or the hour's latest value was SQL NULL, which nulled the
      // joined column the same way). A null-hr observation (null
      // event time) is filtered from the ob branch: the old equi-join
      // could never match it (NULL keys join nothing) and min/max
      // ignore it in the grid bounds, so it must stay invisible here
      // too. One hash-agg exchange replaces the join's two-sided
      // exchange+sort; both branches read the cached ob.
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      grid.select(col("user_id"), col("hr"),
          lit(null).cast("long").as("ob_cents"))
        .unionByName(ob.filter(col("hr").isNotNull))
        .groupBy(col("user_id"), col("hr"))
        .agg(max(col("ob_cents")).as("ob_cents"))
        .select(col("user_id"), col("hr"),
          last(col("ob_cents"), ignoreNulls = true).over(w).as("filled_cents"),
          when(col("ob_cents").isNull, 0L).otherwise(1L).as("observed"))
        .orderBy(col("user_id"), col("hr"))
    },

    // RETENTION COHORTS (the engagement matrix every event pipeline
    // reports: of the users whose FIRST activity fell in week w, how
    // many were active k weeks later?). cohort = per-user min epoch-
    // week (one hash agg), activity = distinct (user, week), offset =
    // week − cohort_week; the matrix is one join + one distinct-count
    // agg. Epoch-week integers end to end — no calendar functions, no
    // timezone edge. Scale shape: everything keys on user_id, the
    // natural partitioner; the matrix itself is weeks² tiny.
    "q169_retention_cohorts" -> { (s, dir) =>
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns DIV 604800000000000").as("wk"))
      val coh = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.distinct().join(coh, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("cohort_wk"), col("offset_wk"))
    },

    // SLIDING-WINDOW DISTINCT COUNT, exact (distinct users over the
    // trailing 7 days, per day — the DAU/WAU overlap metric). COUNT
    // DISTINCT cannot ride a sliding window frame, so the plan is the
    // contribution explode: each distinct (user, active-day) feeds
    // the 7 window-end days it covers, a second distinct collapses
    // multi-day users per window, one count per day finishes. Blowup
    // is a fixed 7× on the (user, day) DEDUPED activity table (not
    // on raw events), every stage an equi-keyed hash agg — the shape
    // that survives any event volume.
    "q170_sliding_distinct" -> { (s, dir) =>
      val d = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
        .distinct()
      d.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .distinct()
        .groupBy(col("wday"))
        .agg(count(lit(1)).as("users_7d"))
        .orderBy(col("wday"))
    },

    // EVENT TRANSITION MATRIX (first-order Markov counts: which event
    // follows which, per user sequence — the session-model input and
    // the "broken funnel" diagnostic). lead() over the per-user
    // (ts_ns, event_id) order pairs each event with its successor;
    // one count agg builds the |types|² matrix. The unique composite
    // order key makes the successor deterministic under ties.
    "q171_event_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("next_type"))
    },

    // CUSUM CHANGEPOINT over the daily event-rate series: cumulative
    // sum of scaled deviations from the global mean, peak |cusum| day
    // flagged — the standard level-shift detector. The mean is a
    // rational (total/days), so deviations are cross-multiplied to
    // integers (n·days − total): cusum stays an exact long, the
    // argmax is unambiguous, and the whole series is bit-stable. The
    // global window runs on the per-DAY aggregate (rows = days, tiny
    // by construction) — the corpus-scale work is the one groupBy
    // that produced it; the two 1-row broadcasts (totals, max) are
    // the q85-style scalar shape.
    "q172_cusum_changepoint" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .groupBy(expr("ts_ns DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val t = d.agg(count(lit(1)).as("nd"), sum(col("n")).as("tot"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = d.crossJoin(broadcast(t))
        .withColumn("cusum", sum(col("n") * col("nd") - col("tot")).over(w))
      val m = c.agg(max(abs(col("cusum"))).as("mx"))
      c.crossJoin(broadcast(m))
        .select(col("day"), col("n"), col("cusum"),
          when(abs(col("cusum")) === col("mx"), 1L).otherwise(0L).as("is_peak"))
        .orderBy(col("day"))
    }
  )

  override def oracle: Map[String, String] = Map(

    "q152_pivot_matrix" ->
      s"""SELECT source,
         |${langs.map(l => s"  CAST(coalesce(sum(CASE WHEN lang='$l' THEN n_chars END), 0) AS BIGINT) AS $l")
              .mkString(",\n")}
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q153_unpivot_metrics" ->
      """WITH m AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents)
        |SELECT doc_id, 'chars' AS metric, chars AS value FROM m
        |UNION ALL SELECT doc_id, 'tokens' AS metric, tokens AS value FROM m
        |ORDER BY doc_id, metric""".stripMargin,

    // The oracle is the naive quadratic-per-language join over the
    // full candidate DEFINITION (incl. the prefix-8 block, which is
    // part of the semantics) — the bin machinery in the Spark plan
    // must be invisible in the result set.
    "q154_fuzzy_dedup" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    substr(regexp_replace(lower(text), '[^ -~]', '', 'g'), 1, 48) AS pfx
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE substr(a.pfx, 1, 8) = substr(b.pfx, 1, 8)
        |  AND abs(a.n_chars - b.n_chars) <= 256
        |  AND length(a.pfx) >= 24 AND length(b.pfx) >= 24
        |  AND levenshtein(a.pfx, b.pfx) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,

    // The oracle is the exact full-shuffle count — the sketch path
    // must land on the identical heavy-hitter set and counts.
    "q155_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok, tot GROUP BY w, tot.n HAVING count(*) * 200 > tot.n
        |ORDER BY w""".stripMargin,

    // ok = 1 IS the assertion: the GK sketch's rank guarantee held.
    // A sketch regression flips ok to 0 and fails the hash compare.
    "q156_quantile_audit" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(1 AS BIGINT) AS ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q157_gopher_rules" ->
      """WITH w AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(wt) AS BIGINT) AS n_words,
        |    CAST(len(array_to_string(wt, '')) AS BIGINT) AS word_chars,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST(len(list_filter(wt, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(wt, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop
        |  FROM w)
        |SELECT doc_id,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS f_wc,
        |  CAST(CASE WHEN 3*n_words <= word_chars AND word_chars <= 10*n_words THEN 1 ELSE 0 END AS BIGINT) AS f_mwl,
        |  CAST(CASE WHEN 10*n_hash <= n_words THEN 1 ELSE 0 END AS BIGINT) AS f_sym,
        |  CAST(CASE WHEN 5*n_alpha >= 4*n_words THEN 1 ELSE 0 END AS BIGINT) AS f_alpha,
        |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND 3*n_words <= word_chars AND word_chars <= 10*n_words
        |    AND 10*n_hash <= n_words AND 5*n_alpha >= 4*n_words
        |    AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "q158_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |    FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.d) AS cs FROM e
        |    JOIN deg ON e.src = deg.node JOIN r0 ON e.src = r0.node GROUP BY e.dst),
        |r1 AS (SELECT node, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r FROM c1),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.d) AS cs FROM e
        |    JOIN deg ON e.src = deg.node JOIN r1 ON e.src = r1.node GROUP BY e.dst),
        |r2 AS (SELECT node, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r FROM c2),
        |c3 AS (SELECT e.dst AS node, sum(r2.r // deg.d) AS cs FROM e
        |    JOIN deg ON e.src = deg.node JOIN r2 ON e.src = r2.node GROUP BY e.dst),
        |r3 AS (SELECT node, CAST(150000 + (85 * cs) // 100 AS BIGINT) AS r FROM c3)
        |SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 50""".stripMargin,

    "q159_poisson_bootstrap" -> {
      val uh = Q.uhashSql(BootstrapFamily.toString, "(doc_id % 4294967291)")
      val ladder = PoissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN $uh < $t THEN $k" }.mkString("\n         |    ")
      s"""WITH k AS (SELECT doc_id, lang, n_chars,
         |    CASE $ladder
         |    ELSE 6 END AS reps
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(reps) AS BIGINT) AS boot_docs,
         |  CAST(sum(reps * n_chars) AS BIGINT) AS boot_chars
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q160_grouping_sets" ->
      """SELECT coalesce(lang, '(all)') AS lang,
        |  coalesce(source, '(all)') AS source,
        |  CAST(grouping(lang) AS BIGINT) AS g_lang,
        |  CAST(grouping(source) AS BIGINT) AS g_source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY g_lang, g_source, lang, source""".stripMargin,

    "q161_multiset_ops" ->
      """WITH ta AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents WHERE source = 'src0'),
        |tb AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents WHERE source = 'src1'),
        |i AS (SELECT w FROM ta INTERSECT ALL SELECT w FROM tb),
        |x AS (SELECT w FROM ta EXCEPT ALL SELECT w FROM tb)
        |SELECT 'intersect_all' AS op, w, CAST(count(*) AS BIGINT) AS cnt
        |FROM i GROUP BY w
        |UNION ALL
        |SELECT 'except_all' AS op, w, CAST(count(*) AS BIGINT) AS cnt
        |FROM x GROUP BY w
        |ORDER BY op, w""".stripMargin,

    "q162_agg_family" ->
      """SELECT lang,
        |  CAST(count(*) FILTER (WHERE n_chars > 300) AS BIGINT) AS n_long,
        |  CAST(CASE WHEN bool_and(n_chars > 50) THEN 1 ELSE 0 END AS BIGINT) AS all_over_50,
        |  CAST(CASE WHEN bool_or(n_chars > 900) THEN 1 ELSE 0 END AS BIGINT) AS any_over_900,
        |  CAST(arg_max(doc_id, n_chars * 1000000 + doc_id) AS BIGINT) AS longest_doc,
        |  CAST(arg_min(doc_id, n_chars * 1000000 + doc_id) AS BIGINT) AS shortest_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q163_window_family" ->
      """SELECT doc_id, lang,
        |  cume_dist() OVER w AS cd,
        |  CAST(nth_value(doc_id, 3) OVER w AS BIGINT) AS third_doc,
        |  CAST(last_value(CASE WHEN n_chars % 3 = 0 THEN doc_id END IGNORE NULLS)
        |    OVER w AS BIGINT) AS last_div3
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q164_content_checksum" -> {
      val fp = Q.polyHashSql("rs")
      s"""WITH r AS (SELECT l_returnflag AS rf,
         |    concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus,
         |      CAST(round(l_quantity) AS BIGINT)) AS rs
         |  FROM lineitem)
         |SELECT rf, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum($fp) AS BIGINT) AS checksum
         |FROM r GROUP BY rf ORDER BY rf""".stripMargin
    },

    "q165_range_frame" ->
      """SELECT event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS cnt_10m,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_10m
        |FROM (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns
        |  RANGE BETWEEN 600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // The oracle is the quadratic NOT EXISTS dominance definition —
    // the sweep plan must reproduce it exactly.
    "q166_skyline" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, n_tokens FROM b p
        |WHERE NOT EXISTS (SELECT 1 FROM b q
        |  WHERE q.lang = p.lang AND q.n_chars >= p.n_chars
        |    AND q.n_tokens >= p.n_tokens
        |    AND (q.n_chars > p.n_chars OR q.n_tokens > p.n_tokens))
        |ORDER BY lang, doc_id""".stripMargin,

    "q167_merge_apply" ->
      """WITH latest AS (
        |  SELECT user_id * 11 AS key,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |    CAST(round(value * 100) AS BIGINT) AS new_cents
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events)
        |  WHERE rn = 1),
        |base AS (SELECT c_custkey AS key,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer)
        |SELECT coalesce(b.key, l.key) AS key,
        |  CASE WHEN l.op = 'upsert' THEN l.new_cents ELSE b.bal_cents END AS bal_cents,
        |  CASE WHEN l.op IS NULL THEN 'kept'
        |       WHEN b.key IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS status
        |FROM base b FULL OUTER JOIN latest l ON b.key = l.key
        |WHERE l.op IS NULL OR l.op = 'upsert'
        |ORDER BY key""".stripMargin,

    "q168_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |obs AS (SELECT user_id, ts_ns // 3600000000000 AS hr,
        |    max(struct_pack(ts_ns := ts_ns, event_id := event_id,
        |      cents := cents)) AS m
        |  FROM e GROUP BY 1, 2),
        |ob AS (SELECT user_id, hr, m.cents AS ob_cents FROM obs),
        |bounds AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi
        |  FROM ob GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hr FROM bounds)
        |SELECT g.user_id AS user_id, CAST(g.hr AS BIGINT) AS hr,
        |  CAST(last_value(ob.ob_cents IGNORE NULLS)
        |    OVER (PARTITION BY g.user_id ORDER BY g.hr) AS BIGINT) AS filled_cents,
        |  CAST(CASE WHEN ob.ob_cents IS NULL THEN 0 ELSE 1 END AS BIGINT) AS observed
        |FROM grid g LEFT JOIN ob ON g.user_id = ob.user_id AND g.hr = ob.hr
        |ORDER BY g.user_id, g.hr""".stripMargin,

    "q169_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
        |    epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |coh AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT coh.cohort_wk AS cohort_wk,
        |  CAST(act.wk - coh.cohort_wk AS BIGINT) AS offset_wk,
        |  CAST(count(DISTINCT act.user_id) AS BIGINT) AS active_users
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |GROUP BY 1, 2 ORDER BY cohort_wk, offset_wk""".stripMargin,

    "q170_sliding_distinct" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |w AS (SELECT DISTINCT user_id,
        |    unnest(range(day, day + 7)) AS wday FROM d)
        |SELECT CAST(wday AS BIGINT) AS wday,
        |  CAST(count(*) AS BIGINT) AS users_7d
        |FROM w GROUP BY wday ORDER BY wday""".stripMargin,

    "q171_event_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |FROM o WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin,

    "q172_cusum_changepoint" ->
      """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(n) AS BIGINT) AS tot FROM d),
        |c AS (SELECT day, n,
        |    CAST(sum(n * t.nd - t.tot) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
        |  FROM d, t),
        |m AS (SELECT max(abs(cusum)) AS mx FROM c)
        |SELECT c.day AS day, c.n AS n, c.cusum AS cusum,
        |  CAST(CASE WHEN abs(c.cusum) = m.mx THEN 1 ELSE 0 END AS BIGINT) AS is_peak
        |FROM c, m ORDER BY day""".stripMargin
  )
}
