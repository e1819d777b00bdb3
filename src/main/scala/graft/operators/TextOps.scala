package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-preparation text operators shared by the qNN queries and
  * their specs: tokenization, word n-grams, sliding-window chunking,
  * and benchmark decontamination. All column-only (whole-stage
  * codegen; no UDFs), so every helper here is a per-row map — the
  * embarrassingly-parallel shape that holds at any corpus size.
  *
  * The reference's string surface (split/format parsing,
  * dataLoader.py:94–108) uses the same tokenize-then-slice idiom; the
  * chunker mirrors the fixed-length clip windows its training loader
  * cuts from score series (dataLoader.py:46, 64 `[:numFrames]`
  * truncation, stride = window there).
  */
object TextOps {

  /** Whitespace word array (the corpus tokenizer used by q20/q74/q75). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Word k-grams joined by single spaces; `[]` when fewer than k
    * words. Same construction as q74's trigrams, parameterized. */
  def ngrams(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k),
        i => array_join(slice(w, i + lit(1), lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Adjacent token pairs `"w[i] w[i+1]"` (the BPE-training merge
    * candidates); `[]` when fewer than 2 words. Array-local per row —
    * no join, no window, whole-stage codegen. */
  def adjacentPairs(w: Column): Column =
    when(size(w) >= 2,
      transform(sequence(lit(0), size(w) - 2),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** [[adjacentPairs]] as (a, b) structs — same pairs, no per-token
    * string building: the q116 count groups on the two fields and
    * concatenates only the rows that survive the top-k cut. */
  def adjacentPairStructs(w: Column): Column =
    when(size(w) >= 2,
      transform(sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("a"), element_at(w, i + 2).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Sliding-window chunking with overlap (LLM context packing:
    * window tokens per chunk, advancing by stride < window). Emits one
    * row per chunk: (id, chunk_id, start, n_chunk_tokens, chunk_fp).
    * Starts are 0, stride, 2·stride, … and emission STOPS at the first
    * chunk that reaches the document end (the HF-tokenizer overflow
    * rule) — a redundant tail start would re-emit tokens the previous
    * chunk already covers, silently duplicating training data. So:
    * chunks = 1 for n ≤ window, else ⌈(n−window)/stride⌉ + 1; only the
    * last chunk may be shorter than `window`, and every token lands in
    * ≥1 chunk. Pure per-row explode — no shuffle, chunk count scales
    * with token volume, not doc count.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(col(idCol), words(col(textCol)).as("w"))
      .withColumn("n_chunks",
        when(size(col("w")) <= window, lit(1))
          .otherwise((size(col("w")) - window + (stride - 1)).divide(stride)
            .cast("int") + 1))
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(0), (col("n_chunks") - 1) * stride, lit(stride)))
          .as(Seq("chunk_id", "start")))
      .select(col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        slice(col("w"), col("start") + 1, lit(window)).as("c"))
      .select(col(idCol), col("chunk_id"), col("start"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("c"), " ")).as("chunk_fp"))
  }

  /** Benchmark decontamination: for every non-benchmark document,
    * count the distinct word-k-grams it shares with the benchmark
    * set's k-gram vocabulary (the n-gram-overlap eval-leak check run
    * before training). Returns (id, n_shared, contaminated 0/1) for
    * non-benchmark docs only.
    *
    * Scale shape: the benchmark gram vocabulary is benchmark-sized
    * (eval suites, not the corpus) → broadcast; the corpus side
    * explodes grams but only MATCHED (doc, gram) rows reach the
    * count-distinct shuffle, so a clean corpus shuffles almost
    * nothing. At 100 TB, join on a 64-bit gram hash instead of the
    * gram text to keep the broadcast and shuffle rows fixed-width
    * (the string join here keeps the DuckDB oracle exact; swapping in
    * xxhash64 changes no counts with overwhelming probability).
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      isBenchmark: Column, k: Int): DataFrame = {
    // materialize the token array before ngrams' lambda references
    // it: an inline words(text) re-evaluates the split per element
    val grams = docs
      .withColumn("is_bench", isBenchmark)
      .select(col(idCol), col("is_bench"), words(col(textCol)).as("w"))
      .select(col(idCol), col("is_bench"), explode(ngrams(col("w"), k)).as("g"))
    // benchVocab carries no broadcast HINT (round-15 hint audit): in
    // production it is eval-suite-sized and AQE broadcasts it from
    // actual runtime stats; a hint would FORCE the driver build even
    // on a vintage where the benchmark slice is corpus-sized (the
    // fixture models it as a source slice, which grows with SF) — the
    // q173 cliff class. Unhinted, the join degrades gracefully to a
    // shuffle whose corpus side the gram filter already pruned.
    val benchVocab = grams.filter(col("is_bench")).select(col("g")).distinct()
    val shared = grams.filter(!col("is_bench"))
      .join(benchVocab, Seq("g"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("n_shared"))
    docs.filter(!isBenchmark).select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
  }

  /** [[decontaminate]] with a BLOOM-FILTER pre-filter on the corpus
    * side — the shape that survives 100 TB. The exact plan above
    * shuffles every corpus gram that exists in the benchmark vocab;
    * this one first builds a bloom sketch of the benchmark grams
    * (`df.stat.bloomFilter`: per-partition sketches OR-merged on the
    * driver — O(bits), never O(rows)), broadcasts it, and drops
    * ~(1−fpp) of clean corpus grams BEFORE the exact join. The bloom
    * has NO false negatives, so the exact join over the survivors
    * returns byte-identical results to [[decontaminate]] — same
    * oracle. False positives only cost join work (they fail the exact
    * match), so `fpp` tunes memory vs wasted join rows, never
    * correctness. The mightContain probe is the one non-codegen seam
    * (a broadcast-sketch lookup), placed AFTER the codegen'd
    * gram explode and BEFORE the shuffle — the hot path it guards is
    * exactly the shuffle it shrinks.
    *
    * `expectedItems` sizes the sketch for the benchmark vocabulary
    * (eval suites — thousands to millions of grams, not the corpus);
    * if the vocab outgrows a single broadcast, the exact stage
    * degrades gracefully to a shuffle join whose corpus side is
    * already bloom-pruned. */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
      isBenchmark: Column, k: Int, expectedItems: Long,
      fpp: Double = 0.03): DataFrame = {
    // materialize the token array before ngrams' lambda references
    // it: an inline words(text) re-evaluates the split per element
    val grams = docs
      .withColumn("is_bench", isBenchmark)
      .select(col(idCol), col("is_bench"), words(col(textCol)).as("w"))
      .select(col(idCol), col("is_bench"), explode(ngrams(col("w"), k)).as("g"))
    val benchGrams = grams.filter(col("is_bench")).select(col("g"))
    val bloom = benchGrams.stat.bloomFilter("g", expectedItems, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bc.value.mightContainString(g))
    val candidates = grams.filter(!col("is_bench"))
      .filter(mightContain(col("g")))
    // no broadcast hint on the exact-join side (round-15 hint audit):
    // the scaladoc's "degrades gracefully to a shuffle join" is only
    // true if the ENGINE picks the strategy — AQE broadcasts the
    // distinct gram table while it is genuinely small and shuffles
    // past that; a hint would force the driver build at any size
    val shared = candidates
      .join(benchGrams.distinct(), Seq("g"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("n_shared"))
    docs.filter(!isBenchmark).select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
  }

  /** EXACT-DEDUP-FIRST decontamination — the q244 composition applied
    * to [[decontaminateBloom]] (round-11 verdict task 2). The naive
    * plan gram-explodes EVERY corpus document, so a corpus that is k×
    * exact-duplicated pays k× the explode, k× the bloom probes, and
    * k× the gram-join shuffle for identical answers per copy. This
    * operator collapses exact duplicates (md5 group → min-id
    * representative + group size) BEFORE the gram stage and
    * decontaminates only the representatives; because identical texts
    * have identical gram sets, every group member's raw q115 row is
    * EXACTLY its representative's (n_shared, contaminated) — the
    * recoverability identity pinned by DeconCompositionSpec. Returns
    * one row per representative: (rep_id, n_copies, n_shared,
    * contaminated); raw contaminated-doc count = Σ n_copies over
    * contaminated groups. The md5 group-shuffle moves 16-byte
    * fingerprints + ids, never text, and the expensive gram machinery
    * runs on the distinct-text corpus — the measured 100 TB answer to
    * q115's rung-2 super-linearity (ARCHITECTURE.md "Dedup
    * composition"). */
  def decontaminateDedupedBloom(docs: DataFrame, idCol: String,
      textCol: String, isBenchmark: Column, k: Int, expectedItems: Long,
      fpp: Double = 0.03): DataFrame = {
    // NOTE (round-17): a min_by(text, id)-in-the-agg variant — which
    // removes the rep join-back and its second corpus scan — measured
    // a CONSISTENT local LOSS (min 2.23 → 2.98 s on q261, 3/4
    // pairwise): carrying full TEXT through the agg buffers and its
    // exchange beats the join only once g outgrows broadcast; locally
    // the join is a broadcast and text never shuffles at all. The
    // q244 sibling (whose min_by carries ≤40 B of blocking
    // attributes, not text) shipped the rewrite; this one keeps the
    // join-back. Measurement: OPTIMIZATION_r17.md.
    val fp = docs.filter(!isBenchmark)
      .select(col(idCol), col(textCol), md5(col(textCol)).as("fp"))
    val g = fp.groupBy(col("fp"))
      .agg(min(col(idCol)).as("rid"), count(lit(1)).as("n_copies"))
    val reps = fp.join(g, fp(idCol) === g("rid"))
      .select(col("rid").as(idCol), col("n_copies"), col(textCol))
    // reuse the bloom-prefiltered exact join verbatim: benchmark docs
    // pass through untouched, the corpus side is representatives only
    val combined = docs.filter(isBenchmark)
      .select(col(idCol), lit(null).cast("long").as("n_copies"),
        col(textCol), lit(true).as("is_b"))
      .unionByName(reps.select(col(idCol), col("n_copies"), col(textCol),
        lit(false).as("is_b")))
    decontaminateBloom(combined, idCol, textCol, col("is_b"), k,
        expectedItems, fpp)
      .join(reps.select(col(idCol), col("n_copies")), Seq(idCol))
      .select(col(idCol).as("rep_id"), col("n_copies"), col("n_shared"),
        col("contaminated"))
  }

  /** Per-(doc, word) counts — the shared first stage of the TF-IDF /
    * BM25 / repetition queries. Two-level hash aggregation: map-side
    * partials absorb within-doc repetition before the shuffle. */
  def wordCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("wn"))

  /** Exact duplicated-SPAN attribution ("Deduplicating Training Data
    * Makes Language Models Better"): every k-token span → global
    * occurrence count → per-doc rollup of duplicated-span
    * occurrences. Two hash aggregations, both partial-aggregating
    * map-side.
    *
    * `hashed = true` (the default, and the 100 TB plan) replaces the
    * span STRING with a 128-bit fingerprint — two independent
    * xxhash64 lanes — before anything shuffles, so every exchange row
    * is fixed-width (16 bytes + id) no matter how long the k-token
    * text is; a k=20 span averages ~120 bytes, so the span shuffle
    * shrinks ~7× and stops depending on token length. Counts are
    * identical modulo ~2⁻¹²⁸ birthday collisions (≈ 10⁻²⁰ at a
    * trillion distinct spans). `hashed = false` shuffles the raw
    * string — collision-free by construction, the form the DuckDB
    * oracle mirrors; SpanDedupSpec pins hash ≡ string on the fixture
    * corpus. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String, k: Int,
      hashed: Boolean = true): DataFrame = {
    val raw = docs
      .select(col(idCol), words(col(textCol)).as("w"))
      .select(col(idCol), explode(ngrams(col("w"), k)).as("span"))
    // second lane: fold a golden-ratio salt ahead of the span so the
    // two lanes are independent functions of the same string
    val spans =
      if (hashed) raw.select(col(idCol), xxhash64(col("span")).as("k1"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("span")).as("k2"))
      else raw.select(col(idCol), col("span").as("k1"), lit(0L).as("k2"))
    // Attribute WITHOUT joining the occurrence mass back (round-17): a
    // (k1, k2) group with n_glob = 1 has exactly one occurrence, so
    // min(id) IS its document — per-doc unique-span counts aggregate
    // from the GROUP table, and n_dup_spans = n_spans − n_uniq (an
    // occurrence is dup iff its group has n_glob > 1). The old
    // spans⋈counts equi-join streamed every span occurrence through
    // the join a second time to compute the same two numbers.
    val counts = spans.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n_glob"), min(col(idCol)).as("only_doc"))
    val uniq = counts.filter(col("n_glob") === 1)
      .groupBy(col("only_doc").as(idCol))
      .agg(count(lit(1)).as("n_uniq"))
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"))
      .join(uniq, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        (col("n_spans") - coalesce(col("n_uniq"), lit(0L))).as("n_dup_spans"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast("double") / col("n_spans")))
      .orderBy(col(idCol))
  }

  // ——— BPE learn / apply (the q263/q266 tokenizer loop as reusable
  // operators — round-14 verdict task 5: a real pipeline learns ONCE,
  // persists the merge table (the q44 checkpoint contract models the
  // store), and applies it to every later corpus vintage) ———

  /** Word-frequency dict with initial single-character symbol arrays —
    * the shared learn/apply input. The [a-z]+ gate is the PRECONDITION
    * the merge machinery depends on (symbols are injected into
    * expression text and '+' is the pair separator) — enforced here on
    * the one shared path, so a data vintage with punctuation degrades
    * to training on the alphabetic sub-dict instead of mis-parsing.
    * Classic BPE trains on the DISTINCT-WORD dict, not the corpus: the
    * corpus is touched exactly once (this one groupBy(word) shuffle);
    * at 100 TB the dict is billions of rows where the corpus is
    * trillions of tokens. `keys` prepends grouping columns (e.g. lang)
    * for KEYED dicts — the apply-side shape q276's per-language
    * fertility audit tokenizes; learning still runs on the global
    * (key-free) dict. */
  def bpeDict(docs: DataFrame, textCol: String,
      keys: Seq[String] = Nil): DataFrame =
    docs.select(keys.map(col) :+ explode(words(col(textCol))).as("word"): _*)
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy((keys :+ "word").map(col): _*).agg(count(lit(1)).as("cnt"))
      .select(keys.map(col) ++ Seq(col("word"), col("cnt"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms")): _*)

  /** One BPE merge applied to a symbol-array expression, strictly
    * left-to-right non-overlapping (the reference BPE semantics): fold
    * the array, merging when the accumulator's LAST symbol is `x` and
    * the next element is `y`. Greedy non-overlap falls out of the fold
    * — a just-merged `xy` can never re-match as `x` (symbol lengths
    * only grow). Runs as a codegen'd higher-order `aggregate`; x/y are
    * [a-z]+ by the [[bpeDict]] precondition, so literal injection is
    * safe. `src` is any array<string> expression, which is what lets
    * [[bpeApply]] compose k merges into ONE map-only pass. */
  private[graft] def bpeMergeExpr(src: String, x: String, y: String): String =
    s"aggregate($src, cast(array() as array<string>), (acc, e) -> " +
      s"IF(size(acc) > 0 AND element_at(acc, -1) = '$x' AND e = '$y', " +
      s"concat(slice(acc, 1, size(acc) - 1), array('$x$y')), " +
      s"concat(acc, array(e))))"

  /** Learn `k` BPE merges over a (cnt, syms) dict (Sennrich et al.
    * 2016): k iterations of adjacent-pair counts → global argmax
    * (count DESC, pair ASC — deterministic) → non-overlapping merge
    * rewrite. Returns the merge TABLE rows (step, "x+y", pair_count) —
    * the persistable artifact between learn and apply. Scale shape:
    * each iteration shuffles only fixed-width pair keys of the dict
    * (|vocab| rows, corpus-size-free), the argmax is a TakeOrdered
    * (no full sort, 1 row to the driver — the same bounded
    * per-iteration driver scalar as q158's convergence check), and the
    * rewrite is a map-only array fold onto the pinned previous
    * generation. */
  def bpeLearn(dict: DataFrame, k: Int): Seq[(Long, String, Long)] = {
    // Gen 0 is the caller's dict: if the caller already persisted it
    // (q266 hands the pinned dict straight in), re-persisting the
    // (cnt, syms) projection would cache the same dict-sized data
    // TWICE for the whole learn loop — each iteration's re-read is a
    // map-only projection over the existing cache. Only an UNCACHED
    // input (q276's global roll-up, an aggregate over its cached
    // per-lang dict) gets its own gen-0 persist, which is what keeps
    // the per-iteration cost dict-sized instead of re-running the
    // roll-up shuffle k times.
    var states = dict.select(col("cnt"), col("syms"))
    var ownsStates =
      dict.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownsStates) {
      // lazy like every later generation: the first argmax job below
      // materializes gen 0 once; later gens fold onto the cache
      states = states.persist()
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // LAZY generation pinning (round-16): each generation is persisted
    // but materialized by the NEXT iteration's argmax job (the first
    // action that reads it), not by an eager count() — the superseded
    // generation is freed only after that job lands, so lineage never
    // recomputes. Two jobs per iteration become one, and the FINAL
    // generation's rewrite — which the old eager count paid in full and
    // which bpeLearn's output (the merge table) never reads — is never
    // computed at all.
    var prevToFree: Option[DataFrame] = None
    for (step <- 1 to k) {
      val best = states
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> concat(syms[i], '+', syms[i+1]))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("pair").asc)
        .limit(1).collect()
      // the collect above materialized `states`; its predecessor now
      // has zero readers
      prevToFree.foreach(_.unpersist()); prevToFree = None
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        merges += ((step.toLong, pair, best(0).getLong(1)))
        val Array(x, y) = pair.split("\\+", 2)
        val next = states.select(col("cnt"),
          expr(bpeMergeExpr("syms", x, y)).as("syms")).persist()
        if (ownsStates) prevToFree = Some(states)
        states = next
        ownsStates = true
      }
    }
    if (ownsStates) states.unpersist()
    prevToFree.foreach(_.unpersist())
    merges.toSeq
  }

  /** Apply a learned merge table (the "x+y" pairs, IN LEARNED ORDER)
    * to a dict's syms column: the k folds compose into ONE map-only
    * select — applying merge 1 to every word and then merge 2 equals
    * composing the two per-row folds, so the apply side needs no
    * iteration state, no persists, and exactly zero shuffles. This is
    * the production read path: tokenize any corpus vintage with a
    * stored merge table at scan speed. */
  def bpeApply(dict: DataFrame, merges: Seq[String]): DataFrame = {
    val chained = merges.foldLeft("syms") { (src, pair) =>
      val Array(x, y) = pair.split("\\+", 2)
      bpeMergeExpr(src, x, y)
    }
    dict.withColumn("syms", expr(chained))
  }
}
