package graft.queries

import graft.operators.TextOps
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators over `documents` — the
  * training-data-pipeline surface (token counting, quality scoring,
  * language ID, fingerprinting, exact + similarity dedup). The
  * reference's string surface (split/format/concat parsing of trial
  * lists, SURVEY §2.7) is exercised by the same functions.
  *
  * Scale notes: everything here is per-row (embarrassingly parallel)
  * except q25, which joins on a blocking key (lang, source) — the
  * standard entity-resolution trick that bounds candidate pairs to
  * within-block instead of O(n²) corpus-wide. MinHash-LSH (the
  * probabilistic scale path) lives in operators/Dedup.scala.
  */
object TextQueries extends QueryPack {
  import Q._

  private[queries] val STOP_EN = "\\b(the|and|of|to|in|is|a)\\b"
  private val STOP_ES = "\\b(el|la|de|que|los|una)\\b"
  private val STOP_DE = "\\b(der|die|und|das|ein|nicht)\\b"
  private val STOP_FR = "\\b(le|les|des|une|est|dans)\\b"

  /** The q135 bigram-LM fluency score, shared with q148's bucketing:
    * per-doc mean P(b|a) = c(ab)/c(a·) with each term integer-scaled
    * (round(1e6·c2/c1) as LONG) BEFORE the per-doc sum, so the
    * aggregate is order-independent; one double division at the end.
    * Returns (doc_id, n_bigrams, lm_u, avg_p). */
  private def bigramLmScore(s: SparkSession, dir: String) = {
    val docs = Tables.table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
    val bi = docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(TextOps.adjacentPairStructs(col("w"))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val c2 = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    // c1 derives from c2 — c1(a) = Σ_b c2(a, b) exactly (every
    // occurrence of a as a bigram head lands in exactly one (a, b)
    // cell) — so the head-count aggregation runs over the pair
    // VOCABULARY, not the bigram OCCURRENCE mass, and the c2 exchange
    // is shared between its two consumers (ReuseExchange): the explode
    // lineage feeds 2 subtrees instead of 3.
    val c1 = c2.groupBy(col("a")).agg(sum(col("c2")).as("c1"))
    // Attach the per-pair term through ONE join (round-17): the term
    // round(1e6·c2/c1) depends only on (a, b), so c2⋈c1 resolves it on
    // the PAIR-VOCABULARY table first and the bigram occurrence mass
    // crosses one exchange instead of two (the old bi⋈c2⋈c1 chain
    // re-exchanged every occurrence row a second time for the c1 key).
    // Same longs per row ⇒ identical per-doc sums.
    val term = c2.join(c1, Seq("a"))
      .withColumn("term",
        round(col("c2").cast("double") * 1e6 / col("c1")).cast("long"))
      .select(col("a"), col("b"), col("term"))
    bi.join(term, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("lm_u"))
      .withColumn("avg_p",
        col("lm_u").cast("double") / 1e6 / col("n_bigrams"))
  }

  val queries = Map[String, Fn](
    // Token counting: whitespace tokenization + a BPE-ish regex
    // (GPT-2-style pre-tokenizer shape: contractions, space-prefixed
    // letter/digit runs, punctuation runs — RE2/Java-compatible
    // subset) + length stats.
    "q20_token_stats" -> { (s, dir) =>
      val bpe = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_m"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          size(regexp_extract_all(col("text"), lit(bpe), lit(0))).cast("long").as("n_bpe_tokens"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_nonspace"))
        .withColumn("avg_token_len",
          col("n_nonspace").cast("double") / col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: punctuation / stopword ratios (heuristic doc
    // quality for corpus filtering).
    "q21_quality_score" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("long").as("punct_n"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_EN), lit(0))).cast("long").as("stop_n"),
          length(col("text")).cast("long").as("n_chars_m"))
        .withColumn("stop_ratio", col("stop_n").cast("double") / col("n_tokens"))
        .withColumn("punct_ratio", col("punct_n").cast("double") / col("n_chars_m"))
        .withColumn("quality", col("stop_ratio") + col("punct_ratio"))
        .orderBy(col("doc_id"))
    },

    // Language ID: stopword-hit argmax with deterministic tie-break
    // (n-gram/stopword heuristic classifier).
    "q22_langid" -> { (s, dir) =>
      val hits = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_EN), lit(0))).cast("long").as("en_n"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_ES), lit(0))).cast("long").as("es_n"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_DE), lit(0))).cast("long").as("de_n"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_FR), lit(0))).cast("long").as("fr_n"))
      hits.withColumn("pred_lang",
          when(col("en_n") >= col("es_n") && col("en_n") >= col("de_n") && col("en_n") >= col("fr_n"), "en")
            .when(col("es_n") >= col("de_n") && col("es_n") >= col("fr_n"), "es")
            .when(col("de_n") >= col("fr_n"), "de")
            .otherwise("fr"))
        .withColumn("is_match", when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
        .select(col("doc_id"), col("en_n"), col("es_n"), col("de_n"), col("fr_n"),
          col("pred_lang"), col("is_match"))
        .orderBy(col("doc_id"))
    },

    // Document fingerprint: whitespace-normalized md5 (content hash
    // for exact dedup across formatting variants).
    "q23_fingerprint" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        .orderBy(col("doc_id"))
    },

    // Exact dedup: hash-groupBy on the normalized fingerprint,
    // keep min doc_id per group (map-side partial agg; no O(n²)).
    "q24_dedup_exact" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .withColumn("fp", md5(lower(regexp_replace(col("text"), "\\s+", " "))))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy(col("keep_id"))
    },

    // Near-dup pairs: exact word-set Jaccard within (lang, source)
    // blocks via the per-block kernel (operators/Dedup.scala).
    // Blocking bounds candidates; the full-scale probabilistic path is
    // MinHash-LSH (q40).
    "q25_jaccard_pairs" -> { (s, dir) =>
      graft.operators.Dedup.jaccardBlockedPairs(s,
          Tables.table(s, dir, "documents"), "doc_id", "text",
          Seq("lang", "source"), threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
          round(col("jac"), 6).as("jac_r"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // JSON extraction + aggregation over events.props (driver schema:
    // props is a JSON string {"k": int}).
    "q26_json_stats" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
             sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_k_gt50"))
        .select(col("event_type"), col("n"), col("sum_k"), col("n_k_gt50"),
          (col("sum_k").cast("double") / col("n")).as("avg_k"))
        .orderBy(col("event_type"))
    },

    // Corpus-wide n-gram frequency top-k (benchmark-contamination /
    // memorization probes scan exactly this). Two-level hash
    // aggregation — the explode feeds map-side partial counts, the
    // final shuffle carries one row per DISTINCT trigram (≪ corpus),
    // and the top-k is a TakeOrderedAndProject (per-partition heaps →
    // driver merge, never a global sort). Tie-break on the ngram text
    // keeps the cut deterministic.
    "q74_ngram_topk" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(split(trim(col("text")), "\\s+").as("w"))
        .select(explode(when(size(col("w")) >= 3,
            expr("transform(sequence(0, size(w)-3), i -> array_join(slice(w, i+1, 3), ' '))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)
    },

    // Within-document repetition scoring (the Gopher-style repetition
    // filters): most-frequent-word share and duplicate-bigram share
    // per doc. Relational shape — explode → per-(doc, word) counts →
    // per-doc rollups — so every stage partial-aggregates; the two
    // fractions are single integer divisions (bit-exact on both
    // engines).
    "q75_doc_repetition" -> { (s, dir) =>
      val docs = Tables.documentsWide(s, dir) // scan-vs-CPU parallelism guard
      val wc = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("wn"))
      // totals AND the top word in ONE doc-keyed agg (round-17): the
      // old per-doc row_number window re-exchanged AND sorted the
      // (doc, word) counts just to keep rank 1, then joined it back to
      // the totals agg. min_by over the key (−wn, word) picks the same
      // row — largest wn, ties to the lexicographically smallest word
      // — with no sort, no second pass, no join.
      val totals = wc.groupBy(col("doc_id"))
        .agg(sum(col("wn")).as("n_words"), count(lit(1)).as("n_distinct_words"),
          min_by(struct(col("word").as("top_word"), col("wn").as("top_word_n")),
            struct((-col("wn")).as("nw"), col("word"))).as("top"))
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          col("top.top_word").as("top_word"), col("top.top_word_n").as("top_word_n"))
      val bc = docs
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), explode(when(size(col("w")) >= 2,
            expr("transform(sequence(0, size(w)-2), i -> array_join(slice(w, i+1, 2), ' '))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("bg")).as("n_distinct_bigrams"))
      totals.join(bc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          col("top_word"), col("top_word_n"),
          (col("top_word_n").cast("double") / col("n_words")).as("top_word_frac"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
          when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0.0))
            .otherwise((col("n_bigrams") - col("n_distinct_bigrams")).cast("double")
              / col("n_bigrams")).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // Deterministic STRATIFIED sampling: per-language rates via the
    // universal hash of doc_id (family index 9000 — disjoint) — the
    // reproducible replacement for rand()-based sampling (same policy
    // as q49's split). Pure per-row predicate: no shuffle, pushes into
    // the scan, identical sample on any cluster/partitioning.
    "q79_stratified_sample" -> { (s, dir) =>
      val (ha, hb) = graft.operators.Dedup.affine(9000)
      val bucket = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L)) % 100
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "de", 25)
        .when(col("lang") === "es", 10)
        .otherwise(75)
      Tables.table(s, dir, "documents")
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"))
        .orderBy(col("doc_id"))
    },

    // PII redaction: emails and long digit runs scrubbed to fixed
    // placeholders, with per-doc match counts for audit. The driver
    // corpus has no PII, so deterministic synthetic contact lines are
    // appended first — the operator's regexes and global replace are
    // what's under test. Per-row codegen'd regex; no shuffle.
    "q80_pii_scrub" -> { (s, dir) =>
      val email = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val digits = "[0-9]{5,}"
      Tables.table(s, dir, "documents")
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com ref "),
          (col("doc_id") * 7919 + 100000).cast("string")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(email), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(digits), lit(0))).cast("long").as("n_idnums"),
          md5(regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
            digits, "<NUM>")).as("redacted_fp"),
          length(regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
            digits, "<NUM>")).cast("long").as("redacted_len"))
        .orderBy(col("doc_id"))
    },

    // Deterministic GLOBAL training-order shuffle: permute the corpus
    // by a universal hash of doc_id (family 9500 — disjoint from
    // q49/q79) and assign contiguous 1-based positions. The position
    // assignment is Enumerate.globalRowNumber — range-partitioned
    // sort + per-partition offsets — NOT a bare row_number window
    // (which would single-task the corpus). (doc_id unique ⇒ the
    // (key, doc_id) order is total ⇒ positions are partitioning-
    // independent.)
    "q90_global_shuffle" -> { (s, dir) =>
      val (ha, hb) = graft.operators.Dedup.affine(9500)
      val key = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L))
      graft.operators.Enumerate.globalRowNumber(
          Tables.table(s, dir, "documents")
            .select(col("doc_id"), key.cast("long").as("shuffle_key")),
          "pos", col("shuffle_key"), col("doc_id"))
        .orderBy(col("pos"))
    },

    // TOKEN-BUDGET corpus cut ("give me exactly ≤ B training tokens"):
    // docs in a deterministic hash order (family 11300, disjoint from
    // q49/q79/q90/q103), keep the maximal prefix whose running token
    // total stays ≤ B. The running total is Enumerate.globalRunningSum
    // — a distributed prefix sum (range-partitioned sort, one
    // partition-totals job, broadcast offsets) — NOT a bare
    // sum() OVER (ORDER BY) window, which would single-task the
    // corpus. Total order (key, doc_id) ⇒ partitioning-independent.
    "q113_token_budget" -> { (s, dir) =>
      val (ha, hb) = graft.operators.Dedup.affine(11300)
      val key = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L))
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          key.cast("long").as("order_key"))
      graft.operators.Enumerate.globalRunningSum(docs, "n_tokens", "cum_tokens",
          col("order_key"), col("doc_id"))
        .filter(col("cum_tokens") <= 25000L)
        .select(col("doc_id"), col("order_key"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("cum_tokens"))
    },

    // SEQUENCE PACKING (the pretraining concat-and-chop): documents
    // concatenated in deterministic hash order, the token stream cut
    // every 512 tokens — each doc's placement is pure integer algebra
    // on the exclusive prefix sum (seq = tok/512, offset = tok%512),
    // so packing 100 TB is one distributed prefix sum (the q113
    // two-phase plan: per-partition sums + an O(partitions) offset
    // cascade, never a 1-task window) plus a map. A doc spans
    // seq_end-seq_start+1 sequences; the trainer's attention mask
    // derives from (seq, off) spans directly.
    "q137_sequence_pack" -> { (s, dir) =>
      val (ha, hb) = graft.operators.Dedup.affine(13700)
      val key = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L))
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          key.cast("long").as("order_key"))
      graft.operators.Enumerate.globalRunningSum(docs, "n_tokens", "cum_tokens",
          col("order_key"), col("doc_id"))
        .withColumn("tok_start", col("cum_tokens") - col("n_tokens"))
        .select(col("doc_id"), col("order_key"), col("n_tokens"), col("tok_start"),
          expr("tok_start div 512").as("seq_start"), // integer div, not `/`
          pmod(col("tok_start"), lit(512L)).as("off_start"),
          expr("(cum_tokens - 1) div 512").as("seq_end"))
        .orderBy(col("tok_start"))
    },

    // TOKENIZER INDUCTION + ENCODE (the WordPiece-greedy pair): vocab
    // = the 32 most frequent character 2..4-grams over word
    // occurrences (count desc, gram asc — deterministic), encode =
    // greedy longest-prefix against that vocab with a 1-char
    // fallback. Per doc: word/char/subtoken counts and the char
    // compression ratio the tokenizer buys. Shapes: vocab induction
    // is one combiner-friendly gram agg ending in an O(32) collect;
    // encoding is map-only over the exploded words + one doc-keyed
    // agg — at 100 TB both passes stream, nothing corpus-sized ever
    // sits anywhere. Oracle: same induction SQL + a recursive-CTE
    // greedy walk over the distinct words (the q48 recursion
    // precedent).
    "q138_wordpiece_encode" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.table(s, dir, "documents")
      val wd = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
      val vocab: Array[String] = wd
        .select(col("word"), posexplode(split(col("word"), "")).as(Seq("p", "ch")))
        .select(col("word"), col("p"))
        .withColumn("l", explode(array(lit(2), lit(3), lit(4))))
        .filter(col("p") + col("l") <= length(col("word")))
        .select(expr("substring(word, p + 1, l)").as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(32)
        .select(col("gram")).as[String].collect()
      val bcV = s.sparkContext.broadcast(vocab.toSet)
      val wordCols = wd.as[(Long, String)]
        .mapPartitions { it =>
          val vs = bcV.value
          it.map { case (id, w) =>
            var pos = 0
            var ntok = 0L
            while (pos < w.length) {
              var step = 1
              var l = math.min(4, w.length - pos)
              while (l >= 2) {
                if (step == 1 && vs.contains(w.substring(pos, pos + l))) step = l
                l -= 1
              }
              // step = LONGEST match: scan l descending, keep first hit
              pos += step
              ntok += 1
            }
            (id, w.length.toLong, ntok)
          }
        }.toDF("doc_id", "n_ch", "ntok")
      wordCols.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_ch")).as("n_chars"),
          sum(col("ntok")).as("n_subtokens"))
        .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_subtokens"),
          when(col("n_subtokens") === 0L, lit(0.0))
            .otherwise(col("n_chars").cast("double") / col("n_subtokens"))
            .as("compression"))
        .orderBy(col("doc_id"))
    },

    // CLASSIFIER-based quality filtering (the FineWeb-style learned
    // gate): a linear model over per-doc features — stopword count
    // and lexical diversity, both over the shared n_tokens
    // denominator — scored per row. sigmoid(x) > 0.5 ⟺ x > 0, so the
    // decision and its margin are computed in EXACT integer
    // arithmetic (cross-multiplied by the positive denominator):
    // margin = 10·stop_n + 3·n_distinct − 2·n_tokens. No
    // transcendentals ever reach the output (cf. the q85/q86 ln
    // note); weights are the offline-trained artifact, inference is a
    // per-row dot product after one word-count aggregation.
    "q96_quality_classifier" -> { (s, dir) =>
      val docs = Tables.documentsWide(s, dir) // scan-vs-CPU parallelism guard
      val wc = TextOps.wordCounts(docs, "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(sum(col("wn")).as("n_tokens"), count(lit(1)).as("n_distinct"))
      docs.select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit(STOP_EN), lit(0)))
            .cast("long").as("stop_n"))
        .join(wc, Seq("doc_id"))
        .withColumn("margin",
          lit(10L) * col("stop_n") + lit(3L) * col("n_distinct")
            - lit(2L) * col("n_tokens"))
        .select(col("doc_id"), col("stop_n"), col("n_distinct"), col("n_tokens"),
          col("margin"),
          when(col("margin") > 0, 1L).otherwise(0L).as("keep"))
        .orderBy(col("doc_id"))
    },

    // Multi-level corpus accounting in ONE pass: ROLLUP over
    // (lang, source) — per-(lang, source), per-lang, and grand totals
    // from a single shuffle (Expand + hash agg; each level partial-
    // aggregates map-side). grouping() flags disambiguate subtotal
    // rows exactly as the oracle's GROUPING() does.
    "q93_rollup_stats" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars_sum"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
        .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))
    },

    // CUBE over (lang, source): all four grouping sets — per-pair,
    // per-lang, per-source, grand total — from ONE shuffle (Expand +
    // hash agg, same machinery as q93's ROLLUP which omits the
    // per-source set). grouping() flags disambiguate subtotal rows.
    "q109_cube_stats" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars_sum"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
        .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))
    },

    // Per-group top-k selection (keep the k largest docs per
    // (lang, source) — the per-source quality-cut shape). The
    // row_number ≤ k filter compiles to WindowGroupLimit: per-
    // partition heaps BEFORE the shuffle, so only k rows per group
    // ever exchange — never a full per-group sort of the corpus.
    "q94_group_topk" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"), col("source"))
            .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("lang"), col("source"), col("rank"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("source"), col("rank"))
    },

    // EXACT duplicated-SPAN detection (the exact-substring dedup of
    // "Deduplicating Training Data Makes Language Models Better":
    // find every 20-token span that occurs more than once in the
    // corpus, attribute per doc). Default plan shuffles the 128-bit
    // span fingerprint — fixed-width exchange rows, the 100 TB shape;
    // the collision-free raw-string plan remains as
    // TextOps.spanDedup(hashed = false) and SpanDedupSpec pins the
    // two identical on the fixture corpus, so the string-keyed DuckDB
    // oracle stays exact for this plan too.
    "q92_span_dedup" -> { (s, dir) =>
      // spread the 1-file scan before the span explode (see q83)
      TextOps.spanDedup(
        Tables.table(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", k = 20)
    },

    // CROSS-DOCUMENT PARAGRAPH DEDUP (the C4 boilerplate rule, one
    // level up from q92's span counting): segment each doc into
    // 10-token paragraphs (TextOps.chunk, stride = window → disjoint),
    // drop every paragraph whose fingerprint appears in MORE THAN ONE
    // distinct document, and report what survives per doc — the
    // dedup that actually REMOVES text rather than scoring it.
    // Plan: chunk explode is map-side; the (fp, doc) distinct and the
    // per-fp doc count are two hash aggregations on the fixed-width
    // md5 key; the verdict joins back fp-keyed and rolls up per doc.
    // Nothing corpus-sized ever sits on the driver; at 100 TB the fp
    // exchange is the only wide traffic and every stage map-side
    // combines. (A round-17 agg-only rewrite — level-1 (fp, doc) agg +
    // min(doc_id) attribution, no join-back — measured a CONSISTENT
    // local loss (min 1.19 → 1.38 s, 3/4 pairwise: the extra agg level
    // adds a sequential stage that dominates at this chunk mass) and
    // was not shipped; measurement in OPTIMIZATION_r17.md.)
    "q143_paragraph_dedup" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val ch = TextOps.chunk(docs, "doc_id", "text", window = 10, stride = 10)
      val docCounts = ch.select(col("chunk_fp"), col("doc_id")).distinct()
        .groupBy(col("chunk_fp")).agg(count(lit(1)).as("n_docs"))
      val perDoc = ch.join(docCounts, Seq("chunk_fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("n_docs") === 1, col("n_chunk_tokens")).otherwise(0L))
            .as("kept_tokens"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
        .orderBy(col("doc_id"))
    },

    // Benchmark DECONTAMINATION (the n-gram eval-leak check run before
    // training): docs from src0/src1 stand in for the benchmark suite;
    // every other doc is scored by how many distinct word-trigrams it
    // shares with the benchmark vocabulary. The benchmark gram set is
    // broadcast (benchmark-sized, never corpus-sized) and only matched
    // (doc, gram) rows reach the count-distinct shuffle — a clean
    // corpus shuffles almost nothing. See TextOps.decontaminate for
    // the 64-bit-hash variant at 100 TB.
    "q83_decontaminate" -> { (s, dir) =>
      // documents is ONE small file at test SFs → a 1-partition scan
      // would single-task the 300×-row gram explode; spread it first
      // (at real scale the scan is already wide — cheap rebalance)
      TextOps.decontaminate(
          Tables.table(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", col("source").isin("src0", "src1"), k = 3)
        .orderBy(col("doc_id"))
    },

    // BIGRAM LM SCORING (fluency gate from corpus statistics): train
    // the bigram table ON the corpus itself, then score every doc by
    // its mean P(b|a) = c(ab)/c(a·) — the cheap model-free perplexity
    // stand-in a cleaning pipeline runs before paying for a real LM.
    // Exactness: each term is integer-scaled (round(1e6·c2/c1) as
    // LONG) BEFORE the per-doc sum, so the aggregate is
    // order-independent; one double division at the end. Shape: one
    // bigram explode feeding two key-partitioned aggs + two equi-joins
    // (gram-keyed shuffles, AQE-splittable); at 100 TB swap the token
    // strings for 64-bit hashes to keep exchange rows fixed-width
    // (the q92 note). Counts stay < 2^53/1e6 ≈ 9e9 per bigram — far
    // above any real gram frequency at trillion-token scale.
    "q135_ngram_lm" -> { (s, dir) =>
      bigramLmScore(s, dir)
        .select(col("doc_id"), col("n_bigrams"), col("lm_u"), col("avg_p"))
        .orderBy(col("doc_id"))
    },

    // FEATURE HASHING (the hashing trick): every word folds into a
    // 16-dim signed integer vector — dim from the rolling-hash
    // fingerprint, sign from its next bit — giving each doc a tiny
    // fixed-width feature vector without any vocabulary state (the
    // classifier-input construction that needs no fitted dictionary
    // at 100 TB). Map-side explode + one (doc, dim) hash aggregation
    // of exact integers; the custom codegen'd rolling_hash Expression
    // is the kernel (same ASCII-corpus note as q29/q31).
    "q149_feature_hashing" -> { (s, dir) =>
      graft.functions.RollingHash.register(s)
      TextOps.wordCounts(
          Tables.table(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text")
        .withColumn("fp", expr("rolling_hash(word)"))
        .withColumn("dim", pmod(col("fp"), lit(16L)))
        .withColumn("sign", expr("(fp DIV 16) % 2") * 2L - 1L)
        .groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("sign") * col("wn")).as("hval"))
        .orderBy(col("doc_id"), col("dim"))
    },

    // N-GRAM NOVELTY PROFILE (the memorization/contribution curve a
    // dedup analysis reads before deciding retention order): per doc,
    // the fraction of its distinct trigrams whose FIRST corpus
    // occurrence (min doc_id) is this doc. gram → min(doc_id) is one
    // hash aggregation; attribution is an equi-join back — the q92
    // counting machinery pointed at provenance instead of
    // multiplicity.
    "q151_ngram_novelty" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val dg = docs.select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), explode(TextOps.ngrams(col("w"), 3)).as("gram"))
        .distinct()
      val owner = dg.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
      // Per-doc novelty WITHOUT joining the gram mass back (round-17):
      // first_doc = min over the docs containing the gram, so the
      // owning doc always contains it — n_novel(doc) is just the
      // owner table aggregated by first_doc, and n_grams is dg
      // aggregated by doc_id. Both aggs partial-aggregate map-side;
      // the old dg⋈owner equi-join streamed every (doc, gram) row
      // through the join a second time to compute the same counts.
      val novel = owner.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      val per = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("n_novel").cast("double") / col("n_grams")))
        .orderBy(col("doc_id"))
    },

    // CCNET-STYLE PERPLEXITY BUCKETING (head/middle/tail): the q135
    // fluency score splits each language into terciles — the split
    // CCNet uses to keep/inspect/drop by LM quality. ntile(3) over
    // the per-lang (avg_p desc, doc_id) order: the score doubles are
    // computed from the same exact-integer sums on both engines, so
    // the ordering — and therefore every bucket label — is
    // deterministic; ties never reach the comparator (doc_id breaks
    // them first). One window per language on top of the shared
    // scoring plan, nothing global.
    "q148_ccnet_buckets" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("avg_p").desc, col("doc_id"))
      Tables.table(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(bigramLmScore(s, dir), Seq("doc_id"))
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("lm_u"),
          col("bucket"))
        .orderBy(col("doc_id"))
    },

    // DECONTAMINATION WITH EXCISION (q83 one step further: don't just
    // FLAG the contaminated doc — cut the leaking spans out and
    // report what survives, the transform an actual training run
    // applies). Every non-benchmark doc's word-trigram START
    // positions that match the benchmark vocabulary expand to their
    // covered token positions (i, i+1, i+2); the distinct covered set
    // is the excision. Plan shape = q83: the benchmark gram
    // vocabulary broadcasts (benchmark-sized, never corpus-sized),
    // only MATCHED (doc, pos) rows survive the join, so a clean
    // corpus expands nothing; the per-doc distinct-position count is
    // one hash aggregation on (doc_id, pos) — integers end to end.
    "q144_decontaminate_cut" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"), TextOps.words(col("text")).as("w"))
      val bench = col("source").isin("src0", "src1")
      val grams = docs
        .select(col("doc_id"), col("source"), col("w"),
          posexplode(TextOps.ngrams(col("w"), 3)).as(Seq("pos", "gram")))
      // bv is unhinted (round-15 hint audit): eval-suite-sized in
      // production, so AQE broadcasts it from actual runtime stats; a
      // HINT would force the driver build even on a vintage where the
      // benchmark slice is corpus-sized (the q173 cliff class)
      val bv = grams.filter(bench).select(col("gram")).distinct()
      val covered = grams.filter(!bench)
        .join(bv, Seq("gram"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + 2)).as("cpos"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_excised"))
      docs.filter(!bench)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_excised"), lit(0L)).as("n_excised"),
          (col("n_tokens") - coalesce(col("n_excised"), lit(0L))).as("n_retained"))
        .orderBy(col("doc_id"))
    },

    // TEMPERATURE-SCALED mixture allocation (the multilingual
    // sampling rule: domain weight ∝ n^α with α = 1/2 flattens the
    // head, lifts the tail): per-language doc counts → integer √
    // scores → a 10,000-slot budget split by LARGEST REMAINDER, all
    // in exact integer arithmetic (base = ⌊B·s/S⌋ by integer
    // division; the B−Σbase leftover slots go to the largest
    // remainders B·s − base·S, ties by lang). One tiny aggregation —
    // the corpus contributes only its counts; the allocation itself
    // is lang-cardinality work, broadcastable anywhere downstream.
    "q145_temperature_mix" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.table(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("score", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      val tot = counts.agg(sum(col("score")).as("s_tot"), count(lit(1)).as("n_langs"))
      val budget = 10000L
      val based = counts.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($budget * score) DIV s_tot")) // exact int floor
        .withColumn("rem", lit(budget) * col("score") - col("base") * col("s_tot"))
      val spareRow = based.agg((lit(budget) - sum(col("base"))).as("spare"))
      based.crossJoin(broadcast(spareRow))
        // lang-cardinality rows: the unpartitioned window is k rows
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))).cast("long"))
        .select(col("lang"), col("n_docs"), col("score"),
          (col("base") + when(col("rr") <= col("spare"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy(col("lang"))
    },

    // SPARSE LEXICAL DOC SIMILARITY (the postings-join plan family —
    // the sparse analog of q27's dense scan): candidates come ONLY
    // from shared terms via a word-keyed equi-join of the term-
    // frequency postings, integer dot products aggregate per pair,
    // one double division at the end. The df ≤ 75%-of-corpus cap
    // (integer cross-multiply against a 1-row broadcast count — the
    // q85/q86 scalar shape) drops ubiquitous terms BEFORE the join —
    // the standard guard that keeps the pair blowup bounded by
    // rare-term postings (a stop word would otherwise pair everything
    // with everything); the norms use the same capped vocabulary so
    // the metric is self-consistent and the oracle mirrors it. Query
    // side bounded to every 50th doc like q27.
    "q147_sparse_docsim" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val tf = TextOps.wordCounts(docs, "doc_id", "text") // (doc, word) unique
      val nRow = docs.agg(count(lit(1)).as("nd"))
      val dfs = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nRow))
        .filter(col("df") * 4L <= col("nd") * 3L)
      val rare = tf.join(dfs.select(col("word")), Seq("word"))
        .select(col("doc_id"), col("word"), col("wn"))
      val norms = rare.groupBy(col("doc_id"))
        .agg(sum(col("wn") * col("wn")).as("n2"))
      val qs = rare.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("qid"), col("word"), col("wn").as("qwn"))
      val pairs = rare.join(qs, Seq("word"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("wn") * col("qwn")).as("dp"))
      val cos = pairs
        .join(norms.select(col("doc_id").as("qid"), col("n2").as("qn2")), Seq("qid"))
        .join(norms.select(col("doc_id"), col("n2").as("cn2")), Seq("doc_id"))
        .withColumn("cos", col("dp").cast("double")
          / (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
      cos.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id")))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("doc_id").as("cid"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy(col("qid"), col("rank"))
    },

    // PER-DOMAIN nucleus cut (q113's sibling: that one cuts ONE
    // global token budget via the distributed prefix sum; this one
    // cuts each language at 30% of ITS OWN token mass — the
    // per-domain budget a mixture recipe prescribes). Hash order is
    // the deterministic shuffle; the cumulative sum is a per-lang
    // window (partitioned — no global bottleneck), the 30% gate is an
    // integer cross-multiply (cum·10 ≤ total·3), no division, no
    // doubles. Lang totals broadcast back: two aggregations + one
    // window, all partitioned by lang.
    "q125_domain_budget" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val (ha, hb) = graft.operators.Dedup.affine(12500)
      val key = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L))
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          key.cast("long").as("order_key"))
      val totals = docs.groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("lang_tokens"))
      val w = Window.partitionBy(col("lang")).orderBy(col("order_key"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .join(broadcast(totals), Seq("lang"))
        .filter(col("cum_tokens") * 10L <= col("lang_tokens") * 3L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"), col("lang_tokens"))
        .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
    },

    // QUANTILE NORMALIZATION across domains: each doc's length mapped
    // to its within-language percentile rank — the cross-domain-
    // comparable quality score (a raw length threshold means different
    // things in different languages; the 0.37 quantile means the same
    // thing everywhere). percent_rank = (rank−1)/(n−1), one integer
    // division per row on both engines; the (n_chars, doc_id) order
    // makes ranks unique, so ties never reach the division. One
    // shuffle on lang + per-partition sort — the standard per-group
    // window shape, partition count = languages × AQE splits.
    "q123_percent_rank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          percent_rank().over(w).as("qnorm"))
        .orderBy(col("doc_id"))
    },

    // WEIGHTED sampling without replacement (corpus composition by
    // importance weight): priority = uhash(doc_id) / weight — a larger
    // weight shrinks a doc's priority, raising its odds of making the
    // global k-smallest cut, with a deterministic hash as the uniform
    // draw (the same documented stand-in as q49's split). One IEEE
    // division per row (bit-identical on both engines), then a global
    // top-k = per-partition k-heaps + driver merge of k·P candidates
    // (TakeOrderedAndProject) — never a full sort, never a shuffle of
    // the corpus. Weight here = n_chars (longer docs preferred).
    "q117_weighted_sample" -> { (s, dir) =>
      val (ha, hb) = graft.operators.Dedup.affine(11700)
      val h = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (h.cast("double") / col("n_chars").cast("double")).as("pri"))
        .orderBy(col("pri"), col("doc_id"))
        .limit(50)
    },

    // ROBUST outlier gate (quality filtering that survives heavy
    // tails): per-language median and MAD of doc length, keep
    // |len − med| ≤ 3·MAD. Exact percentiles interpolate over
    // INTEGER lengths (and half-integer deviations), so every med/mad
    // is a binary-exact double on both engines (the q91 parity
    // argument). Scale shape: two passes over the corpus with the
    // per-lang stats broadcast back — the exact-percentile buffer is
    // bounded by DISTINCT lengths per lang (a count-map, not the
    // rows), so groups of any row count fit executor memory.
    "q119_mad_outlier" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val med = docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val stats = docs.join(broadcast(med), Seq("lang"))
        .groupBy(col("lang"), col("med"))
        .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
      docs.join(broadcast(stats), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("med"), col("mad"),
          when(abs(col("n_chars") - col("med")) <= lit(3.0) * col("mad"), 1L)
            .otherwise(0L).as("keep"))
        .orderBy(col("doc_id"))
    },

    // CROSS-SOURCE overlap matrix (the corpus-snapshot contamination
    // audit: how much does each source pair share?): per gram, the
    // DISTINCT source set gathered in ONE hash agg (collect_set
    // dedups in-agg — the round-16 q185 shape: no separate distinct
    // exchange, no gram self-join), pairs expanded IN-ARRAY over the
    // sorted set (i < j on a sorted array ⟹ src_a < src_b — exactly
    // the old join+filter's ordered pairs per gram), counted per
    // ordered source pair. Pair blowup per gram is bounded by
    // #sources² (sources are few — this is an inter-CATALOG audit,
    // not a per-doc join), so the explode output is #grams·O(sources²)
    // worst case and the final agg is tiny. At 100 TB, swap the gram
    // string for its 64-bit hash to keep exchange rows fixed-width.
    "q128_source_overlap" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), TextOps.words(col("text")).as("w"))
        .select(col("source"), explode(TextOps.ngrams(col("w"), 3)).as("g"))
        .groupBy(col("g"))
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .select(explode(expr(
          """flatten(transform(ss, (x, i) ->
            |  transform(slice(ss, i + 2, size(ss)), y ->
            |    struct(x AS src_a, y AS src_b))))""".stripMargin)).as("e"))
        .groupBy(col("e.src_a").as("src_a"), col("e.src_b").as("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // BLOOM-PREFILTERED decontamination: same contract as q83, but the
    // corpus grams pass a broadcast bloom sketch of the benchmark
    // vocabulary before the exact join — at 100 TB the clean ~99% of
    // corpus grams die in the codegen'd scan stage instead of reaching
    // the shuffle. No false negatives ⇒ the oracle is the EXACT
    // decontamination SQL; the sketch changes the plan, never the rows.
    "q115_bloom_decontaminate" -> { (s, dir) =>
      TextOps.decontaminateBloom(
          Tables.table(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", col("source").isin("src2"), k = 3,
          expectedItems = 1L << 17, fpp = 0.03)
        .orderBy(col("doc_id"))
    },

    // BPE-TRAINING inner loop: adjacent token-pair frequencies over
    // the corpus. Pair extraction is ARRAY-LOCAL per row (transform
    // over an index sequence — whole-stage codegen, no self-join, no
    // window), so the only shuffle is the final count's partial hash
    // agg, and map-side combine absorbs within-partition repetition.
    // Top 30 with deterministic (n desc, pair) tie order — the merge
    // candidates one BPE iteration would consider.
    // Counting groups on (a, b) token structs — the pair string is
    // built only for rows surviving the top-30 cut, not per corpus
    // token. Ties break identically: (n desc, a, b) ≡ (n desc, pair)
    // because the single-space join of space-free tokens is
    // order-isomorphic to the (a, b) tuple.
    // The tokenization is MATERIALIZED as a column before the lambda
    // references it (the q74 pattern): an inline words(text) inside
    // transform's element_at re-evaluates the split per element.
    "q116_bpe_pairs" -> { (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(TextOps.words(col("text")).as("w"))
        .select(explode(TextOps.adjacentPairStructs(col("w"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(30)
        .select(concat_ws(" ", col("a"), col("b")).as("pair"), col("n"))
        .orderBy(col("n").desc, col("pair"))
    },

    // Sliding-window CHUNKING with overlap (LLM context packing:
    // 40-token windows advancing by 30). Pure per-row explode — chunk
    // rows scale with token volume, not doc count; no shuffle at all
    // (the orderBy is presentation-only). Boundary semantics pinned in
    // TextOpsSpec: starts at 0, stride, … while start < n_tokens, last
    // chunk may be short, sub-window docs yield exactly one chunk.
    "q84_chunk_docs" -> { (s, dir) =>
      TextOps.chunk(Tables.table(s, dir, "documents"),
          "doc_id", "text", window = 40, stride = 30)
        .withColumnRenamed("start", "chunk_start")
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // TF-IDF top terms per doc (keyword extraction / quality signals).
    // Relational shape: the (doc, word) counts partial-aggregate
    // map-side; document frequency is a second hash agg over DISTINCT
    // (doc, word) rows; the corpus-size scalar attaches as a 1-row
    // broadcast cross join (the scalar-subquery shape: one row to
    // every task, no shuffle). idf = ln((N+1)/(df+1)). The score RANKS but is not
    // emitted: unlike +,-,*,/,sqrt (IEEE-defined, engine-identical),
    // ln differs between the JVM intrinsic and DuckDB's libm in the
    // last ulp for some arguments — while the ranking is immune (the
    // smallest cross-(wn,df) adjacent score gap is ~1e-5 at every SF,
    // 12 orders above ulp noise, and exact ties share identical inputs
    // so both engines break them on `word` alike). Emitted columns are
    // all exact longs/strings, so the oracle hash still attests the
    // full TF-IDF ordering.
    "q85_tfidf_topk" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val wc = TextOps.wordCounts(docs, "doc_id", "text")
      val tot = wc.groupBy(col("doc_id")).agg(sum(col("wn")).as("n_words"))
      val dfreq = wc.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      val sc = wc.join(tot, Seq("doc_id")).join(dfreq, Seq("word"))
        .crossJoin(broadcast(nd))
        .withColumn("score",
          (col("wn").cast("double") / col("n_words"))
            * log((col("nd") + 1).cast("double") / (col("df") + 1).cast("double")))
      sc.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("score").desc, col("word")))
          .cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("word"), col("wn"), col("df"),
          col("n_words"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // BM25 ranking of the corpus against a fixed query term set (the
    // retrieval scorer for data-curation search). Same aggregation
    // skeleton as q85; per-term contributions pivot to columns and add
    // in a FIXED order (table+join+window+stream) because double
    // addition is order-sensitive — a groupBy sum over the term rows
    // would be partial-aggregation-order-dependent and could not
    // hash-match any oracle. k1=1.2, b=0.75. As with q85, the ln-based
    // score ranks but is not emitted (ulp-divergent ln; the top-20 cut
    // sits on a ≥1e-5 gap at every SF) — rank/n_hit/dl are exact.
    "q86_bm25" -> { (s, dir) =>
      val terms = Seq("table", "join", "window", "stream")
      val docs = Tables.table(s, dir, "documents")
      val wc = TextOps.wordCounts(docs, "doc_id", "text")
      val tot = wc.groupBy(col("doc_id")).agg(sum(col("wn")).as("dl"))
      val dfreq = wc.filter(col("word").isin(terms: _*))
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val stats = tot.agg(count(lit(1)).as("nd"), sum(col("dl")).as("sumdl"))
        .select(col("nd"), (col("sumdl").cast("double") / col("nd")).as("avgdl"))
      val scored = wc.filter(col("word").isin(terms: _*))
        .join(tot, Seq("doc_id")).join(broadcast(dfreq), Seq("word"))
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + ((col("nd") - col("df")).cast("double") + 0.5)
            / (col("df").cast("double") + 0.5)))
        .withColumn("s_term",
          col("idf") * ((col("wn").cast("double") * 2.2)
            / (col("wn").cast("double")
              + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
      val byDoc = scored.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit"),
          max(when(col("word") === "table", col("s_term"))).as("s_table"),
          max(when(col("word") === "join", col("s_term"))).as("s_join"),
          max(when(col("word") === "window", col("s_term"))).as("s_window"),
          max(when(col("word") === "stream", col("s_term"))).as("s_stream"))
        .withColumn("score",
          coalesce(col("s_table"), lit(0.0)) + coalesce(col("s_join"), lit(0.0))
            + coalesce(col("s_window"), lit(0.0)) + coalesce(col("s_stream"), lit(0.0)))
      // top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
      // heaps → driver merge, never a global sort); the rank window
      // then runs over just those 20 rows
      byDoc.join(tot, Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("n_hit"), col("dl"))
        .orderBy(col("rank"))
    },

    // DOMAIN MIXING (the corpus-composition step of LLM training prep:
    // each source gets an epoch weight; weight > 1 upsamples by
    // repetition, weight < 1 downsamples by a deterministic coin).
    // Weights in millis — src0 ×2.5, src1 ×1.5, src2–4 ×1.0, long
    // tail ×0.3. copies = ⌊w⌋ + [coin < frac(w)] with the coin a
    // universal hash of doc_id, so the SAME docs are picked on every
    // run, engine, and partitioning. Pure per-row filter + bounded
    // explode: no shuffle, no RNG, weights are a literal CASE (at
    // 100 TB: a broadcast dim table). The orderBy is presentation-
    // only.
    "q98_domain_mix" -> { (s, dir) =>
      val base = when(col("source") === "src0", 2L)
        .when(col("source").isin("src1", "src2", "src3", "src4"), 1L)
        .otherwise(0L)
      val fracMillis = when(col("source").isin("src0", "src1"), 500L)
        .when(col("source").isin("src2", "src3", "src4"), 0L)
        .otherwise(300L)
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        // doc_id is reduced mod the prime 2^31-1 BEFORE the multiply:
        // 2654435761·(2^31-2) ≈ 5.7e18 < Long.Max, so the product can
        // never wrap (an unreduced doc_id ≳ 3.47e9 would silently wrap
        // in Spark while DuckDB raises a BIGINT overflow).
        .withColumn("coin", pmod(
          pmod(col("doc_id"), lit(2147483647L)) * 2654435761L + 40503L, lit(1000L)))
        .withColumn("n_copies",
          base + when(col("coin") < fracMillis, 1L).otherwise(0L))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("source"), col("n_copies"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_id"))
        .select(col("doc_id"), col("source"), col("copy_id"), col("n_copies"))
        .orderBy(col("doc_id"), col("copy_id"))
    },

    // INVERTED-INDEX build with TRUNCATED postings (the retrieval
    // structure behind q86's BM25, in the bounded form a 100 TB corpus
    // forces: full df counts, but each term's posting list cut to its
    // 40 smallest doc_ids — the early-termination/impact-ordered index
    // shape). Phase 1: distinct (word, doc) pairs + per-word df (hash
    // aggs, map-side partials). Phase 2: the rank ≤ 40 filter compiles
    // to WindowGroupLimit — per-partition heaps BEFORE the shuffle, so
    // a stopword's million-doc list never exchanges more than 40 rows
    // per input partition, and collect_list only ever buffers ≤ 40
    // ids. Postings emit as a '|'-joined sorted string (output-type
    // policy: STRING/LONG/DOUBLE only).
    "q100_inverted_index" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val wd = docs.select(col("doc_id"),
          explode(TextOps.words(col("text"))).as("word"))
        .distinct()
      val terms = wd.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val ranked = wd.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("word")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 40)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_posted"),
          array_join(transform(array_sort(collect_list(col("doc_id"))),
            d => d.cast("string")), "|").as("postings"))
      terms.join(ranked, Seq("word"))
        .select(col("word"), col("df"), col("n_posted"), col("postings"))
        .orderBy(col("word"))
    },

    // EXACT-SIZE sampling: exactly k=20 docs per language (the
    // "fixed-budget eval slice per stratum" op; q79 is the Bernoulli
    // RATE sampler — this is its exact-count dual). A distributed
    // reservoir done declaratively: each row gets a universal-hash
    // priority (family 10300 — disjoint from q49/q79/q90/q99) and the
    // k smallest priorities per stratum win. rank ≤ k compiles to
    // WindowGroupLimit (per-partition heaps, ≤ k rows per stratum per
    // partition exchange) — never a per-stratum sort of the corpus,
    // and deterministic across engines and partitionings.
    "q103_sample_exact" -> { (s, dir) =>
      val (ha, hb) = graft.operators.Dedup.affine(10300)
      val pri = pmod(lit(ha) * pmod(col("doc_id"), lit(4294967291L)) + lit(hb),
        lit(4294967291L))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), pri.cast("long").as("pri"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("lang"), col("rank"), col("doc_id"), col("pri"))
        .orderBy(col("lang"), col("rank"))
    },
  )

  val oracle = Map(
    "q83_decontaminate" ->
      """WITH w AS (SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |gr AS (SELECT doc_id, source, unnest(CASE WHEN len(wt) >= 3
        |    THEN list_transform(range(0, len(wt)-2),
        |      dgi -> array_to_string(wt[(CAST(dgi AS INT)+1):(CAST(dgi AS INT)+3)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS ngram
        |  FROM w),
        |bv AS (SELECT DISTINCT ngram FROM gr WHERE source IN ('src0','src1')),
        |sh AS (SELECT t.doc_id, count(DISTINCT t.ngram) AS n_shared
        |  FROM gr t JOIN bv USING (ngram)
        |  WHERE t.source NOT IN ('src0','src1') GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(CASE WHEN coalesce(sh.n_shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
        |WHERE d.source NOT IN ('src0','src1')
        |ORDER BY d.doc_id""".stripMargin,

    "q123_percent_rank" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) AS qnorm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q125_domain_budget" -> {
      val uh = Q.uhashSql("12500", "(doc_id % 4294967291)")
      s"""WITH t AS (SELECT doc_id, lang,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST($uh AS BIGINT) AS order_key
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY order_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t),
         |tt AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
         |  FROM t GROUP BY lang)
         |SELECT c.doc_id, c.lang, c.n_tokens, c.cum_tokens, tt.lang_tokens
         |FROM c JOIN tt ON c.lang = tt.lang
         |WHERE c.cum_tokens * 10 <= tt.lang_tokens * 3
         |ORDER BY c.lang, c.cum_tokens, c.doc_id""".stripMargin
    },

    "q117_weighted_sample" -> {
      val uh = Q.uhashSql("11700", "(doc_id % 4294967291)")
      s"""SELECT doc_id, n_chars,
         |  CAST($uh AS DOUBLE) / CAST(n_chars AS DOUBLE) AS pri
         |FROM documents
         |ORDER BY pri, doc_id LIMIT 50""".stripMargin
    },

    "q119_mad_outlier" ->
      """WITH st AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY lang),
        |md AS (SELECT d.lang, quantile_cont(abs(d.n_chars - st.med), 0.5) AS mad
        |  FROM documents d JOIN st USING (lang) GROUP BY d.lang)
        |SELECT d.doc_id, d.lang, d.n_chars, st.med, md.mad,
        |  CAST(CASE WHEN abs(d.n_chars - st.med) <= 3.0 * md.mad
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d JOIN st USING (lang) JOIN md ON d.lang = md.lang
        |ORDER BY d.doc_id""".stripMargin,

    "q128_source_overlap" ->
      """WITH w AS (SELECT source,
        |    regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |gr AS (SELECT DISTINCT source, unnest(CASE WHEN len(wt) >= 3
        |    THEN list_transform(range(0, len(wt)-2),
        |      ovi -> array_to_string(wt[(CAST(ovi AS INT)+1):(CAST(ovi AS INT)+3)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS g
        |  FROM w)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS shared_grams
        |FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the bloom sketch is plan-only (no false negatives): the oracle
    // is the exact decontamination SQL, bench set = src2.
    "q115_bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |gr AS (SELECT doc_id, source, unnest(CASE WHEN len(wt) >= 3
        |    THEN list_transform(range(0, len(wt)-2),
        |      bgi -> array_to_string(wt[(CAST(bgi AS INT)+1):(CAST(bgi AS INT)+3)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS ngram
        |  FROM w),
        |bv AS (SELECT DISTINCT ngram FROM gr WHERE source = 'src2'),
        |sh AS (SELECT t.doc_id, count(DISTINCT t.ngram) AS n_shared
        |  FROM gr t JOIN bv USING (ngram)
        |  WHERE t.source <> 'src2' GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(CASE WHEN coalesce(sh.n_shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
        |WHERE d.source <> 'src2'
        |ORDER BY d.doc_id""".stripMargin,

    // The top-30 CUT orders by (n desc, a, b) — the same keys the
    // Spark plan cuts on — so the order-isomorphism between (a, b)
    // and the joined pair string is not needed at the boundary (it
    // would break if a token carried a char below 0x20). The final
    // presentation order over the surviving 30 is (n desc, pair) on
    // both sides, which is engine-identical on an identical set.
    "q116_bpe_pairs" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |ix AS (SELECT wt, unnest(range(0, len(wt)-1)) AS bpi
        |  FROM w WHERE len(wt) >= 2),
        |g AS (SELECT wt[CAST(bpi AS INT)+1] AS a, wt[CAST(bpi AS INT)+2] AS b,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ix GROUP BY 1, 2
        |  ORDER BY n DESC, a, b LIMIT 30)
        |SELECT a || ' ' || b AS pair, n FROM g ORDER BY n DESC, pair""".stripMargin,

    // Vocab induction over word OCCURRENCES (same counts), greedy
    // encode as a recursive walk over the DISTINCT words — pos
    // advances by the longest vocab gram matching at pos (max glen
    // via correlated subquery), 1-char fallback; a word is done when
    // pos = len+1 (the empty word terminates at its seed row, 0
    // tokens).
    "q138_wordpiece_encode" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |wd AS (SELECT doc_id, unnest(wt) AS word FROM w),
        |gp AS (SELECT word, unnest(range(0, len(word))) AS p FROM wd),
        |g AS (SELECT substr(word, CAST(p AS INT) + 1, CAST(l.range AS INT)) AS gram
        |  FROM gp, range(2, 5) l WHERE p + l.range <= len(word)),
        |vocab AS (
        |  SELECT gram, len(gram) AS glen FROM (
        |    SELECT gram, count(*) AS n FROM g GROUP BY 1
        |    ORDER BY n DESC, gram LIMIT 32)),
        |dw AS (SELECT DISTINCT word FROM wd),
        |st(word, pos, ntok) AS (
        |  SELECT word, 1, 0 FROM dw
        |  UNION ALL
        |  SELECT word, pos + step, ntok + 1 FROM (
        |    SELECT word, pos, ntok,
        |      COALESCE((SELECT max(v.glen) FROM vocab v
        |                WHERE substr(word, CAST(pos AS INT), CAST(v.glen AS INT)) = v.gram),
        |        1) AS step
        |    FROM st WHERE pos <= len(word))),
        |enc AS (SELECT word, ntok FROM st WHERE pos = len(word) + 1)
        |SELECT wd.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(wd.word)) AS BIGINT) AS n_chars,
        |  CAST(sum(e.ntok) AS BIGINT) AS n_subtokens,
        |  CASE WHEN sum(e.ntok) = 0 THEN 0.0
        |       ELSE CAST(sum(len(wd.word)) AS DOUBLE) / sum(e.ntok) END AS compression
        |FROM wd JOIN enc e USING (word)
        |GROUP BY wd.doc_id ORDER BY wd.doc_id""".stripMargin,

    // q113's prefix-sum CTE with the placement algebra on top; all
    // integer (// and %), so the hash order is the only ordering used.
    "q137_sequence_pack" -> {
      val uh137 = Q.uhashSql("13700", "(doc_id % 4294967291)")
      s"""WITH t AS (SELECT doc_id, CAST($uh137 AS BIGINT) AS order_key,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, order_key, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY order_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t),
         |p AS (SELECT doc_id, order_key, n_tokens,
         |    cum_tokens - n_tokens AS tok_start, cum_tokens FROM c)
         |SELECT doc_id, order_key, n_tokens, tok_start,
         |  tok_start // 512 AS seq_start,
         |  tok_start % 512 AS off_start,
         |  (cum_tokens - 1) // 512 AS seq_end
         |FROM p ORDER BY tok_start""".stripMargin
    },

    // Same bigram extraction as q116; the per-term scaled integers
    // make the doc sums engine-exact (QueryPack float policy).
    "q135_ngram_lm" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |ix AS (SELECT doc_id, wt, unnest(range(0, len(wt)-1)) AS i
        |  FROM w WHERE len(wt) >= 2),
        |bi AS (SELECT doc_id, wt[CAST(i AS INT)+1] AS a, wt[CAST(i AS INT)+2] AS b
        |  FROM ix),
        |c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT a, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
        |t AS (SELECT bi.doc_id,
        |    CAST(round(c2.c2 * 1000000.0 / c1.c1) AS BIGINT) AS term
        |  FROM bi JOIN c2 USING (a, b) JOIN c1 USING (a))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(term) AS BIGINT) AS lm_u,
        |  CAST(sum(term) AS DOUBLE) / 1000000.0 / count(*) AS avg_p
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors q149: polyHashSql ≡ rolling_hash on the ASCII corpus;
    // nonneg fp, so C-style % and // match the JVM ops.
    "q149_feature_hashing" -> {
      val fp = Q.polyHashSql("word")
      s"""WITH w AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
         |  FROM documents),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS wn
         |  FROM w GROUP BY 1, 2),
         |h AS (SELECT doc_id, wn, $fp AS fp FROM tf)
         |SELECT doc_id, CAST(fp % 16 AS BIGINT) AS dim,
         |  CAST(sum(((fp // 16) % 2 * 2 - 1) * wn) AS BIGINT) AS hval
         |FROM h GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin
    },

    // Mirrors q151: the q92 gram CTEs, DISTINCT per (doc, gram),
    // provenance = min(doc_id) per gram.
    "q151_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(CASE WHEN len(wt) >= 3
        |    THEN list_transform(range(0, len(wt)-2),
        |      ngi -> array_to_string(wt[(CAST(ngi AS INT)+1):(CAST(ngi AS INT)+3)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS gram
        |  FROM w),
        |g AS (SELECT DISTINCT doc_id, gram FROM g0),
        |o AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
        |pd AS (SELECT g.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM g JOIN o USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(pd.n_grams, 0) AS n_grams,
        |  coalesce(pd.n_novel, 0) AS n_novel,
        |  CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0.0
        |       ELSE CAST(coalesce(pd.n_novel, 0) AS DOUBLE) / pd.n_grams
        |  END AS novelty
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Mirrors q148: the q135 scoring CTEs + per-lang ntile(3) over
    // (avg_p desc, doc_id) — the doubles come from identical exact
    // integer sums on both engines, so the ordering and every bucket
    // label agree; ntile is the q127 dialect precedent.
    "q148_ccnet_buckets" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |ix AS (SELECT doc_id, wt, unnest(range(0, len(wt)-1)) AS i
        |  FROM w WHERE len(wt) >= 2),
        |bi AS (SELECT doc_id, wt[CAST(i AS INT)+1] AS a, wt[CAST(i AS INT)+2] AS b
        |  FROM ix),
        |c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT a, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY 1),
        |t AS (SELECT bi.doc_id,
        |    CAST(round(c2.c2 * 1000000.0 / c1.c1) AS BIGINT) AS term
        |  FROM bi JOIN c2 USING (a, b) JOIN c1 USING (a)),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(term) AS BIGINT) AS lm_u,
        |    CAST(sum(term) AS DOUBLE) / 1000000.0 / count(*) AS avg_p
        |  FROM t GROUP BY doc_id),
        |j AS (SELECT d.doc_id, d.lang, sc.n_bigrams, sc.lm_u, sc.avg_p
        |  FROM documents d JOIN sc USING (doc_id))
        |SELECT doc_id, lang, n_bigrams, lm_u,
        |  CAST(ntile(3) OVER (PARTITION BY lang
        |    ORDER BY avg_p DESC, doc_id) AS BIGINT) AS bucket
        |FROM j ORDER BY doc_id""".stripMargin,

    // chunk count = 1 for n<=window else ceil((n-window)/stride)+1 —
    // emission stops at the first chunk reaching the doc end (see
    // TextOps.chunk).
    "q84_chunk_docs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |st AS (SELECT doc_id, wt,
        |    unnest(range(0, CASE WHEN len(wt) <= 40 THEN 1
        |      ELSE ((len(wt) - 40 + 29) // 30) + 1 END)) AS cki FROM w),
        |ch AS (SELECT doc_id, CAST(cki AS BIGINT) AS chunk_id,
        |    CAST(cki*30 AS BIGINT) AS chunk_start,
        |    wt[(CAST(cki*30 AS INT)+1):(CAST(cki*30 AS INT)+40)] AS c
        |  FROM st)
        |SELECT doc_id, chunk_id, chunk_start,
        |  CAST(len(c) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(c, ' ')) AS chunk_fp
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "q85_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS wn FROM w GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_words FROM wc GROUP BY 1),
        |dfreq AS (SELECT word, count(*) AS df FROM wc GROUP BY 1),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |sc AS (SELECT wc.doc_id, wc.word, wc.wn, dfreq.df, tot.n_words,
        |    (CAST(wc.wn AS DOUBLE) / tot.n_words)
        |      * ln(CAST(nd.nd + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
        |  FROM wc JOIN tot USING (doc_id) JOIN dfreq USING (word) CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
        |  FROM sc)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rank, word, wn, df, n_words
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q86_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS wn FROM w GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(wn) AS BIGINT) AS dl FROM wc GROUP BY 1),
        |dfreq AS (SELECT word, count(*) AS df FROM wc
        |  WHERE word IN ('table','join','window','stream') GROUP BY 1),
        |stats AS (SELECT count(*) AS nd,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM tot),
        |sc AS (SELECT wc.doc_id, wc.word,
        |    ln(1.0 + (CAST(stats.nd - dfreq.df AS DOUBLE) + 0.5)
        |             / (CAST(dfreq.df AS DOUBLE) + 0.5))
        |    * ((CAST(wc.wn AS DOUBLE) * 2.2)
        |       / (CAST(wc.wn AS DOUBLE)
        |          + 1.2 * (0.25 + 0.75 * (CAST(tot.dl AS DOUBLE) / stats.avgdl)))) AS s_term
        |  FROM wc JOIN tot USING (doc_id) JOIN dfreq USING (word) CROSS JOIN stats
        |  WHERE wc.word IN ('table','join','window','stream')),
        |byd AS (SELECT doc_id, count(*) AS n_hit,
        |    max(CASE WHEN word = 'table' THEN s_term END) AS s_table,
        |    max(CASE WHEN word = 'join' THEN s_term END) AS s_join,
        |    max(CASE WHEN word = 'window' THEN s_term END) AS s_window,
        |    max(CASE WHEN word = 'stream' THEN s_term END) AS s_stream
        |  FROM sc GROUP BY 1),
        |fin AS (SELECT byd.doc_id, byd.n_hit, tot.dl,
        |    coalesce(s_table, 0.0) + coalesce(s_join, 0.0)
        |      + coalesce(s_window, 0.0) + coalesce(s_stream, 0.0) AS score
        |  FROM byd JOIN tot USING (doc_id))
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, n_hit, dl
        |FROM fin ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q96_quality_classifier" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |wc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT word) AS BIGINT) AS n_distinct FROM w GROUP BY 1),
        |s AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS BIGINT) AS stop_n
        |  FROM documents),
        |m AS (SELECT doc_id, stop_n, n_distinct, n_tokens,
        |    10*stop_n + 3*n_distinct - 2*n_tokens AS margin
        |  FROM wc JOIN s USING (doc_id))
        |SELECT doc_id, stop_n, n_distinct, n_tokens, CAST(margin AS BIGINT) AS margin,
        |  CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "q109_cube_stats" ->
      """SELECT lang, source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY g_lang, g_source, lang, source""".stripMargin,

    "q93_rollup_stats" ->
      """SELECT lang, source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source
        |FROM documents
        |GROUP BY ROLLUP (lang, source)
        |ORDER BY g_lang, g_source, lang, source""".stripMargin,

    "q94_group_topk" ->
      """WITH r AS (SELECT lang, source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents)
        |SELECT lang, source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
        |FROM r WHERE rank <= 3
        |ORDER BY lang, source, rank""".stripMargin,

    "q92_span_dedup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(wt) >= 20
        |    THEN list_transform(range(0, len(wt)-19),
        |      spi -> array_to_string(wt[(CAST(spi AS INT)+1):(CAST(spi AS INT)+20)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS span
        |  FROM w),
        |c AS (SELECT span, count(*) AS n_glob FROM g GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(CASE WHEN c.n_glob > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |  FROM g JOIN c USING (span) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(pd.n_spans, 0) AS n_spans,
        |  coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
        |  CASE WHEN coalesce(pd.n_spans, 0) = 0 THEN 0.0
        |       ELSE CAST(coalesce(pd.n_dup_spans, 0) AS DOUBLE) / pd.n_spans
        |  END AS dup_frac
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Mirrors q147: same capped-vocabulary postings join, integer dot
    // products, one double division (exact longs ≤ 2^53 on both
    // engines), (cos desc, cid) rank ties.
    "q147_sparse_docsim" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS wn FROM w GROUP BY 1, 2),
        |nr AS (SELECT count(*) AS nd FROM documents),
        |dft AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |tr AS (SELECT tf.doc_id, tf.word, tf.wn FROM tf
        |  JOIN dft USING (word), nr WHERE dft.df * 4 <= nr.nd * 3),
        |nm AS (SELECT doc_id, sum(wn*wn) AS n2 FROM tr GROUP BY 1),
        |p AS (SELECT q.doc_id AS qid, c.doc_id AS cid, sum(q.wn*c.wn) AS dp
        |  FROM tr q JOIN tr c USING (word)
        |  WHERE q.doc_id % 50 = 0 AND c.doc_id <> q.doc_id
        |  GROUP BY 1, 2),
        |r AS (SELECT p.qid, p.cid,
        |    CAST(p.dp AS DOUBLE)
        |      / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cos
        |  FROM p JOIN nm qn ON qn.doc_id = p.qid
        |    JOIN nm cn ON cn.doc_id = p.cid),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, cid) AS rn FROM r)
        |SELECT qid, CAST(rn AS BIGINT) AS rank, cid, round(cos, 6) AS cos_r
        |FROM rk WHERE rn <= 5 ORDER BY qid, rank""".stripMargin,

    // Mirrors q144: zipped parallel unnest gives (start, gram) pairs
    // (Spark's posexplode), the covered set is DISTINCT (doc,
    // start+offset) over matched grams × [0,1,2].
    "q144_decontaminate_cut" ->
      """WITH w AS (SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |g AS (SELECT doc_id, source,
        |    unnest(range(0, greatest(len(wt)-2, 0))) AS pos,
        |    unnest(list_transform(range(0, greatest(len(wt)-2, 0)),
        |      dci -> array_to_string(wt[(CAST(dci AS INT)+1):(CAST(dci AS INT)+3)], ' '))) AS gram
        |  FROM w),
        |bv AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0','src1')),
        |m AS (SELECT t.doc_id, t.pos FROM g t JOIN bv USING (gram)
        |  WHERE t.source NOT IN ('src0','src1')),
        |cv AS (SELECT DISTINCT doc_id, cpos FROM (
        |  SELECT doc_id, pos AS cpos FROM m
        |  UNION ALL SELECT doc_id, pos + 1 FROM m
        |  UNION ALL SELECT doc_id, pos + 2 FROM m)),
        |ex AS (SELECT doc_id, count(*) AS n_excised FROM cv GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(ex.n_excised, 0) AS BIGINT) AS n_excised,
        |  CAST(len(regexp_split_to_array(trim(d.text), '\s+'))
        |    - coalesce(ex.n_excised, 0) AS BIGINT) AS n_retained
        |FROM documents d LEFT JOIN ex USING (doc_id)
        |WHERE d.source NOT IN ('src0','src1')
        |ORDER BY d.doc_id""".stripMargin,

    // Mirrors q145: integer ⌊√n⌋ scores, integer floor-division
    // quotas, largest-remainder top-up (rem DESC, lang ties).
    "q145_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS score
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(score) AS s_tot FROM c),
        |b AS (SELECT lang, n_docs, score,
        |    (10000 * score) // s_tot AS base,
        |    10000 * score - ((10000 * score) // s_tot) * s_tot AS rem
        |  FROM c, t),
        |sp AS (SELECT 10000 - sum(base) AS spare FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM b)
        |SELECT lang, n_docs, score,
        |  CAST(base + CASE WHEN rr <= sp.spare THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r, sp ORDER BY lang""".stripMargin,

    // Mirrors q143: the q84 chunk CTEs at window = stride = 10 (so
    // ((n−10+9)//10)+1 = ceil(n/10) disjoint paragraphs), md5
    // fingerprints, per-fp distinct-doc counts, keep = fp in exactly
    // one doc.
    "q143_paragraph_dedup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt
        |  FROM documents),
        |st AS (SELECT doc_id, wt,
        |    unnest(range(0, CASE WHEN len(wt) <= 10 THEN 1
        |      ELSE ((len(wt) - 10 + 9) // 10) + 1 END)) AS cki FROM w),
        |ch AS (SELECT doc_id,
        |    wt[(CAST(cki*10 AS INT)+1):(CAST(cki*10 AS INT)+10)] AS c
        |  FROM st),
        |f AS (SELECT doc_id, CAST(len(c) AS BIGINT) AS n_toks,
        |    md5(array_to_string(c, ' ')) AS fp FROM ch),
        |dc AS (SELECT fp, count(DISTINCT doc_id) AS n_docs FROM f GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN dc.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    CAST(sum(CASE WHEN dc.n_docs = 1 THEN n_toks ELSE 0 END) AS BIGINT)
        |      AS kept_tokens
        |  FROM f JOIN dc USING (fp) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(pd.n_chunks, 0) AS n_chunks,
        |  coalesce(pd.n_kept, 0) AS n_kept,
        |  coalesce(pd.kept_tokens, 0) AS kept_tokens
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q90_global_shuffle" -> {
      val uh = Q.uhashSql("9500", "(doc_id % 4294967291)")
      s"""SELECT doc_id, CAST($uh AS BIGINT) AS shuffle_key,
         |  CAST(row_number() OVER (ORDER BY $uh, doc_id) AS BIGINT) AS pos
         |FROM documents ORDER BY pos""".stripMargin
    },

    // The physical plan is the distributed prefix sum; the relational
    // answer is the plain running-total window.
    "q113_token_budget" -> {
      val uh113 = Q.uhashSql("11300", "(doc_id % 4294967291)")
      s"""WITH t AS (SELECT doc_id, CAST($uh113 AS BIGINT) AS order_key,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, order_key, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY order_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, order_key, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 25000 ORDER BY cum_tokens""".stripMargin
    },

    "q103_sample_exact" -> {
      val uh = Q.uhashSql("10300", "(doc_id % 4294967291)")
      s"""WITH p AS (SELECT doc_id, lang, CAST($uh AS BIGINT) AS pri
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY pri, doc_id) AS rank FROM p)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, pri
         |FROM r WHERE rank <= 20
         |ORDER BY lang, rank""".stripMargin
    },

    "q79_stratified_sample" -> {
      val uh = Q.uhashSql("9000", "(doc_id % 4294967291)")
      s"""SELECT doc_id, lang, CAST($uh % 100 AS BIGINT) AS bucket
         |FROM documents
         |WHERE $uh % 100 < (CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25
         |                             WHEN 'es' THEN 10 ELSE 75 END)
         |ORDER BY doc_id""".stripMargin
    },

    "q80_pii_scrub" ->
      """WITH r0 AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com ref '
        |         || CAST(doc_id*7919 + 100000 AS VARCHAR) AS raw
        |  FROM documents),
        |rr AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(raw, '[0-9]{5,}')) AS BIGINT) AS n_idnums,
        |    regexp_replace(regexp_replace(raw,
        |      '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{5,}', '<NUM>', 'g') AS red
        |  FROM r0)
        |SELECT doc_id, n_emails, n_idnums, md5(red) AS redacted_fp,
        |  CAST(length(red) AS BIGINT) AS redacted_len
        |FROM rr ORDER BY doc_id""".stripMargin,

    "q74_ngram_topk" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |g AS (SELECT unnest(CASE WHEN len(wt) >= 3
        |    THEN list_transform(range(0, len(wt)-2),
        |      ngi -> array_to_string(wt[(CAST(ngi AS INT)+1):(CAST(ngi AS INT)+3)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS ngram
        |  FROM w)
        |SELECT ngram, count(*) AS n FROM g
        |GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    "q75_doc_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS wn FROM w GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct_words FROM wc GROUP BY 1),
        |top AS (SELECT doc_id, word AS top_word, wn AS top_word_n FROM
        |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY wn DESC, word) AS rn
        |   FROM wc) WHERE rn = 1),
        |b0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wt FROM documents),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(wt) >= 2
        |    THEN list_transform(range(0, len(wt)-1),
        |      bgi -> array_to_string(wt[(CAST(bgi AS INT)+1):(CAST(bgi AS INT)+2)], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS b
        |  FROM b0),
        |bc AS (SELECT doc_id, count(*) AS n_bigrams,
        |    count(DISTINCT b) AS n_distinct_bigrams FROM bg GROUP BY 1)
        |SELECT tot.doc_id, tot.n_words, tot.n_distinct_words,
        |  top.top_word, top.top_word_n,
        |  CAST(top.top_word_n AS DOUBLE) / tot.n_words AS top_word_frac,
        |  coalesce(bc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(bc.n_distinct_bigrams, 0) AS n_distinct_bigrams,
        |  CASE WHEN coalesce(bc.n_bigrams, 0) = 0 THEN 0.0
        |       ELSE CAST(bc.n_bigrams - bc.n_distinct_bigrams AS DOUBLE) / bc.n_bigrams
        |  END AS dup_bigram_frac
        |FROM tot JOIN top USING (doc_id) LEFT JOIN bc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q20_token_stats" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_nonspace
        |FROM documents)
        |SELECT doc_id, n_chars_m, n_tokens, n_bpe_tokens, n_nonspace,
        |  CAST(n_nonspace AS DOUBLE)/n_tokens AS avg_token_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "q21_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct_n,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS BIGINT) AS stop_n,
        |  CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents)
        |SELECT doc_id, n_tokens, punct_n, stop_n, n_chars_m,
        |  CAST(stop_n AS DOUBLE)/n_tokens AS stop_ratio,
        |  CAST(punct_n AS DOUBLE)/n_chars_m AS punct_ratio,
        |  CAST(stop_n AS DOUBLE)/n_tokens + CAST(punct_n AS DOUBLE)/n_chars_m AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q22_langid" ->
      """WITH h AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS BIGINT) AS en_n,
        |  CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|una)\b')) AS BIGINT) AS es_n,
        |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein|nicht)\b')) AS BIGINT) AS de_n,
        |  CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|une|est|dans)\b')) AS BIGINT) AS fr_n
        |FROM documents),
        |p AS (SELECT *,
        |  CASE WHEN en_n >= es_n AND en_n >= de_n AND en_n >= fr_n THEN 'en'
        |       WHEN es_n >= de_n AND es_n >= fr_n THEN 'es'
        |       WHEN de_n >= fr_n THEN 'de'
        |       ELSE 'fr' END AS pred_lang
        |FROM h)
        |SELECT doc_id, en_n, es_n, de_n, fr_n, pred_lang,
        |  CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
        |FROM p ORDER BY doc_id""".stripMargin,

    "q23_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin,

    "q25_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |  list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS ws
        |FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
        |  CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS uni
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, inter, uni,
        |  round(CAST(inter AS DOUBLE)/uni, 6) AS jac_r
        |FROM p WHERE CAST(inter AS DOUBLE)/uni >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // Mirrors q100: distinct (word, doc) pairs, full df, postings cut
    // to the 40 smallest doc_ids (row_number ORDER BY doc_id ≤ 40 ≡
    // the WindowGroupLimit plan), list ORDER BY doc_id ≡
    // array_sort(collect_list) on unique ids.
    "q100_inverted_index" ->
      """WITH w0 AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |w AS (SELECT DISTINCT doc_id, word FROM w0),
        |t AS (SELECT word, count(*) AS df FROM w GROUP BY 1),
        |r AS (SELECT word, doc_id,
        |    row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn
        |  FROM w),
        |p AS (SELECT word, count(*) AS n_posted,
        |    array_to_string(list(doc_id ORDER BY doc_id), '|') AS postings
        |  FROM r WHERE rn <= 40 GROUP BY 1)
        |SELECT t.word, t.df, p.n_posted, p.postings
        |FROM t JOIN p USING (word)
        |ORDER BY t.word""".stripMargin,

    // Mirrors q98 exactly: same CASE weights, same ((doc_id mod
    // 2^31-1)·K + b) % 1000 coin — the mod-prime reduction is
    // sign-safe (((x%p)+p)%p) so DuckDB's C-style % matches Spark's
    // pmod even on a negative-id data vintage, and it keeps K·x below
    // Long.Max on both engines. unnest(range(n)) ≡
    // explode(sequence(0, n−1)).
    "q98_domain_mix" ->
      """WITH c AS (SELECT doc_id, source,
        |    (CASE WHEN source = 'src0' THEN 2
        |          WHEN source IN ('src1','src2','src3','src4') THEN 1
        |          ELSE 0 END)
        |    + (CASE WHEN ((((doc_id % 2147483647) + 2147483647) % 2147483647)
        |                  *2654435761 + 40503) % 1000 <
        |         (CASE WHEN source IN ('src0','src1') THEN 500
        |               WHEN source IN ('src2','src3','src4') THEN 0
        |               ELSE 300 END)
        |       THEN 1 ELSE 0 END) AS n_copies
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(unnest(range(n_copies)) AS BIGINT) AS copy_id,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM c WHERE n_copies > 0
        |ORDER BY doc_id, copy_id""".stripMargin,

    "q26_json_stats" ->
      """WITH e AS (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_gt50
        |FROM e GROUP BY event_type)
        |SELECT event_type, n, sum_k, n_k_gt50,
        |  CAST(sum_k AS DOUBLE)/n AS avg_k
        |FROM a ORDER BY event_type""".stripMargin,
  )
}
