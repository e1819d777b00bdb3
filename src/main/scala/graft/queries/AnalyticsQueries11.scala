package graft.queries

import graft.operators.{Components, Dedup, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-18 pack: split hygiene and tokenizer-economics operators for
  * the training-data pipeline — leakage-safe cluster-aware train/val
  * splitting (q275: near-duplicate clusters assigned to splits WHOLE,
  * the hygiene step every dedup-then-split pipeline needs), a
  * per-language BPE fertility audit (q276: the learn-once
  * apply-everywhere read of the q263/q266 TextOps operators — the
  * number that decides whether a tokenizer taxes some languages), and
  * a context-length packing sweep (q277: q270's waste accounting
  * across candidate window sizes — the knob-decision table).
  *
  * House float/determinism policy throughout (QueryPack.scala):
  * splits are q264-style hash thresholds (zero RNG state), fertility
  * ratios are exact milli-scaled integer rationals, and the sweep's
  * ppm arithmetic is the q270 integer form.
  */
object AnalyticsQueries11 extends QueryPack {
  import Q.Fn

  /** The co-purchase graph's SYMMETRIC edge list — parts that share
    * an order are adjacent; each undirected edge appears in BOTH
    * directions as (node, nbr). ONE shuffle gathers each order's
    * distinct part set (collect_set dedups in-agg — no separate
    * pair-level exchange), pairs expand INSIDE the array via the
    * double explode, and the final distinct collapses multi-order
    * repeats. The single definition behind q173 / q278 / q280 /
    * q281 (round-15 verdict task 5). */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.groupBy(col("ok"))
      .agg(collect_set(col("pk")).as("ps"))
      .select(explode(col("ps")).as("node"), col("ps"))
      .select(col("node"), explode(col("ps")).as("nbr"))
      .filter(col("node") =!= col("nbr"))
      .distinct()
  }

  /** In-array canonical pair expansion (src < dst per order's part
    * set) — the shared core of every pair-support build. */
  private[graft] val pairExplode = expr(
    """flatten(transform(ps, (x, i) ->
      |  transform(slice(ps, i + 2, size(ps)), y ->
      |    struct(least(x, y) AS src, greatest(x, y) AS dst))))""".stripMargin)

  /** Canonical (src < dst) DISTINCT co-purchase edges — the same edge
    * set as [[coPurchaseEdges]] with each undirected edge held ONCE
    * instead of twice (round-16 optimization): the distinct exchange
    * and both orientation joins move HALF the symmetric build's rows,
    * and the k(k-1)/2 in-array expansion replaces the k(k-1) double
    * explode. [[orientEdgesFromCanon]] consumes it; the pair is
    * plan-equivalent to orientEdges∘coPurchaseEdges (same oriented
    * row set — TriangleSpec pins the equality executably). */
  private[graft] def coPurchaseEdgesCanon(s: SparkSession, dir: String)
      : DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(pairExplode).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Canonical co-purchase pair SUPPORTS: (src < dst, c = number of
    * co-orders), pairs expanded IN-ARRAY per order (the self-join's
    * second lineitem shuffle never exists — ONE shuffle gathers each
    * order's distinct part set, collect_set dedups in-agg), then one
    * hash agg counts each unordered pair's support. The common base
    * of the q191/q271 traversal edges and q282's butterfly count. */
  private[graft] def coPurchasePairSupports(s: SparkSession, dir: String)
      : DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(pairExplode).as("e"))
      .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
      .agg(count(lit(1)).as("c"))

  /** [[coPurchasePairSupports]] with an ORDER-sample tag: `keepSql`
    * (a boolean over the order key `ok`) marks each order once,
    * BEFORE the pair expansion, and the agg counts both the full
    * support c and the kept-order support cs per pair — so a
    * vertex-sampled estimate rides the one exact build for the cost
    * of a count_if (q278's residue discipline, bipartite edition). */
  private[graft] def coPurchasePairSupportsSampled(s: SparkSession,
      dir: String, keepSql: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("ok"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .withColumn("kept", expr(keepSql))
      .select(col("kept"), explode(pairExplode).as("e"))
      .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
      .agg(count(lit(1)).as("c"), expr("count_if(kept)").as("cs"))

  /** The q191/q271 variant of the co-purchase build: the pair
    * supports kept only with c ≥ 2 co-orders, then mirrored to both
    * directions AFTER the ~300× HAVING shrink — the traversal-ready
    * bidirectional list the BFS and k-core peels consume. Same
    * task-5 factoring: one definition, both call sites. */
  private[graft] def coPurchaseEdgesMinSupport(s: SparkSession, dir: String)
      : DataFrame =
    // Mirror via Components.mirrored (2-element explode, one pass over
    // the unpersisted pair-support lineage — the round-17 symmetrize
    // finding). INVARIANT callers rely on: the output is SYMMETRIC
    // (every (u, v) has its (v, u)) — q271's round-1 degree shortcut
    // is only peel-equivalent because of it (Q271Round1Spec pins
    // that equivalence executably).
    graft.operators.Components.mirrored(
      coPurchasePairSupports(s, dir).filter(col("c") >= 2),
      "src", "dst", "src", "dst")

  /** Orient a symmetric (node, nbr) edge list under the (degree, id)
    * total order — q173's degree orientation, factored so q278 can
    * compute it ONCE and share it between its exact and sampled legs.
    * Each undirected edge survives exactly once as (u → v) with
    * rank(v) > rank(u); max out-degree is O(√m) by arboricity. */
  private[graft] def orientEdges(edges: DataFrame): DataFrame = {
    val degs = edges.groupBy(col("node")).agg(count(lit(1)).as("d"))
    edges
      .join(degs.select(col("node"), col("d").as("du")), Seq("node"))
      .join(degs.select(col("node").as("nbr"), col("d").as("dv")), Seq("nbr"))
      .filter(struct(col("dv"), col("nbr")) > struct(col("du"), col("node")))
      .select(col("node").as("u"), col("nbr").as("v"), col("dv"))
  }

  /** [[orientEdges]] over a CANONICAL (src < dst, each undirected edge
    * once) list: undirected degrees come from exploding both
    * endpoints, and each row orients in place under the same
    * (degree, id) total order — no symmetric mirror ever exists, so
    * the degree agg input and both degree-attach joins carry half of
    * orientEdges' rows and the post-join half-discard filter is gone.
    * Output row set is IDENTICAL to orientEdges(the symmetric list):
    * for an edge {a, b}, struct-comparing (d_b, b) vs (d_a, a) picks
    * the same survivor (u → v, dv) the filter kept. */
  private[graft] def orientEdgesFromCanon(canon: DataFrame): DataFrame = {
    val degs = canon
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    canon
      .join(degs.select(col("node").as("src"), col("d").as("ds")), Seq("src"))
      .join(degs.select(col("node").as("dst"), col("d").as("dd")), Seq("dst"))
      .select(when(
          struct(col("dd"), col("dst")) > struct(col("ds"), col("src")),
          struct(col("src").as("u"), col("dst").as("v"), col("dd").as("dv")))
        .otherwise(
          struct(col("dst").as("u"), col("src").as("v"), col("ds").as("dv")))
        .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
  }

  /** Global triangle count from an ORIENTED edge list — the q173
    * degree-oriented flat wedge join minus the per-node explode:
    * wedges as fixed-width rows self-joined on the lower endpoint,
    * closed by one (v, w) equi join, then ONE count. Shuffle volume
    * is exactly the wedge mass Σ_u C(d⁺(u), 2). The caller persists
    * `op` (three references: both wedge sides + closure) and frees it
    * after pinning the count. Any total order on the nodes yields the
    * same triangle SET, so a sampled subgraph may reuse the FULL
    * graph's orientation — sampling can only shrink out-degrees. */
  private[graft] def wedgeCountFromOp(op: DataFrame, outCol: String)
      : DataFrame = {
    // SHUFFLE_HASH on the edge-list side of both joins (round-16): a
    // sort-merge closure join must SORT the streamed wedge mass —
    // O(W log W) over the plan's single biggest intermediate — while a
    // shuffled-hash join builds its per-partition map from the EDGE
    // list (bytes/partitions, bounded as partition count scales with
    // input) and streams the wedges unsorted. No driver build, no
    // broadcast cliff — the audit exempts shuffle-strategy hints.
    val wedges = op.as("a")
      .join(op.as("b").hint("shuffle_hash"), col("a.u") === col("b.u") &&
        struct(col("a.dv"), col("a.v")) < struct(col("b.dv"), col("b.v")))
      .select(col("a.v").as("v"), col("b.v").as("w"))
    wedges
      .join(op.select(col("u").as("v"), col("v").as("w")).hint("shuffle_hash"),
        Seq("v", "w"))
      .agg(count(lit(1)).as(outCol))
  }

  /** Closed-triangle RESIDUE rows from an ORIENTED edge list: one row
    * per triangle of `op`, carrying each of its three edges' pinned
    * pair-hash residues mod `m` (salt 27800 — the DOULION sample
    * hash). Because the pinned samples are nested hash-threshold
    * sets, the triangle count of ANY `h % k = 0` subsample with
    * k | m is a count_if over these rows — every estimate leg rides
    * the ONE wedge join for free (q278's sampled calibration leg at
    * m = 5, q280's whole p sweep at m = 20). */
  private[graft] def triangleResidues(op: DataFrame, m: Long): DataFrame = {
    // shuffle-hash hints for the same reason as wedgeCountFromOp: the
    // streamed wedge mass is never sorted; the build side is the edge
    // list (per-partition map bytes/partitions — no broadcast cliff)
    val wedges = op.as("a")
      .join(op.as("b").hint("shuffle_hash"), col("a.u") === col("b.u") &&
        struct(col("a.dv"), col("a.v")) < struct(col("b.dv"), col("b.v")))
      .select(col("a.u").as("u"), col("a.v").as("v"), col("b.v").as("w"))
    def hm(x: String, y: String): String = "(" + Q.uhashSql("27800",
      s"least($x, $y) * 4294967296 + greatest($x, $y)") + s") % $m"
    wedges
      .join(op.select(col("u").as("v"), col("v").as("w")).hint("shuffle_hash"),
        Seq("v", "w"))
      .select(expr(hm("u", "v")).as("huv"),
        expr(hm("v", "w")).as("hvw"), expr(hm("u", "w")).as("huw"))
  }

  val queries = Map[String, Fn](

    // LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT (the hygiene rule of every
    // eval: near-duplicates of a validation document must not sit in
    // train — Lee et al. 2021 measure the perplexity inflation when
    // they do). A doc-level hash split (q49) leaks by construction on
    // a duplicate-rich corpus; the fix is to split by near-dup
    // CLUSTER: q40's banded MinHash candidates → q72's connected
    // components → ONE hash decision per cluster_id (80/10/10),
    // inherited by every member. The leakage audit — clusters whose
    // members straddle >1 split — is COMPUTED from the assignment
    // (not asserted), so the output proves the zero the doc-level
    // split cannot deliver. Scale shape: candidates stay banded
    // (corpus never self-joins), components shuffle only (id, comp)
    // longs (q72's star machinery, output localCheckpointed so the
    // two consumers below never re-run MinHash), assignment is
    // map-only arithmetic, and the audit + rollup are cluster-keyed
    // hash aggs; the 1-row leak scalar is the q85/q86 broadcast
    // attach.
    "q275_leakage_split" -> { (s, dir) =>
      val docs = Tables.table(s, dir, "documents")
      val edges = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.6,
        shingleK = 3, hashFn = Dedup.polyHash)
      val assigned = Components.dedupClusters(
          docs.select(col("doc_id").as("id")), edges)
        .withColumn("h", expr("(" + Q.uhashSql("27500", "cluster_id") + ") % 10"))
        .withColumn("split", expr(
          "CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END"))
      val leak = assigned.groupBy(col("cluster_id"))
        .agg(count_distinct(col("split")).as("n_splits"))
        .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L))
          .as("n_leaky_clusters"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("cluster_id")).as("n_clusters"),
          sum(when(col("cluster_n") > 1, 1L).otherwise(0L))
            .as("n_clustered_docs"))
        .crossJoin(broadcast(leak))
        .orderBy(col("split"))
    },

    // PER-LANGUAGE BPE FERTILITY AUDIT (tokenizer economics: a vocab
    // learned on the POOLED corpus spends its merges on the majority
    // language, so minority languages pay more tokens per word — the
    // fertility gap that silently reweights a token-budgeted mixture;
    // cf. the multilingual-tokenizer audits around XLM-R/BLOOM). The
    // merge table is learned ONCE on the global dict and applied to
    // each language's dict through the SAME TextOps operators q263/
    // q266 share — the learn-once apply-everywhere contract, exercised
    // across a key boundary. Output per lang: words, tokens, chars,
    // and the exact milli-ratios tokens/word and chars/token (a
    // fertility of 1000 = every word one token; higher = taxed).
    // Scale shape: ONE corpus scan builds the (lang, word) dict
    // (pinned — both the global roll-up for learning and the apply
    // read it from cache); learning is q263's dict-sized loop; the
    // apply is bpeApply's zero-shuffle composed fold; the final agg
    // is ≤|langs| rows.
    "q276_bpe_fertility" -> { (s, dir) =>
      val langDict = TextOps.bpeDict(Tables.documentsWide(s, dir), "text",
        keys = Seq("lang")).persist()
      langDict.count() // the one corpus scan
      val globalDict = langDict.groupBy(col("word"))
        .agg(sum(col("cnt")).as("cnt"))
        .select(col("cnt"), expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
          .as("syms"))
      val merges = TextOps.bpeLearn(globalDict, 6)
      val out = TextOps.bpeApply(langDict, merges.map(_._2))
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * size(col("syms"))).as("n_tokens"),
          sum(col("cnt") * length(col("word"))).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
          expr("n_tokens * 1000 DIV n_words").as("tokens_per_word_milli"),
          expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_milli"))
        .orderBy(col("lang"))
      out.persist().count() // pin the ≤|langs|-row result, free the dict
      langDict.unpersist()
      out
    },

    // CONTEXT-LENGTH PACKING SWEEP (the knob decision q270 feeds:
    // for candidate window sizes C ∈ {128, 256, 512}, what do the
    // SAME packer shards pay in padding waste and split documents?
    // Bigger C wastes less padding but splits more docs across
    // example boundaries — this emits the whole trade curve in one
    // query). Shard dealing and doc order are IDENTICAL to q270
    // (same uhash salt), so the curve is exactly "q270 at three C
    // values", not three different packings. Scale shape: the
    // per-(lang, shard) cumulative window runs ONCE on pre-explode
    // rows; the C explode is per-row (×3) AFTER the window; then two
    // tiny aggs per C — sweeping the knob costs one extra projection,
    // never a re-pack.
    "q277_context_sweep" -> { (s, dir) =>
      val d = Tables.documentsWide(s, dir)
        .select(col("doc_id"), col("lang"),
          when(length(trim(col("text"))) === 0, 0L)
            .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
            .as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("shard", expr("(" + Q.uhashSql("27000", "doc_id") + ") % 8"))
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      d.withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("lang"), col("shard"), col("n_tokens"), col("cum"),
          explode(expr("array(128L, 256L, 512L)")).as("c"))
        .withColumn("split_doc",
          expr("IF((cum - 1) DIV c > (cum - n_tokens) DIV c, 1L, 0L)"))
        .groupBy(col("c"), col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("toks"),
          sum(col("split_doc")).as("n_split"))
        .withColumn("n_chunks", expr("(toks + c - 1) DIV c"))
        .groupBy(col("c"), col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(col("n_chunks")).as("n_chunks"),
          sum(col("n_split")).as("n_split_docs"))
        .withColumn("waste_ppm", expr(
          "(n_chunks * c - total_tokens) * 1000000 DIV (n_chunks * c)"))
        .orderBy(col("c"), col("lang"))
    },

    // DOULION-STYLE SAMPLED TRIANGLE COUNTING (Tsourakakis et al.
    // 2009, "DOULION: counting triangles in massive graphs with a
    // coin") beside exact q173 — the estimate-vs-exact pattern
    // (q194/q205/q224/q228) applied to the graph family. Each
    // UNDIRECTED co-purchase edge is kept with probability p = 1/5 by
    // the pinned-hash policy (q159/q254: a deterministic uhash
    // threshold on the canonical (min, max) pair key — zero RNG
    // state, both directions of an edge decide together, the same
    // edges survive at any parallelism on any cluster), the SAME
    // degree-oriented wedge-join plan runs on the sample, and the
    // count scales by 1/p³ = 125 exactly (integer, no float). Output:
    // one row with the exact count, the sampled count, the estimate,
    // and the error ppm — the calibration row a 100 TB run uses to
    // pick p. WHY this exists: exact q173's cost IS the wedge mass
    // (~270 GB at sf30 — past one box's scratch); sampling at p cuts
    // the wedge mass by ~p² and the closure probes by p³, so the
    // rung-3 scale the exact plan provably cannot reach on one box is
    // measurable here (ARCHITECTURE.md "Sampled triangles rung").
    // This query's sampled leg REUSES the full graph's (degree, id)
    // orientation (the triangle set is total-order-free, so any fixed
    // total order counts the same set) — it must build that
    // orientation anyway for the exact calibration leg. A production
    // estimate-only run samples FIRST and orients the p-fraction
    // instead (q281), paying p× the degree build.
    "q278_doulion_triangles" -> { (s, dir) =>
      val edges = coPurchaseEdgesCanon(s, dir)
      // ONE orientation pass AND ONE wedge join for both legs
      // (round-16 rewrite): the sampled subgraph's triangles are
      // exactly the exact triangles whose three edges all survive
      // the pinned hash (the q280 nesting argument with the full
      // edge set as the densest "sample"), so the sampled count is a
      // count_if over the exact leg's closure-residue rows — the
      // calibration estimate costs three hash tests per triangle,
      // not a second p²-scaled wedge join. The symmetric edge list
      // is pinned only while orientation consumes it twice (degrees
      // + the join side), then freed the moment opX materializes —
      // the q158 eager-free discipline: dead caches are the rung-4
      // bill.
      val edgesP = edges.persist()
      val opX = orientEdgesFromCanon(edgesP).persist()
      opX.count()
      edgesP.unpersist()
      // canonical 64-bit pair key on the ORIENTED row ((u, v) is the
      // same unordered pair both directions collapsed to): partkey <
      // 2^25 at sf100, so least·2^32 + greatest never wraps; uhash
      // reduces mod P32 identically on both engines
      val keepSql = "(" + Q.uhashSql("27800",
        "least(u, v) * 4294967296 + greatest(u, v)") + ") % 5 = 0"
      val counts = triangleResidues(opX, 5L)
        .agg(count(lit(1)).as("exact_triangles"),
          expr("count_if(huv = 0 AND hvw = 0 AND huw = 0)")
            .as("sampled_triangles"))
      // op holds each undirected edge exactly once — counts need no /2
      val tallies = opX
        .agg(count(lit(1)).as("n_edges"),
          expr(s"count_if($keepSql)").as("n_sampled_edges"))
      val out = counts.crossJoin(tallies)
        .select(col("exact_triangles"), col("n_edges"),
          col("n_sampled_edges"), col("sampled_triangles"),
          expr("sampled_triangles * 125").as("est_triangles"),
          expr("CASE WHEN exact_triangles = 0 THEN NULL ELSE " +
            "abs(sampled_triangles * 125 - exact_triangles) * 1000000 " +
            "DIV exact_triangles END").as("err_ppm"))
      out.persist().count() // pin the 1-row result, free the graph
      opX.unpersist()
      out
    },

    // DOULION p-SWEEP (the q277 knob-decision pattern applied to the
    // q278 sampling rate): estimates at p ∈ {1/5, 1/10, 1/20} from
    // ONE oriented edge list — the calibration curve that picks p
    // before a 100 TB run commits to it. The same pinned hash with
    // nested moduli (h % 20 = 0 ⟹ h % 10 = 0 ⟹ h % 5 = 0) makes the
    // samples a MONOTONE chain: each sparser sample is a subset of
    // the denser one, so the curve isolates the variance of p itself,
    // never re-rolled sampling luck. Scale shape (round-16 rewrite):
    // the nesting means every sparser leg's triangle SET is exactly
    // the p=1/5 triangles whose three edges all survive the sparser
    // modulus — so the sweep runs ONE wedge join (the densest leg's
    // p² ≈ 4% of exact q173's mass, down from the three-join 5.3%)
    // and derives the 1/10 and 1/20 points as per-TRIANGLE edge-hash
    // filters over that leg's closure rows: adding a sweep point
    // costs three hash tests per triangle, never another wedge
    // shuffle. (h % 20 determines h % 10 and h % 5 — 10 and 5 divide
    // 20 — so one stored residue serves every leg.) Estimates scale
    // by 1/p³ exactly (125 / 1000 / 8000 — integers, no float).
    "q280_doulion_sweep" -> { (s, dir) =>
      val edges = coPurchaseEdgesCanon(s, dir)
        .persist() // consumed twice by orientation, freed right after
      val h = "(" + Q.uhashSql("27800",
        "least(u, v) * 4294967296 + greatest(u, v)") + ")"
      // the full orientation's ONLY consumer is this filter, so only
      // the SAMPLED list is pinned (round-16: the unsampled opX cache
      // + its eager count were dead weight — the q158 lesson again);
      // opS has three readers (both wedge sides + the closure key)
      // plus the edge tallies
      val opS = orientEdgesFromCanon(edges)
        .filter(expr(s"$h % 5 = 0")).persist()
      opS.count()
      edges.unpersist()
      // the one wedge join: closure-residue rows of the p=1/5 sample
      // (triangleResidues at m = 20 — each row carries its three
      // edges' mod-20 residues, which determine the mod-10 and mod-5
      // survivals too)
      val triCounts = triangleResidues(opS, 20L)
        .agg(count(lit(1)).as("t5"),
          expr("count_if(huv % 10 = 0 AND hvw % 10 = 0 AND huw % 10 = 0)")
            .as("t10"),
          expr("count_if(huv = 0 AND hvw = 0 AND huw = 0)").as("t20"))
      val edgeCounts = opS.select(expr(s"$h % 20").as("he"))
        .agg(count(lit(1)).as("n5"),
          expr("count_if(he % 10 = 0)").as("n10"),
          expr("count_if(he = 0)").as("n20"))
      // pin the 1-row scalar pair so the three output legs below read
      // cache, not three replays of the wedge join
      val row = triCounts.crossJoin(edgeCounts).persist()
      row.count()
      opS.unpersist()
      val legs = Seq(5L, 10L, 20L).map { pd =>
        row.select(lit(pd).as("p_denom"),
          col(s"n$pd").as("n_sampled_edges"),
          col(s"t$pd").as("sampled_triangles"),
          (col(s"t$pd") * lit(pd * pd * pd)).as("est_triangles"))
      }
      val out = legs.reduce(_.unionByName(_)).orderBy(col("p_denom"))
      out.persist().count() // pin the 3-row curve, free the scalar row
      row.unpersist()
      out
    },

    // DOULION ESTIMATE-ONLY PLAN (round-15 verdict task 1): the plan
    // a 100 TB run ACTUALLY executes when it wants the estimate
    // without the exact calibration leg — sample FIRST (the whole
    // point of DOULION is never paying the full graph's cost), then
    // orient the p-FRACTION: the degree tables, orientation joins,
    // and the cached oriented list are all built over ~p of the
    // edges, so beyond q278's p²-scaled wedge mass this plan also
    // cuts the build ~p×. Same pinned hash as q278/q280 (salt 27800
    // on the canonical (min, max) pair key, both directions decide
    // together) ⟹ the SAME undirected edges survive; the sample's
    // own (degree, id) order is a different total order than the
    // full graph's, but any fixed total order yields the same
    // triangle SET (TriangleSpec makes that equivalence executable
    // at sf0.001), so sampled_triangles is bit-identical to q278's.
    // Output: the 1-row estimate q278's calibration row prices.
    "q281_doulion_estimate" -> { (s, dir) =>
      // canonical rows have src < dst, so least/greatest = (src, dst)
      // — the pinned pair hash is bit-identical to the symmetric form
      val keepSql = "(" + Q.uhashSql("27800",
        "least(src, dst) * 4294967296 + greatest(src, dst)") + ") % 5 = 0"
      val sampled = coPurchaseEdgesCanon(s, dir).filter(expr(keepSql))
        .persist() // consumed twice by orientation (degrees + join side)
      val op = orientEdgesFromCanon(sampled).persist()
      op.count()
      sampled.unpersist() // eager-free: dead caches are the rung-4 bill
      // op holds each sampled undirected edge exactly once
      val nS = op.agg(count(lit(1)).as("n_sampled_edges"))
      val out = wedgeCountFromOp(op, "sampled_triangles")
        .crossJoin(nS)
        .select(col("n_sampled_edges"), col("sampled_triangles"),
          expr("sampled_triangles * 125").as("est_triangles"))
      out.persist().count() // pin the 1-row result, free the graph
      op.unpersist()
      out
    },

    // BUTTERFLY COUNTING over the BIPARTITE order–part graph (the
    // 2×2-biclique cohesion primitive of bipartite networks —
    // Sanei-Mehri et al. 2018, "Butterfly Counting in Bipartite
    // Networks"): a butterfly is (o₁, o₂, p₁, p₂) with all four
    // incidences present — two orders co-purchasing the SAME two
    // parts. The triangle family (q173/q278) measures the PROJECTED
    // co-purchase graph; butterflies measure the bipartite structure
    // the projection is built FROM, and drive the projection's own
    // cost model (every butterfly is a support-≥2 co-purchase pair
    // pumping the q191 HAVING shrink). The exact count needs NO new
    // join machinery: per part-pair with c common orders the
    // butterflies are C(c, 2), so the whole number is ONE arithmetic
    // agg over the SAME pair-support table the q191/q271 edge build
    // already computes (coPurchasePairSupports — shared definition).
    // Scale shape: the only super-linear term is the in-array pair
    // expansion Σ_o C(|basket|, 2), the documented cost of that
    // build (baskets are catalog-bounded, never corpus-bounded);
    // everything after is a pair-keyed hash agg into one row. Output
    // also carries the pair-support profile a planner consults:
    // support-≥2 pair count (the q191 edge-list size) and the max
    // support (the hub pair).
    "q282_butterfly_count" -> { (s, dir) =>
      coPurchasePairSupports(s, dir)
        .agg(sum(expr("c * (c - 1) DIV 2")).as("n_butterflies"),
          expr("count_if(c >= 2)").as("n_support_pairs"),
          count(lit(1)).as("n_pairs"),
          max(col("c")).as("max_support"))
    },

    // SHARDED JSONL EXPORT (the training-data pipeline's output
    // stage — the shard layout every dataloader consumes): documents
    // dealt into 8 shards by the pinned hash (zero RNG state, the
    // q277 dealing), each shard one `shard-<k>.jsonl` file written
    // FROM THE EXECUTORS in doc_id order (TextSinks.writeJsonlShards
    // — driver-side file loops do not scale), then the export is
    // AUDITED BY READING IT BACK: spark.read.json over the written
    // files re-derives per-shard doc counts, id bounds, and char
    // sums, and the write manifest attaches the exact byte
    // accounting. The oracle recomputes everything — including
    // n_bytes, from the literal line format — straight from the
    // table, so the row matches iff the export wrote every document
    // exactly once, byte-exactly, into the right shard. Scale shape:
    // ONE scan + one shard shuffle for the write, streaming
    // per-partition file IO, a ≤8-row manifest; the read-back audit
    // is the second scan an export verification inherently costs.
    "q284_jsonl_export" -> { (s, dir) =>
      val out = Q.scratchDir(s, "graft_jsonl")
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("(" + Q.uhashSql("28400", "doc_id") + ") % 8").as("shard"))
      val manifest = graft.sinks.TextSinks.writeJsonlShards(s, docs, out)
      s.read.schema("doc_id LONG, lang STRING, n_chars LONG, shard LONG")
        .json(s"$out/*.jsonl")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          sum(col("n_chars")).as("chars_sum"))
        .join(broadcast(manifest.select(col("shard"), col("n_bytes"))),
          Seq("shard"))
        .orderBy(col("shard"))
    },

    // VERTEX-SAMPLED BUTTERFLY ESTIMATE (the DOULION calibration
    // pattern — q278's estimate-beside-exact — applied to the
    // bipartite family): keep each ORDER with p = 1/5 by the pinned
    // hash on its key; a butterfly has exactly two orders, so it
    // survives with p² and the sampled count scales by 1/p² = 25
    // (exact integer). Unlike q278's p²-wedge saving, the point here
    // is the SHUFFLE: pair-support mass from the sampled orders is
    // ~p of the exact build's, which is the cost that dominates
    // butterfly counting at 100 TB (baskets are catalog-bounded, so
    // compute is linear — the pair-agg exchange is the bill). This
    // calibration row prices that trade the way q278 prices p for
    // triangles — and the sampled count itself rides the ONE exact
    // build for the cost of a count_if per pair (kept tagged before
    // the expansion; C(cs, 2) sums butterflies whose both orders
    // survive), so the row costs nothing beyond q282.
    "q285_butterfly_sample" -> { (s, dir) =>
      val keepSql = "(" + Q.uhashSql("28500", "ok") + ") % 5 = 0"
      coPurchasePairSupportsSampled(s, dir, keepSql)
        .agg(sum(expr("c * (c - 1) DIV 2")).as("exact_butterflies"),
          sum(expr("cs * (cs - 1) DIV 2")).as("sampled_butterflies"))
        .select(col("exact_butterflies"), col("sampled_butterflies"),
          expr("sampled_butterflies * 25").as("est_butterflies"),
          expr("CASE WHEN exact_butterflies = 0 THEN NULL ELSE " +
            "abs(sampled_butterflies * 25 - exact_butterflies) * 1000000 " +
            "DIV exact_butterflies END").as("err_ppm"))
    },
  )

  // ——— DuckDB restatements ———

  /** One BPE APPLY stage: rewrite chain l0..lk against the learned
    * b1..bk (the bpeStage rewrite with the learn chain's pair tables,
    * applied to a DIFFERENT dict — the SQL mirror of
    * TextOps.bpeApply's learned-table reuse). LEFT JOIN ON TRUE, not
    * CROSS JOIN: on a degenerate vintage where fewer than 6 merges
    * are learnable, b$k is EMPTY — a cross join would empty the whole
    * per-language dict while the Spark side (bpeLearn's best.nonEmpty
    * guard) gracefully applies fewer merges. With the left join the
    * row survives with NULL b.x/b.y and the CASE's `be = b.y`
    * evaluates NULL → ELSE → identity rewrite, matching Spark. */
  private def bpeApplyStage(k: Int): String =
    s"""l$k AS (
       |  SELECT s.lang, s.word, s.cnt,
       |    list_reduce(string_split(s.state, chr(1)), (bacc, be) ->
       |      CASE WHEN be = b.y AND (bacc = b.x OR bacc LIKE '%' || chr(1) || b.x)
       |           THEN substr(bacc, 1, length(bacc) - length(b.x)) || b.x || b.y
       |           ELSE bacc || chr(1) || be END) AS state
       |  FROM l${k - 1} s LEFT JOIN b$k b ON TRUE)""".stripMargin

  val oracle = Map(
    "q275_leakage_split" -> {
      val uh = Q.uhashSql("27500", "cluster_id")
      s"""WITH RECURSIVE ${DomainQueries.mhPairsCte("documents")},
         |ccn AS (SELECT doc_id AS id FROM documents),
         |ccs AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mhpairs
         |        UNION ALL SELECT id_b, id_a FROM mhpairs),
         |walk AS (
         |  SELECT id, id AS r FROM ccn
         |  UNION
         |  SELECT s.b AS id, w.r FROM walk w JOIN ccs s ON s.a = w.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_n FROM comp GROUP BY cluster_id),
         |asg AS (
         |  SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_n,
         |    CASE WHEN ($uh) % 10 < 8 THEN 'train'
         |         WHEN ($uh) % 10 = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM comp JOIN sizes USING (cluster_id)),
         |leak AS (
         |  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaky_clusters
         |  FROM (SELECT cluster_id, count(DISTINCT split) AS ns
         |        FROM asg GROUP BY cluster_id))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN cluster_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clustered_docs,
         |  n_leaky_clusters
         |FROM asg CROSS JOIN leak
         |GROUP BY split, n_leaky_clusters ORDER BY split""".stripMargin
    },

    // Learn chain = q263's oracle verbatim (global dict, 6 bpeStage
    // rounds); apply chain = the same rewrite driven by the learned
    // b1..b6 over the per-language dict — the independent SQL
    // restatement of learn-once apply-everywhere.
    "q276_bpe_fertility" ->
      ("""WITH w AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word),
        |s0 AS (
        |  SELECT cnt, list_reduce(
        |    list_transform(range(1, length(word)+1),
        |      bci -> substr(word, CAST(bci AS INT), 1)),
        |    (ba, bb) -> ba || chr(1) || bb) AS state FROM w),
        |""".stripMargin
        + (1 to 6).map(AnalyticsQueries9.bpeStage(_)).mkString(",\n") + ",\n"
        + """lw AS (
        |  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY lang, word),
        |l0 AS (
        |  SELECT lang, word, cnt, list_reduce(
        |    list_transform(range(1, length(word)+1),
        |      bci -> substr(word, CAST(bci AS INT), 1)),
        |    (ba, bb) -> ba || chr(1) || bb) AS state FROM lw),
        |""".stripMargin
        + (1 to 6).map(bpeApplyStage).mkString(",\n") + ",\n"
        + """f AS (
        |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
        |    CAST(sum(cnt * len(string_split(state, chr(1)))) AS BIGINT) AS n_tokens,
        |    CAST(sum(cnt * length(word)) AS BIGINT) AS n_chars
        |  FROM l6 GROUP BY lang)
        |SELECT lang, n_words, n_tokens, n_chars,
        |  n_tokens * 1000 // n_words AS tokens_per_word_milli,
        |  n_chars * 1000 // n_tokens AS chars_per_token_milli
        |FROM f ORDER BY lang""".stripMargin),

    "q277_context_sweep" -> {
      val uh = Q.uhashSql("27000", "doc_id")
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |    END AS n_tokens,
         |    ($uh) % 8 AS shard
         |  FROM documents),
         |f AS (SELECT * FROM d WHERE n_tokens > 0),
         |cumm AS (
         |  SELECT lang, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY lang, shard
         |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM f),
         |x AS (
         |  SELECT lang, shard, n_tokens, cum,
         |    unnest([CAST(128 AS BIGINT), 256, 512]) AS c
         |  FROM cumm),
         |sh AS (
         |  SELECT c, lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS toks,
         |    CAST(sum(CASE WHEN (cum - 1) // c > (cum - n_tokens) // c
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_split
         |  FROM x GROUP BY c, lang, shard)
         |SELECT c, lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(sum((toks + c - 1) // c) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_split) AS BIGINT) AS n_split_docs,
         |  (CAST(sum((toks + c - 1) // c) AS BIGINT) * c -
         |   CAST(sum(toks) AS BIGINT)) * 1000000 //
         |  (CAST(sum((toks + c - 1) // c) AS BIGINT) * c) AS waste_ppm
         |FROM sh GROUP BY c, lang ORDER BY c, lang""".stripMargin
    },

    // Exact count = q173's oracle triangle join (id-canonical edges —
    // the triangle SET is orientation-free, so the id order is the
    // simple restatement of Spark's degree order); the sample replays
    // the SAME pinned uhash on the canonical u<v pair key, then the
    // same join counts the sampled subgraph.
    "q278_doulion_triangles" -> {
      val uh = Q.uhashSql("27800", "u * 4294967296 + v")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |es AS (SELECT u, v FROM e WHERE ($uh) % 5 = 0),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS exact_triangles FROM (
         |  SELECT 1 FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)),
         |ts AS (SELECT CAST(count(*) AS BIGINT) AS sampled_triangles FROM (
         |  SELECT 1 FROM es e1 JOIN es e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN es e3 ON e3.u = e1.v AND e3.v = e2.v)),
         |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM es) AS n_sampled_edges)
         |SELECT t.exact_triangles, m.n_edges, m.n_sampled_edges,
         |  ts.sampled_triangles,
         |  ts.sampled_triangles * 125 AS est_triangles,
         |  CASE WHEN t.exact_triangles = 0 THEN NULL
         |       ELSE abs(ts.sampled_triangles * 125 - t.exact_triangles)
         |            * 1000000 // t.exact_triangles END AS err_ppm
         |FROM t CROSS JOIN ts CROSS JOIN m""".stripMargin
    },

    // The same pinned hash replayed at each modulus; the nested-chain
    // property (h%20=0 ⟹ h%10=0 ⟹ h%5=0) holds identically on both
    // engines, so each leg is an independent restatement of one
    // sample's triangle count.
    "q280_doulion_sweep" -> {
      val uh = Q.uhashSql("27800", "u * 4294967296 + v")
      def leg(pd: Int): String =
        s"""es$pd AS (SELECT u, v FROM e WHERE ($uh) % $pd = 0),
           |t$pd AS (SELECT CAST(count(*) AS BIGINT) AS st FROM (
           |  SELECT 1 FROM es$pd e1 JOIN es$pd e2 ON e1.u = e2.u AND e1.v < e2.v
           |  JOIN es$pd e3 ON e3.u = e1.v AND e3.v = e2.v)),
           |n$pd AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM es$pd)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |${Seq(5, 10, 20).map(leg).mkString(",\n")}
         |SELECT CAST(5 AS BIGINT) AS p_denom, n5.ns AS n_sampled_edges,
         |  t5.st AS sampled_triangles, t5.st * 125 AS est_triangles
         |FROM t5 CROSS JOIN n5
         |UNION ALL
         |SELECT 10, n10.ns, t10.st, t10.st * 1000 FROM t10 CROSS JOIN n10
         |UNION ALL
         |SELECT 20, n20.ns, t20.st, t20.st * 8000 FROM t20 CROSS JOIN n20
         |ORDER BY p_denom""".stripMargin
    },

    // Identical pinned hash replayed on the id-canonical u < v pair
    // (the same different-total-order restatement q278/q280 use —
    // the triangle set is orientation-free, so agreement here is a
    // STRONGER check than replaying Spark's degree order would be).
    "q281_doulion_estimate" -> {
      val uh = Q.uhashSql("27800", "u * 4294967296 + v")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |es AS (SELECT u, v FROM e WHERE ($uh) % 5 = 0),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS sampled_triangles FROM (
         |  SELECT 1 FROM es e1 JOIN es e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN es e3 ON e3.u = e1.v AND e3.v = e2.v)),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled_edges FROM es)
         |SELECT n.n_sampled_edges, t.sampled_triangles,
         |  t.sampled_triangles * 125 AS est_triangles
         |FROM t CROSS JOIN n""".stripMargin
    },

    // The pair supports restated as the plain bipartite self-join
    // (DISTINCT incidences, a.pk < b.pk, count per pair) — a
    // different derivation of the same table, which is the point of
    // the oracle: C(c, 2) summed over pairs counts each butterfly
    // exactly once whichever way the supports were produced.
    "q282_butterfly_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS BIGINT) AS c
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2)
        |SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_butterflies,
        |  CAST(count(CASE WHEN c >= 2 THEN 1 END) AS BIGINT) AS n_support_pairs,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  max(c) AS max_support
        |FROM p""".stripMargin,

    // Everything — INCLUDING the byte count — recomputed straight
    // from the table: n_bytes re-derives each line's exact literal
    // (`{"doc_id":N,...}` + newline; all-ASCII fields, bytes =
    // chars), so agreement proves the written files carry every
    // document exactly once, in the right shard, byte-exactly.
    "q284_jsonl_export" -> {
      val uh = Q.uhashSql("28400", "doc_id")
      s"""WITH d AS (
         |  SELECT doc_id, lang, n_chars, ($uh) % 8 AS shard
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         |  CAST(sum(length('{"doc_id":' || doc_id || ',"lang":"' || lang ||
         |    '","n_chars":' || n_chars || ',"shard":' || shard || '}') + 1)
         |    AS BIGINT) AS n_bytes
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin
    },

    // Same pinned hash replayed on the order key; the kept-order
    // support per pair (cs) restated through the plain bipartite
    // self-join, butterflies among kept orders = C(cs, 2).
    "q285_butterfly_sample" -> {
      val uh = Q.uhashSql("28500", "a.ok")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS (SELECT a.pk AS src, b.pk AS dst,
         |        CAST(count(*) AS BIGINT) AS c,
         |        CAST(count(CASE WHEN ($uh) % 5 = 0 THEN 1 END) AS BIGINT) AS cs
         |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |      GROUP BY 1, 2)
         |SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS exact_butterflies,
         |  CAST(sum(cs * (cs - 1) // 2) AS BIGINT) AS sampled_butterflies,
         |  CAST(sum(cs * (cs - 1) // 2) * 25 AS BIGINT) AS est_butterflies,
         |  CASE WHEN sum(c * (c - 1) // 2) = 0 THEN NULL
         |       ELSE CAST(abs(sum(cs * (cs - 1) // 2) * 25 -
         |            sum(c * (c - 1) // 2)) * 1000000 //
         |            sum(c * (c - 1) // 2) AS BIGINT) END AS err_ppm
         |FROM p""".stripMargin
    },
  )
}
