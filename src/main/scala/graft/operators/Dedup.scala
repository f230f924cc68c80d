package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All are pure DataFrame transforms over built-in
  * (codegen'd) expressions; every hash is md5-based so results are
  * portable across engines (the DuckDB oracles replay them exactly).
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on the fingerprint;
  *  - n-gram Jaccard bounds its candidate join with a document-frequency
  *    cap on shingles (stop-shingle removal): a shingle occurring in more
  *    than `maxDf` documents generates no pairs, which caps the per-key
  *    fan-out of the shingle self-join at maxDf² instead of n²;
  *  - MinHash+LSH replaces the all-pairs comparison entirely: per-doc
  *    signature (one aggregation), band keys, bucket self-join — the only
  *    quadratic term is within a bucket;
  *  - SimHash gives a constant-size signature per doc; near-dup = small
  *    Hamming distance, joinable by signature bands at scale.
  */
object Dedup {

  /** Distinct k-char shingles per document: (id, s). Per-document
    * dedup happens inside one row — no shuffle at all, unlike
    * `explode().distinct()` which would shuffle every (doc, shingle)
    * pair. Uses the fused [[graft.functions.ShingleArray]] expression:
    * the composable `array_distinct(transform(sequence(...), substr))`
    * is semantically identical but runs as interpreted lambdas
    * (CodegenFallback) and measured 2.7 s of q29's ~5.5 s by itself. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    Spread.scaleOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(graft.functions.TextExpressions
          .shingleArray(col(textCol), k)).as("s"))

  /** One-pass audit of the 64-bit shingle-hash trade every hashed-index
    * operator rides on: number of distinct shingle STRINGS that share a
    * hash with a different string (0 = the hashed and string
    * representations are interchangeable on this corpus — df counts,
    * set sizes and intersections all agree exactly). Expected
    * collisions at n distinct shingles ≈ n²/2⁶⁵ (~0.03 at one billion),
    * so this is a per-corpus certificate to run when EXACTNESS matters
    * (e.g. an oracle comparison), not a steady-state cost: one extra
    * aggregation over distinct shingles. ClusterAuditSpec certifies the
    * testdata corpus; the q313 oracle's string-side df computation is
    * exact-equal to the hashed plan precisely when this returns 0. */
  def shingleHashCollisions(df: DataFrame, textCol: String, k: Int): Long =
    hashCollisionsIn(df.select(explode(graft.functions.TextExpressions
        .shingleArray(col(textCol), k)).as("s"))
      .select(col("s"), xxhash64(col("s")).as("xh")))

  /** Collision count over explicit (s, xh) pairs — the aggregation
    * behind [[shingleHashCollisions]], split out so its POSITIVE path
    * is testable (a genuine xxhash64 collision cannot be planted, but
    * a crafted pair frame can — ClusterAuditSpec does). */
  private[operators] def hashCollisionsIn(pairs: DataFrame): Long =
    pairs.distinct()
      .groupBy(col("xh"))
      .agg(countDistinct(col("s")).as("n"))
      .where(col("n") > 1)
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)

  /** Exact duplicate groups by content hash: one row per distinct text
    * with the kept (minimum) id and the duplicate count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** All-pairs n-gram Jaccard similarity over shingle sets, with
    * stop-shingle removal (df > maxDf) bounding the join fan-out.
    * Returns (id1, id2, jaccard) for pairs ≥ threshold, id1 < id2.
    * Jaccard is computed over the FILTERED shingle sets (consistent on
    * both sides of the oracle). */
  /** Inverted index: one row per shingle with the sorted list of doc
    * ids containing it. The single shuffle every shingle-set operator
    * shares (cached; plan-equal calls reuse one materialization).
    *
    * The GROUPING key is `xxhash64(s)` (one codegen'd long, computed
    * map-side) rather than the shingle string — long comparisons in the
    * aggregate hash map instead of UTF8 compares. The string itself
    * rides along as `min(s)` (= THE s of the group absent a 64-bit
    * collision) because [[minhashSignature]] md5s it — but only once per
    * DISTINCT shingle post-aggregation, which is the cheap side: this
    * corpus has ~13k distinct shingles behind 1.35M postings, and
    * hashing per posting instead measurably regresses (md5+conv per
    * posting benched 5.8 s vs 3.9 s for the whole of q29 at sf0.1).
    * A 64-bit key collision merges two shingles' posting lists; at a
    * billion distinct shingles that is ~0.03 expected collisions —
    * acceptable for dedup semantics and documented here. */
  private[graft] def invertedIndex(df: DataFrame, idCol: String,
                                   textCol: String, k: Int): DataFrame =
    shingles(df, idCol, textCol, k)
      .groupBy(xxhash64(col("s")).as("xh"))
      .agg(min(col("s")).as("s"),
        sort_array(collect_list(col(idCol))).as("docs"))
      .cache()

  /** Hash-only inverted index: one row per distinct shingle HASH with
    * the sorted doc-id posting list. The set operators downstream
    * (Jaccard, clustering) never look at shingle strings — only
    * identity — so the corpus-wide posting shuffle carries 8-byte longs
    * from the fused [[graft.functions.ShingleHashArray]] scan instead
    * of UTF8 strings, and the aggregation hash map compares longs.
    * Same 64-bit collision trade as [[invertedIndex]] (which survives
    * for [[minhashSignatureAgg]], the spec baseline that needs the
    * string to md5). */
  private[graft] def invertedIndexHashed(df: DataFrame, idCol: String,
                                         textCol: String, k: Int): DataFrame =
    Spread.scaleOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(graft.functions.TextExpressions
          .shingleHashArray(col(textCol), k)).as("xh"))
      .groupBy(col("xh"))
      .agg(sort_array(collect_list(col(idCol))).as("docs"))
      .cache()

  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   k: Int, maxDf: Int, threshold: Double): DataFrame = {
    // Single pass over the inverted index — no shingle self-join at all:
    //  - df(shingle) = size(docs);
    //  - sizes: explode retained (df ≤ maxDf) postings, count per doc —
    //    the Jaccard denominator, so stop-shingle removal stays part of
    //    the semantics;
    //  - co-occurrence: expand in-row doc pairs for 2 ≤ df ≤ maxDf
    //    (df = 1 cannot pair; the maxDf cap bounds expansion at df²).
    val inv = invertedIndexHashed(df, idCol, textCol, k)
    val kept = inv.where(size(col("docs")) <= maxDf)
    val sizes = kept.select(explode(col("docs")).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val common = kept.where(size(col("docs")) >= 2)
      .select(explode(expandPairs(kept, "docs")).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("sz1") + col("sz2") - col("c")), 6))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** IDF-WEIGHTED n-gram Jaccard near-dup pairs: [[ngramJaccard]]'s
    * single-pass inverted-index shape, but every shingle counts with
    * the integer rational weight w = (N·1000) DIV df — rare
    * (informative) shingles dominate the score while near-boilerplate
    * below the stop cap contributes almost nothing, the standard
    * refinement when plain Jaccard over-matches template-heavy
    * corpora. WJ(a,b) = Σ_{s∈a∩b} w_s / (W_a + W_b − Σ_shared w_s),
    * reported as an exact ppm ratio (weights are global per shingle,
    * so min = max = w on shared shingles and the set formula
    * collapses to sums). Same df² pair-expansion bound as
    * [[ngramJaccard]]; the corpus size N rides in on a broadcast
    * one-row frame. Weight sums stay far from Long range: W_doc ≤
    * shingles(doc) · N · 500 — at a billion docs ppm numerators need
    * ~2⁶² for 10k-shingle docs, the documented ceiling. */
  def idfWeightedJaccard(df: DataFrame, idCol: String, textCol: String,
                         k: Int, maxDf: Int, minPpm: Long): DataFrame = {
    val n = df.select(count(lit(1)).as("n_docs"))
    val inv = invertedIndexHashed(df, idCol, textCol, k)
    val kept = inv.where(size(col("docs")) <= maxDf)
      .crossJoin(broadcast(n))
      .withColumn("w", expr("(n_docs * 1000) DIV size(docs)"))
    val weights = kept.select(explode(col("docs")).as(idCol), col("w"))
      .groupBy(col(idCol)).agg(sum(col("w")).as("tw"))
    val shared = kept.where(size(col("docs")) >= 2)
      .select(col("w"), explode(expandPairs(kept, "docs")).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(sum(col("w")).as("cw"))
    shared
      .join(weights.select(col(idCol).as("id1"), col("tw").as("tw1")), "id1")
      .join(weights.select(col(idCol).as("id2"), col("tw").as("tw2")), "id2")
      .withColumn("wj_ppm",
        expr("(cw * 1000000) DIV (tw1 + tw2 - cw)"))
      .where(col("wj_ppm") >= minPpm)
      .select(col("id1"), col("id2"), col("cw").cast("long").as("shared_w"),
        col("wj_ppm"))
  }

  /** EXACT Jaccard similarity join by PREFIX FILTERING (AllPairs /
    * PPJoin family — Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06):
    * the principled exact-at-scale alternative to [[ngramJaccard]]'s
    * df-capped index. Guarantee: for whitespace-token sets with
    * Jaccard(a, b) ≥ t, the two docs MUST share a token within the
    * first |s| − ⌈t·|s|⌉ + 1 tokens of each, once every doc's tokens
    * are sorted by one global order — so an inverted index over only
    * those short prefixes produces a candidate superset with zero
    * false negatives, no df cap discarding evidence. The global order
    * is (df ASC, token ASC): rarest-first minimizes prefix collisions,
    * because common tokens land at the ends of every sorted set and
    * never enter an index.
    *
    * Scale shape: postings shuffle once for df, once for the per-doc
    * sort; the candidate join touches only prefix postings (≈
    * (1 − t)·|s| + 1 per doc); verification rejoins the two sorted
    * token arrays BY ID (candidates travel as bare id pairs, not with
    * arrays in tow) and intersects in-row. Everything is integer/string
    * deterministic, so the whole join — order, prefixes, candidates,
    * scores — replays in DuckDB (q163). The trade vs banding: LSH/
    * MinHash drop recall probabilistically and never look at the
    * discarded mass; prefix filtering is exact but its candidate count
    * grows with token-frequency skew (every doc sharing a rare typo
    * pairs up). Curation uses banding; audits use this. */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, ngram: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold in (0,1]")
    require(ngram >= 1, s"ngram=$ngram must be >= 1")
    // token set = distinct words (ngram = 1) or distinct word n-grams —
    // single words barely discriminate template-generated corpora
    // (every doc shares the vocabulary), n-grams encode word ORDER
    val tokExpr =
      if (ngram == 1)
        filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
      else graft.functions.TextExpressions.tokenNgrams(col(textCol), ngram)
    val toks = df.select(col(idCol).as("id"),
        array_distinct(tokExpr).as("toks"))
      .where(size(col("toks")) > 0)
    val posting = toks.select(col("id"), explode(col("toks")).as("tok"))
    val dfreq = posting.groupBy("tok").agg(count(lit(1)).as("df"))
    // Tokens leave the string domain HERE (the q29 "postings are
    // identities" lesson): each distinct token gets its dense global
    // rank by (df, tok) — rarest first — via the two-pass distributed
    // rank (no single-partition window), and every downstream step
    // (per-doc sort, prefix index, candidate join, intersection) runs
    // on int ranks. The rank order IS the prefix-filter order, and
    // rank-set intersection size equals token-set intersection size
    // (bijection), so scores are unchanged.
    val ranked = Rank.globalRank(dfreq, "r", col("df"), col("tok"))
      .select(col("tok"), col("r"))
    val sorted = posting.join(ranked, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(col("r"))).as("stoks"))
    val pre = sorted
      .withColumn("n", size(col("stoks")))
      .withColumn("plen",
        (col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1))
      .localCheckpoint(true) // consumed by the index AND both verify joins
    val pt = pre.select(col("id"), col("n"),
      explode(slice(col("stoks"), lit(1), col("plen"))).as("tok"))
    // length filter (Jaccard ≥ t ⇒ t ≤ |a|/|b| ≤ 1/t) rides the join as
    // a residual — the standard prefix-join pruning for mismatched sizes
    val cand = pt.as("a").join(pt.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("b.n") >= lit(threshold) * col("a.n") &&
          col("a.n") >= lit(threshold) * col("b.n"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    cand
      .join(pre.select(col("id").as("id1"), col("stoks").as("ta")), "id1")
      .join(pre.select(col("id").as("id2"), col("stoks").as("tb")), "id2")
      // rank arrays are sorted ascending by construction — the fused
      // two-pointer count replaces array_intersect's per-row hash-set
      // build + materialized intersection array (same count, no alloc)
      .withColumn("c", graft.functions.PairExpressions
        .sortedIntersectCount(col("ta"), col("tb")))
      .withColumn("jaccard", round(col("c").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("c")), 6))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** N-gram CONTAINMENT near-dup pairs: c / min(|A|, |B|) ≥ threshold —
    * the asymmetric twin of [[ngramJaccard]] that catches SUB-DOCUMENT
    * duplication (a short doc embedded in a long one scores containment
    * ≈ 1 while its Jaccard stays low, bounded by |A|/|B|). Quote pages,
    * boilerplate-wrapped reposts and concatenated dumps are exactly this
    * shape, which is why curation pipelines run containment next to
    * symmetric Jaccard. Same single-pass inverted-index plan — the
    * hashed-posting shuffle, the df ≤ maxDf stop-shingle cap bounding
    * pair expansion at df², one hash aggregation — only the final
    * scoring ratio differs, so the scale story is ngramJaccard's. */
  def ngramContainment(df: DataFrame, idCol: String, textCol: String,
                       k: Int, maxDf: Int, threshold: Double): DataFrame = {
    val inv = invertedIndexHashed(df, idCol, textCol, k)
    val kept = inv.where(size(col("docs")) <= maxDf)
    val sizes = kept.select(explode(col("docs")).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val common = kept.where(size(col("docs")) >= 2)
      .select(explode(expandPairs(kept, "docs")).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("containment",
        round(col("c").cast("double") / least(col("sz1"), col("sz2")), 6))
      .where(col("containment") >= threshold)
      .select("id1", "id2", "containment")
  }

  /** Segment-level boilerplate removal — the "line-level dedup" pass of
    * web-corpus curation (C4 drops lines occurring ≥ 3×; RefinedWeb/CCNet
    * strip repeated lines per shard), over fixed `segTokens`-token
    * segments because this corpus has no newline structure (the
    * segmenter is a pluggable choice; the engine mechanics are
    * identical): a segment whose EXACT text occurs in more than `maxDf`
    * DISTINCT documents is boilerplate (headers, navigation, license
    * blocks, templated intros) and is stripped from every document it
    * appears in; the surviving segments reassemble in document order.
    * Unlike document-level dedup (q28-q31) this rescues the unique
    * remainder of a partially-templated document instead of keeping or
    * dropping it whole.
    *
    * Returns every input document: (id, clean_text, n_segments, n_kept,
    * n_removed), clean_text = '' when every segment was boilerplate.
    *
    * Scale shape: segments derive in-row from the token array (no
    * shuffle); the document-frequency aggregation groups by
    * xxhash64(segment) — 8-byte map-side-combined keys, the inverted-
    * index trade (a 64-bit collision merges two segments' df counts;
    * ~0.03 expected collisions at 1e9 distinct segments); the hot set
    * (df > maxDf) is tiny relative to DISTINCT segments even when
    * boilerplate dominates instance counts, so AQE broadcasts the
    * anti-join build side; reassembly is one per-document aggregation,
    * partitioned by doc id. */
  /** The ordered `segTokens`-token segment array of a text column —
    * the shared segmenter of [[stripBoilerplateSegments]] and its
    * streaming twin ([[graft.streaming.Streams.stripBoilerplateStream]]).
    * Per-row, order-preserving, empty array for empty/whitespace text
    * (guarded: `sequence(0, -1)` would be a DESCENDING two-element
    * sequence, not empty). */
  private[graft] def segmentArray(text: Column, segTokens: Int): Column = {
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val nSeg = floor((size(toks) + lit(segTokens - 1)) / lit(segTokens)).cast("int")
    when(size(toks) > 0,
      transform(sequence(lit(0), nSeg - 1),
        i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** The boilerplate side of [[stripBoilerplateSegments]] as a sorted
    * xxhash64 array — the EXACT static side a streaming strip probes
    * per row (a periodic batch job rebuilds it; every micro-batch
    * reuses it, the [[graft.streaming.Streams.lshDedupStream]] split).
    * Exactly the batch operator's hot set, so batch and stream strips
    * agree row-for-row (same 64-bit-collision trade, nothing more).
    * A Bloom sketch was the first cut here and is the WRONG tool:
    * Spark's `BloomFilterAggregate` is tuned for join pruning and
    * measured ~1e-3 false positives at small sketch sizes regardless
    * of the textbook numBits sizing — every false positive silently
    * strips an innocent segment with no exact-verify join available on
    * a per-row stream path (q66 keeps one; a stream cannot).
    *
    * The collect is bounded by construction — hot segments number at
    * most Σ df>maxDf distincts (|corpus segments| / maxDf worst case),
    * the same boundedness argument as the stop-shingle list; at the
    * extreme, swap the plan literal for a broadcast variable inside
    * the probe expression. */
  def hotSegmentHashes(corpus: DataFrame, idCol: String, textCol: String,
                       segTokens: Int, maxDf: Int): Array[Long] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col(idCol), explode(segmentArray(col(textCol), segTokens)).as("seg"))
      .select(xxhash64(col("seg")).as("xh"), col(idCol)).distinct()
      .groupBy(col("xh")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
      .orderBy(col("xh")).select(col("xh")).as[Long].collect()
  }

  def stripBoilerplateSegments(df: DataFrame, idCol: String, textCol: String,
                               segTokens: Int, maxDf: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens=$segTokens must be >= 1")
    val base = df.select(col(idCol),
        filter(split(trim(col(textCol)), "\\s+"),
          t => length(t) > 0).as("__toks"))
      .withColumn("__n_seg",
        expr(s"CAST((size(__toks) + ${segTokens - 1}) DIV $segTokens AS BIGINT)"))
    // cached: the segment stream feeds both the hot-set aggregation and
    // the kept-side anti join; uncached, tokenization + segment
    // assembly run twice (cheap per row, but the scan isn't)
    val segs = base.where(col("__n_seg") > 0)
      .select(col(idCol), explode(
        transform(sequence(lit(0), (col("__n_seg") - 1).cast("int")),
          i => struct(i.cast("long").as("seg_no"),
            array_join(slice(col("__toks"), i * segTokens + 1, lit(segTokens)), " ")
              .as("seg")))).as("s"))
      .select(col(idCol), col("s.seg_no").as("seg_no"),
        col("s.seg").as("seg"))
      .cache()
    val hot = segs.select(xxhash64(col("seg")).as("xh"), col(idCol)).distinct()
      .groupBy(col("xh")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select(col("xh"))
    val keptAgg = segs.join(hot, xxhash64(col("seg")) === col("xh"), "left_anti")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("seg_no"), col("seg")))).as("ss"))
      .select(col(idCol),
        array_join(transform(col("ss"), s => s.getField("seg")), " ")
          .as("__clean"),
        size(col("ss")).cast("long").as("__n_kept"))
    base.select(col(idCol), col("__n_seg"))
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        col("__n_seg").as("n_segments"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        (col("__n_seg") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }

  /** 2^59 — modulus for the double-hashing family below; keeps
    * h1 + 11·(h2 mod M) well inside the positive long range. */
  private val HashMod = 576460752303423488L

  /** MinHash signature: numHashes min values over the shingle set.
    * Hash family via Kirsch–Mitzenmacher double hashing from ONE md5 per
    * shingle: h1/h2 = two 60-bit md5 halves, hashᵢ = h1 + i·(h2 mod 2^59)
    * (portable: the oracle replays the same formula).
    *
    * Computed by the fused single-pass [[graft.functions.MinHashSig]]
    * expression — zero shuffles, one JIT-compiled scan per document.
    * [[minhashSignatureAgg]] is the inverted-index formulation kept as
    * the verification baseline; MinHashSpec asserts signature equality
    * of the two forms on the corpus and edge cases. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       k: Int, numHashes: Int): DataFrame = {
    val sig = graft.functions.TextExpressions
      .minhashSig(col(textCol), k, numHashes)
    val fields = (0 until numHashes).map(i =>
      element_at(col("__sig"), i + 1).as(s"h$i"))
    Spread.scaleOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), sig.as("__sig"))
      .select(col(idCol) +: fields: _*)
  }

  /** The original inverted-index formulation of [[minhashSignature]]:
    * a corpus-wide posting shuffle + per-doc min aggregation for a
    * per-row value. Kept ONLY as the independently-derived baseline
    * the fused expression is verified against (MinHashSpec); not used
    * by any query. */
  def minhashSignatureAgg(df: DataFrame, idCol: String, textCol: String,
                          k: Int, numHashes: Int): DataFrame = {
    // h1 < 2^60 and i·(h2 mod 2^59) must stay inside a signed long:
    // 2^60 + 14·2^59 < 2^63 holds, 15 would not — enforce, don't assume
    // (Spark wraps silently; the DuckDB oracle raises on overflow).
    require(numHashes <= 14,
      s"numHashes=$numHashes would overflow the 64-bit double-hash family (max 14)")
    // Built on the (cached, shared with ngramJaccard) inverted index:
    // hash each DISTINCT shingle once (|vocabulary| md5s, not one per
    // posting — see the invertedIndex doc for the measured difference),
    // then fan the hash out over the posting list in-row.
    val hashed = invertedIndex(df, idCol, textCol, k)
      .withColumn("md", md5(col("s").cast("binary")))
      .withColumn("h1", conv(substring(col("md"), 1, 15), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("md"), 17, 15), 16, 10).cast("long") % HashMod)
      .select(explode(col("docs")).as(idCol), col("h1"), col("h2"))
    val aggs = (0 until numHashes)
      .map(i => min(col("h1") + lit(i.toLong) * col("h2")).as(s"h$i"))
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH candidate pairs: signatures banded `bands` ×
    * `rowsPerBand`; docs sharing any band key are candidates.
    * Returns distinct (id1, id2), id1 < id2.
    *
    * Pairs are generated by grouping ids per (band, key) and expanding
    * in-bucket combinations with array expressions — ONE scan of the
    * signature, no self-join (a self-join would race both sides into
    * the uncached signature plan and compute it twice). */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           k: Int, bands: Int, rowsPerBand: Int): DataFrame =
    pairsFromBuckets(lshBuckets(df, idCol, textCol, k, bands, rowsPerBand),
      idCol, Seq("band", "key"))

  /** Ordered-pair expansion of a sorted id-array column: the fused
    * [[graft.functions.PairArray]] loop for long ids (the corpus
    * operators' only id type — three interpreted lambda layers
    * collapse into one JIT-compiled pass), the composable
    * transform/slice chain for anything else. Both produce identical
    * `array<struct<id1, id2>>` in identical order (PairExpressionsSpec
    * asserts equality). */
  private[graft] def expandPairs(df: DataFrame, arrCol: String): Column =
    df.schema(arrCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) =>
        graft.functions.PairExpressions.pairArray(col(arrCol))
      case _ =>
        flatten(transform(col(arrCol), (x, i) =>
          transform(slice(col(arrCol), i + lit(2), size(col(arrCol))),
            y => struct(x.as("id1"), y.as("id2")))))
    }

  /** Distinct ordered pairs (id1 < id2) of ids sharing a bucket, via
    * collect_list + in-row combination expansion (single pass). */
  private[graft] def pairsFromBuckets(buckets: DataFrame, idCol: String,
                                      bucketCols: Seq[String]): DataFrame = {
    val ids = sort_array(collect_list(col(idCol)))
    val grouped = buckets.groupBy(bucketCols.map(col): _*)
      .agg(ids.as("ids"))
      .where(size(col("ids")) > 1)
    grouped
      .select(explode(expandPairs(grouped, "ids")).as("p"))
      .select(col("p.id1"), col("p.id2")).distinct()
  }

  /** Incremental exact dedup: the delta rows whose content fingerprint
    * does not already exist in the corpus, plus in-delta dedup (first
    * id per new fingerprint wins). This is the shape a continuously
    * ingested training corpus needs — the corpus side reduces to ONE
    * distinct-fingerprint set (a shuffle of |corpus| hashes, amortized
    * by storing fingerprints precomputed), never all pairs.
    *
    * Anti-join + per-fingerprint min keep everything hash-partitioned
    * on the fingerprint — one co-partitioned exchange each side. */
  def incrementalExact(corpus: DataFrame, delta: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val fp = md5(col(textCol).cast("binary"))
    val known = corpus.select(fp.as("h")).distinct()
    delta.select(col(idCol), fp.as("h"))
      .join(known, Seq("h"), "left_anti")
      .groupBy(col("h")).agg(min(col(idCol)).as("keep_id"))
  }

  /** Incremental MinHash-LSH candidates: near-dup candidate pairs of a
    * delta against corpus ∪ delta, WITHOUT re-pairing the corpus
    * against itself. Signatures are banded exactly like
    * [[minhashLshCandidates]]; a candidate pair must involve ≥ 1 delta
    * doc (delta×corpus or delta×delta — corpus×corpus pairs were
    * already known when the corpus was built). Returns distinct
    * (id1, id2) with id1 < id2 — the same ordered-pair convention as
    * [[minhashLshCandidates]], so outputs of full and incremental runs
    * union/deduplicate cleanly.
    *
    * Scale shape: the corpus side of the bucket join carries only
    * (band, key, id) — at 100 TB the banded keys of the existing corpus
    * are exactly what an incremental pipeline would persist. */
  def incrementalLshCandidates(corpus: DataFrame, delta: DataFrame,
                               idCol: String, textCol: String,
                               k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val d = lshBuckets(delta, idCol, textCol, k, bands, rowsPerBand)
    val c = lshBuckets(corpus, idCol, textCol, k, bands, rowsPerBand)
    incrementalFromBuckets(c, d, idCol)
  }

  /** [[incrementalLshCandidates]] when corpus and delta live in ONE
    * table with a membership flag — the usual physical layout. MinHash
    * signatures are per-document (independent of the rest of the
    * corpus), so they are computed in a single pass over the whole
    * table: one inverted index, shared via the cache with every other
    * shingle operator on the same input, instead of one per slice. */
  def incrementalLshCandidatesFlagged(docs: DataFrame, isDelta: Column,
                                      idCol: String, textCol: String,
                                      k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val flags = docs.select(col(idCol), isDelta.as("__is_delta"))
    // cached: both slices below filter this one frame — uncached, the
    // signature aggregation + banding would run once per slice
    val b = lshBuckets(docs, idCol, textCol, k, bands, rowsPerBand)
      .join(flags, idCol)
      .cache()
    incrementalFromBuckets(
      b.where(!col("__is_delta")).drop("__is_delta"),
      b.where(col("__is_delta")).drop("__is_delta"), idCol)
  }

  /** Banded (band, key) bucket memberships of each document. Per-row
    * (fused signature scan + in-row banding, no shuffle), so it runs
    * unchanged on a STREAMING frame — [[graft.streaming.Streams
    * .lshDedupStream]] builds its delta side with it. */
  private[graft] def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                                k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, k, bands * rowsPerBand)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", parts: _*).cast("binary")).as("key"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  private def incrementalFromBuckets(c: DataFrame, dRaw: DataFrame,
                                     idCol: String): DataFrame = {
    // cached: the delta buckets feed both the cross join and the
    // in-delta pair expansion — uncached, the whole signature pipeline
    // would run once per consumer (the trap documented at
    // minhashLshCandidates and simhashPairsBanded)
    val d = dRaw.cache()
    // id1 < id2 like every other pair producer (a corpus id is not
    // necessarily smaller than a delta id)
    val crossPairs = c.select(col(idCol).as("a"), col("band"), col("key"))
      .join(d.select(col(idCol).as("b"), col("band"), col("key")),
        Seq("band", "key"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"))
      .distinct()
    val deltaPairs = pairsFromBuckets(d, idCol, Seq("band", "key"))
    // no final distinct: a cross pair holds exactly one corpus doc, a
    // delta pair none — the branches are disjoint and each already
    // deduplicated
    crossPairs.unionByName(deltaPairs)
  }

  /** SimHash signature over distinct whitespace tokens: `bits`-wide
    * (default 16). Token hash = md5 hex prefix (8 chars / 32 bits for
    * bits ≤ 32, 15 chars / 60 bits above — the widest prefix that fits
    * a signed long, same trick as the MinHash family); signature bit j
    * set iff Σ_tokens (bit j set ? +1 : −1) > 0.
    *
    * Computed by the fused single-pass [[graft.functions.SimhashText]]
    * expression — zero shuffles, one JIT-compiled pass per document.
    * [[simhashAgg]] is the composable two-shuffle formulation kept as
    * the verification baseline; SimhashSpec asserts bit-equality of the
    * two forms on the documents corpus and edge-case fixtures. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame =
    df.select(col(idCol),
        graft.functions.SimhashExpr.simhashText(col(textCol), bits).as("simhash"))
      .where(col("simhash").isNotNull)

  /** The original explode → distinct → weight-sum aggregation form of
    * [[simhash]]: two corpus-wide shuffles of every token to compute a
    * per-row value. Kept ONLY as the independently-derived baseline the
    * fused expression is verified against (SimhashSpec); not used by
    * any query. */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String,
                 bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60, s"bits=$bits outside [1, 60]")
    val hexLen = if (bits <= 32) 8 else 15
    val toks = df
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
      .distinct()
      .withColumn("h", conv(substring(md5(col("tok").cast("binary")), 1, hexLen), 16, 10)
        .cast("long"))
    val weightAggs = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"w$j")
    }
    val weights = toks.groupBy(col(idCol)).agg(weightAggs.head, weightAggs.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"w$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    weights.select(col(idCol), sig.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxDist.
    * All-pairs formulation — the EXACT BASELINE that verifies
    * [[simhashPairsBanded]], kept deliberately; the banded form is the
    * default and the one that survives corpus scale. */
  def simhashPairs(sig: DataFrame, idCol: String, maxDist: Int): DataFrame = {
    val a = sig.select(col(idCol).as("id1"), col("simhash").as("s1"))
    val b = sig.select(col(idCol).as("id2"), col("simhash").as("s2"))
    a.crossJoin(b).where(col("id1") < col("id2"))
      .withColumn("dist", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .where(col("dist") <= maxDist)
      .select("id1", "id2", "dist")
  }

  /** [[simhashPairs]] without the n² crossJoin, SAME results: split the
    * `bits`-wide signature into `maxDist+1` disjoint bands — by the
    * pigeonhole principle two signatures within Hamming distance
    * `maxDist` agree EXACTLY on at least one band — bucket-join on
    * (band, band bits), verify the true distance in-bucket, and
    * deduplicate pairs that collide in several bands. Exact semantics
    * (not approximate), so the DuckDB all-pairs oracle replays it
    * verbatim (q50); the quadratic term drops from n² to Σ bucket²
    * per band. Pair expansion happens in-row per bucket (single scan,
    * no self-join — the same shape as [[pairsFromBuckets]], carrying
    * the signature through so the distance check needs no re-join. */
  def simhashPairsBanded(sig: DataFrame, idCol: String, maxDist: Int,
                         bits: Int = 16): DataFrame = {
    val bands = maxDist + 1
    val w = (bits + bands - 1) / bands
    // Collapse to DISTINCT signatures first: template-heavy corpora
    // carry many identical token sets (identical signatures at any
    // width), and banding doc-level rows would re-expand every such
    // cluster once per band only for the final distinct to undo it.
    // Distance-0 pairs are emitted straight from the cluster; banding
    // runs at signature level, pairs are deduplicated at signature
    // level (small), and doc ids fan back out in-row at the very end.
    // cached: `within` and the banded branch both read `groups`; without
    // the cache the whole upstream signature pipeline (token explode +
    // distinct + bit-weight aggregation) would run twice — same
    // cache-miss-race lesson as the inverted index above
    val groups = sig.groupBy(col("simhash"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .cache()
    val within = groups.where(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        lit(0).as("dist"))
    val bandCols = (0 until bands).map { b =>
      val width = math.min(w, bits - b * w)
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * w)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))
    }
    val sigPairs = groups
      .select(col("simhash"), col("ids"), explode(array(bandCols: _*)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(struct(col("simhash"), col("ids")))).as("ms"))
      .where(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.getField("simhash").as("s1"), x.getField("ids").as("ids1"),
            y.getField("simhash").as("s2"), y.getField("ids").as("ids2"),
            bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash")))
              .as("dist")))))).as("p"))
      .select(col("p.*"))
      .where(col("dist") <= maxDist) // dist >= 1 here: signatures differ
      .distinct() // signature-level dedup (multi-band collisions) — small
    val cross = sigPairs
      .select(explode(flatten(transform(col("ids1"), x =>
        transform(col("ids2"), y => struct(least(x, y).as("id1"),
          greatest(x, y).as("id2")))))).as("p"), col("dist"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"), col("dist"))
    within.unionByName(cross)
  }

  /** Content-defined chunking (rsync/LBFS-style): a chunk boundary
    * falls after position i whenever the hash of the `window`-gram
    * ending at i is ≡ 0 (mod `modulus`) — so boundaries are anchored
    * to CONTENT, not offsets, and an insertion early in a document
    * shifts only the chunk it lands in, leaving every later chunk's
    * hash identical (offset-based fixed chunking would shift them
    * all). Chunk-level md5s then make cross-document byte-range dedup
    * an exact groupBy — the byte-level analog of shingle dedup, and
    * the standard primitive for dedup of crawl snapshots where pages
    * drift a few bytes between fetches.
    *
    * Expected chunk length ≈ `modulus` bytes. Everything is in-row
    * (positions via `sequence` + `filter`, gram hashes md5-based like
    * every signature in this file): zero shuffles, zero joins — the
    * scan parallelizes embarrassingly and replays exactly in SQL.
    * Output: one row per chunk (id, chunk_idx, start, chunk_len,
    * chunk_md5); documents shorter than `window` yield one whole-doc
    * chunk. */
  /** In-row chunk-boundary positions for [[cdcChunks]]: ascending end
    * positions of every chunk (the last element is always the text
    * length). Shared by the batch operator and the streaming novelty
    * twin so both cut identical chunks. Fused single-pass expression
    * ([[graft.functions.CdcBoundaries]]); the composable form below is
    * the independently-derived twin it is spec-verified against. */
  private[graft] def chunkBoundsCol(text: Column, window: Int,
                                    modulus: Int): Column =
    graft.functions.TextExpressions.cdcBoundaries(text, window, modulus)

  /** The `sequence`/`filter` composable formulation of
    * [[chunkBoundsCol]] — interpreted per position (higher-order
    * lambdas are CodegenFallback); the fused expression nearly halved
    * q173 end-to-end at sf0.1. Kept ONLY as the verification twin
    * (TextExpressionsSpec asserts bit-parity over the corpus). */
  private[graft] def chunkBoundsColComposable(text: Column, window: Int,
                                              modulus: Int): Column = {
    val n = length(text)
    val positions = when(n >= window,
      filter(sequence(lit(window), n), i =>
        conv(substring(md5(text.substr(i - lit(window - 1),
          lit(window)).cast("binary")), 1, 15), 16, 10).cast("long")
          % modulus === 0)).otherwise(array())
    array_distinct(concat(positions, array(n)))
  }

  /** The chunk substrings cut by a [[chunkBoundsCol]] array — in-row,
    * order-preserving. `boundsCol` must reference a materialized
    * column (not re-derive), so each bound is computed once. */
  private[graft] def chunkTextsCol(text: Column, boundsCol: Column): Column =
    transform(boundsCol, (b, i) => text.substr(
      when(i === 0, lit(1)).otherwise(element_at(boundsCol, i) + 1),
      b - when(i === 0, lit(0)).otherwise(element_at(boundsCol, i))))

  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                window: Int = 8, modulus: Int = 64): DataFrame = {
    require(window >= 1, s"window=$window must be positive")
    require(modulus >= 2, s"modulus=$modulus must be >= 2")
    val n = length(col(textCol))
    val bounds = chunkBoundsCol(col(textCol), window, modulus)
    Spread.scaleOut(df.where(n > 0).select(col(idCol), col(textCol)))
      .select(col(idCol), col(textCol).as("__text"), bounds.as("__bounds"))
      .select(col(idCol),
        explode(transform(col("__bounds"), (b, i) =>
          struct(i.cast("int").as("chunk_idx"),
            (when(i === 0, lit(1))
              .otherwise(element_at(col("__bounds"), i) + 1))
              .cast("int").as("start"),
            b.cast("int").as("end")))).as("c"),
        col("__text"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        col("c.start").as("start"),
        (col("c.end") - col("c.start") + 1).as("chunk_len"),
        md5(col("__text").substr(col("c.start"),
          col("c.end") - col("c.start") + 1).cast("binary")).as("chunk_md5"))
  }

  /** Byte-range containment of new documents against a reference
    * corpus, at [[cdcChunks]] granularity: for each batch document,
    * what fraction of its content-defined chunks already exist (by
    * md5) anywhere in the corpus. This is the incremental-crawl dedup
    * decision ("mostly chunks we have → near-refetch, drop or delta-
    * store it") at byte level, complementing token-level containment
    * (q88). Both inputs are (id, chunk_md5) chunk tables from
    * [[cdcChunks]]. One distinct on the corpus side, one hash join on
    * the chunk hash, one per-doc aggregation — no quadratic term; at
    * warehouse scale the distinct corpus chunk set is exactly the
    * "chunk store" a dedup service maintains incrementally. */
  def chunkContainment(batchChunks: DataFrame, corpusChunks: DataFrame,
                       idCol: String): DataFrame = {
    val seen = corpusChunks.select(col("chunk_md5")).distinct()
      .withColumn("__seen", lit(1L))
    batchChunks.select(col(idCol), col("chunk_md5"))
      .join(seen, Seq("chunk_md5"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .withColumn("containment",
        round(col("n_seen").cast("double") / col("n_chunks"), 6))
  }

  /** [[chunkContainment]] when batch and corpus are SPLITS OF ONE
    * TABLE (a predicate over the id, as in q174's doc_id % 10 split):
    * chunks derive in ONE pass instead of two, then a single shuffle
    * on the chunk hash groups each hash's corpus presence with its
    * batch occurrences (collect_list keeps instance multiplicity), and
    * the per-doc rollup reads the exploded occurrences. Output and
    * semantics identical to the two-input form (spec-asserted); the
    * per-hash occurrence list is bounded by the corpus's duplication
    * structure, the same bound the join form's probe-side fan-out has. */
  def chunkContainmentSplit(docs: DataFrame, idCol: String, textCol: String,
                            isBatch: Column, window: Int = 8,
                            modulus: Int = 64): DataFrame = {
    val per = cdcChunks(docs, idCol, textCol, window, modulus)
      .withColumn("__b", isBatch)
      .groupBy(col("chunk_md5"))
      .agg(max(when(!col("__b"), 1L).otherwise(0L)).as("__corp"),
        collect_list(when(col("__b"), col(idCol))).as("__ids"))
      .where(size(col("__ids")) > 0)
    per.select(explode(col("__ids")).as(idCol), col("__corp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"), sum(col("__corp")).as("n_seen"))
      .withColumn("containment",
        round(col("n_seen").cast("double") / col("n_chunks"), 6))
  }

  /** The chunk store as a sorted xxhash64 array — the broadcastable
    * static side for the STREAMING novelty twin
    * ([[graft.streaming.Streams.chunkNoveltyStream]]): distinct 64-bit
    * hashes of every content-defined chunk in the corpus, probed
    * in-row with a codegen'd binary search. Collected to the driver —
    * same contract as [[hotSegmentHashes]] (the store is the compact
    * derived artifact a periodic batch job rebuilds; its size is the
    * corpus's DISTINCT chunk count, already the working set any chunk
    * dedup service must hold). */
  def chunkStoreHashes(corpus: DataFrame, idCol: String, textCol: String,
                       window: Int = 8, modulus: Int = 64): Array[Long] = {
    val bounds = chunkBoundsCol(col(textCol), window, modulus)
    corpus.where(length(col(textCol)) > 0)
      .select(col(textCol).as("__t"), bounds.as("__b"))
      .select(explode(chunkTextsCol(col("__t"), col("__b"))).as("__c"))
      .select(xxhash64(col("__c")).as("h"))
      .distinct()
      .orderBy("h")
      .collect().map(_.getLong(0))
  }

  /** Over-merge audit for near-dup clusters (q313's operator form) —
    * transitive closure's known failure mode, measured: connected
    * components accept a doc pair into one cluster whenever a CHAIN of
    * ≥ threshold links connects them, so the weakest internal pair can
    * sit far below the threshold. Per multi-doc cluster: the minimum
    * pairwise rare-shingle Jaccard over member pairs (floor micro;
    * pairs sharing no shingle score 0), the count of pairs below the
    * link threshold, and the `over_merged` flag.
    *
    * Structural bound: the audit's own TARGET input is the over-merged
    * mega-cluster — exactly the shape that makes naive within-cluster
    * all-pairs quadratic — so membership is capped to the `memberCap`
    * LOWEST ids per cluster before pairing. The cap is a bounded
    * bottom-k AGGREGATE ([[graft.functions.BottomKByKey]]): map-side
    * partials hold ≤ memberCap ids per cluster, so no task ever sorts a
    * whole cluster (a row_number window would put the entire
    * mega-cluster in one sort task). Pairs per cluster ≤ cap·(cap−1)/2
    * regardless of cluster size, and min-Jaccard over the cap earliest
    * members still witnesses over-merge — a chained cluster's weak
    * links are everywhere, not in the tail of the id order
    * (ClusterAuditSpec proves both properties on a generated
    * mega-cluster; SCALING.md's round-10 "mega-cluster + hot shingle"
    * entry measures capped vs uncapped).
    *
    * `idCol` must be integral (the bottom-k key is a long). */
  def clusterOverMergeAudit(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, maxDf: Int, threshold: Double,
                            memberCap: Int = 64,
                            linkFloorMicro: Long = 300000L): DataFrame = {
    val clusters = Graph.dedupClusters(docs, idCol,
      ngramJaccard(docs, idCol, textCol, k, maxDf, threshold), "id1", "id2")
    val memb = clusters.select(col(idCol), col("cluster"))
    val multi = memb.groupBy("cluster").agg(count(lit(1)).as("csz"))
      .where(col("csz") >= 2).select("cluster")
    // Rare-shingle sets come from the SAME cached hashed inverted index
    // ngramJaccard just built (plan-equal call = one materialization):
    // no second corpus scan, and the pair intersections compare 8-byte
    // longs instead of UTF8 strings. Set sizes and intersections equal
    // the STRING form (which the q313 oracle computes) exactly iff the
    // corpus has zero 64-bit shingle-hash collisions —
    // [[shingleHashCollisions]] is the per-corpus certificate
    // (ClusterAuditSpec certifies the testdata; expected collisions at
    // a billion distinct shingles ≈ 0.03).
    val kept = invertedIndexHashed(docs, idCol, textCol, k)
      .where(size(col("docs")) <= maxDf)
    val sets = kept.select(col("xh"), explode(col("docs")).as(idCol))
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("xh"))).as("ss"))
    val capped = memb.join(broadcast(multi), "cluster")
      .groupBy("cluster")
      .agg(graft.functions.TopKAggregate
        .bottomkByKey(col(idCol), lit(0.0), memberCap).as("keep"))
      .select(col("cluster"), explode(col("keep.h")).as(idCol))
    val m = capped
      .join(sets, Seq(idCol), "left")
      .select(col("cluster"), col(idCol),
        coalesce(col("ss"), expr("CAST(array() AS ARRAY<BIGINT>)"))
          .as("ss"))
    val a = m.toDF("cluster", "id1", "sa")
    val b = m.toDF("cluster", "id2", "sb")
    val pj = a.join(b, Seq("cluster"))
      .where(col("id1") < col("id2"))
      // ss arrays are sort_array'd ascending — fused two-pointer count
      // instead of array_intersect's hash-set build per pair
      .withColumn("c", graft.functions.PairExpressions
        .sortedIntersectCount(col("sa"), col("sb")))
      .withColumn("j_micro", when(col("c") === 0, 0L)
        .otherwise(expr(
          "(c * 1000000) DIV (size(sa) + size(sb) - c)")))
    pj.groupBy("cluster").agg(
      count(lit(1)).as("n_pairs"),
      min("j_micro").as("min_jaccard_micro"),
      sum(when(col("j_micro") < linkFloorMicro, 1L).otherwise(0L))
        .as("weak_pairs"),
      max(when(col("j_micro") < linkFloorMicro, 1L).otherwise(0L))
        .as("over_merged"))
  }
}
