package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - `cosineTopK`: exact brute force — O(n²) pairs but each pair is one
  *    codegen'd array fold (O(d)), no per-dimension row explosion. The
  *    baseline and the verifier for the approximate path.
  *  - `lshTopK`: random-hyperplane LSH — deterministic md5-derived ±1
  *    planes, `planes`-bit bucket key, candidates only within a bucket
  *    (plus optional multi-probe by flipping one bit). This is the path
  *    that survives 100 TB: the all-pairs term drops to Σ bucket².
  *
  * All arithmetic is double (floats upcast first) and folds run in
  * index order, so results are reproducible run-to-run and across
  * engines for the oracle.
  */
object Similarity {

  /** Dot product of two array<double> columns: native codegen'd
    * expression ([[graft.functions.VectorExpressions.dotNative]]) —
    * strict left-to-right summation, bit-identical to the equivalent
    * `aggregate(zip_with(...))` fold but with no per-row allocation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Pairwise cosine over all ordered pairs (a ≠ b), with per-vector norms
    * precomputed once (not per pair). */
  def cosineAllPairs(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // cached: norms are computed once per vector, not once per side
    val v = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v"))).cache()
    val a = v.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).where(col("id_a") =!= col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select("id_a", "id_b", "cosine")
  }

  /** Exact top-k neighbours per vector by cosine, deterministic tiebreak
    * on neighbour id. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    rankTopK(cosineAllPairs(emb, idCol, vecCol), k)

  /** Retrieval: exact top-k corpus neighbours for each QUERY vector —
    * the cross-table shape (a small query batch against a large
    * corpus), distinct from the self-join kNN of [[cosineTopK]].
    * Output is (id_a = query id, id_b = corpus id, sim, rnk).
    *
    * Scale shape: the query side broadcasts (query batches are small
    * by nature — this is the one place a broadcast nested loop is the
    * RIGHT plan), the corpus streams through ONE scan with no shuffle
    * of corpus rows, and the bounded [[graft.functions.TopKAggregate]]
    * reduces map-side so the only exchange carries |queries|·k rows.
    * Nothing here is per-corpus-size state: the same plan runs when
    * the corpus is 100 TB. */
  def retrieveTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id_b"), asDouble(col(vecCol)).as("vb"))
      .withColumn("nb", norm(col("vb")))
    val q = queries.select(col(idCol).as("id_a"), asDouble(col(vecCol)).as("va"))
      .withColumn("na", norm(col("va")))
    val pairs = c.crossJoin(broadcast(q))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select("id_a", "id_b", "cosine")
    rankTopK(pairs, k)
  }

  /** Hard-negative mining for contrastive/metric training: for each
    * anchor vector, the single highest-cosine corpus neighbour carrying
    * a DIFFERENT label — similar enough to confuse, labelled apart,
    * exactly the pair a contrastive loss learns most from. Anchors are
    * a separate frame because mining runs per training batch, not per
    * corpus (the [[retrieveTopK]] shape, plus the label residual).
    * Output: (id_a, label_a, id_b, label_b, sim), one row per anchor
    * that has any differently-labelled neighbour.
    *
    * Scale shape: the anchor batch broadcasts; the corpus streams
    * through one scan (no corpus shuffle) into the bounded
    * [[graft.functions.TopKAggregate]] reduction, so the only exchange
    * carries |anchors| rows. At corpus scale the candidate stream swaps
    * for an ANN prefilter ([[Ivf.probeTopK]] cells / [[lshTopK]]
    * buckets) with the same different-label residual; this brute force
    * stays as their recall oracle. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("id_b"), asDouble(col(vecCol)).as("vb"),
        col(labelCol).as("label_b"))
      .withColumn("nb", norm(col("vb")))
    val a = anchors.select(col(idCol).as("id_a"), asDouble(col(vecCol)).as("va"),
        col(labelCol).as("label_a"))
      .withColumn("na", norm(col("va")))
    val top = c.crossJoin(broadcast(a))
      .where(col("label_a") =!= col("label_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .groupBy(col("id_a"), col("label_a"))
      .agg(graft.functions.TopKAggregate
        .topkByScore(col("cosine"), col("id_b"), 1).as("nn"))
      .select(col("id_a"), col("label_a"), explode(col("nn")).as("e"))
      .select(col("id_a"), col("label_a"), col("e.id").as("id_b"),
        round(col("e.score"), 6).as("sim"))
    // label_b rides back in by id (k·|anchors| rows joining a
    // broadcast-or-hash of corpus ids — never pair-sized)
    top.join(c.select(col("id_b"), col("label_b")), "id_b")
      .select("id_a", "label_a", "id_b", "label_b", "sim")
  }

  /** Best-k neighbours per id_a from (id_a, id_b, cosine) via the
    * bounded [[graft.functions.TopKAggregate]] — map-side partial top-k
    * means the shuffle carries n·k rows, not all pairs (a row_number
    * window would sort every candidate). Ordering matches the window
    * formulation exactly: cosine DESC, id_b ASC. Public: the ranking
    * tail for any candidate source — the batch operators here, or a
    * `foreachBatch` over [[graft.streaming.Streams.retrieveStream]]'s
    * scored candidates. */
  def rankTopK(pairs: DataFrame, k: Int,
               distinctIds: Boolean = false): DataFrame =
    pairs
      .groupBy(col("id_a"))
      .agg((if (distinctIds)
          graft.functions.TopKAggregate.topkByScoreDistinct(col("cosine"), col("id_b"), k)
        else
          graft.functions.TopKAggregate.topkByScore(col("cosine"), col("id_b"), k)).as("nn"))
      .select(col("id_a"), posexplode(col("nn")).as(Seq("i", "e")))
      .select(col("id_a"), col("e.id").as("id_b"),
        round(col("e.score"), 6).as("sim"),
        (col("i") + 1).cast("int").as("rnk"))

  /** Exact top-k by BLOCK nested loop — same result as [[cosineTopK]]
    * row-for-row (same strict fold order, same (cosine DESC, id ASC)
    * selection; they share one oracle), but the n² pair enumeration runs
    * as blocks² dense kernels over primitive arrays
    * ([[graft.functions.BlockTopK]]) instead of n² per-row expression
    * evaluations.
    *
    * Scale shape: vectors are hash-assigned to `blocks` groups (one
    * shuffle of n rows), block pairs enumerate via a blocks² cross join
    * of SMALL sides (each row = one packed block), and each kernel emits
    * ≤ |block|·k candidates — the merge shuffle carries n·k·blocks rows
    * after map-side partial top-k, never n². Neither side needs to fit
    * in memory, unlike a broadcast formulation: blocks pair up one at a
    * time, so this is the exact-search plan that still runs when the
    * corpus is 100 TB (the work is still O(n²·d) — that is what "exact"
    * costs; the point is the constant factor and that nothing OOMs).
    * Block count should grow ~ n/4096 so kernels stay cache-resident. */
  def cosineTopKBlocked(emb: DataFrame, idCol: String, vecCol: String,
                        k: Int, blocks: Int = 32): DataFrame = {
    // cached: both sides of the block-pair cross join read the packed
    // blocks — uncached, the pack aggregation would run twice. The
    // cache lives until the session releases it (Bench/Verify call
    // spark.catalog.clearCache() per query); a long-lived session
    // embedding this operator should do the same after the action.
    val packed = emb
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .groupBy(pmod(xxhash64(col("id")), lit(blocks.toLong)).as("blk"))
      .agg(collect_list(struct(col("id"), col("v"))).as("rows"))
      .cache()
    val pairs = packed.select(col("rows").as("ra"))
      .crossJoin(packed.select(col("rows").as("rb")))
      .select(explode(graft.functions.VectorExpressions
        .blockTopKNative(col("ra"), col("rb"), k)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cosine").as("cosine"))
    rankTopK(pairs, k)
  }

  /** L2-normalize + symmetric int8 quantization, exploded to one row
    * per (vector, dimension): q = ⌊x/‖v‖·127 + 0.5⌋ (zero vectors map
    * to all-zero codes). The storage/compute shape every large ANN
    * index ships — 4× smaller than float32, dot products in integer
    * SIMD — expressed as pure codegen'd per-row arithmetic: norm is one
    * strict fold ([[dot]]), quantization one posexplode + floor, no
    * shuffle at all. Every step (fold order, sqrt, IEEE divide/multiply,
    * floor) is exact-rounded and order-fixed, so the DuckDB oracle
    * replays the codes bit-for-bit (q60). */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col(idCol), col("nrm"), posexplode(col("v")).as(Seq("i", "x")))
      .select(col(idCol), col("i"),
        when(col("nrm") === 0, 0)
          .otherwise(floor(col("x") / col("nrm") * 127.0 + 0.5).cast("int"))
          .as("q"))

  /** [[cosineNearDup]] without the row-level n² crossJoin, SAME
    * results: vectors pack into hash blocks, block pairs enumerate via
    * a blocks² cross join of one-row-per-block sides, and the
    * [[graft.functions.BlockNearDup]] kernel emits each qualifying
    * unordered pair exactly once (the id_a < id_b filter picks one of
    * the two symmetric block pairs) — no distinct, no row handoffs per
    * pair, bounded memory at any corpus size. Bit-identical to
    * [[cosineNearDup]] (same strict folds, same rounding);
    * DedupSimilaritySpec asserts row-for-row equality. */
  def cosineNearDupBlocked(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, blocks: Int = 32): DataFrame = {
    // cached: both sides of the block-pair cross join read the packed
    // blocks (see cosineTopKBlocked — Bench/Verify clear per query)
    val packed = emb
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .groupBy(pmod(xxhash64(col("id")), lit(blocks.toLong)).as("blk"))
      .agg(collect_list(struct(col("id"), col("v"))).as("rows"))
      .cache()
    packed.select(col("rows").as("ra"))
      .crossJoin(packed.select(col("rows").as("rb")))
      .select(explode(graft.functions.VectorExpressions
        .blockNearDupNative(col("ra"), col("rb"), threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        round(col("p.cosine"), 6).as("sim"))
  }

  /** Greedy k-center selection (Gonzalez 2-approximation) — the
    * classic diversity-maximizing coreset picker: start from the
    * minimum id, then k−1 times pick the point FARTHEST from every
    * chosen center (ties broken by id). Distances are exact integer
    * squared-L2 over the [[quantizeInt8]] codes, so every pick — and
    * therefore the whole selection — replays bit-for-bit in the
    * DuckDB oracle (q262). Cost shape: k passes over the corpus, each
    * one cached scan + a codegen'd fold against a BROADCAST-LITERAL
    * center (no join, no shuffle); the only driver traffic is one
    * (id, vector) row per round — the same count-then-dial stance as
    * the other iterative operators. */
  def kCenterGonzalez(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int): DataFrame = {
    val spark = emb.sparkSession
    val q = emb
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col("id"),
        when(col("nrm") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => floor(x / col("nrm") * 127.0 + 0.5).cast("long")))
          .as("qv"))
      .cache()
    def d2(center: Seq[Long]): Column =
      aggregate(
        zip_with(col("qv"), typedlit(center), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, x) => a + x)
    val first = q.orderBy("id").limit(1).collect()(0)
    var picks = Vector((1L, first.getLong(0), 0L))
    var cur = q.withColumn("dm", d2(first.getSeq[Long](1)))
    for (r <- 2 to k) {
      val far = cur.orderBy(col("dm").desc, col("id").asc).limit(1)
        .collect()(0)
      picks :+= ((r.toLong, far.getLong(0), far.getLong(2)))
      cur = cur.withColumn("dm",
        least(col("dm"), d2(far.getSeq[Long](1))))
    }
    import spark.implicits._
    picks.toDF("rk", "center_id", "d2_at_pick")
  }

  /** Top principal direction of the int8-quantized embedding matrix by
    * FULLY-INTEGER power iteration — v ← XᵀXv, renormalized each round
    * with integer-only arithmetic, so every iterate (and the final
    * direction) replays bit-for-bit in SQL (q264). Two integer-
    * determinism tricks:
    *  - the rescale divisor and all floor-divisions run on SHIFTED
    *    NON-NEGATIVE values (w + wmax), because floor-div of signed
    *    ints is engine-dependent (Spark DIV truncates toward zero,
    *    DuckDB // floors — the SCALING.md negative-DIV trap);
    *  - the rescale is v' = (w+wmax) div m − (wmax div m) with
    *    m = max(wmax div 10⁶, 1): affine up to ±1 rounding, which
    *    power iteration is insensitive to, and exactly reproducible.
    * A = XᵀX is PSD so iterates don't oscillate in sign. The iterate
    * after T rounds tracks an exact double-precision power iteration
    * to ~1e-12 (SelectionSequenceSpec); closeness to the CONVERGED
    * eigenvector after T rounds is a property of the spectrum's
    * eigengap, and `iters` is the user dial for it. Bounds: with
    * |v| ≤ ~2·10⁶, |u| ≤ 64·127·|v| ≤ 1.7·10¹⁰ and
    * |w| ≤ n·127·|u| ≈ 10¹⁶ at n = 5000 — inside BIGINT with two
    * orders of headroom.
    *
    * Scale shape: per round, one scan of the cached codes — u is a
    * codegen'd fold against the BROADCAST-LITERAL v (64 longs on the
    * driver, the only driver state), w a posexplode + integer
    * aggregate (map-side combine, 64 groups). T rounds = T scans,
    * the textbook distributed power iteration. */
  def pcaTopComponent(emb: DataFrame, idCol: String, vecCol: String,
                      iters: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col("id"),
        when(col("nrm") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => floor(x / col("nrm") * 127.0 + 0.5).cast("long")))
          .as("qv"))
      // full width for the T per-round scans: the embeddings table is a
      // single parquet split locally, and T serial narrow scans were
      // most of q264's wall (r12: 4.2 s cpu≈wall on ~1 core)
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val dim = 64
    // The T rounds run as ONE TYPED FOLD per round (partition-local
    // u = ⟨qv, v⟩ then acc += qv·u, exact-integer Math.*Exact so an
    // overflow raises exactly where the former ANSI sum did; addition
    // is associative/commutative in exact integers, so merge order
    // cannot perturb the result). The former expression formulation
    // rebuilt a 64-literal Catalyst plan per round — per-round PLANNING
    // AND CODEGEN, not data, dominated its serial constant (the per-
    // round scan is |corpus| rows); the closure captures v with zero
    // plan rebuilding, and the driver still holds only the 64-long
    // vector per round, the textbook distributed power iteration. */
    val codes = q.select("qv").as[Array[Long]]
    var v: Array[Long] = Array.fill(dim)(1000L)
    var wmax = 0L
    for (_ <- 1 to iters) {
      val vcap = v
      // RDD fold with a ZERO accumulator (ADVICE r13): Dataset.reduce
      // throws on an empty corpus (AQE's empty-relation propagation can
      // leave zero partitions), where the fold degrades to the zero
      // vector — the pre-r13 collect() behaviour. The per-row width
      // check turns a short vector into a clear contract error instead
      // of an ArrayIndexOutOfBounds deep in the fold.
      val warr = codes.mapPartitions { it =>
        val acc = new Array[Long](dim)
        while (it.hasNext) {
          val qv = it.next()
          require(qv.length == dim,
            s"pcaTopComponent expects $dim-dim vectors, got ${qv.length}")
          var u = 0L
          var d = 0
          while (d < dim) {
            u = Math.addExact(u, Math.multiplyExact(qv(d), vcap(d))); d += 1
          }
          d = 0
          while (d < dim) {
            acc(d) = Math.addExact(acc(d), Math.multiplyExact(qv(d), u))
            d += 1
          }
        }
        Iterator.single(acc)
      }.rdd.fold(new Array[Long](dim)) { (a, b) =>
        Array.tabulate(dim)(d => Math.addExact(a(d), b(d)))
      }
      wmax = warr.map(math.abs).max
      val m = math.max(wmax / 1000000L, 1L)
      // all operands non-negative: / is floor-div on both engines
      v = warr.map(wd => (wd + wmax) / m - wmax / m)
    }
    (v.zipWithIndex.map { case (c, d) => (d.toLong, c) }.toSeq
      :+ ((-1L, wmax))).toDF("dim", "v_comp")
  }

  /** Near-duplicate pairs: cosine ≥ threshold, id_a < id_b. */
  def cosineNearDup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): DataFrame =
    cosineAllPairs(emb, idCol, vecCol)
      .where(col("id_a") < col("id_b") && col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("sim"))

  /** Deterministic ±1 hyperplane entry for (plane j, dimension d):
    * +1 iff the first md5 hex digit of "j:d" is ≥ '8'. */
  private[graft] def planeSign(j: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$d".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
  }

  /** Approximate top-k with multi-table, multi-probe LSH.
    *
    * `tables` independent `planes`-bit hash tables, all computed by ONE
    * fused expression pass over a broadcast-free plane matrix (the
    * per-plane expression-tree formulation cost more than the brute
    * force it was supposed to beat). Each query row additionally probes
    * `multiprobe` QUERY-DIRECTED perturbations of its own bucket — the
    * buckets reached by flipping the planes with the smallest |margin|
    * (Lv et al., VLDB'07; [[graft.functions.LshProbes]]). Margin-guided
    * probing buys the recall extra tables would, at a fraction of the
    * candidate volume blind single-bit flipping needs.
    *
    * Scale shape: one explode to (id, table, bucket), one equi-join on
    * (table, bucket), then vector lookups and the bounded TopKAggregate
    * directly over the candidate MULTISET — a pair colliding in several
    * tables is deduplicated INSIDE the aggregate (`topkByScoreDistinct`:
    * sound because a pair's cosine is deterministic), which removes the
    * `distinct()` exchange an explicit dedup would cost. Every step is a
    * plain shuffle on bounded keys — the bucket join and vector lookups
    * stay broadcast-able while a side fits (AQE decides from runtime
    * sizes; nothing is hinted, so at 100 TB they degrade to shuffle
    * joins instead of OOMing the driver) — and the quadratic term is
    * Σ bucket² only.
    *
    * Parameter calibration against THIS corpus's geometry (the testdata
    * embeddings are isotropic noise — true top-5 neighbours sit at
    * cosine ≈ 0.37, per-plane agreement ≈ 0.6 — so amplification is
    * inherently weak; see the frontier scan in SCALING.md): planes=7,
    * tables=20, multiprobe=4 (100 bucket memberships per vector) reaches
    * recall 0.956 at sf0.1 / 0.917 at sf0.01 in less wall-time than the
    * exact brute force. On clustered real-world corpora the same
    * machinery prunes far harder; the parameters are the dial. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              dim: Int, planes: Int, tables: Int, k: Int,
              multiprobe: Int = -1): DataFrame = {
    val mp = math.min(if (multiprobe < 0) math.min(3, planes) else multiprobe, planes)
    // cached: the bucket side and the probe side each explode this
    // frame; no count/dial action — the bucket join below pairs one
    // packed row per (table, bucket) on each side, never a broadcast
    // of corpus vectors
    val v = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .cache()
    // BOTH sides pack into one row per (table, bucket) — candidate
    // scoring then runs as ONE [[BlockTopK]] kernel call per occupied
    // bucket (the [[cosineTopKBlocked]] shape restricted to co-bucketed
    // pairs): each side unpacks to primitive arrays once per bucket,
    // the dense loop scores every (probe, member) pair in-cache, and
    // only the per-probe-per-bucket top-k (≤ k·memberships rows, not
    // the Σ probe·bucket candidate multiset — ~20M rows at sf0.1)
    // reaches the aggregate. Per-bucket top-k merges to the exact
    // global top-k (a global winner wins every bucket containing it;
    // (cosine DESC, id ASC) is total), and cross-table duplicates
    // deduplicate inside `topkByScoreDistinct` as before — output is
    // bit-identical to the per-pair formulation.
    val blocks = v
      .select(col("id"), col("v"),
        posexplode(graft.functions.VectorExpressions
          .lshBucketsNative(col("v"), dim, planes, tables)).as(Seq("t", "b")))
      .groupBy(col("t"), col("b"))
      .agg(collect_list(struct(col("id"), col("v"))).as("rows"))
    // probe memberships group by the SAME (t, b) key: one shuffle of
    // n·tables·(mp+1) query-vector rows — the price of batching kernel
    // calls; at 100 TB this is the standard ANN-serve shuffle (queries
    // route to their buckets), and it dwarfs the alternative's per-pair
    // row traffic (Σ bucket² pairs through joins + aggregate).
    val probes = v.select(col("id").as("id_a"), col("v").as("va"),
        posexplode(graft.functions.VectorExpressions
          .lshProbesNative(col("v"), dim, planes, tables, mp)).as(Seq("pt", "b")))
      .select(col("id_a"), col("va"),
        (col("pt") / lit(mp + 1)).cast("int").as("t"), col("b"))
      .groupBy(col("t"), col("b"))
      .agg(collect_list(struct(col("id_a").as("id"), col("va").as("v")))
        .as("qrows"))
    val cand = probes.join(blocks, Seq("t", "b"))
      .select(explode(graft.functions.VectorExpressions
        .blockTopKNative(col("qrows"), col("rows"), k)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cosine").as("cosine"))
    rankTopK(cand, k, distinctIds = true)
  }

  /** [[lshTopK]] with `planes` sized from the corpus: planes =
    * ⌈log₂(n / targetOccupancy)⌉ keeps expected bucket occupancy near
    * `targetOccupancy` as n grows — the LSH analog of IVF's nlist ≈ √n
    * rule, and the reason a parameterization tuned at one scale rots at
    * another (7 planes is right at n=2000 and drowns at n=16000, where
    * 10 planes runs 5× faster than brute force; SCALING.md). Costs one
    * `count()` job up front — the same price [[Ivf.ivfTopK]] pays for
    * its KMeans fit. */
  def lshTopKAuto(emb: DataFrame, idCol: String, vecCol: String,
                  dim: Int, k: Int, tables: Int = 20, multiprobe: Int = 4,
                  targetOccupancy: Int = 16): DataFrame = {
    val n = math.max(emb.count(), 1L)
    val planes = math.max(4, math.min(24,
      math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2)).toInt))
    lshTopK(emb, idCol, vecCol, dim, planes, tables, k, multiprobe)
  }

  /** Matryoshka truncation audit: per vector and prefix length k, the
    * fraction of L2 norm retained by keeping only the first k
    * dimensions — the measurement that decides how far matryoshka-
    * style embeddings can be truncated for cheap ANN pre-passes
    * before exact rescoring on the full vector.
    *
    * Entirely IN-ROW (higher-order fold over the array, then an
    * inline explode over the k values): zero shuffles, scales
    * embarrassingly. Exactness: elements are floor-quantized to
    * micro-unit BIGINTs (q157's contract), prefix/total sums of
    * squares are integer, and the final sqrt-ratio is one
    * correctly-rounded sqrt pair and one division (round 6). Vectors
    * with zero total norm report NULL. */
  def matryoshkaRetention(emb: DataFrame, idCol: String, vecCol: String,
                          ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad prefix lengths $ks")
    val qsq = (v: Column) => aggregate(v, lit(0L),
      (acc, x) => acc +
        floor(x.cast("double") * 1000000).cast("long")
          * floor(x.cast("double") * 1000000).cast("long"))
    val kArr = array(ks.map(k => lit(k)): _*)
    emb.select(col(idCol), col(vecCol).as("__v"), qsq(col(vecCol)).as("__ssq"))
      .select(col(idCol), col("__ssq"),
        explode(transform(kArr, k =>
          struct(k.as("k"), qsq(slice(col("__v"), lit(1), k)).as("ssqk")))).as("p"))
      .select(col(idCol), col("p.k").as("k"),
        when(col("__ssq") === 0, lit(null).cast("double"))
          .otherwise(round(
            sqrt(col("p.ssqk").cast("double")) / sqrt(col("__ssq").cast("double")),
            6)).as("retained_norm"))
  }
}
