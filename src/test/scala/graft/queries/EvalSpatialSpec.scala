package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the drift/eval (q215–q217), spatial (q218/q219) and
  * scoring (q220–q224) query families that the DuckDB hash oracle
  * cannot express: set-equality of the blocked spatial join against
  * the O(n²) brute force, DBSCAN label soundness re-derived from the
  * raw pair set, greedy-coverage monotonicity, and metric range
  * checks. Runs at sf0.001. */
class EvalSpatialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("q218: grid-blocked ε-join equals the brute-force all-pairs join") {
    val blocked = run("q218_grid_eps_join")
      .select("k_a", "k_b", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: same derived coordinates, cross join, exact filter
    val brute = graft.operators.SpatialTwin.epsPairsNaive(
        graft.operators.Spatial.derivePoints(
          graft.Tables.customer(spark, sf), "c_custkey"), 18)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute,
      s"grid join missed/added pairs: ${blocked.size} vs ${brute.size}")
    assert(brute.nonEmpty, "degenerate fixture: no ε-pairs at sf0.001")
  }

  test("q219: DBSCAN labels are sound against the raw neighbor sets") {
    val labels = run("q219_dbscan_core").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val pairs = run("q218_grid_eps_join")
      .select("k_a", "k_b").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0)))
    val nbrs = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((k, (n, label)) <- labels) {
      val actual = nbrs.getOrElse(k, Set.empty)
      assert(actual.size == n, s"$k neighbor count $n != ${actual.size}")
      val isCore = actual.size >= 4
      val nearCore =
        actual.exists(o => nbrs.getOrElse(o, Set.empty).size >= 4)
      val expected =
        if (isCore) "core" else if (nearCore) "border" else "noise"
      assert(label == expected, s"$k labelled $label, expected $expected")
    }
  }

  test("q217: RBO and overlap are in range and consistent") {
    val r = run("q217_rank_biased_overlap").collect()(0)
    val (k, overlap, rbo) = (r.getLong(0), r.getLong(1), r.getDouble(3))
    assert(k == 50 && overlap >= 0 && overlap <= 50)
    assert(rbo >= 0.0 && rbo <= 1.0, s"rbo out of range: $rbo")
  }

  test("q216: ndcg within (0, 1]; P@10 within [0, 1]") {
    val rows = run("q216_retrieval_eval").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val ndcg = r.getDouble(1)
      assert(ndcg > 0 && ndcg <= 1.0 + 1e-9, s"ndcg $ndcg")
      val p10 = r.getDouble(3)
      assert(p10 >= 0 && p10 <= 1)
    }
  }

  test("q222: greedy coverage is monotone with non-increasing gains") {
    val rows = run("q222_coverage_greedy").orderBy("pick").collect()
    assert(rows.length == 5)
    val gains = rows.map(_.getLong(2))
    val cum = rows.map(_.getLong(3))
    assert(gains.sliding(2).forall(w => w(0) >= w(1)),
      s"greedy gains must be non-increasing: ${gains.mkString(",")}")
    assert(cum.sliding(2).forall(w => w(0) <= w(1)))
    assert(rows.map(_.getString(1)).distinct.length == 5,
      "greedy picked a source twice")
    assert(cum.last == gains.sum)
  }

  test("q223: Theil–Sen slope lies within the pairwise-slope envelope") {
    val r = run("q223_theil_sen").collect()(0)
    val (nDays, nPairs) = (r.getLong(0), r.getLong(1))
    assert(nPairs == nDays * (nDays - 1) / 2)
    val share = r.getLong(3)
    assert(share >= 0 && share <= 1000000)
  }

  test("q221: score bounds and keep-label consistency") {
    val rows = run("q221_quality_linear_score").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, score, keep) = (r.getLong(1), r.getLong(2), r.getBoolean(4))
      assert(math.abs(score) <= n * 1000, "per-token weight bound")
      assert(keep == score > 0)
    }
  }

  test("q215: PSI terms sum to the feature PSI; smoothing keeps it finite") {
    val rows = run("q215_psi_drift").collect()
    val byFeature = rows.groupBy(_.getString(0))
    assert(byFeature.keySet == Set("event_type", "value_mag"))
    for ((_, rs) <- byFeature) {
      val total = rs.head.getDouble(5)
      val sum = rs.map(_.getDouble(4)).sum
      assert(math.abs(sum - total) < 1e-4,
        s"psi terms ${sum} != feature total ${total}")
      assert(!total.isNaN && !total.isInfinite)
    }
  }

  test("q224: MI is non-negative and NMI within [0, 1]") {
    val r = run("q224_mutual_info").collect()(0)
    val (mi, nmi) = (r.getDouble(1), r.getDouble(2))
    assert(mi >= -1e-9, s"MI negative: $mi")
    assert(nmi >= -1e-9 && nmi <= 1.0 + 1e-9, s"NMI out of range: $nmi")
  }

  test("q225: hit count bounded by both relations; ratios in range") {
    val r = run("q225_lsh_dedup_eval").collect()(0)
    val (nt, nc, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nh <= math.min(nt, nc))
    assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000) // recall_ppm
    assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000) // precision_ppm
  }

  test("q226: k-anonymity audit internally consistent") {
    val r = run("q226_k_anonymity").collect()(0)
    val (nRows, nGroups, kMin) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(kMin >= 1 && nGroups <= nRows)
    assert(r.getLong(3) <= nRows)   // rows_at_risk
    assert(r.getLong(5) <= nGroups) // homog_groups
    assert(r.getLong(6) <= nRows)   // homog_rows
  }

  test("q227: terciles are balanced and ordered by difficulty") {
    val rows = run("q227_curriculum_stages").orderBy("stage").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val counts = rows.map(_.getLong(1))
    assert(counts.max - counts.min <= 1, "ntile split must be balanced")
    val means = rows.map(_.getLong(3))
    assert(means.sliding(2).forall(w => w(0) <= w(1)),
      s"stage mean bits must be non-decreasing: ${means.mkString(",")}")
  }

  test("q228: every synthetic clone links back to its original as a match") {
    val rows = run("q228_fellegi_sunter").collect()
    val matched = rows.filter(_.getBoolean(6))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cloneIds = graft.Tables.customer(spark, sf)
      .where(col("c_custkey") % 4 === 0)
      .select("c_custkey").collect().map(_.getLong(0))
    assert(cloneIds.nonEmpty)
    for (id <- cloneIds) {
      val pair = (id, id + 10000000L)
      assert(matched.contains(pair) || matched.contains(pair.swap),
        s"clone of $id not linked")
    }
    // agreement weights separate: every full-agreement pair outscores
    // every zero-agreement pair
    val scoresBy = (f: org.apache.spark.sql.Row => Boolean) =>
      rows.filter(f).map(_.getDouble(5))
    val full = scoresBy(r => r.getBoolean(2) && r.getBoolean(3) &&
      r.getBoolean(4))
    val none = scoresBy(r => !r.getBoolean(2) && !r.getBoolean(3) &&
      !r.getBoolean(4))
    if (full.nonEmpty && none.nonEmpty)
      assert(full.min > none.max)
  }

  test("q229: dataset card totals reconcile with the corpus") {
    val rows = run("q229_dataset_card").collect()
    val docs = graft.Tables.documents(spark, sf)
    assert(rows.map(_.getLong(1)).sum == docs.count())
    for (r <- rows) {
      assert(r.getLong(6) <= 1000000)        // top_lang_ppm
      assert(r.getLong(7) <= r.getLong(1))   // dup_docs <= n_docs
    }
  }

  test("q230: waterfill exhausts the budget with max-min fairness") {
    val rows = run("q230_budget_waterfill").collect()
    val supply = rows.map(_.getLong(1)).sum
    val alloc = rows.map(_.getLong(2)).sum
    assert(alloc == supply / 2, s"sum(alloc)=$alloc != B=${supply / 2}")
    val (capped, uncapped) = rows.partition(_.getBoolean(3))
    for (r <- capped) assert(r.getLong(2) == r.getLong(1))
    if (uncapped.nonEmpty) {
      val allocs = uncapped.map(_.getLong(2))
      assert(allocs.max - allocs.min <= 1, "water level must be flat")
      // fairness: no capped source's supply exceeds any uncapped alloc
      for (c <- capped)
        assert(c.getLong(1) <= allocs.max + 1)
    }
  }

  test("q231: every held-out query is predicted exactly once") {
    val rows = run("q231_knn_label_eval").collect()
    val expected = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") % 50 === 0).count()
    assert(rows.map(_.getLong(1)).sum == expected)
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1)) // correct <= queries
      assert(r.getLong(3) <= 1000000)
    }
  }

  test("q232: shot counts are cuts+1 over video media only") {
    val rows = run("q232_shot_boundaries").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(0) % 3 == 2, "only video payloads")
      assert(r.getLong(3) == r.getLong(2) + 1) // shots = cuts + 1
      assert(r.getLong(1) >= 1)
    }
  }

  test("q233: entity-rooted sample has zero orphans, plausible rate") {
    val rows = run("q233_consistent_sample").collect()
      .map(r => r.getString(0) -> r).toMap
    for ((_, r) <- rows) {
      assert(r.getLong(4) == 0, s"orphans in ${r.getString(0)}")
      assert(r.getLong(1) <= r.getLong(2))
    }
    val custPpm = rows("customer").getLong(3)
    assert(custPpm > 30000 && custPpm < 300000,
      s"1/8 md5 sample wildly off: $custPpm ppm")
  }

  test("q234: drops shrink as the watermark grows") {
    val rows = run("q234_watermark_planner").collect()
    val byType = rows.groupBy(_.getString(0))
    for ((_, rs) <- byType) {
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(2)).distinct.length == 1,
        "n must not depend on the watermark")
      val drops = sorted.map(_.getLong(3))
      assert(drops.sliding(2).forall(w => w(0) >= w(1)),
        s"drops must be non-increasing: ${drops.mkString(",")}")
    }
  }

  test("q235: recovery buckets are cumulative and total to the error count") {
    val rows = run("q235_error_recovery").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("recovered_1m") <= rows("recovered_5m"))
    assert(rows("recovered_5m") <= rows("recovered_15m"))
    assert(rows("recovered_15m") <= rows("recovered_60m"))
    val nErr = graft.Tables.events(spark, sf)
      .where(col("event_type") === "error").count()
    assert(rows("recovered_60m") + rows("unrecovered") == nErr)
  }

  test("q236: BPE encoding round-trips and merges reduce piece counts") {
    val rows = run("q236_bpe_encode").collect()
    assert(rows.nonEmpty)
    var anyMerged = false
    for (r <- rows) {
      val (word, nPieces, enc) =
        (r.getString(0), r.getLong(1), r.getString(2))
      assert(enc.replace(" ", "") == word, s"lossy encoding of $word")
      assert(enc.split(" ", -1).length == nPieces)
      assert(nPieces <= word.length)
      if (nPieces < word.length) anyMerged = true
    }
    assert(anyMerged, "no merge ever applied — encoding is a no-op")
  }

  test("q237: quantile normalization is order-preserving and in range") {
    val rows = run("q237_quantile_normalize").collect()
    val docs = graft.Tables.documents(spark, sf)
    assert(rows.length == docs.count())
    val (lo, hi) = {
      val r = docs.agg(org.apache.spark.sql.functions.min("n_chars"),
        org.apache.spark.sql.functions.max("n_chars")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    for (r <- rows)
      assert(r.getLong(3) >= lo && r.getLong(3) <= hi)
    // within each source, orig order ⇒ normalized order
    for ((_, rs) <- rows.groupBy(_.getString(1))) {
      val sorted = rs.sortBy(r => (r.getLong(2), r.getLong(0)))
      val norm = sorted.map(_.getLong(3))
      assert(norm.sliding(2).forall(w => w(0) <= w(1)),
        "normalization must preserve within-source order")
    }
  }

  test("q238: bigram counts reconcile with token and doc counts") {
    val rows = run("q238_distinct_ngrams").collect()
    assert(rows.nonEmpty)
    val docsWithToks = graft.Tables.documents(spark, sf)
      .where(length(trim(col("text"))) > 0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- rows) {
      val (src, nUni, dUni, nBi, dBi) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(4), r.getLong(5))
      assert(dUni <= nUni && dBi <= nBi + 1)
      assert(nBi == nUni - docsWithToks(src),
        s"$src: bigrams $nBi != tokens $nUni - docs ${docsWithToks(src)}")
      assert(r.getLong(3) <= 1000000 && r.getLong(6) <= 1000000)
    }
  }

  test("q239: BT output is a ranked permutation with consistent counts") {
    val rows = run("q239_bradley_terry").orderBy("rank").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(4)).toSeq == (1L to rows.length).toSeq)
    for (r <- rows) assert(r.getLong(2) <= r.getLong(1)) // wins <= games
    val bts = rows.map(_.getLong(3))
    assert(bts.sliding(2).forall(w => w(0) >= w(1)),
      "rank must follow bt_micro descending")
  }

  test("q240: isotonic fit is monotone and mass-preserving") {
    val rows = run("q240_isotonic_calibration").orderBy("bucket").collect()
    assert(rows.length >= 10)
    val iso = rows.map(_.getLong(4))
    assert(iso.sliding(2).forall(w => w(0) <= w(1)),
      s"isotonic fit must be non-decreasing: ${iso.mkString(",")}")
    // PAV preserves total positives: Σ iso·n ≈ Σ pos (ppm rounding)
    val fitted = rows.map(r => r.getLong(4).toDouble / 1e6 * r.getLong(1))
      .sum
    val actual = rows.map(_.getLong(2)).sum.toDouble
    assert(math.abs(fitted - actual) / actual < 0.01,
      s"fitted mass $fitted vs actual $actual")
  }

  test("q241: movers are the true top-20 by absolute delta") {
    val rows = run("q241_top_movers").orderBy("rk").collect()
    assert(rows.length == 20)
    val deltas = rows.map(r => math.abs(r.getLong(3)))
    assert(deltas.sliding(2).forall(w => w(0) >= w(1)))
    for (r <- rows) assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
  }

  test("q242: confusability is a ranked half-matrix in [-1, 1]") {
    val rows = run("q242_label_confusability").collect()
    val labels = graft.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(rows.length == labels * (labels - 1) / 2)
    for (r <- rows) {
      assert(r.getInt(0) < r.getInt(1))
      val c = r.getDouble(2)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
    assert(rows.map(_.getLong(3)).sorted.toSeq ==
      (1L to rows.length).toSeq)
  }

  test("q243: more data never hurts the held-out surprisal curve much") {
    val rows = run("q243_scaling_law_probe").orderBy("k").collect()
    assert(rows.length == 4)
    val evalN = rows.map(_.getLong(3)).distinct
    assert(evalN.length == 1, "eval set must be fixed across fractions")
    val trainToks = rows.map(_.getLong(2))
    assert(trainToks.sliding(2).forall(w => w(0) <= w(1)),
      "nested fractions must grow")
    val slope = rows.map(_.getLong(6)).distinct
    assert(slope.length == 1)
    val bits = rows.map(_.getLong(5))
    assert(bits.last <= bits.head,
      s"8/16 model should beat 1/16 on held-out bits: ${bits.mkString(",")}")
  }

  test("q244: LOSO influence is internally consistent and ranked") {
    val rows = run("q244_loso_influence").collect()
    assert(rows.nonEmpty)
    val full = rows.map(_.getLong(2)).distinct
    assert(full.length == 1, "bits_full must be one number")
    for (r <- rows) {
      assert(r.getLong(1) > 0) // removed_tokens
      assert(r.getLong(4) == r.getLong(3) - r.getLong(2))
    }
    val byRank = rows.sortBy(_.getLong(6))
    assert(byRank.map(_.getLong(6)).toSeq == (1L to rows.length).toSeq)
    val deltas = byRank.map(_.getLong(4))
    assert(deltas.sliding(2).forall(w => w(0) >= w(1)))
  }

  test("q245: the peeled graph is a true 2-core fixpoint") {
    val core = run("q245_kcore").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.nonEmpty)
    assert(core.values.forall(_ >= 2), "every core node needs degree >= 2")
    // rebuild the surviving edge set and certify one more peel is a no-op
    val po = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct()
    val e0 = po.toDF("ok", "u").join(po.toDF("ok2", "v"),
        col("ok") === col("ok2") && col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("u", "v")
    val coreKeys = core.keySet
    val coreEdges = e0.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (u, v) => coreKeys(u) && coreKeys(v) }
    val spark2 = spark
    import spark2.implicits._
    val eDf = coreEdges.toSeq.toDF("u", "v")
    val peeled = AnalyticsQueries.kcorePeelOnce(eDf).count()
    assert(peeled == coreEdges.length,
      "one more peel round changed the core — unroll count too small")
  }

  test("q246: Neyman allocation exhausts the budget exactly") {
    val rows = run("q246_neyman_allocation").collect()
    assert(rows.map(_.getLong(4)).sum == 10000L)
    for (r <- rows) assert(r.getLong(4) >= 0 && r.getLong(2) >= 0)
  }

  test("q247: conformal bound covers at least the target rate") {
    val rows = run("q247_conformal_bound").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, k, covered) = (r.getLong(1), r.getLong(2), r.getLong(4))
      assert(k <= n && covered >= k,
        s"${r.getString(0)}: order statistic must cover its own rank")
      assert(r.getLong(5) >= 890000,
        s"${r.getString(0)}: coverage below ~90%: ${r.getLong(5)} ppm")
    }
  }

  test("q248: sweep counts are monotone non-increasing in the threshold") {
    val rows = run("q248_dedup_threshold_sweep").orderBy("th_pct").collect()
    assert(rows.length == 7)
    val pairs = rows.map(_.getLong(1))
    val docs = rows.map(_.getLong(2))
    assert(pairs.sliding(2).forall(w => w(0) >= w(1)))
    assert(docs.sliding(2).forall(w => w(0) >= w(1)))
    // the 30% row must agree with q29's pair count
    val q29n = run("q29_ngram_jaccard").count()
    assert(rows(1).getLong(1) == q29n,
      s"sweep@30 ${rows(1).getLong(1)} != q29 $q29n")
  }

  test("q249: the Youden threshold dominates neighboring cuts") {
    val r = run("q249_youden_threshold").collect()(0)
    val (tp, fp, j2) = (r.getLong(1), r.getLong(2), r.getLong(5))
    assert(r.getLong(3) <= 1000000 && r.getLong(4) <= 1000000)
    assert(r.getLong(3) >= r.getLong(4),
      "at the optimum TPR must exceed FPR (J > 0 on any informative score)")
    assert(tp >= 0 && fp >= 0 && j2 >= 0)
  }

  test("q250: overlap matrix is a symmetric-half with sane diagonal bound") {
    val rows = run("q250_source_overlap").collect()
    assert(rows.length == 20 * 19 / 2)
    for (r <- rows) {
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000)
    }
  }

  test("q251: temperature smoothing flattens shares and fills the budget") {
    val rows = run("q251_temperature_mixture").collect()
    assert(rows.map(_.getLong(3)).sum == 10000L)
    // α = ½ compresses the range: the seat spread (in share terms)
    // must be strictly tighter than the raw token-share spread
    val raw = rows.map(_.getLong(2))
    val seats = rows.map(r => r.getLong(3) * 100) // seats/10000 → ppm
    if (raw.max != raw.min)
      assert(seats.max - seats.min < raw.max - raw.min,
        "smoothed shares must be flatter than raw shares")
  }

  test("q252: SMD flag agrees with the reported milli value") {
    val rows = run("q252_covariate_balance").collect()
    assert(rows.length == 2)
    for (r <- rows) {
      val (smd, balanced) = (r.getLong(3), r.getBoolean(4))
      // floor-milli: |smd| <= 0.1 ⇔ milli in [-100, 100) up to the
      // floor boundary; check consistency loosely at the edges
      if (math.abs(smd) > 100) assert(!balanced || math.abs(smd) == 101)
      if (math.abs(smd) < 100) assert(balanced)
    }
  }

  test("q253: assortativity is a correlation in [-1, 1]") {
    val r = run("q253_assortativity").collect()(0)
    val a = r.getLong(1)
    assert(a >= -1000 && a <= 1000, s"assortativity_milli out of range: $a")
    assert(r.getLong(0) > 0)
  }

  test("q254: RRF fusion emits exactly top-3 per group, ranks consistent") {
    val rows = run("q254_rrf_fusion").collect()
    val byGroup = rows.groupBy(_.getString(0))
    for ((_, rs) <- byGroup) {
      assert(rs.map(_.getLong(5)).sorted.toSeq == Seq(1L, 2L, 3L))
      val sorted = rs.sortBy(_.getLong(5))
      val micro = sorted.map(_.getLong(4))
      assert(micro.sliding(2).forall(w => w(0) >= w(1)),
        "fused rank must follow the fused score")
    }
  }

  test("q255: QQ quantiles are monotone along the probability grid") {
    val rows = run("q255_qq_table").orderBy("p_pct").collect()
    assert(rows.length == 19)
    val qp = rows.map(_.getLong(1))
    val qc = rows.map(_.getLong(2))
    assert(qp.sliding(2).forall(w => w(0) <= w(1)))
    assert(qc.sliding(2).forall(w => w(0) <= w(1)))
    for (r <- rows) assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
  }

  test("q220: predictions are open pairs — never existing edges") {
    val preds = run("q220_adamic_adar").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val po = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct()
    val edges = po.toDF("ok", "u").join(po.toDF("ok2", "v"),
        col("ok") === col("ok2") && col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((a, b) <- preds) {
      val e = if (a < b) (a, b) else (b, a)
      assert(!edges.contains(e), s"predicted an existing edge $e")
    }
  }
}
