package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality guards: the properties that matter at cluster scale must
  * survive refactors — filters/projections reaching the parquet scan,
  * dimensions broadcast, band joins keeping their equi keys (no
  * accidental cartesian/nested-loop plans outside the intentional
  * brute-force baselines). */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q01: filter and projection are pushed to the parquet scan") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThan(l_quantity,45"), p)
    assert(!p.contains("l_comment")) // pruned read schema
  }

  test("incremental-rules fact read PRUNES to one txn_date partition") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("pq_prune").toString
    val wh = new graft.bank.Warehouse(spark, root)
    Seq("2021-03-01", "2021-03-02", "2021-03-03").foreach { d =>
      wh.overwritePartitions(graft.bank.Pipeline.FactTransactions,
        spark.range(10).select(col("id").cast("string").as("transaction_id")),
        "txn_date" -> d)
    }
    // the read shape of the streaming day's rules-1/2 input
    // (Pipeline.ruleFacts): day filter on the partition col
    val df = wh.read(graft.bank.Pipeline.FactTransactions)
      .where(col("txn_date") === lit(java.sql.Date.valueOf("2021-03-02")))
    val p = df.queryExecution.executedPlan.toString
    // the day predicate must be a PARTITION filter (pruned at listing,
    // no data files of other days opened), not a post-scan data filter
    assert(p.contains("PartitionFilters"), p)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("txn_date"), pf)
    assert(df.count() == 10)
  }

  test("q11: all four dimension joins broadcast; no shuffle for dims") {
    val p = plan("q11_join_chain")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
  }

  test("rules-3/4 incremental window read PRUNES to two txn_date partitions") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("pq_prune34").toString
    val wh = new graft.bank.Warehouse(spark, root)
    Seq("2021-03-01", "2021-03-02", "2021-03-03").foreach { d =>
      wh.overwritePartitions(graft.bank.Pipeline.FactTransactions,
        spark.range(10).select(col("id").cast("string").as("transaction_id")),
        "txn_date" -> d)
    }
    // the read shape of ruleFacts' streaming rules-3/4 window:
    // BETWEEN [day−1, day] on the partition column
    val day = java.sql.Date.valueOf("2021-03-03")
    val df = wh.read(graft.bank.Pipeline.FactTransactions)
      .where(col("txn_date").between(date_sub(lit(day), 1), lit(day)))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("txn_date"), pf)
    // two of the three day partitions survive the pruning
    assert(df.count() == 20)
  }

  test("streaming rule facts prune to <= 2 partitions") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("pq_twin").toString
    val wh = new graft.bank.Warehouse(spark, root)
    Seq("2021-03-01", "2021-03-02", "2021-03-03", "2021-03-04").foreach { d =>
      wh.overwritePartitions(graft.bank.Pipeline.FactTransactions,
        spark.range(10).select(col("id").cast("string").as("transaction_id")),
        "txn_date" -> d)
    }
    // ruleFacts in the streaming day's plan: the rules-3/4 frame must be
    // a partition-pruned [day-1, day] read — 2 of 4 partitions
    val (facts34, facts12) = graft.bank.Pipeline.ruleFacts(wh,
      java.sql.Date.valueOf("2021-03-04"), incremental = true)
    val p34 = facts34.queryExecution.executedPlan.toString
    assert(p34.contains("PartitionFilters"), p34)
    assert(p34.linesIterator.find(_.contains("PartitionFilters"))
      .get.contains("txn_date"), p34)
    assert(facts34.select("txn_date").distinct().count() == 2)
    assert(facts34.count() == 20)
    assert(facts12.count() == 10) // rules 1/2: today's partition only
  }

  test("rule1 blacklist join: broadcast under autoBroadcastJoinThreshold, shuffle join with it lowered") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.bank.{FraudRules, Pipeline, Seeds, Warehouse}
    def d(s: String) = java.sql.Date.valueOf(s)
    val seed = Seeds.Seed(
      cards = Seq(("1111", "A1", d("2020-01-01"), d("2020-01-01")))
        .toDF("card_num", "account", "create_dt", "update_dt"),
      accounts = Seq(("A1", d("2022-01-01"), "C1", d("2020-01-01"),
          d("2020-01-01")))
        .toDF("account", "valid_to", "client", "create_dt", "update_dt"),
      clients = Seq(("C1", "Ivanov", "Ivan", "Ivanovich", d("1980-01-01"),
          "P1", d("2030-01-01"), "+7", d("2020-01-01"), d("2020-01-01")))
        .toDF("client_id", "last_name", "first_name", "patronymic",
          "date_of_birth", "passport_num", "passport_valid_to", "phone",
          "create_dt", "update_dt"))
    val txns = Seq(("t1", "2021-03-01 10:00:00", "1111",
        "PAYMENT", "SUCCESS", "T1")).toDF("transaction_id", "ts",
        "card_num", "oper_type", "oper_result", "terminal")
      .withColumn("transaction_date", to_timestamp($"ts")).drop("ts")
      .withColumn("amount", lit(BigDecimal(1)).cast("decimal(10,2)"))
    // the blacklist as the pipeline opens it: a warehouse parquet table,
    // whose plan-time size estimate is its files' size
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("pq_rule1").toString)
    wh.append(Pipeline.FactBlacklist,
      Seq((d("2021-01-01"), "P1")).toDF("date", "passport"))
    def blJoins(): Seq[String] = FraudRules.rules12(txns,
        wh.read(Pipeline.FactBlacklist), seed)
      .queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("bl_passport") && l.contains("Join")).toSeq
    // under the threshold: the blacklist ships broadcast on its estimate
    val small = blJoins()
    assert(small.nonEmpty && small.forall(_.contains("BroadcastHashJoin")),
      small)
    // threshold lowered below the table's size: the shuffle join an
    // unbounded cumulative blacklist needs, no broadcast of it
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val big = blJoins()
      assert(big.nonEmpty && big.forall(l => !l.contains("Broadcast") &&
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))),
        big)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("band joins keep equi keys — never cartesian") {
    for (q <- Seq("q13_band_pairs", "q16_triple_band", "q38_band_pairs_bucketed",
        "q340_band_pairs_salted")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated")
    }
  }

  test("salted band join: salt is part of the shuffle key") {
    val p = plan("q340_band_pairs_salted")
    // the join key must include the salt column — that is the whole
    // point: a hot (key, bucket) pair hashes to `salt` partitions
    assert(p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("salted band join pins its partition count against AQE coalescing") {
    // VERDICT r12 #3: under default AQE byte-coalescing the salted
    // join's tiny shuffle bytes collapsed the salt groups into ~1
    // partition (salt=32 measured WORSE than salt=1). The pin is a
    // user-specified repartition (exempt from coalescing) at
    // max(parallelism, salt × 8) — so the executed salted join must
    // come out at exactly that many partitions, AQE enabled.
    import org.apache.spark.sql.functions._
    val salt = 4
    val want = math.max(spark.sparkContext.defaultParallelism, salt * 8)
    val df = spark.range(0, 2000).select(
      lit("hotkey").as("k"),
      timestamp_micros(lit(1600000000000000L) + col("id") * 1000L).as("ts"),
      col("id").as("payload"))
    val out = graft.operators.BandJoin.pairsWithin(
      df, "k", "ts", deltaUs = 3600L * 1000000L,
      payload = Seq("payload"), salt = salt)
    out.count() // materialize under AQE so final partitioning is real
    assert(out.rdd.getNumPartitions == want,
      s"salted join ran at ${out.rdd.getNumPartitions} partitions, want $want")
    // and the unsalted path keeps AQE's coalescing (no pin)
    val plain = graft.operators.BandJoin.pairsWithin(
      df, "k", "ts", deltaUs = 3600L * 1000000L, payload = Seq("payload"))
    assert(!plain.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
  }

  test("Skew.saltedJoin pins its partition count against AQE coalescing") {
    // VERDICT r13 #2: the BandJoin pin (above) proved AQE byte-
    // coalescing merges salt groups back together; saltedJoin — the
    // fallback inside Linkage.topKClosestPairs — salted without the
    // pin until round 14. Same contract: salt > 1 executes at exactly
    // max(parallelism, salt × 8) partitions, salt = 1 keeps AQE free.
    import org.apache.spark.sql.functions._
    val salt = 4
    val want = math.max(spark.sparkContext.defaultParallelism, salt * 8)
    val big = spark.range(0, 4000).select(
      lit("hot").as("k"), col("id").as("payload"))
    val small = spark.range(0, 8).select(
      lit("hot").as("k"), col("id").as("tag"))
    val out = graft.operators.Skew.saltedJoin(big, small, "k", salt = salt)
    out.count() // materialize under AQE so final partitioning is real
    assert(out.rdd.getNumPartitions == want,
      s"saltedJoin ran at ${out.rdd.getNumPartitions} partitions, want $want")
    val plain = graft.operators.Skew.saltedJoin(big, small, "k", salt = 1)
    assert(!plain.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
  }

  test("editJoinByDistinct pins its salted expansion against AQE coalescing") {
    // VERDICT r13 #2, second site: the value-pair expansion join
    // shuffles on a FIXED-cardinality (block, value) key with ×salt
    // output amplification AQE's byte estimate cannot see.
    import org.apache.spark.sql.functions._
    val salt = 4
    val want = math.max(spark.sparkContext.defaultParallelism, salt * 8)
    val rows = (1 to 600).map(i =>
      (i.toLong, Seq("kilo", "kila", "milo", "mila")(i % 4), "x"))
    val df = spark.createDataFrame(rows).toDF("id", "name", "tag")
    val out = graft.operators.Linkage.editJoinByDistinct(
      df, "id", "name", Seq("tag"), maxDist = 1, salt = salt)
    out.count()
    assert(out.rdd.getNumPartitions == want,
      s"expansion ran at ${out.rdd.getNumPartitions} partitions, want $want")
    // salt = 1: no pin, AQE keeps its runtime re-plan
    val plain = graft.operators.Linkage.editJoinByDistinct(
      df, "id", "name", Seq("tag"), maxDist = 1, salt = 1)
    assert(!plain.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
  }

  test("incrementalEditJoin collapsed stance pins its salted expansion") {
    // the collapse branch is a SEPARATE implementation from
    // editJoinByDistinct (delta-probe value pairs + ≥-one-delta
    // residual) — pin its expansion partitioning independently
    import org.apache.spark.sql.functions._
    val salt = 4
    val want = math.max(spark.sparkContext.defaultParallelism, salt * 8)
    val rows = (1 to 600).map(i =>
      (i.toLong, Seq("kilo", "kila", "milo", "mila")(i % 4), "x"))
    val df = spark.createDataFrame(rows).toDF("id", "name", "tag")
    val out = graft.operators.Linkage.incrementalEditJoin(
      df.where(col("id") % 3 =!= 0), df.where(col("id") % 3 === 0),
      "id", "name", "tag", maxDist = 1, salt = salt)
    out.count()
    assert(out.rdd.getNumPartitions == want,
      s"expansion ran at ${out.rdd.getNumPartitions} partitions, want $want")
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("fraud rule 3 default plan is the Δ-bucketed band join") {
    import org.apache.spark.sql.Row
    def empty(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // one J6 match: the seed's dimension is a local relation, and an
    // empty one would let the optimizer fold the whole plan away
    def one(schema: org.apache.spark.sql.types.StructType, vals: Any*) =
      spark.createDataFrame(java.util.List.of(Row(vals: _*)), schema)
    val d = java.sql.Date.valueOf("2020-01-01")
    val seed = graft.bank.Seeds.Seed(
      cards = one(graft.bank.Schemas.cards, "1111", "A1", d, d),
      accounts = one(graft.bank.Schemas.accounts, "A1", d, "C1", d, d),
      clients = one(graft.bank.Schemas.clients, "C1", "L", "F", "P", d,
        "P1", d, "+7", d, d))
    val p = graft.bank.FraudRules.bandRules(
      empty(graft.bank.Schemas.factTransactions),
      empty(graft.bank.Schemas.dimTerminalsHist), seed,
      empty(graft.bank.Schemas.repFraud))
      .queryExecution.executedPlan.toString
    assert(p.contains("__bucket"), s"rules 3/4 lost the bucketed plan: $p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q34 LSH plan: one bucket join feeding the block kernel, one top-k shuffle") {
    val df = SparkEntry.queries("q34_ann_lsh")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    // post-execution: what AQE actually chose. The blocked form pairs
    // packed (t, b) rows with ONE join and scores inside block_topk —
    // per-pair candidate rows never materialize, so the old 3-join
    // (pairs ⋈ va ⋈ vb) shape must not reappear.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("block_topk"), s"q34 lost the blocked scoring kernel: $p")
    assert("Join".r.findAllIn(p).size == 1,
      s"bucket pairing must be the only join (no per-pair re-joins): $p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"blocked LSH needs at most the two (t,b) packs + the top-k exchange: $p")
    assert(p.contains("partial_topk_by_score"),
      "top-k must aggregate map-side before the exchange")
  }

  test("q84: the distributed prefix sum never plans a global-sort window") {
    // a Window.orderBy without partitioning would drain the table
    // through ONE task — the exact cliff systematicSample exists to
    // avoid; its windows must stay per-range-partition
    val p = plan("q84_weighted_sample")
    assert(!p.contains("Exchange SinglePartition"),
      s"q84 degenerated to a single-partition global window: $p")
    assert(p.contains("Window"), p)
  }

  test("q89: global shuffle ranks per range partition, never one task") {
    val p = plan("q89_global_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      s"q89 degenerated to a single-partition global window: $p")
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("q116 gap fill: every window stays user-partitioned") {
    val p = plan("q116_gapfill_ffill")
    assert(!p.contains("Exchange SinglePartition"),
      s"q116 degenerated to a single-partition window: $p")
    assert(p.contains("Window"), p)
  }

  test("q121 winsorize: per-group quantile frame broadcasts back") {
    val p = plan("q121_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q123 vocab coverage: distributed top-k, vocab broadcast") {
    val p = plan("q123_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-1000 must be partial-heap + driver merge, not a sort: $p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q144 ABC classes: cumulative share never plans a global-sort window") {
    val p = plan("q144_abc_classes")
    // the grand-total 1-row aggregate legitimately collapses to one
    // partition; the running-sum WINDOW itself must stay per-range-
    // partition (pid-partitioned spec over the range exchange)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1, p)
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"),
      s"q144 running sum lost its per-partition window spec: $p")
  }

  test("q139 RFM: quintiles rank via range partitions, never one task") {
    val p = plan("q139_rfm")
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("ntile"), s"q139 regressed to a global ntile window: $p")
    // every window in the plan is a per-range-partition row_number —
    // none may run unpartitioned (the nested cached rank subtrees
    // repeat 1-row aggregate exchanges in the STRING, so counting
    // SinglePartition occurrences is not meaningful here)
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    val pidSpecs = "windowspecdefinition\\(__pid".r.findAllIn(p).size
    assert(specs > 0 && specs == pidSpecs,
      s"q139 has ${specs - pidSpecs} non-pid-partitioned window specs: $p")
  }

  test("q87: PII redaction is a pure per-row scan — zero exchanges") {
    val p = plan("q87_pii_redact")
    assert(!p.contains("Exchange"),
      s"q87 is per-row regexp work and must not shuffle: $p")
  }

  test("fused per-row operators plan with ZERO shuffle exchanges") {
    // simhash (q31) and repetition (q59) collapsed from corpus-wide
    // aggregations to single-pass expressions — a regression that
    // reintroduces an exchange is a 100 TB shuffle of the whole corpus;
    // sliding chunking (q71) is a pure tokenize-explode-slice generator
    for (q <- Seq("q31_simhash", "q59_repetition", "q71_chunk_sliding")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q reintroduced a shuffle: $p")
    }
    // cdc chunking (q173) cuts chunks with in-row sequence/filter — the
    // md5-per-position cost is per-row CPU. The ONLY admissible exchange
    // is Spread.scaleOut's guarded single-split fan-out (round-robin of
    // the narrow (id, text) projection, identity once the input exceeds
    // one scan split — SpreadSpec pins the guard); a KEY-partitioned
    // exchange would be a real 100 TB shuffle regression.
    locally {
      val p = plan("q173_cdc_chunks")
      for (line <- p.linesIterator.filter(_.contains("Exchange")))
        assert(line.contains("RoundRobinPartitioning"),
          s"q173 planned a non-spread exchange: $line")
    }
  }

  test("q51 portable sketches: bounded bottom-k, no window sort") {
    // the sample step must stay the algebraic BottomKByKey aggregate —
    // a row_number window partitioned by the 3 return flags is a
    // 3-task sort at any cluster size
    val p = plan("q51_sketches_portable")
    assert(!p.contains("Window"), s"q51 must not plan a window sort: $p")
    assert(p.contains("partial_bottomk_by_key"),
      s"bottom-k must reduce map-side before the exchange: $p")
  }

  test("q30 MinHash-LSH: only the bucket-group and pair-distinct shuffles remain") {
    val p = plan("q30_minhash_lsh")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"signature computation must stay shuffle-free: $p")
  }

  test("q62 decontamination: benchmark gram set joins broadcast") {
    val p = plan("q62_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q65 retrieval: queries broadcast, top-k aggregates map-side") {
    val p = plan("q65_retrieve_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_topk_by_score"),
      "retrieval must reduce map-side before the exchange")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("as-of joins: one exchange total, no join pairs at all") {
    // the union-window formulation must never degrade to a pair join;
    // q68's two orderings (backward + forward) share one partitioning —
    // two sorts, still one exchange
    for (q <- Seq("q18_asof_join", "q67_asof_forward", "q68_asof_nearest")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q built join pairs: $p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q must shuffle exactly once: $p")
    }
  }

  test("q66 bloom decontamination: probe stays inside codegen, no UDF") {
    val p = plan("q66_decontaminate_bloom")
    assert(p.contains("might_contain"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"), p)
  }

  test("q94 segment dedup: hot-set filter is a broadcast anti join; " +
       "nothing plans a single-partition exchange") {
    val df = SparkEntry.queries("q94_segment_dedup")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q95/q97 sequence windows stay user-partitioned — no global window") {
    for (q <- Seq("q95_event_transitions", "q97_session_paths")) {
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition"), s"$q: $p")
    }
  }

  test("q96 FD audit: single count_distinct plans two-level agg, no Expand") {
    val p = plan("q96_fd_violations")
    assert(!p.contains("Expand"), p)
  }

  test("iterative graph ops read the source ONCE, not once per round") {
    // The round-5 driver caught q115 reading ~756 MB against an 11 MB
    // parquet: lazy localCheckpoints let the concurrent per-round
    // broadcast-build jobs each re-derive the edge set from the source.
    // TaskMetrics input_read cannot pin this down (it counts resident-
    // block reads too), but Hadoop FileSystem statistics count actual
    // file bytes — parquet data pages bypass them in Spark 4 (NIO), so
    // what registers is ~the footer per scan PASS, exactly the unit we
    // want to budget: scans of the source, not bytes of it.
    import scala.jdk.CollectionConverters._
    def fsRead: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics
      .asScala.map(_.getBytesRead).sum
    def measure(body: => Unit): Long = { val b = fsRead; body; fsRead - b }
    val baseline = measure(Tables.lineitem(spark, sf).count())
    assert(baseline > 0, "fs statistics must register parquet reads")
    // budget 4×: one scan for the edge derivation, one for a seed/aux
    // frame, headroom for listing — the failure mode this guards
    // against was ~70× (one scan per round per broadcast build)
    for (q <- Seq("q115_cc_labelprop", "q102_bfs_hops", "q104_pagerank")) {
      val d = measure {
        SparkEntry.queries(q)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
      assert(d <= 4 * baseline,
        s"$q read ${d}B of source files vs one-scan ${baseline}B — " +
          "re-scanning the source per iteration")
    }
  }

  test("planner-profiling queries stay within their scan budgets") {
    // q191: one scan per profiled table (4), two-level aggregation —
    // a skew report that re-scanned per statistic would defeat itself
    val p191 = plan("q191_skew_report")
    assert("Scan parquet".r.findAllIn(p191).size <= 4, p191)
    // q192: the three join-cardinality estimates run on key-count
    // HISTOGRAMS — six scans (lineitem thrice, three dims), and no
    // row-level join anywhere in the plan
    val p192 = plan("q192_join_card_est")
    assert("Scan parquet".r.findAllIn(p192).size <= 6, p192)
    // q196: the replicate table is pinned before plan construction, so
    // the returned plan scans lineitem only for the point-estimate pass
    val p196 = plan("q196_bootstrap_ci")
    assert("Scan parquet".r.findAllIn(p196).size <= 1, p196)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("register-algebra queries scan events once per register build") {
    // q194: ONE events scan feeds the registers; the pair merge and
    // estimates run on register-table derivatives (the exact-overlap
    // yardstick adds its own distinct scan) — budget 3 total
    val p = plan("q194_hll_overlap")
    assert("Scan parquet".r.findAllIn(p).size <= 3, p)
    // q200: pinned registers serve the carry, the spine and the
    // estimate; the exact curve adds its first-appearance scan
    val p200 = plan("q200_cume_distinct")
    assert("Scan parquet".r.findAllIn(p200).size <= 1, p200)
    // q207: pinned (day,user) distinct + pinned registers — nothing in
    // the final plan re-reads events
    val p207 = plan("q207_wau_sketch")
    assert("Scan parquet".r.findAllIn(p207).size == 0, p207)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("q218: the spatial stencil join is an equi join on cell ids") {
    // the grid-blocked ε-join must never degrade to a nested-loop
    // over points — the cell key is what makes it shuffle-joinable
    val p = plan("q218_grid_eps_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q218 lost its cell equi key: $p")
  }

  test("q221: the hashed linear scorer joins against NOTHING") {
    // the weight vector is derived inside the expression (hashing
    // trick) — a join against a model table would be the thing this
    // operator exists to avoid at 100 TB
    val p = plan("q221_quality_linear_score")
    assert(!p.contains("Join"), s"q221 grew a model-table join: $p")
  }

  test("unpartitioned windows take aggregate-bounded input: absolute cap " +
       "at sf0.001, sublinear growth to sf0.01") {
    // `WindowExec: No Partition Defined` means ALL rows reaching that
    // window sort through ONE task — fine over a post-aggregate frame
    // whose cardinality is a handful of group keys, fatal over anything
    // that grows with the fact tables. The plan string can't prove the
    // bound, so this measures it: execute every catalog query, find the
    // unpartitioned WindowExecs in the final adaptive plan, and read the
    // rows that ACTUALLY flowed into each from SQL metrics. Then the
    // growth check: re-run just the window-bearing queries on 10× the
    // data and require the window input to grow ≤4× — sublinear growth
    // is the signature of an aggregate/limit bound (distinct flags,
    // clusters, days), linear growth is a 100 TB single-task sort.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec

    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    def collectGlobalWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = unwrap(p)
      val self = here match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Nil
      }
      self ++ here.children.flatMap(collectGlobalWindows) ++
        here.subqueriesAll.flatMap(collectGlobalWindows)
    }
    // A window's output cardinality equals its input, and Project/Sort/
    // Exchange/Coalesce preserve cardinality too — so descend through
    // cardinality-preserving nodes to the first metric that counts rows.
    def inputRows(p: SparkPlan): Option[Long] = {
      val n = unwrap(p)
      n.metrics.get("numOutputRows").map(_.value)
        .orElse(n.metrics.get("shuffleRecordsWritten").map(_.value))
        .orElse(n match {
          case _: org.apache.spark.sql.execution.ProjectExec |
               _: org.apache.spark.sql.execution.SortExec |
               _: org.apache.spark.sql.execution.CoalesceExec |
               _: org.apache.spark.sql.execution.InputAdapter |
               _: org.apache.spark.sql.execution.WholeStageCodegenExec |
               _: WindowExec |
               _: org.apache.spark.sql.execution.exchange.Exchange |
               _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
            inputRows(n.children.head)
          // a reused exchange carries no metrics of its own; the
          // original Exchange it points at counted the rows
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            inputRows(r.child)
          case _ => None
        })
    }
    def measure(dir: String, names: Option[Set[String]])
        : Map[String, Long] = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
           if names.forall(_(name))) {
        val df = fn(spark, dir)
        // Execute THIS QueryExecution (not a re-planned copy): a
        // `df.write.format("noop")` plans the write in its own
        // QueryExecution, leaving df.queryExecution.executedPlan's
        // metrics at zero — which made every cap below pass vacuously
        // (how q217's key-scaled window survived 14 rounds of this
        // test). toRdd executes the very plan we then inspect.
        df.queryExecution.toRdd.foreach(_ => ())
        val ws = collectGlobalWindows(df.queryExecution.executedPlan)
        if (ws.nonEmpty) {
          // max over sites: the cap is per window, a query is as
          // bounded as its widest global window
          val rows = ws.map(w => inputRows(w.child).getOrElse {
            fail(s"$name: cannot attribute rows to unpartitioned " +
              s"window over ${unwrap(w.child).nodeName} — extend the " +
              "cardinality-preserving descent or partition the window")
          }).max
          out(name) = rows
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      out.toMap
    }
    val at001 = measure(sf, None)
    // every unpartitioned window's input must be far below fact-table
    // cardinality (sf0.001 lineitem is 6001 rows; group-key frames are
    // ≤ a few hundred)
    val cap = 2048L
    val over = at001.filter(_._2 > cap)
    assert(over.isEmpty,
      s"unpartitioned windows over $cap rows at sf0.001: $over")
    // growth: 10× the data may not mean 4× the window input
    val at01 = measure("/root/testdata/sf0.01", Some(at001.keySet))
    val growing = at01.filter { case (n, r) =>
      r > math.max(4 * at001(n), 512L) }
    assert(growing.isEmpty,
      s"unpartitioned window inputs growing ~linearly with data " +
        s"(sf0.001=${growing.keys.map(at001)} -> sf0.01=${growing.values}): " +
        s"$growing")
  }

  test("the only nested-loop plans are the intentional all-pairs baselines") {
    // q55's cross join is at BLOCK granularity (blocks² rows, each row
    // one packed block) — bounded by construction, not an n² row plan
    val allowed = Set("q32_cosine_topk", "q33_cosine_neardup", "q39_ann_ivf",
      "q55_cosine_topk_blocked", "q61_semantic_dedup")
    for ((name, fn) <- SparkEntry.queries if !allowed(name)) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }
}
