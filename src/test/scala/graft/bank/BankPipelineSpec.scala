package graft.bank

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end replay of the committed reference-shaped 3-day
  * fixture ([[RefFixture]], SURVEY §5.2). Every asserted number is the
  * independent DuckDB replica's (`tools/golden_reference.py`'s
  * `run_day` over the same files; FIXTURES.md A6), which matches the
  * Spark warehouse on all four output tables.
  */
class BankPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val refData = RefFixture.dataDir
  private val days = RefFixture.days

  /** Call sites (the long form) of the SQL executions the replay ran. */
  private val replaySites = new ConcurrentLinkedQueue[String]

  private lazy val wh: Warehouse = {
    val work = Files.createTempDirectory("bankspec")
    val w = new Warehouse(spark, work.resolve("wh").toString)
    val sentinel = "bankspec_replay_done"
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          if (s.physicalPlanDescription.contains(sentinel)) done.countDown()
          else replaySites.add(s.details)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      RefFixture.replay(w, Seeds.load(spark, RefFixture.seedSql), work)
      // the listener bus delivers in order: once the sentinel's start is
      // seen, every execution of the replay has been seen
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(done.await(30, TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    w
  }

  test("xlsx reader: snapshot sizes and serial dates match the fixture") {
    val t1 = Ingest.terminals(spark, s"$refData/terminals_01032021.xlsx")
    assert(t1.columns.toSeq == Seq("terminal_id", "terminal_type",
      "terminal_city", "terminal_address"))
    assert(t1.count() == 20)
    def blacklist(d: String) =
      Ingest.blacklist(spark, s"$refData/passport_blacklist_$d.xlsx")
    // all-null styled rows dropped
    assert(days.map(blacklist(_).count()) == Seq(7, 17, 23))
    // Excel serials 44256–44258 decode to 2021-03-01–03
    def dates(d: String) = blacklist(d).select("date").distinct()
      .collect().map(_.getDate(0).toString).sorted.toSeq
    assert(dates(days.head) == Seq("2021-03-01"))
    assert(dates(days.last) == Seq("2021-03-01", "2021-03-02", "2021-03-03"))
  }

  test("seed masters parse with exact row counts and intact values") {
    val seed = Seeds.load(spark, RefFixture.seedSql)
    assert(seed.cards.count() == 20)
    assert(seed.accounts.count() == 8)
    assert(seed.clients.count() == 5)
    // card numbers keep internal spaces
    assert(seed.cards.where(col("card_num") === "2282 6287 6439 7301").count() == 1)
    // nullable patronymic / passport_valid_to survive
    assert(seed.clients.where(col("passport_valid_to").isNull).count() > 0)
  }

  test("facts accumulate with blacklist anti-join dedup",
      graft.SlowIntegrationTag) {
    assert(wh.read(Pipeline.FactTransactions).count() == 1570 + 1582 + 1575)
    assert(wh.read(Pipeline.FactBlacklist).count() == 23)
  }

  test("SCD2 history replicates the reference's CDC quirks") {
    val hist = wh.read(Pipeline.DimTerminals).cache()
    assert(hist.count() == 27)
    val versions = hist.groupBy("terminal_id").count()
      .where(col("count") > 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // P34273 changed on day2 and again on day3 (diffing against BOTH prior
    // versions -> duplicated re-insert), A64732 re-flagged on day3 because
    // its day-3 snapshot still differs from its day-1 version, P25519
    // added day2 + tombstoned day3.
    assert(versions == Map("P34273" -> 4, "A64732" -> 3, "P25519" -> 2))
    val tomb = hist.where(col("deleted_flg")).collect()
    assert(tomb.length == 1 && tomb.head.getAs[String]("terminal_id") == "P25519")
    hist.unpersist()
  }

  test("fraud mart matches the DuckDB-validated golden counts") {
    val rep = wh.read(Pipeline.RepFraud).cache()
    val byType = rep.groupBy("event_type", "report_dt").count().collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(byType == Map(
      ("amount guessing", "2021-03-01") -> 3L,
      ("amount guessing", "2021-03-02") -> 2L,
      ("amount guessing", "2021-03-03") -> 7L,
      ("blocked or expired passport", "2021-03-03") -> 759L,
      ("invalid contract", "2021-03-03") -> 296L,
      ("ops in diff cities less one hour", "2021-03-01") -> 4L,
      ("ops in diff cities less one hour", "2021-03-03") -> 4L))
    assert(rep.count() == 1075)
    // seeded fraud triggers fire: the blacklisted trigger client's
    // passport (FIXTURES.md A6)
    assert(rep.where(col("passport") === "5843 046782" &&
      col("event_type") === "blocked or expired passport").count() > 0)
    rep.unpersist()
  }

  test("META_LOADING carries the full audit trail") {
    val meta = wh.read(Pipeline.MetaLoading)
    assert(meta.count() == 30) // 10 events x 3 days
    val stg = meta.where(col("table_name") === "stg_transactions")
      .orderBy("event_dt").select("rows_processed").collect().map(_.getInt(0))
    assert(stg.toSeq == Seq(1570, 1582, 1575))
  }

  test("every report_dt partition is one parquet file, written once") {
    val mart = Paths.get(wh.root, Pipeline.RepFraud).toFile
    val files = mart.listFiles().filter(_.getName.startsWith("report_dt="))
      .map(p => p.getName -> p.list().count(_.endsWith(".parquet"))).toMap
    assert(files == Seq("2021-03-01", "2021-03-02", "2021-03-03")
      .map(d => s"report_dt=$d" -> 1).toMap, files)
  }

  test("every META row is the replica's, each count observed on its write") {
    // the replica's staging sizes and per-day rule rows (FIXTURES.md A6):
    // stg_transactions, stg_passport_blacklist, stg_terminals, then
    // rules 1–4
    val want = Seq(
      ("2021-03-01", Seq(1570, 7, 20), Seq(0, 0, 4, 3)),
      ("2021-03-02", Seq(1582, 17, 21), Seq(0, 0, 0, 2)),
      ("2021-03-03", Seq(1575, 23, 20), Seq(759, 296, 4, 7)))
      .flatMap { case (d, stg, rules) =>
        (Seq("stg_transactions", "stg_passport_blacklist", "stg_terminals")
          .zip(stg) ++
          Seq("stg_transactions", "stg_terminals", "stg_passport_blacklist")
            .map(t => s"CLEAR_$t" -> 0) ++
          Seq("REP_FRAUD_passport", "REP_FRAUD_contract",
            "REP_FRAUD_diff_cities", "REP_FRAUD_attempt_amount").zip(rules))
          .map { case (t, n) => (t, Date.valueOf(d), n, "SUCCESS") }
      }
    val got = wh.read(Pipeline.MetaLoading).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getInt(2), r.getString(3)))
    assert(got.sortBy(_.toString).toSeq == want.sortBy(_.toString))
    // the day's counts ran no job of their own: no execution started
    // from RowCount (its explicit-count fallback), while every fact and
    // mart write was seen
    val sites = replaySites.asScala.toSeq
    assert(sites.count(_.contains("graft.bank.Warehouse.overwritePartitions")) ==
      2 * days.size, sites.size)
    assert(!sites.exists(_.contains("graft.bank.RowCount")),
      sites.filter(_.contains("graft.bank.RowCount")).mkString("\n---\n"))
  }
}
