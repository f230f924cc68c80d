package graft.bank

import java.nio.file.Files

import graft.SparkTestSession
import graft.sources.Xlsx
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

  private lazy val wh: Warehouse = {
    val work = Files.createTempDirectory("bankspec")
    val w = new Warehouse(spark, work.resolve("wh").toString)
    RefFixture.replay(w, Seeds.load(spark, RefFixture.seedSql), work)
    w
  }

  test("xlsx reader: snapshot sizes and serial dates match the fixture") {
    val t1 = Xlsx.read(s"$refData/terminals_01032021.xlsx")
    assert(t1.header == Seq("terminal_id", "terminal_type", "terminal_city",
      "terminal_address"))
    assert(t1.rows.size == 20)
    val sizes = days.map(d =>
      Xlsx.read(s"$refData/passport_blacklist_$d.xlsx").rows.size)
    assert(sizes == Seq(7, 17, 23)) // all-null styled rows dropped
    assert(Xlsx.serialToDate(44256).toString == "2021-03-01")
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
}
