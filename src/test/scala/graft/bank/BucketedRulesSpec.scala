package graft.bank

import java.nio.file.Files
import java.sql.Date

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The keyed (card, hour bucket) pass for rules 3/4 (the 100 TB path,
  * see SCALING.md) is the only one the daily cycle runs; on the replayed
  * fixture ([[RefFixture]]) it must produce the exact rows of the
  * reference's naive plan (the band-join twin [[FraudRulesJoinTwin]]).
  * The second test appends the fixture's day 4, so it runs last. */
class BucketedRulesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val replayed: (Warehouse, Seeds.Seed) = {
    val work = Files.createTempDirectory("bucketspec")
    val wh = new Warehouse(spark, work.resolve("wh").toString)
    val seed = Seeds.load(spark, RefFixture.seedSql)
    RefFixture.replay(wh, seed, work)
    (wh, seed)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** Production's rules 3/4 against the twin's on the warehouse's fact
    * and dimension, J12 reading `mart`; returns (rule 3, rule 4) rows. */
  private def same(wh: Warehouse, seed: Seeds.Seed, mart: DataFrame,
                   day: Date): (Seq[String], Seq[String]) = {
    val facts = wh.read(Pipeline.FactTransactions)
    val terms = wh.read(Pipeline.DimTerminals)
    val both = FraudRules.bandRules(facts, terms, seed, mart)
    val r3 = rows(both.where(col("event_type") === FraudRules.DiffCities))
    val r4 = rows(both.where(col("event_type") === FraudRules.AmountGuessing))
    assert(r3 == rows(FraudRulesJoinTwin.rule3(facts, terms, seed, mart)),
      s"$day: rule 3")
    assert(r4 == rows(FraudRulesJoinTwin.rule4(facts, seed, mart)),
      s"$day: rule 4")
    (r3, r4)
  }

  test("bucketed rules 3/4 give the naive plan's rows on the replayed fixture") {
    val (wh, seed) = replayed
    assert(wh.read(Pipeline.RepFraud).count() == 1075)
    // every rule-3/4 chain of the three days: no mart for J12 to drop by
    val noMart = wh.read(Pipeline.RepFraud).where(lit(false))
    val (r3, r4) = same(wh, seed, noMart, Date.valueOf("2021-03-03"))
    assert(r3.nonEmpty && r4.nonEmpty)
  }

  test("days 3 and 4 of the fixture, J12 reading the real mart") {
    val (wh, seed) = replayed
    def counts(day: String): (Int, Int) = {
      val d = Date.valueOf(day)
      val (r3, r4) = same(wh, seed,
        wh.read(Pipeline.RepFraud).where(col("report_dt") =!= lit(d)), d)
      (r3.size, r4.size)
    }
    // the replica's day-3 mart: 4 rule-3 and 7 rule-4 rows (FIXTURES.md A6)
    assert(counts("2021-03-03") == (4, 7))
    val d4 = RefFixture.day4
    new Pipeline(wh, seed).runFiles(
      RefFixture.drop(s"transactions_$d4.txt").toString,
      RefFixture.drop(s"passport_blacklist_$d4.xlsx").toString,
      RefFixture.drop(s"terminals_$d4.xlsx").toString)
    // the replica's day-4 mart: 3 rule-3 and 6 rule-4 rows (FIXTURES.md A6)
    assert(counts("2021-03-04") == (3, 6))
  }
}
