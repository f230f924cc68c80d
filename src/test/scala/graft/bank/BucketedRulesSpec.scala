package graft.bank

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Δ-bucketed band-join plan for rules 3/4 (the 100 TB path, see
  * SCALING.md) is the only one the daily cycle runs; on the replayed
  * fixture ([[RefFixture]]) it must produce the exact rows of the
  * reference's naive plan (`FraudRules.rule3/rule4` with
  * `bucketed = false`). */
@graft.SlowIntegration
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

  test("bucketed rules 3/4 give the naive plan's rows on the replayed fixture") {
    val (wh, seed) = replayed
    assert(wh.read(Pipeline.RepFraud).count() == 1075)
    // every rule-3/4 chain of the three days: no mart for J12 to drop by
    val facts = wh.read(Pipeline.FactTransactions)
    val noMart = wh.read(Pipeline.RepFraud).where(lit(false))
    val terms = wh.read(Pipeline.DimTerminals)
    val day = java.sql.Date.valueOf("2021-03-03")
    def r3(bucketed: Boolean) =
      rows(FraudRules.rule3(facts, terms, seed, noMart, day, bucketed))
    def r4(bucketed: Boolean) =
      rows(FraudRules.rule4(facts, seed, noMart, day, bucketed))
    assert(r3(true).nonEmpty && r4(true).nonEmpty)
    assert(r3(true) == r3(false))
    assert(r4(true) == r4(false))
  }
}
