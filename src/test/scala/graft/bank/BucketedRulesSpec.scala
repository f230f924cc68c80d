package graft.bank

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Δ-bucketed band-join plan for rules 3/4 (the 100 TB path, see
  * SCALING.md) is the only one the daily cycle runs; on the replayed
  * fixture it must produce the exact rows of the reference's naive plan
  * (`FraudRules.rule3/rule4` with `bucketed = false`). */
@graft.SlowIntegration
class BucketedRulesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val refData = "/root/reference/data/data"
  private val days = Seq("01032021", "02032021", "03032021")

  private lazy val replayed: (Warehouse, Seeds.Seed) = {
    val work = Files.createTempDirectory("bucketspec").toString
    val inbox = Paths.get(work, "inbox")
    Files.createDirectories(inbox)
    days.foreach { d =>
      Seq(s"transactions_$d.txt", s"passport_blacklist_$d.xlsx",
        s"terminals_$d.xlsx").foreach { n =>
        Files.copy(Paths.get(refData, n), inbox.resolve(n),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val wh = new Warehouse(spark, Paths.get(work, "wh").toString)
    val seed = Seeds.load(spark, "/root/reference/data/ddl_dml.sql")
    val pipe = new Pipeline(wh, seed)
    days.foreach { d =>
      pipe.runDay(
        inbox.resolve(s"transactions_$d.txt").toString,
        inbox.resolve(s"passport_blacklist_$d.xlsx").toString,
        inbox.resolve(s"terminals_$d.xlsx").toString,
        Paths.get(work, "archive").toString)
    }
    (wh, seed)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("bucketed rules 3/4 give the naive plan's rows on the replayed fixture") {
    val (wh, seed) = replayed
    assert(wh.read(Pipeline.RepFraud).count() == 1100)
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
