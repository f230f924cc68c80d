package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.SparkTestSession
import graft.bank.{BankDays, FraudRules, Pipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming transactions day ([[IngestStream.applyTransactionsBatch]])
  * over the hand-built days of [[BankDays]], against the batch day on the
  * same rows. The streaming day runs its one rule plan, the pruned one;
  * the batch day the reference's full rescan. The dimension tables a
  * streaming day reads come from the batch run's own state after that
  * day: the transactions path is the one under test.
  */
class TransactionsDaySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import BankDays._

  private val types12 = ruleTypes.take(2).map(_._2)
  private val types34 = ruleTypes.drop(2).map(_._2)

  private def rowSet(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def ofTypes(df: DataFrame, types: Seq[String]): DataFrame =
    df.where(col("event_type").isin(types: _*))

  private def applyDay(wh: Warehouse, ds: Seq[Day], i: Int,
                       failpoint: String => Unit = _ => ()): Unit =
    IngestStream.applyTransactionsBatch(wh, seed,
      txnsDf(ds(i)._2).withColumn("txn_date", to_date(col("transaction_date"))),
      failpoint)

  /** A batch run over some days, and after each of them a copy of its
    * dimension tables ([[BankDays.saveDims]]). */
  private final class BatchRun(val wh: Warehouse, snapshots: Path) {
    /** Put this run's dimension state after day `i` into `into`. */
    def landDims(into: Warehouse, i: Int): Unit =
      BankDays.landDims(snapshots, i, into)
  }

  private def batchRun(ds: Seq[Day]): BatchRun = {
    val root = Files.createTempDirectory("txnday_batch")
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    val pipe = new Pipeline(wh, seed)
    ds.zipWithIndex.foreach { case ((day, txns, bl, terms), i) =>
      pipe.runDayStaged(txnsDf(txns), blacklistDf(bl), terminalsDf(terms),
        day)
      saveDims(wh, root.resolve("snapshots"), i)
    }
    new BatchRun(wh, root.resolve("snapshots"))
  }

  /** The streaming run over `ds`; per day, the rows of the META files
    * the day added. */
  private def streamRun(ds: Seq[Day], b: BatchRun)
      : (Warehouse, Seq[Seq[Seq[Row]]]) = {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("txnday_stream").resolve("wh").toString)
    val added = ds.indices.map { i =>
      b.landDims(wh, i)
      metaAdded(wh)(applyDay(wh, ds, i))
    }
    (wh, added)
  }

  private lazy val batch = batchRun(days)
  private lazy val stream = streamRun(days, batch)
  private lazy val midnightBatch = batchRun(midnightDays)

  test("fact and rules 3/4 match the batch") {
    val (sw, _) = stream
    val bw = batch.wh
    assert(rowSet(sw.read(Pipeline.FactTransactions)) ==
      rowSet(bw.read(Pipeline.FactTransactions)))
    val rows34 = rowSet(ofTypes(sw.read(Pipeline.RepFraud), types34))
    assert(rows34 == rowSet(ofTypes(bw.read(Pipeline.RepFraud), types34)))
    // K4's day-1 pair and K3's day-2 chain
    assert(rows34.size == 2)
  }

  test("each batch rules-1/2 hit is reported once, at its first report_dt") {
    val (sw, _) = stream
    val cols = Seq("event_dt", "passport", "fio", "phone", "event_type")
    val firstReported = ofTypes(batch.wh.read(Pipeline.RepFraud), types12)
      .groupBy(cols.map(col): _*).agg(min("report_dt").as("report_dt"))
    val streamed = ofTypes(sw.read(Pipeline.RepFraud), types12)
      .select((cols :+ "report_dt").map(col): _*)
    // K1 on day 1, K2 on day 2, K3 on day 3
    assert(rowSet(streamed).size == 3)
    assert(rowSet(streamed) == rowSet(firstReported))
  }

  test("each stream day writes one META file holding its 5 rows") {
    val (_, added) = stream
    days.zip(added).zip(expectedStreamRules).foreach {
      case (((day, txns, _, _), files), rules) =>
        assert(files.size == 1, s"$day: ${files.size} META appends")
        assert(files.head.map(r => (r.getString(0), r.getDate(1), r.getInt(2))) ==
          (("stg_transactions", day, txns.size) +:
            ruleTypes.map(_._1).zip(rules).map { case (t, n) => (t, day, n) }),
          s"$day")
    }
  }

  test("a crash at either overwrite, then a replay, heals to the uninterrupted run with META once") {
    val (sw, _) = stream
    def state(wh: Warehouse) =
      Seq(Pipeline.FactTransactions, Pipeline.RepFraud, Pipeline.MetaLoading)
        .map(t => rowSet(wh.read(t)))
    val want = state(sw)
    // cut inside day 2, whose rule-4 hit is what J12 must not see on the
    // replay; day 1 complete, day 2's dimensions landed
    val base = Files.createTempDirectory("txnday_base").resolve("wh")
    val baseWh = new Warehouse(spark, base.toString)
    batch.landDims(baseWh, 0)
    applyDay(baseWh, days, 0)
    batch.landDims(baseWh, 1)
    Seq("fact_overwrite", "mart_overwrite").foreach { cut =>
      val root = Files.createTempDirectory(s"txnday_$cut").resolve("wh")
      copyDir(base, root)
      val wh = new Warehouse(spark, root.toString)
      val ex = intercept[RuntimeException] {
        applyDay(wh, days, 1, l => if (l == cut)
          throw new RuntimeException(s"injected crash at $l"))
      }
      assert(ex.getMessage.contains(cut))
      applyDay(wh, days, 1)
      batch.landDims(wh, 2)
      applyDay(wh, days, 2)
      // fact, mart and every META row (day 2's five among them) as in
      // the uninterrupted run, each exactly once
      assert(state(wh) == want, cut)
    }
  }

  test("verbatim re-delivery of a completed day changes nothing") {
    val (sw, _) = stream
    val before = fileListing(sw.root)
    days.indices.foreach(applyDay(sw, days, _))
    assert(fileListing(sw.root) == before)
  }

  test("re-delivery over tables stranded mid-swap heals them and changes nothing") {
    val (sw, _) = stream
    val root = Files.createTempDirectory("txnday_stranded").resolve("wh")
    copyDir(Paths.get(sw.root), root)
    val before = fileListing(root.toString)
    // a crash between a swap's delete and its move: META only at its
    // `.tmp`, one fact leaf only at its `_tmppart_` sibling
    Files.move(root.resolve(Pipeline.MetaLoading),
      root.resolve(s"${Pipeline.MetaLoading}.tmp"))
    val fact = root.resolve(Pipeline.FactTransactions)
    Files.move(fact.resolve("txn_date=2021-03-02"),
      fact.resolve("_tmppart_txn_date__EQ__2021-03-02"))
    val wh = new Warehouse(spark, root.toString)
    days.indices.foreach(applyDay(wh, days, _))
    assert(fileListing(root.toString) == before)
  }

  test("midnight-crossing chains: the pruned stream mart is the batch mart") {
    val (sw, _) = streamRun(midnightDays, midnightBatch)
    val want = rowSet(midnightBatch.wh.read(Pipeline.RepFraud))
    assert(want.count(_.contains(types34.head)) == 2, want.mkString("\n"))
    assert(want.count(_.contains(types34(1))) == 1, want.mkString("\n"))
    assert(want.size == 3)
    assert(rowSet(sw.read(Pipeline.RepFraud)) == want)
  }

  test("rules 3/4: the bucketed band join gives the naive join's rows") {
    Seq(batch.wh -> d("2021-03-03"), midnightBatch.wh -> d("2021-04-04"))
      .foreach { case (wh, day) =>
        val facts = wh.read(Pipeline.FactTransactions)
        val noMart = wh.read(Pipeline.RepFraud).where(lit(false))
        val terms = wh.read(Pipeline.DimTerminals)
        def r3(bucketed: Boolean) = rowSet(FraudRules.rule3(facts, terms,
          seed, noMart, day, bucketed))
        def r4(bucketed: Boolean) = rowSet(FraudRules.rule4(facts, seed,
          noMart, day, bucketed))
        // every chain of the run, none dropped by J12
        assert(r3(true).size == (if (wh eq batch.wh) 1 else 2), day)
        assert(r4(true).size == 1, day)
        assert(r3(true) == r3(false), day)
        assert(r4(true) == r4(false), day)
      }
  }
}
