package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import graft.bank.{BankDays, FraudRules, FraudRulesJoinTwin, Pipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming day — [[Pipeline.runDayStaged]] in the streaming mode,
  * the day function [[IngestStream.runDailyDrains]] runs — over the
  * hand-built days of [[BankDays]], against the batch day on the same
  * rows. The streaming day runs its one rule plan, the pruned one; the
  * batch day the reference's full rescan.
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

  private def runDays(pipe: Pipeline, ds: Seq[Day]): Unit =
    ds.indices.foreach(runDay(pipe, ds, _))

  private def runDay(pipe: Pipeline, ds: Seq[Day], i: Int,
                     failpoint: String => Unit = _ => ()): Unit = {
    val (day, txns, bl, terms) = ds(i)
    pipe.runDayStaged(txnsDf(txns), blacklistDf(bl), terminalsDf(terms),
      day, failpoint)
  }

  private def newWh(prefix: String): Warehouse =
    new Warehouse(spark, Files.createTempDirectory(prefix).resolve("wh").toString)

  private def streamPipe(wh: Warehouse) = new Pipeline(wh, seed, streaming = true)

  private def batchRun(ds: Seq[Day]): Warehouse = {
    val wh = newWh("txnday_batch")
    runDays(new Pipeline(wh, seed), ds)
    wh
  }

  /** The streaming run over `ds`; per day, the rows of the META files
    * the day added. */
  private def streamRun(ds: Seq[Day]): (Warehouse, Seq[Seq[Seq[Row]]]) = {
    val wh = newWh("txnday_stream")
    val pipe = streamPipe(wh)
    (wh, ds.indices.map(i => metaAdded(wh)(runDay(pipe, ds, i))))
  }

  private lazy val batch = batchRun(days)
  private lazy val stream = streamRun(days)
  private lazy val midnightBatch = batchRun(midnightDays)

  test("fact and rules 3/4 match the batch") {
    val (sw, _) = stream
    val bw = batch
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
    val firstReported = ofTypes(batch.read(Pipeline.RepFraud), types12)
      .groupBy(cols.map(col): _*).agg(min("report_dt").as("report_dt"))
    val streamed = ofTypes(sw.read(Pipeline.RepFraud), types12)
      .select((cols :+ "report_dt").map(col): _*)
    // K1 on day 1, K2 on day 2, K3 on day 3
    assert(rowSet(streamed).size == 3)
    assert(rowSet(streamed) == rowSet(firstReported))
  }

  test("each stream day writes one META file holding its 7 rows") {
    val (_, added) = stream
    days.zip(added).zip(expectedStreamRules).foreach {
      case (((day, txns, bl, terms), files), rules) =>
        assert(files.size == 1, s"$day: ${files.size} META appends")
        assert(files.head.map(r => (r.getString(0), r.getDate(1), r.getInt(2))) ==
          (Seq(("stg_transactions", day, txns.size),
            ("stg_passport_blacklist", day, bl.size),
            ("stg_terminals", day, terms.size)) ++
            ruleTypes.map(_._1).zip(rules).map { case (t, n) => (t, day, n) }),
          s"$day")
    }
  }

  test("a crash at either overwrite, then a replay, heals to the uninterrupted run with META once") {
    val (sw, _) = stream
    def state(wh: Warehouse) =
      Seq(Pipeline.FactBlacklist, Pipeline.DimTerminals,
        Pipeline.FactTransactions, Pipeline.RepFraud, Pipeline.MetaLoading)
        .map(t => rowSet(wh.read(t)))
    val want = state(sw)
    // cut inside day 2, whose rule-4 hit is what J12 must not see on the
    // replay and whose blacklist and snapshot change the dimensions
    val base = newWh("txnday_base")
    runDay(streamPipe(base), days, 0)
    Seq("scd2_swap", "fact_overwrite", "mart_overwrite").foreach { cut =>
      val root = Files.createTempDirectory(s"txnday_$cut").resolve("wh")
      copyDir(Paths.get(base.root), root)
      val wh = new Warehouse(spark, root.toString)
      val pipe = streamPipe(wh)
      val ex = intercept[RuntimeException] {
        runDay(pipe, days, 1, l => if (l == cut)
          throw new RuntimeException(s"injected crash at $l"))
      }
      assert(ex.getMessage.contains(cut))
      runDay(pipe, days, 1)
      runDay(pipe, days, 2)
      // blacklist, dimension, fact, mart and every META row (day 2's
      // seven among them) as in the uninterrupted run, each exactly once
      assert(state(wh) == want, cut)
    }
  }

  test("verbatim re-delivery of a completed day changes nothing") {
    val (sw, _) = stream
    val before = fileListing(sw.root)
    runDays(streamPipe(sw), days)
    assert(fileListing(sw.root) == before)
  }

  test("re-delivery over tables stranded mid-swap heals them and changes nothing") {
    val (sw, _) = stream
    val root = Files.createTempDirectory("txnday_stranded").resolve("wh")
    copyDir(Paths.get(sw.root), root)
    val before = fileListing(root.toString)
    // a crash between a swap's delete and its move: META only at its
    // `.tmp`
    Files.move(root.resolve(Pipeline.MetaLoading),
      root.resolve(s"${Pipeline.MetaLoading}.tmp"))
    runDays(streamPipe(new Warehouse(spark, root.toString)), days)
    assert(fileListing(root.toString) == before)
  }

  test("a transaction of another date fails the day: no fact partition, no META row") {
    val wh = newWh("txnday_foreign")
    val pipe = streamPipe(wh)
    runDay(pipe, days, 0)
    val day1Fact = rowSet(wh.read(Pipeline.FactTransactions))
    val (day, txns, bl, terms) = days(1)
    // day 2's drop carrying one row of day 1
    val foreign = days(0)._2.head.copy(_1 = "T_foreign")
    val ex = intercept[IllegalArgumentException] {
      pipe.runDayStaged(txnsDf(txns :+ foreign), blacklistDf(bl),
        terminalsDf(terms), day)
    }
    assert(ex.getMessage.contains(s"the transactions of $day hold dates"))
    // the partition written before the check is deleted again, day 1's
    // partition is untouched, and day 2 logged nothing
    assert(wh.partitionValues(Pipeline.FactTransactions, "txn_date") ==
      Seq(days(0)._1.toString))
    assert(rowSet(wh.read(Pipeline.FactTransactions)) == day1Fact)
    assert(wh.read(Pipeline.MetaLoading)
      .where(col("event_dt") === lit(day)).isEmpty)
    assert(!Pipeline.completed(wh, day))
  }

  test("midnight-crossing chains: the pruned stream mart is the batch mart") {
    val (sw, _) = streamRun(midnightDays)
    val want = rowSet(midnightBatch.read(Pipeline.RepFraud))
    assert(want.count(_.contains(types34.head)) == 2, want.mkString("\n"))
    assert(want.count(_.contains(types34(1))) == 1, want.mkString("\n"))
    assert(want.size == 3)
    assert(rowSet(sw.read(Pipeline.RepFraud)) == want)
  }

  test("rules 3/4: the bucketed band join gives the naive join's rows") {
    Seq(batch -> d("2021-03-03"), midnightBatch -> d("2021-04-04"))
      .foreach { case (wh, day) =>
        val facts = wh.read(Pipeline.FactTransactions)
        val noMart = wh.read(Pipeline.RepFraud).where(lit(false))
        val terms = wh.read(Pipeline.DimTerminals)
        val r34 = FraudRules.bandRules(facts, terms, seed, noMart)
        val r3 = rowSet(ofTypes(r34, Seq(FraudRules.DiffCities)))
        val r4 = rowSet(ofTypes(r34, Seq(FraudRules.AmountGuessing)))
        // every chain of the run, none dropped by J12
        assert(r3.size == (if (wh eq batch) 1 else 2), day)
        assert(r4.size == 1, day)
        // production against the band-join twin's naive plan
        assert(r3 == rowSet(FraudRulesJoinTwin.rule3(facts, terms, seed,
          noMart)), day)
        assert(r4 == rowSet(FraudRulesJoinTwin.rule4(facts, seed, noMart)),
          day)
      }
  }
}
