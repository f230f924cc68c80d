package graft.bank

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batch day ([[Pipeline.runDayStaged]]) over the three hand-built
  * days of [[BankDays]], in the reference's full-history rule mode;
  * the expected figures are derived there by hand. */
class BatchDaySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import BankDays._

  /** Run the three days; per day, the rows of the META files the day
    * added. */
  private lazy val run: (Warehouse, Seq[Seq[Seq[Row]]]) = {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("batchday").resolve("wh").toString)
    val pipe = new Pipeline(wh, seed)
    val added = days.map { case (day, txns, bl, terms) =>
      metaAdded(wh)(pipe.runDayStaged(txnsDf(txns), blacklistDf(bl),
        terminalsDf(terms), day))
    }
    (wh, added)
  }

  test("each day appends its 10 META rows once, in reference order") {
    val (_, added) = run
    days.zip(added).zip(expectedRules).foreach {
      case (((day, txns, bl, terms), files), rules) =>
        assert(files.size == 1, s"$day: ${files.size} META appends")
        val want =
          Seq(("stg_transactions", txns.size),
            ("stg_passport_blacklist", bl.size),
            ("stg_terminals", terms.size),
            ("CLEAR_stg_transactions", 0), ("CLEAR_stg_terminals", 0),
            ("CLEAR_stg_passport_blacklist", 0)) ++
            ruleTypes.map(_._1).zip(rules)
        assert(files.head.map(r => (r.getString(0), r.getInt(2))) == want,
          s"$day")
        assert(files.head.forall(r =>
          r.getDate(1) == day && r.getString(3) == "SUCCESS"), s"$day")
    }
  }

  test("each rule's META count equals its mart rows for the day; no hits log 0") {
    val (wh, _) = run
    val mart = wh.read(Pipeline.RepFraud)
      .groupBy("report_dt", "event_type").count().collect()
      .map(r => (r.getDate(0), r.getString(1)) -> r.getLong(2)).toMap
    val meta = wh.read(Pipeline.MetaLoading)
      .where(col("table_name").startsWith("REP_FRAUD_")).collect()
      .map(r => (r.getDate(1), r.getString(0)) -> r.getInt(2).toLong).toMap
    days.map(_._1).zip(expectedRules).foreach { case (day, rules) =>
      ruleTypes.zip(rules).foreach { case ((metaName, eventType), n) =>
        assert(meta((day, metaName)) == n, s"$day $metaName")
        assert(mart.getOrElse((day, eventType), 0L) == n,
          s"$day $eventType")
      }
    }
    assert(mart.values.sum == expectedRules.flatten.sum)
  }

  test("a day-1 chain re-derived by the day-2 rescan is not re-reported") {
    val (wh, _) = run
    val chains = wh.read(Pipeline.RepFraud)
      .where(col("event_type").isin(ruleTypes.drop(2).map(_._2): _*))
      .select(col("event_type"), col("passport"),
        date_format(col("event_dt"), "yyyy-MM-dd HH:mm:ss"), col("report_dt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDate(3))).toSet
    assert(chains == Set(
      ("ops in diff cities less one hour", "P4", "2021-03-01 11:30:00",
        d("2021-03-01")),
      ("amount guessing", "P3", "2021-03-02 10:10:00", d("2021-03-02"))))
  }

  test("facts and blacklist hold every staged row exactly once") {
    val (wh, _) = run
    assert(wh.read(Pipeline.FactTransactions).count() ==
      days.map(_._2.size).sum)
    assert(wh.read(Pipeline.FactBlacklist).select("passport").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("P1", "P3", "P9"))
  }

  test("rep_fraud holds one report_dt partition per day run") {
    val (wh, _) = run
    assert(wh.partitionValues(Pipeline.RepFraud, "report_dt").sorted ==
      days.map(_._1.toString))
  }

  test("a re-run of a completed day leaves every warehouse file untouched") {
    val (wh, _) = run
    val before = fileListing(wh.root)
    val pipe = new Pipeline(wh, seed)
    days.foreach { case (day, txns, bl, terms) =>
      pipe.runDayStaged(txnsDf(txns), blacklistDf(bl), terminalsDf(terms), day)
    }
    assert(fileListing(wh.root) == before)
    // a different file for a completed day is an upstream fault
    val (day, txns, bl, terms) = days(1)
    val ex = intercept[IllegalArgumentException] {
      pipe.runDayStaged(txnsDf(txns.tail), blacklistDf(bl), terminalsDf(terms),
        day)
    }
    assert(ex.getMessage.contains("different content"), ex.getMessage)
    assert(fileListing(wh.root) == before)
  }

  test("a crash at any write boundary, then a re-run, heals to the uninterrupted run") {
    val (want, _) = run
    def state(wh: Warehouse) =
      Seq(Pipeline.FactBlacklist, Pipeline.DimTerminals,
        Pipeline.FactTransactions, Pipeline.RepFraud, Pipeline.MetaLoading)
        .map(t => wh.read(t).collect().map(_.toString).sorted.toSeq)
    def runDay(pipe: Pipeline, i: Int, failpoint: String => Unit = _ => ()) = {
      val (day, txns, bl, terms) = days(i)
      pipe.runDayStaged(txnsDf(txns), blacklistDf(bl), terminalsDf(terms),
        day, failpoint)
    }
    Seq("scd2_swap", "fact_overwrite", "mart_overwrite").foreach { cut =>
      val wh = new Warehouse(spark,
        Files.createTempDirectory(s"batchday_$cut").resolve("wh").toString)
      val pipe = new Pipeline(wh, seed)
      runDay(pipe, 0)
      val ex = intercept[RuntimeException] {
        runDay(pipe, 1, l => if (l == cut)
          throw new RuntimeException(s"injected crash at $l"))
      }
      assert(ex.getMessage.contains(cut))
      (1 to 2).foreach(runDay(pipe, _))
      assert(state(wh) == state(want), cut)
    }
  }

  test("a transactions file with two dates, or a null date, fails before any table changes") {
    val (wh, _) = run
    val inbox = Files.createTempDirectory("batchday_bad")
    val header = "transaction_id;transaction_date;amount;card_num;" +
      "oper_type;oper_result;terminal"
    def row(id: String, ts: String) = s"$id;$ts;10,00;K1;PAYMENT;SUCCESS;T1"
    Seq(
      Seq(row("b1", "2021-03-04 10:00:00"), row("b2", "2021-03-05 10:00:00"))
        -> "dates 2021-03-04 to 2021-03-05 and 0 row(s)",
      Seq(row("b1", "2021-03-04 10:00:00"), row("b2", ""))
        -> "dates 2021-03-04 to 2021-03-04 and 1 row(s) with a null date"
    ).zipWithIndex.foreach { case ((rows, want), i) =>
      val txns = inbox.resolve(s"transactions_$i.txt")
      Files.writeString(txns, (header +: rows).mkString("", "\n", "\n"))
      val before = fileListing(wh.root)
      val ex = intercept[IllegalArgumentException] {
        new Pipeline(wh, seed).runDay(txns.toString,
          inbox.resolve("passport_blacklist.xlsx").toString,
          inbox.resolve("terminals.xlsx").toString,
          inbox.resolve("archive").toString)
      }
      assert(ex.getMessage.contains(want), ex.getMessage)
      assert(fileListing(wh.root) == before)
      assert(Files.exists(txns), "the rejected file was archived")
    }
  }
}
