package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkTestSession
import graft.bank.{BankDays, Pipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming transactions day ([[IngestStream.applyTransactionsBatch]])
  * over the three hand-built days of [[BankDays]], against the batch
  * day on the same rows. Both dials off (the reference's full-history
  * rules), so the two modes must leave the same fact and mart. The
  * dimension tables a streaming day reads come from the batch run's own
  * state after that day: the transactions path is the one under test.
  */
class TransactionsDaySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import BankDays._

  private val dims = Seq(Pipeline.FactBlacklist, Pipeline.DimTerminals)

  private def copyDir(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private def rowSet(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def streamDay(i: Int): DataFrame =
    txnsDf(days(i)._2).withColumn("txn_date", to_date(col("transaction_date")))

  private def applyDay(wh: Warehouse, i: Int,
                       failpoint: String => Unit = _ => ()): Unit =
    IngestStream.applyTransactionsBatch(wh, seed, streamDay(i),
      incrementalRules12 = false, incrementalRules34 = false,
      failpoint = failpoint)

  /** The batch run, and after each of its days a copy of the two
    * dimension tables under `<snapshots>/<day index>/`. */
  private lazy val batch: (Warehouse, Path) = {
    val root = Files.createTempDirectory("txnday_batch")
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    val pipe = new Pipeline(wh, seed)
    days.zipWithIndex.foreach { case ((day, txns, bl, terms), i) =>
      pipe.runDayStaged(txnsDf(txns), blacklistDf(bl), terminalsDf(terms),
        day)
      dims.foreach(t => copyDir(Paths.get(wh.root, t),
        root.resolve(s"snapshots/$i/$t")))
    }
    (wh, root.resolve("snapshots"))
  }

  /** Put the batch run's dimension state after day `i` into `wh`. */
  private def landDims(wh: Warehouse, i: Int): Unit = dims.foreach { t =>
    wh.drop(t)
    copyDir(batch._2.resolve(s"$i/$t"), Paths.get(wh.root, t))
  }

  /** The streaming run over the three days; per day, the rows of the
    * META files the day added. */
  private lazy val stream: (Warehouse, Seq[Seq[Seq[Row]]]) = {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("txnday_stream").resolve("wh").toString)
    val added = days.indices.map { i =>
      landDims(wh, i)
      metaAdded(wh)(applyDay(wh, i))
    }
    (wh, added)
  }

  test("with both dials off, the stream day leaves the batch day's fact and mart") {
    val (bw, _) = batch
    val (sw, _) = stream
    Seq(Pipeline.FactTransactions, Pipeline.RepFraud).foreach { t =>
      assert(rowSet(sw.read(t)) == rowSet(bw.read(t)), t)
    }
    assert(sw.read(Pipeline.RepFraud).count() == expectedRules.flatten.sum)
  }

  test("each stream day writes one META file holding its 5 rows") {
    val (_, added) = stream
    days.zip(added).zip(expectedRules).foreach {
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
    landDims(baseWh, 0)
    applyDay(baseWh, 0)
    landDims(baseWh, 1)
    Seq("fact_overwrite", "mart_overwrite").foreach { cut =>
      val root = Files.createTempDirectory(s"txnday_$cut").resolve("wh")
      copyDir(base, root)
      val wh = new Warehouse(spark, root.toString)
      val ex = intercept[RuntimeException] {
        applyDay(wh, 1, l => if (l == cut)
          throw new RuntimeException(s"injected crash at $l"))
      }
      assert(ex.getMessage.contains(cut))
      applyDay(wh, 1)
      landDims(wh, 2)
      applyDay(wh, 2)
      // fact, mart and every META row (day 2's five among them) as in
      // the uninterrupted run, each exactly once
      assert(state(wh) == want, cut)
    }
  }

  test("verbatim re-delivery of a completed day changes nothing") {
    val (sw, _) = stream
    val before = fileListing(sw.root)
    days.indices.foreach(applyDay(sw, _))
    assert(fileListing(sw.root) == before)
  }
}
