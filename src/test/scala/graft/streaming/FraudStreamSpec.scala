package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.bank.{BankDays, Ingest, Pipeline, RefFixture, Warehouse}

/** The one streaming drain ([[IngestStream.runDailyDrains]]) on the
  * committed fixture ([[RefFixture]]): per-day parity with the batch
  * [[graft.bank.Pipeline]], idempotent re-delivery of completed days,
  * loud failure on different-content or out-of-order delivery, healing
  * after a crash at any write boundary, the pending ledger of incomplete
  * days, compact-behind, and the drain's own cost: one query per call,
  * file paths only, one META append per day. */
class FraudStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val days = RefFixture.days
  private def seed = Inbox.seed

  private def rowSet(df: DataFrame): Set[String] =
    df.selectExpr(s"concat_ws('|', ${df.columns.mkString(",")})")
      .collect().map(_.getString(0)).toSet

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(e => Option(e.getMessage)).toSeq

  private val tables = Seq(Pipeline.FactBlacklist, Pipeline.DimTerminals,
    Pipeline.FactTransactions, Pipeline.RepFraud, Pipeline.MetaLoading)

  /** The batch-path warehouse over the same fixture, built once. */
  private lazy val batchWh: Warehouse = {
    val work = java.nio.file.Files.createTempDirectory("fraudstream_batch")
    val wh = new Warehouse(spark, work.resolve("wh").toString)
    RefFixture.replay(wh, seed, work)
    wh
  }

  private def markers(wh: Warehouse): Long = wh.read(Pipeline.MetaLoading)
    .where(col("table_name") === "REP_FRAUD_attempt_amount").count()

  test("steady-state day-by-day drains match the batch pipeline's mart") {
    val in = Inbox.fresh("fraudstream_steady")
    days.foreach { d =>
      in.deliver(d)
      assert(in.drain() == 1)
    }
    val wh = in.wh
    // fact, mart, dimension and blacklist parity (rules 1/2 have no hit
    // before day 3, so the pruned plan's mart is the batch mart here)
    Seq(Pipeline.FactTransactions, Pipeline.RepFraud, Pipeline.DimTerminals,
      Pipeline.FactBlacklist).foreach { t =>
      assert(rowSet(wh.read(t)) == rowSet(batchWh.read(t)), t)
    }
    // META: the 7 rows of a streaming day, the four rule rows among them
    assert(wh.read(Pipeline.MetaLoading).count() == 7L * days.size)
    assert(wh.read(Pipeline.MetaLoading)
      .where(col("table_name").startsWith("REP_FRAUD_")).count() ==
      4L * days.size)

    // idempotent re-run: nothing new in the inbox → zero committing
    // batches, nothing written
    val before = BankDays.fileListing(wh.root)
    assert(in.drain() == 0)
    assert(BankDays.fileListing(wh.root) == before)

    // verbatim replay of a COMPLETED day (crash between the day's writes
    // and the source's commit): absorbed, nothing written
    val pipe = new Pipeline(wh, seed, streaming = true)
    val (t, b, m) = in.dayFiles(days(2))
    pipe.runFiles(t, b, m)
    assert(BankDays.fileListing(wh.root) == before)

    // different-content re-delivery of a completed day: loud failure,
    // not silent partition replacement — both the truncated case…
    val (typed, day) = Ingest.transactions(spark,
      s"${RefFixture.dataDir}/transactions_03032021.txt")
    val bl = Ingest.blacklist(spark,
      s"${RefFixture.dataDir}/passport_blacklist_03032021.xlsx")
    val terms = Ingest.terminals(spark,
      s"${RefFixture.dataDir}/terminals_03032021.xlsx")
    val ex = intercept[IllegalArgumentException] {
      pipe.runDayStaged(typed.limit(100), bl, terms, day)
    }
    assert(ex.getMessage.contains("different content"))
    // …and the nastier SAME-COUNT case (one field edited in a re-drop):
    // the count alone cannot see it; the xor row-hash signature must
    val anId = typed.agg(min(col("transaction_id"))).head().getString(0)
    val tweaked = typed.withColumn("oper_type",
      when(col("transaction_id") === anId, lit("TWEAKED"))
        .otherwise(col("oper_type")))
    val ex2 = intercept[IllegalArgumentException] {
      pipe.runDayStaged(tweaked, bl, terms, day)
    }
    assert(ex2.getMessage.contains("different content"))
    assert(BankDays.fileListing(wh.root) == before)
  }

  test("whole-backlog drain: one batch, day-ordered; rules 1/2 match steady state") {
    val in = Inbox.fresh("fraudstream_backlog")
    days.foreach(in.deliver(_))
    assert(in.drain() == 1)
    // all three days landed and completed, each over its own day's
    // dimensions: every table is the batch one (rules 1/2 have no hit
    // before day 3)
    assert(markers(in.wh) == 3)
    Seq(Pipeline.FactTransactions, Pipeline.RepFraud, Pipeline.DimTerminals,
      Pipeline.FactBlacklist).foreach { t =>
      assert(rowSet(in.wh.read(t)) == rowSet(batchWh.read(t)), t)
    }
  }

  test("runDailyDrains: the main.py-shaped cycle matches the batch mart end to end") {
    val in = Inbox.fresh("fraudstream_cycle")
    def cycle() = IngestStream.runDailyDrains(spark, in.dir.toString,
      in.checkpoints.toString, in.wh, seed)
    // idle first cycle: the drop directories are created, nothing
    // committed anywhere
    assert(cycle() == 0)
    days.foreach { d =>
      in.deliver(d)
      assert(cycle() == 1)
    }
    Seq(Pipeline.RepFraud, Pipeline.DimTerminals, Pipeline.FactBlacklist)
      .foreach(t => assert(rowSet(in.wh.read(t)) == rowSet(batchWh.read(t)), t))
    // quiet follow-up cycle: nothing new, nothing changes
    val mart = rowSet(in.wh.read(Pipeline.RepFraud))
    assert(cycle() == 0)
    assert(rowSet(in.wh.read(Pipeline.RepFraud)) == mart)
  }

  test("out-of-order transactions drop fails loudly before touching state") {
    val in = Inbox.fresh("fraudstream_ooo")
    // day 2 completes first…
    in.deliver(days(1))
    assert(in.drain() == 1)
    val before = BankDays.fileListing(in.wh.root)
    // …then day 1 arrives late: the rules are day-order sensitive (day
    // 1's band joins would see day 2 facts), so this must fail loudly,
    // not silently diverge from the batch path
    in.deliver(days(0))
    val ex = intercept[StreamingQueryException](in.drain())
    assert(messages(ex).exists(_.contains("out-of-order")), messages(ex))
    assert(BankDays.fileListing(in.wh.root) == before)
  }

  test("crash injection: every write boundary of the multi-write day heals to byte parity") {
    // The day's writes, in order: blacklist append → tagged SCD2 swap →
    // fact partition overwrite → mart partition overwrite → one META
    // append. A crash after any of them, followed by the next drain
    // (which replays the uncommitted micro-batch), must converge to the
    // warehouse of an uninterrupted run: the blacklist heals by its
    // anti-join, the dimension by its applied-day tag, fact and mart by
    // partition overwrite (the mart computed against the
    // mart-without-today, so a crashed attempt's own rows cannot perturb
    // the recomputation). META is written once, after all of them.
    val base = Inbox.fresh("fraudcrash_base")
    days.take(2).foreach(base.deliver(_))
    assert(base.drain() == 1)
    base.deliver(days(2))

    val oracle = base.fork("fraudcrash_oracle")
    assert(oracle.drain() == 1)
    val want = tables.map(t => rowSet(oracle.wh.read(t)))

    Seq("scd2_swap", "fact_overwrite", "mart_overwrite").foreach { cut =>
      val in = base.fork(s"fraudcrash_$cut")
      val ex = intercept[StreamingQueryException] {
        in.drain(failpoint = l => if (l == cut)
          throw new RuntimeException(s"injected crash at $l"))
      }
      assert(messages(ex).exists(_.contains(cut)), messages(ex))
      assert(in.drain() == 1)
      assert(tables.map(t => rowSet(in.wh.read(t))) == want,
        s"warehouse diverged after crash at $cut")
      assert(in.wh.read(Pipeline.MetaLoading)
        .where(col("table_name") === "REP_FRAUD_attempt_amount" &&
          col("event_dt") === "2021-03-03").count() == 1)
    }
  }

  test("an incomplete day waits in the pending table and runs with its last drop") {
    val in = Inbox.fresh("fraudstream_pending")
    in.deliver(days(0), "blacklist", "terminals")
    assert(in.drain() == 1)
    assert(!in.wh.exists(Pipeline.FactTransactions))
    assert(!in.wh.exists(Pipeline.FactBlacklist))
    assert(in.wh.read(Pipeline.PendingDrops).count() == 2)
    // one file per micro-batch: day 2 may complete before day 1's last
    // drop arrives, and then waits behind it
    in.deliver(days(0), "transactions")
    in.deliver(days(1))
    assert(in.drain(maxFilesPerTrigger = Some(1)) == 4)
    assert(!in.wh.exists(Pipeline.PendingDrops))
    assert(markers(in.wh) == 2)
    Seq(Pipeline.FactTransactions, Pipeline.RepFraud).foreach { t =>
      assert(rowSet(in.wh.read(t)) == rowSet(batchWh.read(t)
        .where(col(if (t == Pipeline.RepFraud) "report_dt" else "txn_date") <=
          lit("2021-03-02"))), t)
    }
  }

  test("one drain per call: one query, file paths only, one META append per day") {
    val in = Inbox.fresh("fraudstream_one")
    val started = new AtomicInteger
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // the formatted physical plan of every SQL execution; the micro-batch's
    // file-source scan is among them
    val scans = new ConcurrentLinkedQueue[String]
    val plans = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("Scan binaryFile") =>
          scans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.streams.addListener(queries)
    spark.sparkContext.addSparkListener(plans)
    try {
      in.deliver(days(0))
      val added = BankDays.metaAdded(in.wh) {
        assert(IngestStream.runDailyDrains(spark, in.dir.toString,
          in.checkpoints.toString, in.wh, seed) == 1)
      }
      assert(started.get == 1)
      assert(added.size == 1 && added.head.size == 7, added)
      // the listener bus delivers execution events asynchronously
      val deadline = System.nanoTime() + 30000000000L
      while (scans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!scans.isEmpty)
      scans.asScala.foreach { s =>
        assert(s.contains("ReadSchema: struct<path:string>"), s)
        assert(!s.contains("content"), s)
      }
    } finally {
      spark.streams.removeListener(queries)
      spark.sparkContext.removeSparkListener(plans)
    }
  }

  test("4-day replay: the pruned plan reports each rule-1/2 hit on one report_dt") {
    val in = Inbox.fresh("fraudstream_day4")
    (days :+ RefFixture.day4).foreach(in.deliver(_))
    assert(in.drain() == 1)
    val mart = in.wh.read(Pipeline.RepFraud).cache()
    // day 4 is the first day on which the full rescan re-reports: the
    // replica's batch mart logs 1,516 / 599 rule-1/2 rows there, its
    // same-day hits alone are 757 / 303 (FIXTURES.md A6)
    val day4 = mart.where(col("report_dt") === "2021-03-04")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(day4 == Map("blocked or expired passport" -> 757L,
      "invalid contract" -> 303L, "amount guessing" -> 6L,
      "ops in diff cities less one hour" -> 3L), day4)
    assert(mart.where(col("event_type").isin("blocked or expired passport",
        "invalid contract"))
      .groupBy("event_type", "passport", "event_dt")
      .agg(countDistinct("report_dt").as("reports"))
      .where(col("reports") > 1).count() == 0)
    assert(in.wh.read(Pipeline.FactTransactions).count() == 6309)
    assert(in.wh.read(Pipeline.DimTerminals).count() == 33)
    mart.unpersist()
  }

  test("compact-behind bounds file counts of the append-accumulating tables") {
    val in = Inbox.fresh("fraudstream_compact")
    days.foreach(in.deliver(_))
    // cadence 1: every drain compacts (the spec-visible extreme; the
    // default 256 compacts every ~256 files)
    in.drain(compactAboveFiles = 1)
    val wh = in.wh
    val meta = wh.read(Pipeline.MetaLoading).count()
    val rep = wh.read(Pipeline.RepFraud).count()
    val bl = wh.read(Pipeline.FactBlacklist).count()
    assert(wh.parquetFileCount(Pipeline.MetaLoading) <= 2,
      s"meta not compacted: ${wh.parquetFileCount(Pipeline.MetaLoading)} files")
    assert(wh.parquetFileCount(Pipeline.FactBlacklist) <= 2,
      s"blacklist not compacted: ${wh.parquetFileCount(Pipeline.FactBlacklist)} files")
    // the mart is never compacted: each day's partition is written once
    // at its final size, one file at the fixture's volume
    val martFiles = {
      val parts = java.nio.file.Files.list(
        java.nio.file.Paths.get(wh.root, Pipeline.RepFraud))
      try parts.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("report_dt="))
        .map(p => p.getFileName.toString -> p.toFile.list()
          .count(_.endsWith(".parquet"))).toMap
      finally parts.close()
    }
    assert(martFiles.size == 3 && martFiles.values.forall(_ == 1), martFiles)
    // data survives the rewrite
    assert(wh.read(Pipeline.MetaLoading).count() == meta)
    assert(wh.read(Pipeline.RepFraud).count() == rep)
    assert(wh.read(Pipeline.FactBlacklist).count() == bl)
    // partitioned fact keeps its layout (one dir per day) and prunes
    assert(wh.read(Pipeline.FactTransactions)
      .where(col("txn_date") === "2021-03-02").count() == 1582)
  }
}
