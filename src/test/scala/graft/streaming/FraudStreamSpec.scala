package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.bank.{Pipeline, RefFixture, Seeds, Warehouse}

/** Streaming twin of the transactions → fact → REP_FRAUD daily stage
  * (the last stage without a twin), on the committed 3-day fixture
  * ([[RefFixture]]): per-day parity with the batch [[graft.bank.Pipeline]],
  * idempotent re-delivery of completed days, loud failure on
  * different-content re-delivery, and compact-behind on the
  * append-accumulating tables. */
@graft.SlowIntegration
class FraudStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val refData = RefFixture.dataDir
  private val days = RefFixture.days
  private lazy val seed = Seeds.load(spark, RefFixture.seedSql)

  private def copyIn(dir: Path, name: String): Unit =
    Files.copy(Paths.get(refData, name), dir.resolve(name),
      StandardCopyOption.REPLACE_EXISTING)

  private def rowSet(df: DataFrame): Set[String] =
    df.selectExpr(s"concat_ws('|', ${df.columns.mkString(",")})")
      .collect().map(_.getString(0)).toSet

  /** Drive the xlsx twins for one day so the fraud rules see the same
    * dimension/blacklist state the batch pipeline has on that day. */
  private def drainDims(root: Path, wh: Warehouse, d: String): Unit = {
    val blInbox = root.resolve("bl_inbox"); Files.createDirectories(blInbox)
    val tInbox = root.resolve("t_inbox"); Files.createDirectories(tInbox)
    copyIn(blInbox, s"passport_blacklist_$d.xlsx")
    copyIn(tInbox, s"terminals_$d.xlsx")
    IngestStream.blacklistAvailableNow(spark, blInbox.toString,
      root.resolve("bl_cp").toString, wh)
    IngestStream.terminalsScd2AvailableNow(spark, tInbox.toString,
      root.resolve("t_cp").toString, wh)
  }

  /** The batch-path mart over the same fixture, built once. */
  private lazy val batchWh: Warehouse = {
    val work = Files.createTempDirectory("fraudstream_batch")
    val wh = new Warehouse(spark, work.resolve("wh").toString)
    RefFixture.replay(wh, seed, work)
    wh
  }

  test("steady-state day-by-day drains match the batch pipeline's mart") {
    val root = Files.createTempDirectory("fraudstream_steady")
    val inbox = Files.createDirectories(root.resolve("inbox"))
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    val cp = root.resolve("cp").toString
    days.foreach { d =>
      // reference drive order within a day (main.py): blacklist and
      // terminals land first, then transactions + rules
      drainDims(root, wh, d)
      copyIn(inbox, s"transactions_$d.txt")
      assert(IngestStream.transactionsFraudAvailableNow(
        spark, inbox.toString, cp, wh, seed) >= 1)
    }
    // fact parity (same rows; the twin partition-overwrites, the batch
    // path blind-appends — content must agree)
    assert(wh.read(Pipeline.FactTransactions).count() ==
      batchWh.read(Pipeline.FactTransactions).count())
    assert(rowSet(wh.read(Pipeline.RepFraud)) ==
      rowSet(batchWh.read(Pipeline.RepFraud)))

    // META audit parity for the rule rows: one row per rule per day
    val ruleRows = wh.read(Pipeline.MetaLoading)
      .where(col("table_name").startsWith("REP_FRAUD_"))
    assert(ruleRows.count() == 4L * days.size)

    // idempotent re-run: nothing new in the inbox → zero committing
    // batches, mart and fact unchanged
    val martBefore = rowSet(wh.read(Pipeline.RepFraud))
    assert(IngestStream.transactionsFraudAvailableNow(
      spark, inbox.toString, cp, wh, seed) == 0)
    assert(rowSet(wh.read(Pipeline.RepFraud)) == martBefore)

    // verbatim replay of a COMPLETED day (crash between foreachBatch
    // commit and checkpoint advance): absorbed — no new fact rows, no
    // rule rerun, no duplicate rule-1/2 reports
    val factBefore = wh.read(Pipeline.FactTransactions).count()
    val day3 = spark.read.option("sep", ";").option("header", "true")
      .schema(graft.bank.Schemas.transactionsCsv)
      .csv(inbox.resolve("transactions_03032021.txt").toString)
    val typed = graft.bank.Ingest.typedTransactions(day3)
      .withColumn("txn_date", to_date(col("transaction_date")))
    IngestStream.applyTransactionsBatch(wh, seed, typed)
    assert(wh.read(Pipeline.FactTransactions).count() == factBefore)
    assert(rowSet(wh.read(Pipeline.RepFraud)) == martBefore)

    // different-content re-delivery of a completed day: loud failure,
    // not silent partition replacement — both the truncated case…
    val ex = intercept[IllegalArgumentException] {
      IngestStream.applyTransactionsBatch(wh, seed, typed.limit(100))
    }
    assert(ex.getMessage.contains("different content"))
    // …and the nastier SAME-COUNT case (one field edited in a re-drop):
    // the count alone cannot see it; the xor row-hash signature must
    val anId = typed.agg(min(col("transaction_id"))).head().getString(0)
    val tweaked = typed.withColumn("oper_type",
      when(col("transaction_id") === anId, lit("TWEAKED"))
        .otherwise(col("oper_type")))
    val ex2 = intercept[IllegalArgumentException] {
      IngestStream.applyTransactionsBatch(wh, seed, tweaked)
    }
    assert(ex2.getMessage.contains("different content"))
    assert(wh.read(Pipeline.FactTransactions).count() == factBefore)
  }

  test("whole-backlog drain: one batch, day-ordered; rules 1/2 match steady state") {
    val root = Files.createTempDirectory("fraudstream_backlog")
    val inbox = Files.createDirectories(root.resolve("inbox"))
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    // dims land fully first (backlog recovery shape: xlsx twins drain
    // their whole backlog before the fraud drain runs)
    days.foreach(drainDims(root, wh, _))
    days.foreach(d => copyIn(inbox, s"transactions_$d.txt"))
    assert(IngestStream.transactionsFraudAvailableNow(
      spark, inbox.toString, root.resolve("cp").toString, wh, seed,
      maxFilesPerTrigger = 10000) == 1)
    // all three days landed and completed
    assert(wh.read(Pipeline.FactTransactions).count() ==
      batchWh.read(Pipeline.FactTransactions).count())
    val markers = wh.read(Pipeline.MetaLoading)
      .where(col("table_name") === "REP_FRAUD_attempt_amount")
      .select("event_dt").distinct().count()
    assert(markers == 3)
    // rules 1/2 take no dimension input, so they must match the batch
    // mart even though the dims here carry day-3 state throughout the
    // fold (rules 3/4 may legitimately differ on the reference's SCD2
    // re-insert quirks in this recovery shape — documented trade)
    def r12(w: Warehouse) = rowSet(w.read(Pipeline.RepFraud)
      .where(col("event_type").isin(
        "blocked or expired passport", "invalid contract")))
    assert(r12(wh) == r12(batchWh))
  }

  test("runDailyDrains: the main.py-shaped cycle matches the batch mart end to end") {
    val root = Files.createTempDirectory("fraudstream_cycle")
    val inboxRoot = root.resolve("inbox")
    Seq("blacklist", "terminals", "transactions")
      .foreach(p => Files.createDirectories(inboxRoot.resolve(p)))
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    // idle first cycle: directories exist (or are created), nothing
    // committed anywhere
    assert(IngestStream.runDailyDrains(spark, inboxRoot.toString,
      root.resolve("cp").toString, wh, seed) == 0)
    days.foreach { d =>
      copyIn(inboxRoot.resolve("blacklist"), s"passport_blacklist_$d.xlsx")
      copyIn(inboxRoot.resolve("terminals"), s"terminals_$d.xlsx")
      copyIn(inboxRoot.resolve("transactions"), s"transactions_$d.txt")
      assert(IngestStream.runDailyDrains(spark, inboxRoot.toString,
        root.resolve("cp").toString, wh, seed) >= 3)
    }
    assert(rowSet(wh.read(Pipeline.RepFraud)) ==
      rowSet(batchWh.read(Pipeline.RepFraud)))
    assert(rowSet(wh.read(Pipeline.DimTerminals)) ==
      rowSet(batchWh.read(Pipeline.DimTerminals)))
    assert(rowSet(wh.read(Pipeline.FactBlacklist)) ==
      rowSet(batchWh.read(Pipeline.FactBlacklist)))
    // quiet follow-up cycle: nothing new, nothing changes
    val mart = rowSet(wh.read(Pipeline.RepFraud))
    assert(IngestStream.runDailyDrains(spark, inboxRoot.toString,
      root.resolve("cp").toString, wh, seed) == 0)
    assert(rowSet(wh.read(Pipeline.RepFraud)) == mart)
  }

  test("out-of-order transactions drop fails loudly before touching state") {
    val root = Files.createTempDirectory("fraudstream_ooo")
    val inbox = Files.createDirectories(root.resolve("inbox"))
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    drainDims(root, wh, "01032021"); drainDims(root, wh, "02032021")
    // day 2 completes first…
    copyIn(inbox, "transactions_02032021.txt")
    assert(IngestStream.transactionsFraudAvailableNow(
      spark, inbox.toString, root.resolve("cp").toString, wh, seed) >= 1)
    val factAfter2 = wh.read(Pipeline.FactTransactions).count()
    val martAfter2 = rowSet(wh.read(Pipeline.RepFraud))
    // …then day 1 arrives late: the rules are day-order sensitive
    // (day 1's band joins would see day 2 facts), so this must fail
    // loudly, not silently diverge from the batch path
    val day1 = spark.read.option("sep", ";").option("header", "true")
      .schema(graft.bank.Schemas.transactionsCsv)
      .csv(s"$refData/transactions_01032021.txt")
    val typed = graft.bank.Ingest.typedTransactions(day1)
      .withColumn("txn_date", to_date(col("transaction_date")))
    val ex = intercept[IllegalArgumentException] {
      IngestStream.applyTransactionsBatch(wh, seed, typed)
    }
    assert(ex.getMessage.contains("out-of-order"))
    assert(wh.read(Pipeline.FactTransactions).count() == factAfter2)
    assert(rowSet(wh.read(Pipeline.RepFraud)) == martAfter2)
  }

  test("crash injection: every write boundary of the multi-write day heals to byte parity") {
    // The day's writes, in order: fact partition overwrite → mart
    // partition overwrite → one META append. A crash after either
    // overwrite, followed by a replay of the same batch (what the
    // checkpoint guarantees), must converge to the exact fact and mart
    // of an uninterrupted run: the fact heals by idempotent partition
    // overwrite, the mart by the per-day partition overwrite computed
    // against the mart-without-today (so a crashed attempt's own partial
    // rows cannot perturb the recomputation). META is written once,
    // after both, so the day's rows are logged exactly once.
    val labels = Seq("fact_overwrite", "mart_overwrite")

    def typedDay(d: String): DataFrame = {
      val raw = spark.read.option("sep", ";").option("header", "true")
        .schema(graft.bank.Schemas.transactionsCsv)
        .csv(s"$refData/transactions_$d.txt")
      graft.bank.Ingest.typedTransactions(raw)
        .withColumn("txn_date", to_date(col("transaction_date")))
    }
    def copyDir(src: Path, dst: Path): Unit = {
      val walk = Files.walk(src)
      try {
        walk.forEach { p =>
          val t = dst.resolve(src.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
        }
      } finally walk.close()
    }

    // base state: days 1-2 complete, day-3 dims drained, day-3
    // transactions NOT yet applied
    val base = Files.createTempDirectory("fraudcrash_base")
    val baseWh = new Warehouse(spark, base.resolve("wh").toString)
    days.take(2).foreach { d =>
      drainDims(base, baseWh, d)
      IngestStream.applyTransactionsBatch(baseWh, seed, typedDay(d))
    }
    drainDims(base, baseWh, "03032021")
    val day3 = typedDay("03032021").cache()

    // the uninterrupted oracle
    val oracleRoot = Files.createTempDirectory("fraudcrash_oracle")
    copyDir(base.resolve("wh"), oracleRoot.resolve("wh"))
    val oracleWh = new Warehouse(spark, oracleRoot.resolve("wh").toString)
    IngestStream.applyTransactionsBatch(oracleWh, seed, day3)
    val oracleFact = rowSet(oracleWh.read(Pipeline.FactTransactions))
    val oracleMart = rowSet(oracleWh.read(Pipeline.RepFraud))

    labels.foreach { cut =>
      val root = Files.createTempDirectory(s"fraudcrash_$cut")
      copyDir(base.resolve("wh"), root.resolve("wh"))
      val wh = new Warehouse(spark, root.resolve("wh").toString)
      val ex = intercept[RuntimeException] {
        IngestStream.applyTransactionsBatch(wh, seed, day3,
          failpoint = l => if (l == cut)
            throw new RuntimeException(s"injected crash at $l"))
      }
      assert(ex.getMessage.contains(cut))
      // the replay (same batch, no failpoint) heals every cut
      IngestStream.applyTransactionsBatch(wh, seed, day3)
      assert(rowSet(wh.read(Pipeline.FactTransactions)) == oracleFact,
        s"fact diverged after crash at $cut")
      assert(rowSet(wh.read(Pipeline.RepFraud)) == oracleMart,
        s"mart diverged after crash at $cut")
      // day-3 completion marker present exactly as in the oracle
      assert(wh.read(Pipeline.MetaLoading)
        .where(col("table_name") === "REP_FRAUD_attempt_amount" &&
          col("event_dt") === "2021-03-03").count() == 1)
    }
    day3.unpersist()
  }

  test("compact-behind bounds file counts of the append-accumulating tables") {
    val root = Files.createTempDirectory("fraudstream_compact")
    val inbox = Files.createDirectories(root.resolve("inbox"))
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    days.foreach(drainDims(root, wh, _))
    days.foreach(d => copyIn(inbox, s"transactions_$d.txt"))
    // cadence 1: every drain compacts (the spec-visible extreme; the
    // default 256 compacts every ~256 files)
    IngestStream.transactionsFraudAvailableNow(
      spark, inbox.toString, root.resolve("cp").toString, wh, seed,
      compactAboveFiles = 1)
    val meta = wh.read(Pipeline.MetaLoading).count()
    val rep = wh.read(Pipeline.RepFraud).count()
    assert(wh.parquetFileCount(Pipeline.MetaLoading) <= 2,
      s"meta not compacted: ${wh.parquetFileCount(Pipeline.MetaLoading)} files")
    // the twin's mart is report_dt-partitioned: per-partition compaction
    // bounds each of the 3 day partitions at perPart=2 files
    assert(wh.parquetFileCount(Pipeline.RepFraud) <= 6,
      s"rep_fraud not compacted: ${wh.parquetFileCount(Pipeline.RepFraud)} files")
    // data survives the rewrite
    assert(wh.read(Pipeline.MetaLoading).count() == meta)
    assert(wh.read(Pipeline.RepFraud).count() == rep)
    // partitioned fact keeps its layout (one dir per day) and prunes
    assert(wh.read(Pipeline.FactTransactions)
      .where(col("txn_date") === "2021-03-02").count() == 1582)
  }
}
