package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.bank.{Ingest, Pipeline, RefFixture, Schemas, Warehouse}
import graft.operators.Cdc

/** Streaming twins of the two xlsx drop paths, on the committed 3-day
  * fixture ([[RefFixture]]): terminals snapshot → SCD2 dimension
  * (foreachBatch + Cdc.scd2Apply, exactly-once via the tagged swap) and
  * cumulative blacklist → anti-join fact append (idempotent via J1
  * itself). Each
  * twin must match the batch path row-for-row, commit nothing on an
  * empty re-run, and absorb a replayed micro-batch without corrupting
  * state (scd2Apply is NOT idempotent — the reference's all-versions
  * deleted-detection quirk re-tombstones on re-apply — so the replay
  * guard is what the exactly-once contract rests on). */
class XlsxStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val refData = RefFixture.dataDir
  private val days = RefFixture.days
  private def dayDate(d: String): Date =
    Date.valueOf(s"${d.substring(4)}-${d.substring(2, 4)}-${d.substring(0, 2)}")

  private def drop(inbox: Path, prefix: String, day: String): Unit =
    Files.copy(Paths.get(refData, s"${prefix}_$day.xlsx"),
      inbox.resolve(s"${prefix}_$day.xlsx"), StandardCopyOption.REPLACE_EXISTING)

  private def rowSet(df: DataFrame): Set[String] =
    df.selectExpr(s"concat_ws('|', ${df.columns.mkString(",")})")
      .collect().map(_.getString(0)).toSet

  /** The batch-path dimension: fold Cdc.scd2Apply over the day-ordered
    * snapshots, exactly what Pipeline.runDay does per day. Each step
    * materializes (localCheckpoint) — the boundary the pipeline's daily
    * parquet write provides — or the chained plan grows 6^days-fold. */
  private def batchDim(upToDay: Int): DataFrame =
    days.take(upToDay).foldLeft(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Schemas.dimTerminalsHist)) { (hist, d) =>
      Cdc.scd2Apply(hist,
        Ingest.terminals(spark, s"$refData/terminals_$d.xlsx"),
        dayDate(d), keyCol = "terminal_id",
        attrCols = Schemas.terminalsSnapshot.fieldNames.toSeq.tail)
        .select(Schemas.dimTerminalsHist.fieldNames.map(
          org.apache.spark.sql.functions.col).toSeq: _*)
        .localCheckpoint(true)
    }

  /** A fake (path, content) micro-batch frame, as the binaryFile source
    * would deliver it — for driving the foreachBatch bodies directly. */
  private def fileBatch(paths: String*): DataFrame = {
    import spark.implicits._
    paths.map(p => (p, Files.readAllBytes(Paths.get(p))))
      .toDF("path", "content")
  }

  test("terminals twin: batch parity, idempotent re-run, replay guard") {
    val root = Files.createTempDirectory("xlsx_stream_term")
    val inbox = Files.createDirectory(root.resolve("inbox"))
    val cp = root.resolve("cp").toString
    val wh = new Warehouse(spark, root.resolve("wh").toString)

    // day 1+2 backlog drains as ONE micro-batch (the default), folded
    // in day order and committed in one tagged swap
    drop(inbox, "terminals", "01032021"); drop(inbox, "terminals", "02032021")
    assert(IngestStream.terminalsScd2AvailableNow(
      spark, inbox.toString, cp, wh) == 1)
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(2)))

    // re-run with nothing new: zero committing batches, dim unchanged
    assert(IngestStream.terminalsScd2AvailableNow(
      spark, inbox.toString, cp, wh) == 0)
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(2)))

    // incremental day-3 drop picks up exactly the new snapshot
    drop(inbox, "terminals", "03032021")
    assert(IngestStream.terminalsScd2AvailableNow(
      spark, inbox.toString, cp, wh) >= 1)
    val after3 = rowSet(wh.read(Pipeline.DimTerminals))
    assert(after3 == rowSet(batchDim(3)))

    // replayed micro-batch id (crash between sink commit and source
    // checkpoint advance): the tagged-swap guard must skip it — without
    // the guard scd2Apply would re-tombstone and grow history. The tag
    // is scoped to the checkpoint INSTANCE (the persisted query id),
    // so the replay carries the id the real stream wrote.
    val sid = wh.readTag(Pipeline.DimTerminals, IngestStream.BatchTag)
      .get.trim.split(' ').head
    assert(sid == IngestStream.checkpointQueryId(spark, cp))
    IngestStream.applyTerminalsBatch(wh,
      fileBatch(s"$refData/terminals_03032021.xlsx"),
      batchId = 0, streamId = sid)
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == after3)

    // a NEW stream (different query id) is not blocked by the old tag —
    // but re-delivering an ALREADY-APPLIED day must now fail LOUDLY at
    // the strictly-after day guard (scd2Apply is not idempotent:
    // silently re-applying would re-tombstone and grow history)
    val dup = intercept[IllegalArgumentException] {
      IngestStream.applyTerminalsBatch(wh,
        fileBatch(s"$refData/terminals_03032021.xlsx"),
        batchId = 0, streamId = "other-stream-id")
    }
    assert(dup.getMessage.contains("duplicate"))
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == after3)
    assert(wh.readTag(Pipeline.DimTerminals,
      IngestStream.BatchTag).exists(_.startsWith(s"$sid ")))
  }

  test("terminals twin: wiped-and-recreated checkpoint fails loudly, no silent skip") {
    val root = Files.createTempDirectory("xlsx_stream_term_wipe")
    val inbox = Files.createDirectory(root.resolve("inbox"))
    val cp = root.resolve("cp")
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    days.foreach(drop(inbox, "terminals", _))
    assert(IngestStream.terminalsScd2AvailableNow(
      spark, inbox.toString, cp.toString, wh) == 1)
    val committed = rowSet(wh.read(Pipeline.DimTerminals))

    // the routine ops action the round-10 guard mishandled: delete the
    // checkpoint. Batch ids restart at 0 while the dimension tag holds
    // the OLD stream's high id. The instance-scoped tag must NOT match
    // (that would silently skip real batches and mark them consumed);
    // instead the re-listed old files hit the strictly-after day guard
    // and the query dies loudly, dimension untouched.
    def rmTree(p: Path): Unit = if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
    rmTree(cp)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IngestStream.terminalsScd2AvailableNow(
        spark, inbox.toString, cp.toString, wh)
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .take(8).exists(t => Option(t.getMessage)
        .exists(_.contains("out-of-order or duplicate"))))
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == committed)
  }

  test("terminals twin: 3-file backlog folds in one batch; out-of-order drop fails loudly") {
    val root = Files.createTempDirectory("xlsx_stream_term_multi")
    val inbox = Files.createDirectory(root.resolve("inbox"))
    val wh = new Warehouse(spark, root.resolve("wh").toString)
    days.foreach(drop(inbox, "terminals", _))
    // all three snapshots in ONE micro-batch: one folded dimension
    // version, one tagged swap — exactly-once even mid-backlog
    assert(IngestStream.terminalsScd2AvailableNow(spark, inbox.toString,
      root.resolve("cp").toString, wh) == 1)
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(3)))

    // S8 audit parity: one META row per consumed snapshot with the
    // file's row count, like the batch path's staging log
    val meta = wh.read(Pipeline.MetaLoading)
      .where(org.apache.spark.sql.functions.col("table_name") === "stg_terminals")
      .select("event_dt", "rows_processed")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSet
    assert(meta == Set(("2021-03-01", 20), ("2021-03-02", 21),
      ("2021-03-03", 20)))

    // an OLDER snapshot arriving after day 3 must be rejected — SCD2
    // application is order-sensitive and silent corruption is the
    // failure mode (the file source does not order ties by name)
    val ex = intercept[IllegalArgumentException] {
      IngestStream.applyTerminalsBatch(wh,
        fileBatch(s"$refData/terminals_01032021.xlsx"),
        batchId = 99, streamId = "any")
    }
    assert(ex.getMessage.contains("out-of-order"))
    assert(rowSet(wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(3)))
  }

  test("blacklist twin: cumulative drops, anti-join idempotence") {
    val root = Files.createTempDirectory("xlsx_stream_bl")
    val inbox = Files.createDirectory(root.resolve("inbox"))
    val cp = root.resolve("cp").toString
    val wh = new Warehouse(spark, root.resolve("wh").toString)

    drop(inbox, "passport_blacklist", "01032021")
    drop(inbox, "passport_blacklist", "02032021")
    assert(IngestStream.blacklistAvailableNow(
      spark, inbox.toString, cp, wh) >= 2)
    // cumulative semantics: after day 2 the fact equals the day-2 file
    // (it contains day 1), each passport exactly once
    val day2 = rowSet(Ingest.blacklist(spark,
      s"$refData/passport_blacklist_02032021.xlsx"))
    assert(rowSet(wh.read(Pipeline.FactBlacklist)) == day2)

    // nothing new: zero committing batches
    assert(IngestStream.blacklistAvailableNow(
      spark, inbox.toString, cp, wh) == 0)

    // day-3 drop: only the 6 never-seen passports append
    drop(inbox, "passport_blacklist", "03032021")
    assert(IngestStream.blacklistAvailableNow(
      spark, inbox.toString, cp, wh) >= 1)
    val day3 = rowSet(Ingest.blacklist(spark,
      s"$refData/passport_blacklist_03032021.xlsx"))
    assert(rowSet(wh.read(Pipeline.FactBlacklist)) == day3)
    assert(wh.read(Pipeline.FactBlacklist).count() == day3.size)

    // S8 audit parity: one META row per consumed drop with the FILE's
    // (cumulative) row count — order-independent across batches
    val meta = wh.read(Pipeline.MetaLoading)
      .where(org.apache.spark.sql.functions.col("table_name")
        === "stg_passport_blacklist")
      .select("event_dt", "rows_processed")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSet
    assert(meta == Set(("2021-03-01", 7), ("2021-03-02", 17),
      ("2021-03-03", 23)))

    // replayed micro-batch: J1's anti-join absorbs it — zero new rows
    IngestStream.applyBlacklistBatch(wh,
      fileBatch(s"$refData/passport_blacklist_03032021.xlsx"))
    assert(wh.read(Pipeline.FactBlacklist).count() == day3.size)
  }
}
