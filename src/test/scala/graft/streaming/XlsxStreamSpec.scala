package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.bank.{BankDays, Ingest, Pipeline, RefFixture, Schemas}
import graft.operators.Cdc

/** The two xlsx drops through the one streaming drain, on the committed
  * 3-day fixture ([[RefFixture]]): terminals snapshot → SCD2 dimension
  * (exactly-once through the swap's applied-day tag) and cumulative
  * blacklist → anti-join fact append (idempotent via J1 itself). Each
  * must match the batch path row for row, commit nothing on an empty
  * re-run, and absorb a replay without corrupting state (scd2Apply is NOT
  * idempotent — the reference's all-versions deleted-detection quirk
  * re-tombstones on re-apply — so the replay guard is what the
  * exactly-once contract rests on). */
class XlsxStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val refData = RefFixture.dataDir
  private val days = RefFixture.days
  private def dayDate(d: String): Date =
    Date.valueOf(s"${d.substring(4)}-${d.substring(2, 4)}-${d.substring(0, 2)}")

  private def rowSet(df: DataFrame): Set[String] =
    df.selectExpr(s"concat_ws('|', ${df.columns.mkString(",")})")
      .collect().map(_.getString(0)).toSet

  /** The messages of `t` and its causes. */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(e => Option(e.getMessage)).toSeq

  /** The batch-path dimension: fold Cdc.scd2Apply over the day-ordered
    * snapshots, exactly what Pipeline.runDay does per day. Each step
    * materializes (localCheckpoint) — the boundary the pipeline's daily
    * parquet write provides — or each day's plan nests every earlier
    * day's keyed pass. */
  private def batchDim(upToDay: Int): DataFrame =
    days.take(upToDay).foldLeft(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Schemas.dimTerminalsHist)) { (hist, d) =>
      Cdc.scd2Apply(hist,
        Ingest.terminals(spark, s"$refData/terminals_$d.xlsx"),
        dayDate(d), keyCol = "terminal_id",
        attrCols = Schemas.terminalsSnapshot.fieldNames.toSeq.tail)
        .select(Schemas.dimTerminalsHist.fieldNames.map(col).toSeq: _*)
        .localCheckpoint(true)
    }

  test("terminals twin: batch parity, idempotent re-run, replay guard") {
    val in = Inbox.fresh("xlsx_stream_term")
    // day 1+2 backlog drains as ONE micro-batch, folded in day order
    in.deliver(days(0)); in.deliver(days(1))
    assert(in.drain() == 1)
    assert(rowSet(in.wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(2)))

    // re-run with nothing new: zero committing batches, dim unchanged
    assert(in.drain() == 0)
    assert(rowSet(in.wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(2)))

    // incremental day-3 drop picks up exactly the new snapshot; the
    // swap carries the day it applied
    in.deliver(days(2))
    assert(in.drain() == 1)
    assert(rowSet(in.wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(3)))
    assert(in.wh.readTag(Pipeline.DimTerminals, Pipeline.AppliedDayTag)
      .contains("2021-03-03"))

    // a replayed day (crash between the day's writes and the source's
    // commit): the day function finds it complete and writes nothing —
    // without the guard scd2Apply would re-tombstone and grow history
    val before = BankDays.fileListing(in.wh.root)
    val (t, b, m) = in.dayFiles(days(2))
    new Pipeline(in.wh, Inbox.seed, streaming = true).runFiles(t, b, m)
    assert(BankDays.fileListing(in.wh.root) == before)
  }

  test("wiped checkpoint: same drops change nothing, a changed drop fails") {
    val in = Inbox.fresh("xlsx_stream_wipe")
    days.foreach(in.deliver(_))
    assert(in.drain() == 1)
    val before = BankDays.fileListing(in.wh.root)

    // the routine ops action: delete the checkpoint. Every drop is
    // delivered again, and each completed day is checked against its
    // fact partition and skipped — never silently re-applied
    def rmTree(p: Path): Unit = if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
    rmTree(in.checkpoints)
    assert(in.drain() == 1)
    assert(BankDays.fileListing(in.wh.root) == before)

    // a drop that changed since its day ran is an upstream fault: the
    // re-delivery fails loudly, warehouse untouched
    rmTree(in.checkpoints)
    val t1 = Paths.get(in.dayFiles(days(0))._1)
    val lines = Files.readAllLines(t1)
    Files.write(t1, lines.subList(0, lines.size - 1))
    val ex = intercept[StreamingQueryException](in.drain())
    assert(messages(ex).exists(_.contains("different content")), messages(ex))
    assert(BankDays.fileListing(in.wh.root) == before)
  }

  test("terminals twin: 3-file backlog folds in one batch; out-of-order drop fails loudly") {
    val in = Inbox.fresh("xlsx_stream_term_multi")
    days.foreach(in.deliver(_))
    // all three days in ONE micro-batch, applied in day order
    assert(in.drain() == 1)
    assert(rowSet(in.wh.read(Pipeline.DimTerminals)) == rowSet(batchDim(3)))

    // S8 audit parity: one META row per consumed snapshot with the
    // file's row count, like the batch path's staging log
    val meta = in.wh.read(Pipeline.MetaLoading)
      .where(col("table_name") === "stg_terminals")
      .select("event_dt", "rows_processed")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSet
    assert(meta == Set(("2021-03-01", 20), ("2021-03-02", 21),
      ("2021-03-03", 20)))

    // an OLDER day arriving after a later one must be rejected — SCD2
    // application and the pruned rules are order-sensitive, and silent
    // corruption is the failure mode (the file source does not order
    // ties by name)
    val late = Inbox.fresh("xlsx_stream_term_late")
    late.deliver(days(1))
    assert(late.drain() == 1)
    val before = BankDays.fileListing(late.wh.root)
    late.deliver(days(0))
    val ex = intercept[StreamingQueryException](late.drain())
    assert(messages(ex).exists(_.contains("out-of-order")), messages(ex))
    assert(BankDays.fileListing(late.wh.root) == before)
  }

  test("blacklist twin: cumulative drops, anti-join idempotence") {
    val in = Inbox.fresh("xlsx_stream_bl")
    in.deliver(days(0)); in.deliver(days(1))
    assert(in.drain() == 1)
    // cumulative semantics: after day 2 the fact equals the day-2 file
    // (it contains day 1), each passport exactly once
    val day2 = rowSet(Ingest.blacklist(spark,
      s"$refData/passport_blacklist_02032021.xlsx"))
    assert(rowSet(in.wh.read(Pipeline.FactBlacklist)) == day2)

    // nothing new: zero committing batches
    assert(in.drain() == 0)

    // day-3 drop: only the 6 never-seen passports append; a second
    // deployment at the same point crashes right after the append and
    // replays the day
    in.deliver(days(2))
    val crashed = in.fork("xlsx_stream_bl_crash")
    assert(in.drain() == 1)
    val day3 = rowSet(Ingest.blacklist(spark,
      s"$refData/passport_blacklist_03032021.xlsx"))
    assert(rowSet(in.wh.read(Pipeline.FactBlacklist)) == day3)
    assert(in.wh.read(Pipeline.FactBlacklist).count() == day3.size)

    // S8 audit parity: one META row per consumed drop with the FILE's
    // (cumulative) row count
    val meta = in.wh.read(Pipeline.MetaLoading)
      .where(col("table_name") === "stg_passport_blacklist")
      .select("event_dt", "rows_processed")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1))).toSet
    assert(meta == Set(("2021-03-01", 7), ("2021-03-02", 17),
      ("2021-03-03", 23)))

    // replayed append: J1's anti-join absorbs it — zero new rows
    intercept[StreamingQueryException](crashed.drain(failpoint = l =>
      if (l == "scd2_swap") throw new RuntimeException(s"injected crash at $l")))
    assert(crashed.drain() == 1)
    assert(rowSet(crashed.wh.read(Pipeline.FactBlacklist)) == day3)
    assert(crashed.wh.read(Pipeline.FactBlacklist).count() == day3.size)
  }
}
