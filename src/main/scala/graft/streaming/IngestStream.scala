package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.bank.{Pipeline, Seeds, Warehouse}

/** Structured Streaming twin of the reference's daily file-drop loop
  * (`main.py:43-117`): the batch loop consumes each day's three drops
  * and renames them `*.backup` so a re-run skips them (S13). Here the
  * FILE SOURCE's commit log inside the checkpoint directory carries that
  * exactly-once bookkeeping instead — no rename, no mutation of the
  * inbox — and every day lands through the batch pipeline's own day
  * function, [[graft.bank.Pipeline.runDayStaged]], fed by the same
  * [[graft.bank.Ingest]] readers:
  *
  *  - `Trigger.AvailableNow` drains every not-yet-committed file and then
  *    STOPS — the daily-cron shape, restart-safe mid-drain;
  *  - a re-run with no new drops commits nothing (the archive-move
  *    semantic);
  *  - a new drop lists exactly the new files, at any inbox size, where
  *    the reference re-lists and filters `.backup` suffixes.
  *
  * The streaming mode fixes the rule plan: always the pruned one —
  * today's partition for rules 1/2, `[day−1, day]` for rules 3/4 — so a
  * day's cost stays flat however long the history grows (SCALING.md
  * round-12). Days must therefore land in calendar order, which the day
  * function checks; the batch [[graft.bank.Pipeline]] keeps the
  * reference's full rescan.
  */
object IngestStream {

  /** The inbox subdirectory of each drop kind; a day runs once it has
    * one file of each. */
  private val Kinds = Seq("transactions", "blacklist", "terminals")

  /** The `binaryFile` source's fixed schema (a streaming source needs it
    * explicitly). Only `path` is selected, so no file content is read. */
  private val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** DDMMYYYY from the reference's drop naming
    * (`terminals_02032021.xlsx`, `transactions_01032021.txt`) → batch
    * date. The terminals sheet carries no date column, so the FILE NAME
    * is the day of a drop — the convention the reference's loop encodes
    * in its hardcoded paths (main.py:85-100). */
  private[streaming] def dayFromFileName(path: String): java.sql.Date = {
    val name = path.split('/').last
    val m = "(\\d{2})(\\d{2})(\\d{4})".r.findFirstMatchIn(name).getOrElse(
      throw new IllegalArgumentException(s"no DDMMYYYY batch date in $name"))
    java.sql.Date.valueOf(s"${m.group(3)}-${m.group(2)}-${m.group(1)}")
  }

  /** The whole daily cycle as one streaming call: one `AvailableNow`
    * query over the inbox's `transactions/`, `blacklist/` and
    * `terminals/` subdirectories, checkpointed under
    * `checkpointRoot/inbox`. Each micro-batch groups its files by day and
    * runs every complete day, in calendar order, through
    * [[graft.bank.Pipeline.runDayStaged]] ([[landDrops]]). After the
    * drain, compact-behind bounds the file counts of the two append
    * tables, the blacklist fact and META, each compacted once it holds
    * more than `compactAboveFiles` files; the fact and mart day
    * partitions are written once at their final size and never
    * compacted. Safe to run from cron at any cadence: an empty
    * cycle commits nothing. Returns the micro-batches that read files, as
    * seen through the engine's recent-progress buffer (capped, default
    * 100 entries): on a huge backfill a floor; 0 ⇔ nothing new. */
  def runDailyDrains(spark: SparkSession, inboxRoot: String,
                     checkpointRoot: String, wh: Warehouse,
                     seed: Seeds.Seed,
                     compactAboveFiles: Int = 256): Long =
    drain(spark, inboxRoot, checkpointRoot, wh, seed, compactAboveFiles)

  /** [[runDailyDrains]] with its test seams: `maxFilesPerTrigger` splits
    * the drain into micro-batches of that many files (default: one batch
    * for the whole backlog); `failpoint` is forwarded to the day function,
    * where a throwing hook simulates a crash (no-op in production). */
  private[streaming] def drain(spark: SparkSession, inboxRoot: String,
      checkpointRoot: String, wh: Warehouse, seed: Seeds.Seed,
      compactAboveFiles: Int, maxFilesPerTrigger: Option[Int] = None,
      failpoint: String => Unit = _ => ()): Long = {
    // the file source needs its directories to exist; an idle cron cycle
    // must not fail on a not-yet-created drop directory
    Kinds.foreach { k =>
      val p = new Path(inboxRoot, k)
      p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
    }
    val pipe = new Pipeline(wh, seed, streaming = true)
    val source = spark.readStream.format("binaryFile").schema(BinaryFileSchema)
    val q = maxFilesPerTrigger.fold(source)(source.option("maxFilesPerTrigger", _))
      .load(s"$inboxRoot/{${Kinds.mkString(",")}}/*")
      .select("path")
      .writeStream
      .option("checkpointLocation", s"$checkpointRoot/inbox")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        landDrops(pipe, wh, batch.collect().map(_.getString(0)).toSeq,
          failpoint)
      }
      .start()
    try q.awaitTermination() finally q.stop()
    // compact-behind AFTER the drain (single writer: the query is stopped)
    Seq(Pipeline.FactBlacklist, Pipeline.MetaLoading)
      .foreach(wh.compactIfFragmented(_, compactAboveFiles))
    q.recentProgress.count(_.numInputRows > 0).toLong
  }

  /** foreachBatch body: the delivered drops plus those parked in the
    * warehouse's [[Pipeline.PendingDrops]] table, grouped by day. In
    * calendar order, each day with all three drops runs through
    * `pipe.runFiles`; the first day that lacks one parks its drops and
    * every later day's (the pruned rule plan needs days in order), and
    * the day runs in the micro-batch that brings its last file.
    *
    * A replayed micro-batch (a crash before the source committed it)
    * re-runs its days, each of which is exactly-once on its own. If the
    * crash came after the parked set was rewritten, a day that already
    * completed may come back with only the drops of this micro-batch:
    * those are dropped, not parked again. */
  private def landDrops(pipe: Pipeline, wh: Warehouse, delivered: Seq[String],
                        failpoint: String => Unit): Unit = {
    val parked =
      wh.readOr(Pipeline.PendingDrops).collect().map(_.getString(0)).toSeq
    var waiting = false
    val held = (parked ++ delivered).distinct.groupBy(dayFromFileName).toSeq
      .sortBy(_._1.toLocalDate.toEpochDay).flatMap { case (day, paths) =>
        val byKind = paths.groupBy(p => new Path(p).getParent.getName)
        byKind.foreach { case (k, ps) =>
          require(ps.size == 1, s"several $k drops for $day: ${ps.mkString(", ")}")
        }
        val complete = Kinds.forall(byKind.contains)
        if (complete && !waiting) {
          pipe.runFiles(byKind("transactions").head, byKind("blacklist").head,
            byKind("terminals").head, failpoint)
          Nil
        } else if (!complete && Pipeline.completed(wh, day)) Nil
        else { waiting = true; paths }
      }
    if (held.toSet != parked.toSet) {
      if (held.isEmpty) wh.drop(Pipeline.PendingDrops)
      else wh.overwrite(Pipeline.PendingDrops, wh.spark.createDataFrame(
        held.map(Row(_)).asJava,
        Warehouse.KnownSchemas(Pipeline.PendingDrops)).coalesce(1))
    }
  }
}
