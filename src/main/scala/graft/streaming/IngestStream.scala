package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.bank.{Ingest, Pipeline, Schemas, Seeds, Warehouse}
import graft.bank.Warehouse.Meta
import graft.operators.Cdc
import graft.sources.Xlsx

/** Structured Streaming twin of the reference's daily file-drop loop
  * (`main.py:85-100`): the batch loop polls a directory, consumes each
  * `transactions_DDMMYYYY.txt`, and renames it `*.backup` so a re-run
  * skips it (S13). Here the FILE SOURCE's commit log inside the
  * checkpoint directory carries that exactly-once bookkeeping instead —
  * no rename, no mutation of the inbox:
  *
  *  - `Trigger.AvailableNow` drains every not-yet-committed file in
  *    bounded micro-batches and then STOPS — the daily-cron shape, but
  *    restart-safe mid-drain (a crash between batches resumes, never
  *    re-appends);
  *  - a re-run with the same checkpoint and no new drops commits
  *    nothing (idempotent re-delivery, the archive-move semantic);
  *  - a new drop reads exactly the new file — incremental by
  *    construction at any inbox size, where the reference re-lists and
  *    filters `.backup` suffixes;
  *  - `maxFilesPerTrigger` bounds each micro-batch, so a backlog of
  *    thousands of daily files lands as many small commits rather than
  *    one giant one (bounded executor memory at 100 TB backfills).
  *
  * The typing projection is the SAME code as the batch path
  * ([[Ingest.typedTransactions]]) and the sink is laid out
  * date-partitioned like the warehouse fact table, so batch and
  * streaming ingestion are interchangeable row-for-row. The
  * transactions twin ([[transactionsFraudAvailableNow]]) lands each day
  * through the batch pipeline's own day core,
  * [[graft.bank.Pipeline.transactionsDay]].
  *
  * The streaming mode fixes the rule plan: always the pruned one —
  * today's partition for rules 1/2, `[day−1, day]` for rules 3/4 — so a
  * day's cost stays flat however long the history grows (SCALING.md
  * round-12). The day-order guards of [[applyTransactionsBatch]] are what
  * make that plan exact; the batch [[graft.bank.Pipeline]] keeps the
  * reference's full rescan.
  */
object IngestStream {

  /** Unbounded source over the inbox: `;`-separated CSV drops, typed. */
  def transactionsSource(spark: SparkSession, inboxDir: String,
                         maxFilesPerTrigger: Int = 1): DataFrame =
    Ingest.typedTransactions(
      spark.readStream
        .option("sep", ";")
        .option("header", "true")
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .schema(Schemas.transactionsCsv)
        .csv(inboxDir))
      .withColumn("txn_date", to_date(col("transaction_date")))

  /** Run `writer` under `Trigger.AvailableNow` until it has drained
    * every available file, then stop. Returns the micro-batches that
    * read rows, as seen through the engine's recent-progress buffer,
    * which Spark caps (default 100 entries): on a backfill bigger than
    * the cap the count is a floor; the reliable contract is 0 ⇔ nothing
    * new. */
  private def drainAvailableFiles(writer: DataStreamWriter[Row]): Long = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progressed = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    progressed.toLong
  }

  // ------------------------------------------------------------------
  // xlsx drop twins: terminals snapshot → SCD2, blacklist → dedup append
  // ------------------------------------------------------------------

  /** DDMMYYYY from the reference's drop naming
    * (`terminals_02032021.xlsx`, `passport_blacklist_01032021.xlsx`) →
    * batch date. The terminals sheet carries no date column, so the
    * FILE NAME is the only batch-date source — same convention the
    * reference's loop encodes in its hardcoded paths (main.py:85-100).
    */
  private[streaming] def dayFromFileName(path: String): java.sql.Date = {
    val name = path.split('/').last
    val m = "(\\d{2})(\\d{2})(\\d{4})".r.findFirstMatchIn(name).getOrElse(
      throw new IllegalArgumentException(s"no DDMMYYYY batch date in $name"))
    java.sql.Date.valueOf(s"${m.group(3)}-${m.group(2)}-${m.group(1)}")
  }

  /** Unbounded source over an xlsx drop directory: one row per FILE
    * (path + raw bytes) via the `binaryFile` streaming source — xlsx is
    * a zip, unsplittable, so per-file rows are the natural streaming
    * unit, mirroring how [[graft.sources.XlsxDataSource]] makes
    * per-file the batch parallel unit. The file-source checkpoint
    * carries the consumed-file bookkeeping (S13's archive-move twin),
    * exactly as in [[transactionsSource]]. */
  private def xlsxFiles(spark: SparkSession, inboxDir: String,
                        maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .format("binaryFile")
      // the streaming source requires an explicit schema; this is
      // binaryFile's fixed one
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", "*.xlsx")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(inboxDir)

  /** Parse a micro-batch of (path, content) file rows into cell rows —
    * EXECUTOR-side ([[Xlsx.readBytes]] per file, like the batch
    * DataSourceV2's partition reader), never through the driver.
    * Output: `_file` + the requested header columns as nullable
    * strings, the same raw layer the batch source exposes. */
  private def parseSheets(batch: DataFrame, wanted: Seq[String]): DataFrame = {
    import batch.sparkSession.implicits._
    val cells = batch.select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val sheet = Xlsx.readBytes(bytes, context = p)
        val idx = wanted.map { c =>
          val i = sheet.header.map(_.trim).indexOf(c)
          require(i >= 0, s"column '$c' missing in $p " +
            s"(header: ${sheet.header.mkString(",")})")
          i
        }
        sheet.rows.map(r => (p, idx.map(i => r.lift(i).flatten.orNull)))
      }
      .toDF("_file", "cells")
    cells.select(col("_file") +: wanted.zipWithIndex.map {
      case (c, i) => col("cells").getItem(i).as(c) }: _*)
  }

  /** Tag file carrying the last-applied micro-batch id inside the
    * dimension directory (written via [[Warehouse.overwriteTagged]] so
    * it swaps atomically WITH the table version). */
  private[streaming] val BatchTag = "_stream_batch"

  /** The streaming query id persisted at `<checkpointDir>/metadata` —
    * written by the stream engine at query start and REGENERATED when
    * the checkpoint is deleted and recreated. Scoping the replay tag to
    * this id (not the checkpoint PATH) is what makes the guard safe
    * against the routine ops action of wiping a checkpoint: a recreated
    * checkpoint restarts micro-batch ids at 0 under a NEW query id, so
    * its batches never match a stale tag and fall through to the
    * day-order guard (loud failure) instead of being silently skipped
    * while marked consumed. */
  private[streaming] def checkpointQueryId(spark: SparkSession,
                                           checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"no streaming query id in $p: $txt"))
  }

  /** foreachBatch body for the terminals SCD2 twin, factored out so the
    * replay guard is directly testable: all snapshot files of the
    * micro-batch fold into ONE new dimension version
    * (day-ordered [[Cdc.scd2Apply]] chain — pure plans, no intermediate
    * persist), committed in a single tagged swap. A replayed batch id
    * (crash between the sink commit and the source checkpoint advance)
    * is skipped by the tag check, which is what makes the overwrite
    * sink exactly-once — scd2Apply itself is NOT idempotent (the
    * reference's all-versions deleted-detection quirk re-tombstones on
    * re-apply), so at-least-once delivery alone would corrupt history. */
  private[streaming] def applyTerminalsBatch(wh: Warehouse, batch: DataFrame,
                                             batchId: Long,
                                             streamId: String): Unit = {
    // the tag is scoped to the CHECKPOINT INSTANCE (streamId = the query
    // id from <checkpointDir>/metadata, see [[checkpointQueryId]]): a
    // fresh OR recreated checkpoint restarts micro-batch ids at 0 under
    // a new id, so its batches are never skipped by a stale tag from a
    // previous id sequence — they fall through to the day-order guard
    val applied = wh.readTag(Pipeline.DimTerminals, BatchTag)
      .map(_.trim.split(' ')).collect {
        case Array(sid, id) if sid == streamId => id.toLong
      }
    if (applied.exists(_ >= batchId)) return
    val attrs = Schemas.terminalsSnapshot.fieldNames.toSeq
    val parsed = parseSheets(batch, attrs).cache()
    try {
      // bounded driver round-trip: ≤ maxFilesPerTrigger paths per batch,
      // one row each (counts feed the META audit rows below)
      val fileCounts = parsed.groupBy("_file").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val files = fileCounts.keys.toArray
        .sortBy(f => dayFromFileName(f).toLocalDate.toEpochDay)
      if (files.nonEmpty) {
        val hist0 = wh.readOr(Pipeline.DimTerminals)
        // Out-of-order guard: SCD2 effective-dating is ORDER-SENSITIVE
        // (applying an older snapshot over a newer history silently
        // corrupts the version chain — the reference's loop is
        // hardcoded in date order, main.py:85-100), and the file source
        // orders same-mtime files by listing, NOT by batch date. An
        // older drop arriving after a newer one must fail loudly — and
        // so must a SAME-day drop: scd2Apply is not idempotent (the
        // all-versions deleted-detection quirk re-tombstones on
        // re-apply), so an applied day that changed anything can only
        // reappear via duplicate delivery or a wiped checkpoint, and
        // loud failure beats silent history growth. Strictly-after is
        // therefore the rule; an intentional same-day correction needs
        // an explicit operator action (roll the dimension back first).
        // max(effective_from) is the last day that CHANGED anything; a
        // no-change day leaves no trace and cannot be detected — same
        // blindness the reference has to re-running a no-op day.
        val lastApplied = hist0.agg(max(col("effective_from"))).head()
        if (!lastApplied.isNullAt(0)) {
          val firstDay = dayFromFileName(files.head)
          require(firstDay.after(lastApplied.getDate(0)),
            s"out-of-order or duplicate snapshot drop: ${files.head} " +
              s"carries batch date $firstDay but the dimension was last " +
              s"changed on ${lastApplied.getDate(0)}; drops must arrive " +
              "strictly after the last applied day (the default " +
              "whole-backlog batch folds a backlog in day order)")
        }
        // Each fold step MATERIALIZES (eager localCheckpoint): scd2Apply
        // embeds its input plan in ~6 branches, so an unmaterialized
        // k-day chain grows the plan 6^k-fold — a 3-file backlog without
        // the boundary measured as thousands of stages (the batch
        // pipeline gets the same boundary for free from its daily
        // parquet write). One in-memory dim per step, lineage cut.
        val dim = files.foldLeft(hist0) { (hist, f) =>
          Cdc.scd2Apply(hist,
            parsed.where(col("_file") === f).drop("_file"),
            dayFromFileName(f), keyCol = "terminal_id",
            attrCols = attrs.tail).localCheckpoint(true)
        }.select(Schemas.dimTerminalsHist.fieldNames.map(col).toSeq: _*)
        wh.overwriteTagged(Pipeline.DimTerminals, dim,
          Map(BatchTag -> s"$streamId $batchId"))
        // S8 audit parity with the batch path (Pipeline.runDay logs
        // per-day staging counts): one META row per consumed snapshot,
        // all in one append, AFTER the swap so a guard-skipped replay
        // never double-logs
        // (a crash between swap and log loses audit rows, not data —
        // the same at-least-once audit semantics a rerun of the
        // reference has)
        wh.logMeta(files.toSeq.map(f =>
          Meta("stg_terminals", dayFromFileName(f), fileCounts(f))))
      }
    } finally parsed.unpersist()
  }

  /** Streaming twin of the daily terminals-snapshot drop → SCD2
    * dimension path (`main.py:77-82` + `incr_loading.py:60-129`): drain
    * every not-yet-committed `terminals_DDMMYYYY.xlsx`, apply each
    * snapshot to the SCD2 history in batch-date order, stop. Returns
    * committing micro-batches (0 ⇒ nothing new). Batch parity with
    * [[graft.bank.Pipeline.runDay]]'s dimension output is spec'd on the
    * reference's 3-day fixture (XlsxStreamSpec).
    *
    * Ordering contract: the file source does NOT order same-mtime files
    * by name, but SCD2 application is order-sensitive — so the default
    * drains the WHOLE backlog as one micro-batch, where the fold sorts
    * by batch date and commits one atomic tagged swap. A smaller
    * `maxFilesPerTrigger` suits the steady state (arrival order = day
    * order, one drop per drain); across batches, out-of-order delivery
    * fails loudly in [[applyTerminalsBatch]] instead of corrupting the
    * version chain. */
  def terminalsScd2AvailableNow(spark: SparkSession, inboxDir: String,
                                checkpointDir: String, wh: Warehouse,
                                maxFilesPerTrigger: Int = 10000): Long = {
    // evaluated lazily INSIDE the first micro-batch, after the engine
    // has written <checkpointDir>/metadata — the id is the checkpoint
    // INSTANCE, regenerated if the checkpoint is wiped and recreated
    lazy val sid = checkpointQueryId(spark, checkpointDir)
    drainAvailableFiles(xlsxFiles(spark, inboxDir, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyTerminalsBatch(wh, batch, id, streamId = sid)
      })
  }

  /** foreachBatch body for the blacklist twin. No batch-id tag: J1's
    * anti-join on passport IS the idempotence mechanism — the
    * reference's cumulative files re-deliver prior days' rows every day
    * and the anti-join absorbs them (`comm_funcs.py:50-54`), so a
    * replayed micro-batch (its rows already in the fact) appends zero
    * rows for free. In-batch multi-file dedup keeps the EARLIEST date
    * per passport, which equals the reference's sequential day-order
    * processing (cumulative drops repeat identical rows). */
  private[streaming] def applyBlacklistBatch(wh: Warehouse,
                                             batch: DataFrame): Unit = {
    val parsed = parseSheets(batch, Seq("date", "passport")).cache()
    try {
      val typed = Ingest.typedBlacklist(parsed)
        .groupBy("passport").agg(min(col("date")).as("date"))
      val fact = wh.readOr(Pipeline.FactBlacklist)
      val fresh = typed.join(fact.select("passport"), Seq("passport"), "left_anti")
      wh.append(Pipeline.FactBlacklist, fresh.select("date", "passport"))
      // S8 audit parity: one META row per consumed cumulative drop, with
      // the FILE's row count (the staging count the batch path logs).
      // A replayed batch re-logs — same at-least-once audit semantics a
      // rerun of the reference has; the FACT rows stay exactly-once via
      // the anti-join.
      wh.logMeta(parsed.groupBy("_file").agg(count(lit(1)).as("n"))
        .collect().toSeq.map(r => Meta("stg_passport_blacklist",
          dayFromFileName(r.getString(0)), r.getLong(1))))
    } finally parsed.unpersist()
  }

  /** Streaming twin of the cumulative blacklist drop → fact append path
    * (`main.py:69-74` + `comm_funcs.py:47-56`): drain every
    * not-yet-committed `passport_blacklist_DDMMYYYY.xlsx`, anti-join
    * against the accumulated fact, append only never-seen passports.
    * After the drain, compact-behind keeps the append-only fact's file
    * count bounded (`compactAboveFiles`; a year of daily micro-batch
    * appends must not leave a thousand tiny files for every scan). */
  def blacklistAvailableNow(spark: SparkSession, inboxDir: String,
                            checkpointDir: String, wh: Warehouse,
                            maxFilesPerTrigger: Int = 1,
                            compactAboveFiles: Int = 256): Long = {
    val progressed = drainAvailableFiles(
      xlsxFiles(spark, inboxDir, maxFilesPerTrigger)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          applyBlacklistBatch(wh, batch)
        })
    // compact-behind AFTER the drain (single-writer: the stream is
    // stopped; the daily cron runs drains sequentially)
    wh.compactIfFragmented(Pipeline.FactBlacklist,
      maxFiles = compactAboveFiles)
    progressed
  }

  // ------------------------------------------------------------------
  // transactions drop twin: fact partitions + incremental REP_FRAUD
  // ------------------------------------------------------------------

  /** foreachBatch body for the transactions → fact → REP_FRAUD twin,
    * factored out so the replay semantics are directly testable. A
    * micro-batch may carry several daily files; days apply in calendar
    * order, each through the one day core the batch pipeline uses,
    * [[graft.bank.Pipeline.transactionsDay]]: the day's `txn_date`
    * partition overwrite, then the four fraud rules as one overwrite of
    * `report_dt=<day>`, then the day's five META rows (`stg_transactions`
    * and the four rule rows) as one append. A COMPLETED day — its last
    * rule marker (`REP_FRAUD_attempt_amount`) already in META — is
    * skipped on re-delivery, after a loud content check (a same-day file
    * with DIFFERENT content is an upstream fault, not a replay).
    *
    * Exactly-once summary: the fact and the mart are exactly-once by
    * idempotent partition overwrite, and META is exactly-once because it
    * is written once, after both, and a day with its marker is never
    * re-run. A crash at either failpoint (`fact_overwrite`,
    * `mart_overwrite`) followed by a replay of the same batch heals to
    * byte parity with an uninterrupted run, with the day's META rows
    * logged once (TransactionsDaySpec, FraudStreamSpec).
    *
    * `failpoint` is the crash-injection seam, forwarded to the day core.
    * Production leaves it a no-op.
    *
    * Drive order within a day mirrors `main.py`: blacklist and
    * terminals drains first, then this one, so the rules see the day's
    * dimension and blacklist state.
    *
    * PRECONDITION (enforced, not assumed — ADVICE r13): days must
    * arrive in calendar order. The streaming day always runs the
    * pruned rule plan, whose rules-3/4 rows equal the full rescan's
    * only when no later fact day exists at rule time; the streaming
    * checkpoint delivers in order, and a DIRECT caller who doesn't is
    * rejected loudly by two guards — against the META completion
    * markers and against the fact table's own max day. Both guards
    * read through the [[Warehouse]], which heals a table stranded by a
    * crashed swap before any read. */
  private[streaming] def applyTransactionsBatch(wh: Warehouse,
      seed: Seeds.Seed, batch: DataFrame,
      failpoint: String => Unit = _ => ()): Unit = {
    val rows = batch.cache()
    try {
      // A row with an unparseable/null transaction_date would be
      // silently unroutable (it belongs to no day partition and no
      // rule could ever match it). The batch path buries such rows in
      // the null partition as inert rows; here loud beats silent —
      // reject the drop and point at the quarantine reader.
      val nNull = rows.where(col("txn_date").isNull).count()
      require(nNull == 0,
        s"$nNull transaction row(s) with null/unparseable " +
          "transaction_date in this micro-batch; fix the drop or route " +
          "it through Ingest.transactionsQuarantined before the inbox")
      // bounded driver round-trip: one calendar day per daily file,
      // ≤ a few thousand even on a full-year backfill drain
      val days = rows.select("txn_date")
        .distinct().collect().map(_.getDate(0)).sortBy(_.toLocalDate.toEpochDay)
      if (days.isEmpty) return
      val meta = wh.readOr(Pipeline.MetaLoading)
      // the day-completion marker is the LAST rule's META row
      val done = meta.where(col("table_name") === "REP_FRAUD_attempt_amount")
        .select("event_dt").distinct().collect().map(_.getDate(0)).toSet
      // Cross-batch day-order guard, same philosophy as the terminals
      // twin: the rules are order-sensitive (day D's band joins must
      // not see day D+1 facts — the reference's loop is hardcoded in
      // date order) and the file source does not order same-mtime
      // files by name. A NEW day arriving behind an already-completed
      // LATER day must fail loudly; replays of completed days (the
      // branch below) are exempt.
      val maxDone = done.toSeq.sortBy(_.toLocalDate.toEpochDay).lastOption
      // Second guard, against the FACT table itself (ADVICE r13): the
      // pruned rule plan equals the reference's full rescan only under
      // in-day-order delivery, and the META completion guard above is
      // blind to fact partitions whose day never finished its rules — a
      // crashed later day, or a warehouse populated outside this twin. A
      // NEW day must not sort below any already-written fact day. The
      // max day comes from the hive partition DIRECTORY NAMES (one
      // readdir — ADVICE r14: the previous max(txn_date) aggregate
      // scanned the whole fact table every micro-batch, a cost that grew
      // with warehouse history while answering a metadata question).
      val maxFact: Option[java.sql.Date] =
        wh.partitionValues(Pipeline.FactTransactions, "txn_date")
          .filter(_.matches("\\d{4}-\\d{2}-\\d{2}"))
          .map(java.sql.Date.valueOf)
          .sortBy(_.toLocalDate.toEpochDay).lastOption
      days.foreach { day =>
        maxDone.foreach { last =>
          require(done(day) || day.after(last),
            s"out-of-order transactions drop: day $day arrived after " +
              s"day $last completed; the fraud rules are day-order " +
              "sensitive — deliver drops in day order (a whole-backlog " +
              "batch folds them in day order)")
        }
        maxFact.foreach { last =>
          require(done(day) || !day.before(last),
            s"out-of-order transactions drop: day $day arrived while " +
              s"fact partitions already reach $last; the pruned rule " +
              "plan assumes in-day-order delivery — deliver drops " +
              "in day order, or replay the completed day verbatim")
        }
      }
      val factCols = Schemas.factTransactions.fieldNames.toSeq :+ "txn_date"
      // order-independent content signature over all fact columns:
      // (count, XOR of per-row 64-bit hashes, SUM of the same hashes).
      // XOR alone is blind to even-multiplicity edits (a duplicated
      // row pair {A,A} rewritten to {B,B} XORs to 0 both ways) — the
      // sum component catches those; it accumulates as decimal(38,0),
      // which cannot overflow under ANSI at any realistic day size.
      // One scan of ONE day partition, paid only on completed-day
      // re-delivery (rare).
      def daySig(df: DataFrame): (Long, Long, String) = {
        val hash = s"xxhash64(${factCols.mkString(", ")})"
        val r = df.agg(count(lit(1)),
          expr(s"bit_xor($hash)"),
          expr(s"cast(sum(cast($hash as decimal(38,0))) as string)")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) "" else r.getString(2))
      }
      days.foreach { day =>
        val dayRows = rows.where(col("txn_date") === lit(day))
          .select(factCols.map(col): _*)
        if (done(day)) {
          val existing = daySig(wh.read(Pipeline.FactTransactions)
            .where(col("txn_date") === lit(day)).select(factCols.map(col): _*))
          val incoming = daySig(dayRows)
          require(existing == incoming,
            s"re-delivery of completed day $day with different content " +
              s"(rows/xor-sig $incoming vs committed $existing); a " +
              "completed day can only be replayed verbatim — " +
              "correct-by-replacement needs an explicit operator action")
        } else Pipeline.transactionsDay(wh, seed, day, dayRows,
          incremental = true, extraMeta = Nil, failpoint)
      }
    } finally rows.unpersist()
  }

  /** Streaming twin of the daily transactions drop → fact → REP_FRAUD
    * mart path — the one daily stage that previously had no twin: drain
    * every not-yet-committed `transactions_*.txt`, land each day's rows
    * as an idempotent partition overwrite, run the four fraud rules
    * per day in calendar order, stop. See [[applyTransactionsBatch]]
    * for the exactly-once contract. After the drain, compact-behind
    * bounds the file counts of the three append-accumulating tables
    * (fact partitions, REP_FRAUD, META_LOADING). Returns the committing
    * micro-batches (a floor on huge backfills; 0 ⇔ nothing new). */
  def transactionsFraudAvailableNow(spark: SparkSession, inboxDir: String,
      checkpointDir: String, wh: Warehouse, seed: Seeds.Seed,
      // whole-backlog default, like the terminals twin: the file source
      // does NOT order same-mtime files by batch day, so a bulk backfill
      // at maxFilesPerTrigger=1 could complete a later day first and
      // WEDGE on the day-order guard forever (the offending file is
      // already committed in the source offsets, so every restart
      // replays the same failure). One big batch folds the backlog in
      // day order inside applyTransactionsBatch instead; steady state
      // (one drop per drain) is unaffected.
      maxFilesPerTrigger: Int = 10000,
      compactAboveFiles: Int = 256,
      // crash-injection seam, forwarded to [[applyTransactionsBatch]];
      // a throwing hook simulates a crash at that write boundary and
      // the next drain must heal it (FraudStreamSpec). No-op in
      // production.
      failpoint: String => Unit = _ => ()): Long = {
    val progressed = drainAvailableFiles(
      transactionsSource(spark, inboxDir, maxFilesPerTrigger)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          applyTransactionsBatch(wh, seed, batch, failpoint)
        })
    // compact-behind AFTER the drain (single-writer: stream stopped,
    // daily cron runs drains sequentially). This drain owns the three
    // append-accumulating tables of the daily cycle.
    wh.compactIfFragmented(Pipeline.FactTransactions, Seq("txn_date"),
      compactAboveFiles)
    // the twin's mart is report_dt-partitioned (per-day idempotent
    // overwrite) — compact per partition like the fact
    wh.compactIfFragmented(Pipeline.RepFraud, Seq("report_dt"),
      compactAboveFiles)
    wh.compactIfFragmented(Pipeline.MetaLoading, maxFiles = compactAboveFiles)
    progressed
  }

  /** The whole daily cycle as one streaming call — the twin of the
    * reference's `main.py` entrypoint (blacklist → terminals →
    * transactions + rules, `main.py:43-117`) with the drive order the
    * individual drains require codified in one place: the two
    * dimension drains land first so the fraud rules see the day's
    * dimension and blacklist state, exactly like the batch
    * [[graft.bank.Pipeline.runDay]]. Each drain keeps its own
    * checkpoint under `checkpointRoot` and its own inbox subdirectory
    * (`blacklist/`, `terminals/`, `transactions/`). Safe to run from
    * cron at any cadence: an empty cycle commits nothing anywhere.
    * Returns the number of committing micro-batches across the three
    * drains (a floor on huge backfills — see
    * [[transactionsFraudAvailableNow]]; 0 ⇒ nothing new). */
  def runDailyDrains(spark: SparkSession, inboxRoot: String,
                     checkpointRoot: String, wh: Warehouse,
                     seed: Seeds.Seed,
                     compactAboveFiles: Int = 256): Long = {
    def sub(p: String) = s"$inboxRoot/$p"
    def cp(p: String) = s"$checkpointRoot/$p"
    // the file source needs its inbox to exist; an idle cron cycle
    // must not fail on a not-yet-created drop directory
    Seq("blacklist", "terminals", "transactions").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(sub(p))
      hp.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(hp)
    }
    val a = blacklistAvailableNow(spark, sub("blacklist"), cp("blacklist"),
      wh, compactAboveFiles = compactAboveFiles)
    val b = terminalsScd2AvailableNow(spark, sub("terminals"),
      cp("terminals"), wh)
    val c = transactionsFraudAvailableNow(spark, sub("transactions"),
      cp("transactions"), wh, seed, compactAboveFiles = compactAboveFiles)
    a + b + c
  }
}
