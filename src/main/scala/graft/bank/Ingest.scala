package graft.bank

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Daily file ingestion (`main.py:43-82`): CSV transactions with
  * decimal-comma amounts, xlsx terminal snapshots, xlsx cumulative
  * passport blacklist with Excel-serial dates. The batch day archives
  * its files as `<name>.backup` after consumption — the reference's
  * checkpointing; the streaming drain reads the same files through these
  * readers and keeps its ledger in a checkpoint instead.
  */
object Ingest {

  /** S1–S4: read a transactions CSV; returns (typed frame, batch date).
    * The batch date is the file's calendar day — `min` rather than the
    * reference's first-row peek, same value on these files. The file
    * must hold exactly one date and no null one, checked in the same
    * aggregate before anything is written: the day's facts land as the
    * overwrite of the one partition `txn_date=<date>`, so a row of
    * another date would land in the wrong day (the day write checks it
    * again, [[Pipeline.transactionsDay]]). */
  def transactions(spark: SparkSession, path: String): (DataFrame, Date) = {
    val raw = spark.read
      .option("sep", ";")
      .option("header", "true")
      .schema(Schemas.transactionsCsv)
      .csv(path)
    val typed = typedTransactions(raw)
    val date = to_date(col("transaction_date"))
    val r = typed.agg(min(date), max(date), count_if(date.isNull)).head()
    val (first, last, nNull) = (r.getDate(0), r.getDate(1), r.getLong(2))
    require(first != null && first == last && nNull == 0,
      s"$path must hold one transaction date; it holds dates $first to " +
        s"$last and $nNull row(s) with a null date")
    (typed, first)
  }

  /** S1–S3 typing projection of [[transactions]]: decimal-comma amount →
    * DECIMAL(10,2), column order fixed. */
  def typedTransactions(raw: DataFrame): DataFrame =
    raw.select(
      col("transaction_id"), col("transaction_date"), col("card_num"),
      col("oper_type"),
      regexp_replace(col("amount"), ",", ".").cast(DecimalType(10, 2)).as("amount"),
      col("oper_result"), col("terminal"))

  /** [[transactions]] with a malformed-row QUARANTINE instead of a
    * poisoned load: at 100 TB a handful of bad rows must divert, not
    * kill the job (the reference's pandas read simply throws —
    * `main.py:45`). Returns (typed good rows, quarantine, batch date):
    *
    *  - structurally malformed lines — wrong field count OR a field
    *    failing its schema type (unparseable timestamp) — via the
    *    PERMISSIVE corrupt-record column → reason `malformed_line`;
    *  - semantically bad rows (an amount string that fails the
    *    decimal-comma cast) → `bad_amount` — the silent-null class a
    *    plain cast would let through;
    *  - everything else flows through exactly [[transactions]]'
    *    projection (same schema, same decimal-comma handling), and the
    *    batch date is computed from GOOD rows only.
    *
    * The quarantine carries the raw line (reconstructed for semantic
    * rejects), per-row reason and source file — enough to replay after
    * a fix. The parsed frame is cached for the two-way split: Spark
    * disallows plans that reference ONLY the corrupt-record column,
    * and the daily-file regime makes the cache free; an unbounded load
    * would fork the split through one `foreachBatch` pass instead. */
  def transactionsQuarantined(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, Date) = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      Schemas.transactionsCsv.fields :+
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType))
    val raw = spark.read
      .option("sep", ";")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(path)
      // file name captured BEFORE the cache boundary — input_file_name()
      // is empty once rows come from the cached relation
      .withColumn("__source_file", input_file_name())
      .cache()
    // try_cast, not cast: under ANSI semantics (the Spark 4 default) a
    // malformed decimal THROWS — the exact poisoned-load failure this
    // reader exists to prevent
    val amountCast = expr(
      "try_cast(regexp_replace(amount, ',', '.') AS DECIMAL(10,2))")
    val reason = when(col("_corrupt_record").isNotNull, "malformed_line")
      .when(col("amount").isNotNull && amountCast.isNull, "bad_amount")
    val quarantine = raw.where(reason.isNotNull)
      .select(
        coalesce(col("_corrupt_record"),
          concat_ws(";", Schemas.transactionsCsv.fieldNames.map(col): _*))
          .as("raw_line"),
        reason.as("reason"),
        col("__source_file").as("source_file"))
    val good = raw.where(reason.isNull).select(
      col("transaction_id"), col("transaction_date"), col("card_num"),
      col("oper_type"), amountCast.as("amount"),
      col("oper_result"), col("terminal"))
    // A fully-poisoned file (every row quarantined) yields a NULL min —
    // fail loudly with the path, not an NPE from getDate(0).
    val minDay = good.agg(min(to_date(col("transaction_date")))).head()
    if (minDay.isNullAt(0))
      throw new IllegalStateException(
        s"no parseable transaction rows in $path — all ${raw.count()} " +
          "line(s) quarantined; inspect the quarantine frame")
    (good, quarantine, minDay.getDate(0))
  }

  /** S5: terminals full snapshot (4 string columns). Reads through the
    * distributed xlsx source ([[graft.sources.XlsxDataSource]]) — one
    * daily file is one partition, a directory of snapshot drops parses
    * across executors instead of serializing through the driver. */
  def terminals(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.format("xlsx").load(path)
    expectHeader(df, Schemas.terminalsSnapshot.fieldNames.toSeq, path)
    df.select(Schemas.terminalsSnapshot.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** S6: cumulative passport blacklist; Excel serial → DateType (1900
    * date system with the Lotus leap bug, hence the 1899-12-30 epoch:
    * 44256 = 2021-03-01), all-null styled rows already dropped by the
    * reader. Same distributed source as
    * [[terminals]]; the serial decode is a column expression so it runs
    * where the rows are. */
  def blacklist(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.format("xlsx").load(path)
    expectHeader(df, Seq("date", "passport"), path)
    // Excel serial string ("44256" / "44256.0") → DateType
    df.select(
      date_add(to_date(lit("1899-12-30")),
        substring_index(col("date"), ".", 1).cast("int")).as("date"),
      col("passport"))
  }

  /** S13: move a consumed file to `<archiveDir>/<name>.backup`. */
  def archive(path: String, archiveDir: String): Unit = {
    val src = Paths.get(path)
    Files.createDirectories(Paths.get(archiveDir))
    Files.move(src, Paths.get(archiveDir, src.getFileName.toString + ".backup"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Order-strict header check (the reference relies on fixed column
    * positions — main.py:70,78); `_file` provenance is the source's own
    * trailing column, not part of the sheet header. */
  private def expectHeader(df: DataFrame, want: Seq[String], path: String): Unit = {
    val header = df.schema.fieldNames.toSeq
      .filterNot(_ == graft.sources.XlsxDataSource.FileColumn).map(_.trim)
    require(header == want, s"unexpected header in $path: ${header.mkString(",")}")
  }
}
