package graft.bank

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Date

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Three hand-built bank days with in-test seed frames, shared by the
  * batch and streaming day specs. Every expected figure is derived by
  * hand from the rows in this file, not read back from Spark:
  *
  *  - day 1: card K1 (client passport P1, blacklisted 2021-02-15) pays
  *    → rule 1; card K4 pays in Moscow at 11:00 and in Kazan at 11:30
  *    → one rule-3 pair; card K2's contract ends 2021-03-01, so its
  *    same-day payment is no rule-2 hit yet;
  *  - day 2: K2 pays after its contract ended → rule 2; K3 runs a
  *    REJECT 300 → REJECT 200 → SUCCESS 100 chain in ten minutes →
  *    rule 4. The full rescan re-reports rule 1's day-1 hit (reference
  *    quirk) but re-derives K4's day-1 pair only to drop it at J12;
  *  - day 3: P3 is blacklisted from 2021-03-02 and K3 pays → rule 1
  *    now has two hits; rule 2 re-reports K2; K3's day-2 chain is
  *    re-derived and dropped at J12, so rule 4 logs 0.
  *
  * The streaming day's pruned plan reads only `day` for rules 1/2 and
  * `[day−1, day]` for rules 3/4, so it reports nothing twice: day 2 logs
  * no rule-1 row (K1's hit is day 1's), day 3 logs K3's rule-1 hit alone
  * and no rule-2 row (K2's hit is day 2's). Rules 3/4 log as in batch.
  *
  * [[midnightDays]] are four more days, on card K4 alone, whose rule-3
  * and rule-4 chains cross midnight — the case the pruned plan's
  * `[day−1, day]` window exists for.
  */
object BankDays {
  private lazy val spark = SparkTestSession.spark

  def d(s: String): Date = Date.valueOf(s)

  lazy val seed: Seeds.Seed = {
    import spark.implicits._
    val c0 = d("2020-01-01")
    Seeds.Seed(
      cards = Seq("K1" -> "A1", "K2" -> "A2", "K3" -> "A3", "K4" -> "A4")
        .map { case (k, a) => (k, a, c0, c0) }
        .toDF("card_num", "account", "create_dt", "update_dt"),
      accounts = Seq(("A1", "2030-01-01", "C1"), ("A2", "2021-03-01", "C2"),
          ("A3", "2030-01-01", "C3"), ("A4", "2030-01-01", "C4"))
        .map { case (a, to, c) => (a, d(to), c, c0, c0) }
        .toDF("account", "valid_to", "client", "create_dt", "update_dt"),
      clients = (1 to 4).map(i => (s"C$i", s"Last$i", s"First$i",
          s"Patr$i", d("1980-01-01"), s"P$i", d("2030-01-01"), s"+7$i",
          c0, c0))
        .toDF("client_id", "last_name", "first_name", "patronymic",
          "date_of_birth", "passport_num", "passport_valid_to", "phone",
          "create_dt", "update_dt"))
  }

  /** (id, timestamp, amount with decimal comma, card, result, terminal) */
  type Txn = (String, String, String, String, String, String)

  def txnsDf(rows: Seq[Txn]): DataFrame = {
    import spark.implicits._
    Ingest.typedTransactions(rows
      .map { case (id, ts, amt, card, res, term) =>
        (id, ts, amt, card, "PAYMENT", res, term) }
      .toDF("transaction_id", "ts", "amount", "card_num", "oper_type",
        "oper_result", "terminal")
      .withColumn("transaction_date", to_timestamp(col("ts"))).drop("ts"))
  }

  def blacklistDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (dt, p) => (d(dt), p) }.toDF("date", "passport")
  }

  def terminalsDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, city) => (id, "POS", city, s"$city addr") }
      .toDF("terminal_id", "terminal_type", "terminal_city",
        "terminal_address")
  }

  private val terms2 = Seq("T1" -> "Moscow", "T2" -> "Kazan")

  /** (day, transactions, cumulative blacklist, terminals snapshot) */
  type Day = (Date, Seq[Txn], Seq[(String, String)], Seq[(String, String)])

  val days: Seq[Day] = Seq(
    (d("2021-03-01"), Seq(
        ("d1a", "2021-03-01 10:00:00", "100,00", "K1", "SUCCESS", "T1"),
        ("d1b", "2021-03-01 11:00:00", "50,00", "K4", "SUCCESS", "T1"),
        ("d1c", "2021-03-01 11:30:00", "40,00", "K4", "SUCCESS", "T2"),
        ("d1d", "2021-03-01 12:00:00", "10,00", "K2", "SUCCESS", "T1")),
      Seq("2021-02-15" -> "P1"), terms2),
    (d("2021-03-02"), Seq(
        ("d2a", "2021-03-02 09:00:00", "20,00", "K2", "SUCCESS", "T1"),
        ("d2b", "2021-03-02 10:00:00", "300,00", "K3", "REJECT", "T1"),
        ("d2c", "2021-03-02 10:05:00", "200,00", "K3", "REJECT", "T1"),
        ("d2d", "2021-03-02 10:10:00", "100,00", "K3", "SUCCESS", "T1")),
      Seq("2021-02-15" -> "P1", "2021-03-01" -> "P9"), terms2),
    (d("2021-03-03"), Seq(
        ("d3a", "2021-03-03 12:00:00", "70,00", "K3", "SUCCESS", "T2"),
        ("d3b", "2021-03-03 13:00:00", "30,00", "K1", "REJECT", "T1")),
      Seq("2021-02-15" -> "P1", "2021-03-01" -> "P9", "2021-03-02" -> "P3"),
      terms2 :+ ("T3" -> "Omsk")))

  val ruleTypes: Seq[(String, String)] = Seq(
    "REP_FRAUD_passport" -> "blocked or expired passport",
    "REP_FRAUD_contract" -> "invalid contract",
    "REP_FRAUD_diff_cities" -> "ops in diff cities less one hour",
    "REP_FRAUD_attempt_amount" -> "amount guessing")

  /** Hand-derived rule counts per day, in reference order: the batch
    * day's full rescan, and the streaming day's pruned plan. */
  val expectedRules: Seq[Seq[Int]] = Seq(Seq(1, 0, 1, 0), Seq(1, 1, 0, 1),
    Seq(2, 1, 0, 0))
  val expectedStreamRules: Seq[Seq[Int]] = Seq(Seq(1, 0, 1, 0),
    Seq(0, 1, 0, 1), Seq(1, 0, 0, 0))

  /** Card K4 (passport P4, contract and passport valid, never
    * blacklisted: no rule-1/2 hit) over four days:
    *
    *  - 04-01: Moscow 10:00, Kazan 10:30 → an in-day rule-3 pair; Moscow
    *    23:45;
    *  - 04-02: Kazan 00:15 → a rule-3 pair with 04-01 23:45, across
    *    midnight; REJECT 300 at 23:50;
    *  - 04-03: REJECT 200 at 00:00, SUCCESS 100 at 00:05 → a rule-4
    *    chain with 04-02 23:50, across midnight;
    *  - 04-04: one quiet payment. The full rescan re-derives every
    *    earlier chain here and drops it at J12; the pruned window never
    *    sees them.
    *
    * So 2 rule-3 hits and 1 rule-4 hit in either mode. */
  val midnightDays: Seq[Day] = {
    def t(id: String, ts: String, amt: String, res: String, term: String) =
      (id, ts, amt, "K4", res, term)
    Seq(
      (d("2021-04-01"), Seq(
        t("m1", "2021-04-01 10:00:00", "100,00", "SUCCESS", "T1"),
        t("m2", "2021-04-01 10:30:00", "90,00", "SUCCESS", "T2"),
        t("m3", "2021-04-01 23:45:00", "80,00", "SUCCESS", "T1"))),
      (d("2021-04-02"), Seq(
        t("m4", "2021-04-02 00:15:00", "70,00", "SUCCESS", "T2"),
        t("m5", "2021-04-02 23:50:00", "300,00", "REJECT", "T1"))),
      (d("2021-04-03"), Seq(
        t("m6", "2021-04-03 00:00:00", "200,00", "REJECT", "T1"),
        t("m7", "2021-04-03 00:05:00", "100,00", "SUCCESS", "T1"))),
      (d("2021-04-04"), Seq(
        t("m8", "2021-04-04 12:00:00", "50,00", "SUCCESS", "T1"))))
      .map { case (day, txns) => (day, txns, Nil, terms2) }
  }

  /** The META_LOADING parquet files currently in `wh`. */
  private def metaFiles(wh: Warehouse): Set[Path] = {
    val dir = Paths.get(wh.root, Pipeline.MetaLoading)
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  /** Run `step`; the rows of each META file it added, each file read on
    * its own so its row order is the file's. */
  def metaAdded(wh: Warehouse)(step: => Unit): Seq[Seq[Row]] = {
    val before = metaFiles(wh)
    step
    (metaFiles(wh) -- before).toSeq.map(f =>
      spark.read.parquet(f.toString).collect().toSeq)
  }

  /** Copy the directory tree `src` to `dst`. */
  def copyDir(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** The dimension tables a transactions day reads. */
  private val dimTables = Seq(Pipeline.FactBlacklist, Pipeline.DimTerminals)

  /** Copy `wh`'s dimension tables to `<snapshots>/<i>/`. */
  def saveDims(wh: Warehouse, snapshots: Path, i: Int): Unit =
    dimTables.foreach(t => copyDir(Paths.get(wh.root, t),
      snapshots.resolve(s"$i/$t")))

  /** Replace `into`'s dimension tables with the copies [[saveDims]] made
    * under `<snapshots>/<i>/`. */
  def landDims(snapshots: Path, i: Int, into: Warehouse): Unit =
    dimTables.foreach { t =>
      into.drop(t)
      copyDir(snapshots.resolve(s"$i/$t"), Paths.get(into.root, t))
    }

  /** Every file under `root` with its size and modification time: equal
    * listings mean nothing was written. */
  def fileListing(root: String): Set[(Path, Long, Long)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (f, Files.size(f), Files.getLastModifiedTime(f).toMillis))
      .toSet
    finally walk.close()
  }
}
