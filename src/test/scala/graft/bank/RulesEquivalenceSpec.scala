package graft.bank

import java.sql.Date
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import scala.util.Random

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Rules 3/4 as one keyed pass ([[FraudRules.bandRules]]) against the
  * reference's naive band self-joins ([[FraudRulesJoinTwin]]): the same
  * rows with the same multiplicities, in the mart's column order, on
  * hand-built edge cases and on seeded random days over a few cards and
  * terminals (so timestamps collide, chains cross hour buckets and
  * midnight, SCD2 versions overlap or leave gaps, and nulls turn up).
  * BucketedRulesSpec checks the replayed 3- and 4-day fixture.
  *
  * The hand-built cases share one master chain: cards K1 and K2 belong
  * to client C1 (passport P1), K3 to C3 (P3); K9's account A9 does not
  * exist. Terminals: T1 Moscow and T2 Kazan, open since 2021-01-01; TN
  * with a null city; TQ under two overlapping open versions (Omsk, Perm;
  * the SCD2 changed quirk); TG closed at 2021-03-01 and reopened from
  * 2021-03-03, so on 2021-03-02 it matches no version. Each case's rule
  * counts are derived by hand from its rows. */
class RulesEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val day = Date.valueOf("2021-03-02")
  private val Diff = "ops in diff cities less one hour"
  private val Guess = "amount guessing"

  /** (id, timestamp or null, card, result, amount, terminal) */
  private type Txn = (String, String, String, String, String, String)
  /** (terminal, city, effective_from, effective_to) */
  private type Version = (String, String, String, String)
  /** (event_dt, passport, event_type) */
  private type Reported = (String, String, String)

  private final case class Masters(cards: Seq[(String, String)],
                                   accounts: Seq[(String, String)],
                                   clients: Seq[(String, String)])

  private val masters = Masters(
    cards = Seq("K1" -> "A1", "K2" -> "A1", "K3" -> "A3", "K9" -> "A9"),
    accounts = Seq("A1" -> "C1", "A3" -> "C3"),
    clients = Seq("C1" -> "P1", "C3" -> "P3"))

  private val versions: Seq[Version] = Seq(
    ("T1", "Moscow", "2021-01-01", "5999-12-31"),
    ("T2", "Kazan", "2021-01-01", "5999-12-31"),
    ("TN", null, "2021-01-01", "5999-12-31"),
    ("TQ", "Omsk", "2021-01-01", "5999-12-31"),
    ("TQ", "Perm", "2021-03-01", "5999-12-31"),
    ("TG", "Tver", "2021-01-01", "2021-03-01"),
    ("TG", "Tula", "2021-03-03", "5999-12-31"))

  /** Build a frame of string columns, then cast them in the session's
    * time zone (UTC). */
  private def typed(rows: Seq[Seq[String]], names: Seq[String],
                    casts: Seq[(String, String)]): DataFrame = {
    val schema = StructType(names.map(StructField(_, StringType)))
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*), schema)
    val to = casts.toMap
    raw.select(names.map(n => to.get(n).fold(col(n))(col(n).cast(_)).as(n)): _*)
  }

  private def frames(txns: Seq[Txn], hist: Seq[Version], m: Masters,
                     mart: Seq[Reported])
      : (DataFrame, DataFrame, Seeds.Seed, DataFrame) = {
    val facts = typed(
      txns.map { case (id, ts, card, res, amt, term) =>
        Seq(id, ts, card, "PAYMENT", amt, res, term) },
      Schemas.factTransactions.fieldNames.toSeq,
      Seq("transaction_date" -> "timestamp", "amount" -> "decimal(10,2)"))
    val termHist = typed(
      hist.map { case (t, city, from, to) =>
        Seq(t, "POS", city, s"$t addr", from, to, "false") },
      Schemas.dimTerminalsHist.fieldNames.toSeq,
      Seq("effective_from" -> "date", "effective_to" -> "date",
        "deleted_flg" -> "boolean"))
    val c0 = "2020-01-01"
    val seed = Seeds.Seed(
      cards = typed(m.cards.map { case (k, a) => Seq(k, a, c0, c0) },
        Schemas.cards.fieldNames.toSeq,
        Seq("create_dt" -> "date", "update_dt" -> "date")),
      accounts = typed(
        m.accounts.map { case (a, c) => Seq(a, "2030-01-01", c, c0, c0) },
        Schemas.accounts.fieldNames.toSeq,
        Seq("valid_to" -> "date", "create_dt" -> "date",
          "update_dt" -> "date")),
      clients = typed(
        m.clients.map { case (c, p) => Seq(c, s"Last$c", s"First$c",
          if (c.endsWith("1")) null else s"Patr$c", "1980-01-01", p,
          "2030-01-01", s"+7$c", c0, c0) },
        Schemas.clients.fieldNames.toSeq,
        Seq("date_of_birth" -> "date", "passport_valid_to" -> "date",
          "create_dt" -> "date", "update_dt" -> "date")))
    val repFraud = typed(
      mart.map { case (dt, p, t) => Seq(dt, p, "fio", "phone", t, "2021-03-01") },
      Schemas.repFraud.fieldNames.toSeq,
      Seq("event_dt" -> "timestamp", "report_dt" -> "date"))
    (facts, termHist, seed, repFraud)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Production against the twin's naive plan on one input; returns the
    * (rule 3, rule 4) row counts. */
  private def assertSame(facts: DataFrame, termHist: DataFrame,
                         seed: Seeds.Seed, mart: DataFrame,
                         clue: String): (Int, Int) = {
    val both = FraudRules.bandRules(facts, termHist, seed, mart)
    val got3 = both.where(col("event_type") === FraudRules.DiffCities)
    val want3 = FraudRulesJoinTwin.rule3(facts, termHist, seed, mart)
    val got4 = both.where(col("event_type") === FraudRules.AmountGuessing)
    val want4 = FraudRulesJoinTwin.rule4(facts, seed, mart)
    assert(got3.columns.toSeq == want3.columns.toSeq, clue)
    assert(got4.columns.toSeq == want4.columns.toSeq, clue)
    val (r3, r4) = (rows(got3), rows(got4))
    assert(r3 == rows(want3), s"$clue: rule 3")
    assert(r4 == rows(want4), s"$clue: rule 4")
    (r3.size, r4.size)
  }

  private def assertCase(clue: String, txns: Seq[Txn], want: (Int, Int),
                         mart: Seq[Reported] = Nil): Unit = {
    val (f, h, s, m) = frames(txns, versions, masters, mart)
    assert(assertSame(f, h, s, m, clue) == want, clue)
  }

  private def t(id: String, ts: String, card: String, res: String,
                amt: String, term: String): Txn =
    (id, if (ts == null) null else s"2021-03-02 $ts", card, res, amt, term)

  test("two overlapping open versions of one terminal with different cities") {
    // the same terminal is Omsk and Perm at once: the pair differs
    assertCase("SCD2 changed quirk", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "TQ"),
      t("b", "10:30:00", "K1", "SUCCESS", "10", "TQ")), (1, 0))
  }

  test("a transaction in the post-close gap matches no version") {
    assertCase("post-close gap", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "TG"),
      t("b", "10:30:00", "K1", "SUCCESS", "10", "T2"),
      t("c", "12:00:00", "K3", "SUCCESS", "10", "T1"),
      t("d", "12:30:00", "K3", "SUCCESS", "10", "TG")), (0, 0))
  }

  test("a null city never differs") {
    assertCase("null city", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "TN"),
      t("b", "10:20:00", "K1", "SUCCESS", "10", "T1"),
      t("c", "10:40:00", "K1", "SUCCESS", "10", "TN")), (0, 0))
  }

  test("equal timestamps are not ordered pairs") {
    assertCase("equal timestamps", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "T1"),
      t("b", "10:00:00", "K1", "SUCCESS", "10", "T2"),
      t("c", "11:00:00", "K3", "REJECT", "300", "T1"),
      t("d", "11:00:00", "K3", "REJECT", "200", "T1"),
      t("e", "11:05:00", "K3", "SUCCESS", "100", "T1")), (0, 0))
  }

  test("a gap of exactly Δ is excluded, Δ − 1 µs included") {
    assertCase("Δ bounds", Seq(
      // rule 3: exactly one hour (K1) and one hour less 1 µs (K3)
      t("a", "10:00:00", "K1", "SUCCESS", "10", "T1"),
      t("b", "11:00:00", "K1", "SUCCESS", "10", "T2"),
      t("c", "10:00:00", "K3", "SUCCESS", "10", "T1"),
      t("d", "10:59:59.999999", "K3", "SUCCESS", "10", "T2"),
      // rule 4: a total span of exactly 20 min (K1) and 20 min less 1 µs (K3)
      t("e", "13:00:00", "K1", "REJECT", "300", "T1"),
      t("f", "13:10:00", "K1", "REJECT", "200", "T1"),
      t("g", "13:20:00", "K1", "SUCCESS", "100", "T1"),
      t("h", "14:00:00", "K3", "REJECT", "300", "T1"),
      t("i", "14:10:00", "K3", "REJECT", "200", "T1"),
      t("j", "14:19:59.999999", "K3", "SUCCESS", "100", "T1")), (1, 1))
  }

  test("chains crossing an hour bucket and midnight") {
    def prev(id: String, ts: String, card: String, res: String,
             amt: String, term: String): Txn =
      (id, s"2021-03-01 $ts", card, res, amt, term)
    assertCase("bucket and midnight", Seq(
      prev("a", "23:50:00", "K1", "SUCCESS", "10", "T1"),
      t("b", "00:10:00", "K1", "SUCCESS", "10", "T2"),
      prev("c", "23:55:00", "K3", "REJECT", "300", "T1"),
      t("d", "00:00:00", "K3", "REJECT", "200", "T1"),
      t("e", "00:05:00", "K3", "SUCCESS", "100", "T1"),
      t("f", "10:59:00", "K1", "SUCCESS", "10", "T1"),
      t("g", "11:01:00", "K1", "SUCCESS", "10", "T2")), (2, 1))
  }

  test("equal amounts break a rule-4 chain") {
    assertCase("equal amounts", Seq(
      t("a", "10:00:00", "K1", "REJECT", "200", "T1"),
      t("b", "10:05:00", "K1", "REJECT", "200", "T1"),
      t("c", "10:10:00", "K1", "SUCCESS", "100", "T1"),
      t("d", "10:00:00", "K3", "REJECT", "300", "T1"),
      t("e", "10:05:00", "K3", "REJECT", "200", "T1"),
      t("f", "10:10:00", "K3", "SUCCESS", "200", "T1")), (0, 0))
  }

  test("a SUCCESS interleaved in a REJECT chain") {
    // the 50 has one REJECT before it; the 100 has the 300 → 200 pair
    assertCase("interleaved SUCCESS", Seq(
      t("a", "10:00:00", "K1", "REJECT", "300", "T1"),
      t("b", "10:02:00", "K1", "SUCCESS", "50", "T1"),
      t("c", "10:04:00", "K1", "REJECT", "200", "T1"),
      t("d", "10:06:00", "K1", "SUCCESS", "100", "T1")), (0, 1))
  }

  test("two cards of one client hitting in the same second") {
    // one (event_dt, passport) per rule after the dedup
    assertCase("two cards, one client", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "T1"),
      t("b", "10:30:00", "K1", "SUCCESS", "10", "T2"),
      t("c", "10:00:00", "K2", "SUCCESS", "10", "T2"),
      t("d", "10:30:00", "K2", "SUCCESS", "10", "T1"),
      t("e", "12:00:00", "K1", "REJECT", "300", "T1"),
      t("f", "12:05:00", "K1", "REJECT", "200", "T1"),
      t("g", "12:10:00", "K1", "SUCCESS", "100", "T1"),
      t("h", "12:00:00", "K2", "REJECT", "300", "T1"),
      t("i", "12:05:00", "K2", "REJECT", "200", "T1"),
      t("j", "12:10:00", "K2", "SUCCESS", "100", "T1")), (1, 1))
  }

  test("a card without an account, and one not in the cards master") {
    assertCase("no account", Seq("K9", "KX").flatMap(k => Seq(
      t(s"$k-a", "10:00:00", k, "REJECT", "300", "T1"),
      t(s"$k-b", "10:05:00", k, "REJECT", "200", "T2"),
      t(s"$k-c", "10:10:00", k, "SUCCESS", "100", "T1"))), (0, 0))
  }

  test("a null-timestamp row takes part in no chain") {
    assertCase("null timestamp", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "T1"),
      t("b", null, "K1", "SUCCESS", "10", "T2"),
      t("c", "10:30:00", "K1", "SUCCESS", "10", "T2"),
      t("d", "10:00:00", "K3", "REJECT", "300", "T1"),
      t("e", null, "K3", "REJECT", "250", "T1"),
      t("f", "10:05:00", "K3", "REJECT", "200", "T1"),
      t("g", "10:10:00", "K3", "SUCCESS", "100", "T1")), (1, 1))
  }

  test("J12 drops a hit the mart already holds under its own event type") {
    // P1's rule-3 hit is reported; P3's rule-4 hit is reported only
    // under the other type, so it stays
    assertCase("J12", Seq(
      t("a", "10:00:00", "K1", "SUCCESS", "10", "T1"),
      t("b", "10:30:00", "K1", "SUCCESS", "10", "T2"),
      t("c", "12:00:00", "K3", "REJECT", "300", "T1"),
      t("d", "12:05:00", "K3", "REJECT", "200", "T1"),
      t("e", "12:10:00", "K3", "SUCCESS", "100", "T1")), (0, 1),
      mart = Seq(("2021-03-02 10:30:00", "P1", Diff),
        ("2021-03-02 12:10:00", "P3", Diff)))
  }

  test("seeded random days over a few cards and terminals") {
    val cities = Seq("Moscow", "Kazan", "Omsk", null)
    val dates = Seq("2021-02-28", "2021-03-01", "2021-03-02", "5999-12-31")
    val start = LocalDateTime.of(2021, 3, 1, 23, 30)
    val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val hits = (0 until 32).map { trial =>
      val rnd = new Random(trial)
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      val m = Masters(
        cards = (0 until 4).map(i => s"K$i" -> pick(Seq("A0", "A1", "A2", "A9"))),
        accounts = (0 until 3).map(i => s"A$i" -> pick(Seq("C0", "C1", "C2"))),
        clients = (0 until 3).map(i => s"C$i" -> s"P$i"))
      val hist = (0 until 4).flatMap { i =>
        (0 to rnd.nextInt(3)).map { _ =>
          val from = pick(dates.init)
          (s"T$i", pick(cities), from, pick(dates.filter(_ >= from)))
        }
      }
      // 23:30 on 03-01 to 00:30 on 03-02: chains cross midnight (an hour
      // bucket's edge); whole minutes collide, an odd µs stays off the grid
      val txns = (0 until 20 + rnd.nextInt(20)).map { i =>
        val us = (rnd.nextInt(60) * 60L + pick(Seq(0L, 0L, 30L))) * 1000000L +
          (if (rnd.nextInt(10) == 0) 1L else 0L)
        val ts = if (rnd.nextInt(20) == 0) null
          else start.plus(us, ChronoUnit.MICROS).format(stamp)
        (s"x$i", ts, if (rnd.nextInt(20) == 0) "KX" else s"K${rnd.nextInt(4)}",
          pick(Seq("REJECT", "SUCCESS")), pick(Seq("100", "200", "300", "400")),
          if (rnd.nextInt(20) == 0) null else s"T${rnd.nextInt(4)}")
      }
      val mart = (0 until rnd.nextInt(4)).flatMap { _ =>
        Option(pick(txns)._2).map(ts =>
          (ts, s"P${rnd.nextInt(3)}", pick(Seq(Diff, Guess))))
      }
      val (f, h, s, r) = frames(txns, hist, m, mart)
      assertSame(f, h, s, r, s"trial $trial")
    }
    // the draws exercise both rules
    assert(hits.map(_._1).sum > 0 && hits.map(_._2).sum > 0, hits)
  }
}
