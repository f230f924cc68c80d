package graft.bank

import java.sql.Date

import graft.operators.BandJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four fraud-detection rules (`loading_rep_fraud.py:14-135`),
  * re-expressed as pure DataFrame functions producing REP_FRAUD-shaped
  * rows (event_dt, passport, fio, phone, event_type, report_dt).
  *
  * Spark-first notes:
  *  - the cards→accounts→clients chain (J6) is broadcast: the masters
  *    are tiny dimensions, so the fact scan is never shuffled for them;
  *  - the self band joins (rules 3/4) keep their equi key (card_num) so
  *    Catalyst plans a shuffle/sort-merge join with a range residual —
  *    no cartesian anywhere;
  *  - `DISTINCT ON` without ORDER BY (rules 3/4) is replicated as
  *    `dropDuplicates` on the key — deterministic and semantically equal
  *    because all other output columns are functionally dependent on it
  *    (SURVEY §7 quirk 2);
  *  - rules 1/2 are deliberately NOT deduplicated across days and rules
  *    3/4 anti-join the existing mart, exactly like the reference
  *    (SURVEY §7 quirk 1).
  */
object FraudRules {

  private def fio = concat(col("last_name"), lit(" "), col("first_name"),
    lit(" "), coalesce(col("patronymic"), lit("")))

  /** J6: transactions joined through the master hierarchy; masters are
    * broadcast. Prefix `t.` columns stay unqualified. */
  private def withClients(txns: DataFrame, seed: Seeds.Seed): DataFrame =
    txns
      .join(broadcast(seed.cards.select("card_num", "account")), Seq("card_num"))
      .join(broadcast(seed.accounts.select("account", "valid_to", "client")),
        Seq("account"))
      .join(broadcast(seed.clients), col("client") === col("client_id"))

  private def out(df: DataFrame, eventDt: org.apache.spark.sql.Column,
                  eventType: String, reportDt: Date): DataFrame =
    df.select(
      eventDt.as("event_dt"),
      col("passport_num").as("passport"),
      fio.as("fio"),
      col("phone"),
      lit(eventType).as("event_type"),
      lit(reportDt).as("report_dt"))

  /** Rule 1 — blocked or expired passport (`loading_rep_fraud.py:15-37`):
    * expired at transaction time, or blacklisted before it.
    *
    * The blacklist is CUMULATIVE and grows forever, so a static
    * `broadcast()` hint is an eventual driver OOM (SCALING.md measured
    * the 8g broadcast wall). No hint and no eager count either: the
    * planner broadcasts the blacklist while its plan-time size estimate
    * (the parquet files' size) is under `autoBroadcastJoinThreshold`,
    * and plans a shuffle join above it — the plan a years-old blacklist
    * needs anyway; adaptive execution can still demote that join to a
    * broadcast once the shuffled side turns out small. */
  def rule1(txns: DataFrame, blacklist: DataFrame, seed: Seeds.Seed,
            reportDt: Date): DataFrame = {
    val bl = blacklist.select(col("passport").as("bl_passport"),
      col("date").as("bl_date"))
    val joined = withClients(txns, seed)
      .join(bl, col("passport_num") === col("bl_passport"), "left")
      .where((col("passport_valid_to") < to_date(col("transaction_date")) ||
        (col("bl_passport").isNotNull &&
          to_date(col("transaction_date")) > col("bl_date"))) &&
        col("oper_result") === "SUCCESS")
    out(joined, col("transaction_date"), "blocked or expired passport", reportDt)
  }

  /** Rule 2 — invalid contract (`loading_rep_fraud.py:43-58`). */
  def rule2(txns: DataFrame, seed: Seeds.Seed, reportDt: Date): DataFrame = {
    val joined = withClients(txns, seed)
      .where(to_date(col("transaction_date")) > col("valid_to") &&
        col("oper_result") === "SUCCESS")
    out(joined, col("transaction_date"), "invalid contract", reportDt)
  }

  /** One side of a self band join: every column except the key gets a
    * `_n` suffix so two (or three) sides coexist without aliases. */
  private def sided(txns: DataFrame, n: Int): DataFrame =
    txns.columns.foldLeft(txns)((d, c) =>
      if (c == "card_num") d else d.withColumnRenamed(c, s"${c}_$n"))

  /** Same-card ordered pairs within Δ: the Δ-bucketed rewrite
    * (`operators.BandJoin` — the hot-key-safe 100 TB plan, the only one
    * the daily cycle runs) or, with `bucketed = false`, the naive
    * equi+residual (the reference's plan — fine at its data shapes,
    * quadratic on a hot key), kept as the reference the specs compare
    * against. Identical rows either way (BucketedRulesSpec on the
    * fixture, TransactionsDaySpec on midnight-crossing chains). */
  private def bandPairs(a: DataFrame, b: DataFrame, i: Int, j: Int,
                        deltaUs: Long, bucketed: Boolean): DataFrame =
    if (bucketed)
      BandJoin.joinWithin(a, b, "card_num",
        s"transaction_date_$i", s"transaction_date_$j", deltaUs)
    else
      a.join(b, Seq("card_num"))
        .where(col(s"transaction_date_$i") < col(s"transaction_date_$j") &&
          unix_micros(col(s"transaction_date_$j")) -
            unix_micros(col(s"transaction_date_$i")) < deltaUs)

  /** Rule 3 — operations in different cities within one hour
    * (`loading_rep_fraud.py:64-92`): same-card pair band join + SCD2
    * as-of residual on both endpoints + city-differs filter.
    * Postgres compares timestamp to date at midnight; `effective_to`
    * (a date) is cast to timestamp for the BETWEEN bound. */
  def rule3(txns: DataFrame, termHist: DataFrame, seed: Seeds.Seed,
            repFraud: DataFrame, reportDt: Date,
            bucketed: Boolean = true): DataFrame = {
    val pairs = bandPairs(sided(txns, 1), sided(txns, 2), 1, 2,
      3600L * 1000000L, bucketed)
    def th(n: Int): DataFrame = termHist.columns.foldLeft(termHist)(
      (d, c) => d.withColumnRenamed(c, s"${c}_h$n"))
    val located = pairs
      .join(th(1), col("terminal_1") === col("terminal_id_h1") &&
        col("transaction_date_1") >= col("effective_from_h1").cast("timestamp") &&
        col("transaction_date_1") <= col("effective_to_h1").cast("timestamp"))
      .join(th(2), col("terminal_2") === col("terminal_id_h2") &&
        col("transaction_date_2") >= col("effective_from_h2").cast("timestamp") &&
        col("transaction_date_2") <= col("effective_to_h2").cast("timestamp"))
      .where(col("terminal_city_h1") =!= col("terminal_city_h2") &&
        col("oper_result_2") === "SUCCESS")
    val enriched = located
      .join(broadcast(seed.cards.select("card_num", "account")), Seq("card_num"))
      .join(broadcast(seed.accounts.select("account", "client")), Seq("account"))
      .join(broadcast(seed.clients), col("client") === col("client_id"))
    val candidates = out(enriched, col("transaction_date_2"),
      "ops in diff cities less one hour", reportDt)
      .dropDuplicates("event_dt", "passport")
    antiJoinExisting(candidates, repFraud, "ops in diff cities less one hour")
  }

  /** Rule 4 — amount guessing (`loading_rep_fraud.py:98-129`):
    * REJECT → REJECT → SUCCESS with strictly decreasing amounts, all
    * gaps and the total span under 20 minutes. */
  def rule4(txns: DataFrame, seed: Seeds.Seed, repFraud: DataFrame,
            reportDt: Date, bucketed: Boolean = true): DataFrame = {
    val limit = 1200L * 1000000L
    def us(n: Int) = unix_micros(col(s"transaction_date_$n"))
    val chain = bandPairs(
        bandPairs(sided(txns, 1), sided(txns, 2), 1, 2, limit, bucketed),
        sided(txns, 3), 2, 3, limit, bucketed)
      .where(col("oper_result_1") === "REJECT" &&
        col("oper_result_2") === "REJECT" &&
        col("oper_result_3") === "SUCCESS" &&
        col("amount_1") > col("amount_2") &&
        col("amount_2") > col("amount_3") &&
        us(3) - us(1) < limit)
    val enriched = chain
      .join(broadcast(seed.cards.select("card_num", "account")), Seq("card_num"))
      .join(broadcast(seed.accounts.select("account", "client")), Seq("account"))
      .join(broadcast(seed.clients), col("client") === col("client_id"))
    val candidates = out(enriched, col("transaction_date_3"),
      "amount guessing", reportDt)
      .dropDuplicates("event_dt", "passport")
    antiJoinExisting(candidates, repFraud, "amount guessing")
  }

  /** J12: drop candidates already reported with the same passport,
    * event_dt and event_type (`loading_rep_fraud.py:86-91,123-128`). */
  private def antiJoinExisting(candidates: DataFrame, repFraud: DataFrame,
                               eventType: String): DataFrame =
    candidates.join(
      repFraud.where(col("event_type") === eventType)
        .select("passport", "event_dt"),
      Seq("passport", "event_dt"), "left_anti")
      .select("event_dt", "passport", "fio", "phone", "event_type", "report_dt")
}
