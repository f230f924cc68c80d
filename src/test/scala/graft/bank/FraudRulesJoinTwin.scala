package graft.bank

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference twin of rules 3 and 4 ([[FraudRules.bandRules]]): the
  * band self-join formulation that re-expresses the reference's
  * statements one for one (`loading_rep_fraud.py:64-129`) — same-card
  * ordered pairs within Δ, the SCD2 as-of residual on both endpoints of
  * rule 3, the REJECT → REJECT → SUCCESS chain of rule 4, the J6 client
  * chain, `DISTINCT ON` as `dropDuplicates` and the J12 anti-join, on
  * the reference's naive plan (equi key + range residual). Kept in test
  * scope as the readable statement of the semantics the one keyed pass
  * must reproduce row for row (RulesEquivalenceSpec, BucketedRulesSpec,
  * TransactionsDaySpec). */
object FraudRulesJoinTwin {

  /** One side of a self band join: every column except the key gets a
    * `_n` suffix so two (or three) sides coexist without aliases. */
  private def sided(txns: DataFrame, n: Int): DataFrame =
    txns.columns.foldLeft(txns)((d, c) =>
      if (c == "card_num") d else d.withColumnRenamed(c, s"${c}_$n"))

  /** Same-card ordered pairs within Δ: equi key + range residual (the
    * reference's plan — fine at its data shapes, quadratic on a hot
    * key). */
  private def bandPairs(a: DataFrame, b: DataFrame, i: Int, j: Int,
                        deltaUs: Long): DataFrame =
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
            repFraud: DataFrame): DataFrame = {
    val pairs = bandPairs(sided(txns, 1), sided(txns, 2), 1, 2,
      3600L * 1000000L)
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
    val enriched = located.join(broadcast(seed.cardClients), Seq("card_num"))
    val candidates = out(enriched, col("transaction_date_2"),
      "ops in diff cities less one hour")
      .dropDuplicates("event_dt", "passport")
    antiJoinExisting(candidates, repFraud, "ops in diff cities less one hour")
  }

  /** Rule 4 — amount guessing (`loading_rep_fraud.py:98-129`):
    * REJECT → REJECT → SUCCESS with strictly decreasing amounts, all
    * gaps and the total span under 20 minutes. */
  def rule4(txns: DataFrame, seed: Seeds.Seed,
            repFraud: DataFrame): DataFrame = {
    val limit = 1200L * 1000000L
    def us(n: Int) = unix_micros(col(s"transaction_date_$n"))
    val chain = bandPairs(
        bandPairs(sided(txns, 1), sided(txns, 2), 1, 2, limit),
        sided(txns, 3), 2, 3, limit)
      .where(col("oper_result_1") === "REJECT" &&
        col("oper_result_2") === "REJECT" &&
        col("oper_result_3") === "SUCCESS" &&
        col("amount_1") > col("amount_2") &&
        col("amount_2") > col("amount_3") &&
        us(3) - us(1) < limit)
    val enriched = chain.join(broadcast(seed.cardClients), Seq("card_num"))
    val candidates = out(enriched, col("transaction_date_3"),
      "amount guessing")
      .dropDuplicates("event_dt", "passport")
    antiJoinExisting(candidates, repFraud, "amount guessing")
  }

  private def out(df: DataFrame, eventDt: Column,
                  eventType: String): DataFrame =
    df.select(eventDt.as("event_dt"), col("passport_num").as("passport"),
      col("fio"), col("phone"), lit(eventType).as("event_type"))

  /** J12: drop candidates already reported with the same passport,
    * event_dt and event_type (`loading_rep_fraud.py:86-91,123-128`). */
  private def antiJoinExisting(candidates: DataFrame, repFraud: DataFrame,
                               eventType: String): DataFrame =
    candidates.join(
      repFraud.where(col("event_type") === eventType)
        .select("passport", "event_dt"),
      Seq("passport", "event_dt"), "left_anti")
      .select("event_dt", "passport", "fio", "phone", "event_type")
}
