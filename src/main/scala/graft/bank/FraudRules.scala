package graft.bank

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The four fraud-detection rules (`loading_rep_fraud.py:14-135`),
  * re-expressed as pure DataFrame functions producing REP_FRAUD-shaped
  * rows (event_dt, passport, fio, phone, event_type); the mart write
  * adds the day's `report_dt` as the partition directory.
  *
  * Spark-first notes:
  *  - the cards→accounts→clients chain (J6) is resolved once per seed and
  *    broadcast, so the fact scan is never shuffled for it;
  *  - rules 1/2 are one pass over the fact ([[rules12]]);
  *  - the reference's band self-joins (rules 3/4) are one keyed pass
  *    over (card, hour bucket) shared by both rules ([[bandRules]]) —
  *    no join on the card, no cartesian anywhere; the join formulation
  *    is the test twin `FraudRulesJoinTwin`;
  *  - `DISTINCT ON` without ORDER BY (rules 3/4) is replicated as one
  *    aggregate on the key — deterministic and semantically equal
  *    because all other output columns are functionally dependent on it
  *    (SURVEY §7 quirk 2);
  *  - rules 1/2 are deliberately NOT deduplicated across days and rules
  *    3/4 anti-join the existing mart, exactly like the reference
  *    (SURVEY §7 quirk 1).
  */
object FraudRules {

  /** J6: transactions joined to their card's account and client, one
    * broadcast join against the dimension the seed resolved once
    * ([[Seeds.Seed.cardClients]]). Prefix `t.` columns stay unqualified. */
  private def withClients(txns: DataFrame, seed: Seeds.Seed): DataFrame =
    txns.join(broadcast(seed.cardClients), Seq("card_num"))

  /** Rules 1 and 2 in one pass over the fact, both event types in one
    * frame: rule 1, blocked or expired passport
    * (`loading_rep_fraud.py:15-37`: expired at transaction time, or
    * blacklisted before it), and rule 2, invalid contract
    * (`loading_rep_fraud.py:43-58`). Each SUCCESS transaction takes J6
    * and is judged for rule 1 (`__rule` 1); one whose contract expired
    * before its day is also a rule-2 row (`__rule` 2), so the fact side
    * of the blacklist join stays about one row per transaction.
    *
    * Only rule 1 left-joins the blacklist (the join condition carries
    * `__rule = 1`): as in the reference, a passport listed k times
    * yields up to k rule-1 rows, one per listing the transaction
    * follows (or every one, if the passport expired), while the rule-2
    * row stays one row.
    *
    * The blacklist is CUMULATIVE and grows forever, so a static
    * `broadcast()` hint is an eventual driver OOM (SCALING.md measured
    * the 8g broadcast wall). No hint and no eager count either: the
    * planner broadcasts the blacklist while its plan-time size estimate
    * (the parquet files' size) is under `autoBroadcastJoinThreshold`,
    * and plans a shuffle join above it — the plan a years-old blacklist
    * needs anyway; adaptive execution can still demote that join to a
    * broadcast once the shuffled side turns out small. */
  def rules12(txns: DataFrame, blacklist: DataFrame,
              seed: Seeds.Seed): DataFrame = {
    val bl = blacklist.select(col("passport").as("bl_passport"),
      col("date").as("bl_date"))
    val day = to_date(col("transaction_date"))
    val rule1 = col("__rule") === 1
    withClients(txns.where(col("oper_result") === "SUCCESS"), seed)
      .select(col("*"), explode(when(day > col("valid_to"),
        array(lit(1), lit(2))).otherwise(array(lit(1)))).as("__rule"))
      .join(bl, col("passport_num") === col("bl_passport") && rule1, "left")
      .where(!rule1 || col("passport_valid_to") < day ||
        (col("bl_passport").isNotNull && day > col("bl_date")))
      .select(col("transaction_date").as("event_dt"),
        col("passport_num").as("passport"), col("fio"), col("phone"),
        when(rule1, lit(BlockedPassport)).otherwise(lit(InvalidContract))
          .as("event_type"))
  }

  /** The four rules' `event_type` values, in reference order. */
  val BlockedPassport = "blocked or expired passport"
  val InvalidContract = "invalid contract"
  val DiffCities = "ops in diff cities less one hour"
  val AmountGuessing = "amount guessing"

  /** Rules 3 and 4 in one keyed pass, both event types in one frame:
    * rule 3, operations in different cities within one hour
    * (`loading_rep_fraud.py:64-92`), and rule 4, amount guessing
    * (`loading_rep_fraud.py:98-129`: REJECT → REJECT → SUCCESS on one
    * card with strictly decreasing amounts, all gaps and the total span
    * under 20 minutes).
    *
    *  1. Each transaction takes, by a broadcast left join to the SCD2
    *     dimension with the reference's as-of residual (`effective_to`,
    *     a date, compares at midnight), the city of every version open
    *     at it. A transaction under two overlapping versions (the SCD2
    *     changed quirk) is two rows; one under none keeps a null city.
    *  2. Every row lands in its own hour bucket (`home`) and, as a
    *     ghost, in the next one, and the rows are collected once per
    *     (card, bucket): a bucket's list holds every row less than an
    *     hour before any of its home rows.
    *  3. Each home SUCCESS row r is judged against its list: rule 3 if
    *     a strict predecessor within Δ = 1 h has a non-null city other
    *     than r's; rule 4 if two REJECTs p₁ before p₂ lie within
    *     Δ = 20 min before r with amount(p₁) > amount(p₂) > amount(r).
    *  4. The hits take J6's passport ([[withClients]]; per card, so
    *     joining after the verdicts changes none), and
    *     `DISTINCT ON (event_dt, passport)` per rule (SURVEY §7 quirk 2)
    *     is one aggregate that carries both rule flags and, as the
    *     group's representative, its least J6 row (`j6_row`), whose
    *     `fio` and `phone` it then takes; each flag yields its event
    *     type, and J12 drops what the mart already holds. The aggregate
    *     holds booleans and a number only, so it runs as generated
    *     hash-aggregate code, without sorting the hits.
    *
    * So the day plans one (card, bucket) exchange and one dedup
    * exchange for both rules. The keyed collect is the mechanism of the
    * one-pass SCD2 transition (`operators.Cdc.scd2Apply`); a window
    * formulation (two range frames over the same partitions) planned the
    * same exchanges but measured no cheaper than the band joins
    * (SCALING.md).
    *
    * Hot keys: a card's history spreads over its hour buckets, so no
    * card lands whole on one task. The trade is that every row is
    * shuffled twice (home and ghost), and that one hot (card, hour)
    * group of m rows is judged by one task in O(m²) comparisons (more
    * for rule 4's REJECT pairs): the pairs the Δ-bucketed band join
    * enumerated for the same group. */
  def bandRules(txns: DataFrame, termHist: DataFrame, seed: Seeds.Seed,
                repFraud: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val guessUs = 1200L * 1000000L
    val cities = termHist.select(col("terminal_id"), col("terminal_city"),
      col("effective_from").cast("timestamp").as("__from"),
      col("effective_to").cast("timestamp").as("__to"))
    val home = expr(s"unix_micros(transaction_date) DIV ${hourUs}L")
    // r's strict predecessors p within Δ
    def within(p: Column, r: Column, deltaUs: Long) =
      p("us") < r("us") && p("us") > r("us") - deltaUs
    val verdicts = transform(
      filter(col("__rows"), r => r("home") === col("__bucket") &&
        r("result") === "SUCCESS"),
      r => struct(r("ts").as("event_dt"),
        exists(col("__rows"), p => within(p, r, hourUs) &&
          p("city") =!= r("city")).as("__r3"),
        exists(col("__rows"), p1 => p1("result") === "REJECT" &&
          within(p1, r, guessUs) && p1("amount") > r("amount") &&
          exists(col("__rows"), p2 => p2("result") === "REJECT" &&
            p2("us") > p1("us") && p2("us") < r("us") &&
            p1("amount") > p2("amount") && p2("amount") > r("amount")))
          .as("__r4")))
    val hits = txns
      .join(broadcast(cities), col("terminal") === col("terminal_id") &&
        col("transaction_date") >= col("__from") &&
        col("transaction_date") <= col("__to"), "left")
      .where(col("transaction_date").isNotNull)
      .select(col("card_num"),
        explode(array(home, home + 1)).as("__bucket"),
        struct(unix_micros(col("transaction_date")).as("us"),
          col("transaction_date").as("ts"), home.as("home"),
          col("oper_result").as("result"), col("amount"),
          col("terminal_city").as("city")).as("__row"))
      .groupBy("card_num", "__bucket")
      .agg(collect_list("__row").as("__rows"))
      .select(col("card_num"), explode(verdicts).as("__v"))
      .select(col("card_num"), col("__v.event_dt").as("event_dt"),
        col("__v.__r3").as("__r3"), col("__v.__r4").as("__r4"))
      .where(col("__r3") || col("__r4"))
    withClients(hits, seed)
      .groupBy(col("event_dt"), col("passport_num").as("passport"))
      .agg(min("j6_row").as("j6_row"), bool_or(col("__r3")).as("__r3"),
        bool_or(col("__r4")).as("__r4"))
      .select(col("event_dt"), col("passport"), col("j6_row"),
        explode(array(when(col("__r3"), lit(DiffCities)),
          when(col("__r4"), lit(AmountGuessing)))).as("event_type"))
      .where(col("event_type").isNotNull)
      .join(broadcast(seed.cardClients.select("j6_row", "fio", "phone")),
        Seq("j6_row"))
      .join(repFraud.where(col("event_type").isin(DiffCities, AmountGuessing))
        .select("passport", "event_dt", "event_type"),
        Seq("passport", "event_dt", "event_type"), "left_anti")
      .select("event_dt", "passport", "fio", "phone", "event_type")
  }
}
