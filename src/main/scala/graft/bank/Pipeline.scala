package graft.bank

import java.sql.Date

import scala.concurrent.Await

import graft.bank.Warehouse.Meta
import graft.operators.Cdc
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The daily cycle, reference order (`main.py:85-117`): ingest 3 files
  * → blacklist fact append (anti-join dedup) → SCD2 terminals transition
  * → the transactions day ([[Pipeline.transactionsDay]]: fact partition,
  * the four fraud rules into REP_FRAUD, the day's META_LOADING audit
  * rows). Each day is one call of [[runDayStaged]]; state lives in the
  * [[Warehouse]]. The batch [[runDay]] and the streaming
  * [[graft.streaming.IngestStream.runDailyDrains]] both land their days
  * through it.
  *
  * The mode fixes the rule plan. Batch (`streaming = false`) rescans the
  * whole accumulated fact every day, as the reference does
  * (`loading_rep_fraud.py:73,107`) — the golden mode, which tolerates
  * days run out of order. Streaming runs the pruned plan of the same core
  * and therefore requires days in calendar order.
  */
final class Pipeline(wh: Warehouse, seed: Seeds.Seed,
                     streaming: Boolean = false) {
  private val spark: SparkSession = wh.spark

  import Pipeline._

  /** Run one day given the three file paths; files are archived after
    * the run (`main.py:66,74,82`). Returns the batch date. */
  def runDay(txnPath: String, blacklistPath: String, terminalsPath: String,
             archiveDir: String): Date = {
    val day = runFiles(txnPath, blacklistPath, terminalsPath)
    Seq(txnPath, blacklistPath, terminalsPath)
      .foreach(Ingest.archive(_, archiveDir))
    day
  }

  /** Read one day's three drops with the [[Ingest]] readers
    * (`main.py:43-82`) and land them through [[runDayStaged]]; nothing
    * is archived. Returns the batch date. */
  def runFiles(txnPath: String, blacklistPath: String, terminalsPath: String,
               failpoint: String => Unit = _ => ()): Date = {
    val (txns, day) = Ingest.transactions(spark, txnPath)
    runDayStaged(txns, Ingest.blacklist(spark, blacklistPath),
      Ingest.terminals(spark, terminalsPath), day, failpoint)
    day
  }

  /** The post-ingest daily cycle over typed staging frames: blacklist
    * fact → SCD2 terminals → [[Pipeline.transactionsDay]]. `txns` must
    * hold the rows of `day` only ([[Ingest.transactions]] enforces it for
    * a file): the fact lands as the overwrite of partition `txn_date=day`,
    * and [[transactionsDay]] fails the day if a row held another date.
    *
    * The whole day is exactly-once:
    *
    *  - a COMPLETED day (its last rule marker, `REP_FRAUD_attempt_amount`,
    *    in META) is skipped and writes nothing, after a content check
    *    against its fact partition: a same-day file with DIFFERENT
    *    content is an upstream fault, not a re-run, and fails loudly;
    *  - the blacklist append is idempotent through its anti-join;
    *  - the SCD2 swap carries the day it applied ([[AppliedDayTag]]), and
    *    a re-run of that day skips the transition — `scd2Apply` itself
    *    is not idempotent (the reference's all-versions deleted-detection
    *    re-tombstones on re-apply);
    *  - fact and mart are partition overwrites, and META is written once,
    *    after every write ([[transactionsDay]]).
    *
    * So a cut anywhere in the day, followed by a re-run of the same day,
    * leaves the warehouse of an uninterrupted run. `failpoint` is the
    * crash-injection seam (`scd2_swap`, then [[transactionsDay]]'s two);
    * a throwing hook simulates a crash there.
    *
    * A streaming day must not sort below any fact day already landed: the
    * pruned rule plan equals the full rescan only with days applied in
    * calendar order. The check reads the fact's partition directory
    * names, no data.
    *
    * META in reference order: staging counts, then (batch only) the
    * reference's staging clears, then one row per rule. The blacklist
    * count is observed on its append ([[RowCount]]); the terminals
    * snapshot is cached, since both its count and SCD2 read it. */
  def runDayStaged(txns: DataFrame, blacklist: DataFrame,
                   terminals: DataFrame, day: Date,
                   failpoint: String => Unit = _ => ()): Unit = {
    val dayRows = txns.select(FactColumns.map(col): _*)
    if (completed(wh, day)) {
      requireSameDay(day, dayRows)
      return
    }
    if (streaming) landedDays(wh).find(_.after(day)).foreach { last =>
      throw new IllegalArgumentException(
        s"out-of-order drop: day $day arrived while fact partitions " +
          s"already reach $last; the pruned rule plan needs days in " +
          "calendar order")
    }

    // --- blacklist fact (`comm_funcs.py:47-56`)
    val blFact = wh.readOr(FactBlacklist)
    val (blNew, Seq(nBlacklist)) = RowCount.observe(blacklist,
      Seq("stg_passport_blacklist" -> lit(true)))(
      _.join(blFact.select("passport"), Seq("passport"), "left_anti")
        .select("date", "passport"))
    wh.append(FactBlacklist, blNew)

    // --- SCD2 terminals dimension (`incr_loading.py`)
    val stgTerminals = terminals.cache()
    val nTerminals = stgTerminals.count()
    if (!wh.readTag(DimTerminals, AppliedDayTag).contains(day.toString)) {
      val newHist = Cdc.scd2Apply(wh.readOr(DimTerminals), stgTerminals, day,
        keyCol = "terminal_id",
        attrCols = Seq("terminal_type", "terminal_city", "terminal_address"))
      wh.overwriteTagged(DimTerminals,
        newHist.select(Schemas.dimTerminalsHist.fieldNames.map(col).toSeq: _*),
        Map(AppliedDayTag -> day.toString))
    }
    stgTerminals.unpersist()
    failpoint("scd2_swap")

    // --- facts, fraud mart and the day's audit (`comm_funcs.py:13-78`,
    // `loading_rep_fraud.py`)
    val clears = if (streaming) Nil
      else Seq("stg_transactions", "stg_terminals", "stg_passport_blacklist")
        .map(t => Meta(s"CLEAR_$t", day, 0))
    transactionsDay(wh, seed, day, dayRows, incremental = streaming,
      extraMeta = Seq(Meta("stg_passport_blacklist", day, nBlacklist.get()),
        Meta("stg_terminals", day, nTerminals)) ++ clears,
      failpoint)
  }

  /** A re-run of completed `day` must carry the rows its fact partition
    * holds. Signature, order-independent over all fact columns: (count,
    * XOR of per-row 64-bit hashes, SUM of the same hashes). XOR alone is
    * blind to even-multiplicity edits (a duplicated pair {A,A} rewritten
    * to {B,B} XORs to 0 both ways); the sum catches those, accumulated as
    * decimal(38,0), which cannot overflow at any realistic day size. */
  private def requireSameDay(day: Date, dayRows: DataFrame): Unit = {
    def sig(df: DataFrame): (Long, Long, String) = {
      val hash = s"xxhash64(${FactColumns.mkString(", ")})"
      val r = df.agg(count(lit(1)),
        expr(s"bit_xor($hash)"),
        expr(s"cast(sum(cast($hash as decimal(38,0))) as string)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) "" else r.getString(2))
    }
    val existing = sig(wh.read(FactTransactions)
      .where(col("txn_date") === lit(day)))
    val incoming = sig(dayRows)
    require(existing == incoming,
      s"re-delivery of completed day $day with different content " +
        s"(rows/xor-sig $incoming vs committed $existing); a completed " +
        "day can only be re-run verbatim — correct-by-replacement needs " +
        "an explicit operator action")
  }
}

object Pipeline {

  /** The transactions half of [[Pipeline.runDayStaged]], in order:
    *
    *  1. `dayRows` overwrite the partition `txn_date=<day>`, which
    *     yields the staging count ([[RowCount]]) and the rows' first and
    *     last date. The dates are known only once that write is done: a
    *     row of another date deletes the partition again and fails the
    *     day, before the mart and META are written; then
    *     `failpoint("fact_overwrite")`;
    *  2. the four fraud rules run over [[ruleFacts]] as one frame,
    *     `rules12 ∪ bandRules`, behind one rebalance, and land as ONE
    *     overwrite of the partition `report_dt=<day>`; then
    *     `failpoint("mart_overwrite")`. Adaptive execution sizes the
    *     rebalanced output to its advisory partition size, so the day's
    *     partition gets its file count at this one write (one file at the
    *     reference's volume) and nothing compacts it afterwards. One
    *     counter above the rebalance yields the four rule counts, a
    *     `count_if` per event type ([[RuleEventTypes]]);
    *  3. one META append: `stg_transactions`, then `extraMeta`, then the
    *     four rule rows in reference order. The last of them
    *     (`REP_FRAUD_attempt_amount`) is the day-completion marker
    *     ([[completed]]).
    *
    * `incremental` is the mode's rule plan, not a tuning choice: the
    * batch day passes `false` (the reference's full rescan), the
    * streaming day `true` (the pruned plan, exact under the streaming
    * day-order check of [[Pipeline.runDayStaged]]).
    * Rules 3/4 are one keyed pass over (card, hour bucket)
    * ([[FraudRules.bandRules]]).
    *
    * The rules are computed against the mart WITHOUT `report_dt = day`:
    * an earlier attempt's rows for this day must not feed J12's
    * anti-join, or the healing overwrite would drop exactly the rows
    * that attempt wrote. The reference appends the rules one by one, but
    * each rule's anti-join filters its OWN event_type
    * (`loading_rep_fraud.py:86-91,123-128`), which no other rule
    * produces, so computing all four against the prior mart is
    * row-identical to the reference's order.
    *
    * A cut at either failpoint, followed by a re-run of the same day,
    * leaves the fact and mart of an uninterrupted run and the day's META
    * rows exactly once: both writes are partition overwrites and META is
    * written only after them. `failpoint` is the crash-injection seam; a
    * throwing hook simulates a crash there. */
  private[graft] def transactionsDay(wh: Warehouse, seed: Seeds.Seed,
      day: Date, dayRows: DataFrame, incremental: Boolean,
      extraMeta: Seq[Meta], failpoint: String => Unit = _ => ()): Unit = {
    val dates = Observation()
    val date = to_date(col("transaction_date"))
    val (factRows, Seq(nTxns)) = RowCount.observe(dayRows.observe(dates,
      min(date).as("first"), max(date).as("last")),
      Seq("stg_transactions" -> lit(true)))(identity)
    wh.overwritePartitions(FactTransactions, factRows, "txn_date" -> day.toString)
    val span = Await.result(dates.future, RowCount.Wait).toSeq
    if (span.exists(d => d != null && d.toString != day.toString)) {
      wh.dropPartition(FactTransactions, "txn_date" -> day.toString)
      throw new IllegalArgumentException(
        s"the transactions of $day hold dates ${span.mkString(" to ")}")
    }
    failpoint("fact_overwrite")
    val (facts, facts12) = ruleFacts(wh, day, incremental)
    val repBefore =
      wh.readOr(RepFraud).where(col("report_dt") =!= lit(day))
    val rules = FraudRules.rules12(facts12, wh.readOr(FactBlacklist), seed)
      .unionByName(FraudRules.bandRules(facts, wh.readOr(DimTerminals), seed,
        repBefore))
    val (mart, ruleCounts) = RowCount.observe(rules.hint("rebalance"),
      RuleEventTypes.map { case (l, t) => l -> (col("event_type") === t) })(
      identity)
    wh.overwritePartitions(RepFraud, mart, "report_dt" -> day.toString)
    failpoint("mart_overwrite")
    wh.logMeta((Meta("stg_transactions", day, nTxns.get()) +: extraMeta) ++
      ruleCounts.map(n => Meta(n.label, day, n.get())))
  }

  /** The fact-table frames the four fraud rules read in
    * [[transactionsDay]]: (rules-3/4 input, rules-1/2 input).
    *
    *  - `incremental = false` (batch): the whole accumulated fact for all
    *    four rules, as the reference reads it. Rules 1/2 re-report
    *    earlier days' hits every day (SURVEY §7 quirk 1).
    *  - `incremental = true` (streaming): partitions [day−1, day] for
    *    rules 3/4, and that window filtered to `day` for rules 1/2, so
    *    each rules-1/2 hit is reported once, on its own day. Any
    *    rule-3/4 chain spans Δ ≤ 1 h, so a chain with a leg on `day`
    *    fits the window, and a chain confined to days ≤ day−1 was
    *    reported by an earlier day — J12's anti-join drops its
    *    re-derivation. With days applied in order the rules-3/4 rows
    *    equal the full rescan's, at two partitions per day however
    *    long the history.
    *
    * The window filter prunes the parquet scan itself to the two
    * partitions. Nothing is cached: the rules-3/4 pass is one subtree
    * that the day's write computes once for both rules, and adaptive
    * execution reuses an exchange only above a plain scan, not above an
    * in-memory cache (whose query stages never compare equal). */
  private[graft] def ruleFacts(wh: Warehouse, day: Date,
      incremental: Boolean): (DataFrame, DataFrame) =
    if (incremental) {
      val facts = wh.read(FactTransactions)
        .where(col("txn_date").between(date_sub(lit(day), 1), lit(day)))
      (facts, facts.where(col("txn_date") === lit(day)))
    } else {
      val facts = wh.read(FactTransactions)
      (facts, facts)
    }

  /** The four rules' META labels with their mart `event_type`, in
    * reference order; the last is the day-completion marker
    * ([[completed]]). */
  private val RuleEventTypes: Seq[(String, String)] = Seq(
    "REP_FRAUD_passport" -> FraudRules.BlockedPassport,
    "REP_FRAUD_contract" -> FraudRules.InvalidContract,
    "REP_FRAUD_diff_cities" -> FraudRules.DiffCities,
    "REP_FRAUD_attempt_amount" -> FraudRules.AmountGuessing)

  /** The fact columns of a transactions day, in table order. */
  private val FactColumns: Seq[String] =
    Schemas.factTransactions.fieldNames.toSeq

  /** Tag file of the SCD2 dimension: the day whose snapshot produced the
    * current version ([[Warehouse.overwriteTagged]], so it swaps with the
    * data). */
  val AppliedDayTag = "_applied_day"

  /** The fact's `txn_date` partitions, from the directory names alone. */
  private def landedDays(wh: Warehouse): Seq[Date] =
    wh.partitionValues(FactTransactions, "txn_date")
      .filter(_.matches("\\d{4}-\\d{2}-\\d{2}")).map(Date.valueOf)

  /** True iff `day` ran to its end: its last rule row
    * (`REP_FRAUD_attempt_amount`) is in META. A day without a fact
    * partition cannot have, so META is read only for a landed day. */
  private[graft] def completed(wh: Warehouse, day: Date): Boolean =
    landedDays(wh).contains(day) && !wh.readOr(MetaLoading)
      .where(col("table_name") === "REP_FRAUD_attempt_amount" &&
        col("event_dt") === lit(day)).isEmpty

  val FactTransactions = "dwh_fact_transactions"
  val FactBlacklist = "dwh_fact_passport_blacklist"
  val DimTerminals = "dwh_dim_terminals_hist"
  val RepFraud = "rep_fraud"
  val MetaLoading = "meta_loading"
  /** The streaming inbox's drops whose day is not complete yet
    * ([[graft.streaming.IngestStream.runDailyDrains]]). */
  val PendingDrops = "stream_pending_drops"
}
