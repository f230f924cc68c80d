package graft.bank

import java.sql.Date

import graft.bank.Warehouse.Meta
import graft.operators.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Daily batch orchestration, reference order (`main.py:85-117`):
  * ingest 3 files → blacklist fact append (anti-join dedup) → SCD2
  * terminals transition → the transactions day ([[Pipeline.transactionsDay]]:
  * fact partition, the four fraud rules into REP_FRAUD, the day's
  * META_LOADING audit rows). Each day is one call; state lives in the
  * [[Warehouse]].
  *
  * The batch mode fixes the rule plan: every day rescans the whole
  * accumulated fact, as the reference does (`loading_rep_fraud.py:73,107`)
  * — the golden mode, which tolerates days run out of order. The
  * streaming twin runs the pruned plan of the same core.
  */
final class Pipeline(wh: Warehouse, seed: Seeds.Seed) {
  private val spark: SparkSession = wh.spark

  import Pipeline._

  /** Run one day given the three file paths; files are archived after
    * the run. Returns the batch date. */
  def runDay(txnPath: String, blacklistPath: String, terminalsPath: String,
             archiveDir: String): Date = {
    // --- ingestion to staging (`main.py:43-82`)
    val (txns, day) = Ingest.transactions(spark, txnPath)
    runDayStaged(txns, Ingest.blacklist(spark, blacklistPath),
      Ingest.terminals(spark, terminalsPath), day)
    // --- archive consumed files (`main.py:66,74,82`)
    Seq(txnPath, blacklistPath, terminalsPath)
      .foreach(Ingest.archive(_, archiveDir))
    day
  }

  /** The post-ingest daily cycle over already-typed staging frames:
    * blacklist fact → SCD2 terminals → [[Pipeline.transactionsDay]].
    * Split from [[runDay]] so synthetic multi-day specs can drive the
    * pipeline without materializing CSV/XLSX drops (the round-12 volume
    * probe of SCALING.md's "flagship daily workload" drove it too).
    * `txns` must hold the rows of `day` only ([[Ingest.transactions]]
    * enforces it for a file): the fact lands as a dynamic overwrite of
    * the partitions the rows fall in.
    *
    * The blacklist count is observed on its append ([[RowCount]]); the
    * terminals snapshot is cached and counted, since SCD2 reads it three
    * times. The day's ten META rows land as one append, in reference
    * order, after the mart write — a day that throws leaves no META
    * rows behind.
    *
    * Re-running a day rewrites its fact and mart partitions instead of
    * appending a second copy. The blacklist append is idempotent through
    * its anti-join; the SCD2 transition and the META rows are not — a
    * re-run applies the snapshot again and logs the day again. */
  def runDayStaged(txns: DataFrame, blacklist: DataFrame,
                   terminals: DataFrame, day: Date): Unit = {
    // --- blacklist fact (`comm_funcs.py:47-56`)
    val blFact = wh.readOr(FactBlacklist)
    val (blNew, Seq(nBlacklist)) =
      RowCount.observe(Seq("stg_passport_blacklist" -> blacklist))(bl =>
        bl.head.join(blFact.select("passport"), Seq("passport"), "left_anti")
          .select("date", "passport"))
    wh.append(FactBlacklist, blNew)

    // --- SCD2 terminals dimension (`incr_loading.py`)
    val stgTerminals = terminals.cache()
    val nTerminals = stgTerminals.count()
    val hist = wh.readOr(DimTerminals)
    val newHist = Cdc.scd2Apply(hist, stgTerminals, day,
      keyCol = "terminal_id",
      attrCols = Seq("terminal_type", "terminal_city", "terminal_address"))
    wh.overwrite(DimTerminals, newHist
      .select(Schemas.dimTerminalsHist.fieldNames.map(col).toSeq: _*))
    stgTerminals.unpersist()

    // --- facts, fraud mart and the day's audit (`comm_funcs.py:13-78`,
    // `loading_rep_fraud.py`); META in reference order: staging counts,
    // staging clears, then one row per rule
    transactionsDay(wh, seed, day,
      txns.select(Schemas.factTransactions.fieldNames.map(col).toSeq: _*)
        .withColumn("txn_date", to_date(col("transaction_date"))),
      incremental = false,
      extraMeta = Seq(Meta("stg_passport_blacklist", day, nBlacklist.get()),
          Meta("stg_terminals", day, nTerminals)) ++
        Seq("stg_transactions", "stg_terminals", "stg_passport_blacklist")
          .map(t => Meta(s"CLEAR_$t", day, 0)))
  }
}

object Pipeline {

  /** The one code that lands a transactions day, for the batch
    * [[Pipeline.runDayStaged]] and the streaming
    * [[graft.streaming.IngestStream.applyTransactionsBatch]] alike. In
    * order:
    *
    *  1. `dayRows` (fact columns plus `txn_date`) land as a dynamic
    *     overwrite of their `txn_date` partition, which yields the
    *     staging count ([[RowCount]]); then `failpoint("fact_overwrite")`;
    *  2. the four fraud rules run over [[ruleFacts]] and land as ONE
    *     dynamic overwrite of `report_dt=<day>`, which yields the four
    *     rule counts; then `failpoint("mart_overwrite")`;
    *  3. one META append: `stg_transactions`, then `extraMeta`, then the
    *     four rule rows in reference order. The last of them
    *     (`REP_FRAUD_attempt_amount`) is the streaming twin's
    *     day-completion marker.
    *
    * `incremental` is the mode's rule plan, not a tuning choice: the
    * batch day passes `false` (the reference's full rescan), the
    * streaming day `true` (the pruned plan, exact under the day-order
    * guards of [[graft.streaming.IngestStream.applyTransactionsBatch]]).
    * Rules 3/4 always run the Δ-bucketed band join
    * ([[graft.operators.BandJoin.joinWithin]]).
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
    val (factRows, Seq(nTxns)) =
      RowCount.observe(Seq("stg_transactions" -> dayRows))(_.head)
    wh.overwritePartitions(FactTransactions, factRows, Seq("txn_date"))
    failpoint("fact_overwrite")
    val (facts, facts12) = ruleFacts(wh, day, incremental)
    try {
      val repBefore =
        wh.readOr(RepFraud).where(col("report_dt") =!= lit(day))
      val (mart, ruleCounts) = RowCount.observe(Seq(
        "REP_FRAUD_passport" ->
          FraudRules.rule1(facts12, wh.readOr(FactBlacklist), seed, day),
        "REP_FRAUD_contract" -> FraudRules.rule2(facts12, seed, day),
        "REP_FRAUD_diff_cities" -> FraudRules.rule3(facts,
          wh.readOr(DimTerminals), seed, repBefore, day),
        "REP_FRAUD_attempt_amount" ->
          FraudRules.rule4(facts, seed, repBefore, day)))(
        _.reduce(_ unionByName _))
      wh.overwritePartitions(RepFraud, mart, Seq("report_dt"))
      failpoint("mart_overwrite")
      wh.logMeta((Meta("stg_transactions", day, nTxns.get()) +: extraMeta) ++
        ruleCounts.map(n => Meta(n.label, day, n.get())))
    } finally facts.unpersist()
  }

  /** The fact-table frames the four fraud rules read in
    * [[transactionsDay]]: (cached rules-3/4 input, rules-1/2 input); the
    * caller unpersists the first.
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
    * The window filter sits BELOW the cache, so the parquet scan itself
    * prunes to the two partitions. */
  private[graft] def ruleFacts(wh: Warehouse, day: Date,
      incremental: Boolean): (DataFrame, DataFrame) =
    if (incremental) {
      val facts = wh.read(FactTransactions)
        .where(col("txn_date").between(date_sub(lit(day), 1), lit(day)))
        .cache()
      (facts, facts.where(col("txn_date") === lit(day)))
    } else {
      val facts = wh.read(FactTransactions).cache()
      (facts, facts)
    }

  val FactTransactions = "dwh_fact_transactions"
  val FactBlacklist = "dwh_fact_passport_blacklist"
  val DimTerminals = "dwh_dim_terminals_hist"
  val RepFraud = "rep_fraud"
  val MetaLoading = "meta_loading"
}
