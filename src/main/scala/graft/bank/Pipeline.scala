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
  */
final class Pipeline(wh: Warehouse, seed: Seeds.Seed,
                     incrementalRules12: Boolean = false,
                     // Δ-margin incremental mode for the cross-day rules 3/4:
                     // prune the daily fact read to partitions [day−1, day].
                     // Any rule-3/4 chain is confined to Δ ≤ 1 h of its last
                     // transaction, so a chain with any leg on `day` fits the
                     // window, and a chain confined to days ≤ day−1 was
                     // derived (and reported) by an earlier run — J12's
                     // anti-join makes its re-derivation a no-op. Under
                     // in-day-order operation (the streaming twin enforces
                     // it; the reference's cron assumes it) the output is
                     // byte-identical to the full-history rescan
                     // (IncrementalPipelineSpec) at O(2 days) per day instead
                     // of O(history) — the plan that survives years of facts.
                     // `false` restores the reference's full rescan
                     // (`loading_rep_fraud.py:73,107`).
                     incrementalRules34: Boolean = false,
                     // Δ-bucketed band joins are the default: byte-identical
                     // to the naive plan on the fixture (BucketedRulesSpec)
                     // and the only formulation that survives hot keys at
                     // scale (89.1 s → 1.1 s on one hot card, SCALING.md).
                     // `false` restores the reference's naive plan.
                     bucketedBandJoins: Boolean = true) {
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
      incrementalRules12, incrementalRules34, bucketedBandJoins,
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
      day: Date, dayRows: DataFrame, incremental12: Boolean,
      incremental34: Boolean, bucketed: Boolean, extraMeta: Seq[Meta],
      failpoint: String => Unit = _ => ()): Unit = {
    val (factRows, Seq(nTxns)) =
      RowCount.observe(Seq("stg_transactions" -> dayRows))(_.head)
    wh.overwritePartitions(FactTransactions, factRows, Seq("txn_date"))
    failpoint("fact_overwrite")
    // the reference rules read the FULL accumulated fact each day; the
    // incremental modes prune the read below the cache boundary
    val (facts, facts12, facts34) =
      ruleFacts(wh, day, incremental12, incremental34)
    try {
      val repBefore =
        wh.readOr(RepFraud).where(col("report_dt") =!= lit(day))
      val (mart, ruleCounts) = RowCount.observe(Seq(
        "REP_FRAUD_passport" ->
          FraudRules.rule1(facts12, wh.readOr(FactBlacklist), seed, day),
        "REP_FRAUD_contract" -> FraudRules.rule2(facts12, seed, day),
        "REP_FRAUD_diff_cities" -> FraudRules.rule3(facts34,
          wh.readOr(DimTerminals), seed, repBefore, day, bucketed),
        "REP_FRAUD_attempt_amount" ->
          FraudRules.rule4(facts34, seed, repBefore, day, bucketed)))(
        _.reduce(_ unionByName _))
      wh.overwritePartitions(RepFraud, mart, Seq("report_dt"))
      failpoint("mart_overwrite")
      wh.logMeta((Meta("stg_transactions", day, nTxns.get()) +: extraMeta) ++
        ruleCounts.map(n => Meta(n.label, day, n.get())))
    } finally facts.unpersist()
  }

  /** The fact-table frames the four fraud rules read in
    * [[transactionsDay]], under the two incremental dials. Returns
    * (cached widest frame, rules-1/2 input, rules-3/4 input); the caller
    * unpersists the first.
    *
    *  - rules 1/2 (no cross-day joins): today's partition only when
    *    `incremental12` — the sane default at scale, each hit reported
    *    exactly once (the reference's full rescan re-reports, SURVEY §7
    *    quirk 1);
    *  - rules 3/4 (Δ ≤ 1 h chains): partitions [day−1, day] when
    *    `incremental34` — byte-identical output under in-day-order
    *    operation (see the [[Pipeline]] ctor note), O(2 days) per day.
    *
    * The widest frame any enabled rule needs is what gets cached, and
    * its filter sits BELOW the cache so the parquet scan itself prunes:
    * with both dials on, a daily run reads two txn_date partitions no
    * matter how many years of facts have accumulated. */
  private[graft] def ruleFacts(wh: Warehouse, day: Date,
      incremental12: Boolean, incremental34: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val window34 =
      col("txn_date").between(date_sub(lit(day), 1), lit(day))
    val facts = (
      if (incremental12 && incremental34)
        wh.read(FactTransactions).where(window34)
      else wh.read(FactTransactions)).cache()
    val facts12 =
      if (incremental12) facts.where(col("txn_date") === lit(day))
      else facts
    val facts34 =
      if (incremental34) facts.where(window34)
      else facts
    (facts, facts12, facts34)
  }

  val FactTransactions = "dwh_fact_transactions"
  val FactBlacklist = "dwh_fact_passport_blacklist"
  val DimTerminals = "dwh_dim_terminals_hist"
  val RepFraud = "rep_fraud"
  val MetaLoading = "meta_loading"
}
