package graft.operators

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference twin of [[Cdc.scd2Apply]]: the join formulation that
  * re-expresses the reference's statements one for one — the three CTAS
  * increments (`incr_loading.py:14-57`) as diff joins, and the five
  * UPDATE/INSERT statements (`incr_loading.py:60-129`) as a semi/anti
  * close split plus a five-way union. It reads the history about six
  * times per application. Kept in test scope as the readable statement
  * of the semantics the one-pass `Cdc.scd2Apply` must reproduce row for
  * row (Scd2EquivalenceSpec). */
object CdcJoinTwin {

  final case class Diff(added: DataFrame, deleted: DataFrame, changed: DataFrame)

  /** Diff a full snapshot against the accumulated history.
    *
    * Reference quirk replicated exactly: `deleted` anti-joins the snapshot
    * against ALL history versions, not just open ones
    * (`incr_loading.py:36-39`), and `changed` inner-joins every history
    * version too (`incr_loading.py:52-56`) — so a key whose old version
    * matches any historic row still lands in `changed`.
    */
  def snapshotDiff(snapshot: DataFrame, hist: DataFrame, keyCol: String,
                   attrCols: Seq[String]): Diff = {
    val histKeyed = hist.select(keyCol, attrCols: _*)
    val added   = snapshot.join(histKeyed, Seq(keyCol), "left_anti")
    // One row per history version, as the reference's CTAS has
    // (`incr_loading.py:36-39`): a key deleted again carries one
    // tombstone per version it has, identical versions included.
    val deleted = histKeyed.join(snapshot, Seq(keyCol), "left_anti")
    val anyAttrDiffers = attrCols
      .map(a => !(snapshot(a) <=> histKeyed(a)))
      .reduce(_ || _)
    // Inner join (not semi): a snapshot row differing from N historic
    // versions appears N times, exactly like the reference's CTAS
    // (`incr_loading.py:44-57`) — the multiplicity flows into the
    // re-insert step and is part of the replicated semantics.
    val changed = snapshot.alias("s").join(histKeyed,
        snapshot(keyCol) === histKeyed(keyCol) && anyAttrDiffers, "inner")
      .select(snapshot(keyCol) +: attrCols.map(a => snapshot(a)): _*)
    Diff(added, deleted, changed)
  }

  /** The SCD2 transition as the reference's statement sequence: close
    * open rows of changed/deleted keys at `day − 1` (only rows open
    * BEFORE this application, as `incr_loading.py:79-84` runs before the
    * inserts at `:86-101`), then append the added, changed and deleted
    * rows as open versions. */
  def scd2Apply(hist: DataFrame, snapshot: DataFrame, day: Date,
                keyCol: String, attrCols: Seq[String]): DataFrame = {
    val d = snapshotDiff(snapshot, hist, keyCol, attrCols)
    val closeKeys = d.changed.select(keyCol).distinct()
      .unionByName(d.deleted.select(keyCol).distinct()).distinct()

    val toClose = hist.join(closeKeys, Seq(keyCol), "left_semi")
      .where(col("effective_to") === lit(Cdc.OpenDate))
      .withColumn("effective_to", date_sub(lit(day), 1))
    // Complement of `toClose` without a second scan-shape: anti-join on the
    // same (key ∈ closeKeys AND row-is-open) condition.
    val untouched = hist.join(closeKeys,
      hist(keyCol) === closeKeys(keyCol) &&
        hist("effective_to") === lit(Cdc.OpenDate), "left_anti")

    def openRow(df: DataFrame, tombstone: Boolean): DataFrame =
      df.select(col(keyCol) +: attrCols.map(col): _*)
        .withColumn("effective_from", lit(day))
        .withColumn("effective_to", lit(Cdc.OpenDate))
        .withColumn("deleted_flg", lit(tombstone))

    untouched
      .unionByName(toClose)
      .unionByName(openRow(d.added, tombstone = false))
      .unionByName(openRow(d.changed, tombstone = false))
      .unionByName(openRow(d.deleted, tombstone = true))
  }
}
