package graft.operators

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cdc.OpenDate

/** The textbook SCD2 transition, the test twin of [[Cdc.scd2Apply]]:
  * no pipeline runs it; Scd2PropertySpec checks its invariants. */
object Scd2Sane {

  /** SCD2 transition with textbook semantics (no reference quirks):
    * the increment is keyed per dimension key, so the classic invariants
    * hold — exactly one open row per ever-seen key, non-overlapping
    * intervals, closed rows immutable. `snapshot` must be unique per key.
    *
    * Differences from [[Cdc.scd2Apply]] (which replicates the reference):
    *  - changed = snapshot differs from the OPEN version only (history
    *    comparisons don't resurrect "updated" states);
    *  - deleted = keys whose open, non-tombstone version vanished from
    *    the snapshot (tombstoned keys stay tombstoned);
    *  - a re-appearing tombstoned key becomes a regular change.
    */
  def scd2ApplySane(hist: DataFrame, snapshot: DataFrame, day: Date,
                    keyCol: String, attrCols: Seq[String]): DataFrame = {
    val open = hist.where(col("effective_to") === lit(OpenDate))
    val openKeyed = open.select(
      col(keyCol) +: col("deleted_flg") +: attrCols.map(col): _*)

    val added = snapshot.join(open.select(keyCol), Seq(keyCol), "left_anti")
    val anyDiffers = attrCols.map(a => !(snapshot(a) <=> openKeyed(a)))
      .reduce(_ || _) || openKeyed("deleted_flg") // un-tombstoning is a change
    val changed = snapshot.join(openKeyed,
      snapshot(keyCol) === openKeyed(keyCol) && anyDiffers, "left_semi")
    val deleted = open.where(!col("deleted_flg"))
      .join(snapshot, Seq(keyCol), "left_anti")
      .select(col(keyCol) +: attrCols.map(col): _*)

    val closeKeys = changed.select(keyCol)
      .unionByName(deleted.select(keyCol)).distinct()
    val toClose = open.join(closeKeys, Seq(keyCol), "left_semi")
      .withColumn("effective_to", date_sub(lit(day), 1))
    val untouched = hist.join(
      closeKeys.withColumnRenamed(keyCol, "__k"),
      hist(keyCol) === col("__k") &&
        hist("effective_to") === lit(OpenDate), "left_anti")

    def openRow(df: DataFrame, tombstone: Boolean): DataFrame =
      df.select(col(keyCol) +: attrCols.map(col): _*)
        .withColumn("effective_from", lit(day))
        .withColumn("effective_to", lit(OpenDate))
        .withColumn("deleted_flg", lit(tombstone))

    untouched
      .unionByName(toClose)
      .unionByName(openRow(added, tombstone = false))
      .unionByName(openRow(changed, tombstone = false))
      .unionByName(openRow(deleted, tombstone = true))
  }
}
