package graft.operators

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture over full snapshots + SCD2 history maintenance.
  *
  * Re-expresses the reference's terminal-dimension machinery
  * (`/root/reference/py_scripts/incr_loading.py:13-129`) as pure
  * `DataFrame => DataFrame` functions:
  *
  *  - `snapshotDiff` = the three CTAS increments (new / deleted / updated,
  *    `incr_loading.py:14-57`): anti-joins on the key plus an
  *    any-attribute-differs residual using Spark's null-safe equality
  *    (`<=>` ≡ `IS NOT DISTINCT FROM`).
  *  - `scd2Apply` = the five UPDATE/INSERT statements
  *    (`incr_loading.py:60-129`) rewritten as a single pure computation:
  *    close open rows of changed/deleted keys at `day − 1`, append fresh
  *    open rows, append tombstones (`deleted_flg = true`). Spark has no
  *    in-place UPDATE; the caller atomically swaps the dimension table.
  *
  * Scale notes: the snapshot side of a dimension is typically small
  * relative to the fact tables — but history can be wide. All joins here
  * key on the dimension key, so at cluster scale the three diff joins and
  * the semi-join split share one hash partitioning on `keyCol`; Spark
  * reuses the exchange. `deletedKeys`/`changedKeys` are distinct key sets
  * (tiny) and are broadcast automatically under AQE.
  */
object Cdc {

  /** Matches the reference's `'infinity'::date` open-row sentinel
    * (`create_tables.sql:50`); Spark has no infinity date. */
  val OpenDate: Date = Date.valueOf("9999-12-31")

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

  /** Apply one day's snapshot to an SCD2 history (open rows carry
    * `effective_to = 9999-12-31`). Returns the new history; caller persists.
    *
    * Ordering semantics of the reference are preserved: fresh rows inserted
    * this very day keep `effective_to = open` because closing only touches
    * rows that were open BEFORE this application (we close from the input
    * `hist`, never from rows added here — mirroring how
    * `incr_loading.py:79-84` runs before the inserts at `:86-101`).
    */
  def scd2Apply(hist: DataFrame, snapshot: DataFrame, day: Date,
                keyCol: String, attrCols: Seq[String]): DataFrame = {
    val d = snapshotDiff(snapshot, hist, keyCol, attrCols)
    val closeKeys = d.changed.select(keyCol).distinct()
      .unionByName(d.deleted.select(keyCol).distinct()).distinct()

    val toClose = hist.join(closeKeys, Seq(keyCol), "left_semi")
      .where(col("effective_to") === lit(OpenDate))
      .withColumn("effective_to", date_sub(lit(day), 1))
    // Complement of `toClose` without a second scan-shape: anti-join on the
    // same (key ∈ closeKeys AND row-is-open) condition.
    val untouched = hist.join(closeKeys,
      hist(keyCol) === closeKeys(keyCol) &&
        hist("effective_to") === lit(OpenDate), "left_anti")

    def openRow(df: DataFrame, tombstone: Boolean): DataFrame =
      df.select(col(keyCol) +: attrCols.map(col): _*)
        .withColumn("effective_from", lit(day))
        .withColumn("effective_to", lit(OpenDate))
        .withColumn("deleted_flg", lit(tombstone))

    untouched
      .unionByName(toClose)
      .unionByName(openRow(d.added, tombstone = false))
      .unionByName(openRow(d.changed, tombstone = false))
      .unionByName(openRow(d.deleted, tombstone = true))
  }

  /** SCD2 transition with textbook semantics (no reference quirks):
    * the increment is keyed per dimension key, so the classic invariants
    * hold — exactly one open row per ever-seen key, non-overlapping
    * intervals, closed rows immutable. `snapshot` must be unique per key.
    *
    * Differences from [[scd2Apply]] (which replicates the reference):
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

  /** SCD TYPE-1 merge (upsert): the no-history counterpart of the SCD2
    * machinery above, and the semantics of `MERGE INTO … WHEN MATCHED
    * UPDATE / WHEN NOT MATCHED INSERT [/ WHEN MATCHED AND source.delete
    * THEN DELETE]` — the other standard dimension-maintenance mode.
    * Source rows win on key match, source-only rows insert, target-only
    * rows pass through; with `deleteCol` set, a matched source row
    * carrying true removes the key.
    *
    * Pure computation: one full-outer equi-join on the key, per-column
    * `coalesce`-style pick (explicit source-presence flag, NOT coalesce
    * on values — a source row legitimately carrying NULL must still
    * win). `source` must be unique per key (enforced nowhere cheaper
    * than the caller). Scale shape: ONE hash partitioning on the key —
    * the same shuffle a MERGE-supporting table format schedules; with
    * both sides bucketed on the key ([[graft.sources.Layout]]) even
    * that exchange disappears. Caller persists via atomic swap, as with
    * [[scd2Apply]]. */
  def mergeUpsert(target: DataFrame, source: DataFrame, keyCols: Seq[String],
                  deleteCol: Option[String] = None): DataFrame = {
    val valueCols = target.columns.filterNot(keyCols.contains).toSeq
    require(valueCols.forall(source.columns.contains),
      s"source is missing target columns: " +
        valueCols.filterNot(source.columns.contains).mkString(","))
    val s = source.withColumn("__src", lit(true))
    val joined = target.join(
      s.select((keyCols ++ valueCols ++ deleteCol.toSeq :+ "__src").map(col): _*)
        .toDF((keyCols ++ valueCols.map("__s_" + _) ++
          deleteCol.map(_ => "__del").toSeq :+ "__src"): _*),
      keyCols, "full_outer")
    val merged = joined.where(deleteCol match {
      case Some(_) => col("__src").isNull || !coalesce(col("__del"), lit(false))
      case None    => lit(true)
    })
    merged.select(keyCols.map(col) ++ valueCols.map(c =>
      when(col("__src").isNotNull, col(s"__s_$c")).otherwise(col(c)).as(c)): _*)
  }
}
