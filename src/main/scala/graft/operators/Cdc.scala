package graft.operators

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change-data-capture over full snapshots + SCD2 history maintenance.
  *
  * Re-expresses the reference's terminal-dimension machinery
  * (`/root/reference/py_scripts/incr_loading.py:13-129`) as pure
  * `DataFrame => DataFrame` functions. `scd2Apply` folds the three CTAS
  * increments (new / deleted / updated, `incr_loading.py:14-57`) and the
  * five UPDATE/INSERT statements (`incr_loading.py:60-129`) into one
  * computation: close open rows of changed/deleted keys at `day − 1`,
  * append fresh open rows, append tombstones (`deleted_flg = true`).
  * Spark has no in-place UPDATE; the caller atomically swaps the
  * dimension table.
  *
  * Scale notes: `scd2Apply` is one pass keyed on the dimension key. The
  * history and the snapshot are read once each, tagged and unioned, and
  * ONE hash exchange on `keyCol` brings each key's versions and snapshot
  * rows together; the diff is array arithmetic inside the group, with no
  * join. A key's rows must fit one task's memory — for a dimension that
  * is the number of versions one key has ever had, which the reference's
  * multiplicity quirk below can double per changing day.
  */
object Cdc {

  /** Matches the reference's `'infinity'::date` open-row sentinel
    * (`create_tables.sql:50`); Spark has no infinity date. */
  val OpenDate: Date = Date.valueOf("9999-12-31")

  /** Apply one day's snapshot to an SCD2 history (open rows carry
    * `effective_to = 9999-12-31`). Returns the new history, in the
    * history's column order; caller persists. `hist` holds `keyCol`,
    * `attrCols`, `effective_from`, `effective_to` and `deleted_flg`.
    *
    * Reference quirks replicated exactly, per key:
    *  - added: snapshot rows of a key with no history version;
    *  - deleted: ONE tombstone per history version of a key the snapshot
    *    lacks, closed versions and tombstones included
    *    (`incr_loading.py:36-39`), so a tombstoned key is tombstoned again;
    *  - changed: each snapshot row once per history version (ALL
    *    versions, `incr_loading.py:44-57`) it differs from under
    *    null-safe equality (`<=>` ≡ `IS NOT DISTINCT FROM`) — the
    *    multiplicity flows into the re-insert;
    *  - a null key never matches: its snapshot rows are added, its
    *    history versions tombstoned and never closed.
    *
    * Closing only touches rows open BEFORE this application (fresh rows
    * inserted this day stay open), mirroring how `incr_loading.py:79-84`
    * runs before the inserts at `:86-101`.
    */
  def scd2Apply(hist: DataFrame, snapshot: DataFrame, day: Date,
                keyCol: String, attrCols: Seq[String]): DataFrame = {
    val Seq(from, to, del) = Seq("effective_from", "effective_to", "deleted_flg")
    def typed(c: String) = lit(null).cast(hist.schema(c).dataType).as(c)
    // one tagged row per history version and per snapshot row
    val rows = hist.select(col(keyCol),
        struct(lit(true).as("h") +: (attrCols ++ Seq(from, to, del)).map(col): _*)
          .as("r"))
      .unionByName(snapshot.select(col(keyCol),
        struct(lit(false).as("h") +: (attrCols.map(col) ++
          Seq(typed(from), typed(to), typed(del))): _*).as("r")))
    val byKey = rows.groupBy(keyCol).agg(collect_list("r").as("rs"))

    val hs = filter(col("rs"), _("h"))
    val ss = filter(col("rs"), !_("h"))
    val matched = col(keyCol).isNotNull
    def differs(s: Column, h: Column): Column =
      attrCols.map(a => !(s(a) <=> h(a))).reduce(_ || _)
    def nDiffering(s: Column): Column = size(filter(hs, differs(s, _)))
    val close = matched &&
      (size(ss) === 0 || exists(ss, s => exists(hs, differs(s, _))))

    def version(r: Column, f: Column, t: Column, d: Column): Column =
      struct(attrCols.map(a => r(a).as(a)) ++
        Seq(f.as(from), t.as(to), d.as(del)): _*)
    def opened(r: Column, tombstone: Boolean): Column =
      version(r, lit(day), lit(OpenDate), lit(tombstone))

    val kept = transform(hs, h => version(h, h(from),
      when(close && h(to) === lit(OpenDate), date_sub(lit(day), 1))
        .otherwise(h(to)), h(del)))
    val added = transform(filter(ss, _ => !matched || size(hs) === 0),
      opened(_, tombstone = false))
    val changed = flatten(transform(ss, s => array_repeat(
      opened(s, tombstone = false), when(matched, nDiffering(s)).otherwise(0))))
    val deleted = transform(filter(hs, _ => !matched || size(ss) === 0),
      opened(_, tombstone = true))

    byKey.select(col(keyCol),
        explode(concat(kept, added, changed, deleted)).as("v"))
      .select(hist.columns.toSeq.map(c =>
        if (c == keyCol) col(keyCol) else col("v")(c).as(c)): _*)
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
