package graft.bank

import java.nio.file.{Files, Path, Paths}
import java.sql.Date
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}

/** Parquet-backed warehouse layer: the Spark replacement for the
  * reference's PostgreSQL schema (`comm_funcs.py:10`). Tables live as
  * parquet directories under a root. Facts and the mart land as
  * day-partition overwrites ([[overwritePartitions]]), each partition
  * written once, into its own directory, at its final file count; the blacklist fact and the
  * audit log append unpartitioned ([[append]]) and compact behind
  * ([[compactIfFragmented]]); dimensions swap atomically (write-new →
  * move), since Spark cannot overwrite a table it is currently reading
  * (the SCD2 dimension is input AND output of the same transition —
  * SURVEY §7 hard-part 2). The swap is the one crash window to heal
  * ([[recover]]).
  *
  * At cluster scale the same layer maps onto object storage with a
  * rename-free committer or a table format; the call sites don't change.
  */
final class Warehouse(val spark: SparkSession, val root: String) {
  Files.createDirectories(Paths.get(root))

  private def dir(name: String): Path = Paths.get(root, name)

  def exists(name: String): Boolean = Files.exists(dir(name))

  /** Every read and write path heals the swap's crash window FIRST
    * ([[recover]]). Without this, a marked tmp left by a crashed
    * [[compact]]/[[overwrite]] can coexist with subsequent appends to the
    * (possibly stale, possibly partial) live directory — and the next
    * [[recover]] call would roll forward to the marked tmp, silently
    * discarding those appends. With heal-at-entry the invariant is: no
    * table is read or written while a committed-but-unswapped version
    * exists, so a marked tmp can never coexist with data written after
    * it (WarehouseRecoverySpec pins the append-after-crashed-compact
    * case). Cost: a few `Files.exists` checks per table access, no
    * directory walk. */
  private def heal(name: String): Unit = recover(name)

  /** Open a table. The daily cycle's tables are opened with their
    * declared schema ([[Warehouse.KnownSchemas]]), so no job reads
    * parquet footers to infer it; any other table is inferred. */
  def read(name: String): DataFrame = {
    heal(name)
    Warehouse.KnownSchemas.get(name)
      .fold(spark.read)(spark.read.schema)
      .parquet(dir(name).toString)
  }

  /** Read one of the daily cycle's tables if present, else an empty
    * frame with its declared schema — a local relation, so the optimizer
    * sees it is empty (a join against a table that does not exist yet
    * drops out of the plan). */
  def readOr(name: String): DataFrame = {
    heal(name)
    if (exists(name)) read(name)
    else spark.createDataFrame(java.util.List.of[Row](),
      Warehouse.KnownSchemas(name))
  }

  /** Append to an unpartitioned table; day partitions are written with
    * [[overwritePartitions]]. */
  def append(name: String, df: DataFrame): Unit = {
    heal(name)
    df.write.mode(SaveMode.Append).parquet(dir(name).toString)
  }

  /** Marker file written into a tmp directory once its content is
    * COMPLETE — the swap's commit point. Recovery rules hinge on it: a
    * tmp WITH the marker is the committed version (the crash landed
    * somewhere in delete-old → move-in, possibly mid-delete with the
    * old directory half-gone — rolling FORWARD to the tmp is the only
    * safe direction, since the old copy may already be partial); a tmp
    * WITHOUT it is an aborted write that never reached the commit
    * point — dropped, the live directory is authoritative. `_`-prefixed
    * so Spark's listing ignores it if it rides along after the move. */
  private val CommitMarker = "_COMMITTED"

  /** Replace via write-new → swap: write to `<name>.tmp`, mark it
    * complete, delete old, move in — the one swap sequence of every
    * whole-table rewrite ([[compact]] included). The source plan is
    * fully materialized before the old directory goes away, so
    * self-referencing rewrites (SCD2) are safe. NOT atomic against
    * concurrent access — see [[compact]]'s concurrency contract
    * (single writer; a crash anywhere in the window is healed by
    * [[recover]] using the [[CommitMarker]] rules). */
  def overwrite(name: String, df: DataFrame): Unit =
    overwriteTagged(name, df, Map.empty)

  /** [[overwrite]] plus small metadata files written INTO the new table
    * directory before the swap, so the tags and the data version move
    * as ONE unit. This is what makes a streaming `foreachBatch`
    * overwrite sink exactly-once: the micro-batch id that produced a
    * table version is part of that version (a separate marker file
    * would race the swap — a crash between the two would replay a batch
    * against a dimension that already absorbed it). Tag file names must
    * start with `_` or `.` so Spark's file listing ignores them. */
  def overwriteTagged(name: String, df: DataFrame,
                      tags: Map[String, String]): Unit = {
    require(tags.keys.forall(t => t.startsWith("_") || t.startsWith(".")),
      s"tag files must be _/. prefixed (Spark must skip them): ${tags.keys.mkString(",")}")
    heal(name)
    val tmp = Paths.get(root, s"$name.tmp")
    deleteRecursive(tmp)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    tags.foreach { case (f, content) =>
      Files.writeString(tmp.resolve(f), content) }
    // marker written AFTER the tags: a committed version always carries
    // its tags, so rolling forward keeps the replay guard consistent
    Files.writeString(tmp.resolve(CommitMarker), "")
    deleteRecursive(dir(name))
    Files.move(tmp, dir(name))
  }

  /** Read a tag file written by [[overwriteTagged]], if present. Heals
    * first like every accessor: a version stranded at `<name>.tmp`
    * carries its tag, and a replay guard must see it, not an untagged
    * table. */
  def readTag(name: String, tag: String): Option[String] = {
    heal(name)
    val p = dir(name).resolve(tag)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Recover a table from a crash inside the write-new → swap window
    * ([[overwrite]]/[[overwriteTagged]]/[[compact]]), using the
    * [[CommitMarker]] rules. Safe to call unconditionally at startup
    * for every swapped table. Returns true iff a recovery happened.
    *
    *  - table gone, tmp present: crash between delete and move — move
    *    the tmp in (it necessarily carries the marker: the delete only
    *    runs after the commit point);
    *  - table present, tmp WITH marker: crash somewhere in delete-old →
    *    move-in, possibly MID-delete with the live directory already
    *    partial — roll FORWARD to the tmp (existence of the live dir
    *    proves nothing about its completeness; the marked tmp is the
    *    one provably complete copy);
    *  - table present, tmp WITHOUT marker: aborted write that never
    *    reached the commit point — drop the tmp, the live directory is
    *    the committed version. */
  def recover(name: String): Boolean = {
    val tmp = Paths.get(root, s"$name.tmp")
    if (!Files.exists(dir(name)) && Files.exists(tmp)) {
      Files.move(tmp, dir(name))
      true
    } else if (Files.exists(dir(name)) && Files.exists(tmp) &&
        Files.exists(tmp.resolve(CommitMarker))) {
      deleteRecursive(dir(name))
      Files.move(tmp, dir(name))
      true
    } else {
      if (Files.exists(dir(name))) deleteRecursive(tmp)
      false
    }
  }

  /** Replace the partition `column=value` with `df` (no partition column:
    * the value is the directory, so no generated code carries it) — the
    * idempotent write primitive for the day-partitioned fact and mart: a
    * replayed day re-derives the same rows and overwrites its own
    * partition with identical content — append would double it. It is
    * also the partition's ONLY write: the caller sizes its files here
    * (the mart rebalances, [[Pipeline.transactionsDay]]), and no
    * compaction rewrites a partition afterwards. The delete-then-write
    * is not atomic; a crash mid-write is healed by the replay itself
    * (same day, same partition, rewritten whole). */
  def overwritePartitions(name: String, df: DataFrame,
                          partition: (String, String)): Unit = {
    heal(name)
    df.write.mode(SaveMode.Overwrite).parquet(partitionDir(name, partition)
      .toString)
  }

  /** Delete the partition `column=value`, if it is there. */
  def dropPartition(name: String, partition: (String, String)): Unit =
    deleteRecursive(partitionDir(name, partition))

  private def partitionDir(name: String, partition: (String, String)): Path =
    dir(name).resolve(ExternalCatalogUtils.getPartitionPathString(
      partition._1, partition._2))

  def drop(name: String): Unit = deleteRecursive(dir(name))

  /** Number of parquet data files currently backing a table — the
    * fragmentation signal [[compactIfFragmented]] gates on. */
  def parquetFileCount(name: String): Int =
    if (!exists(name)) 0 else parquetFilesUnder(dir(name)).size

  /** Compact-behind gate for the unpartitioned append tables (the
    * blacklist fact and META): compact the table iff its parquet file
    * count exceeds `maxFiles`. File count — not commit count — is the
    * trigger, so the cadence self-regulates to append granularity: a
    * year of one-file daily audit appends compacts every `maxFiles`
    * days, while a drain that appends nothing never pays a rewrite.
    * Same single-writer contract as [[compact]]: call it from the drain
    * that owns the table, after the drain completes. Returns true iff a
    * compaction ran. Day partitions never need it: each is written once,
    * at its final file count ([[overwritePartitions]]). */
  def compactIfFragmented(name: String, maxFiles: Int = 256): Boolean = {
    heal(name)
    if (parquetFileCount(name) > maxFiles) {
      compact(name); true
    } else false
  }

  /** Size a compacted rewrite aims for: ~128 MiB per output file. */
  private val TargetFileBytes = 128L << 20

  /** Output files for a rewrite of `files`: ⌈bytes / target⌉, at least 1. */
  private def compactedFileCount(files: Seq[Path]): Int = {
    val bytes = files.map(Files.size(_)).sum
    math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
  }

  private def parquetFilesUnder(p: Path): Seq[Path] = {
    val walk = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    } finally walk.close()
  }

  /** Hive-layout partition VALUES of `partCol` from the directory
    * listing alone — one readdir, zero data scan (heals first like
    * every accessor).
    * The metadata read the streaming guards use instead of aggregating
    * the fact table per micro-batch (ADVICE r14: `max(txn_date)` over
    * the whole fact was a full-table scan whose cost grew with
    * warehouse history — the partition directory names carry the same
    * answer for free). Values are URL-decoded; the null-partition
    * sentinel (`__HIVE_DEFAULT_PARTITION__`) is excluded — callers
    * guard against null partition values before writing. */
  def partitionValues(name: String, partCol: String): Seq[String] = {
    heal(name)
    if (!exists(name)) return Nil
    val stream = Files.list(dir(name))
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(_.startsWith(partCol + "="))
        .map(s => java.net.URLDecoder
          .decode(s.substring(partCol.length + 1), "UTF-8"))
        .filter(_ != "__HIVE_DEFAULT_PARTITION__")
        .toList
    } finally stream.close()
  }

  /** Compact an unpartitioned table's small files into
    * ~[[TargetFileBytes]]-sized ones. Daily appends leave one file-set
    * per batch; a year of days makes every scan open hundreds of tiny
    * files (at cluster scale: NameNode/object-store metadata pressure
    * and per-file open latency dominate the read). Rewrites through
    * [[overwrite]]'s write-new → swap. Run it off-peak at a
    * cadence matching append volume; appends after the swap are new
    * small files again (the usual compact-behind pattern).
    *
    * Concurrency contract: compact (and overwrite) must be SERIALIZED
    * with writers to the same table — an append landing between the
    * source materialization and the delete-then-move swap is lost, and
    * the swap itself is two filesystem ops, not one atomic rename. If a
    * crash lands between them the data survives solely at `<name>.tmp`;
    * recovery = [[recover]] (moves `<name>.tmp` back). A cluster deployment
    * gets real atomicity from a table format's commit protocol; this
    * layer deliberately keeps the single-writer filesystem shape. */
  def compact(name: String): Unit = {
    val df = read(name) // heals first, so the file count below is exact
    overwrite(name,
      df.repartition(compactedFileCount(parquetFilesUnder(dir(name)))))
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** META_LOADING audit sink (`comm_funcs.py:13-18`): the rows land as
    * one append of one file, in the given order (none for an empty
    * list). A single event is a one-element list. `rows_processed` is an
    * INT column, so a count above `Int.MaxValue` fails before anything
    * is written rather than wrapping. */
  def logMeta(rows: Seq[Warehouse.Meta]): Unit =
    if (rows.nonEmpty) {
      import scala.jdk.CollectionConverters._
      append(Pipeline.MetaLoading, spark.createDataFrame(
        rows.map(m => Row(m.table, m.eventDt, Math.toIntExact(m.rows),
          m.status)).asJava,
        Schemas.metaLoading).coalesce(1))
    }
}

object Warehouse {

  /** One `META_LOADING` row: (table_name, event_dt, rows_processed,
    * status). */
  final case class Meta(table: String, eventDt: Date, rows: Long,
                        status: String = "SUCCESS")

  /** Declared schemas of the daily cycle's tables, used by
    * [[Warehouse.read]] and [[Warehouse.readOr]]. The fact carries its
    * `txn_date` partition column; the mart's `report_dt` partition
    * column is part of [[Schemas.repFraud]] already. */
  val KnownSchemas: Map[String, StructType] = Map(
    Pipeline.FactTransactions -> Schemas.factTransactions
      .add("txn_date", DateType),
    Pipeline.FactBlacklist -> Schemas.factPassportBlacklist,
    Pipeline.DimTerminals -> Schemas.dimTerminalsHist,
    Pipeline.RepFraud -> Schemas.repFraud,
    Pipeline.MetaLoading -> Schemas.metaLoading,
    Pipeline.PendingDrops -> StructType(Seq(StructField("path", StringType))))
}
