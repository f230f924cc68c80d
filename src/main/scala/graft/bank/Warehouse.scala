package graft.bank

import java.nio.file.{Files, Path, Paths}
import java.sql.Date
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}

/** Parquet-backed warehouse layer: the Spark replacement for the
  * reference's PostgreSQL schema (`comm_funcs.py:10`). Tables live as
  * parquet directories under a root; facts and the mart land as
  * day-partition overwrites, the audit log appends, dimensions swap
  * atomically (write-new → move), since Spark cannot overwrite a table
  * it is currently reading (the SCD2 dimension is input AND output of
  * the same transition — SURVEY §7 hard-part 2).
  *
  * At cluster scale the same layer maps onto object storage with a
  * rename-free committer or a table format; the call sites don't change.
  */
final class Warehouse(val spark: SparkSession, val root: String) {
  Files.createDirectories(Paths.get(root))

  private def dir(name: String): Path = Paths.get(root, name)

  def exists(name: String): Boolean = Files.exists(dir(name))

  /** Every read and write path heals crash windows FIRST. Without this,
    * a marked tmp left by a crashed [[compact]]/[[overwrite]] can
    * coexist with subsequent appends to the (possibly stale, possibly
    * partial) live directory — and the next [[recover]] call would roll
    * forward to the marked tmp, silently discarding those appends. With
    * heal-at-entry the invariant is: no table is read or written while
    * a committed-but-unswapped version exists, so a marked tmp can never
    * coexist with data written after it (WarehouseRecoverySpec pins the
    * append-after-crashed-compact case). Cost: a handful of
    * Files.exists checks (plus a directory walk for `_tmppart_` leaves)
    * per table access — noise next to any Spark job. */
  private def heal(name: String): Unit = {
    recover(name)
    if (exists(name)) recoverPartitions(name)
  }

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

  def append(name: String, df: DataFrame,
             partitionCols: Seq[String] = Nil): Unit = {
    heal(name)
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*)
      .parquet(dir(name).toString)
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

  /** Replace exactly the partitions PRESENT IN `df`, leaving all other
    * partitions of the table untouched (Spark's dynamic partition
    * overwrite). This is the idempotent write primitive for
    * day-partitioned fact tables in a `foreachBatch` sink: a replayed
    * micro-batch re-derives the same day rows and overwrites its own
    * partition with identical content — append would double it. The
    * per-partition delete-then-write is not atomic; a crash mid-write
    * is healed by the replay itself (same batch, same partition,
    * rewritten whole). */
  def overwritePartitions(name: String, df: DataFrame,
                          partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty,
      "overwritePartitions needs partition columns; use overwrite for whole-table swap")
    heal(name)
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir(name).toString)
  }

  def drop(name: String): Unit = deleteRecursive(dir(name))

  /** Number of parquet data files currently backing a table — the
    * fragmentation signal [[compactIfFragmented]] gates on. Files under
    * `_`-prefixed dirs (in-flight `_tmppart_` rewrites) are not data. */
  def parquetFileCount(name: String): Int =
    if (!exists(name)) 0 else parquetFilesUnder(dir(name)).size

  /** Compact-behind gate for streaming drains: compact the table iff
    * its parquet file count exceeds `maxFiles`. File count — not commit
    * count — is the trigger, so the cadence self-regulates to append
    * granularity: a year of one-row daily audit appends compacts every
    * `maxFiles` days, while a drain that appends nothing never pays a
    * rewrite. Same single-writer contract as [[compact]]: call it from
    * the drain that owns the table, after the drain completes. Returns
    * true iff a compaction ran.
    *
    * PARTITIONED tables compact PER PARTITION ([[compactPartition]] on
    * each leaf directory over `maxFiles / #partitions`, floor 2): a
    * date-partitioned fact accumulates small files only in the
    * partitions recent drains touched, and rewriting the whole table to
    * fix yesterday's files is exactly the O(table) cost that cannot
    * survive 100 TB — per-partition, the rewrite is O(what fragmented),
    * old cold partitions are never read, and each swap window is one
    * partition wide. Unpartitioned tables keep the whole-table rewrite
    * (they ARE one partition). */
  def compactIfFragmented(name: String, partitionCols: Seq[String] = Nil,
                          maxFiles: Int = 256): Boolean = {
    heal(name)
    if (partitionCols.isEmpty) {
      if (parquetFileCount(name) > maxFiles) {
        compact(name); true
      } else false
    } else {
      val parts = leafPartitionDirs(name)
      val perPart = math.max(2, maxFiles / math.max(1, parts.size))
      val frag = parts.filter(p => parquetFilesUnder(p).size > perPart)
      frag.foreach(compactPartition(name, _))
      frag.nonEmpty
    }
  }

  /** Size a compacted rewrite aims for: ~128 MiB per output file. */
  private val TargetFileBytes = 128L << 20

  /** Output files for a rewrite of `files`: ⌈bytes / target⌉, at least 1. */
  private def compactedFileCount(files: Seq[Path]): Int = {
    val bytes = files.map(Files.size(_)).sum
    math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
  }

  /** Leaf partition directories of a partitioned table (the `col=value`
    * dirs that directly hold parquet files). */
  private def leafPartitionDirs(name: String): Seq[Path] = {
    if (!exists(name)) return Nil
    val walk = Files.walk(dir(name))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(_.getParent).toSet.toSeq
        .filter { p =>
          val leaf = p.getFileName.toString
          leaf.contains("=") && !leaf.startsWith("_")
        }
    } finally walk.close()
  }

  private def parquetFilesUnder(p: Path): Seq[Path] = {
    val walk = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      // skip `_`-prefixed dirs (in-flight _tmppart_ rewrites, sink
      // metadata) — Spark's listing skips them too
      walk.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .filterNot(_.iterator().asScala
          .exists(_.toString.startsWith("_tmppart_")))
        .toSeq
    } finally walk.close()
  }

  /** `_tmppart_` sibling name for a leaf partition dir. The `=` in the
    * leaf name must be ENCODED: Spark's listing only skips `_`-prefixed
    * names that contain no `=` (HadoopFSUtils treats `_x=y` as a
    * potential partition dir), so `_tmppart_dt=...` would be READ as
    * live data mid-rewrite — verified the hard way in CompactionSpec. */
  private def tmpPartName(leaf: String): String =
    "_tmppart_" + leaf.replace("=", "__EQ__")
  private def leafFromTmpPart(tmp: String): String =
    tmp.stripPrefix("_tmppart_").replace("__EQ__", "=")

  /** Rewrite ONE leaf partition directory's small files into
    * ~[[TargetFileBytes]] ones, leaving every other partition untouched.
    * Write-new → swap like [[compact]], but the tmp lives INSIDE the
    * table as an `_`-prefixed sibling (ignored by Spark's listing), so
    * the crash window is one partition wide and [[recoverPartitions]]
    * heals it. Rows inside a leaf dir carry no partition columns, so
    * the rewrite is a plain read→repartition→write of that directory. */
  def compactPartition(name: String, partDir: Path): Unit = {
    val nFiles = compactedFileCount(parquetFilesUnder(partDir))
    val tmp = partDir.resolveSibling(tmpPartName(partDir.getFileName.toString))
    deleteRecursive(tmp)
    spark.read.parquet(partDir.toString).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    Files.writeString(tmp.resolve(CommitMarker), "")
    deleteRecursive(partDir)
    Files.move(tmp, partDir)
  }

  /** Hive-layout partition VALUES of `partCol` from the directory
    * listing alone — one readdir, zero data scan (heals first like
    * every accessor; unmarked `_tmppart_` leaves are gone by then).
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

  /** Heal [[compactPartition]] crash windows, per leaf, with the same
    * [[CommitMarker]] rules as [[recover]]: target gone → move the tmp
    * in; target present + MARKED tmp → roll forward (the crash may have
    * landed mid-delete, leaving the live leaf partial — the marked tmp
    * is the provably complete copy); target present + unmarked tmp →
    * aborted write, drop it. */
  def recoverPartitions(name: String): Int = {
    if (!exists(name)) return 0
    val walk = Files.walk(dir(name))
    val tmps =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("_tmppart_")).toList
      } finally walk.close()
    var recovered = 0
    tmps.foreach { tmp =>
      val target = tmp.resolveSibling(
        leafFromTmpPart(tmp.getFileName.toString))
      if (!Files.exists(target)) {
        Files.move(tmp, target); recovered += 1
      } else if (Files.exists(tmp.resolve(CommitMarker))) {
        deleteRecursive(target)
        Files.move(tmp, target); recovered += 1
      } else deleteRecursive(tmp)
    }
    recovered
  }

  /** Compact an unpartitioned table's small files into
    * ~[[TargetFileBytes]]-sized ones. Daily appends leave one file-set
    * per batch; a year of days makes every scan open hundreds of tiny
    * files (at cluster scale: NameNode/object-store metadata pressure
    * and per-file open latency dominate the read). Rewrites through
    * [[overwrite]]'s write-new → swap. Partitioned tables compact per
    * leaf instead ([[compactIfFragmented]]). Run it off-peak at a
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
