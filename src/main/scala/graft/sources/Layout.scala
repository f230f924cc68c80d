package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout writers: the storage-side half of the 100 TB story.
  *
  * Shuffles are the scale bottleneck of every big join/agg, and the two
  * standing ways to DELETE one (rather than merely speed it up) are
  * decided at WRITE time, not query time:
  *
  *  - '''Bucketing''' (`writeBucketed`): rows are hash-distributed into
  *    a fixed number of buckets by the join/agg key and each bucket is
  *    written pre-sorted. Two tables bucketed by the same key with the
  *    same bucket count join with NO exchange on either side (and no
  *    sort, when `sortCols` covers the key) — the shape for fact-fact
  *    joins run repeatedly: pay one shuffle at load time, never again.
  *    Spark's planner consumes the layout automatically; nothing about
  *    the query changes.
  *
  *  - '''Range layout''' (`writeRangeLayout`): rows are range-
  *    partitioned and sorted by a filter column (event time, date), so
  *    every output file covers a narrow, disjoint value range. Parquet
  *    footer min/max statistics then let a range predicate skip whole
  *    files/row-groups at scan time — the poor man's time index, and
  *    the difference between scanning 100 TB and scanning the two files
  *    that overlap the queried window. LayoutSpec proves the written
  *    ranges are pairwise disjoint, which is exactly the property file
  *    skipping needs.
  *
  * Both are plain Spark primitives (`bucketBy`/`repartitionByRange`) —
  * the value is using them as the default layout for warehouse facts,
  * not inventing them. The bank warehouse's date-partitioned facts
  * ([[graft.bank.Pipeline]]) compose with either: partition by date,
  * bucket by the join key within partitions.
  */
object Layout {

  /** Write `df` as a bucketed (and optionally per-bucket-sorted)
    * table registered in the session catalog. Join two tables bucketed
    * by the same keys and count and the exchange disappears from the
    * plan; sort by the same keys and the merge-join sort disappears
    * too.
    *
    * Bucket count is a layout contract: pick it for the TARGET scale
    * (buckets ≈ data size / healthy-partition size) — at 100 TB that
    * is thousands, never the 8 a laptop test uses. Mismatched bucket
    * counts between two tables still save one side's exchange. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    require(buckets >= 1, s"buckets=$buckets must be positive")
    // repartition by the bucket hash first: `repartition(n, keys)` and
    // bucketing share Murmur3-hash-mod-n placement, so each task holds
    // exactly one bucket and writes exactly one file. Without it every
    // input partition spills a sliver into every bucket (N×B small
    // files), and a multi-file bucket loses its sort guarantee — the
    // scan would re-Sort before every merge join.
    val w = df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Read a bucketed table back with its layout metadata (reading the
    * parquet path directly would discard the bucket spec). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Write `df` range-partitioned and sorted by `rangeCols` into
    * `files` parquet files with pairwise-disjoint value ranges, so
    * range predicates on those columns skip non-overlapping files via
    * footer min/max stats. `files` sizes the layout: target
    * ~100-500 MB per file at scale. */
  def writeRangeLayout(df: DataFrame, path: String, rangeCols: Seq[String],
                       files: Int): Unit = {
    require(rangeCols.nonEmpty, "rangeCols must be non-empty")
    require(files >= 1, s"files=$files must be positive")
    df.repartitionByRange(files, rangeCols.map(col): _*)
      .sortWithinPartitions(rangeCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Morton (Z-order) code: interleave the low `bits` bits of each
    * already-binned dimension column — bit i of dimension d lands at
    * position i·D + d. Pure bit arithmetic (shifts and ORs), so it
    * stays inside whole-stage codegen; 2·bits·D terms in the
    * expression tree, constant per plan. */
  def zCode(binCols: Seq[Column], bits: Int): Column = {
    require(binCols.size >= 2, "z-order needs >= 2 dimensions")
    require(bits >= 1 && bits * binCols.size <= 62,
      s"bits=$bits x ${binCols.size} dims exceeds a signed 64-bit code")
    val d = binCols.size
    (for { i <- 0 until bits; (b, dim) <- binCols.zipWithIndex } yield
      shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * d + dim))
      .reduce(_ bitwiseOR _)
  }

  /** Write `df` clustered by the Z-order (Morton) interleaving of
    * `zCols` — the MULTI-dimension file-skipping layout.
    * [[writeRangeLayout]] gives perfect skipping on its LEAD column and
    * none on the others; Z-order trades a little of the lead column's
    * locality for locality on EVERY listed dimension, so a predicate on
    * any subset of `zCols` touches ~files^(1 - |subset|/D) of the files
    * instead of all of them (measured: SCALING.md, "Z-order layout"). The
    * standard lakehouse layout for facts queried along several axes
    * (time AND user AND …).
    *
    * Dimensions are equi-width binned to `bits` bits from one min/max
    * aggregation (numeric or timestamp columns; heavy skew wants
    * equi-depth edges instead — compose [[zCode]] with your own bin
    * columns for that). The z code is a write-time ordering device
    * only; it is not persisted. */
  def writeZOrder(df: DataFrame, path: String, zCols: Seq[String],
                  files: Int, bits: Int = 10): Unit = {
    require(files >= 1, s"files=$files must be positive")
    val aggExprs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"mn_$c"),
      max(col(c).cast("double")).as(s"mx_$c")))
    val stats = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val nBins = 1L << bits
    val binCols = zCols.map { c =>
      val mn = stats.getAs[Double](s"mn_$c")
      val mx = stats.getAs[Double](s"mx_$c")
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(nBins - 1), greatest(lit(0L),
        floor((col(c).cast("double") - lit(mn)) / lit(span) * lit(nBins))
          .cast("long")))
    }
    df.withColumn("__z", zCode(binCols, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
