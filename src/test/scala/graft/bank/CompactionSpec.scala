package graft.bank

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    } finally s.close()
  }

  test("compact merges small append files; data and partition layout survive") {
    val root = java.nio.file.Files.createTempDirectory("wh_compact").toString
    val wh = new Warehouse(spark, root)
    // 12 daily appends, each a 4-partition write → 4 small files a leaf
    for (d <- 1 to 12) {
      val day = f"2021-03-$d%02d"
      wh.append("facts",
        spark.range(0, 200, 1, 4).select(col("id"), lit(day).as("dt")),
        partitionCols = Seq("dt"))
    }
    val before = parquetFiles(root + "/facts")
    val sumBefore = wh.read("facts").agg(sum("id"), count(lit(1)))
      .as[(Long, Long)].first()

    // every leaf's 4 files exceed the per-leaf floor of 2
    assert(wh.compactIfFragmented("facts", Seq("dt"), maxFiles = 2))

    val after = parquetFiles(root + "/facts")
    assert(after.size < before.size,
      s"expected fewer files, got ${before.size} -> ${after.size}")
    // identical data, partition directories intact
    assert(wh.read("facts").agg(sum("id"), count(lit(1)))
      .as[(Long, Long)].first() == sumBefore)
    assert(after.forall(_.toString.contains("dt=")),
      "partition directory layout must survive compaction")
    // partition pruning still works on the compacted table
    val oneDay = wh.read("facts").where(col("dt") === "2021-03-05").count()
    assert(oneDay == 200L)
  }

  test("partitioned compact-behind rewrites ONLY fragmented partitions") {
    val root = java.nio.file.Files.createTempDirectory("wh_compact3").toString
    val wh = new Warehouse(spark, root)
    // day 1 fragmented (8 single-file appends), day 2 tidy (ONE file —
    // coalesced, since a plain range write splits across cores)
    for (_ <- 1 to 8)
      wh.append("facts", spark.range(100).coalesce(1)
        .select(col("id"), lit("2021-03-01").as("dt")),
        partitionCols = Seq("dt"))
    wh.append("facts", spark.range(100).coalesce(1)
      .select(col("id"), lit("2021-03-02").as("dt")),
      partitionCols = Seq("dt"))
    def files(day: String) = parquetFiles(s"$root/facts/dt=$day")
    val day2Before = files("2021-03-02").map(_.toString).toSet
    val sumBefore = wh.read("facts").agg(sum("id"), count(lit(1)))
      .as[(Long, Long)].first()

    assert(wh.compactIfFragmented("facts", Seq("dt"), maxFiles = 4))
    // fragmented day 1 shrank; tidy day 2's files are BYTE-IDENTICAL
    // paths — it was never read, the per-partition point at 100 TB
    assert(files("2021-03-01").size < 8)
    assert(files("2021-03-02").map(_.toString).toSet == day2Before)
    assert(wh.read("facts").agg(sum("id"), count(lit(1)))
      .as[(Long, Long)].first() == sumBefore)
    // below threshold: second call is a no-op
    assert(!wh.compactIfFragmented("facts", Seq("dt"), maxFiles = 400))
  }

  test("recoverPartitions heals a crash inside the partition swap window") {
    val root = java.nio.file.Files.createTempDirectory("wh_compact4").toString
    val wh = new Warehouse(spark, root)
    wh.append("facts", spark.range(50)
      .select(col("id"), lit("2021-03-01").as("dt")),
      partitionCols = Seq("dt"))
    val part = java.nio.file.Paths.get(s"$root/facts/dt=2021-03-01")
    // the encoded form: an "=" inside a _-prefixed name would defeat
    // Spark's listing filter (it treats `_x=y` as a partition dir)
    val tmp = part.resolveSibling("_tmppart_dt__EQ__2021-03-01")
    val rows = wh.read("facts").count()
    // simulate the crash between delete and move: data only at _tmppart_
    java.nio.file.Files.move(part, tmp)
    // the tmp is invisible as data: zero countable parquet files
    assert(wh.parquetFileCount("facts") == 0)
    assert(wh.recoverPartitions("facts") == 1)
    assert(wh.read("facts").count() == rows)
    // aborted-write shape: UNMARKED tmp beside a live leaf is dropped
    java.nio.file.Files.createDirectories(tmp)
    assert(wh.recoverPartitions("facts") == 0)
    assert(!java.nio.file.Files.exists(tmp))
    assert(wh.read("facts").count() == rows)

    // crash MID-DELETE shape: a COMMITTED tmp beside a (possibly
    // partial) live leaf must roll FORWARD — the marked tmp is the
    // provably complete copy; keeping the live leaf here is the
    // data-loss path (the leaf may already be half-deleted)
    wh.compactPartition("facts", part) // leaves a fresh committed leaf
    val live = parquetFiles(part.toString)
    // rebuild the crash: complete tmp (with marker), then maim the leaf
    java.nio.file.Files.createDirectories(tmp)
    live.foreach(f => java.nio.file.Files.copy(f,
      tmp.resolve(f.getFileName), java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    java.nio.file.Files.writeString(tmp.resolve("_COMMITTED"), "")
    java.nio.file.Files.delete(live.head) // partial delete of the leaf
    assert(wh.recoverPartitions("facts") == 1)
    assert(!java.nio.file.Files.exists(tmp))
    assert(wh.read("facts").count() == rows) // full content restored
  }

  test("compact on an unpartitioned table shrinks to the computed file count") {
    val root = java.nio.file.Files.createTempDirectory("wh_compact2").toString
    val wh = new Warehouse(spark, root)
    for (_ <- 1 to 8)
      wh.append("t", spark.range(1000).toDF("id"))
    val before = parquetFiles(root + "/t").size
    val rows = wh.read("t").count()
    wh.compact("t") // tiny table → one target file
    assert(parquetFiles(root + "/t").size == 1, s"before=$before")
    assert(wh.read("t").count() == rows)
  }
}
