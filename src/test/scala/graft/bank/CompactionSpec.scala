package graft.bank

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Compaction of an unpartitioned append table, the shape of the
  * blacklist fact and META ([[Warehouse.compactIfFragmented]]). */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    } finally s.close()
  }

  test("compact on an unpartitioned table shrinks to the computed file count") {
    val root = java.nio.file.Files.createTempDirectory("wh_compact2").toString
    val wh = new Warehouse(spark, root)
    for (_ <- 1 to 8)
      wh.append("t", spark.range(1000).toDF("id"))
    val before = parquetFiles(root + "/t").size
    val rows = wh.read("t").count()
    // at or below the gate nothing is rewritten
    assert(!wh.compactIfFragmented("t", maxFiles = before))
    assert(parquetFiles(root + "/t").size == before)
    // above it: tiny table → one target file
    assert(wh.compactIfFragmented("t", maxFiles = before - 1))
    assert(parquetFiles(root + "/t").size == 1, s"before=$before")
    assert(wh.read("t").count() == rows)
  }
}
