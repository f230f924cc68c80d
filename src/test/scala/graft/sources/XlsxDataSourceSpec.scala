package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.bank.RefFixture

/** The distributed xlsx path: same rows as a driver-side parse of each
  * file ([[Xlsx.readBytes]]), one partition per file, header-name column resolution, pruning
  * pushed into the scan. Inputs are the committed fixture's snapshot
  * drops ([[RefFixture]]; terminals_DDMMYYYY.xlsx — main.py:70). */
class XlsxDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val refData = RefFixture.dataDir

  private lazy val dir: String = {
    // a directory holding ONLY xlsx terminal snapshots (the fixture's
    // dir mixes in blacklists + txt files; directory reads must filter)
    val d = Files.createTempDirectory("xlsx_dsv2")
    for (n <- Seq("terminals_01032021.xlsx", "terminals_02032021.xlsx",
        "terminals_03032021.xlsx"))
      Files.copy(Paths.get(refData, n), d.resolve(n),
        StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  test("directory load: union of all snapshots, rows match driver reader") {
    val df = spark.read.format("xlsx").load(dir)
    val viaDriver = Seq("terminals_01032021.xlsx", "terminals_02032021.xlsx",
      "terminals_03032021.xlsx")
      .flatMap(n => Xlsx.readBytes(Files.readAllBytes(Paths.get(refData, n)), n)
        .rows.map(r => (n, r.map(_.orNull))))
      .toSet
    // resolved paths are scheme-qualified URIs — compare by basename
    val got = df.collect().map(r =>
      (r.getAs[String]("_file").split('/').last,
        Seq(r.getAs[String]("terminal_id"), r.getAs[String]("terminal_type"),
          r.getAs[String]("terminal_city"),
          r.getAs[String]("terminal_address")))).toSet
    assert(got == viaDriver)
    assert(df.schema.fieldNames.toSeq ==
      Seq("terminal_id", "terminal_type", "terminal_city",
        "terminal_address", "_file"))
  }

  test("one input partition per file — the per-file parallel unit") {
    val df = spark.read.format("xlsx").load(dir)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("column pruning reaches the scan (readSchema shrinks)") {
    val df = spark.read.format("xlsx").load(dir)
      .select("terminal_id", "terminal_city")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.scan.readSchema().fieldNames.toSeq ==
      Seq("terminal_id", "terminal_city"))
  }

  test("serial-date blacklist files read distributed too; typing stays downstream") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("xlsx")
      .load(s"$refData/passport_blacklist_*.xlsx")
      .withColumn("d", expr(
        "date_add(to_date('1899-12-30'), cast(split(date, '\\\\.')[0] AS int))"))
    assert(df.rdd.getNumPartitions == 3)
    val days = df.select("d").distinct().collect().map(_.getDate(0).toString).sorted
    assert(days.nonEmpty && days.forall(_.startsWith("2021-0")), days.toSeq)
    // 02 file is cumulative: contains the 01 rows too
    val perFile = df.groupBy("_file").count().collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(perFile("passport_blacklist_02032021.xlsx") >=
      perFile("passport_blacklist_01032021.xlsx"))
  }

  test("missing column in a later file fails loudly with path + header") {
    val e = intercept[Exception] {
      spark.read.format("xlsx")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("nope",
            org.apache.spark.sql.types.StringType))))
        .load(dir).collect()
    }
    // the partition reader's own message, wherever the task failure
    // wraps it: the column, the file's path and the header it has
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(8).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("column 'nope' missing in ") &&
      m.contains(s"$dir/terminals_0") &&
      m.contains("header: terminal_id,terminal_type,terminal_city," +
        "terminal_address")), messages)
  }
}
