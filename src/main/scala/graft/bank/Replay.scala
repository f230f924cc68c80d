package graft.bank

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Dev/test entry: replay the reference's 3-day fixture through the
  * Spark pipeline. Copies the fixture files into a scratch inbox (the
  * pipeline archives its inputs; the originals are read-only), runs the
  * three daily batches, and dumps every warehouse table as parquet +
  * prints summary counts for the golden harness
  * (`tools/golden_reference.py`).
  *
  * Usage: Replay <referenceDataDir> <workDir>
  */
object Replay {
  private val Days = Seq("01032021", "02032021", "03032021")

  def main(args: Array[String]): Unit = {
    val Array(refData, workDir) = args
    val inbox = Paths.get(workDir, "inbox")
    Files.createDirectories(inbox)
    val names = Days.flatMap(d => Seq(
      s"transactions_$d.txt", s"passport_blacklist_$d.xlsx", s"terminals_$d.xlsx"))
    names.foreach { n =>
      Files.copy(Paths.get(refData, n), inbox.resolve(n),
        StandardCopyOption.REPLACE_EXISTING)
    }

    val cpus = graft.SparkEntry.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wh = new Warehouse(spark, Paths.get(workDir, "wh").toString)
    val seed = Seeds.load(spark, s"${refData.stripSuffix("/data")}/ddl_dml.sql")
    println(s"seeds: cards=${seed.cards.count()} accounts=${seed.accounts.count()} " +
      s"clients=${seed.clients.count()}")

    val pipe = new Pipeline(wh, seed)
    for (d <- Days) {
      val day = pipe.runDay(
        inbox.resolve(s"transactions_$d.txt").toString,
        inbox.resolve(s"passport_blacklist_$d.xlsx").toString,
        inbox.resolve(s"terminals_$d.xlsx").toString,
        Paths.get(workDir, "archive").toString)
      println(s"== day $day done")
    }

    import org.apache.spark.sql.functions._
    val rep = wh.read(Pipeline.RepFraud)
    println("REP_FRAUD by type/report_dt:")
    rep.groupBy("event_type", "report_dt").count()
      .orderBy("event_type", "report_dt")
      .collect().foreach(r => println(s"  $r"))
    println(s"facts=${wh.read(Pipeline.FactTransactions).count()} " +
      s"blacklist=${wh.read(Pipeline.FactBlacklist).count()} " +
      s"hist=${wh.read(Pipeline.DimTerminals).count()} " +
      s"rep_fraud=${rep.count()} " +
      s"meta=${wh.read(Pipeline.MetaLoading).count()}")
    println("hist per terminal version counts (multi-version only):")
    wh.read(Pipeline.DimTerminals).groupBy("terminal_id").count()
      .where(col("count") > 1).orderBy("terminal_id")
      .collect().foreach(r => println(s"  $r"))
    spark.stop()
  }
}
