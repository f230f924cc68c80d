package graft.tools

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.bank.{Pipeline, Seeds, Warehouse}
import graft.streaming.IngestStream

/** Per-day census of the daily cycle's generated code: how many classes
  * Janino compiles on each day, and how many of their sources no earlier
  * day compiled. Spark keeps compiled classes in a cache of
  * `spark.sql.codegen.cache.maxEntries` (default 100) entries; a warm day
  * whose working set fits it compiles only its new sources, one that
  * overflows it recompiles what an earlier day already had.
  *
  * {{{
  * sbt "Test/runMain graft.tools.CodegenCensus [dataDir]"
  * }}}
  *
  * `dataDir` holds `ddl_dml.sql` and the drops, under `drops/` (a
  * `perfbench/gen.py` output directory) or `data/` (the committed fixture,
  * the default, resolved from the repository root). Each mode, batch then stream, replays every day in a
  * fresh JVM at Spark's default cache size, the session configured as the
  * benchmark configures its own (`local[<cores>]`, shuffle partitions =
  * cores). Compilations are the delta of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`'s count; a source is the text
  * `CodeGenerator` logs at debug level as it compiles it.
  */
object CodegenCensus {

  def main(args: Array[String]): Unit = args match {
    case Array(dataDir, mode) => census(dataDir, mode)
    case _ =>
      // the fixture's directory, not its classpath resource: `runMain`
      // may see the test resources inside a jar
      val dataDir = args.headOption.getOrElse("src/test/resources/bank-fixture")
      Seq("batch", "stream").foreach(child(dataDir, _))
  }

  /** Run one mode in a child JVM with this JVM's options and classpath,
    * so no class the other mode compiled is cached. */
  private def child(dataDir: String, mode: String): Unit = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(java.toString) ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"),
        getClass.getName.stripSuffix("$"), dataDir, mode)
    val p = new ProcessBuilder(cmd: _*).inheritIO().start()
    require(p.waitFor() == 0, s"the $mode census failed")
  }

  private val CodeGeneratorLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Collects the digest of every source `CodeGenerator` compiles: it
    * logs the formatted source at debug level just before compiling it. */
  private def captureSources(): ConcurrentLinkedQueue[String] = {
    val sources = new ConcurrentLinkedQueue[String]
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("codegen-census", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("/* 001 */")) sources.add(digest(msg))
      }
    }
    appender.start()
    val logger = new LoggerConfig(CodeGeneratorLogger, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    config.addLogger(CodeGeneratorLogger, logger)
    ctx.updateLoggers()
    sources
  }

  private def digest(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def census(dataDir: String, mode: String): Unit = {
    val drops = Seq("drops", "data").map(Paths.get(dataDir, _))
      .find(Files.isDirectory(_)).getOrElse(
        throw new IllegalArgumentException(s"no drops/ or data/ in $dataDir"))
    val days = Files.list(drops).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("transactions_"))
      .map(_.stripPrefix("transactions_").stripSuffix(".txt")).toSeq
      .sortBy(d => d.drop(4) + d.slice(2, 4) + d.take(2))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Files.createTempDirectory("codegen-census")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.logging.maxLines", "-1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sources = captureSources()
    try {
      val wh = new Warehouse(spark, work.resolve("wh").toString)
      val seed = Seeds.load(spark, s"$dataDir/ddl_dml.sql")
      val pipe = new Pipeline(wh, seed)
      val inbox = work.resolve("inbox")
      def deliver(name: String, sub: String): Path = {
        val dst = inbox.resolve(sub).resolve(name)
        Files.createDirectories(dst.getParent)
        Files.copy(drops.resolve(name), dst, StandardCopyOption.REPLACE_EXISTING)
      }
      val seen = collection.mutable.Set.empty[String]
      days.zipWithIndex.foreach { case (d, i) =>
        val names = Seq(s"transactions_$d.txt", s"passport_blacklist_$d.xlsx",
          s"terminals_$d.xlsx")
        sources.clear()
        val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        mode match {
          case "batch" =>
            val Seq(t, b, m) = names.map(deliver(_, ""))
            pipe.runDay(t.toString, b.toString, m.toString,
              work.resolve("archive").toString)
          case "stream" =>
            names.zip(Seq("transactions", "blacklist", "terminals"))
              .foreach { case (n, s) => deliver(n, s) }
            IngestStream.runDailyDrains(spark, inbox.toString,
              work.resolve("checkpoints").toString, wh, seed,
              compactAboveFiles = 8)
        }
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
        val today = sources.asScala.toSet
        val fresh = today.count(!seen.contains(_))
        seen ++= today
        println(f"census $mode day ${i + 1} ($d): $compiles%4d compiles, " +
          f"${today.size}%4d distinct sources, $fresh%4d new")
      }
    } finally {
      spark.stop()
      deleteRecursive(work.toFile)
    }
  }

  private def deleteRecursive(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursive))
    f.delete()
  }
}
