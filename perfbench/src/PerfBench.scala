package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.bank.{Pipeline, Seeds, Warehouse}
import graft.streaming.IngestStream
import org.apache.spark.sql.SparkSession

/** One measured process of the daily fraud cycle: fresh JVM -> session
  * -> seeds -> days 1..N through the batch pipeline or the streaming
  * drains, one closed-loop client (day d+1 is delivered after day d's
  * call returns). Times only its own calls into the public entry points;
  * everything else (copying drops into the inbox, the output check)
  * happens outside the timed regions.
  *
  * Usage: PerfBench <batch|stream> <dataDir> <workDir> <days> <trace 0|1> <out.json>
  *
  * `dataDir` holds `ddl_dml.sql` and `drops/`, as written by gen.py.
  * With trace 1 a listener charges every Spark job to a layer (see
  * [[Layers]]); the job spans are written to `<workDir>/spans.tsv`.
  */
object PerfBench {
  /** The streaming workload's compaction cadence: low enough that the
    * compact-behind path runs on day 2 (META_LOADING gains seven one-row
    * files a day), where the 256-file production default would not be
    * reached in a month of days. */
  private val CompactAboveFiles = 8

  def main(args: Array[String]): Unit = {
    val Array(mode, dataDir, workDir, daysArg, traceArg, out) = args
    val nDays = daysArg.toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val traced = traceArg == "1"
    val heapPeak = new HeapPeak
    val builder = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
    val spark = (if (traced) builder.withExtensions(StackCapture) else builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val wh = new Warehouse(spark, s"$workDir/wh")
    val seed = Seeds.load(spark, s"$dataDir/ddl_dml.sql")
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val days = Files.list(Paths.get(dataDir, "drops")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("transactions_"))
      .map(_.stripPrefix("transactions_").stripSuffix(".txt")).toSeq
      .sortBy(d => d.drop(4) + d.slice(2, 4) + d.take(2)).take(nDays)
    require(days.size == nDays, s"only ${days.size} days of drops in $dataDir")

    val pipe = new Pipeline(wh, seed)
    val inbox = Paths.get(workDir, "inbox")
    def deliver(name: String, sub: String): Path = {
      val dst = inbox.resolve(sub).resolve(name)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(dataDir, "drops", name), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val dayS = mutable.ArrayBuffer.empty[Double]
    // process CPU and GC time per day: tells a slower day that did more
    // work (JIT, GC) from one that waited for the machine
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val dayCpu = mutable.ArrayBuffer.empty[Double]
    val dayGc = mutable.ArrayBuffer.empty[Double]
    val dayWin = mutable.ArrayBuffer.empty[(Long, Long)]
    var error: Option[String] = None
    try days.foreach { d =>
      val names = Seq(s"transactions_$d.txt", s"passport_blacklist_$d.xlsx",
        s"terminals_$d.xlsx")
      val (cpu0, gc0) = (os.getProcessCpuTime, gcMs)
      val t0 = mode match {
        case "batch" =>
          val Seq(t, b, m) = names.map(deliver(_, ""))
          val t0 = System.nanoTime()
          pipe.runDay(t.toString, b.toString, m.toString,
            s"$workDir/archive")
          t0
        case "stream" =>
          names.zip(Seq("transactions", "blacklist", "terminals"))
            .foreach { case (n, s) => deliver(n, s) }
          val t0 = System.nanoTime()
          IngestStream.runDailyDrains(spark, inbox.toString,
            s"$workDir/checkpoints", wh, seed,
            compactAboveFiles = CompactAboveFiles)
          t0
      }
      val t1 = System.nanoTime()
      dayS += (t1 - t0) / 1e9
      dayCpu += (os.getProcessCpuTime - cpu0) / 1e9
      dayGc += (gcMs - gc0) / 1e3
      val w1 = System.currentTimeMillis()
      dayWin += ((w1 - (t1 - t0) / 1000000L, w1))
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
    }

    val fields = mutable.LinkedHashMap[String, String](
      "setup_s" -> Json.num(setupS),
      "day_s" -> dayS.map(Json.num).mkString("[", ",", "]"),
      "day_cpu_s" -> dayCpu.map(Json.num).mkString("[", ",", "]"),
      "day_gc_s" -> dayGc.map(Json.num).mkString("[", ",", "]"),
      "heap_peak_mb" -> Json.num(heapPeak.mb),
      "error" -> error.map(Json.str).getOrElse("null"))
    tracer.foreach { tr =>
      fields ++= tr.finish(dayWin.toSeq, Paths.get(workDir, "spans.tsv"))
    }
    Files.writeString(Paths.get(out), fields.map { case (k, v) =>
      s"${Json.str(k)}: $v" }.mkString("{", ", ", "}\n"))
    spark.stop()
  }
}

private[perfbench] object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
