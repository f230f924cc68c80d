package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One measured process of the catalog mix: fresh JVM -> session -> the
  * mix's tables opened -> each query of the mix once, in order. A query is
  * timed in three parts: construct (the query function, which may run
  * eager jobs), plan (`queryExecution.executedPlan`) and execute
  * (collecting the planned result). The rows are written out for the
  * oracle check after the timed region.
  *
  * Usage: Catalog <sfDir> <workDir> <t1,t2,...> <q1,q2,...> <trace 0|1> <out.json>
  *
  * `t1,t2,...` are the tables the mix reads; setup opens them.
  *
  * With trace 1 a listener charges every Spark job to the phase that
  * started it and sums its task metrics per phase.
  */
object Catalog {
  private val Phases = Seq("construct", "plan", "exec")
  private val PhaseKey = "perfbench.phase"

  private final class Totals {
    var jobs, cpuNs, shuffle, readBytes = 0L
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir, tablesArg, mixArg, traceArg, out) = args
    val mix = mixArg.split(',').toSeq
    val cores = Runtime.getRuntime.availableProcessors()
    val traced = traceArg == "1"
    val heapPeak = new HeapPeak
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tablesArg.split(',').foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // phase -> totals; the listener bus thread writes, the end reads
    val totals = Phases.map(_ -> new Totals).toMap
    val stagePhase = mutable.Map.empty[Int, String]
    var listenerNs = 0L
    if (traced) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = totals.synchronized {
        val t0 = System.nanoTime()
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .foreach { ph =>
            totals(ph).jobs += 1
            e.stageIds.foreach(s => if (!stagePhase.contains(s)) stagePhase(s) = ph)
          }
        listenerNs += System.nanoTime() - t0
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = totals.synchronized {
        val t0 = System.nanoTime()
        val m = e.taskMetrics
        for (ph <- stagePhase.get(e.stageId) if m != null) {
          val t = totals(ph)
          t.cpuNs += m.executorCpuTime
          t.shuffle += m.shuffleWriteMetrics.bytesWritten
          t.readBytes += m.inputMetrics.bytesRead
        }
        listenerNs += System.nanoTime() - t0
      }
    })

    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    val results = mutable.ArrayBuffer.empty[String]
    var execGcMs = 0L
    var errors = 0
    mix.foreach { name =>
      try {
        val fn = fns.getOrElse(name, sys.error(s"no query $name in the catalog"))
        sc.setLocalProperty(PhaseKey, "construct")
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, "plan")
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, "exec")
        val gc0 = gcMs
        // collect runs the plan made above (a noop write would plan anew)
        val rows = df.collect()
        val t3 = System.nanoTime()
        val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
        execGcMs += gcMs - gc0
        sc.setLocalProperty(PhaseKey, null)
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$workDir/out/$name")
        results += Seq(
          "name" -> Json.str(name),
          "construct_s" -> Json.num((t1 - t0) / 1e9),
          "plan_s" -> Json.num((t2 - t1) / 1e9),
          "exec_s" -> Json.num((t3 - t2) / 1e9),
          "cpu_s" -> Json.num(cpuS),
          "rows" -> rows.length.toString)
          .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
      } catch {
        case e: Throwable =>
          sc.setLocalProperty(PhaseKey, null)
          errors += 1
          System.err.println(s"perfbench: $name failed: $e")
      }
      // release per-query operator caches, as graft.Verify does
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    Files.createDirectories(Paths.get(s"$workDir/out"))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }
    Files.writeString(Paths.get(s"$workDir/out/oracle_sql.json"), oracle
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}"))

    val fields = mutable.LinkedHashMap[String, String](
      "setup_s" -> Json.num(setupS),
      "queries" -> results.mkString("[", ", ", "]"),
      "errors" -> errors.toString,
      "exec_gc_s" -> Json.num(execGcMs / 1e3),
      "heap_peak_mb" -> Json.num(heapPeak.mb))
    if (traced) {
      Bus.drain(sc)
      totals.synchronized {
        fields("phases") = totals.map { case (ph, t) =>
          Json.str(ph) + ": " + Seq("jobs" -> t.jobs, "cpu_ns" -> t.cpuNs,
            "shuffle_bytes" -> t.shuffle, "read_bytes" -> t.readBytes)
            .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
        }.mkString("{", ", ", "}")
        fields("trace_overhead_s") = Json.num(listenerNs / 1e9)
      }
    }
    Files.writeString(Paths.get(out), fields.map { case (k, v) =>
      s"${Json.str(k)}: $v" }.mkString("{", ", ", "}\n"))
    spark.stop()
  }
}
