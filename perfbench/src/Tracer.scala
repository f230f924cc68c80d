package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the planning thread's stack per SQL execution id. A
  * streaming query pins every job's recorded call site to the line that
  * started the query, so inside a `foreachBatch` body the stage and
  * execution `details` no longer say which call ran the job; the planner
  * runs on the calling thread, inside the execution, and still knows. */
object StackCapture extends (SparkSessionExtensions => Unit) {
  val stacks = new ConcurrentHashMap[Long, String]()
  /** Time spent in the hook, on the planning threads. */
  val nanos = new AtomicLong

  // the columnar-transition pass runs on every physical plan, adaptive or
  // not, while it is prepared for execution
  def apply(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(session => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = { plan =>
        val t0 = System.nanoTime()
        Option(session.sparkContext.getLocalProperty(
            "spark.sql.execution.id")).foreach { id =>
          stacks.putIfAbsent(id.toLong, Thread.currentThread.getStackTrace
            .iterator.drop(1).map(_.toString).mkString("\n"))
        }
        nanos.addAndGet(System.nanoTime() - t0)
        plan
      }
    })
}

/** Charges every Spark job to a layer of the daily cycle.
  *
  * Spark records the driver call stack of each job (stage `details`)
  * and of each SQL execution. A job started on a thread that carries no
  * `graft.*` frame (broadcast and AQE helper threads, the streaming
  * engine's own thread) inherits the stack of the SQL execution it runs
  * under. The layer is then read off the `graft.*` frames by [[Layers]].
  * Spans stay in memory and are written once, by [[finish]].
  */
final class Tracer(spark: SparkSession) {
  // a job's recorded call site keeps this many frames (Spark's default,
  // 20, can end inside Spark before the first graft frame)
  System.setProperty("spark.callstack.depth", "400")

  private final case class Exec(details: String, plan: String, root: Long)
  private final class Span(val id: Int, val start: Long,
                           val execId: Option[Long], val details: String) {
    var end = -1L
    var cpuNs, shuffle, readBytes, readRecords, writeBytes = 0L
  }

  // the listener bus thread writes, `finish` reads
  private val lock = new Object
  private val execs = mutable.Map.empty[Long, Exec]
  private val spans = mutable.LinkedHashMap.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  // time spent in the callbacks below, on the listener bus thread
  private var listenerNs = 0L
  private def timed(body: => Unit): Unit = lock.synchronized {
    val t0 = System.nanoTime()
    body
    listenerNs += System.nanoTime() - t0
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val details = e.stageInfos.sortBy(_.stageId).headOption
        .map(_.details).getOrElse("")
      spans(e.jobId) = new Span(e.jobId, e.time, execId, details)
      // a stage's tasks run in the first job that includes it; later
      // jobs skip it
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      spans.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId); s <- spans.get(j) if m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffle += m.shuffleWriteMetrics.bytesWritten
        s.readBytes += m.inputMetrics.bytesRead
        s.readRecords += m.inputMetrics.recordsRead
        s.writeBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed {
        execs(s.executionId) = Exec(s.details, s.physicalPlanDescription,
          s.rootExecutionId.getOrElse(s.executionId))
      }
      case _ =>
    }
  })

  /** The stack and plan a job is judged by: the planning stack of its SQL
    * execution (or of the root execution) if one was captured, else its own
    * recorded stack, else its execution's, else the root's, whichever first
    * has graft frames. */
  private def context(s: Span): (String, String) = {
    val exec = s.execId.flatMap(execs.get)
    val root = exec.flatMap(e => execs.get(e.root))
    // a write runs its jobs under a nested execution; the insert command
    // (and so the target table) is in the root's plan
    val plan = Seq(exec, root).flatten.map(_.plan).mkString("\n")
    def captured(id: Long) = Option(StackCapture.stacks.get(id))
    val stack = Seq(s.execId.flatMap(captured), exec.flatMap(e => captured(e.root)),
        Some(s.details), exec.map(_.details), root.map(_.details))
      .flatten.find(Layers.frames(_).nonEmpty).getOrElse(s.details)
    (stack, plan)
  }

  /** Drain the listener bus, classify every job, write the spans and
    * return the per-layer totals as JSON fields. `days` are the timed
    * windows (epoch ms) of the cycle's calls. */
  def finish(days: Seq[(Long, Long)], spansOut: Path): Seq[(String, String)] = {
    Bus.drain(spark.sparkContext)
    lock.synchronized {
      val classified = spans.values.filter(_.end >= 0).map { s =>
        val (stack, plan) = context(s)
        (s, Layers.classify(stack, plan))
      }.toSeq
      val lines = classified.map { case (s, layer) =>
        Seq(s.id, layer, s.start, s.end, s.cpuNs, s.shuffle, s.readBytes,
          s.readRecords, s.writeBytes, s.execId.getOrElse(-1),
          Layers.frames(context(s)._1).headOption.map {
            case (c, m) => s"$c.$m" }.getOrElse("-")).mkString("\t")
      }
      Files.writeString(spansOut, ("job\tlayer\tstart_ms\tend_ms\tcpu_ns\t" +
        "shuffle_bytes\tread_bytes\tread_records\twrite_bytes\texec\tframe\n") +
        lines.mkString("", "\n", "\n"))
      val layers = Layers.All.map { l =>
        val js = classified.collect { case (s, `l`) => s }
        l -> Seq(
          "jobs" -> js.size.toString,
          "busy_s" -> Json.num(js.map(s => s.end - s.start).sum / 1e3),
          "cpu_s" -> Json.num(js.map(_.cpuNs).sum / 1e9),
          "shuffle_bytes" -> js.map(_.shuffle).sum.toString,
          "read_bytes" -> js.map(_.readBytes).sum.toString,
          "write_bytes" -> js.map(_.writeBytes).sum.toString,
          "read_records" -> js.map(_.readRecords).sum.toString)
      }
      // cycle wall time not covered by any job: planning, listing,
      // recovery walks, driver-side parsing
      val intervals = classified.map { case (s, _) => (s.start, s.end) }
        .sortBy(_._1)
      val idleMs = days.map { case (a, b) =>
        var covered = 0L
        var cur = a
        intervals.foreach { case (s, e) =>
          val lo = math.max(s, cur); val hi = math.min(e, b)
          if (hi > lo) { covered += hi - lo; cur = hi }
        }
        (b - a) - covered
      }.sum
      Seq(
        "layers" -> layers.map { case (l, kv) =>
          Json.str(l) + ": " + kv.map { case (k, v) => s"${Json.str(k)}: $v" }
            .mkString("{", ", ", "}") }.mkString("{", ", ", "}"),
        "driver_idle_s" -> Json.num(idleMs / 1e3),
        "trace_overhead_s" -> Json.num(
          (listenerNs + StackCapture.nanos.get) / 1e9),
        "write_bytes_total" -> classified.map(_._1.writeBytes).sum.toString)
    }
  }
}

/** Layer of a job, from the `graft.*` frames of its driver stack (deepest
  * first) and, where one orchestration method does several things, from
  * its SQL execution's physical plan.
  *
  *  - ingest: `bank.Ingest`, `sources.*`
  *  - staging: the staging counts and guards of `bank.Pipeline` and the
  *    `streaming.IngestStream` batch bodies
  *  - facts: fact and blacklist writes (`Warehouse.append`,
  *    `overwritePartitions`)
  *  - scd2: the dimension's `Warehouse.overwrite*`, and `operators.Cdc`
  *  - rules: `bank.FraudRules`, `operators.BandJoin`, the rule-output
  *    counts, the mart anti-join and the mart write
  *  - audit: `Warehouse.logMeta`
  *  - compaction: `Warehouse.compact*`
  *  - open: `Warehouse.read` / `readOr` listing and schema jobs
  *  - stream: source and commit jobs of the streaming engine
  *  - other: anything unmatched
  */
object Layers {
  val All: Seq[String] = Seq("ingest", "staging", "facts", "scd2", "rules",
    "audit", "compaction", "open", "stream", "other")

  private val Frame = """(?:^|/)(graft\.[\w$.]+)\.([\w$]+)\(""".r

  /** (class, method) of every graft frame, deepest first; objects lose
    * their `$`, lambdas and local defs resolve to the enclosing method. */
  def frames(stack: String): Seq[(String, String)] =
    stack.split('\n').toSeq.flatMap { line =>
      Frame.findFirstMatchIn(line.trim).map { m =>
        val cls = m.group(1).split('$').head
        val raw = m.group(2)
        val method =
          if (raw.startsWith("$anonfun$")) raw.stripPrefix("$anonfun$")
            .split('$').headOption.getOrElse(raw)
          else raw.split('$').head
        (cls, method)
      }
    }

  private val Tables = Seq(
    "meta_loading" -> "audit", "dwh_dim_terminals_hist" -> "scd2",
    "rep_fraud" -> "rules", "dwh_fact_transactions" -> "facts",
    "dwh_fact_passport_blacklist" -> "facts")

  /** Layer of a warehouse write, by the table its plan inserts into. The
    * formatted plan gives the insert's output path in the node's details
    * section below the tree, headed `(<n>) Execute InsertInto...`. */
  private def writtenTable(plan: String): Option[String] = {
    val lines = plan.split('\n')
    val i = lines.indexWhere(l =>
      l.startsWith("(") && l.contains("InsertIntoHadoopFsRelationCommand"))
    val details = lines.drop(i).takeWhile(_.trim.nonEmpty).mkString("\n")
    if (i < 0) None
    else Tables.collectFirst { case (t, layer) if details.contains(s"/$t") => layer }
  }

  private def hasJoin(plan: String): Boolean = plan.contains("Join")

  def classify(stack: String, plan: String): String = {
    val fs = frames(stack)
    if (fs.isEmpty)
      return if (stack.contains("org.apache.spark.sql.execution.streaming"))
        "stream" else "other"
    // audit and compaction write through the same Warehouse primitives
    // as the layers they serve; the outer frame decides
    val wh = fs.collect { case ("graft.bank.Warehouse", m) => m }
    if (wh.contains("logMeta")) return "audit"
    if (wh.exists(_.startsWith("compact"))) return "compaction"
    fs.iterator.map { case (cls, m) => decide(cls, m, plan) }
      .collectFirst { case Some(l) => l }.getOrElse("other")
  }

  private def decide(cls: String, m: String, plan: String): Option[String] =
    cls match {
      case "graft.bank.Warehouse" => m match {
        case "append" | "overwritePartitions" =>
          Some(writtenTable(plan).getOrElse("facts"))
        case "overwrite" | "overwriteTagged" =>
          Some(writtenTable(plan).getOrElse("scd2"))
        case "read" | "readOr" | "partitionValues" | "heal" | "recover" |
             "recoverPartitions" => Some("open")
        case _ => None
      }
      case c if c == "graft.bank.Ingest" || c.startsWith("graft.sources.") =>
        Some("ingest")
      case "graft.bank.FraudRules" | "graft.operators.BandJoin" =>
        Some("rules")
      case "graft.operators.Cdc" => Some("scd2")
      case "graft.bank.Pipeline" => m match {
        case "appendRule" | "ruleFacts" => Some("rules")
        case "runDayStaged" | "runDay" => Some("staging")
        case _ => None
      }
      case "graft.streaming.IngestStream" => m match {
        case "applyTransactionsBatch" =>
          Some(if (hasJoin(plan)) "rules" else "staging")
        case "applyTerminalsBatch" =>
          Some(if (hasJoin(plan)) "scd2" else "staging")
        case "applyBlacklistBatch" => Some("staging")
        case _ => Some("stream")
      }
      case _ => None
    }
}
