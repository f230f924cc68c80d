package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A warmup action runs first so JVM/classloader/codegen startup isn't
  * charged to whichever query happens to run first. The output depends
  * only on the code, the data and the box: no earlier record is read. */
object Bench {

  /** Per-query measurement: best-run seconds plus the task metrics of
    * that same run. `cpuNs` (executor CPU) and `gcMs` (JVM GC) make
    * stalled-vs-CPU-bound decidable from the artifact alone: a query
    * whose wall seconds dwarf its CPU seconds was waiting, not
    * computing. `load` is the 1-min system load average sampled when
    * the winning run STARTED — the per-query noise annotation
    * (VERDICT r14 #7). `plan`, `jobs`, `stages` and `rows` are the
    * run's work signature, read off its executed noop write: a time
    * change under an unchanged signature is box noise, a changed `plan`
    * or `rows` is a changed query (`tools/bench_diff.py` classes two
    * records this way). */
  final case class M(sec: Double, sr: Long, sw: Long, sp: Long,
                     in: Long, fs: Long, cpuNs: Long, gcMs: Long,
                     load: Double, plan: String, jobs: Int, stages: Int,
                     rows: Long)

  /** Plan text that differs between two runs of one plan on one box or
    * across boxes: expression, subquery, plan and lambda-variable IDs,
    * object identity hashes, lambda class numbers, query-stage and
    * codegen-stage numbers (AQE numbers them in stage-completion order),
    * shuffle partition counts and file locations. */
  private val planNoise = Seq(
    "#\\d+" -> "#",
    "(lambda [A-Za-z]+)_\\d+" -> "$1",
    "plan_id=\\d+" -> "plan_id=",
    "@[0-9a-f]+" -> "@",
    "0x[0-9a-f]+" -> "0x",
    "Lambda\\$\\d+" -> "Lambda",
    "QueryStage \\d+" -> "QueryStage",
    "\\*\\(\\d+\\)" -> "*",
    "(partitioning\\((?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*?), \\d+\\)" -> "$1)",
    "RoundRobinPartitioning\\(\\d+\\)" -> "RoundRobinPartitioning",
    "\\(\\d+ paths\\)" -> "",
    "file:[^,\\]\\s]*" -> "file:"
  ).map { case (rx, to) => rx.r -> to }

  /** The work-signature hash of a plan's text, with [[planNoise]]
    * stripped: equal for the same plan on any box, session or shuffle
    * partition count, different when an operator changes. */
  private[graft] def planHash(plan: String): String = {
    val norm = planNoise.foldLeft(plan) { case (s, (rx, to)) =>
      rx.replaceAllIn(s, to) }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  /** The plan a query ran: adaptive execution's final plan (its query
    * stages print the plans they wrapped), not the initial one. */
  private[graft] def finalPlan(p: SparkPlan): String = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
    case other => other.treeString
  }

  /** The per-query NOISY predicate, pure so BenchHistorySpec can pin
    * it (VERDICT r14 #7: three rounds of headline numbers carried
    * visible box interference — q312's 6.0 s driver row vs 4.17 s
    * quiet detail at loadavg 5.5 — and adjudication needed the
    * builder's side detail each time). A measurement is flagged when
    * the load average at its winning run's start exceeds the
    * threshold: the record then self-identifies as contended, per
    * query, from the artifact alone. Sub-second rows are exempt —
    * interference that cannot move a number past 1 s is not worth an
    * annotation. */
  private[graft] def noisyShaped(sec: Double, load: Double,
                                 threshold: Double): Boolean =
    sec >= 1.0 && load > threshold

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cpus
    // Quiet-run discipline: a contended machine produces a record that
    // overstates the engine (round 10: +111 s of pure interference).
    // Wait — boundedly — for the load average to drop below a threshold
    // before measuring, and RECORD load before/after so a contended run
    // is self-identifying from the artifact alone.
    val loadThreshold = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX",
      math.max(4.0, cpus.toDouble / 4).toString).toDouble
    val quietWaitSec = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT", "120").toInt
    var waited = 0
    while (loadAvg > loadThreshold && waited < quietWaitSec) {
      System.err.println(f"[bench] loadavg ${loadAvg}%.1f > " +
        f"$loadThreshold%.1f, waiting for quiet ($waited/$quietWaitSec s)")
      Thread.sleep(10000); waited += 10
    }
    val loadBefore = loadAvg
    val wallT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // scan metadata (filters, schema) untruncated in the plan text: the
      // cut point moves with the expression-ID digits the plan hash strips
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every input table once + exercise codegen/shuffle
    Tables.lineitem(spark, sfDir).count()
    Tables.events(spark, sfDir).count()
    Tables.documents(spark, sfDir).count()
    Tables.embeddings(spark, sfDir).count()
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    // JIT-warm the vector kernels (DotProduct, BlockTopK, TopKAggregate)
    // on a small slice: the similarity queries run mid-bench and
    // measured ±3 s run-to-run while C2 compiled these loops mid-query
    val embWarm = Tables.embeddings(spark, sfDir).limit(256)
    graft.operators.Similarity.cosineTopK(embWarm, "vec_id", "embedding", 5).count()
    graft.operators.Similarity
      .cosineTopKBlocked(embWarm, "vec_id", "embedding", 5, blocks = 4).count()
    // JIT-warm the graph kernels (orientation joins, SortedIntersectCount)
    // on a toy graph — q83's first execution otherwise pays ~7 s of
    // C2 compilation mid-measurement
    locally {
      import spark.implicits._
      val warmEdges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
        .toDF("u", "v")
      graft.operators.Graph.triangleCount(warmEdges, "u", "v").count()
    }
    spark.catalog.clearCache()

    // Cumulative task-metric counters: the per-query deltas quantify the
    // scale story ("minimize shuffles") with measured bytes, not plan
    // reading. Listener delivery is async; the short post-query sleep
    // bounds attribution error to far below the numbers' use.
    val mSr = new AtomicLong
    val mSw = new AtomicLong
    val mSp = new AtomicLong
    val mIn = new AtomicLong
    val mCpu = new AtomicLong // executor CPU, ns
    val mGc = new AtomicLong  // JVM GC, ms
    // Work signature of the run's noop write: the jobs and stages of the
    // last root SQL execution (the write, which follows every eager
    // action of the query's construction), and the write's executed plan.
    val sigRoot = new AtomicLong(-1L)
    val sigJobs = new AtomicInteger
    val sigStages = new AtomicInteger
    val sigWrite = new AtomicReference[V2TableWriteExec]
    // TaskMetrics' input_read counts CACHED-block reads too (a resident
    // localCheckpoint scanned 3× shows as 3× its in-memory size), so it
    // cannot distinguish "re-scans the source file per iteration" (the
    // scale-killer) from "iterates over resident blocks" (the fix).
    // Hadoop FileSystem statistics count actual file bytes — in local
    // mode all tasks share this JVM, so the delta per query is exact.
    def fsBytes: Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .map(_.getBytesRead).sum
    }
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        import org.apache.spark.scheduler._
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            mSr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            mSw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            mSp.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            mIn.addAndGet(m.inputMetrics.bytesRead)
            mCpu.addAndGet(m.executorCpuTime)
            mGc.addAndGet(m.jvmGCTime)
          }
        }
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart
              if s.rootExecutionId.forall(_ == s.executionId) =>
            sigJobs.set(0); sigStages.set(0); sigRoot.set(s.executionId)
          case _ =>
        }
        private def inRoot(p: java.util.Properties) = p != null &&
          p.getProperty("spark.sql.execution.root.id") == sigRoot.get.toString
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (inRoot(j.properties)) sigJobs.incrementAndGet()
        override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
          if (inRoot(s.properties)) sigStages.incrementAndGet()
      })
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan match {
          case w: V2TableWriteExec => sigWrite.set(w)
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def snap() = (mSr.get, mSw.get, mSp.get, mIn.get, fsBytes,
      mCpu.get, mGc.get)

    // A failing query must surface as an error, not as a fast "success"
    // folded into the total — otherwise a regression that breaks a query
    // would IMPROVE the benchmark.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Best-of-N per query (default 2): a single-shot bench cannot tell a
    // real regression from a one-off scheduler/GC/machine-load hiccup
    // (round 5 recorded a 10.3 s singleton on a 1.5 MB-shuffle query).
    // The MIN over runs is the noise-robust estimator for a deterministic
    // plan — variance is all additive interference. The reported
    // task-metric deltas and work signature come from the fastest run,
    // so bytes, plan and seconds describe the same execution. Failed
    // queries are not re-run.
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // Local-iteration filter: comma-separated query-name prefixes. Unset
    // (the driver's case) = the whole catalog.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def measureBest(name: String,
        fn: (SparkSession, String) => DataFrame): M = {
      val runs = Iterator.range(0, reps).takeWhile(_ =>
        !errors.contains(name)).map { _ =>
        val repLoad = loadAvg // the run's own noise context (r14 #7)
        val before = snap()
        sigWrite.set(null)
        val t0 = System.nanoTime()
        // noop sink: materializes EVERY output column (a count() would
        // let Catalyst prune computed columns and under-measure the
        // query)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
        }
        val elapsed = if (errors.contains(name)) -1.0
                      else (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // drain in-flight task-end events
        // the write's success event is the run's last: once it is in,
        // so are its jobs and stages
        var drain = 0
        while (sigWrite.get == null && !errors.contains(name) && drain < 100) {
          Thread.sleep(20); drain += 1
        }
        val after = snap()
        val w = Option(sigWrite.get)
        val plan = w.fold("")(w => planHash(finalPlan(w.query)))
        val rows = w.flatMap(_.commitProgress).fold(-1L)(_.numOutputRows)
        // Release the caches operators populate (packed blocks, LSH
        // indexes, IVF cells, …) — untimed, so each run is charged its
        // OWN cache build, storage doesn't accumulate across the bench,
        // and no run inherits a predecessor's warm cache.
        spark.catalog.clearCache()
        // clearCache only drops the SQL cache registry — localCheckpoint
        // blocks (every iterative graph op) live as persistent RDDs
        // outside it and otherwise accumulate across the 160-query run,
        // strangling execution memory for everything downstream
        // (measured: q115 12.0 s mid-bench vs 3.1 s isolated, and the
        // alphabetically-later q40 at 5.1 s vs 1.1 s isolated).
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        M(elapsed, after._1 - before._1, after._2 - before._2,
          after._3 - before._3, after._4 - before._4, after._5 - before._5,
          after._6 - before._6, after._7 - before._7, repLoad,
          plan, sigJobs.get, sigStages.get, rows)
      }.toVector
      if (errors.contains(name))
        M(-1.0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0, "", 0, 0, -1L)
      else runs.minBy(_.sec)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .map { case (name, fn) => name -> measureBest(name, fn) }
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    // Precision vs the driver's ~2000-char tail window: past ~140
    // queries even 2-decimal everywhere overflows, so sub-10s queries
    // print 1 decimal (±0.05 s — run-to-run noise is larger) and only
    // 10s+ outliers keep 2. Full ns precision lives in bench_detail
    // .json. Trailing ".0" is kept: the line must stay parseable JSON
    // with numeric values.
    def sec(v: Double) = if (v < 10) f"$v%.1f" else f"$v%.2f"
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, m) if m.sec >= 0 => m.sec }.sum
    val loadAfter = loadAvg
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    // Run-context preamble on stderr: a contended record identifies
    // itself (loadavg before/after; wall minus sum-of-query = warmup +
    // harness + interference absorbed between queries).
    System.err.println(f"[bench] loadavg before=$loadBefore%.1f " +
      f"after=$loadAfter%.1f; wall=$wallSec%.1f s, sum-of-query=" +
      f"$total%.1f s, reps=$reps, waited-for-quiet=$waited s")
    // Full per-query detail (long names, ns precision, measured task
    // metrics incl. executor CPU and GC time — wall≫cpu ⇒ the query
    // was waiting, not computing) goes to a side file; stdout gets ONE
    // COMPACT line. The driver keeps only the last ~2000 chars of
    // output, so the parseable line must stay well under that — short
    // "qNN" keys + ms precision keep 70 queries near ~1 KB.
    // per-query noisy annotation (VERDICT r14 #7): flag measurements
    // whose winning run started under external load, so a contended
    // record adjudicates itself without the builder's quiet-box detail
    val noisyLoad = sys.env.getOrElse("SPARK_GRAFT_NOISY_LOAD", "4.0").toDouble
    val noisyQs = results.filter { case (n, m) =>
      !errors.contains(n) && noisyShaped(m.sec, m.load, noisyLoad) }
    val fullQs = results.map { case (k, m) =>
      s"\"" + k + "\":{\"sec\":" + m.sec + ",\"shuffle_read\":" + m.sr +
        ",\"shuffle_write\":" + m.sw + ",\"spilled\":" + m.sp +
        ",\"input_read\":" + m.in + ",\"fs_read\":" + m.fs +
        ",\"cpu_sec\":" + f"${m.cpuNs / 1e9}%.3f" +
        ",\"gc_sec\":" + f"${m.gcMs / 1e3}%.3f" +
        ",\"load\":" + f"${m.load}%.2f" +
        ",\"noisy\":" + noisyShaped(m.sec, m.load, noisyLoad) +
        ",\"plan\":\"" + m.plan + "\",\"jobs\":" + m.jobs +
        ",\"stages\":" + m.stages + ",\"rows\":" + m.rows + "}"
    }.mkString("{", ",", "}")
    val runMeta = f""""load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"wall_sec":$wallSec%.1f,"reps":$reps"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec",$runMeta,"queries":$fullQs,"errors":$errJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      full.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // Per-query keys at full catalog size no longer fit the driver's
    // ~2000-char tail window (162 queries measured 1767 chars). The
    // line lists failed queries plus the slowest `topN` individually —
    // the only timings that carry signal — and folds the fast tail
    // into one "rest" bucket (count + summed seconds). topN is
    // SELF-SIZING: start at 110 and shrink until the line fits 1615
    // chars — 85% of the ~1900-char window, i.e. a guaranteed >=15%
    // margin (measured r10: 336 queries at topN 110 → ~1380 chars, so
    // the loop is headroom against catalog growth, not a working
    // constraint). The COMPLETE per-query map with ns precision and
    // task metrics is always in bench_detail.json.
    val (errQs, okQs) = results.partition { case (n, _) => errors.contains(n) }
    def mkQs(topN: Int): String = {
      val slow = okQs.sortBy { case (n, m) => (-m.sec, n) }.take(topN)
      val keep = errQs ++ slow
      val keepSet = keep.map(_._1).toSet
      val rest = results.filterNot(r => keepSet(r._1))
      val shortKeys = keep.map { case (k, _) => k.takeWhile(_ != '_') }
      require(shortKeys.distinct.size == shortKeys.size,
        s"shortened bench keys collide: ${shortKeys.diff(shortKeys.distinct).distinct.mkString(",")}")
      val restEntry =
        if (rest.isEmpty) Nil
        else Seq("\"rest\":{\"n\":" + rest.size + ",\"sec\":" +
          sec(rest.map(_._2.sec).sum) + "}")
      (keep.sortBy(_._1).map { case (k, m) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + sec(m.sec)
      } ++ restEntry).mkString("{", ",", "}")
    }
    // basename only ("sf0.1") — the driver wrapper records the full dir
    // itself, and every char here is headroom against its tail window.
    // "load" [before, after] makes a contended record self-identifying
    // from the metric line alone; "noisy" names the specific queries
    // whose winning run started under load > threshold (slowest 12 —
    // usually empty, so usually zero chars), each with that run's
    // loadavg.
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val noisyJson =
      if (noisyQs.isEmpty) ""
      else "\"noisy\":" + noisyQs.sortBy { case (_, m) => -m.sec }.take(12)
        .map { case (n, m) =>
          "\"" + n.takeWhile(_ != '_') + "\":" + f"${m.load}%.1f" }
        .mkString("{", ",", "},")
    def mkLine(qs: String, errs: String) =
      f"""{"metric":"total","value":${sec(total)},"unit":"sec","load":[$loadBefore%.1f,$loadAfter%.1f],$noisyJson"queries":$qs,"errors":$errs,"sf":"$sfShort"}"""
    // The driver json-parses the last ~2000 chars of raw stdout; an
    // over-long line silently truncates to parsed:null there. Degrade
    // in order: (1) full error messages at topN 110; (2) error NAMES
    // only (one broken table ⇒ dozens of failed queries × 200-char
    // messages); (3) shrink topN. A parseable line with fewer per-query
    // timings beats no metric line at all. Full messages are always in
    // bench_detail.json.
    val errNamesJson = errors.keys.map(k => s"${jstr(k)}:${jstr("failed")}")
      .mkString("{", ",", "}")
    val line = {
      val full = mkLine(mkQs(110), errJson)
      if (full.length <= 1615) full
      else Iterator.iterate(110)(_ - 10).takeWhile(_ >= 10)
        .map(n => mkLine(mkQs(n), errNamesJson))
        .find(_.length <= 1615)
        .getOrElse(mkLine(mkQs(10), errNamesJson))
    }
    // Capacity (not failure-mode) overflow now requires even topN=10
    // to blow the window — still fail loudly at dev time if it does.
    require(errors.nonEmpty || line.length <= 1615,
      s"bench metric line ${line.length} chars exceeds 85% of the " +
        "~1900-char driver tail window even at topN=10; shorten keys " +
        "or precision before adding queries")
    println(line)
    spark.stop()
  }
}
