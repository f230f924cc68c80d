package graft.operators

import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.bank.{Pipeline, RefFixture, Seeds, Warehouse}

/** The shape of the one-pass [[Cdc.scd2Apply]]: one history scan, one
  * hash exchange on the key, no join — and a warm day's dimension swap
  * on the committed fixture ([[RefFixture]]) runs at most two Spark jobs
  * (the exchange's map stage and the write), where the join formulation
  * ([[CdcJoinTwin]]) ran a burst of a dozen or more adaptive stages. */
class Scd2PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val day = Date.valueOf("2021-03-05")

  /** Every physical node, adaptive query stages unwrapped. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case n => n +: n.children.flatMap(nodes)
  }

  test("one scd2Apply: one history scan, one hash exchange, no join") {
    import spark.implicits._
    val dir = Files.createTempDirectory("scd2plan")
    val histPath = dir.resolve("hist").toString
    Seq(("T1", "x", Date.valueOf("2021-03-01"), Cdc.OpenDate, false),
        ("T2", "y", Date.valueOf("2021-03-01"), Cdc.OpenDate, false),
        ("T3", "z", Date.valueOf("2021-03-01"), Cdc.OpenDate, false))
      .toDF("terminal_id", "city", "effective_from", "effective_to",
        "deleted_flg")
      .write.parquet(histPath)
    val snapPath = dir.resolve("snap").toString
    Seq(("T1", "x"), ("T2", "w"), ("T4", "v")).toDF("terminal_id", "city")
      .write.parquet(snapPath)
    val out = Cdc.scd2Apply(spark.read.parquet(histPath),
      spark.read.parquet(snapPath), day, "terminal_id", Seq("city"))

    val histScans = out.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation
    }.collect { case fs: HadoopFsRelation => fs.location.rootPaths }
      .count(_.exists(_.toString.endsWith("/hist")))
    assert(histScans == 1, out.queryExecution.optimizedPlan)

    // T1 kept; T2 closed and reopened; T3 closed and tombstoned; T4 added
    assert(out.collect().length == 6)
    val executed = nodes(out.queryExecution.executedPlan)
    val hashExchanges = executed.collect {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashExchanges.size == 1, out.queryExecution.executedPlan)
    assert(!executed.exists(_.isInstanceOf[BaseJoinExec]),
      out.queryExecution.executedPlan)
  }

  test("a warm fixture day's SCD2 swap runs at most 2 Spark jobs") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("scd2jobs").resolve("wh").toString)
    val pipe = new Pipeline(wh, Seeds.load(spark, RefFixture.seedSql))
    def runDay(d: String): Unit = pipe.runFiles(
      s"${RefFixture.dataDir}/transactions_$d.txt",
      s"${RefFixture.dataDir}/passport_blacklist_$d.xlsx",
      s"${RefFixture.dataDir}/terminals_$d.xlsx")
    runDay(RefFixture.days(0))

    // a job is charged to the swap by the call site of the SQL
    // execution it serves (adaptive stage jobs are submitted from a pool
    // thread, so their own call site names no program frame); the
    // dimension is the only table written through overwriteTagged
    val execSites = new ConcurrentHashMap[Long, String]
    val jobExecs = new ConcurrentLinkedQueue[(Int, Long)]
    val sentinelSeen = new AtomicBoolean
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .foreach(id => jobExecs.add(e.jobId -> id.toLong))
        if (props.exists(_.getProperty("scd2.sentinel") != null))
          sentinelSeen.set(true)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      runDay(RefFixture.days(1))
      // the listener bus delivers in order: once a sentinel job started
      // after the day is seen, every job of the day has been seen
      spark.sparkContext.setLocalProperty("scd2.sentinel", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("scd2.sentinel", null)
      val deadline = System.nanoTime() + 30000000000L
      while (!sentinelSeen.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get)
      assert(wh.readTag(Pipeline.DimTerminals, Pipeline.AppliedDayTag)
        .contains("2021-03-02"))
      val swapJobs = jobExecs.asScala.collect { case (job, exec)
        if Option(execSites.get(exec))
          .exists(_.contains("graft.bank.Warehouse.overwriteTagged")) => job }
      assert(swapJobs.nonEmpty && swapJobs.size <= 2,
        s"SCD2 swap ran ${swapJobs.size} jobs: $swapJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
