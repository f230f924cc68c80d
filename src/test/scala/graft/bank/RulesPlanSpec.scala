package graft.bank

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Attribute, Expression, GetStructField}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, REBALANCE_PARTITIONS_BY_NONE, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The shape of rules 3/4 in a real day: fixture day 3's mart write
  * (`Pipeline.transactionsDay`, batch, over the committed fixture
  * [[RefFixture]]) plans ONE hash exchange on (card_num, __bucket)
  * feeding the keyed collect and ONE dedup exchange, both computed once
  * for the two rules, no join on the card but J6's broadcast of the
  * cards master, and one counter for the four rules in the write's
  * result stage, directly above the rebalance that sizes the day's
  * files. Its Spark job count is pinned too: 12 here, where the
  * band-join formulation ([[FraudRulesJoinTwin]]: three band self-joins,
  * two dedups, over a cached fact) ran 22 for this write. */
class RulesPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Every physical node, adaptive query stages unwrapped and reused
    * exchanges kept as leaves. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
  }

  /** True iff `p` scans the fact table, through reused exchanges too. */
  private def readsFact(p: SparkPlan): Boolean = p match {
    case r: ReusedExchangeExec => readsFact(r.child)
    case s: QueryStageExec => readsFact(s.plan)
    case a: AdaptiveSparkPlanExec => readsFact(a.executedPlan)
    case s: FileSourceScanExec => s.relation.location.rootPaths
      .exists(_.toString.endsWith(s"/${Pipeline.FactTransactions}"))
    case n => n.children.exists(readsFact)
  }

  private def names(es: Seq[Expression]): Seq[String] = es.map {
    case a: Attribute => a.name
    case e => e.sql
  }

  private def hashKeys(p: SparkPlan): Option[Seq[String]] = p match {
    case e: ShuffleExchangeLike => e.outputPartitioning match {
      case h: HashPartitioning => Some(names(h.expressions))
      case _ => None
    }
    case _ => None
  }

  /** The executed mart write of fixture day 3 and the number of Spark
    * jobs it ran, from a batch replay of the three fixture days. */
  private lazy val day3: (SparkPlan, Int) = {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("rulesplan").resolve("wh").toString)
    val pipe = new Pipeline(wh, Seeds.load(spark, RefFixture.seedSql))
    def runDay(d: String): Unit = pipe.runFiles(
      s"${RefFixture.dataDir}/transactions_$d.txt",
      s"${RefFixture.dataDir}/passport_blacklist_$d.xlsx",
      s"${RefFixture.dataDir}/terminals_$d.xlsx")
    RefFixture.days.take(2).foreach(runDay)

    // a job is charged to the mart write by the SQL execution it serves:
    // the one whose plan inserts into the mart (adaptive stage jobs are
    // submitted from a pool thread, so their own call site names no
    // program frame)
    val martExecs = ConcurrentHashMap.newKeySet[Long]()
    val jobExecs = new ConcurrentLinkedQueue[(Int, Long)]
    val sentinelSeen = new AtomicBoolean
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains(s"/${Pipeline.RepFraud}") &&
            s.details.contains("graft.bank.Warehouse.overwritePartitions") =>
          martExecs.add(s.executionId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .foreach(id => jobExecs.add(e.jobId -> id.toLong))
        if (props.exists(_.getProperty("rulesplan.sentinel") != null))
          sentinelSeen.set(true)
      }
    }
    val written = new AtomicReference[SparkPlan]
    val writes = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains(s"/${Pipeline.RepFraud}"))
          written.set(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(writes)
    try {
      runDay(RefFixture.days(2))
      // the listener bus delivers in order: once a sentinel job started
      // after the day is seen, every job of the day has been seen
      spark.sparkContext.setLocalProperty("rulesplan.sentinel", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("rulesplan.sentinel", null)
      val deadline = System.nanoTime() + 30000000000L
      while ((!sentinelSeen.get || written.get == null) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get && written.get != null)
      assert(martExecs.size == 1, martExecs)
      (written.get, jobExecs.asScala.count { case (_, x) => martExecs.contains(x) })
    } finally {
      spark.listenerManager.unregister(writes)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("one (card_num, __bucket) exchange feeds the keyed pass; one dedup exchange; one counter above the rebalance") {
    val (plan, _) = day3
    val all = nodes(plan)
    val exchanges = all.flatMap(n => hashKeys(n).map(_ -> n))
    val bucketed = exchanges.collect {
      case (ks, e) if ks.toSet == Set("card_num", "__bucket") => e }
    assert(bucketed.size == 1, plan)
    // the exchange feeds the keyed collect of each (card, bucket)
    val collects = all.collect { case a: ObjectHashAggregateExec
      if names(a.groupingExpressions).toSet == Set("card_num", "__bucket") => a }
    assert(collects.exists(a => nodes(a).drop(1).exists(bucketed.contains)),
      plan)
    // each row is judged once, in its home bucket: the verdicts filter
    // the group's rows on home = __bucket. A ghost copy's verdict is a
    // subset of its home copy's, so the dedup would absorb it and only
    // the plan shows the filter
    val homeOnly = all.flatMap(_.expressions).exists(_.exists {
      case f: ArrayFilter => f.function.references.exists(_.name == "__bucket") &&
        f.function.exists {
          case g: GetStructField => g.name.contains("home")
          case _ => false
        }
      case _ => false
    })
    assert(homeOnly, plan)
    val dedup = exchanges.collect {
      case (ks, e) if ks.toSet == Set("event_dt", "passport_num") => e }
    assert(dedup.size == 1, plan)
    // one counter with the four rule counts sits in the write's result
    // stage, directly above the rebalance's shuffle, so each count is
    // observed on the write (no explicit-count fallback)
    def resultStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => resultStage(a.executedPlan)
      case _: ShuffleQueryStageExec | _: BroadcastQueryStageExec |
           _: Exchange => Nil
      case s: QueryStageExec => resultStage(s.plan)
      case n => n +: n.children.flatMap(resultStage)
    }
    val counters = resultStage(plan).collect { case c: CollectMetricsExec => c }
    assert(counters.size == 1 && counters.head.metricExpressions.size == 4,
      plan)
    // the counter's only input is the rebalance's shuffle stage
    def inputs(p: SparkPlan): Seq[QueryStageExec] = p match {
      case s: QueryStageExec => Seq(s)
      case n => n.children.flatMap(inputs)
    }
    assert(inputs(counters.head) match {
      case Seq(s: ShuffleQueryStageExec) =>
        s.shuffle.shuffleOrigin == REBALANCE_PARTITIONS_BY_NONE
      case _ => false
    }, plan)
    // no band self-join: every join keyed on card_num (J6's broadcast of
    // the cards master, once per rule) has the fact on one side only
    val onCard = all.collect { case j: BaseJoinExec
      if names(j.leftKeys ++ j.rightKeys).contains("card_num") => j }
    assert(onCard.nonEmpty && onCard.forall(j =>
      !(readsFact(j.left) && readsFact(j.right))), onCard.mkString("\n"))
  }

  test("fixture day 3's mart write runs at most 13 Spark jobs") {
    val (_, jobs) = day3
    info(s"the mart write ran $jobs jobs")
    assert(jobs > 0 && jobs <= 13, s"the mart write ran $jobs jobs")
  }
}
