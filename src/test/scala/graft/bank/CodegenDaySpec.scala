package graft.bank

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps each compiled class in a generated-code cache keyed by
  * its source text. A daily plan whose whole-stage code carries the day
  * (a `report_dt` literal, say) is a new source every day, compiled
  * again however warm the session is. The spec replays the committed
  * fixture ([[RefFixture]]) in batch, captures the physical plans every
  * query of a day executed, and checks that warm day 3 generates exactly
  * the whole-stage sources day 2 did.
  */
class CodegenDaySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  test("fixture day 3 generates exactly day 2's whole-stage sources") {
    val spark = SparkTestSession.spark
    val sentinel = "codegen_day_spec_sentinel"
    val executed = new ConcurrentLinkedQueue[QueryExecution]
    @volatile var flushed = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains(sentinel)) flushed.countDown()
        else executed.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    /** The whole-stage sources of the queries run since the last call,
      * from the plans they executed (adaptive stages included). */
    def daySources(): Set[String] = {
      // listener events arrive in order: once the sentinel's is seen,
      // every query of the day has been seen
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(flushed.await(60, TimeUnit.SECONDS))
      flushed = new CountDownLatch(1)
      val plans = executed.asScala.toSeq
      executed.clear()
      plans.flatMap(qe => collectWithSubqueries(qe.executedPlan) {
        case w: WholeStageCodegenExec => w.doCodeGen()._2.body
      }).toSet
    }

    val work = Files.createTempDirectory("codegenday")
    val wh = new Warehouse(spark, work.resolve("wh").toString)
    val perDay = collection.mutable.ArrayBuffer.empty[Set[String]]
    spark.listenerManager.register(listener)
    try RefFixture.replay(wh, Seeds.load(spark, RefFixture.seedSql), work,
      _ => perDay += daySources())
    finally spark.listenerManager.unregister(listener)

    val Seq(_, day2, day3) = perDay.toSeq
    assert(day2.nonEmpty)
    val onlyDay3 = day3 -- day2
    val onlyDay2 = day2 -- day3
    assert(onlyDay3.isEmpty && onlyDay2.isEmpty,
      s"${onlyDay3.size} source(s) only day 3 generated, ${onlyDay2.size} " +
        s"only day 2; first of day 3's:\n${onlyDay3.headOption.getOrElse("")}")
  }
}
