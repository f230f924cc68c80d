package graft.bank

import scala.concurrent.{Await, ExecutionContext, Future, Promise, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.count_if
import org.apache.spark.sql.util.QueryExecutionListener

/** A row count for the audit trail, read off the write that executes a
  * frame (an `Observation` attached with `df.observe`) instead of from a
  * separate `cache()` + `count()` execution.
  *
  * Placement rule: observe only in the write's result stage, above the
  * last exchange of its plan. The counter is an accumulator: a result
  * task's update is applied once however often the task is attempted,
  * but a retried or recomputed map stage adds its rows a second time.
  * The rule is checked on the physical plan the write executed, as the
  * write finishes, so the frame is planned once; where it does not hold
  * (the counter sat below an exchange, or the optimizer dropped it)
  * [[RowCount.get]] counts the observed frame explicitly instead.
  */
final class RowCount private (val label: String, placed: Promise[Boolean],
                              explicit: () => Row, observation: Observation,
                              index: Int) {

  /** False where the placement rule forced an explicit count (after the write). */
  private[bank] def observed: Boolean = await(placed.future, RowCount.Wait)

  /** The count. Call it after the write returned; the metric arrives
    * with the write's completion event. Fails loudly, naming `label`, if
    * no metric arrived within `timeout` (the frame was never written) —
    * it never blocks for longer. */
  def get(timeout: FiniteDuration = RowCount.Wait): Long = {
    val row =
      if (await(placed.future, timeout)) await(observation.future, timeout)
      else explicit()
    if (row.length <= index || row.isNullAt(index))
      throw new IllegalStateException(
        s"row count of $label: the write reported no metric")
    row.getLong(index)
  }

  private def await[T](f: Future[T], timeout: FiniteDuration): T =
    try Await.result(f, timeout)
    catch {
      case _: TimeoutException =>
        placed.tryFailure(new IllegalStateException(s"$label: abandoned"))
        throw new IllegalStateException(
          s"row count of $label: no observed metric within $timeout " +
            "(was the observed frame written?)")
    }
}

object RowCount {
  /** How long [[RowCount.get]] waits for a metric that has not arrived. */
  private[bank] val Wait: FiniteDuration = 60.seconds

  /** Attach one counter to `df`, one `count_if` per labelled predicate,
    * build the frame to write from the observed `df` with `write`, and
    * return it with one count per label, in order. Write exactly that
    * frame, then read the counts. The placement rule is checked on the
    * plan that write executes; if the counter fails it, every label is
    * counted in one explicit job, when the first count is read. */
  def observe(df: DataFrame, counts: Seq[(String, Column)])(
      write: DataFrame => DataFrame): (DataFrame, Seq[RowCount]) = {
    val o = Observation()
    val aggs = counts.zipWithIndex.map { case ((_, p), i) =>
      count_if(p).as(s"n$i") }
    val written = write(df.observe(o, aggs.head, aggs.tail: _*))
    val placed = placement(df.sparkSession, o.name)
    lazy val explicit = df.select(aggs: _*).head()
    val rowCounts = counts.zipWithIndex.map { case ((label, _), i) =>
      new RowCount(label, placed, () => explicit, o, i) }
    (written, rowCounts)
  }

  /** Completed, once a query that carries the counter `name` in its
    * logical plan (the write) succeeds, with whether the counter sits in
    * that query's result stage; failed with that query's error if it
    * fails. The listener leaves once it has decided, or once a reader
    * gave up waiting. */
  private def placement(spark: SparkSession, name: String): Promise[Boolean] = {
    val placed = Promise[Boolean]()
    def carries(qe: QueryExecution) = qe.logical.exists {
      case c: CollectMetrics => c.name == name
      case _ => false
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (carries(qe)) placed.trySuccess(inResultStage(qe.executedPlan, name))
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit =
        if (carries(qe)) placed.tryFailure(e)
    }
    spark.listenerManager.register(listener)
    placed.future.onComplete(_ => spark.listenerManager.unregister(listener))(
      ExecutionContext.parasitic)
    placed
  }

  /** True iff the `CollectMetricsExec` named `name` is in `plan` with no
    * exchange above it. Under adaptive execution the plan checked is the
    * one before any stage ran: re-optimization can turn a shuffle join
    * into a broadcast one, never add an exchange. */
  private def inResultStage(plan: SparkPlan, name: String): Boolean = {
    def walk(p: SparkPlan, belowExchange: Boolean): Option[Boolean] =
      p match {
        case c: CollectMetricsExec if c.name == name => Some(!belowExchange)
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan, belowExchange)
        case e: Exchange => e.children.iterator.flatMap(walk(_, true))
          .nextOption()
        case other => other.children.iterator
          .flatMap(walk(_, belowExchange)).nextOption()
      }
    walk(plan, belowExchange = false).getOrElse(false)
  }
}
