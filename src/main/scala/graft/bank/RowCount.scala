package graft.bank

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.count_if

/** A row count for the audit trail, read off the write that executes a
  * frame (an `Observation` attached with `df.observe`) instead of from a
  * separate `cache()` + `count()` execution.
  *
  * Placement rule: observe only in the write's result stage, above the
  * last exchange of its plan. The counter is an accumulator: a result
  * task's update is applied once however often the task is attempted,
  * but a retried or recomputed map stage adds its rows a second time.
  * [[RowCount.observe]] checks the rule on the physical plan of the frame
  * to be written; where it cannot hold (the counter sits below an
  * exchange, or the optimizer dropped it) it keeps the explicit count
  * instead.
  */
final class RowCount private (val label: String, explicit: Option[Long],
                              observation: Observation, index: Int) {

  /** False where the placement rule forced an explicit count. */
  private[bank] def observed: Boolean = explicit.isEmpty

  /** The count. Call it after the write returned; the metric arrives
    * with the write's completion event. Fails loudly, naming `label`, if
    * no metric arrived within [[RowCount.Wait]] (the frame was never
    * written, or its counter was optimized away) — it never blocks for
    * longer. */
  def get(): Long = within(RowCount.Wait)

  /** [[get]] with its wait shortened, for the spec. */
  private[bank] def within(timeout: FiniteDuration): Long =
    explicit.getOrElse {
      val row =
        try Await.result(observation.future, timeout)
        catch {
          case _: TimeoutException => throw new IllegalStateException(
            s"row count of $label: no observed metric within $timeout " +
              "(was the observed frame written?)")
        }
      if (row.length <= index || row.isNullAt(index))
        throw new IllegalStateException(
          s"row count of $label: the write reported no metric")
      row.getLong(index)
    }
}

object RowCount {
  /** How long [[RowCount.get]] waits for a metric that has not arrived. */
  private[bank] val Wait: FiniteDuration = 60.seconds

  /** Attach one counter to `df`, one `count_if` per labelled predicate,
    * build the frame to write from the observed `df` with `write`, and
    * return it with one count per label, in order. Write exactly that
    * frame, then read the counts. The placement rule is checked on the
    * built frame; if the counter fails it, every label is counted here,
    * eagerly, in one job. */
  def observe(df: DataFrame, counts: Seq[(String, Column)])(
      write: DataFrame => DataFrame): (DataFrame, Seq[RowCount]) = {
    val o = Observation()
    val aggs = counts.zipWithIndex.map { case ((_, p), i) =>
      count_if(p).as(s"n$i") }
    val written = write(df.observe(o, aggs.head, aggs.tail: _*))
    val explicit: Option[Row] =
      if (inResultStage(written.queryExecution.executedPlan, o.name)) None
      else Some(df.select(aggs: _*).head())
    val rowCounts = counts.zipWithIndex.map { case ((label, _), i) =>
      new RowCount(label, explicit.map(_.getLong(i)), o, i) }
    (written, rowCounts)
  }

  /** True iff the `CollectMetricsExec` named `name` is in `plan` with no
    * exchange above it. Under adaptive execution the plan checked is the
    * one before any stage runs: re-optimization can turn a shuffle join
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
