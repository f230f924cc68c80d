package graft.bank

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{count, lit}

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
                              observation: Observation) {

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
      if (row.length == 0 || row.isNullAt(0))
        throw new IllegalStateException(
          s"row count of $label: the write reported no metric")
      row.getLong(0)
    }
}

object RowCount {
  /** How long [[RowCount.get]] waits for a metric that has not arrived. */
  private[bank] val Wait: FiniteDuration = 60.seconds

  /** Attach a row counter to each of the labelled `inputs`, build the
    * frame to write from the observed inputs with `write`, and return it
    * with one count per input, in order. Write exactly that frame, then
    * read the counts. The placement rule is checked on the built frame;
    * an input whose counter fails it is counted here, eagerly. */
  def observe(inputs: Seq[(String, DataFrame)])(
      write: Seq[DataFrame] => DataFrame): (DataFrame, Seq[RowCount]) = {
    val observations = inputs.map(_ => Observation())
    val written = write(inputs.zip(observations).map { case ((_, df), o) =>
      df.observe(o, count(lit(1))) })
    val plan = written.queryExecution.executedPlan
    val counts = inputs.zip(observations).map { case ((label, df), o) =>
      new RowCount(label,
        if (inResultStage(plan, o.name)) None else Some(df.count()), o)
    }
    (written, counts)
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
