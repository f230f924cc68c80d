package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** All operator queries, each optionally paired with a DuckDB oracle. */
  private def defs: Seq[QueryDef] =
    CoreQueries.all ++ WarehouseQueries.all ++ TextQueries.all ++
      SimilarityQueries.all ++ MultimodalQueries.all ++ AnalyticsQueries.all ++
      ExtendedQueries.all ++ ReconcileQueries.all ++ QualityQueries.all ++
      PlannerQueries.all ++ EvalQueries.all ++ SpatialQueries.all ++
      ScoringQueries.all ++ SequenceQueries.all ++
      RankMetricsQueries.all ++ SignalQueries.all ++ CausalQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q11.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap

  /** Local cores of a main's session: `SPARK_GRAFT_CPUS`, else the
    * machine's, capped at 32. The mains use it as the shuffle partition
    * count too. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
