package graft.operators

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Regression pin for the multi-day SCD2 fold. The join formulation of
  * `scd2Apply` (now the test twin [[CdcJoinTwin]]) embedded its input
  * history plan in ~6 branches (diff joins + the union's close/insert
  * arms), so an UNMATERIALIZED k-day chain grew the logical plan
  * ~6^k-fold — found in round 10 when a 3-file streaming backlog fold
  * exploded into thousands of AQE stages. The fix was a materialization
  * boundary per step (eager `localCheckpoint`, the boundary the batch
  * pipeline gets for free from its daily parquet write). The one-pass
  * `scd2Apply` reads its history once, so an unmaterialized chain now
  * grows linearly (7 optimized nodes for one day, 5 more per day, 32 at
  * six; the checkpointed fold is one). This spec executes a 6-day fold
  * and asserts its plan is smaller than ONE unmaterialized step, which
  * fails as soon as any step's boundary is gone. */
class Scd2FoldSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def snap(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("terminal_id", "city")
  }

  test("6-day scd2Apply fold with per-step localCheckpoint keeps the plan flat") {
    val days = (1 to 6).map(d => Date.valueOf(f"2021-03-$d%02d"))
    // rotate attribute values so every day produces changes; churn keys
    // (T11..T16) exercise the tombstone arm without colliding with T1/T2
    val snaps = (1 to 6).map(d =>
      snap(("T1", s"city$d"), ("T2", "fixed"), (s"T${10 + d}", "new")))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("terminal_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("city",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("effective_from",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("effective_to",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("deleted_flg",
          org.apache.spark.sql.types.BooleanType))))
    val folded = snaps.zip(days).foldLeft(empty) { case (hist, (s, d)) =>
      Cdc.scd2Apply(hist, s, d, keyCol = "terminal_id",
        attrCols = Seq("city")).localCheckpoint(true)
    }
    // flat: the checkpointed fold is a LogicalRDD scan (1 node). Without
    // the boundary the 6-deep chain nests six keyed passes (32 nodes),
    // and even the last step alone plans 7.
    val nodes = folded.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes < 7, s"fold plan grew to $nodes nodes — did the " +
      "per-step materialization boundary disappear?")

    // and the folded history carries the reference's exact quirk
    // arithmetic: `changed` inner-joins ALL historic versions
    // (incl. multiplicity duplicates), so a key changing every day
    // DOUBLES its version rows per day — v(d) = 2^(d-1), total after
    // 6 days = 32 rows with the last day's 16 identical inserts open.
    // The golden replay's 157-row dimension is this same quirk on the
    // reference fixture; here it is pinned in closed form.
    val t1 = folded.where(col("terminal_id") === "T1")
    assert(t1.count() == 32)
    assert(t1.where(col("effective_to") === Cdc.OpenDate).count() == 16)
    val t2 = folded.where(col("terminal_id") === "T2")
    assert(t2.count() == 1)
    assert(t2.where(col("effective_to") === Cdc.OpenDate).count() == 1)
  }
}
