package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench record's self-description: the per-query noisy flag,
  * and the plan hash of the work signature, which must not change with
  * what differs between two runs of one plan (expression IDs, shuffle
  * partition counts) and must change when an operator does. */
class BenchHistorySpec extends AnyFunSuite {

  test("noisyShaped: per-query contention flag (VERDICT r14 #7)") {
    // the r14 case: q312 measured 6.0 s with loadavg 5.5 at run start
    // against a 4.0 threshold — flagged, so the driver record
    // adjudicates itself without the builder's quiet-box detail
    assert(Bench.noisyShaped(sec = 6.0, load = 5.5, threshold = 4.0))
    // quiet box: same query, loadavg 1.0 — clean
    assert(!Bench.noisyShaped(sec = 4.17, load = 1.0, threshold = 4.0))
    // at the threshold exactly: not flagged (strictly above fires)
    assert(!Bench.noisyShaped(sec = 6.0, load = 4.0, threshold = 4.0))
    // sub-second rows are exempt — interference that cannot move a
    // number past 1 s is run noise, not an adjudication case
    assert(!Bench.noisyShaped(sec = 0.9, load = 9.0, threshold = 4.0))
    assert(Bench.noisyShaped(sec = 1.0, load = 9.0, threshold = 4.0))
  }

  test("planHash ignores expression IDs and partition counts, not operators") {
    val at8 =
      """*(2) Project [k#12L, transform(v#13, lambdafunction((lambda x_1#40 * 2), lambda x_1#40, false)) AS w#14]
        |+- *(2) HashAggregate(keys=[k#12L], functions=[collect_list(v#11, 0, 0)], output=[k#12L, v#13])
        |   +- ShuffleQueryStage 0
        |      +- Exchange hashpartitioning(pmod(hash(k#12L, 42), 7), 8), ENSURE_REQUIREMENTS, [plan_id=31]
        |         +- *(1) FileScan parquet [k#12L,v#11] Location: InMemoryFileIndex(1 paths)[file:/data/sf0.1/t.parquet], ReadSchema: struct<k:bigint,v:int>
        |""".stripMargin
    val at32 = at8.replace("#12L", "#977L").replace("#11", "#976")
      .replace("#13", "#978").replace("#14", "#979").replace("x_1#40", "x_9#5120")
      .replace(", 8)", ", 32)").replace("plan_id=31", "plan_id=4410")
      .replace("Stage 0", "Stage 3").replace("*(2)", "*(5)")
      .replace("(1 paths)[file:/data/sf0.1/", "(4 paths)[file:/other/sf1/")
    assert(at32 != at8)
    assert(Bench.planHash(at32) == Bench.planHash(at8))
    val repartitioned = at8.replace("+- *(1) FileScan",
      "+- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=7]\n" +
        "               +- *(1) FileScan")
    assert(Bench.planHash(repartitioned) != Bench.planHash(at8))
    assert(Bench.planHash(repartitioned.replace("Partitioning(8)",
      "Partitioning(16)")) == Bench.planHash(repartitioned))
  }

  test("planHash: one DataFrame planned at 2 and at 4 shuffle partitions") {
    val spark = SparkTestSession.spark
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    def plan(parts: Int, extraFilter: Boolean) = {
      spark.conf.set(key, parts.toLong)
      try {
        val base = spark.range(100).select((col("id") % 3).as("k"))
        val df = (if (extraFilter) base.where(col("k") > 0) else base)
          .groupBy("k").count()
        Bench.finalPlan(df.queryExecution.executedPlan)
      } finally spark.conf.set(key, was)
    }
    val (p2, p4) = (plan(2, extraFilter = false), plan(4, extraFilter = false))
    assert(p2.contains(", 2)") && p4.contains(", 4)"), s"$p2\n$p4")
    assert(Bench.planHash(p2) == Bench.planHash(p4), s"$p2\n$p4")
    assert(Bench.planHash(plan(2, extraFilter = true)) != Bench.planHash(p2))
  }
}
