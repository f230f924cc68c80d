package graft.bank

import java.nio.file.Files

import scala.concurrent.duration._

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[RowCount]]: counts read off the write, the placement rule and its
  * explicit-count fallback, and the loud failure when no metric arrives. */
class RowCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def out(): String =
    Files.createTempDirectory("rowcount").resolve("t").toString

  test("a count observed on a write equals the rows written") {
    val (df, Seq(n)) = RowCount.observe(
      spark.range(1000).toDF().where(col("id") % 3 === 0),
      Seq("thirds" -> lit(true)))(identity)
    df.write.parquet(out())
    assert(n.observed)
    assert(n.get() == 334)
  }

  test("several labelled predicates on one frame, one counter above an exchange") {
    // the shape of the mart write: a union whose branches each end in an
    // exchange, rebalanced, counted per label above the rebalance
    val (df, ns) = RowCount.observe(
      (2 to 4).map(k => spark.range(100).groupBy((col("id") % k).as("g"))
          .count().withColumn("k", lit(k)))
        .reduce(_ unionByName _).hint("rebalance"),
      (2 to 4).map(k => s"mod$k" -> (col("k") === k)) :+
        ("all" -> lit(true)))(identity)
    df.write.parquet(out())
    assert(ns.forall(_.observed))
    assert(ns.map(_.label) == Seq("mod2", "mod3", "mod4", "all"))
    assert(ns.map(_.get()) == Seq(2L, 3L, 4L, 9L))
  }

  test("a counter below an exchange, or optimized away, becomes an explicit count") {
    val left = spark.range(50).toDF("k")
    def antiJoined() = RowCount.observe(left, Seq("left" -> lit(true),
        "even" -> (col("k") % 2 === 0)))(
      _.join(spark.range(10).toDF("k"), Seq("k"), "left_anti"))
    // broadcast: the observed side streams through the result stage
    val (bcast, Seq(nb, ne)) = antiJoined()
    bcast.write.parquet(out())
    assert(nb.observed && nb.get() == 50)
    assert(ne.observed && ne.get() == 25)
    // shuffle join: the observed side is shuffled, its counter would
    // sit in a map stage
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (shuffled, Seq(ns, ne)) = antiJoined()
      shuffled.write.parquet(out())
      assert(!ns.observed && ns.get() == 50)
      assert(!ne.observed && ne.get() == 25)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // a join with a statically empty side drops the counted subtree
    val empty = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("k", LongType))))
    val (gone, Seq(ng)) = RowCount.observe(left, Seq("left" -> lit(true)))(
      _.join(empty, Seq("k")))
    gone.write.parquet(out())
    assert(!ng.observed && ng.get() == 50)
  }

  test("a metric that never arrives fails loudly, naming the count, without blocking") {
    val (_, Seq(n)) =
      RowCount.observe(spark.range(5).toDF(),
        Seq("REP_FRAUD_never" -> lit(true)))(identity)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](n.get(200.millis))
    assert(e.getMessage.contains("REP_FRAUD_never"), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }
}
