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
    val (df, Seq(n)) = RowCount.observe(Seq("thirds" ->
      spark.range(1000).toDF().where(col("id") % 3 === 0)))(_.head)
    df.write.parquet(out())
    assert(n.observed)
    assert(n.get() == 334)
  }

  test("counters in every branch of a union above their exchanges are exact") {
    val (df, ns) = RowCount.observe((2 to 4).map(k => s"mod$k" ->
        spark.range(100).groupBy((col("id") % k).as("g")).count()))(
      _.reduce(_ unionByName _))
    df.write.parquet(out())
    assert(ns.forall(_.observed))
    assert(ns.map(_.get()) == Seq(2L, 3L, 4L))
  }

  test("a counter below an exchange, or optimized away, becomes an explicit count") {
    val left = spark.range(50).toDF("k")
    def antiJoined() = RowCount.observe(Seq("left" -> left))(l =>
      l.head.join(spark.range(10).toDF("k"), Seq("k"), "left_anti"))
    // broadcast: the observed side streams through the result stage
    val (bcast, Seq(nb)) = antiJoined()
    bcast.write.parquet(out())
    assert(nb.observed && nb.get() == 50)
    // shuffle join: the observed side is shuffled, its counter would
    // sit in a map stage
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (shuffled, Seq(ns)) = antiJoined()
      shuffled.write.parquet(out())
      assert(!ns.observed && ns.get() == 50)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // a join with a statically empty side drops the counted subtree
    val empty = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("k", LongType))))
    val (gone, Seq(ng)) = RowCount.observe(Seq("left" -> left))(l =>
      l.head.join(empty, Seq("k")))
    gone.write.parquet(out())
    assert(!ng.observed && ng.get() == 50)
  }

  test("a metric that never arrives fails loudly, naming the count, without blocking") {
    val (_, Seq(n)) =
      RowCount.observe(Seq("REP_FRAUD_never" -> spark.range(5).toDF()))(_.head)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](n.within(200.millis))
    assert(e.getMessage.contains("REP_FRAUD_never"), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }
}
