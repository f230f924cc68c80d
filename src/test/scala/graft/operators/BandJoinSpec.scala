package graft.operators

import graft.{SparkTestSession, Tables}
import org.scalatest.funsuite.AnyFunSuite

class BandJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bucketed band join ≡ naive formulation on real events (sf0.001)") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id_1", "event_id_2").as[(Long, Long)].collect().toSet
    val bucketed = pairs(BandJoin.pairsWithin(
      e, "user_id", "ts", 3600L * 1000000L, Seq("event_id")))
    val naive = pairs(BandJoinTwin.pairsWithinNaive(
      e, "user_id", "ts", 3600L * 1000000L, Seq("event_id")))
    assert(bucketed.nonEmpty)
    assert(bucketed == naive)
  }

  test("boundary semantics: strictly-before and open delta bound") {
    import java.sql.Timestamp
    val delta = 60L * 1000000L
    val df = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, 1L, Timestamp.valueOf("2024-01-01 00:00:59")), // in band
      (3L, 1L, Timestamp.valueOf("2024-01-01 00:01:00")), // exactly delta vs 1
      (4L, 1L, Timestamp.valueOf("2024-01-01 00:00:00"))  // tie with 1
    ).toDF("event_id", "user_id", "ts")
    val got = BandJoin.pairsWithin(df, "user_id", "ts", delta, Seq("event_id"))
      .select("event_id_1", "event_id_2").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (4L, 2L), (2L, 3L)))
  }
}
