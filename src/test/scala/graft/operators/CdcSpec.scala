package graft.operators

import java.sql.Date

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CdcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val d1 = Date.valueOf("2021-03-01")
  private val d2 = Date.valueOf("2021-03-02")

  private def hist0 = Seq(
    ("T1", "ATM", "CityA", d1, Cdc.OpenDate, false),
    ("T2", "POS", "CityB", d1, Cdc.OpenDate, false),
    // T3 has a closed old version and an open one — "changed" must
    // count matches against BOTH (reference multiplicity quirk)
    ("T3", "POS", "CityC", d1, d1, false),
    ("T3", "POS", "CityD", d2, Cdc.OpenDate, false))
    .toDF("terminal_id", "terminal_type", "terminal_city",
      "effective_from", "effective_to", "deleted_flg")

  private def snapshot = Seq(
    ("T1", "ATM", "CityA"),   // unchanged
    ("T3", "POS", "CityE"),   // differs from both history versions
    ("T4", "ATM", "CityF"))   // brand new; T2 deleted
    .toDF("terminal_id", "terminal_type", "terminal_city")

  private val attrs = Seq("terminal_type", "terminal_city")

  test("snapshotDiff splits added/deleted/changed with reference semantics") {
    val d = CdcJoinTwin.snapshotDiff(snapshot, hist0, "terminal_id", attrs)
    assert(d.added.select("terminal_id").as[String].collect().toSeq == Seq("T4"))
    assert(d.deleted.select("terminal_id").as[String].collect().toSeq == Seq("T2"))
    // T3 differs from 2 historic versions -> appears twice (CTAS join)
    assert(d.changed.select("terminal_id").as[String].collect().toSeq ==
      Seq("T3", "T3"))
  }

  test("scd2Apply closes, reopens, tombstones") {
    val day = Date.valueOf("2021-03-05")
    val out = Cdc.scd2Apply(hist0, snapshot, day, "terminal_id", attrs).cache()

    // unchanged key untouched
    assert(out.where($"terminal_id" === "T1" && $"effective_to" === Cdc.OpenDate)
      .count() == 1)
    // deleted key: old version closed at day-1, tombstone open
    val t2 = out.where($"terminal_id" === "T2").collect()
    assert(t2.length == 2)
    assert(t2.exists(r => r.getAs[Date]("effective_to") == Date.valueOf("2021-03-04")
      && !r.getAs[Boolean]("deleted_flg")))
    assert(t2.exists(r => r.getAs[Date]("effective_to") == Cdc.OpenDate
      && r.getAs[Boolean]("deleted_flg")
      && r.getAs[Date]("effective_from") == day))
    // changed key: closed old open version + TWO identical new opens
    // (multiplicity), old closed version untouched
    val t3 = out.where($"terminal_id" === "T3").collect()
    assert(t3.length == 4)
    assert(t3.count(r => r.getAs[Date]("effective_to") == Cdc.OpenDate
      && r.getAs[String]("terminal_city") == "CityE") == 2)
    // new key opens at day
    val t4 = out.where($"terminal_id" === "T4").collect()
    assert(t4.length == 1 && t4.head.getAs[Date]("effective_from") == day)
    out.unpersist()
  }

  test("mergeUpsert: update wins, insert lands, delete removes, rest pass") {
    val target = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "name", "v")
    val source = Seq(
      (2L, "B", 99, false),  // update
      (4L, "d", 40, false),  // insert
      (3L, "c", 30, true),   // delete
      (5L, "e", 50, true))   // delete of absent key = no-op
      .toDF("k", "name", "v", "del")
    val got = Cdc.mergeUpsert(target, source, Seq("k"), Some("del"))
      .as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "a", 10), (2L, "B", 99), (4L, "d", 40)))
  }

  test("mergeUpsert: a source NULL value overwrites (presence, not coalesce)") {
    val target = Seq((1L, Some("keep")), (2L, Some("clobber")))
      .toDF("k", "name")
    val source = Seq((2L, None: Option[String])).toDF("k", "name")
    val got = Cdc.mergeUpsert(target, source, Seq("k"))
      .as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, Some("keep")), (2L, None)))
  }
}
