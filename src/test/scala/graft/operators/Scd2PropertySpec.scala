package graft.operators

import java.sql.Date

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.4: SCD2 invariants under random snapshot sequences for the
  * sane variant (the reference-parity variant intentionally violates
  * them — see BankPipelineSpec for its exact quirk expectations). */
class Scd2PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("a", StringType),
    StructField("effective_from", DateType), StructField("effective_to", DateType),
    StructField("deleted_flg", BooleanType)))

  private def histDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.List.copyOf(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  private def snapDf(m: Map[String, String]): DataFrame =
    spark.createDataFrame(java.util.List.copyOf(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        m.toSeq.map { case (k, a) => Row(k, a) }).asJava),
      StructType(schema.fields.take(2)))

  // a day's snapshot: subset of keys K1..K5 with 1-char attrs
  private val snapshotGen: Gen[Map[String, String]] = for {
    keys <- Gen.someOf((1 to 5).map(i => s"K$i"))
    attrs <- Gen.listOfN(keys.size, Gen.oneOf("a", "b", "c"))
  } yield keys.zip(attrs).toMap

  test("sane SCD2: invariants hold over random snapshot sequences") {
    // raw ScalaCheck generators with fixed seeds (the scalatestplus
    // bridge is not in the offline artifact cache)
    val params = Gen.Parameters.default
    for (trial <- 0 until 8) {
      val snapshots = Gen.listOfN(4, snapshotGen)
        .apply(params, Seed(1000L + trial)).get
      var hist = histDf(Seq.empty)
      var day = Date.valueOf("2021-01-01")
      for (snap <- snapshots) {
        // Rebuild from collected rows each step: truncates the logical
        // lineage (histories are a handful of rows; letting the plan tree
        // stack 32 scd2Apply layers made Catalyst re-optimization the
        // dominant cost and thrashed execution memory in the full suite).
        val applied = Scd2Sane.scd2ApplySane(hist, snapDf(snap), day, "k", Seq("a"))
        hist = histDf(applied.collect().toSeq)
        day = new Date(day.getTime + 86400000L)
      }
      val rows = hist.collect().map(r => (r.getString(0), r.getString(1),
        r.getDate(2), r.getDate(3), r.getBoolean(4)))
      val everSeen = snapshots.flatMap(_.keys).toSet
      val byKey = rows.groupBy(_._1)
      // 1. exactly one open row per ever-seen key; none for unseen
      assert(byKey.keySet == everSeen)
      for ((k, vs) <- byKey) {
        val open = vs.filter(_._4 == Cdc.OpenDate)
        assert(open.length == 1, s"$k open rows: ${open.length}")
        // 2. intervals are well-formed and non-overlapping
        val sorted = vs.sortBy(_._3.getTime)
        for (v <- vs) assert(!v._3.after(v._4), s"$k inverted interval $v")
        if (sorted.length > 1)
          for (w <- sorted.sliding(2).map(_.toSeq) if w.length == 2)
            assert(w(0)._4.before(w(1)._3), s"$k overlap: ${w(0)} / ${w(1)}")
        // 3. the open row reflects the last snapshot state
        val lastState = snapshots.reverse.collectFirst {
          case s if s.contains(k) => s(k)
        }
        val stillPresent = snapshots.last.contains(k)
        val o = open.head
        if (stillPresent) assert(!o._5 && o._2 == lastState.get)
        else assert(o._5, s"$k should be tombstoned")
      }
    }
  }
}
