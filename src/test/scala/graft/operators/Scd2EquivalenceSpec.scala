package graft.operators

import java.sql.Date

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The one-pass [[Cdc.scd2Apply]] against its join twin
  * ([[CdcJoinTwin.scd2Apply]], the reference's statements one for one):
  * the same rows with the same multiplicities, in the history's column
  * order, on hand-built edge cases and on seeded random histories and
  * snapshots over a small key domain (so keys collide, versions repeat
  * and null keys and attributes turn up). */
class Scd2EquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val day = Date.valueOf("2021-03-05")
  private val open = Cdc.OpenDate
  private def d(s: String) = Date.valueOf(s"2021-03-0$s")

  // key and attributes deliberately not first: the output must keep
  // the history's own column order
  private val histSchema = StructType(Seq(
    StructField("effective_from", DateType),
    StructField("k", StringType),
    StructField("a", StringType),
    StructField("deleted_flg", BooleanType),
    StructField("b", IntegerType),
    StructField("effective_to", DateType)))
  private val snapSchema = StructType(Seq(
    StructField("b", IntegerType),
    StructField("k", StringType),
    StructField("a", StringType)))

  /** History row (k, a, b, from, to, deleted) in `histSchema` order. */
  private type H = (String, String, Integer, Date, Date, Boolean)
  private type S = (String, String, Integer)

  private def frames(hist: Seq[H], snap: Seq[S]): (DataFrame, DataFrame) = {
    def df(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    (df(hist.map { case (k, a, b, f, t, del) => Row(f, k, a, del, b, t) },
        histSchema),
     df(snap.map { case (k, a, b) => Row(b, k, a) }, snapSchema))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(hist: Seq[H], snap: Seq[S], clue: String): Unit = {
    val (h, s) = frames(hist, snap)
    val got = Cdc.scd2Apply(h, s, day, "k", Seq("a", "b"))
    val want = CdcJoinTwin.scd2Apply(h, s, day, "k", Seq("a", "b"))
    assert(got.columns.toSeq == histSchema.fieldNames.toSeq, clue)
    assert(rows(got) == rows(want), clue)
  }

  private val one: Integer = 1
  private val two: Integer = 2

  test("edge cases: the same rows and multiplicities as the join twin") {
    val cases: Seq[(String, Seq[H], Seq[S])] = Seq(
      ("null keys on both sides",
        Seq((null, "x", one, d("1"), open, false),
          (null, "x", one, d("1"), open, true),
          ("K1", "x", one, d("1"), open, false)),
        Seq((null, "x", one), (null, "y", two), ("K1", "x", one))),
      ("null attributes",
        Seq(("K1", null, one, d("1"), open, false),
          ("K2", "x", null, d("1"), open, false),
          ("K3", null, null, d("1"), open, false)),
        Seq(("K1", null, one), ("K2", "x", two), ("K3", "y", null))),
      ("duplicate identical versions",
        Seq(("K1", "x", one, d("1"), open, false),
          ("K1", "x", one, d("1"), open, false),
          ("K2", "x", one, d("1"), d("2"), false),
          ("K2", "x", one, d("1"), d("2"), false)),
        Seq(("K1", "y", one), ("K2", "x", one))),
      ("re-deleted tombstoned keys",
        Seq(("K1", "x", one, d("1"), d("1"), false),
          ("K1", "x", one, d("2"), open, true),
          ("K2", "x", one, d("1"), d("2"), false),
          ("K2", "x", one, d("3"), open, true),
          ("K2", "x", one, d("3"), open, true)),
        Seq(("K3", "x", one))),
      ("duplicate snapshot keys",
        Seq(("K1", "x", one, d("1"), open, false),
          ("K2", "x", one, d("1"), open, false)),
        Seq(("K1", "x", one), ("K1", "y", one), ("K1", "y", one),
          ("K2", "x", one), ("K2", "x", one), ("K3", "z", two), ("K3", "z", two))),
      ("empty history", Nil,
        Seq(("K1", "x", one), ("K1", "x", one), (null, "y", null))),
      ("empty snapshot",
        Seq(("K1", "x", one, d("1"), open, false),
          ("K1", "y", one, d("1"), d("2"), false),
          (null, "x", one, d("1"), open, false)),
        Nil),
      ("a null effective_to is never open",
        Seq(("K1", "x", one, d("1"), null, false),
          ("K2", "x", one, d("1"), null, false)),
        Seq(("K1", "y", one))),
      ("both empty", Nil, Nil))
    cases.foreach { case (name, hist, snap) => assertSame(hist, snap, name) }
  }

  test("seeded random histories and snapshots: the same rows as the join twin") {
    val rnd = new Random(20210305L)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def key = pick[String]("K1", "K2", "K3", "K4", null)
    def attrA = pick[String]("x", "y", null)
    def attrB = pick[Integer](one, two, null)
    (1 to 30).foreach { i =>
      val hist = Seq.fill(rnd.nextInt(9)) {
        (key, attrA, attrB, d(pick("1", "2", "3")),
          pick[Date](open, open, d("2"), d("4"), null), rnd.nextBoolean())
      }
      // half the snapshots copy history versions, so "unchanged" occurs
      val snap = Seq.fill(rnd.nextInt(7)) {
        if (hist.nonEmpty && rnd.nextBoolean()) {
          val h = hist(rnd.nextInt(hist.size)); (h._1, h._2, h._3)
        } else (key, attrA, attrB)
      }
      assertSame(hist, snap, s"case $i: hist=$hist snap=$snap")
    }
  }
}
