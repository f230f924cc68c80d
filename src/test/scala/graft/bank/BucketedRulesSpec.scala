package graft.bank

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The Δ-bucketed band-join plan for rules 3/4 (the 100 TB path, see
  * SCALING.md) is the DEFAULT; it must produce the exact same fraud
  * mart as the reference's naive plan on the fixture. */
@graft.SlowIntegration
class BucketedRulesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val refData = "/root/reference/data/data"
  private val days = Seq("01032021", "02032021", "03032021")

  private def replay(mk: (Warehouse, Seeds.Seed) => Pipeline): Warehouse = {
    val work = Files.createTempDirectory("bucketspec").toString
    val inbox = Paths.get(work, "inbox")
    Files.createDirectories(inbox)
    days.foreach { d =>
      Seq(s"transactions_$d.txt", s"passport_blacklist_$d.xlsx",
        s"terminals_$d.xlsx").foreach { n =>
        Files.copy(Paths.get(refData, n), inbox.resolve(n),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val wh = new Warehouse(spark, Paths.get(work, "wh").toString)
    val seed = Seeds.load(spark, "/root/reference/data/ddl_dml.sql")
    val pipe = mk(wh, seed)
    days.foreach { d =>
      pipe.runDay(
        inbox.resolve(s"transactions_$d.txt").toString,
        inbox.resolve(s"passport_blacklist_$d.xlsx").toString,
        inbox.resolve(s"terminals_$d.xlsx").toString,
        Paths.get(work, "archive").toString)
    }
    wh
  }

  private def rows(wh: Warehouse) = wh.read(Pipeline.RepFraud)
    .collect().map(_.toString).sorted.toSeq

  private lazy val naive =
    rows(replay((wh, s) => new Pipeline(wh, s, bucketedBandJoins = false)))

  test("default (bucketed) rules 3/4 replay the fixture byte-for-byte") {
    val default = rows(replay((wh, s) => new Pipeline(wh, s)))
    assert(naive.size == 1100)
    assert(default == naive)
  }
}
