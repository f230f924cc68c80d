package graft.bank

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class QuarantineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bad rows divert to quarantine with reasons; good rows match the strict reader") {
    val dir = java.nio.file.Files.createTempDirectory("quarantine")
    val f = dir.resolve("transactions_01032021.csv")
    val clean = dir.resolve("transactions_clean.csv")
    java.nio.file.Files.writeString(f,
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |T1;2021-03-01 10:00:00;1046,40;C1;PAYMENT;SUCCESS;A01
        |T2;2021-03-01 11:30:00;200,00;C2;WITHDRAW;SUCCESS;A02
        |T3;2021-03-01 12:00:00;3x9,99;C3;PAYMENT;SUCCESS;A03
        |T4;not-a-timestamp;100,00;C4;PAYMENT;REJECT;A04
        |T5;2021-03-01 13:00:00;50,00;C5;PAYMENT;SUCCESS;A05;EXTRA;FIELDS
        |""".stripMargin)
    try {
      val (good, quarantine, day) =
        Ingest.transactionsQuarantined(spark, f.toString)
      assert(day == java.sql.Date.valueOf("2021-03-01"))

      val goodRows = good.select("transaction_id", "amount")
        .as[(String, BigDecimal)].collect().toMap
      assert(goodRows.keySet == Set("T1", "T2"))
      assert(goodRows("T1") == BigDecimal("1046.40"))
      // same schema as the strict reader; the strict reader rejects this
      // file, whose unparseable timestamp is a null transaction date
      java.nio.file.Files.writeString(clean,
        """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
          |T1;2021-03-01 10:00:00;1046,40;C1;PAYMENT;SUCCESS;A01
          |""".stripMargin)
      assert(good.schema == Ingest.transactions(spark, clean.toString)._1.schema)
      val strict = intercept[IllegalArgumentException](
        Ingest.transactions(spark, f.toString))
      assert(strict.getMessage.contains("1 row(s) with a null date"))

      val reasons = quarantine.select("reason").as[String]
        .collect().sorted.toSeq
      assert(reasons == Seq("bad_amount", "malformed_line", "malformed_line"),
        s"got $reasons")
      // the raw line survives for replay-after-fix
      val rawLines = quarantine.select("raw_line").as[String].collect()
      assert(rawLines.exists(_.contains("3x9,99")), rawLines.mkString("\n"))
      assert(rawLines.exists(_.contains("not-a-timestamp")))
      assert(rawLines.exists(_.contains("EXTRA")))
      assert(quarantine.select("source_file").as[String]
        .collect().forall(_.contains("transactions_01032021")))
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(clean)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}
