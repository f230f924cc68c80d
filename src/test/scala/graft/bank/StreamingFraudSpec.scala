package graft.bank

import java.sql.Timestamp

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Fraud rule 1 is a stateless per-transaction classifier (broadcast
  * master chain + blacklist lookup + filters), so the SAME function runs
  * unchanged over a Structured Stream with static dimensions — the
  * streaming modernization of the reference's daily batch. The spec
  * feeds the fixture's day-3 transactions ([[RefFixture]]) through a
  * MemoryStream in two micro-batches and checks the streamed flags equal
  * the batch result. */
final case class StreamTxn(transaction_id: String, transaction_date: Timestamp,
                           card_num: String, oper_type: String, amount: Double,
                           oper_result: String, terminal: String)

class StreamingFraudSpec extends AnyFunSuite {

  test("rule 1 streams over a MemoryStream with static dims == batch") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val work = java.nio.file.Files.createTempDirectory("streamfraud")
    val src = java.nio.file.Paths.get(
      RefFixture.dataDir, "transactions_03032021.txt")
    val copy = work.resolve("txns.txt")
    java.nio.file.Files.copy(src, copy)
    val (txns, _) = Ingest.transactions(spark, copy.toString)
    val seed = Seeds.load(spark, RefFixture.seedSql)
    // day-3 cumulative blacklist, read via the xlsx source
    val bl = Ingest.blacklist(spark,
      s"${RefFixture.dataDir}/passport_blacklist_03032021.xlsx")
      .collect() // materialize before the file would be archived
    val blDf = spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .SeqHasAsJava(bl.toSeq).asJava), Schemas.factPassportBlacklist)

    def typed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("amount", col("amount").cast(DecimalType(10, 2)))
      .select("transaction_id", "transaction_date", "card_num", "oper_type",
        "amount", "oper_result", "terminal")

    val sample = txns
      .withColumn("amount", col("amount").cast("double")).as[StreamTxn]
      .collect().take(4000)

    val expected = FraudRules.rules12(
        typed(sample.toSeq.toDF()), blDf, seed)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.exists(_.contains(FraudRules.BlockedPassport)),
      "day-3 fixture must produce rule-1 hits")

    val mem = MemoryStream[StreamTxn]
    val q = FraudRules.rules12(typed(mem.toDF()), blDf, seed)
      .writeStream.outputMode("append")
      .format("memory").queryName("rule1_stream").start()
    // halves: two non-empty micro-batches whatever the file's size
    val (b1, b2) = sample.splitAt(sample.length / 2)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("rule1_stream")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == expected)
  }
}
