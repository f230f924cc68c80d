package graft.bank

import java.nio.file.Files

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Trains the MLlib scorer on the replayed 3-day warehouse
  * ([[RefFixture]]): the rule labels must be learnable well above chance
  * from the online features. */
class FraudScoringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("logistic pipeline learns the rule labels (AUC > 0.7)",
      graft.SlowIntegrationTag) {
    val work = Files.createTempDirectory("mlspec")
    val wh = new Warehouse(spark, work.resolve("wh").toString)
    val seed = Seeds.load(spark, RefFixture.seedSql)
    RefFixture.replay(wh, seed, work)

    val training = FraudScoring.trainingFrame(
      wh.read(Pipeline.FactTransactions), wh.read(Pipeline.RepFraud),
      wh.read(Pipeline.FactBlacklist), seed)
      .cache()
    val pos = training.where("label = 1").count()
    assert(pos > 100, s"expected enough positive labels, got $pos")

    val Array(train, test) = training.randomSplit(Array(0.8, 0.2), seed = 42L)
    val model = FraudScoring.fit(train)
    val auc = FraudScoring.auc(model.transform(test))
    assert(auc > 0.85, s"AUC $auc")
    training.unpersist()
  }
}
