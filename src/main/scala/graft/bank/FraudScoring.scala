package graft.bank

import org.apache.spark.ml.{Pipeline => MlPipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.graftshim.MlShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib fraud scoring on top of the rule engine (the BASELINE.json
  * north-star extension): the four deterministic rules label the
  * accumulated facts, and a logistic-regression pipeline learns a
  * per-transaction fraud score from cheap online features. The model
  * generalizes the rules to transactions the rules cannot see yet
  * (e.g. a new card's first day) and gives a ranking signal instead of
  * a binary flag.
  *
  * Features are computed with plain window/aggregate ops — one shuffle
  * per feature family, all broadcastable lookups — so scoring scales the
  * same way the rules do.
  */
object FraudScoring {

  /** Per-transaction features + rule-derived label. `labeledEvents` =
    * REP_FRAUD rows mapped back to (card_num, event_dt). */
  def trainingFrame(facts: DataFrame, repFraud: DataFrame,
                    blacklist: DataFrame, seed: Seeds.Seed): DataFrame = {
    val labels = repFraud
      .join(broadcast(seed.cardClients.select("card_num", "passport_num")),
        repFraud("passport") === col("passport_num"))
      .select(col("card_num").as("l_card"), col("event_dt"))
      .distinct()

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("card_num").orderBy("transaction_date")
    facts
      // client-state features via the rules' J6 dimension
      // ([[Seeds.Seed.cardClients]]), expressed as continuous distances
      .join(broadcast(seed.cardClients.select(col("card_num"),
        col("valid_to").as("contract_valid_to"), col("passport_num"),
        col("passport_valid_to"))), Seq("card_num"))
      .join(broadcast(blacklist.select(col("passport").as("bl_passport"),
        col("date").as("bl_date"))),
        col("passport_num") === col("bl_passport"), "left")
      .withColumn("days_past_passport",
        coalesce(datediff(to_date(col("transaction_date")),
          col("passport_valid_to")).cast("double"), lit(-9999.0)))
      .withColumn("days_past_contract",
        coalesce(datediff(to_date(col("transaction_date")),
          col("contract_valid_to")).cast("double"), lit(-9999.0)))
      .withColumn("blacklisted",
        when(col("bl_passport").isNotNull &&
          to_date(col("transaction_date")) > col("bl_date"), 1.0).otherwise(0.0))
      .withColumn("hour", hour(col("transaction_date")))
      .withColumn("amt", col("amount").cast("double"))
      .withColumn("prev_ts", lag(col("transaction_date"), 1).over(w))
      .withColumn("gap_s",
        coalesce(unix_timestamp(col("transaction_date")) -
          unix_timestamp(col("prev_ts")), lit(86400L)).cast("double"))
      .withColumn("prev_amt", coalesce(lag(col("amt"), 1).over(w), lit(0.0)))
      .withColumn("amt_drop",
        when(col("prev_amt") > col("amt"), 1.0).otherwise(0.0))
      .withColumn("is_reject",
        when(col("oper_result") === "REJECT", 1.0).otherwise(0.0))
      .join(labels,
        col("card_num") === col("l_card") &&
          col("transaction_date") === col("event_dt"), "left")
      .withColumn("label", when(col("l_card").isNotNull, 1.0).otherwise(0.0))
      .select("transaction_id", "card_num", "oper_type", "hour", "amt",
        "gap_s", "prev_amt", "amt_drop", "is_reject",
        "days_past_passport", "days_past_contract", "blacklisted", "label")
  }

  /** Logistic-regression pipeline over the engineered features. The
    * fitted model's training summary is dropped: it holds the session,
    * which does not serialize, and the scoring plan ships the model to
    * the executors. */
  def fit(training: DataFrame): PipelineModel = {
    val opType = new StringIndexer().setInputCol("oper_type")
      .setOutputCol("oper_type_ix").setHandleInvalid("keep")
    val features = new VectorAssembler()
      .setInputCols(Array("hour", "amt", "gap_s", "prev_amt", "amt_drop",
        "is_reject", "oper_type_ix", "days_past_passport",
        "days_past_contract", "blacklisted"))
      .setOutputCol("features")
    val lr = new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01)
      .setLabelCol("label").setFeaturesCol("features")
    val model = new MlPipeline().setStages(Array(opType, features, lr))
      .fit(training)
    model.stages.collect { case m: LogisticRegressionModel => MlShim.dropSummary(m) }
    model
  }

  /** Area under ROC on a scored frame. */
  def auc(scored: DataFrame): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(scored)
}
