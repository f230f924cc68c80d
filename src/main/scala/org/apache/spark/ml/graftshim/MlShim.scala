package org.apache.spark.ml.graftshim

import org.apache.spark.ml.classification.LogisticRegressionModel

/** Narrow bridge to `private[ml]` model API. */
object MlShim {

  /** Drop a fitted model's training summary. The summary keeps the
    * training frame, and with it the `SparkSession`, which is not
    * serializable: a model that still holds it cannot be shipped inside
    * a scoring plan. */
  def dropSummary(m: LogisticRegressionModel): Unit = m.setSummary(None)
}
