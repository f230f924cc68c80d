package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-scope band join that no program path runs: the naive
  * formulation of [[BandJoin.pairsWithin]], its reference in
  * BandJoinSpec. */
object BandJoinTwin {

  /** Naive formulation (equi key + residual) — the semantic reference
    * for [[BandJoin.pairsWithin]]. */
  def pairsWithinNaive(df: DataFrame, key: String, tsCol: String,
                       deltaUs: Long, payload: Seq[String]): DataFrame = {
    val cols = (Seq(key, tsCol) ++ payload).distinct
    val base = df.select(cols.map(col): _*)
    def side(n: Int): DataFrame = cols.filterNot(_ == key)
      .foldLeft(base)((d, c) => d.withColumnRenamed(c, s"${c}_$n"))
    val l = side(1)
    val r = side(2)
    l.join(r, Seq(key))
      .where(unix_micros(col(s"${tsCol}_1")) < unix_micros(col(s"${tsCol}_2")) &&
        unix_micros(col(s"${tsCol}_2")) - unix_micros(col(s"${tsCol}_1")) < deltaUs)
  }
}
