package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-scope spatial join that no program path runs: the brute-force
  * formulation of [[Spatial.epsPairs]], its reference in
  * EvalSpatialSpec. */
object SpatialTwin {

  /** O(n²) brute-force twin — the correctness yardstick and the thing
    * [[Spatial.epsPairs]] exists to avoid (same stance as q32 vs q34). */
  def epsPairsNaive(points: DataFrame, cellShift: Int): DataFrame = {
    val eps2 = (1L << cellShift) * (1L << cellShift)
    val dx = col("a.x") - col("b.x")
    val dy = col("a.y") - col("b.y")
    points.as("a").crossJoin(points.as("b"))
      .where(col("a.k") < col("b.k") && dx * dx + dy * dy <= eps2)
      .select(col("a.k").as("k_a"), col("b.k").as("k_b"),
        (dx * dx + dy * dy).as("d2"))
  }
}
