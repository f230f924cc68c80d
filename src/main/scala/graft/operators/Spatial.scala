package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-blocked spatial ε-neighborhood operators (backing q218/q219).
  *
  * The scale pattern is the 2-D generalization of the Δ-bucketed band
  * join ([[BandJoin]]): quantize each point into a square cell whose
  * edge equals the search radius ε, then candidate pairs can only live
  * in the 3×3 neighbor-cell stencil — the O(n²) cross join becomes an
  * equi join on the cell id with a 9× probe-side explode. Per-cell
  * occupancy is n·ε²/W² in expectation; the join shuffles on (cx, cy),
  * so at 1000 executors cells spread evenly and no task ever sees more
  * than its stencil's points. A pathological all-points-one-cell
  * distribution degenerates to per-cell quadratic — the same hot-key
  * regime as the band join's one-hot-key case, and the same mitigation
  * applies (shrink the cell edge below ε and probe a wider stencil,
  * trading stencil fan-out for occupancy; measured in SCALING.md,
  * "Spatial ε-joins: the 2-D Δ-bucket").
  *
  * Coordinates are exact integers; every distance comparison is
  * integer arithmetic — no floating point in the predicate path, so
  * results replay exactly in any engine.
  */
object Spatial {

  /** Deterministic md5-derived point per id: 24-bit integer (x, y) in
    * [0, 2^24)² — a uniform synthetic plane with no testdata
    * dependency (the q161 md5-prefix-as-BIGINT idiom, one axis salt
    * per coordinate). */
  def derivePoints(df: DataFrame, idCol: String): DataFrame = {
    def coord(axis: String) =
      conv(substring(md5(concat(lit(s"$axis|"), col(idCol).cast("string"))),
        1, 6), 16, 10).cast("long")
    df.select(col(idCol).as("k"), coord("x").as("x"), coord("y").as("y"))
  }

  /** All unordered pairs within ε = 2^cellShift (squared integer
    * distance ≤ ε²), via the 3×3 stencil grid join. Output:
    * (k_a, k_b, d2) with k_a < k_b, each pair exactly once — both
    * probe directions produce the pair; the `<` residual keeps one. */
  def epsPairs(points: DataFrame, cellShift: Int): DataFrame = {
    val eps2 = (1L << cellShift) * (1L << cellShift)
    val c = points.select(col("k"), col("x"), col("y"),
      shiftright(col("x"), cellShift).as("cx"),
      shiftright(col("y"), cellShift).as("cy"))
    val probe = c.withColumn("dx", explode(lit(Array(-1, 0, 1))))
      .withColumn("dy", explode(lit(Array(-1, 0, 1))))
      .select(col("k"), col("x"), col("y"),
        (col("cx") + col("dx")).as("pcx"), (col("cy") + col("dy")).as("pcy"))
    val dx = col("ax") - col("bx")
    val dy = col("ay") - col("by")
    probe.toDF("ka", "ax", "ay", "pcx", "pcy")
      .join(c.toDF("kb", "bx", "by", "cx", "cy"),
        col("pcx") === col("cx") && col("pcy") === col("cy"))
      .where(col("ka") < col("kb") && dx * dx + dy * dy <= eps2)
      .select(col("ka").as("k_a"), col("kb").as("k_b"),
        (dx * dx + dy * dy).as("d2"))
  }

  /** Symmetric ε-neighbor pairs (both directions, no self-pairs) —
    * the per-point neighbor relation DBSCAN labelling consumes. */
  def neighborPairs(points: DataFrame, cellShift: Int): DataFrame = {
    val p = epsPairs(points, cellShift)
    p.select(col("k_a"), col("k_b"))
      .unionByName(p.select(col("k_b").as("k_a"), col("k_a").as("k_b")))
  }

  /** DBSCAN point labelling: core = ≥ minPts−1 ε-neighbors, border =
    * non-core with a core neighbor, noise otherwise. One neighbor
    * count aggregate plus one semi-join against the core set; the
    * full cluster assignment is connected components ([[Graph]]) over
    * core-core pairs, which this labelling gates. */
  def dbscanLabels(points: DataFrame, cellShift: Int,
                   minPts: Int): DataFrame = {
    val nbr = neighborPairs(points, cellShift)
    val cnt = points.select("k").join(
        nbr.groupBy(col("k_a").as("k")).agg(count(lit(1)).as("nn")),
        Seq("k"), "left")
      .select(col("k"), coalesce(col("nn"), lit(0L)).as("n_nbr"))
    val core = cnt.where(col("n_nbr") >= minPts - 1)
      .select(col("k").as("ck"))
    val nearCore = nbr.join(core, nbr("k_b") === core("ck"), "left_semi")
      .select(col("k_a").as("k")).distinct()
      .withColumn("near_core", lit(true))
    cnt.join(nearCore, Seq("k"), "left")
      .select(col("k"), col("n_nbr"),
        when(col("n_nbr") >= minPts - 1, "core")
          .when(col("near_core"), "border")
          .otherwise("noise").as("label"))
  }
}
