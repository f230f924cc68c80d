package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Band (time-proximity) self-joins: pairs of rows sharing an equi key
  * with 0 < t₂ − t₁ < Δ — the shape of fraud rules 3 and 4
  * (`loading_rep_fraud.py:74-76,108-113`).
  *
  * The naive formulation `JOIN ON key = key AND ts-range` is a sort-merge
  * join on the key alone: every same-key pair is materialized and the
  * range residual filters afterwards. A card with n transactions over a
  * year costs n² comparisons even though only near-in-time pairs can
  * match — the classic 100 TB bottleneck.
  *
  * `pairsWithin` instead buckets time into Δ-wide epochs and joins on
  * (key, bucket): the right row probes its own bucket and its
  * predecessor, so every qualifying pair is found exactly once
  * (t₂−t₁ < Δ ⇒ bucket(t₂) ∈ {bucket(t₁), bucket(t₁)+1}) and the
  * per-key fan-out drops from n² to Σ (adjacent-bucket populations)².
  * This is the published range-bucketing rewrite for band joins,
  * expressed with plain exprs — Catalyst plans it as an ordinary
  * hash/sort-merge equi-join on the composite key.
  *
  * REMAINING skew: one hot (key, bucket) pair — a single card with m
  * transactions inside one Δ window — still lands on one shuffle
  * partition, and its m² candidate pairs on one task. The `salt`
  * parameter splits it: one side's rows take a deterministic
  * content-hash salt in [0, salt), the other side replicates over every
  * salt value, and the join key becomes (key, bucket, salt) — the hot
  * pair's work spreads over `salt` tasks (the pair count is semantic and
  * cannot shrink; parallelism is the only lever). Content-hash salting
  * is stable under task retry/recomputation (same row ⇒ same salt, so a
  * shuffle-fetch failure can never double or drop a pair — same
  * trade-off as [[Skew.saltedJoin]]); its limit is that fully IDENTICAL
  * rows share one salt. At cluster scale AQE's skew-join split handles
  * the same shape at runtime once a partition crosses
  * `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes`; the
  * explicit salt is the dial for hot pairs below that threshold or for
  * plans where AQE cannot rewrite (measured: SCALING.md round-12
  * hot-bucket entry).
  */
object BandJoin {

  /** Deterministic content-hash salt in [0, salt): stable under task
    * retry (hash of row content, not position). */
  private def contentSalt(df: DataFrame, salt: Int): Column =
    pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(salt.toLong))

  private def allSalts(salt: Int): Column =
    explode(array((0 until salt).map(s => lit(s.toLong)): _*))

  /** The salt-pin (AQE byte-coalescing exemption + salt × 8 width) is
    * shared by every salted operator since round 14 — see
    * [[Skew.pinSalted]] for the measured rationale. */
  private def pinSalted(df: DataFrame, joinKeys: Seq[String],
                        salt: Int): DataFrame =
    Skew.pinSalted(df, joinKeys, salt)

  /** All ordered pairs (a, b) with equal `key`, a.ts < b.ts, and
    * b.ts − a.ts < deltaUs (microseconds). Output: left columns aliased
    * `<name>_1`, right `<name>_2`. Both inputs must contain `key` and
    * `tsCol` (timestamp). `salt` > 1 spreads a hot (key, Δ-bucket) pair
    * over that many tasks (see the class note). */
  def pairsWithin(df: DataFrame, key: String, tsCol: String,
                  deltaUs: Long, payload: Seq[String],
                  salt: Int = 1): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val cols = (Seq(key, tsCol) ++ payload).distinct
    val base = df.select(cols.map(col): _*)
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__bucket", expr(s"__us DIV ${deltaUs}L"))

    def side(n: Int): DataFrame = cols.filterNot(_ == key)
      .foldLeft(base)((d, c) => d.withColumnRenamed(c, s"${c}_$n"))
      .withColumnRenamed("__us", s"__us_$n")

    // the later row probes its own bucket and the previous one
    val right0 = side(2).withColumn("__bucket",
      explode(array(col("__bucket"), col("__bucket") - 1)))
    val left0 = side(1)
    val joinKeys = if (salt <= 1) Seq(key, "__bucket")
                   else Seq(key, "__bucket", "__salt")
    // the un-exploded (left) side takes the deterministic content salt;
    // the bucket-exploded right side replicates over every salt value
    val left = if (salt <= 1) left0
               else pinSalted(
                 left0.withColumn("__salt", contentSalt(left0, salt)),
                 joinKeys, salt)
    val right = if (salt <= 1) right0
                else pinSalted(
                  right0.withColumn("__salt", allSalts(salt)),
                  joinKeys, salt)

    left.join(right, joinKeys)
      .where(col("__us_1") < col("__us_2") &&
        col("__us_2") - col("__us_1") < deltaUs)
      .drop(joinKeys.filterNot(_ == key): _*).drop("__us_1", "__us_2")
  }
}
