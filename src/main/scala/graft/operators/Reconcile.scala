package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot reconciliation (anti-entropy) at warehouse scale: decide
  * WHERE two copies of a table differ without moving either copy.
  *
  * The 100 TB shape: each side reduces to `nBuckets` fingerprint rows —
  * a count and an order-independent XOR of per-row hashes per key
  * bucket — and only those fingerprints travel. Equal fingerprints
  * prove (to md5 collision odds) the buckets match; the drill-down then
  * joins ROWS only inside the mismatched buckets, so the data moved is
  * proportional to the drift, not the table. This is the standard
  * Merkle-style reconciliation used by replicated stores, expressed as
  * two Spark aggregations.
  *
  * Everything is engine-independent on purpose (the q160/q34
  * treatment): the row hash is the first 15 hex chars of md5 over a
  * '|'-joined canonical string rendering, read as a base-16 BIGINT
  * (60 bits, sign-safe), and the bucket aggregate is `bit_xor` —
  * exact, commutative, shuffle-order-proof — so a DuckDB replay
  * matches bit-for-bit. Callers pick the rendered columns; render
  * doubles as DECIMAL strings (engines disagree on float-to-string
  * notation, e.g. 1.0E7 vs 10000000.0).
  *
  * A row duplicated an EVEN number of times XORs to no-op; the count
  * column catches exactly that case, which is why the fingerprint is
  * the (n, fp) pair and not fp alone.
  */
object Reconcile {

  /** 60-bit row hash of the canonical rendering of `cols` (each already
    * a string-safe Column — see class doc on doubles). */
  def rowHash(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
      .cast("long")

  /** Per-bucket fingerprints: (bucket, n, fp). `bucketKey` should be a
    * stable row key (bucket = pmod(key, nBuckets)), so a changed row
    * stays in its bucket and the diff localizes. One map-side-combined
    * aggregation; output is nBuckets rows regardless of input size. */
  def fingerprint(df: DataFrame, bucketKey: Column, cols: Seq[Column],
                  nBuckets: Int): DataFrame =
    df.select(pmod(bucketKey, lit(nBuckets)).cast("int").as("bucket"),
        rowHash(cols).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"))

  /** Mismatched buckets given the two sides' already-computed
    * fingerprints — the MAINTAINED-state entry point: when fingerprints
    * are kept current (a periodic job, or
    * [[graft.streaming.Streams.fingerprintStream]]'s state), a replica
    * comparison costs exactly this — 2 × nBuckets rows, ZERO scans of
    * either snapshot. */
  def diffFingerprints(fa: DataFrame, fb: DataFrame): DataFrame =
    fa.select(col("bucket"), col("n").as("n_a"), col("fp").as("fp_a"))
      .join(fb.select(col("bucket"), col("n").as("n_b"),
        col("fp").as("fp_b")), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("fp_a"), col("fp_b"))
      .where(not(col("n_a") === col("n_b") && col("fp_a") <=> col("fp_b")))

  /** Buckets where two snapshots disagree, with both sides' counts
    * (coalesced to 0 for buckets one side lacks entirely). Shuffle =
    * 2 × nBuckets fingerprint rows — nothing else moves. */
  def diffBuckets(a: DataFrame, b: DataFrame, bucketKey: Column,
                  cols: Seq[Column], nBuckets: Int): DataFrame =
    diffFingerprints(fingerprint(a, bucketKey, cols, nBuckets),
      fingerprint(b, bucketKey, cols, nBuckets))

  /** Drill-down inside mismatched buckets only: the changed row KEYS,
    * labelled 'A' (present/changed on the a-side) or 'B'. A modified
    * row appears twice — its old hash only in A, its new hash only in
    * B; an insert/delete appears once. Each side is filtered to the
    * mismatched buckets BEFORE the row-level anti-join (semi join on
    * the tiny bucket list), so row movement is proportional to drift —
    * the property that makes this viable when the snapshots are 100 TB
    * and the drift is megabytes.
    *
    * Pass `badBuckets` when the mismatched-bucket list is already known
    * (from [[diffFingerprints]] over maintained state) to skip the two
    * fingerprint scans entirely.
    *
    * The bucket list and both filtered row sets are eagerly
    * materialized: each is consumed by BOTH anti-joins (and the bucket
    * list by both semi-joins), and without pinning, Spark re-derives
    * them per consumer — measured 19.5 s → 6.9 s at 4.8M rows
    * (SCALING.md, "Reconciliation: ship fingerprints, not rows").
    * Bounded by the dirty-bucket row count, i.e. drift-proportional in
    * the sized-right regime; the blocks are
    * persistent RDDs, so long-lived applications release them via the
    * same hygiene the bench applies (see SCALING.md). */
  def drillDown(a: DataFrame, b: DataFrame, bucketKey: Column,
                keyCol: String, cols: Seq[Column], nBuckets: Int,
                badBuckets: Option[DataFrame] = None): DataFrame = {
    val bad = badBuckets.getOrElse(
        diffBuckets(a, b, bucketKey, cols, nBuckets))
      .select("bucket").localCheckpoint(true)
    def rows(df: DataFrame) =
      df.select(col(keyCol).as("key"),
          pmod(bucketKey, lit(nBuckets)).cast("int").as("bucket"),
          rowHash(cols).as("h"))
        .join(bad, Seq("bucket"), "left_semi")
        .localCheckpoint(true)
    val ra = rows(a)
    val rb = rows(b)
    ra.join(rb, Seq("bucket", "key", "h"), "left_anti")
      .select(col("key"), lit("A").as("side"))
      .unionByName(
        rb.join(ra, Seq("bucket", "key", "h"), "left_anti")
          .select(col("key"), lit("B").as("side")))
  }
}
