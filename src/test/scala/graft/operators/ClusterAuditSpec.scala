package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The over-merge audit against its own target input: a generated
  * chained mega-cluster (every doc one transitive-closure component,
  * weakest pair Jaccard 0) and a ubiquitous hot shingle. Asserts the
  * audit DETECTS the over-merge and that the member cap makes the
  * within-cluster pairing volume a constant — independent of cluster
  * size — which is the structural sub-quadratic bound (the uncapped
  * form pairs n²/2 members on exactly this input; SCALING.md's
  * "mega-cluster" entry records the wall-time gap). */
class ClusterAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("mega-cluster flagged; member cap keeps pairing flat under 2× growth") {
    val small = ClusterAuditSpec.chainCorpus(spark, 120)
    val audit = Dedup.clusterOverMergeAudit(small, "doc_id", "text",
      k = 8, maxDf = 100, threshold = 0.3, memberCap = 16).collect()
    assert(audit.length == 1, s"expected one mega-cluster, got ${audit.length}")
    val r = audit(0)
    assert(r.getAs[Long]("cluster") == 0L)
    // capped membership = 16 lowest doc_ids → exactly C(16,2) pairs
    assert(r.getAs[Long]("n_pairs") == 16L * 15 / 2)
    // docs 0 and 15 share no blocks: the weakest audited pair scores 0,
    // far below the 0.3 link threshold → over-merge detected
    assert(r.getAs[Long]("min_jaccard_micro") == 0L)
    assert(r.getAs[Long]("over_merged") == 1L)
    assert(r.getAs[Long]("weak_pairs") >= 1L)

    // structural flatness: DOUBLING the cluster leaves the audited pair
    // count identical — the cap is a bound in the plan, not an
    // empirical observation about cluster sizes
    val big = ClusterAuditSpec.chainCorpus(spark, 240)
    val audit2 = Dedup.clusterOverMergeAudit(big, "doc_id", "text",
      k = 8, maxDf = 100, threshold = 0.3, memberCap = 16).collect()
    assert(audit2.length == 1)
    assert(audit2(0).getAs[Long]("n_pairs") == 16L * 15 / 2)
    assert(audit2(0).getAs[Long]("over_merged") == 1L)
  }

  test("hot shingle: the df-cap drops the ubiquitous family, chain pairs survive") {
    val corpus = ClusterAuditSpec.chainCorpus(spark, 120,
      hotSuffix = Some(" zzz common zzz"))
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text",
      k = 8, maxDf = 100, threshold = 0.3)
    // every adjacent pair qualifies via block shingles (J ≈ 0.58); the
    // suffix's df=120 shingles are dropped by maxDf=100 and add nothing
    assert(pairs.where("id2 = id1 + 1").count() == 119)
    // no pair is driven by the suffix alone: docs ≥3 apart share only
    // the suffix, and they must NOT pair
    assert(pairs.where("id2 - id1 >= 3").count() == 0)
  }

  test("hashed-index trade certified: zero 64-bit shingle collisions on the oracle corpora") {
    // The audit's hashed rare-shingle sets equal the q313 oracle's
    // STRING-side computation exactly iff the corpus has no 64-bit
    // shingle-hash collisions. Certify that for the corpora the oracle
    // actually runs on (sf0.01 is the driver's correctness SF) and for
    // the adversarial chain corpus the scale specs use.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    assert(Dedup.shingleHashCollisions(docs, "text", k = 8) == 0L)
    val chain = ClusterAuditSpec.chainCorpus(spark, 4800)
    assert(Dedup.shingleHashCollisions(chain, "text", k = 8) == 0L)
    // the POSITIVE path: a genuine xxhash64 collision cannot be
    // planted, so drive the underlying aggregation with crafted
    // (s, xh) pairs — two distinct strings under one hash count as 2
    // colliding strings, duplicates of one (s, xh) pair count as 0
    import spark.implicits._
    assert(Dedup.hashCollisionsIn(
      Seq(("alpha", 7L), ("beta", 7L), ("gamma", 9L)).toDF("s", "xh")) == 2L)
    assert(Dedup.hashCollisionsIn(
      Seq(("alpha", 7L), ("alpha", 7L)).toDF("s", "xh")) == 0L)
    assert(Dedup.hashCollisionsIn(
      Seq(("a", 1L), ("b", 1L), ("c", 1L), ("d", 2L), ("e", 2L))
        .toDF("s", "xh")) == 5L)
  }
}

object ClusterAuditSpec {

  /** Adversarial near-dup CHAIN corpus: doc i = 4 consecutive 100-char
    * blocks (i..i+3), so adjacent docs share 3 of 4 blocks (Jaccard
    * ≈ 0.59 on 8-gram shingles), docs 2 apart ≈ 0.33, 3+ apart ≈ 0.13
    * — a 0.3-threshold transitive closure chains ALL docs into one
    * mega-cluster whose weakest pair scores 0, while every block
    * shingle's document frequency stays ≤ 4 (the chain defeats the
    * df-cap, not the audit — that is the point). `hotSuffix` appends
    * the same literal to every doc: a ubiquitous shingle family with
    * df = corpus size that the df-capped index must drop. Blocks are
    * md5-derived, so the corpus is deterministic at any size. */
  def chainCorpus(spark: SparkSession, nChain: Int,
                  hotSuffix: Option[String] = None): DataFrame = {
    def block(j: Column): Column = substring(concat(
      (0 until 4).map(r =>
        md5((j * 4 + lit(r)).cast("string").cast("binary"))): _*), 1, 100)
    val base = spark.range(nChain).select(
      col("id").as("doc_id"),
      concat((0 until 4).map(o => block(col("id") + lit(o))): _*).as("text"))
    hotSuffix.fold(base)(s =>
      base.withColumn("text", concat(col("text"), lit(s))))
  }
}
