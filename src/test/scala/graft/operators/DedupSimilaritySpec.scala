package graft.operators

import graft.{SparkTestSession, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n")).toMap
    assert(g == Map(1L -> 2L, 3L -> 1L))
  }

  test("ngram jaccard finds the planted near-duplicate only") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base),
      (2L, base + " tail"),          // near-dup of 1
      (3L, "completely different content with other words entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(df, "doc_id", "text", k = 5,
      maxDf = 100, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("prefix-filter jaccard join ≡ brute-force exact join (no false " +
      "negatives, sf0.001 docs)") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // brute force over the SAME token sets: all pairs, exact jaccard
    val toks = docs.select(col("doc_id").as("id"), array_distinct(
        graft.functions.TextExpressions.tokenNgrams(col("text"), 3)).as("t"))
      .where(size(col("t")) > 0).cache()
    val a = toks.select(col("id").as("id1"), col("t").as("ta"))
    val b = toks.select(col("id").as("id2"), col("t").as("tb"))
    val brute = a.crossJoin(b).where(col("id1") < col("id2"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("j", round(col("i").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("i")), 6))
      .where(col("j") >= 0.6)
      .select(col("id1"), col("id2"), col("j"))
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.jaccardPrefixJoin(docs, "doc_id", "text",
        threshold = 0.6, ngram = 3)
      .as[(Long, Long, Double)].collect().toSet
    toks.unpersist()
    assert(pref == brute, s"prefix=${pref.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture should contain >=1 near-dup pair")
  }

  test("prefix-filter candidates stay sub-quadratic on near-dup-free docs") {
    // docs with pairwise-disjoint vocabularies: zero candidates at all
    val df = (1L to 40L)
      .map(i => (i, (0 until 20).map(w => s"w${i}_$w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.jaccardPrefixJoin(df, "doc_id", "text",
      threshold = 0.6, ngram = 1)
    assert(out.count() == 0L)
  }

  test("ngram containment catches a sub-document the jaccard misses") {
    val short = "the quick brown fox jumps over the lazy dog"
    val long = short + " and then continues with a much longer tail of " +
      "completely unrelated narrative content that dilutes the union " +
      "far enough that symmetric jaccard cannot see the containment"
    val df = Seq((1L, short), (2L, long),
      (3L, "entirely different words everywhere here")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainment(df, "doc_id", "text", k = 5,
      maxDf = 100, threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(cont == Set((1L, 2L))) // short doc fully inside the long one
    val jac = Dedup.ngramJaccard(df, "doc_id", "text", k = 5,
      maxDf = 100, threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(jac.isEmpty) // the union dilution hides it from jaccard
  }

  test("containment >= jaccard pair-for-pair on the real corpus") {
    val docs = Tables.documents(spark, sf)
    val jac = Dedup.ngramJaccard(docs, "doc_id", "text", 8, 100, 0.0)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val cont = Dedup.ngramContainment(docs, "doc_id", "text", 8, 100, 0.0)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(jac.keySet == cont.keySet)
    jac.foreach { case (p, j) =>
      assert(cont(p) >= j, s"pair $p containment ${cont(p)} < jaccard $j") }
  }

  test("minhash LSH candidates cover high-jaccard pairs (sf0.001 docs)") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", k = 8,
      maxDf = 100, threshold = 0.6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text", k = 8,
      bands = 4, rowsPerBand = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dups")
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} pairs")
  }

  test("simhash: identical text -> distance 0, near text -> small distance") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta"),
      (4L, "totally unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, "doc_id", "text")
    val m = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <
      java.lang.Long.bitCount(m(1L) ^ m(4L)))
  }

  test("incremental dedup ≡ full-corpus dedup restricted to delta-touching pairs") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) < 8)
    val delta = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    // LSH candidates: full run, restricted to pairs touching the delta —
    // ordered-pair equality (both producers guarantee id1 < id2)
    val full = Dedup.minhashLshCandidates(docs, "doc_id", "text", 8, 4, 3)
      .as[(Long, Long)].collect().toSet
      .filter(p => deltaIds(p._1) || deltaIds(p._2))
    val incr = Dedup.incrementalLshCandidates(corpus, delta, "doc_id", "text", 8, 4, 3)
      .as[(Long, Long)].collect().toSet
    assert(incr == full)
    // the single-pass flagged variant is the same operator
    val flagged = Dedup.incrementalLshCandidatesFlagged(docs,
        pmod(col("doc_id"), lit(10)) >= 8, "doc_id", "text", 8, 4, 3)
      .as[(Long, Long)].collect().toSet
    assert(flagged == full)
    // exact: a delta doc whose text already exists in the corpus is dropped
    val incrExact = Dedup.incrementalExact(corpus, delta, "doc_id", "text")
    val knownH = corpus.select(md5(col("text").cast("binary")).as("h"))
      .distinct().as[String].collect().toSet
    val got = incrExact.as[(String, Long)].collect()
    assert(got.forall { case (h, _) => !knownH(h) })
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("banded simhash pairs ≡ all-pairs crossJoin (pigeonhole exactness)") {
    val docs = Tables.documents(spark, sf)
    val sig60 = Dedup.simhash(docs, "doc_id", "text", bits = 60)
    // pin the optimizer rule OFF so the baseline really is the
    // cartesian, not HammingJoinRewrite's banding of it
    spark.conf.set(graft.plans.HammingJoinRewrite.ConfKey, "false")
    val exact = try Dedup.simhashPairs(sig60, "doc_id", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    finally spark.conf.unset(graft.plans.HammingJoinRewrite.ConfKey)
    val banded = Dedup.simhashPairsBanded(sig60, "doc_id", maxDist = 3, bits = 60)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == exact)
    assert(exact.nonEmpty, "fixture must exercise the operator")
  }

  /** `planes`-bit random-hyperplane bucket key for hash table `table`,
    * one dot product per plane: the composable formulation the fused
    * `lshBucketsNative` expression (which `lshTopK` uses) must match. */
  private def lshBucket(vec: Column, dim: Int, planes: Int,
                        table: Int): Column =
    (0 until planes).map { j =>
      val signs = array((0 until dim).map(d =>
        lit(Similarity.planeSign(table * planes + j, d))): _*)
      when(Similarity.dot(vec, signs) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  test("fused LshBuckets expression matches the per-plane formulation") {
    val emb = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val tables = 3; val planes = 5
    val unfused = emb.select(col("vec_id"), array((0 until tables).map(t =>
      lshBucket(col("v"), 64, planes, t)): _*).as("keys"))
    val fused = emb.select(col("vec_id"),
      graft.functions.VectorExpressions
        .lshBucketsNative(col("v"), 64, planes, tables).as("keys"))
    val a = unfused.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = fused.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
  }

  test("LshProbes: base bucket first, each perturbation flips exactly one distinct bit") {
    val emb = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val tables = 4; val planes = 6; val flips = 3
    val rows = emb.select(
        graft.functions.VectorExpressions.lshBucketsNative(col("v"), 64, planes, tables).as("base"),
        graft.functions.VectorExpressions.lshProbesNative(col("v"), 64, planes, tables, flips).as("probes"))
      .collect()
    for (r <- rows) {
      val base = r.getSeq[Long](0); val probes = r.getSeq[Long](1)
      assert(probes.size == tables * (flips + 1))
      for (t <- 0 until tables) {
        val group = probes.slice(t * (flips + 1), (t + 1) * (flips + 1))
        assert(group.head == base(t), "probe group must start with the base bucket")
        val flipped = group.tail.map(_ ^ base(t))
        assert(flipped.forall(f => java.lang.Long.bitCount(f) == 1),
          "each perturbation flips exactly one plane")
        assert(flipped.distinct.size == flips, "perturbed planes are distinct")
      }
    }
  }

  test("lshTopKAuto sizes planes from the corpus and keeps recall") {
    val emb = Tables.embeddings(spark, sf) // n=500 -> planes = ceil(log2(500/16)) = 5
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", k = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val auto = Similarity.lshTopKAuto(emb, "vec_id", "embedding", dim = 64, k = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = exact.count(auto.contains).toDouble / exact.size
    assert(recall >= 0.8, s"auto-sized LSH recall $recall")
  }

  test("LSH ANN recall >= 0.9 vs brute force (sf0.1, q34 parameters)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", k = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
      dim = 64, planes = 7, tables = 20, k = 5, multiprobe = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // deterministic (md5 planes, fixed corpus): 0.956 measured at sf0.1,
    // 0.917 at sf0.01; the frontier scan behind the choice is in SCALING.md
    assert(recall >= 0.9, s"7x20 margin-multiprobe LSH recall $recall")
    assert(approx.size <= exact.size)
  }

  test("blocked exact top-k ≡ crossJoin exact top-k, row for row") {
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
    val reference = rows(Similarity.cosineTopK(emb, "vec_id", "embedding", k = 5))
    // blocks = 7: does not divide n, exercises uneven block sizes
    val blocked = rows(Similarity.cosineTopKBlocked(emb, "vec_id", "embedding",
      k = 5, blocks = 7))
    assert(reference.nonEmpty)
    assert(blocked == reference)
  }

  test("blocked near-dup ≡ crossJoin near-dup, each pair exactly once") {
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSeq
    val reference = rows(Similarity.cosineNearDup(emb, "vec_id", "embedding",
      threshold = 0.4))
    val blocked = rows(Similarity.cosineNearDupBlocked(emb, "vec_id", "embedding",
      threshold = 0.4, blocks = 7))
    assert(reference.nonEmpty)
    // Seq (not Set) comparison after sort: catches double-emitted pairs
    assert(blocked.sorted == reference.sorted)
  }

  test("hardNegatives: best different-label neighbour, labels excluded exactly") {
    // two tight clusters on orthogonal axes + one mixed-label outlier
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.1f, 0.9f, 0.0f), 1),
      (5L, Array(0.7f, 0.7f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(vecs, vecs, "vec_id", "embedding", "label")
      .as[(Long, Int, Long, Int, Double)] // id_a, label_a, id_b, label_b, sim
      .collect().map(r => r._1 -> r).toMap
    // every anchor's hardest negative is the 45° outlier 5 (label 2),
    // except 5 itself whose nearest other-label vec is a cluster member
    assert(got(1L)._3 == 5L && got(1L)._4 == 2)
    assert(got(2L)._3 == 5L)
    assert(got(3L)._3 == 5L)
    assert(got(4L)._3 == 5L)
    assert(got(5L)._4 != 2) // own label can never be the negative
    assert(got.size == 5)
  }

  test("hardNegatives ≡ window-ranked brute force on the real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val anchors = emb.where(pmod(col("vec_id"), lit(13)) === 0)
    val got = Similarity.hardNegatives(emb, anchors, "vec_id", "embedding", "label")
    val v = emb.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"), col("label"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = v.where(pmod(col("id"), lit(13)) === 0)
      .select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"), col("label").as("label_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("label").as("label_b"))
    val want = a.crossJoin(b).where(col("label_a") =!= col("label_b"))
      .withColumn("cosine",
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id_a"))
          .orderBy(col("cosine").desc, col("id_b"))))
      .where(col("rnk") === 1)
      .select(col("id_a"), col("label_a"), col("id_b"), col("label_b"),
        round(col("cosine"), 6).as("sim"))
    assert(got.select("id_a", "label_a", "id_b", "label_b", "sim")
      .exceptAll(want).isEmpty &&
      want.exceptAll(got.select("id_a", "label_a", "id_b", "label_b", "sim"))
        .isEmpty)
  }

  test("retrieveTopK ≡ window-ranked brute force over the query×corpus pairs") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.where(pmod(col("vec_id"), lit(50)) === 0)
    val c = emb.where(pmod(col("vec_id"), lit(50)) =!= 0)
    val got = Similarity.retrieveTopK(c, q, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    // independent formulation: full pair list + window rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cosine").desc, col("id_b"))
    def side(df: org.apache.spark.sql.DataFrame, p: String) = df
      .select(col("vec_id").as(s"id_$p"),
        transform(col("embedding"), x => x.cast("double")).as(s"v$p"))
      .withColumn(s"n$p", sqrt(Similarity.dot(col(s"v$p"), col(s"v$p"))))
    val want = side(q, "a").crossJoin(side(c, "b"))
      .withColumn("cosine",
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("sim"),
        col("rnk"))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("cdcChunks: chunks tile the document exactly, short docs = 1 chunk") {
    val text = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 4
    val df = Seq((1L, text), (2L, "tiny")).toDF("doc_id", "text")
    val got = Dedup.cdcChunks(df, "doc_id", "text")
      .as[(Long, Int, Int, Int, String)].collect()
    // per doc: chunks are contiguous, start at 1, end at length(text)
    for ((id, t) <- Seq(1L -> text, 2L -> "tiny")) {
      val cs = got.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 1)
      assert(cs.map(c => (c._3, c._4)).sliding(2).forall {
        case Array((s1, l1), (s2, _)) => s2 == s1 + l1
        case _ => true
      })
      assert(cs.last._3 + cs.last._4 - 1 == t.length)
      // md5 really is the chunk's md5
      val c0 = cs.head
      assert(c0._5 == org.apache.commons.codec.digest.DigestUtils
        .md5Hex(t.substring(c0._3 - 1, c0._3 - 1 + c0._4)))
    }
    // a doc shorter than the window is one whole-document chunk
    assert(got.count(_._1 == 2L) == 1 && got.find(_._1 == 2L).get._4 == 4)
  }

  test("cdcChunks: boundaries are content-anchored — an early insertion " +
    "leaves later chunks' hashes intact") {
    val base = ("the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the warm windowsill in the afternoon sun ") * 5
    val edited = base.substring(0, 10) + "INSERTED BYTES " + base.substring(10)
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(df, "doc_id", "text")
      .as[(Long, Int, Int, Int, String)].collect()
    val h1 = chunks.filter(_._1 == 1L).map(_._5).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._5).toSet
    assert(h1.size >= 4, s"want a multi-chunk doc, got ${h1.size} chunks")
    // only the chunk containing the insertion (plus at most the chunk
    // whose leading gram window overlaps it) may change
    val changed = h1.size - (h1 & h2).size
    assert(changed <= 2, s"$changed of ${h1.size} chunk hashes changed " +
      "after a front insertion — boundaries are not content-anchored")
    // fixed-offset chunking for contrast WOULD shift everything: verify
    // most hashes survived, not just a couple
    assert((h1 & h2).size >= h1.size - 2)
  }

  test("chunkContainment: exact-refetch = 1.0, novel doc = 0.0") {
    val shared = ("shared content that appears in both corpora verbatim " +
      "and is long enough to split into several chunks of text ") * 4
    val corpus = Dedup.cdcChunks(
      Seq((1L, shared)).toDF("doc_id", "text"), "doc_id", "text")
    val batch = Dedup.cdcChunks(
      Seq((10L, shared),                       // exact refetch
          (11L, "totally novel words here"))   // nothing shared
        .toDF("doc_id", "text"), "doc_id", "text")
    val got = Dedup.chunkContainment(batch, corpus, "doc_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(10L)._4 == 1.0 && got(10L)._2 == got(10L)._3)
    assert(got(11L)._4 == 0.0 && got(11L)._3 == 0L)
  }

  test("chunkContainmentSplit equals the two-input join form") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val isBatch = pmod(col("doc_id"), lit(10)) >= 8
    val joinForm = Dedup.chunkContainment(
        Dedup.cdcChunks(docs.where(isBatch), "doc_id", "text"),
        Dedup.cdcChunks(docs.where(!isBatch), "doc_id", "text"), "doc_id")
      .as[(Long, Long, Long, Double)].collect().toSet
    val splitForm = Dedup.chunkContainmentSplit(docs, "doc_id", "text", isBatch)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(splitForm == joinForm)
    assert(splitForm.nonEmpty)
  }

  test("matryoshkaRetention: prefix norm fractions, monotone in k") {
    val emb = Seq(
      (1L, Array(3.0f, 0.0f, 4.0f, 0.0f)),  // |(3,0)|/|(3,0,4,0)| = 3/5
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))  // zero vector → NULL
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRetention(emb, "vec_id", "embedding",
        ks = Seq(2, 4))
      .as[(Long, Int, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2)).contains(0.6) && got((1L, 4)).contains(1.0))
    assert(got((2L, 2)).isEmpty && got((2L, 4)).isEmpty)
    // retention is monotone nondecreasing in k for every vector
    val rnd = (1 to 20).map(i => (i.toLong,
      Array.tabulate(8)(j => ((i * 31 + j * 17) % 13 - 6).toFloat)))
    val r2 = Similarity.matryoshkaRetention(
        rnd.toDF("vec_id", "embedding"), "vec_id", "embedding", Seq(2, 4, 8))
      .as[(Long, Int, Option[Double])].collect()
      .groupBy(_._1).values
    assert(r2.forall { rows =>
      val byK = rows.sortBy(_._2).flatMap(_._3)
      byK.isEmpty || byK.sameElements(byK.sorted)
    })
  }
}
