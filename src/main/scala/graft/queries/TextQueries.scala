package graft.queries

import graft.Tables
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication operators over the documents table,
  * with DuckDB oracle twins. All hashing is md5-based so the oracle
  * replays signatures exactly (DuckDB `hash()` is not portable).
  *
  * DuckDB dialect notes baked into the oracles:
  *  - `regexp_replace(..., 'g')` — DuckDB replaces only the first match
  *    without the flag (Spark always replaces all);
  *  - k-gram explode via `unnest(range(...))` (no lateral table range);
  *  - hex→int via `('0x' || h)::BIGINT` ⇔ Spark `conv(h, 16, 10)`.
  */
object TextQueries {

  private val NormSql =
    "(' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ')"

  private def hitsSql(w: String): String = {
    val needle = s" $w "
    s"CAST((length(norm) - length(replace(norm, '$needle', ' '))) // ${needle.length - 1} AS INT)"
  }

  /** Surface statistics (token/punct/digit/upper counts). */
  val q24 = QueryDef.sql("q24_text_stats",
    """SELECT doc_id, length(text) AS n_chars,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE length(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
      |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
      |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
      |FROM documents""")(
    (s, dir) => TextAnalysis.stats(Tables.documents(s, dir), "doc_id", "text"))

  /** Quality scoring: stopword/punctuation/digit ratios. */
  val q25 = {
    val stopwords = TextAnalysis.LangMarkers.flatMap(_._2).distinct
    val stopSql = stopwords.map(hitsSql).mkString(" + ")
    QueryDef.sql("q25_text_quality",
      s"""WITH n AS (SELECT doc_id, text, $NormSql AS norm FROM documents)
         |SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE length(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  round(CAST($stopSql AS DOUBLE)
         |    / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
         |               ELSE length(string_split_regex(trim(text), '\\s+')) END, 1), 6)
         |    AS stopword_ratio,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |    AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         |    AS DOUBLE) / greatest(length(text), 1), 6) AS digit_ratio
         |FROM n""")(
      (s, dir) => TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text"))
  }

  /** (score columns, argmax CASE) SQL for the stopword-profile
    * language ID — shared by q26 and the q175 agreement audit. */
  private def langIdSqlParts: (String, String) = {
    val langs = TextAnalysis.LangMarkers
    val scoreSql = langs.map { case (lang, words) =>
      s"  ${words.map(hitsSql).mkString(" + ")} AS score_$lang"
    }.mkString(",\n")
    val caseSql = langs.indices.map { i =>
      val (lang, _) = langs(i)
      val conds = (s"score_$lang > 0" +:
        langs.drop(i + 1).map { case (l2, _) => s"score_$lang >= score_$l2" })
        .mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    (scoreSql, caseSql)
  }

  /** Stopword-profile language ID with fixed-priority argmax. */
  val q26 = {
    val (scoreSql, caseSql) = langIdSqlParts
    QueryDef.sql("q26_lang_id",
      s"""WITH n AS (SELECT doc_id, $NormSql AS norm FROM documents),
         |s AS (SELECT doc_id,
         |$scoreSql
         |FROM n)
         |SELECT doc_id, score_en, score_de, score_fr, score_es,
         |  CASE $caseSql ELSE 'und' END AS detected_lang
         |FROM s""")(
      (s, dir) => TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text"))
  }

  /** Content fingerprint (md5 of case/whitespace-normalized text). */
  val q27 = QueryDef.sql("q27_fingerprint",
    s"SELECT doc_id, md5($NormSql) AS fingerprint FROM documents")(
    (s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text"))

  /** Exact dedup groups over a corpus with synthetic re-crawled clones
    * (every 5th doc re-appears under a shifted id). */
  val q28 = QueryDef.sql("q28_dedup_exact",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
      |SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
      |FROM corpus GROUP BY md5(text)""")(
    (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(
        d.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exactGroups(corpus, "doc_id", "text")
    })

  /** N-gram (k=8) Jaccard near-dup pairs with stop-shingle removal
    * (df > 100) and threshold 0.3. */
  val q29 = QueryDef.sql("q29_ngram_jaccard",
    """WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
      |        FROM documents)),
      |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 100),
      |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY a.doc_id, b.doc_id)
      |SELECT id1, id2,
      |  round(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 6) AS jaccard
      |FROM co JOIN sz s1 ON co.id1 = s1.doc_id JOIN sz s2 ON co.id2 = s2.doc_id
      |WHERE round(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 6) >= 0.3""")(
    (s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text",
      k = 8, maxDf = 100, threshold = 0.3))

  /** MinHash (12 perms) + LSH (4 bands × 3 rows) candidate pairs. */
  val q30 = {
    val bands = 4
    val rpb = 3
    val hashes = (0 until bands * rpb)
      .map(i => s"  min(h1 + $i * h2) AS h$i").mkString(",\n")
    val bucketSelects = (0 until bands).map { b =>
      val parts = (0 until rpb).map(r => s"h${b * rpb + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    QueryDef.sql("q30_minhash_lsh",
      s"""WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
         |  FROM (SELECT doc_id, text,
         |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
         |        FROM documents)),
         |hh AS (SELECT doc_id,
         |         ('0x' || substring(md, 1, 15))::BIGINT AS h1,
         |         ('0x' || substring(md, 17, 15))::BIGINT
         |           % 576460752303423488 AS h2
         |       FROM (SELECT doc_id, md5(s) AS md FROM sh) t),
         |sig AS (SELECT doc_id,
         |$hashes
         |FROM hh GROUP BY doc_id),
         |buckets AS (
         |  $bucketSelects)
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM buckets a JOIN buckets b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""")(
      (s, dir) => Dedup.minhashLshCandidates(Tables.documents(s, dir),
        "doc_id", "text", k = 8, bands = bands, rowsPerBand = rpb))
  }

  /** 16-bit SimHash signature per document. */
  val q31 = {
    val bits = 16
    val ws = (0 until bits)
      .map(j => s"  SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS w$j")
      .mkString(",\n")
    val sig = (0 until bits)
      .map(j => s"(CASE WHEN w$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    QueryDef.sql("q31_simhash",
      s"""WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |    FROM documents) t WHERE length(tok) > 0),
         |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h
         |      FROM toks),
         |w AS (SELECT doc_id,
         |$ws
         |FROM h GROUP BY doc_id)
         |SELECT doc_id, $sig AS simhash FROM w""")(
      (s, dir) => Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", bits))
  }

  /** Banded SimHash near-dup pairs: 60-bit signature split into 4
    * disjoint 15-bit bands; pigeonhole (dist ≤ 3 ⇒ ≥ 1 band equal) makes
    * the bucket join EXACT, so the DuckDB oracle replays it as a plain
    * all-pairs self-join — same rows, but the Spark plan never builds
    * n² pairs (and collapses identical-signature clusters before
    * banding — template corpora are full of them). 60 bits rather than
    * 32 because a narrow simhash saturates on template text: at 32 bits
    * a third of ALL pairs sat within distance 3. */
  val q50 = {
    val bits = 60
    val ws = (0 until bits)
      .map(j => s"  SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS w$j")
      .mkString(",\n")
    val sig = (0 until bits)
      .map(j => s"(CASE WHEN w$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    QueryDef.sql("q50_simhash_banded",
      s"""WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |    FROM documents) t WHERE length(tok) > 0),
         |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
         |      FROM toks),
         |w AS (SELECT doc_id,
         |$ws
         |FROM h GROUP BY doc_id),
         |s AS (SELECT doc_id, $sig AS simhash FROM w)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")(
      (s, dir) => Dedup.simhashPairsBanded(
        Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", bits),
        "doc_id", maxDist = 3, bits = bits))
  }

  /** Near-dup CLUSTERING: the step between pair generation and corpus
    * pruning. Connected components over the verified q29 Jaccard pairs
    * (large-star/small-star — O(log² n) rounds, never
    * diameter-bound; see [[graft.operators.Graph]]), then every doc
    * labelled with its component minimum and whether it is the kept
    * canonical. The oracle replays the fixpoint with a recursive
    * transitive-closure CTE — exact because components are exact. */
  val q56 = QueryDef.sql("q56_dedup_clusters",
    """WITH RECURSIVE
      |sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
      |        FROM documents)),
      |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 100),
      |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT id1, id2
      |  FROM co JOIN sz s1 ON co.id1 = s1.doc_id JOIN sz s2 ON co.id2 = s2.doc_id
      |  WHERE round(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 6) >= 0.3),
      |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
      |          UNION SELECT id2 AS u, id1 AS v FROM pairs),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.id)
      |SELECT id AS doc_id, min(lab) AS cluster, min(lab) = id AS keep
      |FROM reach GROUP BY id""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.dedupClusters(docs, "doc_id",
        Dedup.ngramJaccard(docs, "doc_id", "text",
          k = 8, maxDf = 100, threshold = 0.3), "id1", "id2")
    })

  /** Top-3 characteristic terms per document by linear-idf tf·idf
    * (score = tf·N/df — exact integer products, one IEEE division; the
    * log weight would not replay bit-stably across engines). */
  val q57 = QueryDef.sql("q57_tfidf_topterms",
    """WITH toks AS (SELECT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |    FROM documents) t WHERE length(term) > 0),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |       FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (SELECT tf.doc_id, tf.term,
      |        round(CAST(tf.tf * n.n AS DOUBLE) / df.df, 6) AS score
      |      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      |r AS (SELECT doc_id, term, score,
      |        row_number() OVER (PARTITION BY doc_id
      |                           ORDER BY score DESC, term) AS rnk
      |      FROM s)
      |SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3""")(
    (s, dir) => TextAnalysis.tfidfTopTerms(Tables.documents(s, dir),
      "doc_id", "text", k = 3))

  /** Within-doc repetition metrics (duplicate-token ratio, top-bigram
    * fraction) — the Gopher-style template/spam signals. Exact integer
    * counts + one IEEE division per metric; bigrams expand in-row from
    * the token array (1-indexed list arithmetic on the DuckDB side). */
  val q59 = QueryDef.sql("q59_repetition",
    """WITH tk AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
      |  FROM documents),
      |b AS (SELECT doc_id, toks, len(toks) AS n,
      |        len(list_distinct(toks)) AS d FROM tk),
      |bg AS (SELECT doc_id,
      |        unnest(list_transform(range(1, n),
      |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]))
      |          AS bigram
      |       FROM b WHERE n >= 2),
      |tc AS (SELECT doc_id, max(c) AS topc FROM (
      |         SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
      |       GROUP BY 1)
      |SELECT b.doc_id, n AS n_tokens,
      |  round(CASE WHEN n > 0 THEN CAST(n - d AS DOUBLE) / n
      |        ELSE CAST(0 AS DOUBLE) END, 6) AS dup_token_ratio,
      |  round(CASE WHEN n >= 2 THEN CAST(coalesce(topc, 0) AS DOUBLE) / (n - 1)
      |        ELSE CAST(0 AS DOUBLE) END, 6) AS top_bigram_frac
      |FROM b LEFT JOIN tc ON b.doc_id = tc.doc_id""")(
    (s, dir) => TextAnalysis.repetition(Tables.documents(s, dir),
      "doc_id", "text"))

  /** Incremental exact dedup: fingerprints of the 20% "delta" slice not
    * already present in the 80% "corpus" slice (continuous-ingestion
    * shape — the corpus side is one distinct-set, never re-paired). */
  val q53 = QueryDef.sql("q53_incremental_exact",
    """WITH known AS (SELECT DISTINCT md5(text) AS h
      |              FROM documents WHERE doc_id % 10 < 8),
      |d AS (SELECT doc_id, md5(text) AS h
      |      FROM documents WHERE doc_id % 10 >= 8)
      |SELECT h, min(doc_id) AS keep_id
      |FROM d WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.h = d.h)
      |GROUP BY h""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalExact(
        docs.where(pmod(col("doc_id"), lit(10)) < 8),
        docs.where(pmod(col("doc_id"), lit(10)) >= 8),
        "doc_id", "text")
    })

  /** Incremental MinHash-LSH candidates: delta×corpus ∪ delta×delta
    * near-dup candidates, never corpus×corpus (those were known when
    * the corpus was built). Same 12-perm / 4×3 banding as q30. */
  val q54 = {
    val bands = 4
    val rpb = 3
    val hashes = (0 until bands * rpb)
      .map(i => s"  min(h1 + $i * h2) AS h$i").mkString(",\n")
    val bucketSelects = (0 until bands).map { b =>
      val parts = (0 until rpb).map(r => s"h${b * rpb + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    QueryDef.sql("q54_incremental_lsh",
      s"""WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
         |  FROM (SELECT doc_id, text,
         |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
         |        FROM documents)),
         |hh AS (SELECT doc_id,
         |         ('0x' || substring(md, 1, 15))::BIGINT AS h1,
         |         ('0x' || substring(md, 17, 15))::BIGINT
         |           % 576460752303423488 AS h2
         |       FROM (SELECT doc_id, md5(s) AS md FROM sh) t),
         |sig AS (SELECT doc_id,
         |$hashes
         |FROM hh GROUP BY doc_id),
         |buckets AS (
         |  $bucketSelects),
         |cross_pairs AS (
         |  SELECT least(c.doc_id, d.doc_id) AS id1,
         |         greatest(c.doc_id, d.doc_id) AS id2
         |  FROM buckets c JOIN buckets d
         |    ON c.band = d.band AND c.key = d.key
         |  WHERE c.doc_id % 10 < 8 AND d.doc_id % 10 >= 8),
         |delta_pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 >= 8)
         |SELECT DISTINCT id1, id2 FROM (
         |  SELECT * FROM cross_pairs UNION ALL SELECT * FROM delta_pairs)""")(
      (s, dir) => Dedup.incrementalLshCandidatesFlagged(
        Tables.documents(s, dir), pmod(col("doc_id"), lit(10)) >= 8,
        "doc_id", "text", k = 8, bands = bands, rowsPerBand = rpb))
  }

  /** BPE-ish pre-tokenization count (letter/digit/punct runs). */
  val q44 = QueryDef.sql("q44_bpeish_tokens",
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
      |    AS n_bpeish
      |FROM documents""")(
    (s, dir) => Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish")))

  /** Winnowing rolling-hash fingerprints (k=5, w=4). */
  val q45 = QueryDef.sql("q45_winnowing",
    """WITH grams AS (
      |  SELECT doc_id, i - 1 AS pos, substring(text, i, 5) AS g
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS i
      |        FROM documents)),
      |h AS (SELECT doc_id, pos,
      |        ('0x' || substring(md5(g), 1, 8))::BIGINT AS h FROM grams),
      |m AS (SELECT doc_id, pos,
      |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin,
      |        count(*) OVER (PARTITION BY doc_id) AS n_grams
      |      FROM h)
      |SELECT DISTINCT doc_id, winmin AS fp FROM m WHERE pos <= n_grams - 4""")(
    (s, dir) => TextAnalysis.winnowing(Tables.documents(s, dir),
      "doc_id", "text", k = 5, w = 4))

  /** Fuzzy matching with blocking: candidate pairs share a blocking key
    * (p_brand) and are kept when edit distance ≤ 3 — the classic
    * record-linkage shape (blocking bounds the pair space; Levenshtein
    * is exact on both engines). */
  val q49 = QueryDef.sql("q49_fuzzy_match",
    """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      |  AND substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
      |  AND a.p_partkey < b.p_partkey
      |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
      |WHERE levenshtein(a.p_name, b.p_name) <= 3""")(
    (s, dir) => {
      // the linkage FRONT DOOR (VERDICT r13 #6): one count-then-dial
      // entry point probes the distinct-value ratio and picks the
      // stance. p_name SATURATES (distinct (brand, initial, name)
      // stops at ~1.6k while rows grow 10×/decade), so at bench scale
      // this takes the distinct-value collapse — DP once per distinct
      // value pair, salted output-proportional expansion
      // (Linkage.editJoinByDistinct; VERDICT r12 #1 rationale in its
      // scaladoc) — while small SFs, where the ratio is still ~1, take
      // the PassJoin filter. Both branches are exact, so THIS oracle
      // hash-checks whichever branch the dial picks at each SF.
      graft.operators.Linkage.editJoin(
        Tables.part(s, dir)
          .withColumn("initial", substring(col("p_name"), 1, 1)),
        "p_partkey", "p_name", Seq("p_brand", "initial"), maxDist = 3)
    })

  /** q49's shape through the INCREMENTAL COLLAPSE stance
    * ([[graft.operators.Linkage.incrementalEditJoinByDistinct]]),
    * forced explicitly: parts with p_partkey % 3 = 0 are the delta,
    * the rest the corpus; output is every same-block pair at
    * levenshtein ≤ 3 involving a delta member. At the test SFs the
    * auto dial would pick PassJoin (distinct ratio ~1), which is
    * exactly why this query FORCES the collapse — both stances are
    * exact, so the stance choice is a pure plan decision, and this
    * oracle hash-checks the collapsed incremental path the bench
    * decades dial into (ADVICE r14: q342's test-SF oracle never
    * exercised it). */
  val q343 = QueryDef.sql("q343_fuzzy_match_incr",
    """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      |  AND substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
      |  AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |  AND (a.p_partkey % 3 = 0 OR b.p_partkey % 3 = 0)""")(
    (s, dir) => {
      val p = Tables.part(s, dir).withColumn("blk",
        struct(col("p_brand"), substring(col("p_name"), 1, 1).as("initial")))
      graft.operators.Linkage.incrementalEditJoinByDistinct(
        p.where(pmod(col("p_partkey"), lit(3)) =!= 0),
        p.where(pmod(col("p_partkey"), lit(3)) === 0),
        "p_partkey", "p_name", "blk", maxDist = 3)
    })

  /** q49's shape through the collapse stance with the GRID value-pair
    * generator forced (gridDomain = 0): the PassJoin grid runs on the
    * distinct-value DOMAIN instead of the domain² block self-join —
    * the branch the collapse stances take past 65 536 distinct values
    * (VERDICT r14 #4: a saturated-but-large domain, e.g. 10⁶ distinct
    * strings duplicated 100×, must neither pay replication² on
    * row-level grid buckets nor a domain² block join). Same oracle as
    * q49 — the dial can change the cost, never the rows — so the
    * driver hash-checks the grid branch at both SFs. */
  val q344 = QueryDef.sql("q344_fuzzy_match_grid",
    """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      |  AND substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
      |  AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 3""")(
    (s, dir) => graft.operators.Linkage.editJoin(
      Tables.part(s, dir)
        .withColumn("initial", substring(col("p_name"), 1, 1)),
      "p_partkey", "p_name", Seq("p_brand", "initial"), maxDist = 3,
      collapse = Some(true), gridDomain = 0L))

  /** Benchmark decontamination: corpus docs (doc_id % 19 ≠ 0) whose
    * distinct word-3-gram sets overlap the "benchmark" slice
    * (doc_id % 19 = 0) by ≥ 5% — the eval-set leak filter every
    * training pipeline runs. Grams from the fused zero-shuffle
    * TokenNgrams scan; the benchmark gram set broadcasts. */
  val q62 = QueryDef.sql("q62_decontaminate",
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
      |          || ' ' || toks[CAST(i + 2 AS INT)] AS gram
      |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      |            FROM tk WHERE len(toks) >= 3)),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0),
      |docg AS (SELECT doc_id, gram FROM g WHERE doc_id % 19 <> 0),
      |sz AS (SELECT doc_id, count(*) AS n_grams FROM docg GROUP BY 1),
      |h AS (SELECT doc_id, count(*) AS hits
      |      FROM docg JOIN bench USING (gram) GROUP BY 1)
      |SELECT s.doc_id, n_grams, coalesce(hits, 0) AS hits,
      |  round(CAST(coalesce(hits, 0) AS DOUBLE) / n_grams, 6) AS ratio
      |FROM sz s LEFT JOIN h USING (doc_id)
      |WHERE CAST(coalesce(hits, 0) AS DOUBLE) / n_grams >= 0.05::DOUBLE""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminate(
        docs.where(pmod(col("doc_id"), lit(19)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(19)) === 0),
        "doc_id", "text", n = 3, threshold = 0.05)
    })

  /** q62 by the Bloom-prefilter formulation — the scale path when the
    * benchmark gram set outgrows an exact broadcast. Same rows as q62
    * (the Bloom's false positives die in the exact verify join), so it
    * shares q62's oracle: the driver hash proves the sketch+verify
    * pipeline against an engine with no Bloom filter at all. */
  val q66 = QueryDef.sql("q66_decontaminate_bloom",
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
      |          || ' ' || toks[CAST(i + 2 AS INT)] AS gram
      |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      |            FROM tk WHERE len(toks) >= 3)),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0),
      |docg AS (SELECT doc_id, gram FROM g WHERE doc_id % 19 <> 0),
      |sz AS (SELECT doc_id, count(*) AS n_grams FROM docg GROUP BY 1),
      |h AS (SELECT doc_id, count(*) AS hits
      |      FROM docg JOIN bench USING (gram) GROUP BY 1)
      |SELECT s.doc_id, n_grams, coalesce(hits, 0) AS hits,
      |  round(CAST(coalesce(hits, 0) AS DOUBLE) / n_grams, 6) AS ratio
      |FROM sz s LEFT JOIN h USING (doc_id)
      |WHERE CAST(coalesce(hits, 0) AS DOUBLE) / n_grams >= 0.05::DOUBLE""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminateBloom(
        docs.where(pmod(col("doc_id"), lit(19)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(19)) === 0),
        "doc_id", "text", n = 3, threshold = 0.05)
    })

  /** Concat-and-chunk sequence packing: docs in id order within each
    * language cut into 2048-token training sequences. One window per
    * language partition — cumulative sums run partition-parallel. */
  val q63 = QueryDef.sql("q63_pack_chunks",
    """WITH t AS (SELECT lang, doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                    x -> len(x) > 0)) AS n_tok
      |  FROM documents),
      |c AS (SELECT lang, doc_id, n_tok,
      |        sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM t)
      |SELECT lang,
      |  CAST(floor(CAST(cum - n_tok AS DOUBLE) / 2048) AS BIGINT) AS seq_id,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum,
      |  min(doc_id) AS first_doc
      |FROM c GROUP BY 1, 2""")(
    (s, dir) => graft.operators.Split.packChunks(
      Tables.documents(s, dir), "lang", "doc_id",
      expr("size(filter(split(trim(lower(text)), '\\\\s+'), x -> x != ''))"),
      budget = 2048))

  /** Count-min-sketch heavy hitters over every token occurrence:
    * 4×1024 portable counters (md5-halves double hash), estimates for
    * the top-20 tokens by true count. est_c ≥ true_c always; the gap
    * is the sketch's collision error, replayed exactly by the oracle. */
  val q64 = QueryDef.sql("q64_heavy_hitters",
    """WITH tok AS (SELECT unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), t -> len(t) > 0))
      |    AS token FROM documents),
      |c AS (SELECT token, count(*) AS true_c FROM tok GROUP BY token),
      |hh AS (SELECT token, true_c,
      |        ('0x' || substring(md5(token), 1, 15))::BIGINT AS h1,
      |        ('0x' || substring(md5(token), 17, 15))::BIGINT
      |          % 576460752303423488 AS h2
      |       FROM c),
      |r AS (SELECT token, true_c, i, (h1 + i * h2) % 1024 AS bucket
      |      FROM hh, (SELECT unnest(range(4)) AS i)),
      |counters AS (SELECT i, bucket, CAST(sum(true_c) AS BIGINT) AS cnt
      |             FROM r GROUP BY 1, 2),
      |top AS (SELECT token FROM c ORDER BY true_c DESC, token LIMIT 20)
      |SELECT r.token, r.true_c, min(cs.cnt) AS est_c
      |FROM top t
      |JOIN r ON r.token = t.token
      |JOIN counters cs ON cs.i = r.i AND cs.bucket = r.bucket
      |GROUP BY 1, 2""")(
    (s, dir) => {
      // Spread: the tokenize kernel otherwise runs in a few-task scan
      val toks = graft.operators.Spread.scaleOut(
          Tables.documents(s, dir).select("text"))
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      graft.operators.Sketches.heavyHittersCms(toks, "token",
        depth = 4, width = 1024, topK = 20)
    })

  /** Sliding context-window chunking (32-token windows, stride 24):
    * the retrieval/embedding prep twin of q63's training packing. The
    * chunk-count arithmetic (1 + ⌈max(n−W,0)/S⌉, last chunk short but
    * covering) replays exactly; list_slice/slice clip identically. */
  val q71 = QueryDef.sql("q71_chunk_sliding",
    """WITH t AS (SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      |c AS (SELECT doc_id, toks,
      |        CAST(unnest(range(1 + CAST(ceil(
      |          CAST(greatest(n - 32, 0) AS DOUBLE) / 24) AS BIGINT))) AS INT)
      |          AS chunk_id
      |      FROM n)
      |SELECT doc_id, chunk_id,
      |  CAST(len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32))
      |    AS INT) AS chunk_tokens,
      |  array_to_string(
      |    list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
      |    AS chunk_text
      |FROM c""")(
    (s, dir) => graft.operators.Split.slidingChunks(
      Tables.documents(s, dir), "doc_id", "text", window = 32, stride = 24))

  /** The WHOLE curation funnel ([[graft.pipeline.Curation]]) as one
    * driver-checked query: quality gate → exact dedup → Jaccard
    * near-dup components → benchmark decontamination → split labels,
    * every stage replayed by the oracle (assembled from the q25 / q28 /
    * q56 / q62 / q52 oracle machinery — the recursive transitive
    * closure included). A hash match here certifies the COMPOSED
    * pipeline, not just its stages: stage boundaries, filter order,
    * and canonical selection all have to agree with an engine that
    * shares none of the implementation. */
  val q74 = {
    import graft.operators.Split
    val b = Split.hashBucketSql("doc_id", 100)
    QueryDef.sql("q74_curation_funnel",
      s"""WITH RECURSIVE
         |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 19 <> 0),
         |q AS (SELECT doc_id, text FROM corp
         |  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
         |          ELSE length(string_split_regex(trim(text), '\\s+')) END) >= 5
         |    AND round(CAST(length(text)
         |          - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1), 6) <= 0.3::DOUBLE),
         |e AS (SELECT doc_id, text FROM q
         |      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text)),
         |sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 8) AS s
         |  FROM (SELECT doc_id, text,
         |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
         |        FROM e)),
         |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 100),
         |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
         |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
         |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |pairs AS (SELECT id1, id2
         |  FROM co JOIN sz s1 ON co.id1 = s1.doc_id JOIN sz s2 ON co.id2 = s2.doc_id
         |  WHERE round(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 6) >= 0.3),
         |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
         |          UNION SELECT id2 AS u, id1 AS v FROM pairs),
         |reach(id, lab) AS (
         |  SELECT doc_id, doc_id FROM e
         |  UNION
         |  SELECT g.u, r.lab FROM edges g JOIN reach r ON g.v = r.id),
         |nd AS (SELECT id AS doc_id FROM reach GROUP BY id
         |       HAVING min(lab) = id),
         |tk AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                t -> len(t) > 0) AS toks
         |  FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |        toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
         |          || ' ' || toks[CAST(i + 2 AS INT)] AS gram
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
         |            FROM tk WHERE len(toks) >= 3)),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0),
         |docg AS (SELECT doc_id, gram FROM g
         |         WHERE doc_id IN (SELECT doc_id FROM nd)),
         |szg AS (SELECT doc_id, count(*) AS n_grams FROM docg GROUP BY 1),
         |h AS (SELECT doc_id, count(*) AS hits
         |      FROM docg JOIN bench USING (gram) GROUP BY 1),
         |contaminated AS (SELECT s.doc_id FROM szg s LEFT JOIN h USING (doc_id)
         |  WHERE CAST(coalesce(hits, 0) AS DOUBLE) / n_grams >= 0.05::DOUBLE),
         |clean AS (SELECT doc_id FROM nd
         |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
         |SELECT doc_id,
         |  CASE WHEN $b < 98 THEN 'train'
         |       WHEN $b < 99 THEN 'val' ELSE 'test' END AS split
         |FROM clean""")( // no .stripMargin: QueryDef.sql strips internally, and a
      // second strip would eat the leading | of the `|| ' ' ||` continuation line
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.pipeline.Curation.curate(
            docs.where(pmod(col("doc_id"), lit(19)) =!= 0), "doc_id", "text",
            benchmark = Some(docs.where(pmod(col("doc_id"), lit(19)) === 0)
              .select(col("doc_id"), col("text"))))
          .kept.select(col("doc_id"), col("split"))
      })
  }

  /** Corpus-typicality scoring (char-bigram model trained on the corpus
    * itself — the deterministic stand-in for LM-perplexity filtering).
    * Ratio-of-sums keeps every accumulation exact BIGINT; one IEEE
    * division at the end replays bit-for-bit. */
  val q75 = QueryDef.sql("q75_typicality",
    s"""WITH n AS (SELECT doc_id, $NormSql AS norm FROM documents),
       |g AS (SELECT doc_id, substring(norm, CAST(i AS INT), 2) AS g
       |      FROM (SELECT doc_id, norm, unnest(range(1, length(norm))) AS i
       |            FROM n)),
       |c2 AS (SELECT g, count(*) AS c2 FROM g GROUP BY g),
       |c1 AS (SELECT substring(g, 1, 1) AS a, CAST(SUM(c2) AS BIGINT) AS c1
       |       FROM c2 GROUP BY 1),
       |s AS (SELECT doc_id, count(*) AS n_bigrams,
       |        CAST(SUM(c2.c2) AS BIGINT) AS sum_c2,
       |        CAST(SUM(c1.c1) AS BIGINT) AS sum_c1
       |      FROM g JOIN c2 USING (g) JOIN c1 ON substring(g.g, 1, 1) = c1.a
       |      GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, sum_c2, sum_c1,
       |  round(CAST(sum_c2 AS DOUBLE) / CAST(sum_c1 AS DOUBLE), 6) AS typicality
       |FROM s""")(
    (s, dir) => TextAnalysis.typicalityScore(
      Tables.documents(s, dir), "doc_id", "text"))

  /** Contamination provenance (q62 + the audit trail): each flagged doc
    * with its best-overlapping benchmark doc (ties → smallest bench
    * id) and the shared distinct-gram count. */
  val q76 = QueryDef.sql("q76_contamination_report",
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
      |          || ' ' || toks[CAST(i + 2 AS INT)] AS gram
      |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      |            FROM tk WHERE len(toks) >= 3)),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0),
      |docg AS (SELECT doc_id, gram FROM g WHERE doc_id % 19 <> 0),
      |sz AS (SELECT doc_id, count(*) AS n_grams FROM docg GROUP BY 1),
      |h AS (SELECT doc_id, count(*) AS hits
      |      FROM docg JOIN bench USING (gram) GROUP BY 1),
      |flagged AS (SELECT s.doc_id, n_grams, coalesce(hits, 0) AS hits,
      |    round(CAST(coalesce(hits, 0) AS DOUBLE) / n_grams, 6) AS ratio
      |  FROM sz s LEFT JOIN h USING (doc_id)
      |  WHERE CAST(coalesce(hits, 0) AS DOUBLE) / n_grams >= 0.05::DOUBLE),
      |pb AS (SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
      |       FROM docg c
      |       JOIN (SELECT doc_id, gram FROM g WHERE doc_id % 19 = 0) b
      |         USING (gram)
      |       WHERE c.doc_id IN (SELECT doc_id FROM flagged)
      |       GROUP BY 1, 2),
      |best AS (SELECT doc_id, bench_id, shared FROM (
      |  SELECT doc_id, bench_id, shared,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY shared DESC, bench_id) AS rn
      |  FROM pb) t WHERE rn = 1)
      |SELECT f.doc_id, f.n_grams, f.hits, f.ratio, b.bench_id, b.shared
      |FROM flagged f JOIN best b USING (doc_id)""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminationReport(
        docs.where(pmod(col("doc_id"), lit(19)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(19)) === 0),
        "doc_id", "text", n = 3, threshold = 0.05)
    })

  /** Cross-document duplicated SPANS (the signal behind exact-substring
    * dedup à la "Deduplicating Training Data Makes Language Models
    * Better"): winnowing fingerprints — each witnessing a concrete
    * k-gram at a selected position — shared by ≥ 2 documents, with the
    * doc count and an id checksum proving WHICH docs share each span.
    * Scale shape: q45's zero-shuffle per-row fingerprint scan + ONE
    * hash aggregation on the fingerprint; no pair join at all — span
    * dedup at corpus scale is a groupBy, not a self-join. */
  val q77 = QueryDef.sql("q77_shared_spans",
    """WITH grams AS (
      |  SELECT doc_id, i - 1 AS pos, substring(text, i, 5) AS g
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 4, 0) + 1)) AS i
      |        FROM documents)),
      |h AS (SELECT doc_id, pos,
      |        ('0x' || substring(md5(g), 1, 8))::BIGINT AS h FROM grams),
      |m AS (SELECT doc_id, pos,
      |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin,
      |        count(*) OVER (PARTITION BY doc_id) AS n_grams
      |      FROM h),
      |fp AS (SELECT DISTINCT doc_id, winmin AS fp
      |       FROM m WHERE pos <= n_grams - 4)
      |SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc,
      |  CAST(SUM(doc_id) AS BIGINT) AS doc_sum
      |FROM fp GROUP BY fp HAVING count(*) > 1""")(
    (s, dir) => TextAnalysis.winnowing(Tables.documents(s, dir),
        "doc_id", "text", k = 5, w = 4)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        sum(col("doc_id")).as("doc_sum"))
      .where(col("n_docs") > 1))

  /** PII redaction + per-row hit counts
    * ([[graft.operators.TextAnalysis.redactPii]]/piiStats) over a
    * contact-card text derived from `customer` (the synthetic corpus
    * carries no PII, so the query MAKES some: name, derived email,
    * derived phone digits). Patterns live in the RE2 ∩ Java regex
    * subset, so the identical pattern strings run on both engines;
    * pure per-row regexp chain — codegen'd, zero shuffle. */
  val q87 = {
    val em = TextAnalysis.EmailPattern
    val ssn = TextAnalysis.SsnPattern
    val ph = TextAnalysis.PhonePattern
    QueryDef.sql("q87_pii_redact",
      s"""WITH card AS (
         |  SELECT c_custkey,
         |    c_name || ' reach me at user' || CAST(c_custkey AS VARCHAR) ||
         |    '@example.com or +1 555-' ||
         |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '-' ||
         |    lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0') AS txt
         |  FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '$em', '<EMAIL>', 'g'), '$ssn', '<ID>', 'g'),
         |    '$ph', '<PHONE>', 'g') AS redacted,
         |  length(regexp_extract_all(txt, '$em')) AS n_email,
         |  length(regexp_extract_all(txt, '$ssn')) AS n_ssn,
         |  length(regexp_extract_all(txt, '$ph')) AS n_phone
         |FROM card""")(
      (s, dir) => {
        val card = Tables.customer(s, dir).select(col("c_custkey"),
          concat(col("c_name"), lit(" reach me at user"),
            col("c_custkey").cast("string"), lit("@example.com or +1 555-"),
            lpad((col("c_custkey") % 10000).cast("string"), 4, "0"), lit("-"),
            lpad(((col("c_custkey") * 7) % 10000).cast("string"), 4, "0"))
            .as("txt"))
        card.select(col("c_custkey"),
          TextAnalysis.redactPii(col("txt")).as("redacted"),
          size(regexp_extract_all(col("txt"), lit(em), lit(0)))
            .as("n_email"),
          size(regexp_extract_all(col("txt"), lit(ssn), lit(0))).as("n_ssn"),
          size(regexp_extract_all(col("txt"), lit(ph), lit(0))).as("n_phone"))
      })
  }

  /** N-gram CONTAINMENT pairs (c / min set size ≥ 0.5) —
    * [[graft.operators.Dedup.ngramContainment]], the asymmetric
    * sub-document-duplication detector next to q29's symmetric Jaccard;
    * same single-pass inverted-index plan, same oracle machinery with
    * the containment ratio. */
  val q88 = QueryDef.sql("q88_containment",
    """WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
      |        FROM documents)),
      |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 100),
      |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY a.doc_id, b.doc_id)
      |SELECT id1, id2,
      |  round(CAST(c AS DOUBLE) / least(s1.sz, s2.sz), 6) AS containment
      |FROM co JOIN sz s1 ON co.id1 = s1.doc_id JOIN sz s2 ON co.id2 = s2.doc_id
      |WHERE round(CAST(c AS DOUBLE) / least(s1.sz, s2.sz), 6) >= 0.5""")(
    (s, dir) => Dedup.ngramContainment(Tables.documents(s, dir), "doc_id",
      "text", k = 8, maxDf = 100, threshold = 0.5))

  /** Per-domain capping — the web-curation rule "no source contributes
    * more than N documents", with a DETERMINISTIC hash-ordered pick
    * (md5 of the id, id tiebreak) so the cap is reproducible and
    * unbiased by ingestion order. The rank window partitions BY SOURCE
    * — bounded by the largest domain, the exact partition shape window
    * functions are right for (cf. q84/q89 where no partitioning exists
    * and the two-pass prefix form replaces the window). */
  val q92 = QueryDef.sql("q92_domain_cap",
    """WITH r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
      |      AS rk
      |  FROM documents)
      |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 15""")(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          row_number().over(w).cast("long").as("rk"))
        .where(col("rk") <= 15)
    })

  /** Survivorship / canonicalization: one row per normalized-content
    * group, keeping the LONGEST member (doc_id tiebreak) — the
    * "which duplicate do we keep" rule every dedup pipeline needs
    * beyond min-id. One `max_by` aggregation (DuckDB `arg_max`), the
    * selection key packed into a single unique integer so both engines
    * compare identically; no window, no self-join. */
  val q93 = QueryDef.sql("q93_survivorship",
    s"""SELECT md5($NormSql) AS grp,
       |  count(*) AS n,
       |  arg_max(doc_id, n_chars * 10000000 + doc_id) AS keep_id,
       |  max(n_chars * 10000000 + doc_id) // 10000000 AS keep_chars
       |FROM documents GROUP BY 1""")(
    (s, dir) => Tables.documents(s, dir)
      .groupBy(md5(TextAnalysis.normalized(col("text")).cast("binary"))
        .as("grp"))
      .agg(count(lit(1)).as("n"),
        max_by(col("doc_id"),
          col("n_chars") * 10000000L + col("doc_id")).as("keep_id"),
        expr("max(n_chars * 10000000L + doc_id) DIV 10000000L")
          .as("keep_chars")))

  /** Segment-level boilerplate removal
    * ([[graft.operators.Dedup.stripBoilerplateSegments]]) — the
    * line-level dedup pass of web curation (C4's "drop lines seen
    * thrice"), over 10-token segments: segments appearing verbatim in
    * more than 2 distinct documents are stripped everywhere and the
    * survivors reassemble in order. Unlike whole-document dedup this
    * rescues the unique remainder of partially-templated docs. The
    * oracle replays segmentation, the distinct-doc frequency cut and
    * the ordered reassembly string-for-string. */
  val q94 = QueryDef.sql("q94_segment_dedup",
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |base AS (SELECT doc_id, toks,
      |           CAST((len(toks) + 9) // 10 AS BIGINT) AS n_seg FROM tk),
      |seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_no,
      |    array_to_string(list_slice(toks,
      |      CAST(i*10+1 AS BIGINT), CAST(i*10+10 AS BIGINT)), ' ') AS seg
      |  FROM (SELECT doc_id, toks, unnest(range(0, n_seg)) AS i FROM base)),
      |hot AS (SELECT seg
      |        FROM (SELECT seg, count(DISTINCT doc_id) AS df
      |              FROM seg GROUP BY seg)
      |        WHERE df > 2),
      |kept AS (SELECT * FROM seg WHERE seg NOT IN (SELECT seg FROM hot)),
      |ka AS (SELECT doc_id,
      |         string_agg(seg, ' ' ORDER BY seg_no) AS clean_text,
      |         count(*) AS n_kept
      |       FROM kept GROUP BY doc_id)
      |SELECT b.doc_id,
      |  coalesce(ka.clean_text, '') AS clean_text,
      |  b.n_seg AS n_segments,
      |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(b.n_seg - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed
      |FROM base b LEFT JOIN ka USING (doc_id)""")(
    (s, dir) => Dedup.stripBoilerplateSegments(
      Tables.documents(s, dir), "doc_id", "text", segTokens = 10, maxDf = 2))

  /** BPE vocabulary induction ([[graft.operators.Bpe.train]]): three
    * merge rounds over the corpus word-frequency table — canonical
    * greedy left-to-right merging expressed as window algebra
    * (gaps-and-islands parity for equal-symbol runs), so the oracle
    * replays every round relationally with the SAME algebra, unrolled
    * as three CTE stages. Exact integer pair counts, lexicographic
    * tiebreaks; the output is the ordered merge table a BPE tokenizer
    * consumes. */
  // one round of the BPE window algebra, parameterized by the state
  // CTE it reads and the index of the round — shared by q100 (merge
  // induction) and q236 (encoding with the induced merges)
  private def bpeRound(n: Int, in: String): String = {
      s"""p$n AS (SELECT syms[CAST(i AS INT)] AS a,
         |    syms[CAST(i+1 AS INT)] AS b, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM $in)
         |  GROUP BY 1, 2),
         |b$n AS (SELECT a, b, c FROM p$n ORDER BY c DESC, a, b LIMIT 1),
         |e$n AS (SELECT word, cnt, CAST(i AS BIGINT) AS pos,
         |    syms[CAST(i AS INT)] AS sym
         |  FROM (SELECT word, cnt, syms,
         |        unnest(range(1, len(syms)+1)) AS i FROM $in)),
         |c$n AS (SELECT e.*, b.a AS ma, b.b AS mb,
         |    coalesce(sym = b.a AND lead(sym)
         |      OVER (PARTITION BY word ORDER BY pos) = b.b, false) AS cand
         |  FROM e$n e, b$n b),
         |g$n AS (SELECT *, CASE WHEN cand THEN pos - row_number()
         |    OVER (PARTITION BY word, cand ORDER BY pos) END AS grp
         |  FROM c$n),
         |m$n AS (SELECT *, cand AND (row_number()
         |    OVER (PARTITION BY word, grp ORDER BY pos) % 2 = 1) AS merged
         |  FROM g$n),
         |k$n AS (SELECT *, coalesce(lag(merged)
         |    OVER (PARTITION BY word ORDER BY pos), false) AS consumed
         |  FROM m$n),
         |s${n + 1} AS (SELECT word, cnt,
         |    list(CASE WHEN merged THEN ma || mb ELSE sym END
         |         ORDER BY pos) AS syms
         |  FROM k$n WHERE NOT consumed GROUP BY word, cnt)"""
  }

  /** The q100 training CTE chain: word frequencies → 3 unrolled merge
    * rounds, ending with 1-row CTEs b1/b2/b3 (the ordered merges). */
  private val BpeTrainCtes: String =
    s"""w AS (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(list_filter(
       |      string_split_regex(lower(trim(text)), '\\s+'),
       |      t -> len(t) > 0)) AS word FROM documents)
       |  GROUP BY word),
       |s1 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS syms
       |       FROM w),
       |${bpeRound(1, "s1")},
       |${bpeRound(2, "s2")},
       |${bpeRound(3, "s3")}""".stripMargin

  val q100 =
    QueryDef.sql("q100_bpe_merges",
      s"""WITH $BpeTrainCtes
         |SELECT 1 AS round, a AS sym_a, b AS sym_b, a || b AS merged,
         |       c AS pair_count FROM b1
         |UNION ALL SELECT 2, a, b, a || b, c FROM b2
         |UNION ALL SELECT 3, a, b, a || b, c FROM b3""")(
      (s, dir) => graft.operators.Bpe.train(
        s, Tables.documents(s, dir), "text", rounds = 3))

  /** BPE ENCODING — the serving side of q100: apply the induced merge
    * table to every vocabulary word, in rank order. The encoding
    * representation is the word's characters joined by a '\n' sentinel
    * (a character no \s+-split token can contain), so each merge is
    * ONE plain `replace(s, a||sep||b, a||b)` — leftmost non-
    * overlapping replacement reproduces the trainer's odd-position
    * run-pairing exactly (both engines' replace() scan left to right
    * and consume matches), and the sentinel makes mid-piece false
    * matches impossible. Spark side: the 3 merges collect to the
    * driver (the tokenizer ARTIFACT — bounded by rounds, the q221
    * no-model-join stance) and fold into chained codegen'd replace
    * calls; no join touches the vocabulary. Output: every distinct
    * word with its piece count and encoding (sentinel shown as ' '). */
  val q236 = QueryDef.sql("q236_bpe_encode",
    s"""WITH $BpeTrainCtes,
       |vw AS (SELECT DISTINCT word FROM w),
       |e0 AS (SELECT word, array_to_string(
       |    regexp_extract_all(word, '.'), chr(10)) AS s FROM vw),
       |enc1 AS (SELECT word, replace(s, b1.a || chr(10) || b1.b,
       |    b1.a || b1.b) AS s FROM e0, b1),
       |enc2 AS (SELECT word, replace(s, b2.a || chr(10) || b2.b,
       |    b2.a || b2.b) AS s FROM enc1, b2),
       |enc3 AS (SELECT word, replace(s, b3.a || chr(10) || b3.b,
       |    b3.a || b3.b) AS s FROM enc2, b3)
       |SELECT word,
       |  CAST(length(s) - length(replace(s, chr(10), '')) + 1 AS BIGINT)
       |    AS n_pieces,
       |  replace(s, chr(10), ' ') AS encoded
       |FROM enc3""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Bpe.train(s, docs, "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(3)))
      val sep = "\n"
      val words = docs.select(explode(split(lower(trim(col("text"))),
          "\\s+")).as("word"))
        .where(length(col("word")) > 0).distinct()
      val spaced = array_join(
        regexp_extract_all(col("word"), lit("."), lit(0)), sep)
      val encoded = merges.foldLeft(spaced) { case (e, (a, b, m)) =>
        call_function("replace", e, lit(a + sep + b), lit(m))
      }
      words.select(col("word"),
          encoded.as("s"))
        .select(col("word"),
          (length(col("s")) -
            length(call_function("replace", col("s"), lit(sep), lit(""))) +
            1).cast("long").as("n_pieces"),
          call_function("replace", col("s"), lit(sep), lit(" "))
            .as("encoded"))
    })

  /** CMS counter MERGEABILITY certificate (the third of the trio:
    * q107 HLL max-merge, q109 bottom-k select-merge, here sum-merge):
    * per-half CMS counter tables summed element-wise must estimate
    * exactly what the direct whole-corpus sketch does, for the top-20
    * tokens. The oracle replays the q64 hash/bucket machinery over
    * both paths. */
  val q110 = QueryDef.sql("q110_cms_merge",
    """WITH tok AS (SELECT doc_id % 2 AS part,
      |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |           t -> len(t) > 0)) AS token
      |  FROM documents),
      |c AS (SELECT token, count(*) AS true_c FROM tok GROUP BY token),
      |hh AS (SELECT token,
      |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS h1,
      |    ('0x' || substring(md5(token), 17, 15))::BIGINT
      |      % 576460752303423488 AS h2
      |  FROM c),
      |b AS (SELECT token, i, (h1 + i * h2) % 1024 AS bucket
      |      FROM hh, (SELECT unnest(range(4)) AS i)),
      |cd AS (SELECT b.i, b.bucket, CAST(sum(c.true_c) AS BIGINT) AS cnt
      |       FROM b JOIN c ON b.token = c.token GROUP BY 1, 2),
      |cp0 AS (SELECT part, token, count(*) AS pc FROM tok GROUP BY 1, 2),
      |cpart AS (SELECT cp0.part, b.i, b.bucket,
      |    CAST(sum(cp0.pc) AS BIGINT) AS cnt
      |  FROM b JOIN cp0 ON b.token = cp0.token GROUP BY 1, 2, 3),
      |cm AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      |       FROM cpart GROUP BY 1, 2),
      |top AS (SELECT token, true_c FROM c ORDER BY true_c DESC, token
      |        LIMIT 20),
      |ed AS (SELECT t.token, min(cd.cnt) AS est_direct
      |       FROM top t JOIN b ON b.token = t.token
      |       JOIN cd ON cd.i = b.i AND cd.bucket = b.bucket GROUP BY 1),
      |em AS (SELECT t.token, min(cm.cnt) AS est_merged
      |       FROM top t JOIN b ON b.token = t.token
      |       JOIN cm ON cm.i = b.i AND cm.bucket = b.bucket GROUP BY 1)
      |SELECT top.token, top.true_c, est_direct, est_merged
      |FROM top JOIN ed ON top.token = ed.token
      |         JOIN em ON em.token = top.token""")(
    (s, dir) => {
      import graft.operators.Sketches
      def toks(d: org.apache.spark.sql.DataFrame) = d
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val docs = Tables.documents(s, dir)
      val all = toks(docs)
      val direct = Sketches.cmsCounters(all, "token")
      val merged = Sketches.cmsMergeCounters(Seq(0, 1).map(p =>
        Sketches.cmsCounters(
          toks(docs.where(pmod(col("doc_id"), lit(2)) === p)), "token")): _*)
      // cached: the top-20 probe feeds both estimate paths
      val top = all.groupBy(col("token")).agg(count(lit(1)).as("true_c"))
        .orderBy(col("true_c").desc, col("token")).limit(20).cache()
      top
        .join(Sketches.cmsEstimate(direct, top.select("token"), "token")
          .withColumnRenamed("est_c", "est_direct"), "token")
        .join(Sketches.cmsEstimate(merged, top.select("token"), "token")
          .withColumnRenamed("est_c", "est_merged"), "token")
    })

  /** INCREMENTAL boilerplate strip: delta documents (doc_id % 5 = 0)
    * cleaned against the CORPUS-side hot-segment set (doc_id % 5 ≠ 0)
    * — the arriving-data shape of q94, and exactly what
    * [[graft.streaming.Streams.stripBoilerplateStream]] does per
    * micro-batch; this query drives that per-row path (hot hashes
    * collected once, probed via the codegen'd binary search) through
    * the DuckDB gate. The oracle derives the hot set from the corpus
    * slice only and strips the delta slice. */
  val q111 = QueryDef.sql("q111_strip_incremental",
    """WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |tkc AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'),
      |                t -> len(t) > 0) AS toks FROM corp),
      |basec AS (SELECT doc_id, toks,
      |            CAST((len(toks) + 9) // 10 AS BIGINT) AS n_seg FROM tkc),
      |segc AS (SELECT doc_id,
      |    array_to_string(list_slice(toks,
      |      CAST(i*10+1 AS BIGINT), CAST(i*10+10 AS BIGINT)), ' ') AS seg
      |  FROM (SELECT doc_id, toks, unnest(range(0, n_seg)) AS i FROM basec)),
      |hot AS (SELECT seg
      |        FROM (SELECT seg, count(DISTINCT doc_id) AS df
      |              FROM segc GROUP BY seg)
      |        WHERE df > 2),
      |tkd AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'),
      |                t -> len(t) > 0) AS toks FROM delta),
      |based AS (SELECT doc_id, toks,
      |            CAST((len(toks) + 9) // 10 AS BIGINT) AS n_seg FROM tkd),
      |segd AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_no,
      |    array_to_string(list_slice(toks,
      |      CAST(i*10+1 AS BIGINT), CAST(i*10+10 AS BIGINT)), ' ') AS seg
      |  FROM (SELECT doc_id, toks, unnest(range(0, n_seg)) AS i FROM based)),
      |kept AS (SELECT * FROM segd WHERE seg NOT IN (SELECT seg FROM hot)),
      |ka AS (SELECT doc_id,
      |         string_agg(seg, ' ' ORDER BY seg_no) AS clean_text,
      |         count(*) AS n_kept
      |       FROM kept GROUP BY doc_id)
      |SELECT b.doc_id,
      |  coalesce(ka.clean_text, '') AS clean_text,
      |  b.n_seg AS n_segments,
      |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(b.n_seg - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed
      |FROM based b LEFT JOIN ka USING (doc_id)""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val hashes = Dedup.hotSegmentHashes(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", segTokens = 10, maxDf = 2)
      graft.streaming.Streams.stripBoilerplateStream(
        docs.where(pmod(col("doc_id"), lit(5)) === 0),
        hashes, "doc_id", "text", segTokens = 10)
    })

  /** Exact Jaccard similarity join by prefix filtering
    * ([[graft.operators.Dedup.jaccardPrefixJoin]]): docs sharing a
    * token inside their rarest-first sorted prefixes are the ONLY
    * possible ≥-threshold pairs (no false negatives — the guarantee
    * the df-capped q29 index can't make), length-filtered and exactly
    * verified. Every step is integer/string-deterministic — global
    * (df, token) order, ⌈t·n⌉ prefix lengths, list intersection — so
    * the full join replays in DuckDB. */
  val q163 = QueryDef.sql("q163_jaccard_prefix_join",
    """WITH wt AS (SELECT doc_id AS id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> len(t) > 0) AS w
      |  FROM documents),
      |tk AS (SELECT DISTINCT id,
      |        w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]
      |          || ' ' || w[CAST(i + 2 AS INT)] AS tok
      |      FROM (SELECT id, w, unnest(range(1, len(w) - 1)) AS i
      |            FROM wt WHERE len(w) >= 3)),
      |dfreq AS (SELECT tok, count(*) AS df FROM tk GROUP BY tok),
      |srt AS (SELECT id, list(tok ORDER BY df, tok) AS stoks
      |      FROM tk JOIN dfreq USING (tok) GROUP BY id),
      |pre AS (SELECT id, stoks, len(stoks) AS n,
      |        CAST(len(stoks) - ceil(0.7::DOUBLE * len(stoks)) + 1 AS INT)
      |          AS plen
      |      FROM srt),
      |pt AS (SELECT id, n, unnest(stoks[1:plen]) AS tok FROM pre),
      |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
      |      FROM pt a JOIN pt b ON a.tok = b.tok AND a.id < b.id
      |        AND b.n >= 0.7::DOUBLE * a.n AND a.n >= 0.7::DOUBLE * b.n),
      |v AS (SELECT c.id1, c.id2,
      |        len(list_intersect(x.stoks, y.stoks)) AS i,
      |        x.n AS na, y.n AS nb
      |      FROM cand c JOIN pre x ON x.id = c.id1 JOIN pre y ON y.id = c.id2)
      |SELECT id1, id2,
      |  round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
      |FROM v
      |WHERE round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= 0.7::DOUBLE""")(
    (s, dir) => graft.operators.Dedup.jaccardPrefixJoin(
      Tables.documents(s, dir), "doc_id", "text", threshold = 0.7, ngram = 3))

  /** Train/heldout split-leakage audit — the eval-integrity check
    * every LLM data pipeline needs: near-duplicate pairs (q30's
    * MinHash+LSH banding) that STRADDLE a deterministic hash split
    * (q52's machinery). A heldout doc with a train-side near-dup is a
    * leaked eval item; the output is the offending pairs with their
    * split labels. Composes two already-certified operators, so the
    * oracle is q30's replay joined to q52's split CASE — and at scale
    * it inherits both parents' shapes (per-row signatures, banded
    * bucket join, no all-pairs). */
  val q168 = {
    val bands = 4
    val rpb = 3
    val hashes = (0 until bands * rpb)
      .map(i => s"  min(h1 + $i * h2) AS h$i").mkString(",\n")
    val bucketSelects = (0 until bands).map { b =>
      val parts = (0 until rpb).map(r => s"h${b * rpb + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    val split = s"CASE WHEN ${graft.operators.Split.hashBucketSql("doc_id", 100)} < 90" +
      " THEN 'train' ELSE 'heldout' END"
    QueryDef.sql("q168_split_leakage",
      s"""WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
         |  FROM (SELECT doc_id, text,
         |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
         |        FROM documents)),
         |hh AS (SELECT doc_id,
         |         ('0x' || substring(md, 1, 15))::BIGINT AS h1,
         |         ('0x' || substring(md, 17, 15))::BIGINT
         |           % 576460752303423488 AS h2
         |       FROM (SELECT doc_id, md5(s) AS md FROM sh) t),
         |sig AS (SELECT doc_id,
         |$hashes
         |FROM hh GROUP BY doc_id),
         |buckets AS (
         |  $bucketSelects),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |lab AS (SELECT doc_id, $split AS sp FROM documents)
         |SELECT id1, id2, l1.sp AS split_1, l2.sp AS split_2
         |FROM pairs JOIN lab l1 ON pairs.id1 = l1.doc_id
         |           JOIN lab l2 ON pairs.id2 = l2.doc_id
         |WHERE l1.sp <> l2.sp""")(
      (s, dir) => {
        import graft.operators.{Dedup, Split}
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text",
          k = 8, bands = bands, rowsPerBand = rpb)
        val lab = docs.select(col("doc_id"),
          Split.splitLabel(col("doc_id"),
            Seq("train" -> 90, "heldout" -> 100)).as("sp"))
        // both label joins broadcast at dimension size or shuffle on
        // the id — either way no new join family enters the plan
        pairs
          .join(lab.select(col("doc_id").as("id1"), col("sp").as("split_1")),
            "id1")
          .join(lab.select(col("doc_id").as("id2"), col("sp").as("split_2")),
            "id2")
          .where(col("split_1") =!= col("split_2"))
          .select(col("id1"), col("id2"), col("split_1"), col("split_2"))
      })
  }

  /** Nucleus (top-p) source truncation per language — mixture pruning:
    * keep the head sources that together carry 80% of each language's
    * characters, drop the tail. Runs on the AGGREGATED (lang, source)
    * weights (catalog-bounded window partitions, see
    * [[graft.operators.Sampling.nucleusTopP]]). */
  val q171 = QueryDef.sql("q171_nucleus_sources",
    """WITH w AS (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS tokens
      |           FROM documents GROUP BY 1, 2),
      |c AS (SELECT lang, source, tokens,
      |    sum(tokens) OVER (PARTITION BY lang
      |                      ORDER BY tokens DESC, source) AS cum,
      |    sum(tokens) OVER (PARTITION BY lang) AS tot
      |  FROM w)
      |SELECT lang, source, tokens,
      |  round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share,
      |  (cum - tokens) < 0.8 * tot AS kept
      |FROM c""")(
    (s, dir) => graft.operators.Sampling.nucleusTopP(
      Tables.documents(s, dir).groupBy("lang", "source")
        .agg(sum(col("n_chars")).as("tokens")),
      "lang", "source", "tokens", p = 0.8))

  /** Per-document unigram surprisal in whole bits under the corpus's
    * own Laplace-smoothed unigram LM (floor-log2 via binary-string
    * length — libm-free, replays exactly; see
    * [[graft.operators.TextAnalysis.unigramSurprisalBits]]). */
  val q172 = QueryDef.sql("q172_unigram_surprisal",
    """WITH tk AS (SELECT doc_id, tok FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) t WHERE length(tok) > 0),
      |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
      |tv AS (SELECT count(*) AS t, count(DISTINCT tok) AS v FROM tk),
      |b AS (SELECT tok,
      |        CAST(length(bin((t + v) // (c + 1))) - 1 AS BIGINT) AS bits
      |      FROM cnt, tv)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(bits) AS BIGINT) AS surprisal_bits,
      |  round(CAST(sum(bits) AS DOUBLE) / count(*), 6) AS mean_bits
      |FROM tk JOIN b USING (tok) GROUP BY doc_id""")(
    (s, dir) => TextAnalysis.unigramSurprisalBits(
      Tables.documents(s, dir), "doc_id", "text"))

  /** CTE chain replaying [[graft.operators.Dedup.cdcChunks]] (window 8,
    * modulus 64) ending in `chunks(doc_id, chunk_idx, start, chunk_len,
    * chunk_md5)` — shared by q173 and q174. */
  private val CdcChunksCtes: String =
    """d AS (SELECT doc_id, text, length(text) AS n FROM documents
      |      WHERE length(text) > 0),
      |pos AS (SELECT doc_id, i FROM (
      |    SELECT doc_id, text, unnest(range(8, n + 1)) AS i FROM d) t
      |  WHERE ('0x' || substring(md5(substring(text, CAST(i - 7 AS INT), 8)),
      |           1, 15))::BIGINT % 64 = 0),
      |bounds AS (SELECT doc_id, i AS e FROM pos
      |           UNION SELECT doc_id, n FROM d),
      |o AS (SELECT doc_id, e,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1 AS chunk_idx,
      |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS prev
      |  FROM bounds),
      |chunks AS (SELECT o.doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
      |  CAST(prev + 1 AS INT) AS start,
      |  CAST(e - prev AS INT) AS chunk_len,
      |  md5(substring(d.text, CAST(prev + 1 AS INT), CAST(e - prev AS INT)))
      |    AS chunk_md5
      |FROM o JOIN d USING (doc_id))""".stripMargin

  /** Content-defined chunking (rsync/LBFS boundaries, expected chunk
    * ≈ 64 bytes): boundary after position i iff md5 of the 8-gram
    * ending at i ≡ 0 (mod 64). In-row sequence/filter — zero shuffles;
    * the oracle replays positions with unnest(range) + window lag. */
  val q173 = QueryDef.sql("q173_cdc_chunks",
    s"""WITH $CdcChunksCtes
      |SELECT doc_id, chunk_idx, start, chunk_len, chunk_md5 FROM chunks""")(
    (s, dir) => Dedup.cdcChunks(
      Tables.documents(s, dir), "doc_id", "text", window = 8, modulus = 64))

  /** Byte-range containment of a new batch (doc_id % 10 ≥ 8) against
    * the corpus's chunk store: fraction of each batch doc's
    * content-defined chunks already present anywhere in the corpus —
    * the incremental-crawl "near-refetch" dedup decision at byte
    * level (token-level twin: q88). */
  val q174 = QueryDef.sql("q174_chunk_containment",
    s"""WITH $CdcChunksCtes,
      |store AS (SELECT DISTINCT chunk_md5 FROM chunks WHERE doc_id % 10 < 8),
      |b AS (SELECT doc_id, chunk_md5 FROM chunks WHERE doc_id % 10 >= 8)
      |SELECT b.doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_seen,
      |  round(CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS containment
      |FROM b LEFT JOIN store s USING (chunk_md5)
      |GROUP BY b.doc_id""")(
    (s, dir) => Dedup.chunkContainmentSplit(
      Tables.documents(s, dir), "doc_id", "text",
      isBatch = pmod(col("doc_id"), lit(10)) >= 8))

  /** Inter-labeling agreement audit: Cohen's kappa between the
    * DECLARED language column and the DETECTED language (q26's
    * stopword argmax) — the label-quality check run before trusting
    * metadata for mixture decisions. Integer marginal arithmetic, one
    * final division (see [[graft.operators.Profile.cohensKappa]]). */
  val q175 = {
    val (scoreSql, caseSql) = langIdSqlParts
    QueryDef.sql("q175_label_agreement",
      s"""WITH n AS (SELECT doc_id, lang, $NormSql AS norm FROM documents),
         |s AS (SELECT doc_id, lang,
         |$scoreSql
         |FROM n),
         |p AS (SELECT lang AS a, CASE $caseSql ELSE 'und' END AS b FROM s),
         |tot AS (SELECT count(*) AS n,
         |        sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM p),
         |ra AS (SELECT a, count(*) AS ra FROM p GROUP BY 1),
         |cb AS (SELECT b, count(*) AS cb FROM p GROUP BY 1),
         |e AS (SELECT coalesce(sum(ra * cb), 0) AS exp
         |      FROM ra JOIN cb ON ra.a = cb.b)
         |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
         |  round(CAST(agree AS DOUBLE) / n, 6) AS po,
         |  round(CAST(exp AS DOUBLE) / (n * n), 6) AS pe,
         |  CASE WHEN n * n = exp THEN NULL
         |       ELSE round(CAST(n * agree - exp AS DOUBLE) / (n * n - exp), 6)
         |  END AS kappa
         |FROM tot, e""")(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Profile.cohensKappa(
          docs.select(col("doc_id"), col("lang"))
            .join(TextAnalysis.langId(docs, "doc_id", "text")
              .select(col("doc_id"), col("detected_lang")), "doc_id"),
          "lang", "detected_lang")
      })
  }

  /** Uniform-target mixture epochs per language: how many passes over
    * each language's corpus an equal-share token budget implies —
    * epochs > 1 flags languages that will repeat.
    * See [[graft.operators.Sampling.mixtureEpochs]]. */
  val q177 = QueryDef.sql("q177_mixture_epochs",
    """WITH w AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tokens
      |           FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
      |             count(*) AS n_langs FROM w)
      |SELECT lang, tokens,
      |  round(CAST(tokens AS DOUBLE) / total, 6) AS natural_share,
      |  round(1.0 / n_langs, 6) AS target_share,
      |  round(CAST(total AS DOUBLE) / (n_langs * tokens), 6) AS epochs
      |FROM w, t""")(
    (s, dir) => graft.operators.Sampling.mixtureEpochs(
      Tables.documents(s, dir).groupBy("lang")
        .agg(sum(col("n_chars")).as("tokens")),
      "lang", "tokens"))

  /** Per-source byte-dedup savings report: what chunk-level dedup
    * would save, per source — total chunk bytes vs bytes of the
    * DISTINCT chunk set (identical md5 ⇒ identical length, so
    * min(chunk_len) per hash is exact). The go/no-go sizing number
    * before running corpus-wide dedup. */
  val q178 = QueryDef.sql("q178_dedup_savings",
    s"""WITH $CdcChunksCtes,
      |sc AS (SELECT d2.source, c.chunk_md5, c.chunk_len
      |       FROM chunks c JOIN documents d2 ON c.doc_id = d2.doc_id),
      |per AS (SELECT source, chunk_md5, count(*) AS occ,
      |               min(chunk_len) AS len
      |        FROM sc GROUP BY 1, 2)
      |SELECT source,
      |  CAST(sum(occ) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(occ * len) AS BIGINT) AS total_bytes,
      |  CAST(sum(len) AS BIGINT) AS distinct_bytes,
      |  round(1.0 - CAST(sum(len) AS DOUBLE) / sum(occ * len), 6)
      |    AS savings_ratio
      |FROM per GROUP BY source""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.cdcChunks(docs, "doc_id", "text")
        .join(broadcast(docs.select("doc_id", "source")), "doc_id")
        .groupBy(col("source"), col("chunk_md5"))
        .agg(count(lit(1)).as("occ"), min(col("chunk_len")).as("len"))
        .groupBy(col("source"))
        .agg(sum(col("occ")).as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(col("occ") * col("len")).as("total_bytes"),
          sum(col("len")).cast("long").as("distinct_bytes"))
        .withColumn("savings_ratio",
          round(lit(1.0) - col("distinct_bytes").cast("double")
            / col("total_bytes"), 6))
    })

  /** Cluster-size distribution of the near-dup graph (q56's clusters):
    * how much of the corpus sits in 2-, 3-, n-doc duplicate groups —
    * the dedup-impact histogram every curation report leads with. */
  val q179 = QueryDef.sql("q179_cluster_size_hist",
    s"""SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
      |  CAST(count(*) AS BIGINT) AS n_clusters
      |FROM (SELECT cluster, count(*) AS cluster_size
      |      FROM (${q56.oracle.get}) t GROUP BY cluster) s
      |GROUP BY 1""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.dedupClusters(docs, "doc_id",
          Dedup.ngramJaccard(docs, "doc_id", "text",
            k = 8, maxDf = 100, threshold = 0.3), "id1", "id2")
        .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    })

  /** Tokenizer fertility per language: BPE-ish tokens (q44's
    * pre-tokenization) per whitespace word — the tokenizer-equity
    * metric that decides whether a language pays a token tax under a
    * given vocabulary. Integer sums per language, one division. */
  val q180 = QueryDef.sql("q180_tokenizer_fertility",
    """WITH per AS (SELECT lang,
      |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
      |      AS n_bpeish,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE length(string_split_regex(trim(text), '\s+')) END
      |      AS n_words
      |  FROM documents)
      |SELECT lang, CAST(sum(n_bpeish) AS BIGINT) AS bpeish_tokens,
      |  CAST(sum(n_words) AS BIGINT) AS words,
      |  round(CAST(sum(n_bpeish) AS DOUBLE) / sum(n_words), 6) AS fertility
      |FROM per GROUP BY lang""")(
    (s, dir) => Tables.documents(s, dir)
      .select(col("lang"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextAnalysis.tokenCount(col("text")).as("n_words"))
      .groupBy(col("lang"))
      .agg(sum(col("n_bpeish")).cast("long").as("bpeish_tokens"),
        sum(col("n_words")).cast("long").as("words"))
      .withColumn("fertility",
        round(col("bpeish_tokens").cast("double") / col("words"), 6)))

  /** Cross-source duplication matrix: near-dup candidate pairs (q30's
    * MinHash+LSH) rolled up by the source pair — "which sources copy
    * from which", the provenance signal behind domain-level dedup and
    * crawl-priority decisions. Source pair normalized least/greatest
    * so the matrix is upper-triangular. */
  val q181 = QueryDef.sql("q181_cross_source_dupes",
    s"""SELECT least(d1.source, d2.source) AS source_1,
      |  greatest(d1.source, d2.source) AS source_2,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM (${q30.oracle.get}) p
      |JOIN documents d1 ON p.id1 = d1.doc_id
      |JOIN documents d2 ON p.id2 = d2.doc_id
      |GROUP BY 1, 2""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        k = 8, bands = 4, rowsPerBand = 3)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(broadcast(src.select(col("doc_id").as("id1"),
          col("source").as("s1"))), "id1")
        .join(broadcast(src.select(col("doc_id").as("id2"),
          col("source").as("s2"))), "id2")
        .groupBy(least(col("s1"), col("s2")).as("source_1"),
          greatest(col("s1"), col("s2")).as("source_2"))
        .agg(count(lit(1)).as("n_pairs"))
    })

  /** The q50 Hamming join in its PLAIN-SQL quadratic spelling — what a
    * user actually writes. [[graft.plans.HammingJoinRewrite]] turns the
    * would-be cartesian into the pigeonhole-banded hash join at plan
    * time (spec-pinned in HammingJoinRewriteSpec); this query puts the
    * rewritten plan through the driver's oracle, sharing q50's oracle
    * verbatim — the rule must be invisible to results. */
  val q184 = QueryDef.sql("q184_hamming_sql", q50.oracle.get)(
    (s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", bits = 60)
        .createOrReplaceTempView("q184_sig")
      s.sql("""SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS dist
              |FROM q184_sig a JOIN q184_sig b ON a.doc_id < b.doc_id
              |WHERE bit_count(a.simhash ^ b.simhash) <= 3""".stripMargin)
    })

  /** Cross-lingual parallel-corpus candidates: documents from the SAME
    * source in DIFFERENT languages whose lengths agree within
    * [0.8, 1.25]× — the classic first-pass filter for translation-pair
    * mining. The ratio window is exact integer arithmetic
    * (4·n₁ ≤ 5·n₂ ∧ 4·n₂ ≤ 5·n₁); the join's equi key is the source,
    * so candidate volume is bounded per source — at warehouse scale a
    * length-bucket joins the key, the same Δ-bucket move the band
    * operators make. */
  val q185 = QueryDef.sql("q185_parallel_candidates",
    """SELECT d1.source, d1.lang AS lang_1, d2.lang AS lang_2,
      |  d1.doc_id AS id_1, d2.doc_id AS id_2,
      |  d1.n_chars AS len_1, d2.n_chars AS len_2,
      |  round(CAST(d1.n_chars AS DOUBLE) / d2.n_chars, 6) AS len_ratio
      |FROM documents d1 JOIN documents d2
      |  ON d1.source = d2.source AND d1.lang < d2.lang
      |  AND 4 * d1.n_chars <= 5 * d2.n_chars
      |  AND 4 * d2.n_chars <= 5 * d1.n_chars
      |WHERE d1.n_chars > 0 AND d2.n_chars > 0""")(
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .where(col("n_chars") > 0)
      val d1 = d.select(col("doc_id").as("id_1"), col("lang").as("lang_1"),
        col("source"), col("n_chars").as("len_1"))
      val d2 = d.select(col("doc_id").as("id_2"), col("lang").as("lang_2"),
        col("source").as("source"), col("n_chars").as("len_2"))
      d1.join(d2, Seq("source"))
        .where(col("lang_1") < col("lang_2") &&
          lit(4) * col("len_1") <= lit(5) * col("len_2") &&
          lit(4) * col("len_2") <= lit(5) * col("len_1"))
        .select(col("source"), col("lang_1"), col("lang_2"),
          col("id_1"), col("id_2"), col("len_1"), col("len_2"),
          round(col("len_1").cast("double") / col("len_2"), 6).as("len_ratio"))
    })

  /** Lexical readability profile per language: average word length,
    * syllable proxy (vowel groups) per word, and long-word (≥6 chars)
    * ratio — the Flesch-style inputs, shipped as exact DIV-ratios of
    * corpus-level integer sums. Per-doc counters are in-row string
    * arithmetic (length/replace — no explode for the counts); only the
    * long-word counter uses a higher-order filter over the space
    * split, identical on both engines. */
  val q259 = QueryDef.sql("q259_readability",
    """WITH d AS (SELECT lang, length(text) AS chars,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS words,
      |    length(regexp_replace(text, '[aeiou]+', '#', 'g'))
      |      - length(replace(regexp_replace(text, '[aeiou]+', '#', 'g'),
      |        '#', '')) AS vg,
      |    len(list_filter(string_split(text, ' '),
      |      w -> length(w) >= 6)) AS longw
      |  FROM documents),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(chars) AS BIGINT) AS sum_chars,
      |    CAST(sum(words) AS BIGINT) AS sum_words,
      |    CAST(sum(vg) AS BIGINT) AS sum_vg,
      |    CAST(sum(longw) AS BIGINT) AS sum_long
      |  FROM d GROUP BY 1)
      |SELECT lang, n_docs,
      |  ((sum_chars - sum_words + n_docs) * 1000) // sum_words
      |    AS awl_milli,
      |  (sum_vg * 1000) // sum_words AS spw_milli,
      |  (sum_long * 1000000) // sum_words AS long_ppm
      |FROM g""")(
    (s, dir) => {
      val r = regexp_replace(col("text"), "[aeiou]+", "#")
      val d = Tables.documents(s, dir).select(col("lang"),
        length(col("text")).as("chars"),
        (length(col("text"))
          - length(regexp_replace(col("text"), " ", "")) + 1).as("words"),
        (length(r) - length(regexp_replace(r, "#", ""))).as("vg"),
        size(filter(split(col("text"), " "),
          w => length(w) >= 6)).as("longw"))
      d.groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("chars").as("sum_chars"), sum("words").as("sum_words"),
          sum("vg").as("sum_vg"), sum("longw").as("sum_long"))
        .select(col("lang"), col("n_docs"),
          expr("((sum_chars - sum_words + n_docs) * 1000) DIV sum_words")
            .as("awl_milli"),
          expr("(sum_vg * 1000) DIV sum_words").as("spw_milli"),
          expr("(sum_long * 1000000) DIV sum_words").as("long_ppm"))
    })

  /** Per-document character-distribution entropy (bits) over the a–z
    * alphabet — the classic gibberish/boilerplate quality signal: low
    * entropy = repeated filler, high = diverse vocabulary. Letter
    * counts are in-row length/replace arithmetic over a generated
    * 26-slot array (no explode, no shuffle — the whole signal is one
    * projection); H = log2(n) − Σ c·log2(c)/n with the Σ as an
    * explicit ascending-letter left fold on BOTH engines (a GROUP sum
    * of doubles folds in engine-dependent order — the q239 lesson),
    * rounded once at 6 decimals. */
  val q260 = QueryDef.sql("q260_char_entropy",
    """WITH c AS (SELECT doc_id,
      |    list_transform(range(0, 26), i -> length(text)
      |      - length(replace(text, chr(CAST(97 + i AS INT)), '')))
      |      AS cnts
      |  FROM documents),
      |f AS (SELECT doc_id,
      |    CAST(list_reduce(cnts, (a, b) -> a + b) AS BIGINT)
      |      AS n_letters,
      |    list_reduce(list_transform(cnts,
      |      x -> CASE WHEN x > 0 THEN x * log2(x) ELSE 0.0 END),
      |      (a, b) -> a + b) AS s
      |  FROM c)
      |SELECT doc_id, n_letters,
      |  CASE WHEN n_letters > 0
      |    THEN round(log2(n_letters) - s / n_letters, 6)
      |    ELSE 0.0 END AS entropy_bits
      |FROM f""")(
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("transform(sequence(0, 25), i -> length(text)" +
          " - length(replace(text, chr(97 + i), '')))").as("cnts"))
      .select(col("doc_id"),
        expr("aggregate(cnts, 0L, (a, x) -> a + CAST(x AS BIGINT))")
          .as("n_letters"),
        expr("aggregate(transform(cnts, x -> CASE WHEN x > 0 THEN" +
          " CAST(x AS DOUBLE) * log2(CAST(x AS DOUBLE)) ELSE 0D END)," +
          " 0D, (a, x) -> a + x)").as("s"))
      .select(col("doc_id"), col("n_letters"),
        when(col("n_letters") > 0,
          round(log2(col("n_letters")) - col("s") / col("n_letters"), 6))
          .otherwise(0.0).as("entropy_bits")))

  /** BM25-shaped lexical retrieval, fully integer so the ranking is a
    * deterministic selector (SCALING.md: libm is never a selector —
    * the standard ln-idf would put 1-ulp differences into the order).
    * With k1 = 6/5 and b = 3/4 the per-term BM25 contribution
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) multiplies out to the exact
    * rational 22·S·tf / (10·S·tf + 3·S + 9·dl·N) over corpus integers
    * (S = Σdl, N = docs); idf is the rational rarity weight
    * (N−df)·10⁶ DIV (df+1). Term frequency is non-overlapping
    * whole-word counting on the space-padded text (in-row
    * length/replace — scoring is join-free per doc; the only shuffles
    * are the tiny term-stats aggregates and the final top-k). */
  val q261 = QueryDef.sql("q261_bm25_topk",
    """WITH d AS (SELECT doc_id, ' ' || text || ' ' AS p,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1
      |      AS BIGINT) AS dl
      |  FROM documents),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dl) AS BIGINT) AS s FROM d),
      |t AS (SELECT term FROM (VALUES (' vector '), (' merge '),
      |    (' window ')) v(term)),
      |tf AS (SELECT doc_id, dl, term,
      |    CAST((length(p) - length(replace(p, term, '')))
      |      // length(term) AS BIGINT) AS tf
      |  FROM d, t),
      |df AS (SELECT term,
      |    CAST(count(*) FILTER (WHERE tf > 0) AS BIGINT) AS df
      |  FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    CAST(sum((((g.n - df.df) * 1000000) // (df.df + 1))
      |      * 22 * g.s * tf.tf
      |      // (10 * g.s * tf.tf + 3 * g.s + 9 * tf.dl * g.n))
      |      AS BIGINT) AS score_ppm
      |  FROM tf JOIN df USING (term), g WHERE tf.tf > 0
      |  GROUP BY 1)
      |SELECT doc_id, score_ppm, rk FROM (
      |  SELECT doc_id, score_ppm, CAST(row_number() OVER (
      |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rk
      |  FROM sc) WHERE rk <= 20""")(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit(" "), col("text"), lit(" ")).as("p"),
        (length(col("text"))
          - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("dl"))
      val g = d.agg(count(lit(1)).as("n"), sum("dl").as("s"))
      val terms = s.range(0, 3).select(
        element_at(array(lit(" vector "), lit(" merge "),
          lit(" window ")), (col("id") + 1).cast("int")).as("term"))
      val tf = d.crossJoin(broadcast(terms))
        .select(col("doc_id"), col("dl"), col("term"),
          expr("CAST((length(p) - length(replace(p, term, '')))" +
            " DIV length(term) AS BIGINT)").as("tf"))
      val df = tf.where(col("tf") > 0).groupBy("term")
        .agg(count(lit(1)).as("df"))
      val sc = tf.where(col("tf") > 0)
        .join(broadcast(df), "term").crossJoin(broadcast(g))
        .select(col("doc_id"),
          expr("(((n - df) * 1000000) DIV (df + 1)) * 22 * s * tf" +
            " DIV (10 * s * tf + 3 * s + 9 * dl * n)").as("contrib"))
        .groupBy("doc_id").agg(sum("contrib").as("score_ppm"))
      sc.withColumn("rk", row_number().over(
          Window.orderBy(col("score_ppm").desc, col("doc_id")))
          .cast("long"))
        .where(col("rk") <= 20)
        .select(col("doc_id"), col("score_ppm"), col("rk"))
    })

  /** Kneser–Ney-smoothed bigram probabilities, fully integer. With
    * discount D = ½, multiplying P_KN(w2|w1) = max(c₁₂−D,0)/c₁ +
    * D·N₁₊(w1·)/c₁ · N₁₊(·w2)/B through by 2·c₁·B gives the exact
    * integer numerator max(2c₁₂−1,0)·B + N₁₊(w1·)·N₁₊(·w2) over
    * denominator 2·c₁·B — so the smoothed probability ships as an
    * exact floor-ppm and the ranking is an integer selector. The
    * continuation counts N₁₊ (distinct contexts) are what make KN the
    * standard over add-k: frequent-but-context-bound words ('francisco')
    * stop leaking mass. Top-30 smoothed bigrams with support ≥ 5. */
  val q274 = QueryDef.sql("q274_kneser_ney",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      t -> length(t) > 0) AS ts
      |  FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(
      |    range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS b
      |  FROM toks WHERE len(ts) >= 2),
      |sp AS (SELECT string_split(b, ' ')[1] AS w1,
      |    string_split(b, ' ')[2] AS w2 FROM bg),
      |c12 AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      |  FROM sp GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
      |    CAST(count(*) AS BIGINT) AS n1r FROM c12 GROUP BY 1),
      |n1l AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l
      |  FROM c12 GROUP BY 1),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM c12),
      |p AS (SELECT c12.w1, c12.w2, c12.c,
      |    ((greatest(2 * c12.c - 1, 0) * b.nb + c1.n1r * n1l.n1l)
      |      * 1000000) // (2 * c1.c1 * b.nb) AS p_ppm
      |  FROM c12 JOIN c1 ON c12.w1 = c1.w1
      |  JOIN n1l ON c12.w2 = n1l.w2, b
      |  WHERE c12.c >= 5)
      |SELECT w1, w2, c, p_ppm, rk FROM (
      |  SELECT *, CAST(row_number() OVER (
      |    ORDER BY p_ppm DESC, w1, w2) AS BIGINT) AS rk FROM p)
      |WHERE rk <= 30""")(
    (s, dir) => {
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          t => length(t) > 0).as("ts"))
      val sp = toks.where(size(col("ts")) >= 2)
        .select(explode(expr("transform(sequence(1, size(ts) - 1)," +
          " i -> named_struct('w1', element_at(ts, i)," +
          " 'w2', element_at(ts, i + 1)))")).as("p"))
        .select(col("p.w1"), col("p.w2"))
      val c12 = sp.groupBy("w1", "w2").agg(count(lit(1)).as("c")).cache()
      val c1 = c12.groupBy("w1").agg(sum("c").as("c1"),
        count(lit(1)).as("n1r"))
      val n1l = c12.groupBy("w2").agg(count(lit(1)).as("n1l"))
      val nb = c12.agg(count(lit(1)).as("nb"))
      c12.where(col("c") >= 5)
        .join(c1, "w1").join(n1l, "w2").crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c"),
          expr("((greatest(2 * c - 1, 0) * nb + n1r * n1l) * 1000000)" +
            " DIV (2 * c1 * nb)").as("p_ppm"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("p_ppm").desc, col("w1"), col("w2")))
          .cast("long"))
        .where(col("rk") <= 30)
        .select(col("w1"), col("w2"), col("c"), col("p_ppm"), col("rk"))
    })

  /** Vocabulary richness and coverage estimation per source — the
    * capture-recapture statistics a corpus-growth plan runs before
    * buying more data: observed vocabulary, Good–Turing coverage
    * (1 - singletons/tokens: how much probability mass belongs to
    * words never seen) and the Chao1 richness estimator
    * (V + n1^2/2n2, with the standard n1(n1-1)/2 bias correction
    * when no doubletons exist) — "how many distinct words does this
    * source REALLY have". All exact integers from count-of-counts,
    * floor-ppm coverage. Shape: tokenize -> (source, word) count ->
    * count-of-counts — two hash aggregates with map-side combine,
    * the canonical two-level shape that scales to any corpus. */
  val q305 = QueryDef.sql("q305_vocab_richness",
    """WITH tok AS (SELECT source, t AS w FROM (
      |    SELECT source, unnest(string_split_regex(lower(trim(text)),
      |      '\s+')) AS t
      |    FROM documents) WHERE t <> ''),
      |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      |st AS (SELECT source, CAST(count(*) AS BIGINT) AS v_obs,
      |    CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM wc GROUP BY 1)
      |SELECT source, v_obs, n_tokens, n1, n2,
      |  v_obs + CASE WHEN n2 = 0 THEN (n1 * (n1 - 1)) // 2
      |    ELSE (n1 * n1) // (2 * n2) END AS chao1,
      |  1000000 - (n1 * 1000000) // n_tokens AS coverage_ppm
      |FROM st""")(
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w") =!= "")
      val wc = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("source").agg(
          count(lit(1)).as("v_obs"), sum("c").as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("v_obs"), col("n_tokens"),
          col("n1"), col("n2"),
          (col("v_obs") + when(col("n2") === 0,
            expr("(n1 * (n1 - 1)) DIV 2"))
            .otherwise(expr("(n1 * n1) DIV (2 * n2)"))).as("chao1"),
          (lit(1000000L) - expr("(n1 * 1000000) DIV n_tokens"))
            .as("coverage_ppm"))
    })

  /** Over-merge audit for near-dup clusters — transitive closure's
    * known failure mode, measured: q56's connected components accept
    * a doc pair into one cluster whenever a CHAIN of >= 0.3-Jaccard
    * links connects them, so the WEAKEST internal pair can sit far
    * below the threshold. Per multi-doc cluster: the minimum
    * pairwise rare-shingle Jaccard over ALL member pairs (floor
    * micro; pairs sharing no shingle score 0), the count of member
    * pairs below the link threshold, and the over_merged flag.
    *
    * Structural bound: the audit's own target input is the
    * over-merged mega-cluster — exactly the shape that makes naive
    * within-cluster all-pairs quadratic — so membership is capped to
    * the 64 LOWEST doc_ids per cluster before pairing. The cap is a
    * bounded bottom-k AGGREGATE ([[graft.functions.BottomKByKey]]):
    * map-side partials hold <= 64 ids per cluster, so no task ever
    * sorts a whole cluster (a row_number window would put the entire
    * mega-cluster in one sort task). Pairs per cluster <= 64*63/2 =
    * 2016 regardless of cluster size; min-Jaccard over the 64
    * earliest members still witnesses over-merge (a chained cluster's
    * weak links are everywhere, not in the tail of the id order). The
    * cap is mirrored verbatim in the oracle SQL (row_number <= 64 on
    * the same order), so the hash check stays exact; ClusterAuditSpec
    * proves the capped plan flat on a corpus with one mega-cluster
    * (SCALING.md, round 10 "mega-cluster + hot shingle"). */
  val q313 = QueryDef.sql("q313_cluster_diameter",
    """WITH RECURSIVE
      |sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
      |        FROM documents)),
      |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 100),
      |rare AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT id1, id2
      |  FROM co JOIN sz s1 ON co.id1 = s1.doc_id JOIN sz s2 ON co.id2 = s2.doc_id
      |  WHERE round(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 6) >= 0.3),
      |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
      |          UNION SELECT id2 AS u, id1 AS v FROM pairs),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.id),
      |memb AS (SELECT id AS doc_id, min(lab) AS cluster
      |  FROM reach GROUP BY id),
      |multi AS (SELECT cluster FROM memb GROUP BY cluster
      |  HAVING count(*) >= 2),
      |capped AS (SELECT cluster, doc_id FROM (
      |  SELECT m.cluster, m.doc_id,
      |    row_number() OVER (PARTITION BY m.cluster
      |      ORDER BY m.doc_id) AS rn
      |  FROM memb m WHERE m.cluster IN (SELECT cluster FROM multi))
      |  WHERE rn <= 64),
      |mp AS (SELECT a.cluster, a.doc_id AS id1, b.doc_id AS id2
      |  FROM capped a JOIN capped b
      |    ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
      |pj AS (SELECT mp.cluster, mp.id1, mp.id2,
      |    CASE WHEN co.c IS NULL THEN 0
      |      ELSE (co.c * 1000000)
      |        // (s1.sz + s2.sz - co.c) END AS j_micro
      |  FROM mp
      |  LEFT JOIN co ON co.id1 = mp.id1 AND co.id2 = mp.id2
      |  LEFT JOIN sz s1 ON mp.id1 = s1.doc_id
      |  LEFT JOIN sz s2 ON mp.id2 = s2.doc_id)
      |SELECT cluster, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(min(j_micro) AS BIGINT) AS min_jaccard_micro,
      |  CAST(sum(CASE WHEN j_micro < 300000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS weak_pairs,
      |  CASE WHEN min(j_micro) < 300000 THEN 1 ELSE 0 END
      |    AS over_merged
      |FROM pj GROUP BY 1""")(
    (s, dir) => Dedup.clusterOverMergeAudit(Tables.documents(s, dir),
      "doc_id", "text", k = 8, maxDf = 100, threshold = 0.3,
      memberCap = 64, linkFloorMicro = 300000L))

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase pass a corpus card runs next to TF-IDF top terms
    * (q57) and salient terms (q151): candidate phrases are maximal
    * stopword-free token runs (gaps-and-islands on the token
    * positions), each WORD scores degree/frequency (degree = summed
    * length of phrases it appears in — co-occurrence credit), and a
    * phrase scores the sum of its word scores. All integer: word
    * scores ship as floor-ppm, phrase scores as their exact sum, so
    * the top-20 ranking replays bit-for-bit. Scale shape: tokenize ->
    * per-doc island window (bounded by doc length) -> two corpus-wide
    * aggregates (word stats, phrase dedup) -> a 20-row final sort.
    * The stopword list is the deliberately tiny fixed set of the
    * q26 lang-id stance. */
  val q298 = QueryDef.sql("q298_rake_keywords",
    """WITH tk0 AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks) + 1),
      |      i -> struct_pack(pos := i, w := toks[i]))) AS u
      |  FROM (SELECT doc_id,
      |      string_split_regex(lower(trim(text)), '\s+') AS toks
      |    FROM documents)),
      |tk AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM tk0
      |  WHERE u.w <> ''),
      |ns AS (SELECT doc_id, pos, w,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
      |      AS isl
      |  FROM tk WHERE w NOT IN ('the', 'a', 'and', 'of', 'to', 'in',
      |    'is', 'for', 'on', 'with')),
      |ph AS (SELECT doc_id, isl,
      |    string_agg(w, ' ' ORDER BY pos) AS phrase,
      |    CAST(count(*) AS BIGINT) AS plen
      |  FROM ns GROUP BY 1, 2),
      |wstat AS (SELECT ns.w, CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(ph.plen) AS BIGINT) AS deg
      |  FROM ns JOIN ph ON ns.doc_id = ph.doc_id AND ns.isl = ph.isl
      |  GROUP BY 1),
      |wscore AS (SELECT w, (deg * 1000000) // freq AS wsc FROM wstat),
      |pscore AS (SELECT ph.doc_id, ph.isl, ph.phrase, ph.plen,
      |    CAST(sum(ws.wsc) AS BIGINT) AS score
      |  FROM ns JOIN ph ON ns.doc_id = ph.doc_id AND ns.isl = ph.isl
      |  JOIN wscore ws ON ns.w = ws.w
      |  GROUP BY 1, 2, 3, 4),
      |agg AS (SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
      |    CAST(count(*) AS BIGINT) AS n_occurrences,
      |    CAST(max(score) AS BIGINT) AS score_ppm
      |  FROM pscore GROUP BY 1)
      |SELECT phrase, n_words, n_occurrences, score_ppm,
      |  CAST(rk AS BIGINT) AS rk
      |FROM (SELECT *, row_number() OVER (
      |    ORDER BY score_ppm DESC, phrase) AS rk FROM agg)
      |WHERE rk <= 20""")(
    (s, dir) => {
      val stop = Seq("the", "a", "and", "of", "to", "in", "is", "for",
        "on", "with")
      val tk = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+"))
            .as(Seq("p", "w")))
        .where(col("w") =!= "")
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("w"))
      val ns = tk.where(!col("w").isin(stop: _*))
        .withColumn("isl", col("pos") -
          row_number().over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy("pos")))
      val ph = ns.groupBy("doc_id", "isl")
        .agg(array_join(transform(sort_array(collect_list(
            struct(col("pos"), col("w")))), x => x.getField("w")), " ")
          .as("phrase"),
          count(lit(1)).as("plen"))
      val nsph = ns.join(ph, Seq("doc_id", "isl"))
      val wscore = nsph.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("w"), expr("(deg * 1000000) DIV freq").as("wsc"))
      val pscore = nsph.join(wscore, "w")
        .groupBy("doc_id", "isl", "phrase", "plen")
        .agg(sum("wsc").as("score"))
      val agg = pscore.groupBy("phrase")
        .agg(max("plen").as("n_words"),
          count(lit(1)).as("n_occurrences"),
          max("score").as("score_ppm"))
      agg.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("score_ppm").desc, col("phrase")))
          .cast("long"))
        .where(col("rk") <= 20)
        .select("phrase", "n_words", "n_occurrences", "score_ppm", "rk")
    })

  /** IDF-weighted n-gram Jaccard near-dup pairs
    * ([[graft.operators.Dedup.idfWeightedJaccard]]): q29's df-capped
    * single-pass index, but shingles score with the exact rational
    * weight (N·1000) DIV df so rare shingles dominate — the standard
    * refinement when plain Jaccard over-matches template-heavy
    * corpora. All-integer ppm scores; same df² expansion bound. */
  val q322 = QueryDef.sql("q322_idf_jaccard",
    """WITH sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
      |        FROM documents)),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |g AS (SELECT s, count(*) AS df FROM sh GROUP BY s
      |      HAVING count(*) <= 100),
      |w AS (SELECT s, (n_docs * 1000) // df AS w FROM g, nd),
      |tw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw
      |       FROM sh JOIN w USING (s) GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |         CAST(sum(w.w) AS BIGINT) AS cw
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |       JOIN w ON w.s = a.s
      |       GROUP BY 1, 2)
      |SELECT id1, id2, cw AS shared_w,
      |  CAST((cw * 1000000) // (t1.tw + t2.tw - cw) AS BIGINT) AS wj_ppm
      |FROM co JOIN tw t1 ON co.id1 = t1.doc_id
      |JOIN tw t2 ON co.id2 = t2.doc_id
      |WHERE (cw * 1000000) // (t1.tw + t2.tw - cw) >= 300000""")(
    (s, dir) => Dedup.idfWeightedJaccard(Tables.documents(s, dir),
      "doc_id", "text", k = 8, maxDf = 100, minPpm = 300000L))

  /** Context-length truncation audit: at candidate context windows,
    * how many documents overflow and what fraction of corpus tokens a
    * hard truncation throws away — the sizing table read before
    * picking a packing length (q63) or a sliding stride (q71).
    * Windows {16, 32, 64} are scaled to this corpus's ~30–100-token
    * documents (the 512/2048/8192 of a real corpus). One broadcast
    * cross join with the 3-row window frame, map-side combine to 3
    * groups; all-integer, exact ppm. */
  val q331 = QueryDef.sql("q331_truncation_loss",
    """WITH t AS (SELECT doc_id,
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |                    x -> len(x) > 0)) AS n FROM documents),
      |c AS (SELECT CAST(unnest([16, 32, 64]) AS BIGINT) AS ctx)
      |SELECT ctx,
      |  CAST(sum(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_truncated,
      |  CAST(sum(n) AS BIGINT) AS tokens_total,
      |  CAST(sum(greatest(n - ctx, 0)) AS BIGINT) AS tokens_lost,
      |  CAST(sum(greatest(n - ctx, 0)) * 1000000 // sum(n) AS BIGINT)
      |    AS lost_ppm
      |FROM t, c GROUP BY ctx""")(
    (s, dir) => {
      val t = Tables.documents(s, dir).select(
        expr("size(filter(split(trim(text), '\\\\s+'), x -> x != ''))")
          .cast("long").as("n"))
      val ctx = s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(16L),
          org.apache.spark.sql.Row(32L), org.apache.spark.sql.Row(64L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ctx",
            org.apache.spark.sql.types.LongType, nullable = false))))
      t.crossJoin(broadcast(ctx))
        .groupBy("ctx")
        .agg(sum(when(col("n") > col("ctx"), 1L).otherwise(0L))
            .cast("long").as("docs_truncated"),
          sum(col("n")).cast("long").as("tokens_total"),
          sum(greatest(col("n") - col("ctx"), lit(0L)))
            .cast("long").as("tokens_lost"))
        .withColumn("lost_ppm",
          expr("tokens_lost * 1000000 DIV tokens_total"))
    })

  /** Inverted-index size planner: per token, the delta-encoded posting
    * list cost in bits (gap to the previous doc id, bit-length via
    * `bin()` — the integer log2 every index compressor starts from)
    * vs raw 64-bit postings. The compression-ratio column is what
    * decides index layout before building one at corpus scale. Lag
    * windows are PARTITIONED by token (bounded by df); first gap
    * measures from −1 so doc 0 costs its true bits. */
  val q334 = QueryDef.sql("q334_posting_size",
    """WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
      |      '\s+')) AS t FROM documents) WHERE t <> ''),
      |d AS (SELECT token, doc_id,
      |    doc_id - lag(doc_id, 1, -1) OVER (PARTITION BY token
      |      ORDER BY doc_id) AS delta
      |  FROM tok)
      |SELECT token, CAST(count(*) AS BIGINT) AS df,
      |  CAST(sum(length(bin(delta))) AS BIGINT) AS delta_bits,
      |  CAST(count(*) * 64 AS BIGINT) AS raw_bits,
      |  CAST(sum(length(bin(delta))) * 1000000 // (count(*) * 64)
      |    AS BIGINT) AS ratio_ppm
      |FROM d GROUP BY token""")(
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
        .distinct()
      tok
        .withColumn("delta", col("doc_id") - lag(col("doc_id"), 1, -1)
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("token").orderBy("doc_id")))
        .groupBy("token")
        .agg(count(lit(1)).as("df"),
          sum(length(bin(col("delta")))).cast("long").as("delta_bits"))
        .select(col("token"), col("df"), col("delta_bits"),
          (col("df") * 64).as("raw_bits"),
          expr("delta_bits * 1000000 DIV (df * 64)").as("ratio_ppm"))
    })

  /** Heaps'-law fit: how the distinct-8-gram vocabulary grows with
    * corpus size, measured at nested doc-id prefixes (1/8 … full) and
    * fit as a floor-log2 regression (q197's libm-free recipe — the
    * Zipf slope's growth-curve twin). Gram counts are per-doc-distinct
    * (the shingle expression's set semantics, same contract as q29's
    * index). The β exponent sizes vocabulary hash maps and shingle
    * indexes BEFORE a 100 TB build; β ≈ 0.4 here. One shingle scan
    * shared by all prefixes (the frac frame broadcasts), one distinct
    * aggregate per prefix. */
  val q336 = QueryDef.sql("q336_heaps_law",
    """WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |f AS (SELECT CAST(unnest([8, 4, 2, 1]) AS BIGINT) AS frac),
      |sh AS (SELECT DISTINCT doc_id, substring(text, i, 8) AS s
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS i
      |        FROM documents)),
      |pre AS (SELECT f.frac,
      |    CAST(count(*) AS BIGINT) AS grams,
      |    CAST(count(DISTINCT s) AS BIGINT) AS vocab
      |  FROM sh, f, mx WHERE sh.doc_id < mx.n // f.frac GROUP BY f.frac),
      |xy AS (SELECT frac, grams, vocab,
      |    CAST(length(bin(grams)) - 1 AS BIGINT) AS x,
      |    CAST(length(bin(vocab)) - 1 AS BIGINT) AS y FROM pre),
      |s AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*y) AS BIGINT) AS sxy,
      |    CAST(sum(x*x) AS BIGINT) AS sxx FROM xy)
      |SELECT xy.frac, xy.grams, xy.vocab,
      |  round(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
      |    / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE), 6) AS heaps_beta
      |FROM xy, s""")(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val mx = docs.agg((max(col("doc_id")) + 1).as("n"))
      val fr = s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(8L),
          org.apache.spark.sql.Row(4L), org.apache.spark.sql.Row(2L),
          org.apache.spark.sql.Row(1L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("frac",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val pre = Dedup.shingles(docs, "doc_id", "text", 8)
        .crossJoin(broadcast(fr)).crossJoin(broadcast(mx))
        .where(col("doc_id") < expr("n DIV frac"))
        .groupBy("frac")
        .agg(count(lit(1)).as("grams"),
          countDistinct(col("s")).cast("long").as("vocab"))
      val xy = pre.select(col("frac"), col("grams"), col("vocab"),
        (length(bin(col("grams"))) - 1).cast("long").as("x"),
        (length(bin(col("vocab"))) - 1).cast("long").as("y"))
      val sums = xy.agg(count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"))
      xy.crossJoin(broadcast(sums))
        .select(col("frac"), col("grams"), col("vocab"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
            6).as("heaps_beta"))
    })

  val all: Seq[QueryDef] = Seq(q24, q25, q26, q27, q28, q29, q30, q31,
    q44, q45, q49, q50, q53, q54, q56, q57, q59, q62, q63, q64, q66, q71,
    q74, q75, q76, q77, q87, q88, q92, q93, q94, q100, q110, q111, q163,
    q168, q171, q172, q173, q174, q175, q177, q178, q179, q180, q181, q184,
    q185, q236, q259, q260, q261, q274, q298, q305, q313, q322, q331,
    q334, q336, q343, q344)
}
