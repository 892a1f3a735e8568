package graft.queries

import graft.Tables
import graft.operators.{Materialize, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the extension query families share: the `documents` and
  * `embeddings` loaders, and the oracle-SQL builders that more than one
  * family uses (a builder only one family uses lives in that family).
  *
  * The families — [[DedupQueries]], [[SimilarityQueries]],
  * [[ProfileQueries]], [[SequencesQueries]], [[LayoutQueries]],
  * [[GraphQueries]], [[JoinsQueries]], [[MultimodalQueries]],
  * [[TextStatsQueries]] and [[TextCurationQueries]] — declare the
  * x-queries for the LLM-pipeline extension operators (dedup,
  * similarity search, text analysis) over the `documents` and
  * `embeddings` fixture tables, one object per operator family.
  *
  * Every query carries its DuckDB oracle at its declaration. Sketch
  * operators (minhash / simhash / LSH / HLL) are value-checked too:
  * their oracles replay the portable hash family, the exact
  * verification, or a pinned error-bound flag. Oracles are DuckDB
  * dialect (they only ever run in DuckDB); double math is forced via
  * ::DOUBLE[] casts so both engines accumulate in float64 in array
  * order. Four snapshot-served queries (x271, x274, x281, x282) share
  * the oracle of the query they serve.
  *
  * Thresholds here are tuned to the synthetic corpus (random word-salad
  * docs, uncorrelated random embeddings) so every query returns a
  * non-empty, deterministic, totally-ordered result at every sf.
  */
private[queries] object CorpusHelpers {

  /** The documents table, spread over the cores when it arrives in
    * fewer splits than that ([[Materialize.ensureParallelism]]). */
  private[queries] def docs(s: SparkSession, dir: String) =
    Materialize.ensureParallelism(Tables.load(s, dir, "documents"))

  // embeddings stay UNSPREAD (measured, r19): the table is vector-
  // count-scale (2k rows at sf0.1) and its consumers are multi-stage/
  // iterative (power iteration, kNN+CC, PQ) — spreading it to 32
  // partitions added ~2-5 ms × 32 tasks of scheduling per stage and
  // benched emb-heavy queries SLOWER (x228 1.54 → 2.47 s, x189
  // 2.01 → 3.50 s A/B), while every heavy-kernel win of the spread
  // came from the docs() side. Operators that DO need a parallel
  // probe over an embedding-derived frame restore it locally
  // (embeddingNearDup's ensureParallelism after the checkpoint).
  private[queries] def emb(s: SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")

  private[queries] def knnEdges(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
      .select(col("src"), col("dst"))

  /** Versioned artifact table under the system temp dir, keyed by the
    * sf dir — the x270/x271 train→snapshot→serve queries need a
    * stable writable location outside the read-only testdata tree.
    * Each run appends one snapshot version and vacuums to the last
    * two, so repeated bench/verify sweeps stay disk-bounded. */
  private[queries] def artifactTable(dir: String, name: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_artifacts_$key/$name").getPath
  }

  /** The x273/x274 shared label: English-or-not, the classic binary
    * doc filter the hashed NB classifier trains against. */
  private[queries] def nbLabel = col("lang") === "en"

  /** A float[] plane as an exact DuckDB DOUBLE[] literal: float→double
    * widening is exact and Double.toString round-trips, so the literal
    * parses back to the identical IEEE value the Spark plan uses. */
  private[queries] def planeLit(p: Array[Float]): String =
    p.map(f => f.toDouble.toString).mkString("[", ", ", "]") + "::DOUBLE[]"

  /** DuckDB expression for [[Similarity.hyperplaneBucket]]: the seeded
    * hyperplanes are generated by the SAME Scala code and embedded as
    * literals, so both engines test sign(dot) against identical planes.
    * Dots are ~1e3 in magnitude — ulp-level accumulation differences
    * cannot flip a sign in practice. */
  private[queries] def bucketSql(vecCol: String, nPlanes: Int): String =
    Similarity.planes(nPlanes, 64).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product($vecCol::DOUBLE[], ${planeLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB list literal of a language's stopword profile (same source
    * constants as [[TextFunctions.stopwords]]). */
  private[queries] def stopLit(lang: String): String =
    graft.functions.TextFunctions.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** Word tokens of `col` (lowercased maximal letter/number runs) —
    * the RE2 regex equivalent of ShingleKernels.wordTokens. Shared
    * with [[RelationalQueries]] (q29): the tokenizer contract is load-bearing
    * and must have exactly ONE SQL rendering. */
  private[queries] def wordsSql(col: String): String =
    s"list_filter(regexp_split_to_array(lower($col), '[^\\p{L}\\p{N}]+'), x -> x <> '')"

  /** DuckDB replica of the md5-60 hash: first 15 hex chars of md5 =
    * first 8 digest bytes big-endian >>> 4 (ShingleKernels.md5Hash60). */
  private[queries] def md5Hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Shared CTE chain of the cross-source-perplexity replays (x252,
    * x254): per-source trigram cells, contexts, vocab sizes, and the
    * cells × sources grid scored with x227's micro-nat quantization —
    * ends in `sc(src_eval, src_train, n_transitions,
    * sum_logp_micro)`. */
  private[queries] def crossPerplexityCteSql: String =
    s"""toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |tr AS (SELECT doc_id, w[CAST(i AS INT)] AS w1,
       |         w[CAST(i AS INT) + 1] AS w2, w[CAST(i AS INT) + 2] AS w3
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
       |             FROM toks WHERE len(w) >= 3)),
       |cells AS MATERIALIZED (SELECT d.source AS src, t.w1, t.w2, t.w3,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tr t JOIN documents d USING (doc_id) GROUP BY 1, 2, 3, 4),
       |ctx AS (SELECT src, w1, w2, CAST(sum(c) AS BIGINT) AS c12
       |        FROM cells GROUP BY 1, 2, 3),
       |vs AS (SELECT src, CAST(count(DISTINCT w3) AS BIGINT) AS v
       |       FROM cells GROUP BY 1),
       |srcs AS (SELECT DISTINCT src FROM cells),
       |sc AS (SELECT e.src AS src_eval, s.src AS src_train,
       |    CAST(sum(e.c) AS BIGINT) AS n_transitions,
       |    CAST(sum(e.c * CAST(round(round(ln(
       |        (coalesce(t.c, 0)::DOUBLE + 1.0) /
       |        (coalesce(cx.c12, 0)::DOUBLE + v.v::DOUBLE + 1.0)), 6)
       |      * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_logp_micro
       |  FROM cells e
       |  CROSS JOIN srcs s
       |  LEFT JOIN cells t ON t.src = s.src AND t.w1 = e.w1
       |    AND t.w2 = e.w2 AND t.w3 = e.w3
       |  LEFT JOIN ctx cx ON cx.src = s.src AND cx.w1 = e.w1
       |    AND cx.w2 = e.w2
       |  JOIN vs v ON v.src = s.src
       |  GROUP BY 1, 2)""".stripMargin

  /** One winnowing-run scale of the x225 oracle: replays
    * [[graft.operators.TextAnalysis.duplicatedSubstringRuns]] at
    * (k, w) — rolling md5-60 k-gram hashes, LAST-argmin window
    * selection with positions (sel = max p at the window min, the
    * kernel's deque tie rule), df cap, diagonal gaps-and-islands,
    * per-pair longest run. Emitted as a complete SELECT; the oracle
    * unions the scales. All CTE names carry the k suffix so two
    * scales coexist in one WITH. */
  /** The shared anchor chain (hs→g→cnt→mn→selbig→selsmall→anch) of
    * the winnowing replays — positions + last-argmin selection at
    * (k, w), names suffixed by k. */
  private[queries] def winnowAnchorsCteSql(k: Int, w: Int): String =
    s"""hs$k AS MATERIALIZED (SELECT doc_id,
       |    list_transform(range(1, greatest(length(t) - ${k - 1}, 0) + 1),
       |      i -> ${md5Hash60Sql(s"substr(t, CAST(i AS INT), $k)")}) AS h
       |  FROM nd),
       |g$k AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) - 1 AS p,
       |    h[CAST(i AS INT)] AS f
       |  FROM hs$k, LATERAL (SELECT unnest(range(1, len(h) + 1)) AS i) u
       |  WHERE len(h) > 0),
       |cnt$k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |  FROM g$k GROUP BY 1),
       |mn$k AS (SELECT g.doc_id, g.p AS s,
       |    min(g.f) OVER (PARTITION BY g.doc_id ORDER BY g.p
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh, c.n
       |  FROM g$k g JOIN cnt$k c USING (doc_id)),
       |selbig$k AS (SELECT st.doc_id, max(g2.p) AS sp
       |  FROM (SELECT * FROM mn$k WHERE n > $w AND s <= n - $w) st
       |  JOIN g$k g2 ON g2.doc_id = st.doc_id
       |    AND g2.p BETWEEN st.s AND st.s + ${w - 1} AND g2.f = st.mh
       |  GROUP BY st.doc_id, st.s),
       |selsmall$k AS (SELECT g.doc_id, max(g.p) AS sp
       |  FROM g$k g JOIN cnt$k c USING (doc_id)
       |  JOIN (SELECT doc_id, min(f) AS mf FROM g$k GROUP BY 1) m
       |    ON m.doc_id = g.doc_id
       |  WHERE c.n <= $w AND g.f = m.mf GROUP BY g.doc_id),
       |anch$k AS MATERIALIZED (SELECT DISTINCT s.doc_id, s.sp AS p, g.f
       |  FROM (SELECT * FROM selbig$k UNION ALL SELECT * FROM selsmall$k) s
       |  JOIN g$k g ON g.doc_id = s.doc_id AND g.p = s.sp)""".stripMargin

  /** Shared CTE prefix for the md5-60 bottom-16 fingerprint (x11/x23):
    * yields (doc_id, g = distinct char-8 shingles, hs = sorted md5-60
    * hashes) per document. */
  private[queries] val fingerprintCteSql: String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN length(t) >= 8
       |    THEN list_transform(range(1, length(t) - 6), i -> substr(t, i, 8))
       |    ELSE [] END) AS g
       |  FROM norm),
       |h AS (
       |  SELECT doc_id, len(g) AS ng,
       |         list_sort(list_transform(g, x -> ${md5Hash60Sql("x")})) AS hs
       |  FROM sh)""".stripMargin

  /** Word n-gram strings of token list `w` (space-joined), distinct,
    * as a DuckDB list expression — the SQL rendering of
    * TextFunctions.wordShingles + distinct. */
  private[queries] def wordNgramsSql(n: Int, distinct: Boolean = true): String = {
    val joined = (1 to n).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
    val inner =
      s"""CASE WHEN len(w) >= $n
         |    THEN list_transform(range(1, len(w) - ${n - 2}), i -> $joined)
         |    ELSE [] END""".stripMargin
    if (distinct) s"list_distinct($inner)" else inner
  }

  /** Shared CTE chain ending in `pairs`(doc_a, doc_b, jaccard ≥ 0.2):
    * the inverted-index exact word-3-gram Jaccard ground truth — used
    * verbatim by the x04 oracle and as the edge set of the x28
    * connected-components oracle, so both gates check the SAME pair
    * relation. */
  private[queries] def ngramPairsCteSql: String =
    s"""toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (
       |  SELECT doc_id, ${wordNgramsSql(3)} AS g
       |  FROM toks),
       |ex AS (SELECT doc_id, len(g) AS sz, unnest(g) AS gram FROM ng WHERE len(g) > 0),
       |ipairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isz,
       |         any_value(a.sz) AS sa, any_value(b.sz) AS sb
       |  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT doc_a, doc_b,
       |           round(isz::DOUBLE / (sa + sb - isz)::DOUBLE, 6) AS jaccard
       |    FROM ipairs) t
       |  WHERE jaccard >= 0.2)""".stripMargin

  /** Shared CTE chain w → f → q: the per-document quality score (the
    * exact SQL rendering of TextFunctions.qualityScoreRaw/qualityScore),
    * carrying `keep` columns through — used by x09 and x46 so the
    * quality contract has ONE rendering. `q` emits BOTH the unrounded
    * `qr` (exact-operand arithmetic, bit-identical across engines —
    * the ranking column) and the round-6 `q` (the output column). */
  /** Shared readability CTE chain (x239/x244): the sentence-mark
    * plant, exact word/sentence counts, PER-WORD syllable counts
    * (vowel groups `[aeiouy]+` per words() token, floored at 1,
    * summed — the same token-array derivation the Spark side's
    * `syllable_count` kernel computes; ADVICE r16 retired the former
    * global-regex identity on both sides in lockstep), and the
    * Flesch score in integer micro — constants parsed from strings
    * so both engines hold identical correctly-rounded doubles.
    * Yields `rd(doc_id, nw, ns, syl, fm)`. */
  private[queries] def readabilityCtesSql: String = {
    s"""cor AS (SELECT doc_id, replace(text, ' a ', ' a. ') AS t
       |  FROM documents),
       |rc AS (SELECT doc_id,
       |    CAST(len(${wordsSql("t")}) AS BIGINT) AS nw,
       |    greatest(CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT),
       |      1) AS ns,
       |    CAST(coalesce(list_sum(list_transform(${wordsSql("t")},
       |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0)
       |      AS BIGINT) AS syl
       |  FROM cor),
       |rd AS (SELECT doc_id, nw, ns, syl,
       |    CASE WHEN nw > 0 THEN CAST(round(round(
       |        CAST('206.835' AS DOUBLE)
       |          - CAST('1.015' AS DOUBLE) * (nw::DOUBLE / ns::DOUBLE)
       |          - CAST('84.6' AS DOUBLE)
       |            * (syl::DOUBLE / nw::DOUBLE), 6)
       |      * 1000000.0) AS BIGINT) END AS fm
       |  FROM rc)""".stripMargin
  }

  private[queries] def qualityCteSql(keep: String): String =
    s"""w AS (SELECT $keep, text, ${wordsSql("text")} AS ws FROM documents),
       |f AS (
       |  SELECT $keep, length(text)::DOUBLE AS n_chars, len(ws)::DOUBLE AS n_words,
       |         CASE WHEN len(ws) > 0
       |           THEN list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws) END AS mwl,
       |         CASE WHEN length(text) > 0
       |           THEN length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE / length(text) END AS alpha,
       |         CASE WHEN length(text) > 0
       |           THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) END AS punct
       |  FROM w),
       |q AS (
       |  SELECT $keep, qr, round(qr, 6) AS q FROM (
       |    SELECT $keep, (
       |      (CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END) +
       |      (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
       |      coalesce(alpha, 0.0) +
       |      (1.0 - least(coalesce(punct, 0.0) * 5, 1.0))) / 4 AS qr
       |    FROM f) t)""".stripMargin

  /** The x26 fixed centroids as ONE DuckDB VALUES relation — both the
    * assignment and the probe CTE join against this single copy, so
    * shared list geometry is structural rather than relying on two
    * literal expansions staying byte-identical. Ranking by (d,
    * list_id) mirrors ivfAssignFixed/ivfTopK's struct sort; centroid
    * distances are far enough apart (~1e-2 gaps vs ~1e-16 accumulation
    * noise) that the order is stable across engines. */
  private[queries] def centValuesSqlFor(cents: Array[Array[Float]]): String =
    "(VALUES " + cents.zipWithIndex.map {
      case (c, i) => s"($i, ${planeLit(c)})"
    }.mkString(", ") + ") AS ct(list_id, v)"

  private[queries] def centValuesSql(nLists: Int): String =
    centValuesSqlFor(Similarity.fixedCentroids(nLists, 64))

  /** The hashed-NB CTE chain shared by x273 (per-source report) and
    * x279 (calibration buckets): presence features at md5-60 mod
    * 2^18, Laplace log-odds with each ln quantized once, per-doc
    * scores with zero-token docs falling back to the bias. Ends at
    * `verdicts(source, y, s)`. */
  private[queries] def nbCtesSql: String =
    s"""lab AS (
       |  SELECT doc_id, source, (lang = 'en') AS y FROM documents),
       |feats AS (
       |  SELECT DISTINCT doc_id,
       |    (CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 262144)
       |      AS feature
       |  FROM (SELECT doc_id, unnest(${wordsSql("text")}) AS token
       |        FROM documents) t),
       |classes AS MATERIALIZED (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n1,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
       |           AS BIGINT) AS n0
       |  FROM documents),
       |counts AS (
       |  SELECT feature,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c0
       |  FROM feats JOIN lab USING (doc_id) GROUP BY feature),
       |weights AS (
       |  SELECT feature,
       |    CAST(round(ln((c1 + 1)::DOUBLE / (n1 + 2)::DOUBLE)
       |      * 1000000.0) AS BIGINT)
       |    - CAST(round(ln((c0 + 1)::DOUBLE / (n0 + 2)::DOUBLE)
       |      * 1000000.0) AS BIGINT) AS w
       |  FROM counts CROSS JOIN classes),
       |bias AS MATERIALIZED (
       |  SELECT CAST(round(ln((n1 + 1)::DOUBLE / (n1 + n0 + 2)::DOUBLE)
       |      * 1000000.0) AS BIGINT)
       |    - CAST(round(ln((n0 + 1)::DOUBLE / (n1 + n0 + 2)::DOUBLE)
       |      * 1000000.0) AS BIGINT) AS b
       |  FROM classes),
       |scores AS (
       |  SELECT f.doc_id, CAST(sum(coalesce(w.w, 0)) AS BIGINT) + b.b AS s
       |  FROM feats f LEFT JOIN weights w USING (feature)
       |  CROSS JOIN bias b GROUP BY f.doc_id, b.b),
       |verdicts AS MATERIALIZED (
       |  SELECT l.source, l.y, coalesce(s.s, b.b) AS s
       |  FROM lab l LEFT JOIN scores s USING (doc_id) CROSS JOIN bias b)"""
      .stripMargin

  /** Shared CTE body for the x76/x77 oracle edge set: valid vectors →
    * sign-buckets ([[bucketSql]], same plane constants the Spark plan
    * uses) → directed within-bucket pairs ranked by (rounded cosine
    * desc, dst) — the [[graft.functions.TopKScored]] contract — kept
    * at rank ≤ k. Yields CTEs `b` and `knn(src, dst, cosine, rank)`. */
  private[queries] def knnEdgesCteSql(k: Int): String =
    s"""b AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket
       |  FROM embeddings
       |  WHERE len(embedding) = 64
       |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |knn AS MATERIALIZED (
       |  SELECT src, dst, cosine, rank FROM (
       |    SELECT a.vec_id AS src, b2.vec_id AS dst,
       |           round(list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]), 6) AS cosine,
       |           CAST(row_number() OVER (
       |             PARTITION BY a.vec_id
       |             ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]), 6) DESC,
       |                      b2.vec_id) AS INTEGER) AS rank
       |    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id) t
       |  WHERE rank <= $k)""".stripMargin
}
