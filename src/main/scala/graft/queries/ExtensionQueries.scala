package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Joins, Layout, Materialize, Multimodal, Profile, Similarity,
  TextAnalysis}
import graft.transform.CatalogTransforms
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared queries for the LLM-pipeline extension operators (dedup,
  * similarity search, text analysis) over the `documents` and
  * `embeddings` fixture tables.
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
object ExtensionQueries extends QueryFamily {

  /** The documents table, spread over the cores when it arrives in
    * fewer splits than that ([[Materialize.ensureParallelism]]). */
  private def docs(s: SparkSession, dir: String) =
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
  private def emb(s: SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")

  /** x01 exact content dedup (hash-groupBy). */
  val x01 = query("x01_exact_dedup",
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin) { (s, dir) =>
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .orderBy(col("keep_id"))
  }

  /** x02 MinHash+LSH near-dup pairs, exact-verified. The threshold sits
    * in the reliable region of the b=32/r=8 S-curve — P(miss) =
    * (1-0.85^8)^32 ≈ 3.9e-5 per true pair at the J = 0.85 boundary
    * (and falls off a cliff above it: ≈ 4e-9 at J = 0.90), vs a
    * ≈ 7e-5 candidate rate for the ~0.18 word-salad background — and
    * candidates are re-scored with the exact shingle-set Jaccard, so
    * the result equals the brute-force ground truth up to that miss
    * bound (DuckDB-oracle-checkable; equality verified empirically at
    * sf0.001, sf0.01 AND sf0.1 against the fixed xxhash64 family). A
    * threshold far below the S-curve knee (~0.66 for b=32/r=8) would
    * make recall probabilistic — that regime belongs to the unverified
    * est_jaccard path, not to an oracle-checked query. */
  val x02 = query("x02_minhash_lsh_neardup",
    // Ground truth for the verified LSH near-dup: brute-force char-5
    // shingle Jaccard. Valid because the verify step makes the engine's
    // result exactly {pairs with J >= t} whenever LSH recall is 1 over
    // the thresholded pairs — deterministic for the fixed hash family,
    // and verified empirically at sf0.01 and sf0.1 (threshold 0.85 is
    // inside the reliable region of the b=32/r=8 S-curve,
    // P(miss|J=0.85) ≈ 3.9e-5).
    // COST BOUND: this declared oracle is the O(n²) list_intersect pair
    // join — ~1 s in DuckDB at sf0.01 (the gate's sf) but measured
    // >40 min at sf0.1. The sf0.1 equality claim above was established
    // with the cheaper cross-checks in scripts/ (numpy 1024-perm
    // minhash prefilter + exact set verify), NOT by running this SQL at
    // sf0.1. An inverted-index form is not declared here because char-5
    // shingles of same-language text collide heavily (posting lists in
    // the thousands → the gram self-join explodes); the word-3-gram
    // x04 oracle below IS the inverted-index form.
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, $charShinglesSql AS g FROM norm),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         round(len(list_intersect(a.g, b.g))::DOUBLE /
       |               (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))::DOUBLE, 6) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(a.g) > 0 AND len(b.g) > 0)
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.85
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.minhashNearDup(docs(s, dir), "doc_id", "text",
        shingleLen = 5, bands = 32, rowsPerBand = 8, minJaccard = 0.85,
        verifyExact = true)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x03 SimHash near-dup pairs within Hamming distance 5 of 60.
    * chunks = 6 > maxHamming keeps the pigeonhole recall guarantee
    * (some chunk must be untouched). Declared over the portable md5-60
    * hash family, so the DuckDB oracle recomputes every simhash
    * brute-force and the result is ground-truth-checked (the xx64 fast
    * path keeps its pinned ScalaTest coverage). */
  val x03 = query("x03_simhash_neardup",
    // Brute-force ground truth for the 60-bit portable simhash: every
    // doc's sketch recomputed from scratch (word counts → md5-60 bit
    // votes), every pair's Hamming distance checked — the engine's
    // chunk-bucket join must reproduce this exactly (pigeonhole recall
    // is 1.0 for hamming ≤ 5 < 6 chunks, and the hash family is
    // identical by construction).
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${wordsSql("text")}) AS w FROM documents),
       |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
       |hv AS (SELECT doc_id, ${md5Hash60Sql("w")} AS hv, c FROM wc),
       |sk AS (SELECT doc_id, $simhashBitsSql AS sk FROM hv GROUP BY doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.sk, b.sk)) AS INT) AS hamming
       |  FROM sk a JOIN sk b ON a.doc_id < b.doc_id) t
       |WHERE hamming <= 5 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.simhashNearDup(docs(s, dir), "doc_id", "text",
        maxHamming = 5, chunks = 6, portableMd5 = true)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x04 word-3-gram Jaccard near-dup with bottom-k prefix filter.
    * prefixK=8: P(two docs at J share none of their bottom-8 hashes)
    * ≈ (1-J)^8 ≈ 2.6e-6 at the corpus's planted J ≥ 0.8 — recall-safe
    * margin for the brute-force oracle (equality verified empirically
    * at sf0.01 and sf0.1). */
  val x04 = query("x04_ngram_jaccard_neardup",
    // Ground truth for prefix-filtered n-gram Jaccard: exact word-3-gram
    // Jaccard via an INVERTED-INDEX join (gram self-join counts the
    // intersection; grams are distinct per doc so count(*) = |A∩B|).
    // Exactly equivalent to the brute-force pair join — any pair with
    // J >= 0.2 > 0 shares a gram, so no qualifying pair is missed — but
    // near-linear in corpus size: this repo's validated cross-check
    // form, promoted to the declared oracle so the gate stays cheap at
    // any sf (the brute-force list_intersect form took >40 min at
    // sf0.1; this runs in seconds).
    s"""WITH $ngramPairsCteSql
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.ngramJaccardNearDup(docs(s, dir), "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x05 embedding-cosine near-dup via hyperplane LSH buckets. */
  val x05 = query("x05_embedding_neardup",
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket
       |  FROM embeddings WHERE len(embedding) = 64)
       |SELECT doc_a, doc_b, cosine FROM (
       |  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
       |         round(list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[]), 6) AS cosine
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id) t
       |WHERE cosine >= 0.15 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.embeddingNearDup(emb(s, dir), "vec_id", "embedding",
        minCosine = 0.15, nPlanes = 6)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def queryVectors(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  /** x06 brute-force exact cosine top-10 for 5 query vectors. */
  val x06 = query("x06_cosine_topk_bruteforce",
    """SELECT query_id, vec_id, cosine, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine,
      |         row_number() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
      |                    c.vec_id) AS rank
      |  FROM embeddings c CROSS JOIN embeddings q WHERE q.vec_id < 5) t
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    Similarity.bruteForceTopK(emb(s, dir), queryVectors(s, dir), k = 10)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x07 LSH-bucketed ANN top-10 (approximate recall, exact rescoring
    * inside the probed bucket). */
  val x07 = query("x07_cosine_topk_lsh",
    // replays lshTopK's conditional multi-probe: a query whose primary
    // bucket holds < k corpus vectors additionally probes every
    // Hamming-1 bucket (one-bit flips of the 6-bit code)
    s"""WITH c AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS query_vec, ${bucketSql("embedding", 6)} AS bucket
       |  FROM embeddings WHERE vec_id < 5),
       |cnt AS (SELECT bucket, count(*) AS n FROM c GROUP BY bucket),
       |probe AS (
       |  SELECT query_id, query_vec, unnest(
       |    CASE WHEN coalesce(cnt.n, 0) < 10
       |         THEN list_prepend(q.bucket, list_transform(range(0, 6), p -> xor(q.bucket, (1 << p)::INT)))
       |         ELSE [q.bucket] END) AS bucket
       |  FROM q LEFT JOIN cnt ON q.bucket = cnt.bucket),
       |ranked AS (
       |  SELECT p.query_id, c.vec_id,
       |         round(list_cosine_similarity(p.query_vec::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
       |         row_number() OVER (
       |           PARTITION BY p.query_id
       |           ORDER BY round(list_cosine_similarity(p.query_vec::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
       |                    c.vec_id) AS rank
       |  FROM c JOIN probe p ON c.bucket = p.bucket)
       |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    Similarity.lshTopK(emb(s, dir), queryVectors(s, dir), k = 10, nPlanes = 6)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x08 language-ID confusion matrix (n-gram/stopword heuristic vs the
    * labeled lang column). */
  val x08 = query("x08_lang_id_confusion",
    s"""WITH $langPredCteSql
       |SELECT lang, lang_pred, count(*) AS n FROM p
       |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin) { (s, dir) =>
    TextAnalysis.langConfusion(docs(s, dir))
  }

  /** x09 per-doc quality score, bucketed distribution. */
  val x09 = query("x09_quality_score_hist",
    s"""WITH ${qualityCteSql("doc_id")}
       |SELECT CAST(FLOOR(q * 10) AS INT) AS q_bucket, count(*) AS n
       |FROM q GROUP BY q_bucket ORDER BY q_bucket""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(floor(qualityScore(col("text")) * 10).cast("int").as("q_bucket"))
      .groupBy(col("q_bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("q_bucket"))
  }

  /** x10 per-doc whitespace token count. */
  val x10 = query("x10_token_count",
    """SELECT doc_id, len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** x11 per-doc content fingerprint (bottom-16 shingle hashes over
    * the portable md5-60 family), surfaced as the comma-joined hash
    * list so the DuckDB oracle verifies every element — not just a
    * rows-only count. */
  val x11 = query("x11_fingerprint",
    // Element-exact fingerprint replica: same shingles, same md5-60
    // hashes, same bottom-16 — string-joined so every element is
    // value-compared by the gate.
    s"""$fingerprintCteSql
       |SELECT doc_id,
       |       array_to_string(list_transform(hs[1:16], x -> CAST(x AS VARCHAR)), ',') AS fp
       |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"),
        array_join(fingerprintMd5(col("text")).cast("array<string>"), ",").as("fp"))
      .orderBy(col("doc_id"))
  }

  /** x12 multimodal feature extraction: binary payload → batched
    * per-partition features (byte histogram real, decode dims
    * stubbed — see Multimodal scaladoc). */
  val x12 = query("x12_multimodal_features",
    // The stub decode dims derive from 6-hex-digit md5 slices; DuckDB
    // parses them via the '0x...' string-cast.
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |       CAST(strlen(text) AS BIGINT) AS byte_len,
      |       md5(text) AS content_hash,
      |       CAST(64 + (CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 1024) AS INT) AS width,
      |       CAST(64 + (CAST('0x' || substr(md5(text), 7, 6) AS BIGINT) % 1024) AS INT) AS height,
      |       CAST(1 + (CAST('0x' || substr(md5(text), 13, 6) AS BIGINT) % 64) AS INT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
    Multimodal.extractFeatures(
        Multimodal.asMedia(docs(s, dir), "doc_id", "text", "text", "source"))
      .toDF()
      .select(col("media_id"), col("byte_len"), col("content_hash"),
        col("width"), col("height"), col("n_frames"))
      .orderBy(col("media_id"))
  }

  /** x13 JSON scalar extraction with a real parser (C14 `from_json`;
    * the oracle reaches the same value through a portable regex —
    * props is always `{"k": <int>}`). */
  val x13 = query("x13_json_props_agg",
    """SELECT event_type, CAST(SUM(CAST(regexp_extract(props, '[0-9]+', 0) AS INT)) AS BIGINT) AS sum_k,
      |       count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), lit("STRUCT<k: INT>")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** x14 keyed upsert/merge (J5, the plain-Spark MERGE): pending
    * orders merge into the finished snapshot by order key — source
    * wins, unmatched target rows survive. */
  val x14 = query("x14_keyed_upsert",
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus FROM orders t
      |WHERE o_orderstatus = 'F' AND NOT EXISTS (
      |  SELECT 1 FROM orders s WHERE s.o_orderstatus = 'P' AND s.o_orderkey = t.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val target = o.filter(col("o_orderstatus") === "F")
    val source = o.filter(col("o_orderstatus") === "P")
    CatalogTransforms.upsert(target, source, "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /** x15 keyed last-wins dedup (A4) with deterministic tie-breaks. */
  val x15 = query("x15_lastwins_dedup",
    """SELECT o_custkey, o_orderkey FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    CatalogTransforms.lastWinsByKey(
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")),
        "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"))
      .orderBy(col("o_custkey"))
  }

  /** x16 delete-set detection (J2): "existing" customers whose key is
    * absent from the incoming batch (orders placed before 1996) — the
    * reference's vanished-stop shape over the fixture tables. */
  val x16 = query("x16_delete_set",
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    CatalogTransforms.deleteSet(
        Tables.load(s, dir, "customer").select(col("c_custkey")),
        Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
          .select(col("o_custkey").as("c_custkey")),
        "c_custkey")
      .orderBy(col("c_custkey"))
  }

  /** x17 backward as-of join (events → each user's latest order at or
    * before the event time), composed as one keyed window pass. */
  val x17 = query("x17_asof_join",
    """SELECT e.event_id,
      |       (SELECT o.o_orderkey FROM orders o
      |         WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS o_orderkey
      |FROM events e ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    Joins.asOfBackward(
        Tables.load(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey")),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        rightTieBreak = Seq("o_orderkey"))
      .select(col("event_id"), col("o_orderkey"))
      .orderBy(col("event_id"))
  }

  /** x18 salted skew join — result must equal the plain equi-join. */
  val x18 = query("x18_salted_join",
    """SELECT c.c_mktsegment, o.o_orderpriority, count(*) AS n
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment, o.o_orderpriority
      |ORDER BY c.c_mktsegment, o.o_orderpriority""".stripMargin) { (s, dir) =>
    Joins.saltedEquiJoin(
        Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("k"), col("o_orderpriority")),
        Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment")),
        key = "k", saltFactor = 8)
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  /** x19 binned range join: lineitems shipped within one day of any
    * URGENT order's date, counted per priority — a keyless interval
    * join turned into a bucket equi-join. (The priority filter bounds
    * the genuinely quadratic-ish day-cluster pair count: every
    * order×lineitem pair sharing a calendar day matches.) */
  val x19 = query("x19_range_join",
    """SELECT o.o_orderpriority, count(*) AS n
      |FROM orders o JOIN lineitem l
      |  ON l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate < o.o_orderdate + INTERVAL 1 DAY
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
    Joins.binnedRangeJoin(
        Tables.load(s, dir, "lineitem").select(col("l_shipdate")),
        Tables.load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(
            col("o_orderdate").as("win_start"),
            (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("win_end"),
            col("o_orderpriority")),
        leftTime = "l_shipdate", rightStart = "win_start", rightEnd = "win_end",
        binSeconds = 86400L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** x20 approximate aggregates, value-checked — the 100 TB fallback
    * for exact count-distinct (q09) and sort-based percentiles (q30):
    * HLL++ and t-digest-style sketches combine map-side, so the
    * shuffle carries one small sketch per group instead of the raw
    * column. DuckDB's approx algorithms differ by design, so the
    * sketch VALUES can't be oracled; instead the exact siblings are
    * hash-checked outright and each sketch is checked through a pinned
    * error-bound flag the oracle expects to be uniformly TRUE:
    * HLL++ at default rsd 5% must land within max(15%, ±8) of exact
    * (≈3σ), percentile_approx at accuracy 1000 within 2% of the exact
    * median. A sketch drifting past its documented accuracy flips the
    * flag and fails the gate (the x53/x42 calibration pattern). */
  val x20 = query("x20_approx_aggregates",
    // Exact columns checked outright; the sketch columns surface as
    // error-bound flags the oracle pins to TRUE (x20 scaladoc).
    """SELECT o_orderpriority,
      |       count(DISTINCT o_custkey) AS exact_custs,
      |       round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
      |       count(*) AS n,
      |       TRUE AS hll_ok,
      |       TRUE AS tdigest_ok
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count_distinct(col("o_custkey")).as("exact_custs"),
        approx_count_distinct(col("o_custkey")).as("__hll"),
        round(percentile(col("o_totalprice"), lit(0.5)), 2).as("p50_exact"),
        round(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)), 2).as("__td"),
        count(lit(1)).as("n"))
      .select(
        col("o_orderpriority"), col("exact_custs"), col("p50_exact"), col("n"),
        (abs(col("__hll") - col("exact_custs")).cast("double") <=
          greatest(col("exact_custs").cast("double") * lit(0.15), lit(8.0))).as("hll_ok"),
        (abs(col("__td") - col("p50_exact")) <=
          col("p50_exact") * lit(0.02)).as("tdigest_ok"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bench-only probe: x20's SCALE PATH in isolation — the sketches
    * without their exact calibration siblings. x20's declared query
    * deliberately pairs each sketch with its exact counterpart
    * (count_distinct, sort-based percentile) so the oracle can pin the
    * error bound; those exact siblings dominate its bench time but are
    * calibration cost, not what a 100 TB run executes. This variant is
    * what production runs: one small combinable sketch per group on the
    * shuffle. Timed by Bench under "probes" (never part of the headline
    * or the correctness gate — it has no oracle entry by design). */
  def x20SketchOnly(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        approx_count_distinct(col("o_custkey")).as("approx_custs"),
        round(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)), 2)
          .as("p50_approx"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** x21 column profiling over documents (data-quality stats in one
    * aggregation pass, unpivoted to long format). */
  val x21 = query("x21_column_profile",
    """SELECT * FROM (
      |  SELECT 'doc_id' AS "column", count(doc_id) AS n_non_null,
      |         count(*) - count(doc_id) AS n_null, count(DISTINCT doc_id) AS n_distinct,
      |         CAST(min(doc_id) AS VARCHAR) AS min_str, CAST(max(doc_id) AS VARCHAR) AS max_str
      |  FROM documents
      |  UNION ALL
      |  SELECT 'lang', count(lang), count(*) - count(lang), count(DISTINCT lang),
      |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
      |  UNION ALL
      |  SELECT 'n_chars', count(n_chars), count(*) - count(n_chars), count(DISTINCT n_chars),
      |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
      |  UNION ALL
      |  SELECT 'source', count(source), count(*) - count(source), count(DISTINCT source),
      |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
      |) ORDER BY "column"""".stripMargin) { (s, dir) =>
    Profile.profile(docs(s, dir), Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy(col("column"))
  }

  /** x22 IVF ANN top-10 with a TRAINED k-means coarse quantizer
    * (nProbe=3 of 8 lists, deterministic: fixed seed). The Lloyd
    * iterations run Spark-side; the RESULTING centroids are exported
    * as literals and assignment/probe/rank then run through the same
    * fixed-centroid machinery as x26 — so the DuckDB oracle replays
    * the complete query from the exported constants (its rendered
    * oracle below) and the output is value-checked, not
    * rows-only. Training is cached per sf dir (index-build-once,
    * query-many — also what a production IVF does); the degenerate-
    * vector screen matches x26's. */
  val x22 = renderedQuery("x22_cosine_topk_ivf",
    // The replay embeds the centroids x22 trains Spark-side, so it
    // renders only after x22 ran in this JVM — Verify's order
    // (queries dump first, oracle json second). Before that it is
    // absent, and the correctness gate falls back to a rows-only check
    // rather than replaying stale constants.
    x22LastDir.flatMap(d => Option(x22Cache.get(d)))
      .map(c => ivfTopKSql(centValuesSqlFor(c)))) { (s, dir) =>
    val cents = x22Centroids(s, dir)
    val indexed = Similarity.ivfAssignFixed(validEmb(s, dir), cents)
    val qv = validEmb(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.ivfTopK(indexed, cents, qv, k = 10, nProbe = 3)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Finite-norm dim-64 embeddings — the shared degenerate-vector
    * screen of the IVF queries (zero-norm vectors diverge between
    * engines: Spark cosine → null, DuckDB list_cosine_similarity →
    * -1.0). */
  private def validEmb(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    emb(s, dir).filter(
      size(col("embedding")) === 64 &&
      dot_product(col("embedding"), col("embedding")) > 0)
  }

  private val x22Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  @volatile private var x22LastDir: Option[String] = None

  /** Train (once per dir per JVM) and export x22's coarse quantizer. */
  private[graft] def x22Centroids(s: SparkSession, dir: String): Array[Array[Float]] = {
    val c = x22Cache.computeIfAbsent(dir,
      _ => Similarity.ivfIndex(validEmb(s, dir), nLists = 8)._1)
    x22LastDir = Some(dir)
    c
  }

  /** x23 fingerprint-identity near-dup pairs: docs with an identical
    * bottom-16 shingle sketch (exact dups plus the closest near-dups —
    * P(identical sketch) ≈ J^16). Declared over the portable md5-60
    * family so the DuckDB oracle recomputes the sketches and joins on
    * exact fingerprint equality — full ground truth. */
  val x23 = query("x23_fingerprint_dup",
    s"""$fingerprintCteSql,
       |fp AS (SELECT doc_id, hs[1:16] AS fp FROM h WHERE ng > 0)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    TextAnalysis.fingerprintDup(docs(s, dir), portableMd5 = true)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x24 per-vector L2 norm (the degenerate-embedding screen run
    * before ANN indexing): exercises the native dot_product expression
    * end-to-end with a DuckDB oracle. */
  val x24 = query("x24_embedding_norms",
    """SELECT vec_id,
      |       round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import graft.functions.VectorFunctions.dot_product
    emb(s, dir)
      .select(col("vec_id"),
        round(sqrt(dot_product(col("embedding"), col("embedding"))), 6).as("l2"))
      .orderBy(col("vec_id"))
  }

  /** x25 int8 embedding quantization (the 4×-smaller storage format
    * for vector corpora): native quantize_i8 expression, checksummed
    * per vector as the L1 norm of the quantized values so the oracle
    * can verify every element without comparing byte arrays. */
  val x25 = query("x25_embedding_quantize_i8",
    // Element-exact replica of the symmetric int8 quantization:
    // q_i = floor(x_i * 127/max|x| + 0.5) clamped to ±127, L1-summed.
    // float→DOUBLE[] widening is exact, so both engines compute
    // identical doubles and floor identically.
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS mx
      |  FROM embeddings)
      |SELECT vec_id,
      |       CASE WHEN mx > 0 THEN
      |         CAST(list_sum(list_transform(v, x ->
      |           abs(GREATEST(-127.0, LEAST(127.0, floor(x * (127.0 / mx) + 0.5)))))) AS BIGINT)
      |       END AS q_l1
      |FROM e ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import graft.functions.VectorFunctions.quantize_i8
    emb(s, dir)
      .select(col("vec_id"),
        aggregate(quantize_i8(col("embedding")), lit(0),
          (acc, v) => acc + abs(v).cast("int")).as("q_l1"))
      .orderBy(col("vec_id"))
  }

  /** x26 training-free IVF ANN top-10: seeded random centroid literals
    * (no k-means pass), argmin-cosine list assignment, nProbe=3 of 8
    * lists scored per query. Unlike the k-means x22, every step is
    * recomputable from the declared centroid literals — the DuckDB
    * oracle replays assignment, probing and ranking exactly. */
  val x26 = query("x26_cosine_topk_ivf_fixed",
    ivfTopKSql(centValuesSql(8))) { (s, dir) =>
    val cents = Similarity.fixedCentroids(nLists = 8, dim = 64)
    // ivfAssignFixed's contract: the CALLER screens degenerate vectors
    // — validEmb is that screen, and the oracle applies the identical
    // predicate.
    val indexed = Similarity.ivfAssignFixed(validEmb(s, dir), cents)
    val qv = validEmb(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.ivfTopK(indexed, cents, qv, k = 10, nProbe = 3)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x27 benchmark-contamination screen: corpus docs (id ≥ 10) holding
    * any word-5-gram of the "benchmark" docs (id < 10) — the standard
    * eval-decontamination pass. Benchmark grams broadcast; oracle
    * replays the same distinct-gram inner join. */
  val x27 = query("x27_contamination_screen",
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(5)} AS g FROM toks),
       |bench AS (SELECT DISTINCT unnest(g) AS gram FROM ng WHERE doc_id < 10),
       |corp AS (SELECT doc_id, unnest(g) AS gram FROM ng WHERE doc_id >= 10)
       |SELECT c.doc_id, count(*) AS n_hits
       |FROM corp c JOIN bench b ON c.gram = b.gram
       |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.contaminationScreen(
        d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10), ngram = 5)
      .orderBy(col("doc_id"))
  }

  /** x28 near-dup clustering: connected components (iterative
    * min-label propagation) over the exact-verified x04 pair relation
    * — pairwise evidence → one cluster id per involved doc. The
    * DuckDB oracle computes the same closure with WITH RECURSIVE over
    * the identical edge set. */
  val x28 = query("x28_neardup_clusters",
    // Transitive closure over the SAME pair relation the x04 oracle
    // declares: reach(node, r) grows by one edge hop per recursion
    // round (UNION dedups → termination), then min(r) per node is the
    // component minimum — exactly what min-label propagation converges
    // to.
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r)
       |SELECT node AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.connectedComponents(
        Dedup.ngramJaccardNearDup(docs(s, dir), "doc_id", "text",
          ngram = 3, prefixK = 8, minJaccard = 0.2))
      .orderBy(col("doc_id"))
  }

  /** x29 Gopher-style repetition filter: fraction of each doc's word
    * bigram occurrences taken by its most frequent bigram. */
  val x29 = query("x29_repetition_filter",
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(2, distinct = false)} AS g FROM toks),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM ng),
       |gc AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY doc_id, gram)
       |SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_gram_ratio
       |FROM gc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.repetitionRatio(docs(s, dir), ngram = 2)
      .orderBy(col("doc_id"))
  }

  /** x30 deterministic train/val/test split (80/10/10 by md5-60 of the
    * doc id — reproducible across runs/engines/partitionings, unlike
    * randomSplit), summarized per (split, lang). */
  val x30 = query("x30_dataset_split",
    // Same md5-60 bucket the engine computes via built-ins
    // (conv(substr(md5,1,15),16,10) % 100); integer SUM cast to BIGINT
    // per the DuckDB-HUGEINT/pandas rule.
    s"""SELECT split, lang, count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
       |FROM (
       |  SELECT lang, n_chars,
       |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT lang, n_chars,
       |               ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS b
       |        FROM documents) t) s
       |GROUP BY split, lang ORDER BY split, lang""".stripMargin) { (s, dir) =>
    TextAnalysis.datasetSplit(docs(s, dir), "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** x31 deterministic sequence packing: 2048-token packs per language
    * (chunked-cumsum assignment), summarized per pack. */
  val x31 = query("x31_sequence_packing",
    // Window-cumsum pack assignment replayed with the x10-validated
    // token count; both engines divide in double and floor.
    """WITH t AS (
      |  SELECT lang, doc_id,
      |         len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT lang, n_tokens,
      |         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048.0) AS BIGINT) AS pack_id
      |  FROM t)
      |SELECT lang, pack_id, count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
      |FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin) { (s, dir) =>
    TextAnalysis.packSequences(docs(s, dir), budget = 2048)
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy(col("lang"), col("pack_id"))
  }

  /** x32 top term per document by TF-IDF-style relevance. The idf is
    * the RATIONAL form tf·N/df rather than tf·log(N/df): log is
    * computed by libm and not guaranteed correctly rounded, so its
    * last-ulp could differ across engines and flip near-tie rankings —
    * the rational score is one exact-operand double division on both
    * engines, bit-identical, and order-equivalent for ranking within a
    * fixed N. Ranking uses the UNROUNDED score (rounding first could
    * manufacture ties the engines then break differently); only the
    * output is rounded. */
  val x32 = query("x32_top_terms",
    // Rational-idf replica: (tf·N)::DOUBLE / df::DOUBLE is the same
    // exact-operand division Spark computes; ranking on the unrounded
    // score with the identical (s DESC, token DESC) tie-break.
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${wordsSql("text")}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
       |n AS (SELECT count(*) AS nd FROM documents),
       |scored AS (
       |  SELECT t.doc_id, t.token, (t.tf * n.nd)::DOUBLE / d.df::DOUBLE AS s
       |  FROM tf t JOIN dfreq d USING (token) CROSS JOIN n),
       |r AS (SELECT doc_id, token, s,
       |             row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, token DESC) AS rn
       |      FROM scored)
       |SELECT doc_id, token AS top_term, round(s, 6) AS score
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val nDocs = d.agg(count(lit(1)).as("__nd"))
    // ONE tokenize/explode pass: tf is materialized and both consumers
    // (the score join and the document-frequency agg) derive from it —
    // tf already has one row per (doc_id, token), so counting rows per
    // token IS df, with no second scan/explode/distinct of the corpus.
    val tf = d.select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_, "ExtensionQueries.x32: tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "token")
      .join(broadcast(nDocs))
      .withColumn("s", col("tf") * col("__nd") / col("df"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("s"), col("token"))).as("m"))
      .select(col("doc_id"), col("m.token").as("top_term"),
        round(col("m.s"), 6).as("score"))
      .orderBy(col("doc_id"))
  }

  /** x33 fixed-window chunking with overlap (window 200, stride 150):
    * every chunk is value-checked via its md5 — the oracle regenerates
    * the identical stride grid with generate_series. */
  val x33 = query("x33_doc_chunking",
    // Identical stride grid (1, 151, 301, …), identical 1-based clipping
    // substr semantics, md5 per chunk — every chunk value-checked.
    """WITH c AS (
      |  SELECT doc_id, unnest(generate_series(1, length(text), 150)) AS start, text
      |  FROM documents WHERE text IS NOT NULL AND length(text) > 0)
      |SELECT doc_id, CAST(FLOOR((start - 1) / 150) AS INT) AS chunk_id, start,
      |       length(substr(text, start, 200)) AS chunk_len,
      |       md5(substr(text, start, 200)) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    TextAnalysis.chunkDocuments(docs(s, dir), window = 200, stride = 150)
      .select(col("doc_id"), col("chunk_id"), col("start"), col("chunk_len"),
        md5(col("chunk")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** x34 boilerplate screen: fraction of each doc's distinct word
    * bigrams that appear in ≥ 5% of documents. The threshold is
    * relative (integer-compared), so the query is meaningful at every
    * sf. */
  val x34 = query("x34_boilerplate_screen",
    // df·100 >= n_docs·5 in integer arithmetic on both sides; grams are
    // distinct per doc so rows-per-gram IS document frequency.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(2)} AS g FROM toks),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM ng),
       |dfreq AS (SELECT gram, count(*) AS df FROM ex GROUP BY gram),
       |nd AS (SELECT count(*) AS n FROM documents)
       |SELECT ex.doc_id, count(*) AS n_grams,
       |       CAST(SUM(CASE WHEN dfreq.df * 100 >= nd.n * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |       round(CAST(SUM(CASE WHEN dfreq.df * 100 >= nd.n * 5 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
       |             / count(*)::DOUBLE, 6) AS boiler_frac
       |FROM ex JOIN dfreq ON ex.gram = dfreq.gram CROSS JOIN nd
       |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.boilerplateScreen(docs(s, dir), ngram = 2, minDfPct = 5)
      .orderBy(col("doc_id"))
  }

  /** x35 deterministic balanced downsampling: at most 50 docs per
    * language, chosen by md5-60 hash order — reproducible across
    * engines (oracle replays the same rank). */
  val x35 = query("x35_balanced_sample",
    // Same md5-60 hash order, same (hash, key) tiebreak, same cap.
    """WITH h AS (
      |  SELECT doc_id, lang, n_chars,
      |         CAST('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 15) AS BIGINT) AS hb
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rk
      |  FROM h)
      |SELECT lang, rk, doc_id, n_chars FROM r WHERE rk <= 50
      |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
    TextAnalysis.balancedSample(docs(s, dir), "doc_id", "lang", cap = 50)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  /** x36 vocabulary Zipf head: top-20 tokens by corpus count with
    * cumulative coverage; exact-BIGINT division keeps cum_frac
    * bit-identical across engines. */
  val x36 = query("x36_vocab_zipf",
    // cum_frac = prefix-sum / corpus total, both exact BIGINTs before
    // ONE double division — bit-identical across engines.
    s"""WITH toks AS (SELECT unnest(${wordsSql("text")}) AS token FROM documents),
       |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM counts),
       |ranked AS (
       |  SELECT token, cnt,
       |         row_number() OVER (ORDER BY cnt DESC, token) AS rank
       |  FROM counts)
       |SELECT rank, token, cnt,
       |       round(CAST(sum(cnt) OVER (ORDER BY rank
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)::DOUBLE
       |             / t::DOUBLE, 6) AS cum_frac
       |FROM ranked CROSS JOIN tot WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, dir) =>
    TextAnalysis.vocabStats(docs(s, dir), topK = 20)
  }

  /** x37 cross-source contamination matrix: distinct word-3-grams
    * shared between every source pair, with the gram-set Jaccard —
    * all-pairs leakage audit over the md5-60 hash family (the oracle
    * recomputes every gram hash, so shared counts are value-checked,
    * not just row counts). */
  val x37 = query("x37_cross_source_overlap",
    // Every gram hash is recomputed (md5-60 over the identical word-3-
    // gram strings), so shared counts and Jaccards are value-checked.
    // The gram self-join is keyed on the hash: posting lists are ≤ 1
    // row per SOURCE, so fan-out is bounded by sources², not docs².
    s"""WITH toks AS (SELECT source, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT source, ${wordNgramsSql(3)} AS g FROM toks),
       |gh AS (
       |  SELECT DISTINCT source AS grp, ${md5Hash60Sql("gram")} AS h
       |  FROM (SELECT source, unnest(g) AS gram FROM ng) t),
       |sizes AS (SELECT grp, count(*) AS sz FROM gh GROUP BY grp),
       |shared AS (
       |  SELECT a.grp AS src_a, b.grp AS src_b, count(*) AS shared
       |  FROM gh a JOIN gh b ON a.h = b.h AND a.grp < b.grp
       |  GROUP BY a.grp, b.grp)
       |SELECT s.src_a, s.src_b, CAST(s.shared AS BIGINT) AS shared,
       |       round(s.shared::DOUBLE / (x.sz + y.sz - s.shared)::DOUBLE, 6) AS jaccard
       |FROM shared s
       |JOIN sizes x ON s.src_a = x.grp
       |JOIN sizes y ON s.src_b = y.grp
       |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
    TextAnalysis.crossGroupOverlap(docs(s, dir), "source", "text", ngram = 3)
      .orderBy(col("src_a"), col("src_b"))
  }

  /** x38 ANN index health: per hyperplane-LSH bucket (the x05/x07
    * index geometry), population and L2-norm range — the bucket-skew
    * histogram that predicts probe cost before any query runs. */
  val x38 = query("x38_lsh_bucket_profile",
    // Norms are min/max'd UNROUNDED (min/max commute with the final
    // round); sqrt is IEEE-correctly-rounded on both engines, unlike
    // libm transcendentals, so the values are bit-identical.
    s"""WITH b AS (
       |  SELECT ${bucketSql("embedding", 6)} AS bucket,
       |         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings WHERE len(embedding) = 64)
       |SELECT bucket, count(*) AS n,
       |       round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    Similarity.bucketProfile(emb(s, dir), "embedding", nPlanes = 6, dim = 64)
      .orderBy(col("bucket"))
  }

  /** x39 percentile length trim: keep docs within [p05, p95] of the
    * corpus n_chars distribution, reported per language. Thresholds
    * are one broadcast aggregate; DISCRETE percentiles return actual
    * n_chars values, so the keep predicate compares exact integers on
    * both engines (no interpolation hazard). */
  val x39 = query("x39_length_trim",
    // percentile_disc returns an actual n_chars value (exact BIGINT) —
    // the keep predicate compares integers, no interpolation hazard.
    """WITH bounds AS (
      |  SELECT percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
      |         percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi
      |  FROM documents)
      |SELECT lang, count(*) AS total,
      |       CAST(SUM(CASE WHEN n_chars >= lo AND n_chars <= hi THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |       CAST(SUM(CASE WHEN n_chars >= lo AND n_chars <= hi THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM documents CROSS JOIN bounds
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    TextAnalysis.lengthTrim(docs(s, dir), lo = 0.05, hi = 0.95)
      .orderBy(col("lang"))
  }

  /** x40 conversion funnel over per-(user, day) ordered event
    * sequences: deepest view→click→purchase prefix reached, counted
    * per depth. Sequence order is (ts, event_id) — total because event
    * ids are unique — built as ONE collect_list hash agg (no window
    * shuffle); the oracle replays it with an ordered string_agg. */
  val x40 = query("x40_event_funnel",
    // Ordered string_agg replays the engine's (ts, event_id) struct
    // sort — keyed on epoch_us(ts) because the engine reads the ns
    // parquet timestamps µs-truncated: a ns-preserving DuckDB ordering
    // raw ts could break same-µs ties differently than (µs, event_id).
    // The item-anchored subsequence regexes come from the SAME builder
    // as the engine's (Sequences.subsequenceRegex) — one rendering of
    // the containment contract, legal in both RE2 and java.util.regex.
    {
      import graft.operators.Sequences.subsequenceRegex
      val st = Seq("view", "click", "purchase")
      s"""WITH s AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |         string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq
         |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
         |st AS (
         |  SELECT CASE WHEN regexp_matches(seq, '${subsequenceRegex(st)}') THEN 3
         |              WHEN regexp_matches(seq, '${subsequenceRegex(st.take(2))}') THEN 2
         |              WHEN regexp_matches(seq, '${subsequenceRegex(st.take(1))}') THEN 1
         |              ELSE 0 END AS funnel_stage
         |  FROM s)
         |SELECT funnel_stage, count(*) AS user_days FROM st
         |GROUP BY funnel_stage ORDER BY funnel_stage""".stripMargin
    }) { (s, dir) =>
    graft.operators.Sequences.funnel(
        Tables.load(s, dir, "events"), Seq("view", "click", "purchase"))
      .orderBy(col("funnel_stage"))
  }

  /** x41 per-doc MinHash signature over the salted-md5 family: every
    * slot of every signature is value-checked by the oracle (DuckDB
    * recomputes all k salted minima brute-force) — the sketch itself
    * is under test, not just results derived from it (the xx64
    * signatures of x02 are only spec-pinned). */
  val x41 = query("x41_minhash_signatures",
    // Every slot of every signature recomputed brute-force: 16 salted
    // md5-60 minima per doc over all word-3-grams. The comma-joined
    // rendering value-checks each element (the x11 fingerprint
    // pattern).
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |$minhashSigCteSql
       |SELECT doc_id,
       |       array_to_string(list_transform(sg, x -> CAST(x AS VARCHAR)), ',') AS sig
       |FROM sigs ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.functions.ShingleFunctions.md5_ngram_minhash
    docs(s, dir)
      .select(col("doc_id"),
        md5_ngram_minhash(words(col("text")), 3, 16).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"),
        array_join(col("sig").cast("array<string>"), ",").as("sig"))
      .orderBy(col("doc_id"))
  }

  /** x42 sketch calibration: MinHash-estimated vs exact Jaccard on the
    * x04-verified near-dup pairs — |est − exact| quantifies the
    * k=16 signature's error empirically. est = agreement/16 is an
    * exact multiple of 2⁻⁴, so the unrounded double is bit-identical
    * across engines. */
  val x42 = query("x42_minhash_calibration",
    // est_j = slot-agreement/16 (exact multiple of 2^-4 — unrounded
    // doubles are bit-identical); exact jaccard comes from the same
    // inverted-index pair relation as x04/x28, so all three gates
    // check ONE edge set.
    s"""WITH $ngramPairsCteSql,
       |$minhashSigCteSql
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |       list_sum(list_transform(range(1, 17), i ->
       |         CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END))::DOUBLE / 16.0 AS est_j,
       |       round(abs(list_sum(list_transform(range(1, 17), i ->
       |         CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END))::DOUBLE / 16.0 - p.jaccard), 6) AS abs_err
       |FROM pairs p
       |JOIN sigs a ON p.doc_a = a.doc_id
       |JOIN sigs b ON p.doc_b = b.doc_id
       |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (s, dir) =>
    import graft.functions.ShingleFunctions.{md5_ngram_minhash, minhash_agreement}
    val d = docs(s, dir)
    val pairs = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2)
    val sigs = d
      .select(col("doc_id"), md5_ngram_minhash(words(col("text")), 3, 16).as("sig"))
      .filter(col("sig").isNotNull)
      // feeds both sides of the pair join
      .transform(Materialize(_, "ExtensionQueries.x42: sigs"))
    pairs
      .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (minhash_agreement(col("sig_a"), col("sig_b")) / lit(16.0)).as("est_j"))
      .withColumn("abs_err", round(abs(col("est_j") - col("jaccard")), 6))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x43 filter-funnel attribution: each doc lands on the FIRST rule
    * it fails (too_short → length_outlier → repetitive → boilerplate →
    * kept); output = per-rule doc and char counts. Rule predicates
    * compare the round-6 doubles already proven engine-identical by
    * x29/x34, plus exact-integer token and discrete-percentile length
    * thresholds. */
  val x43 = query("x43_filter_attribution",
    // The funnel CASE replays first-fail attribution over the exact
    // x29/x34 metric CTEs (multiset bigrams for repetition, distinct
    // bigrams for boilerplate — both round-6, engine-identical) plus
    // exact token/length thresholds.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ngm AS (SELECT doc_id, ${wordNgramsSql(2, distinct = false)} AS g FROM toks),
       |gc AS (SELECT doc_id, gram, count(*) AS c
       |       FROM (SELECT doc_id, unnest(g) AS gram FROM ngm) e GROUP BY doc_id, gram),
       |rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS r
       |        FROM gc GROUP BY doc_id),
       |ngd AS (SELECT doc_id, ${wordNgramsSql(2)} AS g FROM toks),
       |exd AS (SELECT doc_id, unnest(g) AS gram FROM ngd),
       |dfreq AS (SELECT gram, count(*) AS df FROM exd GROUP BY gram),
       |nd AS (SELECT count(*) AS n FROM documents),
       |boil AS (
       |  SELECT exd.doc_id,
       |         round(CAST(SUM(CASE WHEN dfreq.df * 100 >= nd.n * 5 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
       |               / count(*)::DOUBLE, 6) AS bf
       |  FROM exd JOIN dfreq ON exd.gram = dfreq.gram CROSS JOIN nd
       |  GROUP BY exd.doc_id),
       |bounds AS (
       |  SELECT percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
       |         percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi
       |  FROM documents)
       |SELECT verdict, count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars FROM (
       |  SELECT d.n_chars,
       |         CASE WHEN len(t.w) < 20 THEN 'too_short'
       |              WHEN d.n_chars < b.lo OR d.n_chars > b.hi THEN 'length_outlier'
       |              WHEN coalesce(rep.r, 0) > 0.06 THEN 'repetitive'
       |              WHEN coalesce(boil.bf, 0) > 0.95 THEN 'boilerplate'
       |              ELSE 'kept' END AS verdict
       |  FROM documents d
       |  JOIN toks t USING (doc_id)
       |  LEFT JOIN rep USING (doc_id)
       |  LEFT JOIN boil USING (doc_id)
       |  CROSS JOIN bounds b) s
       |GROUP BY verdict ORDER BY verdict""".stripMargin) { (s, dir) =>
    TextAnalysis.filterAttribution(docs(s, dir))
      .orderBy(col("verdict"))
  }

  /** x44 temperature resampling (T = 2) toward language balance: keep
    * rate (n_min/n_lang)^0.5 per stratum, applied as a deterministic
    * md5-60 hash gate — summarized per language. The sqrt path is
    * IEEE-correctly-rounded, so rates and thresholds are bit-identical
    * across engines. */
  val x44 = query("x44_temperature_resample",
    // Rates are sqrt of exact-BIGINT ratios (correctly rounded on both
    // engines); the keep gate replays the md5-60 mod-2^20 hash. The
    // kept SUM is value-checked per language.
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |m AS (SELECT min(n) AS mn FROM c),
       |r AS (SELECT lang, n,
       |             CAST(floor(sqrt(mn::DOUBLE / n::DOUBLE) * 1048576) AS BIGINT) AS th
       |      FROM c CROSS JOIN m),
       |k AS (SELECT d.lang,
       |             CASE WHEN ${md5Hash60Sql("CAST(doc_id AS STRING)")} % 1048576 < r.th
       |                  THEN 1 ELSE 0 END AS kept
       |      FROM documents d JOIN r USING (lang))
       |SELECT lang, count(*) AS n, CAST(SUM(kept) AS BIGINT) AS kept
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    TextAnalysis.temperatureResample(docs(s, dir), "doc_id", "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("__kept")).cast("bigint").as("kept"))
      .orderBy(col("lang"))
  }

  /** x45 SCD2 validity intervals over the event stream: each event's
    * type is valid [its second, next event's second) per user, open
    * for the latest. Epoch seconds are exact BIGINT floors of the µs
    * reads — stable across sub-second storage precisions. */
  val x45 = query("x45_scd2_intervals",
    // lead() over the µs-pinned (ts, event_id) order replays the
    // engine's window; epoch seconds are exact integer floors.
    """SELECT user_id, event_id, event_type,
      |       epoch_us(ts) // 1000000 AS valid_from_s,
      |       lead(epoch_us(ts)) OVER w // 1000000 AS valid_to_s
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |ORDER BY user_id, valid_from_s, event_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.validityIntervals(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      .orderBy(col("user_id"), col("valid_from_s"), col("event_id"))
  }

  /** x46 per-language quality top-5 via the bounded-heap TopKScored
    * aggregator: the exchange carries ≤ k rows per (partition, lang)
    * instead of every scored doc (the window formulation would shuffle
    * the corpus into one partition per language). Ranking uses the
    * UNROUNDED score (pure exact-operand arithmetic — bit-identical on
    * any engine; round() last-ulp behavior must not decide top-k
    * membership); only the output is rounded. Ties break on doc_id in
    * both the heap and the oracle's row_number. */
  val x46 = query("x46_quality_topk_per_lang",
    // Ranks on the UNROUNDED score qr (bit-identical exact-operand
    // arithmetic — round() ulp behavior must not pick top-k members);
    // row_number (qr DESC, doc_id) replays the heap's order, the
    // round-6 q is output-only.
    s"""WITH ${qualityCteSql("doc_id, lang")},
       |r AS (
       |  SELECT lang, doc_id, q,
       |         CAST(row_number() OVER (PARTITION BY lang ORDER BY qr DESC, doc_id)
       |              AS INTEGER) AS rank
       |  FROM q)
       |SELECT lang, rank, doc_id, q AS quality FROM r WHERE rank <= 5
       |ORDER BY lang, rank""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.qualityScoreRaw
    val topk = udaf(new graft.functions.TopKScored(5))
    docs(s, dir)
      .select(col("lang"), col("doc_id"), qualityScoreRaw(col("text")).as("q"))
      .filter(col("q").isNotNull) // typed aggregator: primitive score field
      .groupBy(col("lang"))
      .agg(topk(col("doc_id"), col("q")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), round(col("col.score"), 6).as("quality"))
      .orderBy(col("lang"), col("rank"))
  }

  /** x47 fully-auditable approximate near-dup: salted-md5 MinHash
    * banding with the agreement estimate as the score — the oracle
    * replays the ALGORITHM (signatures, band buckets, estimate),
    * banding misses included, so the approximate path itself is
    * value-checked with no ground-truth claim (x02's est path is
    * engine-only by contrast). */
  val x47 = query("x47_md5_minhash_neardup",
    // Replays the whole approximate algorithm: the same 16-slot salted
    // signatures, the same 4×4 band buckets (list-slice equality), the
    // same agreement estimate — engine and oracle miss the same pairs,
    // so the output matches exactly without any ground-truth claim.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |$minhashSigCteSql,
       |bnd AS (
       |  SELECT doc_id, b, sg[1 + b * 4 : 4 + b * 4] AS bs
       |  FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bnd a JOIN bnd b2
       |    ON a.b = b2.b AND a.bs = b2.bs AND a.doc_id < b2.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |         list_sum(list_transform(range(1, 17), i ->
       |           CASE WHEN x.sg[i] = y.sg[i] THEN 1 ELSE 0 END))::DOUBLE / 16.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sigs x ON c.doc_a = x.doc_id
       |  JOIN sigs y ON c.doc_b = y.doc_id)
       |SELECT doc_a, doc_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.md5MinhashNearDup(docs(s, dir), "doc_id", "text",
        ngram = 3, bands = 4, rowsPerBand = 4, minEst = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x48 PII redaction: emails → IPv4 → long digit runs scrubbed in
    * order; per-stage counts plus the md5 of the redacted text are
    * value-checked. The synthetic corpus carries no PII, so the query
    * PLANTS a deterministic email/IP/account tail on every doc — the
    * redaction behavior itself (span boundaries, rewrite order) is
    * what the oracle replays stage by stage. */
  val x48 = query("x48_pii_redaction",
    // Stage-by-stage replay of the sequential redaction: each stage's
    // count is measured on ITS input (= what the replace rewrote), and
    // the final md5 pins every rewritten byte. Patterns stay in the
    // Java-regex / RE2 common subset; DuckDB needs the explicit 'g'
    // flag Spark's regexp_replace implies.
    {
      val em = TextAnalysis.EmailRe
      val ip = TextAnalysis.Ipv4Re
      val num = TextAnalysis.LongNumRe
      s"""WITH t AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR)
         |              || '@mail.example.org ip 192.168.'
         |              || CAST(doc_id % 250 AS VARCHAR)
         |              || '.17 acct 90210' || CAST(doc_id AS VARCHAR) || '77001' AS tx
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |         CAST(len(regexp_extract_all(tx, '$em')) AS INT) AS n_emails,
         |         regexp_replace(tx, '$em', '<EMAIL>', 'g') AS t1 FROM t),
         |s2 AS (SELECT doc_id, n_emails,
         |         CAST(len(regexp_extract_all(t1, '$ip')) AS INT) AS n_ipv4,
         |         regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1),
         |s3 AS (SELECT doc_id, n_emails, n_ipv4,
         |         CAST(len(regexp_extract_all(t2, '$num')) AS INT) AS n_longnum,
         |         regexp_replace(t2, '$num', '<NUM>', 'g') AS t3 FROM s2)
         |SELECT doc_id, n_emails, n_ipv4, n_longnum, md5(t3) AS red_hash
         |FROM s3 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val injected = docs(s, dir).withColumn("text",
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org ip 192.168."),
        pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".17 acct 90210"), col("doc_id").cast("string"), lit("77001")))
    TextAnalysis.redactPii(injected)
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"),
        col("n_longnum"), md5(col("redacted")).as("red_hash"))
      .orderBy(col("doc_id"))
  }

  /** x49 span-level corpus dedup (CCNet/C4 paragraph-dedup shape):
    * 10-word spans occurring in ≥ 2 distinct docs are removed, docs
    * reassembled in order; the clean-text md5 pins the rewrite. */
  val x49 = query("x49_span_dedup",
    // Span cutting replayed with 1-based inclusive list slices (DuckDB
    // w[a:b] clamps past the end exactly like Spark's slice); document
    // frequency over the span md5; reassembly via ordered FILTERed
    // list — NULL when everything was removed, coalesced to '' to
    // match Spark's empty array_join.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |sp AS (
       |  SELECT doc_id,
       |         unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS span_id,
       |         w
       |  FROM toks WHERE len(w) > 0),
       |spans AS (
       |  SELECT doc_id, span_id,
       |         array_to_string(w[(span_id*10+1):(span_id*10+10)], ' ') AS span
       |  FROM sp),
       |dfreq AS (
       |  SELECT md5(span) AS h, count(DISTINCT doc_id) AS df
       |  FROM spans GROUP BY md5(span)),
       |rep AS (
       |  SELECT s.doc_id,
       |         count(*) AS n_spans,
       |         CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |         md5(coalesce(array_to_string(
       |           list(s.span ORDER BY s.span_id) FILTER (WHERE d.df < 2), ' '), ''))
       |           AS clean_hash
       |  FROM spans s JOIN dfreq d ON md5(s.span) = d.h
       |  GROUP BY s.doc_id)
       |SELECT d0.doc_id,
       |       coalesce(r.n_spans, 0) AS n_spans,
       |       coalesce(r.n_removed, 0) AS n_removed,
       |       coalesce(r.clean_hash, md5('')) AS clean_hash
       |FROM documents d0 LEFT JOIN rep r ON d0.doc_id = r.doc_id
       |ORDER BY d0.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.spanDedup(docs(s, dir), spanWords = 10, minDocDf = 2)
      .orderBy(col("doc_id"))
  }

  /** x50 salted two-phase aggregation over the skew-prone user key —
    * result-identical to the plain GROUP BY (exact decimal partials),
    * which is exactly what the oracle asserts. */
  val x50 = query("x50_salted_agg",
    // The salted two-phase plan must equal the PLAIN group-by bit for
    // bit (counts are sums of partials; sums re-associate over exact
    // decimals) — so the oracle IS the plain group-by.
    """SELECT user_id, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Aggregates.saltedCountSum(
        Tables.load(s, dir, "events"), "user_id", "value", "event_id",
        nSalts = 16)
      .select(col("user_id"), col("n"),
        col("sum_val").cast("double").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** x51 SemDeDup-style semantic dedup: fixed-centroid cluster
    * assignment (x26's oracle-proven geometry) + within-cluster
    * cosine threshold; one row per dropped vector with its keeper. */
  val x51 = query("x51_semantic_dedup",
    // Replays x26's oracle-proven fixed-centroid assignment, then the
    // within-cluster pair join with the same round-6-then-compare
    // threshold contract as x05.
    s"""WITH cd AS (
       |  SELECT e.vec_id, e.embedding, ct.list_id,
       |         1.0 - list_cosine_similarity(e.embedding::DOUBLE[], ct.v) AS d
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE len(embedding) = 64
       |          AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0) e
       |  CROSS JOIN ${centValuesSql(8)}),
       |c AS (
       |  SELECT vec_id, embedding, list_id FROM (
       |    SELECT vec_id, embedding, list_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
       |    FROM cd) t WHERE rn = 1)
       |SELECT a.vec_id, a.list_id, min(b.vec_id) AS kept_by, count(*) AS n_nbrs
       |FROM c a JOIN c b ON a.list_id = b.list_id AND a.vec_id > b.vec_id
       |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
       |GROUP BY a.vec_id, a.list_id ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
    Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding",
        nLists = 8, minCosine = 0.35)
      .orderBy(col("vec_id"))
  }

  /** x52 per-label quantized centroids: class prototypes as exact
    * int8-code sums per dimension — the reproducible alternative to a
    * float vector mean (order-dependent). Composes the x25-proven
    * quantizer; the oracle replays it and the integer aggregation. */
  val x52 = query("x52_quantized_centroids",
    // Replays the x25 quantizer element-wise (floor(x·127/mx + .5)
    // clamped), then the exact integer per-dimension aggregation; the
    // mean divides exact BIGINT operands → identical doubles.
    """WITH e AS (
      |  SELECT label, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS mx
      |  FROM embeddings),
      |q AS (
      |  SELECT label,
      |         list_transform(v, x -> CAST(GREATEST(-127.0, LEAST(127.0,
      |           floor(x * (127.0 / mx) + 0.5))) AS BIGINT)) AS qv
      |  FROM e WHERE mx > 0 AND len(v) > 0),
      |d AS (SELECT label, unnest(range(0, len(qv))) AS dim0, qv FROM q),
      |c AS (SELECT label, CAST(dim0 AS INT) AS dim,
      |             qv[CAST(dim0 AS INT) + 1] AS code FROM d)
      |SELECT label, dim, count(*) AS n, CAST(SUM(code) AS BIGINT) AS s,
      |       round(CAST(SUM(code) AS DOUBLE) / count(*), 6) AS mean_code
      |FROM c GROUP BY label, dim ORDER BY label, dim""".stripMargin) { (s, dir) =>
    Similarity.quantizedCentroids(emb(s, dir), "label", "embedding")
      .orderBy(col("label"), col("dim"))
  }

  /** x53 auditable cardinality sketch: KMV per-source distinct-3-gram
    * estimate alongside the exact count — the sketch-calibration view
    * (x42's pattern for cardinality instead of similarity). Every slot
    * of the sketch and the estimate itself are oracle-recomputed;
    * compare x20's HLL, whose values only a pinned error bound can
    * cover (its exact siblings are hash-checked). */
  val x53 = query("x53_kmv_distinct_sketch",
    // KMV replay: distinct gram md5-60s (the x37-proven hash contract),
    // bottom-64 per source via the same (unique-key) hash order, and
    // the estimate's double arithmetic is exact-operand on both sides.
    s"""WITH toks AS (SELECT source, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT source, ${wordNgramsSql(3)} AS g FROM toks),
       |gh AS (
       |  SELECT DISTINCT source AS grp, ${md5Hash60Sql("gram")} AS h
       |  FROM (SELECT source, unnest(g) AS gram FROM ng) t),
       |rk AS (SELECT grp, h,
       |              row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
       |       FROM gh),
       |sk AS (SELECT grp, count(*) AS n_min, max(h) AS kth
       |       FROM rk WHERE rn <= 64 GROUP BY grp),
       |ex AS (SELECT grp, count(*) AS exact_distinct FROM gh GROUP BY grp)
       |SELECT s.grp AS source, s.n_min, s.kth,
       |       CASE WHEN s.n_min < 64 THEN s.n_min
       |            ELSE CAST(floor(63.0 * 1152921504606846976.0 / s.kth::DOUBLE) AS BIGINT)
       |       END AS est_distinct,
       |       e.exact_distinct
       |FROM sk s JOIN ex e ON s.grp = e.grp ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.functions.ShingleFunctions.md5_ngram_hashes
    val grams = docs(s, dir).select(col("source"),
      explode(md5_ngram_hashes(words(col("text")), 3)).as("h"))
    Profile.kmvDistinctSketch(grams, "source", "h", k = 64)
      .orderBy(col("source"))
  }

  /** x54 mixture upsampling toward language balance: every language is
    * inflated to the largest one's size — each doc repeated
    * `floor(target/n)` times plus one hash-gated extra for the
    * remainder fraction, the deterministic "repeat rare languages for
    * k epochs" mixture step (the oversampling dual of x44's
    * downsampling; `lang` is the skewed stratum — `source` is uniform
    * by fixture construction). Copy counts are pure integer arithmetic
    * (md5-60 mod n < target mod n — no float rate at all), so the
    * oracle replays the census, the gate, and the fan-out verbatim,
    * one row per emitted copy. */
  val x54 = query("x54_mixture_upsample",
    // Copy counts replay the exact-integer census arithmetic (base =
    // target // n, extra iff md5-60 mod n < target mod n); the
    // unnest(generate_series) replays the per-copy fan-out row for row
    // (DuckDB 1.0 rejects the lateral table-function form).
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |tgt AS (SELECT max(n) AS mx FROM c),
       |plan AS (SELECT lang, mx // n AS base, mx % n AS rem, n
       |         FROM c CROSS JOIN tgt),
       |k AS (SELECT d.doc_id, d.lang,
       |             p.base + CASE WHEN ${md5Hash60Sql("CAST(doc_id AS STRING)")} % p.n < p.rem
       |                           THEN 1 ELSE 0 END AS copies
       |      FROM documents d
       |      JOIN plan p ON d.lang IS NOT DISTINCT FROM p.lang)
       |SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS INT) AS copy_idx
       |FROM k
       |ORDER BY doc_id, copy_idx""".stripMargin) { (s, dir) =>
    TextAnalysis.mixtureUpsample(docs(s, dir), "doc_id", "lang")
      .select(col("doc_id"), col("lang"), col("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  /** x55 lexical nearest neighbor: per document, the most similar
    * other document by integer term-frequency cosine over word
    * 3-grams with the df > 10 % tail pruned — the sparse bag-of-words
    * sibling of x06's embedding top-k and the tf-weighted complement
    * of x04's set Jaccard, built on an inverted-index join instead of
    * a cross join. dot/norms are exact integers, cast exactly to
    * double before squaring; cos² is three correctly-rounded IEEE
    * ops, ranked unrounded (ties → lower neighbor id). */
  val x55 = query("x55_lexical_top_neighbor",
    // tf/df/norms/dot are exact integer aggregates over the SAME
    // tokenizer + n-gram renderings as q29/x29; cos² casts each factor
    // to double BEFORE multiplying (the engine's overflow-safe form),
    // ranked unrounded with the neighbor-id tiebreak.
    s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |toks AS (SELECT doc_id, unnest(${wordNgramsSql(3, distinct = false)}) AS term FROM w),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nd AS (SELECT count(*) AS n FROM documents),
       |kept AS (SELECT tf.doc_id, tf.term, tf.tf
       |         FROM tf JOIN dfq USING (term) CROSS JOIN nd
       |         WHERE dfq.df * 100 <= nd.n * 10),
       |norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, SUM(a.tf * b.tf) AS dot
       |          FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |und AS (SELECT da, db, dot FROM pairs
       |        UNION ALL SELECT db AS da, da AS db, dot FROM pairs),
       |scored AS (SELECT u.da AS doc_id, u.db AS nn_id, u.dot,
       |                  (u.dot::DOUBLE * u.dot::DOUBLE) / (na.n2::DOUBLE * nb.n2::DOUBLE) AS c2
       |           FROM und u
       |           JOIN norms na ON na.doc_id = u.da
       |           JOIN norms nb ON nb.doc_id = u.db),
       |r AS (SELECT doc_id, nn_id, dot, c2,
       |             row_number() OVER (PARTITION BY doc_id
       |                                ORDER BY c2 DESC, nn_id) AS rn
       |      FROM scored)
       |SELECT doc_id, nn_id, CAST(dot AS BIGINT) AS dot, round(c2, 6) AS cos2
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.lexicalTopNeighbor(docs(s, dir), ngram = 3, maxDfPct = 10)
      .orderBy(col("doc_id"))
  }

  /** x56 event-rate anomaly z-scores: per (event_type, day) counts
    * scored against the type's own daily distribution — the
    * volume-anomaly screen of a pipeline health check. Moments are
    * exact BIGINTs; the z expression is the SAME fixed IEEE tree in
    * both engines (Profile.zScores scaladoc), so the scores — not just
    * the flags — are value-checked. */
  val x56 = query("x56_anomaly_zscore",
    // The z expression is the SAME fixed IEEE tree as Profile.zScores:
    // exact integer moments (DuckDB's HUGEINT sums convert exactly to
    // double below 2^53), integer differences BEFORE any division,
    // zero-variance guarded by the exact n·q = s² test.
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |m AS (
      |  SELECT event_type, count(*) AS n, SUM(x) AS s, SUM(x * x) AS q
      |  FROM daily GROUP BY event_type)
      |SELECT d.event_type, CAST(d.day AS STRING) AS day, d.x,
      |       round(CASE WHEN m.n < 2 OR m.n * m.q = m.s * m.s THEN NULL
      |                  ELSE (d.x * m.n - m.s)::DOUBLE /
      |                       (m.n::DOUBLE * sqrt((m.n * m.q - m.s * m.s)::DOUBLE /
      |                                           (m.n::DOUBLE * (m.n::DOUBLE - 1)))) END,
      |             6) AS z
      |FROM daily d JOIN m USING (event_type)
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    Profile.zScores(daily, "event_type", "x")
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("x"), round(col("z"), 6).as("z"))
      .orderBy(col("event_type"), col("day"))
  }

  /** x57 incremental ingest dedup: documents with doc_id ≡ 0 (mod 10)
    * play the incoming batch, the rest the standing corpus; emit every
    * (new, old) near-dup pair at the x04 threshold — the asymmetric
    * "is this already in the corpus" gate. Same sketch family, prefix
    * filter and exact re-score as x04, so the oracle is the same
    * brute-force inverted-index ground truth restricted to
    * cross-split pairs. */
  val x57 = query("x57_ingest_dedup",
    // Brute-force cross-split pair ground truth over the SAME tokenizer
    // and n-gram renderings as x04 — the prefix filter is recall-safe
    // at this threshold (x04's argument), so the engine's filtered
    // result equals the unfiltered inverted-index join.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(3)} AS g FROM toks),
       |ex AS (SELECT doc_id, len(g) AS sz, unnest(g) AS gram FROM ng WHERE len(g) > 0),
       |ipairs AS (
       |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS isz,
       |         any_value(a.sz) AS sa, any_value(b.sz) AS sb
       |  FROM ex a JOIN ex b ON a.gram = b.gram
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT new_id, old_id, jaccard FROM (
       |  SELECT new_id, old_id,
       |         round(isz::DOUBLE / (sa + sb - isz)::DOUBLE, 6) AS jaccard
       |  FROM ipairs) t
       |WHERE jaccard >= 0.2
       |ORDER BY new_id, old_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.crossNearDup(
        d.filter(pmod(col("doc_id"), lit(10)) === 0),
        d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", ngram = 3, prefixK = 8, minJaccard = 0.2)
      .orderBy(col("new_id"), col("old_id"))
  }

  /** The x58 query set — one literal, consumed by BOTH the Spark plan
    * and the oracle's VALUES clause (terms drawn from the fixture
    * vocabulary so every query has candidates at every sf). */
  private val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "stream", "window"),
    2 -> Seq("hash", "join", "merge"),
    3 -> Seq("filter", "scan", "sort"))

  /** x58 BM25 retrieval: top-10 documents per query for a literal
    * query set, fixed-point scored (see
    * [[TextAnalysis.bm25Retrieval]] for the reproducibility contract
    * and scale shape). */
  val x58 = query("x58_bm25_retrieval",
    // Replays the fixed-point BM25 contract: idf quantized to 6dp per
    // term, per-(doc,term) weight scaled to an exact BIGINT, scores
    // summed in integer space (bm25Retrieval scaladoc). Constants are
    // interpolated via Double.toString so both engines parse the
    // identical IEEE doubles.
    {
      val values = bm25Queries
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
      val inList = bm25Queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      val k1p1 = (TextAnalysis.Bm25K1 + 1.0).toString
      val k1 = TextAnalysis.Bm25K1.toString
      val oneMinusB = (1.0 - TextAnalysis.Bm25B).toString
      val b = TextAnalysis.Bm25B.toString
      s"""WITH q(query_id, term) AS (VALUES $values),
         |w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
         |st AS (SELECT count(*) AS nd, CAST(sum(len(w)) AS BIGINT) AS sumdl FROM w),
         |toks AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
         |       FROM toks WHERE term IN ($inList) GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, tf.term,
         |         CAST(round((round(ln(((st.nd::DOUBLE - dfq.df::DOUBLE + 0.5) /
         |                              (dfq.df::DOUBLE + 0.5)) + 1.0), 6)
         |           * ((tf.tf::DOUBLE * $k1p1) /
         |              (tf.tf::DOUBLE + $k1 * ($oneMinusB + $b *
         |                (tf.dl::DOUBLE / (st.sumdl::DOUBLE / st.nd::DOUBLE))))))
         |           * 1000000.0) AS BIGINT) AS w
         |       FROM tf JOIN dfq USING (term) CROSS JOIN st),
         |s AS (SELECT q.query_id, sc.doc_id, CAST(SUM(sc.w) AS BIGINT) AS score_micro
         |      FROM q JOIN sc USING (term) GROUP BY q.query_id, sc.doc_id),
         |r AS (SELECT query_id, doc_id, score_micro,
         |             row_number() OVER (PARTITION BY query_id
         |                                ORDER BY score_micro DESC, doc_id) AS rn
         |      FROM s)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, score_micro
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.bm25Retrieval(docs(s, dir), bm25Queries, k = 10)
  }

  /** x59 per-source corpus cap: the "no domain dominates" accounting —
    * per source keep at most 20 docs by (n_chars DESC, doc_id), report
    * total/kept/dropped and the cutoff doc. Heap-aggregated (never a
    * corpus window); the oracle replays it AS a window, pinning the
    * two formulations equal. */
  val x59 = query("x59_source_cap",
    // The window formulation of sourceCapStats' bounded heap: rank per
    // source by (n_chars DESC, doc_id), the cutoff row is rank ==
    // least(total, cap). Heap == window is the pinned equivalence.
    """WITH r AS (SELECT source, doc_id, n_chars,
      |             row_number() OVER (PARTITION BY source
      |                                ORDER BY n_chars DESC, doc_id) AS rn
      |           FROM documents WHERE n_chars IS NOT NULL),
      |s AS (SELECT source, count(*) AS total
      |      FROM documents WHERE n_chars IS NOT NULL GROUP BY source)
      |SELECT s.source, s.total,
      |       least(s.total, 20) AS kept,
      |       s.total - least(s.total, 20) AS dropped,
      |       r.doc_id AS cut_doc_id, r.n_chars AS cut_chars
      |FROM s JOIN r ON r.source = s.source AND r.rn = least(s.total, 20)
      |ORDER BY s.source""".stripMargin) { (s, dir) =>
    TextAnalysis.sourceCapStats(docs(s, dir), cap = 20)
  }

  /** x60 out-of-vocabulary rate per doc against the corpus's own top-30
    * terms — tokenizer-coverage profiling ([[TextAnalysis.oovRate]]). */
  val x60 = query("x60_oov_rate",
    // Vocabulary = top-30 terms by (corpus tf DESC, term) — a total
    // order, so the limit is deterministic; the rate is one division
    // of exact integers (engine-identical), NULL for token-less docs.
    s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |toks AS (SELECT doc_id, unnest(w) AS term FROM w),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |vocab AS (SELECT term FROM (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY term
       |  ORDER BY ctf DESC, term LIMIT 30)),
       |pd AS (SELECT tf.doc_id,
       |         CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       |         CAST(SUM(CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END) AS BIGINT) AS n_oov
       |       FROM tf LEFT JOIN vocab v ON tf.term = v.term
       |       GROUP BY tf.doc_id)
       |SELECT d.doc_id,
       |       coalesce(pd.n_tokens, 0) AS n_tokens,
       |       coalesce(pd.n_oov, 0) AS n_oov,
       |       CASE WHEN coalesce(pd.n_tokens, 0) > 0
       |            THEN round(pd.n_oov::DOUBLE / pd.n_tokens::DOUBLE, 6) END AS oov_rate
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.oovRate(docs(s, dir), vocabSize = 30)
  }

  /** x61 data-quality expectation suite over `orders` — the publish
    * gate ([[Profile.expectations]]): six declarative rules checked in
    * ONE aggregate pass, verdicts per rule. The suite is deliberately
    * mixed pass/fail on this corpus: the price ceiling and the
    * priority regex (a space in `4-NOT SPECIFIED` breaks `[A-Z]+`)
    * both catch real rows, so the failure path is exercised, not just
    * the all-green one. */
  val x61 = query("x61_expectations",
    // One aggregate row computes every rule's violation count; the
    // union-all expands to the per-rule verdict rows. Counts are exact
    // integers; pass is an integer-equality boolean.
    """WITH a AS (SELECT
      |  count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v1,
      |  count(*) - count(DISTINCT o_orderkey) AS v2,
      |  count(CASE WHEN o_totalprice IS NOT NULL
      |             AND NOT (o_totalprice BETWEEN 0 AND 300000) THEN 1 END) AS v3,
      |  count(CASE WHEN o_orderstatus IS NOT NULL
      |             AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END) AS v4,
      |  count(CASE WHEN o_orderpriority IS NOT NULL
      |             AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$') THEN 1 END) AS v5,
      |  count(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01 00:00:00' THEN 1 END) AS v6
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 1 AS rule_id, 'o_custkey' AS "column", 'not_null' AS rule,
      |         CAST(v1 AS BIGINT) AS n_violations, v1 = 0 AS pass FROM a
      |  UNION ALL SELECT 2, 'o_orderkey', 'unique', CAST(v2 AS BIGINT), v2 = 0 FROM a
      |  UNION ALL SELECT 3, 'o_totalprice', 'range[0,300000]', CAST(v3 AS BIGINT), v3 = 0 FROM a
      |  UNION ALL SELECT 4, 'o_orderstatus', 'in_set{O,F,P}', CAST(v4 AS BIGINT), v4 = 0 FROM a
      |  UNION ALL SELECT 5, 'o_orderpriority', 'regex ^[1-5]-[A-Z]+$', CAST(v5 AS BIGINT), v5 = 0 FROM a
      |  UNION ALL SELECT 6, 'o_orderdate', 'min_date 1995-01-01', CAST(v6 AS BIGINT), v6 = 0 FROM a
      |) ORDER BY rule_id""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    Profile.expectations(o, Seq(
      (1, "o_custkey", "not_null",
        count_if(col("o_custkey").isNull)),
      (2, "o_orderkey", "unique",
        count(lit(1)) - count_distinct(col("o_orderkey"))),
      (3, "o_totalprice", "range[0,300000]",
        count_if(col("o_totalprice").isNotNull &&
          !col("o_totalprice").between(0, 300000))),
      (4, "o_orderstatus", "in_set{O,F,P}",
        count_if(col("o_orderstatus").isNotNull &&
          !col("o_orderstatus").isin("O", "F", "P"))),
      (5, "o_orderpriority", "regex ^[1-5]-[A-Z]+$",
        count_if(col("o_orderpriority").isNotNull &&
          !col("o_orderpriority").rlike("^[1-5]-[A-Z]+$"))),
      // to_timestamp parses in the SESSION timezone (pinned UTC) —
      // java.sql.Timestamp.valueOf would parse in the JVM default TZ,
      // making the verdict machine-dependent
      (6, "o_orderdate", "min_date 1995-01-01",
        count_if(col("o_orderdate") <
          to_timestamp(lit("1995-01-01 00:00:00"))))))
  }

  /** x62 corpus snapshot diff ([[CatalogTransforms.snapshotDiff]]):
    * version N = docs outside the mod-10 ingest split (x57's standing
    * corpus), version N+1 = the mod-3 survivors with a simulated edit
    * on the mod-7 rows — yielding all four statuses (added / removed /
    * changed / unchanged) non-vacuously. Content compared by md5, so
    * the full-outer shuffle carries (key, hash), never the text. */
  val x62 = query("x62_snapshot_diff",
    // Both engines hash the identical UTF-8 text to the same lowercase
    // hex md5; only hash EQUALITY reaches the output. The join carries
    // (key, hash), never the payload.
    """WITH old AS (SELECT doc_id, coalesce(md5(text), '__null__') AS h
      |             FROM documents WHERE doc_id % 10 <> 0),
      |nxt AS (SELECT doc_id,
      |               coalesce(md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
      |                                 ELSE text END), '__null__') AS h
      |        FROM documents WHERE doc_id % 3 <> 0)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.h IS NULL THEN 'added'
      |            WHEN n.h IS NULL THEN 'removed'
      |            WHEN o.h <> n.h THEN 'changed'
      |            ELSE 'unchanged' END AS status
      |FROM old o FULL OUTER JOIN nxt n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val old = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val next = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    CatalogTransforms.snapshotDiff(old, next, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** x63 Bloom-filter membership pre-screen — the runtime-filter
    * primitive at corpus scale: "known" day-1 users become a Bloom
    * filter ([[graft.functions.BloomFunctions]], Spark's own
    * BloomFilterAggregate/MightContain pair), later events probe it
    * map-side. The filter bits are engine-specific, so the CHECKED
    * output is the calibration contract (the x20 pattern): exact
    * membership counts (oracle-recomputed via the user-id join), the
    * zero-false-negative invariant the structure guarantees, and an
    * fp-rate bound flag pinned TRUE. The exact join exists FOR the
    * calibration; production runs only the broadcast probe. */
  val x63 = query("x63_bloom_prescreen",
    // The x20 calibration pattern for a Bloom filter: exact membership
    // recomputed; no-false-negative is the structure's guarantee
    // (violating it means the filter is broken, not mis-sized); the fp
    // bound is pinned TRUE at the sized rate + slack.
    """WITH seen AS (SELECT DISTINCT user_id FROM events
      |              WHERE CAST(ts AS DATE) < DATE '2024-01-02'),
      |probe AS (SELECT e.user_id,
      |                 s.user_id IS NOT NULL AS member
      |          FROM events e LEFT JOIN seen s ON e.user_id = s.user_id
      |          WHERE CAST(e.ts AS DATE) >= DATE '2024-01-02')
      |SELECT CAST(count(*) AS BIGINT) AS n_probe,
      |       CAST(count(CASE WHEN member THEN 1 END) AS BIGINT) AS n_known,
      |       CAST(0 AS BIGINT) AS n_false_negatives,
      |       TRUE AS fp_ok
      |FROM probe""".stripMargin) { (s, dir) =>
    bloomPrescreen(s, dir, graft.functions.BloomFunctions.MaxNumBits)
  }

  /** x63 body with the bit-cap injectable so tests can force the
    * over-cap degradation (the production cap would need ~4M distinct
    * keys to trip at any test sf). */
  private[graft] def bloomPrescreen(s: SparkSession, dir: String,
      maxNumBits: Long): DataFrame = {
    import graft.functions.BloomFunctions._
    val ev = Tables.load(s, dir, "events")
    val cut = to_date(lit("2024-01-02"))
    // materialized ONCE (the x32 sharing rule): three consumers — the
    // sizing count, the filter build, and the broadcast join side —
    // would otherwise each re-scan and re-distinct the pre-cut events
    val seen = ev.filter(to_date(col("ts")) < cut)
      .select(col("user_id")).distinct()
      .transform(Materialize(_, "ExtensionQueries.bloomPrescreen: seen"))
    // SIZE FROM THE DATA, not a constant: a fixed numBits would blow
    // past its fp bound as the seen-set grows with sf (at ~50k keys a
    // 65536-bit filter saturates to fp≈1 and the pinned fp_ok flag
    // would flip). bits ≈ n·ln(1/p)/ln²2 at p=0.01 is n·9.57; 16 n
    // adds slack and a floor keeps tiny fixtures honest. The cap
    // ([[graft.functions.BloomFunctions.sizedBits]]) bounds the plan
    // literal; past it the screen degrades to the exact broadcast
    // semi-join already present for calibration — never an undersized
    // filter (fp→1) and never a GB-scale literal.
    val nSeen = seen.count()
    val bfOpt: Option[Array[Byte]] = sizedBits(nSeen, maxNumBits = maxNumBits)
      .map { bits =>
        seen.agg(bloom_agg(col("user_id"), math.max(nSeen, 1000L), bits).as("__bf"))
          .head().getAs[Array[Byte]]("__bf")
      }
    // might_contain requires a CONSTANT filter: the KB-scale binary
    // embeds as a literal — the very shape Catalyst's
    // InjectRuntimeFilter produces once its scalar subquery executes
    // (control-plane-sized, like x26's centroid literals)
    val known = seen.withColumn("__m", lit(1))
    val member = col("__m").isNotNull
    // over-cap fallback: the exact join IS the screen (zero fp, zero fn)
    val hit = bfOpt match {
      case Some(bf) => bloom_might_contain(lit(bf), col("user_id"))
      case None => member
    }
    ev.filter(to_date(col("ts")) >= cut)
      .select(col("user_id"))
      .join(broadcast(known), Seq("user_id"), "left")
      .select(member.as("member"), hit.as("__hit"))
      .agg(
        count(lit(1)).cast("bigint").as("n_probe"),
        count_if(col("member")).cast("bigint").as("n_known"),
        count_if(col("member") && !col("__hit")).cast("bigint").as("n_false_negatives"),
        (count_if(!col("member") && col("__hit")) <=
          greatest(ceil(count_if(!col("member")).cast("double") * lit(0.05)),
            lit(5L))).as("fp_ok"))
  }

  /** x64 split-leakage audit ([[TextAnalysis.splitLeakage]]): the x04
    * near-dup pair relation (x28's edge set) crossed with the x30
    * deterministic split — pairs straddling splits are eval leakage.
    * Both inputs are already oracled; the oracle composes the same two
    * CTEs. */
  val x64 = query("x64_split_leakage",
    // composes the two already-oracled CTEs (x04's pair relation, x30's
    // md5 split) — a leaked pair is one whose members' splits differ
    s"""WITH $ngramPairsCteSql,
       |sp AS (
       |  SELECT doc_id,
       |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS b
       |        FROM documents) t)
       |SELECT split_lo, split_hi, count(*) AS n_pairs, split_lo <> split_hi AS leaked
       |FROM (
       |  SELECT least(a.split, b.split) AS split_lo, greatest(a.split, b.split) AS split_hi
       |  FROM pairs p
       |  JOIN sp a ON p.doc_a = a.doc_id
       |  JOIN sp b ON p.doc_b = b.doc_id) t
       |GROUP BY split_lo, split_hi ORDER BY split_lo, split_hi""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val pairs = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2)
    TextAnalysis.splitLeakage(pairs, TextAnalysis.datasetSplit(d, "doc_id"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** x65 contamination overlap fraction
    * ([[TextAnalysis.contaminationOverlap]]): the graded form of x27 —
    * per (corpus doc, benchmark doc), the fraction of the benchmark
    * item's distinct word-5-grams the doc covers, kept at ≥ 0.1. */
  val x65 = query("x65_contamination_overlap",
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(5)} AS g FROM toks),
       |bench AS (SELECT doc_id AS bench_id, len(g) AS bsz, unnest(g) AS gram
       |          FROM ng WHERE doc_id < 10 AND len(g) > 0),
       |corp AS (SELECT doc_id, unnest(g) AS gram FROM ng WHERE doc_id >= 10)
       |SELECT doc_id, bench_id, shared, overlap FROM (
       |  SELECT c.doc_id, b.bench_id, count(*) AS shared,
       |         round(count(*)::DOUBLE / any_value(b.bsz)::DOUBLE, 6) AS overlap
       |  FROM corp c JOIN bench b ON c.gram = b.gram
       |  GROUP BY c.doc_id, b.bench_id) t
       |WHERE overlap >= 0.1
       |ORDER BY doc_id, bench_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.contaminationOverlap(
        d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
        ngram = 5, minRatio = 0.1)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** x66 key-concentration profile ([[Profile.keyConcentration]]):
    * Gini coefficient of events-per-user — the skew statistic that
    * decides salting/capping before any groupBy/join on the key.
    * Integer-exact via the count-histogram rank collapse; the oracle
    * recomputes with an explicit rank window. */
  val x66 = query("x66_key_concentration",
    // explicit rank-window Gini — must equal the engine's histogram
    // collapse (ties share a count, so rank order within ties is moot)
    """WITH k AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM k)
      |SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(max(c) AS BIGINT) AS max_key_rows,
      |       round((2*sum(i*c) - (count(*)+1)*sum(c))::DOUBLE /
      |             (count(*)*sum(c))::DOUBLE, 6) AS gini
      |FROM r""".stripMargin) { (s, dir) =>
    Profile.keyConcentration(Tables.load(s, dir, "events"), "user_id")
  }

  /** x67 unigram-LM quality score ([[TextAnalysis.unigramLogProb]]):
    * an add-one-smoothed unigram model trained on the English slice
    * scores every document by mean per-token log-prob in integer
    * micro-nats — the CCNet-style LM filter. The oracle replays the
    * identical per-term quantization (the x58 fixed-point discipline),
    * so the scores hash-match despite the transcendental ln. */
  val x67 = query("x67_unigram_logprob",
    // Identical fixed-point quantization as the engine: each term's
    // smoothed log-prob rounds to 6 decimals THEN to integer
    // micro-nats (ln ulp differences die per term), per-doc sums are
    // integer, one exact-int division at the end.
    s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |rtf AS (SELECT unnest(w.w) AS term
       |        FROM w JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
       |vc AS (SELECT term, count(*) AS c FROM rtf GROUP BY term),
       |st AS (SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v FROM vc),
       |vocab AS (SELECT term,
       |            CAST(round(round(ln((c::DOUBLE + 1.0) /
       |              (st.t::DOUBLE + st.v::DOUBLE + 1.0)), 6) * 1000000.0) AS BIGINT) AS lp
       |          FROM vc CROSS JOIN st),
       |oov AS (SELECT CAST(round(round(ln(1.0 /
       |          (t::DOUBLE + v::DOUBLE + 1.0)), 6) * 1000000.0) AS BIGINT) AS lp FROM st),
       |dt AS (SELECT doc_id, unnest(w) AS term FROM w),
       |dtf AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY doc_id, term),
       |sc AS (SELECT dtf.doc_id,
       |         CAST(sum(dtf.tf) AS BIGINT) AS n_tokens,
       |         CAST(sum(dtf.tf * coalesce(vocab.lp, oov.lp)) AS BIGINT) AS sum_logp_micro
       |       FROM dtf LEFT JOIN vocab USING (term) CROSS JOIN oov
       |       GROUP BY dtf.doc_id)
       |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens, sc.sum_logp_micro,
       |       CASE WHEN sc.n_tokens > 0
       |            THEN round(sc.sum_logp_micro::DOUBLE /
       |                       (sc.n_tokens::DOUBLE * 1000000.0), 6) END AS avg_logp
       |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.unigramLogProb(d, d.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** x68 dup-cluster canonicalization ([[Dedup.canonicalizeClusters]]):
    * per x28 near-dup cluster keep the longest member (id tie-break),
    * mark the rest for purge — x04/x28's detection turned into the
    * keep/drop decision a dedup pass actually ships. */
  val x68 = query("x68_cluster_canonical",
    // x28's recursive-reach clusters + the keep-longest policy as an
    // explicit window — must equal the engine's min(struct) aggregate
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
       |wl AS (SELECT cl.doc_id, cl.cluster_id, coalesce(d.n_chars, -1) AS len
       |       FROM cl LEFT JOIN documents d USING (doc_id)),
       |cn AS (SELECT cluster_id, doc_id AS canonical_id FROM (
       |         SELECT cluster_id, doc_id,
       |                row_number() OVER (PARTITION BY cluster_id
       |                                   ORDER BY len DESC, doc_id) AS rn
       |         FROM wl) t WHERE rn = 1)
       |SELECT wl.doc_id, wl.cluster_id, cn.canonical_id,
       |       wl.doc_id = cn.canonical_id AS keep
       |FROM wl JOIN cn USING (cluster_id) ORDER BY wl.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.canonicalizeClusters(
      Dedup.connectedComponents(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)),
      d).orderBy(col("doc_id"))
  }

  /** x69 cluster-aware leakage-proof split
    * ([[TextAnalysis.clusterAwareSplit]]): x30's deterministic split
    * re-keyed by the x28 near-dup component id, so a near-dup pair can
    * never straddle splits — the repair for whatever x64 reports.
    * Summarized per (split, lang) like x30; the ScalaTest spec
    * additionally pins [[TextAnalysis.splitLeakage]] = zero leaked
    * rows on this assignment. Oracle: x28's recursive-reach clusters
    * LEFT-joined onto documents, same md5-60 bucket of the coalesced
    * key. */
  val x69 = query("x69_cluster_aware_split",
    // x28's recursive-reach clusters LEFT-joined under x30's split
    // arithmetic: the bucket key is COALESCE(cluster_id, doc_id) —
    // the one-line change that makes leakage structurally impossible
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT split, lang, count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
       |FROM (
       |  SELECT lang, n_chars,
       |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT d.lang, d.n_chars,
       |               ${md5Hash60Sql("CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100 AS b
       |        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id) t) s
       |GROUP BY split, lang ORDER BY split, lang""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2))
    TextAnalysis.clusterAwareSplit(d, clusters, "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** x70 hash-sampled quantiles ([[Profile.sampledQuantiles]]): exact
    * quartiles of doc length per language over the deterministic 25%
    * md5-60 sample of doc ids — the bounded-memory, mergeable,
    * engine-portable alternative to full exact percentiles (q30) and
    * to the non-portable `percentile_approx`. Quarter probabilities
    * keep the interpolation bit-exact across engines (operator
    * scaladoc). */
  val x70 = query("x70_sampled_quantiles",
    // Same md5-60 gate as x30; quantile_cont == Spark's percentile for
    // quarter probs on ints (exact interpolation operands — see
    // Profile.sampledQuantiles scaladoc)
    s"""SELECT lang, count(*) AS sample_n,
       |       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       |       round(quantile_cont(n_chars, 0.50), 6) AS p50,
       |       round(quantile_cont(n_chars, 0.75), 6) AS p75
       |FROM documents
       |WHERE ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < 25
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Profile.sampledQuantiles(docs(s, dir), "doc_id", "n_chars",
        "lang", Seq(0.25, 0.5, 0.75), samplePct = 25)
      .orderBy(col("lang"))
  }

  /** x71 token-budget selection ([[TextAnalysis.tokenBudgetSelect]]):
    * the best 2000 tokens of every language by quality rank — scored
    * corpus → sized training mix, with full per-doc attribution
    * (rank, cumulative tokens, kept). Ranking is on the unrounded
    * score (the x46 discipline); the budget cut is integer-exact. */
  val x71 = query("x71_token_budget_select",
    // x46's unrounded-score ranking joined with x10's token count; the
    // kept flag compares the PRECEDING cumulative mass to the budget
    s"""WITH ${qualityCteSql("doc_id, lang")},
       |tok AS (SELECT doc_id,
       |          len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS nt
       |        FROM documents),
       |r AS (
       |  SELECT q.lang, q.doc_id, q.q, CAST(t.nt AS BIGINT) AS n_tokens,
       |         CAST(row_number() OVER (PARTITION BY q.lang ORDER BY q.qr DESC, q.doc_id)
       |              AS INTEGER) AS rank,
       |         CAST(SUM(t.nt) OVER (PARTITION BY q.lang ORDER BY q.qr DESC, q.doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM q JOIN tok t ON t.doc_id = q.doc_id)
       |SELECT lang, rank, doc_id, q AS quality, n_tokens, cum_tokens,
       |       (cum_tokens - n_tokens) < 2000 AS kept
       |FROM r ORDER BY lang, rank""".stripMargin) { (s, dir) =>
    TextAnalysis.tokenBudgetSelect(docs(s, dir), "lang", budget = 2000L)
      .orderBy(col("lang"), col("rank"))
  }

  /** x72 keep-priority canonicalization: x68's keep-longest rule with a
    * source-trust tier prepended — (tier ASC, len DESC, id ASC), the
    * curated-beats-crawled policy of production corpus dedup. Tiers:
    * src0-4 → 0, src5-9 → 1, rest → 2 (fixture-meaningful and
    * engine-portable IN lists). */
  val x72 = query("x72_priority_canonical",
    // x68's recursive clusters with the keep rule (tier, len DESC, id);
    // a member missing from documents tiers AFTER everything (IS NULL
    // guard — the bare CASE's ELSE would wrongly tier it 2)
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
       |wl AS (SELECT cl.doc_id, cl.cluster_id, coalesce(d.n_chars, -1) AS len,
       |         CASE WHEN d.doc_id IS NULL THEN 9223372036854775807
       |              WHEN d.source IN ('src0','src1','src2','src3','src4') THEN 0
       |              WHEN d.source IN ('src5','src6','src7','src8','src9') THEN 1
       |              ELSE 2 END AS tier
       |       FROM cl LEFT JOIN documents d ON d.doc_id = cl.doc_id),
       |cn AS (SELECT cluster_id, doc_id AS canonical_id FROM (
       |         SELECT cluster_id, doc_id,
       |                row_number() OVER (PARTITION BY cluster_id
       |                                   ORDER BY tier, len DESC, doc_id) AS rn
       |         FROM wl) t WHERE rn = 1)
       |SELECT wl.doc_id, wl.cluster_id, cn.canonical_id,
       |       wl.doc_id = cn.canonical_id AS keep
       |FROM wl JOIN cn USING (cluster_id) ORDER BY wl.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val tier = when(col("source").isin((0 to 4).map(i => s"src$i"): _*), 0L)
      .when(col("source").isin((5 to 9).map(i => s"src$i"): _*), 1L)
      .otherwise(2L)
    Dedup.canonicalizeClusters(
        Dedup.connectedComponents(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
          ngram = 3, prefixK = 8, minJaccard = 0.2)),
        d.withColumn("__tier", tier),
        priorityCol = Some("__tier"))
      .orderBy(col("doc_id"))
  }

  /** x73 deterministic shard assignment ([[Layout.shardAssignment]]):
    * the content-hashed global shuffle for training shards — shard =
    * md5-60(doc_id) mod 8, within-shard order = hash rank. Every
    * (doc, shard, pos) value-checked; the oracle replays the identical
    * bucket arithmetic and rank window. */
  val x73 = query("x73_shard_assignment",
    // Identical bucket arithmetic (md5-60 mod 8) and hash-rank window;
    // the id tie-break covers the rare 60-bit collision
    s"""SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
       |            AS INTEGER) AS pos
       |FROM (SELECT doc_id,
       |             ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
       |             ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
       |      FROM documents) t
       |ORDER BY shard, pos""".stripMargin) { (s, dir) =>
    Layout.shardAssignment(docs(s, dir), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** x74 Count-Min-Sketch heavy hitters with exact calibration (the x20
    * pattern). The scale path is the SKETCH: `count_min_sketch` combines
    * map-side, so a 100 TB token stream shuffles one ~KB array per group
    * instead of the raw keys, and point queries read the merged sketch
    * via [[graft.functions.CmsExpressions]]'s `cms_estimate`. DuckDB has
    * no CMS, so the estimate VALUE can't be oracled; instead the exact
    * top-20 token counts are hash-checked outright and the sketch is
    * checked through its two textbook guarantees, pinned as flags the
    * oracle expects uniformly TRUE: CMS never underestimates
    * (`cms_lower_ok`), and overestimates by at most eps·N with
    * probability ≥ confidence (`cms_eps_ok`; eps=0.001, depth from
    * confidence=0.999, seed fixed → fully deterministic per fixture).
    * The 20-row top-k joins against a ONE-row broadcast sketch — the
    * per-row deserialization in cms_estimate is control-plane cost. */
  val x74 = query("x74_cms_heavy_hitters",
    // Exact top-20 token counts are hash-checked; the CMS flags are
    // pinned TRUE (DuckDB has no CMS — the x20 calibration pattern).
    // Tokenizer = the shared wordsSql contract.
    s"""WITH toks AS (
       |  SELECT unnest(${wordsSql("text")}) AS tok FROM documents),
       |n AS (SELECT count(*) AS n_total FROM toks)
       |SELECT tok, exact_n, n_total,
       |       TRUE AS cms_lower_ok, TRUE AS cms_eps_ok
       |FROM (SELECT tok, count(*) AS exact_n FROM toks
       |      GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 20) t
       |CROSS JOIN n
       |ORDER BY exact_n DESC, tok""".stripMargin) { (s, dir) =>
    import graft.functions.CmsFunctions.cms_estimate
    val toks = docs(s, dir).select(
      explode(graft.functions.TextFunctions.words(col("text"))).as("tok"))
    val sketch = toks.agg(
      expr("count_min_sketch(tok, 0.001d, 0.999d, 42)").as("cms"),
      count(lit(1)).as("n_total"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(20)
    top.crossJoin(broadcast(sketch))
      .select(
        col("tok"), col("exact_n"), col("n_total"),
        (cms_estimate(col("cms"), col("tok")) >= col("exact_n")).as("cms_lower_ok"),
        (cms_estimate(col("cms"), col("tok")) <=
          col("exact_n") + ceil(col("n_total") * lit(0.001))).as("cms_eps_ok"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** x75 Johnson–Lindenstrauss random projection 64→16 — the cheap
    * dimension-reduction sketch in front of ANN (shorter vectors to
    * scan, 4× less shuffle) and distance screening. The ±1 sign matrix
    * is derived from md5 cell-by-cell ([[graft.functions.VectorKernels
    * .jlSigns]]), so the "random" projection is a deterministic,
    * engine-portable constant: the DuckDB oracle embeds the SAME signs
    * as list literals and replays bit-identical float64 values (nOut=16
    * keeps the 1/√nOut scale a power of two — exact division). Distance
    * preservation is additionally pinned: the projected-vs-original
    * norm ratio must land inside the JL distortion band [0.25, 4]
    * (`jl_norm_ok`, expected uniformly TRUE at ε well inside the
    * k=16 guarantee). Projection runs as one codegen'd kernel per row,
    * O(dim·nOut), inside the whole-stage span.
    *
    * The projection is emitted as a comma-joined string of integer
    * micro-units (round(x·10⁶) as long): the verify gate compares
    * engines through pandas, where a raw float array column round-trips
    * as numpy ndarray (ambiguous equality) and Java vs DuckDB disagree
    * on small-double formatting ("1.0E-4" vs "0.0001"); integer strings
    * have exactly one rendering in every engine. */
  val x75 = query("x75_jl_projection",
    // Full value replay: the md5-derived ±1 sign matrix is embedded as
    // DOUBLE[] literals (same constants VectorKernels.jlSigns derives),
    // /4.0 is the exact power-of-two 1/√16 scale, and the norm-band
    // check replays Spark's left-fold accumulation order term by term.
    // The projection compares as integer micro-unit strings (see the
    // query's scaladoc): both engines round the identical double, so
    // CAST(round(x*1e6) AS BIGINT) is engine-exact.
    {
      val signs = graft.functions.VectorKernels.jlSigns(16, 64, 7)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]::DOUBLE[]"))
      def ip(j: Int) = s"list_inner_product(embedding::DOUBLE[], ${signs(j)})"
      val proj = (0 until 16)
        .map(j => s"CAST(CAST(round(${ip(j)} / 4.0 * 1e6) AS BIGINT) AS VARCHAR)")
        .mkString("concat_ws(',', ",
          ",\n         |                  ", ")")
      val norm2 = (0 until 16).map(j => s"(${ip(j)} / 4.0) * (${ip(j)} / 4.0)")
        .mkString(" + ")
      s"""SELECT vec_id,
         |       $proj AS proj_u,
         |       ($norm2)
         |         / list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])
         |         BETWEEN 0.25 AND 4.0 AS jl_norm_ok
         |FROM embeddings
         |WHERE len(embedding) = 64
         |  AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
         |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
    import graft.functions.VectorFunctions.{dot_product, jl_project}
    validEmb(s, dir)
      .select(col("vec_id"),
        jl_project(col("embedding"), 16, 64, 7).as("__p"),
        dot_product(col("embedding"), col("embedding")).as("__n2"))
      .select(col("vec_id"),
        array_join(transform(col("__p"),
          x => round(x * lit(1e6)).cast("long").cast("string")), ",").as("proj_u"),
        (aggregate(col("__p"), lit(0.0), (a, x) => a + x * x) / col("__n2"))
          .between(lit(0.25), lit(4.0)).as("jl_norm_ok"))
      .orderBy(col("vec_id"))
  }

  /** x76 directed k-NN graph (top-3 neighbors per vector within its
    * LSH sign-bucket) — see [[Similarity.knnGraph]]. Fully value-checked:
    * the DuckDB oracle recomputes the buckets from the exported plane
    * constants and replays the (cosine desc, dst) ranking. */
  val x76 = query("x76_knn_graph",
    // Replays knnGraph exactly: same bucket constants, same valid-vector
    // screen, directed pairs within the bucket, row_number on the
    // ROUNDED cosine with the dst tie-break (the TopKScored contract).
    s"""WITH ${knnEdgesCteSql(3)}
       |SELECT src, dst, cosine, rank FROM knn ORDER BY src, rank""".stripMargin) { (s, dir) =>
    Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
      .orderBy(col("src"), col("rank"))
  }

  /** x77 majority-vote label propagation over the x76 k-NN graph —
    * every 5th vector keeps its true label as a seed, the rest are
    * hidden and recovered in 2 rounds ([[graft.operators.Graph
    * .labelPropagate]]); `correct` audits recovery against the hidden
    * truth. Fully value-checked: the oracle replays the edge set, both
    * vote rounds, and the (count desc, label asc) tie-break. */
  val x77 = query("x77_label_propagation",
    // Replays both propagation rounds over the same edge set: per
    // round, the still-unlabeled frontier adopts the (count desc,
    // label asc) majority among labeled out-neighbors. Seeds = every
    // 5th valid vector with its true label.
    s"""WITH ${knnEdgesCteSql(3)},
       |l0 AS (
       |  SELECT vec_id AS id, label, 0 AS lp_round FROM embeddings
       |  WHERE vec_id % 5 = 0 AND len(embedding) = 64
       |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |n1 AS (
       |  SELECT id, label, 1 AS lp_round FROM (
       |    SELECT e.src AS id, l.label,
       |           row_number() OVER (PARTITION BY e.src
       |             ORDER BY count(*) DESC, l.label) AS rn
       |    FROM knn e JOIN l0 l ON e.dst = l.id
       |    WHERE e.src NOT IN (SELECT id FROM l0)
       |    GROUP BY e.src, l.label) t WHERE rn = 1),
       |l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM n1),
       |n2 AS (
       |  SELECT id, label, 2 AS lp_round FROM (
       |    SELECT e.src AS id, l.label,
       |           row_number() OVER (PARTITION BY e.src
       |             ORDER BY count(*) DESC, l.label) AS rn
       |    FROM knn e JOIN l1 l ON e.dst = l.id
       |    WHERE e.src NOT IN (SELECT id FROM l1)
       |    GROUP BY e.src, l.label) t WHERE rn = 1),
       |l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM n2)
       |SELECT l.id AS vec_id, l.label AS pred_label, l.lp_round,
       |       l.label = emb.label AS correct
       |FROM l2 l JOIN embeddings emb ON emb.vec_id = l.id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val edges = Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
      .select(col("src"), col("dst"))
    val seeds = validEmb(s, dir).filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("label"))
    graft.operators.Graph.labelPropagate(edges, seeds, rounds = 2)
      .join(emb(s, dir).select(col("vec_id"), col("label").as("__truth")),
        col("id") === col("vec_id"))
      .select(col("vec_id"), col("label").as("pred_label"),
        col("round").as("lp_round"), (col("label") === col("__truth")).as("correct"))
      .orderBy(col("vec_id"))
  }

  /** x78 BPE adjacent-pair statistics (one tokenizer-induction merge
    * round) — see [[TextAnalysis.bpePairStats]]. The oracle replays
    * the shared word tokenizer, the per-distinct-word pair expansion,
    * and the (count desc, pair) cut. */
  val x78 = query("x78_bpe_pair_stats",
    // Same word tokenizer as q29/x41 (wordsSql — the load-bearing
    // shared rendering), pairs expanded per DISTINCT word weighted by
    // corpus frequency, deterministic (count desc, pair) cut.
    s"""WITH toks AS (SELECT unnest(${wordsSql("text")}) AS w FROM documents),
       |wc AS (SELECT w, count(*) AS c FROM toks WHERE len(w) >= 2 GROUP BY w),
       |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, c
       |      FROM (SELECT w, c, unnest(range(1, len(w))) AS i FROM wc))
       |SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
       |FROM p GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
    TextAnalysis.bpePairStats(docs(s, dir), topN = 20)
  }

  /** x79 per-session transcripts: 1-hour-gap sessionization (q22's
    * rule) + ordered event-type path + exact decimal value sum — see
    * [[graft.operators.Sequences.sessionTranscripts]]. */
  val x79 = query("x79_session_transcripts",
    // q22's exact session rule (gap > 1h on (ts, event_id) order) with
    // the transcript aggregates: ordered string_agg path and the
    // DECIMAL(18,2) value sum (exact in any accumulation order).
    """WITH s AS (
      |  SELECT user_id, event_id, ts, event_type, value,
      |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (SELECT user_id, event_id, ts, event_type, value,
      |               CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id) IS NULL
      |                         OR ts > lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id) + INTERVAL '1' HOUR
      |                    THEN 1 ELSE 0 END AS new_s
      |        FROM events) a)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n,
      |       string_agg(event_type, '->' ORDER BY ts, event_id) AS path,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.sessionTranscripts(
        Tables.load(s, dir, "events"), gap = "1 HOUR")
      .orderBy(col("user_id"), col("session_id"))
  }

  /** x80 k-NN graph degree diagnostics (out/in/mutual degree per
    * node) — see [[graft.operators.Graph.degreeProfile]]. The index-
    * health read before trusting the graph: in-degree hubs and the
    * mutual-edge rate. */
  val x80 = query("x80_knn_degree_profile",
    // Degree replay over the same edge set: out/in by simple counts,
    // mutuality by the (src,dst)↔(dst,src) self-join, full-outer
    // assembled on node id.
    s"""WITH ${knnEdgesCteSql(3)},
       |o AS (SELECT src AS id, count(*) AS out_deg FROM knn GROUP BY src),
       |i AS (SELECT dst AS id, count(*) AS in_deg FROM knn GROUP BY dst),
       |m AS (SELECT a.src AS id, count(*) AS mutual_deg
       |      FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |      GROUP BY a.src)
       |SELECT COALESCE(o.id, i.id) AS vec_id,
       |       COALESCE(out_deg, 0) AS out_deg,
       |       COALESCE(in_deg, 0) AS in_deg,
       |       COALESCE(mutual_deg, 0) AS mutual_deg
       |FROM o FULL OUTER JOIN i ON o.id = i.id
       |       LEFT JOIN m ON COALESCE(o.id, i.id) = m.id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.degreeProfile(
        Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
          .select(col("src"), col("dst")))
      .select(col("id").as("vec_id"), col("out_deg"), col("in_deg"),
        col("mutual_deg"))
      .orderBy(col("vec_id"))
  }

  /** x81 word-3-gram novelty — fraction of each document's distinct
    * grams first seen in that document; see
    * [[TextAnalysis.ngramNovelty]]. */
  val x81 = query("x81_ngram_novelty",
    // First-occurrence novelty over the shared distinct word-3-gram
    // relation (wordNgramsSql — same rendering as the x04/x28 pair
    // ground truth): min doc id per gram, charged back per document.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |g AS (SELECT doc_id, unnest(${wordNgramsSql(3)}) AS gram FROM toks),
       |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
       |SELECT g.doc_id, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::DOUBLE
       |             / count(*)::DOUBLE, 6) AS novelty
       |FROM g JOIN f USING (gram) GROUP BY g.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.ngramNovelty(docs(s, dir), n = 3)
      .orderBy(col("doc_id"))
  }

  /** x82 integer-exact PageRank (2 iterations, damping 17/20) over
    * the x76 k-NN graph — see [[graft.operators.Graph.pageRank]].
    * Fully value-checked: the oracle replays both iterations in the
    * same micro-unit integer arithmetic. */
  val x82 = query("x82_pagerank",
    // Both PageRank iterations replayed in the same micro-unit integer
    // arithmetic: pr·17 // (20·out_deg) per edge (both engines floor
    // non-negative integer division identically), +150000 restart,
    // exact integer sums in any accumulation order.
    s"""WITH ${knnEdgesCteSql(3)},
       |nodes AS (SELECT src AS id FROM knn UNION SELECT dst FROM knn),
       |od AS (SELECT src, count(*) AS out_deg FROM knn GROUP BY src),
       |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
       |c1 AS (SELECT e.dst AS id,
       |              sum((p.pr * 17) // (20 * o.out_deg)) AS m
       |       FROM knn e JOIN od o ON e.src = o.src
       |                  JOIN p0 p ON p.id = e.src
       |       GROUP BY e.dst),
       |p1 AS (SELECT n.id, CAST(150000 + COALESCE(c1.m, 0) AS BIGINT) AS pr
       |       FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
       |c2 AS (SELECT e.dst AS id,
       |              sum((p.pr * 17) // (20 * o.out_deg)) AS m
       |       FROM knn e JOIN od o ON e.src = o.src
       |                  JOIN p1 p ON p.id = e.src
       |       GROUP BY e.dst),
       |p2 AS (SELECT n.id, CAST(150000 + COALESCE(c2.m, 0) AS BIGINT) AS pr
       |       FROM nodes n LEFT JOIN c2 ON n.id = c2.id)
       |SELECT id AS vec_id, pr AS pr_micro FROM p2 ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.pageRank(
        Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
          .select(col("src"), col("dst")), iters = 2)
      .select(col("id").as("vec_id"), col("pr").as("pr_micro"))
      .orderBy(col("vec_id"))
  }

  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
      .select(col("src"), col("dst"))

  /** x83 triangle counts + local clustering coefficient over the
    * MUTUAL x76 edges — see [[graft.operators.Graph.triangleProfile]].
    * Cohesion metric: tight near-dup/topic pockets vs star noise. */
  val x83 = query("x83_triangle_profile",
    // Ordered two-path + closing-edge triangle enumeration over the
    // mutual (u<v) edge set; coefficient in exact integer micro-units,
    // NULL where deg < 2 (undefined).
    s"""WITH ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |        FROM mu e1 JOIN mu e2 ON e1.v = e2.u
       |                   JOIN mu e3 ON e3.u = e1.u AND e3.v = e2.v),
       |pern AS (SELECT id, count(*) AS tri FROM (
       |           SELECT a AS id FROM tri
       |           UNION ALL SELECT b FROM tri
       |           UNION ALL SELECT c FROM tri) t GROUP BY id),
       |deg AS (SELECT id, count(*) AS deg FROM (
       |          SELECT u AS id FROM mu UNION ALL SELECT v FROM mu) t
       |        GROUP BY id)
       |SELECT d.id AS vec_id, d.deg,
       |       CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
       |       CASE WHEN d.deg >= 2
       |            THEN (COALESCE(p.tri, 0) * 2000000) // (d.deg * (d.deg - 1))
       |       END AS cc_micro
       |FROM deg d LEFT JOIN pern p ON d.id = p.id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.triangleProfile(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir)))
      .select(col("id").as("vec_id"), col("deg"), col("tri"), col("cc_micro"))
      .orderBy(col("vec_id"))
  }

  /** x84 embedding-space duplicate clusters: connected components over
    * the mutual k-NN edges — [[Dedup.connectedComponents]] reused
    * across modality (x28 runs it on text-gram pairs, this on
    * embedding neighbors). cluster_id = min member id, the same
    * min-label contract. */
  val x84 = query("x84_embedding_clusters",
    // Min-label closure over the mutual edge set — the same recursive
    // contract as x28, on embedding neighbors instead of text grams.
    s"""WITH RECURSIVE ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |ed AS (SELECT u AS a, v AS b FROM mu
       |       UNION SELECT v AS a, u AS b FROM mu),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r)
       |SELECT node AS vec_id, min(r) AS cluster_id
       |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Dedup.connectedComponents(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir))
          .select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** x85 per-document curation scorecard: every signal value + the
    * first-fail verdict per doc ([[TextAnalysis.curationScorecard]]),
    * with the dup decision from the x68 canonicalization chain. The
    * row-level audit record behind x43's aggregate funnel. */
  val x85 = query("x85_curation_scorecard",
    // Composes the x68 canonical chain (recursive CC + keep rule), the
    // x29 repetition statistic, and the x81 novelty statistic — all
    // from their SHARED CTE renderings — into the per-doc first-fail
    // verdict. Signals a doc lacks coalesce to the passing side.
    s"""WITH RECURSIVE $scorecardCteSql
       |SELECT doc_id, n_tokens, top_gram_ratio, novelty, dup_keep, verdict
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val clusters = Dedup.canonicalizeClusters(
      Dedup.connectedComponents(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)), d)
    TextAnalysis.curationScorecard(d, clusters).orderBy(col("doc_id"))
  }

  /** x86 directional containment screen over a df-capped inverted
    * index ([[TextAnalysis.containmentScreen]]): subset/excerpt
    * duplication that symmetric Jaccard misses. */
  val x86 = query("x86_containment_screen",
    // Df-capped inverted index (grams in ≤ 50 docs generate pairs; all
    // statistics over the capped universe), integer-exact ½ keep rule.
    // Reuses the shared toks/ex rendering; ipairs/pairs stay unreferenced.
    s"""WITH $ngramPairsCteSql,
       |dfk AS (SELECT gram FROM (
       |          SELECT gram, count(*) AS df FROM ex GROUP BY gram) t
       |        WHERE df <= 50),
       |gk AS (SELECT ex.doc_id, ex.gram FROM ex JOIN dfk USING (gram)),
       |szk AS (SELECT doc_id, count(*) AS sz FROM gk GROUP BY doc_id),
       |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isz
       |       FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |       GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |       round(isz::DOUBLE / (sa.sz + sb.sz - isz)::DOUBLE, 6) AS jaccard,
       |       round(isz::DOUBLE / sa.sz::DOUBLE, 6) AS cont_a,
       |       round(isz::DOUBLE / sb.sz::DOUBLE, 6) AS cont_b
       |FROM ip JOIN szk sa ON ip.doc_a = sa.doc_id
       |        JOIN szk sb ON ip.doc_b = sb.doc_id
       |WHERE 2 * isz >= LEAST(sa.sz, sb.sz)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    TextAnalysis.containmentScreen(docs(s, dir), n = 3, maxDf = 50)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x87 first-order event-transition matrix with exact integer
    * conditional probabilities — see
    * [[graft.operators.Sequences.transitionMatrix]]. */
  val x87 = query("x87_transition_matrix",
    // Same (ts, event_id) per-user ordering as q22; the conditional
    // probability is integer-exact: n·10⁶ // per-prev-state total.
    """WITH p AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n FROM (
      |    SELECT event_type,
      |           lag(event_type) OVER (PARTITION BY user_id
      |                                 ORDER BY ts, event_id) AS prev_type
      |    FROM events) t
      |  WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type),
      |tot AS (SELECT prev_type, sum(n) AS tt FROM p GROUP BY prev_type)
      |SELECT p.prev_type, p.next_type, p.n,
      |       CAST((p.n * 1000000) // tot.tt AS BIGINT) AS p_micro
      |FROM p JOIN tot USING (prev_type)
      |ORDER BY p.prev_type, p.next_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.transitionMatrix(Tables.load(s, dir, "events"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** x88 perceptual-hash near-dup profile over media payloads
    * ([[Multimodal.perceptualHash]] + [[Multimodal.phashNearDup]]):
    * the image-near-dup shape on the fixture's text-as-bytes payloads,
    * summarized per Hamming distance (pair count + distinct docs
    * involved — bounded output at any corpus; letter-salad byte
    * spectra correlate, so the raw pair list is corpus-quadratic).
    * The banded engine feeds the profile, and the oracle recomputes it
    * from a brute-force all-pairs join — so the 4-band pigeonhole
    * recall guarantee is itself gate-checked. */
  val x88 = query("x88_phash_neardup",
    // Brute-force all-pairs ground truth for the banded engine: the
    // dHash bit rule is an integer compare over the zero-filled mod-32
    // byte histogram (ascii(c) % 32 IS the byte bin for the ASCII
    // fixture payloads), and recomputing the profile from ALL pairs
    // makes the 4-band pigeonhole recall claim part of the gate.
    """WITH ch AS (
      |  SELECT doc_id,
      |         list_transform(range(1, strlen(text) + 1),
      |                        i -> ascii(substr(text, CAST(i AS INT), 1)) % 32) AS bins
      |  FROM documents),
      |hist AS (SELECT doc_id,
      |                list_transform(range(0, 32),
      |                               b -> len(list_filter(bins, x -> x = b))) AS h
      |         FROM ch),
      |ph AS (SELECT doc_id,
      |              CAST(list_sum(list_transform(range(0, 32),
      |                b -> CASE WHEN h[CAST(b AS INT) + 1] > h[CAST((b + 1) % 32 AS INT) + 1]
      |                          THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS phash
      |       FROM hist),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |              CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |       FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
      |SELECT hamming, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
      |       CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      |FROM (SELECT hamming, unnest([doc_a, doc_b]) AS d FROM pr WHERE hamming <= 2) t
      |GROUP BY hamming ORDER BY hamming""".stripMargin) { (s, dir) =>
    Multimodal.phashNearDup(
        Multimodal.perceptualHash(
          Multimodal.asMedia(docs(s, dir), "doc_id", "text", "text", "source")),
        maxHamming = 2)
      .select(col("hamming"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"), col("doc_a"), col("doc_b"))
      .groupBy(col("hamming"))
      .agg((count(lit(1)) / 2).cast("bigint").as("n_pairs"),
        count_distinct(col("d")).as("n_docs"))
      .orderBy(col("hamming"))
  }

  /** x91 dataset card — the one-row corpus datasheet every released
    * training set ships: size, provenance breadth, token mass,
    * vocabulary, duplication, curation survival, novelty, and the
    * length median, in a single engine-exact row. Each statistic is an
    * already-verified operator's aggregate (dup pairs = the x04 exact
    * relation, kept/novelty = the x85 scorecard chain, median =
    * percentile_disc), composed here so the "datasheet" is itself a
    * declared, oracle-checked query rather than a by-hand report. */
  val x91 = query("x91_dataset_card",
    // Every cell re-derived from the shared CTE renderings: the x04
    // pair relation for duplication, the scorecard chain for
    // kept/novelty, percentile_disc for the median. One exact row.
    s"""WITH RECURSIVE $scorecardCteSql,
       |wrd AS (SELECT doc_id, unnest(w) AS word FROM toks),
       |base AS (SELECT count(*) AS n_docs,
       |                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |                CAST(sum(n_chars) AS BIGINT) AS total_chars
       |         FROM documents),
       |tok AS (SELECT CAST(sum(len(w)) AS BIGINT) AS total_tokens FROM toks),
       |dw AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS distinct_words FROM wrd),
       |dup AS (SELECT count(*) AS dup_pairs FROM pairs),
       |dd AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS dup_docs
       |       FROM (SELECT doc_a AS x FROM pairs UNION SELECT doc_b FROM pairs) t),
       |kept AS (SELECT count(*) AS kept_docs FROM sc WHERE verdict = 'kept'),
       |novm AS (SELECT CAST(sum(CAST(round(novelty * 1e6) AS BIGINT)) // count(*)
       |                     AS BIGINT) AS novelty_micro_mean
       |         FROM sc WHERE novelty IS NOT NULL),
       |p50 AS (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
       |                    AS BIGINT) AS p50_chars FROM documents)
       |SELECT * FROM base, tok, dw, dup, dd, kept, novm, p50""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.words
    val d = docs(s, dir)
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("source")).as("n_sources"),
      count_distinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).cast("bigint").as("total_chars"))
    val toks = Materialize(d.select(words(col("text")).as("__w")), "ExtensionQueries.x91: toks")
    val tok = toks.agg(sum(size(col("__w"))).cast("bigint").as("total_tokens"))
    val dw = toks.select(explode(col("__w")).as("word"))
      .agg(count_distinct(col("word")).as("distinct_words"))
    val pairs = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2)
      .transform(Materialize(_, "ExtensionQueries.x91: pairs"))
    val dup = pairs.agg(count(lit(1)).as("dup_pairs"))
    val dd = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("x"))
      .agg(count_distinct(col("x")).as("dup_docs"))
    val clusters = Dedup.canonicalizeClusters(
      Dedup.connectedComponents(pairs), d)
    val sc = Materialize(TextAnalysis.curationScorecard(d, clusters),
      "ExtensionQueries.x91: scorecard")
    val kept = sc.filter(col("verdict") === "kept")
      .agg(count(lit(1)).as("kept_docs"))
    val novm = sc.filter(col("novelty").isNotNull)
      .agg(expr(
        "cast(sum(cast(round(novelty * 1e6) as bigint)) div count(1) as bigint)")
        .as("novelty_micro_mean"))
    val p50 = d.selectExpr(
      "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) as bigint) AS p50_chars")
    base.join(tok).join(dw).join(dup).join(dd).join(kept).join(novm).join(p50)
  }

  /** x90 KMV source-similarity matrix: per-source bottom-64 sketches
    * over distinct word bigrams, pairwise KMV Jaccard estimates next
    * to the exact values ([[Profile.kmvPairSimilarity]]) — sketch
    * algebra as the scale path, exact columns as its calibration. */
  val x90 = query("x90_kmv_source_similarity",
    // Sketches AND exact both replayed: the same md5-60 item hashes,
    // bottom-64 per source, the KMV estimator over the merged
    // bottom-64, and the exact Jaccard from the full hash sets.
    s"""WITH tk AS (SELECT source, doc_id, ${wordsSql("text")} AS w FROM documents),
       |bg AS (SELECT DISTINCT source, unnest(${wordNgramsSql(2)}) AS g FROM tk),
       |hv AS (SELECT DISTINCT source, ${md5Hash60Sql("g")} AS h FROM bg),
       |sk AS (SELECT source, (list_sort(list(h)))[1:64] AS sk FROM hv GROUP BY source),
       |e2 AS (SELECT grp_a, grp_b,
       |              round(len(list_intersect(list_intersect(u, sa), sb))::DOUBLE
       |                    / len(u)::DOUBLE, 6) AS est_j FROM (
       |         SELECT a.source AS grp_a, b.source AS grp_b,
       |                (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:64] AS u,
       |                a.sk AS sa, b.sk AS sb
       |         FROM sk a JOIN sk b ON a.source < b.source) t),
       |sz AS (SELECT source, count(*) AS n FROM hv GROUP BY source),
       |ix AS (SELECT x.source AS grp_a, y.source AS grp_b, count(*) AS isz
       |       FROM hv x JOIN hv y ON x.h = y.h AND x.source < y.source
       |       GROUP BY x.source, y.source)
       |SELECT e2.grp_a, e2.grp_b, e2.est_j,
       |       COALESCE(round(ix.isz::DOUBLE / (sa2.n + sb2.n - ix.isz)::DOUBLE, 6),
       |                0.0) AS exact_j
       |FROM e2 LEFT JOIN ix ON e2.grp_a = ix.grp_a AND e2.grp_b = ix.grp_b
       |        JOIN sz sa2 ON e2.grp_a = sa2.source
       |        JOIN sz sb2 ON e2.grp_b = sb2.source
       |ORDER BY e2.grp_a, e2.grp_b""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.wordShingles
    val bigrams = docs(s, dir).select(col("source"),
      explode(wordShingles(col("text"), 2)).as("g"))
    Profile.kmvPairSimilarity(bigrams, "source", "g", k = 64)
      .orderBy(col("grp_a"), col("grp_b"))
  }

  /** x92 weekly retention cohorts over the event log — see
    * [[graft.operators.Sequences.retentionCohorts]]: Monday-truncated
    * first-week cohorts, integer-exact week offsets, and the retention
    * rate in micro-units (no float division anywhere). */
  val x92 = query("x92_retention_cohorts",
    // Replays retentionCohorts term by term: date_trunc('week') is ISO
    // Monday in both engines, the offset subtracts two Monday dates
    // (exactly divisible by 7), and the rate is integer floor-division
    // on non-negative longs — identical in Spark (`div`) and DuckDB
    // (`//`).
    """WITH f AS (SELECT user_id,
      |                  CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |           FROM events GROUP BY user_id),
      |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1),
      |act AS (SELECT f.cohort_week,
      |               datediff('day', f.cohort_week,
      |                        CAST(date_trunc('week', e.ts) AS DATE)) // 7
      |                 AS week_offset,
      |               e.user_id
      |        FROM events e JOIN f USING (user_id)),
      |r AS (SELECT cohort_week, week_offset,
      |             count(DISTINCT user_id) AS active_users
      |      FROM act GROUP BY 1, 2)
      |SELECT CAST(r.cohort_week AS STRING) AS cohort_week,
      |       CAST(week_offset AS BIGINT) AS week_offset,
      |       CAST(active_users AS BIGINT) AS active_users,
      |       CAST(cohort_size AS BIGINT) AS cohort_size,
      |       CAST(active_users * 1000000 // cohort_size AS BIGINT)
      |         AS retention_micro
      |FROM r JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.retentionCohorts(Tables.load(s, dir, "events"))
      // dates travel as strings through the gate (house convention —
      // q19/q33 do the same): pandas renders DATE differently per engine
      .withColumn("cohort_week", col("cohort_week").cast("string"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** x93 common-neighbor link prediction over the mutual k-NN graph —
    * see [[graft.operators.Graph.linkPrediction]]: non-adjacent vector
    * pairs ranked by shared-neighbor evidence, the recall-repair pass
    * over the x76 edge set (bucket-boundary misses resurface here). */
  val x93 = query("x93_link_prediction",
    // Replays linkPrediction over the same mutual edge set as x84: the
    // wedge join on the shared neighbor, the (u < v) adjacency
    // anti-check, and the micro-unit neighborhood Jaccard — integer
    // floor-division, engine-identical.
    s"""WITH ${knnEdgesCteSql(3)},
       |und AS (SELECT DISTINCT a.src AS u, a.dst AS v
       |        FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |        WHERE a.src < a.dst),
       |adj AS (SELECT u AS x, v AS n FROM und
       |        UNION ALL SELECT v, u FROM und),
       |cn AS (SELECT l.x AS a, r.x AS b, count(*) AS common
       |       FROM adj l JOIN adj r ON l.n = r.n AND l.x < r.x
       |       GROUP BY 1, 2),
       |nonadj AS (SELECT cn.* FROM cn
       |           LEFT JOIN und ON und.u = cn.a AND und.v = cn.b
       |           WHERE und.u IS NULL),
       |deg AS (SELECT x AS id, count(*) AS deg FROM adj GROUP BY x)
       |SELECT n.a, n.b, CAST(common AS BIGINT) AS common,
       |       CAST(common * 1000000 // (da.deg + db.deg - common) AS BIGINT)
       |         AS jaccard_micro
       |FROM nonadj n
       |JOIN deg da ON da.id = n.a
       |JOIN deg db ON db.id = n.b
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    graft.operators.Graph.linkPrediction(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir)))
      .orderBy(col("a"), col("b"))
  }

  /** x94 median/MAD robust length outliers per language — see
    * [[graft.operators.Profile.madOutliers]]: the 50%-breakdown
    * anomaly gate (x56's z-score screen collapses when the outliers
    * themselves inflate the std; the median/MAD pair does not). */
  val x94 = query("x94_mad_outliers",
    // Replays madOutliers: percentile_disc is an actual stored value in
    // both engines (x70/x91 established the parity), deviations and the
    // 3×MAD flag are pure integer algebra.
    """WITH med AS (
      |  SELECT lang, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
      |              AS BIGINT) AS med
      |  FROM documents GROUP BY lang),
      |dev AS (
      |  SELECT d.doc_id, d.lang, d.n_chars, med.med,
      |         abs(d.n_chars - med.med) AS dv
      |  FROM documents d JOIN med USING (lang)),
      |mad AS (
      |  SELECT lang, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dv)
      |              AS BIGINT) AS mad
      |  FROM dev GROUP BY lang)
      |SELECT dev.doc_id, dev.lang, CAST(dev.n_chars AS BIGINT) AS n_chars,
      |       dev.med, mad.mad, dev.dv > 3 * mad.mad AS is_outlier
      |FROM dev JOIN mad USING (lang)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Profile.madOutliers(docs(s, dir),
        "doc_id", "n_chars", "lang", k = 3)
      .orderBy(col("doc_id"))
  }

  /** x95 weight-proportional systematic sample, ~20 docs per language
    * with draw odds ∝ n_chars — see
    * [[graft.operators.TextAnalysis.systematicSample]]: the
    * engine-portable PPS eval-panel draw (no RNG, md5-ordered integer
    * line). */
  val x95 = query("x95_systematic_sample",
    // Replays systematicSample: same (md5(key), key) line order, same
    // BIGINT cumulative/stride algebra, same crossing test — both
    // engines floor-divide non-negative longs identically.
    """WITH lined AS (
      |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
      |         md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, w,
      |         sum(w) OVER (PARTITION BY lang ORDER BY h, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(w) OVER (PARTITION BY lang) AS tot
      |  FROM lined),
      |s AS (SELECT *, greatest(1, tot // 20) AS stride FROM c)
      |SELECT lang, doc_id, w AS weight,
      |       CAST(cum AS BIGINT) AS cum_weight,
      |       CAST((cum - w) // stride + 1 AS BIGINT) AS pick_no
      |FROM s
      |WHERE cum // stride > (cum - w) // stride
      |ORDER BY lang, pick_no""".stripMargin) { (s, dir) =>
    graft.operators.TextAnalysis.systematicSample(docs(s, dir),
        "doc_id", "n_chars", "lang", k = 20)
      .orderBy(col("lang"), col("pick_no"))
  }

  /** x96 bigram-LM transition scores, English-slice reference — see
    * [[graft.operators.TextAnalysis.bigramLogProb]]: the
    * order-sensitive LM gate (x67's unigram scoring cannot see
    * scrambled word order; transition probabilities can), same
    * per-type micro-nat quantization discipline. */
  val x96 = query("x96_bigram_logprob",
    // Replays bigramLogProb with x67's per-type quantization: adjacent
    // pairs from the SAME word tokenizer, add-one transition model off
    // the English slice, micro-nat rounding before any accumulation.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |pr AS (SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
       |             FROM toks WHERE len(w) >= 2)),
       |rp AS (SELECT p.w1, p.w2, count(*) AS c12
       |       FROM pr p JOIN documents d USING (doc_id) WHERE d.lang = 'en'
       |       GROUP BY 1, 2),
       |rl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM rp GROUP BY w1),
       |st AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM rp),
       |dtf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM pr GROUP BY 1, 2, 3),
       |sc AS (SELECT dtf.doc_id,
       |         CAST(sum(tf) AS BIGINT) AS n_transitions,
       |         CAST(sum(tf * CAST(round(round(ln(
       |             (coalesce(rp.c12, 0)::DOUBLE + 1.0) /
       |             (coalesce(rl.c1, 0)::DOUBLE + st.v::DOUBLE + 1.0)), 6)
       |           * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_logp_micro
       |       FROM dtf LEFT JOIN rp USING (w1, w2) LEFT JOIN rl USING (w1)
       |            CROSS JOIN st
       |       GROUP BY dtf.doc_id)
       |SELECT d.doc_id, coalesce(sc.n_transitions, 0) AS n_transitions,
       |       sc.sum_logp_micro,
       |       CASE WHEN sc.n_transitions > 0
       |            THEN round(sc.sum_logp_micro::DOUBLE /
       |                       (sc.n_transitions::DOUBLE * 1000000.0), 6)
       |       END AS avg_logp
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.bigramLogProb(d, d.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** x97 rolling active users — see
    * [[graft.operators.Sequences.rollingActiveUsers]]: exact DAU,
    * trailing-7-day WAU, and integer-micro stickiness per observed
    * day; the event volume collapses to the distinct (day, user)
    * frame before any windowed work. */
  val x97 = query("x97_rolling_actives",
    // Replays rollingActiveUsers on the distinct (day, user) frame:
    // trailing-7-CALENDAR-day window via the day range join, exact
    // distincts, integer floor-division stickiness.
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
      |            FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
      |days AS (SELECT DISTINCT day AS anchor FROM du),
      |wau AS (SELECT anchor, count(DISTINCT u) AS wau
      |        FROM du JOIN days ON du.day <= anchor AND du.day > anchor - 7
      |        GROUP BY anchor)
      |SELECT CAST(dau.day AS STRING) AS day, CAST(dau AS BIGINT) AS dau,
      |       CAST(wau AS BIGINT) AS wau,
      |       CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_micro
      |FROM dau JOIN wau ON dau.day = wau.anchor
      |ORDER BY day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.rollingActiveUsers(Tables.load(s, dir, "events"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"))
  }

  /** x98 per-source distinctive terms — see
    * [[graft.operators.TextAnalysis.distinctiveTerms]]: class-based
    * TF-IDF with per-term micro-nat idf quantization, the per-provider
    * topic fingerprint next to x32's corpus-wide top terms. */
  val x98 = query("x98_distinctive_terms",
    // Replays distinctiveTerms: same tokenizer, df = rows of the
    // (source, term) tf relation per term, per-term micro-nat idf
    // quantization, integer tf×idf, (score desc, term) top-5 cut.
    s"""WITH st AS (
       |  SELECT source, unnest(${wordsSql("text")}) AS term
       |  FROM documents),
       |tf AS (SELECT source, term, count(*) AS tf FROM st GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS s FROM documents),
       |sc AS (
       |  SELECT tf.source, tf.term, CAST(tf.tf AS BIGINT) AS tf,
       |         CAST(dfq.df AS BIGINT) AS df,
       |         CAST(tf.tf * CAST(round(round(ln(ns.s::DOUBLE / dfq.df::DOUBLE), 6)
       |           * 1000000.0) AS BIGINT) AS BIGINT) AS score_micro
       |  FROM tf JOIN dfq USING (term) CROSS JOIN ns),
       |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
       |         ORDER BY score_micro DESC, term) AS BIGINT) AS rank FROM sc)
       |SELECT source, rank, term, tf, df, score_micro
       |FROM rk WHERE rank <= 5
       |ORDER BY source, rank""".stripMargin) { (s, dir) =>
    TextAnalysis.distinctiveTerms(docs(s, dir), topN = 5)
      .orderBy(col("source"), col("rank"))
  }

  /** x99 per-user time-to-convert — see
    * [[graft.operators.Sequences.timeToConvert]] over
    * [[graft.operators.Joins.asOfForward]]: first view → earliest
    * at-or-after purchase, exact integer-second gaps, non-converters
    * kept as null-delta rows. */
  val x99 = query("x99_time_to_convert",
    // Replays timeToConvert: the forward as-of collapses to
    // min(purchase.ts ≥ first_view.ts) per user — only the matched TS
    // surfaces, so the (ts, event_id) tie-break is value-invisible —
    // and the second gaps are integer floor-divisions of epoch-µs.
    """WITH v AS (SELECT user_id, min(ts) AS fts FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT v.user_id, v.fts, min(p.ts) AS cts
      |      FROM v LEFT JOIN p
      |        ON p.user_id = v.user_id AND p.ts >= v.fts
      |      GROUP BY v.user_id, v.fts)
      |SELECT user_id,
      |       CAST(epoch_us(fts) // 1000000 AS BIGINT) AS from_s,
      |       CAST(epoch_us(cts) // 1000000 AS BIGINT) AS to_s,
      |       CAST((epoch_us(cts) - epoch_us(fts)) // 1000000 AS BIGINT)
      |         AS delta_s
      |FROM c ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.timeToConvert(
        Tables.load(s, dir, "events"), "view", "purchase")
      .orderBy(col("user_id"))
  }

  /** x100 source→language mixture drift — see
    * [[graft.operators.Profile.mixDrift]]: per-source total-variation
    * distance from the corpus language mix, integer micro-units. */
  val x100 = query("x100_mix_drift",
    // Replays mixDrift: micro-unit floor-divided distributions over
    // the full group × category grid (missing cells pay the corpus
    // mass), BIGINT abs-diff sum, integer halving.
    """WITH gc AS (SELECT source AS grp, lang AS cat, count(*) AS n_gc
      |            FROM documents GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(sum(n_gc) AS BIGINT) AS n_g FROM gc GROUP BY grp),
      |c AS (SELECT cat, CAST(sum(n_gc) AS BIGINT) AS n_c FROM gc GROUP BY cat),
      |t AS (SELECT CAST(sum(n_gc) AS BIGINT) AS n FROM gc),
      |d AS (SELECT g.grp, g.n_g,
      |             abs(coalesce(gc.n_gc, 0) * 1000000 // g.n_g
      |                 - c.n_c * 1000000 // t.n) AS dv
      |      FROM g CROSS JOIN c CROSS JOIN t
      |      LEFT JOIN gc ON gc.grp = g.grp AND gc.cat = c.cat)
      |SELECT grp AS source, CAST(max(n_g) AS BIGINT) AS n_rows,
      |       CAST(sum(dv) // 2 AS BIGINT) AS tv_micro
      |FROM d GROUP BY grp ORDER BY source""".stripMargin) { (s, dir) =>
    graft.operators.Profile.mixDrift(docs(s, dir), "source", "lang")
      .orderBy(col("source"))
  }

  /** x101 PQ ANN with exact rerank — see
    * [[graft.operators.Similarity.pqTopK]]: 8×16 product-quantization
    * codes, integer-micro ADC shortlist (width 50), exact-cosine
    * rerank to top-10. The compression-side ANN next to IVF's
    * pruning-side (x22/x26) and LSH's bucketing-side (x07). */
  val x101 = query("x101_pq_ann_rerank",
    // Replays the full PQ pipeline against the SAME codebook literals:
    // argmin encoding (list_distance is √ of the Spark plan's summed
    // squares — monotone, so the argmin and its idx tie-break agree),
    // per-(query, subspace, code) micro-quantized ADC terms summed as
    // INTEGERS (accumulation-order-proof), the (adc, id) shortlist,
    // and the rounded-cosine rerank.
    s"""WITH cent(j, idx, v) AS (VALUES
       |  $pqCentValuesSql),
       |b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |      WHERE len(embedding) = 64
       |        AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |enc AS (
       |  SELECT vec_id, j, idx FROM (
       |    SELECT b.vec_id, c.j, c.idx,
       |           row_number() OVER (PARTITION BY b.vec_id, c.j
       |             ORDER BY list_distance(b.e[(c.j*8+1):(c.j*8+8)], c.v), c.idx)
       |             AS rn
       |    FROM b CROSS JOIN cent c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM b WHERE vec_id < 5),
       |adc AS (
       |  SELECT q.query_id, enc.vec_id,
       |         CAST(SUM(CAST(round(round(
       |             power(list_distance(q.qe[(enc.j*8+1):(enc.j*8+8)], c.v), 2),
       |             6) * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_micro
       |  FROM enc JOIN cent c ON c.j = enc.j AND c.idx = enc.idx
       |       CROSS JOIN q
       |  GROUP BY q.query_id, enc.vec_id),
       |short AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc_micro, vec_id) AS rn
       |    FROM adc) t WHERE rn <= 50),
       |rr AS (SELECT s.query_id, s.vec_id,
       |              round(list_cosine_similarity(q.qe, b.e), 6) AS cosine
       |       FROM short s
       |       JOIN b ON b.vec_id = s.vec_id
       |       JOIN q ON q.query_id = s.query_id)
       |SELECT query_id, vec_id, cosine, rank FROM (
       |  SELECT query_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM rr) t WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val cb = graft.operators.Similarity.pqCodebook(8, 8, 16)
    graft.operators.Similarity.pqTopK(
        graft.operators.Similarity.pqEncode(emb(s, dir), cb), cb,
        queryVectors(s, dir), k = 10, shortlist = 50)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x102 filter-agreement kappa — see
    * [[graft.operators.Profile.pairwiseKappa]] over three cheap
    * curation gates (x85's length rule, a quality-score threshold on
    * the bit-portable raw score, x29's repetition rule): which filters
    * agree beyond their base rates, i.e. which are redundant. */
  val x102 = query("x102_filter_kappa",
    // Replays pairwiseKappa over the same three gates: the UNROUNDED
    // quality score (qr — exact-operand doubles), the x10 whitespace
    // token count, the x29 rounded repetition ratio; κ's one double
    // division is correctly rounded from exact integer operands.
    s"""WITH ${qualityCteSql("doc_id")},
       |toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(2, distinct = false)} AS g FROM toks),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM ng),
       |gc AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY doc_id, gram),
       |rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS tgr
       |        FROM gc GROUP BY doc_id),
       |nt AS (SELECT doc_id,
       |         len(list_filter(string_split_regex(trim(text), '\\s+'),
       |             x -> len(x) > 0)) AS n_tokens
       |       FROM documents),
       |fl AS (SELECT d.doc_id,
       |         nt.n_tokens >= 20 AS len_ok,
       |         q.qr >= 0.75 AS quality_ok,
       |         coalesce(rep.tgr, 0.0) <= 0.06 AS repeat_ok
       |       FROM documents d JOIN nt USING (doc_id) JOIN q USING (doc_id)
       |       LEFT JOIN rep USING (doc_id)),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS m_len,
       |         CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS m_q,
       |         CAST(sum(CASE WHEN repeat_ok THEN 1 ELSE 0 END) AS BIGINT) AS m_r,
       |         CAST(sum(CASE WHEN len_ok AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS b_lq,
       |         CAST(sum(CASE WHEN len_ok AND repeat_ok THEN 1 ELSE 0 END) AS BIGINT) AS b_lr,
       |         CAST(sum(CASE WHEN quality_ok AND repeat_ok THEN 1 ELSE 0 END) AS BIGINT) AS b_qr
       |       FROM fl),
       |pairs AS (
       |  SELECT 'len_ok' AS gate_a, 'quality_ok' AS gate_b,
       |         n, b_lq AS a11, m_len AS x1, m_q AS y1 FROM ag
       |  UNION ALL SELECT 'len_ok', 'repeat_ok', n, b_lr, m_len, m_r FROM ag
       |  UNION ALL SELECT 'quality_ok', 'repeat_ok', n, b_qr, m_q, m_r FROM ag)
       |SELECT gate_a, gate_b, n,
       |       CAST(n - x1 - y1 + 2 * a11 AS BIGINT) AS agree,
       |       CASE WHEN n * n = x1 * y1 + (n - x1) * (n - y1) THEN NULL
       |            ELSE round(
       |              ((n - x1 - y1 + 2 * a11) * n
       |                - (x1 * y1 + (n - x1) * (n - y1)))::DOUBLE
       |              / (n * n - (x1 * y1 + (n - x1) * (n - y1)))::DOUBLE, 6)
       |       END AS kappa
       |FROM pairs ORDER BY gate_a, gate_b""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.{qualityScoreRaw, tokenCount}
    val d = docs(s, dir)
    val flags = d
      .join(TextAnalysis.repetitionRatio(d, ngram = 2), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (tokenCount(col("text")) >= 20).as("len_ok"),
        (qualityScoreRaw(col("text")) >= 0.75).as("quality_ok"),
        (coalesce(col("top_gram_ratio"), lit(0.0)) <= 0.06).as("repeat_ok"))
    Profile.pairwiseKappa(flags, Seq("len_ok", "quality_ok", "repeat_ok"))
      .orderBy(col("gate_a"), col("gate_b"))
  }

  /** x103 text-normalization audit — every doc through
    * [[graft.functions.TextFunctions.normalizeText]] with before/after
    * evidence and the md5 of the canonical form (the content key
    * dedup would use downstream). */
  val x103 = query("x103_normalize_audit",
    // Replays normalizeText rule for rule: same \x{...} character
    // classes (RE2 and java.util.regex parse them identically), same
    // order, DuckDB's 'g' flag supplying the replace-all Spark does by
    // default; md5 of the canonical form is byte-identical.
    """WITH n AS (SELECT doc_id, length(text) AS n_before,
      |  trim(regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(text,
      |              '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
      |            '[\x{00}-\x{1F}\x{7F}]', ' ', 'g'),
      |          '[\x{201C}\x{201D}]', '"', 'g'),
      |        '[\x{2018}\x{2019}]', '''', 'g'),
      |      '[\x{2013}\x{2014}]', '-', 'g'),
      |    ' +', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
      |       CAST(length(norm) AS BIGINT) AS n_after,
      |       n_before <> length(norm) AS shrunk,
      |       substr(md5(norm), 1, 16) AS norm_md5
      |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.normalizeText
    docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_before"),
        normalizeText(col("text")).as("__norm"))
      .select(col("doc_id"), col("n_before"),
        length(col("__norm")).cast("long").as("n_after"),
        (col("n_before") =!= length(col("__norm")).cast("long")).as("shrunk"),
        substring(md5(col("__norm")), 1, 16).as("norm_md5"))
      .orderBy(col("doc_id"))
  }

  /** x104 winsorized length stats per language — see
    * [[graft.operators.Profile.winsorizedStats]]: the robust "typical
    * doc length" read, raw mean alongside so the tail mass is visible. */
  val x104 = query("x104_winsorized_stats",
    // Replays winsorizedStats: percentile_disc clamp bounds, min/max
    // clamping, and both means as integer floor-divisions.
    """WITH b AS (SELECT lang,
      |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)
      |         AS BIGINT) AS lo,
      |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)
      |         AS BIGINT) AS hi
      |  FROM documents GROUP BY lang),
      |c AS (SELECT d.lang, b.lo, b.hi,
      |             least(greatest(d.n_chars, b.lo), b.hi) AS w,
      |             d.n_chars AS v
      |      FROM documents d JOIN b USING (lang))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |       CAST(max(lo) AS BIGINT) AS lo, CAST(max(hi) AS BIGINT) AS hi,
      |       CAST(sum(w) * 1000000 // count(*) AS BIGINT) AS wmean_micro,
      |       CAST(sum(v) * 1000000 // count(*) AS BIGINT) AS mean_micro
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Profile.winsorizedStats(docs(s, dir), "n_chars", "lang")
      .orderBy(col("lang"))
  }

  /** x105 blocked fuzzy self-join over part names — see
    * [[graft.operators.Joins.blockedFuzzyJoin]]: name variants within
    * 4 edits, blocked on the last token (the product noun), the
    * entity-resolution join class. Distinct names only, a < b. */
  val x105 = query("x105_fuzzy_join",
    // Replays the blocked fuzzy join: same last-token block key, same
    // levenshtein (classic edit distance in both engines), same a < b
    // orientation over distinct names.
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
      |blk AS (SELECT name, list_extract(string_split(name, ' '), -1) AS b
      |        FROM names)
      |SELECT a.name AS name_a, b2.name AS name_b,
      |       CAST(levenshtein(a.name, b2.name) AS INT) AS dist
      |FROM blk a JOIN blk b2 ON a.b = b2.b
      |WHERE levenshtein(a.name, b2.name) <= 4 AND a.name < b2.name
      |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
    val names = Tables.load(s, dir, "part")
      .select(col("p_name").as("name")).distinct()
    graft.operators.Joins.blockedFuzzyJoin(
        names.select(col("name").as("name_a")),
        names.select(col("name").as("name_b")),
        "name_a", "name_b", maxDist = 4,
        c => element_at(split(c, " "), -1))
      .filter(col("name_a") < col("name_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** x106 market-basket lift over the event log — see
    * [[graft.operators.Sequences.basketPairs]]: which event types
    * co-occur in a user-day beyond their base rates, integer-micro
    * lift. */
  val x106 = query("x106_basket_lift",
    // Replays basketPairs: distinct (user, day, type) items, the
    // within-basket pair join, and the integer-micro lift.
    """WITH items AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d,
      |                      event_type AS t
      |               FROM events),
      |n AS (SELECT count(*) AS n_baskets
      |      FROM (SELECT DISTINCT u, d FROM items)),
      |s AS (SELECT t, count(*) AS n1 FROM items GROUP BY t),
      |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_pairs
      |      FROM items a JOIN items b
      |        ON a.u = b.u AND a.d = b.d AND a.t < b.t
      |      GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(sa.n1 AS BIGINT) AS n_a, CAST(sb.n1 AS BIGINT) AS n_b,
      |       CAST(n.n_baskets AS BIGINT) AS n_baskets,
      |       CAST(n_pairs * n.n_baskets * 1000000 // (sa.n1 * sb.n1)
      |            AS BIGINT) AS lift_micro
      |FROM p JOIN s sa ON sa.t = p.type_a
      |       JOIN s sb ON sb.t = p.type_b
      |       CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.basketPairs(Tables.load(s, dir, "events"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** x107 PQ quantization-error audit — see
    * [[graft.operators.Similarity.pqQuantizationError]]: per-subspace
    * error of the x101 codebook on the corpus, the fit-for-purpose
    * gate on the codes the ANN serves. */
  val x107 = query("x107_pq_error_audit",
    // Replays the audit over the same enc CTE as x101: each vector's
    // slice against its OWN centroid, the identical per-term micro
    // quantization, integer mean (div) and max per subspace.
    s"""WITH cent(j, idx, v) AS (VALUES
       |  $pqCentValuesSql),
       |b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |      WHERE len(embedding) = 64
       |        AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |enc AS (
       |  SELECT vec_id, j, idx FROM (
       |    SELECT b.vec_id, c.j, c.idx,
       |           row_number() OVER (PARTITION BY b.vec_id, c.j
       |             ORDER BY list_distance(b.e[(c.j*8+1):(c.j*8+8)], c.v), c.idx)
       |             AS rn
       |    FROM b CROSS JOIN cent c) t WHERE rn = 1),
       |err AS (
       |  SELECT enc.j AS subspace,
       |         CAST(round(round(
       |             power(list_distance(b.e[(enc.j*8+1):(enc.j*8+8)], c.v), 2),
       |             6) * 1000000.0) AS BIGINT) AS err
       |  FROM enc JOIN b USING (vec_id)
       |       JOIN cent c ON c.j = enc.j AND c.idx = enc.idx)
       |SELECT CAST(subspace AS INT) AS subspace,
       |       CAST(count(*) AS BIGINT) AS n_vectors,
       |       CAST(sum(err) // count(*) AS BIGINT) AS mean_err_micro,
       |       CAST(max(err) AS BIGINT) AS max_err_micro
       |FROM err GROUP BY subspace ORDER BY subspace""".stripMargin) { (s, dir) =>
    val cb = graft.operators.Similarity.pqCodebook(8, 8, 16)
    graft.operators.Similarity.pqQuantizationError(
        graft.operators.Similarity.pqEncode(emb(s, dir), cb), cb)
      .orderBy(col("subspace"))
  }

  /** x108 hour-of-day seasonal deviation — see
    * [[graft.operators.Sequences.hourlyBaselineDeviation]]: each
    * (date, hour) cell against its hour's cross-day baseline, the
    * seasonality-aware complement to x56's global z-score. */
  val x108 = query("x108_hourly_deviation",
    // Replays hourlyBaselineDeviation: (date, hour) cells, cross-day
    // hour totals, distinct-day count, both integer floor-divisions,
    // the 2x spike compare.
    """WITH cells AS (SELECT CAST(ts AS DATE) AS day,
      |                      CAST(extract(hour FROM ts) AS INT) AS hr,
      |                      count(*) AS n
      |               FROM events GROUP BY 1, 2),
      |d AS (SELECT count(DISTINCT day) AS n_days FROM cells),
      |b AS (SELECT hr, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY hr)
      |SELECT CAST(c.day AS STRING) AS day, c.hr, CAST(c.n AS BIGINT) AS n,
      |       CAST(b.tot * 1000000 // d.n_days AS BIGINT) AS base_micro,
      |       CAST(c.n * d.n_days * 1000000 // b.tot AS BIGINT) AS ratio_micro,
      |       c.n * d.n_days * 1000000 // b.tot >= 2000000 AS is_spike
      |FROM cells c JOIN b USING (hr) CROSS JOIN d
      |ORDER BY day, hr""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.hourlyBaselineDeviation(
        Tables.load(s, dir, "events"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"), col("hr"))
  }

  /** x109 weekly growth accounting — see
    * [[graft.operators.Sequences.growthAccounting]]: every week's
    * actives decomposed into new/retained/resurrected with the
    * reconciling churn count — the attributable form of a DAU curve. */
  val x109 = query("x109_growth_accounting",
    // Replays growthAccounting: Monday weeks, first-week per user,
    // prev-week membership by the (user, week−7) self-join, and the
    // shifted-totals churn identity.
    """WITH wu AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk,
      |                   user_id AS u
      |            FROM events),
      |f AS (SELECT u, min(wk) AS fw FROM wu GROUP BY u),
      |cls AS (SELECT wu.wk, wu.u,
      |          CASE WHEN wu.wk = f.fw THEN 'new'
      |               WHEN p.u IS NOT NULL THEN 'retained'
      |               ELSE 'resurrected' END AS c
      |        FROM wu JOIN f USING (u)
      |        LEFT JOIN wu p ON p.u = wu.u AND p.wk = wu.wk - 7),
      |bw AS (SELECT wk, count(*) AS actives,
      |         CAST(sum(CASE WHEN c = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS new_users,
      |         CAST(sum(CASE WHEN c = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS retained,
      |         CAST(sum(CASE WHEN c = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS resurrected
      |       FROM cls GROUP BY wk)
      |SELECT CAST(bw.wk AS STRING) AS week,
      |       CAST(bw.actives AS BIGINT) AS actives, bw.new_users,
      |       bw.retained, bw.resurrected,
      |       CAST(coalesce(pv.actives, 0) - bw.retained AS BIGINT) AS churned
      |FROM bw LEFT JOIN bw pv ON pv.wk = bw.wk - 7
      |ORDER BY week""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.growthAccounting(Tables.load(s, dir, "events"))
      .withColumn("week", col("week").cast("string"))
      .orderBy(col("week"))
  }

  /** x110 per-source Simpson diversity over languages — see
    * [[graft.operators.Profile.simpsonDiversity]]: the effective
    * language count per provider, immune to trace-amount inflation. */
  val x110 = query("x110_simpson_diversity",
    // Replays simpsonDiversity: (group, category) counts, integer
    // Simpson and inverse-Simpson micro-units.
    """WITH gc AS (SELECT source AS grp, lang AS cat, count(*) AS n_gc
      |            FROM documents GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(sum(n_gc) AS BIGINT) AS n,
      |             CAST(count(*) AS BIGINT) AS n_cats,
      |             CAST(sum(n_gc * n_gc) AS BIGINT) AS ss
      |      FROM gc GROUP BY grp)
      |SELECT grp AS source, n, n_cats,
      |       CAST(ss * 1000000 // (n * n) AS BIGINT) AS simpson_micro,
      |       CAST(n * n * 1000000 // ss AS BIGINT) AS effective_micro
      |FROM g ORDER BY source""".stripMargin) { (s, dir) =>
    Profile.simpsonDiversity(docs(s, dir), "source", "lang")
      .orderBy(col("source"))
  }

  /** x111 language-ID report card — see
    * [[graft.operators.TextAnalysis.classifierPrf]]: per-class
    * precision/recall/F1 of the langId heuristic against the
    * fixture's true labels, integer micro throughout, null (not zero)
    * where a metric is undefined. */
  val x111 = query("x111_langid_prf",
    // Replays classifierPrf off the SAME prediction CTE as x08: one
    // confusion aggregation, margins minus the diagonal, and each
    // metric as a single integer micro-division (F1's harmonic mean
    // collapses to 2·tp/(2·tp+fp+fn)); undefined metrics stay null.
    s"""WITH $langPredCteSql,
       |conf AS (SELECT lang AS t, lang_pred AS pd, count(*) AS n
       |         FROM p GROUP BY 1, 2),
       |cls AS (SELECT t AS class FROM conf UNION SELECT pd FROM conf),
       |tp AS (SELECT t AS class, n AS tp FROM conf WHERE t = pd),
       |pt AS (SELECT pd AS class, CAST(sum(n) AS BIGINT) AS pt
       |       FROM conf GROUP BY pd),
       |tt AS (SELECT t AS class, CAST(sum(n) AS BIGINT) AS tt
       |       FROM conf GROUP BY t),
       |m AS (SELECT c.class, coalesce(tp.tp, 0) AS tp,
       |             coalesce(pt.pt, 0) - coalesce(tp.tp, 0) AS fp,
       |             coalesce(tt.tt, 0) - coalesce(tp.tp, 0) AS fn
       |      FROM cls c LEFT JOIN tp USING (class)
       |           LEFT JOIN pt USING (class) LEFT JOIN tt USING (class))
       |SELECT class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       CAST(fn AS BIGINT) AS fn,
       |       CASE WHEN tp + fp > 0
       |            THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT)
       |       END AS precision_micro,
       |       CASE WHEN tp + fn > 0
       |            THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT)
       |       END AS recall_micro,
       |       CASE WHEN 2 * tp + fp + fn > 0
       |            THEN CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT)
       |       END AS f1_micro
       |FROM m ORDER BY class""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.langId
    val d = docs(s, dir)
    TextAnalysis.classifierPrf(
        d.select(col("lang").as("truth"), langId(col("text")).as("pred")),
        "truth", "pred")
      .orderBy(col("class"))
  }

  /** x112 end-to-end entity resolution over part names — see
    * [[graft.operators.Joins.entityResolution]]: blocked fuzzy match →
    * transitive closure → canonical entity per component; singletons
    * resolve to themselves. */
  val x112 = query("x112_entity_resolution",
    // Replays entityResolution: the x105 fuzzy pair relation as edges,
    // the x28 recursive transitive closure, min-member canonical id,
    // singletons resolving to themselves via the left-join coalesce.
    """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
      |blk AS (SELECT name, list_extract(string_split(name, ' '), -1) AS b
      |        FROM names),
      |prs AS (SELECT a.name AS na, b2.name AS nb
      |        FROM blk a JOIN blk b2 ON a.b = b2.b
      |        WHERE levenshtein(a.name, b2.name) <= 4 AND a.name < b2.name),
      |ed AS (SELECT na AS a, nb AS b FROM prs
      |       UNION SELECT nb AS a, na AS b FROM prs),
      |nodes AS (SELECT DISTINCT a AS node FROM ed),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
      |cl AS (SELECT node AS name, min(r) AS entity_id FROM reach GROUP BY node),
      |res AS (SELECT n.name, coalesce(cl.entity_id, n.name) AS entity_id
      |        FROM names n LEFT JOIN cl USING (name)),
      |sz AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
      |       FROM res GROUP BY entity_id)
      |SELECT res.name, res.entity_id, sz.n_members
      |FROM res JOIN sz USING (entity_id)
      |ORDER BY name""".stripMargin) { (s, dir) =>
    graft.operators.Joins.entityResolution(
        Tables.load(s, dir, "part").select(col("p_name")),
        "p_name", maxDist = 4, c => element_at(split(c, " "), -1))
      .orderBy(col("name"))
  }

  /** x113 exact equi-depth length bins per language — see
    * [[graft.operators.Profile.equiDepthBins]]: 8 equal-population
    * buckets with exact [lo, hi] ranges, (value, id)-total-ordered. */
  val x113 = query("x113_equidepth_bins",
    // Replays equiDepthBins: same ntile over the same (value, id)
    // total order, exact min/max/count per (group, bin).
    """WITH t AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
      |    CAST(ntile(8) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |         AS INT) AS bin
      |  FROM documents)
      |SELECT lang, bin, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
      |FROM t GROUP BY lang, bin ORDER BY lang, bin""".stripMargin) { (s, dir) =>
    Profile.equiDepthBins(docs(s, dir), "doc_id", "n_chars", "lang", bins = 8)
      .orderBy(col("lang"), col("bin"))
  }

  /** x114 dense calendar spine with gap-fill and a trailing 7-day
    * total — see [[graft.operators.Sequences.calendarSpine]]: the
    * rolling read that stays honest across silent days. */
  val x114 = query("x114_calendar_spine",
    // Replays calendarSpine: per-day counts, generate_series dense
    // spine, zero-filled left join, 7-ROW trailing sum (rows ≡ days on
    // the dense spine).
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS n
      |               FROM events GROUP BY 1),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
      |spine AS (SELECT CAST(unnest(generate_series(lo::TIMESTAMP,
      |                 hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
      |          FROM b),
      |f AS (SELECT s.day, coalesce(d.n, 0) AS n, d.n IS NULL AS is_gap
      |      FROM spine s LEFT JOIN daily d USING (day))
      |SELECT CAST(day AS STRING) AS day, CAST(n AS BIGINT) AS n,
      |       CAST(sum(n) OVER (ORDER BY day
      |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_roll,
      |       is_gap
      |FROM f ORDER BY day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.calendarSpine(Tables.load(s, dir, "events"))
      .withColumn("day", col("day").cast("string"))
      .orderBy(col("day"))
  }

  /** x115 per-source dedup savings accounting — see
    * [[graft.operators.Dedup.dedupSavings]] over the x68 canonical
    * chain: docs/chars before vs after the keep rule, micro-exact. */
  val x115 = query("x115_dedup_savings",
    // Replays dedupSavings over the x68 canonical chain: the x04 pair
    // relation → recursive closure → (len DESC, id) representative →
    // keep flags, then the per-source accounting with out-of-cluster
    // docs kept by the coalesce.
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
       |wl AS (SELECT cl.doc_id, cl.cluster_id, coalesce(d.n_chars, -1) AS len
       |       FROM cl LEFT JOIN documents d USING (doc_id)),
       |cn AS (SELECT cluster_id, doc_id AS canonical_id FROM (
       |         SELECT cluster_id, doc_id,
       |                row_number() OVER (PARTITION BY cluster_id
       |                                   ORDER BY len DESC, doc_id) AS rn
       |         FROM wl) t WHERE rn = 1),
       |kp AS (SELECT wl.doc_id, wl.doc_id = cn.canonical_id AS keep
       |       FROM wl JOIN cn USING (cluster_id))
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN coalesce(kp.keep, TRUE) THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_kept,
       |       CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
       |       CAST(sum(CASE WHEN coalesce(kp.keep, TRUE) THEN d.n_chars
       |                     ELSE 0 END) AS BIGINT) AS chars_kept,
       |       CAST((sum(d.n_chars) -
       |             sum(CASE WHEN coalesce(kp.keep, TRUE) THEN d.n_chars
       |                      ELSE 0 END)) * 1000000 // sum(d.n_chars)
       |            AS BIGINT) AS savings_micro
       |FROM documents d LEFT JOIN kp USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val canon = Dedup.canonicalizeClusters(
      Dedup.connectedComponents(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)), d)
    Dedup.dedupSavings(d, canon).orderBy(col("source"))
  }

  /** x116 Benford first-digit audit on order totals — see
    * [[graft.operators.Profile.benfordAudit]]: observed vs expected
    * leading-digit frequencies, literal-constant expectations. */
  val x116 = query("x116_benford_audit",
    // Replays benfordAudit: same truncated-integer leading digit, the
    // SAME Scala-computed expected-micro literals, integer floor
    // divisions throughout.
    s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
       |                 AS VARCHAR), 1, 1) AS INT) AS digit
       |           FROM orders WHERE o_totalprice >= 1),
       |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g),
       |e(digit, exp_micro) AS (VALUES $benfordValuesSql)
       |SELECT g.digit, g.n,
       |       CAST(g.n * 1000000 // t.tot AS BIGINT) AS obs_micro,
       |       CAST(e.exp_micro AS BIGINT) AS exp_micro,
       |       CAST(abs(g.n * 1000000 // t.tot - e.exp_micro) AS BIGINT)
       |         AS gap_micro
       |FROM g JOIN e USING (digit) CROSS JOIN t
       |ORDER BY digit""".stripMargin) { (s, dir) =>
    Profile.benfordAudit(Tables.load(s, dir, "orders"), "o_totalprice")
      .orderBy(col("digit"))
  }

  /** x117 source×language PMI profile — see
    * [[graft.operators.Profile.pmiProfile]]: per-cell association
    * against independence plus the cell's exact MI contribution,
    * round-before-sum micro-nats. */
  val x117 = query("x117_pmi_profile",
    // Replays pmiProfile: exact integer cells/margins, ln of a
    // correctly-rounded integer-quotient double (the x67 precedent),
    // micro rounding per cell BEFORE any summation.
    """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_ab
      |               FROM documents GROUP BY 1, 2),
      |ma AS (SELECT source, CAST(sum(n_ab) AS BIGINT) AS n_a
      |       FROM cells GROUP BY source),
      |mb AS (SELECT lang, CAST(sum(n_ab) AS BIGINT) AS n_b
      |       FROM cells GROUP BY lang),
      |t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM cells)
      |SELECT c.source, c.lang, c.n_ab, ma.n_a, mb.n_b,
      |       CAST(round(ln((c.n_ab * t.n)::DOUBLE / (ma.n_a * mb.n_b)::DOUBLE)
      |            * 1000000.0) AS BIGINT) AS pmi_micro,
      |       CAST(round(ln((c.n_ab * t.n)::DOUBLE / (ma.n_a * mb.n_b)::DOUBLE)
      |            * (c.n_ab::DOUBLE / t.n::DOUBLE) * 1000000.0) AS BIGINT)
      |         AS mi_part_micro
      |FROM cells c JOIN ma USING (source) JOIN mb USING (lang) CROSS JOIN t
      |ORDER BY source, lang""".stripMargin) { (s, dir) =>
    Profile.pmiProfile(docs(s, dir), "source", "lang")
      .orderBy(col("source"), col("lang"))
  }

  /** x118 rank-matched length pairs between two sources — see
    * [[graft.operators.Joins.rankMatchedPairs]]: within equi-depth
    * length buckets, i-th A-doc pairs with i-th B-doc — the matched
    * control construction. */
  val x118 = query("x118_rank_matched_pairs",
    // Replays rankMatchedPairs: cohort-blind ntile over (value, id),
    // per-(bucket, cohort) row_number over the same order, inner join
    // rank-to-rank.
    """WITH bt AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS v,
      |                   source AS c,
      |                   CAST(ntile(5) OVER (ORDER BY n_chars, doc_id)
      |                        AS INT) AS bucket
      |            FROM documents WHERE source IN ('src0', 'src1')
      |              AND n_chars IS NOT NULL),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY bucket, c
      |                       ORDER BY v, id) AS INT) AS pair_rank
      |      FROM bt)
      |SELECT a.bucket, a.pair_rank, a.id AS id_a, a.v AS val_a,
      |       b2.id AS id_b, b2.v AS val_b, abs(a.v - b2.v) AS gap
      |FROM r a JOIN r b2 ON a.bucket = b2.bucket
      |                  AND a.pair_rank = b2.pair_rank
      |WHERE a.c = 'src0' AND b2.c = 'src1'
      |ORDER BY a.bucket, a.pair_rank""".stripMargin) { (s, dir) =>
    graft.operators.Joins.rankMatchedPairs(docs(s, dir), "doc_id", "n_chars",
        "source", "src0", "src1", buckets = 5)
      .orderBy(col("bucket"), col("pair_rank"))
  }

  /** x119 vocabulary coverage curve — see
    * [[graft.operators.TextAnalysis.vocabCoverage]]: smallest vocab
    * covering 50/90/95/99% of token mass, computed on the count
    * histogram (never a full-vocab window). */
  val x119 = query("x119_vocab_coverage",
    // Replays vocabCoverage on the count-value histogram: prefix mass
    // over counts DESC, ceil targets and within-level picks as integer
    // floor divisions on non-negative operands.
    s"""WITH toks AS (SELECT unnest(${wordsSql("text")}) AS token FROM documents),
       |cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
       |hist AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM cnt GROUP BY c),
       |lv AS (SELECT c, m,
       |         coalesce(sum(c * m) OVER (ORDER BY c DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS mass0,
       |         coalesce(sum(m) OVER (ORDER BY c DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS vocab0
       |       FROM hist),
       |t AS (SELECT CAST(sum(c * m) AS BIGINT) AS total_tokens,
       |             CAST(sum(m) AS BIGINT) AS total_vocab FROM hist),
       |p(pct) AS (VALUES (50), (90), (95), (99)),
       |tg AS (SELECT p.pct, t.total_tokens, t.total_vocab,
       |              CAST((p.pct * t.total_tokens + 99) // 100 AS BIGINT)
       |                AS target_tokens
       |       FROM p CROSS JOIN t)
       |SELECT tg.pct, tg.target_tokens,
       |       CAST(lv.vocab0 + (tg.target_tokens - lv.mass0 + lv.c - 1) // lv.c
       |            AS BIGINT) AS vocab_size,
       |       tg.total_tokens, tg.total_vocab
       |FROM tg JOIN lv ON lv.mass0 < tg.target_tokens
       |               AND tg.target_tokens <= lv.mass0 + lv.c * lv.m
       |ORDER BY pct""".stripMargin) { (s, dir) =>
    TextAnalysis.vocabCoverage(docs(s, dir))
      .orderBy(col("pct"))
  }

  /** x120 per-user consecutive-day streaks — see
    * [[graft.operators.Sequences.dailyStreaks]]: gaps-and-islands on
    * the distinct (user, day) frame; longest and latest runs. */
  val x120 = query("x120_daily_streaks",
    // Replays dailyStreaks: distinct (user, day), the day − row_number
    // island anchor, arg_max for the latest island (island end days
    // are distinct per user by construction, so arg_max is total).
    """WITH du AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
      |            FROM events),
      |i AS (SELECT u, day,
      |        day - CAST(row_number() OVER (PARTITION BY u ORDER BY day)
      |                   AS INT) AS anchor
      |      FROM du),
      |isl AS (SELECT u, anchor, CAST(count(*) AS BIGINT) AS len,
      |               max(day) AS e
      |        FROM i GROUP BY u, anchor)
      |SELECT u AS user_id, CAST(sum(len) AS BIGINT) AS n_days,
      |       CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(max(len) AS BIGINT) AS longest_streak,
      |       CAST(arg_max(len, e) AS BIGINT) AS latest_streak
      |FROM isl GROUP BY u ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.dailyStreaks(Tables.load(s, dir, "events"))
      .orderBy(col("user_id"))
  }

  /** x121 robust median/IQR length scaling per source — see
    * [[graft.operators.Profile.robustScale]]: sign-decomposed integer
    * micro scaling, null on degenerate IQR. */
  val x121 = query("x121_robust_scale",
    // Replays robustScale: percentile_disc quartiles, sign-decomposed
    // floor division (never a negative dividend — the one case where
    // Spark's div and // differ), null on zero IQR.
    """WITH b AS (SELECT source,
      |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)
      |         AS BIGINT) AS q1,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
      |         AS BIGINT) AS med,
      |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)
      |         AS BIGINT) AS q3
      |  FROM documents GROUP BY source)
      |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
      |       b.med, CAST(b.q3 - b.q1 AS BIGINT) AS iqr,
      |       CASE WHEN b.q3 - b.q1 = 0 THEN NULL
      |            ELSE CAST((CASE WHEN d.n_chars > b.med THEN 1
      |                            WHEN d.n_chars < b.med THEN -1
      |                            ELSE 0 END) *
      |                      (abs(d.n_chars - b.med) * 1000000 //
      |                       (b.q3 - b.q1)) AS BIGINT) END AS scaled_micro
      |FROM documents d JOIN b USING (source)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Profile.robustScale(docs(s, dir), "doc_id", "n_chars", "source")
      .orderBy(col("doc_id"))
  }

  /** x122 winnowing fingerprint near-dup — see
    * [[graft.operators.TextAnalysis.winnowingNearDup]]: window-minimum
    * md5-60 gram hashes, any shared substring of length ≥ k+w−1
    * guaranteed to share a fingerprint, df-capped pair join. */
  val x122 = query("x122_winnowing_neardup",
    // Replays winnowingNearDup: same normalization, md5-60 rolling
    // gram hashes, value-only window minima, df cap, pair join.
    // DuckDB range(a, b) is exclusive of b (Spark sequence inclusive),
    // hence the +1s; list slices are 1-based inclusive.
    s"""WITH nd AS (SELECT doc_id,
       |              regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |            FROM documents),
       |hs AS (SELECT doc_id,
       |         list_transform(range(1, greatest(length(t) - 7, 0) + 1),
       |           i -> ${md5Hash60Sql("substr(t, CAST(i AS INT), 8)")}) AS h
       |       FROM nd),
       |fp AS (SELECT doc_id, unnest(list_distinct(
       |         CASE WHEN len(h) >= 4
       |           THEN list_transform(range(1, len(h) - 3 + 1),
       |                  i -> list_min(h[CAST(i AS INT):CAST(i AS INT) + 3]))
       |           ELSE [list_min(h)] END)) AS f
       |       FROM hs WHERE len(h) > 0),
       |rare AS (SELECT f FROM (SELECT f, count(*) AS df FROM fp GROUP BY f) d
       |         WHERE df <= 50),
       |pr AS (SELECT fp.doc_id, fp.f FROM fp JOIN rare USING (f))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM pr a JOIN pr b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    TextAnalysis.winnowingNearDup(docs(s, dir))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x123 per-type weekly OLS trend — see
    * [[graft.operators.Sequences.weeklyTrend]]: dense week index
    * (silent weeks as zeros), exact integer moment sums, one
    * sign-decomposed micro division. */
  val x123 = query("x123_weekly_trend",
    // Replays weeklyTrend: dense (type × week) grid with zero fill,
    // exact integer moments, sign-decomposed micro slope.
    """WITH wk AS (SELECT event_type AS t,
      |                   CAST(date_trunc('week', ts) AS DATE) AS w,
      |                   count(*) AS y
      |            FROM events GROUP BY 1, 2),
      |b AS (SELECT min(w) AS lo, max(w) AS hi FROM wk),
      |sp AS (SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
      |                INTERVAL 7 DAY)) AS DATE) AS w, lo FROM b),
      |ty AS (SELECT DISTINCT t FROM wk),
      |g AS (SELECT ty.t, (sp.w - sp.lo) // 7 AS x, coalesce(wk.y, 0) AS y
      |      FROM ty CROSS JOIN sp
      |      LEFT JOIN wk ON wk.t = ty.t AND wk.w = sp.w),
      |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_weeks,
      |             CAST(sum(y) AS BIGINT) AS total,
      |             CAST(sum(x) AS BIGINT) AS sx,
      |             CAST(sum(x * y) AS BIGINT) AS sxy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx
      |      FROM g GROUP BY t)
      |SELECT t AS event_type, n_weeks, total,
      |       CAST(total * 1000000 // n_weeks AS BIGINT) AS mean_micro,
      |       CASE WHEN n_weeks * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST((CASE WHEN n_weeks * sxy - sx * total >= 0
      |                            THEN 1 ELSE -1 END) *
      |                      (abs(n_weeks * sxy - sx * total) * 1000000 //
      |                       (n_weeks * sxx - sx * sx)) AS BIGINT)
      |       END AS slope_micro
      |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.weeklyTrend(Tables.load(s, dir, "events"))
      .orderBy(col("event_type"))
  }

  /** x124 per-user RFM segmentation — see
    * [[graft.operators.Sequences.rfm]]: exact decimal-cents monetary,
    * global-anchor recency, deterministic quintile tiles. */
  val x124 = query("x124_rfm",
    // Replays rfm: exact decimal cents, global-anchor recency, the
    // same (metric, user) ntile tie-breaks; null-ts/null-value events
    // are not scoreable transactions (mirrors rfm's pre-filter, which
    // keeps null metrics out of the guarded quintile tiles).
    """WITH per AS (SELECT user_id AS u, max(CAST(ts AS DATE)) AS last_d,
      |                    CAST(count(*) AS BIGINT) AS frequency,
      |                    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100
      |                         AS BIGINT) AS monetary_cents
      |             FROM events
      |             WHERE ts IS NOT NULL AND value IS NOT NULL
      |             GROUP BY 1),
      |a AS (SELECT max(last_d) AS anchor FROM per),
      |s AS (SELECT u, CAST(anchor - last_d AS BIGINT) AS recency_days,
      |             frequency, monetary_cents,
      |             CAST(ntile(5) OVER (ORDER BY anchor - last_d DESC, u)
      |                  AS INT) AS r,
      |             CAST(ntile(5) OVER (ORDER BY frequency, u) AS INT) AS f,
      |             CAST(ntile(5) OVER (ORDER BY monetary_cents, u) AS INT) AS m
      |      FROM per CROSS JOIN a)
      |SELECT u AS user_id, recency_days, frequency, monetary_cents, r, f, m,
      |       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
      |         AS segment
      |FROM s ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.rfm(Tables.load(s, dir, "events"))
      .orderBy(col("user_id"))
  }

  /** x125 first/last-touch conversion attribution — see
    * [[graft.operators.Sequences.conversionAttribution]]: one keyed
    * window, O(1) running min/max structs, unattributable purchases
    * kept with nulls. Timestamps surface as epoch seconds (exact
    * integers in both engines). */
  val x125 = query("x125_attribution",
    // Replays conversionAttribution: running struct min/max over the
    // (ts, id) frame, purchases only, epoch-second integers.
    """WITH e AS (SELECT user_id AS u, ts, event_id AS id, event_type AS t
      |           FROM events),
      |w AS (SELECT u, ts, id, t,
      |        min(CASE WHEN t = 'view'
      |                 THEN struct_pack(ts := ts, id := id) END)
      |          OVER (PARTITION BY u ORDER BY ts, id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
      |        max(CASE WHEN t = 'click'
      |                 THEN struct_pack(ts := ts, id := id) END)
      |          OVER (PARTITION BY u ORDER BY ts, id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
      |      FROM e)
      |SELECT u AS user_id, id AS purchase_id,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch,
      |       fv.id AS first_view_id,
      |       CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(fv.ts)) AS BIGINT) AS view_to_buy_secs,
      |       lc.id AS last_click_id,
      |       CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(lc.ts)) AS BIGINT) AS click_to_buy_secs
      |FROM w WHERE t = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.conversionAttribution(Tables.load(s, dir, "events"))
      .select(col("user_id"), col("purchase_id"),
        unix_timestamp(col("purchase_ts")).as("purchase_epoch"),
        col("first_view_id"), col("view_to_buy_secs"),
        col("last_click_id"), col("click_to_buy_secs"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** x126 interval-overlap join: per-user-day activity spans × error
    * storms — see [[graft.operators.Joins.intervalOverlapJoin]]:
    * binned interval×interval equi-join with the canonical-bucket
    * dedup-free rule; which users were active through an error storm,
    * and for how long (exact integer microseconds). */
  val x126 = query("x126_interval_overlap",
    // Replays intervalOverlapJoin with the NAIVE theta join — the
    // oracle proves the binned equi-join + canonical-bucket rule
    // equals the unbinned formulation, duplicates and all.
    """WITH spans AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |                      min(ts) AS s, max(ts) AS e
      |               FROM events GROUP BY 1, 2),
      |storms AS (SELECT date_trunc('hour', ts) AS h,
      |                  CAST(count(*) AS BIGINT) AS n_errors
      |           FROM events WHERE event_type = 'error'
      |           GROUP BY 1 HAVING count(*) >= 3)
      |SELECT sp.user_id, CAST(sp.day AS STRING) AS day,
      |       CAST(floor(epoch(st.h)) AS BIGINT) AS storm_epoch,
      |       st.n_errors,
      |       CAST(least(epoch_us(sp.e), epoch_us(st.h + INTERVAL 1 HOUR))
      |            - greatest(epoch_us(sp.s), epoch_us(st.h)) AS BIGINT)
      |         AS overlap_us
      |FROM spans sp JOIN storms st
      |  ON least(epoch_us(sp.e), epoch_us(st.h + INTERVAL 1 HOUR))
      |     - greatest(epoch_us(sp.s), epoch_us(st.h)) > 0
      |ORDER BY user_id, day, storm_epoch""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events")
    val spans = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("span_s"), max(col("ts")).as("span_e"))
    val storms = e.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("storm_s"))
      .agg(count(lit(1)).as("n_errors"))
      .filter(col("n_errors") >= 3)
      .withColumn("storm_e", col("storm_s") + expr("INTERVAL 1 HOUR"))
    graft.operators.Joins.intervalOverlapJoin(
        spans, storms, "span_s", "span_e", "storm_s", "storm_e",
        binSeconds = 3600L)
      .select(col("user_id"), col("day").cast("string").as("day"),
        unix_timestamp(col("storm_s")).as("storm_epoch"),
        col("n_errors"), col("overlap_us"))
      .orderBy(col("user_id"), col("day"), col("storm_epoch"))
  }

  /** x127 pairwise-cosine histogram — see
    * [[graft.operators.Similarity.pairCosineHistogram]]: the
    * embedding-geometry health read over a hash-deterministic pair
    * sample; mass near 1 = collapsed space. */
  val x127 = query("x127_cosine_histogram",
    // Replays pairCosineHistogram: same md5-60 group hash, same
    // within-group pair sample, same clamped decimal bin.
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
       |             ${md5Hash60Sql("CAST(vec_id AS VARCHAR)")} % 32 AS grp
       |           FROM embeddings
       |           WHERE len(embedding) = 64
       |             AND list_inner_product(embedding::DOUBLE[],
       |                                    embedding::DOUBLE[]) > 0),
       |p AS (SELECT least(CAST(floor(
       |        round(list_cosine_similarity(a.vec, b.vec), 6) * 10)
       |        AS BIGINT), 9) AS bin
       |      FROM v a JOIN v b ON a.grp = b.grp AND a.id < b.id),
       |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY bin),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
       |SELECT g.bin, g.n, CAST(g.n * 1000000 // t.tot AS BIGINT) AS share_micro
       |FROM g CROSS JOIN t ORDER BY bin""".stripMargin) { (s, dir) =>
    graft.operators.Similarity.pairCosineHistogram(emb(s, dir))
      .orderBy(col("bin"))
  }

  /** x128 quality-score calibration against dedup membership: docs in
    * quality deciles (6-dp-quantized score, (q DESC, id) total
    * order) × whether the doc sits in any verified near-dup pair —
    * "does the quality score actually predict duplication", the
    * model-evaluation table a filter stack ships. */
  val x128 = query("x128_quality_calibration",
    // Replays the calibration: the shared quality CTE's 6-dp-quantized
    // q ranking (mirrors x128's quantize-before-tile), the x04 pair
    // relation's node set as dup membership, integer micro rates.
    s"""WITH ${qualityCteSql("doc_id")},
       |$ngramPairsCteSql,
       |dup AS (SELECT DISTINCT doc_id FROM (
       |          SELECT doc_a AS doc_id FROM pairs
       |          UNION ALL SELECT doc_b AS doc_id FROM pairs) u),
       |dec AS (SELECT doc_id,
       |          CAST(ntile(10) OVER (ORDER BY q DESC, doc_id) AS INT)
       |            AS decile
       |        FROM q),
       |j AS (SELECT dec.decile, d.n_chars,
       |             CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isdup
       |      FROM dec JOIN documents d USING (doc_id)
       |      LEFT JOIN dup USING (doc_id))
       |SELECT decile, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(isdup) AS BIGINT) AS n_dup,
       |       CAST(sum(isdup) * 1000000 // count(*) AS BIGINT)
       |         AS dup_rate_micro,
       |       CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT)
       |         AS mean_chars_micro
       |FROM j GROUP BY decile ORDER BY decile""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.qualityScore
    val d = docs(s, dir)
    val pairs = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      .withColumn("__dup", lit(1L))
    // deciles via the histogram-tile primitive on the NEGATED score —
    // QUANTIZED to the 6-dp grid first (ADVICE r11: the raw score's
    // ratio features grow distinct values ~O(docs), which would trip
    // the tile guard's 3e6 envelope at scale; round(qr, 6) bounds the
    // codomain to ≤ 1e6+1 grid points in [0, 1] by construction).
    // Bit-identical to ntile(10) OVER (ORDER BY q DESC, doc_id),
    // which the oracle keeps — never a corpus-global window.
    graft.operators.Rank.withExactNtile(
        d.select(col("doc_id"), col("n_chars").cast("long").as("__len"),
            qualityScore(col("text")).as("__q"))
          .withColumn("__negq", negate(col("__q"))),
        "__negq", "doc_id", 10, "decile")
      .join(broadcast(dupIds), Seq("doc_id"), "left")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("__dup"), lit(0L))).cast("bigint").as("n_dup"),
        sum(col("__len")).cast("bigint").as("__chars"))
      .select(col("decile"), col("n"), col("n_dup"),
        expr("n_dup * 1000000L div n").as("dup_rate_micro"),
        expr("__chars * 1000000L div n").as("mean_chars_micro"))
      .orderBy(col("decile"))
  }

  /** x129 Poisson-bootstrap CI for mean doc length per language — see
    * [[graft.operators.Profile.poissonBootstrapCI]]: the distributed
    * bootstrap (hash-deterministic Poisson weights, order-statistic
    * bounds), the error bar every corpus estimate should ship. */
  val x129 = query("x129_bootstrap_ci",
    // Replays poissonBootstrapCI: same md5-60(key|replicate) draws
    // through the SAME scaled Poisson(1) CDF literals, integer micro
    // replicate means, (mean, replicate)-ordered rank picks at
    // loRank=2 / hiRank=39 (b=40, cut=1).
    s"""WITH reps AS (
       |  SELECT d.lang, b.b,
       |         CAST(sum(w * n_chars) AS BIGINT) AS swv,
       |         CAST(sum(w) AS BIGINT) AS sw
       |  FROM (SELECT lang, doc_id, n_chars,
       |               CAST(unnest(range(0, 40)) AS INT) AS rb
       |        FROM documents) d,
       |  LATERAL (SELECT d.rb AS b,
       |    CASE ${poissonCaseSql("u.u")} END AS w
       |    FROM (SELECT ${md5Hash60Sql(
                  "CAST(d.doc_id AS VARCHAR) || '|' || CAST(d.rb AS VARCHAR)")}
       |            AS u) u) b
       |  GROUP BY d.lang, b.b),
       |m AS (SELECT lang, b,
       |             CASE WHEN sw > 0 THEN swv * 1000000 // sw END AS mean,
       |             row_number() OVER (PARTITION BY lang
       |               ORDER BY (CASE WHEN sw > 0 THEN swv * 1000000 // sw END)
       |                 ASC NULLS LAST, b) AS rn
       |      FROM reps),
       |ci AS (SELECT lang, CAST(count(*) AS BIGINT) AS b_reps,
       |              CAST(max(CASE WHEN rn = 2 THEN mean END) AS BIGINT)
       |                AS lo_micro,
       |              CAST(max(CASE WHEN rn = 39 THEN mean END) AS BIGINT)
       |                AS hi_micro
       |       FROM m GROUP BY lang),
       |o AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT)
       |               AS est_micro
       |      FROM documents GROUP BY lang)
       |SELECT o.lang, o.n, ci.b_reps, o.est_micro, ci.lo_micro, ci.hi_micro
       |FROM o JOIN ci USING (lang)
       |ORDER BY lang""".stripMargin) { (s, dir) =>
    Profile.poissonBootstrapCI(docs(s, dir), "doc_id", "n_chars", "lang")
      .orderBy(col("lang"))
  }

  /** x130 reshard movement plan 16 → 24 shards over documents — see
    * [[graft.operators.Layout.reshardPlan]]: the (from, to) cost
    * matrix of a shard-count change, computed without moving data. */
  val x130 = query("x130_reshard_plan",
    // Replays reshardPlan: same md5-60 hash, both mods, exact counts
    // and byte sums.
    s"""WITH h AS (SELECT ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} AS h,
       |                  n_chars
       |           FROM documents)
       |SELECT CAST(h % 16 AS BIGINT) AS from_shard,
       |       CAST(h % 24 AS BIGINT) AS to_shard,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(n_chars) AS BIGINT) AS bytes,
       |       h % 16 <> h % 24 AS moved
       |FROM h GROUP BY 1, 2, 5
       |ORDER BY from_shard, to_shard""".stripMargin) { (s, dir) =>
    graft.operators.Layout.reshardPlan(docs(s, dir), "doc_id", "n_chars",
        nShardsFrom = 16, nShardsTo = 24)
      .orderBy(col("from_shard"), col("to_shard"))
  }

  /** x131 skip-gram PMI collocations — see
    * [[graft.operators.TextAnalysis.skipgramPmi]]: ±2-window token
    * pairs scored by PMI against the unigram model, top-50. */
  val x131 = query("x131_skipgram_pmi",
    // Replays skipgramPmi: the shared word tokenizer with 1-based
    // positions, offset-join pairs canonicalized alphabetically,
    // minCount prune BEFORE the pair total, the identical double
    // product/quotient tree under ln, (pmi DESC, pair) top-50.
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT)] AS tok
       |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents) t,
       |       LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u),
       |mg AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_w FROM toks GROUP BY tok),
       |nn AS (SELECT CAST(sum(n_w) AS BIGINT) AS nn FROM mg),
       |pc AS (
       |  SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b,
       |         CAST(count(*) AS BIGINT) AS n_pair
       |  FROM toks a
       |  CROSS JOIN (VALUES (1), (2)) dd(d)
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + dd.d
       |  GROUP BY 1, 2 HAVING count(*) >= 5),
       |tp AS (SELECT CAST(sum(n_pair) AS BIGINT) AS tp FROM pc)
       |SELECT pc.tok_a, pc.tok_b, pc.n_pair, ma.n_w AS n_a, mb.n_w AS n_b,
       |       CAST(round(ln(pc.n_pair::DOUBLE * nn.nn::DOUBLE * nn.nn::DOUBLE /
       |                     (tp.tp::DOUBLE * ma.n_w::DOUBLE * mb.n_w::DOUBLE))
       |            * 1000000.0) AS BIGINT) AS pmi_micro
       |FROM pc JOIN mg ma ON ma.tok = pc.tok_a
       |        JOIN mg mb ON mb.tok = pc.tok_b
       |        CROSS JOIN tp CROSS JOIN nn
       |ORDER BY pmi_micro DESC, tok_a, tok_b
       |LIMIT 50""".stripMargin) { (s, dir) =>
    TextAnalysis.skipgramPmi(docs(s, dir))
  }

  /** x132 per-source length-distribution EMD — see
    * [[graft.operators.Profile.distributionEmd]]: 1-D earth mover's
    * distance from the corpus length distribution (∫|ΔCDF| over the
    * value support, integer micro) — the ordinal drift read x100's
    * total variation cannot give. */
  val x132 = query("x132_length_emd",
    // Replays distributionEmd: (group, value) histogram, corpus CDF +
    // support gaps, per-group CDF over the dense grid, integer-micro
    // |ΔCDF|·gap summed.
    """WITH gv AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
      |                   count(*) AS n_gv
      |            FROM documents GROUP BY 1, 2),
      |sup AS (SELECT v, CAST(sum(n_gv) AS BIGINT) AS n_v FROM gv GROUP BY v),
      |supw AS (SELECT v, n_v,
      |           CAST(sum(n_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c,
      |           CAST(coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS BIGINT)
      |             AS gap
      |         FROM sup),
      |nt AS (SELECT CAST(sum(n_gv) AS BIGINT) AS n FROM gv),
      |gr AS (SELECT g.grp, s.v, s.cum_c, s.gap,
      |         CAST(sum(coalesce(gv.n_gv, 0)) OVER (PARTITION BY g.grp
      |           ORDER BY s.v ROWS BETWEEN UNBOUNDED PRECEDING AND
      |           CURRENT ROW) AS BIGINT) AS cum_g
      |       FROM (SELECT DISTINCT grp FROM gv) g
      |       CROSS JOIN supw s
      |       LEFT JOIN gv ON gv.grp = g.grp AND gv.v = s.v),
      |ng AS (SELECT grp, CAST(sum(n_gv) AS BIGINT) AS ng FROM gv GROUP BY grp)
      |SELECT gr.grp AS source, ng.ng AS n,
      |       CAST(sum(abs(gr.cum_g * 1000000 // ng.ng
      |                    - gr.cum_c * 1000000 // nt.n) * gr.gap) AS BIGINT)
      |         AS emd_micro
      |FROM gr JOIN ng USING (grp) CROSS JOIN nt
      |GROUP BY gr.grp, ng.ng ORDER BY source""".stripMargin) { (s, dir) =>
    Profile.distributionEmd(docs(s, dir), "n_chars", "source")
      .orderBy(col("source"))
  }

  /** x133 Kaplan–Meier signup→purchase survival — see
    * [[graft.operators.Sequences.kaplanMeier]]: the right-censored
    * time-to-event curve (day-granular, integer micro-nat log
    * survival) that x99's converters-only deltas bias low. */
  val x133 = query("x133_kaplan_meier",
    // Replays kaplanMeier: first-signup cohort, first purchase at or
    // after it, administrative censoring at the corpus max ts, KM
    // factors quantized once per event day then integer-summed. NULL
    // survival after the risk set exhausts (ln 0).
    """WITH firsts AS (SELECT user_id, min(ts) AS from_ts FROM events
      |                WHERE event_type = 'signup' GROUP BY 1),
      |mx AS (SELECT max(ts) AS max_ts FROM events),
      |conv AS (SELECT f.user_id, min(e.ts) AS conv_ts
      |         FROM firsts f JOIN events e ON e.user_id = f.user_id
      |          AND e.event_type = 'purchase' AND e.ts >= f.from_ts
      |         GROUP BY 1),
      |exits AS (SELECT f.user_id,
      |    CASE WHEN c.conv_ts IS NOT NULL
      |      THEN (epoch_us(c.conv_ts) - epoch_us(f.from_ts)) // 86400000000
      |      ELSE (epoch_us(mx.max_ts) - epoch_us(f.from_ts)) // 86400000000
      |    END AS day,
      |    CASE WHEN c.conv_ts IS NOT NULL THEN 1 ELSE 0 END AS evt
      |  FROM firsts f LEFT JOIN conv c USING (user_id) CROSS JOIN mx),
      |byday AS (SELECT day, CAST(sum(evt) AS BIGINT) AS d,
      |                 CAST(sum(1 - evt) AS BIGINT) AS c
      |          FROM exits GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM exits),
      |risk AS (SELECT day, d, c,
      |    n.n - CAST(coalesce(sum(d + c) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n_risk
      |  FROM byday CROSS JOIN n),
      |evd AS (SELECT day, d, c, n_risk,
      |    CASE WHEN d < n_risk THEN CAST(round(round(
      |      ln((n_risk - d)::DOUBLE / n_risk::DOUBLE), 6) * 1000000)
      |      AS BIGINT) END AS lp,
      |    CAST(sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS dead
      |  FROM risk WHERE d > 0)
      |SELECT day AS t_day, n_risk, d AS n_event, c AS n_censor,
      |       CASE WHEN dead = 0 THEN CAST(sum(lp) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |       END AS surv_ln_micro
      |FROM evd ORDER BY t_day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.kaplanMeier(Tables.load(s, dir, "events"))
  }

  /** x134 per-source quality-vs-dup AUC — see
    * [[graft.operators.Profile.rankAuc]]: exact Mann–Whitney with
    * midrank ties over the per-(source, score) histogram; label =
    * membership in the x04 near-dup pair set, score = the shared
    * 6-dp-quantized quality score (codomain ≤ 1e6+1 values, so the
    * rankAuc histogram collapse holds at any corpus size — the raw
    * continuous score would grow the histogram ~O(docs) and trip
    * rankAuc's cardinality envelope at scale). The one-number
    * discrimination read next to x128's calibration deciles. */
  val x134 = query("x134_quality_dup_auc",
    // Replays rankAuc over the shared quality CTE + the x04 pair
    // relation's node set: per-(source, score) histogram, midrank
    // doubling, one floor division — exact integer algebra end to end.
    // Score is the round-6 quantized q (mirroring the engine's
    // qualityScore), keeping the rank histogram's codomain bounded.
    s"""WITH ${qualityCteSql("doc_id")},
       |$ngramPairsCteSql,
       |dup AS (SELECT DISTINCT doc_id FROM (
       |          SELECT doc_a AS doc_id FROM pairs
       |          UNION ALL SELECT doc_b AS doc_id FROM pairs) u),
       |lbl AS (SELECT d.source, q.q AS v,
       |          CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pos
       |        FROM q JOIN documents d USING (doc_id)
       |        LEFT JOIN dup ON dup.doc_id = q.doc_id),
       |hist AS (SELECT source, v, CAST(count(*) AS BIGINT) AS n_v,
       |                CAST(sum(pos) AS BIGINT) AS p_v
       |         FROM lbl GROUP BY 1, 2),
       |rk AS (SELECT source, n_v, p_v,
       |    CAST(coalesce(sum(n_v) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cb
       |  FROM hist),
       |agg AS (SELECT source, CAST(sum(p_v) AS BIGINT) AS n_pos,
       |               CAST(sum(n_v - p_v) AS BIGINT) AS n_neg,
       |               CAST(sum(p_v * (2 * cb + n_v + 1)) AS BIGINT) AS r2
       |        FROM rk GROUP BY 1)
       |SELECT source, n_pos, n_neg,
       |       CAST((r2 - n_pos * (n_pos + 1)) * 1000000
       |            // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro
       |FROM agg WHERE n_pos > 0 AND n_neg > 0 ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.functions.TextFunctions.qualityScore
    val d = docs(s, dir)
    val pairs = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      .withColumn("__dup", lit(1L))
    val labeled = d.join(broadcast(dupIds), Seq("doc_id"), "left")
      .select(col("source"), qualityScore(col("text")).as("__q"),
        coalesce(col("__dup"), lit(0L)).as("__lbl"))
    Profile.rankAuc(labeled, "__q", "__lbl", "source")
  }

  /** x135 CUSUM changepoint per event type — see
    * [[graft.operators.Sequences.cusumChangepoint]]: the level-shift
    * locator over the dense daily count series (×N-scaled integer
    * CUSUM), the sustained-step read x56's per-day z-scores integrate
    * away. */
  val x135 = query("x135_cusum_changepoint",
    // Replays cusumChangepoint: dense zero-filled daily spine per
    // type, ×N-scaled integer CUSUM, (|S| desc, day asc) argmax via
    // min-struct ordering, floor-divided micro means.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |tot AS (SELECT t, CAST(sum(x) AS BIGINT) AS tot,
      |               CAST(count(*) AS BIGINT) AS nd
      |        FROM dense GROUP BY 1),
      |run AS (SELECT dn.t, dn.day, tot.tot, tot.nd,
      |    CAST(row_number() OVER (PARTITION BY dn.t ORDER BY dn.day)
      |      AS BIGINT) AS k,
      |    CAST(sum(dn.x) OVER (PARTITION BY dn.t ORDER BY dn.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM dense dn JOIN tot ON tot.t = dn.t),
      |sc AS (SELECT t, day, tot, nd, k, cum,
      |              nd * cum - k * tot AS s
      |       FROM run WHERE k < nd),
      |best AS (SELECT t, min(struct_pack(na := -abs(s), day := day, k := k,
      |                 cum := cum, tot := tot, nd := nd)) AS b
      |         FROM sc GROUP BY 1)
      |SELECT t AS event_type, b.nd AS n_days, b.tot AS total,
      |       CAST(CAST(b.day AS DATE) AS STRING) AS cp_day,
      |       b.k AS cp_k, -b.na AS s_abs_scaled,
      |       CAST(b.cum * 1000000 // b.k AS BIGINT) AS pre_mean_micro,
      |       CAST((b.tot - b.cum) * 1000000 // (b.nd - b.k) AS BIGINT)
      |         AS post_mean_micro
      |FROM best ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.cusumChangepoint(Tables.load(s, dir, "events"))
  }

  /** x136 DSIR hashed importance selection — see
    * [[graft.operators.TextAnalysis.dsirWeights]]: per-doc hashed-
    * unigram log-likelihood ratio against the English-target model,
    * top-100 by (weight desc, doc_id) — the importance-resampling
    * selection step between x67's log-prob and x44's resample. */
  val x136 = query("x136_dsir_select",
    // Replays dsirWeights: same md5-60 bucket hash mod 256 (the hash
    // is non-negative so % equals pmod), add-one smoothed log-ratio
    // quantized once per bucket, exact integer per-doc weights,
    // (weight desc, doc_id) top-100.
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest(ws) AS tok
       |  FROM (SELECT doc_id, lang, ${wordsSql("text")} AS ws
       |        FROM documents) t),
       |bt AS (SELECT doc_id, lang,
       |              ${md5Hash60Sql("tok")} % 256 AS b
       |       FROM toks),
       |tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf
       |       FROM bt GROUP BY 1, 2),
       |crr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bt GROUP BY 1),
       |ctt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
       |        FROM bt WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM crr) AS R,
       |               (SELECT CAST(sum(ct) AS BIGINT) FROM ctt) AS T),
       |model AS (SELECT crr.b,
       |    CAST(round(round(ln(
       |      ((coalesce(ctt.ct, 0) + 1)::DOUBLE / (tot.T + 256)::DOUBLE) *
       |      ((tot.R + 256)::DOUBLE / (crr.cr + 1)::DOUBLE)), 6) * 1000000)
       |      AS BIGINT) AS lr
       |  FROM crr LEFT JOIN ctt USING (b) CROSS JOIN tot),
       |sc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       |              CAST(sum(tf.tf * model.lr) AS BIGINT) AS weight_micro
       |       FROM tf JOIN model USING (b) GROUP BY 1),
       |top AS (SELECT sc.doc_id, d.lang, sc.n_tokens, sc.weight_micro
       |        FROM sc JOIN documents d USING (doc_id)
       |        ORDER BY sc.weight_micro DESC, sc.doc_id LIMIT 100)
       |SELECT CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
       |         AS INT) AS rank,
       |       doc_id, lang, n_tokens, weight_micro
       |FROM top ORDER BY rank""".stripMargin) { (s, dir) =>
    TextAnalysis.dsirWeights(docs(s, dir))
  }

  /** x137 3-core of the mutual k-NN graph — see
    * [[graft.operators.Graph.kCore]]: synchronous peeling to the
    * maximal subgraph of min-degree 3, the dense near-dup/topic
    * nucleus (6 rounds ≥ the measured peel depth at every fixture
    * scale; the plan-shape spec pins the fixpoint). */
  val x137 = query("x137_kcore",
    // Replays kCore: the same mutual edge set as x83/x84, six unrolled
    // synchronous peel rounds (plain CTEs — fixed rounds make the
    // recursion static), final within-core degrees.
    {
      val peels = (1 to 6).map { r =>
        s"""n$r AS MATERIALIZED (SELECT und.u AS node FROM und
           |  JOIN n${r - 1} a ON a.node = und.u
           |  JOIN n${r - 1} b ON b.node = und.v
           |  GROUP BY und.u HAVING count(*) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${knnEdgesCteSql(3)},
         |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
         |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
         |       WHERE a.src < a.dst),
         |und AS MATERIALIZED (SELECT u, v FROM mu UNION ALL SELECT v AS u, u AS v FROM mu),
         |n0 AS (SELECT DISTINCT u AS node FROM und),
         |$peels
         |SELECT und.u AS vec_id, CAST(count(*) AS BIGINT) AS core_deg
         |FROM und JOIN n6 a ON a.node = und.u JOIN n6 b ON b.node = und.v
         |GROUP BY und.u ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
    graft.operators.Graph.kCore(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir)),
        k = 3, rounds = 6)
      .select(col("id").as("vec_id"), col("core_deg"))
      .orderBy(col("vec_id"))
  }

  /** x138 Gopher repetition battery — see
    * [[graft.operators.TextAnalysis.gopherRepetition]]: the three
    * char-weighted repetition fractions (top-2-gram, top-3-gram,
    * duplicated-5-gram) with the paper's keep thresholds — the
    * multi-signal verdict next to x29's single count-ratio. */
  val x138 = query("x138_gopher_repetition",
    // Replays gopherRepetition: non-distinct word n-grams for n ∈
    // {2,3,5}, char mass = count·length(gram), integer-micro floor
    // fractions, paper thresholds as integer comparisons.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |gr AS (
       |  SELECT doc_id, 2 AS n, unnest(${wordNgramsSql(2, distinct = false)}) AS gram FROM toks
       |  UNION ALL
       |  SELECT doc_id, 3, unnest(${wordNgramsSql(3, distinct = false)}) FROM toks
       |  UNION ALL
       |  SELECT doc_id, 5, unnest(${wordNgramsSql(5, distinct = false)}) FROM toks),
       |pg AS (SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c,
       |              CAST(count(*) * length(gram) AS BIGINT) AS cm
       |       FROM gr GROUP BY 1, 2, 3),
       |pn AS (SELECT doc_id, n, CAST(sum(cm) AS BIGINT) AS tot,
       |              CAST(max(cm) AS BIGINT) AS top,
       |              CAST(sum(CASE WHEN c >= 2 THEN cm ELSE 0 END) AS BIGINT)
       |                AS dup
       |       FROM pg GROUP BY 1, 2),
       |wide AS (SELECT doc_id,
       |    max(CASE WHEN n = 2 THEN top * 1000000 // tot END) AS top2_micro,
       |    max(CASE WHEN n = 3 THEN top * 1000000 // tot END) AS top3_micro,
       |    max(CASE WHEN n = 5 THEN dup * 1000000 // tot END) AS dup5_micro
       |  FROM pn GROUP BY 1)
       |SELECT d.doc_id, w.top2_micro, w.top3_micro, w.dup5_micro,
       |       (coalesce(w.top2_micro, 0) <= 200000 AND
       |        coalesce(w.top3_micro, 0) <= 180000 AND
       |        coalesce(w.dup5_micro, 0) <= 150000) AS keep
       |FROM documents d LEFT JOIN wide w USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.gopherRepetition(docs(s, dir)).orderBy(col("doc_id"))
  }

  /** x139 embedding centroid drift per label — see
    * [[graft.operators.Similarity.centroidDrift]]: integer-micro
    * quantized per-group mean vectors against the corpus mean,
    * cosine over exact BIGINT dot products — the "which labels sit
    * off-center in embedding space" read x127 aggregates away. */
  val x139 = query("x139_centroid_drift",
    // Replays centroidDrift: per-element micro quantization (the only
    // rounding), order-free BIGINT sums, truncating integer division
    // for the mean (// and Spark's div both truncate toward zero),
    // exact integer dot products, one final double cosine.
    """WITH cells AS (
      |  SELECT label AS grp, CAST(u.i AS INT) AS d,
      |         CAST(round(embedding[CAST(u.i AS INT)]::DOUBLE * 1000000)
      |              AS BIGINT) AS m
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
      |  WHERE len(embedding) = 64
      |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |gd AS (SELECT grp, d, CAST(sum(m) AS BIGINT) AS s,
      |              CAST(count(*) AS BIGINT) AS c
      |       FROM cells GROUP BY 1, 2),
      |gc AS (SELECT grp, d, s // c AS g, c FROM gd),
      |cc AS (SELECT d, CAST(sum(s) AS BIGINT) // CAST(sum(c) AS BIGINT) AS q
      |       FROM gd GROUP BY d),
      |agg AS (SELECT grp, CAST(max(c) AS BIGINT) AS n,
      |               CAST(sum(g * q) AS BIGINT) AS num,
      |               CAST(sum(g * g) AS BIGINT) AS gg,
      |               CAST(sum(q * q) AS BIGINT) AS qq
      |        FROM gc JOIN cc USING (d) GROUP BY grp)
      |SELECT grp AS label, n,
      |       CASE WHEN gg > 0 AND qq > 0
      |            THEN round(num::DOUBLE / (sqrt(gg::DOUBLE) * sqrt(qq::DOUBLE)), 6)
      |       END AS cos_vs_corpus,
      |       round(sqrt(gg::DOUBLE) / 1000000.0, 6) AS centroid_norm
      |FROM agg ORDER BY label""".stripMargin) { (s, dir) =>
    Similarity.centroidDrift(emb(s, dir))
  }

  /** x140 traffic-share shift significance — see
    * [[graft.operators.Sequences.proportionShift]]: two-proportion
    * z-test of each event type's share between the window halves,
    * the binomial-noise-aware companion to x135's CUSUM location. */
  val x140 = query("x140_proportion_shift",
    // Replays proportionShift: microsecond midpoint split, exact
    // integer half counts, ONE fixed double z expression, |z| > 1.96
    // on the rounded value.
    """WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
      |             FROM events),
      |hh AS (SELECT event_type AS t,
      |              CASE WHEN epoch_us(ts) < mid.m THEN 1 ELSE 2 END AS h
      |       FROM events CROSS JOIN mid),
      |hc AS (SELECT t, h, CAST(count(*) AS BIGINT) AS c FROM hh GROUP BY 1, 2),
      |tot AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM hc GROUP BY 1),
      |wide AS (SELECT t,
      |    CAST(sum(CASE WHEN h = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN h = 2 THEN c ELSE 0 END) AS BIGINT) AS c2
      |  FROM hc GROUP BY 1),
      |nt AS (SELECT max(CASE WHEN h = 1 THEN n END) AS n1,
      |              max(CASE WHEN h = 2 THEN n END) AS n2
      |       FROM tot),
      |zz AS (SELECT t AS event_type, c1, n1, c2, n2,
      |    round((c1 / CAST(n1 AS DOUBLE) - c2 / CAST(n2 AS DOUBLE)) /
      |      sqrt(((c1 + c2) / CAST(n1 + n2 AS DOUBLE)) *
      |           (1.0 - (c1 + c2) / CAST(n1 + n2 AS DOUBLE)) *
      |           (1.0 / n1 + 1.0 / n2)), 6) AS z
      |  FROM wide CROSS JOIN nt)
      |SELECT event_type, c1, n1, c2, n2, z, abs(z) > 1.96 AS significant
      |FROM zz ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.proportionShift(Tables.load(s, dir, "events"))
  }

  /** x141 session-gap calibration — see
    * [[graft.operators.Sequences.sessionGapCalibration]]: the exact
    * inter-event gap order statistics and the session count a 1-hour
    * threshold induces — the evidence behind x79's gap parameter. */
  val x141 = query("x141_session_gap_calibration",
    // Replays sessionGapCalibration: per-user lag gaps in exact
    // integer seconds, order-statistic percentiles (no
    // interpolation), integer share and induced-session algebra.
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |       PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
      |  FROM events),
      |a AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |             CAST(count(gap) AS BIGINT) AS n_gaps,
      |             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
      |                  AS BIGINT) AS p50_s,
      |             CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)
      |                  AS BIGINT) AS p90_s,
      |             CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY gap)
      |                  AS BIGINT) AS p99_s,
      |             CAST(sum(CASE WHEN gap > 3600 THEN 1 ELSE 0 END)
      |                  AS BIGINT) AS ov
      |      FROM g)
      |SELECT n_users, n_gaps, p50_s, p90_s, p99_s,
      |       CAST(ov * 1000000 // n_gaps AS BIGINT) AS over_gap_micro,
      |       n_users + ov AS sessions_induced
      |FROM a""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.sessionGapCalibration(
      Tables.load(s, dir, "events"))
  }

  /** x142 character-entropy screen — see
    * [[graft.operators.TextAnalysis.charEntropy]]: per-doc Shannon
    * entropy of the lowercased character histogram in micro-nats,
    * with the < 2-nat low-entropy flag — the cheapest noise screen
    * in the filter stack. */
  val x142 = query("x142_char_entropy",
    // Replays charEntropy: lowercased character histogram, ln
    // quantized once per (doc, char) class, −Σ c·lp // n.
    """WITH ch AS (
      |  SELECT doc_id, substr(t, CAST(u.i AS INT), 1) AS ch
      |  FROM (SELECT doc_id, lower(text) AS t FROM documents) d,
      |       LATERAL (SELECT unnest(range(1, length(t) + 1)) AS i) u),
      |pc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      |       FROM ch GROUP BY 1, 2),
      |pn AS (SELECT doc_id, ch, c,
      |              CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      |       FROM pc),
      |lp AS (SELECT doc_id, c, n,
      |    CAST(round(round(ln(c::DOUBLE / n::DOUBLE), 6) * 1000000)
      |         AS BIGINT) AS lp
      |  FROM pn)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars_counted,
      |       CAST((-sum(c * lp)) // max(n) AS BIGINT) AS entropy_micro,
      |       (-sum(c * lp)) // max(n) < 2000000 AS low_entropy
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.charEntropy(docs(s, dir)).orderBy(col("doc_id"))
  }

  /** x143 target-mixture sampling plan — see
    * [[graft.operators.TextAnalysis.targetMixPlan]]: per-language
    * sampling rates toward the default mix target under a 50k-token
    * budget, with saturation shortfalls — the planning step x71's
    * budget cap and x54's upsample both presuppose. */
  val x143 = query("x143_target_mix_plan",
    // Replays targetMixPlan: the target VALUES relation renders from
    // TextAnalysis.DefaultMixTarget — one source of truth; pure
    // floor-division planning algebra over exact token counts.
    {
      val tv = TextAnalysis.DefaultMixTarget
        .map { case (l, m) => s"('$l', ${m})" }.mkString(", ")
      s"""WITH tgt(lang, target_micro) AS (VALUES $tv),
         |avail AS (SELECT lang, CAST(sum(len(${wordsSql("text")})) AS BIGINT)
         |            AS avail_tokens
         |          FROM documents GROUP BY 1),
         |j AS (SELECT coalesce(a.lang, t.lang) AS lang,
         |             CAST(coalesce(a.avail_tokens, 0) AS BIGINT) AS avail_tokens,
         |             CAST(coalesce(t.target_micro, 0) AS BIGINT) AS target_micro
         |      FROM avail a FULL OUTER JOIN tgt t ON a.lang = t.lang),
         |p AS (SELECT lang, avail_tokens, target_micro,
         |             CAST(target_micro * 50000 // 1000000 AS BIGINT)
         |               AS desired_tokens
         |      FROM j),
         |r AS (SELECT p.*,
         |    CAST(CASE WHEN avail_tokens > 0
         |         THEN least(1000000, desired_tokens * 1000000 // avail_tokens)
         |         ELSE 0 END AS BIGINT) AS rate_micro
         |  FROM p)
         |SELECT lang, avail_tokens, target_micro, desired_tokens, rate_micro,
         |       CAST(avail_tokens * rate_micro // 1000000 AS BIGINT)
         |         AS sampled_tokens,
         |       CAST(greatest(0, desired_tokens -
         |         avail_tokens * rate_micro // 1000000) AS BIGINT)
         |         AS shortfall_tokens
         |FROM r ORDER BY lang""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.targetMixPlan(docs(s, dir), budgetTokens = 50000L)
  }

  /** x144 dedup threshold sweep — see
    * [[graft.operators.Dedup.thresholdSweep]]: pairs and affected
    * docs per candidate Jaccard decile from ONE pair pass at the
    * 0.2 floor — the choose-your-threshold curve behind x115. */
  val x144 = query("x144_threshold_sweep",
    // Replays thresholdSweep over the brute-force x04 pair relation:
    // jaccard decile histograms for pairs and per-doc best pairs,
    // cumulated downward from decile 9. The decile derives from the
    // integer micro jaccard (round(j·1e6) // 1e5) so exact-boundary
    // scores land in their advertised bucket (ADVICE r9).
    s"""WITH $ngramPairsCteSql,
       |pd AS (SELECT doc_a, doc_b,
       |              least(CAST(round(jaccard * 1000000.0) AS BIGINT)
       |                    // 100000, 9) AS dec
       |       FROM pairs),
       |ph AS (SELECT dec, CAST(count(*) AS BIGINT) AS np FROM pd GROUP BY 1),
       |db AS (SELECT d, max(dec) AS dec FROM (
       |         SELECT doc_a AS d, dec FROM pd
       |         UNION ALL SELECT doc_b, dec FROM pd) t GROUP BY d),
       |dh AS (SELECT dec, CAST(count(*) AS BIGINT) AS nd FROM db GROUP BY 1),
       |fo AS (SELECT coalesce(ph.dec, dh.dec) AS dec,
       |              coalesce(ph.np, 0) AS np, coalesce(dh.nd, 0) AS nd
       |       FROM ph FULL OUTER JOIN dh ON ph.dec = dh.dec)
       |SELECT dec AS decile, CAST(dec * 100000 AS BIGINT) AS threshold_micro,
       |       CAST(sum(np) OVER (ORDER BY dec DESC ROWS BETWEEN UNBOUNDED
       |         PRECEDING AND CURRENT ROW) AS BIGINT) AS n_pairs_ge,
       |       CAST(sum(nd) OVER (ORDER BY dec DESC ROWS BETWEEN UNBOUNDED
       |         PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs_ge
       |FROM fo ORDER BY decile""".stripMargin) { (s, dir) =>
    Dedup.thresholdSweep(docs(s, dir))
  }

  /** x145 Hill tail index of doc lengths — see
    * [[graft.operators.Profile.hillTailIndex]]: α̂ from the top-100
    * order statistics — the "skew of what order" number behind x66's
    * Gini and x130's reshard sizing. */
  val x145 = query("x145_hill_tail_index",
    // Replays hillTailIndex: deterministic top-101 by (length desc,
    // doc_id), (k+1)-th reference, per-row micro-nat ln, integer mean
    // and reciprocal.
    """WITH top AS (SELECT CAST(n_chars AS BIGINT) AS x, doc_id
      |             FROM documents WHERE n_chars > 0
      |             ORDER BY x DESC, doc_id LIMIT 101),
      |ref AS (SELECT CAST(min(x) AS BIGINT) AS r FROM top),
      |kept AS (SELECT x, r,
      |                row_number() OVER (ORDER BY x DESC, doc_id) AS rn
      |         FROM top CROSS JOIN ref),
      |lp AS (SELECT x, r,
      |              CAST(round(round(ln(x::DOUBLE / r::DOUBLE), 6) * 1000000)
      |                   AS BIGINT) AS lp
      |       FROM kept WHERE rn <= 100),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(r) AS BIGINT)
      |        AS x_ref,
      |        CAST(sum(lp) // count(*) AS BIGINT) AS alpha_inv_micro
      |      FROM lp)
      |SELECT k, x_ref, alpha_inv_micro,
      |       CASE WHEN alpha_inv_micro > 0
      |            THEN CAST(1000000000000 // alpha_inv_micro AS BIGINT)
      |       END AS alpha_micro
      |FROM a""".stripMargin) { (s, dir) =>
    Profile.hillTailIndex(docs(s, dir), "n_chars", "doc_id", k = 100)
  }

  /** x146 value-drift PSI per event type — see
    * [[graft.operators.Sequences.valueDriftPsi]]: population
    * stability index of `value` between the window halves over the
    * first half's own quartile bins — the "did the VALUES shift"
    * companion to x140's volume test. */
  val x146 = query("x146_value_drift_psi",
    // Replays valueDriftPsi: first-half quartile edges per type, CASE
    // bins, dense 4-bin spine, add-one smoothing, per-bin micro terms
    // integer-summed.
    """WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
      |             FROM events),
      |hv AS (SELECT event_type AS t, value AS v,
      |              CASE WHEN epoch_us(ts) < mid.m THEN 1 ELSE 2 END AS h
      |       FROM events CROSS JOIN mid),
      |ed AS (SELECT t,
      |         percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS q1,
      |         percentile_disc(0.5)  WITHIN GROUP (ORDER BY v) AS q2,
      |         percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS q3
      |       FROM hv WHERE h = 1 GROUP BY t),
      |bn AS (SELECT hv.t, hv.h,
      |              CASE WHEN v <= q1 THEN 0 WHEN v <= q2 THEN 1
      |                   WHEN v <= q3 THEN 2 ELSE 3 END AS b
      |       FROM hv JOIN ed ON ed.t = hv.t),
      |bc AS (SELECT t, b,
      |              CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |              CAST(sum(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |       FROM bn GROUP BY 1, 2),
      |sp AS (SELECT ed.t, CAST(u.b AS INT) AS b
      |       FROM ed, LATERAL (SELECT unnest(range(0, 4)) AS b) u),
      |dn AS (SELECT sp.t, sp.b, coalesce(bc.c1, 0) AS c1,
      |              coalesce(bc.c2, 0) AS c2
      |       FROM sp LEFT JOIN bc ON bc.t = sp.t AND bc.b = sp.b),
      |tt AS (SELECT t, CAST(sum(c1) AS BIGINT) AS n1,
      |              CAST(sum(c2) AS BIGINT) AS n2
      |       FROM dn GROUP BY 1),
      |tm AS (SELECT dn.t, tt.n1, tt.n2,
      |    CAST(round(round(
      |      ((c2 + 1) / CAST(tt.n2 + 4 AS DOUBLE) -
      |       (c1 + 1) / CAST(tt.n1 + 4 AS DOUBLE)) *
      |      ln(((c2 + 1) * CAST(tt.n1 + 4 AS DOUBLE)) /
      |         ((c1 + 1) * CAST(tt.n2 + 4 AS DOUBLE))), 6) * 1000000)
      |      AS BIGINT) AS term
      |  FROM dn JOIN tt ON tt.t = dn.t)
      |SELECT t AS event_type, n1, n2,
      |       CAST(sum(term) AS BIGINT) AS psi_micro,
      |       CAST(sum(term) AS BIGINT) > 250000 AS drifted
      |FROM tm GROUP BY t, n1, n2 ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.valueDriftPsi(Tables.load(s, dir, "events"))
  }

  /** x147 reciprocal-rank fusion of filter signals — see
    * [[graft.operators.TextAnalysis.signalRankFusion]]: quality,
    * entropy, and repetition rankings fused by Σ 10⁶ div (60+rank)
    * — the scale-free way to combine signals whose units don't
    * compare; top-50 shortlist. */
  val x147 = query("x147_signal_rank_fusion",
    // Replays signalRankFusion: the shared quality CTE, the x142
    // entropy chain, the x138 top-2-gram chain (coalesced to 0 for
    // gram-less docs), (signal, doc_id)-ordered ranks TRUNCATED to the
    // top-200 list per signal (the literature's retrieved-list RRF:
    // off-list docs carry NULL rank and a 0 term — this oracle PINS the
    // Spark side's bounded-heap lists against full window rankings),
    // integer RRF terms over the candidate union, bounded top-50.
    s"""WITH ${qualityCteSql("doc_id")},
       |$entropyCteSql,
       |tk2 AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |g2 AS (SELECT doc_id, unnest(${wordNgramsSql(2, distinct = false)})
       |         AS gram FROM tk2),
       |pg2 AS (SELECT doc_id, gram, count(*) AS c,
       |               CAST(count(*) * length(gram) AS BIGINT) AS cm
       |        FROM g2 GROUP BY 1, 2),
       |rp AS (SELECT doc_id, CAST(max(cm) * 1000000 // sum(cm) AS BIGINT)
       |         AS r FROM pg2 GROUP BY doc_id),
       |qr_r AS (SELECT doc_id, q_rank FROM (
       |           SELECT doc_id,
       |             row_number() OVER (ORDER BY qr DESC, doc_id) AS q_rank
       |           FROM q) t WHERE q_rank <= 200),
       |e_r AS (SELECT doc_id, e_rank FROM (
       |          SELECT doc_id,
       |            row_number() OVER (ORDER BY e DESC, doc_id) AS e_rank
       |          FROM ent) t WHERE e_rank <= 200),
       |r_r AS (SELECT doc_id, r_rank FROM (
       |          SELECT d.doc_id,
       |            row_number() OVER (ORDER BY coalesce(rp.r, 0) ASC,
       |              d.doc_id) AS r_rank
       |          FROM documents d LEFT JOIN rp USING (doc_id)) t
       |        WHERE r_rank <= 200),
       |cand AS (SELECT doc_id FROM qr_r UNION SELECT doc_id FROM e_r
       |         UNION SELECT doc_id FROM r_r),
       |fused AS (SELECT cand.doc_id, q_rank, e_rank, r_rank,
       |    CAST(coalesce(1000000 // (60 + q_rank), 0) +
       |         coalesce(1000000 // (60 + e_rank), 0) +
       |         coalesce(1000000 // (60 + r_rank), 0) AS BIGINT) AS rrf_micro
       |  FROM cand LEFT JOIN qr_r USING (doc_id)
       |            LEFT JOIN e_r USING (doc_id)
       |            LEFT JOIN r_r USING (doc_id)),
       |top AS (SELECT * FROM fused
       |        ORDER BY rrf_micro DESC, doc_id LIMIT 50)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
       |         AS INT) AS rank,
       |       doc_id, rrf_micro,
       |       CAST(q_rank AS INT) AS q_rank, CAST(e_rank AS INT) AS e_rank,
       |       CAST(r_rank AS INT) AS r_rank
       |FROM top ORDER BY rank""".stripMargin) { (s, dir) =>
    TextAnalysis.signalRankFusion(docs(s, dir))
  }

  /** x148 Neyman eval-budget allocation — see
    * [[graft.operators.TextAnalysis.neymanAllocation]]: 100 eval
    * docs across sources ∝ N_h·σ_h with largest-remainder integer
    * rounding — allocations sum exactly to the budget. */
  val x148 = query("x148_neyman_allocation",
    // Replays neymanAllocation: exact moment sums, one sqrt per
    // stratum quantized to micro, floor + largest-remainder integer
    // rounding, N_h cap.
    """WITH st AS (SELECT source AS src, CAST(count(*) AS BIGINT) AS n_docs,
      |                   CAST(sum(n_chars) AS BIGINT) AS s,
      |                   CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
      |            FROM documents GROUP BY 1),
      |sd AS (SELECT src, n_docs,
      |    CASE WHEN n_docs > 1 THEN CAST(round(sqrt(
      |      ss::DOUBLE / n_docs::DOUBLE -
      |      (s::DOUBLE / n_docs::DOUBLE) * (s::DOUBLE / n_docs::DOUBLE))
      |      * 1000000) AS BIGINT) ELSE 0 END AS sd_micro
      |  FROM st),
      |w AS (SELECT src, n_docs, sd_micro, n_docs * sd_micro AS w FROM sd),
      |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
      |p AS (SELECT w.src, n_docs, sd_micro,
      |             CAST(CASE WHEN tw > 0 THEN w * 1000000 // tw
      |                  ELSE 0 END AS BIGINT) AS weight_micro,
      |             CAST(CASE WHEN tw > 0 THEN (w * 100) // tw
      |                  ELSE 0 END AS BIGINT) AS fl,
      |             CAST(CASE WHEN tw > 0 THEN (w * 100) % tw
      |                  ELSE 0 END AS BIGINT) AS rem
      |      FROM w CROSS JOIN tw),
      |ex AS (SELECT CAST(100 - sum(fl) AS BIGINT) AS extra FROM p),
      |r AS (SELECT p.*, row_number() OVER (ORDER BY rem DESC, src) AS rr
      |      FROM p)
      |SELECT src AS source, n_docs, sd_micro, weight_micro,
      |       CAST(least(n_docs, fl + CASE WHEN rr <= ex.extra THEN 1
      |         ELSE 0 END) AS BIGINT) AS alloc
      |FROM r CROSS JOIN ex ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.neymanAllocation(docs(s, dir), budget = 100)
  }

  /** x149 per-user burstiness — see
    * [[graft.operators.Sequences.burstiness]]: Goh–Barabási
    * B = (σ−μ)/(σ+μ) over inter-event gaps, the metronome-vs-volley
    * texture read behind x141's corpus percentiles. */
  val x149 = query("x149_burstiness",
    // Replays burstiness: per-user lag gaps, exact moment sums, one
    // sqrt quantized, B on the quantized micro pair (both engines
    // truncate toward zero on the signed division).
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |       PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
      |  FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
      |             CAST(sum(gap) AS BIGINT) AS s,
      |             CAST(sum(gap * gap) AS BIGINT) AS ss
      |      FROM g WHERE gap IS NOT NULL GROUP BY 1),
      |m AS (SELECT user_id, n_gaps,
      |             CAST(s * 1000000 // n_gaps AS BIGINT) AS mean_gap_micro,
      |             CASE WHEN n_gaps > 1 THEN CAST(round(sqrt(
      |               ss::DOUBLE / n_gaps::DOUBLE -
      |               (s::DOUBLE / n_gaps::DOUBLE) * (s::DOUBLE / n_gaps::DOUBLE))
      |               * 1000000) AS BIGINT) END AS sd_gap_micro
      |      FROM a)
      |SELECT user_id, n_gaps, mean_gap_micro, sd_gap_micro,
      |       CASE WHEN sd_gap_micro IS NOT NULL
      |                  AND sd_gap_micro + mean_gap_micro > 0
      |            THEN CAST((sd_gap_micro - mean_gap_micro) * 1000000
      |                      // (sd_gap_micro + mean_gap_micro) AS BIGINT)
      |       END AS burstiness_micro
      |FROM m ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.burstiness(Tables.load(s, dir, "events"))
  }

  /** x150 Mann–Kendall trend per event type — see
    * [[graft.operators.Sequences.mannKendall]]: concordant-minus-
    * discordant day pairs with tie-corrected variance — the
    * spike-robust trend verdict next to x123's OLS slope. */
  val x150 = query("x150_mann_kendall",
    // Replays mannKendall: dense zero-filled spine (the x135
    // contract), pairwise sign sum, tie-corrected ×18 variance in
    // BIGINT, one continuity-corrected z, verdict on the rounded z.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |s AS (SELECT a.t, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_stat
      |      FROM dense a JOIN dense b ON a.t = b.t AND a.day < b.day
      |      GROUP BY 1),
      |tg AS (SELECT t, x, CAST(count(*) AS BIGINT) AS g
      |       FROM dense GROUP BY 1, 2),
      |ti AS (SELECT t, CAST(sum(g * (g - 1) * (2 * g + 5)) AS BIGINT) AS tc,
      |              CAST(sum(g) AS BIGINT) AS n
      |       FROM tg GROUP BY 1),
      |v AS (SELECT s.t, ti.n, s.s_stat,
      |             ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tc AS var18
      |      FROM s JOIN ti ON ti.t = s.t),
      |zz AS (SELECT t, n, s_stat, var18,
      |    CASE WHEN var18 > 0 THEN round(
      |      (s_stat - CAST(sign(s_stat) AS BIGINT)) / sqrt(var18 / 18.0), 6)
      |    END AS z
      |  FROM v)
      |SELECT t AS event_type, n AS n_days, s_stat, var18, z,
      |       CASE WHEN z > 1.96 THEN 'increasing'
      |            WHEN z < -1.96 THEN 'decreasing'
      |            ELSE 'none' END AS trend
      |FROM zz ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.mannKendall(Tables.load(s, dir, "events"))
  }

  /** x151 near-dup containment direction — see
    * [[graft.operators.Dedup.pairContainment]]: overlap coefficient
    * + contained-side flag over the x04 pair relation — separates
    * near-twins from quote/excerpt embeddings. */
  val x151 = query("x151_pair_containment",
    // Replays pairContainment on the x04 relation: ipairs already
    // carries the exact intersection and set sizes; the overlap
    // coefficient and direction are integer algebra on them.
    s"""WITH $ngramPairsCteSql,
       |o AS (SELECT p.doc_a, p.doc_b, p.jaccard,
       |             CAST(i.sa AS BIGINT) AS size_a,
       |             CAST(i.sb AS BIGINT) AS size_b,
       |             CAST(i.isz AS BIGINT) AS isz
       |      FROM pairs p JOIN ipairs i
       |        ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b)
       |SELECT doc_a, doc_b, jaccard, size_a, size_b, isz,
       |       CAST(isz * 1000000 // least(size_a, size_b) AS BIGINT)
       |         AS containment_micro,
       |       CASE WHEN size_a < size_b THEN 'a_in_b'
       |            WHEN size_a > size_b THEN 'b_in_a'
       |            ELSE 'both_equal' END AS direction
       |FROM o ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.pairContainment(docs(s, dir))
  }

  /** x152 Heaps-law vocabulary growth — see
    * [[graft.operators.TextAnalysis.heapsLawGrowth]]: vocabulary at
    * nested 25/50/75/100% hash samples with the fitted Heaps β —
    * the "what does more data buy" curve for tokenizer sizing. */
  val x152 = query("x152_heaps_law",
    // Replays heapsLawGrowth: the md5-60 mod-100 nested samples,
    // conditional distinct counts, milli-nat lns, exact 4-point OLS.
    {
      val bucket = s"${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100"
      val pt = (p: Int) =>
        s"""SELECT $p AS pct,
           |  CAST(count(DISTINCT CASE WHEN b < $p THEN doc_id END) AS BIGINT)
           |    AS n_docs,
           |  CAST(sum(CASE WHEN b < $p THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_tokens,
           |  CAST(count(DISTINCT CASE WHEN b < $p THEN term END) AS BIGINT)
           |    AS vocab
           |FROM toks""".stripMargin
      s"""WITH toks AS (
         |  SELECT doc_id, $bucket AS b, unnest(ws) AS term
         |  FROM (SELECT doc_id, ${wordsSql("text")} AS ws FROM documents) t),
         |pts AS (${Seq(25, 50, 75, 100).map(pt).mkString("\n  UNION ALL\n")}),
         |xy AS (SELECT pct, n_docs, n_tokens, vocab,
         |    CAST(round(round(ln(n_tokens::DOUBLE), 3) * 1000) AS BIGINT) AS x,
         |    CAST(round(round(ln(vocab::DOUBLE), 3) * 1000) AS BIGINT) AS y
         |  FROM pts),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |             CAST(sum(x * y) AS BIGINT) AS sxy,
         |             CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM xy),
         |bb AS (SELECT CASE WHEN k * sxx - sx * sx > 0
         |         THEN CAST((k * sxy - sx * sy) * 1000000
         |                   // (k * sxx - sx * sx) AS BIGINT)
         |       END AS beta_micro FROM f)
         |SELECT pct, n_docs, n_tokens, vocab, beta_micro
         |FROM xy CROSS JOIN bb ORDER BY pct""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.heapsLawGrowth(docs(s, dir))
  }

  /** x153 IDF-weighted Jaccard rescore — see
    * [[graft.operators.Dedup.weightedJaccardRescore]]: the x04 pairs
    * re-scored with idf gram weights — boilerplate-held pairs
    * collapse, rare-content pairs hold; the (jaccard, wj) gap is the
    * boilerplate diagnostic. */
  val x153 = query("x153_weighted_jaccard",
    // Replays weightedJaccardRescore over the x04 relation: idf
    // quantized once per gram, exact integer intersection/union
    // weight sums, NULL when the union weight is zero.
    s"""WITH $ngramPairsCteSql,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |idf AS (SELECT gram,
       |    CAST(round(round(ln(nn.n::DOUBLE / count(DISTINCT ex.doc_id)::DOUBLE),
       |      6) * 1000000) AS BIGINT) AS idf
       |  FROM ex CROSS JOIN nn GROUP BY gram, nn.n),
       |gw AS (SELECT ex.doc_id, ex.gram, idf.idf
       |       FROM ex JOIN idf ON idf.gram = ex.gram),
       |tot AS (SELECT doc_id, CAST(sum(idf) AS BIGINT) AS tot
       |        FROM gw GROUP BY 1),
       |inter AS (SELECT p.doc_a, p.doc_b, CAST(sum(ga.idf) AS BIGINT) AS i
       |          FROM pairs p
       |          JOIN gw ga ON ga.doc_id = p.doc_a
       |          JOIN gw gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
       |          GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |       CASE WHEN ta.tot + tb.tot - i.i > 0
       |            THEN CAST(i.i * 1000000 // (ta.tot + tb.tot - i.i)
       |                      AS BIGINT)
       |       END AS wj_micro
       |FROM pairs p
       |JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN tot ta ON ta.doc_id = p.doc_a
       |JOIN tot tb ON tb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (s, dir) =>
    Dedup.weightedJaccardRescore(docs(s, dir))
  }

  /** x154 KS drift per source — see
    * [[graft.operators.Profile.ksAgainstCorpus]]: sup-norm distance
    * of each source's length distribution from the corpus with the
    * asymptotic 95% critical value — the sharp-divergence read
    * x132's EMD integral smears. */
  val x154 = query("x154_ks_drift",
    // Replays ksAgainstCorpus on the x132 histogram machinery: exact
    // integer max-gap ×(n_g·n), one division, one fixed-expression
    // critical value.
    """WITH gv AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
      |                   count(*) AS n_gv
      |            FROM documents GROUP BY 1, 2),
      |sup AS (SELECT v, CAST(sum(n_gv) AS BIGINT) AS n_v FROM gv GROUP BY v),
      |supw AS (SELECT v, n_v,
      |           CAST(sum(n_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
      |         FROM sup),
      |nt AS (SELECT CAST(sum(n_gv) AS BIGINT) AS n FROM gv),
      |gr AS (SELECT g.grp, s.v, s.cum_c,
      |         CAST(sum(coalesce(gv.n_gv, 0)) OVER (PARTITION BY g.grp
      |           ORDER BY s.v ROWS BETWEEN UNBOUNDED PRECEDING AND
      |           CURRENT ROW) AS BIGINT) AS cum_g
      |       FROM (SELECT DISTINCT grp FROM gv) g
      |       CROSS JOIN supw s
      |       LEFT JOIN gv ON gv.grp = g.grp AND gv.v = s.v),
      |ng AS (SELECT grp, CAST(sum(n_gv) AS BIGINT) AS ng FROM gv GROUP BY grp),
      |gm AS (SELECT gr.grp, ng.ng, nt.n,
      |         CAST(round(abs(CAST(gr.cum_g AS DOUBLE) / CAST(ng.ng AS DOUBLE)
      |           - CAST(gr.cum_c AS DOUBLE) / CAST(nt.n AS DOUBLE))
      |           * 1000000.0) AS BIGINT) AS gapm
      |       FROM gr JOIN ng ON ng.grp = gr.grp CROSS JOIN nt)
      |SELECT grp AS source, ng AS n,
      |       CAST(max(gapm) AS BIGINT) AS ks_micro,
      |       CAST(round(1.358 * sqrt((ng + n) /
      |         (CAST(ng AS DOUBLE) * n)) * 1000000) AS BIGINT)
      |         AS crit_micro,
      |       CAST(max(gapm) AS BIGINT) >
      |       CAST(round(1.358 * sqrt((ng + n) /
      |         (CAST(ng AS DOUBLE) * n)) * 1000000) AS BIGINT)
      |         AS drifted
      |FROM gm GROUP BY grp, ng, n ORDER BY source""".stripMargin) { (s, dir) =>
    Profile.ksAgainstCorpus(docs(s, dir), "n_chars", "source")
  }

  /** x155 held-out transition NLL — see
    * [[graft.operators.Sequences.heldOutTransitionNll]]: train the
    * smoothed Markov model on the first half, score the second —
    * the generalization read behind x87's in-sample matrix. */
  val x155 = query("x155_heldout_nll",
    // Replays heldOutTransitionNll: per-user lag transitions, halves
    // by BOTH endpoints, add-one model from the first half, per-pair
    // micro-nat log-probs, exact integer test total.
    """WITH mid AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
      |             FROM events),
      |tr AS (SELECT a, b, h FROM (
      |    SELECT lag(event_type) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS a,
      |           event_type AS b,
      |           CASE WHEN epoch_us(ts) < mid.m THEN 1
      |                WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                  ORDER BY ts, event_id) >= mid.m THEN 2
      |                ELSE 0 END AS h
      |    FROM events CROSS JOIN mid) t
      |  WHERE a IS NOT NULL),
      |train AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
      |          FROM tr WHERE h = 1 GROUP BY 1, 2),
      |ctx AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM train GROUP BY 1),
      |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM (
      |          SELECT a FROM train UNION SELECT b FROM train) u),
      |test AS (SELECT a, b, CAST(count(*) AS BIGINT) AS ct
      |         FROM tr WHERE h = 2 GROUP BY 1, 2),
      |sc AS (SELECT test.ct,
      |    CAST(round(round(ln(
      |      (coalesce(train.c, 0) + 1)::DOUBLE /
      |      (coalesce(ctx.ca, 0) + voc.v)::DOUBLE), 6) * 1000000)
      |      AS BIGINT) AS lp
      |  FROM test
      |  LEFT JOIN train ON train.a = test.a AND train.b = test.b
      |  LEFT JOIN ctx ON ctx.a = test.a
      |  CROSS JOIN voc),
      |tn AS (SELECT CAST(sum(c) AS BIGINT) AS n_train FROM train)
      |SELECT tn.n_train, CAST(sum(sc.ct) AS BIGINT) AS n_test,
      |       voc.v AS vocab,
      |       CAST(-sum(sc.ct * sc.lp) AS BIGINT) AS sum_nll_micro,
      |       CAST(-sum(sc.ct * sc.lp) // sum(sc.ct) AS BIGINT)
      |         AS avg_nll_micro
      |FROM sc CROSS JOIN tn CROSS JOIN voc
      |GROUP BY tn.n_train, voc.v""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.heldOutTransitionNll(
      Tables.load(s, dir, "events"))
  }

  /** x156 JSON key profile of event props — see
    * [[graft.operators.Profile.jsonKeyProfile]]: per-key coverage,
    * cardinality, and lexicographic range across the semi-structured
    * column — the promote-to-columns schema discovery read. */
  val x156 = query("x156_json_key_profile",
    // Replays jsonKeyProfile: keys from the documents themselves,
    // values compared as exact strings (binary collation both sides);
    // keys outside [A-Za-z0-9_]+ are excluded by contract on BOTH
    // engines (path-splicing hazard, ADVICE r9).
    """WITH k AS (SELECT props, unnest(json_keys(props)) AS key FROM events),
      |kf AS (SELECT props, key FROM k
      |       WHERE regexp_matches(key, '^[A-Za-z0-9_]+$')),
      |p AS (SELECT key, CAST(count(*) AS BIGINT) AS n_present,
      |        CAST(count(DISTINCT json_extract_string(props, '$.' || key))
      |             AS BIGINT) AS n_values,
      |        min(json_extract_string(props, '$.' || key)) AS min_value,
      |        max(json_extract_string(props, '$.' || key)) AS max_value
      |      FROM kf GROUP BY key),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events)
      |SELECT key, n_present, n_rows,
      |       CAST(n_present * 1000000 // n_rows AS BIGINT) AS coverage_micro,
      |       n_values, min_value, max_value
      |FROM p CROSS JOIN t ORDER BY key""".stripMargin) { (s, dir) =>
    Profile.jsonKeyProfile(Tables.load(s, dir, "events"), "props")
  }

  /** x157 k-anonymity audit — see
    * [[graft.operators.Profile.kAnonymityAudit]]: quasi-identifier
    * cells (lang, source, 500-char length bucket) with fewer than 5
    * documents — the re-identification risk surface of a release. */
  val x157 = query("x157_k_anonymity",
    // Replays kAnonymityAudit: integer bucket, integer threshold.
    """WITH c AS (SELECT lang, source,
      |                  CAST(n_chars // 500 AS BIGINT) AS len_bucket
      |           FROM documents)
      |SELECT lang, source, len_bucket, CAST(count(*) AS BIGINT) AS n
      |FROM c GROUP BY 1, 2, 3 HAVING count(*) < 5
      |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    Profile.kAnonymityAudit(docs(s, dir),
      Seq(col("lang"), col("source"), expr("n_chars div 500")),
      k = 5, names = Seq("lang", "source", "len_bucket"))
  }

  /** x158 sort-key advisor — see
    * [[graft.operators.Layout.sortKeyAdvisor]]: exact Spearman rank
    * correlation of storage order vs each candidate sort column —
    * the zone-map pruning forecast behind a re-sort decision. */
  val x158 = query("x158_sortkey_advisor",
    // Replays sortKeyAdvisor: tie-broken ranks, exact Σd², the ρ term
    // in DOUBLE over the exact integer operands (identical IEEE ops on
    // identical inputs), quantized once — the integer 6·Σd²·10⁶ form
    // overflowed int64 from ~20k rows (ADVICE r9).
    {
      val cand = (c: String) =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           |  CASE WHEN count(*) > 1 THEN 1000000 -
           |    CAST(round(6.0 * (sum((rx - ry) * (rx - ry)))::DOUBLE
           |      * 1000000.0 / ((count(*))::DOUBLE * ((count(*))::DOUBLE
           |      * (count(*))::DOUBLE - 1.0))) AS BIGINT) END
           |    AS spearman_micro
           |FROM (SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
           |        AS rx,
           |      CAST(row_number() OVER (ORDER BY $c, doc_id) AS BIGINT)
           |        AS ry,
           |      $c AS v FROM documents) t""".stripMargin
      Seq("lang", "n_chars", "source").map(cand)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    }) { (s, dir) =>
    graft.operators.Layout.sortKeyAdvisor(docs(s, dir),
      Seq("lang", "n_chars", "source"), "doc_id")
  }

  /** x159 data-efficiency curve — see
    * [[graft.operators.TextAnalysis.dataEfficiencyCurve]]: token
    * mass per quality decile with cumulative share — the curve
    * behind every "train on the top X%" threshold. */
  val x159 = query("x159_data_efficiency",
    // Replays dataEfficiencyCurve: the shared quality ranking, exact
    // token counts from the same tokenizer, integer cumulative shares.
    s"""WITH ${qualityCteSql("doc_id")},
       |sc AS (SELECT q.doc_id, q.q AS qs, CAST(len(w.ws) AS BIGINT) AS t
       |       FROM q JOIN w USING (doc_id)),
       |dc AS (SELECT CAST(ntile(10) OVER (ORDER BY qs DESC, doc_id)
       |         AS INT) AS decile, t FROM sc),
       |bd AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(t) AS BIGINT) AS tokens
       |       FROM dc GROUP BY 1),
       |cm AS (SELECT decile, n_docs, tokens,
       |         CAST(sum(tokens) OVER (ORDER BY decile ROWS BETWEEN
       |           UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS cum_tokens
       |       FROM bd),
       |tt AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt FROM bd)
       |SELECT decile, n_docs, tokens, cum_tokens,
       |       CAST(cum_tokens * 1000000 // tt AS BIGINT) AS cum_share_micro
       |FROM cm CROSS JOIN tt ORDER BY decile""".stripMargin) { (s, dir) =>
    TextAnalysis.dataEfficiencyCurve(docs(s, dir))
  }

  /** x160 label modularity of the k-NN graph — see
    * [[graft.operators.Graph.partitionModularity]]: does the label
    * partition explain the embedding neighborhoods — the no-ground-
    * truth label-quality audit (Q ≈ 0 = labels are geometric noise). */
  val x160 = query("x160_label_modularity",
    // Replays partitionModularity on the same mutual edge set as
    // x83/x84/x137: exact integer m, e_c, d_c; one fixed double Q
    // term per label quantized to micro; integer total.
    s"""WITH ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM mu),
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |wi AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_within
       |       FROM mu JOIN lab la ON la.id = mu.u
       |               JOIN lab lb ON lb.id = mu.v
       |       WHERE la.label = lb.label GROUP BY 1),
       |dg AS (SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(sum(d.d) AS BIGINT) AS deg_sum
       |       FROM (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
       |               SELECT u AS id FROM mu UNION ALL SELECT v FROM mu) t
       |             GROUP BY id) d
       |       JOIN lab ON lab.id = d.id GROUP BY 1),
       |terms AS (SELECT dg.label, dg.n_nodes,
       |    CAST(coalesce(wi.e_within, 0) AS BIGINT) AS e_within,
       |    dg.deg_sum,
       |    CAST(round((coalesce(wi.e_within, 0) / CAST(m.m AS DOUBLE) -
       |      (dg.deg_sum / (2.0 * m.m)) * (dg.deg_sum / (2.0 * m.m)))
       |      * 1000000) AS BIGINT) AS q_term_micro
       |  FROM dg LEFT JOIN wi ON wi.label = dg.label CROSS JOIN m),
       |tot AS (SELECT CAST(sum(q_term_micro) AS BIGINT) AS q_total_micro
       |        FROM terms)
       |SELECT label, n_nodes, e_within, deg_sum, q_term_micro,
       |       q_total_micro
       |FROM terms CROSS JOIN tot ORDER BY label""".stripMargin) { (s, dir) =>
    graft.operators.Graph.partitionModularity(
      graft.operators.Graph.mutualEdges(knnEdges(s, dir)),
      emb(s, dir).select(col("vec_id").as("id"), col("label")))
  }

  /** x161 design effect of inverse-frequency weights — see
    * [[graft.operators.Profile.designEffect]]: ESS = (Σw)²/Σw² and
    * the variance inflation deff — what balancing by weight COSTS,
    * the quantitative case for capping or resampling instead. */
  val x161 = query("x161_design_effect",
    // Replays designEffect: integer micro weights, exact BIGINT
    // weighted sums, one double ESS/deff expression.
    """WITH st AS (SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_rows
      |            FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n,
      |             CAST(count(*) AS BIGINT) AS k FROM st),
      |w AS (SELECT grp, n_rows,
      |             CAST(1000000 * t.n // (t.k * n_rows) AS BIGINT)
      |               AS weight_micro
      |      FROM st CROSS JOIN t),
      |s AS (SELECT CAST(sum(n_rows * weight_micro) AS BIGINT) AS sw,
      |             CAST(sum(n_rows * weight_micro * weight_micro)
      |                  AS BIGINT) AS sww,
      |             CAST(sum(n_rows) AS BIGINT) AS nn
      |      FROM w)
      |SELECT grp AS lang, n_rows, weight_micro,
      |       round((CAST(sw AS DOUBLE) * sw) / sww, 6) AS ess,
      |       round(nn / ((CAST(sw AS DOUBLE) * sw) / sww), 6) AS deff
      |FROM w CROSS JOIN s ORDER BY lang""".stripMargin) { (s, dir) =>
    Profile.designEffect(docs(s, dir), "lang")
  }

  /** x162 rank-biased overlap of quality vs entropy rankings — see
    * [[graft.operators.TextAnalysis.rankBiasedOverlap]]: top-weighted
    * agreement (p=0.9, depth 50) between two filter signals — the
    * redundancy audit behind x147's fusion. */
  val x162 = query("x162_rank_biased_overlap",
    // Replays rankBiasedOverlap: the shared quality + entropy chains,
    // max-rank entry histogram, Scala-rendered geometric weights
    // (identical double literals), per-depth terms quantized, the
    // (1−p) scale cast to DOUBLE on both engines.
    {
      val wts = (1 to 50).map(d =>
        s"($d, CAST(${math.pow(0.9, (d - 1).toDouble)} AS DOUBLE))")
        .mkString(", ")
      s"""WITH ${qualityCteSql("doc_id")},
         |$entropyCteSql,
         |ra AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY qr DESC, doc_id)
         |              AS BIGINT) AS r FROM q),
         |rb AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY e DESC, doc_id)
         |              AS BIGINT) AS r FROM ent),
         |mx AS (SELECT greatest(ra.r, rb.r) AS m
         |       FROM ra JOIN rb USING (doc_id)
         |       WHERE greatest(ra.r, rb.r) <= 50),
         |hist AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM mx GROUP BY m),
         |wts(depth, w) AS (VALUES $wts),
         |tm AS (SELECT wts.depth, wts.w,
         |    CAST(coalesce((SELECT sum(c) FROM hist WHERE m <= wts.depth), 0)
         |         AS BIGINT) AS overlap
         |  FROM wts),
         |t2 AS (SELECT depth, overlap,
         |         CAST(round(w * overlap / CAST(depth AS DOUBLE) * 1000000)
         |              AS BIGINT) AS term_micro
         |       FROM tm),
         |tot AS (SELECT CAST(round(sum(term_micro) *
         |          CAST(0.09999999999999998 AS DOUBLE)) AS BIGINT)
         |          AS rbo_micro FROM t2)
         |SELECT depth, overlap, term_micro, rbo_micro
         |FROM t2 CROSS JOIN tot ORDER BY depth""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.rankBiasedOverlap(docs(s, dir))
  }

  /** x163 Freedman–Diaconis histogram of doc lengths — see
    * [[graft.operators.Profile.fdHistogram]]: the data-derived bin
    * width (2·IQR/∛n) and the histogram at that width — the
    * shape view beside x113's equi-depth quantile bins. */
  val x163 = query("x163_fd_histogram",
    // Replays fdHistogram: order-statistic IQR, ONE double width
    // expression, integer bin algebra; empty bins absent.
    """WITH p AS (
      |  SELECT CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)
      |              AS BIGINT) AS q1,
      |         CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)
      |              AS BIGINT) AS q3,
      |         CAST(min(n_chars) AS BIGINT) AS lo,
      |         CAST(max(n_chars) AS BIGINT) AS hi,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM documents),
      |w AS (SELECT p.*,
      |        greatest(1, CAST(round(2.0 * (q3 - q1) /
      |          cbrt(CAST(n AS DOUBLE))) AS BIGINT)) AS width
      |      FROM p),
      |w2 AS (SELECT w.*, (hi - lo) // width + 1 AS n_bins FROM w),
      |b AS (SELECT (d.n_chars - w2.lo) // w2.width AS bin,
      |             w2.width, w2.n_bins, w2.lo
      |      FROM documents d CROSS JOIN w2)
      |SELECT bin, CAST(lo + bin * width AS BIGINT) AS bin_lo,
      |       CAST(count(*) AS BIGINT) AS n, width, n_bins
      |FROM b GROUP BY bin, width, n_bins, lo ORDER BY bin""".stripMargin) { (s, dir) =>
    Profile.fdHistogram(docs(s, dir), "n_chars")
  }

  /** x164 exclusive vocabulary per source — see
    * [[graft.operators.TextAnalysis.exclusiveVocabShare]]: the
    * fraction of each source's vocabulary no other source carries —
    * what dropping the provider would actually lose. */
  val x164 = query("x164_exclusive_vocab",
    // Replays exclusiveVocabShare: the (source, term) distinct frame,
    // df-as-source-count, integer share.
    s"""WITH st AS (SELECT DISTINCT source, unnest(ws) AS term
       |            FROM (SELECT source, ${wordsSql("text")} AS ws
       |                  FROM documents) t),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS sc
       |       FROM st GROUP BY term)
       |SELECT st.source, CAST(count(*) AS BIGINT) AS vocab,
       |       CAST(sum(CASE WHEN df.sc = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS exclusive,
       |       CAST(sum(CASE WHEN df.sc = 1 THEN 1 ELSE 0 END) * 1000000
       |            // count(*) AS BIGINT) AS exclusive_share_micro
       |FROM st JOIN df ON df.term = st.term
       |GROUP BY st.source ORDER BY st.source""".stripMargin) { (s, dir) =>
    TextAnalysis.exclusiveVocabShare(docs(s, dir))
  }

  /** x165 cluster exemplars — see
    * [[graft.operators.Similarity.clusterExemplars]]: the member
    * closest to each x84 cluster's integer centroid — the medoid-
    * style representative a human can actually read. */
  val x165 = query("x165_cluster_exemplars",
    // Replays clusterExemplars over the x84 recursive closure: same
    // per-element micro quantization, truncating centroid division,
    // exact integer dot products, (cos desc, id) argmax.
    s"""WITH RECURSIVE ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |ed AS (SELECT u AS a, v AS b FROM mu
       |       UNION SELECT v AS a, u AS b FROM mu),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cc AS (SELECT node AS vec_id, min(r) AS cluster_id
       |       FROM reach GROUP BY node),
       |cells AS (SELECT cc.cluster_id AS grp, em.vec_id AS id,
       |    CAST(u.i AS INT) AS d,
       |    CAST(round(em.embedding[CAST(u.i AS INT)]::DOUBLE * 1000000)
       |         AS BIGINT) AS m
       |  FROM cc JOIN embeddings em ON em.vec_id = cc.vec_id,
       |       LATERAL (SELECT unnest(range(1, len(em.embedding) + 1)) AS i) u
       |  WHERE len(em.embedding) = 64
       |    AND list_inner_product(em.embedding::DOUBLE[],
       |                           em.embedding::DOUBLE[]) > 0),
       |cent AS (SELECT grp, d,
       |           CAST(sum(m) AS BIGINT) // CAST(count(*) AS BIGINT) AS q
       |         FROM cells GROUP BY 1, 2),
       |sc AS (SELECT cells.grp, cells.id,
       |              CAST(sum(m * q) AS BIGINT) AS num,
       |              CAST(sum(m * m) AS BIGINT) AS mm,
       |              CAST(sum(q * q) AS BIGINT) AS qq
       |       FROM cells JOIN cent ON cent.grp = cells.grp
       |                           AND cent.d = cells.d
       |       GROUP BY 1, 2),
       |cs AS (SELECT grp, id,
       |         round(num::DOUBLE / (sqrt(mm::DOUBLE) * sqrt(qq::DOUBLE)), 6)
       |           AS cos
       |       FROM sc WHERE mm > 0 AND qq > 0),
       |best AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_members,
       |           min(struct_pack(nc := -cos, id := id, cos := cos)) AS b
       |         FROM cs GROUP BY grp)
       |SELECT grp AS cluster_id, n_members, b.id AS exemplar_id,
       |       b.cos AS cos_to_centroid
       |FROM best ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    Similarity.clusterExemplars(emb(s, dir), x84(s, dir))
  }

  /** x166 diurnal concentration — see
    * [[graft.operators.Sequences.diurnalConcentration]]: circular
    * mean resultant length + peak hour per event type over Scala-
    * rendered hour-angle constants — the cron-vs-organic read
    * hour-of-day tables cannot give in one number. */
  val x166 = query("x166_diurnal_concentration",
    // Replays diurnalConcentration: the Scala-rendered hour-angle
    // VALUES table, exact integer resultant sums, fixed R/atan2
    // expressions with the nearest-hour rounding.
    {
      val ang = graft.operators.Sequences.HourAngleMicro
        .map { case (h, c, s2) => s"($h, $c, $s2)" }.mkString(", ")
      s"""WITH ang(hr, c, s2) AS (VALUES $ang),
         |h AS (SELECT event_type AS t, CAST(hour(ts) AS INT) AS hr,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM events GROUP BY 1, 2),
         |a AS (SELECT t, CAST(sum(n) AS BIGINT) AS n,
         |             CAST(sum(n * c) AS BIGINT) AS sc,
         |             CAST(sum(n * s2) AS BIGINT) AS ss
         |      FROM h JOIN ang USING (hr) GROUP BY 1)
         |SELECT t AS event_type, n,
         |       CAST(round(sqrt(CAST(sc AS DOUBLE) * sc +
         |         CAST(ss AS DOUBLE) * ss) / n) AS BIGINT) AS r_micro,
         |       CAST(round(((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
         |         + 2 * pi()) % (2 * pi())) * 24 / (2 * pi()))
         |         AS BIGINT) % 24 AS peak_hour
         |FROM a ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
    graft.operators.Sequences.diurnalConcentration(
      Tables.load(s, dir, "events"))
  }

  /** x167 concat-and-chunk packing audit — see
    * [[graft.operators.TextAnalysis.chunkPackingAudit]]: per-source
    * boundary-split rate and final-chunk padding at L=512 — the two
    * numbers that price a chunk length for THIS corpus. */
  val x167 = query("x167_chunk_packing",
    // Replays chunkPackingAudit: per-source running token offsets
    // (window partitioned by source), chunk ids by floor division,
    // integer split/waste rates at L=512.
    s"""WITH tk AS (SELECT source, doc_id,
       |              CAST(len(${wordsSql("text")}) AS BIGINT) AS t
       |            FROM documents
       |            WHERE len(${wordsSql("text")}) > 0),
       |c AS (SELECT source, t,
       |        coalesce(sum(t) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |      FROM tk),
       |d AS (SELECT source, t, cb // 512 AS fc,
       |             (cb + t - 1) // 512 AS lc FROM c),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(t) AS BIGINT) AS n_tokens,
       |             CAST(sum(CASE WHEN lc > fc THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS n_split_docs
       |      FROM d GROUP BY 1)
       |SELECT source, n_docs, n_tokens,
       |       CAST((n_tokens + 511) // 512 AS BIGINT) AS n_chunks,
       |       n_split_docs,
       |       CAST(n_split_docs * 1000000 // n_docs AS BIGINT)
       |         AS split_micro,
       |       CAST((n_tokens + 511) // 512 * 512 - n_tokens AS BIGINT)
       |         AS waste_tokens,
       |       CAST(((n_tokens + 511) // 512 * 512 - n_tokens) * 1000000
       |            // ((n_tokens + 511) // 512 * 512) AS BIGINT)
       |         AS waste_micro
       |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.chunkPackingAudit(docs(s, dir), chunkTokens = 512L)
  }

  /** x168 kNN label-noise audit — see
    * [[graft.operators.Graph.labelNoiseAudit]]: per-point neighbor
    * disagreement over the x76 kNN edges — WHICH labels to re-check,
    * the row-level sibling of x160's partition-level Q. */
  val x168 = query("x168_label_noise",
    // Replays labelNoiseAudit over the same bucketed kNN edges as
    // x83/x160: endpoint label joins, integer disagreement counts,
    // strict-majority suspect flag.
    s"""WITH ${knnEdgesCteSql(3)},
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |j AS (SELECT knn.src AS id, la.label AS ls, lb.label AS ld
       |      FROM knn JOIN lab la ON la.id = knn.src
       |               JOIN lab lb ON lb.id = knn.dst)
       |SELECT id, ls AS label, CAST(count(*) AS BIGINT) AS n_neighbors,
       |       CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_disagree,
       |       CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) * 1000000
       |            // count(*) AS BIGINT) AS disagree_micro,
       |       sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) * 2 > count(*)
       |         AS suspect
       |FROM j GROUP BY id, ls ORDER BY id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.labelNoiseAudit(knnEdges(s, dir),
      emb(s, dir).select(col("vec_id").as("id"), col("label")))
  }

  /** x169 per-label embedding dispersion — see
    * [[graft.operators.Similarity.embeddingDispersion]]: mean
    * pairwise dot inside each label via the ‖Σv‖² identity (one
    * aggregation, zero pair enumeration) — the semantic-redundancy
    * read beside x139's centroid drift and x127's pair histogram. */
  val x169 = query("x169_embedding_dispersion",
    // Replays embeddingDispersion: milli-quantized components, the
    // ||sum v||^2 - sum ||v||^2 identity per label, integer floor
    // divisions for both means and the ratio.
    """WITH cells AS (
      |  SELECT label, vec_id AS id, g.d AS d,
      |         CAST(round(embedding[g.d + 1]::DOUBLE * 1000.0) AS BIGINT) AS q
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS d) g
      |  WHERE len(embedding) = 64
      |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |pd AS (SELECT label, d, CAST(sum(q) AS BIGINT) AS sd,
      |              CAST(sum(q * q) AS BIGINT) AS qq,
      |              CAST(count(DISTINCT id) AS BIGINT) AS n
      |       FROM cells GROUP BY 1, 2),
      |f AS (SELECT label, CAST(max(n) AS BIGINT) AS n,
      |             CAST(sum(sd * sd) AS BIGINT) AS s2,
      |             CAST(sum(qq) AS BIGINT) AS sf
      |      FROM pd GROUP BY 1)
      |SELECT label, n,
      |       CAST(sf // n AS BIGINT) AS mean_self_dot_micro,
      |       CASE WHEN n > 1 THEN CAST((s2 - sf) // (n * (n - 1)) AS BIGINT)
      |         END AS mean_pair_dot_micro,
      |       CASE WHEN n > 1 AND sf // n > 0 THEN
      |         CAST(((s2 - sf) // (n * (n - 1))) * 1000000 // (sf // n)
      |              AS BIGINT) END AS redundancy_micro
      |FROM f ORDER BY label""".stripMargin) { (s, dir) =>
    Similarity.embeddingDispersion(emb(s, dir))
  }

  /** x170 MinHash-LSH parameter plan — see
    * [[graft.operators.Dedup.lshParameterPlan]]: the banding S-curve
    * evaluated against the observed x04 pair population for four
    * (bands, rows) configs — choose b and r from the data. */
  val x170 = query("x170_lsh_plan",
    // Replays lshParameterPlan over the brute-force x04 pair relation:
    // per-config collision probability as the SAME multiplication
    // chain (no pow — Dedup.collisionProbExpr renders both engines'
    // expression text), quantized once, exact integer sums.
    {
      val cfg = Seq((16, 1), (8, 2), (4, 4), (2, 8)).map { case (b, r) =>
        s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(p) AS BIGINT) AS exp_candidates_micro,
           |  CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hi,
           |  CASE WHEN sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) > 0
           |    THEN CAST(sum(CASE WHEN jaccard >= 0.5 THEN p ELSE 0 END)
           |      // sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           |    END AS recall_hi_micro,
           |  CAST(sum(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_lo,
           |  CASE WHEN sum(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END) > 0
           |    THEN CAST(sum(CASE WHEN jaccard < 0.5 THEN p ELSE 0 END)
           |      // sum(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           |    END AS fp_load_micro
           |FROM pp_${b}_$r""".stripMargin
      }
      val ppCtes = Seq((16, 1), (8, 2), (4, 4), (2, 8)).map { case (b, r) =>
        val pexpr = graft.operators.Dedup.collisionProbExpr("jaccard", b, r, "1.0")
        s"""pp_${b}_$r AS (SELECT jaccard,
           |  CAST(round($pexpr * 1000000.0) AS BIGINT) AS p FROM pairs)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ngramPairsCteSql,
         |$ppCtes
         |${cfg.mkString("\nUNION ALL\n")}
         |ORDER BY rows_per_band, bands""".stripMargin
    }) { (s, dir) =>
    Dedup.lshParameterPlan(docs(s, dir))
  }

  /** x171 Zipf head slope — see
    * [[graft.operators.TextAnalysis.zipfHeadSlope]]: OLS of ln(count)
    * on ln(rank) over the top-100 terms — the ≈ −1 corpus-health
    * constant beside x152's Heaps β. */
  val x171 = query("x171_zipf_head",
    // Replays zipfHeadSlope: top-100 by (count desc, term), milli-nat
    // ln per point, exact integer OLS, truncating signed division.
    s"""WITH toks AS (SELECT unnest(${wordsSql("text")}) AS term FROM documents),
       |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS c
       |        FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
       |               CAST(sum(c) AS BIGINT) AS total_tokens FROM cnt),
       |head AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank
       |         FROM cnt ORDER BY c DESC, term LIMIT 100),
       |pt AS (SELECT c,
       |         CAST(round(round(ln(rank::DOUBLE), 3) * 1000) AS BIGINT) AS x,
       |         CAST(round(round(ln(c::DOUBLE), 3) * 1000) AS BIGINT) AS y
       |       FROM head),
       |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |             CAST(sum(c) AS BIGINT) AS head_tokens,
       |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |             CAST(sum(x * y) AS BIGINT) AS sxy,
       |             CAST(sum(x * x) AS BIGINT) AS sxx FROM pt)
       |SELECT k, vocab, total_tokens, head_tokens,
       |       CAST(head_tokens * 1000000 // total_tokens AS BIGINT)
       |         AS head_mass_micro,
       |       CASE WHEN k * sxx - sx * sx > 0 THEN
       |         CAST((k * sxy - sx * sy) * 1000000 // (k * sxx - sx * sx)
       |              AS BIGINT) END AS slope_micro
       |FROM f CROSS JOIN tot""".stripMargin) { (s, dir) =>
    TextAnalysis.zipfHeadSlope(docs(s, dir), topK = 100)
  }

  /** x172 mixed-language document audit — see
    * [[graft.operators.TextAnalysis.mixedLanguageAudit]]: chunk-level
    * lang-id disagreement per doc — the code-switching detector a
    * doc-level tag hides. */
  val x172 = query("x172_mixed_lang",
    // Replays mixedLanguageAudit: the exact stride chunk grid, the
    // x08 lang heuristic per chunk (same stopword literals, same
    // fr>=es>=en>=de tie order), (count, pred) struct argmax for the
    // majority, strict minority share in micro.
    {
      def sc(l: String) =
        s"len(list_filter(${stopLit(l)}, x -> list_contains(ws, x)))"
      s"""WITH ch AS (
         |  SELECT doc_id, substr(text, CAST(st AS INT), 200) AS chunk
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, length(text) + 1, 200)) AS st
         |        FROM documents WHERE length(text) > 0) t),
         |cw AS (SELECT doc_id, chunk, ${wordsSql("chunk")} AS ws FROM ch),
         |cs AS (SELECT doc_id, chunk,
         |         ${sc("de")} AS s_de, ${sc("en")} AS s_en,
         |         ${sc("es")} AS s_es, ${sc("fr")} AS s_fr
         |       FROM cw),
         |cp AS (SELECT doc_id,
         |         CASE WHEN regexp_matches(chunk, '\\p{Han}') THEN 'zh'
         |              WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         |              WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         |              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         |              WHEN s_en >= s_de THEN 'en'
         |              ELSE 'de' END AS p
         |       FROM cs),
         |pc AS (SELECT doc_id, p, CAST(count(*) AS BIGINT) AS c
         |       FROM cp GROUP BY 1, 2),
         |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
         |              CAST(count(*) AS BIGINT) AS n_langs,
         |              CAST(sum(CASE WHEN p <> 'und' THEN 1 ELSE 0 END)
         |                   AS BIGINT) AS realn
         |       FROM pc GROUP BY 1),
         |mj AS (SELECT doc_id, p AS majority_pred, c AS majority_chunks
         |       FROM (SELECT doc_id, p, c, row_number() OVER (
         |               PARTITION BY doc_id ORDER BY c DESC, p DESC) AS rn
         |             FROM pc) t WHERE rn = 1)
         |SELECT ag.doc_id, d.lang, ag.n_chunks, ag.n_langs,
         |       mj.majority_pred, CAST(mj.majority_chunks AS BIGINT)
         |         AS majority_chunks,
         |       CAST((ag.n_chunks - mj.majority_chunks) * 1000000
         |            // ag.n_chunks AS BIGINT) AS minority_micro,
         |       ag.realn > 1 AS mixed
         |FROM ag JOIN mj USING (doc_id) JOIN documents d USING (doc_id)
         |WHERE ag.n_chunks >= 2
         |ORDER BY ag.doc_id""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.mixedLanguageAudit(docs(s, dir))
  }

  /** x173 cross-split embedding leakage — see
    * [[graft.operators.Similarity.splitLeakageBySimilarity]]: each
    * hash-split test vector's nearest train vector via the x07
    * buckets — the paraphrase leakage x64's n-grams cannot see. */
  val x173 = query("x173_embedding_leakage",
    // Replays splitLeakageBySimilarity: the same hyperplane buckets as
    // x07/x76, the md5-60 split gate, round-6 cosines, per-test argmax
    // by (cosine desc, train id).
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket,
       |         ${md5Hash60Sql("CAST(vec_id AS STRING)")} % 100 < 10 AS t
       |  FROM embeddings
       |  WHERE len(embedding) = 64
       |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |sc AS (SELECT a.vec_id AS test_id, c.vec_id AS train_id,
       |         round(list_cosine_similarity(a.embedding::DOUBLE[],
       |           c.embedding::DOUBLE[]), 6) AS cosine
       |       FROM b a JOIN b c ON a.bucket = c.bucket
       |       WHERE a.t AND NOT c.t),
       |r AS (SELECT *, row_number() OVER (PARTITION BY test_id
       |        ORDER BY cosine DESC, train_id) AS rn FROM sc)
       |SELECT test_id, train_id, cosine, cosine >= 0.9 AS leaked
       |FROM r WHERE rn = 1 ORDER BY test_id""".stripMargin) { (s, dir) =>
    Similarity.splitLeakageBySimilarity(emb(s, dir))
  }

  /** x174 per-source vocabulary KL — see
    * [[graft.operators.TextAnalysis.sourceVocabKL]]: empirical-
    * unigram KL(source ‖ corpus), smoothing-free and finite by
    * construction — ranks providers by linguistic distance. */
  val x174 = query("x174_source_vocab_kl",
    // Replays sourceVocabKL: empirical unigram ratios, one micro-nat
    // ln per (source, term) over exact integer products, exact integer
    // divergence sum, one floor division.
    s"""WITH st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cs
       |            FROM (SELECT source, unnest(${wordsSql("text")}) AS term
       |                  FROM documents) t GROUP BY 1, 2),
       |ct AS (SELECT term, CAST(sum(cs) AS BIGINT) AS ct FROM st GROUP BY 1),
       |ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM st GROUP BY 1),
       |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM ct),
       |lr AS (SELECT st.source, st.cs, ts.ts,
       |         CAST(round(round(ln(
       |           (st.cs::DOUBLE * tt.tt::DOUBLE) /
       |           (ts.ts::DOUBLE * ct.ct::DOUBLE)), 6) * 1000000)
       |           AS BIGINT) AS lr
       |       FROM st JOIN ct USING (term) JOIN ts USING (source)
       |            CROSS JOIN tt)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       |       CAST(max(ts) AS BIGINT) AS total_tokens,
       |       CAST(sum(cs * lr) // max(ts) AS BIGINT) AS kl_micro
       |FROM lr GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.sourceVocabKL(docs(s, dir))
  }

  /** x175 frequent event 3-paths — see
    * [[graft.operators.Sequences.eventPathMining]]: consecutive
    * same-user trigram counts above support — the workflow patterns
    * one step beyond x87's Markov bigrams. */
  val x175 = query("x175_event_paths",
    // Replays eventPathMining: two user-partitioned lags, exact path
    // counts, support filter, integer share of all trigrams.
    """WITH tri AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT lag(event_type, 2) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS a,
      |           lag(event_type, 1) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) AS b,
      |           event_type AS c
      |    FROM events) t
      |  WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM tri)
      |SELECT a, b, c, n, CAST(n * 1000000 // tot AS BIGINT) AS support_micro
      |FROM tri CROSS JOIN tot WHERE n >= 5
      |ORDER BY n DESC, a, b, c""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.eventPathMining(Tables.load(s, dir, "events"))
  }

  /** x176 common-prefix boilerplate — see
    * [[graft.operators.TextAnalysis.commonPrefixProfile]]: documents
    * grouped by their first-4-token prefix, repeated prefixes
    * surfaced — the header/template detector at doc-start
    * granularity. */
  val x176 = query("x176_prefix_boilerplate",
    // Replays commonPrefixProfile: exact first-4-token prefix strings
    // as the aggregation key, repeated-prefix filter, integer share.
    s"""WITH pf AS (SELECT source,
       |              array_to_string((${wordsSql("text")})[1:4], ' ')
       |                AS prefix
       |            FROM documents),
       |ag AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |       FROM pf WHERE prefix <> '' GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
       |SELECT prefix, n_docs, n_sources,
       |       CAST(n_docs * 1000000 // n AS BIGINT) AS share_micro
       |FROM ag CROSS JOIN tot WHERE n_docs >= 3
       |ORDER BY n_docs DESC, prefix""".stripMargin) { (s, dir) =>
    TextAnalysis.commonPrefixProfile(docs(s, dir))
  }

  /** x177 truncation plan — see
    * [[graft.operators.TextAnalysis.truncationPlan]]: docs clipped
    * and token mass lost per candidate max_seq_len — the
    * pick-the-length-from-the-data table beside x167's packing
    * audit. */
  val x177 = query("x177_truncation_plan",
    // Replays truncationPlan: one conditional-sum pass over the token
    // counts, unpivoted to one row per candidate length.
    s"""WITH t AS (SELECT CAST(len(${wordsSql("text")}) AS BIGINT) AS t
       |           FROM documents),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(t) AS BIGINT) AS tot,
      |        CAST(sum(CASE WHEN t > 64 THEN 1 ELSE 0 END) AS BIGINT) AS over64,
      |       CAST(sum(CASE WHEN t > 64 THEN t - 64 ELSE 0 END) AS BIGINT) AS lost64,
      |CAST(sum(CASE WHEN t > 128 THEN 1 ELSE 0 END) AS BIGINT) AS over128,
      |       CAST(sum(CASE WHEN t > 128 THEN t - 128 ELSE 0 END) AS BIGINT) AS lost128,
      |CAST(sum(CASE WHEN t > 256 THEN 1 ELSE 0 END) AS BIGINT) AS over256,
      |       CAST(sum(CASE WHEN t > 256 THEN t - 256 ELSE 0 END) AS BIGINT) AS lost256,
      |CAST(sum(CASE WHEN t > 512 THEN 1 ELSE 0 END) AS BIGINT) AS over512,
      |       CAST(sum(CASE WHEN t > 512 THEN t - 512 ELSE 0 END) AS BIGINT) AS lost512
      |      FROM t)
      |SELECT 64 AS max_len, n AS n_docs, over64 AS n_clipped, tot AS tokens_total,
      |       lost64 AS tokens_lost,
      |       CAST(lost64 * 1000000 // tot AS BIGINT) AS lost_micro,
      |       CAST((tot - lost64) * 1000000 // tot AS BIGINT) AS kept_micro
      |FROM a
      |UNION ALL
      |SELECT 128 AS max_len, n AS n_docs, over128 AS n_clipped, tot AS tokens_total,
      |       lost128 AS tokens_lost,
      |       CAST(lost128 * 1000000 // tot AS BIGINT) AS lost_micro,
      |       CAST((tot - lost128) * 1000000 // tot AS BIGINT) AS kept_micro
      |FROM a
      |UNION ALL
      |SELECT 256 AS max_len, n AS n_docs, over256 AS n_clipped, tot AS tokens_total,
      |       lost256 AS tokens_lost,
      |       CAST(lost256 * 1000000 // tot AS BIGINT) AS lost_micro,
      |       CAST((tot - lost256) * 1000000 // tot AS BIGINT) AS kept_micro
      |FROM a
      |UNION ALL
      |SELECT 512 AS max_len, n AS n_docs, over512 AS n_clipped, tot AS tokens_total,
      |       lost512 AS tokens_lost,
      |       CAST(lost512 * 1000000 // tot AS BIGINT) AS lost_micro,
      |       CAST((tot - lost512) * 1000000 // tot AS BIGINT) AS kept_micro
      |FROM a
      |ORDER BY max_len""".stripMargin) { (s, dir) =>
    TextAnalysis.truncationPlan(docs(s, dir))
  }

  /** x178 leave-one-source-out ablation — see
    * [[graft.operators.TextAnalysis.sourceAblation]]: per-source
    * remaining token share, rest-of-corpus quality mean and delta,
    * and near-dup pairs touched — the drop-a-provider planner. */
  val x178 = query("x178_source_ablation",
    // Replays sourceAblation: the shared quality CTE carrying source,
    // exact integer sufficient statistics subtracted for every LOSO
    // column, per-pair distinct source touches over the x04 relation.
    s"""WITH $ngramPairsCteSql,
       |${qualityCteSql("doc_id, source")},
       |tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS t FROM w),
       |per AS (SELECT q.doc_id, q.source, tk.t,
       |               CAST(round(q.q * 1000000) AS BIGINT) AS qm
       |        FROM q JOIN tk USING (doc_id)),
       |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(t) AS BIGINT) AS tokens,
       |              CAST(sum(qm) AS BIGINT) AS qs
       |       FROM per GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
       |               CAST(sum(tokens) AS BIGINT) AS tt,
       |               CAST(sum(qs) AS BIGINT) AS qq FROM st),
       |sp AS (SELECT doc_id, source FROM per),
       |tch AS (SELECT s AS source, CAST(count(*) AS BIGINT) AS dup FROM (
       |          SELECT pairs.doc_a, pairs.doc_b,
       |                 unnest(list_distinct([sa.source, sb.source])) AS s
       |          FROM pairs JOIN sp sa ON sa.doc_id = pairs.doc_a
       |                     JOIN sp sb ON sb.doc_id = pairs.doc_b) u
       |        GROUP BY 1)
       |SELECT st.source, st.n_docs, st.tokens,
       |       CAST((tot.tt - st.tokens) * 1000000 // tot.tt AS BIGINT)
       |         AS token_share_rest_micro,
       |       CAST(st.qs // st.n_docs AS BIGINT) AS mean_q_micro,
       |       CASE WHEN tot.nn > st.n_docs THEN
       |         CAST((tot.qq - st.qs) // (tot.nn - st.n_docs) AS BIGINT)
       |         END AS loso_mean_q_micro,
       |       CASE WHEN tot.nn > st.n_docs THEN
       |         CAST((tot.qq - st.qs) // (tot.nn - st.n_docs)
       |              - tot.qq // tot.nn AS BIGINT)
       |         END AS loso_delta_micro,
       |       coalesce(tch.dup, 0) AS dup_pairs_touching
       |FROM st CROSS JOIN tot LEFT JOIN tch ON tch.source = st.source
       |ORDER BY st.source""".stripMargin) { (s, dir) =>
    TextAnalysis.sourceAblation(docs(s, dir))
  }

  /** x179 broadcast-eligibility advisor — see
    * [[graft.operators.Layout.broadcastAdvisor]]: schema-driven size
    * estimates for the five dimension tables against the 10 MB
    * broadcast threshold. */
  val x179 = query("x179_broadcast_advisor",
    // Replays broadcastAdvisor: the SAME stated byte formula (8 per
    // fixed-width column, length + 20 per string) per dimension table.
    """SELECT 'customer' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(c_name), 0) + 20) + 8 + 8 + (coalesce(length(c_mktsegment), 0) + 20)) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(c_name), 0) + 20) + 8 + 8 + (coalesce(length(c_mktsegment), 0) + 20)) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM customer
      |UNION ALL
      |SELECT 'nation' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(n_name), 0) + 20) + 8) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(n_name), 0) + 20) + 8) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM nation
      |UNION ALL
      |SELECT 'part' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(p_name), 0) + 20) + (coalesce(length(p_brand), 0) + 20) + (coalesce(length(p_type), 0) + 20) + 8 + 8) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(p_name), 0) + 20) + (coalesce(length(p_brand), 0) + 20) + (coalesce(length(p_type), 0) + 20) + 8 + 8) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM part
      |UNION ALL
      |SELECT 'region' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(r_name), 0) + 20)) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(r_name), 0) + 20)) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM region
      |UNION ALL
      |SELECT 'supplier' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(s_name), 0) + 20) + 8 + 8) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(s_name), 0) + 20) + 8 + 8) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM supplier
      |ORDER BY "table"""".stripMargin) { (s, dir) =>
    graft.operators.Layout.broadcastAdvisor(
      Seq("customer", "nation", "part", "region", "supplier")
        .map(t => t -> Tables.load(s, dir, t)))
  }

  /** x180 functional-dependency audit — see
    * [[graft.operators.Profile.functionalDependencyAudit]]:
    * distinct(A) vs distinct(A,B) per candidate pair over events —
    * which columns determine which, and how dirty the near-FDs are. */
  val x180 = query("x180_fd_audit",
    // Replays functionalDependencyAudit: two exact distinct counts per
    // candidate pair, one subtraction, unioned per pair.
    {
      val fdPairs = Seq("event_id" -> "user_id", "event_id" -> "event_type",
        "user_id" -> "event_type")
      fdPairs.map { case (a, b) =>
        s"""SELECT '$a' AS det, '$b' AS dep,
           |  CAST(count(DISTINCT $a) AS BIGINT) AS n_det,
           |  CAST(count(DISTINCT CASE WHEN $a IS NOT NULL THEN ($a, $b) END)
           |    AS BIGINT) AS n_pairs_distinct,
           |  CAST(count(DISTINCT CASE WHEN $a IS NOT NULL THEN ($a, $b) END)
           |    - count(DISTINCT $a) AS BIGINT) AS violations,
           |  count(DISTINCT CASE WHEN $a IS NOT NULL THEN ($a, $b) END)
           |    = count(DISTINCT $a) AS holds
           |FROM events""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY det, dep"
    }) { (s, dir) =>
    Profile.functionalDependencyAudit(Tables.load(s, dir, "events"),
      Seq("event_id" -> "user_id", "event_id" -> "event_type",
        "user_id" -> "event_type"))
  }

  /** x181 per-user monotonicity audit — see
    * [[graft.operators.Sequences.monotonicityAudit]]: adjacent
    * ts-vs-event_id inversions per user — the append-log sanity
    * check every sequence operator assumes. */
  val x181 = query("x181_monotonicity_audit",
    // Replays monotonicityAudit: one user-partitioned lag over the id
    // order, exact adjacent-inversion counts.
    """WITH l AS (SELECT user_id, ts,
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY event_id)
      |               AS pt
      |           FROM events)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN pt > ts THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_inversions,
      |       CASE WHEN count(*) > 1 THEN
      |         CAST(sum(CASE WHEN pt > ts THEN 1 ELSE 0 END) * 1000000
      |              // (count(*) - 1) AS BIGINT) ELSE 0 END
      |         AS inversion_micro,
      |       sum(CASE WHEN pt > ts THEN 1 ELSE 0 END) = 0 AS monotone
      |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.monotonicityAudit(
      Tables.load(s, dir, "events"))
      .withColumn("user_id", col("user_id").cast("long"))
  }

  /** x182 referential-integrity audit — see
    * [[graft.operators.Profile.referentialIntegrityAudit]]: orphan
    * and null foreign keys along the five TPC-H FK edges. */
  val x182 = query("x182_referential_integrity",
    // Replays referentialIntegrityAudit: distinct parent keys, one
    // left join per edge, orphan/null counts.
    {
      val fkEdges = Seq(
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      fkEdges.map { case (name, c, fk, p, pk) =>
        s"""SELECT '$name' AS relation,
           |  CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(sum(CASE WHEN c.$fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null_fk,
           |  CAST(sum(CASE WHEN c.$fk IS NOT NULL AND pp.__pk IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           |  sum(CASE WHEN c.$fk IS NOT NULL AND pp.__pk IS NULL
           |    THEN 1 ELSE 0 END) = 0 AS intact
           |FROM $c c LEFT JOIN (SELECT DISTINCT $pk AS __pk FROM $p) pp
           |  ON c.$fk = pp.__pk""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY relation"
    }) { (s, dir) =>
    def t(n: String) = Tables.load(s, dir, n)
    Profile.referentialIntegrityAudit(Seq(
      ("customer.c_nationkey->nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey"),
      ("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey",
        t("orders"), "o_orderkey"),
      ("nation.n_regionkey->region", t("nation"), "n_regionkey",
        t("region"), "r_regionkey"),
      ("orders.o_custkey->customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey"),
      ("supplier.s_nationkey->nation", t("supplier"), "s_nationkey",
        t("nation"), "n_nationkey")))
  }

  /** x183 lognormality check — see
    * [[graft.operators.Profile.lognormalityCheck]]: Jarque–Bera on
    * ln(n_chars) per source — the synthetic/template-source alarm
    * (natural lengths run lognormal; machines under-disperse). */
  val x183 = query("x183_lognormality",
    // Replays lognormalityCheck: centi-nat ln per row, integer floor
    // mean, exact central power sums, S/K/JB as single double
    // expressions over the exact integers.
    """WITH x AS (SELECT source AS grp,
      |              CAST(round(ln(n_chars::DOUBLE) * 100) AS BIGINT) AS x
      |           FROM documents WHERE n_chars > 0),
      |mu AS (SELECT grp, CAST(sum(x) // count(*) AS BIGINT) AS mu
      |       FROM x GROUP BY 1),
      |d AS (SELECT x.grp, x.x - mu.mu AS d FROM x JOIN mu USING (grp)),
      |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(d * d) AS BIGINT) AS m2,
      |             CAST(sum(d * d * d) AS BIGINT) AS m3,
      |             CAST(sum(d * d * d * d) AS BIGINT) AS m4
      |      FROM d GROUP BY 1),
      |sk AS (SELECT grp, n,
      |    CASE WHEN n >= 8 AND m2 > 0 THEN
      |      CAST(round(m3::DOUBLE / n::DOUBLE /
      |        sqrt((m2::DOUBLE / n::DOUBLE) * (m2::DOUBLE / n::DOUBLE)
      |          * (m2::DOUBLE / n::DOUBLE)) * 1000000.0) AS BIGINT)
      |      END AS skew_micro,
      |    CASE WHEN n >= 8 AND m2 > 0 THEN
      |      CAST(round((m4::DOUBLE * n::DOUBLE /
      |        (m2::DOUBLE * m2::DOUBLE) - 3.0) * 1000000.0) AS BIGINT)
      |      END AS exkurt_micro
      |  FROM m),
      |jb AS (SELECT grp, n, skew_micro, exkurt_micro,
      |    CASE WHEN skew_micro IS NOT NULL THEN
      |      CAST(round(n::DOUBLE / 6.0 *
      |        ((skew_micro::DOUBLE / 1000000.0) *
      |         (skew_micro::DOUBLE / 1000000.0) +
      |         (exkurt_micro::DOUBLE / 1000000.0) *
      |         (exkurt_micro::DOUBLE / 1000000.0) / 4.0)
      |        * 1000000.0) AS BIGINT) END AS jb_micro
      |  FROM sk)
      |SELECT grp AS source, n, skew_micro, exkurt_micro, jb_micro,
      |       CASE WHEN jb_micro IS NOT NULL THEN jb_micro <= 5991000
      |         END AS lognormal_ok
      |FROM jb ORDER BY source""".stripMargin) { (s, dir) =>
    Profile.lognormalityCheck(docs(s, dir), "n_chars", "source")
  }

  /** x184 two-sample power analysis — see
    * [[graft.operators.Profile.powerAnalysis]]: rows per arm needed
    * to detect a 5%-of-corpus-mean length shift per source — the
    * is-this-slice-big-enough gate behind x140's z-test. */
  val x184 = query("x184_power_analysis",
    // Replays powerAnalysis: exact moment sums, sigma/delta quantized
    // to micro BEFORE the n formula, the Scala-rendered z constant.
    {
      val twoZ2 = graft.operators.Profile.PowerTwoZSquared
      s"""WITH st AS (SELECT source AS grp,
         |              CAST(count(*) AS BIGINT) AS n_rows,
         |              CAST(sum(n_chars) AS BIGINT) AS s,
         |              CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
         |            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(sum(s) AS BIGINT) AS ts,
         |               CAST(sum(n_rows) AS BIGINT) AS tn FROM st),
         |b AS (SELECT grp, n_rows,
         |        CAST(s * 1000000 // n_rows AS BIGINT) AS mean_micro,
         |        CASE WHEN n_rows > 1 THEN
         |          CAST(round(sqrt(ss::DOUBLE / n_rows::DOUBLE
         |            - (s::DOUBLE / n_rows::DOUBLE) *
         |              (s::DOUBLE / n_rows::DOUBLE)) * 1000000.0)
         |            AS BIGINT) END AS sd_micro,
         |        CAST(round(ts::DOUBLE / tn::DOUBLE * 0.05 * 1000000.0)
         |             AS BIGINT) AS mde_micro
         |      FROM st CROSS JOIN tot)
         |SELECT grp AS source, n_rows, mean_micro, sd_micro, mde_micro,
         |       CASE WHEN sd_micro IS NOT NULL AND sd_micro > 0
         |                  AND mde_micro > 0 THEN
         |         CAST(ceil($twoZ2 *
         |           (sd_micro::DOUBLE * sd_micro::DOUBLE) /
         |           (mde_micro::DOUBLE * mde_micro::DOUBLE)) AS BIGINT)
         |         END AS n_needed,
         |       CASE WHEN sd_micro IS NOT NULL AND sd_micro > 0
         |                  AND mde_micro > 0 THEN
         |         n_rows >= CAST(ceil($twoZ2 *
         |           (sd_micro::DOUBLE * sd_micro::DOUBLE) /
         |           (mde_micro::DOUBLE * mde_micro::DOUBLE)) AS BIGINT)
         |         END AS powered
         |FROM b ORDER BY source""".stripMargin
    }) { (s, dir) =>
    Profile.powerAnalysis(docs(s, dir), "n_chars", "source")
  }

  /** x185 near-dup flow matrix — see
    * [[graft.operators.Dedup.dupFlowMatrix]]: the x04 pairs rolled to
    * (source, source) cells — who duplicates whom, the cell behind
    * x178's drop-a-provider call. */
  val x185 = query("x185_dup_flow_matrix",
    // Replays dupFlowMatrix over the brute-force x04 pair relation:
    // unordered source cells, integer pair counts and shares.
    s"""WITH $ngramPairsCteSql,
       |sp AS (SELECT doc_id AS id, source AS src FROM documents),
       |cells AS (SELECT least(sa.src, sb.src) AS src_a,
       |                 greatest(sa.src, sb.src) AS src_b,
       |                 CAST(count(*) AS BIGINT) AS n_pairs
       |          FROM pairs JOIN sp sa ON sa.id = pairs.doc_a
       |                     JOIN sp sb ON sb.id = pairs.doc_b
       |          GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM cells)
       |SELECT src_a, src_b, n_pairs,
       |       CAST(n_pairs * 1000000 // t.t AS BIGINT) AS share_micro,
       |       src_a = src_b AS within
       |FROM cells CROSS JOIN t ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
    Dedup.dupFlowMatrix(docs(s, dir))
  }

  /** x186 token savings per dedup threshold — see
    * [[graft.operators.Dedup.thresholdTokenSavings]]: x144's
    * affected-docs curve in TOKEN mass — what each threshold is
    * worth in storage/compute units. */
  val x186 = query("x186_threshold_token_savings",
    // Replays thresholdTokenSavings: micro-jaccard deciles, per-doc
    // best pair, exact token sums cumulated downward, corpus-total
    // share.
    s"""WITH $ngramPairsCteSql,
       |pd AS (SELECT doc_a, doc_b,
       |              least(CAST(round(jaccard * 1000000.0) AS BIGINT)
       |                    // 100000, 9) AS dec
       |       FROM pairs),
       |tk AS (SELECT doc_id AS d, CAST(len(${wordsSql("text")}) AS BIGINT)
       |         AS t FROM documents),
       |db AS (SELECT d, max(dec) AS dec FROM (
       |         SELECT doc_a AS d, dec FROM pd
       |         UNION ALL SELECT doc_b, dec FROM pd) u GROUP BY d),
       |bh AS (SELECT db.dec, CAST(count(*) AS BIGINT) AS nd,
       |              CAST(sum(tk.t) AS BIGINT) AS tkm
       |       FROM db JOIN tk USING (d) GROUP BY 1),
       |tt AS (SELECT CAST(sum(t) AS BIGINT) AS tt FROM tk)
       |SELECT dec AS decile, CAST(dec * 100000 AS BIGINT) AS threshold_micro,
       |       CAST(sum(nd) OVER (ORDER BY dec DESC ROWS BETWEEN UNBOUNDED
       |         PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs_ge,
       |       CAST(sum(tkm) OVER (ORDER BY dec DESC ROWS BETWEEN UNBOUNDED
       |         PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_ge,
       |       CAST(CAST(sum(tkm) OVER (ORDER BY dec DESC ROWS BETWEEN
       |         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |         * 1000000 // tt.tt AS BIGINT) AS token_share_micro
       |FROM bh CROSS JOIN tt ORDER BY decile""".stripMargin) { (s, dir) =>
    Dedup.thresholdTokenSavings(docs(s, dir))
  }

  /** x187 embedding anisotropy — see
    * [[graft.operators.Similarity.embeddingAnisotropy]]: top-eigen
    * share of the centered scatter via integer-exact power iteration
    * — the "is this space collapsed" number behind x127's cosine
    * pile-up, and the whitening decision it implies. */
  val x187 = query("x187_embedding_anisotropy",
    // Replays embeddingAnisotropy: milli quantization, floor integer
    // means, exact HUGEINT scatter/power-iteration (6 unrolled steps,
    // truncating division matching BigInt), one double Rayleigh share.
    s"""WITH b AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE len(embedding) = 64
       |             AND list_inner_product(embedding::DOUBLE[],
       |                                    embedding::DOUBLE[]) > 0),
       |qv AS MATERIALIZED (SELECT vec_id AS id, g.d AS d,
       |         CAST(round(embedding[g.d + 1]::DOUBLE * 1000.0) AS BIGINT)
       |           AS q
       |       FROM b, (SELECT unnest(range(0, 64)) AS d) g),
       |mu AS (SELECT d, CAST(sum(q) // count(*) AS BIGINT) AS mu
       |       FROM qv GROUP BY 1),
       |cent AS MATERIALIZED (SELECT qv.id, qv.d, qv.q - mu.mu AS c
       |         FROM qv JOIN mu USING (d)),
       |s AS MATERIALIZED (SELECT a.d AS i, bb.d AS j,
       |             CAST(sum(a.c * bb.c) AS BIGINT) AS s
       |      FROM cent a JOIN cent bb ON a.id = bb.id GROUP BY 1, 2),
       |tr AS (SELECT CAST(sum(s) AS BIGINT) AS trace FROM s WHERE i = j),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
       |w0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1000 AS HUGEINT) AS w),
       |u1 AS (SELECT s.i, sum(CAST(s.s AS HUGEINT) * w0.w) AS u
       |        FROM s JOIN w0 ON w0.j = s.j GROUP BY s.i),
       |m1 AS (SELECT max(abs(u)) AS m FROM u1),
       |w1 AS (SELECT u1.i AS j,
       |           CAST(u1.u * 1000 // NULLIF(m1.m, 0) AS HUGEINT) AS w
       |        FROM u1 CROSS JOIN m1),
       |u2 AS (SELECT s.i, sum(CAST(s.s AS HUGEINT) * w1.w) AS u
       |        FROM s JOIN w1 ON w1.j = s.j GROUP BY s.i),
       |m2 AS (SELECT max(abs(u)) AS m FROM u2),
       |w2 AS (SELECT u2.i AS j,
       |           CAST(u2.u * 1000 // NULLIF(m2.m, 0) AS HUGEINT) AS w
       |        FROM u2 CROSS JOIN m2),
       |u3 AS (SELECT s.i, sum(CAST(s.s AS HUGEINT) * w2.w) AS u
       |        FROM s JOIN w2 ON w2.j = s.j GROUP BY s.i),
       |m3 AS (SELECT max(abs(u)) AS m FROM u3),
       |w3 AS (SELECT u3.i AS j,
       |           CAST(u3.u * 1000 // NULLIF(m3.m, 0) AS HUGEINT) AS w
       |        FROM u3 CROSS JOIN m3),
       |u4 AS (SELECT s.i, sum(CAST(s.s AS HUGEINT) * w3.w) AS u
       |        FROM s JOIN w3 ON w3.j = s.j GROUP BY s.i),
       |m4 AS (SELECT max(abs(u)) AS m FROM u4),
       |w4 AS (SELECT u4.i AS j,
       |           CAST(u4.u * 1000 // NULLIF(m4.m, 0) AS HUGEINT) AS w
       |        FROM u4 CROSS JOIN m4),
       |u5 AS (SELECT s.i, sum(CAST(s.s AS HUGEINT) * w4.w) AS u
       |        FROM s JOIN w4 ON w4.j = s.j GROUP BY s.i),
       |m5 AS (SELECT max(abs(u)) AS m FROM u5),
       |w5 AS (SELECT u5.i AS j,
       |           CAST(u5.u * 1000 // NULLIF(m5.m, 0) AS HUGEINT) AS w
       |        FROM u5 CROSS JOIN m5),
       |u6 AS (SELECT s.i, sum(CAST(s.s AS HUGEINT) * w5.w) AS u
       |        FROM s JOIN w5 ON w5.j = s.j GROUP BY s.i),
       |m6 AS (SELECT max(abs(u)) AS m FROM u6),
       |w6 AS (SELECT u6.i AS j,
       |           CAST(u6.u * 1000 // NULLIF(m6.m, 0) AS HUGEINT) AS w
       |        FROM u6 CROSS JOIN m6),
       |fin AS (SELECT
       |    (SELECT sum(w * w) FROM w6) AS ww,
       |    (SELECT sum(wi.w * CAST(s.s AS HUGEINT) * wj.w)
       |     FROM s JOIN w6 wi ON wi.j = s.i
       |            JOIN w6 wj ON wj.j = s.j) AS wsw)
       |SELECT nn.n, CAST(64 AS BIGINT) AS dim, tr.trace,
       |       CASE WHEN tr.trace > 0 AND fin.ww IS NOT NULL
       |                 AND fin.ww > 0 THEN
       |         CAST(round(fin.wsw::DOUBLE / fin.ww::DOUBLE /
       |           tr.trace::DOUBLE * 1000000.0) AS BIGINT)
       |         END AS top_eigen_share_micro,
       |       CAST(6 AS BIGINT) AS iters
       |FROM nn CROSS JOIN tr CROSS JOIN fin""".stripMargin) { (s, dir) =>
    Similarity.embeddingAnisotropy(emb(s, dir))
  }

  /** x188 dedup-cascade attribution — see
    * [[graft.operators.Dedup.cascadeAttribution]]: exact →
    * fingerprint → n-gram → embedding stages, each doc attributed to
    * its FIRST flagging stage — which stages earn their cost. The
    * embedding stage rides the fixture's vec_id ≡ doc_id alignment
    * (the same contract x134 uses). */
  val x188 = query("x188_dedup_cascade",
    // Replays the dedup cascade: exact md5 groups, the x23 md5-60
    // fingerprint pairs, the x04 n-gram pair relation, and the x05
    // bucketed embedding pairs at cosine >= 0.9 (vec_id == doc_id by
    // fixture contract) — per-doc min stage rank, per-stage totals.
    s"""$fingerprintCteSql,
       |fpr AS (SELECT doc_id, hs[1:16] AS fp FROM h WHERE ng > 0),
       |fpp AS (SELECT a.doc_id AS da, b.doc_id AS db
       |        FROM fpr a JOIN fpr b ON a.fp = b.fp
       |                               AND a.doc_id < b.doc_id),
       |$ngramPairsCteSql,
       |bb AS (SELECT vec_id, embedding, ${bucketSql("embedding", 6)}
       |         AS bucket
       |       FROM embeddings WHERE len(embedding) = 64),
       |ep AS (SELECT da, db FROM (
       |         SELECT a.vec_id AS da, b2.vec_id AS db,
       |           round(list_cosine_similarity(a.embedding::DOUBLE[],
       |             b2.embedding::DOUBLE[]), 6) AS c
       |         FROM bb a JOIN bb b2 ON a.bucket = b2.bucket
       |                             AND a.vec_id < b2.vec_id) t
       |       WHERE c >= 0.9),
       |exg AS (SELECT md5(text) AS hh, count(*) AS n FROM documents
       |        GROUP BY 1),
       |al AS (SELECT DISTINCT doc_id, r FROM (
       |    SELECT d.doc_id, 1 AS r FROM documents d
       |      JOIN exg ON md5(d.text) = exg.hh WHERE exg.n > 1
       |    UNION ALL SELECT da, 2 FROM fpp
       |    UNION ALL SELECT db, 2 FROM fpp
       |    UNION ALL SELECT doc_a, 3 FROM pairs
       |    UNION ALL SELECT doc_b, 3 FROM pairs
       |    UNION ALL SELECT da, 4 FROM ep
       |    UNION ALL SELECT db, 4 FROM ep) u),
       |fl AS (SELECT r, CAST(count(*) AS BIGINT) AS n_flagged
       |       FROM al GROUP BY 1),
       |fr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_first FROM (
       |         SELECT doc_id, min(r) AS r FROM al GROUP BY 1) m
       |       GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |sp(stage, stage_rank) AS (VALUES ('exact', 1),
       |  ('fingerprint', 2), ('ngram', 3), ('embedding', 4))
       |SELECT sp.stage, sp.stage_rank,
       |       coalesce(fl.n_flagged, 0) AS n_flagged,
       |       coalesce(fr.n_first, 0) AS n_first,
       |       CAST(coalesce(fr.n_first, 0) * 1000000 // nn.n AS BIGINT)
       |         AS marginal_micro
       |FROM sp LEFT JOIN fl ON fl.r = sp.stage_rank
       |        LEFT JOIN fr ON fr.r = sp.stage_rank
       |        CROSS JOIN nn
       |ORDER BY sp.stage_rank""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val h = d.select(col("doc_id").as("id"), md5(col("text")).as("__h"))
    val exactF = h.join(
      h.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1), "__h").select(col("id"))
    def ends(pairs: DataFrame): DataFrame =
      pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
    val fpF = ends(TextAnalysis.fingerprintDup(d, portableMd5 = true))
    val ngF = ends(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2))
    val emF = ends(Dedup.embeddingNearDup(emb(s, dir), "vec_id", "embedding",
      minCosine = 0.9, nPlanes = 6))
    Dedup.cascadeAttribution(Seq(
      "exact" -> exactF, "fingerprint" -> fpF,
      "ngram" -> ngF, "embedding" -> emF), "id", d)
  }

  /** x189 dimension-truncation (matryoshka) retrieval audit — see
    * [[graft.operators.Similarity.truncationRecall]]: top-10 retrieval
    * agreement and top-1 score degradation when vectors are cut to
    * their first 8/16/32 components, against the full-64 baseline (the
    * 64 row is the hits=slots sanity anchor). 20 query vectors, the
    * x06 brute-force discipline per dim. */
  val x189 = query("x189_truncation_recall",
    // Replays truncationRecall: per dim d, the x06 brute-force ranking
    // over length-d prefixes ((embedding::DOUBLE[])[1:d] — slicing the
    // cast array equals casting the sliced floats, widening is exact),
    // hits counted against the full-64 top-10 set, and the truncated
    // rescore of each query's full-dim top-1 neighbor. The norm guards
    // mirror Spark's null-cosine drop: a zero-norm prefix has no
    // cosine, so the pair leaves the ranking (and the rescore sum)
    // on BOTH engines instead of scoring NaN here.
    {
      def nz(expr: String, d: Int) =
        s"list_inner_product(($expr::DOUBLE[])[1:$d], ($expr::DOUBLE[])[1:$d]) > 0"
      def tk(d: Int, name: String) =
        s"""$name AS (SELECT query_id, vec_id FROM (
           |  SELECT q.query_id, c.vec_id, row_number() OVER (
           |    PARTITION BY q.query_id
           |    ORDER BY round(list_cosine_similarity(
           |      (c.embedding::DOUBLE[])[1:$d],
           |      (q.query_vec::DOUBLE[])[1:$d]), 6) DESC, c.vec_id) AS rnk
           |  FROM embeddings c CROSS JOIN q
           |  WHERE ${nz("c.embedding", d)} AND ${nz("q.query_vec", d)}) t
           |  WHERE rnk <= 10)""".stripMargin
      val dims = Seq(8, 16, 32, 64)
      val dimCtes = dims.map { d =>
        s"""${tk(d, s"tk$d")},
           |h$d AS (SELECT CAST(count(*) AS BIGINT) AS topk_hits
           |        FROM tk$d JOIN ftk USING (query_id, vec_id)),
           |t$d AS (SELECT CAST(sum(CAST(round(round(list_cosine_similarity(
           |          (c.embedding::DOUBLE[])[1:$d],
           |          (q.query_vec::DOUBLE[])[1:$d]), 6) * 1000000.0)
           |          AS BIGINT)) AS BIGINT) AS s
           |        FROM f1 JOIN embeddings c ON c.vec_id = f1.top1
           |                JOIN q ON q.query_id = f1.query_id
           |        WHERE ${nz("c.embedding", d)} AND ${nz("q.query_vec", d)})""".stripMargin
      }.mkString(",\n")
      val rows = dims.map { d =>
        s"""SELECT CAST($d AS BIGINT) AS dim, nq.n_queries, nq.slots,
           |       h$d.topk_hits, t$d.s AS top1_trunc_cos_micro_sum
           |FROM nq CROSS JOIN h$d CROSS JOIN t$d""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec
         |           FROM embeddings WHERE vec_id < 20),
         |${tk(64, "ftk")},
         |f1r AS (SELECT q.query_id, c.vec_id, row_number() OVER (
         |          PARTITION BY q.query_id
         |          ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
         |            q.query_vec::DOUBLE[]), 6) DESC, c.vec_id) AS rnk
         |        FROM embeddings c CROSS JOIN q
         |        WHERE ${nz("c.embedding", 64)} AND ${nz("q.query_vec", 64)}),
         |f1 AS (SELECT query_id, vec_id AS top1 FROM f1r WHERE rnk = 1),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |              CAST(count(*) * 10 AS BIGINT) AS slots FROM q),
         |$dimCtes
         |$rows
         |ORDER BY dim""".stripMargin
    }) { (s, dir) =>
    Similarity.truncationRecall(emb(s, dir),
      emb(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
      dims = Seq(8, 16, 32, 64), k = 10)
  }

  /** x190 hard-negative mining — see
    * [[graft.operators.Similarity.hardNegatives]]: per query vector,
    * the nearest OTHER-label neighbor beside the nearest same-label
    * neighbor and the (micro) margin between them — contrastive
    * training pairs, negative-margin rows being the boundary-crossing
    * queries x168 counts in aggregate. 30 query vectors. */
  val x190 = query("x190_hard_negatives",
    // Replays hardNegatives: self-excluded scored pairs split on label
    // agreement, top-1 per side by (6-dp cosine DESC, vec_id), margin
    // re-quantized to micro from the two quantized scores.
    """WITH q AS (SELECT vec_id AS query_id, label AS query_label, embedding
      |           FROM embeddings WHERE vec_id < 30),
      |sc AS (SELECT q.query_id, q.query_label, c.vec_id, c.label,
      |         round(list_cosine_similarity(c.embedding::DOUBLE[],
      |           q.embedding::DOUBLE[]), 6) AS cosine
      |       FROM embeddings c CROSS JOIN q
      |       WHERE c.vec_id <> q.query_id
      |         AND list_inner_product(c.embedding::DOUBLE[],
      |               c.embedding::DOUBLE[]) > 0
      |         AND list_inner_product(q.embedding::DOUBLE[],
      |               q.embedding::DOUBLE[]) > 0),
      |p AS (SELECT query_id, vec_id AS pos_id, cosine AS pos_cos FROM (
      |        SELECT query_id, vec_id, cosine, row_number() OVER (
      |          PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      |        FROM sc WHERE label = query_label) t WHERE rnk = 1),
      |n AS (SELECT query_id, vec_id AS neg_id, cosine AS neg_cos FROM (
      |        SELECT query_id, vec_id, cosine, row_number() OVER (
      |          PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      |        FROM sc WHERE label <> query_label) t WHERE rnk = 1)
      |SELECT q.query_id, q.query_label, p.pos_id, p.pos_cos,
      |       n.neg_id, n.neg_cos,
      |       CAST(round((p.pos_cos - n.neg_cos) * 1000000.0) AS BIGINT)
      |         AS margin_micro
      |FROM q JOIN p ON p.query_id = q.query_id
      |       JOIN n ON n.query_id = q.query_id
      |ORDER BY q.query_id""".stripMargin) { (s, dir) =>
    Similarity.hardNegatives(emb(s, dir),
      emb(s, dir).filter(col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label")))
  }

  /** x191 per-label embedding OOD audit — see
    * [[graft.operators.Similarity.oodAudit]]: diagonal-covariance
    * squared z-scores summed per vector, rolled up per label with a
    * mean-z²>1.5 outlier flag — the prune-before-training screen
    * beside x168's kNN label-noise read. */
  val x191 = query("x191_embedding_ood",
    // Replays oodAudit: 1e-3-quantized components (the x169 cell
    // idiom), exact per-(label, dim) integer sums, the per-dim term as
    // one double square-and-divide of exact integer differences,
    // milli-quantized per (vector, dim) and integer-summed.
    """WITH cells AS (
      |  SELECT label, vec_id AS id, g.d AS d,
      |         CAST(round(embedding[g.d + 1]::DOUBLE * 1000.0) AS BIGINT) AS q
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS d) g
      |  WHERE len(embedding) = 64),
      |st AS (SELECT label AS l, d, CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(q) AS BIGINT) AS s1,
      |              CAST(sum(q * q) AS BIGINT) AS s2
      |       FROM cells GROUP BY 1, 2),
      |tm AS (SELECT c.label, c.id,
      |         CASE WHEN st.s2 * st.n - st.s1 * st.s1 > 0 THEN
      |           CAST(round(CAST(c.q * st.n - st.s1 AS DOUBLE) *
      |             CAST(c.q * st.n - st.s1 AS DOUBLE) * 1000.0 /
      |             CAST(st.s2 * st.n - st.s1 * st.s1 AS DOUBLE)) AS BIGINT)
      |           END AS t
      |       FROM cells c JOIN st ON st.l = c.label AND st.d = c.d),
      |v AS (SELECT label, id, CAST(sum(t) AS BIGINT) AS ood
      |      FROM tm GROUP BY 1, 2)
      |SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(64 AS BIGINT) AS dim,
      |       CAST(sum(ood) AS BIGINT) AS ood_milli_sum,
      |       CAST(max(ood) AS BIGINT) AS max_ood_milli,
      |       CAST(sum(CASE WHEN ood > 1500 * 64 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS flagged
      |FROM v GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    Similarity.oodAudit(emb(s, dir), factorMilli = 1500L)
  }

  /** x192 compression retrieval audit — see
    * [[graft.operators.Similarity.compressionRecall]]: top-10
    * agreement and top-1 score degradation under int8 symmetric
    * quantization (the x25 storage format) and the 16-dim ±1 JL
    * projection (the x75 sketch), against the full-float baseline —
    * the quantization/projection axis beside x189's truncation axis.
    * Cosine is scale-invariant, so the per-vector quantization scale
    * and the JL 1/√16 factor cancel; only the rounding they introduce
    * is measured. */
  val x192 = query("x192_compression_recall",
    // Replays compressionRecall: the int8 side re-derives the x25
    // quantization (values are small exact integers, so the float
    // storage round-trips and cosine runs over identical doubles);
    // the jl16 side re-derives the x75 projection with the same sign
    // literals, /4.0 exact (power of two), CAST AS FLOAT mirroring the
    // engine's array<float> narrowing. Inner joins on the transformed
    // frames mirror the null-drop of degenerate vectors.
    {
      val signs = graft.functions.VectorKernels.jlSigns(16, 64, 7)
        .map(_.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]::DOUBLE[]"))
      def ip(v: String, j: Int) = s"list_inner_product($v::DOUBLE[], ${signs(j)})"
      def jlList(v: String) = (0 until 16)
        .map(j => s"CAST(${ip(v, j)} / 4.0 AS FLOAT)")
        .mkString("list_value(", ",\n           ", ")::DOUBLE[]")
      def tk(cv: String, qv: String, name: String) =
        s"""$name AS (SELECT query_id, vec_id FROM (
           |  SELECT b.query_id, a.vec_id, row_number() OVER (
           |    PARTITION BY b.query_id
           |    ORDER BY round(list_cosine_similarity(a.$cv, b.$qv), 6) DESC,
           |             a.vec_id) AS rnk
           |  FROM c$name a CROSS JOIN q$name b) t WHERE rnk <= 10)""".stripMargin
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec
         |           FROM embeddings WHERE vec_id < 20),
         |fr AS (SELECT q.query_id, c.vec_id, row_number() OVER (
         |         PARTITION BY q.query_id
         |         ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
         |           q.query_vec::DOUBLE[]), 6) DESC, c.vec_id) AS rnk
         |       FROM embeddings c CROSS JOIN q
         |       WHERE list_inner_product(c.embedding::DOUBLE[],
         |               c.embedding::DOUBLE[]) > 0
         |         AND list_inner_product(q.query_vec::DOUBLE[],
         |               q.query_vec::DOUBLE[]) > 0),
         |ftk AS (SELECT query_id, vec_id FROM fr WHERE rnk <= 10),
         |f1 AS (SELECT query_id, vec_id AS top1 FROM fr WHERE rnk = 1),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |              CAST(count(*) * 10 AS BIGINT) AS slots FROM q),
         |ci0 AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |          list_max(list_transform(embedding::DOUBLE[],
         |            y -> abs(y))) AS mx
         |        FROM embeddings),
         |cti AS (SELECT vec_id, list_transform(v, x -> GREATEST(-127.0,
         |          LEAST(127.0, floor(x * (127.0 / mx) + 0.5)))) AS cv
         |        FROM ci0 WHERE mx > 0),
         |qi0 AS (SELECT query_id, query_vec::DOUBLE[] AS v,
         |          list_max(list_transform(query_vec::DOUBLE[],
         |            y -> abs(y))) AS mx
         |        FROM q),
         |qti AS (SELECT query_id, list_transform(v, x -> GREATEST(-127.0,
         |          LEAST(127.0, floor(x * (127.0 / mx) + 0.5)))) AS qv
         |        FROM qi0 WHERE mx > 0),
         |${tk("cv", "qv", "ti")},
         |hi AS (SELECT CAST(count(*) AS BIGINT) AS topk_hits
         |       FROM ti JOIN ftk USING (query_id, vec_id)),
         |ri AS (SELECT CAST(sum(CAST(round(round(list_cosine_similarity(
         |         a.cv, b.qv), 6) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
         |       FROM f1 JOIN cti a ON a.vec_id = f1.top1
         |               JOIN qti b ON b.query_id = f1.query_id),
         |ctj AS (SELECT vec_id, cv FROM (
         |          SELECT vec_id, ${jlList("embedding")} AS cv
         |          FROM embeddings WHERE len(embedding) = 64) z
         |        WHERE list_inner_product(cv, cv) > 0),
         |qtj AS (SELECT query_id, qv FROM (
         |          SELECT query_id, ${jlList("query_vec")} AS qv
         |          FROM q WHERE len(query_vec) = 64) z
         |        WHERE list_inner_product(qv, qv) > 0),
         |${tk("cv", "qv", "tj")},
         |hj AS (SELECT CAST(count(*) AS BIGINT) AS topk_hits
         |       FROM tj JOIN ftk USING (query_id, vec_id)),
         |rj AS (SELECT CAST(sum(CAST(round(round(list_cosine_similarity(
         |         a.cv, b.qv), 6) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
         |       FROM f1 JOIN ctj a ON a.vec_id = f1.top1
         |               JOIN qtj b ON b.query_id = f1.query_id)
         |SELECT 'int8' AS method, nq.n_queries, nq.slots, hi.topk_hits,
         |       ri.s AS top1_comp_cos_micro_sum
         |FROM nq CROSS JOIN hi CROSS JOIN ri
         |UNION ALL
         |SELECT 'jl16' AS method, nq.n_queries, nq.slots, hj.topk_hits,
         |       rj.s AS top1_comp_cos_micro_sum
         |FROM nq CROSS JOIN hj CROSS JOIN rj
         |ORDER BY method""".stripMargin
    }) { (s, dir) =>
    import graft.functions.VectorFunctions.{jl_project, quantize_i8}
    Similarity.compressionRecall(emb(s, dir),
      emb(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
      methods = Seq(
        "int8" -> ((v: org.apache.spark.sql.Column) =>
          quantize_i8(v).cast("array<float>")),
        "jl16" -> ((v: org.apache.spark.sql.Column) =>
          jl_project(v, 16, 64, 7).cast("array<float>"))),
      k = 10)
  }

  /** x193 context-length packing sweep — see
    * [[graft.operators.TextAnalysis.packingSweep]]: per (budget,
    * lang), pack count, fill ratio, boundary-straddling docs and
    * tail overflow for candidate context lengths 256/512/1024/2048 —
    * the capacity-planning table behind choosing a training context
    * length, computed from ONE shared prefix-sum pass. */
  val x193 = query("x193_packing_sweep",
    // Replays packingSweep: the x31 token count and cumulative sum,
    // then per budget the same integer pack algebra (// and div both
    // truncate; operands non-negative).
    {
      val budgets = Seq(256L, 512L, 1024L, 2048L)
      val perB = budgets.map { l =>
        s"""SELECT CAST($l AS BIGINT) AS budget, lang,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |  CAST(MAX((cum - n_tokens) // $l) + 1 AS BIGINT) AS n_packs,
           |  CAST(SUM(CASE WHEN n_tokens > 0
           |    AND (cum - n_tokens) // $l <> (cum - 1) // $l
           |    THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
           |FROM p GROUP BY lang""".stripMargin
      }.zipWithIndex.map { case (sql, i) => s"b$i AS ($sql)" }.mkString(",\n")
      val rows = budgets.indices.map { i =>
        s"""SELECT budget, lang, n_docs, total_tokens, n_packs,
           |  CAST(n_packs * budget AS BIGINT) AS capacity,
           |  CAST(total_tokens * 1000000 // (n_packs * budget) AS BIGINT)
           |    AS fill_micro,
           |  CAST(GREATEST(0, total_tokens - n_packs * budget) AS BIGINT)
           |    AS overflow_tokens,
           |  split_docs
           |FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (
         |  SELECT lang, doc_id,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        x -> len(x) > 0)) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT lang, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t WHERE n_tokens IS NOT NULL),
         |$perB
         |$rows
         |ORDER BY budget, lang""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.packingSweep(docs(s, dir),
      budgets = Seq(256L, 512L, 1024L, 2048L))
  }

  /** x194 retrieval-quality scorecard — see
    * [[graft.operators.Similarity.retrievalMetrics]]: per labeled
    * query vector, precision hits / MRR / DCG / IDCG / NDCG at 10
    * with same-label relevance — the IR-eval read beside x189/x192's
    * self-consistency audits; rank discounts are micro-quantized once
    * and shared with the oracle as integer constants. 30 queries. */
  val x194 = query("x194_retrieval_metrics",
    // Replays retrievalMetrics: the x06 ranking with self excluded,
    // relevance = shared label, and the SAME micro-quantized rank
    // discounts rendered as integer CASE arms (Similarity.discountMicro
    // — one quantization, two engines). ndcg is the identical integer
    // floor-division.
    {
      val d = graft.operators.Similarity.discountMicro(10)
      val pfx = d.scanLeft(0L)(_ + _).tail
      val mrrCase = (1 to 10).map(r =>
        s"WHEN $r THEN ${math.round(1e6 / r)}").mkString(" ")
      val dcgCase = (1 to 10).map(r => s"WHEN $r THEN ${d(r - 1)}").mkString(" ")
      val idcgCase = (1 to 10).map(m => s"WHEN $m THEN ${pfx(m - 1)}").mkString(" ")
      s"""WITH q AS (SELECT vec_id AS query_id, label AS query_label, embedding
         |           FROM embeddings WHERE vec_id < 30),
         |sc AS (SELECT q.query_id, q.query_label, c.vec_id, c.label,
         |         round(list_cosine_similarity(c.embedding::DOUBLE[],
         |           q.embedding::DOUBLE[]), 6) AS cosine
         |       FROM embeddings c CROSS JOIN q
         |       WHERE c.vec_id <> q.query_id
         |         AND list_inner_product(c.embedding::DOUBLE[],
         |               c.embedding::DOUBLE[]) > 0
         |         AND list_inner_product(q.embedding::DOUBLE[],
         |               q.embedding::DOUBLE[]) > 0),
         |t AS (SELECT query_id, query_label, label, rnk FROM (
         |        SELECT query_id, query_label, label, row_number() OVER (
         |          PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |        FROM sc) z WHERE rnk <= 10),
         |m AS (SELECT query_id, query_label,
         |        CAST(SUM(CASE WHEN label = query_label THEN 1 ELSE 0 END)
         |          AS BIGINT) AS hits_at_k,
         |        CAST(COALESCE(CASE MIN(CASE WHEN label = query_label
         |          THEN rnk END) $mrrCase END, 0) AS BIGINT) AS mrr_micro,
         |        CAST(SUM(CASE WHEN label = query_label THEN
         |          CASE rnk $dcgCase END ELSE 0 END) AS BIGINT) AS dcg0
         |      FROM t GROUP BY query_id, query_label),
         |lt AS (SELECT label AS tl, count(*) AS tn FROM embeddings GROUP BY 1),
         |-- R = same-label corpus size minus self iff the query sits in
         |-- the corpus under that label (the engine's containment rule)
         |mr AS (SELECT m.*, COALESCE(lt.tn, 0) -
         |         (CASE WHEN EXISTS (SELECT 1 FROM embeddings e
         |            WHERE e.vec_id = m.query_id AND e.label = m.query_label)
         |          THEN 1 ELSE 0 END) AS r_total
         |       FROM m LEFT JOIN lt ON lt.tl = m.query_label)
         |SELECT query_id, query_label, hits_at_k, mrr_micro,
         |       CASE WHEN r_total >= 1 THEN dcg0 END AS dcg_micro,
         |       CAST(CASE WHEN r_total >= 1 THEN
         |         CASE LEAST(r_total, 10) $idcgCase END END AS BIGINT)
         |         AS idcg_micro,
         |       CAST(CASE WHEN r_total >= 1 THEN
         |         dcg0 * 1000000 //
         |           (CASE LEAST(r_total, 10) $idcgCase END) END AS BIGINT)
         |         AS ndcg_micro
         |FROM mr ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
    Similarity.retrievalMetrics(emb(s, dir),
      emb(s, dir).filter(col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label")),
      k = 10)
  }

  /** x195 iterated BPE vocabulary induction — see
    * [[graft.operators.TextAnalysis.bpeInduction]]: six full merge
    * rounds of the Sennrich trainer over the distinct-word vocabulary
    * (deterministic (count desc, pair asc) picks, greedy relational
    * left-to-right merges), emitting the learned merge table — the
    * multi-round answer to x78's single-round pair statistics
    * (VERDICT r12 item 6). */
  val x195 = query("x195_bpe_induction",
    // Replays bpeInduction round by round (the x137 unrolled-iteration
    // pattern) — see [[bpeCtesSql]] for the shared per-round blocks.
    {
      val unions = (1 to 6).map(n =>
        s"""SELECT CAST($n AS BIGINT) AS round, l AS left_sym, r AS right_sym,
           |       l || r AS merged, cnt AS pair_count FROM b$n""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH ${bpeCtesSql(6)}
         |SELECT * FROM (
         |$unions
         |) u ORDER BY round""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.bpeInduction(docs(s, dir), rounds = 6)
  }

  /** x196 tokenizer fertility per source — see
    * [[graft.operators.TextAnalysis.bpeFertility]]: every distinct
    * word encoded to its symbol count under the x195-induced 6-merge
    * vocabulary, token totals rolled up per source — the "which
    * sources does this tokenizer fragment" capacity read next to
    * x119's coverage and x152's Heaps curve. */
  val x196 = query("x196_bpe_fertility",
    // Replays bpeFertility off the SAME six-round chain: tokens per
    // word = the final symbol count, rolled up per source over the
    // per-doc word explosion (len >= 2, the induction's own filter).
    s"""WITH ${bpeCtesSql(6)},
       |tp AS (SELECT wid, CAST(len(syms) AS BIGINT) AS t FROM v6),
       |dx AS (SELECT source AS grp, w FROM (
       |         SELECT source, unnest(${wordsSql("text")}) AS w
       |         FROM documents) z WHERE len(w) >= 2),
       |ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_words,
       |              CAST(sum(tp.t) AS BIGINT) AS n_tokens
       |       FROM dx JOIN tp ON tp.wid = dx.w GROUP BY grp)
       |SELECT grp AS source, n_words, n_tokens,
       |       CAST(n_tokens * 1000000 // n_words AS BIGINT)
       |         AS fertility_micro
       |FROM ag ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.bpeFertility(docs(s, dir), rounds = 6)
  }

  /** x197 l-diversity profile — see
    * [[graft.operators.Profile.lDiversityProfile]]: the COMPLETE
    * (source, 500-char-length-bucket) equivalence-class profile with
    * lang as the SENSITIVE attribute (k ≥ 5 size + l ≥ 2 diversity
    * verdicts) — the homogeneity-attack read x157's sub-k-cells-only
    * k-anonymity audit cannot give (there lang sits on the
    * quasi-identifier side). */
  val x197 = query("x197_l_diversity",
    // Replays lDiversityProfile over the (source, 500-char bucket) QI
    // tuple: one grouped count + count distinct, both verdicts inline.
    """WITH b AS (SELECT source, CAST(n_chars AS BIGINT) // 500 AS len_bucket,
      |                  lang FROM documents)
      |SELECT source, CAST(len_bucket AS BIGINT) AS len_bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS l_div,
      |       count(*) >= 5 AS k_anonymous,
      |       count(DISTINCT lang) >= 2 AS l_diverse
      |FROM b GROUP BY source, len_bucket
      |ORDER BY source, len_bucket""".stripMargin) { (s, dir) =>
    Profile.lDiversityProfile(
      docs(s, dir).select(col("source"),
        expr("CAST(n_chars AS BIGINT) div 500").as("len_bucket"), col("lang")),
      Seq("source", "len_bucket"), "lang", k = 5L, l = 2L)
  }

  /** x198 multi-touch conversion attribution — see
    * [[graft.operators.Sequences.multiTouchAttribution]]: last-touch
    * and floor-exact linear credit over each purchase's 7-day
    * preceding touch window — the channel-credit read beside x99's
    * time-to-convert and q43's funnel. */
  val x198 = query("x198_attribution",
    // Replays multiTouchAttribution: user-keyed 7-day strictly-
    // preceding touch window, max-struct last touch (ts, id ties),
    // floor-division linear split per conversion.
    """WITH conv AS (SELECT user_id AS u, event_id AS cid, ts AS cts
      |              FROM events WHERE event_type = 'purchase'),
      |tch AS (SELECT user_id AS u, event_id AS tid, ts AS tts,
      |               event_type AS tk
      |        FROM events WHERE event_type <> 'purchase'),
      |pr AS (SELECT c.cid, t.tid, t.tts, t.tk
      |       FROM tch t JOIN conv c ON c.u = t.u
      |        AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
      |per AS (SELECT cid, CAST(count(*) AS BIGINT) AS nt,
      |               max(struct_pack(ts := tts, id := tid, t := tk)) AS lst
      |        FROM pr GROUP BY cid),
      |bt AS (SELECT cid, tk, CAST(count(*) AS BIGINT) AS cnt
      |       FROM pr GROUP BY cid, tk),
      |lin AS (SELECT bt.tk, CAST(sum(cnt) AS BIGINT) AS n_touches,
      |               CAST(sum(cnt * (1000000 // nt)) AS BIGINT)
      |                 AS linear_credit_micro
      |        FROM bt JOIN per USING (cid) GROUP BY bt.tk),
      |lt AS (SELECT lst.t AS tk, CAST(count(*) AS BIGINT)
      |         AS last_touch_convs FROM per GROUP BY lst.t)
      |SELECT lin.tk AS event_type, n_touches,
      |       coalesce(lt.last_touch_convs, 0) AS last_touch_convs,
      |       linear_credit_micro
      |FROM lin LEFT JOIN lt USING (tk) ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.multiTouchAttribution(
      Tables.load(s, dir, "events"))
  }

  /** x199 join-skew salt advisor — see
    * [[graft.operators.Layout.saltAdvisor]]: per-user-id frequencies
    * with ⌈n/target⌉ salt factors at a 50-row/task target — the
    * quantified salting plan beside x172's broadcast advisor and
    * x110's shard assignment. */
  val x199 = query("x199_salt_advisor",
    // Replays saltAdvisor over user_id at target 50: grouped counts,
    // ceil-division salt factors, (n desc, key) top-20 cut.
    """SELECT CAST(user_id AS VARCHAR) AS key,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST((count(*) + 49) // 50 AS BIGINT) AS salt_factor,
      |       count(*) > 50 AS skewed
      |FROM events GROUP BY user_id
      |ORDER BY n DESC, key LIMIT 20""".stripMargin) { (s, dir) =>
    graft.operators.Layout.saltAdvisor(
      Tables.load(s, dir, "events"), "user_id",
      targetPerTask = 50L, topN = 20)
  }

  /** x200 weekday seasonality — see
    * [[graft.operators.Sequences.weekdaySeasonality]]: per-type ISO
    * day-of-week profile over the dense day spine with per-cell
    * chi-square contributions against the uniform-rate null — the
    * weekly-periodicity read beside x135's CUSUM. */
  val x200 = query("x200_weekday_seasonality",
    // Replays weekdaySeasonality: the x135 dense day spine, ISO
    // weekday collapse, integer-exact (o·D − T·d)²/(D·T·d) cells
    // quantized once to micro.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                      CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, isodow(sp.day) AS dow, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |pd AS (SELECT t, dow, CAST(count(*) AS BIGINT) AS dw,
      |              CAST(sum(x) AS BIGINT) AS o
      |       FROM dense GROUP BY 1, 2),
      |tot AS (SELECT t, CAST(sum(dw) AS BIGINT) AS dd,
      |               CAST(sum(o) AS BIGINT) AS tt
      |        FROM pd GROUP BY 1)
      |SELECT pd.t AS event_type, CAST(pd.dow AS INT) AS isodow,
      |       dw AS n_days, o AS n_events,
      |       CAST(tt * dw * 1000000 // dd AS BIGINT) AS expected_micro,
      |       CAST(round((o * dd - tt * dw)::DOUBLE * (o * dd - tt * dw)::DOUBLE
      |            * 1000000.0 / (dd::DOUBLE * tt::DOUBLE * dw::DOUBLE))
      |         AS BIGINT) AS chi2_micro
      |FROM pd JOIN tot USING (t) WHERE tt > 0
      |ORDER BY event_type, isodow""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.weekdaySeasonality(
      Tables.load(s, dir, "events"))
  }

  /** x201 int8 quantization distortion — see
    * [[graft.operators.Similarity.quantizationDistortion]]: per-label
    * pico-exact reconstruction error and saturation counts under the
    * symmetric int8 storage format — the direct distortion view
    * beside x192's retrieval-impact view. */
  val x201 = query("x201_quantization_distortion",
    // Replays quantizationDistortion: the x192 int8 replay (same mx
    // and floor(x*(127/mx)+0.5) op order), per-cell err^2 quantized
    // once to pico, integer-summed per vector then per label.
    """WITH b AS (SELECT label, vec_id AS id, embedding::DOUBLE[] AS v,
      |             list_max(list_transform(embedding::DOUBLE[],
      |               y -> abs(y))) AS mx
      |           FROM embeddings WHERE len(embedding) = 64),
      |c AS (SELECT label, id, mx, v,
      |        list_transform(v, x -> GREATEST(-127.0, LEAST(127.0,
      |          floor(x * (127.0 / mx) + 0.5)))) AS q
      |      FROM b WHERE mx > 0),
      |e AS (SELECT label, id,
      |        v[g.d + 1] - q[g.d + 1] * (mx / 127.0) AS err,
      |        CASE WHEN abs(q[g.d + 1]) = 127.0 THEN 1 ELSE 0 END AS sat
      |      FROM c, (SELECT unnest(range(0, 64)) AS d) g),
      |pv AS (SELECT label, id,
      |         CAST(sum(CAST(round(err * err * 1000000000000.0) AS BIGINT))
      |           AS BIGINT) AS ve,
      |         CAST(sum(sat) AS BIGINT) AS vs
      |       FROM e GROUP BY label, id)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
      |       CAST(sum(ve) AS BIGINT) AS err_pico_sum,
      |       CAST(max(ve) AS BIGINT) AS max_vec_err_pico,
      |       CAST(sum(vs) AS BIGINT) AS n_saturated
      |FROM pv GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    Similarity.quantizationDistortion(emb(s, dir))
  }

  /** x202 Markov stationary distribution — see
    * [[graft.operators.Sequences.markovStationary]]: 10 integer-exact
    * power-iteration rounds over the event-type transition chain —
    * the steady-state occupancy read beside the one-step transition
    * matrix. */
  val x202 = query("x202_markov_stationary",
    // Replays markovStationary: the transition count frame once, then
    // 10 unrolled power-iteration CTEs — (pi*n) div tot shipped per
    // edge, integer-summed at dst, sinks coalesce to drained mass.
    {
      val iters = 10
      val rounds = (1 to iters).map { k =>
        val prev = s"p${k - 1}"
        s"""r$k AS (SELECT e.dst AS state,
           |          CAST(sum((p.pi * e.n) // e.tot) AS BIGINT) AS pi
           |        FROM eg e JOIN $prev p ON p.state = e.src GROUP BY 1),
           |p$k AS (SELECT s.state, coalesce(r$k.pi, 0) AS pi
           |        FROM st s LEFT JOIN r$k ON r$k.state = s.state)""".stripMargin
      }.mkString(",\n")
      s"""WITH sq AS (SELECT user_id, event_type, ts, event_id,
         |              lag(event_type) OVER (PARTITION BY user_id
         |                ORDER BY ts, event_id) AS prev
         |            FROM events),
         |tr AS (SELECT prev AS src, event_type AS dst,
         |               CAST(count(*) AS BIGINT) AS n
         |        FROM sq WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM tr GROUP BY 1),
         |eg AS (SELECT tr.src, tr.dst, tr.n, tt.tot FROM tr JOIN tt USING (src)),
         |st AS (SELECT DISTINCT state FROM (
         |         SELECT src AS state FROM eg
         |         UNION ALL SELECT dst AS state FROM eg) u),
         |p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS pi FROM st),
         |$rounds
         |SELECT state AS event_type, CAST(pi AS BIGINT) AS pi_micro
         |FROM p$iters ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
    graft.operators.Sequences.markovStationary(
      Tables.load(s, dir, "events"), iters = 10)
  }

  /** x203 content-defined chunk dedup — see
    * [[graft.operators.Dedup.cdcChunkDedup]]: md5-60 boundary-hashed
    * chunking (mod 8) with corpus-wide chunk-reuse counts per source
    * — the below-document-granularity duplication read beside the
    * x01-x05 document-level family. */
  val x203 = query("x203_cdc_chunks",
    // Replays cdcChunkDedup: per-token md5-60 boundary flags (mod 8),
    // chunk index = prefix sum of earlier boundaries per doc, chunk
    // hash = md5 of the ordered space-joined span, corpus-frequency
    // join, per-source rollup.
    s"""WITH tk AS (SELECT source AS grp, doc_id AS id, ws FROM (
       |             SELECT source, doc_id, ${wordsSql("text")} AS ws
       |             FROM documents) z WHERE len(ws) >= 1),
       |px AS (SELECT grp, id, CAST(i AS BIGINT) AS p, ws[CAST(i AS INT)] AS w,
       |         CASE WHEN ${md5Hash60Sql("ws[CAST(i AS INT)]")} % 8 = 0
       |           THEN 1 ELSE 0 END AS b
       |       FROM (SELECT grp, id, ws,
       |               unnest(range(1, len(ws) + 1)) AS i FROM tk) y),
       |cks AS (SELECT grp, id, p, w,
       |          CAST(coalesce(SUM(b) OVER (PARTITION BY id ORDER BY p
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            AS BIGINT) AS ck
       |        FROM px),
       |chs AS (SELECT grp, id, ck, CAST(count(*) AS BIGINT) AS n_toks,
       |          md5(string_agg(w, ' ' ORDER BY p)) AS h
       |        FROM cks GROUP BY grp, id, ck),
       |fr AS (SELECT h, CAST(count(*) AS BIGINT) AS cf FROM chs GROUP BY 1),
       |ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_chunks,
       |          CAST(sum(CASE WHEN cf > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |            AS n_dup_chunks,
       |          CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |        FROM chs JOIN fr USING (h) GROUP BY grp)
       |SELECT grp AS source, n_chunks, n_dup_chunks, n_tokens,
       |       CAST(n_dup_chunks * 1000000 // n_chunks AS BIGINT)
       |         AS dup_ratio_micro,
       |       CAST(n_tokens * 1000000 // n_chunks AS BIGINT)
       |         AS mean_tokens_micro
       |FROM ag ORDER BY source""".stripMargin) { (s, dir) =>
    Dedup.cdcChunkDedup(docs(s, dir), modulus = 8)
  }

  /** x204 IDF-weighted SimHash near-dup — see
    * [[graft.operators.Dedup.idfSimhashNearDup]]: tf·idf-weighted bit
    * votes over portable md5-60 token hashes, pigeonhole-exact
    * 4-chunk banding at Hamming ≤ 3 — the boilerplate-robust
    * signature beside x03's tf-only votes. */
  val x204 = query("x204_idf_simhash",
    // Replays idfSimhashNearDup: the x03 structure with tf·idf vote
    // weights (idf micro-quantized once, the x153 idiom) and an exact
    // all-pairs Hamming ≤ 3 verify (the engine's banding is
    // pigeonhole-exact at 4 chunks, so the pair sets agree).
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${wordsSql("text")}) AS w FROM documents),
       |wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY doc_id, w),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |idf AS (SELECT w, CAST(round(round(ln((nd.n::DOUBLE + 1.0) /
       |            (count(*)::DOUBLE + 1.0)), 6) * 1000000.0) AS BIGINT)
       |            AS idf
       |        FROM wc CROSS JOIN nd GROUP BY w, nd.n),
       |hv AS (SELECT wc.doc_id, ${md5Hash60Sql("wc.w")} AS hv,
       |              wc.tf * idf.idf AS c
       |       FROM wc JOIN idf ON idf.w = wc.w),
       |sk AS (SELECT doc_id, $simhashBitsSql AS sk FROM hv GROUP BY doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.sk, b.sk)) AS INT) AS hamming
       |  FROM sk a JOIN sk b ON a.doc_id < b.doc_id) t
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.idfSimhashNearDup(docs(s, dir), "doc_id", "text",
        maxHamming = 3, chunks = 4)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x205 exact per-source length quantiles — see
    * [[graft.operators.Profile.exactQuantilesByGroup]]: P25/P50/P75/
    * P90/P99 of n_chars per source via the guarded value-histogram
    * collapse — percentile_disc semantics with no per-group sort,
    * the exact table x30's corpus percentile and x120's equi-depth
    * histogram bracket. */
  val x205 = query("x205_length_quantiles",
    // Replays exactQuantilesByGroup: per-(source, n_chars) histogram,
    // grouped cumulative window, percentile_disc rank rule as the
    // integer comparison p·n ≤ 100·cum, min-v per percent.
    """WITH hist AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
      |                     CAST(count(*) AS BIGINT) AS n_v
      |              FROM documents WHERE n_chars IS NOT NULL
      |              GROUP BY 1, 2),
      |tot AS (SELECT grp, CAST(sum(n_v) AS BIGINT) AS n FROM hist GROUP BY 1),
      |cum AS (SELECT grp, v, CAST(SUM(n_v) OVER (PARTITION BY grp ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS cum
      |        FROM hist),
      |qq AS (SELECT c.grp, pp.p, CAST(min(c.v) AS BIGINT) AS q
      |       FROM cum c JOIN tot t USING (grp)
      |       CROSS JOIN (SELECT unnest([25, 50, 75, 90, 99]) AS p) pp
      |       WHERE pp.p * t.n <= 100 * c.cum GROUP BY 1, 2)
      |SELECT t.grp AS source, t.n,
      |       max(CASE WHEN p = 25 THEN q END) AS p25,
      |       max(CASE WHEN p = 50 THEN q END) AS p50,
      |       max(CASE WHEN p = 75 THEN q END) AS p75,
      |       max(CASE WHEN p = 90 THEN q END) AS p90,
      |       max(CASE WHEN p = 99 THEN q END) AS p99
      |FROM qq JOIN tot t USING (grp)
      |GROUP BY t.grp, t.n ORDER BY source""".stripMargin) { (s, dir) =>
    Profile.exactQuantilesByGroup(docs(s, dir), "n_chars", "source",
      Seq(25, 50, 75, 90, 99))
  }

  /** x206 sub-document split leakage — see
    * [[graft.operators.Dedup.chunkSplitLeakage]]: CDC chunks (mod 8)
    * crossed with the standard md5-60 document split — the share of
    * each split's chunks and tokens whose content also appears in
    * another split, the below-document leakage x174/x70's
    * document-level audits cannot see. */
  val x206 = query("x206_chunk_split_leakage",
    // Replays chunkSplitLeakage: the x203 chunk CTEs with the x30
    // md5-60 split bucket as the chunk group, spread = distinct splits
    // per chunk hash, leaked = spread >= 2.
    s"""WITH tk AS (SELECT CASE WHEN b < 80 THEN 'train'
       |                        WHEN b < 90 THEN 'val'
       |                        ELSE 'test' END AS grp,
       |                   doc_id AS id, ws
       |            FROM (SELECT doc_id,
       |                    ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS b,
       |                    ${wordsSql("text")} AS ws
       |                  FROM documents) z WHERE len(ws) >= 1),
       |px AS (SELECT grp, id, CAST(i AS BIGINT) AS p, ws[CAST(i AS INT)] AS w,
       |         CASE WHEN ${md5Hash60Sql("ws[CAST(i AS INT)]")} % 8 = 0
       |           THEN 1 ELSE 0 END AS b
       |       FROM (SELECT grp, id, ws,
       |               unnest(range(1, len(ws) + 1)) AS i FROM tk) y),
       |cks AS (SELECT grp, id, p, w,
       |          CAST(coalesce(SUM(b) OVER (PARTITION BY id ORDER BY p
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |            AS BIGINT) AS ck
       |        FROM px),
       |chs AS (SELECT grp, id, ck, CAST(count(*) AS BIGINT) AS n_toks,
       |          md5(string_agg(w, ' ' ORDER BY p)) AS h
       |        FROM cks GROUP BY grp, id, ck),
       |sp AS (SELECT h, CAST(count(DISTINCT grp) AS BIGINT) AS ns
       |       FROM chs GROUP BY 1),
       |ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_chunks,
       |          CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |            AS n_leaked,
       |          CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |          CAST(sum(CASE WHEN ns > 1 THEN n_toks ELSE 0 END) AS BIGINT)
       |            AS leaked_tokens
       |        FROM chs JOIN sp USING (h) GROUP BY grp)
       |SELECT grp AS split, n_chunks, n_leaked, n_tokens, leaked_tokens,
       |       CAST(n_leaked * 1000000 // n_chunks AS BIGINT)
       |         AS leak_ratio_micro,
       |       CAST(leaked_tokens * 1000000 // n_tokens AS BIGINT)
       |         AS leaked_token_micro
       |FROM ag ORDER BY split""".stripMargin) { (s, dir) =>
    Dedup.chunkSplitLeakage(docs(s, dir), modulus = 8)
  }

  /** x207 join-size advisor — see
    * [[graft.operators.Layout.joinSizeAdvisor]]: the exact predicted
    * cardinality and top contributing keys of the lineitem⋈lineitem
    * self-join on part key, from two key histograms and a
    * histogram-sized join — the explosion forecast consulted before
    * x18's salting or x172's broadcast call. */
  val x207 = query("x207_join_size_advisor",
    // Replays joinSizeAdvisor on the lineitem part-key self-join: the
    // per-key histogram squared, exact total, (contrib desc, key)
    // top-10.
    """WITH h AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
      |                  CAST(count(*) AS BIGINT) AS n
      |           FROM lineitem GROUP BY 1),
      |c AS (SELECT key, n AS n_left, n AS n_right,
      |             CAST(n * n AS BIGINT) AS contrib FROM h),
      |t AS (SELECT CAST(coalesce(sum(contrib), 0) AS BIGINT)
      |        AS total_rows FROM c)
      |SELECT key, n_left, n_right, contrib, total_rows,
      |       CAST(contrib * 1000000 // total_rows AS BIGINT) AS share_micro
      |FROM c CROSS JOIN t ORDER BY contrib DESC, key LIMIT 10""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("pk"))
    graft.operators.Layout.joinSizeAdvisor(li, li, "pk", topN = 10)
  }

  /** x208 bigram conditional entropy — see
    * [[graft.operators.TextAnalysis.bigramConditionalEntropy]]:
    * per-source H(w₂|w₁) in micro-nats over the word process — the
    * predictability/diversity read beside x138's repetition fractions
    * and x142's character entropy. */
  val x208 = query("x208_bigram_entropy",
    // Replays bigramConditionalEntropy: per-(source, w1, w2) counts,
    // left-context sums off the same histogram, ln(c12/c1) quantized
    // once per cell, integer-weighted sum, one floor division.
    s"""WITH pb AS (SELECT source AS grp, ws FROM (
       |             SELECT source, ${wordsSql("text")} AS ws
       |             FROM documents) z WHERE len(ws) >= 2),
       |pr AS (SELECT grp, ws[CAST(i AS INT)] AS w1,
       |              ws[CAST(i + 1 AS INT)] AS w2
       |       FROM (SELECT grp, ws, unnest(range(1, len(ws))) AS i
       |             FROM pb) y),
       |c12 AS (SELECT grp, w1, w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM pr GROUP BY 1, 2, 3),
       |c1 AS (SELECT grp, w1, CAST(sum(c12) AS BIGINT) AS c1
       |       FROM c12 GROUP BY 1, 2),
       |cells AS (SELECT c12.grp, c12.c12,
       |            CAST(round(round(ln(c12.c12::DOUBLE / c1.c1::DOUBLE), 6)
       |              * 1000000.0) AS BIGINT) AS lnq
       |          FROM c12 JOIN c1 USING (grp, w1))
       |SELECT grp AS source, CAST(sum(c12) AS BIGINT) AS n_bigrams,
       |       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       |       CAST(-(sum(c12 * lnq) // sum(c12)) AS BIGINT) AS h_cond_micro
       |FROM cells GROUP BY grp ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.bigramConditionalEntropy(docs(s, dir))
  }

  /** x209 BPE encode under a fixed merge table — see
    * [[graft.operators.TextAnalysis.bpeEncode]]: induce the x195
    * 6-round merge table, then ENCODE the corpus through the
    * merge-table replay path (broadcast-joined round slices, never a
    * driver collect) and roll per-source token totals up, splitting
    * out merged (multi-char) tokens. For text the induction saw, the
    * replay is bit-identical to the induction's final vocab state —
    * which is exactly what the oracle pins; the operator's value is
    * that the merges frame can come from ANYWHERE (a prior run, a
    * stream checkpoint), decoupling tokenizer training from use. */
  val x209 = query("x209_bpe_encode",
    // Replays bpeEncode under the x195 merges: for corpus text the
    // merge-table replay is bit-identical to the induction's final v6
    // vocab state (same greedy kernel, same round order), so the
    // oracle encodes via v6 directly — x196's rollup plus the
    // merged-token split len(filter(syms, len ≥ 2)).
    s"""WITH ${bpeCtesSql(6)},
       |tp AS (SELECT wid, CAST(len(syms) AS BIGINT) AS t,
       |              CAST(len(list_filter(syms, s -> len(s) >= 2))
       |                AS BIGINT) AS mt
       |       FROM v6),
       |dx AS (SELECT source AS grp, w FROM (
       |         SELECT source, unnest(${wordsSql("text")}) AS w
       |         FROM documents) z WHERE len(w) >= 2),
       |ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_words,
       |              CAST(sum(tp.t) AS BIGINT) AS n_tokens,
       |              CAST(sum(tp.mt) AS BIGINT) AS n_merged_tokens
       |       FROM dx JOIN tp ON tp.wid = dx.w GROUP BY grp)
       |SELECT grp AS source, n_words, n_tokens, n_merged_tokens,
       |       CAST(n_tokens * 1000000 // n_words AS BIGINT)
       |         AS fertility_micro
       |FROM ag ORDER BY source""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    bpeEncodeRollup(d, TextAnalysis.bpeInduction(d, 6))
  }

  /** The x209/x271 shared serve path: encode the corpus through a
    * merge table (trained in-memory OR snapshot-served — the point of
    * the split) and roll per-source token totals up. */
  private def bpeEncodeRollup(d: DataFrame,
      merges: DataFrame): DataFrame = {
    val enc = TextAnalysis.bpeEncode(d, merges, 6)
    val perWord = enc.select(col("wid").as("__w"),
      size(col("syms")).cast("long").as("__t"),
      expr("CAST(size(filter(syms, s -> length(s) >= 2)) AS BIGINT)")
        .as("__mt"))
    d.select(col("source").as("grp"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .join(perWord, Seq("__w"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("bigint").as("n_words"),
        sum(col("__t")).cast("bigint").as("n_tokens"),
        sum(col("__mt")).cast("bigint").as("n_merged_tokens"))
      .select(col("grp").as("source"), col("n_words"), col("n_tokens"),
        col("n_merged_tokens"),
        expr("n_tokens * 1000000L div n_words").as("fertility_micro"))
      .orderBy(col("source"))
  }

  /** x210 Gini token concentration — see
    * [[graft.operators.Profile.giniByGroup]]: exact Lorenz-identity
    * Gini over each source's per-document token counts, read off the
    * (source, count) histogram with one bounded cumulative window —
    * the inequality read beside x66's top-k share and x110's Simpson
    * diversity. */
  val x210 = query("x210_gini_concentration",
    // Replays giniByGroup over per-doc token counts: histogram,
    // exclusive cumulative window, the division-free doubled rank-sum
    // identity 2S = Σ v·c·(2·cb + c + 1) in HUGEINT.
    s"""WITH tc AS (SELECT source AS grp,
       |             CAST(len(${wordsSql("text")}) AS BIGINT) AS v
       |            FROM documents),
       |hist AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
       |         FROM tc GROUP BY 1, 2),
       |cum AS (SELECT grp, v, c,
       |          coalesce(SUM(c) OVER (PARTITION BY grp ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |            0) AS cb
       |        FROM hist),
       |ag AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n,
       |         CAST(sum(v::HUGEINT * c::HUGEINT) AS HUGEINT) AS t,
       |         CAST(sum(v::HUGEINT * c::HUGEINT *
       |           (2 * cb::HUGEINT + c::HUGEINT + 1)) AS HUGEINT) AS s2
       |       FROM cum GROUP BY grp)
       |SELECT grp AS source, n, CAST(t AS BIGINT) AS total,
       |       CAST((s2 - (n::HUGEINT + 1) * t) * 1000000
       |         // (n::HUGEINT * t) AS BIGINT) AS gini_micro
       |FROM ag WHERE t > 0 ORDER BY source""".stripMargin) { (s, dir) =>
    Profile.giniByGroup(
      docs(s, dir).select(col("source"),
        size(graft.functions.TextFunctions.words(col("text")))
          .cast("long").as("n_tokens")),
      "n_tokens", "source")
  }

  /** x211 near-dup cluster size spectrum — see
    * [[graft.operators.Dedup.clusterSizeProfile]]: the size
    * DISTRIBUTION of the x28 connected components plus unpaired
    * singletons — whether duplication is a pair tail or a few
    * mega-clusters, the shape read that picks between threshold
    * tuning and hot-cluster capping. */
  val x211 = query("x211_cluster_sizes",
    // Replays clusterSizeProfile over the x28 recursive-CC clusters:
    // size histogram + unpaired singletons as size-1 clusters.
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id
       |       FROM reach GROUP BY node),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM cl GROUP BY 1),
       |spec0 AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |          FROM sz GROUP BY 1),
       |single AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
       |             CAST(count(*) AS BIGINT) AS n_clusters
       |           FROM documents
       |           WHERE doc_id NOT IN (SELECT doc_id FROM cl)
       |           HAVING count(*) > 0),
       |spec AS (SELECT cluster_size,
       |           CAST(sum(n_clusters) AS BIGINT) AS n_clusters
       |         FROM (SELECT * FROM spec0
       |               UNION ALL SELECT * FROM single) z
       |         GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents)
       |SELECT cluster_size, n_clusters,
       |       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       |       CAST(cluster_size * n_clusters * 1000000 // t AS BIGINT)
       |         AS doc_share_micro
       |FROM spec, tot ORDER BY cluster_size""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.clusterSizeProfile(d, Dedup.connectedComponents(
      Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)))
  }

  /** x212 covariance spectrum — see
    * [[graft.operators.Similarity.covarianceSpectrum]]: the share of
    * total embedding variance on the dominant principal direction,
    * by exact integer power iteration (8 rounds) over the micro-
    * quantized n-scaled covariance — the space-collapse health check
    * beside x187's mean-direction anisotropy, and the whitening
    * trigger for IVF/PQ indexing. */
  val x212 = query("x212_covariance_spectrum",
    // Replays covarianceSpectrum: micro-quantized elements, n-scaled
    // covariance in HUGEINT, matrix renormalized by max |cell|, eight
    // multiply-renormalize rounds as chained CTEs (every division is
    // // — truncation parity with Spark's div on decimals), Rayleigh
    // share in ONE truncating division.
    s"""WITH $covarianceIterationCteSql,
       |y9 AS (SELECT cm.i, CAST(sum(cm.v::HUGEINT * x.x) AS HUGEINT) AS y
       |       FROM cm JOIN x8 x ON x.i = cm.j GROUP BY 1),
       |ray AS (SELECT CAST(sum(y9.y * x.x) AS HUGEINT) AS num,
       |               CAST(sum(x.x * x.x) AS HUGEINT) AS den
       |        FROM y9 JOIN x8 x USING (i)),
       |tr AS (SELECT CAST(sum(v) AS HUGEINT) AS t FROM cm WHERE i = j),
       |top AS (SELECT CAST(i AS BIGINT) AS top_dim FROM x8
       |        ORDER BY abs(x) DESC, i LIMIT 1)
       |SELECT nn.n_vecs, top.top_dim,
       |       CAST(num * 1000000 // (den * t) AS BIGINT)
       |         AS top_eig_share_micro
       |FROM nn, top, ray, tr WHERE t > 0 AND den > 0""".stripMargin) { (s, dir) =>
    Similarity.covarianceSpectrum(Tables.load(s, dir, "embeddings"))
  }

  /** x213 daily linear interpolation — see
    * [[graft.operators.Sequences.interpolateDaily]]: straight-line
    * repair of interior daily gaps per event type, floor-exact in
    * integer cents over the bounded day spine. */
  val x213 = query("x213_daily_interpolation",
    // Replays interpolateDaily: x200's dense day spine, last/first
    // IGNORE NULLS neighbor windows, truncating straight-line fill.
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                CAST(sum(CAST(round(value * 100.0) AS BIGINT))
      |                  AS BIGINT) AS v
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, d.v FROM spine sp
      |          LEFT JOIN daily d ON d.t = sp.t AND d.day = sp.day),
      |w AS (SELECT t, day, v,
      |        last_value(v IGNORE NULLS) OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
      |        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      |          OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
      |        first_value(v IGNORE NULLS) OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
      |        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
      |          OVER (PARTITION BY t ORDER BY day
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
      |      FROM dense)
      |SELECT t AS event_type, CAST(day AS STRING) AS day,
      |       CAST(CASE WHEN v IS NOT NULL THEN v
      |            WHEN vp IS NOT NULL AND vn IS NOT NULL THEN
      |              vp + (vn - vp) * date_diff('day', dp, day)
      |                // date_diff('day', dp, dn)
      |            ELSE coalesce(vp, vn) END AS BIGINT) AS v_cents,
      |       v IS NULL AS interpolated
      |FROM w ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.interpolateDaily(Tables.load(s, dir, "events"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("v_cents"), col("interpolated"))
  }

  /** x214 contribution-capping curve — see
    * [[graft.operators.Profile.contributionCapping]]: what clipping
    * each (user, day) to k events costs, per candidate cap — the
    * DP-prep sensitivity audit beside x157's k-anonymity and x197's
    * l-diversity. */
  val x214 = query("x214_contribution_capping",
    // Replays contributionCapping: (user, day) units, greatest-based
    // clip losses, one row per cap off the unnested cap list.
    """WITH u AS (SELECT user_id, CAST(ts AS DATE) AS d,
      |             CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM u),
      |x AS (SELECT c, unnest([1, 2, 5, 10, 20, 50]) AS cap FROM u)
      |SELECT CAST(cap AS BIGINT) AS cap,
      |       CAST(count(*) AS BIGINT) AS n_units,
      |       CAST(sum(CASE WHEN c > cap THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_units_clipped,
      |       CAST(sum(greatest(c - cap, 0)) AS BIGINT) AS events_lost,
      |       CAST(sum(greatest(c - cap, 0)) * 1000000 // tot AS BIGINT)
      |         AS loss_micro
      |FROM x, t GROUP BY cap, tot ORDER BY cap""".stripMargin) { (s, dir) =>
    Profile.contributionCapping(Tables.load(s, dir, "events"),
      Seq(1, 2, 5, 10, 20, 50))
  }

  /** x215 hapax vocabulary profile — see
    * [[graft.operators.TextAnalysis.hapaxProfile]]: per-source
    * hapax-legomenon share and type-token ratio — the rare-tail point
    * read beside x152's Heaps curve and x164's exclusive vocab. */
  val x215 = query("x215_hapax_profile",
    // Replays hapaxProfile: one (source, word) term-frequency
    // histogram, per-source rollup with the c = 1 hapax split.
    s"""WITH tf AS (SELECT grp, w, CAST(count(*) AS BIGINT) AS c FROM (
       |  SELECT source AS grp, unnest(${wordsSql("text")}) AS w
       |  FROM documents) z GROUP BY 1, 2)
       |SELECT grp AS source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS vocab,
       |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS hapax,
       |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
       |         // count(*) AS BIGINT) AS hapax_share_micro,
       |       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_micro
       |FROM tf GROUP BY grp ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.hapaxProfile(docs(s, dir))
  }

  /** x216 join-order advisor — see
    * [[graft.operators.Layout.joinOrderAdvisor]]: exact intermediate-
    * size forecasts for the three orders of a supplier-scoped 3-way
    * equi-join (lineitem × supplier × returned-lineitem on suppkey),
    * from key histograms only — the x207 forecast loop extended to
    * the optimizer's order decision. */
  val x216 = query("x216_join_order_advisor",
    // Replays joinOrderAdvisor on (lineitem, supplier, returned
    // lineitem) suppkey histograms: pairwise intermediate forecasts,
    // shared final size, smallest-intermediate winner.
    """WITH ha AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
      |              CAST(count(*) AS HUGEINT) AS n
      |            FROM lineitem GROUP BY 1),
      |hb AS (SELECT CAST(s_suppkey AS VARCHAR) AS key,
      |         CAST(count(*) AS HUGEINT) AS n FROM supplier GROUP BY 1),
      |hc AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
      |         CAST(count(*) AS HUGEINT) AS n
      |       FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      |h AS (SELECT coalesce(ha.n, 0) AS na, coalesce(hb.n, 0) AS nb,
      |             coalesce(hc.n, 0) AS nc
      |      FROM ha FULL OUTER JOIN hb USING (key)
      |      FULL OUTER JOIN hc USING (key)),
      |s AS (SELECT CAST(sum(na * nb) AS BIGINT) AS ab,
      |             CAST(sum(na * nc) AS BIGINT) AS ac,
      |             CAST(sum(nb * nc) AS BIGINT) AS bc,
      |             CAST(sum(na * nb * nc) AS BIGINT) AS fin FROM h),
      |o AS (SELECT 'ab_then_c' AS join_order, ab AS intermediate_rows,
      |             fin AS final_rows FROM s
      |      UNION ALL SELECT 'ac_then_b', ac, fin FROM s
      |      UNION ALL SELECT 'bc_then_a', bc, fin FROM s),
      |b AS (SELECT join_order AS bo FROM o
      |      ORDER BY intermediate_rows, join_order LIMIT 1)
      |SELECT join_order, intermediate_rows, final_rows,
      |       join_order = b.bo AS best
      |FROM o, b ORDER BY join_order""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    graft.operators.Layout.joinOrderAdvisor(
      li.select(col("l_suppkey").as("k")),
      Tables.load(s, dir, "supplier").select(col("s_suppkey").as("k")),
      li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k")),
      "k")
  }

  /** x217 daily autocorrelation — see
    * [[graft.operators.Sequences.dailyAutocorrelation]]: exact ACF at
    * lags 1 and 7 over each type's zero-filled day spine via the
    * n-scaled deviation identity — burst persistence and weekly
    * rhythm beside x200's fixed-period chi². */
  val x217 = query("x217_daily_autocorrelation",
    // Replays dailyAutocorrelation: dense spine, n-scaled deviations
    // in HUGEINT (the n² cancellation), lead windows per lag, one
    // truncating division per (type, lag).
    """WITH daily AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |                CAST(count(*) AS BIGINT) AS x
      |               FROM events GROUP BY 1, 2),
      |spans AS (SELECT t, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT s.t, CAST(u.d AS DATE) AS day
      |          FROM spans s, LATERAL (
      |            SELECT unnest(generate_series(s.lo::TIMESTAMP,
      |              s.hi::TIMESTAMP, INTERVAL 1 DAY)) AS d) u),
      |dense AS (SELECT sp.t, sp.day, coalesce(d.x, 0) AS x
      |          FROM spine sp LEFT JOIN daily d
      |            ON d.t = sp.t AND d.day = sp.day),
      |tot AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(x) AS BIGINT) AS tt FROM dense GROUP BY 1),
      |dev AS (SELECT d.t, d.day, tot.n,
      |               CAST(tot.n AS HUGEINT) * d.x - tot.tt AS dd
      |        FROM dense d JOIN tot USING (t)),
      |lg AS (SELECT t, n, dd,
      |         lead(dd, 1) OVER (PARTITION BY t ORDER BY day) AS d1,
      |         lead(dd, 7) OVER (PARTITION BY t ORDER BY day) AS d7
      |       FROM dev),
      |ag AS (SELECT t, n, CAST(sum(dd * dd) AS HUGEINT) AS den,
      |              CAST(sum(dd * d1) AS HUGEINT) AS n1,
      |              CAST(sum(dd * d7) AS HUGEINT) AS n7
      |       FROM lg GROUP BY 1, 2)
      |SELECT t AS event_type, CAST(u.lag AS BIGINT) AS lag, n AS n_days,
      |       CAST((CASE WHEN u.lag = 1 THEN n1 ELSE n7 END) * 1000000
      |         // den AS BIGINT) AS acf_micro
      |FROM ag, LATERAL (SELECT unnest([1, 7]) AS lag) u
      |WHERE den > 0
      |  AND (CASE WHEN u.lag = 1 THEN n1 ELSE n7 END) IS NOT NULL
      |ORDER BY event_type, lag""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.dailyAutocorrelation(
      Tables.load(s, dir, "events"), lags = Seq(1, 7))
  }

  /** x218 degree assortativity — see
    * [[graft.operators.Graph.degreeAssortativity]]: Newman's degree
    * correlation over the symmetrized mutual k-NN edges — hub-core
    * (r > 0) vs star topology (r < 0), the graph-shape read beside
    * x80's degrees and x83's clustering. */
  val x218 = query("x218_degree_assortativity",
    // Replays degreeAssortativity on the symmetrized mutual k-NN
    // edges: exact BIGINT moments, ONE double Pearson expression
    // quantized to micro (identical IEEE evaluation both engines).
    s"""WITH ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |sym AS (SELECT u AS src, v AS dst FROM mu
       |        UNION ALL SELECT v, u FROM mu),
       |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
       |        FROM sym GROUP BY 1),
       |mom AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |          CAST(sum(da.deg) AS BIGINT) AS sx,
       |          CAST(sum(db.deg) AS BIGINT) AS sy,
       |          CAST(sum(da.deg * db.deg) AS BIGINT) AS sxy,
       |          CAST(sum(da.deg * da.deg) AS BIGINT) AS sxx,
       |          CAST(sum(db.deg * db.deg) AS BIGINT) AS syy
       |        FROM sym e JOIN deg da ON da.id = e.src
       |                   JOIN deg db ON db.id = e.dst),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT nn.n_nodes, mom.m AS n_directed_edges,
       |       CAST(round(
       |         (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |           * 1000000.0 /
       |         (sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
       |          sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))
       |         AS BIGINT) AS assortativity_micro
       |FROM mom, nn
       |WHERE m * sxx > sx * sx AND m * syy > sy * sy""".stripMargin) { (s, dir) =>
    val mu = graft.operators.Graph.mutualEdges(knnEdges(s, dir))
    graft.operators.Graph.degreeAssortativity(
      mu.select(col("u").as("src"), col("v").as("dst"))
        .union(mu.select(col("v").as("src"), col("u").as("dst"))))
  }

  /** x219 value Pareto curve — see
    * [[graft.operators.Profile.valuePareto]]: share of total event
    * value held by the top 1/5/10/25/50% of users, ties at each cut
    * included — the 80/20 cut points behind x66's concentration and
    * x210's Gini. */
  val x219 = query("x219_value_pareto",
    // Replays valuePareto over per-user value cents: descending
    // histogram cumulative, percentile_disc rank rule inverted,
    // value ties at the cut included.
    """WITH pk AS (SELECT user_id,
      |              CAST(sum(CAST(round(value * 100.0) AS BIGINT))
      |                AS BIGINT) AS kv
      |            FROM events GROUP BY 1),
      |hist AS (SELECT kv, CAST(count(*) AS BIGINT) AS c FROM pk GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |               CAST(sum(kv::HUGEINT * c) AS HUGEINT) AS tv FROM hist),
      |cum AS (SELECT kv, SUM(c) OVER w AS cu,
      |               SUM(kv::HUGEINT * c) OVER w AS cv
      |        FROM hist
      |        WINDOW w AS (ORDER BY kv DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pp AS (SELECT unnest([1, 5, 10, 25, 50]) AS pct),
      |cut AS (SELECT pp.pct, max(kv) AS cutv
      |        FROM cum, pp, tot WHERE pct * n <= 100 * cu GROUP BY pct)
      |SELECT CAST(cut.pct AS BIGINT) AS pct,
      |       CAST(cum.cu AS BIGINT) AS n_top_keys,
      |       CAST(cum.cv AS BIGINT) AS top_value,
      |       CAST(cum.cv * 1000000 // tot.tv AS BIGINT)
      |         AS value_share_micro
      |FROM cut JOIN cum ON cum.kv = cut.cutv, tot
      |WHERE tot.tv > 0 ORDER BY pct""".stripMargin) { (s, dir) =>
    Profile.valuePareto(
      Tables.load(s, dir, "events").select(col("user_id"),
        expr("CAST(round(value * 100.0D) AS BIGINT)").as("v_cents")),
      "user_id", "v_cents", Seq(1, 5, 10, 25, 50))
  }

  /** x220 dup rate by length — see
    * [[graft.operators.Dedup.dupRateByLength]]: near-dup pair
    * incidence per 1000-char length bin — whether the x04 threshold
    * can be uniform or must be length-aware. */
  val x220 = query("x220_dup_by_length",
    // Replays dupRateByLength: the x04 pair relation collapsed to the
    // distinct either-side doc set, fixed 1000-char bins.
    s"""WITH $ngramPairsCteSql,
       |ip AS (SELECT DISTINCT doc_id FROM (
       |         SELECT doc_a AS doc_id FROM pairs
       |         UNION ALL SELECT doc_b FROM pairs) z)
       |SELECT CAST(d.n_chars AS BIGINT) // 1000 AS len_bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN ip.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_in_pairs,
       |       CAST(sum(CASE WHEN ip.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |         * 1000000 // count(*) AS BIGINT) AS dup_rate_micro
       |FROM documents d LEFT JOIN ip ON ip.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY len_bucket""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.dupRateByLength(d, Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2))
  }

  /** x221 document-frequency cap advisor — see
    * [[graft.operators.Dedup.dfCapAdvisor]]: grams/postings survival
    * and exact candidate-pair fan-out per maxDf cap over the word-
    * 3-gram inverted index — the forecast that picks the dedup
    * engine's own posting-list cap. */
  val x221 = query("x221_df_cap_advisor",
    // Replays dfCapAdvisor: distinct (doc, gram) postings, df
    // histogram, one row per cap with the exact surviving fan-out.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(3, distinct = true)} AS g
       |       FROM toks),
       |pg AS (SELECT doc_id, unnest(g) AS gram FROM ng),
       |dfq AS (SELECT gram, CAST(count(*) AS BIGINT) AS df
       |        FROM pg GROUP BY 1),
       |hist AS (SELECT df, CAST(count(*) AS BIGINT) AS m FROM dfq GROUP BY 1),
       |tot AS (SELECT CAST(sum(m) AS BIGINT) AS tg,
       |               CAST(sum(df::HUGEINT * m) AS HUGEINT) AS tp FROM hist),
       |x AS (SELECT df, m, unnest([1, 2, 5, 10, 50]) AS cap FROM hist)
       |SELECT CAST(cap AS BIGINT) AS max_df,
       |       CAST(sum(m) AS BIGINT) AS grams_kept,
       |       CAST(sum(m) * 1000000 // tg AS BIGINT) AS grams_share_micro,
       |       CAST(sum(df::HUGEINT * m) AS BIGINT) AS postings_kept,
       |       CAST(sum(df::HUGEINT * m) * 1000000 // tp AS BIGINT)
       |         AS postings_share_micro,
       |       CAST(sum(df::HUGEINT * (df - 1) * m) // 2 AS BIGINT)
       |         AS pair_fanout
       |FROM x, tot WHERE df <= cap
       |GROUP BY cap, tg, tp ORDER BY max_df""".stripMargin) { (s, dir) =>
    Dedup.dfCapAdvisor(docs(s, dir), n = 3, caps = Seq(1, 2, 5, 10, 50))
  }

  /** x222 cross-language near-dup matrix — see
    * [[graft.operators.Dedup.crossLangDup]]: the x04 pair relation
    * bucketed by normalized endpoint languages — translation mirrors
    * and lang-ID noise on the off-diagonal. */
  val x222 = query("x222_cross_lang_dup",
    // Replays crossLangDup: x04 pairs joined to endpoint languages,
    // least/greatest-normalized matrix cells.
    s"""WITH $ngramPairsCteSql,
       |lp AS (SELECT least(la.lang, lb.lang) AS lang_a,
       |              greatest(la.lang, lb.lang) AS lang_b
       |       FROM pairs p
       |       JOIN documents la ON la.doc_id = p.doc_a
       |       JOIN documents lb ON lb.doc_id = p.doc_b)
       |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |       lang_a <> lang_b AS cross_lang
       |FROM lp GROUP BY 1, 2 ORDER BY lang_a, lang_b""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.crossLangDup(d, Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2))
  }

  /** x223 partition-count advisor — see
    * [[graft.operators.Layout.partitionCountAdvisor]]: the output
    * partition count that lands documents near the 128 MB parquet
    * target, from a per-row byte estimate (text chars + 64 B row
    * overhead) — the write-side sibling of x158/x199/x130. */
  val x223 = query("x223_partition_advisor",
    // Replays partitionCountAdvisor: one aggregation, ceiling
    // division to the 128 MB target, floor 1.
    """WITH ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |              CAST(coalesce(sum(CAST(n_chars AS BIGINT) + 64), 0)
      |                AS BIGINT) AS est_bytes
      |            FROM documents)
      |SELECT n_rows, est_bytes,
      |       CAST(134217728 AS BIGINT) AS target_partition_bytes,
      |       CAST(greatest((est_bytes + 134217727) // 134217728, 1)
      |         AS BIGINT) AS recommended_partitions,
      |       CAST(n_rows // greatest((est_bytes + 134217727) // 134217728,
      |         1) AS BIGINT) AS rows_per_partition
      |FROM ag""".stripMargin) { (s, dir) =>
    graft.operators.Layout.partitionCountAdvisor(
      docs(s, dir), "CAST(n_chars AS BIGINT) + 64L")
  }

  /** x224 banding precision audit — see
    * [[graft.operators.Dedup.candidatePrecision]]: of the candidate
    * pairs the bottom-8 md5-60 banding generates, the share surviving
    * verification at 0.2 / 0.5 / 0.8 — the empirical precision side
    * of the near-dup engine's analytic recall bound. */
  val x224 = query("x224_banding_precision",
    // Replays candidatePrecision: md5-60 word-3-gram hashes (the
    // portable sketch), bottom-8 prefix buckets, distinct candidates,
    // 6-dp hash-set Jaccard, one row per verification threshold.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(3, distinct = false)} AS g
       |       FROM toks),
       |hs AS (SELECT doc_id,
       |         list_sort(list_distinct(list_transform(g,
       |           x -> ${md5Hash60Sql("x")}))) AS h
       |       FROM ng WHERE len(g) > 0),
       |pf AS (SELECT doc_id, unnest(h[1:8]) AS ph FROM hs),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pf a JOIN pf b
       |           ON a.ph = b.ph AND a.doc_id < b.doc_id),
       |scored AS (SELECT CAST(round(round(
       |             len(list_intersect(ha.h, hb.h))::DOUBLE /
       |             (len(ha.h) + len(hb.h)
       |               - len(list_intersect(ha.h, hb.h)))::DOUBLE, 6)
       |             * 1000000.0) AS BIGINT) AS jm
       |           FROM cand c
       |           JOIN hs ha ON ha.doc_id = c.doc_a
       |           JOIN hs hb ON hb.doc_id = c.doc_b),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM scored),
       |x AS (SELECT jm, unnest([200000, 500000, 800000]) AS t FROM scored)
       |SELECT CAST(t AS BIGINT) AS min_jaccard_micro, tot.nc AS n_candidates,
       |       CAST(sum(CASE WHEN jm >= t THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_verified,
       |       CAST(sum(CASE WHEN jm >= t THEN 1 ELSE 0 END) * 1000000
       |         // tot.nc AS BIGINT) AS precision_micro
       |FROM x, tot WHERE tot.nc > 0
       |GROUP BY t, tot.nc ORDER BY min_jaccard_micro""".stripMargin) { (s, dir) =>
    Dedup.candidatePrecision(docs(s, dir))
  }

  /** x225 longest duplicated substring — see
    * [[graft.operators.TextAnalysis.duplicatedSubstringRuns]]: per
    * near-dup pair, the longest shared substring estimated from
    * winnowing anchors stitched along the pair diagonal, at two
    * (k, w) grains — the Lee-et-al exact-substring read between
    * x49's fixed word spans and x203's content-defined chunks. */
  val x225 = query("x225_dup_substring_runs",
    // Replays duplicatedSubstringRuns at both (k, w) grains: winnowing
    // anchors WITH positions (last-argmin tie rule), df cap, diagonal
    // gaps-and-islands stitch, per-pair longest run.
    s"""WITH nd AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |${winnowRunsSql(8, 4, 50, 2, 32)},
       |${winnowRunsSql(16, 8, 50, 2, 32)}
       |SELECT * FROM agg8 UNION ALL SELECT * FROM agg16
       |ORDER BY doc_a, doc_b, k""".stripMargin) { (s, dir) =>
    TextAnalysis.duplicatedSubstringRuns(docs(s, dir))
      .orderBy(col("doc_a"), col("doc_b"), col("k"))
  }

  /** x226 URL canonicalization + domain rollup — see
    * [[graft.operators.Urls.domainRollup]]: tracking-param / case /
    * default-port / trailing-slash / fragment variants collapse to
    * one canonical URL, rolled up per registrable domain (eTLD+1) —
    * the cheapest dedup signal in a crawl-fed corpus, generalizing
    * the reference's static-URL validation axis. The corpus has no
    * URL column, so one is BUILT deterministically from (doc_id,
    * source) — both engines construct the identical string, so the
    * canonicalizer itself is what the oracle checks: scheme mix
    * (doc_id parity), %3 trailing slash, %5 gclid, %11 fragment all
    * collapse; %13 rows are deliberate gate rejects. */
  val x226 = query("x226_url_domain_rollup",
    // Replays domainRollup over the identically-constructed synthetic
    // URL column: fragment strip, absolute-URL gate, scheme/host
    // lowercase, default-port and www strip, trailing-slash strip,
    // tracking-param filter + sort, eTLD+1 cut, per-domain rollup.
    {
      val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^#]*)$"
      val track = "^(utm_[^=]*|gclid|fbclid|ref|mc_cid|mc_eid)="
      s"""WITH raw AS (SELECT CASE
         |    WHEN doc_id % 13 = 0 THEN 'relative/path/only'
         |    WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' || source ||
         |      '.Example.COM:443/Docs/' || CAST(doc_id % 7 AS VARCHAR) ||
         |      (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) || q
         |    ELSE 'http://' || source || '.example.com:80/Docs/' ||
         |      CAST(doc_id % 7 AS VARCHAR) ||
         |      (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) || q
         |  END AS url
         |  FROM (SELECT doc_id, source,
         |      '?utm_source=feed&b=2&a=1' ||
         |      (CASE WHEN doc_id % 5 = 0
         |            THEN '&gclid=g' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
         |      (CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS q
         |    FROM documents) z),
         |st AS (SELECT regexp_replace(trim(url), '#.*$$', '') AS u FROM raw),
         |parts AS (SELECT u,
         |    lower(regexp_extract(u, '$re', 1)) AS scheme,
         |    lower(regexp_extract(u, '$re', 2)) AS hostport,
         |    regexp_extract(u, '$re', 3) AS rest,
         |    regexp_matches(u, '$re') AS ok
         |  FROM st),
         |norm AS (SELECT *,
         |    regexp_replace(CASE
         |        WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
         |        WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
         |        ELSE hostport END, '^www\\.', '') AS host,
         |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '')
         |      AS path,
         |    array_to_string(list_sort(list_filter(
         |      string_split(regexp_extract(rest, '\\?(.*)$$', 1), '&'),
         |      p -> p <> '' AND NOT regexp_matches(p, '$track'))), '&')
         |      AS params
         |  FROM parts),
         |canon AS (SELECT CASE WHEN ok THEN scheme || '://' || host || path ||
         |      (CASE WHEN params = '' THEN '' ELSE '?' || params END)
         |    ELSE NULL END AS cu
         |  FROM norm),
         |hosts AS (SELECT cu, string_split(regexp_replace(regexp_extract(cu,
         |      '^[a-z0-9+.-]+://([^/?]+)', 1), ':[0-9]+$$', ''), '.') AS ls
         |  FROM canon),
         |dm AS (SELECT cu, CASE WHEN cu IS NULL THEN NULL
         |    WHEN len(ls) <= 2 THEN array_to_string(ls, '.')
         |    WHEN (ls[-2] || '.' || ls[-1]) IN ('co.uk','org.uk','ac.uk',
         |      'gov.uk','co.jp','co.in','co.nz','com.au','org.au','net.au',
         |      'com.br')
         |      THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         |    ELSE ls[-2] || '.' || ls[-1] END AS domain
         |  FROM hosts),
         |per_url AS (SELECT domain, cu, CAST(count(*) AS BIGINT) AS n
         |  FROM dm GROUP BY 1, 2),
         |per_dom AS (SELECT domain, CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_canonical_urls
         |  FROM per_url GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM per_dom)
         |SELECT domain, n_docs, n_canonical_urls,
         |  n_docs - n_canonical_urls AS url_dup_docs,
         |  CAST(n_docs * 1000000 // tot.t AS BIGINT) AS corpus_share_micro
         |FROM per_dom, tot WHERE tot.t > 0
         |ORDER BY n_docs DESC, domain NULLS LAST""".stripMargin
    }) { (s, dir) =>
    val d = docs(s, dir)
    val q = concat(lit("?utm_source=feed&b=2&a=1"),
      when(col("doc_id") % 5 === 0,
        concat(lit("&gclid=g"), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("#frag")).otherwise(lit("")))
    val url = when(col("doc_id") % 13 === 0, lit("relative/path/only"))
      .when(col("doc_id") % 2 === 0, concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/Docs/"),
        (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")), q))
      .otherwise(concat(
        lit("http://"), col("source"), lit(".example.com:80/Docs/"),
        (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")), q))
    graft.operators.Urls.domainRollup(d.select(url.as("url")), "url")
  }

  /** x227 trigram LM perplexity screen — see
    * [[graft.operators.TextAnalysis.trigramLogProb]]: add-one
    * trigram model trained on the English slice, every document
    * scored by mean per-transition log-prob — the order-3 upgrade of
    * x96 that catches template splices whose bigrams all look
    * common. */
  val x227 = query("x227_trigram_logprob",
    // Replays trigramLogProb: the x96 replay one order up — add-one
    // p(w3|w1w2), per-TYPE micro-nat quantization, exact integer
    // tf×lp accumulation, one double division for the mean.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |tr AS (SELECT doc_id, w[CAST(i AS INT)] AS w1,
       |         w[CAST(i AS INT) + 1] AS w2, w[CAST(i AS INT) + 2] AS w3
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
       |             FROM toks WHERE len(w) >= 3)),
       |rp AS (SELECT t.w1, t.w2, t.w3, count(*) AS c123
       |       FROM tr t JOIN documents d USING (doc_id) WHERE d.lang = 'en'
       |       GROUP BY 1, 2, 3),
       |rc AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
       |       FROM rp GROUP BY 1, 2),
       |st AS (SELECT CAST(count(DISTINCT w3) AS BIGINT) AS v FROM rp),
       |dtf AS (SELECT doc_id, w1, w2, w3, count(*) AS tf
       |        FROM tr GROUP BY 1, 2, 3, 4),
       |sc AS (SELECT dtf.doc_id,
       |         CAST(sum(tf) AS BIGINT) AS n_transitions,
       |         CAST(sum(tf * CAST(round(round(ln(
       |             (coalesce(rp.c123, 0)::DOUBLE + 1.0) /
       |             (coalesce(rc.c12, 0)::DOUBLE + st.v::DOUBLE + 1.0)), 6)
       |           * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_logp_micro
       |       FROM dtf LEFT JOIN rp USING (w1, w2, w3)
       |            LEFT JOIN rc USING (w1, w2)
       |            CROSS JOIN st
       |       GROUP BY dtf.doc_id)
       |SELECT d.doc_id, coalesce(sc.n_transitions, 0) AS n_transitions,
       |       sc.sum_logp_micro,
       |       CASE WHEN sc.n_transitions > 0
       |            THEN round(sc.sum_logp_micro::DOUBLE /
       |                       (sc.n_transitions::DOUBLE * 1000000.0), 6)
       |       END AS avg_logp
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.trigramLogProb(d, d.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** x228 per-source whitening audit — see
    * [[graft.operators.Similarity.whiteningAudit]]: x212's converged
    * top direction applied per source — the share of each source's
    * embedding variance one whitening pass along the corpus-dominant
    * component would remove (vec_id ↔ doc_id carries the source, the
    * x222 join convention). */
  val x228 = query("x228_whitening_audit",
    // Replays whiteningAudit: the shared power iteration, the
    // direction downscaled once to 1e3 units, exact integer
    // projections, per-source n²-scaled variance along u vs trace,
    // the same two-step long-division quantization.
    s"""WITH $covarianceIterationCteSql,
       |u AS (SELECT i, x // 1000 AS u FROM x8),
       |uu AS (SELECT CAST(sum(u * u) AS HUGEINT) AS uu FROM u),
       |pj AS (SELECT el.id, CAST(sum(el.q * u.u) AS BIGINT) AS p
       |       FROM el JOIN u ON u.i = el.i GROUP BY el.id),
       |sp AS (SELECT d.source, pj.p
       |       FROM pj JOIN documents d ON d.doc_id = pj.id),
       |a_s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vecs,
       |          CAST(count(*) AS HUGEINT) *
       |            CAST(sum(p::HUGEINT * p::HUGEINT) AS HUGEINT) -
       |          CAST(sum(p::HUGEINT) AS HUGEINT) *
       |            CAST(sum(p::HUGEINT) AS HUGEINT) AS a
       |        FROM sp GROUP BY 1),
       |els AS (SELECT d.source, el.i, el.q
       |        FROM el JOIN documents d ON d.doc_id = el.id),
       |ts0 AS (SELECT source, i, CAST(count(*) AS HUGEINT) AS n,
       |          CAST(sum(q) AS HUGEINT) AS s1,
       |          CAST(sum(q::HUGEINT * q::HUGEINT) AS HUGEINT) AS sq
       |        FROM els GROUP BY 1, 2),
       |t_s AS (SELECT source, CAST(sum(n * sq - s1 * s1) AS HUGEINT) AS t
       |        FROM ts0 GROUP BY 1)
       |SELECT a_s.source, a_s.n_vecs,
       |       CAST(((a // t) * 1000000 + ((a % t) * 1000000) // t) // uu.uu
       |         AS BIGINT) AS whitened_share_micro
       |FROM a_s JOIN t_s USING (source), uu
       |WHERE t > 0 AND uu.uu > 0 ORDER BY source""".stripMargin) { (s, dir) =>
    // unspread docs (r19): the audit reads only (doc_id, source) off
    // the doc table for its source join — no heavy per-row kernel, so
    // the spread exchange is pure added latency on the iterative
    // emb-side pipeline (A/B: 1.54 → 2.47 s with it)
    Similarity.whiteningAudit(emb(s, dir),
      Tables.load(s, dir, "documents"))
  }

  /** x229 duplicated-boilerplate catalog — see
    * [[graft.operators.TextAnalysis.duplicatedSubstringCatalog]]:
    * the top-10 longest duplicated runs at the coarse (16, 8) grain
    * WITH their text — x225's statistics turned into the snippet
    * list a curation pass actually reads. */
  val x229 = query("x229_boilerplate_catalog",
    // Replays duplicatedSubstringCatalog at the (16, 8) grain: the
    // same stitched-run CTEs, the (rc DESC, da, db, lo) top-10 cut,
    // and the snippet substring on the normalized text.
    s"""WITH nd AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |${winnowRunsSql(16, 8, 50, 2, 32)}
       |SELECT r.da AS doc_a, r.db AS doc_b,
       |  CAST(r.lo AS BIGINT) AS run_start_a,
       |  CAST(r.rc AS BIGINT) AS run_chars, r.na AS n_anchors,
       |  substr(nd.t, CAST(r.lo AS INT) + 1, CAST(r.rc AS INT)) AS snippet
       |FROM (SELECT * FROM runs16 ORDER BY rc DESC, da, db, lo
       |      LIMIT 10) r
       |JOIN nd ON nd.doc_id = r.da
       |ORDER BY run_chars DESC, doc_a, doc_b, run_start_a""".stripMargin) { (s, dir) =>
    TextAnalysis.duplicatedSubstringCatalog(docs(s, dir))
  }

  /** x230 source Bradley-Terry tournament — see
    * [[graft.operators.Preferences.bradleyTerry]]: each cross-source
    * near-dup pair (x04's relation) is a "which source serves the
    * better copy of shared content" judgment (longer copy wins,
    * doc_a's source on a tie), and the BT-MM fit turns those pairwise
    * judgments into the source priority x72's canonicalizer assumes. */
  /** The cross-source "which source serves the better copy" judgment
    * frame x230/x232 share: x04's near-dup pairs, longer copy wins,
    * doc_a's source on ties, same-source pairs dropped. */
  private def sourcePrefs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    Dedup.ngramJaccardNearDup(docs(s, dir), "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)
      .join(d.select(col("doc_id").as("doc_a"), col("source").as("__sa"),
        col("n_chars").as("__ca")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("source").as("__sb"),
        col("n_chars").as("__cb")), "doc_b")
      .filter(col("__sa") =!= col("__sb"))
      .select(
        when(col("__ca") > col("__cb"), col("__sa"))
          .when(col("__cb") > col("__ca"), col("__sb"))
          .otherwise(col("__sa")).as("winner"),
        when(col("__ca") > col("__cb"), col("__sb"))
          .when(col("__cb") > col("__ca"), col("__sa"))
          .otherwise(col("__sb")).as("loser"))
  }

  val x230 = query("x230_source_bradley_terry",
    // Replays the source Bradley-Terry tournament: x04's pair
    // relation, the longer-copy-wins judgment, then 8 BT-MM rounds in
    // the same integer micro arithmetic (every division //, strengths
    // floored at 1, max pinned to 1e6 each round).
    {
      val btRounds = (1 to 8).map { r =>
        val prev = s"bt${r - 1}"
        s"""d$r AS (SELECT e.item,
           |    CAST(sum((e.n::HUGEINT * 1000000000000) // (si.s + sj.s))
           |      AS HUGEINT) AS d
           |  FROM ed e JOIN $prev si ON si.item = e.item
           |            JOIN $prev sj ON sj.item = e.o
           |  GROUP BY 1),
           |r$r AS MATERIALIZED (SELECT it.item,
           |    CASE WHEN d.d IS NULL OR d.d = 0 THEN CAST(0 AS HUGEINT)
           |         ELSE (it.w::HUGEINT * 1000000000000) // d.d END AS rr
           |  FROM it LEFT JOIN d$r d ON d.item = it.item),
           |m$r AS (SELECT max(rr) AS mx FROM r$r),
           |bt$r AS MATERIALIZED (SELECT item, greatest(rr * 1000000 // mx, 1)
           |    AS s FROM r$r, m$r WHERE mx > 0)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ngramPairsCteSql,
         |pf AS (SELECT
         |    CASE WHEN da.n_chars > db.n_chars THEN da.source
         |         WHEN db.n_chars > da.n_chars THEN db.source
         |         ELSE da.source END AS w,
         |    CASE WHEN da.n_chars > db.n_chars THEN db.source
         |         WHEN db.n_chars > da.n_chars THEN da.source
         |         ELSE db.source END AS l
         |  FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
         |               JOIN documents db ON db.doc_id = p.doc_b
         |  WHERE da.source <> db.source),
         |wn AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS nw
         |       FROM pf GROUP BY 1),
         |und AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
         |          CAST(count(*) AS BIGINT) AS n
         |        FROM pf GROUP BY 1, 2),
         |ed AS MATERIALIZED (SELECT i AS item, j AS o, n FROM und
         |  UNION ALL SELECT j, i, n FROM und),
         |ag AS (SELECT item, CAST(sum(n) AS BIGINT) AS nc FROM ed GROUP BY 1),
         |it AS MATERIALIZED (SELECT ag.item, coalesce(wn.nw, 0) AS w, ag.nc
         |  FROM ag LEFT JOIN wn ON wn.item = ag.item),
         |bt0 AS MATERIALIZED (SELECT item, CAST(1000000 AS HUGEINT) AS s
         |  FROM it),
         |$btRounds
         |SELECT it.item, CAST(it.w AS BIGINT) AS n_wins,
         |  it.nc AS n_comparisons, CAST(bt8.s AS BIGINT) AS strength_micro
         |FROM it JOIN bt8 USING (item)
         |ORDER BY strength_micro DESC, item""".stripMargin
    }) { (s, dir) =>
    graft.operators.Preferences.bradleyTerry(sourcePrefs(s, dir))
  }

  /** x232 preference transitivity audit — see
    * [[graft.operators.Preferences.majorityTransitivity]]: among
    * source triples whose three pairwise majority judgments all
    * exist, the share forming a cycle (no strength ordering can honor
    * them) — the coherence gate that decides whether x230's BT fit
    * summarizes signal or noise. */
  val x232 = query("x232_preference_transitivity",
    // Replays majorityTransitivity over the x230 judgment frame: one
    // majority edge per unequal pair split, closed triples on the
    // undirected view, directed 3-cycles (counted once per rotation,
    // // 3), one truncating micro division.
    s"""WITH $ngramPairsCteSql,
       |pf AS (SELECT
       |    CASE WHEN da.n_chars > db.n_chars THEN da.source
       |         WHEN db.n_chars > da.n_chars THEN db.source
       |         ELSE da.source END AS w,
       |    CASE WHEN da.n_chars > db.n_chars THEN db.source
       |         WHEN db.n_chars > da.n_chars THEN da.source
       |         ELSE db.source END AS l
       |  FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
       |               JOIN documents db ON db.doc_id = p.doc_b
       |  WHERE da.source <> db.source),
       |pw AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
       |    CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wi,
       |    CAST(sum(CASE WHEN w < l THEN 0 ELSE 1 END) AS BIGINT) AS wj
       |  FROM pf GROUP BY 1, 2),
       |maj AS MATERIALIZED (SELECT
       |    CASE WHEN wi > wj THEN i ELSE j END AS src,
       |    CASE WHEN wi > wj THEN j ELSE i END AS dst
       |  FROM pw WHERE wi <> wj),
       |ni AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items FROM (
       |  SELECT w AS item FROM pf UNION ALL SELECT l FROM pf) z),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_majority_edges FROM maj),
       |und AS MATERIALIZED (SELECT least(src, dst) AS u,
       |    greatest(src, dst) AS v FROM maj),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triads
       |  FROM und e1 JOIN und e2 ON e1.v = e2.u
       |       JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |cyc AS (SELECT CAST(count(*) AS BIGINT) // 3 AS n_cyclic
       |  FROM maj c1 JOIN maj c2 ON c1.dst = c2.src
       |       JOIN maj c3 ON c3.src = c2.dst AND c3.dst = c1.src)
       |SELECT ni.n_items, ne.n_majority_edges, tri.n_triads, cyc.n_cyclic,
       |  (tri.n_triads - cyc.n_cyclic) * 1000000 // tri.n_triads
       |    AS transitivity_micro
       |FROM ni, ne, tri, cyc WHERE tri.n_triads > 0""".stripMargin) { (s, dir) =>
    graft.operators.Preferences.majorityTransitivity(sourcePrefs(s, dir))
  }

  /** x231 within-doc self-repetition — see
    * [[graft.operators.TextAnalysis.selfRepeatRuns]]: the longest
    * internally repeated substring per document with its repeat
    * offset — the single-long-copy case x138's aggregate Gopher
    * fractions can hide in a long doc. */
  val x231 = query("x231_self_repetition",
    // Replays selfRepeatRuns: the shared (8, 4) anchor chain, the
    // per-(doc, fp) occurrence cap, the self-join at positive offset,
    // the (doc, diag) gaps-and-islands stitch, and the struct-min
    // (max rc, min diag) tie rule rendered as a two-step join.
    s"""WITH nd AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |${winnowAnchorsCteSql(8, 4)},
       |sf AS MATERIALIZED (SELECT a.* FROM anch8 a JOIN (
       |    SELECT doc_id, f FROM anch8 GROUP BY doc_id, f
       |    HAVING count(*) <= 50) r USING (doc_id, f)),
       |smt AS (SELECT a.doc_id AS d, a.p AS pa, b.p - a.p AS diag
       |  FROM sf a JOIN sf b ON a.doc_id = b.doc_id AND a.f = b.f
       |    AND a.p < b.p),
       |sisl AS (SELECT d, diag, pa,
       |    SUM(CASE WHEN pa - lp > 12 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY d, diag ORDER BY pa
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
       |  FROM (SELECT *, lag(pa) OVER (PARTITION BY d, diag
       |          ORDER BY pa) AS lp FROM smt) z),
       |sruns AS MATERIALIZED (SELECT d, diag,
       |    CAST(count(*) AS BIGINT) AS na, max(pa) - min(pa) + 8 AS rc
       |  FROM sisl GROUP BY d, diag, i
       |  HAVING count(*) >= 2 AND max(pa) - min(pa) + 8 >= 16),
       |s1 AS (SELECT d, max(rc) AS lrc, CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(sum(na) AS BIGINT) AS n_anchors
       |  FROM sruns GROUP BY d),
       |s2 AS (SELECT r.d, min(r.diag) AS bo
       |  FROM sruns r JOIN s1 ON s1.d = r.d AND r.rc = s1.lrc GROUP BY r.d)
       |SELECT s1.d AS doc_id, CAST(s1.lrc AS BIGINT)
       |    AS longest_self_run_chars,
       |  CAST(s2.bo AS BIGINT) AS best_offset, s1.n_runs, s1.n_anchors
       |FROM s1 JOIN s2 ON s2.d = s1.d
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // minRunChars sized to the fixture corpus (dense-gram max
    // within-doc run measured at 28 chars, winnowed anchors sparser still — the operator default 32
    // is for real corpora and would gate everything here)
    TextAnalysis.selfRepeatRuns(docs(s, dir), minRunChars = 16)
  }

  /** x233 Kneser-Ney bigram screen — see
    * [[graft.operators.TextAnalysis.kneserNeyLogProb]]: the
    * production-smoothing upgrade of the x96/x227 add-one screens
    * (absolute discounting + continuation backoff), trained on the
    * EN slice, scoring every doc, OOV transitions counted instead of
    * epsilon-floored. */
  val x233 = query("x233_kneser_ney_logprob",
    // Replays kneserNeyLogProb: interpolated absolute discounting
    // with continuation backoff — the probability and its ln are ONE
    // fully-parenthesized double expression identical to the Spark
    // tree, quantized per TYPE, exact integer tf×lp accumulation.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |pr AS (SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
       |             FROM toks WHERE len(w) >= 2)),
       |rp AS (SELECT p.w1, p.w2, CAST(count(*) AS BIGINT) AS c12
       |       FROM pr p JOIN documents d USING (doc_id) WHERE d.lang = 'en'
       |       GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |               CAST(count(*) AS BIGINT) AS n1r FROM rp GROUP BY 1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l FROM rp GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS b FROM rp),
       |dtf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM pr GROUP BY 1, 2, 3),
       |typ AS (SELECT dtf.doc_id, dtf.tf, cont.n1l IS NULL AS oov,
       |         CASE WHEN cont.n1l IS NULL THEN NULL
       |              WHEN ctx.c1 IS NULL THEN CAST(round(round(ln(
       |                  cont.n1l::DOUBLE / st.b::DOUBLE), 6)
       |                * 1000000.0) AS BIGINT)
       |              ELSE CAST(round(round(ln(
       |                  greatest(coalesce(rp.c12, 0)::DOUBLE - 0.75, 0.0)
       |                    / ctx.c1::DOUBLE
       |                  + ((0.75 * ctx.n1r::DOUBLE) / ctx.c1::DOUBLE)
       |                    * (cont.n1l::DOUBLE / st.b::DOUBLE)), 6)
       |                * 1000000.0) AS BIGINT)
       |         END AS lp
       |       FROM dtf LEFT JOIN rp USING (w1, w2) LEFT JOIN ctx USING (w1)
       |            LEFT JOIN cont USING (w2) CROSS JOIN st),
       |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_transitions,
       |         CAST(sum(CASE WHEN oov THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
       |         CAST(sum(CASE WHEN oov THEN 0 ELSE tf * lp END) AS BIGINT)
       |           AS sum_logp_micro
       |       FROM typ GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_transitions, 0) AS n_transitions,
       |       coalesce(sc.n_oov, 0) AS n_oov, sc.sum_logp_micro,
       |       CASE WHEN sc.n_transitions - sc.n_oov > 0
       |            THEN round(sc.sum_logp_micro::DOUBLE /
       |                       ((sc.n_transitions - sc.n_oov)::DOUBLE
       |                         * 1000000.0), 6)
       |       END AS avg_logp
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.kneserNeyLogProb(d, d.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** x234 epoch-allocation advisor — see
    * [[graft.operators.Layout.epochAllocationAdvisor]]: the
    * data-constrained mixing plan (which sources earn repeat epochs
    * under a 2× token budget, vocabulary-richness utility with
    * geometric repetition decay) — the planning advisor that sits
    * between x143's target mix and x54's upsampler. */
  val x234 = query("x234_epoch_allocation",
    // Replays epochAllocationAdvisor: per-source token/vocab stats,
    // the integer decay-power grid, the greedy whole-epoch fill under
    // the 2× budget — every division a truncating integer div.
    {
      val pows = Iterator.iterate(1000000L)(p => p * 700000L / 1000000L)
        .take(4).toSeq
      val eg = pows.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
      s"""WITH toks AS (SELECT source, unnest(${wordsSql("text")}) AS t
         |              FROM documents),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM toks GROUP BY 1),
         |vo AS (SELECT source, CAST(count(*) AS BIGINT) AS v
         |       FROM (SELECT DISTINCT source, t FROM toks) GROUP BY 1),
         |src AS (SELECT ps.source, ps.n_tokens,
         |          (vo.v * 1000000) // ps.n_tokens AS quality_micro
         |        FROM ps JOIN vo USING (source) WHERE ps.n_tokens > 0),
         |eg AS (SELECT * FROM (VALUES $eg) AS t(epoch, pow)),
         |grid AS (SELECT src.source, src.n_tokens, src.quality_micro,
         |           eg.epoch, (src.quality_micro * eg.pow) // 1000000 AS u
         |         FROM src, eg),
         |bud AS (SELECT (CAST(sum(n_tokens) AS HUGEINT) * 2000000) // 1000000
         |          AS b FROM src),
         |cum AS (SELECT *, SUM(CAST(n_tokens AS HUGEINT)) OVER (
         |          ORDER BY u DESC, source, epoch
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |        FROM grid),
         |kept AS (SELECT cum.* FROM cum, bud WHERE c <= b),
         |ta AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS ta FROM kept)
         |SELECT source, n_tokens, CAST(quality_micro AS BIGINT) AS quality_micro,
         |       CAST(count(*) AS BIGINT) AS epochs_allocated,
         |       CAST(count(*) * n_tokens AS BIGINT) AS tokens_allocated,
         |       CAST((CAST(count(*) * n_tokens AS HUGEINT) * 1000000) // ta.ta
         |         AS BIGINT) AS alloc_share_micro
         |FROM kept, ta WHERE ta.ta > 0
         |GROUP BY source, n_tokens, quality_micro, ta.ta
         |ORDER BY epochs_allocated DESC, source""".stripMargin
    }) { (s, dir) =>
    Layout.epochAllocationAdvisor(docs(s, dir))
  }

  /** x235 split-conformal coverage audit — see
    * [[graft.operators.Profile.conformalCoverage]]: the md5-60-even
    * half of docs calibrates per-source token-count medians and the
    * global residual quantiles; the other half must be covered at
    * ≥ 1−α — the distribution-free calibration gate on every
    * quantile-derived filter cut (value = the x10 word-token count
    * contract; the hash split mixes within every source, where raw
    * id parity correlates with source in the fixtures). */
  val x235 = query("x235_conformal_coverage",
    // Replays conformalCoverage over the x10 word-token counts: exact
    // order statistics off histograms (lower median per source,
    // global residual rank ⌈(n+1)(100−pct)/100⌉, null = +∞), one
    // truncating micro division for the coverage share.
    s"""WITH base AS (SELECT * FROM (
       |    SELECT ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 2 = 0
       |             AS is_cal,
       |           source AS g,
       |           CAST(len(${wordsSql("text")}) AS BIGINT) AS y
       |    FROM documents)
       |  WHERE is_cal IS NOT NULL AND g IS NOT NULL AND y IS NOT NULL),
       |cal AS (SELECT * FROM base WHERE is_cal),
       |hist AS (SELECT g, y, CAST(count(*) AS BIGINT) AS c
       |         FROM cal GROUP BY 1, 2),
       |cum AS (SELECT g, y, SUM(c) OVER (PARTITION BY g ORDER BY y
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
       |          SUM(c) OVER (PARTITION BY g) AS n
       |        FROM hist),
       |med AS (SELECT g, min(y) AS med FROM cum
       |        WHERE cu >= (n + 1) // 2 GROUP BY 1),
       |calr AS (SELECT abs(cal.y - med.med) AS r
       |         FROM cal JOIN med USING (g)),
       |rc AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM calr GROUP BY 1),
       |rcum AS (SELECT r, SUM(c) OVER (ORDER BY r
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
       |         FROM rc),
       |nc AS (SELECT coalesce(CAST(max(cu) AS BIGINT), 0) AS n_cal FROM rcum),
       |grid AS (SELECT CAST(pct AS BIGINT) AS pct, nc.n_cal,
       |           ((nc.n_cal + 1) * (100 - pct) + 99) // 100 AS k
       |         FROM (SELECT unnest([1, 5, 10, 20]) AS pct), nc),
       |thr AS (SELECT grid.pct, grid.n_cal, min(rcum.r) AS threshold
       |        FROM grid LEFT JOIN rcum ON rcum.cu >= grid.k
       |        GROUP BY 1, 2),
       |eh AS (SELECT abs(b.y - med.med) AS r, CAST(count(*) AS BIGINT) AS c
       |       FROM base b JOIN med USING (g) WHERE NOT b.is_cal
       |       GROUP BY 1),
       |cov AS (SELECT thr.pct, thr.n_cal, thr.threshold,
       |          CAST(sum(eh.c) AS BIGINT) AS n_eval,
       |          CAST(sum(CASE WHEN thr.threshold IS NULL
       |                          OR eh.r <= thr.threshold
       |                        THEN eh.c ELSE 0 END) AS BIGINT) AS n_covered
       |        FROM eh, thr GROUP BY 1, 2, 3)
       |SELECT pct, (100 - pct) * 10000 AS target_micro, n_cal, threshold,
       |       n_eval, n_covered,
       |       CAST((CAST(n_covered AS HUGEINT) * 1000000) // n_eval
       |         AS BIGINT) AS coverage_micro
       |FROM cov WHERE n_eval > 0 ORDER BY pct""".stripMargin) { (s, dir) =>
    Profile.conformalCoverage(docs(s, dir)
      .select((md5Bucket60(col("doc_id")) % 2 === 0).as("is_cal"),
        col("source"), size(words(col("text"))).cast("long").as("value")))
  }

  /** x236 in-batch negative collision forecast — see
    * [[graft.operators.Dedup.inBatchCollisionForecast]]: x211's
    * cluster-size spectrum read as the contrastive-training risk —
    * expected same-cluster (false-negative) pairs per uniformly
    * sampled batch at four batch sizes, exact combinatorics. */
  val x236 = query("x236_inbatch_collisions",
    // Replays inBatchCollisionForecast off the x211 component chain:
    // spectrum moments Σm(m−1) and N in HUGEINT, C(B,2) halved
    // exactly, one truncating micro division per batch size.
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id
       |       FROM reach GROUP BY node),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM cl GROUP BY 1),
       |spec0 AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |          FROM sz GROUP BY 1),
       |single AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
       |             CAST(count(*) AS BIGINT) AS n_clusters
       |           FROM documents
       |           WHERE doc_id NOT IN (SELECT doc_id FROM cl)
       |           HAVING count(*) > 0),
       |spec AS (SELECT cluster_size,
       |           CAST(sum(n_clusters) AS BIGINT) AS n_clusters
       |         FROM (SELECT * FROM spec0
       |               UNION ALL SELECT * FROM single) z
       |         GROUP BY 1),
       |st AS (SELECT
       |    CAST(sum(CAST(cluster_size AS HUGEINT) * n_clusters) AS HUGEINT)
       |      AS n,
       |    CAST(sum(CAST(cluster_size AS HUGEINT) * (cluster_size - 1)
       |      * n_clusters) AS HUGEINT) AS s
       |  FROM spec),
       |bs AS (SELECT unnest([64, 256, 1024, 4096]) AS b)
       |SELECT CAST(b AS BIGINT) AS batch_size, CAST(n AS BIGINT) AS n_docs,
       |       CAST(s // 2 AS BIGINT) AS same_cluster_pairs,
       |       CAST((s * 1000000) // (n * (n - 1)) AS BIGINT)
       |         AS pair_rate_micro,
       |       CAST((((b * (b - 1)) // 2) * s * 1000000) // (n * (n - 1))
       |         AS BIGINT) AS expected_collisions_micro
       |FROM st, bs WHERE n >= 2 ORDER BY batch_size""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.inBatchCollisionForecast(Dedup.clusterSizeProfile(d,
      Dedup.connectedComponents(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2))))
  }

  /** x237 mojibake / encoding-damage screen — see
    * [[graft.operators.TextAnalysis.mojibakeScreen]]: per-source
    * rates of the four byte-shadow signature classes. The fixture
    * corpus is clean ASCII, so the query plants deterministic damage
    * (the x226 injection idiom — both engines replay the identical
    * corruption): every 7th doc gets the Latin-1 'Ã¡' shadow, every
    * 11th damaged smart quotes, every 13th a replacement char and an
    * NBSP shadow. */
  val x237 = query("x237_mojibake_screen",
    // Replays mojibakeScreen under the deterministic damage plant:
    // identical CASE injection, identical regex signature counts.
    s"""WITH cor AS (SELECT source, CASE
       |    WHEN doc_id % 7 = 0 THEN replace(text, 'a', 'Ã¡')
       |    WHEN doc_id % 11 = 0 THEN text || ' â€œcitedâ€'
       |    WHEN doc_id % 13 = 0 THEN text || ' x� Â y'
       |    ELSE text END AS t
       |  FROM documents),
       |pd AS (SELECT source,
       |    CAST(len(regexp_extract_all(t, 'Ã.')) AS BIGINT) AS l1,
       |    CAST(len(regexp_extract_all(t, 'â€')) AS BIGINT) AS pu,
       |    CAST(len(regexp_extract_all(t, '�')) AS BIGINT) AS re,
       |    CAST(len(regexp_extract_all(t, 'Â')) AS BIGINT) AS nb
       |  FROM cor),
       |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN l1 + pu + re + nb > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_damaged,
       |    CAST(sum(l1) AS BIGINT) AS latin1_hits,
       |    CAST(sum(pu) AS BIGINT) AS punct_hits,
       |    CAST(sum(re) AS BIGINT) AS replacement_hits,
       |    CAST(sum(nb) AS BIGINT) AS nbsp_hits
       |  FROM pd GROUP BY 1)
       |SELECT source, n_docs, n_damaged,
       |       CAST((CAST(n_damaged AS HUGEINT) * 1000000) // n_docs
       |         AS BIGINT) AS damaged_rate_micro,
       |       latin1_hits, punct_hits, replacement_hits, nbsp_hits
       |FROM ag ORDER BY source""".stripMargin) { (s, dir) =>
    val corrupted = docs(s, dir).withColumn("text",
      when(col("doc_id") % 7 === 0, expr("replace(text, 'a', 'Ã¡')"))
        .when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" â€œcitedâ€")))
        .when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" x� Â y")))
        .otherwise(col("text")))
    TextAnalysis.mojibakeScreen(corrupted)
  }

  /** x238 raking (IPF) weights — see
    * [[graft.operators.Profile.rakingWeights]]: one multiplicative
    * weight per (lang, source) cell fitted so the weighted row AND
    * column margins both approach uniform — the reweight-don't-drop
    * rebalancing beside x44's temperature resampler, in exact
    * integer micro arithmetic. */
  val x238 = query("x238_raking_weights",
    // Replays rakingWeights: 4 unrolled IPF iterations, HUGEINT
    // masses, truncating scales, the 1-micro weight floor.
    {
      def it(k: Int): String = {
        val prev = if (k == 1) "w0" else s"w${k - 1}"
        s"""rm$k AS (SELECT r, CAST(sum(n * w) AS HUGEINT) AS m
           |  FROM $prev GROUP BY 1),
           |rs$k AS (SELECT rm$k.r, (tg.tr * 1000000) // m AS s
           |  FROM rm$k, tg),
           |wr$k AS (SELECT p.r, p.c, p.n,
           |    greatest((p.w * rs$k.s) // 1000000, 1) AS w
           |  FROM $prev p JOIN rs$k USING (r)),
           |cm$k AS (SELECT c, CAST(sum(n * w) AS HUGEINT) AS m
           |  FROM wr$k GROUP BY 1),
           |cs$k AS (SELECT cm$k.c, (tg.tc * 1000000) // m AS s
           |  FROM cm$k, tg),
           |w$k AS (SELECT p.r, p.c, p.n,
           |    greatest((p.w * cs$k.s) // 1000000, 1) AS w
           |  FROM wr$k p JOIN cs$k USING (c))""".stripMargin
      }
      s"""WITH cells AS (SELECT lang AS r, source AS c,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
         |  GROUP BY 1, 2),
         |w0 AS (SELECT r, c, n, CAST(1000000 AS HUGEINT) AS w FROM cells),
         |tg AS (SELECT
         |    (CAST(sum(n) AS HUGEINT) * 1000000)
         |      // CAST(count(DISTINCT r) AS HUGEINT) AS tr,
         |    (CAST(sum(n) AS HUGEINT) * 1000000)
         |      // CAST(count(DISTINCT c) AS HUGEINT) AS tc
         |  FROM w0),
         |${(1 to 4).map(it).mkString(",\n")},
         |tm AS (SELECT CAST(sum(n * w) AS HUGEINT) AS tm FROM w4)
         |SELECT r AS lang, c AS source, CAST(n AS BIGINT) AS n_docs,
         |       CAST(w AS BIGINT) AS weight_micro,
         |       CAST((CAST(n AS HUGEINT) * w * 1000000) // tm.tm AS BIGINT)
         |         AS mass_share_micro
         |FROM w4, tm WHERE tm.tm > 0 ORDER BY lang, source""".stripMargin
    }) { (s, dir) =>
    Profile.rakingWeights(docs(s, dir))
  }

  /** x239 Flesch readability — see
    * [[graft.operators.TextAnalysis.readability]]: exact word/
    * sentence/syllable counts, one micro-quantized score per doc.
    * The fixture corpus carries no punctuation, so the query plants
    * deterministic sentence marks (' a ' → ' a. ', the x237
    * injection idiom) to exercise the sentence grain. */
  val x239 = query("x239_readability",
    // Replays readability under the same sentence-mark plant: exact
    // word/sentence counts, per-word syllable floor over the words
    // array, the Flesch constants parsed from strings so both
    // engines hold the identical correctly-rounded doubles.
    s"""WITH $readabilityCtesSql
       |SELECT doc_id, nw AS n_words, ns AS n_sentences,
       |       syl AS n_syllables, fm AS flesch_micro
       |FROM rd ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.readability(docs(s, dir)
      .withColumn("text", expr("replace(text, ' a ', ' a. ')")))
  }

  /** x240 panel Fleiss' kappa — see
    * [[graft.operators.Profile.fleissKappa]] over the SAME three
    * curation gates x102 compares pairwise ([[gateRatings]]): does
    * the filter battery agree beyond chance as a panel — the
    * one-number redundancy verdict above the pairwise matrix. */
  val x240 = query("x240_fleiss_kappa",
    // Replays fleissKappa over the x102 gate battery: binary panel,
    // exact integer moments, micro quantization at the statistic
    // grain, kappa from the micro values.
    s"""WITH ${qualityCteSql("doc_id")},
       |toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(2, distinct = false)} AS g FROM toks),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM ng),
       |gc AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY doc_id, gram),
       |rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS tgr
       |        FROM gc GROUP BY doc_id),
       |nt AS (SELECT doc_id,
       |         len(list_filter(string_split_regex(trim(text), '\\s+'),
       |             x -> len(x) > 0)) AS n_tokens
       |       FROM documents),
       |fl AS (SELECT d.doc_id,
       |         nt.n_tokens >= 20 AS len_ok,
       |         q.qr >= 0.75 AS quality_ok,
       |         coalesce(rep.tgr, 0.0) <= 0.06 AS repeat_ok
       |       FROM documents d JOIN nt USING (doc_id) JOIN q USING (doc_id)
       |       LEFT JOIN rep USING (doc_id)),
       |rr AS (SELECT (CASE WHEN len_ok THEN 1 ELSE 0 END
       |         + CASE WHEN quality_ok THEN 1 ELSE 0 END
       |         + CASE WHEN repeat_ok THEN 1 ELSE 0 END) AS r FROM fl),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(r * r + (3 - r) * (3 - r)) AS HUGEINT) AS s1,
       |         CAST(sum(r) AS HUGEINT) AS ct
       |       FROM rr),
       |sel AS (SELECT n,
       |    CAST(0 AS BIGINT) AS n_dropped_subjects,
       |    CAST(3 AS BIGINT) AS n_raters,
       |    CAST((CASE WHEN ct > 0 THEN 1 ELSE 0 END)
       |      + (CASE WHEN 3 * n - ct > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_categories,
       |    CAST(((s1 - 3 * n) * 1000000) // (CAST(n AS HUGEINT) * 6)
       |      AS BIGINT) AS pbar_micro,
       |    CAST(((ct * ct + (3 * n - ct) * (3 * n - ct)) * 1000000)
       |      // (CAST(3 * n AS HUGEINT) * (3 * n)) AS BIGINT) AS pe_micro,
       |    (ct * ct + (3 * n - ct) * (3 * n - ct))
       |      = CAST(3 * n AS HUGEINT) * (3 * n) AS onecat
       |  FROM ag WHERE n > 0)
       |SELECT n AS n_subjects, n_dropped_subjects, n_raters, n_categories,
       |       pbar_micro, pe_micro,
       |       CASE WHEN onecat THEN NULL
       |            ELSE ((pbar_micro - pe_micro) * 1000000)
       |              // (1000000 - pe_micro) END AS kappa_micro
       |FROM sel""".stripMargin) { (s, dir) =>
    Profile.fleissKappa(gateRatings(s, dir))
  }

  /** x241 temporal split audit — see
    * [[graft.operators.Sequences.temporalSplitAudit]]: the exact
    * 80th-percentile DAY cut over events with the cross-cut user-
    * overlap leakage reads — the event-time sibling of x64/x206's
    * content-split leakage. */
  val x241 = query("x241_temporal_split",
    // Replays temporalSplitAudit: exact day-rank cutoff, user-set
    // overlap via semi joins, one truncating micro division.
    """WITH base AS (SELECT CAST(ts AS DATE) AS d, user_id AS u
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS c
      |         FROM base GROUP BY 1),
      |cum AS (SELECT d, SUM(c) OVER (ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
      |          SUM(c) OVER () AS n
      |        FROM hist),
      |cut AS (SELECT min(d) AS cutoff FROM cum
      |        WHERE cu >= (n * 80 + 99) // 100),
      |fl AS (SELECT u, d <= cut.cutoff AS tr FROM base, cut),
      |tu AS (SELECT DISTINCT u FROM fl WHERE tr),
      |eu AS (SELECT DISTINCT u FROM fl WHERE NOT tr),
      |cnt AS (SELECT
      |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |    CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_test
      |  FROM fl),
      |ut AS (SELECT CAST(count(*) AS BIGINT) AS n_users_train FROM tu),
      |ue AS (SELECT CAST(count(*) AS BIGINT) AS n_users_test FROM eu),
      |ub AS (SELECT CAST(count(*) AS BIGINT) AS n_users_both FROM eu
      |       WHERE u IN (SELECT u FROM tu)),
      |se AS (SELECT CAST(count(*) AS BIGINT) AS seen_user_test_events
      |       FROM fl WHERE NOT tr AND u IN (SELECT u FROM tu))
      |SELECT CAST(cut.cutoff AS STRING) AS cutoff_day, cnt.n_train,
      |       cnt.n_test,
      |       ut.n_users_train, ue.n_users_test, ub.n_users_both,
      |       se.seen_user_test_events,
      |       CASE WHEN cnt.n_test > 0 THEN
      |         CAST((CAST(se.seen_user_test_events AS HUGEINT) * 1000000)
      |           // cnt.n_test AS BIGINT) END AS seen_share_micro
      |FROM cut, cnt, ut, ue, ub, se
      |WHERE cnt.n_train + cnt.n_test > 0""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.temporalSplitAudit(
        Tables.load(s, dir, "events"))
      // the x114 date-compare convention: both engines emit the day
      // as its ISO string
      .withColumn("cutoff_day", col("cutoff_day").cast("string"))
  }

  /** The x102/x240 gate battery as a (doc, rater, label) ratings
    * frame — x240/x242 share it: three cheap curation gates voting
    * pass/fail per document. */
  private def gateRatings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{qualityScoreRaw, tokenCount}
    val d = docs(s, dir)
    val flags = d
      .join(TextAnalysis.repetitionRatio(d, ngram = 2), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (tokenCount(col("text")) >= 20).as("len_ok"),
        (qualityScoreRaw(col("text")) >= 0.75).as("quality_ok"),
        (coalesce(col("top_gram_ratio"), lit(0.0)) <= 0.06).as("repeat_ok"))
    flags.select(col("doc_id"), explode(array(
        struct(lit("len").as("rater"),
          col("len_ok").cast("string").as("label")),
        struct(lit("quality").as("rater"),
          col("quality_ok").cast("string").as("label")),
        struct(lit("repeat").as("rater"),
          col("repeat_ok").cast("string").as("label")))).as("__r"))
      .select(col("doc_id"), col("__r.rater").as("rater"),
        col("__r.label").as("label"))
  }

  /** x242 Dawid-Skene rater quality — see
    * [[graft.operators.Profile.raterQuality]] over the x240 gate
    * panel: per-gate accuracy against the majority seed, Laplace
    * log-odds weights, and the weighted-consensus flip count — which
    * gate to trust when the battery disagrees. */
  val x242 = query("x242_rater_quality",
    // Replays raterQuality over the x240 gate battery: majority seed,
    // Laplace log-odds per GATE (one replayed double each), integer
    // re-vote with the voted-labels-only argmax and min-label ties.
    s"""WITH ${qualityCteSql("doc_id")},
       |toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(2, distinct = false)} AS g FROM toks),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM ng),
       |gc AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY doc_id, gram),
       |rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS tgr
       |        FROM gc GROUP BY doc_id),
       |nt AS (SELECT doc_id,
       |         len(list_filter(string_split_regex(trim(text), '\\s+'),
       |             x -> len(x) > 0)) AS n_tokens
       |       FROM documents),
       |fl AS (SELECT d.doc_id,
       |         nt.n_tokens >= 20 AS len_ok,
       |         q.qr >= 0.75 AS quality_ok,
       |         coalesce(rep.tgr, 0.0) <= 0.06 AS repeat_ok
       |       FROM documents d JOIN nt USING (doc_id) JOIN q USING (doc_id)
       |       LEFT JOIN rep USING (doc_id)),
       |mj AS (SELECT doc_id, len_ok, quality_ok, repeat_ok,
       |         (CASE WHEN len_ok THEN 1 ELSE 0 END
       |           + CASE WHEN quality_ok THEN 1 ELSE 0 END
       |           + CASE WHEN repeat_ok THEN 1 ELSE 0 END) AS r,
       |         CASE WHEN (CASE WHEN len_ok THEN 1 ELSE 0 END
       |             + CASE WHEN quality_ok THEN 1 ELSE 0 END
       |             + CASE WHEN repeat_ok THEN 1 ELSE 0 END) >= 2
       |           THEN 'true' ELSE 'false' END AS maj
       |       FROM fl),
       |rt AS (SELECT 'len' AS rater, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN CAST(len_ok AS VARCHAR) = maj
       |           THEN 1 ELSE 0 END) AS BIGINT) AS agree FROM mj
       |  UNION ALL SELECT 'quality', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN CAST(quality_ok AS VARCHAR) = maj
       |           THEN 1 ELSE 0 END) AS BIGINT) FROM mj
       |  UNION ALL SELECT 'repeat', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN CAST(repeat_ok AS VARCHAR) = maj
       |           THEN 1 ELSE 0 END) AS BIGINT) FROM mj),
       |wt AS (SELECT rater, n, agree,
       |         CAST((agree * 1000000) // n AS BIGINT) AS accuracy_micro,
       |         CAST(round(round(ln((agree + 1)::DOUBLE
       |             / (n - agree + 1)::DOUBLE), 6) * 1000000.0) AS BIGINT)
       |           AS weight_micro
       |       FROM rt),
       |ws AS (SELECT
       |    max(CASE WHEN rater = 'len' THEN weight_micro END) AS wl,
       |    max(CASE WHEN rater = 'quality' THEN weight_micro END) AS wq,
       |    max(CASE WHEN rater = 'repeat' THEN weight_micro END) AS wr
       |  FROM wt),
       |sc AS (SELECT mj.maj, mj.r,
       |    (CASE WHEN len_ok THEN ws.wl ELSE 0 END
       |      + CASE WHEN quality_ok THEN ws.wq ELSE 0 END
       |      + CASE WHEN repeat_ok THEN ws.wr ELSE 0 END) AS s_true,
       |    (CASE WHEN len_ok THEN 0 ELSE ws.wl END
       |      + CASE WHEN quality_ok THEN 0 ELSE ws.wq END
       |      + CASE WHEN repeat_ok THEN 0 ELSE ws.wr END) AS s_false
       |  FROM mj, ws),
       |cons AS (SELECT maj,
       |    CASE WHEN r = 3 THEN 'true' WHEN r = 0 THEN 'false'
       |         WHEN s_true > s_false THEN 'true'
       |         ELSE 'false' END AS cons
       |  FROM sc),
       |fp AS (SELECT CAST(sum(CASE WHEN cons <> maj THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_flipped_consensus FROM cons)
       |SELECT wt.rater, wt.n AS n_ratings, wt.agree AS n_agree_majority,
       |       wt.accuracy_micro, wt.weight_micro, fp.n_flipped_consensus
       |FROM wt, fp ORDER BY rater""".stripMargin) { (s, dir) =>
    Profile.raterQuality(gateRatings(s, dir))
  }

  /** x243 behavioral-boilerplate catalog — see
    * [[graft.operators.Sequences.behaviorBoilerplate]]: (user, day)
    * sessions as ordered event-type strings, patterns served by ≥ 2
    * sessions with their user spread — the bot/scripted-traffic
    * dedup read over the events stream. */
  val x243 = query("x243_behavior_boilerplate",
    // Replays behaviorBoilerplate: (user, day) sessions, the size
    // fence BEFORE any sequence build, ordered string_agg patterns.
    """WITH base AS (SELECT user_id AS u, CAST(ts AS DATE) AS d, ts,
      |    event_id AS i,
      |    replace(replace(event_type, '\', '\\'), '>', '\>') AS t
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
      |sz AS (SELECT u, d, count(*) AS c FROM base GROUP BY 1, 2),
      |drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped_long
      |        FROM sz WHERE c > 200),
      |sq AS (SELECT b.u, b.d,
      |         string_agg(b.t, '>' ORDER BY b.ts, b.i) AS pattern,
      |         CAST(count(*) AS BIGINT) AS len
      |       FROM base b JOIN sz USING (u, d) WHERE sz.c <= 200
      |       GROUP BY b.u, b.d),
      |pat AS (SELECT pattern, len AS session_len,
      |          CAST(count(*) AS BIGINT) AS n_sessions,
      |          CAST(count(DISTINCT u) AS BIGINT) AS n_users
      |        FROM sq GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT pattern, session_len, n_sessions, n_users,
      |       drp.n_dropped_long
      |FROM pat, drp ORDER BY n_sessions DESC, pattern""".stripMargin) { (s, dir) =>
    graft.operators.Sequences.behaviorBoilerplate(
      Tables.load(s, dir, "events"))
  }

  /** x244 curriculum plan — see
    * [[graft.operators.Layout.curriculumPlan]] over x239's Flesch
    * scores (same sentence-mark plant): four equal-population
    * difficulty phases, easiest first, with token mass and score
    * ranges — the x239 → plan loop closed. */
  val x244 = query("x244_curriculum_plan",
    // Replays curriculumPlan over the x239 scores: ntile by
    // descending score with the doc-id tie-break, per-phase rollup,
    // one truncating micro division for the token share.
    s"""WITH $readabilityCtesSql,
       |t AS (SELECT doc_id, nw, fm,
       |        CAST(ntile(4) OVER (ORDER BY -fm, doc_id) AS INT) AS phase
       |      FROM rd WHERE fm IS NOT NULL),
       |ag AS (SELECT CAST(phase AS BIGINT) AS phase,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(nw) AS BIGINT) AS n_tokens,
       |         CAST(max(fm) AS BIGINT) AS score_hi_micro,
       |         CAST(min(fm) AS BIGINT) AS score_lo_micro
       |       FROM t GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS tt FROM ag)
       |SELECT phase, n_docs, n_tokens, score_hi_micro, score_lo_micro,
       |       CAST((CAST(n_tokens AS HUGEINT) * 1000000) // tot.tt
       |         AS BIGINT) AS token_share_micro
       |FROM ag, tot WHERE tot.tt > 0 ORDER BY phase""".stripMargin) { (s, dir) =>
    Layout.curriculumPlan(TextAnalysis.readability(docs(s, dir)
      .withColumn("text", expr("replace(text, ' a ', ' a. ')"))))
  }

  /** x245 source affinity matrix — see
    * [[graft.operators.Similarity.sourceAffinity]]: pairwise cosine
    * between source centroids in embedding space — which providers
    * are semantically redundant, priced into the x234/x143 mixing
    * decisions before any pair-level dedup runs. */
  val x245 = query("x245_source_affinity",
    // Replays sourceAffinity: the x139 cell/centroid chain joined to
    // sources, exact BIGINT pair dot/norms, one fixed double cosine.
    """WITH cells AS (
      |  SELECT d.source AS src, CAST(u.i AS INT) AS dd,
      |         CAST(round(embedding[CAST(u.i AS INT)]::DOUBLE * 1000000)
      |              AS BIGINT) AS m
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id,
      |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
      |  WHERE len(embedding) = 64
      |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |cent AS (SELECT src, dd, CAST(sum(m) AS BIGINT) // count(*) AS g,
      |                CAST(count(*) AS BIGINT) AS c
      |         FROM cells GROUP BY 1, 2),
      |pr AS (SELECT a.src AS source_a, b.src AS source_b,
      |         CAST(max(a.c) AS BIGINT) AS n_a,
      |         CAST(max(b.c) AS BIGINT) AS n_b,
      |         CAST(sum(a.g * b.g) AS BIGINT) AS num,
      |         CAST(sum(a.g * a.g) AS BIGINT) AS aa,
      |         CAST(sum(b.g * b.g) AS BIGINT) AS bb
      |       FROM cent a JOIN cent b ON a.dd = b.dd AND a.src < b.src
      |       GROUP BY 1, 2)
      |SELECT source_a, source_b, n_a, n_b,
      |       CASE WHEN aa > 0 AND bb > 0
      |            THEN round(num::DOUBLE / (sqrt(aa::DOUBLE)
      |              * sqrt(bb::DOUBLE)), 6) END AS cosine
      |FROM pr ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    Similarity.sourceAffinity(emb(s, dir), docs(s, dir))
  }

  /** x246 positional surprisal — see
    * [[graft.operators.TextAnalysis.positionalSurprisal]]: mean
    * unigram surprisal per relative-position decile under the EN
    * reference LM — WHERE the templated text lives, the position
    * read between x176's prefix rule and x229's catalog. */
  val x246 = query("x246_positional_surprisal",
    // Replays positionalSurprisal: the x67 unigram contract with
    // integer position buckets, (bucket, term) collapse before the
    // vocabulary join.
    s"""WITH w AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |rtf AS (SELECT unnest(w.w) AS term
       |        FROM w JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
       |vc AS (SELECT term, count(*) AS c FROM rtf GROUP BY term),
       |st AS (SELECT CAST(sum(c) AS BIGINT) AS t,
       |              CAST(count(*) AS BIGINT) AS v FROM vc),
       |vocab AS (SELECT term,
       |            CAST(round(round(ln((c::DOUBLE + 1.0) /
       |              (st.t::DOUBLE + st.v::DOUBLE + 1.0)), 6) * 1000000.0)
       |              AS BIGINT) AS lp
       |          FROM vc CROSS JOIN st),
       |oov AS (SELECT CAST(round(round(ln(1.0 /
       |          (t::DOUBLE + v::DOUBLE + 1.0)), 6) * 1000000.0) AS BIGINT)
       |          AS lp FROM st),
       |dt AS (SELECT w[CAST(i AS INT)] AS term,
       |         ((i - 1) * 10) // len(w) AS bucket
       |       FROM (SELECT w, unnest(range(1, len(w) + 1)) AS i
       |             FROM w WHERE len(w) > 0)),
       |btf AS (SELECT bucket, term, count(*) AS tf FROM dt GROUP BY 1, 2),
       |sc AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |         CAST(sum(tf * coalesce(vocab.lp, oov.lp)) AS BIGINT)
       |           AS sum_logp_micro
       |       FROM btf LEFT JOIN vocab USING (term) CROSS JOIN oov
       |       GROUP BY 1)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_tokens, sum_logp_micro,
       |       round(sum_logp_micro::DOUBLE /
       |             (n_tokens::DOUBLE * 1000000.0), 6) AS avg_logp
       |FROM sc ORDER BY bucket""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.positionalSurprisal(d, d.filter(col("lang") === "en"))
  }

  /** x247 template-slot mining — see
    * [[graft.operators.Dedup.templateSlots]]: the tokens on exactly
    * ONE side of each x04 near-dup pair, ranked corpus-wide — what
    * the template family parameterizes over, the complement of
    * x225/x229's shared runs. */
  val x247 = query("x247_template_slots",
    // Replays templateSlots over the x04 pair relation: distinct
    // endpoint terms, the one-sided (pair, term) test, top-20 with
    // the term tie-break.
    s"""WITH $ngramPairsCteSql,
       |pt AS (SELECT DISTINCT doc_id AS pdoc, unnest(w.w) AS term
       |       FROM toks w
       |       WHERE doc_id IN (SELECT doc_a FROM pairs
       |                        UNION SELECT doc_b FROM pairs)),
       |sides AS (
       |  SELECT p.doc_a, p.doc_b, t.term FROM pairs p
       |    JOIN pt t ON t.pdoc = p.doc_a
       |  UNION ALL
       |  SELECT p.doc_a, p.doc_b, t.term FROM pairs p
       |    JOIN pt t ON t.pdoc = p.doc_b),
       |one AS (SELECT doc_a, doc_b, term FROM sides
       |        GROUP BY 1, 2, 3 HAVING count(*) = 1),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
       |agg AS (SELECT term, CAST(count(*) AS BIGINT) AS n_pairs
       |        FROM one GROUP BY 1)
       |SELECT term, n_pairs,
       |       CAST((CAST(n_pairs AS HUGEINT) * 1000000) // np.np AS BIGINT)
       |         AS pair_share_micro
       |FROM agg, np WHERE np.np > 0
       |ORDER BY n_pairs DESC, term LIMIT 20""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.templateSlots(d, Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2))
  }

  /** x248 threshold transfer — see
    * [[graft.operators.Similarity.thresholdTransfer]]: the empirical
    * jaccard-decile → cosine mapping on the x04 pairs (vec_id ↔
    * doc_id) — which cosine cut equals which jaccard cut, the
    * cross-space calibration the dual dedup stacks need. */
  val x248 = query("x248_threshold_transfer",
    // Replays thresholdTransfer: the x04 pairs joined to both
    // embeddings, micro-jaccard deciles, the x06 cosine contract
    // quantized per pair, exact bucket sums.
    s"""WITH $ngramPairsCteSql,
       |pe AS (SELECT
       |    least(CAST(round(p.jaccard * 1000000.0) AS BIGINT) // 100000,
       |      9) AS jaccard_bucket,
       |    CAST(round(round(list_cosine_similarity(
       |        ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
       |      * 1000000.0) AS BIGINT) AS cm
       |  FROM pairs p
       |    JOIN embeddings ea ON ea.vec_id = p.doc_a
       |    JOIN embeddings eb ON eb.vec_id = p.doc_b),
       |sc AS (SELECT jaccard_bucket,
       |         CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(cm) AS BIGINT) AS s,
       |         CAST(min(cm) AS BIGINT) AS min_cosine_micro,
       |         CAST(max(cm) AS BIGINT) AS max_cosine_micro
       |       FROM pe WHERE cm IS NOT NULL GROUP BY 1)
       |SELECT CAST(jaccard_bucket AS BIGINT) AS jaccard_bucket, n_pairs,
       |       round(s::DOUBLE / (n_pairs::DOUBLE * 1000000.0), 6)
       |         AS avg_cosine,
       |       min_cosine_micro, max_cosine_micro
       |FROM sc ORDER BY jaccard_bucket""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Similarity.thresholdTransfer(
      Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2),
      emb(s, dir))
  }

  /** x249 advised three-way join — see
    * [[graft.operators.Layout.advisedThreeWayJoin]]: the
    * customer/supplier/nation nationkey triple joined in the order
    * [[graft.operators.Layout.joinOrderAdvisor]] forecasts cheapest,
    * with the executed join's row count reported BESIDE the forecast
    * (joined_rows must equal final_rows — the advisor's cardinality
    * model verified against the engine, not just read). Closes the
    * r15 "advisors are read-only" gap as a declared query;
    * PlanShapeSpec pins the physical innermost join pair to the
    * advised order. */
  val x249 = query("x249_advised_join",
    // Replays advisedThreeWayJoin's whole contract: histogram sums in
    // DECIMAL(38,0), best = min(intermediate, order-name tiebreak),
    // and the ACTUAL 3-way join counted beside the forecast.
    """WITH ha AS (SELECT CAST(c_nationkey AS VARCHAR) AS key,
      |        CAST(count(*) AS DECIMAL(38,0)) AS na
      |      FROM customer GROUP BY 1),
      |hb AS (SELECT CAST(s_nationkey AS VARCHAR) AS key,
      |        CAST(count(*) AS DECIMAL(38,0)) AS nb
      |      FROM supplier GROUP BY 1),
      |hc AS (SELECT CAST(n_nationkey AS VARCHAR) AS key,
      |        CAST(count(*) AS DECIMAL(38,0)) AS nc
      |      FROM nation GROUP BY 1),
      |h AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb,
      |        coalesce(nc, 0) AS nc
      |      FROM ha FULL JOIN hb USING (key) FULL JOIN hc USING (key)),
      |s AS (SELECT coalesce(sum(na * nb), 0) AS ab,
      |        coalesce(sum(na * nc), 0) AS ac,
      |        coalesce(sum(nb * nc), 0) AS bc,
      |        coalesce(sum(na * nb * nc), 0) AS fin FROM h),
      |o AS (SELECT 'ab_then_c' AS join_order, ab AS i FROM s
      |      UNION ALL SELECT 'ac_then_b', ac FROM s
      |      UNION ALL SELECT 'bc_then_a', bc FROM s),
      |best AS (SELECT join_order, CAST(i AS BIGINT) AS intermediate_rows
      |         FROM o ORDER BY i, join_order LIMIT 1),
      |fr AS (SELECT CAST(fin AS BIGINT) AS final_rows FROM s),
      |j AS (SELECT CAST(count(*) AS BIGINT) AS joined_rows
      |      FROM customer c
      |        JOIN supplier sp ON c.c_nationkey = sp.s_nationkey
      |        JOIN nation n ON c.c_nationkey = n.n_nationkey)
      |SELECT best.join_order, best.intermediate_rows, fr.final_rows,
      |       j.joined_rows
      |FROM best, fr, j""".stripMargin) { (s, dir) =>
    val (advice, joined) = graft.operators.Layout.advisedThreeWayJoin(
      Tables.load(s, dir, "customer").select(col("c_nationkey").as("k")),
      Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")),
      Tables.load(s, dir, "nation").select(col("n_nationkey").as("k")),
      "k")
    advice.filter(col("best"))
      .select(col("join_order"), col("intermediate_rows"), col("final_rows"))
      .crossJoin(broadcast(
        joined.agg(count(lit(1)).cast("bigint").as("joined_rows"))))
  }

  /** x250 exact duplicated substrings — see
    * [[graft.operators.TextAnalysis.exactDuplicatedSubstrings]]: the
    * audit-grade exact sibling of x225's winnowed estimate at the
    * (k=16) grain — every gram position joins, consecutive-position
    * islands, lcs_chars exact for every emitted pair, df-cap
    * visibility via n_capped_fps. */
  val x250 = query("x250_exact_dup_substrings",
    // Replays exactDuplicatedSubstrings at k=16: every gram position,
    // df cap on occurrence counts, consecutive-position islands
    // (gap > 1 breaks), per-pair exact max run + capped-fp count.
    dupSubstringsOracleSql(where = "")) { (s, dir) =>
    TextAnalysis.exactDuplicatedSubstrings(docs(s, dir),
        k = 16, dfCap = 50, minRunChars = 32)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x251 PII checksum screen — see
    * [[graft.operators.TextAnalysis.piiChecksums]]: Luhn-validated
    * card candidates, ISO-7064 mod-97 IBANs, E.164 phones. The corpus
    * carries no PII, so (the x48 convention) every doc gets a
    * deterministic planted tail: a 16-digit card whose last digit is
    * doc_id%10 (Luhn-valid iff ≡ 1), an IBAN whose check digits are
    * 82+doc_id%7 (mod-97-valid iff ≡ 0 — GB82WEST… is the known-good
    * fixture), and a phone — so valid/candidate counts genuinely
    * exercise both checksums in both engines. */
  val x251 = query("x251_pii_checksums",
    // Replays piiChecksums under the same planted tail: RE2 \b
    // patterns, Luhn as the reversed-position double-and-subtract sum,
    // IBAN mod-97 as the value-encoded element fold (letters >= 10
    // take the 100 multiplier) — the identical encoding the Spark
    // lambda computes.
    """WITH inj AS (SELECT doc_id,
      |    text || ' card 411111111111111' || CAST(doc_id % 10 AS VARCHAR)
      |      || ' iban GB' || CAST(82 + doc_id % 7 AS VARCHAR)
      |      || 'WEST12345698765432 tel +1415555'
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents),
      |ex AS (SELECT doc_id,
      |    regexp_extract_all(t, '\b\d{13,19}\b') AS cards,
      |    list_transform(
      |      regexp_extract_all(t, '\b[A-Z]{2}\d{2}[A-Z0-9]{10,30}\b'),
      |      c -> substr(c, 5) || substr(c, 1, 4)) AS rearr,
      |    len(regexp_extract_all(t, '\+[1-9]\d{7,14}\b')) AS n_phone
      |  FROM inj)
      |SELECT doc_id,
      |  CAST(len(cards) AS BIGINT) AS n_card_candidates,
      |  CAST(len(list_filter(cards, c ->
      |    list_sum(list_transform(range(1, length(c) + 1), i ->
      |      CASE WHEN i % 2 = 1
      |           THEN CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT)
      |           ELSE CASE WHEN CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) * 2 > 9
      |                THEN CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) * 2 - 9
      |                ELSE CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) * 2
      |           END END)) % 10 = 0)) AS BIGINT) AS n_card_valid,
      |  CAST(len(rearr) AS BIGINT) AS n_iban_candidates,
      |  CAST(len(list_filter(rearr, r ->
      |    list_reduce(list_transform(range(1, length(r) + 1), i ->
      |      CASE WHEN substr(r, CAST(i AS INT), 1) BETWEEN 'A' AND 'Z'
      |           THEN CAST(ord(substr(r, CAST(i AS INT), 1)) AS BIGINT) - 55
      |           ELSE CAST(substr(r, CAST(i AS INT), 1) AS BIGINT) END),
      |      (a, v) -> (a * (CASE WHEN v >= 10 THEN 100 ELSE 10 END) + v)
      |        % 97) = 1)) AS BIGINT) AS n_iban_valid,
      |  CAST(n_phone AS BIGINT) AS n_phone
      |FROM ex ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val injected = docs(s, dir).withColumn("text",
      concat(col("text"),
        lit(" card 411111111111111"),
        pmod(col("doc_id"), lit(10)).cast("string"),
        lit(" iban GB"),
        (lit(82) + pmod(col("doc_id"), lit(7))).cast("string"),
        lit("WEST12345698765432 tel +1415555"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
    TextAnalysis.piiChecksums(injected).orderBy(col("doc_id"))
  }

  /** x252 cross-source perplexity matrix — see
    * [[graft.operators.TextAnalysis.crossSourcePerplexity]]: x227's
    * add-one trigram LM trained per source and evaluated on every
    * source — the |sources|² "who can model whom" transfer matrix
    * behind mixture decisions, diagonal = in-domain fit. */
  val x252 = query("x252_cross_perplexity",
    // Replays crossSourcePerplexity: x227's trigram/ctx/vocab chain
    // per SOURCE, the cells x sources grid, identical micro-nat
    // quantization per (gram, train) cell.
    s"""WITH $crossPerplexityCteSql
       |SELECT src_eval, src_train, n_transitions, sum_logp_micro,
       |       round(sum_logp_micro::DOUBLE /
       |             (n_transitions::DOUBLE * 1000000.0), 6) AS avg_logp
       |FROM sc ORDER BY src_eval, src_train""".stripMargin) { (s, dir) =>
    TextAnalysis.crossSourcePerplexity(docs(s, dir))
  }

  /** x253 exact contamination spans — see
    * [[graft.operators.TextAnalysis.exactContaminationSpans]]: x250's
    * exact-substring machinery crossed over the x27 corpus/benchmark
    * split (doc_id ≥ 10 vs < 10) — per contaminated pair, the exact
    * longest verbatim span and its offset in the corpus doc, the
    * numbers a decontamination pass actually acts on. */
  val x253 = query("x253_contamination_spans",
    // Replays exactContaminationSpans over the x27 split: two gram
    // tables, one combined occurrence cap, cross join on the hash,
    // consecutive islands, argmax by (span desc, start asc).
    s"""WITH $contaminationRunsCteSql,
       |best AS (SELECT da, bb, CAST(max(rc) AS BIGINT) AS span,
       |    CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(sum(n) AS BIGINT) AS n_matched_positions
       |  FROM runs GROUP BY 1, 2),
       |st AS (SELECT r.da, r.bb, CAST(min(r.lo) AS BIGINT) AS corpus_start
       |       FROM runs r JOIN best b ON b.da = r.da AND b.bb = r.bb
       |         AND r.rc = b.span
       |       GROUP BY 1, 2)
       |SELECT best.da AS doc_id, best.bb AS bench_id, best.span AS span_chars,
       |       st.corpus_start, best.n_runs, best.n_matched_positions,
       |       cap.n_capped_fps
       |FROM best JOIN st ON st.da = best.da AND st.bb = best.bb, cap
       |ORDER BY doc_id, bench_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.exactContaminationSpans(
        d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
        k = 16, dfCap = 50, minRunChars = 32)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** x254 mixture reweighting — see
    * [[graft.operators.TextAnalysis.mixtureReweight]]: the
    * excess-perplexity weights over x252's cross-source matrix
    * (DoReMi's shape made integer-exact) — sources whose own LM beats
    * every other source's LM on their text earn weight; universally
    * modelable sources are redundant. */
  val x254 = query("x254_mixture_reweight",
    // Replays mixtureReweight over the same matrix: truncating per-cell
    // avg, truncating cross mean over S-1, min-shift + 1e6, one
    // truncating normalization div — all integer.
    s"""WITH $crossPerplexityCteSql,
       |av AS (SELECT src_eval, src_train,
       |         CAST(sum_logp_micro // n_transitions AS BIGINT) AS a
       |       FROM sc),
       |own AS (SELECT src_eval AS source, a AS own_a FROM av
       |        WHERE src_eval = src_train),
       |cr AS (SELECT src_eval AS source,
       |         CAST(sum(a) // count(*) AS BIGINT) AS cross_a
       |       FROM av WHERE src_eval <> src_train GROUP BY 1),
       |exx AS (SELECT o.source, o.own_a, cr.cross_a,
       |          o.own_a - coalesce(cr.cross_a, o.own_a) AS ex
       |        FROM own o LEFT JOIN cr USING (source)),
       |mnn AS (SELECT min(ex) AS mn FROM exx),
       |tt AS (SELECT CAST(sum(ex - mn + 1000000) AS BIGINT) AS tot
       |       FROM exx, mnn)
       |SELECT exx.source, exx.own_a AS own_avg_micro,
       |       exx.cross_a AS cross_avg_micro, exx.ex AS excess_micro,
       |       CAST(((exx.ex - mnn.mn + 1000000)::HUGEINT * 1000000)
       |         // tt.tot AS BIGINT) AS weight_micro
       |FROM exx, mnn, tt ORDER BY exx.source""".stripMargin) { (s, dir) =>
    TextAnalysis.mixtureReweight(docs(s, dir))
  }

  /** x255 decontamination verdicts — see
    * [[graft.operators.TextAnalysis.decontaminationVerdicts]]: the
    * APPLY step over x253's exact spans — per corpus doc, interval-
    * merged contaminated chars, share, and keep/clip/drop at the
    * 20%/50% thresholds. */
  val x255 = query("x255_decontamination_verdicts",
    // Replays decontaminationVerdicts: the shared run chain, char
    // intervals [lo, lo+rc-1] merged per corpus doc (gaps-and-islands
    // on running max end), truncating share, 20%/50% verdicts over
    // EVERY corpus doc.
    s"""WITH $contaminationRunsCteSql,
       |iv AS (SELECT da AS doc_id, lo AS s, lo + rc - 1 AS e FROM runs),
       |mg AS (SELECT doc_id, s, e,
       |    SUM(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM (SELECT doc_id, s, e,
       |          max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |        FROM iv) z),
       |sp AS (SELECT doc_id, isl, max(e) - min(s) + 1 AS chars
       |       FROM mg GROUP BY 1, 2),
       |ag AS (SELECT doc_id, CAST(sum(chars) AS BIGINT) AS cc,
       |         CAST(count(*) AS BIGINT) AS ns
       |       FROM sp GROUP BY 1),
       |base AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars
       |         FROM nd WHERE doc_id >= 10),
       |fin AS (SELECT b.doc_id, b.n_chars,
       |    coalesce(ag.cc, 0) AS contaminated_chars,
       |    CASE WHEN b.n_chars > 0
       |         THEN (coalesce(ag.cc, 0) * 1000000) // b.n_chars
       |         ELSE 0 END AS contaminated_share_micro,
       |    coalesce(ag.ns, 0) AS n_spans
       |  FROM base b LEFT JOIN ag USING (doc_id))
       |SELECT doc_id, n_chars, contaminated_chars,
       |       contaminated_share_micro, n_spans,
       |       CASE WHEN contaminated_share_micro >= 500000 THEN 'drop'
       |            WHEN contaminated_share_micro >= 200000 THEN 'clip'
       |            ELSE 'keep' END AS verdict
       |FROM fin ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.decontaminationVerdicts(
      d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
      k = 16, dfCap = 50, minRunChars = 32)
  }

  /** x256 dedup-stack disagreement — see
    * [[graft.operators.Dedup.dedupStackDisagreement]]: the x04
    * lexical pair relation vs the x05 embedding pair relation,
    * classified both/lexical_only/embedding_only with per-class mean
    * scores — the blind-spot map between the two dedup stacks (x248
    * gives the threshold mapping, this the disagreement mass). */
  val x256 = query("x256_dedup_disagreement",
    // Replays dedupStackDisagreement: the x04 brute-force pair ground
    // truth and the x05 bucketed cosine pairs, micro-quantized, full
    // outer join, truncating class means.
    s"""WITH $ngramPairsCteSql,
       |lp AS (SELECT doc_a, doc_b,
       |         CAST(round(jaccard * 1000000.0) AS BIGINT) AS j
       |       FROM pairs),
       |eb AS (SELECT vec_id, embedding,
       |         ${bucketSql("embedding", 6)} AS bucket
       |       FROM embeddings WHERE len(embedding) = 64),
       |ep AS (SELECT doc_a, doc_b,
       |         CAST(round(cosine * 1000000.0) AS BIGINT) AS c
       |       FROM (SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
       |               round(list_cosine_similarity(a.embedding::DOUBLE[],
       |                 b2.embedding::DOUBLE[]), 6) AS cosine
       |             FROM eb a JOIN eb b2 ON a.bucket = b2.bucket
       |               AND a.vec_id < b2.vec_id) t
       |       WHERE cosine >= 0.15),
       |fj AS (SELECT
       |    CASE WHEN lp.j IS NOT NULL AND ep.c IS NOT NULL THEN 'both'
       |         WHEN lp.j IS NOT NULL THEN 'lexical_only'
       |         ELSE 'embedding_only' END AS dup_class, lp.j, ep.c
       |  FROM lp FULL JOIN ep USING (doc_a, doc_b))
       |SELECT dup_class, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CASE WHEN count(j) > 0
       |            THEN CAST(sum(j) // count(j) AS BIGINT) END
       |         AS avg_jaccard_micro,
       |       CASE WHEN count(c) > 0
       |            THEN CAST(sum(c) // count(c) AS BIGINT) END
       |         AS avg_cosine_micro
       |FROM fj GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Dedup.dedupStackDisagreement(docs(s, dir), emb(s, dir))
  }

  /** x257 SAMPLED exact-duplicated-substrings audit — the standing
    * at-scale path x250's cost model designates (VERDICT r16 item 7):
    * the identical audit-grade exact operator over the deterministic
    * md5-60 50% document sample (the x70 gate — hash of the doc id,
    * so the sample is replayable in any engine and stable across
    * runs). The sample is applied BEFORE gram explode: the df
    * histogram, the dfCap, and n_capped_fps are all computed WITHIN
    * the sample — the audit treats its sample as a corpus, which is
    * the honest estimator shape (a pair survives iff BOTH ends are
    * sampled, so pair mass scales as pct²; at 100 TB the audit runs
    * at 1-10% where x250's every-position join would be the
    * dominant cost, with x225's winnowed sketch as the continuous
    * monitoring path). */
  val x257 = query("x257_sampled_dup_substrings",
    // x257: the identical exact-substring audit over the md5-60 50%
    // doc-id sample (the x70 gate) — df histogram, cap, and
    // n_capped_fps all sample-scoped, like the Spark side.
    dupSubstringsOracleSql(
      where = s" WHERE ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < 50")) { (s, dir) =>
    TextAnalysis.exactDuplicatedSubstrings(
      docs(s, dir).filter(
        graft.functions.TextFunctions.md5Bucket60(col("doc_id")) % 100 < 50),
      k = 16, dfCap = 50, minRunChars = 32)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x258 hashed-embedding dedup agreement — x256's disagreement
    * audit with [[graft.operators.TextAnalysis.hashedEmbedding]] as
    * the embedding side (VERDICT r16 item 4): the learned-embedding
    * fixture is uncorrelated with the planted lexical dups, so
    * x256's `both` class is structurally empty on the synthetic
    * corpus; hashing-trick vectors are text-DERIVED, so lexical
    * near-dups are embedding near-dups by construction and the
    * agreeing-stacks path runs against real data in both engines. */
  val x258 = query("x258_hashed_embedding_agreement",
    // x258: x256's chain with hashing-trick vectors derived from the
    // SAME words() tokens — index = md5-60(w) % 64, sign = parity of
    // the next hash bits, signed-tf integer components, zero vectors
    // dropped; bucket/cosine/classify identical to x256.
    s"""WITH $ngramPairsCteSql,
       |lp AS (SELECT doc_a, doc_b,
       |         CAST(round(jaccard * 1000000.0) AS BIGINT) AS j
       |       FROM pairs),
       |hx AS (SELECT doc_id, ${md5Hash60Sql("w")} AS h
       |       FROM (SELECT doc_id, unnest(${wordsSql("text")}) AS w
       |             FROM documents) z),
       |cm AS (SELECT doc_id, CAST(h % 64 AS INT) AS i,
       |         CAST(sum(CASE WHEN (h // 64) % 2 = 0
       |                       THEN 1 ELSE -1 END) AS BIGINT) AS v
       |       FROM hx GROUP BY 1, 2),
       |mp AS (SELECT doc_id, map(list(i), list(v)) AS m
       |       FROM cm GROUP BY 1),
       |vecs AS MATERIALIZED (SELECT doc_id AS vec_id,
       |    list_transform(range(0, 64),
       |      i -> coalesce(map_extract(m, CAST(i AS INT))[1], 0))
       |      AS embedding
       |  FROM mp),
       |nz AS MATERIALIZED (SELECT vec_id, embedding FROM vecs
       |  WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
       |eb AS (SELECT vec_id, embedding,
       |         ${bucketSql("embedding", 6)} AS bucket FROM nz),
       |ep AS (SELECT doc_a, doc_b,
       |         CAST(round(cosine * 1000000.0) AS BIGINT) AS c
       |       FROM (SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
       |               round(list_cosine_similarity(a.embedding::DOUBLE[],
       |                 b2.embedding::DOUBLE[]), 6) AS cosine
       |             FROM eb a JOIN eb b2 ON a.bucket = b2.bucket
       |               AND a.vec_id < b2.vec_id) t
       |       WHERE cosine >= 0.15),
       |fj AS (SELECT
       |    CASE WHEN lp.j IS NOT NULL AND ep.c IS NOT NULL THEN 'both'
       |         WHEN lp.j IS NOT NULL THEN 'lexical_only'
       |         ELSE 'embedding_only' END AS dup_class, lp.j, ep.c
       |  FROM lp FULL JOIN ep USING (doc_a, doc_b))
       |SELECT dup_class, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CASE WHEN count(j) > 0
       |            THEN CAST(sum(j) // count(j) AS BIGINT) END
       |         AS avg_jaccard_micro,
       |       CASE WHEN count(c) > 0
       |            THEN CAST(sum(c) // count(c) AS BIGINT) END
       |         AS avg_cosine_micro
       |FROM fj GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.dedupStackDisagreement(d, TextAnalysis.hashedEmbedding(d, 64))
  }

  /** x259 intra-doc repeats — see
    * [[graft.operators.TextAnalysis.intraDocRepeats]]: x250's exact
    * diagonal-islands machinery turned inward — the generation-loop /
    * repeated-nav-block audit at the per-document grain, with the
    * per-(doc, gram) occurrence cap visible on every row. To
    * guarantee the operator's repeat path runs on the synthetic
    * corpus (organic intra-doc repeats are rare at small sf), every
    * doc_id ≡ 0 (mod 9) gets its normalized first 40 chars pasted at
    * the end (the x251 planted-input convention, replayed identically
    * by the oracle). */
  val x259 = query("x259_intra_doc_repeats",
    // x259: x250's chain turned inward — self-pairs within a doc,
    // per-(doc, gram) occurrence cap, same planted first-40-chars
    // paste for doc_id % 9 = 0.
    s"""WITH nd AS (SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 0
       |         THEN regexp_replace(trim(lower(text || ' ' ||
       |             substr(regexp_replace(trim(lower(text)), '\\s+', ' ',
       |               'g'), 1, 40))), '\\s+', ' ', 'g')
       |         ELSE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
       |    END AS t
       |  FROM documents),
       |hs AS MATERIALIZED (SELECT doc_id,
       |    list_transform(range(1, greatest(length(t) - 15, 0) + 1),
       |      i -> ${md5Hash60Sql("substr(t, CAST(i AS INT), 16)")}) AS h
       |  FROM nd),
       |g AS MATERIALIZED (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS p,
       |    h[CAST(u.i AS INT)] AS f
       |  FROM hs, LATERAL (SELECT unnest(range(1, len(h) + 1)) AS i) u
       |  WHERE len(h) > 0),
       |cells AS MATERIALIZED (SELECT doc_id, f, count(*) AS m
       |  FROM g GROUP BY 1, 2),
       |cap AS (SELECT CAST(count(*) AS BIGINT) AS n_capped_cells
       |        FROM cells WHERE m > 20),
       |pr AS MATERIALIZED (SELECT g.doc_id, g.p, g.f
       |  FROM g JOIN cells USING (doc_id, f) WHERE m BETWEEN 2 AND 20),
       |mt AS (SELECT a.doc_id, a.p AS pa, b.p - a.p AS diag
       |  FROM pr a JOIN pr b ON a.doc_id = b.doc_id AND a.f = b.f
       |    AND a.p < b.p),
       |isl AS (SELECT doc_id, diag, pa,
       |    SUM(CASE WHEN pa - lp > 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id, diag ORDER BY pa
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
       |  FROM (SELECT *, lag(pa) OVER (PARTITION BY doc_id, diag
       |          ORDER BY pa) AS lp FROM mt) z),
       |runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    max(pa) - min(pa) + 16 AS rc
       |  FROM isl GROUP BY doc_id, diag, i
       |  HAVING max(pa) - min(pa) + 16 >= 32),
       |agg AS (SELECT doc_id,
       |    CAST(max(rc) AS BIGINT) AS max_repeat_chars,
       |    CAST(count(*) AS BIGINT) AS n_repeat_runs,
       |    CAST(sum(n) AS BIGINT) AS n_matched_positions
       |  FROM runs GROUP BY 1)
       |SELECT agg.doc_id, agg.max_repeat_chars, agg.n_repeat_runs,
       |       agg.n_matched_positions, cap.n_capped_cells
       |FROM agg, cap ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val planted = docs(s, dir).withColumn("text",
      when(pmod(col("doc_id"), lit(9)) === 0,
        concat(col("text"), lit(" "),
          substring(regexp_replace(trim(lower(col("text"))), "\\s+", " "),
            1, 40)))
        .otherwise(col("text")))
    TextAnalysis.intraDocRepeats(planted, k = 16, occCap = 20,
        minRunChars = 32)
      .orderBy(col("doc_id"))
  }

  /** x260 full-cycle text periodicity — see
    * [[graft.operators.TextAnalysis.textPeriodicity]]: the KMP
    * smallest-full-period kernel vs the oracle's divisor-check
    * definition, agreeing exactly on every input. Periodic inputs are
    * CONSTRUCTED from the corpus (x251 convention): each doc's
    * normalized prefix of length 1 + doc_id % 7 is repeated
    * 3 + doc_id % 4 times — the reported min_period must then divide
    * the prefix length's cycle (it is SMALLER whenever the prefix is
    * itself periodic, which the corpus genuinely produces). */
  val x260 = query("x260_text_periodicity",
    // x260: the divisor-check DEFINITION of the smallest full-cycle
    // period over the same constructed periodic strings — the KMP
    // kernel must agree on every input.
    s"""WITH built AS (SELECT doc_id,
       |    repeat(substr(regexp_replace(trim(lower(text)), '\\s+', ' ',
       |        'g'), 1, CAST(1 + doc_id % 7 AS INT)),
       |      CAST(3 + doc_id % 4 AS INT)) AS t
       |  FROM documents),
       |base AS (SELECT doc_id, t, CAST(length(t) AS BIGINT) AS n
       |  FROM (SELECT doc_id,
       |          regexp_replace(trim(lower(t)), '\\s+', ' ', 'g') AS t
       |        FROM built) z),
       |per AS (SELECT doc_id, n,
       |    coalesce(list_min(list_filter(range(1, n + 1),
       |      p -> (n % p = 0) AND
       |           (repeat(substr(t, 1, CAST(p AS INT)),
       |              CAST(n // p AS INT)) = t))), 0) AS min_period
       |  FROM base)
       |SELECT doc_id, n AS n_chars, CAST(min_period AS BIGINT)
       |         AS min_period,
       |       CASE WHEN min_period > 0 THEN CAST(n // min_period AS BIGINT)
       |            ELSE 0 END AS n_cycles,
       |       min_period < n AS is_periodic
       |FROM per ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val built = docs(s, dir).select(col("doc_id"),
      expr("repeat(substring(regexp_replace(trim(lower(text)), '\\\\s+', ' '), " +
        "1, CAST(1 + doc_id % 7 AS INT)), CAST(3 + doc_id % 4 AS INT))")
        .as("text"))
    TextAnalysis.textPeriodicity(built).orderBy(col("doc_id"))
  }

  /** x262 stratified deterministic sample — see
    * [[graft.operators.Profile.stratifiedSample]]: exactly 25 docs
    * per language by md5-60-hash rank (upper 52 bits — double-exact
    * for the bounded heap), the seeded engine-portable eval-split
    * sampler. Bounded-heap aggregation, never a per-stratum sort. */
  val x262 = query("x262_stratified_sample",
    // x262: hash-rank sample — row_number over the 52-bit hash with
    // the id tie-break replays the bounded heap's order exactly.
    s"""SELECT lang AS stratum, CAST(rank AS BIGINT) AS rank,
       |       doc_id AS id, h AS sample_hash52
       |FROM (SELECT lang, doc_id,
       |        ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} // 256 AS h,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} // 256,
       |                   doc_id) AS rank
       |      FROM documents) t
       |WHERE rank <= 25 ORDER BY stratum, rank""".stripMargin) { (s, dir) =>
    graft.operators.Profile.stratifiedSample(docs(s, dir), "doc_id",
        "lang", k = 25)
      .orderBy(col("stratum"), col("rank"))
  }

  /** x263 PMI collocations — see
    * [[graft.operators.TextAnalysis.pmiCollocations]]: top-50 adjacent
    * word pairs by pointwise mutual information (count floor 5), the
    * Church-Hanks multiword-unit / boilerplate-residue screen. */
  val x263 = query("x263_pmi_collocations",
    // x263: exact pair/margin counts, one ln quantized per pair,
    // full-order (pmi desc, w1, w2) top-50.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |pr AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
       |       FROM (SELECT w, unnest(range(1, len(w))) AS i
       |             FROM toks WHERE len(w) >= 2)),
       |pc AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
       |      FROM pr GROUP BY 1, 2),
       |lm AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left
       |       FROM pc GROUP BY 1),
       |rm AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_right
       |       FROM pc GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM pc)
       |SELECT pc.w1, pc.w2, pc.n_pair, lm.n_left, rm.n_right,
       |       CAST(round(round(ln(tot.n::DOUBLE * pc.n_pair::DOUBLE /
       |           (lm.n_left::DOUBLE * rm.n_right::DOUBLE)), 6)
       |         * 1000000.0) AS BIGINT) AS pmi_micro
       |FROM pc JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot
       |WHERE pc.n_pair >= 5
       |ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""".stripMargin) { (s, dir) =>
    TextAnalysis.pmiCollocations(docs(s, dir), minCount = 5L, topN = 50)
  }

  /** x264 source-pair gram overlap — see
    * [[graft.operators.TextAnalysis.sourceGramOverlap]]: the exact
    * distinct-word-3-gram Jaccard matrix over source pairs — shared-
    * language mass (syndication, template families) that doc-level
    * dup flows (x185) can miss. */
  val x264 = query("x264_source_gram_overlap",
    // x264: distinct (source, 3-gram) sets, equi-join intersection,
    // inclusion-exclusion Jaccard in truncating micro.
    s"""WITH toks AS (SELECT source, ${wordsSql("text")} AS w
       |              FROM documents),
       |sg AS MATERIALIZED (SELECT DISTINCT source AS src, g
       |  FROM (SELECT source, unnest(${wordNgramsSql(3, distinct = false)}) AS g
       |        FROM toks) z),
       |sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n_grams
       |          FROM sg GROUP BY 1),
       |inter AS (SELECT a.src AS source_a, b.src AS source_b,
       |            CAST(count(*) AS BIGINT) AS n_common
       |          FROM sg a JOIN sg b ON a.g = b.g AND a.src < b.src
       |          GROUP BY 1, 2)
       |SELECT i.source_a, i.source_b, sa.n_grams AS n_a,
       |       sb.n_grams AS n_b, i.n_common,
       |       CAST(i.n_common * 1000000 //
       |         (sa.n_grams + sb.n_grams - i.n_common) AS BIGINT)
       |         AS jaccard_micro
       |FROM inter i JOIN sizes sa ON sa.src = i.source_a
       |             JOIN sizes sb ON sb.src = i.source_b
       |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    TextAnalysis.sourceGramOverlap(docs(s, dir), n = 3)
  }

  /** x265 threshold cluster churn — see
    * [[graft.operators.Dedup.clusteringAgreement]]: exact Rand/ARI
    * between the near-dup clusterings at J ≥ 0.2 and J ≥ 0.975
    * (the fixtures' planted pairs all sit at J ≥ 0.9, so 0.975 is the
    * cut that genuinely splits the graph)
    * (assignments extended to ALL docs, singletons labeled by their
    * own id) — the membership-churn reading that x144's count sweep
    * and x248's score transfer don't capture. */
  val x265 = query("x265_threshold_cluster_churn",
    // x265: two recursive closures (J >= 0.2 and >= 0.975) extended to
    // all docs, Hubert-Arabie contingency identities in HUGEINT,
    // truncating micro divisions.
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed2 AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |n2 AS (SELECT DISTINCT a AS node FROM ed2),
       |r2(node, r) AS (
       |  SELECT node, node FROM n2
       |  UNION
       |  SELECT r2.node, ed2.b FROM r2 JOIN ed2 ON ed2.a = r2.r),
       |c2m AS (SELECT node AS doc_id, min(r) AS cl FROM r2 GROUP BY 1),
       |p5 AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.975),
       |ed5 AS (SELECT doc_a AS a, doc_b AS b FROM p5
       |        UNION SELECT doc_b, doc_a FROM p5),
       |n5 AS (SELECT DISTINCT a AS node FROM ed5),
       |r5(node, r) AS (
       |  SELECT node, node FROM n5
       |  UNION
       |  SELECT r5.node, ed5.b FROM r5 JOIN ed5 ON ed5.a = r5.r),
       |c5m AS (SELECT node AS doc_id, min(r) AS cl FROM r5 GROUP BY 1),
       |asg AS MATERIALIZED (SELECT d.doc_id,
       |    coalesce(c2m.cl, d.doc_id) AS ca,
       |    coalesce(c5m.cl, d.doc_id) AS cb
       |  FROM documents d LEFT JOIN c2m USING (doc_id)
       |                   LEFT JOIN c5m USING (doc_id)),
       |sab_t AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0)
       |            AS HUGEINT) AS sab
       |          FROM (SELECT count(*) AS c FROM asg GROUP BY ca, cb) z),
       |sa_t AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0)
       |           AS HUGEINT) AS sa
       |         FROM (SELECT count(*) AS c FROM asg GROUP BY ca) z),
       |sb_t AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0)
       |           AS HUGEINT) AS sb
       |         FROM (SELECT count(*) AS c FROM asg GROUP BY cb) z),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
       |         CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 AS bigN
       |       FROM asg)
       |SELECT nt.n_items,
       |  CAST(sab AS BIGINT) AS together_both,
       |  CAST(sa - sab AS BIGINT) AS together_a_only,
       |  CAST(sb - sab AS BIGINT) AS together_b_only,
       |  CASE WHEN bigN > 0 THEN
       |    CAST(((bigN - sa - sb + 2 * sab) * 1000000) // bigN AS BIGINT)
       |  END AS rand_micro,
       |  CASE WHEN (bigN * (sa + sb) - 2 * sa * sb) <> 0 THEN
       |    CAST((2 * (sab * bigN - sa * sb) * 1000000) //
       |      (bigN * (sa + sb) - 2 * sa * sb) AS BIGINT)
       |  END AS ari_micro
       |FROM nt, sab_t, sa_t, sb_t""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    // r19: ONE sketch + candidate + exact-Jaccard pass feeds both
    // thresholds — the minJaccard cut is a pure post-scoring filter in
    // ngramJaccardNearDup, so pairs@0.975 ≡ pairs@0.2 filtered on the
    // same 6-dp-rounded jaccard column (identical candidates,
    // identical scores). The checkpointed pair relation is planted-
    // duplicate-scale (≪ corpus); the old shape re-tokenized and
    // re-scored the whole corpus per threshold.
    val pairs = Dedup.ngramJaccardNearDup(
      d, "doc_id", "text", ngram = 3, prefixK = 8, minJaccard = 0.2)
      .transform(Materialize(_, "ExtensionQueries.x265: pairs"))
    def assign(p: DataFrame): DataFrame =
      d.select(col("doc_id")).join(
        Dedup.connectedComponents(p),
        Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    Dedup.clusteringAgreement(assign(pairs),
      assign(pairs.filter(col("jaccard") >= 0.975)))
  }

  /** x266 near-dup pair evidence — see
    * [[graft.operators.Dedup.pairEvidence]]: the 3 rarest shared
    * word-3-grams per x04 candidate pair — the reviewer-facing "why
    * did these match" forensics. */
  val x266 = query("x266_pair_evidence",
    // x266: per-pair rarest shared distinct 3-grams (df asc, gram) top-3.
    s"""WITH $ngramPairsCteSql,
       |grams AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(g) AS gram
       |  FROM (SELECT doc_id, ${wordNgramsSql(3)} AS g
       |        FROM (SELECT doc_id, ${wordsSql("text")} AS w
       |              FROM documents) t1) t2),
       |dfc AS (SELECT gram, CAST(count(*) AS BIGINT) AS df
       |        FROM grams GROUP BY 1),
       |shared AS (SELECT p.doc_a, p.doc_b, ga.gram
       |  FROM pairs p
       |  JOIN grams ga ON ga.doc_id = p.doc_a
       |  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram),
       |rk AS (SELECT s.doc_a, s.doc_b, s.gram, dfc.df,
       |         CAST(row_number() OVER (PARTITION BY s.doc_a, s.doc_b
       |           ORDER BY dfc.df, s.gram) AS BIGINT) AS rank
       |       FROM shared s JOIN dfc USING (gram))
       |SELECT doc_a, doc_b, gram, df, rank FROM rk WHERE rank <= 3
       |ORDER BY doc_a, doc_b, rank""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.pairEvidence(d,
      Dedup.ngramJaccardNearDup(d, "doc_id", "text", ngram = 3,
        prefixK = 8, minJaccard = 0.2),
      ngram = 3, topK = 3)
  }

  /** x267 pair edit similarity — see
    * [[graft.operators.Dedup.pairEditSimilarity]]: exact Levenshtein
    * over the normalized texts of the x04 candidate pairs — the
    * one-edited-sentence vs scattered-swaps discriminator behind the
    * Jaccard estimate. The default 20000-char fence (r18) nulls the
    * per-pair quadratic for oversized pairs instead of paying it. */
  val x267 = query("x267_pair_edit_similarity",
    // x267: classic unit-cost Levenshtein over the normalized pair
    // texts; truncating micro similarity. The 20000-char fence mirrors
    // the operator's per-pair quadratic guard (null + fenced flag past
    // it) — no fixture pair trips it, but the oracle states the same
    // contract the operator enforces.
    s"""WITH $ngramPairsCteSql,
       |nd AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(length(a.t) AS BIGINT) AS len_a,
       |  CAST(length(b.t) AS BIGINT) AS len_b,
       |  greatest(length(a.t), length(b.t)) > 20000 AS fenced,
       |  CASE WHEN greatest(length(a.t), length(b.t)) <= 20000 THEN
       |    CAST(levenshtein(a.t, b.t) AS BIGINT)
       |  END AS edit_distance,
       |  CASE WHEN greatest(length(a.t), length(b.t)) > 20000 THEN NULL
       |  WHEN greatest(length(a.t), length(b.t)) > 0 THEN
       |    CAST((greatest(length(a.t), length(b.t)) -
       |        levenshtein(a.t, b.t)) * 1000000 //
       |      greatest(length(a.t), length(b.t)) AS BIGINT)
       |  ELSE 1000000 END AS similarity_micro
       |FROM pairs p JOIN nd a ON a.doc_id = p.doc_a
       |             JOIN nd b ON b.doc_id = p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    Dedup.pairEditSimilarity(d,
      Dedup.ngramJaccardNearDup(d, "doc_id", "text", ngram = 3,
        prefixK = 8, minJaccard = 0.2))
  }

  /** x268 cluster density — see
    * [[graft.operators.Dedup.clusterDensity]]: per near-dup component,
    * direct edges vs C(size,2) — the chaining audit behind every
    * transitive-closure dedup. Run at J ≥ 0.2 where the fixture graph
    * has real multi-doc components. */
  val x268 = query("x268_cluster_density",
    // x268: recursive closure + per-cluster direct-edge counts,
    // truncating micro density.
    s"""WITH RECURSIVE $ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cc AS MATERIALIZED (SELECT node AS doc_id, min(r) AS cluster_id
       |  FROM reach GROUP BY node),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
       |       FROM cc GROUP BY 1),
       |eg AS (SELECT cc.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
       |       FROM pairs p JOIN cc ON cc.doc_id = p.doc_a GROUP BY 1)
       |SELECT sz.cluster_id, sz.size, eg.n_edges,
       |       CAST(eg.n_edges * 1000000 //
       |         (sz.size * (sz.size - 1) // 2) AS BIGINT) AS density_micro,
       |       (eg.n_edges * 1000000 //
       |         (sz.size * (sz.size - 1) // 2)) < 500000 AS chained
       |FROM sz JOIN eg USING (cluster_id)
       |ORDER BY size DESC, cluster_id""".stripMargin) { (s, dir) =>
    Dedup.clusterDensity(Dedup.ngramJaccardNearDup(docs(s, dir),
      "doc_id", "text", ngram = 3, prefixK = 8, minJaccard = 0.2))
  }

  /** x269 per-source unicode rollup — the ORACLED batch grain of the
    * streaming [[graft.streaming.Streaming.unicodeMonitorWithState]]:
    * x261's per-doc counts (same planted tails) aggregated per
    * source — (n_docs, n_dirty_docs, four counter sums). */
  val x269 = query("x269_source_unicode_rollup",
    // x269: x261's per-doc counts (same planted tails) rolled up per
    // source.
    s"""WITH inj AS (SELECT doc_id, source,
       |    text || repeat(chr(8203), CAST(doc_id % 3 AS INT))
       |         || CASE WHEN doc_id % 5 = 0 THEN chr(8238) ELSE '' END
       |         || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END
       |      AS t
       |  FROM documents),
       |pd AS (SELECT source,
       |  CAST(len(regexp_extract_all(t,
       |    '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]')) AS BIGINT) AS zw,
       |  CAST(len(regexp_extract_all(t,
       |    '[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]')) AS BIGINT) AS bd,
       |  CAST(len(regexp_extract_all(t, '\\x{FFFD}')) AS BIGINT) AS rp,
       |  CAST(len(regexp_extract_all(t,
       |    '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]')) AS BIGINT)
       |    AS ct
       |  FROM inj)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN zw + bd + rp + ct > 0 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_dirty_docs,
       |       CAST(sum(zw) AS BIGINT) AS n_zero_width,
       |       CAST(sum(bd) AS BIGINT) AS n_bidi,
       |       CAST(sum(rp) AS BIGINT) AS n_replacement,
       |       CAST(sum(ct) AS BIGINT) AS n_ctrl
       |FROM pd GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val planted = docs(s, dir).withColumn("text", concat(col("text"),
      expr("repeat('\\u200B', CAST(doc_id % 3 AS INT))"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("\u202E"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("\uFFFD"))
        .otherwise(lit(""))))
    TextAnalysis.unicodeAnomalies(planted)
      .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).cast("bigint")
          .as("n_dirty_docs"),
        sum(col("n_zero_width")).cast("bigint").as("n_zero_width"),
        sum(col("n_bidi")).cast("bigint").as("n_bidi"),
        sum(col("n_replacement")).cast("bigint").as("n_replacement"),
        sum(col("n_ctrl")).cast("bigint").as("n_ctrl"))
      .orderBy(col("source"))
  }

  /** Versioned artifact table under the system temp dir, keyed by the
    * sf dir — the x270/x271 train→snapshot→serve queries need a
    * stable writable location outside the read-only testdata tree.
    * Each run appends one snapshot version and vacuums to the last
    * two, so repeated bench/verify sweeps stay disk-bounded. */
  private def artifactTable(dir: String, name: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_artifacts_$key/$name").getPath
  }

  /** x270 IVF served from a versioned snapshot — the index-artifact
    * LIFECYCLE (VERDICT r17 item 5): the x22 trained coarse quantizer
    * is committed through [[graft.sources.IndexArtifacts]] as an
    * immutable [[graft.sources.SnapshotStore]] version, read back via
    * `readVersion` PINNED to this run's commit (a concurrent retrain
    * publishing a newer version cannot change the geometry under this
    * query), and the identical probe then runs from the served
    * centroids. Float bits round-trip parquet exactly, so the result
    * is bit-identical to x22's — which is what the shared rendered
    * oracle (`x22.oracle`) value-checks. */
  val x270 = renderedQuery("x270_ivf_snapshot_served",
    // x270 serves the SAME trained centroids from a SnapshotStore
    // version — float bits round-trip parquet exactly, so one
    // replay oracle value-checks both the in-memory and the
    // snapshot-served path (that equality IS the x270 contract)
    x22.oracle) { (s, dir) =>
    val table = artifactTable(dir, "ivf_centroids")
    val commit = graft.sources.IndexArtifacts.saveCentroids(
      s, table, x22Centroids(s, dir))
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    val served = graft.sources.IndexArtifacts.loadCentroids(
      s, table, Some(commit.version))
    val indexed = Similarity.ivfAssignFixed(validEmb(s, dir), served)
    val qv = validEmb(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.ivfTopK(indexed, served, qv, k = 10, nProbe = 3)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x271 BPE encode from snapshot-served merges — the tokenizer half
    * of the artifact lifecycle: the 6-round merge table is trained
    * once, committed as a SnapshotStore version, served back via
    * `readVersion`, and the x209 encode+rollup runs from the SERVED
    * frame (the merges never pass through the driver — the snapshot
    * DataFrame feeds bpeEncode's broadcast-join replay directly).
    * Train/serve decoupling is the production tokenizer shape; the
    * static x209 oracle value-checks the round-trip losslessly. */
  val x271 = query("x271_bpe_snapshot_served",
    // x271 serves the SAME induced merge table from a SnapshotStore
    // version — the snapshot round-trip is lossless (longs + strings
    // in parquet), so x209's static replay oracle value-checks the
    // served path too; that equality IS the x271 contract
    x209.oracle.get) { (s, dir) =>
    val d = docs(s, dir)
    val table = artifactTable(dir, "bpe_merges")
    val commit = graft.sources.IndexArtifacts.saveBpeMerges(
      s, table, TextAnalysis.bpeInduction(d, 6))
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    bpeEncodeRollup(d, graft.sources.IndexArtifacts.loadBpeMerges(
      s, table, Some(commit.version)))
  }

  /** x272 quality-weighted curation sample — see
    * [[graft.operators.Profile.weightedSample]]: per source, 10 docs
    * drawn WITHOUT replacement with probability ∝ n_chars via the
    * deterministic Efraimidis–Spirakis key (hash-uniform u, rank by
    * u^(1/w) as the exact integer division lnu_micro/w). The
    * replayable "sample big docs more" selector — one bounded-heap
    * agg, never a per-stratum sort. */
  val x272 = query("x272_weighted_sample",
    // x272: Efraimidis–Spirakis replay — the one ln is quantized to
    // micro-nats per row; the selection key and its micro rendering
    // are IEEE ops over exact integers, identical in both engines.
    s"""WITH h AS (
       |  SELECT source, doc_id, n_chars,
       |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) // 256) AS h52
       |  FROM documents WHERE n_chars > 0),
       |k AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(round(ln((h52::DOUBLE + 1.0) / 4503599627370496.0)
       |      * 1000000.0) AS BIGINT) AS lnu
       |  FROM h),
       |r AS (
       |  SELECT source AS stratum, doc_id AS id,
       |    CAST(round((lnu::DOUBLE / n_chars::DOUBLE) * 1000000.0)
       |      AS BIGINT) AS key_micro,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY lnu::DOUBLE / n_chars::DOUBLE DESC, doc_id) AS rank
       |  FROM k)
       |SELECT stratum, CAST(rank AS BIGINT) AS rank, id, key_micro
       |FROM r WHERE rank <= 10 ORDER BY stratum, rank""".stripMargin) { (s, dir) =>
    graft.operators.Profile.weightedSample(docs(s, dir), "doc_id",
      "source", "n_chars", k = 10)
      .orderBy(col("stratum"), col("rank"))
  }

  /** The x273/x274 shared label: English-or-not, the classic binary
    * doc filter the hashed NB classifier trains against. */
  private def nbLabel = col("lang") === "en"

  /** x273 hashed naive-Bayes doc classifier, trained AND served in
    * one run — see [[graft.operators.TextAnalysis.nbTrain]] /
    * [[TextAnalysis.nbSourceReport]]: token-presence features hashed
    * to 2^18 buckets (weight table broadcastable at ANY corpus
    * scale), Laplace log-odds quantized to integer micro-nats at the
    * single ln per term, per-source verdict/accuracy rollup. */
  val x273 = query("x273_nb_lang_filter",
    // x273: hashed Bernoulli NB replay — presence features at
    // md5-60 mod 2^18, each Laplace ln quantized once, integer
    // composition after; zero-token docs score the bias alone.
    // (CTE chain shared with x279's calibration bucketing.)
    s"""WITH $nbCtesSql
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pred_pos,
       |  CAST(sum(CASE WHEN (s > 0) = y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT)
       |    AS avg_score_micro
       |FROM verdicts GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.nbSourceReport(d, nbLabel, TextAnalysis.nbTrain(d, nbLabel))
  }

  /** x274 the same classifier served from a SNAPSHOT-versioned weight
    * table — the model half of the index-artifact lifecycle (x270
    * serves geometry, this serves a trained model): nbTrain's weights
    * are committed through [[graft.sources.IndexArtifacts]], read
    * back pinned to this run's version, and the identical per-source
    * report runs from the served frame. Longs round-trip parquet
    * exactly, so x273's static oracle value-checks the served path —
    * that equality IS the contract. */
  val x274 = query("x274_nb_snapshot_served",
    // x274 serves x273's trained weights from a snapshot — longs
    // round-trip parquet exactly, so one replay value-checks both
    x273.oracle.get) { (s, dir) =>
    val d = docs(s, dir)
    val table = artifactTable(dir, "nb_weights")
    val commit = graft.sources.IndexArtifacts.saveClassifier(
      s, table, TextAnalysis.nbTrain(d, nbLabel))
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    TextAnalysis.nbSourceReport(d, nbLabel,
      graft.sources.IndexArtifacts.loadClassifier(s, table,
        Some(commit.version)))
  }

  /** x275 ingest dedup against a SNAPSHOT-SERVED corpus sketch — the
    * corpus-scale half of the artifact lifecycle (x270/x274 serve
    * broadcast-scale artifacts; the standing dedup INDEX is
    * corpus-scale): the %7≠0 corpus's n-gram sketch is committed as a
    * SnapshotStore version, the %7=0 "ingest batch" probes the
    * version-pinned index via [[graft.operators.Dedup
    * .crossNearDupSketched]] (bottom-8 prefix candidates, exact
    * Jaccard rescore) — the production ingest hot path: zero
    * re-hashing of the standing corpus per batch, and a concurrent
    * index rebuild cannot change this batch's geometry. Long arrays
    * round-trip parquet exactly, so the oracle replays the split
    * directly. */
  val x275 = query("x275_snapshot_ingest_dedup",
    // x275: exact-Jaccard replay of the snapshot-served ingest probe —
    // the snapshot round-trip is lossless (long arrays in parquet), so
    // the oracle replays the %7 split directly, same shape as x57's.
    s"""WITH toks AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(3)} AS g FROM toks),
       |ex AS (SELECT doc_id, len(g) AS sz, unnest(g) AS gram FROM ng WHERE len(g) > 0),
       |ipairs AS (
       |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS isz,
       |         any_value(a.sz) AS sa, any_value(b.sz) AS sb
       |  FROM ex a JOIN ex b ON a.gram = b.gram
       |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT new_id, old_id, jaccard FROM (
       |  SELECT new_id, old_id,
       |         round(isz::DOUBLE / (sa + sb - isz)::DOUBLE, 6) AS jaccard
       |  FROM ipairs) t
       |WHERE jaccard >= 0.2
       |ORDER BY new_id, old_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val table = artifactTable(dir, "corpus_sketch")
    val commit = graft.sources.IndexArtifacts.saveSketch(s, table,
      Dedup.ngramSketch(d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        "doc_id", "text", ngram = 3))
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    Dedup.crossNearDupSketched(
      Dedup.ngramSketch(d.filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", ngram = 3),
      graft.sources.IndexArtifacts.loadSketch(s, table,
        Some(commit.version)),
      prefixK = 8, minJaccard = 0.2)
      .orderBy(col("new_id"), col("old_id"))
  }

  /** x276 tokenizer-upgrade impact report — two VERSIONS of one
    * snapshot table compared via time travel (the readVersion use
    * x270/x271 pin individually, here doing the job version history
    * exists for): greedy BPE's first 4 merge rounds ARE the 4-round
    * tokenizer, so v1 = merges with round ≤ 4 and v2 = the full
    * 6-round table commit as versions of the SAME SnapshotStore
    * table; the corpus is encoded under BOTH served versions and the
    * per-source token totals joined — tokens saved by the upgrade, in
    * integer micro-units. The question every tokenizer rollout asks
    * ("what does v+1 do to my token bill, per source") answered from
    * the artifact store alone. */
  val x276 = query("x276_tokenizer_upgrade_impact",
    // x276: both tokenizer versions fall out of ONE 6-round chain —
    // greedy BPE's round-4 state IS the 4-round tokenizer, so v4 and
    // v6 (both MATERIALIZED in bpeCtesSql) encode the two versions.
    s"""WITH ${bpeCtesSql(6)},
       |t4 AS (SELECT wid, CAST(len(syms) AS BIGINT) AS t FROM v4),
       |t6 AS (SELECT wid, CAST(len(syms) AS BIGINT) AS t FROM v6),
       |dx AS (SELECT source, w FROM (
       |         SELECT source, unnest(${wordsSql("text")}) AS w
       |         FROM documents) z WHERE len(w) >= 2),
       |a4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |              CAST(sum(t4.t) AS BIGINT) AS tokens_old
       |       FROM dx JOIN t4 ON t4.wid = dx.w GROUP BY source),
       |a6 AS (SELECT source, CAST(sum(t6.t) AS BIGINT) AS tokens_new
       |       FROM dx JOIN t6 ON t6.wid = dx.w GROUP BY source)
       |SELECT a4.source, n_words, tokens_old, tokens_new,
       |       CAST((tokens_old - tokens_new) * 1000000 // tokens_old
       |         AS BIGINT) AS saved_micro
       |FROM a4 JOIN a6 USING (source) ORDER BY source""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val table = artifactTable(dir, "bpe_versions")
    val merges = TextAnalysis.bpeInduction(d, 6)
    val c4 = graft.sources.IndexArtifacts.saveBpeMerges(
      s, table, merges.filter(col("round") <= 4))
    val c6 = graft.sources.IndexArtifacts.saveBpeMerges(s, table, merges)
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    // r18: the two served encodes read ONE corpus — tokenize and
    // count once (the scorecard "one tokenization pass" rule), then
    // each version is a kernel projection over the shared frames
    val wc = d.select(explode(graft.functions.TextFunctions
        .words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .transform(Materialize(_, "ExtensionQueries.x276: word counts"))
    val srcWords = d.select(col("source"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .transform(Materialize(_, "ExtensionQueries.x276: srcWords"))
    // r19 (VERDICT r18 item 6, step 2): BOTH version encodes come out
    // of one kernel projection over the shared distinct-word frame
    // (bpeEncodeDualFromWordCounts), so the corpus (source, word)
    // frame joins the vocab ONCE and one aggregate emits both token
    // sums — the old shape ran encode + join + agg per version. The
    // per-version token counts are the identical kernels under the
    // version-pinned merge arrays, and n_words is the same join
    // cardinality either way (both encodes cover exactly the wc keys).
    val enc = TextAnalysis.bpeEncodeDualFromWordCounts(wc,
        graft.sources.IndexArtifacts.loadBpeMerges(s, table,
          Some(c4.version)), 4,
        graft.sources.IndexArtifacts.loadBpeMerges(s, table,
          Some(c6.version)), 6)
      .select(col("wid").as("__w"),
        size(col("syms_a")).cast("long").as("__t4"),
        size(col("syms_b")).cast("long").as("__t6"))
    srcWords
      .join(enc, Seq("__w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_words"),
        sum(col("__t4")).cast("bigint").as("tokens_old"),
        sum(col("__t6")).cast("bigint").as("tokens_new"))
      .select(col("source"), col("n_words"),
        col("tokens_old"), col("tokens_new"),
        expr("(tokens_old - tokens_new) * 1000000L div tokens_old")
          .as("saved_micro"))
      .orderBy(col("source"))
  }

  private val x277Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  /** Train (once per dir per JVM) the RETRAINED coarse quantizer x277
    * compares against x22's — a different k-means seed stands in for
    * "the index was rebuilt on fresh data". */
  private[graft] def x277Retrained(s: SparkSession,
      dir: String): Array[Array[Float]] =
    x277Cache.computeIfAbsent(dir,
      _ => Similarity.ivfIndex(validEmb(s, dir), nLists = 8, seed = 99L)._1)

  /** x277 IVF rebuild churn — the ANN sibling of x276's
    * version-compare: the standing quantizer (x22's, snapshot v1) and
    * a retrain (seed-99, v2) commit as versions of ONE SnapshotStore
    * table, every corpus vector is assigned under BOTH version-pinned
    * geometries, and the (list_old, list_new) transition matrix is
    * the rollout-gate read — how much of the corpus a rebuild
    * re-shelves (re-shelved vectors invalidate cached probe routes
    * and any per-list statistics). Both centroid sets export to the
    * rendered churn replay, so the matrix is value-checked. */
  val x277 = renderedQuery("x277_ivf_rebuild_churn",
    // x277 additionally needs the retrained set: its churn replay
    // renders only once both trainings have happened in this JVM
    for {
      d <- x22LastDir
      c <- Option(x22Cache.get(d))
      c2 <- Option(x277Cache.get(d))
    } yield ivfChurnSql(centValuesSqlFor(c), centValuesSqlFor(c2))) { (s, dir) =>
    val table = artifactTable(dir, "ivf_versions")
    val c1 = graft.sources.IndexArtifacts.saveCentroids(
      s, table, x22Centroids(s, dir))
    val c2 = graft.sources.IndexArtifacts.saveCentroids(
      s, table, x277Retrained(s, dir))
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    val e = validEmb(s, dir)
    def assigned(version: Long, as: String) =
      Similarity.ivfAssignFixed(e, graft.sources.IndexArtifacts
          .loadCentroids(s, table, Some(version)))
        .select(col("vec_id"), col("list_id").cast("bigint").as(as))
    assigned(c1.version, "list_old")
      .join(assigned(c2.version, "list_new"), Seq("vec_id"))
      .groupBy(col("list_old"), col("list_new"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .orderBy(col("list_old"), col("list_new"))
  }

  /** x278 weighted-draw effective sample size — see
    * [[graft.operators.Profile.effectiveSampleSize]]: Kish
    * ESS = (Σw)²/Σw² per source under the x272 weight (n_chars), the
    * pre-flight audit that prices weight skew before committing to a
    * proportional draw. DECIMAL(38,0) sums, integral `div`. */
  val x278 = query("x278_weighted_sample_ess",
    // x278: Kish effective sample size in HUGEINT — (Σw)²·10⁶ exact
    // inside the stated envelope, integral `//` truncation matching
    // Spark's decimal `div`.
    s"""WITH w AS (SELECT source, CAST(n_chars AS BIGINT) AS w
       |           FROM documents WHERE n_chars > 0),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(w::HUGEINT) AS HUGEINT) AS sw,
       |        CAST(sum(w::HUGEINT * w::HUGEINT) AS HUGEINT) AS sw2
       |      FROM w GROUP BY source)
       |SELECT source AS stratum, n, CAST(sw AS BIGINT) AS sum_w,
       |  CAST((sw * sw * 1000000) // sw2 AS BIGINT) AS ess_micro,
       |  CAST((sw * sw * 1000000) // (sw2 * n::HUGEINT) AS BIGINT)
       |    AS ess_ratio_micro
       |FROM a ORDER BY stratum""".stripMargin) { (s, dir) =>
    graft.operators.Profile.effectiveSampleSize(docs(s, dir),
      "source", "n_chars")
  }

  /** x279 classifier calibration table — see
    * [[graft.operators.TextAnalysis.nbCalibration]]: the x273 model's
    * reliability diagram (whole-nat score buckets × actual-positive
    * rate), the screen that catches a mis-scaled or inverted score
    * before the filter ships. */
  val x279 = query("x279_nb_calibration",
    // x279: the x273 chain re-read as a reliability diagram — bucket
    // by whole-nat truncating division, actual-positive rate per
    // bucket.
    s"""WITH $nbCtesSql
       |SELECT s // 1000000 AS score_nat,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_actual_pos,
       |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000
       |    // count(*) AS BIGINT) AS pos_rate_micro
       |FROM verdicts GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    TextAnalysis.nbCalibration(d, nbLabel, TextAnalysis.nbTrain(d, nbLabel))
  }

  /** x280 √-temperature mixture allocation — see
    * [[graft.operators.TextAnalysis.sqrtTemperatureAllocation]]: the
    * multilingual-sampling planner (p ∝ n^½) applied to a 10%-of-
    * corpus token budget, per source. The one irrational is IEEE
    * sqrt (correctly rounded by spec — no quantization needed);
    * everything else integer. */
  val x280 = query("x280_sqrt_temperature_mixture",
    // x280: the one irrational is IEEE-correctly-rounded sqrt — no
    // quantization; every later step integral `//`.
    s"""WITH ps AS (
       |  SELECT source, CAST(sum(len(${wordsSql("text")})) AS BIGINT)
       |    AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS MATERIALIZED (
       |  SELECT source, n_tokens,
       |    CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS temp_weight
       |  FROM ps),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
       |             CAST(sum(temp_weight) AS BIGINT) AS wsum FROM w),
       |a AS (SELECT source, n_tokens, temp_weight,
       |        CAST(temp_weight * 1000000 // wsum AS BIGINT) AS p_micro,
       |        CAST(((tot // 10) * temp_weight) // wsum AS BIGINT)
       |          AS alloc_tokens
       |      FROM w CROSS JOIN t)
       |SELECT source, n_tokens, temp_weight, p_micro, alloc_tokens,
       |  CAST(CASE WHEN n_tokens > 0
       |    THEN least(1000000, alloc_tokens * 1000000 // n_tokens)
       |    ELSE 0 END AS BIGINT) AS rate_micro
       |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.sqrtTemperatureAllocation(docs(s, dir), budgetDenom = 10)
  }

  /** x281 incremental index MERGE — the read-modify-write the
    * standing dedup index needs between full rebuilds: v1 = the
    * %7≠0 corpus sketch; v2 = v1 READ BACK from the snapshot,
    * unioned with the %7=0 ingest batch's sketch, committed as the
    * next version; the full self near-dup then runs over the SERVED
    * v2. Because the merged index holds exactly the whole corpus's
    * sketches, the result must equal x04's direct full-corpus run —
    * that equality (x04's static oracle, shared as `x04.oracle`)
    * value-checks the whole
    * read-modify-write cycle. */
  val x281 = query("x281_index_merge_dedup",
    // x281's merged index holds exactly the full corpus's sketches,
    // so the served self near-dup must equal x04's direct run — the
    // shared replay value-checks the read-modify-write cycle
    x04.oracle.get) { (s, dir) =>
    val d = docs(s, dir)
    val table = artifactTable(dir, "merge_sketch")
    val c1 = graft.sources.IndexArtifacts.saveSketch(s, table,
      Dedup.ngramSketch(d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        "doc_id", "text", ngram = 3))
    val merged = graft.sources.IndexArtifacts
      .loadSketch(s, table, Some(c1.version))
      .unionAll(Dedup.ngramSketch(
        d.filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", ngram = 3))
    val c2 = graft.sources.IndexArtifacts.saveSketch(s, table, merged)
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    Dedup.ngramJaccardNearDupSketched(
      graft.sources.IndexArtifacts.loadSketch(s, table, Some(c2.version)),
      prefixK = 8, minJaccard = 0.2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x282 PQ served from a versioned snapshot — closes the artifact
    * roster (IVF x270, BPE x271, classifier x274, sketch index
    * x275/x281, and now the PQ codebook): x101's codebook is
    * committed through [[graft.sources.IndexArtifacts]], read back
    * pinned to this run's version, and the identical encode → ADC
    * shortlist → exact rerank runs from the served [m][cent][sub]
    * floats. Float bits round-trip parquet exactly, so x101's static
    * oracle value-checks the served path. */
  val x282 = query("x282_pq_snapshot_served",
    // x282 serves x101's deterministic codebook from a snapshot —
    // float bits round-trip parquet exactly; one replay checks both
    x101.oracle.get) { (s, dir) =>
    val table = artifactTable(dir, "pq_codebook")
    val commit = graft.sources.IndexArtifacts.saveCodebook(
      s, table, Similarity.pqCodebook(8, 8, 16))
    graft.sources.SnapshotStore.vacuum(s, table, keepLast = 2)
    val served = graft.sources.IndexArtifacts.loadCodebook(
      s, table, Some(commit.version))
    Similarity.pqTopK(Similarity.pqEncode(emb(s, dir), served), served,
        queryVectors(s, dir), k = 10, shortlist = 50)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x283 curation-cascade attribution over the ROUND-18 stack — the
    * capstone tying the new operators into the x188 cascade
    * framework: each doc attributed to the FIRST stage that would
    * drop it in a full curation run — (1) NB low-quality
    * (score ≤ 0 under the x273 model), (2) exact-dup non-keeper
    * (x01's min-id keep rule), (3) near-dup greater-id pair member
    * (the x04 relation), (4) over-budget (outside the per-source
    * ES weighted top-50, x272's key at k=50). The report every
    * curation run ships: which stage earns its cost, what marginal
    * volume each drops. */
  val x283 = query("x283_curation_cascade",
    // x283: all four drop sets replayed from first principles — the
    // NB chain (shared CTEs), the min-id exact-keep rule, the exact-
    // Jaccard pair relation (x04's semantics via the x57-style gram
    // join), and the ES weighted top-50 keep per source — then the
    // cascadeAttribution counts: distinct flags per stage, first-
    // stage attribution, marginal share of the corpus.
    s"""WITH $nbCtesSql,
       |s1 AS (SELECT l.doc_id AS id FROM lab l
       |       LEFT JOIN scores sc USING (doc_id) CROSS JOIN bias b
       |       WHERE coalesce(sc.s, b.b) <= 0),
       |hx AS MATERIALIZED (SELECT doc_id, md5(text) AS h FROM documents),
       |s2 AS (SELECT doc_id AS id FROM hx
       |       JOIN (SELECT h, min(doc_id) AS keep, count(*) AS n
       |             FROM hx GROUP BY h) g USING (h)
       |       WHERE n > 1 AND doc_id <> keep),
       |tk AS (SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |ng AS (SELECT doc_id, ${wordNgramsSql(3)} AS g FROM tk),
       |exg AS (SELECT doc_id, len(g) AS sz, unnest(g) AS gram
       |        FROM ng WHERE len(g) > 0),
       |prs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS isz,
       |         any_value(a.sz) AS sa, any_value(b.sz) AS sb
       |  FROM exg a JOIN exg b ON a.gram = b.gram
       |  WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
       |s3 AS (SELECT DISTINCT db AS id FROM prs
       |       WHERE round(isz::DOUBLE / (sa + sb - isz)::DOUBLE, 6)
       |         >= 0.2),
       |eh AS (SELECT source, doc_id, n_chars,
       |         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |           AS BIGINT) // 256) AS h52
       |       FROM documents WHERE n_chars > 0),
       |ek AS (SELECT source, doc_id, n_chars,
       |         CAST(round(ln((h52::DOUBLE + 1.0) / 4503599627370496.0)
       |           * 1000000.0) AS BIGINT) AS lnu
       |       FROM eh),
       |er AS (SELECT doc_id,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY lnu::DOUBLE / n_chars::DOUBLE DESC, doc_id)
       |           AS rk
       |       FROM ek),
       |s4 AS (SELECT d.doc_id AS id FROM documents d
       |       LEFT JOIN (SELECT doc_id FROM er WHERE rk <= 50) k
       |         USING (doc_id)
       |       WHERE k.doc_id IS NULL),
       |tagged AS MATERIALIZED (
       |  SELECT DISTINCT id, r FROM (
       |    SELECT id, 1 AS r FROM s1 UNION ALL
       |    SELECT id, 2 FROM s2 UNION ALL
       |    SELECT id, 3 FROM s3 UNION ALL
       |    SELECT id, 4 FROM s4)),
       |flagged AS (SELECT r, CAST(count(*) AS BIGINT) AS n_flagged
       |            FROM tagged GROUP BY r),
       |firsts AS (SELECT r, CAST(count(*) AS BIGINT) AS n_first FROM (
       |             SELECT id, min(r) AS r FROM tagged GROUP BY id)
       |           GROUP BY r),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |st(stage, stage_rank) AS (VALUES ('low_quality', 1),
       |  ('exact_dup', 2), ('near_dup', 3), ('over_budget', 4))
       |SELECT st.stage, CAST(st.stage_rank AS INT) AS stage_rank,
       |  CAST(coalesce(f.n_flagged, 0) AS BIGINT) AS n_flagged,
       |  CAST(coalesce(fr.n_first, 0) AS BIGINT) AS n_first,
       |  CAST(coalesce(fr.n_first, 0) * 1000000 // tot.n AS BIGINT)
       |    AS marginal_micro
       |FROM st LEFT JOIN flagged f ON f.r = st.stage_rank
       |        LEFT JOIN firsts fr ON fr.r = st.stage_rank
       |        CROSS JOIN tot
       |ORDER BY stage_rank""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val lowQ = TextAnalysis.nbScores(d, TextAnalysis.nbTrain(d, nbLabel))
      .filter(col("__score") <= 0).select(col("__id").as("id"))
    val h = d.select(col("doc_id"), md5(col("text")).as("__h"))
    val exactDrop = h.join(
        h.groupBy(col("__h")).agg(min(col("doc_id")).as("__keep"),
          count(lit(1)).as("__n")).filter(col("__n") > 1), Seq("__h"))
      .filter(col("doc_id") =!= col("__keep"))
      .select(col("doc_id").as("id"))
    val nearDrop = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)
      .select(col("doc_b").as("id"))
    val keep = graft.operators.Profile.weightedSample(
      d, "doc_id", "source", "n_chars", k = 50)
    val budgetDrop = d.select(col("doc_id").as("id"))
      .join(keep.select(col("id")), Seq("id"), "left_anti")
    Dedup.cascadeAttribution(Seq(
      "low_quality" -> lowQ, "exact_dup" -> exactDrop,
      "near_dup" -> nearDrop, "over_budget" -> budgetDrop), "id", d)
  }

  /** x261 unicode-anomaly screen — see
    * [[graft.operators.TextAnalysis.unicodeAnomalies]]: exact counts
    * of zero-width, bidi-control, replacement, and C0-control
    * codepoints. The corpus is clean, so (x251 convention) every doc
    * gets a deterministic planted tail: doc_id%3 zero-width spaces,
    * one RLO when doc_id ≡ 0 (mod 5), one U+FFFD when ≡ 0 (mod 7) —
    * both engines inject and count identically. */
  val x261 = query("x261_unicode_anomalies",
    // x261: exact forbidden-codepoint counts under the same planted
    // tail (chr() builds the codepoints; RE2 counts via \x{...}).
    s"""WITH inj AS (SELECT doc_id,
       |    text || repeat(chr(8203), CAST(doc_id % 3 AS INT))
       |         || CASE WHEN doc_id % 5 = 0 THEN chr(8238) ELSE '' END
       |         || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END
       |      AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(length(t) AS BIGINT) AS n_chars,
       |  CAST(len(regexp_extract_all(t,
       |    '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]')) AS BIGINT)
       |    AS n_zero_width,
       |  CAST(len(regexp_extract_all(t,
       |    '[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]')) AS BIGINT)
       |    AS n_bidi,
       |  CAST(len(regexp_extract_all(t, '\\x{FFFD}')) AS BIGINT)
       |    AS n_replacement,
       |  CAST(len(regexp_extract_all(t,
       |    '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]')) AS BIGINT)
       |    AS n_ctrl,
       |  (len(regexp_extract_all(t,
       |     '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}\\x{FFFD}\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]'))
       |   = 0) AS keep
       |FROM inj ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val planted = docs(s, dir).withColumn("text", concat(col("text"),
      expr("repeat('\\u200B', CAST(doc_id % 3 AS INT))"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("\u202E"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("\uFFFD"))
        .otherwise(lit(""))))
    TextAnalysis.unicodeAnomalies(planted).orderBy(col("doc_id"))
  }

  /** x89 source league table — the x85 scorecard rolled up per
    * (source, verdict): the per-provider report every curation run
    * ships (which sources feed dups, which feed redundant text, which
    * survive). Novelty aggregates as an integer micro-unit sum, so
    * the per-source mean is derivable exactly downstream; chars come
    * from the docs frame, joined back on doc id. One extra hash
    * aggregation over the scorecard — the signals compute once. */
  val x89 = query("x89_source_league",
    // The x85 scorecard chain rolled up per (source, verdict); novelty
    // aggregates as an exact integer micro-unit sum.
    s"""WITH RECURSIVE $scorecardCteSql
       |SELECT d.source, sc.verdict, count(*) AS n,
       |       CAST(sum(d.n_chars) AS BIGINT) AS chars,
       |       CAST(sum(CASE WHEN sc.novelty IS NULL THEN 0
       |                     ELSE CAST(round(sc.novelty * 1e6) AS BIGINT) END) AS BIGINT)
       |         AS novelty_micro_sum
       |FROM sc JOIN documents d USING (doc_id)
       |GROUP BY d.source, sc.verdict
       |ORDER BY d.source, sc.verdict""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val clusters = Dedup.canonicalizeClusters(
      Dedup.connectedComponents(Dedup.ngramJaccardNearDup(d, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)), d)
    TextAnalysis.curationScorecard(d, clusters)
      .join(d.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("bigint").as("chars"),
        sum(coalesce(round(col("novelty") * lit(1e6)).cast("long"), lit(0L)))
          .as("novelty_micro_sum"))
      .orderBy(col("source"), col("verdict"))
  }

  /** Bench probe (VERDICT r11 item 7): x159's decile-tile build on the
    * WORST value column the maxDistinct guard admits — per-row-unique
    * hash-derived values folded onto the 3e6 envelope grid, so the
    * tile histogram is as large as the doc frame itself (distinct ≈
    * rows). Times the histogram-collapse machinery at its legal
    * ceiling, making the cost the guard's envelope permits VISIBLE in
    * BENCH_r{N} instead of theoretical; the declared x159 (whose
    * 6-dp-quantized score keeps the histogram ≤ 1e6+1 grid points) is
    * the well-behaved sibling to compare against. */
  private def x159TileHicard(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir).select(col("doc_id"),
      (expr("conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)")
        .cast("long") % lit(3000000L)).as("__hv"))
    graft.operators.Rank.withExactNtile(hashed, "__hv", "doc_id", 10, "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("decile"))
  }

  /** Bench-only timing probes: scale-path variants of declared queries
    * whose oracled form carries deliberate calibration overhead or a
    * scale envelope worth watching. Timed and reported by
    * [[graft.Bench]] under "probes"; NOT part of [[all]] (no
    * correctness row, no headline contribution). */
  val benchProbes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "x20_sketch_only" -> (x20SketchOnly _),
    "x159_tile_hicard" -> (x159TileHicard _))

  // ---- oracle-SQL builders -------------------------------------------

  /** A float[] plane as an exact DuckDB DOUBLE[] literal: float→double
    * widening is exact and Double.toString round-trips, so the literal
    * parses back to the identical IEEE value the Spark plan uses. */
  private def planeLit(p: Array[Float]): String =
    p.map(f => f.toDouble.toString).mkString("[", ", ", "]") + "::DOUBLE[]"

  /** DuckDB expression for [[Similarity.hyperplaneBucket]]: the seeded
    * hyperplanes are generated by the SAME Scala code and embedded as
    * literals, so both engines test sign(dot) against identical planes.
    * Dots are ~1e3 in magnitude — ulp-level accumulation differences
    * cannot flip a sign in practice. */
  private def bucketSql(vecCol: String, nPlanes: Int): String =
    Similarity.planes(nPlanes, 64).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product($vecCol::DOUBLE[], ${planeLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** The x101 PQ codebook as 128 DuckDB VALUES rows (j, idx, centroid)
    * — same seeded literals the Spark plan carries. */
  private def pqCentValuesSql: String =
    Similarity.pqCodebook(8, 8, 16).zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (c, i) => s"($j, $i, ${planeLit(c)})" }
    }.mkString(",\n  ")

  /** The langId replay as CTEs ending in `p(lang, lang_pred)` — ONE
    * rendering of the heuristic shared by the x08 confusion and the
    * x111 report card. */
  private def langPredCteSql: String =
    s"""w AS (
       |  SELECT lang, text, ${wordsSql("text")} AS ws FROM documents),
       |s AS (
       |  SELECT lang, text,
       |         len(list_filter(${stopLit("de")}, x -> list_contains(ws, x))) AS s_de,
       |         len(list_filter(${stopLit("en")}, x -> list_contains(ws, x))) AS s_en,
       |         len(list_filter(${stopLit("es")}, x -> list_contains(ws, x))) AS s_es,
       |         len(list_filter(${stopLit("fr")}, x -> list_contains(ws, x))) AS s_fr
       |  FROM w),
       |p AS (
       |  SELECT lang,
       |         CASE WHEN regexp_matches(text, '\\p{Han}') THEN 'zh'
       |              WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
       |              WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       |              WHEN s_en >= s_de THEN 'en'
       |              ELSE 'de' END AS lang_pred
       |  FROM s)""".stripMargin

  /** DuckDB list literal of a language's stopword profile (same source
    * constants as [[TextFunctions.stopwords]]). */
  private def stopLit(lang: String): String =
    graft.functions.TextFunctions.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** The x142 char-entropy chain as CTEs ending in `ent(doc_id, e)` —
    * ONE rendering shared by the x147 fusion and x162 RBO oracles
    * (and mirroring the x142 oracle's inline copy). */
  private def entropyCteSql: String =
    """ech AS (
      |  SELECT doc_id, substr(t2, CAST(u.i AS INT), 1) AS ch
      |  FROM (SELECT doc_id, lower(text) AS t2 FROM documents) dd,
      |       LATERAL (SELECT unnest(range(1, length(t2) + 1)) AS i) u),
      |epc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      |        FROM ech GROUP BY 1, 2),
      |epn AS (SELECT doc_id, ch, c,
      |               CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      |        FROM epc),
      |elp AS (SELECT doc_id, c, n,
      |    CAST(round(round(ln(c::DOUBLE / n::DOUBLE), 6) * 1000000)
      |         AS BIGINT) AS lp
      |  FROM epn),
      |ent AS (SELECT doc_id, CAST((-sum(c * lp)) // max(n) AS BIGINT) AS e
      |        FROM elp GROUP BY doc_id)""".stripMargin

  /** Word tokens of `col` (lowercased maximal letter/number runs) —
    * the RE2 regex equivalent of ShingleKernels.wordTokens. Shared
    * with [[RelationalQueries]] (q29): the tokenizer contract is load-bearing
    * and must have exactly ONE SQL rendering. */
  private[queries] def wordsSql(col: String): String =
    s"list_filter(regexp_split_to_array(lower($col), '[^\\p{L}\\p{N}]+'), x -> x <> '')"

  /** Shared BPE-induction CTE chain (x195/x196): word vocabulary with
    * corpus frequencies → per-character symbol lists (v0) → `rounds`
    * unrolled merge blocks. Each block recomputes pair counts over the
    * current symbol lists, picks the (count desc, l, r) best with
    * ORDER/LIMIT 1 (b$n), and applies the greedy non-overlapping merge
    * via the gaps-and-islands decomposition (match candidates →
    * islands by position − running match count → even offsets from
    * each island's first MATCH row) into v$n. The best frame LEFT-
    * joins (ON true) so an exhausted pair space passes every word
    * through unchanged — the engine's contract. Same word tokenizer
    * as x78 ([[wordsSql]]). */
  private def bpeCtesSql(rounds: Int): String = {
    def roundBlock(n: Int): String = {
      val prev = if (n == 1) "v0" else s"v${n - 1}"
      s"""p$n AS (SELECT l, r, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |  SELECT c, syms[CAST(i AS INT)] AS l, syms[CAST(i + 1 AS INT)] AS r
         |  FROM (SELECT c, syms, unnest(range(1, len(syms))) AS i FROM $prev))
         |  GROUP BY l, r),
         |b$n AS (SELECT l, r, cnt FROM p$n ORDER BY cnt DESC, l, r LIMIT 1),
         |e$n AS (SELECT wid, c, CAST(i AS BIGINT) AS p, syms[CAST(i AS INT)] AS s
         |        FROM (SELECT wid, c, syms,
         |                unnest(range(1, len(syms) + 1)) AS i FROM $prev)),
         |m$n AS (SELECT e.wid, e.c, e.p, e.s,
         |          coalesce(e.s = b.l AND lead(e.s) OVER (
         |            PARTITION BY e.wid ORDER BY e.p) = b.r, false) AS mt
         |        FROM e$n e LEFT JOIN b$n b ON true),
         |i$n AS (SELECT wid, c, p, s, mt,
         |          p - SUM(CASE WHEN mt THEN 1 ELSE 0 END) OVER (
         |            PARTITION BY wid ORDER BY p) AS isl FROM m$n),
         |s$n AS (SELECT wid, c, p, s,
         |          mt AND ((p - min(CASE WHEN mt THEN p END) OVER (
         |            PARTITION BY wid, isl)) % 2 = 0) AS sel FROM i$n),
         |o$n AS (SELECT wid, c, p, CASE WHEN sel THEN s || lead_s ELSE s END AS s2
         |        FROM (SELECT wid, c, p, s, sel,
         |                lead(s) OVER (PARTITION BY wid ORDER BY p) AS lead_s,
         |                coalesce(lag(sel) OVER (PARTITION BY wid ORDER BY p),
         |                  false) AS prev_sel
         |              FROM s$n) z
         |        WHERE NOT prev_sel),
         |v$n AS MATERIALIZED (SELECT wid, c, list(s2 ORDER BY p) AS syms
         |        FROM o$n GROUP BY wid, c)""".stripMargin
    }
    s"""toks AS (SELECT unnest(${wordsSql("text")}) AS w FROM documents),
       |wc AS (SELECT w, count(*) AS c FROM toks WHERE len(w) >= 2 GROUP BY w),
       |v0 AS MATERIALIZED (SELECT w AS wid, c,
       |         list_transform(range(1, len(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)) AS syms FROM wc),
       |${(1 to rounds).map(roundBlock).mkString(",\n")}""".stripMargin
  }

  /** Distinct char-5 shingles of whitespace-normalized lowercase text. */
  private val charShinglesSql: String =
    """list_distinct(CASE WHEN length(t) >= 5
      |  THEN list_transform(range(1, length(t) - 3), i -> substr(t, i, 5))
      |  ELSE [] END)""".stripMargin

  /** DuckDB replica of the md5-60 hash: first 15 hex chars of md5 =
    * first 8 digest bytes big-endian >>> 4 (ShingleKernels.md5Hash60). */
  private def md5Hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Oracle chain shared by x250 (full corpus, `where = ""`) and x257
    * (md5-60 doc-id sample): every-position 16-gram hashes, df cap on
    * occurrence counts WITHIN the selected docs, consecutive-position
    * islands (gap > 1 breaks), per-pair exact max run + capped-fp
    * count. */
  private def dupSubstringsOracleSql(where: String): String =
    s"""WITH nd AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents$where),
       |hs AS MATERIALIZED (SELECT doc_id,
       |    list_transform(range(1, greatest(length(t) - 15, 0) + 1),
       |      i -> ${md5Hash60Sql("substr(t, CAST(i AS INT), 16)")}) AS h
       |  FROM nd),
       |g AS MATERIALIZED (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS p,
       |    h[CAST(u.i AS INT)] AS f
       |  FROM hs, LATERAL (SELECT unnest(range(1, len(h) + 1)) AS i) u
       |  WHERE len(h) > 0),
       |hist AS MATERIALIZED (SELECT f, count(*) AS df FROM g GROUP BY 1),
       |cap AS (SELECT CAST(count(*) AS BIGINT) AS n_capped_fps
       |        FROM hist WHERE df > 50),
       |pr AS MATERIALIZED (SELECT g.doc_id, g.p, g.f
       |  FROM g JOIN hist USING (f) WHERE hist.df <= 50),
       |mt AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa,
       |    a.p - b.p AS diag
       |  FROM pr a JOIN pr b ON a.f = b.f AND a.doc_id < b.doc_id),
       |isl AS (SELECT da, db, diag, pa,
       |    SUM(CASE WHEN pa - lp > 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY da, db, diag ORDER BY pa
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
       |  FROM (SELECT *, lag(pa) OVER (PARTITION BY da, db, diag
       |          ORDER BY pa) AS lp FROM mt) z),
       |runs AS (SELECT da, db, CAST(count(*) AS BIGINT) AS n,
       |    max(pa) - min(pa) + 16 AS rc
       |  FROM isl GROUP BY da, db, diag, i
       |  HAVING max(pa) - min(pa) + 16 >= 32),
       |agg AS (SELECT da AS doc_a, db AS doc_b,
       |    CAST(max(rc) AS BIGINT) AS lcs_chars,
       |    CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(sum(n) AS BIGINT) AS n_matched_positions
       |  FROM runs GROUP BY 1, 2)
       |SELECT agg.doc_a, agg.doc_b, agg.lcs_chars, agg.n_runs,
       |       agg.n_matched_positions, cap.n_capped_fps
       |FROM agg, cap ORDER BY doc_a, doc_b""".stripMargin

  /** Shared CTE chain of the exact-contamination replays (x253, x255):
    * normalized docs, 16-gram hash positions, combined occurrence cap
    * (`cap(n_capped_fps)`), corpus(≥10)×benchmark(<10) match on the
    * hash, diagonal islands — ends in `runs(da, bb, n, lo, rc)` with
    * rc = exact run chars. */
  private def contaminationRunsCteSql: String =
    s"""nd AS (SELECT doc_id,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |hs AS MATERIALIZED (SELECT doc_id,
       |    list_transform(range(1, greatest(length(t) - 15, 0) + 1),
       |      i -> ${md5Hash60Sql("substr(t, CAST(i AS INT), 16)")}) AS h
       |  FROM nd),
       |g AS MATERIALIZED (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS p,
       |    h[CAST(u.i AS INT)] AS f
       |  FROM hs, LATERAL (SELECT unnest(range(1, len(h) + 1)) AS i) u
       |  WHERE len(h) > 0),
       |hist AS MATERIALIZED (SELECT f, count(*) AS df FROM g GROUP BY 1),
       |cap AS (SELECT CAST(count(*) AS BIGINT) AS n_capped_fps
       |        FROM hist WHERE df > 50),
       |pr AS MATERIALIZED (SELECT g.doc_id, g.p, g.f
       |  FROM g JOIN hist USING (f) WHERE hist.df <= 50),
       |mt AS (SELECT a.doc_id AS da, b.doc_id AS bb, a.p AS pa,
       |    a.p - b.p AS diag
       |  FROM pr a JOIN pr b ON a.f = b.f
       |  WHERE a.doc_id >= 10 AND b.doc_id < 10),
       |isl AS (SELECT da, bb, diag, pa,
       |    SUM(CASE WHEN pa - lp > 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY da, bb, diag ORDER BY pa
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
       |  FROM (SELECT *, lag(pa) OVER (PARTITION BY da, bb, diag
       |          ORDER BY pa) AS lp FROM mt) z),
       |runs AS (SELECT da, bb, CAST(count(*) AS BIGINT) AS n,
       |    min(pa) AS lo, max(pa) - min(pa) + 16 AS rc
       |  FROM isl GROUP BY da, bb, diag, i
       |  HAVING max(pa) - min(pa) + 16 >= 32)""".stripMargin

  /** Shared CTE chain of the cross-source-perplexity replays (x252,
    * x254): per-source trigram cells, contexts, vocab sizes, and the
    * cells × sources grid scored with x227's micro-nat quantization —
    * ends in `sc(src_eval, src_train, n_transitions,
    * sum_logp_micro)`. */
  private def crossPerplexityCteSql: String =
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

  /** Shared CTE prefix for the integer covariance power iteration
    * (x212, x228): quantized elements `el`, fenced count `nn`, the
    * renormalized covariance matrix `cm`, eight multiply-renormalize
    * rounds ending in the converged direction `x8`. AS MATERIALIZED
    * on every per-round CTE: x_r references y_r TWICE (directly and
    * via m_r), so DuckDB's default inlining doubles the expression
    * tree per round — 2⁸ copies of the whole covariance pipeline.
    * Materialization keeps it linear. */
  private val covarianceIterationCteSql: String = {
    val rounds = (1 to 8).map { r =>
      val prev = s"x${r - 1}"
      s"""y$r AS MATERIALIZED (
         |  SELECT cm.i, CAST(sum(cm.v::HUGEINT * x.x) AS HUGEINT) AS y
         |  FROM cm JOIN $prev x ON x.i = cm.j GROUP BY 1),
         |m$r AS (SELECT max(abs(y)) AS my FROM y$r),
         |x$r AS MATERIALIZED (SELECT i, y * 1000000 // my AS x
         |        FROM y$r, m$r WHERE my > 0)""".stripMargin
    }.mkString(",\n")
    s"""el AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(u.i - 1 AS BIGINT) AS i,
       |         CAST(round(embedding[CAST(u.i AS INT)]::DOUBLE * 1000000)
       |              AS BIGINT) AS q
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u),
       |nn AS (SELECT CAST(count(DISTINCT id) AS HUGEINT) AS n,
       |              CAST(count(DISTINCT id) AS BIGINT) AS n_vecs FROM el),
       |sm AS (SELECT i, CAST(sum(q) AS HUGEINT) AS s FROM el GROUP BY 1),
       |cp AS (SELECT a.i AS i, b.i AS j,
       |         CAST(sum(a.q::HUGEINT * b.q::HUGEINT) AS HUGEINT) AS pp
       |       FROM el a JOIN el b ON a.id = b.id GROUP BY 1, 2),
       |c0 AS (SELECT cp.i, cp.j, nn.n * cp.pp - si.s * sj.s AS c
       |       FROM cp
       |       JOIN sm si ON si.i = cp.i
       |       JOIN sm sj ON sj.i = cp.j
       |       CROSS JOIN nn),
       |mx AS (SELECT max(abs(c)) AS m FROM c0),
       |cm AS MATERIALIZED (
       |  SELECT i, j, c * 1000000 // m AS v FROM c0, mx WHERE m > 0),
       |x0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS x FROM sm),
       |$rounds""".stripMargin
  }

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
  private def winnowAnchorsCteSql(k: Int, w: Int): String =
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

  private def winnowRunsSql(k: Int, w: Int, dfCap: Int,
      minAnchors: Int, minRunChars: Int): String = {
    val maxGap = k + w
    s"""${winnowAnchorsCteSql(k, w)},
       |pr$k AS MATERIALIZED (SELECT a.* FROM anch$k a JOIN (
       |    SELECT f FROM anch$k GROUP BY f HAVING count(*) <= $dfCap) r
       |  USING (f)),
       |mt$k AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa,
       |    a.p - b.p AS diag
       |  FROM pr$k a JOIN pr$k b ON a.f = b.f AND a.doc_id < b.doc_id),
       |isl$k AS (SELECT da, db, diag, pa,
       |    SUM(CASE WHEN pa - lp > $maxGap THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY da, db, diag ORDER BY pa
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
       |  FROM (SELECT *, lag(pa) OVER (PARTITION BY da, db, diag
       |          ORDER BY pa) AS lp FROM mt$k) z),
       |runs$k AS (SELECT da, db, CAST(count(*) AS BIGINT) AS na,
       |    min(pa) AS lo, max(pa) - min(pa) + $k AS rc
       |  FROM isl$k GROUP BY da, db, diag, i
       |  HAVING count(*) >= $minAnchors
       |    AND max(pa) - min(pa) + $k >= $minRunChars),
       |agg$k AS (SELECT da AS doc_a, db AS doc_b, CAST($k AS BIGINT) AS k,
       |    CAST(max(rc) AS BIGINT) AS longest_run_chars,
       |    CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(sum(na) AS BIGINT) AS n_anchors
       |  FROM runs$k GROUP BY 1, 2)""".stripMargin
  }

  /** Shared CTE prefix for the md5-60 bottom-16 fingerprint (x11/x23):
    * yields (doc_id, g = distinct char-8 shingles, hs = sorted md5-60
    * hashes) per document. */
  private val fingerprintCteSql: String =
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
  private def wordNgramsSql(n: Int, distinct: Boolean = true): String = {
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
  private def ngramPairsCteSql: String =
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

  /** Shared CTE chain `toks` → `sigs`(doc_id, sg): the k=16 salted-md5
    * minhash signature, each slot recomputed brute-force as
    * min(md5-60(salt || '|' || gram)) over ALL (non-distinct) word-3-
    * grams — min over duplicates equals min over distinct, matching
    * the kernel. Docs with < 3 tokens have no grams and are excluded
    * (the engine's null-signature filter). */
  private def minhashSigCteSql: String =
    s"""ngall AS (
       |  SELECT doc_id, ${wordNgramsSql(3, distinct = false)} AS g
       |  FROM toks WHERE len(w) >= 3),
       |sigs AS (
       |  SELECT doc_id,
       |         list_transform(range(0, 16), s ->
       |           list_min(list_transform(g, x ->
       |             ${md5Hash60Sql("CAST(s AS STRING) || '|' || x")}))) AS sg
       |  FROM ngall)""".stripMargin

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
  private def readabilityCtesSql: String = {
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

  private def qualityCteSql(keep: String): String =
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
  private def centValuesSqlFor(cents: Array[Array[Float]]): String =
    "(VALUES " + cents.zipWithIndex.map {
      case (c, i) => s"($i, ${planeLit(c)})"
    }.mkString(", ") + ") AS ct(list_id, v)"

  private def centValuesSql(nLists: Int): String =
    centValuesSqlFor(Similarity.fixedCentroids(nLists, 64))

  /** The full IVF assignment→probe→rank replay over a centroid VALUES
    * table — shared by x26 (fixed centroids, static entry) and x22
    * (trained centroids, rendered after its run): identical machinery,
    * different constants. */
  private def ivfTopKSql(centSql: String): String =
    s"""WITH cd AS (
       |  SELECT e.vec_id, e.embedding, ct.list_id,
       |         1.0 - list_cosine_similarity(e.embedding::DOUBLE[], ct.v) AS d
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE len(embedding) = 64
       |          AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0) e
       |  CROSS JOIN $centSql),
       |c AS (
       |  SELECT vec_id, embedding, list_id FROM (
       |    SELECT vec_id, embedding, list_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
       |    FROM cd) t WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id AS query_id, embedding AS query_vec, list_id FROM (
       |    SELECT vec_id, embedding, list_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
       |    FROM cd WHERE vec_id < 5) t WHERE rn <= 3),
       |ranked AS (
       |  SELECT p.query_id, c.vec_id,
       |         round(list_cosine_similarity(p.query_vec::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
       |         row_number() OVER (
       |           PARTITION BY p.query_id
       |           ORDER BY round(list_cosine_similarity(p.query_vec::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
       |                    c.vec_id) AS rank
       |  FROM c JOIN probe p ON c.list_id = p.list_id)
       |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** The hashed-NB CTE chain shared by x273 (per-source report) and
    * x279 (calibration buckets): presence features at md5-60 mod
    * 2^18, Laplace log-odds with each ln quantized once, per-doc
    * scores with zero-token docs falling back to the bias. Ends at
    * `verdicts(source, y, s)`. */
  private def nbCtesSql: String =
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

  /** The x277 churn replay: assignment under two centroid VALUES
    * tables (same argmin-(d, list_id) rule as [[ivfTopKSql]]'s `c`
    * CTE), joined on vec_id into the transition matrix. */
  private def ivfChurnSql(centOldSql: String, centNewSql: String): String = {
    def assign(alias: String, centSql: String) =
      s"""$alias AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT e.vec_id, ct.list_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY 1.0 - list_cosine_similarity(
         |               e.embedding::DOUBLE[], ct.v), ct.list_id) AS rn
         |    FROM ve e CROSS JOIN $centSql) t WHERE rn = 1)"""
    s"""WITH ve AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE len(embedding) = 64
       |    AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       |${assign("a_old", centOldSql)},
       |${assign("a_new", centNewSql)}
       |SELECT CAST(a_old.list_id AS BIGINT) AS list_old,
       |       CAST(a_new.list_id AS BIGINT) AS list_new,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM a_old JOIN a_new USING (vec_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** The 60-bit simhash as one grouped aggregation: per (doc, word,
    * count), each bit's tally is a SUM over ±count; the bit contributes
    * 2^b iff its tally is strictly positive — the exact contract of
    * ShingleKernels.md5SimHash. 60 sum-aggregates in one hash-agg pass
    * (no 60× row expansion). */
  private val simhashBitsSql: String =
    (0 until 60).map(b =>
      s"(CASE WHEN sum(CASE WHEN (hv >> $b) & 1 = 1 THEN c ELSE -c END) > 0 " +
      s"THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString("(", " + ", ")")

  /** The Poisson(1) weight CASE arms over a 60-bit hash expression —
    * rendered from [[graft.operators.Profile.Poisson1CdfScaled]], the
    * SAME JVM constants the Spark plan compares against. */
  private def poissonCaseSql(u: String): String =
    graft.operators.Profile.Poisson1CdfScaled.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString(" ") + " ELSE 6"

  /** Benford expected first-digit frequencies as integer-micro VALUES
    * rows — the SAME Scala computation [[graft.operators.Profile.benfordAudit]]
    * embeds as literals, so both engines compare against identical
    * constants. */
  private def benfordValuesSql: String =
    (1 to 9).map(d =>
      s"($d, ${math.round(math.log10(1.0 + 1.0 / d) * 1e6)})").mkString(", ")

  /** Shared CTE chain for the x85/x89 oracles, ending in
    * `sc(doc_id, n_tokens, top_gram_ratio, novelty, dup_keep,
    * verdict)` — the per-doc curation scorecard: the x68 canonical
    * chain (recursive CC + keep rule) + the x29 repetition statistic +
    * the x81 novelty statistic, composed into the first-fail verdict.
    * Callers must prefix `WITH RECURSIVE`. */
  private def scorecardCteSql: String =
    s"""$ngramPairsCteSql,
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS node FROM ed),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
       |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
       |wl AS (SELECT cl.doc_id, cl.cluster_id, coalesce(d.n_chars, -1) AS len
       |       FROM cl LEFT JOIN documents d USING (doc_id)),
       |cn AS (SELECT cluster_id, doc_id AS canonical_id FROM (
       |         SELECT cluster_id, doc_id,
       |                row_number() OVER (PARTITION BY cluster_id
       |                                   ORDER BY len DESC, doc_id) AS rn
       |         FROM wl) t WHERE rn = 1),
       |kp AS (SELECT wl.doc_id, wl.doc_id = cn.canonical_id AS keep
       |       FROM wl JOIN cn USING (cluster_id)),
       |bg AS (SELECT doc_id, ${wordNgramsSql(2, distinct = false)} AS g FROM toks),
       |gc AS (SELECT doc_id, gram, count(*) AS c
       |       FROM (SELECT doc_id, unnest(g) AS gram FROM bg) e
       |       GROUP BY doc_id, gram),
       |rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_gram_ratio
       |        FROM gc GROUP BY doc_id),
       |fst AS (SELECT gram, min(doc_id) AS fd FROM ex GROUP BY gram),
       |nov AS (SELECT ex.doc_id,
       |               round(sum(CASE WHEN fst.fd = ex.doc_id THEN 1 ELSE 0 END)::DOUBLE
       |                     / count(*)::DOUBLE, 6) AS novelty
       |        FROM ex JOIN fst USING (gram) GROUP BY ex.doc_id),
       |sc AS (
       |  SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
       |         rep.top_gram_ratio, nov.novelty,
       |         COALESCE(kp.keep, TRUE) AS dup_keep,
       |         CASE WHEN len(t.w) < 20 THEN 'too_short'
       |              WHEN COALESCE(rep.top_gram_ratio, 0) > 0.06 THEN 'repetitive'
       |              WHEN COALESCE(nov.novelty, 1.0) < 0.2 THEN 'redundant'
       |              WHEN NOT COALESCE(kp.keep, TRUE) THEN 'duplicate'
       |              ELSE 'kept' END AS verdict
       |  FROM toks t
       |  LEFT JOIN rep USING (doc_id)
       |  LEFT JOIN nov USING (doc_id)
       |  LEFT JOIN kp USING (doc_id))""".stripMargin

  /** Shared CTE body for the x76/x77 oracle edge set: valid vectors →
    * sign-buckets ([[bucketSql]], same plane constants the Spark plan
    * uses) → directed within-bucket pairs ranked by (rounded cosine
    * desc, dst) — the [[graft.functions.TopKScored]] contract — kept
    * at rank ≤ k. Yields CTEs `b` and `knn(src, dst, cosine, rank)`. */
  private def knnEdgesCteSql(k: Int): String =
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
