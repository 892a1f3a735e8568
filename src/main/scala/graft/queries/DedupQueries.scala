package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Materialize, Profile, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.Dedup]]: exact, sketch and
  * n-gram near-duplicate detection, clusters and the curation cascade.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object DedupQueries extends QueryFamily {

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
      .transform(Materialize(_, "DedupQueries.x42: sigs"))
    pairs
      .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (minhash_agreement(col("sig_a"), col("sig_b")) / lit(16.0)).as("est_j"))
      .withColumn("abs_err", round(abs(col("est_j") - col("jaccard")), 6))
      .orderBy(col("doc_a"), col("doc_b"))
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
    val toks = Materialize(d.select(words(col("text")).as("__w")), "DedupQueries.x91: toks")
    val tok = toks.agg(sum(size(col("__w"))).cast("bigint").as("total_tokens"))
    val dw = toks.select(explode(col("__w")).as("word"))
      .agg(count_distinct(col("word")).as("distinct_words"))
    val pairs = Dedup.ngramJaccardNearDup(d, "doc_id", "text",
      ngram = 3, prefixK = 8, minJaccard = 0.2)
      .transform(Materialize(_, "DedupQueries.x91: pairs"))
    val dup = pairs.agg(count(lit(1)).as("dup_pairs"))
    val dd = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("x"))
      .agg(count_distinct(col("x")).as("dup_docs"))
    val clusters = Dedup.canonicalizeClusters(
      Dedup.connectedComponents(pairs), d)
    val sc = Materialize(TextAnalysis.curationScorecard(d, clusters),
      "DedupQueries.x91: scorecard")
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
      .transform(Materialize(_, "DedupQueries.x265: pairs"))
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

  /** Distinct char-5 shingles of whitespace-normalized lowercase text. */
  private val charShinglesSql: String =
    """list_distinct(CASE WHEN length(t) >= 5
      |  THEN list_transform(range(1, length(t) - 3), i -> substr(t, i, 5))
      |  ELSE [] END)""".stripMargin

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
}
