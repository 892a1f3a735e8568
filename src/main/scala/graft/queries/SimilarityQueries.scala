package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.Similarity]]: vector search
  * (brute force, LSH, IVF and PQ) and embedding diagnostics.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object SimilarityQueries extends QueryFamily {

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

  /** The x101 PQ codebook as 128 DuckDB VALUES rows (j, idx, centroid)
    * — same seeded literals the Spark plan carries. */
  private def pqCentValuesSql: String =
    Similarity.pqCodebook(8, 8, 16).zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (c, i) => s"($j, $i, ${planeLit(c)})" }
    }.mkString(",\n  ")

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
}
