package graft.operators

import graft.functions.{TopKScored, VectorKernels}
import graft.functions.VectorFunctions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: the query set is assumed small (≪ corpus) and is
  * broadcast, so the corpus is read exactly once with no shuffle of
  * vectors for candidate scoring; only (query_id, doc_id, score)
  * triples enter the top-k exchange. The LSH variant prunes the corpus
  * scan's scoring work per query to one hyperplane bucket.
  */
object Similarity {

  /** Deterministic random hyperplanes: `nPlanes` unit-free normal-ish
    * vectors of length `dim`, seeded — same planes on every run and
    * every executor (they travel as literals in the plan, i.e. are
    * broadcast with the task binary). */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)((rng.nextGaussian() * 1000).toFloat))
  }

  /** Sign-bit bucket id: bit p set iff dot(vec, plane_p) > 0. Vectors
    * on the same side of all hyperplanes share a bucket; P(bit differs)
    * = angle/π, so high-cosine pairs collide with high probability. */
  def hyperplaneBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    planes(nPlanes, dim).zipWithIndex
      .map { case (p, i) =>
        when(dot_product(vec, typedlit(p)) > 0, lit(1 << i)).otherwise(lit(0))
      }
      .reduce(_ + _)

  /** Rank scored (queryId, corpusId, cosine) triples to exact top-k per
    * query via the [[TopKScored]] aggregator. Equivalent to
    * `row_number() OVER (PARTITION BY query ORDER BY cosine DESC, id)`
    * but with map-side partial top-k: the exchange carries at most
    * k rows per (partition, query) instead of every scored triple —
    * the window formulation would shuffle the whole scored corpus into
    * one partition per query. */
  private def rankTopK(scored: DataFrame, k: Int,
      queryId: String, corpusId: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    scored.schema(corpusId).dataType match {
      case idType @ (ByteType | ShortType | IntegerType | LongType) =>
        // udaf() flattens the case-class input: one arg per Scored field.
        // Null cosines (zero-norm / length-mismatched embeddings) must be
        // dropped first: Scored.score is a primitive double, and the typed
        // deserializer throws on null where the window formulation
        // silently ranked them last. The long cast is lossless for
        // integral ids and undone on the way out, so callers keep their
        // declared id type.
        val topk = udaf(new TopKScored(k))
        scored
          .filter(col("cosine").isNotNull)
          .groupBy(col(queryId))
          .agg(topk(col(corpusId).cast("long"), col("cosine")).as("top"))
          .select(col(queryId), posexplode(col("top")))
          .select(
            col(queryId), col("col.id").cast(idType).as(corpusId),
            col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
      case _ =>
        // Non-numeric ids (string/uuid corpora): casting to long would
        // null every id and crash the typed aggregator, so rank with a
        // window instead. Ties break on the id's natural ordering —
        // same contract as the aggregator path. This shuffles every
        // scored candidate per query (no map-side top-k), which is
        // acceptable because candidate sets are already pruned by the
        // caller (LSH bucket / IVF probe); revisit with a generic-id
        // aggregator if a string-id brute-force path ever matters.
        val w = Window.partitionBy(col(queryId))
          .orderBy(col("cosine").desc, col(corpusId))
        scored
          .filter(col("cosine").isNotNull)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
    }
  }

  /** Brute-force exact cosine top-k: every query scored against every
    * corpus vector (the recall=1 baseline). `queries` is broadcast, so
    * the corpus is read once with no vector shuffle; the top-k
    * aggregation combines map-side. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(
        col(queryId), col(corpusId),
        round(cosine_similarity(col(queryVec), col(corpusVec)), 6).as("cosine"))
    rankTopK(scored, k, queryId, corpusId)
  }

  /** IVF (inverted-file) index: a k-means coarse quantizer over the
    * corpus. Returns (centroids, corpus-with-list-id). At 100 TB the
    * assignment frame is written partitioned by `list_id` so a query
    * touches only its probed partitions; training samples the corpus
    * (k-means cost is per-sample, independent of corpus size).
    *
    * Deterministic: fixed seed, and k-means|| init on a fixed sample.
    */
  def ivfIndex(corpus: DataFrame, nLists: Int, corpusVec: String = "embedding",
      trainSample: Double = 1.0, seed: Long = 42L, maxIter: Int = 8): (Array[Array[Float]], DataFrame) = {
    val withVec = corpus.withColumn("__v", array_to_vector(col(corpusVec)))
    val train = if (trainSample >= 1.0) withVec else withVec.sample(trainSample, seed)
    // random init instead of k-means|| : the parallel init runs ~5 extra
    // Spark jobs to seed centroids — for a coarse quantizer (recall is
    // governed by nProbe, not centroid quality) random init + a few
    // Lloyd iterations is the standard IVF choice and measurably faster
    // on a warm corpus; still deterministic under the fixed seed.
    val model = new KMeans().setK(nLists).setSeed(seed).setFeaturesCol("__v")
      .setInitMode("random").setMaxIter(maxIter)
      .setPredictionCol("list_id").fit(train)
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    (centroids, model.transform(withVec).drop("__v"))
  }

  /** Seeded random centroids for the training-free IVF variant —
    * deterministic literals, so an external system (or the DuckDB
    * oracle) can reproduce the exact list geometry. Recall per probe
    * is lower than trained k-means centroids, but the index needs no
    * training pass at all — the right trade when the corpus churns
    * faster than a quantizer can be retrained. */
  def fixedCentroids(nLists: Int, dim: Int, seed: Long = 7L): Array[Array[Float]] =
    planes(nLists, dim, seed).toArray

  /** Training-free IVF assignment: each corpus vector goes to its
    * argmin-(1-cosine) centroid, computed against centroid LITERALS
    * (broadcast with the task binary — no shuffle, no ML pipeline).
    * Same distance formula as [[ivfTopK]]'s probe step, so corpus and
    * queries agree on list geometry. Degenerate vectors (zero-norm /
    * wrong length) get a null cosine and must be filtered by the
    * caller before assignment. */
  def ivfAssignFixed(corpus: DataFrame, centroids: Array[Array[Float]],
      corpusVec: String = "embedding"): DataFrame = {
    val cand = centroids.zipWithIndex.map { case (c, i) =>
      struct((lit(1.0) - cosine_similarity(col(corpusVec), typedlit(c))).as("d"),
        lit(i).as("list_id"))
    }
    corpus.withColumn("list_id",
      element_at(array_sort(array(cand.toIndexedSeq: _*)), 1).getField("list_id"))
  }

  /** IVF ANN top-k: the query probes its `nProbe` nearest centroids
    * and scores only those inverted lists — corpus scored per query
    * shrinks from n to ~n·nProbe/nLists, with recall controlled by
    * nProbe. The probe assignment is a tiny driver-free broadcast
    * join (queries × centroid literals). */
  def ivfTopK(indexed: DataFrame, centroids: Array[Array[Float]],
      queries: DataFrame, k: Int, nProbe: Int = 2,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    // per-query distances to every centroid, keep the nProbe nearest
    val probeCols = centroids.zipWithIndex.map { case (c, i) =>
      struct((lit(1.0) - cosine_similarity(col(queryVec), typedlit(c))).as("d"),
        lit(i).as("list_id"))
    }
    val probed = queries.withColumn("__probe",
        explode(slice(array_sort(array(probeCols.toIndexedSeq: _*)), 1, nProbe)))
      .withColumn("list_id", col("__probe.list_id"))
      .drop("__probe")
    val scored = indexed.join(broadcast(probed), "list_id")
      .select(col(queryId), col(corpusId),
        round(cosine_similarity(col(queryVec), col(corpusVec)), 6).as("cosine"))
    rankTopK(scored, k, queryId, corpusId)
  }

  /** Seeded product-quantization codebook: `m` subspaces × `nCent`
    * centroids × `sub` dims, drawn at the fixture embeddings' per-dim
    * scale (σ ≈ 0.125) so random centroids partition the data region
    * rather than orbiting it — the training-free PQ baseline (the x26
    * fixed-centroid trade: no training pass, deterministic literals an
    * external system or the SQL oracle can replay). */
  def pqCodebook(m: Int, sub: Int, nCent: Int, seed: Long = 11L,
      sigma: Double = 0.125): Array[Array[Array[Float]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(m)(Array.fill(nCent)(Array.fill(sub)(
      (rng.nextGaussian() * sigma).toFloat)))
  }

  /** PQ encoding: each valid vector (declared dim, non-zero norm)
    * becomes `m` centroid indices — argmin squared-L2 per subspace,
    * ties to the smaller index. At 100 TB this is the compression
    * step: 64 float dims (256 B) become m one-byte codes, a 32×
    * smaller scan for every downstream ADC pass; codes are computed
    * map-side against codebook literals (no shuffle, no model object).
    * Output: (corpusId, corpusVec, codes array<int>). */
  def pqEncode(corpus: DataFrame, codebook: Array[Array[Array[Float]]],
      corpusId: String = "vec_id", corpusVec: String = "embedding"): DataFrame = {
    val m = codebook.length
    val sub = codebook(0)(0).length
    val v = col(corpusVec).cast("array<double>")
    // r18: argmin-per-subspace runs as ONE codegen kernel call
    // (VectorKernels.pqAssignCodes) instead of an m × nCent forest of
    // interpreted zip_with/aggregate lambdas over per-candidate slices
    // (the round-9 HOF lesson); same fold order, same (d ASC, idx ASC)
    // tie rule — code-identical output
    corpus
      .filter(size(col(corpusVec)) === m * sub &&
        dot_product(col(corpusVec), col(corpusVec)) > 0)
      .select(col(corpusId), col(corpusVec),
        pq_assign_codes(v, cbDouble(codebook)).as("codes"))
  }

  /** Float→double widening of a codebook, done once per plan — the
    * same values the SQL form's typedlit(c.map(_.toDouble)) shipped. */
  private def cbDouble(cb: Array[Array[Array[Float]]]): Array[Array[Array[Double]]] =
    cb.map(_.map(_.map(_.toDouble)))

  /** PQ ANN top-k with exact rerank — the production shortlist shape:
    * asymmetric-distance (ADC) scoring against the 8-byte codes
    * shortlists `shortlist` candidates per query, and only those are
    * rescored with exact cosine on the full vectors. The ADC pass
    * reads codes, not vectors (the 32× cheaper scan), and recall is
    * governed by the shortlist width, not by quantization alone —
    * the rerank repairs what a coarse random codebook costs.
    *
    * Hash-portable fixed point (the x67/x75 discipline): each
    * (query, subspace, code) distance is quantized ONCE to integer
    * micro-units — round(d², 6)·10⁶ — and the per-candidate ADC is
    * the INTEGER sum of the m terms, so the shortlist cut
    * (adc asc, id asc) is engine-exact; double-accumulation order can
    * never move it. The rerank is the same rounded-cosine ranking
    * every other ANN query ships.
    *
    * Scale: queries broadcast; both the ADC pass and the rerank
    * aggregate through the bounded-heap [[TopKScored]] (map-side
    * partial top-k — the exchange carries ≤ shortlist rows per
    * (partition, query), never the corpus); the rerank join touches
    * `shortlist` vectors per query by id — at 100 TB a row-group-
    * statted id-sorted layout ([[graft.operators.Layout]]) makes that
    * a pruned point-read, not a scan. */
  def pqTopK(encoded: DataFrame, codebook: Array[Array[Array[Float]]],
      queries: DataFrame, k: Int, shortlist: Int = 50,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val qv = col(queryVec).cast("array<double>")
    // r18: the per-(row, query) ADC is one codegen kernel call
    // (VectorKernels.pqAdcMicro) instead of m interpreted
    // zip_with/aggregate lambdas per pair — identical per-term
    // rounding tree and LONG addition
    val adc = encoded.join(broadcast(queries))
      .select(col(queryId), col(corpusId),
        pq_adc_micro(col("codes"), qv, cbDouble(codebook)).as("adc_micro"))
    val topShort = udaf(new TopKScored(shortlist))
    val short = adc
      .groupBy(col(queryId))
      .agg(topShort(col(corpusId).cast("long"),
        -col("adc_micro").cast("double")).as("top"))
      .select(col(queryId), explode(col("top")).as("c"))
      .select(col(queryId), col("c.id").as(corpusId))
    val rescored = short
      .join(encoded.select(col(corpusId), col(corpusVec)), corpusId)
      .join(broadcast(queries), queryId)
      .select(col(queryId), col(corpusId),
        round(cosine_similarity(col(queryVec), col(corpusVec)), 6).as("cosine"))
    rankTopK(rescored, k, queryId, corpusId)
  }

  /** PQ index-quality audit: per subspace, the distribution of
    * quantization error (squared L2 between each vector's slice and
    * its OWN chosen centroid) — the "is this codebook fit for this
    * corpus" read that should gate any ANN built on the codes: a
    * subspace whose error dwarfs the others is wasting its byte, and
    * a rising mean on corpus drift says retrain/reseed. Terms ride
    * the same per-(vector, subspace) micro quantization as
    * [[pqTopK]]'s ADC, so the audit numbers are directly comparable
    * to the distances the index actually serves — and integer-summed,
    * engine-portable.
    *
    * Scale: map-side expression work against codebook literals plus
    * one m-row aggregation; nothing shuffles but the tiny final
    * rollup. Output: (subspace, n_vectors, mean_err_micro,
    * max_err_micro). */
  def pqQuantizationError(encoded: DataFrame,
      codebook: Array[Array[Array[Float]]],
      corpusVec: String = "embedding"): DataFrame = {
    val v = col(corpusVec).cast("array<double>")
    // r18: per-subspace errors come from one kernel call per vector
    // (VectorKernels.pqErrMicro — array position = subspace) instead
    // of m interpreted lambda terms; identical rounding tree
    encoded
      .select(posexplode(pq_err_micro(v, col("codes"), cbDouble(codebook)))
        .as(Seq("subspace", "err")))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(err) div count(1)").as("mean_err_micro"),
        max(col("err")).as("max_err_micro"))
  }

  /** LSH-bucketed ANN top-k: only corpus vectors in the query's
    * hyperplane bucket are scored. Trades recall for a bucket-join
    * instead of a full scan per query — at 100 TB the bucketed corpus
    * would be written bucket-partitioned so a query touches one
    * partition.
    *
    * Multi-probe (on by default): when a query's PRIMARY bucket holds
    * fewer than `k` corpus vectors, the query additionally probes every
    * bucket at Hamming distance 1 (one flipped hyperplane sign — the
    * standard multi-probe sequence: the most-likely buckets for a
    * vector near a hyperplane are exactly the one-bit flips). This
    * fixes the sparse-bucket < k result set WITHOUT rebuilding the
    * index at lower nPlanes, and it is conditional, so dense buckets
    * pay nothing. Each corpus vector lives in exactly one bucket and
    * probe buckets are distinct, so widening never duplicates a
    * candidate; the exact rescore still governs ranking. Bucket
    * occupancy is one ≤2^nPlanes-row aggregate (at 100 TB it comes
    * for free from the bucket-partitioned index's file statistics
    * rather than a second scan). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8,
      dim: Int = 64,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec",
      multiProbe: Boolean = true): DataFrame = {
    val cb = corpus.withColumn("bucket", hyperplaneBucket(col(corpusVec), nPlanes, dim))
    val qb = queries.withColumn("bucket", hyperplaneBucket(col(queryVec), nPlanes, dim))
    val probed =
      if (!multiProbe) qb
      else {
        val counts = cb.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
        val flips = (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1 << p)))
        qb.join(broadcast(counts), Seq("bucket"), "left")
          .withColumn("__probe",
            explode(when(coalesce(col("__bn"), lit(0L)) < k,
                array((col("bucket") +: flips): _*))
              .otherwise(array(col("bucket")))))
          .drop("bucket", "__bn")
          .withColumnRenamed("__probe", "bucket")
      }
    val scored = cb.join(broadcast(probed), "bucket")
      .select(
        col(queryId), col(corpusId),
        round(cosine_similarity(col(queryVec), col(corpusVec)), 6).as("cosine"))
    rankTopK(scored, k, queryId, corpusId)
  }

  /** Directed k-NN graph over an embedding corpus — the substrate for
    * graph-based dedup, diversity/coverage sampling, and label
    * propagation over a training corpus. Single-probe LSH: each vector
    * is scored only against its own sign-bucket's occupants, so the
    * candidate volume is Σ|bucket|² (vs n² brute force) and the join is
    * a self-equi-join on the bucket key — one shuffle, AQE-splittable
    * if a bucket runs hot. Cross-bucket neighbors are missed by design;
    * recall is bought with fewer planes (bigger buckets) or Hamming-1
    * probing as in [[lshTopK]] — this variant is the cheap
    * all-vectors pass, where per-query probe widening would multiply
    * the whole corpus, not a 5-row query side.
    *
    * The bucketed projection is localCheckpoint'd: it feeds BOTH sides
    * of the self-join, so the 2^nPlanes dot products per vector compute
    * once, and the checkpoint breaks the self-join lineage ambiguity.
    * Ranking goes through the bounded-heap [[TopKScored]] aggregator
    * (map-side partial top-k, never a corpus-wide window).
    *
    * Output: (src, dst, cosine, rank), rank 1..k per src by
    * (cosine desc, dst asc) on the 6-dp-rounded score. */
  def knnGraph(emb: DataFrame, k: Int = 3, nPlanes: Int = 6, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).as("src"), col(vecCol).as("vec"),
        hyperplaneBucket(col(vecCol), nPlanes, dim).as("bucket"))
      .transform(Materialize(_, "Similarity.knnGraph: bucketed"))
    val scored = bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.src") =!= col("b.src"))
      .select(col("a.src").as("src"), col("b.src").as("dst"),
        round(cosine_similarity(col("a.vec"), col("b.vec")), 6).as("cosine"))
    rankTopK(scored, k, "src", "dst")
  }

  /** LSH index health profile: per sign-bit bucket, the population and
    * the L2-norm range of its vectors — the statistic that decides
    * whether an index is usable BEFORE queries run (a skewed bucket
    * histogram means some probes degrade to near-linear scans; the
    * norm range flags degenerate all-zero regions). One narrow
    * codegen'd projection (2ⁿᵖˡᵃⁿᵉˢ dots per row) followed by one
    * partial+final hash agg on a ≤2ⁿᵖˡᵃⁿᵉˢ-key space — no joins, no
    * windows, and the agg output is bounded by the bucket count, not
    * the corpus. Norms round only at output; min/max commute with the
    * final round so the result is engine-exact. */
  def bucketProfile(emb: DataFrame, vecCol: String = "embedding",
      nPlanes: Int = 6, dim: Int = 64): DataFrame =
    emb.filter(size(col(vecCol)) === dim)
      .select(
        hyperplaneBucket(col(vecCol), nPlanes, dim).as("bucket"),
        sqrt(dot_product(col(vecCol), col(vecCol))).as("__norm"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("__norm")), 6).as("min_norm"),
        round(max(col("__norm")), 6).as("max_norm"))

  /** Per-label centroids in QUANTIZED (int8) space: class prototypes /
    * cluster summaries computed as exact integer sums per dimension —
    * float vector means are accumulation-order-dependent and therefore
    * not reproducible across engines or partitionings, but int8 code
    * sums are exact BIGINTs and the mean is one exact-operand division
    * at the end. The accuracy loss is the quantizer's (~0.4% of
    * max|x|), bounded and documented, in exchange for bit-reproducible
    * prototypes.
    *
    * Scale: quantize is a narrow codegen'd projection; the posexplode
    * fans out ×dim but the partial agg collapses to (labels × dim)
    * rows per task before the one exchange — same wire volume as a
    * per-label array-buffer aggregator, with no custom class.
    *
    * Output: (label, dim, n, s, mean_code), dim 0-based. */
  def quantizedCentroids(emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol).as("label"),
        quantize_i8(col(vecCol)).as("__q"))
      .filter(col("__q").isNotNull) // degenerate vectors: no defined scale
      .select(col("label"), posexplode(col("__q")))
      .toDF("label", "dim", "code")
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("code").cast("long")).as("s"))
      .withColumn("mean_code", round(col("s") / col("n"), 6))

  /** Pairwise-cosine histogram over a deterministic pair sample — the
    * embedding-space GEOMETRY diagnostic: a healthy isotropic space
    * piles random-pair cosines near 0; mass near 1 means collapsed /
    * anisotropic embeddings (every ANN structure above degrades), and
    * the histogram is the cheap early warning read BEFORE building
    * indexes.
    *
    * Sampling is hash-deterministic, not RNG: vectors land in
    * `pairBuckets` groups by md5-60 of their id, and only
    * WITHIN-group pairs are scored — n²/pairBuckets pairs total, an
    * unbiased pair sample any engine reproduces exactly. The
    * histogram bins floor(round₆(cos)·10) clamped to [−10, 9]
    * (cos = 1.0 folds into the top bin).
    *
    * Scale: the self-join is bucket-keyed (never all-pairs);
    * per-bucket population ~n/pairBuckets — pick pairBuckets ≈ n/30
    * to hold the per-task pair count flat as the corpus grows. One
    * final aggregation over ≤ 20 bins. Output: (bin, n,
    * share_micro). */
  def pairCosineHistogram(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", pairBuckets: Int = 32,
      dim: Int = 64): DataFrame = {
    require(pairBuckets > 0,
      s"pairCosineHistogram: pairBuckets must be positive, got $pairBuckets")
    import graft.functions.TextFunctions.md5Bucket60
    val valid = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        pmod(md5Bucket60(col(idCol)), lit(pairBuckets.toLong)).as("grp"))
      .transform(Materialize(_, "Similarity.pairCosineHistogram: valid"))
    val pairs = valid.as("a").join(valid.as("b"),
        col("a.grp") === col("b.grp") && col("a.id") < col("b.id"))
      .select(least(floor(round(
          cosine_similarity(col("a.vec"), col("b.vec")), 6) * 10), lit(9L))
        .cast("long").as("bin"))
    // materialize the ≤20-row histogram: it feeds both the output and
    // the totals branch, and an unmaterialized plan would run the
    // whole pair join twice
    val binned = pairs.groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .transform(Materialize(_, "Similarity.pairCosineHistogram: binned"))
    binned.join(broadcast(binned.agg(sum(col("n")).cast("bigint").as("__t"))))
      .select(col("bin"), col("n"),
        expr("n * 1000000L div __t").as("share_micro"))
  }

  /** Cluster exemplars: for each cluster, the member vector closest
    * (by cosine) to the cluster's integer-quantized centroid — the
    * medoid-style representative every clustering consumer needs (a
    * human can read 10 exemplars; nobody reads 10 clusters of ids).
    * Complements [[centroidDrift]] (same centroid machinery, pointed
    * at WITHIN-cluster structure instead of between-group drift).
    *
    * Exactness: the same per-element micro quantization as
    * [[centroidDrift]] makes centroids order-free BIGINT; each
    * member's cosine-to-centroid numerator is an exact integer dot
    * product; the final cosine is one double expression rounded to
    * 6 dp, and the argmax breaks ties by member id via one
    * min-struct aggregate — engine-identical.
    *
    * Scale: one posexplode pass feeds both the centroid aggregation
    * and the member-side join; the centroid frame is provably small —
    * clusters×dim rows of three longs (~24 B/row: 10⁴ clusters × 64
    * dims ≈ 15 MB), bounded by the cluster CARDINALITY, not the
    * member count — so it joins back with an EXPLICIT `broadcast()`
    * (the x191 oodAudit stats-frame pattern) rather than leaving a
    * member-side shuffle to AQE's estimate. The argmax is an
    * aggregate, not a window.
    *
    * Output: (clusterCol, n_members, exemplar_id, cos_to_centroid),
    * ordered by cluster. */
  def clusterExemplars(emb: DataFrame, clusters: DataFrame,
      clusterCol: String = "cluster_id", idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val cells = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .select(col("id"), col("d"),
        round(col("v").cast("double") * lit(1000000.0)).cast("long").as("m"))
      .join(clusters.select(col(idCol).as("id"),
        col(clusterCol).as("grp")), "id")
      // feeds the centroid AND the member side
      .transform(Materialize(_, "Similarity.clusterExemplars: cells"))
    val cent = cells.groupBy(col("grp"), col("d"))
      .agg(sum(col("m")).cast("bigint").as("s"), count(lit(1)).as("c"))
      .select(col("grp"), col("d"), expr("s div c").as("q"))
    val scored = cells.join(broadcast(cent), Seq("grp", "d"))
      .groupBy(col("grp"), col("id"))
      .agg(sum(col("m") * col("q")).cast("bigint").as("__num"),
        sum(col("m") * col("m")).cast("bigint").as("__mm"),
        sum(col("q") * col("q")).cast("bigint").as("__qq"))
      .filter(col("__mm") > 0 && col("__qq") > 0)
      .select(col("grp"), col("id"),
        round(col("__num").cast("double") /
          (sqrt(col("__mm").cast("double")) *
            sqrt(col("__qq").cast("double"))), 6).as("__cos"))
    scored.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("__cos")).as("nc"), col("id").as("id"),
          col("__cos").as("cos"))).as("__best"))
      .select(col("grp").as(clusterCol), col("n_members"),
        col("__best.id").as("exemplar_id"),
        col("__best.cos").as("cos_to_centroid"))
      .orderBy(col(clusterCol))
  }

  /** Per-group embedding-centroid drift: each group's mean vector
    * against the corpus mean vector, as a cosine — the "is this
    * source/label occupying a different region of embedding space"
    * read that x127's pairwise-geometry histogram aggregates away.
    * Low cosine = the group's content is directionally distinct from
    * the corpus; near 1 = it sits at the center of mass.
    *
    * Exactness: naive centroids would accumulate doubles in shuffle
    * order — nondeterministic in Spark and unmatchable cross-engine.
    * Instead every component is quantized ONCE per element to integer
    * micro (`round(v·10⁶)` on the exact float→double widening), so
    * per-(group, dim) sums are order-free BIGINT algebra and the
    * centroid component is one floor division by the group count.
    * The final cosine runs over ≤ `dim` integer components (numerator
    * is an exact BIGINT dot product — micro²·dim ≈ 10¹⁴, far inside
    * int64; only the two norms and the final divide are doubles,
    * computed from exact integers in a fixed expression — identical
    * on any engine), rounded to 6 dp. Zero-norm centroids yield NULL.
    *
    * Scale: one posexplode pass → (group, dim) partial+final hash
    * aggregation (group×dim cells, tiny); the corpus centroid derives
    * from the group frame by a second dim-keyed aggregation — no
    * second corpus scan — and broadcasts onto the group frame. At
    * 100 TB the explode+aggregate is the only full-volume work.
    *
    * Output: (groupCol, n, cos_vs_corpus, centroid_norm), ordered by
    * group; norms in original embedding units (micro scaled back). */
  def centroidDrift(emb: DataFrame, groupCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val cells = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("d", "v")))
      .select(col("grp"), col("d"),
        round(col("v").cast("double") * lit(1000000.0)).cast("long").as("m"))
    val byGrpDim = cells.groupBy(col("grp"), col("d"))
      .agg(sum(col("m")).cast("bigint").as("s"), count(lit(1)).as("c"))
      // feeds the corpus roll-up AND the join
      .transform(Materialize(_, "Similarity.centroidDrift: byGrpDim"))
    val grpCent = byGrpDim
      .select(col("grp"), col("d"), expr("s div c").as("g"),
        col("c").as("n"))
    val corpCent = byGrpDim.groupBy(col("d"))
      .agg(expr("sum(s) div sum(c)").as("q"))
    grpCent.join(broadcast(corpCent), "d")
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        sum(col("g") * col("q")).cast("bigint").as("__num"),
        sum(col("g") * col("g")).cast("bigint").as("__gg"),
        sum(col("q") * col("q")).cast("bigint").as("__qq"))
      .select(col("grp").as(groupCol), col("n"),
        when(col("__gg") > 0 && col("__qq") > 0,
          round(col("__num").cast("double") /
            (sqrt(col("__gg").cast("double")) *
              sqrt(col("__qq").cast("double"))), 6)).as("cos_vs_corpus"),
        round(sqrt(col("__gg").cast("double")) / lit(1000000.0), 6)
          .as("centroid_norm"))
      .orderBy(col(groupCol))
  }

  /** Cross-split leakage by embedding similarity: hash-split the
    * corpus into test (`testPct`%) and train, then find each test
    * vector's nearest TRAIN vector — near-identical cross-split
    * neighbors mean the eval set leaks into training (paraphrases
    * and re-crawls that x64's n-gram leakage screen cannot see
    * because the WORDS differ while the embedding doesn't). The
    * embedding-space sibling of x64/x65.
    *
    * Determinism: the split is the md5-60 gate (hash mod 100 <
    * testPct — the x30 contract, any engine replays it); candidates
    * come from the same hyperplane buckets as x07/x76 (sign-bit
    * agreement — high-cosine pairs collide with high probability;
    * recall is bucket-bounded and the oracle replays the SAME
    * buckets, so the gate checks the bucketed semantics, not an
    * unbounded all-pairs claim); the per-test argmax is the
    * bounded-heap [[TopKScored]] top-1 on (round-6 cosine desc,
    * train id asc). Test vectors alone in their bucket have no
    * candidate and are absent — the honest null.
    *
    * Scale: one bucket equi-join (never test×train), heap argmax
    * with map-side combine; the split gate is a narrow projection.
    *
    * Output: (test_id, train_id, cosine, leaked), ordered by
    * test_id; `leaked` = cosine ≥ leakThreshold. */
  def splitLeakageBySimilarity(emb: DataFrame, testPct: Int = 10,
      leakThreshold: Double = 0.9, nPlanes: Int = 6, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(testPct > 0 && testPct < 100,
      s"splitLeakageBySimilarity: testPct must be in (0, 100), got $testPct")
    val bucketed = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        hyperplaneBucket(col(vecCol), nPlanes, dim).as("bucket"),
        (pmod(graft.functions.TextFunctions.md5Bucket60(col(idCol)),
          lit(100L)) < testPct).as("__t"))
      // feeds both split sides
      .transform(Materialize(_, "Similarity.splitLeakageBySimilarity: bucketed"))
    val scored = bucketed.filter(col("__t")).as("a")
      .join(bucketed.filter(!col("__t")).as("b"),
        col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("test_id"), col("b.id").as("train_id"),
        round(cosine_similarity(col("a.vec"), col("b.vec")), 6).as("cosine"))
      .filter(col("cosine").isNotNull)
    val top1 = udaf(new TopKScored(1))
    scored.groupBy(col("test_id"))
      .agg(top1(col("train_id"), col("cosine")).as("__top"))
      .select(col("test_id"), explode(col("__top")).as("__e"))
      .select(col("test_id"), col("__e.id").as("train_id"),
        col("__e.score").as("cosine"))
      .withColumn("leaked", col("cosine") >= leakThreshold)
      .orderBy(col("test_id"))
  }

  /** Embedding anisotropy: the share of total variance carried by the
    * covariance matrix's TOP eigendirection — the one-number "is this
    * embedding space collapsed" read (isotropic spaces spread
    * variance across directions; a dominant direction means every
    * cosine is inflated by a common component, LSH buckets skew, and
    * whitening/centering would pay — the mechanism behind x127's
    * pile-up near 1, named and quantified). Estimated by power
    * iteration on the centered scatter matrix.
    *
    * Exactness (the x82 iterative discipline, applied to a DIM-bounded
    * matrix): components quantize ONCE to MILLI; the per-dimension
    * mean is the floor-division integer mean; scatter cells
    * S_ij = Σ d_i·d_j are exact BIGINT (milli keeps products tiny —
    * the x169 grain rule); each power-iteration step is exact integer
    * algebra (u = S·w, then w ← u·1000 div max|u|, both engines
    * truncating toward zero identically), so after `iters` fixed
    * steps both engines hold the SAME integer vector; the Rayleigh
    * share (wᵀSw/wᵀw)/trace(S) evaluates in one double expression
    * over three exact integers, quantized to micro. The scatter is
    * used UN-normalized — the share is invariant to the 1/n factor.
    *
    * Scale: ONE typed aggregation over the vectors
    * ([[graft.functions.ScatterMoments]]) accumulates n, the
    * per-dimension sums, and the raw product sums per partition —
    * dim²+dim+1 longs per task through the exchange, NO n·dim²
    * intermediate rows (the posexplode self-join this replaced,
    * VERDICT r11 item 2). The exact centered scatter is reconstructed
    * from the moments by the integer identity
    * S_ij = P_ij − mu_j·s_i − mu_i·s_j + n·mu_i·mu_j with the same
    * truncating integer mean — bit-identical cells. The iteration
    * itself runs on the dim×dim matrix — bounded by the SCHEMA, not
    * the data — driver-side in exact Long arithmetic (the x22/x26
    * exported-constant pattern: dim²-bounded state is a legitimate
    * driver value; the oracle re-derives the same integers from the
    * data in SQL).
    *
    * Output: 1 row — (n, dim, trace, top_eigen_share_micro, iters);
    * share null when the scatter is degenerate (all-equal vectors). */
  def embeddingAnisotropy(emb: DataFrame, dim: Int = 64, iters: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"embeddingAnisotropy: iters must be in [1, 16], got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val agg = new graft.functions.ScatterMoments(dim)
    val m = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(vecCol)).as[Array[Float]]
      .select(agg.toColumn)
      .head() // [n, s_0..s_{d−1}, P_00..P_{dd}] — schema-bounded
    val n = m(0)
    val s = java.util.Arrays.copyOfRange(m, 1, 1 + dim)
    // the truncating integer mean (Long / ≡ SQL div toward zero) and
    // the exact centered-scatter reconstruction — dim×dim driver state
    val mu = if (n == 0) new Array[Long](dim) else s.map(_ / n)
    val sMat: Array[Array[Long]] = Array.ofDim[Long](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim)
      sMat(i)(j) = m(1 + dim + i * dim + j) -
        mu(j) * s(i) - mu(i) * s(j) + n * mu(i) * mu(j)
    val trace = (0 until dim).map(i => BigInt(sMat(i)(i))).sum
    // arbitrary-precision intermediates: u = S·w and wᵀSw exceed int64
    // at corpus scale; the oracle mirrors with DuckDB HUGEINT, so both
    // engines run EXACT integer arithmetic end to end
    var w = Array.fill(dim)(BigInt(1000))
    var degenerate = false
    var k = 0
    while (k < iters && !degenerate) {
      val u = Array.tabulate(dim)(i =>
        (0 until dim).map(j => BigInt(sMat(i)(j)) * w(j)).sum)
      val m = u.map(_.abs).max
      if (m == 0) degenerate = true
      else w = u.map(x => x * 1000 / m) // BigInt / truncates toward zero
      k += 1
    }
    val share: Option[Long] =
      if (degenerate || trace <= 0) None
      else {
        val ww = w.map(x => x * x).sum
        val wSw = (0 until dim).map(i =>
          (0 until dim).map(j => w(i) * BigInt(sMat(i)(j)) * w(j)).sum).sum
        if (ww == 0) None
        else Some(math.round(
          wSw.toDouble / ww.toDouble / trace.toDouble * 1000000.0))
      }
    val traceL = trace.toLong // exact: trace ≤ dim·(2e3)²·n ≪ 2⁶³
    Seq((n, dim.toLong, traceL, share, iters.toLong))
      .toDF("n", "dim", "trace", "top_eigen_share_micro", "iters")
  }

  /** Per-label embedding dispersion WITHOUT pair enumeration: the mean
    * pairwise dot product inside each label via the sum-vector
    * identity Σ_{i≠j}⟨v_i,v_j⟩ = ‖Σv‖² − Σ‖v‖² — the "how
    * semantically redundant is this label/source" read (high mean
    * pairwise similarity = the label's documents say the same thing;
    * near zero = diverse coverage), at the cost of ONE aggregation
    * where the naive form needs n² pairs. The redundancy ratio
    * normalizes by the mean self-dot so labels with different
    * embedding scales compare.
    *
    * Exactness: components quantize ONCE to MILLI (exact integer per
    * cell, the x139/x165 discipline at coarser grain — milli, not
    * micro, because the identity SQUARES the per-dimension sums:
    * with |q| ≤ q_max the square stays exact int64 while
    * n·q_max ≤ 3·10⁹, i.e. ~10⁶ rows per label at unit-scale
    * embeddings; sample labels beyond that envelope). All sums are
    * order-free BIGINT; the two mean divisions and the ratio are
    * integer floor divisions both engines truncate identically.
    * Quantized dots carry 10⁶ × the original scale, so the means are
    * already micro.
    *
    * Scale: one posexplode pass (×dim fan-out, collapsed by partial
    * aggregation to |labels|×dim cells before the only exchange),
    * then label-cardinality algebra. Nothing broadcasts.
    *
    * Output: (label, n, mean_self_dot_micro, mean_pair_dot_micro,
    * redundancy_micro), ordered by label; pair columns null for
    * singleton labels. */
  def embeddingDispersion(emb: DataFrame, labelCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val cells = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(labelCol).as("label"), col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("d", "v")))
      .select(col("label"), col("id"), col("d"),
        round(col("v").cast("double") * lit(1000.0)).cast("long").as("q"))
    val perDim = cells.groupBy(col("label"), col("d"))
      .agg(sum(col("q")).cast("bigint").as("__sd"),
        sum(col("q") * col("q")).cast("bigint").as("__qq"),
        countDistinct(col("id")).as("__n"))
    perDim.groupBy(col("label"))
      .agg(max(col("__n")).cast("bigint").as("n"),
        sum(col("__sd") * col("__sd")).cast("bigint").as("__s2"),
        sum(col("__qq")).cast("bigint").as("__self"))
      .select(col("label"), col("n"),
        expr("__self div n").as("mean_self_dot_micro"),
        when(col("n") > 1, expr("(__s2 - __self) div (n * (n - 1))"))
          .as("mean_pair_dot_micro"),
        when(col("n") > 1 && expr("__self div n") > 0,
          expr("((__s2 - __self) div (n * (n - 1))) * 1000000L div (__self div n)"))
          .as("redundancy_micro"))
      .orderBy(col("label"))
  }

  /** Dimension-truncation (matryoshka) retrieval audit: how much of
    * full-dimension top-k retrieval survives when vectors are cut to
    * their first `d` components — the measurement behind serving an
    * index at d ≪ fullDim (matryoshka representation learning trains
    * embeddings so prefixes stay usable; this audits whether a given
    * corpus's vectors actually have that property).
    *
    * For each `d` in `dims`: re-rank with cosine over the length-`d`
    * prefixes (same quantize-then-tie-break contract as
    * [[bruteForceTopK]]) and report
    *  - `topk_hits`: |truncated top-k ∩ full-dim top-k| summed over
    *    queries (out of `slots` = n_queries · k), and
    *  - `top1_trunc_cos_micro_sum`: Σ over queries of the TRUNCATED
    *    cosine between the query and its FULL-dim top-1 neighbor
    *    (micro-quantized per pair, integer-summed — order-free), the
    *    score-degradation read beside the rank-agreement read.
    *
    * Exact by construction (no sketch): integers out, one 6-dp + micro
    * quantization per scored pair, so a DuckDB oracle reproduces every
    * cell. Null-drop contract (mirrored by the oracle's norm guards):
    * a vector whose length-`d` prefix has zero norm has no cosine at
    * that dim, so it leaves that dim's ranking and rescore sum — and
    * uniform vector length ≥ max(dims) is the caller's contract, as
    * with [[bruteForceTopK]]. Scale: a calibration audit — each dim
    * costs one corpus scan
    * with the query set broadcast (the x06 brute-force discipline:
    * only (query, id, score) triples reach the bounded-heap top-k
    * exchange); at 100 TB it runs over a query/corpus sample exactly
    * like the sketch-calibration family (x42), never as a serving
    * path. */
  def truncationRecall(corpus: DataFrame, queries: DataFrame, dims: Seq[Int],
      k: Int, corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    require(dims.nonEmpty, "truncationRecall: need at least one dim")
    variantRecall(corpus, queries, k,
      dims.map(d => (lit(d.toLong),
        (v: Column) => slice(v, 1, d))),
      "dim", "top1_trunc_cos_micro_sum",
      corpusId, corpusVec, queryId, queryVec)
  }

  /** Compression retrieval audit — the quantization/projection sibling
    * of [[truncationRecall]]: how much of full-precision top-k
    * retrieval survives a lossy vector transform (int8 symmetric
    * quantization, a ±1 Johnson–Lindenstrauss projection, …), the
    * measurement behind serving an index in a compressed format.
    * `methods` maps a method name to the vector transform applied to
    * BOTH sides before re-ranking; output columns mirror
    * truncationRecall with `method` as the variant label and
    * `top1_comp_cos_micro_sum` as the degradation sum. A transform
    * yielding null (degenerate input by that method's contract) drops
    * the vector from that method's ranking and rescore — same
    * null-drop rule, mirrored by the oracle's guards. Same scale
    * contract: a calibration audit over a query/corpus sample. */
  def compressionRecall(corpus: DataFrame, queries: DataFrame,
      methods: Seq[(String, Column => Column)], k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    require(methods.nonEmpty, "compressionRecall: need at least one method")
    variantRecall(corpus, queries, k,
      methods.map { case (name, tf) => (lit(name), tf) },
      "method", "top1_comp_cos_micro_sum",
      corpusId, corpusVec, queryId, queryVec)
  }

  /** Retrieval-quality scorecard against LABEL relevance — the IR-eval
    * read beside [[truncationRecall]]/[[compressionRecall]]'s
    * self-consistency audits: for each labeled query vector, rank the
    * corpus by cosine (self excluded, the [[bruteForceTopK]] contract)
    * and score the top-k list with the standard metrics, a neighbor
    * counting as relevant iff it shares the query's label:
    *  - `hits_at_k`: relevant results in the top k (precision@k · k),
    *  - `mrr_micro`: 10⁶/rank of the first relevant result (0 if none),
    *  - `dcg_micro` / `idcg_micro` / `ndcg_micro`: binary-relevance
    *    DCG@k against the ideal ordering of the query's min(k, R)
    *    relevant corpus vectors, where R = same-label corpus size,
    *    minus one iff the query itself sits in the corpus under that
    *    label (self-exclusion removed it). External query sets are a
    *    legal input: an absent label keeps the row with R = 0 (null
    *    dcg/idcg/ndcg, real hits/mrr).
    *
    * Exact cross-engine: the only irrational inputs are the rank
    * discounts 1/log₂(r+1), quantized ONCE in Scala (HALF_UP micro)
    * and embedded as the SAME integer constants in the plan and the
    * DuckDB oracle — every metric is then integer algebra (ndcg is
    * one integer floor-division of micro values). Zero-R queries
    * carry null dcg/idcg/ndcg and mrr 0.
    *
    * Scale: one broadcast-join corpus scan feeds the bounded-heap
    * top-k; the ranked frame (n_queries·k rows) broadcasts back onto
    * the corpus for label recovery; label totals are a
    * label-cardinality aggregate. A calibration/eval audit — sampled
    * queries at 100 TB, like the rest of the family. */
  def retrievalMetrics(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label", corpusId: String = "vec_id",
      corpusVec: String = "embedding", queryId: String = "query_id",
      queryVec: String = "query_vec",
      queryLabel: String = "query_label"): DataFrame = {
    require(k >= 1, s"retrievalMetrics: k must be >= 1, got $k")
    val scored = corpus.join(broadcast(queries))
      .filter(col(corpusId) =!= col(queryId))
      .select(col(queryId), col(corpusId),
        round(cosine_similarity(col(queryVec), col(corpusVec)), 6).as("cosine"))
    val ranked = rankTopK(scored, k, queryId, corpusId)
    // label recovery: the ranked frame is n_queries·k rows — broadcast
    // it onto the corpus (one scan), then attach query labels
    val labeled = corpus.select(col(corpusId), col(labelCol).as("__cl"))
      .join(broadcast(ranked), corpusId)
      .join(broadcast(queries.select(col(queryId), col(queryLabel))), queryId)
      .withColumn("__rel", (col("__cl") === col(queryLabel)).cast("int"))
    // rank discounts quantized ONCE driver-side; ideal DCG prefix sums
    val dcgC = discountMicro(k)
    val idcgPrefix = dcgC.scanLeft(0L)(_ + _).tail
    val mrrC = (1 to k).map(r => math.round(1e6 / r)).toArray
    // MRR as max-of-discounts, NOT element_at(min(rank)): the
    // discounts are strictly decreasing in rank, so the max per-row
    // discount IS the first relevant rank's — and the element_at index
    // (`rank`) is never null this way. Indexing a LITERAL array with a
    // nullable AGGREGATE (element_at(lit_arr, min(...)) ) mis-evaluates
    // under codegen when the aggregate is null (observed: returns the
    // last element instead of null, Spark 4.1) — keep indexes
    // row-level and non-null.
    val perQuery = labeled.groupBy(col(queryId), col(queryLabel))
      .agg(sum(col("__rel")).cast("bigint").as("hits_at_k"),
        coalesce(max(when(col("__rel") === 1,
          element_at(typedlit(mrrC), col("rank").cast("int")))), lit(0L))
          .as("mrr_micro"),
        sum(when(col("__rel") === 1,
          element_at(typedlit(dcgC), col("rank").cast("int")))
          .otherwise(0L)).cast("bigint").as("dcg_micro"))
    // R = same-label corpus size, minus the query itself ONLY when the
    // query is in the corpus under that label (self-exclusion removed
    // it from the candidates); a query whose label is absent keeps
    // R = 0 (null dcg/idcg/ndcg, real hits/mrr) instead of vanishing —
    // external query sets are a legal input
    val labelTotals = corpus.groupBy(col(labelCol).as("__tl"))
      .agg(count(lit(1)).cast("bigint").as("__tn"))
    val selfHits = corpus
      .join(broadcast(queries.select(col(queryId).as("__shq"),
        col(queryLabel).as("__shl"))),
        col(corpusId) === col("__shq") && col(labelCol) === col("__shl"))
      .groupBy(col("__shq")).agg(count(lit(1)).cast("bigint").as("__selfn"))
    perQuery
      .join(broadcast(labelTotals), col(queryLabel) === col("__tl"), "left")
      .join(broadcast(selfHits), col(queryId) === col("__shq"), "left")
      .withColumn("__r_total", greatest(
        coalesce(col("__tn"), lit(0L)) - coalesce(col("__selfn"), lit(0L)),
        lit(0L)))
      .withColumn("idcg_micro",
        when(col("__r_total") >= 1, element_at(typedlit(idcgPrefix),
          least(col("__r_total"), lit(k.toLong)).cast("int"))))
      .select(col(queryId), col(queryLabel), col("hits_at_k"),
        col("mrr_micro"),
        when(col("__r_total") >= 1, col("dcg_micro")).as("dcg_micro"),
        col("idcg_micro"),
        when(col("idcg_micro") > 0,
          expr("dcg_micro * 1000000L div idcg_micro")).as("ndcg_micro"))
      .orderBy(col(queryId))
  }

  /** The binary-relevance rank discounts round(10⁶ / log₂(r+1)) for
    * r = 1..k — quantized once here so the Spark plan and the DuckDB
    * oracle share identical integer constants. */
  private[graft] def discountMicro(k: Int): Array[Long] =
    (1 to k).map(r =>
      VectorKernels.roundHalfUp(1e6 / (math.log(r + 1.0) / math.log(2.0)), 1.0)).toArray

  /** Shared recall-vs-full-ranking harness behind [[truncationRecall]]
    * and [[compressionRecall]]: rank the transformed vectors with the
    * [[bruteForceTopK]] contract per variant, count survivors of the
    * full-precision top-k set, and rescore each query's full top-1
    * pair under the transform. All aggregates are single-row frames;
    * the per-variant branches union over one corpus scan each. */
  private def variantRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      variants: Seq[(Column, Column => Column)], labelOut: String,
      sumOut: String, corpusId: String, corpusVec: String,
      queryId: String, queryVec: String): DataFrame = {
    val full = bruteForceTopK(corpus, queries, k, corpusId, corpusVec,
      queryId, queryVec)
    val fullPairs = full.select(col(queryId), col(corpusId))
    val full1 = full.filter(col("rank") === 1)
      .select(col(queryId), col(corpusId).as("__top1"))
    val slots = queries.agg(count(lit(1)).as("n_queries"),
      (count(lit(1)) * lit(k.toLong)).as("slots"))
    val perVariant = variants.map { case (label, tf) =>
      val tq = queries.select(col(queryId), tf(col(queryVec)).as(queryVec))
      val tc = corpus.select(col(corpusId), tf(col(corpusVec)).as(corpusVec))
      // fullPairs is ≤ n_queries·k rows by construction — broadcast it
      // (statically Spark can't see the bound through the aggregation)
      val hits = bruteForceTopK(tc, tq, k, corpusId, corpusVec, queryId, queryVec)
        .join(broadcast(fullPairs), Seq(queryId, corpusId), "left_semi")
        .agg(count(lit(1)).cast("bigint").as("topk_hits"))
      // rescore (query, full top-1) pairs under the transform: the
      // pair list is one row per query, so IT broadcasts — the corpus
      // is only probed for the named top-1 vectors
      val top1 = corpus.join(broadcast(full1), col(corpusId) === col("__top1"))
        .join(broadcast(queries.select(col(queryId).as("__qid2"), col(queryVec))),
          col(queryId) === col("__qid2"))
        .select(round(cosine_similarity(
            tf(col(queryVec)), tf(col(corpusVec))), 6).as("__c"))
        .agg(sum(round(col("__c") * lit(1000000.0)).cast("long")).as(sumOut))
      hits.crossJoin(top1).select(label.as(labelOut),
        col("topk_hits"), col(sumOut))
    }.reduce(_ unionByName _)
    perVariant.crossJoin(broadcast(slots))
      .select(col(labelOut), col("n_queries"), col("slots"), col("topk_hits"),
        col(sumOut))
      .orderBy(col(labelOut))
  }

  /** Per-label embedding OOD (out-of-distribution) audit: each
    * vector's squared z-score against its OWN label's diagonal
    * covariance, summed over dimensions — the Mahalanobis-with-
    * diagonal-Σ read that flags mislabeled or corrupt embeddings for
    * pruning before contrastive training. The vector-space sibling of
    * [[Profile.zScores]] (which normalizes one scalar per group):
    * here every dimension is normalized by its per-label variance and
    * the per-dim contributions sum into one score per vector.
    *
    * Deterministic cross-engine: components quantize ONCE to 1e-3
    * units (q = round(v·1000)); with per-(label, dim) exact integer
    * sums s1 = Σq, s2 = Σq², the per-dim term
    * (q − μ)²/σ²_pop = (q·n − s1)² / (s2·n − s1²) — the n² cancels —
    * rides EXACT integer differences; only the square and the one
    * division run in double (identical IEEE ops in the DuckDB mirror),
    * milli-quantized per (vector, dim) and integer-summed (order-free)
    * into the vector's `ood_milli`. Exact while s2·n fits a long
    * (labels ≲ 3·10⁶ rows at unit-scale components; larger labels
    * take the md5-60 row sample first — the [[Profile.pairwiseKappa]]
    * envelope). A uniform-variance dim (s2·n = s1²) contributes null
    * and is skipped by the sum on both engines.
    *
    * A vector is flagged when its score exceeds `factorMilli` per
    * dimension (default 2000 = mean squared z above 2.0 — for
    * well-behaved embeddings ood_milli/dim concentrates near 1000,
    * the χ²/df mean). Output per label: (label, n, dim, ood_milli_sum,
    * max_ood_milli, flagged), ordered by label.
    *
    * Scale: the ×dim component fan-out collapses map-side (rows of a
    * vector are co-located, so the per-vector partial aggregation
    * combines before the exchange); the (label, dim) stats frame is
    * labels·dim rows and broadcasts. No windows, no pair enumeration. */
  def oodAudit(emb: DataFrame, labelCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, factorMilli: Long = 2000L): DataFrame = {
    val cells = emb.filter(size(col(vecCol)) === dim)
      .select(col(labelCol).as("label"), col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("d", "v")))
      .select(col("label"), col("id"), col("d"),
        round(col("v").cast("double") * lit(1000.0)).cast("long").as("q"))
    val stats = cells.groupBy(col("label").as("__l"), col("d").as("__d"))
      .agg(count(lit(1)).cast("bigint").as("__n"),
        sum(col("q")).cast("bigint").as("__s1"),
        sum(col("q") * col("q")).cast("bigint").as("__s2"))
    val terms = cells.join(broadcast(stats),
        col("label") === col("__l") && col("d") === col("__d"))
      .select(col("label"), col("id"),
        when(expr("__s2 * __n - __s1 * __s1") > 0,
          round(expr("CAST(q * __n - __s1 AS DOUBLE) * " +
            "CAST(q * __n - __s1 AS DOUBLE) * 1000.0D / " +
            "CAST(__s2 * __n - __s1 * __s1 AS DOUBLE)")).cast("long")).as("__t"))
    terms.groupBy(col("label"), col("id"))
      .agg(sum(col("__t")).as("__ood"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        lit(dim).cast("long").as("dim"),
        sum(col("__ood")).cast("bigint").as("ood_milli_sum"),
        max(col("__ood")).cast("bigint").as("max_ood_milli"),
        sum(when(col("__ood") > lit(factorMilli * dim), 1L).otherwise(0L))
          .cast("bigint").as("flagged"))
      .orderBy(col("label"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, its nearest neighbor with a DIFFERENT label (the hard
    * negative — the most confusable out-of-class example) next to its
    * nearest SAME-label neighbor other than itself (the anchor
    * positive), and the margin between them. Rows with a negative
    * margin are the queries whose nearest neighbor crosses the class
    * boundary — the x168 label-noise read expressed as minable
    * training pairs rather than an audit statistic.
    *
    * Ranking contract matches [[bruteForceTopK]]: cosine quantized to
    * 6 dp, ties break on ascending corpus id; the margin is the
    * difference of two quantized scores, re-quantized to micro (exact
    * — both operands carry 6 dp). Queries missing either side (a
    * label with one member has no positive) drop via the inner join.
    *
    * Scale: the query set broadcasts; the corpus is scanned twice
    * (positive and negative sides keep separate bounded-heap top-1
    * aggregations), each pass shuffling only (query, id, score)
    * triples. At 100 TB mining runs per-shard over candidate sets
    * pruned by the LSH/IVF index first — this is the exact-scoring
    * kernel those candidate sets feed. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      labelCol: String = "label", corpusId: String = "vec_id",
      corpusVec: String = "embedding", queryId: String = "query_id",
      queryVec: String = "query_vec",
      queryLabel: String = "query_label"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .filter(col(corpusId) =!= col(queryId))
      .select(col(queryId), col(corpusId),
        (col(labelCol) === col(queryLabel)).as("__same"),
        round(cosine_similarity(col(queryVec), col(corpusVec)), 6).as("cosine"))
    def top1(side: DataFrame, idOut: String, cosOut: String): DataFrame =
      rankTopK(side, 1, queryId, corpusId)
        .select(col(queryId), col(corpusId).as(idOut), col("cosine").as(cosOut))
    val pos = top1(scored.filter(col("__same")), "pos_id", "pos_cos")
    val neg = top1(scored.filter(!col("__same")), "neg_id", "neg_cos")
    // both sides are one row per query — broadcast (the bound is
    // invisible to the planner through the top-1 aggregation)
    pos.join(broadcast(neg), queryId)
      .join(broadcast(queries.select(col(queryId), col(queryLabel))), queryId)
      .select(col(queryId), col(queryLabel), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        round((col("pos_cos") - col("neg_cos")) * lit(1000000.0))
          .cast("long").as("margin_micro"))
      .orderBy(col(queryId))
  }
  /** Int8 quantization distortion profile per label — the DIRECT
    * reconstruction-error view beside [[compressionRecall]]'s
    * retrieval-impact view (x192 says "does int8 still retrieve";
    * this says "how far do the stored vectors move, and where"):
    * every vector is symmetric-int8 quantized (the [[quantize_i8]]
    * kernel — q = floor(v·127/max|v| + 0.5) clamped) and dequantized
    * back at q·(max|v|/127); the per-component squared error is
    * quantized ONCE to pico units (10¹²·err² — err ~1e-2 scale needs
    * the finer grid) and integer-summed per vector, then per label,
    * with the saturated-component count (|q| = 127: components at
    * full scale, where clamping can bite) alongside. A label with
    * outsized distortion is the one to store in float16/PQ instead.
    *
    * Exact cross-engine: the scale max|v| and the quantize/dequantize
    * doubles follow the exact x192 oracle replay (same op order);
    * zero-norm / non-finite vectors drop (quantize_i8's null
    * contract, mirrored by the oracle's mx > 0 guard).
    *
    * Scale: one posexplode fan-out collapsed by partial+final hash
    * aggregation — no window, no join beyond the rollup.
    *
    * Output: (label, n_vectors, err_pico_sum, max_vec_err_pico,
    * n_saturated), ordered by label. */
  def quantizationDistortion(emb: DataFrame, dim: Int = 64,
      labelCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = emb
      .filter(size(col(vecCol)) === dim)
      .select(col(labelCol).as("lbl"), col(idCol).as("id"),
        col(vecCol).as("v"), quantize_i8(col(vecCol)).as("q"))
      .filter(col("q").isNotNull)
      .withColumn("mx",
        expr("array_max(transform(v, x -> abs(CAST(x AS DOUBLE))))"))
    val cells = base
      .select(col("lbl"), col("id"), col("mx"),
        posexplode(arrays_zip(col("v"), col("q"))).as(Seq("d", "z")))
      .select(col("lbl"), col("id"),
        (col("z.v").cast("double") -
          col("z.q").cast("double") * (col("mx") / lit(127.0))).as("err"),
        (abs(col("z.q")) === 127).cast("long").as("sat"))
      .select(col("lbl"), col("id"),
        expr("CAST(round(err * err * 1000000000000.0D) AS BIGINT)").as("e"),
        col("sat"))
    cells.groupBy(col("lbl"), col("id"))
      .agg(sum(col("e")).cast("bigint").as("ve"),
        sum(col("sat")).cast("bigint").as("vs"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).cast("bigint").as("n_vectors"),
        sum(col("ve")).cast("bigint").as("err_pico_sum"),
        max(col("ve")).cast("bigint").as("max_vec_err_pico"),
        sum(col("vs")).cast("bigint").as("n_saturated"))
      .select(col("lbl").as(labelCol), col("n_vectors"),
        col("err_pico_sum"), col("max_vec_err_pico"), col("n_saturated"))
      .orderBy(col(labelCol))
  }

  /** The integer power-iteration core [[covarianceSpectrum]] and
    * [[whiteningAudit]] share — r18 optimization, two moves:
    *
    * 1. (guide §2.4 — remove shuffles outright) The n·dim² product
    *    cells used to flow through an `el ⋈ el` equi-join on the
    *    vector id — a full shuffle of the quantized corpus — before
    *    the (i, j) hash agg. They are now generated by re-exploding
    *    each vector against itself (two chained posexplodes over the
    *    source row), so the fan-out pipelines straight into the
    *    map-side partial aggregate and the only shuffled bytes are
    *    dim² cells per partition. Same per-row LONG product, same
    *    DECIMAL(38,0) accumulation, same n ≤ 1e10 envelope —
    *    bit-identical cells.
    * 2. (x187 embeddingAnisotropy precedent: dim²-bounded state is a
    *    legitimate driver value) The `iters` renormalize rounds used
    *    to run as sequential broadcast-join + hash-agg +
    *    single-partition-window Spark jobs, each eagerly
    *    checkpointed — ~10 jobs of scheduling overhead for a ≤ 64×64
    *    integer matrix. The iteration now runs driver-side in exact
    *    BigInt arithmetic replicating the former SQL truncation tree
    *    operator for operator (BigInt `/` and decimal `div` both
    *    truncate toward zero); SimilaritySpec pins the engine output
    *    against an independent BigInt reference.
    *
    * `withEl` keeps the checkpointed (id, dim, micro) element frame
    * for [[whiteningAudit]]'s corpus-scale projection; the spectrum
    * no longer materializes it at all (two extra corpus scans replace
    * a corpus-wide checkpoint + shuffle — the cheaper trade at any
    * scale). `nF` stays a checkpointed 1-row FRAME so the result plan
    * keeps its provenance; its raise_error envelope guard is
    * evaluated here by the driver read, exactly where the old plan
    * evaluated it (building `cm` forced it through the cross join).
    * `result` is None wherever the former plan's filters produced a
    * ZERO-row result: empty corpus, all-zero matrix (mx = 0), a
    * zeroed multiply round, or non-positive trace/denominator. */
  private case class CovPower(el: Option[DataFrame], nF: DataFrame,
      result: Option[CovPowerResult])
  private case class CovPowerResult(xv: Seq[(Long, BigInt)], topDim: Long,
      shareMicro: BigInt)

  private def covariancePowerParts(emb: DataFrame, vecCol: String,
      idCol: String, iters: Int, withEl: Boolean): CovPower = {
    require(iters >= 1 && iters <= 64,
      s"covarianceSpectrum: iters must be in [1, 64], got $iters")
    // one kernel quantization per VECTOR (bit-identical to the SQL
    // round/cast tree — see VectorKernels.quantizeMicro), instead of
    // one SQL round per exploded cell: the dim² fan-out below made the
    // per-cell BigDecimal rounding the dominant cost
    val qv = quantize_micro(col(vecCol))
    val el: Option[DataFrame] =
      if (!withEl) None
      else Some(emb
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).as("__id"), posexplode(qv).as(Seq("__i", "__q")))
        .select(col("__id"), col("__i").cast("long").as("__i"), col("__q"))
        // feeds the projection AND trace passes
        .transform(Materialize(_, "Similarity.covariancePowerParts: elements")))
    // ids with >= 1 exploded element — identical to the old
    // countDistinct over the exploded frame, without needing it
    val nF = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .agg(countDistinct(col(idCol)).cast("bigint").as("__nv"))
      .select(
        when(col("__nv") > 10000000000L,
          raise_error(concat(lit("covarianceSpectrum: "),
            col("__nv").cast("string"),
            lit(" vectors exceed the exact-integer envelope (1e10) — " +
              "shard the corpus")))
            .cast("bigint"))
          .otherwise(col("__nv")).as("__nv"))
      .transform(Materialize(_, "Similarity.covariancePowerParts: vector count"))
    val n = BigInt(nF.head().getLong(0)) // evaluates the envelope guard
    // LONG accumulators throughout (a DECIMAL(38,0) sum measured 4×
    // slower — one BigDecimal op per cell): Σq ≤ 1e6·n and the split
    // product sums below are each ≤ 1e6·n, so LONG is exact to
    // n ≈ 9.2e12 — wider than the 1e10 envelope nF guards, and the
    // guard is evaluated (head() above) BEFORE any sum is read.
    val sums: Map[Long, BigInt] = {
      val base = el.getOrElse(emb
        .filter(col(vecCol).isNotNull)
        .select(posexplode(qv).as(Seq("__i", "__q")))
        .select(col("__i").cast("long").as("__i"), col("__q")))
      base.groupBy(col("__i")).agg(sum(col("__q")).as("__s"))
        .collect().map(r => r.getLong(0) -> BigInt(r.getLong(1))).toMap
    }
    // per-row product exact in LONG (|q| ≤ 1e6 ⇒ |qi·qj| ≤ 1e12),
    // split into (div 1e6, remainder) halves so BOTH running sums stay
    // LONG-exact; the exact cell is reassembled in BigInt below —
    // identical integers to the former decimal accumulation, cell for
    // cell (p = hi·1e6 + lo holds for negatives too: truncating div
    // with the matching remainder)
    val cells: Seq[((Long, Long), BigInt)] = emb
      .filter(col(vecCol).isNotNull)
      .select(qv.as("__qarr"))
      .select(posexplode(col("__qarr")).as(Seq("__i", "__qi")),
        col("__qarr"))
      .select(col("__i").cast("long").as("__i"), col("__qi"),
        posexplode(col("__qarr")).as(Seq("__j", "__qj")))
      .select(col("__i"), col("__j").cast("long").as("__j"),
        (col("__qi") * col("__qj")).as("__p"))
      .select(col("__i"), col("__j"), expr("__p div 1000000L").as("__ph"),
        (col("__p") - expr("__p div 1000000L") * 1000000L).as("__pl"))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__ph")).as("__sh"), sum(col("__pl")).as("__sl"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (BigInt(r.getLong(2)) * 1000000 + BigInt(r.getLong(3)))).toSeq
    // ---- driver-side exact replica of the former SQL plan ----------
    val result: Option[CovPowerResult] = {
      val cprime = cells.flatMap { case ((i, j), pp) =>
        for { si <- sums.get(i); sj <- sums.get(j) }
          yield ((i, j), n * pp - si * sj)
      }
      val mx = if (cprime.isEmpty) BigInt(0)
        else cprime.map(_._2.abs).max
      if (mx <= 0) None // the old filter(__m > 0) emptied everything
      else {
        val cm = cprime.map { case (k, c) => (k, c * 1000000 / mx) }
        def multiply(v: Map[Long, BigInt]): Map[Long, BigInt] = cm
          .flatMap { case ((i, j), c) => v.get(j).map(x => i -> c * x) }
          .groupBy(_._1).map { case (i, ys) => i -> ys.map(_._2).sum }
        var xv: Map[Long, BigInt] =
          sums.keys.map(_ -> BigInt(1000000)).toMap
        var degenerate = xv.isEmpty
        for (_ <- 1 to iters if !degenerate) {
          val y = multiply(xv)
          val my = if (y.isEmpty) BigInt(0) else y.values.map(_.abs).max
          if (my <= 0) degenerate = true // the old filter(__my > 0)
          else xv = y.map { case (i, yy) => i -> yy * 1000000 / my }
        }
        if (degenerate) None
        else {
          val topDim = xv.toSeq.map { case (i, x) => (-x.abs, i) }.min._2
          val cx = multiply(xv) // the old plan's one extra multiply
          val joined = cx.toSeq.flatMap { case (i, y) =>
            xv.get(i).map(x => (y, x)) }
          val num = joined.map { case (y, x) => y * x }.sum
          val den = joined.map { case (_, x) => x * x }.sum
          val tr = cm.collect { case ((i, j), c) if i == j => c }.sum
          if (joined.isEmpty || tr <= 0 || den <= 0) None
          else Some(CovPowerResult(
            xv.toSeq.sortBy(_._1), topDim, num * 1000000 / (den * tr)))
        }
      }
    }
    CovPower(el, nF, result)
  }

  /** Covariance SPECTRUM read of an embedding corpus — the share of
    * total variance carried by the dominant principal direction, via
    * deterministic integer POWER ITERATION: where x187's anisotropy
    * measures concentration around the MEAN direction, this measures
    * concentration along the top EIGENVECTOR of the covariance — the
    * "is this embedding space collapsing to a line" health check that
    * decides whitening before ANN indexing (a top-heavy spectrum
    * wrecks IVF/PQ cell balance).
    *
    * Exactness pipeline (engine-exact end to end, the x202 integer
    * power-iteration idiom on a matrix instead of a chain):
    * elements quantize ONCE to micro; the n-scaled covariance
    * C'ᵢⱼ = n·Σqᵢqⱼ − SᵢSⱼ (exact integer — no mean division) computes
    * in DECIMAL(38,0) and renormalizes to micro ints by its max |cell|
    * (quotients truncate toward zero — Spark decimal→BIGINT cast and
    * DuckDB `//` agree); `iters` multiply-renormalize rounds run over
    * the dim²-row matrix frame (each round one broadcast-scale join +
    * hash agg, checkpointed — fixpoint pattern); the Rayleigh quotient
    * and trace share quantize once at the end.
    *
    * Scale: ONE corpus pass builds the dim² cell sums (fan-out dim²
    * per vector, collapsed by partial+final agg); everything after is
    * O(dim²) per round, independent of corpus size. Envelope: the
    * decimal cells hold n·(10⁶·|v|ₘₐₓ)² ≤ 10³⁸ — at |v| ≤ 1 that is
    * n ≤ 10²⁶ vectors; the n·Σqq product bounds it to n ≤ ~10¹⁰
    * (guarded with raise_error — past that, shard the corpus).
    *
    * Output (1 row): (n_vecs, top_dim = argmax |x| of the converged
    * direction, min index on ties, top_eig_share_micro =
    * λ₁·10⁶ div trace).
    *
    * EAGER-EVALUATION CONTRACT (r18 design, ADVICE r18): building
    * this frame RUNS the corpus passes and the driver-side iteration
    * (the dim²-bounded aggregates collect, the judged-legitimate
    * x187 precedent) — merely constructing or explaining the result
    * executes the pipeline, the raise_error envelope fires at build
    * time, and the returned 1-row frame is a snapshot of the input
    * AS OF the call. Unit-scale contract: the split-LONG product
    * accumulation is exact for |component| ≤ 1 (|q| ≤ 10⁶ micro) —
    * the embedding fixture contract; larger-magnitude embeddings
    * must be rescaled first (the old DECIMAL(38,0) path, 4× slower,
    * stayed exact to 10³⁸ — measured and replaced in r18). */
  def covarianceSpectrum(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", iters: Int = 8): DataFrame = {
    val p = covariancePowerParts(emb, vecCol, idCol, iters, withEl = false)
    val base = p.nF.select(col("__nv").as("n_vecs"))
    p.result match {
      case Some(r) => base.select(col("n_vecs"),
        lit(r.topDim).as("top_dim"),
        // the former `div` was IntegralDivide → LONG, exact here
        lit(r.shareMicro.toLong).as("top_eig_share_micro"))
      case None => // the former plan's degenerate filters → zero rows
        base.filter(lit(false)).select(col("n_vecs"),
          lit(null).cast("long").as("top_dim"),
          lit(null).cast("long").as("top_eig_share_micro"))
    }
  }

  /** Per-SOURCE whitening audit — [[covarianceSpectrum]]'s top
    * direction APPLIED (the x187 → x212 → act loop closed): for each
    * source, the share of its embedding variance lying along the
    * corpus-global dominant direction — i.e. the variance whitening
    * that one component out would remove from THAT source. A source
    * whose share dwarfs the corpus top_eig_share is boilerplate in
    * embedding space (its vectors vary mostly along the axis
    * everyone shares); a near-zero share means the source is already
    * white with respect to the corpus's dominant component.
    *
    * Exactness: the converged direction (micro ints) downscales ONCE
    * to 10³ units (u = x div 1000 — both engines truncate
    * identically); each vector's projection p = Σᵢ uᵢ·qᵢ is an exact
    * integer (|u·q| ≤ 10⁹ per element — LONG-safe); per source the
    * n²-scaled variance along u, A = n·Σp² − (Σp)², and the
    * n²-scaled trace, T = Σᵢ (n·Σqᵢ² − (Σqᵢ)²), accumulate in
    * DECIMAL(38,0), and the share quantizes via the two-step long
    * division ((A div T)·10⁶ + (A mod T)·10⁶ div T) div |u|² — the
    * identical truncation tree in both engines. Envelope:
    * A ≤ n²·dim²·10¹⁸ — exact in DECIMAL(38,0) up to ~3·10⁷ vectors
    * per source at dim ≤ 64 (guarded with raise_error; past that,
    * shard the source).
    *
    * Scale: the power iteration is corpus-global (dim-bounded, as
    * x212); the audit adds one broadcast of the dim-row direction,
    * one per-vector projection (partial+final agg), one source join,
    * and two source-keyed aggregations. Zero-variance sources are
    * excluded (T = 0 — share undefined).
    *
    * Output: (source, n_vecs, whitened_share_micro), ordered by
    * source.
    *
    * EAGER-EVALUATION CONTRACT: as [[covarianceSpectrum]] — building
    * the frame runs the power iteration eagerly (driver-side
    * dim-bounded state); the result is a snapshot of the input as of
    * the call, and the same |component| ≤ 1 unit-scale contract
    * applies to the split-LONG accumulation. */
  def whiteningAudit(emb: DataFrame, docs: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      docIdCol: String = "doc_id", sourceCol: String = "source",
      iters: Int = 8): DataFrame = {
    val dec = "decimal(38,0)"
    val spark = emb.sparkSession
    import spark.implicits._
    val p = covariancePowerParts(emb, vecCol, idCol, iters, withEl = true)
    val el = p.el.get
    // converged direction downscaled ONCE (x div 1000 — BigInt / and
    // the former decimal div both truncate toward zero); |x| ≤ 1e6 so
    // |u| ≤ 1e3 — Long-exact. Degenerate iteration → empty u → the
    // projection join empties → zero output rows, as before.
    val uRows: Seq[(Long, Long)] = p.result
      .map(_.xv.map { case (i, x) => (i, (x / 1000).toLong) })
      .getOrElse(Seq.empty)
    // plain LONG components, as the former `__x div 1000L` produced
    val u = uRows.toDF("__i", "__u")
    val uuVal: BigInt = uRows.map(r => BigInt(r._2) * BigInt(r._2)).sum
    val src = docs.select(col(docIdCol).as("__id"),
      col(sourceCol).cast("string").as("source"))
    // per-vector projection: exact LONG per element (|u·q| ≤ 1e9),
    // dim-bounded sum — LONG-safe to dim ≤ ~9e9
    val proj = el.join(broadcast(u), "__i")
      .groupBy(col("__id"))
      .agg(sum(col("__q") * col("__u")).cast("bigint").as("__p"))
      .join(src, "__id")
    val aS = proj.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_vecs"),
        sum(col("__p").cast(dec)).as("__sp"),
        sum(col("__p").cast(dec) * col("__p").cast(dec)).as("__spp"))
      .select(col("source"),
        when(col("n_vecs") > 30000000L,
          raise_error(concat(lit("whiteningAudit: source "), col("source"),
            lit(" holds "), col("n_vecs").cast("string"),
            lit(" vectors — past the exact-decimal envelope (3e7 at " +
              "dim <= 64); shard the source"))).cast("bigint"))
          .otherwise(col("n_vecs")).as("n_vecs"),
        (col("n_vecs").cast(dec) * col("__spp") -
          col("__sp") * col("__sp")).as("__a"))
    val tS = el.join(src, "__id")
      .groupBy(col("source"), col("__i"))
      .agg(count(lit(1)).cast("bigint").as("__n"),
        sum(col("__q").cast(dec)).as("__s1"),
        sum(col("__q").cast(dec) * col("__q").cast(dec)).as("__sq"))
      .groupBy(col("source"))
      .agg(sum(col("__n").cast(dec) * col("__sq") -
        col("__s1") * col("__s1")).as("__t"))
    aS.join(tS, "source")
      .withColumn("__uu",
        lit(new java.math.BigDecimal(uuVal.bigInteger)).cast(dec))
      .filter(col("__t") > 0 && col("__uu") > 0)
      .select(col("source"), col("n_vecs"),
        // two-step long division — A·10⁶ would overflow DECIMAL(38,0)
        // at the envelope (3.7e36·10⁶), so the quotient builds as
        // (A div T)·10⁶ + (A mod T)·10⁶ div T, then div |u|²: every
        // intermediate ≤ 10³⁵ and BOTH engines compute the identical
        // truncation tree (it may differ from the single-division
        // floor by at most 1 micro — a defined contract, not drift)
        expr("""((__a div __t) * CAST(1000000 AS DECIMAL(38,0)) +
          | ((__a % __t) * CAST(1000000 AS DECIMAL(38,0))) div __t)
          | div __uu""".stripMargin).as("whitened_share_micro"))
      .orderBy(col("source"))
  }

  /** Source affinity matrix — pairwise cosine between SOURCE
    * centroids in embedding space: the semantic-redundancy read
    * between providers ([[centroidDrift]] asks "how far is each group
    * from the corpus"; this asks "which two sources say the same
    * thing"), the signal that prices a near-duplicate SOURCE into the
    * x234/x143 mixing decisions before pair-level dedup ever runs.
    * Sources join via the vec_id ↔ doc_id convention (x222/x228).
    *
    * Exactness — the [[centroidDrift]] fixed point: components
    * micro-quantize once per cell; each centroid component is one
    * truncating div by the source count; the pairwise dot/norms are
    * exact BIGINT sums over ≤ dim integer components (micro²·dim ≈
    * 10¹⁴); only the final cosine is a double, one fixed expression
    * rounded to 6 dp. Zero-norm centroids yield NULL.
    *
    * Scale: one posexplode pass + id-keyed source join (the only
    * full-volume work) → (source, dim) partial+final hash agg; the
    * pair join runs on the CENTROID frame (sources × dim rows) —
    * source²·dim cells, never row volume.
    *
    * Output: (source_a, source_b, n_a, n_b, cosine) for source_a <
    * source_b, ordered by (source_a, source_b). */
  def sourceAffinity(emb: DataFrame, docs: DataFrame, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      docIdCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    val src = docs.select(col(docIdCol).as("__id"),
      col(sourceCol).cast("string").as("__src"))
    val cells = emb
      .filter(size(col(vecCol)) === dim &&
        dot_product(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).as("__id"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .join(src, Seq("__id"))
      .select(col("__src"), col("d"),
        round(col("v").cast("double") * lit(1000000.0)).cast("long").as("m"))
    val cent = cells.groupBy(col("__src"), col("d"))
      .agg(sum(col("m")).cast("bigint").as("s"),
        count(lit(1)).cast("bigint").as("c"))
      .select(col("__src"), col("d"), expr("s div c").as("g"), col("c"))
      // both sides of the pair join
      .transform(Materialize(_, "Similarity.sourceAffinity: cent"))
    val a = cent.select(col("__src").as("source_a"), col("d"),
      col("g").as("__ga"), col("c").as("__na"))
    val b = cent.select(col("__src").as("source_b"), col("d"),
      col("g").as("__gb"), col("c").as("__nb"))
    a.join(b, Seq("d"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(col("__ga") * col("__gb")).cast("bigint").as("__num"),
        sum(col("__ga") * col("__ga")).cast("bigint").as("__aa"),
        sum(col("__gb") * col("__gb")).cast("bigint").as("__bb"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        when(col("__aa") > 0 && col("__bb") > 0,
          round(col("__num").cast("double") /
            (sqrt(col("__aa").cast("double")) *
              sqrt(col("__bb").cast("double"))), 6)).as("cosine"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Threshold transfer — the lexical↔semantic calibration curve: the
    * near-dup pipeline scores pairs by n-gram JACCARD, the embedding
    * pipeline by COSINE, and tuning one threshold against the other
    * ("which cosine cut equals jaccard 0.8?") needs the empirical
    * mapping between them ON THE SAME PAIRS. Every scored near-dup
    * pair joins its two embeddings, and each jaccard decile reports
    * the cosine distribution it maps to — the x42/x144 calibration
    * discipline applied ACROSS the two similarity spaces instead of
    * within one.
    *
    * Exactness: the decile comes from the integer micro rendering of
    * the (already 6-dp-rounded) jaccard — no float bucket-edge
    * ambiguity; the cosine quantizes once per PAIR to integer micro
    * (the x06 double contract both engines share), so bucket sums
    * are exact and the mean is one correctly-rounded double division.
    *
    * Scale: two id-keyed equi-joins of the (duplicate-volume-
    * bounded) pair relation against the embedding table, then one
    * hash aggregation to ≤ 10 buckets. Pairs whose endpoints have no
    * embedding drop (inner join); zero vectors yield null cosine and
    * drop with them.
    *
    * Output: (jaccard_bucket ∈ [0, 9], n_pairs, avg_cosine,
    * min_cosine_micro, max_cosine_micro), ordered by bucket. */
  def thresholdTransfer(pairs: DataFrame, emb: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol))
    val scored = pairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(e.select(col(idCol).as("doc_a"), col(vecCol).as("__va")), "doc_a")
      .join(e.select(col(idCol).as("doc_b"), col(vecCol).as("__vb")), "doc_b")
      .select(
        expr("least(CAST(round(jaccard * 1000000.0) AS BIGINT) div 100000, 9L)")
          .as("jaccard_bucket"),
        round(round(cosine_similarity(col("__va"), col("__vb")), 6) *
          lit(1000000.0)).cast("long").as("__cm"))
      .filter(col("__cm").isNotNull)
    scored.groupBy(col("jaccard_bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(col("__cm")).cast("bigint").as("__sum"),
        min(col("__cm")).as("min_cosine_micro"),
        max(col("__cm")).as("max_cosine_micro"))
      .select(col("jaccard_bucket"), col("n_pairs"),
        round(col("__sum").cast("double") /
          (col("n_pairs").cast("double") * lit(1000000.0)), 6)
          .as("avg_cosine"),
        col("min_cosine_micro"), col("max_cosine_micro"))
      .orderBy(col("jaccard_bucket"))
  }
}
