package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("md5MinhashNearDup: identical docs pair at est 1.0; disjoint docs don't pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val out = Dedup.md5MinhashNearDup(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 0
    (3L, "completely unrelated text about database engines and query optimization plans"),
    (4L, "yet another document discussing machine learning pipelines and feature stores")
  ).toDF("doc_id", "text")

  test("exact dedup groups exact copies only") {
    val r = Dedup.exact(corpus, "doc_id", "text")
      .orderBy($"keep_id").collect()
    assert(r.length == 4) // 0+1 merged
    assert(r(0).getAs[Long]("keep_id") == 0L && r(0).getAs[Long]("n_copies") == 2L)
    assert(r.drop(1).forall(_.getAs[Long]("n_copies") == 1L))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDup(corpus, "doc_id", "text",
        shingleLen = 5, bands = 16, rowsPerBand = 4, minJaccard = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash est_jaccard is 1.0 for exact dups") {
    val r = Dedup.minhashNearDup(corpus, "doc_id", "text")
      .filter($"doc_a" === 0 && $"doc_b" === 1)
      .select($"est_jaccard").as[Double].head()
    assert(r == 1.0)
  }

  test("simhash finds near dups with zero distance for exact copies") {
    val pairs = Dedup.simhashNearDup(corpus, "doc_id", "text", maxHamming = 10)
      .select($"doc_a", $"doc_b", $"hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) == 0)
    assert(m.contains((0L, 2L)))
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash portable md5 family matches the xx64 path's semantics") {
    val pairs = Dedup.simhashNearDup(corpus, "doc_id", "text",
        maxHamming = 5, chunks = 6, portableMd5 = true)
      .select($"doc_a", $"doc_b", $"hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) == 0) // exact dup → identical 60-bit sketch
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("crossNearDup: cross-frame pairs only, direction fixed, both dup kinds found") {
    // incoming 0 is an exact dup of corpus 1 and a near dup of corpus 2;
    // incoming 10 matches nothing; corpus-internal dups (1 vs 2) and
    // incoming-internal pairs must NOT appear
    val incoming = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (10L, "entirely different content about streaming watermarks and state stores"))
      .toDF("doc_id", "text")
    val standing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely unrelated text about database engines and query optimization"))
      .toDF("doc_id", "text")
    val out = Dedup.crossNearDup(incoming, standing, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.5)
      .select($"new_id", $"old_id", $"jaccard")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L), (0L, 2L)), out.toSeq)
    assert(out(0)._3 == 1.0) // exact copy
    assert(out(1)._3 < 1.0 && out(1)._3 >= 0.5)
  }

  test("prefixKFor sizes the bottom-k filter for a target miss probability") {
    // ceil(ln eps / ln(1-J)): spot-check against hand computation
    assert(Dedup.prefixKFor(0.5, 0.01) == 7)
    assert(Dedup.prefixKFor(0.2, 0.01) == 21)
    assert(Dedup.prefixKFor(0.8, 0.01) == 3)
    // the bound actually holds at the returned k: (1-J)^k <= eps
    for (j <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); eps <- Seq(0.05, 0.01, 0.001)) {
      val k = Dedup.prefixKFor(j, eps)
      assert(math.pow(1 - j, k.toDouble) <= eps + 1e-12, s"j=$j eps=$eps k=$k")
      // and k is minimal: one fewer hash would exceed the budget
      if (k > 1)
        assert(math.pow(1 - j, (k - 1).toDouble) > eps, s"j=$j eps=$eps k=$k not minimal")
    }
    intercept[IllegalArgumentException](Dedup.prefixKFor(0.0))
    intercept[IllegalArgumentException](Dedup.prefixKFor(0.5, 0.0))
  }

  test("crossNearDup with derived prefixK keeps low-overlap true pairs") {
    // a pair engineered to sit just above a LOW threshold: 4 shared
    // words of 13/13 → trigram overlap well under the 0.5 default.
    // At prefixK=2 the bottom-k filter can miss it; prefixKFor(0.1)
    // widens the prefix enough that the candidate join must surface it
    // (with 64-bit hashes the pair shares >= 1 bottom hash whenever the
    // sketch intersection is nonempty and k >= sketch size).
    val incoming = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"))
      .toDF("doc_id", "text")
    val standing = Seq(
      (1L, "alpha beta gamma delta unrelated words fill the rest of this line here"))
      .toDF("doc_id", "text")
    val k = Dedup.prefixKFor(0.05, 0.01) // 90 — covers both docs' full sketches
    val out = Dedup.crossNearDup(incoming, standing, "doc_id", "text",
        ngram = 3, prefixK = k, minJaccard = 0.05)
      .select($"new_id", $"old_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 1L)), out.toSeq)
  }

  test("connectedComponents merges chains and keeps components apart") {
    // a-b and b-c connected WITHOUT an a-c edge (the non-transitive
    // case clustering exists for); d-e a separate component
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val r = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("ngram jaccard verifies with exact similarity") {
    val pairs = Dedup.ngramJaccardNearDup(corpus, "doc_id", "text",
        ngram = 3, prefixK = 4, minJaccard = 0.3)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m((0L, 2L)) > 0.5 && m((0L, 2L)) < 1.0)
  }

  test("guardBuckets drops only over-cap buckets, keeping their rows out of pairing") {
    val bucketed = ((1 to 30).map(i => (i.toLong, 777L)) ++ // hot: 30 rows
      Seq((100L, 2L), (101L, 2L), (102L, 3L))).toDF("doc_id", "ph")
    val kept = Dedup.guardBuckets(bucketed, Seq("ph"), Some(5), "test")
      .select($"doc_id", $"ph").as[(Long, Long)].collect().toSet
    // fan-out bound: the hot bucket's 30·29/2 = 435 candidate pairs
    // never exist; the healthy buckets are untouched
    assert(kept == Set((100L, 2L), (101L, 2L), (102L, 3L)), kept.toString)
    assert(Dedup.guardBuckets(bucketed, Seq("ph"), None, "test").count() == 33)
  }

  test("hot-bucket guard bounds boilerplate fan-out without changing verified output") {
    // 30 docs share one boilerplate prefix hash (777) but are pairwise
    // dissimilar (disjoint tails, J = 1/19 < 0.5); docs 100/101 are a
    // true near-dup pair (J = 8/12 ≥ 0.5) whose bottom hashes (2, 3)
    // live in buckets of size 2 — exactly the LSH-redundancy shape the
    // guard's recall argument relies on
    val boiler = (1 to 30).map { i =>
      (i.toLong, (777L +: (1 to 9).map(j => 1000L * i + j)).sorted.toArray)
    }
    val near = Seq(
      (100L, (Array(2L, 3L) ++ (1 to 8).map(j => 500000L + j)).sorted),
      (101L, (Array(2L, 3L) ++ (1 to 6).map(j => 500000L + j) ++ Seq(900001L, 900002L)).sorted))
    val sh = (boiler ++ near).toDF("doc_id", "hashes")
    def run(cap: Option[Int]) =
      Dedup.ngramJaccardNearDupSketched(sh, prefixK = 4, minJaccard = 0.5,
          maxBucketSize = cap)
        .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
        .collect().toSet
    val unguarded = run(None)
    val guarded = run(Some(5))
    assert(guarded == unguarded, s"guard changed verified output: $guarded vs $unguarded")
    assert(guarded.map(p => (p._1, p._2)) == Set((100L, 101L)), guarded.toString)
  }

  test("embedding near-dup finds identical and near-identical vectors") {
    val vecs = Seq(
      (0L, Seq.tabulate(64)(i => math.sin(i).toFloat)),
      (1L, Seq.tabulate(64)(i => math.sin(i).toFloat)), // identical to 0
      (2L, Seq.tabulate(64)(i => (math.sin(i) + 0.01).toFloat)), // near 0
      (3L, Seq.tabulate(64)(i => math.cos(i * 3 + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
        minCosine = 0.99, nPlanes = 4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semanticDedup drops the higher id of a within-cluster near-dup") {
    val vecs = Seq(
      (0L, Seq.tabulate(64)(i => math.sin(i).toFloat)),
      (1L, Seq.tabulate(64)(i => math.sin(i).toFloat)),  // identical to 0
      // orthogonal-ish: random-sign pattern, cosine to sin(i) ≈ 0
      (2L, Seq.tabulate(64)(i => math.cos(i * 7 + 2).toFloat)),
      (3L, Seq.fill(64)(0f))                             // degenerate: excluded
    ).toDF("vec_id", "embedding")
    val drops = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        nLists = 2, minCosine = 0.9)
      .select($"vec_id", $"kept_by").as[(Long, Long)].collect().toSeq
    // identical vectors land in the same cluster by construction; the
    // higher id is the drop, attributed to the lower
    assert(drops == Seq((1L, 0L)))
  }

  test("canonicalizeClusters keeps the longest member, tie-break id, missing lengths surface") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    // doc 6 has a cluster edge but no docs row (e.g. trimmed upstream):
    // it must still appear in the purge decision, never win a cluster
    // with a measured member
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (5L, 7L))
      .toDF("doc_id", "n_chars")
    val out = Dedup.canonicalizeClusters(clusters, docs)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "representative selection must be an aggregate, not a per-cluster window")
    val rows = out.orderBy($"doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(rows == Seq(
      (1L, 1L, 2L, false),
      (2L, 1L, 2L, true),  // 50 chars, lower id than doc 3
      (3L, 1L, 2L, false),
      (5L, 5L, 5L, true),
      (6L, 5L, 5L, false)))
  }

  test("canonicalizeClusters priority tier beats length; missing members tier last") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster_id")
    // cluster 1: doc 2 is LONGER but tier 1 — the tier-0 doc 1 wins.
    // cluster 3: doc 4 has an edge but no docs row — doc 3 wins even
    // though its tier (1) is the worst measured tier.
    val docs = Seq((1L, 10L, 0L), (2L, 500L, 1L), (3L, 5L, 1L))
      .toDF("doc_id", "n_chars", "trust")
    val rows = Dedup.canonicalizeClusters(clusters, docs,
        priorityCol = Some("trust"))
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(rows == Seq(
      (1L, 1L, 1L, true),
      (2L, 1L, 1L, false),
      (3L, 3L, 3L, true),
      (4L, 3L, 3L, false)))
    // without the priority column the longer doc 2 would have won
    val plain = Dedup.canonicalizeClusters(clusters, docs)
      .filter($"doc_id" === 2L).select($"keep").as[Boolean].head()
    assert(plain)
  }

  test("dedupSavings: per-source accounting reconciles; out-of-cluster docs count as kept") {
    val docs = Seq(
      (1L, "s1", 100L), (2L, "s1", 50L), // cluster {1,2}: doc 1 kept
      (3L, "s2", 80L)) // in no cluster: kept by the coalesce
      .toDF("doc_id", "source", "n_chars")
    val canon = Seq((1L, 1L, 1L, true), (2L, 1L, 1L, false))
      .toDF("doc_id", "cluster_id", "canonical_id", "keep")
    val out = Dedup.dedupSavings(docs, canon)
      .orderBy($"source")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("s1", 2L, 1L, 150L, 100L, 333333L), // 50/150 saved → ⌊10⁶/3⌋
      ("s2", 1L, 1L, 80L, 80L, 0L)))
  }

  test("weightedJaccardRescore: a boilerplate-held pair collapses to 0 " +
      "while an identical pair holds 1; idf quantizes per gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "c1 c2 c3 c4 a1 a2"), // shares the c-prefix with everyone
      (2L, "c1 c2 c3 c4 a1 a2"), // identical twin of doc 1
      (3L, "c1 c2 c3 c4 b1 b2")) // boilerplate-only overlap with 1 and 2
      .toDF("doc_id", "text")
    val out = Dedup.weightedJaccardRescore(docs)
      .as[(Long, Long, Double, Option[Long])].collect()
    // c-grams have df 3 → idf 0: the (1,3)/(2,3) pairs keep jaccard
    // 1/3 but weigh 0; the twin pair weighs exactly 1
    assert(out.toSeq == Seq(
      (1L, 2L, 1.0, Some(1000000L)),
      (1L, 3L, 0.333333, Some(0L)),
      (2L, 3L, 0.333333, Some(0L))))
  }

  test("pairContainment: a full subset scores overlap 1 with the contained " +
      "side flagged; equal-size twins read both_equal") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),  // grams {abc,bcd,cde,def} — contains doc 2
      (2L, "a b c d"),      // grams {abc,bcd} ⊂ doc 1
      (3L, "x y z"),        // disjoint
      (4L, "a b c d"))      // identical twin of doc 2
      .toDF("doc_id", "text")
    val out = Dedup.pairContainment(docs)
      .as[(Long, Long, Double, Long, Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 0.5, 4L, 2L, 2L, 1000000L, "b_in_a"),
      (1L, 4L, 0.5, 4L, 2L, 2L, 1000000L, "b_in_a"),
      (2L, 4L, 1.0, 2L, 2L, 2L, 1000000L, "both_equal")))
  }

  test("thresholdSweep: decile histograms from one pair pass, cumulated " +
      "downward; docs count at their best pair's decile") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),  // identical to doc 3 → jaccard 1.0 (dec 9)
      (2L, "a b c d f"),  // 2 of 4 grams shared with 1 and 3 → 0.5 (dec 5)
      (3L, "a b c d e"),
      (4L, "x y z w"))    // disjoint: no pairs
      .toDF("doc_id", "text")
    val out = Dedup.thresholdSweep(docs)
      .as[(Long, Long, Long, Long)].collect()
    // pairs: (1,3)@9, (1,2)@5, (2,3)@5; best deciles: 1→9, 3→9, 2→5
    assert(out.toSeq == Seq(
      (5L, 500000L, 3L, 3L),
      (9L, 900000L, 1L, 2L)))
  }

  test("dupFlowMatrix: within vs cross-source cells with exact shares") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "alpha beta gamma delta epsilon zeta", "s1"),   // dup of 1, within
      (3L, "alpha beta gamma delta epsilon eta", "s2"),    // near-dup, cross
      (4L, "totally different content goes here now", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dupFlowMatrix(docs)
      .as[(String, String, Long, Long, Boolean)].collect()
    // pairs: (1,2) within s1; (1,3) and (2,3) cross s1-s2
    assert(out.toSeq == Seq(
      ("s1", "s1", 1L, 333333L, true),
      ("s1", "s2", 2L, 666666L, false)))
  }

  test("thresholdTokenSavings: token mass cumulates downward from the " +
      "best-pair decile; share is against the CORPUS total") {
    val docs = Seq(
      (1L, "a b c d e f", "s"),            // 6 tokens, dup of 2 at j=1 -> dec 9
      (2L, "a b c d e f", "s"),            // 6 tokens
      (3L, "a b c d x y", "s"),            // mid-jaccard pair with 1/2
      (4L, "unrelated words only here", "s")) // 4 tokens, unpaired
      .toDF("doc_id", "text", "source")
    val out = Dedup.thresholdTokenSavings(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
    // corpus tokens = 6+6+6+4 = 22; docs 1,2 best dec 9 (12 tokens);
    // doc 3's best pair sits in a lower decile (6 tokens)
    assert(out.last._1 == 9L && out.last._3 == 2L && out.last._4 == 12L &&
      out.last._5 == 12L * 1000000L / 22L, out.toSeq.toString)
    val first = out.head // lowest present decile holds all paired docs
    assert(first._3 == 3L && first._4 == 18L &&
      first._5 == 18L * 1000000L / 22L, out.toSeq.toString)
    // monotone downward cumulation
    assert(out.map(_._4).toSeq == out.map(_._4).sorted.reverse.toSeq)
  }

  test("cascadeAttribution: first-flag attribution by stage order; " +
      "empty stages report zeros") {
    val corpus = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = Seq(1L, 2L, 2L).toDF("id")       // dup ids collapse
    val b = Seq(2L, 3L).toDF("id")           // 2 already caught by a
    val c = spark.emptyDataFrame.withColumn("id", lit(0L)).filter(lit(false))
    val out = Dedup.cascadeAttribution(
        Seq("a" -> a, "b" -> b, "c" -> c), "id", corpus)
      .as[(String, Int, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("a", 1, 2L, 2L, 200000L),
      ("b", 2, 2L, 1L, 100000L),
      ("c", 3, 0L, 0L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.cascadeAttribution(Seq("a" -> a, "a" -> b), "id", corpus)
    }
  }

  test("collisionProbExpr: the multiplication chain replays 1-(1-j^r)^b " +
      "exactly, with no pow()") {
    val e = Dedup.collisionProbExpr("j", 2, 2, "1.0D")
    assert(!e.toLowerCase.contains("pow"))
    // j=0.5, r=2, b=2: 1 - (1 - 0.25)^2 = 0.4375
    val got = spark.sql(s"SELECT CAST(round($e * 1000000.0D) AS BIGINT) " +
      "FROM (SELECT CAST(0.5 AS DOUBLE) AS j)").head().getLong(0)
    assert(got == 437500L)
    intercept[IllegalArgumentException] {
      Dedup.collisionProbExpr("j", 0, 2, "1.0D")
    }
  }

  test("lshParameterPlan: sharper configs (more rows/band) cut expected " +
      "candidates; recall over hi pairs >= fp load over lo pairs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      (3L, "alpha beta gamma kappa lambda mu nu xi"),         // mid overlap
      (4L, "omicron pi rho sigma tau upsilon phi chi"))
      .toDF("doc_id", "text")
    val out = Dedup.lshParameterPlan(docs)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r))
      .toMap
    assert(out.keySet == Set((16, 1), (8, 2), (4, 4), (2, 8)))
    // more rows per band = sharper curve = fewer expected candidates
    val exp = Seq((16, 1), (8, 2), (4, 4), (2, 8))
      .map(k => out(k).getLong(3))
    assert(exp.zip(exp.tail).forall { case (a, b) => a >= b }, exp.toSeq.toString)
    // the S-curve is increasing in j: mean p above the design point
    // dominates mean p below it, for every config with both sides
    out.values.foreach { r =>
      if (!r.isNullAt(5) && !r.isNullAt(7))
        assert(r.getLong(5) >= r.getLong(7), r.toString)
    }
  }
  test("cdcChunkDedup: boundaries from the md5-60 token hashes, chunk " +
      "reuse counted corpus-wide — checked against an independent " +
      "plain-Scala chunker") {
    import spark.implicits._
    // independent reference: same tokenizer kernel, same md5-60 hash,
    // plain Scala chunk walk
    def h60ref(str: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(str.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(i => v = (v << 8) | (d(i) & 0xFFL))
      v >>> 4
    }
    // a word that IS a chunk boundary (h60 % 8 == 0), found
    // deterministically — texts sharing a tail that starts right
    // after a boundary MUST produce identical (reused) tail chunks
    val bw = (1 to 1000).map(i => "tok" + i).find(w => h60ref(w) % 8 == 0).get
    val shared = s"$bw common shared words span here $bw"
    val t1 = "aa bb " + shared
    val t2 = "cc dd ee " + shared
    val docs = Seq((1L, t1, "A"), (2L, t2, "B"), (3L, "solo words", "A"))
      .toDF("doc_id", "text", "source")
    def chunks(text: String): Seq[(String, Long)] = {
      val ws = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
      val out = scala.collection.mutable.Buffer[(String, Long)]()
      var cur = scala.collection.mutable.Buffer[String]()
      ws.foreach { w =>
        cur += w
        if (h60ref(w) % 8 == 0) { out += ((cur.mkString(" "), cur.length.toLong)); cur.clear() }
      }
      if (cur.nonEmpty) out += ((cur.mkString(" "), cur.length.toLong))
      out.toSeq
    }
    val all = Seq(("A", t1), ("B", t2), ("A", "solo words")).flatMap {
      case (g, t) => chunks(t).map { case (c, n) => (g, c, n) } }
    val freq = all.groupBy(_._2).map { case (c, xs) => c -> xs.length }
    val want = all.groupBy(_._1).map { case (g, xs) =>
      val nc = xs.length.toLong
      val nd = xs.count(x => freq(x._2) > 1).toLong
      val nt = xs.map(_._3).sum
      (g, nc, nd, nt, nd * 1000000L / nc, nt * 1000000L / nc)
    }.toSeq.sortBy(_._1)
    val got = Dedup.cdcChunkDedup(docs, modulus = 8)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"engine $got != reference $want")
    // the shared tail must actually produce reused chunks (the test is
    // vacuous if every chunk is unique)
    assert(want.exists(_._3 > 0), want)
  }
  test("idfSimhashNearDup: engine pairs match an independent plain-Scala " +
      "weighted-simhash; all-corpus boilerplate carries ZERO vote weight") {
    import spark.implicits._
    val boiler = "standard header boilerplate text block"
    val docs = Seq(
      (1L, boiler + " unique alpha payload content words here"),
      (2L, boiler + " totally different other subject matter body"),
      (3L, boiler + " unique alpha payload content words here"),
      (4L, boiler + " yet another unrelated document entirely now"))
      .toDF("doc_id", "text")
    def h60ref(str: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(str.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(i => v = (v << 8) | (d(i) & 0xFFL))
      v >>> 4
    }
    def q6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def micro(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val toks = Seq(1L, 2L, 3L, 4L).map { id =>
      id -> docs.filter($"doc_id" === id).head().getString(1)
        .toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
    }.toMap
    val n = toks.size
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (w, xs) => w -> xs.size }
    def idf(w: String): Long =
      micro(q6(math.log((n + 1.0) / (df(w) + 1.0))) * 1000000.0)
    // boilerplate appears in every doc -> idf = round(ln(1)) = 0
    assert(idf("boilerplate") == 0L)
    def sig(ws: Seq[String]): Long = {
      val wc = ws.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      (0 until 60).foldLeft(0L) { (acc, b) =>
        val vote = wc.map { case (w, c) =>
          val wt = c * idf(w)
          if (((h60ref(w) >> b) & 1L) == 1L) wt else -wt
        }.sum
        if (vote > 0) acc | (1L << b) else acc
      }
    }
    val sigs = toks.map { case (id, ws) => id -> sig(ws) }
    val want = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toSeq.sorted
    val got = Dedup.idfSimhashNearDup(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(got == want, s"engine $got != reference $want")
    // the identical-payload pair must be found at hamming 0 (their
    // distinctive content is identical; boilerplate votes are zero)
    assert(want.contains((1L, 3L, 0)), want)
  }
  test("chunkSplitLeakage: chunks shared across md5-split boundaries are " +
      "leaked — checked against an independent plain-Scala replay") {
    import spark.implicits._
    def h60ref(str: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(str.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(i => v = (v << 8) | (d(i) & 0xFFL))
      v >>> 4
    }
    // ids chosen at test time so at least two land in different splits
    // while sharing chunk content (same text -> same chunks)
    val ids = (1L to 40L)
    def splitOf(id: Long): String = {
      val b = h60ref(id.toString) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ids.map(id => (id, shared, "s")).toDF("doc_id", "text", "source")
    assert(ids.map(splitOf).toSet.size >= 2, "need a real split boundary")
    def chunksOf(text: String): Seq[(String, Long)] = {
      val ws = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
      val out = scala.collection.mutable.Buffer[(String, Long)]()
      var cur = scala.collection.mutable.Buffer[String]()
      ws.foreach { w =>
        cur += w
        if (h60ref(w) % 8 == 0) { out += ((cur.mkString(" "), cur.length.toLong)); cur.clear() }
      }
      if (cur.nonEmpty) out += ((cur.mkString(" "), cur.length.toLong))
      out.toSeq
    }
    val all = ids.map(id => splitOf(id) -> chunksOf(shared)).flatMap {
      case (g, cs) => cs.map { case (c, n) => (g, c, n) } }
    val spread = all.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).distinct.size }
    val want = all.groupBy(_._1).map { case (g, xs) =>
      val nc = xs.length.toLong
      val nl = xs.count(x => spread(x._2) > 1).toLong
      val nt = xs.map(_._3).sum
      val lt = xs.filter(x => spread(x._2) > 1).map(_._3).sum
      (g, nc, nl, nt, lt, nl * 1000000L / nc, lt * 1000000L / nt)
    }.toSeq.sortBy(_._1)
    val got = Dedup.chunkSplitLeakage(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"engine $got != reference $want")
    // every doc shares the same text, so with >= 2 splits present,
    // every chunk occurrence is leaked
    assert(want.forall(_._6 == 1000000L), want)
  }
  test("clusterSizeProfile: size spectrum covers the corpus — CC clusters " +
      "plus singletons, exact doc shares") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // clusters: {1,2,3} and {4,5}; doc 6 unpaired -> singleton
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.clusterSizeProfile(docs, clusters)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 1L, 1L, 166666L),
      (2L, 1L, 2L, 333333L),
      (3L, 1L, 3L, 500000L)))
    // all-singleton corpus: one row, full share
    val none = Dedup.clusterSizeProfile(docs,
        spark.emptyDataset[(Long, Long)].toDF("doc_id", "cluster_id"))
      .as[(Long, Long, Long, Long)].collect()
    assert(none.toSeq == Seq((1L, 6L, 6L, 1000000L)))
  }
  test("dupRateByLength: fixed-width buckets, either-side pair membership") {
    import spark.implicits._
    val docs = Seq((1L, 500L), (2L, 1500L), (3L, 2500L), (4L, 1200L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.dupRateByLength(docs, pairs)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (0L, 1L, 1L, 1000000L),
      (1L, 2L, 0L, 0L),
      (2L, 1L, 1L, 1000000L)))
  }
  test("dfCapAdvisor: df histogram hand-traced — grams/postings shares and " +
      "exact pair fan-out per cap") {
    import spark.implicits._
    // 3 docs over 1-gram universe (n=1 => grams are words):
    // d1 "a b", d2 "a c", d3 "a b" -> df: a=3, b=2, c=1
    // hist: df1 x1 gram, df2 x1, df3 x1; total grams 3, postings 6
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b"))
      .toDF("doc_id", "text")
    val out = Dedup.dfCapAdvisor(docs, n = 1, caps = Seq(1, 2, 3))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      // cap 1: gram c only -> 1/3 grams, 1/6 postings, fanout 0
      (1L, 1L, 333333L, 1L, 166666L, 0L),
      // cap 2: c + b -> 2/3 grams, 3/6 postings, fanout 0+1 = 1
      (2L, 2L, 666666L, 3L, 500000L, 1L),
      // cap 3: all -> fanout 1 + 3 = 4
      (3L, 3L, 1000000L, 6L, 1000000L, 4L)))
  }

  test("crossLangDup: endpoint languages normalized to an upper-triangular " +
      "matrix; off-diagonal flagged cross_lang") {
    import spark.implicits._
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr"))
      .toDF("doc_id", "lang")
    // pairs: (1,2) en-en; (2,3) en-de; (3,1) de-en (reverse orientation
    // must land in the SAME cell); (3,4) de-fr
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.crossLangDup(docs, pairs)
      .as[(String, String, Long, Boolean)].collect()
    assert(out.toSeq == Seq(
      ("de", "en", 2L, true),
      ("de", "fr", 1L, true),
      ("en", "en", 1L, false)))
  }
  test("candidatePrecision: banding candidates vs verification thresholds " +
      "hand-checked against the engine pair relation") {
    import spark.implicits._
    // near-identical pair (1,2), unrelated doc 3 sharing a word
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val out = Dedup.candidatePrecision(docs, prefixK = 8,
        thresholdsMicro = Seq(0L, 500000L, 900000L))
      .as[(Long, Long, Long, Long)].collect()
    // reference: score every candidate through the SAME md5-60-banded
    // stage the audit rides, unfiltered
    val scored = Dedup.scoredCandidates(
        Dedup.md5NgramSketch(docs, "doc_id", "text", 3), 8, None)
      .select("jaccard").as[Double].collect()
      .map(j => math.round(j * 1e6))
    val nc = scored.length.toLong
    def row(t: Long) = {
      val v = scored.count(_ >= t).toLong
      (t, nc, v, v * 1000000L / nc)
    }
    assert(out.toSeq == Seq(row(0L), row(500000L), row(900000L)))
    assert(nc >= 1 && out.head._3 == nc) // threshold 0 keeps everything
  }

  test("inBatchCollisionForecast: hand-traced expectation — three size-2 " +
      "clusters among 10 docs; an all-singleton corpus forecasts zero") {
    import spark.implicits._
    // spectrum: 3 clusters of size 2 (6 docs) + 4 singletons -> N=10,
    // S = sum m(m-1) = 3*2 = 6, pairs = 3, C(N,2) = 45
    val spec = Seq((2L, 3L, 6L, 600000L), (1L, 4L, 4L, 400000L))
      .toDF("cluster_size", "n_clusters", "n_docs", "doc_share_micro")
    val out = Dedup.inBatchCollisionForecast(spec, batchSizes = Seq(4, 10))
      .as[(Long, Long, Long, Long, Long)].collect()
    // pair_rate = 6e6 div 90 = 66666; B=4: C(4,2)=6 -> 6*6e6 div 90
    // = 400000; B=10: 45*6e6 div 90 = 3e6 (3 expected collisions)
    assert(out.toSeq == Seq(
      (4L, 10L, 3L, 66666L, 400000L),
      (10L, 10L, 3L, 66666L, 3000000L)))
    val clean = Seq((1L, 5L, 5L, 1000000L))
      .toDF("cluster_size", "n_clusters", "n_docs", "doc_share_micro")
    val zero = Dedup.inBatchCollisionForecast(clean, batchSizes = Seq(4))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(zero.toSeq == Seq((4L, 5L, 0L, 0L, 0L)))
    // a single doc cannot form a pair -> empty forecast
    val one = Seq((1L, 1L, 1L, 1000000L))
      .toDF("cluster_size", "n_clusters", "n_docs", "doc_share_micro")
    assert(Dedup.inBatchCollisionForecast(one).count() == 0L)
  }

  test("templateSlots: tokens on exactly one side of a pair are slots; " +
      "a token varying in MANY pairs ranks first; shares are exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "order from alice in london"),
      (2L, "order from bob in london"),
      (3L, "unrelated text entirely")).toDF("doc_id", "text")
    val one = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out1 = Dedup.templateSlots(docs, one)
      .as[(String, Long, Long)].collect()
    assert(out1.toSeq == Seq(("alice", 1L, 1000000L), ("bob", 1L, 1000000L)))
    // alice is one-sided in BOTH pairs once (1,3) joins the relation
    val two = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out2 = Dedup.templateSlots(docs, two, topN = 3)
      .as[(String, Long, Long)].collect()
    assert(out2.toSeq == Seq(("alice", 2L, 1000000L),
      ("bob", 1L, 500000L), ("entirely", 1L, 500000L)))
    // no pairs -> empty
    assert(Dedup.templateSlots(docs,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0L)
  }

  test("dedupStackDisagreement: both/lexical_only/embedding_only classes " +
      "and exact micro means on a hand-built corpus") {
    import spark.implicits._
    // (0,1): identical text AND identical vectors → both
    // (4,5): identical text, orthogonal vectors  → lexical_only
    // (2,3): unrelated texts, identical vectors  → embedding_only
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel"
    val tB = "india juliet kilo lima mike november oscar papa"
    val docs = Seq(
      (0L, tA), (1L, tA),
      (2L, "quebec romeo sierra tango uniform victor whiskey xray"),
      (3L, "yankee zulu apple banana cherry dates elder figs"),
      (4L, tB), (5L, tB)).toDF("doc_id", "text")
    val vOne = Array.fill(64)(0.125f).toSeq
    val e4 = (1.0f +: Array.fill(63)(0.0f)).toSeq
    val e5 = (0.0f +: 1.0f +: Array.fill(62)(0.0f)).toSeq
    val vTwo = (1 to 64).map(i => (i % 7).toFloat / 10f)
    val emb = Seq((0L, vOne), (1L, vOne), (2L, vTwo), (3L, vTwo),
      (4L, e4), (5L, e5)).toDF("vec_id", "embedding")
    val out = Dedup.dedupStackDisagreement(docs, emb)
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq
    assert(out == Seq(
      ("both", 1L, Some(1000000L), Some(1000000L)),
      ("embedding_only", 1L, None, Some(1000000L)),
      ("lexical_only", 1L, Some(1000000L), None)), out.toString)
  }

  test("clusterDensity: a chained path is flagged, a triangle is dense, " +
      "a 4-star chains at half density") {
    import spark.implicits._
    // components: path 1-2-3 (2 edges / C(3,2)=3 → 666666 — above the
    // ½ flag); triangle 10-11-12 (3/3 → 1000000); star 20-{21,22,23}
    // (3 edges / C(4,2)=6 → exactly 500000 — NOT < 500000, unflagged)
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterDensity(pairs)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (20L, 4L, 3L, 500000L, false),
      (1L, 3L, 2L, 666666L, false),
      (10L, 3L, 3L, 1000000L, false)), out.toString)
    // a genuinely sparse chain: 5-path → 4/10 = 400000, chained
    val path5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val p5 = Dedup.clusterDensity(path5)
      .as[(Long, Long, Long, Long, Boolean)].head()
    assert(p5 == ((1L, 5L, 4L, 400000L, true)), p5.toString)
  }

  test("pairEvidence: rarest shared grams rank first; boilerplate " +
      "shared by a third doc ranks after the exclusive gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma common tail here"),
      (2L, "alpha beta gamma common tail here"),
      (3L, "zzz yyy xxx common tail here")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.pairEvidence(docs, pairs, ngram = 3, topK = 2)
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    // shared grams of (1,2): all 4 3-grams; "common tail here" has
    // df 3 (doc 3 too); the other three have df 2 — rank by (df,
    // gram): "alpha beta gamma" then "beta gamma common"
    assert(out == Seq(
      (1L, 2L, "alpha beta gamma", 2L, 1L),
      (1L, 2L, "beta gamma common", 2L, 2L)), out.toString)
  }

  test("pairEditSimilarity: hand-traced Levenshtein and truncating " +
      "micro similarity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "kitten and more"), (2L, "sitting and more"),
      (3L, "same text"), (4L, "same text")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.pairEditSimilarity(docs, pairs)
      .as[(Long, Long, Long, Long, Boolean, Long, Long)].collect().toSeq
    // kitten→sitting = 3 edits; lens 15/16 → (16-3)*1e6 div 16 = 812500
    assert(out == Seq(
      (1L, 2L, 15L, 16L, false, 3L, 812500L),
      (3L, 4L, 9L, 9L, false, 0L, 1000000L)), out.toString)
  }

  test("pairEditSimilarity: the maxChars fence nulls the quadratic " +
      "(flagged, not raised) and the banded path reports -1 past " +
      "maxDistance") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 50), (2L, "b" * 60),       // max len 60 > fence 40
      (3L, "short one"), (4L, "short two")) // unfenced
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.pairEditSimilarity(docs, pairs, maxChars = 40)
      .as[(Long, Long, Long, Long, Boolean, Option[Long], Option[Long])]
      .collect().toSeq
    // fenced pair: null distance + similarity; unfenced: exact
    // "short one" → "short two": one→two = 3 edits over len 9 → 666666
    assert(out == Seq(
      (1L, 2L, 50L, 60L, true, None, None),
      (3L, 4L, 9L, 9L, false, Some(3L), Some(666666L))), out.toString)
    // banded: kitten/sitting distance 3 > maxDistance 2 → -1, null sim
    val d2 = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten"),
      (4L, "mitten")).toDF("doc_id", "text")
    val p2 = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val banded = Dedup.pairEditSimilarity(d2, p2, maxDistance = 2)
      .as[(Long, Long, Long, Long, Boolean, Option[Long], Option[Long])]
      .collect().toSeq
    assert(banded == Seq(
      (1L, 2L, 6L, 7L, false, Some(-1L), None),
      (3L, 4L, 6L, 6L, false, Some(1L), Some(833333L))), banded.toString)
  }

  test("clusterDensity: canonicalizes first — duplicate, bidirectional, " +
      "and self pairs cannot inflate n_edges or divide by zero") {
    import spark.implicits._
    // triangle 1-2-3 declared messily: duplicate (1,2), reversed (2,1),
    // self-loop (4,4) — canonical edge set is exactly the 3 triangle
    // edges; the self-loop vanishes (no size-1 cluster, no div-by-0)
    val messy = Seq(
      (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (4L, 4L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusterDensity(messy)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 3L, 3L, 1000000L, false)), out.toString)
  }

  test("clusteringAgreement: hand-traced Rand/ARI on the textbook " +
      "contingency table; identical clusterings give 1.0; the item " +
      "envelope refuses loudly") {
    import spark.implicits._
    // A: {1,2,3}{4,5,6}; B: {1,2}{3,4,5}{6} over n=6 items, N=15
    // cells: (a1,b1)=2 (a1,b2)=1 (a2,b2)=2 (a2,b3)=1
    // sab = C(2,2)+C(2,2) = 2; sa = 3+3 = 6; sb = 1+3 = 4
    // Rand = (15-6-4+4)/15 = 9/15 = 0.6
    // ARI = 2(2*15-24)/(15*10-48) = 12/102 = 0.117647
    val a = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 20L))
      .toDF("doc_id", "cluster_id")
    val b = Seq((1L, 7L), (2L, 7L), (3L, 8L), (4L, 8L), (5L, 8L), (6L, 9L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.clusteringAgreement(a, b)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(out == ((6L, 2L, 4L, 2L, 600000L, 117647L)), out.toString)
    // identical clusterings: perfect agreement
    val same = Dedup.clusteringAgreement(a, a)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(same._5 == 1000000L && same._6 == 1000000L, same.toString)
  }

  test("inBatchCollisionForecast: pair-count envelope refuses loudly") {
    import spark.implicits._
    // one cluster of 10^10 docs: m(m-1) ~ 1e20 > the BIGINT envelope
    val huge = Seq((10000000000L, 1L, 10000000000L, 1000000L))
      .toDF("cluster_size", "n_clusters", "n_docs", "doc_share_micro")
    val e = intercept[Exception] {
      Dedup.inBatchCollisionForecast(huge).collect()
    }
    assert(e.getMessage.contains("pair-count envelope"), e.getMessage)
  }
}
