package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Unit semantics for the corpus text-analysis operators added in
  * round 5 (chunking, boilerplate screen, balanced sampling, vocab
  * stats) — tiny hand-built corpora with hand-derivable expectations;
  * the DuckDB oracle gate covers fixture-scale values. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDocuments: stride grid, overlap, tail clipping") {
    // 10-char doc, window 6, stride 4 → starts 1, 5, 9
    val out = TextAnalysis.chunkDocuments(
        Seq((1L, "abcdefghij")).toDF("doc_id", "text"),
        window = 6, stride = 4)
      .orderBy("chunk_id")
      .select("chunk_id", "start", "chunk", "chunk_len")
      .collect()
    assert(out.toSeq == Seq(
      Row(0, 1, "abcdef", 6),
      Row(1, 5, "efghij", 6), // 2-char overlap with chunk 0
      Row(2, 9, "ij", 2)))    // tail clipped, not padded
  }

  test("chunkDocuments: short/empty/null docs") {
    val out = TextAnalysis.chunkDocuments(
        Seq((1L, "ab"), (2L, ""), (3L, null)).toDF("doc_id", "text"),
        window = 6, stride = 4)
      .select("doc_id", "chunk").as[(Long, String)].collect()
    // shorter-than-window → one clipped chunk; empty/null → no rows
    assert(out.toSeq == Seq((1L, "ab")))
  }

  test("chunkDocuments rejects invalid geometry") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(df, window = 4, stride = 8)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(df, window = 0, stride = 0)
    }
  }

  test("boilerplateScreen: relative df threshold") {
    // "a b" appears in 3/4 docs (75%); every other bigram in 1 (25%).
    val docs = Seq(
      (1L, "a b x y"), (2L, "a b z w"), (3L, "a b q r"), (4L, "m n o p"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateScreen(docs, ngram = 2, minDfPct = 50)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_boiler").as[(Long, Long, Long)]
      .collect()
    assert(out.toSeq == Seq((1L, 3L, 1L), (2L, 3L, 1L), (3L, 3L, 1L), (4L, 3L, 0L)))
  }

  test("balancedSample: caps each stratum, deterministic across reruns") {
    val docs = (0L until 40L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val once = TextAnalysis.balancedSample(docs, "doc_id", "lang", cap = 5)
    val ids = once.select("doc_id").as[Long].collect().sorted
    assert(once.groupBy("lang").count().as[(String, Long)].collect()
      .toMap == Map("en" -> 5L, "de" -> 5L))
    val again = TextAnalysis.balancedSample(docs, "doc_id", "lang", cap = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == again.toSeq)
  }

  test("vocabStats: counts, ranking, cumulative coverage") {
    // corpus: a×4, b×2, c×1, d×1 → total 8
    val docs = Seq((1L, "a a b C"), (2L, "a b"), (3L, "a d")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabStats(docs, topK = 3)
      .select("rank", "token", "cnt", "cum_frac")
      .as[(Int, String, Long, Double)].collect()
    assert(out.toSeq == Seq(
      (1, "a", 4L, 0.5),      // 4/8 (tokens lowercased: C → c)
      (2, "b", 2L, 0.75),     // 6/8
      (3, "c", 1L, 0.875)))   // ties broken by token asc: c before d
  }

  test("crossGroupOverlap: shared gram counts and Jaccard per group pair") {
    // bigrams — s1: {a b, b c} ∪ {b c, c d} = {a b, b c, c d} (3)
    //           s2: {a b, b x} (2); shared with s1: {a b} → J = 1/4
    //           s3: {z z} (1); shares nothing → no rows
    val docs = Seq(
      (1L, "s1", "a b c"), (2L, "s1", "b c d"),
      (3L, "s2", "a b x"), (4L, "s3", "z z")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.crossGroupOverlap(docs, "source", "text", ngram = 2)
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Double)].collect()
    assert(out.toSeq == Seq(("s1", "s2", 1L, 0.25)))
  }

  test("filterAttribution: first-fail ordering assigns each doc one rule") {
    def tok20(prefix: String) = (1 to 20).map(i => s"$prefix$i").mkString(" ")
    val docs = (
      Seq((0L, "a b c", 30L)) ++                         // 3 tokens → too_short
      (1 to 7).map(i => (i.toLong, tok20(s"u${i}w"), 50L)) ++
      Seq(
        (8L, Seq.fill(10)("x y").mkString(" "), 50L),    // top bigram 10/19 → repetitive
        (9L, tok20("z"), 999L))                          // 999 > p90 → length_outlier
    ).toDF("doc_id", "text", "n_chars")
    // tiny-corpus reality: with 10 docs every df ≥ 1 bigram clears the
    // 5% boilerplate threshold, so all remaining docs land there —
    // which exercises the full first-fail chain deterministically
    val out = TextAnalysis.filterAttribution(docs, pHi = 0.9)
      .orderBy("verdict").as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("boilerplate", 7L, 350L),
      ("length_outlier", 1L, 999L),
      ("repetitive", 1L, 50L),
      ("too_short", 1L, 30L)))
  }

  test("temperatureResample: smallest stratum keeps all, rates deterministic") {
    val docs = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 110).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    val out = TextAnalysis.temperatureResample(docs, "doc_id", "lang")
    val kept = out.groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum("__kept").as("k"))
      .as[(String, Long)].collect().toMap
    // smallest stratum: rate 1.0 → threshold 2^20 → every hash passes
    assert(kept("small") == 10L)
    // dominant stratum: rate sqrt(10/100) ≈ 0.316 → keeps a strict,
    // non-empty subset (hash-gated, so exact count is corpus-stable)
    assert(kept("big") > 0L && kept("big") < 100L)
    val again = TextAnalysis.temperatureResample(docs, "doc_id", "lang")
      .filter($"__kept" === 1).select("doc_id").as[Long].collect().sorted
    val first = out.filter($"__kept" === 1).select("doc_id").as[Long].collect().sorted
    assert(first.sameElements(again))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("mixtureUpsample: strata inflate to the max, exact when n divides") {
    val docs = ((0L until 4L).map((_, "en")) ++ (10L until 12L).map((_, "de")))
      .toDF("doc_id", "lang")
    val out = TextAnalysis.mixtureUpsample(docs, "doc_id", "lang")
      .select("doc_id", "lang", "copy_idx").as[(Long, String, Int)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // en is the max stratum → one copy each; de (2 docs, target 4, rem 0)
    // → exactly 2 contiguous copies each, no hash gate involved
    (0L until 4L).foreach(d => assert(byDoc(d) == Seq(1)))
    (10L until 12L).foreach(d => assert(byDoc(d) == Seq(1, 2)))
  }

  test("mixtureUpsample: fractional remainder is hash-gated, deterministic") {
    val docs = ((0L until 5L).map((_, "en")) ++ (10L until 12L).map((_, "de")))
      .toDF("doc_id", "lang")
    def run() = TextAnalysis.mixtureUpsample(docs, "doc_id", "lang")
      .select("doc_id", "copy_idx").as[(Long, Int)].collect().sorted.toSeq
    val once = run()
    // de: base = 5 div 2 = 2, remainder 1 → per-doc copies ∈ {2, 3},
    // copy_idx contiguous from 1
    val deCopies = once.filter(_._1 >= 10L).groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    deCopies.values.foreach(c => assert(c == Seq(1, 2) || c == Seq(1, 2, 3)))
    assert(once == run())
  }

  test("lexicalTopNeighbor: integer cosine argmax with df prune") {
    // unigram terms for hand-derivability; 'the' (df 3/3) is pruned at
    // 70 %, the df-2 content words survive (200 ≤ 210)
    val docs = Seq(
      (1L, "the apple banana apple"),
      (2L, "the apple banana"),
      (3L, "the cherry cherry"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lexicalTopNeighbor(docs, ngram = 1, maxDfPct = 70)
      .select("doc_id", "nn_id", "dot", "cos2").as[(Long, Long, Long, Double)]
      .collect().sortBy(_._1)
    // d1·d2 = 2·1 + 1·1 = 3; cos² = 9 / (5·2) = 0.9; d3 shares no kept
    // term with anyone and has no row
    assert(out.toSeq == Seq((1L, 2L, 3L, 0.9), (2L, 1L, 3L, 0.9)))
  }

  test("redactPii: sequential scrub, per-stage counts") {
    val out = TextAnalysis.redactPii(
        Seq((1L, "mail a.b@x.io and 10.0.0.1 acct 123456789 done"))
          .toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Int]("n_emails") == 1)
    assert(out.getAs[Int]("n_ipv4") == 1)
    assert(out.getAs[Int]("n_longnum") == 1)
    assert(out.getAs[String]("redacted")
      == "mail <EMAIL> and <IP> acct <NUM> done")
  }

  test("redactPii: earlier stages don't leak spans into later counts") {
    // the email's digits/dots must not re-match as IP or number; an
    // IP's octets must not count as long digit runs
    val out = TextAnalysis.redactPii(
        Seq((1L, "z9@q.com 1.2.3.4")).toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Int]("n_emails") == 1)
    assert(out.getAs[Int]("n_ipv4") == 1)
    assert(out.getAs[Int]("n_longnum") == 0)
    assert(out.getAs[String]("redacted") == "<EMAIL> <IP>")
  }

  test("spanDedup: removes corpus-duplicated spans, reassembles in order") {
    val docs = Seq(
      (1L, "a b c d e f"),       // shares "a b c" with docs 2, 4, 6
      (2L, "a b c x y z"),
      (3L, "p q r"),             // unique everywhere
      (4L, "a b c"),             // ALL spans removed
      (5L, "?!?"),               // tokenizes to zero words
      (6L, "m n o a b c x x x")) // duplicated span mid-document
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanDedup(docs, spanWords = 3, minDocDf = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_removed", "clean_hash")
      .as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, md5Hex("d e f")),
      (2L, 2L, 1L, md5Hex("x y z")),
      (3L, 1L, 0L, md5Hex("p q r")),
      (4L, 1L, 1L, md5Hex("")),       // everything removed → md5('')
      (5L, 0L, 0L, md5Hex("")),       // 0-word doc still gets a report row
      (6L, 3L, 1L, md5Hex("m n o x x x")))) // order preserved around the cut
  }

  test("splitLeakage: straddling pairs flagged, same-split pairs are base rate") {
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val splits = Seq(
      (1L, "train"), (2L, "train"), (3L, "val"), (4L, "test"), (5L, "train"))
      .toDF("doc_id", "split")
    val out = TextAnalysis.splitLeakage(pairs, splits)
      .orderBy($"split_lo", $"split_hi")
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      ("test", "train", 1L, true),   // (4,5)
      ("train", "train", 1L, false), // (1,2)
      ("train", "val", 1L, true)))   // (1,3)
  }

  test("splitLeakage: pair members without a split assignment surface, never vanish") {
    // pairs mined on the full corpus, splits computed on a trimmed
    // subset: docs 3 and 5 were trimmed before splitting. The audit
    // must report those pairs in an (unassigned) bucket — an inner
    // join would silently drop them and could report zero leakage
    // for a corpus that leaks.
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 5L)).toDF("doc_a", "doc_b")
    val splits = Seq((1L, "train"), (2L, "val")).toDF("doc_id", "split")
    val out = TextAnalysis.splitLeakage(pairs, splits)
      .orderBy($"split_lo", $"split_hi")
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      ("(unassigned)", "(unassigned)", 1L, false), // (3,5)
      ("(unassigned)", "train", 1L, true),         // (1,3)
      ("train", "val", 1L, true)))                 // (1,2)
  }

  test("tokenBudgetSelect: kept set is a rank prefix with overshoot of at most one doc") {
    val out = TextAnalysis.tokenBudgetSelect(
        graft.Tables.load(spark, sf001, "documents"), "lang", budget = 2000L)
      .select($"lang", $"rank", $"n_tokens", $"cum_tokens", $"kept")
      .as[(String, Int, Long, Long, Boolean)].collect()
      .groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._2)
      // ranks are dense 1..n and the kept flags form a prefix
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      val kept = sorted.takeWhile(_._5)
      assert(sorted.drop(kept.length).forall(!_._5), s"$lang: kept not a prefix")
      assert(kept.nonEmpty, s"$lang: budget kept nothing")
      // every kept doc STARTS under budget; every dropped doc starts at/past it
      kept.foreach(r => assert(r._4 - r._3 < 2000L))
      sorted.drop(kept.length).foreach(r => assert(r._4 - r._3 >= 2000L))
      // cumulative arithmetic is consistent
      assert(sorted.map(_._3).sum == sorted.last._4)
    }
  }

  test("clusterAwareSplit: a component lands whole in one split; plain split leaks it") {
    val docs = (1L to 60L).map(i => (i, s"doc $i")).toDF("doc_id", "payload")
    val plain = TextAnalysis.datasetSplit(docs, "doc_id")
    val plainMap = plain.select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    // the two smallest ids the plain split separates — must exist in a
    // 60-id md5 sample (train/val/test all non-empty at 80/10/10 would
    // be luck; TWO distinct splits over 60 ids is structural)
    val bySplit = plainMap.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
    assert(bySplit.size >= 2, s"fixture degenerated: $bySplit")
    val a = bySplit(0)._2.map(_._1).min
    val b = bySplit(1)._2.map(_._1).min
    val pairs = Seq((math.min(a, b), math.max(a, b))).toDF("doc_a", "doc_b")
    // the detector fires on the plain split…
    assert(TextAnalysis.splitLeakage(pairs, plain)
      .filter($"leaked").count() == 1)
    // …and is zero on the cluster-aware one — by construction
    val aware = TextAnalysis.clusterAwareSplit(
      docs, Dedup.connectedComponents(pairs), "doc_id")
    assert(TextAnalysis.splitLeakage(pairs, aware)
      .filter($"leaked").count() == 0)
    val awareMap = aware.select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    // both members take the min-member's bucket; everyone else is
    // untouched (the split only moves docs that near-dup across it)
    assert(awareMap(a) == awareMap(b))
    assert(awareMap(math.max(a, b)) == plainMap(math.min(a, b)))
    (1L to 60L).filterNot(i => i == a || i == b)
      .foreach(i => assert(awareMap(i) == plainMap(i), s"doc $i moved"))
  }

  test("unigramLogProb: hand-derived micro-nat scores, OOV smoothing, token-less doc") {
    // reference "a a b": c(a)=2, c(b)=1, T=3, V=2 → denom T+V+1 = 6
    //   lp(a) = ln(3/6) → round6 −0.693147 → −693147 micro-nats
    //   lp(b) = ln(2/6) → round6 −1.098612 → −1098612
    //   oov   = ln(1/6) → round6 −1.791759 → −1791759
    val ref = Seq((100L, "a a b")).toDF("doc_id", "text")
    val d = Seq(
      (1L, "a b"), // one known each
      (2L, "c c"), // all OOV
      (3L, "")     // token-less
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(d, ref).orderBy($"doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq(
      (1L, 2L, Some(-693147L - 1098612L)),
      (2L, 2L, Some(2L * -1791759L)),
      (3L, 0L, None)))
    // avg = sum / (n · 10⁶); exact literal avoided (round-at-ulp), but
    // a 2e-6 band distinguishes every plausible wrong formula
    assert(math.abs(out(0)._4.get - (-0.895880)) < 2e-6)
    assert(math.abs(out(1)._4.get - (-1.791759)) < 2e-6)
    assert(out(2)._4.isEmpty)
  }

  test("contaminationOverlap: fraction of the benchmark item's grams covered") {
    // bench doc 1 has 4 distinct word-3-grams; corpus doc 10 contains
    // 2 of them (overlap 0.5), doc 11 shares none
    val bench = Seq((1L, "a b c d e f")).toDF("doc_id", "text") // grams: abc bcd cde def
    val corpus = Seq(
      (10L, "a b c d x y"), // shares abc, bcd
      (11L, "p q r s t u")).toDF("doc_id", "text")
    val out = TextAnalysis.contaminationOverlap(corpus, bench,
        ngram = 3, minRatio = 0.25)
      .select($"doc_id", $"bench_id", $"shared", $"overlap")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((10L, 1L, 2L, 0.5)))
  }

  test("lengthTrim: discrete bounds keep exact boundary values") {
    // lengths 1..10; p(0.2)=2, p(0.9)=9 (discrete: actual data values)
    val docs = (1 to 10).map(i => (i.toLong, "en", i.toLong))
      .toDF("doc_id", "lang", "n_chars")
    val out = TextAnalysis.lengthTrim(docs, lo = 0.2, hi = 0.9)
      .as[(String, Long, Long, Long)].collect()
    // kept: 2..9 inclusive (8 docs), chars 2+…+9 = 44
    assert(out.toSeq == Seq(("en", 10L, 8L, 44L)))
  }

  test("bpePairStats: pairs weighted by corpus word frequency, overlapping within a word") {
    // "abab" contributes pairs ab, ba, ab (overlap); corpus has
    // "abab" ×2 and "abc" ×1 → ab: 2*2+1=5, ba: 2*1=2, bc: 1, c dropped
    // (single-char words carry no pair), casing folds ("ABAB" = "abab")
    val docs = Seq(
      (1L, "abab abc c"),
      (2L, "ABAB")).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairStats(docs, topN = 10)
      .as[(String, Long)].collect()
    assert(out.toSeq == Seq(("ab", 5L), ("ba", 2L), ("bc", 1L)))
  }

  test("bpePairStats: topN cut is deterministic — count desc then pair text") {
    val docs = Seq((1L, "xy za za xy qq")).toDF("doc_id", "text")
    // xy:2, za:2, qq:1 → top2 by (count desc, pair asc) = qq cut, xy before za
    val out = TextAnalysis.bpePairStats(docs, topN = 2)
      .as[(String, Long)].collect()
    assert(out.toSeq == Seq(("xy", 2L), ("za", 2L)))
  }

  test("bpeInduction: multi-round merge table hand-traced — counts roll " +
      "up merged symbols, exhausted rounds emit nothing") {
    // words: abab ×2 → [a,b,a,b]; abc ×1 → [a,b,c]
    // r1: (a,b)=2·2+1=5 beats (b,a)=2,(b,c)=1 → merge ab:
    //     abab=[ab,ab], abc=[ab,c]
    // r2: (ab,ab)=2 beats (ab,c)=1 → merge abab: abab=[abab]
    // r3: only (ab,c)=1 remains → merge abc
    // r4-6: no pairs left → no rows
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeInduction(docs, rounds = 6)
      .as[(Long, String, String, String, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, "a", "b", "ab", 5L),
      (2L, "ab", "ab", "abab", 2L),
      (3L, "ab", "c", "abc", 1L)))
  }

  test("bpeInduction: greedy left-to-right non-overlapping merge on the " +
      "aaaa adversary; (count desc, l, r) tie-break") {
    // words: aaaa → [a,a,a,a]; aaa → [a,a,a]
    // r1: (a,a)=3+2=5 → greedy merge: aaaa=[aa,aa] (NOT [aa,a,a]),
    //     aaa=[aa,a]
    // r2: (aa,aa)=1 ties (aa,a)=1 → r asc picks (aa,a) → aaa=[aaa]
    // r3: (aa,aa)=1 → aaaa=[aaaa]
    val docs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeInduction(docs, rounds = 4)
      .as[(Long, String, String, String, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, "a", "a", "aa", 5L),
      (2L, "aa", "a", "aaa", 1L),
      (3L, "aa", "aa", "aaaa", 1L)))
  }

  test("bpeFertility: per-source token cost under the induced merges; " +
      "vocab survives pair exhaustion (rounds past the last merge)") {
    val docs = Seq(
      (1L, "ab ab cd", "A"),
      (2L, "ab", "B")).toDF("doc_id", "text", "source")
    // wc: ab×3, cd×1; round 1 merges (a,b) → ab=[ab], cd=[c,d]
    // source A: words ab,ab,cd → 1+1+2 = 4 tokens / 3 words
    val r1 = TextAnalysis.bpeFertility(docs, rounds = 1)
      .as[(String, Long, Long, Long)].collect()
    assert(r1.toSeq == Seq(("A", 3L, 4L, 1333333L), ("B", 1L, 1L, 1000000L)))
    // rounds 3-5 are exhausted (both words fully merged by round 2):
    // the LEFT-joined best frame must pass the vocabulary through,
    // not erase it — fertility stays defined with everything 1 token
    val r5 = TextAnalysis.bpeFertility(docs, rounds = 5)
      .as[(String, Long, Long, Long)].collect()
    assert(r5.toSeq == Seq(("A", 3L, 3L, 1000000L), ("B", 1L, 1L, 1000000L)))
  }

  test("bpeEncode: merge-table replay is bit-identical to the induction's " +
      "final vocab state on seen text") {
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeInduction(docs, rounds = 6)
    val vocab = TextAnalysis.bpeInductionWithVocab(docs, 6, "text")._2
      .select(col("wid"), col("syms"))
      .as[(String, Seq[String])].collect().sortBy(_._1)
    val enc = TextAnalysis.bpeEncode(docs, merges, 6)
      .select(col("wid"), col("syms"))
      .as[(String, Seq[String])].collect().sortBy(_._1)
    assert(enc.toSeq == vocab.toSeq && enc.nonEmpty)
  }

  test("bpeEncode: unseen words encode greedily under the fixed merges; " +
      "never-merged pairs and exhausted rounds pass through") {
    // merges from "abab abab abc": r1 (a,b)→ab, r2 (ab,ab)→abab,
    // r3 (ab,c)→abc, r4-6 empty (pass-through)
    val train = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeInduction(train, rounds = 6)
    // "ababc" = [a,b,a,b,c] → r1 [ab,ab,c] → r2 [abab,c] → r3: the
    //   pair present is (abab,c), NOT (ab,c) — no merge → [abab,c]
    // "ba" → (b,a) was never merged → stays [b,a]
    val out = TextAnalysis.bpeEncode(
        Seq((1L, "ababc ba")).toDF("doc_id", "text"), merges, 6)
      .orderBy(col("wid")).as[(String, Long, Seq[String])].collect()
    assert(out.toSeq == Seq(
      ("ababc", 1L, Seq("abab", "c")),
      ("ba", 1L, Seq("b", "a"))))
  }

  test("bpeEncode: greedy non-overlapping replay on the aaaaa adversary") {
    // merges from "aaaa aaa": r1 (a,a)→aa, r2 (aa,a)→aaa, r3 (aa,aa)→aaaa
    val train = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeInduction(train, rounds = 4)
    // "aaaaa" = [a×5] → r1 greedy even-offsets: [aa,aa,a]
    //   → r2 (aa,a): matches at the LAST pair only → [aa,aaa]
    //   → r3 (aa,aa): the pair present is (aa,aaa) — no merge
    val out = TextAnalysis.bpeEncode(
        Seq((1L, "aaaaa")).toDF("doc_id", "text"), merges, 4)
      .as[(String, Long, Seq[String])].collect()
    assert(out.toSeq == Seq(("aaaaa", 1L, Seq("aa", "aaa"))))
  }

  /** The pre-r18 window-plan form of [[TextAnalysis.applyBestPair]]:
    * posexplode → two wid-partitioned window passes → collect_list
    * re-assembly. The executable specification the greedy kernel is
    * pinned against below. */
  private def applyBestPairViaWindows(vocab: DataFrame,
      best: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wp = Window.partitionBy(col("wid")).orderBy(col("p"))
    val pos = vocab.join(broadcast(best.select(col("l"), col("r"))),
        lit(true), "left")
      .select(col("wid"), col("c"), col("l"), col("r"),
        posexplode(col("syms")).as(Seq("p", "s")))
    val m = pos
      .withColumn("mt", coalesce(col("s") === col("l") &&
        lead(col("s"), 1).over(wp) === col("r"), lit(false)))
      .withColumn("isl", col("p") - sum(when(col("mt"), 1L).otherwise(0L))
        .over(wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wisl = Window.partitionBy(col("wid"), col("isl"))
    m.withColumn("sel", col("mt") &&
        ((col("p") - min(when(col("mt"), col("p"))).over(wisl)) % 2 === 0))
      .withColumn("lead_s", lead(col("s"), 1).over(wp))
      .withColumn("prev_sel", coalesce(lag(col("sel"), 1).over(wp), lit(false)))
      .filter(!col("prev_sel"))
      .select(col("wid"), col("c"), col("p"),
        when(col("sel"), concat(col("s"), col("lead_s")))
          .otherwise(col("s")).as("s2"))
      .groupBy(col("wid"), col("c"))
      .agg(expr("transform(array_sort(collect_list(struct(p, s2))), x -> x.s2)")
        .as("syms"))
  }

  test("applyBestPair: the r18 greedy kernel is row-identical to the " +
      "window-plan form on randomized low-alphabet vocabularies " +
      "(consecutive-match runs, multi-char symbols, no-match rounds)") {
    val rnd = new scala.util.Random(42)
    // low alphabet → dense match runs (the even-offset-island cases);
    // seed some multi-char symbols the way later rounds produce them
    val symsPool = Seq("a", "b", "aa", "ab", "ba")
    val vocabRows = (1 to 60).map { i =>
      val n = 1 + rnd.nextInt(9)
      (s"w$i", 1L + rnd.nextInt(5),
        Seq.fill(n)(symsPool(rnd.nextInt(symsPool.length))))
    }
    val vocab = vocabRows.toDF("wid", "c", "syms")
    val pairs = Seq(("a", "a"), ("a", "b"), ("ab", "a"), ("aa", "aa"),
      ("zz", "zz")) // last one matches nothing
    pairs.foreach { case (l, r) =>
      val best = Seq((l, r)).toDF("l", "r")
      val viaKernel = TextAnalysis.applyBestPair(vocab, best)
        .as[(String, Long, Seq[String])].collect().sortBy(_._1)
      val viaWindows = applyBestPairViaWindows(vocab, best)
        .as[(String, Long, Seq[String])].collect().sortBy(_._1)
      assert(viaKernel.toSeq == viaWindows.toSeq, s"merge ($l,$r) diverged")
    }
    // empty best frame (exhausted round): pass-through in both forms
    val empty = Seq.empty[(String, String)].toDF("l", "r")
    val viaKernel = TextAnalysis.applyBestPair(vocab, empty)
      .as[(String, Long, Seq[String])].collect().sortBy(_._1)
    assert(viaKernel.toSeq == vocabRows.sortBy(_._1))
  }

  test("curationScorecard: per-doc signals and first-fail verdict precedence") {
    val w = (1 to 25).map("w" + _).mkString(" ")   // 25 distinct words
    val u = (1 to 15).map("u" + _).mkString(" ")
    val docsDf = Seq(
      (1L, "b c d e f"),      // 5 tokens → too_short (even though rep 0.25 > 0.06)
      (2L, Seq.fill(30)("a").mkString(" ")), // bigram ratio 1.0 → repetitive
      (3L, w),                // canonical, all grams first here → kept
      (4L, w),                // identical text → novelty 0 → redundant
                              // (precedence: before its duplicate flag)
      (5L, s"$w $u"))         // 15/38 grams novel ≥ 0.2, non-canonical → duplicate
      .toDF("doc_id", "text")
    val clusters = Seq(
      (3L, 3L, 3L, true), (4L, 3L, 3L, false), (5L, 3L, 3L, false))
      .toDF("doc_id", "cluster_id", "canonical_id", "keep")
    val out = TextAnalysis.curationScorecard(docsDf, clusters)
      .orderBy($"doc_id")
      .as[(Long, Long, Option[Double], Option[Double], Boolean, String)]
      .collect()
    assert(out.toSeq == Seq(
      (1L, 5L, Some(0.25), Some(1.0), true, "too_short"),
      (2L, 30L, Some(1.0), Some(1.0), true, "repetitive"),
      (3L, 25L, Some(0.041667), Some(1.0), true, "kept"),
      (4L, 25L, Some(0.041667), Some(0.0), false, "redundant"),
      (5L, 40L, Some(0.025641), Some(0.394737), false, "duplicate")))
  }

  test("containmentScreen: excerpt pair kept with directional scores; disjoint pair absent") {
    val docs = Seq(
      (1L, "p q r s"),                       // grams pqr, qrs (2)
      (2L, "p q r s t u v w x y z"),         // 9 grams incl. both of doc1's
      (3L, "m n o"))                         // disjoint
      .toDF("doc_id", "text")
    val out = TextAnalysis.containmentScreen(docs, n = 3, maxDf = 50)
      .as[(Long, Long, Double, Double, Double)].collect()
    // isz 2, sizes (2, 9): jaccard 2/9, cont_a 1.0 — the excerpt signal
    // symmetric Jaccard (0.22) would have screened out
    assert(out.toSeq == Seq((1L, 2L, 0.222222, 1.0, 0.222222)))
  }

  test("containmentScreen: grams above the df cap generate no candidates") {
    val docs = Seq(
      (1L, "c1 c2 c3"), (2L, "c1 c2 c3"), (3L, "c1 c2 c3"))
      .toDF("doc_id", "text")
    // the only gram lives in 3 docs > maxDf=2 → capped out, no pairs
    assert(TextAnalysis.containmentScreen(docs, n = 3, maxDf = 2).count() == 0L)
    // raising the cap restores the pairs (sanity that the cap was the cause)
    assert(TextAnalysis.containmentScreen(docs, n = 3, maxDf = 3).count() == 3L)
  }

  test("ngramNovelty: first occurrence by min doc id; gram-less docs absent") {
    val docs = Seq(
      (1L, "a b c d"),     // grams abc, bcd — both first here → 1.0
      (2L, "a b c x"),     // grams abc (seen), bcx (new) → 0.5
      (3L, "a b c d"),     // exact repeat — nothing new → 0.0
      (4L, "q r"))         // < 3 words → no grams → absent
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, n = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0)))
  }

  test("classifierPrf: hand-traced counts; undefined metrics are null, not zero") {
    // truth\pred: (en,en)×3, (en,de)×1, (de,de)×1, (fr,en)×1 — and
    // class 'zh' exists only as a prediction: (de,zh)×1
    val labeled = Seq(
      ("en", "en"), ("en", "en"), ("en", "en"), ("en", "de"),
      ("de", "de"), ("de", "zh"), ("fr", "en"))
      .toDF("truth", "pred")
    val out = TextAnalysis.classifierPrf(labeled, "truth", "pred")
      .orderBy($"class")
      .as[(String, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect()
    assert(out.toSeq == Seq(
      // de: tp 1, fp 1 (en→de), fn 1 (de→zh) → p 500000, r 500000, f1 500000
      ("de", 1L, 1L, 1L, Some(500000L), Some(500000L), Some(500000L)),
      // en: tp 3, fp 1 (fr→en), fn 1 (en→de) → p 750000, r 750000, f1 750000
      ("en", 3L, 1L, 1L, Some(750000L), Some(750000L), Some(750000L)),
      // fr: never predicted → precision undefined (null), recall 0
      ("fr", 0L, 0L, 1L, None, Some(0L), Some(0L)),
      // zh: never true → recall undefined (null), precision 0
      ("zh", 0L, 1L, 0L, Some(0L), None, Some(0L))))
  }

  test("distinctiveTerms: hand-traced c-TF-IDF, zero idf for ubiquitous terms, term tie-break") {
    // S = 2 sources. df: apple 1, banana 2, cherry 1
    //   idf(ln 2) → 693147 micro-nats; banana appears everywhere → 0
    val docs = Seq(
      (1L, "A", "apple apple banana"),
      (2L, "B", "banana cherry"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.distinctiveTerms(docs, topN = 5)
      .orderBy($"source", $"rank")
      .as[(String, Long, String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("A", 1L, "apple", 2L, 1L, 1386294L),
      ("A", 2L, "banana", 1L, 2L, 0L),
      ("B", 1L, "cherry", 1L, 1L, 693147L),
      ("B", 2L, "banana", 1L, 2L, 0L)))
  }

  test("bigramLogProb: hand-traced add-one transition model, unseen backoff, short docs") {
    // reference "a b a b": pairs ab×2, ba×1 → c(a·)=2, c(b·)=1,
    // V = |{a, b}| = 2 (distinct right contexts)
    //   lp(ab) = ln((2+1)/(2+2+1)) = ln(0.6)
    //   lp(ba) = ln((1+1)/(1+2+1)) = ln(0.5)
    //   lp(bb) = ln((0+1)/(1+2+1)) = ln(0.25)   (unseen pair, seen left)
    val q = (x: Double) =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        .*(1000000.0).round
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b a b"),  // 3 transitions: 2×ab + 1×ba
      (2L, "b b"),      // 1 transition: the unseen bb
      (3L, "solo"))     // < 2 tokens → no score
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, ref)
      .orderBy($"doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
    val s1 = 2 * q(math.log(0.6)) + q(math.log(0.5))
    val s2 = q(math.log(0.25))
    val avg1 = BigDecimal(s1 / (3.0 * 1000000.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      (1L, 3L, Some(s1), Some(avg1)),
      (2L, 1L, Some(s2), Some(s2 / 1000000.0)),
      (3L, 0L, None, None)))
  }

  test("bigramLogProb: word order matters — a scrambled doc scores lower") {
    // the unigram model gives these two docs IDENTICAL scores (same
    // bag of words); the transition model must separate them
    val ref = Seq((100L, "the cat sat on the mat the cat sat on the mat"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the"))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.bigramLogProb(docs, ref)
      .orderBy($"doc_id").select("avg_logp").as[Double].collect()
    assert(scores(0) > scores(1),
      s"in-order ${scores(0)} must beat scrambled ${scores(1)}")
  }

  test("trigramLogProb: hand-traced add-one trigram model, unseen backoff, " +
      "short docs; splice invisible to bigrams is caught") {
    // reference "a b c a b c": trigrams abc×2, bca×1, cab×1 →
    // c(ab·)=2, c(bc·)=1, c(ca·)=1, V = |{c, a, b}| = 3
    //   lp(abc) = ln((2+1)/(2+3+1)) = ln(0.5)
    //   lp(bca) = ln((1+1)/(1+3+1)) = ln(0.4)
    //   lp(abd) = ln((0+1)/(2+3+1)) = ln(1/6)  (unseen tri, seen ctx)
    val q = (x: Double) =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        .*(1000000.0).round
    val ref = Seq((100L, "a b c a b c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c a"),  // 2 transitions: abc + bca
      (2L, "a b d"),    // 1 transition: unseen abd, seen ab context
      (3L, "a b"))      // < 3 tokens → no score
      .toDF("doc_id", "text")
    val out = TextAnalysis.trigramLogProb(docs, ref)
      .orderBy($"doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
    val s1 = q(math.log(0.5)) + q(math.log(0.4))
    val s2 = q(math.log(1.0 / 6.0))
    val avg1 = BigDecimal(s1 / (2.0 * 1000000.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      (1L, 2L, Some(s1), Some(avg1)),
      (2L, 1L, Some(s2), Some(s2 / 1000000.0)),
      (3L, 0L, None, None)))
    // the trigram screen separates a splice whose every BIGRAM is
    // reference-attested: ref attests ab, bc (in "a b c") and db, be
    // (in "d b e") — the splice "a b e" has only seen bigrams, but
    // its trigram a b→e never occurs
    val ref2 = Seq((200L, "a b c a b c"), (201L, "d b e d b e"))
      .toDF("doc_id", "text")
    val d2 = Seq((1L, "a b c"), (2L, "a b e")).toDF("doc_id", "text")
    val tri = TextAnalysis.trigramLogProb(d2, ref2)
      .orderBy($"doc_id").select("avg_logp").as[Double].collect()
    assert(tri(0) > tri(1),
      s"genuine ${tri(0)} must beat the spliced ${tri(1)}")
    val bi = TextAnalysis.bigramLogProb(d2, ref2)
      .orderBy($"doc_id").select("avg_logp").as[Double].collect()
    // ...and the bigram screen alone cannot (all four bigrams equally
    // attested: ab×4; bc and be each ×2 under the same left context)
    assert(bi(0) == bi(1),
      s"bigram screen sees no difference: ${bi(0)} vs ${bi(1)}")
  }

  test("systematicSample: uniform weights draw exactly k, pick_no increasing") {
    // 12 unit-weight rows, k=4 → stride 3, multiples 3,6,9,12 — each
    // covered by exactly one distinct row → exactly 4 picks
    val df = (1L to 12L).map(i => ("g", i, 1L)).toDF("lang", "doc_id", "n_chars")
    val out = TextAnalysis.systematicSample(df, "doc_id", "n_chars", "lang", k = 4)
      .orderBy($"pick_no")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.length == 4)
    assert(out.map(_._5).toSeq == Seq(1L, 2L, 3L, 4L), "pick_no dense and increasing")
    assert(out.map(_._4).toSeq == Seq(3L, 6L, 9L, 12L), "picks at the stride multiples")
  }

  test("systematicSample: a row holding ≥ stride of the mass is always drawn; " +
    "zero weights never are") {
    // doc 7 owns 60 of 100 units (stride = 100 div 5 = 20 ≤ 60 → its
    // interval must contain a multiple); doc 9 has weight 0
    val df = (Seq(("g", 7L, 60L), ("g", 9L, 0L)) ++
      (1L to 4L).map(i => ("g", i, 10L))).toDF("lang", "doc_id", "n_chars")
    val picked = TextAnalysis.systematicSample(df, "doc_id", "n_chars", "lang", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(picked.contains(7L), "heavy row must be in every systematic draw")
    assert(!picked.contains(9L), "zero-weight row occupies no interval")
  }

  test("systematicSample: deterministic under input order and partitioning, strata isolated") {
    val rows = (1L to 30L).map(i => (if (i % 2 == 0) "a" else "b", i, i % 7 + 1))
    val df = rows.toDF("lang", "doc_id", "n_chars")
    val a = TextAnalysis.systematicSample(df, "doc_id", "n_chars", "lang", k = 3)
      .orderBy($"lang", $"pick_no")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val b = TextAnalysis.systematicSample(
        df.orderBy($"n_chars").repartition(7), "doc_id", "n_chars", "lang", k = 3)
      .orderBy($"lang", $"pick_no")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(a == b, "draw must not depend on row order or partitioning")
    // within each stratum pick_no strictly increases
    a.groupBy(_._1).foreach { case (_, g) =>
      val ps = g.map(_._5)
      assert(ps == ps.sorted && ps.distinct == ps)
    }
  }

  test("vocabCoverage: hand-traced crossing points on the count histogram, " +
      "ties interchangeable inside a level") {
    // tokens: a×4, b×2, c×1, d×1 → total 8, vocab 4
    // hist: (4,1), (2,1), (1,2)
    val docs = Seq((1L, "a a a a b"), (2L, "b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, pcts = Seq(50, 75, 90))
      .orderBy($"pct")
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      // 50%: target 4 → 'a' alone covers it → vocab 1
      (50, 4L, 1L, 8L, 4L),
      // 75%: target 6 → a(4) + b(2) → vocab 2
      (75, 6L, 2L, 8L, 4L),
      // 90%: target ⌈7.2⌉ = 8 → needs both singletons → vocab 4
      (90, 8L, 4L, 8L, 4L)))
  }

  test("winnowingNearDup: a shared >= k+w-1 substring is always caught, " +
      "regardless of position; disjoint docs pair with nothing") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"a completely different beginning $shared and another tail"),
      (3L, "unrelated content with no overlap whatsoever in this text"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowingNearDup(docs)
      .as[(Long, Long, Long)].collect()
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      s"expected exactly the planted pair, got ${out.toSeq}")
    assert(out.head._3 >= 2, "long shared span must share many fingerprints")
  }

  test("winnowingNearDup: whitespace/case variants of the shared span still match; " +
      "the df cap suppresses corpus-wide boilerplate") {
    val span = "shared sentence that is long enough to fingerprint reliably"
    val variant = "SHARED   sentence  that is long enough to fingerprint reliably"
    val pair = TextAnalysis.winnowingNearDup(Seq(
        (1L, s"aaa $span bbb"), (2L, s"ccc $variant ddd"))
      .toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect()
    assert(pair.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    // boilerplate: the same span in EVERY doc with dfCap below the doc
    // count → its fingerprints are pruned before the join → no pairs
    val boiler = (1L to 5L).map(i => (i, s"doc number $i says: $span"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.winnowingNearDup(boiler, dfCap = 3).count() == 0)
  }

  test("skipgramPmi: hand-traced pair counts and PMI on 'a b a b a'; " +
      "collocated pair outranks the self-pairs") {
    val docs = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val out = TextAnalysis.skipgramPmi(docs, window = 2, minCount = 1, topN = 10)
      .as[(String, String, Long, Long, Long, Long)].collect()
    // pairs: d=1 → (a,b)×4; d=2 → (a,a)×2, (b,b)×1. N=5, T=7, n_a=3, n_b=2
    def pmi(c: Long, na: Long, nb: Long): Long =
      math.round(math.log(c.toDouble * 25.0 / (7.0 * na * nb)) * 1e6)
    assert(out.toSeq == Seq(
      ("a", "b", 4L, 3L, 2L, pmi(4, 3, 2)),
      ("b", "b", 1L, 2L, 2L, pmi(1, 2, 2)),
      ("a", "a", 2L, 3L, 3L, pmi(2, 3, 3))))
    assert(out.head._6 > 0 && out.last._6 < 0)
  }

  test("skipgramPmi: window bounds pairing — tokens farther apart than the " +
      "window never pair; minCount prunes singletons") {
    val docs = Seq((1L, "x q q q y")).toDF("doc_id", "text")
    // x..y are 4 apart: with window 2 they can never pair
    val pairs = TextAnalysis.skipgramPmi(docs, window = 2, minCount = 1, topN = 100)
      .select($"tok_a", $"tok_b").as[(String, String)].collect().toSet
    assert(!pairs.contains(("x", "y")))
    assert(pairs.contains(("q", "q")))
    // minCount = 4 keeps nothing: the most frequent pair (q,q) occurs
    // 3 times (two d=1 windows, one d=2)
    val pruned = TextAnalysis.skipgramPmi(docs, window = 2, minCount = 4, topN = 100)
    assert(pruned.count() == 0)
  }

  test("vocabCoverage rejects out-of-range percentages") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverage(docs, pcts = Seq(0))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverage(docs, pcts = Seq(101))
    }
  }

  test("dsirWeights: target-vocabulary docs outrank off-target docs; ranks " +
      "are dense, weights non-increasing, doc_id breaks ties") {
    // target = 'en' uses one vocabulary, the off-target docs another —
    // every 'the/of/and' bucket is target-heavy, every 'der/und/die'
    // bucket target-light, so the LLR separates the groups regardless
    // of which hash buckets the words land in
    val docs = Seq(
      (1L, "the of and the of and", "en"),
      (2L, "the of and the of and", "en"),
      (3L, "the of and the of and", "xx"), // en-vocab doc labeled xx:
                                           // scores HIGH (content, not label)
      (4L, "der und die der und die", "de"),
      (5L, "der und die der und die", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.dsirWeights(docs, targetLang = "en",
        buckets = 64, topK = 5)
      .as[(Int, Long, String, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1, 2, 3, 4, 5))
    val weights = out.map(_._5)
    assert(weights.zip(weights.tail).forall { case (a, b) => a >= b })
    // the three en-vocab docs (including the mislabeled one) lead
    assert(out.take(3).map(_._2).toSet == Set(1L, 2L, 3L))
    // identical text ⇒ identical weight ⇒ doc_id ascending
    assert(out.take(3).map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._5 == out(2)._5 && out(3)._5 == out(4)._5)
    assert(out(0)._5 > out(3)._5)
    // n_tokens is the exact token count
    assert(out.forall(_._4 == 6L))
  }

  test("gopherRepetition: hand-traced char-weighted fractions, NULL for " +
      "too-short docs, threshold verdict") {
    val docs = Seq(
      // "a b" ×3 alternating: top 2-gram 'a b' cm 9/15, top 3-gram
      // 10/20, no duplicated 5-gram → fails the 0.20 top-2 rule
      (1L, "a b a b a b"),
      // 12 distinct tokens: top2 3/33, top3 5/50, dup5 0 → keeps
      (2L, "a b c d e f g h i j k l"),
      // single token: no grams at all → NULLs, vacuously kept
      (3L, "a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs)
      .orderBy($"doc_id")
      .as[(Long, Option[Long], Option[Long], Option[Long], Boolean)]
      .collect()
    assert(out.toSeq == Seq(
      (1L, Some(600000L), Some(500000L), Some(0L), false),
      (2L, Some(90909L), Some(100000L), Some(0L), true),
      (3L, None, None, None, true)))
  }

  test("charEntropy: hand-traced micro-nats — constant text scores zero, " +
      "uniform alphabets score ln k, case folds before counting") {
    val docs = Seq(
      (1L, "aaaa"),           // one class → H = 0 → low
      (2L, "AbAb"),           // folds to abab → H = ln 2 → low
      (3L, "abcdefgh"))       // 8 uniform classes → H = ln 8 → not low
      .toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs).orderBy($"doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.toSeq == Seq(
      (1L, 4L, 0L, true),
      (2L, 4L, 693147L, true),
      (3L, 8L, 2079442L, false)))
  }

  test("targetMixPlan: saturation reports shortfall, absent target langs " +
      "get desired-sized shortfalls, off-target langs rate zero") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5", "en"), (2L, "t6 t7 t8 t9 t10", "en"),
      (3L, "d1 d2", "de"),
      (4L, "x1 x2 x3 x4 x5", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.targetMixPlan(docs, budgetTokens = 20L)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      // de: desired 3 of avail 2 → rate saturates at 1, shortfall 1
      ("de", 2L, 150000L, 3L, 1000000L, 2L, 1L),
      // en: desired 8 of avail 10 → rate 0.8, no shortfall
      ("en", 10L, 400000L, 8L, 800000L, 8L, 0L),
      // es/fr/zh: in the target, absent from the corpus
      ("es", 0L, 150000L, 3L, 0L, 0L, 3L),
      ("fr", 0L, 150000L, 3L, 0L, 0L, 3L),
      // xx: in the corpus, not in the target → rate 0, no shortfall
      ("xx", 5L, 0L, 0L, 0L, 0L, 0L),
      ("zh", 0L, 150000L, 3L, 0L, 0L, 3L)))
  }

  test("targetMixPlan rejects budgets and share vectors that cannot plan") {
    val docs = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException] {
      TextAnalysis.targetMixPlan(docs, budgetTokens = 0L)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.targetMixPlan(docs, budgetTokens = 10L,
        targets = Seq("en" -> 500000L))
    }
  }

  test("signalRankFusion: ranks are dense permutations, the fused score " +
      "replays the integer RRF formula, and order follows it") {
    val docs = Seq(
      (1L, "the cat sat on the mat and then walked away quietly today"),
      (2L, "aaa aaa aaa aaa aaa aaa"),
      (3L, "the of and is in it you that he was for on are with as"),
      (4L, "zz"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.signalRankFusion(docs, topK = 4)
      .as[(Int, Long, Long, Int, Int, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(1, 2, 3, 4))
    // each signal rank is a permutation of 1..4
    assert(out.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4))
    assert(out.map(_._5).sorted.toSeq == Seq(1, 2, 3, 4))
    assert(out.map(_._6).sorted.toSeq == Seq(1, 2, 3, 4))
    // the fused score IS the integer RRF of the three ranks
    out.foreach { case (_, _, rrf, q, e, r) =>
      assert(rrf == 1000000L / (60 + q) + 1000000L / (60 + e) +
        1000000L / (60 + r))
    }
    // output is ordered by (rrf desc, doc_id)
    assert(out.sortBy(t => (-t._3, t._2)).toSeq == out.toSeq)
  }

  test("signalRankFusion truncates to the per-signal top-listDepth lists: " +
      "off-list ranks are NULL and contribute a 0 term") {
    val docs = Seq(
      (1L, "the cat sat on the mat and then walked away quietly today"),
      (2L, "aaa aaa aaa aaa aaa aaa"),
      (3L, "the of and is in it you that he was for on are with as"),
      (4L, "zz"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.signalRankFusion(docs, topK = 2, listDepth = 2)
      .collect()
    // output = the candidate union (docs on >= 1 list), capped at topK
    assert(out.nonEmpty && out.length <= 2)
    out.foreach { r =>
      val ranks = Seq(3, 4, 5).map(i => if (r.isNullAt(i)) None else Some(r.getInt(i)))
      // every non-null rank is within the list depth
      assert(ranks.flatten.forall(_ <= 2), r.toString)
      // the fused score sums ONLY the on-list terms
      val expected = ranks.flatten.map(k => 1000000L / (60 + k)).sum
      assert(r.getLong(2) == expected, r.toString)
    }
    assert(out.map(_.getLong(1)).distinct.length == out.length)
    // every output doc is on at least one list (a no-list doc cannot
    // enter the candidate union)
    out.foreach(r => assert(!(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))))
    intercept[IllegalArgumentException] {
      TextAnalysis.signalRankFusion(docs, topK = 5, listDepth = 2)
    }
  }

  test("neymanAllocation: largest remainder spends the budget exactly when " +
      "uncapped; N_h caps bind; zero-spread and singleton strata get zero") {
    // uncapped: sd ratios 2:4 over equal sizes → allocs 1 and 2 of 3
    val a = Seq((1L, 0L, "s1"), (2L, 4L, "s1"), (3L, 0L, "s5"),
      (4L, 8L, "s5")).toDF("doc_id", "n_chars", "source")
    val outA = TextAnalysis.neymanAllocation(a, budget = 3)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(outA.toSeq == Seq(
      ("s1", 2L, 2000000L, 333333L, 1L),
      ("s5", 2L, 4000000L, 666666L, 2L)))
    // capped: s1 wins the remainder tie (src asc) but caps at n_docs
    val b = Seq((1L, 1L, "s1"), (2L, 5L, "s1"), (3L, 10L, "s2"),
      (4L, 10L, "s2"), (5L, 7L, "s3"), (6L, 2L, "s4"), (7L, 6L, "s4"))
      .toDF("doc_id", "n_chars", "source")
    val outB = TextAnalysis.neymanAllocation(b, budget = 5)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(outB.toSeq == Seq(
      ("s1", 2L, 2000000L, 500000L, 2L), // floor 2 + remainder 1, capped at 2
      ("s2", 2L, 0L, 0L, 0L),            // zero spread → zero weight
      ("s3", 1L, 0L, 0L, 0L),            // singleton → no spread estimate
      ("s4", 2L, 2000000L, 500000L, 2L)))
  }

  test("heapsLawGrowth: nested samples are monotone, the 100% point is the " +
      "exact corpus, and beta replays the integer OLS of the rows") {
    val docs = (1L to 40L).map(i =>
      (i, (0 until 10).map(j => s"w${(i * 7 + j * 3) % 60}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.heapsLawGrowth(docs)
      .as[(Int, Long, Long, Long, Option[Long])].collect()
    assert(out.map(_._1).toSeq == Seq(25, 50, 75, 100))
    // nested: docs, tokens, vocab all nondecreasing
    Seq(out.map(_._2), out.map(_._3), out.map(_._4)).foreach { s =>
      assert(s.zip(s.tail).forall { case (a, b) => a <= b }, s.toSeq) }
    // the 100% point is the whole corpus
    assert(out.last._2 == 40L && out.last._3 == 400L)
    assert(out.last._4 ==
      docs.selectExpr("explode(split(text, ' ')) AS w")
        .select("w").distinct().count())
    // beta replays the OLS over the quantized points
    def m(v: Long) = math.round(
      BigDecimal(math.log(v.toDouble)).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1000.0)
    val pts = out.map(r => (m(r._3), m(r._4)))
    val k = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expected = (k * sxy - sx * sy) * 1000000L / (k * sxx - sx * sx)
    assert(out.forall(_._5.contains(expected)), s"${out.toSeq} vs $expected")
  }

  test("dataEfficiencyCurve: dense deciles, conserved totals, monotone " +
      "cumulative share ending at exactly 10⁶") {
    val docs = (1L to 20L).map(i =>
      (i, (0 until (5 + i.toInt)).map(j => s"tok$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dataEfficiencyCurve(docs)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == (1 to 10))
    assert(out.map(_._2).sum == 20L)
    assert(out.map(_._3).sum == (1L to 20L).map(5 + _).sum)
    val cums = out.map(_._4)
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
    assert(cums.last == out.map(_._3).sum)
    assert(out.last._5 == 1000000L)
    val shares = out.map(_._5)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
  }

  test("rankBiasedOverlap: overlaps are monotone and depth-bounded, terms " +
      "and the total replay the formula exactly") {
    val docs = (1L to 30L).map(i =>
      (i, (0 until 6).map(j => s"w${(i * 5 + j * 7) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.rankBiasedOverlap(docs, depthK = 20)
      .as[(Int, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == (1 to 20))
    val ov = out.map(_._2)
    assert(ov.zip(ov.tail).forall { case (a, b) => a <= b })
    assert(out.forall(r => r._2 <= r._1)) // overlap_d ≤ d
    out.foreach { case (d, o, term, _) =>
      val w = math.pow(0.9, (d - 1).toDouble)
      assert(term == math.round(w * o / d.toDouble * 1000000.0), s"depth $d")
    }
    val expectedRbo = math.round(out.map(_._3).sum * (1.0 - 0.9))
    assert(out.forall(_._4 == expectedRbo))
  }

  test("exclusiveVocabShare: terms carried by one source only, exact " +
      "integer shares") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "b c d", "s2"), (3L, "e", "s3"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.exclusiveVocabShare(docs)
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("s1", 3L, 1L, 333333L),
      ("s2", 3L, 1L, 333333L),
      ("s3", 1L, 1L, 1000000L)))
  }

  test("dsirWeights rejects degenerate parameters") {
    val docs = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeights(docs, buckets = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeights(docs, topK = 0)
    }
  }

  test("packingSweep: hand-traced pack counts, fill, overflow and splits " +
      "at two budgets from one shared prefix-sum pass") {
    val docs = Seq(
      (1L, "w w w", "a"),         // 3 tokens, cum 3
      (2L, "w w w w", "a"),       // 4 tokens, cum 7
      (3L, "w w w w w", "a"),     // 5 tokens, cum 12
      (9L, ("w " * 20).trim, "b")) // 20 tokens alone in its stratum
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packingSweep(docs, budgets = Seq(5L, 10L))
      .as[(Long, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(out == List(
      // L=5, a: starts 0,0,1 -> 2 packs of 5; 12 tokens in 10 slots;
      //   docs 2 (3..6) and 3 (7..11) straddle pack cuts
      (5L, "a", 3L, 12L, 2L, 10L, 1200000L, 2L, 2L),
      // L=5, b: one 20-token doc starts in pack 0 -> 15 tokens overflow
      //   and the doc spans cuts (0 vs 3)
      (5L, "b", 1L, 20L, 1L, 5L, 4000000L, 15L, 1L),
      // L=10, a: all start in pack 0; only doc 3 (7..11) straddles
      (10L, "a", 3L, 12L, 1L, 10L, 1200000L, 2L, 1L),
      (10L, "b", 1L, 20L, 1L, 10L, 2000000L, 10L, 1L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.packingSweep(docs, budgets = Seq())
    }
  }

  test("chunkPackingAudit: hand-traced split and waste at L=4; " +
      "token-less docs pack nothing") {
    val docs = Seq(
      (1L, "a b c", "s1"),       // tokens 3: chunk 0 only
      (2L, "d e", "s1"),         // start 3, end 4: SPLITS chunks 0/1
      (3L, "f g h i", "s1"),     // start 5, end 8: SPLITS chunks 1/2
      (4L, "", "s1"),            // 0 tokens: excluded
      (5L, "j k", "s2"))         // own stream: chunk 0, no split
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.chunkPackingAudit(docs, chunkTokens = 4L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      // s1: 9 tokens -> 3 chunks (12 slots), 2 of 3 docs split,
      // waste 3/12 = 250000 micro
      ("s1", 3L, 9L, 3L, 2L, 666666L, 3L, 250000L),
      ("s2", 1L, 2L, 1L, 0L, 0L, 2L, 500000L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkPackingAudit(docs, chunkTokens = 0L)
    }
  }

  test("zipfHeadSlope: a perfect c = C/rank head fits slope -1 under the " +
      "same milli-nat quantization; head mass exact") {
    // counts 12, 6, 4, 3 = 12/rank exactly
    val text = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    val out = TextAnalysis.zipfHeadSlope(Seq((1L, text)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    assert(out._1 == 4L && out._2 == 4L && out._3 == 25L && out._4 == 25L)
    assert(out._5 == 1000000L)
    // replay the quantized OLS in Scala: exact expected slope
    val pts = Seq((1, 12), (2, 6), (3, 4), (4, 3)).map { case (r, c) =>
      (math.round(math.round(math.log(r.toDouble) * 1000.0) / 1.0),
        math.round(math.round(math.log(c.toDouble) * 1000.0) / 1.0))
    }
    val k = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expected = (k * sxy - sx * sy) * 1000000L / (k * sxx - sx * sx)
    assert(out._6.contains(expected), s"got ${out._6}, expected $expected")
    // and the quantized fit of an exact power law sits within 1e-3 of -1
    assert(math.abs(out._6.get + 1000000L) < 1000L, out._6.toString)
  }

  test("mixedLanguageAudit: an en|de document flags mixed with a " +
      "hand-traced minority share; repeated-language docs do not; " +
      "single-chunk docs are excluded") {
    val en = "the and is that it  " // 20 chars, en stopwords only
    val de = "der die und ist das " // 20 chars, de stopwords only
    val docs = Seq(
      (1L, en + de, "x"),   // chunk1 en, chunk2 de -> mixed
      (2L, en + en, "en"),  // both chunks en
      (3L, "the and", "en")) // one chunk: excluded
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.mixedLanguageAudit(docs, window = 20, stride = 20)
      .as[(Long, String, Long, Long, String, Long, Long, Boolean)].collect()
    assert(out.toSeq == Seq(
      // 1-1 tie: majority pred breaks to the lexicographically larger
      (1L, "x", 2L, 2L, "en", 1L, 500000L, true),
      (2L, "en", 2L, 1L, "en", 2L, 0L, false)))
  }

  test("sourceVocabKL: hand-traced empirical KL, smoothing-free") {
    val docs = Seq((1L, "a a b", "s1"), (2L, "b c", "s2"))
      .toDF("doc_id", "text", "source")
    def lr(cs: Long, ts: Long, ct: Long, tt: Long): Long =
      math.round(BigDecimal(math.log((cs.toDouble * tt.toDouble) /
        (ts.toDouble * ct.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    // corpus: a:2 b:2 c:1, T=5
    val kl1 = (2L * lr(2, 3, 2, 5) + 1L * lr(1, 3, 2, 5)) / 3L
    val kl2 = (1L * lr(1, 2, 2, 5) + 1L * lr(1, 2, 1, 5)) / 2L
    val out = TextAnalysis.sourceVocabKL(docs)
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(("s1", 2L, 3L, kl1), ("s2", 2L, 2L, kl2)))
  }

  test("commonPrefixProfile: repeated 4-token openings surface with " +
      "exact coverage; unique openings and empty docs do not") {
    val docs = Seq(
      (1L, "subscribe to our newsletter for daily updates", "s1"),
      (2L, "subscribe to our newsletter and never miss out", "s1"),
      (3L, "subscribe to our newsletter today please", "s2"),
      (4L, "completely original text here", "s2"),
      (5L, "", "s3"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.commonPrefixProfile(docs, prefixTokens = 4,
        minDf = 3)
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("subscribe to our newsletter", 3L, 2L, 600000L)))
  }

  test("truncationPlan: hand-traced clipped docs and lost mass per " +
      "candidate length") {
    val docs = Seq((1L, "a b c"), (2L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.truncationPlan(docs, maxLens = Seq(8, 4))
      .as[(Int, Long, Long, Long, Long, Long, Long)].collect()
    // total 13 tokens; L=4: doc2 clipped, loses 6; L=8: loses 2
    assert(out.toSeq == Seq(
      (4, 2L, 1L, 13L, 6L, 461538L, 538461L),
      (8, 2L, 1L, 13L, 2L, 153846L, 846153L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.truncationPlan(docs, maxLens = Seq.empty)
    }
  }

  test("sourceAblation: LOSO means subtract exactly; deltas are signed; " +
      "no near-dup pairs on disjoint content") {
    val docs = Seq(
      // (1 + 1 + 20/24 + 1)/4 = 0.958333
      (1L, "aaaa bbbb cccc dddd eeee", "s1"),
      // too short (0) + word len ok (1) + alpha 4/5 + no punct (1) = 0.7
      (2L, "aa bb", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceAblation(docs)
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long], Long)]
      .collect()
    // T = 7, Q = 1658333, overall mean = 829166
    assert(out.toSeq == Seq(
      ("s1", 1L, 5L, 285714L, 958333L, Some(700000L), Some(-129166L), 0L),
      ("s2", 1L, 2L, 714285L, 700000L, Some(958333L), Some(129167L), 0L)))
  }
  test("bigramConditionalEntropy: a deterministic chain scores zero; the " +
      "2/3-ln2 mixed case is hand-traced in micro-nats") {
    val docs = Seq(
      (1L, "x y x y x", "A"),  // every context has ONE continuation -> H=0
      (2L, "a b a c", "B"))    // a splits b/c: H = (2/3)ln2 = 0.462098
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.bigramConditionalEntropy(docs)
      .as[(String, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("A", 4L, 2L, 0L),
      ("B", 3L, 3L, 462098L)))
  }
  test("hapaxProfile: per-source vocab, hapax share and type-token ratio") {
    import spark.implicits._
    val docs = Seq((1L, "a a b", "A"), (2L, "c", "B")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.hapaxProfile(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("A", 3L, 2L, 1L, 500000L, 666666L),
      ("B", 1L, 1L, 1L, 1000000L, 1000000L)))
  }

  test("winnowAnchors kernel: hand-traced selection, last-argmin tie rule, " +
      "n <= w single window, positions ascending") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def anchors(hs: Seq[Long], w: Int): Seq[(Int, Long)] = {
      val out = graft.functions.ShingleKernels
        .winnowAnchors(new GenericArrayData(hs.toArray), w)
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getInt(0), r.getLong(1))
      }
    }
    // w=2 over [5,3,4,3,6]: windows (5,3)->pos1, (3,4)->pos1,
    // (4,3)->pos3 (3 at LATER index wins the 3-vs-4? no tie — min 3 at
    // pos3), (3,6)->pos3 ⇒ anchors (1,3),(3,3)
    assert(anchors(Seq(5L, 3L, 4L, 3L, 6L), 2) == Seq((1, 3L), (3, 3L)))
    // tie INSIDE one window: [7,2,2] w=3 → single pass, both 2s in the
    // deque-pop path → LAST index (2) selected
    assert(anchors(Seq(7L, 2L, 2L), 3) == Seq((2, 2L)))
    // n <= w branch: [9,1,1] with w=5 → one window, last argmin
    assert(anchors(Seq(9L, 1L, 1L), 5) == Seq((2, 1L)))
    // values match winnowMinima (the value-only sibling) on a random-ish
    // array: anchor fps, dedup'd + sorted, ARE the minima set
    val hs = Seq(11L, 4L, 9L, 4L, 15L, 2L, 8L, 8L, 3L)
    val viaAnchors = anchors(hs, 3).map(_._2).distinct.sorted
    val minima = {
      val a = graft.functions.ShingleKernels
        .winnowMinima(new GenericArrayData(hs.toArray), 3)
      (0 until a.numElements()).map(a.getLong).sorted
    }
    assert(viaAnchors == minima)
    assert(anchors(Seq.empty, 4).isEmpty)
  }

  test("duplicatedSubstringRuns: a planted 80-char shared substring is " +
      "recovered within winnowing slack at both scales; unrelated docs " +
      "emit no pair") {
    import spark.implicits._
    // shared block S (80 chars after normalization), distinct padding;
    // doc 3 shares nothing
    val s80 = (0 until 16).map(i => f"blk${i}%02d").mkString(" ") // 16*6-1=95
    assert(s80.length == 95)
    val docs = Seq(
      (1L, "left padding alpha " + s80 + " right padding beta"),
      (2L, "totally different prefix here " + s80 + " and another suffix"),
      (3L, "no shared content at all in this one zebra quokka xylophone"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.duplicatedSubstringRuns(docs)
      .orderBy(col("doc_a"), col("doc_b"), col("k"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // only the (1,2) pair, present at both scales
    assert(out.map(r => (r._1, r._2)).distinct.toSeq == Seq((1L, 2L)))
    assert(out.map(_._3).toSeq == Seq(8L, 16L))
    out.foreach { case (_, _, k, runChars, nRuns, nAnchors) =>
      // the true shared substring is " " + s80 + " " = 97 chars (the
      // flanking spaces are identical in both docs); the run can't
      // exceed it and must cover it minus boundary slack (the first/
      // last w windows straddle the edges)
      assert(runChars <= 97L, s"k=$k run=$runChars")
      assert(runChars >= 97L - k - 2 * (if (k == 8) 4 else 8),
        s"k=$k run=$runChars")
      assert(nRuns >= 1L && nAnchors >= 2L)
    }
    // determinism
    val again = TextAnalysis.duplicatedSubstringRuns(docs)
      .orderBy(col("doc_a"), col("doc_b"), col("k"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == again.toSeq)
  }

  test("selfRepeatRuns: a planted internal copy is recovered with its " +
      "offset; non-repeating docs emit nothing") {
    import spark.implicits._
    val s95 = (0 until 16).map(i => f"blk${i}%02d").mkString(" ") // 95 chars
    // doc 1: S ... S with a 17-char spacer -> offset = 95 + 17 = 112
    val doc1 = "intro " + s95 + " middle spacer xx " + s95 + " outro"
    val docs = Seq(
      (1L, doc1),
      (2L, "no internal repetition here at all zebra quokka xylophone"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.selfRepeatRuns(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L), out.mkString(";"))
    val (_, runChars, offset, nRuns, nAnchors) = out.head
    // both copies are flanked by differing context, so the repeated
    // region is s95 (+/- winnowing boundary slack)
    assert(runChars <= 95L + 2 && runChars >= 95L - 8 - 2 * 4,
      s"run=$runChars")
    assert(offset == (" middle spacer xx ".length + 95).toLong,
      s"offset=$offset")
    assert(nRuns >= 1L && nAnchors >= 2L)
    // determinism
    assert(TextAnalysis.selfRepeatRuns(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq == out.toSeq)
  }

  test("duplicatedSubstringCatalog: the snippet IS the duplicated text — " +
      "it appears verbatim in BOTH docs' normalized forms") {
    import spark.implicits._
    val s80 = (0 until 16).map(i => f"blk${i}%02d").mkString(" ")
    val docs = Seq(
      (1L, "left padding alpha " + s80 + " right padding beta"),
      (2L, "totally different prefix here " + s80 + " and another suffix"),
      (3L, "no shared content at all in this one zebra quokka xylophone"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.duplicatedSubstringCatalog(docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(out.nonEmpty && out.head._1 == 1L && out.head._2 == 2L)
    val snippet = out.head._6
    assert(snippet.length == out.head._4, "snippet length = run_chars")
    def normText(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    // the reported region must be literally present in both documents
    assert(normText("left padding alpha " + s80 + " right padding beta")
      .contains(snippet))
    assert(normText("totally different prefix here " + s80 + " and another suffix")
      .contains(snippet))
  }

  test("kneserNeyLogProb: hand-traced KN probabilities — seen pair, " +
      "backoff-only pair, unseen context, OOV word") {
    import spark.implicits._
    // ref "a b a c": pairs (a,b) (b,a) (a,c); ctx a:(c1=2,n1r=2)
    // b:(c1=1,n1r=1); cont a/b/c each n1l=1; B=3
    val ref = Seq((100L, "a b a c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b z"), // (a,b) seen; (b,z): z never a right type -> OOV
      (2L, "z a"),   // (z,a): unseen context -> continuation only
      (3L, "a"),     // no transitions
      (4L, "b c"))   // (b,c): seen ctx b, unseen PAIR -> pure backoff
      .toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyLogProb(docs, ref)
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // (a,b): max(1-.75,0)/2 + (.75*2/2)*(1/3) = 0.125 + 0.25 = 0.375
    val lpAB = math.round(BigDecimal(math.log(0.375))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    assert(out(1L) == ((1L, 2L, 1L, Some(lpAB),
      Some(lpAB.toDouble / 1e6))), out(1L).toString)
    // (z,a): p = n1l/B = 1/3
    val lpZA = math.round(BigDecimal(math.log(1.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    assert(out(2L)._4 == Some(lpZA) && out(2L)._2 == 1L && out(2L)._3 == 0L)
    // single token: zero transitions, null score
    assert(out(3L) == ((3L, 0L, 0L, None, None)))
    // (b,c): max(0-.75,0)/1 + (.75*1/1)*(1/3) = 0.25
    val lpBC = math.round(BigDecimal(math.log(0.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    assert(out(4L)._4 == Some(lpBC), out(4L).toString)
  }

  test("kneserNeyLogProb: an all-OOV doc keeps a zero sum and a null " +
      "mean; n_oov partitions n_transitions") {
    import spark.implicits._
    val ref = Seq((100L, "a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyLogProb(docs, ref)
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect()
    // (x,y) and (y,z): neither y nor z is a reference right type
    assert(out.toSeq == Seq((1L, 2L, 2L, Some(0L), None)))
  }

  test("mojibakeScreen: each signature counted exactly; damage flag " +
      "fires on ANY signature; clean text stays clean") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "clean text here"),
      ("s1", "prix Ã©tÃ© rate"),        // two Latin-1 shadows
      ("s2", "he said â€œyesâ€ then"),  // two damaged smart quotes
      ("s2", "lost � char Â here"))     // replacement + NBSP shadow
      .toDF("source", "text")
    val out = TextAnalysis.mojibakeScreen(docs)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("s1", 2L, 1L, 500000L, 2L, 0L, 0L, 0L),
      ("s2", 2L, 2L, 1000000L, 0L, 2L, 1L, 1L)))
  }

  test("readability: hand-traced Flesch — words, terminator runs, " +
      "vowel groups with the vowelless-word floor") {
    import spark.implicits._
    val docs = Seq(
      // 5 words, 2 sentences, 5 vowel groups, all words voweled:
      // 206.835 - 1.015*(5/2) - 84.6*(5/5) = 119.6975
      (1L, "The cat sat. It ran!"),
      // vowelless words: 3 words, 0 groups -> syllables floor to 3;
      // 206.835 - 1.015*3 - 84.6*1 = 119.19
      (2L, "mm hmm grr"),
      // empty -> zero words, null score, sentence floor 1
      (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
    assert(out.toSeq == Seq(
      (1L, 5L, 2L, 5L, Some(119697500L)),
      (2L, 3L, 1L, 3L, Some(119190000L)),
      (3L, 0L, 1L, 0L, None)))
  }

  test("readability: multi-syllable words count every vowel group; " +
      "'...' is one terminator run") {
    import spark.implicits._
    // "education" -> e,u,a,io -> 4 groups; "nation" -> a,io -> 2;
    // 2 words, 1 sentence ('...' is ONE run), 6 syllables:
    // 206.835 - 1.015*2 - 84.6*3 = -49.0 -> -48995000? trace:
    // 206.835 - 2.03 - 253.8 = -48.995
    val docs = Seq((1L, "education nation...")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
    assert(out.toSeq == Seq((1L, 2L, 1L, 6L, Some(-48995000L))))
  }

  test("positionalSurprisal: hand-traced buckets — known, rare, and " +
      "OOV terms land in their exact position bands") {
    import spark.implicits._
    // ref "a a b": lp(a) = ln(3/6), lp(b) = ln(2/6), oov = ln(1/6)
    val ref = Seq((100L, "a a b")).toDF("doc_id", "text")
    // "a b z a": positions 0..3 of 4 -> buckets 0, 2, 5, 7
    val docs = Seq((1L, "a b z a")).toDF("doc_id", "text")
    val out = TextAnalysis.positionalSurprisal(docs, ref)
      .as[(Long, Long, Long, Double)].collect()
    val lpA = -693147L // round(ln(0.5)*1e6)
    val lpB = -1098612L
    val lpZ = -1791759L
    assert(out.toSeq == Seq(
      (0L, 1L, lpA, -0.693147),
      (2L, 1L, lpB, -1.098612),
      (5L, 1L, lpZ, -1.791759),
      (7L, 1L, lpA, -0.693147)))
    // two tokens in one bucket accumulate exactly
    val two = Seq((1L, "a a")).toDF("doc_id", "text") // buckets 0 and 5
    val o2 = TextAnalysis.positionalSurprisal(two, ref)
      .as[(Long, Long, Long, Double)].collect()
    assert(o2.toSeq == Seq((0L, 1L, lpA, -0.693147),
      (5L, 1L, lpA, -0.693147)))
  }

  test("exactDuplicatedSubstrings: exact LCS at gram grain, grain floor, " +
      "df-cap visibility") {
    // two docs sharing one 39-char substring embedded in different
    // contexts, with DIFFERING boundary chars on both sides so the
    // true LCS is exactly the planted string; k=16 → 24 consecutive
    // matched positions → exactly 39
    val shared = "the quick brown fox jumps over the lazy" // 39 chars
    assert(shared.length == 39)
    val docs = Seq(
      (1L, s"AAAA one_$shared.tail-one unique ending text"),
      (2L, s"BBBB completely different head:$shared, zz"),
      (3L, "no duplication in this document at all xyz")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.exactDuplicatedSubstrings(docs, k = 16,
        dfCap = 50, minRunChars = 32)
      .select("doc_a", "doc_b", "lcs_chars", "n_runs", "n_capped_fps")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 39L, 1L, 0L)), out.toSeq.toString)
    // grain floor: a 20-char shared substring < minRunChars=32 → no row
    val short = Seq((1L, "xx twenty chars shared yy"),
        (2L, "zz twenty chars shared qq")).toDF("doc_id", "text")
    assert(TextAnalysis.exactDuplicatedSubstrings(short, k = 16,
      dfCap = 50, minRunChars = 32).count() == 0)
    // …but at the k-gram floor it reports exactly ("twenty chars shared"
    // + one space each side = 21 shared chars; the maximal shared run
    // is " twenty chars shared " = 21 chars)
    val atFloor = TextAnalysis.exactDuplicatedSubstrings(short, k = 16,
        dfCap = 50, minRunChars = 16)
      .select("lcs_chars").as[Long].collect()
    assert(atFloor.toSeq == Seq(21L), atFloor.toSeq.toString)
    // df cap: a gram shared by MANY docs is dropped and the drop is
    // visible — 5 identical docs at dfCap=4 emit nothing but report
    // every fingerprint capped
    val many = (1L to 5L).map(i => (i, s"all five docs carry this very text"))
      .toDF("doc_id", "text")
    val capped = TextAnalysis.exactDuplicatedSubstrings(many, k = 16,
      dfCap = 4, minRunChars = 16)
    assert(capped.count() == 0)
    // and with the cap lifted the pairs come back, n_capped_fps = 0
    val uncapped = TextAnalysis.exactDuplicatedSubstrings(many, k = 16,
        dfCap = 5, minRunChars = 16)
      .select("lcs_chars", "n_capped_fps").as[(Long, Long)].collect()
    assert(uncapped.length == 10 && // 5 choose 2
      uncapped.forall(_ == ((34L, 0L))), uncapped.toSeq.toString)
  }

  test("piiChecksums: Luhn and ISO-7064 mod-97 validate known fixtures " +
      "and reject off-by-one mutations") {
    val docs = Seq(
      // 4111111111111111 and 79927398713 (11 digits — BELOW the 13-digit
      // candidate floor, must not even count); one Luhn-broken mutation
      (1L, "pay 4111111111111111 or 4111111111111112 legacy 79927398713"),
      // known-good GB82 IBAN + its check-digit mutation + a lowercase
      // iban (outside the stated uppercase charset — not a candidate)
      (2L, "send GB82WEST12345698765432 not GB83WEST12345698765432 nor gb82west12345698765432"),
      // valid German IBAN and two E.164 phones (one too short)
      (3L, "DE89370400440532013000 call +14155550042 or +1234567"),
      (4L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiChecksums(docs)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 0L, 0L, 0L),  // two card candidates, one Luhn-valid
      (2L, 0L, 0L, 2L, 1L, 0L),  // two IBAN candidates, one mod-97-valid
      (3L, 0L, 0L, 1L, 1L, 1L),  // DE89… valid; only the long phone counts
      (4L, 0L, 0L, 0L, 0L, 0L)), out.toSeq.toString)
  }

  test("crossSourcePerplexity: hand-traced 2x2 matrix matches the x227 " +
      "add-one contract per train source") {
    // src A: "a b c a b c" → trigrams abc(1) bca(1) cab(1) abc… count:
    // abc 2, bca 1, cab 1; src B: "a b d" → abd 1
    val docs = Seq(
      (1L, "A", "a b c a b c"),
      (2L, "B", "a b d")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.crossSourcePerplexity(docs)
      .select("src_eval", "src_train", "n_transitions", "sum_logp_micro")
      .as[(String, String, Long, Long)].collect().toSeq
    def lp(c123: Long, c12: Long, v: Long): Long =
      math.round(BigDecimal(math.log((c123 + 1.0) / (c12 + v + 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    // A's LM: c(abc)=2, c(bca)=1, c(cab)=1; ctx c(ab)=2, c(bc)=1,
    // c(ca)=1; V(A)=|{c,a,b}|=3. B's LM: c(abd)=1, ctx c(ab)=1, V(B)=1
    val aOnA = 2 * lp(2, 2, 3) + 1 * lp(1, 1, 3) + 1 * lp(1, 1, 3)
    val aOnB = 2 * lp(0, 1, 1) + 1 * lp(0, 0, 1) + 1 * lp(0, 0, 1)
    val bOnA = 1 * lp(0, 2, 3)
    val bOnB = 1 * lp(1, 1, 1)
    assert(out == Seq(
      ("A", "A", 4L, aOnA), ("A", "B", 4L, aOnB),
      ("B", "A", 1L, bOnA), ("B", "B", 1L, bOnB)), out.toString)
  }

  test("exactContaminationSpans: exact span length AND offset in the " +
      "corpus doc; clean pairs emit nothing") {
    val shared = "the quick brown fox jumps over the lazy" // 39 chars
    // corpus doc: the span starts after an 18-char prefix; boundary
    // chars differ from the benchmark's on both sides so the true
    // overlap is exactly the planted string
    val corpus = Seq(
      (10L, s"zzz corpus prefix:$shared, tail of the corpus document"),
      (11L, "a completely clean corpus document without overlap qqq")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, s"bench doc with $shared inside it"),
      (2L, "another benchmark item nothing shares vvv")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.exactContaminationSpans(corpus, bench,
        k = 16, dfCap = 50, minRunChars = 32)
      .select("doc_id", "bench_id", "span_chars", "corpus_start", "n_runs",
        "n_capped_fps")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq((10L, 1L, 39L, 18L, 1L, 0L)), out.toSeq.toString)
  }

  test("decontaminationVerdicts: overlapping spans from different " +
      "benchmark docs merge to one interval; thresholds decide the verdict") {
    val A = "alpha beta gamma delta" // three unique-token segments
    val B = "epsilon zeta eta theta"
    val C = "iota kappa lambda muuu"
    // corpus doc 10: A B C contiguous; bench 1 carries "A B", bench 2
    // carries "B C" (distinct boundary chars on all sides) → the two
    // overlapping contaminated intervals must merge into ONE span
    // covering "A B C"
    val corpus10 = s"padone padtwo qq $A $B $C trailer words here"
    // corpus doc 11: the same "A B" span inside a LONG unique doc →
    // share under the 20% clip threshold → keep
    val corpus11 = ("unique" + (1 to 40).map(i => s" tok$i").mkString) +
      s" then_$A $B,after" + (41 to 60).map(i => s" tok$i").mkString
    val corpus = Seq((10L, corpus10), (11L, corpus11), (12L, "clean doc qwerty"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (1L, s"bench one holds:$A $B;yes"),
      (2L, s"two keeps#$B $C|end")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminationVerdicts(corpus, bench,
        k = 16, dfCap = 50, minRunChars = 32)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    val span10 = (A + " " + B + " " + C).length.toLong // merged interval
    val span11 = (A + " " + B).length.toLong
    val n10 = corpus10.length.toLong; val n11 = corpus11.length.toLong
    val share10 = span10 * 1000000L / n10
    val share11 = span11 * 1000000L / n11
    assert(share10 >= 500000L && share11 < 200000L, s"$share10 $share11")
    assert(out == Seq(
      (10L, n10, span10, share10, 1L, "drop"),
      (11L, n11, span11, share11, 1L, "keep"),
      (12L, "clean doc qwerty".length.toLong, 0L, 0L, 0L, "keep")), out.toString)
  }

  test("mixtureReweight: hand-traced two-source weights match the " +
      "integer excess-perplexity contract") {
    val docs = Seq(
      (1L, "A", "a b c a b c"),
      (2L, "B", "a b d")
    ).toDF("doc_id", "source", "text")
    def lp(c123: Long, c12: Long, v: Long): Long =
      math.round(BigDecimal(math.log((c123 + 1.0) / (c12 + v + 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    // matrix sums from the crossSourcePerplexity trace above
    val aOnA = 2 * lp(2, 2, 3) + lp(1, 1, 3) + lp(1, 1, 3)
    val aOnB = 2 * lp(0, 1, 1) + lp(0, 0, 1) + lp(0, 0, 1)
    val bOnA = lp(0, 2, 3)
    val bOnB = lp(1, 1, 1)
    // truncating per-cell avg (A has 4 transitions, B has 1)
    val ownA = aOnA / 4; val crossA = aOnB / 4
    val ownB = bOnB; val crossB = bOnA
    val exA = ownA - crossA; val exB = ownB - crossB
    val mn = math.min(exA, exB)
    val tot = (exA - mn + 1000000L) + (exB - mn + 1000000L)
    val wA = (exA - mn + 1000000L) * 1000000L / tot
    val wB = (exB - mn + 1000000L) * 1000000L / tot
    val out = TextAnalysis.mixtureReweight(docs)
      .select("source", "own_avg_micro", "cross_avg_micro", "excess_micro",
        "weight_micro")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("A", ownA, crossA, exA, wA),
      ("B", ownB, crossB, exB, wB)), out.toString)
  }

  test("readability: per-word syllable floor on punctuation/" +
      "hyphen-bearing text (ADVICE examples; values unchanged by the " +
      "r17 switch from the global-regex identity to syllable_count)") {
    // words() = maximal alnum runs: "o'clock" → [o, clock] (1+1
    // vowel groups), "co-op" → [co, op] (1+1), "x1.y2" → [x1, y2]
    // (x1 vowelless → floor 1; y2 has the y group → 1)
    val docs = Seq((1L, "o'clock co-op x1.y2")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs)
      .select("n_words", "n_syllables").as[(Long, Long)].head()
    // 6 words; vowel groups: o, o (clock), co→o... count: "o"(1),
    // "clock"(1: o), "co"(1: o), "op"(1: o), x1(0), y2(1: y) = 5;
    // vowelless words: x1 → 1; syllables = 5 + 1 = 6
    assert(out == ((6L, 6L)), out.toString)
  }

  test("hashedEmbedding: deterministic signed-tf layout, identical docs " +
      "get identical vectors, tokenless/cancelled docs are dropped") {
    import graft.functions.TextFunctions.md5Bucket60
    val docs = Seq(
      (1L, "alpha beta alpha"), (2L, "alpha beta alpha"),
      (3L, "gamma"), (4L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.hashedEmbedding(docs, dim = 64)
      .as[(Long, Seq[Float])].collect().toMap
    // tokenless doc 4 never appears; all vectors are 64-wide
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_.length == 64))
    // identical text → identical vector (the structural-correlation
    // property x258 rides on)
    assert(out(1L) == out(2L))
    // layout pin: component index/sign come from md5-60 of the token
    val expect = Seq(("alpha", 2L), ("beta", 1L)).map { case (w, tf) =>
      val h = spark.range(1)
        .select(md5Bucket60(org.apache.spark.sql.functions.lit(w)))
        .as[Long].head()
      val sign = if ((h / 64) % 2 == 0) 1L else -1L
      ((h % 64).toInt, (sign * tf).toFloat)
    }.toMap
    out(1L).zipWithIndex.foreach { case (v, i) =>
      assert(v == expect.getOrElse(i, 0f), s"component $i: $v")
    }
    // e2e: over a corpus with a planted lexical duplicate, the
    // disagreement audit's `both` class is NON-EMPTY by construction
    // (identical text → identical hashed vector → same bucket,
    // cosine 1 — the exact-dup families every real corpus carries;
    // NEAR-dups may still split a hyperplane bucket, which is the
    // recall trade embeddingNearDup documents)
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (11L, "the quick brown fox jumps over the lazy dog again today"),
      (12L, "completely different content about spark catalyst planning"))
      .toDF("doc_id", "text")
    val audit = graft.operators.Dedup.dedupStackDisagreement(
        corpus, TextAnalysis.hashedEmbedding(corpus, 64))
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq
    val both = audit.filter(_._1 == "both")
    assert(both.nonEmpty && both.head._2 >= 1L, audit.toString)
  }

  test("intraDocRepeats: hand-traced paste-repeat — a 40-char block " +
      "pasted twice reports exactly 40 repeated chars on one diagonal") {
    // A = 40 chars, all 16-grams distinct (occ = 2 <= occCap); text =
    // A + ' ' + A. Grams 0..24 of the first copy match 41..65 of the
    // second on diagonal 41: one island of 25 positions, rc = 24-0+16
    // = 40 = |A|. Grams spanning the space match nothing.
    val a = "abcdefghijklmnopqrstuvwxyz0123456789!@#$"
    assert(a.length == 40)
    val docs = Seq((1L, s"$a $a"), (2L, "no repeats whatsoever here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.intraDocRepeats(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 40L, 1L, 25L, 0L)), out.toString)
    // occCap honesty: a doc of one repeated char floods its own gram
    // past the cap -> the cell is dropped BEFORE the self-join (no
    // m^2 pair explosion) and the doc emits nothing; a corpus that
    // ALSO has an uncapped repeat carries the dropped-cell count on
    // its rows (the x235 convention)
    val flood = Seq((1L, "z" * 200), (2L, s"$a $a")).toDF("doc_id", "text")
    val f = TextAnalysis.intraDocRepeats(flood)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(f == Seq((2L, 40L, 1L, 25L, 1L)), f.toString)
  }

  test("textPeriodicity: KMP full-cycle period matches the divisor " +
      "definition on crafted and degenerate inputs") {
    val docs = Seq(
      (1L, "ababab"),        // p=2, 3 cycles
      (2L, "abcab"),         // border 'ab', 5 % 3 != 0 -> aperiodic
      (3L, "aaaa"),          // p=1, 4 cycles
      (4L, "x"),             // p=1, 1 cycle, NOT periodic (p == n)
      (5L, "abab abab"),     // normalized keeps the space: p=5? no —
                             // "abab abab" has border "abab" -> p=5,
                             // 9 % 5 != 0 -> aperiodic
      (6L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.textPeriodicity(docs)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 6L, 2L, 3L, true),
      (2L, 5L, 5L, 1L, false),
      (3L, 4L, 1L, 4L, true),
      (4L, 1L, 1L, 1L, false),
      (5L, 9L, 9L, 1L, false),
      (6L, 0L, 0L, 0L, false)), out.toString)
  }

  test("pmiCollocations: hand-traced PMI — the exclusive pair beats the " +
      "promiscuous one; count floor drops rare pairs") {
    // corpus: "a b" ×5 (exclusive), "c d" ×5 but c also precedes e ×5
    // (diluted left margin), "x y" ×2 (below floor)
    val docs = (
      (1 to 5).map(i => (i.toLong, "a b")) ++
      (6 to 10).map(i => (i.toLong, "c d")) ++
      (11 to 15).map(i => (i.toLong, "c e")) ++
      Seq((16L, "x y"), (17L, "x y"))).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, minCount = 5L, topN = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // N = 17 transitions... actually: 5 + 5 + 5 + 2 = 17
    // PMI(a,b) = ln(17·5/(5·5)) = ln(3.4); PMI(c,d) = ln(17·5/(10·5)) = ln(1.7)
    def micro(x: Double): Long = math.round(
      BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 1e6)
    assert(out.map(r => (r._1, r._2)) == Seq(("a", "b"), ("c", "d"), ("c", "e")))
    assert(out.head == (("a", "b", 5L, 5L, 5L, micro(3.4))), out.head.toString)
    assert(out(1)._6 == micro(1.7), out(1).toString)
  }

  test("sourceGramOverlap: exact inclusion-exclusion Jaccard over " +
      "distinct 3-gram sets") {
    val docs = Seq(
      (1L, "A", "one two three four"),        // grams: {one two three, two three four}
      (2L, "B", "one two three"),             // grams: {one two three}
      (3L, "B", "one two three"),             // duplicate gram — distinct set unchanged
      (4L, "C", "five six seven"))            // disjoint
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceGramOverlap(docs, n = 3)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // A∩B = {one two three} (1); |A| = 2, |B| = 1 → J = 1/2
    assert(out == Seq(("A", "B", 2L, 1L, 1L, 500000L)), out.toString)
  }

  test("unicodeAnomalies: exact forbidden-codepoint counts; clean text " +
      "keeps") {
    val docs = Seq(
      (1L, "clean ascii text"),
      (2L, "zero\u200Bwidth\u200Cpair\u200D\uFEFF"),
      (3L, "bidi \u202Eattack\u2066 here"),
      (4L, "moji\uFFFDbake\uFFFD"),
      (5L, "ctrl\u0001 and\u0007 tab\t newline\n legal"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unicodeAnomalies(docs)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(out.map(r => (r._1, r._3, r._4, r._5, r._6, r._7)) == Seq(
      (1L, 0L, 0L, 0L, 0L, true),
      (2L, 4L, 0L, 0L, 0L, false),
      (3L, 0L, 2L, 0L, 0L, false),
      (4L, 0L, 0L, 2L, 0L, false),
      (5L, 0L, 0L, 0L, 2L, false)), out.toString)
  }

  test("nbTrain/nbSourceReport: hand-traced Laplace log-odds, bias-only " +
      "score for a zero-token doc, truncating per-source average") {
    val d = Seq(
      (1L, "s1", "en", "the cat"),
      (2L, "s1", "en", "the dog"),
      (3L, "s2", "fr", "le chat"),
      (4L, "s2", "fr", "le chien"),
      (5L, "s2", "en", ""))
      .toDF("doc_id", "source", "lang", "text")
    val label = col("lang") === "en"
    val w = TextAnalysis.nbTrain(d, label)
    // the 6 tokens must land in 6 distinct hash buckets for the hand
    // trace to hold (collision probability ~1e-4; fails loudly if so)
    val buckets = Seq("the", "cat", "dog", "le", "chat", "chien")
      .toDF("t")
      .select((graft.functions.TextFunctions.md5Bucket60(col("t"))
        % TextAnalysis.NbBuckets).as("f"))
      .as[Long].collect().toSeq
    assert(buckets.distinct.length == 6, s"bucket collision: $buckets")
    val byBucket = w.as[(Long, Long)].collect().toMap
    // n1=3, n0=2: w = round(1e6 ln((c1+1)/5)) - round(1e6 ln((c0+1)/4))
    val Seq(bThe, bCat, bDog, bLe, bChat, bChien) = buckets
    assert(byBucket(bThe) == 875468L)    // c1=2,c0=0
    assert(byBucket(bCat) == 470003L)    // c1=1,c0=0
    assert(byBucket(bDog) == 470003L)
    assert(byBucket(bLe) == -1321756L)   // c1=0,c0=2
    assert(byBucket(bChat) == -916291L)  // c1=0,c0=1
    assert(byBucket(bChien) == -916291L)
    assert(byBucket(-1L) == 287682L)     // bias: ln(4/7) vs ln(3/7)
    val report = TextAnalysis.nbSourceReport(d, label, w)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // s1: both docs score 287682+875468+470003 = 1633153 > 0, correct
    // s2: fr docs score 287682-1321756-916291 = -1950365 (correct
    //     negatives); the empty en doc scores the bias alone, 287682
    //     (correct positive); avg truncates toward zero
    assert(report == Seq(
      ("s1", 2L, 2L, 2L, 1633153L),
      ("s2", 3L, 1L, 3L, -1204349L)), report.toString)
    // calibration over the same scores: whole-nat truncating buckets
    // -1950365 → -1 (toward zero), 287682 → 0, 1633153 → 1
    val calib = TextAnalysis.nbCalibration(d, label, w)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(calib == Seq(
      (-1L, 2L, 0L, 0L),
      (0L, 1L, 1L, 1000000L),
      (1L, 2L, 2L, 1000000L)), calib.toString)
  }

  test("sqrtTemperatureAllocation: hand-traced √-damped shares, rate cap " +
      "at 1e6, empty source rates 0 without dividing by zero") {
    val d = Seq(
      ("a", "w1 w2 w3 w4 w5 w6 w7 w8 w9"), // 9 tokens → weight 3
      ("d", "solo"),                       // 1 token  → weight 1
      ("c", ""))                           // 0 tokens → weight 0
      .toDF("source", "text")
    val out = TextAnalysis.sqrtTemperatureAllocation(d, budgetDenom = 1)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // tot=10, wsum=4, B=10: a alloc 30//4=7 rate 7e6//9; d alloc
    // 10//4=2 > its 1 token → rate capped at 1e6; c all zeros
    assert(out == Seq(
      ("a", 9L, 3L, 750000L, 7L, 777777L),
      ("c", 0L, 0L, 0L, 0L, 0L),
      ("d", 1L, 1L, 250000L, 2L, 1000000L)), out.toString)
  }
}
