package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property checks for the round-6 operators: model equivalence and
  * algebraic invariants on seeded random inputs (the fixture-scale
  * values belong to the DuckDB oracle gate). */
class OperatorPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): List[A] =
    {
    val got = Gen.listOfN(n, gen).apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
    assert(got.nonEmpty, "generator produced no samples - property would pass vacuously")
    got
  }

  // text that can embed PII-shaped fragments
  private val piiTextGen: Gen[String] = for {
    words <- Gen.listOfN(8, Gen.oneOf(
      "alpha", "beta9", "x.y@mail.org", "10.0.0.255", "999999999123",
      "1.2.3", "a@b", "plain", "42", "z9@q.co"))
  } yield words.mkString(" ")

  test("redactPii: matches a direct java.util.regex model and is idempotent") {
    def model(t: String): (Int, Int, Int, String) = {
      def count(s: String, p: String) =
        p.r.findAllMatchIn(s).length
      val (e, i, n) =
        (TextAnalysis.EmailRe, TextAnalysis.Ipv4Re, TextAnalysis.LongNumRe)
      val t1 = t.replaceAll(e, "<EMAIL>")
      val t2 = t1.replaceAll(i, "<IP>")
      val t3 = t2.replaceAll(n, "<NUM>")
      (count(t, e), count(t1, i), count(t2, n), t3)
    }
    val in = samples(piiTextGen, 200, 7L).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = TextAnalysis.redactPii(in.toDF("doc_id", "text"))
      .orderBy($"doc_id")
      .as[(Long, Int, Int, Int, String)].collect()
    got.zip(in).foreach { case ((_, ne, ni, nn, red), (_, t)) =>
      val (me, mi, mn, mred) = model(t)
      assert((ne, ni, nn, red) == (me, mi, mn, mred), s"input '$t'")
      // idempotence: redacting redacted text changes nothing
      assert(model(mred)._4 == mred, s"not idempotent on '$t'")
    }
  }

  test("saltedCountSum: equals plain groupBy for arbitrary data and salt counts") {
    val rowGen = for {
      k <- Gen.choose(0L, 5L) // few keys → heavy collision/skew
      v <- Gen.choose(-10000, 10000).map(_ / 100.0)
    } yield (k, v)
    for (nSalts <- Seq(1, 3, 16)) {
      val rows = samples(rowGen, 500, nSalts.toLong)
        .zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val salted = Aggregates.saltedCountSum(rows, "k", "v", "id", nSalts)
        .select($"k", $"n", $"sum_val".cast("string"))
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val plain = rows.groupBy($"k")
        .agg(count(lit(1)).as("n"),
          sum($"v".cast("decimal(18,2)")).cast("string").as("s"))
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      // decimal partial sums re-associate exactly → string-identical
      assert(salted.map(t => (t._1, t._2)) == plain.map(t => (t._1, t._2)))
      assert(salted.zip(plain).forall { case (a, b) =>
        BigDecimal(a._3) == BigDecimal(b._3) }, s"nSalts=$nSalts")
    }
  }

  test("spanDedup: corpus of globally-unique spans removes nothing") {
    // doc i's words are all prefixed with its id → no cross-doc span
    val docs = (0L until 30L)
      .map(i => (i, (0 until 25).map(w => s"w${i}_$w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanDedup(docs, spanWords = 10, minDocDf = 2)
      .agg(sum($"n_removed")).as[Long].collect().head
    assert(out == 0L)
  }

  test("mixtureUpsample: census algebra holds on random strata") {
    val rowGen = for {
      lang <- Gen.oneOf("en", "de", "fr", "zh")
    } yield lang
    val rows = samples(rowGen, 400, 13L).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }
    val census = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val target = census.values.max
    val out = TextAnalysis.mixtureUpsample(rows.toDF("doc_id", "lang"),
        "doc_id", "lang")
      .select($"doc_id", $"lang", $"copy_idx").as[(Long, String, Int)]
      .collect()
    val byDoc = out.groupBy(_._1)
    // every input row survives; copy_idx is contiguous from 1; per-doc
    // copies ∈ {base, base+1}; per-stratum total ∈ [n·base, n·(base+1)]
    assert(byDoc.keySet == rows.map(_._1).toSet)
    byDoc.foreach { case (id, copies) =>
      val lang = copies.head._2
      val base = target / census(lang)
      val idxs = copies.map(_._3).sorted.toSeq
      assert(idxs == (1 to idxs.length), s"doc $id gaps: $idxs")
      assert(idxs.length == base || idxs.length == base + 1, s"doc $id")
    }
    census.foreach { case (lang, n) =>
      val emitted = out.count(_._2 == lang).toLong
      val base = target / n
      assert(emitted >= n * base && emitted <= n * (base + 1), lang)
    }
  }

  test("lexicalTopNeighbor: matches a brute-force cosine model") {
    // small vocab + short docs → dense overlaps; unigram terms keep the
    // model simple and maxDfPct=100 disables the prune (model parity
    // must not depend on it)
    val docGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    val docsL = samples(docGen, 60, 17L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    def tf(t: String): Map[String, Long] =
      t.split("\\s+").filter(_.nonEmpty).groupBy(identity)
        .view.mapValues(_.length.toLong).toMap
    val vecs = docsL.map { case (i, t) => i -> tf(t) }.filter(_._2.nonEmpty)
    def c2(a: Map[String, Long], b: Map[String, Long]): (Long, Double) = {
      val dot = a.keySet.intersect(b.keySet).toSeq.map(k => a(k) * b(k)).sum
      val na2 = a.values.map(v => v * v).sum
      val nb2 = b.values.map(v => v * v).sum
      (dot, (dot * dot).toDouble / (na2 * nb2).toDouble)
    }
    val expect = vecs.flatMap { case (i, a) =>
      val cands = vecs.filter(_._1 != i)
        .map { case (j, b) => val (d, c) = c2(a, b); (j, d, c) }
        .filter(_._2 > 0)
      if (cands.isEmpty) None
      else Some(i -> cands.minBy { case (j, _, c) => (-c, j) })
    }.toMap
    val got = TextAnalysis.lexicalTopNeighbor(
        docsL.toDF("doc_id", "text"), ngram = 1, maxDfPct = 100)
      .select($"doc_id", $"nn_id", $"dot", $"cos2")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (i, nn, dot, cos2) =>
      val (en, ed, ec) = expect(i)
      assert((nn, dot) == (en, ed), s"doc $i")
      assert(math.abs(cos2 - ec) < 1e-6, s"doc $i cos2 $cos2 vs $ec")
    }
  }

  test("crossNearDup: equals the symmetric pair relation restricted to cross-split pairs") {
    // random docs over a tiny vocab → dense n-gram overlaps at a low
    // threshold; split by parity
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    val docsL = samples(docGen, 40, 19L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val even = docsL.filter($"doc_id" % 2 === 0)
    val odd = docsL.filter($"doc_id" % 2 =!= 0)
    val cross = Dedup.crossNearDup(even, odd, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.3)
      .select($"new_id", $"old_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val sym = Dedup.ngramJaccardNearDup(docsL, "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.3)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
      .toSet
    assert(cross == sym, s"cross=$cross sym=$sym")
    assert(cross.nonEmpty, "vacuous: no cross-split near-dup pairs generated")
  }

  test("kmvDistinctSketch: invariants on random hash multisets") {
    val k = 8
    val hashGen = for {
      g <- Gen.oneOf("a", "b", "c")
      h <- Gen.choose(1L, 40L) // small space → heavy duplicates
    } yield (g, h)
    val rows = samples(hashGen, 300, 11L)
    val expected = rows.distinct.groupBy(_._1).map { case (g, hs) =>
      val ds = hs.map(_._2).distinct.sorted
      val nMin = math.min(k, ds.length)
      (g, (nMin.toLong, ds(nMin - 1), ds.length.toLong))
    }
    val got = Profile.kmvDistinctSketch(rows.toDF("g", "h"), "g", "h", k)
      .as[(String, Long, Long, Long, Long)].collect()
    got.foreach { case (g, nMin, kth, est, exact) =>
      val (eMin, eKth, eExact) = expected(g)
      assert((nMin, kth, exact) == (eMin, eKth, eExact), g)
      if (exact < k) assert(est == exact, s"$g: under-k estimate must be exact")
    }
  }

  test("sourceCapStats: bounded heap equals a direct sort-and-cap model on random corpora") {
    val docGen = for {
      src <- Gen.choose(0, 5)
      len <- Gen.choose(0L, 50L) // narrow range → many score ties exercise the id tiebreak
    } yield (src, len)
    val cap = 7
    val rows = samples(docGen, 300, 11L).zipWithIndex
      .map { case ((s, l), i) => (i.toLong, s"src$s", l) }
    val got = TextAnalysis.sourceCapStats(
        rows.toDF("doc_id", "source", "n_chars"), cap)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val exp = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, ds) =>
      val ranked = ds.sortBy(d => (-d._3, d._1)) // n_chars DESC, doc_id ASC
      val kept = math.min(ranked.length, cap)
      val cut = ranked(kept - 1)
      (src, ranked.length.toLong, kept.toLong, (ranked.length - kept).toLong,
        cut._1, cut._3)
    }
    assert(got == exp)
  }

  test("bloom filter: zero false negatives on random keys; deterministic under repartition") {
    import graft.functions.BloomFunctions._
    val keys = samples(Gen.choose(Long.MinValue, Long.MaxValue), 500, 17L).distinct
    val inserted = keys.take(300)
    def buildBf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.agg(bloom_agg(col("k"), 1000L, 16384L).as("bf")).head().getAs[Array[Byte]]("bf")
    val bf = buildBf(inserted.toDF("k"))
    // commutative bit-OR merge: identical bits under any partitioning
    assert(java.util.Arrays.equals(bf, buildBf(inserted.toDF("k").repartition(7))))
    val hits = keys.toDF("k")
      .select(col("k"), bloom_might_contain(lit(bf), col("k")).as("hit"))
      .as[(Long, Boolean)].collect().toMap
    inserted.foreach(k => assert(hits(k), s"false negative for $k"))
    val fps = keys.drop(300).count(hits(_))
    assert(fps <= 20, s"fp rate implausibly high: $fps/200") // sized for ~<1%
  }

  test("sizedBits: data-proportional under the cap, None past it, floored for tiny n") {
    import graft.functions.BloomFunctions.{sizedBits, MaxNumBits}
    assert(sizedBits(10L) == Some(65536L)) // floor
    assert(sizedBits(1000000L) == Some(16000000L)) // 16 bits/key
    assert(sizedBits(MaxNumBits / 16L) == Some(MaxNumBits)) // exactly at cap
    assert(sizedBits(MaxNumBits / 16L + 1L).isEmpty) // one key past it
    assert(sizedBits(10L, maxNumBits = 1L).isEmpty) // floor itself over a tiny cap
  }

  test("x63 over-cap degradation: exact semi-join screen, same counts, fp_ok pinned") {
    import graft.queries.JoinsQueries
    val sf001 = "/root/testdata/sf0.001"
    val capped = graft.testutil.Declared("x63")(spark, sf001)
      .as[(Long, Long, Long, Boolean)].head()
    // force the over-cap path: a 1-bit cap can never hold the floor
    val fallback = JoinsQueries.bloomPrescreen(spark, sf001, maxNumBits = 1L)
      .as[(Long, Long, Long, Boolean)].head()
    // exact counts are screen-independent; both paths must agree
    assert(fallback._1 == capped._1 && fallback._2 == capped._2)
    // the degraded screen is the exact join: no false negatives, no
    // false positives, so the fp bound holds trivially
    assert(fallback._3 == 0L && fallback._4)
    assert(capped._3 == 0L && capped._4) // and the bloom path stays green
  }

  test("bm25Retrieval: results identical under arbitrary repartitioning (fixed-point sums)") {
    val textGen = Gen.listOfN(15, Gen.oneOf(
      "spark", "stream", "window", "hash", "join", "merge", "filter",
      "scan", "sort", "alpha", "beta", "gamma", "delta")).map(_.mkString(" "))
    val docs = samples(textGen, 120, 13L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val queries = Seq(1 -> Seq("spark", "stream"), 2 -> Seq("hash", "join", "merge"))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25Retrieval(df, queries, k = 5)
        .as[(Int, Int, Long, Long)].collect().toSeq
    val base = run(docs)
    assert(base.nonEmpty && base.map(_._4).distinct.length > 1, s"degenerate scores: $base")
    // a different partitioning changes partial-agg and sum orders;
    // the micro-scaled BIGINT weights make the scores exact anyway
    assert(run(docs.repartition(13, col("text"))) == base)
    assert(run(docs.coalesce(1)) == base)
  }

  test("clusterAwareSplit: ZERO leakage for arbitrary random pair graphs") {
    // the structural claim behind x69: whatever the near-dup evidence
    // looks like — chains, stars, multi-component tangles — no pair
    // may straddle splits once the split key is the component id
    // b derived by a nonzero offset so the generator never filters
    // (a filtered Gen inside listOfN yields None → vacuous pass guard)
    val edgeGen = for {
      a <- Gen.chooseNum(1L, 120L); d <- Gen.chooseNum(1L, 119L)
    } yield {
      val b = ((a + d - 1) % 120) + 1
      (math.min(a, b), math.max(a, b))
    }
    (1L to 5L).foreach { seed =>
      val pairs = samples(edgeGen, 60, seed).distinct.toDF("doc_a", "doc_b")
      val docs = (1L to 120L).map(i => (i, i.toString)).toDF("doc_id", "payload")
      val aware = TextAnalysis.clusterAwareSplit(
        docs, Dedup.connectedComponents(pairs), "doc_id")
      val leaked = TextAnalysis.splitLeakage(pairs, aware)
        .filter($"leaked").count()
      assert(leaked == 0L, s"seed $seed leaked $leaked pairs")
    }
  }

  test("sampledQuantiles: sample-of-union equals union-of-samples (mergeability)") {
    val df1 = (1L to 80L).map(v => (v, "g", v * 3 % 97)).toDF("id", "grp", "v")
    val df2 = (81L to 160L).map(v => (v, "g", v * 7 % 89)).toDF("id", "grp", "v")
    def q(df: org.apache.spark.sql.DataFrame) =
      Profile.sampledQuantiles(df, "id", "v", "grp",
        Seq(0.25, 0.5, 0.75), samplePct = 40).collect().toSeq
    // the hash gate commutes with union: quantiles of the unioned
    // corpora equal quantiles computed over the union of each half's
    // (deterministic) sample — the property that lets incremental
    // corpora compose without resampling
    val direct = q(df1.union(df2))
    val viaHalves = Profile.sampledQuantiles(
      df1.union(df2), "id", "v", "grp", Seq(0.25, 0.5, 0.75), 40)
    assert(direct == viaHalves.collect().toSeq)
    // and the gate really is per-key: each half's sampled ids are a
    // subset of the union's sampled ids (no cross-half interference)
    val g = (id: org.apache.spark.sql.DataFrame) => id
      .filter(graft.functions.TextFunctions.md5Bucket60($"id") % 100 < 40)
      .select($"id").as[Long].collect().toSet
    assert(g(df1).subsetOf(g(df1.union(df2))))
    assert((g(df1) ++ g(df2)) == g(df1.union(df2)))
  }

  // seeded random digraphs for the Graph-operator invariants
  private def edgeGen(nNodes: Int): Gen[(Long, Long)] = for {
    s <- Gen.choose(0L, nNodes - 1L)
    d <- Gen.choose(0L, nNodes - 1L) if s != d
  } yield (s, d)

  test("pageRank: total mass never exceeds N·10⁶ and every rank ≥ the restart floor") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val edges = samples(edgeGen(12), 40, seed).distinct.toDF("src", "dst")
      val n = edges.select(explode(array($"src", $"dst"))).distinct().count()
      val pr = Graph.pageRank(edges, iters = 3).as[(Long, Long)].collect()
      assert(pr.length == n)
      // flooring + dangling nodes only LOSE mass vs the uniform start
      assert(pr.map(_._2).sum <= n * 1000000L, s"seed $seed mass grew")
      assert(pr.forall(_._2 >= 150000L), s"seed $seed below restart floor")
    }
  }

  test("labelPropagate: labels only from the seed alphabet, seeds immutable, rounds monotone") {
    for (seed <- Seq(21L, 22L, 23L)) {
      val edges = samples(edgeGen(15), 50, seed).distinct.toDF("src", "dst")
      val seeds = (0L to 4L).map(i => (i * 3, (i % 3).toInt)).toDF("id", "label")
      val seedMap = Map((0L to 4L).map(i => i * 3 -> (i % 3).toInt): _*)
      val r2 = Graph.labelPropagate(edges, seeds, rounds = 2)
        .as[(Long, Int, Int)].collect()
      // every emitted label exists among the seeds (propagation invents nothing)
      assert(r2.forall(t => Set(0, 1, 2)(t._2)), s"seed $seed alien label")
      // seeds keep their exact label at round 0
      r2.filter(t => seedMap.contains(t._1)).foreach { t =>
        assert(t._2 == seedMap(t._1) && t._3 == 0, s"seed $seed mutated ${t._1}")
      }
      // monotone reach: round-1 labelings are a sub-multiset of round-2's
      val r1 = Graph.labelPropagate(edges, seeds, rounds = 1)
        .as[(Long, Int, Int)].collect()
      val r2map = r2.map(t => t._1 -> ((t._2, t._3))).toMap
      r1.foreach { t =>
        assert(r2map.get(t._1).contains((t._2, t._3)),
          s"seed $seed node ${t._1} flipped between rounds 1 and 2")
      }
    }
  }

  test("triangleProfile: per-node triangle counts sum to 3× the global triangle count") {
    for (seed <- Seq(31L, 32L)) {
      val und = samples(edgeGen(10), 35, seed).distinct
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
        .toDF("u", "v")
      val prof = Graph.triangleProfile(und)
        .as[(Long, Long, Long, Option[Long])].collect()
      // brute-force triangle model on the driver (toy-sized input)
      val es = und.as[(Long, Long)].collect().toSet
      def conn(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
      val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val triples = nodes.combinations(3).count {
        case Seq(a, b, c) => conn(a, b) && conn(b, c) && conn(a, c)
      }
      assert(prof.map(_._3).sum == 3L * triples, s"seed $seed")
      // degrees match the brute-force adjacency
      prof.foreach { case (id, deg, _, _) =>
        assert(deg == nodes.count(o => o != id && conn(id, o)), s"seed $seed node $id")
      }
    }
  }

  test("retentionCohorts: matches a driver-side model on seeded random event logs") {
    val evGen = for {
      u <- Gen.chooseNum(1L, 12L)
      day <- Gen.chooseNum(0, 45) // ~7 weeks of activity
    } yield (u, java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day).atTime(12, 0)))
    for (seed <- 1L to 3L) {
      val evs = samples(evGen, 150, seed)
      def monday(t: java.sql.Timestamp): java.time.LocalDate = {
        val d = t.toLocalDateTime.toLocalDate
        d.minusDays(d.getDayOfWeek.getValue - 1L)
      }
      val firsts = evs.groupBy(_._1).view
        .mapValues(g => monday(g.minBy(_._2.getTime)._2)).toMap
      val sizes = firsts.values.groupBy(identity).view.mapValues(_.size).toMap
      val model = evs
        .map { case (u, t) =>
          val cw = firsts(u)
          (cw, java.time.temporal.ChronoUnit.DAYS.between(cw, monday(t)) / 7, u)
        }
        .distinct.groupBy(r => (r._1, r._2)).map { case ((cw, off), g) =>
          val act = g.map(_._3).distinct.size.toLong
          (cw.toString, off, act, sizes(cw).toLong,
            act * 1000000L / sizes(cw))
        }.toSeq.sorted
      val got = Sequences.retentionCohorts(evs.toDF("user_id", "ts"))
        .select(col("cohort_week").cast("string"), col("week_offset"),
          col("active_users"), col("cohort_size"), col("retention_micro"))
        .as[(String, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == model, s"seed $seed")
    }
  }

  test("systematicSample: matches the integer-line model; covered multiples sum to tot div stride") {
    val rowGen = for {
      id <- Gen.chooseNum(1L, 1000L)
      w <- Gen.chooseNum(0L, 30L)
    } yield (id, w)
    for (seed <- 1L to 3L; k <- Seq(1, 3, 7)) {
      val rows = samples(rowGen, 40, seed).distinctBy(_._1)
      def md5hex(s: String): String = {
        val d = java.security.MessageDigest.getInstance("MD5")
        d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      val line = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      val tot = rows.map(_._2).sum
      val stride = math.max(1L, tot / k)
      var cum = 0L
      val model = line.flatMap { case (id, w) =>
        val prev = cum; cum += w
        if (cum / stride > prev / stride)
          Some((id, w, cum, prev / stride + 1)) else None
      }
      val got = TextAnalysis.systematicSample(
          rows.map { case (id, w) => ("s", id, w) }.toDF("lang", "doc_id", "n_chars"),
          "doc_id", "n_chars", "lang", k)
        .select("doc_id", "weight", "cum_weight", "pick_no")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._3).toSeq
      assert(got == model.map(m => (m._1, m._2, m._3, m._4)), s"seed $seed k $k")
      // coverage law: the picked rows' intervals contain EVERY stride
      // multiple in (0, tot] exactly once
      val covered = model.map(m => m._3 / stride - (m._3 - m._2) / stride).sum
      assert(covered == tot / stride, s"seed $seed k $k")
    }
  }

  test("linkPrediction: matches a brute-force common-neighbor model on random graphs") {
    val edgeGen = for {
      u <- Gen.chooseNum(1L, 12L); v <- Gen.chooseNum(1L, 12L) if u != v
    } yield (math.min(u, v), math.max(u, v))
    for (seed <- 1L to 3L) {
      val es = samples(edgeGen, 25, seed).distinct
      val adj = es.flatMap(e => Seq(e, e.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keys.toSeq.sorted
      val model = (for {
        a <- nodes; b <- nodes if a < b && !es.contains((a, b))
        common = adj(a).intersect(adj(b)).size if common >= 1
      } yield (a, b, common.toLong,
        common * 1000000L / (adj(a).size + adj(b).size - common))).sorted
      val got = Graph.linkPrediction(es.toDF("u", "v"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == model, s"seed $seed")
    }
  }

  test("pairwiseKappa: symmetric in gate order and bounded in [-1, 1]") {
    val flagGen = Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false),
      Gen.oneOf(true, false))
    for (seed <- 1L to 3L) {
      val rows = samples(flagGen, 60, seed)
      val df = rows.toDF("a", "b", "c")
      val fwd = Profile.pairwiseKappa(df, Seq("a", "b", "c"))
        .as[(String, String, Long, Long, Option[Double])].collect()
        .map(r => Set(r._1, r._2) -> ((r._4, r._5))).toMap
      val rev = Profile.pairwiseKappa(df, Seq("c", "b", "a"))
        .as[(String, String, Long, Long, Option[Double])].collect()
        .map(r => Set(r._1, r._2) -> ((r._4, r._5))).toMap
      assert(fwd == rev, s"seed $seed: order of gates changed agree/kappa")
      fwd.values.foreach { case (_, kap) =>
        kap.foreach(x => assert(x >= -1.0 && x <= 1.0, s"seed $seed kappa $x")) }
    }
  }

  // --- round-10 determinism properties ------------------------------

  test("withExactNtile: tile assignment is invariant under repartitioning " +
      "and equals ntile for random tie-heavy data") {
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      v <- Gen.choose(0L, 6L) // few values -> heavy tie groups
    } yield v
    for (seed <- Seq(1L, 2L, 3L)) {
      val rows = samples(rowGen, 300, seed).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("id", "v")
      val a = Rank.withExactNtile(df, "v", "id", 7, "tile")
        .select($"id", $"tile").as[(Long, Int)].collect().sortBy(_._1)
      val b = Rank.withExactNtile(df.repartition(13), "v", "id", 7, "tile")
        .select($"id", $"tile").as[(Long, Int)].collect().sortBy(_._1)
      assert(a.toSeq == b.toSeq, s"seed $seed: repartition moved tiles")
      val w = df.withColumn("tile",
          ntile(7).over(Window.orderBy($"v", $"id")))
        .select($"id", $"tile").as[(Long, Int)].collect().sortBy(_._1)
      assert(a.toSeq == w.toSeq, s"seed $seed: diverged from ntile")
    }
  }

  test("signalRankFusion: output invariant under repartitioning (heap " +
      "merge order cannot move ranks)") {
    val textGen = Gen.listOfN(12, Gen.oneOf(
      "the", "and", "is", "of", "to", "aaa", "bbb", "ccc", "zz", "!!"))
      .map(_.mkString(" "))
    val docs = samples(textGen, 120, 11L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val a = TextAnalysis.signalRankFusion(docs, topK = 20, listDepth = 40)
      .collect().map(_.toString).toSeq
    val b = TextAnalysis.signalRankFusion(docs.repartition(9),
        topK = 20, listDepth = 40)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("embeddingDispersion: the sum-vector identity equals the " +
      "brute-force pairwise mean on random quantized vectors") {
    val vecGen = Gen.listOfN(4, Gen.choose(-1000, 1000).map(_ / 1000.0f))
    val vecs = samples(vecGen, 30, 5L).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray, "g") }
    val out = Similarity.embeddingDispersion(
        vecs.toDF("vec_id", "embedding", "label"), dim = 4)
      .collect().head
    // brute force over the SAME milli quantization
    val q = vecs.map { case (_, v, _) =>
      v.map(x => math.round(x.toDouble * 1000.0)) }
    val n = q.length
    val pairSum = (for {
      i <- q.indices; j <- q.indices if i != j
    } yield q(i).zip(q(j)).map { case (a, b) => a * b }.sum).sum
    val expected = pairSum / (n.toLong * (n - 1))
    assert(out.getLong(3) == expected,
      s"identity ${out.getLong(3)} != brute $expected")
  }

  // ---- round-12 primitives: randomized parity vs the window forms ----

  private case class GRow(g: String, id: Long, v: Long, w: Option[Long])
  private val gRowsGen: Gen[List[GRow]] = for {
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b", "c", "skewed", "skewed", "skewed")
      v <- Gen.choose(0L, 6L) // fat tie groups on purpose
      w <- Gen.option(Gen.choose(-3L, 9L)) // nulls and negatives
    } yield (g, v, w))
  } yield rows.zipWithIndex.map { case ((g, v, w), i) => GRow(g, i.toLong, v, w) }

  test("withExactNtileBy: random tie shapes match the per-group ntile " +
    "window for several tile counts (seeded)") {
    for (seed <- Seq(11L, 23L, 47L)) {
      val rows = samples(gRowsGen, 1, seed).head
        .map(r => (r.g, r.id, r.v)).toDF("g", "id", "v")
      for (t <- Seq(2, 3, 7)) {
        val want = rows.withColumn("tile", ntile(t).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"g")
              .orderBy($"v", $"id")))
          .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
        val got = Rank.withExactNtileBy(rows, "g", "v", "id", t, "tile")
          .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
        assert(got == want, s"seed=$seed t=$t")
      }
    }
  }

  test("withGroupedPrefixSums: random frames with null/negative weights " +
    "match the window cumsum + row_number at random partition counts") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(5L, 17L, 31L)) {
      val rows = samples(gRowsGen, 1, seed).head
        .map(r => (r.g, r.id, r.v, r.w, 1L)).toDF("g", "id", "v", "w", "one")
      val wWin = Window.partitionBy($"g").orderBy($"v", $"id")
      val want = rows
        .withColumn("cum", sum($"w").over(
          wWin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rk", row_number().over(wWin).cast("long"))
        .collect().map(r => r.getLong(1) ->
          (if (r.isNullAt(5)) null else r.getLong(5), r.getLong(6))).toMap
      for (p <- Seq(1, 4, 9)) {
        val got = Rank.withGroupedPrefixSums(rows, "g",
            Seq($"v", $"id"), Seq("w" -> "cum", "one" -> "rk"),
            numPartitions = Some(p))
          .collect().map(r => r.getLong(1) ->
            (if (r.isNullAt(5)) null else r.getLong(5), r.getLong(6))).toMap
        assert(got == want, s"seed=$seed p=$p")
      }
    }
  }

  test("q34 ntile closed form: the fill-rule formula equals ntile(t) for " +
    "every (rn, n, t) in a dense sweep") {
    // the formula q34 computes in-plan, checked exhaustively in Scala:
    // n up to 50, t in {2,3,4,7}, every rank — includes n < t
    def closed(rn: Long, n: Long, t: Long): Long = {
      val base = n / t
      val rem = n % t
      if (base == 0) rn
      else if (rn <= rem * (base + 1)) (rn - 1) / (base + 1) + 1
      else rem + (rn - 1 - rem * (base + 1)) / base + 1
    }
    def ntileModel(rn: Long, n: Long, t: Long): Long = {
      // ntile semantics: first (n % t) tiles hold n/t + 1 rows
      val base = n / t; val rem = n % t
      var acc = 0L
      var tile = 1L
      while (tile <= t) {
        acc += (if (tile <= rem) base + 1 else base)
        if (rn <= acc) return tile
        tile += 1
      }
      t
    }
    for (n <- 1L to 50L; t <- Seq(2L, 3L, 4L, 7L); rn <- 1L to n)
      assert(closed(rn, n, t) == ntileModel(rn, n, t), s"rn=$rn n=$n t=$t")
  }

  // round-12 trio: seeded random labeled vectors, driver-side models
  // mirroring the declared integer/rounding algebra exactly

  private def half6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def halfL(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
  private def cos6(a: Array[Float], b: Array[Float]): Option[Double] = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < a.length) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) None else Some(half6(dot / math.sqrt(nx * ny)))
  }

  private val labeledVecGen: Gen[(Array[Float], Int)] = for {
    v <- Gen.listOfN(4, Gen.chooseNum(-1000, 1000).map(_ / 256.0f))
    l <- Gen.chooseNum(0, 2)
  } yield (v.toArray, l)

  test("oodAudit: matches the driver-side integer-algebra model on random " +
      "labeled vectors") {
    val in = samples(labeledVecGen, 120, 21L).zipWithIndex
      .map { case ((v, l), i) => (i.toLong, v, l) }
    val got = Similarity.oodAudit(in.toDF("vec_id", "embedding", "label"),
        dim = 4, factorMilli = 1200L)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5))).toList
    val cells = in.flatMap { case (id, v, l) =>
      v.zipWithIndex.map { case (x, d) => (l, id, d, halfL(x.toDouble * 1000.0)) } }
    val stats = cells.groupBy(c => (c._1, c._3)).map { case (k, cs) =>
      k -> (cs.size.toLong, cs.map(_._4).sum, cs.map(c => c._4 * c._4).sum) }
    val ood = cells.groupBy(c => (c._1, c._2)).map { case ((l, id), cs) =>
      val ts = cs.flatMap { case (_, _, d, q) =>
        val (n, s1, s2) = stats((l, d))
        val den = s2 * n - s1 * s1
        if (den > 0)
          Some(math.round((q * n - s1).toDouble * (q * n - s1).toDouble
            * 1000.0 / den.toDouble))
        else None
      }
      (l, id, if (ts.isEmpty) None else Some(ts.sum))
    }
    val expected = ood.groupBy(_._1).map { case (l, vs) =>
      val sums = vs.flatMap(_._3)
      (l, vs.size.toLong,
        if (sums.isEmpty) None else Some(sums.sum),
        if (sums.isEmpty) None else Some(sums.max),
        vs.count(_._3.exists(_ > 1200L * 4)).toLong)
    }.toList.sortBy(_._1)
    assert(got == expected)
  }

  test("hardNegatives: matches a brute-force driver model on random " +
      "labeled vectors (zero-norm vectors drop)") {
    val in = samples(labeledVecGen, 60, 33L).zipWithIndex
      .map { case ((v, l), i) => (i.toLong, v, l) }
    val queries = in.filter(_._1 < 15)
    val got = Similarity.hardNegatives(
        in.toDF("vec_id", "embedding", "label"),
        queries.toDF("query_id", "query_vec", "query_label"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5), r.getLong(6))).toList
    val expected = queries.flatMap { case (qid, qv, ql) =>
      val scored = in.filter(_._1 != qid).flatMap { case (cid, cv, cl) =>
        cos6(qv, cv).map(c => (cid, cl, c)) }
      def top1(side: Seq[(Long, Int, Double)]) =
        side.sortBy { case (id, _, c) => (-c, id) }.headOption
      (top1(scored.filter(_._2 == ql)), top1(scored.filter(_._2 != ql))) match {
        case (Some((pid, _, pc)), Some((nid, _, nc))) =>
          Some((qid, ql, pid, pc, nid, nc, halfL((pc - nc) * 1000000.0)))
        case _ => None
      }
    }.sortBy(_._1)
    assert(got == expected)
  }

  test("packingSweep: matches the integer pack-algebra model on random " +
      "token counts, zero-token docs included") {
    val docGen = for {
      s <- Gen.oneOf("a", "b", "c")
      t <- Gen.chooseNum(0, 40)
    } yield (s, t)
    val in = samples(docGen, 100, 5L).zipWithIndex
      .map { case ((s, t), i) => (i.toLong, ("w " * t).trim, s) }
    val budgets = Seq(7L, 19L)
    val got = TextAnalysis.packingSweep(
        in.toDF("doc_id", "text", "lang"), budgets = budgets)
      .as[(Long, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    val expected = (for {
      l <- budgets
      (s, docs) <- in.groupBy(_._3).toSeq
    } yield {
      val toks = docs.sortBy(_._1).map(d =>
        d._2.split("\\s+").count(_.nonEmpty).toLong)
      val cums = toks.scanLeft(0L)(_ + _).tail
      val starts = toks.zip(cums).map { case (n, c) => (c - n) / l }
      val total = toks.sum
      val nPacks = starts.max + 1
      val splits = toks.zip(cums).count { case (n, c) =>
        n > 0 && (c - n) / l != (c - 1) / l }
      (l, s, docs.size.toLong, total, nPacks, nPacks * l,
        total * 1000000L / (nPacks * l),
        math.max(0L, total - nPacks * l), splits.toLong)
    }).sortBy(r => (r._1, r._2)).toList
    assert(got == expected)
  }

  test("eventPathMining: counts invariant under repartitioning") {
    val events = samples(Gen.oneOf("a", "b", "c"), 200, 3L).zipWithIndex
      .map { case (t, i) => ((i % 7).toLong, i.toLong, i.toLong, t) }
      .toDF("user_id", "event_id", "ts_l", "event_type")
      .withColumn("ts", $"ts_l".cast("timestamp")).drop("ts_l")
    val a = Sequences.eventPathMining(events, minSupport = 1L)
      .collect().map(_.toString).toSeq
    val b = Sequences.eventPathMining(events.repartition(11), minSupport = 1L)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("rakingWeights: weights floor at 1; four iterations land weighted " +
      "column margins within 1% of the uniform target; partitioning-" +
      "invariant") {
    val cellGen = for {
      r <- Gen.choose(0, 2); c <- Gen.choose(0, 2)
    } yield (s"r$r", s"c$c")
    for (seed <- Seq(11L, 12L, 13L)) {
      val rows = samples(cellGen, 300, seed).toDF("lang", "source")
      val out = Profile.rakingWeights(rows)
        .as[(String, String, Long, Long, Long)].collect()
      assert(out.forall(_._4 >= 1L))
      assert(out.toSeq == Profile.rakingWeights(rows.repartition(13))
        .as[(String, String, Long, Long, Long)].collect().toSeq)
      // weighted column masses vs the uniform target tc = N*1e6/C
      val n = out.map(_._3).sum
      val cols = out.groupBy(_._2)
      val tc = BigInt(n) * 1000000 / cols.size
      cols.foreach { case (cname, cells) =>
        val mass = cells.map(x => BigInt(x._3) * x._4).sum
        assert((mass - tc).abs * 100 <= tc,
          s"seed $seed col $cname mass $mass target $tc")
      }
    }
  }

  test("fleissKappa: matches a direct BigInt model on random complete " +
      "panels; perfect copies read kappa 1e6") {
    val labelGen = Gen.oneOf("x", "y", "z")
    for (seed <- Seq(21L, 22L, 23L)) {
      val raters = Seq("r1", "r2", "r3", "r4")
      val labels = samples(labelGen, 10 * raters.size, seed)
      val ratings = for {
        (s, si) <- (1 to 10).map(i => s"s$i").zipWithIndex
        (r, ri) <- raters.zipWithIndex
      } yield (s, r, labels(si * raters.size + ri))
      val got = Profile.fleissKappa(ratings.toDF("doc_id", "rater", "label"))
        .as[(Long, Long, Long, Long, Long, Long, Option[Long])].collect()
      // model: n_ij counts, exact micro quantization, kappa from micro
      val n = BigInt(10); val m = BigInt(raters.size)
      val cells = ratings.groupBy(v => (v._1, v._3)).view.mapValues(_.size)
      val s1 = cells.values.map(v => BigInt(v) * v).sum
      val cj = ratings.groupBy(_._3).view.mapValues(_.size)
      val c2 = cj.values.map(v => BigInt(v) * v).sum
      val pbar = (s1 - n * m) * 1000000 / (n * m * (m - 1))
      val pe = c2 * 1000000 / (n * m * n * m)
      val kappa = if (c2 == n * m * n * m) None
        else Some(((pbar - pe) * 1000000 / (1000000 - pe)).toLong)
      assert(got.toSeq == Seq((10L, 0L, m.toLong, cj.size.toLong,
        pbar.toLong, pe.toLong, kappa)), s"seed $seed")
      // perfect-copy panel: every rater repeats subject s_i's label
      val perfect = (1 to 10).flatMap(i =>
        raters.map(r => (s"s$i", r, labels(i - 1))))
      val pk = Profile.fleissKappa(perfect.toDF("doc_id", "rater", "label"))
        .as[(Long, Long, Long, Long, Long, Long, Option[Long])].head()
      if (pk._4 >= 2) assert(pk._7 == Some(1000000L))
      else assert(pk._7.isEmpty)
    }
  }

  test("inBatchCollisionForecast: expected collisions strictly " +
      "monotone in batch size on any spectrum with duplication") {
    val specGen = for {
      size <- Gen.choose(2L, 9L); n <- Gen.choose(1L, 5L)
    } yield (size, n)
    for (seed <- Seq(31L, 32L)) {
      val spec0 = samples(specGen, 5, seed).zipWithIndex
        .map { case ((s, n), i) => (s + i, n) } // distinct sizes
      val spec = spec0.map { case (s, n) => (s, n, s * n, 0L) }
        .toDF("cluster_size", "n_clusters", "n_docs", "doc_share_micro")
      val out = Dedup.inBatchCollisionForecast(spec,
          batchSizes = Seq(16, 64, 256))
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(out.map(_._1).toSeq == Seq(16L, 64L, 256L))
      assert(out.sliding(2).forall(p => p(0)._5 < p(1)._5), out.toSeq)
      // pair rate replays the mirror formula
      val nDocs = spec0.map { case (s, n) => s * n }.sum
      val sPairs = spec0.map { case (s, n) => BigInt(s) * (s - 1) * n }.sum
      assert(out.head._4 ==
        (sPairs * 1000000 / (BigInt(nDocs) * (nDocs - 1))).toLong)
    }
  }

  test("conformalCoverage: thresholds and coverage are non-increasing " +
      "as the miscoverage level rises") {
    val vGen = Gen.choose(0L, 40L)
    for (seed <- Seq(41L, 42L)) {
      val vals = samples(vGen, 120, seed).zipWithIndex
        .map { case (v, i) => (i % 2 == 0, s"g${i % 3}", v) }
      val out = Profile.conformalCoverage(
          vals.toDF("is_cal", "source", "value"),
          pcts = Seq(1, 5, 10, 20, 50))
        .as[(Long, Long, Long, Option[Long], Long, Long, Long)].collect()
      assert(out.map(_._1).toSeq == Seq(1L, 5L, 10L, 20L, 50L))
      val thr = out.map(_._4.getOrElse(Long.MaxValue))
      assert(thr.sliding(2).forall(p => p(0) >= p(1)), thr.toSeq)
      val cov = out.map(_._7)
      assert(cov.sliding(2).forall(p => p(0) >= p(1)), cov.toSeq)
    }
  }

  test("raterQuality: a unanimous panel reads every accuracy at 1e6, " +
      "equal weights, zero flips; output invariant under repartition") {
    val labelGen = Gen.oneOf("p", "q")
    for (seed <- Seq(51L, 52L)) {
      val perSubject = samples(labelGen, 12, seed)
      val votes = perSubject.zipWithIndex.flatMap { case (l, i) =>
        Seq("a", "b", "c").map(r => (s"s$i", r, l)) }
      val df = votes.toDF("doc_id", "rater", "label")
      val out = Profile.raterQuality(df)
        .as[(String, Long, Long, Long, Long, Long)].collect()
      assert(out.forall(r => r._4 == 1000000L && r._6 == 0L), out.toSeq)
      assert(out.map(_._5).distinct.length == 1)
      assert(out.toSeq == Profile.raterQuality(df.repartition(7))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq)
    }
  }
}
