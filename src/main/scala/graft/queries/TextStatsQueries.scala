package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Materialize, Profile, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.TextAnalysis]], statistics
  * half: vocabulary, language-model, tokenizer (BPE), repetition,
  * classifier and retrieval statistics. The curation half is
  * [[TextCurationQueries]].
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object TextStatsQueries extends QueryFamily {

  /** x08 language-ID confusion matrix (n-gram/stopword heuristic vs the
    * labeled lang column). */
  val x08 = query("x08_lang_id_confusion",
    s"""WITH $langPredCteSql
       |SELECT lang, lang_pred, count(*) AS n FROM p
       |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin) { (s, dir) =>
    TextAnalysis.langConfusion(docs(s, dir))
  }

  /** x10 per-doc whitespace token count. */
  val x10 = query("x10_token_count",
    """SELECT doc_id, len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
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
      .transform(Materialize(_, "TextStatsQueries.x32: tf"))
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
      .transform(Materialize(_, "TextStatsQueries.x276: word counts"))
    val srcWords = d.select(col("source"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .transform(Materialize(_, "TextStatsQueries.x276: srcWords"))
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
}
