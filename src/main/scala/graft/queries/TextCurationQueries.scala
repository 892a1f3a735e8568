package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.TextAnalysis]], curation
  * half: quality screens and filters, sampling and mixtures, packing,
  * contamination and duplicated substrings. The statistics half is
  * [[TextStatsQueries]].
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object TextCurationQueries extends QueryFamily {

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

  /** Bench probe (VERDICT r11 item 7): x159's decile-tile build on the
    * WORST value column the maxDistinct guard admits — per-row-unique
    * hash-derived values folded onto the 3e6 envelope grid, so the
    * tile histogram is as large as the doc frame itself (distinct ≈
    * rows). Times the histogram-collapse machinery at its legal
    * ceiling, making the cost the guard's envelope permits VISIBLE in
    * BENCH_r{N} instead of theoretical; the declared x159 (whose
    * 6-dp-quantized score keeps the histogram ≤ 1e6+1 grid points) is
    * the well-behaved sibling to compare against. */
  private[graft] def x159TileHicard(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir).select(col("doc_id"),
      (expr("conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)")
        .cast("long") % lit(3000000L)).as("__hv"))
    graft.operators.Rank.withExactNtile(hashed, "__hv", "doc_id", 10, "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("decile"))
  }

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
}
