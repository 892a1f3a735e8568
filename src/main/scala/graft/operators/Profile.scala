package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality first pass of a corpus
  * pipeline: per-column row/null/distinct counts and min/max. One
  * aggregation pass over the table computes every column's stats
  * (no per-column scans); the unpivot to long format is a narrow
  * post-processing step on the single aggregated row.
  *
  * min/max are emitted as strings under binary collation (both Spark
  * and DuckDB default to binary string comparison, which is what makes
  * the oracle exact).
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        count(lit(1)).minus(count(col(c))).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        col(s"__cnt_$c").as("n_non_null"),
        col(s"__null_$c").as("n_null"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_str"),
        col(s"__max_$c").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Declarative data-quality expectation suite — the publish gate a
    * production pipeline runs before results leave it (the
    * Great-Expectations / DLT-expectations pattern): each rule is a
    * (rule_id, column, rule label, violation-count aggregate) and the
    * output is the per-rule verdict (n_violations, pass).
    *
    * The whole suite is ONE aggregate pass over the table — every
    * rule's violation count is a conditional count in the same
    * partial+final HashAggregate, so adding rules adds expressions,
    * never scans. An exact-uniqueness rule (count - count distinct)
    * is the one term that expands the shuffle (distinct keys); at
    * 100 TB swap it for the KMV sketch above with a documented
    * tolerance — same suite shape. Output is rules-sized (tiny). */
  def expectations(df: DataFrame,
      rules: Seq[(Int, String, String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "expectations needs at least one rule")
    // duplicate ids would alias two __v_<id> aggregates and fail later
    // with an ambiguous-reference AnalysisException — fail clearly here
    val dups = rules.map(_._1).groupBy(identity).collect { case (id, g) if g.size > 1 => id }
    require(dups.isEmpty, s"duplicate expectation rule ids: ${dups.mkString(", ")}")
    val aggs = rules.map { case (id, _, _, v) => v.cast("bigint").as(s"__v_$id") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = rules.map { case (id, c, r, _) =>
      struct(
        lit(id).as("rule_id"),
        lit(c).as("column"),
        lit(r).as("rule"),
        col(s"__v_$id").as("n_violations"),
        (col(s"__v_$id") === 0L).as("pass"))
    }
    one.select(explode(array(rows: _*)).as("e")).select("e.*")
      .orderBy(col("rule_id"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group — the
    * AUDITABLE cardinality estimator (the x47 pattern applied to
    * approx-distinct): unlike HLL (x20, engine-specific registers,
    * rows-only checked), every piece of this sketch — the k smallest
    * 60-bit hashes, the kth value, the estimate (k-1)·2⁶⁰/kth — is
    * recomputable in plain SQL, so the approximate path itself is
    * value-checked. Estimate arithmetic stays engine-exact: (k-1)·2⁶⁰
    * is exactly representable in a double (6 significant bits), the
    * BIGINT→DOUBLE cast of kth is IEEE-correctly rounded, and floor of
    * the identical quotient is identical.
    *
    * Input: (groupCol, hashCol: Long) rows, duplicates allowed (an
    * internal distinct dedups). Groups with fewer than k distinct
    * hashes hold ALL of them — the estimate IS the exact count there.
    *
    * Scale: the ranking window runs over DISTINCT hashes per group
    * (already reduced by the map-side-combining distinct); at 100 TB
    * swap the window for a bounded k-min heap aggregator on longs —
    * same output, exchange carries ≤ k values per (task, group).
    *
    * Output: (groupCol, n_min, kth, est_distinct, exact_distinct). */
  def kmvDistinctSketch(df: DataFrame, groupCol: String, hashCol: String,
      k: Int = 64): DataFrame = {
    require(k > 1, s"kmvDistinctSketch: k must be > 1, got $k")
    val space = 1152921504606846976L // 2^60
    // enforce the hash-domain contract at execution: a full-range
    // signed hash (xxhash64) would sort negatives first and turn the
    // estimate into garbage silently — fail loudly instead
    val checked = when(col(hashCol) >= 0 && col(hashCol) < space, col(hashCol))
      .otherwise(raise_error(concat(
        lit(s"kmvDistinctSketch: $hashCol outside [0, 2^60): "),
        col(hashCol).cast("string"))))
    val hashes = df.select(col(groupCol).as("grp"), checked.as("h"))
      .distinct()
      // feeds the sketch AND the exact count
      .transform(Materialize(_, "Profile.kmvDistinctSketch: hashes"))
    // round 12: the bottom-k is a bounded-heap aggregate (BottomKLongs
    // — k longs per group per partition through the shuffle) instead
    // of a per-group row_number window that sorted every group's full
    // hash set in one task; n_min/kth read off the sorted k-array,
    // bit-identically
    val bk = org.apache.spark.sql.functions.udaf(
      new graft.functions.BottomKLongs(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val sketch = hashes.groupBy(col("grp"))
      .agg(bk(col("h")).as("__bk"))
      .select(col("grp"), size(col("__bk")).cast("long").as("n_min"),
        expr("__bk[size(__bk) - 1]").as("kth"))
    val exact = hashes.groupBy(col("grp"))
      .agg(count(lit(1)).as("exact_distinct"))
    // 2^60 as an exact double; (k-1)·2⁶⁰ keeps ≤ 7 significant bits
    val estSpace = lit((k - 1).toDouble * space.toDouble)
    sketch.join(exact, "grp")
      .select(col("grp").as(groupCol), col("n_min"), col("kth"),
        when(col("n_min") < k, col("n_min"))
          .otherwise(floor(estSpace / col("kth").cast("double")))
          .as("est_distinct"),
        col("exact_distinct"))
  }

  /** Pairwise group-similarity matrix from mergeable bottom-k (KMV)
    * sketches — "how much vocabulary do these two sources share"
    * WITHOUT holding any source's full vocabulary: each group keeps
    * its k smallest item hashes (k·8 bytes, mergeable by min-merge,
    * the same partial-then-merge shape as every sketch here), and the
    * standard KMV Jaccard estimator compares sketches pairwise:
    * est = |K(A∪B) ∩ A_sk ∩ B_sk| / |K(A∪B)| where K is bottom-k of
    * the merged sketch. Alongside the estimate, the EXACT Jaccard
    * from the full item sets — the x42/x20 calibration pattern: the
    * sketch is the scale path, the exact column is the oracle of its
    * error, and both ride the gate.
    *
    * Scale design: sketches reduce each group to k values before the
    * pairwise stage, so the pair join is groups² × k — independent of
    * corpus size; the exact columns are calibration cost a production
    * run drops. Items hash through the portable md5-60 family, so any
    * engine re-derives identical sketches.
    *
    * Output: (grp_a, grp_b, est_j, exact_j) for grp_a < grp_b. */
  def kmvPairSimilarity(items: DataFrame, groupCol: String,
      itemCol: String, k: Int = 64): DataFrame = {
    require(k > 1, s"kmvPairSimilarity: k must be > 1, got $k")
    val hv = items
      .select(col(groupCol).as("grp"),
        graft.functions.TextFunctions.md5Bucket60(col(itemCol)).as("h"))
      .distinct()
      // feeds the sketch AND the exact pair join
      .transform(Materialize(_, "Profile.kmvPairSimilarity: hashes"))
    val sk = hv.groupBy(col("grp"))
      .agg(slice(sort_array(collect_list(col("h"))), 1, k).as("sk"))
    val est = sk.as("a").join(sk.as("b"), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        slice(array_sort(array_union(col("a.sk"), col("b.sk"))), 1, k).as("__u"),
        col("a.sk").as("__sa"), col("b.sk").as("__sb"))
      .select(col("grp_a"), col("grp_b"),
        round(size(array_intersect(array_intersect(col("__u"), col("__sa")),
            col("__sb"))).cast("double")
          / size(col("__u")).cast("double"), 6).as("est_j"))
    val sz = hv.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val isz = hv.as("x").join(hv.as("y"),
        col("x.h") === col("y.h") && col("x.grp") < col("y.grp"))
      .groupBy(col("x.grp").as("grp_a"), col("y.grp").as("grp_b"))
      .agg(count(lit(1)).as("isz"))
    val exact = isz
      .join(sz.select(col("grp").as("grp_a"), col("n").as("__na")), "grp_a")
      .join(sz.select(col("grp").as("grp_b"), col("n").as("__nb")), "grp_b")
      .select(col("grp_a"), col("grp_b"),
        round(col("isz").cast("double")
          / (col("__na") + col("__nb") - col("isz")).cast("double"), 6)
          .as("exact_j"))
    est.join(exact, Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"), col("est_j"),
        coalesce(col("exact_j"), lit(0.0)).as("exact_j"))
  }

  /** Deterministic hash-sampled quantiles — the scale path for exact
    * percentiles: Spark's `percentile` buffers every distinct value of
    * a group in executor memory, which a 100 TB group cannot do, and
    * `percentile_approx`'s digest is neither engine-portable nor
    * stable under merge order. Sampling rows by a content hash of
    * `keyCol` (md5-60 mod 100 < `samplePct`) bounds the buffered mass
    * by the rate while staying (a) deterministic — identical across
    * runs, engines and partitionings, so results are reproducible and
    * oracle-checkable, (b) mergeable — the sample of a union is the
    * union of samples, so incremental corpora compose, and (c)
    * unbiased per key — the hash is independent of the value column.
    *
    * Exactness envelope: with `probs` restricted to binary-exact
    * fractions (quarters, eighths, …) and an INTEGER `valueCol`, the
    * interpolation `lo·(1−f) + hi·f` has exact double operands and
    * products (ints < 2⁵⁰), so both the one-multiply and two-multiply
    * interpolation forms give the SAME bits — engine-exact without
    * rounding tricks. Non-exact probs (0.9) make `f` inexact and the
    * two forms can differ in the last ulp: allowed here, but the
    * oracle-checked query sticks to quarters. */
  def sampledQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      groupCol: String, probs: Seq[Double], samplePct: Int = 25): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"sampledQuantiles: probs must be in [0,1], got $probs")
    require(samplePct > 0 && samplePct <= 100,
      s"sampledQuantiles: samplePct must be in (0,100], got $samplePct")
    val bucket = graft.functions.TextFunctions.md5Bucket60(col(keyCol)) % 100
    val qs = df.filter(bucket < samplePct)
      .groupBy(col(groupCol))
      .agg(
        percentile(col(valueCol), array(probs.map(lit): _*)).as("__q"),
        count(lit(1)).as("sample_n"))
    probs.zipWithIndex.foldLeft(qs) { case (acc, (p, i)) =>
      acc.withColumn(f"p${math.round(p * 100)}%02d",
        round(col("__q").getItem(i), 6))
    }.drop("__q")
  }

  /** Per-group mixture drift: the total-variation distance between
    * each group's category distribution and the corpus-wide one, in
    * integer micro-units — the "which sources skew the language mix"
    * (or lang↔topic, shard↔label …) screen a corpus build runs before
    * trusting per-source aggregates. TV is ½ Σ|p_g(c) − p(c)| over ALL
    * corpus categories — a group missing a category still pays that
    * category's corpus mass, which is exactly the skew being measured.
    *
    * Integer-exact: both distributions ride micro-unit floor-divisions
    * of exact counts, the differences and their sum are BIGINT, and
    * the final halving is an integer `div` — engine-identical, no
    * float anywhere. (The ≤ categories·1 µ quantization error this
    * introduces is deterministic and identical in the oracle.)
    *
    * Scale: one partial+final (group, category) count is the only
    * data-volume aggregation; groups × categories frames are
    * profile-cardinality and the full grid (cross of the two margins)
    * broadcasts. Output: (groupCol, n_rows, tv_micro). */
  def mixDrift(df: DataFrame, groupCol: String, catCol: String): DataFrame = {
    val gc = df.groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("n_gc"))
      // feeds both margins and the grid join
      .transform(Materialize(_, "Profile.mixDrift: group counts"))
    val g = gc.groupBy(col("grp")).agg(sum(col("n_gc")).cast("bigint").as("n_g"))
    val c = gc.groupBy(col("cat")).agg(sum(col("n_gc")).cast("bigint").as("n_c"))
    val tot = gc.agg(sum(col("n_gc")).cast("bigint").as("n"))
    g.crossJoin(c).join(broadcast(tot))
      .join(gc, Seq("grp", "cat"), "left")
      .select(col("grp"), col("n_g"),
        abs(expr("coalesce(n_gc, 0L) * 1000000L div n_g - n_c * 1000000L div n"))
          .as("__d"))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_rows"),
        expr("sum(__d) div 2").as("tv_micro"))
      .select(col("grp").as(groupCol), col("n_rows"), col("tv_micro"))
  }

  /** Per-group Simpson concentration and effective category count —
    * the diversity read on a categorical column: simpson = Σp_c² is
    * the probability two random rows of the group share a category
    * (1/|cats| = uniform, → 1 = monoculture), and its inverse is the
    * "effective number of categories" — the honest answer to "how
    * many languages does this source REALLY contribute" when raw
    * distinct counts are inflated by trace amounts. The within-group
    * companion to [[mixDrift]]'s against-the-corpus distance.
    *
    * Integer-exact: simpson_micro = Σn_c²·10⁶ div n² and
    * effective_micro = n²·10⁶ div Σn_c² — pure integer algebra, exact
    * while n²·10⁶ fits a long (groups ≲ 3·10⁶ rows; larger groups
    * take the md5-60 row sample first, the same envelope as
    * [[pairwiseKappa]]).
    *
    * Scale: one partial+final (group, category) count; everything
    * after is profile-cardinality. Output: (groupCol, n, n_cats,
    * simpson_micro, effective_micro). */
  def simpsonDiversity(df: DataFrame, groupCol: String,
      catCol: String): DataFrame =
    df.groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("n_gc"))
      .groupBy(col("grp"))
      .agg(sum(col("n_gc")).cast("bigint").as("n"),
        count(lit(1)).as("n_cats"),
        sum(col("n_gc") * col("n_gc")).cast("bigint").as("__ss"))
      .select(col("grp").as(groupCol), col("n"), col("n_cats"),
        expr("__ss * 1000000L div (n * n)").as("simpson_micro"),
        expr("n * n * 1000000L div __ss").as("effective_micro"))

  /** Winsorized per-group mean — the companion estimator to
    * [[madOutliers]]: instead of FLAGGING tail rows, clamp them to the
    * group's [pLo, pHi] order statistics and average what remains —
    * the robust location read ("typical doc length per language")
    * that a plain mean loses to one pathological document.
    *
    * Integer-exact: the clamp bounds are `percentile_disc` order
    * statistics (actual stored integers), clamping is min/max, and
    * both means ride `sum·10⁶ div n` — no float until nothing is
    * left to compute. The raw mean is reported alongside so the
    * winsorization's effect (their gap) is visible in the output.
    *
    * Scale: one grouped order-statistic pass (same envelope as
    * [[madOutliers]] — beyond-memory groups take the
    * [[sampledQuantiles]] path first) and one broadcast join of the
    * ≤|groups|-row bounds frame; the clamp+sum is a single
    * partial+final aggregation. Output: (groupCol, n, lo, hi,
    * wmean_micro, mean_micro). */
  def winsorizedStats(df: DataFrame, valueCol: String, groupCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorizedStats: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = df.groupBy(col(groupCol)).agg(
      expr(s"cast(percentile_disc($pLo) within group (order by $valueCol) " +
        "as bigint)").as("lo"),
      expr(s"cast(percentile_disc($pHi) within group (order by $valueCol) " +
        "as bigint)").as("hi"))
    df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .join(broadcast(bounds), groupCol)
      .withColumn("__w", least(greatest(col("__v"), col("lo")), col("hi")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        expr("sum(__w) * 1000000L div count(1)").as("wmean_micro"),
        expr("sum(__v) * 1000000L div count(1)").as("mean_micro"))
  }

  /** Pairwise Cohen's kappa between boolean gate columns — the
    * chance-corrected agreement read on a stack of curation filters:
    * raw overlap (x43's attribution counts) says two gates fire
    * together, kappa says whether that exceeds what their base rates
    * alone would produce. κ ≈ 0 means a filter adds no information
    * beyond marginals (it can be dropped); κ ≈ 1 means it is redundant
    * with another; the useful filters sit in between.
    *
    * Exactness: ONE pass computes n, each gate's marginal, and each
    * pair's both-true count as exact BIGINT aggregates; κ's numerator
    * (agree·n − pe) and denominator (n² − pe) are integer algebra, and
    * the single final division is one correctly-rounded double op —
    * engine-identical while n² · 10⁰ stays inside 2⁵³ (n ≲ 9·10⁷
    * rows; a larger corpus takes the md5-60 deterministic sample
    * first — the x70 pattern — which is statistically all an
    * agreement estimate needs). Degenerate marginals (both gates
    * constant → pe = n²) yield null κ.
    *
    * Scale: the data-volume work is a single partial+final aggregate
    * over the flag frame (gates² + gates + 1 counters); the pair
    * explosion happens on the resulting ONE-row frame. No joins, no
    * windows, no shuffle beyond the one aggregation.
    *
    * Output: (gate_a, gate_b, n, agree, kappa), one row per unordered
    * gate pair in input order. */
  def pairwiseKappa(df: DataFrame, flagCols: Seq[String]): DataFrame = {
    require(flagCols.size >= 2,
      s"pairwiseKappa: need at least 2 gates, got $flagCols")
    val pairs = for {
      i <- flagCols.indices; j <- (i + 1) until flagCols.size
    } yield (flagCols(i), flagCols(j))
    val aggCols =
      flagCols.map(c => sum(col(c).cast("long")).as(s"__m_$c")) ++
        pairs.map { case (a, b) =>
          sum((col(a) && col(b)).cast("long")).as(s"__b_${a}__$b") }
    val one = df.agg(count(lit(1)).as("__n"), aggCols: _*)
    pairs.map { case (a, b) =>
      one.select(
        lit(a).as("gate_a"), lit(b).as("gate_b"), col("__n").as("n"),
        col(s"__b_${a}__$b").as("__a11"),
        col(s"__m_$a").as("__x1"), col(s"__m_$b").as("__y1"))
    }.reduce(_.unionByName(_))
      .withColumn("agree", expr("n - __x1 - __y1 + 2L * __a11"))
      .withColumn("__pe", expr("__x1 * __y1 + (n - __x1) * (n - __y1)"))
      .select(col("gate_a"), col("gate_b"), col("n"), col("agree"),
        when(expr("n * n = __pe"), lit(null).cast("double"))
          .otherwise(round(
            expr("(agree * n - __pe)").cast("double") /
              expr("(n * n - __pe)").cast("double"), 6))
          .as("kappa"))
  }

  /** Median/MAD robust outlier screen — the heavy-tail-safe sibling of
    * [[zScores]]: mean/std blow up under the very outliers they are
    * meant to find, while the median and the median absolute deviation
    * are 50%-breakdown estimators. Flags every row whose integer
    * `valueCol` deviates from its group median by more than
    * `k` × MAD — the standard length/quality anomaly gate a corpus
    * pipeline runs before trusting per-group statistics.
    *
    * Integer-exact end to end: both medians are `percentile_disc`
    * order statistics (actual stored values, never interpolated), the
    * deviation is an integer subtraction, and the flag is an integer
    * comparison — engine-portable bit-for-bit, no epsilon anywhere.
    *
    * Scale design: two grouped exact order statistics and two joins
    * against group-cardinality frames (≤ |groups| rows — broadcast).
    * `percentile_disc` buffers a group's values like `percentile`
    * does, so groups beyond executor memory take the documented scale
    * path first: [[sampledQuantiles]]'s md5-60 row sample feeds the
    * same MAD algebra at any volume (the x70 pattern). Flag
    * asymmetry on purpose: MAD = 0 (over half the group identical)
    * flags ANY deviation, which is the desired read on degenerate
    * groups.
    *
    * Output: one row per input row — (keyCol, groupCol, valueCol,
    * med, mad, is_outlier). */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
      groupCol: String, k: Int = 3): DataFrame = {
    require(k > 0, s"madOutliers: k must be positive, got $k")
    val med = df.groupBy(col(groupCol)).agg(
      expr(s"cast(percentile_disc(0.5) within group (order by $valueCol) " +
        "as bigint)").as("med"))
    val dev = df.select(col(keyCol), col(groupCol), col(valueCol))
      .join(med, groupCol)
      .withColumn("__dev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(col(groupCol)).agg(
      expr("cast(percentile_disc(0.5) within group (order by __dev) " +
        "as bigint)").as("mad"))
    dev.join(mad, groupCol)
      .select(col(keyCol), col(groupCol), col(valueCol),
        col("med"), col("mad"),
        (col("__dev") > lit(k.toLong) * col("mad")).as("is_outlier"))
  }

  /** Per-group z-scores from EXACT integer moments: each row's integer
    * `valueCol` is scored against its group's mean/std as
    *
    *   z = (x·n − s) / (n · √((n·q − s²) / (n·(n−1))))
    *
    * where (n, s = Σx, q = Σx²) are exact BIGINT aggregates. The
    * algebra keeps every difference an exact INTEGER (no catastrophic
    * cancellation: n·q − s² is computed in int64, not as q − s²/n in
    * floats), and the double math after the casts is one fixed
    * expression tree of correctly-rounded IEEE ops — the same tree in
    * the oracle yields the same bits, making outlier verdicts
    * value-checkable, unlike a running-variance whose accumulation
    * order floats. Groups with n < 2 or zero variance (exact integer
    * test n·q = s²) get NULL z.
    *
    * Envelope: int64 products require |x| · n and √(n)·|x|² · n under
    * 2^63 (e.g. counts < 2^20 with n < 2^20 groups are safe) — the
    * count-shaped inputs this profiles. The casts to double are exact
    * below 2^53.
    *
    * Scale: one partial+final hash agg for the moments (group-sized),
    * broadcast back onto the row frame — the corpus never shuffles. */
  def zScores(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // n counts NON-NULL values (count(col)) to stay consistent with the
    // null-skipping sums — count(*) would inflate n against s/q and
    // silently mis-score every group containing a NULL; NULL-value rows
    // themselves get NULL z through the arithmetic
    val m = df.groupBy(col(groupCol).as("__g"))
      .agg(count(col(valueCol)).as("__n"), sum(col(valueCol)).as("__s"),
        sum(col(valueCol) * col(valueCol)).as("__q"))
    val nd = col("__n").cast("double")
    val z = (col(valueCol) * col("__n") - col("__s")).cast("double") /
      (nd * sqrt(
        (col("__n") * col("__q") - col("__s") * col("__s")).cast("double") /
          (nd * (nd - lit(1.0d)))))
    df.join(broadcast(m), col(groupCol) <=> col("__g"))
      .withColumn("z",
        when(col("__n") < 2 ||
          col("__n") * col("__q") === col("__s") * col("__s"),
          lit(null).cast("double"))
          .otherwise(z))
      .drop("__g", "__n", "__s", "__q")
  }

  /** Key-concentration profile: how unevenly a key's rows distribute —
    * THE question before any groupBy/join on that key at scale (a Gini
    * near 1 means heavy hitters: pre-salt, pre-aggregate, or cap). One
    * summary row: key count, row count, the largest key's rows, and
    * the Gini coefficient of the per-key row counts.
    *
    * Exactness: Gini needs Σ rankᵢ·cᵢ over counts sorted ascending —
    * but ranking KEYS is a corpus-scale sort. Keys tied on c
    * contribute c·(sum of their ranks) regardless of order, so the sum
    * collapses onto the count-value HISTOGRAM: a block of m keys of
    * count c after B smaller-count keys contributes
    * c·(m·B + m(m+1)/2). Everything is integer until the final
    * division (exact to 2^53 — row counts beyond that want the
    * decimal(38) variant of the same formula).
    *
    * Scale: one partial+final agg to per-key counts, a second to the
    * count-value histogram (≤ distinct count values — thousands, not
    * keys), and the running-sum window runs over THAT histogram, so
    * the single-partition WindowExec holds bounded rows. The corpus
    * shuffles once (the key agg). */
  /** Exact equi-depth histogram: per group, `bins` buckets holding (as
    * near as possible) equal ROW counts, each reported with its exact
    * [lo, hi] value range and population — the data-driven binning a
    * fixed-width histogram (x09) can't give on heavy-tailed lengths,
    * and the binning a downstream length-matched sampler consumes.
    *
    * Determinism: bucket assignment is the exact equi-depth tile over
    * the per-group total order (value, key) —
    * [[graft.operators.Rank.withExactNtileBy]], bit-identical to
    * `ntile(bins) OVER (PARTITION BY group ORDER BY value, key)`
    * (which the oracle keeps) — so the bin boundary placement of tied
    * values is reproducible in any engine and lo/hi/n are all
    * value-checkable, not just the bucket count.
    *
    * Scale: no group is ever sorted inside one task (the per-group
    * `ntile` window's failure mode — the largest language IS most of
    * a corpus). Tiles come from the (group, value) histogram plus a
    * broadcast per-group boundary map; the value-cardinality envelope
    * is ENFORCED in-plan by withExactNtileBy's raise_error guard —
    * beyond-envelope value columns take [[sampledQuantiles]]'s md5-60
    * sample for APPROXIMATE breakpoints first; this operator is the
    * exact read (and the oracle anchor) below that line.
    * Output: (groupCol, bin, n, lo, hi). */
  def equiDepthBins(df: DataFrame, keyCol: String, valueCol: String,
      groupCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"equiDepthBins: bins must be positive, got $bins")
    Rank.withExactNtileBy(
        df.select(col(groupCol), col(keyCol),
          col(valueCol).cast("long").as("__v")),
        groupCol, "__v", keyCol, bins, "bin")
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("__v")).as("lo"),
        max(col("__v")).as("hi"))
  }

  /** Benford first-digit audit on a positive numeric column — the
    * fabricated-data / unit-mixing smell test: naturally-grown
    * magnitudes follow P(d) = log10(1 + 1/d); ingestion bugs (fixed
    * price floors, unit swaps, synthetic fills) show up as per-digit
    * gaps long before a mean shifts.
    *
    * Portability: the nine expected frequencies are Scala-computed
    * constants embedded as integer-micro LITERALS (same values land in
    * the oracle SQL), the observed share is exact integer floor
    * division, and the first digit comes from the decimal rendering of
    * the truncated integer part — no float ops whose rounding could
    * differ between engines. Rows < 1 (no leading digit in [1,9])
    * are excluded and reported via the per-digit n sum vs the caller's
    * row count. Output: (digit, n, obs_micro, exp_micro, gap_micro). */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val expMicro: Map[Int, Long] = (1 to 9).map(d =>
      d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6)).toMap
    val expCol = (1 to 9).foldLeft(lit(null).cast("long")) { (acc, d) =>
      when(col("digit") === d, lit(expMicro(d))).otherwise(acc) }
    val digits = df
      .filter(col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("bigint").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).cast("bigint").as("__t"))
    digits.join(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 1000000L div __t").as("obs_micro"), expCol.as("exp_micro"))
      .withColumn("gap_micro", abs(col("obs_micro") - col("exp_micro")))
  }

  /** Pointwise-mutual-information profile of two categorical columns —
    * which (source, language) cells are over/under-represented against
    * independence, and each cell's exact contribution to the corpus
    * MI. The association read behind mixture design: [[mixDrift]]
    * says a source's mix differs from the corpus, this says WHICH
    * cells carry the association and how much information the pairing
    * holds in total.
    *
    * Determinism: every count is an exact BIGINT; the one float op per
    * cell is ln of a correctly-rounded double quotient of exact
    * integers (the x67 logprob precedent), rounded to 6 dp BEFORE any
    * summation — so the MI total is an order-independent integer sum
    * of per-cell micro-nats, never a float accumulation whose result
    * depends on partition order.
    *
    * Scale: one partial+final (a, b) count; margins and the grid are
    * cell-cardinality. Output per cell: (aCol, bCol, n_ab, n_a, n_b,
    * pmi_micro, mi_part_micro). */
  def pmiProfile(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("n_ab"))
      // feeds both margins and the final join
      .transform(Materialize(_, "Profile.pmiProfile: cells"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("n_ab")).cast("bigint").as("n_a"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("n_ab")).cast("bigint").as("n_b"))
    val tot = cells.agg(sum(col("n_ab")).cast("bigint").as("__n"))
    val lnRatio = log(
      (col("n_ab") * col("__n")).cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
    cells.join(ma, "__a").join(mb, "__b").join(broadcast(tot))
      .select(col("__a").as(aCol), col("__b").as(bCol),
        col("n_ab").cast("bigint").as("n_ab"), col("n_a"), col("n_b"),
        round(lnRatio * lit(1e6)).cast("long").as("pmi_micro"),
        round(lnRatio * (col("n_ab").cast("double") / col("__n").cast("double"))
          * lit(1e6)).cast("long").as("mi_part_micro"))
  }

  /** Median/IQR robust scaling — the per-group feature normalization
    * that survives the heavy tails [[zScores]]' mean/std cannot: each
    * row's integer value is re-expressed as (x − median) / IQR in
    * integer micro-units, the form a quality-score mixer or a
    * cross-source length comparison actually consumes. The companion
    * ACTION to [[madOutliers]]' flagging.
    *
    * Integer-exact: both quartiles and the median are `percentile_disc`
    * order statistics; the scale step is sign-decomposed floor division
    * (sign(x−med) · |x−med|·10⁶ div IQR) so Spark's truncating `div`
    * and an oracle's floor `//` agree — a NEGATIVE dividend is the one
    * place those two operators differ, so it is never formed.
    * IQR = 0 (over half the group identical) → null scaled value.
    *
    * Scale: one grouped order-statistic pass (the [[madOutliers]]
    * envelope — larger groups sample first via [[sampledQuantiles]]),
    * then a broadcast join of the ≤|groups|-row bounds frame. Output:
    * (keyCol, groupCol, valueCol, med, iqr, scaled_micro). */
  def robustScale(df: DataFrame, keyCol: String, valueCol: String,
      groupCol: String): DataFrame = {
    val bounds = df.groupBy(col(groupCol)).agg(
      expr(s"cast(percentile_disc(0.25) within group (order by $valueCol) " +
        "as bigint)").as("__q1"),
      expr(s"cast(percentile_disc(0.5) within group (order by $valueCol) " +
        "as bigint)").as("med"),
      expr(s"cast(percentile_disc(0.75) within group (order by $valueCol) " +
        "as bigint)").as("__q3"))
    df.select(col(keyCol), col(groupCol), col(valueCol).cast("long").as(valueCol))
      .join(broadcast(bounds), groupCol)
      .withColumn("iqr", col("__q3") - col("__q1"))
      .withColumn("scaled_micro",
        when(col("iqr") === 0, lit(null).cast("long"))
          .otherwise(signum(col(valueCol) - col("med")).cast("long") *
            expr(s"abs($valueCol - med) * 1000000L div iqr")))
      .select(col(keyCol), col(groupCol), col(valueCol), col("med"),
        col("iqr"), col("scaled_micro"))
  }

  /** Poisson(1) CDF thresholds scaled to the md5-60 hash range
    * [0, 2⁶⁰) — the inverse-CDF table [[poissonBootstrapCI]] draws
    * replicate weights through, exported so the oracle embeds the
    * IDENTICAL literals. P(W ≤ k) for k = 0..5; hashes ≥ the last
    * threshold draw weight 6 (P ≈ 6·10⁻⁴ — the truncation bias is
    * far below bootstrap noise at any realistic B). */
  private[graft] val Poisson1CdfScaled: Seq[Long] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    .map(p => (p * 1.152921504606846976e18).toLong)

  /** Poisson-bootstrap confidence interval for a per-group mean — the
    * DISTRIBUTED bootstrap: a classic resample needs a global draw of
    * n rows (a shuffle per replicate), while the Poisson trick gives
    * each row an independent Poisson(1) replicate weight, so ALL `b`
    * replicates compute in one map-side pass + one (group, replicate)
    * aggregation. The error bar a quality/length estimate ships with.
    *
    * Deterministic: the "randomness" is md5-60(key|replicate) pushed
    * through the fixed inverse-CDF table ([[Poisson1CdfScaled]] —
    * shared literals with the oracle), so any engine reproduces every
    * weight exactly; replicate means are integer micro (Σw·v·10⁶ div
    * Σw), and the CI bounds are ORDER STATISTICS of the b means
    * ((mean, replicate) total order) — no float percentile anywhere.
    *
    * Scale: the corpus expands ×b map-side (b ≈ 40 — bounded), one
    * partial+final shuffle on (group, replicate), then
    * group-cardinality rank algebra. Output: (groupCol, n, b_reps,
    * est_micro, lo_micro, hi_micro) — est is the exact full-sample
    * mean, lo/hi the ~2.5%/97.5% replicate order statistics. */
  def poissonBootstrapCI(df: DataFrame, keyCol: String, valueCol: String,
      groupCol: String, b: Int = 40): DataFrame = {
    require(b >= 4, s"poissonBootstrapCI: b must be >= 4, got $b")
    import org.apache.spark.sql.expressions.Window
    val cut = b * 25 / 1000 // floor(b · 0.025)
    val loRank = cut + 1
    val hiRank = b - cut
    val u = graft.functions.TextFunctions.md5Bucket60(
      concat(col(keyCol).cast("string"), lit("|"), col("__b").cast("string")))
    val w = Poisson1CdfScaled.zipWithIndex
      .foldRight(lit(6L): Column) { case ((t, k), acc) =>
        when(col("__u") < t, lit(k.toLong)).otherwise(acc) }
    val reps = df
      .select(col(groupCol), col(keyCol), col(valueCol).cast("long").as("__v"))
      .withColumn("__b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", u)
      .withColumn("__w", w)
      .groupBy(col(groupCol), col("__b"))
      .agg(sum(col("__w")).as("__sw"),
        sum(col("__w") * col("__v")).as("__swv"))
      .withColumn("__mean",
        when(col("__sw") > 0, expr("__swv * 1000000L div __sw"))
          .otherwise(lit(null).cast("long")))
      .withColumn("__rn", row_number().over(Window.partitionBy(col(groupCol))
        .orderBy(col("__mean").asc_nulls_last, col("__b"))))
    val ci = reps.groupBy(col(groupCol))
      .agg(count(lit(1)).as("b_reps"),
        max(when(col("__rn") === loRank, col("__mean"))).as("lo_micro"),
        max(when(col("__rn") === hiRank, col("__mean"))).as("hi_micro"))
    val overall = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        expr(s"sum(cast($valueCol as bigint)) * 1000000L div count(1)")
          .as("est_micro"))
    overall.join(broadcast(ci), groupCol)
      .select(col(groupCol), col("n"), col("b_reps"), col("est_micro"),
        col("lo_micro"), col("hi_micro"))
  }

  /** 1-D earth mover's distance of each group's value distribution
    * from the corpus distribution — the ORDINAL drift read
    * [[mixDrift]]'s total-variation cannot give: TV sees "different",
    * EMD sees "how far along the value axis the mass moved" (a source
    * whose docs are uniformly 10% longer is NEAR in EMD, far in TV).
    * For 1-D distributions EMD has the closed form ∫|F_g − F_corpus|,
    * integrated here exactly over the value support.
    *
    * Integer-exact: both CDFs ride cum·10⁶ div n (exact BIGINTs), the
    * support-gap weight is an integer value difference, and the sum
    * is a single integer aggregation — engine-identical. Units:
    * micro × valueCol-units (micro-chars for length columns).
    *
    * Scale: the corpus collapses FIRST to (group, value) and (value)
    * histograms (one partial+final shuffle); everything after runs on
    * the |groups| × |support| grid — support is DISTINCT VALUES
    * (thousands for length-like columns, the keyConcentration
    * envelope), and the per-group cum windows partition by group.
    * Output: (groupCol, n, emd_micro). */
  def distributionEmd(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("n_gv"))
      // feeds the support, the corpus hist, the grid
      .transform(Materialize(_, "Profile.distributionEmd: group values"))
    val support = gv.groupBy(col("v")).agg(sum(col("n_gv")).as("n_v"))
      .withColumn("cum_c", sum(col("n_v")).over(
        Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap", coalesce(
        lead(col("v"), 1).over(Window.orderBy(col("v"))) - col("v"), lit(0L)))
    val nTotal = gv.agg(sum(col("n_gv")).cast("bigint").as("__n"))
    val grid = gv.select(col("grp")).distinct()
      .join(broadcast(support))
      .join(gv, Seq("grp", "v"), "left")
      .withColumn("cum_g", sum(coalesce(col("n_gv"), lit(0L))).over(
        Window.partitionBy(col("grp")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val ng = gv.groupBy(col("grp")).agg(sum(col("n_gv")).cast("bigint").as("__ng"))
    grid.join(broadcast(ng), "grp").join(broadcast(nTotal))
      .withColumn("__d",
        abs(expr("cum_g * 1000000L div __ng") -
          expr("cum_c * 1000000L div __n")) * col("gap"))
      .groupBy(col("grp"))
      .agg(max(col("__ng")).as("n"), sum(col("__d")).cast("bigint").as("emd_micro"))
      .select(col("grp").as(groupCol), col("n"), col("emd_micro"))
  }

  def keyConcentration(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val hist = counts.groupBy(col("__c")).agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // m(m+1) is always even, so the halving is an exact bigint
    // shiftright — Divide would return DOUBLE for integral inputs and
    // quietly break the "integer until the final division" contract
    val sic = col("__c") * (col("__m") * coalesce(sum(col("__m")).over(w), lit(0L)) +
      shiftright(col("__m") * (col("__m") + 1), 1))
    hist
      .select(col("__c"), col("__m"), sic.as("__sic"))
      .agg(
        sum(col("__m")).cast("bigint").as("n_keys"),
        sum(col("__c") * col("__m")).cast("bigint").as("n_rows"),
        max(col("__c")).cast("bigint").as("max_key_rows"),
        sum(col("__sic")).cast("bigint").as("__sic"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        round((lit(2L) * col("__sic") - (col("n_keys") + 1) * col("n_rows"))
            .cast("double") /
          (col("n_keys") * col("n_rows")).cast("double"), 6).as("gini"))
  }

  /** Freedman–Diaconis histogram advisor: derive the bin width
    * 2·IQR/∛n from the data itself and ship the histogram AT that
    * width — the principled default for any numeric profile view
    * (too-narrow bins are noise, too-wide hide structure; FD
    * balances both against n and spread). x113's equi-depth bins
    * answer "where are the quantiles"; this answers "what does the
    * SHAPE look like" with a defensible resolution.
    *
    * Exactness: the IQR is an order-statistic difference (exact
    * integers); the width is ONE fixed double expression (2·IQR/∛n,
    * rounded, floored at 1) so both engines derive the same integer
    * width; bin assignment and counts are pure integer algebra.
    * Empty bins are absent rows (the histogram is sparse by
    * construction; a plot layer zero-fills).
    *
    * Scale: two aggregations (the quantile/extent pass and the bin
    * collapse) with a 1-row parameter frame broadcast between them.
    *
    * Output: (bin, bin_lo, n, width, n_bins), ordered by bin —
    * width/n_bins repeated (properties of the advisor). */
  def fdHistogram(df: DataFrame, valueCol: String): DataFrame = {
    val params = df.select(col(valueCol).cast("long").as("__v"))
      .agg(
        expr("cast(percentile_disc(0.25) WITHIN GROUP (ORDER BY __v) as bigint)")
          .as("__q1"),
        expr("cast(percentile_disc(0.75) WITHIN GROUP (ORDER BY __v) as bigint)")
          .as("__q3"),
        min(col("__v")).as("__lo"), max(col("__v")).as("__hi"),
        count(lit(1)).as("__n"))
      .withColumn("width",
        greatest(lit(1L), expr(
          "CAST(round(2.0D * (__q3 - __q1) / cbrt(CAST(__n AS DOUBLE))) AS BIGINT)")))
      .withColumn("n_bins", expr("(__hi - __lo) div width + 1"))
    df.select(col(valueCol).cast("long").as("__v"))
      .join(broadcast(params))
      .select(expr("(__v - __lo) div width").as("bin"),
        col("width"), col("n_bins"), col("__lo"))
      .groupBy(col("bin"), col("width"), col("n_bins"), col("__lo"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("__lo") + col("bin") * col("width")).as("bin_lo"),
        col("n"), col("width"), col("n_bins"))
      .orderBy(col("bin"))
  }

  /** Effective sample size and design effect of inverse-frequency
    * stratum weights — what re-weighting actually COSTS: balancing a
    * skewed corpus by weighting (w_h ∝ 1/n_h, the x54-upsample's
    * dual) does not give you n equally-informative rows; it gives
    * ESS = (Σw)²/Σw² of them, and deff = n/ESS is the variance
    * inflation every weighted estimate pays. A corpus with one
    * dominant stratum can have deff ≫ 1 — the quantitative argument
    * for capping (x59) or resampling (x44) instead of weighting.
    *
    * Exactness: w_h = 10⁶·n div (k·n_h) is integer micro (floor);
    * Σw = Σ n_h·w_h and Σw² = Σ n_h·w_h² are exact BIGINT; ESS and
    * deff are ONE fixed double expression over those two integers
    * (engine-identical), rounded to 6 dp.
    *
    * Scale: one stratum aggregation collapses the corpus; all
    * algebra runs on the |strata| frame. Output is per stratum with
    * the corpus-level ESS/deff repeated.
    *
    * Output: (strataCol, n_rows, weight_micro, ess, deff), ordered
    * by stratum. */
  def designEffect(df: DataFrame, strataCol: String): DataFrame = {
    val strata = df.groupBy(col(strataCol).as("grp"))
      .agg(count(lit(1)).as("n_rows"))
      // feeds totals and the weighted sums
      .transform(Materialize(_, "Profile.designEffect: strata"))
    val tot = strata.agg(sum(col("n_rows")).cast("bigint").as("__n"),
      count(lit(1)).as("__k"))
    val weighted = strata.join(broadcast(tot))
      .withColumn("weight_micro",
        expr("1000000L * __n div (__k * n_rows)"))
    val sums = weighted.agg(
      sum(col("n_rows") * col("weight_micro")).cast("bigint").as("__sw"),
      sum(col("n_rows") * col("weight_micro") * col("weight_micro"))
        .cast("bigint").as("__sww"),
      sum(col("n_rows")).cast("bigint").as("__nn"))
    weighted.join(broadcast(sums))
      .select(col("grp").as(strataCol), col("n_rows"), col("weight_micro"),
        expr("""round((CAST(__sw AS DOUBLE) * __sw) / __sww, 6)""").as("ess"),
        expr("""round(__nn / ((CAST(__sw AS DOUBLE) * __sw) / __sww), 6)""")
          .as("deff"))
      .orderBy(col(strataCol))
  }

  /** Semi-structured JSON column profile: per KEY across a JSON
    * string column — presence coverage, distinct-value cardinality,
    * and the lexicographic value range — the schema-discovery read a
    * pipeline needs before it can promote a "props" blob to real
    * columns (which keys are always there? which are enums vs
    * unbounded ids?). Keys come from the documents themselves
    * (`json_object_keys`), so schema drift (a new key appearing in
    * 0.1% of rows) surfaces as a new row here, not as a silent null
    * column downstream.
    *
    * Exactness: values compare as exact STRINGS (binary collation on
    * both engines) — no numeric coercion, so "9.5" vs "100" order
    * lexicographically and identically everywhere; coverage is
    * integer micro.
    *
    * Key contract: only keys matching `[A-Za-z0-9_]+` are profiled.
    * A dotted/quoted/bracketed key would be spliced into the JSON
    * path, resolve to the WRONG node, and engines disagree on path
    * quoting rules (ADVICE r9) — so such keys are excluded by
    * charset on BOTH engines rather than escaped divergently. A
    * schema whose keys need escaping should be profiled after a
    * rename pass.
    *
    * Scale: one explode over the keys of each row (output rows =
    * total key instances), one partial+final hash aggregation per
    * key; the 1-row total broadcasts. Key-cardinality output.
    *
    * Output: (key, n_present, n_rows, coverage_micro, n_values,
    * min_value, max_value), ordered by key. */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame = {
    val total = df.agg(count(lit(1)).as("n_rows"))
    df.select(col(jsonCol).as("__j"),
        explode(expr(s"json_object_keys($jsonCol)")).as("key"))
      .filter(col("key").rlike("^[A-Za-z0-9_]+$"))
      .select(col("key"),
        expr("get_json_object(__j, concat('$.', key))").as("__v"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_present"),
        countDistinct(col("__v")).as("n_values"),
        min(col("__v")).as("min_value"),
        max(col("__v")).as("max_value"))
      .join(broadcast(total))
      .select(col("key"), col("n_present"), col("n_rows"),
        expr("n_present * 1000000L div n_rows").as("coverage_micro"),
        col("n_values"), col("min_value"), col("max_value"))
      .orderBy(col("key"))
  }

  /** k-anonymity audit over a quasi-identifier tuple: every
    * combination of the given columns whose row count is below `k` —
    * the cells where a released dataset lets an attacker who knows
    * the quasi-identifiers single someone (or some document) out.
    * The governance read every data release gates on; buckets the
    * continuous column first (callers pass the bucketed expression),
    * because raw continuous values make every row its own cell.
    *
    * Pure integer: a partial+final hash aggregation on the tuple and
    * an integer threshold — nothing to drift.
    *
    * Scale: one aggregation collapses the volume to the cell frame;
    * output is bounded by the number of SPARSE cells (the risky ones
    * are by definition few rows each). A heavily-violating dataset
    * returns many rows — that is the finding, not a problem.
    *
    * Output: one row per violating cell (the quasi-id columns, n),
    * ordered by the tuple. */
  def kAnonymityAudit(df: DataFrame, quasiIds: Seq[Column], k: Int = 5,
      names: Seq[String] = Seq.empty): DataFrame = {
    require(quasiIds.nonEmpty, "kAnonymityAudit: need at least one quasi-id")
    require(k >= 2, s"kAnonymityAudit: k must be >= 2, got $k")
    val cols = if (names.nonEmpty) {
      require(names.length == quasiIds.length,
        "kAnonymityAudit: names must match quasiIds")
      quasiIds.zip(names).map { case (c, n) => c.as(n) }
    } else quasiIds
    val named = df.select(cols: _*)
    val keyCols = named.columns.map(col).toSeq
    named.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
      .orderBy(keyCols: _*)
  }

  /** Functional-dependency audit: for each candidate determinant →
    * dependent column pair, does A functionally determine B — the
    * schema-discovery read (an FD that HOLDS means B is derivable /
    * denormalized and a join key candidate; an FD that almost holds
    * flags dirty rows). Test: distinct(A) = distinct(A, B) ⟺ every A
    * value maps to exactly one B; the violation count
    * distinct(A, B) − distinct(A) is the number of EXTRA (A, B)
    * mappings dirty rows introduce.
    *
    * Pure integer: two exact distinct counts per pair, one
    * subtraction. NULL handling is stated for BOTH sides: a NULL B
    * under a non-null A still counts as a distinct mapping (dirty
    * data shows up as a violation), while a NULL DETERMINANT
    * determines nothing — NULL-A rows are excluded from BOTH counts
    * (FD semantics are defined over non-null determinant values;
    * counting struct(null, b) only in the pair side would report a
    * false violation from a single NULL-A row — ADVICE r10).
    *
    * Scale: ALL pairs ride ONE aggregation pass (conditional
    * expressions, never per-pair scans — the x177 shape) over the
    * table; the unpivot reads a checkpointed 1-row frame. Exact
    * distincts expand the shuffle; at 100 TB swap in the KMV sketch
    * with a stated tolerance (the x61 trade, documented).
    *
    * Output: (det, dep, n_det, n_pairs_distinct, violations, holds),
    * ordered by (det, dep). */
  def functionalDependencyAudit(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "functionalDependencyAudit: need column pairs")
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      // struct, not multi-arg countDistinct: Spark's multi-arg form
      // SKIPS rows where any argument is null, while the oracle's
      // tuple distinct does not — the struct is non-null even when a
      // field is, so both engines count the same mappings. The `when`
      // guard nulls the struct for NULL-A rows (countDistinct then
      // skips them), matching n_det's own null-skipping — the oracle
      // mirrors with CASE WHEN a IS NOT NULL THEN (a, b) END
      Seq(countDistinct(col(a)).as(s"__a$i"),
        countDistinct(when(col(a).isNotNull, struct(col(a), col(b))))
          .as(s"__ab$i"))
    }
    val wide = Materialize(df.agg(aggs.head, aggs.tail: _*),
      "Profile.functionalDependencyAudit: wide")
    pairs.zipWithIndex.map { case ((a, b), i) =>
      wide.select(lit(a).as("det"), lit(b).as("dep"),
        col(s"__a$i").cast("long").as("n_det"),
        col(s"__ab$i").cast("long").as("n_pairs_distinct"),
        (col(s"__ab$i") - col(s"__a$i")).cast("long").as("violations"),
        (col(s"__ab$i") === col(s"__a$i")).as("holds"))
    }.reduce(_ unionAll _).orderBy(col("det"), col("dep"))
  }

  /** Referential-integrity audit: for each declared foreign-key edge,
    * how many child rows point at a parent that does not exist
    * (orphans) and how many carry a NULL key — the constraint check
    * engines without enforced FKs (every lakehouse) must run as a
    * query. An edge with orphans breaks every inner join downstream
    * SILENTLY (rows vanish) — this audit is where that loss becomes
    * a number.
    *
    * Pure integer: per edge, one distinct-parent-key frame and one
    * anti-join count + one null count. The parent key set is distinct
    * BEFORE the join (no fan-out); NULL child keys are counted
    * separately, not as orphans (SQL joins would not match them
    * either way — the distinction matters for the fix).
    *
    * Scale: each edge is one broadcast/hash anti-join keyed on the
    * parent key — dimension-sized parents broadcast; output is
    * |edges| rows.
    *
    * Output: (relation, n_child, n_null_fk, n_orphans, intact),
    * ordered by relation. */
  def referentialIntegrityAudit(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "referentialIntegrityAudit: need FK edges")
    edges.map { case (name, child, fkCol, parent, pkCol) =>
      val pk = parent.select(col(pkCol).as("__pk")).distinct()
      val counts = child.select(col(fkCol).as("__fk"))
        .join(pk, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).cast("bigint").as("n_child"),
          sum(when(col("__fk").isNull, 1L).otherwise(0L)).cast("bigint")
            .as("n_null_fk"),
          sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
            .otherwise(0L)).cast("bigint").as("n_orphans"))
      counts.select(lit(name).as("relation"), col("n_child"),
        col("n_null_fk"), col("n_orphans"),
        (col("n_orphans") === 0L).as("intact"))
    }.reduce(_ unionAll _).orderBy(col("relation"))
  }

  /** Jarque–Bera lognormality check per group: skewness and excess
    * kurtosis of ln(value) with the JB statistic — natural document
    * lengths run roughly lognormal, so a source whose ln-length
    * distribution fails JB is template-generated, truncated, or
    * synthetic (too symmetric IS a tell: machine-generated corpora
    * under-disperse). The distribution-SHAPE alarm beside x154's KS
    * (which needs a reference distribution; JB needs none).
    *
    * Exactness: ln(value) quantizes ONCE per row to CENTI-nats
    * (coarser than micro ON PURPOSE: central moments raise values to
    * the 4th power, and centi keeps Σd⁴ exact int64 to ~10⁹ rows per
    * group for any realistic ln spread — the quantization-grain
    * trade, stated); the group mean is the floor-division integer
    * mean (stated, deterministic); deviations and their power sums
    * are exact integers; S, K, and JB evaluate in ONE double
    * expression each over those exact integers, quantized to micro.
    * JB ≈ n/6·(S² + K²/4) against the χ²(2) 95% bound 5.991.
    *
    * Scale: two partial+final aggregations (mean, then central
    * moments with the per-group means joined back); output is
    * |groups| rows.
    *
    * Output: (groupCol, n, skew_micro, exkurt_micro, jb_micro,
    * lognormal_ok), ordered by group; null moments for groups with
    * n < 8 (JB is asymptotic — tiny groups prove nothing). */
  def lognormalityCheck(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val x = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__v") > 0) // ln domain: identical row set on any engine
      .select(col("grp"),
        round(log(col("__v").cast("double")) * lit(100.0)).cast("long")
          .as("__x"))
      // feeds the mean AND the moment pass
      .transform(Materialize(_, "Profile.lognormalityCheck: values"))
    val mu = x.groupBy(col("grp"))
      .agg(expr("sum(__x) div count(1)").as("__mu"))
    x.join(mu, "grp")
      .select(col("grp"), (col("__x") - col("__mu")).as("__d"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("__d") * col("__d")).cast("bigint").as("__m2"),
        sum(col("__d") * col("__d") * col("__d")).cast("bigint").as("__m3"),
        sum(col("__d") * col("__d") * col("__d") * col("__d"))
          .cast("bigint").as("__m4"))
      .select(col("grp").as(groupCol), col("n"),
        when(col("n") >= 8 && col("__m2") > 0, expr(
          "CAST(round(CAST(__m3 AS DOUBLE) / CAST(n AS DOUBLE) / " +
            "sqrt((CAST(__m2 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
            "(CAST(__m2 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
            "(CAST(__m2 AS DOUBLE) / CAST(n AS DOUBLE))) " +
            "* 1000000.0D) AS BIGINT)")).as("skew_micro"),
        when(col("n") >= 8 && col("__m2") > 0, expr(
          "CAST(round((CAST(__m4 AS DOUBLE) * CAST(n AS DOUBLE) / " +
            "(CAST(__m2 AS DOUBLE) * CAST(__m2 AS DOUBLE)) - 3.0D) " +
            "* 1000000.0D) AS BIGINT)")).as("exkurt_micro"))
      .withColumn("jb_micro",
        when(col("skew_micro").isNotNull, expr(
          "CAST(round(CAST(n AS DOUBLE) / 6.0D * " +
            "((CAST(skew_micro AS DOUBLE) / 1000000.0D) * " +
            "(CAST(skew_micro AS DOUBLE) / 1000000.0D) + " +
            "(CAST(exkurt_micro AS DOUBLE) / 1000000.0D) * " +
            "(CAST(exkurt_micro AS DOUBLE) / 1000000.0D) / 4.0D) " +
            "* 1000000.0D) AS BIGINT)")))
      .withColumn("lognormal_ok",
        when(col("jb_micro").isNotNull, col("jb_micro") <= 5991000L))
      .orderBy(col(groupCol))
  }

  /** Two-sample power analysis per group: how many rows PER ARM a
    * mean-difference test needs to detect a shift of `mdeFrac` of
    * the corpus mean at 5% significance / 80% power — and whether
    * the group already has them. The "is this slice big enough to
    * A/B on" gate that turns x140's post-hoc z-test into a DESIGN
    * tool (an under-powered slice produces unreliable deltas however
    * carefully tested). n/arm = 2·(z_{0.975}+z_{0.8})²·σ²/δ².
    *
    * Exactness: per-group moment sums are exact integers; σ, δ, and
    * the ceiling evaluate in double expressions over them (the z
    * constants are SCALA literals shipped to both engines, and σ/δ
    * quantize to micro BEFORE the n formula, so the oracle consumes
    * the same two integers); the verdict is an integer comparison.
    *
    * Scale: one partial+final aggregation + the broadcast 1-row
    * corpus mean; output is |groups| rows.
    *
    * Output: (groupCol, n_rows, mean_micro, sd_micro, mde_micro,
    * n_needed, powered), ordered by group; null for zero-variance
    * or singleton groups (no test to power). */
  /** 2·(z_{0.975} + z_{0.80})² — the 5%-significance / 80%-power
    * constant, Scala-computed and rendered as the SAME double literal
    * into both engines (no engine inverse-CDF enters the gate). */
  val PowerTwoZSquared: Double = {
    val z = 1.959963984540054 + 0.8416212335729143
    2.0 * z * z
  }

  def powerAnalysis(df: DataFrame, valueCol: String, groupCol: String,
      mdeFrac: Double = 0.05): DataFrame = {
    require(mdeFrac > 0 && mdeFrac < 1,
      s"powerAnalysis: mdeFrac must be in (0, 1), got $mdeFrac")
    val twoZ2 = PowerTwoZSquared
    val st = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(col("__v")).cast("bigint").as("__s"),
        sum(col("__v") * col("__v")).cast("bigint").as("__ss"))
    val tot = st.agg(sum(col("__s")).cast("bigint").as("__ts"),
      sum(col("n_rows")).cast("bigint").as("__tn"))
    st.join(broadcast(tot))
      .select(col("grp").as(groupCol), col("n_rows"),
        expr("__s * 1000000L div n_rows").as("mean_micro"),
        when(col("n_rows") > 1, expr(
          "CAST(round(sqrt(CAST(__ss AS DOUBLE) / CAST(n_rows AS DOUBLE) " +
            "- (CAST(__s AS DOUBLE) / CAST(n_rows AS DOUBLE)) * " +
            "(CAST(__s AS DOUBLE) / CAST(n_rows AS DOUBLE))) " +
            "* 1000000.0D) AS BIGINT)")).as("sd_micro"),
        expr(s"CAST(round(CAST(__ts AS DOUBLE) / CAST(__tn AS DOUBLE) " +
          s"* ${mdeFrac}D * 1000000.0D) AS BIGINT)").as("mde_micro"))
      .withColumn("n_needed",
        when(col("sd_micro").isNotNull && col("sd_micro") > 0 &&
          col("mde_micro") > 0, expr(
          s"CAST(ceil(${twoZ2}D * " +
            "(CAST(sd_micro AS DOUBLE) * CAST(sd_micro AS DOUBLE)) / " +
            "(CAST(mde_micro AS DOUBLE) * CAST(mde_micro AS DOUBLE))) " +
            "AS BIGINT)")))
      .withColumn("powered",
        when(col("n_needed").isNotNull, col("n_rows") >= col("n_needed")))
      .orderBy(col(groupCol))
  }

  /** Kolmogorov–Smirnov distance of each group's value distribution
    * from the corpus — the SUP-norm drift read next to
    * [[distributionEmd]]'s integral: KS spots a sharp localized
    * divergence (one spike bucket) that EMD smears thin, and it
    * carries a significance threshold. Statistic: D = max over the
    * value support of |F_group − F_corpus|; the critical value is
    * the asymptotic 95% two-sample bound 1.358·√((n_g+n)/(n_g·n)).
    * The comparison is group-vs-CORPUS (self-inclusive — standard
    * for per-slice monitoring, conservative: the group pulls the
    * corpus toward itself, so a flagged group is REALLY off).
    *
    * Exactness: cumulative counts are exact integers over the shared
    * support grid; each row's normalized gap is two exact-integer
    * divisions in double (IEEE-identical everywhere — the
    * cross-multiplied integer form would overflow int64 once
    * n_g·n > 9.2·10¹⁸, i.e. a 10⁴-row group in a 10⁹-row corpus),
    * quantized once to micro; ks_micro is the order-free max of
    * those per-row micro integers; the critical value is one fixed
    * double expression over (n_g, n), quantized to micro; `drifted`
    * compares the two micro integers.
    *
    * Scale: identical envelope to [[distributionEmd]] — the corpus
    * collapses to (group, value) histograms, the grid is
    * |groups|×|support|, per-group windows hash-partition on group.
    *
    * Output: (groupCol, n, ks_micro, crit_micro, drifted). */
  def ksAgainstCorpus(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("n_gv"))
      .transform(Materialize(_, "Profile.ksAgainstCorpus: group values"))
    val support = gv.groupBy(col("v")).agg(sum(col("n_gv")).as("n_v"))
      .withColumn("cum_c", sum(col("n_v")).over(
        Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
    val nTotal = gv.agg(sum(col("n_gv")).cast("bigint").as("__n"))
    val grid = gv.select(col("grp")).distinct()
      .join(broadcast(support))
      .join(gv, Seq("grp", "v"), "left")
      .withColumn("cum_g", sum(coalesce(col("n_gv"), lit(0L))).over(
        Window.partitionBy(col("grp")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val ng = gv.groupBy(col("grp")).agg(sum(col("n_gv")).cast("bigint").as("__ng"))
    grid.join(broadcast(ng), "grp").join(broadcast(nTotal))
      // the normalized gap quantizes to micro PER SUPPORT ROW in double
      // (two exact-integer divisions — IEEE-identical on any engine);
      // the earlier cross-multiplied integer form cum_g·n − cum_c·n_g
      // overflowed int64 once n_g·n_total > 9.2e18 (ADVICE r9). max over
      // the per-row micro longs is order-free.
      .withColumn("__gapm", expr(
        """CAST(round(abs(CAST(cum_g AS DOUBLE) / CAST(__ng AS DOUBLE)
          | - CAST(cum_c AS DOUBLE) / CAST(__n AS DOUBLE)) * 1000000.0D)
          | AS BIGINT)""".stripMargin))
      .groupBy(col("grp"))
      .agg(max(col("__ng")).as("n"),
        max(col("__gapm")).cast("bigint").as("__gap"),
        max(col("__n")).as("__nt"))
      .select(col("grp").as(groupCol), col("n"),
        col("__gap").as("ks_micro"),
        expr("""CAST(round(1.358 * sqrt((n + __nt) / (CAST(n AS DOUBLE) * __nt))
                * 1000000) AS BIGINT)""").as("crit_micro"))
      .withColumn("drifted", col("ks_micro") > col("crit_micro"))
      .orderBy(col(groupCol))
  }

  /** Hill tail-index estimate of a positive value column — HOW heavy
    * is the distribution's upper tail, the number that turns
    * [[keyConcentration]]'s "skew exists" into "skew of this order":
    * α ≈ 1 means a catastrophically heavy tail (plan for giant
    * outliers — salting, hot-key caps), α > 2 a tail tame enough for
    * mean-based sizing. Estimator: over the k largest values,
    * α̂⁻¹ = (1/k)·Σ ln(x_(i)/x_(k+1)) against the (k+1)-th order
    * statistic.
    *
    * Exactness: the top-(k+1) cut orders by (value desc, `idCol`
    * asc) — a total order, so the reference value x_(k+1) and the
    * retained set are engine-identical; each ln is quantized once
    * per retained row to micro-nats (exact integer ratio inputs),
    * the mean is one truncating division, and α̂ ships as
    * 10¹²/ᾱ⁻¹-micro — all integer.
    *
    * Scale: the only full-volume work is the bounded-heap top-(k+1)
    * (TakeOrderedAndProject, map-side heaps — never a global sort);
    * everything after runs on k+1 rows.
    *
    * Output: 1 row — (k, x_ref, alpha_inv_micro, alpha_micro). */
  def hillTailIndex(df: DataFrame, valueCol: String, idCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2, s"hillTailIndex: k must be >= 2, got $k")
    val top = df
      .select(col(valueCol).cast("long").as("__x"), col(idCol).as("__id"))
      .filter(col("__x") > 0)
      .orderBy(col("__x").desc, col("__id"))
      .limit(k + 1)
      // feeds the reference AND the retained set
      .transform(Materialize(_, "Profile.hillTailIndex: top"))
    val ref = top.agg(min(col("__x")).as("__ref"))
    top.join(broadcast(ref))
      // drop ONE row holding the reference value (the (k+1)-th order
      // statistic itself) — by (value, id) order the dropped row is
      // deterministic: the last retained row
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__x").desc, col("__id"))))
      .filter(col("__rn") <= k)
      .select(col("__x"), col("__ref"),
        round(round(log(col("__x").cast("double") /
          col("__ref").cast("double")), 6) * lit(1000000.0)).cast("long")
          .as("__lp"))
      .agg(count(lit(1)).cast("bigint").as("k"),
        max(col("__ref")).as("x_ref"),
        expr("sum(__lp) div count(1)").as("alpha_inv_micro"))
      .withColumn("alpha_micro",
        when(col("alpha_inv_micro") > 0,
          expr("1000000000000L div alpha_inv_micro")))
  }

  /** Per-group ROC AUC of a score against a binary label, computed as
    * the exact Mann–Whitney U statistic with midrank tie handling —
    * the single-number discrimination read next to x128's per-decile
    * calibration table: AUC = P(score⁺ > score⁻) + ½·P(tie), i.e. how
    * well the score SEPARATES the classes regardless of threshold.
    *
    * Integer-exact throughout: the corpus collapses to a per-(group,
    * value) histogram (n_v rows, p_v positives); the midrank of a tie
    * group doubles to the integer 2·r̄_v = 2·cum_before_v + n_v + 1, so
    * 2U = Σ_v p_v·(2·cum_before_v + n_v + 1) − n₊(n₊+1) is exact
    * BIGINT algebra, and auc_micro = 2U·10⁶ div (2·n₊·n₋) is one
    * floor division at the end. No doubles are ever compared or
    * accumulated — ranking happens on the raw score values themselves
    * (callers should pass exact-operand scores like qualityScoreRaw,
    * whose doubles are bit-identical cross-engine). Groups with a
    * single class carry no ranking information and are dropped.
    *
    * Scale: the only window runs over the per-group DISTINCT-VALUE
    * frame (score cardinality, not row cardinality) partitioned by
    * group — the event volume is collapsed by one partial+final hash
    * aggregation first, so a 100 TB corpus ranks via its value
    * histogram, never a global per-row sort. That collapse is only a
    * collapse while distinct (group, score) pairs ≪ rows, so the same
    * histogram-collapse envelope as [[Rank.withExactNtileBy]] is
    * ENFORCED in-plan: past `maxDistinct` (default
    * [[Rank.DefaultMaxDistinct]]) the plan `raise_error`s with a
    * quantize-first instruction instead of silently degrading to a
    * whole-group single-task sort. Callers feeding continuous scores
    * must quantize to a bounded grid first (qualityScore's 6-dp grid:
    * codomain ≤ 1e6+1 values).
    *
    * Output: (groupCol, n_pos, n_neg, auc_micro), ordered by group. */
  def rankAuc(df: DataFrame, scoreCol: String, labelCol: String,
      groupCol: String,
      maxDistinct: Long = Rank.DefaultMaxDistinct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinct >= 1,
      s"rankAuc: maxDistinct must be positive, got $maxDistinct")
    // checkpointed: feeds BOTH the guard aggregate and the ranking
    // window — one upstream execution, and the guard never re-runs the
    // caller's (possibly expensive) labeling joins
    val hist = df.select(col(groupCol).as("grp"), col(scoreCol).as("v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("pos"))
      .groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("n_v"), sum(col("pos")).cast("bigint").as("p_v"))
      .transform(Materialize(_, "Profile.rankAuc: hist"))
    // one-row broadcast guard threaded through the HISTOGRAM rows
    // (pre-window), not the emitted rows: an input whose groups are
    // all single-label produces zero output rows after the
    // n_pos/n_neg filter, so a guard riding only the output would
    // never fire (ADVICE r13) — while the oversized ranking window
    // still executed. Joined onto hist itself, the guard gates the
    // window's input: every histogram row adds the (zero) guard
    // value, so no row reaches the window past the envelope,
    // whatever the output cardinality.
    val guard = hist.agg(count(lit(1)).cast("long").as("__auc_card"))
      .select(
        when(col("__auc_card") > maxDistinct,
          raise_error(concat(lit("rankAuc: "),
            col("__auc_card").cast("string"),
            lit(s" distinct (group, score) pairs exceed the " +
              s"histogram-collapse envelope ($maxDistinct) — the rank " +
              "histogram would approach row cardinality; quantize the " +
              "score column first"))).cast("long"))
        .otherwise(lit(0L)).as("__auc_guard"))
    val guarded = hist.crossJoin(broadcast(guard))
      .select(col("grp"), col("v"),
        (col("n_v") + col("__auc_guard")).as("n_v"), col("p_v"))
    val wBefore = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    guarded
      .withColumn("__cb", coalesce(sum(col("n_v")).over(wBefore), lit(0L)))
      .groupBy(col("grp"))
      .agg(
        sum(col("p_v")).cast("bigint").as("n_pos"),
        sum(col("n_v") - col("p_v")).cast("bigint").as("n_neg"),
        sum(col("p_v") * (lit(2L) * col("__cb") + col("n_v") + 1))
          .cast("bigint").as("__r2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("grp").as(groupCol), col("n_pos"), col("n_neg"),
        expr("(__r2 - n_pos * (n_pos + 1)) * 1000000L div (2 * n_pos * n_neg)")
          .as("auc_micro"))
      .orderBy(col(groupCol))
  }

  /** l-diversity profile over a quasi-identifier tuple — the SENSITIVE-
    * attribute complement of [[kAnonymityAudit]]: where that audit
    * surfaces only the sub-k cells (size-based re-identification),
    * this emits the COMPLETE equivalence-class profile with the read
    * k-anonymity cannot give — a class that is large enough but
    * UNIFORM in the sensitive attribute (distinct sensitive values
    * < l) still leaks it to anyone who can place a member in the
    * class (homogeneity attack). One row per class with both
    * verdicts, so the caller can suppress or generalize exactly the
    * failing classes; the sensitive column is deliberately NOT a
    * quasi-identifier here (it moves sides of the attack model).
    *
    * Scale: ONE partial+final hash aggregation over the QI tuple
    * (count + count distinct); no window, no join. Cross-engine: the
    * single-argument count distinct skips nulls identically in both
    * engines (the multi-arg trap does not apply).
    *
    * Output: (qiCols…, n, l_div, k_anonymous, l_diverse), ordered by
    * the QI columns. */
  def lDiversityProfile(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long = 5L, l: Long = 2L): DataFrame = {
    require(qiCols.nonEmpty,
      "lDiversityProfile: need quasi-identifier columns")
    require(k >= 1 && l >= 1,
      s"lDiversityProfile: k and l must be >= 1, got $k, $l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).cast("bigint").as("n"),
        countDistinct(col(sensitiveCol)).cast("bigint").as("l_div"))
      .withColumn("k_anonymous", col("n") >= k)
      .withColumn("l_diverse", col("l_div") >= l)
      .orderBy(qiCols.map(col): _*)
  }

  /** Exact per-group discrete percentiles over the VALUE HISTOGRAM —
    * the scale-correct form of `percentile_disc(...) WITHIN GROUP`
    * for integral columns: where [[sampledQuantiles]] trades exactness
    * for a sample and a naive per-group sort funnels each group
    * through one task, this collapses the corpus to the per-(group,
    * value) histogram first (cardinality = the value codomain) and
    * reads each percentile as the smallest value whose cumulative
    * count reaches ⌈p·n/100⌉ — exactly percentile_disc's rank rule,
    * derived from integer comparisons only (p·n ≤ 100·cum avoids the
    * ceil entirely). Integer percents in (0, 100] keep the quantile
    * keys engine-exact.
    *
    * The histogram collapse carries the same ENFORCED envelope as
    * [[rankAuc]]/[[graft.operators.Rank.withExactNtile]]: past
    * `maxDistinct` distinct (group, value) pairs the plan
    * `raise_error`s with a quantize-first instruction instead of
    * silently degrading the per-group cumulative window toward a
    * whole-group single-task sort.
    *
    * Output: (groupCol, n, p<p1>, p<p2>, …) with one BIGINT column
    * per requested percent, ordered by group; a group smaller than
    * every rank still reports (min rank is 1). Null values are
    * excluded (they carry no rank), mirrored by the oracle. */
  def exactQuantilesByGroup(df: DataFrame, valueCol: String,
      groupCol: String, percents: Seq[Int],
      maxDistinct: Long = Rank.DefaultMaxDistinct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"exactQuantilesByGroup: percents must be in [1, 100], got $percents")
    require(percents.distinct.size == percents.size,
      s"exactQuantilesByGroup: duplicate percents in $percents")
    require(maxDistinct >= 1,
      s"exactQuantilesByGroup: maxDistinct must be positive")
    val hist = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).cast("bigint").as("n_v"))
      // feeds the guard, totals, and the window
      .transform(Materialize(_, "Profile.exactQuantilesByGroup: hist"))
    val guard = hist.agg(count(lit(1)).cast("long").as("__qq_card"))
      .select(
        when(col("__qq_card") > maxDistinct,
          raise_error(concat(lit("exactQuantilesByGroup: "),
            col("__qq_card").cast("string"),
            lit(s" distinct (group, value) pairs exceed the " +
              s"histogram-collapse envelope ($maxDistinct) — quantize " +
              "the value column first"))).cast("long"))
        .otherwise(lit(0L)).as("__qq_guard"))
    val tot = hist.groupBy(col("grp"))
      .agg(sum(col("n_v")).cast("bigint").as("__n"))
    val wv = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum(col("n_v")).over(wv))
    val pArr = array(percents.map(p => lit(p.toLong)): _*)
    val qs = cum.join(tot, "grp")
      .select(col("grp"), col("v"), col("__cum"), col("__n"),
        explode(pArr).as("__p"))
      // smallest v with cum ≥ ceil(p·n/100) ⟺ p·n ≤ 100·cum
      .filter(col("__p") * col("__n") <= lit(100L) * col("__cum"))
      .groupBy(col("grp"), col("__p"))
      .agg(min(col("v")).as("__q"))
    val aggs = percents.map(p =>
      max(when(col("__p") === p.toLong, col("__q"))).as(s"p$p"))
    qs.groupBy(col("grp"))
      .agg(aggs.head, aggs.tail: _*)
      .join(tot, "grp")
      .crossJoin(broadcast(guard))
      .select((col("grp").as(groupCol) +: (col("__n") + col("__qq_guard"))
        .as("n") +: percents.map(p => col(s"p$p"))): _*)
      .orderBy(col(groupCol))
  }

  /** Bounded-contribution CAPPING CURVE — the DP-prep / abuse-control
    * read: before a pipeline clips each (user, day) to at most k
    * events (the standard sensitivity bound for user-level privacy
    * accounting and for rate-limit design), this audits what each
    * candidate cap would cost: how many (user, day) contribution
    * units exceed it and what share of total events clipping would
    * discard. The knee of this curve IS the cap choice.
    *
    * Scale: one hash aggregation to (user, day) counts, an explode
    * over the ≤ dozens-of-caps literal array, one partial+final
    * re-aggregation per cap — no windows, no joins beyond the 1-row
    * total broadcast.
    *
    * Output per cap: (cap, n_units, n_units_clipped, events_lost,
    * loss_micro = lost·10⁶ div total_events), ordered by cap. */
  def contributionCapping(events: DataFrame, caps: Seq[Int],
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(caps.nonEmpty && caps.forall(_ >= 1),
      s"contributionCapping: caps must be positive, got $caps")
    require(caps.distinct.size == caps.size,
      s"contributionCapping: duplicate caps in $caps")
    val units = events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .groupBy(col("__u"), col("__d"))
      .agg(count(lit(1)).cast("bigint").as("__c"))
      // feeds the total AND every cap row
      .transform(Materialize(_, "Profile.contributionCapping: units"))
    val tot = units.agg(coalesce(sum(col("__c")), lit(0L))
      .cast("bigint").as("__tot"))
    val capArr = array(caps.sorted.map(k => lit(k.toLong)): _*)
    units
      .select(col("__c"), explode(capArr).as("cap"))
      .groupBy(col("cap"))
      .agg(count(lit(1)).cast("bigint").as("n_units"),
        sum(when(col("__c") > col("cap"), 1L).otherwise(0L))
          .cast("bigint").as("n_units_clipped"),
        sum(greatest(col("__c") - col("cap"), lit(0L)))
          .cast("bigint").as("events_lost"))
      .crossJoin(broadcast(tot))
      .filter(col("__tot") > 0)
      .select(col("cap"), col("n_units"), col("n_units_clipped"),
        col("events_lost"),
        expr("events_lost * 1000000L div __tot").as("loss_micro"))
      .orderBy(col("cap"))
  }

  /** Exact PARETO/Lorenz curve points — what share of total value the
    * top p% of keys hold, for each requested percent: the "80/20"
    * read that turns [[giniByGroup]]'s single inequality number into
    * the actionable cut points (cap the top 1%? sample the bottom
    * half?). Top-p% rule, integer-exact: order the per-key value
    * histogram DESCENDING; the cut is the smallest descending-
    * cumulative key count reaching ⌈p·n/100⌉ (the percentile_disc
    * comparison p·n ≤ 100·cum — [[exactQuantilesByGroup]]'s rule,
    * inverted), with VALUE TIES AT THE CUT INCLUDED (deterministic:
    * membership depends only on a key's value, never input order).
    *
    * Scale: one keyed aggregation to (key, value) totals, a value-
    * histogram collapse, one bounded descending cumulative window
    * over the histogram (distinct VALUES, not keys), one row per
    * requested percent. Totals in DECIMAL(38,0).
    *
    * Output per percent: (pct, n_top_keys, top_value,
    * value_share_micro = top_value·10⁶ div total_value), ordered by
    * pct; emits nothing when total value ≤ 0 (share undefined). */
  def valuePareto(df: DataFrame, keyCol: String, valueCol: String,
      pcts: Seq[Int], maxDistinct: Long = Rank.DefaultMaxDistinct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"valuePareto: pcts must be in [1, 100], got $pcts")
    require(pcts.distinct.size == pcts.size,
      s"valuePareto: duplicate pcts in $pcts")
    require(maxDistinct >= 1, "valuePareto: maxDistinct must be positive")
    val dec = "decimal(38,0)"
    val perKey = df
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"))
      .groupBy(col("__k")).agg(sum(col("__v")).cast("bigint").as("__kv"))
    val hist0 = perKey.groupBy(col("__kv"))
      .agg(count(lit(1)).cast("bigint").as("__c"))
      .transform(Materialize(_, "Profile.valuePareto: hist"))
    // the descending cumulative is a SINGLE-PARTITION window over the
    // distinct per-key totals — enforce the histogram-collapse
    // envelope pre-window (the rankAuc lesson), refusing loudly
    // instead of degrading toward a whole-corpus one-task sort
    val guard = hist0.agg(count(lit(1)).cast("long").as("__vp_card"))
      .select(
        when(col("__vp_card") > maxDistinct,
          raise_error(concat(lit("valuePareto: "),
            col("__vp_card").cast("string"),
            lit(s" distinct per-key totals exceed the histogram-collapse " +
              s"envelope ($maxDistinct) — quantize the value column first")))
            .cast("long"))
        .otherwise(lit(0L)).as("__vp_guard"))
    val hist = hist0.crossJoin(broadcast(guard))
      .select(col("__kv"), (col("__c") + col("__vp_guard")).as("__c"))
    val tot = hist.agg(sum(col("__c")).cast("bigint").as("__n"),
      coalesce(sum(col("__kv").cast(dec) * col("__c").cast(dec)),
        lit(0).cast(dec)).as("__tv"))
    val wd = Window.orderBy(col("__kv").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cu", sum(col("__c")).over(wd))
      .withColumn("__cv", sum(col("__kv").cast(dec) * col("__c").cast(dec))
        .over(wd))
    val pArr = array(pcts.sorted.map(p => lit(p.toLong)): _*)
    cum.crossJoin(broadcast(tot))
      .filter(col("__tv") > 0)
      .select(col("__kv"), col("__cu"), col("__cv"), col("__n"), col("__tv"),
        explode(pArr).as("pct"))
      // smallest desc-cumulative count reaching ceil(p·n/100)
      .filter(col("pct") * col("__n") <= lit(100L) * col("__cu"))
      .groupBy(col("pct"))
      .agg(max(col("__kv")).as("__cut"))
      .join(cum.select(col("__kv").as("__cut"), col("__cu"), col("__cv")),
        "__cut")
      .crossJoin(broadcast(tot))
      .select(col("pct"), col("__cu").as("n_top_keys"),
        col("__cv").cast("bigint").as("top_value"),
        expr("(__cv * CAST(1000000 AS DECIMAL(38,0))) div __tv")
          .as("value_share_micro"))
      .orderBy(col("pct"))
  }

  /** Exact per-group GINI concentration over the value histogram —
    * the Lorenz-curve inequality read (how concentrated are tokens /
    * bytes / events across a group's documents) beside
    * [[keyConcentration]]'s top-k share and x110's Simpson diversity.
    * Identity used: with the group's n values sorted ascending and
    * 1-based instance ranks i, G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx).
    * A run of c instances of value v after cb earlier instances
    * occupies ranks cb+1..cb+c, so Σᵢ i·xᵢ collapses per histogram
    * cell to v·(c·cb + c(c+1)/2) — the whole statistic reads off the
    * per-(group, value) histogram with ONE bounded cumulative window,
    * never a per-group sort of row data.
    *
    * Exactness: rank sums compute in DECIMAL(38,0) (they reach
    * value·n² — past BIGINT for billion-row groups; the ADVICE-r13
    * house pattern), quantized ONCE to gini_micro = floor(num·10⁶ /
    * (n·T)) ≤ 10⁶. The histogram collapse carries the same ENFORCED
    * envelope as [[exactQuantilesByGroup]] (raise_error past
    * `maxDistinct` distinct (group, value) pairs, threaded through
    * the histogram PRE-window — the rankAuc lesson), and the guard
    * also fails loudly on NEGATIVE values, for which the Lorenz
    * interpretation is undefined — silently filtering them would
    * misreport concentration.
    *
    * Output: (groupCol, n, total, gini_micro), groups with total = 0
    * are excluded (G undefined), ordered by group. */
  def giniByGroup(df: DataFrame, valueCol: String, groupCol: String,
      maxDistinct: Long = Rank.DefaultMaxDistinct): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinct >= 1, "giniByGroup: maxDistinct must be positive")
    val hist = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
      .groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).cast("bigint").as("n_v"))
      .transform(Materialize(_, "Profile.giniByGroup: hist")) // feeds the guard and the window
    val guard = hist
      .agg(count(lit(1)).cast("long").as("__gc_card"),
        min(col("v")).as("__gc_min"))
      .select(
        when(col("__gc_card") > maxDistinct,
          raise_error(concat(lit("giniByGroup: "),
            col("__gc_card").cast("string"),
            lit(s" distinct (group, value) pairs exceed the " +
              s"histogram-collapse envelope ($maxDistinct) — quantize " +
              "the value column first"))).cast("long"))
        .when(col("__gc_min") < 0L,
          raise_error(concat(lit("giniByGroup: negative value "),
            col("__gc_min").cast("string"),
            lit(" — Gini is undefined for negative values"))).cast("long"))
        .otherwise(lit(0L)).as("__gc_guard"))
    // guard threaded through the histogram PRE-window: even a group
    // set whose output would be empty must hit the envelope
    val guarded = hist.crossJoin(broadcast(guard))
      .select(col("grp"), col("v"),
        (col("n_v") + col("__gc_guard")).as("n_v"))
    val wv = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    guarded
      .withColumn("__cb", coalesce(sum(col("n_v")).over(wv), lit(0L)))
      .groupBy(col("grp"))
      .agg(
        sum(col("n_v")).cast("bigint").as("n"),
        sum(col("v").cast("decimal(38,0)") * col("n_v").cast("decimal(38,0)"))
          .as("__t"),
        // 2·Σᵢ i·xᵢ = Σ v·c·(2·cb + c + 1) — division-free (c(c+1)
        // is even, so doubling the identity removes the /2 and keeps
        // every intermediate an exact decimal integer)
        sum(col("v").cast("decimal(38,0)") * col("n_v").cast("decimal(38,0)") *
            (lit(2).cast("decimal(38,0)") * col("__cb").cast("decimal(38,0)")
              + col("n_v").cast("decimal(38,0)")
              + lit(1).cast("decimal(38,0)")))
          .as("__s2"))
      .filter(col("__t") > 0)
      .select(col("grp").as(groupCol), col("n"),
        col("__t").cast("bigint").as("total"),
        floor((col("__s2") - (col("n") + 1L).cast("decimal(38,0)") * col("__t")) *
            lit(1000000).cast("decimal(38,0)") /
            (col("n").cast("decimal(38,0)") * col("__t")))
          .cast("bigint").as("gini_micro"))
      .orderBy(col(groupCol))
  }

  /** Split-conformal coverage audit — the distribution-free
    * calibration check (Vovk et al.; Angelopoulos & Bates 2022) for
    * any per-row score the pipeline filters on: predict each row's
    * value by its GROUP's calibration median, take the calibration
    * nonconformity r = |y − median|, and for each miscoverage level
    * α = pct/100 the conformal threshold is the ⌈(n+1)(1−α)⌉-th
    * smallest calibration residual — then the EVAL half's share of
    * residuals within that threshold should read ≥ 1−α if the score
    * is exchangeable between the halves. A coverage reading far below
    * target means the score drifts between the halves and every
    * quantile-derived filter cut (x113's bins, x144's sweeps) is
    * mis-calibrated. The calibration/eval split is a CALLER-supplied
    * boolean column (`calCol`): exchangeability is the caller's
    * contract, and the deterministic rendering (x235 uses the house
    * md5-60 bucket parity — id arithmetic correlates with source in
    * the fixtures, a hash does not) lives at the query. Groups
    * with NO calibration rows cannot be scored and their eval rows
    * are excluded (inner join to the median frame).
    *
    * Exactness: medians and thresholds are exact order statistics
    * selected off value HISTOGRAMS (the x219 cumulative idiom) —
    * lower median at rank ⌈n/2⌉, threshold at rank
    * ⌈(n+1)(100−pct)/100⌉ (null = +∞ when the rank exceeds n, which
    * covers everything); counts exact BIGINT; the coverage share is
    * one truncating DECIMAL(38,0) micro division.
    *
    * Scale: per-group medians are histogram-collapsed partial+final
    * aggs with a per-group cumulative window; the residual spine is a
    * GLOBAL histogram (distinct residual values, not rows) whose
    * single-partition cumulative window is bounded by distinct-value
    * cardinality and fenced by the loud `maxDistinct` envelope — the
    * x113 boundary-spine discipline; eval rows
    * collapse to a residual histogram BEFORE meeting the pct grid, so
    * the tiny threshold frame never multiplies row volume.
    *
    * Output: (pct, target_micro, n_cal, threshold, n_eval, n_covered,
    * coverage_micro), ordered by pct; a level whose eval side is
    * empty emits nothing. */
  def conformalCoverage(rows: DataFrame, calCol: String = "is_cal",
      groupCol: String = "source", valueCol: String = "value",
      pcts: Seq[Int] = Seq(1, 5, 10, 20),
      maxDistinct: Long = Rank.DefaultMaxDistinct): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 99),
      s"conformalCoverage: pcts must be in [1, 99], got $pcts")
    require(pcts.distinct == pcts, "conformalCoverage: duplicate pcts")
    require(maxDistinct >= 1, "conformalCoverage: maxDistinct must be positive")
    import org.apache.spark.sql.expressions.Window
    val base = rows.select(col(calCol).cast("boolean").as("__cal"),
        col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__y"))
      .filter(col("__cal").isNotNull && col("__g").isNotNull &&
        col("__y").isNotNull)
    val cal = base.filter(col("__cal"))
    // lower median per group off the value histogram
    val wg = Window.partitionBy(col("__g")).orderBy(col("__y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = cal.groupBy(col("__g"), col("__y"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wg))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col("__g"))))
      .filter(expr("__cum >= (__n + 1) div 2"))
      .groupBy(col("__g")).agg(min(col("__y")).as("__med"))
      // feeds both halves' residuals
      .transform(Materialize(_, "Profile.conformalCoverage: med"))
    val calR = cal.join(med, Seq("__g"))
      .select(abs(col("__y") - col("__med")).as("__r"))
    val rc0 = calR.groupBy(col("__r")).agg(count(lit(1)).as("__c"))
      // feeds the guard AND the spine
      .transform(Materialize(_, "Profile.conformalCoverage: rc0"))
    // the global residual cumulative is a SINGLE-PARTITION window over
    // DISTINCT residuals — enforce the histogram-collapse envelope
    // pre-window (the valuePareto/rankAuc discipline)
    val guard = rc0.agg(count(lit(1)).cast("long").as("__cc_card"))
      .select(
        when(col("__cc_card") > maxDistinct,
          raise_error(concat(lit("conformalCoverage: "),
            col("__cc_card").cast("string"),
            lit(s" distinct residuals exceed the histogram-collapse " +
              s"envelope ($maxDistinct) — quantize the value column first")))
            .cast("long"))
        .otherwise(lit(0L)).as("__cc_guard"))
    val rcum = rc0.crossJoin(broadcast(guard))
      .select(col("__r"), (col("__c") + col("__cc_guard")).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(Window.orderBy(col("__r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // spine feeds n_cal and every pct's rank
      .transform(Materialize(_, "Profile.conformalCoverage: rcum"))
    val nCal = rcum.agg(coalesce(max(col("__cum")), lit(0L))
      .cast("bigint").as("n_cal"))
    val grid = nCal.select(col("n_cal"), explode(array(pcts.map(p =>
        lit(p).cast("bigint")): _*)).as("pct"))
      .select(col("pct"), col("n_cal"),
        expr("((n_cal + 1) * (100 - pct) + 99) div 100").as("__k"))
    val thr = grid.join(rcum, col("__cum") >= col("__k"), "left")
      .groupBy(col("pct"), col("n_cal"))
      .agg(min(col("__r")).as("threshold"))
    val ehist = base.filter(!col("__cal"))
      .join(med, Seq("__g"))
      .select(abs(col("__y") - col("__med")).as("__r"))
      .groupBy(col("__r")).agg(count(lit(1)).as("__c"))
    ehist.crossJoin(broadcast(thr))
      .groupBy(col("pct"), col("n_cal"), col("threshold"))
      .agg(sum(col("__c")).cast("bigint").as("n_eval"),
        sum(when(col("threshold").isNull || col("__r") <= col("threshold"),
          col("__c")).otherwise(lit(0L))).cast("bigint").as("n_covered"))
      .filter(col("n_eval") > 0)
      .select(col("pct"),
        ((lit(100L) - col("pct")) * lit(10000L)).as("target_micro"),
        col("n_cal"), col("threshold"), col("n_eval"), col("n_covered"),
        expr("(CAST(n_covered AS DECIMAL(38,0)) * 1000000) div n_eval")
          .cast("bigint").as("coverage_micro"))
      .orderBy(col("pct"))
  }

  /** Raking (iterative proportional fitting, Deming & Stephan 1940)
    * weights over a two-way cell table — the corpus-reweighting
    * operator: given the observed (row × column) cell counts (lang ×
    * source, domain × time-bucket, …), fit one multiplicative weight
    * per cell so the WEIGHTED row and column margins both approach
    * UNIFORM targets. This is how a skewed crawl is rebalanced for
    * training without dropping data (x44 resamples by temperature;
    * raking reweights to exact margin targets), and it is the
    * textbook survey-calibration algorithm.
    *
    * Exactness — the x230 integer-iteration idiom: weights are
    * integer micro (start 10⁶, floored at 1 so a truncated-to-zero
    * cell can never zero a margin); each half-iteration computes the
    * margin's current mass Σ n·w in DECIMAL(38,0), the margin scale
    * as (target·10⁶) div mass, and the new weight as (w·scale) div
    * 10⁶ — every division a truncating div, the identical truncation
    * tree in both engines. The fit is the exact-arithmetic REPLAY
    * contract: both engines compute the same integers, converging
    * like the double iteration for any all-cells-positive table.
    *
    * Scale: the corpus collapses to one row per (row, column) CELL in
    * a single partial+final hash agg; every iteration joins the cell
    * frame against BROADCAST margin frames (row/column cardinality)
    * and localCheckpoints (the x212 fixpoint pattern). Nothing after
    * the first agg touches row volume; no global windows.
    *
    * Output per cell: (rowCol, colCol, n_docs, weight_micro,
    * mass_share_micro = n·w·10⁶ div Σ n·w), ordered by (rowCol,
    * colCol). The weighted-margin residual is left to the caller —
    * re-aggregate mass by either margin to audit convergence. */
  def rakingWeights(df: DataFrame, rowCol: String = "lang",
      colCol: String = "source", iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 32,
      s"rakingWeights: iterations must be in [1, 32], got $iterations")
    val dec = "decimal(38,0)"
    val cells = df
      .select(col(rowCol).cast("string").as("__r"),
        col(colCol).cast("string").as("__c"))
      .filter(col("__r").isNotNull && col("__c").isNotNull)
      .groupBy(col("__r"), col("__c"))
      .agg(count(lit(1)).cast("bigint").as("__n"))
      // feeds the targets and every iteration
      .transform(Materialize(_, "Profile.rakingWeights: cells"))
    val targets = cells.agg(
        sum(col("__n")).cast(dec).as("__tot"),
        count_distinct(col("__r")).cast(dec).as("__nr"),
        count_distinct(col("__c")).cast(dec).as("__nc"))
      .select(
        expr("(__tot * CAST(1000000 AS DECIMAL(38,0))) div __nr")
          .as("__tr"),
        expr("(__tot * CAST(1000000 AS DECIMAL(38,0))) div __nc")
          .as("__tc"))
      .transform(Materialize(_, "Profile.rakingWeights: targets"))
    val fitted = Materialize.rounds(cells.select(col("__r"), col("__c"), col("__n"),
        lit(1000000L).cast(dec).as("__w")), iterations,
        "Profile.rakingWeights: round") { (w, _) =>
      val rowScale = w
        .groupBy(col("__r"))
        .agg(sum(col("__n").cast(dec) * col("__w")).as("__m"))
        .crossJoin(broadcast(targets))
        .select(col("__r"),
          expr("(__tr * CAST(1000000 AS DECIMAL(38,0))) div __m")
            .as("__sr"))
      val afterRow = w.join(broadcast(rowScale), Seq("__r"))
        .select(col("__r"), col("__c"), col("__n"),
          greatest(expr("(__w * __sr) div 1000000"), lit(1).cast(dec))
            .as("__w"))
      val colScale = afterRow
        .groupBy(col("__c"))
        .agg(sum(col("__n").cast(dec) * col("__w")).as("__m"))
        .crossJoin(broadcast(targets))
        .select(col("__c"),
          expr("(__tc * CAST(1000000 AS DECIMAL(38,0))) div __m")
            .as("__sc"))
      afterRow.join(broadcast(colScale), Seq("__c"))
        .select(col("__r"), col("__c"), col("__n"),
          greatest(expr("(__w * __sc) div 1000000"), lit(1).cast(dec))
            .as("__w"))
    }
    val totMass = fitted.agg(sum(col("__n").cast(dec) * col("__w")).as("__tm"))
    fitted.crossJoin(broadcast(totMass))
      .filter(col("__tm") > 0)
      .select(col("__r").as(rowCol), col("__c").as(colCol),
        col("__n").as("n_docs"),
        when(col("__w") > lit(Long.MaxValue).cast(dec),
          raise_error(concat(lit("rakingWeights: weight "),
            col("__w").cast("string"),
            lit(" exceeds the BIGINT output envelope"))).cast("bigint"))
          .otherwise(col("__w").cast("bigint")).as("weight_micro"),
        expr("(__n * __w * CAST(1000000 AS DECIMAL(38,0))) div __tm")
          .cast("bigint").as("mass_share_micro"))
      .orderBy(col(rowCol), col(colCol))
  }

  /** Fleiss' kappa — chance-corrected agreement for a PANEL of m
    * raters (Fleiss 1971), the multi-rater upgrade of
    * [[pairwiseKappa]]: where the pairwise matrix says which two
    * gates are redundant, the panel statistic says whether the whole
    * filter battery measures one construct at all. Subjects rated by
    * every rater enter; incomplete subjects are dropped (the
    * equal-m contract Fleiss requires) and reported.
    *
    * Exactness: P̄ = (Σᵢⱼ nᵢⱼ² − n·m) / (n·m·(m−1)) and
    * Pe = Σⱼ Cⱼ² / (n·m)² both quantize to micro by exact truncating
    * DECIMAL(38,0) division of exact BIGINT sums — no doubles
    * anywhere; kappa is then (p̄ − pe)·10⁶ div (10⁶ − pe) ON THE
    * MICRO VALUES (quantization at the statistic grain — the
    * documented fixed point both engines replay; avoids the 10³⁸
    * overflow a fully rational κ would hit at corpus scale). Kappa
    * is null when every rating lands in one category (Pe = 1 makes
    * agreement-beyond-chance undefined).
    *
    * Scale: one hash agg to (subject, label) cells, one to per-
    * subject totals (complete-case filter), two scalar aggregation
    * passes — partial+final throughout, no windows, no row-volume
    * joins (the rater count is a broadcast 1-row frame).
    *
    * Output (1 row; empty when no subject is complete):
    * (n_subjects, n_dropped_subjects, n_raters, n_categories,
    * pbar_micro, pe_micro, kappa_micro). */
  def fleissKappa(ratings: DataFrame, subjectCol: String = "doc_id",
      raterCol: String = "rater", labelCol: String = "label"): DataFrame = {
    val dec = "decimal(38,0)"
    val base = ratings.select(col(subjectCol).cast("string").as("__s"),
        col(raterCol).cast("string").as("__rt"),
        col(labelCol).cast("string").as("__lb"))
      .filter(col("__s").isNotNull && col("__rt").isNotNull &&
        col("__lb").isNotNull)
      // feeds m, completeness, and the cells
      .transform(Materialize(_, "Profile.fleissKappa: base"))
    val m = base.agg(count_distinct(col("__rt")).cast("bigint").as("__m"))
    // complete subjects: rated once by EVERY rater
    val perSubject = base.groupBy(col("__s"))
      .agg(count(lit(1)).cast("bigint").as("__cnt"),
        count_distinct(col("__rt")).cast("bigint").as("__nr"))
      .crossJoin(broadcast(m))
    val complete = perSubject
      .filter(col("__cnt") === col("__m") && col("__nr") === col("__m"))
      .select(col("__s"))
    val dropped = perSubject
      .filter(!(col("__cnt") === col("__m") && col("__nr") === col("__m")))
      .agg(count(lit(1)).cast("bigint").as("n_dropped_subjects"))
    val cells = base.join(complete, Seq("__s"), "left_semi")
      .groupBy(col("__s"), col("__lb"))
      .agg(count(lit(1)).cast("bigint").as("__nij"))
      // feeds S1, the margins, and the counts
      .transform(Materialize(_, "Profile.fleissKappa: cells"))
    val stats = cells.agg(
      count_distinct(col("__s")).cast("bigint").as("__n"),
      count_distinct(col("__lb")).cast("bigint").as("__k"),
      sum(col("__nij") * col("__nij")).cast(dec).as("__s1"))
    val margins = cells.groupBy(col("__lb"))
      .agg(sum(col("__nij")).cast(dec).as("__cj"))
      .agg(coalesce(sum(col("__cj") * col("__cj")), lit(0).cast(dec))
        .as("__c2"))
    stats.crossJoin(broadcast(margins)).crossJoin(broadcast(m))
      .filter(col("__n") > 0 && col("__m") >= 2)
      .select(col("__n").as("n_subjects"), col("__m").as("n_raters"),
        col("__k").as("n_categories"),
        expr("((__s1 - __n * __m) * CAST(1000000 AS DECIMAL(38,0))) div " +
          "(CAST(__n AS DECIMAL(38,0)) * __m * (__m - 1))")
          .cast("bigint").as("pbar_micro"),
        expr("(__c2 * CAST(1000000 AS DECIMAL(38,0))) div " +
          "(CAST(__n AS DECIMAL(38,0)) * __m * __n * __m)")
          .cast("bigint").as("pe_micro"),
        col("__c2"),
        expr("CAST(__n AS DECIMAL(38,0)) * __m * __n * __m").as("__d"))
      .crossJoin(broadcast(dropped))
      .select(col("n_subjects"), col("n_dropped_subjects"), col("n_raters"),
        col("n_categories"), col("pbar_micro"), col("pe_micro"),
        when(col("__c2") === col("__d"), lit(null).cast("long"))
          .otherwise(expr(
            "((pbar_micro - pe_micro) * 1000000L) div (1000000L - pe_micro)"))
          .as("kappa_micro"))
  }

  /** One-round Dawid-Skene rater quality + weighted consensus — the
    * crowd/filter-aggregation step after [[fleissKappa]] says the
    * panel carries signal: seed the truth with the per-subject
    * MAJORITY label (ties break to the smallest label), score each
    * rater's accuracy against it, convert to Laplace-smoothed
    * log-odds weights w = ln((agree+1)/(n−agree+1)) (the
    * Dawid & Skene 1979 E-step collapsed to one round, the standard
    * "weighted majority" estimator), and re-vote: each subject's
    * consensus label is the weight-sum argmax. `n_flipped_consensus`
    * — subjects where the weighted consensus overturns the raw
    * majority — is the value the weighting added (0 means majority
    * was already right everywhere the panel could know).
    *
    * Exactness: counts exact BIGINT; accuracy is one truncating
    * micro division; the ONLY transcendental (the log-odds) is one
    * replayed double expression quantized once per RATER
    * (rater-cardinality, never row volume), so the re-vote scores
    * are exact integer sums of integer micro weights with a
    * deterministic (score desc, label asc) argmax.
    *
    * Scale: vote counts and majority are partial+final hash aggs;
    * the re-vote joins the ratings against the BROADCAST rater-
    * weight frame; argmaxes are min(struct) aggregates — no windows,
    * no row-volume sorts.
    *
    * Output per rater (plus the shared flip count, the x235
    * repeated-column convention): (rater, n_ratings,
    * n_agree_majority, accuracy_micro, weight_micro,
    * n_flipped_consensus), ordered by rater. */
  def raterQuality(ratings: DataFrame, subjectCol: String = "doc_id",
      raterCol: String = "rater", labelCol: String = "label"): DataFrame = {
    val base = ratings.select(col(subjectCol).cast("string").as("__s"),
        col(raterCol).cast("string").as("__rt"),
        col(labelCol).cast("string").as("__lb"))
      .filter(col("__s").isNotNull && col("__rt").isNotNull &&
        col("__lb").isNotNull)
      // feeds votes, accuracies, and the re-vote
      .transform(Materialize(_, "Profile.raterQuality: base"))
    val votes = base.groupBy(col("__s"), col("__lb"))
      .agg(count(lit(1)).cast("long").as("__c"))
    val maj = votes.groupBy(col("__s"))
      .agg(min(struct((-col("__c")).as("nc"), col("__lb").as("lb"))).as("__m"))
      .select(col("__s"), col("__m.lb").as("__maj"))
      // feeds accuracies AND the flip audit
      .transform(Materialize(_, "Profile.raterQuality: maj"))
    val perRater = base.join(maj, Seq("__s"))
      .groupBy(col("__rt"))
      .agg(count(lit(1)).cast("bigint").as("n_ratings"),
        sum(when(col("__lb") === col("__maj"), 1L).otherwise(0L))
          .cast("bigint").as("n_agree_majority"))
      .select(col("__rt"), col("n_ratings"), col("n_agree_majority"),
        expr("(n_agree_majority * 1000000L) div n_ratings")
          .as("accuracy_micro"),
        round(round(log(
          (col("n_agree_majority").cast("double") + lit(1.0)) /
            ((col("n_ratings") - col("n_agree_majority")).cast("double") +
              lit(1.0))), 6) * lit(1000000.0)).cast("long")
          .as("weight_micro"))
      // feeds the re-vote broadcast and the output
      .transform(Materialize(_, "Profile.raterQuality: perRater"))
    val scores = base
      .join(broadcast(perRater.select(col("__rt"), col("weight_micro"))),
        Seq("__rt"))
      .groupBy(col("__s"), col("__lb"))
      .agg(sum(col("weight_micro")).cast("long").as("__sc"))
    val cons = scores.groupBy(col("__s"))
      .agg(min(struct((-col("__sc")).as("ns"), col("__lb").as("lb"))).as("__m"))
      .select(col("__s"), col("__m.lb").as("__cons"))
    val flips = cons.join(maj, Seq("__s"))
      .agg(sum(when(col("__cons") =!= col("__maj"), 1L).otherwise(0L))
        .cast("bigint").as("n_flipped_consensus"))
    perRater.crossJoin(broadcast(flips))
      .select(col("__rt").as("rater"), col("n_ratings"),
        col("n_agree_majority"), col("accuracy_micro"), col("weight_micro"),
        col("n_flipped_consensus"))
      .orderBy(col("rater"))
  }

  /** Stratified deterministic fixed-size sample — exactly `k` rows per
    * stratum (fewer when the stratum is smaller), selected by md5-60
    * hash rank of the key: the seeded, engine-portable eval-split /
    * debug-slice sampler (same family as [[sampledQuantiles]]' pct
    * gate, but SIZE-exact per stratum, which is what eval sets need).
    * Sampling rides the upper 52 hash bits (`md5-60 >> 8`) so the
    * rank score is EXACT in a double — the bounded-heap aggregator
    * ([[graft.functions.TopKScored]]) compares doubles, and 60-bit
    * ints do not round-trip a 53-bit mantissa; 52-bit ones do.
    *
    * Scale: one partial+final bounded-heap aggregation per stratum
    * (map-side combine, k-bounded state) — never a per-stratum sort,
    * never a global window; at 100 TB a window formulation would sort
    * every stratum to keep 25 rows.
    *
    * Output: (stratum, rank 1..k by hash asc, id, sample_hash52). */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 100000,
      s"stratifiedSample: k must be in [1, 100000], got $k")
    // Fail FAST on a non-integral key: cast("long") on e.g. 'doc-123'
    // silently yields null ids while the hash rank still computes — a
    // corrupted eval split that LOOKS well-formed. An explicit type
    // gate turns that silent corruption into a plan-time error.
    df.schema(keyCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"stratifiedSample: keyCol '$keyCol' must be an integral id " +
          s"column (sample rows carry it as LONG); got $other. Hash a " +
          "string key to a long first (e.g. md5Bucket60) so the emitted " +
          "id stays meaningful.")
    }
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKScored(k))
    df.select(col(stratumCol).as("stratum"),
        col(keyCol).cast("long").as("__id"),
        graft.functions.TextFunctions.md5Bucket60(col(keyCol)).as("__h0"))
      // integer div, NOT `/` (double division on bigints)
      .withColumn("__h", expr("__h0 div 256L"))
      .groupBy(col("stratum"))
      // score = -hash: the heap keeps the k SMALLEST hashes; ties
      // break on id asc inside the aggregator
      .agg(topk(col("__id"), -col("__h").cast("double")).as("__top"))
      .select(col("stratum"), posexplode(col("__top")))
      .select(col("stratum"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("id"),
        (-col("col.score")).cast("long").as("sample_hash52"))
  }

  /** Deterministic WEIGHTED sample without replacement — exactly `k`
    * rows per stratum, selected with probability proportional to a
    * positive weight column via the Efraimidis–Spirakis key
    * (Efraimidis & Spirakis 2006): rank by u^(1/w) descending, where
    * u is the row's hash-uniform. The quality-proportional curation
    * sampler ([[stratifiedSample]] is the UNIFORM special case): a
    * doc with twice the weight is twice as likely to survive, yet the
    * draw replays bit-identically on any engine — no RNG state.
    *
    * Determinism contract: u = (hash52 + 1) / 2^52 ∈ (0, 1] from the
    * key's md5-60 (upper 52 bits, double-exact); ln(u) is the ONE
    * transcendental, quantized to integer micro-nats per row
    * (`lnu_micro = round(ln(u)·10⁶)`); the selection key is then the
    * IEEE division `lnu_micro / w` of two exact integers — identical
    * on every engine, maximized ⇔ u^(1/w) maximized. Ties break on
    * key id asc inside the heap.
    *
    * Scale: same one partial+final bounded-heap aggregation per
    * stratum as [[stratifiedSample]] — never a per-stratum sort or
    * window. Rows with weight ≤ 0 or null are EXCLUDED (ES is
    * undefined there; a corrupt weight must not be able to win a
    * slot by division sign-flip).
    *
    * Output: (stratum, rank 1..k by key desc, id,
    * key_micro = round(10⁶·lnu_micro/w) — the selection key at micro
    * grain, ≤ 0, higher = more preferred). */
  def weightedSample(df: DataFrame, keyCol: String, stratumCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 100000,
      s"weightedSample: k must be in [1, 100000], got $k")
    df.schema(keyCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"weightedSample: keyCol '$keyCol' must be an integral id " +
          s"column; got $other")
    }
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKScored(k))
    df.select(col(stratumCol).as("stratum"),
        col(keyCol).cast("long").as("__id"),
        col(weightCol).cast("long").as("__w"),
        graft.functions.TextFunctions.md5Bucket60(col(keyCol)).as("__h0"))
      .filter(col("__w") > 0)
      .withColumn("__h", expr("__h0 div 256L"))
      // the one transcendental, quantized ONCE per row
      .withColumn("__lnu", round(log(
        (col("__h").cast("double") + lit(1.0)) / lit(4503599627370496.0))
        * lit(1000000.0)).cast("long"))
      .groupBy(col("stratum"))
      .agg(topk(col("__id"),
        col("__lnu").cast("double") / col("__w").cast("double")).as("__top"))
      .select(col("stratum"), posexplode(col("__top")))
      .select(col("stratum"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("id"),
        round(col("col.score") * lit(1000000.0)).cast("long")
          .as("key_micro"))
  }

  /** Effective sample size of a weighted draw, per stratum — the
    * audit that prices [[weightedSample]]'s skew: ESS = (Σw)²/Σw²
    * (Kish 1965). ESS/n = 1 means uniform weights (a weighted draw
    * buys nothing); ESS/n → 1/n means one row dominates and the
    * "sample" is really that row. The pre-flight read before
    * committing to weight-proportional curation.
    *
    * Exactness: Σw and Σw² accumulate in DECIMAL(38,0) — at corpus
    * scale (Σw)² overflows BIGINT long before the row count does
    * (10⁹ docs × 10⁴ chars → Σw ≈ 10¹³, squared ≈ 10²⁶), and decimal
    * keeps every product exact inside the stated envelope
    * (Σw ≤ 10¹⁶ per stratum keeps 10⁶·(Σw)² under 10³⁸); the micro
    * ratios are SQL `div` — integral decimal division, truncating,
    * identical on any engine (the dfCapAdvisor pattern). Rows with
    * w ≤ 0 are excluded, matching the sampler's gate.
    *
    * Output per stratum: (stratum, n, sum_w, ess_micro =
    * 10⁶·(Σw)²/Σw², ess_ratio_micro = 10⁶·ESS/n), ordered. */
  def effectiveSampleSize(df: DataFrame, stratumCol: String,
      weightCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df.select(col(stratumCol).as("stratum"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__w") > 0)
      .groupBy(col("stratum"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("__w").cast(dec)).as("__sw"),
        sum((col("__w").cast(dec)) * (col("__w").cast(dec))).as("__sw2"))
      .select(col("stratum"), col("n"),
        col("__sw").cast("bigint").as("sum_w"),
        expr(s"CAST((__sw * __sw * CAST(1000000 AS $dec)) div __sw2" +
          " AS BIGINT)").as("ess_micro"),
        expr(s"CAST((__sw * __sw * CAST(1000000 AS $dec)) div" +
          s" (__sw2 * CAST(n AS $dec)) AS BIGINT)").as("ess_ratio_micro"))
      .orderBy(col("stratum"))
  }
}
