package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators beyond Spark's built-ins (SURVEY §2.3 "not present in
  * reference" row: as-of, range, skew-handling — declared engine
  * surface). All three are compositions of built-ins, per the
  * preference order in SURVEY §2.7(a): no custom physical operator is
  * needed because the plan shapes below already co-locate by key and
  * avoid cross products.
  */
object Joins {

  /** Backward as-of join: for each left row, the single latest right
    * row with `rightTs` ≤ `leftTs` and matching key (inclusive on
    * equal timestamps). Nulls for left rows with no prior right row.
    *
    * Plan shape: tag → unionByName → window last(ignoreNulls) over one
    * (key, ts)-partitioned sort → filter left. ONE shuffle on the key
    * (both inputs partition together), no join node at all — the
    * sort-based formulation sorts within partitions only, so it
    * scales like a sort-merge join without the pairwise probe.
    *
    * Output: all left columns + right's non-key non-ts columns
    * (null when unmatched).
    */
  def asOfBackward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightTieBreak: Seq[String] = Nil): DataFrame =
    asOf(left, right, leftKey, rightKey, leftTs, rightTs, rightTieBreak,
      forward = false)

  /** Forward as-of join — the mirror of [[asOfBackward]]: for each
    * left row, the single EARLIEST right row with `rightTs` ≥ `leftTs`
    * and matching key (inclusive on equal timestamps). Nulls for left
    * rows with no subsequent right row. The "what happened next" probe:
    * first conversion after an impression, first error after a deploy,
    * next price tick after an order.
    *
    * Same plan shape and scale story as the backward form: tag →
    * unionByName → ONE (key, ts DESC)-partitioned running window →
    * filter left. One shuffle on the key, no join node, sorts are
    * within-partition only. Among equal-ts right rows the pick is the
    * FIRST by `rightTieBreak` ascending (deterministic total order
    * when the tie-break is unique). */
  def asOfForward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightTieBreak: Seq[String] = Nil): DataFrame =
    asOf(left, right, leftKey, rightKey, leftTs, rightTs, rightTieBreak,
      forward = true)

  /** The one as-of builder behind [[asOfBackward]] and [[asOfForward]];
    * they differ only in the traversal direction of `__ts` and of the
    * tie-break columns. */
  private def asOf(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      rightTieBreak: Seq[String], forward: Boolean): DataFrame = {
    val rightPayload = right.columns.filter(c => c != rightKey && c != rightTs).toSeq
    val l = left.select(
      col(leftKey).as("__k"), col(leftTs).as("__ts"), lit(1).as("__is_left"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__l"),
      lit(null).cast(right.select(rightPayload.map(col): _*).schema).as("__r"))
    val r = right.select(
      col(rightKey).as("__k"), col(rightTs).as("__ts"), lit(0).as("__is_left"),
      lit(null).cast(left.schema).as("__l"),
      struct(rightPayload.map(col): _*).as("__r"))
    // Backward: right rows sort before left rows at equal ts (__is_left
    // 0 < 1) → a right row AT the left timestamp is visible (inclusive
    // as-of). rightTieBreak columns make the pick among equal-ts right
    // rows deterministic (the LAST by the tie-break ordering wins); left
    // rows all carry null __r, so their relative order is immaterial.
    //
    // Forward: DESC time traversal, so later rows come first and the
    // running last(ignoreNulls) at a left row is the EARLIEST right row
    // at or after it. Right rows still sort before left at equal __ts
    // (→ inclusive), and equal-ts right rows traverse in DESCENDING
    // tie-break order so the last seen — the winner — is the smallest
    // tie-break value.
    def dir(c: Column): Column = if (forward) c.desc else c
    val w = Window.partitionBy(col("__k"))
      .orderBy(dir(col("__ts")) +: col("__is_left") +:
        rightTieBreak.map(c => dir(col(s"__r.$c"))): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
    val leftCols = left.columns.map(c => col(s"__l.$c").as(c)).toSeq
    val rightCols = rightPayload.map(c => col(s"__match.$c").as(c))
    matched.select(leftCols ++ rightCols: _*)
  }

  /** Salted equi-join for skewed keys: the left (large, skewed) side
    * gets a deterministic per-row salt in [0, saltFactor); the right
    * side is replicated saltFactor times; the join key becomes
    * (key, salt). A hot key's rows now spread over `saltFactor`
    * reducers instead of one. Results are exactly a plain inner
    * equi-join (verified by oracle in x18). Use when AQE's skew
    * splitting isn't available/enough; replication cost is
    * |right| × saltFactor, so keep the small side right. */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Blocked fuzzy (edit-distance) join — the entity-resolution
    * workhorse Spark has no operator for: left and right rows match
    * when their strings are within `maxDist` Levenshtein edits. The
    * naive form is a cartesian product; blocking makes it an EQUI-join
    * on a caller-chosen key (`block`: e.g. the last token, a phonetic
    * code, a length band) with the exact distance predicate applied
    * only within blocks. Recall is exactly the blocking function's
    * recall — pairs whose block keys differ are never compared, which
    * is the explicit, documented trade (same contract as the LSH
    * band joins in [[graft.operators.Dedup]]).
    *
    * Scale: shuffle on the block key, candidates bounded by
    * Σ|block|² — a hot block (every string blocking together) needs a
    * tighter key or the Dedup `maxBucketSize`-style cap; `levenshtein`
    * is codegen'd and runs only inside blocks.
    *
    * Output: all left columns + all right columns + `dist`. */
  def blockedFuzzyJoin(left: DataFrame, right: DataFrame,
      leftStr: String, rightStr: String, maxDist: Int,
      block: Column => Column): DataFrame = {
    require(maxDist >= 0, s"blockedFuzzyJoin: maxDist must be >= 0, got $maxDist")
    val l = left.withColumn("__blk", block(col(leftStr)))
    val r = right.withColumn("__blk", block(col(rightStr)))
    // THRESHOLD form of the built-in, not plain levenshtein(a, b):
    // every within-block pair pays this predicate, and the 3-arg
    // built-in early-exits on the |len| gap and the banded DP instead
    // of filling the full O(len²) matrix (it returns -1 beyond the
    // threshold — kept pairs carry the same exact distance, so the
    // output is value-identical to the 2-arg formulation;
    // property-pinned in JoinsSpec). A hand-rolled banded kernel
    // measured SLOWER here: the built-in works on UTF8String in
    // place, a custom expression pays a string materialization per
    // pair — composing the built-in is the right tier (SURVEY §2.7a).
    l.join(r, "__blk")
      .withColumn("dist",
        levenshtein(col(leftStr), col(rightStr), math.max(maxDist, 1)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .drop("__blk")
  }

  /** Binned range join: left points joined to right intervals
    * (`start` ≤ t < `end`) without an equi key. Both sides map their
    * time to `binSeconds`-wide buckets (intervals explode to every
    * bucket they overlap), the join becomes an equi-join on the
    * bucket, and the exact range predicate filters within buckets.
    * Replaces the O(n·m) broadcast-nested-loop Spark would otherwise
    * plan; replication factor = interval length / binSeconds, so pick
    * binSeconds near the typical interval length. A left point lies
    * in exactly one bucket, so no post-join dedup is needed. */
  def binnedRangeJoin(left: DataFrame, right: DataFrame,
      leftTime: String, rightStart: String, rightEnd: String,
      binSeconds: Long): DataFrame = {
    val lb = left.withColumn("__bin",
      floor(unix_timestamp(col(leftTime)) / binSeconds))
    val rb = right.withColumn("__bin", explode(sequence(
      floor(unix_timestamp(col(rightStart)) / binSeconds),
      floor(unix_timestamp(col(rightEnd)) / binSeconds))))
    lb.join(rb, Seq("__bin"))
      .filter(col(leftTime) >= col(rightStart) && col(leftTime) < col(rightEnd))
      .drop("__bin")
  }

  /** Binned interval×interval overlap join — the generalization of
    * [[binnedRangeJoin]] from points to intervals: both sides explode
    * to every `binSeconds` bucket they touch, the join becomes an
    * equi-join on the bucket, the exact half-open overlap predicate
    * (lStart < rEnd ∧ rStart < lEnd, length > 0) filters inside
    * buckets — and the CANONICAL-BUCKET rule keeps the output
    * duplicate-free with NO distinct: a pair may co-occur in many
    * buckets, but it is emitted only in the bucket containing
    * max(lStart, rStart) (the overlap's first instant — guaranteed to
    * be a bucket BOTH sides exploded to). A post-join dedup would
    * shuffle the entire match set; the canonical rule is a per-row
    * predicate.
    *
    * Replication factor = interval length / binSeconds (choose
    * binSeconds near the typical interval length, same guidance as
    * binnedRangeJoin). Overlap is computed in exact integer
    * MICROseconds. Output: all left + right columns +
    * `overlap_us`. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, binSeconds: Long): DataFrame = {
    require(binSeconds > 0,
      s"intervalOverlapJoin: binSeconds must be positive, got $binSeconds")
    val binUs = binSeconds * 1000000L
    // integer `div`, never Column `/` (double division truncated back
    // to long can land one bucket off at an exact boundary)
    def bin(c: String) = expr(s"unix_micros($c) div ${binUs}L")
    def us(c: String) = unix_micros(col(c))
    val lb = left.withColumn("__bin",
      explode(sequence(bin(leftStart), bin(leftEnd))))
    val rb = right.withColumn("__rbin",
      explode(sequence(bin(rightStart), bin(rightEnd))))
    lb.join(rb, col("__bin") === col("__rbin") &&
        col("__bin") === expr(
          s"greatest(unix_micros($leftStart), unix_micros($rightStart)) div ${binUs}L"))
      .withColumn("overlap_us",
        least(us(leftEnd), us(rightEnd)) - greatest(us(leftStart), us(rightStart)))
      .filter(col("overlap_us") > 0)
      .drop("__bin", "__rbin")
  }

  /** End-to-end entity resolution over a name column: blocked fuzzy
    * match ([[blockedFuzzyJoin]]) → transitive closure
    * ([[Dedup.connectedComponents]]) → one canonical entity per
    * component. The full "these strings are the same thing" pipeline —
    * pairwise matching alone is NOT resolution: A≈B and B≈C must land
    * A, C in one entity even when A and C are > maxDist apart, which
    * only the closure delivers.
    *
    * Canonical id is the component-minimum name (lexicographic) — a
    * pure function of the member set, so the entity id is stable under
    * re-runs and engine-portable. Singletons (no within-block match)
    * resolve to themselves; they pass through without touching the
    * iterative closure.
    *
    * Scale: the pair space is bounded by the blocking key (Σ|block|²,
    * never all-pairs — same envelope as the LSH dedups); the closure
    * is the bridge-released iterative CC; canonical assignment is one
    * aggregate + broadcast join. Output: (name, entity_id, n_members),
    * one row per distinct input name. */
  def entityResolution(names: DataFrame, strCol: String, maxDist: Int,
      block: Column => Column): DataFrame = {
    val distinctNames = names.select(col(strCol).as("name")).distinct()
    val edges = blockedFuzzyJoin(
        distinctNames.select(col("name").as("name_a")),
        distinctNames.select(col("name").as("name_b")),
        "name_a", "name_b", maxDist, block)
      .filter(col("name_a") < col("name_b"))
    val cc = Dedup.connectedComponents(edges, "name_a", "name_b")
      .select(col("doc_id").as("name"), col("cluster_id").as("entity_id"))
    val resolved = distinctNames.join(cc, Seq("name"), "left")
      .select(col("name"), coalesce(col("entity_id"), col("name")).as("entity_id"))
    val sizes = resolved.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"))
    resolved.join(broadcast(sizes), "entity_id")
      .select(col("name"), col("entity_id"), col("n_members"))
  }

  /** Rank-matched pairing across two cohorts: within each equi-depth
    * value bucket, the i-th smallest A-row pairs with the i-th
    * smallest B-row — the matched-control construction behind paired
    * evaluations (compare sources at EQUAL length, so a quality gap
    * isn't just a length gap). Unpaired surplus rows in the larger
    * cohort drop out via the inner join, by design.
    *
    * Determinism: the bucket is the exact equi-depth tile over the
    * cohort-blind total order (value, id) — [[Rank.withExactNtile]],
    * bit-identical to `ntile` but derived from the value histogram and
    * ≤ buckets−1 broadcast boundary pairs instead of a corpus-global
    * window — and the within-bucket rank orders by the same pair, so
    * every step replays identically in any engine.
    *
    * Scale: the only unpartitioned windows run over value HISTOGRAMS.
    * The within-(bucket, cohort) pair_rank is TWO-LEVEL (VERDICT r11
    * item 8): a naive `row_number` partitioned by (bucket, cohort)
    * still ranks n/buckets rows inside one task, so the rank
    * decomposes as subtile offset + local rank — each (bucket,
    * cohort) is first cut into `subtiles` exact equi-depth tiles over
    * the SAME (value, id) order ([[Rank.withExactNtileBy]] keyed by
    * the (bucket, cohort) struct), the row_number then partitions by
    * (bucket, cohort, subtile) so no task ranks more than
    * ≈ n/(buckets·subtiles) rows, and the global rank is recovered by
    * adding each subtile's exact row-count offset — derived in CLOSED
    * FORM from the (bucket, cohort) row counts alone (ntile's fill
    * rule fixes every tile size from n), a buckets×2×subtiles
    * broadcast frame that costs one tiny count aggregation. Tiles
    * partition the total order contiguously, so offset + local rank
    * IS the within-(bucket, cohort) row_number — bit-identical, the
    * oracle unchanged. `subtiles = 1` keeps the single-window form.
    *
    * Output: (bucket, pair_rank, id_a, val_a, id_b, val_b, gap). */
  def rankMatchedPairs(rows: DataFrame, idCol: String, valueCol: String,
      cohortCol: String, cohortA: String, cohortB: String,
      buckets: Int, subtiles: Int = 8): DataFrame = {
    require(buckets > 0, s"rankMatchedPairs: buckets must be positive, got $buckets")
    require(subtiles > 0, s"rankMatchedPairs: subtiles must be positive, got $subtiles")
    // null-valued rows cannot enter the (value, id) total order — the
    // cast itself can mint nulls (null input, or a non-numeric string)
    // and withExactNtile raise_errors on them by contract, so they are
    // dropped HERE, explicitly (mirrored by the oracle's IS NOT NULL):
    // a row with no value has no rank and therefore no matched pair.
    val bucketed = Rank.withExactNtile(
        rows
          .filter(col(cohortCol).isin(cohortA, cohortB))
          .select(col(idCol).as("id"), col(valueCol).cast("long").as("v"),
            col(cohortCol).as("c"))
          .filter(col("v").isNotNull),
        "v", "id", buckets, "bucket")
    val both = if (subtiles == 1) {
      bucketed.withColumn("pair_rank", row_number().over(
        Window.partitionBy(col("bucket"), col("c")).orderBy(col("v"), col("id"))))
    } else {
      // envelope alignment: the first-level guard already bounds
      // distinct(v) at withExactNtile's default (3e6); the grouped
      // call counts distinct (bucket, cohort, value) TRIPLES, which
      // that same input can legally push to 2·distinct(v) (both
      // cohorts) + 2·(buckets−1) (a tie group straddling a boundary
      // splits across tiles). Passing the derived bound keeps the
      // subtile pass from rejecting inputs the single-window form
      // (and the first-level guard) accepts.
      val sub = Rank.withExactNtileBy(
          bucketed.withColumn("__bc", struct(col("bucket"), col("c"))),
          "__bc", "v", "id", subtiles, "__sub",
          maxDistinct = 2L * (Rank.DefaultMaxDistinct + buckets - 1))
      val ranked = sub.withColumn("__r", row_number().over(
        Window.partitionBy(col("bucket"), col("c"), col("__sub"))
          .orderBy(col("v"), col("id"))))
      // exact offsets in CLOSED FORM (VERDICT r12 item 3): subtile
      // sizes under ntile's fill rule are fully determined by the
      // (bucket, cohort) row count n — tiles 1..(n%t) hold n/t+1 rows,
      // the rest n/t — so rows in EARLIER subtiles of the same group
      // are offset(s) = (s−1)·(n div t) + min(s−1, n mod t). No
      // aggregation over the ranked frame, no window over the counts,
      // and `ranked` keeps a single consumer, so the third full-frame
      // eager checkpoint the r12 bench paid for is gone. The count
      // aggregation reads `sub` (a pruned scan of withExactNtileBy's
      // internal checkpoint — the subtile join prunes away unused).
      val offs = sub.groupBy(col("bucket"), col("c"))
        .agg(count(lit(1)).as("__n"))
        .select(col("bucket"), col("c"), col("__n"),
          explode(sequence(lit(1), lit(subtiles))).as("__sub"))
        .select(col("bucket"), col("c"), col("__sub"),
          ((col("__sub") - 1).cast("long") * expr(s"__n div $subtiles") +
            least((col("__sub") - 1).cast("long"),
              expr(s"__n % $subtiles"))).as("__off"))
      ranked.join(broadcast(offs), Seq("bucket", "c", "__sub"))
        .withColumn("pair_rank", (col("__off") + col("__r")).cast("int"))
        .drop("__bc", "__sub", "__r", "__off")
    }
    val a = both.filter(col("c") === cohortA)
      .select(col("bucket"), col("pair_rank"), col("id").as("id_a"),
        col("v").as("val_a"))
    val b = both.filter(col("c") === cohortB)
      .select(col("bucket"), col("pair_rank"), col("id").as("id_b"),
        col("v").as("val_b"))
    a.join(b, Seq("bucket", "pair_rank"))
      .withColumn("gap", abs(col("val_a") - col("val_b")))
  }
}
