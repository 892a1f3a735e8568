package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, concat, count, explode, expr, floor, lit, max, min, raise_error, row_number, struct, sum, when}

/** Output-layout discipline — the WRITE side of a 100 TB pipeline.
  * Reading fast at scale is decided when the data is WRITTEN: directory
  * partitioning gives planning-time partition pruning (zero files of
  * other partitions opened — see PlanShapeSpec's PartitionFilters
  * test), a within-partition sort gives parquet row-group min/max
  * statistics that scan-time range predicates prune on, and a
  * max-records bound keeps files executor-sized (a 10 GB file is one
  * unsplittable-at-row-group-granularity task; ten thousand 1 KB files
  * are a listing storm — both kill a 1000-executor read).
  *
  * This composes Spark primitives deliberately:
  * `repartitionByRange(partCols ++ sortCols)` aligns the shuffle with
  * the directory layout AND spreads a hot partition value across many
  * tasks (range boundaries are sampled from the full sort tuple, so
  * lang=en covering half the corpus splits on the sort key instead of
  * hashing onto one straggler task); each task still writes into at
  * most two directories (its range straddles at most one partition
  * boundary), so there is no small-files explosion either.
  * `sortWithinPartitions(partCols ++ sortCols)` orders rows inside
  * each task so row-group stats are tight; `maxRecordsPerFile` caps
  * file size without another shuffle. The partition columns should be
  * low-cardinality (lang, date — NOT doc_id): directory count is
  * multiplicative and a 10⁶-directory table breaks listing before any
  * query runs.
  */
object Layout {

  /** Deterministic training-shard assignment — the global shuffle a
    * training run needs, WITHOUT randomness: shard = md5-60(id) mod
    * `nShards`, within-shard position = rank of the hash (id
    * tie-break for the rare 60-bit collision). Content-hashed, so the
    * "shuffle" is reproducible across runs, engines and partition
    * layouts — re-running the pipeline regenerates byte-identical
    * shards (checkpointable training), unlike `orderBy(rand())`.
    * Hash order is independent of every data attribute, which is
    * exactly what a training shuffle is for: adjacent docs share
    * nothing (no source/time runs from ingestion order).
    *
    * Scale: two regimes, picked by `nShards` (positions bit-identical
    * either way). FEW shards (≤ 1024): each shard holds corpus/nShards
    * rows — a single-task wall under a per-shard window — so the
    * two-phase per-shard prefix sum applies (round 12,
    * [[graft.operators.Rank.withGroupedPrefixSums]]); its broadcast
    * offsets frame is partitions × nShards rows, bounded by the
    * threshold. MANY shards (> 1024): the per-shard `row_number`
    * window is the right shape — every partition is a SMALL slice
    * (corpus/nShards rows) precisely because shards are many, while
    * the prefix-sum form's offsets frame would grow to
    * partitions × nShards and breach the broadcast envelope. Skew-free
    * in both: md5 buckets are uniform regardless of key
    * distribution. */
  def shardAssignment(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"shardAssignment: nShards must be > 0, got $nShards")
    // payload columns ride along: the one shard exchange yields the
    // training shards DIRECTLY — an id-only result would force callers
    // into a second corpus-scale join to recover the text
    val hashed = df
      .withColumn("__h", graft.functions.TextFunctions.md5Bucket60(col(idCol)))
      .withColumn("shard", col("__h") % nShards)
    val positioned =
      if (nShards <= 1024)
        graft.operators.Rank.withGroupedPrefixSums(
          hashed.withColumn("__one", lit(1L)),
          "shard", Seq(col("__h"), col(idCol)), Seq("__one" -> "pos"))
          .drop("__one")
      else
        hashed.withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
            .orderBy(col("__h"), col(idCol))))
    positioned
      .withColumn("pos", col("pos").cast("int"))
      .drop("__h")
  }

  /** Reshard movement plan — "what does changing the shard count
    * cost": for every (current shard, next shard) cell under the SAME
    * md5-60 content hash, the rows and bytes that would move. Because
    * the assignment is a pure hash function, the plan is computable
    * BEFORE any data moves (no dry-run write), and mod-N → mod-M
    * movement is the honest worst case the plan quantifies — unlike
    * consistent hashing, plain mod remaps ~(1 − gcd(N,M)/M) of keys,
    * and the matrix shows exactly which cells pay.
    *
    * One partial+final aggregation over the corpus, output bounded by
    * N·M cells. Output: (from_shard, to_shard, n_rows, bytes, moved).
    */
  def reshardPlan(df: DataFrame, idCol: String, bytesCol: String,
      nShardsFrom: Int, nShardsTo: Int): DataFrame = {
    require(nShardsFrom > 0 && nShardsTo > 0,
      s"reshardPlan: shard counts must be > 0, got ($nShardsFrom, $nShardsTo)")
    import org.apache.spark.sql.functions._
    df.withColumn("__h", graft.functions.TextFunctions.md5Bucket60(col(idCol)))
      .select((col("__h") % nShardsFrom).as("from_shard"),
        (col("__h") % nShardsTo).as("to_shard"),
        col(bytesCol).cast("long").as("__b"))
      .groupBy(col("from_shard"), col("to_shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__b")).cast("bigint").as("bytes"))
      .withColumn("moved", col("from_shard") =!= col("to_shard"))
  }

  /** Write `df` as a partitioned, sorted, size-bounded parquet layout.
    * `sortCols` are the columns later range predicates filter on (the
    * row-group pruning key); `maxRecordsPerFile` bounds file size. */
  def writePartitioned(df: DataFrame, path: String,
      partCols: Seq[String], sortCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L): Unit = {
    require(partCols.nonEmpty, "writePartitioned: partCols must be non-empty")
    require(maxRecordsPerFile > 0,
      s"writePartitioned: maxRecordsPerFile must be > 0, got $maxRecordsPerFile")
    df.repartitionByRange((partCols ++ sortCols).map(col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .mode("overwrite")
      .parquet(path)
  }

  /** Broadcast-eligibility advisor: for each table, a deterministic
    * in-memory size estimate against the broadcast threshold — the
    * planning read behind every "should this dimension broadcast"
    * decision (Spark's own statistics depend on file format and
    * compression; this estimate is a FIXED schema-driven formula, so
    * it is comparable across tables, engines, and rounds). Formula:
    * 8 bytes per fixed-width column, length + 20 per string, 8 per
    * element + 16 per array — deliberately simple and stated, an
    * ORDER-OF-MAGNITUDE gate (the broadcast decision has ~100×
    * headroom between a 5-row dim and a fact table; a ±2× estimate
    * error cannot flip a sane call).
    *
    * Pure integer: per-row cost is an exact integer expression,
    * summed in one partial+final aggregation per table; the verdict
    * is one integer comparison.
    *
    * Output: (table, n_rows, est_bytes, fits_broadcast), ordered by
    * table. */
  def broadcastAdvisor(tables: Seq[(String, DataFrame)],
      thresholdBytes: Long = 10L * 1024 * 1024): DataFrame = {
    require(tables.nonEmpty, "broadcastAdvisor: need at least one table")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    tables.map { case (name, df) =>
      val perRow = df.schema.fields.map { f =>
        f.dataType match {
          case StringType =>
            coalesce(length(col(f.name)).cast("long"), lit(0L)) + lit(20L)
          case ArrayType(_, _) =>
            coalesce(size(col(f.name)).cast("long"), lit(0L)) * lit(8L) + lit(16L)
          case _ => lit(8L)
        }
      }.reduce(_ + _)
      df.agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(perRow).cast("bigint").as("est_bytes"))
        .select(lit(name).as("table"), col("n_rows"), col("est_bytes"),
          (col("est_bytes") <= thresholdBytes).as("fits_broadcast"))
    }.reduce(_ unionAll _).orderBy(col("table"))
  }

  /** Sort-key advisor: for each candidate column, the exact Spearman
    * rank correlation between the table's CURRENT order (by `idCol`)
    * and the candidate's sort order — the number that predicts what
    * re-sorting buys: |ρ| near 1 means the data already lies in (or
    * exactly against) that order, so min/max zone-maps prune well
    * TODAY and a re-sort buys little; ρ near 0 means the column is
    * shuffled against storage order and sorting by it would turn
    * full scans of `WHERE col BETWEEN …` into a few row groups.
    * Reported next to the distinct count (a 2-value column prunes
    * coarsely however sorted).
    *
    * Exactness: both rankings tie-break on `idCol` (total orders),
    * d = rank_current − rank_candidate is exact BIGINT, Σd² is exact
    * BIGINT up to the enforced `maxRows` envelope (worst case
    * Σd² = (n³−n)/3, which fits int64 to n ≈ 3.0·10⁶), and ρ uses
    * the classic 1 − 6Σd²/(n(n²−1)) on those tie-broken ranks
    * (stated contract: ties are broken, not midranked — the
    * DETERMINISTIC variant, identical on any engine). The ρ term is
    * computed in DOUBLE from the exact integer operands (casting the
    * same exact BIGINT is IEEE-identical on every engine) and
    * quantized ONCE to micro — the earlier all-integer form's
    * 6·Σd²·10⁶ intermediate overflowed int64 from ~20k rows.
    *
    * Scale: each candidate costs two global rank windows over a
    * 2-column projection — the advisor is a sampled/offline read by
    * nature (run it on one table sample, not per batch). The
    * `maxRows` contract is ENFORCED twice (ADVICE r11): a PRE-WINDOW
    * count gate — one cheap counting pass, its 1-row result broadcast
    * into the projection feeding the windows, raise_error minted on
    * the first row when the frame is over-envelope — fails BEFORE any
    * global sort runs; the original post-aggregate check stays as
    * defense in depth. A beyond-envelope frame therefore never pays
    * the sort it is refusing — advise on an md5-gated sample (the x70
    * pattern) instead.
    *
    * Output: (column, n, n_distinct, spearman_micro), ordered by
    * column name. */
  def sortKeyAdvisor(df: DataFrame, candidates: Seq[String],
      idCol: String, maxRows: Long = 2000000L): DataFrame = {
    require(candidates.nonEmpty, "sortKeyAdvisor: need candidate columns")
    require(maxRows >= 2 && maxRows <= 3000000L,
      s"sortKeyAdvisor: maxRows must be in [2, 3e6] (exact-rank envelope), got $maxRows")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the pre-window gate: count once, broadcast the 1-row result into
    // the projection, and mint the raise_error ON THE ID every window
    // consumes — an over-envelope frame throws while scanning, before
    // either global sort starts
    val pre = df.select(col(idCol).as("__id"))
      .agg(count(lit(1)).cast("long").as("__n_pre"))
    candidates.map { c =>
      df.select(col(idCol).as("__id0"), col(c).as("__v"))
        .join(broadcast(pre))
        .select(
          when(col("__n_pre") > lit(maxRows),
            raise_error(concat(lit("sortKeyAdvisor: "),
              col("__n_pre").cast("string"),
              lit(s" rows exceed the exact-rank envelope ($maxRows); " +
                "advise on a sample"))).cast(df.schema(idCol).dataType))
            .otherwise(col("__id0")).as("__id"),
          col("__v"))
        .withColumn("__rx", row_number().over(Window.orderBy(col("__id"))))
        .withColumn("__ry", row_number().over(
          Window.orderBy(col("__v"), col("__id"))))
        .select((col("__rx") - col("__ry")).cast("long").as("__d"),
          col("__v"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("__v")).as("n_distinct"),
          sum(col("__d") * col("__d")).cast("bigint").as("__sd2"))
        .select(lit(c).as("column"), col("n"), col("n_distinct"),
          when(col("n") > lit(maxRows),
            raise_error(concat(lit("sortKeyAdvisor: "), col("n").cast("string"),
              lit(s" rows exceed the exact-rank envelope ($maxRows); " +
                "advise on a sample"))).cast("long"))
          .when(col("n") > 1, expr(
            """1000000L - CAST(round(6.0D * CAST(__sd2 AS DOUBLE) * 1000000.0D
              | / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              | - 1.0D))) AS BIGINT)""".stripMargin))
            .as("spearman_micro"))
    }.reduce(_ unionAll _).orderBy(col("column"))
  }

  /** Join-skew salt advisor — the quantified salting plan behind the
    * "skewed keys → salting" scale rule: per join-key frequency from
    * one hash aggregation, every key whose row count exceeds
    * `targetPerTask` gets `salt_factor` = ⌈count / target⌉ (the number
    * of salt buckets that brings its largest post-salt partition back
    * under target); unskewed keys report factor 1. Top `topN` keys by
    * (count desc, key) — a bounded TakeOrderedAndProject, so the
    * advisor itself never sorts the key universe globally.
    *
    * Output: (key, n, salt_factor, skewed), top-N by (n desc, key). */
  def saltAdvisor(df: DataFrame, keyCol: String,
      targetPerTask: Long = 1000000L, topN: Int = 20): DataFrame = {
    require(targetPerTask >= 1,
      s"saltAdvisor: targetPerTask must be >= 1, got $targetPerTask")
    require(topN >= 1, s"saltAdvisor: topN must be >= 1, got $topN")
    df.select(col(keyCol).cast("string").as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .select(col("key"), col("n"),
        expr(s"(n + $targetPerTask - 1) div $targetPerTask").as("salt_factor"),
        (col("n") > targetPerTask).as("skewed"))
      .orderBy(col("n").desc, col("key"))
      .limit(topN)
  }
  /** Join-size advisor — predicts an equi-join's output cardinality
    * and its skew profile WITHOUT running the join: for key k with
    * nL(k) left and nR(k) right rows, the join emits exactly
    * nL(k)·nR(k) rows, so two per-side key histograms and one
    * histogram-sized join give the exact total, each key's share, and
    * the keys that dominate it — the planning read behind choosing
    * salting ([[saltAdvisor]]) or a broadcast ([[broadcastAdvisor]])
    * BEFORE paying for an exploding join.
    *
    * Scale: two hash aggregations (each side collapses to its key
    * histogram) and a histogram-keyed join — never the row volume;
    * the top-N cut is a bounded TakeOrderedAndProject.
    *
    * Overflow envelope (ADVICE r13): exactly the exploding-join
    * regime this advisor exists for can overflow naive BIGINT
    * arithmetic — a 4M×4M hot key contributes 1.6e13 rows, and
    * contrib·10⁶ wraps Long past contrib ≈ 9.2e12 (non-ANSI Spark
    * wraps silently where DuckDB raises). Both products therefore
    * compute in DECIMAL(38,0) — exact to 1e38, beyond any feasible
    * key histogram — and only the final values cast back to the
    * BIGINT output columns: share_micro ≤ 1e6 always fits, and a
    * per-key contrib or total past Long.MaxValue (> 9.2e18 rows
    * from one forecast — unrepresentable in the output column)
    * `raise_error`s with the key instead of wrapping, the same
    * refuse-loudly pattern as [[graft.operators.Profile.rankAuc]].
    *
    * Output: top `topN` keys by (contrib desc, key):
    * (key, n_left, n_right, contrib, total_rows, share_micro),
    * where total_rows is the exact full join size (same on every
    * row) and share_micro = contrib·10⁶ div total. */
  def joinSizeAdvisor(left: DataFrame, right: DataFrame, keyCol: String,
      topN: Int = 10): DataFrame = {
    require(topN >= 1, s"joinSizeAdvisor: topN must be >= 1, got $topN")
    def hist(df: DataFrame, out: String) = df
      .select(col(keyCol).cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).cast("bigint").as(out))
    val longMax = lit(Long.MaxValue).cast("decimal(38,0)")
    val contrib = hist(left, "n_left").join(hist(right, "n_right"), "key")
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left").cast("decimal(38,0)") *
          col("n_right").cast("decimal(38,0)")).as("__cd"))
      .select(col("key"), col("n_left"), col("n_right"), col("__cd"),
        when(col("__cd") > longMax,
          raise_error(concat(
            lit("joinSizeAdvisor: key "), col("key"),
            lit(" contributes "), col("__cd").cast("string"),
            lit(" rows — past the BIGINT output envelope (9.2e18)")))
            .cast("bigint"))
          .otherwise(col("__cd").cast("bigint")).as("contrib"))
      // feeds the total AND the top-N cut
      .transform(Materialize(_, "Layout.joinSizeAdvisor: contrib"))
    val tot = contrib.agg(
      coalesce(sum(col("__cd")), lit(0).cast("decimal(38,0)")).as("__td"))
      .select(
        when(col("__td") > longMax,
          raise_error(concat(lit("joinSizeAdvisor: total "),
            col("__td").cast("string"),
            lit(" rows — past the BIGINT output envelope (9.2e18)")))
            .cast("bigint"))
          .otherwise(col("__td").cast("bigint")).as("total_rows"),
        col("__td"))
    contrib.crossJoin(broadcast(tot))
      .select(col("key"), col("n_left"), col("n_right"), col("contrib"),
        col("total_rows"),
        // decimal division + floor: exact contrib·10⁶ div total with
        // no intermediate Long product; quotient ≤ 1e6 fits BIGINT
        floor(col("__cd") * lit(1000000).cast("decimal(38,0)") / col("__td"))
          .cast("bigint").as("share_micro"))
      .orderBy(col("contrib").desc, col("key"))
      .limit(topN)
  }

  /** Partition-COUNT advisor — the last knob of the write-side family:
    * given a per-row byte estimate (an expression over the frame's own
    * columns — payload lengths plus format overhead), forecast the
    * partition count that lands each output partition near the target
    * size (the 128 MB parquet sweet spot by default). Too few
    * partitions → straggler tasks and memory pressure; too many →
    * small-file metadata storms; this turns the rule of thumb into a
    * number derived from the DATA, next to [[sortKeyAdvisor]] (what to
    * sort by) and [[saltAdvisor]] (how to split hot keys).
    *
    * Scale: ONE aggregation pass (count + byte sum). Ceiling division
    * in integers; byte sums fit BIGINT to 9.2 exabytes.
    *
    * Output (1 row): (n_rows, est_bytes, target_partition_bytes,
    * recommended_partitions, rows_per_partition). */
  def partitionCountAdvisor(df: DataFrame, bytesPerRowExpr: String,
      targetPartitionBytes: Long = 134217728L): DataFrame = {
    require(targetPartitionBytes >= 1,
      s"partitionCountAdvisor: target must be positive, got $targetPartitionBytes")
    df.agg(count(lit(1)).cast("bigint").as("n_rows"),
        coalesce(sum(expr(bytesPerRowExpr)), lit(0L)).cast("bigint")
          .as("est_bytes"))
      .select(col("n_rows"), col("est_bytes"),
        lit(targetPartitionBytes).as("target_partition_bytes"),
        expr(s"greatest((est_bytes + ${targetPartitionBytes - 1}L) div " +
          s"${targetPartitionBytes}L, 1L)").as("recommended_partitions"))
      .withColumn("rows_per_partition",
        expr("n_rows div recommended_partitions"))
  }

  /** Join ORDER advisor for a three-way equi-join on one key — the
    * classic optimizer decision, forecast exactly from key histograms
    * the way [[joinSizeAdvisor]] forecasts one join: the final size
    * Σₖ aₖ·bₖ·cₖ is order-independent, so the decision metric is the
    * INTERMEDIATE relation each order materializes (Σ aₖbₖ for
    * (A⋈B)⋈C, etc.) — the number that decides shuffle volume and
    * spill. One row per order with its intermediate forecast, the
    * shared final size, and a `best` flag on the (smallest
    * intermediate, order name) winner — feed the winner to the join
    * planner the same way x199's salt factors feed the skew rule.
    *
    * Scale: three histograms (one hash agg per input), histogram-
    * sized joins, never row volume. All sizes compute in
    * DECIMAL(38,0) and refuse loudly past the BIGINT output envelope
    * (the [[joinSizeAdvisor]] ADVICE-r13 pattern).
    *
    * Output: (join_order, intermediate_rows, final_rows, best),
    * ordered by join_order. */
  def joinOrderAdvisor(a: DataFrame, b: DataFrame, c: DataFrame,
      keyCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val longMax = lit(Long.MaxValue).cast(dec)
    def hist(df: DataFrame, out: String) = df
      .select(col(keyCol).cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).cast(dec).as(out))
    val h = hist(a, "na")
      .join(hist(b, "nb"), Seq("key"), "full_outer")
      .join(hist(c, "nc"), Seq("key"), "full_outer")
      .select(
        coalesce(col("na"), lit(0).cast(dec)).as("na"),
        coalesce(col("nb"), lit(0).cast(dec)).as("nb"),
        coalesce(col("nc"), lit(0).cast(dec)).as("nc"))
      // one histogram frame feeds all four sums
      .transform(Materialize(_, "Layout.joinOrderAdvisor: histogram"))
    val sums = h.agg(
      coalesce(sum(col("na") * col("nb")), lit(0).cast(dec)).as("__ab"),
      coalesce(sum(col("na") * col("nc")), lit(0).cast(dec)).as("__ac"),
      coalesce(sum(col("nb") * col("nc")), lit(0).cast(dec)).as("__bc"),
      coalesce(sum(col("na") * col("nb") * col("nc")), lit(0).cast(dec))
        .as("__fin"))
    def guarded(c0: Column, what: String): Column =
      when(c0 > longMax,
        raise_error(concat(lit(s"joinOrderAdvisor: $what forecast "),
          c0.cast("string"),
          lit(" rows — past the BIGINT output envelope (9.2e18)")))
          .cast("bigint"))
        .otherwise(c0.cast("bigint"))
    val wide = sums.select(
      guarded(col("__ab"), "(a JOIN b)").as("ab"),
      guarded(col("__ac"), "(a JOIN c)").as("ac"),
      guarded(col("__bc"), "(b JOIN c)").as("bc"),
      guarded(col("__fin"), "final").as("fin"))
    val orders = wide.select(explode(array(
      struct(lit("ab_then_c").as("join_order"), col("ab").as("intermediate_rows")),
      struct(lit("ac_then_b").as("join_order"), col("ac").as("intermediate_rows")),
      struct(lit("bc_then_a").as("join_order"), col("bc").as("intermediate_rows"))))
      .as("o"), col("fin").as("final_rows"))
      .select(col("o.join_order").as("join_order"),
        col("o.intermediate_rows").as("intermediate_rows"), col("final_rows"))
    val best = orders
      .agg(min(struct(col("intermediate_rows").as("r"),
        col("join_order").as("n"))).as("b"))
      .select(col("b.n").as("__best"))
    orders.crossJoin(broadcast(best))
      .select(col("join_order"), col("intermediate_rows"), col("final_rows"),
        (col("join_order") === col("__best")).as("best"))
      .orderBy(col("join_order"))
  }

  /** Advisor-ENFORCED three-way equi-join: [[joinOrderAdvisor]]'s
    * forecast, executed in the order it advises — closing the r15
    * verdict's "advisors are read-only" loop (a query built through
    * this operator CANNOT contradict its own advisor; PlanShapeSpec
    * additionally pins that the physical innermost join pair matches
    * the advice). Reference analogue: the hand-chosen nested loop at
    * publish_to_catalog.py:503-513 is the decision this automates.
    *
    * Returns (advice, joined): `advice` is the full 3-row advisor
    * frame (checkpointed — the verdict read below and any declared
    * output share ONE histogram evaluation), `joined` the inner
    * equi-join on `keyCol` in the advised order.
    *
    * Scale: the ONLY driver-side read is a 3-row collect of the
    * already-aggregated advisor frame (histogram-sized by
    * construction, never row volume — the x22 trained-centroid
    * precedent); the join itself stays fully distributed and Catalyst
    * still picks each join's strategy/build side. */
  def advisedThreeWayJoin(a: DataFrame, b: DataFrame, c: DataFrame,
      keyCol: String): (DataFrame, DataFrame) = {
    val advice = Materialize(joinOrderAdvisor(a, b, c, keyCol),
      "Layout.advisedThreeWayJoin: advice")
    val best = advice.filter(col("best"))
      .select(col("join_order")).collect()(0).getString(0)
    val joined = best match {
      case "ab_then_c" => a.join(b, Seq(keyCol)).join(c, Seq(keyCol))
      case "ac_then_b" => a.join(c, Seq(keyCol)).join(b, Seq(keyCol))
      case _           => b.join(c, Seq(keyCol)).join(a, Seq(keyCol))
    }
    (advice, joined)
  }

  /** Epoch-allocation advisor — the data-constrained mixing decision
    * (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models"): when the token budget exceeds the unique corpus,
    * WHICH sources earn a 2nd/3rd/4th epoch? Each source gets a
    * vocabulary-richness quality score qₛ = |vocab|·10⁶ div tokens
    * (type-token ratio — the cheap exact proxy for "how much new
    * signal per repeated token"), each (source, epoch e) candidate a
    * marginal utility qₛ · decay^(e−1) (repetition decay — repeated
    * epochs are worth a geometric fraction of fresh data), and the
    * greedy fill takes WHOLE epochs in (utility desc, source, epoch)
    * order while the cumulative token cost stays within the budget
    * (budget = budgetTimesMicro/10⁶ × the unique corpus). Partial
    * epochs are never taken — the allocation is a replayable plan,
    * not a fractional ideal.
    *
    * Exactness: token/vocab counts exact BIGINT; decay powers are
    * precomputed integer micro values (p₁ = 10⁶, pₑ = pₑ₋₁·decay
    * div 10⁶ — the same truncating sequence in both engines);
    * utilities and shares are truncating integer div; the share
    * computes in DECIMAL(38,0) (tokens·10⁶ exceeds BIGINT at 100 TB).
    *
    * Scale: two aggregation passes over the exploded token stream
    * (per-source totals + per-(source, word) distinct — partial+final
    * hash aggs); everything after is source-cardinality: the
    * candidate grid is |sources| × maxEpochs rows and its greedy
    * window is a deliberate single-partition sort over that tiny
    * frame (the x230 item-cardinality idiom), never row volume.
    *
    * Output: (source, n_tokens, quality_micro, epochs_allocated,
    * tokens_allocated, alloc_share_micro), ordered by
    * (epochs_allocated desc, source); empty when no epoch fits. */
  def epochAllocationAdvisor(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source", maxEpochs: Int = 4,
      decayMicro: Long = 700000L,
      budgetTimesMicro: Long = 2000000L): DataFrame = {
    require(maxEpochs >= 1 && maxEpochs <= 16,
      s"epochAllocationAdvisor: maxEpochs must be in [1, 16], got $maxEpochs")
    require(decayMicro >= 1L && decayMicro <= 1000000L,
      s"epochAllocationAdvisor: decayMicro must be in [1, 1e6], got $decayMicro")
    require(budgetTimesMicro >= 1L,
      s"epochAllocationAdvisor: budgetTimesMicro must be positive")
    val dec = "decimal(38,0)"
    import graft.functions.TextFunctions.words
    val toks = docs
      .select(col(sourceCol).cast("string").as("source"),
        explode(words(col(textCol))).as("__t"))
    val perSource = toks.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_tokens"))
    val vocab = toks.select(col("source"), col("__t")).distinct()
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("__v"))
    val src = perSource.join(vocab, Seq("source"))
      .filter(col("n_tokens") > 0)
      .select(col("source"), col("n_tokens"),
        expr("(__v * 1000000L) div n_tokens").as("quality_micro"))
      // tiny; feeds grid, budget, and output
      .transform(Materialize(_, "Layout.epochAllocationAdvisor: src"))
    // integer decay powers, the same truncating sequence as the oracle
    val pows = Iterator.iterate(1000000L)(p => p * decayMicro / 1000000L)
      .take(maxEpochs).toSeq
    val epochs = explode(array(pows.zipWithIndex.map { case (p, i) =>
      struct(lit(i + 1).cast("int").as("epoch"), lit(p).as("__pow"))
    }: _*))
    val grid = src.select(col("*"), epochs.as("__e"))
      .select(col("source"), col("n_tokens"), col("quality_micro"),
        col("__e.epoch").as("epoch"),
        expr("(quality_micro * __e.__pow) div 1000000L").as("__u"))
    val budget = src
      .agg(sum(col("n_tokens")).cast(dec).as("__tot"))
      .select(expr(
        s"(__tot * CAST($budgetTimesMicro AS DECIMAL(38,0))) div 1000000")
        .cast(dec).as("__budget"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__u").desc, col("source"), col("epoch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val kept = grid
      .withColumn("__cum", sum(col("n_tokens").cast(dec)).over(w))
      .crossJoin(broadcast(budget))
      .filter(col("__cum") <= col("__budget"))
      // feeds the per-source rollup AND the total
      .transform(Materialize(_, "Layout.epochAllocationAdvisor: kept"))
    val totAlloc = kept.agg(sum(col("n_tokens")).cast(dec).as("__ta"))
    kept.groupBy(col("source"), col("n_tokens"), col("quality_micro"))
      .agg(count(lit(1)).cast("bigint").as("epochs_allocated"))
      .select(col("source"), col("n_tokens"), col("quality_micro"),
        col("epochs_allocated"),
        (col("epochs_allocated") * col("n_tokens")).as("tokens_allocated"))
      .crossJoin(broadcast(totAlloc))
      .filter(col("__ta") > 0)
      .select(col("source"), col("n_tokens"), col("quality_micro"),
        col("epochs_allocated"), col("tokens_allocated"),
        expr("(CAST(tokens_allocated AS DECIMAL(38,0)) * 1000000) div __ta")
          .cast("bigint").as("alloc_share_micro"))
      .orderBy(col("epochs_allocated").desc, col("source"))
  }

  /** Curriculum plan — equal-population difficulty phases for
    * curriculum training (Bengio et al. 2009 easy-to-hard ordering,
    * planned relationally): docs are tiled into `phases` exact
    * ntile buckets by DESCENDING score (phase 1 = easiest, e.g. the
    * highest Flesch readability), and each phase reports its doc
    * count, token mass, score range, and token share — the phase
    * schedule a curriculum loader consumes directly. Score and
    * weight are caller-supplied columns, so the same plan works for
    * readability, perplexity (x227 negated), or quality scores.
    * Unscored rows (null score) cannot be placed and are excluded —
    * the [[graft.operators.Rank.withExactNtile]] null contract.
    *
    * Scale: the tiling is the x113 boundary-spine discipline
    * (histogram + broadcast boundary ranks, loud `maxDistinct`
    * envelope — never a global row sort); the rollup is one
    * partial+final hash agg over `phases` groups.
    *
    * Output: (phase, n_docs, n_tokens, score_hi_micro,
    * score_lo_micro, token_share_micro), ordered by phase. */
  def curriculumPlan(scored: DataFrame, idCol: String = "doc_id",
      scoreCol: String = "flesch_micro", weightCol: String = "n_words",
      phases: Int = 4): DataFrame = {
    require(phases >= 1 && phases <= 100,
      s"curriculumPlan: phases must be in [1, 100], got $phases")
    val base = scored.filter(col(scoreCol).isNotNull)
      .select(col(idCol).as("__id"), col(scoreCol).cast("long").as("__sc"),
        col(weightCol).cast("long").as("__w"))
      .withColumn("__neg", -col("__sc"))
    val binned = Rank.withExactNtile(base, "__neg", "__id", phases, "phase")
    val agg = binned.groupBy(col("phase"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("__w")).cast("bigint").as("n_tokens"),
        max(col("__sc")).as("score_hi_micro"),
        min(col("__sc")).as("score_lo_micro"))
      // the x152 rule: the total must not re-run the tiling
      .transform(Materialize(_, "Layout.curriculumPlan: agg"))
    val tot = agg.agg(coalesce(sum(col("n_tokens")), lit(0L))
      .cast("decimal(38,0)").as("__tt"))
    agg.crossJoin(broadcast(tot))
      .filter(col("__tt") > 0)
      .select(col("phase").cast("bigint").as("phase"), col("n_docs"),
        col("n_tokens"), col("score_hi_micro"), col("score_lo_micro"),
        expr("(CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div __tt")
          .cast("bigint").as("token_share_micro"))
      .orderBy(col("phase"))
  }
}
