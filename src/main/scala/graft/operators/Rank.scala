package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact ranking/tiling primitives — the replacements for
  * corpus-global `ntile`/`row_number` windows, which funnel the whole
  * frame through ONE partition (the single worst scale hazard a plan
  * can carry at 100 TB: every other stage is parallel, then the rank
  * window serializes the corpus through one task).
  *
  * The trick: an equi-depth tile assignment is fully determined by the
  * t−1 BOUNDARY rows (the last row of each tile under the total order
  * `(value, id)`). Those boundaries are found from the value HISTOGRAM
  * (the x66/x119 collapse — cardinality is the value codomain, not the
  * row count), resolved inside at most t−1 tie groups with a window
  * PARTITIONED by value, and broadcast back as an array of (value, id)
  * pairs; each row's tile is then 1 + #(boundaries strictly below it)
  * — a per-row O(t) comparison, no shuffle, no global window.
  */
object Rank {

  /** Default histogram-collapse envelope shared by every ranking
    * surface that rides a value histogram ([[withExactNtile]],
    * [[withExactNtileBy]], [[graft.operators.Profile.rankAuc]], and
    * [[graft.operators.Joins.rankMatchedPairs]]'s derived subtile
    * bound): the maximum distinct-value (or distinct (group, value))
    * cardinality before the "collapsed" histogram stops being a
    * collapse and the cumulative window degrades toward a whole-frame
    * single-task sort. One named constant so derived bounds (the
    * rankMatchedPairs 2·(D + buckets − 1) alignment) can never drift
    * from the first-level guard's default. */
  val DefaultMaxDistinct: Long = 3000000L

  /** Adds column `out` = exact `ntile(tiles) OVER (ORDER BY valueCol
    * ASC, idCol ASC)` — bit-identical to the window form (including
    * the +1-row first buckets on a non-divisible count and ties split
    * by `idCol`) — without any unpartitioned window over `rows`.
    *
    * Plan shape: one hash aggregation to the value histogram; one
    * cumulative window over the HISTOGRAM frame (collapsed
    * cardinality — the only unpartitioned window, sanctioned by the
    * same argument as x66's Gini); a row_number window partitioned by
    * value over ONLY the ≤ t−1 boundary tie groups; and one broadcast
    * of ≤ t−1 (value, id) pairs joined back as an array. Heavy-tie
    * boundary groups are the irreducible cost of ntile's tie-split
    * contract — only those groups rank row-by-row, and only by id.
    *
    * Contracts — ENFORCED in the plan, not just documented (both
    * checks ride the boundary-spine path, so they fire before any
    * tile is emitted and cost one aggregation already being paid).
    * EXEMPTION: `tiles == 1` short-circuits to `lit(1)` WITHOUT
    * evaluating either guard — ntile(1) is the constant 1 whatever
    * the values hold (nulls and cardinality included), so there is
    * no boundary spine to ride and nothing the guards could protect;
    * callers needing the guards at tiles=1 should validate upstream:
    *  - `valueCol` must be non-null: a null value has no place in the
    *    (value, id) total order — the boundary equi-joins would drop
    *    null-keyed boundary rows and silently mis-tile (null keys
    *    never match), so a null value `raise_error`s instead; filter
    *    or coalesce nulls first.
    *  - value cardinality must stay ≤ `maxDistinct` (default 3e6, the
    *    sortKeyAdvisor envelope): the histogram collapse is only a
    *    collapse while distinct values ≪ rows — a continuous-double
    *    column with per-row-unique values would degrade the "one
    *    unpartitioned window over the histogram" into a near-global
    *    sort, so past the envelope the plan `raise_error`s with a
    *    quantize-first instruction rather than degrading silently.
    *  - `idCol` must be distinct per row (it is the tie-break of a
    *    total order); descending value order is the caller negating
    *    the value column. For floats, −0.0/0.0 collapse consistently
    *    on both the histogram and the comparison path (SQL equality
    *    semantics).
    */
  def withExactNtile(rows0: DataFrame, valueCol: String, idCol: String,
      tiles: Int, out: String,
      maxDistinct: Long = DefaultMaxDistinct): DataFrame = {
    require(tiles > 0, s"withExactNtile: tiles must be positive, got $tiles")
    require(maxDistinct >= 1, s"withExactNtile: maxDistinct must be positive, got $maxDistinct")
    if (tiles == 1) return rows0.withColumn(out, lit(1))
    val v = col(valueCol)
    val id = col(idCol)
    // feeds hist, boundary groups, output
    val rows = Materialize(rows0, "Rank.withExactNtile: rows")
    val hist = rows.groupBy(v.as("__nt_v")).agg(count(lit(1)).as("__nt_cnt"))
    val wv = Window.orderBy(col("__nt_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val histC = hist
      .withColumn("__nt_before", coalesce(sum(col("__nt_cnt")).over(wv), lit(0L)))
    // boundary ranks e_i = cumulative end of tile i (ntile's fill rule:
    // the first n%t tiles hold n/t+1 rows). The contract guards live
    // HERE, on the pre-window histogram: the null check and the
    // cardinality envelope both fire from the same single-row
    // aggregate, before the cumulative window pays for a degenerate
    // histogram (the raise_error rides __nt_n, which every boundary —
    // and therefore every output tile — depends on).
    val spine = hist
      .agg(coalesce(sum(col("__nt_cnt")), lit(0L)).cast("long").as("__nt_n0"),
        count(lit(1)).cast("long").as("__nt_card"),
        max(col("__nt_v").isNull.cast("int")).as("__nt_hasnull"))
      .select(
        when(col("__nt_hasnull") === 1,
          raise_error(lit(s"withExactNtile: column '$valueCol' contains " +
            "nulls — a null has no place in the (value, id) total order; " +
            "filter or coalesce nulls first")).cast("long"))
        .when(col("__nt_card") > maxDistinct,
          raise_error(concat(lit("withExactNtile: "),
            col("__nt_card").cast("string"),
            lit(s" distinct values in '$valueCol' exceed the " +
              s"histogram-collapse envelope ($maxDistinct) — the tile " +
              "histogram would approach row cardinality; quantize the " +
              "value column first"))).cast("long"))
        .otherwise(col("__nt_n0")).as("__nt_n"))
      .select(explode(sequence(lit(1L), lit((tiles - 1).toLong))).as("__nt_i"),
        expr(s"__nt_n div $tiles").as("__nt_base"),
        expr(s"__nt_n % $tiles").as("__nt_rem"))
      .select(col("__nt_i"),
        when(col("__nt_i") <= col("__nt_rem"),
            col("__nt_i") * (col("__nt_base") + 1))
          .otherwise(col("__nt_rem") * (col("__nt_base") + 1) +
            (col("__nt_i") - col("__nt_rem")) * col("__nt_base")).as("__nt_e"))
      .filter(col("__nt_e") >= 1)
    // locate each boundary rank inside its histogram bucket
    val bSpec = histC.join(broadcast(spine),
        col("__nt_before") < col("__nt_e") &&
          col("__nt_e") <= col("__nt_before") + col("__nt_cnt"))
      .select(col("__nt_i"), col("__nt_v").as("__nt_bv"),
        (col("__nt_e") - col("__nt_before")).as("__nt_o"))
    // the o-th smallest id within each boundary value group — the only
    // row-level ranking, partitioned by value over ≤ t−1 groups
    val wIn = Window.partitionBy(col("__nt_bv2")).orderBy(col("__nt_bid2"))
    val bPairs = rows
      .select(v.as("__nt_bv2"), id.as("__nt_bid2"))
      .join(broadcast(bSpec.select(col("__nt_bv").as("__nt_bv2")).distinct()),
        Seq("__nt_bv2"), "leftsemi")
      .withColumn("__nt_rn", row_number().over(wIn))
      .join(broadcast(bSpec),
        col("__nt_bv2") === col("__nt_bv") && col("__nt_rn") === col("__nt_o"))
      .select(struct(col("__nt_bv2").as("v"), col("__nt_bid2").as("id"))
        .as("__nt_p"))
    // one array of ≤ t−1 pairs (duplicates kept: with n < t, trailing
    // empty tiles repeat the LAST row's pair — harmless, because no
    // row orders strictly above the maximum pair, so the duplicates
    // are never counted and tiles 1..n come out exactly as ntile's)
    val arr = bPairs.agg(collect_list(col("__nt_p")).as("__nt_bnd"))
    rows.join(broadcast(arr))
      .withColumn(out, (lit(1) + size(filter(col("__nt_bnd"),
        b => b.getField("v") < v ||
          (b.getField("v") === v && b.getField("id") < id)))).cast("int"))
      .drop("__nt_bnd")
  }

  /** Grouped form of [[withExactNtile]]: adds `out` = exact
    * `ntile(tiles) OVER (PARTITION BY groupCol ORDER BY valueCol ASC,
    * idCol ASC)` — bit-identical to the per-group window, including
    * the +1-row leading buckets of each group's own fill rule and
    * ties split by `idCol` — without EVER sorting a whole group
    * inside one task (the per-group `ntile` window's failure mode:
    * at corpus scale the largest language IS most of the corpus, so
    * "partitioned by lang" still funnels tens of TB through a single
    * WindowExec partition).
    *
    * The boundary-spine algebra of [[withExactNtile]] transfers
    * unchanged because ntile's fill rule and tie-split are
    * per-group-independent: the histogram is keyed (group, value);
    * the cumulative window partitions BY GROUP over histogram rows
    * (per-partition cardinality = the group's value codomain, never
    * its row count); the boundary spine derives each group's t−1
    * boundary ranks from that group's own row count; and the
    * broadcast becomes a per-group boundary MAP — one array of
    * ≤ t−1 (value, id) pairs per group, joined back by a broadcast
    * hash join on the group key. Rows shuffle only inside the
    * histogram aggregation; no window's partition ever exceeds a
    * single (group, value) tie set or a group's value histogram.
    *
    * Contracts — enforced in-plan exactly as in [[withExactNtile]]
    * (same tiles==1 exemption), riding one extra histogram-frame
    * aggregate, plus one grouped-specific rule:
    *  - `valueCol` non-null, as before.
    *  - total (group, value) cardinality ≤ `maxDistinct`: the same
    *    histogram-collapse envelope, now also bounding the broadcast
    *    boundary map (≤ groups·(t−1) ≤ maxDistinct·(t−1) pairs;
    *    realistic group keys — language, source, cohort — keep it
    *    thousands of structs).
    *  - `groupCol` must be non-null: the boundary map joins back by
    *    group equality, and a null group key would silently drop out
    *    of every equi-join (the exact failure the value-null guard
    *    exists for) — coalesce null groups to a sentinel first.
    */
  def withExactNtileBy(rows0: DataFrame, groupCol: String, valueCol: String,
      idCol: String, tiles: Int, out: String,
      maxDistinct: Long = DefaultMaxDistinct): DataFrame = {
    require(tiles > 0, s"withExactNtileBy: tiles must be positive, got $tiles")
    require(maxDistinct >= 1,
      s"withExactNtileBy: maxDistinct must be positive, got $maxDistinct")
    if (tiles == 1) return rows0.withColumn(out, lit(1))
    val g = col(groupCol)
    val v = col(valueCol)
    val id = col(idCol)
    // feeds hist, boundary groups, output
    val rows = Materialize(rows0, "Rank.withExactNtileBy: rows")
    val hist = rows.groupBy(g.as("__nt_g"), v.as("__nt_v"))
      .agg(count(lit(1)).as("__nt_cnt"))
    val wv = Window.partitionBy(col("__nt_g")).orderBy(col("__nt_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val histC = hist
      .withColumn("__nt_before", coalesce(sum(col("__nt_cnt")).over(wv), lit(0L)))
    // per-group row counts AND the guard inputs in ONE pass over the
    // histogram (a separate guard-only aggregation would column-prune
    // into a non-reusable exchange and re-scan the row frame — plan-
    // verified); the result is one row per group, checkpointed so the
    // guard and the spine don't re-run the histogram aggregation. All
    // three guards then ride the spine via the broadcast join, so
    // every group's boundaries — and therefore every output tile —
    // depend on the raise_error column, firing before any tile emits
    val gcounts = hist.groupBy(col("__nt_g"))
      .agg(sum(col("__nt_cnt")).cast("long").as("__nt_n0"),
        count(lit(1)).cast("long").as("__nt_vals"),
        max(col("__nt_v").isNull.cast("int")).as("__nt_vnull"))
      .transform(Materialize(_, "Rank.withExactNtileBy: gcounts"))
    val guard = gcounts
      .agg(coalesce(sum(col("__nt_vals")), lit(0L)).as("__nt_card"),
        coalesce(max(col("__nt_vnull")), lit(0)).as("__nt_hasnull"),
        coalesce(max(col("__nt_g").isNull.cast("int")), lit(0)).as("__nt_gnull"))
    val gn = gcounts
      .join(broadcast(guard))
      .select(col("__nt_g").as("__nt_sg"),
        when(col("__nt_hasnull") === 1,
          raise_error(lit(s"withExactNtileBy: column '$valueCol' contains " +
            "nulls — a null has no place in the (value, id) total order; " +
            "filter or coalesce nulls first")).cast("long"))
        .when(col("__nt_gnull") === 1,
          raise_error(lit(s"withExactNtileBy: group column '$groupCol' " +
            "contains nulls — a null group key drops out of the boundary " +
            "equi-joins; coalesce null groups to a sentinel first")).cast("long"))
        .when(col("__nt_card") > maxDistinct,
          raise_error(concat(lit("withExactNtileBy: "),
            col("__nt_card").cast("string"),
            lit(s" distinct (group, value) pairs exceed the " +
              s"histogram-collapse envelope ($maxDistinct) — the tile " +
              "histogram would approach row cardinality; quantize the " +
              "value column first"))).cast("long"))
        .otherwise(col("__nt_n0")).as("__nt_n"))
    // per-group boundary ranks from that group's own n (same fill rule)
    val spine = gn
      .select(col("__nt_sg"),
        explode(sequence(lit(1L), lit((tiles - 1).toLong))).as("__nt_i"),
        expr(s"__nt_n div $tiles").as("__nt_base"),
        expr(s"__nt_n % $tiles").as("__nt_rem"))
      .select(col("__nt_sg"), col("__nt_i"),
        when(col("__nt_i") <= col("__nt_rem"),
            col("__nt_i") * (col("__nt_base") + 1))
          .otherwise(col("__nt_rem") * (col("__nt_base") + 1) +
            (col("__nt_i") - col("__nt_rem")) * col("__nt_base")).as("__nt_e"))
      .filter(col("__nt_e") >= 1)
    // locate each group's boundary ranks inside that group's buckets
    val bSpec = histC.join(broadcast(spine),
        col("__nt_g") === col("__nt_sg") &&
          col("__nt_before") < col("__nt_e") &&
          col("__nt_e") <= col("__nt_before") + col("__nt_cnt"))
      .select(col("__nt_g").as("__nt_bg"), col("__nt_v").as("__nt_bv"),
        (col("__nt_e") - col("__nt_before")).as("__nt_o"))
    // the o-th smallest id within each boundary (group, value) tie set —
    // the only row-level ranking; every partition is ONE tie set
    val wIn = Window.partitionBy(col("__nt_bg2"), col("__nt_bv2"))
      .orderBy(col("__nt_bid2"))
    val bPairs = rows
      .select(g.as("__nt_bg2"), v.as("__nt_bv2"), id.as("__nt_bid2"))
      .join(broadcast(bSpec.select(col("__nt_bg").as("__nt_bg2"),
          col("__nt_bv").as("__nt_bv2")).distinct()),
        Seq("__nt_bg2", "__nt_bv2"), "leftsemi")
      .withColumn("__nt_rn", row_number().over(wIn))
      .join(broadcast(bSpec),
        col("__nt_bg2") === col("__nt_bg") &&
          col("__nt_bv2") === col("__nt_bv") && col("__nt_rn") === col("__nt_o"))
      .select(col("__nt_bg"),
        struct(col("__nt_bv2").as("v"), col("__nt_bid2").as("id")).as("__nt_p"))
    // the per-group boundary map: one array of ≤ t−1 pairs per group
    // (duplicates kept for n_g < t, exactly as in the global form);
    // every non-empty group has boundaries (e_1 ≥ 1 whenever n_g ≥ 1),
    // so the broadcast hash join back is inner without loss
    val arr = bPairs.groupBy(col("__nt_bg"))
      .agg(collect_list(col("__nt_p")).as("__nt_bnd"))
    rows.join(broadcast(arr), g === col("__nt_bg"))
      .withColumn(out, (lit(1) + size(filter(col("__nt_bnd"),
        b => b.getField("v") < v ||
          (b.getField("v") === v && b.getField("id") < id)))).cast("int"))
      .drop("__nt_bg", "__nt_bnd")
  }

  /** Exact per-group running sums (and, with a ones column, the exact
    * per-group `row_number`) over a caller-supplied total order —
    * WITHOUT any window whose partition is a whole group. This is the
    * primitive behind the round-12 de-globalization of the
    * "PARTITION BY low-cardinality-key" window family (per-language
    * packing/sampling/budget selection, per-segment rank statistics):
    * `Window.partitionBy(lang)` LOOKS parallel, but each partition is
    * an entire language — most of a corpus, through one task.
    *
    * Decomposition (the classic two-pass distributed prefix sum,
    * expressed in DataFrame operations):
    *  1. range-repartition by (group, order...) and stamp each row
    *     with its partition id — every partition holds a CONTIGUOUS
    *     slice of the group-major total order (a group may span many
    *     partitions; that is the point). The frame is checkpointed so
    *     both passes read ONE frozen partition assignment.
    *  2. per-(partition, group) weight totals — a tiny P×groups
    *     frame — take a per-group cumulative window ORDERED BY
    *     partition id (runs over the tiny frame) to yield each
    *     (partition, group) cell's offset: the weight mass of the
    *     group in all EARLIER partitions.
    *  3. a window partitioned by (partition id, group) computes the
    *     LOCAL running sum — its partition never exceeds one range
    *     partition (≈ n/P rows), whatever the group sizes are — and
    *     the broadcast offset join lifts local to global.
    *
    * The output is independent of WHERE the range boundaries fall
    * (offset + local sum telescopes identically for any contiguous
    * cut), so range-sampling variability never reaches the result;
    * determinism needs only what the window form itself needed — that
    * `orderCols` is a total order (tie-break on a unique id).
    *
    * `weights` maps existing column names to output names; each output
    * is the INCLUSIVE running sum of that column (exclusive = out −
    * weight; row_number = running sum of a `lit(1L)` column). Weight
    * nulls are skipped by sum on both paths, matching the window form.
    * Group nulls are joined null-safely (they form their own group,
    * as PARTITION BY treats them). `orderCols` may carry `.desc`.
    */
  def withGroupedPrefixSums(rows0: DataFrame, groupCol: String,
      orderCols: Seq[Column], weights: Seq[(String, String)],
      numPartitions: Option[Int] = None): DataFrame = {
    require(weights.nonEmpty, "withGroupedPrefixSums: need weight columns")
    require(orderCols.nonEmpty, "withGroupedPrefixSums: need order columns")
    // the group-change detection in the local pass compares external
    // values with ==, and the offset join is a null-safe equi-join —
    // both need an atomic group type (array/struct/map/binary groups
    // would compare by reference or fail to join predictably)
    require({
      import org.apache.spark.sql.types._
      rows0.schema(groupCol).dataType match {
        case _: ArrayType | _: StructType | _: MapType | BinaryType => false
        case _ => true
      }
    }, s"withGroupedPrefixSums: group column '$groupCol' must be an atomic " +
      s"scalar type, got ${rows0.schema(groupCol).dataType.simpleString}")
    // the local pass accumulates with longValue(): a fractional weight
    // would silently truncate per row instead of summing — enforce the
    // documented "integral weights, cast first" contract
    weights.foreach { case (w, _) =>
      require({
        import org.apache.spark.sql.types._
        rows0.schema(w).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }, s"withGroupedPrefixSums: weight column '$w' must be an integral " +
        s"type (cast first), got ${rows0.schema(w).dataType.simpleString}")
    }
    val g = col(groupCol)
    val spark = rows0.sparkSession
    val p = numPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val ranged = rows0
      .repartitionByRange(p, (g +: orderCols): _*)
      .sortWithinPartitions((g +: orderCols): _*)
      .withColumn("__pp_pid", spark_partition_id())
      // ONE frozen partition assignment, both passes
      .transform(Materialize(_, "Rank.withGroupedPrefixSums: ranged"))
    // pass 1: per-(partition, group) totals → per-group running offsets
    // over the tiny P×groups frame (window ordered by pid, agg below)
    val totals = ranged.groupBy(col("__pp_pid"), g.as("__pp_g"))
      .agg(weights.map { case (w, _) =>
        sum(col(w)).as(s"__pp_t_$w") }.head,
        weights.drop(1).map { case (w, _) => sum(col(w)).as(s"__pp_t_$w") }: _*)
    val wOff = Window.partitionBy(col("__pp_g")).orderBy(col("__pp_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // no coalesce: a null offset means "no non-null weight in any
    // earlier partition", which the final reconstruction needs to
    // tell apart from a zero sum (window null semantics)
    val offs = weights.foldLeft(totals) { case (df, (w, _)) =>
      df.withColumn(s"__pp_o_$w", sum(col(s"__pp_t_$w")).over(wOff))
    }.select(col("__pp_pid").as("__pp_pid2") +: col("__pp_g") +:
      weights.map { case (w, _) => col(s"__pp_o_$w") }: _*)
    // pass 2: local running sums ride mapPartitions over the ALREADY
    // range-sorted checkpoint — no window, no extra exchange; the
    // per-task state is one accumulator per weight, reset on group
    // change (rows of a group are contiguous within the partition by
    // the range sort). Weight columns must be integral (cast first);
    // running-sum null semantics match the window form: the local sum
    // is null until the slice has seen a non-null weight
    val inSchema = ranged.schema
    val gIdx = inSchema.fieldIndex(groupCol)
    val wIdxs = weights.map { case (w, _) => inSchema.fieldIndex(w) }.toArray
    val outSchema = org.apache.spark.sql.types.StructType(inSchema.fields ++
      weights.map { case (w, _) => org.apache.spark.sql.types.StructField(
        s"__pp_l_$w", org.apache.spark.sql.types.LongType, nullable = true) })
    val nW = weights.size
    // group-change detection must agree with SQL grouping semantics
    // (groupBy and the <=> join normalize NaN to one group and -0.0 to
    // 0.0, Spark's NormalizeFloatingNumbers). Neither JVM comparison
    // gives both on its own: Scala == on boxed doubles is primitive
    // semantics (NaN != NaN → the accumulator would reset between NaN
    // rows), Objects.equals is bits semantics (-0.0 != 0.0 → reset
    // between signed zeros). So: Objects.equals for the comparison
    // (doubleToLongBits canonicalizes every NaN) plus an explicit
    // signed-zero normalization.
    val normGroup: Any => Any = inSchema.fields(gIdx).dataType match {
      case org.apache.spark.sql.types.DoubleType => {
        case d: java.lang.Double if d.doubleValue() == 0.0 =>
          java.lang.Double.valueOf(0.0)
        case v => v
      }
      case org.apache.spark.sql.types.FloatType => {
        case f: java.lang.Float if f.floatValue() == 0.0f =>
          java.lang.Float.valueOf(0.0f)
        case v => v
      }
      case _ => identity[Any]
    }
    val local = ranged.mapPartitions { it =>
      var started = false
      var cur: Any = null
      val sums = new Array[Long](nW)
      val seen = new Array[Boolean](nW)
      it.map { r =>
        val gv = normGroup(r.get(gIdx))
        if (!started || !java.util.Objects.equals(gv, cur)) {
          started = true; cur = gv
          java.util.Arrays.fill(sums, 0L)
          java.util.Arrays.fill(seen, false)
        }
        val extra = new Array[Any](nW)
        var i = 0
        while (i < nW) {
          val v = r.get(wIdxs(i))
          if (v != null) {
            sums(i) += v.asInstanceOf[Number].longValue()
            seen(i) = true
          }
          extra(i) = if (seen(i)) java.lang.Long.valueOf(sums(i)) else null
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ extra)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val joined = local.join(broadcast(offs),
      col("__pp_pid") === col("__pp_pid2") && (g <=> col("__pp_g")))
    weights.foldLeft(joined) { case (df, (w, out)) =>
      // a slice whose prefix holds only null weights carries the
      // earlier-partition offset alone (the window form's semantics:
      // null only when NO non-null weight precedes the row anywhere)
      df.withColumn(out,
        when(col(s"__pp_l_$w").isNull, col(s"__pp_o_$w"))
          .otherwise(coalesce(col(s"__pp_o_$w"), lit(0L)) + col(s"__pp_l_$w"))
          .cast("long"))
    }.drop("__pp_pid", "__pp_pid2", "__pp_g")
      .drop(weights.flatMap { case (w, _) => Seq(s"__pp_o_$w", s"__pp_l_$w") }: _*)
  }
}
