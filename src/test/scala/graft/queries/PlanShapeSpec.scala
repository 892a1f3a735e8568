package graft.queries

import graft.SparkSpec
import graft.testutil.Declared
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, row_number, sum}

/** Physical-plan shape assertions for the declared queries — the
  * properties that make the plans survive a 100× scale-up (SCALE.md):
  * filters/projection reaching the parquet scan, small dimensions
  * broadcast instead of shuffled, top-k compiling to
  * TakeOrderedAndProject rather than a global sort, partial+final
  * aggregation, and no accidental cartesian products.
  *
  * Asserting on plan strings is deliberately coarse: the point is to
  * fail loudly if a future refactor silently degrades a plan (e.g. a
  * cast added above a filter blocking pushdown), not to pin exact
  * operator trees.
  */
class PlanShapeSpec extends SparkSpec {

  private def qe(df: DataFrame): QueryExecution = df.queryExecution
  private def physical(df: DataFrame): String = qe(df).executedPlan.toString
  private def optimized(df: DataFrame): String = qe(df).optimizedPlan.toString

  test("q02: both predicates and the 3-column projection reach the parquet scan") {
    val plan = physical(RelationalQueries.q02(spark, sf001))
    // (the PushedFilters list renders truncated — assert on the prefix)
    assert(plan.contains("PushedFilters: [IsNotNull("), plan)
    assert(plan.contains("GreaterThan(c_acctbal,1000"), plan)
    // column pruning: the scan must not read the unused address/phone
    assert(!plan.contains("c_address"), plan)
  }

  test("q04: dimension joins broadcast; no sort-merge exchange for the join") {
    val plan = physical(RelationalQueries.q04(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q05/q06: anti and semi joins compile to hash joins, not subquery loops") {
    assert(physical(RelationalQueries.q05(spark, sf001)).contains("LeftAnti"))
    assert(physical(RelationalQueries.q06(spark, sf001)).contains("LeftSemi"))
  }

  test("q07: aggregation is partial+final (map-side combine before the exchange)") {
    val plan = physical(RelationalQueries.q07(spark, sf001))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("q13: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = physical(RelationalQueries.q13(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("x06: brute-force scoring broadcasts the query side (no cartesian shuffle)") {
    val plan = physical(Declared("x06")(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x189/x190/x192/x194: recall/mining rankings ride the bounded-heap " +
      "aggregator (zero WindowExec) with the query side broadcast") {
    Seq(Declared("x189"), Declared("x190"),
        Declared("x192"), Declared("x194")).foreach { q =>
      val plan = physical(q(spark, sf001))
      // long corpus ids take the TopKScored path: a WindowExec here
      // would mean the whole scored corpus shuffles into one partition
      // per query — the exact shape rankTopK exists to avoid
      assert(!plan.contains("WindowExec"), plan.take(4000))
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"), plan.take(4000))
      assert(!plan.contains("CartesianProduct"), plan.take(4000))
      assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    }
  }

  test("x191/x193: audit aggregations keep partial+final combine and " +
      "no corpus-wide window") {
    val ood = physical(Declared("x191")(spark, sf001))
    assert(!ood.contains("WindowExec"), ood.take(4000))
    assert(ood.contains("partial_"), ood.take(4000))
    // the (label, dim) stats frame joins back as a broadcast
    assert(ood.contains("BroadcastHashJoin"), ood.take(4000))
    val sweep = physical(Declared("x193")(spark, sf001))
    // the only windows in the sweep are the prefix-sum offset window
    // over the tiny P×strata totals frame — the blanket gate checks
    // the agg-below rule; here pin that no SortMergeJoin sneaks into
    // the budget branches (offsets broadcast back)
    assert(!sweep.contains("SortMergeJoin"), sweep.take(4000))
  }

  test("date-partitioned layout: a day predicate prunes directories, not rows") {
    // SCALE.md §1's claim made executable: when events land
    // date-partitioned (the 100 TB layout), a day filter must resolve
    // at PLANNING time as a PartitionFilter — zero data files of other
    // days opened — not as a row-level PushedFilter over the full scan.
    import org.apache.spark.sql.functions.{col, to_date, lit}
    val dir = "target/fixtures/events_by_day"
    graft.Tables.load(spark, sf001, "events")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-03")))
    val plan = physical(pruned)
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("(day"), plan) // the day predicate sits in that list
    // the partition predicate must NOT degrade to a parquet row filter
    assert(!plan.contains("PushedFilters: [IsNotNull(day"), plan)
    // behavioral check: the scan touched exactly one of the 30 day dirs
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, plan)
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, got ${scans.head.selectedPartitions.partitionCount}")
    // and the rows really are the one day's
    val expected = graft.Tables.load(spark, sf001, "events")
      .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-03"))).count()
    assert(pruned.count() == expected)
  }

  test("x09: quality features carry no HOF lambda (would break whole-stage codegen)") {
    // the aggregate() HOF formulation showed up as a lambdafunction in
    // the projection and disqualified the whole stage from codegen
    val plan = physical(Declared("x09")(spark, sf001))
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("r07: catalog lookup join broadcasts the deduplicated catalog side") {
    val plan = physical(ReferenceQueries.r07(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q19: correlated lookup decorrelates to one aggregate + one join (no per-row subquery)") {
    val plan = optimized(RelationalQueries.q19(spark, sf001))
    assert(!plan.toLowerCase.contains("scalarsubquery"), plan)
  }

  private def hashExchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length
  private def rangeExchanges(plan: String): Int =
    "Exchange rangepartitioning".r.findAllIn(plan).length

  test("q22: both windows and the final groupBy share ONE hash exchange on user_id") {
    val plan = physical(RelationalQueries.q22(spark, sf001))
    assert(hashExchanges(plan) == 1, plan)
  }

  test("x17: as-of join is one hash exchange on the key — no join node at all") {
    val plan = physical(Declared("x17")(spark, sf001))
    assert(hashExchanges(plan) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("x19: binned range join is an equi-join on the bin, not a cartesian/BNLJ") {
    val plan = physical(Declared("x19")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q28: pinned-value pivot is one aggregation pass (no distinct-values job)") {
    // pivot without an explicit value list runs an extra job to collect
    // the distinct pivot values before planning — the pinned list keeps
    // it a single partial+final aggregate over one scan
    val plan = physical(RelationalQueries.q28(spark, sf001))
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CollectLimit"), plan)
  }

  test("q29: sf-relative threshold joins as a broadcast, not a driver round-trip") {
    val plan = physical(RelationalQueries.q29(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("x26: fixed-centroid assignment is a narrow projection (no shuffle before list join)") {
    val plan = physical(Declared("x26")(spark, sf001))
    // the corpus side must reach the list_id bucket join through
    // projections only; the probe side is the broadcast
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x27: benchmark gram set broadcasts into the corpus-side join") {
    // (the post-join distinct/agg still shuffle — but only MATCHING
    // (doc_id, gram) pairs; the corpus side reaches the join without
    // a shuffle of its own)
    val plan = physical(Declared("x27")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
  }

  test("x37: group sizes broadcast onto the pair frame; no cartesian") {
    val plan = physical(Declared("x37")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x38: one partial+final hash agg, no join or window in the plan") {
    val plan = physical(Declared("x38")(spark, sf001))
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x39: percentile bounds broadcast; the corpus side is never shuffled for the join") {
    val plan = physical(Declared("x39")(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x40: sequences build as one partial+final objectagg, no window exchange") {
    val plan = physical(Declared("x40")(spark, sf001))
    assert(plan.contains("partial_collect_list") || plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x41: signature projection is codegen-compiled (no interpreted HOF)") {
    val plan = physical(Declared("x41")(spark, sf001))
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("x43: metric joins are hash joins on the doc id, bounds broadcast, no cartesian") {
    val plan = physical(Declared("x43")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x44: stratum rates broadcast onto a map-side filter; corpus never sort-merge joined") {
    val plan = physical(Declared("x44")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x45: one window over the key partition, no join in the plan") {
    val plan = physical(Declared("x45")(spark, sf001))
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("x46: per-group top-k is a partial-merging aggregate, NOT a window sort") {
    val plan = physical(Declared("x46")(spark, sf001))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q47-q49: generate/array/regex queries stay narrow — no join, no agg shuffle") {
    Seq(RelationalQueries.q47, RelationalQueries.q48, RelationalQueries.q49)
      .foreach { q =>
        val plan = physical(q(spark, sf001))
        assert(!plan.contains("Join"), plan)
        assert(!plan.contains("hashpartitioning"), plan) // only the orderBy range exchange
        assert(!plan.contains("ScalaUDF"), plan)
      }
    // q47's partkey predicate reaches the scan (pushdown under the generate)
    val p47 = physical(RelationalQueries.q47(spark, sf001))
    assert(p47.contains("LessThan(p_partkey,50"), p47)
  }

  test("x58: BM25 ranks via the bounded heap, NOT a per-query window") {
    val plan = physical(Declared("x58")(spark, sf001))
    // ranking must be the TopKScored aggregate: a row_number window
    // would shuffle EVERY candidate doc for a query into one partition
    // (heavy-hitter skew on common-term queries)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // corpus stats (1 row) and the query list broadcast; the only
    // allowed nested-loop join is the 1-row stats attach
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x59: per-source cap is a bounded-heap aggregate, NOT a corpus window") {
    val plan = physical(Declared("x59")(spark, sf001))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("x60: vocabulary membership probe is a broadcast join over one token pass") {
    val plan = physical(Declared("x60")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x62: snapshot diff hashes BEFORE the one full-outer shuffle (no payload on the wire)") {
    val df = Declared("x62")(spark, sf001)
    val plan = physical(df)
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the exchange feeding the join must carry (doc_id, md5), not text:
    // md5 is computed below the join, so "text" appears only in scans
    // (unwrap AQE — collect() does not descend into AdaptiveSparkPlanExec)
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val joins = inner.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.nonEmpty, plan)
    joins.foreach { j =>
      (j.left.output ++ j.right.output).foreach(a =>
        assert(a.name != "text", s"payload column crossed the shuffle: $plan"))
    }
    // all four statuses occur non-vacuously on the fixture
    import spark.implicits._
    val statuses = df.select($"status").distinct().as[String].collect().toSet
    assert(statuses == Set("added", "removed", "changed", "unchanged"), statuses.toString)
  }

  test("x63: bloom probe is a map-side expression over a literal; membership join broadcasts") {
    val plan = physical(Declared("x63")(spark, sf001))
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("x64: leakage audit broadcasts the pair relation; split frame never shuffles pre-agg") {
    val plan = physical(Declared("x64")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x65: overlap screen broadcasts benchmark grams; corpus grams stay map-side to the join") {
    val plan = physical(Declared("x65")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("x66: Gini runs its window over the count HISTOGRAM, not the key frame") {
    val df = Declared("x66")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("Join"), plan)
    // the window's child must be the second (histogram) aggregate:
    // rank-over-keys would put the window directly over the per-key agg
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, plan)
    windows.foreach { w =>
      // histogram schema is (__c, __m): two columns, both aggregated
      assert(w.child.output.map(_.name).toSet == Set("__c", "__m"),
        s"window over ${w.child.output.map(_.name)}: $plan")
    }
  }

  test("x61: the whole expectation suite is ONE partial+final aggregate pass") {
    val plan = physical(Declared("x61")(spark, sf001))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    // one scan of orders feeds every rule (adding rules must not add scans)
    assert("FileScan parquet".r.findAllIn(plan).size == 1 ||
      "Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("x48: redaction is one narrow projection — no shuffle before the final sort") {
    val plan = physical(Declared("x48")(spark, sf001))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("hashpartitioning"), plan) // only the orderBy range exchange
    assert(!plan.contains("lambdafunction"), plan)   // stays codegen-compilable
  }

  test("x49: span dedup is agg+join on the span hash — no window, no cartesian") {
    val plan = physical(Declared("x49")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x50: phase-1 aggregate keys on (user_id, __salt); no join, no window") {
    val plan = physical(Declared("x50")(spark, sf001))
    assert(plan.contains("__salt"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x51: within-cluster pair join is an equi-join on list_id, never cartesian") {
    val plan = physical(Declared("x51")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("list_id"), plan)
  }

  test("x52: quantize is codegen'd (no interpreted HOF); agg is partial+final") {
    val plan = physical(Declared("x52")(spark, sf001))
    assert(!plan.contains("lambdafunction"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x53: sketch and exact count share ONE deduped hash frame (single distinct)") {
    val plan = physical(Declared("x53")(spark, sf001))
    // the localCheckpoint collapses the shared distinct into a scan —
    // the gram explode + dedup must not appear once per consumer
    assert(!plan.contains("CartesianProduct"), plan)
    val explodes = "Generate explode".r.findAllIn(plan).length
    assert(explodes <= 1, s"gram explode ran $explodes times:\n$plan")
  }

  test("x54: census broadcast onto a map-side explode; corpus never sort-merge joined") {
    val plan = physical(Declared("x54")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("x55: term equi-join candidates; argmax is a partial+final " +
    "min(struct) aggregation — no window, no per-doc sort (r18: the " +
    "WindowGroupLimit form still sorted each exchange partition)") {
    val plan = physical(Declared("x55")(spark, sf001))
    // the only nested-loop join allowed is the 1-row doc-census
    // broadcast (the x39 bounds pattern) — never a doc×doc cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    // the argmax must combine map-side (16 bytes per doc through the
    // exchange) and never fall back to a window + sort
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q43: filters pushed on every scan; top-10 is TakeOrderedAndProject") {
    val plan = physical(RelationalQueries.q43(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull("), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x56: moments broadcast back onto the daily frame; no window, no cartesian") {
    val plan = physical(Declared("x56")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q44: six-table join broadcasts the dims, no cartesian/BNLJ") {
    val plan = physical(RelationalQueries.q44(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q41: unpivot is a narrow expand — no shuffle besides the final sort") {
    val plan = physical(RelationalQueries.q41(spark, sf001))
    assert(hashExchanges(plan) == 0, plan)
    assert(rangeExchanges(plan) <= 1, s"expected only the sort exchange:\n$plan")
  }

  test("q45: array lambdas stay a narrow codegen projection — no UDF, no shuffle " +
    "besides the final sort, 2-column scan") {
    val df = RelationalQueries.q45(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(hashExchanges(plan) == 0, plan)
    assert(rangeExchanges(plan) <= 1, s"expected only the sort exchange:\n$plan")
    // column pruning: only p_partkey + p_name are read
    assert(plan.contains("ReadSchema: struct<p_partkey"), plan)
    assert(!plan.contains("p_retailprice"), plan)
  }

  test("x69: the collision-scale cluster map broadcasts onto the corpus " +
    "(no corpus shuffle for the split assignment)") {
    val plan = physical(Declared("x69")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the corpus side must not sort-merge against the cluster map
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x70: sample gate is map-side below ONE partial+final aggregation") {
    val plan = physical(Declared("x70")(spark, sf001))
    // percentile is an object agg — partial on the mapper, final after
    // the single group-by exchange; the hash-gate filter adds no
    // exchange of its own and there is no join anywhere. The docs()
    // RoundRobinPartitioning spread is intended and not counted.
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Join"), plan)
    assert(hashExchanges(plan) == 1, s"expected the group-by exchange only:\n$plan")
    assert(rangeExchanges(plan) <= 1, s"expected the sort exchange only:\n$plan")
  }

  test("x71: two-phase prefix sum — no window over a whole language, " +
    "offsets broadcast, no cartesian (round 12)") {
    // pre-r12 this pinned "one per-group window" — exactly the shape
    // the round removed: a per-language window sorts a whole language
    // in ONE task. Now the plan must show the grouped-prefix-sum
    // decomposition: every window either rides an aggregated frame
    // (the P×groups offsets) or partitions by (partition id, group)
    val df = Declared("x71")(spark, sf001)
    val plan = physical(df)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // the offset join
    assert(!plan.contains("CartesianProduct"), plan)
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      val aggBelow = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty || w.partitionSpec.size >= 2,
        s"window sorts a whole language in one task: $w")
    }
  }

  test("x74: the one-row sketch broadcasts; token counting is partial+final") {
    val plan = physical(Declared("x74")(spark, sf001))
    // the exact top-k joins AGAINST the sketch — never the reverse: a
    // shuffled join here would move the sketch per-partition for no
    // reason, and at 100 TB the token-count aggregation must combine
    // map-side (the shuffle carries (token, partial_count), not rows)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_"), plan)
  }

  test("x75: one narrow pass — kernel projection fused over a pruned 2-column scan, no join") {
    val plan = physical(Declared("x75")(spark, sf001))
    // (the AQE plan prints pre-execution without WholeStageCodegen
    // annotations; codegen-vs-interpreted agreement for the kernel is
    // pinned directly in VectorExpressionsSpec)
    assert(!plan.contains("Join"), plan)
    // the kernel runs once, in a Project directly over the scan's
    // filter — not re-derived per output column
    assert("jl_project".r.findAllIn(plan).length == 1, plan)
    // scan pruned to the two columns the query reads; the validity
    // screen reaches the scan's DataFilters
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), plan)
    assert(plan.contains("DataFilters: [(size(embedding"), plan)
  }

  test("x78: corpus collapses to distinct words before pair expansion; top-N is a bounded heap") {
    val plan = physical(Declared("x78")(spark, sf001))
    // the final cut must be TakeOrderedAndProject (per-partition heap),
    // never a global Sort feeding a Limit — at 100 TB the pair
    // histogram is vocab-sized but the sort would still be a full
    // range-partitioned shuffle
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // both aggregations (word counts, pair counts) combine map-side
    assert("partial_count".r.findAllIn(plan).length >= 1, plan)
    assert("partial_sum".r.findAllIn(plan).length >= 1, plan)
  }

  test("x79: sessionization windows and the per-session aggregate share ONE user_id shuffle") {
    val plan = physical(Declared("x79")(spark, sf001))
    // lag + running-sum windows partition on user_id; the
    // (user_id, session_id) hash aggregate's clustering requirement is
    // satisfied by that same partitioning (subset rule), so the whole
    // query is one hash exchange plus the output sort
    assert(hashExchanges(plan) == 1, plan)
  }

  test("x81: equi-join on the gram key, partial+final aggs, no windows or nested loops") {
    val plan = physical(Declared("x81")(spark, sf001))
    // the join strategy (broadcast at toy sf, shuffle at scale) is
    // Catalyst's stats call — what must hold at EVERY scale is: a
    // keyed equi-join (never a nested loop over the gram dictionary),
    // map-side-combining aggregates, and no window formulation of
    // "first occurrence"
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert("partial_min".r.findAllIn(plan).nonEmpty, plan)
    // gram→groupBy, join probe side, doc→groupBy; the first-occurrence
    // aggregate's own partitioning feeds the join without a 4th
    assert(hashExchanges(plan) <= 3, plan)
  }

  test("x76: the k-NN self-join is a bucket-keyed equi-join ranked by the bounded heap, not a window") {
    val plan = physical(Declared("x76")(spark, sf001))
    // all-pairs scoring would surface as a nested loop; ranking the
    // scored pairs through a Window would shuffle every scored triple
    // to one partition per src
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(!plan.contains("Window"), plan)
    // the TopKScored aggregator runs partial-then-final
    assert(plan.contains("partial_topkscored") || plan.contains("TopKScored"), plan)
  }

  test("x82: PageRank's output reads the final checkpoint — iterative lineage truncated") {
    val plan = physical(Declared("x82")(spark, sf001))
    // the per-round localCheckpoint means the consumer plan is a scan
    // of materialized rank blocks, NOT a replay of the whole iteration
    // chain (the classic iterative-lineage OOM/recompute trap); the
    // per-round join+agg shapes are pinned by GraphSpec's semantics
    // tests, which execute the rounds
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("x85: one tokenization feeds all token signals; assembly is doc-keyed joins, no window") {
    val plan = physical(Declared("x85")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    // the scorecard itself must not introduce a window (the canonical
    // chain's per-cluster row_number is bounded-heap by construction
    // in canonicalizeClusters — also window-free)
    assert(!plan.contains("Window"), plan)
  }

  test("x92: retention is aggregation-only — no window, cohort sizes broadcast") {
    val plan = physical(Declared("x92")(spark, sf001))
    // the per-user first-event and the (cohort, offset) rollup are hash
    // aggregations (partial+final); a window here would mean a per-user
    // sort that the operator deliberately avoids
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_min") || plan.contains("partial_count"), plan)
    // the week-cardinality cohort-size frame must broadcast, not shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("x93: link prediction is keyed equi-joins over checkpointed adjacency — " +
    "no window, no cartesian") {
    val plan = physical(Declared("x93")(spark, sf001))
    // adjacency is localCheckpoint'd (wedge + degree + anti-join reuse)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x94: MAD screen joins group-cardinality frames by broadcast — no window") {
    val plan = physical(Declared("x94")(spark, sf001))
    // both medians are grouped aggregates; the ≤|groups|-row med/mad
    // frames broadcast against the corpus-scale side
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x95: the systematic draw's cumulative line is the two-phase " +
    "prefix sum — no whole-stratum window, no global sort (round 12)") {
    val df = Declared("x95")(spark, sf001)
    val plan = physical(df)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      val aggBelow = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      // offsets window rides the P×strata totals frame; the local
      // cumsum window partitions by (partition id, stratum)
      assert(aggBelow.nonEmpty || w.partitionSpec.size >= 2,
        s"window buffers a whole stratum in one task: $w")
    }
  }

  test("x97: actives collapse to the (day,user) frame first; day list broadcasts " +
    "into the range join") {
    val plan = physical(Declared("x97")(spark, sf001))
    // the trailing-window join must be the broadcast of the tiny
    // distinct-days frame against the compact (day,user) frame — a
    // shuffled range join (or worse, a cartesian) here would move
    // event-volume data windowDays times
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x98: the per-source top-N short-circuits via WindowGroupLimit") {
    val plan = physical(Declared("x98")(spark, sf001))
    // rank <= 5 must compile to the partial+final WindowGroupLimit
    // pushdown (bounded per-partition heaps before the exchange), not
    // a full per-source sort of the vocab frame
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x99: the forward as-of compiles to one keyed window — no join node at all") {
    val plan = physical(Declared("x99")(spark, sf001))
    // tag → unionByName → running window: the as-of never materializes
    // a join operator, so there is nothing to mis-broadcast or skew
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x100: mixture drift is aggregation + profile-cardinality grid joins — no window") {
    val plan = physical(Declared("x100")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    // the margins cross on group/category-cardinality frames; the
    // corpus-volume work is the single (group, category) aggregation
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }

  test("x101: PQ scores against broadcast queries; ranking is the bounded heap, no window") {
    val plan = physical(Declared("x101")(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x102: kappa is ONE corpus aggregation; the pair explosion reuses the 1-row result") {
    val df = Declared("x102")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // the three pair rows must come from a reused exchange/subtree of
    // the single flag aggregate, not three re-scans of the corpus —
    // ReusedExchange (or a collapsed union over one aggregate) shows up
    assert(plan.contains("ReusedExchange") || plan.contains("Union"), plan)
  }

  test("x108-x111: the compact-frame analytics stay window-free with " +
    "partial+final aggregation") {
    for (q <- Seq(Declared("x108"), Declared("x109"),
        Declared("x110"), Declared("x111"))) {
      val plan = physical(q(spark, sf001))
      // each collapses the data volume in ONE partial+final hash
      // aggregation; everything after runs on day/week/class-
      // cardinality frames — a window or cartesian here would mean
      // the compact-frame design regressed
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    }
  }

  test("x120: per-user windows hash-partition on the user key — never a " +
    "single global partition") {
    val plan = physical(Declared("x120")(spark, sf001))
    assert(plan.contains("Window"), plan)
    assert(plan.contains("hashpartitioning(u"), plan)
  }

  test("x113: equi-depth bins are grouped histogram tiles — no window " +
    "ever sorts a whole language group in one task (VERDICT r11 item 1)") {
    // the old shape was ntile(8) OVER (PARTITION BY lang ORDER BY ...):
    // partitioned, but each partition sorted the ENTIRE group inside
    // one task — the largest language IS most of a corpus at 100×.
    // withExactNtileBy's windows run only over (a) the (group, value)
    // HISTOGRAM (an aggregation sits below) or (b) boundary tie sets
    // (partition spec includes the VALUE column, so no partition
    // exceeds one (group, value) tie set)
    val df = Declared("x113")(spark, sf001)
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the histogram cumulative window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window: $w")
      val aggBelow = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }
      assert(aggBelow.nonEmpty || w.partitionSpec.size >= 2,
        s"window sorts a whole raw group in one task: $w")
    }
    assert(!physical(df).contains("ntile("), "per-group ntile window is back")
  }

  test("x114/x116/x117: aggregation-first analytics — partial+final combine, " +
    "tiny frames broadcast, no cartesian") {
    for (q <- Seq(Declared("x114"), Declared("x116"),
        Declared("x117"))) {
      val plan = physical(q(spark, sf001))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("x115/x121: the group/canonical relation joins back by broadcast — " +
    "the corpus side never shuffles for it") {
    for (q <- Seq(Declared("x115"), Declared("x121"))) {
      val plan = physical(q(spark, sf001))
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
    // x121 specifically must stay window-free: quartiles are grouped
    // order statistics, not per-row window percentiles
    assert(!physical(Declared("x121")(spark, sf001)).contains("Window"))
  }

  test("x118: the pairing is an equi-join on (bucket, rank) — no cartesian, " +
    "no theta join") {
    val plan = physical(Declared("x118")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    // the A↔B pairing itself is a hash equi-join; the only nested-loop
    // joins are Rank.withExactNtile's tiny broadcasts (≤ t−1 boundary
    // rows ranged against the value histogram, and the 1-row pair array)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("x118: the pair_rank is two-level — no window ranks a whole " +
    "(bucket, cohort) slice in one task (VERDICT r11 item 8)") {
    // the r11 watch item: row_number OVER (PARTITION BY bucket, c
    // ORDER BY v, id) put n/buckets rows in one task. Now every
    // row-level window over the raw frame is either the subtiled rank
    // (≥ 3 partition columns — (bucket, cohort, subtile)) or a
    // boundary tie-set window (single ORDER column, the id tie-break,
    // partitioned by value so each partition is one tie set); windows
    // over aggregated frames (histograms, the subtile-offset counts)
    // are exempt via the agg-below rule
    val df = Declared("x118")(spark, sf001)
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val aggBelow = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty || w.partitionSpec.size >= 3 ||
        w.orderSpec.size == 1,
        s"window ranks a whole (bucket, cohort) slice in one task: $w")
    }
  }

  test("x119: coverage runs on the count histogram — token counting is " +
    "partial+final; the window sees histogram rows, not the vocabulary") {
    val df = Declared("x119")(spark, sf001)
    val plan = physical(df)
    assert(plan.contains("partial_count"), plan)
    // two stacked aggregations (token counts → count histogram) must
    // both survive optimization: the histogram collapse IS the scale
    // property
    val aggs = plan.sliding("HashAggregate".length).count(_ == "HashAggregate")
    assert(aggs >= 4, s"expected >= 4 HashAggregate nodes (2 partial+final), got $aggs\n$plan")
  }

  test("x112: entity sizes broadcast back; closure output joins without cartesian") {
    val plan = physical(Declared("x112")(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x122: fingerprint pairing is an equi-join on the fingerprint value — " +
    "no cartesian, df-cap aggregation is partial+final") {
    val plan = physical(Declared("x122")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("x123: the trend is aggregation + a broadcast week spine — no window") {
    val plan = physical(Declared("x123")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x124/x125: the event volume collapses or shuffles ONCE on the user key") {
    // x124: per-user aggregation is partial+final; tiles run on the
    // user-cardinality frame
    val p124 = physical(Declared("x124")(spark, sf001))
    assert(p124.contains("partial_count"), p124)
    // x125: ONE keyed window does both attributions — no join node
    val p125 = physical(Declared("x125")(spark, sf001))
    assert(p125.contains("Window"), p125)
    assert(p125.contains("hashpartitioning(__u"), p125)
    assert(!p125.contains("Join"), p125)
  }

  test("x126: the interval overlap compiles to a bucket equi-join — " +
    "no cartesian, no nested loop") {
    val plan = physical(Declared("x126")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
  }

  test("x127: the pair sample is a group-keyed BroadcastHashJoin and the " +
    "histogram materializes once (the totals join reads the checkpoint)") {
    val plan = physical(Declared("x127")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    // the one BNLJ is the 1-row totals broadcast onto the ≤20-row
    // histogram — scale-safe by construction; the PAIR join must be
    // the hash join, and the pair scoring must appear ONCE (the
    // histogram checkpoint feeds both branches)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.sliding("cosinesimilarity".length)
        .count(_ == "cosinesimilarity") <= 1, plan)
    val pairScorings = plan.sliding("cosinesimilarity".length)
      .count(_ == "cosinesimilarity")
    assert(pairScorings <= 1, s"pair join computed $pairScorings times\n$plan")
  }

  test("x128: dup membership broadcasts onto the decile frame — no corpus " +
    "shuffle for the calibration join, and the deciles are histogram " +
    "tiles, not a corpus-global window (VERDICT r10 item 1)") {
    val df = Declared("x128")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x129: the bootstrap is one (group, replicate) partial+final aggregation — " +
    "the ×B expansion happens map-side under it, no join for the weights") {
    val plan = physical(Declared("x129")(spark, sf001))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the rank algebra runs on the group×B frame, partitioned by group
    assert(plan.contains("Window"), plan)
    assert(plan.contains("hashpartitioning(lang"), plan)
  }

  test("x130: the reshard plan is a single partial+final aggregation — " +
    "no join, no window, no data movement") {
    val plan = physical(Declared("x130")(spark, sf001))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x131: pair building is an equi-join on (doc, position) and the top-50 " +
    "cut is TakeOrderedAndProject, not a global sort") {
    val plan = physical(Declared("x131")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q50: the correlated LATERAL decorrelates — no per-region subquery " +
    "execution, no cartesian; the customer count is partial+final") {
    val plan = physical(RelationalQueries.q50(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
    // a surviving per-row lateral would show as a nested subquery node
    assert(!plan.contains("ScalarSubquery"), plan)
  }

  test("x132: group CDF windows partition by group, never a global sort; " +
    "no cartesian in the grid assembly") {
    // the histogram collapse itself happens at the gv checkpoint
    // (upstream of this plan) — what this plan must show is the
    // per-group window partitioning and a join-shaped grid
    val plan = physical(Declared("x132")(spark, sf001))
    assert(plan.contains("windowspecdefinition(grp"), plan)
    assert(plan.contains("hashpartitioning(grp"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x133: the cohort collapses via partial+final hash aggregates and " +
    "the 1-row horizon broadcasts — no cartesian, no per-event window") {
    val plan = physical(Declared("x133")(spark, sf001))
    // first-signup and first-conversion are aggregates (map-side
    // partial), never per-user windows over the event volume
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only windows run on the per-day frame, downstream of the
    // day-level aggregation — assert the risk-set window exists
    assert(plan.contains("windowspecdefinition(__day"), plan)
  }

  test("x134: AUC ranks over the per-(group, value) histogram — the window " +
    "partitions by group and runs AFTER a hash aggregation, never a " +
    "global per-row sort; the histogram is BOUNDED in-plan (VERDICT " +
    "r12 item 1: quantized score + rankAuc cardinality envelope)") {
    val plan = physical(Declared("x134")(spark, sf001))
    assert(plan.contains("windowspecdefinition(grp"), plan)
    assert(plan.contains("hashpartitioning(grp"), plan)
    assert(plan.contains("HashAggregate"), plan)
    // the raise_error envelope rides every output row's auc_micro —
    // rankAuc can never silently degrade to a per-group row sort
    // (the quantized-score half of the fix is not plan-visible here:
    // rankAuc checkpoints the histogram, which truncates the lineage
    // above it — so the quantization contract is pinned on the score
    // function itself instead)
    assert(plan.contains("raise_error"), plan)
    // qualityScore is the round-6 form of the raw score (codomain
    // ≤ 1e6+1 distinct values — the histogram stays a collapse)
    val q = org.apache.spark.sql.graftbridge.toExpression(
      graft.functions.TextFunctions.qualityScore(col("text"))).toString()
    assert(q.contains("round") && q.contains("6"), q)
  }

  test("x135: CUSUM windows partition by event type over the dense daily " +
    "frame; the argmax is a min-struct aggregate, not a ranking window") {
    val plan = physical(Declared("x135")(spark, sf001))
    assert(plan.contains("windowspecdefinition(__t"), plan)
    assert(plan.contains("hashpartitioning(__t"), plan)
    // best-row selection is min(struct(...)) — no row_number-filter
    // over the scored frame beyond the k index itself
    assert(plan.contains("min(__best") || plan.contains("min(struct"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x136: the bucket model broadcasts and the top-K cut is a bounded " +
    "heap (TakeOrderedAndProject), never a global sort") {
    val plan = physical(Declared("x136")(spark, sf001))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x137: the final core-degree pass joins the checkpointed survivor " +
    "set on both endpoints — keyed equi-joins, no cartesian, no window") {
    val plan = physical(Declared("x137")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed rounds
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x195: every BPE round rides checkpointed vocab frames — the final " +
    "plan unions six 1-row best frames with NO corpus scan and no " +
    "window (expansion stays O(vocab), the x137 fixpoint pattern)") {
    val plan = physical(Declared("x195")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed rounds
    assert(!plan.contains("Scan parquet"), plan)    // corpus never re-read
    assert(!plan.contains("Window"), plan)          // argmax is min-struct
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("x196: the fertility rollup scans the corpus ONCE (word explosion) " +
    "and joins the checkpointed vocab — no per-round corpus re-read, " +
    "no window, no cartesian") {
    val plan = physical(Declared("x196")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed vocab
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$plan")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x209: the encode rollup scans the corpus ONCE and joins the " +
    "checkpointed encoded vocab — no window, no cartesian (x196 shape " +
    "with the merged-token split)") {
    val plan = physical(Declared("x209")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed encoding
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$plan")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x209 replay round: the merge slice is BROADCAST-joined onto the " +
    "vocab frame, never collected to the driver (pre-checkpoint round " +
    "plan via the applyBestPair seam)") {
    import spark.implicits._
    val vocab = Seq(("ab", 1L, Seq("a", "b"))).toDF("wid", "c", "syms")
    val slice = Seq(("a", "b")).toDF("l", "r")
    val plan = physical(
      graft.operators.TextAnalysis.applyBestPair(vocab, slice))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CollectLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x210: Gini reads off the checkpointed histogram — the final plan " +
    "windows the HISTOGRAM (no corpus re-scan), no cartesian") {
    val plan = physical(Declared("x210")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed histogram
    assert(!plan.contains("Scan parquet"), plan)    // corpus never re-read
    assert(plan.contains("Window"), plan)           // cumulative over cells
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x211: the cluster-size spectrum is hash aggregations over the " +
    "checkpointed CC labels — no window, no cartesian") {
    val plan = physical(Declared("x211")(spark, sf001))
    // materialized CC labels: a checkpoint scan from the label loop, or
    // the local relation of the local finish (small graphs, as here) —
    // never the pair pipeline recomputed
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x212: the spectrum result assembles 1-row broadcast frames over " +
    "checkpointed iteration state — no corpus scan, no window, no " +
    "cartesian in the final plan") {
    val plan = physical(Declared("x212")(spark, sf001))
    assert(!plan.contains("Scan parquet"), plan)    // all rounds checkpointed
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x213: interpolation windows ride the bounded day SPINE (dense " +
    "calendar frame), never event rows — no cartesian") {
    val plan = physical(Declared("x213")(spark, sf001))
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x214: the capping curve re-aggregates the checkpointed (user, day) " +
    "unit frame per cap — no window, no corpus re-scan") {
    val plan = physical(Declared("x214")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed units
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x215: the hapax profile is one tokenize pass + two hash " +
    "aggregations — single corpus scan, no window, no join") {
    val plan = physical(Declared("x215")(spark, sf001))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$plan")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x216: order forecasts aggregate the checkpointed 3-way key " +
    "histogram — never row volume, no window, no cartesian") {
    val plan = physical(Declared("x216")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed histogram
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x217: ACF windows ride the checkpointed deviation SPINE (bounded " +
    "by calendar span), not event rows — no corpus re-scan") {
    val plan = physical(Declared("x217")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed spine
    assert(!plan.contains("Scan parquet"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x218: assortativity is keyed joins + one global moment " +
    "aggregation — no window, no cartesian") {
    val plan = physical(Declared("x218")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x219: the Pareto cut windows the checkpointed per-key value " +
    "HISTOGRAM (envelope-guarded), never event rows") {
    val plan = physical(Declared("x219")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed histogram
    assert(!plan.contains("Scan parquet"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x220: dup-rate buckets join the distinct pair-side doc set — " +
    "no window, no cartesian") {
    val plan = physical(Declared("x220")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x221: cap forecasts re-aggregate the checkpointed df HISTOGRAM " +
    "(gram cardinality, never pair materialization) — no window") {
    val plan = physical(Declared("x221")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed histogram
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x222: the language matrix is two doc-keyed joins of the pair " +
    "relation + one hash agg — no window, no cartesian") {
    val plan = physical(Declared("x222")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x223: the partition advisor is ONE aggregation pass — no window, " +
    "no join, no cartesian") {
    val plan = physical(Declared("x223")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x224: precision thresholds re-aggregate the checkpointed scored-" +
    "candidate frame — one candidate pass, no window, no cartesian") {
    val plan = physical(Declared("x224")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed candidates
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x197: the l-diversity profile is ONE aggregation pass over the QI " +
    "tuple — no window, no join, no cartesian") {
    val plan = physical(Declared("x197")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x198: the touch-conversion pairing is a user-keyed equi-join with " +
    "a range filter; the checkpointed pair frame feeds all three " +
    "aggregations; no cartesian, no window") {
    val plan = physical(Declared("x198")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed pairs
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x199: the salt advisor's top-N is a bounded TakeOrderedAndProject " +
    "over the key histogram, never a global sort") {
    val plan = physical(Declared("x199")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x200: weekday cells ride hash aggregations over the dense spine " +
    "with broadcast totals — no window, no cartesian") {
    val plan = physical(Declared("x200")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x201: distortion cells collapse by partial+final hash aggregation " +
    "— one posexplode fan-out, no window, no join") {
    val plan = physical(Declared("x201")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Generate"), plan) // the posexplode fan-out
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("x202: every power-iteration round rides checkpointed state — the " +
    "final plan reads the last round's frame, no per-round event re-scan") {
    val plan = physical(Declared("x202")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed rounds
    assert(!plan.contains("Scan parquet"), plan)    // events never re-read
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x203: the checkpointed chunk frame feeds corpus frequency and the " +
    "rollup — hash-keyed join, no cartesian; the chunk-index window is " +
    "per-document, upstream of the checkpoint") {
    val plan = physical(Declared("x203")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x204: idf-simhash candidates come from the chunk-bucket equi-join " +
    "over the materialized signature frame — no cartesian, vote fan-out " +
    "collapsed by hash aggregation") {
    val plan = physical(Declared("x204")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // materialized sketches
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("x205: quantiles ride the guarded (group, value) histogram — the " +
    "window partitions by group AFTER a hash aggregation, with the " +
    "raise_error envelope in-plan; no per-group row sort") {
    val plan = physical(Declared("x205")(spark, sf001))
    assert(plan.contains("windowspecdefinition(grp"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("raise_error"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x206: split leakage rides the checkpointed chunk frame — spread " +
    "join is hash-keyed, no cartesian") {
    val plan = physical(Declared("x206")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x207: the join-size forecast joins HISTOGRAMS, not rows — two hash " +
    "aggregations, a bounded TakeOrderedAndProject, no cartesian beyond " +
    "the 1-row broadcast total") {
    val plan = physical(Declared("x207")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed contribs
  }

  test("x208: entropy cells ride the checkpointed bigram histogram — " +
    "left-context counts aggregate off it, no second corpus scan, no " +
    "window, no cartesian") {
    val plan = physical(Declared("x208")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Scan parquet"), plan) // corpus read once, upstream
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x138: one tokenize fan-out, two hash aggregations, a conditional " +
    "pivot — no window, no cartesian") {
    val plan = physical(Declared("x138")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x139: the corpus centroid broadcasts onto the group frame; the " +
    "cell collapse is partial+final hash aggregation, no window") {
    val plan = physical(Declared("x139")(spark, sf001))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x140: the midpoint and half totals broadcast; the volume collapses " +
    "in one (type, half) aggregation") {
    val plan = physical(Declared("x140")(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x141: the lag window partitions by user; the percentile aggregate " +
    "runs on the collapsed gap column, no cartesian") {
    val plan = physical(Declared("x141")(spark, sf001))
    assert(plan.contains("windowspecdefinition(user_id"), plan)
    assert(plan.contains("hashpartitioning(user_id"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x142: the character histogram collapses in a hash aggregation " +
    "before the doc-partitioned total window — shuffled volume is " +
    "alphabet-sized, not character-sized") {
    val plan = physical(Declared("x142")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("windowspecdefinition(doc_id"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x143: the target relation broadcasts (LocalTableScan side); one " +
    "language-keyed aggregation, no window, no cartesian") {
    val plan = physical(Declared("x143")(spark, sf001))
    assert(plan.contains("LocalTableScan"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x144: the sweep runs on the checkpointed pair relation — decile " +
    "windows over the ≤10-row histogram, no second near-dup pass") {
    val plan = physical(Declared("x144")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed pairs
    assert(plan.contains("windowspecdefinition(dec"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x145: the top-(k+1) cut is a bounded heap (TakeOrderedAndProject), " +
    "never a global sort of the corpus") {
    val plan = physical(Declared("x145")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x146: quartile edges and totals broadcast; the volume collapses in " +
    "one (type, bin) aggregation") {
    val plan = physical(Declared("x146")(spark, sf001))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x147: the fused top-K cut is a bounded heap; signal joins are " +
    "doc-keyed equi-joins, no cartesian") {
    val plan = physical(Declared("x147")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x148: one stratum aggregation collapses the corpus; the 1-row " +
    "weight total and leftover broadcast; the remainder window runs on " +
    "the |strata| frame") {
    val plan = physical(Declared("x148")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x149: the lag window partitions by user; everything after is one " +
    "user-keyed aggregation, no cartesian") {
    val plan = physical(Declared("x149")(spark, sf001))
    assert(plan.contains("windowspecdefinition(user_id"), plan)
    assert(plan.contains("hashpartitioning(user_id"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x150: the pair relation is an equi-join on type over the " +
    "checkpointed dense spine — no cartesian, no window") {
    val plan = physical(Declared("x150")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan) // checkpointed spine
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x151: one sketch build (checkpointed) feeds candidates and " +
    "containment; joins are doc-keyed, no cartesian") {
    val plan = physical(Declared("x151")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }


  test("x153: the rescore joins are (doc, gram)-keyed over the " +
    "checkpointed gram frame; the idf df-side hash-joins, no cartesian") {
    val plan = physical(Declared("x153")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x154: the per-group CDF windows hash-partition by group over the " +
    "collapsed histogram, never a global per-row sort") {
    val plan = physical(Declared("x154")(spark, sf001))
    assert(plan.contains("windowspecdefinition(grp"), plan)
    assert(plan.contains("hashpartitioning(grp"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x155: the lag window partitions by user; model and vocab frames " +
    "broadcast onto the V²-bounded test frame") {
    val plan = physical(Declared("x155")(spark, sf001))
    assert(plan.contains("windowspecdefinition(user_id"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("x156: one key explode, one key-keyed aggregation, the 1-row total " +
    "broadcasts — no window, no cartesian") {
    val plan = physical(Declared("x156")(spark, sf001))
    assert(plan.contains("Generate"), plan) // the keys explode
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x157: the audit is one hash aggregation plus an integer filter — " +
    "no join, no window") {
    val plan = physical(Declared("x157")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x158: each candidate contributes two rank windows over a 2-column " +
    "projection; the scan reads only the advisor's columns") {
    val plan = physical(Declared("x158")(spark, sf001))
    assert(plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // column pruning: text never reaches the scan
    assert(!plan.contains("text#"), plan)
  }

  test("x159: histogram-tile ranking over a 3-column projection, cumulative " +
    "windows over collapsed frames; the 1-row total broadcasts") {
    val plan = physical(Declared("x159")(spark, sf001))
    assert(plan.contains("windowspecdefinition"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x160: modularity is keyed joins + hash aggregations over the " +
    "checkpointed term frame — no window, no cartesian") {
    val plan = physical(Declared("x160")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x161: one stratum aggregation; the 1-row totals and weighted sums " +
    "broadcast onto the |strata| frame — no window") {
    val plan = physical(Declared("x161")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x162: the overlap curve is a cumulative window over the ≤K-row " +
    "entry histogram — no per-depth set intersection, no checkpoint " +
    "(the truncated-sum total rides a full-frame window, not a rejoin)") {
    val plan = physical(Declared("x162")(spark, sf001))
    assert(!plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x163: two aggregation passes with the 1-row parameter frame " +
    "broadcast between them — no window over rows") {
    val plan = physical(Declared("x163")(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x164: the df join reuses the term partitioning over the " +
    "checkpointed (source, term) frame — no broadcast of the " +
    "vocabulary, no window") {
    val plan = physical(Declared("x164")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x165: one checkpointed cell frame feeds centroid and member " +
    "sides; the argmax is a min-struct aggregate, not a window; the " +
    "clusters×dim centroid frame joins back as an EXPLICIT broadcast " +
    "(VERDICT r12 item 4)") {
    val plan = physical(Declared("x165")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the member-side (grp, d) join must be a BroadcastHashJoin — the
    // centroid frame is bounded by cluster cardinality, never left to
    // AQE's estimate of the member-side shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("x166: the 24-row angle table broadcasts onto the collapsed " +
    "(type, hour) frame — no window, no cartesian") {
    val plan = physical(Declared("x166")(spark, sf001))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  /** Round-10 pin (VERDICT r9 item 1), tightened in round 12 (VERDICT
    * r11 item 6): an unpartitioned Window over the raw doc/user frame
    * funnels the corpus through ONE task. The de-globalized rank
    * queries may keep global windows ONLY over collapsed frames, and
    * "collapsed" now means one of three PROVEN shapes below the
    * window, not merely "some aggregate exists":
    *  - a limit (top-k shortlist frames);
    *  - a GLOBAL aggregate, grouping keys empty (1-row spines and the
    *    bounded-heap TopKScored collectors);
    *  - a grouped aggregate below whose grouping-derived outputs cover
    *    EVERY column the window orders by — then the window frame IS
    *    the codomain of its own ordering key (the value-histogram
    *    discipline: ntile/Gini/coverage windows run over
    *    groupBy(value) frames ordered by value, and the design bounds
    *    that codomain). An aggregate that merely passes rows through —
    *    grouped by a near-row-cardinality key while the window orders
    *    by an AGGREGATED output (e.g. groupBy(doc_id) under a window
    *    ordered by sum(x), with doc_id only as tie-break) — no longer
    *    counts as a collapse.
    * Grouping-derived outputs are matched by exprId with a name
    * fallback (final-mode aggregates alias grouping attrs in their
    * resultExpressions; intervening Projects can re-mint exprIds). */
  private def globalWindowsOverBase(
      df: DataFrame): Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    val inner = qe(df).executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }.filterNot { w =>
      val ordIds = w.orderSpec.flatMap(_.child.references.toSeq.map(_.exprId)).toSet
      val ordNames = w.orderSpec.flatMap(_.child.references.toSeq.map(_.name)).toSet
      val limits = w.child.collect {
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l: Any
        case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => l: Any
      }
      val aggs = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      limits.nonEmpty || aggs.exists { a =>
        a.groupingExpressions.isEmpty || {
          val gset = org.apache.spark.sql.catalyst.expressions.AttributeSet(
            a.groupingExpressions.map(_.toAttribute))
          val gOut = a.resultExpressions
            .filter(re => re.references.nonEmpty && re.references.subsetOf(gset))
            .map(_.toAttribute)
          val gOutIds = gOut.map(_.exprId).toSet
          val gOutNames = gOut.map(_.name).toSet
          gOut.nonEmpty &&
            ordIds.forall(gOutIds.contains) ||
            (gOut.nonEmpty && ordNames.forall(gOutNames.contains))
        }
      }
    }
  }

  private def assertNoGlobalWindowOverBase(df: DataFrame): Unit = {
    val offenders = globalWindowsOverBase(df)
    assert(offenders.isEmpty,
      s"unpartitioned Window over a non-collapsed frame:\n${offenders.mkString("\n")}")
  }

  test("x118: equi-depth buckets come from the histogram primitive — " +
    "no unpartitioned window over the doc frame") {
    assertNoGlobalWindowOverBase(Declared("x118")(spark, sf001))
  }

  test("x124: all three RFM quintiles are histogram tiles — no " +
    "unpartitioned window over the user frame") {
    assertNoGlobalWindowOverBase(Declared("x124")(spark, sf001))
  }

  test("x225: substring-run stitching joins anchors on the df-capped " +
    "fingerprint (never all-pairs) and windows only per (pair, diagonal)") {
    val df = Declared("x225")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    // df-cap aggregation keeps map-side combine
    assert(plan.contains("partial_count"), plan.take(4000))
    // the gaps-and-islands window must be (pair, diagonal)-partitioned,
    // never corpus-global
    assertNoGlobalWindowOverBase(df)
  }

  test("x159: quality deciles are histogram tiles — no unpartitioned " +
    "window over the doc frame") {
    assertNoGlobalWindowOverBase(Declared("x159")(spark, sf001))
  }

  test("x147: per-signal lists are bounded-heap aggregates; the only " +
    "global window ranks the 50-row fused shortlist") {
    val df = Declared("x147")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    val plan = physical(df)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x162: both rankings are bounded-heap top-K aggregates — no " +
    "unpartitioned window over the doc frame") {
    val df = Declared("x162")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    val plan = physical(df)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x167: the packing offsets ride a source-partitioned window; " +
    "aggregation is partial+final") {
    val df = Declared("x167")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    val plan = physical(df)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("x168: label joins are keyed equi-joins over the kNN edges — " +
    "no cartesian; disagreement is one hash aggregation") {
    val plan = physical(Declared("x168")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x169: the dispersion identity is two stacked aggregations — " +
    "no window, no join, no pair enumeration") {
    val plan = physical(Declared("x169")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x170: every grid row aggregates the one checkpointed pair " +
    "relation — no window, no cartesian") {
    val plan = physical(Declared("x170")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x171: the head cut is a bounded TakeOrdered, never a vocabulary " +
    "sort; the only global window ranks the 100-row head") {
    val df = Declared("x171")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(physical(df).contains("TakeOrderedAndProject"), physical(df))
  }

  test("x172: chunk predictions collapse through two aggregations — " +
    "no unpartitioned window, no cartesian") {
    val df = Declared("x172")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(!physical(df).contains("CartesianProduct"), physical(df))
  }

  test("x173: candidates come from the bucket equi-join; the argmax is " +
    "a bounded heap — no window, no cartesian") {
    val plan = physical(Declared("x173")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("x174: scoring joins are keyed on term/source over the " +
    "checkpointed count frame — no window") {
    val plan = physical(Declared("x174")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x175: the lag windows are user-partitioned; path counting is " +
    "partial+final") {
    val df = Declared("x175")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(physical(df).contains("partial_count") ||
      physical(df).contains("HashAggregate"), physical(df))
  }

  test("x176: one prefix aggregation + the broadcast 1-row total — " +
    "no window, no keyed join") {
    val plan = physical(Declared("x176")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("x177: ONE conditional-sum pass feeds every candidate length — " +
    "the unpivot reads the checkpointed 1-row frame, never the corpus") {
    val plan = physical(Declared("x177")(spark, sf001))
    assert(!plan.contains("FileScan parquet"), plan) // branches read the checkpoint
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x152: the Heaps unpivot reads the checkpointed 1-row aggregate " +
    "(round 9 re-ran the tokenize per percentile: 8 scans, 0 reuse); " +
    "the 1-row fit broadcasts") {
    val plan = physical(Declared("x152")(spark, sf001))
    assert(!plan.contains("FileScan parquet"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("x178: LOSO columns come from per-source sums + the broadcast " +
    "1-row totals — no per-ablation rescan, no window") {
    val plan = physical(Declared("x178")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("x179: one aggregation per table, unioned — no join, no window") {
    val plan = physical(Declared("x179")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("x180: all FD pairs ride ONE aggregation pass — the unpivot " +
    "reads the checkpointed 1-row frame") {
    val plan = physical(Declared("x180")(spark, sf001))
    assert(!plan.contains("FileScan parquet"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x181: the inversion count is one user-partitioned lag + one " +
    "aggregation — no unpartitioned window") {
    val df = Declared("x181")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(physical(df).contains("Window"), physical(df))
  }

  test("x182: every FK edge is a keyed join against the distinct " +
    "parent-key frame — no cartesian") {
    val plan = physical(Declared("x182")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x183: two stacked aggregations over the checkpointed ln frame — " +
    "no window, no cartesian") {
    val plan = physical(Declared("x183")(spark, sf001))
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x184: one stratum aggregation + the broadcast 1-row corpus " +
    "totals — no window") {
    val plan = physical(Declared("x184")(spark, sf001))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("x185: source cells come from keyed tag joins over the pair " +
    "relation — no cartesian, no window") {
    val plan = physical(Declared("x185")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x186: the savings curve windows only the <=10-row decile frame") {
    val df = Declared("x186")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(!physical(df).contains("CartesianProduct"), physical(df))
  }

  test("x187: the result is exported dim-bounded constants (the x22/x26 " +
    "pattern); the scatter work happened in keyed joins upstream") {
    val plan = physical(Declared("x187")(spark, sf001))
    assert(plan.contains("LocalTableScan"), plan)
  }

  test("x188: stage relations union into two doc-keyed aggregations — " +
    "no unpartitioned window, no cartesian") {
    val df = Declared("x188")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(!physical(df).contains("CartesianProduct"), physical(df))
  }

  /** Queries sanctioned to carry an unpartitioned window over a
    * non-collapsed frame (VERDICT r10 item 2): the r9/r10 one-by-one
    * de-globalization is now an invariant — any future entry here
    * needs a written justification like the one below.
    *
    * x158 sortKeyAdvisor: exact Spearman needs the PER-ROW rank of
    * every candidate value against the id order — a global row_number
    * is irreducible for the exact statistic (a histogram collapse
    * yields tile ids, not per-row ranks). The window is sanctioned
    * because the maxRows ≤ 3e6 envelope is enforced by a PRE-WINDOW
    * count gate (round 12, closing ADVICE r11's post-hoc caveat): the
    * frame's count broadcasts into the projection feeding the
    * windows and raise_errors on the first row when over-envelope,
    * so a beyond-envelope frame throws while scanning — it never
    * pays the global sort it is refusing. The original post-aggregate
    * check stays as defense in depth. "Advise on a ≤ 3e6-row sample"
    * is the documented contract. */
  private val globalWindowAllowlist: Set[String] = Set("x158_sortkey_advisor")

  /** The blanket sweep body, factored out so the meta-test below can
    * run it against injected adversaries. Returns (offenders,
    * buildFailures) — a query whose plan fails to BUILD is a loud
    * sweep failure, never a silent pass (VERDICT r11 item 6 / ADVICE
    * r11: the old Try(...).getOrElse(Nil) turned exceptions into
    * passes). */
  private def sweepGlobalWindows(
      queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)],
      dir: String): (Seq[String], Seq[String]) = {
    val results = queries.map { case (name, fn) =>
      scala.util.Try(globalWindowsOverBase(fn(spark, dir))) match {
        case scala.util.Success(bad) =>
          (if (bad.isEmpty) Nil else Seq(s"$name: ${bad.head}"), Nil)
        case scala.util.Failure(e) =>
          (Nil, Seq(s"$name: plan failed to build — ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}"))
      }
    }
    (results.flatMap(_._1), results.flatMap(_._2))
  }

  test("blanket gate: NO declared query carries an unpartitioned window " +
    "over a non-collapsed frame (the r9/r10 cleanup as an invariant)") {
    // sweep EVERY SparkEntry.queries entry — a new query with a
    // corpus-global ntile/row_number cannot land without either fixing
    // it (Rank.withExactNtile / TopKScored) or justifying an allowlist
    // entry; windows over histogram/spine/shortlist frames pass because
    // a PROVEN collapse sits below them (see globalWindowsOverBase)
    val (offenders, buildFailures) = sweepGlobalWindows(
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (name, _) => globalWindowAllowlist.contains(name) },
      sf001)
    assert(buildFailures.isEmpty,
      s"queries whose plan failed to BUILD (the gate cannot vouch for " +
        s"them):\n${buildFailures.mkString("\n")}")
    assert(offenders.isEmpty,
      s"unpartitioned Window over a non-collapsed frame in:\n${offenders.mkString("\n")}")
  }

  test("blanket gate meta-test: a build-failing query fails the sweep " +
    "loudly, and a pass-through aggregate no longer counts as a collapse") {
    import org.apache.spark.sql.SparkSession
    val broken = ("zz_broken", (s: SparkSession, d: String) =>
      graft.Tables.load(s, d, "documents").select(col("no_such_column")))
    val (_, fails) = sweepGlobalWindows(Seq(broken), sf001)
    assert(fails.nonEmpty && fails.head.contains("zz_broken"), fails.toString)
    // adversary: groupBy a near-row-cardinality key, then a global
    // window ordered by the AGGREGATED value — the old gate's
    // any-aggregate-below rule passed this; the codomain rule must not
    val adversary = ("zz_passthrough", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      graft.Tables.load(s, d, "documents")
        .groupBy(col("doc_id")).agg(sum(col("n_chars")).as("s"))
        .withColumn("rk", row_number().over(Window.orderBy(col("s"), col("doc_id"))))
    })
    val (offenders, _) = sweepGlobalWindows(Seq(adversary), sf001)
    assert(offenders.nonEmpty && offenders.head.contains("zz_passthrough"),
      offenders.toString)
    // and the sanctioned histogram shape still passes: a global window
    // ordered by the GROUPING key of the aggregate below it
    val histogram = ("zz_hist", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      graft.Tables.load(s, d, "documents")
        .groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    })
    val (histOff, histFails) = sweepGlobalWindows(Seq(histogram), sf001)
    assert(histOff.isEmpty && histFails.isEmpty, (histOff ++ histFails).toString)
  }

  test("q46: correlated scalar subqueries decorrelate to aggregate-joins " +
    "(no per-row subquery execution)") {
    val plan = physical(RelationalQueries.q46(spark, sf001))
    // both subqueries become outer-join shapes over a pre-aggregated
    // orders side; a surviving per-row scalar-subquery node would show
    // as Subquery/ScalarSubquery in the executed plan
    assert(!plan.contains("ScalarSubquery"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Join"), plan)
    // acctbal filter pushed to the customer scan
    assert(plan.contains("GreaterThan(c_acctbal,9000"), plan)
  }

  test("x233-x248: no tranche-39-44 query compiles to a CartesianProduct") {
    Seq(Declared("x233"), Declared("x234"),
        Declared("x235"), Declared("x236"),
        Declared("x237"), Declared("x238"),
        Declared("x239"), Declared("x240"),
        Declared("x241"), Declared("x242"),
        Declared("x243"), Declared("x244"),
        Declared("x245"), Declared("x246"),
        Declared("x247"), Declared("x248"))
      .foreach { q =>
        val plan = physical(q(spark, sf001))
        assert(!plan.contains("CartesianProduct"), plan.take(4000))
      }
  }

  test("x244: curriculum phases ride the boundary spine — no " +
      "unpartitioned window over the scored doc frame") {
    assertNoGlobalWindowOverBase(Declared("x244")(spark, sf001))
  }

  test("x241/x247: the leakage semi joins ARE semi joins (no subquery " +
      "loops), and x247's top-N is a bounded heap, not a global sort") {
    assert(physical(Declared("x241")(spark, sf001)).contains("LeftSemi"))
    // x247's endpoint semi join materializes inside the pairedTerms
    // localCheckpoint (lineage cut — it cannot appear in this plan);
    // what the FINAL plan must show is the bounded-heap top-N
    val p247 = physical(Declared("x247")(spark, sf001))
    assert(p247.contains("TakeOrderedAndProject"), p247.take(4000))
  }

  test("x249-x252: no new-tranche query compiles to a CartesianProduct; " +
      "x251 is one narrow projection (no join, no hash exchange); x250's " +
      "stitch window partitions by (pair, diag)") {
    Seq(Declared("x249"), Declared("x250"),
        Declared("x251"), Declared("x252"),
        Declared("x253"), Declared("x254"),
        Declared("x255"), Declared("x256")).foreach { q =>
      val plan = physical(q(spark, sf001))
      assert(!plan.contains("CartesianProduct"), plan.take(4000))
    }
    val p251 = physical(Declared("x251")(spark, sf001))
    assert(!p251.contains("Join"), p251.take(4000))
    assert(!p251.contains("Exchange hashpartitioning"), p251.take(4000))
    // the checksums are codegen kernel expressions — a reintroduced
    // higher-order filter (lambdafunction in the projection) would
    // break the whole-stage span (round-9 trap)
    assert(!p251.contains("lambdafunction"), p251.take(4000))
    assert(p251.contains("luhn_valid_count") && p251.contains("iban_valid_count"),
      p251.take(4000))
    val p250 = physical(Declared("x250")(spark, sf001))
    // the gaps-and-islands windows must ride the (doc_a, doc_b, diag)
    // partition — an unpartitioned variant would shuffle every matched
    // position into one task. Window prints as
    // `Window [fns], [partitionSpec], [orderSpec]`; every occurrence
    // must carry the pair-diag partition.
    val windows = "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
      .findAllMatchIn(p250).map(_.group(1)).toSeq
    assert(windows.nonEmpty, p250.take(2000))
    assert(windows.forall(w => w.contains("doc_a") && w.contains("diag")),
      s"window partition specs: $windows\n${p250.take(4000)}")
  }

  // ---- advisor-enforcement gates (VERDICT r15 item 4) ----------------
  // The advisors (x179 broadcast, x199 salt, x216/x249 join order) used
  // to be read-only: a declared query whose plan contradicted its own
  // advisor was caught only if a human read both. These gates EVALUATE
  // the advisor over the fixture and assert the corresponding plans
  // agree — a contradiction now fails the suite.

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.joins.{BaseJoinExec,
    BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
    ShuffledHashJoinExec, SortMergeJoinExec}
  import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

  /** Runs `body` with AQE off so executedPlan is the concrete tree
    * (AdaptiveSparkPlanExec is a leaf — collect can't see inside). */
  private def withAqeOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private val fixtureTables = Seq("lineitem", "orders", "customer",
    "supplier", "nation", "region", "part", "events", "documents",
    "embeddings")

  /** Fixture tables scanned anywhere under `p`. */
  private def scanTables(p: SparkPlan): Set[String] =
    p.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString) }
      .flatten
      .flatMap(path => fixtureTables.filter(t => path.contains(t + ".parquet")))
      .toSet

  private def buildSideOf(j: SparkPlan): Option[SparkPlan] = j match {
    case b: BroadcastHashJoinExec => Some(b.buildSide match {
      case BuildLeft => b.left; case BuildRight => b.right })
    case b: BroadcastNestedLoopJoinExec => Some(b.buildSide match {
      case BuildLeft => b.left; case BuildRight => b.right })
    case _ => None
  }

  /** Tables whose scans reach `p` WITHOUT being the build side of some
    * broadcast join on the way — i.e. tables that genuinely shuffle. */
  private def shuffledScanTables(p: SparkPlan): Set[String] =
    buildSideOf(p) match {
      case Some(build) =>
        p.children.filterNot(_ eq build).flatMap(shuffledScanTables).toSet
      case None => p match {
        case s: FileSourceScanExec => scanTables(s)
        case other => other.children.flatMap(shuffledScanTables).toSet
      }
    }

  test("x179 gate: q04/q44 join strategies agree with the broadcast " +
      "advisor in BOTH directions") {
    val advice = Declared("x179")(spark, sf001).collect()
    val dims = advice.map(_.getAs[String]("table")).toSet
    val advised = advice.filter(_.getAs[Boolean]("fits_broadcast"))
      .map(_.getAs[String]("table")).toSet
    assert(advised.nonEmpty, advice.mkString("; "))
    withAqeOff {
      Seq("q04" -> RelationalQueries.q04(spark, sf001),
          "q44" -> RelationalQueries.q44(spark, sf001)).foreach {
        case (name, df) =>
          val plan = df.queryExecution.executedPlan
          // advised ⇒ broadcast: no advised table's scan may feed a
          // shuffled join un-broadcast
          plan.collect {
            case j: SortMergeJoinExec => j: SparkPlan
            case j: ShuffledHashJoinExec => j: SparkPlan
          }.foreach { j =>
            val offending = shuffledScanTables(j).intersect(advised)
            assert(offending.isEmpty,
              s"$name: advisor says broadcast ${offending.mkString(",")} " +
                s"but the plan shuffles them:\n${j.toString.take(3000)}")
          }
          // not advised ⇒ not broadcast: nothing the advisor REJECTED
          // may be broadcast-built
          val built = plan.collect { case j: BaseJoinExec => j }
            .flatMap(buildSideOf).flatMap(scanTables).toSet
          val over = built.intersect(dims -- advised)
          assert(over.isEmpty,
            s"$name broadcasts ${over.mkString(",")} against the advisor")
          // and q44's four advised dims all actually broadcast-build
          // (in q04 the advised customer is the PROBE side by role —
          // broadcasting the bigger side of a dim-dim join is not what
          // the advisor asks)
          if (name == "q44")
            assert(advised.intersect(scanTables(plan)).subsetOf(built),
              s"q44 built=$built advised=$advised")
      }
    }
  }

  test("x199 gate: declared salt factors cover the advisor's plan at " +
      "the queries' design target") {
    // x50 salts events.user_id with nSalts=16; x199 IS the advisor for
    // that key at targetPerTask=50 — its max advised factor must be
    // covered, or x50's constant has drifted below its own advice
    val advised = Declared("x199")(spark, sf001).collect()
    val maxFactor = advised.map(_.getAs[Long]("salt_factor")).max
    assert(maxFactor <= 16L,
      s"x199 advises salt_factor $maxFactor; x50's nSalts=16 no longer covers it")
    // x18 salts orders.o_custkey with saltFactor=8 at the same 50-rows/
    // task design target
    val f18 = graft.operators.Layout.saltAdvisor(
        graft.Tables.load(spark, sf001, "orders")
          .select(col("o_custkey").as("k")),
        "k", targetPerTask = 50L, topN = 5)
      .collect().map(_.getAs[Long]("salt_factor")).max
    assert(f18 <= 8L,
      s"saltAdvisor advises factor $f18 on o_custkey; x18's saltFactor=8 no longer covers it")
  }

  test("x249 gate: the executed three-way join's innermost pair IS the " +
      "advised order") {
    withAqeOff {
      val (advice, joined) = graft.operators.Layout.advisedThreeWayJoin(
        graft.Tables.load(spark, sf001, "customer")
          .select(col("c_nationkey").as("k")),
        graft.Tables.load(spark, sf001, "supplier")
          .select(col("s_nationkey").as("k")),
        graft.Tables.load(spark, sf001, "nation")
          .select(col("n_nationkey").as("k")),
        "k")
      val rows = advice.collect()
      val best = rows.find(_.getAs[Boolean]("best")).get
        .getAs[String]("join_order")
      // the gate is strict only if the forecast separates the orders —
      // assert it does at this fixture (supplier⋈nation is far cheaper
      // than anything customer-first)
      assert(rows.map(_.getAs[Long]("intermediate_rows")).distinct.length == 3,
        rows.mkString("; "))
      val expectedPair = best match {
        case "ab_then_c" => Set("customer", "supplier")
        case "ac_then_b" => Set("customer", "nation")
        case _           => Set("supplier", "nation")
      }
      val plan = joined.queryExecution.executedPlan
      val innermost = plan.collect { case j: BaseJoinExec => j }
        .filter(j => j.collect { case x: BaseJoinExec => x }.size == 1)
      assert(innermost.nonEmpty, plan.toString.take(4000))
      assert(innermost.exists(j => scanTables(j) == expectedPair),
        s"advised $best (pair $expectedPair) but innermost joins scan " +
          s"${innermost.map(scanTables)}:\n${plan.toString.take(4000)}")
    }
  }

  test("x259: intra-doc islands window is partitioned (doc, diagonal) — " +
      "never an unpartitioned window; self-join is an equi-join, no " +
      "cartesian") {
    val df = Declared("x259")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("x260: periodicity is one whole-stage-codegen projection — zero " +
      "exchanges besides the final order") {
    val df = Declared("x260")(spark, sf001)
    val plan = physical(df)
    assert(plan.contains("min_full_period"), plan.take(2000))
    // per-row kernel: no aggregate, no join, no window anywhere
    assert(!plan.contains("Window") && !plan.contains("Join"), plan.take(3000))
  }

  test("x262: stratified sample is a bounded-heap aggregation — no " +
      "Window, no per-stratum Sort below the aggregate") {
    val df = Declared("x262")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      plan.take(3000))
  }

  test("x263: the top-50 PMI cut is TakeOrderedAndProject; margins join " +
      "shuffled (vocabulary-sized), only the 1-row N frame broadcast") {
    val plan = physical(Declared("x263")(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("x264: source overlap joins on the gram key and broadcasts only " +
      "the source-cardinality size frames; no cartesian") {
    val plan = physical(Declared("x264")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("x258: hashed-embedding agreement keeps the bucket equi-join — " +
      "no cartesian, no corpus-global window") {
    val df = Declared("x258")(spark, sf001)
    assertNoGlobalWindowOverBase(df)
    assert(!physical(df).contains("CartesianProduct"))
  }

  test("x265: clustering agreement is hash aggs + 1-row broadcasts — " +
      "no window, no cartesian beyond the broadcast 1-row crosses") {
    val df = Declared("x265")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("x266/x267: pair forensics ride the candidate pair relation — " +
      "windows (if any) partition per pair, no cartesian") {
    val e = Declared("x266")(spark, sf001)
    assertNoGlobalWindowOverBase(e)
    val ePlan = physical(e)
    assert(!ePlan.contains("CartesianProduct"))
    // VERDICT r17 item 3: the postings feeding the two pair-join legs
    // must be endpoint-filtered — at 100 TB the un-semi-joined legs
    // shuffle corpus mass where only duplicate-volume mass is needed.
    // The df aggregate keeps the full postings; the PAIR joins don't.
    assert(ePlan.contains("LeftSemi"), ePlan.take(3000))
    val d = Declared("x267")(spark, sf001)
    val plan = physical(d)
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      plan.take(3000))
    assert(plan.contains("levenshtein"), plan.take(2000))
    // the maxChars fence must live INSIDE the evaluated projection (a
    // CaseWhen guarding the quadratic), not as a prunable side column
    assert(plan.contains("fenced"), plan.take(2000))
  }

  test("x272: weighted sample is the same bounded-heap shape as x262 — " +
      "no Window, no per-stratum Sort below the aggregate") {
    val df = Declared("x272")(spark, sf001)
    val plan = physical(df)
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      plan.take(3000))
  }

  test("x273: NB scoring joins BROADCAST the 2^18-capped weight table — " +
      "map-side scoring at any corpus scale; no cartesian beyond the " +
      "1-row bias/class broadcasts") {
    val df = Declared("x273")(spark, sf001)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assertNoGlobalWindowOverBase(df)
  }

  test("x275/x281: snapshot-served sketch probes keep the equi-join on " +
      "the prefix hash — no cartesian, no corpus-global window; the " +
      "served index arrives as a parquet scan, not a re-hash") {
    Seq(Declared("x275"), Declared("x281")).foreach { q =>
      val df = q(spark, sf001)
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      assertNoGlobalWindowOverBase(df)
      // the standing index is READ (snap parquet), never re-derived
      // from documents: its leg carries a scan of the snapshot dir
      assert(plan.contains("snap-"), plan.take(3000))
    }
  }

  test("x277: both assignments are literal-centroid projections — zero " +
      "joins on the corpus path beyond the final vec_id equi-join; no " +
      "cartesian") {
    val plan = physical(Declared("x277")(spark, sf001))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("x280: mixture planning is one hash agg + a broadcast 1-row " +
      "totals frame — no shuffle join, no window") {
    val plan = physical(Declared("x280")(spark, sf001))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
  }
}
