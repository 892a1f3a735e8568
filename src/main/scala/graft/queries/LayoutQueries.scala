package graft.queries

import graft.Tables
import graft.operators.{Layout, TextAnalysis}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.Layout]]: partitioning, sort
  * order, file sizing and broadcast planning.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object LayoutQueries extends QueryFamily {

  /** x73 deterministic shard assignment ([[Layout.shardAssignment]]):
    * the content-hashed global shuffle for training shards — shard =
    * md5-60(doc_id) mod 8, within-shard order = hash rank. Every
    * (doc, shard, pos) value-checked; the oracle replays the identical
    * bucket arithmetic and rank window. */
  val x73 = query("x73_shard_assignment",
    // Identical bucket arithmetic (md5-60 mod 8) and hash-rank window;
    // the id tie-break covers the rare 60-bit collision
    s"""SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
       |            AS INTEGER) AS pos
       |FROM (SELECT doc_id,
       |             ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
       |             ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
       |      FROM documents) t
       |ORDER BY shard, pos""".stripMargin) { (s, dir) =>
    Layout.shardAssignment(docs(s, dir), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** x130 reshard movement plan 16 → 24 shards over documents — see
    * [[graft.operators.Layout.reshardPlan]]: the (from, to) cost
    * matrix of a shard-count change, computed without moving data. */
  val x130 = query("x130_reshard_plan",
    // Replays reshardPlan: same md5-60 hash, both mods, exact counts
    // and byte sums.
    s"""WITH h AS (SELECT ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} AS h,
       |                  n_chars
       |           FROM documents)
       |SELECT CAST(h % 16 AS BIGINT) AS from_shard,
       |       CAST(h % 24 AS BIGINT) AS to_shard,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(n_chars) AS BIGINT) AS bytes,
       |       h % 16 <> h % 24 AS moved
       |FROM h GROUP BY 1, 2, 5
       |ORDER BY from_shard, to_shard""".stripMargin) { (s, dir) =>
    graft.operators.Layout.reshardPlan(docs(s, dir), "doc_id", "n_chars",
        nShardsFrom = 16, nShardsTo = 24)
      .orderBy(col("from_shard"), col("to_shard"))
  }

  /** x158 sort-key advisor — see
    * [[graft.operators.Layout.sortKeyAdvisor]]: exact Spearman rank
    * correlation of storage order vs each candidate sort column —
    * the zone-map pruning forecast behind a re-sort decision. */
  val x158 = query("x158_sortkey_advisor",
    // Replays sortKeyAdvisor: tie-broken ranks, exact Σd², the ρ term
    // in DOUBLE over the exact integer operands (identical IEEE ops on
    // identical inputs), quantized once — the integer 6·Σd²·10⁶ form
    // overflowed int64 from ~20k rows (ADVICE r9).
    {
      val cand = (c: String) =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           |  CASE WHEN count(*) > 1 THEN 1000000 -
           |    CAST(round(6.0 * (sum((rx - ry) * (rx - ry)))::DOUBLE
           |      * 1000000.0 / ((count(*))::DOUBLE * ((count(*))::DOUBLE
           |      * (count(*))::DOUBLE - 1.0))) AS BIGINT) END
           |    AS spearman_micro
           |FROM (SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
           |        AS rx,
           |      CAST(row_number() OVER (ORDER BY $c, doc_id) AS BIGINT)
           |        AS ry,
           |      $c AS v FROM documents) t""".stripMargin
      Seq("lang", "n_chars", "source").map(cand)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    }) { (s, dir) =>
    graft.operators.Layout.sortKeyAdvisor(docs(s, dir),
      Seq("lang", "n_chars", "source"), "doc_id")
  }

  /** x179 broadcast-eligibility advisor — see
    * [[graft.operators.Layout.broadcastAdvisor]]: schema-driven size
    * estimates for the five dimension tables against the 10 MB
    * broadcast threshold. */
  val x179 = query("x179_broadcast_advisor",
    // Replays broadcastAdvisor: the SAME stated byte formula (8 per
    // fixed-width column, length + 20 per string) per dimension table.
    """SELECT 'customer' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(c_name), 0) + 20) + 8 + 8 + (coalesce(length(c_mktsegment), 0) + 20)) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(c_name), 0) + 20) + 8 + 8 + (coalesce(length(c_mktsegment), 0) + 20)) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM customer
      |UNION ALL
      |SELECT 'nation' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(n_name), 0) + 20) + 8) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(n_name), 0) + 20) + 8) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM nation
      |UNION ALL
      |SELECT 'part' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(p_name), 0) + 20) + (coalesce(length(p_brand), 0) + 20) + (coalesce(length(p_type), 0) + 20) + 8 + 8) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(p_name), 0) + 20) + (coalesce(length(p_brand), 0) + 20) + (coalesce(length(p_type), 0) + 20) + 8 + 8) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM part
      |UNION ALL
      |SELECT 'region' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(r_name), 0) + 20)) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(r_name), 0) + 20)) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM region
      |UNION ALL
      |SELECT 'supplier' AS "table", CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(8 + (coalesce(length(s_name), 0) + 20) + 8 + 8) AS BIGINT) AS est_bytes,
      |  CAST(sum(8 + (coalesce(length(s_name), 0) + 20) + 8 + 8) AS BIGINT) <= 10485760 AS fits_broadcast
      |FROM supplier
      |ORDER BY "table"""".stripMargin) { (s, dir) =>
    graft.operators.Layout.broadcastAdvisor(
      Seq("customer", "nation", "part", "region", "supplier")
        .map(t => t -> Tables.load(s, dir, t)))
  }

  /** x199 join-skew salt advisor — see
    * [[graft.operators.Layout.saltAdvisor]]: per-user-id frequencies
    * with ⌈n/target⌉ salt factors at a 50-row/task target — the
    * quantified salting plan beside x172's broadcast advisor and
    * x110's shard assignment. */
  val x199 = query("x199_salt_advisor",
    // Replays saltAdvisor over user_id at target 50: grouped counts,
    // ceil-division salt factors, (n desc, key) top-20 cut.
    """SELECT CAST(user_id AS VARCHAR) AS key,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST((count(*) + 49) // 50 AS BIGINT) AS salt_factor,
      |       count(*) > 50 AS skewed
      |FROM events GROUP BY user_id
      |ORDER BY n DESC, key LIMIT 20""".stripMargin) { (s, dir) =>
    graft.operators.Layout.saltAdvisor(
      Tables.load(s, dir, "events"), "user_id",
      targetPerTask = 50L, topN = 20)
  }

  /** x207 join-size advisor — see
    * [[graft.operators.Layout.joinSizeAdvisor]]: the exact predicted
    * cardinality and top contributing keys of the lineitem⋈lineitem
    * self-join on part key, from two key histograms and a
    * histogram-sized join — the explosion forecast consulted before
    * x18's salting or x172's broadcast call. */
  val x207 = query("x207_join_size_advisor",
    // Replays joinSizeAdvisor on the lineitem part-key self-join: the
    // per-key histogram squared, exact total, (contrib desc, key)
    // top-10.
    """WITH h AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
      |                  CAST(count(*) AS BIGINT) AS n
      |           FROM lineitem GROUP BY 1),
      |c AS (SELECT key, n AS n_left, n AS n_right,
      |             CAST(n * n AS BIGINT) AS contrib FROM h),
      |t AS (SELECT CAST(coalesce(sum(contrib), 0) AS BIGINT)
      |        AS total_rows FROM c)
      |SELECT key, n_left, n_right, contrib, total_rows,
      |       CAST(contrib * 1000000 // total_rows AS BIGINT) AS share_micro
      |FROM c CROSS JOIN t ORDER BY contrib DESC, key LIMIT 10""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem").select(col("l_partkey").as("pk"))
    graft.operators.Layout.joinSizeAdvisor(li, li, "pk", topN = 10)
  }

  /** x216 join-order advisor — see
    * [[graft.operators.Layout.joinOrderAdvisor]]: exact intermediate-
    * size forecasts for the three orders of a supplier-scoped 3-way
    * equi-join (lineitem × supplier × returned-lineitem on suppkey),
    * from key histograms only — the x207 forecast loop extended to
    * the optimizer's order decision. */
  val x216 = query("x216_join_order_advisor",
    // Replays joinOrderAdvisor on (lineitem, supplier, returned
    // lineitem) suppkey histograms: pairwise intermediate forecasts,
    // shared final size, smallest-intermediate winner.
    """WITH ha AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
      |              CAST(count(*) AS HUGEINT) AS n
      |            FROM lineitem GROUP BY 1),
      |hb AS (SELECT CAST(s_suppkey AS VARCHAR) AS key,
      |         CAST(count(*) AS HUGEINT) AS n FROM supplier GROUP BY 1),
      |hc AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
      |         CAST(count(*) AS HUGEINT) AS n
      |       FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      |h AS (SELECT coalesce(ha.n, 0) AS na, coalesce(hb.n, 0) AS nb,
      |             coalesce(hc.n, 0) AS nc
      |      FROM ha FULL OUTER JOIN hb USING (key)
      |      FULL OUTER JOIN hc USING (key)),
      |s AS (SELECT CAST(sum(na * nb) AS BIGINT) AS ab,
      |             CAST(sum(na * nc) AS BIGINT) AS ac,
      |             CAST(sum(nb * nc) AS BIGINT) AS bc,
      |             CAST(sum(na * nb * nc) AS BIGINT) AS fin FROM h),
      |o AS (SELECT 'ab_then_c' AS join_order, ab AS intermediate_rows,
      |             fin AS final_rows FROM s
      |      UNION ALL SELECT 'ac_then_b', ac, fin FROM s
      |      UNION ALL SELECT 'bc_then_a', bc, fin FROM s),
      |b AS (SELECT join_order AS bo FROM o
      |      ORDER BY intermediate_rows, join_order LIMIT 1)
      |SELECT join_order, intermediate_rows, final_rows,
      |       join_order = b.bo AS best
      |FROM o, b ORDER BY join_order""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    graft.operators.Layout.joinOrderAdvisor(
      li.select(col("l_suppkey").as("k")),
      Tables.load(s, dir, "supplier").select(col("s_suppkey").as("k")),
      li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k")),
      "k")
  }

  /** x223 partition-count advisor — see
    * [[graft.operators.Layout.partitionCountAdvisor]]: the output
    * partition count that lands documents near the 128 MB parquet
    * target, from a per-row byte estimate (text chars + 64 B row
    * overhead) — the write-side sibling of x158/x199/x130. */
  val x223 = query("x223_partition_advisor",
    // Replays partitionCountAdvisor: one aggregation, ceiling
    // division to the 128 MB target, floor 1.
    """WITH ag AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |              CAST(coalesce(sum(CAST(n_chars AS BIGINT) + 64), 0)
      |                AS BIGINT) AS est_bytes
      |            FROM documents)
      |SELECT n_rows, est_bytes,
      |       CAST(134217728 AS BIGINT) AS target_partition_bytes,
      |       CAST(greatest((est_bytes + 134217727) // 134217728, 1)
      |         AS BIGINT) AS recommended_partitions,
      |       CAST(n_rows // greatest((est_bytes + 134217727) // 134217728,
      |         1) AS BIGINT) AS rows_per_partition
      |FROM ag""".stripMargin) { (s, dir) =>
    graft.operators.Layout.partitionCountAdvisor(
      docs(s, dir), "CAST(n_chars AS BIGINT) + 64L")
  }

  /** x234 epoch-allocation advisor — see
    * [[graft.operators.Layout.epochAllocationAdvisor]]: the
    * data-constrained mixing plan (which sources earn repeat epochs
    * under a 2× token budget, vocabulary-richness utility with
    * geometric repetition decay) — the planning advisor that sits
    * between x143's target mix and x54's upsampler. */
  val x234 = query("x234_epoch_allocation",
    // Replays epochAllocationAdvisor: per-source token/vocab stats,
    // the integer decay-power grid, the greedy whole-epoch fill under
    // the 2× budget — every division a truncating integer div.
    {
      val pows = Iterator.iterate(1000000L)(p => p * 700000L / 1000000L)
        .take(4).toSeq
      val eg = pows.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
      s"""WITH toks AS (SELECT source, unnest(${wordsSql("text")}) AS t
         |              FROM documents),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
         |       FROM toks GROUP BY 1),
         |vo AS (SELECT source, CAST(count(*) AS BIGINT) AS v
         |       FROM (SELECT DISTINCT source, t FROM toks) GROUP BY 1),
         |src AS (SELECT ps.source, ps.n_tokens,
         |          (vo.v * 1000000) // ps.n_tokens AS quality_micro
         |        FROM ps JOIN vo USING (source) WHERE ps.n_tokens > 0),
         |eg AS (SELECT * FROM (VALUES $eg) AS t(epoch, pow)),
         |grid AS (SELECT src.source, src.n_tokens, src.quality_micro,
         |           eg.epoch, (src.quality_micro * eg.pow) // 1000000 AS u
         |         FROM src, eg),
         |bud AS (SELECT (CAST(sum(n_tokens) AS HUGEINT) * 2000000) // 1000000
         |          AS b FROM src),
         |cum AS (SELECT *, SUM(CAST(n_tokens AS HUGEINT)) OVER (
         |          ORDER BY u DESC, source, epoch
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |        FROM grid),
         |kept AS (SELECT cum.* FROM cum, bud WHERE c <= b),
         |ta AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS ta FROM kept)
         |SELECT source, n_tokens, CAST(quality_micro AS BIGINT) AS quality_micro,
         |       CAST(count(*) AS BIGINT) AS epochs_allocated,
         |       CAST(count(*) * n_tokens AS BIGINT) AS tokens_allocated,
         |       CAST((CAST(count(*) * n_tokens AS HUGEINT) * 1000000) // ta.ta
         |         AS BIGINT) AS alloc_share_micro
         |FROM kept, ta WHERE ta.ta > 0
         |GROUP BY source, n_tokens, quality_micro, ta.ta
         |ORDER BY epochs_allocated DESC, source""".stripMargin
    }) { (s, dir) =>
    Layout.epochAllocationAdvisor(docs(s, dir))
  }

  /** x244 curriculum plan — see
    * [[graft.operators.Layout.curriculumPlan]] over x239's Flesch
    * scores (same sentence-mark plant): four equal-population
    * difficulty phases, easiest first, with token mass and score
    * ranges — the x239 → plan loop closed. */
  val x244 = query("x244_curriculum_plan",
    // Replays curriculumPlan over the x239 scores: ntile by
    // descending score with the doc-id tie-break, per-phase rollup,
    // one truncating micro division for the token share.
    s"""WITH $readabilityCtesSql,
       |t AS (SELECT doc_id, nw, fm,
       |        CAST(ntile(4) OVER (ORDER BY -fm, doc_id) AS INT) AS phase
       |      FROM rd WHERE fm IS NOT NULL),
       |ag AS (SELECT CAST(phase AS BIGINT) AS phase,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(nw) AS BIGINT) AS n_tokens,
       |         CAST(max(fm) AS BIGINT) AS score_hi_micro,
       |         CAST(min(fm) AS BIGINT) AS score_lo_micro
       |       FROM t GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS tt FROM ag)
       |SELECT phase, n_docs, n_tokens, score_hi_micro, score_lo_micro,
       |       CAST((CAST(n_tokens AS HUGEINT) * 1000000) // tot.tt
       |         AS BIGINT) AS token_share_micro
       |FROM ag, tot WHERE tot.tt > 0 ORDER BY phase""".stripMargin) { (s, dir) =>
    Layout.curriculumPlan(TextAnalysis.readability(docs(s, dir)
      .withColumn("text", expr("replace(text, ' a ', ' a. ')"))))
  }

  /** x249 advised three-way join — see
    * [[graft.operators.Layout.advisedThreeWayJoin]]: the
    * customer/supplier/nation nationkey triple joined in the order
    * [[graft.operators.Layout.joinOrderAdvisor]] forecasts cheapest,
    * with the executed join's row count reported BESIDE the forecast
    * (joined_rows must equal final_rows — the advisor's cardinality
    * model verified against the engine, not just read). Closes the
    * r15 "advisors are read-only" gap as a declared query;
    * PlanShapeSpec pins the physical innermost join pair to the
    * advised order. */
  val x249 = query("x249_advised_join",
    // Replays advisedThreeWayJoin's whole contract: histogram sums in
    // DECIMAL(38,0), best = min(intermediate, order-name tiebreak),
    // and the ACTUAL 3-way join counted beside the forecast.
    """WITH ha AS (SELECT CAST(c_nationkey AS VARCHAR) AS key,
      |        CAST(count(*) AS DECIMAL(38,0)) AS na
      |      FROM customer GROUP BY 1),
      |hb AS (SELECT CAST(s_nationkey AS VARCHAR) AS key,
      |        CAST(count(*) AS DECIMAL(38,0)) AS nb
      |      FROM supplier GROUP BY 1),
      |hc AS (SELECT CAST(n_nationkey AS VARCHAR) AS key,
      |        CAST(count(*) AS DECIMAL(38,0)) AS nc
      |      FROM nation GROUP BY 1),
      |h AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb,
      |        coalesce(nc, 0) AS nc
      |      FROM ha FULL JOIN hb USING (key) FULL JOIN hc USING (key)),
      |s AS (SELECT coalesce(sum(na * nb), 0) AS ab,
      |        coalesce(sum(na * nc), 0) AS ac,
      |        coalesce(sum(nb * nc), 0) AS bc,
      |        coalesce(sum(na * nb * nc), 0) AS fin FROM h),
      |o AS (SELECT 'ab_then_c' AS join_order, ab AS i FROM s
      |      UNION ALL SELECT 'ac_then_b', ac FROM s
      |      UNION ALL SELECT 'bc_then_a', bc FROM s),
      |best AS (SELECT join_order, CAST(i AS BIGINT) AS intermediate_rows
      |         FROM o ORDER BY i, join_order LIMIT 1),
      |fr AS (SELECT CAST(fin AS BIGINT) AS final_rows FROM s),
      |j AS (SELECT CAST(count(*) AS BIGINT) AS joined_rows
      |      FROM customer c
      |        JOIN supplier sp ON c.c_nationkey = sp.s_nationkey
      |        JOIN nation n ON c.c_nationkey = n.n_nationkey)
      |SELECT best.join_order, best.intermediate_rows, fr.final_rows,
      |       j.joined_rows
      |FROM best, fr, j""".stripMargin) { (s, dir) =>
    val (advice, joined) = graft.operators.Layout.advisedThreeWayJoin(
      Tables.load(s, dir, "customer").select(col("c_nationkey").as("k")),
      Tables.load(s, dir, "supplier").select(col("s_nationkey").as("k")),
      Tables.load(s, dir, "nation").select(col("n_nationkey").as("k")),
      "k")
    advice.filter(col("best"))
      .select(col("join_order"), col("intermediate_rows"), col("final_rows"))
      .crossJoin(broadcast(
        joined.agg(count(lit(1)).cast("bigint").as("joined_rows"))))
  }
}
