package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The declared correctness-query inventory (SURVEY.md §2.9, Q01–Q26),
  * each expressed Spark-first with the DataFrame API so Catalyst picks
  * the physical strategy (broadcast vs sort-merge joins, partial+final
  * hash aggregation, TakeOrderedAndProject for top-k, …).
  *
  * Hash-stability rules baked in (SURVEY §2.9): every query ends in a
  * total-order sort matching its oracle SQL; double-typed SUMs go
  * through DECIMAL(18,2); session timezone is UTC.
  *
  * Scale notes per query are inline — the guiding rule: filters and
  * projections sit directly on the scan (pushdown), small dimensions
  * broadcast, and only key-repartitioning aggregations/joins shuffle.
  *
  * Each query's DuckDB oracle (validated row-identical Spark↔DuckDB at
  * sf0.01/sf0.1) sits at its declaration. Its column aliases must match
  * the Spark-side output column names exactly — the driver sorts
  * columns by name before hashing values.
  */
object RelationalQueries extends QueryFamily {

  private val dec = DecimalType(18, 2)
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Q01 scan + project + sort. */
  val q01 = query("q01_scan_project_sort",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (spark, dir) =>
    t(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  /** Q02 filter + string funcs (trim/upper/length). Both predicates push
    * into the parquet scan. */
  val q02 = query("q02_filter_string_funcs",
    """SELECT c_custkey, upper(trim(c_name)) AS nm, length(c_name) AS ln
      |FROM customer WHERE c_acctbal > 1000 AND c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .filter(col("c_acctbal") > 1000 && col("c_mktsegment") === "BUILDING")
      .select(
        col("c_custkey"),
        upper(trim(col("c_name"))).as("nm"),
        length(col("c_name")).as("ln"))
      .orderBy(col("c_custkey"))
  }

  /** Q03 regex extract + LIKE + try_cast validation (ref F3/F4 shape,
    * publish_to_catalog.py:83-91,181-190). */
  val q03 = query("q03_regex_trycast",
    """SELECT p_partkey, regexp_extract(p_type, '[A-Z]+', 0) AS ty,
      |       CASE WHEN try_cast(p_brand AS DOUBLE) IS NULL THEN 1 ELSE 0 END AS nonnum
      |FROM part WHERE p_name LIKE '%a%' AND p_size BETWEEN 10 AND 30
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "part")
      .filter(col("p_name").like("%a%") && col("p_size").between(10, 30))
      .select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "[A-Z]+", 0).as("ty"),
        when(col("p_brand").try_cast("double").isNull, lit(1))
          .otherwise(lit(0)).as("nonnum"))
      .orderBy(col("p_partkey"))
  }

  /** Q04 equi-join chain (ref J1). nation/region are tiny → Catalyst
    * auto-broadcasts both sides; only the final groupBy shuffles. */
  val q04 = query("q04_join_chain_agg",
    """SELECT n.n_name, count(*) AS c
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |GROUP BY n.n_name ORDER BY c DESC, n.n_name""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("n_name"))
  }

  /** Q05 NOT EXISTS → left anti join (ref J2: deletion detection). */
  val q05 = query("q05_anti_join",
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val pend = t(spark, dir, "orders").filter(col("o_orderstatus") === "P")
    t(spark, dir, "customer")
      .join(pend, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Q06 EXISTS → left semi join (ref J3: keep-set). */
  val q06 = query("q06_semi_join",
    """SELECT c_custkey FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val open = t(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    t(spark, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Q07 hash agg with partial+final combine (TPC-H Q1 shape, ref A1).
    * Decimal casts make the sums accumulation-order-stable, so the
    * map-side partial aggregation is safe at any partition count. The
    * exact decimal result rounds ONCE to double at the end — both
    * engines (and both client conversion paths: Decimal objects vs
    * pandas float64) then agree bit-for-bit. */
  val q07 = query("q07_hash_agg_decimal",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       count(*) AS n
      |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") < to_timestamp(lit("2000-01-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q08 conditional count (ref A1 valid/invalid split). */
  val q08 = query("q08_conditional_count",
    """SELECT o_orderpriority,
      |       CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS big,
      |       count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_totalprice") > 100000, 1).otherwise(0)).as("big"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q09 exact count distinct (expands to a two-stage distinct agg). */
  val q09 = query("q09_count_distinct",
    "SELECT count(DISTINCT o_custkey) AS u FROM orders") { (spark, dir) =>
    t(spark, dir, "orders")
      .agg(countDistinct(col("o_custkey")).as("u"))
  }

  /** Q10 rollup. */
  val q10 = query("q10_rollup",
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first,
        col("n"))
  }

  /** Q11 grouping sets + grouping() marker. */
  val q11 = query("q11_grouping_sets",
    """SELECT c_mktsegment, c_nationkey, grouping(c_mktsegment) AS g, count(*) AS n
      |FROM customer GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY g, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey")), Seq()),
        col("c_mktsegment"), col("c_nationkey"))
      .agg(grouping(col("c_mktsegment")).as("g"), count(lit(1)).as("n"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("g"), col("n"))
      .orderBy(
        col("g"),
        col("c_mktsegment").asc_nulls_first,
        col("c_nationkey").asc_nulls_first)
  }

  /** Q12 last-wins-by-key via row_number (ref A4: dict-overwrite
    * semantics of updateChangeLog, publish_to_catalog.py:93-124).
    * One shuffle on the partition key; no global sort until the end. */
  val q12 = query("q12_row_number_lastwins",
    """SELECT o_custkey, o_orderkey FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"))
      .orderBy(col("o_custkey"))
  }

  /** Q13 top-k: orderBy + limit compiles to TakeOrderedAndProject —
    * per-partition top-k then a driver-side merge, no global sort. */
  val q13 = query("q13_topk_limit",
    """SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
      |FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 25""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(25)
      .select(col("c_custkey"), col("c_acctbal").cast(dec).cast("double").as("bal"))
  }

  /** Q14 lag analytic (ref W2). */
  val q14 = query("q14_lag_analytic",
    """SELECT o_custkey, o_orderkey,
      |       lag(o_orderkey) OVER (PARTITION BY o_custkey
      |                             ORDER BY o_orderdate, o_orderkey) AS prev_ok
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q15 running-frame sum (ref W2). */
  val q15 = query("q15_running_sum",
    """SELECT o_custkey, o_orderkey,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(dec)).over(w).cast("double").as("run"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q16 union all (ref U1: cross-feed row accumulation). */
  val q16 = query("q16_union_all",
    """SELECT k FROM (SELECT c_custkey AS k FROM customer
      |               UNION ALL SELECT s_suppkey AS k FROM supplier) t
      |ORDER BY k LIMIT 100""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer").select(col("c_custkey").as("k"))
      .union(t(spark, dir, "supplier").select(col("s_suppkey").as("k")))
      .orderBy(col("k"))
      .limit(100)
  }

  /** Q17 EXCEPT (ref U2: delete-set construction). */
  val q17 = query("q17_except",
    """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
      |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F' ORDER BY k""".stripMargin) { (spark, dir) =>
    val o = t(spark, dir, "orders")
    o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("k"))
      .except(
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k")))
      .orderBy(col("k"))
  }

  /** Q18 INTERSECT (ref U3: keep-set). */
  val q18 = query("q18_intersect",
    """SELECT c_nationkey AS k FROM customer
      |INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer").select(col("c_nationkey").as("k"))
      .intersect(t(spark, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy(col("k"))
  }

  /** Q19 per-row scalar lookup, decorrelated: aggregate-then-left-join is
    * the plan Catalyst derives from the correlated subquery anyway, and
    * it shuffles `orders` once on the join key instead of per-row. */
  val q19 = query("q19_decorrelated_lookup",
    """SELECT c.c_custkey,
      |       (SELECT max(o.o_orderkey) FROM orders o
      |         WHERE o.o_custkey = c.c_custkey) AS last_ok
      |FROM customer c ORDER BY c.c_custkey""".stripMargin) { (spark, dir) =>
    val lastOk = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderkey")).as("last_ok"))
    t(spark, dir, "customer")
      .join(lastOk, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("last_ok"))
      .orderBy(col("c_custkey"))
  }

  /** Q20 scalar extraction from JSON-ish props (ref C14, via portable
    * regex so the oracle agrees byte-for-byte). */
  val q20 = query("q20_json_extract",
    """SELECT event_id, CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS k
      |FROM events WHERE event_type IN ('purchase','signup') ORDER BY event_id""".stripMargin) { (spark, dir) =>
    t(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "signup"))
      .select(
        col("event_id"),
        regexp_extract(col("props"), "[0-9]+", 0).cast("int").as("k"))
      .orderBy(col("event_id"))
  }

  /** Q21 tumbling window as date-bucket agg (batch-checkable form of the
    * streaming tumbling window, SURVEY §2.8). */
  val q21 = query("q21_tumbling_window",
    """SELECT CAST(CAST(ts AS DATE) AS STRING) AS d, event_type, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM events GROUP BY CAST(ts AS DATE), event_type
      |ORDER BY d, event_type""".stripMargin) { (spark, dir) =>
    t(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).cast("double").as("v"))
      .orderBy(col("d"), col("event_type"))
  }

  /** Q22 sessionization via gap > 1h: lag to flag session starts, running
    * sum to number sessions, then a keyed count. Both windows share one
    * partitioning on user_id → a single shuffle. */
  val q22 = query("q22_sessionization",
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n FROM (
      |  SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (SELECT user_id, ts, event_id,
      |               CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id) IS NULL
      |                         OR ts > lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id) + INTERVAL '1' HOUR
      |                    THEN 1 ELSE 0 END AS new_s
      |        FROM events) a) b
      |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(byUser).isNull ||
             col("ts") > lag(col("ts"), 1).over(byUser) + expr("INTERVAL '1' HOUR"),
          1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Q23 exact dedup, distinct form (extension: dedup operator family). */
  val q23 = query("q23_exact_dedup_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q24 non-equi (theta) join — BNLJ with the 5-row region broadcast. */
  val q24 = query("q24_theta_join",
    """SELECT r.r_regionkey, count(*) AS n
      |FROM region r JOIN nation n ON n.n_regionkey <= r.r_regionkey
      |GROUP BY r.r_regionkey ORDER BY r.r_regionkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") <= col("r_regionkey"))
      .groupBy(col("r_regionkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("r_regionkey"))
  }

  /** Q25 per-language doc stats (extension: text analysis). */
  val q25 = query("q25_doc_stats",
    """SELECT lang, count(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
      |       count(DISTINCT source) AS srcs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).as("chars"),
        countDistinct(col("source")).as("srcs"))
      .orderBy(col("lang"))
  }

  /** Q26 text predicate + length bucketing. FLOOR before the INT cast is
    * mandatory for oracle agreement (Spark truncates double→int, DuckDB
    * rounds — SURVEY §2.9 rule 1). */
  val q26 = query("q26_length_bucketing",
    """SELECT CAST(FLOOR(n_chars / 100) AS INT) AS bucket, count(*) AS n
      |FROM documents WHERE text LIKE '%spark%'
      |GROUP BY CAST(FLOOR(n_chars / 100) AS INT)
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .filter(col("text").like("%spark%"))
      .groupBy(floor(col("n_chars") / 100).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Q27 cube — the full 2^k grouping lattice (superset of Q10's
    * rollup); same ExpandExec + single hash-agg shuffle plan shape. */
  val q27 = query("q27_cube",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (spark, dir) =>
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("qty"))
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** Q28 pivot: long→wide with a pinned value list — an explicit value
    * list keeps the plan a single pass (no extra distinct-values job)
    * and makes the output schema static, which is what a 100 TB pivot
    * needs anyway. Empty cells coalesce to 0 so the result is
    * null-free on both engines. */
  val q28 = query("q28_pivot",
    """SELECT o_orderpriority,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_cnt,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_cnt,
      |       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_cnt
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("f_cnt"),
        coalesce(col("O"), lit(0L)).as("o_cnt"),
        coalesce(col("P"), lit(0L)).as("p_cnt"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q29 generator/UDTF surface: explode word tokens and count — the
    * corpus term-frequency pass. The ≥ once-per-doc-on-average
    * threshold is sf-relative (a 1-row broadcast join, no driver
    * round-trip) so the result is non-empty and stable at every sf. */
  val q29 = query("q29_token_explode",
    s"""WITH t AS (
       |  SELECT unnest(${CorpusHelpers.wordsSql("text")}) AS token
       |  FROM documents)
       |SELECT token, count(*) AS n FROM t GROUP BY token
       |HAVING count(*) >= (SELECT count(*) FROM documents)
       |ORDER BY token""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir, "documents")
    val nDocs = d.agg(count(lit(1)).as("__nd"))
    d.select(explode(graft.functions.TextFunctions.words(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(nDocs))
      .filter(col("n") >= col("__nd"))
      .select(col("token"), col("n"))
      .orderBy(col("token"))
  }

  /** Q30 interpolated percentiles (exact, not sketch — x20 holds the
    * sketch variant): both engines sort and linearly interpolate at
    * p·(n-1), so the doubles agree bit-for-bit before the final
    * round(2). */
  val q30 = query("q30_percentile_cont",
    """SELECT o_orderpriority,
      |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p50,
      |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p90,
      |       count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 2).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 2).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q31 arg-max (max_by): the struct ordering key makes the pick
    * deterministic under price ties — (price, key) is unique. One
    * hash agg; no window shuffle. */
  val q31 = query("q31_arg_max",
    """SELECT o_orderpriority, o_orderkey AS best_ok,
      |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS best_price
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_orderpriority
      |                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |      FROM orders) t
      |WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("best_ok"),
        max(col("o_totalprice").cast(dec)).cast("double").as("best_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q32 ordered string aggregation: sort the collected set before
    * joining so the concatenation is order-stable regardless of
    * partitioning (collect_set order is not deterministic — the sort
    * is what makes this oracle-able). */
  val q32 = query("q32_string_agg",
    """SELECT lang, array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
      |       count(*) AS n
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
        count(lit(1)).as("n"))
      .orderBy(col("lang"))
  }

  /** Q33 full outer join with side classification — the merge-reconcile
    * shape (which keys are only in the target, only in the source, or
    * both). Keys are pre-distinct so the join is 1:1 and the output
    * key column is a total order. */
  val q33 = query("q33_full_outer_join",
    """SELECT coalesce(a.k, b.k) AS k,
      |       CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 'both'
      |            WHEN a.k IS NOT NULL THEN 'left' ELSE 'right' END AS side
      |FROM (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING') a
      |FULL OUTER JOIN (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'P') b
      |ON a.k = b.k
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    val a = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k")).distinct()
    val b = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("k")).distinct()
    a.as("a").join(b.as("b"), col("a.k") === col("b.k"), "full_outer")
      .select(
        coalesce(col("a.k"), col("b.k")).as("k"),
        when(col("a.k").isNotNull && col("b.k").isNotNull, "both")
          .when(col("a.k").isNotNull, "left")
          .otherwise("right").as("side"))
      .orderBy(col("k"))
  }

  /** Q34 rank-distribution analytics: percent_rank / cume_dist /
    * ntile over a UNIQUE ordering key (acctbal, custkey) — no ties, so
    * ranks are deterministic, and (rank-1)/(n-1) and rank/n are exact
    * integer-operand double divisions that match any engine
    * bit-for-bit. */
  val q34 = query("q34_rank_distribution",
    """SELECT c_custkey, c_mktsegment,
      |       round(percent_rank() OVER w, 6) AS pr,
      |       round(cume_dist() OVER w, 6) AS cd,
      |       ntile(4) OVER w AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    // round 12: c_mktsegment has ~5 values, so the old per-segment
    // window sorted a fifth of the table in ONE task. The exact rank
    // now comes from the two-phase grouped prefix sum, and all three
    // statistics are closed forms of (rn, n): the order tie-breaks on
    // the unique c_custkey, so rank = row_number, percent_rank =
    // (rn−1)/(n−1), cume_dist = rn/n (peers are single rows), and
    // ntile(4) is the fill-rule formula — identical doubles (same
    // operands Spark's window expressions divide) and identical tiles
    val counts = t(spark, dir, "customer")
      .groupBy(col("c_mktsegment").as("__seg"))
      .agg(count(lit(1)).cast("long").as("__n"))
    graft.operators.Rank.withGroupedPrefixSums(
        t(spark, dir, "customer").withColumn("__one", lit(1L)),
        "c_mktsegment", Seq(col("c_acctbal"), col("c_custkey")),
        Seq("__one" -> "__rn"))
      .join(broadcast(counts), col("c_mktsegment") <=> col("__seg"))
      .select(
        col("c_custkey"), col("c_mktsegment"),
        round(when(col("__n") === 1, lit(0.0))
          .otherwise((col("__rn") - 1).cast("double") /
            (col("__n") - 1).cast("double")), 6).as("pr"),
        round(col("__rn").cast("double") / col("__n").cast("double"), 6)
          .as("cd"),
        expr("""CAST(CASE
            WHEN __n div 4 = 0 THEN __rn
            WHEN __rn <= (__n % 4) * (__n div 4 + 1)
              THEN (__rn - 1) div (__n div 4 + 1) + 1
            ELSE __n % 4
              + (__rn - 1 - (__n % 4) * (__n div 4 + 1)) div (__n div 4) + 1
            END AS INT)""").as("quartile"))
      .orderBy(col("c_custkey"))
  }

  /** Q35 frame navigation: first/nth/last order key per customer over
    * the full-partition frame (explicit UNBOUNDED FOLLOWING — the
    * default frame would make last_value mean "current row").
    * second_ok is null for single-order customers. */
  val q35 = query("q35_frame_navigation",
    """SELECT o_custkey, o_orderkey,
      |       first_value(o_orderkey) OVER w AS first_ok,
      |       nth_value(o_orderkey, 2) OVER w AS second_ok,
      |       last_value(o_orderkey) OVER w AS last_ok
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q36 date/time function surface: extract fields, date arithmetic,
    * day differences — all on the scan projection (no shuffle but the
    * final sort). The +30d value is emitted as an ISO STRING (a DATE
    * column would render differently across client paths — the q21
    * lesson); day counts anchor to DATE '1995-01-01' so they are small
    * exact INTs. */
  val q36 = query("q36_date_functions",
    // EXTRACT returns BIGINT in DuckDB, INT in Spark — cast each field.
    // The +30d value compares as an ISO string (DATE renders differently
    // across client paths); CAST(date AS VARCHAR) is ISO in DuckDB.
    """SELECT o_orderkey,
      |       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
      |       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
      |       CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
      |       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
      |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd")
          .as("plus30"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("days_since"))
      .orderBy(col("o_orderkey"))
  }

  /** Q37 string function surface: pad/reverse/repeat/replace/position/
    * left/split_part — one codegen'd projection. instr and strpos share
    * 1-based/0-absent semantics; inputs are ASCII by fixture contract. */
  val q37 = query("q37_string_functions",
    // strpos is DuckDB's 1-based/0-absent instr; both engines' split_part
    // and left share semantics on ASCII fixture strings.
    """SELECT p_partkey,
      |       lpad(p_brand, 12, '*') AS lp,
      |       rpad(p_brand, 12, '-') AS rp,
      |       reverse(p_name) AS rev,
      |       repeat(substr(p_type, 1, 3), 2) AS rep,
      |       replace(p_name, ' ', '_') AS und,
      |       CAST(strpos(p_name, 'a') AS INT) AS pos_a,
      |       left(p_name, 5) AS l5,
      |       split_part(p_type, ' ', 1) AS sp1
      |FROM part ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "part")
      .select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "-").as("rp"),
        reverse(col("p_name")).as("rev"),
        repeat(substring(col("p_type"), 1, 3), 2).as("rep"),
        expr("replace(p_name, ' ', '_')").as("und"),
        instr(col("p_name"), "a").as("pos_a"),
        expr("left(p_name, 5)").as("l5"),
        expr("split_part(p_type, ' ', 1)").as("sp1"))
      .orderBy(col("p_partkey"))
  }

  /** Q38 multiset set-ops: EXCEPT ALL / INTERSECT ALL (the bag forms
    * q17/q18 don't cover — duplicates survive subtraction). Tagged
    * union of the two results; rows with equal (op, k) are
    * interchangeable, so the ORDER BY is hash-total. */
  val q38 = query("q38_set_ops_all",
    """SELECT 'ex' AS op, k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT ALL
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O') a
      |UNION ALL
      |SELECT 'in' AS op, k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT ALL
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O') b
      |ORDER BY op, k""".stripMargin) { (spark, dir) =>
    val orders = t(spark, dir, "orders")
    val f = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    val o = orders.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k"))
    f.exceptAll(o).select(lit("ex").as("op"), col("k"))
      .unionByName(f.intersectAll(o).select(lit("in").as("op"), col("k")))
      .orderBy(col("op"), col("k"))
  }

  /** Q39 RANGE window frame: trailing-30-day spend per customer —
    * the value-based frame (peers by day distance) that the ROWS
    * frames of q15 can't express. The order key is an exact day
    * count, the frame sum stays in DECIMAL. */
  val q39 = query("q39_range_frame",
    """SELECT o_custkey, o_orderkey, CAST(d AS INT) AS d,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |         PARTITION BY o_custkey ORDER BY d
      |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail30
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d
      |      FROM orders) t
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-30, 0)
    t(spark, dir, "orders")
      .withColumn("d", datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")))
      .select(col("o_custkey"), col("o_orderkey"), col("d"),
        sum(col("o_totalprice").cast(dec)).over(w).cast("double")
          .as("trail30"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q40 recursive CTE date spine + gap-fill outer join: the recursive
    * UNION ALL generates a 35-day calendar (2024-01-01 … 2024-02-04,
    * deliberately past the January fixture window so the zero-filled
    * gap rows are non-vacuous), left-joined to per-day event
    * aggregates. The recursion is driver-cheap (35 single-column rows
    * via UnionLoop); the only data-sized shuffle is the daily groupBy,
    * and the spine side is broadcast into the join. Sums stay DECIMAL
    * until one final cast (the q07 rule). */
  val q40 = query("q40_date_spine_gapfill",
    // DuckDB's DATE + int is the date_add spelling; CAST(date AS VARCHAR)
    // is ISO. The recursive spine and the decimal-until-the-end sum
    // replay the engine's plan shape exactly.
    """WITH RECURSIVE spine(n) AS (
      |  SELECT 0 UNION ALL SELECT n + 1 FROM spine WHERE n < 34
      |),
      |daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt,
      |         SUM(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY CAST(ts AS DATE)
      |)
      |SELECT CAST(DATE '2024-01-01' + n AS VARCHAR) AS d,
      |       CAST(coalesce(cnt, 0) AS BIGINT) AS n_events,
      |       CAST(coalesce(v, 0) AS DOUBLE) AS v
      |FROM spine LEFT JOIN daily ON daily.day = DATE '2024-01-01' + n
      |ORDER BY d""".stripMargin) { (spark, dir) =>
    t(spark, dir, "events").createOrReplaceTempView("q40_events")
    spark.sql(
      """WITH RECURSIVE spine(n) AS (
        |  SELECT 0 UNION ALL SELECT n + 1 FROM spine WHERE n < 34
        |),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt,
        |         SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM q40_events GROUP BY CAST(ts AS DATE)
        |)
        |SELECT date_format(date_add(DATE'2024-01-01', n), 'yyyy-MM-dd') AS d,
        |       CAST(coalesce(cnt, 0) AS BIGINT) AS n_events,
        |       CAST(coalesce(v, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM spine LEFT JOIN daily ON daily.day = date_add(DATE'2024-01-01', n)
        |ORDER BY d""".stripMargin)
  }

  /** Q41 unpivot (wide → long): two numeric part measures melted into
    * (measure, val) rows — a pure narrow map (each input row emits one
    * row per measure, no shuffle but the final sort). Measures are
    * cast to DOUBLE before the melt so the long column has one type;
    * the values are raw scan values (no arithmetic), so the hash gate
    * sees identical doubles on both engines. */
  val q41 = query("q41_unpivot_long",
    """SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS val
      |FROM part
      |UNION ALL
      |SELECT p_partkey, 'retail' AS measure, CAST(p_retailprice AS DOUBLE) AS val
      |FROM part
      |ORDER BY p_partkey, measure""".stripMargin) { (spark, dir) =>
    t(spark, dir, "part")
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").cast("double").as("retail"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")),
        "measure", "val")
      .orderBy(col("p_partkey"), col("measure"))
  }

  /** Q42 MapType surface (SURVEY §1.2/§2.6 C13): per customer an
    * orderkey→status map built with map_from_entries over collect_list
    * — the open-records shape of the reference's optional JSON fields.
    * collect_list order is partition-dependent, so the OUTPUTS are all
    * order-free map lookups (size, element_at by the min key,
    * map_contains_key), never the raw map: the declared result is
    * deterministic even though the map's entry order is not. */
  val q42 = query("q42_map_functions",
    // The engine answers through map lookups; the oracle replays the
    // same values relationally (orderkeys are unique per customer, so
    // the map semantics collapse to arg_min / membership).
    """SELECT o_custkey,
      |       CAST(count(*) AS INT) AS n_orders,
      |       arg_min(o_orderstatus, o_orderkey) AS first_status,
      |       CAST(bool_or(o_orderkey = 1) AS INT) AS has_ok1
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        map_from_entries(collect_list(
          struct(col("o_orderkey"), col("o_orderstatus")))).as("m"),
        min(col("o_orderkey")).as("min_ok"))
      .select(
        col("o_custkey"),
        size(col("m")).as("n_orders"),
        element_at(col("m"), col("min_ok")).as("first_status"),
        map_contains_key(col("m"), lit(1L)).cast("int").as("has_ok1"))
      .orderBy(col("o_custkey"))
  }

  /** Q43 TPC-H Q3-shaped composite (shipping-priority): the classic
    * 3-table join funnel with filters on every input, a decimal-exact
    * revenue aggregate, and a top-10. All three filters sit on the
    * scans (pushdown); customer is the small side after its segment
    * filter (broadcast), the orders↔lineitem join shuffles on the
    * order key; the top-10 compiles to TakeOrderedAndProject. Revenue
    * stays DECIMAL through the multiply-sum (exact on both engines)
    * and is cast to DOUBLE once. */
  val q43 = query("q43_join_funnel_topk",
    """SELECT l_orderkey,
      |       CAST(CAST(o_orderdate AS DATE) AS STRING) AS odate,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (spark, dir) =>
    val cutoff = lit("1996-01-01 00:00:00").cast("timestamp")
    val c = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q44 TPC-H Q5-shaped six-table join (local-supplier revenue): the
    * join-order stress test — lineitem⋈orders⋈customer shuffle on
    * their keys, supplier joins on BOTH l_suppkey and the
    * c_nationkey = s_nationkey locality constraint, nation/region
    * broadcast. This is the query where Catalyst's join reordering +
    * AQE earn their keep at 100 TB; the engine declares the joins and
    * lets the optimizer pick build sides. Revenue follows the q43
    * decimal-exact rule. */
  val q44 = query("q44_six_table_join",
    """SELECT n_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (spark, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    t(spark, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev"))
      .select(col("n_name"), col("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q45 higher-order array functions: split → filter(lambda) →
    * transform(lambda) → aggregate(fold) → distinct/sort/join, all as
    * codegen'd Catalyst lambda expressions — the Spark-native answer to
    * per-row collection processing that would otherwise leak into UDFs
    * (and out of whole-stage codegen). Everything stays in one narrow
    * projection over the scan: no shuffle, no UDF, fully pushed
    * column pruning. Integer-space fold keeps the hash stable. */
  val q45 = query("q45_array_lambdas",
    // list lambdas mirror Spark's transform/filter/aggregate; the fold
    // stays in integer space (order-insensitive sum of lengths) and the
    // distinct list is sorted before joining, so both engines agree
    // bit-for-bit.
    """SELECT p_partkey,
      |       CAST(len(string_split(p_name, ' ')) AS INT) AS nw,
      |       CAST(coalesce(list_sum(list_transform(
      |              list_filter(string_split(p_name, ' '),
      |                          w -> length(w) > 4),
      |              w -> length(w))), 0) AS BIGINT) AS chars_long,
      |       array_to_string(list_sort(list_distinct(
      |         string_split(p_name, ' '))), ',') AS uniq
      |FROM part ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    val ws = split(col("p_name"), " ")
    t(spark, dir, "part")
      .select(
        col("p_partkey"),
        size(ws).as("nw"),
        aggregate(
          transform(filter(ws, w => length(w) > 4), w => length(w)),
          lit(0),
          (acc, x) => acc + x).cast("long").as("chars_long"),
        array_join(array_sort(array_distinct(ws)), ",").as("uniq"))
      .orderBy(col("p_partkey"))
  }

  /** Q46 correlated scalar subqueries (SELECT-list COUNT and SUM):
    * written as the user would write them — correlated per-row — and
    * decorrelated by Catalyst into outer aggregate-joins, which is the
    * only execution shape that survives 100 TB (per-row re-execution
    * of the inner query is the nested-loop trap the reference's
    * O(n·m) catalog lookup falls into, SURVEY §2.3 J1). The COUNT
    * branch exercises the null→0 on-empty rule the rewrite must
    * preserve; SUM goes decimal-until-the-end. */
  val q46 = query("q46_correlated_scalar",
    """SELECT c_custkey,
      |       (SELECT count(*) FROM orders o
      |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |       (SELECT CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
      |               AS DOUBLE)
      |        FROM orders o WHERE o.o_custkey = c.c_custkey) AS spend
      |FROM customer c
      |WHERE c_acctbal > 9000.0
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "customer").createOrReplaceTempView("q46_customer")
    t(spark, dir, "orders").createOrReplaceTempView("q46_orders")
    spark.sql(
      """SELECT c_custkey,
        |       (SELECT count(*) FROM q46_orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       (SELECT CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
        |               AS DOUBLE)
        |        FROM q46_orders o WHERE o.o_custkey = c.c_custkey) AS spend
        |FROM q46_customer c
        |WHERE c_acctbal > 9000.0
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q47 positional explode: `posexplode` carries the element INDEX
    * through the lateral expansion — the ordinality the plain explode
    * (q29) drops, needed wherever position is data (token offsets,
    * array-to-row pivots). Generate runs inside the scan stage; no
    * shuffle besides the final sort. Oracle: DuckDB index lambda
    * `(x, i) ->` (1-based, shifted) — DuckDB has no WITH ORDINALITY. */
  val q47 = query("q47_posexplode",
    // DuckDB has no WITH ORDINALITY; the index lambda (1-based,
    // shifted to posexplode's 0-based pos) is the equivalent.
    """SELECT p_partkey, CAST(u.pos AS INTEGER) AS pos, u.word AS word
      |FROM (SELECT p_partkey,
      |             unnest(list_transform(string_split(p_name, ' '),
      |                                   (x, i) -> {'pos': i - 1, 'word': x})) AS u
      |      FROM part WHERE p_partkey < 50) t
      |ORDER BY p_partkey, pos""".stripMargin) { (spark, dir) =>
    t(spark, dir, "part")
      .filter(col("p_partkey") < 50)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
      .select(col("p_partkey"), col("pos"), col("col").as("word"))
      .orderBy(col("p_partkey"), col("pos"))
  }

  /** q48 array set algebra: per-row intersect/except of a token array
    * against a literal vocabulary — the array-typed sibling of U2/U3's
    * relation-level set ops. Both engines dedup set-op results, but
    * disagree on ELEMENT ORDER (Spark keeps first-array order, DuckDB
    * doesn't define one), so every array is sorted before it reaches
    * the output — the membership SET is the contract, order is
    * rendering. Narrow codegen projection; no shuffle besides the
    * final sort. */
  val q48 = query("q48_array_setops",
    // Both engines dedup set-op results but order differently — sorted
    // arrays are the contract (q48 scaladoc). DuckDB lacks
    // list_except: distinct + not-contains filter is the equivalent.
    """SELECT p_partkey,
      |  coalesce(array_to_string(list_sort(list_intersect(string_split(p_name, ' '),
      |    ['red','blue','green','small','ring','bolt'])), ','), '') AS known,
      |  coalesce(array_to_string(list_sort(list_filter(list_distinct(string_split(p_name, ' ')),
      |    x -> NOT list_contains(['red','blue','green','small','ring','bolt'], x))), ','), '') AS novel,
      |  CAST(len(list_intersect(string_split(p_name, ' '),
      |    ['red','blue','green','small','ring','bolt'])) AS INTEGER) AS n_known,
      |  CAST(len(list_filter(list_distinct(string_split(p_name, ' ')),
      |    x -> NOT list_contains(['red','blue','green','small','ring','bolt'], x))) AS INTEGER) AS n_novel
      |FROM part ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    val ws = split(col("p_name"), " ")
    val vocab = array(Seq("red", "blue", "green", "small", "ring", "bolt").map(lit): _*)
    t(spark, dir, "part")
      .select(col("p_partkey"),
        array_join(array_sort(array_intersect(ws, vocab)), ",").as("known"),
        array_join(array_sort(array_except(ws, vocab)), ",").as("novel"),
        size(array_intersect(ws, vocab)).as("n_known"),
        size(array_except(ws, vocab)).as("n_novel"))
      .orderBy(col("p_partkey"))
  }

  /** q49 regexp_extract_all: ALL matches of a pattern per row (C8/q03
    * extract only the first) — runs of non-zero digits in the customer
    * name, so rows yield zero, one, or many matches. Out-of-range
    * access uses `get` (null, not ANSI error) — same as DuckDB's
    * list indexing. Simple character-class patterns are leftmost-
    * greedy in both engines' regex dialects. */
  val q49 = query("q49_regexp_extract_all",
    """SELECT c_custkey, CAST(len(r) AS INTEGER) AS n_runs,
      |       r[1] AS first_run, r[len(r)] AS last_run,
      |       coalesce(array_to_string(r, ','), '') AS all_runs
      |FROM (SELECT c_custkey, regexp_extract_all(c_name, '[1-9]+') AS r
      |      FROM customer WHERE c_custkey < 200) t
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val runs = regexp_extract_all(col("c_name"), lit("[1-9]+"), lit(0))
    t(spark, dir, "customer")
      .filter(col("c_custkey") < 200)
      .select(col("c_custkey"),
        size(runs).as("n_runs"),
        get(runs, lit(0)).as("first_run"),
        get(runs, size(runs) - 1).as("last_run"),
        array_join(runs, ",").as("all_runs"))
      .orderBy(col("c_custkey"))
  }

  /** q50 correlated LATERAL top-n per group: each region's top-2
    * nations by customer count through `CROSS JOIN LATERAL` with a
    * correlated aggregate + ORDER/LIMIT subquery — the per-row
    * derived-table surface (Spark ≥ 3.4 decorrelates it to a ranked
    * join; the plan must NOT execute the subquery per region row).
    * The spelling parses verbatim in Spark AND DuckDB, so the oracle
    * is the same text over the base tables. */
  val q50 = query("q50_lateral_topn",
    // CROSS JOIN LATERAL parses verbatim in Spark and DuckDB — one
    // portable text serves the oracle AND the SqlParitySpec double
    // entry; only the view names differ from the declared impl.
    """SELECT r.r_name, l.n_name, l.n_customers
      |FROM region r CROSS JOIN LATERAL (
      |  SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
      |  FROM nation n JOIN customer c
      |    ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  GROUP BY n.n_name
      |  ORDER BY n_customers DESC, n.n_name LIMIT 2) l
      |ORDER BY r_name, n_customers DESC, n_name""".stripMargin) { (spark, dir) =>
    t(spark, dir, "region").createOrReplaceTempView("q50_region")
    t(spark, dir, "nation").createOrReplaceTempView("q50_nation")
    t(spark, dir, "customer").createOrReplaceTempView("q50_customer")
    spark.sql(
      """SELECT r.r_name, l.n_name, l.n_customers
        |FROM q50_region r CROSS JOIN LATERAL (
        |  SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
        |  FROM q50_nation n JOIN q50_customer c
        |    ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_customers DESC, n.n_name LIMIT 2) l
        |ORDER BY r_name, n_customers DESC, n_name""".stripMargin)
  }
}
