package graft.queries

import graft.{SparkSpec, Tables}

/** Engine-internal double-entry check: the declared relational queries
  * (SURVEY §2.9) are portable SQL that runs verbatim on Spark too, so
  * every DataFrame-API implementation must produce row-identical
  * results to `spark.sql` over the same views. Catches semantic drift
  * between the two surfaces without needing the DuckDB oracle.
  * (Extension oracles are DuckDB-dialect and excluded.) */
class SqlParitySpec extends SparkSpec {

  /** Oracles written in DuckDB-only dialect (list lambdas / unnest /
    * list(DISTINCT)) — correct for the DuckDB gate but not runnable
    * verbatim on Spark, so the double-entry check skips them (their
    * Spark-side semantics are covered by the DuckDB oracle itself plus
    * the per-operator unit specs). Every other relational oracle must
    * stay engine-portable. */
  private val duckOnlyDialect: Set[String] = Set("q29_token_explode", "q32_string_agg",
    // 3-arg date_diff / date+int / strpos are DuckDB spellings
    "q36_date_functions", "q37_string_functions", "q39_range_frame",
    // DATE + int / arg_min / bool_or are DuckDB spellings
    "q40_date_spine_gapfill", "q42_map_functions",
    // list_* lambda spellings are DuckDB-only (Spark: transform/filter/
    // aggregate — exercised natively by RelationalQueries.q45)
    "q45_array_lambdas",
    // index lambda / {} struct / list_* / l[i] indexing are DuckDB
    // spellings (Spark: posexplode / array_* / get — exercised
    // natively by RelationalQueries.q47-q49)
    "q47_posexplode", "q48_array_setops", "q49_regexp_extract_all")

  /** Register every table as a temp view, so the oracle SQL runs verbatim. */
  private def registerAll(sfDir: String): Unit =
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).createOrReplaceTempView(n))

  test("DataFrame implementations match spark.sql for the portable q-set") {
    registerAll(sf001)
    val failures = RelationalQueries.all.filterNot(q => duckOnlyDialect(q.name)).flatMap { q =>
      val name = q.name
      val viaApi = q(spark, sf001).collect()
        .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString))
      val viaSql = spark.sql(q.oracle.get).collect()
        .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString))
      if (viaApi.toSeq == viaSql.toSeq) None
      else Some(s"$name: api ${viaApi.length} rows vs sql ${viaSql.length}; " +
        s"first diff ${viaApi.zip(viaSql).find(p => p._1 != p._2)}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // q46's declared impl IS spark.sql of the (portable) oracle text, so
  // the generic loop above compares that string to itself — vacuous.
  // The real double-entry check: the correlated form must match a
  // hand-decorrelated aggregate-join built with the DataFrame API
  // (pre-aggregate orders once, left-outer join, COUNT null→0).
  test("q46: correlated form matches a hand-decorrelated aggregate-join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 2)
    val correlated = RelationalQueries.q46(spark, sf001).collect()
      .map(_.toSeq.map(String.valueOf)).toSeq
    val perCust = graft.Tables.load(spark, sf001, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(dec)).as("s"))
    val decorrelated = graft.Tables.load(spark, sf001, "customer")
      .filter(col("c_acctbal") > 9000.0)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"),
        coalesce(col("s"), lit(0).cast(dec)).cast("double").as("spend"))
      .orderBy(col("c_custkey"))
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(correlated == decorrelated,
      s"correlated ${correlated.length} rows vs decorrelated " +
        s"${decorrelated.length}; first diff " +
        correlated.zip(decorrelated).find(p => p._1 != p._2))
  }
}
