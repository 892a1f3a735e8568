package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtensionQueries, ReferenceQueries, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator surfaces here as a named query over the
  * fixture tables, declared once together with its DuckDB oracle in one
  * of the three query families.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Join-chain + aggregation (SURVEY §2.9 Q04 shape). */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q04(spark, "/root/testdata/sf0.001")

  private def declared = RelationalQueries.all ++ ReferenceQueries.all ++ ExtensionQueries.all

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q).toMap

  /** Bench-only timing probes (scale-path variants of declared queries,
    * e.g. x20 without its exact calibration siblings). Reported by Bench
    * under "probes"; never part of correctness or the headline. */
  def benchProbes: Map[String, (SparkSession, String) => DataFrame] =
    ExtensionQueries.benchProbes.toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. x22, x270 and x277 embed constants their own
    * run trains (the IVF centroids), so their entries exist only after
    * those queries ran in this JVM — which is Verify's call order. */
  def oracleSql: Map[String, String] =
    declared.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
