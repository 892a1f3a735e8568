package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator surfaces here as a named query over the
  * fixture tables, declared once together with its DuckDB oracle in one
  * query family: relational, reference ETL, or one extension family per
  * operator family.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Join-chain + aggregation (SURVEY §2.9 Q04 shape). */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q04(spark, "/root/testdata/sf0.001")

  /** Every query family, each declaring its queries once. */
  private[graft] def families: Seq[QueryFamily] = Seq(RelationalQueries, ReferenceQueries,
    DedupQueries, SimilarityQueries, ProfileQueries, SequencesQueries, LayoutQueries,
    GraphQueries, JoinsQueries, MultimodalQueries, TextStatsQueries, TextCurationQueries)

  private def declared = families.flatMap(_.all)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q).toMap

  /** Bench-only timing probes: scale-path variants of declared queries
    * whose oracled form carries deliberate calibration overhead or a
    * scale envelope worth watching (x20 without its exact calibration
    * siblings, x159's tiles at the guard's ceiling). Reported by Bench
    * under "probes"; never part of correctness or the headline. */
  def benchProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x20_sketch_only" -> (ProfileQueries.x20SketchOnly _),
    "x159_tile_hicard" -> (TextCurationQueries.x159TileHicard _))

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. x22, x270 and x277 embed constants their own
    * run trains (the IVF centroids), so their entries exist only after
    * those queries ran in this JVM — which is Verify's call order. */
  def oracleSql: Map[String, String] =
    declared.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The one local session the tools (Verify, Bench, ExplainDump) run
    * on: `local[cpus]` with one shuffle partition per core, UTC session
    * time, adaptive execution on and no UI — so a plan one tool prints
    * is the plan another times. */
  private[graft] def localSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The tools' query selector (`SPARK_GRAFT_ONLY`, ExplainDump's third
    * argument): `name` is selected when `only` is unset, full-matches it
    * as a regex, or contains it as a substring — so a sparse set like
    * `x11[2-9].*|x12[01].*` selects in one JVM, and a value that is not
    * valid regex (e.g. "x26(") degrades to the substring branch instead
    * of throwing PatternSyntaxException. */
  private[graft] def selects(only: Option[String], name: String): Boolean =
    only.forall(o => scala.util.Try(name.matches(o)).getOrElse(false) || name.contains(o))
}
