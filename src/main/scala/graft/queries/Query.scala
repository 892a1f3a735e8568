package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its DuckDB oracle SQL and its Spark
  * builder, written at one place. `oracle` renders on every call, so an
  * oracle may interpolate helper values declared further down its
  * family object. It is `None` only for an oracle built from constants
  * that a run of the query computes, before that run. */
final class Query(val name: String, renderOracle: => Option[String])(
    build: (SparkSession, String) => DataFrame)
    extends ((SparkSession, String) => DataFrame) {
  def apply(s: SparkSession, dir: String): DataFrame = build(s, dir)
  def oracle: Option[String] = renderOracle
}

/** A family of declared queries. Each `query(...)` call registers its
  * entry, and [[all]] lists the entries in declaration order. */
trait QueryFamily {
  private val declared = mutable.ArrayBuffer.empty[Query]

  def all: Seq[Query] = declared.toSeq

  /** A query checked against the static oracle SQL `oracle`. */
  protected def query(name: String, oracle: => String)(
      build: (SparkSession, String) => DataFrame): Query =
    register(new Query(name, Some(oracle))(build))

  /** A query whose oracle embeds constants its own run computes, so
    * `oracle` is `None` until the query ran in this JVM. */
  protected def renderedQuery(name: String, oracle: => Option[String])(
      build: (SparkSession, String) => DataFrame): Query =
    register(new Query(name, oracle)(build))

  private def register(q: Query): Query = { declared += q; q }
}
