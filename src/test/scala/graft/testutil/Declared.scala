package graft.testutil

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A declared query by its id ("x63", "q04"), looked up in
  * [[SparkEntry.queries]] so a test does not name the family object
  * that declares it. */
object Declared {
  def apply(id: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.collectFirst { case (name, q) if name.startsWith(id + "_") => q }
      .getOrElse(throw new NoSuchElementException(s"no declared query $id"))
}
