package graft.sources

import graft.SparkSpec
import graft.testutil.Fixtures
import org.apache.spark.sql.functions._

class ZipGtfsSpec extends SparkSpec {
  import spark.implicits._

  test("zip_entries generates one row per member, skipping directories") {
    val bytes = Fixtures.zip(
      "GTFS/stops.txt" -> "stop_id,stop_name\nS1,A\n",
      "GTFS/routes.txt" -> "route_id\nR1\n")
    val rows = Seq(Tuple1(bytes)).toDF("content")
      .select(ZipFunctions.zip_entries($"content").as(Seq("entry_name", "bytes")))
      .collect()
    assert(rows.map(_.getString(0)).toSet == Set("GTFS/stops.txt", "GTFS/routes.txt"))
    val stops = new String(rows.find(_.getString(0).endsWith("stops.txt")).get
      .getAs[Array[Byte]]("bytes"), "UTF-8")
    assert(stops.startsWith("stop_id"))
  }

  test("zip_entries on null/garbage bytes yields no rows, no crash") {
    val df = Seq(Tuple1(Option.empty[Array[Byte]]), Tuple1(Some("nope".getBytes)))
      .toDF("content")
    val n = df.select(ZipFunctions.zip_entries($"content")).count()
    assert(n == 0)
  }

  test("stopRows: BOM stripped, header parsed, short lines dropped") {
    val rows = GtfsCsv.stopRows("feedA", Fixtures.messyStops).toSeq
    // 6 data lines minus the 1-char line (dropped) = 5 rows
    assert(rows.size == 5)
    assert(rows.forall(_._1 == "feedA"))
    // the BOM-prefixed header still names stop_id, so ids resolve
    assert(rows.map(_._5) == Seq("S1", "S2", "S3", "S4", "S5"))
    // cells stay raw strings: quotes/whitespace are StopsTransforms' job
    assert(rows.head._2 == "\"Main St Station\"" && rows.head._3 == " 40.75 ")
    // a trailing empty cell is "", a column the header lacks is null
    assert(rows.last._8 == "")
    assert(GtfsCsv.stopRows("f", "stop_id,stop_name\nS9,X\n").toSeq ==
      Seq(("f", "X", null, null, "S9", null, null, null)))
  }
}
