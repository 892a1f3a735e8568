package graft.transform

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  test("stripQuotesWs and stripNumCell mirror the reference cell cleaners") {
    // clearWhiteSpaces order: edge-quotes first, THEN whitespace — so a
    // quote wrapped in whitespace survives (reference :148-154 quirk);
    // stripNum trims whitespace FIRST, so quoted numbers parse (:175-178)
    val df = Seq(
      ("\"Main St\"", " '40.75' ", "12\"3"),
      ("  \"Main St\"  ", "'40.75'", " 9.5 ")).toDF("a", "b", "c")
    val r = df.select(
      StopsTransforms.stripQuotesWs($"a"),
      StopsTransforms.stripNumCell($"b"),
      StopsTransforms.stripNumCell($"c")).as[(String, String, String)].collect()
    assert(r(0) == (("Main St", "40.75", "12\"3"))) // interior quote KEPT → uncastable
    assert(r(1) == (("\"Main St\"", "40.75", "9.5")))
  }

  test("urlIsValid accepts http/ftp(s) shapes, rejects junk") {
    val good = Seq("http://example.com/a.zip", "https://a.b.example:8080/x",
      "ftp://files.example.org/gtfs.zip", "http://127.0.0.1:8123/z.zip")
    val bad = Seq("", "notaurl", "gopher://x.example", "http://", "example.com/noproto")
    val df = (good.map((_, true)) ++ bad.map((_, false))).toDF("url", "want")
    val wrong = df.filter(StopsTransforms.urlIsValid($"url") =!= $"want").collect()
    assert(wrong.isEmpty, wrong.mkString(","))
  }

  test("coordValid enforces castability and ranges") {
    val rows = Seq(
      ("40.75", "-73.99", true),
      ("'40.75'", "-73.99", true), // quoted number still valid after stripNum
      ("91.0", "0.0", false),
      ("0.0", "-181.0", false),
      ("abc", "0.0", false),
      (null, "0.0", false)).toDF("lat", "lon", "want")
    val wrong = rows.filter(
      coalesce(StopsTransforms.coordValid($"lat", $"lon"), lit(false)) =!= $"want").count()
    assert(wrong == 0)
  }

  test("locationTypeValid allows empty/omit/numeric") {
    val rows = Seq(("", true), ("omit", true), ("1", true), ("2.0", true),
      ("station", false)).toDF("lt", "want")
    assert(rows.filter(StopsTransforms.locationTypeValid($"lt") =!= $"want").count() == 0)
  }

  test("makeStopRows derives key, WKT, and the dead-letter split") {
    val raw = Seq(
      ("feedA", "Main St", "40.75", "-73.99", "S1", "C1", "Z1", "0"),
      ("feedA", "Bad", "notanum", "-73.99", "S3", null, null, "0"))
      .toDF("feed_id", "stop_name", "stop_lat", "stop_lon",
        "stop_id", "stop_code", "zone_id", "location_type")
    val rows = StopsTransforms.makeStopRows(raw)
    val (valid, invalid) = StopsTransforms.splitValid(rows)
    val v = valid.collect()(0)
    assert(v.getAs[String]("feed_id_stop_id") == "feedA_S1")
    assert(v.getAs[String]("stop_location") == "POINT(-73.99 40.75)")
    assert(v.getAs[String]("stop_lat") == "40.75")
    val inv = invalid.collect()(0)
    assert(inv.getAs[String]("reason") == "invalid_coordinates")
    // missing optional columns → 'omit' sentinel (reference :211-226)
    assert(inv.getAs[String]("stop_code") == "omit")
  }

  test("extract markers from description") {
    val desc = "GTFS dataset for X\nFeed ID: feed42\nGTFS URL: http://h/x.zip\nAgency URL: http://a"
    val r = Seq(desc).toDF("d").select(
      StopsTransforms.extractFeedId($"d"),
      StopsTransforms.extractFetchLink($"d")).as[(String, String)].head()
    assert(r == (("feed42", "http://h/x.zip")))
    // no marker: empty, not null (the catalog side coalesces a null
    // description to "" first)
    assert(Seq("no markers").toDF("d").select(StopsTransforms.extractFeedId($"d"))
      .as[String].head() == "")
  }

  test("resolveFourfour: first-match left join on embedded feed id") {
    val agency = Seq(("feedA", "Alpha"), ("feedN", "New")).toDF("feed_id", "agency_name")
    val catalog = Seq(
      ("aaaa-0001", "d\nFeed ID: feedA\nx"),
      ("aaaa-0009", "d\nFeed ID: feedA\nx"), // duplicate: first-match pins one
      ("cccc-0003", "no markers")).toDF("id", "description")
    val r = CatalogTransforms.resolveFourfour(agency, catalog)
      .select("feed_id", "fourfour").as[(String, String)].collect().toMap
    assert(r("feedA") == "aaaa-0001") // deterministic FIRST catalog match
    assert(r("feedN") == null)
  }

  test("lastWinsByKey keeps the newest row per key") {
    val df = Seq(("k1", 1, "old"), ("k1", 2, "new"), ("k2", 1, "only"))
      .toDF("k", "ts", "v")
    val r = CatalogTransforms.lastWinsByKey(df, "k", "ts")
      .select("k", "v").as[(String, String)].collect().toMap
    assert(r == Map("k1" -> "new", "k2" -> "only"))
  }

  test("deleteSet / upsert implement merge semantics") {
    val target = Seq(("a", 1), ("b", 1), ("c", 1)).toDF("k", "v")
    val source = Seq(("b", 2), ("d", 2)).toDF("k", "v")
    assert(CatalogTransforms.deleteSet(target, source, "k")
      .select("k").as[String].collect().toSet == Set("a", "c"))
    val merged = CatalogTransforms.upsert(target, source, "k")
      .select("k", "v").as[(String, Int)].collect().toMap
    assert(merged == Map("a" -> 1, "b" -> 2, "c" -> 1, "d" -> 2))
  }

  test("responseCount parses upsert responses by regex") {
    val r = Seq("Done\nRows Created: 12\nRows Updated: 3\nRows Deleted: 4")
      .toDF("resp").select(
        CatalogTransforms.responseCount($"resp", "Created"),
        CatalogTransforms.responseCount($"resp", "Deleted")).as[(Long, Long)].head()
    assert(r == ((12L, 4L)))
  }

  test("snapshotDiff: null content is present, not absent (all four statuses)") {
    val old = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]),
      (4L, Option("d")), (6L, Option.empty[String])).toDF("k", "c")
    val next = Seq((1L, Option("a")), (2L, Option("B")), (3L, Option("now-set")),
      (5L, Option("new")), (6L, Option.empty[String])).toDF("k", "c")
    val got = CatalogTransforms.snapshotDiff(old, next, "k", "c")
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed",
      3L -> "changed",   // null → value is a CHANGE, not an add
      4L -> "removed", 5L -> "added",
      6L -> "unchanged")) // null → null: same (absent) content
  }

  test("metadataStruct embeds extractable markers (round-trip)") {
    val agency = Seq(("feedZ", "Zeta Transit", "Z9", "http://h/z.zip"))
      .toDF("feed_id", "agency_name", "ntd_id", "fetch_link")
    val desc = CatalogTransforms.metadataStruct(agency)
      .select($"metadata.description").as[String].head()
    val back = Seq(desc).toDF("d").select(
      StopsTransforms.extractFeedId($"d"),
      StopsTransforms.extractFetchLink($"d")).as[(String, String)].head()
    assert(back == (("feedZ", "http://h/z.zip")))
  }
}
