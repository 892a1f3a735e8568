package graft.queries

import graft.Tables
import graft.transform.{CatalogTransforms, StopsTransforms}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-semantics operators (SURVEY §2.2/§2.4/§2.6 — the cell
  * normalization, validation, extraction, metadata and lookup-join
  * semantics of publish_to_catalog.py) exercised as declared queries
  * with DuckDB oracles.
  *
  * The fixture tables carry no GTFS-shaped columns, so each query
  * derives its raw cells deterministically from fixture keys/strings
  * (quote-wrapping, embedded markers, out-of-range coordinates) — the
  * oracle performs the identical derivation in SQL, so the check
  * verifies the TRANSFORM semantics, not the synthesis.
  */
object ReferenceQueries extends QueryFamily {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** r01 — C1/C2 cell normalization (clearWhiteSpaces :148-154,
    * stripNum :175-178): edge-quote strip + trim, quote normalize,
    * fallible numeric cast on the cleaned cell. */
  val r01 = query("r01_cell_normalize",
    s"""SELECT p_partkey,
       |  trim(regexp_replace('"' || p_name || '"  ', '^"+|"+$$', '', 'g')) AS clean_name,
       |  ${stripNumSql("' ''' || CAST(p_size AS STRING) || ''' '")} AS clean_size,
       |  TRY_CAST(${stripNumSql("' ''' || CAST(p_size AS STRING) || ''' '")} AS INT) AS size_num
       |FROM part ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    val raw = t(spark, dir, "part").select(
      col("p_partkey"),
      concat(lit("\""), col("p_name"), lit("\"  ")).as("raw_name"),
      concat(lit(" '"), col("p_size").cast("string"), lit("' ")).as("raw_size"))
    raw.select(
      col("p_partkey"),
      StopsTransforms.stripQuotesWs(col("raw_name")).as("clean_name"),
      StopsTransforms.stripNumCell(col("raw_size")).as("clean_size"),
      StopsTransforms.stripNumCell(col("raw_size")).try_cast("int").as("size_num"))
      .orderBy(col("p_partkey"))
  }

  /** r02 — F4/F5 coordinate validation + C5 WKT point (:181-190, :236):
    * quote-wrapped numeric cells, range checks, POINT(lon lat) on the
    * normalized values. */
  val r02 = query("r02_coord_validate_wkt",
    s"""WITH c AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 3 = 0
       |      THEN '''' || CAST((c_custkey % 200) - 100 AS STRING) || ''''
       |      ELSE CAST((c_custkey % 200) - 100 AS STRING) END AS lat,
       |    CAST((c_custkey % 400) - 150 AS STRING) AS lon
       |  FROM customer),
       |n AS (
       |  SELECT c_custkey,
       |    TRY_CAST(${stripNumSql("lat")} AS DOUBLE) AS dlat,
       |    TRY_CAST(${stripNumSql("lon")} AS DOUBLE) AS dlon
       |  FROM c)
       |SELECT c_custkey,
       |  (dlat IS NOT NULL AND dlon IS NOT NULL
       |   AND dlat BETWEEN -90 AND 90 AND dlon BETWEEN -180 AND 180) AS valid,
       |  'POINT(' || CAST(dlon AS STRING) || ' ' || CAST(dlat AS STRING) || ')' AS wkt
       |FROM n ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val c = t(spark, dir, "customer").select(
      col("c_custkey"),
      when(col("c_custkey") % 3 === 0,
        concat(lit("'"), ((col("c_custkey") % 200) - 100).cast("string"), lit("'")))
        .otherwise(((col("c_custkey") % 200) - 100).cast("string")).as("lat"),
      ((col("c_custkey") % 400) - 150).cast("string").as("lon"))
    val dLat = StopsTransforms.stripNumCell(col("lat")).try_cast("double")
    val dLon = StopsTransforms.stripNumCell(col("lon")).try_cast("double")
    c.select(
      col("c_custkey"),
      StopsTransforms.coordValid(col("lat"), col("lon")).as("valid"),
      StopsTransforms.stPoint(dLon.cast("string"), dLat.cast("string")).as("wkt"))
      .orderBy(col("c_custkey"))
  }

  /** r03 — C6/C7 marker extraction + F3 URL validation (:128-145,
    * :83-91): Feed ID / GTFS URL pulled out of a composed description,
    * then the static URL shape check. */
  val r03 = query("r03_marker_extract_urlcheck",
    """WITH d AS (
      |  SELECT s_suppkey,
      |    'Transit agency' || chr(10) || 'Feed ID: F' || CAST(s_suppkey AS STRING)
      |    || chr(10) || 'GTFS URL: '
      |    || (CASE WHEN s_suppkey % 4 = 0 THEN 'not a url'
      |             ELSE 'https://feeds.example.com/gtfs/' || CAST(s_suppkey AS STRING) || '.zip' END)
      |    || chr(10) || 'Agency URL: https://example.com' AS description
      |  FROM supplier),
      |e AS (
      |  SELECT s_suppkey,
      |    regexp_extract(description, 'Feed ID: ([^\n]*)', 1) AS feed_id,
      |    regexp_extract(description, 'GTFS URL: ([^\n]*)', 1) AS fetch_link
      |  FROM d)
      |SELECT s_suppkey, feed_id, fetch_link,
      |  (regexp_matches(fetch_link, '(?i)^(?:http|ftp)s?://(?:[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)+[A-Za-z]{2,24}(?::\d+)?(?:[/?]\S*)?$')
      |   OR regexp_matches(fetch_link, '(?i)^(?:http|ftp)s?://(?:localhost|\d{1,3}(?:\.\d{1,3}){3})(?::\d+)?(?:[/?]\S*)?$')) AS url_ok
      |FROM e ORDER BY s_suppkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "supplier")
      .select(
        col("s_suppkey"),
        concat(
          lit("Transit agency\nFeed ID: F"), col("s_suppkey").cast("string"),
          lit("\nGTFS URL: "),
          when(col("s_suppkey") % 4 === 0, lit("not a url"))
            .otherwise(concat(lit("https://feeds.example.com/gtfs/"),
              col("s_suppkey").cast("string"), lit(".zip"))),
          lit("\nAgency URL: https://example.com")).as("description"))
      .select(
        col("s_suppkey"),
        StopsTransforms.extractFeedId(col("description")).as("feed_id"),
        StopsTransforms.extractFetchLink(col("description")).as("fetch_link"))
      .withColumn("url_ok", StopsTransforms.urlIsValid(col("fetch_link")))
      .orderBy(col("s_suppkey"))
  }

  /** r04 — P4 metadata construction (setMetadata :375-411) with P2
    * optional-field defaults (:370-373): name prefix, marker-structured
    * description, fixed Common Core constants; absent agency columns
    * (website/uza/city/state) resolve to "". */
  val r04 = query("r04_metadata_struct",
    """SELECT 'F' || CAST(n_nationkey AS STRING) AS feed_id,
      |  'NTM: ' || n_name AS md_name,
      |  'GTFS dataset for ' || n_name
      |  || chr(10) || 'NTD Name: ' || n_name
      |  || chr(10) || 'NTD ID: NTD' || CAST(n_nationkey AS STRING)
      |  || chr(10) || 'Feed ID: F' || CAST(n_nationkey AS STRING)
      |  || chr(10) || 'Has GTFS: true'
      |  || chr(10) || 'GTFS URL: https://x.example/' || CAST(n_nationkey AS STRING)
      |  || chr(10) || 'Agency URL: '
      |  || chr(10) || 'UZA: '
      |  || chr(10) || 'Location: , ' AS md_desc,
      |  'national transit map' AS tag0,
      |  'Bureau of Transportation Statistics' AS publisher,
      |  'https://creativecommons.org/licenses/by/4.0/' AS license
      |FROM nation ORDER BY feed_id""".stripMargin) { (spark, dir) =>
    val agency = t(spark, dir, "nation").select(
      concat(lit("F"), col("n_nationkey").cast("string")).as("feed_id"),
      col("n_name").as("agency_name"),
      col("n_name").as("ntd_name"),
      concat(lit("NTD"), col("n_nationkey").cast("string")).as("ntd_id"),
      lit("true").as("has_gtfs"),
      concat(lit("https://x.example/"), col("n_nationkey").cast("string")).as("fetch_link"))
    CatalogTransforms.metadataStruct(agency)
      .select(
        col("feed_id"),
        col("metadata.name").as("md_name"),
        col("metadata.description").as("md_desc"),
        col("metadata.tags").getItem(0).as("tag0"),
        col("metadata.custom_fields.`Common Core`.Publisher").as("publisher"),
        col("metadata.custom_fields.`Common Core`.License").as("license"))
      .orderBy(col("feed_id"))
  }

  /** r05 — A5 response-count extraction (:296): regex-parse the
    * Created/Updated/Deleted counters out of composed upsert
    * responses. */
  val r05 = query("r05_response_counts",
    """SELECT o_orderkey,
      |  TRY_CAST(regexp_extract('Processed' || chr(10) || 'Rows Created: ' || CAST(o_orderkey % 7 AS STRING)
      |    || chr(10) || 'Rows Updated: ' || CAST(o_custkey % 5 AS STRING)
      |    || chr(10) || 'Rows Deleted: ' || CAST(o_orderkey % 3 AS STRING),
      |    'Rows Created: (\d+)', 1) AS BIGINT) AS created,
      |  TRY_CAST(regexp_extract('Rows Updated: ' || CAST(o_custkey % 5 AS STRING), 'Rows Updated: (\d+)', 1) AS BIGINT) AS updated,
      |  TRY_CAST(regexp_extract('Rows Deleted: ' || CAST(o_orderkey % 3 AS STRING), 'Rows Deleted: (\d+)', 1) AS BIGINT) AS deleted
      |FROM orders WHERE o_orderkey % 100 < 10 ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 100 < 10)
      .select(
        col("o_orderkey"),
        concat(
          lit("Processed\nRows Created: "), (col("o_orderkey") % 7).cast("string"),
          lit("\nRows Updated: "), (col("o_custkey") % 5).cast("string"),
          lit("\nRows Deleted: "), (col("o_orderkey") % 3).cast("string")).as("resp"))
      .select(
        col("o_orderkey"),
        CatalogTransforms.responseCount(col("resp"), "Created").as("created"),
        CatalogTransforms.responseCount(col("resp"), "Updated").as("updated"),
        CatalogTransforms.responseCount(col("resp"), "Deleted").as("deleted"))
      .orderBy(col("o_orderkey"))
  }

  /** r06 — F1 null-safe tag-membership filter (:305, :505). */
  val r06 = query("r06_tag_filter",
    """WITH c AS (
      |  SELECT r_regionkey, r_name,
      |    CASE WHEN r_regionkey = 3 THEN NULL
      |         WHEN r_regionkey % 2 = 0 THEN ['national transit map', r_name]
      |         ELSE [r_name] END AS tags
      |  FROM region)
      |SELECT r_regionkey, r_name FROM c
      |WHERE tags IS NOT NULL AND list_contains(tags, 'national transit map')
      |ORDER BY r_regionkey""".stripMargin) { (spark, dir) =>
    val cat = t(spark, dir, "region").select(
      col("r_regionkey"), col("r_name"),
      when(col("r_regionkey") === 3, lit(null).cast("array<string>"))
        .when(col("r_regionkey") % 2 === 0,
          array(lit("national transit map"), col("r_name")))
        .otherwise(array(col("r_name"))).as("tags"))
    cat.filter(CatalogTransforms.hasTag(col("tags"), "national transit map"))
      .select(col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  /** r07 — J1 agency→catalog lookup join (:503-513): left-outer
    * broadcast equi-join on the description-derived feed id with
    * first-match (catalog file order) duplicate resolution. The
    * fixture catalog is key-ordered, so first-match ≡ min id — which
    * is what the oracle pins. */
  val r07 = query("r07_catalog_lookup_join",
    """WITH cat AS (
      |  SELECT 'F' || CAST(p_partkey % 50 AS STRING) AS feed_id,
      |         CAST(min(p_partkey) AS STRING) AS fourfour
      |  FROM part GROUP BY 1),
      |a AS (
      |  SELECT s_name, 'F' || CAST(s_suppkey % 75 AS STRING) AS feed_id FROM supplier)
      |SELECT a.s_name, a.feed_id, cat.fourfour
      |FROM a LEFT JOIN cat USING (feed_id) ORDER BY s_name""".stripMargin) { (spark, dir) =>
    val catalog = t(spark, dir, "part").select(
      col("p_partkey").cast("string").as("id"),
      concat(lit("NTM dataset\nFeed ID: F"), (col("p_partkey") % 50).cast("string"),
        lit("\nGTFS URL: x")).as("description"))
    val agency = t(spark, dir, "supplier").select(
      concat(lit("F"), (col("s_suppkey") % 75).cast("string")).as("feed_id"),
      col("s_name"))
    CatalogTransforms.resolveFourfour(agency, catalog)
      .select(col("s_name"), col("feed_id"), col("fourfour"))
      .orderBy(col("s_name"))
  }

  /** stripNum as DuckDB SQL: trim → '→" → edge-quote strip. */
  private def stripNumSql(c: String): String =
    s"""regexp_replace(replace(trim($c), '''', '"'), '^"+|"+$$', '', 'g')"""
}
