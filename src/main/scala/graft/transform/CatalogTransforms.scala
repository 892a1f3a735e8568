package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog/agency-side relational semantics of the reference
  * (SURVEY §2.2-2.4; citations into publish_to_catalog.py). */
object CatalogTransforms {

  /** F1 — null-safe tag-membership filter (:305, :505). */
  def hasTag(tags: Column, tag: String): Column =
    tags.isNotNull && array_contains(tags, tag)

  /** P2 — optional field with default '' (`getMetadataFieldIfExists`,
    * :370-373). */
  def fieldOrEmpty(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) coalesce(col(name).cast("string"), lit("")) else lit("")

  /** P4 — the dataset-metadata struct (`setMetadata`, :375-411):
    * "NTM: "-prefixed name, description with embedded markers, the
    * reference's single tag, and the Common Core custom fields —
    * which are FIXED agency-independent constants in the reference
    * (:400-406), not per-agency values. */
  def metadataStruct(agency: DataFrame): DataFrame = {
    def f(n: String) = fieldOrEmpty(agency, n)
    agency.select(
      col("feed_id"),
      struct(
        concat(lit("NTM: "), f("agency_name")).as("name"),
        concat(
          lit("GTFS dataset for "), f("agency_name"),
          lit("\nNTD Name: "), f("ntd_name"),
          lit("\nNTD ID: "), f("ntd_id"),
          lit("\nFeed ID: "), f("feed_id"),
          lit("\nHas GTFS: "), f("has_gtfs"),
          lit("\nGTFS URL: "), f("fetch_link"),
          lit("\nAgency URL: "), f("agency_website"),
          lit("\nUZA: "), f("uza"),
          lit("\nLocation: "), f("city"), lit(", "), f("state")).as("description"),
        array(lit("national transit map")).as("tags"),
        struct(
          struct(
            lit("NationalTransitMap@dot.gov").as("Contact Email"),
            lit("Derald Dudley").as("Contact Name"),
            lit("https://creativecommons.org/licenses/by/4.0/").as("License"),
            lit("021:000").as("Program Code"),
            lit("Bureau of Transportation Statistics").as("Publisher"),
            lit("021:00").as("Bureau Code"),
            lit("public").as("Public Access Level")).as("Common Core")).as("custom_fields")
      ).as("metadata"))
  }

  /** J1 — agency→catalog lookup join (:503-513, driven at :533):
    * left-outer equi-join on the description-derived feed id; catalog
    * is small → broadcast; `dropDuplicates` pins the reference's
    * first-match semantics. */
  def resolveFourfour(agency: DataFrame, catalog: DataFrame): DataFrame = {
    // first-match = first in catalog order. monotonically_increasing_id
    // is ordered within/across partitions of the driver-fetched JSON
    // frame, so min-id per feed_id pins the same row on every run
    // (plain dropDuplicates keeps an arbitrary one).
    val w = Window.partitionBy(col("feed_id")).orderBy(col("__ord"))
    val cat = catalog
      .withColumn("__ord", monotonically_increasing_id())
      .select(col("id").as("fourfour"),
        StopsTransforms.extractFeedId(coalesce(col("description"), lit(""))).as("feed_id"),
        col("__ord"))
      .filter(col("feed_id") =!= "")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__ord", "__rn")
    agency.join(broadcast(cat), Seq("feed_id"), "left_outer")
  }

  /** A4 — keyed last-wins dedup (changelog dict-overwrite semantics,
    * :93-124): latest row per key, ordered by `orderCols` descending.
    * Callers should pass enough columns to break ties — a single
    * non-unique order column would pick nondeterministically. */
  def lastWinsByKey(df: DataFrame, key: String, orderCols: String*): DataFrame = {
    require(orderCols.nonEmpty, "lastWinsByKey needs at least one order column")
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** J2 — delete-set detection (`locateDeletions`, :261-288): existing
    * keys absent from the incoming batch. */
  def deleteSet(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    existing.join(incoming, Seq(key), "left_anti")

  /** J5 — keyed upsert/merge: incoming wins, unmatched target rows
    * survive (the plain-Spark MERGE: source ∪ (target ⟕̸ source)).
    * Schemas must align by name. */
  def upsert(target: DataFrame, source: DataFrame, key: String): DataFrame =
    source.unionByName(target.join(source, Seq(key), "left_anti"))

  /** A5 — response-count extraction ("Rows Created/Updated/Deleted: n",
    * :296 — parsed by regex, not by the reference's brittle line
    * index). */
  def responseCount(resp: Column, action: String): Column =
    regexp_extract(resp, s"Rows $action: (\\d+)", 1).try_cast("long")

  /** Snapshot diff — the dataset-versioning changelog: classify every
    * key across two corpus versions as added / removed / changed /
    * unchanged, comparing CONTENT BY HASH so the wide payload never
    * rides the shuffle twice. This is the reference's per-run
    * set-difference change detection (publish_to_catalog.py:261-288,
    * J2/A2) generalized from "which rows to delete/upsert" to the full
    * four-way audit a corpus release pipeline publishes alongside a
    * new version.
    *
    * PRECONDITION: `key` is unique within each snapshot (the natural
    * state of a versioned corpus). Duplicate keys would make the
    * full-outer join a per-key cross product and the changelog
    * self-contradictory ("unchanged" AND "changed" rows for one key);
    * enforce upstream with [[lastWinsByKey]] (or gate on
    * [[graft.operators.Profile.expectations]]' unique rule) when the
    * source cannot guarantee it.
    *
    * Scale: each side reduces to (key, md5(content)) before the ONE
    * full-outer shuffle on the key — the join carries two hash columns
    * regardless of payload width. At 100 TB both sides' hashes are the
    * kind of column a release process materializes with the snapshot,
    * making the diff a hash-table-sized join, not a corpus read. */
  def snapshotDiff(old: DataFrame, next: DataFrame, key: String,
      contentCol: String): DataFrame = {
    // NULL content must still count as "present": md5(null) is null,
    // and using it directly as the presence sentinel would classify a
    // null-content row as absent (null→'x' would read "added", 'x'→null
    // "removed", null→null "added"). Coalescing to a sentinel that md5
    // can never emit (md5 output is 32 hex chars) keeps presence and
    // content-equality independent: null contents equal each other and
    // differ from every real hash.
    def hashed(df: DataFrame, h: String) =
      df.select(col(key),
        coalesce(md5(col(contentCol).cast("string")), lit("__null__")).as(h))
    hashed(old, "__h_old").join(hashed(next, "__h_new"), Seq(key), "full_outer")
      .select(col(key),
        when(col("__h_old").isNull, lit("added"))
          .when(col("__h_new").isNull, lit("removed"))
          .when(col("__h_old") =!= col("__h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }
}
