package graft.pipelines

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialize
import graft.sources.{GtfsCsv, Http, ZipFunctions}
import graft.transform.{CatalogTransforms, StopsTransforms}

/** Endpoint configuration for the catalog/stops pipelines — in
  * production the data.bts.gov URLs (reference publish_to_catalog.py:
  * 15-25), in tests a local stub server. */
final case class Endpoints(
    catalogUrl: String,      // S1: full catalog metadata (…:51-52)
    agencyUrl: String,       // S2: agency feeds resource (…:20-21, 524-528)
    stopsQueryUrl: String,   // S2: all-stop-locations query endpoint (…:24, 263-265)
    stopsUpsertUrl: String,  // K1/K2 sink (…:345, 294)
    logUrl: String,          // K4 run ledger (…:25, 574-581)
    revisionBase: String,    // K3 revision protocol base (…:416-497)
    placeholderZipUrl: String) // S6 fallback archive (…:22, 447-454)

/** EP1/EP2 — `updateCatalog` (publish_to_catalog.py:519-545): publish
  * one catalog dataset per consenting agency via the 4-step revision
  * protocol, resolving existing datasets by embedded Feed ID.
  *
  * Parallelism upgrade over the reference (SURVEY §3.2): the per-agency
  * revision protocol runs INSIDE executor partitions — each agency row
  * is independent (the reference even catches per-row failures,
  * :535-545) — so agencies publish concurrently, bounded by
  * `repartition(parallelism)`.
  */
object CatalogPipeline {

  /** One published-agency outcome row (changelog A2 input). */
  private val resultSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("feed_id", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("detail", org.apache.spark.sql.types.StringType)))

  /** Runs the pipeline and ALWAYS appends a run-ledger row — the
    * reference's `Main` wraps every mode and logs
    * `run_successful: False` with the error on failure
    * (publish_to_catalog.py:600-608); mirrored here so the first bad
    * run still leaves an audit trail. Rethrows after logging. */
  def run(spark: SparkSession, ep: Endpoints, makePublic: Boolean = false,
      parallelism: Int = 8): DataFrame =
    try {
      // Eager materialization: the per-agency revision protocol is a
      // side-effecting stage, so it must run EXACTLY once — inside this
      // call — not once per downstream action on the returned frame.
      val changelog = Materialize(doRun(spark, ep, makePublic, parallelism),
        "CatalogPipeline.run: changelog")
      val summary = changelog.collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
      Http.appendLogRow(ep.logUrl, java.time.LocalDate.now().toString,
        successful = true, s"mode=catalog $summary")
      changelog
    } catch {
      case e: Exception =>
        Http.appendLogRow(ep.logUrl, java.time.LocalDate.now().toString,
          successful = false,
          s"mode=catalog error=${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    }

  private def doRun(spark: SparkSession, ep: Endpoints, makePublic: Boolean,
      parallelism: Int): DataFrame = {

    // network boundary #1+#2 (SURVEY §3.1): catalog once, agencies filtered
    val catalog = Http.readJsonResource(spark, ep.catalogUrl)
    val agencies = Http.readJsonResourceWhere(spark, ep.agencyUrl,
      "have_consent_for_ntm = true") // F2 pushed server-side

    // J1: resolve existing dataset (fourfour) by embedded Feed ID
    val resolved = CatalogTransforms.resolveFourfour(agencies, catalog)

    val revisionBase = ep.revisionBase
    val placeholderUrl = ep.placeholderZipUrl
    val pub = makePublic

    // K3: per-agency revision protocol in executor partitions
    val results = resolved
      .repartition(parallelism)
      .rdd.mapPartitions { rows =>
        rows.map { row =>
          val feedId = str(row, "feed_id")
          try {
            val fourfour = str(row, "fourfour")
            val fetchLink = str(row, "fetch_link")
            // S3/S6: real zip when the link answers, placeholder otherwise.
            // A failed placeholder fetch must ERROR the agency, not
            // silently upload an empty archive over a published dataset.
            val zip = Option(fetchLink).filter(_.nonEmpty).map(Http.get)
              .filter(_.ok).map(_.body)
            val bytes = zip.getOrElse {
              val ph = Http.get(placeholderUrl)
              require(ph.ok, s"placeholder fetch: ${ph.error}")
              ph.body
            }
            val action = if (fourfour == null) "created" else "updated"
            // 4-step revision protocol (reference :445, :475, :482, :496).
            // SINGLE-attempt posts on purpose: revision creation is NOT
            // idempotent — a retry after a lost response would open a
            // second revision (or publish a duplicate dataset); a failed
            // step errors the agency into the changelog instead, and the
            // next RUN re-publishes it. Data-derived values go through
            // jsonStr (a feed_id carrying a quote must not break or
            // inject into the payload).
            //
            // RESUME-first for existing datasets: a prior run that
            // failed AFTER revision creation left an open revision on
            // the server; blindly re-creating would stack a second one
            // per failed run. One GET asks for open revisions and, if
            // any, the protocol resumes into it (steps 2-4 are
            // idempotent within a revision: source/upload replace, the
            // final apply closes it). A non-array / failed GET means
            // the endpoint offers no listing — proceed to create, the
            // pre-resume behavior. New datasets have nothing to list.
            //
            // Trust boundary: whether the listing returns ONLY open
            // revisions is an unattested server contract — the common
            // REST semantics list historical (closed) ones too, and
            // resuming into a closed revision errors the agency on
            // every future run. So a listed revision counts as
            // resumable only when it carries NO closure evidence: a
            // non-null closed_at, or a closed-ish status, disqualifies
            // it. Works for both server shapes — open-only listings
            // pass untouched, list-everything servers mark closure.
            val resume = fourfour != null && {
              val open = Http.get(s"$revisionBase/revisions/$fourfour")
              open.ok && scala.util.Try {
                val n = new com.fasterxml.jackson.databind.ObjectMapper()
                  .readTree(open.body)
                n.isArray && n.elements().asScala.exists { rev =>
                  val closedAt = rev.path("closed_at")
                  val status = rev.path("status").asText("")
                  (closedAt.isMissingNode || closedAt.isNull) &&
                    !Set("closed", "applied", "successful", "failure")
                      .contains(status.toLowerCase)
                }
              }.getOrElse(false)
            }
            if (!resume) {
              val rev = Http.post(s"$revisionBase/revisions" +
                  (if (fourfour != null) s"/$fourfour" else ""),
                s"""{"action_type": ${Http.jsonStr(action)}, "public": $pub}"""
                  .getBytes(StandardCharsets.UTF_8), "application/json")
              require(rev.ok, s"revision: ${rev.error}")
            }
            val src = Http.post(s"$revisionBase/sources",
              s"""{"feed_id": ${Http.jsonStr(feedId)}}""".getBytes(StandardCharsets.UTF_8),
              "application/json")
            require(src.ok, s"source: ${src.error}")
            val up = Http.post(s"$revisionBase/upload", bytes, "application/zip")
            require(up.ok, s"upload: ${up.error}")
            val ap = Http.post(s"$revisionBase/apply",
              "{}".getBytes(StandardCharsets.UTF_8), "application/json")
            require(ap.ok, s"apply: ${ap.error}")
            val detail = if (zip.isDefined) "real_zip" else "placeholder_zip"
            Row(feedId, action, detail)
          } catch { // per-agency failure isolation (reference :544-545)
            case e: Exception => Row(feedId, "errored", e.getMessage)
          }
        }
      }
    val changelog = spark.createDataFrame(results, resultSchema)
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("feed_id"))).as("feed_ids"))
      .orderBy(col("action"))
    changelog
  }

  private def str(row: Row, name: String): String = {
    val i = row.fieldIndex(name)
    if (row.isNullAt(i)) null else row.get(i).toString
  }
}

/** EP3 — `updateTransitStopDataset` (publish_to_catalog.py:303-368):
  * nationwide stops table refresh — fetch each tagged feed's zip,
  * extract+validate stops, upsert valid rows, route invalid rows to
  * the dead-letter channel, delete vanished keys, append the ledger.
  */
object StopsPipeline {

  /** Run summary plus the per-feed changelog — the reference records
    * per-feed outcomes in changelog dicts during
    * `updateTransitStopDataset` (publish_to_catalog.py:356-365);
    * `changelog` rows are (feed_id, action, detail) with actions
    * `dead` (bad URL / failed fetch), `empty` (zip had no stops rows)
    * and `parsed` (detail carries upserted/rejected counts). */
  final case class RunReport(
      upserted: Long, rejected: Long, deleted: Long,
      deadFeeds: Long, responses: Seq[String],
      changelog: Seq[(String, String, String)])

  /** Always-log wrapper (reference publish_to_catalog.py:600-608):
    * a failure mid-run still appends `run_successful: false` + the
    * error to the K4 ledger, then rethrows. */
  def run(spark: SparkSession, ep: Endpoints): RunReport =
    try {
      val report = doRun(spark, ep)
      Http.appendLogRow(ep.logUrl,
        java.time.LocalDate.now().toString, successful = true,
        s"upserted=${report.upserted} rejected=${report.rejected} " +
          s"deleted=${report.deleted} dead_feeds=${report.deadFeeds}")
      report
    } catch {
      case e: Exception =>
        Http.appendLogRow(ep.logUrl,
          java.time.LocalDate.now().toString, successful = false,
          s"error=${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    }

  private def doRun(spark: SparkSession, ep: Endpoints): RunReport = {
    import spark.implicits._

    // catalog → F1 tag filter → C6 URL extract → F3 validation
    val catalog = Http.readJsonResource(spark, ep.catalogUrl)
    val feeds = catalog
      .filter(CatalogTransforms.hasTag(col("tags"), "national transit map"))
      .select(
        StopsTransforms.extractFeedId(coalesce(col("description"), lit(""))).as("feed_id"),
        StopsTransforms.extractFetchLink(coalesce(col("description"), lit(""))).as("url"))
      .filter(col("feed_id") =!= "")
      .withColumn("url_ok", StopsTransforms.urlIsValid(col("url")))

    // S3: executor-side fetch; invalid URLs and dead fetches → dead
    // letters. `localCheckpoint(eager)` materializes the side-effecting
    // HTTP stage EXACTLY once — every downstream branch (dead-feed
    // audit, unzip/parse, counts) reads the stored partitions instead
    // of re-downloading every agency zip. Feeds are catalog-scale
    // (thousands of rows, MB-sized zips), so holding them on the
    // executors is cheap relative to refetching.
    val fetched = Http.fetchUrls(feeds.filter(col("url_ok")).drop("url_ok"), "url")
      .transform(Materialize(_, "StopsPipeline.run: fetch"))
    // control-plane collects: one row per feed, never per stop
    val deadUrlFeeds = feeds.filter(!col("url_ok"))
      .select("feed_id").as[String].collect().sorted
    val deadFetches = fetched.filter(col("fetch_error").isNotNull)
      .select("feed_id", "fetch_error").as[(String, String)].collect().sortBy(_._1)
    val fetchedOkFeeds = fetched.filter(col("fetch_error").isNull)
      .select("feed_id").as[String].collect().toSet
    val deadFeeds = deadUrlFeeds.length.toLong + deadFetches.length

    // S4: zip → stops.txt text per feed. Exactly ONE member per feed
    // (the reference reads z.read('stops.txt') and nothing else): an
    // archive shipping both 'stops.txt' and a stale 'old/stops.txt'
    // must not double-parse under one feed_id — duplicate
    // feed_id_stop_id keys with partition-order-dependent winners.
    // Preference: root entry, then least-nested, then lexicographic.
    val stopsText = {
      import org.apache.spark.sql.expressions.Window
      val entries = fetched.filter(col("fetch_error").isNull)
        .select(col("feed_id"),
          ZipFunctions.zip_entries(col("content")).as(Seq("entry_name", "bytes")))
        .filter(col("entry_name") === "stops.txt" ||
          col("entry_name").endsWith("/stops.txt")) // exact basename only
      val w = Window.partitionBy(col("feed_id")).orderBy(
        col("entry_name") =!= "stops.txt", length(col("entry_name")), col("entry_name"))
      entries.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("feed_id"), decode(col("bytes"), "UTF-8").as("text"))
    }

    // S5: distributed header-aware parse to the fixed raw-stop schema.
    // The reference splits lines naively on ',' then strips quotes
    // (:165, :148-154) — mirrored here; short lines drop (:166).
    val raw = stopsText.as[(String, String)].flatMap { case (feedId, text) =>
      val lines = text.split("\r?\n").iterator
        .map(l => if (l.nonEmpty && l.charAt(0) == '﻿') l.substring(1) else l)
        .filter(_.trim.length > 1).toSeq
      if (lines.isEmpty) Iterator.empty
      else {
        val header = lines.head.split(",", -1).map(_.replace("\"", "").trim)
        val idx = header.zipWithIndex.toMap
        def cell(parts: Array[String], name: String): String =
          idx.get(name).filter(_ < parts.length).map(parts(_)).orNull
        lines.iterator.drop(1).map { line =>
          val p = line.split(",", -1)
          (feedId, cell(p, "stop_name"), cell(p, "stop_lat"), cell(p, "stop_lon"),
            cell(p, "stop_id"), cell(p, "stop_code"), cell(p, "zone_id"),
            cell(p, "location_type"))
        }
      }
    }.toDF("feed_id", "stop_name", "stop_lat", "stop_lon",
      "stop_id", "stop_code", "zone_id", "location_type")

    // P3 + F6: flag rows once, then ONE aggregation pass yields both
    // the per-feed changelog and the upsert/reject totals — the
    // valid/invalid channels and all counts hang off this cached frame,
    // so the unzip+parse lineage evaluates once, not three times.
    val flagged = StopsTransforms.makeStopRows(raw).cache()
    val perFeed = flagged.groupBy(col("feed_id"))
      .agg(count_if(col("valid")).as("n_valid"),
        count_if(!col("valid")).as("n_invalid"))
      .orderBy(col("feed_id"))
      .as[(String, Long, Long)].collect()
    val upsertRows = perFeed.iterator.map(_._2).sum
    val rejected = perFeed.iterator.map(_._3).sum

    val (valid, _) = StopsTransforms.splitValid(flagged)

    // K1: bulk upsert (reads the cached flagged frame)
    val upsertResp = Http.csvUpsertSink(valid, ep.stopsUpsertUrl)

    // J2 + K2: delete detection, scoped to feeds that PARSED this run.
    // The reference only reaches deleteIfNecessary for a feed that
    // fetched and parsed (publish_to_catalog.py:354 after the :323
    // continue), scopes the existing side per feed with starts_with
    // (:263-265), and keys the keep-set on EVERY incoming stop_id —
    // valid and rejected alike (:271-275, before validation). So: a
    // feed that died this run (bad URL, 404, empty zip) keeps its
    // standing stops instead of being mass-deleted, and a rejected
    // row still protects its key. Only keys of a healthy feed that
    // vanished from its feed file are deleted.
    //
    // Scoping is by longest-match OWNERSHIP, not bare prefix: the
    // stored key is feed_id + "_" + stop_id and the remote table
    // carries no separate feed column (reference table shape), so with
    // feeds 'feedA' (parsed) and 'feedA_B' (dead this run), dead
    // 'feedA_B_X1' bare-prefix-matches parsed 'feedA' and would be
    // mass-deleted — the reference's own starts_with flaw (:263). A
    // key's owner is the LONGEST catalog feed id that prefixes it;
    // only keys owned by a parsed feed enter delete detection. Two
    // same-length feeds can't both prefix one key at one position, so
    // the max_by is unambiguous. Keys whose owner left the catalog
    // entirely scope with the longest remaining match — exactly the
    // reference's behavior, since no engine can recover identity the
    // stored key doesn't carry.
    val existing = Http.readJsonResource(spark, ep.stopsQueryUrl)
      .select(col("feed_id_stop_id"))
    val catalogFeedsDf = feeds.select(col("feed_id").as("__f")).distinct()
    val parsedFeedsDf = perFeed.map(_._1).toSeq.toDF("__pf")
    val scopedExisting = existing
      .join(broadcast(catalogFeedsDf),
        col("feed_id_stop_id").startsWith(concat(col("__f"), lit("_"))))
      .groupBy(col("feed_id_stop_id"))
      .agg(max_by(col("__f"), length(col("__f"))).as("__owner"))
      .join(broadcast(parsedFeedsDf), col("__owner") === col("__pf"), "left_semi")
      .select(col("feed_id_stop_id"))
    val incomingKeys = flagged.select(col("feed_id_stop_id"))
    val dels = CatalogTransforms.deleteSet(
      scopedExisting, incomingKeys, "feed_id_stop_id").cache()
    val deleted = dels.count()
    val delResp = if (deleted > 0)
      Http.jsonDeleteSink(dels, "feed_id_stop_id", ep.stopsUpsertUrl) else Array.empty[(Int, String)]

    // A2: per-feed changelog (reference publish_to_catalog.py:356-365)
    val parsedFeeds = perFeed.iterator.map(_._1).toSet
    val changelog =
      (deadUrlFeeds.iterator.map(f => (f, "dead", "invalid_url")) ++
        deadFetches.iterator.map { case (f, err) => (f, "dead", err) } ++
        (fetchedOkFeeds -- parsedFeeds).iterator.toSeq.sorted
          .map(f => (f, "empty", "no_stops_rows")) ++
        perFeed.iterator.map { case (f, v, i) =>
          (f, "parsed", s"upserted=$v rejected=$i") }).toSeq.sortBy(t => (t._1, t._2))

    val report = RunReport(upsertRows, rejected, deleted, deadFeeds,
      (upsertResp ++ delResp).map(r => s"${r._1}: ${r._2}").toSeq, changelog)
    flagged.unpersist(); dels.unpersist()
    report
  }
}
