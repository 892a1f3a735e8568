package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.util.Random

/** One stops.txt row; `valid` is what the reference's validation
  * (coordinates in range, numeric-or-empty location_type) should say. */
final case class Stop(id: String, name: String, lat: String, lon: String,
    locType: String, valid: Boolean) {
  def line: String = s"$id,C$id,$name,$lat,$lon,Z${id.length % 7},$locType"
}

/** What one StopsPipeline run over a feed version should report and write. */
final case class Expected(upserted: Set[String], deleted: Set[String],
    rejected: Long, deadFeeds: Long)

/** Seeded GTFS world for the stops_publish workload: a catalog of feeds
  * with skewed stop counts, a second version of every feed with changed,
  * vanished and malformed stops and dead links, the agency table the
  * catalog pipeline publishes, and the outcomes both pipelines must
  * produce. */
final class Feeds(seed: Long, nFeeds: Int = 24, totalStops: Int = 20000) {
  private val rng = new Random(seed)
  val ids: Vector[String] = (0 until nFeeds).map(i => f"feed$i%02d").toVector

  private def stop(n: Int, badShare: Double): Stop = {
    val id = s"s$n"
    val name = s"${Feeds.Streets(rng.nextInt(Feeds.Streets.length))} ${rng.nextInt(500)}"
    val lat = Feeds.deg(25 + rng.nextDouble() * 24)
    val lon = Feeds.deg(-124 + rng.nextDouble() * 57)
    val lt = if (rng.nextBoolean()) "0" else if (rng.nextInt(5) == 0) "1" else ""
    val r = rng.nextDouble()
    if (r < badShare / 2) Stop(id, name, "n/a", lon, lt, valid = false)
    else if (r < badShare * 3 / 4) Stop(id, name, "95.5", lon, lt, valid = false)
    else if (r < badShare) Stop(id, name, lat, lon, "x", valid = false)
    else Stop(id, name, lat, lon, lt, valid = true)
  }

  // skewed sizes: feed i holds about 1/(i+1) of the stops
  private val weights = ids.indices.map(i => 1.0 / (i + 1))
  private val sizes = weights.map(w => math.max(5, (totalStops * w / weights.sum).toInt))
  private var serial = 0
  private def fresh(badShare: Double): Stop = { serial += 1; stop(serial, badShare) }

  val v1: Map[String, Vector[Stop]] =
    ids.zip(sizes).map { case (f, n) => f -> Vector.fill(n)(fresh(0.03)) }.toMap

  /** Feeds whose link is dead in version 2 only (their stops must stay). */
  val deadInV2: Set[String] = rng.shuffle(ids.drop(1)).take(2).toSet
  /** A feed whose version-2 archive holds a header and no rows. */
  val emptyInV2: String = rng.shuffle(ids.drop(1).filterNot(deadInV2)).head

  val v2: Map[String, Vector[Stop]] = v1.map { case (f, stops) =>
    val kept = stops.filter(_ => rng.nextDouble() >= 0.05)
    val changed = kept.map(s =>
      if (s.valid && rng.nextDouble() < 0.05) s.copy(lat = Feeds.deg(25 + rng.nextDouble() * 24)) else s)
    f -> (changed ++ Vector.fill(math.max(1, stops.size / 50))(fresh(0.3)))
  }

  def zip(stops: Vector[Stop], bom: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    zos.putNextEntry(new ZipEntry("stops.txt"))
    val header = (if (bom) "\uFEFF" else "") +
      "stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,location_type"
    zos.write((header +: stops.map(_.line)).mkString("", "\n", "\n").getBytes(UTF_8))
    zos.closeEntry(); zos.close()
    bos.toByteArray
  }

  def zipsV1: Map[String, Array[Byte]] =
    v1.map { case (f, s) => s"$f.zip" -> zip(s, bom = f.endsWith("3")) }
  def zipsV2: Map[String, Array[Byte]] =
    v2.collect { case (f, s) if !deadInV2(f) =>
      s"$f.zip" -> zip(if (f == emptyInV2) Vector.empty else s, bom = f.endsWith("3"))
    }

  /** Catalog: every feed tagged for the national transit map, one feed
    * with an invalid URL and one whose archive is missing (dead in both
    * versions), and untagged datasets the stops pipeline must skip. */
  def catalogJson(base: String): String = {
    def entry(id: String, feed: String, link: String, tags: String) =
      s"""{"id": "$id", "name": "GTFS $feed", "description": """ +
        Json(s"GTFS dataset for $feed\nFeed ID: $feed\nGTFS URL: $link\nAgency URL: http://$feed.example") +
        s""", "tags": $tags}"""
    val tagged = """["national transit map", "gtfs"]"""
    val feeds = ids.zipWithIndex.map { case (f, i) => entry(f"ff$i%02d-0001", f, s"$base/zips/$f.zip", tagged) }
    val dead = Seq(entry("dead-0001", "deadurl", "not a url", tagged),
      entry("dead-0002", "deadzip", s"$base/zips/missing.zip", tagged))
    val other = (0 until 3).map(i => entry(s"othr-000$i", s"other$i", "", """["other"]"""))
    (feeds ++ dead ++ other).mkString("[", ",", "]")
  }

  /** Consenting agencies: one per feed (published as updates), four new
    * ones (created), some with empty or dead links (placeholder zip). */
  val newAgencies: Vector[String] = (0 until 4).map(i => s"new$i").toVector
  def agenciesJson(base: String): String =
    (ids ++ newAgencies).zipWithIndex.map { case (f, i) =>
      val link = if (i % 9 == 4) "" else if (i % 9 == 7) s"$base/zips/gone.zip"
        else if (ids.contains(f)) s"$base/zips/$f.zip" else ""
      s"""{"agency_name": "Agency $f", "feed_id": "$f", "ntd_id": "${1000 + i}", """ +
        s""""fetch_link": "$link", "have_consent_for_ntm": true, "city": "City$i", "state": "ST"}"""
    }.mkString("[", ",", "]")

  private def keys(f: String, s: Vector[Stop]) = s.map(x => s"${f}_${x.id}")

  /** Run 1 starts from an empty stops table. */
  val expected1: Expected = Expected(
    v1.toSeq.flatMap { case (f, s) => keys(f, s.filter(_.valid)) }.toSet, Set.empty,
    v1.values.map(_.count(!_.valid).toLong).sum, deadFeeds = 2)

  /** Run 2 sees the table run 1 left. Only feeds that parsed rows may
    * lose keys, and every incoming row protects its key. */
  val expected2: Expected = {
    val parsed = v2.filter { case (f, _) => !deadInV2(f) && f != emptyInV2 }
    val deleted = parsed.toSeq.flatMap { case (f, s) =>
      val incoming = keys(f, s).toSet
      expected1.upserted.filter(k => k.startsWith(f + "_") && !incoming(k))
    }.toSet
    Expected(parsed.toSeq.flatMap { case (f, s) => keys(f, s.filter(_.valid)) }.toSet, deleted,
      parsed.values.map(_.count(!_.valid).toLong).sum, deadFeeds = 2 + deadInV2.size)
  }

  /** Stop rows the two runs fetch and read. */
  val rowsRead: Long =
    v1.values.map(_.size.toLong).sum +
      v2.collect { case (f, s) if !deadInV2(f) && f != emptyInV2 => s.size.toLong }.sum
}

object Feeds {
  def deg(d: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, d)
  val Streets: Vector[String] = Vector("Main St", "Oak Ave", "Pine Rd", "Elm St", "Lake Dr",
    "Hill Rd", "Park Ave", "Cedar Ln", "Maple St", "Bay Rd", "River Rd", "Mill St")
}
