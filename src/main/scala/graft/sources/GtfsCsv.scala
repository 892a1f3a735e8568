package graft.sources

/** S5 — GTFS stops.txt CSV semantics (SURVEY §2.1 S5, §1.3):
  * header row, UTF-8 BOM tolerated (publish_to_catalog.py:157 decodes
  * UTF-8-sig), stray quotes/whitespace on cells (cleaned later by
  * StopsTransforms), and the reference's drop of degenerate ≤1-char
  * lines (:166) — which we route through a filter, not a silent skip.
  */
object GtfsCsv {

  /** One feed's stops.txt text → its raw stop rows, (feed_id,
    * stop_name, stop_lat, stop_lon, stop_id, stop_code, zone_id,
    * location_type), every cell a string (typed casts happen in
    * StopsTransforms; a column the header lacks is null). The reference
    * splits lines naively on ',' then strips quotes from the header
    * (:165, :148-154) — mirrored here; short lines drop (:166). */
  def stopRows(feedId: String, text: String)
      : Iterator[(String, String, String, String, String, String, String, String)] = {
    val lines = text.split("\r?\n").iterator
      .map(l => if (l.nonEmpty && l.charAt(0) == '\uFEFF') l.substring(1) else l)
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
  }
}
