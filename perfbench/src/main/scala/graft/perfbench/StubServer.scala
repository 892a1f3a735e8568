package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Traffic one endpoint saw; times are epoch milliseconds. */
final class EndpointStats {
  var requests = 0L; var failed = 0L; var bytesIn = 0L; var bytesOut = 0L
  var busyNs = 0L; var first = Double.NaN; var last = Double.NaN
}

/** The catalog, agency, stops and revision endpoints the GTFS pipelines
  * talk to, served from memory by the JDK HTTP server on at most
  * `threads` handler threads. The stops table is stateful: upsert and
  * delete POSTs change what the stops query returns. While `failEvery`
  * is n > 0, the first POST of about one in n upsert or delete bodies
  * (chosen by a hash of the body seeded with `failSeed`) gets a 503, and
  * every later POST of a body that failed counts as a retry. Every
  * request is counted per endpoint. */
final class StubServer(threads: Int, failSeed: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  val stats = mutable.LinkedHashMap.empty[String, EndpointStats]

  // served state, swapped by the workload between pipeline runs
  @volatile var catalogJson: String = "[]"
  @volatile var agenciesJson: String = "[]"
  @volatile var zips: Map[String, Array[Byte]] = Map.empty
  @volatile var placeholderZip: Array[Byte] = Array.emptyByteArray
  val table = mutable.LinkedHashSet.empty[String]
  val upsertedKeys = mutable.ArrayBuffer.empty[String]
  val deletedKeys = mutable.ArrayBuffer.empty[String]
  @volatile var failEvery = 0
  private val failedBodies = mutable.HashSet.empty[Int]
  var retries = 0
  var revisionsCreated = 0

  def url(path: String): String = s"http://127.0.0.1:${server.getAddress.getPort}$path"

  /** Forget the stops table and the recorded writes (not the traffic stats). */
  def resetTable(): Unit = synchronized {
    table.clear(); upsertedKeys.clear(); deletedKeys.clear(); failedBodies.clear()
    retries = 0; revisionsCreated = 0
  }

  def resetStats(): Unit = synchronized(stats.clear())

  private def ok(json: String) = (200, "application/json", json.getBytes(UTF_8))

  private def route(ex: HttpExchange, body: Array[Byte]): (String, (Int, String, Array[Byte])) = {
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getRawQuery).map(java.net.URLDecoder.decode(_, "UTF-8")).getOrElse("")
    val post = ex.getRequestMethod == "POST"
    if (path.startsWith("/zips/")) {
      "zips" -> zips.get(path.stripPrefix("/zips/"))
        .map(z => (200, "application/zip", z))
        .getOrElse((404, "text/plain", "not found".getBytes(UTF_8)))
    } else if (path == "/placeholder.zip") "placeholder" -> (200, "application/zip", placeholderZip)
    else if (path == "/catalog") "catalog" -> ok(catalogJson)
    else if (path == "/agencies") {
      // the consent filter is pushed to the server as a SoQL $where
      require(query.contains("have_consent_for_ntm = true"), s"unexpected agency query: $query")
      "agencies" -> ok(agenciesJson)
    } else if (path == "/stops/query") "stops_query" -> ok(synchronized(
      table.iterator.map(k => s"""{"feed_id_stop_id":${Json(k)}}""").mkString("[", ",", "]")))
    else if (path == "/stops/upsert" && post) {
      val csv = ex.getRequestHeaders.getFirst("Content-Type").startsWith("text/csv")
      val endpoint = if (csv) "stops_upsert" else "stops_delete"
      val id = java.util.Arrays.hashCode(body)
      synchronized {
        if (failedBodies(id)) retries += 1
        if (!failedBodies(id) && failEvery > 0 &&
            Math.floorMod(MurmurHash3.bytesHash(body, failSeed), failEvery) == 0) {
          failedBodies += id
          endpoint -> (503, "text/plain", "busy".getBytes(UTF_8))
        } else {
          val text = new String(body, UTF_8)
          if (csv) {
            val keys = text.split("\n").iterator.drop(1).map(_.takeWhile(_ != ',')).toVector
            keys.foreach(table += _); upsertedKeys ++= keys
            endpoint -> ok(s"""{"Rows Upserted": ${keys.size}}""")
          } else {
            val keys = "\"feed_id_stop_id\":\"([^\"]*)\"".r.findAllMatchIn(text).map(_.group(1)).toVector
            keys.foreach(table -= _); deletedKeys ++= keys
            endpoint -> ok(s"""{"Rows Deleted": ${keys.size}}""")
          }
        }
      }
    } else if (path.startsWith("/api/revisions")) {
      if (post) { synchronized(revisionsCreated += 1); "revisions" -> ok("""{"revision_seq": 1}""") }
      else "revisions" -> ok("[]") // no open revision to resume
    } else if (path == "/api/sources" && post) "sources" -> ok("{}")
    else if (path == "/api/upload" && post) "upload" -> ok("{}")
    else if (path == "/api/apply" && post) "apply" -> ok("{}")
    else if (path == "/api/log" && post) "log" -> ok("{}")
    else "unknown" -> (404, "text/plain", Array.emptyByteArray)
  }

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis().toDouble
    val body = ex.getRequestBody.readAllBytes()
    val (endpoint, (status, ct, bytes)) =
      try route(ex, body)
      catch { case e: Exception => "error" -> (500, "text/plain", e.toString.getBytes(UTF_8)) }
    ex.getResponseHeaders.set("Content-Type", ct)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
    val busy = System.nanoTime() - t0
    synchronized {
      val s = stats.getOrElseUpdate(endpoint, new EndpointStats)
      s.requests += 1
      if (status >= 300) s.failed += 1
      s.bytesIn += body.length; s.bytesOut += bytes.length; s.busyNs += busy
      if (s.first.isNaN) s.first = startMs
      s.last = startMs + busy / 1e6
    }
  })

  def start(): Unit = { server.setExecutor(pool); server.start() }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}
