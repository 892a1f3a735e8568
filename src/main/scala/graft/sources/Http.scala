package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** HTTP plumbing for the catalog/stops pipelines (SURVEY §2.1).
  *
  * Two distinct planes, mirroring §3.2:
  *  - control plane (catalog reads, revision protocol) runs on the
  *    driver — small payloads, few calls;
  *  - data plane (per-agency zip fetch S3, bulk upsert K1/K2) runs
  *    INSIDE executor partitions via mapPartitions/foreachPartition
  *    with one shared client per partition — the reference's serial
  *    per-agency loop (publish_to_catalog.py:530) parallelized.
  */
object Http {

  /** Per-JVM lazily-built client (java.net.http reuses connections).
    * Timeout mirrors the reference's 600 s budget
    * (HTTP_REQUEST_TIMEOUT_SECS, publish_to_catalog.py:27). */
  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(60))
    .followRedirects(HttpClient.Redirect.NORMAL) // http→https/S3 presign hops
    .build()

  val RequestTimeout: Duration = Duration.ofSeconds(600)

  final case class HttpResult(status: Int, body: Array[Byte], error: String) {
    def ok: Boolean = status >= 200 && status < 300 && error == null
    def bodyString: String = new String(body, StandardCharsets.UTF_8)
  }

  /** S3 — validated fetch, never throws: errors become data
    * (`getUrlIfValid` semantics, publish_to_catalog.py:70-80). */
  def get(url: String): HttpResult =
    try {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(RequestTimeout).GET().build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      // ANY non-2xx is an error (a residual 3xx after redirect-following
      // must not fall through with error=null — that would defeat the
      // dead-letter contract: no content AND no error marker)
      val err = if (r.statusCode() < 200 || r.statusCode() >= 300)
        s"http_${r.statusCode()}" else null
      HttpResult(r.statusCode(), r.body(), err)
    } catch {
      case e: IllegalArgumentException => HttpResult(0, Array.empty, s"bad_url: ${e.getMessage}")
      case e: Exception => HttpResult(0, Array.empty, s"fetch_failed: ${e.getClass.getSimpleName}")
    }

  def post(url: String, body: Array[Byte], contentType: String,
      headers: Map[String, String] = Map.empty): HttpResult =
    try {
      val b = HttpRequest.newBuilder(URI.create(url))
        .timeout(RequestTimeout)
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      headers.foreach { case (k, v) => b.header(k, v) }
      val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      val err = if (r.statusCode() < 200 || r.statusCode() >= 300)
        s"http_${r.statusCode()}" else null
      HttpResult(r.statusCode(), r.body(), err)
    } catch {
      case e: Exception => HttpResult(0, Array.empty, s"post_failed: ${e.getClass.getSimpleName}")
    }

  /** Retry wrapper for IDEMPOTENT writes only — the keyed sinks
    * (upsert by feed_id_stop_id, run-ledger append), where a re-POST
    * of the same payload collapses server-side. Non-idempotent calls
    * (the revision protocol's create steps) must use [[post]] once and
    * surface the failure instead: a retried create can duplicate the
    * resource when the first attempt landed but its response was lost.
    * Definitive 4xx responses (bad payload, auth) don't retry — the
    * same bytes produce the same rejection; 408/429 are the retryable
    * exceptions. */
  def postWithRetry(url: String, body: Array[Byte], contentType: String,
      attempts: Int = 3): HttpResult = {
    var last: HttpResult = null
    var i = 0
    while (i < attempts) {
      last = post(url, body, contentType)
      if (last.ok) return last
      if (last.status >= 400 && last.status < 500 &&
        last.status != 408 && last.status != 429) return last
      i += 1
      if (i < attempts) Thread.sleep(200L << i) // jittered-enough backoff
    }
    last
  }

  // ---- S1/S2: driver-side JSON resource scans ------------------------

  /** S1 — whole-resource scan (`getAllDatasetsInCatalog`,
    * publish_to_catalog.py:51-52): driver GET → distributed JSON parse.
    * For pushdown-capable scans use the `socrata` DSv2 format
    * (graft.sources.socrata). */
  def readJsonResource(spark: SparkSession, url: String): DataFrame = {
    import spark.implicits._
    val r = get(url)
    require(r.ok, s"GET $url failed: ${r.error}")
    spark.read.json(Seq(r.bodyString).toDS())
  }

  /** S2 — server-side SoQL filter (consent filter :524-528, prefix
    * filter :263-265). */
  def readJsonResourceWhere(spark: SparkSession, url: String, soqlWhere: String): DataFrame = {
    val sep = if (url.contains("?")) "&" else "?"
    readJsonResource(spark, url + sep + "$where=" +
      java.net.URLEncoder.encode(soqlWhere, "UTF-8"))
  }

  // ---- S3: executor-side per-row fetch (dead-letter pattern) ---------

  /** Fetch one URL per input row inside partitions. Output columns:
    * input's ++ (content binary, fetch_error string). Dead rows carry
    * the error instead of killing the job (reference: per-row
    * try/except, publish_to_catalog.py:535-545). */
  def fetchUrls(df: DataFrame, urlCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("fetch_error", org.apache.spark.sql.types.StringType)))
    val urlIdx = df.schema.fieldIndex(urlCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { row =>
        val url = row.getString(urlIdx)
        val r = if (url == null || url.isEmpty) HttpResult(0, Array.empty, "missing_url")
          else get(url)
        Row.fromSeq(row.toSeq ++ Seq(if (r.ok) r.body else null, r.error))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // ---- K1/K2/K4: executor-side bulk sinks ----------------------------

  /** K1 — CSV bulk-upsert sink (publish_to_catalog.py:339-352): each
    * partition buffers up to `batchRows` rows per CSV payload and
    * POSTs each batch with idempotent retry — memory and request size
    * are bounded by the batch, not the partition (a skew-concentrated
    * partition would otherwise hold its whole CSV in one StringBuilder
    * and ship one unbounded POST). Returns per-batch response rows for
    * the run ledger. */
  def csvUpsertSink(df: DataFrame, url: String,
      batchRows: Int = 50000): Array[(Int, String)] = {
    val cols = df.columns
    df.rdd.mapPartitions { rows =>
      val header = cols.mkString(",")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      val sb = new StringBuilder(header)
      var buffered = 0
      def flush(): Unit = if (buffered > 0) {
        val r = postWithRetry(url, sb.toString.getBytes(StandardCharsets.UTF_8), "text/csv")
        out += ((r.status, if (r.error == null) r.bodyString.take(1000) else r.error))
        sb.setLength(0); sb.append(header)
        buffered = 0
      }
      rows.foreach { r =>
        sb.append('\n').append(r.toSeq.map {
          case null => ""
          case s: String => graft.sources.socrata.CsvRows.quote(s)
          case v => v.toString
        }.mkString(","))
        buffered += 1
        if (buffered >= batchRows) flush()
      }
      flush()
      out.iterator
    }.collect()
  }

  /** K2 — JSON delete sink (`[{key, ":deleted": true}]`,
    * publish_to_catalog.py:282-298). Payload rows are serialized by
    * Catalyst's `to_json` (C14) — escaping stays in codegen, the
    * partition loop only concatenates. */
  def jsonDeleteSink(df: DataFrame, keyCol: String, url: String): Array[(Int, String)] = {
    val payload = df.select(to_json(struct(
      col(keyCol), lit(true).as(":deleted"))).as("j"))
    payload.rdd.mapPartitions { rows =>
      val items = rows.map(_.getString(0)).toSeq
      if (items.isEmpty) Iterator.empty
      else {
        val r = postWithRetry(url, items.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8),
          "application/json")
        Iterator.single((r.status, if (r.error == null) r.bodyString.take(1000) else r.error))
      }
    }.collect()
  }

  /** K4 — run-ledger append (`updateLogDataset`,
    * publish_to_catalog.py:567-581): single summary row. */
  def appendLogRow(url: String, runDate: String, successful: Boolean, log: String): HttpResult =
    postWithRetry(url,
      s"""[{"run_date": ${jsonStr(runDate)}, "run_successful": $successful, "log": ${jsonStr(log)}}]"""
        .getBytes(StandardCharsets.UTF_8),
      "application/json")

  /** JSON string-literal escaping for hand-assembled control-plane
    * payloads (the revision protocol, the ledger) — data-derived
    * values must NEVER be interpolated raw into JSON. */
  def jsonStr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
