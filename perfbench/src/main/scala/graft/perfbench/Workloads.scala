package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipelines.{CatalogPipeline, Endpoints, StopsPipeline}
import graft.streaming.Streaming

/** One timed operation: a query, a pipeline run or a micro-batch. */
final case class Op(name: String, seconds: Double, constructS: Double = 0.0,
    error: Option[String] = None)

/** What one timed pass did. `rows` is the workload's own row count (see
  * each workload); `layers` holds numbers only the workload can see. */
final case class Pass(wallS: Double, ops: Seq[Op], rows: Long,
    layers: Map[String, Double] = Map.empty)

/** A named check of the program's output, made outside every timed region. */
final case class Check(name: String, ok: Boolean, detail: String = "")

trait Workload {
  /** Inputs, servers and warm-up, once per session before the first pass. */
  def setup(spark: SparkSession): Unit
  def pass(spark: SparkSession, t: Option[Tracer]): Pass
  /** Called as each timed operation of a pass starts. */
  var opStart: () => Unit = () => ()
  /** Checks of the first pass's outputs. */
  def checks(spark: SparkSession): Seq[Check]
  /** Numbers for the artifact beyond the shared metrics. */
  def report(passes: Seq[Pass]): Map[String, Any] = Map.empty
  def teardown(): Unit = ()
}

object Workload {
  def traced[T](t: Option[Tracer], layer: String, name: String)(body: => T): T =
    t.fold(body)(_.span(layer, name)(body))

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
import Workload._

/** Declared queries run one after another in a fixed order (one client,
  * closed loop), each built with its `SparkEntry.queries` builder and
  * collected. The order is fixed so that the first-run cost each query
  * pays stays with it from seed to seed. A pass's row count is the
  * workload's fixed input size: for each query, the rows of every table
  * its oracle SQL names. Results of the first pass are kept for the
  * oracle check, which runs after the JVM exits. */
final class QueryWorkload(prefixes: Seq[String], warmPrefix: String, dataDir: String,
    out: Path) extends Workload {
  private val all = graft.SparkEntry.queries
  private val oracles = graft.SparkEntry.oracleSql
  private def resolve(p: String): String = all.keys.filter(_.startsWith(p + "_")).toSeq match {
    case Seq(n) => n
    case other => throw new IllegalArgumentException(s"query prefix $p matches $other")
  }
  val names: Seq[String] = prefixes.map(resolve)
  /** The tables each query reads, as its oracle SQL names them. */
  val inputTables: Map[String, Seq[String]] = names.map(n => n -> graft.Tables.names.filter(t =>
    s"(?i)\\b$t\\b".r.findFirstIn(oracles.getOrElse(n, "")).nonEmpty)).toMap
  private var inputRows = 0L
  private val kept = mutable.LinkedHashMap.empty[String, (DataFrame, Array[Row])]

  private def dropLingering(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def setup(spark: SparkSession): Unit = {
    val rows = graft.Tables.names.map(n => n -> graft.Tables.load(spark, dataDir, n).count()).toMap
    inputRows = names.map(n => inputTables(n).map(rows).sum).sum
    all(resolve(warmPrefix))(spark, dataDir).collect()
    dropLingering(spark)
  }

  def pass(spark: SparkSession, t: Option[Tracer]): Pass = {
    val p0 = System.nanoTime()
    val ops = names.map { name =>
      opStart()
      val t0 = System.nanoTime()
      var construct = 0.0
      val op = try {
        traced(t, "queries.op", name) {
          val df = traced(t, "queries.construct", name)(all(name)(spark, dataDir))
          construct = secondsSince(t0)
          val rows = traced(t, "queries.execute", name)(df.collect())
          if (!kept.contains(name)) kept(name) = (df, rows)
        }
        Op(name, secondsSince(t0), construct)
      } catch {
        case e: Throwable => Op(name, secondsSince(t0), construct, Some(e.toString.take(300)))
      }
      dropLingering(spark)
      op
    }
    Pass(secondsSince(p0), ops, inputRows)
  }

  /** Writes each kept result in `graft.Verify`'s layout (one parquet
    * directory per query plus `oracle_sql.json`) under `<out>/results`,
    * for `scripts/check_oracle.py`. */
  def checks(spark: SparkSession): Seq[Check] = {
    val dir = Files.createDirectories(out.resolve("results"))
    kept.foreach { case (name, (df, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json(kept.keys.flatMap(n => oracles.get(n).map(n -> _)).toMap))
    kept.keys.filterNot(oracles.contains).map(n => Check(s"$n.oracle", ok = false, "no oracle SQL")).toSeq
  }

  override def report(passes: Seq[Pass]): Map[String, Any] = Map(
    "plan_fingerprints" -> kept.map { case (n, (df, _)) =>
      n -> scala.util.Try(graft.Bench.planFingerprint(df)).getOrElse("ERR") },
    "result_rows" -> kept.map { case (n, (_, rows)) => n -> rows.length },
    "input_tables" -> inputTables, "input_rows_per_pass" -> inputRows)
}

/** The reference's own job against the bench stub: `StopsPipeline.run`
  * on the initial feeds, again on mutated feeds, then
  * `CatalogPipeline.run`. In a timed pass the stub turns away the first
  * POST of one in `FailEvery` upsert and delete bodies with a 503, so
  * the pipelines' retries are exercised and counted. */
final class StopsWorkload(seed: Long, cores: Int) extends Workload {
  private var stub: StubServer = _
  private var feeds: Feeds = _
  private var ep: Endpoints = _
  private val records = mutable.ArrayBuffer.empty[(String, Any, Seq[String], Seq[String])]
  var fetchS = 0.0
  var upsertRowsPerS = 0.0

  private def serve(world: Feeds, zips: Map[String, Array[Byte]]): Unit = {
    stub.catalogJson = world.catalogJson(stub.url(""))
    stub.agenciesJson = world.agenciesJson(stub.url(""))
    stub.zips = zips
  }

  def setup(spark: SparkSession): Unit = {
    feeds = new Feeds(seed)
    stub = new StubServer(cores, seed.toInt)
    stub.start()
    stub.placeholderZip = feeds.zip(Vector.empty, bom = false)
    ep = Endpoints(catalogUrl = stub.url("/catalog"), agencyUrl = stub.url("/agencies"),
      stopsQueryUrl = stub.url("/stops/query"), stopsUpsertUrl = stub.url("/stops/upsert"),
      logUrl = stub.url("/api/log"), revisionBase = stub.url("/api"),
      placeholderZipUrl = stub.url("/placeholder.zip"))
    // warm-up on a small world of its own
    val small = new Feeds(seed + 1, nFeeds = 6, totalStops = 300)
    serve(small, small.zipsV1)
    StopsPipeline.run(spark, ep)
    CatalogPipeline.run(spark, ep).collect()
    stub.resetTable()
    stub.resetStats()
  }

  private def snapshot(name: String, result: Any): Unit = stub.synchronized {
    records += ((name, result, stub.upsertedKeys.toVector, stub.deletedKeys.toVector))
    stub.upsertedKeys.clear(); stub.deletedKeys.clear()
  }

  def pass(spark: SparkSession, t: Option[Tracer]): Pass = {
    stub.resetTable()
    stub.resetStats()
    stub.failEvery = StopsWorkload.FailEvery
    val p0 = System.nanoTime()
    def step(name: String)(body: => Any): Op = {
      opStart()
      val t0 = System.nanoTime()
      try {
        val r = traced(t, "pipelines.run", name)(body)
        val s = secondsSince(t0)
        snapshot(name, r)
        Op(name, s)
      } catch { case e: Throwable =>
        snapshot(name, e)
        Op(name, secondsSince(t0), error = Some(e.toString.take(300)))
      }
    }
    serve(feeds, feeds.zipsV1)
    val run1 = step("stops_initial")(StopsPipeline.run(spark, ep))
    serve(feeds, feeds.zipsV2)
    val run2 = step("stops_mutated")(StopsPipeline.run(spark, ep))
    val cat = step("catalog")(CatalogPipeline.run(spark, ep).collect().toSeq)
    val wall = secondsSince(p0)
    stub.failEvery = 0
    val stats = stub.synchronized(stub.stats.toMap)
    def sum(f: EndpointStats => Double) = stats.values.map(f).sum
    def window(e: String) = stats.get(e).map(s => (s.last - s.first) / 1000.0).getOrElse(0.0)
    val reports = records.takeRight(3).collect { case (_, r: StopsPipeline.RunReport, _, _) => r }
    Pass(wall, Seq(run1, run2, cat), feeds.rowsRead, Map(
      "sources.http_requests" -> sum(_.requests),
      "sources.http_failed" -> sum(_.failed),
      "sources.http_retries" -> stub.synchronized(stub.retries.toDouble),
      "sources.http_bytes_in" -> sum(_.bytesIn),
      "sources.http_bytes_out" -> sum(_.bytesOut),
      "sources.server_busy_s" -> sum(_.busyNs) / 1e9,
      "sources.fetch_window_s" -> window("zips"),
      "sources.upsert_window_s" -> window("stops_upsert"),
      "pipelines.stops_s" -> (run1.seconds + run2.seconds),
      "pipelines.catalog_s" -> cat.seconds,
      "pipelines.upserted" -> reports.map(_.upserted).sum,
      "pipelines.rejected" -> reports.map(_.rejected).sum,
      "pipelines.deleted" -> reports.map(_.deleted).sum,
      "pipelines.dead_feeds" -> reports.map(_.deadFeeds).sum,
      "http_failed_after_retry" -> reports.flatMap(_.responses).count(r => !r.startsWith("2")).toDouble))
  }

  def checks(spark: SparkSession): Seq[Check] = records.grouped(3).zipWithIndex.flatMap { case (run, i) =>
    val byName = run.map(r => r._1 -> r).toMap
    def stopsChecks(name: String, exp: Expected): Seq[Check] = byName.get(name) match {
      case Some((_, r: StopsPipeline.RunReport, up, del)) => Seq(
        Check(s"pass$i.$name.upserted_keys", up.toSet == exp.upserted && up.size == exp.upserted.size,
          s"${up.size} posted, ${exp.upserted.size} expected"),
        Check(s"pass$i.$name.deleted_keys", del.toSet == exp.deleted && del.size == exp.deleted.size,
          s"${del.size} posted, ${exp.deleted.size} expected"),
        Check(s"pass$i.$name.report", (r.upserted, r.rejected, r.deleted, r.deadFeeds) ==
          ((exp.upserted.size.toLong, exp.rejected, exp.deleted.size.toLong, exp.deadFeeds)), r.toString.take(300)))
      case _ => Seq(Check(s"pass$i.$name", ok = false, "run failed"))
    }
    val catalog = byName.get("catalog") match {
      case Some((_, rows: Seq[_], _, _)) =>
        val got = rows.collect { case r: Row => r.getString(0) -> r.getSeq[String](2).sorted }.toMap
        val want = Map("updated" -> feeds.ids.sorted, "created" -> feeds.newAgencies.sorted)
        Seq(Check(s"pass$i.catalog.changelog", got == want, got.toString.take(300)))
      case _ => Seq(Check(s"pass$i.catalog", ok = false, "run failed"))
    }
    stopsChecks("stops_initial", feeds.expected1) ++ stopsChecks("stops_mutated", feeds.expected2) ++ catalog
  }.toSeq

  /** Direct calls into `Http.fetchUrls` and `Http.csvUpsertSink`. */
  def directSources(spark: SparkSession): Unit = {
    import spark.implicits._
    serve(feeds, feeds.zipsV1)
    val urls = feeds.ids.map(f => (f, stub.url(s"/zips/$f.zip"))).toDF("feed_id", "url")
      .repartition(cores)
    val t0 = System.nanoTime()
    graft.sources.Http.fetchUrls(urls, "url").count()
    fetchS = secondsSince(t0)
    val rows = feeds.v1.toSeq.flatMap { case (f, s) => s.map(x => (s"${f}_${x.id}", x.name, x.lat, x.lon)) }
      .toDF("feed_id_stop_id", "stop_name", "stop_lat", "stop_lon").repartition(cores).cache()
    val n = rows.count()
    val t1 = System.nanoTime()
    graft.sources.Http.csvUpsertSink(rows, stub.url("/stops/upsert"))
    upsertRowsPerS = n / secondsSince(t1)
    rows.unpersist(true)
  }

  override def report(passes: Seq[Pass]): Map[String, Any] = Map(
    "feeds" -> feeds.ids.size, "stop_rows_read_per_pass" -> feeds.rowsRead,
    "endpoints" -> stub.synchronized(stub.stats.map { case (k, s) => k -> Map(
      "requests" -> s.requests, "failed" -> s.failed, "bytes_in" -> s.bytesIn,
      "bytes_out" -> s.bytesOut, "busy_s" -> s.busyNs / 1e9) }.toMap))

  override def teardown(): Unit = if (stub != null) stub.stop()
}

object StopsWorkload {
  val FailEvery = 3
}

/** The stateful streaming twins fed by `MemoryStream` under the RocksDB
  * state store: `weightedSampleWithState` and `nbMonitorWithState`,
  * `batches` micro-batches of `batchRows` seeded rows each. */
final class StreamWorkload(seed: Long, work: Path, batches: Int = 20, batchRows: Int = 1000)
    extends Workload {
  private val rng = new Random(seed)
  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lambda", "mu")
  val events: Vector[Vector[Streaming.WeightedEvent]] = Vector.tabulate(batches, batchRows) { (b, i) =>
    val id = (b * batchRows + i).toLong
    Streaming.WeightedEvent(s"s${rng.nextInt(64)}", id, if (rng.nextInt(50) == 0) 0L else 1L + rng.nextInt(500))
  }
  val docs: Vector[Vector[Streaming.NbDoc]] = Vector.tabulate(batches, batchRows) { (b, i) =>
    val y = rng.nextBoolean()
    val text = Seq.fill(4 + rng.nextInt(8))(words(rng.nextInt(if (y) 8 else words.size))).mkString(" ")
    Streaming.NbDoc(s"src${rng.nextInt(16)}", (b * batchRows + i).toLong, y, text)
  }
  private var weightsDf: DataFrame = _
  private var weights: Map[Long, Long] = _
  private var bias = 0L
  private var passNo = 0
  private var queries = 0
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the frozen classifier both the stream and its batch twin score with
    weightsDf = graft.operators.TextAnalysis.nbTrain(docs.head.take(400)
      .map(d => (d.doc_id, d.y, d.text)).toDF("doc_id", "y", "text"), col("y")).cache()
    val w = weightsDf.as[(Long, Long)].collect().toMap
    bias = w(-1L); weights = w - (-1L)
    run(spark, "warm", 1, 50, None)
  }

  private def run(spark: SparkSession, tag: String, nBatches: Int, rows: Int,
      t: Option[Tracer]): Seq[Op] = {
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    def drive[T](name: String, in: MemoryStream[T], q: org.apache.spark.sql.streaming.StreamingQuery,
        data: Vector[Vector[T]]): Seq[Op] = {
      data.take(nBatches).foreach { b =>
        opStart()
        in.addData(b.take(rows))
        traced(t, "streaming.batch", name)(q.processAllAvailable())
      }
      q.stop()
      val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
      if (tag != "warm") progress ++= ps
      ps.map(p => Op(s"$name.batch${p.batchId}", p.batchDuration / 1000.0))
    }
    def sink(ds: org.apache.spark.sql.Dataset[_], name: String) = {
      queries += 1
      ds.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", work.resolve(s"chk_${name}_$queries").toString).start()
    }
    val wIn = MemoryStream[Streaming.WeightedEvent]
    val wName = s"wsample_$tag"
    val a = drive(wName, wIn, sink(Streaming.weightedSampleWithState(wIn.toDS(), k = 8), wName), events)
    val nIn = MemoryStream[Streaming.NbDoc]
    val nName = s"nbmon_$tag"
    val b = drive(nName, nIn, sink(Streaming.nbMonitorWithState(nIn.toDS(), weights, bias), nName), docs)
    a ++ b
  }

  def pass(spark: SparkSession, t: Option[Tracer]): Pass = {
    passNo += 1
    val mark = progress.size
    val p0 = System.nanoTime()
    val ops = run(spark, s"p$passNo", batches, batchRows, t)
    val wall = secondsSince(p0)
    val ps = progress.drop(mark).toSeq
    def med(key: String) = median(ps.map(_.durationMs.asScala.get(key).map(_.toDouble).getOrElse(0.0)))
    val state = ps.map(_.stateOperators.toSeq)
    Pass(wall, ops, 2L * batches * batchRows, Map(
      "streaming.plan_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "streaming.state_rows" -> state.map(_.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_commit_ms" -> median(state.map(_.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_mb" -> state.map(_.map(_.memoryUsedBytes).sum / 1048576.0).maxOption.getOrElse(0.0)))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** The last emitted row per key of the first pass against the batch
    * operator over the same rows. */
  def checks(spark: SparkSession): Seq[Check] = {
    import spark.implicits._
    // every batch re-emits the current sample of each stratum it touched,
    // so a stratum's final sample is its last emission (ranks 1..k)
    val finalSample = spark.table("wsample_p1").as[Streaming.WeightedRow].collect().toSeq
      .groupBy(_.stratum).values.toSeq.flatMap(rows => rows.takeRight(rows.last.rank.toInt))
      .map(r => (r.stratum, r.rank, r.id, r.key_micro)).sorted
    val batchSample = graft.operators.Profile.weightedSample(
        events.flatten.map(e => (e.id, e.stratum, e.w)).toDF("id", "grp", "w"), "id", "grp", "w", k = 8)
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    val streamNb = spark.table("nbmon_p1").as[Streaming.NbReport].collect()
      .groupBy(_.source).map { case (s, rs) => s -> rs.maxBy(_.n_docs) }
      .map { case (s, r) => (s, r.n_docs, r.n_pred_pos, r.n_correct, r.avg_score_micro) }.toSeq.sorted
    val batchNb = graft.operators.TextAnalysis.nbSourceReport(
        docs.flatten.map(d => (d.doc_id, d.source, d.y, d.text)).toDF("doc_id", "source", "y", "text"),
        col("y"), weightsDf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq.sorted
    Seq(
      Check("weighted_sample.batch_parity", finalSample == batchSample,
        s"${finalSample.size} stream rows, ${batchSample.size} batch rows"),
      Check("nb_monitor.batch_parity", streamNb == batchNb,
        s"${streamNb.size} stream sources, ${batchNb.size} batch sources"))
  }

  override def report(passes: Seq[Pass]): Map[String, Any] = Map(
    "batch_rows" -> batchRows, "batches_per_twin" -> batches)
}
