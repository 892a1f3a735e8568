package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark in this JVM and writes its
  * measurements to `<out>/result.json`.
  *
  * Flags: `--workload relational|curation|stops_publish|stream_twins`,
  * `--seed n`, `--seconds s` (timed passes repeat until s seconds have
  * passed), `--trace 0|1`, `--data dir` (the generated tables),
  * `--out dir` (scratch and results), `--start-ms t` (epoch ms at which
  * the benchmark process started; the set-up is timed from it).
  *
  * `setup_s` is the one cold set-up of the run: from the start of the
  * benchmark process (input generation, JVM start, session build, table
  * load, warm-up, stub-server start) to the first timed operation. */
object Main {
  val Relational: Seq[String] = (1 to 26).map(i => f"q$i%02d") ++ (1 to 7).map(i => f"r$i%02d")
  val Curation: Seq[String] = Seq("x28", "x165", "x240", "x258", "x06", "x209", "x228", "x233")
  private val MB = 1048576.0

  val PerLayer: Seq[String] = Seq(
    "queries.construct_s", "queries.construct_jobs", "operators.cc_s", "operators.cc_jobs",
    "spark.planning.analyze_s", "spark.planning.optimize_s", "spark.planning.physical_s",
    "spark.stages.jobs", "spark.stages.stages", "spark.stages.tasks", "spark.stages.busy_s",
    "spark.stages.off_stage_s", "spark.stages.task_s", "spark.stages.parallel_eff",
    "spark.stages.one_task_stage_s", "spark.stages.max_task_share", "spark.stages.shuffle_write_mb",
    "spark.stages.shuffle_read_mb", "spark.stages.spill_mb", "spark.stages.input_mb", "spark.stages.gc_s") ++
    Seq("cosine_similarity", "dense_embedding", "md5_shingle_hashes", "md5_ngram_minhash",
      "bpe_apply_merges", "pq_adc_micro").map(k => s"functions.$k.rows_per_s") ++ Seq(
    "sources.http_requests", "sources.http_failed", "sources.http_retries", "sources.http_bytes_in",
    "sources.http_bytes_out", "sources.server_busy_s", "sources.fetch_window_s",
    "sources.upsert_window_s", "sources.fetch_s", "sources.upsert_rows_per_s",
    "transform.validate_rows_per_s", "transform.rejected_share",
    "pipelines.stops_s", "pipelines.catalog_s", "pipelines.jobs", "pipelines.upserted",
    "pipelines.rejected", "pipelines.deleted", "pipelines.dead_feeds",
    "streaming.plan_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.state_rows", "streaming.state_commit_ms",
    "streaming.state_mb", "trace.overhead_share")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell–Davis estimate of the p-quantile: a Beta-weighted mean of
    * all order statistics. With a few dozen latencies that cluster by
    * query it moves smoothly, where a single rank jumps between clusters. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(p * (n + 1), (1 - p) * (n + 1))
    s.indices.map(i => (beta.cumulativeProbability((i + 1.0) / n) -
      beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
  }

  /** The highest percentile with at least ten samples beyond it, its value
    * and the sample count (the maximum when there are ten or fewer). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (1.0, s.last, s.size)
    else ((s.size - 10).toDouble / s.size, s(s.size - 11), s.size)
  }

  def session(cores: Int, out: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    // exit explicitly: server and Spark threads would keep a failed run alive
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = Files.createDirectories(Paths.get(a("out")).toAbsolutePath)
    val startMs = a.get("start-ms").map(_.toDouble).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg()

    val w: Workload = name match {
      case "relational" => new QueryWorkload(Relational, "q27", a("data"), out)
      case "curation" => new QueryWorkload(Curation, "x01", a("data"), out)
      case "stops_publish" => new StopsWorkload(seed, cores)
      case "stream_twins" => new StreamWorkload(seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = session(cores, out)
    w.setup(spark)
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0
    val sc = spark.sparkContext
    val storage = new StoragePeak(sc)
    storage.start()
    w.opStart = () => storage.mark()

    def timedPass(t: Option[Tracer]): (Pass, Long) = {
      storage.reset()
      val p = t.fold(w.pass(spark, None))(tr => tr.span("workload", name)(w.pass(spark, t)))
      (p, storage.peakBytes)
    }

    val untraced = mutable.ArrayBuffer.empty[(Pass, Long)]
    var tracer: Option[Tracer] = None
    var tracedPass: Option[Pass] = None
    if (!trace) {
      val m0 = System.nanoTime()
      do untraced += timedPass(None) while ((System.nanoTime() - m0) / 1e9 < seconds)
    } else {
      // untraced, traced, untraced: the overhead compares the last two
      untraced += timedPass(None)
      val tr = new Tracer(spark)
      tr.start()
      tracedPass = Some(timedPass(Some(tr))._1)
      tr.stop()
      tracer = Some(tr)
      untraced += timedPass(None)
    }
    val passes = untraced.map(_._1).toSeq
    val extraChecks = mutable.ArrayBuffer.empty[Check]

    val layers = mutable.LinkedHashMap.empty[String, Double]
    tracer.foreach { tr =>
      val b = tracedPass.get
      layers ++= PerLayer.map(_ -> 0.0)
      layers ++= b.layers.filter { case (k, _) => layers.contains(k) }
      layers ++= stageMetrics(tr, b.wallS, cores)
      layers("queries.construct_s") = b.ops.map(_.constructS).sum
      layers("queries.construct_jobs") = tr.jobsUnder("queries.construct")
      layers("pipelines.jobs") = tr.jobsUnder("pipelines.run")
      layers("spark.planning.analyze_s") = tr.planning("analysis")
      layers("spark.planning.optimize_s") = tr.planning("optimization")
      layers("spark.planning.physical_s") = tr.planning("planning")
      layers("trace.overhead_share") = b.wallS / passes.last.wallS - 1
      Micro.kernels(spark).foreach { case (k, v) => layers(s"functions.$k.rows_per_s") = v }
      val ccTracer = new Tracer(spark)
      ccTracer.start()
      layers("operators.cc_s") = Micro.connectedComponents(spark, ccTracer)
      ccTracer.stop()
      layers("operators.cc_jobs") = ccTracer.jobsUnder("operators.cc")
      // the streaming twins, unless they are the workload
      if (!w.isInstanceOf[StreamWorkload]) {
        val twins = new StreamWorkload(seed, out, batches = 12)
        twins.setup(spark)
        layers ++= twins.pass(spark, None).layers
      }
      val (vRate, rejected) = Micro.validate(spark)
      layers("transform.validate_rows_per_s") = vRate
      layers("transform.rejected_share") = rejected
      // the GTFS pipelines against the stub, traced, unless they are the workload
      val stops = w match {
        case s: StopsWorkload => s
        case _ =>
          val s = new StopsWorkload(seed, cores)
          s.setup(spark)
          val tr2 = new Tracer(spark)
          tr2.start()
          val p = s.pass(spark, Some(tr2))
          tr2.stop()
          layers ++= p.layers.filter { case (k, _) => layers.contains(k) }
          layers("pipelines.jobs") = tr2.jobsUnder("pipelines.run")
          extraChecks ++= s.checks(spark).map(c => c.copy(name = "stops_publish." + c.name))
          s
      }
      stops.directSources(spark)
      layers("sources.fetch_s") = stops.fetchS
      layers("sources.upsert_rows_per_s") = stops.upsertRowsPerS
      if (stops ne w) stops.teardown()
      Files.write(out.resolve("trace_spans.jsonl"), tr.spansJsonLines().toSeq.asJava)
    }

    val checks = w.checks(spark) ++ extraChecks
    val ops = passes.flatMap(_.ops)
    val httpFailed = passes.map(_.layers.getOrElse("http_failed_after_retry", 0.0)).sum.toLong
    val attempted = ops.size + checks.size + httpFailed
    val failed = ops.count(_.error.nonEmpty) + checks.count(!_.ok) + httpFailed
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(passes.map(_.wallS)), "s"),
      "query_p50_s" -> (pct(ops.map(_.seconds), 0.5), "s"),
      "query_p80_s" -> (pct(ops.map(_.seconds), 0.8), "s"),
      "rows_per_s" -> (passes.map(_.rows).sum / passes.map(_.wallS).sum, "1/s"),
      "peak_storage_mb" -> (untraced.map(_._2).max / MB, "MB"))
    if (name == "relational") e2e("headline_q01_q26_s") = (median(passes.map(p =>
      p.ops.filter(o => o.name.matches("q(0[1-9]|1[0-9]|2[0-6])_.*")).map(_.seconds).sum)), "s")
    if (name == "stream_twins") {
      val batchTails = passes.map(p => tail(p.ops.map(_.seconds * 1000)))
      e2e("batch_p50_ms") = (median(passes.map(p => median(p.ops.map(_.seconds * 1000)))), "ms")
      e2e("batch_tail_ms") = (median(batchTails.map(_._2)), "ms")
    }
    e2e("fail_share") = (failed.toDouble / attempted, "1")

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "passes" -> passes.map(p => mutable.LinkedHashMap("wall_s" -> p.wallS, "rows" -> p.rows,
        "ops" -> p.ops.map(o => mutable.LinkedHashMap("name" -> o.name, "seconds" -> o.seconds,
          "construct_s" -> o.constructS, "error" -> o.error)))),
      "environment" -> mutable.LinkedHashMap(
        "nproc" -> cores, "master" -> sc.master,
        "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
        "load_avg_1m_start" -> load0, "load_avg_1m_end" -> loadAvg(),
        "spark" -> spark.version, "java" -> System.getProperty("java.version")),
      "report" -> w.report(passes))
    if (name == "stream_twins") result("batch_tail") = passes.map { p =>
      val (q, v, n) = tail(p.ops.map(_.seconds * 1000))
      Map("percentile" -> q, "value_ms" -> v, "batches" -> n)
    }
    tracer.foreach(tr => result("self_time_s_by_layer") = tr.selfTimeByLayer())
    Files.writeString(out.resolve("result.json"), Json(result))

    storage.finish()
    w.teardown()
    spark.stop()
  }

  /** Stage-level per-layer numbers of the traced pass. */
  private def stageMetrics(tr: Tracer, wallS: Double, cores: Int): Seq[(String, Double)] = {
    val stageSpans = tr.spanList.filter(_.layer == "spark.stage")
    val stages = tr.stages.values.filter(_._1 != null).toSeq
    val busy = tr.union(stageSpans.map(s => (s.start, s.end))) / 1000
    val taskS = stages.map(_._2.taskMs).sum / 1000.0
    def mb(f: StageAgg => Long) = stages.map(s => f(s._2)).sum / MB
    Seq(
      "spark.stages.jobs" -> tr.spanList.count(_.layer == "spark.job").toDouble,
      "spark.stages.stages" -> stages.size.toDouble,
      "spark.stages.tasks" -> stages.map(_._2.tasks).sum.toDouble,
      "spark.stages.busy_s" -> busy,
      "spark.stages.off_stage_s" -> (wallS - busy),
      "spark.stages.task_s" -> taskS,
      "spark.stages.parallel_eff" -> (if (busy > 0) taskS / (busy * cores) else 0.0),
      "spark.stages.one_task_stage_s" -> stageSpans.filter(_.name.endsWith("(1 tasks)")).map(_.dur).sum / 1000,
      "spark.stages.max_task_share" ->
        (if (taskS > 0) stages.map(_._2.maxTaskMs).sum / 1000.0 / taskS else 0.0),
      "spark.stages.shuffle_write_mb" -> mb(_.shuffleWrite),
      "spark.stages.shuffle_read_mb" -> mb(_.shuffleRead),
      "spark.stages.spill_mb" -> mb(_.spill),
      "spark.stages.input_mb" -> mb(_.inputBytes),
      "spark.stages.gc_s" -> stages.map(_._2.gcMs).sum / 1000.0)
  }
}
