package graft.operators

import graft.SparkSpec
import graft.testutil.SourceScan
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The one materialization mechanism: every checkpoint goes through
  * [[Materialize]], its job carries the step's name, and a release
  * frees only the checkpoint it is given. */
class MaterializeSpec extends SparkSpec {

  test("no code outside Materialize checkpoints or releases a frame directly") {
    val call = """(?<!def )\b(localCheckpoint|checkpointRdd)\(""".r
    val files = SourceScan.scalaFiles("src/main/scala")
    // code lines only: scaladoc/comment lines and trailing comments
    // may name the primitive
    val calls = files.filter(_.getName != "Materialize.scala").flatMap { f =>
      SourceScan.codeLines(f).zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined => s"${f.getName}:${i + 1}"
      }
    }
    // The one exemption: Bench's calib_io_sec probe times the raw
    // localCheckpoint primitive itself (a block-manager write and
    // read-back of one table) as a machine-speed calibration, so it must
    // not carry the job-description bookkeeping the engine's
    // materializations do.
    val (bench, rest) = calls.partition(_.startsWith("Bench.scala:"))
    assert(rest.isEmpty, s"raw checkpoint/release calls outside Materialize: $rest")
    assert(bench.size == 1, bench)
    assert(files.exists(_.getName == "Materialize.scala"))
  }

  test("the materialization job carries the step's name; the caller's description and " +
    "job group come back, also when the body throws") {
    val sc = spark.sparkContext
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          .getOrElse("")
        jobs.add((e.jobId, prop("spark.job.description"), prop("spark.jobGroup.id")))
      }
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("outer-group", "outer description")
    try {
      val df = spark.range(0, 200, 1, 4).toDF("id")
        .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
      val cp = Materialize(df, "MaterializeSpec.test: counts")
      ListenerBus.drain(sc)
      assert(!jobs.isEmpty)
      jobs.forEach(j => assert(j._2 == "MaterializeSpec.test: counts" &&
        j._3 == "outer-group", jobs))
      assert(sc.getLocalProperty("spark.job.description") == "outer description")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer-group")
      assert(cp.count() == 7)

      val e = intercept[IllegalStateException] {
        Materialize.named(spark, "MaterializeSpec.test: throws") {
          assert(sc.getLocalProperty("spark.job.description") == "MaterializeSpec.test: throws")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(sc.getLocalProperty("spark.job.description") == "outer description")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer-group")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // no description before: none after
    Materialize.named(spark, "MaterializeSpec.test: unset")(())
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("release frees a checkpoint but not one that a derived frame reads") {
    val sc = spark.sparkContext
    val cp = Materialize(spark.range(0, 100, 1, 4).toDF("id")
      .withColumn("v", col("id") % 5), "MaterializeSpec.test: release")
    val id = cp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case p => fail(s"not a checkpoint: $p")
    }
    def cached = sc.getRDDStorageInfo.find(_.id == id).map(_.numCachedPartitions)
    assert(cached.contains(4))
    val derived = cp.select(col("v")).distinct()
    Materialize.release(derived)
    assert(cached.contains(4))
    // readable: lineage is truncated, so a freed block would fail here
    assert(cp.count() == 100)
    assert(derived.count() == 5)

    Materialize.release(cp)
    assert(!sc.getPersistentRDDs.contains(id))
    eventually(timeout(30.seconds), interval(200.millis)) {
      intercept[Exception](cp.count())
    }
  }

  /** The WARN-or-worse messages loggers under `org.apache.spark.rdd`
    * log while `body` runs (the suite's session logs at ERROR, so the
    * level is WARN meanwhile). */
  private def rddWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "org.apache.spark.rdd"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("MaterializeSpec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val prev = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.WARN)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration.getLoggerConfig(name)
    conf.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      conf.removeAppender(appender.getName)
      Configurator.setLevel(name, prev)
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("a release logs no WARN and frees the blocks; the RDD carries the step's name") {
    val sc = spark.sparkContext
    def checkpoint(step: String) = {
      val cp = Materialize(spark.range(0, 100, 1, 4).toDF("id"), step)
      val rdd = org.apache.spark.sql.graftbridge.checkpointRdd(cp).get
      assert(org.apache.spark.sql.graftbridge.Blocks.ofRdd(sc, rdd.id).size == 4)
      (cp, rdd)
    }
    val (cp, rdd) = checkpoint("MaterializeSpec.test: quiet")
    assert(rdd.name == "MaterializeSpec.test: quiet")
    assert(rddWarnings(Materialize.release(cp)).isEmpty)
    assert(!sc.getPersistentRDDs.contains(rdd.id))
    eventually(timeout(30.seconds), interval(200.millis)) {
      assert(org.apache.spark.sql.graftbridge.Blocks.ofRdd(sc, rdd.id).isEmpty)
    }
    // the control: Spark's own unpersist warns, so the capture works
    val (_, loud) = checkpoint("MaterializeSpec.test: loud")
    val warned = rddWarnings(loud.unpersist(blocking = true))
    assert(warned.exists(_.contains("locally checkpointed")), warned)
  }

  test("every fixed-round loop (labelPropagate, pageRank, kCore, bradleyTerry, " +
    "markovStationary, rakingWeights) pins as many checkpoints after 6 rounds " +
    "as after 2: each round frees the one before") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 10L), (6L, 20L)).toDF("id", "label")
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val prefs = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"), ("B", "A"))
      .toDF("winner", "loser")
    val events = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (2L, 4L, "b"),
        (2L, 5L, "b"), (2L, 6L, "a"))
      .toDF("user_id", "event_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("event_id")))
    val cells = Seq(("r1", "c1"), ("r1", "c1"), ("r1", "c2"), ("r2", "c1"),
      ("r2", "c2"), ("r2", "c2")).toDF("lang", "source")
    // The checkpoints a call leaves pinned. getPersistentRDDs holds its
    // RDDs weakly, so a garbage collection could drop an unreleased round
    // and hide it: every persisted RDD is held strongly from the start of
    // the job that fills it, and only a release takes it out of the map.
    def pinned(build: => DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet
      val held = java.util.concurrent.ConcurrentHashMap
        .newKeySet[org.apache.spark.rdd.RDD[_]]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          sc.getPersistentRDDs.values.foreach(held.add)
      }
      ListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try {
        assert(build.collect().nonEmpty)
        ListenerBus.drain(sc)
      } finally sc.removeSparkListener(listener)
      held.toArray(Array.empty[org.apache.spark.rdd.RDD[_]])
        .count(r => !before(r.id) && sc.getPersistentRDDs.contains(r.id))
    }
    Seq[(String, Int => DataFrame)](
      "labelPropagate" -> (r => Graph.labelPropagate(edges, seeds, rounds = r)),
      "pageRank" -> (r => Graph.pageRank(edges, iters = r)),
      "kCore" -> (r => Graph.kCore(und, k = 3, rounds = r)),
      "bradleyTerry" -> (r => Preferences.bradleyTerry(prefs, rounds = r)),
      "markovStationary" -> (r => Sequences.markovStationary(events, iters = r)),
      "rakingWeights" -> (r => Profile.rakingWeights(cells, iterations = r))
    ).foreach { case (name, run) =>
      val at2 = pinned(run(2))
      val at6 = pinned(run(6))
      assert(at2 > 0 && at2 == at6, s"$name: $at2 pinned after 2 rounds, $at6 after 6")
    }
  }

  test("ensureParallelism is a no-op on an input with defaultParallelism splits " +
    "and spreads a single-split one") {
    val want = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-splits").toString
    try {
      spark.range(0, 400, 1, want).toDF("doc_id").write.mode("overwrite").parquet(dir)
      val wide = spark.read.parquet(dir)
      assert(wide.rdd.getNumPartitions >= want)
      assert(Materialize.ensureParallelism(wide) eq wide)
      val narrow = wide.coalesce(1)
      val spread = Materialize.ensureParallelism(narrow)
      assert(spread.rdd.getNumPartitions == want)
      assert(spread.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
