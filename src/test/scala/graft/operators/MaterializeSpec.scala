package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The one materialization mechanism: every checkpoint goes through
  * [[Materialize]], its job carries the step's name, and a release
  * frees only the checkpoint it is given. */
class MaterializeSpec extends SparkSpec {

  test("no code outside Materialize checkpoints or releases a frame directly") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val call = """(?<!def )\b(localCheckpoint|unpersistCheckpoint)\(""".r
    val files = org.apache.commons.io.FileUtils
      .listFiles(root, Array("scala"), true).toArray(Array.empty[java.io.File])
    // code lines only: scaladoc/comment lines and trailing comments
    // may name the primitive
    def code(line: String) = line.trim match {
      case t if t.startsWith("*") || t.startsWith("/*") => ""
      case t => t.split("//", 2)(0)
    }
    val calls = files.toSeq.filter(_.getName != "Materialize.scala").flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
      lines.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(code(line)).isDefined => s"${f.getName}:${i + 1}"
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
