package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Listeners
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Per-stage task aggregates, filled from task-end events. */
final class StageAgg {
  var tasks = 0; var taskMs = 0L; var maxTaskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var gcMs = 0L
}

/** Spans recorded around the benchmark's calls into each layer, plus the
  * Spark job and stage spans a listener reports. Every call runs under a
  * job group naming its span, so each job gets the call that caused it
  * as its parent and each stage the job that ran it. Everything is kept
  * in memory and written once when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.LinkedHashMap.empty[Int, (StageInfo, StageAgg)]
  val planning = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private def newSpan(parent: Int, layer: String, name: String, start: Double): Span =
    synchronized {
      nextId += 1
      val s = Span(nextId, parent, layer, name, start, start)
      spans += s
      s
    }

  /** Time `body` as a span of `layer`; jobs it starts are its children. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val s = newSpan(open.headOption.getOrElse(0), layer, name, now())
    open.push(s.id)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"pb:${s.id}", name)
    try body
    finally {
      s.end = now()
      open.pop()
      if (prevGroup == null) sc.clearJobGroup() else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val parent = Option(group).filter(_.startsWith("pb:")).flatMap(_.drop(3).toIntOption).getOrElse(0)
      // named after the call site of its result stage, e.g. "localCheckpoint at Dedup.scala:38"
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(" " + _.name).getOrElse("")
      val s = newSpan(parent, "spark.job", s"job ${e.jobId}$site", e.time.toDouble)
      jobSpan(e.jobId) = s.id
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, s.id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach(id => spans(id - 1).end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val agg = stages.getOrElseUpdate(e.stageId, (null, new StageAgg))._2
      val ms = e.taskInfo.duration
      agg.tasks += 1; agg.taskMs += ms; agg.maxTaskMs = math.max(agg.maxTaskMs, ms)
      Option(e.taskMetrics).foreach { m =>
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.diskBytesSpilled
        agg.inputBytes += m.inputMetrics.bytesRead
        agg.gcMs += m.jvmGCTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val agg = stages.get(si.stageId).map(_._2).getOrElse(new StageAgg)
      stages(si.stageId) = (si, agg)
      for (a <- si.submissionTime; b <- si.completionTime) {
        val s = newSpan(stageJob.getOrElse(si.stageId, 0), "spark.stage",
          s"stage ${si.stageId} (${si.numTasks} tasks)", a.toDouble)
        s.end = b.toDouble
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, p) => planning(phase) += p.durationMs / 1000.0 }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop listening once every event posted so far has been seen. */
  def stop(): Unit = {
    Listeners.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spanList: Seq[Span] = synchronized(spans.toVector)

  /** Jobs started directly under a span of `layer`. */
  def jobsUnder(layer: String): Int = {
    val all = spanList
    val layerOf = all.map(s => s.id -> s.layer).toMap
    all.count(s => s.layer == "spark.job" && layerOf.get(s.parent).contains(layer))
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children. */
  def selfTimeByLayer(): Map[String, Double] = synchronized {
    val all = spanList
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(i => i._2 > i._1))
      s.layer -> math.max(0.0, s.dur - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def spansJsonLines(): Iterator[String] = synchronized {
    spanList.iterator.map(s => Json(mutable.LinkedHashMap(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)))
  }

  /** Summed length of the union of intervals. */
  private[perfbench] def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) { if (!curS.isNaN) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
