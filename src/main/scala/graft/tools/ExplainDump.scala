package graft.tools

/** Dump `.explain("formatted")` for a set of declared queries to
  * files — the before/after plan evidence the optimization rounds
  * commit under plans/rNN/. Usage:
  * `sbt "runMain graft.tools.ExplainDump <outDir> <suffix> <regex-or-substring>"`
  * (e.g. `runMain graft.tools.ExplainDump plans/r18 before 'x209.*|x212.*'`).
  * SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1 — plan shapes,
  * not timings, so a busy machine is fine); SPARK_GRAFT_CPUS the core
  * count, on Bench's session and default, so the dumped plans are the
  * plans Bench times.
  *
  * The dump is self-contained for checkpoint-terminated queries: a
  * QueryExecutionListener captures the plan of every action that runs
  * while the query is being BUILT (each eager checkpoint, head and
  * collect fires one), and they are appended to the same file under
  * `== Construction plan N ==` headers. The final plan of such a query
  * is just a checkpoint scan; the construction section is where the
  * actual shape (exchanges, joins, kernels) lives. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r18")
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2) Some(args(2)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val captured =
      scala.collection.mutable.Buffer.empty[(String, String)]
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = captured.synchronized {
          captured += ((funcName, qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => graft.SparkEntry.selects(only, n) }
      .foreach { case (name, fn) =>
        try {
          captured.synchronized(captured.clear())
          val df = fn(spark, sfDir)
          // the listener fires asynchronously (ExecutionListenerBus);
          // give it a beat to drain before reading — a dev tool, so a
          // bounded sleep beats reaching into private[spark] APIs
          Thread.sleep(500)
          val sb = new StringBuilder
          sb ++= df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          captured.synchronized {
            captured.zipWithIndex.foreach { case ((fnName, plan), idx) =>
              sb ++= s"\n\n== Construction plan ${idx + 1} ($fnName) ==\n"
              sb ++= plan
            }
          }
          java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
            sb.toString.getBytes("UTF-8"))
          println(s"[explain] $name -> $outDir/${name}_$suffix.txt")
        } catch { case e: Throwable =>
          println(s"[explain] $name FAILED: ${e.toString.take(200)}")
        }
      }
    spark.stop()
  }
}
