package graft
import graft.sources.Http.jsonStr
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-17 hardening (VERDICT r16 item 1 — the r16 gate artifact came
  * back empty, most plausibly a blown driver window at 313 queries):
  *  - `oracle_sql.json` is written FIRST, before any dump, so a
  *    timeout/kill mid-run still leaves the full oracle set beside
  *    whatever dumped — evidence survives partial runs (the reference
  *    writes its run ledger even on failure,
  *    publish_to_catalog.py:605-608);
  *  - dumps run on a small thread pool (queries are independent
  *    Spark jobs; the local scheduler interleaves their stages), which
  *    cut the sf0.01 wall from 6m24s serial to the measured parallel
  *    figure in SCALE.md §24;
  *  - per-query status is APPENDED to `_progress.jsonl` the moment a
  *    dump lands (ok/err + seconds), and `_errors.json` is rewritten
  *    after every failure, not only at exit. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev knob (unset in driver runs): SPARK_GRAFT_ONLY=<regex|substr>
    // dumps only matching queries — iteration on one query shouldn't
    // re-dump all of them. Same selector as Bench, and an empty
    // selection is refused instead of silently dumping nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.queries
      .filter { case (name, _) => SparkEntry.selects(only, name) }
    require(selected.nonEmpty,
      s"SPARK_GRAFT_ONLY=${only.getOrElse("")} matches no queries")
    // JSON string escape (jsonStr): backslash, quote, and ALL control
    // chars (<0x20) — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    // oracle set FIRST — a partial run must still be comparable — and
    // AGAIN after the dumps: dynamic oracles (x22 embeds its trained
    // centroids) only exist once their query ran in this JVM, so the
    // final rewrite completes what the early kill-resilient write
    // cannot contain yet
    def writeOracles(): Unit = {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
    writeOracles()
    // Per-query fault isolation, but NOT silent: every failure is recorded
    // in _errors.json (name → exception message). Round 8 showed why — 12
    // broken queries simply vanished from the correctness set and the
    // driver's JSON read as 117/117 green. An always-written artifact
    // (empty object when clean) makes a regression show as `err`, not as a
    // smaller denominator.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val progress = Paths.get(s"$outDir/_progress.jsonl")
    Files.writeString(progress, "")
    // Synchronized on the same monitor as record(): two pool workers
    // failing simultaneously must not interleave the truncate+write of
    // _errors.json (a half-written file is unreadable JSON — exactly the
    // partial-run window this artifact exists to keep readable). Write
    // to a temp file and atomically rename so even a kill mid-flush
    // leaves the previous complete version in place.
    def flushErrors(): Unit = synchronized {
      import scala.jdk.CollectionConverters._
      val errJson = errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
      val tmp = Paths.get(s"$outDir/_errors.json.tmp")
      Files.writeString(tmp, errJson)
      Files.move(tmp, Paths.get(s"$outDir/_errors.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    flushErrors() // exists-from-the-start, like the progress log
    // Locale.ROOT: the f-interpolator formats with the JVM default
    // locale — under a comma-decimal locale {"sec": 1,234} is invalid
    // JSONL for any consumer of _progress.jsonl.
    def record(name: String, status: String, sec: Double): Unit =
      synchronized {
        val secStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))
        Files.writeString(progress,
          s"""{"q": ${jsonStr(name)}, "status": ${jsonStr(status)}, "sec": $secStr}""" + "\n",
          StandardOpenOption.APPEND)
      }
    // Dump in parallel: each query is an independent job; the local
    // scheduler interleaves stages across the pool, overlapping one
    // query's planning/IO with another's compute. Pool size caps the
    // concurrent memory footprint (heaviest queries hold checkpoint
    // blocks); 6 measured best on local[16] at sf0.01.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    import scala.jdk.CollectionConverters._
    val tasks = selected.toSeq.map { case (name, fn) =>
      new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            record(name, "ok", (System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            errors.put(name, msg.take(2000))
            System.err.println(s"[verify] $name failed: $msg")
            flushErrors()
            record(name, "err", (System.nanoTime() - t0) / 1e9)
          }
        }
      }
    }
    pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    pool.shutdown()
    flushErrors()
    writeOracles() // now including dynamic (post-run) oracle entries
    if (!errors.isEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keySet.asScala.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
