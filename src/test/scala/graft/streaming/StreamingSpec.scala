package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("mergeSink: micro-batch keyed upsert with last-wins across batches") {
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("merge_target").toFile
    val target = new java.io.File(dir, "t").getPath
    val ckpt = new java.io.File(dir, "c").getPath

    val in = MemoryStream[(String, String, Long)]
    val stream = in.toDF().toDF("k", "v", "ts")

    in.addData(("a", "v1", 1L), ("b", "v1", 1L), ("a", "v2", 2L)) // in-batch last-wins
    val q1 = Streaming.mergeSink(stream, "k", "ts", target, ckpt)
    q1.awaitTermination()
    def current = graft.sources.SnapshotStore.read(spark, target)
      .select("k", "v").as[(String, String)].collect().toMap
    assert(current == Map("a" -> "v2", "b" -> "v1"))
    assert(graft.sources.SnapshotStore.currentVersion(spark, target) == Some(1L))

    in.addData(("b", "v9", 3L), ("c", "v1", 3L)) // cross-batch upsert
    val q2 = Streaming.mergeSink(stream, "k", "ts", target, ckpt)
    q2.awaitTermination()
    assert(current == Map("a" -> "v2", "b" -> "v9", "c" -> "v1"))
    // each batch published a fresh snapshot; the first one is intact
    // (a reader holding it mid-merge would have kept a consistent view)
    assert(graft.sources.SnapshotStore.currentVersion(spark, target) == Some(2L))
    val v1 = spark.read.parquet(new java.io.File(target, "snap-00000001").getPath)
      .select("k", "v").as[(String, String)].collect().toMap
    assert(v1 == Map("a" -> "v2", "b" -> "v1"))
  }

  test("ingestDedupSink: near-dups dropped within batch and against the standing corpus") {
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_dedup").toFile
    val corpus = new java.io.File(dir, "corpus").getPath
    val ckpt = new java.io.File(dir, "c").getPath

    // ≥20 tokens so the word-3-gram sketches are dense; near-dup =
    // one-token edit (J ≈ 0.85, far above the 0.5 gate)
    val baseA = "alpha " + (1 to 20).map(i => s"tok$i").mkString(" ")
    val baseB = "beta " + (1 to 20).map(i => s"word$i").mkString(" ")
    val baseC = "gamma " + (1 to 20).map(i => s"item$i").mkString(" ")
    val nearB = baseB.replace("word20", "edited")
    val nearA = baseA.replace("tok20", "edited")

    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")

    // batch 1: A and B distinct; B' is an in-batch near-dup of B
    in.addData((1L, baseA), (2L, baseB), (3L, nearB))
    Streaming.ingestDedupSink(stream, corpus, ckpt).awaitTermination()
    val r1 = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(r1 == Set(1L, 2L), s"batch 1 survivors: $r1")

    // batch 2: C is new; A' near-dups the CORPUS copy of A from batch 1
    in.addData((4L, baseC), (5L, nearA))
    Streaming.ingestDedupSink(stream, corpus, ckpt).awaitTermination()
    val r2 = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(r2 == Set(1L, 2L, 4L), s"batch 2 corpus: $r2")

    // re-ingesting an already-landed text is content-idempotent:
    // the doc is an exact dup (J = 1) of its corpus copy and drops
    in.addData((6L, baseC))
    Streaming.ingestDedupSink(stream, corpus, ckpt).awaitTermination()
    val r3 = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(r3 == Set(1L, 2L, 4L), s"batch 3 corpus: $r3")

    // every landed doc carries its persisted sketch
    val sketches = spark.read.parquet(corpus)
      .select(col("doc_id"), col(Streaming.SketchColumn))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sketches.keySet == Set(1L, 2L, 4L) && sketches.values.forall(_.nonEmpty))

    // the per-batch corpus read touches only (id, sketch): the scan's
    // ReadSchema must not contain the text column
    val scan = Streaming.corpusSketches(spark, corpus, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && !scan.contains("text:string"), scan)
  }

  test("ingestDedupSink: legacy corpus without the sketch column is re-sketched, not crashed") {
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_legacy").toFile
    val corpus = new java.io.File(dir, "corpus").getPath
    val ckpt = new java.io.File(dir, "c").getPath
    val baseA = "alpha " + (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearA = baseA.replace("tok20", "edited")

    // a pre-sketch-column corpus: plain (doc_id, text) parquet
    Seq((1L, baseA)).toDF("doc_id", "text").write.parquet(corpus)

    val in = MemoryStream[(Long, String)]
    in.addData((2L, nearA))
    Streaming.ingestDedupSink(in.toDF().toDF("doc_id", "text"), corpus, ckpt)
      .awaitTermination()
    // nearA IS caught against the legacy corpus (fallback re-sketches
    // the text with the sink's ngram) instead of AnalysisException
    val r = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(r == Set(1L), s"legacy-corpus near-dup must be screened: $r")
  }

  test("ingestDedupSink: an ngram-mismatched corpus fails loudly, not silently admits dups") {
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_ngram_guard").toFile
    val corpus = new java.io.File(dir, "corpus").getPath
    val baseA = "alpha " + (1 to 20).map(i => s"tok$i").mkString(" ")

    val in = MemoryStream[(Long, String)]
    in.addData((1L, baseA))
    Streaming.ingestDedupSink(in.toDF().toDF("doc_id", "text"), corpus,
      new java.io.File(dir, "c1").getPath, ngram = 3).awaitTermination()

    // same corpus, different n-gram width: the persisted 3-gram hashes
    // can never collide with 4-gram incoming hashes — must refuse
    val in2 = MemoryStream[(Long, String)]
    in2.addData((2L, baseA))
    val q = Streaming.ingestDedupSink(in2.toDF().toDF("doc_id", "text"), corpus,
      new java.io.File(dir, "c2").getPath, ngram = 4)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(err.getMessage.contains("ngram"), err.getMessage)
  }

  test("ingestDedupSink screens against the persisted sketch, never re-tokenized text") {
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_sketch_auth").toFile
    val corpus = new java.io.File(dir, "corpus").getPath
    val ckpt = new java.io.File(dir, "c").getPath
    val baseA = "alpha " + (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearA = baseA.replace("tok20", "edited")

    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    in.addData((1L, baseA))
    Streaming.ingestDedupSink(stream, corpus, ckpt).awaitTermination()

    // corrupt the PERSISTED SKETCH (keep the text intact): if the sink
    // consulted corpus text, nearA would still be caught as a near-dup;
    // if it trusts the sketch — the zero-re-tokenization contract —
    // the junk sketch collides with nothing and nearA lands
    val rows = spark.read.parquet(corpus).collect()
    assert(rows.length == 1)
    val junk = Seq((1L, baseA, Seq(999999999L)))
      .toDF("doc_id", "text", Streaming.SketchColumn)
    junk.write.mode("overwrite").parquet(corpus)

    in.addData((2L, nearA))
    Streaming.ingestDedupSink(stream, corpus, ckpt).awaitTermination()
    val r = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(r == Set(1L, 2L),
      s"nearA must land when only the sketch (not the text) is authoritative: $r")
  }

  test("streamingExactDedup: duplicate keys dropped, state expires past the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val deduped = Streaming.streamingExactDedup(
      in.toDF().toDF("ts", "content_hash", "payload"), "ts", "10 minutes", "content_hash")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()

    in.addData(
      (ts("2024-01-01 10:00:00"), "h1", "a"),
      (ts("2024-01-01 10:00:10"), "h1", "a-dup"),   // in-batch dup
      (ts("2024-01-01 10:00:20"), "h2", "b"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 10:01:00"), "h1", "a-dup2")) // cross-batch dup
    q.processAllAvailable()
    // advance the watermark far past h1's state, then re-send h1: the
    // key's dedup state has expired, so the row passes (bounded state)
    in.addData((ts("2024-01-01 11:00:00"), "h3", "c"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 11:00:30"), "h1", "a-again"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_out").select("content_hash", "payload")
      .as[(String, String)].collect().toSet
    assert(out == Set(("h1", "a"), ("h2", "b"), ("h3", "c"), ("h1", "a-again")), out)
  }

  test("windowedCounts: tumbling windows close and late data is dropped") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.windowedCounts(
      in.toDF().toDF("ts", "event_type", "value"), "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()

    in.addData((ts("2024-01-01 10:00:30"), "click", 1.0),
               (ts("2024-01-01 10:01:00"), "click", 2.0))
    q.processAllAvailable()
    // advance event time far enough to close the 10:00 window past the watermark
    in.addData((ts("2024-01-01 10:30:00"), "view", 1.0))
    q.processAllAvailable()
    // late row inside the closed window: must be dropped
    in.addData((ts("2024-01-01 10:01:30"), "click", 99.0))
    q.processAllAvailable()
    // advance again so anything incorrectly accepted would emit
    in.addData((ts("2024-01-01 11:00:00"), "view", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_out")
      .select(col("win.start").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(rows.contains(("2024-01-01 10:00:00", "click", 2L))) // late 99.0 not counted
    assert(!rows.exists(r => r._1 == "2024-01-01 10:00:00" && r._3 == 3L))
  }

  test("sessionCounts: session_window merges events within the gap") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = Streaming.sessionCounts(
      in.toDF().toDF("ts", "user_id"), "ts", "10 minutes", gap = "30 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:20:00"), 1L), // one session
      (ts("2024-01-01 12:00:00"), 1L)) // > 30 min gap → new session
    q.processAllAvailable()
    in.addData((ts("2024-01-01 15:00:00"), 2L)) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select(col("user_id"), col("n"), col("win.start").cast("string"))
      .as[(Long, Long, String)].collect().toSet
    assert(rows.contains((1L, 2L, "2024-01-01 10:00:00"))) // merged pair
    assert(rows.contains((1L, 1L, "2024-01-01 12:00:00"))) // separate session
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionizeWithState: batch boundaries never split sessions; " +
    "in-batch disorder cannot either; a session emits exactly once") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.SessionEvent]
      val out = Streaming.sessionizeWithState(in.toDS(), gapSec = 3600)
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("tws_out").start()
      // batch 1 arrives OUT of order; both events are one open session
      in.addData(Streaming.SessionEvent(1L, 2L, 1000L),
        Streaming.SessionEvent(1L, 1L, 0L))
      q.processAllAvailable()
      assert(spark.table("tws_out").count() == 0) // open tail stays in state
      // batch 2: t=4000 CONTINUES the session across the batch boundary
      // (gap vs end 1000 is 3000 < 3600); t=99999 then closes it
      in.addData(Streaming.SessionEvent(1L, 3L, 4000L),
        Streaming.SessionEvent(1L, 4L, 99999L))
      q.processAllAvailable()
      assert(spark.table("tws_out").as[Streaming.SessionOut].collect().toSeq ==
        Seq(Streaming.SessionOut(1L, 1L, 3L, 0L, 4000L, closed = true)))
      // sentinel drain closes the tail; session 1 is NOT re-emitted
      in.addData(Streaming.SessionEvent(1L, 5L, 10000000L))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("tws_out").as[Streaming.SessionOut].collect().toSet ==
        Set(Streaming.SessionOut(1L, 1L, 3L, 0L, 4000L, closed = true),
          Streaming.SessionOut(1L, 2L, 1L, 99999L, 99999L, closed = true)))
    }
  }

  test("sessionizeWithState matches the batch lag/cumsum sessionization on the fixture") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      import org.apache.spark.sql.expressions.Window
      // same truncated-seconds frame for both sides: the streamed twin
      // is pinned to the Q22 SEMANTICS (gap > 3600 s, (ts, event_id)
      // order), not to sub-second timestamp detail the long ts drops
      val ev = graft.Tables.load(spark, sf001, "events")
        .select(col("user_id"), col("event_id"), col("ts").cast("long").as("ts"))
        .as[Streaming.SessionEvent].collect().toSeq
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val expected = ev.toDS()
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("ts") > col("prev") + 3600, 1).otherwise(0))
        .withColumn("session_id", sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("start_ts"), max("ts").as("end_ts"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet

      val in = MemoryStream[Streaming.SessionEvent]
      val q = Streaming.sessionizeWithState(in.toDS(), gapSec = 3600)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_parity").start()
      in.addData(ev)
      q.processAllAvailable()
      // one sentinel per user, far past every real event, drains tails;
      // the sentinel's own session stays open and is never emitted
      val maxTs = ev.map(_.ts).max
      in.addData(ev.map(_.user_id).distinct.map(u =>
        Streaming.SessionEvent(u, Long.MaxValue, maxTs + 1000000L)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_parity").as[Streaming.SessionOut].collect()
        .map(s => (s.user_id, s.session_id, s.n_events, s.start_ts, s.end_ts)).toSet
      assert(got == expected)
    }
  }

  test("transcriptsWithState matches batch sessionTranscripts on the fixture") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      // truncated-seconds frame for both sides (same contract as the
      // sessionizeWithState parity pin); value → exact integer cents
      val evDf = graft.Tables.load(spark, sf001, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts"), col("event_type"),
          round(col("value") * 100).cast("long").as("v_cents"))
      val ev = evDf.as[Streaming.TranscriptEvent].collect().toSeq

      val expected = graft.operators.Sequences.sessionTranscripts(
          evDf.withColumn("ts", col("ts").cast("timestamp"))
            .withColumn("value", col("v_cents").cast("double") / 100.0))
        .select(col("user_id"), col("session_id"), col("n"), col("path"),
          round(col("v") * 100).cast("long").as("v_cents"))
        .as[(Long, Long, Long, String, Long)].collect().toSet

      val in = MemoryStream[Streaming.TranscriptEvent]
      val q = Streaming.transcriptsWithState(in.toDS(), gapSec = 3600)
        .writeStream.outputMode("append")
        .format("memory").queryName("transcript_parity").start()
      in.addData(ev)
      q.processAllAvailable()
      val maxTs = ev.map(_.ts).max
      in.addData(ev.map(_.user_id).distinct.map(u =>
        Streaming.TranscriptEvent(u, Long.MaxValue, maxTs + 1000000L, "_drain", 0L)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("transcript_parity").as[Streaming.TranscriptOut]
        .collect().map(s => (s.user_id, s.session_id, s.n, s.path, s.v_cents)).toSet
      assert(got == expected)
    }
  }

  test("pathMiningWithState matches batch eventPathMining trigrams on " +
      "the fixture, split across batches mid-user") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val evDf = graft.Tables.load(spark, sf001, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts"), col("event_type"))
      val ev = evDf.as[Streaming.PathEvent].collect().toSeq
        .sortBy(e => (e.user_id, e.ts, e.event_id))

      // batch truth: every trigram with multiplicity (support 1 keeps all)
      val expected = graft.operators.Sequences.eventPathMining(
          evDf.withColumn("ts", col("ts").cast("timestamp")), minSupport = 1L)
        .select(col("a"), col("b"), col("c"), col("n"))
        .as[(String, String, String, Long)].collect()
        .map(t => (t._1, t._2, t._3) -> t._4).toMap

      val in = MemoryStream[Streaming.PathEvent]
      val q = Streaming.pathMiningWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("paths_parity").start()
      // two batches split mid-stream: the per-user last-two state must
      // carry trigrams across the boundary (in-order per key)
      val (b1, b2) = ev.splitAt(ev.length / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      q.stop()
      val got = spark.table("paths_parity").as[Streaming.PathEmit].collect()
        .groupBy(e => (e.a, e.b, e.c)).view.mapValues(_.length.toLong).toMap
      assert(got == expected)
    }
  }

  test("monotonicityMonitorWithState matches the batch audit's inversion " +
      "counts on the fixture, split across batches mid-user") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val evDf = graft.Tables.load(spark, sf001, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts"), col("event_type"))
      val ev = evDf.as[Streaming.PathEvent].collect().toSeq
        .sortBy(e => (e.user_id, e.event_id))

      val expected = graft.operators.Sequences.monotonicityAudit(
          evDf.withColumn("ts", col("ts").cast("timestamp")))
        .select(col("user_id"), col("n_inversions"))
        .as[(Long, Long)].collect().toMap.filter(_._2 > 0)

      val in = MemoryStream[Streaming.PathEvent]
      val q = Streaming.monotonicityMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("mono_parity").start()
      val (b1, b2) = ev.splitAt(ev.length / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      q.stop()
      val got = spark.table("mono_parity").as[Streaming.MonoViolation]
        .collect().groupBy(_.user_id).view.mapValues(_.length.toLong).toMap
      assert(got == expected)
      // every violation row is a real regression: prev_ts > ts
      spark.table("mono_parity").as[Streaming.MonoViolation].collect()
        .foreach(v => assert(v.prev_ts > v.ts))
    }
  }

  test("fdMonitorWithState: cumulative violations match the batch FD " +
      "audit's distinct(A,B) − distinct(A) on the fixture, split mid-key") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val evDf = graft.Tables.load(spark, sf001, "events")
      // the x180 pair (user_id → event_type): dirty by construction —
      // users carry several event types, so violations are plentiful
      val maps = evDf
        .filter(col("user_id").isNotNull) // the batch audit's NULL-A rule
        .select(col("user_id").cast("string").as("det"),
          col("event_type").as("dep"))
        .as[Streaming.FdEvent].collect().toSeq.sortBy(e => (e.det, e.dep))
      val expected = graft.operators.Profile.functionalDependencyAudit(
          evDf, Seq("user_id" -> "event_type"))
        .select(col("violations")).as[Long].head()

      val in = MemoryStream[Streaming.FdEvent]
      val q = Streaming.fdMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("fd_parity").start()
      val (b1, b2) = maps.splitAt(maps.length / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      q.stop()
      val emitted = spark.table("fd_parity").as[Streaming.FdViolation].collect()
      assert(emitted.length.toLong == expected, s"${emitted.length} vs $expected")
      // every violation is a genuinely new mapping: (det, dep) unique,
      // and counts per det step 2, 3, ... (the first dep never emits)
      assert(emitted.map(v => (v.det, v.dep)).distinct.length == emitted.length)
      emitted.groupBy(_.det).foreach { case (_, vs) =>
        assert(vs.map(_.n_deps_seen).sorted.toSeq ==
          (2L to vs.length + 1L).toSeq)
      }
    }
  }

  test("fdMonitorWithState: past maxDeps the monitor flags conservatively " +
      "(n_deps_seen = −1) and state stays capped") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.FdEvent]
      val q = Streaming.fdMonitorWithState(in.toDS(), maxDeps = 2)
        .writeStream.outputMode("append")
        .format("memory").queryName("fd_cap").start()
      in.addData(Seq("b1", "b2", "b3", "b3", "b4").map(Streaming.FdEvent("a", _)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("fd_cap").as[Streaming.FdViolation].collect()
      // b1 stored silently, b2 stored + emitted (2), b3 saturates (−1)
      // TWICE (unstored repeats re-emit — over-approximation, never a
      // miss), b4 saturates (−1)
      assert(got.map(v => (v.dep, v.n_deps_seen)).sorted.toSeq ==
        Seq(("b2", 2L), ("b3", -1L), ("b3", -1L), ("b4", -1L)), got.mkString(","))
    }
  }

  test("riMonitorWithState: candidates − resolved = the batch audit's " +
      "n_orphans; one-batch replay reproduces it row-for-row") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      // break the customer→nation edge on purpose: parents above key
      // 14 vanish, so their customers are REAL orphans
      val nation = graft.Tables.load(spark, sf001, "nation")
        .filter(col("n_nationkey") < 15)
      val customer = graft.Tables.load(spark, sf001, "customer")
      val expected = graft.operators.Profile.referentialIntegrityAudit(
          Seq(("c", customer, "c_nationkey", nation, "n_nationkey")))
        .select(col("n_orphans")).as[Long].head()
      assert(expected > 0, "fixture must produce real orphans")

      val parents = nation.select(col("n_nationkey").cast("long"))
        .as[Long].collect().toSeq.sorted
        .map(k => Streaming.RiEvent("parent", k, k))
      val children = customer
        .select(col("c_nationkey").cast("long"), col("c_custkey").cast("long"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._2)
        .map { case (k, id) => Streaming.RiEvent("child", k, id) }

      // run 1 — whole table as ONE batch: parents register first, so
      // candidates == batch orphans exactly, zero resolutions
      val in1 = MemoryStream[Streaming.RiEvent]
      val q1 = Streaming.riMonitorWithState(in1.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("ri_one").start()
      in1.addData(parents ++ children); q1.processAllAvailable(); q1.stop()
      val one = spark.table("ri_one").as[Streaming.RiAlert].collect()
      assert(one.count(_.kind == "orphan_candidate").toLong == expected)
      assert(!one.exists(_.kind == "resolved"))

      // run 2 — children FIRST, parents in a later batch: every child
      // is a candidate at first, resolutions then claw back exactly
      // the difference vs the true orphan count
      val in2 = MemoryStream[Streaming.RiEvent]
      val q2 = Streaming.riMonitorWithState(in2.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("ri_two").start()
      in2.addData(children); q2.processAllAvailable()
      in2.addData(parents); q2.processAllAvailable()
      q2.stop()
      val two = spark.table("ri_two").as[Streaming.RiAlert].collect()
      val candidates = two.count(_.kind == "orphan_candidate").toLong
      val resolved = two.filter(_.kind == "resolved").map(_.pending_children).sum
      assert(candidates == children.length.toLong) // no parent seen yet
      assert(candidates - resolved == expected, s"$candidates - $resolved vs $expected")
      // per-key: resolved keys are exactly the surviving parents that
      // had children
      val resolvedKeys = two.filter(_.kind == "resolved").map(_.key).toSet
      val childKeys = children.map(_.key).toSet
      assert(resolvedKeys == parents.map(_.key).toSet.intersect(childKeys))
    }
  }

  test("oodMonitorWithState: one-batch replay reproduces the batch x191 " +
      "audit per label; a later drifted batch scores against history") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val emb = graft.Tables.load(spark, sf001, "embeddings")
      val expected = graft.operators.Similarity
        .oodAudit(emb, dim = 64, factorMilli = 1500L)
        .select(col("label"), col("n"), col("ood_milli_sum"),
          col("max_ood_milli"), col("flagged"))
        .as[(Int, Long, Option[Long], Option[Long], Long)]
        .collect().sortBy(_._1).toSeq
      val events = emb
        .select(col("label"), col("vec_id"), col("embedding"))
        .as[(Int, Long, Array[Float])].collect().toSeq.sortBy(_._2)
        .map { case (l, id, v) => Streaming.OodEvent(l, id, v) }

      val in = MemoryStream[Streaming.OodEvent]
      val q = Streaming.oodMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("ood_parity").start()
      in.addData(events); q.processAllAvailable()
      // batch 2: one wildly out-of-distribution vector per label 0 —
      // scored against the absorbed history, it must flag
      in.addData(Streaming.OodEvent(0, 999999L, Array.fill(64)(50.0f)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("ood_parity").as[Streaming.OodBatchStat].collect()
      val one = got.filter(_.n_batch > 1).sortBy(_.label)
      assert(one.map(s => (s.label, s.n_total, s.ood_milli_sum,
        s.max_ood_milli, s.flagged)).toSeq ==
        expected.map(e => (e._1, e._2, e._3, e._4, e._5)))
      val drift = got.find(s => s.n_batch == 1L && s.label == 0).get
      assert(drift.flagged == 1L, s"outlier must flag: $drift")
      assert(drift.n_total == expected.head._2 + 1)
    }
  }

  test("recallMonitorWithState: mid-stream split converges to the batch " +
      "x189 truncation audit per dim; early batches report live recall") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val emb = graft.Tables.load(spark, sf001, "embeddings")
      val dims = Seq(8, 16, 32, 64)
      // batch ground truth: x189's per-dim topk_hits over the corpus
      val expected = graft.testutil.Declared("x189")(spark, sf001)
        .select(col("dim"), col("topk_hits"))
        .as[(Long, Long)].collect().toMap
      // reference ranking = batch full-dim top-10 (the audit's ftk)
      val qdf = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val reference = graft.operators.Similarity
        .bruteForceTopK(emb, qdf, 10)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .as[(Long, Long, Int)].collect()
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(_._3).map(_._2).toSeq }
      val queries = qdf.as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      val vecs = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
        .map { case (id, v) => Streaming.VecIngest(id, v) }
      val (first, second) = vecs.splitAt(vecs.length / 2) // mid-stream split

      val in = MemoryStream[Streaming.VecIngest]
      val q = Streaming.recallMonitorWithState(
          Streaming.truncationCandidates(in.toDS(), queries, dims),
          k = 10, reference = reference)
        .writeStream.outputMode("append")
        .format("memory").queryName("recall_parity").start()
      in.addData(first); q.processAllAvailable()
      in.addData(second); q.processAllAvailable()
      q.stop()
      val got = spark.table("recall_parity").as[Streaming.RecallStat].collect()
      // the live read: first-batch rows exist with partial corpora
      assert(got.exists(_.n_seen < vecs.length.toLong))
      // final cumulative state per (query, dim) = the largest n_seen row
      val fin = got.groupBy(s => (s.query_id, s.dim))
        .map { case (_, ss) => ss.maxBy(_.n_seen) }.toSeq
      val hitsByDim = fin.groupBy(_.dim)
        .map { case (d, ss) => d.toLong -> ss.map(_.topk_hits).sum }
      assert(hitsByDim == expected,
        s"streamed cumulative hits $hitsByDim != batch audit $expected")
      // full-dim recall against its own reference is perfect
      assert(fin.filter(_.dim == 64).forall(_.recall_micro == 1000000L))
    }
  }

  test("transcriptsWithState: maxPathEvents caps the path, count and sum keep going") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.TranscriptEvent]
      val q = Streaming.transcriptsWithState(in.toDS(), gapSec = 10,
          maxPathEvents = 2)
        .writeStream.outputMode("append")
        .format("memory").queryName("transcript_cap").start()
      in.addData(
        Streaming.TranscriptEvent(1L, 1L, 100L, "a", 10L),
        Streaming.TranscriptEvent(1L, 2L, 101L, "b", 20L),
        Streaming.TranscriptEvent(1L, 3L, 102L, "c", 30L), // beyond cap: path frozen
        Streaming.TranscriptEvent(1L, 4L, 999L, "z", 0L))  // gap → closes session 1
      q.processAllAvailable()
      q.stop()
      val got = spark.table("transcript_cap").as[Streaming.TranscriptOut].collect()
      assert(got.length == 1)
      assert(got.head.path == "a->b" && got.head.n == 3L && got.head.v_cents == 60L)
    }
  }

  test("heavyHittersWithState: Misra-Gries fold across batches, k-bounded state, valid brackets") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.TokenEvent]
      val q = Streaming.heavyHittersWithState(in.toDS(), k = 2)
        .writeStream.outputMode("append")
        .format("memory").queryName("mg_out").start()
      // batch 1: a a b c → c triggers round 1 (a 2→1, b evicted); emit a [1,2]
      in.addData(Seq("a", "a", "b", "c").map(Streaming.TokenEvent(0, _)))
      q.processAllAvailable()
      // batch 2 resumes {a:1}, d=1: c in (1), c 2, b → round 2
      // (a evicted, c 2→1); emit c [1,3]
      in.addData(Seq("c", "c", "b").map(Streaming.TokenEvent(0, _)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("mg_out").as[Streaming.HeavyHitter].collect()
        .map(h => (h.shard, h.token, h.cnt_min, h.cnt_max)).sortBy(_.toString)
      assert(got.toSeq == Seq((0, "a", 1L, 2L), (0, "c", 1L, 3L)))
      // MG guarantees on the full 7-token stream: true c = 3 ∈ [1,3];
      // absent tokens (a true 2, b true 2) are ≤ d = 2
    }
  }

  test("heavyHittersWithState: a dominant token survives with a tight bracket") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.TokenEvent]
      val q = Streaming.heavyHittersWithState(in.toDS(), k = 2)
        .writeStream.outputMode("append")
        .format("memory").queryName("mg_dom").start()
      // z z z z a b z z: b triggers one round (z 4→3, a evicted), then z → 5
      in.addData(Seq("z", "z", "z", "z", "a", "b", "z", "z")
        .map(Streaming.TokenEvent(0, _)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("mg_dom").as[Streaming.HeavyHitter].collect()
      assert(got.length == 1)
      assert(got.head.token == "z" && got.head.cnt_min == 5L && got.head.cnt_max == 6L)
      // true z = 6: inside [5, 6]
    }
  }

  test("heavyHittersWithState: matches a reference Misra-Gries model on seeded random streams") {
    // driver-side reference fold of the SAME algorithm — the processor
    // must agree exactly (state round-trip through RocksDB included),
    // and the textbook bounds must hold against true counts
    def model(tokens: Seq[String], k: Int): (Map[String, Long], Long) = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var d = 0L
      tokens.foreach { t =>
        if (m.contains(t)) m(t) += 1
        else if (m.size < k) m(t) = 1L
        else {
          d += 1
          m.keys.toList.foreach { key =>
            if (m(key) == 1) m.remove(key) else m(key) -= 1 }
        }
      }
      (m.toMap, d)
    }
    withRocksDb {
      implicit val sc = spark.sqlContext
      for (seed <- Seq(5L, 6L)) {
        val rnd = new scala.util.Random(seed)
        // zipf-ish skew: token id = floor(20 / (1 + rnd*9)) gives a
        // heavy head — the regime MG is for
        val tokens = Seq.fill(300)("t" + (20 / (1 + rnd.nextInt(10))))
        val batches = tokens.grouped(100).toSeq
        val in = MemoryStream[Streaming.TokenEvent]
        val name = s"mg_prop_$seed"
        val q = Streaming.heavyHittersWithState(in.toDS(), k = 4)
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        var before = 0L
        batches.dropRight(1).foreach { b =>
          in.addData(b.map(Streaming.TokenEvent(0, _)))
          q.processAllAvailable()
        }
        before = spark.table(name).count()
        in.addData(batches.last.map(Streaming.TokenEvent(0, _)))
        q.processAllAvailable()
        q.stop()
        // the final batch's emission (rows beyond `before`) must equal
        // the model's final summary exactly
        val rows = spark.table(name).as[Streaming.HeavyHitter].collect()
        val finalRows = rows.drop(before.toInt).map(h => h.token -> h).toMap
        val (mm, d) = model(tokens, 4)
        assert(finalRows.keySet == mm.keySet, s"seed $seed keys differ")
        mm.foreach { case (t, c) =>
          val h = finalRows(t)
          assert(h.cnt_min == c && h.cnt_max == c + d,
            s"seed $seed token $t model ($c, ${c + d}) got $h")
        }
        // textbook guarantee vs true counts
        val truth = tokens.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
        truth.foreach { case (t, n) =>
          if (mm.contains(t)) assert(mm(t) <= n && n <= mm(t) + d, s"seed $seed $t")
          else assert(n <= d, s"seed $seed absent $t true $n > d $d")
        }
      }
    }
  }

  test("stratifiedSampleWithState: batch parity — the final emitted " +
      "sample per stratum equals Profile.stratifiedSample over the same " +
      "ids, regardless of batching and arrival order") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val ids = (1L to 120L).toVector
      val strat = (i: Long) => if (i % 2 == 0) "even" else "odd"
      // scrambled deterministic order + duplicates, split into 3 batches
      val scrambled = (ids ++ ids.take(30)).sortBy(i => (i * 7919) % 131)
      val batches = scrambled.grouped(50).toSeq
      val in = MemoryStream[Streaming.SampleEvent]
      val q = Streaming.stratifiedSampleWithState(in.toDS(), k = 8)
        .writeStream.outputMode("append")
        .format("memory").queryName("ssw_out").start()
      var before = 0L
      batches.dropRight(1).foreach { b =>
        in.addData(b.map(i => Streaming.SampleEvent(strat(i), i)))
        q.processAllAvailable()
      }
      before = spark.table("ssw_out").count()
      in.addData(batches.last.map(i => Streaming.SampleEvent(strat(i), i)))
      q.processAllAvailable()
      q.stop()
      // run-ledger: the final batch's emission is each stratum's
      // current sample — compare to the batch operator on the SET
      val last = spark.table("ssw_out").as[Streaming.SampleRow]
        .collect().drop(before.toInt)
        .map(r => (r.stratum, r.rank, r.id, r.sample_hash52)).sorted.toSeq
      val batch = graft.operators.Profile.stratifiedSample(
          ids.map(i => (i, strat(i))).toDF("id", "grp"), "id", "grp", k = 8)
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3, r._4)).sorted.toSeq
      assert(last == batch, s"\nstream: $last\nbatch:  $batch")
    }
  }

  test("weightedSampleWithState: batch parity — the final emitted sample " +
      "per stratum equals Profile.weightedSample over the same rows, " +
      "regardless of batching and arrival order; w <= 0 dropped") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val ids = (1L to 120L).toVector
      val strat = (i: Long) => if (i % 2 == 0) "even" else "odd"
      // deterministic skewed weights, a few non-positive rows mixed in
      val weight = (i: Long) =>
        if (i % 11 == 0) 0L else 1L + (i * 37) % 500
      val scrambled = (ids ++ ids.take(30)).sortBy(i => (i * 7919) % 131)
      val batches = scrambled.grouped(50).toSeq
      val in = MemoryStream[Streaming.WeightedEvent]
      val q = Streaming.weightedSampleWithState(in.toDS(), k = 8)
        .writeStream.outputMode("append")
        .format("memory").queryName("wsw_out").start()
      var before = 0L
      batches.dropRight(1).foreach { b =>
        in.addData(b.map(i => Streaming.WeightedEvent(strat(i), i, weight(i))))
        q.processAllAvailable()
      }
      before = spark.table("wsw_out").count()
      in.addData(batches.last.map(i =>
        Streaming.WeightedEvent(strat(i), i, weight(i))))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("wsw_out").as[Streaming.WeightedRow]
        .collect().drop(before.toInt)
        .map(r => (r.stratum, r.rank, r.id, r.key_micro)).sorted.toSeq
      val batch = graft.operators.Profile.weightedSample(
          ids.map(i => (i, strat(i), weight(i))).toDF("id", "grp", "w"),
          "id", "grp", "w", k = 8)
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3, r._4)).sorted.toSeq
      assert(last == batch, s"\nstream: $last\nbatch:  $batch")
    }
  }

  test("unicodeMonitorWithState: batch parity — cumulative per-source " +
      "counters equal TextAnalysis.unicodeAnomalies sums over the same docs") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      // the x261-style planted corpus, split across two batches
      val docsSeq = (1L to 40L).map { i =>
        val tail = "\u200B" * (i % 3).toInt +
          (if (i % 5 == 0) "\u202E" else "") +
          (if (i % 7 == 0) "\uFFFD" else "")
        Streaming.UnicodeDoc(if (i % 2 == 0) "sA" else "sB",
          i, s"doc number $i body$tail")
      }
      val in = MemoryStream[Streaming.UnicodeDoc]
      val q = Streaming.unicodeMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("uni_out").start()
      in.addData(docsSeq.take(25))
      q.processAllAvailable()
      in.addData(docsSeq.drop(25))
      q.processAllAvailable()
      q.stop()
      // last row per source = cumulative totals
      val rows = spark.table("uni_out").as[Streaming.UnicodeAlert].collect()
      val last = rows.groupBy(_.source).map { case (s, rs) =>
        s -> rs.maxBy(_.n_docs) }
      // batch twin over the SAME planted docs
      val batch = graft.operators.TextAnalysis.unicodeAnomalies(
          docsSeq.map(d => (d.source, d.doc_id, d.text))
            .toDF("source", "doc_id", "text"))
        .join(docsSeq.map(d => (d.doc_id, d.source)).toDF("doc_id", "source")
          .dropDuplicates("doc_id"), Seq("doc_id"))
      val agg = batch.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dirty"),
          sum(col("n_zero_width")).as("zw"), sum(col("n_bidi")).as("bd"),
          sum(col("n_replacement")).as("rp"), sum(col("n_ctrl")).as("ct"))
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      Seq("sA", "sB").foreach { s =>
        val l = last(s); val b = agg(s)
        assert((l.n_docs, l.n_dirty_docs, l.n_zero_width, l.n_bidi,
          l.n_replacement, l.n_ctrl) == ((b._2, b._3, b._4, b._5, b._6, b._7)),
          s"$s: $l vs $b")
      }
    }
  }

  test("nbMonitorWithState: batch parity — the final per-source report " +
      "equals TextAnalysis.nbSourceReport under the same frozen weights, " +
      "including a zero-token doc and an unseen-token doc") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val train = Seq(
        (1L, "sA", "en", "the cat sat"), (2L, "sA", "en", "the dog ran"),
        (3L, "sB", "fr", "le chat noir"), (4L, "sB", "fr", "le chien gris"),
        (5L, "sA", "en", "a cat and a dog"), (6L, "sB", "fr", "le gros chat"))
        .toDF("doc_id", "source", "lang", "text")
      val label = col("lang") === "en"
      val wdf = graft.operators.TextAnalysis.nbTrain(train, label)
      val wmap = wdf.as[(Long, Long)].collect().toMap
      val bias = wmap(-1L)
      val weights = wmap - (-1L)
      // the monitored stream: the training docs plus a zero-token doc
      // and a doc of tokens the model never saw (weight 0 features)
      val live = Seq(
        Streaming.NbDoc("sA", 1L, y = true, "the cat sat"),
        Streaming.NbDoc("sA", 2L, y = true, "the dog ran"),
        Streaming.NbDoc("sB", 3L, y = false, "le chat noir"),
        Streaming.NbDoc("sB", 4L, y = false, "le chien gris"),
        Streaming.NbDoc("sA", 7L, y = true, ""),
        Streaming.NbDoc("sB", 8L, y = false, "zzz qqq unseen"))
      val in = MemoryStream[Streaming.NbDoc]
      val q = Streaming.nbMonitorWithState(in.toDS(), weights, bias)
        .writeStream.outputMode("append")
        .format("memory").queryName("nb_out").start()
      in.addData(live.take(3))
      q.processAllAvailable()
      in.addData(live.drop(3))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("nb_out").as[Streaming.NbReport].collect()
      val last = rows.groupBy(_.source).map { case (s, rs) =>
        s -> rs.maxBy(_.n_docs) }
      // batch twin: same docs, same frozen weight table
      val liveDf = live.map(d => (d.doc_id, d.source,
          if (d.y) "en" else "fr", d.text))
        .toDF("doc_id", "source", "lang", "text")
      val batch = graft.operators.TextAnalysis.nbSourceReport(
          liveDf, col("lang") === "en", wdf)
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      Seq("sA", "sB").foreach { s =>
        val l = last(s); val b = batch(s)
        assert((l.n_docs, l.n_pred_pos, l.n_correct, l.avg_score_micro) ==
          ((b._2, b._3, b._4, b._5)), s"$s: $l vs $b")
      }
    }
  }

  test("sessionizeWithTimers: the watermark closes idle sessions via timers — no sentinel") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      def ets(sec: Long) = new Timestamp(sec * 1000L)
      val base = 1700000000L
      val in = MemoryStream[Streaming.TimedEvent]
      val q = Streaming.sessionizeWithTimers(in.toDS(), gapSec = 60,
          watermarkDelay = "0 seconds")
        .writeStream.outputMode("append")
        .format("memory").queryName("twt_out").start()
      // user 1: one session (two events inside the 60 s gap), then idle
      in.addData(Streaming.TimedEvent(1L, 1L, ets(base)),
        Streaming.TimedEvent(1L, 2L, ets(base + 30)))
      q.processAllAvailable()
      assert(spark.table("twt_out").count() == 0) // watermark still behind
      // an unrelated user far in the future drags the watermark past
      // base+30+60; the NEXT batch fires user 1's timer
      in.addData(Streaming.TimedEvent(99L, 3L, ets(base + 7200)))
      q.processAllAvailable()
      in.addData(Streaming.TimedEvent(99L, 4L, ets(base + 7201)))
      q.processAllAvailable()
      val got = spark.table("twt_out").as[Streaming.SessionOut].collect().toSet
      assert(got.contains(
        Streaming.SessionOut(1L, 1L, 2L, base, base + 30, closed = true)),
        s"timer did not close the idle session: $got")
      // user 99's own session must NOT have closed (watermark at its end)
      assert(!got.exists(s => s.user_id == 99L))
      // user 1 RETURNS after the timer close: numbering must continue
      // at 2, not restart at 1 (the counter outlives the cleared
      // session state) — close it against the far watermark and check
      in.addData(Streaming.TimedEvent(1L, 5L, ets(base + 7300)),
        Streaming.TimedEvent(1L, 6L, ets(base + 7500))) // > gap: closes 5's
      q.processAllAvailable()
      q.stop()
      val after = spark.table("twt_out").as[Streaming.SessionOut].collect().toSet
      assert(after.contains(
        Streaming.SessionOut(1L, 2L, 1L, base + 7300, base + 7300, closed = true)),
        s"returning user restarted session numbering: $after")
    }
  }

  test("intervalJoin: stream-stream attribution within the gap only") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long, Double)]
    val joined = Streaming.intervalJoin(
      clicks.toDF().toDF("ts", "user_id"),
      buys.toDF().toDF("ts", "user_id", "amount"),
      key = "user_id", leftTs = "ts", rightTs = "ts",
      watermark = "10 minutes", maxGap = "1 hour")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()

    clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
    buys.addData(
      (ts("2024-01-01 10:30:00"), 1L, 5.0),  // within the hour → match
      (ts("2024-01-01 12:00:00"), 2L, 7.0),  // 2h after the click → no match
      (ts("2024-01-01 09:59:00"), 1L, 9.0))  // before the click → no match
    q.processAllAvailable()
    // advance both watermarks so evictable state is flushed (distinct
    // keys — the probes must not match each other)
    clicks.addData((ts("2024-01-01 14:00:00"), 98L))
    buys.addData((ts("2024-01-01 14:00:00"), 99L, 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ij_out")
      .select(col("l_user_id"), col("r_amount"))
      .as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 5.0)), rows)
  }

  test("intervalJoin left_outer: unmatched clicks emit nulls after eviction") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long, Double)]
    val joined = Streaming.intervalJoin(
      clicks.toDF().toDF("ts", "user_id"),
      buys.toDF().toDF("ts", "user_id", "amount"),
      key = "user_id", leftTs = "ts", rightTs = "ts",
      watermark = "10 minutes", maxGap = "1 hour", joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_outer_out").start()

    clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
    buys.addData((ts("2024-01-01 10:30:00"), 1L, 5.0)) // user 1 converts; user 2 never
    q.processAllAvailable()
    // push both watermarks far past user 2's interval end so eviction
    // proves no match and the outer row emits
    clicks.addData((ts("2024-01-01 14:00:00"), 98L))
    buys.addData((ts("2024-01-01 14:00:00"), 99L, 0.0))
    q.processAllAvailable()
    clicks.addData((ts("2024-01-01 18:00:00"), 96L))
    buys.addData((ts("2024-01-01 18:00:00"), 97L, 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ij_outer_out")
      .select(col("l_user_id"), col("r_amount"))
      .as[(Long, Option[Double])].collect().toSet
    assert(rows.contains((1L, Some(5.0))), rows)   // matched within the hour
    assert(rows.contains((2L, None)), rows)        // unmatched → null after eviction
    assert(!rows.contains((1L, None)), rows)       // matched rows don't also emit null
  }

  test("detectChanges: stateful created/updated/unchanged semantics") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streaming.KeyedValue]
    val out = Streaming.detectChanges(in.toDS())
    val q = out.writeStream.outputMode("append").format("memory").queryName("chg").start()

    in.addData(Streaming.KeyedValue("k1", "a", 1), Streaming.KeyedValue("k2", "x", 1))
    q.processAllAvailable()
    in.addData(Streaming.KeyedValue("k1", "a", 2)) // unchanged → no emit
    q.processAllAvailable()
    in.addData(Streaming.KeyedValue("k1", "b", 3)) // changed → updated
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("chg").as[Streaming.Change].collect()
    val byKind = rows.groupBy(_.kind).view.mapValues(_.map(c => (c.key, c.value)).toSet).toMap
    assert(byKind("created") == Set(("k1", "a"), ("k2", "x")))
    assert(byKind("updated") == Set(("k1", "b")))
    assert(rows.length == 3)
  }

  test("enrich: stream-static left-outer keeps unmatched rows with null dims") {
    implicit val sc = spark.sqlContext
    val events = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "segment")
    val enriched = Streaming.enrich(
      events.toDF().toDF("user_id", "amount"), dim, "user_id")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()

    events.addData((1L, 10.0), (3L, 7.0)) // user 3 has no dimension row
    q.processAllAvailable()
    events.addData((2L, 5.0)) // second micro-batch re-joins the static side
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("enrich_out")
      .select(col("user_id"), col("amount"), col("segment"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) "NULL" else r.getString(2))).toSet
    assert(rows == Set(
      (1L, 10.0, "GOLD"), (3L, 7.0, "NULL"), (2L, 5.0, "SILVER")), rows)
  }

  test("asOfWithState: one-batch output equals the batch as-of join") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val refs = for (k <- Seq("a", "b"); t <- Seq(10L, 20L, 30L))
        yield Streaming.AsOfEvent(k, t, isProbe = false, s"$k$t")
      val probes = for (k <- Seq("a", "b"); t <- Seq(5L, 10L, 15L, 25L, 35L))
        yield Streaming.AsOfEvent(k, t, isProbe = true, "")
      val in = MemoryStream[Streaming.AsOfEvent]
      val q = Streaming.asOfWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("asof_out").start()
      in.addData(scala.util.Random.shuffle(refs ++ probes))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("asof_out").as[Streaming.AsOfJoined].collect()
        .map(j => (j.key, j.probe_ts, j.ref_ts, j.ref_value)).sorted.toSeq
      val batch = graft.operators.Joins.asOfBackward(
          probes.map(p => (p.key, p.ts)).toDF("key", "pts"),
          refs.map(r => (r.key, r.ts, r.ts, r.value)).toDF("key", "rts", "ref_ts", "ref_value"),
          "key", "key", "pts", "rts")
        .as[(String, Long, Option[Long], Option[String])].collect().sorted.toSeq
      assert(got == batch)
      // spot-check the inclusive edge: probe at exactly ref ts matches it
      assert(got.contains(("a", 10L, Some(10L), Some("a10"))))
    }
  }

  test("asOfWithState: versions persist across batches; late refs serve later probes only") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.AsOfEvent]
      val q = Streaming.asOfWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("asof_xb").start()
      in.addData(Streaming.AsOfEvent("k", 10L, isProbe = false, "v1"),
        Streaming.AsOfEvent("k", 15L, isProbe = true, ""))
      q.processAllAvailable()
      // batch 2: a LATE probe still matches exactly; a late ref plus a
      // same-batch probe behind it resolves in ts order
      in.addData(Streaming.AsOfEvent("k", 12L, isProbe = true, ""),
        Streaming.AsOfEvent("k", 5L, isProbe = false, "v0"),
        Streaming.AsOfEvent("k", 7L, isProbe = true, ""))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("asof_xb").as[Streaming.AsOfJoined].collect()
        .map(j => (j.probe_ts, j.ref_ts, j.ref_value)).sorted.toSeq
      assert(got == Seq(
        (7L, Some(5L), Some("v0")),   // served by the late ref, in-batch
        (12L, Some(10L), Some("v1")), // late probe, exact match
        (15L, Some(10L), Some("v1"))))
    }
  }

  test("kmvActivesWithState: duplicate re-delivery is absorbed; estimates equal " +
    "the batch KMV sketch after every prefix") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.ActiveEvent]
      val q = Streaming.kmvActivesWithState(in.toDS(), k = 4)
        .writeStream.outputMode("append")
        .format("memory").queryName("kmv_act").start()
      val b1 = Seq(("d1", 10L), ("d1", 20L), ("d1", 30L), ("d1", 20L), ("d2", 7L))
      val b2 = Seq(("d1", 20L), ("d1", 5L), ("d1", 40L), ("d1", 50L),
        ("d2", 7L), ("d2", 9L))
      in.addData(b1.map(Streaming.ActiveEvent.tupled))
      q.processAllAvailable()
      val afterB1 = spark.table("kmv_act").as[Streaming.ActiveEstimate]
        .collect().toSet
      // below k the sketch IS exact: d1 (3 distinct), d2 (1)
      assert(afterB1.map(e => (e.day, e.n_min, e.kth, e.est_distinct)) ==
        Set(("d1", 3L, 30L, 3L), ("d2", 1L, 7L, 1L)))
      in.addData(b2.map(Streaming.ActiveEvent.tupled))
      q.processAllAvailable()
      q.stop()
      val finalRows = (spark.table("kmv_act").as[Streaming.ActiveEstimate]
        .collect().toSet -- afterB1)
        .map(e => (e.day, e.n_min, e.kth, e.est_distinct))
      // parity oracle: the batch sketch over the SAME rows (dups and
      // all) — streaming fold and batch aggregate share BottomKLongs,
      // and the estimate arithmetic must match bit-for-bit
      val batch = graft.operators.Profile.kmvDistinctSketch(
          (b1 ++ b2).toDF("day", "h"), "day", "h", k = 4)
        .select("day", "n_min", "kth", "est_distinct")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(finalRows == batch, s"stream $finalRows vs batch $batch")
      // d1 crossed k: its final row must be an ESTIMATE from the
      // 4 smallest hashes [5,10,20,30], not an exact count
      assert(finalRows.exists(r => r._1 == "d1" && r._2 == 4L && r._3 == 30L))
    }
  }

  test("quantileMonitorWithState: mid-stream split parity vs the batch x205 " +
    "exact-quantiles audit; prefix rows equal the batch audit of the prefix") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val rows = graft.Tables.load(spark, sf001, "documents")
        .filter(col("n_chars").isNotNull)
        .select(col("source").cast("string"), col("n_chars").cast("long"))
        .as[(String, Long)].collect().toSeq
        .map { case (g, v) => Streaming.QuantEvent(g, v) }
      val (first, second) = rows.splitAt(rows.length / 2) // mid-stream split
      val in = MemoryStream[Streaming.QuantEvent]
      val q = Streaming.quantileMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("quant_parity").start()
      in.addData(first); q.processAllAvailable()
      val afterB1 = spark.table("quant_parity").as[Streaming.QuantileStat]
        .collect().map(s => (s.grp, s.n, s.p25, s.p50, s.p75, s.p90, s.p99))
        .toSet
      // MID-STREAM pin: batch-1 emissions equal the batch audit over
      // exactly the prefix rows — the histogram is a function of the
      // value multiset, so the split point cannot move it
      val prefixAudit = graft.operators.Profile.exactQuantilesByGroup(
          first.map(e => (e.grp, e.v)).toDF("source", "n_chars"),
          "n_chars", "source", Seq(25, 50, 75, 90, 99))
        .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(afterB1 == prefixAudit, s"stream $afterB1 vs batch $prefixAudit")
      in.addData(second); q.processAllAvailable()
      q.stop()
      // FINAL pin: last emission per group equals the declared x205
      // audit of the full corpus
      val fin = spark.table("quant_parity").as[Streaming.QuantileStat]
        .collect().groupBy(_.grp).map { case (_, ss) => ss.maxBy(_.n) }
        .map(s => (s.grp, s.n, s.p25, s.p50, s.p75, s.p90, s.p99)).toSet
      val x205 = graft.testutil.Declared("x205")(spark, sf001)
        .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(fin == x205, s"stream $fin vs x205 $x205")
    }
  }

  test("quantileMonitorWithState: histogram envelope fails loudly, not by " +
    "degrading to per-row state") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Streaming.QuantEvent]
      val q = Streaming.quantileMonitorWithState(in.toDS(), maxDistinct = 3)
        .writeStream.outputMode("append")
        .format("memory").queryName("quant_guard").start()
      in.addData((1L to 4L).map(v => Streaming.QuantEvent("g", v)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      q.stop()
      assert(e.getMessage.contains("histogram envelope") ||
        Option(e.getCause).exists(_.getMessage.contains("histogram envelope")))
    }
  }

  test("damageMonitorWithState: latest emit per source equals the batch " +
      "mojibake screen on the prefix — mid-stream and at the end") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      // the x237 injection over the fixture docs (nonzero damage)
      val corrupted = spark.read.parquet(s"$sf001/documents.parquet")
        .withColumn("text",
          when(col("doc_id") % 7 === 0, expr("replace(text, 'a', 'Ã¡')"))
            .when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" â€œcitedâ€")))
            .when(col("doc_id") % 13 === 0,
              concat(col("text"), lit(" x� Â y")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("source"), col("text"))
      val rows = corrupted.select(col("source"), col("text"))
        .as[Streaming.DocIngest].collect().toSeq
      val (b1, b2) = rows.splitAt(rows.length / 2)

      def batchScreen(docs: Seq[Streaming.DocIngest]) =
        graft.operators.TextAnalysis.mojibakeScreen(
            docs.toDF("source", "text"))
          .as[(String, Long, Long, Long, Long, Long, Long, Long)]
          .collect().map(r => r._1 -> r).toMap

      def latest(table: String) = spark.table(table)
        .as[Streaming.DamageStat].collect()
        .groupBy(_.source).view
        .mapValues(_.maxBy(_.n_docs))
        .mapValues(s => (s.source, s.n_docs, s.n_damaged,
          s.damaged_rate_micro, s.latin1_hits, s.punct_hits,
          s.replacement_hits, s.nbsp_hits)).toMap

      val in = MemoryStream[Streaming.DocIngest]
      val q = Streaming.damageMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("damage_parity").start()
      in.addData(b1); q.processAllAvailable()
      assert(latest("damage_parity") == batchScreen(b1),
        "mid-stream prefix parity")
      in.addData(b2); q.processAllAvailable()
      q.stop()
      assert(latest("damage_parity") == batchScreen(rows), "final parity")
      // the injection actually fired: some source carries damage
      assert(batchScreen(rows).values.exists(_._3 > 0))
    }
  }

  test("piiMonitorWithState: latest emit per source equals the batch " +
      "piiChecksums rollup on the prefix — mid-stream and at the end") {
    withRocksDb {
      implicit val sc = spark.sqlContext
      // the x251 plant over the fixture docs: every doc gets a card
      // (Luhn-valid iff doc_id%10==1), an IBAN (valid iff doc_id%7==0),
      // and a phone — so valid counts are nonzero and vary by source
      val planted = spark.read.parquet(s"$sf001/documents.parquet")
        .withColumn("text", concat(col("text"),
          lit(" card 411111111111111"),
          pmod(col("doc_id"), lit(10)).cast("string"),
          lit(" iban GB"),
          (lit(82) + pmod(col("doc_id"), lit(7))).cast("string"),
          lit("WEST12345698765432 tel +1415555"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .select(col("source"), col("text"))
      val rows = planted.as[Streaming.DocIngest].collect().toSeq
      val (b1, b2) = rows.splitAt(rows.length / 2)

      def batchRollup(docs: Seq[Streaming.DocIngest]) =
        graft.operators.TextAnalysis.piiChecksums(
            docs.toDF("source", "text"), idCol = "source")
          .groupBy(col("doc_id").as("source"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("n_card_valid") + col("n_iban_valid") > 0, 1L)
              .otherwise(0L)).as("n_leaky"),
            sum(col("n_card_candidates")).as("cc"),
            sum(col("n_card_valid")).as("cv"),
            sum(col("n_iban_candidates")).as("ic"),
            sum(col("n_iban_valid")).as("iv"),
            sum(col("n_phone")).as("ph"))
          .select(col("source"), col("n_docs"), col("n_leaky"),
            expr("n_leaky * 1000000L div n_docs").as("rate"),
            col("cc"), col("cv"), col("ic"), col("iv"), col("ph"))
          .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
          .collect().map(r => r._1 -> r).toMap

      def latest(table: String) = spark.table(table)
        .as[Streaming.PiiStat].collect()
        .groupBy(_.source).view
        .mapValues(_.maxBy(_.n_docs))
        .mapValues(s => (s.source, s.n_docs, s.n_leaky, s.leak_rate_micro,
          s.card_candidates, s.card_valid, s.iban_candidates, s.iban_valid,
          s.phones)).toMap

      val in = MemoryStream[Streaming.DocIngest]
      val q = Streaming.piiMonitorWithState(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("pii_parity").start()
      in.addData(b1); q.processAllAvailable()
      assert(latest("pii_parity") == batchRollup(b1), "mid-stream prefix parity")
      in.addData(b2); q.processAllAvailable()
      q.stop()
      val fin = batchRollup(rows)
      assert(latest("pii_parity") == fin, "final parity")
      // the plant actually fired: valid cards AND valid IBANs exist
      assert(fin.values.exists(_._6 > 0) && fin.values.exists(_._8 > 0))
    }
  }

  test("one keyed-state wiring: Streaming.scala calls transformWithState once and " +
    "defines five processors (the generic fold plus the MapState/timer ones)") {
    val src = new java.io.File("src/main/scala/graft/streaming/Streaming.scala")
    assert(src.isFile, src.getAbsolutePath)
    // code lines only: scaladoc/comment lines and trailing comments may
    // name the API
    val lines = graft.testutil.SourceScan.codeLines(src)
    def count(needle: String) = lines.map(
      scala.util.matching.Regex.quote(needle).r.findAllIn(_).size).sum
    assert(count(".transformWithState(") == 1,
      "a twin wired by hand instead of through Streaming.keyed")
    assert(count("extends StatefulProcessor") == 5,
      "a single-ValueState twin written as its own processor instead of a KeyedFold step")
    assert(count("override def init") == 5)
  }
}
