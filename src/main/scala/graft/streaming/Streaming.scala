package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** Structured-Streaming surface (SURVEY §2.8). The reference is a
  * batch job re-run repeatedly; its incremental semantics — keyed
  * upsert per run (publish_to_catalog.py:345), change detection by
  * set-difference (:261-288), run ledger (:567-581) — map onto
  * micro-batch streaming below. Watermarks/windows have no reference
  * analogue and come straight from the engine surface.
  */
object Streaming {

  /** Micro-batch keyed upsert (K1 as a streaming sink): every batch
    * merges into the [[graft.sources.SnapshotStore]] table at
    * `targetPath` by key with last-wins inside the batch.
    *
    * Atomicity (VERDICT r15 item 3): each batch writes a COMPLETE new
    * snapshot directory beside the published one, then commits with
    * one atomic pointer flip — a concurrent reader resolves either the
    * old snapshot or the new, never a torn table (the previous
    * delete→rename swap had a window where the live directory was
    * gone; the reference's per-request-atomic server upsert at
    * publish_to_catalog.py:345 is the semantic bar). Crash mid-write
    * leaves an unpublished snap dir the retry overwrites; a replayed
    * batch re-merges idempotently (upsert of the same rows) and
    * publishes a new, identical-content version. Read the table with
    * `SnapshotStore.read(spark, targetPath)`; reclaim old versions
    * with `SnapshotStore.vacuum`. */
  def mergeSink(stream: DataFrame, key: String, orderCol: String,
      targetPath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val deduped = graft.transform.CatalogTransforms
          .lastWinsByKey(batch, key, orderCol)
        val merged = graft.sources.SnapshotStore
          .currentPath(spark, targetPath) match {
            case Some(cur) => graft.transform.CatalogTransforms
              .upsert(spark.read.parquet(cur), deduped, key)
            case None => deduped
          }
        // the new snapshot reads the OLD snapshot's files while writing
        // its own directory — no staging copy needed, the layout never
        // overwrites what a plan is reading
        graft.sources.SnapshotStore.write(merged, targetPath)
        ()
      }
      .start()

  /** Stream-static enrichment join: each micro-batch of the stream is
    * joined against a (small) static dimension frame — the streaming
    * form of the reference's agency→catalog lookup (J1,
    * publish_to_catalog.py:503-513). Stateless: unlike a stream-stream
    * join there is no watermark and no state store — the static side
    * is re-read per micro-batch, which is also what picks up dimension
    * updates between batches.
    *
    * Scale: the dimension broadcasts (explicit hint), so the stream
    * side keeps its source partitioning and never shuffles; left-outer
    * keeps stream rows whose key is missing from the dimension (null
    * enrichment columns — the dead-letter pattern, F6). A dimension
    * too large to broadcast would instead be bucketed/key-partitioned
    * storage so each micro-batch joins co-located. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String,
      joinType: String = "left_outer"): DataFrame =
    stream.join(broadcast(dim), Seq(key), joinType)

  /** Tumbling/sliding event-time aggregation with a watermark: the
    * batch-checkable shape is Q21; this is the streaming form. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
      window: String, slide: Option[String] = None): DataFrame = {
    val w = slide match {
      case Some(s) => org.apache.spark.sql.functions.window(col(tsCol), window, s)
      case None => org.apache.spark.sql.functions.window(col(tsCol), window)
    }
    events.withWatermark(tsCol, watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
  }

  /** Session windows with a gap timeout (streaming form of Q22). */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
      gap: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup (the dedup family's ingest form): drop rows
    * whose `keyCols` were already seen, with state bounded by the
    * watermark — `dropDuplicatesWithinWatermark` expires per-key state
    * once the key's event time falls behind the watermark, so state
    * size tracks the watermark window, not the full history (the
    * unbounded-state trap of plain `dropDuplicates` on a stream). For
    * content dedup, pass a content hash as the key column. */
  def streamingExactDedup(stream: DataFrame, tsCol: String,
      watermark: String, keyCols: String*): DataFrame = {
    // zero keys would dedup on NO columns — the whole stream collapses
    // to ~one row per expiry window, silently
    require(keyCols.nonEmpty, "streamingExactDedup needs at least one key column")
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)
  }

  /** Streaming NEAR-dup ingest gate (the streaming form of the x57
    * batch operator): every micro-batch is first deduplicated within
    * itself (smaller id survives a near-dup pair), then screened
    * against the standing corpus at `corpusPath` — survivors append
    * and become corpus for the NEXT batch. The "don't re-ingest what
    * we already have" gate of a continuously-crawled pipeline, run
    * incrementally.
    *
    * State lives in STORAGE, not the state store: the corpus is the
    * accumulated parquet itself, so it survives restarts, has no
    * watermark-bounded horizon (a dup of last month's doc is still a
    * dup), and is shared by any number of parallel readers. Retries
    * are CONTENT-idempotent by construction: if a failed batch
    * half-appended and replays, the rows that already landed are
    * exact dups of themselves (J = 1) and the gate drops them — the
    * re-run appends only what's missing. (Short docs below the
    * n-gram horizon carry no sketch and always pass; screen them
    * with [[streamingExactDedup]] on a content hash upstream.)
    *
    * Scale: per batch, candidates are a bottom-prefixK hash equi-join
    * (incoming × collision rate, never corpus² — Dedup.crossNearDup's
    * shape), and the corpus side contributes ZERO hashing work: each
    * landed document's sketch is persisted WITH it as the
    * [[SketchColumn]] column, so the per-batch screen reads only
    * (id, sketch) — parquet is columnar, the text column's pages are
    * never even decoded ([[corpusSketches]] is the reader; its scan's
    * ReadSchema is the proof). Incoming docs are sketched exactly once
    * per batch and the survivors' sketches ride the same single
    * append as their text — sketch and corpus cannot diverge (a
    * separate sketch table would add a half-appended failure window
    * in which replay either duplicates text or drops it). Appends to
    * a transactional table (Iceberg/Delta) would make the landing
    * atomic too, as with [[mergeSink]]. */
  def ingestDedupSink(stream: DataFrame, corpusPath: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text", ngram: Int = 3,
      prefixK: Int = 8, minJaccard: Double = 0.5): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        require(!batch.columns.contains(SketchColumn),
          s"ingestDedupSink reserves column $SketchColumn for the persisted sketch")
        // the batch fans out (pair mining + two anti-joins) — pin it
        val b = graft.operators.Materialize(batch, "Streaming.ingestDedupSink: batch")
        // sketched ONCE per batch; shared by the within-batch pair
        // mining, the cross-corpus screen, and the persisted column
        val bSketch = graft.operators.Dedup.ngramSketch(b, idCol, textCol, ngram)
        val withinPairs = graft.operators.Dedup
          .ngramJaccardNearDupSketched(bSketch, prefixK, minJaccard)
          .select(col("doc_b").as("__drop")).distinct()
        val bKept = b.join(withinPairs, col(idCol) === col("__drop"), "left_anti")
        val keptSketch = bSketch.join(withinPairs, col("doc_id") === col("__drop"), "left_anti")
        val target = new org.apache.hadoop.fs.Path(corpusPath)
        val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
        // The persisted sketches are only comparable to incoming ones
        // when both were hashed with the SAME n-gram width: a 3-gram
        // corpus joined against 4-gram batch hashes never collides and
        // the gate silently admits every duplicate. The width the
        // corpus was built with is recorded in a sidecar marker and
        // re-validated on every batch — a mismatch fails loudly here
        // instead of degrading recall to zero.
        if (fs.exists(target)) requireSketchNgram(fs, target, ngram)
        val (survivors, survivorSketch) =
          if (fs.exists(target)) {
            val dupIds = graft.operators.Dedup
              .crossNearDupSketched(keptSketch,
                corpusSketches(spark, corpusPath, idCol, textCol, ngram),
                prefixK, minJaccard)
              .select(col("new_id")).distinct()
            (bKept.join(dupIds, col(idCol) === col("new_id"), "left_anti"),
              keptSketch.join(dupIds, col("doc_id") === col("new_id"), "left_anti"))
          } else (bKept, keptSketch)
        // one append carries text + sketch together. Short docs below
        // the n-gram horizon have no sketch row (they always pass the
        // gate) and land with a null sketch; corpusSketches filters
        // them out on the read side.
        survivors
          .join(survivorSketch.select(col("doc_id").as(idCol),
            col("hashes").as(SketchColumn)), Seq(idCol), "left")
          .write.mode("append").parquet(corpusPath)
        writeSketchNgramIfMissing(fs, target, ngram)
        ()
      }
      .start()

  /** Name of the persisted-sketch column [[ingestDedupSink]] appends
    * alongside each landed document. */
  val SketchColumn = "__ngram_sketch"

  /** Sidecar marker recording the n-gram width the corpus sketches
    * were built with (underscore-prefixed, so Spark's parquet reader
    * ignores it). */
  private val SketchMetaFile = "_graft_ingest_meta.json"

  private def sketchMetaPath(corpus: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(corpus, SketchMetaFile)

  private def writeSketchNgramIfMissing(fs: org.apache.hadoop.fs.FileSystem,
      corpus: org.apache.hadoop.fs.Path, ngram: Int): Unit = {
    val meta = sketchMetaPath(corpus)
    if (!fs.exists(meta)) {
      val out = fs.create(meta, true)
      try out.write(s"""{"ngram":$ngram}""".getBytes("UTF-8")) finally out.close()
    }
  }

  private def requireSketchNgram(fs: org.apache.hadoop.fs.FileSystem,
      corpus: org.apache.hadoop.fs.Path, ngram: Int): Unit = {
    val meta = sketchMetaPath(corpus)
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val stored = """"ngram"\s*:\s*(\d+)""".r.findFirstMatchIn(body).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(
          s"unparseable $SketchMetaFile at $corpus: $body"))
      require(stored == ngram,
        s"corpus at $corpus was sketched with ngram=$stored but this sink is " +
          s"configured with ngram=$ngram — persisted and incoming sketches would " +
          "never collide and the dedup gate would silently admit every duplicate")
    }
    // No marker (corpus predates it): the batch proceeds and the
    // marker is stamped with THIS sink's ngram after the append —
    // first writer wins, later mismatches fail loudly.
  }

  /** The standing corpus as a SKETCH frame (ngramSketch contract):
    * only (id, sketch) are selected, so the parquet scan decodes two
    * columns of longs and never touches the text pages — the reason
    * batch N+1 of [[ingestDedupSink]] costs no corpus re-tokenization.
    * Null/empty sketches (short docs) are screened out here, matching
    * ngramSketch's no-empty-arrays contract.
    *
    * Migration: a corpus written before the sketch column existed
    * (plain (id, text) parquet, or one bootstrapped externally) has no
    * [[SketchColumn]] — for those the sketches are recomputed from the
    * text with the sink's current n-gram width, the pre-sketch
    * behavior. The slow path lasts until the corpus is backfilled
    * (one `ngramSketch` + rewrite); every row appended by the sink
    * itself carries the column and takes the columnar fast path. */
  private[graft] def corpusSketches(spark: SparkSession, corpusPath: String,
      idCol: String, textCol: String, ngram: Int): DataFrame = {
    val corpus = spark.read.parquet(corpusPath)
    if (corpus.columns.contains(SketchColumn))
      corpus.select(col(idCol).as("doc_id"), col(SketchColumn).as("hashes"))
        .filter(col("hashes").isNotNull && size(col("hashes")) > 0)
    else graft.operators.Dedup.ngramSketch(corpus, idCol, textCol, ngram)
  }

  /** Stream-stream interval join: match each `right` event to `left`
    * events with the same key whose timestamp falls in
    * [leftTs, leftTs + maxGap] — the attribution shape (click →
    * purchase within the hour). Both sides carry watermarks, and the
    * time-range predicate is part of the join condition, which is what
    * lets StreamingSymmetricHashJoin EVICT buffered state: a left row
    * expires once the right watermark passes its interval end, a right
    * row once the left watermark passes its timestamp. Without the
    * range bound both sides buffer forever — the unbounded-state trap
    * of a bare stream-stream equi-join.
    *
    * Scale: state is partitioned by the join key across executors;
    * per-key state size is bounded by (event rate × maxGap), so the
    * knob that controls memory is the interval width, not stream
    * length. Columns are prefixed l_/r_ so the two sides' ts columns
    * stay distinguishable to the caller.
    *
    * joinType "left_outer" additionally emits each unmatched left row
    * (null right columns) — but only once the watermark passes its
    * interval end and eviction PROVES no match can arrive: outer
    * results of a stream-stream join are inherently watermark-delayed,
    * the price of never retracting. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, watermark: String,
      maxGap: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
      .select(left.columns.map(c => col(c).as(s"l_$c")).toSeq: _*)
    val r = right.withWatermark(rightTs, watermark)
      .select(right.columns.map(c => col(c).as(s"r_$c")).toSeq: _*)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$rightTs") >= col(s"l_$leftTs") &&
        col(s"r_$rightTs") <= col(s"l_$leftTs") + expr(s"INTERVAL $maxGap"),
      joinType)
  }

  /** Stateful change detection (streaming J2/A4): per key, emit a row
    * only when the payload differs from the last seen value — the
    * incremental form of the reference's per-run set-difference
    * (publish_to_catalog.py:261-288).
    *
    * State growth is the explicit trade: with `stateTtl = None`
    * (default) state holds one entry per ever-seen key — correct
    * forever, bounded only by true key cardinality (fine for
    * feed/stop-grained keys; wrong for unbounded keyspaces). Passing
    * `Some(ttl)` switches to ProcessingTimeTimeout and EVICTS keys
    * idle past the TTL, bounding state at the cost of a re-appearing
    * key reporting "created" again. The TTL mode belongs with a real
    * processing-time trigger: under the default 0-interval trigger a
    * timeout-bearing query schedules continuous empty micro-batches
    * to evaluate timeouts (a busy-loop in tests, wasted batches in
    * production). */
  final case class KeyedValue(key: String, value: String, ts: Long)
  final case class Change(key: String, value: String, kind: String)

  def detectChanges(input: Dataset[KeyedValue],
      stateTtl: Option[String] = None): Dataset[Change] = {
    import input.sparkSession.implicits._
    val timeout = stateTtl match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout()
      case None => GroupStateTimeout.NoTimeout()
    }
    input.groupByKey(_.key)
      .flatMapGroupsWithState[String, Change](OutputMode.Append(), timeout) {
        (key: String, rows: Iterator[KeyedValue], state: GroupState[String]) =>
          if (stateTtl.isDefined && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val last = rows.toSeq.sortBy(_.ts).lastOption
            last match {
              case None => Iterator.empty
              case Some(kv) =>
                val prev = state.getOption
                state.update(kv.value)
                stateTtl.foreach(state.setTimeoutDuration)
                prev match {
                  case None => Iterator.single(Change(key, kv.value, "created"))
                  case Some(p) if p != kv.value => Iterator.single(Change(key, kv.value, "updated"))
                  case _ => Iterator.empty
                }
            }
          }
      }
  }

  /** The one keyed fold behind the single-state twins below (every
    * `…WithState` twin except the MapState/timer ones): the continuous
    * form of a batch audit, folding each micro-batch's rows into ONE
    * per-key state value — the previous round's state is the next
    * round's starting point, nothing is recomputed. `init` opens one
    * `ValueState` slot; each call reads it (`zero` for a key never
    * written), runs the pure `step`, and writes the state `step`
    * returns — `None` leaves the store untouched, so a call writes
    * exactly when its twin's contract says it does.
    *
    * The slot name and encoder ARE the checkpoint's state schema: a
    * twin must never change either, or a restarted query cannot read
    * the state its earlier run wrote. The processor, and with it
    * `step`'s closure, is serialized to the executors, so a step
    * captures only serializable values (Maps, numbers, the
    * [[graft.functions.BottomKLongs]] aggregator); the encoder is
    * built in `init`, on the executor, because an ExpressionEncoder
    * (the KMV twin's `longArray`) does not survive serialization. */
  private final class KeyedFold[K, I, S, O](slot: String, enc: () => Encoder[S],
      zero: S, step: (K, S, Iterator[I]) => (Option[S], Iterator[O]))
      extends StatefulProcessor[K, I, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](slot, enc(), TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        tv: TimerValues): Iterator[O] = {
      val (next, out) = step(key, if (st.exists()) st.get() else zero, rows)
      next.foreach(st.update)
      out
    }
  }

  /** The one `transformWithState` wiring: `ds` grouped by `key`, run
    * through `p` in Append mode. The v2 state API behind it REQUIRES
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (it rejects the default HDFS-backed
    * provider by design). */
  private def keyed[I, K: Encoder, O: Encoder](ds: Dataset[I])(key: I => K,
      p: StatefulProcessor[K, I, O], time: TimeMode = TimeMode.None()): Dataset[O] =
    ds.groupByKey(key).transformWithState(p, time, OutputMode.Append())

  /** A [[KeyedFold]] over `ds` keyed by `key`, wired by [[keyed]]. */
  private def keyedFold[I, K: Encoder, S, O: Encoder](ds: Dataset[I])(
      key: I => K, slot: String, enc: () => Encoder[S], zero: S)(
      step: (K, S, Iterator[I]) => (Option[S], Iterator[O])): Dataset[O] =
    keyed(ds)(key, new KeyedFold(slot, enc, zero, step))

  final case class SessionEvent(user_id: Long, event_id: Long, ts: Long)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
    start_ts: Long, end_ts: Long, closed: Boolean)

  /** Gap-based sessionizer on the arbitrary-state v2 API
    * ([[org.apache.spark.sql.streaming.StatefulProcessor]] /
    * `transformWithState`) — the streaming twin of the batch Q22
    * sessionization: a new session starts when an event arrives more
    * than `gapSec` after its user's previous event.
    *
    * Why transformWithState rather than the flatMapGroupsWithState
    * used by [[detectChanges]]: typed named state slots with
    * per-slot TTL, first-class timers, and a RocksDB-changelog-backed
    * store (the v2 API REQUIRES the RocksDB provider — state no longer
    * bounded by executor heap, the property that matters when 10⁸
    * users hold an open session each). One `ValueState[SessionOut]`
    * per user holds only the OPEN session — O(1) per key, not the
    * event history.
    *
    * Ordering contract: events are sorted (ts, event_id) WITHIN each
    * micro-batch before folding, so intra-batch disorder cannot split
    * a session. Across batches arrival order is trusted (TimeMode
    * None); an event older than the open session's end extends it
    * rather than rewriting history — callers needing full event-time
    * ordering run EventTime mode with a watermark upstream so batches
    * are already time-partitioned. Batch boundaries NEVER split
    * sessions: a within-gap continuation in batch N+1 extends the
    * state left by batch N (pinned by the spec).
    *
    * Emission is Append-clean: a session row is emitted exactly once,
    * when a LATER event closes it; the open tail lives only in state.
    * A far-future sentinel event per user flushes tails when a job
    * needs them (the spec's drain trick).
    *
    * Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (the v2 state API rejects the default
    * HDFS-backed provider by design). */
  def sessionizeWithState(events: Dataset[SessionEvent],
      gapSec: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // zero null: a user with no open session yet
    keyedFold(events)(_.user_id, "session", () => Encoders.product[SessionOut],
        null: SessionOut) { (key, open, rows) =>
      val sorted = rows.toArray.sortBy(e => (e.ts, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = Option(open)
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts - s.end_ts <= gapSec =>
            cur = Some(s.copy(n_events = s.n_events + 1,
              end_ts = math.max(s.end_ts, e.ts)))
          case Some(s) =>
            out += s.copy(closed = true)
            cur = Some(SessionOut(key, s.session_id + 1, 1L, e.ts, e.ts, closed = false))
          case None =>
            cur = Some(SessionOut(key, 1L, 1L, e.ts, e.ts, closed = false))
        }
      }
      (cur, out.iterator)
    }
  }

  final case class TranscriptEvent(user_id: Long, event_id: Long, ts: Long,
    event_type: String, v_cents: Long)
  final case class TranscriptOut(user_id: Long, session_id: Long, n: Long,
    path: String, v_cents: Long, end_ts: Long, closed: Boolean)

  /** Transcript-assembling twin of [[sessionizeWithState]] — the
    * streaming form of [[graft.operators.Sequences.sessionTranscripts]]:
    * besides counting, each open session accumulates its "→"-joined
    * event-type path and an exact integer-cents value sum in state,
    * and the finished transcript is emitted once, when a later event
    * closes the session.
    *
    * State stays O(path length), bounded by `maxPathEvents`: beyond
    * the cap the count and sum keep accumulating but the path stops
    * growing (a session that long is telemetry noise, not a training
    * sequence — the batch operator's gap bound is the same contract).
    * Values ride integer cents, not doubles: state that is folded one
    * event at a time must not accumulate float error relative to the
    * batch twin's decimal sum. Same RocksDB provider requirement as
    * [[sessionizeWithState]]. */
  def transcriptsWithState(events: Dataset[TranscriptEvent], gapSec: Long,
      maxPathEvents: Int = 10000): Dataset[TranscriptOut] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.user_id, "transcript", () => Encoders.product[TranscriptOut],
        null: TranscriptOut) { (key, open, rows) =>
      val sorted = rows.toArray.sortBy(e => (e.ts, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[TranscriptOut]
      var cur = Option(open)
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts - s.end_ts <= gapSec =>
            cur = Some(s.copy(n = s.n + 1,
              path = if (s.n < maxPathEvents) s.path + "->" + e.event_type
                     else s.path,
              v_cents = s.v_cents + e.v_cents,
              end_ts = math.max(s.end_ts, e.ts)))
          case Some(s) =>
            out += s.copy(closed = true)
            cur = Some(TranscriptOut(key, s.session_id + 1, 1L,
              e.event_type, e.v_cents, e.ts, closed = false))
          case None =>
            cur = Some(TranscriptOut(key, 1L, 1L,
              e.event_type, e.v_cents, e.ts, closed = false))
        }
      }
      (cur, out.iterator)
    }
  }

  final case class PathEvent(user_id: Long, event_id: Long, ts: Long,
    event_type: String)
  final case class PathEmit(user_id: Long, a: String, b: String, c: String)
  /** Last two event types per user for [[pathMiningWithState]] —
    * empty strings mean "not yet seen" (event types are non-empty by
    * fixture contract, enforced at fold time). */
  final case class PathState(prev2: String, prev1: String)

  /** Streaming event-path mining — the state twin of
    * [[graft.operators.Sequences.eventPathMining]] (x175): per-user
    * state holds ONLY the last two event types (O(1), vs the batch
    * twin's full-history lag window), and every arriving event beyond
    * the second emits its completed (a, b, c) trigram; the downstream
    * count/support aggregation is an ordinary streaming groupBy over
    * the emitted rows.
    *
    * Parity contract (test-pinned): after folding the whole stream in
    * per-user (ts, event_id) order, the emitted trigram MULTISET
    * equals the batch operator's lag-window trigrams exactly — within
    * a batch, rows sort by (ts, event_id) before folding (the
    * transcripts discipline); across batches the per-key order
    * assumption is the same append-log contract every twin here
    * states: an out-of-order arrival across a batch boundary would
    * splice the path at the boundary, which is the honest streaming
    * semantics for an unwatermarked keyed fold. Same RocksDB provider
    * requirement as [[sessionizeWithState]]. */
  def pathMiningWithState(events: Dataset[PathEvent]): Dataset[PathEmit] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.user_id, "last2", () => Encoders.product[PathState],
        PathState("", "")) { (key, last, rows) =>
      val sorted = rows.toArray.sortBy(e => (e.ts, e.event_id))
      var st = last
      val out = scala.collection.mutable.ArrayBuffer.empty[PathEmit]
      sorted.foreach { e =>
        require(e.event_type.nonEmpty,
          "pathMiningWithState: empty event_type is the state sentinel")
        if (st.prev2.nonEmpty && st.prev1.nonEmpty)
          out += PathEmit(key, st.prev2, st.prev1, e.event_type)
        st = PathState(st.prev1, e.event_type)
      }
      (Some(st), out.iterator)
    }
  }

  final case class MonoViolation(user_id: Long, event_id: Long, ts: Long,
    prev_ts: Long)
  /** Last (event_id, ts) per user for [[monotonicityMonitorWithState]];
    * event_id −1 means "nothing seen yet". */
  final case class MonoState(last_id: Long, last_ts: Long)

  /** Streaming monotonicity monitor — the live DQ twin of
    * [[graft.operators.Sequences.monotonicityAudit]] (x181): per-user
    * state holds the last (event_id, ts) pair, and every arriving
    * event whose timestamp runs BEHIND its predecessor's emits a
    * violation row — clock skew and replayed producers surface as
    * they happen instead of in the nightly audit.
    *
    * Parity contract (test-pinned): with events arriving in per-user
    * event_id order (rows sort by id within each batch — the same
    * append-log contract as [[pathMiningWithState]]), the emitted
    * violation count per user equals the batch audit's adjacent
    * inversion count exactly. Same RocksDB provider requirement as
    * [[sessionizeWithState]]. */
  def monotonicityMonitorWithState(
      events: Dataset[PathEvent]): Dataset[MonoViolation] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.user_id, "mono", () => Encoders.product[MonoState],
        MonoState(-1L, Long.MinValue)) { (key, last, rows) =>
      val sorted = rows.toArray.sortBy(_.event_id)
      var st = last
      val out = scala.collection.mutable.ArrayBuffer.empty[MonoViolation]
      sorted.foreach { e =>
        if (st.last_id >= 0 && st.last_ts > e.ts)
          out += MonoViolation(key, e.event_id, e.ts, st.last_ts)
        st = MonoState(e.event_id, e.ts)
      }
      (Some(st), out.iterator)
    }
  }

  final case class FdEvent(det: String, dep: String)
  final case class FdViolation(det: String, dep: String, n_deps_seen: Long)

  /** Streaming functional-dependency monitor — the live DQ twin of
    * [[graft.operators.Profile.functionalDependencyAudit]] (x180):
    * keyed by determinant value, state holds the distinct dependent
    * values seen so far, and every arriving mapping whose dependent is
    * NEW for a determinant that already has one emits a violation row
    * — schema drift and dirty writers surface as they happen instead
    * of in the nightly audit.
    *
    * Parity contract (test-pinned): the CUMULATIVE violation count
    * over the stream equals the batch audit's
    * distinct(A, B) − distinct(A) exactly — each determinant's first
    * dependent is the legitimate mapping, every later distinct
    * dependent is one extra (A, B) pair, which is precisely what the
    * batch subtraction counts. NULL determinants determine nothing
    * (the batch audit excludes them from BOTH counts) — the caller's
    * wiring filters them before keying, mirroring that rule.
    *
    * Bounded state: at most `maxDeps` dependent values live per
    * determinant. Past the cap (a determinant that dirty has already
    * flagged maxDeps−1 times), new arrivals emit with n_deps_seen =
    * −1 — a conservative OVER-approximation (repeats of an unstored
    * dependent re-emit), never a miss; exact parity is the below-cap
    * contract. Memory is O(keys·maxDeps) whatever the stream does. */
  final class FdMonitorProcessor(maxDeps: Int)
      extends StatefulProcessor[String, FdEvent, FdViolation] {
    @transient private var seen: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Long]("fd",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[FdEvent],
        tv: TimerValues): Iterator[FdViolation] = {
      // the state is a MEMBERSHIP set (violations depend only on which
      // dependents exist and how many — never on per-dep counts), so a
      // clean batch of already-seen mappings writes ZERO state entries:
      // only newly inserted dependents are written, and the map is
      // never cleared (the stored value is a constant placeholder)
      val m = scala.collection.mutable.LinkedHashSet.empty[String]
      seen.iterator().foreach { case (d, _) => m += d }
      val added = scala.collection.mutable.ArrayBuffer.empty[String]
      val out = scala.collection.mutable.ArrayBuffer.empty[FdViolation]
      rows.foreach { ev =>
        if (!m.contains(ev.dep)) {
          if (m.size < maxDeps) {
            m += ev.dep
            added += ev.dep
            if (m.size >= 2) out += FdViolation(key, ev.dep, m.size.toLong)
          } else { // saturated: flag conservatively, store nothing
            out += FdViolation(key, ev.dep, -1L)
          }
        }
      }
      added.foreach(d => seen.updateValue(d, 1L))
      out.iterator
    }
  }

  /** [[FdMonitorProcessor]] wired onto a (determinant, dependent)
    * mapping stream; same RocksDB provider requirement as
    * [[sessionizeWithState]]. Callers filter NULL determinants first
    * (the batch audit's own rule). */
  def fdMonitorWithState(events: Dataset[FdEvent],
      maxDeps: Int = 1024): Dataset[FdViolation] = {
    import events.sparkSession.implicits._
    keyed(events)(_.det, new FdMonitorProcessor(maxDeps))
  }

  final case class RiEvent(kind: String, key: Long, row_id: Long)
  final case class RiAlert(key: Long, row_id: Long, kind: String,
    pending_children: Long)
  /** Parent-seen flag + children that arrived before any parent. */
  final case class RiState(parent_seen: Boolean, pending: Long)

  /** Streaming referential-integrity monitor — the live DQ twin of
    * [[graft.operators.Profile.referentialIntegrityAudit]] (x182):
    * both sides of one FK edge flow through as a keyed event stream
    * (kind "parent" registers a primary-key value; kind "child"
    * references one), state per key holds (parent_seen, pending), and
    *  - a child whose key has NO registered parent yet emits an
    *    `orphan_candidate` alert with the running pending count;
    *  - a parent arriving over pending children emits one `resolved`
    *    row carrying how many candidates it cleared (out-of-order
    *    ingestion, not a broken FK).
    *
    * Parity contract (test-pinned): Σ candidates − Σ resolved.pending
    * = the batch audit's n_orphans over the same tables, per key and
    * in total — a key whose parent never arrives keeps all its
    * children pending (exactly the batch orphan rows); a key whose
    * parent arrived contributes zero. Within a batch, parents
    * register BEFORE children are checked (a micro-batch is a set —
    * running the whole table as ONE batch reproduces the batch audit
    * row-for-row), and children process in row_id order for
    * deterministic pending counts. NULL child keys never reach the
    * monitor (no key to group on) — the batch audit counts them
    * separately as n_null_fk, same separation.
    *
    * Scale: state is two scalars per DISTINCT key; alerts are
    * per-dirty-row, not per-row. Same RocksDB provider requirement as
    * [[sessionizeWithState]]. Callers route NULL child keys to their
    * own n_null_fk accounting (the batch audit's separation). */
  def riMonitorWithState(events: Dataset[RiEvent]): Dataset[RiAlert] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.key, "ri", () => Encoders.product[RiState],
        RiState(parent_seen = false, 0L)) { (key, prev, rows) =>
      val batch = rows.toArray
      var s = prev
      val out = scala.collection.mutable.ArrayBuffer.empty[RiAlert]
      val parents = batch.filter(_.kind == "parent")
      if (parents.nonEmpty && !s.parent_seen) {
        if (s.pending > 0)
          out += RiAlert(key, parents.map(_.row_id).min, "resolved", s.pending)
        s = RiState(parent_seen = true, 0L)
      }
      batch.filter(_.kind == "child").sortBy(_.row_id).foreach { c =>
        if (!s.parent_seen) {
          s = s.copy(pending = s.pending + 1)
          out += RiAlert(key, c.row_id, "orphan_candidate", s.pending)
        }
      }
      (Some(s), out.iterator)
    }
  }

  final case class OodEvent(label: Int, vec_id: Long, embedding: Array[Float])
  final case class OodBatchStat(label: Int, n_batch: Long, n_total: Long,
    ood_milli_sum: Option[Long], max_ood_milli: Option[Long], flagged: Long)
  /** Per-label running moments: component count plus per-dim Σq and
    * Σq² in 1e-3 units — the state behind the OOD monitor. */
  final case class OodStats(n: Long, s1: Seq[Long], s2: Seq[Long])

  /** Streaming embedding-OOD monitor — the live twin of
    * [[graft.operators.Similarity.oodAudit]] (x191): keyed by label,
    * state holds the per-(label, dim) running integer moments, and
    * each micro-batch is scored as a SET against the moments INCLUDING
    * that batch (stats first absorb every batch row, then every batch
    * row scores) — so drifting or corrupt embeddings surface per batch
    * against the label's full history, with the same quantize-once
    * algebra as the batch audit: q = round(v·1000) (HALF_UP, the
    * engine's round), per-dim term = round((q·n − s1)²·1000 / (s2·n −
    * s1²)) skipping zero-variance dims, per-vector score = Σ terms,
    * flagged when score > factorMilli·dim.
    *
    * Parity contract (test-pinned): the WHOLE table as ONE micro-batch
    * reproduces the batch x191 rows exactly — same n, sums, max, and
    * flag counts per label (the cumulative stats then ARE the batch
    * stats). Across multiple batches the read changes meaning the way
    * a live monitor should: each batch scores against history-to-date.
    * Wrong-dim vectors drop (the batch audit's len filter); a call
    * whose rows all drop emits nothing and leaves the state untouched.
    *
    * Scale: state is 2·dim + 1 longs per label; output is one row per
    * (label, batch). Same long envelope as the batch audit (s2·n fits
    * a long at ≲3e6-row labels with unit-scale components). Same
    * RocksDB provider requirement as [[sessionizeWithState]]. */
  def oodMonitorWithState(events: Dataset[OodEvent], dim: Int = 64,
      factorMilli: Long = 1500L): Dataset[OodBatchStat] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.label, "ood", () => Encoders.product[OodStats],
        OodStats(0L, Seq.fill(dim)(0L), Seq.fill(dim)(0L))) { (key, prev, rows) =>
      val batch = rows.filter(_.embedding.length == dim).toArray
      if (batch.isEmpty) (None, Iterator.empty)
      else {
        val s1 = prev.s1.toArray
        val s2 = prev.s2.toArray
        var n = prev.n
        // total on any float: a monitor must never die on the corrupt
        // inputs it exists to flag; the parity pin covers finite
        // components, where this is exactly the batch audit's HALF_UP
        // quantization
        val qs = batch.map(_.embedding.map(graft.functions.VectorKernels.roundHalfUp(_, 1000.0)))
        qs.foreach { q =>
          var d = 0
          while (d < dim) { s1(d) += q(d); s2(d) += q(d) * q(d); d += 1 }
          n += 1
        }
        val next = OodStats(n, s1.toSeq, s2.toSeq)
        // score the batch against the absorbed (cumulative) moments —
        // identical per-dim algebra to the batch audit
        val scores = qs.map { q =>
          var sum = 0L
          var any = false
          var d = 0
          while (d < dim) {
            val den = s2(d) * n - s1(d) * s1(d)
            if (den > 0) {
              val diff = (q(d) * n - s1(d)).toDouble
              sum += math.round(diff * diff * 1000.0 / den.toDouble)
              any = true
            }
            d += 1
          }
          if (any) Some(sum) else None
        }
        val defined = scores.flatten
        (Some(next), Iterator.single(OodBatchStat(key, batch.length.toLong, n,
          if (defined.isEmpty) None else Some(defined.sum),
          if (defined.isEmpty) None else Some(defined.max),
          scores.count(_.exists(_ > factorMilli * dim)).toLong)))
      }
    }
  }

  final case class VecIngest(vec_id: Long, embedding: Array[Float])
  final case class RecallCand(query_id: Long, dim: Int, vec_id: Long,
    cos_micro: Long)
  final case class RecallEntry(cos_micro: Long, vec_id: Long)
  final case class RecallTopKState(n_seen: Long, entries: Seq[RecallEntry])
  final case class RecallStat(query_id: Long, dim: Int, n_batch: Long,
    n_seen: Long, topk_hits: Long, recall_micro: Long)

  /** Scores an embedding-ingest stream against a small in-closure
    * query set at each truncation dim — the candidate stage in front
    * of [[recallMonitorWithState]], mirroring the batch x189 scoring
    * EXACTLY: the cosine is the batch's own kernel
    * ([[graft.functions.VectorKernels.cosinePrefix]]: dot / √(nx·ny),
    * float→double per element), is rounded once to 6 dp with the Round
    * expression's HALF_UP BigDecimal path, and carried as the exact micro integer
    * (the unscaled value — ranking by it is ranking by the batch's
    * round-6 double, since distinct 6-dp decimals stay distinct and
    * ordered as doubles). A zero-norm prefix, a vector shorter than
    * the dim, or a non-finite score yields no candidate — the batch
    * audit's null-cosine drop, made total for a monitor. */
  def truncationCandidates(stream: Dataset[VecIngest],
      queries: Seq[(Long, Array[Float])], dims: Seq[Int]): Dataset[RecallCand] = {
    import stream.sparkSession.implicits._
    require(queries.nonEmpty && dims.nonEmpty,
      "truncationCandidates: need queries and dims")
    // each vector is wrapped for the kernel once, not per (query, dim)
    def wrap(a: Array[Float]): ArrayData =
      if (a == null) null else UnsafeArrayData.fromPrimitiveArray(a)
    val qs = queries.map { case (qid, qv) => (qid, wrap(qv)) }
    stream.flatMap { v =>
      val e = wrap(v.embedding)
      for {
        (qid, qv) <- qs.iterator
        d <- dims.iterator
        cm <- prefixCosMicro(e, qv, d).iterator
      } yield RecallCand(qid, d, v.vec_id, cm)
    }
  }

  /** Exact mirror of `round(cosine_similarity(slice(a,1,d),
    * slice(b,1,d)), 6)` as a micro integer — see
    * [[truncationCandidates]]. */
  private def prefixCosMicro(a: ArrayData, b: ArrayData, d: Int): Option[Long] =
    if (a == null || b == null || a.numElements() < d || b.numElements() < d) None
    else Option(graft.functions.VectorKernels.cosinePrefix(a, b, d)).map(_.doubleValue)
      .filter(java.lang.Double.isFinite)
      .map(c => java.math.BigDecimal.valueOf(c)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact())

  /** Streaming retrieval-recall monitor — the live twin of the batch
    * x189/x192 calibration audits (VERDICT r12 item 8): a per-micro-
    * batch top-k-agreement gate against a REFERENCE ranking (the
    * full-dim/full-precision top-k per query, computed batch-side —
    * [[graft.operators.Similarity.bruteForceTopK]] — and shipped in
    * the step's closure as per-query id sets, built once here: the
    * broadcast-small-side discipline).
    * Keyed by (query, dim): state is the bounded variant top-k heap
    * (≤ k (cos_micro, vec_id) entries under the batch tie order
    * (score desc, id asc), duplicate ingests keep the best score);
    * each batch absorbs its candidates, then reports the CUMULATIVE
    * agreement |variant top-k ∩ reference| and recall_micro =
    * hits·10⁶ div |reference list| — so a degrading index variant
    * (over-truncated dims, lossy compression) surfaces per batch as
    * ingestion proceeds. An empty call reports nothing and writes no
    * state.
    *
    * Parity contract (test-pinned): the bounded-heap merge is a
    * selection, so ANY batch split converges to the same final top-k —
    * after the last batch, hits summed per dim over queries equal the
    * batch truncationRecall's `topk_hits` row for that dim exactly.
    * A query absent from the reference map reports hits over an empty
    * list (recall_micro 0) rather than failing — monitor totality.
    *
    * Scale: state is ≤ k entries per (query, dim) — queries·dims·k
    * longs total; output one row per (query, dim, batch). Same RocksDB
    * provider requirement as [[sessionizeWithState]]. */
  def recallMonitorWithState(cands: Dataset[RecallCand], k: Int,
      reference: Map[Long, Seq[Long]]): Dataset[RecallStat] = {
    import cands.sparkSession.implicits._
    val refSets: Map[Long, Set[Long]] =
      reference.map { case (q, ids) => q -> ids.toSet }
    keyedFold(cands)(c => (c.query_id, c.dim), "topk",
        () => Encoders.product[RecallTopKState], RecallTopKState(0L, Seq.empty)) {
      (key, prev, rows) =>
        val batch = rows.toArray
        if (batch.isEmpty) (None, Iterator.empty)
        else {
          val merged = (prev.entries ++
              batch.map(c => RecallEntry(c.cos_micro, c.vec_id)))
            .groupBy(_.vec_id).valuesIterator.map(_.maxBy(_.cos_micro)).toSeq
            .sortBy(e => (-e.cos_micro, e.vec_id)).take(k)
          val n = prev.n_seen + batch.length
          val ref = refSets.getOrElse(key._1, Set.empty)
          val hits = merged.count(e => ref.contains(e.vec_id)).toLong
          val rm = if (ref.isEmpty) 0L else hits * 1000000L / ref.size
          (Some(RecallTopKState(n, merged)),
            Iterator.single(RecallStat(key._1, key._2, batch.length.toLong, n,
              hits, rm)))
        }
    }
  }

  final case class TokenEvent(shard: Int, token: String)
  final case class HeavyHitter(shard: Int, token: String,
    cnt_min: Long, cnt_max: Long)

  /** Bounded-memory streaming heavy hitters — Misra–Gries summaries on
    * the v2 state API, the streaming twin of the batch CMS heavy-
    * hitters operator (x74): per shard, at most `k` counters live in a
    * `MapState`, whatever the token cardinality of the stream. The MG
    * guarantee: with `d` = decrement rounds so far (d ≤ N/(k+1)), any
    * token's true shard count lies in [cnt, cnt + d] for surviving
    * entries, and a token absent from the summary has true count ≤ d —
    * so every token with frequency above N/(k+1) is guaranteed
    * present. Shard summaries are mergeable downstream (sum cnt, sum
    * d) — the same partial-then-merge shape as the batch sketches.
    *
    * Determinism contract: the fold follows (batch arrival, then
    * within-batch input order per shard) — the summary is a function
    * of the sharded input sequence, which tests control exactly.
    * Emission: after folding each batch, the shard's CURRENT summary
    * rows are emitted with the bracket [cnt, cnt + d] (Append-mode
    * friendly: a later batch re-emits the refreshed bracket; consumers
    * keep the last row per (shard, token), the run-ledger pattern).
    *
    * Scale: state is O(shards·k) regardless of stream size; the
    * decrement step amortizes O(1) per input token (each decrement
    * pays back an earlier increment). */
  final class MisraGriesProcessor(k: Int)
      extends StatefulProcessor[Int, TokenEvent, HeavyHitter] {
    @transient private var sum: MapState[String, Long] = _
    @transient private var rounds: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sum = getHandle.getMapState[String, Long]("mg",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      rounds = getHandle.getValueState[Long]("rounds",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Int, rows: Iterator[TokenEvent],
        tv: TimerValues): Iterator[HeavyHitter] = {
      // fold through a local map: one state read + one write per key
      // per batch, not per input row (MapState hits RocksDB)
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      sum.iterator().foreach { case (t, c) => m(t) = c }
      var d = if (rounds.exists()) rounds.get() else 0L
      rows.foreach { ev =>
        m.get(ev.token) match {
          case Some(c) => m(ev.token) = c + 1
          case None if m.size < k => m(ev.token) = 1L
          case None => // decrement-all round; evict zeroed entries
            d += 1
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            m.foreach { case (t, c) =>
              if (c == 1) dead += t else m(t) = c - 1
            }
            dead.foreach(m.remove)
        }
      }
      sum.clear()
      m.foreach { case (t, c) => sum.updateValue(t, c) }
      rounds.update(d)
      val dd = d
      m.iterator.map { case (t, c) => HeavyHitter(key, t, c, c + dd) }
    }
  }

  /** [[MisraGriesProcessor]] wired onto a sharded token stream; same
    * RocksDB provider requirement as [[sessionizeWithState]]. */
  def heavyHittersWithState(tokens: Dataset[TokenEvent],
      k: Int): Dataset[HeavyHitter] = {
    import tokens.sparkSession.implicits._
    keyed(tokens)(_.shard, new MisraGriesProcessor(k))
  }

  final case class SampleEvent(stratum: String, id: Long)
  final case class SampleEntry(h: Long, id: Long)
  final case class SampleState(entries: Seq[SampleEntry])
  final case class SampleRow(stratum: String, rank: Long, id: Long,
    sample_hash52: Long)

  /** Bounded-memory streaming stratified sampler — the live twin of
    * the batch [[graft.operators.Profile.stratifiedSample]] (x262):
    * per stratum, the k SMALLEST 52-bit md5 hash ranks of the ids
    * seen so far. Because the sample is a pure function of the SET of
    * ids (hash-rank selection, not reservoir sampling), it is
    * order-independent and batching-independent: replays, backfills,
    * and the batch operator over the same ids all converge to the
    * IDENTICAL sample — the property that makes a streaming eval
    * split trustworthy (a reservoir depends on arrival order and
    * RNG). Duplicate ids fold away (set semantics), matching the
    * batch side's unique-key corpus.
    *
    * Emission: run-ledger — each batch re-emits the updated stratum's
    * CURRENT sample (≤ k rows); consumers keep the last set per
    * stratum. State is O(k) per stratum regardless of stream size;
    * the per-row cost is one md5 + one bounded insert. Same RocksDB
    * provider requirement as [[sessionizeWithState]]. */
  def stratifiedSampleWithState(events: Dataset[SampleEvent],
      k: Int): Dataset[SampleRow] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.stratum, "sample", () => Encoders.product[SampleState],
        SampleState(Vector.empty)) { (key, prev, rows) =>
      // bounded insert into the sorted sample: memory stays O(k) even
      // within a batch. Duplicate ids need no extra tracking — the
      // rank is a pure function of the id, so re-inserting an id
      // either finds its (h, id) already in the sample (skip) or
      // fails the cut exactly as it did before (idempotent).
      var top = prev.entries.toVector
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { ev =>
        val b = ev.id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // the SAME portable rank the batch side computes:
        // md5-60 >> 8 — 52 bits, exact in any engine's double
        val h = graft.functions.ShingleKernels.md5Hash60(b, 0, b.length, md) / 256L
        val e = SampleEntry(h, ev.id)
        val worse = (x: SampleEntry) =>
          x.h > e.h || (x.h == e.h && x.id > e.id)
        if (top.length < k || worse(top.last)) {
          val at = top.indexWhere(worse)
          if (!top.contains(e)) {
            top = ((if (at == -1) top :+ e
                    else (top.take(at) :+ e) ++ top.drop(at))).take(k)
          }
        }
      }
      (Some(SampleState(top)), top.iterator.zipWithIndex.map { case (e, i) =>
        SampleRow(key, (i + 1).toLong, e.id, e.h)
      })
    }
  }

  final case class WeightedEvent(stratum: String, id: Long, w: Long)
  final case class WeightedEntry(key: Double, id: Long)
  final case class WeightedState(entries: Seq[WeightedEntry])
  final case class WeightedRow(stratum: String, rank: Long, id: Long,
    key_micro: Long)

  /** Bounded-memory streaming WEIGHTED sampler — the live twin of the
    * batch [[graft.operators.Profile.weightedSample]] (x272), the way
    * [[stratifiedSampleWithState]] twins the uniform one: per
    * stratum, the k LARGEST Efraimidis–Spirakis keys seen so far.
    * Because the key is a pure function of (id, w) — hash-uniform u
    * from the id's md5-60 upper 52 bits, the one ln quantized to
    * micro-nats, then the exact IEEE division lnu/w — the sample is
    * order- and batching-independent and converges to the batch
    * operator's output over the same rows; a weighted reservoir
    * (A-Res with RNG) could not make that promise. Rows with w ≤ 0
    * are dropped, matching the batch exclusion. An id re-arriving
    * with a DIFFERENT weight is a data error upstream; the twin
    * keeps whichever (key, id) entry wins, exactly as the batch side
    * would see the duplicated row.
    *
    * Both roundings are Spark's Round(double, 0) — BigDecimal HALF_UP
    * ([[graft.functions.VectorKernels.roundHalfUp]]), NOT Math.round,
    * whose half-case rounds toward +∞ and would drift one ulp from the
    * batch rendering on negative keys.
    *
    * State is O(k) per stratum; emission is the run-ledger
    * convention (each batch re-emits the stratum's current sample).
    * Same RocksDB provider requirement as [[sessionizeWithState]]. */
  def weightedSampleWithState(events: Dataset[WeightedEvent],
      k: Int): Dataset[WeightedRow] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.stratum, "wsample", () => Encoders.product[WeightedState],
        WeightedState(Vector.empty)) { (key, prev, rows) =>
      var top = prev.entries.toVector
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { ev =>
        if (ev.w > 0L) {
          val b = ev.id.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val h = graft.functions.ShingleKernels
            .md5Hash60(b, 0, b.length, md) / 256L
          // the batch chain verbatim: one quantized ln, IEEE division
          val lnu = graft.functions.VectorKernels.roundHalfUp(
            Math.log((h.toDouble + 1.0) / 4503599627370496.0), 1000000.0)
          val e = WeightedEntry(lnu.toDouble / ev.w.toDouble, ev.id)
          // keep k LARGEST keys, ties id asc
          val worse = (x: WeightedEntry) =>
            x.key < e.key || (x.key == e.key && x.id > e.id)
          if (top.length < k || worse(top.last)) {
            val at = top.indexWhere(worse)
            if (!top.contains(e)) {
              top = ((if (at == -1) top :+ e
                      else (top.take(at) :+ e) ++ top.drop(at))).take(k)
            }
          }
        }
      }
      (Some(WeightedState(top)), top.iterator.zipWithIndex.map { case (e, i) =>
        WeightedRow(key, (i + 1).toLong, e.id,
          graft.functions.VectorKernels.roundHalfUp(e.key, 1000000.0))
      })
    }
  }

  final case class UnicodeDoc(source: String, doc_id: Long, text: String)
  final case class UnicodeCounters(n_docs: Long, n_dirty_docs: Long,
    n_zero_width: Long, n_bidi: Long, n_replacement: Long, n_ctrl: Long)
  final case class UnicodeAlert(source: String, n_docs: Long,
    n_dirty_docs: Long, n_zero_width: Long, n_bidi: Long,
    n_replacement: Long, n_ctrl: Long)

  // the identical classes the batch operator's regexp_extract_all
  // compiles (TextAnalysis.unicodeAnomalies), compiled once
  private val ZeroWidthPat = java.util.regex.Pattern.compile("[\\u200B\\u200C\\u200D\\uFEFF]")
  private val BidiPat = java.util.regex.Pattern.compile("[\\u202A-\\u202E\\u2066-\\u2069]")
  private val ReplacementPat = java.util.regex.Pattern.compile("\\uFFFD")
  private val CtrlPat = java.util.regex.Pattern.compile(
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")

  /** Live unicode-anomaly monitor — the streaming twin of the batch
    * [[graft.operators.TextAnalysis.unicodeAnomalies]] (x261): per
    * source, cumulative exact counts of zero-width, bidi-control,
    * replacement, and C0-control codepoints plus the dirty-doc count,
    * on the SAME regex classes the batch side compiles (Java regex in
    * both — parity is structural). The ingest-side tripwire: a
    * scraper that starts emitting mojibake or a watermarking upstream
    * shows as a per-source counter step the batch screen would only
    * see next run.
    *
    * Emission: run-ledger — each batch re-emits the updated source's
    * cumulative row; consumers keep the last per source. State is six
    * longs per source. Same RocksDB provider requirement as
    * [[sessionizeWithState]]. */
  def unicodeMonitorWithState(docs: Dataset[UnicodeDoc]): Dataset[UnicodeAlert] = {
    import docs.sparkSession.implicits._
    keyedFold(docs)(_.source, "uni", () => Encoders.product[UnicodeCounters],
        UnicodeCounters(0L, 0L, 0L, 0L, 0L, 0L)) { (key, prev, rows) =>
      var c = prev
      rows.foreach { d =>
        val t = Option(d.text).getOrElse("")
        val (a, b, r, k) = (countMatches(ZeroWidthPat, t), countMatches(BidiPat, t),
          countMatches(ReplacementPat, t), countMatches(CtrlPat, t))
        c = UnicodeCounters(c.n_docs + 1,
          c.n_dirty_docs + (if (a + b + r + k > 0) 1L else 0L),
          c.n_zero_width + a, c.n_bidi + b, c.n_replacement + r, c.n_ctrl + k)
      }
      (Some(c), Iterator.single(UnicodeAlert(key, c.n_docs, c.n_dirty_docs,
        c.n_zero_width, c.n_bidi, c.n_replacement, c.n_ctrl)))
    }
  }

  final case class NbDoc(source: String, doc_id: Long, y: Boolean,
    text: String)
  final case class NbCounters(n_docs: Long, n_pred_pos: Long,
    n_correct: Long, sum_score: Long)
  final case class NbReport(source: String, n_docs: Long, n_pred_pos: Long,
    n_correct: Long, avg_score_micro: Long)

  /** Live classifier-quality monitor — the streaming twin of the batch
    * [[graft.operators.TextAnalysis.nbSourceReport]] (x273): per
    * source, cumulative doc/prediction/accuracy counts and the
    * truncating average score under a FROZEN weight table (trained by
    * `nbTrain`, typically snapshot-served — the serving shape x274
    * pins in batch). The ingest-side tripwire: a source whose
    * predicted-positive share or average score steps away from its
    * batch baseline is drifting AGAINST a fixed model — model drift
    * alarms need the model held still.
    *
    * Parity is structural: tokenization is the SAME
    * [[graft.functions.ShingleKernels.wordTokens]] kernel the batch
    * expression evaluates, features the same md5-60 mod 2^18
    * ([[graft.functions.ShingleKernels.md5Hash60]] — first 60 digest
    * bits, identical to the SQL hex-prefix parse), per-doc DISTINCT
    * presence, unseen features 0, zero-token docs scoring the bias
    * alone, and the average the same truncate-toward-zero division.
    * State is four longs per source; the weight map rides the step's
    * closure (≤ 2^18 entries ≈ 4 MB by the hashing-trick cap — the
    * same bound that makes the batch join broadcastable).
    *
    * `weights` is the [[graft.operators.TextAnalysis.nbTrain]] table
    * collected to a map (bias = the feature −1 row). Same RocksDB
    * provider requirement as [[sessionizeWithState]]. */
  def nbMonitorWithState(docs: Dataset[NbDoc],
      weights: Map[Long, Long], bias: Long): Dataset[NbReport] = {
    import docs.sparkSession.implicits._
    keyedFold(docs)(_.source, "nb", () => Encoders.product[NbCounters],
        NbCounters(0L, 0L, 0L, 0L)) { (key, prev, rows) =>
      // one digest per call: MessageDigest is stateful, not shareable
      val md = java.security.MessageDigest.getInstance("MD5")
      var c = prev
      rows.foreach { d =>
        val s = nbScore(d.text, weights, bias, md)
        val pos = s > 0L
        c = NbCounters(c.n_docs + 1,
          c.n_pred_pos + (if (pos) 1L else 0L),
          c.n_correct + (if (pos == d.y) 1L else 0L),
          c.sum_score + s)
      }
      // Long `/` truncates toward zero — the batch `div` contract
      (Some(c), Iterator.single(NbReport(key, c.n_docs, c.n_pred_pos, c.n_correct,
        c.sum_score / c.n_docs)))
    }
  }

  /** One document's score under [[nbMonitorWithState]]'s frozen
    * weights: the bias plus the weight of each DISTINCT hashed token. */
  private def nbScore(text: String, weights: Map[Long, Long], bias: Long,
      md: java.security.MessageDigest): Long = {
    val toks = graft.functions.ShingleKernels.wordTokens(
      org.apache.spark.unsafe.types.UTF8String
        .fromString(Option(text).getOrElse("")))
    val seen = new java.util.HashSet[Long]()
    var s = bias
    var i = 0
    while (i < toks.numElements()) {
      val bytes = toks.getUTF8String(i).getBytes
      val f = graft.functions.ShingleKernels
        .md5Hash60(bytes, 0, bytes.length, md) % 262144L
      if (seen.add(f)) s += weights.getOrElse(f, 0L)
      i += 1
    }
    s
  }

  final case class ActiveEvent(day: String, user_hash: Long)
  final case class ActiveEstimate(day: String, n_min: Long, kth: Long,
    est_distinct: Long)

  /** Bounded-memory streaming distinct actives — a per-day KMV
    * (k-minimum-values) sketch on the v2 state API: the streaming twin
    * of [[graft.operators.Profile.kmvDistinctSketch]] (x53) the way
    * [[MisraGriesProcessor]] twins the batch heavy hitters. Exact
    * streaming DAU needs the full per-day user set in state (unbounded
    * — x97's batch job can afford the exact distinct, a stream
    * cannot); the bottom-k hash sketch holds ≤ `k` longs per day
    * whatever the user cardinality, and its estimate
    * (k−1)·2⁶⁰/kth-min is the SAME auditable formula the batch sketch
    * ships.
    *
    * Parity contract (test-pinned): after folding any prefix of the
    * stream, a day's (n_min, kth, est_distinct) EQUALS the batch
    * `kmvDistinctSketch` of the same rows — the sketch is a function
    * of the hash SET, so batch boundaries, duplicate re-deliveries,
    * and arrival order all cannot move it. That also makes the sink
    * idempotent under at-least-once delivery, and the folding logic
    * IS the batch aggregator ([[graft.functions.BottomKLongs]].reduce
    * — one sorted-insert implementation, not two).
    *
    * Emission: each batch re-emits the refreshed estimate per touched
    * day (Append-friendly run-ledger pattern — consumers keep the last
    * row per day); the state is written even by a call that emits
    * nothing. Input hashes must already sit in [0, 2⁶⁰) (the md5-60
    * domain); out-of-range input fails loudly, matching the batch
    * operator's raise_error contract. Same RocksDB provider
    * requirement as [[sessionizeWithState]]. */
  def kmvActivesWithState(events: Dataset[ActiveEvent],
      k: Int): Dataset[ActiveEstimate] = {
    import events.sparkSession.implicits._
    require(k > 1, s"kmvActivesWithState: k must be > 1, got $k")
    val space = 1152921504606846976L // 2^60
    val sketch = new graft.functions.BottomKLongs(k)
    keyedFold(events)(_.day, "kmv", () => graft.functions.ExpressionEncoders.longArray,
        Array.empty[Long]) { (key, prev, rows) =>
      var buf = prev
      rows.foreach { ev =>
        if (ev.user_hash < 0 || ev.user_hash >= space)
          throw new IllegalArgumentException(
            s"kmvActivesWithState: user_hash outside [0, 2^60): ${ev.user_hash}")
        buf = sketch.reduce(buf, ev.user_hash)
      }
      if (buf.isEmpty) (Some(buf), Iterator.empty) // a keyed call with no new hashes
      else {
        val nMin = buf.length.toLong
        // identical arithmetic to the batch sketch: exact (k-1)·2⁶⁰
        // double, IEEE division, floor — engine- and path-identical
        val est =
          if (nMin < k) nMin
          else math.floor((k - 1).toDouble * space.toDouble /
            buf.last.toDouble).toLong
        (Some(buf), Iterator.single(ActiveEstimate(key, nMin, buf.last, est)))
      }
    }
  }

  final case class AsOfEvent(key: String, ts: Long, isProbe: Boolean,
    value: String)
  final case class AsOfJoined(key: String, probe_ts: Long,
    ref_ts: Option[Long], ref_value: Option[String])
  /** Bounded version history per key for [[asOfWithState]]: parallel
    * sorted arrays (ts ascending, one value per ts — last write wins). */
  final case class RefVersions(ts: Seq[Long], value: Seq[String])

  /** Streaming backward as-of — the CDC enrichment twin of
    * [[graft.operators.Joins.asOfBackward]]: a single keyed stream
    * interleaves REFERENCE updates (dimension versions) and PROBE
    * events; every probe emits the latest reference version with
    * ref.ts ≤ probe.ts (inclusive), out of a bounded per-key version
    * history in state.
    *
    * Contract (the honest streaming one): matching is exact in event
    * time for everything that has ARRIVED — within a batch, rows are
    * processed in (ts, ref-before-probe) order, so any interleaving
    * inside one batch resolves exactly; across batches, a reference
    * version that arrives AFTER a probe already emitted cannot
    * retro-correct it (append mode) — the probe matched the best
    * version known at the time, which is precisely what a production
    * lookup cache serves. When references arrive no later than the
    * probes they serve (the CDC ordering guarantee), streaming output
    * EQUALS the batch as-of — test-pinned.
    *
    * State is O(maxVersions) per key whatever the stream length: the
    * history keeps the newest `maxVersions` reference timestamps
    * (last-wins per equal ts), enough to serve probes up to that far
    * out of order. Same RocksDB provider requirement as
    * [[sessionizeWithState]]. */
  def asOfWithState(events: Dataset[AsOfEvent],
      maxVersions: Int = 32): Dataset[AsOfJoined] = {
    import events.sparkSession.implicits._
    require(maxVersions > 0,
      s"asOfWithState: maxVersions must be positive, got $maxVersions")
    keyedFold(events)(_.key, "asof", () => Encoders.product[RefVersions],
        RefVersions(Nil, Nil)) { (key, prior, rows) =>
      var ts = prior.ts.toArray
      var vs = prior.value.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[AsOfJoined]
      // refs sort before probes at equal ts → inclusive as-of; the
      // sort is stable, so equal-ts refs keep arrival order and the
      // LAST write wins (the map-like contract)
      rows.toArray.sortBy(e => (e.ts, if (e.isProbe) 1 else 0)).foreach { e =>
        val idx = java.util.Arrays.binarySearch(ts, e.ts)
        if (e.isProbe) {
          val at = if (idx >= 0) idx else -idx - 2 // greatest ts ≤ probe
          out += (if (at >= 0)
            AsOfJoined(key, e.ts, Some(ts(at)), Some(vs(at)))
          else AsOfJoined(key, e.ts, None, None))
        } else if (idx >= 0) {
          vs(idx) = e.value // same-ts reference: last write wins
        } else {
          val at = -idx - 1
          ts = (ts.take(at) :+ e.ts) ++ ts.drop(at)
          vs = (vs.take(at) :+ e.value) ++ vs.drop(at)
          if (ts.length > maxVersions) { // keep the newest versions
            ts = ts.takeRight(maxVersions)
            vs = vs.takeRight(maxVersions)
          }
        }
      }
      (Some(RefVersions(ts.toSeq, vs.toSeq)), out.iterator)
    }
  }

  final case class TimedEvent(user_id: Long, event_id: Long,
    et: java.sql.Timestamp)

  /** Event-time sessionizer with TIMER-driven close — the production
    * shape of [[sessionizeWithState]]: instead of waiting for the NEXT
    * event of the same user (which for a churned user never comes, so
    * the tail session would sit in state forever and never emit), every
    * open session registers an event-time timer at `end + gap`; when
    * the watermark passes it, [[handleExpiredTimer]] emits the session
    * and clears the state — bounded state with NO sentinel protocol.
    *
    * Timer discipline: at most ONE live timer per key — each
    * extend/rollover deletes the previous registration (a stale timer
    * would re-emit an already-closed session). The gap close inside
    * `handleInputRows` still applies when events arrive faster than
    * the watermark moves; the timer handles the complementary case
    * (the user stops sending). */
  final class EventTimeSessionProcessor(gapSec: Long)
      extends StatefulProcessor[Long, TimedEvent, SessionOut] {
    @transient private var sess: ValueState[SessionOut] = _
    // last session_id EVER issued for this key — survives the timer
    // close clearing `sess`, so a returning user continues the
    // numbering instead of re-issuing (user_id, 1) and colliding with
    // the already-emitted row under downstream keyed upserts
    @transient private var lastId: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[SessionOut]("session",
        org.apache.spark.sql.Encoders.product[SessionOut], TTLConfig.NONE)
      lastId = getHandle.getValueState[Long]("lastSessionId",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    private def rearm(endTsSec: Long): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer((endTsSec + gapSec) * 1000L)
    }

    private def nextId(): Long =
      (if (lastId.exists()) lastId.get() else 0L) + 1L

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
        tv: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toArray.sortBy(e => (e.et.getTime, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = if (sess.exists()) Option(sess.get()) else None
      sorted.foreach { e =>
        val ts = e.et.getTime / 1000L
        cur match {
          case Some(s) if ts - s.end_ts <= gapSec =>
            cur = Some(s.copy(n_events = s.n_events + 1,
              end_ts = math.max(s.end_ts, ts)))
          case Some(s) =>
            out += s.copy(closed = true)
            cur = Some(SessionOut(key, s.session_id + 1, 1L, ts, ts, closed = false))
          case None =>
            cur = Some(SessionOut(key, nextId(), 1L, ts, ts, closed = false))
        }
      }
      cur.foreach { s =>
        sess.update(s); lastId.update(s.session_id); rearm(s.end_ts)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val out = if (sess.exists()) {
        val s = sess.get()
        // only a timer matching the CURRENT session end may close it —
        // a racing just-extended session re-armed to a later expiry
        if (info.getExpiryTimeInMs() >= (s.end_ts + gapSec) * 1000L) {
          sess.clear() // lastId stays: the counter outlives the session
          Iterator.single(s.copy(closed = true))
        } else Iterator.empty
      } else Iterator.empty
      out
    }
  }

  /** [[EventTimeSessionProcessor]] on a watermarked stream: sessions
    * close `gapSec` after their last event once the watermark (held
    * back by `watermarkDelay`) passes — no sentinel, bounded state. */
  def sessionizeWithTimers(events: Dataset[TimedEvent], gapSec: Long,
      watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    keyed(events.withWatermark("et", watermarkDelay))(_.user_id,
      new EventTimeSessionProcessor(gapSec), TimeMode.EventTime())
  }

  final case class QuantEvent(grp: String, v: Long)
  final case class QuantileStat(grp: String, n: Long,
    p25: Long, p50: Long, p75: Long, p90: Long, p99: Long)

  /** Bounded-memory streaming EXACT quantiles — a per-group value
    * histogram in `MapState`, the live twin of the batch
    * [[graft.operators.Profile.exactQuantilesByGroup]] audit (x205)
    * the way [[MisraGriesProcessor]] twins the heavy hitters: state is
    * O(distinct values) per group, NOT O(rows), and the same
    * percentile_disc rank rule (smallest v with p·n ≤ 100·cum —
    * integer-exact, no float compare) reads the quantiles off the
    * histogram after each batch.
    *
    * Parity contract (test-pinned): after folding any prefix of the
    * stream, a group's (n, p25, p50, p75, p90, p99) EQUALS the batch
    * audit of the same rows at percents {25,50,75,90,99} — the
    * histogram is a function of the value MULTISET, so batch
    * boundaries and arrival order cannot move it. The percent set is
    * fixed so the emit row is a concrete encoder type; it matches
    * x205's declared percents.
    *
    * Envelope, same contract as the batch operator's raise_error: a
    * group whose histogram exceeds `maxDistinct` distinct values
    * fails LOUDLY (the histogram would be degrading toward a per-row
    * value log — quantize the value column first) instead of silently
    * growing state.
    *
    * Emission: each batch re-emits the refreshed quantiles per
    * touched group (Append-friendly run-ledger pattern — consumers
    * keep the last row per group). Writes back only the batch's
    * CHANGED histogram keys (one RocksDB write per touched value, not
    * per live value). */
  final class QuantileMonitorProcessor(maxDistinct: Int)
      extends StatefulProcessor[String, QuantEvent, QuantileStat] {
    require(maxDistinct >= 1,
      s"QuantileMonitorProcessor: maxDistinct must be positive, got $maxDistinct")
    @transient private var hist: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, Long]("qhist",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[QuantEvent],
        tv: TimerValues): Iterator[QuantileStat] = {
      val delta = scala.collection.mutable.HashMap.empty[Long, Long]
      rows.foreach { ev => delta(ev.v) = delta.getOrElse(ev.v, 0L) + 1L }
      if (delta.isEmpty) return Iterator.empty
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      hist.iterator().foreach { case (v, c) => m(v) = c }
      delta.foreach { case (v, c) => m(v) = m.getOrElse(v, 0L) + c }
      if (m.size > maxDistinct) throw new IllegalStateException(
        s"QuantileMonitorProcessor: group $key holds ${m.size} distinct " +
          s"values — past the histogram envelope ($maxDistinct); " +
          "quantize the value column first")
      delta.keysIterator.foreach(v => hist.updateValue(v, m(v)))
      val sorted = m.toArray.sortBy(_._1)
      val n = sorted.iterator.map(_._2).sum
      def q(p: Long): Long = {
        var cum = 0L
        var i = 0
        while (i < sorted.length) {
          cum += sorted(i)._2
          if (p * n <= 100L * cum) return sorted(i)._1
          i += 1
        }
        sorted.last._1
      }
      Iterator.single(QuantileStat(key, n, q(25), q(50), q(75), q(90), q(99)))
    }
  }

  /** [[QuantileMonitorProcessor]] wired onto a keyed value stream;
    * same RocksDB provider requirement as [[sessionizeWithState]]. */
  def quantileMonitorWithState(events: Dataset[QuantEvent],
      maxDistinct: Int = 3000000): Dataset[QuantileStat] = {
    import events.sparkSession.implicits._
    keyed(events)(_.grp, new QuantileMonitorProcessor(maxDistinct))
  }

  final case class DocIngest(source: String, text: String)
  final case class DamageStat(source: String, n_docs: Long, n_damaged: Long,
      damaged_rate_micro: Long, latin1_hits: Long, punct_hits: Long,
      replacement_hits: Long, nbsp_hits: Long)
  private[graft] final case class DamageCounts(n_docs: Long, n_damaged: Long,
      l1: Long, pu: Long, re: Long, nb: Long)

  // the FOUR batch signatures, compiled once — java.util.regex IS the
  // engine behind Spark's regexp_extract_all, so per-doc counts match
  // TextAnalysis.mojibakeScreen exactly
  private val DamagePats: Array[java.util.regex.Pattern] =
    Array("Ã.", "â€", "�", "Â")
      .map(java.util.regex.Pattern.compile)

  private def countMatches(p: java.util.regex.Pattern, s: String): Long = {
    val m = p.matcher(s)
    var c = 0L
    while (m.find()) c += 1
    c
  }

  /** Streaming encoding-damage monitor — the live twin of
    * [[graft.operators.TextAnalysis.mojibakeScreen]] (x237): keyed by
    * source, state holds six exact counters (docs, damaged docs, four
    * signature hit totals), and every micro-batch emits each TOUCHED
    * source's RUNNING per-source row — re-extraction alarms fire as a
    * feed degrades instead of at the nightly screen.
    *
    * Parity contract (test-pinned): after any prefix of the stream,
    * the latest emit per source equals the batch screen run on that
    * prefix — same regex engine, same integer truncating rate.
    * Bounded state: six longs per source, touched-keys-only writes.
    * Same RocksDB provider requirement as [[sessionizeWithState]]. */
  def damageMonitorWithState(docs: Dataset[DocIngest]): Dataset[DamageStat] = {
    import docs.sparkSession.implicits._
    keyedFold(docs)(_.source, "damage", () => Encoders.product[DamageCounts],
        DamageCounts(0L, 0L, 0L, 0L, 0L, 0L)) { (key, prev, rows) =>
      var c = prev
      rows.foreach { d =>
        val t = Option(d.text).getOrElse("")
        val h = DamagePats.map(countMatches(_, t))
        c = DamageCounts(c.n_docs + 1L,
          c.n_damaged + (if (h.sum > 0) 1L else 0L),
          c.l1 + h(0), c.pu + h(1), c.re + h(2), c.nb + h(3))
      }
      (Some(c), Iterator.single(DamageStat(key, c.n_docs, c.n_damaged,
        c.n_damaged * 1000000L / c.n_docs, c.l1, c.pu, c.re, c.nb)))
    }
  }

  // ---- PII-leak monitor (streaming twin of x251 piiChecksums) --------

  final case class PiiStat(source: String, n_docs: Long, n_leaky: Long,
      leak_rate_micro: Long, card_candidates: Long, card_valid: Long,
      iban_candidates: Long, iban_valid: Long, phones: Long)
  private[graft] final case class PiiCounts(n_docs: Long, n_leaky: Long,
      cc: Long, cv: Long, ic: Long, iv: Long, ph: Long)

  private val CardPat = java.util.regex.Pattern.compile("\\b\\d{13,19}\\b")
  private val IbanPat =
    java.util.regex.Pattern.compile("\\b[A-Z]{2}\\d{2}[A-Z0-9]{10,30}\\b")
  private val PhonePat = java.util.regex.Pattern.compile("\\+[1-9]\\d{7,14}\\b")

  /** The ONE checksum rendering — the batch codegen expressions and
    * this monitor share the [[graft.functions.ShingleKernels]]
    * kernels, so stream/batch parity is by construction. */
  private[graft] def luhnValid(s: String): Boolean =
    graft.functions.ShingleKernels.luhnValid(s)

  private[graft] def ibanValid(s: String): Boolean =
    graft.functions.ShingleKernels.ibanMod97Valid(s)

  private def matches(p: java.util.regex.Pattern, s: String): Seq[String] = {
    val m = p.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  /** Streaming PII-leak monitor — the live twin of
    * [[graft.operators.TextAnalysis.piiChecksums]] (x251): keyed by
    * source, state holds seven exact counters, and every micro-batch
    * emits each TOUCHED source's RUNNING row — a feed that starts
    * leaking checksum-VALID cards or IBANs alarms within one batch,
    * not at the nightly screen. A doc is `leaky` when it carries at
    * least one Luhn-valid card or mod-97-valid IBAN (candidates
    * alone are pattern noise — the checksum is the signal, the x251
    * contract).
    *
    * Parity contract (test-pinned): after any stream prefix, the
    * latest emit per source equals the batch operator aggregated per
    * source over that prefix — same Java regex, same checksums, same
    * truncating rate. Bounded state: seven longs per source. Same
    * RocksDB provider requirement as [[sessionizeWithState]]. */
  def piiMonitorWithState(docs: Dataset[DocIngest]): Dataset[PiiStat] = {
    import docs.sparkSession.implicits._
    keyedFold(docs)(_.source, "pii", () => Encoders.product[PiiCounts],
        PiiCounts(0L, 0L, 0L, 0L, 0L, 0L, 0L)) { (key, prev, rows) =>
      var c = prev
      rows.foreach { d =>
        val t = Option(d.text).getOrElse("")
        val cards = matches(CardPat, t)
        val ibans = matches(IbanPat, t)
        val cv = cards.count(luhnValid)
        val iv = ibans.count(ibanValid)
        c = PiiCounts(c.n_docs + 1L,
          c.n_leaky + (if (cv + iv > 0) 1L else 0L),
          c.cc + cards.length, c.cv + cv,
          c.ic + ibans.length, c.iv + iv,
          c.ph + matches(PhonePat, t).length)
      }
      (Some(c), Iterator.single(PiiStat(key, c.n_docs, c.n_leaky,
        c.n_leaky * 1000000L / c.n_docs,
        c.cc, c.cv, c.ic, c.iv, c.ph)))
    }
  }
}
