package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}

/** The one owner of "pin this intermediate": every checkpoint the
  * engine takes (operators, queries, pipelines and the streaming
  * `foreachBatch`) goes through [[apply]], and every early release
  * through [[release]].
  *
  * Why: a frame that feeds several consumers (two join branches, a
  * count AND the output) is otherwise recomputed once per consumer,
  * and their scan stages race — each starts before any cache is
  * populated. An eager checkpoint computes it exactly once, before any
  * consumer is planned; for a side-effecting frame (an HTTP fetch, a
  * revision protocol) that is also what makes the effect run once.
  * `localCheckpoint(eager)` rather than `cache()` + `count()`: the same
  * one-pass materialization, but lineage is truncated (consumers cannot
  * fall back to recomputing) and the blocks are released by the
  * ContextCleaner once the frame is unreachable, so repeated operator
  * calls do not accumulate pinned cache entries.
  *
  * Durability trade-off: with truncated lineage an executor lost
  * while a consumer runs fails that job instead of recomputing the
  * lost blocks. On one machine that never happens; at cluster scale
  * (100 TB) the durable variant is a reliable `checkpoint()` to a
  * fault-tolerant store or a written table — and this object is the
  * one place to make that change.
  *
  * Names: `step` reads `"<Object>.<method>: <step>"`, e.g.
  * `"TextAnalysis.vocabStats: counts"` (SCALE.md §33). It becomes the
  * Spark job description of the jobs the step runs, so every
  * materialization is attributable in listener events and the UI.
  */
object Materialize {

  /** Checkpoint `df`, running its materialization job under the job
    * description `step`. `eager` is `localCheckpoint`'s own flag: a
    * lazy checkpoint is written by the first action that reads it,
    * which is race-free only when that action is its sole consumer
    * until the blocks exist (connected components' count-driven
    * rounds). */
  def apply(df: DataFrame, step: String, eager: Boolean = true): DataFrame = {
    val cp = named(df.sparkSession, step)(df.localCheckpoint(eager))
    // the RDD carries the step's name too, so the stages that read the
    // checkpoint and the storage listing name it
    graftbridge.checkpointRdd(cp).foreach(_.setName(step))
    cp
  }

  /** Free the blocks behind a checkpoint NOW, instead of when the
    * ContextCleaner collects it — iterative operators holding one
    * snapshot per round would otherwise grow executor storage with the
    * round count. Only a frame that IS a checkpoint (its analyzed plan
    * is the checkpoint's RDD scan) is released; any frame derived from
    * one is a no-op, so releasing it can never free a checkpoint that
    * other frames still read. An expected free: it logs nothing. */
  def release(df: DataFrame): Unit =
    graftbridge.checkpointRdd(df).foreach(graftbridge.unpersistQuietly(_, blocking = false))

  /** A fixed-round loop: round r's frame is `next(previous, r)`,
    * checkpointed under `step` (static job graph, truncated lineage),
    * and the previous round's frame is released once the next one
    * exists — a no-op when it is not a checkpoint, such as a lazy
    * round-0 frame derived from one. Returns round `n`'s frame (`init`
    * when `n` is 0). */
  def rounds(init: DataFrame, n: Int, step: String)(
      next: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (prev, r) =>
      val cur = apply(next(prev, r), step)
      release(prev)
      cur
    }

  /** Run `body` with `step` as the Spark job description, so its jobs
    * and stages carry the step's name; the caller's description (a
    * bench's job group, say) is restored afterwards, also when `body`
    * throws. */
  def named[T](spark: SparkSession, step: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(step)
    try body finally sc.setJobDescription(prev)
  }

  /** Sketching is CPU-bound; a corpus arriving in fewer splits than
    * cores (one small parquet file → one partition) would hash on a
    * single thread. Round-robin repartition of the raw docs is cheap
    * relative to hashing and restores full parallelism. No-op when the
    * input already has enough splits (the 100 TB case; pinned by
    * MaterializeSpec). Filters and column pruning push through the
    * Repartition, so scan pushdown is unchanged.
    *
    * r19: the fixture tables arrive as ONE small parquet file (584 KB
    * documents at sf0.1 → a single scan split), so every scan-fused
    * heavy projection (md5 sketches, shingling, phash, tokenize+agg)
    * ran on one core — a 3.8 s 1-task stage carried 77% of x88;
    * spreading `docs()` restores the fan-out for a few ms of exchange.
    * Only callers that call this are spread: repartitioning every
    * consumer measured slower. */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }
}
