package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ShingleFunctions, VectorFunctions}

/** Direct calls into single layers, each over a generated frame of fixed
  * size, for the traced run's per-layer numbers. */
object Micro {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Median seconds of three evaluations of `df` (results forced through
    * a hash aggregate so no column is pruned). */
  private def timeIt(df: DataFrame): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    df.agg(max(xxhash64(df.columns.map(col): _*))).collect()
    (System.nanoTime() - t0) / 1e9
  })

  /** rows/s of each native kernel over `n` generated rows. */
  def kernels(spark: SparkSession, n: Int = 20000): Map[String, Double] = {
    import spark.implicits._
    val rng = new Random(7)
    val words = Vector("spark", "stream", "join", "vector", "merge", "table", "row", "hash")
    val frame = (0 until n).map { i =>
      val text = Seq.fill(12)(words(rng.nextInt(words.size))).mkString(" ")
      (i.toLong, text, Array.fill(64)(rng.nextFloat() - 0.5f), Array.fill(64)(rng.nextFloat() - 0.5f),
        Seq.fill(8)(rng.nextInt(16)), Array.fill(64)(rng.nextDouble() - 0.5))
    }.toDF("id", "text", "a", "b", "codes", "q").repartition(spark.sparkContext.defaultParallelism).cache()
    frame.count()
    val tokens = split(col("text"), " ")
    val codebook = Array.tabulate(8, 16, 8)((m, c, d) => ((m * 31 + c * 7 + d) % 17 - 8) / 16.0)
    val merges = Seq(("s", "p"), ("sp", "a"), ("r", "o"), ("ro", "w"), ("h", "a"), ("t", "a"))
    val kernels: Seq[(String, Column)] = Seq(
      "cosine_similarity" -> VectorFunctions.cosine_similarity(col("a"), col("b")),
      "dense_embedding" -> VectorFunctions.dense_embedding(
        transform(col("codes"), (c, i) => struct(i.as("i"), (c.cast("long") + i).as("v"))), 64),
      "md5_shingle_hashes" -> ShingleFunctions.md5_shingle_hashes(col("text"), 5),
      "md5_ngram_minhash" -> ShingleFunctions.md5_ngram_minhash(tokens, 3, 32),
      "bpe_apply_merges" -> ShingleFunctions.bpe_apply_merges(
        ShingleFunctions.char_syms(col("text")),
        typedLit(merges.map(_._1)), typedLit(merges.map(_._2))),
      "pq_adc_micro" -> VectorFunctions.pq_adc_micro(col("codes"), col("q"), codebook))
    val out = kernels.map { case (name, k) => name -> n / timeIt(frame.select(k.as("r"))) }.toMap
    frame.unpersist(true)
    out
  }

  /** Seconds of `Dedup.connectedComponents` on a fixed pair set: 5000
    * doc ids in random trees of 2–60 nodes. The call runs as an
    * `operators.cc` span of `t`, so its jobs can be counted. */
  def connectedComponents(spark: SparkSession, t: Tracer): Double = {
    import spark.implicits._
    val rng = new Random(11)
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    var next = 0L
    while (next < 5000) {
      val size = 2 + rng.nextInt(59)
      (1 until size).foreach(j => pairs += ((next + rng.nextInt(j), next + j)))
      next += size
    }
    val df = pairs.toSeq.toDF("doc_a", "doc_b")
    val t0 = System.nanoTime()
    t.span("operators.cc", "connectedComponents")(graft.operators.Dedup.connectedComponents(df).collect())
    (System.nanoTime() - t0) / 1e9
  }

  /** Stop validation (`makeStopRows` + `splitValid`) rows/s and the share
    * it rejects, over `n` generated raw stop rows. */
  def validate(spark: SparkSession, n: Int = 50000): (Double, Double) = {
    import spark.implicits._
    val feeds = new Feeds(3, nFeeds = 8, totalStops = n)
    val raw = feeds.v1.toSeq.flatMap { case (f, stops) =>
      stops.map(s => (f, s.name, s.lat, s.lon, s.id, "C" + s.id, "Z", s.locType))
    }.toDF("feed_id", "stop_name", "stop_lat", "stop_lon", "stop_id", "stop_code", "zone_id",
      "location_type").repartition(spark.sparkContext.defaultParallelism).cache()
    val total = raw.count()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val (valid, invalid) = graft.transform.StopsTransforms.splitValid(
        graft.transform.StopsTransforms.makeStopRows(raw))
      val counts = (valid.count(), invalid.count())
      ((System.nanoTime() - t0) / 1e9, counts)
    }
    raw.unpersist(true)
    val (s, (_, bad)) = times.sortBy(_._1).apply(1)
    (total / s, bad.toDouble / total)
  }
}
