package graft.queries

import graft.functions.TextFunctions._
import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.Multimodal]]: media decoding
  * and perceptual-hash near-duplicates.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object MultimodalQueries extends QueryFamily {

  /** x12 multimodal feature extraction: binary payload → batched
    * per-partition features (byte histogram real, decode dims
    * stubbed — see Multimodal scaladoc). */
  val x12 = query("x12_multimodal_features",
    // The stub decode dims derive from 6-hex-digit md5 slices; DuckDB
    // parses them via the '0x...' string-cast.
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |       CAST(strlen(text) AS BIGINT) AS byte_len,
      |       md5(text) AS content_hash,
      |       CAST(64 + (CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 1024) AS INT) AS width,
      |       CAST(64 + (CAST('0x' || substr(md5(text), 7, 6) AS BIGINT) % 1024) AS INT) AS height,
      |       CAST(1 + (CAST('0x' || substr(md5(text), 13, 6) AS BIGINT) % 64) AS INT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
    Multimodal.extractFeatures(
        Multimodal.asMedia(docs(s, dir), "doc_id", "text", "text", "source"))
      .toDF()
      .select(col("media_id"), col("byte_len"), col("content_hash"),
        col("width"), col("height"), col("n_frames"))
      .orderBy(col("media_id"))
  }

  /** x88 perceptual-hash near-dup profile over media payloads
    * ([[Multimodal.perceptualHash]] + [[Multimodal.phashNearDup]]):
    * the image-near-dup shape on the fixture's text-as-bytes payloads,
    * summarized per Hamming distance (pair count + distinct docs
    * involved — bounded output at any corpus; letter-salad byte
    * spectra correlate, so the raw pair list is corpus-quadratic).
    * The banded engine feeds the profile, and the oracle recomputes it
    * from a brute-force all-pairs join — so the 4-band pigeonhole
    * recall guarantee is itself gate-checked. */
  val x88 = query("x88_phash_neardup",
    // Brute-force all-pairs ground truth for the banded engine: the
    // dHash bit rule is an integer compare over the zero-filled mod-32
    // byte histogram (ascii(c) % 32 IS the byte bin for the ASCII
    // fixture payloads), and recomputing the profile from ALL pairs
    // makes the 4-band pigeonhole recall claim part of the gate.
    """WITH ch AS (
      |  SELECT doc_id,
      |         list_transform(range(1, strlen(text) + 1),
      |                        i -> ascii(substr(text, CAST(i AS INT), 1)) % 32) AS bins
      |  FROM documents),
      |hist AS (SELECT doc_id,
      |                list_transform(range(0, 32),
      |                               b -> len(list_filter(bins, x -> x = b))) AS h
      |         FROM ch),
      |ph AS (SELECT doc_id,
      |              CAST(list_sum(list_transform(range(0, 32),
      |                b -> CASE WHEN h[CAST(b AS INT) + 1] > h[CAST((b + 1) % 32 AS INT) + 1]
      |                          THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS phash
      |       FROM hist),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |              CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |       FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
      |SELECT hamming, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
      |       CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      |FROM (SELECT hamming, unnest([doc_a, doc_b]) AS d FROM pr WHERE hamming <= 2) t
      |GROUP BY hamming ORDER BY hamming""".stripMargin) { (s, dir) =>
    Multimodal.phashNearDup(
        Multimodal.perceptualHash(
          Multimodal.asMedia(docs(s, dir), "doc_id", "text", "text", "source")),
        maxHamming = 2)
      .select(col("hamming"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"), col("doc_a"), col("doc_b"))
      .groupBy(col("hamming"))
      .agg((count(lit(1)) / 2).cast("bigint").as("n_pairs"),
        count_distinct(col("d")).as("n_docs"))
      .orderBy(col("hamming"))
  }
}
