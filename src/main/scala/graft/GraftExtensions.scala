package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._
import graft.sources.ZipEntries

/** SQL registration for the engine's native expressions, so
  * `spark.sql` users have the same surface as the Column API:
  *
  *  - `cosine_similarity(a, b)`, `dot_product(a, b)`
  *  - `minhash(tokens, k)`, `minhash_longs(hashes, k)`, `simhash(tokens)`
  *  - `shingle_hashes(text, n)`, `ngram_hashes(tokens, n)`
  *  - `sorted_jaccard(a, b)`
  *  - `zip_entries(binary)` (generator)
  *  - `md5_bucket60(key)` (the portable split/sample/shard bucket)
  *
  * Two entry points:
  *  - builder time: `.withExtensions(new GraftExtensions)` — survives
  *    into every derived session;
  *  - post hoc: `GraftExtensions.register(spark)` for an existing
  *    session (what GraftExtensionsSpec uses; Verify and Bench build
  *    their queries through the Column API and register neither).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def arity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")
      b(args)
    }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** (name, info, builder) triples for every SQL-exposed expression. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity",
      info("cosine_similarity", "_FUNC_(a, b) - cosine of two float arrays"),
      arity("cosine_similarity", 2)(args => CosineSimilarity(args(0), args(1)))),
    ("dot_product",
      info("dot_product", "_FUNC_(a, b) - dot product of two float arrays"),
      arity("dot_product", 2)(args => DotProduct(args(0), args(1)))),
    ("minhash",
      info("minhash", "_FUNC_(tokens, k) - k-wide minhash signature of a string array"),
      arity("minhash", 2)(args => MinHashSignature(args(0), intArg(args(1), "k")))),
    ("minhash_longs",
      info("minhash_longs", "_FUNC_(hashes, k) - k-wide minhash signature of a long array"),
      arity("minhash_longs", 2)(args => MinHashFromLongs(args(0), intArg(args(1), "k")))),
    ("simhash",
      info("simhash", "_FUNC_(tokens) - 64-bit simhash of a string array"),
      arity("simhash", 1)(args => SimHash64(args(0)))),
    ("shingle_hashes",
      info("shingle_hashes", "_FUNC_(text, n) - xxhash64 of every n-codepoint window"),
      arity("shingle_hashes", 2)(args => ShingleHashes(args(0), intArg(args(1), "n")))),
    ("ngram_hashes",
      info("ngram_hashes", "_FUNC_(tokens, n) - combined hash of every n consecutive tokens"),
      arity("ngram_hashes", 2)(args => NGramHashes(args(0), intArg(args(1), "n")))),
    ("sorted_jaccard",
      info("sorted_jaccard", "_FUNC_(a, b) - Jaccard of two sorted distinct long arrays"),
      arity("sorted_jaccard", 2)(args => SortedLongJaccard(args(0), args(1)))),
    ("ngram_strings",
      info("ngram_strings", "_FUNC_(tokens, n) - space-joined n-grams of consecutive tokens"),
      arity("ngram_strings", 2)(args => NGramStrings(args(0), intArg(args(1), "n")))),
    ("md5_shingle_hashes",
      info("md5_shingle_hashes", "_FUNC_(text, n) - portable md5-60 hash of every n-codepoint window"),
      arity("md5_shingle_hashes", 2)(args => Md5ShingleHashes(args(0), intArg(args(1), "n")))),
    ("md5_simhash",
      info("md5_simhash", "_FUNC_(tokens) - portable 60-bit simhash of a string array"),
      arity("md5_simhash", 1)(args => Md5SimHash(args(0)))),
    ("md5_ngram_hashes",
      info("md5_ngram_hashes", "_FUNC_(tokens, n) - portable md5-60 hash of every n-token window"),
      arity("md5_ngram_hashes", 2)(args => Md5NGramHashes(args(0), intArg(args(1), "n")))),
    ("md5_ngram_minhash",
      info("md5_ngram_minhash", "_FUNC_(tokens, n, k) - k-slot salted-md5 minhash over n-token windows"),
      arity("md5_ngram_minhash", 3)(args =>
        Md5NGramMinHash(args(0), intArg(args(1), "n"), intArg(args(2), "k")))),
    ("zip_entries",
      info("zip_entries", "_FUNC_(bytes) - explode zip archive bytes to (entry_name, content)"),
      arity("zip_entries", 1)(args => ZipEntries(args(0)))),
    // composition of built-ins, not a native Expression: the SAME
    // conv(substring(md5(cast),1,15),16,10) tree TextFunctions
    // .md5Bucket60 renders (parity-pinned in GraftExtensionsSpec), so
    // SQL users share the one split/sample/shard bucket contract
    ("md5_bucket60",
      info("md5_bucket60",
        "_FUNC_(key) - first 15 md5 hex chars of the stringified key as a 60-bit integer (the portable split/sample/shard bucket)"),
      arity("md5_bucket60", 1) { args =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Md5, Substring}
        import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
        Cast(Conv(Substring(
          Md5(Cast(Cast(args(0), StringType), BinaryType)),
          Literal(1), Literal(15)), Literal(16), Literal(10)), LongType)
      }),
    // composition of built-ins, like md5_bucket60: the SAME
    // RegExpReplace chain TextFunctions.normalizeText renders, built
    // from the shared normalizeRules constants (parity-pinned in
    // GraftExtensionsSpec) — SQL and DataFrame users get one
    // normalization contract. (The bridge's Column→Expression path
    // yields unresolved Connect nodes here, so the tree is built from
    // Catalyst nodes directly.)
    ("normalize_text",
      info("normalize_text",
        "_FUNC_(text) - canonical cleanup: zero-widths removed, controls/whitespace collapsed, smart quotes and dashes folded to ASCII (idempotent)"),
      arity("normalize_text", 1) { args =>
        import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StringTrim}
        StringTrim(
          graft.functions.TextFunctions.normalizeRules.foldLeft(args(0)) {
            case (e, (p, r)) => RegExpReplace(e, Literal(p), Literal(r))
          })
      }),
  )

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
