package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

import graft.functions.{HashFunctions, ShingleFunctions, VectorFunctions}
import graft.sources.ZipEntries

/** SQL registration for the engine's native functions, so `spark.sql`
  * users have the same surface as the Column API:
  *
  *  - `cosine_similarity(a, b)`, `dot_product(a, b)`
  *  - `minhash(tokens, k)`, `minhash_longs(hashes, k)`, `simhash(tokens)`
  *  - `shingle_hashes(text, n)`, `ngram_hashes(tokens, n)`,
  *    `ngram_strings(tokens, n)`
  *  - `sorted_jaccard(a, b)`
  *  - `md5_shingle_hashes(text, n)`, `md5_simhash(tokens)`,
  *    `md5_ngram_hashes(tokens, n)`, `md5_ngram_minhash(tokens, n, k)`
  *  - `zip_entries(binary)` (generator)
  *  - `md5_bucket60(key)` (the portable split/sample/shard bucket)
  *  - `normalize_text(text)` (the canonical text cleanup)
  *
  * The kernel functions are built by their Column declarations
  * ([[graft.functions.KernelCall]]), so SQL and Column calls are one
  * plan. Two entry points:
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

  /** One call's SQL arguments, as a Column declaration takes them. */
  private final class SqlArgs(args: Seq[Expression]) {
    def col(i: Int): Column = toColumn(args(i))
    def int(i: Int, what: String): Int = intArg(args(i), what)
  }

  /** A kernel function, built by its Column declaration. */
  private def kernel(name: String, usage: String, n: Int)(declare: SqlArgs => Column) =
    (name, info(name, usage),
      arity(name, n)(args => toExpression(declare(new SqlArgs(args)))))

  /** (name, info, builder) triples for every SQL-exposed expression. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    kernel("cosine_similarity", "_FUNC_(a, b) - cosine of two float arrays", 2) {
      a => VectorFunctions.cosine_similarity(a.col(0), a.col(1)) },
    kernel("dot_product", "_FUNC_(a, b) - dot product of two float arrays", 2) {
      a => VectorFunctions.dot_product(a.col(0), a.col(1)) },
    kernel("minhash", "_FUNC_(tokens, k) - k-wide minhash signature of a string array", 2) {
      a => HashFunctions.minhash(a.col(0), a.int(1, "k")) },
    kernel("minhash_longs", "_FUNC_(hashes, k) - k-wide minhash signature of a long array", 2) {
      a => ShingleFunctions.minhash_longs(a.col(0), a.int(1, "k")) },
    kernel("simhash", "_FUNC_(tokens) - 64-bit simhash of a string array", 1) {
      a => HashFunctions.simhash(a.col(0)) },
    kernel("shingle_hashes", "_FUNC_(text, n) - xxhash64 of every n-codepoint window", 2) {
      a => ShingleFunctions.shingle_hashes(a.col(0), a.int(1, "n")) },
    kernel("ngram_hashes",
        "_FUNC_(tokens, n) - combined hash of every n consecutive tokens", 2) {
      a => ShingleFunctions.ngram_hashes(a.col(0), a.int(1, "n")) },
    kernel("sorted_jaccard", "_FUNC_(a, b) - Jaccard of two sorted distinct long arrays", 2) {
      a => ShingleFunctions.sorted_jaccard(a.col(0), a.col(1)) },
    kernel("ngram_strings",
        "_FUNC_(tokens, n) - space-joined n-grams of consecutive tokens", 2) {
      a => ShingleFunctions.ngram_strings(a.col(0), a.int(1, "n")) },
    kernel("md5_shingle_hashes",
        "_FUNC_(text, n) - portable md5-60 hash of every n-codepoint window", 2) {
      a => ShingleFunctions.md5_shingle_hashes(a.col(0), a.int(1, "n")) },
    kernel("md5_simhash", "_FUNC_(tokens) - portable 60-bit simhash of a string array", 1) {
      a => ShingleFunctions.md5_simhash(a.col(0)) },
    kernel("md5_ngram_hashes",
        "_FUNC_(tokens, n) - portable md5-60 hash of every n-token window", 2) {
      a => ShingleFunctions.md5_ngram_hashes(a.col(0), a.int(1, "n")) },
    kernel("md5_ngram_minhash",
        "_FUNC_(tokens, n, k) - k-slot salted-md5 minhash over n-token windows", 3) {
      a => ShingleFunctions.md5_ngram_minhash(a.col(0), a.int(1, "n"), a.int(2, "k")) },
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
