package graft.functions

import graft.SparkSpec
import graft.testutil.SourceScan
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Every native function declared as a [[KernelCall]], driven from one
  * table: a wrong-typed argument fails analysis naming the function and
  * the type it expects, and codegen and interpreted eval agree. */
class KernelCallSpec extends SparkSpec {

  private val cb = Array(
    Array(Array(0.0, 0.0), Array(1.0, 1.0)),
    Array(Array(0.0, 1.0), Array(1.0, 0.0)))

  /** Name → (the input columns it reads, the call). Each input column
    * has the type the function expects in that position. */
  private val table: Seq[(String, Seq[String], Seq[Column] => Column)] = {
    import HashFunctions._, ShingleFunctions._, VectorFunctions._
    Seq(
      ("shingle_hashes", Seq("s"), c => shingle_hashes(c(0), 3)),
      ("word_tokens", Seq("s"), c => word_tokens(c(0))),
      ("ngram_hashes", Seq("toks"), c => ngram_hashes(c(0), 2)),
      ("minhash_longs", Seq("longs"), c => minhash_longs(c(0), 4)),
      ("sorted_jaccard", Seq("longs", "longs2"), c => sorted_jaccard(c(0), c(1))),
      ("minhash_agreement", Seq("longs", "longs2"), c => minhash_agreement(c(0), c(1))),
      ("ngram_strings", Seq("toks"), c => ngram_strings(c(0), 2)),
      ("md5_shingle_hashes", Seq("s"), c => md5_shingle_hashes(c(0), 3)),
      ("md5_simhash", Seq("toks"), c => md5_simhash(c(0))),
      ("md5_ngram_hashes", Seq("toks"), c => md5_ngram_hashes(c(0), 2)),
      ("md5_ngram_minhash", Seq("toks"), c => md5_ngram_minhash(c(0), 2, 4)),
      ("winnow_minima", Seq("longs"), c => winnow_minima(c(0), 2)),
      ("winnow_anchors", Seq("longs"), c => winnow_anchors(c(0), 2)),
      ("luhn_valid_count", Seq("toks"), c => luhn_valid_count(c(0))),
      ("iban_valid_count", Seq("toks"), c => iban_valid_count(c(0))),
      ("syllable_count", Seq("toks"), c => syllable_count(c(0))),
      ("min_full_period", Seq("s"), c => min_full_period(c(0))),
      ("char_syms", Seq("s"), c => char_syms(c(0))),
      ("bpe_apply_merges", Seq("toks", "lefts", "rights"),
        c => bpe_apply_merges(c(0), c(1), c(2))),
      ("adjacent_pairs", Seq("toks"), c => adjacent_pairs(c(0))),
      ("adjacent_triples", Seq("toks"), c => adjacent_triples(c(0))),
      ("minhash", Seq("toks"), c => minhash(c(0), 4)),
      ("simhash", Seq("toks"), c => simhash(c(0))),
      ("cosine_similarity", Seq("f", "f2"), c => cosine_similarity(c(0), c(1))),
      ("dot_product", Seq("f", "f2"), c => dot_product(c(0), c(1))),
      ("quantize_i8", Seq("f"), c => quantize_i8(c(0))),
      ("jl_project", Seq("f"), c => jl_project(c(0), 4, 3, 7)),
      ("pq_assign_codes", Seq("d"), c => pq_assign_codes(c(0), cb)),
      ("pq_adc_micro", Seq("codes", "d"), c => pq_adc_micro(c(0), c(1), cb)),
      ("pq_err_micro", Seq("d", "codes"), c => pq_err_micro(c(0), c(1), cb)),
      ("dense_embedding", Seq("entries"), c => dense_embedding(c(0), 4)),
      ("quantize_micro", Seq("f"), c => quantize_micro(c(0))))
  }

  /** Three rows; the last holds a null in every column. Built from
    * `range`, not a local relation, so the optimizer cannot evaluate
    * the projection at planning time. */
  private lazy val input: DataFrame = {
    def pick(a: String, b: String) = s"CASE id WHEN 0 THEN $a WHEN 1 THEN $b END"
    spark.range(3).selectExpr(
      "CAST(id AS INT) AS id",
      pick("'the cat sat on the mat'", "'abcabcabc'") + " AS s",
      pick("array('the', 'cat', 'sat', 'on', 'the', 'mat')",
        "array('4539578763621486', 'GB82WEST12345698765432', 'x')") + " AS toks",
      pick("array('t', 'a')", "array('4')") + " AS lefts",
      pick("array('h', 't')", "array('5')") + " AS rights",
      pick("array(1L, 2L, 3L, 5L, 8L)", "array(2L, 3L, 4L)") + " AS longs",
      pick("array(2L, 3L, 5L, 7L, 11L)", "array(2L, 9L)") + " AS longs2",
      pick("array(1.0F, 2.0F, 3.0F)", "array(0.5F, -1.0F, 0.25F)") + " AS f",
      pick("array(3.0F, 1.0F, 2.0F)", "array(0.0F, 0.0F, 0.0F)") + " AS f2",
      pick("array(0.9D, 0.8D, 1.0D, 0.2D)", "array(0.7D, 0.6D)") + " AS d",
      pick("array(1, 0)", "array(0, 1)") + " AS codes",
      pick("array(named_struct('i', 0, 'v', 2L), named_struct('i', 3, 'v', -1L))",
        "array(named_struct('i', 1, 'v', 5L))") + " AS entries")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the table covers every KernelCall declaration in src/main") {
    val declared = """(?:kernel|call)\((?:\w+, )?"(\w+)"""".r
    val names = SourceScan.scalaFiles("src/main/scala/graft/functions")
      .flatMap(SourceScan.codeLines).flatMap(declared.findAllMatchIn(_).map(_.group(1)))
    assert(names.size == names.toSet.size, names)
    assert(names.toSet == table.map(_._1).toSet)
    assert(table.size == 32)
  }

  test("no hand-written codegen in src/main: kernels run through KernelCall; only the " +
    "two CodegenFallback expressions may define doGenCode") {
    val files = SourceScan.scalaFiles("src/main/scala")
    val exempt = Set("CmsExpressions.scala", "ZipExpressions.scala")
    val hits = files.filterNot(f => exempt(f.getName)).flatMap { f =>
      SourceScan.codeLines(f).zipWithIndex.collect {
        case (line, i) if line.contains("doGenCode") => s"${f.getName}:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"doGenCode outside KernelCall: $hits")
    assert(files.exists(_.getName == "KernelCall.scala"))
  }

  test("a wrong-typed argument fails analysis naming the function and the type it expects") {
    val wrong = for {
      (name, cols, f) <- table
      i <- cols.indices
      expected = s"$name expects ${input.schema(cols(i)).dataType.simpleString}"
      if (try { input.select(f(cols.updated(i, "id").map(col))); true }
          catch { case e: AnalysisException => !e.getMessage.contains(expected) })
    } yield s"$name argument $i"
    assert(wrong.isEmpty, "no analysis error naming the expected type")
  }

  test("codegen and interpreted eval agree on every function; a null row gives null") {
    val q = input.select(col("id") +: table.map { case (name, cols, f) =>
      f(cols.map(col)).as(name) }: _*).orderBy("id")
    val codegen = withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(q.collect().toSeq)
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(q.collect().toSeq)
    assert(codegen.size == 3)
    table.map(_._1).zipWithIndex.foreach { case (name, i) =>
      val (c, n) = (codegen.map(_.get(i + 1)), interpreted.map(_.get(i + 1)))
      assert(c == n, s"$name: codegen $c, interpreted $n")
      assert(c(0) != null, s"$name: null on the first row")
      assert(c(2) == null, s"$name: ${c(2)} on the null row")
    }
    // a few values by hand, so agreement is not agreement on garbage
    val r = codegen.head
    def at(name: String) = r.get(table.indexWhere(_._1 == name) + 1)
    assert(at("dot_product") == 11.0)
    assert(at("sorted_jaccard") == 3.0 / 7.0)
    assert(at("minhash_agreement") == 0)
    assert(at("pq_assign_codes") == Seq(1, 1))
    assert(at("dense_embedding") == Seq(2.0f, 0f, 0f, -1.0f))
    assert(at("min_full_period") == 22L)
    assert(codegen(1).get(table.indexWhere(_._1 == "min_full_period") + 1) == 3L)
    assert(at("cosine_similarity") == 11.0 / math.sqrt(14.0 * 14.0))
  }
}
