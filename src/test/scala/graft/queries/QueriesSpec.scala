package graft.queries

import graft.{SparkSpec, SparkEntry}
import graft.testutil.Declared

/** Smoke-level pinning for every declared query: runs at sf0.001,
  * asserts non-empty and stable row counts where the count is a
  * meaningful semantic (the DuckDB oracle compare is the authoritative
  * value-level gate, run by the driver / check_oracle.py). */
class QueriesSpec extends SparkSpec {

  test("every declared query returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf001).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("340 queries, no name shadowed across the three families") {
    val declared = SparkEntry.families.map(_.all.size).sum
    val distinct = SparkEntry.queries.size
    assert(distinct == 340)
    assert(distinct == declared, "a name is declared more than once")
  }

  test("every query carries an oracle once x22 and x277 have run") {
    Declared("x22")(spark, sf001).count()
    Declared("x277")(spark, sf001).count()
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val withoutOracle = queries -- oracles
    val withoutQuery = oracles -- queries
    assert(withoutOracle.isEmpty)
    assert(withoutQuery.isEmpty)
  }

  test("each query-name literal is written once in the query sources") {
    val root = new java.io.File("src/main/scala/graft/queries")
    assert(root.isDirectory, root.getAbsolutePath)
    val literal = "\"[qrx][0-9]+_[A-Za-z0-9_]*\"".r
    val counts = root.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .flatMap(f => literal.findAllIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
      .groupBy(identity).map { case (l, ls) => l -> ls.size }
    assert(SparkEntry.queries.keySet.forall(n => counts.contains("\"" + n + "\"")))
    val repeated = counts.filter(_._2 > 1)
    assert(repeated.isEmpty, s"written more than once: $repeated")
  }

  test("pinned row counts at sf0.001") {
    val expect = Map(
      "q01_scan_project_sort" -> 5L,
      "q04_join_chain_agg" -> 5L,
      "q09_count_distinct" -> 1L,
      "q13_topk_limit" -> 25L,
      "q23_exact_dedup_distinct" -> 6L,
      "x01_exact_dedup" -> 500L,  // no exact dups at sf0.001
      "x06_cosine_topk_bruteforce" -> 50L, // 5 queries × k=10
      "x10_token_count" -> 500L,
      "x58_bm25_retrieval" -> 30L, // 3 queries × k=10
      "x71_token_budget_select" -> 500L) // every doc attributed
    expect.foreach { case (name, want) =>
      val got = SparkEntry.queries(name)(spark, sf001).count()
      assert(got == want, s"$name: got $got want $want")
    }
  }
}
