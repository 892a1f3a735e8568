package graft


/** Pure-function coverage for the bench harness's normalizer and the
  * contamination sentinel's artifact parser — the pieces whose silent
  * breakage would invalidate cross-round performance adjudication. */
class BenchSpec extends SparkSpec {

  test("flatMapOf: extracts queries/plans maps from the one-line artifact; " +
      "tolerates empty maps and missing keys") {
    val line = """{"metric":"sec","value":1.0,"queries":{"q01_a":0.25,"x02_b":1.5},""" +
      """"plans":{"q01_a":"deadbeef","x02_b":"12345678"},"failed":{}}"""
    assert(Bench.flatMapOf(line, "queries") ==
      Map("q01_a" -> "0.25", "x02_b" -> "1.5"))
    assert(Bench.flatMapOf(line, "plans") ==
      Map("q01_a" -> "deadbeef", "x02_b" -> "12345678"))
    assert(Bench.flatMapOf(line, "failed") == Map.empty)
    assert(Bench.flatMapOf(line, "nope") == Map.empty)
    assert(Bench.flatMapOf("not json at all", "queries") == Map.empty)
  }

  test("normalizeText: the r14-churn variants — expression ids, lambda " +
      "counters, gid assignment, aggregate-key order, hashpartitioning " +
      "order, object identities — normalize to ONE text; a literal hex " +
      "string survives (ADVICE r14)") {
    // the same plan printed in two sessions: different exprIds, lambda
    // counters, gid assignment, attribute iteration order, identities
    val runA = "HashAggregate(keys=[b#12, a#7L], functions=[partial_count(x#3) " +
      "FILTER (WHERE (gid#9 = 3))]) +- Exchange hashpartitioning(b#12, a#7L, 32), " +
      "[plan_id=55] +- Project [lambdafunction(length(lambda x_111#2) > 0, " +
      "lambda x_111#2, false)] +- Scan ExistingRDD[a#7L,b#12] LogicalRDD@1a2b3c4"
    val runB = "HashAggregate(keys=[a#901L, b#955], functions=[partial_count(x#800) " +
      "FILTER (WHERE (gid#990 = 7))]) +- Exchange hashpartitioning(a#901L, b#955, 32), " +
      "[plan_id=812] +- Project [lambdafunction(length(lambda x_2724#801) > 0, " +
      "lambda x_2724#801, false)] +- Scan ExistingRDD[b#955,a#901L] LogicalRDD@9f8e7d6"
    assert(Bench.normalizeText(runA) == Bench.normalizeText(runB))
    // a genuinely different plan (extra exchange) must NOT collapse
    val runC = runA.replace("Exchange hashpartitioning", "Exchange rangepartitioning")
    assert(Bench.normalizeText(runA) != Bench.normalizeText(runC))
    // a literal hex string in a filter is NOT an object identity — the
    // anchored rule must leave it alone (a real literal change flips
    // the fp)
    val litA = Bench.normalizeText("Filter (col#1 = @abcdef123456)")
    val litB = Bench.normalizeText("Filter (col#1 = @fedcba654321)")
    assert(litA != litB)
  }

  test("normalizeText: partition counts print as N, hash keys sort, " +
      "nested key calls parse") {
    val at4 = "Exchange hashpartitioning(coalesce(b#1, 0), a#2, 4), ENSURE_REQUIREMENTS " +
      "+- Exchange rangepartitioning(c#3 DESC NULLS LAST, 4) " +
      "+- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM"
    val at32 = "Exchange hashpartitioning(a#2, coalesce(b#1, 0), 32), ENSURE_REQUIREMENTS " +
      "+- Exchange rangepartitioning(c#3 DESC NULLS LAST, 32) " +
      "+- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM"
    assert(Bench.normalizeText(at4) == Bench.normalizeText(at32))
    assert(Bench.normalizeText(at4).contains("hashpartitioning(a#, coalesce(b#, 0), N)"))
    // a key change still moves the text
    assert(Bench.normalizeText(at4) != Bench.normalizeText(at4.replace("a#2", "d#2")))
  }

  test("planFingerprint: one query planned at shuffle.partitions 4 and 32 " +
      "gives one fingerprint") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def planned(n: Int): (String, String) = {
      spark.conf.set(key, n.toString)
      val df = graft.queries.RelationalQueries.q04(spark, sf001)
      (df.queryExecution.executedPlan.toString, Bench.planFingerprint(df))
    }
    try {
      val (plan4, fp4) = planned(4)
      val (plan32, fp32) = planned(32)
      assert(plan4.contains("hashpartitioning") && plan4.contains("rangepartitioning"), plan4)
      assert(plan4 != plan32)
      assert(fp4 == fp32, s"$plan4\n$plan32")
    } finally spark.conf.set(key, prev)
  }

  test("normalizeText: one parquet query read from a short and from a long " +
      "directory (its Location value cut at 100 characters) gives one text") {
    val base = java.nio.file.Files.createTempDirectory("graft-loc").toFile
    try {
      def planned(dir: java.io.File): String = {
        val path = new java.io.File(dir, "t.parquet").getAbsolutePath
        spark.range(0, 20).toDF("id").write.mode("overwrite").parquet(path)
        spark.read.parquet(path).filter("id > 3").selectExpr("id * 2 AS v")
          .queryExecution.executedPlan.toString
      }
      val short = planned(new java.io.File(base, "s"))
      val long = planned(new java.io.File(base, "l" * 120))
      // the long value is cut and loses its closing ']'; the short one is not
      def location(plan: String) = "Location: [^\\n]*".r.findFirstIn(plan).get
      assert(!location(short).contains("...") && location(long).contains("..."),
        s"$short\n$long")
      assert(Bench.normalizeText(short) == Bench.normalizeText(long),
        s"${Bench.normalizeText(short)}\n${Bench.normalizeText(long)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("query ledger: round-trips ok and error records (incl. control chars " +
      "in the error), skips non-query and torn trailing lines") {
    val ok = Bench.queryLedgerLine("q01_scan", 0.253, 0.07, 3, "deadbeef", None)
    val errRaw = "SparkException: bad\tthing \"quoted\" \\path"
    val er = Bench.queryLedgerLine("x99_fail", 1.7976931348623157e308, 0.0, 1,
      "ERR", Some(Bench.jsonEscape(errRaw)))
    val lines = Seq(
      ok,
      """{"kind":"calib","q":"q01_scan","med":0.11}""", // non-query: skipped
      er,
      """{"kind":"query","q":"x50_torn","med":0.1""")   // torn tail: skipped
    val parsed = Bench.parseQueryLedger(lines)
    assert(parsed.size == 2)
    assert(parsed(0) == ("q01_scan", 0.253, 0.07, None, "deadbeef", 3))
    val (n, med, _, err, fp, runs) = parsed(1)
    assert(n == "x99_fail" && med == Double.MaxValue && fp == "ERR" && runs == 1)
    // err stays in ESCAPED form (emitted verbatim into the failed map)
    assert(err.contains(Bench.jsonEscape(errRaw)))
  }

  test("truncEscaped: never leaves a dangling escape at the cut") {
    assert(Bench.truncEscaped("abc\\\"def", 4) == "abc")     // cut inside \"
    assert(Bench.truncEscaped("abc\\\"def", 5) == "abc\\\"") // complete \" survives
    assert(Bench.truncEscaped("abc\\u0041xyz", 6) == "abc")  // cut inside \uXXXX
    assert(Bench.truncEscaped("ab\\\\cd", 4) == "ab\\\\")    // even run survives
    assert(Bench.truncEscaped("plain text", 5) == "plain")
  }

  test("band: parseBand takes the LAST BAND line; bandVerdict classifies " +
      "within/above/below and degrades loudly with no band or no calib") {
    val md = "prose...\nBAND: per_calib_min=10.0 per_calib_max=20.0\n" +
      "more prose\nBAND: per_calib_min=16.0 per_calib_max=27.0\n"
    assert(Bench.parseBand(md).contains((16.0, 27.0)))
    assert(Bench.parseBand("no band here").isEmpty)
    val band = Bench.parseBand(md)
    assert(Bench.bandVerdict(Some(22.0), band) == "within_band")
    assert(Bench.bandVerdict(Some(30.0), band) == "above_band")
    assert(Bench.bandVerdict(Some(10.0), band) == "below_band")
    assert(Bench.bandVerdict(None, band) == "no_calib")
    assert(Bench.bandVerdict(Some(22.0), None) == "no_band")
    // the committed SCALE.md must actually carry a parsable band —
    // Bench reads it from the repo root at run time
    val scale = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SCALE.md")), "UTF-8")
    assert(Bench.parseBand(scale).nonEmpty)
  }
}
