package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.testutil.Declared

/** Coverage for the bench harness's plan fingerprint and the
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

  /** Runs `body` with `spark.sql.shuffle.partitions` at `n`. */
  private def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("planFingerprint: expression ids, lambda counters, grouping ids, " +
      "common-subexpression numbers and aggregate-key order do not move it; " +
      "a changed column or literal hex string does") {
    // two count-distincts make RewriteDistinctAggregates add an Expand
    // with a gid column; transform/aggregate add named lambda variables;
    // count_if shares its condition through a numbered _common_expr_
    def frame(keys: Seq[String], hex: String = "@abcdef123456"): DataFrame =
      spark.range(0, 40)
        .selectExpr("id % 3 AS a", "id % 5 AS b", "id % 7 AS c",
          "CAST(id AS STRING) AS s", "array(id, id + 1) AS xs")
        .filter(col("s") =!= hex)
        .select(col("a"), col("b"), col("c"), col("s"),
          transform(col("xs"), x => x + 1).as("ys"))
        .groupBy(keys.map(col): _*)
        .agg(countDistinct("s"), countDistinct("c"), count_if(col("c") > 2),
          sum(aggregate(col("ys"), lit(0L), (acc, y) => acc + y)))
    val ab = frame(Seq("a", "b"))
    val text = Bench.planText(ab)
    assert(Seq("ExpandExec", "gid", "lambda x", "lambda y", "_common_expr_")
      .forall(text.contains), text)
    // built again, and with its keys swapped: new ids and lambda counters
    val again = frame(Seq("a", "b"))
    val ba = frame(Seq("b", "a"))
    assert(ab.queryExecution.executedPlan.toString != again.queryExecution.executedPlan.toString)
    assert(Bench.planFingerprint(again) == Bench.planFingerprint(ab),
      s"$text\n${Bench.planText(again)}")
    assert(Bench.planFingerprint(ba) == Bench.planFingerprint(ab),
      s"$text\n${Bench.planText(ba)}")
    // a different key column and a different literal hex string each move it
    assert(Bench.planFingerprint(frame(Seq("a", "c"))) != Bench.planFingerprint(ab))
    assert(Bench.planFingerprint(frame(Seq("a", "b"), "@fedcba654321")) !=
      Bench.planFingerprint(ab))
  }

  test("planFingerprint: partition counts print as N, hash keys sort, " +
      "nested key calls parse") {
    val df = spark.range(0, 40).selectExpr("id % 3 AS a", "id % 5 AS b", "id AS c")
    def shuffled(n: Int, keys: Column*): DataFrame = withPartitions(n) {
      val out = df.repartition(n, keys: _*).orderBy(col("c").desc).repartition(n)
      out.queryExecution.executedPlan // planned while the conf holds n
      out
    }
    val at4 = shuffled(4, coalesce(col("b"), lit(0)), col("a"))
    val at32 = shuffled(32, col("a"), coalesce(col("b"), lit(0)))
    val text = Bench.planText(at4)
    assert(Seq("hashpartitioning(Coalesce([b, 0]), a, N)",
      "rangepartitioning(SortOrder(c, Descending, NullsLast, []), N)",
      "RoundRobinPartitioning")
      .forall(text.contains), text)
    assert(Bench.planFingerprint(at4) == Bench.planFingerprint(at32),
      s"$text\n${Bench.planText(at32)}")
    // a key change still moves it
    assert(Bench.planFingerprint(shuffled(4, coalesce(col("b"), lit(0)), col("c"))) !=
      Bench.planFingerprint(at4))
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

  test("planFingerprint: one parquet query read from a short and from a " +
      "long directory (its Location value cut at 100 characters) gives one " +
      "fingerprint") {
    val base = java.nio.file.Files.createTempDirectory("graft-loc").toFile
    try {
      def planned(dir: java.io.File): DataFrame = {
        val path = new java.io.File(dir, "t.parquet").getAbsolutePath
        spark.range(0, 20).toDF("id").write.mode("overwrite").parquet(path)
        spark.read.parquet(path).filter("id > 3").selectExpr("id * 2 AS v")
      }
      val short = planned(new java.io.File(base, "s"))
      val long = planned(new java.io.File(base, "l" * 120))
      // Spark cuts the long Location value; the short one is whole
      def location(df: DataFrame) =
        "Location: [^\\n]*".r.findFirstIn(df.queryExecution.executedPlan.toString).get
      assert(!location(short).contains("...") && location(long).contains("..."))
      assert(Bench.planFingerprint(short) == Bench.planFingerprint(long),
        s"${Bench.planText(short)}\n${Bench.planText(long)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("planFingerprint: a frame gives one fingerprint before and after it " +
      "is collected") {
    // the final adaptive plan numbers its query stages and codegen stages
    // in the order they finished; the walk reads the initial plan
    val l = spark.range(0, 200).selectExpr("id % 17 AS k", "id AS v")
    val r = spark.range(0, 50).selectExpr("id % 13 AS k", "id * 3 AS w")
    val joined = l.join(r, Seq("k")).groupBy("k").agg(sum("v"), max("w")).orderBy("k")
    for (df <- Seq(joined, Declared("q04")(spark, sf001))) {
      val before = Bench.planFingerprint(df)
      val text = Bench.planText(df)
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("QueryStage"))
      assert(Bench.planFingerprint(df) == before, s"$text\n${Bench.planText(df)}")
      df.collect()
      assert(Bench.planFingerprint(df) == before)
    }
  }

  test("planFingerprint: two partition filters that differ only after their " +
      "100th character give two fingerprints") {
    val base = java.nio.file.Files.createTempDirectory("graft-cut").toFile
    try {
      val path = new java.io.File(base, "t.parquet").getAbsolutePath
      val stem = "p" * 110
      spark.range(0, 20).selectExpr("id", s"IF(id % 2 = 0, '${stem}a', '${stem}b') AS part")
        .write.partitionBy("part").mode("overwrite").parquet(path)
      // a partition filter lives only in the scan: no Filter node prints it
      def planned(last: String) = spark.read.parquet(path).filter(col("part") === stem + last)
      val (a, b) = (planned("a"), planned("b"))
      assert(a.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
      assert(!a.queryExecution.executedPlan.toString.contains(stem + "a"))
      assert(Bench.planFingerprint(a) != Bench.planFingerprint(b), Bench.planText(a))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("planFingerprint: the join type and the join strategy each move it") {
    val l = spark.range(0, 100).selectExpr("id % 10 AS k", "id AS v")
    val r = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS w")
    val inner = Bench.planFingerprint(l.join(r, Seq("k")))
    assert(Bench.planFingerprint(l.join(r, Seq("k"), "left_outer")) != inner)
    val broadcastJoin = l.join(broadcast(r), Seq("k"))
    val mergeJoin = l.join(r.hint("merge"), Seq("k"))
    assert(Bench.planText(broadcastJoin).contains("BroadcastHashJoinExec Inner BuildRight"))
    assert(Bench.planText(mergeJoin).contains("SortMergeJoinExec Inner"))
    assert(Bench.planFingerprint(broadcastJoin) != Bench.planFingerprint(mergeJoin))
  }

  test("planFingerprint: x101 planned in two sessions gives one fingerprint") {
    // its PQ codebook is an ObjectType literal, whose text is a JVM identity
    val other = spark.newSession()
    val a = Declared("x101")(spark, sf001)
    val b = Declared("x101")(other, sf001)
    assert(Bench.planFingerprint(a) == Bench.planFingerprint(b),
      s"${Bench.planText(a)}\n${Bench.planText(b)}")
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
