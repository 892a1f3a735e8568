package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. The headline "value" is the total for the
  * declared §2.9 relational set (q01–q26) — the workload BASELINE.md
  * defines its 60 s / 2× target over; extension-operator timings (x*)
  * are reported per-query alongside.
  */
object Bench {

  /** Comma-split at paren/bracket/brace depth 0. */
  private def splitTop(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach { ch =>
      if (ch == '(' || ch == '[' || ch == '{') depth += 1
      else if (ch == ')' || ch == ']' || ch == '}') depth -= 1
      if (ch == ',' && depth == 0) { parts += cur.toString; cur.clear() }
      else cur += ch
    }
    parts += cur.toString
    parts.toSeq
  }

  /** Sorts the top-level comma-separated elements of every [...] list
    * (innermost-first, recursive) and collapses bare-integer elements
    * to "N". WHY: grouping-sets / multi-count-distinct plans iterate
    * attribute sets keyed by expression id, so aggregate key/output
    * order AND grouping-id assignment depend on the session-global
    * expression counter — i.e. on which queries ran BEFORE this one,
    * not on the plan (r14 verdict: 14 queries churned fps across
    * identical-source sweeps). Deliberate trade: WITHIN-list ordering
    * (sort keys, projection order, IN-list literals) is not part of
    * the fingerprint; operator structure, exchange placement, join
    * strategies, and pushdowns all remain fingerprinted. */
  private def sortBrackets(s: String): String = {
    val n = s.length
    // returns (normalized bracket group, index after ']'); i is at '['
    def parse(i: Int): (String, Int) = {
      var j = i + 1
      val buf = new StringBuilder
      while (j < n && s(j) != ']') {
        if (s(j) == '[') { val (sub, nj) = parse(j); buf ++= sub; j = nj }
        else { buf += s(j); j += 1 }
      }
      val parts = splitTop(buf.toString).map(_.trim)
        .map(p => if (p.nonEmpty && p.forall(_.isDigit)) "N" else p)
      ("[" + parts.sorted.mkString(",") + "]", j + 1)
    }
    val out = new StringBuilder
    var i = 0
    while (i < n) {
      if (s(i) == '[') { val (sub, ni) = parse(i); out ++= sub; i = ni }
      else { out += s(i); i += 1 }
    }
    out.toString
  }

  /** The physical plan text with every run/session-dependent token
    * normalized away — the input [[planFingerprint]] hashes. */
  private[graft] def normalizedPlan(df: org.apache.spark.sql.DataFrame): String =
    normalizeText(df.queryExecution.executedPlan.toString)

  private[graft] def normalizeText(planText: String): String = {
    val t = planText
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      // a scan's whole Location value, up to the next metadata key: Spark
      // cuts the value at spark.sql.maxMetadataStringLength (100), so a
      // long path lost its closing ']' and the bracket sort below parsed
      // another structure — the text then followed the checkout path
      .replaceAll("Location: [^\\n]*?(?=, [A-Z][A-Za-z]*: |\\n|$)", "Location: path:")
      .replaceAll("(file|hdfs|s3a?):[^,\\]\\s)]*", "path:")
      .replaceAll("Statistics\\([^)]*\\)", "")
      // typed operators (MapPartitions/Deserialize…) print the closure's
      // JVM identity — Lambda$<id>/0x<ptr>@<hash> — which differs every
      // SESSION; un-normalized it made x71-class fingerprints flip with
      // no plan change (observed: four canonical runs, four fps)
      .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda")
      // object identities (LogicalRDD@1a2b3c…): anchored to an
      // identifier token so a literal hex STRING in a filter can't be
      // normalized away and hide a real plan change (ADVICE r14)
      .replaceAll("([A-Za-z][A-Za-z0-9$.]*)@[0-9a-f]{6,}", "$1@")
      // higher-order-function lambda variables print the session-global
      // expression counter IN the name (lambda x_2724#) — run-order
      // dependent, not plan shape
      .replaceAll("lambda ([A-Za-z0-9]+)_\\d+#", "lambda $1_#")
      // grouping-id literals: RewriteDistinctAggregates assigns gids by
      // expression-id hash iteration — which distinct column gets which
      // gid varies run-to-run with an identical plan
      .replaceAll("(gid|spark_grouping_id)# = \\d+", "$1# = G")
    sortBrackets(normalizePartitionings(t)).replaceAll("\\s+", " ")
  }

  /** Partitionings with their partition count printed as N: it follows
    * the core count (`RoundRobinPartitioning(8)` from a parallelism
    * restore) or `spark.sql.shuffle.partitions` (`hashpartitioning(k#,
    * 200)`, `rangepartitioning(k# ASC, 200)`), not the plan, and left in
    * it gave identical code different fingerprints at 4, 8 and 32 cores.
    * hashpartitioning keys are sorted too: their order comes from
    * attribute-set iteration (equivalent clustering either way). The
    * arguments are split at balanced parens, so keys may nest calls. */
  private def normalizePartitionings(s: String): String = {
    val out = new StringBuilder
    var from = 0
    for (m <- "(hashpartitioning|rangepartitioning|RoundRobinPartitioning)\\(".r
        .findAllMatchIn(s) if m.start >= from) {
      var depth = 1
      var j = m.end
      while (j < s.length && depth > 0) {
        if (s(j) == '(') depth += 1 else if (s(j) == ')') depth -= 1
        j += 1
      }
      if (depth == 0) {
        val args = splitTop(s.substring(m.end, j - 1)).map(_.trim)
        val n = if (args.last.nonEmpty && args.last.forall(_.isDigit)) "N" else args.last
        val keys = if (m.group(1) == "hashpartitioning") args.init.sorted else args.init
        out ++= s.substring(from, m.start) ++= m.group(1) ++= (keys :+ n).mkString("(", ", ", ")")
        from = j
      }
    }
    out ++= s.substring(from)
    out.toString
  }

  /** Short fingerprint of a query's PHYSICAL plan, stable across runs:
    * expression/plan ids, file paths, RDD/closure identities, and size
    * statistics are normalized away so the hash moves only when the
    * plan SHAPE moves (a broadcast→SMJ flip, a lost pushdown, a new
    * exchange) — the regressions wall-time noise hides. Per-query
    * fingerprints land in BENCH_FULL.json ("plans"); both stdout lines
    * carry the combined "plan_fp". Diff note: to locate a cross-round
    * plan regression, compare the two rounds' BENCH_FULL.json "plans"
    * maps key-by-key (`jq -r '.plans | to_entries[] | "\(.key)
    * \(.value)"'` on each, then `diff`) and `.explain("formatted")`
    * the changed queries; SPARK_GRAFT_DUMP_PLANS=<dir> dumps each
    * query's NORMALIZED plan text for a direct diff. */
  private[graft] def fpOfNorm(norm: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  private[graft] def planFingerprint(df: org.apache.spark.sql.DataFrame): String =
    fpOfNorm(normalizedPlan(df))

  /** Flat string→string map extracted from one of our own one-line
    * JSON artifacts. ONLY safe for maps whose values are bare numbers
    * or plain hex strings ("queries"/"plans" — no commas, colons,
    * braces, or escapes inside values); the "failed" map does NOT
    * qualify. Hand-rolled because the bench must not grow a JSON
    * dependency for reading a file it wrote itself. */
  private[graft] def flatMapOf(json: String, key: String): Map[String, String] =
    ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.trim.nonEmpty)
      .map(_.split(",").flatMap { kv =>
        kv.split(":", 2) match {
          case Array(k, v) =>
            Some(k.trim.stripPrefix("\"").stripSuffix("\"") ->
              v.trim.stripPrefix("\"").stripSuffix("\""))
          case _ => None
        }
      }.toMap)
      .getOrElse(Map.empty)

  // ---- Kill-proof evidence ledger (VERDICT r17 item 1) -------------------
  // The r16 failure class (a kill mid-run leaves an EMPTY artifact) was
  // closed for Verify in r17 but still applied to Bench: everything was
  // buffered and both JSONs written only at exit, and the full sweep is
  // 326 queries × median-of-3 (~405 s single-pass at sf0.1). Now each
  // query's completed measurement is APPENDED to `_bench_progress.jsonl`
  // the moment its repeats land, and the exit-time JSONs are assembled by
  // PARSING that ledger back — so the committed artifact is provably the
  // same record a kill mid-sweep would have left behind. (Reference
  // analogue: the run ledger is written even on failure,
  // publish_to_catalog.py:605-608.)

  /** One ledger record per completed query. `errEscaped` is ALREADY
    * JSON-escaped (it round-trips through the ledger as-is). Numbers use
    * Double.toString — locale-independent by the JLS, unlike the
    * f-interpolator. */
  private[graft] def queryLedgerLine(name: String, med: Double, spread: Double,
      runs: Int, fp: String, errEscaped: Option[String]): String = {
    val err = errEscaped.map("\"" + _ + "\"").getOrElse("null")
    s"""{"kind":"query","q":"$name","med":$med,"spread":$spread,"runs":$runs,"fp":"$fp","err":$err}"""
  }

  private val QueryLedgerRe =
    ("""\{"kind":"query","q":"([^"]+)","med":([0-9.Ee+\-]+),"spread":""" +
     """([0-9.Ee+\-]+),"runs":(\d+),"fp":"([0-9a-fER]+)","err":(null|".*")\}""").r

  /** Inverse of [[queryLedgerLine]]: (name, med, spread, errEscaped, fp,
    * runs). Non-query lines (probe/calib/summary records share the file)
    * and malformed lines are skipped — a kill mid-append leaves at worst
    * one truncated trailing line, which must not poison the parse of the
    * completed records before it. */
  private[graft] def parseQueryLedger(lines: Seq[String])
      : Seq[(String, Double, Double, Option[String], String, Int)] =
    lines.flatMap { line =>
      QueryLedgerRe.findFirstMatchIn(line.trim).map { m =>
        val err =
          if (m.group(6) == "null") None
          else Some(m.group(6).stripPrefix("\"").stripSuffix("\""))
        (m.group(1), m.group(2).toDouble, m.group(3).toDouble, err,
          m.group(5), m.group(4).toInt)
      }
    }

  /** JSON string escape for ledger/artifact output: quote, backslash, and
    * ALL control chars (an exception message containing a tab or \r would
    * otherwise produce an invalid JSON line and break the driver's parse). */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Truncate an ALREADY-ESCAPED JSON string without leaving a dangling
    * escape: a cut mid-`\uXXXX` or an odd trailing backslash run would
    * make the compact line invalid JSON. */
  private[graft] def truncEscaped(s: String, n: Int): String = {
    var t = s.take(n)
    t = """\\u[0-9a-fA-F]{0,3}$""".r.replaceFirstIn(t, "")
    if (t.reverse.takeWhile(_ == '\\').length % 2 == 1) t = t.dropRight(1)
    t
  }

  /** Machine-checked calibration band (VERDICT r17 item 8): SCALE.md §27
    * carries a `BAND: per_calib_min=<x> per_calib_max=<y>` line updated
    * each round; the LAST such line wins (newest round's band). The
    * builder's prose reading rule becomes a field in the artifact. */
  private[graft] def parseBand(scaleMd: String): Option[(Double, Double)] =
    """BAND: per_calib_min=([0-9.]+) per_calib_max=([0-9.]+)""".r
      .findAllMatchIn(scaleMd).toSeq.lastOption
      .map(m => (m.group(1).toDouble, m.group(2).toDouble))

  /** within_band → headline/calib sits where fp-identical history sits:
    * a headline move is machine state. above_band → slower per machine
    * unit than any recorded canonical run: read it as a code/plan
    * regression first. below_band → faster (new best or calib anomaly). */
  private[graft] def bandVerdict(perCalib: Option[Double],
      band: Option[(Double, Double)]): String =
    (perCalib, band) match {
      case (None, _) => "no_calib"
      case (_, None) => "no_band"
      case (Some(pc), Some((lo, hi))) =>
        if (pc > hi) "above_band" else if (pc < lo) "below_band" else "within_band"
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Contamination sentinel (§19): the driver's round-close sweep has
    // been load-contaminated two rounds running (r13 x144/x89/x146;
    // r14 x155/x208/x113) and each time cost a judge/builder cycle to
    // re-prove "identical plan fp ⇒ environmental". Read the committed
    // canonical BEFORE this run can overwrite it; per query, when the
    // plan fingerprint matches the canonical one, report
    // vs_canonical = median/canonical and flag > 3× (with a 0.5 s
    // absolute floor so micro-query jitter can't flag) as
    // suspect_contaminated — the sweep self-annotates instead of
    // masquerading as a regression.
    val canonical: Option[(Map[String, Double], Map[String, String])] =
      scala.util.Try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
        (flatMapOf(txt, "queries").flatMap { case (k, v) =>
          scala.util.Try(v.toDouble).toOption.map(k -> _) },
          flatMapOf(txt, "plans"))
      }.toOption
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/parquet-footer caches outside any query's
    // timing (the first timed query otherwise absorbs ~4 s of session
    // warm-up that is already counted in the harness's wall clock).
    SparkEntry.entry(spark).count()
    // Eager localCheckpoint blocks linger in the block manager after a
    // query finishes (they free only on RDD GC), so a checkpoint-heavy
    // query taxes every LATER measurement with memory/GC pressure —
    // measured on q36 in r12: 0.36 s → 1.98 s with an IDENTICAL plan
    // fingerprint (d44235ca), right after q34/q35 gained prefix-sum
    // checkpoints (VERDICT r12 item 2). No query references another
    // query's RDDs (the only cross-query cache is x22's driver-side
    // centroid array), so dropping every persistent RDD between runs
    // is safe and makes each timing start from a clean block manager —
    // the headline measures plans, not block-manager history.
    def dropLingering(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    dropLingering()
    // Dev knobs (unset in driver runs): SPARK_GRAFT_ONLY=<substring>
    // times only matching queries; SPARK_GRAFT_REPEAT=N overrides the
    // in-session run count (default 3; 1 = quick dev loop).
    //
    // MEDIAN of N in-session runs, not single-shot and not best-of:
    // single-shot timings moved 15-50% round-over-round on sub-second
    // queries with no code change on their paths (JIT/GC noise), too
    // noisy to catch a real 2× regression early; best-of hides real
    // steady-state cost. The median absorbs one JIT/GC outlier (the
    // first run's query-specific codegen included) while tracking the
    // typical run. Session warm-up (entry().count() above) stays
    // outside every timing; per-query spread is reported alongside so
    // a noisy median is VISIBLY noisy.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selects(only, n) }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // Evidence ledger: canonical runs own `_bench_progress.jsonl`; scoped
    // dev runs (SPARK_GRAFT_ONLY / repeat<3) write a .dev twin so they
    // can't clobber the canonical partial record the driver would read
    // after a kill (the same guard BENCH_FULL.json already has).
    val devScoped = only.nonEmpty || repeat < 3
    val ledgerPath = java.nio.file.Paths.get(
      if (devScoped) "_bench_progress.dev.jsonl" else "_bench_progress.jsonl")
    java.nio.file.Files.writeString(ledgerPath, "")
    def appendLedger(line: String): Unit =
      java.nio.file.Files.writeString(ledgerPath, line + "\n",
        java.nio.file.StandardOpenOption.APPEND)
    selected.foreach { case (name, fn) =>
      var times = Vector.empty[Double]
      var err: Option[String] = None
      // noop DSv2 sink: executes the FULL physical plan (projections,
      // sorts, window functions) — `count()` would let Catalyst prune
      // unreferenced columns and eliminate sorts, timing less than the
      // query does.
      def runOnce(): Unit = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable =>
          err = Some(e.toString.takeWhile(_ != '\n').take(120)) }
        times :+= (System.nanoTime() - t0) / 1e9
        dropLingering() // outside the timing: next run starts clean
      }
      for (_ <- 1 to repeat if err.isEmpty) runOnce()
      // relative spread (max−min)/median flags medians that are still
      // noisy at this N — computed over the POST-JIT runs (2..N) when
      // N ≥ 3: run 1 deterministically carries the query's codegen/JIT
      // compile cost (still true after dropLingering — what run 1 no
      // longer keeps is lingering checkpoint BLOCKS, every run is
      // block-manager-cold now), which the median already absorbs, so
      // including it in the spread flagged every sub-second query as
      // "noisy" (r09: raw spread_med 0.55 vs post-JIT 0.1-class) and
      // drowned the signal the spread exists for — genuine run-to-run
      // variance. With ≥ 4 post-JIT samples the single max sample is
      // dropped from the SPREAD (not the median): one GC/compaction
      // outlier in N runs is measurement noise, two are a real bimodal
      // cost and still flag. A failed query reports ONLY its last
      // (error) time — mixing a fast error run into the median of
      // earlier successful runs would report a number that is neither
      // the real cost nor the error time; the entry is meaningless
      // either way (the `failed` map says so), but the reported time
      // should at least be a single identifiable run, not a blend.
      def medNow = if (times.isEmpty) Double.MaxValue else median(times)
      def spreadNow: Double = {
        val post = if (times.length >= 3) times.drop(1) else times
        val trimmed = if (post.length >= 4) post.sorted.dropRight(1) else post
        val m = medNow
        if (trimmed.length < 2 || m == 0.0) 0.0
        else (trimmed.max - trimmed.min) / m
      }
      // Adaptive escalation (r13 verdict: 8 queries at rel_spread ≥ 1.0
      // with N=3 — their medians were statistically meaningless): when
      // the spread is still > 0.5 after the base N runs, keep adding
      // runs (cap 7 total) until the trimmed post-JIT spread settles.
      // More runs alone can only GROW max−min; the escalation works
      // because the spread statistic trims its single max once there
      // are ≥ 4 post-JIT samples. Dev scoped runs (repeat < 3) skip it.
      if (repeat >= 3) {
        while (err.isEmpty && spreadNow > 0.5 && times.length < 7) runOnce()
      }
      val med =
        if (err.isDefined || times.isEmpty) times.lastOption.getOrElse(Double.MaxValue)
        else medNow
      val spread = if (err.isDefined) 0.0 else spreadNow
      val nRuns = times.length
      // plan fingerprint AFTER the timed runs (plan construction may
      // eagerly materialize localCheckpoints — must not pre-warm run 1)
      val fp = if (err.isDefined) "ERR"
        else scala.util.Try {
          val norm = normalizedPlan(fn(spark, sfDir))
          // dev knob: dump the normalized plan text per query so a
          // cross-sweep fp diff can be root-caused with a text diff
          sys.env.get("SPARK_GRAFT_DUMP_PLANS").foreach { d =>
            val dir = java.nio.file.Paths.get(d)
            java.nio.file.Files.createDirectories(dir)
            java.nio.file.Files.write(dir.resolve(s"$name.plan.txt"),
              norm.getBytes("UTF-8"))
          }
          fpOfNorm(norm)
        }.getOrElse("ERR")
      dropLingering() // fp construction re-materialized checkpoints
      appendLedger(queryLedgerLine(name, med, spread, nRuns, fp,
        err.map(e => jsonEscape(e))))
    }
    // Exit-time results are ASSEMBLED FROM THE LEDGER, not from a parallel
    // in-memory copy — the committed artifact and the kill-survivor are
    // the same record by construction. err arrives ALREADY JSON-escaped.
    val results: Seq[(String, Double, Double, Option[String], String, Int)] = {
      import scala.jdk.CollectionConverters._
      parseQueryLedger(
        java.nio.file.Files.readAllLines(ledgerPath).asScala.toSeq)
    }
    require(results.size == selected.size,
      s"ledger round-trip lost records: ${results.size} of ${selected.size}")
    // Bench-only probes: scale-path variants (x20 without its exact
    // calibration siblings) timed with the same median-of-N, reported
    // in a separate "probes" map so a calibration-heavy declared query
    // has its attributable scale cost right next to it. Excluded from
    // the headline and the compact line.
    val probes = SparkEntry.benchProbes.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selects(only, n) }
      .map { case (name, fn) =>
        var times = Vector.empty[Double]
        for (_ <- 1 to repeat) {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
          times :+= (System.nanoTime() - t0) / 1e9
          dropLingering()
        }
        val m = median(times)
        appendLedger(s"""{"kind":"probe","q":"$name","med":$m}""")
        (name, m)
      }
    // a broken query must not masquerade as a fast one — surface it.
    // err values arrive from the ledger ALREADY JSON-escaped (escaped at
    // append time), so they are emitted verbatim here.
    val qsFull = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def r2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val spreadFull = results.map { case (k, _, s, _, _, _) => "\"" + k + "\":" + r2(s) }
      .mkString("{", ",", "}")
    val failedFull = results.collect { case (k, _, _, Some(e), _, _) =>
      "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    // The headline is pinned to the q01–q26 contract BASELINE.md defines
    // its 60 s / 2× bound over — queries added later (q27+, r*, x*) are
    // reported per-query but must not move the baseline comparison.
    // Failed queries are EXCLUDED from the sum (their ~0.1 s fail-fast
    // "timing" is not a measurement — r08 summed three of them and the
    // headline read as a spurious regression) and the line carries an
    // explicit headline_complete flag so an incomplete sum can never be
    // mistaken for a full one.
    val headlineSet = results.filter(_._1.matches("^q(0[1-9]|1[0-9]|2[0-6])_.*"))
    val headline = headlineSet.filter(_._4.isEmpty).map(_._2).sum
    val headlineComplete = headlineSet.forall(_._4.isEmpty)
    val probesFull = probes.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query plan fingerprints + one combined fingerprint: a plan
    // regression anywhere flips plan_fp even when timings look flat
    val plansFull = results.map { case (k, _, _, _, fp, _) =>
      "\"" + k + "\":\"" + fp + "\"" }.mkString("{", ",", "}")
    // sentinel: ratio vs the committed canonical at the SAME fp (a
    // differing fp means a real plan change — the ratio would compare
    // different plans, so it is omitted and can't mask a regression)
    val vsCanonical: Seq[(String, Double)] = results.flatMap {
      case (k, med, _, None, fp, _) => canonical.flatMap { case (cq, cp) =>
        (cq.get(k), cp.get(k)) match {
          case (Some(t), Some(cfp)) if cfp == fp && t > 0.0 =>
            Some(k -> med / t)
          case _ => None
        }
      }
      case _ => None
    }
    val suspects = vsCanonical.collect { case (k, ratio)
      if ratio > 3.0 && results.find(_._1 == k).exists(_._2 > 0.5) => k }
    // Self-adjudication (r15 verdict item 1): a sentinel flag used to
    // ship the SUSPECT number as the number of record while the proof
    // it was contamination lived in a side probe (r15: x20 26.75 s /
    // x119 4.17 s in the artifact vs 0.25 s / 0.62 s clean). Now the
    // sweep re-probes each flagged query itself — a fresh median-of-5
    // AFTER the sweep (the load spike that contaminated the in-sweep
    // runs has typically passed; if it hasn't, the clean probe reads
    // high too and the flag legitimately stands) — and writes BOTH
    // numbers ("queries" keeps the sweep median, "clean_probe" carries
    // the re-probe) so a third party never needs forensics.
    val cleanProbe: Seq[(String, Double)] =
      if (repeat < 3) Seq.empty
      else suspects.flatMap { k =>
        SparkEntry.queries.get(k).map { fn =>
          var times = Vector.empty[Double]
          for (_ <- 1 to 5) {
            val t0 = System.nanoTime()
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
            times :+= (System.nanoTime() - t0) / 1e9
            dropLingering()
          }
          val m = median(times)
          appendLedger(s"""{"kind":"clean_probe","q":"$k","med":$m}""")
          k -> m
        }
      }
    val cleanProbeFull = cleanProbe.map { case (k, v) =>
      "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Machine-calibration probe (r15 verdict item 2): the same code
    // read 7.97–9.53 s across days of machine drift, so cross-round
    // headline comparisons kept needing forensics. Three fixed cheap
    // queries (q01 scan+sort, q09 count-distinct shuffle, q16 union —
    // scan/shuffle/cpu axes) are re-timed median-of-3 AFTER the sweep;
    // their sum is the machine-speed unit and headline_per_calib =
    // headline / calib_sec is the drift-normalized figure to compare
    // across rounds (band documented in SCALE.md §23).
    val calibNames = Seq("q01_scan_project_sort", "q09_count_distinct",
      "q16_union_all")
    val calib: Seq[(String, Double)] =
      if (repeat < 3 || only.nonEmpty) Seq.empty
      else calibNames.flatMap { k =>
        SparkEntry.queries.get(k).map { fn =>
          var times = Vector.empty[Double]
          for (_ <- 1 to 3) {
            val t0 = System.nanoTime()
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
            times :+= (System.nanoTime() - t0) / 1e9
            dropLingering()
          }
          val m = median(times)
          appendLedger(s"""{"kind":"calib","q":"$k","med":$m}""")
          k -> m
        }
      }
    val calibSec = calib.map(_._2).sum
    val calibFull = calib.map { case (k, v) =>
      "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // IO-state probe (r16 close finding): x89/x91-class checkpoint-
    // heavy queries swung 3.7 → 14.5 s at identical fps while the
    // CPU/shuffle calib trio simultaneously read FASTER — page-cache
    // state is a machine axis the trio cannot see. One checkpoint-
    // heavy micro-query (eager localCheckpoint = block-manager disk
    // write + read-back) is timed median-of-3 and reported as
    // calib_io_sec BESIDE calib_sec (excluded from it — per_calib
    // keeps its CPU-bound meaning and its cross-round continuity).
    val calibIoSec: Double =
      if (repeat < 3 || only.nonEmpty) 0.0
      else {
        var times = Vector.empty[Double]
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime()
          try {
            val cp = spark.read.parquet(s"$sfDir/lineitem.parquet")
              .select("l_orderkey", "l_quantity", "l_extendedprice")
              .localCheckpoint(true)
            cp.groupBy().count().write.format("noop").mode("overwrite").save()
          } catch { case _: Throwable => () }
          times :+= (System.nanoTime() - t0) / 1e9
          dropLingering()
        }
        median(times)
      }
    val vsCanonFull = vsCanonical.map { case (k, r) =>
      "\"" + k + "\":" + r2(r) }.mkString("{", ",", "}")
    val suspectsFull = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-query run counts: > repeat means the adaptive escalation fired
    val runsFull = results.map { case (k, _, _, _, _, n) =>
      "\"" + k + "\":" + n }.mkString("{", ",", "}")
    val planFp = java.security.MessageDigest.getInstance("MD5")
      .digest(results.map { case (k, _, _, _, fp, _) => s"$k:$fp" }
        .mkString(";").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val perCalibOpt: Option[Double] =
      if (calibSec > 0.0) Some(headline / calibSec) else None
    val perCalib = perCalibOpt.map(r2).getOrElse("null")
    // Band adjudication in-artifact (VERDICT r17 items 1+8): compare the
    // run's per_calib against the machine-checked band line in SCALE.md
    // §27, so a reader settles machine-vs-code from this JSON alone.
    val band = scala.util.Try(parseBand(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SCALE.md")),
      "UTF-8"))).toOption.flatten
    val bandStr = band.map { case (lo, hi) => s"[${r2(lo)},${r2(hi)}]" }
      .getOrElse("null")
    val verdict = bandVerdict(perCalibOpt, band)
    val fullJson = s"""{"metric":"sec_q01_q26_total","value":$headline,"unit":"sec","stat":"median_of_${repeat}_adaptive7","headline_complete":$headlineComplete,"plan_fp":"$planFp","calib":$calibFull,"calib_sec":${r2(calibSec)},"calib_io_sec":${r2(calibIoSec)},"headline_per_calib":$perCalib,"band":$bandStr,"band_verdict":"$verdict","queries":$qsFull,"rel_spread":$spreadFull,"plans":$plansFull,"runs":$runsFull,"vs_canonical":$vsCanonFull,"suspect_contaminated":$suspectsFull,"clean_probe":$cleanProbeFull,"failed":$failedFull,"probes":$probesFull,"sf":"$sfDir"}"""
    appendLedger(s"""{"kind":"summary","headline":$headline,"headline_complete":$headlineComplete,"plan_fp":"$planFp","calib_sec":${r2(calibSec)},"calib_io_sec":${r2(calibIoSec)},"per_calib":$perCalib,"band":$bandStr,"band_verdict":"$verdict"}""")
    // Full per-query detail: (a) an EARLIER stdout line (the driver only
    // parses the last one) and (b) BENCH_FULL.json in the repo, which the
    // driver's end-of-round commit picks up for the judge. ONLY canonical
    // runs may write the committed artifact: a SPARK_GRAFT_ONLY run or a
    // sub-canonical repeat count would silently clobber the full
    // snapshot with a filtered or noisier one (it did, once).
    println(fullJson)
    if (only.isEmpty && repeat >= 3) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
          (fullJson + "\n").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    // FINAL stdout line must stay well under 2000 chars: the driver
    // captures only the last 2000 chars of stdout and parses the last
    // line inside that window — rounds 1-4's single ~2.9 KB line was
    // head-truncated there and recorded as parsed:null. Compact form:
    // per-query map for the relational + reference sets at ms precision,
    // extension (x*) set summarized as total + slowest-3.
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // short ids (name up to the first '_' is unique) — the r15 compact
    // line sat at 1915 of the driver's 2000-char window; full names
    // live in BENCH_FULL.json's "queries"
    val compactSel = results.filter(r => r._1.startsWith("q") || r._1.startsWith("r"))
    val qsCompact = compactSel.map { case (k, v, _, _, _, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val xs = results.filter(_._1.startsWith("x"))
    val xTotal = r3(xs.map(_._2).sum)
    val xSlow = xs.sortBy(-_._2).take(3)
      .map { case (k, v, _, _, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // e is already escaped (ledger form) — truncate WITHOUT leaving a
    // dangling escape sequence that would invalidate the compact line
    val failedCompact = results.collect { case (k, _, _, Some(e), _, _) =>
      "\"" + k + "\":\"" + truncEscaped(e, 60) + "\"" }
      .take(3).mkString("{", ",", "}")
    // spread summary only (the full per-query map lives in BENCH_FULL):
    // the worst and median relative spreads say whether ANY median is
    // too noisy to compare round-over-round
    val spreads = results.map(_._3)
    val spreadMed = if (spreads.isEmpty) "0" else r2(median(spreads))
    val spreadMax = if (spreads.isEmpty) "0" else r2(spreads.max)
    // compact sentinel summary: count + short ids (name up to the
    // first '_' is a unique query id; full names and per-query ratios
    // live in BENCH_FULL.json) — bounded to 5 so a heavily
    // contaminated sweep can't blow the 2000-char driver window
    val suspectCompact = suspects.take(5)
      .map(n => "\"" + n.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    // clean-probe summary rides the compact line too (short ids, ms
    // precision, bounded 5) so the adjudication is visible even when
    // only the last stdout line survives the driver's 2000-char window
    val cleanCompact = cleanProbe.take(5).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"sec_q01_q26_total","value":$headline,"unit":"sec","stat":"median_of_${repeat}_adaptive7","headline_complete":$headlineComplete,"plan_fp":"$planFp","calib_sec":${r2(calibSec)},"calib_io_sec":${r2(calibIoSec)},"headline_per_calib":$perCalib,"band_verdict":"$verdict","spread_med":$spreadMed,"spread_max":$spreadMax,"n_suspect":${suspects.size},"suspect":$suspectCompact,"clean_probe":$cleanCompact,"queries":$qsCompact,"x_total":$xTotal,"x_slowest":$xSlow,"n_queries":${results.size},"failed":$failedCompact,"sf":"$sfDir"}""")
    spark.stop()
  }
}
