package graft.functions

import graft.SparkSpec

class AggregatorsSpec extends SparkSpec {
  import spark.implicits._

  test("BottomKLongs keeps the k smallest distinct values per group") {
    val ds = Seq(
      ("a", 5L), ("a", 1L), ("a", 9L), ("a", 1L), ("a", 3L), ("a", 2L),
      ("b", 7L)).toDS()
    val r = ds.groupByKey(_._1).mapValues(_._2)
      .agg(new BottomKLongs(3).toColumn)
      .collect().toMap
    assert(r("a").toSeq == Seq(1L, 2L, 3L)) // distinct + sorted + capped
    assert(r("b").toSeq == Seq(7L))
  }

  test("BottomKLongs merge equals bottom-k of the union (partial-agg exactness)") {
    val agg = new BottomKLongs(4)
    val left = Array(1L, 4L, 9L)
    val right = Array(2L, 4L, 8L, 16L)
    assert(agg.merge(left, right).toSeq == Seq(1L, 2L, 4L, 8L))
  }

  test("TopKScored never exceeds k, even on duplicate (id, score) inserts") {
    val agg = new TopKScored(2)
    val full = Seq(Scored(5, 0.9), Scored(3, 0.5))
    // duplicate of the last element: neither side is `better` — the
    // pre-fix insert returned k+1 elements here
    val dup = agg.reduce(full, Scored(3, 0.5))
    assert(dup.length == 2, dup)
    assert(dup == full)
    // duplicate of the head keeps order and size too
    val dupHead = agg.reduce(full, Scored(5, 0.9))
    assert(dupHead.length == 2 && dupHead.head == Scored(5, 0.9))
    // merge of two full identical buffers stays capped
    assert(agg.merge(full, full).length == 2)
  }

  test("ScatterMoments: quantization is bit-identical to the SQL " +
    "round(v*1000.0) it replaced, including .5-boundary adversaries") {
    import org.apache.spark.sql.functions._
    // HALF_UP away-from-zero boundaries, negatives, and a subnormal-ish
    // tail — the values where HALF_EVEN/rint would diverge
    val vals = Seq(0.0005f, -0.0005f, 0.0015f, -0.0015f, 1.9995f,
      -1.9995f, 0.49999997f, -0.49999997f, 0.123456f, 2.0f, 0f)
    val sqlQ = vals.toDF("v")
      .select(round(col("v").cast("double") * lit(1000.0)).cast("long"))
      .as[Long].collect().toSeq
    val agg = new ScatterMoments(1)
    val aggQ = vals.map { v =>
      val buf = agg.reduce(agg.zero, Array(v))
      buf(1) // s_0 after one row IS quantize(v)
    }
    assert(aggQ == sqlQ, s"agg=$aggQ sql=$sqlQ")
  }

  test("ScatterMoments: non-finite components are total — NaN quantizes " +
    "to 0, ±Inf saturates — instead of aborting the query (ADVICE r12)") {
    // pre-guard behavior: BigDecimal.valueOf(Inf) threw
    // NumberFormatException, so ONE Inf component (which passes
    // embeddingAnisotropy's dot_product(v,v) > 0 filter) killed x187
    val agg = new ScatterMoments(2)
    val buf = agg.reduce(agg.zero,
      Array(Float.PositiveInfinity, Float.NaN))
    assert(buf(0) == 1L)
    assert(buf(1) == Long.MaxValue) // +Inf saturates
    assert(buf(2) == 0L)            // NaN → 0
    val buf2 = agg.reduce(agg.zero, Array(Float.NegativeInfinity, 1f))
    assert(buf2(1) == Long.MinValue) // −Inf saturates
    assert(buf2(2) == 1000L)         // finite path unchanged
  }

  test("ScatterMoments: moments + integer identity reproduce the exact " +
    "centered scatter of the exploded formulation (hand-checked)") {
    val dim = 2
    val agg = new ScatterMoments(dim)
    // rows quantize to (1000, 2000), (3000, 1000), (2000, 3000)
    val rows = Seq(Array(1f, 2f), Array(3f, 1f), Array(2f, 3f))
    val merged = agg.finish(
      rows.foldLeft(agg.zero)((b, r) => agg.reduce(b, r)))
    val n = merged(0)
    val s = merged.slice(1, 1 + dim)
    assert(n == 3 && s.toSeq == Seq(6000L, 6000L))
    val mu = s.map(_ / n) // (2000, 2000)
    val S = Array.tabulate(dim, dim)((i, j) =>
      merged(1 + dim + i * dim + j) - mu(j) * s(i) - mu(i) * s(j) + n * mu(i) * mu(j))
    // exploded ground truth: c = q − mu → (−1000, 0), (1000, −1000), (0, 1000)
    assert(S(0)(0) == 2000000L && S(1)(1) == 2000000L, S.map(_.toSeq).toSeq)
    assert(S(0)(1) == -1000000L && S(1)(0) == -1000000L, S.map(_.toSeq).toSeq)
    // merge associativity: splitting the rows across partials agrees
    val p1 = rows.take(1).foldLeft(agg.zero)((b, r) => agg.reduce(b, r))
    val p2 = rows.drop(1).foldLeft(agg.zero)((b, r) => agg.reduce(b, r))
    assert(agg.finish(agg.merge(p1, p2)).toSeq == merged.toSeq)
  }

  test("BottomKLongs over real fingerprint hashes per source") {
    import graft.functions.ShingleFunctions._
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val perSource = docs
      .select(col("source"), explode(fingerprint(col("text"))).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new BottomKLongs(8).toColumn)
      .collect()
    assert(perSource.length == 20) // src0..src19
    perSource.foreach { case (_, bk) =>
      assert(bk.length == 8 && bk.toSeq == bk.toSeq.sorted.distinct)
    }
  }
}
