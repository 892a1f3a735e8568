package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.ListenerBus
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The hybrid connected components: the local finish must give the
  * label loop's labels exactly, and a small graph must cost no more
  * than the job that shuffles its edges plus the one that reads them. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: DataFrame): Set[Row] = df.collect().toSet

  /** Both sides over the same directed edge frame, with their schemas. */
  private def assertSameLabels(pairs: DataFrame, maxIter: Int = 25): Unit = {
    val edges = Dedup.directedEdges(pairs, "doc_a", "doc_b")
    val local = Dedup.localFinish(edges, Int.MaxValue)
      .getOrElse(fail("local finish declined a small graph"))
    val loop = Dedup.labelLoop(edges, maxIter)
    assert(local.schema == loop.schema)
    assert(labels(local) == labels(loop), pairs.collect().mkString(" "))
  }

  /** `n` random pair lists over `ids`: self-loops, pairs given in both
    * directions and repeated pairs all occur. */
  private def graphs[T](ids: Gen[T], n: Int, seed: Long): Seq[Seq[(T, T)]] = {
    val g = Gen.choose(0, 14).flatMap(Gen.listOfN(_, Gen.zip(ids, ids)))
      .map(ps => ps ++ ps.take(2).map(_.swap))
    (0 until n).map(i => g(Gen.Parameters.default, Seed(seed + i)).get)
  }

  test("local finish equals the label loop on random long-keyed graphs with null ids") {
    val ids = Gen.frequency(9 -> Gen.choose(-6L, 12L).map(Option(_)), 1 -> Gen.const(None))
    for (ps <- graphs(ids, 8, 41L))
      assertSameLabels(ps.toDF("doc_a", "doc_b"))
  }

  test("local finish equals the label loop on int and string keys, in UTF-8 byte order") {
    for (ps <- graphs(Gen.choose(0, 9), 3, 7L))
      assertSameLabels(ps.toDF("doc_a", "doc_b"))
    // U+FFFD sorts BELOW U+1F600 in UTF-8 bytes (EF.. < F0..) but ABOVE
    // it in Java's UTF-16 order (FFFD > D83D), so a String comparator
    // would pick the wrong minimum
    assert("�".compareTo("😀") > 0)
    val pool = Seq("�", "😀", "a", "", "ab", "é", "Z", "😀x")
    val ids = Gen.frequency(9 -> Gen.oneOf(pool).map(Option(_)), 1 -> Gen.const(None))
    for (ps <- graphs(ids, 6, 99L))
      assertSameLabels(ps.toDF("doc_a", "doc_b"))
    val r = Dedup.connectedComponents(Seq(("😀", "�")).toDF("doc_a", "doc_b"))
      .as[(String, String)].collect().toMap
    assert(r == Map("😀" -> "�", "�" -> "�"))
  }

  test("null ids stay an isolated null node; self-loops and reversed pairs are plain edges") {
    val pairs = Seq((Some(1L), None), (None, Some(2L)), (Some(3L), Some(3L)),
      (Some(4L), Some(5L)), (Some(5L), Some(4L))).toDF("doc_a", "doc_b")
    val r = Dedup.connectedComponents(pairs).as[(Option[Long], Option[Long])].collect()
    assert(r.sortBy(_._1).toSeq == Seq(None -> None, Some(1L) -> Some(1L),
      Some(2L) -> Some(2L), Some(3L) -> Some(3L), Some(4L) -> Some(4L), Some(5L) -> Some(4L)))
    assertSameLabels(pairs)
  }

  test("a chain longer than maxIter: the loop fails loudly, the local finish labels it") {
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val edges = Dedup.directedEdges(chain, "doc_a", "doc_b")
    val e = intercept[IllegalStateException](Dedup.labelLoop(edges, maxIter = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"))
    assertSameLabels(chain, maxIter = 10)
    assert(Dedup.connectedComponents(chain, maxIter = 3).as[(Long, Long)].collect()
      .toMap == (1L to 9L).map(_ -> 1L).toMap)
  }

  test("local finish declines a graph over its bound and reads partitions over their share") {
    // a star: all 12 edges out of its hub land in one hash partition
    val star = (1L to 12L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val edges = Dedup.directedEdges(star, "doc_a", "doc_b")
    assert(Dedup.localFinish(edges, 23).isEmpty)
    val skewed = edges.repartition(4, $"src")
    val local = Dedup.localFinish(skewed, 24).getOrElse(fail("24 edges fit a bound of 24"))
    assert(labels(local) == (0L to 12L).map(Row(_, 0L)).toSet)
  }

  test("a small graph costs at most 2 Spark jobs, each named after its step") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val r = try {
      val out = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      ListenerBus.drain(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L))
    assert(jobs.size <= 2, jobs)
    jobs.forEach(j => assert(j._2 == "Dedup.connectedComponents: edges", jobs))
  }
}
