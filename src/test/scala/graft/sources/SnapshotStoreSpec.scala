package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The atomic snapshot-pointer layout's contract (VERDICT r15 item 3):
  * writers never disturb the published snapshot, the pointer flip is
  * the commit point, and — the e2e pin — a reader querying WHILE a
  * writer merges never sees a torn table. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getPath

  test("write/read/currentVersion: versions advance, old snapshots stay " +
      "readable, vacuum keeps the pointed-at one") {
    val table = tmp("snap_basic") + "/t"
    assert(SnapshotStore.currentVersion(spark, table).isEmpty)
    intercept[java.io.FileNotFoundException](SnapshotStore.read(spark, table))

    val v1 = SnapshotStore.write(Seq(1, 2, 3).toDF("x"), table).version
    val v2 = SnapshotStore.write(Seq(4, 5).toDF("x"), table).version
    assert((v1, v2) == (1L, 2L))
    assert(SnapshotStore.currentVersion(spark, table) == Some(2L))
    assert(SnapshotStore.read(spark, table).as[Int].collect().sorted.toSeq == Seq(4, 5))
    // the superseded snapshot is untouched until vacuum
    assert(spark.read.parquet(s"$table/snap-00000001")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))

    val v3 = SnapshotStore.write(Seq(9).toDF("x"), table)
    assert(v3 == SnapshotStore.Commit(3L, becameCurrent = true))
    val deleted = SnapshotStore.vacuum(spark, table, keepLast = 2)
    assert(deleted == Seq("snap-00000001"), deleted)
    assert(SnapshotStore.read(spark, table).as[Int].collect().toSeq == Seq(9))
    assert(spark.read.parquet(s"$table/snap-00000002")
      .as[Int].collect().sorted.toSeq == Seq(4, 5))
  }

  test("a crashed unpublished snapshot is overwritten by the next write, " +
      "and a corrupt pointer fails loudly") {
    val table = tmp("snap_crash") + "/t"
    SnapshotStore.write(Seq(1).toDF("x"), table)
    // simulate a writer that died after materializing snap-2 but
    // before the pointer flip
    Seq(7, 7, 7).toDF("x").write.parquet(s"$table/snap-00000002")
    assert(SnapshotStore.currentVersion(spark, table) == Some(1L))
    val v = SnapshotStore.write(Seq(2, 3).toDF("x"), table)
    assert(v == SnapshotStore.Commit(2L, becameCurrent = true))
    assert(SnapshotStore.read(spark, table).as[Int].collect().sorted.toSeq == Seq(2, 3))

    java.nio.file.Files.write(java.nio.file.Paths.get(table, "_CURRENT"),
      "garbage".getBytes("UTF-8"))
    intercept[java.io.IOException](SnapshotStore.currentVersion(spark, table))
  }

  test("e2e: a concurrent reader NEVER sees a torn table while a writer " +
      "publishes snapshot after snapshot") {
    val table = tmp("snap_concurrent") + "/t"
    // version v's content: v rows, every row carrying v — a read is
    // consistent iff (count == marker) and all markers agree
    def frame(v: Int) = spark.range(v)
      .select(lit(v).cast("int").as("ver"), col("id"))
    SnapshotStore.write(frame(1), table)

    val torn = new AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get() && torn.get() == null) {
        val rows = SnapshotStore.read(spark, table)
          .select(col("ver")).as[Int].collect()
        val vs = rows.distinct
        if (vs.length != 1 || rows.length != vs.head)
          torn.set(s"markers=${vs.toSeq} count=${rows.length}")
        reads.incrementAndGet()
        ()
      }
    })
    reader.start()
    (2 to 25).foreach { v => SnapshotStore.write(frame(v), table) }
    stop.set(true)
    reader.join(60000)
    assert(torn.get() == null, s"torn read: ${torn.get()}")
    assert(reads.get() > 0)
    // and the final state is the last published version, complete
    val fin = SnapshotStore.read(spark, table).select(col("ver")).as[Int].collect()
    assert(fin.length == 25 && fin.forall(_ == 25))
  }

  test("two concurrent writeWith calls claim DISTINCT versions — both " +
      "commits survive on disk and the pointer converges on the max " +
      "(VERDICT r16 item 2: no lost update, no shared staging dir)") {
    val table = tmp("snap_ww") + "/t"
    SnapshotStore.write(Seq(0).toDF("x"), table)
    val writers = 6
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    import scala.jdk.CollectionConverters._
    val tasks = (1 to writers).map { i =>
      new java.util.concurrent.Callable[SnapshotStore.Commit] {
        def call(): SnapshotStore.Commit = {
          barrier.await() // maximize claim contention
          SnapshotStore.writeWith(spark, table) { dir =>
            Seq.fill(i)(i * 100).toDF("x").write.parquet(dir)
          }
        }
      }
    }
    val commits = pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    pool.shutdown()
    val versions = commits.map(_.version)
    // every writer got its own version — no directory was shared
    assert(versions.distinct.size == writers, s"duplicate claims: $versions")
    assert(versions.forall(_ >= 2L))
    // the pointer is the highest published version and its snapshot
    // is internally consistent (i rows of value i*100 for some i)
    val cur = SnapshotStore.currentVersion(spark, table).get
    assert(cur == versions.max, s"pointer $cur != max ${versions.max}")
    // the receipt tells each writer its fate (ADVICE r17): exactly the
    // writers whose version the pointer reached report becameCurrent —
    // the max always does; a superseded writer never reports true
    assert(commits.filter(_.becameCurrent).map(_.version).contains(versions.max))
    commits.foreach { c =>
      if (c.version != versions.max)
        assert(!c.becameCurrent || c.version < versions.max,
          s"impossible receipt: $c with max ${versions.max}")
    }
    assert(commits.count(c => c.version == versions.max && c.becameCurrent) == 1)
    val rows = SnapshotStore.read(spark, table).as[Int].collect().toSeq
    assert(rows.distinct.size == 1 && rows.size * 100 == rows.head,
      s"torn published snapshot: $rows")
    // and EVERY writer's commit survives, complete, at its own version
    versions.foreach { v =>
      val snap = spark.read.parquet(s"$table/${SnapshotStore.snapName(v)}")
        .as[Int].collect().toSeq
      assert(snap.distinct.size == 1 && snap.size * 100 == snap.head,
        s"torn unpublished commit at v=$v: $snap")
    }
  }

  test("superseded writer learns it (ADVICE r17 + VERDICT r17 item 6): " +
      "deterministic local-FS interleaving — the pre-existing claim file " +
      "atomically bumps the fast writer to the next version, the slow " +
      "lower-version writer's receipt says becameCurrent=false, and its " +
      "commit stays time-travel-readable") {
    val table = tmp("snap_super") + "/t"
    SnapshotStore.write(Seq(0).toDF("x"), table) // v1
    // slow writer claims v2, then its body BLOCKS until the fast writer
    // has claimed (v3 — v2's claim file already exists on the local FS)
    // and published
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slowCommit = new AtomicReference[SnapshotStore.Commit](null)
    val slow = new Thread(() => {
      slowCommit.set(SnapshotStore.writeWith(spark, table) { dir =>
        Seq(222).toDF("x").write.parquet(dir)
        gate.await()
      })
    })
    slow.start()
    val claim2 = new java.io.File(table, ".claim-snap-00000002")
    val deadline = System.currentTimeMillis() + 60000
    while (!claim2.exists() && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(claim2.exists(), "slow writer never claimed v2")
    val fast = SnapshotStore.writeWith(spark, table) { dir =>
      Seq(333).toDF("x").write.parquet(dir)
    }
    assert(fast == SnapshotStore.Commit(3L, becameCurrent = true), fast)
    gate.countDown()
    slow.join(60000)
    assert(slowCommit.get() == SnapshotStore.Commit(2L, becameCurrent = false),
      s"superseded writer got ${slowCommit.get()}")
    // the pointer never regressed; the superseded commit is complete
    // on disk and time-travel-readable until vacuum
    assert(SnapshotStore.currentVersion(spark, table) == Some(3L))
    assert(SnapshotStore.read(spark, table).as[Int].collect().toSeq == Seq(333))
    assert(SnapshotStore.readVersion(spark, table, 2L)
      .as[Int].collect().toSeq == Seq(222))
  }

  test("vacuum minAgeMs: a snapshot younger than the retention window " +
      "is kept even when keepLast would reclaim it (VERDICT r16 item 3)") {
    val table = tmp("snap_age") + "/t"
    (1 to 4).foreach(v => SnapshotStore.write(Seq(v).toDF("x"), table))
    // all four snapshots were just written: a 1-hour min-age keeps them
    val keptByAge = SnapshotStore.vacuum(spark, table, keepLast = 1,
      minAgeMs = 3600L * 1000L)
    assert(keptByAge.isEmpty, s"vacuum violated min-age: $keptByAge")
    assert(spark.read.parquet(s"$table/snap-00000001")
      .as[Int].collect().toSeq == Seq(1))
    // age the old directories artificially, then the same vacuum reclaims
    (1 to 3).foreach { v =>
      val dir = new java.io.File(table, SnapshotStore.snapName(v))
      assert(dir.setLastModified(System.currentTimeMillis() - 7200L * 1000L))
    }
    val deleted = SnapshotStore.vacuum(spark, table, keepLast = 1,
      minAgeMs = 3600L * 1000L)
    assert(deleted == Seq("snap-00000001", "snap-00000002", "snap-00000003"),
      deleted)
    assert(SnapshotStore.read(spark, table).as[Int].collect().toSeq == Seq(4))
    // claim markers below the floor went with their snapshots
    val claims = new java.io.File(table).listFiles()
      .map(_.getName).filter(_.startsWith(".claim-"))
    assert(claims.forall(_ == ".claim-snap-00000004"), claims.toSeq)
  }

  test("readVersion: time travel reads any on-disk snapshot; " +
      "vacuumed versions fail with the retention hint") {
    val table = tmp("snap_tt") + "/t"
    (1 to 3).foreach(v => SnapshotStore.write(Seq(v * 10).toDF("x"), table))
    // time travel: every committed version reads as written
    (1 to 3).foreach { v =>
      assert(SnapshotStore.readVersion(spark, table, v.toLong)
        .as[Int].collect().toSeq == Seq(v * 10))
    }
    // vacuum reclaims v1 (age the dirs), then readVersion fails loudly
    (1 to 2).foreach { v =>
      new java.io.File(table, SnapshotStore.snapName(v))
        .setLastModified(System.currentTimeMillis() - 7200L * 1000L)
    }
    val deleted = SnapshotStore.vacuum(spark, table, keepLast = 2,
      minAgeMs = 3600L * 1000L)
    assert(deleted == Seq("snap-00000001"), deleted)
    val e = intercept[java.io.FileNotFoundException](
      SnapshotStore.readVersion(spark, table, 1L))
    assert(e.getMessage.contains("keepLast"), e.getMessage)
    assert(SnapshotStore.readVersion(spark, table, 2L)
      .as[Int].collect().toSeq == Seq(20))
  }
}
