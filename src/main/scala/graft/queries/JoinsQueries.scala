package graft.queries

import graft.Tables
import graft.operators.{Joins, Materialize}
import graft.transform.CatalogTransforms
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.Joins]] and
  * [[graft.transform.CatalogTransforms]]: join strategies, as-of and
  * interval joins, catalog semantics, the Bloom pre-screen and salted
  * aggregation.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object JoinsQueries extends QueryFamily {

  /** x13 JSON scalar extraction with a real parser (C14 `from_json`;
    * the oracle reaches the same value through a portable regex —
    * props is always `{"k": <int>}`). */
  val x13 = query("x13_json_props_agg",
    """SELECT event_type, CAST(SUM(CAST(regexp_extract(props, '[0-9]+', 0) AS INT)) AS BIGINT) AS sum_k,
      |       count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), lit("STRUCT<k: INT>")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** x14 keyed upsert/merge (J5, the plain-Spark MERGE): pending
    * orders merge into the finished snapshot by order key — source
    * wins, unmatched target rows survive. */
  val x14 = query("x14_keyed_upsert",
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus FROM orders t
      |WHERE o_orderstatus = 'F' AND NOT EXISTS (
      |  SELECT 1 FROM orders s WHERE s.o_orderstatus = 'P' AND s.o_orderkey = t.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val target = o.filter(col("o_orderstatus") === "F")
    val source = o.filter(col("o_orderstatus") === "P")
    CatalogTransforms.upsert(target, source, "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /** x15 keyed last-wins dedup (A4) with deterministic tie-breaks. */
  val x15 = query("x15_lastwins_dedup",
    """SELECT o_custkey, o_orderkey FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    CatalogTransforms.lastWinsByKey(
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")),
        "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"))
      .orderBy(col("o_custkey"))
  }

  /** x16 delete-set detection (J2): "existing" customers whose key is
    * absent from the incoming batch (orders placed before 1996) — the
    * reference's vanished-stop shape over the fixture tables. */
  val x16 = query("x16_delete_set",
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    CatalogTransforms.deleteSet(
        Tables.load(s, dir, "customer").select(col("c_custkey")),
        Tables.load(s, dir, "orders")
          .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
          .select(col("o_custkey").as("c_custkey")),
        "c_custkey")
      .orderBy(col("c_custkey"))
  }

  /** x17 backward as-of join (events → each user's latest order at or
    * before the event time), composed as one keyed window pass. */
  val x17 = query("x17_asof_join",
    """SELECT e.event_id,
      |       (SELECT o.o_orderkey FROM orders o
      |         WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS o_orderkey
      |FROM events e ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    Joins.asOfBackward(
        Tables.load(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey")),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        rightTieBreak = Seq("o_orderkey"))
      .select(col("event_id"), col("o_orderkey"))
      .orderBy(col("event_id"))
  }

  /** x18 salted skew join — result must equal the plain equi-join. */
  val x18 = query("x18_salted_join",
    """SELECT c.c_mktsegment, o.o_orderpriority, count(*) AS n
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment, o.o_orderpriority
      |ORDER BY c.c_mktsegment, o.o_orderpriority""".stripMargin) { (s, dir) =>
    Joins.saltedEquiJoin(
        Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("k"), col("o_orderpriority")),
        Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment")),
        key = "k", saltFactor = 8)
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  /** x19 binned range join: lineitems shipped within one day of any
    * URGENT order's date, counted per priority — a keyless interval
    * join turned into a bucket equi-join. (The priority filter bounds
    * the genuinely quadratic-ish day-cluster pair count: every
    * order×lineitem pair sharing a calendar day matches.) */
  val x19 = query("x19_range_join",
    """SELECT o.o_orderpriority, count(*) AS n
      |FROM orders o JOIN lineitem l
      |  ON l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate < o.o_orderdate + INTERVAL 1 DAY
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
    Joins.binnedRangeJoin(
        Tables.load(s, dir, "lineitem").select(col("l_shipdate")),
        Tables.load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(
            col("o_orderdate").as("win_start"),
            (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("win_end"),
            col("o_orderpriority")),
        leftTime = "l_shipdate", rightStart = "win_start", rightEnd = "win_end",
        binSeconds = 86400L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** x50 salted two-phase aggregation over the skew-prone user key —
    * result-identical to the plain GROUP BY (exact decimal partials),
    * which is exactly what the oracle asserts. */
  val x50 = query("x50_salted_agg",
    // The salted two-phase plan must equal the PLAIN group-by bit for
    // bit (counts are sums of partials; sums re-associate over exact
    // decimals) — so the oracle IS the plain group-by.
    """SELECT user_id, count(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Aggregates.saltedCountSum(
        Tables.load(s, dir, "events"), "user_id", "value", "event_id",
        nSalts = 16)
      .select(col("user_id"), col("n"),
        col("sum_val").cast("double").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** x62 corpus snapshot diff ([[CatalogTransforms.snapshotDiff]]):
    * version N = docs outside the mod-10 ingest split (x57's standing
    * corpus), version N+1 = the mod-3 survivors with a simulated edit
    * on the mod-7 rows — yielding all four statuses (added / removed /
    * changed / unchanged) non-vacuously. Content compared by md5, so
    * the full-outer shuffle carries (key, hash), never the text. */
  val x62 = query("x62_snapshot_diff",
    // Both engines hash the identical UTF-8 text to the same lowercase
    // hex md5; only hash EQUALITY reaches the output. The join carries
    // (key, hash), never the payload.
    """WITH old AS (SELECT doc_id, coalesce(md5(text), '__null__') AS h
      |             FROM documents WHERE doc_id % 10 <> 0),
      |nxt AS (SELECT doc_id,
      |               coalesce(md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
      |                                 ELSE text END), '__null__') AS h
      |        FROM documents WHERE doc_id % 3 <> 0)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.h IS NULL THEN 'added'
      |            WHEN n.h IS NULL THEN 'removed'
      |            WHEN o.h <> n.h THEN 'changed'
      |            ELSE 'unchanged' END AS status
      |FROM old o FULL OUTER JOIN nxt n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val old = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val next = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    CatalogTransforms.snapshotDiff(old, next, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** x63 Bloom-filter membership pre-screen — the runtime-filter
    * primitive at corpus scale: "known" day-1 users become a Bloom
    * filter ([[graft.functions.BloomFunctions]], Spark's own
    * BloomFilterAggregate/MightContain pair), later events probe it
    * map-side. The filter bits are engine-specific, so the CHECKED
    * output is the calibration contract (the x20 pattern): exact
    * membership counts (oracle-recomputed via the user-id join), the
    * zero-false-negative invariant the structure guarantees, and an
    * fp-rate bound flag pinned TRUE. The exact join exists FOR the
    * calibration; production runs only the broadcast probe. */
  val x63 = query("x63_bloom_prescreen",
    // The x20 calibration pattern for a Bloom filter: exact membership
    // recomputed; no-false-negative is the structure's guarantee
    // (violating it means the filter is broken, not mis-sized); the fp
    // bound is pinned TRUE at the sized rate + slack.
    """WITH seen AS (SELECT DISTINCT user_id FROM events
      |              WHERE CAST(ts AS DATE) < DATE '2024-01-02'),
      |probe AS (SELECT e.user_id,
      |                 s.user_id IS NOT NULL AS member
      |          FROM events e LEFT JOIN seen s ON e.user_id = s.user_id
      |          WHERE CAST(e.ts AS DATE) >= DATE '2024-01-02')
      |SELECT CAST(count(*) AS BIGINT) AS n_probe,
      |       CAST(count(CASE WHEN member THEN 1 END) AS BIGINT) AS n_known,
      |       CAST(0 AS BIGINT) AS n_false_negatives,
      |       TRUE AS fp_ok
      |FROM probe""".stripMargin) { (s, dir) =>
    bloomPrescreen(s, dir, graft.functions.BloomFunctions.MaxNumBits)
  }

  /** x63 body with the bit-cap injectable so tests can force the
    * over-cap degradation (the production cap would need ~4M distinct
    * keys to trip at any test sf). */
  private[graft] def bloomPrescreen(s: SparkSession, dir: String,
      maxNumBits: Long): DataFrame = {
    import graft.functions.BloomFunctions._
    val ev = Tables.load(s, dir, "events")
    val cut = to_date(lit("2024-01-02"))
    // materialized ONCE (the x32 sharing rule): three consumers — the
    // sizing count, the filter build, and the broadcast join side —
    // would otherwise each re-scan and re-distinct the pre-cut events
    val seen = ev.filter(to_date(col("ts")) < cut)
      .select(col("user_id")).distinct()
      .transform(Materialize(_, "JoinsQueries.bloomPrescreen: seen"))
    // SIZE FROM THE DATA, not a constant: a fixed numBits would blow
    // past its fp bound as the seen-set grows with sf (at ~50k keys a
    // 65536-bit filter saturates to fp≈1 and the pinned fp_ok flag
    // would flip). bits ≈ n·ln(1/p)/ln²2 at p=0.01 is n·9.57; 16 n
    // adds slack and a floor keeps tiny fixtures honest. The cap
    // ([[graft.functions.BloomFunctions.sizedBits]]) bounds the plan
    // literal; past it the screen degrades to the exact broadcast
    // semi-join already present for calibration — never an undersized
    // filter (fp→1) and never a GB-scale literal.
    val nSeen = seen.count()
    val bfOpt: Option[Array[Byte]] = sizedBits(nSeen, maxNumBits = maxNumBits)
      .map { bits =>
        seen.agg(bloom_agg(col("user_id"), math.max(nSeen, 1000L), bits).as("__bf"))
          .head().getAs[Array[Byte]]("__bf")
      }
    // might_contain requires a CONSTANT filter: the KB-scale binary
    // embeds as a literal — the very shape Catalyst's
    // InjectRuntimeFilter produces once its scalar subquery executes
    // (control-plane-sized, like x26's centroid literals)
    val known = seen.withColumn("__m", lit(1))
    val member = col("__m").isNotNull
    // over-cap fallback: the exact join IS the screen (zero fp, zero fn)
    val hit = bfOpt match {
      case Some(bf) => bloom_might_contain(lit(bf), col("user_id"))
      case None => member
    }
    ev.filter(to_date(col("ts")) >= cut)
      .select(col("user_id"))
      .join(broadcast(known), Seq("user_id"), "left")
      .select(member.as("member"), hit.as("__hit"))
      .agg(
        count(lit(1)).cast("bigint").as("n_probe"),
        count_if(col("member")).cast("bigint").as("n_known"),
        count_if(col("member") && !col("__hit")).cast("bigint").as("n_false_negatives"),
        (count_if(!col("member") && col("__hit")) <=
          greatest(ceil(count_if(!col("member")).cast("double") * lit(0.05)),
            lit(5L))).as("fp_ok"))
  }

  /** x105 blocked fuzzy self-join over part names — see
    * [[graft.operators.Joins.blockedFuzzyJoin]]: name variants within
    * 4 edits, blocked on the last token (the product noun), the
    * entity-resolution join class. Distinct names only, a < b. */
  val x105 = query("x105_fuzzy_join",
    // Replays the blocked fuzzy join: same last-token block key, same
    // levenshtein (classic edit distance in both engines), same a < b
    // orientation over distinct names.
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
      |blk AS (SELECT name, list_extract(string_split(name, ' '), -1) AS b
      |        FROM names)
      |SELECT a.name AS name_a, b2.name AS name_b,
      |       CAST(levenshtein(a.name, b2.name) AS INT) AS dist
      |FROM blk a JOIN blk b2 ON a.b = b2.b
      |WHERE levenshtein(a.name, b2.name) <= 4 AND a.name < b2.name
      |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
    val names = Tables.load(s, dir, "part")
      .select(col("p_name").as("name")).distinct()
    graft.operators.Joins.blockedFuzzyJoin(
        names.select(col("name").as("name_a")),
        names.select(col("name").as("name_b")),
        "name_a", "name_b", maxDist = 4,
        c => element_at(split(c, " "), -1))
      .filter(col("name_a") < col("name_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** x112 end-to-end entity resolution over part names — see
    * [[graft.operators.Joins.entityResolution]]: blocked fuzzy match →
    * transitive closure → canonical entity per component; singletons
    * resolve to themselves. */
  val x112 = query("x112_entity_resolution",
    // Replays entityResolution: the x105 fuzzy pair relation as edges,
    // the x28 recursive transitive closure, min-member canonical id,
    // singletons resolving to themselves via the left-join coalesce.
    """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
      |blk AS (SELECT name, list_extract(string_split(name, ' '), -1) AS b
      |        FROM names),
      |prs AS (SELECT a.name AS na, b2.name AS nb
      |        FROM blk a JOIN blk b2 ON a.b = b2.b
      |        WHERE levenshtein(a.name, b2.name) <= 4 AND a.name < b2.name),
      |ed AS (SELECT na AS a, nb AS b FROM prs
      |       UNION SELECT nb AS a, na AS b FROM prs),
      |nodes AS (SELECT DISTINCT a AS node FROM ed),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT reach.node, ed.b FROM reach JOIN ed ON ed.a = reach.r),
      |cl AS (SELECT node AS name, min(r) AS entity_id FROM reach GROUP BY node),
      |res AS (SELECT n.name, coalesce(cl.entity_id, n.name) AS entity_id
      |        FROM names n LEFT JOIN cl USING (name)),
      |sz AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
      |       FROM res GROUP BY entity_id)
      |SELECT res.name, res.entity_id, sz.n_members
      |FROM res JOIN sz USING (entity_id)
      |ORDER BY name""".stripMargin) { (s, dir) =>
    graft.operators.Joins.entityResolution(
        Tables.load(s, dir, "part").select(col("p_name")),
        "p_name", maxDist = 4, c => element_at(split(c, " "), -1))
      .orderBy(col("name"))
  }

  /** x118 rank-matched length pairs between two sources — see
    * [[graft.operators.Joins.rankMatchedPairs]]: within equi-depth
    * length buckets, i-th A-doc pairs with i-th B-doc — the matched
    * control construction. */
  val x118 = query("x118_rank_matched_pairs",
    // Replays rankMatchedPairs: cohort-blind ntile over (value, id),
    // per-(bucket, cohort) row_number over the same order, inner join
    // rank-to-rank.
    """WITH bt AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS v,
      |                   source AS c,
      |                   CAST(ntile(5) OVER (ORDER BY n_chars, doc_id)
      |                        AS INT) AS bucket
      |            FROM documents WHERE source IN ('src0', 'src1')
      |              AND n_chars IS NOT NULL),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY bucket, c
      |                       ORDER BY v, id) AS INT) AS pair_rank
      |      FROM bt)
      |SELECT a.bucket, a.pair_rank, a.id AS id_a, a.v AS val_a,
      |       b2.id AS id_b, b2.v AS val_b, abs(a.v - b2.v) AS gap
      |FROM r a JOIN r b2 ON a.bucket = b2.bucket
      |                  AND a.pair_rank = b2.pair_rank
      |WHERE a.c = 'src0' AND b2.c = 'src1'
      |ORDER BY a.bucket, a.pair_rank""".stripMargin) { (s, dir) =>
    graft.operators.Joins.rankMatchedPairs(docs(s, dir), "doc_id", "n_chars",
        "source", "src0", "src1", buckets = 5)
      .orderBy(col("bucket"), col("pair_rank"))
  }

  /** x126 interval-overlap join: per-user-day activity spans × error
    * storms — see [[graft.operators.Joins.intervalOverlapJoin]]:
    * binned interval×interval equi-join with the canonical-bucket
    * dedup-free rule; which users were active through an error storm,
    * and for how long (exact integer microseconds). */
  val x126 = query("x126_interval_overlap",
    // Replays intervalOverlapJoin with the NAIVE theta join — the
    // oracle proves the binned equi-join + canonical-bucket rule
    // equals the unbinned formulation, duplicates and all.
    """WITH spans AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |                      min(ts) AS s, max(ts) AS e
      |               FROM events GROUP BY 1, 2),
      |storms AS (SELECT date_trunc('hour', ts) AS h,
      |                  CAST(count(*) AS BIGINT) AS n_errors
      |           FROM events WHERE event_type = 'error'
      |           GROUP BY 1 HAVING count(*) >= 3)
      |SELECT sp.user_id, CAST(sp.day AS STRING) AS day,
      |       CAST(floor(epoch(st.h)) AS BIGINT) AS storm_epoch,
      |       st.n_errors,
      |       CAST(least(epoch_us(sp.e), epoch_us(st.h + INTERVAL 1 HOUR))
      |            - greatest(epoch_us(sp.s), epoch_us(st.h)) AS BIGINT)
      |         AS overlap_us
      |FROM spans sp JOIN storms st
      |  ON least(epoch_us(sp.e), epoch_us(st.h + INTERVAL 1 HOUR))
      |     - greatest(epoch_us(sp.s), epoch_us(st.h)) > 0
      |ORDER BY user_id, day, storm_epoch""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events")
    val spans = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("span_s"), max(col("ts")).as("span_e"))
    val storms = e.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("storm_s"))
      .agg(count(lit(1)).as("n_errors"))
      .filter(col("n_errors") >= 3)
      .withColumn("storm_e", col("storm_s") + expr("INTERVAL 1 HOUR"))
    graft.operators.Joins.intervalOverlapJoin(
        spans, storms, "span_s", "span_e", "storm_s", "storm_e",
        binSeconds = 3600L)
      .select(col("user_id"), col("day").cast("string").as("day"),
        unix_timestamp(col("storm_s")).as("storm_epoch"),
        col("n_errors"), col("overlap_us"))
      .orderBy(col("user_id"), col("day"), col("storm_epoch"))
  }
}
