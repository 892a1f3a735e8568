package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CorpusHelpers._

/** Extension queries over [[graft.operators.Graph]],
  * [[graft.operators.Rank]] and [[graft.operators.Preferences]]: graph
  * algorithms, ranking and preference models.
  * Loaders, shared oracle SQL and the oracle contract: [[CorpusHelpers]]. */
object GraphQueries extends QueryFamily {

  /** x80 k-NN graph degree diagnostics (out/in/mutual degree per
    * node) — see [[graft.operators.Graph.degreeProfile]]. The index-
    * health read before trusting the graph: in-degree hubs and the
    * mutual-edge rate. */
  val x80 = query("x80_knn_degree_profile",
    // Degree replay over the same edge set: out/in by simple counts,
    // mutuality by the (src,dst)↔(dst,src) self-join, full-outer
    // assembled on node id.
    s"""WITH ${knnEdgesCteSql(3)},
       |o AS (SELECT src AS id, count(*) AS out_deg FROM knn GROUP BY src),
       |i AS (SELECT dst AS id, count(*) AS in_deg FROM knn GROUP BY dst),
       |m AS (SELECT a.src AS id, count(*) AS mutual_deg
       |      FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |      GROUP BY a.src)
       |SELECT COALESCE(o.id, i.id) AS vec_id,
       |       COALESCE(out_deg, 0) AS out_deg,
       |       COALESCE(in_deg, 0) AS in_deg,
       |       COALESCE(mutual_deg, 0) AS mutual_deg
       |FROM o FULL OUTER JOIN i ON o.id = i.id
       |       LEFT JOIN m ON COALESCE(o.id, i.id) = m.id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.degreeProfile(
        Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
          .select(col("src"), col("dst")))
      .select(col("id").as("vec_id"), col("out_deg"), col("in_deg"),
        col("mutual_deg"))
      .orderBy(col("vec_id"))
  }

  /** x82 integer-exact PageRank (2 iterations, damping 17/20) over
    * the x76 k-NN graph — see [[graft.operators.Graph.pageRank]].
    * Fully value-checked: the oracle replays both iterations in the
    * same micro-unit integer arithmetic. */
  val x82 = query("x82_pagerank",
    // Both PageRank iterations replayed in the same micro-unit integer
    // arithmetic: pr·17 // (20·out_deg) per edge (both engines floor
    // non-negative integer division identically), +150000 restart,
    // exact integer sums in any accumulation order.
    s"""WITH ${knnEdgesCteSql(3)},
       |nodes AS (SELECT src AS id FROM knn UNION SELECT dst FROM knn),
       |od AS (SELECT src, count(*) AS out_deg FROM knn GROUP BY src),
       |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
       |c1 AS (SELECT e.dst AS id,
       |              sum((p.pr * 17) // (20 * o.out_deg)) AS m
       |       FROM knn e JOIN od o ON e.src = o.src
       |                  JOIN p0 p ON p.id = e.src
       |       GROUP BY e.dst),
       |p1 AS (SELECT n.id, CAST(150000 + COALESCE(c1.m, 0) AS BIGINT) AS pr
       |       FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
       |c2 AS (SELECT e.dst AS id,
       |              sum((p.pr * 17) // (20 * o.out_deg)) AS m
       |       FROM knn e JOIN od o ON e.src = o.src
       |                  JOIN p1 p ON p.id = e.src
       |       GROUP BY e.dst),
       |p2 AS (SELECT n.id, CAST(150000 + COALESCE(c2.m, 0) AS BIGINT) AS pr
       |       FROM nodes n LEFT JOIN c2 ON n.id = c2.id)
       |SELECT id AS vec_id, pr AS pr_micro FROM p2 ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.pageRank(
        Similarity.knnGraph(emb(s, dir), k = 3, nPlanes = 6, dim = 64)
          .select(col("src"), col("dst")), iters = 2)
      .select(col("id").as("vec_id"), col("pr").as("pr_micro"))
      .orderBy(col("vec_id"))
  }

  /** x83 triangle counts + local clustering coefficient over the
    * MUTUAL x76 edges — see [[graft.operators.Graph.triangleProfile]].
    * Cohesion metric: tight near-dup/topic pockets vs star noise. */
  val x83 = query("x83_triangle_profile",
    // Ordered two-path + closing-edge triangle enumeration over the
    // mutual (u<v) edge set; coefficient in exact integer micro-units,
    // NULL where deg < 2 (undefined).
    s"""WITH ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |        FROM mu e1 JOIN mu e2 ON e1.v = e2.u
       |                   JOIN mu e3 ON e3.u = e1.u AND e3.v = e2.v),
       |pern AS (SELECT id, count(*) AS tri FROM (
       |           SELECT a AS id FROM tri
       |           UNION ALL SELECT b FROM tri
       |           UNION ALL SELECT c FROM tri) t GROUP BY id),
       |deg AS (SELECT id, count(*) AS deg FROM (
       |          SELECT u AS id FROM mu UNION ALL SELECT v FROM mu) t
       |        GROUP BY id)
       |SELECT d.id AS vec_id, d.deg,
       |       CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
       |       CASE WHEN d.deg >= 2
       |            THEN (COALESCE(p.tri, 0) * 2000000) // (d.deg * (d.deg - 1))
       |       END AS cc_micro
       |FROM deg d LEFT JOIN pern p ON d.id = p.id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.triangleProfile(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir)))
      .select(col("id").as("vec_id"), col("deg"), col("tri"), col("cc_micro"))
      .orderBy(col("vec_id"))
  }

  /** x93 common-neighbor link prediction over the mutual k-NN graph —
    * see [[graft.operators.Graph.linkPrediction]]: non-adjacent vector
    * pairs ranked by shared-neighbor evidence, the recall-repair pass
    * over the x76 edge set (bucket-boundary misses resurface here). */
  val x93 = query("x93_link_prediction",
    // Replays linkPrediction over the same mutual edge set as x84: the
    // wedge join on the shared neighbor, the (u < v) adjacency
    // anti-check, and the micro-unit neighborhood Jaccard — integer
    // floor-division, engine-identical.
    s"""WITH ${knnEdgesCteSql(3)},
       |und AS (SELECT DISTINCT a.src AS u, a.dst AS v
       |        FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |        WHERE a.src < a.dst),
       |adj AS (SELECT u AS x, v AS n FROM und
       |        UNION ALL SELECT v, u FROM und),
       |cn AS (SELECT l.x AS a, r.x AS b, count(*) AS common
       |       FROM adj l JOIN adj r ON l.n = r.n AND l.x < r.x
       |       GROUP BY 1, 2),
       |nonadj AS (SELECT cn.* FROM cn
       |           LEFT JOIN und ON und.u = cn.a AND und.v = cn.b
       |           WHERE und.u IS NULL),
       |deg AS (SELECT x AS id, count(*) AS deg FROM adj GROUP BY x)
       |SELECT n.a, n.b, CAST(common AS BIGINT) AS common,
       |       CAST(common * 1000000 // (da.deg + db.deg - common) AS BIGINT)
       |         AS jaccard_micro
       |FROM nonadj n
       |JOIN deg da ON da.id = n.a
       |JOIN deg db ON db.id = n.b
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    graft.operators.Graph.linkPrediction(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir)))
      .orderBy(col("a"), col("b"))
  }

  /** x137 3-core of the mutual k-NN graph — see
    * [[graft.operators.Graph.kCore]]: synchronous peeling to the
    * maximal subgraph of min-degree 3, the dense near-dup/topic
    * nucleus (6 rounds ≥ the measured peel depth at every fixture
    * scale; the plan-shape spec pins the fixpoint). */
  val x137 = query("x137_kcore",
    // Replays kCore: the same mutual edge set as x83/x84, six unrolled
    // synchronous peel rounds (plain CTEs — fixed rounds make the
    // recursion static), final within-core degrees.
    {
      val peels = (1 to 6).map { r =>
        s"""n$r AS MATERIALIZED (SELECT und.u AS node FROM und
           |  JOIN n${r - 1} a ON a.node = und.u
           |  JOIN n${r - 1} b ON b.node = und.v
           |  GROUP BY und.u HAVING count(*) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${knnEdgesCteSql(3)},
         |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
         |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
         |       WHERE a.src < a.dst),
         |und AS MATERIALIZED (SELECT u, v FROM mu UNION ALL SELECT v AS u, u AS v FROM mu),
         |n0 AS (SELECT DISTINCT u AS node FROM und),
         |$peels
         |SELECT und.u AS vec_id, CAST(count(*) AS BIGINT) AS core_deg
         |FROM und JOIN n6 a ON a.node = und.u JOIN n6 b ON b.node = und.v
         |GROUP BY und.u ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
    graft.operators.Graph.kCore(
        graft.operators.Graph.mutualEdges(knnEdges(s, dir)),
        k = 3, rounds = 6)
      .select(col("id").as("vec_id"), col("core_deg"))
      .orderBy(col("vec_id"))
  }

  /** x160 label modularity of the k-NN graph — see
    * [[graft.operators.Graph.partitionModularity]]: does the label
    * partition explain the embedding neighborhoods — the no-ground-
    * truth label-quality audit (Q ≈ 0 = labels are geometric noise). */
  val x160 = query("x160_label_modularity",
    // Replays partitionModularity on the same mutual edge set as
    // x83/x84/x137: exact integer m, e_c, d_c; one fixed double Q
    // term per label quantized to micro; integer total.
    s"""WITH ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM mu),
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |wi AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_within
       |       FROM mu JOIN lab la ON la.id = mu.u
       |               JOIN lab lb ON lb.id = mu.v
       |       WHERE la.label = lb.label GROUP BY 1),
       |dg AS (SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(sum(d.d) AS BIGINT) AS deg_sum
       |       FROM (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
       |               SELECT u AS id FROM mu UNION ALL SELECT v FROM mu) t
       |             GROUP BY id) d
       |       JOIN lab ON lab.id = d.id GROUP BY 1),
       |terms AS (SELECT dg.label, dg.n_nodes,
       |    CAST(coalesce(wi.e_within, 0) AS BIGINT) AS e_within,
       |    dg.deg_sum,
       |    CAST(round((coalesce(wi.e_within, 0) / CAST(m.m AS DOUBLE) -
       |      (dg.deg_sum / (2.0 * m.m)) * (dg.deg_sum / (2.0 * m.m)))
       |      * 1000000) AS BIGINT) AS q_term_micro
       |  FROM dg LEFT JOIN wi ON wi.label = dg.label CROSS JOIN m),
       |tot AS (SELECT CAST(sum(q_term_micro) AS BIGINT) AS q_total_micro
       |        FROM terms)
       |SELECT label, n_nodes, e_within, deg_sum, q_term_micro,
       |       q_total_micro
       |FROM terms CROSS JOIN tot ORDER BY label""".stripMargin) { (s, dir) =>
    graft.operators.Graph.partitionModularity(
      graft.operators.Graph.mutualEdges(knnEdges(s, dir)),
      emb(s, dir).select(col("vec_id").as("id"), col("label")))
  }

  /** x168 kNN label-noise audit — see
    * [[graft.operators.Graph.labelNoiseAudit]]: per-point neighbor
    * disagreement over the x76 kNN edges — WHICH labels to re-check,
    * the row-level sibling of x160's partition-level Q. */
  val x168 = query("x168_label_noise",
    // Replays labelNoiseAudit over the same bucketed kNN edges as
    // x83/x160: endpoint label joins, integer disagreement counts,
    // strict-majority suspect flag.
    s"""WITH ${knnEdgesCteSql(3)},
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |j AS (SELECT knn.src AS id, la.label AS ls, lb.label AS ld
       |      FROM knn JOIN lab la ON la.id = knn.src
       |               JOIN lab lb ON lb.id = knn.dst)
       |SELECT id, ls AS label, CAST(count(*) AS BIGINT) AS n_neighbors,
       |       CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_disagree,
       |       CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) * 1000000
       |            // count(*) AS BIGINT) AS disagree_micro,
       |       sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END) * 2 > count(*)
       |         AS suspect
       |FROM j GROUP BY id, ls ORDER BY id""".stripMargin) { (s, dir) =>
    graft.operators.Graph.labelNoiseAudit(knnEdges(s, dir),
      emb(s, dir).select(col("vec_id").as("id"), col("label")))
  }

  /** x218 degree assortativity — see
    * [[graft.operators.Graph.degreeAssortativity]]: Newman's degree
    * correlation over the symmetrized mutual k-NN edges — hub-core
    * (r > 0) vs star topology (r < 0), the graph-shape read beside
    * x80's degrees and x83's clustering. */
  val x218 = query("x218_degree_assortativity",
    // Replays degreeAssortativity on the symmetrized mutual k-NN
    // edges: exact BIGINT moments, ONE double Pearson expression
    // quantized to micro (identical IEEE evaluation both engines).
    s"""WITH ${knnEdgesCteSql(3)},
       |mu AS MATERIALIZED (SELECT DISTINCT a.src AS u, a.dst AS v
       |       FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |       WHERE a.src < a.dst),
       |sym AS (SELECT u AS src, v AS dst FROM mu
       |        UNION ALL SELECT v, u FROM mu),
       |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
       |        FROM sym GROUP BY 1),
       |mom AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |          CAST(sum(da.deg) AS BIGINT) AS sx,
       |          CAST(sum(db.deg) AS BIGINT) AS sy,
       |          CAST(sum(da.deg * db.deg) AS BIGINT) AS sxy,
       |          CAST(sum(da.deg * da.deg) AS BIGINT) AS sxx,
       |          CAST(sum(db.deg * db.deg) AS BIGINT) AS syy
       |        FROM sym e JOIN deg da ON da.id = e.src
       |                   JOIN deg db ON db.id = e.dst),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT nn.n_nodes, mom.m AS n_directed_edges,
       |       CAST(round(
       |         (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |           * 1000000.0 /
       |         (sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
       |          sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))
       |         AS BIGINT) AS assortativity_micro
       |FROM mom, nn
       |WHERE m * sxx > sx * sx AND m * syy > sy * sy""".stripMargin) { (s, dir) =>
    val mu = graft.operators.Graph.mutualEdges(knnEdges(s, dir))
    graft.operators.Graph.degreeAssortativity(
      mu.select(col("u").as("src"), col("v").as("dst"))
        .union(mu.select(col("v").as("src"), col("u").as("dst"))))
  }

  /** x230 source Bradley-Terry tournament — see
    * [[graft.operators.Preferences.bradleyTerry]]: each cross-source
    * near-dup pair (x04's relation) is a "which source serves the
    * better copy of shared content" judgment (longer copy wins,
    * doc_a's source on a tie), and the BT-MM fit turns those pairwise
    * judgments into the source priority x72's canonicalizer assumes. */
  /** The cross-source "which source serves the better copy" judgment
    * frame x230/x232 share: x04's near-dup pairs, longer copy wins,
    * doc_a's source on ties, same-source pairs dropped. */
  private def sourcePrefs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    Dedup.ngramJaccardNearDup(docs(s, dir), "doc_id", "text",
        ngram = 3, prefixK = 8, minJaccard = 0.2)
      .join(d.select(col("doc_id").as("doc_a"), col("source").as("__sa"),
        col("n_chars").as("__ca")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("source").as("__sb"),
        col("n_chars").as("__cb")), "doc_b")
      .filter(col("__sa") =!= col("__sb"))
      .select(
        when(col("__ca") > col("__cb"), col("__sa"))
          .when(col("__cb") > col("__ca"), col("__sb"))
          .otherwise(col("__sa")).as("winner"),
        when(col("__ca") > col("__cb"), col("__sb"))
          .when(col("__cb") > col("__ca"), col("__sa"))
          .otherwise(col("__sb")).as("loser"))
  }

  val x230 = query("x230_source_bradley_terry",
    // Replays the source Bradley-Terry tournament: x04's pair
    // relation, the longer-copy-wins judgment, then 8 BT-MM rounds in
    // the same integer micro arithmetic (every division //, strengths
    // floored at 1, max pinned to 1e6 each round).
    {
      val btRounds = (1 to 8).map { r =>
        val prev = s"bt${r - 1}"
        s"""d$r AS (SELECT e.item,
           |    CAST(sum((e.n::HUGEINT * 1000000000000) // (si.s + sj.s))
           |      AS HUGEINT) AS d
           |  FROM ed e JOIN $prev si ON si.item = e.item
           |            JOIN $prev sj ON sj.item = e.o
           |  GROUP BY 1),
           |r$r AS MATERIALIZED (SELECT it.item,
           |    CASE WHEN d.d IS NULL OR d.d = 0 THEN CAST(0 AS HUGEINT)
           |         ELSE (it.w::HUGEINT * 1000000000000) // d.d END AS rr
           |  FROM it LEFT JOIN d$r d ON d.item = it.item),
           |m$r AS (SELECT max(rr) AS mx FROM r$r),
           |bt$r AS MATERIALIZED (SELECT item, greatest(rr * 1000000 // mx, 1)
           |    AS s FROM r$r, m$r WHERE mx > 0)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ngramPairsCteSql,
         |pf AS (SELECT
         |    CASE WHEN da.n_chars > db.n_chars THEN da.source
         |         WHEN db.n_chars > da.n_chars THEN db.source
         |         ELSE da.source END AS w,
         |    CASE WHEN da.n_chars > db.n_chars THEN db.source
         |         WHEN db.n_chars > da.n_chars THEN da.source
         |         ELSE db.source END AS l
         |  FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
         |               JOIN documents db ON db.doc_id = p.doc_b
         |  WHERE da.source <> db.source),
         |wn AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS nw
         |       FROM pf GROUP BY 1),
         |und AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
         |          CAST(count(*) AS BIGINT) AS n
         |        FROM pf GROUP BY 1, 2),
         |ed AS MATERIALIZED (SELECT i AS item, j AS o, n FROM und
         |  UNION ALL SELECT j, i, n FROM und),
         |ag AS (SELECT item, CAST(sum(n) AS BIGINT) AS nc FROM ed GROUP BY 1),
         |it AS MATERIALIZED (SELECT ag.item, coalesce(wn.nw, 0) AS w, ag.nc
         |  FROM ag LEFT JOIN wn ON wn.item = ag.item),
         |bt0 AS MATERIALIZED (SELECT item, CAST(1000000 AS HUGEINT) AS s
         |  FROM it),
         |$btRounds
         |SELECT it.item, CAST(it.w AS BIGINT) AS n_wins,
         |  it.nc AS n_comparisons, CAST(bt8.s AS BIGINT) AS strength_micro
         |FROM it JOIN bt8 USING (item)
         |ORDER BY strength_micro DESC, item""".stripMargin
    }) { (s, dir) =>
    graft.operators.Preferences.bradleyTerry(sourcePrefs(s, dir))
  }

  /** x232 preference transitivity audit — see
    * [[graft.operators.Preferences.majorityTransitivity]]: among
    * source triples whose three pairwise majority judgments all
    * exist, the share forming a cycle (no strength ordering can honor
    * them) — the coherence gate that decides whether x230's BT fit
    * summarizes signal or noise. */
  val x232 = query("x232_preference_transitivity",
    // Replays majorityTransitivity over the x230 judgment frame: one
    // majority edge per unequal pair split, closed triples on the
    // undirected view, directed 3-cycles (counted once per rotation,
    // // 3), one truncating micro division.
    s"""WITH $ngramPairsCteSql,
       |pf AS (SELECT
       |    CASE WHEN da.n_chars > db.n_chars THEN da.source
       |         WHEN db.n_chars > da.n_chars THEN db.source
       |         ELSE da.source END AS w,
       |    CASE WHEN da.n_chars > db.n_chars THEN db.source
       |         WHEN db.n_chars > da.n_chars THEN da.source
       |         ELSE db.source END AS l
       |  FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
       |               JOIN documents db ON db.doc_id = p.doc_b
       |  WHERE da.source <> db.source),
       |pw AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
       |    CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wi,
       |    CAST(sum(CASE WHEN w < l THEN 0 ELSE 1 END) AS BIGINT) AS wj
       |  FROM pf GROUP BY 1, 2),
       |maj AS MATERIALIZED (SELECT
       |    CASE WHEN wi > wj THEN i ELSE j END AS src,
       |    CASE WHEN wi > wj THEN j ELSE i END AS dst
       |  FROM pw WHERE wi <> wj),
       |ni AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items FROM (
       |  SELECT w AS item FROM pf UNION ALL SELECT l FROM pf) z),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_majority_edges FROM maj),
       |und AS MATERIALIZED (SELECT least(src, dst) AS u,
       |    greatest(src, dst) AS v FROM maj),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triads
       |  FROM und e1 JOIN und e2 ON e1.v = e2.u
       |       JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |cyc AS (SELECT CAST(count(*) AS BIGINT) // 3 AS n_cyclic
       |  FROM maj c1 JOIN maj c2 ON c1.dst = c2.src
       |       JOIN maj c3 ON c3.src = c2.dst AND c3.dst = c1.src)
       |SELECT ni.n_items, ne.n_majority_edges, tri.n_triads, cyc.n_cyclic,
       |  (tri.n_triads - cyc.n_cyclic) * 1000000 // tri.n_triads
       |    AS transitivity_micro
       |FROM ni, ne, tri, cyc WHERE tri.n_triads > 0""".stripMargin) { (s, dir) =>
    graft.operators.Preferences.majorityTransitivity(sourcePrefs(s, dir))
  }
}
