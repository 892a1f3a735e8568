package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Propagation algorithms over the k-NN graph [[Similarity.knnGraph]]
  * builds — the semi-supervised layer of a training-data pipeline:
  * a small trusted-label set (human-audited docs, known-license
  * sources, verified languages) is spread to the unlabeled bulk along
  * nearest-neighbor edges, replacing a per-document classifier run.
  * Reference analogue: the consent flag fanning out from the agency
  * feeds table to every derived stop row
  * (publish_to_catalog.py:525-528) — one attribute propagating along
  * relationships instead of being recomputed per row.
  *
  * Scale design: one round = one shuffle-join of the edge list against
  * the current label frontier (partitioned on the neighbor id) plus two
  * hash aggregations — no driver-side graph state, no broadcast of the
  * label set (it grows toward |V|). Fixed round count (not fixpoint)
  * keeps the job graph static: label propagation is used as a bounded
  * smoother, and each round's labels are localCheckpoint'd to truncate
  * the growing lineage, same pattern as
  * [[Dedup.connectedComponents]].
  */
object Graph {

  /** Majority-vote label propagation, `rounds` synchronous rounds.
    *
    * `edges` (src, dst) is directed: dst's label votes toward src.
    * `seeds` (id, label) are ground truth — never overwritten. Each
    * round, every still-unlabeled node with ≥1 labeled out-neighbor
    * adopts the majority label among them, ties broken by smallest
    * label; nodes with no labeled neighbor stay unlabeled and may be
    * reached in a later round. Deterministic: the vote is
    * (count desc, label asc), a total order.
    *
    * Output: (id, label, round) — round 0 = seed, r ≥ 1 = adopted in
    * round r. Nodes never reached are absent. */
  def labelPropagate(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 2): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val seeded = seeds
      .select(col("id"), col("label"), lit(0).as("round"))
      .transform(Materialize(_, "Graph.labelPropagate: labels"))
    Materialize.rounds(seeded, rounds, "Graph.labelPropagate: round") { (labels, r) =>
      val adopted = e
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        // majority with smallest-label tie-break: max over (c, -label)
        .groupBy(col("src"))
        .agg(max_by(col("label"), struct(col("c"), -col("label"))).as("label"))
        .select(col("src").as("id"), col("label"), lit(r).as("round"))
        .join(labels.select("id"), Seq("id"), "left_anti")
      labels.union(adopted)
    }
  }

  /** Integer-exact PageRank, fixed synchronous iterations — the
    * centrality read on a k-NN/citation/link graph that ranks corpus
    * items by how much of the graph points at them (a data-curation
    * signal: high-rank nodes are the corpus's "canonical" items, and
    * a rank spike concentrated on near-dup hubs is a curation bug).
    *
    * Arithmetic is integer micro-units end-to-end: ranks start at
    * 10⁶ (the N-scaled uniform vector), each edge carries
    * `pr·17 div (20·out_deg)` (damping 0.85 = 17/20 as an exact
    * rational; `div` floors, and both engines floor identically on
    * non-negative longs), and the damped restart adds 150 000. Float
    * PageRank would be order-sensitive in the Σ over in-neighbors —
    * integer sums are exact in any order, which is what makes the
    * result engine-portable and hash-checkable. Dangling-node mass is
    * dropped (the simplified variant), documented contract.
    *
    * Scale design: per iteration, one join of the out-degree-annotated
    * edge list against the current rank frame (both keyed on src) and
    * one dst-keyed aggregation; ranks localCheckpoint per round
    * (static job graph, truncated lineage — same pattern as
    * [[labelPropagate]]). Nothing node-cardinality broadcasts.
    *
    * Output: (id, pr_micro), one row per node incident to ≥ 1 edge. */
  def pageRank(edges: DataFrame, iters: Int = 2): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .transform(Materialize(_, "Graph.pageRank: nodes"))
    val eDeg = e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
      .transform(Materialize(_, "Graph.pageRank: edge degrees")) // feeds every iteration; compute once
    // round 0 is a literal column over the nodes checkpoint
    Materialize.rounds(nodes.withColumn("pr", lit(1000000L)), iters,
        "Graph.pageRank: round") { (pr, _) =>
      val inMass = eDeg
        .join(pr.select(col("id").as("src"), col("pr")), "src")
        .select(col("dst").as("id"),
          expr("pr * 17L div (20L * out_deg)").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      nodes.join(inMass, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + coalesce(col("m"), lit(0L))).as("pr"))
    }
  }

  /** Reciprocated edges of a directed graph as an undirected
    * (u < v) edge list — the trust filter over a k-NN graph: an edge
    * present in BOTH directions survives bucket-boundary noise and is
    * the edge set near-dup clustering and cohesion metrics should run
    * on. One pair-keyed self-join, nothing broadcasts. */
  def mutualEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    e.as("a").join(e.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .filter(col("a.src") < col("a.dst"))
      .select(col("a.src").as("u"), col("a.dst").as("v"))
      .distinct()
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected (u < v) edge list — the cohesion read on a corpus
    * graph: high-coefficient neighborhoods are tight near-dup/topic
    * pockets, zero-coefficient hubs are star noise.
    *
    * The triangle enumeration is the ordered two-path + closing-edge
    * join (each triangle a<b<c found exactly once): with (u < v)
    * orientation every node's fan-out is its forward degree, so the
    * two-path relation is Σ fwd_deg² — on a k-NN graph (deg ≤ 2k)
    * this is linear in edges, and each join is a keyed equi-join
    * (shuffle-partitioned, AQE-splittable), never a broadcast of
    * anything edge-cardinality. The coefficient rides integer
    * micro-units: cc = 2·tri·10⁶ div (deg·(deg−1)), exact and
    * engine-portable; null where deg < 2 (undefined).
    *
    * Output: (id, deg, tri, cc_micro), one row per node with ≥ 1
    * mutual edge. */
  def triangleProfile(und: DataFrame): DataFrame = {
    // 4 uses
    val e = Materialize(und.select(col("u"), col("v")), "Graph.triangleProfile: edges")
    val tri = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    val perNode = tri.select(col("a").as("id"))
      .union(tri.select(col("b").as("id")))
      .union(tri.select(col("c").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          expr("(coalesce(tri, 0L) * 2000000L) div (deg * (deg - 1L))"))
          .as("cc_micro"))
  }

  /** Common-neighbor link prediction over an undirected (u < v) edge
    * list: for every NON-adjacent pair sharing ≥ `minCommon`
    * neighbors, the shared-neighbor count and the neighborhood-Jaccard
    * score — the "these two should probably be connected" read on a
    * corpus graph. On a mutual k-NN graph the predicted links are
    * near-dup/topic edges the bucket boundaries clipped, so this is
    * the recall-repair pass over [[Similarity.knnGraph]]'s output
    * (reference analogue: the fuzzy description↔feed matching the
    * lookup join papers over, publish_to_catalog.py:503-513).
    *
    * The score rides integer micro-units: jaccard_micro =
    * common·10⁶ div (deg_a + deg_b − common) — exact set algebra on
    * counts, no float division, engine-portable bit-for-bit.
    *
    * Scale design: the candidate relation is the wedge join (two
    * adjacency copies equi-joined on the shared neighbor), Σ deg² rows
    * — linear in edges on a degree-bounded k-NN graph (deg ≤ 2k); a
    * power-law graph would need a hub cap first (same guard as
    * [[Dedup]]'s `maxBucketSize`). Every join is keyed (neighbor id,
    * pair key, node id) — hash-shuffled, AQE-splittable, nothing
    * edge-cardinality broadcasts; adjacency is localCheckpoint'd once
    * and reused by the wedge, degree, and anti-join stages.
    *
    * Output: (a, b, common, jaccard_micro) with a < b, non-adjacent
    * pairs only. */
  def linkPrediction(und: DataFrame, minCommon: Int = 1): DataFrame = {
    val e = Materialize(und.select(col("u"), col("v")), "Graph.linkPrediction: edges")
    val adj = e.select(col("u").as("x"), col("v").as("n"))
      .union(e.select(col("v").as("x"), col("u").as("n")))
      .transform(Materialize(_, "Graph.linkPrediction: adj"))
    val candidates = adj.select(col("n"), col("x").as("a"))
      .join(adj.select(col("n"), col("x").as("b")), "n")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      // drop pairs already connected: und carries (u < v), so the
      // (a, b) orientation matches and one left-anti suffices
      .join(e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
        "left_anti")
    val deg = adj.groupBy(col("x").as("id")).agg(count(lit(1)).as("deg"))
    candidates
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"),
        expr("common * 1000000L div (deg_a + deg_b - common)")
          .as("jaccard_micro"))
  }

  /** Per-node degree diagnostics of a directed graph: out-degree,
    * in-degree, and mutual degree (edges present in both directions).
    * For a k-NN graph this is the index-health read BEFORE building
    * anything on it: in-degree skew exposes hub vectors (a near-
    * duplicate pile or a degenerate embedding region), and the
    * mutual-edge rate is the standard robustness filter — mutual-kNN
    * edges are the ones near-dup and clustering pipelines should
    * trust, one-directional edges are often bucket-boundary noise.
    *
    * Scale design: three aggregations and one self-join, every one of
    * them keyed on node id or the (src, dst) pair — no broadcast of
    * anything node-cardinality, no windows. The mutuality self-join is
    * an equi-join on the composite pair key (hash-shuffled both sides,
    * AQE-splittable); out/in/mutual frames then outer-join on node id.
    *
    * Output: (id, out_deg, in_deg, mutual_deg), every node that
    * appears on either side of an edge. */
  def degreeProfile(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    val mutual = e.as("a").join(e.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .groupBy(col("a.src").as("id")).agg(count(lit(1)).as("mutual_deg"))
    out.join(in, Seq("id"), "full_outer").join(mutual, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("mutual_deg"), lit(0L)).as("mutual_deg"))
  }

  /** Degree ASSORTATIVITY of a symmetric edge relation — do
    * well-connected nodes link to other well-connected nodes
    * (r > 0, hub cores: one boilerplate family wiring to itself) or
    * to leaves (r < 0, star topology: a few templates each claiming
    * a crowd of singletons)? The standard Newman coefficient: the
    * Pearson correlation of (deg(u), deg(v)) over directed edge
    * occurrences — on a symmetric (mutual) edge list this IS the
    * undirected assortativity. The topology read [[degreeProfile]]'s
    * per-node counts and x83's clustering coefficient don't give.
    *
    * Exactness: all five moments (m, Σdu, Σdudv, Σdu², Σdv²)
    * accumulate in DECIMAL(38,0) (a per-edge du·dv product or a
    * moment sum past the BIGINT envelope would silently wrap in
    * non-ANSI Spark exactly where the oracle raises); any moment
    * past Long.MaxValue `raise_error`s with its name — the
    * [[graft.operators.Layout.joinSizeAdvisor]] refuse-loudly
    * pattern. With every moment ≤ 9.2e18 the zero-variance guard
    * products m·Σd² (≤ 8.5e37) stay exact in DECIMAL(38,0), and r
    * is ONE fixed double expression over the moments, quantized
    * ONCE to micro (the x160 modularity / x200 chi² discipline —
    * both engines evaluate the identical IEEE expression on
    * identical integers).
    *
    * Scale: one degree aggregation + two node-keyed joins of the
    * edge list + one global aggregation. No windows.
    *
    * Output (1 row): (n_nodes, n_directed_edges,
    * assortativity_micro); a degree-regular graph (zero variance)
    * emits nothing — r is undefined there. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val longMax = lit(Long.MaxValue).cast(dec)
    // moment > BIGINT envelope → refuse loudly, never wrap
    def fence(c: String) = when(col(c) > longMax,
      raise_error(concat(lit(s"degreeAssortativity: moment $c = "),
        col(c).cast("string"),
        lit(" past the BIGINT envelope (9.2e18)"))).cast(dec))
      .otherwise(col(c)).as(c)
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("bigint").as("deg"))
      // feeds both endpoint joins + node count
      .transform(Materialize(_, "Graph.degreeAssortativity: deg"))
    val nodes = deg.agg(count(lit(1)).cast("bigint").as("n_nodes"))
    e.join(deg.select(col("id").as("src"), col("deg").as("__du")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("__dv")), "dst")
      .agg(count(lit(1)).cast("bigint").as("n_directed_edges"),
        sum(col("__du").cast(dec)).as("__sx"),
        sum(col("__dv").cast(dec)).as("__sy"),
        sum(col("__du").cast(dec) * col("__dv").cast(dec)).as("__sxy"),
        sum(col("__du").cast(dec) * col("__du").cast(dec)).as("__sxx"),
        sum(col("__dv").cast(dec) * col("__dv").cast(dec)).as("__syy"))
      .select(col("n_directed_edges"), fence("__sx"), fence("__sy"),
        fence("__sxy"), fence("__sxx"), fence("__syy"))
      .crossJoin(broadcast(nodes))
      // decimal products: both factors ≤ 9.2e18 after the fence, so
      // m·Σd² ≤ 8.5e37 < 1e38 — exact, no precision-overflow NULL
      .filter(col("n_directed_edges").cast(dec) * col("__sxx") >
          col("__sx") * col("__sx") &&
        col("n_directed_edges").cast(dec) * col("__syy") >
          col("__sy") * col("__sy"))
      .select(col("n_nodes"), col("n_directed_edges"),
        expr("""CAST(round(
          | (CAST(n_directed_edges AS DOUBLE) * CAST(__sxy AS DOUBLE) -
          |  CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE)) * 1000000.0D /
          | (sqrt(CAST(n_directed_edges AS DOUBLE) * CAST(__sxx AS DOUBLE) -
          |       CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE)) *
          |  sqrt(CAST(n_directed_edges AS DOUBLE) * CAST(__syy AS DOUBLE) -
          |       CAST(__sy AS DOUBLE) * CAST(__sy AS DOUBLE)))) AS BIGINT)"""
          .stripMargin).as("assortativity_micro"))
  }

  /** Modularity of a node partition on an undirected (u < v) edge
    * list — DOES the given grouping explain the graph's structure:
    * Q = Σ_c [e_c/m − (d_c/2m)²] compares each group's within-group
    * edge fraction against what its degree mass would collect under
    * random wiring. On the mutual k-NN graph with embedding labels,
    * Q near the ~0.3+ community range means the labels track real
    * embedding neighborhoods; Q ≈ 0 means the labeling is noise with
    * respect to geometry — the cheapest label-quality audit that
    * needs no ground truth.
    *
    * Exactness: m, e_c, and d_c are exact integers (one edge pass +
    * one degree aggregation); each group's Q term is ONE fixed
    * double expression over them, quantized to micro, and the total
    * is an integer sum of the quantized terms — no cross-group
    * double accumulation. Nodes with no label are excluded (their
    * edges still count in m: an unlabeled endpoint makes an edge
    * between-groups by definition).
    *
    * Scale: two keyed joins (edge endpoints → labels) + two hash
    * aggregations; output is label-cardinality. Nothing broadcasts
    * except the 1-row m.
    *
    * Output: (label, n_nodes, e_within, deg_sum, q_term_micro,
    * q_total_micro), ordered by label — q_total repeated (a property
    * of the partition). */
  def partitionModularity(und: DataFrame, labels: DataFrame): DataFrame = {
    val e = Materialize(und.select(col("u"), col("v")), "Graph.partitionModularity: edges")
    val m = e.agg(count(lit(1)).cast("bigint").as("__m"))
    val lab = labels.select(col("id"), col("label"))
    val within = e
      .join(lab.toDF("u", "__la"), "u")
      .join(lab.toDF("v", "__lb"), "v")
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("e_within"))
    val degs = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
      .join(lab, "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("__d")).cast("bigint").as("deg_sum"))
    val terms = degs.join(within, Seq("label"), "left")
      .join(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_within"), lit(0L)).cast("bigint").as("e_within"),
        col("deg_sum"),
        // 2.0D, not 2.0: Spark parses a bare decimal literal as
        // DECIMAL, and BIGINT/DECIMAL division truncates scale —
        // measured 1-micro drift vs the oracle's double math
        expr("""CAST(round((coalesce(e_within, 0) / CAST(__m AS DOUBLE) -
            (deg_sum / (2.0D * __m)) * (deg_sum / (2.0D * __m))) * 1000000)
          AS BIGINT)""").as("q_term_micro"))
      // feeds the total AND the output
      .transform(Materialize(_, "Graph.partitionModularity: terms"))
    terms
      .join(broadcast(terms.agg(
        sum(col("q_term_micro")).cast("bigint").as("q_total_micro"))))
      .orderBy(col("label"))
  }

  /** kNN label-noise audit (the confident-learning read, per point):
    * for each labeled point, how many of its k nearest neighbors
    * carry a DIFFERENT label — a point whose neighborhood outvotes
    * its own label is a mislabel suspect (or sits on a genuine class
    * boundary; either way it is where annotation review pays). The
    * per-point sibling of [[partitionModularity]]: Q says whether the
    * labels explain the geometry AT ALL, this says WHICH rows to
    * re-check.
    *
    * Pure integer: two endpoint→label joins, one count aggregation,
    * one floor division; `suspect` is the strict-majority integer
    * comparison 2·disagree > k_eff. Points with no directed edges
    * carry no evidence and are absent (the honest null — scoring
    * them 0 would vouch for unexamined labels).
    *
    * Scale: the same envelope as [[partitionModularity]] — two keyed
    * joins against the label table and one partial+final hash
    * aggregation on the source id; output is node-cardinality.
    *
    * Output: (id, label, n_neighbors, n_disagree, disagree_micro,
    * suspect), ordered by id. */
  def labelNoiseAudit(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("label"))
    edges.select(col("src"), col("dst"))
      .join(lab.toDF("src", "__ls"), "src")
      .join(lab.toDF("dst", "__ld"), "dst")
      .groupBy(col("src").as("id"), col("__ls").as("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__ls") =!= col("__ld"), 1L).otherwise(0L))
          .cast("bigint").as("n_disagree"))
      .select(col("id"), col("label"), col("n_neighbors"), col("n_disagree"),
        expr("n_disagree * 1000000L div n_neighbors").as("disagree_micro"),
        (col("n_disagree") * 2 > col("n_neighbors")).as("suspect"))
      .orderBy(col("id"))
  }

  /** k-core of an undirected (u < v) edge list by synchronous peeling:
    * repeatedly drop every node whose degree WITHIN the surviving set
    * is below `k`; what remains is the maximal subgraph where every
    * node keeps ≥ k neighbors — the dense-nucleus read on a corpus
    * graph (the k-core of the mutual k-NN graph is its hard near-dup/
    * topic center, the part x83's per-node coefficient can only hint
    * at). Pendant chains and tree fringes peel away layer by layer.
    *
    * `rounds` is a FIXED count, not a fixpoint loop — the same static-
    * job-graph discipline as [[labelPropagate]] and
    * [[Dedup.connectedComponents]]: synchronous peeling removes at
    * least one layer per round, so `rounds` ≥ the peel depth of the
    * graph reaches the true k-core (the x137 spec asserts one extra
    * round changes nothing at the test scale; a deeper graph needs a
    * larger `rounds`, it never needs different code).
    *
    * Scale: one round = two keyed joins of the edge list against the
    * surviving-node set (both endpoints must survive) + one count
    * aggregate — everything hash-partitioned on node id, nothing
    * broadcast (the survivor set starts at |V|); each round's
    * survivors are localCheckpoint'd to truncate lineage. Work shrinks
    * monotonically as nodes peel.
    *
    * Output: (id, core_deg) for nodes in the k-core — core_deg is the
    * node's degree within the core (≥ k by definition). Empty when
    * the graph has no k-core (a fact, not a failure). */
  def kCore(und: DataFrame, k: Int = 3, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1, s"kCore: rounds must be >= 1, got $rounds")
    // both orientations: degree = row count per u
    val e = und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v")))
      .transform(Materialize(_, "Graph.kCore: edges")) // reused every round + the final degree
    val alive = Materialize.rounds(e.select(col("u").as("node")).distinct(),
        rounds, "Graph.kCore: round") { (live, _) =>
      e.join(live.withColumnRenamed("node", "u"), "u")
        .join(live.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("u").as("node"))
    }
    e.join(alive.withColumnRenamed("node", "u"), "u")
      .join(alive.withColumnRenamed("node", "v"), "v")
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("core_deg"))
  }
}
