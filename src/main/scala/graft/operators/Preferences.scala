package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Preference-data operators — the reward-model data-QA layer of a
  * training pipeline: pairwise (winner, loser) judgments are the raw
  * material of RLHF preference sets, and the first question about any
  * such set is whether the implied strength ordering is coherent and
  * what it is. Reference analogue: the ownership/priority rules that
  * decide which copy of a record wins an upsert
  * (publish_to_catalog.py:261-298) — here the priority is FIT from
  * pairwise evidence instead of assumed.
  */
object Preferences {

  /** Bradley-Terry strength fit from (winner, loser) comparisons —
    * `rounds` minorization-maximization updates
    * sᵢ ← wᵢ / Σⱼ nᵢⱼ/(sᵢ+sⱼ), the standard BT-MM iteration (Hunter
    * 2004), renormalized each round so the strongest item reads 10⁶.
    * Run over the cross-source near-dup "which copy is better"
    * comparisons this is the data-driven version of x72's assumed
    * source priority; over annotator/model judgments it is the
    * reward-data strength audit.
    *
    * Exactness (the x212/x202 integer-iteration idiom): strengths
    * are integer micro units (start 10⁶); each round computes the
    * per-item denominator as Σ (nᵢⱼ·10¹²) div (sᵢ+sⱼ), the raw
    * update as (wᵢ·10¹²) div denom, and renormalizes by the max raw
    * value — every division a truncating `div` on DECIMAL(38,0), the
    * identical truncation tree in both engines. Strengths floor at
    * 1 micro after renormalization so the MM denominator can never
    * hit zero (two winless items that shared a game would otherwise
    * divide by 0+0). The fit is the exact-arithmetic REPLAY contract,
    * not an infinite-precision MM claim: both engines compute the
    * same integers, and the ordering converges with the same
    * guarantees as the double iteration for any non-degenerate
    * comparison graph.
    *
    * Scale: the comparison matrix collapses to one row per unordered
    * item pair (partial+final agg); each round is one join of the
    * directed-edge frame against the broadcast strength frame
    * (item-cardinality — sources/annotators/models, never row
    * volume) + one hash agg, localCheckpoint'd (the x212 fixpoint
    * pattern). No global windows.
    *
    * Output: (item, n_wins, n_comparisons, strength_micro), ordered
    * by (strength_micro DESC, item). */
  def bradleyTerry(prefs: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser", rounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"bradleyTerry: rounds must be in [1, 64], got $rounds")
    val dec = "decimal(38,0)"
    val comps = prefs
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    val wins = comps.groupBy(col("__w").as("item"))
      .agg(count(lit(1)).cast("bigint").as("n_wins"))
    val und = comps
      .select(least(col("__w"), col("__l")).as("__i"),
        greatest(col("__w"), col("__l")).as("__j"))
      .groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).cast("bigint").as("__n"))
      // feeds the item set AND every round
      .transform(Materialize(_, "Preferences.bradleyTerry: und"))
    val edges = und
      .select(col("__i").as("item"), col("__j").as("__o"), col("__n"))
      .union(und.select(col("__j").as("item"), col("__i").as("__o"),
        col("__n")))
    val items = edges.groupBy(col("item"))
      .agg(sum(col("__n")).cast("bigint").as("n_comparisons"))
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        col("n_comparisons"))
      .transform(Materialize(_, "Preferences.bradleyTerry: items"))
    val scores = items.select(col("item"), lit(1000000L).as("__s"))
      .transform(Materialize(_, "Preferences.bradleyTerry: scores"))
    val fitted = Materialize.rounds(scores, rounds, "Preferences.bradleyTerry: round") { (s, _) =>
      val denom = edges
        .join(broadcast(s.select(col("item"), col("__s").as("__si"))), "item")
        .join(broadcast(s.select(col("item").as("__o"), col("__s").as("__sj"))),
          "__o")
        .groupBy(col("item"))
        .agg(sum(expr(
          "(__n * CAST(1000000000000 AS DECIMAL(38,0))) div (__si + __sj)")
          .cast(dec)).as("__d"))
      val raw = items
        .join(denom, Seq("item"), "left")
        .select(col("item"),
          when(col("__d").isNull || col("__d") === 0, lit(0L))
            .otherwise(expr(
              "(n_wins * CAST(1000000000000 AS DECIMAL(38,0))) div __d"))
            .as("__r"))
      val mx = raw.agg(max(col("__r")).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .filter(col("__mx") > 0)
        .select(col("item"),
          greatest(expr(
            "(__r * CAST(1000000 AS DECIMAL(38,0))) div __mx"), lit(1L))
            .as("__s"))
    }
    items.join(fitted, "item")
      .select(col("item"), col("n_wins"), col("n_comparisons"),
        col("__s").as("strength_micro"))
      .orderBy(col("strength_micro").desc, col("item"))
  }

  /** Majority-relation TRANSITIVITY audit — does the preference data
    * even admit a strength ordering: each unordered item pair with an
    * unequal win split contributes one majority edge (ties
    * contribute nothing); among item triples where all three pairs
    * have majority edges, the CYCLIC ones (a→b→c→a) are judgments no
    * Bradley-Terry fit can honor. A high cyclic share means the
    * [[bradleyTerry]] strengths summarize noise — the coherence
    * check that must run BEFORE the fit is trusted.
    *
    * Exactness: all counts exact integers; the rate is one
    * truncating micro division. Each directed 3-cycle is generated
    * once per rotation by the triangle join, so the count divides by
    * 3 exactly.
    *
    * Scale: majority edges collapse per unordered pair first
    * (partial+final agg, item-cardinality); the triangle join is the
    * x83 closed-triple shape on the majority graph — bounded by item
    * degree, never comparison volume.
    *
    * Output (1 row; none when no triple has all three majority
    * edges): (n_items, n_majority_edges, n_triads, n_cyclic,
    * transitivity_micro = (n_triads − n_cyclic)·10⁶ div n_triads). */
  def majorityTransitivity(prefs: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser"): DataFrame = {
    val comps = prefs
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    val pairWins = comps
      .select(least(col("__w"), col("__l")).as("__i"),
        greatest(col("__w"), col("__l")).as("__j"),
        when(col("__w") < col("__l"), 1L).otherwise(0L).as("__iw"))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__iw")).as("__wi"),
        (count(lit(1)) - sum(col("__iw"))).as("__wj"))
    // one directed edge per pair with an unequal split; ties vanish
    val maj = pairWins
      .filter(col("__wi") =!= col("__wj"))
      .select(
        when(col("__wi") > col("__wj"), col("__i")).otherwise(col("__j"))
          .as("src"),
        when(col("__wi") > col("__wj"), col("__j")).otherwise(col("__i"))
          .as("dst"))
      // feeds edges count, triads, and cycles
      .transform(Materialize(_, "Preferences.majorityTransitivity: maj"))
    val nItems = comps.select(col("__w").as("item"))
      .union(comps.select(col("__l")))
      .agg(countDistinct(col("item")).cast("bigint").as("n_items"))
    val nEdges = maj.agg(count(lit(1)).cast("bigint").as("n_majority_edges"))
    // undirected view for closed triples a < b < c
    val und = maj.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
    val triads = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .join(und.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).cast("bigint").as("n_triads"))
    // directed 3-cycles: generated once per rotation -> div 3
    val cycles = maj.as("c1")
      .join(maj.as("c2"), col("c1.dst") === col("c2.src"))
      .join(maj.as("c3"),
        col("c3.src") === col("c2.dst") && col("c3.dst") === col("c1.src"))
      .agg(count(lit(1)).as("__c"))
      .select(expr("__c div 3").as("n_cyclic"))
    nItems.crossJoin(broadcast(nEdges))
      .crossJoin(broadcast(triads))
      .crossJoin(broadcast(cycles))
      .filter(col("n_triads") > 0)
      .select(col("n_items"), col("n_majority_edges"), col("n_triads"),
        col("n_cyclic"),
        expr("(n_triads - n_cyclic) * 1000000L div n_triads")
          .as("transitivity_micro"))
  }
}
