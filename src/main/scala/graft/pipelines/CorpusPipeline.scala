package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Materialize}

/** End-to-end training-corpus cleaning — the composition the extension
  * operators exist for (SURVEY north star: the LLM-data-pipeline
  * surface at 100 TB):
  *
  *   quality gate → language gate → exact dedup → MinHash near-dup
  *   dedup → cleaned corpus + per-stage attrition report.
  *
  * Stage order is the cost-ordered funnel: ALL narrow codegen'd
  * filters first (quality, tokens, language — each a projection over
  * the scan), so the hash-groupBy exact pass and the LSH near-dup pass
  * sketch only survivors. Every stage is a pure DataFrame transform;
  * nothing collects to the driver except the final counts.
  */
object CorpusPipeline {

  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.5,
      minTokens: Int = 5,
      keepLangs: Seq[String] = Nil, // empty = keep all
      nearDupJaccard: Double = 0.5,
      // S-curve midpoint (1/b)^(1/r) ≈ 0.5 — tuned so candidate recall
      // at the nearDupJaccard threshold is high; retune together.
      minhashBands: Int = 16,
      minhashRowsPerBand: Int = 4)

  final case class Report(
      input: Long, afterQuality: Long, afterLang: Long, afterExact: Long,
      afterNearDup: Long)

  /** Returns the cleaned frame (cached — caller unpersists when done)
    * and the attrition report. */
  def clean(docs: DataFrame, cfg: Config = Config()): (DataFrame, Report) = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)
    val qualityPred =
      qualityScore(text) >= cfg.minQuality && tokenCount(text) >= cfg.minTokens

    // input and afterQuality in ONE pass over the raw corpus (the x61
    // one-pass rule audit() itself follows): separate docs.count() +
    // q.count() actions would scan the corpus twice, the second
    // recomputing the quality/token features
    val firstCounts = docs.agg(count(lit(1)).as("n"),
      count_if(qualityPred).as("nq")).head()
    val input = firstCounts.getLong(0)
    val afterQuality = firstCounts.getLong(1)

    // 1. quality + length gate (narrow, codegen'd)
    val q = docs.filter(qualityPred)

    // 2. language gate — also a narrow projection, so it runs BEFORE
    //    the expensive dedup stages (exact dups share identical text
    //    and therefore identical language; near-dups across languages
    //    are not meaningful matches)
    val langed =
      if (cfg.keepLangs.isEmpty) q
      else q.filter(langId(text).isin(cfg.keepLangs: _*))
    val langedC = langed.cache()
    val afterLang = langedC.count()

    // 3. exact dedup: keep the min-id row per distinct content.
    //    Null-id rows can't participate in the id-based keep policy and
    //    are passed through rather than silently dropped.
    val keepExact = Dedup.exact(langedC.filter(id.isNotNull), cfg.idCol, cfg.textCol)
      .select(col("keep_id").as(cfg.idCol))
    val exact = langedC.filter(id.isNotNull)
      .join(keepExact, Seq(cfg.idCol), "left_semi")
      .unionByName(langedC.filter(id.isNull))
      .cache()
    val afterExact = exact.count()

    // 4. near-dup dedup: conservatively drop every doc that appears as
    //    the doc_b of any near-dup pair. On a chain a≈b≈c this removes
    //    b AND c even though b (c's only match) is itself removed —
    //    over-dropping relative to connected-component resolution,
    //    which is the iterative variant of this one-pass policy.
    val losers = Dedup.minhashNearDup(exact, cfg.idCol, cfg.textCol,
        bands = cfg.minhashBands, rowsPerBand = cfg.minhashRowsPerBand,
        minJaccard = cfg.nearDupJaccard)
      .select(col("doc_b").as(cfg.idCol)).distinct()
    val cleaned = exact.join(losers, Seq(cfg.idCol), "left_anti").cache()
    val afterNearDup = cleaned.count()

    langedC.unpersist()
    exact.unpersist()
    (cleaned, Report(input, afterQuality, afterLang, afterExact, afterNearDup))
  }

  /** [[clean]] followed by deterministic mixture upsampling toward
    * stratum balance ([[graft.operators.TextAnalysis.mixtureUpsample]])
    * — the full "clean, then weight the mixture" recipe shape: dedup
    * first so replicas are copies of UNIQUE documents, then inflate
    * rare strata to the largest one's size. The balanced frame carries
    * `copy_idx` (1-based per replica) for downstream salting; the
    * report is [[clean]]'s (balancing multiplies rows deterministically
    * — its census is readable off the output).
    *
    * clean()'s cache handle is not exposed to the caller, so it is
    * released here — but only AFTER eagerly checkpointing the cleaned
    * frame off that cache. mixtureUpsample evaluates its input three
    * times on the first downstream action (the stratum-census and
    * target broadcasts plus the main scan); without materialization
    * each of those would recompute the whole quality/lang/dedup funnel.
    * With it the funnel runs exactly once per pipeline invocation and
    * every census/balance pass reads stored partitions. The
    * checkpointed blocks are the post-dedup corpus — the frame the
    * caller asked for — and are freed when the returned frame is GC'd. */
  def cleanAndBalance(docs: DataFrame, strataCol: String,
      cfg: Config = Config()): (DataFrame, Report) = {
    val (cleaned, report) = clean(docs, cfg)
    // reads the still-warm cache
    val cleanedM = Materialize(cleaned, "CorpusPipeline.cleanAndBalance: cleaned")
    cleaned.unpersist()
    val balanced =
      graft.operators.TextAnalysis.mixtureUpsample(cleanedM, cfg.idCol, strataCol)
    (balanced, report)
  }

  /** Post-condition audit: the corpus contract re-checked as a
    * declarative expectation suite ([[graft.operators.Profile
    * .expectations]]) over [[clean]]'s output. Two rule classes,
    * deliberately distinct:
    *
    *  - rules 3-5 (quality, token floor, language set) restate what
    *    the funnel ENFORCES — they must pass on clean() output, and a
    *    failure means a stage was reordered or a config drifted;
    *  - rules 1-2 (unique ids, non-empty text) audit DATA invariants
    *    clean() does not enforce: exact dedup keys on CONTENT, so two
    *    rows sharing an id with different text both survive — rule 1
    *    then fails, CORRECTLY, surfacing an upstream identity problem
    *    the funnel cannot repair (and with `minTokens = 0`, empty text
    *    passes the funnel but still trips rule 2).
    *
    * Run against the RAW input the same suite quantifies the dirt the
    * funnel is about to remove. One aggregate pass either way (the x61
    * cost model), so auditing before publish costs one scan of the
    * output. */
  def audit(frame: DataFrame, cfg: Config = Config()): DataFrame = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)
    val rules = Seq(
      // "non_null" is in the NAME on purpose: clean() deliberately
      // passes null-id rows through (they can't join the keep-set), so
      // nulls are allowed here and only DUPLICATES among real ids
      // violate. A caller that forbids null ids adds its own
      // count_if(id.isNull) rule.
      (1, cfg.idCol, "unique_non_null_ids",
        count_if(id.isNotNull) - count_distinct(id)),
      (2, cfg.textCol, "non_empty_text",
        count_if(text.isNull || length(text) === 0)),
      (3, cfg.textCol, s"quality>=${cfg.minQuality}",
        count_if(qualityScore(text) < cfg.minQuality)),
      (4, cfg.textCol, s"tokens>=${cfg.minTokens}",
        count_if(tokenCount(text) < cfg.minTokens))) ++
      (if (cfg.keepLangs.isEmpty) Nil
       else Seq((5, "lang", "lang_in_keep_set",
         count_if(!langId(text).isin(cfg.keepLangs: _*)))))
    graft.operators.Profile.expectations(frame, rules)
  }
}
