package graft.annotate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{MatchType, Pred, Score}

/** A7–A9 — hierarchy / mapping expansion + CUI canonicalization, all as
  * broadcast equi-joins against small ontology-side tables (the reference's
  * per-request Redis/triplestore lookups, batched — SURVEY.md §3.2).
  * The match stream (big side) is never shuffled by these joins.
  */
object Expand {

  /** A7: direct (url, classIri) × closure(child, ancestor, distance ≤ L)
    * → (url, ancestor, distance) with min distance per (url, ancestor).
    * The input may carry one row per occurrence: the pre-join distinct
    * collapses it to (url, classIri) pairs, and map-side partial
    * aggregation collapses the post-join groupBy to ≈ output size first
    * (url-local groups). */
  def hierarchy(direct: DataFrame, closure: DataFrame, maxLevel: Int): DataFrame =
    direct.select(col("url"), col("classIri")).distinct()
      .join(broadcast(closure.filter(col("distance") <= maxLevel)),
        col("classIri") === col("child"))
      .groupBy(col("url"), col("ancestor"))
      .agg(min(col("distance")).as("distance"))

  /** A8: direct classes × mappings(class_iri, mapped_iri, kind). */
  def mappings(direct: DataFrame, mappingsTable: DataFrame): DataFrame =
    direct.select(col("url"), col("classIri")).distinct()
      .join(broadcast(mappingsTable), col("classIri") === col("class_iri"))
      .select(col("url"), col("mapped_iri"), col("kind"))
      .distinct()

  /** A9: deterministic CUI canonicalization — left join against the
    * resolution table (class_iri, preferred_iri); unresolved classes
    * canonicalize to themselves. */
  def canonicalize(direct: DataFrame, resolution: DataFrame): DataFrame =
    direct.select(col("url"), col("classIri")).distinct()
      .join(broadcast(resolution.select(col("class_iri").as("r_class_iri"),
        col("preferred_iri"))), col("classIri") === col("r_class_iri"), "left")
      .select(col("url"), col("classIri"),
        coalesce(col("preferred_iri"), col("classIri")).as("canon_iri"))
}

/** A10–A11 — reference-compatible scoring (`old` NCBO mode shape; constants
  * in [[graft.Score]], ordering contract direct-pref > direct-syn > expanded
  * enforced by construction). Pure column expressions → whole-stage codegen.
  */
object Scoring {

  /** `old`-mode direct score per (url, classIri): Σ per-match weight,
    * PREF=10, SYN=8. */
  def directScores(matches: DataFrame): DataFrame =
    matches.groupBy(col("url"), col("classIri"))
      .agg(
        sum(when(col("matchType") === MatchType.Pref, Score.PrefWeight)
          .otherwise(Score.SynWeight)).as("score"),
        count(lit(1)).as("n_matches"),
        min(col("matchType")).as("match_type")) // PREF < SYN lexicographically

  /** Annotator+ `cvalue`-style variant: per-match weight scaled by
    * log2(term word count + 1) — multi-word terms score higher. Approximation
    * of Melzi & Jonquet 2014 (exact constants unverifiable, SURVEY.md §0);
    * preserves the direct>syn ordering per match. */
  def cvalueScores(matches: DataFrame): DataFrame =
    matches
      .withColumn("words", size(split(col("text"), " ")))
      .groupBy(col("url"), col("classIri"))
      .agg(sum(
        (when(col("matchType") === MatchType.Pref, Score.PrefWeight)
          .otherwise(Score.SynWeight)) * log(2.0, col("words") + lit(1)))
        .as("score"))

  /** Annotator+ `cvalueh`: the cvalue variant extended over the is-a
    * hierarchy (Melzi & Jonquet 2014 ship old|cvalue|cvalueh; exact reference
    * constants unverifiable — empty mount, SURVEY.md §0 — so this is the
    * named flag-gated contract): every class's cvalue mass also flows to its
    * ancestors decayed by 1/(distance+1), min distance per (child, ancestor);
    * a class reachable both directly and as an ancestor sums both
    * contributions. Output: (url, classIri, score) rounded to 4dp (the
    * cross-engine float contract). Broadcast closure join — the match-derived
    * big side is never shuffled by the join itself. */
  def cvaluehScores(matches: DataFrame, closure: DataFrame, maxLevel: Int): DataFrame = {
    val cv = cvalueScores(matches) // (url, classIri, score)
    val minCl = closure.filter(col("distance") <= maxLevel)
      .groupBy(col("child"), col("ancestor")).agg(min(col("distance")).as("distance"))
    val inherited = cv
      .join(broadcast(minCl), cv("classIri") === minCl("child"))
      .select(col("url"), col("ancestor").as("classIri"),
        (col("score") / (col("distance") + lit(1))).as("score"))
    cv.select(col("url"), col("classIri"), col("score"))
      .unionByName(inherited)
      .groupBy(col("url"), col("classIri"))
      .agg(round(sum(col("score")), 4).as("score"))
  }

  /** TF-IDF concept relevance: per (doc, concept), tf · ln(N/df) where tf =
    * occurrence count in the doc, df = number of docs mentioning the
    * concept, N = corpus size. The classic relevance signal for ranking
    * annotations beyond the reference's additive weights (hot boilerplate
    * concepts — headers, navigation terms — carry low idf and sink). Two
    * aggregations: per-(doc,concept) counts (one shuffle, high-cardinality
    * keys), then df per concept (tiny, broadcast back). 6dp cross-engine
    * float contract. `nDocs` is the full corpus count, passed in — docs
    * with zero matches still count toward N. */
  def tfIdf(matches: DataFrame, nDocs: Long): DataFrame = {
    val tf = matches.groupBy(col("url"), col("classIri"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("classIri")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "classIri")
      .select(col("url"), col("classIri"),
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6).as("tfidf"))
  }

  /** A11: threshold + per-doc score-desc rank. */
  def thresholdAndRank(scored: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.filter(col("score") >= threshold)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("url")).orderBy(col("score").desc, col("classIri"))))
  }
}
