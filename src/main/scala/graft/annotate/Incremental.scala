package graft.annotate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dict.{AnnotatorModel, AutomatonBuild, DictBuild}

/** Incremental re-annotation on a DICT-ONLY update v1 → v2 — the
  * ontology-refresh move at corpus scale. Ontologies update weekly;
  * re-annotating a 10^12-document corpus because two synonyms changed is
  * the single largest avoidable cost in the pipeline. A document's output
  * can change ONLY if
  *
  *   (a) one of its v1 matches hit a dictionary row that v2 removed
  *       (detected from the PERSISTED matches stage — no corpus text read),
  *    or
  *   (b) it contains a term that v2 added (detected by ONE corpus scan with
  *       an automaton built from the added terms only — a tiny dictionary,
  *       so the word-run-skip scan is near the read floor; skipped entirely
  *       for removal-only updates).
  *
  * Everything else is byte-identical under v2, so:
  *
  *   incremental(v2) = v1 triples (subj ∉ affected, re-versioned)
  *                     ∪ full-annotate(v2) over affected docs only.
  *
  * Cost vs a full v2 run: one broadcast semi-join over the matches stage +
  * at most one added-terms scan + re-annotation/write of |affected| docs —
  * instead of full-dictionary scan, expansion, aggregation, and write
  * amplification over every document.
  *
  * Soundness preconditions (asserted equal to the full run in
  * IncrementalSpec):
  *   - dict-only update: closure/mapping/semantic-type tables unchanged (a
  *     hierarchy or mapping change invalidates every doc and needs the full
  *     rebuild);
  *   - `v1Matches` was produced under the SAME scan options as the v2 run
  *     (longest-only interactions resolve correctly because a suppressed
  *     shorter match only resurfaces when the longer match was REMOVED —
  *     and that longer match is in the v1 stream, marking the doc
  *     affected);
  *   - per-document scoring (the default `old` mode; corpus-global scores
  *     like tf-idf depend on every doc and cannot update incrementally);
  *   - the match-text → dictionary-term contract of the scan that produced
  *     `v1Matches`: `normalizeTerm(text) == term` for the standard scan,
  *     `lemmaTerm(normalizeTerm(text)) == term` for lemma mode — pass
  *     `lemma = true` so the removed-leg join and the added-terms scan use
  *     the lemma contract (both dict versions must be
  *     `DictBuild.buildLemmatized` outputs there).
  */
object Incremental {

  /** Version-independent dictionary diff at (term, class_iri, ont, pref)
    * row granularity — term_ids are per-version dense ranks and MUST NOT
    * participate. Both sides are ontology-scale (small). */
  case class DictUpdate(removed: DataFrame, added: DataFrame)

  private def rows(df: DataFrame) =
    df.select("term", "class_iri", "ont", "pref")

  /** `flat` = [[DictBuild.flatDict]] output for each version. */
  def diff(v1Flat: DataFrame, v2Flat: DataFrame): DictUpdate =
    DictUpdate(removed = rows(v1Flat).except(rows(v2Flat)),
      added = rows(v2Flat).except(rows(v1Flat)))

  /** [[diff]] plus the conservative expansion callers need whenever a
    * SEMANTIC-TYPE filter is active: a concept whose TUI set changed
    * between the concept tables can gain or lose matches with NO dict-row
    * delta (the filter, not the dictionary, flips) — so every dict row of
    * a TUI-changed class is treated as removed (v1-match detection) AND
    * added (delta scan), forcing its docs to re-annotate under the v2
    * filter table. Callers with no semantic-type filter should use plain
    * [[diff]]. */
  def diffWithTuiDelta(v1Flat: DataFrame, v2Flat: DataFrame,
                       v1Concepts: DataFrame, v2Concepts: DataFrame): DictUpdate = {
    val upd0 = diff(v1Flat, v2Flat)
    def tuiSets(c: DataFrame) =
      c.select(col("class_iri"), sort_array(col("tuis")).as("t"))
    val changed = tuiSets(v1Concepts).exceptAll(tuiSets(v2Concepts))
      .unionByName(tuiSets(v2Concepts).exceptAll(tuiSets(v1Concepts)))
      .select("class_iri").distinct()
    DictUpdate(
      removed = upd0.removed.unionByName(
        rows(v1Flat).join(changed, Seq("class_iri"), "left_semi")).distinct(),
      added = upd0.added.unionByName(
        rows(v2Flat).join(changed, Seq("class_iri"), "left_semi")).distinct())
  }

  /** Distinct urls whose annotation output can change under `upd`.
    *
    * `v1Matches`: the persisted per-occurrence match stream `(url, from,
    * to, text, class_iri, ont, match_type)`. The removed-leg join
    * broadcasts the (small) removed rows against it; matched original text
    * re-normalizes to the dictionary term by the scan contract. The
    * added-leg scans `corpus` with an automaton over added terms only —
    * built lazily so removal-only updates never touch the corpus. */
  def affectedUrls(spark: SparkSession, corpus: DataFrame,
                   v1Matches: DataFrame, upd: DictUpdate,
                   wholeWord: Boolean = true,
                   lemma: Boolean = false): DataFrame = {
    // accept both the match Generator's snake_case columns and the
    // persisted matches stage's camelCase ones
    val m = Seq("classIri" -> "class_iri", "matchType" -> "match_type")
      .foldLeft(v1Matches) { case (df, (a, b)) =>
        if (df.columns.contains(a)) df.withColumnRenamed(a, b) else df
      }
    val rem = upd.removed
      .select(col("term").as("r_term"), col("class_iri").as("r_class"),
        col("ont").as("r_ont"), col("pref").as("r_pref"))
    // matched-text → dict-term contract of the producing scan
    val matchTerm =
      if (lemma) udf((t: String) => Lemma.lemmaTerm(t))
        .apply(DictBuild.normalizeTerm(col("text")))
      else DictBuild.normalizeTerm(col("text"))
    val removedHits = m
      .join(broadcast(rem),
        matchTerm === col("r_term") &&
          col("class_iri") === col("r_class") && col("ont") === col("r_ont") &&
          (col("match_type") === "PREF") === col("r_pref"),
        "left_semi")
      .select(col("url"))

    // the added rows are a dictionary DELTA — ontology-scale by definition
    // — so materialize them on the driver once: the emptiness check and the
    // automaton build would otherwise each re-run the diff's EXCEPT, and a
    // persist() here would leak cached blocks with no release point (the
    // returned DataFrame is consumed lazily by the caller). Collecting is
    // the same driver footprint the automaton build itself needs.
    val addedRows = upd.added.collect()
    val addedHits =
      if (addedRows.isEmpty) removedHits.limit(0)
      else {
        val addedTerms = spark.createDataFrame(
          java.util.Arrays.asList(addedRows: _*), upd.added.schema)
        // the added rows already passed the v2 build's normalization (and,
        // in lemma mode, its lemmatization) and filters — accept them
        // VERBATIM (minTermSize=1, no number filter, plain build even for
        // lemma dicts: re-lemmatizing an already-lemmatized term is not
        // idempotent for every suffix rule): re-applying DEFAULT filters
        // here would silently drop added rows a non-default v2 build kept,
        // missing their affected docs
        val addedDict = DictBuild.build(
          addedTerms.withColumnRenamed("term", "label"),
          minTermSize = 1, excludeNumbers = false)
        val model = AutomatonBuild.broadcastModel(spark,
          AutomatonBuild.build(spark, addedDict, "delta"))
        NativeAnnotate.annotateMatches(corpus, model, wholeWord = wholeWord,
          lemmatize = lemma).select(col("url"))
      }
    removedHits.unionByName(addedHits).distinct()
  }

  /** The incremental result: v1 triples for unaffected docs (re-stamped to
    * the v2 dict version — their content is identical under v2) plus a full
    * v2 annotation of the affected docs only. `annotateV2` is the same
    * annotate-to-triples function a full run would use, applied to the
    * affected slice. */
  def incrementalTriples(corpus: DataFrame, v1Triples: DataFrame,
                         affected: DataFrame, v2Version: String,
                         annotateV2: DataFrame => DataFrame): DataFrame = {
    val kept = v1Triples
      .join(affected.select(col("url").as("subj")), Seq("subj"), "left_anti")
      .withColumn("dict_version", lit(v2Version))
    val re = annotateV2(corpus.join(affected, Seq("url"), "left_semi"))
    kept.unionByName(re)
  }

  /** Convenience composition for model-driven callers: diff two flat
    * dictionaries, find affected urls, return (affected, incremental
    * triples). */
  def update(spark: SparkSession, corpus: DataFrame, v1Matches: DataFrame,
             v1Triples: DataFrame, v1Flat: DataFrame, v2Flat: DataFrame,
             v2Version: String,
             annotateV2: DataFrame => DataFrame,
             wholeWord: Boolean = true,
             lemma: Boolean = false): (DataFrame, DataFrame) = {
    val affected = affectedUrls(spark, corpus, v1Matches, diff(v1Flat, v2Flat),
      wholeWord = wholeWord, lemma = lemma)
    (affected,
      incrementalTriples(corpus, v1Triples, affected, v2Version, annotateV2))
  }
}
