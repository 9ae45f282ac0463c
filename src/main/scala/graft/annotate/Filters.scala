package graft.annotate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{AnnotateOptions, MatchType}

/** A4–A5 — post-scan request filters, mirroring the reference
  * `annotate(text, opts)` option surface (ontologies whitelist, semantic
  * types, exclude_synonyms). Scan-TIME options (longest_only,
  * whole_word_only) must be passed to the scan itself — this object filters
  * an existing match stream and cannot re-derive spans. min_term_size /
  * exclude_numbers are dictionary-build-time (DictBuild).
  */
object Filters {

  /** Apply scalar request filters + optional semantic-type semi-join.
    * `semanticTypesTable` is `(class_iri, tui)` exploded — broadcast
    * left-semi join, never a shuffle of the match stream's big side.
    */
  def apply(matches: DataFrame, opts: AnnotateOptions,
            semanticTypesTable: Option[DataFrame] = None): DataFrame = {
    var df = matches
    if (opts.stopWords.nonEmpty) {
      // post-hoc form of the stop_words blacklist: a whole-word match's
      // uppercased matched text IS its normalized dictionary term (the scan
      // is literal after per-char uppercasing), so term equality == matched-
      // text equality here. Scan-time resolution (termIdsOf) is the scale
      // path; this covers persisted match streams.
      val norm = opts.stopWords
        .map(_.trim.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT))
      df = df.filter(!upper(col("text")).isin(norm: _*))
    }
    if (opts.ontologies.nonEmpty)
      df = df.filter(col("ont").isin(opts.ontologies: _*))
    if (opts.excludeSynonyms)
      df = df.filter(col("matchType") =!= MatchType.Syn)
    if (opts.semanticTypes.nonEmpty) {
      val allowed = semanticTypesTable
        .getOrElse(sys.error("semanticTypes filter requires the (class_iri, tui) table"))
        .filter(col("tui").isin(opts.semanticTypes: _*))
        .select(col("class_iri").as("st_class_iri")).distinct()
      df = df.join(broadcast(allowed), df("classIri") === col("st_class_iri"), "left_semi")
    }
    df
  }
}
