package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.annotate.{Expand, Filters, Scoring}
import graft.emit.Triples

/** Triple-shape reference for the specs: the join assembly `Pipeline.run`
  * executes over a per-occurrence match stream — `Filters` →
  * `Scoring.directScores` → `Expand.hierarchy`/`Expand.mappings` →
  * `Triples.assemble` → score threshold. Shares no per-document fold with
  * the fused triple Generator, so it is an independent check of it. */
object JoinAssembly {

  /** `matches` is the scan output shape `(url, from, to, text, class_iri,
    * ont, match_type)`; `semanticTypes` is the exploded `(class_iri, tui)`
    * table `Filters` needs when `opts.semanticTypes` is set. */
  def triples(matches: DataFrame, opts: AnnotateOptions, closure: DataFrame,
              mappings: DataFrame, semanticTypes: Option[DataFrame] = None,
              dictVersion: String = "v1"): DataFrame = {
    val m = Filters(matches
      .withColumnRenamed("class_iri", "classIri")
      .withColumnRenamed("match_type", "matchType"), opts, semanticTypes)
    val none = m.limit(0)
    Triples.assemble(Scoring.directScores(m),
      Expand.hierarchy(if (opts.expandHierarchy) m else none, closure,
        opts.hierarchyMaxLevel),
      Expand.mappings(if (opts.expandMappings) m else none, mappings),
      dictVersion)
      .filter(col("score") >= opts.scoreThreshold)
  }
}
