package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Corpus, Expand, Filters, Scoring}
import graft.dict.{AnnotatorModel, AutomatonBuild, DictBuild}
import graft.emit.Triples
import graft.fixture.OntologyFixture
import graft.graph.Closure
import graft.ops.{AsOf, Dedup, LinkGraph, Multimodal, RangeJoin, Sampling, Similarity, Sketch, TextOps, WebOps}
import graft.streaming.EventStream

import graft.SparkEntry._

/** ann-tier slice of the driver registry —
  * moved verbatim out of SparkEntry (round-5 hygiene split; the Seq→Map
  * assembly, duplicate gate and 1:1 queries↔oracles check stay in
  * [[SparkEntry]]). Shared helpers live on SparkEntry as
  * `private[graft]` members. 32 queries / 32 oracles. */
private[graft] object AnnTier {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // A2/A3: direct dictionary annotation (distinct doc × concept × type)
    "ann_direct" -> ((s, dir) =>
      matches(s, dir).select("url", "class_iri", "ont", "match_type").distinct()),

    // S4: sharded-dictionary scan (>driver-memory escape hatch) — 4 term-id
    // shards, one corpus pass, cross-shard longest_only semantics; must
    // equal the single-automaton result, so it shares ann_direct's oracle
    "ann_sharded" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateMatchesSharded(corpus(s, dir), shardedModels(s))
        .select("url", "class_iri", "ont", "match_type").distinct()),

    // A2 all-occurrence counts per (doc, concept)
    "ann_counts" -> ((s, dir) =>
      matches(s, dir).groupBy("url", "class_iri")
        .agg(count(lit(1)).as("n_matches"))),

    // A5 longest_only WITH offsets — DuckDB-checked: the oracle recovers
    // match positions from regexp-split segment lengths and applies the
    // per-start-max-end contract as a window filter
    "ann_longest" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateMatches(corpus(s, dir), model(s), longestOnly = true)),

    // accent-folded matching (A1 normalization extension): fold-then-
    // annotate with a 1:1 translate map — same-length fold, so offsets
    // stay valid against the ORIGINAL accented text; every third doc is
    // accent-damaged by the synthesis (unfolded, those docs lose all
    // matches — the spec's negative control)
    "ann_folded" -> ((s, dir) => {
      val acc = TextOps.withAccents(docsTable(s, dir))
      graft.annotate.NativeAnnotate.annotateMatches(
        acc.select(col("url"),
          TextOps.foldAccents(col("text")).as("text")), model(s))
        .select(col("url").as("subj"), col("class_iri").as("obj"))
        .distinct()
    }),

    // Annotator+ lemmatize=true: both sides lemmatized, ORIGINAL offsets —
    // DuckDB-checked end-to-end (SQL lemmatizer + lemma-space offset
    // back-mapping); plus offset/identity-parity specs (LemmaAndContextSpec)
    "ann_lemma" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateMatches(corpus(s, dir), lemmaModel(s), lemmatize = true)),

    // inter-annotator agreement: Cohen's kappa between the strict and
    // lemmatized annotators over the doc × concept presence universe — the
    // QA number for "how much does lemmatization actually change the KG"
    // (and the template for scoring any recognizer pair through the seam).
    // All cells are EXACT integer counts from one full-outer join of two
    // distinct-pair streams; the universe size attaches as two 1-row
    // scalars (no driver action); kappa arithmetic runs once on the final
    // row in the oracle's division order, 6dp.
    "ann_agreement" -> ((s, dir) => {
      val strict = matches(s, dir).select("url", "class_iri").distinct()
        .withColumn("in_s", lit(1))
      val lem = graft.annotate.NativeAnnotate
        .annotateMatches(corpus(s, dir), lemmaModel(s), lemmatize = true)
        .select("url", "class_iri").distinct()
        .withColumn("in_l", lit(1))
      val cells = strict.join(lem, Seq("url", "class_iri"), "full_outer")
        .agg(
          sum(when(col("in_s").isNotNull && col("in_l").isNotNull, 1L)
            .otherwise(0L)).as("b11"),
          sum(when(col("in_s").isNotNull && col("in_l").isNull, 1L)
            .otherwise(0L)).as("b10"),
          sum(when(col("in_s").isNull && col("in_l").isNotNull, 1L)
            .otherwise(0L)).as("b01"))
      val nDocs = docsTable(s, dir).agg(count(lit(1)).as("n_docs"))
      val nCls = DictBuild.flatDict(DictBuild.build(DictBuild.labelRows(
          OntologyFixture.conceptsDf(s))))
        .agg(countDistinct(col("class_iri")).as("n_classes"))
      val withN = cells.crossJoin(nDocs).crossJoin(nCls)
        .select(col("b11"), col("b10"), col("b01"),
          (col("n_docs") * col("n_classes")).as("n"))
      val a00 = col("n") - col("b11") - col("b10") - col("b01")
      val poRaw = (col("b11") + a00) / col("n")
      val peRaw =
        ((col("b11") + col("b10")) / col("n")) *
          ((col("b11") + col("b01")) / col("n")) +
        ((col("b01") + a00) / col("n")) *
          ((col("b10") + a00) / col("n"))
      withN.select(col("n").as("n_units"), col("b11").as("both_present"),
        col("b10").as("strict_only"), col("b01").as("lemma_only"),
        round(poRaw, 6).as("po"), round(peRaw, 6).as("pe"),
        when(peRaw === lit(1.0), lit(0.0))
          .otherwise(round((poRaw - peRaw) / (lit(1.0) - peRaw), 6))
          .as("kappa"))
    }),

    // Annotator+ clinical context (NegEx/ConText-style attributes per match)
    // — DuckDB-checked (trigger-window algorithm recomputed in SQL); the
    // scalar is also golden-tested in specs
    "ann_context" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateMatches(corpus(s, dir), model(s), context = true)
        .select("url", "from", "to", "class_iri", "negated", "experiencer",
          "temporality")),

    // Annotator+ mallet-slot analogue: the rule-tagger recognizer dispatched
    // THROUGH the Recognizer seam (Annotator.matches) — a non-dictionary
    // match stream in the standard shape, DuckDB-recomputed end-to-end
    // (token offset machinery + the same suffix CASE chain)
    "ann_tagger" -> ((s, dir) =>
      Annotator.matches(corpus(s, dir), model(s),
        recognizer = Some(new Annotator.RuleTaggerRecognizer))),

    // A7: hierarchy expansion (min distance per doc × ancestor)
    "ann_hier" -> ((s, dir) =>
      Expand.hierarchy(
        matches(s, dir).withColumnRenamed("class_iri", "classIri"),
        closure(s), MaxLevel)
        .select(col("url"), col("ancestor").as("ancestor_iri"), col("distance"))),

    // A8: mapping expansion
    "ann_mapped" -> ((s, dir) =>
      Expand.mappings(
        matches(s, dir).withColumnRenamed("class_iri", "classIri"),
        OntologyFixture.mappingsDf(s))
        .select("url", "mapped_iri", "kind")),

    // A9: CUI canonicalization
    "ann_canon" -> ((s, dir) =>
      Expand.canonicalize(
        matches(s, dir).withColumnRenamed("class_iri", "classIri"),
        OntologyFixture.classResolutionDf(s))
        .select(col("url"), col("classIri").as("class_iri"), col("canon_iri"))),

    // A12: the P/R-gate-shaped query — full (subj, pred, obj) triple set,
    // via the fused zero-shuffle triple Generator (so the DuckDB oracle
    // checks it directly; the Catalyst-join legs are oracle-checked
    // separately by ann_direct / ann_hier / ann_mapped)
    "ann_triples" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj")),

    // Incremental re-annotation on the fixture's dict-only v1→v2 update
    // (graft.annotate.Incremental): dictionary diff → affected urls
    // (broadcast join over the v1 match stream + a scan with an
    // added-terms-ONLY automaton) → v1 triples kept for unaffected docs,
    // full v2 annotation for affected docs only. The oracle recomputes the
    // FULL v2 result from scratch in SQL — a green row proves the
    // incremental path equals a complete re-annotation
    "ann_incremental" -> ((s, dir) =>
      incrementalV1V2(s, dir)._2.select("subj", "pred", "obj")),

    // Reference response assembly (A6 + serialization): one row per
    // (doc, class) carrying the whole annotation record — match-type
    // breakdown, per-class hierarchy with min distance, mappings, score —
    // the flat-canonical form of the reference's nested JSON response
    // (arrays rendered as sorted ';'-joined strings so DuckDB can hash them)
    "ann_response" -> ((s, dir) => {
      val m = matches(s, dir)
      val byType = m.groupBy("url", "class_iri", "ont", "match_type")
        .agg(count(lit(1)).as("cnt"))
      val spans = byType.groupBy("url", "class_iri", "ont")
        .agg(
          concat_ws(";", sort_array(collect_list(
            concat(col("match_type"), lit(":"), col("cnt"))))).as("annotations"),
          sum(when(col("match_type") === MatchType.Pref,
            col("cnt") * Score.PrefWeight)
            .otherwise(col("cnt") * Score.SynWeight)).as("score"))
      // derive from the already-aggregated byType (tiny), NOT the raw match
      // stream — the latter would rescan the whole corpus a second time
      val direct = byType.select("url", "class_iri").distinct()
      val hier = direct
        .join(broadcast(closure(s)), direct("class_iri") === col("child"))
        .groupBy("url", "class_iri", "ancestor")
        .agg(min(col("distance")).as("d"))
        .groupBy("url", "class_iri")
        .agg(concat_ws(";", sort_array(collect_list(
          concat(col("ancestor"), lit(":"), col("d"))))).as("hierarchy"))
      val mp = OntologyFixture.mappingsDf(s)
        .select(col("class_iri").as("m_class_iri"), col("mapped_iri"))
      val mapped = direct
        .join(broadcast(mp), direct("class_iri") === col("m_class_iri"))
        .select(col("url"), col("class_iri"), col("mapped_iri"))
        .groupBy("url", "class_iri")
        .agg(concat_ws(";", sort_array(collect_set(col("mapped_iri")))).as("mappings"))
      spans
        .join(hier, Seq("url", "class_iri"), "left")
        .join(mapped, Seq("url", "class_iri"), "left")
        .select(col("url"), col("class_iri"), col("ont"), col("annotations"),
          coalesce(col("hierarchy"), lit("")).as("hierarchy"),
          coalesce(col("mappings"), lit("")).as("mappings"), col("score"))
    }),

    // Reference JSON response serialization (score-ordered nested docs) —
    // DuckDB-checked BYTE-EXACTLY (the oracle reconstructs the same JSON
    // strings); structure + ordering also asserted in specs
    "ann_response_json" -> ((s, dir) =>
      graft.emit.Triples.jsonResponses(
        matches(s, dir).withColumnRenamed("text", "matched_text")
          .select(col("url"), col("from"), col("to"), col("class_iri"),
            col("ont"), col("match_type")),
        closure(s), OntologyFixture.mappingsDf(s), MaxLevel)),

    // A10: 'old'-mode scoring per (doc, concept)
    "ann_score" -> ((s, dir) =>
      Scoring.directScores(
        matches(s, dir).withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"))
        .select(col("url"), col("classIri").as("class_iri"), col("score"),
          col("n_matches"), col("match_type"))),

    // S1-shaped two-phase concept stats (distinct-first defeats hot-key skew)
    "ann_stats" -> ((s, dir) =>
      matches(s, dir).groupBy("class_iri")
        .agg(countDistinct(col("url")).as("doc_freq"),
          count(lit(1)).as("n_matches"))),

    // S1 explicit salted two-phase aggregation: url-hash salt splits hot
    // concept keys across 16 partial groups, then merges. Same result as
    // ann_stats (same oracle), different physical plan — the skew technique.
    "ann_stats_salted" -> ((s, dir) => {
      val salted = matches(s, dir)
        .withColumn("salt", pmod(xxhash64(col("url")), lit(16)))
      // url → salt is a function, so per-salt distinct-url counts add up
      val partial = salted.groupBy("class_iri", "salt")
        .agg(countDistinct(col("url")).as("pd"), count(lit(1)).as("pm"))
      partial.groupBy("class_iri")
        .agg(sum(col("pd")).as("doc_freq"), sum(col("pm")).as("n_matches"))
    }),

    // A4: ontologies whitelist
    "ann_filter_ont" -> ((s, dir) =>
      Filters(matches(s, dir).withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"),
          AnnotateOptions(ontologies = Seq("ONT2")))
        .select(col("url"), col("classIri").as("class_iri"), col("ont")).distinct()),

    // A4: semantic-type filter (broadcast left-semi join)
    "ann_filter_semtype" -> ((s, dir) =>
      Filters(matches(s, dir).withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"),
          AnnotateOptions(semanticTypes = Seq("T050", "T051", "T052")),
          Some(OntologyFixture.conceptsDf(s)
            .select(col("class_iri"), explode(col("tuis")).as("tui"))))
        .select(col("url"), col("classIri").as("class_iri")).distinct()),

    // A4: whole_word_only=false — the reference's substring-matching mode
    // (mgrep boundary checks off); direct classes only
    "ann_substring" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1",
          AnnotateOptions(wholeWordOnly = false,
            expandHierarchy = false, expandMappings = false))
        .filter(col("pred") === Pred.Direct)
        .select(col("subj").as("url"), col("obj").as("class_iri")).distinct()),

    // A4: exclude_synonyms
    "ann_nosyn" -> ((s, dir) =>
      Filters(matches(s, dir).withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"),
          AnnotateOptions(excludeSynonyms = true))
        .select(col("url"), col("classIri").as("class_iri"),
          col("matchType").as("match_type")).distinct()),

    // A4: stop_words request option — per-request term blacklist, resolved
    // to term ids at payload-compile time (normalization exercised: mixed
    // case + uncollapsed whitespace)
    "ann_stopwords" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1",
          AnnotateOptions(stopWords = Seq("data", "  Table  Scan "),
            expandHierarchy = false, expandMappings = false))
        .filter(col("pred") === Pred.Direct)
        .select(col("subj").as("url"), col("obj").as("class_iri")).distinct()),

    // A10: 'cvalue' score mode (Annotator+ score=cvalue) — per-match weight
    // scaled by log2(term word count + 1)
    "ann_score_cvalue" -> ((s, dir) =>
      Annotator.scores(
        matches(s, dir).withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"), ScoreMode.CValue)
        .select(col("url"), col("classIri").as("class_iri"),
          round(col("score"), 4).as("score"))),

    // A10: 'cvalueh' score mode — cvalue mass also flows to ancestors,
    // decayed by 1/(distance+1)
    "ann_score_cvalueh" -> ((s, dir) =>
      Annotator.scores(
        matches(s, dir).withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"), ScoreMode.CValueH,
        Some(closure(s)), MaxLevel)
        .select(col("url"), col("classIri").as("class_iri"), col("score"))),

    // A11: score threshold + per-doc rank
    "ann_rank" -> ((s, dir) =>
      Scoring.thresholdAndRank(
        Scoring.directScores(
          matches(s, dir).withColumnRenamed("class_iri", "classIri")
            .withColumnRenamed("match_type", "matchType")), 16.0)
        .select(col("url"), col("classIri").as("class_iri"),
          col("score"), col("rank"))),

    // annotation coverage per language — the multilingual release-QA gate
    // (an English-only dictionary shows up here before anywhere else):
    // per lang, docs with >= 1 direct annotation vs total, 6dp. One
    // distinct-url agg over the match stream LEFT-joined onto per-lang
    // doc totals — corpus-scale work is the flagship scan only.
    "ann_coverage_by_lang" -> ((s, dir) => {
      val docs = docsTable(s, dir)
        .select((concat(lit("doc://"), col("doc_id"))).as("url"), col("lang"))
      val annotated = matches(s, dir).select("url").distinct()
        .withColumn("hit", lit(1L))
      docs.join(annotated, Seq("url"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_annotated"))
        .select(col("lang"), col("n_docs"), col("n_annotated"),
          round(col("n_annotated") / col("n_docs"), 6).as("coverage"))
    }),

    // TF-IDF annotation relevance (tf · ln(N/df)) — boilerplate concepts sink
    "ann_tfidf" -> ((s, dir) =>
      Scoring.tfIdf(
        matches(s, dir).withColumnRenamed("class_iri", "classIri"),
        docsTable(s, dir).count())
        .withColumnRenamed("classIri", "class_iri")),

    // THE NORTH-RULE GATE AS DATA: per-predicate precision/recall of the
    // engine's triples (automaton scan + distributed expansions) against an
    // INDEPENDENT in-Spark reference-semantics derivation (naive per-term
    // \b-regex scan over a broadcast dictionary + closure/mapping joins —
    // the mgrep word-boundary contract, no shared matcher code). Expected
    // 1.0/1.0 everywhere; a boundary/normalization/longest-match divergence
    // surfaces here as a sub-1 row in the driver's own correctness file.
    // The regex side is deliberately the naive quadratic scan: it is the
    // verification surface, not the production path.
    "ann_pr_gate" -> ((s, dir) => {
      val engine = graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj").distinct()
      val dictDf = {
        import s.implicits._
        OntologyFixture.dictRows().map(t => (t.term, t.classIri))
          .distinct.toDF("term", "class_iri")
      }
      val refD = docsTable(s, dir)
        .select(concat(lit("doc://"), col("doc_id")).as("subj"), col("text"))
        .join(broadcast(dictDf),
          expr("upper(text) RLIKE concat('\\\\b', term, '\\\\b')"))
        .select(col("subj"), col("class_iri")).distinct()
      val refTrip = refD
        .select(col("subj"), lit(graft.Pred.Direct).as("pred"),
          col("class_iri").as("obj"))
        .unionByName(refD.join(broadcast(closure(s)),
            refD("class_iri") === col("child"))
          .select(col("subj"), lit(graft.Pred.Expanded).as("pred"),
            col("ancestor").as("obj")))
        .unionByName(refD.join(broadcast(OntologyFixture.mappingsDf(s)),
            Seq("class_iri"))
          .select(col("subj"), lit(graft.Pred.Mapped).as("pred"),
            col("mapped_iri").as("obj")))
        .distinct()
      engine.withColumn("e", lit(1))
        .join(refTrip.withColumn("r", lit(1)),
          Seq("subj", "pred", "obj"), "full_outer")
        .groupBy("pred")
        .agg(sum(coalesce(col("e"), lit(0))).cast("long").as("n_engine"),
          sum(coalesce(col("r"), lit(0))).cast("long").as("n_ref"),
          sum(when(col("e").isNotNull && col("r").isNotNull, lit(1))
            .otherwise(lit(0))).cast("long").as("tp"))
        .select(col("pred"), col("n_engine"), col("n_ref"), col("tp"),
          round(col("tp").cast("double") / col("n_engine"), 6).as("precision"),
          round(col("tp").cast("double") / col("n_ref"), 6).as("recall"))
    }),

    // collective entity-linking disambiguation: ambiguous surfaces (LOOM
    // labels living in two ontologies) resolved by co-occurrence votes
    // from the doc's unambiguous annotations; most-frequent-sense prior,
    // then class_iri, break ties
    "ann_disambiguate" -> ((s, dir) =>
      graft.annotate.Disambiguate.collective(matches(s, dir))),

    // Schwartz–Hearst abbreviation definitions: first-letter-rule
    // validation, false-positive spans kept with valid = false
    "ann_abbrev" -> ((s, dir) =>
      graft.ops.Relations.abbrevDefs(
        graft.ops.Relations.withAbbrevs(docsTable(s, dir)))),
  )

  val oracles: Seq[(String, String)] = Seq(
    "ann_direct" ->
      s"WITH $dictCte, $directCte SELECT url, class_iri, ont, match_type FROM direct",

    // sharded scan must be indistinguishable from the single-automaton scan
    "ann_sharded" ->
      s"WITH $dictCte, $directCte SELECT url, class_iri, ont, match_type FROM direct",

    "ann_counts" ->
      s"""WITH $dictCte, $cntsCte
          SELECT url, class_iri, CAST(SUM(cnt) AS BIGINT) AS n_matches
          FROM cnts WHERE cnt > 0 GROUP BY url, class_iri""",

    "ann_hier" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $directCte, $closureCte
          SELECT dr.url, cl.ancestor_iri, CAST(MIN(cl.distance) AS INT) AS distance
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          JOIN closure cl ON dr.class_iri = cl.child_iri
          GROUP BY dr.url, cl.ancestor_iri""",

    "ann_mapped" ->
      s"""WITH $dictCte, $mappingsCte, $directCte
          SELECT DISTINCT dr.url, m.mapped_iri, m.kind
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          JOIN maps m ON dr.class_iri = m.class_iri""",

    "ann_canon" ->
      s"""WITH $dictCte, $resolutionCte, $directCte
          SELECT DISTINCT dr.url, dr.class_iri,
                 COALESCE(r.preferred_iri, dr.class_iri) AS canon_iri
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          LEFT JOIN res r ON dr.class_iri = r.class_iri""",

    "ann_triples" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte
          SELECT DISTINCT url AS subj, 'hasAnnotation' AS pred, class_iri AS obj FROM direct
          UNION
          SELECT DISTINCT dr.url AS subj, 'hasExpandedAnnotation' AS pred, cl.ancestor_iri AS obj
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          JOIN closure cl ON dr.class_iri = cl.child_iri
          UNION
          SELECT DISTINCT dr.url AS subj, 'hasMappedAnnotation' AS pred, m.mapped_iri AS obj
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          JOIN maps m ON dr.class_iri = m.class_iri""",

    // per-lang doc totals LEFT-joined with the distinct annotated-url set
    "ann_coverage_by_lang" ->
      s"""WITH $dictCte, $directCte,
          d AS (SELECT 'doc://' || doc_id AS url, lang FROM documents),
          ann AS (SELECT DISTINCT url FROM direct)
          SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN a.url IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_annotated,
            ROUND(SUM(CASE WHEN a.url IS NOT NULL THEN 1 ELSE 0 END)
              / COUNT(*), 6) AS coverage
          FROM d LEFT JOIN ann a ON d.url = a.url GROUP BY 1""",

    // the oracle's engine and reference sides coincide BY CONSTRUCTION (both
    // are the regex-semantics triple chain), so it pins n_engine == n_ref ==
    // tp and P/R == 1.0 — which the Spark side only reproduces if the
    // automaton scan really equals the independent regex derivation
    "ann_pr_gate" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          trip AS (
            SELECT DISTINCT url AS subj, 'hasAnnotation' AS pred, class_iri AS obj FROM direct
            UNION
            SELECT DISTINCT dr.url AS subj, 'hasExpandedAnnotation' AS pred, cl.ancestor_iri AS obj
            FROM (SELECT DISTINCT url, class_iri FROM direct) dr
            JOIN closure cl ON dr.class_iri = cl.child_iri
            UNION
            SELECT DISTINCT dr.url AS subj, 'hasMappedAnnotation' AS pred, m.mapped_iri AS obj
            FROM (SELECT DISTINCT url, class_iri FROM direct) dr
            JOIN maps m ON dr.class_iri = m.class_iri)
          SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_engine,
            CAST(COUNT(*) AS BIGINT) AS n_ref,
            CAST(COUNT(*) AS BIGINT) AS tp,
            CAST(1.0 AS DOUBLE) AS "precision",
            CAST(1.0 AS DOUBLE) AS "recall"
          FROM trip GROUP BY pred""",

    // full v2 recomputation — the incremental path must land exactly here
    "ann_incremental" ->
      s"""WITH RECURSIVE $dictV2Cte, $edgesCte, $mappingsCte, $directCte, $closureCte
          SELECT DISTINCT url AS subj, 'hasAnnotation' AS pred, class_iri AS obj FROM direct
          UNION
          SELECT DISTINCT dr.url AS subj, 'hasExpandedAnnotation' AS pred, cl.ancestor_iri AS obj
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          JOIN closure cl ON dr.class_iri = cl.child_iri
          UNION
          SELECT DISTINCT dr.url AS subj, 'hasMappedAnnotation' AS pred, m.mapped_iri AS obj
          FROM (SELECT DISTINCT url, class_iri FROM direct) dr
          JOIN maps m ON dr.class_iri = m.class_iri""",

    "ann_response" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte,
          cnts2 AS (SELECT 'doc://' || doc_id AS url, d.class_iri, d.ont,
            CASE WHEN d.pref THEN 'PREF' ELSE 'SYN' END AS mt,
            CASE WHEN d.pref THEN 10.0 ELSE 8.0 END AS w,
            len(regexp_extract_all(upper(text), '\\b' || d.term || '\\b')) AS cnt
            FROM documents, dict d),
          bytype AS (SELECT url, class_iri, ont, mt, SUM(cnt) AS cnt,
              SUM(cnt * w) AS sc
            FROM cnts2 WHERE cnt > 0 GROUP BY url, class_iri, ont, mt),
          spans AS (SELECT url, class_iri, ont,
              string_agg(mt || ':' || cnt, ';' ORDER BY mt || ':' || cnt) AS annotations,
              CAST(SUM(sc) AS DOUBLE) AS score
            FROM bytype GROUP BY url, class_iri, ont),
          direct AS (SELECT DISTINCT url, class_iri FROM bytype),
          $closureCte,
          hier AS (SELECT dr.url, dr.class_iri, cl.ancestor_iri, MIN(cl.distance) AS d
            FROM direct dr JOIN closure cl ON dr.class_iri = cl.child_iri
            GROUP BY dr.url, dr.class_iri, cl.ancestor_iri),
          hierstr AS (SELECT url, class_iri,
              string_agg(ancestor_iri || ':' || d, ';' ORDER BY ancestor_iri || ':' || d) AS hierarchy
            FROM hier GROUP BY url, class_iri),
          mapdist AS (SELECT DISTINCT dr.url, dr.class_iri, m.mapped_iri
            FROM direct dr JOIN maps m ON dr.class_iri = m.class_iri),
          mapstr AS (SELECT url, class_iri,
              string_agg(mapped_iri, ';' ORDER BY mapped_iri) AS mappings
            FROM mapdist GROUP BY url, class_iri)
          SELECT s.url, s.class_iri, s.ont, s.annotations,
                 COALESCE(h.hierarchy, '') AS hierarchy,
                 COALESCE(p.mappings, '') AS mappings, s.score
          FROM spans s
          LEFT JOIN hierstr h ON s.url = h.url AND s.class_iri = h.class_iri
          LEFT JOIN mapstr p ON s.url = p.url AND s.class_iri = p.class_iri""",

    "ann_score" ->
      s"""WITH $dictCte, $cntsCte
          SELECT url, class_iri,
                 CAST(SUM(cnt * CASE WHEN pref THEN 10.0 ELSE 8.0 END)
                   AS DOUBLE) AS score,
                 CAST(SUM(cnt) AS BIGINT) AS n_matches,
                 MIN(CASE WHEN pref THEN 'PREF' ELSE 'SYN' END) AS match_type
          FROM cnts WHERE cnt > 0 GROUP BY url, class_iri""",

    "ann_stats" ->
      s"""WITH $dictCte, $cntsCte
          SELECT class_iri, CAST(COUNT(DISTINCT url) AS BIGINT) AS doc_freq,
                 CAST(SUM(cnt) AS BIGINT) AS n_matches
          FROM cnts WHERE cnt > 0 GROUP BY class_iri""",

    // salted two-phase agg must produce the exact same result
    "ann_stats_salted" ->
      s"""WITH $dictCte, $cntsCte
          SELECT class_iri, CAST(COUNT(DISTINCT url) AS BIGINT) AS doc_freq,
                 CAST(SUM(cnt) AS BIGINT) AS n_matches
          FROM cnts WHERE cnt > 0 GROUP BY class_iri""",

    "ann_filter_ont" ->
      s"""WITH $dictCte, $directCte
          SELECT DISTINCT url, class_iri, ont FROM direct WHERE ont = 'ONT2'""",

    "ann_filter_semtype" ->
      s"""WITH $dictCte, $directCte,
          semtypes(class_iri, tui) AS (SELECT * FROM (VALUES ${OntologyFixture.tuisValues}) v(a,b))
          SELECT DISTINCT d.url, d.class_iri FROM direct d
          WHERE EXISTS (SELECT 1 FROM semtypes s WHERE s.class_iri = d.class_iri
                        AND s.tui IN ('T050', 'T051', 'T052'))""",

    "ann_substring" ->
      s"""WITH $dictCte
          SELECT DISTINCT 'doc://' || doc_id AS url, d.class_iri
          FROM documents, dict d
          WHERE contains(upper(text), d.term)""",

    "ann_nosyn" ->
      s"""WITH $dictCte, $directCte
          SELECT DISTINCT url, class_iri, match_type FROM direct
          WHERE match_type <> 'SYN'""",

    "ann_stopwords" ->
      s"""WITH $dictCte
          SELECT DISTINCT 'doc://' || doc_id AS url, d.class_iri
          FROM documents, dict d
          WHERE d.term NOT IN ('DATA', 'TABLE SCAN')
            AND regexp_matches(upper(text), '\\b' || d.term || '\\b')""",

    "ann_score_cvalue" ->
      s"""WITH $dictCte, $cvCte
          SELECT url, class_iri,
                 ROUND(SUM(cnt * w * log2(words + 1)), 4) AS score
          FROM cvparts WHERE cnt > 0 GROUP BY url, class_iri""",

    "ann_score_cvalueh" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $cvCte,
          cvagg AS (SELECT url, class_iri, SUM(cnt * w * log2(words + 1)) AS score
                    FROM cvparts WHERE cnt > 0 GROUP BY url, class_iri),
          $closureCte,
          $minClosureCte,
          inh AS (SELECT c.url, m.ancestor_iri AS class_iri,
                         c.score / (m.distance + 1) AS score
                  FROM cvagg c JOIN mincl m ON c.class_iri = m.child_iri)
          SELECT url, class_iri, ROUND(SUM(score), 4) AS score
          FROM (SELECT * FROM cvagg UNION ALL SELECT * FROM inh)
          GROUP BY url, class_iri""",

    "ann_rank" ->
      s"""WITH $dictCte, $cntsCte,
          scored AS (SELECT url, class_iri,
                       CAST(SUM(cnt * CASE WHEN pref THEN 10.0 ELSE 8.0 END)
                         AS DOUBLE) AS score
                     FROM cnts WHERE cnt > 0 GROUP BY url, class_iri)
          SELECT url, class_iri, score, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY url
              ORDER BY score DESC, class_iri) AS rank
            FROM scored WHERE score >= 16.0)""",

    // rule-tagger recognizer recomputed in SQL: token offsets from the
    // cumulative separator+token lengths (the ann_lemma machinery), classes
    // from the SAME priority-ordered suffix CASE chain
    // (RuleTagger.ruleCaseSql — single source of truth)
    "ann_tagger" ->
      s"""WITH docs AS (
            SELECT doc_id, text,
              regexp_extract_all(text, '[A-Za-z0-9_]+') AS toks,
              regexp_split_to_array(text, '[A-Za-z0-9_]+') AS seps
            FROM documents),
          tokrows AS (
            SELECT doc_id, i, toks[i] AS tok, seps[i] AS sep
            FROM (SELECT *, unnest(generate_series(1, len(toks))) AS i FROM docs)),
          cums AS (
            SELECT doc_id, i, tok,
              SUM(length(sep) + length(tok)) OVER w AS t
            FROM tokrows WINDOW w AS (PARTITION BY doc_id ORDER BY i
              ROWS UNBOUNDED PRECEDING)),
          tagged AS (
            SELECT doc_id, tok, CAST(t - length(tok) + 1 AS INT) AS f,
              CAST(t AS INT) AS t2,
              ${graft.annotate.RuleTagger.ruleCaseSql("tok")} AS cls
            FROM cums WHERE length(tok) >= ${graft.annotate.RuleTagger.MinTokenLen})
          SELECT 'doc://' || doc_id AS url, f AS "from", t2 AS "to", tok AS text,
            '${graft.annotate.RuleTagger.IriPrefix}' || cls AS class_iri,
            '${graft.annotate.RuleTagger.Ont}' AS ont,
            '${graft.annotate.RuleTagger.MatchType}' AS match_type
          FROM tagged WHERE cls IS NOT NULL""",

    // Annotator+ lemmatize=true, fully recomputed in SQL: dictionary terms
    // AND document tokens are lemmatized with the SAME rule chain
    // (lemmaCaseSql == Lemma.lemmaToken), the lemma-space text is rebuilt
    // with separators verbatim (ASCII corpus: normChar on separators is
    // fold twin: the same 1:1 translate pair (inject on doc_id%3==0, fold
    // on the match path) — DuckDB translate is codepoint-wise like Spark's
    "ann_folded" ->
      s"""WITH $dictCte,
          acc AS (SELECT 'doc://' || doc_id AS url,
              CASE WHEN doc_id % 3 = 0
                   THEN translate(text, '${graft.ops.TextOps.AccentTo}',
                                  '${graft.ops.TextOps.AccentFrom}')
                   ELSE text END AS text
            FROM documents),
          fold AS (SELECT url,
              translate(text, '${graft.ops.TextOps.AccentFrom}',
                        '${graft.ops.TextOps.AccentTo}') AS text
            FROM acc)
          SELECT DISTINCT url AS subj, d.class_iri AS obj
          FROM fold, dict d
          WHERE regexp_matches(upper(text), '\\b' || d.term || '\\b')""",

    // identity), hits are located by the regexp-split machinery, and
    // lemma-space offsets map back to ORIGINAL offsets through the per-token
    // cumulative maps (hits start at token starts / end at token ends by the
    // word-boundary contract, so the mapping is two equi-joins).
    "ann_lemma" ->
      s"""WITH $dictCte, $lemmaMatchCtes
          SELECT 'doc://' || m.doc_id AS url, m.f AS "from", m.t AS "to",
            substring(d.text, m.f, m.t - m.f + 1) AS text,
            m.class_iri, m.ont, CASE WHEN m.pref THEN 'PREF' ELSE 'SYN' END AS match_type
          FROM mapped m JOIN documents d USING (doc_id)""",

    // Cohen's kappa between the strict (direct) and lemma match chains:
    // exact integer cells from a full-outer join of the two distinct-pair
    // streams, universe = docs × dict classes, kappa in one division order
    "ann_agreement" ->
      s"""WITH $dictCte, $directCte, $lemmaMatchCtes,
          strict AS (SELECT DISTINCT url, class_iri FROM direct),
          lem AS (SELECT DISTINCT 'doc://' || doc_id AS url, class_iri
                  FROM mapped),
          pres AS (SELECT s.one AS in_s, l.one AS in_l
                   FROM (SELECT url, class_iri, 1 AS one FROM strict) s
                   FULL OUTER JOIN
                        (SELECT url, class_iri, 1 AS one FROM lem) l
                     ON s.url = l.url AND s.class_iri = l.class_iri),
          cells AS (SELECT
              CAST(SUM(CASE WHEN in_s IS NOT NULL AND in_l IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS b11,
              CAST(SUM(CASE WHEN in_s IS NOT NULL AND in_l IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS b10,
              CAST(SUM(CASE WHEN in_s IS NULL AND in_l IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS b01
            FROM pres),
          tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
                    * (SELECT CAST(COUNT(DISTINCT class_iri) AS BIGINT)
                       FROM dict) AS n),
          k AS (SELECT n, b11, b10, b01,
                  n - b11 - b10 - b01 AS a00,
                  (b11 + (n - b11 - b10 - b01)) / n AS po_raw,
                  ((b11 + b10) / n) * ((b11 + b01) / n)
                    + ((b01 + (n - b11 - b10 - b01)) / n)
                      * ((b10 + (n - b11 - b10 - b01)) / n) AS pe_raw
                FROM cells, tot)
          SELECT n AS n_units, b11 AS both_present, b10 AS strict_only,
                 b01 AS lemma_only,
                 ROUND(po_raw, 6) AS po, ROUND(pe_raw, 6) AS pe,
                 CASE WHEN pe_raw = 1.0 THEN 0.0
                   ELSE ROUND((po_raw - pe_raw) / (1.0 - pe_raw), 6) END
                   AS kappa
          FROM k""",

    // Annotator+ clinical context, fully recomputed in SQL: the ConText-lite
    // trigger-window algorithm (Context.classify) re-expressed over the
    // offset machinery — nearest-first ≤5-token window cut at sentence
    // punctuation, breaker scope cut, single + adjacent-pair triggers, and
    // the one-token post-hoc negation lookahead.
    "ann_context" ->
      s"""WITH $dictCte,
          segs AS (
            SELECT doc_id, text, d.class_iri, length(d.term) AS tl,
              regexp_split_to_array(upper(text), '\\b' || d.term || '\\b') AS parts
            FROM documents, dict d),
          pos AS (
            SELECT doc_id, text, class_iri, tl, parts,
              unnest(generate_series(1, len(parts) - 1)) AS k
            FROM segs WHERE len(parts) > 1),
          hits AS (
            SELECT doc_id, text, class_iri, tl,
              CAST((SELECT COALESCE(SUM(length(p)), 0) FROM unnest(parts[1:k]) AS t(p))
                   + (k - 1) * tl + 1 AS BIGINT) AS f
            FROM pos),
          ctx AS (
            SELECT doc_id, class_iri, f, f + tl - 1 AS t_end,
              list_slice(list_reverse(regexp_extract_all(
                regexp_extract(substring(upper(text), 1, CAST(f - 1 AS BIGINT)), '[^.;!?]*$$'),
                '[A-Z0-9_]+')), 1, 5) AS tk,
              regexp_extract(substring(upper(text), CAST(f + tl AS BIGINT)),
                '^[^A-Z0-9_.;!?]*([A-Z0-9_]+)', 1) AS nxt
            FROM hits),
          attrs AS (
            SELECT doc_id, class_iri, f, t_end, tk, nxt,
              LEAST(coalesce(list_position(tk, 'BUT'), 6),
                    coalesce(list_position(tk, 'HOWEVER'), 6),
                    coalesce(list_position(tk, 'EXCEPT'), 6),
                    coalesce(list_position(tk, 'ALTHOUGH'), 6)) AS cut
            FROM ctx)
          SELECT 'doc://' || doc_id AS url, CAST(f AS INT) AS "from",
            CAST(t_end AS INT) AS "to", class_iri,
            (len(list_filter(tk[1:cut-1], x -> x IN
               ('NO','NOT','WITHOUT','DENIES','DENIED','NEVER','ABSENT','NEGATIVE'))) > 0
             OR len(list_filter(generate_series(1, cut - 1), i -> i + 1 <= len(tk)
                  AND (tk[i+1] || '|' || tk[i]) IN
                    ('ABSENCE|OF','NEGATIVE|FOR','RULED|OUT','FREE|OF'))) > 0
             OR nxt = 'UNLIKELY') AS negated,
            CASE WHEN len(list_filter(generate_series(1, cut - 1), i -> i + 1 <= len(tk)
                   AND (tk[i+1] || '|' || tk[i]) IN
                     ('FAMILY|HISTORY','MOTHER|HAD','FATHER|HAD'))) > 0
                 THEN 'OTHER' ELSE 'PATIENT' END AS experiencer,
            CASE WHEN len(list_filter(generate_series(1, cut - 1), i -> i + 1 <= len(tk)
                   AND (tk[i+1] || '|' || tk[i]) IN
                     ('HISTORY|OF','PAST|HISTORY'))) > 0
                 THEN 'HISTORICAL' ELSE 'RECENT' END AS temporality
          FROM attrs""",

    // the reference's nested JSON response, reconstructed BYTE-EXACTLY in
    // SQL: per-class span lists (offset machinery), hierarchy + mappings
    // sub-objects, score-descending annotation order (class breaks ties),
    // null sections omitted — string-compared against Spark's to_json output
    "ann_response_json" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $closureCte,
          segs AS (
            SELECT doc_id, d.class_iri, d.ont, d.pref, length(d.term) AS tl,
              regexp_split_to_array(upper(text), '\\b' || d.term || '\\b') AS parts
            FROM documents, dict d),
          pos AS (
            SELECT doc_id, class_iri, ont, pref, tl, parts,
              unnest(generate_series(1, len(parts) - 1)) AS k
            FROM segs WHERE len(parts) > 1),
          hits AS (
            SELECT doc_id, class_iri, ont, pref,
              CAST((SELECT COALESCE(SUM(length(p)), 0) FROM unnest(parts[1:k]) AS t(p))
                   + (k - 1) * tl + 1 AS BIGINT) AS f, tl
            FROM pos),
          spans AS (
            SELECT doc_id, class_iri, ont,
              string_agg('{"from":' || f || ',"to":' || (f + tl - 1) || ',"match_type":"' ||
                         CASE WHEN pref THEN 'PREF' ELSE 'SYN' END || '"}', ','
                         ORDER BY f, f + tl - 1,
                           CASE WHEN pref THEN 'PREF' ELSE 'SYN' END) AS spans_json,
              SUM(CASE WHEN pref THEN 10.0 ELSE 8.0 END) AS score
            FROM hits GROUP BY doc_id, class_iri, ont),
          direct AS (SELECT DISTINCT doc_id, class_iri FROM spans),
          hier AS (
            SELECT doc_id, class_iri, ancestor_iri, MIN(distance) AS d
            FROM direct JOIN closure ON class_iri = child_iri
            GROUP BY doc_id, class_iri, ancestor_iri),
          hierstr AS (
            SELECT doc_id, class_iri,
              string_agg('{"ancestor":"' || ancestor_iri || '","distance":' || d || '}', ','
                         ORDER BY ancestor_iri, d) AS hier_json
            FROM hier GROUP BY doc_id, class_iri),
          mapstr AS (
            SELECT doc_id, class_iri,
              string_agg(DISTINCT '"' || mapped_iri || '"', ','
                         ORDER BY '"' || mapped_iri || '"') AS map_json
            FROM direct JOIN maps USING (class_iri) GROUP BY doc_id, class_iri),
          ann AS (
            SELECT s.doc_id, s.score, s.class_iri,
              '{"annotatedClass":"' || s.class_iri || '","ont":"' || s.ont || '","score":' ||
              CAST(s.score AS VARCHAR) || ',"annotations":[' || s.spans_json || ']' ||
              COALESCE(',"hierarchy":[' || h.hier_json || ']', '') ||
              COALESCE(',"mappings":[' || m.map_json || ']', '') || '}' AS ann_json
            FROM spans s
            LEFT JOIN hierstr h ON s.doc_id = h.doc_id AND s.class_iri = h.class_iri
            LEFT JOIN mapstr m ON s.doc_id = m.doc_id AND s.class_iri = m.class_iri)
          SELECT 'doc://' || doc_id AS url,
            '{"text_id":"doc://' || doc_id || '","annotations":[' ||
            string_agg(ann_json, ',' ORDER BY -score, class_iri) || ']}' AS response
          FROM ann GROUP BY doc_id""",

    // A5 longest_only WITH offsets: match positions are recovered in pure SQL
    // from the regexp-SPLIT segments (from_k = Σ len(seg_1..k) + (k-1)·|term|
    // + 1 — \b is zero-width so every removed match has the term's length),
    // then the automaton's longest-only contract (per start keep max end) is
    // one window filter. Offsets are 1-based inclusive chars in the ORIGINAL
    // text; `substring(text, from, len)` re-reads the original-case match.
    "ann_longest" ->
      s"""WITH $dictCte,
          segs AS (SELECT doc_id, text, d.term, d.class_iri, d.ont, d.pref,
            regexp_split_to_array(upper(text), '\\b' || d.term || '\\b') AS parts,
            length(d.term) AS tl
            FROM documents, dict d),
          pos AS (SELECT doc_id, text, class_iri, ont, pref, parts, tl,
            unnest(generate_series(1, len(parts) - 1)) AS k
            FROM segs WHERE len(parts) > 1),
          hits AS (SELECT doc_id, text, class_iri, ont, pref, tl,
            CAST((SELECT COALESCE(SUM(length(p)), 0) FROM unnest(parts[1:k]) AS t(p))
                 + (k - 1) * tl + 1 AS BIGINT) AS f
            FROM pos),
          longest AS (SELECT *,
            MAX(f + tl - 1) OVER (PARTITION BY doc_id, f) AS max_to FROM hits)
          SELECT 'doc://' || doc_id AS url, CAST(f AS INT) AS "from",
                 CAST(f + tl - 1 AS INT) AS "to",
                 substring(text, f, CAST(tl AS BIGINT)) AS text,
                 class_iri, ont,
                 CASE WHEN pref THEN 'PREF' ELSE 'SYN' END AS match_type
          FROM longest WHERE f + tl - 1 = max_to""",

    // tf·ln(N/df); N counts ALL docs (zero-match docs included)
    "ann_tfidf" ->
      s"""WITH $dictCte, $cntsCte,
          tf AS (SELECT url, class_iri, CAST(SUM(cnt) AS BIGINT) AS tf
                 FROM cnts WHERE cnt > 0 GROUP BY 1, 2),
          df AS (SELECT class_iri, COUNT(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
          SELECT t.url, t.class_iri,
                 ROUND(t.tf * ln((SELECT n FROM n) / d.df), 6) AS tfidf
          FROM tf t JOIN df d USING (class_iri)""",

    // the full coherence-vote recomputation: per-(url,surface) candidate
    // sets, unambiguous context, cooc votes, sense prior, deterministic
    // tie-break — the window's ORDER BY IS the engine's min(struct(...))
    "ann_disambiguate" ->
      s"""WITH $dictCte,
          dwt AS (SELECT DISTINCT 'doc://' || doc_id AS url, d.term, d.class_iri
                  FROM documents, dict d
                  WHERE regexp_matches(upper(text), '\\b' || d.term || '\\b')),
          card AS (SELECT url, term, COUNT(DISTINCT class_iri) AS nc
                   FROM dwt GROUP BY 1, 2),
          unamb0 AS (SELECT DISTINCT w.url, w.class_iri
                     FROM dwt w JOIN card c USING (url, term) WHERE c.nc = 1),
          kept AS (SELECT url FROM unamb0 GROUP BY url
                   HAVING COUNT(*) <= 1000),
          unamb AS (SELECT u.url, u.class_iri
                    FROM unamb0 u JOIN kept k USING (url)),
          amb AS (SELECT w.url, w.term, w.class_iri AS cand
                  FROM dwt w JOIN card c USING (url, term) WHERE c.nc > 1),
          cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                          COUNT(*) AS n_docs
                   FROM unamb a JOIN unamb b
                     ON a.url = b.url AND a.class_iri < b.class_iri
                   GROUP BY 1, 2),
          prior AS (SELECT class_iri, COUNT(*) AS p FROM unamb GROUP BY 1),
          sc AS (SELECT m.url, m.term, m.cand, COALESCE(SUM(k.n_docs), 0) AS score
                 FROM amb m
                 LEFT JOIN unamb u ON u.url = m.url AND u.class_iri <> m.cand
                 LEFT JOIN cooc k ON k.src = LEAST(m.cand, u.class_iri)
                   AND k.dst = GREATEST(m.cand, u.class_iri)
                 GROUP BY 1, 2, 3),
          r AS (SELECT sc.url, sc.term, sc.cand, sc.score,
                  ROW_NUMBER() OVER (PARTITION BY sc.url, sc.term
                    ORDER BY sc.score DESC, COALESCE(p.p, 0) DESC, sc.cand) AS rn
                FROM sc LEFT JOIN prior p ON p.class_iri = sc.cand)
          SELECT url, term, cand AS class_iri, CAST(score AS BIGINT) AS score
          FROM r WHERE rn = 1""",

    // abbreviations: same synthesis (positive span from the doc's first
    // three tokens, negative ' bad wrong phrase (XYZ)'), same shared
    // pattern, first-letter-rule validity as boolean conjunction
    "ann_abbrev" ->
      s"""WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS t
           FROM documents),
          t1 AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' ' || t[1] || ' ' || t[2]
                 || ' ' || t[3] || ' (' || upper(substr(t[1], 1, 1)
                 || substr(t[2], 1, 1) || substr(t[3], 1, 1)) || ')'
               ELSE text END AS text
           FROM t0),
          ab AS (SELECT 'doc://' || doc_id AS url,
             CASE WHEN doc_id % 10 = 0 THEN text || ' bad wrong phrase (XYZ)'
               ELSE text END AS text
           FROM t1),
          spans AS (SELECT url,
             unnest(regexp_extract_all(text,
               '${graft.ops.Relations.AbbrevRe}')) AS span
           FROM ab)
          SELECT DISTINCT url,
            regexp_extract(span, '${graft.ops.Relations.AbbrevRe}', 1) || ' '
              || regexp_extract(span, '${graft.ops.Relations.AbbrevRe}', 2)
              || ' '
              || regexp_extract(span, '${graft.ops.Relations.AbbrevRe}', 3)
              AS long_form,
            regexp_extract(span, '${graft.ops.Relations.AbbrevRe}', 4)
              AS short_form,
            upper(substr(regexp_extract(span,
                '${graft.ops.Relations.AbbrevRe}', 1), 1, 1))
              = substr(regexp_extract(span,
                '${graft.ops.Relations.AbbrevRe}', 4), 1, 1)
            AND upper(substr(regexp_extract(span,
                '${graft.ops.Relations.AbbrevRe}', 2), 1, 1))
              = substr(regexp_extract(span,
                '${graft.ops.Relations.AbbrevRe}', 4), 2, 1)
            AND upper(substr(regexp_extract(span,
                '${graft.ops.Relations.AbbrevRe}', 3), 1, 1))
              = substr(regexp_extract(span,
                '${graft.ops.Relations.AbbrevRe}', 4), 3, 1) AS valid
          FROM spans""",
  )
}
