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

/** kg-tier slice of the driver registry —
  * moved verbatim out of SparkEntry (round-5 hygiene split; the Seq→Map
  * assembly, duplicate gate and 1:1 queries↔oracles check stay in
  * [[SparkEntry]]). Shared helpers live on SparkEntry as
  * `private[graft]` members. 81 queries / 81 oracles. */
private[graft] object KgTier {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // triple-store predicate distribution — the first dashboard row any KG
    // release gets (per pred: triple count + distinct subjects/objects);
    // one short-key agg over the fused zero-shuffle triple stream
    "kg_pred_stats" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj")
        .groupBy("pred")
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("subj")).as("n_subjects"),
          countDistinct(col("obj")).as("n_objects"))),

    // object in-degree histogram over the triple store (hub-concept watch:
    // which objects accumulate the KG's mass) — per (pred, log2 bucket of
    // the object's subject count), the web_degree_dist bit-length
    // bucketing on the KG side
    "kg_obj_degree_dist" -> ((s, dir) =>
      graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj")
        .groupBy("pred", "obj")
        .agg(countDistinct(col("subj")).as("deg"))
        .select(col("pred"), (length(bin(col("deg"))) - 1).as("bucket"))
        .groupBy("pred", "bucket")
        .agg(count(lit(1)).as("n_objects"))),

    // cross-ontology overlap matrix (the BioPortal ontology-similarity
    // artifact): per unordered ontology pair, mapped class-pair counts +
    // per-side coverage of the dict universe — the release dashboard for
    // "how aligned are these two ontologies". Everything is
    // ontology-scale: two broadcast joins onto the mapping table, one agg.
    "kg_ontology_overlap" -> ((s, dir) => {
      val cls = DictBuild.flatDict(DictBuild.build(DictBuild.labelRows(
          OntologyFixture.conceptsDf(s))))
        .select(col("class_iri"), col("ont")).distinct()
      val sizes = cls.groupBy("ont").agg(countDistinct(col("class_iri")).as("n"))
      val pairs = OntologyFixture.mappingsDf(s)
        .join(broadcast(cls.select(col("class_iri"), col("ont").as("ont_a"))),
          Seq("class_iri"))
        .join(broadcast(cls.select(col("class_iri").as("mapped_iri"),
          col("ont").as("ont_b"))), Seq("mapped_iri"))
        .filter(col("ont_a") < col("ont_b"))
        .select(col("ont_a"), col("ont_b"), col("class_iri"), col("mapped_iri"))
        .distinct()
      pairs.groupBy("ont_a", "ont_b")
        .agg(count(lit(1)).as("n_mapped_pairs"),
          countDistinct(col("class_iri")).as("n_classes_a"),
          countDistinct(col("mapped_iri")).as("n_classes_b"))
        .join(broadcast(sizes.select(col("ont").as("ont_a"), col("n").as("size_a"))),
          Seq("ont_a"))
        .join(broadcast(sizes.select(col("ont").as("ont_b"), col("n").as("size_b"))),
          Seq("ont_b"))
        .select(col("ont_a"), col("ont_b"), col("n_mapped_pairs"),
          col("n_classes_a"), col("n_classes_b"),
          round(col("n_classes_a") / col("size_a"), 6).as("coverage_a"),
          round(col("n_classes_b") / col("size_b"), 6).as("coverage_b"))
    }),

    // related documents via shared ontology ancestry — the annotator's
    // "similar resources" surface: profiles = direct concepts + ancestors,
    // capped-posting pair generation (the dedup_jaccard discipline)
    "kg_related_docs" -> ((s, dir) =>
      graft.graph.KgGraph.relatedDocs(
        matchesPar(s, dir).select("url", "class_iri"),
        graph.Closure.transitiveClosure(OntologyFixture.edgesDf(s), maxLevel = 5))),

    // capstone composition: the training-data curation ops FEED the
    // annotator — exact-dedup survivors + quality gate select the pages, the
    // native annotate builds the KG only over curated pages (the realistic
    // 100 TB pipeline shape: curate once, then extract knowledge)
    "kg_curated_triples" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val keep = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      // quality gate inline: q4 >= 5000 ⇔ quality >= 0.5 exactly (q4 is
      // the integer 4dp score) — no corpus-to-itself join for a map-side
      // value; the only join is the exact-dedup semi-join
      val curated = docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(TextOps.quality4(col("text")) >= lit(5000L))
      graft.annotate.NativeAnnotate
        .annotateTriples(Corpus.extract(Corpus.fromDriverTable(curated)),
          model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj")
    }),

    // ---- graph analytics over the materialized KG ------------------------
    // concept co-occurrence edges (src < dst, doc count) from the direct
    // annotation stream — one groupBy(url) + map-side pair explosion
    "kg_cooccur" -> ((s, dir) =>
      graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri"))),

    // Milne–Witten relatedness distance over the same annotation doc space
    "kg_relatedness" -> ((s, dir) =>
      graft.graph.KgGraph.milneWitten(
        matchesPar(s, dir).select("url", "class_iri"))),

    "kg_degree" -> ((s, dir) =>
      graft.graph.KgGraph.degrees(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // alternating large-star/small-star contraction (O(log² n) rounds) —
    // component label = MIN(class_iri) in the component, matching the
    // recursive-CTE oracle
    // cooc pinned (the connectedComponents caller contract): the operator
    // evaluates its edge input twice (nodes + e pins)
    "kg_components" -> ((s, dir) =>
      graft.graph.KgGraph.connectedComponents(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")).localCheckpoint())),

    // graph-release QA: component-size histogram + per-size node fraction
    // (giant-component watch: over-merge and shatter both read off this)
    "kg_component_sizes" -> ((s, dir) =>
      graft.graph.KgGraph.componentSizes(
        graft.graph.KgGraph.connectedComponents(graft.graph.KgGraph.cooccurrence(
          matchesPar(s, dir).select("url", "class_iri")).localCheckpoint()))),

    // per-node Watts–Strogatz local clustering coefficient
    // (2·tri / deg·(deg−1); tag-page hubs show cc ≈ 0)
    "kg_clustering" -> ((s, dir) =>
      graft.graph.KgGraph.clusteringCoefficient(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // one-row degree-assortativity drift alarm (Newman 2002 Pearson r over
    // endpoint degrees, both orientations)
    "kg_assortativity" -> ((s, dir) =>
      graft.graph.KgGraph.assortativity(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // TEMPORAL fact history — the KG-maintenance view over TIME (the
    // crawl-snapshot sibling of kg_fact_diff's release axis): each fact's
    // first/last observation epoch, snapshot support, and whether it
    // SURVIVED the doc's latest capture. Snapshot 2 re-crawls every third
    // doc with its first half of tokens (facts can die, never appear —
    // deterministic, oracle-mirrored). Per-snapshot annotation is the
    // flagship zero-shuffle scan; history is ONE fact-keyed aggregation.
    "kg_fact_history" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val s1 = docs.select(col("doc_id"), col("text"), lit(1).as("snapshot"),
        (lit(1700000000L) + col("doc_id") * 60).as("fetch_epoch"))
      val s2 = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "(size(split(text, ' ')) + 1) div 2), ' ')").as("text"),
          lit(2).as("snapshot"),
          (lit(1700000000L) + col("doc_id") * 60 + 604800L).as("fetch_epoch"))
      val snaps = s1.unionByName(s2)
      val m = graft.annotate.NativeAnnotate.annotateMatches(
        snaps.select(concat(lit("doc://"), col("doc_id"), lit("@"),
          col("snapshot")).as("url"), col("text")), model(s))
      val urlRe = "^doc://(\\d+)@(\\d+)$"
      val facts = m.select(
          regexp_extract(col("url"), urlRe, 1).cast("long").as("doc_id"),
          regexp_extract(col("url"), urlRe, 2).cast("int").as("snapshot"),
          col("class_iri")).distinct()
        .join(snaps.select("doc_id", "snapshot", "fetch_epoch"),
          Seq("doc_id", "snapshot"))
      val cap = snaps.groupBy("doc_id").agg(max("fetch_epoch").as("last_cap"))
      facts.groupBy("doc_id", "class_iri")
        .agg(min("fetch_epoch").as("first_epoch"),
          max("fetch_epoch").as("last_epoch"),
          count_distinct(col("snapshot")).as("n_snapshots"))
        .join(cap, "doc_id")
        .select(concat(lit("doc://"), col("doc_id")).as("subj"),
          col("class_iri").as("obj"), col("first_epoch"), col("last_epoch"),
          col("n_snapshots"),
          (col("last_epoch") === col("last_cap")).as("current"))
    }),

    // fact VALIDITY INTERVALS over a 6-visit capture history (temporal KG
    // construction): odd visits capture only the first half of each doc's
    // tokens, so second-half facts flicker — gaps-and-islands over the
    // per-visit presence stream turns each consecutive-presence run into
    // one (valid_from, valid_to) interval row, the representation
    // kg_fact_history's first/last summary cannot express (facts that die
    // and RETURN). Annotation is the flagship zero-shuffle scan ×6;
    // islands cost one per-fact window (≤6 rows per key) + one agg
    "kg_fact_intervals" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = docsTable(s, dir)
      val visits = docs.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(FactVisits - 1))).as("visit"))
        .select(col("doc_id"), col("visit"),
          when(col("visit") % 2 === 0, col("text"))
            .otherwise(expr("array_join(slice(split(text, ' '), 1, " +
              "(size(split(text, ' ')) + 1) div 2), ' ')")).as("text"))
      val m = graft.annotate.NativeAnnotate.annotateMatches(
        visits.select(concat(lit("doc://"), col("doc_id"), lit("@"),
          col("visit")).as("url"), col("text")), model(s))
      val urlRe = "^doc://(\\d+)@(\\d+)$"
      val facts = m.select(
          regexp_extract(col("url"), urlRe, 1).cast("long").as("doc_id"),
          regexp_extract(col("url"), urlRe, 2).cast("int").as("visit"),
          col("class_iri")).distinct()
      val w = Window.partitionBy("doc_id", "class_iri").orderBy("visit")
      facts.withColumn("island", col("visit") - row_number().over(w))
        .groupBy("doc_id", "class_iri", "island")
        .agg(min("visit").as("from_visit"), max("visit").as("to_visit"),
          count(lit(1)).as("n_visits"))
        .select(concat(lit("doc://"), col("doc_id")).as("subj"),
          col("class_iri").as("obj"),
          (lit(1700000000L) + col("from_visit") * 604800L).as("valid_from"),
          (lit(1700000000L) + col("to_visit") * 604800L).as("valid_to"),
          col("n_visits"))
    }),

    // POINT-IN-TIME KG snapshot: the graph "as of" AsOfEpoch — for each
    // doc, its latest capture at or before T (one max(struct) argmax per
    // doc, the CDX crawl-merge shape), then ONLY that capture annotated.
    // At 10^12 docs the as-of selection is one doc-keyed agg over capture
    // metadata (tiny rows); the corpus-scale annotate runs on exactly one
    // version per doc — never on the full capture history
    "kg_asof_snapshot" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val s1 = docs.select(col("doc_id"), col("text"), lit(1).as("snapshot"),
        (lit(1700000000L) + col("doc_id") * 60).as("fetch_epoch"))
      val s2 = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "(size(split(text, ' ')) + 1) div 2), ' ')").as("text"),
          lit(2).as("snapshot"),
          (lit(1700000000L) + col("doc_id") * 60 + 604800L).as("fetch_epoch"))
      val snaps = s1.unionByName(s2)
      val chosen = snaps.filter(col("fetch_epoch") <= AsOfEpoch)
        .groupBy("doc_id")
        .agg(max(struct(col("fetch_epoch"), col("snapshot"))).as("k"))
        .select(col("doc_id"), col("k.snapshot").as("snapshot"),
          col("k.fetch_epoch").as("fetch_epoch"))
      val m = graft.annotate.NativeAnnotate.annotateMatches(
        chosen.join(snaps, Seq("doc_id", "snapshot", "fetch_epoch"))
          .select(concat(lit("doc://"), col("doc_id")).as("url"),
            col("text")), model(s))
      m.select(col("url").as("subj"), col("class_iri").as("obj")).distinct()
        .join(chosen.select(
          concat(lit("doc://"), col("doc_id")).as("subj"),
          col("snapshot"), col("fetch_epoch")), "subj")
    }),

    // incremental components: a deterministic 1/5 hash-slice of the cooc
    // edges plays the "new crawl batch" delta — v1 labels from the
    // remaining 4/5, delta merged by contraction. The result must be
    // indistinguishable from the cold run, so the oracle IS kg_components'
    // (the ann_sharded precedent: an execution-strategy variant shares the
    // semantic oracle)
    "kg_components_delta" -> ((s, dir) => {
      val cooc = graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")).localCheckpoint()
      val isDelta = pmod(xxhash64(col("src"), col("dst")), lit(5)) === 0
      val old = graft.graph.KgGraph.connectedComponents(cooc.filter(!isDelta))
      graft.graph.KgGraph.componentsDelta(old, cooc.filter(isDelta))
    }),

    // MENTION CONTEXT windows — the training artifact entity-disambiguation
    // and entity-embedding models consume: each occurrence with ±30 chars
    // of its ORIGINAL-text surroundings. ONE url-keyed join of the match
    // stream back to the corpus (the standard context-extraction shape —
    // the corpus is scanned once; nothing wider than the match stream
    // shuffles), window cut by pure substring arithmetic, clipped at doc
    // edges identically in both engines.
    // rule-based pronominal coreference: injected pronouns resolve to the
    // NEAREST PRECEDING mention span (from the real annotator's offsets),
    // each resolved pronoun emitting an extra corefMention fact; an
    // ambiguous nearest mention (one term, two classes) links to all of
    // them, exactly like the direct annotation it extends
    "kg_coref" -> ((s, dir) => {
      val pages = graft.ops.Relations.withPronouns(docsTable(s, dir))
      graft.ops.Relations.corefMentions(pages,
        graft.annotate.NativeAnnotate.annotateMatches(pages, model(s)))
    }),

    "kg_mention_contexts" -> ((s, dir) => {
      val c = corpus(s, dir).select(col("url"), col("text"))
      matches(s, dir)
        .select(col("url"), col("class_iri"), col("from"), col("to"))
        .distinct()
        .join(c, "url")
        .select(col("url"), col("class_iri"),
          col("from").cast("int").as("mention_from"),
          expr("substring(text, greatest(1, `from` - 30), " +
            "`to` + 30 - greatest(1, `from` - 30) + 1)").as("context"))
        // distinct AFTER the projection: same-class prefix terms (e.g.
        // KEY / KEY VALUE) at one start whose windows both clip at the doc
        // end collapse to identical rows — the oracle's DISTINCT is
        // post-projection too
        .distinct()
    }),

    // TYPE-level schema graph (schema induction): the concept co-occurrence
    // graph rolled up to semantic types — per unordered (tui_a, tui_b)
    // pair, total edge mass + distinct concept-pair count. The type table
    // is dictionary-scale → broadcast; one (tui, tui)-keyed agg over the
    // already-aggregated cooc edges. What ontology engineers read to see
    // WHICH KINDS of things co-occur, not which instances.
    "kg_type_graph" -> ((s, dir) => {
      val cooc = graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri"))
      val tuis = OntologyFixture.conceptsDf(s)
        .select(col("class_iri"), explode(col("tuis")).as("tui"))
      cooc
        .join(broadcast(tuis.select(col("class_iri").as("src"),
          col("tui").as("t_src"))), "src")
        .join(broadcast(tuis.select(col("class_iri").as("dst"),
          col("tui").as("t_dst"))), "dst")
        .select(least(col("t_src"), col("t_dst")).as("tui_a"),
          greatest(col("t_src"), col("t_dst")).as("tui_b"), col("n_docs"))
        .groupBy("tui_a", "tui_b")
        .agg(sum("n_docs").as("edge_mass"), count(lit(1)).as("n_pairs"))
    }),

    // PMI association strength per co-occurrence edge (Church & Hanks):
    // ln(n_ab·N / (n_a·n_b)) over the same capped doc universe
    "kg_pmi" -> ((s, dir) =>
      graft.graph.KgGraph.pmi(matchesPar(s, dir).select("url", "class_iri"))),

    // k-core decomposition by iterated peeling; converges well inside the
    // 8 rounds the oracle unrolls (peeling is idempotent after convergence,
    // so fixed-unroll == converged engine result — asserted in-engine)
    // maxIter pinned to the oracle's unroll count — the engine's
    // convergence assertion within 8 is what licenses the fixed unroll
    "kg_kcore" -> ((s, dir) =>
      graft.graph.KgGraph.kcore(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")), k = 3, maxIter = 8)),

    // fixed-iteration PageRank (10 rounds, d=0.85) — the oracle unrolls the
    // same 10 iterations as CTEs, so scores match to the 6dp contract
    "kg_pagerank" -> ((s, dir) =>
      graft.graph.KgGraph.pageRank(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // bounded-horizon Katz centrality: attenuated walk counts with NO
    // degree normalization (a hub's endorsement counts fully — the
    // citation-prestige index next to PageRank's random surfer)
    "kg_katz" -> ((s, dir) =>
      graft.graph.KgGraph.katz(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // weighted PageRank: rank mass flows in proportion to edge weight
    // (n_docs) — same unrolled-CTE oracle shape with weighted contributions
    "kg_pagerank_weighted" -> ((s, dir) =>
      graft.graph.KgGraph.pageRankWeighted(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // per-node triangle counts (canonical a<b<c wedge join)
    "kg_triangles" -> ((s, dir) =>
      graft.graph.KgGraph.triangles(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // Jaccard-normalized concept similarity over co-occurrence doc sets
    "kg_concept_sim" -> ((s, dir) =>
      graft.graph.KgGraph.conceptSimilarity(
        matchesPar(s, dir).select("url", "class_iri"))),

    // Adamic–Adar link prediction over the co-occurrence graph: candidate
    // (non-)edges scored by Σ 1/ln(deg) over common neighbors — degree is
    // the local size of each sorted neighbor set, so no degree join
    "kg_adamic_adar" -> ((s, dir) =>
      graft.graph.KgGraph.adamicAdar(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // synchronous fixed-round label-propagation communities (arg-min
    // tie-break makes it deterministic; oracle unrolls the same 4 rounds)
    "kg_labelprop" -> ((s, dir) =>
      graft.graph.KgGraph.labelPropagation(graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")))),

    // partition-quality QA: weighted modularity of the label-propagation
    // communities — per-community e_c/m − (S_c/2m)² (Newman 2004)
    "kg_modularity" -> ((s, dir) => {
      // pin the shared edge list: labelPropagation and modularity both
      // consume it, and an unpinned plan re-runs the corpus-side
      // co-occurrence agg once per consumer (the kg_components_delta
      // precedent)
      val cooc = graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")).localCheckpoint()
      graft.graph.KgGraph.modularity(cooc,
        graft.graph.KgGraph.labelPropagation(cooc))
    }),

    // Apriori-pruned frequent concept 3-itemsets (support ≥ 20 % of the
    // doc universe): candidates from frequent-pair joins (the downward-
    // closure prune — ontology²-bounded, corpus-free), verified by three
    // url-keyed joins against the broadcast candidate set
    "kg_itemsets" -> ((s, dir) =>
      graft.graph.KgGraph.frequentTriples(
        matchesPar(s, dir).select("url", "class_iri"))),

    // association rules from the frequent triples: pair→item confidence
    // and lift (two pinned divisions over exact supports), kept ≥ 0.8 —
    // the kg_itemsets follow-on every market-basket deployment ships
    "kg_assoc_rules" -> ((s, dir) =>
      graft.graph.KgGraph.associationRules(
        matchesPar(s, dir).select("url", "class_iri"))),

    // per-community conductance of the post-Louvain-move partition —
    // cut / min(vol, 2m − vol) (Kannan–Vempala–Vetta 2004), the
    // cut-quality complement to kg_modularity's density view (label
    // propagation collapses to one community on this corpus — that's the
    // NULL trivial-cut case, not a partition worth cutting)
    "kg_conductance" -> ((s, dir) => {
      val cooc = graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")).localCheckpoint()
      graft.graph.KgGraph.conductance(cooc,
        graft.graph.KgGraph.louvainMove(cooc,
          graft.graph.KgGraph.singletonPartition(cooc))
          .select(col("class_iri"), col("community")))
    }),

    // one synchronous Louvain local-move sweep from the singleton
    // partition (= phase-1 round 1) — exact-BIGINT modularity-gain argmax
    // per node, ties prefer staying then smallest label; dq is the true
    // ΔQ of each move (one pinned division)
    "kg_louvain_move" -> ((s, dir) => {
      val cooc = graft.graph.KgGraph.cooccurrence(
        matchesPar(s, dir).select("url", "class_iri")).localCheckpoint()
      graft.graph.KgGraph.louvainMove(cooc,
        graft.graph.KgGraph.singletonPartition(cooc))
    }),

    // PageRank iteration-count QA: L1 residual between the 5- and 6-round
    // rankings in exact micro-units (ranks are 6dp-rounded, so ×1e6 is
    // integer arithmetic) — the release gate that DECIDES iters instead of
    // guessing it
    "kg_pr_residual" -> ((s, dir) => {
      val e = LinkGraph.pageEdges(
        LinkGraph.links(LinkGraph.pages(docsTable(s, dir)))).localCheckpoint()
      val p5 = graft.graph.KgGraph.pageRankDirected(e, 5)
        .select(col("page"),
          round(col("pagerank") * lit(1e6)).cast("long").as("m5"))
      val p6 = graft.graph.KgGraph.pageRankDirected(e, 6)
        .select(col("page"),
          round(col("pagerank") * lit(1e6)).cast("long").as("m6"))
      p5.join(p6, "page")
        .agg(sum(abs(col("m5") - col("m6"))).as("l1_micro"),
          max(abs(col("m5") - col("m6"))).as("max_micro"))
        .select(col("l1_micro"), col("max_micro"),
          round(col("l1_micro").cast("double") / lit(1e6), 6)
            .as("l1_residual"))
    }),

    // Spearman rank correlation between the 5- and 6-round PageRank
    // rankings — kg_pr_residual's rank-space sibling (a release whose
    // VALUES drift but whose ORDER holds is safe to ship): ranks by
    // row_number (score desc, node — the deterministic tie policy, ties
    // on the 6dp grid broken identically in both engines), then
    // ρ = 1 − 6Σd²/(n(n²−1)) in exact BIGINT until one ROUND(6) division
    "kg_rank_corr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the ranking window is node-table-scale (pages), never the corpus;
      // at 10^12 nodes the global sort flips to the D6 two-pass
      // range-repartition + zipWithIndex form — same contract
      val e = LinkGraph.pageEdges(
        LinkGraph.links(LinkGraph.pages(docsTable(s, dir)))).localCheckpoint()
      def ranked(iters: Int, out: String) =
        graft.graph.KgGraph.pageRankDirected(e, iters)
          .select(col("page"), row_number().over(
            Window.orderBy(col("pagerank").desc, col("page")))
            .cast("long").as(out))
      ranked(5, "r5").join(ranked(6, "r6"), "page")
        .agg(count(lit(1)).as("n"),
          sum((col("r5") - col("r6")) * (col("r5") - col("r6"))).as("sum_d2"))
        .select(col("n"), col("sum_d2"),
          round(lit(1.0) - lit(6.0) * col("sum_d2") /
            (col("n") * (col("n") * col("n") - lit(1L))).cast("double"), 6)
            .as("spearman_rho"))
    }),

    // schema.org microdata → (subj, pred, obj) triples: itemtype plus
    // prop/value spans zipped by occurrence index, map-only extraction
    "kg_microdata" -> ((s, dir) =>
      graft.ops.Relations.microdataTriples(
        graft.ops.Relations.withMicrodata(docsTable(s, dir)))),

    // JSON-LD script blocks → triples: regex cut + native from_json +
    // nested-author fragment-node minting, map-only until the distinct
    "kg_jsonld" -> ((s, dir) =>
      graft.ops.Relations.jsonLdTriples(
        graft.ops.Relations.withJsonLd(docsTable(s, dir)))),

    // SPARQL DESCRIBE (CBD): Article pages + their minted author
    // sub-nodes — all joins subj-keyed, one frontier round (the JSON-LD
    // nesting's fixed point)
    "kg_describe" -> ((s, dir) => {
      val t = graft.ops.Relations.jsonLdTriples(
        graft.ops.Relations.withJsonLd(docsTable(s, dir)))
      graft.ops.KgPublish.describe(t,
        t.filter(col("pred") === "rdf:type" && col("obj") === "schema:Article")
          .select("subj"))
    }),

    // SPARQL ASK: satisfiable path pattern + unsatisfiable phantom
    // predicate, each under LIMIT 1 before the boolean agg (early exit)
    "kg_ask" -> ((s, dir) =>
      graft.ops.KgPublish.ask(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        closure(s), graft.ops.KgQuality.bgpRoot)),

    // SPARQL UNION + FILTER regex + MINUS: one pred-IN-filtered scan
    // (alternation idiom), map-side FILTER, MINUS = broadcast left-anti
    // on the shared-variable domain {?c} (the minus side is ontology)
    "kg_bgp_union_minus" -> ((s, dir) =>
      graft.ops.KgPublish.unionMinus(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        closure(s), graft.ops.KgQuality.bgpRoot)),

    // Hearst-pattern mining: all four pattern shapes extracted map-only,
    // support = distinct docs + total mentions per surface pair
    "kg_hearst_pairs" -> ((s, dir) =>
      graft.ops.Relations.hearstSupport(graft.ops.Relations.hearstPairs(
        graft.ops.Relations.withHearst(docsTable(s, dir))))),

    // Hearst pairs resolved against the dictionary (both surfaces must be
    // concept labels) → candidate is-a edges the ontology does NOT already
    // assert — the taxonomy-gap mining step of KG construction
    "kg_hearst_isa" -> ((s, dir) => {
      val pairs = graft.ops.Relations.hearstPairs(
        graft.ops.Relations.withHearst(docsTable(s, dir)))
      val dict = DictBuild.flatDict(DictBuild.build(
          DictBuild.labelRows(OntologyFixture.conceptsDf(s))))
        .select(col("term"), col("class_iri")).distinct()
      pairs
        .join(broadcast(dict.select(col("term").as("hypo_t"),
          col("class_iri").as("child_iri"))),
          upper(col("hyponym")) === col("hypo_t"))
        .join(broadcast(dict.select(col("term").as("hyper_t"),
          col("class_iri").as("parent_iri"))),
          upper(col("hypernym")) === col("hyper_t"))
        .filter(col("child_iri") =!= col("parent_iri"))
        .select("child_iri", "parent_iri").distinct()
        .join(OntologyFixture.edgesDf(s),
          Seq("child_iri", "parent_iri"), "left_anti")
    }),

    // entity salience features (Dunietz & Gillick 2014's first-mention +
    // frequency signals): per (doc, entity) the mention count, the 1-based
    // first-mention offset, and lead_score = 1 − (first−1)/len — the
    // ranking signal KG construction uses to pick a page's PRIMARY
    // entities. One hash agg over the match stream + a broadcast-sized
    // doc-length join; offsets are the A1 original-text offsets
    "kg_salience" -> ((s, dir) => {
      val lens = corpus(s, dir)
        .select(col("url"), length(col("text")).as("doc_len"))
      matches(s, dir).groupBy("url", "class_iri")
        .agg(count(lit(1)).as("n_mentions"), min(col("from")).as("first_pos"))
        .join(lens, "url")
        .select(col("url"), col("class_iri"), col("n_mentions"),
          col("first_pos"),
          round(lit(1.0) - (col("first_pos") - 1).cast("double") /
            col("doc_len").cast("double"), 6).as("lead_score"))
    }),

    // alias-prior table P(concept | surface) — the wikification commonness
    // prior (Medelyan/Milne & Witten): per normalized surface form, how
    // often it resolves to each concept across the corpus. ONE corpus-sized
    // hash agg (map-side partials on short surface keys) down to a
    // dictionary-sized table; the per-surface normalizer is a second agg
    // over that TINY table joined back broadcast — never a window over the
    // match stream. The artifact entity linkers ship: Disambiguate's
    // most-frequent-sense prior, exported as a first-class table.
    "kg_alias_priors" -> ((s, dir) => {
      val cnt = matches(s, dir)
        .groupBy(upper(col("text")).as("surface"), col("class_iri"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("surface").agg(sum("n").as("n_surface"))
      cnt.join(broadcast(tot), "surface")
        .select(col("surface"), col("class_iri"), col("n"),
          round(col("n").cast("double") / col("n_surface").cast("double"), 6)
            .as("prior"))
    }),

    // ontology-coverage report: per ontology, how many of its concepts the
    // corpus actually mentions — the dictionary-health metric a KG team
    // watches across releases. Concept universe from the dict (tiny),
    // matched set from one distinct over the match stream
    "kg_coverage" -> ((s, dir) => {
      val dict = DictBuild.flatDict(DictBuild.build(
          DictBuild.labelRows(OntologyFixture.conceptsDf(s))))
        .select(col("ont"), col("class_iri")).distinct()
      val matched = matches(s, dir).select(col("class_iri")).distinct()
        .withColumn("m", lit(1))
      dict.join(matched, Seq("class_iri"), "left")
        .groupBy("ont")
        .agg(count(lit(1)).as("n_concepts"),
          sum(coalesce(col("m"), lit(0))).as("n_matched"))
        .select(col("ont"), col("n_concepts"), col("n_matched"),
          round(col("n_matched").cast("double")
            / col("n_concepts").cast("double"), 4).as("coverage"))
    }),

    // per-concept ENTITY CARD — the KG-side observability capstone (the
    // curate_ledger discipline applied to concepts): every dictionary
    // concept LEFT-joined with its corpus footprint (docs, mentions),
    // hierarchy reach, and mapping degree. Each leg aggregates to ≤ 1 row
    // per concept before the fan-in, so the join cannot explode; the only
    // corpus-scale work is the match-stream agg every ann_* query shares.
    "kg_concept_profile" -> ((s, dir) => {
      val dict = DictBuild.flatDict(DictBuild.build(
        DictBuild.labelRows(OntologyFixture.conceptsDf(s))))
      val uni = dict.groupBy("class_iri", "ont")
        .agg(count_distinct(col("term")).as("n_terms"))
      val m = matches(s, dir).groupBy("class_iri")
        .agg(count_distinct(col("url")).as("n_docs"),
          count(lit(1)).as("n_mentions"))
      val anc = closure(s).groupBy(col("child").as("class_iri"))
        .agg(count(lit(1)).as("n_ancestors"))
      val mp = OntologyFixture.mappingsDf(s).groupBy("class_iri")
        .agg(count(lit(1)).as("n_mappings"))
      uni.join(m, Seq("class_iri"), "left")
        .join(anc, Seq("class_iri"), "left")
        .join(mp, Seq("class_iri"), "left")
        .select(col("class_iri"), col("ont"), col("n_terms"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_mentions"), lit(0L)).as("n_mentions"),
          coalesce(col("n_ancestors"), lit(0L)).as("n_ancestors"),
          coalesce(col("n_mappings"), lit(0L)).as("n_mappings"))
    }),

    // TRANSITIVE REDUCTION verdicts — ontology-release hygiene: an is-a
    // edge (u, v) is REDUNDANT when some other out-edge (u, w) already
    // reaches v through the closure (the diamond shortcut a careless release
    // adds; fixture: edgesDelta's C006→C000 is implied by C006→C001→C000).
    // One broadcast edges⋈edges probe into the closure — the edge table is
    // ontology-scale; the corpus is never touched.
    "kg_transitive_reduction" -> ((s, dir) => {
      val e = OntologyFixture.edgesDf(s)
        .unionByName(OntologyFixture.edgesDeltaDf(s)).distinct()
      val cl = graph.Closure.transitiveClosure(e, maxLevel = 5)
      val viaSibling = e.select(col("child_iri"), col("parent_iri").as("w"))
        .join(cl.select(col("child").as("w"), col("ancestor")),
          Seq("w"))
        .select(col("child_iri"), col("ancestor").as("parent_iri"))
        .distinct().withColumn("red", lit(true))
      e.join(viaSibling, Seq("child_iri", "parent_iri"), "left")
        .select(col("child_iri"), col("parent_iri"),
          coalesce(col("red"), lit(false)).as("redundant"))
    }),

    // owl:sameAs identity closure — KG identity resolution: the mapping
    // edges (CUI + LOOM, both directions) form sameAs cliques across
    // ontologies; connected components over that TINY graph yield the
    // canonical representative (min IRI) every fact table can join through.
    // The entity-resolution step between mapping derivation and triple
    // canonicalization.
    "kg_sameas_closure" -> ((s, dir) =>
      graft.graph.KgGraph.connectedComponents(
          OntologyFixture.mappingsDf(s)
            .select(col("class_iri").as("src"), col("mapped_iri").as("dst")))
        .select(col("class_iri"), col("component").as("canonical_iri"))),

    // incremental closure maintenance: the ontology-release edge delta
    // (fixture edgesDelta: bridge + chained new edge + distance-improving
    // shortcut) grafted onto the precomputed v1 closure by semi-naive
    // composition — result == a cold closure rebuild over edges ∪ delta,
    // which is exactly what the oracle recomputes recursively
    "kg_closure_delta" -> ((s, dir) => {
      // v1 closure comes from the session cache (the operator's premise:
      // the old closure is PRECOMPUTED state, not work the delta pays for)
      graph.Closure.deltaClosure(OntologyFixture.edgesDf(s),
          OntologyFixture.edgesDeltaDf(s), MaxLevel, oldClosure = closure(s))
        .select(col("child").as("child_iri"), col("ancestor").as("ancestor_iri"),
          col("distance").cast("int").as("distance"))
    }),

    // open (non-taxonomic) relation extraction: verb-frame surface matches
    // resolved to concept pairs through the dictionary, support-counted —
    // the arbitrary-predicate KG edges Hearst's is-a mining cannot produce
    "kg_openre" -> ((s, dir) => {
      val rels = graft.ops.Relations.openRelations(
        graft.ops.Relations.withRelSentences(docsTable(s, dir)))
      val dict = DictBuild.flatDict(DictBuild.build(
          DictBuild.labelRows(OntologyFixture.conceptsDf(s))))
        .select(col("term"), col("class_iri")).distinct()
      rels
        .join(broadcast(dict.select(col("term").as("s_t"),
          col("class_iri").as("subj_iri"))),
          upper(col("subj_surface")) === col("s_t"))
        .join(broadcast(dict.select(col("term").as("o_t"),
          col("class_iri").as("obj_iri"))),
          upper(col("obj_surface")) === col("o_t"))
        .filter(col("subj_iri") =!= col("obj_iri"))
        .groupBy("subj_iri", "rel", "obj_iri")
        .agg(count_distinct(col("doc_id")).as("n_docs"))
    }),

    // relation schema induction: per extracted relation, the modal
    // subject/object semantic type (domain/range) with its observation
    // share — the KG-curation relation-typing pass over the openre facts
    "kg_schema_induction" -> ((s, dir) => {
      val rels = graft.ops.Relations.openRelations(
        graft.ops.Relations.withRelSentences(docsTable(s, dir)))
      val dict = DictBuild.flatDict(DictBuild.build(
          DictBuild.labelRows(OntologyFixture.conceptsDf(s))))
        .select(col("term"), col("class_iri")).distinct()
      val facts = rels
        .join(broadcast(dict.select(col("term").as("s_t"),
          col("class_iri").as("subj_iri"))),
          upper(col("subj_surface")) === col("s_t"))
        .join(broadcast(dict.select(col("term").as("o_t"),
          col("class_iri").as("obj_iri"))),
          upper(col("obj_surface")) === col("o_t"))
        .filter(col("subj_iri") =!= col("obj_iri"))
        .select("subj_iri", "rel", "obj_iri")
      val tuis = OntologyFixture.conceptsDf(s)
        .select(col("class_iri"), explode(col("tuis")).as("tui"))
      graft.ops.Relations.schemaInduction(facts, tuis)
    }),

    // filtered negative sampling over the hasAnnotation fact set — the
    // KG-embedding training-data op (deterministic hash-indexed corruption)
    "kg_negatives" -> ((s, dir) =>
      graft.ops.Relations.negatives(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj"))
          .distinct())),

    // one full-batch TransE gradient step over the hasAnnotation fact set:
    // hash-init embeddings, margin loss vs the filtered negatives, gradient
    // as keyed aggs, SGD update, re-eval — loss_after < loss_before is the
    // "it learns" gate (asserted in KgGraphSpec)
    "kg_transe_step" -> ((s, dir) =>
      graft.ops.KgEmbed.transeStep(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")))),

    // link-prediction ranking eval at the deterministic init (filtered
    // local-candidate protocol): per-pred MRR + hits@1 — the KG-embedding
    // QA gate next to the training step
    "kg_transe_rank" -> ((s, dir) =>
      graft.ops.KgEmbed.transeRank(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")))),

    // the init ranking eval over TYPE-CONSTRAINED corruptions (Krompaß
    // ISWC'15 — same-semantic-type negatives are the HARD ones): read
    // against kg_transe_rank to decompose how much of the score is mere
    // type discrimination
    "kg_transe_rank_typed" -> ((s, dir) =>
      graft.ops.KgEmbed.transeRankTyped(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")),
        OntologyFixture.conceptsDf(s).select(col("class_iri").as("obj"),
          explode(col("tuis")).as("tui")))),

    // the same ranking eval AFTER 2 training epochs: mrr/hits@1 must beat
    // the init reading — the train→eval loop closed as driver-visible data
    "kg_transe_rank_trained" -> ((s, dir) =>
      graft.ops.KgEmbed.transeRank(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")),
        epochs = 2)),

    // DistMult ranking eval at the same init/negatives/protocol: the
    // diagonal-bilinear scorer (higher = better, ties against) swapped in
    // behind the shared eval machinery — the scorer-seam demonstration
    // next to the additive TransE reading
    "kg_distmult_rank" -> ((s, dir) =>
      graft.ops.KgEmbed.distmultRank(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")))),

    // ComplEx ranking eval — the complex-bilinear scorer (Trouillon 2016)
    // that fixes DistMult's (h,t) symmetry, completing the standard scorer
    // trio behind the one shared negatives/init/ranking seam; the Dim-wide
    // embedding packs Dim/2 complex dims (first half re, second half im)
    "kg_complex_rank" -> ((s, dir) =>
      graft.ops.KgEmbed.complexRank(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")))),

    // RotatE ranking eval — relations as unit-modulus complex ROTATIONS
    // (Sun 2019), via the rational Weierstrass form (transcendental-free:
    // bit-exact cross-engine); completes the scorer quartet on the seam
    "kg_rotate_rank" -> ((s, dir) =>
      graft.ops.KgEmbed.rotateRank(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")))),

    // the TRAINING LOOP: 2 degree-normalized full-batch epochs, per-epoch
    // mean-loss trajectory (epoch 0 = hash init) — each epoch's embedding
    // table pinned so plan depth is constant in epochs
    "kg_transe_epochs" -> ((s, dir) =>
      graft.ops.KgEmbed.transeEpochs(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")),
        epochs = 2)),

    // the trained artifact USED: each concept's 3 nearest neighbors in the
    // 2-epoch embedding space (exact retrieval — the ontology-scale concept
    // table broadcasts against itself; beyond ~10^6 vocab the bucketed ANN
    // tier takes over)
    "kg_embed_neighbors" -> ((s, dir) =>
      graft.ops.KgEmbed.conceptNeighbors(
        matchesPar(s, dir).select(col("url").as("subj"),
          lit("hasAnnotation").as("pred"), col("class_iri").as("obj")),
        epochs = 2, k = 3)),

    // dict-release fact churn: the (subj, pred, obj) diff between ontology
    // versions v1 → v2 — the per-release maintenance view of the KG. v2
    // comes via the shared incrementalV1V2 path (proven == full recompute
    // by ann_incremental), so this also end-to-end-exercises the
    // production update flow. v1 is pinned in the helper; v2 pinned here
    // (both diff legs read it). The diff itself is the crawlDiff shape:
    // set EXCEPTs on short triple keys.
    // diff as ONE tagged union + one triple-keyed aggregation: the former
    // two EXCEPTs each shuffled BOTH triple sets (4 exchanges + a second
    // full read of each leg); membership flags meet in a single exchange
    // and the v2 pin becomes unnecessary (each leg is now read once).
    // Same set semantics: EXCEPT is distinct-rows-not-in-other, which is
    // exactly the flag disagreement on the grouped triple key.
    "kg_fact_diff" -> ((s, dir) => {
      val (v1T, v2T) = incrementalV1V2(s, dir)
      val tagged = v1T.select(col("subj"), col("pred"), col("obj"),
          lit(1).as("s1"), lit(0).as("s2"))
        .unionAll(v2T.select(col("subj"), col("pred"), col("obj"),
          lit(0).as("s1"), lit(1).as("s2")))
        .groupBy("subj", "pred", "obj")
        .agg(max(col("s1")).as("in1"), max(col("s2")).as("in2"))
      tagged.filter(col("in1") =!= col("in2"))
        .select(col("subj"), col("pred"), col("obj"),
          when(col("in1") === 1, lit("removed")).otherwise(lit("added"))
            .as("delta"))
    }),

    // Knowledge Vault-style fact fusion: the SAME (page, concept) fact from
    // three independent extractors — page-text annotation, lemmatized
    // annotation, incoming anchor-text linking — noisy-OR'd over the
    // per-extractor precision priors (Relations.ExtractorPriors is the
    // single source shared with the oracle literals)
    "kg_triple_confidence" -> ((s, dir) =>
      graft.ops.Relations.tripleConfidence(extractionEvidence(s, dir))),

    // functional-property truth discovery over the same 3-extractor evidence:
    // one winning concept per page + the winner-vs-runner-up margin — the
    // "send contested pages to review" curation signal (Knowledge Vault shape)
    "kg_fact_fusion" -> ((s, dir) =>
      graft.ops.Relations.factFusion(extractionEvidence(s, dir))),

    // fusion-vs-published audit: fused candidate facts bucketed by decile
    // confidence vs membership in the published KG (the direct extractor's
    // canonical set) — the triage view for promoting high-confidence
    // UNPUBLISHED facts; explicitly not a calibration curve (no external
    // truth exists in-sandbox; the in-KG rate is partly tautological)
    "kg_fusion_audit" -> ((s, dir) => {
      val ev = extractionEvidence(s, dir)
      graft.ops.Relations.fusionAudit(ev,
        ev.filter(col("extractor") === "direct"))
    }),

    // TruthFinder-style iterative source reliability (Yin, Han & Yu 2008):
    // per-extractor trust LEARNED from claim overlap via the trust <->
    // confidence mutual recursion (2 rounds, exact micro-unit arithmetic)
    // instead of the hand-set ExtractorPriors — the prior-free complement
    // of kg_triple_confidence. Corpus-scale work is ONE fact-flag agg;
    // rounds iterate on the <= 7-row source-set signature table, so
    // per-round cost is independent of corpus size
    "kg_truthfinder" -> ((s, dir) =>
      graft.ops.Relations.truthFinder(extractionEvidence(s, dir))),

    // the learned per-extractor trust table + claim counts — the release
    // sanity check against the hand-set priors (does the iteration rank
    // direct > lemma > anchor the way the priors assumed?)
    "kg_source_trust" -> ((s, dir) =>
      graft.ops.Relations.truthFinderTrust(extractionEvidence(s, dir))),

    // ---- KG publication tier (round-4 fourth continuation) -------------,

    // SPARQL CONSTRUCT over the star BGP: solutions of the kg_bgp_star
    // pattern projected through the template { ?c coMentionedWith ?m } —
    // the graph-to-graph step that MINTS new triples from matched patterns;
    // CONSTRUCT's set semantics make the final DISTINCT part of the spec
    "kg_construct_rule" -> ((s, dir) =>
      graft.ops.KgPublish.construct(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        closure(s).filter(col("ancestor") === graft.ops.KgQuality.bgpRoot)
          .select(col("child").as("c")))),

    // SPARQL property path (hasAnnotation|hasMappedAnnotation)/subClassOf*
    // to the bgpRoot: alternation = one IN-filtered scan, subClassOf* =
    // broadcast {root} ∪ descendants semi-join — path evaluation folded
    // into one pruned scan, never an iterative corpus expansion
    "kg_path_query" -> ((s, dir) =>
      graft.ops.KgPublish.pathQuery(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        closure(s), graft.ops.KgQuality.bgpRoot)),

    // HDT-style dictionary-encoded store: shared term dictionary (dense
    // deterministic ids, the D6 two-pass form), triples as three ints +
    // the decoded terms in the same frame — the publication layout whose
    // downstream shuffles move 8-byte ints, not 20–80-byte IRIs
    "kg_encoded_store" -> ((s, dir) =>
      graft.ops.KgPublish.encodeTriples(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"))),

    // W3C VoID dataset descriptor: dataset-level + per-predicate partition
    // counts emitted AS RDF rows — the standard dataset card published
    // next to the dump
    "kg_void_stats" -> ((s, dir) =>
      graft.ops.KgPublish.voidStats(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        "http://graft.kg/dataset#v1")),

    // PROV-O provenance bundle: crawl-batch named graphs as prov:Entity
    // with wasGeneratedBy/used/tripleCount — the deterministic twin of the
    // pipeline's per-partition lineage rows, recomputable by the oracle
    "kg_prov_bundle" -> ((s, dir) =>
      graft.ops.KgPublish.provBundle(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        "v1")),

    // RDF statement reification: each fact becomes a content-addressed
    // statement node carrying rdf:subject/predicate/object + a dictionary-
    // snapshot derivation qualifier — the per-STATEMENT qualifier carrier
    // next to kg_prov_bundle's batch-level lineage; map-only 5-way explode
    "kg_reify" -> ((s, dir) =>
      graft.ops.KgPublish.reify(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        "v1")),

    // OWL-Horst (pD*) entailment subset: rdfp8 inverseOf over the direct
    // leg (map-only on the corpus slice), rdfp3 symmetric mappings and
    // rdfp4 transitive subClassOf from the ontology-scale sides, each row
    // tagged with its rule
    "kg_owl_horst" -> ((s, dir) =>
      graft.ops.KgPublish.owlHorst(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        OntologyFixture.mappingsDf(s), closure(s))),

    // SHACL-lite validation report over the constructed KG: sh:maxCount
    // (hub pages over the direct-annotation cap), sh:minCount (documents
    // with no cross-ontology mapped annotation), plus two checked NEGATIVE
    // controls (sh:class dangling expanded objects, sh:pattern subject
    // IRIs) — the shape gate an ontology-release pipeline runs before
    // publishing a triple batch
    "kg_shacl_report" -> ((s, dir) =>
      graft.ops.KgQuality.shaclReport(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        OntologyFixture.conceptsDf(s).select("class_iri"))),

    // RDFS entailment materialization: rdfs2/rdfs3 domain-range typing of
    // every triple's endpoints + rdfs9 subclass lift through a two-level
    // type schema — the typed A-Box KG consumers filter on
    "kg_rdfs_types" -> ((s, dir) =>
      graft.ops.KgQuality.rdfsTypes(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"))),

    // SPARQL basic graph pattern over the triple store:
    //   ?d hasAnnotation ?c . ?d hasMappedAnnotation ?m . ?c rdfs:subClassOf+ C001
    // — the star-join a KG query engine answers: the closure-derived
    // descendant set broadcasts (ontology-scale), the triple table
    // self-joins on subj (its sink partition key)
    "kg_bgp_star" -> ((s, dir) => {
      val t = graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj")
      val directLeg = t.filter(col("pred") === graft.Pred.Direct)
        .select(col("subj").as("d"), col("obj").as("c"))
      val mappedLeg = t.filter(col("pred") === graft.Pred.Mapped)
        .select(col("subj").as("d"), col("obj").as("m"))
      val desc = closure(s).filter(col("ancestor") === graft.ops.KgQuality.bgpRoot)
        .select(col("child").as("c"))
      directLeg.join(broadcast(desc), "c").join(mappedLeg, "d")
        .select("d", "c", "m").distinct()
    }),

    // SPARQL OPTIONAL over the same star pattern: the mapped-annotation leg
    // becomes a LEFT join (SPARQL's defining left-join semantics — rows
    // survive with m = NULL when the optional pattern has no solution),
    // same broadcast descendant-set pushdown as kg_bgp_star
    "kg_bgp_optional" -> ((s, dir) => {
      val t = graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select("subj", "pred", "obj")
      val directLeg = t.filter(col("pred") === graft.Pred.Direct)
        .select(col("subj").as("d"), col("obj").as("c"))
      val mappedLeg = t.filter(col("pred") === graft.Pred.Mapped)
        .select(col("subj").as("d"), col("obj").as("m"))
      val desc = closure(s).filter(col("ancestor") === graft.ops.KgQuality.bgpRoot)
        .select(col("child").as("c"))
      directLeg.join(broadcast(desc), "c").join(mappedLeg, Seq("d"), "left")
        .select("d", "c", "m").distinct()
    }),

    // AMIE-style chain-rule mining over the KB (triples ∪ subClassOf ∪
    // mappedTo): support / head coverage / std + PCA confidence per
    // (p1, p2 ⇒ head) — the pipeline's own expansion semantics must
    // re-emerge as confidence-1.0 rules (asserted in KgQualitySpec)
    "kg_rule_mine" -> ((s, dir) =>
      graft.ops.RuleMine.mineRules(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        OntologyFixture.edgesDf(s), OntologyFixture.mappingsDf(s))),

    // KB completion from the mined rules: instantiate every rule with
    // pca_conf ≥ the floor over the same body pairs, anti-join out facts
    // already in the KB — the expansions the pipeline does NOT perform
    // (ancestors of mapped concepts) surface here as ranked candidates
    "kg_rule_infer" -> ((s, dir) =>
      graft.ops.RuleMine.inferTriples(
        graft.annotate.NativeAnnotate
          .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
          .select("subj", "pred", "obj"),
        OntologyFixture.edgesDf(s), OntologyFixture.mappingsDf(s))),

    // typed-literal facts: ISO dates + unit quantities → xsd-typed triple
    // rows (injected-literal synthesis, 3/4 of docs negative controls)
    "kg_literals" -> ((s, dir) =>
      graft.ops.Relations.literalFacts(
        graft.ops.Relations.withLiterals(docsTable(s, dir)))),
  )

  val oracles: Seq[(String, String)] = Seq(
    // mapping table joined twice against the dict class universe; coverage
    // division order mirrored, 6dp
    "kg_ontology_overlap" ->
      s"""WITH $dictCte, $mappingsCte,
          cls AS (SELECT DISTINCT class_iri, ont FROM dict),
          sizes AS (SELECT ont, CAST(COUNT(DISTINCT class_iri) AS BIGINT) AS n
                    FROM cls GROUP BY 1),
          mp AS (SELECT DISTINCT ca.ont AS ont_a, cb.ont AS ont_b,
                   m.class_iri, m.mapped_iri
                 FROM maps m
                 JOIN cls ca ON m.class_iri = ca.class_iri
                 JOIN cls cb ON m.mapped_iri = cb.class_iri
                 WHERE ca.ont < cb.ont),
          agg AS (SELECT ont_a, ont_b,
                    CAST(COUNT(*) AS BIGINT) AS n_mapped_pairs,
                    CAST(COUNT(DISTINCT class_iri) AS BIGINT) AS n_classes_a,
                    CAST(COUNT(DISTINCT mapped_iri) AS BIGINT) AS n_classes_b
                  FROM mp GROUP BY 1, 2)
          SELECT agg.ont_a, agg.ont_b, n_mapped_pairs, n_classes_a,
                 n_classes_b,
                 ROUND(n_classes_a / sa.n, 6) AS coverage_a,
                 ROUND(n_classes_b / sb.n, 6) AS coverage_b
          FROM agg
          JOIN sizes sa ON sa.ont = agg.ont_a
          JOIN sizes sb ON sb.ont = agg.ont_b""",

    // semantic-profile pairs: direct ∪ ancestor concepts per doc, capped
    // posting self-join (the jaccard oracle shape on the semantic space)
    "kg_related_docs" ->
      s"""WITH RECURSIVE $dictCte, $directCte, $edgesCte, $closureCte,
          d AS (SELECT DISTINCT url, class_iri FROM direct),
          prof AS (SELECT DISTINCT url, sem FROM (
              SELECT url, class_iri AS sem FROM d
              UNION ALL
              SELECT d.url, c.ancestor_iri AS sem
              FROM d JOIN closure c ON d.class_iri = c.child_iri)),
          sizes AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_sem
                    FROM prof GROUP BY 1),
          keep AS (SELECT sem FROM prof GROUP BY sem
                   HAVING COUNT(DISTINCT url) BETWEEN 2 AND 100),
          rare AS (SELECT prof.url, prof.sem FROM prof JOIN keep USING (sem)),
          inter AS (SELECT a.url AS doc_a, b.url AS doc_b,
                      CAST(COUNT(*) AS BIGINT) AS n_shared
                    FROM rare a JOIN rare b
                      ON a.sem = b.sem AND a.url < b.url
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, n_shared, sa.n_sem AS size_a,
                 sb.n_sem AS size_b,
                 ROUND(n_shared / (sa.n_sem + sb.n_sem - n_shared), 4)
                   AS sem_jaccard
          FROM inter
          JOIN sizes sa ON sa.url = doc_a
          JOIN sizes sb ON sb.url = doc_b
          WHERE n_shared >= 3""",

    // first-mention offsets recovered from regexp-split segment lengths
    // (the ann_context machinery); counts == the ann_counts contract
    "kg_salience" ->
      s"""WITH $dictCte,
          segs AS (SELECT doc_id, text, d.class_iri, length(d.term) AS tl,
              regexp_split_to_array(upper(text), '\\b' || d.term || '\\b') AS parts
            FROM documents, dict d),
          pos AS (SELECT doc_id, text, class_iri, tl, parts,
              unnest(generate_series(1, len(parts) - 1)) AS k
            FROM segs WHERE len(parts) > 1),
          hits AS (SELECT doc_id, text, class_iri,
              CAST((SELECT COALESCE(SUM(length(p)), 0)
                    FROM unnest(parts[1:k]) AS t(p))
                + (k - 1) * tl + 1 AS BIGINT) AS f
            FROM pos)
          SELECT 'doc://' || doc_id AS url, class_iri,
            COUNT(*) AS n_mentions, CAST(MIN(f) AS INT) AS first_pos,
            ROUND(CAST(1.0 AS DOUBLE) - CAST(MIN(f) - 1 AS DOUBLE)
              / CAST(MAX(length(text)) AS DOUBLE), 6) AS lead_score
          FROM hits GROUP BY 1, 2""",

    // same corruption arithmetic: portable 60-bit md5 hash of
    // 'subj|pred|obj|slot' mod |entity pool|, dense entity ids by ORDER BY
    // (ASCII IRIs: binary collation agrees across engines)
    "kg_negatives" ->
      s"""WITH $dictCte, $directCte, $negativesChainCtes
          SELECT subj, pred, obj, slot, neg_obj FROM neg""",

    "kg_transe_step" -> transeStepOracleSql,

    "kg_transe_rank" -> transeRankOracleSql(),

    "kg_transe_rank_typed" -> transeRankTypedOracleSql,

    "kg_transe_rank_trained" -> transeRankOracleSql(epochs = 2),

    "kg_distmult_rank" -> distmultRankOracleSql,

    "kg_complex_rank" -> complexRankOracleSql,

    "kg_rotate_rank" -> rotateRankOracleSql,

    "kg_transe_epochs" -> transeEpochsOracleSql(epochs = 2),

    "kg_embed_neighbors" -> embedNeighborsOracleSql(epochs = 2, k = 3),

    // BOTH dictionary versions ride one version-tagged dict CTE (the two
    // fixed-name dict/direct CTEs cannot coexist), then the same three
    // triple legs as ann_incremental carry the tag into two EXCEPT legs
    "kg_fact_diff" ->
      s"""WITH RECURSIVE
          dict(v, term, class_iri, ont, pref) AS (
            SELECT 'v1', * FROM (VALUES ${OntologyFixture.dictValues}) x(a,b,c,d)
            UNION ALL
            SELECT 'v2', * FROM (VALUES ${OntologyFixture.dictValuesV2}) x(a,b,c,d)),
          $edgesCte, $mappingsCte, $closureCte,
          directv AS (SELECT DISTINCT d.v, 'doc://' || doc_id AS url, d.class_iri
            FROM documents, dict d
            WHERE regexp_matches(upper(text), '\\b' || d.term || '\\b')),
          trip AS (
            SELECT v, url AS subj, 'hasAnnotation' AS pred, class_iri AS obj
            FROM directv
            UNION
            SELECT dr.v, dr.url AS subj, 'hasExpandedAnnotation' AS pred,
                   cl.ancestor_iri AS obj
            FROM directv dr JOIN closure cl ON dr.class_iri = cl.child_iri
            UNION
            SELECT dr.v, dr.url AS subj, 'hasMappedAnnotation' AS pred,
                   m.mapped_iri AS obj
            FROM directv dr JOIN maps m ON dr.class_iri = m.class_iri)
          SELECT subj, pred, obj, 'removed' AS delta FROM
            (SELECT subj, pred, obj FROM trip WHERE v = 'v1'
             EXCEPT SELECT subj, pred, obj FROM trip WHERE v = 'v2')
          UNION ALL
          SELECT subj, pred, obj, 'added' AS delta FROM
            (SELECT subj, pred, obj FROM trip WHERE v = 'v2'
             EXCEPT SELECT subj, pred, obj FROM trip WHERE v = 'v1')""",

    "kg_curated_triples" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte,
          keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
          q AS (SELECT doc_id, $qualityExprSql AS quality
            FROM documents),
          cdocs AS (SELECT d.doc_id, d.text FROM documents d
                    JOIN keep ON d.doc_id = keep.doc_id
                    JOIN q ON d.doc_id = q.doc_id WHERE q.quality >= 0.5),
          direct AS (SELECT DISTINCT 'doc://' || doc_id AS url, dd.class_iri
                     FROM cdocs, dict dd
                     WHERE regexp_matches(upper(text), '\\b' || dd.term || '\\b')),
          $closureCte
          SELECT url AS subj, 'hasAnnotation' AS pred, class_iri AS obj FROM direct
          UNION
          SELECT dr.url AS subj, 'hasExpandedAnnotation' AS pred, cl.ancestor_iri AS obj
          FROM direct dr JOIN closure cl ON dr.class_iri = cl.child_iri
          UNION
          SELECT dr.url AS subj, 'hasMappedAnnotation' AS pred, m.mapped_iri AS obj
          FROM direct dr JOIN maps m ON dr.class_iri = m.class_iri""",

    // co-occurrence graph over the direct annotations (pairs-per-doc, a<b).
    // The Spark side's maxPerDoc skew cap (1000) is not modeled here: no
    // fixture doc approaches it, so the oracle proves the UNCAPPED
    // semantics; the cap behavior is unit-tested in KgGraphSpec.
    "kg_cooccur" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct)
          SELECT a.class_iri AS src, b.class_iri AS dst,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM pairs a JOIN pairs b
            ON a.url = b.url AND a.class_iri < b.class_iri
          GROUP BY 1, 2""",

    // every occurrence offset recovered from regexp-split segment lengths
    // (the kg_salience machinery, with the term length carried so the
    // window end is exact); same clipping arithmetic
    // coref twin: token-space mention spans (n-gram equality against the
    // dict — boundary-equivalent to the engine on this single-space
    // corpus), antecedent = MAX mention end before each pronoun, ambiguous
    // nearest mentions fan out through the second cments join
    "kg_coref" ->
      s"""WITH $dictCte,
          ${graft.ops.Relations.corefCtesSql},
          maxe AS (SELECT pr.url, pr.p, MAX(m.endp) AS endp
                   FROM cprons pr JOIN cments m
                     ON m.url = pr.url AND m.endp < pr.p
                   GROUP BY 1, 2)
          SELECT x.url AS subj, '${graft.ops.Relations.CorefPred}' AS pred,
            m.class_iri AS obj,
            CAST(COUNT(DISTINCT x.p) AS BIGINT) AS n_pronouns
          FROM maxe x JOIN cments m ON m.url = x.url AND m.endp = x.endp
          GROUP BY 1, 2, 3""",

    "kg_mention_contexts" ->
      s"""WITH $dictCte,
          segs AS (SELECT doc_id, text, d.class_iri, length(d.term) AS tl,
              regexp_split_to_array(upper(text), '\\b' || d.term || '\\b') AS parts
            FROM documents, dict d),
          pos AS (SELECT doc_id, text, class_iri, tl, parts,
              unnest(generate_series(1, len(parts) - 1)) AS k
            FROM segs WHERE len(parts) > 1),
          hits AS (SELECT doc_id, text, class_iri, tl,
              CAST((SELECT COALESCE(SUM(length(p)), 0)
                    FROM unnest(parts[1:k]) AS t(p))
                + (k - 1) * tl + 1 AS BIGINT) AS f
            FROM pos)
          SELECT DISTINCT 'doc://' || doc_id AS url, class_iri,
            CAST(f AS INT) AS mention_from,
            substr(text, CAST(GREATEST(1, f - 30) AS BIGINT),
              CAST((f + tl - 1 + 30) - GREATEST(1, f - 30) + 1 AS BIGINT)) AS context
          FROM hits""",

    // cooc-with-counts chain + the type VALUES, unordered type pairs via
    // LEAST/GREATEST (the engine's least/greatest twin)
    "kg_type_graph" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                     COUNT(*) AS n_docs
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri
                   GROUP BY 1, 2),
          tt(class_iri, tui) AS (
            SELECT * FROM (VALUES ${OntologyFixture.tuisValues}) v(a, b)),
          j AS (SELECT LEAST(ta.tui, tb.tui) AS tui_a,
                  GREATEST(ta.tui, tb.tui) AS tui_b, c.n_docs
                FROM cooc c
                JOIN tt ta ON ta.class_iri = c.src
                JOIN tt tb ON tb.class_iri = c.dst)
          SELECT tui_a, tui_b, CAST(SUM(n_docs) AS BIGINT) AS edge_mass,
            COUNT(*) AS n_pairs
          FROM j GROUP BY 1, 2""",

    "kg_degree" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                          COUNT(*) AS n_docs
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri
                   GROUP BY 1, 2),
          und AS (SELECT src AS class_iri, n_docs FROM cooc
                  UNION ALL SELECT dst, n_docs FROM cooc)
          SELECT class_iri, CAST(COUNT(*) AS BIGINT) AS degree,
                 CAST(SUM(n_docs) AS BIGINT) AS weight
          FROM und GROUP BY 1""",

    // component label = MIN(class_iri) reachable — the declarative twin of
    // the engine's iterative min-label propagation (undirected closure via
    // recursive CTE, then per-node min over self + reachable)
    "kg_components" ->
      s"""WITH RECURSIVE $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          und AS (SELECT src AS a, dst AS b FROM cooc
                  UNION SELECT dst, src FROM cooc),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
          SELECT a AS class_iri, LEAST(a, MIN(b)) AS component
          FROM reach GROUP BY a""",

    // same recursive reach chain rolled up to the size histogram; the node
    // total rides along as a 1-row scalar (division order mirrored, 6dp)
    "kg_component_sizes" ->
      s"""WITH RECURSIVE $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          und AS (SELECT src AS a, dst AS b FROM cooc
                  UNION SELECT dst, src FROM cooc),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
          comp AS (SELECT a AS class_iri, LEAST(a, MIN(b)) AS component
                   FROM reach GROUP BY a),
          sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS size
                 FROM comp GROUP BY 1),
          dist AS (SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components
                   FROM sz GROUP BY 1),
          tot AS (SELECT CAST(SUM(size) AS DOUBLE) AS n_nodes FROM sz)
          SELECT size, n_components,
                 ROUND(size * n_components / n_nodes, 6) AS node_fraction
          FROM dist, tot""",

    // degree chain + triangle wedge chain LEFT-joined; cc division order
    // (2·tri first, then the integer deg·(deg−1) denominator) mirrored, 6dp
    "kg_clustering" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          degt AS (SELECT class_iri, CAST(COUNT(*) AS BIGINT) AS degree
                   FROM (SELECT src AS class_iri FROM cooc
                         UNION ALL SELECT dst FROM cooc) GROUP BY 1),
          tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                  FROM cooc e1
                  JOIN cooc e2 ON e1.src = e2.src AND e1.dst < e2.dst
                  JOIN cooc e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
          tcnt AS (SELECT class_iri, CAST(COUNT(*) AS BIGINT) AS n_triangles
                   FROM (SELECT a AS class_iri FROM tri
                         UNION ALL SELECT b FROM tri
                         UNION ALL SELECT c FROM tri) GROUP BY 1)
          SELECT d.class_iri, d.degree,
                 COALESCE(t.n_triangles, 0) AS n_triangles,
                 CASE WHEN d.degree >= 2
                   THEN ROUND(2.0 * COALESCE(t.n_triangles, 0)
                          / (d.degree * (d.degree - 1)), 6)
                   ELSE 0.0 END AS local_cc
          FROM degt d LEFT JOIN tcnt t USING (class_iri)""",

    // exact integer moments (n, Σk, Σk², Σkxky) over both orientations,
    // then the Pearson r in the engine's division order; zero variance → 0
    "kg_assortativity" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS k
                  FROM (SELECT src AS node FROM cooc
                        UNION ALL SELECT dst FROM cooc) GROUP BY 1),
          orient AS (SELECT src, dst FROM cooc
                     UNION ALL SELECT dst AS src, src AS dst FROM cooc),
          jj AS (SELECT dx.k AS kx, dy.k AS ky
                 FROM orient o
                 JOIN deg dx ON o.src = dx.node
                 JOIN deg dy ON o.dst = dy.node),
          agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(kx) AS BIGINT) AS sx,
                    CAST(SUM(kx * kx) AS BIGINT) AS sxx,
                    CAST(SUM(kx * ky) AS BIGINT) AS sxy FROM jj)
          SELECT n AS n_endpoints,
                 CASE WHEN (sxx / n - POW(sx / n, 2.0)) = 0.0 THEN 0.0
                   ELSE ROUND((sxy / n - POW(sx / n, 2.0))
                          / (sxx / n - POW(sx / n, 2.0)), 6) END
                   AS assortativity
          FROM agg""",

    // each leg recomputed from its audited oracle chain (dict universe,
    // occurrence counts, min-distance closure, mapping VALUES), LEFT-joined
    // with zero coalesces
    "kg_concept_profile" ->
      s"""WITH RECURSIVE $dictCte, $directCte, $cntsCte, $edgesCte, $closureCte, $mappingsCte,
          uni AS (SELECT class_iri, ont, COUNT(DISTINCT term) AS n_terms
                  FROM dict GROUP BY 1, 2),
          md AS (SELECT class_iri, COUNT(DISTINCT url) AS n_docs
                 FROM direct GROUP BY 1),
          mm AS (SELECT class_iri, CAST(SUM(cnt) AS BIGINT) AS n_mentions
                 FROM cnts WHERE cnt > 0 GROUP BY 1),
          anc AS (SELECT child_iri AS class_iri,
                    COUNT(DISTINCT ancestor_iri) AS n_ancestors
                  FROM closure GROUP BY 1),
          mp AS (SELECT class_iri, COUNT(*) AS n_mappings FROM maps GROUP BY 1)
          SELECT uni.class_iri, uni.ont, uni.n_terms,
            COALESCE(md.n_docs, 0) AS n_docs,
            COALESCE(mm.n_mentions, 0) AS n_mentions,
            COALESCE(anc.n_ancestors, 0) AS n_ancestors,
            COALESCE(mp.n_mappings, 0) AS n_mappings
          FROM uni
          LEFT JOIN md ON md.class_iri = uni.class_iri
          LEFT JOIN mm ON mm.class_iri = uni.class_iri
          LEFT JOIN anc ON anc.class_iri = uni.class_iri
          LEFT JOIN mp ON mp.class_iri = uni.class_iri""",

    // redundant = reachable through a sibling out-edge's closure (same ≤5
    // depth cap both sides)
    "kg_transitive_reduction" ->
      s"""WITH RECURSIVE edges(child_iri, parent_iri) AS (
            SELECT DISTINCT * FROM (
              SELECT * FROM (VALUES ${OntologyFixture.edgesValues}) v(a, b)
              UNION ALL
              SELECT * FROM (VALUES ${OntologyFixture.edgesDeltaValues}) w(a, b)) z),
          $closureCte,
          via AS (SELECT DISTINCT e.child_iri, c.ancestor_iri AS parent_iri
                  FROM edges e JOIN closure c ON c.child_iri = e.parent_iri)
          SELECT e.child_iri, e.parent_iri,
            (v.child_iri IS NOT NULL) AS redundant
          FROM edges e LEFT JOIN via v
            ON v.child_iri = e.child_iri AND v.parent_iri = e.parent_iri""",

    // recursive mutual-reachability over the symmetrized mapping edges,
    // canonical = min IRI of the clique (the components-oracle shape over
    // the mappings VALUES)
    "kg_sameas_closure" ->
      s"""WITH RECURSIVE $mappingsCte,
          und AS (SELECT class_iri AS a, mapped_iri AS b FROM maps
                  UNION SELECT mapped_iri, class_iri FROM maps),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
          SELECT a AS class_iri, LEAST(a, MIN(b)) AS canonical_iri
          FROM reach GROUP BY a""",

    // same snapshot synthesis + the regex twin of the direct scan, per
    // snapshot; survival = last fact epoch equals the doc's last capture
    // gaps-and-islands twin: island key = visit − row_number per fact;
    // half-split and epoch arithmetic shared with the kg_fact_history pair
    "kg_fact_intervals" ->
      s"""WITH $dictCte,
          hist AS (SELECT doc_id, v.visit,
              CASE WHEN v.visit % 2 = 0 THEN text
                   ELSE array_to_string(l[1:(len(l) + 1) // 2], ' ') END AS text
            FROM (SELECT doc_id, text, string_split(text, ' ') AS l
                  FROM documents) z,
              (SELECT unnest(generate_series(0, ${FactVisits - 1})) AS visit) v),
          f AS (SELECT DISTINCT h.doc_id, h.visit, d.class_iri
                FROM hist h, dict d
                WHERE regexp_matches(upper(h.text), '\\b' || d.term || '\\b')),
          isl AS (SELECT doc_id, class_iri, visit,
              visit - ROW_NUMBER() OVER (PARTITION BY doc_id, class_iri
                                         ORDER BY visit) AS island
            FROM f)
          SELECT 'doc://' || doc_id AS subj, class_iri AS obj,
            1700000000 + MIN(visit) * 604800 AS valid_from,
            1700000000 + MAX(visit) * 604800 AS valid_to,
            CAST(COUNT(*) AS BIGINT) AS n_visits
          FROM isl GROUP BY doc_id, class_iri, island""",

    "kg_fact_history" ->
      s"""WITH $dictCte,
          s1 AS (SELECT doc_id, text, 1 AS snapshot,
              1700000000 + doc_id * 60 AS fetch_epoch FROM documents),
          s2 AS (SELECT doc_id,
              array_to_string(l[1:(len(l) + 1) // 2], ' ') AS text,
              2 AS snapshot, 1700000000 + doc_id * 60 + 604800 AS fetch_epoch
            FROM (SELECT doc_id, text, string_split(text, ' ') AS l
                  FROM documents) z
            WHERE doc_id % 3 = 0),
          snaps AS (SELECT doc_id, text, snapshot, fetch_epoch FROM s1
                    UNION ALL SELECT doc_id, text, snapshot, fetch_epoch FROM s2),
          facts AS (SELECT DISTINCT doc_id, snapshot, fetch_epoch, d.class_iri
            FROM snaps, dict d
            WHERE regexp_matches(upper(text), '\\b' || d.term || '\\b')),
          cap AS (SELECT doc_id, MAX(fetch_epoch) AS last_cap
                  FROM snaps GROUP BY 1)
          SELECT 'doc://' || f.doc_id AS subj, f.class_iri AS obj,
            MIN(f.fetch_epoch) AS first_epoch, MAX(f.fetch_epoch) AS last_epoch,
            COUNT(DISTINCT f.snapshot) AS n_snapshots,
            (MAX(f.fetch_epoch) = MAX(c.last_cap)) AS current
          FROM facts f JOIN cap c USING (doc_id)
          GROUP BY 1, 2""",

    // per doc: latest capture at or before AsOfEpoch (epochs are distinct
    // within a doc, so the MAX join is the argmax), annotated
    "kg_asof_snapshot" ->
      s"""WITH $dictCte,
          s1 AS (SELECT doc_id, text, 1 AS snapshot,
              1700000000 + doc_id * 60 AS fetch_epoch FROM documents),
          s2 AS (SELECT doc_id,
              array_to_string(l[1:(len(l) + 1) // 2], ' ') AS text,
              2 AS snapshot, 1700000000 + doc_id * 60 + 604800 AS fetch_epoch
            FROM (SELECT doc_id, text, string_split(text, ' ') AS l
                  FROM documents) z
            WHERE doc_id % 3 = 0),
          snaps AS (SELECT doc_id, text, snapshot, fetch_epoch FROM s1
                    UNION ALL SELECT doc_id, text, snapshot, fetch_epoch FROM s2),
          live AS (SELECT * FROM snaps WHERE fetch_epoch <= ${AsOfEpoch}),
          chosen AS (SELECT doc_id, MAX(fetch_epoch) AS fetch_epoch
                     FROM live GROUP BY 1),
          cs AS (SELECT l.doc_id, l.snapshot, l.fetch_epoch, l.text
                 FROM live l JOIN chosen c
                   ON l.doc_id = c.doc_id AND l.fetch_epoch = c.fetch_epoch)
          SELECT DISTINCT 'doc://' || cs.doc_id AS subj, d.class_iri AS obj,
            cs.snapshot, cs.fetch_epoch
          FROM cs, dict d
          WHERE regexp_matches(upper(cs.text), '\\b' || d.term || '\\b')""",

    // incremental merge must be invisible in the result — same oracle as
    // the cold run
    "kg_components_delta" ->
      s"""WITH RECURSIVE $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          und AS (SELECT src AS a, dst AS b FROM cooc
                  UNION SELECT dst, src FROM cooc),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
          SELECT a AS class_iri, LEAST(a, MIN(b)) AS component
          FROM reach GROUP BY a""",

    "kg_pagerank" -> pageRankOracleSql(iters = 10, weighted = false),

    "kg_katz" -> katzOracleSql(iters = 5),

    "kg_kcore" -> kcoreOracleSql(k = 3, iters = 8),

    "kg_pagerank_weighted" -> pageRankOracleSql(iters = 10, weighted = true),

    // |docs(a) ∩ docs(b)| from the co-occurrence pairs; union via counts
    "kg_concept_sim" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                          COUNT(*) AS n_docs
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri
                   GROUP BY 1, 2),
          dc AS (SELECT class_iri, COUNT(*) AS n FROM pairs GROUP BY 1)
          SELECT c.src, c.dst,
                 ROUND(c.n_docs / CAST(sa.n + sb.n - c.n_docs AS DOUBLE), 6)
                   AS jaccard
          FROM cooc c
          JOIN dc sa ON sa.class_iri = c.src
          JOIN dc sb ON sb.class_iri = c.dst""",

    "kg_pmi" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                          COUNT(*) AS n_docs
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri
                   GROUP BY 1, 2),
          dc AS (SELECT class_iri, COUNT(*) AS n FROM pairs GROUP BY 1),
          nn AS (SELECT CAST(COUNT(DISTINCT url) AS DOUBLE) AS n FROM pairs)
          SELECT c.src, c.dst, c.n_docs,
                 ROUND(ln(CAST(c.n_docs AS DOUBLE) * (SELECT n FROM nn)
                   / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))), 6) AS pmi
          FROM cooc c
          JOIN dc sa ON sa.class_iri = c.src
          JOIN dc sb ON sb.class_iri = c.dst""",

    // Milne–Witten: same pair/doc-count scaffolding as kg_pmi, distance
    // form (ln max − ln common) / (ln N − ln min); min-df = N pairs dropped
    "kg_relatedness" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                          COUNT(*) AS n_docs
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri
                   GROUP BY 1, 2),
          dc AS (SELECT class_iri, COUNT(*) AS n FROM pairs GROUP BY 1),
          nn AS (SELECT CAST(COUNT(DISTINCT url) AS DOUBLE) AS n FROM pairs)
          SELECT c.src, c.dst, c.n_docs, sa.n AS n_a, sb.n AS n_b,
                 ROUND((ln(CAST(GREATEST(sa.n, sb.n) AS DOUBLE))
                     - ln(CAST(c.n_docs AS DOUBLE)))
                   / (ln((SELECT n FROM nn))
                     - ln(CAST(LEAST(sa.n, sb.n) AS DOUBLE))), 6) AS mw_distance
          FROM cooc c
          JOIN dc sa ON sa.class_iri = c.src
          JOIN dc sb ON sb.class_iri = c.dst
          WHERE CAST(LEAST(sa.n, sb.n) AS DOUBLE) < (SELECT n FROM nn)""",

    // triangles by the same canonical wedge join, per corner
    "kg_triangles" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                  FROM cooc e1
                  JOIN cooc e2 ON e1.src = e2.src AND e1.dst < e2.dst
                  JOIN cooc e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
          corners AS (SELECT a AS class_iri FROM tri
                      UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri)
          SELECT class_iri, CAST(COUNT(*) AS BIGINT) AS n_triangles
          FROM corners GROUP BY 1""",

    // Adamic–Adar recomputed relationally: undirected edge list → degrees →
    // common-neighbor pair join → Σ 1/ln(deg) → anti-join existing edges.
    // (Engine's maxDegree=10000 hub skip is a no-op at fixture scale; its
    // size>=2 neighbor filter is implied by the pair self-join.)
    "kg_adamic_adar" ->
      s"""WITH $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                   FROM pairs a JOIN pairs b
                     ON a.url = b.url AND a.class_iri < b.class_iri),
          und AS (SELECT src, dst FROM cooc
                  UNION ALL SELECT dst, src FROM cooc),
          deg AS (SELECT src AS z, COUNT(*) AS deg FROM und GROUP BY 1),
          aa AS (SELECT a.dst AS src, b.dst AS dst,
                        SUM(CAST(1.0 AS DOUBLE) / ln(CAST(d.deg AS DOUBLE))) AS s
                 FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst
                 JOIN deg d ON d.z = a.src
                 GROUP BY 1, 2)
          SELECT p.src, p.dst, ROUND(p.s, 6) AS aa
          FROM aa p
          WHERE NOT EXISTS (SELECT 1 FROM cooc e
                            WHERE e.src = p.src AND e.dst = p.dst)""",

    // one PR chain to 6 rounds; both depths ranked with the same
    // (ROUND(pr,6) DESC, node) policy, exact-BIGINT Σd², one division
    "kg_rank_corr" ->
      s"""WITH $pageEdgesPrScaffoldSql,
          nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
          unodes AS MATERIALIZED (SELECT node,
              CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS t FROM nodes),
          pr0 AS (SELECT node, t AS pr FROM unodes),
          ${prRoundsCtesSql(6, "pr", "unodes")},
          k5 AS (SELECT node, CAST(ROW_NUMBER() OVER
                   (ORDER BY ROUND(pr, 6) DESC, node) AS BIGINT) AS r5
                 FROM pr5),
          k6 AS (SELECT node, CAST(ROW_NUMBER() OVER
                   (ORDER BY ROUND(pr, 6) DESC, node) AS BIGINT) AS r6
                 FROM pr6)
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM((r5 - r6) * (r5 - r6)) AS BIGINT) AS sum_d2,
            ROUND(CAST(1.0 AS DOUBLE) - CAST(6.0 AS DOUBLE)
              * SUM((r5 - r6) * (r5 - r6))
              / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE), 6)
              AS spearman_rho
          FROM k5 JOIN k6 USING (node)""",

    // one PR chain unrolled to 6 rounds; both pr5 and pr6 read from it,
    // residual in exact micro-units (6dp ranks × 1e6 are integers)
    "kg_pr_residual" ->
      s"""WITH $pageEdgesPrScaffoldSql,
          nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
          unodes AS MATERIALIZED (SELECT node,
              CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS t FROM nodes),
          pr0 AS (SELECT node, t AS pr FROM unodes),
          ${prRoundsCtesSql(6, "pr", "unodes")},
          a5 AS (SELECT node, CAST(ROUND(ROUND(pr, 6) * 1e6, 0) AS BIGINT)
                   AS m5 FROM pr5),
          a6 AS (SELECT node, CAST(ROUND(ROUND(pr, 6) * 1e6, 0) AS BIGINT)
                   AS m6 FROM pr6)
          SELECT CAST(SUM(ABS(m5 - m6)) AS BIGINT) AS l1_micro,
            CAST(MAX(ABS(m5 - m6)) AS BIGINT) AS max_micro,
            ROUND(CAST(SUM(ABS(m5 - m6)) AS DOUBLE) / 1e6, 6) AS l1_residual
          FROM a5 JOIN a6 USING (node)""",

    "kg_triple_confidence" -> tripleConfidenceOracleSql,

    "kg_fusion_audit" -> fusionAuditOracleSql,

    "kg_truthfinder" -> truthFinderOracleSql,

    "kg_source_trust" -> sourceTrustOracleSql,

    // SPARQL CONSTRUCT: the kg_bgp_star solution set projected through the
    // template { ?c coMentionedWith ?m }, deduplicated (CONSTRUCT emits a
    // SET); predicate IRI interpolated from the object constant
    "kg_construct_rule" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          desc_set AS (SELECT DISTINCT child_iri AS c FROM closure
                       WHERE ancestor_iri = '${graft.ops.KgQuality.bgpRoot}')
          SELECT DISTINCT dl.obj AS subj,
                 '${graft.ops.KgPublish.CoMentionPred}' AS pred,
                 ml.obj AS obj
          FROM triples dl
          JOIN desc_set ds ON dl.obj = ds.c
          JOIN triples ml ON ml.subj = dl.subj AND ml.pred = 'hasMappedAnnotation'
          WHERE dl.pred = 'hasAnnotation'""",

    // ASK: EXISTS over the path pattern (true) + the phantom predicate
    // (false) — both branches checked
    "kg_ask" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          reach AS (SELECT DISTINCT o FROM (
                    SELECT child_iri AS o FROM closure
                    WHERE ancestor_iri = '${graft.ops.KgQuality.bgpRoot}'
                    UNION ALL SELECT '${graft.ops.KgQuality.bgpRoot}'))
          SELECT 'path_to_root' AS pattern,
            EXISTS(SELECT 1 FROM triples t JOIN reach r ON t.obj = r.o
                   WHERE t.pred IN ('hasAnnotation', 'hasMappedAnnotation'))
              AS answer
          UNION ALL
          SELECT 'phantom_pred',
            EXISTS(SELECT 1 FROM triples
                   WHERE pred = '${graft.ops.KgPublish.PhantomPred}')""",

    // UNION = pred IN-filter with via bound to the matched predicate;
    // FILTER = the shared even-trailing-digit regex; MINUS = NOT EXISTS
    // on the shared variable c vs the descendant set (the anti-join twin)
    "kg_bgp_union_minus" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          sols AS (SELECT subj AS d, obj AS c, pred AS via FROM triples
                   WHERE pred IN ('hasAnnotation', 'hasExpandedAnnotation')
                     AND regexp_matches(subj, '${graft.ops.KgPublish.EvenDocRe}'))
          SELECT DISTINCT d, c, via FROM sols
          WHERE NOT EXISTS (SELECT 1 FROM closure x
                            WHERE x.child_iri = sols.c
                              AND x.ancestor_iri =
                                '${graft.ops.KgQuality.bgpRoot}')""",

    // property path (p1|p2)/subClassOf*: reach = {root} ∪ descendants
    // (zero-length star leg = the root itself), alternation = IN filter
    "kg_path_query" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          reach AS (SELECT DISTINCT o FROM (
                    SELECT child_iri AS o FROM closure
                    WHERE ancestor_iri = '${graft.ops.KgQuality.bgpRoot}'
                    UNION ALL SELECT '${graft.ops.KgQuality.bgpRoot}'))
          SELECT DISTINCT t.subj AS d, t.pred AS via
          FROM triples t JOIN reach r ON t.obj = r.o
          WHERE t.pred IN ('hasAnnotation', 'hasMappedAnnotation')""",

    // HDT dictionary encode: id = global rank in term order (binary string
    // collation both engines), decode joins prove the round trip
    "kg_encoded_store" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          tmat AS MATERIALIZED (SELECT * FROM triples),
          -- DISTINCT is explicit (not a bare UNION): inside WITH RECURSIVE
          -- DuckDB treats a CTE-body UNION as the recursive-form operator
          -- and does NOT set-deduplicate a non-self-referencing chain
          terms AS (SELECT DISTINCT term FROM (
                    SELECT subj AS term FROM tmat
                    UNION ALL SELECT pred FROM tmat
                    UNION ALL SELECT obj FROM tmat)),
          dictx AS MATERIALIZED (SELECT term,
                      CAST(ROW_NUMBER() OVER (ORDER BY term) AS BIGINT) AS id
                    FROM terms)
          SELECT ds.id AS s_id, dp.id AS p_id, dobj.id AS o_id,
                 t.subj, t.pred, t.obj
          FROM tmat t
          JOIN dictx ds ON t.subj = ds.term
          JOIN dictx dp ON t.pred = dp.term
          JOIN dictx dobj ON t.obj = dobj.term""",

    // VoID descriptor: 4 dataset-level rows + 5 rows per predicate
    // partition, counts as string literals (RDF terms)
    "kg_void_stats" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          g AS (SELECT CAST(COUNT(*) AS VARCHAR) AS nt,
                  CAST(COUNT(DISTINCT subj) AS VARCHAR) AS ns,
                  CAST(COUNT(DISTINCT obj) AS VARCHAR) AS nob,
                  CAST(COUNT(DISTINCT pred) AS VARCHAR) AS np FROM triples),
          pp AS (SELECT pred, CAST(COUNT(*) AS VARCHAR) AS nt,
                   CAST(COUNT(DISTINCT subj) AS VARCHAR) AS ns,
                   CAST(COUNT(DISTINCT obj) AS VARCHAR) AS nob
                 FROM triples GROUP BY 1)
          SELECT 'http://graft.kg/dataset#v1' AS subj, 'void:triples' AS pred, nt AS obj FROM g
          UNION ALL SELECT 'http://graft.kg/dataset#v1', 'void:distinctSubjects', ns FROM g
          UNION ALL SELECT 'http://graft.kg/dataset#v1', 'void:distinctObjects', nob FROM g
          UNION ALL SELECT 'http://graft.kg/dataset#v1', 'void:properties', np FROM g
          UNION ALL SELECT 'http://graft.kg/dataset#v1', 'void:propertyPartition',
                 'http://graft.kg/dataset#v1/prop/' || pred FROM pp
          UNION ALL SELECT 'http://graft.kg/dataset#v1/prop/' || pred, 'void:property', pred FROM pp
          UNION ALL SELECT 'http://graft.kg/dataset#v1/prop/' || pred, 'void:triples', nt FROM pp
          UNION ALL SELECT 'http://graft.kg/dataset#v1/prop/' || pred, 'void:distinctSubjects', ns FROM pp
          UNION ALL SELECT 'http://graft.kg/dataset#v1/prop/' || pred, 'void:distinctObjects', nob FROM pp""",

    // PROV-O bundle: per-batch entity rows (same doc_id%4 batch key as the
    // N-Quads graph IRI) + the 4 fixed activity/dictionary rows
    "kg_prov_bundle" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          pb AS (SELECT 'http://graft.kg/g#batch' ||
                   CAST(CAST(regexp_extract(subj, '[0-9]+$$', 0) AS BIGINT) % 4 AS VARCHAR) AS g,
                   CAST(COUNT(*) AS VARCHAR) AS n
                 FROM triples GROUP BY 1)
          SELECT g AS subj, 'rdf:type' AS pred, 'prov:Entity' AS obj FROM pb
          UNION ALL SELECT g, 'prov:wasGeneratedBy', 'http://graft.kg/a#annotate_v1' FROM pb
          UNION ALL SELECT g, 'graft:tripleCount', n FROM pb
          UNION ALL SELECT * FROM (VALUES
            ('http://graft.kg/a#annotate_v1', 'rdf:type', 'prov:Activity'),
            ('http://graft.kg/a#annotate_v1', 'prov:used', 'http://graft.kg/dict#v1'),
            ('http://graft.kg/dict#v1', 'rdf:type', 'prov:Entity'),
            ('http://graft.kg/dict#v1', 'prov:wasAttributedTo', 'http://graft.kg/agent#graft')) v(a, b, c)""",

    // reification twin: the same content-addressed statement id (md5 over
    // the chr(1)-separated triple — Spark's md5-over-UTF8 byte-identical)
    // fanned out to the five reification rows
    "kg_reify" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          st AS (SELECT '${graft.ops.KgPublish.StmtPrefix}' ||
                   md5(subj || chr(1) || pred || chr(1) || obj) AS stmt,
                   subj, pred, obj
                 FROM triples)
          SELECT stmt AS subj, 'rdf:type' AS pred, 'rdf:Statement' AS obj FROM st
          UNION ALL SELECT stmt, 'rdf:subject', subj FROM st
          UNION ALL SELECT stmt, 'rdf:predicate', pred FROM st
          UNION ALL SELECT stmt, 'rdf:object', obj FROM st
          UNION ALL SELECT stmt, 'prov:wasDerivedFrom',
            'http://graft.kg/dict#v1' FROM st""",

    // OWL-Horst subset: rdfp8 inverse of the direct leg, rdfp3 symmetric
    // mapping completion, rdfp4 transitive subClassOf = the closure pairs
    "kg_owl_horst" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte
          SELECT DISTINCT t.obj AS subj,
                 '${graft.ops.KgPublish.InverseOfDirect}' AS pred,
                 t.subj AS obj, 'rdfp8' AS rule
          FROM triples t WHERE t.pred = 'hasAnnotation'
          UNION ALL
          SELECT DISTINCT s AS subj, p AS pred, o AS obj, 'rdfp3' AS rule FROM (
            SELECT class_iri AS s, 'mappedTo' AS p, mapped_iri AS o FROM maps
            UNION ALL
            SELECT mapped_iri, 'mappedTo', class_iri FROM maps)
          UNION ALL
          SELECT DISTINCT child_iri AS subj, 'subClassOf' AS pred,
                 ancestor_iri AS obj, 'rdfp4' AS rule
          FROM closure""",

    "kg_fact_fusion" -> factFusionOracleSql,

    // occurrence counts per (surface, concept) from the same regex twin the
    // ann_counts oracle uses (terms are self-overlap-free, asserted in
    // DictAndClosureSpec, so non-overlapping regex counts == automaton hits)
    "kg_alias_priors" ->
      s"""WITH $dictCte,
          c AS (SELECT d.term AS surface, d.class_iri,
                  SUM(len(regexp_extract_all(upper(text), '\\b' || d.term || '\\b'))) AS n
                FROM documents, dict d GROUP BY 1, 2),
          cc AS (SELECT * FROM c WHERE n > 0),
          t AS (SELECT surface, SUM(n) AS n_surface FROM cc GROUP BY 1)
          SELECT cc.surface, cc.class_iri, CAST(cc.n AS BIGINT) AS n,
            ROUND(CAST(cc.n AS DOUBLE) / CAST(t.n_surface AS DOUBLE), 6) AS prior
          FROM cc JOIN t USING (surface)""",

    "kg_coverage" ->
      s"""WITH $dictCte, $directCte,
          u AS (SELECT DISTINCT ont, class_iri FROM dict),
          mt AS (SELECT DISTINCT class_iri FROM direct)
          SELECT u.ont, COUNT(*) AS n_concepts,
            CAST(SUM(CASE WHEN mt.class_iri IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_matched,
            ROUND(CAST(SUM(CASE WHEN mt.class_iri IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS coverage
          FROM u LEFT JOIN mt ON mt.class_iri = u.class_iri
          GROUP BY 1""",

    // the incremental result must equal a cold recursive rebuild over the
    // UNION of v1 edges and the release delta (same ≤5 depth cap as
    // closureCte, min distance per pair)
    "kg_closure_delta" ->
      s"""WITH RECURSIVE edges(child_iri, parent_iri) AS (
            SELECT * FROM (VALUES ${OntologyFixture.edgesValues}) v(a, b)
            UNION ALL
            SELECT * FROM (VALUES ${OntologyFixture.edgesDeltaValues}) w(a, b)),
          $closureCte
          SELECT child_iri, ancestor_iri, CAST(MIN(distance) AS INT) AS distance
          FROM closure GROUP BY 1, 2""",

    "kg_microdata" ->
      s"""WITH ${graft.ops.Relations.microdataPagesCteSql},
          ty AS (SELECT url AS subj, 'rdf:type' AS pred,
                   'schema:' || t AS obj
                 FROM (SELECT url,
                         unnest(regexp_extract_all(html,
                           '${graft.ops.Relations.MicroTypeRe}', 1)) AS t
                       FROM mdpg)),
          pr AS (SELECT url AS subj, 'schema:' || a[i] AS pred, b[i] AS obj
                 FROM (SELECT url, a, b,
                         unnest(generate_series(1, len(a))) AS i
                       FROM (SELECT url,
                               regexp_extract_all(html,
                                 '${graft.ops.Relations.MicroPropRe}', 1) AS a,
                               regexp_extract_all(html,
                                 '${graft.ops.Relations.MicroPropRe}', 2) AS b
                             FROM mdpg)))
          SELECT DISTINCT subj, pred, obj FROM
            (SELECT * FROM ty UNION ALL SELECT * FROM pr)""",

    // regex-cut script body, json_extract_string flattening, fragment-node
    // minting for the nested author — same regex + synthesis constants
    "kg_jsonld" ->
      s"""WITH $jsonLdTriplesCtes
          SELECT subj, pred, obj FROM jtr""",

    // CBD: seed-subject triples + full description of fragment sub-nodes
    // reached in object position; one frontier round is the fixed point
    // for the one-level JSON-LD nesting
    "kg_describe" ->
      s"""WITH $jsonLdTriplesCtes,
          seeds AS (SELECT DISTINCT subj FROM jtr
                    WHERE pred = 'rdf:type' AND obj = 'schema:Article'),
          st AS (SELECT t.* FROM jtr t JOIN seeds s ON t.subj = s.subj),
          fr AS (SELECT DISTINCT t.obj AS subj FROM st t
                 WHERE starts_with(t.obj, t.subj || '#')),
          nt AS (SELECT t.* FROM jtr t JOIN fr ON t.subj = fr.subj)
          SELECT DISTINCT subj, pred, obj
          FROM (SELECT * FROM st UNION ALL SELECT * FROM nt)""",

    "kg_hearst_pairs" ->
      s"""WITH ${graft.ops.Relations.hearstPagesCteSql},
          prs AS ($hearstLegsSql)
          SELECT hypernym, hyponym, COUNT(DISTINCT doc_id) AS n_docs,
            COUNT(*) AS n_mentions
          FROM prs GROUP BY 1, 2""",

    "kg_openre" ->
      s"""WITH $dictCte, ${graft.ops.Relations.relPagesCteSql},
          prs AS ($openreLegsSql),
          res AS (SELECT prs.doc_id, cs.class_iri AS subj_iri, prs.rel,
                    co.class_iri AS obj_iri
                  FROM prs JOIN dict cs ON upper(prs.subj_surface) = cs.term
                           JOIN dict co ON upper(prs.obj_surface) = co.term
                  WHERE cs.class_iri <> co.class_iri)
          SELECT subj_iri, rel, obj_iri, COUNT(DISTINCT doc_id) AS n_docs
          FROM res GROUP BY 1, 2, 3""",

    // relation typing recomputed declaratively: distinct openre facts ×
    // exploded TUI dimension, modal type per side via ROW_NUMBER ordered
    // (cnt DESC, tui) — the engine's min(struct(-cnt, tui)) order
    "kg_schema_induction" ->
      s"""WITH $dictCte, ${graft.ops.Relations.relPagesCteSql},
          prs AS ($openreLegsSql),
          facts AS (SELECT DISTINCT cs.class_iri AS subj_iri, prs.rel,
                      co.class_iri AS obj_iri
                    FROM prs JOIN dict cs ON upper(prs.subj_surface) = cs.term
                             JOIN dict co ON upper(prs.obj_surface) = co.term
                    WHERE cs.class_iri <> co.class_iri),
          nf AS (SELECT rel, COUNT(*) AS n_facts FROM facts GROUP BY 1),
          tt(class_iri, tui) AS (
            SELECT * FROM (VALUES ${OntologyFixture.tuisValues}) v(a, b)),
          dc AS (SELECT f.rel, t.tui, COUNT(*) AS cnt
                 FROM facts f JOIN tt t ON f.subj_iri = t.class_iri
                 GROUP BY 1, 2),
          dm AS (SELECT rel, tui, cnt,
                   SUM(cnt) OVER (PARTITION BY rel) AS tot,
                   ROW_NUMBER() OVER (PARTITION BY rel
                     ORDER BY cnt DESC, tui) AS rn FROM dc),
          rc AS (SELECT f.rel, t.tui, COUNT(*) AS cnt
                 FROM facts f JOIN tt t ON f.obj_iri = t.class_iri
                 GROUP BY 1, 2),
          rm AS (SELECT rel, tui, cnt,
                   SUM(cnt) OVER (PARTITION BY rel) AS tot,
                   ROW_NUMBER() OVER (PARTITION BY rel
                     ORDER BY cnt DESC, tui) AS rn FROM rc)
          SELECT nf.rel, nf.n_facts,
            dm.tui AS domain_tui,
            ROUND(CAST(dm.cnt AS DOUBLE) / dm.tot, 6) AS domain_share,
            rm.tui AS range_tui,
            ROUND(CAST(rm.cnt AS DOUBLE) / rm.tot, 6) AS range_share
          FROM nf JOIN dm ON nf.rel = dm.rel AND dm.rn = 1
                  JOIN rm ON nf.rel = rm.rel AND rm.rn = 1""",

    "kg_hearst_isa" ->
      s"""WITH $dictCte, $edgesCte, ${graft.ops.Relations.hearstPagesCteSql},
          prs AS ($hearstLegsSql),
          cand AS (SELECT DISTINCT c.class_iri AS child_iri,
                     p.class_iri AS parent_iri
                   FROM prs JOIN dict c ON upper(prs.hyponym) = c.term
                            JOIN dict p ON upper(prs.hypernym) = p.term
                   WHERE c.class_iri <> p.class_iri)
          SELECT cand.child_iri, cand.parent_iri
          FROM cand ANTI JOIN edges
            ON cand.child_iri = edges.child_iri
           AND cand.parent_iri = edges.parent_iri""",

    "kg_labelprop" -> labelPropOracleSql(iters = 4),

    "kg_modularity" -> modularityOracleSql(iters = 4),

    "kg_conductance" -> conductanceOracleSql(iters = 4),

    // L2 pairs above the fractional floor → closure-pruned candidate
    // triples → three url-keyed verification joins; same ceil arithmetic
    "kg_itemsets" ->
      s"""WITH $dictCte, $directCte,
          it AS (SELECT DISTINCT url, class_iri AS c FROM direct),
          univ AS (SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS nd FROM it),
          msup AS (SELECT CAST(CEIL(CAST(0.2 AS DOUBLE) * nd) AS BIGINT)
                     AS s FROM univ),
          fp AS (SELECT a.c AS src, b.c AS dst
                 FROM it a JOIN it b ON a.url = b.url AND a.c < b.c
                 GROUP BY 1, 2
                 HAVING COUNT(*) >= (SELECT s FROM msup)),
          cand AS (SELECT p.src AS a, p.dst AS b, q.dst AS c
                   FROM fp p JOIN fp q ON q.src = p.dst
                   WHERE EXISTS (SELECT 1 FROM fp r
                                 WHERE r.src = p.src AND r.dst = q.dst)),
          ver AS (SELECT cand.a, cand.b, cand.c,
                    CAST(COUNT(*) AS BIGINT) AS n_docs
                  FROM cand
                  JOIN it ia ON ia.c = cand.a
                  JOIN it ib ON ib.c = cand.b AND ib.url = ia.url
                  JOIN it ic ON ic.c = cand.c AND ic.url = ia.url
                  GROUP BY 1, 2, 3
                  HAVING COUNT(*) >= (SELECT s FROM msup))
          SELECT a, b, c, n_docs FROM ver""",

    // the itemsets chain + pair/item support joins; confidence and lift
    // as the same two pinned divisions, raw-double minConf filter
    "kg_assoc_rules" ->
      s"""WITH $dictCte, $directCte,
          it AS (SELECT DISTINCT url, class_iri AS c FROM direct),
          univ AS (SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS nd FROM it),
          msup AS (SELECT CAST(CEIL(CAST(0.2 AS DOUBLE) * nd) AS BIGINT)
                     AS s FROM univ),
          sup1 AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n1
                   FROM it GROUP BY 1),
          sup2 AS (SELECT a.c AS src, b.c AS dst,
                     CAST(COUNT(*) AS BIGINT) AS n2
                   FROM it a JOIN it b ON a.url = b.url AND a.c < b.c
                   GROUP BY 1, 2),
          fp AS (SELECT src, dst FROM sup2
                 WHERE n2 >= (SELECT s FROM msup)),
          cand AS (SELECT p.src AS a, p.dst AS b, q.dst AS c
                   FROM fp p JOIN fp q ON q.src = p.dst
                   WHERE EXISTS (SELECT 1 FROM fp r
                                 WHERE r.src = p.src AND r.dst = q.dst)),
          ver AS (SELECT cand.a, cand.b, cand.c,
                    CAST(COUNT(*) AS BIGINT) AS n3
                  FROM cand
                  JOIN it ia ON ia.c = cand.a
                  JOIN it ib ON ib.c = cand.b AND ib.url = ia.url
                  JOIN it ic ON ic.c = cand.c AND ic.url = ia.url
                  GROUP BY 1, 2, 3
                  HAVING COUNT(*) >= (SELECT s FROM msup)),
          rules AS (
            SELECT v.a AS ante1, v.b AS ante2, v.c AS consequent, v.n3,
              CAST(v.n3 AS DOUBLE) / p.n2 AS confr, s1.n1
            FROM ver v JOIN sup2 p ON p.src = v.a AND p.dst = v.b
            JOIN sup1 s1 ON s1.c = v.c
            UNION ALL
            SELECT v.a, v.c, v.b, v.n3,
              CAST(v.n3 AS DOUBLE) / p.n2, s1.n1
            FROM ver v JOIN sup2 p ON p.src = v.a AND p.dst = v.c
            JOIN sup1 s1 ON s1.c = v.b
            UNION ALL
            SELECT v.b, v.c, v.a, v.n3,
              CAST(v.n3 AS DOUBLE) / p.n2, s1.n1
            FROM ver v JOIN sup2 p ON p.src = v.b AND p.dst = v.c
            JOIN sup1 s1 ON s1.c = v.a)
          SELECT ante1, ante2, consequent, n3 AS n_docs,
            ROUND(confr, 6) AS confidence,
            ROUND(confr * (SELECT CAST(nd AS DOUBLE) FROM univ) / n1, 6)
              AS lift
          FROM rules WHERE confr >= CAST(0.8 AS DOUBLE)""",

    "kg_louvain_move" -> louvainMoveOracleSql(iters = 4),

    // triples CTE = ann_triples verbatim; constraint constants interpolated
    // from KgQuality (single source of truth); the two negative-control
    // shapes are recomputed the same way and must both be empty
    "kg_shacl_report" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          concepts(class_iri) AS (SELECT * FROM (VALUES ${OntologyFixture.conceptIriValues}) v(a)),
          direct_n AS (SELECT subj, COUNT(DISTINCT obj) AS n FROM triples
                       WHERE pred = 'hasAnnotation' GROUP BY subj)
          SELECT subj AS focus, 'MaxDirectAnnotations' AS shape,
                 CAST(n AS VARCHAR) AS detail
          FROM direct_n WHERE n > ${graft.ops.KgQuality.shaclMaxDirect}
          UNION ALL
          SELECT subj, 'MissingMappedAnnotation', CAST(n AS VARCHAR)
          FROM direct_n
          WHERE subj NOT IN (SELECT subj FROM triples WHERE pred = 'hasMappedAnnotation')
          UNION ALL
          SELECT DISTINCT subj, 'DanglingExpandedObject', obj
          FROM triples
          WHERE pred = 'hasExpandedAnnotation'
            AND obj NOT IN (SELECT class_iri FROM concepts)
          UNION ALL
          SELECT DISTINCT subj, 'SubjectPattern', subj
          FROM triples
          WHERE NOT regexp_matches(subj, '^doc://[0-9]+$$')""",

    // rdfs2/rdfs3 via the schema join, rdfs9 via an (unbounded — the type
    // graph is a 2-level DAG) recursive closure over the T-Box edges
    "kg_rdfs_types" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          schema(pred, domain_type, range_type) AS (
            SELECT * FROM (VALUES ${graft.ops.KgQuality.propSchemaValues}) v(a,b,c)),
          tedges(child_iri, parent_iri) AS (
            SELECT * FROM (VALUES ${graft.ops.KgQuality.typeEdgesValues}) v(a,b)),
          tclosure(child_iri, ancestor_iri) AS (
            SELECT child_iri, parent_iri FROM tedges
            UNION ALL
            SELECT c.child_iri, e.parent_iri
            FROM tclosure c JOIN tedges e ON c.ancestor_iri = e.child_iri),
          base AS (SELECT t.subj AS node, s.domain_type AS rdf_type
                   FROM triples t JOIN schema s USING (pred)
                   UNION ALL
                   SELECT t.obj, s.range_type
                   FROM triples t JOIN schema s USING (pred)),
          lifted AS (SELECT b.node, c.ancestor_iri AS rdf_type
                     FROM base b JOIN tclosure c ON b.rdf_type = c.child_iri)
          SELECT DISTINCT node, rdf_type
          FROM (SELECT * FROM base UNION ALL SELECT * FROM lifted)""",

    // star join: direct leg restricted to the bgpRoot descendant set
    // (closure CTE), mapped leg joined back on the shared subject
    // per-(pred, obj) subject counts → bit-length buckets → histogram
    "kg_obj_degree_dist" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          od AS (SELECT pred, obj,
                   CAST(COUNT(DISTINCT subj) AS BIGINT) AS deg
                 FROM triples GROUP BY 1, 2)
          SELECT pred, CAST(length(bin(deg)) - 1 AS INT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_objects
          FROM od GROUP BY 1, 2""",

    // the triple CTE rolled up per predicate
    "kg_pred_stats" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte
          SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples,
                 CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subjects,
                 CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_objects
          FROM triples GROUP BY 1""",

    "kg_bgp_star" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          desc_set AS (SELECT DISTINCT child_iri AS c FROM closure
                       WHERE ancestor_iri = '${graft.ops.KgQuality.bgpRoot}')
          SELECT DISTINCT dl.subj AS d, dl.obj AS c, ml.obj AS m
          FROM triples dl
          JOIN desc_set ds ON dl.obj = ds.c
          JOIN triples ml ON ml.subj = dl.subj AND ml.pred = 'hasMappedAnnotation'
          WHERE dl.pred = 'hasAnnotation'""",

    "kg_bgp_optional" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          desc_set AS (SELECT DISTINCT child_iri AS c FROM closure
                       WHERE ancestor_iri = '${graft.ops.KgQuality.bgpRoot}')
          SELECT DISTINCT dl.subj AS d, dl.obj AS c, ml.obj AS m
          FROM triples dl
          JOIN desc_set ds ON dl.obj = ds.c
          LEFT JOIN triples ml
            ON ml.subj = dl.subj AND ml.pred = 'hasMappedAnnotation'
          WHERE dl.pred = 'hasAnnotation'""",

    // AMIE chain-rule mining: kb = triples ∪ T-Box edges ∪ mappings; body
    // = the fan-capped chain join; the four metric legs mirror RuleMine
    // exactly (constants interpolated from the object — single source of
    // truth); ratios ROUND(6) per the float contract
    "kg_rule_mine" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          ${ruleKbCtes}
          SELECT s.p1, s.p2, s.head_pred,
                 CAST(s.support AS BIGINT) AS support,
                 CAST(b.body_size AS BIGINT) AS body_size,
                 ROUND(s.support * 1.0 / h.head_size, 6) AS head_coverage,
                 ROUND(s.support * 1.0 / b.body_size, 6) AS std_conf,
                 ROUND(s.support * 1.0 / p.pca_body, 6) AS pca_conf
          FROM support s
          JOIN bodysize b USING (p1, p2)
          JOIN pca p USING (p1, p2, head_pred)
          JOIN headsize h USING (head_pred)
          WHERE s.support >= ${graft.ops.RuleMine.MinSupport}""",

    // rule application: instantiations of the PCA-confident rules minus
    // facts already in the kb; best confidence + deriving-rule count per
    // inferred triple
    "kg_rule_infer" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte,
          ${ruleKbCtes},
          rules AS (
            SELECT s.p1, s.p2, s.head_pred,
                   ROUND(s.support * 1.0 / p.pca_body, 6) AS pca_conf
            FROM support s
            JOIN pca p USING (p1, p2, head_pred)
            WHERE s.support >= ${graft.ops.RuleMine.MinSupport}
              AND ROUND(s.support * 1.0 / p.pca_body, 6) >=
                  ${graft.ops.RuleMine.InferMinPca}),
          inst AS (
            SELECT body.x AS subj, r.head_pred AS pred, body.z AS obj,
                   r.pca_conf
            FROM body JOIN rules r USING (p1, p2)
            WHERE NOT EXISTS (SELECT 1 FROM kb
                              WHERE kb.subj = body.x AND kb.pred = r.head_pred
                                AND kb.obj = body.z))
          SELECT subj, pred, obj, MAX(pca_conf) AS conf,
                 CAST(COUNT(*) AS BIGINT) AS n_rules
          FROM inst GROUP BY 1, 2, 3""",

    // typed literals: same injection synthesis, same shared regexes, set
    // semantics via the final DISTINCT
    "kg_literals" ->
      s"""WITH lit0 AS (SELECT 'doc://' || doc_id AS url,
             CASE WHEN doc_id % 4 = 0 THEN text || ' measured '
                 || CAST((doc_id * 7) % 1000 AS VARCHAR)
                 || ' units on 2024-'
                 || lpad(CAST((doc_id % 12) + 1 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
               ELSE text END AS text
           FROM documents),
          legs AS (
            SELECT url, 'hasDate' AS pred,
              unnest(regexp_extract_all(text, '${graft.ops.Relations.DateRe}'))
                AS obj,
              'xsd:date' AS obj_type
            FROM lit0
            UNION ALL
            SELECT url, 'hasQuantity' AS pred,
              unnest(regexp_extract_all(text,
                '${graft.ops.Relations.QtyRe}', 1)) AS obj,
              'xsd:integer' AS obj_type
            FROM lit0)
          SELECT DISTINCT url, pred, obj, obj_type FROM legs""",
  )
}
