package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Corpus, Expand, Filters, Scoring}
import graft.dict.{AutomatonBuild, DictBuild}
import graft.emit.Triples
import graft.fixture.OntologyFixture
import graft.graph.Closure
import graft.io.TableIO

/** Flagship batch-annotate job — stage orchestration with per-stage
  * checkpoints, per-partition lineage rows, and resume (SURVEY.md §4.3;
  * north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"). Each stage materializes to the work dir; a rerun skips stages
  * whose `_SUCCESS` marker exists and reads the checkpoint instead.
  *
  * Stage → shuffle map (scale design, SURVEY.md §4.3):
  *   dict     — ontology-side only, tiny; range-partitioned two-pass term ids
  *   corpus   — extraction is map-only; S2 range repartition = 1 shuffle
  *   matches  — broadcast automaton in the native match Generator: ZERO
  *              shuffles
  *   closure  — iterative broadcast joins, ontology-side only
  *   triples  — A6 agg (shuffle on url,classIri — high-cardinality keys, no
  *              hot key), expansion joins all broadcast, partitioned write
  *   kg_*     — (opt-in, `materializeKg`) co-occurrence edges + components
  *              + weighted PageRank from the PERSISTED matches stage —
  *              resume never re-scans the corpus for graph stages
  *   web_*    — (opt-in, `materializeWeb`) extracted link table + host
  *              graph + directed PageRank from the raw page table — the
  *              hyperlink KG edges next to the concept triples
  */
/** The pipeline's ontology-side inputs as plain tables, decoupling stage
  * orchestration from where the ontology comes from: the deterministic
  * fixture (tests/bench) or real RDF submissions via [[graft.io.NTriples]].
  */
case class OntologyTables(concepts: DataFrame, edges: DataFrame, mappings: DataFrame)

object OntologyTables {

  def fixture(spark: SparkSession): OntologyTables =
    OntologyTables(OntologyFixture.conceptsDf(spark),
      OntologyFixture.edgesDf(spark), OntologyFixture.mappingsDf(spark))

  /** Load from a directory of N-Triples submissions, one subdirectory per
    * ontology (subdir name = acronym — the reference's one-graph-per-
    * ontology model). Edges union across submissions; mappings are the
    * CUI-derived pairs (cross-ontology concepts sharing a CUI, both
    * directions — the reference's CUI mapping kind) plus the LOOM lexical
    * pairs ([[loomMappings]]) — with both derived, an NT-fed pipeline run
    * emits exactly the fixture run's triples (spec-pinned). */
  def fromNTriples(spark: SparkSession, root: String): OntologyTables = {
    import graft.io.NTriples
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    require(subdirs.nonEmpty, s"no ontology submissions under $root")
    val parsed = subdirs.map(p => (p.getName, NTriples.read(spark, p.toString)))
    val concepts = parsed.map { case (acr, st) => NTriples.concepts(st, acr) }
      .reduce(_.unionAll(_))
    val edges = parsed.map { case (_, st) => NTriples.edges(st) }
      .reduce(_.unionAll(_)).distinct()
    OntologyTables(concepts, edges,
      cuiMappings(concepts).unionByName(loomMappings(concepts)))
  }

  /** (class_iri, mapped_iri, kind="CUI") — all cross-ontology directed pairs
    * sharing a CUI. Ontology-side join, bounded by concept count. */
  def cuiMappings(concepts: DataFrame): DataFrame = {
    val c = concepts.filter(col("cui").isNotNull)
      .select(col("class_iri"), col("ont"), col("cui"))
    c.alias("a").join(c.alias("b"),
        col("a.cui") === col("b.cui") && col("a.ont") =!= col("b.ont"))
      .select(col("a.class_iri").as("class_iri"),
        col("b.class_iri").as("mapped_iri"), lit("CUI").as("kind"))
      .distinct()
  }

  /** (class_iri, mapped_iri, kind="LOOM") — cross-ontology directed pairs
    * whose D3-NORMALIZED labels (preferred or synonym) coincide: the
    * published LOOM lexical-mapping algorithm (Ghazvinian, Noy & Musen 2009)
    * the reference's BioPortal mappings pipeline runs offline. Equi-join on
    * the normalized label — ontology-side, bounded by label count; a label
    * shared by m classes emits O(m²) pairs, which is LOOM's actual output
    * (BioPortal materializes exactly these), so no cap is applied. */
  def loomMappings(concepts: DataFrame): DataFrame = {
    // coalesce: a NULL synonyms column (legal in curated parquet inputs)
    // would NULL the whole concat and silently drop the PREF label too
    val labels = concepts
      .select(col("class_iri"), col("ont"),
        explode(concat(array(col("pref_label")),
          coalesce(col("synonyms"), array()))).as("label"))
      .select(col("class_iri"), col("ont"),
        graft.dict.DictBuild.normalizeTerm(col("label")).as("term"))
      .distinct()
    labels.alias("a").join(labels.alias("b"),
        col("a.term") === col("b.term") && col("a.ont") =!= col("b.ont"))
      .select(col("a.class_iri").as("class_iri"),
        col("b.class_iri").as("mapped_iri"), lit("LOOM").as("kind"))
      .distinct()
  }
}

object Pipeline {

  case class Config(
      sfDir: String,
      workDir: String,
      dictVersion: String = "v1",
      runId: String = "run-0",
      opts: AnnotateOptions = AnnotateOptions(),
      scanPartitions: Int = 32,
      /** None = deterministic fixture ontology; Some = caller-supplied
        * tables (e.g. [[OntologyTables.fromNTriples]] over RDF submissions). */
      ontology: Option[OntologyTables] = None,
      /** 1 = single broadcast automaton; >1 = the S4 sharded regime for
        * dictionaries beyond driver memory — shards built + broadcast one
        * at a time, scanned by the native sharded Generator. Output is
        * spec-identical across values. */
      dictShards: Int = 1,
      /** Materialize the downstream KG analytics as additional checkpointed
        * stages (north_rule "graph materialize"): concept co-occurrence
        * edges, connected components, weighted PageRank — each a resumable
        * stage with its own lineage rows, derived from the persisted
        * matches stage (no corpus re-scan). */
      materializeKg: Boolean = false,
      /** Materialize the hyperlink-graph leg as checkpointed stages: the
        * extracted link table, the host graph, and directed PageRank over
        * page edges — the web-native KG edges next to the concept triples.
        * Fed from the raw page table (link extraction needs HTML, which
        * the extracted-text corpus stage no longer carries). */
      materializeWeb: Boolean = false)

  /** Run (or resume) the full pipeline; returns the final triples DataFrame.
    * Table IO routes through [[TableIO.forSession]]: Parquet locally, the
    * Iceberg impl when the runtime has the jar + a configured catalog. */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val io = TableIO.forSession(spark, cfg.workDir)
    val onto = cfg.ontology.getOrElse(OntologyTables.fixture(spark))
    // the concept table is read by four consumers (dict build, its input
    // count, the TUI filter table, CUI-mapping derivation) — cache it for
    // the run so the RDF path parses each submission ONCE, not 4-5 times
    onto.concepts.cache()
    try runStages(spark, io, cfg, onto)
    finally onto.concepts.unpersist()
  }

  private def runStages(spark: SparkSession, io: TableIO, cfg: Config,
                        onto: OntologyTables): DataFrame = {
    val dict = stage(spark, io, "dict", cfg,
      inputRows = onto.concepts.count()) {
      DictBuild.build(DictBuild.labelRows(onto.concepts))
    }

    lazy val nDocs = spark.read.parquet(s"${cfg.sfDir}/documents.parquet").count()
    val corpus = stage(spark, io, "corpus", cfg, inputRows = nDocs) {
      Corpus.lengthBucketed(
        Corpus.extract(Corpus.readDriverDocuments(spark, cfg.sfDir)),
        cfg.scanPartitions)
    }

    lazy val nCorpus = corpus.count()
    val matches = stage(spark, io, "matches", cfg, inputRows = nCorpus) {
      scanAndFilter(spark, cfg, dict, corpus, onto.concepts, cfg.dictVersion)
    }

    val closure = stage(spark, io, "closure", cfg,
      inputRows = onto.edges.count()) {
      Closure.transitiveClosure(onto.edges, cfg.opts.hierarchyMaxLevel)
    }

    lazy val nMatches = matches.count()
    val triples = stage(spark, io, "triples", cfg, inputRows = nMatches) {
      assembleTriples(spark, cfg, matches, closure, onto.mappings, corpus,
        cfg.dictVersion)
    }

    if (cfg.materializeKg) {
      // KG analytics over the DIRECT annotation stream, fed from the
      // persisted matches checkpoint — resuming a run never re-scans the
      // corpus to rebuild graph stages
      val ann = matches.select(col("url"), col("classIri").as("class_iri"))
      val kgEdges = stage(spark, io, "kg_edges", cfg, inputRows = nMatches) {
        graft.graph.KgGraph.cooccurrence(ann)
      }
      lazy val nEdges = kgEdges.count()
      stage(spark, io, "kg_components", cfg, inputRows = nEdges) {
        graft.graph.KgGraph.connectedComponents(kgEdges)
      }
      // stage name says _weighted: the materialized scores use edge weights
      // (n_docs), matching the kg_pagerank_weighted driver query/oracle —
      // NOT the unweighted kg_pagerank one
      stage(spark, io, "kg_pagerank_weighted", cfg, inputRows = nEdges) {
        graft.graph.KgGraph.pageRankWeighted(kgEdges)
      }
    }
    if (cfg.materializeWeb) {
      // the hyperlink leg runs off the raw page table (driver-table mode
      // synthesizes the html exactly like the web_* queries do)
      val pages = graft.ops.LinkGraph.pages(
        spark.read.parquet(s"${cfg.sfDir}/documents.parquet"))
      val links = stage(spark, io, "web_links", cfg, inputRows = nDocs) {
        graft.ops.LinkGraph.links(pages)
      }
      lazy val nLinks = links.count()
      stage(spark, io, "web_host_graph", cfg, inputRows = nLinks) {
        graft.ops.LinkGraph.hostGraph(links)
      }
      stage(spark, io, "web_pagerank", cfg, inputRows = nLinks) {
        graft.graph.KgGraph.pageRankDirected(
          graft.ops.LinkGraph.pageEdges(links))
      }
    }
    triples
  }

  /** The matches-stage body, shared with the incremental path: native
    * Generator scan (in-place UTF8String bytes, no object-mode island);
    * columns renamed to the persisted Match schema. The scan is
    * parity-tested against the naive scalar matcher (`ReferenceOracle`).
    * dictShards > 1 = the S4 >driver-memory regime: the full automaton is
    * never built or broadcast whole — k shard models, one at a time. */
  private def scanAndFilter(spark: SparkSession, cfg: Config, dict: DataFrame,
                            corpus: DataFrame, concepts: DataFrame,
                            version: String): DataFrame = {
    val scanned =
      if (cfg.dictShards <= 1) {
        val bcast = AutomatonBuild.broadcastModel(spark,
          AutomatonBuild.build(spark, dict, version))
        graft.annotate.NativeAnnotate.annotateMatches(
          corpus, bcast, cfg.opts.longestOnly, cfg.opts.wholeWordOnly)
      } else {
        val shards = graft.annotate.Sharded.buildModels(
          spark, dict, version, cfg.dictShards)
        graft.annotate.NativeAnnotate.annotateMatchesSharded(
          corpus, shards, cfg.opts.longestOnly, cfg.opts.wholeWordOnly)
      }
    Filters(
      scanned
        .withColumnRenamed("class_iri", "classIri")
        .withColumnRenamed("match_type", "matchType"),
      cfg.opts,
      Some(concepts.select(col("class_iri"), explode(col("tuis")).as("tui"))))
  }

  /** The triples-stage body, shared with the incremental path: score the
    * direct matches, expand hierarchy/mappings, assemble the three legs,
    * threshold, attach part_date. */
  private def assembleTriples(spark: SparkSession, cfg: Config,
                              matches: DataFrame, closure: DataFrame,
                              mappings: DataFrame, corpus: DataFrame,
                              version: String): DataFrame = {
    val direct = Scoring.directScores(matches)
    val hier =
      if (cfg.opts.expandHierarchy)
        Expand.hierarchy(matches, closure, cfg.opts.hierarchyMaxLevel)
      else spark.emptyDataFrame
        .withColumn("url", lit(null).cast("string"))
        .withColumn("ancestor", lit(null).cast("string"))
        .withColumn("distance", lit(null).cast("int"))
    val mapped =
      if (cfg.opts.expandMappings)
        Expand.mappings(matches, mappings)
      else spark.emptyDataFrame
        .withColumn("url", lit(null).cast("string"))
        .withColumn("mapped_iri", lit(null).cast("string"))
        .withColumn("kind", lit(null).cast("string"))
    val assembled = Triples.assemble(direct, hier, mapped, version)
      .filter(col("score") >= cfg.opts.scoreThreshold)
    Triples.withPartDate(assembled, corpus)
  }

  /** Incremental dict-only update over an EXISTING completed work dir
    * ([[graft.annotate.Incremental]] as a resumable pipeline stage): build
    * the v2 dictionary as a new `dict_<version>` stage, diff it against the
    * persisted v1 dict, find affected docs from the PERSISTED matches stage
    * (plus one added-terms-only scan of the persisted corpus stage), and
    * write `triples_<version>` = kept v1 triples (re-stamped) ∪ full v2
    * annotation of the affected slice. Lineage rows and `_SUCCESS` resume
    * semantics identical to the full pipeline's stages.
    *
    * `cfg.dictVersion` names the NEW version (stage names derive from it);
    * `cfg.ontology` (edges/mappings/closure inputs) must be the run's
    * original tables — a hierarchy or mapping change is NOT a dict-only
    * update and requires the full pipeline. */
  def runIncremental(spark: SparkSession, cfg: Config,
                     v2Concepts: DataFrame): DataFrame = {
    import graft.annotate.Incremental
    val io = TableIO.forSession(spark, cfg.workDir)
    for (s <- Seq("dict", "corpus", "matches", "closure", "triples"))
      require(io.exists(spark, s),
        s"incremental update needs completed stage '$s' — run the full pipeline first")
    val v2 = cfg.dictVersion
    val onto = cfg.ontology.getOrElse(OntologyTables.fixture(spark))
    val corpus = io.read(spark, "corpus")
    // multi-consumer (count, both labelRows legs, the per-rescan TUI
    // table, the TUI-delta check) — same cache rationale as run()
    v2Concepts.cache()
    try {
      val dictV2 = stage(spark, io, s"dict_$v2", cfg,
        inputRows = v2Concepts.count()) {
        DictBuild.build(DictBuild.labelRows(v2Concepts))
      }
      lazy val nMatches = io.read(spark, "matches").count()
      stage(spark, io, s"triples_$v2", cfg, inputRows = nMatches) {
        val v1Flat = DictBuild.flatDict(io.read(spark, "dict"))
        val v2Flat = DictBuild.flatDict(dictV2)
        // with a semantic-type filter active, TUI-only concept changes flip
        // the filter with NO dict-row delta — the expanded diff covers them
        val upd =
          if (cfg.opts.semanticTypes.isEmpty) Incremental.diff(v1Flat, v2Flat)
          else Incremental.diffWithTuiDelta(v1Flat, v2Flat,
            onto.concepts, v2Concepts)
        val affected = Incremental.affectedUrls(spark, corpus,
          io.read(spark, "matches"), upd, wholeWord = cfg.opts.wholeWordOnly)
        Incremental.incrementalTriples(corpus, io.read(spark, "triples"),
          affected, v2, slice => {
            val m2 = scanAndFilter(spark, cfg, dictV2, slice, v2Concepts, v2)
            assembleTriples(spark, cfg, m2, io.read(spark, "closure"),
              onto.mappings, slice, v2)
          })
      }
    } finally v2Concepts.unpersist()
  }

  /** Execute a stage with checkpoint-or-resume + lineage emission.
    * `inputRows` is the stage's input cardinality (lazy — only forced when
    * the stage actually computes, so resumed runs pay nothing). */
  private def stage(spark: SparkSession, io: TableIO, name: String, cfg: Config,
                    inputRows: => Long)
                   (compute: => DataFrame): DataFrame = {
    if (io.exists(spark, name)) {
      io.read(spark, name) // resume: skip recompute, no new lineage rows
    } else {
      val t0 = System.nanoTime()
      val df = compute
      val partitionCols = // triples + versioned triples_<v> incremental stages
        if (name.startsWith("triples")) Seq("part_date", "dict_version") else Nil
      io.write(df, name, partitionCols)
      val persisted = io.read(spark, name)
      val wallMs = (System.nanoTime() - t0) / 1000000
      emitLineage(spark, name, persisted, inputRows, wallMs, cfg)
      persisted
    }
  }

  /** Per-partition lineage rows for a completed stage (output row counts per
    * partition, stage input cardinality, wall time). At cluster scale this
    * would come from task-level accumulators; a post-hoc count over the
    * checkpoint keeps the local path simple and exact. */
  private def emitLineage(spark: SparkSession, stage: String,
                          persisted: DataFrame, inputRows: Long, wallMs: Long,
                          cfg: Config): Unit = {
    import spark.implicits._
    val counts = persisted
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("output_rows"))
      .as[(Int, Long)].collect()
    val rows = counts.map { case (pid, n) =>
      Lineage(stage, pid, inputRows, n, wallMs, cfg.dictVersion, cfg.runId)
    }.toSeq
    spark.createDataFrame(rows).write.mode("append")
      .parquet(s"${cfg.workDir}/lineage")
  }
}

object Main {

  /** One session builder for both entry points — the runtime config must
    * not diverge between the full and the incremental job. */
  private[graft] def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-work"
    val spark = session("graft-annotate")
    // optional 3rd arg: directory of N-Triples ontology submissions
    // (one subdir per acronym) — real RDF in place of the fixture
    val ontology =
      if (args.length > 2) Some(OntologyTables.fromNTriples(spark, args(2))) else None
    val triples = Pipeline.run(spark, Pipeline.Config(sfDir, workDir, ontology = ontology))
    println(s"triples: ${triples.count()}")
    spark.stop()
  }
}

/** The ontology-refresh job (spark-submit entry for
  * [[Pipeline.runIncremental]]): apply a dict-only v2 update to an EXISTING
  * completed work dir. v2 concepts come from an N-Triples submissions dir
  * when given, else the fixture's built-in v2 delta ("query" loses its
  * synonyms, "big data" renamed away, ONT3 gains "filter"). In the NT case
  * the SAME tables also supply `cfg.ontology` (mappings/edges for the
  * affected-slice rescan) — legal exactly because a dict-only update keeps
  * them identical to v1's; leaving the fixture default there would expand
  * rescanned docs against the WRONG mapping IRIs and silently drop their
  * mapped legs. */
object IncrementalMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-work"
    val spark = Main.session("graft-annotate-incremental")
    val (v2Concepts, ontology) =
      if (args.length > 2) {
        val t = OntologyTables.fromNTriples(spark, args(2))
        (t.concepts, Some(t))
      } else (graft.fixture.OntologyFixture.conceptsV2Df(spark), None)
    val triples = Pipeline.runIncremental(spark,
      Pipeline.Config(sfDir, workDir, dictVersion = "v2", ontology = ontology),
      v2Concepts)
    println(s"triples_v2: ${triples.count()}")
    spark.stop()
  }
}
