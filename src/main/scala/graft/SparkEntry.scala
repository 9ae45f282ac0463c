package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Corpus, Expand, Filters, Scoring}
import graft.dict.{AnnotatorModel, AutomatonBuild, DictBuild}
import graft.emit.Triples
import graft.fixture.OntologyFixture
import graft.graph.Closure
import graft.ops.{AsOf, Dedup, LinkGraph, Multimodal, RangeJoin, Sampling, Similarity, Sketch, TextOps, WebOps}
import graft.streaming.EventStream

/** Driver contract (SURVEY.md §6.2): one `queries` entry per implemented
  * operator; `oracleSql` gives the DuckDB-equivalent ANSI SQL over the same
  * parquet tables for every SQL-expressible operator. The deterministic
  * ontology fixture is inlined into the oracle SQL as VALUES (single source
  * of truth: [[OntologyFixture]]), so even the annotation pipeline itself is
  * DuckDB-checked, not just rows-only. Non-SQL-expressible ops (automaton
  * longest-only offsets, hash-based LSH/simhash/fingerprints, binary
  * multimodal plumbing) are covered by the in-repo naive-matcher/scalar
  * oracles in the test suite instead.
  *
  * Column-name parity rule: every aggregate/computed column is aliased to the
  * SAME name in both the Spark query and the oracle SQL (the driver sorts
  * columns by name before hashing).
  */
object SparkEntry {

  // ---- shared fixture-model plumbing (cached per session) ---------------

  private[graft] val modelCache = new ConcurrentHashMap[SparkSession, Broadcast[AnnotatorModel]]()
  private[graft] val closureCache = new ConcurrentHashMap[SparkSession, DataFrame]()
  private[graft] val mapsCache =
    new ConcurrentHashMap[SparkSession, Broadcast[graft.annotate.NativeAnnotate.ExpansionMaps]]()

  private[graft] def fusedMaps(s: SparkSession): Broadcast[graft.annotate.NativeAnnotate.ExpansionMaps] =
    mapsCache.computeIfAbsent(s, s => s.sparkContext.broadcast(
      graft.annotate.NativeAnnotate.expansionMaps(
        closure(s), OntologyFixture.mappingsDf(s), MaxLevel)))

  private[graft] def model(s: SparkSession): Broadcast[AnnotatorModel] =
    modelCache.computeIfAbsent(s, s => {
      val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(s)))
      AutomatonBuild.broadcastModel(s, AutomatonBuild.build(s, dict, "v1"))
    })

  private[graft] val modelV2Cache = new ConcurrentHashMap[SparkSession, Broadcast[AnnotatorModel]]()
  private[graft] def modelV2(s: SparkSession): Broadcast[AnnotatorModel] =
    modelV2Cache.computeIfAbsent(s, s => {
      val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsV2Df(s)))
      AutomatonBuild.broadcastModel(s, AutomatonBuild.build(s, dict, "v2"))
    })

  /** The fixture's v1→v2 dictionary delta — ONE definition for both the
    * `dict_diff` and `ann_incremental` queries (diverging copies would
    * silently test different deltas). */
  private[graft] def fixtureDictUpdate(s: SparkSession): graft.annotate.Incremental.DictUpdate =
    graft.annotate.Incremental.diff(
      DictBuild.flatDict(DictBuild.build(
        DictBuild.labelRows(OntologyFixture.conceptsDf(s)))),
      DictBuild.flatDict(DictBuild.build(
        DictBuild.labelRows(OntologyFixture.conceptsV2Df(s)))))

  /** ONE v1→v2 incremental-update orchestration shared by
    * `ann_incremental` (whose oracle proves incremental == full v2
    * recompute) and `kg_fact_diff` (the release diff built ON that
    * guarantee) — diverging copies would silently exercise different
    * update flows. Returns (v1 triples, v2-via-incremental triples); v1 is
    * pinned once (it feeds the incremental anti-join and callers' reuse). */
  private[graft] def incrementalV1V2(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val c = corpus(s, dir)
    val v1T = graft.annotate.NativeAnnotate
      .annotateTriples(c, model(s), fusedMaps(s), "v1").localCheckpoint()
    val affected = graft.annotate.Incremental.affectedUrls(
      s, c, matches(s, dir), fixtureDictUpdate(s))
    val v2T = graft.annotate.Incremental
      .incrementalTriples(c, v1T, affected, "v2", slice =>
        graft.annotate.NativeAnnotate
          .annotateTriples(slice, modelV2(s), fusedMaps(s), "v2"))
    (v1T, v2T)
  }

  private[graft] val shardedCache =
    new ConcurrentHashMap[SparkSession, Seq[Broadcast[AnnotatorModel]]]()
  private[graft] def shardedModels(s: SparkSession): Seq[Broadcast[AnnotatorModel]] =
    shardedCache.computeIfAbsent(s, s => {
      val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(s)))
      graft.annotate.Sharded.buildModels(s, dict, "v1", numShards = 4)
    })

  private[graft] def closure(s: SparkSession): DataFrame =
    closureCache.computeIfAbsent(s, s =>
      Closure.transitiveClosure(OntologyFixture.edgesDf(s), MaxLevel))

  private[graft] val MaxLevel = 5

  private[graft] val lemmaModelCache = new ConcurrentHashMap[SparkSession, Broadcast[AnnotatorModel]]()
  private[graft] def lemmaModel(s: SparkSession): Broadcast[AnnotatorModel] =
    lemmaModelCache.computeIfAbsent(s, s => {
      val dict = DictBuild.buildLemmatized(DictBuild.labelRows(OntologyFixture.conceptsDf(s)))
      AutomatonBuild.broadcastModel(s, AutomatonBuild.build(s, dict, "v1-lemma"))
    })

  /** Pre-build every session-cached dictionary-side artifact (automaton,
    * shard models, lemma model, closure, expansion maps). The bench calls
    * this OUTSIDE its timed sections: dictionary builds are offline
    * per-dict-version work (BASELINE.md excludes them from the headline),
    * and without the pre-warm the first timed run of whichever query first
    * touches a cold cache pays it — BENCH_r02's ann_sharded=3.5 s was the
    * one-time 4-shard build + a drift window, not the scan (interleaved
    * QueryProbe: warm sharded scan ≈ 1.03× ann_direct). */
  def warmCaches(s: SparkSession): Unit = {
    model(s); shardedModels(s); lemmaModel(s); closure(s); fusedMaps(s)
  }

  private[graft] def docsTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Deterministic dictionary-snapshot timeline for the as-of query —
    * weekly snapshots spanning the seeded events month, with the first two
    * days uncovered so the no-version-yet (NULL) leg is exercised. Epoch
    * instants (TZ-proof); the oracle inlines the same instants as UTC
    * TIMESTAMP literals. */
  private[graft] val DictSnapshots: Seq[(java.sql.Timestamp, String)] =
    Seq("2024-01-03" -> "v1", "2024-01-08" -> "v2", "2024-01-15" -> "v3",
        "2024-01-22" -> "v4", "2024-01-29" -> "v5").map { case (d, v) =>
      java.sql.Timestamp.from(java.time.Instant.parse(s"${d}T00:00:00Z")) -> v
    }

  /** `kg_asof_snapshot`'s point-in-time instant: base epoch + one week +
    * 250 doc-minutes — docs with id ≤ 250 (and a snapshot-2 capture) read
    * from the re-crawl at T, the rest from snapshot 1, so the as-of
    * frontier mixes both captures at every SF. Shared with the oracle. */
  private[graft] val AsOfEpoch = 1700000000L + 604800L + 15000L

  /** Visits in the `kg_fact_intervals` capture history — odd visits keep
    * only the first half of the tokens, so second-half facts flicker into
    * multiple validity intervals (shared with the oracle SQL). */
  private[graft] val FactVisits = 6

  /** Document-frequency floor for `dict_stop_candidates` (shared with the
    * oracle SQL): a term matching in ≥ this fraction of the corpus is a
    * stop-list candidate. */
  private[graft] val StopDfFloor = 0.5

  /** Candidate functional dependencies for `q_fd_discovery` —
    * `(table, lhs columns, rhs column)`, a deterministic mix of holding
    * (key-implied) and failing candidates; SINGLE SOURCE for the Column
    * code and the oracle SQL. */
  private[graft] val FdCandidates: Seq[(String, Seq[String], String)] = Seq(
    ("orders", Seq("o_orderkey"), "o_custkey"), // key → holds
    ("orders", Seq("o_custkey"), "o_orderstatus"), // repeat customers
    ("orders", Seq("o_orderstatus"), "o_orderpriority"),
    ("lineitem", Seq("l_orderkey", "l_linenumber"), "l_partkey"), // composite key
    ("lineitem", Seq("l_partkey"), "l_suppkey"),
    ("lineitem", Seq("l_suppkey"), "l_returnflag"))

  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    Corpus.extract(Corpus.fromDriverTable(docsTable(s, dir)))

  /** Shared direct-match stream — the native Generator scan, so every ann_*
    * oracle query downstream exercises the scan `Pipeline.run` uses. */
  private[graft] def matches(s: SparkSession, dir: String): DataFrame =
    graft.annotate.NativeAnnotate.annotateMatches(corpus(s, dir), model(s))

  /** Scale-adaptive doc-scan respread (optimization-guide §2.5: an input
    * with fewer splits than cores — a single-row-group parquet, a gzip
    * member — runs every downstream map nearly serially; repartition right
    * after the read). IDENTITY whenever the scan already carries ≥ cores
    * partitions, i.e. at any real corpus size — the exchange only exists
    * where the alternative is an idle cluster. Safe only on scan-shaped
    * frames (`.rdd` on a post-exchange frame would force eager AQE
    * execution). */
  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** [[matches]] over the respread scan — for the graph-tier consumers
    * whose cost is the corpus-wide annotate map feeding an aggregation
    * (cooccurrence chains, itemsets, the AMS key stream). The flagship
    * ann_* entries keep the raw single-pass scan: their zero-exchange
    * plans ARE the asserted contract, and their cost is the scan itself.
    *
    * Measured boundary (kept narrow on purpose): the respread WINS where
    * one expensive map chain follows (annotate → cooccurrence/transe:
    * kg_cooccur 1.88 → 1.58 s, kg_components 4.79 → 2.92 s) and LOSES
    * where a query fans into many cheap legs — each leg becomes a
    * 32-task stage, and an explicit repartition is exempt from AQE
    * coalescing, so scheduling overhead swamps the map parallelism
    * (blanket-spreading the web/text/evidence tiers regressed text_rm3
    * 1.4 → 3.4 s, kg_truthfinder 2.0 → 4.0 s wall; measured and
    * reverted). */
  private[graft] def corpusPar(s: SparkSession, dir: String): DataFrame =
    Corpus.extract(Corpus.fromDriverTable(spreadScan(docsTable(s, dir))))

  private[graft] def matchesPar(s: SparkSession, dir: String): DataFrame =
    graft.annotate.NativeAnnotate.annotateMatches(corpusPar(s, dir), model(s))

  /** Shared 3-extractor evidence stream `(subj, obj, extractor)` — direct
    * dictionary annotation, lemma annotation, and incoming anchor-text
    * entity linking, all keyed to the page's canonical URL. Feeds
    * `kg_triple_confidence` (noisy-OR per fact) and `kg_fact_fusion`
    * (functional-property winner per page). */
  private[graft] def extractionEvidence(s: SparkSession, dir: String): DataFrame = {
    val umap = WebOps.withUrls(docsTable(s, dir)).select(
      concat(lit("doc://"), col("doc_id")).as("doc_url"),
      WebOps.canonicalUrl(col("url")).as("subj"))
    val dEv = matches(s, dir)
      .select(col("url").as("doc_url"), col("class_iri")).distinct()
      .join(umap, "doc_url")
      .select(col("subj"), col("class_iri").as("obj"),
        lit("direct").as("extractor"))
    val lEv = graft.annotate.NativeAnnotate
      .annotateMatches(corpus(s, dir), lemmaModel(s), lemmatize = true)
      .select(col("url").as("doc_url"), col("class_iri")).distinct()
      .join(umap, "doc_url")
      .select(col("subj"), col("class_iri").as("obj"),
        lit("lemma").as("extractor"))
    val aEv = {
      val anchors = LinkGraph.links(LinkGraph.pages(docsTable(s, dir)))
        .select(col("dst_url").as("url"), col("anchor").as("text")).distinct()
      graft.annotate.NativeAnnotate.annotateMatches(anchors, model(s))
        .select(col("url").as("subj"), col("class_iri").as("obj")).distinct()
        .select(col("subj"), col("obj"), lit("anchor").as("extractor"))
    }
    dEv.unionByName(lEv).unionByName(aEv)
  }

  /** Flagship: full annotate pipeline (direct + expansions → triples) on the
    * smoke slice, through the assembly `Pipeline.run` executes — native
    * match scan → `Scoring.directScores` → `Expand` joins →
    * `Triples.assemble`; driver checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val m = matches(spark, dir)
      .withColumnRenamed("class_iri", "classIri")
      .withColumnRenamed("match_type", "matchType")
    Triples.assemble(Scoring.directScores(m),
      Expand.hierarchy(m, closure(spark), MaxLevel),
      Expand.mappings(m, OntologyFixture.mappingsDf(spark)), "v1")
  }

  // ---- queries ----------------------------------------------------------

  private[graft] lazy val queriesSeq: Seq[(String, (SparkSession, String) => DataFrame)] =
    AnnTier.queries ++ DictTier.queries ++ WebTier.queries ++ KgTier.queries ++ TextTier.queries ++ CurateTier.queries ++ DedupSimTier.queries ++ CoreTier.queries

  /** Registry with a LOUD duplicate-name gate. `Map(...)` varargs silently
    * keep only the last entry per key — that bit once in round 4 (a
    * duplicate `io_jsonl_roundtrip` key shrank the surface and only the
    * dump count exposed it), so the Seq→Map conversion now fails fast. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val dups = queriesSeq.groupBy(_._1).collect { case (k, vs) if vs.sizeIs > 1 => k }
    require(dups.isEmpty, s"duplicate query names in registry: ${dups.mkString(", ")}")
    queriesSeq.toMap
  }

  // ---- oracle SQL -------------------------------------------------------

  /** DuckDB twin of [[graft.ops.TextOps.qualityScore]] — ONE source for
    * every oracle's quality leg. Exact-rational half-up 4dp in BIGINT
    * (`//` is DuckDB integer division): the former float-ROUND form
    * disagreed with the engine on scores landing EXACTLY on a .xxxx5
    * boundary (three sf0.1 docs). References the bare `text` column of the
    * enclosing FROM table. */
  private[graft] val quality4ExprSql: String =
    """((10000 * (4 * LEAST(len(string_split(text, ' ')), 100)
            * len(string_split(text, ' '))
          + 300 * len(list_distinct(string_split(text, ' ')))
          + 300 * (len(string_split(text, ' '))
              - len(list_filter(string_split(text, ' '),
                  x -> x IN ('the', 'a')))))
          + 500 * len(string_split(text, ' ')))
        // (1000 * len(string_split(text, ' '))))"""

  private[graft] val qualityExprSql: String =
    s"(CAST($quality4ExprSql AS DOUBLE) / 10000.0)"

  private[graft] def dictCte =
    s"dict(term, class_iri, ont, pref) AS (SELECT * FROM (VALUES ${OntologyFixture.dictValues}) v(a,b,c,d))"
  /** v2 dictionary under the SAME CTE name, so `directCte` composes with
    * either version (the incremental oracle is a full v2 recomputation). */
  private[graft] def dictV2Cte =
    s"dict(term, class_iri, ont, pref) AS (SELECT * FROM (VALUES ${OntologyFixture.dictValuesV2}) v(a,b,c,d))"
  private[graft] def edgesCte =
    s"edges(child_iri, parent_iri) AS (SELECT * FROM (VALUES ${OntologyFixture.edgesValues}) v(a,b))"
  private[graft] def mappingsCte =
    s"maps(class_iri, mapped_iri, kind) AS (SELECT * FROM (VALUES ${OntologyFixture.mappingsValues}) v(a,b,c))"
  private[graft] def resolutionCte =
    s"res(class_iri, preferred_iri) AS (SELECT * FROM (VALUES ${OntologyFixture.cuiResolutionValues}) v(a,b))"
  private[graft] val directCte =
    raw"""direct AS (SELECT DISTINCT 'doc://' || doc_id AS url, d.class_iri, d.ont,
          CASE WHEN d.pref THEN 'PREF' ELSE 'SYN' END AS match_type
          FROM documents, dict d
          WHERE regexp_matches(upper(text), '\b' || d.term || '\b'))"""
  /** MinHash+LSH pipeline CTEs (signatures → banding → bucket cap →
    * candidates → exact shingle intersection + sizes) — shared by the
    * dedup_minhash oracle (jaccard select) and the dedup_cluster oracle
    * (recursive components over the thresholded pair set). */
  private[graft] def minhashCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
          pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
          sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
          hh AS (SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 576460752303423433 AS h1,
                   ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 576460752303423433 AS h2
                 FROM sh),
          hs AS (SELECT doc_id, i AS hi,
                   MIN((h1 + i * h2) % 576460752303423433) AS mh
                 FROM hh, (SELECT unnest(range(16)) AS i) GROUP BY doc_id, hi),
          sig AS (SELECT doc_id, array_agg(CAST(mh AS VARCHAR) ORDER BY hi) AS mhs
                  FROM hs GROUP BY doc_id),
          bands AS (SELECT doc_id, b,
                      array_to_string(mhs[b*4+1 : b*4+4], '|') AS bucket
                    FROM sig, (SELECT unnest(range(4)) AS b)),
          pop AS (SELECT b, bucket, COUNT(*) AS n FROM bands GROUP BY b, bucket),
          cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                   FROM bands l
                   JOIN bands r ON l.b = r.b AND l.bucket = r.bucket
                     AND l.doc_id < r.doc_id
                   JOIN pop p ON p.b = l.b AND p.bucket = l.bucket AND p.n <= 1000),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                    FROM sh a
                    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
                    GROUP BY 1, 2),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"""

  /** ONE unrolled directed-PR round generator shared by ALL directed-
    * PageRank-family oracles (uniform, personalized, and both TrustRank
    * chains) — the `directedPrCore` twin: per round the dangling scalar
    * (rank mass on out-edge-less nodes, via anti-join on `ow`) and the
    * contribution agg over `ew`, then pr = (1−d)·t + d·(contrib + dm·t)
    * with the teleport column `t` read from `tnodes` (uniform 1/n or the
    * seed vector — the SAME abstraction the engine uses, so the arithmetic
    * shape is engine-identical in every variant). Rank CTEs MATERIALIZED —
    * each is referenced twice per round (dangling + contributions), which
    * plain-CTE inlining would expand 2^iters-fold. Callers provide the
    * `ow`/`ew` scaffolding and a `$prefix0` base CTE. */
  private[graft] def prRoundsCtesSql(iters: Int, prefix: String, tnodes: String,
                              ow: String = "ow", ew: String = "ew"): String =
    (1 to iters).map { i =>
      s"""dang$prefix$i AS (SELECT COALESCE(SUM(x.pr), CAST(0 AS DOUBLE)) AS dm
            FROM $prefix${i - 1} x LEFT JOIN $ow o ON o.a = x.node
            WHERE o.a IS NULL),
          ctr$prefix$i AS (SELECT e.b AS node, SUM(x.pr * e.w / e.s) AS c
            FROM $ew e JOIN $prefix${i - 1} x ON x.node = e.a GROUP BY e.b),
          $prefix$i AS MATERIALIZED (SELECT n.node,
              CAST(0.15 AS DOUBLE) * n.t
                + CAST(0.85 AS DOUBLE) * (COALESCE(c.c, CAST(0 AS DOUBLE))
                    + (SELECT dm FROM dang$prefix$i) * n.t) AS pr
            FROM $tnodes n LEFT JOIN ctr$prefix$i c ON c.node = n.node)"""
    }.mkString(",\n")

  /** Shared page-level PR scaffolding: link edges aggregated to
    * (a, b, w), out-weights, edge+strength, and the node universe. */
  private[graft] def pageEdgesPrScaffoldSql: String =
    s"""${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS a,
            dst_url AS b, CAST(COUNT(*) AS DOUBLE) AS w
          FROM lnk GROUP BY 1, 2),
        ow AS MATERIALIZED (SELECT a, SUM(w) AS s FROM edges GROUP BY a),
        ew AS MATERIALIZED (SELECT e.a, e.b, e.w, o.s
          FROM edges e JOIN ow o USING (a)),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
          (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges))"""

  /** The HLL estimator as SQL over folded-register columns `n`/`s` —
    * raw harmonic form + the linear-counting branch, the
    * [[graft.ops.Sketch.hllDistinct]] constants (shared by the sketch_hll
    * and sketch_hll_overlap oracles). */
  private[graft] def hllEstCaseSql(n: String, s: String): String = {
    import graft.ops.Sketch.{HllM, HllRawNum, HllScale}
    s"""CASE WHEN $HllRawNum / CAST($s + ($HllM - $n) * $HllScale AS DOUBLE)
              <= ${2.5 * HllM} AND $n < $HllM
         THEN ${HllM.toDouble} * ln(${HllM.toDouble}
                / CAST($HllM - $n AS DOUBLE))
         ELSE $HllRawNum / CAST($s + ($HllM - $n) * $HllScale AS DOUBLE)
         END"""
  }

  /** Unrolled h-index-coreness oracle ([[graft.graph.KgGraph.coreness]]
    * twin over the page graph): canonical least/greatest undirected
    * edges, c0 = degree, `iters` rounds of the `MAX(LEAST(rn, cv))`
    * H-index identity — the engine's exact-convergence `require` licenses
    * the fixed unroll (post-convergence rounds are no-ops). */
  private[graft] def corenessOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""nb$r AS (SELECT u.node, c.c AS cv
            FROM und u JOIN c${r - 1} c ON c.node = u.nbr),
          c$r AS MATERIALIZED (SELECT node, MAX(LEAST(rn, cv)) AS c FROM
            (SELECT node, cv,
               CAST(ROW_NUMBER() OVER (PARTITION BY node ORDER BY cv DESC)
                 AS BIGINT) AS rn
             FROM nb$r) z
            GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        pe AS (SELECT DISTINCT
                 ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src,
                 dst_url AS dst FROM lnk),
        ce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
                GREATEST(src, dst) AS b FROM pe WHERE src <> dst),
        und AS MATERIALIZED (SELECT a AS node, b AS nbr FROM ce
               UNION ALL SELECT b AS node, a AS nbr FROM ce),
        c0 AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS c
               FROM und GROUP BY 1),
        $rounds
        SELECT node AS page, c AS coreness FROM c$iters"""
  }

  /** Unrolled DIRECTED-PageRank oracle ([[graft.graph.KgGraph
    * .pageRankDirected]] twin over [[graft.ops.LinkGraph]] page edges):
    * [[prRoundsCtesSql]] rounds with the uniform teleport column. */
  private[graft] def pageRankDirectedOracleSql(iters: Int): String =
    s"""WITH $pageEdgesPrScaffoldSql,
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        unodes AS MATERIALIZED (SELECT node,
            CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS t FROM nodes),
        pr0 AS (SELECT node, t AS pr FROM unodes),
        ${prRoundsCtesSql(iters, "pr", "unodes")}
        SELECT node AS page, ROUND(pr, 6) AS pagerank FROM pr$iters"""

  /** Unrolled deterministic-walk oracle ([[graft.graph.KgGraph
    * .randomWalks]] twin over page edges): sorted adjacency lists, step t
    * indexes `hash60(start|t|node) % deg` — the portable md5 hash verbatim;
    * frontier CTEs MATERIALIZED (each feeds the next step AND the union). */
  private[graft] def walksOracleSql(length: Int): String = {
    val steps = (1 to length).map { t =>
      s"""w$t AS MATERIALIZED (SELECT w.start, $t AS step,
            a.nbrs[CAST(('0x' || substr(md5(w.start || '|' || $t || '|'
                || w.node), 1, 15))::BIGINT % len(a.nbrs) + 1 AS INT)] AS node
          FROM w${t - 1} w JOIN adj a ON a.src = w.node)"""
    }.mkString(",\n")
    val union = (0 to length).map(t => s"SELECT * FROM w$t")
      .mkString(" UNION ALL ")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        pedges AS (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src,
            dst_url AS dst FROM lnk),
        adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs
          FROM pedges GROUP BY src HAVING COUNT(*) <= 10000),
        w0 AS (SELECT src AS start, 0 AS step, src AS node FROM adj),
        $steps
        $union"""
  }

  /** web_node2vec oracle ([[graft.graph.KgGraph.node2vecWalks]] twin):
    * step 1 is the DeepWalk hash-mod pick; each later step unnests the
    * current node's neighbor list WITH ORDINALITY, weighs candidates by
    * the shared CASE (prev / in-N(prev) / out), and keeps the single row
    * whose cumulative-weight interval contains the hash draw — exact
    * BIGINT cumsums over ≤ maxDegree rows per walk. */
  private[graft] def node2vecOracleSql(length: Int): String = {
    import graft.graph.KgGraph.{N2vWBase, N2vWOut, N2vWReturn}
    val steps = (2 to length).map { t =>
      s"""c$t AS (SELECT w.start, w.node, w.prev, a.nbrs, pa.nbrs AS pnbrs,
              ('0x' || substr(md5(w.start || '|' || $t || '|' || w.prev
                || '|' || w.node), 1, 15))::BIGINT AS h
            FROM n$t w JOIN adj a ON a.src = w.node
            JOIN adj pa ON pa.src = w.prev),
          e$t AS (SELECT start, node, prev, h, nbrs, pnbrs,
              unnest(generate_series(1, len(nbrs))) AS i FROM c$t),
          x$t AS (SELECT start, node, prev, h, i, nbrs[i] AS x,
              CASE WHEN nbrs[i] = prev THEN $N2vWReturn
                   WHEN list_contains(pnbrs, nbrs[i]) THEN $N2vWBase
                   ELSE $N2vWOut END AS wt
            FROM e$t),
          k$t AS (SELECT *,
              SUM(wt) OVER (PARTITION BY start ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              SUM(wt) OVER (PARTITION BY start) AS tot
            FROM x$t),
          n${t + 1} AS MATERIALIZED (SELECT start, node AS prev, x AS node
            FROM k$t WHERE cum - wt <= h % tot AND h % tot < cum)"""
    }.mkString(",\n")
    val union = (0 to length).map(t =>
      s"SELECT start, $t AS step, node FROM n${t + 1}").mkString(" UNION ALL ")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        pedges AS (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src,
            dst_url AS dst FROM lnk),
        adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs
          FROM pedges GROUP BY src HAVING COUNT(*) <= 10000),
        n1 AS (SELECT src AS start, CAST(NULL AS VARCHAR) AS prev,
               src AS node FROM adj),
        n2 AS MATERIALIZED (SELECT w.start, w.node AS prev,
            a.nbrs[CAST(('0x' || substr(md5(w.start || '|' || 1 || '|'
                || w.node), 1, 15))::BIGINT % len(a.nbrs) + 1 AS INT)] AS node
          FROM n1 w JOIN adj a ON a.src = w.node),
        $steps
        $union"""
  }

  /** web_sgns_step oracle ([[graft.ops.KgEmbed.sgnsStep]] twin): the walk
    * pairs rebuilt, the context-side corruption chain (hash-index pick,
    * self/true-pair drop), bit-identical `w:`/`c:` md5 inits in long
    * format, ROUND(6) dots, σ terms as the same single divisions, mean
    * gradients, SGD update, rescore — then the per-center softplus loss
    * rollup before/after. */
  private[graft] def sgnsStepOracleSql: String = materializeCtes {
    val dim = graft.ops.KgEmbed.Dim
    val negK = graft.ops.KgEmbed.NegK
    val lr = graft.ops.KgEmbed.Lr
    val two60 = "1152921504606846976.0"
    def init(prefix: String, idExpr: String) =
      s"('0x' || substr(md5('$prefix' || $idExpr || ':' ||" +
        s" CAST(dd.d AS VARCHAR)), 1, 15))::BIGINT / $two60 * 2 - 1"
    def pdSql(name: String, we: String, ce: String) =
      s"""$name AS (SELECT n.center, n.context, n.slot, n.neg_ctx, dd.d,
            w.v * cp.v AS vp, w.v * cn.v AS vn
          FROM negf n
          CROSS JOIN dims dd
          JOIN $we w ON w.ent = n.center AND w.d = dd.d
          JOIN $ce cp ON cp.ent = n.context AND cp.d = dd.d
          JOIN $ce cn ON cn.ent = n.neg_ctx AND cn.d = dd.d)"""
    def psSql(name: String, from: String) =
      s"""$name AS (SELECT center, context, slot, neg_ctx,
            ROUND(SUM(vp), 6) AS sp, ROUND(SUM(vn), 6) AS sn
          FROM $from GROUP BY 1, 2, 3, 4)"""
    val lossExpr = "ln(1.0 + exp(-sp)) + ln(1.0 + exp(sn))"
    s"""WITH walks AS MATERIALIZED (
          SELECT * FROM (${walksOracleSql(length = 4)}) w),
        wpairs AS (SELECT DISTINCT a.node AS center, b.node AS context
          FROM walks a JOIN walks b
            ON b.start = a.start AND b.step <> a.step
            AND ABS(a.step - b.step) <= 2),
        ents AS (SELECT ctx, ROW_NUMBER() OVER (ORDER BY ctx) - 1 AS eid
          FROM (SELECT DISTINCT context AS ctx FROM wpairs)),
        nn AS (SELECT COUNT(*) AS n FROM ents),
        cand AS (SELECT p.center, p.context, CAST(s.slot AS INT) AS slot,
            ('0x' || substr(md5(p.center || '|' || p.context || '|'
              || CAST(s.slot AS VARCHAR)), 1, 15))::BIGINT
              % (SELECT n FROM nn) AS eid
          FROM wpairs p,
            (SELECT unnest(generate_series(0, ${negK - 1})) AS slot) s),
        negs AS (SELECT c.center, c.context, c.slot, e.ctx AS neg_ctx
          FROM cand c JOIN ents e USING (eid)
          WHERE e.ctx <> c.context),
        negf AS (SELECT n.center, n.context, n.slot, n.neg_ctx
          FROM negs n LEFT JOIN wpairs p
            ON p.center = n.center AND p.context = n.neg_ctx
          WHERE p.center IS NULL),
        dims AS (SELECT unnest(generate_series(1, $dim)) AS d),
        we0 AS (SELECT center AS ent, dd.d, ${init("w:", "center")} AS v
          FROM (SELECT DISTINCT center FROM wpairs), dims dd),
        ce0 AS (SELECT ctx AS ent, dd.d, ${init("c:", "ctx")} AS v
          FROM ents, dims dd),
        ${pdSql("pd0", "we0", "ce0")},
        ${psSql("ps0", "pd0")},
        gg AS (SELECT center, context, slot, neg_ctx,
            -1.0 / (1.0 + exp(sp)) AS gp, 1.0 / (1.0 + exp(-sn)) AS gn
          FROM ps0),
        wcon AS (
          SELECT g.center AS ent, dd.d, g.gp * cp.v AS gc
          FROM gg g CROSS JOIN dims dd
          JOIN ce0 cp ON cp.ent = g.context AND cp.d = dd.d
          UNION ALL
          SELECT g.center AS ent, dd.d, g.gn * cn.v AS gc
          FROM gg g CROSS JOIN dims dd
          JOIN ce0 cn ON cn.ent = g.neg_ctx AND cn.d = dd.d),
        ccon AS (
          SELECT g.context AS ent, dd.d, g.gp * w.v AS gc
          FROM gg g CROSS JOIN dims dd
          JOIN we0 w ON w.ent = g.center AND w.d = dd.d
          UNION ALL
          SELECT g.neg_ctx AS ent, dd.d, g.gn * w.v AS gc
          FROM gg g CROSS JOIN dims dd
          JOIN we0 w ON w.ent = g.center AND w.d = dd.d),
        wg AS (SELECT ent, d, ROUND(AVG(gc), 6) AS g FROM wcon GROUP BY 1, 2),
        cg AS (SELECT ent, d, ROUND(AVG(gc), 6) AS g FROM ccon GROUP BY 1, 2),
        we1 AS (SELECT x.ent, x.d, x.v - $lr * COALESCE(g.g, 0.0) AS v
          FROM we0 x LEFT JOIN wg g ON g.ent = x.ent AND g.d = x.d),
        ce1 AS (SELECT x.ent, x.d, x.v - $lr * COALESCE(g.g, 0.0) AS v
          FROM ce0 x LEFT JOIN cg g ON g.ent = x.ent AND g.d = x.d),
        ${pdSql("pd1", "we1", "ce1")},
        ${psSql("ps1", "pd1")},
        lb AS (SELECT center, COUNT(*) AS n_pairs,
            ROUND(AVG($lossExpr), 6) AS loss_before
          FROM ps0 GROUP BY 1),
        la AS (SELECT center, ROUND(AVG($lossExpr), 6) AS loss_after
          FROM ps1 GROUP BY 1)
        SELECT center, n_pairs, loss_before, loss_after
        FROM lb JOIN la USING (center)"""
  }

  /** Unrolled WARM-START oracle ([[graft.graph.KgGraph.pageRankWarmStart]]
    * twin): 5 cold rounds on the v1 edge set, then the published (6dp-
    * rounded) ranks seed `itersWarm` rounds over the UPDATED edge set
    * (v1 ∪ the hash-selected reversed 10%, counts merged) — the
    * incremental-maintenance contract `kg_fact_diff`'s sibling. */
  private[graft] def warmPrOracleSql(itersCold: Int, itersWarm: Int): String =
    s"""WITH $pageEdgesPrScaffoldSql,
        dflt AS (SELECT b AS a, a AS b, w FROM edges
          WHERE ('0x' || substr(md5(a || '|' || b), 1, 15))::BIGINT % 10 = 0),
        edges2 AS MATERIALIZED (SELECT a, b, SUM(w) AS w FROM
          (SELECT * FROM edges UNION ALL SELECT * FROM dflt) GROUP BY 1, 2),
        ow2 AS MATERIALIZED (SELECT a, SUM(w) AS s FROM edges2 GROUP BY a),
        ew2 AS MATERIALIZED (SELECT e.a, e.b, e.w, o.s
          FROM edges2 e JOIN ow2 o USING (a)),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        unodes AS MATERIALIZED (SELECT node,
            CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS t FROM nodes),
        pr0 AS (SELECT node, t AS pr FROM unodes),
        ${prRoundsCtesSql(itersCold, "pr", "unodes")},
        wpr0 AS (SELECT n.node, COALESCE(i.pr, n.t) AS pr
          FROM unodes n LEFT JOIN
            (SELECT node, ROUND(pr, 6) AS pr FROM pr$itersCold) i
            ON i.node = n.node),
        ${prRoundsCtesSql(itersWarm, "wpr", "unodes", ow = "ow2", ew = "ew2")}
        SELECT node AS page, ROUND(pr, 6) AS pagerank FROM wpr$itersWarm"""

  /** Unrolled PERSONALIZED-PageRank oracle ([[graft.graph.KgGraph
    * .pageRankPersonalized]] twin): the teleport vector (1/|S| on the
    * `nSeeds` lexicographically-first nodes) rides the node CTE;
    * [[prRoundsCtesSql]] rounds against it. */
  private[graft] def pprOracleSql(iters: Int, nSeeds: Int): String =
    s"""WITH $pageEdgesPrScaffoldSql,
        seeds AS (SELECT node FROM nodes ORDER BY node LIMIT $nSeeds),
        ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
        tnodes AS MATERIALIZED (SELECT n.node,
            COALESCE(s.t, CAST(0 AS DOUBLE)) AS t
          FROM nodes n LEFT JOIN
            (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM ns) AS t
             FROM seeds) s ON s.node = n.node),
        pr0 AS (SELECT node, t AS pr FROM tnodes),
        ${prRoundsCtesSql(iters, "pr", "tnodes")}
        SELECT node AS page, ROUND(pr, 6) AS pagerank FROM pr$iters"""

  /** Unrolled TrustRank oracle ([[graft.ops.LinkGraph.trustRank]] twin):
    * TWO directed-PR chains over the HOST graph — uniform teleport (`upr*`)
    * and seed-restricted teleport (`tpr*`) — sharing the edge/out-weight/
    * node CTEs, each round mirroring [[graft.graph.KgGraph]]'s
    * `directedPrCore` including the per-round dangling scalar; the mass
    * ratio is computed on the 6dp-ROUNDED ranks exactly as the engine. */
  /** Unrolled bounded-horizon Brandes oracle ([[graft.graph.KgGraph
    * .betweenness]] twin): forward levels with exact BIGINT σ sums and
    * NOT-EXISTS visited accumulators, the shortest-path DAG as a
    * level-(+1) three-way join, then the backward dependency sweep one
    * CTE per level deepest-first — the SAME left-assoc double arithmetic
    * σ_u/σ_w·(1+δ_w), 6dp. */
  private[graft] def betweennessOracleSql(maxDepth: Int, nSeeds: Int): String = {
    val fwd = (1 to maxDepth).map { d =>
      s"""bf$d AS MATERIALIZED (SELECT v.source, e.d AS node, $d AS dist,
            CAST(SUM(v.sigma) AS BIGINT) AS sigma
          FROM bv${d - 1} v JOIN bhe e ON e.s = v.node
          GROUP BY 1, 2),
          bv$d AS MATERIALIZED (SELECT f.source, f.node, f.dist, f.sigma
                   FROM bf$d f
                   WHERE NOT EXISTS (SELECT 1 FROM ba${d - 1} p
                     WHERE p.source = f.source AND p.node = f.node)),
          ba$d AS MATERIALIZED (SELECT * FROM ba${d - 1}
                   UNION ALL SELECT * FROM bv$d)"""
    }.mkString(",\n")
    val bwd = ((maxDepth - 1) to 1 by -1).map { d =>
      s"""bd$d AS MATERIALIZED (SELECT x.source, x.node,
            COALESCE(s.v, CAST(0 AS DOUBLE)) AS delta
          FROM (SELECT source, node FROM ba$maxDepth WHERE dist = $d) x
          LEFT JOIN (SELECT g.source, g.u AS node,
              SUM(CAST(g.sigma_u AS DOUBLE) / CAST(g.sigma_w AS DOUBLE)
                  * (CAST(1 AS DOUBLE) + dn.delta)) AS v
            FROM bdag g JOIN bd${d + 1} dn
              ON dn.source = g.source AND dn.node = g.w
            WHERE g.du = $d GROUP BY 1, 2) s
            ON s.source = x.source AND s.node = x.node)"""
    }.mkString(",\n")
    val unions = (1 to maxDepth)
      .map(d => s"SELECT source, node, delta FROM bd$d")
      .mkString("\n           UNION ALL ")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        bhe AS MATERIALIZED (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS s,
            dst_url AS d
          FROM lnk
          WHERE ${graft.ops.WebOps.canonUrlSqlOf("src_url")} <> dst_url),
        bnodes AS (SELECT DISTINCT n FROM
          (SELECT s AS n FROM bhe UNION ALL SELECT d FROM bhe)),
        bseeds AS (SELECT n AS node FROM bnodes ORDER BY n LIMIT $nSeeds),
        bv0 AS MATERIALIZED (SELECT node AS source, node, 0 AS dist,
                  CAST(1 AS BIGINT) AS sigma FROM bseeds),
        ba0 AS MATERIALIZED (SELECT * FROM bv0),
        $fwd,
        bdag AS MATERIALIZED (SELECT u.source, u.node AS u, u.dist AS du,
                   u.sigma AS sigma_u, w.node AS w, w.sigma AS sigma_w
                 FROM ba$maxDepth u JOIN bhe e ON e.s = u.node
                 JOIN ba$maxDepth w ON w.source = u.source AND w.node = e.d
                   AND w.dist = u.dist + 1),
        bd$maxDepth AS MATERIALIZED (SELECT source, node,
                          CAST(0 AS DOUBLE) AS delta
                        FROM ba$maxDepth WHERE dist = $maxDepth),
        $bwd
        SELECT node AS page, ROUND(SUM(delta), 6) AS betweenness
        FROM ($unions)
        GROUP BY 1"""
  }

  /** Unrolled k-truss oracle ([[graft.graph.KgGraph.ktruss]] twin, the
    * kcoreOracleSql discipline): exactly `iters` peel rounds — peeling is
    * idempotent after convergence, so the fixed unroll equals the
    * engine's converged fixpoint (asserted engine-side). Every te CTE is
    * MATERIALIZED: each is referenced three times by the next round and
    * DuckDB inlines plain CTEs. */
  private[graft] def ktrussOracleSql(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""tu$i AS MATERIALIZED (SELECT a, b FROM te${i - 1}
            UNION ALL SELECT b, a FROM te${i - 1}),
          te$i AS MATERIALIZED (SELECT e.a, e.b FROM te${i - 1} e
            JOIN tu$i x ON x.a = e.a
            JOIN tu$i y ON y.a = e.b AND y.b = x.b
            GROUP BY e.a, e.b HAVING COUNT(*) >= ${k - 2})"""
    }.mkString(",\n")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        tpe AS MATERIALIZED (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS pa,
            dst_url AS pb
          FROM lnk),
        te0 AS MATERIALIZED (SELECT LEAST(pa, pb) AS a,
            GREATEST(pa, pb) AS b
          FROM tpe WHERE pa <> pb GROUP BY 1, 2),
        $rounds,
        fu AS (SELECT a, b FROM te$iters UNION ALL SELECT b, a FROM te$iters)
        SELECT e.a AS src, e.b AS dst, CAST(COUNT(*) AS BIGINT) AS support
        FROM te$iters e JOIN fu x ON x.a = e.a
        JOIN fu y ON y.a = e.b AND y.b = x.b
        GROUP BY 1, 2"""
  }

  private[graft] def trustRankOracleSql(iters: Int, nSeeds: Int): String = {
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT sh AS a, dh AS b,
            CAST(COUNT(*) AS DOUBLE) AS w
          FROM (SELECT ${graft.ops.WebOps.canonHostSqlOf("src_url")} AS sh,
                       ${graft.ops.WebOps.canonHostSqlOf("dst_url")} AS dh
                FROM lnk)
          WHERE sh <> dh GROUP BY 1, 2),
        ow AS MATERIALIZED (SELECT a, SUM(w) AS s FROM edges GROUP BY a),
        ew AS MATERIALIZED (SELECT e.a, e.b, e.w, o.s
          FROM edges e JOIN ow o USING (a)),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
          (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        seeds AS (SELECT node FROM nodes ORDER BY node LIMIT $nSeeds),
        ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
        unodes AS MATERIALIZED (SELECT node,
            CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS t FROM nodes),
        tnodes AS MATERIALIZED (SELECT n.node,
            COALESCE(s.t, CAST(0 AS DOUBLE)) AS t
          FROM nodes n LEFT JOIN
            (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM ns) AS t
             FROM seeds) s ON s.node = n.node),
        upr0 AS (SELECT node, t AS pr FROM unodes),
        tpr0 AS (SELECT node, t AS pr FROM tnodes),
        ${prRoundsCtesSql(iters, "upr", "unodes")},
        ${prRoundsCtesSql(iters, "tpr", "tnodes")}
        SELECT u.node AS host, ROUND(u.pr, 6) AS pagerank,
          ROUND(t.pr, 6) AS trust,
          ROUND((ROUND(u.pr, 6) - ROUND(t.pr, 6)) / ROUND(u.pr, 6), 6)
            AS rel_spam_mass
        FROM upr$iters u JOIN tpr$iters t ON t.node = u.node"""
  }

  /** Unrolled threshold-sieved SimRank oracle ([[graft.graph.KgGraph
    * .simRank]] twin over the PAGE graph): per round, expand the canonical
    * half-matrix to both orientations, propagate pair → successor-pair
    * through two edge joins, one (a, b) aggregation, the SAME
    * `c·t/(ia·ib)` scale + sieve, diagonal re-union. Scores unrounded
    * across rounds (the PageRank contract), ONE ROUND(6) at the end. */
  private[graft] def simRankOracleSql(iters: Int, c: Double, degCap: Int,
                               minScore: Double): String = {
    val rounds = (1 to iters).map { r =>
      s"""f$r AS (SELECT a, b, s FROM s${r - 1} UNION ALL
            SELECT b AS a, a AS b, s FROM s${r - 1} WHERE a <> b),
          p$r AS (SELECT e1.dst AS a, e2.dst AS b, e1.ind AS ia,
                    e2.ind AS ib, SUM(f.s) AS t
                  FROM f$r f
                  JOIN e e1 ON e1.src = f.a
                  JOIN e e2 ON e2.src = f.b
                  WHERE e1.dst < e2.dst GROUP BY 1, 2, 3, 4),
          s$r AS MATERIALIZED (
            SELECT a, b, CAST($c AS DOUBLE) * t / (ia * ib) AS s FROM p$r
            WHERE CAST($c AS DOUBLE) * t / (ia * ib)
                  >= CAST($minScore AS DOUBLE)
            UNION ALL SELECT a, b, s FROM diag)"""
    }.mkString(",\n")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        he AS MATERIALIZED (SELECT DISTINCT sh AS src, dh AS dst
          FROM (SELECT ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS sh,
                       dst_url AS dh
                FROM lnk)
          WHERE sh <> dh),
        ind AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS ind
                FROM he GROUP BY 1),
        e AS MATERIALIZED (SELECT h.src, h.dst, i.ind
          FROM he h JOIN ind i USING (dst) WHERE i.ind <= $degCap),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM he UNION ALL SELECT dst FROM he)),
        diag AS MATERIALIZED (SELECT node AS a, node AS b,
          CAST(1.0 AS DOUBLE) AS s FROM nodes),
        s0 AS (SELECT a, b, s FROM diag),
        $rounds
        SELECT a AS page_a, b AS page_b, ROUND(s, 6) AS simrank
        FROM s$iters WHERE a <> b"""
  }

  /** Shared curation-leg CTE chain (exact-dedup keep set, benchmark
    * contamination, Gopher gate, repetition gate over the doc_id >= 10
    * corpus split) — ONE definition feeding both the `curate_corpus_full`
    * capstone and the `curate_ledger` provenance report. */
  private[graft] val curateLegsSql: String =
    """corpus AS (SELECT * FROM documents WHERE doc_id >= 10),
          keep AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text),
          toksall AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                  FROM toksall WHERE len(t) >= 3),
          sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
          bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
          contaminated AS (SELECT s.doc_id FROM sh s JOIN bench b ON s.shingle = b.shingle
                           WHERE s.doc_id >= 10 GROUP BY s.doc_id HAVING COUNT(*) >= 2),
          gv AS (SELECT doc_id, len(t) AS n_words,
                   list_sum(list_transform(t, x -> length(x))) / CAST(len(t) AS DOUBLE) AS mean_len,
                   len(list_filter(t, x -> NOT regexp_matches(x, '[A-Za-z0-9]')))
                     / CAST(len(t) AS DOUBLE) AS sym_ratio,
                   len(list_filter(t, x -> x IN ('the', 'a'))) AS stop_hits
                 FROM toksall WHERE doc_id >= 10),
          gopher AS (SELECT doc_id FROM gv WHERE n_words BETWEEN 50 AND 100000
                     AND mean_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
                     AND sym_ratio <= CAST(0.1 AS DOUBLE) AND stop_hits >= 2),
          bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b
                 FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                       FROM toksall WHERE doc_id >= 10 AND len(t) >= 2)),
          f AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
          m AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS nb FROM f GROUP BY 1),
          lowrep AS (SELECT t.doc_id
                     FROM (SELECT doc_id FROM toksall WHERE doc_id >= 10) t
                     LEFT JOIN m ON t.doc_id = m.doc_id
                     WHERE COALESCE(ROUND(m.mx / CAST(m.nb AS DOUBLE), 4),
                                    CAST(0.0 AS DOUBLE)) <= CAST(0.2 AS DOUBLE))"""

  /** Exact brute-force top-3 oracle (the `sim_topk` twin) — a val so the
    * recall gate can nest it as a subquery next to the IVF chain. */
  private[graft] val bruteTopKOracleSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                ROUND(list_dot_product(q_emb, emb) /
                  sqrt(list_dot_product(q_emb, q_emb) * list_dot_product(emb, emb)), 4) AS cos
                FROM q, e WHERE e.vec_id <> q.query_id),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank FROM s)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
          FROM r WHERE rank <= 3"""

  /** Shared RM3 oracle chain ([[graft.ops.TextOps.rm3Weights]] twin): the
    * text_qlm first pass (ROUND(6) per-doc scores), rank-weighted top-5
    * feedback docs (1/rank — mirrors the engine's named exp(score)
    * stand-in), relevance-model term weights ROUND(6), top-5
    * (w desc, term) expansion terms with the original query excluded.
    * `u`/`fb`/`expterms` MATERIALIZED (each feeds several consumers). */
  private[graft] val rm3ChainCtes: String =
    """toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len FROM toks0),
       u AS MATERIALIZED (SELECT doc_id, unnest(t) AS term FROM toks0),
       tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_toks FROM u),
       q AS (SELECT unnest(['spark', 'join', 'data']) AS term),
       tfq AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM u
               WHERE term IN ('spark', 'join', 'data') GROUP BY 1, 2),
       cfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS cf FROM u
               WHERE term IN ('spark', 'join', 'data') GROUP BY 1),
       sc1 AS (SELECT l.doc_id,
                 ln((COALESCE(t.tf, CAST(0.0 AS DOUBLE))
                      + CAST(300.0 AS DOUBLE)
                        * COALESCE(c.cf, CAST(0.0 AS DOUBLE)) / tt.n_toks)
                    / (l.len + CAST(300.0 AS DOUBLE))) AS sco
               FROM lens l CROSS JOIN q
               LEFT JOIN tfq t ON t.doc_id = l.doc_id AND t.term = q.term
               LEFT JOIN cfq c ON c.term = q.term
               CROSS JOIN tot tt),
       agg1 AS (SELECT doc_id, ROUND(SUM(sco), 6) AS score
                FROM sc1 GROUP BY 1),
       fb AS MATERIALIZED (SELECT doc_id, CAST(1.0 AS DOUBLE) / rn AS wd
             FROM (SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
                   FROM agg1) z
             WHERE rn <= 5),
       ftf AS (SELECT u.doc_id, u.term, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM u JOIN fb ON fb.doc_id = u.doc_id GROUP BY 1, 2),
       expterms AS MATERIALIZED (SELECT term,
           ROUND(SUM(f.wd * t.tf / l.len), 6) AS w
         FROM ftf t
         JOIN fb f ON f.doc_id = t.doc_id
         JOIN lens l ON l.doc_id = t.doc_id
         WHERE term NOT IN ('spark', 'join', 'data')
         GROUP BY 1 ORDER BY w DESC, term LIMIT 5)"""

  /** Unrolled BPE-training oracle ([[graft.ops.TextOps.bpeMerges]] twin):
    * per round an adjacency-pair count over the delimiter-framed word
    * strings, the (count desc, lhs, rhs) argmax, and the SAME left-to-right
    * non-overlapping `replace` application — DuckDB's `replace` and Spark's
    * share that scan rule, which is what makes the string representation a
    * cross-engine contract. w/t CTEs MATERIALIZED (each feeds the next
    * round AND the final union / replace). */
  private[graft] def bpeTrainCtes(vocabWords: Int, merges: Int): String = {
    val rounds = (1 to merges).map { r =>
      s"""p$r AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT l[i] AS a, l[i + 1] AS b, freq FROM (
              SELECT string_split(trim(s, '|'), '||') AS l, freq,
                unnest(generate_series(1,
                  len(string_split(trim(s, '|'), '||')) - 1)) AS i
              FROM w${r - 1}) z) GROUP BY 1, 2),
          t$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r
            ORDER BY cnt DESC, a, b LIMIT 1),
          w$r AS MATERIALIZED (SELECT replace(s,
              '|' || t.a || '||' || t.b || '|',
              '|' || t.a || t.b || '|') AS s, freq
            FROM w${r - 1}, t$r t)"""
    }.mkString(",\n")
    s"""words AS (SELECT lower(tok) AS word, COUNT(*) AS freq FROM
            (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE regexp_matches(lower(tok), '^[a-z]+$$')
          GROUP BY 1 ORDER BY freq DESC, word LIMIT $vocabWords),
        w0 AS (SELECT '|' || array_to_string(string_split(word, ''), '||')
            || '|' AS s, freq FROM words),
        $rounds"""
  }

  private[graft] def bpeOracleSql(vocabWords: Int, merges: Int): String = {
    val union = (1 to merges).map { r =>
      s"SELECT $r AS round, a AS lhs, b AS rhs, cnt AS pair_count FROM t$r"
    }.mkString(" UNION ALL ")
    s"""WITH ${bpeTrainCtes(vocabWords, merges)}
        $union"""
  }

  /** Encode-chain CTEs shared by the `text_bpe_encode` oracle and the
    * `text_bpe_stats` oracle: the SAME trained t1..tN merge tables applied
    * over the corpus token stream as the SAME sequential replace chain (one
    * CTE per round — merge ORDER is the tokenizer), split back into
    * positioned pieces as `enc_pieces(doc_id, word_pos, piece_pos, piece)`. */
  private[graft] def bpeEncodeCtes(vocabWords: Int, merges: Int): String = {
    val apply = (1 to merges).map { r =>
      // LEFT JOIN ON true: if training exhausted pairs before round r
      // (empty t$r), the round is an identity pass instead of emptying the
      // whole chain — matching bpeEncode, which folds only existing merges
      s"""e$r AS MATERIALIZED (SELECT doc_id, word_pos, COALESCE(replace(s,
            '|' || t.a || '||' || t.b || '|',
            '|' || t.a || t.b || '|'), s) AS s
          FROM e${r - 1} LEFT JOIN t$r t ON true)"""
    }.mkString(",\n")
    s"""${bpeTrainCtes(vocabWords, merges)},
        dtok AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) z),
        wtok AS (SELECT doc_id, CAST(i AS INT) AS word_pos, lower(l[i]) AS word
          FROM dtok WHERE regexp_matches(lower(l[i]), '^[a-z]+$$')),
        e0 AS (SELECT doc_id, word_pos,
            '|' || array_to_string(string_split(word, ''), '||') || '|' AS s
          FROM wtok),
        $apply,
        pieces AS (SELECT doc_id, word_pos,
            string_split(trim(s, '|'), '||') AS p FROM e$merges),
        enc_pieces AS (SELECT doc_id, word_pos, CAST(j AS INT) AS piece_pos,
            p[j] AS piece
          FROM (SELECT doc_id, word_pos, p,
                  unnest(generate_series(1, len(p))) AS j FROM pieces) z)"""
  }

  private[graft] def bpeEncodeOracleSql(vocabWords: Int, merges: Int): String =
    s"""WITH ${bpeEncodeCtes(vocabWords, merges)}
        SELECT doc_id, word_pos, piece_pos, piece FROM enc_pieces"""

  /** Unrolled HITS oracle ([[graft.graph.KgGraph.hits]] twin): both
    * half-rounds (auth-from-hubs, hubs-from-auths) of every iteration, each
    * L1-normalized by a scalar-subquery sum, exactly the engine's order of
    * operations. All score CTEs MATERIALIZED (each is read twice: by its
    * normalizer and by the next half-round). */
  private[graft] def hitsOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT n.node, COALESCE(s.x, CAST(0 AS DOUBLE)) AS x
            FROM nodes n LEFT JOIN
              (SELECT e.dst AS node, SUM(h.hub * e.w) AS x
               FROM edges e JOIN hub${i - 1} h ON h.node = e.src
               GROUP BY e.dst) s ON s.node = n.node),
          auth$i AS MATERIALIZED (SELECT node,
              x / (SELECT SUM(x) FROM ar$i) AS auth FROM ar$i),
          hr$i AS MATERIALIZED (SELECT n.node, COALESCE(s.x, CAST(0 AS DOUBLE)) AS x
            FROM nodes n LEFT JOIN
              (SELECT e.src AS node, SUM(a.auth * e.w) AS x
               FROM edges e JOIN auth$i a ON a.node = e.dst
               GROUP BY e.src) s ON s.node = n.node),
          hub$i AS MATERIALIZED (SELECT node,
              x / (SELECT SUM(x) FROM hr$i) AS hub FROM hr$i)"""
    }.mkString(",\n")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src,
            dst_url AS dst, CAST(COUNT(*) AS DOUBLE) AS w
          FROM lnk GROUP BY 1, 2),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        hub0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
        $iterCtes
        SELECT h.node AS page, ROUND(h.hub, 6) AS hub,
               ROUND(a.auth, 6) AS authority
        FROM hub$iters h JOIN auth$iters a ON a.node = h.node"""
  }

  /** Unrolled fixed-iteration PageRank oracle: pr_i from pr_{i-1} as plain
    * CTEs (recursive CTEs cannot aggregate per step, but a FIXED iteration
    * count needs no recursion). All arithmetic forced to DOUBLE — DuckDB's
    * bare `1.0` literal is DECIMAL, which would diverge from Spark's double
    * semantics. 6dp rounding absorbs cross-engine float-sum ordering.
    * ONE builder for both variants, mirroring the engine (pageRank ==
    * pageRankWeighted at w = 1): contribution = pr·w/strength; unweighted
    * w = 1.0 makes strength the degree and pr·1.0/s bit-identical to pr/d. */
  private[graft] def pageRankOracleSql(iters: Int, weighted: Boolean): String = {
    val w = if (weighted) "COUNT(*)" else "1"
    val iterCtes = (1 to iters).map { i =>
      s"""pr$i AS (SELECT u.b AS node,
            (CAST(0.15 AS DOUBLE) / (SELECT n FROM nn))
              + CAST(0.85 AS DOUBLE) * SUM(p.pr * u.w / st.s) AS pr
          FROM und u JOIN pr${i - 1} p ON p.node = u.a
          JOIN st ON st.a = u.a
          GROUP BY u.b)"""
    }.mkString(",\n")
    s"""WITH $dictCte, $directCte,
        pairs AS (SELECT DISTINCT url, class_iri FROM direct),
        cooc AS (SELECT a.class_iri AS src, b.class_iri AS dst,
                        CAST($w AS DOUBLE) AS w
                 FROM pairs a JOIN pairs b
                   ON a.url = b.url AND a.class_iri < b.class_iri
                 GROUP BY 1, 2),
        und AS (SELECT src AS a, dst AS b, w FROM cooc
                UNION ALL SELECT dst, src, w FROM cooc),
        st AS (SELECT a, SUM(w) AS s FROM und GROUP BY a),
        nodes AS (SELECT DISTINCT a AS node FROM und),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr
                FROM nodes),
        $iterCtes
        SELECT node AS class_iri, ROUND(pr, 6) AS pagerank FROM pr$iters"""
  }

  /** Unrolled bounded-horizon Katz oracle ([[graft.graph.KgGraph.katz]]
    * twin): x_i = 1 + α·Σ_neighbors x_{i-1} as plain CTEs over the
    * symmetrized distinct co-occurrence edges; α is the one shared
    * [[graft.graph.KgGraph.KatzAlpha]] constant, all arithmetic DOUBLE,
    * node-complete via LEFT join, 6dp absorbs float-sum ordering. */
  private[graft] def katzOracleSql(iters: Int): String = {
    val alpha = graft.graph.KgGraph.KatzAlpha
    val iterCtes = (1 to iters).map { i =>
      s"""kx$i AS MATERIALIZED (SELECT n.node,
            CAST(1.0 AS DOUBLE) + CAST($alpha AS DOUBLE) *
              COALESCE(s.v, CAST(0 AS DOUBLE)) AS x
          FROM nodes n LEFT JOIN
            (SELECT u.a AS node, SUM(p.x) AS v
             FROM und u JOIN kx${i - 1} p ON p.node = u.b
             GROUP BY 1) s ON s.node = n.node)"""
    }.mkString(",\n")
    s"""WITH $dictCte, $directCte,
        pairs AS (SELECT DISTINCT url, class_iri FROM direct),
        cooc AS (SELECT DISTINCT a.class_iri AS src, b.class_iri AS dst
                 FROM pairs a JOIN pairs b
                   ON a.url = b.url AND a.class_iri < b.class_iri),
        und AS (SELECT src AS a, dst AS b FROM cooc
                UNION SELECT dst, src FROM cooc),
        nodes AS (SELECT DISTINCT a AS node FROM und),
        kx0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS x FROM nodes),
        $iterCtes
        SELECT node AS class_iri, ROUND(x, 6) AS katz FROM kx$iters"""
  }

  /** Unrolled k-core peeling oracle ([[graft.graph.KgGraph.kcore]] twin):
    * exactly `iters` peel rounds as plain CTEs — peeling is idempotent
    * after convergence, so the fixed unroll equals the engine's converged
    * result (the engine asserts convergence within the same bound). */
  private[graft] def kcoreOracleSql(k: Int, iters: Int): String = {
    // each e_i is referenced THREE times by round i+1 (both UNION ALL arms
    // of u_{i+1} and the join in e_{i+1}); DuckDB inlines plain CTEs, which
    // would expand the tree 3^iters-fold — MATERIALIZED keeps it linear
    val rounds = (1 to iters).map { i =>
      s"""u$i AS (SELECT a, b FROM e${i - 1} UNION ALL SELECT b, a FROM e${i - 1}),
          k$i AS (SELECT a FROM u$i GROUP BY a HAVING COUNT(*) >= $k),
          e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
                  JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)"""
    }.mkString(",\n")
    s"""WITH $dictCte, $directCte,
        pairs AS (SELECT DISTINCT url, class_iri FROM direct),
        e0 AS MATERIALIZED (SELECT a.class_iri AS a, b.class_iri AS b
               FROM pairs a JOIN pairs b
                 ON a.url = b.url AND a.class_iri < b.class_iri
               GROUP BY 1, 2),
        $rounds
        SELECT a AS class_iri, COUNT(*) AS core_degree
        FROM (SELECT a, b FROM e$iters UNION ALL SELECT b, a FROM e$iters)
        GROUP BY a"""
  }

  /** Unrolled label-propagation oracle ([[graft.graph.KgGraph
    * .labelPropagation]] twin): `iters` synchronous rounds as plain CTEs,
    * each taking the neighbor label with the highest count (smallest label
    * on ties — expressed as the same deterministic order, via ROW_NUMBER
    * here and min(struct(-c, label)) in the engine). `und` is MATERIALIZED
    * (referenced every round). */
  private[graft] def labelPropOracleSql(iters: Int): String =
    s"""WITH $dictCte, $directCte, ${labelPropChainCtes(iters)}
        SELECT node AS class_iri, label AS community FROM l$iters"""

  /** The shared label-propagation CTE chain (weighted cooc edges + `iters`
    * synchronous rounds), reused by the kg_labelprop and kg_modularity
    * oracles. `cooc` carries the edge weight `w` (doc count) even though
    * propagation ignores it — modularity consumes it downstream. */
  private[graft] def labelPropChainCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT u.src AS node, l.label, COUNT(*) AS c
            FROM und u JOIN l${i - 1} l ON u.dst = l.node GROUP BY 1, 2),
          l$i AS (SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM r$i) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""pairs AS (SELECT DISTINCT url, class_iri FROM direct),
        cooc AS MATERIALIZED (SELECT a.class_iri AS src, b.class_iri AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
                 FROM pairs a JOIN pairs b
                   ON a.url = b.url AND a.class_iri < b.class_iri
                 GROUP BY 1, 2),
        und AS MATERIALIZED (SELECT src, dst FROM cooc
               UNION ALL SELECT dst AS src, src AS dst FROM cooc),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
        $rounds"""
  }

  /** [[graft.graph.KgGraph.modularity]] twin over the label-propagation
    * partition: the same weighted-degree / intra-weight / total-weight
    * rollups with the identical division order, 6dp. */
  private[graft] def modularityOracleSql(iters: Int): String =
    s"""WITH $dictCte, $directCte, ${labelPropChainCtes(iters)},
        comm AS (SELECT node AS class_iri, label AS community FROM l$iters),
        deg AS (SELECT class_iri, CAST(SUM(w) AS BIGINT) AS k
                FROM (SELECT src AS class_iri, w FROM cooc
                      UNION ALL SELECT dst AS class_iri, w FROM cooc)
                GROUP BY 1),
        tot AS (SELECT CAST(SUM(w) AS DOUBLE) AS m FROM cooc),
        cd AS (SELECT community, COUNT(*) AS n_nodes,
                 CAST(SUM(k) AS BIGINT) AS degree_w
               FROM deg JOIN comm USING (class_iri) GROUP BY 1),
        intra AS (SELECT ca.community, CAST(SUM(e.w) AS BIGINT) AS internal_w
                  FROM cooc e
                  JOIN comm ca ON e.src = ca.class_iri
                  JOIN comm cb ON e.dst = cb.class_iri
                  WHERE ca.community = cb.community GROUP BY 1)
        SELECT cd.community, cd.n_nodes,
               COALESCE(i.internal_w, 0) AS internal_w, cd.degree_w,
               ROUND(COALESCE(i.internal_w, 0) / m
                 - POW(cd.degree_w / (2.0 * m), 2.0), 6) AS q_contrib
        FROM cd LEFT JOIN intra i USING (community), tot"""

  /** [[graft.graph.KgGraph.conductance]] twin over the post-Louvain-move
    * partition (the label-propagation partition collapses to ONE community
    * on this corpus — conductance of the trivial cut is the NULL case, not
    * a test): the same per-endpoint union (each edge contributes w to both
    * endpoints' communities, crossing iff they differ), exact-BIGINT
    * cut/vol/2m sums, one pinned division, ROUND(6) — with the identical
    * whole-graph-community NULL CASE. */
  private[graft] def conductanceOracleSql(iters: Int): String =
    s"""WITH $dictCte, $directCte, ${louvainMoveChainCtes(iters)},
        mv AS (SELECT node AS class_iri, community FROM rk WHERE rn = 1),
        tagged AS (SELECT ca.community AS ca, cb.community AS cb, e.w
                   FROM cooc e
                   JOIN mv ca ON e.src = ca.class_iri
                   JOIN mv cb ON e.dst = cb.class_iri),
        perend AS (SELECT ca AS community, w, ca <> cb AS crossing FROM tagged
                   UNION ALL
                   SELECT cb AS community, w, ca <> cb AS crossing FROM tagged),
        members AS (SELECT community, COUNT(*) AS n_nodes FROM mv GROUP BY 1),
        tot AS (SELECT CAST(2 * SUM(w) AS BIGINT) AS vol2m FROM cooc),
        agg AS (SELECT community,
                  CAST(SUM(CASE WHEN crossing THEN w ELSE 0 END) AS BIGINT)
                    AS cut_w,
                  CAST(SUM(w) AS BIGINT) AS vol_w
                FROM perend GROUP BY 1)
        SELECT a.community, m.n_nodes, a.cut_w, a.vol_w,
          CASE WHEN LEAST(a.vol_w, vol2m - a.vol_w) = 0 THEN NULL
               ELSE ROUND(CAST(a.cut_w AS DOUBLE)
                          / LEAST(a.vol_w, vol2m - a.vol_w), 6)
          END AS phi
        FROM agg a JOIN members m USING (community), tot"""

  /** kg_louvain_move oracle ([[graft.graph.KgGraph.louvainMove]] twin from
    * the singleton partition): weighted degrees, community Σtot, per-
    * (node, candidate community) k_in with the guaranteed own-community
    * zero row, then the exact-BIGINT gain2 argmax via ROW_NUMBER with the
    * same (gain2 DESC, own-first, community ASC) order; dq = one pinned
    * division, ROUND(6). Reuses the LPA chain's cooc/und CTEs (the unused
    * round CTEs are plain — DuckDB never executes unreferenced ones). */
  private[graft] def louvainMoveOracleSql(iters: Int): String =
    s"""WITH $dictCte, $directCte, ${louvainMoveChainCtes(iters)}
        SELECT r.node AS class_iri, r.community,
          r.community <> r.own AS moved,
          CAST(r.gain2 - og.own_gain2 AS BIGINT) AS gain2,
          ROUND(2.0 * (r.gain2 - og.own_gain2)
            / (CAST(r.m2 AS DOUBLE) * CAST(r.m2 AS DOUBLE)), 6) AS dq
        FROM rk r JOIN og ON og.node = r.node WHERE r.rn = 1"""

  /** The shared Louvain-local-move CTE chain (singleton start → exact-
    * BIGINT gain2 scoring → per-node argmax `rk` + own-gain `og`), reused
    * by the kg_louvain_move oracle and — as the partition under test — the
    * kg_conductance oracle. */
  private[graft] def louvainMoveChainCtes(iters: Int): String =
    s"""${labelPropChainCtes(iters)},
        comm AS (SELECT node, node AS community FROM
                   (SELECT src AS node FROM cooc UNION SELECT dst FROM cooc)),
        undw AS MATERIALIZED (SELECT src AS node, dst AS nbr, w FROM cooc
                UNION ALL SELECT dst AS node, src AS nbr, w FROM cooc),
        deg AS (SELECT node, CAST(SUM(w) AS BIGINT) AS k
                FROM undw GROUP BY 1),
        sigma AS (SELECT community, CAST(SUM(k) AS BIGINT) AS sigma
                  FROM deg JOIN comm USING (node) GROUP BY 1),
        m2 AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM undw),
        kin AS (SELECT u.node, c.community, CAST(SUM(u.w) AS BIGINT) AS kin
                FROM undw u JOIN comm c ON c.node = u.nbr GROUP BY 1, 2),
        cand AS (SELECT node, community, MAX(kin) AS kin FROM (
                   SELECT node, community, kin FROM kin
                   UNION ALL SELECT node, community, CAST(0 AS BIGINT) FROM comm)
                 GROUP BY 1, 2),
        sc AS (SELECT cand.node, cand.community, o.community AS own, m2.m2,
                 m2.m2 * cand.kin
                   - (s.sigma - CASE WHEN cand.community = o.community
                       THEN d.k ELSE 0 END) * d.k AS gain2
               FROM cand
               JOIN comm o ON o.node = cand.node
               JOIN deg d ON d.node = cand.node
               JOIN sigma s ON s.community = cand.community, m2),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY gain2 DESC,
                   CASE WHEN community = own THEN 0 ELSE 1 END,
                   community) AS rn
               FROM sc),
        og AS (SELECT node, gain2 AS own_gain2 FROM sc WHERE community = own)"""

  /** Full dedup_jaccard oracle — a val so `dedup_lsh_recall` can nest the
    * ground-truth chain as a derived table (the ivfOracleSql precedent). */
  private[graft] val jaccardPairsOracleSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                     WHERE len(string_split(text, ' ')) >= 3),
        pos AS (SELECT doc_id, t,
                unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
        sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
        keep AS (SELECT shingle FROM sh GROUP BY shingle
                 HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 100),
        rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.8"""

  /** Full dedup_minhash oracle (same nesting rationale). */
  private[graft] def minhashPairsOracleSql =
    s"""WITH $minhashCtes
        SELECT doc_a, doc_b,
               ROUND(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n + sb.n - n_common) >= 0.8"""

  /** Unrolled seeded-Lloyd IVF oracle pieces ([[graft.ops.Similarity.ivfTopK]]
    * twin): c0 = first-8 seed, each round re-assigns the training sample
    * (cosine argmax, c_id tie-break) and rebuilds centroids as per-dim
    * means rounded to 6dp. Dim loop = generate_series(1, 64) (the
    * embeddings table is 64-dim, already baked into the LSH oracles).
    * The Lloyd-chain + final-assignment CTEs (up to `aff`/`asgf`) are
    * shared by the ivf top-k oracles and the `sim_ivf_stats` oracle. */
  private[graft] def ivfChainCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (SELECT t.vec_id, t.emb, c.c_id,
            list_dot_product(t.emb, c.c_emb) /
              sqrt(list_dot_product(t.emb, t.emb) * list_dot_product(c.c_emb, c.c_emb)) AS ccos
          FROM train t, c${i - 1} c),
         a$i AS (SELECT vec_id, emb, c_id AS bucket,
            row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn FROM s$i),
         m$i AS (SELECT bucket, d, ROUND(AVG(emb[d]), 6) AS m
            FROM (SELECT * FROM a$i WHERE rn = 1) af,
                 (SELECT unnest(generate_series(1, 64)) AS d)
            GROUP BY bucket, d),
         c$i AS (SELECT bucket AS c_id, array_agg(m ORDER BY d) AS c_emb
                 FROM m$i GROUP BY bucket)"""
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        train AS (SELECT vec_id, emb FROM e WHERE vec_id < 2048),
        c0 AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < 8),
        $iterCtes,
        sf AS (SELECT e.vec_id, e.emb, c.c_id,
                 list_dot_product(e.emb, c.c_emb) /
                   sqrt(list_dot_product(e.emb, e.emb) * list_dot_product(c.c_emb, c.c_emb)) AS ccos
               FROM e, c$iters c),
        asgf AS (SELECT vec_id, emb, c_id AS bucket,
                  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn
                FROM sf),
        aff AS (SELECT vec_id, emb, bucket FROM asgf WHERE rn = 1)"""
  }

  private[graft] def ivfOracleSql(iters: Int, nprobe: Int = 1): String = {
    s"""WITH ${ivfChainCtes(iters)},
        q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket
              FROM asgf WHERE vec_id < 10 AND rn <= $nprobe),
        s AS (SELECT query_id, aff.vec_id AS neighbor_id,
                ROUND(list_dot_product(q_emb, emb) /
                  sqrt(list_dot_product(q_emb, q_emb) * list_dot_product(emb, emb)), 4) AS cos
              FROM q JOIN aff ON q.q_bucket = aff.bucket AND aff.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
        FROM r WHERE rank <= 3"""
  }

  /** Unrolled product-quantization oracle ([[graft.ops.Similarity.pqTopK]]
    * twin): per subspace s — seed codebook = first-16 subvectors, one Lloyd
    * round (squared-L2 argmin ROUND 6dp with code tie-break; per-(code, dim)
    * means ROUND 6dp; empty codes keep their seed via LEFT JOIN + COALESCE),
    * then every vector encodes against the trained codebook. ADC score =
    * left-associated Σ_s list_dot_product(q_s, codeword_s) over the fixed
    * subspace order (matches the Column `reduce(_ + _)` fold), approximate
    * norm = √(left-associated Σ_s ‖codeword_s‖²). */
  private[graft] def pqOracleSql(subspaces: Int = 4, w: Int = 16, nCodes: Int = 16,
                          trainSample: Int = 2048, nQueries: Int = 10,
                          k: Int = 3): String = {
    def d2(sv: String, c: String) =
      s"ROUND(list_dot_product($sv, $sv) - 2 * list_dot_product($sv, $c)" +
        s" + list_dot_product($c, $c), 6)"
    val perSub = (0 until subspaces).map { s =>
      val (lo, hi) = (s * w + 1, s * w + w)
      s"""sub$s AS (SELECT vec_id, emb[$lo:$hi] AS sv FROM e),
          cb${s}_0 AS (SELECT vec_id AS code, sv AS c FROM sub$s
                       WHERE vec_id < $nCodes),
          asg$s AS (SELECT vec_id, sv, code FROM (
            SELECT t.vec_id, t.sv, c.code,
              row_number() OVER (PARTITION BY t.vec_id
                ORDER BY ${d2("t.sv", "c.c")}, c.code) AS rn
            FROM (SELECT * FROM sub$s WHERE vec_id < $trainSample) t, cb${s}_0 c)
            WHERE rn = 1),
          cb$s AS (SELECT p.code, COALESCE(n.c, p.c) AS c
            FROM cb${s}_0 p LEFT JOIN (
              SELECT code, array_agg(m ORDER BY d) AS c FROM (
                SELECT code, d, ROUND(AVG(sv[d]), 6) AS m
                FROM asg$s, (SELECT unnest(generate_series(1, $w)) AS d)
                GROUP BY code, d) GROUP BY code) n ON n.code = p.code),
          enc$s AS (SELECT vec_id, code FROM (
            SELECT v.vec_id, c.code,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${d2("v.sv", "c.c")}, c.code) AS rn
            FROM sub$s v, cb$s c) WHERE rn = 1)"""
    }.mkString(",\n")
    val encJoins = (0 until subspaces).map { s =>
      s"JOIN enc$s ON enc$s.vec_id = v.vec_id JOIN cb$s c$s ON c$s.code = enc$s.code"
    }.mkString("\n               ")
    val adot = (0 until subspaces).map { s =>
      val (lo, hi) = (s * w + 1, s * w + w)
      s"list_dot_product(q.q_emb[$lo:$hi], c$s.c)"
    }.mkString(" + ")
    val anorm2 = (0 until subspaces)
      .map(s => s"list_dot_product(c$s.c, c$s.c)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        $perSub,
        q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < $nQueries),
        sc AS (SELECT q.query_id, v.vec_id AS neighbor_id,
                 ROUND(($adot) / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                   * sqrt($anorm2)), 4) AS cos
               FROM q, e v
               $encJoins
               WHERE v.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
        FROM r WHERE rank <= $k"""
  }

  private[graft] val cntsCte =
    raw"""cnts AS (SELECT 'doc://' || doc_id AS url, d.class_iri, d.pref,
          len(regexp_extract_all(upper(text), '\b' || d.term || '\b')) AS cnt
          FROM documents, dict d)"""
  /** The lemma-annotator match chain (SQL lemmatizer, lemma-space scan,
    * offset back-mapping) ending at `mapped(doc_id, class_iri, ont, pref,
    * f, t)` — shared by the ann_lemma and ann_agreement oracles. Requires
    * dictCte upstream. */
  private[graft] def lemmaMatchCtes: String =
    s"""ldict AS (
            SELECT DISTINCT array_to_string(
              list_transform(string_split(term, ' '), t -> ${lemmaCaseSql("t")}), ' ') AS term,
              class_iri, ont, pref
            FROM dict),
          docs AS (
            SELECT doc_id, text,
              regexp_extract_all(text, '[A-Za-z0-9_]+') AS toks,
              regexp_split_to_array(text, '[A-Za-z0-9_]+') AS seps
            FROM documents),
          tokrows AS (
            SELECT doc_id, text, i, toks[i] AS tok, seps[i] AS sep,
              (${lemmaCaseSql("upper(toks[i])")}) AS lem
            FROM (SELECT *, unnest(generate_series(1, len(toks))) AS i FROM docs)),
          cums AS (
            SELECT doc_id, i, lem, tok,
              SUM(length(sep) + length(lem)) OVER w - length(lem) AS lemma_start,
              SUM(length(sep) + length(tok)) OVER w - length(tok) AS orig_start,
              SUM(length(sep) + length(tok)) OVER w AS orig_end
            FROM tokrows WINDOW w AS (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)),
          ltext AS (
            SELECT t.doc_id, string_agg(t.sep || t.lem, '' ORDER BY t.i)
                   || MIN(d.seps[len(d.toks)+1]) AS ltxt
            FROM tokrows t JOIN docs d USING (doc_id) GROUP BY t.doc_id),
          hsegs AS (
            SELECT lt.doc_id, l.class_iri, l.ont, l.pref, length(l.term) AS tl,
              regexp_split_to_array(lt.ltxt, '\\b' || l.term || '\\b') AS parts
            FROM ltext lt, ldict l),
          hpos AS (
            SELECT doc_id, class_iri, ont, pref, tl, parts,
              unnest(generate_series(1, len(parts) - 1)) AS k
            FROM hsegs WHERE len(parts) > 1),
          hits AS (
            SELECT doc_id, class_iri, ont, pref, tl,
              CAST((SELECT COALESCE(SUM(length(p)), 0) FROM unnest(parts[1:k]) AS t(p))
                   + (k - 1) * tl AS BIGINT) AS f0
            FROM hpos),
          mapped AS (
            SELECT h.doc_id, h.class_iri, h.ont, h.pref,
              CAST(cs.orig_start + 1 AS INT) AS f, CAST(ce.orig_end AS INT) AS t
            FROM hits h
            JOIN cums cs ON cs.doc_id = h.doc_id AND cs.lemma_start = h.f0
            JOIN cums ce ON ce.doc_id = h.doc_id
              AND ce.lemma_start + length(ce.lem) = h.f0 + h.tl)"""

  /** DuckDB twin of the engine's 64-bit rolling fingerprint
    * ([[graft.ops.TextOps.fingerprint64]] / the codegen'd Fingerprint64
    * expression): h = h*131 + char over HUGEINT with an explicit mod-2^64
    * wrap per step (Java long overflow semantics), then two's-complement to
    * signed BIGINT. Valid for ASCII input (Java chars == code points there;
    * the driver corpus is ASCII, asserted by the all-ascii check in specs). */
  private[graft] def fpSql(colExpr: String): String =
    s"""list_reduce([1125899906842597::HUGEINT] ||
        list_transform(string_split($colExpr, ''), c -> unicode(c)::HUGEINT),
        (acc, c) -> (acc * 131 + c) % 18446744073709551616::HUGEINT)"""
  private[graft] def toSignedSql(v: String): String =
    s"""CASE WHEN $v >= 9223372036854775808::HUGEINT
        THEN ($v - 18446744073709551616::HUGEINT)::BIGINT ELSE $v::BIGINT END"""

  /** DuckDB twin of [[graft.annotate.Lemma.lemmaToken]] (uppercase in/out):
    * the same if/else-if rule chain as a CASE over `v`. Kept rule-for-rule
    * identical — both sides of lemma matching MUST share one lemma function. */
  private[graft] def lemmaCaseSql(v: String): String =
    s"""CASE WHEN length($v) <= 3 THEN $v
        WHEN $v LIKE '%IES' AND length($v) > 4 THEN substr($v, 1, length($v)-3) || 'Y'
        WHEN $v LIKE '%SSES' THEN substr($v, 1, length($v)-2)
        WHEN $v LIKE '%XES' OR $v LIKE '%CHES' OR $v LIKE '%SHES' THEN substr($v, 1, length($v)-2)
        WHEN $v LIKE '%ING' AND length($v) > 5 THEN
          CASE WHEN length($v)-3 > 2 AND substr($v, length($v)-3, 1) = substr($v, length($v)-4, 1)
                    AND substr($v, length($v)-3, 1) NOT IN ('A','E','I','O','U')
               THEN substr($v, 1, length($v)-4) ELSE substr($v, 1, length($v)-3) END
        WHEN $v LIKE '%ED' AND length($v) > 4 THEN
          CASE WHEN length($v)-2 > 2 AND substr($v, length($v)-2, 1) = substr($v, length($v)-3, 1)
                    AND substr($v, length($v)-2, 1) NOT IN ('A','E','I','O','U')
               THEN substr($v, 1, length($v)-3) ELSE substr($v, 1, length($v)-2) END
        WHEN $v LIKE '%S' AND $v NOT LIKE '%SS' AND $v NOT LIKE '%US' AND $v NOT LIKE '%IS'
          THEN substr($v, 1, length($v)-1)
        ELSE $v END"""

  /** cvalue per-(doc, term) parts: occurrence count, PREF/SYN weight, term
    * word count — the oracle twin of [[graft.annotate.Scoring.cvalueScores]]. */
  private[graft] val cvCte =
    raw"""cvparts AS (SELECT 'doc://' || doc_id AS url, d.class_iri,
          len(regexp_extract_all(upper(text), '\b' || d.term || '\b')) AS cnt,
          CASE WHEN d.pref THEN 10.0 ELSE 8.0 END AS w,
          len(string_split(d.term, ' ')) AS words
          FROM documents, dict d)"""
  private[graft] val closureCte =
    """closure(child_iri, ancestor_iri, distance) AS (
       SELECT child_iri, parent_iri, 1 FROM edges
       UNION ALL
       SELECT c.child_iri, e.parent_iri, c.distance + 1
       FROM closure c JOIN edges e ON c.ancestor_iri = e.child_iri
       WHERE c.distance < 5)"""
  private[graft] val minClosureCte =
    """mincl AS (SELECT child_iri, ancestor_iri, MIN(distance) AS distance
       FROM closure GROUP BY child_iri, ancestor_iri)"""
  /** The canonical (subj, pred, obj) triple table as a composable CTE — the
    * ann_triples oracle body verbatim, shared by every KG-QA oracle that
    * consumes the triple store (SHACL report, RDFS typing, BGP star,
    * N-Quads dump). Requires dictCte + edgesCte + mappingsCte + directCte +
    * closureCte upstream (and WITH RECURSIVE for the closure). */
  private[graft] val kgTriplesCte =
    """triples AS (
       SELECT DISTINCT url AS subj, 'hasAnnotation' AS pred, class_iri AS obj FROM direct
       UNION
       SELECT DISTINCT dr.url AS subj, 'hasExpandedAnnotation' AS pred, cl.ancestor_iri AS obj
       FROM (SELECT DISTINCT url, class_iri FROM direct) dr
       JOIN closure cl ON dr.class_iri = cl.child_iri
       UNION
       SELECT DISTINCT dr.url AS subj, 'hasMappedAnnotation' AS pred, m.mapped_iri AS obj
       FROM (SELECT DISTINCT url, class_iri FROM direct) dr
       JOIN maps m ON dr.class_iri = m.class_iri)"""

  /** Unrolled multi-source-BFS oracle ([[graft.graph.KgGraph.shortestPaths]]
    * twin over the page-link graph): frontier d = dst of frontier d−1 minus
    * everything already labeled — BFS discovers each node once, so the
    * unroll is exact. Frontier CTEs MATERIALIZED (each is referenced by the
    * next round AND the cumulative set). */
  private[graft] def shortestPathsOracleSql(depth: Int): String = {
    val rounds = (1 to depth).map { d =>
      s"""fr$d AS MATERIALIZED (SELECT DISTINCT e.b AS node, $d AS dist
            FROM edges e JOIN fr${d - 1} f ON f.node = e.a
            WHERE e.b NOT IN (SELECT node FROM all${d - 1})),
          all$d AS MATERIALIZED (SELECT node FROM all${d - 1}
            UNION ALL SELECT node FROM fr$d)"""
    }.mkString(",\n")
    val unioned = (0 to depth).map(d => s"SELECT node, dist FROM fr$d")
      .mkString(" UNION ALL ")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS a, dst_url AS b
          FROM lnk),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)),
        fr0 AS MATERIALIZED (SELECT node, 0 AS dist FROM nodes
          WHERE regexp_matches(node, '/p/1($$|\\?)')),
        all0 AS (SELECT node FROM fr0),
        $rounds
        SELECT node AS page, dist FROM ($unioned)"""
  }

  /** [[graft.graph.KgGraph.harmonicFromSeeds]] twin: the per-seed variant
    * of the BFS unroll (frontier keyed by (seed, node), per-seed visited
    * exclusion), reciprocals summed as the exact integer 12/d before the
    * single final division. */
  private[graft] def harmonicOracleSql(depth: Int): String = {
    val rounds = (1 to depth).map { d =>
      s"""fr$d AS MATERIALIZED (SELECT DISTINCT f.seed, e.b AS node, $d AS dist
            FROM edges e JOIN fr${d - 1} f ON f.node = e.a
            WHERE NOT EXISTS (SELECT 1 FROM all${d - 1} a
                              WHERE a.seed = f.seed AND a.node = e.b)),
          all$d AS MATERIALIZED (SELECT seed, node FROM all${d - 1}
            UNION ALL SELECT seed, node FROM fr$d)"""
    }.mkString(",\n")
    val unioned = (1 to depth).map(d => s"SELECT seed, node, dist FROM fr$d")
      .mkString(" UNION ALL ")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS a, dst_url AS b
          FROM lnk),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)),
        fr0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist FROM nodes
          WHERE regexp_matches(node, '/p/1($$|\\?)')),
        all0 AS (SELECT seed, node FROM fr0),
        $rounds,
        reached AS (SELECT seed, node, dist FROM ($unioned))
        SELECT node AS page, CAST(COUNT(*) AS BIGINT) AS n_reached,
               ROUND(CAST(SUM(CAST(12 / dist AS BIGINT)) AS BIGINT) / 12.0, 6)
                 AS harmonic
        FROM reached GROUP BY 1"""
  }

  /** [[graft.graph.KgGraph.landmarkDistances]] twin: ONE per-seed BFS
    * unroll over sources ∪ landmarks (the harmonic oracle's (seed, node)
    * form, dist-0 rows kept — `d(l, l) = 0` carries the `v = l` estimate),
    * then the d(s,l) leg, the min landmark assembly, and the stretch. */
  private[graft] def landmarkOracleSql(depth: Int): String = {
    val rounds = (1 to depth).map { d =>
      s"""fr$d AS MATERIALIZED (SELECT DISTINCT f.seed, e.b AS node, $d AS dist
            FROM edges e JOIN fr${d - 1} f ON f.node = e.a
            WHERE NOT EXISTS (SELECT 1 FROM all${d - 1} a
                              WHERE a.seed = f.seed AND a.node = e.b)),
          all$d AS MATERIALIZED (SELECT seed, node FROM all${d - 1}
            UNION ALL SELECT seed, node FROM fr$d)"""
    }.mkString(",\n")
    val unioned = (0 to depth).map(d => s"SELECT seed, node, dist FROM fr$d")
      .mkString(" UNION ALL ")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT DISTINCT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS a, dst_url AS b
          FROM lnk),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)),
        srcs AS (SELECT node FROM nodes
                 WHERE regexp_matches(node, '/p/1($$|\\?)')),
        lms AS (SELECT node FROM nodes
                WHERE regexp_matches(node, '/p/2($$|\\?)')),
        fr0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist FROM nodes
          WHERE regexp_matches(node, '/p/1($$|\\?)')
             OR regexp_matches(node, '/p/2($$|\\?)')),
        all0 AS (SELECT seed, node FROM fr0),
        $rounds,
        reached AS MATERIALIZED (SELECT seed, node, dist FROM ($unioned) u),
        sl AS (SELECT r.seed AS src, r.node AS l, r.dist AS d1
               FROM reached r
               JOIN srcs s ON s.node = r.seed
               JOIN lms m ON m.node = r.node),
        est AS (SELECT sl.src, r2.node, MIN(sl.d1 + r2.dist) AS landmark_d
                FROM sl JOIN reached r2 ON r2.seed = sl.l
                GROUP BY 1, 2),
        base AS (SELECT r.seed AS src, r.node, r.dist AS exact_d
                 FROM reached r JOIN srcs s ON s.node = r.seed
                 WHERE r.seed <> r.node)
        SELECT b.src, b.node AS page, b.exact_d, e.landmark_d,
          CASE WHEN e.landmark_d IS NULL THEN NULL
               ELSE ROUND(CAST(e.landmark_d AS DOUBLE) / b.exact_d, 4)
          END AS stretch
        FROM base b
        LEFT JOIN est e ON e.src = b.src AND e.node = b.node"""
  }

  /** [[graft.graph.KgGraph.attackRobustness]] twin, shared by the attack
    * (in-degree rank) and failure (portable-hash rank) curves. */
  private[graft] def robustnessOracleSql(random: Boolean): String = {
    val hubsCte =
      if (random)
        s"""hubs AS (SELECT node, ROW_NUMBER() OVER (ORDER BY
              ('0x' || substr(md5(node), 1, 15))::BIGINT, node) AS rn
            FROM nodes)"""
      else
        """hubs AS (SELECT node,
              ROW_NUMBER() OVER (ORDER BY deg DESC, node) AS rn
            FROM ind)"""
    val per = Seq(0, 5, 10).map { k =>
      s"""rem$k AS (SELECT node FROM hubs WHERE rn <= $k),
          undk$k AS (SELECT a, b FROM und
             WHERE a NOT IN (SELECT node FROM rem$k)
               AND b NOT IN (SELECT node FROM rem$k)),
          reach$k(a, b) AS (SELECT a, b FROM undk$k
             UNION
             SELECT r.a, u.b FROM reach$k r JOIN undk$k u ON r.b = u.a),
          comp$k AS (SELECT a, LEAST(a, MIN(b)) AS component
                     FROM reach$k GROUP BY a),
          giant$k AS (SELECT COALESCE(MAX(c), 1) AS g FROM
             (SELECT COUNT(*) AS c FROM comp$k GROUP BY component) z),
          nleft$k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
             WHERE node NOT IN (SELECT node FROM rem$k))"""
    }.mkString(",\n")
    val rows = Seq(0, 5, 10).map { k =>
      s"""SELECT $k AS k_removed, (SELECT n FROM nleft$k) AS n_nodes,
            CAST((SELECT g FROM giant$k) AS BIGINT) AS giant_size,
            ROUND(CAST((SELECT g FROM giant$k) AS DOUBLE)
              / (SELECT n FROM nleft$k), 6) AS giant_frac"""
    }.mkString(" UNION ALL ")
    s"""WITH RECURSIVE ${graft.ops.LinkGraph.linksCteSql},
        pe AS (SELECT DISTINCT
                 ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src,
                 dst_url AS dst FROM lnk),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM pe UNION ALL SELECT dst FROM pe) u),
        und AS (SELECT src AS a, dst AS b FROM pe
                UNION SELECT dst, src FROM pe),
        ind AS (SELECT dst AS node, COUNT(*) AS deg FROM pe GROUP BY 1),
        $hubsCte,
        $per
        $rows"""
  }

  /** One oracle for BOTH domain-quota plans (single-window and two-phase). */
  /** Knowledge Vault fusion oracle: recompute all three extractor event
    * sets (direct = dict regex containment; lemma = the ann_lemma oracle's
    * lemmatized-text containment, set form; anchor = the
    * web_anchor_entities oracle's dict-over-anchors scan), then the SAME
    * noisy-OR with flag columns and literal priors generated from
    * [[graft.ops.Relations.ExtractorPriors]] in the SAME order (left-assoc
    * multiplication ⇒ IEEE-identical to the Column expression). */
  /** The [[graft.ops.Relations.tripleConfidence]] ground-truth chain as CTEs
    * ending at `conf(subj, obj, n_extractors, confidence)` — shared by the
    * kg_triple_confidence and kg_fact_fusion oracles. */
  private[graft] def tripleConfidenceCtes: String = {
    val priors = graft.ops.Relations.ExtractorPriors
    val flagCols = priors.map { case (e, _) =>
      s"MAX(CASE WHEN extractor = '$e' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS f_$e"
    }.mkString(",\n               ")
    val missProduct = priors.map { case (e, p) =>
      s"(CAST(1 AS DOUBLE) - CAST($p AS DOUBLE) * f_$e)"
    }.mkString("\n            * ")
    val nSum = priors.map(e => s"f_${e._1}").mkString(" + ")
    s"""$dictCte, ${graft.ops.LinkGraph.linksCteSql},
        umap AS (SELECT doc_id, ${graft.ops.WebOps.canonUrlSqlOf("url")} AS subj
                 FROM urls),
        ev_d AS (SELECT DISTINCT u.subj, d.class_iri AS obj,
                   'direct' AS extractor
                 FROM documents doc JOIN umap u ON u.doc_id = doc.doc_id, dict d
                 WHERE regexp_matches(upper(doc.text), '\\b' || d.term || '\\b')),
        ldict AS (SELECT DISTINCT array_to_string(
                    list_transform(string_split(term, ' '), t -> ${lemmaCaseSql("t")}), ' ') AS term,
                    class_iri
                  FROM dict),
        ltxt AS (SELECT doc_id, string_agg(sep || lem, '' ORDER BY i) AS lt
                 FROM (SELECT doc_id, i, seps[i] AS sep,
                         (${lemmaCaseSql("upper(toks[i])")}) AS lem
                       FROM (SELECT doc_id,
                               regexp_extract_all(text, '[A-Za-z0-9_]+') AS toks,
                               regexp_split_to_array(text, '[A-Za-z0-9_]+') AS seps,
                               unnest(generate_series(1,
                                 len(regexp_extract_all(text, '[A-Za-z0-9_]+')))) AS i
                             FROM documents))
                 GROUP BY doc_id),
        ev_l AS (SELECT DISTINCT u.subj, l.class_iri AS obj,
                   'lemma' AS extractor
                 FROM ltxt JOIN umap u USING (doc_id), ldict l
                 WHERE regexp_matches(ltxt.lt, '\\b' || l.term || '\\b')),
        ev_a AS (SELECT DISTINCT a.dst_url AS subj, d.class_iri AS obj,
                   'anchor' AS extractor
                 FROM (SELECT DISTINCT dst_url, anchor FROM lnk) a, dict d
                 WHERE regexp_matches(upper(a.anchor), '\\b' || d.term || '\\b')),
        ev AS (SELECT * FROM ev_d UNION ALL SELECT * FROM ev_l
               UNION ALL SELECT * FROM ev_a),
        fl AS (SELECT subj, obj,
               $flagCols
               FROM ev GROUP BY 1, 2),
        conf AS (SELECT subj, obj,
          CAST($nSum AS INT) AS n_extractors,
          ROUND(CAST(1 AS DOUBLE) -
            $missProduct, 6) AS confidence
        FROM fl)"""
  }

  /** [[graft.ops.Relations.negatives]] ground-truth chain (requires
    * dictCte + directCte upstream) ending at
    * `neg(subj, pred, obj, slot, neg_obj)` — shared by the kg_negatives
    * and kg_transe_step oracles. */
  private[graft] def negativesChainCtes: String =
    s"""pos AS (SELECT DISTINCT url AS subj, 'hasAnnotation' AS pred,
                       class_iri AS obj FROM direct),
        ents AS (SELECT obj AS neg_obj,
            ROW_NUMBER() OVER (ORDER BY obj) - 1 AS eid
          FROM (SELECT DISTINCT obj FROM pos)),
        nn AS (SELECT COUNT(*) AS n FROM ents),
        cand AS (SELECT p.subj, p.pred, p.obj, CAST(s.slot AS INT) AS slot,
            ('0x' || substr(md5(p.subj || '|' || p.pred || '|' || p.obj
              || '|' || CAST(s.slot AS VARCHAR)), 1, 15))::BIGINT
              % (SELECT n FROM nn) AS eid
          FROM pos p, (SELECT unnest(generate_series(0, 1)) AS slot) s),
        withent AS (SELECT c.subj, c.pred, c.obj, c.slot, e.neg_obj
          FROM cand c JOIN ents e USING (eid)
          WHERE e.neg_obj <> c.obj),
        neg AS (SELECT w.subj, w.pred, w.obj, w.slot, w.neg_obj
          FROM withent w LEFT JOIN pos p2
            ON p2.subj = w.subj AND p2.pred = w.pred AND p2.obj = w.neg_obj
          WHERE p2.subj IS NULL)"""

  /** SQL-string helpers of the TransE oracle chain (shared by the step and
    * rank oracles): `pd` = per-(pair, dim) difference rows against a given
    * embedding/relation pair of tables, `ps` = per-pair ROUND(6) scores. */
  private[graft] def transePdSql(name: String, emb: String, rel: String) =
    s"""$name AS (SELECT n.subj, n.pred, n.obj, n.slot, n.neg_obj, dd.d,
          h.v + r.v - t.v AS dp, h.v + r.v - x.v AS dn
        FROM neg n
        CROSS JOIN dims dd
        JOIN $emb h ON h.ent = n.subj AND h.d = dd.d
        JOIN $rel r ON r.pred = n.pred AND r.d = dd.d
        JOIN $emb t ON t.ent = n.obj AND t.d = dd.d
        JOIN $emb x ON x.ent = n.neg_obj AND x.d = dd.d)"""

  private[graft] def transePsSql(name: String, from: String) =
    s"""$name AS (SELECT subj, pred, obj, slot, neg_obj,
          ROUND(SUM(dp * dp), 6) AS spos, ROUND(SUM(dn * dn), 6) AS sneg
        FROM $from GROUP BY 1, 2, 3, 4, 5)"""

  /** The shared TransE ground-truth prefix (requires dictCte + directCte
    * upstream): negatives chain → dims → bit-identical md5-derived init
    * embeddings → per-(pair, dim) diffs `pd0` → per-pair scores `ps0`. */
  /** The post-negatives TransE chain (init embeddings + pd0/ps0 scores) —
    * shared between the untyped and type-constrained negatives chains. */
  private[graft] def transeEmbScoreCtes: String = {
    val dim = graft.ops.KgEmbed.Dim
    val two60 = "1152921504606846976.0"
    def init(prefix: String, idExpr: String) =
      s"('0x' || substr(md5('$prefix' || $idExpr || ':' ||" +
        s" CAST(dd.d AS VARCHAR)), 1, 15))::BIGINT / $two60 * 2 - 1"
    s"""dims AS (SELECT unnest(generate_series(1, $dim)) AS d),
        kent AS (SELECT subj AS ent FROM pos UNION SELECT obj FROM pos),
        emb0 AS (SELECT ent, dd.d, ${init("e:", "ent")} AS v
                 FROM kent, dims dd),
        rel0 AS (SELECT pred, dd.d, ${init("r:", "pred")} AS v
                 FROM (SELECT DISTINCT pred FROM pos), dims dd),
        ${transePdSql("pd0", "emb0", "rel0")},
        ${transePsSql("ps0", "pd0")}"""
  }

  private[graft] def transeChainCtes: String =
    s"""$negativesChainCtes,
        $transeEmbScoreCtes"""

  /** [[graft.ops.Relations.negativesTyped]] twin: the same corruption
    * machinery with the pool partitioned by the object's MIN semantic
    * type — per-type dense eids, per-type pool sizes, the same portable
    * hash mod the TYPE pool. Emits the same `pos`/`neg` CTE names so
    * [[transeEmbScoreCtes]] composes unchanged. */
  private[graft] def negativesTypedChainCtes: String =
    s"""pos AS (SELECT DISTINCT url AS subj, 'hasAnnotation' AS pred,
                       class_iri AS obj FROM direct),
        semtypes(class_iri, tui) AS (
          SELECT * FROM (VALUES ${OntologyFixture.tuisValues}) v(a, b)),
        ot AS (SELECT class_iri AS obj, MIN(tui) AS tui
               FROM semtypes GROUP BY 1),
        ents AS (SELECT neg_obj, tui,
            ROW_NUMBER() OVER (PARTITION BY tui ORDER BY neg_obj) - 1 AS eid
          FROM (SELECT DISTINCT o.obj AS neg_obj, t.tui
                FROM (SELECT DISTINCT obj FROM pos) o
                JOIN ot t ON t.obj = o.obj) z),
        tsz AS (SELECT tui, COUNT(*) AS n_t FROM ents GROUP BY 1),
        cand AS (SELECT p.subj, p.pred, p.obj, t.tui,
            CAST(s.slot AS INT) AS slot,
            ('0x' || substr(md5(p.subj || '|' || p.pred || '|' || p.obj
              || '|' || CAST(s.slot AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM pos p JOIN ot t ON t.obj = p.obj,
               (SELECT unnest(generate_series(0, 1)) AS slot) s),
        withent AS (SELECT c.subj, c.pred, c.obj, c.slot, e.neg_obj
          FROM cand c
          JOIN tsz z ON z.tui = c.tui
          JOIN ents e ON e.tui = c.tui AND e.eid = c.h % z.n_t
          WHERE e.neg_obj <> c.obj),
        neg AS (SELECT w.subj, w.pred, w.obj, w.slot, w.neg_obj
          FROM withent w LEFT JOIN pos p2
            ON p2.subj = w.subj AND p2.pred = w.pred AND p2.obj = w.neg_obj
          WHERE p2.subj IS NULL)"""

  /** kg_transe_rank_typed oracle: the typed negatives chain + the shared
    * init/score chain + the identical rank rollup. */
  private[graft] def transeRankTypedOracleSql: String = materializeCtes {
    s"""WITH $dictCte, $directCte,
        $negativesTypedChainCtes,
        $transeEmbScoreCtes,
        rk AS (SELECT subj, pred, obj,
                 1 + SUM(CASE WHEN sneg <= spos THEN 1 ELSE 0 END) AS rank
               FROM ps0 GROUP BY 1, 2, 3)
        SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pos,
          ROUND(AVG(CAST(1.0 AS DOUBLE) / rank), 6) AS mrr,
          ROUND(AVG(CASE WHEN rank = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END), 6) AS hits1
        FROM rk GROUP BY pred"""
  }

  /** One oracle training epoch `e`: active pairs from `ps{e}`, gradient
    * means, updated `emb{e+1}`/`rel{e+1}`, re-scored `pd{e+1}`/`ps{e+1}` —
    * the repeatable block behind the step and epochs oracles (gradient
    * legs, update arithmetic, and the margin literal mirror
    * [[graft.ops.KgEmbed]] term for term). */
  private[graft] def transeEpochBlockSql(e: Int): String = {
    val margin = graft.ops.KgEmbed.Margin
    val lr = graft.ops.KgEmbed.Lr
    s"""act$e AS (SELECT pd$e.* FROM pd$e
                JOIN ps$e USING (subj, pred, obj, slot, neg_obj)
                WHERE $margin + spos - sneg > 0),
        egrad$e AS (SELECT ent, d, ROUND(AVG(g), 6) AS g FROM (
              SELECT subj AS ent, d, 2.0 * (dp - dn) AS g FROM act$e
              UNION ALL SELECT obj AS ent, d, -2.0 * dp AS g FROM act$e
              UNION ALL SELECT neg_obj AS ent, d, 2.0 * dn AS g FROM act$e)
            GROUP BY ent, d),
        rgrad$e AS (SELECT pred, d, ROUND(AVG(2.0 * (dp - dn)), 6) AS g
                  FROM act$e GROUP BY pred, d),
        emb${e + 1} AS (SELECT x.ent, x.d, x.v - $lr * COALESCE(g.g, 0.0) AS v
                 FROM emb$e x LEFT JOIN egrad$e g
                   ON g.ent = x.ent AND g.d = x.d),
        rel${e + 1} AS (SELECT x.pred, x.d, x.v - $lr * COALESCE(g.g, 0.0) AS v
                 FROM rel$e x LEFT JOIN rgrad$e g
                   ON g.pred = x.pred AND g.d = x.d),
        ${transePdSql(s"pd${e + 1}", s"emb${e + 1}", s"rel${e + 1}")},
        ${transePsSql(s"ps${e + 1}", s"pd${e + 1}")}"""
  }

  /** kg_transe_step oracle: one [[transeEpochBlockSql]] epoch, then the
    * before/after pair-loss rollup. */
  /** DuckDB re-inlines CTEs referenced multiple times; the chained epoch
    * blocks re-reference pd/ps/emb CTEs combinatorially and a plain WITH
    * took minutes where `AS MATERIALIZED` runs in under a second — so the
    * transe oracles pin every CTE (DuckDB-only syntax; Spark never parses
    * these strings). */
  private[graft] def materializeCtes(sql: String): String =
    sql.replaceAll("""(\w+) AS \(""", "$1 AS MATERIALIZED (")

  private[graft] def transeStepOracleSql: String = materializeCtes {
    val margin = graft.ops.KgEmbed.Margin
    s"""WITH $dictCte, $directCte, $transeChainCtes,
        ${transeEpochBlockSql(0)},
        pl AS (SELECT p0.pred,
                 GREATEST(0.0, $margin + p0.spos - p0.sneg) AS lb,
                 GREATEST(0.0, $margin + p1.spos - p1.sneg) AS la
               FROM ps0 p0 JOIN ps1 p1
                 USING (subj, pred, obj, slot, neg_obj))
        SELECT pred, COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN lb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
          ROUND(AVG(lb), 6) AS loss_before, ROUND(AVG(la), 6) AS loss_after
        FROM pl GROUP BY pred"""
  }

  /** kg_transe_epochs oracle: the unrolled training loop — `epochs` chained
    * [[transeEpochBlockSql]] blocks, one loss row per (epoch, pred) from
    * each epoch's pair scores (epoch 0 = the hash init). */
  private[graft] def transeEpochsOracleSql(epochs: Int): String = materializeCtes {
    val margin = graft.ops.KgEmbed.Margin
    val blocks = (0 until epochs).map(transeEpochBlockSql).mkString(",\n")
    val losses = (0 to epochs).map { e =>
      s"""SELECT $e AS epoch, pred,
            ROUND(AVG(GREATEST(0.0, $margin + spos - sneg)), 6) AS loss
          FROM ps$e GROUP BY pred"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $dictCte, $directCte, $transeChainCtes,
        $blocks
        $losses"""
  }

  /** kg_transe_rank oracle: filtered local-candidate ranking at the init —
    * rank = 1 + |corruptions scoring ≤ the positive| (ties count against,
    * [[graft.ops.KgEmbed.transeRank]]'s contract), then the per-predicate
    * MRR / hits@1 rollup. */
  private[graft] def transeRankOracleSql(epochs: Int = 0): String = materializeCtes {
    val blocks =
      if (epochs == 0) ""
      else (0 until epochs).map(transeEpochBlockSql).mkString(",\n") + ","
    s"""WITH $dictCte, $directCte, $transeChainCtes,
        $blocks
        rk AS (SELECT subj, pred, obj,
                 1 + SUM(CASE WHEN sneg <= spos THEN 1 ELSE 0 END) AS rank
               FROM ps$epochs GROUP BY 1, 2, 3)
        SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pos,
          ROUND(AVG(CAST(1.0 AS DOUBLE) / rank), 6) AS mrr,
          ROUND(AVG(CASE WHEN rank = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END), 6) AS hits1
        FROM rk GROUP BY pred"""
  }

  /** kg_distmult_rank oracle ([[graft.ops.KgEmbed.distmultRank]] twin):
    * the shared negatives/init chain, per-(pair, dim) PRODUCTS instead of
    * the TransE diffs, ROUND(6) per-pair dots, then the higher-is-better
    * filtered ranking (`sneg >= spos` beats) and the same per-predicate
    * rollup. */
  private[graft] def distmultRankOracleSql: String = materializeCtes {
    s"""WITH $dictCte, $directCte, $transeChainCtes,
        dmd AS (SELECT n.subj, n.pred, n.obj, n.slot, n.neg_obj, dd.d,
            h.v * r.v * t.v AS pp, h.v * r.v * x.v AS pn
          FROM neg n
          CROSS JOIN dims dd
          JOIN emb0 h ON h.ent = n.subj AND h.d = dd.d
          JOIN rel0 r ON r.pred = n.pred AND r.d = dd.d
          JOIN emb0 t ON t.ent = n.obj AND t.d = dd.d
          JOIN emb0 x ON x.ent = n.neg_obj AND x.d = dd.d),
        dms AS (SELECT subj, pred, obj, slot, neg_obj,
            ROUND(SUM(pp), 6) AS spos, ROUND(SUM(pn), 6) AS sneg
          FROM dmd GROUP BY 1, 2, 3, 4, 5),
        drk AS (SELECT subj, pred, obj,
                 1 + SUM(CASE WHEN sneg >= spos THEN 1 ELSE 0 END) AS rank
               FROM dms GROUP BY 1, 2, 3)
        SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pos,
          ROUND(AVG(CAST(1.0 AS DOUBLE) / rank), 6) AS mrr,
          ROUND(AVG(CASE WHEN rank = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END), 6) AS hits1
        FROM drk GROUP BY pred"""
  }

  /** Shared CTE chain for the JSON-LD oracles — `jlpg` (synthesized pages)
    * → `js` (regex-cut script body) → `f` (json_extract_string fields) →
    * `jtr` (the deduplicated triple set, [[graft.ops.Relations
    * .jsonLdTriples]]'s twin). */
  private[graft] def jsonLdTriplesCtes: String =
    s"""${graft.ops.Relations.jsonLdPagesCteSql},
        js AS (SELECT url, regexp_extract(html,
                 '${graft.ops.Relations.JsonLdScriptRe}', 1) AS j
               FROM jlpg),
        f AS (SELECT url, json_extract_string(j, '$$."@type"') AS ty,
                json_extract_string(j, '$$.name') AS nm,
                json_extract_string(j, '$$.author."@type"') AS aty,
                json_extract_string(j, '$$.author.name') AS anm
              FROM js),
        jtr AS (SELECT DISTINCT subj, pred, obj FROM (
          SELECT url AS subj, 'rdf:type' AS pred, 'schema:' || ty AS obj
          FROM f WHERE ty IS NOT NULL
          UNION ALL
          SELECT url, 'schema:name', nm FROM f WHERE nm IS NOT NULL
          UNION ALL
          SELECT url, 'schema:author', url || '#author'
          FROM f WHERE anm IS NOT NULL
          UNION ALL
          SELECT url || '#author', 'rdf:type', 'schema:' || aty
          FROM f WHERE anm IS NOT NULL AND aty IS NOT NULL
          UNION ALL
          SELECT url || '#author', 'schema:name', anm
          FROM f WHERE anm IS NOT NULL))"""

  /** kg_complex_rank oracle ([[graft.ops.KgEmbed.complexRank]] twin): the
    * shared negatives/init chain; per complex dim j (re at d = j, im at
    * d = j + Dim/2) the four-term Re(⟨h, r, conj(t)⟩) product, ROUND(6)
    * per-pair sums, the higher-is-better filtered ranking, the same
    * per-predicate rollup. */
  private[graft] def complexRankOracleSql: String = materializeCtes {
    val half = graft.ops.KgEmbed.Dim / 2
    s"""WITH $dictCte, $directCte, $transeChainCtes,
        cxd AS (SELECT n.subj, n.pred, n.obj, n.slot, n.neg_obj, dd.d,
            hre.v * rre.v * tre.v + him.v * rre.v * tim.v
              + hre.v * rim.v * tim.v - him.v * rim.v * tre.v AS pp,
            hre.v * rre.v * xre.v + him.v * rre.v * xim.v
              + hre.v * rim.v * xim.v - him.v * rim.v * xre.v AS pn
          FROM neg n
          CROSS JOIN (SELECT d FROM dims WHERE d <= $half) dd
          JOIN emb0 hre ON hre.ent = n.subj AND hre.d = dd.d
          JOIN emb0 him ON him.ent = n.subj AND him.d = dd.d + $half
          JOIN rel0 rre ON rre.pred = n.pred AND rre.d = dd.d
          JOIN rel0 rim ON rim.pred = n.pred AND rim.d = dd.d + $half
          JOIN emb0 tre ON tre.ent = n.obj AND tre.d = dd.d
          JOIN emb0 tim ON tim.ent = n.obj AND tim.d = dd.d + $half
          JOIN emb0 xre ON xre.ent = n.neg_obj AND xre.d = dd.d
          JOIN emb0 xim ON xim.ent = n.neg_obj AND xim.d = dd.d + $half),
        cxs AS (SELECT subj, pred, obj, slot, neg_obj,
            ROUND(SUM(pp), 6) AS spos, ROUND(SUM(pn), 6) AS sneg
          FROM cxd GROUP BY 1, 2, 3, 4, 5),
        crk AS (SELECT subj, pred, obj,
                 1 + SUM(CASE WHEN sneg >= spos THEN 1 ELSE 0 END) AS rank
               FROM cxs GROUP BY 1, 2, 3)
        SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pos,
          ROUND(AVG(CAST(1.0 AS DOUBLE) / rank), 6) AS mrr,
          ROUND(AVG(CASE WHEN rank = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END), 6) AS hits1
        FROM crk GROUP BY pred"""
  }

  /** kg_rotate_rank oracle ([[graft.ops.KgEmbed.rotateRank]] twin): the
    * same negatives/init CTE chain; per complex dim the rotation's
    * cos/sin come from the SAME rational Weierstrass expressions with a
    * MIRRORED operation tree (pure IEEE ±/×/÷ — bit-exact cross-engine,
    * no library cos/sin), squared-distance terms summed + ROUND(6), then
    * the lower-is-better filtered ranking (sneg ≤ spos beats) and the
    * per-predicate rollup. */
  private[graft] def rotateRankOracleSql: String = materializeCtes {
    val half = graft.ops.KgEmbed.Dim / 2
    def dist(hre: String, him: String, tre: String, tim: String) =
      s"""(($hre.v * ((1.0 - rre.v * rre.v) / (1.0 + rre.v * rre.v))
             - $him.v * ((2.0 * rre.v) / (1.0 + rre.v * rre.v))) - $tre.v)
           * (($hre.v * ((1.0 - rre.v * rre.v) / (1.0 + rre.v * rre.v))
             - $him.v * ((2.0 * rre.v) / (1.0 + rre.v * rre.v))) - $tre.v)
         + (($hre.v * ((2.0 * rre.v) / (1.0 + rre.v * rre.v))
             + $him.v * ((1.0 - rre.v * rre.v) / (1.0 + rre.v * rre.v))) - $tim.v)
           * (($hre.v * ((2.0 * rre.v) / (1.0 + rre.v * rre.v))
             + $him.v * ((1.0 - rre.v * rre.v) / (1.0 + rre.v * rre.v))) - $tim.v)"""
    s"""WITH $dictCte, $directCte, $transeChainCtes,
        rtd AS (SELECT n.subj, n.pred, n.obj, n.slot, n.neg_obj, dd.d,
            ${dist("hre", "him", "tre", "tim")} AS pp,
            ${dist("hre", "him", "xre", "xim")} AS pn
          FROM neg n
          CROSS JOIN (SELECT d FROM dims WHERE d <= $half) dd
          JOIN emb0 hre ON hre.ent = n.subj AND hre.d = dd.d
          JOIN emb0 him ON him.ent = n.subj AND him.d = dd.d + $half
          JOIN rel0 rre ON rre.pred = n.pred AND rre.d = dd.d
          JOIN emb0 tre ON tre.ent = n.obj AND tre.d = dd.d
          JOIN emb0 tim ON tim.ent = n.obj AND tim.d = dd.d + $half
          JOIN emb0 xre ON xre.ent = n.neg_obj AND xre.d = dd.d
          JOIN emb0 xim ON xim.ent = n.neg_obj AND xim.d = dd.d + $half),
        rts AS (SELECT subj, pred, obj, slot, neg_obj,
            ROUND(SUM(pp), 6) AS spos, ROUND(SUM(pn), 6) AS sneg
          FROM rtd GROUP BY 1, 2, 3, 4, 5),
        rrk AS (SELECT subj, pred, obj,
                 1 + SUM(CASE WHEN sneg <= spos THEN 1 ELSE 0 END) AS rank
               FROM rts GROUP BY 1, 2, 3)
        SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pos,
          ROUND(AVG(CAST(1.0 AS DOUBLE) / rank), 6) AS mrr,
          ROUND(AVG(CASE WHEN rank = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END), 6) AS hits1
        FROM rrk GROUP BY pred"""
  }

  /** kg_embed_neighbors oracle ([[graft.ops.KgEmbed.conceptNeighbors]]
    * twin): the trained `emb{epochs}` chain restricted to concept entities
    * (the positives' objects), pairwise squared-L2 per (a, b) as a
    * dim-keyed join + ROUND(6) sum (the engine's ascending fixed-order sum
    * agrees inside the contract), then the per-concept top-k with the
    * (dist, neighbor) tiebreak. */
  private[graft] def embedNeighborsOracleSql(epochs: Int, k: Int): String =
    materializeCtes {
      val blocks = (0 until epochs).map(transeEpochBlockSql).mkString(",\n")
      s"""WITH $dictCte, $directCte, $transeChainCtes,
          $blocks,
          cemb AS (SELECT e.ent, e.d, e.v FROM emb$epochs e
                   JOIN (SELECT DISTINCT obj FROM pos) c ON e.ent = c.obj),
          pw AS (SELECT a.ent AS concept, b.ent AS neighbor,
                   ROUND(SUM((a.v - b.v) * (a.v - b.v)), 6) AS dist
                 FROM cemb a JOIN cemb b ON a.d = b.d AND a.ent <> b.ent
                 GROUP BY 1, 2),
          rk AS (SELECT concept, neighbor, dist,
                   ROW_NUMBER() OVER (PARTITION BY concept
                     ORDER BY dist, neighbor) AS rank
                 FROM pw)
          SELECT concept, neighbor, dist, CAST(rank AS BIGINT) AS rank
          FROM rk WHERE rank <= $k"""
    }

  /** curate_lr_distill oracle ([[graft.ops.Classifier.lrDistill]] twin):
    * the gopher feature chain, then `steps` unrolled full-batch logistic
    * steps — weights carried through CTEs as exact arithmetic on ROUND(6)
    * mean gradients, metrics ROUND(6) per step. */
  private[graft] def lrDistillOracleSql(lr: Double, steps: Int): String = materializeCtes {
    s"""WITH ${lrDistillChainCtes(lr, steps)}
        ${(0 to steps).map(k => s"SELECT step, logloss, accuracy FROM m$k")
          .mkString("\nUNION ALL\n")}"""
  }

  /** curate_auc oracle ([[graft.ops.Classifier.aucReport]] twin): the
    * trained-weight chain's final `w{steps}` scores every doc (the same
    * left-associated dot-product order, binned ROUND(4)), then the binned
    * Mann–Whitney fold — all-BIGINT rank arithmetic, one pinned final
    * division ROUND(6). */
  private[graft] def lrAucOracleSql(lr: Double, steps: Int): String = materializeCtes {
    val nf = graft.ops.Classifier.NFeatures
    val dp = graft.ops.Classifier.AucBinDp
    val dot = (0 until nf).map(j => s"w.w$j * f.x$j").mkString(" + ")
    s"""WITH ${lrDistillChainCtes(lr, steps)},
        zt AS (SELECT ROUND($dot, $dp) AS z, CAST(f.y AS BIGINT) AS y
               FROM f, w$steps w),
        gz AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(y) AS BIGINT) AS pos
               FROM zt GROUP BY z),
        cz AS (SELECT pos, cnt,
                 COALESCE(SUM(cnt) OVER (ORDER BY z
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
               FROM gz)
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
               ROUND((SUM(pos * (2 * cum + cnt + 1)) - SUM(pos) * (SUM(pos) + 1))
                 / (2.0 * SUM(pos) * (SUM(cnt) - SUM(pos))), 6) AS auc
        FROM cz"""
  }

  /** curate_brier oracle ([[graft.ops.Classifier.brierReport]] twin): the
    * same binned-z chain, per-bin `pos·(p−1)² + (cnt−pos)·p²` with
    * p = σ(z) on the rounded z, one division, ROUND(6). */
  private[graft] def lrBrierOracleSql(lr: Double, steps: Int): String =
    materializeCtes {
      val nf = graft.ops.Classifier.NFeatures
      val dp = graft.ops.Classifier.AucBinDp
      val dot = (0 until nf).map(j => s"w.w$j * f.x$j").mkString(" + ")
      s"""WITH ${lrDistillChainCtes(lr, steps)},
          zt AS (SELECT ROUND($dot, $dp) AS z, CAST(f.y AS BIGINT) AS y
                 FROM f, w$steps w),
          gz AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(y) AS BIGINT) AS pos
                 FROM zt GROUP BY z),
          pb AS (SELECT cnt, pos, 1.0 / (1.0 + exp(-z)) AS p FROM gz)
          SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
            ROUND(SUM(pos * (p - 1.0) * (p - 1.0) + (cnt - pos) * p * p)
              / SUM(cnt), 6) AS brier
          FROM pb"""
    }

  /** The shared distillation CTE chain (gopher features + `steps` unrolled
    * GD steps), reused by the curate_lr_distill and curate_auc oracles —
    * ends with per-step metrics `m0..m{steps}` and weights `w0..w{steps}`. */
  private[graft] def lrDistillChainCtes(lr: Double, steps: Int): String = {
    val nf = graft.ops.Classifier.NFeatures
    val stepCtes = (0 to steps).map { k =>
      val pcte =
        s"""p$k AS (SELECT f.*, ${(0 until nf).map(j => s"w.w$j").mkString(", ")},
              1.0 / (1.0 + exp(-(${(0 until nf).map(j => s"w.w$j * f.x$j").mkString(" + ")}))) AS p
            FROM f, w$k w)"""
      val mcte =
        s"""m$k AS (SELECT $k AS step,
              ROUND(AVG(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6) AS logloss,
              ROUND(AVG(CASE WHEN (p >= 0.5) = (y = 1.0)
                THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS accuracy
            FROM p$k)"""
      val wcte =
        if (k < steps) Some(s"""w${k + 1} AS (SELECT
              ${(0 until nf).map(j =>
                s"MAX(w$j) - $lr * ROUND(AVG((p - y) * x$j), 6) AS w$j").mkString(",\n              ")}
            FROM p$k)""")
        else None
      (Seq(pcte, mcte) ++ wcte).mkString(",\n")
    }.mkString(",\n")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        v AS (SELECT doc_id,
                len(tk) AS n_words,
                list_sum(list_transform(tk, x -> length(x)))
                  / CAST(len(tk) AS DOUBLE) AS mean_len,
                len(list_filter(tk, x -> NOT regexp_matches(x, '[A-Za-z0-9]')))
                  / CAST(len(tk) AS DOUBLE) AS sym_ratio,
                len(list_filter(tk, x -> x IN ('the', 'a'))) AS stop_hits
              FROM t),
        f AS (SELECT CAST(1.0 AS DOUBLE) AS x0,
                n_words / 100.0 AS x1,
                ROUND(mean_len, 4) AS x2,
                ROUND(sym_ratio, 4) * 10.0 AS x3,
                stop_hits / 10.0 AS x4,
                CASE WHEN (n_words BETWEEN 50 AND 100000
                  AND mean_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
                  AND sym_ratio <= CAST(0.1 AS DOUBLE)
                  AND stop_hits >= 2)
                THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
              FROM v),
        w0 AS (SELECT ${(0 until nf).map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ")}),
        $stepCtes"""
  }

  private[graft] def tripleConfidenceOracleSql: String =
    s"""WITH $tripleConfidenceCtes
        SELECT subj, obj, n_extractors, confidence FROM conf"""

  /** kg_fusion_audit oracle ([[graft.ops.Relations.fusionAudit]] twin):
    * the conf chain LEFT joined against the direct-extractor published set
    * on the fact key, decile bucketed by the exact floor (confidences are
    * ROUND(6) combinations of the literal priors — the same doubles in
    * both engines). */
  private[graft] def fusionAuditOracleSql: String =
    s"""WITH $tripleConfidenceCtes,
        cal AS (SELECT c.confidence,
                  CASE WHEN g.subj IS NOT NULL THEN 1 ELSE 0 END AS g
                FROM conf c
                LEFT JOIN (SELECT DISTINCT subj, obj FROM ev_d) g
                  ON g.subj = c.subj AND g.obj = c.obj)
        SELECT CAST(FLOOR(confidence * 10) AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(g) AS BIGINT) AS n_in_kg,
               ROUND(AVG(confidence), 6) AS mean_conf,
               ROUND(SUM(g) * 1.0 / COUNT(*), 6) AS in_kg_rate
        FROM cal GROUP BY 1"""

  /** kg_truthfinder / kg_source_trust shared chain
    * ([[graft.ops.Relations.truthFinder]] twins): the `fl` flag columns
    * from [[tripleConfidenceCtes]] cast to exact ints, the signature-count
    * rollup, then [[graft.ops.Relations.TfRounds]] unrolled rounds of the
    * trust↔confidence recursion — the noisy-OR with PINNED multiplication
    * order over the current trust row, confidences carried as micro-unit
    * BIGINTs so the claims-weighted trust mean is integer arithmetic until
    * one final pinned division (IEEE-identical to the Column code). Ends at
    * `tf_sig`, `tf_conf<R>`, `tf_trust<R>`. */
  private[graft] def truthFinderCtes: String = {
    val srcs = graft.ops.Relations.ExtractorPriors.map(_._1)
    val prior = graft.ops.Relations.TfPrior
    val nR = graft.ops.Relations.TfRounds
    val fs = srcs.map(e => s"f_$e").mkString(", ")
    val rounds = (1 to nR).map { r =>
      val miss = srcs
        .map(e => s"(CAST(1 AS DOUBLE) - t.t_$e * c.f_$e)")
        .mkString(" * ")
      val trustCols = srcs.map { e =>
        s"""CASE WHEN SUM(CASE WHEN f_$e = 1 THEN n ELSE 0 END) > 0
             THEN ROUND(SUM(CASE WHEN f_$e = 1 THEN n * conf6 ELSE 0 END)
               / (SUM(CASE WHEN f_$e = 1 THEN n ELSE 0 END) * 1000000.0), 6)
             ELSE CAST($prior AS DOUBLE) END AS t_$e"""
      }.mkString(",\n             ")
      s"""tf_conf$r AS (SELECT ${srcs.map(e => s"c.f_$e").mkString(", ")}, c.n,
            CAST(ROUND((CAST(1 AS DOUBLE) - $miss) * 1000000.0, 0) AS BIGINT)
              AS conf6
          FROM tf_cnt c, tf_trust${r - 1} t),
          tf_trust$r AS (SELECT $trustCols FROM tf_conf$r)"""
    }.mkString(",\n        ")
    s"""$tripleConfidenceCtes,
        tf_sig AS (SELECT subj, obj,
            ${srcs.map(e => s"CAST(f_$e AS BIGINT) AS f_$e").mkString(", ")}
          FROM fl),
        tf_cnt AS (SELECT $fs, COUNT(*) AS n FROM tf_sig
                   GROUP BY ${srcs.indices.map(_ + 1).mkString(", ")}),
        tf_trust0 AS (SELECT
          ${srcs.map(e => s"CAST($prior AS DOUBLE) AS t_$e").mkString(", ")}),
        $rounds"""
  }

  private[graft] def truthFinderOracleSql: String = {
    val srcs = graft.ops.Relations.ExtractorPriors.map(_._1)
    val nR = graft.ops.Relations.TfRounds
    s"""WITH $truthFinderCtes
        SELECT s.subj, s.obj,
               CAST(${srcs.map(e => s"s.f_$e").mkString(" + ")} AS INT)
                 AS n_extractors,
               c.conf6 / 1000000.0 AS confidence
        FROM tf_sig s JOIN tf_conf$nR c
          USING (${srcs.map(e => s"f_$e").mkString(", ")})"""
  }

  private[graft] def sourceTrustOracleSql: String = {
    val srcs = graft.ops.Relations.ExtractorPriors.map(_._1)
    val nR = graft.ops.Relations.TfRounds
    val legs = srcs.map { e =>
      s"""SELECT '$e' AS extractor, t_$e AS trust,
            (SELECT CAST(SUM(CASE WHEN f_$e = 1 THEN n ELSE 0 END) AS BIGINT)
             FROM tf_conf$nR) AS n_facts
          FROM tf_trust$nR"""
    }.mkString("\n        UNION ALL ")
    s"""WITH $truthFinderCtes
        $legs"""
  }

  /** web_partition_lp oracle ([[graft.ops.LinkGraph.partitionLp]] twin):
    * the hash init, then each LP round unrolled — neighbor-label counts,
    * P-row loads, the same ROUND(6) score + stickiness, argmax via
    * ROW_NUMBER (score DESC, part ASC — the max(struct) tiebreak), label
    * carry-forward for isolated nodes — then the edge-cut rollup. */
  private[graft] def partitionLpOracleSql: String = {
    val p = graft.ops.LinkGraph.LpParts
    val (alpha, sticky) =
      (graft.ops.LinkGraph.LpAlpha, graft.ops.LinkGraph.LpSticky)
    val rounds = (1 to graft.ops.LinkGraph.LpRounds).map { r =>
      s"""cnt$r AS MATERIALIZED (SELECT u.a AS node, l.part, COUNT(*) AS cnt
            FROM und u JOIN lab${r - 1} l ON l.node = u.b GROUP BY 1, 2),
          load$r AS (SELECT part, COUNT(*) AS load FROM lab${r - 1} GROUP BY 1),
          sc$r AS (SELECT c.node, c.part,
              ROUND(c.cnt - $alpha * ld.load / (SELECT n FROM nn), 6) +
                CASE WHEN c.part = cur.part THEN $sticky ELSE 0.0 END AS s
            FROM cnt$r c JOIN load$r ld USING (part)
            JOIN lab${r - 1} cur ON cur.node = c.node),
          best$r AS (SELECT node, part FROM (
              SELECT node, part, ROW_NUMBER() OVER (PARTITION BY node
                ORDER BY s DESC, part) AS rn FROM sc$r) WHERE rn = 1),
          lab$r AS MATERIALIZED (SELECT l.node, COALESCE(b.part, l.part) AS part
            FROM lab${r - 1} l LEFT JOIN best$r b USING (node))"""
    }.mkString(",\n")
    val last = s"lab${graft.ops.LinkGraph.LpRounds}"
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS MATERIALIZED (SELECT
            ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src, dst_url AS dst
          FROM lnk GROUP BY 1, 2),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        und AS MATERIALIZED (SELECT DISTINCT a, b FROM
            (SELECT src AS a, dst AS b FROM edges
             UNION ALL SELECT dst, src FROM edges)
          WHERE a <> b),
        lab0 AS (SELECT node,
            ('0x' || substr(md5(node), 1, 15))::BIGINT % $p AS part
          FROM nodes),
        $rounds,
        ep AS (SELECT l1.part AS ps, l2.part AS pd
               FROM edges e
               JOIN $last l1 ON l1.node = e.src
               JOIN $last l2 ON l2.node = e.dst),
        es AS (SELECT ps AS part, CAST(COUNT(*) AS BIGINT) AS n_edges,
                 CAST(SUM(CASE WHEN ps = pd THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_local
               FROM ep GROUP BY 1)
        SELECT l.part, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               ANY_VALUE(es.n_edges) AS n_edges,
               ANY_VALUE(es.n_local) AS n_local,
               ROUND(ANY_VALUE(es.n_local) * 1.0 / ANY_VALUE(es.n_edges), 6)
                 AS pct_local
        FROM $last l LEFT JOIN es ON es.part = l.part
        GROUP BY l.part"""
  }

  /** web_edge_cut oracle ([[graft.ops.LinkGraph.edgeCutStats]] twin): the
    * pageEdges set, each endpoint placed by the portable md5-60 hash mod
    * the layout width, per-partition local-edge rollup. */
  private[graft] def edgeCutOracleSql: String = {
    val p = graft.ops.LinkGraph.EdgeCutPartitions
    def h(c: String) = s"(('0x' || substr(md5($c), 1, 15))::BIGINT % $p)"
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        edges AS (SELECT ${graft.ops.WebOps.canonUrlSqlOf("src_url")} AS src,
                    dst_url AS dst
                  FROM lnk GROUP BY 1, 2)
        SELECT ${h("src")} AS part,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN ${h("src")} = ${h("dst")} THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_local,
               ROUND(SUM(CASE WHEN ${h("src")} = ${h("dst")} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS pct_local
        FROM edges GROUP BY 1"""
  }

  /** kg_fact_fusion oracle: per-subject top-2 by (confidence DESC, obj),
    * winner row + margin vs the runner-up — the same pivot the Column code
    * does after its WindowGroupLimit top-2. */
  private[graft] def factFusionOracleSql: String =
    s"""WITH $tripleConfidenceCtes,
        r AS (SELECT subj, obj, n_extractors, confidence,
                row_number() OVER (PARTITION BY subj
                  ORDER BY confidence DESC, obj) AS rn FROM conf)
        SELECT subj,
          MAX(CASE WHEN rn = 1 THEN obj END) AS obj,
          MAX(CASE WHEN rn = 1 THEN confidence END) AS confidence,
          MAX(CASE WHEN rn = 1 THEN n_extractors END) AS n_extractors,
          ROUND(MAX(CASE WHEN rn = 1 THEN confidence END)
            - COALESCE(MAX(CASE WHEN rn = 2 THEN confidence END),
                       CAST(0 AS DOUBLE)), 6) AS margin
        FROM r WHERE rn <= 2 GROUP BY subj"""

  /** One UNION ALL leg per [[graft.ops.Relations.HearstRules]] entry, over
    * the `hpage` CTE — the SAME regex strings, group orientation, and
    * occurrence-index zip as the Column code. */
  /** ONE per-rule regex group-zip skeleton (two capture groups extracted,
    * zipped by occurrence index) shared by the Hearst AND OpenRE oracle
    * legs — a fix to the zip/indexing shape lands in one place. */
  private[graft] def regexPairLegSql(table: String, re: String,
                              selectList: String): String =
    s"""SELECT doc_id, $selectList
          FROM (SELECT doc_id, a, b,
                  unnest(generate_series(1, len(a))) AS i
                FROM (SELECT doc_id,
                        regexp_extract_all(text, '$re', 1) AS a,
                        regexp_extract_all(text, '$re', 2) AS b
                      FROM $table))"""

  private[graft] def hearstLegsSql: String =
    graft.ops.Relations.HearstRules.map { case (name, re, swapped) =>
      val (hy, ho) = if (swapped) ("b[i]", "a[i]") else ("a[i]", "b[i]")
      regexPairLegSql("hpage", re,
        s"lower($hy) AS hypernym, lower($ho) AS hyponym, '$name' AS pattern")
    }.mkString("\n           UNION ALL\n           ")

  /** Per-frame extraction legs of the `kg_openre` oracle (the shared
    * [[regexPairLegSql]] skeleton over [[graft.ops.Relations.VerbRules]]). */
  private[graft] def openreLegsSql: String =
    graft.ops.Relations.VerbRules.map { case (name, re) =>
      regexPairLegSql("rpage", re,
        s"lower(a[i]) AS subj_surface, '$name' AS rel, lower(b[i]) AS obj_surface")
    }.mkString("\n           UNION ALL\n           ")

  /** web_anf oracle ([[graft.graph.KgGraph.anf]] twin): unrolled FM-sketch
    * rounds — init = lowest set bit of the 30-bit-masked md5 hash, each
    * round a bit_or re-aggregation over own + out-neighbor sketches
    * (bitwise OR is order-free: the one iterative op needing NO float
    * contract until the final 2^(mean-b) estimate, where est rounds 6dp
    * and the sum 2dp like every other float rollup). */
  private[graft] def anfOracleSql(rounds: Int, trials: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS (SELECT node, t, bit_or(s) AS s FROM (
            SELECT node, t, s FROM s${r - 1}
            UNION ALL
            SELECT e.src AS node, s.t, s.s FROM hg e
            JOIN s${r - 1} s ON s.node = e.dst)
          GROUP BY node, t)"""
    }.mkString(",\n")
    val nfSelects = (0 to rounds).map { r =>
      s"""SELECT $r AS r, ROUND(SUM(est), 2) AS nf FROM (
            SELECT node,
              ROUND(POW(CAST(2.0 AS DOUBLE),
                  SUM(CAST(bit_count(xor(s, s + 1)) AS BIGINT) - 1) / $trials)
                / CAST(0.77351 AS DOUBLE), 6) AS est
            FROM s$r GROUP BY node)"""
    }.mkString("\nUNION ALL\n")
    s"""WITH ${graft.ops.LinkGraph.linksCteSql},
        hosts AS (SELECT ${graft.ops.WebOps.canonHostSqlOf("src_url")} AS src,
                         ${graft.ops.WebOps.canonHostSqlOf("dst_url")} AS dst
                  FROM lnk),
        hg AS (SELECT DISTINCT src, dst FROM hosts WHERE src <> dst),
        nd AS (SELECT src AS node FROM hg UNION SELECT dst FROM hg),
        tr AS (SELECT unnest(generate_series(0, ${trials - 1})) AS t),
        h0 AS (SELECT node, t,
                 ('0x' || substr(md5(node || ':' || CAST(t AS VARCHAR)), 1, 15))::BIGINT
                   & ${(1L << 30) - 1} AS hh
               FROM nd, tr),
        s0 AS (SELECT node, t, hh & (-hh) AS s FROM h0),
        $roundCtes
        $nfSelects"""
  }

  private[graft] def domainQuotaOracleSql: String =
    s"""WITH ${graft.ops.WebOps.canonCteSql},
        r AS (SELECT doc_id, host, canon_url,
                ROW_NUMBER() OVER (PARTITION BY host
                  ORDER BY ('0x' || substr(md5(canon_url), 1, 15))::BIGINT,
                           doc_id) AS rn
              FROM canon)
        SELECT doc_id, host, canon_url FROM r WHERE rn <= 50"""

  private[graft] lazy val oracleSqlSeq: Seq[(String, String)] =
    AnnTier.oracles ++ DictTier.oracles ++ WebTier.oracles ++ KgTier.oracles ++ TextTier.oracles ++ CurateTier.oracles ++ DedupSimTier.oracles ++ CoreTier.oracles

  /** Oracle registry under the same duplicate gate as [[queries]], plus a
    * 1:1 cross-check — every registered query must carry an oracle and
    * vice versa, so a key typo on either side fails loudly at first use
    * instead of silently weakening the driver's correctness gate. */
  lazy val oracleSql: Map[String, String] = {
    val dups = oracleSqlSeq.groupBy(_._1).collect { case (k, vs) if vs.sizeIs > 1 => k }
    require(dups.isEmpty, s"duplicate oracle names in registry: ${dups.mkString(", ")}")
    // a tier object initialized during SparkEntry's own construction would
    // capture still-null helper vals — the lazy assembly prevents it, and
    // this keeps any regression loud instead of NPE-ing downstream
    val nulls = oracleSqlSeq.collect { case (k, v) if v == null => k }
    require(nulls.isEmpty, s"null oracle SQL (object-init order): ${nulls.mkString(", ")}")
    val m = oracleSqlSeq.toMap
    val missing = queries.keySet -- m.keySet
    val extra = m.keySet -- queries.keySet
    require(missing.isEmpty, s"queries with no oracle: ${missing.mkString(", ")}")
    require(extra.isEmpty, s"oracles with no query: ${extra.mkString(", ")}")
    m
  }

  /** Shared CTE chain for the two rule-mining oracles: the extended kb,
    * the fan-capped chain body, and the three metric aggregations —
    * mirrors [[graft.ops.RuleMine]] leg for leg with the SAME constants. */
  private[graft] def ruleKbCtes: String =
    s"""kb AS (SELECT subj, pred, obj FROM triples
              UNION
              SELECT child_iri, '${graft.ops.RuleMine.SubClassOf}', parent_iri FROM edges
              UNION
              SELECT class_iri, '${graft.ops.RuleMine.MappedTo}', mapped_iri FROM maps),
        okfan AS (SELECT subj, pred FROM kb GROUP BY 1, 2
                  HAVING COUNT(*) <= ${graft.ops.RuleMine.FanCap}),
        body AS MATERIALIZED (
          SELECT DISTINCT a.pred AS p1, b.pred AS p2, a.subj AS x, b.obj AS z
          FROM kb a
          JOIN kb b ON a.obj = b.subj
          JOIN okfan f ON b.subj = f.subj AND b.pred = f.pred),
        bodysize AS (SELECT p1, p2, COUNT(*) AS body_size FROM body GROUP BY 1, 2),
        support AS (SELECT p1, p2, h.pred AS head_pred, COUNT(*) AS support
                    FROM body JOIN kb h ON h.subj = body.x AND h.obj = body.z
                    GROUP BY 1, 2, 3),
        pca AS (SELECT p1, p2, hp.pred AS head_pred, COUNT(*) AS pca_body
                FROM body
                JOIN (SELECT DISTINCT subj, pred FROM kb) hp ON hp.subj = body.x
                GROUP BY 1, 2, 3),
        headsize AS (SELECT pred AS head_pred, COUNT(*) AS head_size
                     FROM kb GROUP BY 1)"""
}
