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

/** dedupsim-tier slice of the driver registry —
  * moved verbatim out of SparkEntry (round-5 hygiene split; the Seq→Map
  * assembly, duplicate gate and 1:1 queries↔oracles check stay in
  * [[SparkEntry]]). Shared helpers live on SparkEntry as
  * `private[graft]` members. 27 queries / 27 oracles. */
private[graft] object DedupSimTier {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // KMV bottom-k distinct sketch (custom typed Aggregator, bounded 8k-byte
    // buffer per group) + exact distinct alongside — the DuckDB oracle
    // recomputes the k smallest distinct hashes declaratively
    "sketch_distinct" -> ((s, dir) =>
      Sketch.kmvDistinct(s.read.parquet(s"$dir/events.parquet"),
        groupCol = "event_type", valueCol = "user_id", k = 64)),

    // HyperLogLog register sketch over the SAME (event_type, user_id)
    // stream as sketch_distinct — KMV vs HLL estimates directly comparable
    // on one release card; 64 one-byte registers per group, two codegen'd
    // hash aggs, exact-BIGINT harmonic sum until one pinned division
    "sketch_hll" -> ((s, dir) =>
      Sketch.hllDistinct(s.read.parquet(s"$dir/events.parquet"),
        groupCol = "event_type", valueCol = "user_id")),

    // cross-SOURCE vocabulary overlap via HLL register MERGE + inclusion–
    // exclusion — the union estimate needs only the register tables, no
    // second data pass (HLL's defining mergeability, the cross-cluster
    // audience-overlap shape); bigram vocabularies because they overlap
    // PARTIALLY across sources (sizes 634–740, overlaps 449–603 at
    // sf0.01 — the event-type user sets are all identical, a degenerate
    // fixture for an overlap estimator); exact overlap rides alongside
    "sketch_hll_overlap" -> ((s, dir) =>
      Sketch.hllOverlap(
        docsTable(s, dir).select(col("source"),
          explode(graft.ops.Dedup.shingles(col("text"), 2)).as("bigram")),
        groupCol = "source", valueCol = "bigram")),

    // ---- training-data ops ------------------------------------------,

    "dedup_exact" -> ((s, dir) => Dedup.exact(docsTable(s, dir))),

    // measured LSH candidate recall vs the exact-Jaccard ground truth —
    // the banding/cap quality surface (the sim_ivf_recall discipline on
    // the dedup side); one full-outer join of the two audited pair sets
    "dedup_lsh_recall" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val exact = Dedup.jaccardPairs(docs, n = 3, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("e"))
      val lsh = Dedup.minhashLshPairs(docs, n = 3, k = 16, bands = 4,
          threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("l"))
      exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
        .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
          coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
          coalesce(sum(col("e") * col("l")), lit(0L)).as("n_common"))
        .select(col("n_exact"), col("n_lsh"), col("n_common"),
          round(col("n_common").cast("double")
            / col("n_exact").cast("double"), 6).as("recall"))
    }),

    // Broder containment over the quote-augmented corpus: the asymmetric
    // sub-document duplication Jaccard misses (quote pages score 1.0 into
    // their source while their Jaccard sits under the dedup threshold)
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Dedup.withQuotes(docsTable(s, dir)))),

    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(docsTable(s, dir), n = 3, threshold = 0.8, maxDocFreq = 100)),

    // content-defined chunk dedup: boundaries from token-local hashes, so
    // an early insertion shifts fixed frames but CDC chunks resynchronize
    // (CdcSpec pins the property); exchange key = 8-byte chunk fingerprint
    "dedup_cdc" -> ((s, dir) => Dedup.cdcDedup(docsTable(s, dir))),

    // benchmark decontamination: docs sharing shingles with a benchmark set
    // (benchmark = the 10 lowest-id docs, deterministic)
    "dedup_decontaminate" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      Dedup.decontaminate(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        n = 3, minOverlap = 2)
    }),

    // portable md5-hex minhash — the DuckDB oracle recomputes the FULL
    // pipeline (signatures, banding, bucket cap, candidates, exact rerank)
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(docsTable(s, dir), n = 3, k = 16, bands = 4, threshold = 0.8)),

    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(docsTable(s, dir), maxHamming = 3)),

    // the production dedup shape: a NEW batch (doc_id % 7 == 0) against the
    // existing corpus — only pairs touching a new doc are computed; the
    // stored-signature scale path documented on the op. Oracle = the full
    // minhash pipeline restricted to pairs involving a new doc.
    "dedup_incremental" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      Dedup.minhashIncrementalPairs(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        n = 3, k = 16, bands = 4, threshold = 0.8)
    }),

    "sim_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"), nQueries = 10, k = 3)),

    // int8 scalar quantization (FAISS SQ8): snap to 256 per-dim levels,
    // exact top-k on the dequantized vectors — the 4×-memory ANN code path
    "sim_quantized" -> ((s, dir) =>
      Similarity.quantizedTopK(s.read.parquet(s"$dir/embeddings.parquet"), nQueries = 10, k = 3)),

    // product quantization + ADC (FAISS PQ): 4 subspace codebooks trained by
    // seeded Lloyd, vectors stored as 4 code bytes, queries scored exact-vs-
    // codeword — the 10^12-vector memory shape; encode is pure map-side
    "sim_pq" -> ((s, dir) =>
      Similarity.pqTopK(s.read.parquet(s"$dir/embeddings.parquet"), nQueries = 10, k = 3)),

    // IVF index-balance report: per inverted list, size + mean member-to-
    // centroid cosine — the ANN index health surface (skew predicts recall
    // and latency degradation before queries show it)
    "sim_ivf_stats" -> ((s, dir) =>
      Similarity.ivfStats(s.read.parquet(s"$dir/embeddings.parquet"))),

    // measured recall@3 of nProbe=2 IVF vs exact brute force — the ANN
    // quality-eval surface (recall is exact thirds: 6dp round is exact)
    "sim_ivf_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val exact = Similarity.bruteForceTopK(emb, nQueries = 10, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(emb, nQueries = 10, k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double")
          / lit(3.0), 6).as("recall"))
    }),

    // measured recall@3 of 4×16-code PQ/ADC vs exact brute force —
    // completes the ANN recall-audit set (LSH, IVF, PQ): the compression-
    // loss surface a release pass reads before swapping the index format
    "sim_pq_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val exact = Similarity.bruteForceTopK(emb, nQueries = 10, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.pqTopK(emb, nQueries = 10, k = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double")
          / lit(3.0), 6).as("recall"))
    }),

    "sim_lsh" -> ((s, dir) =>
      Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"), nQueries = 10, k = 3)),

    "sim_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"), nQueries = 10, k = 3)),

    // IVF recall knob: each query probes its 2 nearest inverted lists —
    // candidate volume ~2×, recall closer to brute force, same rerank
    "sim_ivf_probe2" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        nQueries = 10, k = 3, nProbe = 2)),

    "sim_dup_pairs" -> ((s, dir) =>
      Similarity.cosineDupPairs(s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.3)),

    // AMS/count-sketch F2 (self-join size) estimator over the annotation
    // key stream — the one-pass optimizer statistic behind q_skew_report's
    // salting decision, audited against the exact F2 (all-BIGINT; the only
    // float is rel_err)
    "sketch_ams" -> ((s, dir) =>
      Sketch.amsF2(matchesPar(s, dir).select("url", "class_iri").distinct(),
        "class_iri")),

    // count-min frequency sketch: d×w counter matrix (a few KB at ANY
    // corpus size), estimates vs exact for the 20 hottest tokens; the
    // min-over-rows estimate can only over-count
    "sketch_cm" -> ((s, dir) => {
      import s.implicits._
      val toks = docsTable(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      // the 20-row probe set is QUERY INPUT — collect it so the final plan
      // doesn't re-evaluate the corpus tokenization + top-k three times
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val topDf = top.toDF("tok", "exact_n")
      val est = Sketch.countMinEstimate(Sketch.countMin(toks, "tok"),
          topDf, "tok")
        .withColumnRenamed("v", "tok")
      topDf.join(est, "tok")
        .select(col("tok"), col("exact_n"), col("cm_estimate"))
    }),

    // per-label embedding centroids (prototype vectors / drift monitor):
    // one (label, dim) hash agg after posexplode — map-side partial avgs,
    // output rows = |labels| × 64
    "sim_centroids" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).as("dim"))
        .agg(round(avg(col("x").cast("double")), 6).as("mean"))),

    // near-dup CLUSTERS: connected components (large-star/small-star) over
    // the MinHash+LSH pair set, cluster label = min doc_id — the step that
    // turns pairwise dup detection into per-cluster canonical selection
    "dedup_cluster" -> ((s, dir) => {
      // pinned (the connectedComponents caller contract): the LSH pair
      // chain would otherwise evaluate once per operator-side pin
      val pairs = Dedup.minhashLshPairs(
        docsTable(s, dir), n = 3, k = 16, bands = 4, threshold = 0.8)
        .localCheckpoint()
      graft.graph.KgGraph.connectedComponents(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("class_iri").as("doc_id"), col("component").as("cluster"))
    }),

    // canonical-doc SELECTION per near-dup cluster — production keeps the
    // BEST-quality member, not the min id: one argmax `max(struct(quality,
    // −doc_id))` per cluster (map-side partials; ties → smaller id), member
    // count rides the same agg. Clusters and quality are the two audited
    // legs (dedup_cluster, text_quality) composed.
    "dedup_canonical" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, n = 3, k = 16, bands = 4,
        threshold = 0.8).localCheckpoint()
      val clusters = graft.graph.KgGraph.connectedComponents(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("class_iri").as("doc_id"), col("component").as("cluster"))
      clusters.join(TextOps.qualityScore(docs), "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality"), (-col("doc_id")).as("negid"))).as("k"))
        .select(col("cluster"), (-col("k.negid")).as("canonical_id"),
          col("k.quality").as("quality"), col("n_members"))
    }),

    // ---- KG-release QA + provenance IO (round-4 continuation) ----------,
  )

  val oracles: Seq[(String, String)] = Seq(
    "sim_centroids" ->
      """SELECT label, CAST(d AS INT) AS dim, ROUND(AVG(emb[d]), 6) AS mean
         FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
              (SELECT unnest(generate_series(1, 64)) AS d)
         GROUP BY 1, 2""",

    // KMV: the k smallest DISTINCT 60-bit hashes per group, recomputed
    // declaratively (row_number over distinct hashes); estimator shared
    // with the Scala side — exact below k, (k-1)*2^60/h_(k) at k
    "sketch_distinct" ->
      """WITH dv AS (SELECT DISTINCT event_type,
                       CAST(user_id AS VARCHAR) AS v FROM events
                     WHERE user_id IS NOT NULL),
           h AS (SELECT DISTINCT event_type,
                   CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT) AS h
                 FROM dv),
           bk AS (SELECT event_type, h,
                    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                  FROM h),
           kk AS (SELECT event_type, COUNT(*) AS n, MAX(h) AS kth
                  FROM bk WHERE rn <= 64 GROUP BY event_type),
           ex AS (SELECT event_type, COUNT(*) AS exact_distinct
                  FROM dv GROUP BY event_type)
         SELECT kk.event_type,
           ROUND(CASE WHEN kk.n < 64 THEN CAST(kk.n AS DOUBLE)
                 ELSE CAST(63 AS DOUBLE) * 1152921504606846976.0
                      / CAST(kk.kth AS DOUBLE) END, 4) AS est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
         FROM kk JOIN ex USING (event_type)""",

    // HLL: per-(group, bucket) max rank via the shared exact-integer
    // threshold chain, BIGINT harmonic fold, raw α·m²/S vs linear-counting
    // switch — all constants single-sourced from Sketch
    "sketch_hll" -> {
      import graft.ops.Sketch.{HllM, HllRawNum, HllRemBits, HllScale}
      s"""WITH dv AS (SELECT DISTINCT event_type,
                        CAST(user_id AS VARCHAR) AS v FROM events
                      WHERE user_id IS NOT NULL),
           h AS (SELECT event_type,
                   CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT) AS h
                 FROM dv),
           rg AS (SELECT event_type, h % $HllM AS bucket,
                    MAX(${graft.ops.Sketch.hllRankSql(s"(h // $HllM)")}) AS r
                  FROM h GROUP BY 1, 2),
           fd AS (SELECT event_type, COUNT(*) AS n_present,
                    SUM(CAST(1 AS BIGINT) << (${HllRemBits + 1} - r)) AS s_present
                  FROM rg GROUP BY 1),
           est AS (SELECT event_type, n_present,
                     $HllRawNum / CAST(s_present
                       + ($HllM - n_present) * $HllScale AS DOUBLE) AS raw
                   FROM fd),
           ex AS (SELECT event_type, COUNT(*) AS exact_distinct
                  FROM dv GROUP BY event_type)
         SELECT e.event_type,
           ROUND(CASE WHEN e.raw <= ${2.5 * HllM} AND e.n_present < $HllM
                 THEN ${HllM.toDouble} * ln(${HllM.toDouble}
                   / CAST($HllM - e.n_present AS DOUBLE))
                 ELSE e.raw END, 4) AS est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
         FROM est e JOIN ex USING (event_type)"""
    },

    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY text""",

    "dedup_jaccard" -> jaccardPairsOracleSql,

    // CDC chain mirrored: boundary mark via the HUGEINT fingerprint fold
    // (unsigned % 4 == signed pmod 4 — 4 divides 2^64), segment renumber
    // AFTER the empty-drop, first-occurrence argmin per chunk fingerprint
    "dedup_cdc" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
          marked AS (SELECT doc_id, list_transform(t, x -> x ||
                       CASE WHEN (${fpSql("x")}) % 4 = 0
                            THEN chr(31) ELSE ' ' END) AS m
                     FROM toks),
          segs AS (SELECT doc_id,
                     string_split(array_to_string(m, ''), chr(31)) AS ss
                   FROM marked),
          raw AS (SELECT doc_id, i, trim(ss[i]) AS chunk
                  FROM (SELECT doc_id, ss,
                          unnest(generate_series(1, len(ss))) AS i
                        FROM segs)
                  WHERE length(trim(ss[i])) > 0),
          chunks AS (SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                               ORDER BY i) AS INT)
                         AS chunk_idx,
                       ${toSignedSql(s"(${fpSql("chunk")})")} AS chunk_hash
                     FROM raw)
          SELECT FIRST(doc_id ORDER BY doc_id, chunk_idx) AS doc_id,
                 FIRST(chunk_idx ORDER BY doc_id, chunk_idx) AS chunk_idx,
                 chunk_hash, CAST(COUNT(*) AS BIGINT) AS n_copies
          FROM chunks GROUP BY chunk_hash""",

    // quote synthesis mirrored, then the jaccard candidate chain with the
    // containment formulas; threshold RAW on the larger direction
    "dedup_containment" ->
      """WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT 100000 + doc_id AS doc_id,
              array_to_string(l[1:(3 * len(l)) // 5], ' ') AS text
            FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) z
            WHERE doc_id % 13 = 0),
          toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus
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
                 ROUND(n_common / CAST(sa.n_shingles AS DOUBLE), 4) AS containment_a,
                 ROUND(n_common / CAST(sb.n_shingles AS DOUBLE), 4) AS containment_b
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE GREATEST(n_common / CAST(sa.n_shingles AS DOUBLE),
                         n_common / CAST(sb.n_shingles AS DOUBLE)) >= 0.9""",

    "dedup_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks
                  WHERE len(t) >= 3),
          sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
          bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
          SELECT s.doc_id, COUNT(*) AS n_overlap
          FROM sh s JOIN bench b ON s.shingle = b.shingle
          WHERE s.doc_id >= 10
          GROUP BY s.doc_id HAVING COUNT(*) >= 2""",

    "sim_topk" -> bruteTopKOracleSql,

    // quantizer stats recomputed declaratively; snap arithmetic is scalar
    // round/CASE; dequantized vectors reassemble via ORDER BY dim and rank
    // through the same sequential-fold dot products as sim_topk
    "sim_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          ex AS (SELECT vec_id, i AS dim, emb[i] AS x FROM
            (SELECT vec_id, emb, unnest(generate_series(1, len(emb))) AS i FROM e) z),
          st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY 1),
          dq AS (SELECT vec_id, dim,
              CASE WHEN mx = mn THEN mn
                   ELSE mn + round((x - mn) / (mx - mn) * 255.0, 0) * (mx - mn) / 255.0
              END AS xq
            FROM ex JOIN st USING (dim)),
          v AS (SELECT vec_id, list(xq ORDER BY dim) AS emb FROM dq GROUP BY 1),
          q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < 10),
          s AS (SELECT query_id, v.vec_id AS neighbor_id,
                ROUND(list_dot_product(q_emb, emb) /
                  sqrt(list_dot_product(q_emb, q_emb) * list_dot_product(emb, emb)), 4) AS cos
                FROM q, v WHERE v.vec_id <> q.query_id),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank FROM s)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
          FROM r WHERE rank <= 3""",

    // measured recall@3 of the nProbe=2 IVF path vs exact brute force —
    // the ANN eval surface; each side is its own already-green oracle query
    // nested as a subquery (DuckDB allows WITH inside parenthesized
    // subselects), joined on (query, neighbor)
    "sim_ivf_recall" ->
      s"""SELECT e.query_id,
            ROUND(CAST(COUNT(i.neighbor_id) AS DOUBLE)
              / CAST(3.0 AS DOUBLE), 6) AS recall
          FROM ($bruteTopKOracleSql) e
          LEFT JOIN (${ivfOracleSql(iters = 2, nprobe = 2)}) i
            ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
          GROUP BY 1""",

    // full independent recomputation: portable md5-hex minhash → banding →
    // hot-bucket cap → candidate pairs → exact-jaccard rerank (params
    // mirrored from the query: n=3, k=16, bands=4 (r=4), maxBucket=1000,
    // threshold 0.8 on the raw jaccard)
    "dedup_minhash" -> minhashPairsOracleSql,

    // LSH candidate recall vs the exact-Jaccard ground truth — the dedup
    // sibling of sim_ivf_recall: both audited chains nested as derived
    // tables (the LSH pipeline reranks on exact jaccard, so its pairs are
    // a SUBSET of the ground truth and n_common == n_lsh by construction
    // — asserted by the shared count)
    "dedup_lsh_recall" ->
      s"""WITH ex AS (SELECT COUNT(*) AS n_exact
                      FROM ($jaccardPairsOracleSql) a),
          ls AS (SELECT COUNT(*) AS n_lsh FROM ($minhashPairsOracleSql) b),
          cm AS (SELECT COUNT(*) AS n_common
                 FROM ($jaccardPairsOracleSql) a
                 JOIN ($minhashPairsOracleSql) b USING (doc_a, doc_b))
          SELECT ex.n_exact, ls.n_lsh, cm.n_common,
            ROUND(CAST(cm.n_common AS DOUBLE)
              / CAST(ex.n_exact AS DOUBLE), 6) AS recall
          FROM ex, ls, cm""",

    // the incremental engine path must equal the FULL pipeline restricted
    // to pairs that touch a new (doc_id % 7 == 0) doc — shared CTEs, so the
    // bucket-cap population is the combined corpus's, as in the engine
    "dedup_incremental" ->
      s"""WITH $minhashCtes
          SELECT doc_a, doc_b,
                 ROUND(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE n_common / (sa.n + sb.n - n_common) >= 0.8
            AND (doc_a % 7 = 0 OR doc_b % 7 = 0)""",

    // the MinHash pair set (same CTEs as dedup_minhash) closed into
    // clusters by recursive min-label reachability — the kg_components
    // oracle shape over dup pairs
    "dedup_cluster" ->
      s"""WITH RECURSIVE $minhashCtes,
          prs AS (SELECT doc_a, doc_b FROM inter
                  JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
                  WHERE n_common / (sa.n + sb.n - n_common) >= 0.8),
          und AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
          SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
          FROM reach GROUP BY a""",

    // the cluster chain + the text_quality formula + a per-cluster argmax
    // window (quality desc, doc_id asc — the engine's struct order)
    "dedup_canonical" ->
      s"""WITH RECURSIVE $minhashCtes,
          prs AS (SELECT doc_a, doc_b FROM inter
                  JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
                  WHERE n_common / (sa.n + sb.n - n_common) >= 0.8),
          und AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
          cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
                 FROM reach GROUP BY a),
          q AS (SELECT doc_id, $qualityExprSql AS quality
                FROM documents),
          w AS (SELECT cl.cluster, cl.doc_id, q.quality,
                  row_number() OVER (PARTITION BY cl.cluster
                    ORDER BY q.quality DESC, cl.doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY cl.cluster) AS n_members
                FROM cl JOIN q USING (doc_id))
          SELECT cluster, doc_id AS canonical_id, quality,
            CAST(n_members AS BIGINT) AS n_members
          FROM w WHERE rn = 1""",

    // full independent recomputation of the 64-bit simhash (per-token rolling
    // fingerprint → per-bit majority vote → signature) + ALL-PAIRS hamming ≤ 3
    // — equal to the banded query by the pigeonhole guarantee (≤ 3 differing
    // bits always leave ≥ 1 of 4 bands identical), so this checks banding
    // completeness too
    "dedup_simhash" ->
      s"""WITH RECURSIVE powers(b, p) AS (
            SELECT 0, 1::HUGEINT UNION ALL SELECT b + 1, p * 2 FROM powers WHERE b < 63),
          tokc AS (SELECT doc_id, tok, COUNT(*) AS cnt
                   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
                   GROUP BY doc_id, tok),
          tokh AS (SELECT doc_id, cnt, ${fpSql("tok")} AS h FROM tokc),
          bits AS (SELECT doc_id, p,
                     SUM(CASE WHEN (h // p) % 2 = 1 THEN cnt ELSE -cnt END) AS c
                   FROM tokh, powers GROUP BY doc_id, p),
          rawsig AS (SELECT doc_id,
                       SUM(CASE WHEN c > 0 THEN p ELSE 0::HUGEINT END) AS v
                     FROM bits GROUP BY doc_id),
          sig AS (SELECT doc_id, ${toSignedSql("v")} AS s FROM rawsig)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.s, b.s)) <= 3""",

    // portable recomputation: hyperplane literals are the SAME deterministic
    // values the Spark side derives (Similarity.hyperplaneSqlValues — single
    // source of truth), bucket = packed dot-product signs, then the exact
    // cosine rerank of sim_topk restricted to same-bucket candidates
    "sim_lsh" ->
      s"""WITH planes(p, v) AS (SELECT * FROM (VALUES ${Similarity.hyperplaneSqlValues(6, 64)}) x(a, b)),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          buck AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN list_dot_product(v, emb) >= 0
                              THEN (1 << p) ELSE 0 END) AS INT) AS bucket
                   FROM e, planes GROUP BY vec_id),
          eb AS (SELECT e.vec_id, emb, bucket FROM e JOIN buck USING (vec_id)),
          q AS (SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket
                FROM eb WHERE vec_id < 10),
          s AS (SELECT query_id, eb.vec_id AS neighbor_id,
                  ROUND(list_dot_product(q_emb, emb) /
                    sqrt(list_dot_product(q_emb, q_emb) * list_dot_product(emb, emb)), 4) AS cos
                FROM q JOIN eb ON q.q_bucket = eb.bucket AND eb.vec_id <> q.query_id),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rank FROM s)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
          FROM r WHERE rank <= 3""",

    // IVF with the seeded-Lloyd quantizer, fully recomputed in SQL: seed
    // centroids = first 8 vectors, then the SAME 2 Lloyd rounds (cosine
    // assignment with c_id tie-break, per-dim means ROUNDed to 6dp — the
    // cross-engine float-sum contract), final assignment of ALL vectors on
    // the UNROUNDED cosine, probe own list, exact rerank
    "sim_ivf" -> ivfOracleSql(iters = 2),

    "sim_pq" -> pqOracleSql(),

    // the sim_ivf_recall shape over the PQ oracle: exact top-3 LEFT JOIN
    // PQ top-3 on (query, neighbor), hit-count / 3 per query
    "sim_pq_recall" ->
      s"""SELECT e.query_id,
            ROUND(CAST(COUNT(p.neighbor_id) AS DOUBLE)
              / CAST(3.0 AS DOUBLE), 6) AS recall
          FROM ($bruteTopKOracleSql) e
          LEFT JOIN (${pqOracleSql()}) p
            ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
          GROUP BY 1""",

    // same trained-quantizer chain; per-member 4dp cosine, then 4dp mean
    "sim_ivf_stats" ->
      s"""WITH ${ivfChainCtes(2)},
          cj AS (SELECT aff.bucket,
                   ROUND(list_dot_product(aff.emb, c.c_emb) /
                     sqrt(list_dot_product(aff.emb, aff.emb)
                          * list_dot_product(c.c_emb, c.c_emb)), 4) AS ccos
                 FROM aff JOIN c2 c ON c.c_id = aff.bucket)
          SELECT bucket, COUNT(*) AS list_size,
            ROUND(AVG(ccos), 4) AS mean_cos
          FROM cj GROUP BY bucket""",

    // multi-probe: identical chain, the probe set keeps rn <= 2 per query
    "sim_ivf_probe2" -> ivfOracleSql(iters = 2, nprobe = 2),

    // embedding near-dup pairs: same bucket SQL as sim_lsh, pair join,
    // threshold on the 4dp-rounded cosine (the query's output contract)
    "sim_dup_pairs" ->
      s"""WITH planes(p, v) AS (SELECT * FROM (VALUES ${Similarity.hyperplaneSqlValues(6, 64)}) x(a, b)),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          buck AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN list_dot_product(v, emb) >= 0
                              THEN (1 << p) ELSE 0 END) AS INT) AS bucket
                   FROM e, planes GROUP BY vec_id),
          eb AS (SELECT e.vec_id, emb, bucket FROM e JOIN buck USING (vec_id))
          SELECT l.vec_id AS doc_a, r.vec_id AS doc_b,
                 ROUND(list_dot_product(l.emb, r.emb) /
                   sqrt(list_dot_product(l.emb, l.emb) * list_dot_product(r.emb, r.emb)), 4) AS cos
          FROM eb l JOIN eb r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
          WHERE ROUND(list_dot_product(l.emb, r.emb) /
                  sqrt(list_dot_product(l.emb, l.emb) * list_dot_product(r.emb, r.emb)), 4) >= 0.3""",

    // HLL register merge twin: same register chain as sketch_hll grouped
    // per event type, pair unions by (pair, bucket) MAX, the shared
    // estimator CASE, inclusion–exclusion on the ROUNDED components
    "sketch_hll_overlap" -> {
      import graft.ops.Sketch.{HllM, HllRemBits}
      s"""WITH ht AS (SELECT source, string_split(text, ' ') AS t
                      FROM documents),
           dv AS (SELECT DISTINCT source AS g, t[i] || ' ' || t[i + 1] AS v
                  FROM (SELECT source, t,
                          unnest(generate_series(1, len(t) - 1)) AS i
                        FROM ht WHERE len(t) >= 2) z),
           h AS (SELECT g,
                   CAST(concat('0x', substring(md5(v), 1, 15)) AS BIGINT) AS h
                 FROM dv),
           rg AS (SELECT g, h % $HllM AS bucket,
                    MAX(${graft.ops.Sketch.hllRankSql(s"(h // $HllM)")}) AS r
                  FROM h GROUP BY 1, 2),
           fd1 AS (SELECT g, COUNT(*) AS np,
                     SUM(CAST(1 AS BIGINT) << (${HllRemBits + 1} - r)) AS sp
                   FROM rg GROUP BY 1),
           est1 AS (SELECT g, ROUND(${hllEstCaseSql("np", "sp")}, 4) AS e
                    FROM fd1),
           gs AS (SELECT DISTINCT g FROM rg),
           pairs AS (SELECT a.g AS grp_a, b.g AS grp_b
                     FROM gs a JOIN gs b ON a.g < b.g),
           tag AS (SELECT p.grp_a, p.grp_b, rg.bucket, rg.r
                   FROM rg JOIN pairs p ON rg.g = p.grp_a
                   UNION ALL
                   SELECT p.grp_a, p.grp_b, rg.bucket, rg.r
                   FROM rg JOIN pairs p ON rg.g = p.grp_b),
           urg AS (SELECT grp_a, grp_b, bucket, MAX(r) AS r
                   FROM tag GROUP BY 1, 2, 3),
           ufd AS (SELECT grp_a, grp_b, COUNT(*) AS np,
                     SUM(CAST(1 AS BIGINT) << (${HllRemBits + 1} - r)) AS sp
                   FROM urg GROUP BY 1, 2),
           uest AS (SELECT grp_a, grp_b,
                      ROUND(${hllEstCaseSql("np", "sp")}, 4) AS est_union
                    FROM ufd),
           ov AS (SELECT a.g AS grp_a, b.g AS grp_b,
                    CAST(COUNT(*) AS BIGINT) AS exact_overlap
                  FROM dv a JOIN dv b ON a.v = b.v AND a.g < b.g
                  GROUP BY 1, 2)
          SELECT p.grp_a, p.grp_b, ea.e AS est_a, eb.e AS est_b,
            u.est_union,
            ROUND(GREATEST(ea.e + eb.e - u.est_union,
              CAST(0.0 AS DOUBLE)), 4) AS est_overlap,
            COALESCE(ov.exact_overlap, 0) AS exact_overlap
          FROM pairs p
          JOIN est1 ea ON ea.g = p.grp_a
          JOIN est1 eb ON eb.g = p.grp_b
          JOIN uest u USING (grp_a, grp_b)
          LEFT JOIN ov USING (grp_a, grp_b)"""
    },

    // AMS/count-sketch F2 twin: same md5-derived buckets/signs, all-BIGINT
    // counters, median line via list_sort[3]; rel_err is the only float
    "sketch_ams" ->
      s"""WITH $dictCte, $directCte,
          ks AS (SELECT class_iri AS key FROM
                   (SELECT DISTINCT url, class_iri FROM direct) z),
          tag AS (SELECT r,
                    ('0x' || substr(md5('b' || CAST(r AS VARCHAR) || '|'
                       || key), 1, 15))::BIGINT % 16 AS b,
                    1 - 2 * (('0x' || substr(md5('s' || CAST(r AS VARCHAR)
                       || '|' || key), 1, 15))::BIGINT % 2) AS sign
                  FROM ks CROSS JOIN (SELECT unnest(range(5)) AS r) rr),
          cnt AS (SELECT r, b, CAST(SUM(sign) AS BIGINT) AS c
                  FROM tag GROUP BY 1, 2),
          line AS (SELECT r, CAST(SUM(c * c) AS BIGINT) AS est
                   FROM cnt GROUP BY 1),
          med AS (SELECT CAST(list_sort(list(est))[3] AS BIGINT) AS f2_est
                  FROM line),
          ex AS (SELECT CAST(SUM(f * f) AS BIGINT) AS f2_exact FROM
                   (SELECT CAST(COUNT(*) AS BIGINT) AS f
                    FROM ks GROUP BY key) z)
          SELECT f2_exact, f2_est,
            ROUND(CAST(ABS(f2_est - f2_exact) AS DOUBLE) / f2_exact, 6)
              AS rel_err
          FROM ex, med""",

    // full sketch recomputation: the same salted md5 row hashes, the same
    // d×w matrix, min-over-rows point queries for the same top-20 set
    "sketch_cm" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
          exact AS (SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY 1),
          top AS (SELECT tok, exact_n FROM exact
                  ORDER BY exact_n DESC, tok LIMIT 20),
          ex AS (SELECT tok, j FROM toks
                 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
          sk AS (SELECT j,
                   ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || tok), 1, 15))::BIGINT % 256 AS bucket,
                   COUNT(*) AS n
                 FROM ex GROUP BY 1, 2),
          probes AS (SELECT t.tok, t.exact_n, j.j,
                   ('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || t.tok), 1, 15))::BIGINT % 256 AS bucket
                 FROM top t
                 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j)
          SELECT p.tok, p.exact_n, MIN(s.n) AS cm_estimate
          FROM probes p JOIN sk s ON s.j = p.j AND s.bucket = p.bucket
          GROUP BY 1, 2""",
  )
}
