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

/** curate-tier slice of the driver registry —
  * moved verbatim out of SparkEntry (round-5 hygiene split; the Seq→Map
  * assembly, duplicate gate and 1:1 queries↔oracles check stay in
  * [[SparkEntry]]). Shared helpers live on SparkEntry as
  * `private[graft]` members. 15 queries / 15 oracles. */
private[graft] object CurateTier {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // quota-DERIVED stratified sampling: cap every language at ~100 docs
    // with the keep-rate computed IN-PLAN from the per-stratum counts
    // (text_sample's rates are caller-chosen constants; a rebalancing
    // pipeline wants them derived from the live distribution). One tiny
    // per-lang agg broadcast back onto the corpus, then the same
    // consistent-hash keep decision — map-side at any scale. ceil keeps
    // small strata whole (pct clamps to 100); the dominant language is
    // the one that actually downsamples.
    "curate_quota_sample" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val rates = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .select(col("lang"),
          least(lit(100L), ceil(lit(10000.0) / col("cnt"))).as("pct"))
      docs.join(broadcast(rates), "lang")
        .filter(Sampling.bucket100(col("doc_id")) < col("pct"))
        .select(col("doc_id"), col("lang"), col("pct"))
    }),

    // capstone training-data curation: exact-dedup survivors + quality gate
    // + language tag — the composed corpus-curation pipeline in one query
    "curate_corpus" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val keep = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      // quality + langPred inline (map-side Columns) — the only join is
      // the exact-dedup semi-join, which genuinely needs its agg; the
      // corpus never joins itself for values a projection computes
      docs.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          (TextOps.quality4(col("text")) / lit(10000.0)).as("quality"),
          TextOps.langPred(col("text")).as("lang_pred"),
          size(split(col("text"), " ")).as("n_tokens"))
        .filter(col("quality") >= 0.5)
    }),

    // FULL curation capstone (round 3): the complete public-recipe corpus
    // pipeline in one query — exact-dedup survivors, benchmark
    // decontamination (anti-join), Gopher rule gate, repetition cap, then
    // quality + language tags. Every leg is left-semi/anti on doc_id
    // (fixed-width keys; the text never re-shuffles), and every leg is
    // itself an independently oracle-checked operator.
    "curate_corpus_full" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val corpus = docs.filter(col("doc_id") >= 10)
      val bench = docs.filter(col("doc_id") < 10)
      val keep = Dedup.exact(corpus).select(col("keep_id").as("doc_id"))
      val contaminated = Dedup.decontaminate(corpus, bench, n = 3, minOverlap = 2)
        .select("doc_id")
      val gopher = TextOps.gopherRules(corpus).filter(col("keep")).select("doc_id")
      val lowRep = TextOps.repetitionStats(corpus)
        .filter(col("top_bigram_frac") <= 0.2).select("doc_id")
      corpus
        .join(keep, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(gopher, Seq("doc_id"), "left_semi")
        .join(lowRep, Seq("doc_id"), "left_semi")
        // quality + langPred inline — same rationale as curate_corpus:
        // the gate legs are semi/anti-joins on fixed-width keys, the
        // per-doc tags are map-side projections
        .select(col("doc_id"),
          (TextOps.quality4(col("text")) / lit(10000.0)).as("quality"),
          TextOps.langPred(col("text")).as("lang_pred"),
          size(split(col("text"), " ")).as("n_tokens"))
    }),

    // per-doc curation provenance ledger — WHY each document survived or
    // died (the observability a production pipeline ships next to the
    // curated corpus: rejection reasons are how filter regressions are
    // caught). Same legs as the capstone, LEFT-joined as flags instead of
    // semi/anti-joined away; every leg emits ≤1 row per doc, so the joins
    // cannot fan out
    "curate_ledger" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      val corpus = docs.filter(col("doc_id") >= 10)
      val bench = docs.filter(col("doc_id") < 10)
      val keep = Dedup.exact(corpus)
        .select(col("keep_id").as("doc_id"), lit(1).as("k"))
      val cont = Dedup.decontaminate(corpus, bench, n = 3, minOverlap = 2)
        .select(col("doc_id"), lit(1).as("ct"))
      val gop = TextOps.gopherRules(corpus).filter(col("keep"))
        .select(col("doc_id"), lit(1).as("g"))
      val rep = TextOps.repetitionStats(corpus)
        .filter(col("top_bigram_frac") <= 0.2)
        .select(col("doc_id"), lit(1).as("lr"))
      corpus.select("doc_id")
        .join(keep, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .join(gop, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("k").isNull.as("is_dup"),
          col("ct").isNotNull.as("is_contaminated"),
          col("g").isNull.as("fails_gopher"),
          col("lr").isNull.as("high_repetition"),
          (col("k").isNotNull && col("ct").isNull && col("g").isNotNull &&
            col("lr").isNotNull).as("kept"))
    }),

    // decontamination attribution: per benchmark item, leaked-doc count +
    // total shingle overlap — the report eval owners read (the semi-join
    // decontaminate keeps no attribution; this keys the same broadcast by
    // bench doc)
    "curate_contamination_report" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      Dedup.contaminationReport(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
    }),

    // the datasheet a data team ships next to the corpus: the rejection
    // ledger aggregated to one row of counts + kept fraction (reuses the
    // ledger query — one extra global agg over ≤1 row/doc flags)
    "curate_summary" -> ((s, dir) =>
      SparkEntry.queries("curate_ledger")(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup").cast("long")).as("n_dup"),
          sum(col("is_contaminated").cast("long")).as("n_contaminated"),
          sum(col("fails_gopher").cast("long")).as("n_fails_gopher"),
          sum(col("high_repetition").cast("long")).as("n_high_repetition"),
          sum(col("kept").cast("long")).as("n_kept"))
        .withColumn("kept_frac", round(
          col("n_kept").cast("double") / col("n_docs").cast("double"), 6))),

    // the ledger stratified by SOURCE — the domain-level filtering view
    // (RefinedWeb/CCNet-style: decide per-domain keep policy from its
    // rejection mix, not per-doc). One doc_id-keyed broadcast-shaped join
    // of the ≤1-row/doc ledger onto (doc_id, source), one source-keyed agg
    "curate_domain_report" -> ((s, dir) =>
      SparkEntry.queries("curate_ledger")(s, dir)
        .join(docsTable(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup").cast("long")).as("n_dup"),
          sum(col("is_contaminated").cast("long")).as("n_contaminated"),
          sum(col("fails_gopher").cast("long")).as("n_fails_gopher"),
          sum(col("high_repetition").cast("long")).as("n_high_repetition"),
          sum(col("kept").cast("long")).as("n_kept"))
        .withColumn("kept_frac", round(
          col("n_kept").cast("double") / col("n_docs").cast("double"), 6))),

    // per-language quality-bucket histogram — the stratification view a
    // curation threshold decision reads (where does each language's mass
    // sit before we pick the cut?): bucket = floor(quality·10) over the
    // 4dp-rounded score, so the boundary floor is identical cross-engine
    "curate_quality_buckets" -> ((s, dir) =>
      // quality inline via TextOps.quality4 — the same float bucket
      // formula as the oracle (floor(quality·10) on the double), but no
      // corpus-to-itself join for a map-side value: one scan + one
      // (lang, bucket) hash agg with map-side partials
      docsTable(s, dir)
        .select(col("lang"),
          floor((TextOps.quality4(col("text")) / lit(10000.0)) * lit(10))
            .cast("int").as("bucket"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"))),

    // token-budget mixture planning (the DoReMi-adjacent artifact): given
    // target per-language shares and a total token budget, the per-lang
    // sampling rate that hits the mixture — rate = min(1, budget·share /
    // available). Shares are declared literals (the policy input); the
    // per-lang token totals are one agg; everything downstream is 1-row
    // arithmetic in the oracle's division order. The planner a curation
    // run executes BEFORE touching the corpus.
    "curate_token_budget" -> ((s, dir) => {
      val budget = 20000.0
      val shares = Map("en" -> 0.30, "fr" -> 0.20, "es" -> 0.20,
        "de" -> 0.15, "zh" -> 0.15)
      val shareCol = shares.foldLeft(lit(0.0)) { case (acc, (l, p)) =>
        when(col("lang") === l, lit(p)).otherwise(acc)
      }
      docsTable(s, dir)
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
        .select(col("lang"), col("n_tokens"), shareCol.as("target_share"),
          round(least(lit(1.0),
            lit(budget) * shareCol / col("n_tokens")), 6).as("sample_rate"),
          round(least(lit(budget) * shareCol, col("n_tokens").cast("double")), 1)
            .as("planned_tokens"))
    }),

    // quality-classifier distillation: full-batch logistic regression
    // trained to mimic the gopher rule gate — per-step logloss/accuracy
    // trajectory; one corpus aggregation per step, weights ride as literals
    "curate_lr_distill" -> ((s, dir) =>
      graft.ops.Classifier.lrDistill(docsTable(s, dir))),

    // distillation discrimination audit: ROC-AUC of the trained scorer vs
    // the gopher label (binned Mann–Whitney — rank pass over score BINS,
    // never a corpus-wide window; all-BIGINT until one final division)
    "curate_auc" -> ((s, dir) =>
      graft.ops.Classifier.aucReport(docsTable(s, dir))),

    // Gini coefficient of the per-source token shares — the corpus-
    // concentration scalar on the release card (0 = perfectly balanced
    // mix, →1 = one source dominates; the inequality view of what
    // curate_mix_weights then corrects): G = ΣΣ|x_i − x_j| / (2n·Σx),
    // exact BIGINT |diffs| over the sources²-sized pair frame (20×20
    // here — sources are an enum, never rows), ONE pinned division
    "curate_gini" -> ((s, dir) => {
      val per = docsTable(s, dir).groupBy("source")
        .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("x"))
        .localCheckpoint()
      val pairs = per.select(col("x").as("xa"))
        .crossJoin(per.select(col("x").as("xb")))
      val diff = pairs.agg(sum(abs(col("xa") - col("xb"))).as("d"))
      val tot = per.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
      diff.crossJoin(tot)
        .select(col("n").as("n_sources"), col("t").as("n_tokens"),
          round(col("d").cast("double") /
            (lit(2.0) * col("n") * col("t")), 6).as("gini"))
    }),

    // Brier score — the probability-quality leg of the classifier triad
    // (loss: fit, AUC: ordering, Brier: the p a weighted sampler uses);
    // folded over the AUC score bins, never per-doc
    "curate_brier" -> ((s, dir) =>
      graft.ops.Classifier.brierReport(docsTable(s, dir))),

    // domain-mixture α=0.5 sampling weights + effective epochs at the
    // shared token budget — one tiny agg + broadcast scalar total
    "curate_mix_weights" -> ((s, dir) => TextOps.mixWeights(docsTable(s, dir))),

    // materialize the mixture: 100-doc sample apportioned per source by
    // largest remainder over the τ-weights (Σ quotas = 100 exactly),
    // hash-rank selection within source (the domainQuota discipline)
    "curate_mix_sample" -> ((s, dir) => TextOps.mixSample(docsTable(s, dir))),
  )

  val oracles: Seq[(String, String)] = Seq(
    // the text_quality formula + lang, floored into 0.1 buckets
    "curate_quality_buckets" ->
      s"""WITH q AS (SELECT doc_id, lang, $qualityExprSql AS quality
           FROM documents)
          SELECT lang, CAST(FLOOR(quality * 10) AS INT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM q GROUP BY 1, 2""",

    // per-lang token totals + declared target shares; rate/planned in the
    // engine's division order (doubles forced — DuckDB decimals would
    // otherwise change the arithmetic)
    "curate_token_budget" ->
      """WITH tt AS (SELECT lang,
              CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1),
          w AS (SELECT lang, n_tokens,
              CASE lang WHEN 'en' THEN CAST(0.30 AS DOUBLE)
                        WHEN 'fr' THEN CAST(0.20 AS DOUBLE)
                        WHEN 'es' THEN CAST(0.20 AS DOUBLE)
                        WHEN 'de' THEN CAST(0.15 AS DOUBLE)
                        WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS target_share
            FROM tt)
          SELECT lang, n_tokens, target_share,
            ROUND(LEAST(1.0, 20000.0 * target_share / n_tokens), 6)
              AS sample_rate,
            ROUND(LEAST(20000.0 * target_share, CAST(n_tokens AS DOUBLE)), 1)
              AS planned_tokens
          FROM w""",

    "curate_lr_distill" ->
      lrDistillOracleSql(graft.ops.Classifier.Lr, graft.ops.Classifier.Steps),

    "curate_auc" ->
      lrAucOracleSql(graft.ops.Classifier.Lr, graft.ops.Classifier.Steps),

    "curate_brier" ->
      lrBrierOracleSql(graft.ops.Classifier.Lr, graft.ops.Classifier.Steps),

    // exact-BIGINT pairwise |diffs| over the sources² frame, one division
    "curate_gini" ->
      """WITH per AS (SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS x
           FROM documents GROUP BY 1),
          d AS (SELECT CAST(SUM(ABS(a.x - b.x)) AS BIGINT) AS d
                FROM per a CROSS JOIN per b),
          t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS t FROM per)
          SELECT n AS n_sources, t AS n_tokens,
            ROUND(CAST(d AS DOUBLE) / (2.0 * n * t), 6) AS gini
          FROM d, t""",

    // keep-rate derived from the live per-lang counts (ceil division in
    // double, mirrored), then the same portable-hash keep decision
    "curate_quota_sample" ->
      """WITH cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c
                      FROM documents GROUP BY 1),
          rates AS (SELECT lang,
                      LEAST(100, CAST(CEIL(CAST(10000.0 AS DOUBLE) / c) AS BIGINT)) AS pct
                    FROM cnt)
          SELECT d.doc_id, d.lang, r.pct
          FROM documents d JOIN rates r USING (lang)
          WHERE CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 100 < r.pct""",

    // the full curation capstone recomposed from the per-operator oracle
    // pieces (exact dedup, decontamination, Gopher gate, repetition cap,
    // quality, langid) — prototyped against the Spark dump before wiring
    "curate_ledger" ->
      s"""WITH $curateLegsSql
          SELECT c.doc_id,
            (k.doc_id IS NULL) AS is_dup,
            (ct.doc_id IS NOT NULL) AS is_contaminated,
            (g.doc_id IS NULL) AS fails_gopher,
            (lr.doc_id IS NULL) AS high_repetition,
            (k.doc_id IS NOT NULL AND ct.doc_id IS NULL
              AND g.doc_id IS NOT NULL AND lr.doc_id IS NOT NULL) AS kept
          FROM corpus c
          LEFT JOIN keep k ON c.doc_id = k.doc_id
          LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
          LEFT JOIN gopher g ON c.doc_id = g.doc_id
          LEFT JOIN lowrep lr ON c.doc_id = lr.doc_id""",

    // per-bench-doc attribution over the same shingle machinery
    "curate_contamination_report" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
          pos AS (SELECT doc_id, t,
                  unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
          sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
          b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 10),
          c AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 10),
          o AS (SELECT b.bench_id, c.doc_id, COUNT(*) AS n_overlap
                FROM c JOIN b USING (shingle) GROUP BY 1, 2)
          SELECT bench_id, COUNT(*) AS n_leaked_docs,
            CAST(SUM(n_overlap) AS BIGINT) AS total_overlap
          FROM o WHERE n_overlap >= 2 GROUP BY 1""",

    // the ledger aggregated into the published dataset datasheet
    "curate_summary" ->
      s"""WITH $curateLegsSql,
          led AS (SELECT c.doc_id,
              (k.doc_id IS NULL) AS is_dup,
              (ct.doc_id IS NOT NULL) AS is_contaminated,
              (g.doc_id IS NULL) AS fails_gopher,
              (lr.doc_id IS NULL) AS high_repetition,
              (k.doc_id IS NOT NULL AND ct.doc_id IS NULL
                AND g.doc_id IS NOT NULL AND lr.doc_id IS NOT NULL) AS kept
            FROM corpus c
            LEFT JOIN keep k ON c.doc_id = k.doc_id
            LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
            LEFT JOIN gopher g ON c.doc_id = g.doc_id
            LEFT JOIN lowrep lr ON c.doc_id = lr.doc_id)
          SELECT COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
            CAST(SUM(CASE WHEN is_contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
            CAST(SUM(CASE WHEN fails_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_fails_gopher,
            CAST(SUM(CASE WHEN high_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_high_repetition,
            CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            ROUND(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS kept_frac
          FROM led""",

    // the ledger stratified by source — curate_summary's SELECT list
    // grouped by the documents.source join key
    "curate_domain_report" ->
      s"""WITH $curateLegsSql,
          led AS (SELECT c.doc_id,
              (k.doc_id IS NULL) AS is_dup,
              (ct.doc_id IS NOT NULL) AS is_contaminated,
              (g.doc_id IS NULL) AS fails_gopher,
              (lr.doc_id IS NULL) AS high_repetition,
              (k.doc_id IS NOT NULL AND ct.doc_id IS NULL
                AND g.doc_id IS NOT NULL AND lr.doc_id IS NOT NULL) AS kept
            FROM corpus c
            LEFT JOIN keep k ON c.doc_id = k.doc_id
            LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
            LEFT JOIN gopher g ON c.doc_id = g.doc_id
            LEFT JOIN lowrep lr ON c.doc_id = lr.doc_id)
          SELECT d.source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
            CAST(SUM(CASE WHEN is_contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
            CAST(SUM(CASE WHEN fails_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_fails_gopher,
            CAST(SUM(CASE WHEN high_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_high_repetition,
            CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            ROUND(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS kept_frac
          FROM led JOIN documents d ON led.doc_id = d.doc_id
          GROUP BY d.source""",

    "curate_corpus_full" ->
      s"""WITH $curateLegsSql,
          q AS (SELECT doc_id, $qualityExprSql AS quality
                FROM corpus),
          l AS (SELECT doc_id,
                  CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.03
                       THEN 'en' ELSE 'und' END AS lang_pred
                FROM corpus)
          SELECT c.doc_id, q.quality, l.lang_pred,
                 CAST(len(string_split(c.text, ' ')) AS INT) AS n_tokens
          FROM corpus c
          JOIN keep USING (doc_id)
          LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
          JOIN gopher USING (doc_id)
          JOIN lowrep USING (doc_id)
          JOIN q USING (doc_id)
          JOIN l USING (doc_id)
          WHERE ct.doc_id IS NULL""",

    "curate_corpus" ->
      s"""WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
          q AS (SELECT doc_id, $qualityExprSql AS quality
            FROM documents),
          l AS (SELECT doc_id,
            CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.03
                 THEN 'en' ELSE 'und' END AS lang_pred
            FROM documents)
          SELECT d.doc_id, q.quality, l.lang_pred,
                 CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
          FROM documents d
          JOIN keep ON d.doc_id = keep.doc_id
          JOIN q ON d.doc_id = q.doc_id
          JOIN l ON d.doc_id = l.doc_id
          WHERE q.quality >= 0.5""",

    // ---- KG-release QA + provenance IO (round-4 continuation) ----------,

    // mixture weights: same per-source token agg, sqrt (IEEE-exact), 6dp
    // on the derived ratios; budget constant shared with the Column code
    "curate_mix_weights" ->
      s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
          w AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM per),
          t AS (SELECT SUM(w_raw) AS w_sum FROM w)
          SELECT source, n_docs, n_tokens,
            ROUND(w_raw / w_sum, 6) AS weight,
            ROUND(w_raw / w_sum * ${graft.ops.TextOps.MixTokenBudget}.0
              / CAST(n_tokens AS DOUBLE), 6) AS epochs
          FROM w, t""",

    // the mixWeights chain + Hamilton apportionment + hash-rank selection
    // ([[graft.ops.TextOps.mixSample]] twin, N = 100)
    "curate_mix_sample" ->
      s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
          w AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM per),
          t AS (SELECT SUM(w_raw) AS w_sum FROM w),
          wt AS (SELECT source, ROUND(w_raw / w_sum, 6) AS weight FROM w, t),
          base AS (SELECT source,
                     CAST(FLOOR(100 * weight) AS BIGINT) AS n0,
                     100 * weight - FLOOR(100 * weight) AS frac
                   FROM wt),
          rsum AS (SELECT CAST(100 - SUM(n0) AS BIGINT) AS r FROM base),
          ranked AS (SELECT source, n0,
                       CAST(ROW_NUMBER() OVER (ORDER BY frac DESC, source)
                         AS BIGINT) AS rk
                     FROM base),
          quota AS (SELECT source,
                      n0 + CASE WHEN rk <= (SELECT r FROM rsum)
                                THEN 1 ELSE 0 END AS q
                    FROM ranked),
          sel AS (SELECT doc_id, source,
                    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY
                      ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)),
                        1, 15))::BIGINT, doc_id) AS BIGINT) AS rn
                  FROM documents)
          SELECT s.source, s.doc_id
          FROM sel s JOIN quota q USING (source) WHERE s.rn <= q.q""",
  )
}
