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

/** text-tier slice of the driver registry —
  * moved verbatim out of SparkEntry (round-5 hygiene split; the Seq→Map
  * assembly, duplicate gate and 1:1 queries↔oracles check stay in
  * [[SparkEntry]]). Shared helpers live on SparkEntry as
  * `private[graft]` members. 34 queries / 34 oracles. */
private[graft] object TextTier {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "text_tokens" -> ((s, dir) => TextOps.tokenStats(docsTable(s, dir))),

    // PII scrubbing (emails + phone-shaped digit runs → typed placeholders)
    // — map-only regexp chain in the Java/RE2-identical pattern subset
    "text_redact" -> ((s, dir) => TextOps.redact(docsTable(s, dir))),

    // context-window chunking: 200-char windows, 50-char overlap —
    // sequence + explode + substr, map-side only (the training-sequence
    // packing pre-step)
    "text_chunks" -> ((s, dir) =>
      TextOps.chunk(docsTable(s, dir), size = 200, overlap = 50)),

    // tokenizer vocabulary: top-100 tokens, dense deterministic ids
    "text_vocab" -> ((s, dir) => TextOps.vocab(docsTable(s, dir), topN = 100)),

    // BPE tokenizer training: 8 merge rounds over the top-50 word table
    "text_bpe" -> ((s, dir) =>
      TextOps.bpeMerges(docsTable(s, dir), vocabWords = 50, merges = 8)),

    // train-then-encode: the merge list learned by text_bpe applied back
    // over the corpus (the production tokenizer path: tiny merge artifact
    // collected once, map-only replace chain over the token stream)
    "text_bpe_encode" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      TextOps.bpeEncode(docs,
        TextOps.bpeMerges(docs, vocabWords = 50, merges = 8))
    }),

    // MOSS winnowing fingerprints: window-min shingle-hash selection
    // (rightmost ties), ~2/(w+1) of positions kept — the sub-document match
    // index that fits at corpus scale; map-only, one output distinct
    "text_winnow" -> ((s, dir) =>
      TextOps.winnow(docsTable(s, dir), k = 3, w = 4)),

    // tokenizer-eval metrics: per-doc fertility (pieces/word — THE standard
    // subword-tokenizer quality number) + chars/piece compression, one hash
    // agg over the encode stream
    "text_bpe_stats" -> ((s, dir) => {
      val docs = docsTable(s, dir)
      TextOps.bpeEncode(docs,
          TextOps.bpeMerges(docs, vocabWords = 50, merges = 8))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pieces"),
          count_distinct(col("word_pos")).as("n_words"),
          sum(length(col("piece"))).as("sum_chars"))
        .select(col("doc_id"), col("n_pieces"), col("n_words"),
          round(col("n_pieces").cast("double")
            / col("n_words").cast("double"), 6).as("fertility"),
          round(col("sum_chars").cast("double")
            / col("n_pieces").cast("double"), 6).as("chars_per_piece"))
    }),

    // systematic PPS (probability-proportional-to-size) sampling — the
    // classic weighted-sampling design, DETERMINISTIC (origin-0 variant, no
    // random start): a doc is selected when its cumulative-weight interval
    // crosses a multiple of the stride (per-shard total / 4), so selection
    // probability ∝ n_chars and big docs can take multiple hits — real PPS
    // semantics. Sharded like text_pack (per-shard windows, never global);
    // cumulative sums are exact integers below 2^53, so the double floor
    // arithmetic is engine-identical
    "text_sample_pps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("shard")
      val stride = col("w_total").cast("double") / lit(4.0)
      docsTable(s, dir)
        .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
          col("n_chars"))
        .select(col("shard"), col("doc_id"), col("n_chars"),
          coalesce(sum(col("n_chars")).over(wOrd), lit(0L)).as("cb"),
          sum(col("n_chars")).over(wAll).as("w_total"))
        .select(col("shard"), col("doc_id"), col("n_chars"),
          (floor((col("cb") + col("n_chars")).cast("double") / stride)
            - floor(col("cb").cast("double") / stride)).cast("int")
            .as("n_hits"))
        .filter(col("n_hits") > 0)
    }),

    // sequence packing for LLM pretraining (the greedy doc→fixed-length-
    // sequence layout): docs are sharded (doc_id % 32 — shards pack
    // independently, the per-output-file convention), ordered
    // deterministically within the shard, and each doc starts at the
    // running token offset; seq_id/offset = divmod(tokens-before, 512).
    // Windows are PER-SHARD (never a global window — the D6 rule)
    "text_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docsTable(s, dir)
        .select(col("doc_id"), (col("doc_id") % 32).as("shard"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .select(col("shard"), col("doc_id"), col("n_tokens"),
          coalesce(sum(col("n_tokens")).over(w), lit(0L)).as("tok_before"))
        .select(col("shard"), col("doc_id"), col("n_tokens"),
          floor(col("tok_before") / lit(512L)).cast("int").as("seq_id"),
          (col("tok_before") % 512).cast("int").as("seq_offset"))
    }),

    // consistent train/val/test assignment (80/10/10) — disjoint +
    // exhaustive by construction, stable under corpus growth
    "text_split" -> ((s, dir) =>
      Sampling.split(docsTable(s, dir), "doc_id")
        .select(col("doc_id"), col("lang"), col("split"))),

    // consistent stratified sampling: keep 10% of English docs, 50% of
    // everything else (the low-resource upweighting move) — keep decision
    // is a pure function of doc_id (map-only, reproducible cross-engine)
    "text_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(docsTable(s, dir), "doc_id", "lang",
          rates = Map("en" -> 10), defaultPct = 50)
        .select(col("doc_id"), col("lang"),
          Sampling.bucket100(col("doc_id")).as("bucket"))),

    "text_lang_report" -> ((s, dir) => {
      // mean quality in exact BIGINT: quality is q4/10⁴, so the mean is
      // Σq4/(n·10⁴) — rounded half-up at 4dp as (2·Σq4 + n) div (2n),
      // the boundary-free integer form (AVG-of-doubles can land exactly
      // on .xxxx5 when the group count divides the sum). q4 rides the
      // SAME projection as nt (TextOps.quality4 as a Column) — NO
      // corpus-to-itself join for a map-side value (at 10^12 docs that
      // join is a corpus×corpus SMJ); the plan is one scan + one
      // lang-keyed agg with map-side partials.
      docsTable(s, dir)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"),
          TextOps.quality4(col("text")).as("q4"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("q4")).as("sq4"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          (floor((lit(2L) * col("sq4") + col("n_docs")).cast("double") /
            (lit(2L) * col("n_docs")).cast("double")) / lit(10000.0))
            .as("mean_quality"))
    }),

    "text_quality" -> ((s, dir) => TextOps.qualityScore(docsTable(s, dir))),

    // Gopher-style rule filter (word-count band, mean word length, symbol
    // ratio, stopword hits → keep flag) — map-only column expressions
    "text_gopher" -> ((s, dir) => TextOps.gopherRules(docsTable(s, dir))),

    // Gopher-style repetition signals: top-bigram fraction via a sorted-
    // array run-length fold (map-only; oracle recomputes declaratively)
    "text_repetition" -> ((s, dir) => TextOps.repetitionStats(docsTable(s, dir))),

    "text_langid" -> ((s, dir) => TextOps.langId(docsTable(s, dir))),

    "text_fingerprint" -> ((s, dir) => TextOps.fingerprint(docsTable(s, dir))),

    // token-unigram Shannon entropy via a sorted-run fold (map-only);
    // oracle recomputes declaratively (unnest + GROUP BY)
    "text_entropy" -> ((s, dir) => TextOps.tokenEntropy(docsTable(s, dir))),

    // PMI-scored adjacent-bigram collocations (phrase mining)
    "text_collocations" -> ((s, dir) =>
      TextOps.collocations(docsTable(s, dir))),

    // Schwartz–Hearst-style acronym mining over the acronym-augmented
    // corpus: (abbr, long form) pairs whose initials spell the abbreviation
    // — synonym discovery feeding the next dictionary release
    "text_acronyms" -> ((s, dir) =>
      TextOps.acronyms(TextOps.withAcronyms(docsTable(s, dir)))),

    // BM25 retrieval over the corpus for a literal query term set
    "text_bm25" -> ((s, dir) =>
      TextOps.bm25(docsTable(s, dir), Seq("spark", "join", "data"))),

    // Dirichlet query-likelihood retrieval over the same query set — the
    // LM-retrieval counterpart: absent terms still score via the
    // collection prior (docs × |Q| map-side expansion, LEFT tf join)
    "text_qlm" -> ((s, dir) =>
      TextOps.qlm(docsTable(s, dir), Seq("spark", "join", "data"))),

    // reciprocal-rank fusion of the BM25 and Dirichlet-QL runs (their raw
    // scores live on incomparable scales; RRF is the score-free standard,
    // k = 60) — fusion rides the two ≤20-row run frames, never the corpus
    "text_rrf" -> ((s, dir) => {
      val d = docsTable(s, dir)
      val q = Seq("spark", "join", "data")
      TextOps.rrfFuse(Seq(TextOps.bm25(d, q), TextOps.qlm(d, q)))
    }),

    // Heaps-law vocabulary-growth curve + log–log OLS slope β (the
    // release-card companion to web_powerlaw): cumulative tokens/vocab at
    // 10 deterministic doc_id-range prefixes; K not emitted (needs exp)
    "text_heaps" -> ((s, dir) => TextOps.heapsLaw(docsTable(s, dir))),

    // RM3 pseudo-relevance feedback, expansion leg: rank-weighted (1/rank
    // — the deterministic stand-in for exp(score), a named decision)
    // relevance-model term weights from the top-5 first-pass docs
    "text_rm3_terms" -> ((s, dir) =>
      TextOps.rm3Weights(docsTable(s, dir), Seq("spark", "join", "data"))),

    // RM3 reranking: second-pass QL with the expanded weighted query
    // (original terms at 1.0, expansion terms at beta·w)
    "text_rm3" -> ((s, dir) =>
      TextOps.rm3(docsTable(s, dir), Seq("spark", "join", "data"))),

    // inverted-index publication: per-term d-gap-encoded posting lists
    // within a df band (the band bounds window partitions + arrays)
    "text_postings" -> ((s, dir) =>
      TextOps.postings(docsTable(s, dir))),

    // RAKE keyphrases: phrase islands between stopwords, deg/freq word
    // scores, top-3 phrases per doc on the 6dp-rounded score — every
    // window and agg rides ONE doc_id exchange
    "text_rake" -> ((s, dir) => TextOps.rake(docsTable(s, dir))),

    // DSIR importance weights toward the English slice of the corpus:
    // hashed-unigram target/raw distributions, add-α smoothing, per-doc
    // log-importance sums
    "text_dsir" -> ((s, dir) =>
      TextOps.dsirWeights(docsTable(s, dir), col("lang") === "en")),

    // unigram-distribution drift between two crawl snapshots: top-drifted
    // tokens by L1 + the corpus JSD (the training-data shift monitor)
    "text_token_drift" -> ((s, dir) =>
      graft.ops.TextOps.tokenDrift(docsTable(s, dir))),

    // Lee et al. ExactSubstr at token granularity: duplicated k-token
    // windows (non-first occurrence corpus-wide) mark positions for
    // removal; overlapping spans merge; hashed window keys, text-free
    // exchanges (the chunkDedup argument)
    "text_span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(docsTable(s, dir), k = 5)),

    // corpus-trained bigram LM fluency score (add-k smoothed mean NLL)
    "text_ngram_lm" -> ((s, dir) => TextOps.ngramLmScore(docsTable(s, dir))),

    // Flesch reading-ease + FK grade (vowel-group syllable heuristic,
    // synthetic sentence length 5 + doc_id % 5) — map-only, zero shuffles
    "text_readability" -> ((s, dir) => TextOps.readability(docsTable(s, dir))),
  )

  val oracles: Seq[(String, String)] = Seq(
    // independent recomputation of the rolling 64-bit fingerprint in SQL
    "text_fingerprint" ->
      s"""WITH fp AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${fpSql("text")} AS v
                      FROM documents)
          SELECT doc_id, ${toSignedSql("v")} AS fingerprint FROM fp""",

    "text_tokens" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
           CAST(length(text) AS INT) AS n_chars
         FROM documents""",

    "text_vocab" ->
      """SELECT token, freq, CAST(rn AS INT) AS token_id FROM (
           SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rn
           FROM (SELECT w AS token, COUNT(*) AS freq FROM (
                   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                 WHERE w <> '' GROUP BY 1))
         WHERE rn <= 100""",

    "text_bpe" -> bpeOracleSql(vocabWords = 50, merges = 8),

    "text_bpe_encode" -> bpeEncodeOracleSql(vocabWords = 50, merges = 8),

    // positioned shingle hashes in HUGEINT (the fpSql twin), per-window
    // argmin with the rightmost-tie order, distinct selected pairs
    "text_winnow" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                        WHERE len(string_split(text, ' ')) >= 3),
          pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS p FROM toks),
          sh AS (SELECT doc_id, p, array_to_string(t[p:p+2], ' ') AS g FROM pos),
          hh AS (SELECT doc_id, p, ${toSignedSql(fpSql("g"))} AS hv FROM sh),
          np AS (SELECT doc_id, MAX(p) AS n FROM hh GROUP BY 1),
          win AS (SELECT hh.doc_id, hh.p AS wstart FROM hh JOIN np USING (doc_id)
                  WHERE np.n >= 4 AND hh.p <= np.n - 3),
          cand AS (SELECT w.doc_id, w.wstart, h2.p, h2.hv
                   FROM win w JOIN hh h2 ON h2.doc_id = w.doc_id
                     AND h2.p BETWEEN w.wstart AND w.wstart + 3),
          sel AS (SELECT doc_id, wstart, p, hv, row_number() OVER (
                    PARTITION BY doc_id, wstart ORDER BY hv, p DESC) AS rn
                  FROM cand)
          SELECT DISTINCT doc_id, CAST(p AS INT) AS pos, hv AS hash
          FROM sel WHERE rn = 1""",

    // fertility (pieces/word) and chars/piece over the same encode chain
    "text_bpe_stats" ->
      s"""WITH ${bpeEncodeCtes(vocabWords = 50, merges = 8)}
          SELECT doc_id, COUNT(*) AS n_pieces,
            COUNT(DISTINCT word_pos) AS n_words,
            ROUND(CAST(COUNT(*) AS DOUBLE)
              / CAST(COUNT(DISTINCT word_pos) AS DOUBLE), 6) AS fertility,
            ROUND(CAST(SUM(length(piece)) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS chars_per_piece
          FROM enc_pieces GROUP BY doc_id""",

    "text_sample_pps" ->
      """SELECT shard, doc_id, n_chars,
           CAST(FLOOR(CAST(cb + n_chars AS DOUBLE) / (CAST(wt AS DOUBLE) / 4.0))
              - FLOOR(CAST(cb AS DOUBLE) / (CAST(wt AS DOUBLE) / 4.0))
             AS INT) AS n_hits
         FROM (SELECT shard, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             SUM(n_chars) OVER (PARTITION BY shard) AS wt
           FROM (SELECT doc_id, doc_id % 16 AS shard, n_chars
                 FROM documents))
         WHERE CAST(FLOOR(CAST(cb + n_chars AS DOUBLE) / (CAST(wt AS DOUBLE) / 4.0))
              - FLOOR(CAST(cb AS DOUBLE) / (CAST(wt AS DOUBLE) / 4.0)) AS INT) > 0""",

    "text_pack" ->
      """SELECT shard, doc_id, n_tokens,
           CAST(FLOOR(tb / 512) AS INT) AS seq_id,
           CAST(tb % 512 AS INT) AS seq_offset
         FROM (SELECT shard, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
           FROM (SELECT doc_id, doc_id % 32 AS shard,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
             FROM documents))""",

    "text_split" ->
      """SELECT doc_id, lang,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 100 AS b
               FROM documents)""",

    "text_redact" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
               'g'),
             '[+]?[0-9][0-9 ()+.-]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
         FROM documents""",

    "text_chunks" ->
      """WITH st AS (
           SELECT doc_id, text,
             unnest(generate_series(1,
               greatest(length(text) - 50, 1), 150)) AS chunk_start
           FROM documents WHERE length(text) > 0)
         SELECT doc_id, CAST(chunk_start AS INT) AS chunk_start,
                substr(text, chunk_start, 200) AS chunk,
                CAST(length(substr(text, chunk_start, 200)) AS INT) AS chunk_len
         FROM st""",

    "text_sample" ->
      """SELECT doc_id, lang, bucket FROM (
           SELECT doc_id, lang,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100 AS bucket
           FROM documents)
         WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 50 END""",

    "text_quality" ->
      s"""SELECT doc_id, $qualityExprSql AS quality
         FROM documents""",

    // Gopher rules: keep computed from the UNROUNDED values (integer-derived
    // ratios — identical doubles both engines); stats rounded to 4dp
    "text_gopher" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          v AS (SELECT doc_id,
                  len(tk) AS n_words,
                  list_sum(list_transform(tk, x -> length(x)))
                    / CAST(len(tk) AS DOUBLE) AS mean_len,
                  len(list_filter(tk, x -> NOT regexp_matches(x, '[A-Za-z0-9]')))
                    / CAST(len(tk) AS DOUBLE) AS sym_ratio,
                  len(list_filter(tk, x -> x IN ('the', 'a'))) AS stop_hits
                FROM t)
          SELECT doc_id, CAST(n_words AS INT) AS n_words,
                 ROUND(mean_len, 4) AS mean_word_len,
                 ROUND(sym_ratio, 4) AS symbol_ratio,
                 CAST(stop_hits AS INT) AS n_stop_hits,
                 (n_words BETWEEN 50 AND 100000
                  AND mean_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
                  AND sym_ratio <= CAST(0.1 AS DOUBLE)
                  AND stop_hits >= 2) AS keep
          FROM v""",

    // repetition: max bigram frequency recomputed DECLARATIVELY (unnest +
    // GROUP BY + MAX) against the engine's sorted-run fold
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b
                 FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                       FROM toks WHERE len(t) >= 2)),
          f AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
          m AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS nb FROM f GROUP BY 1)
          SELECT tk.doc_id,
                 COALESCE(ROUND(m.mx / CAST(m.nb AS DOUBLE), 4),
                          CAST(0.0 AS DOUBLE)) AS top_bigram_frac,
                 ROUND(CAST(1.0 AS DOUBLE)
                       - len(list_distinct(tk.t)) / CAST(len(tk.t) AS DOUBLE), 4)
                   AS dup_token_ratio
          FROM toks tk LEFT JOIN m ON tk.doc_id = m.doc_id""",

    "text_langid" ->
      """SELECT doc_id,
           CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
                / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.03
                THEN 'en' ELSE 'und' END AS lang_pred
         FROM documents""",

    // entropy recomputed declaratively: token counts via unnest + GROUP BY,
    // H = ln(n) − Σ c·ln(c) / n; 4dp cross-engine contract
    "text_entropy" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          u AS (SELECT doc_id, unnest(t) AS tok FROM toks),
          c AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
          s AS (SELECT doc_id, SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s,
                       CAST(SUM(c) AS DOUBLE) AS n
                FROM c GROUP BY 1)
          SELECT doc_id, ROUND(ln(n) - s / n, 4) AS token_entropy FROM s""",

    // drift recomputed declaratively: the same half-token + marker
    // snapshot-2 synthesis, one conditional-sum vocab agg, exact-rational
    // L1 ordering (pre-round doubles — IEEE-identical cross-engine), JSD
    // under text_entropy's 4dp ln contract
    "text_token_drift" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
          t2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
                   THEN list_concat(list_slice(t, 1, (len(t) + 1) // 2),
                     ['${graft.ops.TextOps.DriftMarker}'])
                   ELSE t END AS t FROM toks),
          u AS (SELECT unnest(t) AS token, 1 AS v FROM toks
                UNION ALL
                SELECT unnest(t) AS token, 2 AS v FROM t2),
          c AS (SELECT token,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
                FROM u GROUP BY 1),
          n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM c),
          p AS (SELECT token, c1, c2,
                  CAST(c1 AS DOUBLE) / n1 AS p1,
                  CAST(c2 AS DOUBLE) / n2 AS p2
                FROM c, n),
          j AS (SELECT token, c1, c2, p1, p2,
                  (CASE WHEN p1 > 0
                     THEN p1 / 2 * ln(p1 / ((p1 + p2) / 2)) ELSE 0 END)
                  + (CASE WHEN p2 > 0
                     THEN p2 / 2 * ln(p2 / ((p1 + p2) / 2)) ELSE 0 END)
                    AS jsd_term
                FROM p),
          tot AS (SELECT ROUND(SUM(jsd_term), 4) AS jsd FROM j)
          SELECT token, c1, c2, ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2,
            ROUND(ABS(p1 - p2), 6) AS drift, tot.jsd
          FROM j, tot
          ORDER BY ABS(p1 - p2) DESC, token LIMIT 50""",

    "text_postings" -> graft.ops.TextOps.postingsSql(),

    // RAKE twin: island key = p − row_number per doc, plen window, deg/freq
    // word scores, phrase scores ROUNDED to 6dp BEFORE the rank (absorbs
    // float-sum ordering; phrase string is the tie-break in both engines)
    "text_rake" ->
      s"""WITH rtoks AS (SELECT doc_id, string_split(text, ' ') AS t
                         FROM documents),
          rpos AS (SELECT doc_id, t,
                     unnest(generate_series(1, len(t))) AS p
                   FROM rtoks),
          nt AS (SELECT doc_id, p, t[p] AS tok FROM rpos
                 WHERE t[p] NOT IN (${graft.dict.DictBuild
                   .CandidateStopwords.map(w => s"'$w'").mkString(", ")})),
          isl AS (SELECT doc_id, p, tok,
                    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
                      AS island
                  FROM nt),
          occ AS (SELECT doc_id, p, tok, island,
                    COUNT(*) OVER (PARTITION BY doc_id, island) AS plen
                  FROM isl),
          ws AS (SELECT doc_id, tok,
                   CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     AS wscore
                 FROM occ GROUP BY 1, 2),
          ph AS (SELECT o.doc_id, o.island,
                   string_agg(o.tok, ' ' ORDER BY o.p) AS phrase,
                   ROUND(SUM(w.wscore), 6) AS score
                 FROM occ o JOIN ws w
                   ON w.doc_id = o.doc_id AND w.tok = o.tok
                 GROUP BY 1, 2),
          up AS (SELECT doc_id, phrase, MIN(score) AS score
                 FROM ph GROUP BY 1, 2)
          SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score FROM (
            SELECT doc_id, phrase, score,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, phrase) AS rank
            FROM up) WHERE rank <= 3""",

    // BM25 recomputed with the identical arithmetic order (Lucene-form
    // idf with +1); ties at the rounded score break by doc_id both sides
    "text_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len FROM toks),
          stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                           AVG(len) AS avglen FROM lens),
          u AS (SELECT doc_id, unnest(t) AS term FROM toks),
          tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM u
                 WHERE term IN ('spark', 'join', 'data') GROUP BY 1, 2),
          dfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
          sc AS (SELECT t.doc_id,
                   ln((st.n_docs - d.df + CAST(0.5 AS DOUBLE))
                        / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
                   * (t.tf * CAST(2.2 AS DOUBLE))
                   / (t.tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * l.len / st.avglen)) AS sco
                 FROM tf t JOIN dfx d USING (term) JOIN lens l USING (doc_id)
                 CROSS JOIN stats st),
          agg AS (SELECT doc_id, SUM(sco) AS score FROM sc GROUP BY 1)
          SELECT doc_id, ROUND(score, 6) AS score FROM agg
          ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20""",

    // Dirichlet QL recomputed with the identical multiply/divide order;
    // the CROSS JOIN onto the query literal + LEFT tf/cf joins reproduce
    // the smoothing-mass-for-absent-terms semantics exactly
    "text_qlm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len FROM toks),
          u AS (SELECT doc_id, unnest(t) AS term FROM toks),
          tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_toks FROM u),
          tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM u
                 WHERE term IN ('spark', 'join', 'data') GROUP BY 1, 2),
          cfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS cf FROM u
                  WHERE term IN ('spark', 'join', 'data') GROUP BY 1),
          q AS (SELECT unnest(['spark', 'join', 'data']) AS term),
          sc AS (SELECT l.doc_id,
                   ln((COALESCE(t.tf, CAST(0.0 AS DOUBLE))
                        + CAST(300.0 AS DOUBLE)
                          * COALESCE(c.cf, CAST(0.0 AS DOUBLE)) / tt.n_toks)
                      / (l.len + CAST(300.0 AS DOUBLE))) AS sco
                 FROM lens l CROSS JOIN q
                 LEFT JOIN tf t ON t.doc_id = l.doc_id AND t.term = q.term
                 LEFT JOIN cfx c ON c.term = q.term
                 CROSS JOIN tot tt),
          agg AS (SELECT doc_id, SUM(sco) AS score FROM sc GROUP BY 1)
          SELECT doc_id, ROUND(score, 6) AS score FROM agg
          ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20""",

    "text_rm3_terms" ->
      s"""WITH $rm3ChainCtes
          SELECT term, w FROM expterms""",

    // RRF twin: both run chains (bm25 + qlm, each re-ranked over its own
    // ROUND(6)-ordered top-20), then the union fusion 1/(60+rank), ROUND(6)
    "text_rrf" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
          lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS len FROM toks),
          stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                           AVG(len) AS avglen FROM lens),
          u AS (SELECT doc_id, unnest(t) AS term FROM toks),
          tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_toks FROM u),
          btf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM u
                  WHERE term IN ('spark', 'join', 'data') GROUP BY 1, 2),
          bdf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                  FROM btf GROUP BY 1),
          bsc AS (SELECT t.doc_id,
                    ln((st.n_docs - d.df + CAST(0.5 AS DOUBLE))
                         / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
                    * (t.tf * CAST(2.2 AS DOUBLE))
                    / (t.tf + CAST(1.2 AS DOUBLE)
                         * (CAST(0.25 AS DOUBLE)
                            + CAST(0.75 AS DOUBLE) * l.len / st.avglen))
                      AS sco
                  FROM btf t JOIN bdf d USING (term) JOIN lens l USING (doc_id)
                  CROSS JOIN stats st),
          bagg AS (SELECT doc_id, ROUND(SUM(sco), 6) AS score
                   FROM bsc GROUP BY 1),
          brank AS (SELECT doc_id,
                      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS rank
                    FROM (SELECT doc_id, score FROM bagg
                          ORDER BY score DESC, doc_id LIMIT 20) x),
          qq AS (SELECT unnest(['spark', 'join', 'data']) AS term),
          qtf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM u
                  WHERE term IN ('spark', 'join', 'data') GROUP BY 1, 2),
          qcf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS cf FROM u
                  WHERE term IN ('spark', 'join', 'data') GROUP BY 1),
          qsc AS (SELECT l.doc_id,
                    ln((COALESCE(t.tf, CAST(0.0 AS DOUBLE))
                         + CAST(300.0 AS DOUBLE)
                           * COALESCE(c.cf, CAST(0.0 AS DOUBLE)) / tt.n_toks)
                       / (l.len + CAST(300.0 AS DOUBLE))) AS sco
                  FROM lens l CROSS JOIN qq
                  LEFT JOIN qtf t ON t.doc_id = l.doc_id AND t.term = qq.term
                  LEFT JOIN qcf c ON c.term = qq.term
                  CROSS JOIN tot tt),
          qagg AS (SELECT doc_id, ROUND(SUM(sco), 6) AS score
                   FROM qsc GROUP BY 1),
          qrank AS (SELECT doc_id,
                      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS rank
                    FROM (SELECT doc_id, score FROM qagg
                          ORDER BY score DESC, doc_id LIMIT 20) y),
          fused AS (SELECT doc_id, COUNT(*) AS n_runs,
                      ROUND(SUM(CAST(1.0 AS DOUBLE) / (60 + rank)), 6) AS rrf
                    FROM (SELECT doc_id, rank FROM brank
                          UNION ALL SELECT doc_id, rank FROM qrank) z
                    GROUP BY 1)
          SELECT doc_id, n_runs, rrf FROM fused
          ORDER BY rrf DESC, doc_id LIMIT 20""",

    // Heaps curve: deterministic doc_id-range buckets (double division is
    // identical IEEE in both engines), cumulative windows over the
    // ≤10-row bucket frame, pinned OLS slope form, ROUND(6)
    "text_heaps" ->
      """WITH mm AS (SELECT CAST(MAX(doc_id) + 1 AS DOUBLE) AS m
                     FROM documents),
          htoks AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents),
          bt AS (SELECT CAST(FLOOR(CAST(doc_id AS DOUBLE) * 10 / m)
                     AS BIGINT) AS bucket,
                   CAST(SUM(len(t)) AS BIGINT) AS toks
                 FROM htoks, mm GROUP BY 1),
          fo AS (SELECT term, MIN(doc_id) AS first_id
                 FROM (SELECT doc_id, t[i] || ' ' || t[i + 1] AS term
                       FROM (SELECT doc_id, t,
                               unnest(generate_series(1, len(t) - 1)) AS i
                             FROM htoks WHERE len(t) >= 2) y) z
                 GROUP BY 1),
          bv AS (SELECT CAST(FLOOR(CAST(first_id AS DOUBLE) * 10 / m)
                     AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS vocab
                 FROM fo, mm GROUP BY 1),
          curve AS (SELECT COALESCE(bt.bucket, bv.bucket) AS bucket,
                      COALESCE(toks, 0) AS toks, COALESCE(vocab, 0) AS vocab
                    FROM bt FULL JOIN bv ON bv.bucket = bt.bucket),
          cum AS (SELECT bucket,
                    CAST(SUM(toks) OVER (ORDER BY bucket) AS BIGINT)
                      AS n_tokens,
                    CAST(SUM(vocab) OVER (ORDER BY bucket) AS BIGINT)
                      AS n_vocab
                  FROM curve),
          pts AS (SELECT ln(CAST(n_tokens AS DOUBLE)) AS x,
                    ln(CAST(n_vocab AS DOUBLE)) AS y FROM cum
                  WHERE n_vocab > 0 AND n_tokens > 0),
          fit AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                    SUM(x) AS sx, SUM(y) AS sy,
                    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
          SELECT bucket, n_tokens, n_vocab,
            ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta
          FROM cum, fit""",

    "text_rm3" ->
      s"""WITH $rm3ChainCtes,
          wts AS (SELECT term, CAST(1.0 AS DOUBLE) AS wt FROM q
                  UNION ALL SELECT term, CAST(0.5 AS DOUBLE) * w FROM expterms),
          tset AS (SELECT DISTINCT term FROM wts),
          tfa AS (SELECT u.doc_id, u.term, CAST(COUNT(*) AS DOUBLE) AS tf
                  FROM u JOIN tset w ON w.term = u.term GROUP BY 1, 2),
          cfa AS (SELECT u.term, CAST(COUNT(*) AS DOUBLE) AS cf
                  FROM u JOIN tset w ON w.term = u.term GROUP BY 1),
          sc2 AS (SELECT l.doc_id,
                    w.wt * ln((COALESCE(t.tf, CAST(0.0 AS DOUBLE))
                         + CAST(300.0 AS DOUBLE)
                           * COALESCE(c.cf, CAST(0.0 AS DOUBLE)) / tt.n_toks)
                       / (l.len + CAST(300.0 AS DOUBLE))) AS sco
                  FROM lens l CROSS JOIN wts w
                  LEFT JOIN tfa t ON t.doc_id = l.doc_id AND t.term = w.term
                  LEFT JOIN cfa c ON c.term = w.term
                  CROSS JOIN tot tt),
          agg2 AS (SELECT doc_id, SUM(sco) AS score FROM sc2 GROUP BY 1)
          SELECT doc_id, ROUND(score, 6) AS score FROM agg2
          ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20""",

    // the same hashed-bucket distributions, smoothing arithmetic order,
    // and ROUND(6) contract
    "text_dsir" ->
      s"""WITH bk AS (SELECT doc_id, lang = 'en' AS is_target,
              ('0x' || substr(md5(w), 1, 15))::BIGINT % ${graft.ops.TextOps.DsirBuckets} AS b
            FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                  FROM documents)),
          tgt AS (SELECT b, COUNT(*) AS tc FROM bk WHERE is_target GROUP BY 1),
          rw AS (SELECT b, COUNT(*) AS rc FROM bk GROUP BY 1),
          tt AS (SELECT SUM(tc) AS t_total FROM tgt),
          rt AS (SELECT SUM(rc) AS r_total FROM rw),
          lr AS (SELECT rw.b,
                   ln((COALESCE(tgt.tc, 0) + CAST(${graft.ops.TextOps.DsirAlpha} AS DOUBLE))
                      / (tt.t_total + CAST(${graft.ops.TextOps.DsirAlpha * graft.ops.TextOps.DsirBuckets} AS DOUBLE)))
                 - ln((rw.rc + CAST(${graft.ops.TextOps.DsirAlpha} AS DOUBLE))
                      / (rt.r_total + CAST(${graft.ops.TextOps.DsirAlpha * graft.ops.TextOps.DsirBuckets} AS DOUBLE))) AS lr
                 FROM rw LEFT JOIN tgt USING (b), tt, rt)
          SELECT bk.doc_id, ROUND(SUM(lr.lr), 6) AS dsir_logweight
          FROM bk JOIN lr USING (b) GROUP BY 1""",

    // window explosion + first-occurrence window + per-position marking +
    // token-level rebuild, all on the RAW gram strings (re-proves the
    // engine's hashed keys)
    "text_span_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          win AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+4], ' ') AS gram
                  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
                        FROM tk WHERE len(t) >= 5)),
          fst AS (SELECT gram, doc_id, pos,
                    ROW_NUMBER() OVER (PARTITION BY gram
                      ORDER BY doc_id, pos) AS rn FROM win),
          mk AS (SELECT DISTINCT w.doc_id, w.pos + j AS tp
                 FROM fst w, (SELECT unnest(generate_series(0, 4)) AS j)
                 WHERE w.rn > 1),
          tok2 AS (SELECT doc_id, i AS tp, t[i] AS tok
                   FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                         FROM tk)),
          rb AS (SELECT t2.doc_id,
                   string_agg(t2.tok, ' ' ORDER BY t2.tp) AS text_dedup
                 FROM tok2 t2 LEFT JOIN mk
                   ON mk.doc_id = t2.doc_id AND mk.tp = t2.tp
                 WHERE mk.tp IS NULL GROUP BY t2.doc_id)
          SELECT d.doc_id, COALESCE(rb.text_dedup, '') AS text_dedup
          FROM documents d LEFT JOIN rb ON rb.doc_id = d.doc_id""",

    // bigram counts, prefix counts, vocab scalar, add-k NLL — recomputed
    // declaratively; LEFT JOIN keeps the <2-token docs as NULL
    "text_ngram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          bgr AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg, t[i] AS w1
                  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                        FROM toks WHERE len(t) >= 2)),
          bc AS (SELECT bg, COUNT(*) AS c2 FROM bgr GROUP BY bg),
          pc AS (SELECT w1, COUNT(*) AS c1 FROM bgr GROUP BY w1),
          voc AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
                  FROM (SELECT unnest(t) AS w FROM toks)),
          sc AS (SELECT doc_id,
                   ROUND(AVG(-ln((bc.c2 + CAST(0.5 AS DOUBLE))
                     / (pc.c1 + CAST(0.5 AS DOUBLE) * (SELECT v FROM voc)))), 6)
                     AS lm_nll
                 FROM bgr JOIN bc USING (bg) JOIN pc USING (w1)
                 GROUP BY doc_id)
          SELECT d.doc_id, sc.lm_nll FROM documents d
          LEFT JOIN sc ON sc.doc_id = d.doc_id""",

    // acronym synthesis mirrored, then the miner chain: regex scan, slice
    // the |abbr| preceding tokens, initials fold, accept on exact spell
    "text_acronyms" ->
      raw"""WITH aug AS (
            SELECT doc_id,
              CASE WHEN doc_id % 11 = 0 AND len(string_split(text, ' ')) >= 2
                THEN text || ' ' || string_split(text, ' ')[1] || ' '
                  || string_split(text, ' ')[2] || ' ('
                  || upper(substring(string_split(text, ' ')[1], 1, 1))
                  || upper(substring(string_split(text, ' ')[2], 1, 1)) || ')'
                ELSE text END AS text
            FROM documents),
          ms AS (SELECT doc_id, unnest(regexp_extract_all(text,
                   '(?:[A-Za-z0-9]+ ){1,5}\([A-Z]{2,5}\)')) AS m FROM aug),
          parsed AS (SELECT doc_id,
              regexp_extract(m, '\(([A-Z]{2,5})\)', 1) AS abbr,
              string_split(regexp_replace(m, ' \([A-Z]{2,5}\)$$', ''), ' ') AS pre
            FROM ms),
          sliced AS (SELECT doc_id, abbr,
              pre[len(pre) - length(abbr) + 1 : len(pre)] AS lf
            FROM parsed WHERE len(pre) >= length(abbr)),
          checked AS (SELECT doc_id, abbr,
              array_to_string(lf, ' ') AS long_form,
              list_reduce([''] || list_transform(lf,
                t -> upper(substring(t, 1, 1))), (a, b) -> a || b) AS initials
            FROM sliced)
          SELECT abbr, long_form,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM checked WHERE initials = abbr GROUP BY 1, 2""",

    // collocations recomputed declaratively; arithmetic order mirrored
    // exactly (ratio-of-ratios before ln) so the doubles are bit-equal
    "text_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          bg AS (SELECT t[i] AS x, t[i+1] AS y
                 FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                       FROM toks WHERE len(t) >= 2)),
          bgc AS (SELECT x, y, COUNT(*) AS n_xy FROM bg GROUP BY 1, 2),
          uni AS (SELECT tok, COUNT(*) AS c
                  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
          tot AS (SELECT CAST(SUM(len(t)) AS DOUBLE) AS nt,
                         CAST(SUM(GREATEST(len(t) - 1, 0)) AS DOUBLE) AS nb
                  FROM toks)
          SELECT b.x, b.y, b.n_xy,
                 ROUND(ln((CAST(b.n_xy AS DOUBLE) / (SELECT nb FROM tot))
                   / ((CAST(ux.c AS DOUBLE) / (SELECT nt FROM tot))
                      * (CAST(uy.c AS DOUBLE) / (SELECT nt FROM tot)))), 6) AS pmi
          FROM bgc b
          JOIN uni ux ON ux.tok = b.x
          JOIN uni uy ON uy.tok = b.y
          WHERE b.n_xy >= 5""",

    // mean quality via the exact integer form — (2·Σq4 + n) // (2n) over
    // BIGINTs, never AVG of doubles (the .xxxx5 boundary class)
    "text_lang_report" ->
      s"""WITH q AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS nt,
             $quality4ExprSql AS q4
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST((2 * SUM(q4) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
             / 10000.0 AS mean_quality
         FROM q GROUP BY lang""",

    // readability recomputed declaratively: whole-text vowel-group count
    // (separator is never a vowel, so = per-word sum), same synthetic
    // sentence length, published constants verbatim, 4dp on scores only
    "text_readability" ->
      """WITH b AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
             CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS DOUBLE) AS s,
             CAST(5 + (doc_id % 5) AS DOUBLE) AS k
           FROM documents),
          c AS (SELECT doc_id, w, s, CEIL(w / k) AS sent FROM b)
          SELECT doc_id, CAST(w AS BIGINT) AS n_words,
            CAST(s AS BIGINT) AS n_syllables,
            CAST(sent AS BIGINT) AS n_sentences,
            ROUND(206.835 - 1.015 * (w / sent) - 84.6 * (s / w), 4) AS flesch,
            ROUND(0.39 * (w / sent) + 11.8 * (s / w) - 15.59, 4) AS fk_grade
          FROM c""",
  )
}
