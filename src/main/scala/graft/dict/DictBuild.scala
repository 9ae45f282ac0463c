package graft.dict

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.DictPayload

/** Dictionary / term-cache build — stages D2–D6 of SURVEY.md §3.1, as one
  * declarative DataFrame chain (scan → explode → normalize → filter →
  * hash-aggregate → window), replacing the reference's
  * `create_term_cache_from_ontologies` + `generate_dictionary_file`
  * Redis/TSV path with versioned tables.
  */
object DictBuild {

  val MinTermSizeDefault = 3

  /** D3 normalization: uppercase, trim, collapse internal whitespace.
    * ASCII-safe contract (see [[Automaton]] class doc). */
  def normalizeTerm(c: Column): Column = upper(trim(regexp_replace(c, "\\s+", " ")))

  /** D2: per concept emit (prefLabel, pref=true) + one row per synonym. */
  def labelRows(concepts: DataFrame): DataFrame =
    concepts
      .select(col("class_iri"), col("ont"), col("pref_label").as("label"), lit(true).as("pref"))
      .unionByName(
        concepts.select(col("class_iri"), col("ont"),
          explode(col("synonyms")).as("label"), lit(false).as("pref")))

  /** D6 dense deterministic term ids, scale-safe form: id = 1-based global
    * rank in term order, computed WITHOUT a single-partition global window.
    * Range-repartition by term + per-partition sort yields the global order
    * across ORDERED partitions; `zipWithIndex` (one count job + one map job
    * over the SAME materialized layout) then assigns consecutive ids. The
    * rank is layout-independent — whatever boundaries the range partitioner
    * samples, id == global rank — so output is value-identical to the old
    * `row_number() OVER (ORDER BY term)` (the `dict_terms` oracle hash is
    * the regression gate) while the sort parallelizes: at the 10^8-term
    * regime the global window was the dictionary build's one serialization
    * point. The RDD hop is dictionary-side only (DISTINCT TERMS, never the
    * corpus) — the same sanctioned exception as the automaton `treeReduce`
    * (SURVEY.md §5.4). Ids are NOT `monotonically_increasing_id`, which is
    * nondeterministic across retries and would break resume/P-R
    * reproducibility (SURVEY.md §3.1 D6). */
  private def withDenseIds(aggregated: DataFrame): DataFrame = {
    val spark = aggregated.sparkSession
    val sorted = aggregated
      .repartitionByRange(col("term")) // numPartitions = spark.sql.shuffle.partitions
      .sortWithinPartitions("term")
    val schema = sorted.schema.add(
      org.apache.spark.sql.types.StructField("term_id",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val withIdx = sorted.rdd.zipWithIndex().map { case (r, idx) =>
      Row.fromSeq(r.toSeq :+ (idx + 1).toInt)
    }
    spark.createDataFrame(withIdx, schema)
  }

  /** D3–D6: normalize, filter, aggregate per term, assign dense term ids.
    *
    * Output: `(term string, entries array<struct<class_iri,ont,pref>>,
    * term_id int)`; ids deterministic = global rank in term order
    * ([[withDenseIds]]).
    */
  def build(labelRows: DataFrame,
            minTermSize: Int = MinTermSizeDefault,
            excludeNumbers: Boolean = false): DataFrame = {
    val numFilter: Column =
      if (excludeNumbers) !col("term").rlike("^[0-9.,]+$") else lit(true)
    withDenseIds(labelRows
      .select(normalizeTerm(col("label")).as("term"), col("class_iri"), col("ont"), col("pref"))
      .filter(length(col("term")) >= minTermSize && numFilter)
      .distinct()
      .groupBy("term")
      .agg(sort_array(collect_set(struct(col("class_iri"), col("ont"), col("pref")))).as("entries")))
  }

  /** Annotator+ `lemmatize=true` dictionary: D3 normalization then the same
    * deterministic lemmatizer the scan side applies
    * ([[graft.annotate.Lemma.lemmaTerm]]) — both sides MUST share one lemma
    * function (the reference guarantees this by shelling the same binary).
    * Inflection variants collapse to one term, entry sets union. Lemma mode
    * requires word-char-delimited terms (offset back-mapping relies on it),
    * so terms violating that are dropped here with the filter. */
  def buildLemmatized(labelRows: DataFrame,
                      minTermSize: Int = MinTermSizeDefault,
                      excludeNumbers: Boolean = false): DataFrame = {
    val lemmaUdf = udf((t: String) => graft.annotate.Lemma.lemmaTerm(t))
    val numFilter: Column =
      if (excludeNumbers) !col("term").rlike("^[0-9.,]+$") else lit(true)
    withDenseIds(labelRows
      .select(lemmaUdf(normalizeTerm(col("label"))).as("term"),
        col("class_iri"), col("ont"), col("pref"))
      .filter(length(col("term")) >= minTermSize && numFilter &&
        col("term").rlike("^[A-Za-z0-9_].*[A-Za-z0-9_]$"))
      .distinct()
      .groupBy("term")
      .agg(sort_array(collect_set(struct(col("class_iri"), col("ont"), col("pref")))).as("entries")))
  }

  /** Flat exploded dictionary `(term, term_id, class_iri, ont, pref)` — the
    * join-friendly / TSV-debuggable view (reference `id\tTERM` file, D7). */
  def flatDict(dict: DataFrame): DataFrame =
    dict.select(col("term"), col("term_id"), explode(col("entries")).as("e"))
      .select(col("term"), col("term_id"),
        col("e.class_iri"), col("e.ont"), col("e.pref"))

  /** Function words excluded from emerging-term candidates — SINGLE SOURCE
    * for [[termCandidates]] and its oracle SQL (the corpus vocabulary's
    * only two function words; a real deployment plugs a full stop list). */
  val CandidateStopwords: Seq[String] = Seq("the", "a")

  /** Emerging-term discovery — the dictionary-MAINTENANCE half of the
    * lifecycle the reference runs by hand (curators adding terms between
    * releases): recurring corpus bigrams that are NOT yet dictionary terms,
    * ranked by document support. What a curator reviews before the next
    * blue/green dictionary swap ([[DictVersioning]]), and what
    * [[graft.annotate.Incremental]] then re-annotates with.
    *
    * Candidate = a bigram with ≥ `minDocs` distinct supporting documents,
    * neither word a function word, whose normalized form is absent from
    * the dictionary. Surfaces normalize through the SAME [[normalizeTerm]]
    * as the dictionary build, so the anti-join is exact.
    *
    * Scale shape: ONE hash aggregation on short bigram keys (map-side
    * partials; two-level countDistinct on doc support), then a BROADCAST
    * anti-join against the ontology-scale term list — never a corpus-side
    * shuffle beyond the support agg. At 10^12 docs the support floor
    * prunes the long tail inside the aggregation, not after it. */
  def termCandidates(docs: DataFrame, dict: DataFrame,
                     minDocs: Int = 5): DataFrame = {
    val bg = docs.select(col("doc_id"),
      explode(graft.ops.Dedup.shingles(col("text"), 2)).as("bg"))
    val words = split(col("bg"), " ")
    bg.groupBy("bg")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_mentions"))
      .filter(col("n_docs") >= minDocs)
      .filter(!element_at(words, 1).isin(CandidateStopwords: _*) &&
        !element_at(words, 2).isin(CandidateStopwords: _*))
      .select(normalizeTerm(col("bg")).as("term_candidate"),
        col("n_docs"), col("n_mentions"))
      .join(broadcast(dict.select(col("term").as("term_candidate")).distinct()),
        Seq("term_candidate"), "left_anti")
  }

  /** The FastSS single-deletion neighborhood (Bocek et al. 2007): the
    * string itself plus every single-character deletion. Two strings are
    * within edit distance 1 iff their neighborhoods intersect — so an
    * equi-join on these keys is an EXACT ED≤1 candidate generator (false
    * positives at ED 2, e.g. transpositions, are removed by the
    * `levenshtein` verify; false negatives impossible). */
  private def deletionKeys(c: Column): Column =
    array_distinct(concat(array(c),
      transform(sequence(lit(1), length(c)), i =>
        concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))))

  /** Spelling-variant discovery — [[termCandidates]]' fuzzy sibling in the
    * dictionary-maintenance loop: corpus tokens within edit distance 1 of
    * an existing dictionary term (OCR/typo variants a curator reviews as
    * synonym candidates), ranked by document frequency. Tokens normalize
    * through the dictionary's case contract before comparison; exact
    * dictionary members are anti-joined away first (they're matches, not
    * variants).
    *
    * Scale shape: candidate generation is an equi-join on FastSS
    * deletion-neighborhood keys — ≤ len+1 short keys per string, NEVER a
    * vocab × dictionary cross product; `levenshtein` (codegen'd) verifies
    * only the candidates. Dictionary-side keys shared by more than
    * `hotKeyCap` terms are dropped before the join (the hub cap: a hot
    * deletion key fans out |tokens with key| × |terms with key| — capping
    * the bounded dictionary side bounds the product). The token side is a
    * corpus-scale vocab agg (map-side partials on short word keys);
    * everything after runs at vocabulary scale, not corpus scale. */
  def spellVariants(docs: DataFrame, dict: DataFrame, minLen: Int = 4,
                    hotKeyCap: Long = 100): DataFrame = {
    require(minLen >= 1 && hotKeyCap >= 0,
      s"minLen=$minLen must be >= 1, hotKeyCap=$hotKeyCap >= 0")
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), upper(col("t")).as("token"))
      .filter(length(col("token")) >= minLen)
    val tokDf = toks.groupBy("token")
      .agg(count_distinct(col("doc_id")).as("df"))
    val terms = dict.select(col("term")).distinct()
      .filter(length(col("term")) >= minLen)
    val oov = tokDf.join(
      broadcast(terms.select(col("term").as("token"))), Seq("token"),
      "left_anti")
    val tokKeys = oov.select(col("token"), col("df"),
      explode(deletionKeys(col("token"))).as("k"))
    val termKeysAll = terms.select(col("term"),
      explode(deletionKeys(col("term"))).as("k"))
    val termKeys = termKeysAll.join(
      termKeysAll.groupBy("k").agg(count(lit(1)).as("nk"))
        .filter(col("nk") <= hotKeyCap).select("k"), Seq("k"))
    tokKeys.join(termKeys, Seq("k"))
      .select(col("token"), col("term"), col("df")).distinct()
      .filter(levenshtein(col("token"), col("term")) === 1)
  }
}

/** The broadcastable annotator model: automaton + per-term payload + version
  * (D8/D9). `version` implements the reference's blue/green dictionary swap
  * as snapshot versioning (SURVEY.md §3.1 D9).
  */
case class AnnotatorModel(automaton: Automaton,
                          payload: Array[Array[DictPayload]],
                          version: String) extends Serializable {

  /** Resolve term strings (e.g. a request `stop_words` list) to dictionary
    * term ids WITHOUT a term table: scan each D3-normalized string with the
    * automaton and keep full-span hits (from=1, to=length) — exact term
    * equality by construction. Strings that aren't dictionary terms resolve
    * to nothing (stopping a non-term is a no-op, reference behavior). */
  def termIdsOf(terms: Seq[String]): Set[Int] =
    terms.flatMap { t =>
      val norm = t.trim.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT)
      automaton.scan(norm).filter(h => h.from == 1 && h.to == norm.length).map(_.termId)
    }.toSet
}

object AutomatonBuild {

  /** D8 + S3: distributed automaton build. Term-partitioned shards each build
    * a [[TrieBuilder]]; shards merge pairwise via `treeReduce` (log-depth, so
    * dictionaries beyond a single task's memory still combine); the driver
    * finalizes fail links once and the result is broadcast. RDD use here is
    * the sanctioned exception (SURVEY.md §5.4): `Dataset.reduce` would funnel
    * every shard blob straight to the driver, `treeReduce` combines on
    * executors first.
    */
  def build(spark: SparkSession, dict: DataFrame, version: String,
            shards: Int = 8): AnnotatorModel = {
    import spark.implicits._
    val pairs = dict.select(col("term"), col("term_id")).as[(String, Int)]
    val trie = pairs
      .repartition(shards, col("term"))
      .rdd
      .mapPartitions(it => Iterator(TrieBuilder.of(it)))
      .treeReduce((a, b) => a.merge(b))
    val automaton = Automaton.fromTrie(trie)

    val maxIdRow = dict.agg(max("term_id")).head()
    require(!maxIdRow.isNullAt(0),
      "empty dictionary: no terms to build an automaton from (a sharded " +
        "build with numShards > distinct term count produces empty shards)")
    val maxId = maxIdRow.getInt(0)
    val payload = new Array[Array[DictPayload]](maxId + 1)
    dict.select(col("term_id"), col("entries")).collect().foreach { r =>
      val entries = r.getSeq[Row](1)
        .map(e => DictPayload(e.getString(0), e.getString(1), e.getBoolean(2)))
        .sortBy(p => (p.classIri, p.ont))
        .toArray
      payload(r.getInt(0)) = entries
    }
    AnnotatorModel(automaton, payload, version)
  }

  def broadcastModel(spark: SparkSession, model: AnnotatorModel): Broadcast[AnnotatorModel] =
    spark.sparkContext.broadcast(model)
}
