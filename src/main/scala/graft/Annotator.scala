package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame

import graft.annotate.{Lemma, NativeAnnotate}
import graft.dict.AnnotatorModel

/** Single user-facing entry point mirroring the reference's
  * `NcboAnnotator#annotate(text, options)` — one call, the full option
  * surface, dispatching to the right engine path. Option mapping
  * (reference → here):
  *
  * | reference option          | here                                      |
  * | ------------------------- | ----------------------------------------- |
  * | `ontologies`              | `AnnotateOptions.ontologies`              |
  * | `semantic_types`          | `semanticTypeClasses` (resolved class set)|
  * | `exclude_synonyms`        | `AnnotateOptions.excludeSynonyms`         |
  * | `whole_word_only`         | `AnnotateOptions.wholeWordOnly`           |
  * | `longest_only`            | `AnnotateOptions.longestOnly`             |
  * | `expand_class_hierarchy` / `class_hierarchy_max_level` | `expandHierarchy` / `hierarchyMaxLevel` |
  * | `expand_mappings`         | `AnnotateOptions.expandMappings`          |
  * | `score` / `score_threshold` | weights in [[Score]] / `scoreThreshold` |
  * | `lemmatize` (Annotator+)  | `Request.lemmatize` (lemma-built model)   |
  * | `negation`/`experiencer`/`temporality` (Annotator+) | [[annotateWithContext]] |
  * | `min_term_size` / `exclude_numbers` | dictionary-build-time ([[graft.dict.DictBuild]]) |
  *
  * Input: the extracted corpus `(url, text, …)`. Output: the normalized
  * triple table (default), per-occurrence matches (`matches`), or
  * context-attributed matches (`annotateWithContext`).
  */
object Annotator {

  /** A complete annotation request. `lemmatize=true` scans in lemma space
    * with a model built by [[graft.dict.DictBuild.buildLemmatized]]: the
    * `lemmaModel` argument of [[annotate]], the `model` argument of
    * [[matches]] and [[annotateWithContext]]. */
  case class Request(
      opts: AnnotateOptions = AnnotateOptions(),
      lemmatize: Boolean = false,
      semanticTypeClasses: Option[Set[String]] = None)

  /** Annotator+ pluggable-recognizer seam (the reference dispatches
    * `recognizer ∈ {mgrep, mallet}` from `lib/ncbo_annotator/recognizers/`):
    * a recognizer turns an extracted corpus into the per-occurrence match
    * stream `(url, from, to, text, class_iri, ont, match_type)`. The
    * dictionary recognizer (this engine's product) is the default; an
    * ML-tagger recognizer plugs in here without touching the facade or
    * anything downstream (expansion, scoring, triples all consume the
    * match-stream shape). */
  trait Recognizer {
    def recognize(extracted: DataFrame, opts: AnnotateOptions): DataFrame
  }

  /** The default recognizer: the broadcast-automaton dictionary scan on the
    * native Catalyst plan; `lemmatize` scans in lemma space with a
    * lemma-built `model`. */
  final class DictionaryRecognizer(model: Broadcast[AnnotatorModel],
                                   lemmatize: Boolean = false) extends Recognizer {
    override def recognize(extracted: DataFrame, opts: AnnotateOptions): DataFrame =
      NativeAnnotate.annotateMatches(extracted, model,
        opts.longestOnly, opts.wholeWordOnly, lemmatize)
  }

  /** The >driver-memory regime behind the same seam: a dictionary too large
    * to build/broadcast whole routes through [[graft.annotate.Sharded]]'s
    * term-id shards; everything downstream of the match stream is
    * unchanged. Spec-pinned equal to [[DictionaryRecognizer]]. */
  final class ShardedDictionaryRecognizer(models: Seq[Broadcast[AnnotatorModel]])
      extends Recognizer {
    override def recognize(extracted: DataFrame, opts: AnnotateOptions): DataFrame =
      NativeAnnotate.annotateMatchesSharded(extracted, models,
        opts.longestOnly, opts.wholeWordOnly)
  }

  /** The NON-DICTIONARY recognizer filling the reference's `mallet` slot:
    * a deterministic suffix/shape token classifier
    * ([[graft.annotate.RuleTagger]] — a real CRF would plug in the same
    * way). Honors the request ontology whitelist (its classes live under
    * `ont = TAGGER`); wholeWord by construction (it tags whole tokens);
    * longestOnly is a no-op (one tag per token). */
  final class RuleTaggerRecognizer extends Recognizer {
    override def recognize(extracted: DataFrame, opts: AnnotateOptions): DataFrame = {
      val tagged = graft.annotate.RuleTagger.tag(extracted)
      if (opts.ontologies.isEmpty) tagged
      else {
        import org.apache.spark.sql.functions.col
        tagged.filter(col("ont").isin(opts.ontologies: _*))
      }
    }
  }

  /** Corpus → triple table on the native plan. `lemmatize=true` runs the
    * same triple Generator over the lemma-space text with the lemma-built
    * model; stop words are lemmatized the same way, so they match the
    * lemma dictionary's terms. */
  def annotate(extracted: DataFrame,
               model: Broadcast[AnnotatorModel],
               maps: Broadcast[NativeAnnotate.ExpansionMaps],
               dictVersion: String,
               request: Request = Request(),
               lemmaModel: Option[Broadcast[AnnotatorModel]] = None): DataFrame = {
    val spark = extracted.sparkSession
    // TUI lists are a different key space than class IRIs: silently ignoring
    // opts.semanticTypes here would return unfiltered results with no error.
    // Callers must resolve TUIs to a class set (the (class_iri, tui) table
    // join Filters does) and pass it via Request.semanticTypeClasses.
    require(request.opts.semanticTypes.isEmpty,
      "Annotator.annotate does not take raw TUI lists (opts.semanticTypes); " +
        "resolve them to a class set and pass Request.semanticTypeClasses")
    // the triple-emitting paths score old-mode inline (scan-fused); cvalue
    // modes need matched-term word counts, which triples don't carry —
    // dispatch those through matches() + scores() instead of silently
    // emitting old-mode numbers under a cvalue label
    require(request.opts.scoreMode == ScoreMode.Old,
      s"annotate() emits old-mode scores; for scoreMode=" +
        s"${request.opts.scoreMode} use Annotator.matches + Annotator.scores")
    val semB = request.semanticTypeClasses.map(spark.sparkContext.broadcast(_))
    if (!request.lemmatize)
      NativeAnnotate.annotateTriples(extracted, model, maps, dictVersion,
        request.opts, semB)
    else {
      val lm = lemmaModel.getOrElse(sys.error(
        "lemmatize=true requires a lemma-built model (DictBuild.buildLemmatized)"))
      require(request.opts.wholeWordOnly,
        "lemmatize=true is whole-word by construction (token-aligned offset mapping)")
      import org.apache.spark.sql.functions.{col, udf}
      val lemmaText = udf((t: String) => if (t == null) null else Lemma.lemmatizeDoc(t).lemmaText)
      val lemmaStops = request.opts.stopWords.map(w => Lemma.lemmaTerm(
        w.trim.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT)))
      NativeAnnotate.annotateTriples(
        extracted.select(col("url"), lemmaText(col("text")).as("text")),
        lm, maps, dictVersion, request.opts.copy(stopWords = lemmaStops), semB)
    }
  }

  /** Corpus → per-occurrence matches with 1-based inclusive offsets
    * (reference mgrep wire shape). Routes through the [[Recognizer]] seam —
    * the dictionary recognizer by default. `request.lemmatize` is a
    * dictionary-scan option: it needs a lemma-built `model` and cannot be
    * honored by a caller-supplied recognizer. */
  def matches(extracted: DataFrame,
              model: Broadcast[AnnotatorModel],
              request: Request = Request(),
              recognizer: Option[Recognizer] = None): DataFrame = {
    require(!(request.lemmatize && recognizer.nonEmpty),
      "lemmatize=true is an option of the dictionary scan; a caller-supplied " +
        "recognizer cannot honor it")
    recognizer.getOrElse(new DictionaryRecognizer(model, request.lemmatize))
      .recognize(extracted, request.opts)
  }

  /** The reference's `score` mode dispatch over a per-occurrence match
    * stream `(url, classIri, matchType, text, …)`: old (Σ PREF/SYN weights),
    * cvalue (log2 word-count scaling), cvalueh (cvalue + hierarchy
    * inheritance — requires the closure table). Output: one row per
    * (url, classIri) with `score`. */
  def scores(matches: DataFrame,
             mode: String,
             closure: Option[DataFrame] = None,
             maxLevel: Int = 5): DataFrame = {
    require(ScoreMode.All.contains(mode),
      s"unknown score mode '$mode' (expected one of ${ScoreMode.All.mkString(", ")})")
    mode match {
      case ScoreMode.Old => graft.annotate.Scoring.directScores(matches)
      case ScoreMode.CValue => graft.annotate.Scoring.cvalueScores(matches)
      case ScoreMode.CValueH =>
        graft.annotate.Scoring.cvaluehScores(matches,
          closure.getOrElse(sys.error("scoreMode=cvalueh requires the closure table")),
          maxLevel)
    }
  }

  /** Corpus → matches with Annotator+ clinical-context attributes
    * (`negated`, `experiencer`, `temporality`); `request.lemmatize` scans
    * in lemma space with a lemma-built `model`. */
  def annotateWithContext(extracted: DataFrame,
                          model: Broadcast[AnnotatorModel],
                          request: Request = Request()): DataFrame =
    NativeAnnotate.annotateMatches(extracted, model, request.opts.longestOnly,
      request.opts.wholeWordOnly, request.lemmatize, context = true)
}
