package graft.annotate

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.AnnotateOptions
import graft.dict.AnnotatorModel

/** The dictionary-scan operator (A1–A3, with A4–A12 fused into the triple
  * form) as custom Catalyst `Generator`s applied in a plain `select`, so the
  * whole corpus path is `FileScan parquet → Project → Generate → ...` with
  * **no object-mode island**: no `DeserializeToObject`/`SerializeFromObject`
  * pair, and no decode of every page's UTF-8 bytes into a Java UTF-16
  * `String` (~60 % of annotate wall when the scan ran in object mode). The
  * generators scan the parquet reader's `UTF8String` bytes IN PLACE
  * ([[graft.dict.Automaton.scanUtf8Into]]) and emit rows whose string
  * fields are shared interned `UTF8String` constants (pred/match_type) or
  * pre-encoded concept IRIs — zero per-row string conversion.
  *
  * One generator per output shape:
  *  - [[AnnotateMatchesGen]] behind [[annotateMatches]] (one dictionary;
  *    Annotator+ `lemmatize` and clinical `context` are options of the same
  *    scan) and [[annotateMatchesSharded]] (term-id shards): per-occurrence
  *    matches, checked against the naive scalar matcher
  *    ([[graft.oracle.ReferenceOracle.directMatches]]) and the DuckDB
  *    oracles (`ann_direct`, `ann_longest`, `ann_sharded`, `ann_lemma`,
  *    `ann_context`);
  *  - [[annotateTriples]]: the complete per-document triple set, checked
  *    against the join assembly `Pipeline.run` executes (`Filters` →
  *    `Scoring.directScores` → `Expand` → `Triples.assemble` → threshold)
  *    over the full request-option matrix, and by the `ann_triples` oracle.
  */
object NativeAnnotate {

  /** Dense per-task accumulators are used up to this many distinct IRIs
    * (~100 MB/task at the limit); larger ontologies fall back to per-doc
    * hash maps (same semantics, parity-tested via the `denseLimit` knob). */
  val DenseLimit: Int = 1 << 22

  val GenSchema: StructType = StructType(Seq(
    StructField("pred", StringType, nullable = false),
    StructField("obj", StringType, nullable = false),
    StructField("match_type", StringType, nullable = false),
    StructField("distance", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Ontology-side broadcast state for [[annotateTriples]]. `maxLevel`
    * records the closure cap the maps were built with — requests beyond it
    * fail loudly instead of silently truncating. */
  case class ExpansionMaps(
      closure: Map[String, Array[(String, Int)]], // classIri -> (ancestor, minDist)
      mappings: Map[String, Array[String]], // classIri -> mapped iris
      maxLevel: Int)
      extends Serializable

  def expansionMaps(closureDf: DataFrame, mappingsDf: DataFrame,
                    maxLevel: Int): ExpansionMaps = {
    val cl = closureDf.filter(col("distance") <= maxLevel)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .groupBy(_._1).map { case (c, rows) =>
        c -> rows.map(r => (r._2, r._3)).sortBy(_._1)
      }
    val mp = mappingsDf.select(col("class_iri"), col("mapped_iri"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (c, rows) => c -> rows.map(_._2).distinct.sorted }
    ExpansionMaps(cl, mp, maxLevel)
  }

  /** Corpus → complete triple set (direct + expanded + mapped), map-only.
    * Honors the full reference request-option surface (A4/A5/A10/A11):
    * ontologies whitelist, semantic-type class filter (pass the allowed
    * class set via `semanticTypeClasses`), stop_words, exclude_synonyms,
    * longest_only, whole_word_only, hierarchy level cap, expansion toggles,
    * score threshold. Returns a DataFrame with the [[graft.Triple]] column
    * layout. */
  def annotateTriples(extracted: DataFrame,
                      model: Broadcast[AnnotatorModel],
                      maps: Broadcast[ExpansionMaps],
                      dictVersion: String,
                      opts: AnnotateOptions = AnnotateOptions(),
                      semanticTypeClasses: Option[Broadcast[Set[String]]] = None,
                      denseLimit: Int = DenseLimit): DataFrame = {
    require(opts.hierarchyMaxLevel <= maps.value.maxLevel,
      s"hierarchyMaxLevel=${opts.hierarchyMaxLevel} exceeds the broadcast " +
        s"closure's build level ${maps.value.maxLevel} — rebuild expansionMaps " +
        "with a deeper cap (silent truncation would diverge from Expand.hierarchy)")
    val gen = AnnotateTriplesGen(GraftShim.expression(col("text")),
      model, maps, opts, semanticTypeClasses, denseLimit)
    extracted.select(col("url").as("subj"), GraftShim.column(gen),
      lit(dictVersion).as("dict_version"))
  }

  /** Per-occurrence matches with 1-based inclusive offsets — `(url, from,
    * to, text, class_iri, ont, match_type)`. NULL text yields no rows.
    *
    * Annotator+ options of the same scan:
    *  - `lemmatize`: `model` is lemma-built
    *    ([[graft.dict.DictBuild.buildLemmatized]]); the scan runs over
    *    [[Lemma.lemmatizeDoc]]'s lemma-space text and reports ORIGINAL
    *    offsets and text. Whole-word by construction — the offset
    *    back-mapping needs token-aligned hits — so `wholeWord = false` is
    *    rejected.
    *  - `context`: appends `negated`, `experiencer` and `temporality` from
    *    [[Context.classify]] over the original text. */
  def annotateMatches(extracted: DataFrame,
                      model: Broadcast[AnnotatorModel],
                      longestOnly: Boolean = false,
                      wholeWord: Boolean = true,
                      lemmatize: Boolean = false,
                      context: Boolean = false): DataFrame = {
    require(wholeWord || !lemmatize,
      "lemmatize=true is whole-word by construction (token-aligned offset mapping)")
    matches(extracted, Seq(model), longestOnly, wholeWord, lemmatize, context)
  }

  /** The same match stream over a term-id-sharded dictionary (S4 scale
    * path, [[Sharded.buildModels]]); spec-pinned equal to the
    * single-automaton [[annotateMatches]]. */
  def annotateMatchesSharded(extracted: DataFrame,
                             models: Seq[Broadcast[AnnotatorModel]],
                             longestOnly: Boolean = false,
                             wholeWord: Boolean = true): DataFrame = {
    require(models.nonEmpty, "at least one shard model required")
    matches(extracted, models, longestOnly, wholeWord, lemmatize = false, context = false)
  }

  private def matches(extracted: DataFrame, models: Seq[Broadcast[AnnotatorModel]],
                      longestOnly: Boolean, wholeWord: Boolean,
                      lemmatize: Boolean, context: Boolean): DataFrame = {
    val gen = AnnotateMatchesGen(GraftShim.expression(col("text")), models,
      longestOnly, wholeWord, lemmatize, context)
    extracted.select(col("url"), GraftShim.column(gen))
  }
}

/** Offset-bearing sibling of [[AnnotateTriplesGen]] and the engine's one
  * match emitter: one row per dictionary OCCURRENCE — `(from, to, text,
  * class_iri, ont, match_type)`, offsets 1-based inclusive (reference mgrep
  * wire-tuple parity), plus `(negated, experiencer, temporality)` in
  * context mode — the scan behind the persisted-matches pipeline stage and
  * the request-filter queries.
  *
  * Scan phase: one model scans straight into the hit buffer. k > 1 models
  * are term-id shards ([[Sharded]]) that scan the SAME in-place bytes with
  * `longestOnly = false`; their hits merge with shard-local ids mapped back
  * to global (`local·k + shard`), and `longest_only` applies to the
  * cross-shard union. In lemma mode the scanned text is the document's
  * lemma-space text. Emit phase: each hit fans out to its payload rows
  * through its owning shard (`termId % k`, local id `termId / k`); lemma
  * hits map back to original offsets first, and matched text is sliced
  * from the original text. */
case class AnnotateMatchesGen(
    child: Expression,
    models: Seq[Broadcast[AnnotatorModel]],
    longestOnly: Boolean,
    wholeWord: Boolean,
    lemmatize: Boolean,
    context: Boolean)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = {
    val base = StructType(Seq(
      StructField("from", IntegerType, nullable = false),
      StructField("to", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("class_iri", StringType, nullable = false),
      StructField("ont", StringType, nullable = false),
      StructField("match_type", StringType, nullable = false)))
    if (!context) base
    else base
      .add("negated", BooleanType, nullable = false)
      .add("experiencer", StringType, nullable = false)
      .add("temporality", StringType, nullable = false)
  }
  override def prettyName: String = "annotate_matches"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"annotate_matches requires STRING input, got ${other.catalogString}")
  }

  @transient private lazy val compiled = CompiledMatcher.cached(models)
  @transient private lazy val buf = new graft.dict.HitBuffer()
  @transient private lazy val shardBuf = new graft.dict.HitBuffer()

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) return Iterator.empty
    val text = t.asInstanceOf[UTF8String]
    // the original text decoded to UTF-16, for the modes that read it by char
    val str = if (lemmatize || context) text.toString else null
    val lemmaDoc = if (lemmatize) Lemma.lemmatizeDoc(str) else null
    val ascii = scan(if (lemmatize) UTF8String.fromString(lemmaDoc.lemmaText) else text)
    if (buf.size == 0) return Iterator.empty
    // char offsets == byte offsets only when the scanned original was ASCII;
    // otherwise matched text is sliced from the decoded String
    val decoded = if (str != null) str else if (ascii) null else text.toString
    val k = compiled.length
    val out = new mutable.ArrayBuffer[InternalRow](buf.size)
    var i = 0
    while (i < buf.size) {
      val tid = buf.termId(i)
      val owner = compiled(tid % k)
      val local = tid / k
      if (owner.hasPayload(local)) {
        var from = buf.from(i)
        var to = buf.to(i)
        if (lemmatize) {
          val (f, e) = Lemma.mapHit(lemmaDoc, from, to)
          from = f; to = e
        }
        val matched =
          if (decoded == null) text.substring(from - 1, to)
          else UTF8String.fromString(decoded.substring(from - 1, to))
        val attrs = if (context) Context.classify(decoded, from, to) else null
        owner.emit(out, from, to, matched, local, attrs)
      }
      i += 1
    }
    out.iterator
  }

  /** Scan phase into `buf`; `true` if the scanned text was pure ASCII. */
  private def scan(text: UTF8String): Boolean = {
    if (compiled.length == 1)
      return compiled(0).scanRaw(text, buf, longestOnly, wholeWord)
    val k = compiled.length
    buf.clear()
    var ascii = true
    var s = 0
    while (s < k) {
      // longestOnly deliberately false per shard — the policy is cross-shard
      ascii = compiled(s).scanRaw(text, shardBuf, longestOnly = false, wholeWord)
      buf.appendFromMapped(shardBuf, k, s) // local ids → global
      s += 1
    }
    if (longestOnly) buf.longestPerStartInPlace()
    ascii
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Compiled per-term payload with pre-encoded `UTF8String`s for the match
  * generator; shared across tasks via a small JVM cache. */
final class CompiledMatcher(m: AnnotatorModel) extends Serializable {
  private val auto = m.automaton
  private val uPref = UTF8String.fromString(graft.MatchType.Pref)
  private val uSyn = UTF8String.fromString(graft.MatchType.Syn)

  // termId -> flat (classIri, ont, matchType) UTF8String triples
  private val iriOf: Array[Array[UTF8String]] = m.payload.map { entries =>
    if (entries == null) null else entries.map(p => UTF8String.fromString(p.classIri))
  }
  private val ontOf: Array[Array[UTF8String]] = m.payload.map { entries =>
    if (entries == null) null else entries.map(p => UTF8String.fromString(p.ont))
  }
  private val mtOf: Array[Array[UTF8String]] = m.payload.map { entries =>
    if (entries == null) null else entries.map(p => if (p.pref) uPref else uSyn)
  }

  /** Raw automaton pass (no payload fan-out); `true` = pure-ASCII text. */
  private[annotate] def scanRaw(text: UTF8String, buf: graft.dict.HitBuffer,
                                longestOnly: Boolean, wholeWord: Boolean): Boolean =
    auto.scanUtf8Into(text.getBaseObject, text.getBaseOffset,
      text.numBytes, buf, longestOnly, wholeWord)

  private[annotate] def hasPayload(tid: Int): Boolean = iriOf(tid) != null

  /** Fan one hit out to its payload rows; `attrs` (context mode) appends
    * the three context columns. */
  private[annotate] def emit(out: mutable.ArrayBuffer[InternalRow],
                             from: Int, to: Int, matched: UTF8String, tid: Int,
                             attrs: Context.Attrs): Unit = {
    val iris = iriOf(tid)
    val onts = ontOf(tid)
    val mts = mtOf(tid)
    var j = 0
    while (j < iris.length) {
      out += new GenericInternalRow(
        if (attrs == null) Array[Any](from, to, matched, iris(j), onts(j), mts(j))
        else Array[Any](from, to, matched, iris(j), onts(j), mts(j), attrs.negated,
          UTF8String.fromString(attrs.experiencer), UTF8String.fromString(attrs.temporality)))
      j += 1
    }
  }
}

/** JVM-wide identity registry for broadcast VALUES. Cache keys must not be
  * `Broadcast.id`: broadcast ids are allocated by a per-SparkContext counter
  * starting at 0, so a JVM that stops and recreates a SparkContext (sbt test
  * runs, notebooks, local-mode restarts) can reuse an id and silently serve a
  * PREVIOUS dictionary's compiled payload. The broadcast VALUE object is the
  * correct key: it is shared across all tasks on an executor via the block
  * manager (so caching still hits), and a new context/broadcast always yields
  * a new value object (so stale hits are impossible). Weak keys let dropped
  * broadcast blocks be GC'd; a block-manager re-fetch merely recompiles once.
  */
private[annotate] object ValueIdentity {
  // weak IDENTITY map (WeakHashMap would key by equals(), letting two equal
  // values share a token — reference identity is the contract here): buckets
  // by identityHashCode, entries compared by `eq`, dead refs swept on access
  private val buckets =
    new java.util.HashMap[Int, java.util.ArrayList[(java.lang.ref.WeakReference[AnyRef], Long)]]()
  private var next = 0L
  def of(o: AnyRef): Long = buckets.synchronized {
    val h = System.identityHashCode(o)
    var list = buckets.get(h)
    if (list == null) { list = new java.util.ArrayList(); buckets.put(h, list) }
    var i = 0
    var found = -1L
    while (i < list.size()) {
      val ref = list.get(i)._1.get()
      if (ref == null) { list.remove(i) } // swept
      else if (ref eq o) { found = list.get(i)._2; i += 1 }
      else i += 1
    }
    if (found >= 0) found
    else {
      next += 1
      list.add((new java.lang.ref.WeakReference[AnyRef](o), next))
      next
    }
  }
}

/** Small synchronized LRU (access-order) — evicts ONE eldest entry instead of
  * clearing the whole cache (a wholesale clear would force every concurrent
  * task on the executor to recompile under option churn). Capacity can only
  * GROW (`ensureCapacity`): the sharded scan resolves one matcher per shard,
  * so with dictShards > the default cap every task's lazy init would thrash
  * the LRU and serially recompile shard payloads under the cache lock —
  * callers that know their working-set size raise the floor first. */
private[annotate] final class CompileCache[V](initialMax: Int) {
  private var maxEntries = initialMax // guarded by m's monitor
  private val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size() > maxEntries
  }
  def ensureCapacity(n: Int): Unit = m.synchronized {
    if (n > maxEntries) maxEntries = n
  }
  def getOrCompute(key: String)(compute: => V): V = m.synchronized {
    val got = m.get(key)
    if (got != null) got
    else { val v = compute; m.put(key, v); v }
  }
}

object CompiledMatcher {
  private val cache = new CompileCache[CompiledMatcher](8)

  /** One matcher per model. A sharded scan holds k live matchers at once,
    * so the cache must hold all of them plus headroom for a concurrent
    * single-dictionary scan — otherwise k > capacity thrashes the LRU
    * (every task recompiles every shard, serialized under the lock). */
  def cached(models: Seq[Broadcast[AnnotatorModel]]): Array[CompiledMatcher] = {
    cache.ensureCapacity(math.max(8, 2 * models.length))
    models.map { model =>
      val value = model.value
      cache.getOrCompute(ValueIdentity.of(value).toString)(new CompiledMatcher(value))
    }.toArray
  }
}

/** Catalyst `Generator`: text column in, (pred, obj, match_type, distance,
  * score) rows out — one generator evaluation per document, fused direct
  * scan + request filters + scoring + hierarchy/mapping expansion.
  * Broadcast handles ride in the expression (small, serializable); the
  * compiled automaton payload is JVM-cached per (broadcasts, options) so
  * concurrent tasks share it, while mutable scan scratch is per-task
  * (`@transient lazy` — each task deserializes its own expression copy).
  */
case class AnnotateTriplesGen(
    child: Expression,
    model: Broadcast[AnnotatorModel],
    maps: Broadcast[NativeAnnotate.ExpansionMaps],
    opts: AnnotateOptions,
    semanticTypeClasses: Option[Broadcast[Set[String]]],
    denseLimit: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = NativeAnnotate.GenSchema
  override def prettyName: String = "annotate_triples"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"annotate_triples requires STRING input, got ${other.catalogString}")
  }

  @transient private lazy val compiled = CompiledAnnotator.cached(
    model, maps, opts, semanticTypeClasses, denseLimit)
  @transient private lazy val scratch = new ScanScratch(compiled)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else compiled.annotate(t.asInstanceOf[UTF8String], scratch)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Immutable compiled form of (automaton payload × request options ×
  * expansion maps): request filters (A4) evaluated once per dictionary entry
  * instead of once per hit; IRIs interned to dense ints with pre-encoded
  * `UTF8String`s; closure/mapping maps flattened to packed primitive arrays
  * with the level cap and the monotone score thresholds pre-applied
  * (hier weight decays with distance, so pre-dropping below-threshold
  * distances can never change the per-doc min-distance winner). Shared
  * across tasks — all mutable per-doc state lives in [[ScanScratch]].
  */
final class CompiledAnnotator(
    m: AnnotatorModel,
    exp: NativeAnnotate.ExpansionMaps,
    val opts: AnnotateOptions,
    allowedClasses: Option[Set[String]],
    denseLimit: Int) extends Serializable {

  private val auto = m.automaton

  private val uPredDirect = UTF8String.fromString(graft.Pred.Direct)
  private val uPredExpanded = UTF8String.fromString(graft.Pred.Expanded)
  private val uPredMapped = UTF8String.fromString(graft.Pred.Mapped)
  private val uPref = UTF8String.fromString(graft.MatchType.Pref)
  private val uSyn = UTF8String.fromString(graft.MatchType.Syn)
  private val uHier = UTF8String.fromString(graft.MatchType.Hier)
  private val uMap = UTF8String.fromString(graft.MatchType.Map)

  // ---- dense IRI id space (direct classes first, then ancestors/mapped)
  private val iriToId = new java.util.HashMap[String, Integer]()
  private val iriList = new mutable.ArrayBuffer[String]()
  private def idOf(iri: String): Int = {
    val got = iriToId.get(iri)
    if (got != null) got.intValue()
    else { val id = iriList.length; iriList += iri; iriToId.put(iri, id); id }
  }

  private val ontWhitelist: Set[String] = opts.ontologies.toSet

  /** Reference `stop_words`: blacklisted term ids, resolved once per compile
    * — blacklisted terms get a null payload row, so the scan skips them with
    * zero per-hit cost. */
  private val stopIds: Set[Int] =
    if (opts.stopWords.isEmpty) Set.empty else m.termIdsOf(opts.stopWords)

  /** termId -> packed (classId << 1 | prefBit), request filters pre-applied. */
  private val payloadC: Array[Array[Long]] = m.payload.zipWithIndex.map { case (entries, tid) =>
    if (entries == null || stopIds.contains(tid)) null
    else {
      val kept = entries.filter { p =>
        (ontWhitelist.isEmpty || ontWhitelist.contains(p.ont)) &&
          (!opts.excludeSynonyms || p.pref) &&
          allowedClasses.forall(_.contains(p.classIri))
      }
      if (kept.isEmpty) null
      else kept.map(p => (idOf(p.classIri).toLong << 1) | (if (p.pref) 1L else 0L))
    }
  }

  /** ids below this bound are classes that can appear as direct hits. */
  val numDirectIds: Int = iriList.length

  /** directId -> packed (ancestorId << 32 | minDist); null = no expansion. */
  private val closureC: Array[Array[Long]] = {
    val arr = new Array[Array[Long]](numDirectIds)
    if (opts.expandHierarchy) {
      var i = 0
      while (i < numDirectIds) {
        exp.closure.get(iriList(i)).foreach { entries =>
          val kept = entries.filter { case (_, d) =>
            d <= opts.hierarchyMaxLevel && graft.Score.hierWeight(d) >= opts.scoreThreshold }
          if (kept.nonEmpty)
            arr(i) = kept.map { case (a, d) => (idOf(a).toLong << 32) | d.toLong }
        }
        i += 1
      }
    }
    arr
  }

  /** directId -> mapped-class ids; null = no mapping emission. */
  private val mappedC: Array[Array[Int]] = {
    val arr = new Array[Array[Int]](numDirectIds)
    if (opts.expandMappings && graft.Score.MapWeight >= opts.scoreThreshold) {
      var i = 0
      while (i < numDirectIds) {
        exp.mappings.get(iriList(i)).foreach { ms =>
          if (ms.nonEmpty) arr(i) = ms.map(idOf)
        }
        i += 1
      }
    }
    arr
  }

  // built last — every reachable IRI now has an id
  private val iriU8: Array[UTF8String] = iriList.iterator.map(UTF8String.fromString).toArray
  val numIds: Int = iriU8.length
  val dense: Boolean = numIds <= denseLimit

  // pre-boxed constants: hier/map scores and distances are drawn from tiny
  // fixed sets — boxing them once removes a Double allocation per expanded/
  // mapped output row (java.lang.Integer ≤127 is JVM-cached already)
  private val hierScoreBoxed: Array[AnyRef] =
    (0 to opts.hierarchyMaxLevel).map(d => java.lang.Double.valueOf(graft.Score.hierWeight(d)): AnyRef).toArray
  private val mapScoreBoxed: AnyRef = java.lang.Double.valueOf(graft.Score.MapWeight)
  private val distBoxed: Array[AnyRef] =
    (0 to opts.hierarchyMaxLevel).map(d => java.lang.Integer.valueOf(d): AnyRef).toArray
  private val oneBoxed: AnyRef = java.lang.Integer.valueOf(1)
  private val zeroBoxed: AnyRef = java.lang.Integer.valueOf(0)

  @inline private def directRow(obj: UTF8String, pref: Boolean, score: Double): InternalRow =
    new GenericInternalRow(Array[Any](uPredDirect, obj, if (pref) uPref else uSyn,
      zeroBoxed, score))

  @inline private def hierRow(obj: UTF8String, dist: Int): InternalRow =
    new GenericInternalRow(Array[Any](uPredExpanded, obj, uHier,
      distBoxed(dist), hierScoreBoxed(dist)))

  @inline private def mapRow(obj: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](uPredMapped, obj, uMap, oneBoxed, mapScoreBoxed))

  def annotate(text: UTF8String, s: ScanScratch): Iterator[InternalRow] = {
    // total UTF-8 scan — handles any script in one pass, no String decode
    auto.scanUtf8Into(text.getBaseObject, text.getBaseOffset,
      text.numBytes, s.buf, opts.longestOnly, opts.wholeWordOnly)
    if (s.buf.size == 0) Iterator.empty
    else if (dense) annotateDense(s)
    else annotateSparse(s)
  }

  /** Dense path: epoch-stamped primitive accumulators — zero per-doc
    * allocation beyond the output rows, O(touched) reset. */
  private def annotateDense(s: ScanScratch): Iterator[InternalRow] = {
    s.epoch += 1
    val e = s.epoch
    val buf = s.buf
    var nD = 0
    var nA = 0
    var nM = 0
    var i = 0
    while (i < buf.size) {
      val entries = payloadC(buf.termId(i))
      if (entries != null) {
        var j = 0
        while (j < entries.length) {
          val packed = entries(j)
          val id = (packed >>> 1).toInt
          val pref = (packed & 1L) == 1L
          val w = if (pref) graft.Score.PrefWeight else graft.Score.SynWeight
          if (s.stampD(id) != e) {
            s.stampD(id) = e; s.scoreD(id) = w; s.prefD(id) = pref
            s.touchedD = ScanScratch.grow(s.touchedD, nD)
            s.touchedD(nD) = id; nD += 1
          } else {
            s.scoreD(id) += w
            if (pref) s.prefD(id) = true
          }
          j += 1
        }
      }
      i += 1
    }
    if (nD == 0) return Iterator.empty
    // expansions fan out from ALL direct classes (threshold gates emission
    // of direct rows only — parity with the Expand join assembly)
    i = 0
    while (i < nD) {
      val id = s.touchedD(i)
      val cl = closureC(id)
      if (cl != null) {
        var j = 0
        while (j < cl.length) {
          val aId = (cl(j) >>> 32).toInt
          val d = (cl(j) & 0xffffffffL).toInt
          if (s.stampA(aId) != e) {
            s.stampA(aId) = e; s.distA(aId) = d
            s.touchedA = ScanScratch.grow(s.touchedA, nA)
            s.touchedA(nA) = aId; nA += 1
          } else if (d < s.distA(aId)) s.distA(aId) = d
          j += 1
        }
      }
      val mp = mappedC(id)
      if (mp != null) {
        var j = 0
        while (j < mp.length) {
          val mId = mp(j)
          if (s.stampM(mId) != e) {
            s.stampM(mId) = e
            s.touchedM = ScanScratch.grow(s.touchedM, nM)
            s.touchedM(nM) = mId; nM += 1
          }
          j += 1
        }
      }
      i += 1
    }
    val out = new mutable.ArrayBuffer[InternalRow](nD + nA + nM)
    i = 0
    while (i < nD) {
      val id = s.touchedD(i)
      val sc = s.scoreD(id)
      if (sc >= opts.scoreThreshold)
        out += directRow(iriU8(id), s.prefD(id), sc)
      i += 1
    }
    i = 0
    while (i < nA) {
      val id = s.touchedA(i)
      val d = s.distA(id)
      out += hierRow(iriU8(id), d)
      i += 1
    }
    i = 0
    while (i < nM) {
      out += mapRow(iriU8(s.touchedM(i)))
      i += 1
    }
    out.iterator
  }

  /** Sparse fallback for ontologies beyond the dense-array budget: per-doc
    * hash maps keyed by the same compiled ids — identical emission. */
  private def annotateSparse(s: ScanScratch): Iterator[InternalRow] = {
    val buf = s.buf
    val scores = new mutable.LongMap[Double]()
    val prefs = new mutable.LongMap[Boolean]()
    var i = 0
    while (i < buf.size) {
      val entries = payloadC(buf.termId(i))
      if (entries != null) {
        var j = 0
        while (j < entries.length) {
          val packed = entries(j)
          val id = packed >>> 1
          val pref = (packed & 1L) == 1L
          val w = if (pref) graft.Score.PrefWeight else graft.Score.SynWeight
          scores.get(id) match {
            case Some(cur) =>
              scores(id) = cur + w
              if (pref) prefs(id) = true
            case None =>
              scores(id) = w
              prefs(id) = pref
          }
          j += 1
        }
      }
      i += 1
    }
    if (scores.isEmpty) return Iterator.empty
    val dists = new mutable.LongMap[Int]()
    val mapped = new mutable.LongMap[Unit]()
    scores.foreachKey { idL =>
      val id = idL.toInt
      val cl = closureC(id)
      if (cl != null) {
        var j = 0
        while (j < cl.length) {
          val aId = cl(j) >>> 32
          val d = (cl(j) & 0xffffffffL).toInt
          if (dists.getOrElse(aId, Int.MaxValue) > d) dists(aId) = d
          j += 1
        }
      }
      val mp = mappedC(id)
      if (mp != null) {
        var j = 0
        while (j < mp.length) { mapped(mp(j).toLong) = (); j += 1 }
      }
    }
    val out = new mutable.ArrayBuffer[InternalRow](scores.size + dists.size + mapped.size)
    scores.foreach { case (idL, sc) =>
      if (sc >= opts.scoreThreshold)
        out += directRow(iriU8(idL.toInt), prefs(idL), sc)
    }
    dists.foreach { case (idL, d) =>
      out += hierRow(iriU8(idL.toInt), d)
    }
    mapped.foreachKey { idL =>
      out += mapRow(iriU8(idL.toInt))
    }
    out.iterator
  }
}

object CompiledAnnotator {

  // JVM-wide cache so every task on an executor shares one compiled payload
  // per (dictionary × expansion maps × request options); LRU-bounded so
  // dictionary-version swaps (D9) don't accumulate stale compilations.
  // Keys use broadcast-VALUE identity, not Broadcast.id — see [[ValueIdentity]].
  private val cache = new CompileCache[CompiledAnnotator](8)

  def cached(model: Broadcast[AnnotatorModel],
             maps: Broadcast[NativeAnnotate.ExpansionMaps],
             opts: AnnotateOptions,
             sem: Option[Broadcast[Set[String]]],
             denseLimit: Int): CompiledAnnotator = {
    val mv = model.value
    val ev = maps.value
    val sv = sem.map(_.value)
    val key = s"${ValueIdentity.of(mv)}:${ValueIdentity.of(ev)}:" +
      s"${sv.map(ValueIdentity.of)}:$opts:$denseLimit"
    cache.getOrCompute(key)(new CompiledAnnotator(mv, ev, opts, sv, denseLimit))
  }
}

/** Per-task mutable scan state: the hit buffer plus the dense epoch-stamped
  * accumulators. Never shared across threads (each task deserializes its own
  * expression instance, which lazily creates one scratch). */
final class ScanScratch(c: CompiledAnnotator) {
  val buf = new graft.dict.HitBuffer()
  var epoch: Int = 0
  val stampD: Array[Int] = if (c.dense) new Array[Int](c.numDirectIds) else null
  val scoreD: Array[Double] = if (c.dense) new Array[Double](c.numDirectIds) else null
  val prefD: Array[Boolean] = if (c.dense) new Array[Boolean](c.numDirectIds) else null
  val stampA: Array[Int] = if (c.dense) new Array[Int](c.numIds) else null
  val distA: Array[Int] = if (c.dense) new Array[Int](c.numIds) else null
  val stampM: Array[Int] = if (c.dense) new Array[Int](c.numIds) else null
  var touchedD: Array[Int] = new Array[Int](256)
  var touchedA: Array[Int] = new Array[Int](256)
  var touchedM: Array[Int] = new Array[Int](256)
}

object ScanScratch {
  def grow(arr: Array[Int], needed: Int): Array[Int] =
    if (needed < arr.length) arr else java.util.Arrays.copyOf(arr, arr.length * 2)
}
