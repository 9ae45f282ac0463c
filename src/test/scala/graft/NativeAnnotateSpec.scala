package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.annotate.{Corpus, NativeAnnotate}
import graft.dict.{AutomatonBuild, DictBuild, HitBuffer, NaiveMatcher, TrieBuilder, Automaton}
import graft.fixture.OntologyFixture
import graft.graph.Closure

/** The fused triple Generator must be row-for-row identical to the join
  * assembly `Pipeline.run` executes ([[JoinAssembly]]) — over the full
  * smoke corpus, the whole request-option matrix (one table, one case per
  * row; a row's name is the option under test), and the sparse-accumulator
  * branch; on non-ASCII fallback docs it must also equal the scalar oracle.
  * Plus: the plan it produces must actually BE native (no object-mode
  * island), and the automaton's byte-level scan must equal the naive
  * scalar matcher ([[NaiveMatcher]]) over wholeWord × longestOnly, on
  * ASCII and mixed-script input.
  */
class NativeAnnotateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val model = {
    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
  }
  private lazy val closure =
    Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5).localCheckpoint()
  private lazy val maps = spark.sparkContext.broadcast(
    NativeAnnotate.expansionMaps(closure, OntologyFixture.mappingsDf(spark), 5))
  private lazy val corpus = Corpus.extract(Corpus.readDriverDocuments(spark, sfDir))
  private lazy val semTable = OntologyFixture.conceptsDf(spark)
    .select(col("class_iri"), explode(col("tuis")).as("tui"))

  /** Byte-scan hits of `text`: `(from, to, termId)`. */
  private def byteHits(auto: Automaton, text: String, longest: Boolean = false,
                       whole: Boolean = true): Set[(Int, Int, Int)] = {
    val u8 = UTF8String.fromString(text)
    val buf = new HitBuffer()
    auto.scanUtf8Into(u8.getBaseObject, u8.getBaseOffset, u8.numBytes, buf, longest, whole)
    (0 until buf.size).map(i => (buf.from(i), buf.to(i), buf.termId(i))).toSet
  }

  /** The byte scan equals the naive matcher for all four wholeWord ×
    * longestOnly combinations; returns the default-option hits. */
  private def assertNaiveParity(terms: Seq[(String, Int)], auto: Automaton,
                                text: String): Set[(Int, Int, Int)] = {
    val naive = new NaiveMatcher(terms.toArray)
    for (whole <- Seq(true, false); longest <- Seq(false, true)) {
      val want = naive.scan(text, longest, whole).map(h => (h.from, h.to, h.termId)).toSet
      assert(byteHits(auto, text, longest, whole) === want,
        s"wholeWord=$whole longestOnly=$longest mismatch on: $text")
    }
    byteHits(auto, text)
  }

  private def tripleSet(df: DataFrame): Set[(String, String, String, String, Int, Double, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getInt(4), r.getDouble(5), r.getString(6))).toSet

  /** Join-assembly reference over the same scan-time options; TUIs go
    * through the `(class_iri, tui)` semi-join, as in the pipeline. */
  private def joinAssembly(df: DataFrame, opts: AnnotateOptions,
                           tuis: Seq[String] = Nil) =
    tripleSet(JoinAssembly.triples(
      NativeAnnotate.annotateMatches(df, model, opts.longestOnly, opts.wholeWordOnly),
      opts.copy(semanticTypes = tuis), closure, OntologyFixture.mappingsDf(spark),
      Some(semTable)))

  /** The fused triple Generator over the smoke corpus; TUIs reach it as
    * the resolved class set. */
  private def native(opts: AnnotateOptions, tuis: Seq[String] = Nil,
                     denseLimit: Int = NativeAnnotate.DenseLimit) = {
    val semB = if (tuis.isEmpty) None else Some(spark.sparkContext.broadcast(
      OntologyFixture.concepts.filter(_.tuis.exists(tuis.contains)).map(_.classIri).toSet))
    tripleSet(
      NativeAnnotate.annotateTriples(corpus, model, maps, "v1", opts, semB, denseLimit))
  }

  /** Native triples == join assembly, plus per-row option invariants.
    * Returns the native set for extra checks. */
  private def assertParity(opts: AnnotateOptions, tuis: Seq[String] = Nil,
                           denseLimit: Int = NativeAnnotate.DenseLimit) = {
    val got = native(opts, tuis, denseLimit)
    assert(got === joinAssembly(corpus, opts, tuis))
    assert(got.nonEmpty)
    got.foreach { case (_, pred, _, _, dist, score, _) =>
      assert(score >= opts.scoreThreshold)
      assert(pred != Pred.Expanded || (opts.expandHierarchy && dist <= opts.hierarchyMaxLevel))
      assert(pred != Pred.Mapped || opts.expandMappings)
    }
    got
  }

  private def directPairs(triples: Set[(String, String, String, String, Int, Double, String)]) =
    triples.collect { case (u, Pred.Direct, c, _, _, _, _) => (u, c) }

  /** The request-option matrix: (case name, options, semantic-type TUIs). */
  private val optionMatrix: Seq[(String, AnnotateOptions, Seq[String])] = Seq(
    ("native == fused on the full smoke corpus (defaults)", AnnotateOptions(), Nil),
    ("native == fused: longest_only", AnnotateOptions(longestOnly = true), Nil),
    ("native == fused: ontology whitelist", AnnotateOptions(ontologies = Seq("ONT2")), Nil),
    ("native == fused: exclude_synonyms", AnnotateOptions(excludeSynonyms = true), Nil),
    ("native == fused: score threshold", AnnotateOptions(scoreThreshold = 8.5), Nil),
    ("native == fused: hierarchy level cap + no mappings",
      AnnotateOptions(hierarchyMaxLevel = 1, expandMappings = false), Nil),
    ("native == fused: no hierarchy", AnnotateOptions(expandHierarchy = false), Nil),
    ("native == fused: semantic-type class filter", AnnotateOptions(),
      Seq("T050", "T051", "T052")),
    // un-normalized entries ("  Table  Scan ", mixed case) must resolve, a
    // non-dictionary entry ("nonsense term") must be a no-op
    ("native == fused: stop_words blacklist (incl. normalization + non-term no-op)",
      AnnotateOptions(stopWords = Seq("data", "  Table  Scan ", "nonsense term")), Nil),
    ("native == fused: combined options", AnnotateOptions(longestOnly = true,
      excludeSynonyms = true, hierarchyMaxLevel = 2, scoreThreshold = 3.0), Nil),
    ("native == fused: whole_word_only=false (substring matching)",
      AnnotateOptions(wholeWordOnly = false), Nil))

  optionMatrix.foreach { case (name, opts, tuis) =>
    test(name) { assertParity(opts, tuis) }
  }

  test("option matrix is live: filters narrow the direct set, level cap reaches its level") {
    val defaults = native(AnnotateOptions())
    val all = directPairs(defaults)
    assert(directPairs(native(AnnotateOptions(longestOnly = true))).subsetOf(all))
    val ont2 = directPairs(native(AnnotateOptions(ontologies = Seq("ONT2"))))
    assert(ont2.nonEmpty && ont2.subsetOf(all) && ont2 != all)
    // synonym hits drop out of the direct scores
    val noSyn = native(AnnotateOptions(excludeSynonyms = true))
    assert(directPairs(noSyn).subsetOf(all) && noSyn != defaults)
    assert(native(AnnotateOptions(hierarchyMaxLevel = 1))
      .exists(t => t._2 == Pred.Expanded && t._5 == 1))
    // threshold 9 keeps PREF-scored directs, drops lone-SYN directs + all expansions
    val t9 = native(AnnotateOptions(scoreThreshold = 9.0))
    assert(t9.nonEmpty && t9.forall(_._2 == Pred.Direct))
  }

  test("stop_words actually removes the stopped term's classes (native)") {
    val stopped = NativeAnnotate.annotateTriples(corpus, model, maps, "v1",
      AnnotateOptions(stopWords = Seq("data"), expandHierarchy = false,
        expandMappings = false))
    val dataIri = OntologyFixture.concepts
      .find(c => c.ont == "ONT1" && c.prefLabel == "data").get.classIri
    // DATA the pref term is stopped, but 'big data'/'data stream' synonyms
    // still resolve their classes — the blacklist is per-TERM, not per-class
    assert(stopped.filter(org.apache.spark.sql.functions.expr(
      s"pred = 'hasAnnotation' AND obj = '$dataIri' AND match_type = 'PREF'")).isEmpty)
    val unstopped = NativeAnnotate.annotateTriples(corpus, model, maps, "v1",
      AnnotateOptions(expandHierarchy = false, expandMappings = false))
    assert(!unstopped.filter(org.apache.spark.sql.functions.expr(
      s"pred = 'hasAnnotation' AND obj = '$dataIri' AND match_type = 'PREF'")).isEmpty)
  }

  test("Recognizer seam: dictionary recognizer == native matches; custom recognizers dispatch") {
    val viaSeam = Annotator.matches(corpus, model).collect().map(_.toSeq).toSet
    val direct = NativeAnnotate.annotateMatches(corpus, model).collect().map(_.toSeq).toSet
    assert(viaSeam === direct && viaSeam.nonEmpty)
    // a custom recognizer plugs in without touching the facade
    val marker = new Annotator.Recognizer {
      override def recognize(extracted: org.apache.spark.sql.DataFrame,
                             opts: AnnotateOptions): org.apache.spark.sql.DataFrame =
        extracted.limit(0).selectExpr("url", "1 as from", "1 as to",
          "'x' as text", "'c' as class_iri", "'o' as ont", "'PREF' as match_type")
    }
    assert(Annotator.matches(corpus, model, recognizer = Some(marker)).columns.toSeq ===
      Seq("url", "from", "to", "text", "class_iri", "ont", "match_type"))
  }

  test("whole_word_only=false finds mid-word occurrences; true suppresses them") {
    val terms = Seq("ASH" -> 0)
    val auto = Automaton.fromTrie(TrieBuilder.of(terms.iterator))
    val text = "XASHY ash"
    assert(assertNaiveParity(terms, auto, text) === Set((7, 9, 0))) // only the standalone word
    assert(byteHits(auto, text, whole = false) ===
      Set((2, 4, 0), (7, 9, 0))) // mid-word occurrence too
  }

  test("sparse accumulator branch (denseLimit=0) == dense") {
    for (opts <- Seq(AnnotateOptions(),
        AnnotateOptions(longestOnly = true, scoreThreshold = 8.5)))
      assert(assertParity(opts, denseLimit = 0) === native(opts))
  }

  test("non-ASCII documents fall back to the char scan with identical results") {
    import spark.implicits._
    // é before a term start, multi-byte inside a word (breaks it), emoji
    // (surrogate pair) between terms, ß adjacent to a term
    val terms = OntologyFixture.conceptsDf(spark)
      .select("pref_label").limit(3).collect().map(_.getString(0))
    val texts = Seq(
      s"café ${terms(0)} naïve ${terms(1)} 😀 ${terms(2)}",
      s"${terms(0)}ß not-a-boundary but ${terms(1)} yes",
      s"Ünicode ${terms(0)} mixed τερμ ${terms(1)}",
      terms.mkString(" é "))
    val df = texts.zipWithIndex
      .map { case (t, i) => (s"doc://nonascii/$i", new java.sql.Timestamp(0L),
        null.asInstanceOf[Array[Byte]], t, "und") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    val native = tripleSet(NativeAnnotate.annotateTriples(df, model, maps, "v1"))
    assert(native === joinAssembly(df, AnnotateOptions()))
    assert(native.map(t => (t._1, t._2, t._3)) === graft.oracle.ReferenceOracle
      .goldenTriples(texts.zipWithIndex.map { case (t, i) => (s"doc://nonascii/$i", t) }))
    assert(native.nonEmpty, "non-ASCII fixture should still produce matches")
  }

  test("null-text rows are skipped, not fatal") {
    import spark.implicits._
    val df = Seq(
      ("doc://null/0", new java.sql.Timestamp(0L), null.asInstanceOf[Array[Byte]],
        null.asInstanceOf[String], "und"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    assert(NativeAnnotate.annotateTriples(df, model, maps, "v1").count() === 0L)
  }

  test("the native plan has no object-mode island and prunes to (url, text)") {
    val plan = NativeAnnotate.annotateTriples(corpus, model, maps, "v1")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), plan)
    assert(!plan.contains("MapPartitions"), plan)
    assert(plan.contains("Generate"), plan)
    val optimized = NativeAnnotate.annotateTriples(
      Corpus.extract(Corpus.readDriverDocuments(spark, sfDir)), model, maps, "v1")
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("html"), "html column must be pruned from the scan:\n" + optimized)
  }

  test("byte scan == char scan on arbitrary ASCII inputs (property)") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("spark", "hash join", "window", "agg", "x1", "catalyst rule", "a_b")
    val terms = vocab.toSeq.zipWithIndex.map { case (t, i) =>
      (t.toUpperCase.trim.replaceAll("\\s+", " "), i)
    }
    val auto = Automaton.fromTrie(TrieBuilder.of(terms.iterator))
    val buf = new HitBuffer()
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(60)
      val text = (1 to n).map { _ =>
        if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.length))
        else rnd.alphanumeric.take(rnd.nextInt(6) + 1).mkString
      }.mkString(Seq(" ", ", ", "-", ".").apply(rnd.nextInt(4)))
      val u8 = UTF8String.fromString(text)
      val ok = auto.scanUtf8Into(u8.getBaseObject, u8.getBaseOffset, u8.numBytes, buf)
      assert(ok, s"ASCII text must take the byte path: $text")
      assertNaiveParity(terms, auto, text)
    }
  }

  test("annotateMatches parity on non-ASCII docs (char-offset coordinates)") {
    import spark.implicits._
    val terms = OntologyFixture.conceptsDf(spark)
      .select("pref_label").limit(3).collect().map(_.getString(0))
    val texts = Seq(
      s"café ${terms(0)} 😀 ${terms(1)}", // surrogate pair shifts char offsets
      s"τ ${terms(2)} é ${terms(0)}")
    val df = texts.zipWithIndex
      .map { case (t, i) => (s"doc://na/$i", new java.sql.Timestamp(0L),
        null.asInstanceOf[Array[Byte]], t, "und") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    // reference: the naive scalar matcher over the Java String (UTF-16 chars)
    val expected = texts.zipWithIndex.flatMap { case (t, i) =>
      graft.oracle.ReferenceOracle.directMatches(s"doc://na/$i", t)
    }.map(m => (m.url, m.from, m.to, m.text, m.classIri, m.ont, m.matchType)).toSet
    val native = NativeAnnotate.annotateMatches(df, model).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6))).toSet
    assert(native === expected)
    assert(native.nonEmpty)
  }

  test("native Generator lifts to readStream unchanged (batch/stream same plan)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(String, String)]
    val docs = input.toDF().toDF("url", "text")
    val query = NativeAnnotate.annotateTriples(docs, model, maps, "v1").writeStream
      .format("memory").queryName("native_stream_triples").outputMode("append").start()
    try {
      input.addData(("doc://ns1", "the hash join beats a merge sort"))
      query.processAllAvailable()
      input.addData(("doc://ns2", "table scan and spark"))
      query.processAllAvailable()
      val got = spark.table("native_stream_triples")
        .select("subj", "pred", "obj")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val expected = graft.oracle.ReferenceOracle.goldenTriples(Seq(
        ("doc://ns1", "the hash join beats a merge sort"),
        ("doc://ns2", "table scan and spark")))
      assert(got === expected)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("UTF-8 byte scan is TOTAL: non-ASCII text scans in place, char offsets exact") {
    val terms = Seq("SPARK" -> 0)
    val auto = Automaton.fromTrie(TrieBuilder.of(terms.iterator))
    val text = "spark é spark 😀 spark"
    val u8 = UTF8String.fromString(text)
    val pure = auto.scanUtf8Into(u8.getBaseObject, u8.getBaseOffset, u8.numBytes, new HitBuffer())
    assert(!pure) // flag reports non-ASCII, but the scan is complete
    val hits = assertNaiveParity(terms, auto, text)
    assert(hits.size === 3)
    // offsets are UTF-16 char coordinates (😀 counts as 2)
    hits.foreach { case (f, t, _) => assert(text.substring(f - 1, t) == "spark") }
  }

  test("giant document (50 MB): linear scan, buffers grow, offsets stay exact") {
    val terms = OntologyFixture.conceptsDf(spark)
      .select("pref_label").collect().map(_.getString(0))
      .filter(_.length >= 4).sorted.take(2)
    val block = s"filler words between ${terms(0)} and more ${terms(1)} end. "
    val sb = new java.lang.StringBuilder(52 * 1024 * 1024)
    while (sb.length < 50 * 1024 * 1024) sb.append(block)
    val giant = sb.toString
    val u8 = UTF8String.fromString(giant)
    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    val dictTerms = dict.select("term", "term_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val auto = AutomatonBuild.build(spark, dict, "vG").automaton
    val buf = new HitBuffer()
    val t0 = System.nanoTime()
    auto.scanUtf8Into(u8.getBaseObject, u8.getBaseOffset, u8.numBytes, buf)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"50 MB scan: $sec%.2f s (${50 / sec}%.0f MB/s), ${buf.size} hits")
    val perBlock = assertNaiveParity(dictTerms, auto, block).size
    val tail = giant.substring(giant.length / block.length * block.length)
    // the trailing space makes every block repetition boundary-identical
    assert(buf.size === perBlock.toLong * (giant.length / block.length) +
      assertNaiveParity(dictTerms, auto, tail).size)
    assert(sec < 10.0, "50 MB must scan in seconds, not minutes")
    // spot-check a late hit's offsets against the text
    val i = buf.size - 1
    val span = giant.substring(buf.from(i) - 1, buf.to(i))
    assert(span.equalsIgnoreCase(terms(0)) || span.equalsIgnoreCase(terms(1)))
  }

  test("empty dictionary: scans emit nothing, nothing crashes") {
    val auto = Automaton.fromTrie(new TrieBuilder)
    assert(assertNaiveParity(Nil, auto, "any text at all é 😀").isEmpty)
    assert(assertNaiveParity(Nil, auto, "").isEmpty)
  }

  test("UTF-8 byte scan == char scan on random mixed-script text (property)") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("spark", "hash join", "café", "naïve", "日本", "a_b", "x1")
    val terms = vocab.toSeq.zipWithIndex.map { case (t, i) =>
      (t.toUpperCase.trim.replaceAll("\\s+", " "), i)
    }
    val auto = Automaton.fromTrie(TrieBuilder.of(terms.iterator))
    val fillers = Array("zzz", "é", "ß", "漢字", "😀", "qq", "-", "«»", "_x")
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(40)
      val text = (1 to n).map { _ =>
        if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.length))
        else fillers(rnd.nextInt(fillers.length))
      }.mkString(Seq(" ", ", ", "·", ".").apply(rnd.nextInt(4)))
      // all four option combinations, offset-exact
      assertNaiveParity(terms, auto, text)
    }
  }

  test("accent fold: 1:1 translate preserves offsets; unfolded damage loses matches") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val clean = docs.select(concat(lit("doc://"), col("doc_id")).as("url"),
      col("text"))
    val damaged = graft.ops.TextOps.withAccents(docs)
    def rows(df: DataFrame) = NativeAnnotate.annotateMatches(df, model)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(4))).toSet
    val base = rows(clean)
    // negative control: unfolded damage strictly SHRINKS the match set —
    // terms containing e/a vowels stop matching on damaged docs (terms
    // without them, e.g. SORT/JOIN, rightly survive), and no new match
    // can appear (no dictionary term contains an accented char)
    val unfolded = rows(damaged)
    assert(unfolded.subsetOf(base) && unfolded != base)
    // the fold restores EXACTLY the clean match set, offsets included —
    // the 1:1 map's same-length guarantee
    val folded = rows(damaged.select(col("url"),
      graft.ops.TextOps.foldAccents(col("text")).as("text")))
    assert(folded === base)
  }
}
