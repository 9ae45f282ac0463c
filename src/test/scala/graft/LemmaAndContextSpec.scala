package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.{Context, Lemma, NativeAnnotate}
import graft.dict.{AutomatonBuild, DictBuild}
import graft.fixture.OntologyFixture

/** Annotator+ extension surface: lemmatized matching (offsets mapped back to
  * original coordinates) and ConText-style clinical attributes. */
class LemmaAndContextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- lemmatizer scalar ---------------------------------------------

  test("lemmaToken golden cases") {
    val cases = Seq(
      "TUMORS" -> "TUMOR", "BIOPSIES" -> "BIOPSY", "MATCHES" -> "MATCH",
      "BOXES" -> "BOX", "CLASSES" -> "CLASS", "RUNNING" -> "RUN",
      "SCANNED" -> "SCAN", "JOINED" -> "JOIN", "JOINS" -> "JOIN",
      "GAS" -> "GAS", "IS" -> "IS", "US" -> "US", "GLASS" -> "GLASS",
      "ANALYSIS" -> "ANALYSIS", "THE" -> "THE")
    cases.foreach { case (in, want) =>
      assert(Lemma.lemmaToken(in) === want, s"lemmaToken($in)")
    }
  }

  test("lemmaTerm keeps separators verbatim, lemmatizes per token") {
    assert(Lemma.lemmaTerm("HASH JOINS") === "HASH JOIN")
    assert(Lemma.lemmaTerm("MERGE-SORTED LISTS") === "MERGE-SORT LIST")
  }

  test("lemmatizeDoc token maps round-trip original spans") {
    val text = "Tumors, and hashed joins!"
    val d = Lemma.lemmatizeDoc(text)
    assert(d.lemmaText === "TUMOR, AND HASH JOIN!")
    assert(d.numTokens === 4)
    // token 0 "Tumors" spans original [0, 6)
    assert(d.tokStartO(0) === 0 && d.tokEndO(0) === 6)
    // lemma-space hit on "HASH JOIN" (1-based [12, 20]) maps to "hashed joins"
    val (f, t) = Lemma.mapHit(d, d.tokStartL(2) + 1, d.tokEndL(3))
    assert(text.substring(f - 1, t) === "hashed joins")
  }

  // ---- lemma scan over Spark ------------------------------------------

  private lazy val lemmaModel = {
    val dict = DictBuild.buildLemmatized(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1-lemma"))
  }
  private lazy val plainModel = {
    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
  }

  private def docsDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (s"doc://lem/$i", new java.sql.Timestamp(0L),
        null.asInstanceOf[Array[Byte]], t, "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")
  }

  test("lemma scan matches inflected text, reports ORIGINAL offsets and text") {
    val terms = OntologyFixture.conceptsDf(spark)
      .select("pref_label").collect().map(_.getString(0))
    // a term whose tokens are lemma fixpoints AND whose plural strips back
    val termOpt = terms.find(t => t.split(' ').forall { w =>
      val u = w.toUpperCase
      u.length > 3 && Lemma.lemmaToken(u) == u && Lemma.lemmaToken(u + "S") == u
    })
    assert(termOpt.nonEmpty, "fixture must contain a lemma-fixpoint multi-char term")
    val term = termOpt.get
    val inflected = term.split(' ').map(_ + "s").mkString(" ") // pluralize every token
    val text = s"prefix words then $inflected and a tail"
    val hits = NativeAnnotate.annotateMatches(docsDf(Seq(text)), lemmaModel, lemmatize = true)
      .collect()
    assert(hits.nonEmpty, s"no lemma hits for '$inflected' (term '$term')")
    val h = hits.minBy(_.getAs[Int]("from"))
    val matched = text.substring(h.getAs[Int]("from") - 1, h.getAs[Int]("to"))
    assert(matched === inflected, "matched text must be the ORIGINAL inflected span")
    assert(h.getAs[String]("text") === inflected)
  }

  test("lemma scan == plain scan on uninflected text (lemma is identity there)") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val corpus = graft.annotate.Corpus.extract(
      graft.annotate.Corpus.readDriverDocuments(spark, sfDir))
      .filter(col("url").isin((0 to 20).map(i => s"doc://$i"): _*))
    // the driver corpus vocabulary is engine words; keep only docs where
    // lemmatization is the identity so the two scans must agree exactly
    val idDocs = corpus.collect().filter { r =>
      val t = r.getAs[String]("text")
      t != null && Lemma.lemmatizeDoc(t).lemmaText ==
        t.map(graft.dict.Automaton.normChar)
    }
    assert(idDocs.nonEmpty, "need at least one lemma-identity doc in the slice")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(idDocs.toSeq), corpus.schema)
    def rows(lemmatize: Boolean) = NativeAnnotate
      .annotateMatches(df, if (lemmatize) lemmaModel else plainModel, lemmatize = lemmatize)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(4))).toSet
    val plain = rows(lemmatize = false)
    val lemma = rows(lemmatize = true)
    assert(lemma === plain)
    assert(lemma.nonEmpty)
  }

  // ---- Annotator facade -------------------------------------------------

  test("Annotator facade: lemmatize=true == native path over a pre-lemmatized corpus") {
    import org.apache.spark.sql.functions.col
    import graft.annotate.NativeAnnotate
    import graft.graph.Closure
    val maps = spark.sparkContext.broadcast(
      NativeAnnotate.expansionMaps(
        Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5),
        OntologyFixture.mappingsDf(spark), 5))
    val terms = OntologyFixture.conceptsDf(spark)
      .select("pref_label").collect().map(_.getString(0))
      .filter(t => t.split(' ').forall { w =>
        val u = w.toUpperCase
        u.length > 3 && Lemma.lemmaToken(u) == u
      }).sorted.take(3)
    assume(terms.length >= 2)
    val texts = Seq(
      s"${terms(0)}s and ${terms(1)} here", // inflected + base
      s"plain ${terms(1)} only",
      s"${terms(0)} ${if (terms.length > 2) terms(2) + "s" else terms(0)}")
    val corpus = docsDf(texts)
    val viaFacade = Annotator
      .annotate(corpus, plainModel, maps, "v1",
        Annotator.Request(lemmatize = true), lemmaModel = Some(lemmaModel))
      .select("subj", "pred", "obj", "distance", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getDouble(4)))
      .toSet
    // oracle: lemma-normalize the corpus text, then run the ordinary native
    // path with the lemma dictionary — identical matches by construction
    val lemmaCorpus = spark.createDataFrame(
      spark.sparkContext.parallelize(corpus.collect().toSeq.map { r =>
        org.apache.spark.sql.Row(r.getString(0), r.getTimestamp(1),
          r.getAs[Array[Byte]](2), Lemma.lemmatizeDoc(r.getString(3)).lemmaText,
          r.getString(4))
      }),
      corpus.schema)
    val viaNative = NativeAnnotate
      .annotateTriples(lemmaCorpus, lemmaModel, maps, "v1")
      .select("subj", "pred", "obj", "distance", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getDouble(4)))
      .toSet
    assert(viaFacade === viaNative)
    assert(viaFacade.nonEmpty)
    // the inflected doc matched through lemma space
    assert(viaFacade.exists(_._1 == "doc://lem/0"))
  }

  test("Annotator facade: lemmatize=true honors stop_words in lemma space") {
    import org.apache.spark.sql.functions.col
    import graft.graph.Closure
    val maps = spark.sparkContext.broadcast(
      graft.annotate.NativeAnnotate.expansionMaps(
        Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5),
        OntologyFixture.mappingsDf(spark), 5))
    val term = OntologyFixture.concepts.map(_.prefLabel).sorted.find(t => t.split(' ').forall { w =>
      val u = w.toUpperCase
      u.length > 3 && u.forall(_.isLetter) &&
        Lemma.lemmaToken(u) == u && Lemma.lemmaToken(u + "S") == u
    }).getOrElse(fail("fixture must contain a lemma-fixpoint term"))
    val inflected = term.split(' ').map(_ + "s").mkString(" ")
    val classes = OntologyFixture.concepts.filter(_.prefLabel == term).map(_.classIri).toSet
    val corpus = docsDf(Seq(s"prefix words then $inflected and a tail"))
    def direct(stopWords: Seq[String]): Set[String] = Annotator
      .annotate(corpus, plainModel, maps, "v1",
        Annotator.Request(AnnotateOptions(stopWords = stopWords), lemmatize = true),
        lemmaModel = Some(lemmaModel))
      .filter(col("pred") === Pred.Direct).select("obj").collect().map(_.getString(0)).toSet
    assert(classes.nonEmpty && classes.subsetOf(direct(Nil)))
    // the stop word as a user would type it: inflected, upper case, loose spacing
    val stopped = direct(Seq("  " + inflected.toUpperCase.replace(" ", "  ") + " "))
    assert(stopped.intersect(classes).isEmpty, s"stop word '$inflected' ignored")
  }

  test("Annotator facade: default request routes to the native plan") {
    import graft.graph.Closure
    val maps = spark.sparkContext.broadcast(
      graft.annotate.NativeAnnotate.expansionMaps(
        Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5),
        OntologyFixture.mappingsDf(spark), 5))
    val corpus = graft.annotate.Corpus.extract(
      graft.annotate.Corpus.readDriverDocuments(spark, "/root/testdata/sf0.001"))
    val plan = Annotator.annotate(corpus, plainModel, maps, "v1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("MapPartitions"))
    assert(Annotator.matches(corpus, plainModel).count() > 0)
    assert(Annotator.annotate(corpus, plainModel, maps, "v1").count() > 0)
  }

  // ---- clinical context -----------------------------------------------

  private def attrs(text: String, span: String): Context.Attrs = {
    val from = text.indexOf(span) + 1
    assert(from > 0, s"span '$span' not in '$text'")
    Context.classify(text, from, from + span.length - 1)
  }

  test("negation triggers (pre, phrase, post) within the window") {
    assert(attrs("patient has no fracture today", "fracture").negated)
    assert(attrs("denies chest pain", "chest pain").negated)
    assert(attrs("absence of tumor", "tumor").negated)
    assert(attrs("negative for influenza", "influenza").negated)
    assert(attrs("fracture unlikely", "fracture").negated)
    assert(!attrs("patient has a fracture", "fracture").negated)
  }

  test("negation scope is cut by sentence edges and breakers") {
    assert(!attrs("no fever. fracture present", "fracture").negated)
    // post-hoc lookahead must respect '!'/'?' sentence edges like the
    // pre-context scan does (review regression)
    assert(!attrs("has a fracture! unlikely to need surgery", "fracture").negated)
    assert(!attrs("a fracture? unlikely", "fracture").negated)
    assert(!attrs("no fever but fracture present", "fracture").negated)
    // window bound: trigger 6+ tokens away is out of scope
    assert(!attrs("no one two three four five fracture", "fracture").negated)
  }

  test("experiencer and temporality triggers") {
    assert(attrs("family history of tumor", "tumor").experiencer === "OTHER")
    assert(attrs("history of tumor", "tumor").temporality === "HISTORICAL")
    assert(attrs("patient has tumor", "tumor").experiencer === "PATIENT")
    assert(attrs("patient has tumor", "tumor").temporality === "RECENT")
  }

  test("context mode emits match + attributes over Spark, zero extra shuffles") {
    val terms = OntologyFixture.conceptsDf(spark)
      .select("pref_label").collect().map(_.getString(0))
      .filter(_.length >= 4).sorted.take(2) // deterministic, survives min_term_size
    val df = docsDf(Seq(
      s"patient shows ${terms(0)} clearly",
      s"no ${terms(0)} but family history of ${terms(1)}"))
    val withContext = Annotator.annotateWithContext(df, plainModel)
    val rows = withContext.collect()
    assert(rows.nonEmpty)
    def text(r: org.apache.spark.sql.Row) = r.getAs[String]("text")
    def negated(r: org.apache.spark.sql.Row) = r.getAs[Boolean]("negated")
    val byDoc = rows.groupBy(_.getAs[String]("url"))
    val affirmed = byDoc("doc://lem/0").filter(text(_).equalsIgnoreCase(terms(0)))
    assert(affirmed.nonEmpty && affirmed.forall(!negated(_)))
    val neg = byDoc("doc://lem/1").filter(text(_).equalsIgnoreCase(terms(0)))
    assert(neg.nonEmpty && neg.forall(negated))
    val other = byDoc("doc://lem/1").filter(text(_).equalsIgnoreCase(terms(1)))
    assert(other.nonEmpty &&
      other.forall(r => r.getAs[String]("experiencer") == "OTHER" && !negated(r)))
    // plan shape: the native match Generator, no exchange
    val plan = withContext.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("MapPartitions"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  // ---- lemma + context options of the one match Generator ---------------

  /** A one-concept dictionary: class T#TUMOR labelled "tumor". */
  private def tumorModel(lemma: Boolean) = {
    import spark.implicits._
    val concepts = Seq(("http://t#TUMOR", "T", "tumor", Seq.empty[String]))
      .toDF("class_iri", "ont", "pref_label", "synonyms")
    val labels = DictBuild.labelRows(concepts)
    val dict = if (lemma) DictBuild.buildLemmatized(labels) else DictBuild.build(labels)
    AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, s"t-$lemma"))
  }

  test("Annotator facade: matches(lemmatize=true) reports the original inflected span") {
    val text = "biopsy showed two tumors, both small"
    val rows = Annotator.matches(docsDf(Seq(text)), tumorModel(lemma = true),
        Annotator.Request(lemmatize = true))
      .select("from", "to", "text", "class_iri").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq
    val from = text.indexOf("tumors") + 1
    assert(rows === Seq((from, from + 5, "tumors", "http://t#TUMOR")))
    // lemma space is an option of the dictionary scan only
    val tagger = new Annotator.RuleTaggerRecognizer
    intercept[IllegalArgumentException] {
      Annotator.matches(docsDf(Seq(text)), tumorModel(lemma = true),
        Annotator.Request(lemmatize = true), recognizer = Some(tagger))
    }
  }

  test("lemma + context modes over a surrogate pair: original offsets and text; NULL text yields no rows") {
    // 😀 is two UTF-16 chars and four UTF-8 bytes before each term
    val texts = Seq("😀 no tumors here", null, "😀😀 history of tumor")
    val df = docsDf(texts)
    def rows(lemma: Boolean, context: Boolean) = NativeAnnotate
      .annotateMatches(df, tumorModel(lemma), lemmatize = lemma, context = context)
      .collect().map(_.toSeq).toSet
    val d0 = ("doc://lem/0", 7, 12, "tumors")
    val d2 = ("doc://lem/2", 17, 21, "tumor")
    assert(texts(0).substring(6, 12) === "tumors" && texts(2).substring(16, 21) === "tumor")
    def row(d: (String, Int, Int, String), attrs: Any*) =
      Seq(d._1, d._2, d._3, d._4, "http://t#TUMOR", "T", MatchType.Pref) ++ attrs
    assert(rows(lemma = true, context = false) === Set(row(d0), row(d2)))
    assert(rows(lemma = true, context = true) === Set(
      row(d0, true, "PATIENT", "RECENT"), row(d2, false, "PATIENT", "HISTORICAL")))
    // without lemmatization only the uninflected occurrence matches
    assert(rows(lemma = false, context = true) ===
      Set(row(d2, false, "PATIENT", "HISTORICAL")))
    assert(NativeAnnotate.annotateMatches(df, tumorModel(lemma = true), lemmatize = true,
      context = true).columns.toSeq === Seq("url", "from", "to", "text", "class_iri",
      "ont", "match_type", "negated", "experiencer", "temporality"))
    // lemma mode is whole-word by construction
    intercept[IllegalArgumentException] {
      NativeAnnotate.annotateMatches(df, tumorModel(lemma = true), wholeWord = false,
        lemmatize = true)
    }
  }
}
