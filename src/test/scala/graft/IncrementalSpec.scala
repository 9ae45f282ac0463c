package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.annotate.{Corpus, Incremental, NativeAnnotate}
import graft.dict.{AutomatonBuild, DictBuild}
import graft.fixture.OntologyFixture

/** Incremental re-annotation on a dict-only update: the incremental result
  * must equal a full v2 re-annotation byte-for-byte (all Triple columns),
  * affected-doc detection must be tight, and a removal-only update must
  * never touch the corpus. */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val corpus = Corpus.extract(Corpus.fromDriverTable(
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))

  private def dictOf(df: org.apache.spark.sql.DataFrame) =
    DictBuild.build(DictBuild.labelRows(df))
  private lazy val dictV1 = dictOf(OntologyFixture.conceptsDf(spark))
  private lazy val dictV2 = dictOf(OntologyFixture.conceptsV2Df(spark))
  private lazy val modelV1 = AutomatonBuild.broadcastModel(spark,
    AutomatonBuild.build(spark, dictV1, "v1"))
  private lazy val modelV2 = AutomatonBuild.broadcastModel(spark,
    AutomatonBuild.build(spark, dictV2, "v2"))
  private lazy val maps = spark.sparkContext.broadcast(
    graft.annotate.NativeAnnotate.expansionMaps(
      graft.graph.Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5),
      OntologyFixture.mappingsDf(spark), 5))

  test("dict diff is term_id-free and matches the fixture delta") {
    val upd = Incremental.diff(DictBuild.flatDict(dictV1), DictBuild.flatDict(dictV2))
    val removed = upd.removed.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(3))).toSet
    val added = upd.added.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(3))).toSet
    val queryIri = OntologyFixture.concepts
      .find(c => c.ont == "ONT1" && c.prefLabel == "query").get.classIri
    val bigDataIri = OntologyFixture.concepts
      .find(c => c.ont == "ONT2" && c.prefLabel == "big data").get.classIri
    assert(removed === Set(
      ("SLOW QUERY", queryIri, false), ("FAST QUERY", queryIri, false),
      ("BIG DATA", bigDataIri, true)))
    assert(added === Set(
      ("BIGDATA", bigDataIri, true),
      ("FILTER", "http://fix.onto/ONT3#N001", true)))
  }

  test("incremental triples == full v2 re-annotation (all columns)") {
    val v1Matches = NativeAnnotate.annotateMatches(corpus, modelV1)
    val v1T = NativeAnnotate.annotateTriples(corpus, modelV1, maps, "v1")
    val (affected, inc) = Incremental.update(spark, corpus, v1Matches, v1T,
      DictBuild.flatDict(dictV1), DictBuild.flatDict(dictV2), "v2",
      slice => NativeAnnotate.annotateTriples(slice, modelV2, maps, "v2"))
    val full = NativeAnnotate.annotateTriples(corpus, modelV2, maps, "v2")
    val incSet = inc.collect().map(_.toSeq).toSet
    val fullSet = full.collect().map(_.toSeq).toSet
    assert(incSet === fullSet)
    // the update must be a real partial recomputation, not a full rerun:
    // some docs affected, but not all
    val n = affected.count()
    assert(n > 0, "fixture delta should affect some docs")
    assert(n < corpus.count(), "incremental should not touch every doc")
    info(s"affected ${n} of ${corpus.count()} docs")
  }

  test("affected set is tight: plain 'query' docs stay unaffected") {
    import spark.implicits._
    val crafted = Seq(
      ("doc://q1", "a query runs"),             // only the KEPT pref term
      ("doc://q2", "a slow query runs"),        // removed synonym → affected
      ("doc://f1", "filter the rows"),          // added ONT3 term → affected
      ("doc://n1", "nothing relevant here"))
      .toDF("url", "text")
    val v1Matches = NativeAnnotate.annotateMatches(crafted, modelV1)
    val upd = Incremental.diff(DictBuild.flatDict(dictV1), DictBuild.flatDict(dictV2))
    val affected = Incremental.affectedUrls(spark, crafted, v1Matches, upd)
      .collect().map(_.getString(0)).toSet
    assert(affected === Set("doc://q2", "doc://f1"))
  }

  test("added terms shorter than the DEFAULT filter still mark docs affected") {
    import spark.implicits._
    // v1/v2 built with NON-default minTermSize=1; v2 adds the 2-char term
    // 'ab' — the delta automaton must accept it verbatim, not re-apply the
    // default min_term_size=3 filter and silently miss the doc
    val v1c = Seq(("http://x#1", "O", "go", Seq.empty[String]))
      .toDF("class_iri", "ont", "pref_label", "synonyms")
    val v2c = v1c.unionByName(Seq(("http://x#2", "O", "ab", Seq.empty[String]))
      .toDF("class_iri", "ont", "pref_label", "synonyms"))
    val f1 = DictBuild.flatDict(DictBuild.build(DictBuild.labelRows(v1c), minTermSize = 1))
    val f2 = DictBuild.flatDict(DictBuild.build(DictBuild.labelRows(v2c), minTermSize = 1))
    val docs = Seq(("doc://s1", "ab initio"), ("doc://s2", "go west"))
      .toDF("url", "text")
    val mV1 = AutomatonBuild.broadcastModel(spark,
      AutomatonBuild.build(spark, DictBuild.build(DictBuild.labelRows(v1c), minTermSize = 1), "s-v1"))
    val v1Matches = NativeAnnotate.annotateMatches(docs, mV1)
    val affected = Incremental.affectedUrls(spark, docs, v1Matches,
        Incremental.diff(f1, f2))
      .collect().map(_.getString(0)).toSet
    assert(affected === Set("doc://s1"))
  }

  test("lemma mode: affected set + kept/rescanned matches == full lemma rescan") {
    import spark.implicits._
    val v1c = Seq(("http://l#A", "L", "run", Seq.empty[String]),
      ("http://l#B", "L", "jump", Seq.empty[String]))
      .toDF("class_iri", "ont", "pref_label", "synonyms")
    val v2c = Seq(("http://l#A", "L", "run", Seq.empty[String]),
      ("http://l#B", "L", "leap", Seq.empty[String])) // jump renamed to leap
      .toDF("class_iri", "ont", "pref_label", "synonyms")
    val d1 = DictBuild.buildLemmatized(DictBuild.labelRows(v1c))
    val d2 = DictBuild.buildLemmatized(DictBuild.labelRows(v2c))
    val m1 = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, d1, "l1"))
    val m2 = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, d2, "l2"))
    val docs = Seq(
      ("doc://a", "he jumps high"),    // removed JUMP matched here → affected
      ("doc://b", "she runs fast"),    // RUN unchanged → unaffected
      ("doc://c", "they leaped over")) // added LEAP matches here → affected
      .toDF("url", "text")
    val v1M = NativeAnnotate.annotateMatches(docs, m1, lemmatize = true)
    val affected = Incremental.affectedUrls(spark, docs, v1M,
      Incremental.diff(DictBuild.flatDict(d1), DictBuild.flatDict(d2)),
      lemma = true)
    assert(affected.collect().map(_.getString(0)).toSet === Set("doc://a", "doc://c"))
    // incremental match stream (kept unaffected v1 + rescanned affected)
    // equals a full v2 lemma rescan
    val kept = v1M.join(affected, Seq("url"), "left_anti")
    val re = NativeAnnotate.annotateMatches(
      docs.join(affected, Seq("url"), "left_semi"), m2, lemmatize = true)
    val inc = kept.unionByName(re).collect().map(_.toSeq).toSet
    val full = NativeAnnotate.annotateMatches(docs, m2, lemmatize = true)
      .collect().map(_.toSeq).toSet
    assert(inc === full)
  }

  test("removal-only update never reads the corpus (added scan skipped)") {
    import spark.implicits._
    // corpus poisoned: ANY evaluation of its text column throws
    val poisoned = Seq(("doc://p1", "x")).toDF("url", "t")
      .select(col("url"), expr("raise_error('corpus must not be scanned')").as("text"))
    val v1Matches = Seq(("doc://p1", 3, 12, "slow query",
      "http://fix.onto/ONT1#C018", "ONT1", "SYN"))
      .toDF("url", "from", "to", "text", "class_iri", "ont", "match_type")
    val removalOnly = Incremental.DictUpdate(
      removed = Seq(("SLOW QUERY", "http://fix.onto/ONT1#C018", "ONT1", false))
        .toDF("term", "class_iri", "ont", "pref"),
      added = Seq.empty[(String, String, String, Boolean)]
        .toDF("term", "class_iri", "ont", "pref"))
    val affected = Incremental.affectedUrls(spark, poisoned, v1Matches, removalOnly)
      .collect().map(_.getString(0)).toSet
    assert(affected === Set("doc://p1"))
  }
}
