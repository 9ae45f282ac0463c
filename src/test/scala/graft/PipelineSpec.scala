package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.annotate.Corpus
import graft.oracle.ReferenceOracle

/** End-to-end gates (SURVEY.md §6.2): triple P/R vs the reference-semantics
  * scalar oracle on sf0.001 (gate ≥ 0.95, expected 1.0), byte-identical
  * per-url extracted text, HTML extraction goldens, and stage resume.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("P/R gate: pipeline triples == scalar-oracle triples (P=R=1.0)") {
    val actual = SparkEntry.queries("ann_triples")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat(lit("doc://"), col("doc_id")), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = ReferenceOracle.goldenTriples(docs)
    val (p, r) = ReferenceOracle.precisionRecall(actual, expected)
    info(f"precision=$p%.4f recall=$r%.4f actual=${actual.size} expected=${expected.size}")
    assert(p >= 0.95 && r >= 0.95, s"P/R gate failed: p=$p r=$r")
    assert(p === 1.0 && r === 1.0, "determinism should give exact match")
  }

  test("offset-level match parity vs scalar oracle over the whole sf0.001 corpus") {
    import graft.annotate.{Corpus, NativeAnnotate}
    import graft.dict.{AutomatonBuild, DictBuild}
    import graft.fixture.OntologyFixture
    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    val model = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
    val corpus = Corpus.extract(Corpus.readDriverDocuments(spark, sfDir))
    for (longest <- Seq(false, true)) {
      val got = NativeAnnotate.annotateMatches(corpus, model, longest).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
          r.getString(4), r.getString(5), r.getString(6))).toSet
      val want = corpus.select("url", "text").collect().flatMap { r =>
        graft.oracle.ReferenceOracle.directMatches(r.getString(0), r.getString(1), longest)
          .map(m => (m.url, m.from, m.to, m.text, m.classIri, m.ont, m.matchType))
      }.toSet
      assert(got === want, s"offset-level mismatch (longestOnly=$longest)")
      assert(got.nonEmpty)
    }
  }

  test("byte-identical extracted text per url (input_hint invariant)") {
    val corpus = Corpus.extract(Corpus.readDriverDocuments(spark, sfDir))
    val got = corpus.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().foreach { r =>
        val url = s"doc://${r.getLong(0)}"
        assert(got(url) === r.getString(1), s"text mutated for $url")
      }
  }

  test("HTML extraction goldens (A0 deterministic strip)") {
    assert(Corpus.htmlToText("<html><body><p>hash join</p></body></html>") === "hash join")
    assert(Corpus.htmlToText(
      "<script>var x=1;</script><b>merge</b> <i>sort</i>") === "merge sort")
    assert(Corpus.htmlToText("<style>p{}</style>a &amp; b &lt;c&gt;") === "a & b <c>")
    assert(Corpus.htmlToText("<!-- c --><div>scan</div>\n\n <div>table</div>") === "scan table")
    assert(Corpus.htmlToText(null) === "")
    // html path through the column expression
    import spark.implicits._
    val df = Seq(
      ("u1", null.asInstanceOf[Array[Byte]], "verbatim text"),
      ("u2", "<p>from html</p>".getBytes("UTF-8"), null.asInstanceOf[String]))
      .toDF("url", "html", "text")
    val out = df.select(col("url"),
      Corpus.extractedText(col("text"), col("html")).as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("u1") === "verbatim text")
    assert(out("u2") === "from html")
  }

  test("HTML corpus end-to-end: null-text rows extract from html and annotate") {
    import spark.implicits._
    import graft.annotate.{Corpus, NativeAnnotate}
    import graft.dict.{AutomatonBuild, DictBuild}
    import graft.fixture.OntologyFixture
    import graft.graph.Closure
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docs = Seq(
      ("http://a", ts, "<html><body><p>the hash join</p><script>x()</script></body></html>"
        .getBytes("UTF-8"), null.asInstanceOf[String], "en"),
      ("http://b", ts, null.asInstanceOf[Array[Byte]], "merge sort beats a table scan", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val extracted = Corpus.extract(docs)
    val texts = extracted.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(texts("http://a") === "the hash join") // stripped, script dropped
    assert(texts("http://b") === "merge sort beats a table scan") // verbatim
    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    val model = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
    val maps = spark.sparkContext.broadcast(NativeAnnotate.expansionMaps(
      Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5),
      OntologyFixture.mappingsDf(spark), 5))
    val got = NativeAnnotate.annotateTriples(extracted, model, maps, "v1")
      .select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val expected = ReferenceOracle.goldenTriples(
      Seq(("http://a", "the hash join"), ("http://b", "merge sort beats a table scan")))
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("pipeline resume: stage checkpoints skip, outputs identical") {
    val work = Files.createTempDirectory("graft-resume").toString
    val cfg = Pipeline.Config(sfDir, work, scanPartitions = 4)
    val first = Pipeline.run(spark, cfg)
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    // delete the final stage only → rerun must recompute just that stage
    val triplesDir = new java.io.File(s"$work/triples")
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    deleteRec(triplesDir)
    val second = Pipeline.run(spark, cfg)
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    assert(first === second)
    // lineage recorded rows for every stage, with stage input cardinality
    val lineage = spark.read.parquet(s"$work/lineage")
    val stages = lineage.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages === Set("dict", "corpus", "matches", "closure", "triples"))
    val corpusIn = lineage.filter(col("stage") === "corpus")
      .select("input_rows").head().getLong(0)
    assert(corpusIn === 500L) // sf0.001 documents count

    // partial-write crash: stage dir WITHOUT _SUCCESS must recompute
    deleteRec(new java.io.File(s"$work/matches"))
    new java.io.File(s"$work/matches").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/matches/part-garbage.parquet"), "junk")
    deleteRec(new java.io.File(s"$work/triples"))
    val third = Pipeline.run(spark, cfg)
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    assert(third === first, "partial stage dir must be recomputed, not trusted")
    deleteRec(new java.io.File(work))
  }

  test("flagship with dictShards=4 (S4 regime) emits identical triples") {
    val wd1 = Files.createTempDirectory("graft-sh-wd1").toString
    val single = Pipeline.run(spark, Pipeline.Config(sfDir, wd1, scanPartitions = 4))
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    val wd2 = Files.createTempDirectory("graft-sh-wd2").toString
    val sharded = Pipeline.run(spark,
      Pipeline.Config(sfDir, wd2, scanPartitions = 4, dictShards = 4))
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    assert(sharded === single)
    assert(sharded.nonEmpty)
  }

  test("materializeKg: graph stages checkpoint, resume, and equal direct recomputation") {
    val wd = Files.createTempDirectory("graft-kg-wd").toString
    Pipeline.run(spark, Pipeline.Config(sfDir, wd, scanPartitions = 4,
      materializeKg = true)).count()
    for (s <- Seq("kg_edges", "kg_components", "kg_pagerank_weighted"))
      assert(new java.io.File(s"$wd/$s/_SUCCESS").exists, s"missing stage $s")
    // kg_edges == cooccurrence over the persisted matches stage
    val m = spark.read.parquet(s"$wd/matches")
      .select(col("url"), col("classIri").as("class_iri"))
    val edges = spark.read.parquet(s"$wd/kg_edges")
    assert(edges.collect().map(_.toSeq).toSet ===
      graft.graph.KgGraph.cooccurrence(m).collect().map(_.toSeq).toSet)
    // kg_pagerank == weighted PageRank recomputed from the edges stage
    val pr = spark.read.parquet(s"$wd/kg_pagerank_weighted").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = graft.graph.KgGraph.pageRankWeighted(edges).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr.keySet === exp.keySet)
    pr.foreach { case (k, v) => assert(math.abs(v - exp(k)) <= 1e-6, k) }
    // resume: second run skips every stage (no new lineage rows)
    val lin1 = spark.read.parquet(s"$wd/lineage").count()
    Pipeline.run(spark, Pipeline.Config(sfDir, wd, scanPartitions = 4,
      materializeKg = true)).count()
    assert(spark.read.parquet(s"$wd/lineage").count() === lin1)
  }

  test("materializeWeb: link stages checkpoint, resume, and equal direct recomputation") {
    val wd = Files.createTempDirectory("graft-web-wd").toString
    Pipeline.run(spark, Pipeline.Config(sfDir, wd, scanPartitions = 4,
      materializeWeb = true)).count()
    for (s <- Seq("web_links", "web_host_graph", "web_pagerank"))
      assert(new java.io.File(s"$wd/$s/_SUCCESS").exists, s"missing stage $s")
    // web_links == direct extraction over the synthesized page table
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val direct = graft.ops.LinkGraph.links(graft.ops.LinkGraph.pages(docs))
    val links = spark.read.parquet(s"$wd/web_links")
    assert(links.count() === direct.count()) // multiplicity, not just set
    assert(links.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
    // web_pagerank == directed PageRank recomputed from the links stage
    val pr = spark.read.parquet(s"$wd/web_pagerank").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = graft.graph.KgGraph.pageRankDirected(
        graft.ops.LinkGraph.pageEdges(links)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr.keySet === exp.keySet)
    pr.foreach { case (k, v) => assert(math.abs(v - exp(k)) <= 1e-6, k) }
    // resume: second run skips every stage (no new lineage rows)
    val lin1 = spark.read.parquet(s"$wd/lineage").count()
    Pipeline.run(spark, Pipeline.Config(sfDir, wd, scanPartitions = 4,
      materializeWeb = true)).count()
    assert(spark.read.parquet(s"$wd/lineage").count() === lin1)
  }

  test("runIncremental: triples_v2 stage == full v2 pipeline, resumable") {
    import graft.fixture.OntologyFixture
    val wd = Files.createTempDirectory("graft-inc-wd").toString
    Pipeline.run(spark, Pipeline.Config(sfDir, wd, scanPartitions = 4)).count()
    val v2c = OntologyFixture.conceptsV2Df(spark)
    val cfg2 = Pipeline.Config(sfDir, wd, dictVersion = "v2", scanPartitions = 4)
    val inc = Pipeline.runIncremental(spark, cfg2, v2c)
    // reference: a FULL v2 pipeline in a fresh work dir (same edges/mappings
    // — dict-only update)
    val wdFull = Files.createTempDirectory("graft-incfull-wd").toString
    val full = Pipeline.run(spark, Pipeline.Config(sfDir, wdFull,
      dictVersion = "v2", scanPartitions = 4,
      ontology = Some(OntologyTables(v2c, OntologyFixture.edgesDf(spark),
        OntologyFixture.mappingsDf(spark)))))
    val cols = Seq("subj", "pred", "obj", "match_type", "distance", "score",
      "dict_version", "part_date").map(col)
    assert(inc.select(cols: _*).collect().map(_.toSeq).toSet ===
      full.select(cols: _*).collect().map(_.toSeq).toSet)
    // both versioned stages exist side by side; resume skips everything
    for (s <- Seq("dict_v2", "triples_v2"))
      assert(new java.io.File(s"$wd/$s/_SUCCESS").exists, s"missing stage $s")
    val lin1 = spark.read.parquet(s"$wd/lineage").count()
    Pipeline.runIncremental(spark, cfg2, v2c).count()
    assert(spark.read.parquet(s"$wd/lineage").count() === lin1)
  }

  test("runIncremental handles TUI-only changes under a semantic-type filter") {
    import graft.fixture.OntologyFixture
    // dict rows identical between v1 and v2 — only 'customer' changes its
    // TUI OUT of the active filter. The diff alone sees nothing; the
    // TUI-delta expansion must mark its docs affected or kept v1 triples
    // leak annotations the v2 filter would drop.
    val opts = AnnotateOptions(semanticTypes = Seq("T040"))
    val wd = Files.createTempDirectory("graft-tui-wd").toString
    Pipeline.run(spark, Pipeline.Config(sfDir, wd, scanPartitions = 4,
      opts = opts)).count()
    val v2c = OntologyFixture.conceptsDf(spark)
      .withColumn("tuis", when(col("pref_label") === "customer",
        array(lit("T099"))).otherwise(col("tuis")))
    val inc = Pipeline.runIncremental(spark, Pipeline.Config(sfDir, wd,
      dictVersion = "v2", scanPartitions = 4, opts = opts), v2c)
    val wdFull = Files.createTempDirectory("graft-tuifull-wd").toString
    val full = Pipeline.run(spark, Pipeline.Config(sfDir, wdFull,
      dictVersion = "v2", scanPartitions = 4, opts = opts,
      ontology = Some(OntologyTables(v2c, OntologyFixture.edgesDf(spark),
        OntologyFixture.mappingsDf(spark)))))
    val cols = Seq("subj", "pred", "obj", "match_type", "distance", "score",
      "dict_version").map(col)
    val incSet = inc.select(cols: _*).collect().map(_.toSeq).toSet
    val fullSet = full.select(cols: _*).collect().map(_.toSeq).toSet
    assert(incSet === fullSet)
    // and the change is real: v1 had 'customer' annotations, v2 must not
    val custIri = OntologyFixture.concepts
      .find(c => c.ont == "ONT1" && c.prefLabel == "customer").get.classIri
    assert(spark.read.parquet(s"$wd/triples")
      .filter(col("obj") === custIri && col("pred") === "hasAnnotation")
      .count() > 0)
    assert(!fullSet.exists(r => r(1) == "hasAnnotation" && r(2) == custIri))
  }

  test("CUI mappings derived from the concept table == fixture CUI mappings") {
    val derived = OntologyTables.cuiMappings(
      graft.fixture.OntologyFixture.conceptsDf(spark))
      .collect().map(_.toSeq).toSet
    val fixtureCui = graft.fixture.OntologyFixture.mappingsDf(spark)
      .filter(col("kind") === "CUI").collect().map(_.toSeq).toSet
    assert(derived === fixtureCui)
    assert(derived.nonEmpty)
  }

  test("LOOM mappings derived from the concept table == fixture LOOM mappings") {
    val derived = OntologyTables.loomMappings(
      graft.fixture.OntologyFixture.conceptsDf(spark))
      .collect().map(_.toSeq).toSet
    val fixtureLoom = graft.fixture.OntologyFixture.mappingsDf(spark)
      .filter(col("kind") === "LOOM").collect().map(_.toSeq).toSet
    assert(derived === fixtureLoom)
    // the fixture has 7 cross-ontology shared labels × 2 directions
    assert(derived.size === 14, derived.toString)
  }

  test("loomMappings: NULL synonyms must not drop the pref label from derivation") {
    import spark.implicits._
    // curated parquet inputs can carry synonyms = NULL; the pref label must
    // still participate in the lexical match
    val concepts = Seq(
      ("http://a/1", "A", "shared label", Option.empty[Seq[String]]),
      ("http://b/1", "B", "shared label", Some(Seq.empty[String])))
      .toDF("class_iri", "ont", "pref_label", "synonyms")
    val got = OntologyTables.loomMappings(concepts).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("http://a/1", "http://b/1"), ("http://b/1", "http://a/1")))
  }

  test("pipeline over RDF submissions == pipeline over the FULL fixture (CUI + LOOM)") {
    import graft.fixture.OntologyFixture
    import graft.io.NTriples
    // export the fixture as per-ontology N-Triples submissions
    val c = OntologyFixture.conceptsDf(spark)
    val e = OntologyFixture.edgesDf(spark)
    val ntRoot = Files.createTempDirectory("graft-nt-onto").toString
    NTriples.writeSubmissions(c, e, ntRoot)
    // the NT path derives BOTH mapping kinds now, so it must reproduce the
    // fixture pipeline exactly — round 2's 111-triple LOOM gap is closed
    val wd1 = Files.createTempDirectory("graft-nt-wd1").toString
    val fromTables = Pipeline.run(spark,
      Pipeline.Config(sfDir, wd1, scanPartitions = 4,
        ontology = Some(OntologyTables.fixture(spark))))
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    val wd2 = Files.createTempDirectory("graft-nt-wd2").toString
    val fromRdf = Pipeline.run(spark,
      Pipeline.Config(sfDir, wd2, scanPartitions = 4,
        ontology = Some(OntologyTables.fromNTriples(spark, ntRoot))))
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    assert(fromRdf === fromTables)
    assert(fromRdf.nonEmpty)
  }

  test("fused zero-shuffle annotate == Catalyst-join annotate == oracle") {
    import graft.annotate.{Corpus, NativeAnnotate}
    import graft.dict.{AutomatonBuild, DictBuild}
    import graft.fixture.OntologyFixture
    import graft.graph.Closure
    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    val model = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
    val closure = Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5)
    val corpus = Corpus.extract(Corpus.readDriverDocuments(spark, sfDir))

    // Catalyst-join formulation over per-occurrence matches
    val joined = JoinAssembly.triples(NativeAnnotate.annotateMatches(corpus, model),
      AnnotateOptions(), closure, OntologyFixture.mappingsDf(spark))
    // fused map-only formulation
    val maps = spark.sparkContext.broadcast(
      NativeAnnotate.expansionMaps(closure, OntologyFixture.mappingsDf(spark), 5))
    val fused = NativeAnnotate.annotateTriples(corpus, model, maps, "v1")

    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "match_type", "distance", "score")
        .collect().map(_.toSeq).toSet
    assert(full(fused) === full(joined))
    // and both equal the scalar oracle's (subj, pred, obj) set
    val docs = corpus.select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val spo = full(fused).map(r => (r(0), r(1), r(2)))
    assert(spo === ReferenceOracle.goldenTriples(docs).map(t => (t._1, t._2, t._3)))
    assert(spo.nonEmpty)
  }

  test("pipeline triples match the oracle too (flagship entry path)") {
    val triples = SparkEntry.entry(spark)
    assert(triples.count() > 0)
    val actual = triples.select("subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat(lit("doc://"), col("doc_id")), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (p, r) = ReferenceOracle.precisionRecall(actual, ReferenceOracle.goldenTriples(docs))
    assert(p === 1.0 && r === 1.0)
  }
}
