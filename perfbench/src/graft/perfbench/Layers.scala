package graft.perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{OntologyTables, Pipeline}
import graft.annotate.{Corpus, Expand, Filters, Incremental, NativeAnnotate, Scoring}
import graft.dict.{AnnotatorModel, AutomatonBuild, DictBuild, HitBuffer}
import graft.emit.Triples
import graft.graph.Closure
import graft.io.TableIO

/** The traced compositions: the stages of `Pipeline.run` and
  * `Pipeline.runIncremental`, rebuilt from the layers' public calls, each
  * call inside a span. Every layer output is forced by the parquet write the
  * pipeline itself does, or by a `noop` sink where the pipeline fuses it into
  * a later write (the expansion). The pipeline's lineage rows and input
  * counts are left out: they belong to the `pipeline` layer, read from the
  * product call's own `lineage/` rows instead. */
object Layers {

  val TriplePartitions = Seq("part_date", "dict_version")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The matches-stage body of the pipeline. */
  def scanFilter(cfg: Pipeline.Config, model: Broadcast[AnnotatorModel],
                 corpus: DataFrame, concepts: DataFrame): DataFrame =
    Filters(
      NativeAnnotate.annotateMatches(corpus, model, cfg.opts.longestOnly,
        cfg.opts.wholeWordOnly)
        .withColumnRenamed("class_iri", "classIri")
        .withColumnRenamed("match_type", "matchType"),
      cfg.opts,
      Some(concepts.select(col("class_iri"), explode(col("tuis")).as("tui"))))

  /** The triples-stage body of the pipeline (default options: hierarchy and
    * mapping expansion on). */
  def expand(cfg: Pipeline.Config, matches: DataFrame, closure: DataFrame,
             mappings: DataFrame, corpus: DataFrame, version: String): DataFrame = {
    require(cfg.opts.expandHierarchy && cfg.opts.expandMappings,
      "the traced composition mirrors the default expansion options")
    val assembled = Triples.assemble(Scoring.directScores(matches),
      Expand.hierarchy(matches, closure, cfg.opts.hierarchyMaxLevel),
      Expand.mappings(matches, mappings), version)
      .filter(col("score") >= cfg.opts.scoreThreshold)
    Triples.withPartDate(assembled, corpus)
  }

  /** Traced mirror of `Pipeline.run` into `cfg.workDir`; returns the
    * automaton model the dict layer built. */
  def run(t: Tracer, spark: SparkSession, cfg: Pipeline.Config,
          onto: OntologyTables): AnnotatorModel = t.span("run") {
    val io = TableIO.forSession(spark, cfg.workDir)
    onto.concepts.cache()
    try {
      val (model, bcast) = t.span("dict") {
        t.span("dict.build") {
          io.write(DictBuild.build(DictBuild.labelRows(onto.concepts)), "dict", Nil)
        }
        val dict = io.read(spark, "dict")
        val m = t.span("dict.automaton_build") {
          AutomatonBuild.build(spark, dict, cfg.dictVersion)
        }
        (m, t.span("dict.broadcast") { AutomatonBuild.broadcastModel(spark, m) })
      }
      t.span("corpus") {
        io.write(Corpus.lengthBucketed(
          Corpus.extract(Corpus.readDriverDocuments(spark, cfg.sfDir)),
          cfg.scanPartitions), "corpus", Nil)
      }
      val corpus = io.read(spark, "corpus")
      t.span("scan") {
        io.write(scanFilter(cfg, bcast, corpus, onto.concepts), "matches", Nil)
      }
      t.span("closure") {
        io.write(Closure.transitiveClosure(onto.edges, cfg.opts.hierarchyMaxLevel),
          "closure", Nil)
      }
      val triples = expand(cfg, io.read(spark, "matches"), io.read(spark, "closure"),
        onto.mappings, corpus, cfg.dictVersion)
      t.span("expand") { noop(triples) }
      t.span("io") { io.write(triples, "triples", TriplePartitions) }
      model
    } finally onto.concepts.unpersist()
  }

  /** Traced mirror of `Pipeline.runIncremental`: reads the completed v1
    * stages of `cfg.workDir`, writes its own tables under `outDir`. The
    * affected urls and the rescanned matches are written out so the rescan
    * and the rewrite can be timed apart. */
  def refresh(t: Tracer, spark: SparkSession, cfg: Pipeline.Config,
              onto: OntologyTables, v2Concepts: DataFrame, outDir: String): Unit =
    t.span("incremental") {
      val v1 = TableIO.forSession(spark, cfg.workDir)
      val out = TableIO.forSession(spark, outDir)
      val v2 = cfg.dictVersion
      require(cfg.opts.semanticTypes.isEmpty,
        "the traced composition mirrors the no-semantic-type-filter diff")
      v2Concepts.cache()
      try {
        t.span("incremental.dict") {
          out.write(DictBuild.build(DictBuild.labelRows(v2Concepts)), s"dict_$v2", Nil)
        }
        val dictV2 = out.read(spark, s"dict_$v2")
        val upd = t.span("incremental.diff") {
          val u = Incremental.diff(DictBuild.flatDict(v1.read(spark, "dict")),
            DictBuild.flatDict(dictV2))
          noop(u.removed)
          noop(u.added)
          u
        }
        val corpus = v1.read(spark, "corpus")
        t.span("incremental.affected") {
          out.write(Incremental.affectedUrls(spark, corpus, v1.read(spark, "matches"),
            upd, wholeWord = cfg.opts.wholeWordOnly), "affected", Nil)
        }
        val affected = out.read(spark, "affected")
        t.span("incremental.rescan") {
          val model = AutomatonBuild.broadcastModel(spark,
            AutomatonBuild.build(spark, dictV2, v2))
          out.write(scanFilter(cfg, model, corpus.join(affected, Seq("url"), "left_semi"),
            v2Concepts), s"matches_$v2", Nil)
        }
        val m2 = out.read(spark, s"matches_$v2")
        t.span("incremental.rewrite") {
          out.write(Incremental.incrementalTriples(corpus, v1.read(spark, "triples"),
            affected, v2, slice => expand(cfg, m2, v1.read(spark, "closure"),
              onto.mappings, slice, v2)), s"triples_$v2", TriplePartitions)
        }
      } finally v2Concepts.unpersist()
    }

  /** Single-thread automaton scan over `texts` through the byte path the
    * annotate generator takes, JIT-warmed; returns (MB/s median over timed
    * passes, hits per KB). */
  def automatonScan(model: AnnotatorModel, texts: Seq[String]): (Double, Double) = {
    val auto = model.automaton
    val u8 = texts.map(UTF8String.fromString).toArray
    val bytes = u8.map(_.numBytes.toLong).sum
    val buf = new HitBuffer()
    def pass(): Long = {
      var hits = 0L
      var i = 0
      while (i < u8.length) {
        val u = u8(i)
        auto.scanUtf8Into(u.getBaseObject, u.getBaseOffset, u.numBytes, buf)
        hits += buf.size
        i += 1
      }
      hits
    }
    (1 to 3).foreach(_ => pass())
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    var hits = 0L
    val t0 = System.nanoTime()
    while (rates.size < 5 || System.nanoTime() - t0 < 1000000000L) {
      val s = System.nanoTime()
      hits = pass()
      rates += bytes / 1e6 / ((System.nanoTime() - s) / 1e9)
    }
    (Tracer.median(rates.toSeq), hits / (bytes / 1024.0))
  }
}
