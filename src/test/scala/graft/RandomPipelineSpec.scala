package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.NativeAnnotate
import graft.dict.{AutomatonBuild, DictBuild, NaiveMatcher}
import graft.graph.Closure

/** Randomized end-to-end gate: for random ontologies (random DAG hierarchies
  * with diamonds, duplicate labels across concepts, random synonyms and
  * mappings) and random corpora (mixed case, punctuation, non-ASCII filler),
  * the NATIVE annotate pipeline's (subj, pred, obj) set must equal a scalar
  * re-derivation that shares no engine code (naive matcher + BFS closure) —
  * the fixture-independent version of the ReferenceOracle P/R gate.
  */
class RandomPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsil",
    "zeta", "theta", "kappa", "lambda", "sigma", "omega", "query", "table",
    "index", "merge", "scan")
  private val noise = Vector("xq", "zz9", "w_1", "é", "😀", "the", "a", "...")

  private def normalize(s: String): String =
    s.toUpperCase(java.util.Locale.ROOT).trim.replaceAll("\\s+", " ")

  test("random ontologies × random corpora: native pipeline == scalar oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816)
    (1 to 12).foreach { round =>
      val maxLevel = 1 + rnd.nextInt(4)
      val nC = 8 + rnd.nextInt(10)
      def label(): String =
        (0 to rnd.nextInt(2)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val iris = (0 until nC).map(i => s"http://rnd/$round#C$i")
      val concepts = (0 until nC).map { i =>
        (iris(i), if (i % 3 == 0) "ONT2" else "ONT1", label(),
          Seq.fill(rnd.nextInt(3))(label()))
      }
      // random DAG: each non-root picks 1–2 earlier parents (diamonds arise)
      val edges = (1 until nC).flatMap { i =>
        (0 to rnd.nextInt(2)).map(_ => (iris(i), iris(rnd.nextInt(i)))).distinct
      }
      val mappings = (0 until nC).flatMap { i =>
        if (rnd.nextBoolean()) Some((iris(i), s"http://ext/$round#M${rnd.nextInt(6)}", "CUI"))
        else None
      }
      val docs = (0 until 25).map { d =>
        val words = (0 until 3 + rnd.nextInt(25)).map { _ =>
          val w = if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size))
          else noise(rnd.nextInt(noise.size))
          if (rnd.nextBoolean()) w.toUpperCase(java.util.Locale.ROOT) else w
        }
        (s"doc://rnd/$round/$d",
          words.mkString(Seq(" ", ", ", ". ", "-").apply(rnd.nextInt(4))))
      }

      // ---- engine side (native plan end to end)
      val conceptsDf = concepts.toDF("class_iri", "ont", "pref_label", "synonyms")
      val dict = DictBuild.build(DictBuild.labelRows(conceptsDf))
      val model = AutomatonBuild.broadcastModel(spark,
        AutomatonBuild.build(spark, dict, s"vR$round", shards = 4))
      val edgesDf = edges.toDF("child_iri", "parent_iri")
      val closureDf =
        if (edges.isEmpty)
          Seq.empty[(String, String, Int)].toDF("child", "ancestor", "distance")
        else Closure.transitiveClosure(edgesDf, maxLevel)
      val mappingsDf = mappings.toDF("class_iri", "mapped_iri", "kind")
      val maps = spark.sparkContext.broadcast(
        NativeAnnotate.expansionMaps(closureDf, mappingsDf, maxLevel))
      val corpusDf = docs.map { case (u, t) =>
        (u, new java.sql.Timestamp(0L), null.asInstanceOf[Array[Byte]], t, "en")
      }.toDF("url", "warc_ts", "html", "text", "lang")
      val opts = AnnotateOptions(hierarchyMaxLevel = maxLevel,
        longestOnly = rnd.nextBoolean())
      val got = NativeAnnotate.annotateTriples(corpusDf, model, maps, "v", opts)
        .select("subj", "pred", "obj").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

      // ---- scalar side (no engine code: naive matcher + BFS)
      val labelRows = concepts.flatMap { case (iri, ont, pref, syns) =>
        (pref +: syns).map(l => (normalize(l), iri, ont))
      }.filter(_._1.length >= 3).distinct
      val terms = labelRows.map(_._1).distinct.sorted.zipWithIndex
        .map { case (t, i) => (t, i + 1) }
      val payload = labelRows.groupBy(_._1).map { case (t, rs) => t -> rs }
      val idToTerm = terms.map(_.swap).toMap
      val matcher = new NaiveMatcher(terms.toArray)
      val parents = edges.groupBy(_._1).map { case (c, es) => c -> es.map(_._2).distinct }
      def ancestors(start: String): Set[String] = {
        val seen = scala.collection.mutable.Set[String]()
        var frontier = Set(start)
        var d = 0
        while (frontier.nonEmpty && d < maxLevel) {
          d += 1
          frontier = frontier.flatMap(n => parents.getOrElse(n, Nil))
            .filter(p => !seen.contains(p) && p != start)
          seen ++= frontier
        }
        seen.toSet
      }
      val mapOf = mappings.groupBy(_._1).map { case (c, ms) => c -> ms.map(_._2).distinct }
      val expected = scala.collection.mutable.Set[(String, String, String)]()
      docs.foreach { case (url, text) =>
        // same longest_only semantics on the scalar side: dropping a shorter
        // span can drop that term's classes from the direct set entirely
        val classes = matcher.scan(text, opts.longestOnly).iterator
          .flatMap(h => payload(idToTerm(h.termId)).map(_._2)).toSet
        classes.foreach { c =>
          expected += ((url, Pred.Direct, c))
          ancestors(c).foreach(a => expected += ((url, Pred.Expanded, a)))
          mapOf.getOrElse(c, Nil).foreach(m => expected += ((url, Pred.Mapped, m)))
        }
      }
      assert(got === expected.toSet, s"round=$round maxLevel=$maxLevel")
      if (round <= 3) assert(got.nonEmpty, s"round $round should produce matches")
    }
  }
}
