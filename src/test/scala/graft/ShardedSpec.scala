package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.{Corpus, NativeAnnotate, Sharded}
import graft.dict.{AutomatonBuild, DictBuild}
import graft.fixture.OntologyFixture

/** S4 sharded-dictionary scan (SURVEY §5 ">driver-memory escape hatch"):
  * term-partitioned automaton shards must be indistinguishable from the
  * single automaton across the full option surface — including the one
  * cross-shard semantic, longest_only, which a shard-local filter would get
  * wrong (a short match survives its shard while its longer overlapper
  * lives in another shard). */
class ShardedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val dict =
    DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
  private lazy val model =
    AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
  private lazy val sharded = Sharded.buildModels(spark, dict, "v1", numShards = 4)
  private lazy val corpus = Corpus.extract(Corpus.readDriverDocuments(spark, sfDir))

  private def asSet(ds: org.apache.spark.sql.DataFrame): Set[(String, Int, Int, String, String, String)] =
    ds.select("url", "from", "to", "class_iri", "ont", "match_type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet

  /** Native sharded Generator == native single-automaton Generator for all
    * four longestOnly × wholeWord combinations. */
  private def assertShardedParity(models: Seq[org.apache.spark.broadcast.Broadcast[
      graft.dict.AnnotatorModel]]): Unit =
    for (longest <- Seq(false, true); whole <- Seq(true, false)) {
      val single = asSet(NativeAnnotate.annotateMatches(corpus, model, longest, whole))
      val shard = asSet(NativeAnnotate.annotateMatchesSharded(corpus, models, longest, whole))
      assert(shard === single, s"k=${models.length} longestOnly=$longest wholeWord=$whole")
      assert(shard.nonEmpty)
    }

  test("shards partition the dictionary (disjoint, complete, O(N/k) payloads)") {
    val k = 4
    val splits = Sharded.splitDict(dict, k)
    val total = dict.count()
    assert(splits.map(_.count()).sum === total)
    // ids are shard-LOCAL; reconstructed globals must be exactly the originals
    val globals = splits.zipWithIndex.flatMap { case (sd, s) =>
      sd.select("term_id").collect().map(_.getInt(0) * k + s)
    }
    val originals = dict.select("term_id").collect().map(_.getInt(0))
    assert(globals.sorted.toSeq === originals.sorted.toSeq)
    // the remap's purpose: per-shard payload arrays are O(N/k), not O(N)
    val maxGlobal = originals.max
    sharded.foreach { m =>
      assert(m.value.payload.length <= maxGlobal / k + 2,
        s"shard payload array ${m.value.payload.length} not O(N/k)")
    }
  }

  test("single-pass sharded scan == single automaton (all 4 option combos)") {
    assertShardedParity(sharded)
  }

  test("native sharded plan has no object-mode island") {
    val df = NativeAnnotate.annotateMatchesSharded(corpus, sharded)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("DeserializeToObject"), "object-mode island in native sharded plan")
    assert(!plan.contains("MapPartitions"), "object-mode island in native sharded plan")
  }

  test("empty shard (numShards > term count) fails loudly, not with an NPE") {
    val e = intercept[IllegalArgumentException] {
      Sharded.buildModels(spark, dict, "v1", numShards = 10000)
    }
    assert(e.getMessage.contains("empty dictionary"))
  }

  test("shard-count robustness: k=1 (degenerate) and k=7 (uneven) still match") {
    for (k <- Seq(1, 7))
      assertShardedParity(Sharded.buildModels(spark, dict, "v1", numShards = k))
  }

  test("ShardedDictionaryRecognizer == DictionaryRecognizer through the facade seam") {
    val opts = AnnotateOptions(longestOnly = true)
    val single = new Annotator.DictionaryRecognizer(model)
      .recognize(corpus, opts)
      .collect().map(_.toSeq).toSet
    val shard = new Annotator.ShardedDictionaryRecognizer(sharded)
      .recognize(corpus, opts)
      .collect().map(_.toSeq).toSet
    assert(shard === single)
    assert(shard.nonEmpty)
  }

  test("cross-shard longest_only actually bites (shard-local filter would differ)") {
    // a document where a short term and its longer overlapper land in
    // DIFFERENT shards: scan per shard WITH longestOnly, union — if that
    // equals the correct result for every doc, the fixture can't pin the
    // semantics; assert the corpora differ somewhere so the test is live
    import spark.implicits._
    val perShardLongest = sharded
      .map(m => asSet(NativeAnnotate.annotateMatches(corpus, m, longestOnly = true)))
      .reduce(_ union _)
    val correct = asSet(NativeAnnotate.annotateMatchesSharded(corpus, sharded, longestOnly = true))
    assert(correct.subsetOf(perShardLongest))
    assert(perShardLongest !== correct,
      "fixture corpus has no cross-shard overlap — longest_only semantics unpinned; " +
        "adjust shard count or fixture so the cross-shard case is exercised")
  }
}
