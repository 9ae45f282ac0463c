package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts for the late-round-4 operators — the shapes
  * PLANS.md claims, pinned so a regression (a lost broadcast, a surprise
  * cartesian, a second corpus pass) fails the suite instead of surfacing
  * as a 100×-scale incident. String asserts over executedPlan, the
  * BucketedJoinSpec idiom. */
class PlanContractSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("annotate scans plan as a native Generate — no object-mode island") {
    val plans = Seq("ann_longest", "ann_triples", "ann_sharded", "ann_lemma",
      "ann_agreement", "ann_context", "kg_pred_stats",
      "kg_obj_degree_dist").map(q => q -> plan(q)) :+
      ("SparkEntry.entry" -> SparkEntry.entry(spark).queryExecution.executedPlan.toString)
    for ((q, p) <- plans) {
      assert(p.contains("Generate"), s"$q:\n$p")
      assert(!p.contains("MapPartitions"), s"$q:\n$p")
      assert(!p.contains("DeserializeToObject"), s"$q:\n$p")
    }
  }

  test("text_quality: exact-rational scorer stays a map-only projection — " +
      "no exchange, no join, no expensive fallback from the integer form") {
    val p = plan("text_quality")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("kg_assortativity: degree table broadcasts onto both edge legs, no cartesian") {
    val p = plan("kg_assortativity")
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kg_modularity: community map broadcasts; the only cartesian is the 1-row total attach") {
    val p = plan("kg_modularity")
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 3, p)
    // the dangling-mass pattern: a 1-row scalar crossJoin plans as a
    // broadcast nested loop over ONE row — anything else is a regression
    assert(!p.contains("CartesianProduct"), p)
  }

  test("web_pld_graph: the PLD rollup is join-free (suffix logic compiled into the projection)") {
    val p = plan("web_pld_graph")
    assert(!p.contains("Join"), p)
  }

  test("dedup_cdc: chunking is map-only — exactly one exchange (the chunk-hash agg)") {
    val p = plan("dedup_cdc")
    val exchanges = p.split("\n").count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")
        && !l.contains("ReusedExchange"))
    assert(exchanges === 1, s"expected exactly 1 shuffle exchange:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("kg_fact_fusion: top-2 plans as WindowGroupLimit, no evidence self-join") {
    val p = plan("kg_fact_fusion")
    // rn <= 2 must push into a map-side partial group-limit before the
    // subject exchange (the domain-quota shape) — a full per-subject sort
    // of the fact stream is the regression this pins against
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kg_transe_step: gather joins + gradient aggs only — no cartesian anywhere") {
    val p = plan("kg_transe_step")
    assert(!p.contains("CartesianProduct"), p)
    // the per-dim explode rides the pair scan; embeddings attach by
    // equi-join (hash or sort-merge — both keyed), never nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ann_pr_gate: engine leg native Generate; the only NLJ is the reference regex scan") {
    val p = plan("ann_pr_gate")
    // the verification query is ALLOWED its naive broadcast regex scan
    // (that IS the reference side); the engine side must still be the
    // Generator scan, and nothing may plan as an unbounded cartesian
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kg_related_docs: no self-join of the profile stream, no cartesian") {
    // note: the closure's broadcast attach sits UPSTREAM of the profile
    // pin (localCheckpoint truncates lineage to Scan ExistingRDD), so it
    // is not visible in this plan — the visible contract is the pair path
    val p = plan("kg_related_docs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // pair generation is the map-side array explosion — the plan must
    // never join posting rows against themselves on the sem key (the two
    // doc-keyed size joins are expected and AQE-broadcastable)
    assert(!p.contains("SortMergeJoin [sem"), p)
    assert(!p.contains("ShuffledHashJoin [sem"), p)
  }

  test("truthFinder: final attach broadcast + shuffle-free; plan depth constant in rounds") {
    import spark.implicits._
    val ev = (0 until 200).flatMap { i =>
      val e = Seq("direct", "lemma", "anchor")(i % 3)
      Seq((s"u$i", s"c${i % 7}", e), (s"u$i", s"c${(i + 1) % 7}", "direct"))
    }.toDF("subj", "obj", "extractor")
    def planOf(rounds: Int): String =
      graft.ops.Relations.truthFinder(ev, rounds = rounds)
        .queryExecution.executedPlan.toString
    val p2 = planOf(2)
    // the fact table (pinned) picks up its signature's confidence by
    // BROADCAST join — the corpus-scale side never re-exchanges
    assert(p2.contains("BroadcastHashJoin"), p2)
    val shuffles = p2.split("\n").count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")
        && !l.contains("ReusedExchange"))
    assert(shuffles === 0, s"final attach must be shuffle-free:\n$p2")
    // every round's frames are pinned, so deeper iteration must not nest
    // plans (the Lloyd lineage rule) — same tree, different checkpoint data
    val p6 = planOf(6)
    assert(p2.split("\n").length === p6.split("\n").length,
      s"plan grew with rounds:\n$p2\nvs\n$p6")
  }

  test("kg_construct_rule: descendant set broadcasts, no cartesian") {
    val p = plan("kg_construct_rule")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kg_path_query: reach set broadcasts onto ONE pruned scan, no cartesian") {
    val p = plan("kg_path_query")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // alternation compiles to an IN filter, not a union of two triple scans
    assert(p.split("\n").count(_.contains("Generate ")) <= 1, p)
  }

  test("kg_void_stats + kg_prov_bundle: pure aggregation — join-free") {
    assert(!plan("kg_void_stats").contains("Join"), plan("kg_void_stats"))
    assert(!plan("kg_prov_bundle").contains("Join"), plan("kg_prov_bundle"))
  }

  test("kg_encoded_store + kg_owl_horst: no cartesian anywhere") {
    assert(!plan("kg_encoded_store").contains("CartesianProduct"))
    assert(!plan("kg_owl_horst").contains("CartesianProduct"))
  }

  test("kg_jsonld: map-only extraction — exactly one exchange (the distinct)") {
    val p = plan("kg_jsonld")
    val exchanges = p.split("\n").count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")
        && !l.contains("ReusedExchange"))
    assert(exchanges === 1, s"expected exactly 1 shuffle exchange:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("web_sitemap_gap: the only nested-loop is the 1-row scalar attach; no cartesian") {
    val p = plan("web_sitemap_gap")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-size scalar N attaches as a broadcast 1-row nest; the
    // listed-vs-crawled flag join must be a keyed equi-join
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("kg_describe: subj-keyed equi-joins only — no broadcast of corpus-scale seeds") {
    val p = plan("kg_describe")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kg_ask: each pattern short-circuits under a limit before its boolean agg") {
    val p = plan("kg_ask")
    assert(p.contains("CollectLimit") || p.contains("GlobalLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kg_bgp_union_minus: MINUS is a broadcast anti-join — the ontology side never shuffles the solution stream") {
    val p = plan("kg_bgp_union_minus")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // a sort-merge anti (corpus-sized exchange on c) is the regression
    assert(!p.split("\n").exists(l =>
      l.contains("SortMergeJoin") && l.contains("LeftAnti")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kg_coref: url-keyed windows and equi-joins only — never a per-doc theta join") {
    val p = plan("kg_coref")
    assert(!p.contains("CartesianProduct"), p)
    // a pronoun×mention range join would plan as a nested loop — the
    // merged event-stream window is the contract
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("kg_reify: one distinct exchange, then a map-only 5-way explode — join-free") {
    val p = plan("kg_reify")
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the explode rides the projection
  }

  test("dict_candidates: support agg + BROADCAST anti-join against the term list") {
    val p = plan("dict_candidates")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.split("\n").exists(l =>
      l.contains("SortMergeJoin") && l.contains("LeftAnti")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dict_stop_candidates: the corpus total attaches as a 1-row broadcast, never a shuffle") {
    val p = plan("dict_stop_candidates")
    // the scalar crossJoin plans as a broadcast nested loop over ONE row;
    // a CartesianProduct (both sides partitioned) is the regression
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_rake: windows + aggs all ride doc_id — no cartesian, no nested loop") {
    val p = plan("text_rake")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kg_conductance: community map broadcasts onto the edge list; the " +
       "only nested loop is the 1-row 2m attach") {
    val p = plan("kg_conductance")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 2, p)
  }

  test("dict_spell_variants: FastSS candidates join on deletion keys — " +
       "equi-joins only, dictionary anti-join broadcasts, levenshtein " +
       "verifies AFTER candidate generation") {
    val p = plan("dict_spell_variants")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("levenshtein"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("text_rm3: second-pass scoring ends in TakeOrderedAndProject; " +
       "no cartesian (term/total attaches are bounded broadcasts)") {
    val p = plan("text_rm3")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_heaps: no cartesian; the OLS fit and cumulative windows ride " +
       "the bucket frame, never a corpus key") {
    val p = plan("text_heaps")
    assert(!p.contains("CartesianProduct"), p)
    // the only Window sort key is `bucket` (the ≤10-row frame)
    assert(!p.contains("windowspecdefinition(doc_id"), p)
  }

  test("web_simrank + web_coreness: iterative rounds leave no cartesian " +
       "or nested loop in the final plan") {
    val ps = plan("web_simrank")
    assert(!ps.contains("CartesianProduct"), ps)
    assert(!ps.contains("BroadcastNestedLoopJoin"), ps)
    val pc = plan("web_coreness")
    assert(!pc.contains("CartesianProduct"), pc)
    assert(!pc.contains("BroadcastNestedLoopJoin"), pc)
  }

  test("sketch_ams: one corpus-side explode + bounded hash aggs — the " +
       "only join is the 1-row exact/estimate assembly") {
    val p = plan("sketch_ams")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sketch_hll_overlap: register joins are equi; the only pair " +
       "enumeration rides the tiny group list") {
    val p = plan("sketch_hll_overlap")
    // groups² pair frame may plan as one bounded cartesian of two
    // ≤|groups|-row lists — anything on data-scale rows is the regression
    assert(p.split("\n").count(_.contains("CartesianProduct")) <= 1, p)
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 2, p)
  }

  test("web_rich_club: thresholds attach as broadcast nested loops over " +
       "a literal handful of rows — no cartesian, no per-k jobs") {
    val p = plan("web_rich_club")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kg_rank_corr + web_landmark_dist: keyed joins only — no " +
       "cartesian anywhere") {
    val pr = plan("kg_rank_corr")
    assert(!pr.contains("CartesianProduct"), pr)
    val pl = plan("web_landmark_dist")
    assert(!pl.contains("CartesianProduct"), pl)
    assert(!pl.contains("BroadcastNestedLoopJoin"), pl)
  }
}
