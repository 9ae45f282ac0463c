package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the MATERIALIZED knowledge graph — the downstream
  * consumers of the triple table (kg_construct tier: once triples exist, the
  * first questions are "which concepts co-occur", "which are hubs", "what
  * are the connected clusters").
  *
  * Scale shapes:
  *  - [[cooccurrence]]: ONE shuffle (groupBy url) + map-side pair explosion
  *    from each doc's sorted concept set — the dedup_jaccard posting
  *    pattern, never a two-sided self-join of the annotation stream. The
  *    per-doc pair blow-up is C(concepts-per-doc, 2), naturally bounded by
  *    document length; `maxPerDoc` guards pathological docs (a crawl page
  *    listing an entire ontology would otherwise emit millions of pairs).
  *  - [[connectedComponents]]: alternating large-star/small-star contraction
  *    (Kiveris et al. 2014) — O(log² n) rounds on ANY graph shape, including
  *    the adversarial long-path graphs where min-label propagation needs
  *    O(diameter) rounds. Per-round lineage is truncated via [[Truncator]]:
  *    reliable `checkpoint()` when a checkpoint dir is configured (cluster
  *    fault tolerance), `localCheckpoint` otherwise.
  */
object KgGraph {

  /** Per-doc sorted concept sets with the skew guard applied: docs above
    * `maxPerDoc` concepts are SKIPPED entirely (documented recall trade —
    * C(n,2) pair explosion is quadratic in doc degree). Shared by
    * [[cooccurrence]] and [[conceptSimilarity]] so both the intersection
    * counts AND the per-concept doc counts see the SAME doc universe. */
  private def conceptSets(annotations: DataFrame, maxPerDoc: Int): DataFrame =
    // no distinct() before the groupBy: collect_set IS the per-doc dedup,
    // and a row-level distinct would add a second full exchange of the
    // annotation stream (hash(url, class_iri) does not satisfy hash(url))
    annotations.select(col("url"), col("class_iri"))
      .groupBy("url").agg(sort_array(collect_set(col("class_iri"))).as("cs"))
      .filter(size(col("cs")) <= maxPerDoc)

  /** Generator over all ordered pairs (x < y) of a SORTED array column —
    * the map-side pair explosion shared by the co-occurrence builder and
    * [[adamicAdar]]'s common-neighbor expansion. */
  private def orderedPairs(cs: Column): Column =
    explode(flatten(transform(cs, (x, i) =>
      transform(
        slice(cs, i + lit(2), greatest(size(cs) - i - lit(1), lit(0))),
        y => struct(x.as("src"), y.as("dst"))))))

  private def pairsFromSets(sets: DataFrame): DataFrame =
    sets.filter(size(col("cs")) >= 2)
      .select(orderedPairs(col("cs")).as("p"))
      .select(col("p.src"), col("p.dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_docs"))

  /** Undirected concept co-occurrence edges: (src < dst, n_docs) — concepts
    * annotated in the same document, weighted by document count. */
  def cooccurrence(annotations: DataFrame, maxPerDoc: Int = 1000): DataFrame =
    pairsFromSets(conceptSets(annotations, maxPerDoc))

  /** Apriori-pruned frequent 3-itemsets (Agrawal & Srikant, VLDB 1994 —
    * the market-basket staple) over per-document concept sets: concept
    * triples co-annotated in ≥ `minSupFrac` of the (maxPerDoc-capped) doc
    * universe. [[cooccurrence]] is L2; this is L3 with the Apriori prune
    * as the SCALE argument: candidates come from joining frequent PAIRS
    * ((a,b) ⋈ (b,c) with the (a,c) closure semi-join — every subset of a
    * frequent set is frequent, so nothing outside this join can qualify),
    * an ontology²-bounded join that never touches the corpus; only then
    * does verification touch the item stream, via three url-keyed joins
    * against the BROADCAST candidate set and one (a,b,c) count.
    *
    * Support is a FRACTION (the cross-SF-stable form); the integer floor
    * `ceil(frac · |docs|)` comes from a 1-row driver count (the
    * PPR-seed-scale action). Exact integer counts throughout. */
  def frequentTriples(annotations: DataFrame, minSupFrac: Double = 0.2,
                      maxPerDoc: Int = 1000): DataFrame = {
    require(minSupFrac > 0.0 && minSupFrac <= 1.0,
      s"minSupFrac=$minSupFrac must be in (0, 1]")
    val sets = pin(conceptSets(annotations, maxPerDoc))
    val minSup = math.ceil(minSupFrac * sets.count()).toLong
    val items = pin(sets.select(col("url"), explode(col("cs")).as("c")))
    val fp = pin(pairsFromSets(sets).filter(col("n_docs") >= minSup)
      .select(col("src"), col("dst")))
    val cand = fp.select(col("src").as("a"), col("dst").as("b"))
      .join(fp.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(fp.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    items.select(col("url"), col("c").as("a"))
      .join(broadcast(cand), "a")
      .join(items.select(col("url"), col("c").as("b")), Seq("url", "b"))
      .join(items.select(col("url"), col("c").as("c")), Seq("url", "c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minSup)
      .select(col("a"), col("b"), col("c"), col("n_docs"))
  }

  /** Association rules from the frequent 3-itemsets (the
    * [[frequentTriples]] follow-on every market-basket deployment ships):
    * for each frequent triple {a,b,c}, the three pair→item rules with
    * `confidence = sup(abc)/sup(pair)` and
    * `lift = confidence / (sup(item)/n)` — lift > 1 means the antecedent
    * pair genuinely raises the consequent's odds (the co-occurrence
    * signal [[pmi]] gives pairs, one level up). Kept above `minConf`.
    *
    * Float contract: confidence and lift are TWO pinned divisions over
    * exact integer supports (`((n3/n2)·n)/n1` order mirrored by the
    * oracle), ROUND(6); the minConf filter compares the raw double
    * identically in both engines. Scale shape: [[frequentTriples]]' chain
    * plus three joins of the triple table (itemsets-scale) against the
    * pair/item support tables — nothing new touches the corpus. */
  def associationRules(annotations: DataFrame, minSupFrac: Double = 0.2,
                       minConf: Double = 0.8,
                       maxPerDoc: Int = 1000): DataFrame = {
    require(minSupFrac > 0.0 && minSupFrac <= 1.0,
      s"minSupFrac=$minSupFrac must be in (0, 1]")
    require(minConf >= 0.0 && minConf <= 1.0,
      s"minConf=$minConf must be in [0, 1]")
    val sets = pin(conceptSets(annotations, maxPerDoc))
    val n = sets.count()
    val minSup = math.ceil(minSupFrac * n).toLong
    val items = pin(sets.select(col("url"), explode(col("cs")).as("c")))
    val sup1 = pin(items.groupBy("c").agg(count(lit(1)).as("n1")))
    val sup2 = pin(pairsFromSets(sets)
      .select(col("src"), col("dst"), col("n_docs").as("n2")))
    val fp = sup2.filter(col("n2") >= minSup).select("src", "dst")
    val cand = fp.select(col("src").as("a"), col("dst").as("b"))
      .join(fp.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(fp.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    val t3 = items.select(col("url"), col("c").as("a"))
      .join(broadcast(cand), "a")
      .join(items.select(col("url"), col("c").as("b")), Seq("url", "b"))
      .join(items.select(col("url"), col("c").as("c")), Seq("url", "c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("n3"))
      .filter(col("n3") >= minSup)
    def rule(p1: String, p2: String, cons: String) = t3
      .join(sup2.select(col("src").as(p1), col("dst").as(p2), col("n2")),
        Seq(p1, p2))
      .join(sup1.select(col("c").as(cons), col("n1")), cons)
      .select(col(p1).as("ante1"), col(p2).as("ante2"),
        col(cons).as("consequent"), col("n3").as("n_docs"),
        (col("n3").cast("double") / col("n2")).as("confr"),
        col("n1"))
    rule("a", "b", "c")
      .unionByName(rule("a", "c", "b"))
      .unionByName(rule("b", "c", "a"))
      .filter(col("confr") >= minConf)
      .select(col("ante1"), col("ante2"), col("consequent"), col("n_docs"),
        round(col("confr"), 6).as("confidence"),
        round(col("confr") * lit(n.toDouble) / col("n1"), 6).as("lift"))
  }

  /** Jaccard-normalized co-occurrence: edge weight = |docs(a) ∩ docs(b)| /
    * |docs(a) ∪ docs(b)| — strips raw-frequency bias from the edge weights
    * (two rare concepts always together outrank two frequent ones that
    * merely both appear everywhere). Intersections come FROM the
    * co-occurrence edges (never all-pairs); per-concept doc counts are a
    * tiny broadcast side. Doc counts are computed over the SAME
    * maxPerDoc-capped doc universe the intersections see (counting skipped
    * hub docs in n_a/n_b but not n_docs would systematically understate
    * Jaccard for concepts appearing in them); single-concept docs still
    * count — they are legitimately in docs(a) and shrink the ratio. */
  def conceptSimilarity(annotations: DataFrame, maxPerDoc: Int = 1000): DataFrame =
    coocWithCounts(conceptSets(annotations, maxPerDoc))
      .select(col("src"), col("dst"),
        round(col("n_docs") / (col("n_a") + col("n_b") - col("n_docs")).cast("double"), 6)
          .as("jaccard"))

  /** Shared scaffolding for the normalized edge weights: co-occurrence
    * edges joined with per-concept doc counts (n_a, n_b) over the given
    * (already capped) per-doc concept sets. Callers that consume `sets`
    * more than once (pmi's extra count job) [[pin]] it first. */
  private def coocWithCounts(sets: DataFrame): DataFrame = {
    val cooc = pairsFromSets(sets)
    val docCounts = sets.select(explode(col("cs")).as("class_iri"))
      .groupBy("class_iri").agg(count(lit(1)).as("n"))
    cooc
      .join(broadcast(docCounts.select(col("class_iri").as("src"), col("n").as("n_a"))), "src")
      .join(broadcast(docCounts.select(col("class_iri").as("dst"), col("n").as("n_b"))), "dst")
  }

  /** PMI-weighted co-occurrence: edge weight = ln(n_ab · N / (n_a · n_b))
    * — pointwise mutual information over the document space (Church &
    * Hanks 1990), the standard association strength for KG edge curation:
    * positive = the concepts co-occur more than chance, ≈0 = independent,
    * negative = they avoid each other. N and all counts come from the SAME
    * maxPerDoc-capped doc universe as the intersections (the
    * conceptSimilarity counting contract). Same shuffle shape as
    * [[conceptSimilarity]]: one groupBy + map-side pairs + two broadcast
    * doc-count joins. */
  def pmi(annotations: DataFrame, maxPerDoc: Int = 1000): DataFrame = {
    // pinned: the N count is a separate job from the edge computation, and
    // exchange reuse cannot span jobs — without the pin the full annotation
    // stream would aggregate three times
    val sets = pin(conceptSets(annotations, maxPerDoc))
    val nDocs = sets.count().toDouble
    coocWithCounts(sets)
      .select(col("src"), col("dst"), col("n_docs"),
        round(log(col("n_docs").cast("double") * lit(nDocs)
          / (col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** DETERMINISTIC random-walk corpus generation (the DeepWalk / node2vec
    * data-prep step — Perozzi et al. 2014: walks feed skip-gram embedding
    * training): one walk of `length` steps from every node with out-edges,
    * where step t at node v moves to the neighbor at index
    * `hash60(start|t|v) % deg(v)` in v's SORTED adjacency list — a pure
    * function of the graph (no rng state, re-runnable anywhere, the same
    * portable hash the samplers use). Walks stop early at dangling nodes
    * (the inner join simply yields no next row). Output long-form:
    * `(start, step, node)`, step 0 = the start itself.
    *
    * Scale shape: adjacency lists are one `collect_set` row per node
    * (`maxDegree` caps hub rows — the maxPerDoc trade: a capped hub's
    * walks are the ones that matter least for embedding quality, and one
    * celebrity node must not create a GB-sized row); each step is ONE
    * equi-join of the frontier against the pinned adjacency table — L
    * steps = L joins, no shuffle grows with L, frontier stays ≤ |nodes|
    * rows. */
  def randomWalks(edges: DataFrame, length: Int = 4,
                  maxDegree: Int = 10000): DataFrame = {
    require(length >= 1, s"walk length must be >= 1, got $length")
    val adj = pin(edges.select(col("src"), col("dst"))
      .groupBy("src").agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      .filter(size(col("nbrs")) <= maxDegree))
    var frontier = adj.select(col("src").as("start"), lit(0).as("step"),
      col("src").as("node"))
    var out = frontier
    val trunc = truncator()
    for (t <- 1 to length) {
      // truncate each frontier (the oracle's MATERIALIZED-CTE twin): the
      // union would otherwise embed w_1..w_{t-1} in every branch — O(L²)
      // plan growth and per-branch recomputation at DeepWalk lengths
      frontier = trunc(frontier
        .join(adj, frontier("node") === adj("src"))
        .select(col("start"), lit(t).as("step"),
          element_at(col("nbrs"),
            (pmod(graft.ops.Sketch.hash60(concat_ws("|",
              col("start"), lit(t), col("node"))), size(col("nbrs")))
              + 1).cast("int")).as("node")), t)
      out = out.unionAll(frontier)
    }
    out
  }

  /** node2vec scaled edge weights for (p = 4, q = 1/4) — the outward/DFS
    * setting, as exact integers (×4): returning to the previous node costs
    * 1, staying in its neighborhood 4, leaving it 16. Single source with
    * the oracle SQL's CASE. */
  val N2vWReturn = 1L
  val N2vWBase = 4L
  val N2vWOut = 16L

  /** DETERMINISTIC node2vec walk corpus (Grover & Leskovec 2016) — the
    * second-order biased sibling of [[randomWalks]]: step 1 is uniform
    * (identical rule to DeepWalk — there is no previous node yet); from
    * step 2 each candidate x ∈ N(v) at node v with previous node u weighs
    * [[N2vWReturn]] if x = u, [[N2vWBase]] if x ∈ N(u), [[N2vWOut]]
    * otherwise, and the walk takes the candidate whose cumulative-weight
    * interval contains `hash60(start|t|u|v) mod Σw` — true
    * weight-proportional sampling under a uniform draw, but a pure
    * function of the graph (re-runnable anywhere, no rng state). All
    * weight arithmetic is exact BIGINT; the draw is the same portable md5
    * hash every sampler uses.
    *
    * Scale shape: [[randomWalks]]' shape plus ONE extra adjacency join per
    * step (the previous node's neighbor list, for the distance test) — L
    * steps = 2L node-keyed equi-joins, frontier ≤ |nodes| rows throughout,
    * per-round lineage truncated. The weight/pick pass is per-row array
    * arithmetic over ≤ maxDegree candidates (higher-order fold — bounded,
    * off the bench path; a row never exceeds the capped hub size). Output
    * long-form `(start, step, node)`, step 0 = the start itself. */
  def node2vecWalks(edges: DataFrame, length: Int = 4,
                    maxDegree: Int = 10000): DataFrame = {
    require(length >= 1, s"walk length must be >= 1, got $length")
    val adj = pin(edges.select(col("src"), col("dst"))
      .groupBy("src").agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      .filter(size(col("nbrs")) <= maxDegree))
    val w0 = adj.select(col("src").as("start"), col("src").as("node"))
    var out = w0.select(col("start"), lit(0).as("step"), col("node"))
    var frontier = w0.join(adj, w0("node") === adj("src"))
      .select(col("start"), col("node").as("prev"),
        element_at(col("nbrs"),
          (pmod(graft.ops.Sketch.hash60(concat_ws("|",
            col("start"), lit(1), col("node"))), size(col("nbrs")))
            + 1).cast("int")).as("node"))
    out = out.unionAll(frontier.select(col("start"), lit(1).as("step"),
      col("node")))
    val trunc = truncator()
    val padj = adj.select(col("src").as("psrc"), col("nbrs").as("pnbrs"))
    for (t <- 2 to length) {
      frontier = trunc(frontier
        .join(adj, frontier("node") === adj("src"))
        .join(padj, frontier("prev") === col("psrc"))
        .withColumn("wts", expr(
          s"""transform(nbrs, x -> CAST(
                CASE WHEN x = prev THEN $N2vWReturn
                     WHEN array_contains(pnbrs, x) THEN $N2vWBase
                     ELSE $N2vWOut END AS BIGINT))"""))
        .withColumn("draw", pmod(
          graft.ops.Sketch.hash60(concat_ws("|",
            col("start"), lit(t), col("prev"), col("node"))),
          expr("aggregate(wts, CAST(0 AS BIGINT), (a, w) -> a + w)")))
        .select(col("start"), col("node").as("prev"),
          element_at(col("nbrs"), expr(
            """aggregate(wts,
                 named_struct('cum', CAST(0 AS BIGINT), 'pick', -1, 'i', 0),
                 (acc, w) -> named_struct(
                   'cum', acc.cum + w,
                   'pick', IF(acc.pick = -1 AND acc.cum + w > draw,
                              acc.i, acc.pick),
                   'i', acc.i + 1),
                 acc -> acc.pick) + 1""")).as("node")),
        t)
      out = out.unionAll(frontier.select(col("start"), lit(t).as("step"),
        col("node")))
    }
    out
  }

  /** Milne–Witten semantic relatedness (Milne & Witten 2008, "An effective,
    * low-cost measure of semantic relatedness") over the annotation doc
    * space — the standard wikification / entity-linking relatedness, the
    * normalized-Google-distance form: for co-occurring concepts a, b with
    * doc sets A, B over an N-doc universe,
    * `mw = (ln max(|A|,|B|) − ln |A∩B|) / (ln N − ln min(|A|,|B|))`
    * — 0 = identical doc sets, larger = less related (a DISTANCE, unlike
    * [[pmi]]'s symmetric association). Complements pmi for entity linking:
    * MW normalizes by set sizes, so a rare pair and a frequent pair with
    * the same overlap RATIO score alike where pmi favors the rare one.
    *
    * Same scale shape and capped-universe counting contract as [[pmi]]
    * (one groupBy + map-side pairs + two broadcast doc-count joins; N from
    * the same capped universe). Pairs where min(|A|,|B|) = N (a concept in
    * EVERY doc — zero denominator) are dropped, documented: relatedness to
    * an omnipresent concept is undefined. */
  def milneWitten(annotations: DataFrame, maxPerDoc: Int = 1000): DataFrame = {
    val sets = pin(conceptSets(annotations, maxPerDoc))
    val nDocs = sets.count().toDouble
    coocWithCounts(sets)
      .filter(least(col("n_a"), col("n_b")).cast("double") < lit(nDocs))
      .select(col("src"), col("dst"), col("n_docs"), col("n_a"), col("n_b"),
        round((log(greatest(col("n_a"), col("n_b")).cast("double"))
            - log(col("n_docs").cast("double")))
          / (log(lit(nDocs)) - log(least(col("n_a"), col("n_b")).cast("double"))), 6)
          .as("mw_distance"))
  }

  /** Adamic–Adar link prediction over the co-occurrence graph (Adamic &
    * Adar 2003) — the standard KG-completion candidate scorer: for every
    * node pair (x < y) NOT already connected, score = Σ_z 1/ln(deg(z)) over
    * their common neighbors z (rare shared neighbors say more than hubs).
    *
    * Scale shape: one symmetrize + groupBy collects each node's SORTED
    * neighbor set, whose SIZE is deg(z) — so the per-neighbor weight is
    * local to the row and needs NO degree join; candidate pairs come from
    * the same map-side [[orderedPairs]] explosion as co-occurrence (never a
    * two-sided self-join of the edge list), then one sum aggregation and
    * one anti-join against the existing edges. The pair blow-up is
    * C(deg, 2): `maxDegree` skips hub neighborhoods above it (documented
    * recall trade, like `maxPerDoc` — a hub's contribution is ~1/ln(huge)
    * ≈ 0 anyway, and at web scale the quadratic explosion of one celebrity
    * node would dominate the job). Input: one row per undirected edge
    * (src < dst), as [[cooccurrence]] emits; the edge set is [[pin]]ned
    * here (it is consumed three times — both `und` arms + the anti-join). */
  def adamicAdar(cooccur: DataFrame, maxDegree: Int = 10000): DataFrame = {
    val edges = pin(cooccur.select(col("src"), col("dst")))
    val und = edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val nbrs = und.groupBy(col("src").as("z"))
      .agg(sort_array(collect_set(col("dst"))).as("cs"))
      .filter(size(col("cs")).between(2, maxDegree))
    nbrs.select((lit(1.0) / log(size(col("cs")).cast("double"))).as("w"),
        orderedPairs(col("cs")).as("p"))
      .select(col("p.src"), col("p.dst"), col("w"))
      .groupBy("src", "dst").agg(round(sum(col("w")), 6).as("aa"))
      .join(edges, Seq("src", "dst"), "left_anti")
  }

  /** Label-propagation community detection (Raghavan et al. 2007) over the
    * co-occurrence graph, made fully deterministic for the oracle contract:
    * SYNCHRONOUS rounds (every node updates from the previous round's
    * labels), a FIXED iteration count, and an exact arg-min tie-break — the
    * new label is the neighbor label with the highest count, smallest label
    * string on ties, computed as `min(struct(-count, label))` so it is one
    * hash AGGREGATION (map-side partials on hot nodes), not a window.
    *
    * Scale shape per round: one join (labels are (node, label) — same
    * cardinality as the node set) + two aggregations, all keyed on node
    * ids; lineage truncated per round via [[Truncator]]. Fixed `iters`
    * (default 4) rather than convergence detection: synchronous LPA can
    * 2-cycle on bipartite structures, so a fixpoint test may never fire —
    * the fixed-round form sidesteps that AND unrolls exactly into the
    * DuckDB oracle's CTE chain. Input: one row per undirected edge
    * (src < dst), as [[cooccurrence]] emits. */
  def labelPropagation(cooccur: DataFrame, iters: Int = 4): DataFrame = {
    val e = cooccur.select(col("src"), col("dst"))
    val und = pin(e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val trunc = truncator()
    for (round <- 1 to iters) {
      labels = trunc(
        und.join(labels.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("src").as("node"), col("m.l").as("label")),
        round)
    }
    labels.select(col("node").as("class_iri"), col("label").as("community"))
  }

  /** Weighted Newman–Girvan modularity of a community partition (Newman
    * 2004): per community c, `Q_c = e_c/m − (S_c/2m)²` where `m` = total
    * edge weight, `e_c` = intra-community edge weight and `S_c` = summed
    * weighted degree of c's members; the partition's modularity is ΣQ_c.
    * The release-QA metric for [[labelPropagation]] output — a partition
    * whose Q collapses between KG releases signals the community structure
    * (not just the labels) changed.
    *
    * Scale shape: the community map is node-table-sized (concept
    * vocabulary, not corpus) → BROADCAST onto the edge list twice; then two
    * short-key aggregations (per-node degree, per-community rollup) and a
    * 1-row total-weight scalar attached in-plan via crossJoin (the dangling-
    * mass pattern — no driver action). Both Q terms are exact-integer
    * ratios computed in one division order mirrored by the oracle, rounded
    * 6dp. Input: canonical (src < dst, n_docs) edges + (class_iri,
    * community) labels over the same node set. */
  def modularity(cooccur: DataFrame, communities: DataFrame): DataFrame = {
    val edges = pin(cooccur.select(col("src"), col("dst"),
      col("n_docs").cast("long").as("w")))
    val comm = communities.select(col("class_iri"), col("community"))
    val deg = edges.select(col("src").as("class_iri"), col("w"))
      .unionAll(edges.select(col("dst").as("class_iri"), col("w")))
      .groupBy("class_iri").agg(sum(col("w")).as("k"))
    val total = edges.agg(sum(col("w")).cast("double").as("m"))
    val commDeg = deg.join(broadcast(comm), "class_iri")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("k")).as("degree_w"))
    val intra = edges
      .join(broadcast(comm.select(col("class_iri").as("src"),
        col("community").as("ca"))), "src")
      .join(broadcast(comm.select(col("class_iri").as("dst"),
        col("community").as("cb"))), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(sum(col("w")).as("internal_w"))
    commDeg.join(intra, Seq("community"), "left")
      .crossJoin(total)
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_w"), lit(0L)).as("internal_w"),
        col("degree_w"),
        round(coalesce(col("internal_w"), lit(0L)) / col("m")
          - pow(col("degree_w") / (lit(2.0) * col("m")), lit(2.0)), 6)
          .as("q_contrib"))
  }

  /** Per-community conductance φ(C) = cut(C) / min(vol(C), 2m − vol(C))
    * (Kannan, Vempala & Vetta 2004) — the cut-quality complement to
    * [[modularity]]'s density view: `cut_w` = summed weight of edges with
    * exactly one endpoint in C, `vol_w` = summed weighted degree of C's
    * members, 2m = total volume. Low φ = a well-separated community; a
    * release whose communities' conductance drifts up is fragmenting. A
    * community covering the WHOLE graph has min(vol, 2m − vol) = 0 → φ is
    * NULL (conductance of the trivial cut is undefined), mirrored by the
    * oracle's CASE.
    *
    * Determinism/exactness: cut/vol/2m are exact BIGINT edge-weight sums;
    * φ is ONE pinned division over them, ROUND(6) — no float accumulation.
    *
    * Scale shape: identical to [[modularity]] — the node-table-sized
    * community map BROADCASTs onto the edge list once (both endpoints in
    * one pass), then one short-key per-community aggregation for cut+vol
    * together and a 1-row total attached in-plan via crossJoin (the
    * dangling-mass pattern — no driver action). Input: canonical
    * (src < dst, n_docs) edges + (class_iri, community) labels. */
  def conductance(cooccur: DataFrame, communities: DataFrame): DataFrame = {
    val edges = pin(cooccur.select(col("src"), col("dst"),
      col("n_docs").cast("long").as("w")))
    val comm = communities.select(col("class_iri"), col("community"))
    // each edge lands once per ENDPOINT: to src's community it contributes
    // w to vol always and w to cut iff the communities differ — symmetric
    // for dst — so one union + one agg yields cut and vol together
    val tagged = edges
      .join(broadcast(comm.select(col("class_iri").as("src"),
        col("community").as("ca"))), "src")
      .join(broadcast(comm.select(col("class_iri").as("dst"),
        col("community").as("cb"))), "dst")
    val perEnd = tagged.select(col("ca").as("community"), col("w"),
        (col("ca") =!= col("cb")).as("crossing"))
      .unionAll(tagged.select(col("cb").as("community"), col("w"),
        (col("ca") =!= col("cb")).as("crossing")))
    val members = comm.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val total = edges.agg((sum(col("w")) * lit(2L)).as("vol2m"))
    perEnd.groupBy("community")
      .agg(sum(when(col("crossing"), col("w")).otherwise(lit(0L))).as("cut_w"),
        sum(col("w")).as("vol_w"))
      .join(broadcast(members), "community")
      .crossJoin(total)
      .select(col("community"), col("n_nodes"), col("cut_w"), col("vol_w"),
        when(least(col("vol_w"), col("vol2m") - col("vol_w")) === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("cut_w").cast("double") /
            least(col("vol_w"), col("vol2m") - col("vol_w")), 6))
          .as("phi"))
  }

  /** The singleton partition (every node its own community) — Louvain's
    * canonical starting point; [[louvainMove]] from here IS phase-1 round
    * 1, guaranteed to surface positive-gain merges on any graph with
    * community structure (where a converged-partition refinement sweep may
    * legitimately move nothing). */
  def singletonPartition(cooccur: DataFrame): DataFrame =
    cooccur.select(col("src").as("class_iri"))
      .unionAll(cooccur.select(col("dst").as("class_iri")))
      .distinct().withColumn("community", col("class_iri"))

  /** One synchronous Louvain local-move sweep (Blondel et al. 2008, phase
    * 1) refining an input partition: every node simultaneously evaluates
    * moving into each NEIGHBOR community (plus staying), choosing the one
    * maximizing the modularity gain after removal from its own community —
    * `ΔQ(C) ∝ gain2(C) = 2m·k_{i,in}(C) − Σtot′(C)·k_i`, with Σtot′
    * excluding i's own degree when C is its current community. The standard
    * refinement pass on top of [[labelPropagation]]'s partition (LPA
    * optimizes nothing; this sweep moves every node that IMPROVES Newman
    * modularity, and [[modularity]] measures the result).
    *
    * Determinism/exactness: gain2 is pure BIGINT arithmetic on edge-weight
    * sums (weights are doc counts), so the argmax is exact — no float
    * modularity deltas; ties prefer staying, then the smallest community
    * label, via one `min(struct(-gain2, own_pref, community))` hash
    * aggregation (never a window). The reported `dq` (true ΔQ of the move,
    * `2·(gain2_new − gain2_own)/(2m)²`) is the only float: ONE pinned
    * division, ROUND(6). At weighted-degree sums beyond ~3·10^9 the BIGINT
    * products would need DECIMAL(38,0) — same plan shape, documented trade.
    *
    * Scale shape: every join/agg is keyed on node or community ids over
    * the ontology²-bounded co-occurrence edge list — candidate generation
    * is ONE edge-list join to the (node-table-sized) community map + one
    * (node, community) aggregation; 2m attaches as a broadcast 1-row
    * scalar (the dangling-mass pattern). No per-node collect, no window,
    * no iteration — a full Louvain run is this sweep iterated with
    * [[Truncator]] lineage control, each round the same shape. */
  def louvainMove(cooccur: DataFrame, communities: DataFrame): DataFrame = {
    val edges = pin(cooccur.select(col("src"), col("dst"),
      col("n_docs").cast("long").as("w")))
    val und = edges.select(col("src").as("node"), col("dst").as("nbr"), col("w"))
      .unionAll(edges.select(col("dst").as("node"), col("src").as("nbr"), col("w")))
    val deg = und.groupBy("node").agg(sum(col("w")).as("k"))
    val comm = communities.select(col("class_iri").as("node"), col("community"))
    val sigma = deg.join(comm, "node").groupBy("community")
      .agg(sum(col("k")).as("sigma"))
    val m2 = und.agg(sum(col("w")).as("m2")) // = 2m (both edge directions)
    val kin = und.join(comm.withColumnRenamed("node", "nbr"), "nbr")
      .groupBy(col("node"), col("community")).agg(sum(col("w")).as("kin"))
    // the own-community candidate must exist even when i has no neighbor
    // in it (kin = 0) — union a zero row, max() keeps the real kin if any
    val cand = kin
      .unionByName(comm.select(col("node"), col("community"), lit(0L).as("kin")))
      .groupBy("node", "community").agg(max(col("kin")).as("kin"))
    val scored = cand
      .join(comm.withColumnRenamed("community", "own"), "node")
      .join(deg, "node")
      .join(sigma, "community")
      .crossJoin(m2)
      .select(col("node"), col("community"), col("own"), col("m2"),
        (col("m2") * col("kin") -
          (col("sigma") - when(col("community") === col("own"), col("k"))
            .otherwise(lit(0L))) * col("k")).as("gain2"))
    scored.groupBy("node").agg(
        min(struct((-col("gain2")).as("ng"),
          when(col("community") === col("own"), lit(0)).otherwise(lit(1))
            .as("pref"),
          col("community").as("c"))).as("b"),
        max(when(col("community") === col("own"), col("gain2")))
          .as("own_gain2"),
        max(col("own")).as("own"),
        max(col("m2")).as("m2"))
      .select(col("node").as("class_iri"), col("b.c").as("community"),
        (col("b.c") =!= col("own")).as("moved"),
        (-col("b.ng") - col("own_gain2")).as("gain2"),
        round(lit(2.0) * (-col("b.ng") - col("own_gain2")) /
          (col("m2").cast("double") * col("m2").cast("double")), 6).as("dq"))
  }

  /** Per-concept degree + weighted degree over the co-occurrence graph. */
  def degrees(cooccur: DataFrame): DataFrame =
    cooccur.select(col("src").as("class_iri"), col("n_docs"))
      .unionAll(cooccur.select(col("dst").as("class_iri"), col("n_docs")))
      .groupBy("class_iri")
      .agg(count(lit(1)).as("degree"), sum(col("n_docs")).as("weight"))

  /** Per-node triangle counts over the (src < dst) co-occurrence edge set —
    * the local clustering signal (concepts whose neighbors also co-occur).
    * Canonical-order edge join: for each wedge a<b, a<c (b<c) test edge
    * (b, c) with one join — every triangle a<b<c is found exactly once,
    * then credited to all three corners. Two shuffles (wedge join + final
    * count); wedge blow-up is Σ C(deg, 2), the standard bound — the
    * `maxPerDoc` cap upstream already tames degree skew from hot concepts. */
  def triangles(cooccur: DataFrame): DataFrame = {
    val e = pin(cooccur.select(col("src"), col("dst")))
    val wedges = e.alias("e1").join(e.alias("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tris = wedges.join(e,
      wedges("b") === e("src") && wedges("c") === e("dst"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("class_iri"))
      .groupBy("class_iri").agg(count(lit(1)).as("n_triangles"))
  }

  /** Component-size distribution over a (class_iri, component) labeling —
    * the graph-release QA rollup next to [[modularity]]: the judge of a KG
    * build is often "did the giant component swallow everything?" (an
    * over-merged release) or "did it shatter?" (a broken edge source), and
    * both read directly off this histogram plus `node_fraction`.
    *
    * Scale shape: two short-key hash aggregations (component → size,
    * size → count) — the second's key space is at most O(√edges) distinct
    * sizes — and the 1-row node total attached in-plan via crossJoin. No
    * driver action, nothing wider than the label table ever shuffles. */
  def componentSizes(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("size"))
    val total = sizes.agg(sum(col("size")).cast("double").as("n_nodes"))
    sizes.groupBy("size").agg(count(lit(1)).as("n_components"))
      .crossJoin(total)
      .select(col("size"), col("n_components"),
        round(col("size") * col("n_components") / col("n_nodes"), 6)
          .as("node_fraction"))
  }

  /** Per-node local clustering coefficient over the canonical (src < dst)
    * edge set: `cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`, 0 when deg < 2 —
    * [[triangles]] and [[degrees]] composed into the standard
    * Watts–Strogatz local density signal (how club-like each concept's
    * neighborhood is; hubs with cc ≈ 0 are the tag-page/stop-concept
    * smell in a web-built KG).
    *
    * Scale shape: inherits the wedge-join bound from [[triangles]] (the
    * upstream `maxPerDoc` cap tames degree skew); the final left join is
    * degree-table-sized on both sides, keyed by concept. Division order
    * (2·tri first, then the integer deg·(deg−1) denominator) is mirrored
    * by the oracle, 6dp. */
  def clusteringCoefficient(cooccur: DataFrame): DataFrame = {
    // pin the edge set once — degrees and triangles both consume it, and
    // without the pin each leg re-runs the corpus-side co-occurrence agg
    val edges = pin(cooccur.select(col("src"), col("dst"), col("n_docs")))
    val deg = degrees(edges).select(col("class_iri"), col("degree"))
    val tri = triangles(edges)
    deg.join(tri, Seq("class_iri"), "left")
      .select(col("class_iri"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1L))), 6))
          .otherwise(lit(0.0)).as("local_cc"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge set, each edge contributing
    * both orientations so the marginals coincide (Sx = Sy, Sxx = Syy) and
    * `r = (Sxy/n − (Sx/n)²) / (Sxx/n − (Sx/n)²)`. Positive r = hubs link
    * hubs (social shape), negative = hubs link leaves (web/biology shape) —
    * a one-number release-over-release drift alarm for the KG topology.
    *
    * Scale shape: the degree table is concept-vocabulary-sized → BROADCAST
    * onto the edge list twice; all moments accumulate as EXACT integer
    * sums in one hash aggregate (map-side partials), so the single final
    * row is deterministic under any partitioning; double arithmetic
    * happens once, on the driver-visible 1-row result, in the oracle's
    * division order. Degenerate regular graphs (zero variance) return 0. */
  def assortativity(cooccur: DataFrame): DataFrame = {
    val e = pin(cooccur.select(col("src"), col("dst")))
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("k"))
    val orient = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val joined = orient
      .join(broadcast(deg.select(col("node").as("src"), col("k").as("kx"))), "src")
      .join(broadcast(deg.select(col("node").as("dst"), col("k").as("ky"))), "dst")
    val moments = joined.agg(count(lit(1)).as("n"),
      sum(col("kx")).as("sx"),
      sum(col("kx") * col("kx")).as("sxx"),
      sum(col("kx") * col("ky")).as("sxy"))
    val den = col("sxx") / col("n") - pow(col("sx") / col("n"), lit(2.0))
    moments.select(col("n").as("n_endpoints"),
      when(den === lit(0.0), lit(0.0))
        .otherwise(round((col("sxy") / col("n")
          - pow(col("sx") / col("n"), lit(2.0))) / den, 6))
        .as("assortativity"))
  }

  /** Fixed-iteration PageRank over the UNDIRECTED co-occurrence graph
    * (edges traversed both ways, so there are no dangling nodes — every
    * node has out-edges and the damping mass needs no sink correction).
    * Deterministic: a fixed iteration count (not a float-tolerance
    * fixpoint) makes the computation exactly expressible as unrolled SQL
    * CTEs, which is how the DuckDB oracle recomputes it.
    *
    * Exactly the weighted loop with w = 1 (strength = degree; pr·1/deg is
    * bit-identical to pr/deg) — ONE iterate-join-agg loop and one oracle
    * shape to maintain. Input edges are canonicalized (min, max) + distinct
    * first, preserving the undirected-edge-set semantics for inputs that
    * carry both directions. */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame =
    pageRankWeighted(
      edges.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst")).distinct()
        .withColumn("n_docs", lit(1L)),
      iters, damping)

  /** Lineage control for iterative jobs, two regimes:
    *
    * NO checkpoint dir (local runs/tests): `localCheckpoint` every round —
    * cheap, truncates the growing plan, NOT fault-tolerant (blocks live only
    * in executor memory/disk).
    *
    * Checkpoint dir configured (`spark.sparkContext.setCheckpointDir` —
    * point it at the job work dir at cluster scale): the GraphX-style
    * cache + periodic-reliable-checkpoint pattern — every `reliableEvery`-th
    * round writes a reliable `checkpoint()` (durable files), intermediate
    * rounds only `persist()` so their LINEAGE SURVIVES back to the last
    * reliable checkpoint. An executor loss then recomputes lost blocks from
    * ≤ `reliableEvery` rounds of lineage. (A `localCheckpoint` between
    * reliable checkpoints would sever exactly that recovery path — the
    * reason intermediate rounds must persist, not local-checkpoint.) Static
    * per-loop inputs go through [[pin]] for the same reason.
    *
    * Checkpoint FILES are not self-deleting: long-lived cluster drivers
    * should set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (GC-driven cleanup of out-of-scope checkpoints) or purge the dir
    * between jobs; persisted intermediates are LRU-evicted by the block
    * manager. */
  private[graph] def truncator(reliableEvery: Int = 5): Truncator =
    new Truncator(reliableEvery)

  /** One instance PER iterative loop (it tracks that loop's intermediates).
    *
    * Eviction policy (the GraphX Pregel pattern): once a round's output is
    * durably materialized — `localCheckpoint`/`checkpoint` are both eager —
    * every tracked intermediate OLDER than the immediately previous round is
    * unpersisted, so a 50-round job holds at most two rounds of blocks (plus
    * ≤ `reliableEvery`−1 lazily persisted rounds between reliable
    * checkpoints) instead of accumulating all 50 under block-manager LRU.
    * The previous round is deliberately KEPT: convergence-testing callers
    * read round i−1 after truncating round i (`next == e` set equality), and
    * a localCheckpointed frame must never be unpersisted while still
    * readable (its lineage is severed — unpersist would destroy the data,
    * not merely uncache it). Lazily `persist()`ed intermediates between
    * reliable checkpoints are NOT released early: their blocks are the
    * recovery path back to the last durable checkpoint, and they may not
    * have materialized yet in loops with no per-round action. */
  private[graph] final class Truncator(reliableEvery: Int) {
    private val pending = scala.collection.mutable.ListBuffer.empty[DataFrame]
    private def releaseAllButLast(): Unit =
      while (pending.size > 1) pending.remove(0).unpersist(false)
    def apply(df: DataFrame, round: Int): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val out = df.localCheckpoint() // eager
        releaseAllButLast(); pending += out; out
      } else if (round % reliableEvery == 0) {
        val out = df.checkpoint() // eager + durable: prior rounds evictable
        releaseAllButLast(); out  // checkpointed frames need no unpersist
      } else { pending += df.persist(); df }
    }
  }

  /** Static per-loop inputs (edge sets, degree tables, round-0 states):
    * `localCheckpoint` locally; `persist` when a checkpoint dir is
    * configured, so their blocks stay recomputable from the caller's durable
    * input lineage after an executor loss. Shared with [[Closure]]. */
  private[graph] def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint()
    else df.persist()

  /** ANF — approximate neighborhood function N(r) = |{(u,v): dist(u→v) ≤ r}|
    * (Palmer, Gibbons & Faloutsos, KDD 2002; the HyperBall/HyperANF lineage
    * that measured Facebook's four degrees of separation). Per node and
    * trial, a Flajolet–Martin bit sketch of the reachable set: init = the
    * lowest set bit of a 30-bit node hash (P(bit b) = 2^-(b+1)); each round
    * ORs in the out-neighbors' sketches — set union WITHOUT materializing
    * sets, and bitwise OR is commutative/associative/idempotent, so the
    * aggregation is order-free and exactly deterministic at any parallelism
    * (stronger than the round-6 float contracts: no rounding needed until
    * the final estimate). N(r) per node = 2^(mean lowest-zero-bit over
    * trials) / 0.77351 (the FM bias constant), summed.
    *
    * Output: one row per radius `(r, nf)` for r = 0..rounds — the distance
    * distribution whose saturation radius is the graph's effective
    * diameter, the release-QA number a crawl's host graph gets checked
    * against (a bowtie web saturates in ~6-8 rounds; a crawler-trap chain
    * keeps climbing).
    *
    * Scale shape: state is (node, trial) → ONE long — `trials` longs per
    * node total, vs the exact answer's O(n²) pairs; each round is one
    * equi-join (edges × sketches) + one bit_or hash aggregation with
    * map-side partial OR (a hot page's million in-edges collapse per task
    * before the shuffle). Rounds pin + truncate like every iterative op.
    * The per-round estimate is a 1-row aggregate collected eagerly (it IS
    * the output; waiting would read sketches the truncator already
    * released). */
  def anf(edges: DataFrame, rounds: Int = 4, trials: Int = 8): DataFrame = {
    require(rounds >= 1, s"anf needs rounds >= 1, got $rounds")
    require(trials >= 1, s"anf needs trials >= 1, got $trials")
    val spark = edges.sparkSession
    val e = pin(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
    var sk = pin(nodes
      .select(col("node"), explode(sequence(lit(0), lit(trials - 1))).as("t"))
      .withColumn("hh", graft.ops.Sketch.hash60(
        concat(col("node"), lit(":"), col("t").cast("string")))
        .bitwiseAND(lit((1L << 30) - 1)))
      .select(col("node"), col("t"),
        col("hh").bitwiseAND(-col("hh")).as("s")))
    def nfOf(s: DataFrame, r: Int): (Int, Double) = {
      val nf = s
        .select(col("node"),
          (expr("bit_count(s ^ (s + 1))").cast("long") - 1L).as("b"))
        .groupBy("node").agg((sum(col("b")) / lit(trials)).as("mb"))
        .select(round(pow(lit(2.0), col("mb")) / lit(0.77351), 6).as("est"))
        .agg(round(sum(col("est")), 2)).head().getDouble(0)
      (r, nf)
    }
    val out = scala.collection.mutable.ListBuffer(nfOf(sk, 0))
    val trunc = truncator()
    for (r <- 1 to rounds) {
      val contrib = e.join(sk.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("t"), col("s"))
      sk = trunc(sk.unionAll(contrib)
        .groupBy("node", "t").agg(expr("bit_or(s)").as("s")), r)
      out += nfOf(sk, r)
    }
    import spark.implicits._
    out.toSeq.toDF("r", "nf")
  }

  /** Weighted PageRank over the undirected co-occurrence graph: a neighbor's
    * share of a node's rank mass is proportional to the EDGE WEIGHT
    * (`n_docs`) — concepts connected by many shared documents pull more mass
    * than incidental co-occurrences (the standard weighted-PageRank
    * generalization: contribution = pr(a)·w(a,b)/strength(a), strength =
    * Σ_b w(a,b)). Same fixed-iteration determinism + 6dp contract as
    * [[pageRank]]; the oracle unrolls the same weighted iterations.
    * Precondition: one row per undirected edge (src < dst), as
    * [[cooccurrence]] emits. */
  def pageRankWeighted(edges: DataFrame, iters: Int = 10,
                       damping: Double = 0.85): DataFrame = {
    // reverse direction only for proper edges: a self-loop (a,a) — absent
    // from cooccurrence's src<dst output but legal via pageRank's
    // canonicalized delegation — must count ONCE in strength, not twice
    val und = pin(edges.select(col("src").as("a"), col("dst").as("b"),
        col("n_docs").cast("double").as("w"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("a"), col("src").as("b"),
          col("n_docs").cast("double").as("w"))))
    val strength = und.groupBy("a").agg(sum(col("w")).as("s"))
    val withS = pin(und.join(strength, "a")) // (a, b, w, s) reused per iter
    val nodes = pin(und.select(col("a").as("node")).distinct())
    val n = nodes.count()
    // empty edge list ⇒ teleport 1.0/0 = Infinity; an empty ranking is the
    // honest answer (rank over nothing), not a frame full of Infinity
    if (n == 0)
      return nodes.select(col("node").as("class_iri"),
        lit(0.0).as("pagerank")).limit(0)
    var pr = nodes.withColumn("pr", lit(1.0 / n))
    val trunc = truncator()
    // (measured, not kept: truncating every SECOND round — valid here since
    // each round's rank table has exactly one consumer — read +0.5 s on
    // kg_pagerank at sf0.1: the odd round's agg then executes inside the
    // even round's broadcast-build, which serializes worse than the
    // eager per-round materialization it saves)
    for (i <- 1 to iters) {
      pr = trunc(withS.join(pr, withS("a") === pr("node"))
        .select(col("b").as("node"), (col("pr") * col("w") / col("s")).as("contrib"))
        .groupBy("node")
        .agg((lit((1.0 - damping) / n) + lit(damping) * sum(col("contrib"))).as("pr")),
        i)
    }
    pr.select(col("node").as("class_iri"), round(col("pr"), 6).as("pagerank"))
  }

  /** Bounded-horizon Katz centrality (Katz 1953) over the undirected
    * concept graph: `x_k = 1 + α · A·x_{k-1}` with x_0 = 1, i.e. after k
    * rounds each node holds `Σ_{j≤k} α^j · (walks of length j ending
    * here)` — the attenuated-walk-count prestige index that, unlike
    * [[pageRankWeighted]], does NOT normalize by the sender's degree: a
    * hub's endorsement counts fully, which is the behavior citation
    * analysis wants. Fixed α = [[KatzAlpha]], shared verbatim with the
    * oracle; the infinite series needs α < 1/λ_max to converge, and a
    * production deploy estimates λ_max by power iteration first — at a
    * FIXED horizon the truncated sum is finite for any α, so the bounded
    * form is exact as specified, not an approximation contract.
    *
    * Scale shape: identical to one PageRank round — join + short-key agg
    * per iteration over the pinned symmetrized edge list, node-complete
    * via LEFT join, [[Truncator]] lineage policy, 6dp contract. */
  def katz(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"katz needs iters >= 1, got $iters")
    val und = pin(edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("a"), col("src").as("b")))
      .distinct())
    val nodes = pin(und.select(col("a").as("node")).distinct())
    var x = nodes.withColumn("x", lit(1.0))
    val trunc = truncator()
    for (i <- 1 to iters) {
      x = trunc(nodes.join(
        und.join(x, und("b") === x("node"))
          .groupBy(und("a").as("n")).agg(sum(col("x")).as("s")),
        nodes("node") === col("n"), "left")
        .select(col("node"),
          (lit(1.0) + lit(KatzAlpha) * coalesce(col("s"), lit(0.0))).as("x")),
        i)
    }
    x.select(col("node").as("class_iri"), round(col("x"), 6).as("katz"))
  }

  /** Attenuation for [[katz]] — one constant, shared with the SQL oracle. */
  val KatzAlpha: Double = 0.05

  /** DIRECTED weighted PageRank — the web-link-graph form (Page/Brin 1998):
    * rank flows along edge direction, a node's outgoing mass splits in
    * proportion to `n_links` edge weight, and DANGLING nodes (no outgoing
    * edges — crawl frontier leaves, PDFs, …) donate their whole mass
    * uniformly to every node each round, keeping total rank = 1. The
    * undirected [[pageRankWeighted]] never needs this (symmetrized edges
    * give every node an out-side); a real link graph is mostly dangling at
    * the frontier, so the correction is load-bearing here.
    *
    * Scale shape: per round, the dangling sum is a 1-ROW in-plan aggregate
    * (anti-join against the out-weight table, then `sum`) cross-joined back
    * as a broadcast — no driver collect, no per-round action; contributions
    * are one join + one hash aggregation exactly like the undirected loop,
    * with the same [[Truncator]] lineage policy. Node set = src ∪ dst of the
    * edge list. Same fixed-iteration determinism + 6dp contract; the oracle
    * unrolls the same rounds including the per-round dangling scalar. */
  def pageRankDirected(edges: DataFrame, iters: Int = 5,
                       damping: Double = 0.85): DataFrame =
    directedPrCore(edges, None, iters, damping)

  /** PERSONALIZED PageRank (topic-sensitive teleport — Haveliwala 2002;
    * random walk with restart): teleport AND dangling mass return to the
    * SEED set uniformly instead of to every node, so rank concentrates in
    * the seeds' neighborhood — the standard KG entity-relatedness /
    * related-pages measure. pr₀ = the teleport vector itself; per round
    * pr = (1−d)·t + d·(contrib + dm·t), where t is 1/|S| on seeds, 0
    * elsewhere. Uniform t = 1/n recovers [[pageRankDirected]] exactly —
    * ONE loop implementation serves both.
    *
    * Callers pass a SMALL seed table (the query's entity set — collected
    * ids or a tiny frame): its plan is evaluated twice here (count + the
    * node join), so a seed set derived from a corpus-sized lineage should
    * be pinned or collected by the caller first. Seeds outside the
    * edge-derived node set contribute no mass (rank sums below 1); a fully
    * dead seed set fails loudly rather than returning all-zero ranks. */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                           damping: Double = 0.85): DataFrame =
    directedPrCore(edges, Some(seeds), iters, damping)

  /** WARM-START directed PageRank — the incremental graph-maintenance
    * move: after an edge-set update (new crawl batch, link churn), resume
    * the walk from the PREVIOUSLY PUBLISHED ranks instead of the cold
    * teleport vector, so a handful of rounds re-converges where a cold run
    * needs the full budget (Langville & Meyer's restart heuristic; what
    * every production PageRank does between crawls).
    *
    * Contract: `init` is the persisted `(page, pagerank)` output of an
    * earlier run — i.e. the 6dp-ROUNDED published table, which is exactly
    * what a pipeline has on disk. Nodes absent from `init` (appeared with
    * the new edges) start at the uniform teleport 1/n; no renormalization
    * (the dangling correction conserves whatever mass the init carries,
    * and the fixed-point is unaffected by the starting vector). Same scale
    * shape as [[pageRankDirected]] — init rides the node table as one
    * extra left join before round 1. */
  def pageRankWarmStart(edges: DataFrame, init: DataFrame,
                        iters: Int = 2, damping: Double = 0.85): DataFrame =
    directedPrCore(edges, None, iters, damping,
      init = Some(init.select(col("page").as("node"),
        col("pagerank").as("init_pr"))))

  /** Shared directed-PageRank loop: teleport vector `t` rides the pinned
    * node table as a column (uniform 1/n when `seeds` is None); per round
    * pr = (1−d)·t + d·(contrib + dm·t) with the dangling scalar as a 1-row
    * in-plan aggregate. See [[pageRankDirected]] for the scale shape. */
  private def directedPrCore(edges: DataFrame, seeds: Option[DataFrame],
                             iters: Int, damping: Double,
                             init: Option[DataFrame] = None): DataFrame = {
    val e = pin(edges.select(col("src").as("a"), col("dst").as("b"),
      col("n_links").cast("double").as("w")))
    val outw = pin(e.groupBy("a").agg(sum(col("w")).as("s")))
    val ew = pin(e.join(outw, "a")) // (a, b, w, s) reused per iter
    val nodes0 = pin(e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct())
    val nNodes = nodes0.count()
    // empty edge list ⇒ no nodes ⇒ uniform teleport would be 1.0/0 =
    // Infinity; return the empty ranking instead (seeded callers get the
    // same: with zero nodes no seed can be a node)
    if (nNodes == 0)
      return nodes0.select(col("node").as("page"),
        lit(0.0).as("pagerank")).limit(0)
    val nodes = seeds match {
      case None =>
        nodes0.withColumn("t", lit(1.0 / nNodes))
      case Some(sd0) =>
        val sd = sd0.select(col("node")).distinct()
        val nS = sd.count()
        require(nS > 0, "personalized PageRank needs a non-empty seed set")
        val withT = pin(nodes0
          .join(sd.withColumn("t", lit(1.0 / nS)), Seq("node"), "left")
          .na.fill(0.0, Seq("t")))
        // all-dead seed set (e.g. raw URLs against canonicalized nodes)
        // would otherwise return a plausible-looking all-zero ranking
        require(withT.agg(sum(col("t"))).first().getDouble(0) > 0.0,
          "no seed is a node of the graph")
        withT
    }
    // the dangling-node SET is static (outw never changes), so it is
    // flagged ONCE onto the node table and carried through every round's
    // rank rows: the per-round dangling mass becomes a filter + 1-row agg
    // over the just-checkpointed pr instead of the former pr ⋈ outw
    // anti-join (a full rank-table exchange per round at cluster scale);
    // the static node table also leaves the loop — the update reads pr
    // itself (same node set every round), not a nodes ⋈ contrib join
    val flagged = nodes.join(
        outw.select(col("a").as("node"), lit(true).as("has_out")),
        Seq("node"), "left")
      .select(col("node"), col("t"),
        coalesce(col("has_out"), lit(false)).as("has_out"))
    // pinned: round 1 reads pr three times (dangling, contrib, update base)
    var pr = pin(init match {
      case None => flagged.select(col("node"), col("t"), col("has_out"),
        col("t").as("pr"))
      case Some(iv) => // warm start: published ranks, teleport for new nodes
        flagged.join(iv, Seq("node"), "left")
          .select(col("node"), col("t"), col("has_out"),
            coalesce(col("init_pr"), col("t")).as("pr"))
    })
    val trunc = truncator()
    for (i <- 1 to iters) {
      val dangling = pr.filter(!col("has_out"))
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
      val contrib = ew.join(pr.select(col("node"), col("pr")),
          ew("a") === col("node"))
        .select(col("b").as("node"),
          (col("pr") * col("w") / col("s")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("c"))
      pr = trunc(
        pr.select(col("node"), col("t"), col("has_out"))
          .join(contrib, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"), col("t"), col("has_out"),
            (lit(1.0 - damping) * col("t") + lit(damping) *
              (coalesce(col("c"), lit(0.0)) + col("dm") * col("t"))).as("pr")),
        i)
    }
    pr.select(col("node").as("page"), round(col("pr"), 6).as("pagerank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed weighted edge
    * list — the link-graph complement to [[pageRankDirected]]: authorities
    * are pages many good hubs point AT, hubs are pages that point at many
    * good authorities. Per round: auth = Σ_in w·hub then L1-normalize, hub
    * = Σ_out w·auth then L1-normalize (L1 rather than the textbook L2 so
    * the normalizer is a plain SUM — exactly reproducible in the unrolled
    * SQL oracle; the ranking is identical, only the scale factor differs).
    *
    * Scale shape per round: two join+agg passes over the edge list (same
    * cost as one PageRank round ×2) plus two 1-row L1 aggregates broadcast
    * back — no driver action, same [[Truncator]] lineage policy. Fixed
    * iterations, 6dp contract. */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    val e = pin(edges.select(col("src"), col("dst"),
      col("n_links").cast("double").as("w")))
    val nodes = pin(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct())
    val trunc = truncator()
    def step(from: DataFrame, score: String, joinOn: String, out: String,
             i: Int): DataFrame = {
      // truncate BEFORE the normalizer so the join+agg runs once per round
      // (the 1-row L1 sum and the divide both read the materialized raw)
      val raw = trunc(nodes.join(
        e.join(from, e(joinOn) === from("node"))
          .groupBy(e(out).as("n")).agg(sum(col(score) * col("w")).as("x")),
        nodes("node") === col("n"), "left")
        .select(col("node"), coalesce(col("x"), lit(0.0)).as("x")), i)
      val norm = raw.agg(sum(col("x")).as("s"))
      raw.crossJoin(broadcast(norm))
        .select(col("node"), (col("x") / col("s")).as(score))
    }
    var hub = nodes.withColumn("hub", lit(1.0))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      auth = step(hub.select(col("node"), col("hub").as("auth")),
        "auth", "src", "dst", i)
      hub = step(auth.select(col("node"), col("auth").as("hub")),
        "hub", "dst", "src", i)
    }
    // hub and auth are node-complete by construction (each round LEFT-joins
    // from nodes) — joining them directly avoids a third node-sized join
    hub.join(auth, "node")
      .select(col("node").as("page"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("authority"))
  }

  /** SALSA (Lempel & Moran 2001) hubs & authorities in the CLOSED FORM
    * (Najork 2007, "Comparing the effectiveness of HITS and SALSA"): the
    * stationary distribution of SALSA's authority chain is proportional to
    * in-degree WITHIN each connected component of the bipartite support
    * graph, weighted by the component's share of authority nodes —
    * `authority(a) = (|C_a| / |A|) · indeg(a) / Σ_{a'∈C_a} indeg(a')` (hub
    * side symmetric on out-degree). Computing the closed form IS the
    * scalable implementation: where [[hits]] needs k iteration rounds,
    * SALSA needs one component labeling + two degree aggregations — no
    * mutual-reinforcement loop, and (per the paper) the TKC drift HITS
    * exhibits on tightly-knit link farms never arises.
    *
    * Input: directed (src, dst) edge list; multiplicities and self-loops
    * are dropped (the random surfer walks the distinct support graph).
    * Scale shape: components ride [[connectedComponents]]' star contraction
    * over the NAMESPACED bipartite node set (`h:` hub copies, `a:`
    * authority copies — a URL acting as both lives on both sides, exactly
    * the chain's state space), degrees are two short-key aggregations, the
    * side totals are 1-row broadcasts (the dangling-mass pattern), and the
    * final assembly is a full outer join of two node-sized frames. */
  def salsa(edges: DataFrame): DataFrame = {
    val e = pin(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val bip = e.select(concat(lit("h:"), col("src")).as("src"),
      concat(lit("a:"), col("dst")).as("dst"))
    val comp = pin(connectedComponents(bip))
    def side(prefix: String, deg: DataFrame): DataFrame = {
      val joined = pin(deg.join(
        comp.filter(col("class_iri").startsWith(prefix))
          .select(expr("substring(class_iri, 3)").as("node"),
            col("component")),
        Seq("node")))
      val tot = joined.agg(count(lit(1)).cast("double").as("t"))
      val per = joined.groupBy("component")
        .agg(count(lit(1)).cast("double").as("n_c"),
          sum(col("deg")).cast("double").as("s_c"))
      joined.join(per, Seq("component"))
        .crossJoin(broadcast(tot))
        .select(col("node"),
          (col("n_c") / col("t") * col("deg") / col("s_c")).as("score"))
    }
    val auth = side("a:", e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg")))
    val hub = side("h:", e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")))
    hub.select(col("node"), col("score").as("h"))
      .join(auth.select(col("node"), col("score").as("a")), Seq("node"), "full")
      .select(col("node").as("page"),
        round(coalesce(col("h"), lit(0.0)), 6).as("salsa_hub"),
        round(coalesce(col("a"), lit(0.0)), 6).as("salsa_authority"))
  }

  /** Threshold-sieved SimRank (Jeh & Widom 2002; sieve per Lizorkin et al.
    * VLDB 2008) over a directed edge list, in-neighbor semantics:
    * `s(a,b) = C/(|I(a)||I(b)|) · Σ_{ia∈I(a), ib∈I(b)} s(ia,ib)`, diagonal
    * pinned at 1 — "two pages are similar if similar pages point at them".
    * Fixed synchronous rounds from the identity matrix; output is the
    * off-diagonal pairs surviving the sieve, canonical `a < b` order
    * (SimRank is symmetric).
    *
    * Scale guards (both are the published techniques, both mirrored by the
    * oracle so they're SEMANTICS, not approximations bolted on):
    *  - hub cap: edges INTO nodes with in-degree > `degCap` are dropped
    *    before iteration — a hub's pair-fanout is indeg², and SimRank
    *    scores under a huge denominator are noise anyway;
    *  - sieve: pairs scoring < `minScore` are pruned each round, bounding
    *    the nonzero pair set (the essential-node-pairs optimization).
    *
    * Per round: expand the canonical half-matrix to both orientations
    * (diagonal once), join the pair set to the edge list TWICE (pair →
    * successor-pair propagation — each join is keyed on a node id, never a
    * cartesian), one (a,b) hash aggregation, scale by the broadcast
    * in-degree product, sieve, re-union the diagonal. [[Truncator]]
    * lineage policy like every iterative op. Floats: scores stay unrounded
    * across rounds (the PageRank contract) with ONE ROUND(6) at the end;
    * the sieve compares raw doubles identically in both engines. */
  def simRank(edges: DataFrame, iters: Int = 3, c: Double = 0.8,
              degCap: Int = 64, minScore: Double = 0.001): DataFrame = {
    require(iters >= 1, s"simRank needs iters >= 1, got $iters")
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val ind0 = e0.groupBy(col("dst")).agg(count(lit(1)).as("ind"))
    // hub cap: keep only edges into retained targets; `ind` is then the
    // retained target's true in-degree (cap filters whole nodes, not edges)
    val e = pin(e0.join(ind0.filter(col("ind") <= degCap), "dst")
      .select(col("src"), col("dst"), col("ind")))
    val nodes = pin(e0.select(col("src").as("node"))
      .unionAll(e0.select(col("dst").as("node"))).distinct())
    val diag = nodes.select(col("node").as("a"), col("node").as("b"),
      lit(1.0).as("s"))
    // state: canonical a <= b (diagonal rows are a = b)
    var pairs = diag
    val trunc = truncator()
    for (round <- 1 to iters) {
      val full = pairs.unionAll(pairs.filter(col("a") =!= col("b"))
        .select(col("b").as("a"), col("a").as("b"), col("s")))
      val prop = full
        .join(e.select(col("src").as("a"), col("dst").as("na"),
          col("ind").as("ia")), "a")
        .join(e.select(col("src").as("b"), col("dst").as("nb"),
          col("ind").as("ib")), "b")
        .filter(col("na") < col("nb")) // canonical half; (nb,na) is symmetric
        .groupBy(col("na").as("a"), col("nb").as("b"),
          col("ia"), col("ib"))
        .agg(sum(col("s")).as("t"))
        .select(col("a"), col("b"),
          (lit(c) * col("t") / (col("ia") * col("ib"))).as("s"))
        .filter(col("s") >= minScore)
      pairs = trunc(prop.unionAll(diag), round)
    }
    pairs.filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), round(col("s"), 6).as("simrank"))
  }

  /** Connected components by the ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond"): O(log² n) rounds on ANY graph shape — a path graph of
    * length n converges in ~2·log n rounds where min-label propagation
    * needs n (spec-pinned on a path ≫ maxIter). Component label = MINIMUM
    * class_iri in the component (what the recursive-CTE oracle computes).
    *
    * Per round: large-star (hook every neighbor ABOVE u to u's neighborhood
    * min) then small-star (hook every neighbor below u, and u, to it) —
    * each phase is one aggregation + one same-key join + dedup, all
    * streaming (no per-node collect_set: a web-scale hub's neighborhood
    * never materializes in one task; the phases themselves shrink hub
    * degrees geometrically). Fixed point: a star forest rooted at each
    * component's minimum. Convergence test is exact set equality via counts
    * (next ⊆ prev ∧ |next| = |prev|). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // (u, v) edge list, self-loops dropped; orientation is irrelevant
    // (large-star symmetrizes). Kept deduped throughout.
    // node set from the UNFILTERED input: a node whose only edges are
    // self-loops must still get a label (itself), not vanish
    // CALLER CONTRACT (round 6): `edges` is evaluated twice here — once
    // per pin below — so callers whose edge list has an expensive lineage
    // (annotate → cooccurrence, the LSH pair chain) must pass a pinned
    // frame (the registry entries localCheckpoint their edge inputs). An
    // operator-side pin of the raw input was measured at the 2M-page
    // probe: it fixed the double evaluation but left one extra resident
    // block set per invocation, and the accumulated storage starved the
    // probe's later phases into OOM — pinning belongs where the expensive
    // lineage is known, not unconditionally here.
    val nodes = pin(edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct())
    var e = pin(edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var eCnt = e.count()
    var converged = eCnt == 0
    var i = 0
    val trunc = truncator()
    while (!converged && i < maxIter) {
      // large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
      // m ≤ u < v ⇒ no self-loops. The intermediate distinct is KEPT on
      // measurement: dropping it (dups are min-agg-invariant and collapse
      // in next's final distinct, so the edge SET is unchanged) removed
      // one exchange per round but read +29% on the 2M-page probe's
      // realistic graph — big stars share their min, so early dedup
      // shrinks the small-star input more than the exchange costs; only
      // the path-shaped graph (no shared mins) got faster.
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val lMins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(lMins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star (on large's output): orient edges larger→smaller, group
      // by the larger end u; m = min(N(u)) (< u); emit (v, m) for
      // v ∈ N(u)\{m} and (u, m).
      val oriented = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val sMins = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val next = oriented.join(sMins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(sMins.select(col("u"), col("m").as("v")))
        .distinct()
      val truncated = trunc(next, i + 1) // 1-based like pageRank: round 1
      // (the largest intermediate edge set) is not reliably checkpointed
      // exact convergence: next == e  ⇔  |next| == |e| ∧ |next ∪ e| == |e|.
      // The union-distinct leg (a full extra shuffle) only runs when the
      // counts already agree — unequal counts alone prove non-convergence,
      // and counts shrink monotonically until the fixpoint, so the
      // expensive check fires once per run instead of every round
      val nextCnt = truncated.count()
      converged = nextCnt == eCnt &&
        truncated.unionAll(e).distinct().count() == eCnt
      e = truncated
      eCnt = nextCnt
      i += 1
    }
    require(converged,
      s"star contraction did not converge in $maxIter rounds — expected " +
        "O(log^2 n); raise maxIter only if the graph genuinely has >2^sqrt(maxIter) nodes")
    // fixed point is a star forest (child → component min); roots and any
    // single-node components label themselves
    nodes.join(e.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node").as("class_iri"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** INCREMENTAL connected components on edge ADDITIONS — the component-side
    * member of the incremental family (dict → re-annotation, closure →
    * deltaClosure, ranks → pageRankWarmStart, dedup → incremental MinHash):
    * a new crawl batch adds edges, and re-running star contraction over a
    * 10^12-edge graph for a day's delta is the waste this avoids.
    *
    * CONTRACTION: a new edge can only merge whole v1 components, so map the
    * delta's endpoints to their v1 labels (endpoints v1 never saw label
    * themselves), run [[connectedComponents]] on that contracted graph —
    * COMPONENT-count-sized, not node-count-sized — and relabel v1's output
    * through the merge map. v1 labels are per-component min nodes and the
    * contracted run min-reduces over those (new nodes ride as themselves),
    * so composite labels are global min nodes — exactly what a cold
    * [[connectedComponents]] over `edges ∪ delta` yields (spec + oracle).
    *
    * Scale shape: one scan of the v1 labeling for the endpoint lookup, the
    * full star-contraction loop only on the tiny contracted graph, then one
    * join of the v1 labeling against the merge map (component-keyed; merge
    * maps are delta-sized → broadcast). */
  def componentsDelta(oldLabels: DataFrame, deltaEdges: DataFrame,
                      maxIter: Int = 50): DataFrame = {
    val lbl = oldLabels.select(col("class_iri").as("node"), col("component"))
    val dNodes = deltaEdges.select(col("src").as("node"))
      .unionAll(deltaEdges.select(col("dst").as("node"))).distinct()
    val allLbl = pin(lbl.unionByName(
      dNodes.join(lbl, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("component"))))
    val bySrc = allLbl.select(col("node").as("src"), col("component").as("c_src"))
    val byDst = allLbl.select(col("node").as("dst"), col("component").as("c_dst"))
    val contracted = deltaEdges.select("src", "dst")
      .join(bySrc, "src").join(byDst, "dst")
      .select(col("c_src").as("src"), col("c_dst").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val merged = connectedComponents(contracted, maxIter)
      .select(col("class_iri").as("component"), col("component").as("merged"))
    allLbl.join(broadcast(merged), Seq("component"), "left")
      .select(col("node").as("class_iri"),
        coalesce(col("merged"), col("component")).as("component"))
  }

  /** Multi-source BFS shortest-path distances over a DIRECTED edge list:
    * dist(node) = min hops from ANY seed (crawl-depth analysis, KG
    * neighborhood queries, seed-set reachability). BFS discovers each node
    * exactly once, so the per-round shape is frontier ⋈ edges → distinct →
    * anti-join against everything already labeled — no min-aggregation
    * rerun over settled nodes, and the result is trivially deterministic
    * (unique min distance), hence exactly SQL-oracle-able as unrolled CTEs.
    *
    * Rounds are BOUNDED by `maxDepth` (the use cases want small depths;
    * nodes beyond it are simply absent rather than carrying a sentinel
    * infinity). Per round: one join on the frontier (shrinks geometrically
    * on expander-like link graphs) + one anti-join against the labeled set;
    * frontier lineage truncated per round, the labeled set is a union of
    * ≤ maxDepth truncated frontiers — fine for the bounded depths this is
    * for (a deep traversal would fold `dist` through [[Truncator]] too). */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
                    maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 0, s"maxDepth=$maxDepth must be >= 0")
    val e = pin(edges.select(col("src"), col("dst")))
    // pin the seed leg itself (not a copy): dist accumulates it and the
    // per-round anti-join re-reads it — an unpinned corpus-derived seed
    // plan (e.g. the full link-extraction pipeline) would re-execute every
    // round AND at the final action
    var dist = pin(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0)))
    var frontier = dist
    val trunc = truncator()
    for (d <- 1 to maxDepth) {
      frontier = trunc(
        frontier.join(e, frontier("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("dist", lit(d)),
        d)
      dist = dist.unionByName(frontier)
    }
    dist.select(col("node").as("page"), col("dist"))
  }

  /** Bounded-horizon Brandes betweenness centrality (Brandes, "A faster
    * algorithm for betweenness centrality", J. Math. Sociology 2001) from
    * a pinned source sample — the classic "broker" index completing the
    * centrality family (degree / PageRank / Katz / HITS / SALSA /
    * harmonic): how much of the source set's shortest-path traffic flows
    * THROUGH each node. Sources are QUERY INPUT (the standard k-source
    * approximation — exact all-pairs Brandes is O(nm) and no one runs it
    * on a web graph); paths are truncated at `maxDepth` hops, the SAME
    * bounded-horizon contract as [[shortestPaths]], shared with the
    * oracle.
    *
    * Forward phase: level-synchronous multi-source BFS keyed by
    * `(source, node)` WITH path counting — σ(v) at level d is ONE hash
    * aggregation over the level-(d−1) frontier's out-edges (partial sums
    * map-side), anti-joined against the visited accumulator. Backward
    * phase (the Brandes dependency sweep): δ(u) = Σ_succ σ_u/σ_w·(1+δ_w)
    * evaluated one LEVEL per round over the shortest-path DAG (built once
    * as a three-way equi-join on the level condition), deepest level
    * first — every join keyed on (source, node)/(source, w), never a
    * theta join. [[Truncator]] lineage control on both loops.
    *
    * Determinism: σ is exact integer path counting; δ divides identical
    * longs in both engines and sums ≤ out-degree terms per node — the 6dp
    * output round absorbs float-sum ordering (the PageRank contract). */
  def betweenness(edges: DataFrame, seeds: DataFrame,
                  maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1, s"betweenness needs maxDepth >= 1, got $maxDepth")
    val e = pin(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var vis = pin(seeds.select(col("node")).distinct()
      .select(col("node").as("source"), col("node"),
        lit(0).as("dist"), lit(1L).as("sigma")))
    var frontier = vis
    val fwd = truncator()
    for (d <- 1 to maxDepth) {
      frontier = fwd(
        frontier.join(e, frontier("node") === e("src"))
          .groupBy(frontier("source").as("source"), e("dst").as("node"))
          .agg(sum(frontier("sigma")).as("sigma"))
          .join(vis.select(col("source"), col("node")),
            Seq("source", "node"), "left_anti")
          .withColumn("dist", lit(d))
          .select("source", "node", "dist", "sigma"),
        d)
      vis = vis.unionByName(frontier)
    }
    vis = pin(vis)
    // shortest-path DAG: u→w edges where dist(w) = dist(u) + 1 per source
    val vu = vis.select(col("source"), col("node").as("u"),
      col("dist").as("du"), col("sigma").as("sigma_u"))
    val vw = vis.select(col("source").as("wsource"), col("node").as("w"),
      col("dist").as("dw"), col("sigma").as("sigma_w"))
    val dag = pin(vu.join(e, vu("u") === e("src"))
      .join(vw, vu("source") === vw("wsource") && e("dst") === vw("w")
        && vw("dw") === vu("du") + 1)
      .select(col("source"), col("u"), col("du"), col("sigma_u"),
        col("w"), col("sigma_w")))
    // backward sweep over LEVEL-sized frames: δ at level d depends ONLY on
    // the level-(d+1) frame, so each round joins the level-d slice of the
    // DAG against that one frame instead of left-joining and rewriting the
    // FULL (source, node, dist) accumulator every round (the former shape
    // shuffled the whole table once per level); the level frames union
    // lazily into the final aggregation — same rows, same per-(source,
    // node) sums, level maxDepth rides with δ = 0 exactly as before
    val bwd = truncator()
    var lvl = pin(vis.filter(col("dist") === maxDepth)
      .select(col("source"), col("node"), col("dist"))
      .withColumn("delta", lit(0.0)))
    var acc = lvl
    for (d <- (maxDepth - 1) to 1 by -1) {
      val dw = lvl.select(col("source"), col("node").as("w"),
        col("delta").as("delta_w"))
      val upd = dag.filter(col("du") === d)
        .join(dw, Seq("source", "w"))
        .groupBy(col("source"), col("u").as("node"))
        .agg(sum(col("sigma_u").cast("double") / col("sigma_w").cast("double")
          * (lit(1.0) + col("delta_w"))).as("nd"))
      lvl = bwd(vis.filter(col("dist") === d)
        .select(col("source"), col("node"), col("dist"))
        .join(upd, Seq("source", "node"), "left")
        .select(col("source"), col("node"), col("dist"),
          coalesce(col("nd"), lit(0.0)).as("delta")),
        maxDepth - d)
      acc = acc.unionByName(lvl)
    }
    acc.filter(col("dist") > 0) // a node's own source row never counts
      .groupBy(col("node").as("page"))
      .agg(round(sum(col("delta")), 6).as("betweenness"))
  }

  /** Bow-tie decomposition of a directed graph (Broder et al., "Graph
    * structure in the Web", Computer Networks 33, 2000 — THE web-graph
    * macro-structure study): every node classified relative to the giant
    * strongly-connected core as CORE (forward ∩ backward reach), IN
    * (reaches the core), OUT (reached from it), TENDRIL (attached only
    * undirectedly — Broder's tendrils + tubes, the standard collapsed
    * form), or DISCONNECTED.
    *
    * The core is located from a deterministic probe node — max total
    * degree, node-id tie-break. (Broder's own measurement BFS'd from
    * random probes; a max-degree probe sits inside the giant SCC on any
    * web-shaped graph, and determinism is what the oracle contract
    * needs.) CORE = forward-reach(probe) ∩ backward-reach(probe).
    *
    * Scale shape: three BFS fixpoints over the graph (for the web tier
    * this is the HOST/page graph — orders of magnitude below raw corpus
    * size); each round is one frontier⋈edges equi-join + an anti-join
    * against the visited set, with [[Truncator]] lineage control on both
    * the frontier and the visited accumulator. Rounds stop at the
    * empty-frontier FIXPOINT (require-capped at `maxRounds` — the
    * convergence assertion is what licenses the oracle's recursive-CTE
    * twin). The per-round `isEmpty` is a driver action on a
    * frontier-sized frame: the price of a true fixpoint, paid per round
    * on graph-scale data, never corpus-scale. */
  def bowtie(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    val e = pin(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val rev = pin(e.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = pin(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct())
    val seed = pin(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("node")).limit(1).select("node"))

    def reach(seeds: DataFrame, es: DataFrame): DataFrame = {
      var visited = pin(seeds.select("node").distinct())
      var frontier = visited
      val truncF = truncator()
      val truncV = truncator()
      var round = 0
      var done = false
      while (!done) {
        round += 1
        require(round <= maxRounds,
          s"bowtie reach did not converge within $maxRounds rounds")
        frontier = truncF(
          frontier.join(es, frontier("node") === es("src"))
            .select(col("dst").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti"), round)
        if (frontier.isEmpty) done = true
        else visited = truncV(visited.unionByName(frontier), round)
      }
      visited
    }

    val fwd = pin(reach(seed, e))
    val bwd = pin(reach(seed, rev))
    val undir = pin(e.unionByName(rev).distinct())
    val weak = reach(fwd.unionByName(bwd).distinct(), undir)
    nodes
      .join(fwd.withColumn("f", lit(1)), Seq("node"), "left")
      .join(bwd.withColumn("b", lit(1)), Seq("node"), "left")
      .join(weak.withColumn("t", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("f").isNotNull && col("b").isNotNull, lit("CORE"))
          .when(col("b").isNotNull, lit("IN"))
          .when(col("f").isNotNull, lit("OUT"))
          .when(col("t").isNotNull, lit("TENDRIL"))
          .otherwise(lit("DISCONNECTED")).as("cls"))
  }

  /** Related documents via shared ontology ancestry — the annotator-side
    * "similar resources" surface (NCBO's hierarchy-aware relatedness):
    * each doc's semantic profile = its direct concepts plus ALL their is-a
    * ancestors from the bounded closure, and docs pair up when their
    * profiles share ≥ `minShared` concepts, scored by the shared count and
    * the Jaccard over profile sizes.
    *
    * Scale shape: the dedup_jaccard posting discipline verbatim — capped
    * posting lists (`maxDocFreq`), map-side pair explosion from sorted
    * arrays, ONE posting exchange. The cap is also semantically right
    * here: a near-root ancestor shared by half the corpus carries no
    * relatedness signal, and it is exactly what the cap excludes. The
    * closure is ontology-scale → broadcast. */
  def relatedDocs(annotations: DataFrame, closure: DataFrame,
                  maxDocFreq: Int = 100, minShared: Int = 3): DataFrame = {
    val direct = annotations.select(col("url"), col("class_iri")).distinct()
    val anc = direct.join(
        broadcast(closure.select(col("child").as("class_iri"), col("ancestor"))),
        Seq("class_iri"))
      .select(col("url"), col("ancestor").as("sem"))
    val profile = pin(direct.select(col("url"), col("class_iri").as("sem"))
      .unionAll(anc).distinct())
    val sizes = profile.groupBy("url").agg(count(lit(1)).as("n_sem"))
    val postings = profile.groupBy("sem")
      .agg(sort_array(collect_set(col("url"))).as("docs"))
      .filter(size(col("docs")).between(2, maxDocFreq))
    val pairs = postings.select(orderedPairs(col("docs")).as("p"))
      .select(col("p.src").as("doc_a"), col("p.dst").as("doc_b"))
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("url").as("doc_a"), col("n_sem").as("size_a")),
        Seq("doc_a"))
      .join(sizes.select(col("url").as("doc_b"), col("n_sem").as("size_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("size_a"), col("size_b"),
        round(col("n_shared")
          / (col("size_a") + col("size_b") - col("n_shared")), 4)
          .as("sem_jaccard"))
  }

  /** Seed-sampled harmonic centrality (the Eppstein–Wang estimation shape):
    * `h(v) = Σ_{s ∈ seeds} 1/d(s, v)` over a bounded-depth per-seed BFS —
    * full harmonic centrality is an all-pairs problem, the production
    * estimator runs it from a small deterministic seed sample, and the
    * seed-set size is the declared accuracy/cost knob (the PPR seed-set
    * precedent).
    *
    * Determinism: with maxDepth ≤ 4 every reciprocal is summed as the
    * INTEGER `12/d` (12 = lcm(1..4)), divided once at the end — the sum is
    * order-independent under any partitioning, where a naive double
    * `sum(1/d)` would drift in the last ulp per shuffle layout. The BFS
    * state is (seed, node) keyed — |seeds|×reach rows, bounded by the
    * depth cap; each round is one join + anti-join on short keys, lineage
    * truncated like every iterative op here. */
  /** Bounded-depth PER-SEED BFS distances `(seed, node, dist)` — the
    * shared core behind [[harmonicFromSeeds]] and [[landmarkDistances]].
    * State is (seed, node) keyed — |seeds|×reach rows, one join +
    * anti-join on short keys per round, lineage truncated. */
  def seedDistances(edges: DataFrame, seeds: DataFrame,
                    maxDepth: Int = 4): DataFrame = {
    val e = pin(edges.select(col("src"), col("dst")))
    var dist = pin(seeds.select(col("node").as("seed")).distinct()
      .withColumn("node", col("seed")).withColumn("dist", lit(0)))
    var frontier = dist
    val trunc = truncator()
    for (d <- 1 to maxDepth) {
      frontier = trunc(
        frontier.join(e, frontier("node") === e("src"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(dist, Seq("seed", "node"), "left_anti")
          .withColumn("dist", lit(d)),
        d)
      dist = dist.unionByName(frontier)
    }
    dist
  }

  def harmonicFromSeeds(edges: DataFrame, seeds: DataFrame,
                        maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 4,
      s"maxDepth=$maxDepth out of [1,4] — the lcm-12 integer trick needs d <= 4")
    seedDistances(edges, seeds, maxDepth)
      .filter(col("dist") > 0)
      .groupBy(col("node").as("page"))
      .agg(count(lit(1)).as("n_reached"),
        sum((lit(12) / col("dist")).cast("long")).as("h12"))
      .select(col("page"), col("n_reached"),
        round(col("h12") / lit(12.0), 6).as("harmonic"))
  }

  /** Landmark (a.k.a. sketch-based) distance estimation (Potamias,
    * Bonchi, Castillo & Gionis, CIKM 2009): true pairwise distances at
    * web scale are an all-pairs-BFS problem nobody runs; the production
    * answer precomputes per-LANDMARK BFS distances and answers
    * `d(s, v) ≤ d̂(s, v) = min_l d(s, l) + d(l, v)` — an upper bound by
    * the triangle inequality, exact whenever some shortest path passes a
    * landmark. This emits the AUDIT: for every (source, node) pair whose
    * exact bounded-depth distance is known, the landmark estimate and the
    * stretch d̂/d — the accuracy surface a deployment reads before
    * choosing its landmark count (the recall-audit contract of
    * sim_lsh/sim_pq, for distances).
    *
    * Both `sources` and `landmarks` are QUERY INPUT (the PPR seed
    * contract). Scale shape: ONE [[seedDistances]] run over
    * sources ∪ landmarks (per-seed keyed BFS — |seeds| is the declared
    * cost knob); `d(s, l)` legs are a landmarks-sized broadcast; the
    * estimate is one (source, node) MIN-agg over the landmark join; the
    * self-pair rows (s, s) are excluded (stretch is 0/0 there). */
  def landmarkDistances(edges: DataFrame, sources: DataFrame,
                        landmarks: DataFrame, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1, s"maxDepth=$maxDepth must be >= 1")
    val all = sources.select(col("node"))
      .unionByName(landmarks.select(col("node"))).distinct()
    val dists = pin(seedDistances(edges, all, maxDepth))
    val srcD = dists.join(sources.select(col("node").as("seed")).distinct(),
      "seed")
    val lmD = dists.join(landmarks.select(col("node").as("seed")).distinct(),
      "seed")
    // d(s, l): source-BFS rows landing ON a landmark (landmarks-sized)
    val sToL = broadcast(srcD
      .join(landmarks.select(col("node")).distinct(), "node")
      .select(col("seed").as("src"), col("node").as("l"), col("dist").as("d1")))
    val est = sToL
      .join(lmD.select(col("seed").as("l"), col("node"), col("dist").as("d2")),
        "l")
      .groupBy(col("src"), col("node"))
      .agg(min(col("d1") + col("d2")).as("landmark_d"))
    srcD.select(col("seed").as("src"), col("node"), col("dist").as("exact_d"))
      .filter(col("src") =!= col("node"))
      .join(est, Seq("src", "node"), "left")
      .select(col("src"), col("node").as("page"), col("exact_d"),
        col("landmark_d"),
        when(col("landmark_d").isNull, lit(null).cast("double"))
          .otherwise(round(col("landmark_d").cast("double") /
            col("exact_d"), 4)).as("stretch"))
  }

  /** k-core decomposition (the densest-subgraph family's workhorse): the
    * maximal subgraph where every node keeps degree ≥ k, found by iterated
    * peeling — drop all nodes below k, recompute degrees, repeat to
    * fixpoint. Output: surviving nodes with their IN-CORE degree.
    *
    * Per round: one degree aggregation + two semi-joins filtering the edge
    * list to surviving endpoints (all shuffles on the node key; AQE
    * skew-join covers hot concepts); lineage truncated via [[Truncator]].
    * Deterministic, and oracle-able WITHOUT recursion: peeling is
    * IDEMPOTENT after convergence, so an oracle that unrolls exactly
    * `maxIter` rounds equals the converged engine result — when
    * oracle-checking, pass a `maxIter` EQUAL to the oracle's unroll count
    * (the engine asserts convergence within it, which is what licenses
    * the fixed unroll). The default bound is generous: a path-shaped
    * graph at k=2 peels only its endpoints each round, so rounds can be
    * O(n) on adversarial shapes, and aborting a legitimate long peel is
    * worse than a few extra cheap converged rounds. */
  /** k-truss decomposition (Cohen 2008, "Trusses: cohesive subgraphs for
    * social network analysis" — the NSA technical report every distributed
    * truss paper cites): the maximal subgraph where EVERY edge closes at
    * least k−2 triangles. The edge-level sibling of [[kcore]]'s node
    * peeling — trusses are the tighter community core (a k-truss is
    * always inside the (k−1)-core, never vice versa).
    *
    * Same fixpoint discipline as kcore: per round, per-edge support =
    * triangle count, edges below k−2 peeled, stop when an iteration
    * removes nothing; convergence REQUIRED within maxIter, which is what
    * licenses the oracle's fixed unroll (peeling is idempotent after
    * convergence). Returns the surviving truss edges with their final
    * support.
    *
    * Support is computed by DEGREE ORIENTATION (the Chiba–Nishizeki /
    * cover-edge discipline every distributed triangle system uses):
    * orient each edge from its (degree, node)-smaller endpoint — a total
    * order, so the oriented graph is a DAG and every triangle has exactly
    * one apex with two out-edges. Wedges are enumerated at apexes only,
    * so the intermediate is Σ_v d_out(v)² = O(m^1.5) REGARDLESS of hubs —
    * a web-scale star of in-degree 10⁶ orients leaf→hub and contributes
    * ZERO wedges, where the naive symmetric wedge join (Σ_v deg(v)²)
    * spills 10¹² rows. Each apex wedge probes the canonical edge set once
    * (equi-join); the closing triangle fans back to its 3 edges through a
    * 3-element explode, and per-edge support is one hash agg with
    * map-side partials.
    *
    * Scale shape: per round one degree agg, one wedge equi-join bounded
    * by the orientation, one edge-keyed agg; [[Truncator]] lineage
    * control. The per-round `count()` is a driver action on graph-scale
    * data — the fixpoint price, as kcore. */
  def ktruss(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 3, s"k=$k must be >= 3 (a 2-truss is just the edge set)")
    def support(e: DataFrame): DataFrame = {
      val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val oriented = e
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("o"))
        .select(col("o.u").as("u"), col("o.v").as("v"))
      val wedges = oriented.select(col("u"), col("v").as("v1"))
        .join(oriented.select(col("u"), col("v").as("v2")), Seq("u"))
        .filter(col("v1") < col("v2"))
      val tri = wedges.join(e,
        least(col("v1"), col("v2")) === col("a") &&
          greatest(col("v1"), col("v2")) === col("b"))
      tri.select(explode(array(
          struct(least(col("u"), col("v1")).as("ea"),
            greatest(col("u"), col("v1")).as("eb")),
          struct(least(col("u"), col("v2")).as("ea"),
            greatest(col("u"), col("v2")).as("eb")),
          struct(col("v1").as("ea"), col("v2").as("eb")))).as("t"))
        .groupBy(col("t.ea").as("a"), col("t.eb").as("b"))
        .agg(count(lit(1)).as("support"))
    }
    var e = pin(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    var eCnt = e.count()
    var converged = eCnt == 0
    var i = 0
    val trunc = truncator()
    while (!converged && i < maxIter) {
      val next = trunc(support(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b")), i + 1)
      val nextCnt = next.count()
      converged = nextCnt == eCnt
      e = next
      eCnt = nextCnt
      i += 1
    }
    require(converged,
      s"$k-truss peeling did not converge in $maxIter rounds — raise " +
        "maxIter (each round removes at least one edge)")
    support(e).select(col("a").as("src"), col("b").as("dst"), col("support"))
  }

  def kcore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    var e = pin(edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b")).distinct())
    var eCnt = e.count()
    var converged = eCnt == 0
    var i = 0
    val trunc = truncator()
    while (!converged && i < maxIter) {
      val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val keep = und.groupBy("a").agg(count(lit(1)).as("n"))
        .filter(col("n") >= k).select(col("a").as("node"))
      val next = trunc(
        e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")),
        i + 1)
      val nextCnt = next.count()
      converged = nextCnt == eCnt
      e = next
      eCnt = nextCnt
      i += 1
    }
    require(converged,
      s"k-core peeling did not converge in $maxIter rounds — raise maxIter " +
        "(each round removes at least one node, so rounds ≤ peeled nodes)")
    e.select(col("a"), col("b"))
      .unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .groupBy("a").agg(count(lit(1)).as("core_degree"))
      .select(col("a").as("class_iri"), col("core_degree"))
  }

  /** Targeted-attack robustness curve (Albert, Jeong & Barabási, Nature
    * 2000 "Error and attack tolerance of complex networks"): remove the
    * top-k in-degree hubs for each k in `ks`, re-run
    * [[connectedComponents]], report the giant-component fraction of the
    * surviving nodes — the release stat that says how hub-dependent a
    * crawl graph's connectivity is (a scale-free graph survives random
    * failure but shatters under targeted attack; the curve's slope IS
    * that signature).
    *
    * The hub list is driver-collected (top-`maxK`, the PPR-seed query-
    * input contract — tiny by definition); each k is one star-contraction
    * run over the hub-filtered edge set; isolated survivors count as
    * singleton components (giant falls back to 1 if no edges remain).
    * The per-k results are 1-row scalars assembled into a literal frame
    * — three graph jobs, no corpus-side collect. */
  def attackRobustness(edges: DataFrame, ks: Seq[Int] = Seq(0, 5, 10),
                       random: Boolean = false): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0),
      s"ks=$ks must be non-empty and non-negative")
    val spark = edges.sparkSession
    import spark.implicits._
    // canonicalize like the coreness/richClub siblings (and the oracle's
    // SELECT DISTINCT): a multi-edge or self-loop input must not inflate
    // the in-degree hub ranking or the component sizes
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    // random = the paper's FAILURE curve: removal order by the portable
    // md5 hash (a deterministic uniform draw) instead of in-degree — the
    // attack-vs-failure GAP is the scale-free signature
    val hubs = (if (random)
      nodes.orderBy(graft.ops.Sketch.hash60(col("node")), col("node"))
    else
      e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("node")))
      .limit(ks.max)
      .collect().map(_.getString(0)).toSeq
    val rows = ks.map { k =>
      val removed = hubs.take(k)
      val nLeft =
        if (k == 0) nodes.count()
        else nodes.filter(!col("node").isin(removed: _*)).count()
      val keptEdges =
        if (k == 0) e
        else e.filter(!col("src").isin(removed: _*) &&
          !col("dst").isin(removed: _*))
      val giant =
        if (keptEdges.isEmpty) 1L
        else connectedComponents(keptEdges)
          .groupBy("component").agg(count(lit(1)).as("sz"))
          .agg(max(col("sz"))).first().getLong(0)
      (k, nLeft, giant)
    }
    rows.toDF("k_removed", "n_nodes", "giant_size")
      .select(col("k_removed"), col("n_nodes"), col("giant_size"),
        round(col("giant_size").cast("double") / col("n_nodes"), 6)
          .as("giant_frac"))
  }

  /** Rich-club coefficient curve (Colizza, Flammini, Serrano & Vespignani,
    * Nature Physics 2006): for each degree threshold k, the edge density
    * `φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1))` among nodes of degree > k —
    * rising φ(k) means hubs preferentially interlink (the rich club), the
    * mixing-structure card next to [[assortativity]]'s single scalar.
    * φ is NULL below 2 members (density of a singleton is undefined).
    *
    * Exactness: node/edge counts are exact BIGINTs from one canonical
    * undirected edge set; φ is ONE pinned division per threshold,
    * ROUND(6). Scale shape: one degree agg, then the thresholds frame
    * (a literal handful of rows) broadcasts onto the node and edge
    * tables — each curve point is a conditional count inside ONE pass,
    * never a per-k job. */
  def richClub(edges: DataFrame, ks: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0),
      s"ks=$ks must be non-empty and non-negative")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = pin(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = pin(und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val thr = broadcast(ks.toDF("k"))
    val nK = deg.crossJoin(thr).filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val eK = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .crossJoin(thr)
      .filter(least(col("da"), col("db")) > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    thr.join(nK, Seq("k"), "left").join(eK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(coalesce(col("n_nodes"), lit(0L)) < 2L,
          lit(null).cast("double"))
          .otherwise(round(lit(2.0) * coalesce(col("n_edges"), lit(0L)) /
            (col("n_nodes") * (col("n_nodes") - lit(1L))).cast("double"), 6))
          .as("phi"))
  }

  /** FULL coreness decomposition (every node's core number in one job —
    * [[kcore]] answers one k) via h-index iteration: c₀ = degree,
    * c_{t+1}(v) = H-index of {c_t(u) : u ∈ N(v)}; the fixpoint is exactly
    * the core number (Lü et al., Nature Physics 2016 "The H-index of a
    * network and its node"). The per-node H-index uses the classic
    * identity `H = max_i min(i, vᵢ)` over the DESC-sorted neighbor values
    * — invariant under tie order, so the row_number is deterministic
    * without a tie-break column.
    *
    * Convergence: the iteration is monotone non-increasing and pointwise
    * ≥ coreness, so ONE unchanged round is the fixpoint; the loop runs to
    * exact convergence (counted per round) and `require`s it within
    * `maxIter` — which licenses the oracle's fixed unroll (rounds past
    * convergence are no-ops, so an oracle unrolled to maxIter matches ANY
    * earlier convergence).
    *
    * Scale shape per round: one node-keyed join (neighbor values) + one
    * collect_list hash agg whose per-node array is H-indexed map-side
    * (degree-bounded rows — the postings-block trade: a 10⁷-degree hub
    * funnels its neighbor list through one row; the documented production
    * flip is the bucketed two-phase H-index, same contract), convergence
    * witnessed by the monotone Σc (one 1-row agg, no label-table
    * self-join); [[Truncator]] lineage policy. Rounds needed in practice
    * ~ graph diameter's order, NOT n (h-index cascades are local). */
  def coreness(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // canonical undirected simple graph: least/greatest + distinct BEFORE
    // the symmetric expansion, so an input carrying both orientations of
    // an edge doesn't double-count degrees (orientation is not a coreness
    // concept)
    val e0 = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = pin(e0.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e0.select(col("b").as("node"), col("a").as("nbr"))))
    var c = pin(und.groupBy("node").agg(count(lit(1)).as("c")))
    // monotone convergence witness: the iteration is POINTWISE
    // non-increasing (h-index of neighbor values can only drop as those
    // values drop), so Σc is strictly decreasing until the fixpoint and
    // `Σc unchanged ⇔ every node unchanged` — one 1-row aggregate over the
    // just-materialized round instead of the former full next⋈prev join +
    // filter + count per round (an extra exchange of the whole label table)
    // coalesced: an empty or all-self-loop edge set leaves `c` empty, whose
    // sum is NULL — the total is then 0 and the first round converges
    def total(df: DataFrame): Long =
      df.agg(coalesce(sum(col("c")), lit(0L))).first().getLong(0)
    var cSum = total(c)
    var converged = false
    var i = 0
    val trunc = truncator()
    while (!converged && i < maxIter) {
      val nb = und.join(c.select(col("node").as("nbr"), col("c").as("cv")),
        "nbr").select(col("node"), col("cv"))
      // H = max_i min(i, v_i) over the DESC-sorted neighbor values,
      // computed on the collected per-node array (aggregate, then a
      // map-side sort_array + transform) — same identity the window form
      // used, minus the per-round partition SORT the window required
      val next = trunc(nb
        .groupBy("node").agg(sort_array(collect_list(col("cv")), asc = false)
          .as("vs"))
        .select(col("node"),
          array_max(zip_with(col("vs"),
            sequence(lit(1L), size(col("vs")).cast("long")),
            (v, i) => least(v, i))).as("c")),
        i + 1)
      val nextSum = total(next)
      c = next
      converged = nextSum == cSum
      cSum = nextSum
      i += 1
    }
    require(converged,
      s"h-index coreness did not converge in $maxIter rounds — raise " +
        "maxIter (the iteration is monotone, rounds are bounded by the " +
        "longest strictly-decreasing cascade)")
    c.select(col("node").as("page"), col("c").as("coreness"))
  }
}
