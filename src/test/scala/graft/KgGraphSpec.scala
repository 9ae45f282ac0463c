package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.graph.KgGraph

/** Graph analytics over the materialized KG: co-occurrence pair semantics,
  * the maxPerDoc skew cap, and connected components vs a scalar union-find
  * oracle on seeded random graphs. */
class KgGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cooccurrence: pairs, ordering, doc counts") {
    import spark.implicits._
    val ann = Seq(
      ("d1", "B"), ("d1", "A"), ("d1", "C"),
      ("d2", "A"), ("d2", "B"),
      ("d3", "A"), ("d3", "B"), ("d3", "A") // duplicate annotation collapses
    ).toDF("url", "class_iri")
    val got = KgGraph.cooccurrence(ann).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("A", "B", 3L), ("A", "C", 1L), ("B", "C", 1L)))
  }

  test("louvainMove: pendant joins the triangle community, members stay — " +
       "hand-checked exact gains") {
    import spark.implicits._
    // triangle {a,b,c} weight 3 each + pendant d—c weight 1:
    // m = 10, 2m = 20; k(a)=k(b)=6, k(c)=7, k(d)=1
    val cooc = Seq(("a", "b", 3L), ("a", "c", 3L), ("b", "c", 3L),
      ("c", "d", 1L)).toDF("src", "dst", "n_docs")
    // partition: {a,b,c} = X, {d} = D
    val comm = Seq(("a", "X"), ("b", "X"), ("c", "X"), ("d", "D"))
      .toDF("class_iri", "community")
    val got = KgGraph.louvainMove(cooc, comm).collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getBoolean(2), r.getLong(3), r.getDouble(4))).toMap
    // d: stay gain2 = 0; join X: 20·1 − 19·1 = 1 > 0 → moves, ΔQ = 2/400
    assert(got("d") === (("X", true, 1L, 0.005)))
    // a: stay gain2 = 20·6 − (19−6)·6 = 42; D offers 20·0 − 1·6 = −6 → stays
    assert(got("a") === (("X", false, 0L, 0.0)))
    assert(got("b") === (("X", false, 0L, 0.0)))
    // c: stay 20·6 − (19−7)·7 = 36; D offers 20·1 − 1·7 = 13 → stays
    assert(got("c") === (("X", false, 0L, 0.0)))
    // singleton start on the same graph: everyone merges somewhere
    val s1 = KgGraph.louvainMove(cooc, KgGraph.singletonPartition(cooc))
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(s1.values.forall(identity), s"singleton sweep should move all: $s1")
  }

  test("node2vecWalks == driver-side second-order simulation (seeded graph)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val edges0 = (for (_ <- 0 until 300)
      yield (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .filter(e => e._1 != e._2).distinct
    val got = KgGraph.node2vecWalks(edges0.toDF("src", "dst"), length = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val adj: Map[String, Vector[String]] =
      edges0.groupBy(_._1).map { case (s, es) =>
        s -> es.map(_._2).distinct.sorted.toVector }
    var want = Set.empty[(String, Int, String)]
    for (start <- adj.keys) {
      var node = start; var prev: String = null
      want += ((start, 0, node))
      var t = 1; var alive = true
      while (t <= 4 && alive) {
        adj.get(node) match {
          case None => alive = false
          case Some(nbrs) =>
            val next = if (t == 1) {
              val h = graft.ops.Sketch.hash60Scalar(s"$start|$t|$node")
              nbrs((h % nbrs.size).toInt)
            } else {
              val pn = adj.getOrElse(prev, Vector.empty)
              val wts = nbrs.map(x =>
                if (x == prev) KgGraph.N2vWReturn
                else if (pn.contains(x)) KgGraph.N2vWBase
                else KgGraph.N2vWOut)
              val draw = graft.ops.Sketch.hash60Scalar(s"$start|$t|$prev|$node") % wts.sum
              var cum = 0L; var pick = -1; var i = 0
              for (w <- wts) { cum += w; if (pick == -1 && cum > draw) pick = i; i += 1 }
              nbrs(pick)
            }
            prev = node; node = next
            want += ((start, t, node))
            t += 1
        }
      }
    }
    assert(got === want)
  }

  test("ktruss: cascading peel — pendant triangle dies only via the cascade") {
    import spark.implicits._
    // K4 on {a,b,c,d}: every edge closes 2 triangles — a 4-truss.
    // Pendant triangle pair {d,e,f} + {e,f,g} sharing edge ef: ef closes
    // 2 triangles so it SURVIVES round 1 of a 4-truss peel, and dies only
    // in round 2 after its supporting edges go — the true cascade.
    val k4 = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
    val pendant = Seq(("d","e"),("d","f"),("e","f"),("e","g"),("f","g"))
    val e = (k4 ++ pendant).toDF("src", "dst")
    val got4 = KgGraph.ktruss(e, k = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got4 === k4.map { case (x, y) => (x, y, 2L) }.toSet)
    // the 3-truss keeps everything (every edge closes >= 1 triangle)
    val got3 = KgGraph.ktruss(e, k = 3).collect().length
    assert(got3 === 11)
    // pure path graph: no triangles at all -> empty truss, still converges
    val path = Seq(("a","b"),("b","c"),("c","d")).toDF("src", "dst")
    assert(KgGraph.ktruss(path, k = 3).collect().isEmpty)
  }

  test("ktruss: degree orientation counts hub triangles once, spokes peel") {
    import spark.implicits._
    // hub h with 5 spokes + one closed triangle (h, l1, l2): the hub is
    // the DEGREE-max endpoint of every edge, so wedges are enumerated at
    // the low-degree apexes only (the web-star shape the orientation
    // rewrite exists for) — the triangle must still be found exactly once
    val e = Seq(("h","l1"),("h","l2"),("h","l3"),("h","l4"),("h","l5"),
      ("l1","l2")).toDF("src", "dst")
    val got = KgGraph.ktruss(e, k = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("h","l1",1L), ("h","l2",1L), ("l1","l2",1L)))
  }

  test("betweenness: path-graph dependencies, hand-computed") {
    import spark.implicits._
    // a -> b -> c -> d; sources {a, b, c} (alphabetical-3 contract):
    //   from a: δ(b)=2 (b brokers c and d), δ(c)=1, δ(d)=0
    //   from b: δ(c)=1, δ(d)=0;  from c: δ(d)=0
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = KgGraph.betweenness(e, Seq("a", "b", "c").toDF("node"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got === Map("b" -> 2.0, "c" -> 2.0, "d" -> 0.0))
  }

  test("betweenness: diamond splits dependency across equal-count paths") {
    import spark.implicits._
    // a -> {b, c} -> d: two shortest a→d paths, σ(d)=2, so b and c each
    // carry 1/2; as sources themselves, b and c broker nothing
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("src", "dst")
    val got = KgGraph.betweenness(e, Seq("a", "b", "c").toDF("node"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got === Map("b" -> 0.5, "c" -> 0.5, "d" -> 0.0))
  }

  test("maxPerDoc cap drops pathological docs (documented recall trade)") {
    import spark.implicits._
    val ann = Seq(
      ("big", "A"), ("big", "B"), ("big", "C"), // 3 concepts > cap of 2
      ("ok", "A"), ("ok", "B"))
      .toDF("url", "class_iri")
    val got = KgGraph.cooccurrence(ann, maxPerDoc = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("A", "B", 1L))) // only the small doc contributes
  }

  test("conceptSimilarity: doc counts see the SAME capped universe as intersections") {
    import spark.implicits._
    val ann = Seq(
      ("hub", "A"), ("hub", "B"), ("hub", "C"), // dropped by cap of 2
      ("d1", "A"), ("d1", "B"),
      ("d2", "A"), ("d2", "B"),
      ("solo", "A")) // single-concept doc: no pairs, but IS in docs(A)
      .toDF("url", "class_iri")
    val got = KgGraph.conceptSimilarity(ann, maxPerDoc = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // capped universe: docs(A) = {d1, d2, solo}, docs(B) = {d1, d2},
    // intersection = 2 → jaccard = 2 / (3 + 2 - 2) = 2/3. Counting the
    // skipped hub doc in n_a/n_b (the old bias) would have given 2/4.
    assert(got.keySet === Set(("A", "B")))
    assert(math.abs(got(("A", "B")) - 2.0 / 3.0) < 1e-6)
  }

  test("degrees: both directions, weighted") {
    import spark.implicits._
    val cooc = Seq(("A", "B", 3L), ("A", "C", 1L)).toDF("src", "dst", "n_docs")
    val got = KgGraph.degrees(cooc).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("A", 2L, 4L), ("B", 1L, 3L), ("C", 1L, 1L)))
  }

  /** scalar union-find — the oracle for connectedComponents */
  private def unionFind(nodes: Set[String], edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.Ordering.String.max(ra, rb)) = math.Ordering.String.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("self-loop-only nodes keep their own label (not dropped)") {
    import spark.implicits._
    val edges = Seq(("X", "X"), ("A", "B")).toDF("src", "dst")
    val got = KgGraph.connectedComponents(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("X", "X"), ("A", "A"), ("B", "A")))
  }

  test("reliable checkpoints: same results with a checkpoint dir configured") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val edges = Seq(("A", "B"), ("B", "C"), ("D", "E"), ("C", "A")).toDF("src", "dst")
    val plain = KgGraph.connectedComponents(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val prPlain = KgGraph.pageRank(edges, iters = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val ckpt = KgGraph.connectedComponents(edges).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val prCkpt = KgGraph.pageRank(edges, iters = 10).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(ckpt === plain)
      assert(prCkpt === prPlain)
      // the reliable path actually wrote checkpoint files
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("connected components == union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 30
      val nodes = (0 until n).map(i => f"N$i%03d")
      // sparse random edges → several components with varied shapes
      val edges = (0 until n).flatMap { _ =>
        val a = nodes(rnd.nextInt(n)); val b = nodes(rnd.nextInt(n))
        if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
      }.distinct
      val df = edges.toDF("src", "dst")
      val got = KgGraph.connectedComponents(df, maxIter = 50).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      // union-find over the SAME node universe the operator sees (nodes
      // touching at least one edge)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expect = unionFind(touched, edges)
      assert(got === expect, s"trial $trial")
      assert(got.nonEmpty)
    }
  }

  test("componentsDelta == cold rebuild; new nodes, merges, no-op deltas") {
    import spark.implicits._
    // two chains + an isolate-pair; delta merges the chains, adds a brand-
    // new pair, and repeats an intra-component edge (must be a no-op)
    val base = Seq(("A", "B"), ("B", "C"), ("X", "Y"), ("P", "Q"))
      .toDF("src", "dst")
    val delta = Seq(("C", "X"), ("N1", "N2"), ("A", "B")).toDF("src", "dst")
    val old = KgGraph.connectedComponents(base)
    val got = KgGraph.componentsDelta(old, delta).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val want = KgGraph.connectedComponents(
      base.unionByName(delta)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === want)
    assert(got("Y") === "A") // merged across the delta bridge
    assert(got("N2") === "N1") // delta-only nodes labeled by their own min
    assert(got("Q") === "P") // untouched component keeps its label
    // empty delta: labeling unchanged
    val none = Seq.empty[(String, String)].toDF("src", "dst")
    assert(KgGraph.componentsDelta(old, none).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      === old.collect().map(r => (r.getString(0), r.getString(1))).toMap)
    // randomized: hash-slice a random graph into base+delta, compare cold
    val rnd = new scala.util.Random(77)
    val names = (0 until 80).map(i => f"R$i%03d")
    val edges = (0 until 120).flatMap { _ =>
      val a = names(rnd.nextInt(80)); val b = names(rnd.nextInt(80))
      if (a < b) Some((a, b)) else None
    }.distinct
    val (d, b2) = edges.partition(e => math.abs((e._1 + e._2).hashCode) % 4 == 0)
    val oldR = KgGraph.connectedComponents(b2.toDF("src", "dst"))
    val gotR = KgGraph.componentsDelta(oldR, d.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val wantR = KgGraph.connectedComponents(edges.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(gotR === wantR)
  }

  test("triangles: counts per corner, brute-force oracle on a random graph") {
    import spark.implicits._
    // known case: square with one diagonal → two triangles sharing an edge
    val sq = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("B", "D"), ("C", "D"))
    val got = KgGraph.triangles(sq.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("A", 1L), ("B", 2L), ("C", 2L), ("D", 1L)))
    // random graph vs brute force
    val rnd = new scala.util.Random(99)
    val names = (0 until 25).map(i => f"T$i%02d")
    val edges = (0 until 80).flatMap { _ =>
      val a = names(rnd.nextInt(25)); val b = names(rnd.nextInt(25))
      if (a < b) Some((a, b)) else None
    }.distinct
    val es = edges.toSet
    val brute = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      a <- names; b <- names if a < b && es((a, b))
      c <- names if b < c && es((b, c)) && es((a, c))
    } { brute(a) += 1; brute(b) += 1; brute(c) += 1 }
    val got2 = KgGraph.triangles(edges.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got2 === brute.toMap)
  }

  test("pageRank == scalar reference on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 40
    val names = (0 until n).map(i => f"P$i%02d")
    val edges = (0 until 3 * n).flatMap { _ =>
      val a = names(rnd.nextInt(n)); val b = names(rnd.nextInt(n))
      if (a < b) Some((a, b)) else None
    }.distinct
    val got = KgGraph.pageRank(edges.toDF("src", "dst"), iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // scalar reference: same undirected expansion, same fixed iterations
    val und = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val outd = und.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nodes = und.map(_._1).distinct.sorted
    val nv = nodes.size
    var pr = nodes.map(_ -> 1.0 / nv).toMap
    (1 to 10).foreach { _ =>
      val contrib = und.groupBy(_._2).view.mapValues(
        _.map { case (a, _) => pr(a) / outd(a) }.sum).toMap
      pr = nodes.map(nd => nd -> (0.15 / nv + 0.85 * contrib(nd))).toMap
    }
    assert(got.keySet === pr.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - pr(k)) < 1e-6, s"$k: $v vs ${pr(k)}")
    }
    // mass conservation (undirected graph, no dangling leak)
    assert(math.abs(got.values.sum - 1.0) < 1e-3)
  }

  test("directed pageRank: dangling mass redistributed, total rank stays 1") {
    import spark.implicits._
    // A→B, A→C, B→C; C is DANGLING (no out-edges) — without the dangling
    // correction total rank leaks toward (1-d) each round
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 2L))
    val got = KgGraph.pageRankDirected(edges.toDF("src", "dst", "n_links"),
        iters = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got.keySet === Set("A", "B", "C"))
    assert(math.abs(got.values.sum - 1.0) < 1e-3)
    // C receives from both A (1/2 of its mass) and B (all of it) — strictly
    // the largest; A only receives the uniform dangling/teleport share
    assert(got("C") > got("B") && got("B") > got("A"))
  }

  test("directed pageRank == scalar reference on a seeded random digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 30
    val names = (0 until n).map(i => f"D$i%02d")
    val edges = (0 until 3 * n).flatMap { _ =>
      val a = names(rnd.nextInt(n)); val b = names(rnd.nextInt(n))
      if (a != b) Some((a, b)) else None // directed: keep both orientations
    }.distinct.map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }
    val got = KgGraph.pageRankDirected(edges.toDF("src", "dst", "n_links"),
        iters = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3.toDouble).sum).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val nv = nodes.size
    var pr = nodes.map(_ -> 1.0 / nv).toMap
    (1 to 5).foreach { _ =>
      val dm = nodes.filterNot(outw.contains).map(pr).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (a, _, w) => pr(a) * w / outw(a) }.sum).toMap
      pr = nodes.map(nd => nd ->
        (0.15 / nv + 0.85 * (contrib.getOrElse(nd, 0.0) + dm / nv))).toMap
    }
    assert(got.keySet === pr.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - pr(k)) < 1e-6, s"$k: $v vs ${pr(k)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-3)
  }

  test("personalized pageRank == scalar reference; rank concentrates at seeds") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val n = 24
    val names = (0 until n).map(i => f"S$i%02d")
    val edges = (0 until 3 * n).flatMap { _ =>
      val a = names(rnd.nextInt(n)); val b = names(rnd.nextInt(n))
      if (a != b) Some((a, b)) else None
    }.distinct.map { case (a, b) => (a, b, 1L + rnd.nextInt(3)) }
    val seedNames = names.take(3)
    val got = KgGraph.pageRankPersonalized(
        edges.toDF("src", "dst", "n_links"), seedNames.toDF("node"), iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3.toDouble).sum).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val t = nodes.map(v => v ->
      (if (seedNames.contains(v)) 1.0 / seedNames.size else 0.0)).toMap
    var pr = t
    (1 to 5).foreach { _ =>
      val dm = nodes.filterNot(outw.contains).map(pr).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (a, _, w) => pr(a) * w / outw(a) }.sum).toMap
      pr = nodes.map(nd => nd ->
        (0.15 * t(nd) + 0.85 * (contrib.getOrElse(nd, 0.0) + dm * t(nd)))).toMap
    }
    assert(got.keySet === pr.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - pr(k)) < 1e-6, s"$k: $v vs ${pr(k)}")
    }
    // all seeds are live nodes here → mass conservation holds
    assert(math.abs(got.values.sum - 1.0) < 1e-3)
    // locality: the seed set holds more rank than an equal-sized random set
    // would under uniform teleport (each seed keeps ≥ (1-d)/|S| by teleport)
    seedNames.foreach(s => assert(got(s) >= 0.15 / 3 - 1e-9))
  }

  test("hits: star graph — center is the authority, leaves are the hubs") {
    import spark.implicits._
    // three pages all pointing at one target; one leaf also points at a minor page
    val edges = Seq(("L1", "T", 1L), ("L2", "T", 1L), ("L3", "T", 1L),
      ("L1", "M", 1L))
    val got = KgGraph.hits(edges.toDF("src", "dst", "n_links"), iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toList
    val auth = got.map(r => r._1 -> r._3).toMap
    val hub = got.map(r => r._1 -> r._2).toMap
    assert(auth("T") > auth("M") && auth("M") > auth("L2"))
    assert(auth("L2") === 0.0) // nothing points at a leaf
    assert(hub("L1") > hub("L2")) // L1 points at both targets
    assert(hub("T") === 0.0) // T points at nothing
    // L1 normalization: each score vector sums to 1
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-3)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-3)
  }

  test("hits == scalar reference on a seeded random digraph") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val n = 25
    val names = (0 until n).map(i => f"H$i%02d")
    val edges = (0 until 3 * n).flatMap { _ =>
      val a = names(rnd.nextInt(n)); val b = names(rnd.nextInt(n))
      if (a != b) Some((a, b)) else None
    }.distinct.map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }
    val got = KgGraph.hits(edges.toDF("src", "dst", "n_links"), iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toList
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var hubS = nodes.map(_ -> 1.0).toMap
    var authS = Map.empty[String, Double]
    (1 to 5).foreach { _ =>
      val ar = nodes.map(v => v ->
        edges.filter(_._2 == v).map { case (a, _, w) => hubS(a) * w }.sum).toMap
      val as = ar.values.sum
      authS = ar.view.mapValues(_ / as).toMap
      val hr = nodes.map(v => v ->
        edges.filter(_._1 == v).map { case (_, b, w) => authS(b) * w }.sum).toMap
      val hs = hr.values.sum
      hubS = hr.view.mapValues(_ / hs).toMap
    }
    got.foreach { case (k, h, a) =>
      assert(math.abs(h - hubS(k)) < 1e-6, s"hub $k: $h vs ${hubS(k)}")
      assert(math.abs(a - authS(k)) < 1e-6, s"auth $k: $a vs ${authS(k)}")
    }
  }

  test("weighted pageRank == scalar reference on a seeded random weighted graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 40
    val names = (0 until n).map(i => f"W$i%02d")
    val edges = (0 until 3 * n).flatMap { _ =>
      val a = names(rnd.nextInt(n)); val b = names(rnd.nextInt(n))
      if (a < b) Some((a, b)) else None
    }.distinct.map { case (a, b) => (a, b, 1L + rnd.nextInt(9)) }
    val got = KgGraph.pageRankWeighted(edges.toDF("src", "dst", "n_docs"), iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // scalar reference: weighted contributions pr(a)·w/strength(a)
    val und = edges.flatMap { case (a, b, w) =>
      Seq((a, b, w.toDouble), (b, a, w.toDouble)) }
    val strength = und.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = und.map(_._1).distinct.sorted
    val nv = nodes.size
    var pr = nodes.map(_ -> 1.0 / nv).toMap
    (1 to 10).foreach { _ =>
      val contrib = und.groupBy(_._2).view.mapValues(
        _.map { case (a, _, w) => pr(a) * w / strength(a) }.sum).toMap
      pr = nodes.map(nd => nd -> (0.15 / nv + 0.85 * contrib(nd))).toMap
    }
    assert(got.keySet === pr.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - pr(k)) < 1e-6, s"$k: $v vs ${pr(k)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-3) // mass conserved
  }

  test("pmi: hand-computed association strengths; capped universe shared") {
    import spark.implicits._
    // d1{A,B} d2{A,B} d3{A,C} d4{A}: N=4, n_A=4 n_B=2 n_C=1,
    // pmi(A,B)=ln(2·4/(4·2))=0, pmi(A,C)=ln(1·4/(4·1))=0 — independence
    // baseline; add d5{B,C}: pmi(B,C)=ln(1·5/(3·2))
    val ann = Seq(
      ("d1", "A"), ("d1", "B"), ("d2", "A"), ("d2", "B"),
      ("d3", "A"), ("d3", "C"), ("d4", "A"), ("d5", "B"), ("d5", "C"))
      .toDF("url", "class_iri")
    val got = KgGraph.pmi(ann).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("A", "B"))._1 === 2L)
    assert(got(("A", "B"))._2 === math.rint(math.log(2.0 * 5 / (4 * 3)) * 1e6) / 1e6)
    assert(got(("A", "C"))._2 === math.rint(math.log(1.0 * 5 / (4 * 2)) * 1e6) / 1e6)
    assert(got(("B", "C"))._2 === math.rint(math.log(5.0 / 6) * 1e6) / 1e6)
    // hub doc beyond the cap drops from N AND all counts
    val withHub = ann.unionAll(Seq(("hub", "A"), ("hub", "B"), ("hub", "C"),
      ("hub", "D")).toDF("url", "class_iri"))
    val capped = KgGraph.pmi(withHub, maxPerDoc = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(capped === got.map { case (k, v) => k -> v._2 })
  }

  test("kcore: triangle survives k=2 peeling, tail does not") {
    import spark.implicits._
    // triangle a-b-c plus a tail c-d: 2-core = the triangle (d has deg 1;
    // after d peels, c's degree drops to 2 and the triangle is stable)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst")
    val got = KgGraph.kcore(edges, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kcore == scalar peeling on a seeded random graph; empty core at high k") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val n = 30
    val names = (0 until n).map(i => f"K$i%02d")
    val edges = (0 until 2 * n).flatMap { _ =>
      val a = names(rnd.nextInt(n)); val b = names(rnd.nextInt(n))
      if (a < b) Some((a, b)) else None
    }.distinct
    val got = KgGraph.kcore(edges.toDF("src", "dst"), k = 3, maxIter = 30)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // scalar peeling to fixpoint
    var es = edges.toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 3).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next != es
      es = next
    }
    val want = es.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === want)
    assert(got.values.forall(_ >= 3))
    // a k beyond the max degree peels everything
    assert(KgGraph.kcore(edges.toDF("src", "dst"), k = 50, maxIter = 30).count() === 0)
  }

  test("pageRank counts a self-loop ONCE in degree (union+distinct semantics)") {
    import spark.implicits._
    // {(a,a),(a,b)}: und = {(a,a),(a,b),(b,a)} ⇒ deg(a)=2 — b must receive
    // pr(a)/2 per round, not pr(a)/3 (a double-counted self-loop)
    val got = KgGraph.pageRank(Seq(("a", "a"), ("a", "b")).toDF("src", "dst"),
        iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val und = Seq(("a", "a"), ("a", "b"), ("b", "a"))
    val outd = und.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var pr = Map("a" -> 0.5, "b" -> 0.5)
    (1 to 10).foreach { _ =>
      val contrib = und.groupBy(_._2).view.mapValues(
        _.map { case (x, _) => pr(x) / outd(x) }.sum).toMap
      pr = pr.keySet.map(nd => nd -> (0.15 / 2 + 0.85 * contrib(nd))).toMap
    }
    // 1e-6 like the other scalar-reference tests: distributed double sums
    // associate differently than the scalar loop
    got.foreach { case (k, v) => assert(math.abs(v - pr(k)) < 1e-6, k) }
  }

  test("path graph of length ≫ maxIter converges (star contraction is O(log² n))") {
    import spark.implicits._
    // 400-node path with maxIter=15: min-label propagation would need ~400
    // rounds — the star contraction must finish in ~2·log₂(400) ≈ 18 phase
    // pairs or (much) fewer
    val n = 400
    val chain = (0 until n).map(i => (f"C$i%03d", f"C${i + 1}%03d")).toDF("src", "dst")
    val got = KgGraph.connectedComponents(chain, maxIter = 15).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === (0 to n).map(i => (f"C$i%03d", "C000")).toSet)
  }

  test("labelPropagation: bridged triangles split; == scalar sync-LPA on random graphs") {
    import spark.implicits._
    // two triangles joined by one bridge edge — LPA's canonical case
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")).toDF("src", "dst")
    val got = KgGraph.labelPropagation(g, iters = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"))
    // scalar reference: synchronous rounds, max-count/min-label tie-break
    def scalarLpa(edges: Seq[(String, String)], iters: Int): Map[String, String] = {
      val und = (edges ++ edges.map(_.swap)).distinct
      val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var l = nbrs.keySet.map(n => n -> n).toMap
      (1 to iters).foreach { _ =>
        l = nbrs.map { case (n, ns) =>
          val counts = ns.map(l).groupBy(identity).view.mapValues(_.size)
          n -> counts.toSeq.minBy { case (lab, c) => (-c, lab) }._1
        }
      }
      l
    }
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val edges = (1 to 60).map(_ =>
        (f"N${rnd.nextInt(20)}%02d", f"N${rnd.nextInt(20)}%02d"))
        .filter(e => e._1 < e._2).distinct
      val want = scalarLpa(edges, 4)
      val g2 = edges.toDF("src", "dst")
      val got2 = KgGraph.labelPropagation(g2, iters = 4).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(got2 === want, s"trial $trial")
    }
  }

  test("modularity: bridged triangles match hand formula; trivial partition scores 0") {
    import spark.implicits._
    // weighted bridged triangles: m = 9; each triangle community has
    // internal weight 4 and summed degree 9 → Q_c = 4/9 − (9/18)² = 0.194444
    val g = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L),
      ("x", "y", 1L), ("x", "z", 1L), ("y", "z", 2L), ("c", "x", 1L))
      .toDF("src", "dst", "n_docs")
    val comm = Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "c"), ("y", "c"), ("z", "c")).toDF("class_iri", "community")
    val got = KgGraph.modularity(g, comm).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val qc = BigDecimal(4.0 / 9 - math.pow(9.0 / 18, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map("a" -> ((3L, 4L, 9L, qc)), "c" -> ((3L, 4L, 9L, qc))))
    // the everything-in-one-community partition always scores exactly 0:
    // e_c/m = 1 and (S_c/2m)² = 1
    val one = comm.select(col("class_iri"), lit("all").as("community"))
    val trivial = KgGraph.modularity(g, one).collect()
    assert(trivial.length === 1 && trivial.head.getDouble(4) === 0.0)
    // a community with NO internal edges contributes only the negative
    // degree term (left-join null → 0 internal weight)
    val split = Seq(("a", "p"), ("b", "q"), ("c", "p"), ("x", "q"),
      ("y", "p"), ("z", "q")).toDF("class_iri", "community")
    val gotSplit = KgGraph.modularity(g, split).collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // p = {a,c,y}: internal (a,c)=1; degrees 3+3+3=9. q = {b,x,z}:
    // internal (x,z)=1; degrees 3+3+3=9 → both 1/9 − (9/18)²
    val qs = BigDecimal(1.0 / 9 - math.pow(9.0 / 18, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gotSplit === Map("p" -> ((1L, 9L, qs)), "q" -> ((1L, 9L, qs))))
  }

  test("relatedDocs: shared direct+ancestor profiles; the doc-freq cap drops hot ancestors") {
    import spark.implicits._
    val ann = Seq(("u1", "c1"), ("u1", "c2"), ("u2", "c1"), ("u2", "c3"),
      ("u3", "c4")).toDF("url", "class_iri")
    // c1→p1; c2,c3→p2; c4→p3: profiles u1={c1,c2,p1,p2}, u2={c1,c3,p1,p2}
    val cl = Seq(("c1", "p1", 1), ("c2", "p2", 1), ("c3", "p2", 1),
      ("c4", "p3", 1)).toDF("child", "ancestor", "distance")
    val got = KgGraph.relatedDocs(ann, cl).collect()
    assert(got.length === 1)
    val r = got.head
    // shared = {c1, p1, p2} → 3; jaccard = 3 / (4 + 4 − 3)
    assert((r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5)) ===
      (("u1", "u2", 3L, 4L, 4L, 0.6)))
    // a hot shared ancestor above the cap stops carrying signal: p2 joins
    // all three docs when u3 also reaches it, and maxDocFreq = 2 drops it
    val cl2 = cl.unionByName(Seq(("c4", "p2", 1)).toDF("child", "ancestor", "distance"))
    val capped = KgGraph.relatedDocs(ann, cl2, maxDocFreq = 2, minShared = 1)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // u1–u2 still share {c1, p1} (freq-2 postings); nothing pairs via p2
    assert(capped === Map(("u1", "u2") -> 2L))
  }

  test("harmonicFromSeeds: exact lcm-12 reciprocal sums; seeds excluded at dist 0") {
    import spark.implicits._
    // s→a→b, s2→a: h(a) = 1/1 + 1/1 = 2, h(b) = 1/2 + 1/2 = 1
    val edges = Seq(("s", "a"), ("a", "b"), ("s2", "a")).toDF("src", "dst")
    val seeds = Seq("s", "s2").toDF("node")
    val got = KgGraph.harmonicFromSeeds(edges, seeds, maxDepth = 4).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map("a" -> ((2L, 2.0)), "b" -> ((2L, 1.0))))
    // dist-3 path: 1/1 + 1/2 + 1/3 = 11/6 — exact through the integer sum
    val path = Seq(("s", "a"), ("a", "b"), ("b", "c")).toDF("src", "dst")
    val one = Seq("s").toDF("node")
    val h = KgGraph.harmonicFromSeeds(path, one, maxDepth = 4).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(h("c") === BigDecimal(1.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("componentSizes: histogram + node fractions over a 3/3/1 labeling") {
    import spark.implicits._
    val labels = Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "x"), ("y", "x"), ("z", "x"), ("q", "q"))
      .toDF("class_iri", "component")
    val got = KgGraph.componentSizes(labels).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // two 3-node components hold 6/7 of nodes, the singleton 1/7
    assert(got === Map(
      3L -> ((2L, BigDecimal(6.0 / 7).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)),
      1L -> ((1L, BigDecimal(1.0 / 7).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))))
  }

  test("clusteringCoefficient: triangle corners vs pendant; deg<2 pins 0") {
    import spark.implicits._
    // triangle a-b-c with a pendant d on a: cc(a) = 2/(3·2), cc(b)=cc(c)=1
    val g = Seq(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L), ("a", "d", 1L))
      .toDF("src", "dst", "n_docs")
    val got = KgGraph.clusteringCoefficient(g).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      "a" -> ((3L, 1L, 0.333333)), "b" -> ((2L, 1L, 1.0)),
      "c" -> ((2L, 1L, 1.0)), "d" -> ((1L, 0L, 0.0))))
  }

  test("assortativity: a star is perfectly disassortative; a cycle degenerates to 0") {
    import spark.implicits._
    // K1,3: hub degree 3 against leaf degree 1 in every orientation → r = −1
    val star = Seq(("h", "a", 1L), ("h", "b", 1L), ("h", "c", 1L))
      .toDF("src", "dst", "n_docs")
    val rs = KgGraph.assortativity(star).collect()
    assert(rs.length === 1 &&
      rs.head.getLong(0) === 6L && rs.head.getDouble(1) === -1.0)
    // 3-cycle: every degree 2 → zero variance → the guarded 0, not NaN
    val cyc = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "n_docs")
    val rc = KgGraph.assortativity(cyc).collect()
    assert(rc.length === 1 &&
      rc.head.getLong(0) === 6L && rc.head.getDouble(1) === 0.0)
  }

  test("adamicAdar: path scores 1/ln(deg), triangles yield nothing, hub cap skips") {
    import spark.implicits._
    // path a-b-c: only candidate (a,c), common neighbor b with degree 2
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val gotPath = KgGraph.adamicAdar(path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(gotPath === Set(("a", "c",
      BigDecimal(1.0 / math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
    // triangle: every pair already an edge → anti-join leaves nothing
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    assert(KgGraph.adamicAdar(tri).count() === 0)
    // star s-l1..l3: each leaf pair shares s (deg 3) → 1/ln 3; and with
    // maxDegree below 3 the hub neighborhood is skipped entirely
    val star = Seq(("s", "l1"), ("s", "l2"), ("s", "l3")).toDF("src", "dst")
    val gotStar = KgGraph.adamicAdar(star).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val w3 = BigDecimal(1.0 / math.log(3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gotStar === Map(("l1", "l2") -> w3, ("l1", "l3") -> w3,
      ("l2", "l3") -> w3))
    assert(KgGraph.adamicAdar(star, maxDegree = 2).count() === 0)
  }

  test("shortestPaths: multi-source BFS == scalar BFS; depth bound respected") {
    import spark.implicits._
    // diamond + tail + an unreachable island; directed
    val edges = Seq(("s1", "a"), ("s2", "a"), ("a", "b"), ("b", "c"),
      ("c", "d"), ("d", "e"), ("i1", "i2")).toDF("src", "dst")
    val seeds = Seq("s1", "s2").toDF("node")
    val got = KgGraph.shortestPaths(edges, seeds, maxDepth = 3).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("s1" -> 0, "s2" -> 0, "a" -> 1, "b" -> 2, "c" -> 3))
    // deeper bound reaches the tail; island stays absent (no sentinel inf)
    val deep = KgGraph.shortestPaths(edges, seeds, maxDepth = 10).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(deep("e") === 5 && !deep.contains("i1") && !deep.contains("i2"))
    // scalar BFS oracle on a seeded random digraph
    val rnd = new scala.util.Random(11)
    val rEdges = (1 to 120).map(_ => (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
    val rSeeds = Seq("n0", "n1")
    def bfs(es: Seq[(String, String)], ss: Seq[String]): Map[String, Int] = {
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var dist = ss.map(_ -> 0).toMap
      var frontier = ss.toSet
      var d = 0
      while (frontier.nonEmpty && d < 6) {
        d += 1
        frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      dist
    }
    val gotR = KgGraph.shortestPaths(rEdges.toDF("src", "dst"),
      rSeeds.toDF("node"), maxDepth = 6).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(gotR === bfs(rEdges, rSeeds))
  }

  test("bowtie: all five classes on a crafted graph; probe rule deterministic") {
    import spark.implicits._
    // core cycle c1<->c2; i1 feeds the core; o1 hangs off it; t1 dangles
    // off the IN side (reachable only undirectedly); d1->d2 disconnected.
    // degrees: c1 = 3, c2 = 3 -> probe tie-break picks min node id "c1"
    val edges = Seq(
      ("i1", "c1"), ("c1", "c2"), ("c2", "c1"), ("c2", "o1"),
      ("i1", "t1"), ("d1", "d2")).toDF("src", "dst")
    val got = KgGraph.bowtie(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map(
      "c1" -> "CORE", "c2" -> "CORE", "i1" -> "IN", "o1" -> "OUT",
      "t1" -> "TENDRIL", "d1" -> "DISCONNECTED", "d2" -> "DISCONNECTED"))
    // self-loops are dropped before classification (never make a node CORE)
    val loop = Seq(("x", "x"), ("x", "y")).toDF("src", "dst")
    val gl = KgGraph.bowtie(loop).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gl === Map("x" -> "CORE", "y" -> "OUT"))
  }

  test("empty edge lists: PageRank variants return empty, never Infinity") {
    import spark.implicits._
    val e = Seq.empty[(String, String, Long)].toDF("src", "dst", "n_links")
    val ed = Seq.empty[(String, String, Long)].toDF("src", "dst", "n_docs")
    assert(KgGraph.pageRankDirected(e).count() === 0)
    assert(KgGraph.pageRankWeighted(ed).count() === 0)
    assert(KgGraph.pageRank(ed.select("src", "dst")).count() === 0)
    // schema stays the contract shape even on the empty path
    assert(KgGraph.pageRankDirected(e).columns.toSeq === Seq("page", "pagerank"))
    // personalized PR over an empty graph is equally empty (the "no seed is
    // a node" require is for NON-empty graphs with disjoint seeds)
    val seeds = Seq("a").toDF("node")
    assert(KgGraph.pageRankPersonalized(e, seeds).count() === 0)
  }

  test("hits rejects iters < 1 loudly (was an opaque NPE)") {
    import spark.implicits._
    val e = Seq(("a", "b", 1L)).toDF("src", "dst", "n_links")
    val ex = intercept[IllegalArgumentException](KgGraph.hits(e, iters = 0))
    assert(ex.getMessage.contains("iters"))
  }

  test("Truncator releases old rounds: cached intermediates stay bounded") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a 64-node path: labelPropagation runs `iters` synchronous rounds, each
    // localCheckpoint-truncated; without release the persistent-RDD registry
    // grows by one per round
    val path = (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      .toDF("src", "dst")
    val before = sc.getPersistentRDDs.size
    KgGraph.labelPropagation(path, iters = 12).count()
    val after = sc.getPersistentRDDs.size
    // pin()ned loop input + at most 2 tracked rounds (prev + current);
    // 12 un-released rounds would add ~13
    assert(after - before <= 4,
      s"persistent RDDs grew by ${after - before} over 12 rounds - Truncator not releasing")
  }

  test("pageRankWarmStart: fixed point is stable; new nodes start at teleport") {
    import spark.implicits._
    // 3-cycle: stationary distribution is exactly uniform 1/3, and every
    // round maps 1/3 -> 0.15/3 + 0.85·(1/3) = 1/3 — so the published cold
    // ranks ARE the fixed point and warm rounds must not move them
    val e = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "n_links")
    val cold = KgGraph.pageRankDirected(e, iters = 5)
    val warm = KgGraph.pageRankWarmStart(e, cold, iters = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(warm.keySet === Set("a", "b", "c"))
    warm.values.foreach(v => assert(v === 0.333333, warm))
    // edge churn introduces node d: it is absent from init, so it starts
    // at the uniform teleport instead of nulling the join
    val e2 = e.unionAll(Seq(("a", "d", 1L)).toDF("src", "dst", "n_links"))
    val warm2 = KgGraph.pageRankWarmStart(e2, cold, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(warm2.keySet === Set("a", "b", "c", "d"))
    assert(warm2("d") > 0.0, warm2)
  }

  test("randomWalks: hash-indexed steps, dangling stop, pure function") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "d"))
      .toDF("src", "dst")
    def run() = KgGraph.randomWalks(e, length = 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val got = run()
    assert(got === run()) // pure function of the graph
    // starts = nodes WITH out-edges only (d is dangling)
    assert(got.filter(_._2 == 0).map(_._1) === Set("a", "b", "c"))
    // step 1 from a indexes sorted nbrs [b, c] at hash60("a|1|a") % 2
    val expA1 = Seq("b", "c")(
      (graft.ops.Sketch.hash60Scalar("a|1|a") % 2).toInt)
    assert(got.contains(("a", 1, expA1)), got)
    // c's walk reaches dangling d at step 1 and stops — no step-2 row
    assert(got.contains(("c", 1, "d")))
    assert(!got.exists(w => w._1 == "c" && w._2 == 2), got)
  }

  test("transeStep: one degree-normalized full-batch step reduces mean margin loss") {
    import spark.implicits._
    // a small but non-trivial fact set: 12 subjects × 2-3 objects from a
    // 6-entity object pool — enough corruption diversity for the filtered
    // negatives to land, deterministic via the hash-indexed protocol
    val facts = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6) ++ (if (s % 3 == 0) Seq((s + 2) % 6) else Nil)
    } yield (s"page$s", "hasAnnotation", s"C$o")).toDF("subj", "pred", "obj")
    val out = graft.ops.KgEmbed.transeStep(facts).collect()
    assert(out.length === 1)
    val r = out.head
    val (nPairs, nActive) = (r.getLong(1), r.getLong(2))
    val (lb, la) = (r.getDouble(3), r.getDouble(4))
    assert(nPairs > 0 && nActive > 0, s"degenerate pair set: $nPairs/$nActive")
    // the learning gate: the step must strictly reduce the mean loss (the
    // divergence regression guard — the unnormalized summed gradient blew
    // 2.2 → 88k on real data at the same lr)
    assert(la < lb, s"step did not learn: $lb -> $la")
    // determinism: same input, same result
    val again = graft.ops.KgEmbed.transeStep(facts).collect().head
    assert(again.getDouble(3) === lb && again.getDouble(4) === la)
  }

  test("sgnsStep: one full-batch SGNS step reduces mean softplus loss per center on average") {
    import spark.implicits._
    // a co-occurrence pair corpus with real structure: 12 centers over a
    // 6-node context pool, 2-3 contexts each — corruption diversity for
    // the context-side hash protocol
    val pairs = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6) ++ (if (s % 3 == 0) Seq((s + 2) % 6) else Nil)
    } yield (s"page$s", s"ctx$o", 1L)).toDF("center", "context", "n_pairs")
    val out = graft.ops.KgEmbed.sgnsStep(pairs).collect()
    assert(out.nonEmpty)
    val lb = out.map(_.getDouble(2)).sum / out.length
    val la = out.map(_.getDouble(3)).sum / out.length
    // full-batch logistic objective: the mean loss across centers must
    // strictly drop after one mean-gradient SGD step
    assert(la < lb, s"step did not learn: $lb -> $la")
    out.foreach(r => assert(r.getLong(1) > 0, s"degenerate center ${r.getString(0)}"))
    // determinism: hash-indexed corruptions + hash init, no rng state
    val again = graft.ops.KgEmbed.sgnsStep(pairs).collect()
    assert(again.map(r => (r.getString(0), r.getDouble(2), r.getDouble(3))).toSet
      === out.map(r => (r.getString(0), r.getDouble(2), r.getDouble(3))).toSet)
  }

  test("distmultRank: sane bounds, deterministic, and distinct from the TransE reading") {
    import spark.implicits._
    val facts = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6) ++ (if (s % 3 == 0) Seq((s + 2) % 6) else Nil)
    } yield (s"page$s", "hasAnnotation", s"C$o")).toDF("subj", "pred", "obj")
    val out = graft.ops.KgEmbed.distmultRank(facts).collect()
    assert(out.length === 1)
    val r = out.head
    val (n, mrr, h1) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(n > 0)
    // per positive 1/rank >= [rank = 1], so the rollup must keep mrr >= hits1
    assert(mrr > 0.0 && mrr <= 1.0 && h1 >= 0.0 && mrr >= h1, s"$mrr/$h1")
    val again = graft.ops.KgEmbed.distmultRank(facts).collect().head
    assert(again.getDouble(2) === mrr && again.getDouble(3) === h1)
    // different scorer, same protocol: the reading must differ from TransE's
    val te = graft.ops.KgEmbed.transeRank(facts).collect().head
    assert(te.getDouble(2) !== mrr)
  }

  test("complexRank: sane bounds, deterministic, distinct from DistMult and TransE") {
    import spark.implicits._
    val facts = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6) ++ (if (s % 3 == 0) Seq((s + 2) % 6) else Nil)
    } yield (s"page$s", "hasAnnotation", s"C$o")).toDF("subj", "pred", "obj")
    val out = graft.ops.KgEmbed.complexRank(facts).collect()
    assert(out.length === 1)
    val r = out.head
    val (n, mrr, h1) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(n > 0)
    assert(mrr > 0.0 && mrr <= 1.0 && h1 >= 0.0 && mrr >= h1, s"$mrr/$h1")
    val again = graft.ops.KgEmbed.complexRank(facts).collect().head
    assert(again.getDouble(2) === mrr && again.getDouble(3) === h1)
    // the imaginary terms must make the reading its own: ComplEx at this
    // init may not collapse onto either sibling scorer
    val dm = graft.ops.KgEmbed.distmultRank(facts).collect().head
    val te = graft.ops.KgEmbed.transeRank(facts).collect().head
    assert(dm.getDouble(2) !== mrr)
    assert(te.getDouble(2) !== mrr)
  }

  test("rotateRank: sane bounds, deterministic, distinct from every sibling scorer") {
    import spark.implicits._
    val facts = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6) ++ (if (s % 3 == 0) Seq((s + 2) % 6) else Nil)
    } yield (s"page$s", "hasAnnotation", s"C$o")).toDF("subj", "pred", "obj")
    val out = graft.ops.KgEmbed.rotateRank(facts).collect()
    assert(out.length === 1)
    val r = out.head
    val (n, mrr, h1) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(n > 0)
    assert(mrr > 0.0 && mrr <= 1.0 && h1 >= 0.0 && mrr >= h1, s"$mrr/$h1")
    val again = graft.ops.KgEmbed.rotateRank(facts).collect().head
    assert(again.getDouble(2) === mrr && again.getDouble(3) === h1)
    // the rotation must make the reading its own at the shared init
    val cx = graft.ops.KgEmbed.complexRank(facts).collect().head
    val dm = graft.ops.KgEmbed.distmultRank(facts).collect().head
    val te = graft.ops.KgEmbed.transeRank(facts).collect().head
    assert(cx.getDouble(2) !== mrr)
    assert(dm.getDouble(2) !== mrr)
    assert(te.getDouble(2) !== mrr)
  }

  test("salsa: closed-form scores match hand computation; each side sums to 1") {
    import spark.implicits._
    // two bipartite support components: {h1,h2}×{a1,a2} and {h3}×{a3}
    val edges = Seq(
      ("h1", "a1"), ("h1", "a2"), ("h2", "a1"), // component 1
      ("h3", "a3")) // component 2
      .toDF("src", "dst")
    val out = graft.graph.KgGraph.salsa(edges).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // authorities: comp1 holds 2 of 3 auth nodes, indegs a1=2 a2=1 (s=3);
    // comp2 holds 1 of 3, indeg a3=1 → (2/3)·(2/3), (2/3)·(1/3), (1/3)·1
    assert(out("a1") === (0.0, 0.444444))
    assert(out("a2") === (0.0, 0.222222))
    assert(out("a3") === (0.0, 0.333333))
    // hubs symmetric on out-degree: h1=2 h2=1 (comp1), h3=1 (comp2)
    assert(out("h1") === (0.444444, 0.0))
    assert(out("h2") === (0.222222, 0.0))
    assert(out("h3") === (0.333333, 0.0))
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-4)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-4)
  }

  test("salsa: a node acting as both hub and authority scores on both sides") {
    import spark.implicits._
    val edges = Seq(("x", "y"), ("y", "z")).toDF("src", "dst")
    // bipartite support: {h:x}–{a:y} and {h:y}–{a:z} are SEPARATE components
    // (y's hub copy and authority copy are distinct chain states)
    val out = graft.graph.KgGraph.salsa(edges).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("x") === (0.5, 0.0))
    assert(out("y") === (0.5, 0.5))
    assert(out("z") === (0.0, 0.5))
  }

  test("katz: attenuated walk counts on a path graph, hand-checked") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val out = graft.graph.KgGraph.katz(edges, iters = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // x1 = 1 + α·deg; x2(a) = 1 + α·x1(b) = 1 + .05·1.10 = 1.055
    assert(out === Map("a" -> 1.055, "b" -> 1.105, "c" -> 1.055))
    // no degree normalization: the middle node strictly dominates
    assert(out("b") > out("a"))
  }

  test("anf: neighborhood function nondecreasing in radius, exactly deterministic") {
    import spark.implicits._
    // 64-node directed chain: node i reaches nodes i+1..i+r within radius r,
    // so the true neighborhood function grows every round for r <= rounds
    val edges = (0 until 63).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      .toDF("src", "dst")
    val got = KgGraph.anf(edges, rounds = 4, trials = 8).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(0, 1, 2, 3, 4))
    val nf = got.map(_._2)
    // FM sketches of MONOTONE sets: per-node estimates never decrease, and
    // on a chain the union genuinely grows — the curve must climb
    for (i <- 1 until nf.length)
      assert(nf(i) >= nf(i - 1), s"nf decreased at r=$i: ${nf.toSeq}")
    assert(nf.last > nf.head, s"chain curve failed to grow: ${nf.toSeq}")
    // bitwise-OR aggregation is order-free: a second run is EXACTLY equal
    val again = KgGraph.anf(edges, rounds = 4, trials = 8).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    assert(again.toSeq === nf.toSeq)
  }

  test("transeEpochs: loss trajectory strictly decreasing over 2 epochs") {
    import spark.implicits._
    val facts = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6) ++ (if (s % 3 == 0) Seq((s + 2) % 6) else Nil)
    } yield (s"page$s", "hasAnnotation", s"C$o")).toDF("subj", "pred", "obj")
    val got = graft.ops.KgEmbed.transeEpochs(facts, epochs = 2).collect()
      .map(r => (r.getInt(0), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(0, 1, 2))
    val loss = got.map(_._2)
    assert(loss(1) < loss(0) && loss(2) < loss(1),
      s"loop failed to keep learning: ${loss.toSeq}")
    // epoch 0/1 must equal transeStep's before/after (same chain, two views)
    val step = graft.ops.KgEmbed.transeStep(facts).collect().head
    assert(step.getDouble(3) === loss(0) && step.getDouble(4) === loss(1))
  }

  test("conceptNeighbors: k per concept, ranked by distance, deterministic") {
    import spark.implicits._
    val facts = (for {
      s <- 0 until 12
      o <- Seq(s % 6, (s + 1) % 6)
    } yield (s"page$s", "hasAnnotation", s"C$o")).toDF("subj", "pred", "obj")
    val got = graft.ops.KgEmbed.conceptNeighbors(facts, epochs = 2, k = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // 6 concepts × 3 neighbors, none its own neighbor
    assert(got.length === 18)
    assert(got.forall { case (c, n, _, _) => c != n })
    // within each concept: ranks 1..3 with non-decreasing distance
    got.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === Seq(1L, 2L, 3L))
      assert(byRank.sliding(2).forall(p => p.head._3 <= p.last._3))
    }
    // squared-L2 is symmetric: any mutual top-k pair agrees on the distance
    val d = got.map { case (c, n, dist, _) => (c, n) -> dist }.toMap
    for (((c, n), dist) <- d; back <- d.get((n, c))) assert(back === dist)
    // hash init + fixed-order arithmetic: a second run is EXACTLY equal
    val again = graft.ops.KgEmbed.conceptNeighbors(facts, epochs = 2, k = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(again.sortBy(r => (r._1, r._4)).toSeq ===
      got.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("milneWitten: distance formula, omnipresent-concept pairs dropped") {
    import spark.implicits._
    // 4 docs; A in {1,2,3}, B in {2,3}; C and D in EVERY doc
    val ann = Seq(
      ("u1", "A"), ("u1", "C"), ("u1", "D"),
      ("u2", "A"), ("u2", "B"), ("u2", "C"), ("u2", "D"),
      ("u3", "A"), ("u3", "B"), ("u3", "C"), ("u3", "D"),
      ("u4", "C"), ("u4", "D")).toDF("url", "class_iri")
    val got = KgGraph.milneWitten(ann).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // only the pair whose SMALLER df = N (both omnipresent) has a zero
    // denominator: (C, D) dropped; pairs with one omnipresent side remain
    assert(got.keySet === Set(("A", "B"), ("A", "C"), ("A", "D"),
      ("B", "C"), ("B", "D")))
    val (common, nA, nB, mw) = got(("A", "B"))
    assert((common, nA, nB) === (2L, 3L, 2L))
    val expect = (math.log(3.0) - math.log(2.0)) /
      (math.log(4.0) - math.log(2.0))
    assert(mw === math.rint(expect * 1e6) / 1e6)
  }

  test("conductance: hand-checked cut/vol/phi + trivial-cut NULL") {
    import spark.implicits._
    // A—B (3), C—D (2), bridge B—C (1): 2m = 12
    val g = Seq(("A", "B", 3L), ("C", "D", 2L), ("B", "C", 1L))
      .toDF("src", "dst", "n_docs")
    val comm = Seq(("A", "P"), ("B", "P"), ("C", "Q"), ("D", "Q"))
      .toDF("class_iri", "community")
    val got = KgGraph.conductance(g, comm).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // P = {A,B}: vol 3 + 4 = 7, cut 1, phi = 1/min(7, 5) = 0.2
    // Q = {C,D}: vol 3 + 2 = 5, cut 1, phi = 1/min(5, 7) = 0.2
    assert(got === Map("P" -> ((2L, 1L, 7L, 0.2)), "Q" -> ((2L, 1L, 5L, 0.2))))
    // whole-graph community: cut 0, vol = 2m → min(vol, 2m − vol) = 0 →
    // phi is NULL (the trivial cut has no conductance)
    val one = comm.select(col("class_iri"), lit("all").as("community"))
    val trivial = KgGraph.conductance(g, one).collect()
    assert(trivial.length === 1 && trivial.head.getLong(2) === 0L &&
      trivial.head.isNullAt(4))
  }

  test("attackRobustness: hand-checked hub removal — the star shatters, " +
       "the pair survives") {
    import spark.implicits._
    // star into h (in-degree 3) + a detached pair x→y
    val e = Seq(("a", "h"), ("b", "h"), ("c", "h"), ("x", "y"))
      .toDF("src", "dst")
    val got = KgGraph.attackRobustness(e, ks = Seq(0, 1)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // k=0: giant {a,b,c,h} of 6 nodes; k=1 removes h (top in-degree) →
    // a/b/c isolate, the giant is {x,y} of the 5 left
    assert(got === Map(0 -> ((6L, 4L, 0.666667)), 1 -> ((5L, 2L, 0.4))))
  }

  test("frequentTriples: hand-checked Apriori — closure-pruned candidates, " +
       "fractional support floor") {
    import spark.implicits._
    val ann = Seq(
      ("d1", "a"), ("d1", "b"), ("d1", "c"),
      ("d2", "a"), ("d2", "b"), ("d2", "c"),
      ("d3", "a"), ("d3", "b"), ("d3", "d"),
      ("d4", "e")).toDF("url", "class_iri")
    // universe 4 docs, minSup = ceil(0.5·4) = 2: pairs ab(3) ac(2) bc(2)
    // qualify, ad/bd(1) don't → the only closure-complete candidate is
    // (a,b,c), supported by d1/d2
    val got = KgGraph.frequentTriples(ann, minSupFrac = 0.5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(("a", "b", "c", 2L)))
  }

  test("attackRobustness random: hash-ordered removal, hand-derived " +
       "expectation; richClub: triangle+pendant hand values") {
    import spark.implicits._
    val e = Seq(("a", "h"), ("b", "h"), ("c", "h"), ("x", "y"))
      .toDF("src", "dst")
    val nodes = Seq("a", "b", "c", "h", "x", "y")
    val removed = nodes.minBy(n => (graft.ops.Sketch.hash60Scalar(n), n))
    val expGiant = removed match {
      case "h" => 2L                 // star shatters, pair survives
      case "x" | "y" => 4L           // star survives whole
      case _ => 3L                   // one leaf gone, star of 3 remains
    }
    val got = KgGraph.attackRobustness(e, ks = Seq(0, 1), random = true)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0) === ((6L, 4L)))
    assert(got(1) === ((5L, expGiant)), s"removed=$removed")
    // rich club: triangle {a,b,c} + pendant c—d → degrees 2/2/3/1;
    // k=1 club {a,b,c} is the complete triangle (phi 1.0); k=2 club {c}
    // is a singleton → NULL
    val rc = KgGraph.richClub(Seq(("a", "b"), ("a", "c"), ("b", "c"),
        ("c", "d")).toDF("src", "dst"), ks = Seq(1, 2)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(rc === Map(1 -> ((3L, 3L, 1.0)), 2 -> ((1L, 0L, -1.0))))
  }

  test("landmarkDistances: hand-checked stretch, the d(l,l)=0 leg, and " +
       "the no-landmark-path null") {
    import spark.implicits._
    // s→v direct; s→a→l→v the landmark detour
    val e = Seq(("s", "v"), ("s", "a"), ("a", "l"), ("l", "v"))
      .toDF("src", "dst")
    val got = KgGraph.landmarkDistances(e, Seq("s").toDF("node"),
        Seq("l").toDF("node")).collect()
      .map(r => r.getString(1) ->
        (r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toMap
    assert(got === Map(
      "v" -> ((1, 3, 3.0)),  // exact 1, via-landmark 2+1 — stretch 3
      "l" -> ((2, 2, 1.0)),  // the d(l,l)=0 leg makes the bound tight
      "a" -> ((1, -1, -1.0)))) // l never reaches a → no estimate
  }

  test("pageRankDirected residual: a symmetric 2-cycle is at its fixpoint " +
       "from round 1 — zero micro-residual between any two depths") {
    import spark.implicits._
    val e = Seq(("a", "b", 1L), ("b", "a", 1L))
      .toDF("src", "dst", "n_links")
    def micro(iters: Int) = KgGraph.pageRankDirected(e, iters)
      .select(col("page"),
        round(col("pagerank") * lit(1e6)).cast("long").as("m"))
    val d = micro(5).withColumnRenamed("m", "m5")
      .join(micro(6).withColumnRenamed("m", "m6"), "page")
      .agg(sum(abs(col("m5") - col("m6"))).as("l1")).collect().head
    assert(d.getLong(0) === 0L)
  }

  test("coreness: triangle+pendant and 4-clique hand values; consistent " +
       "with kcore membership") {
    import spark.implicits._
    // triangle {a,b,c} + pendant c—d, plus a separate 4-clique {w,x,y,z}
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("w", "x"), ("w", "y"), ("w", "z"), ("x", "y"), ("x", "z"),
      ("y", "z")).toDF("src", "dst")
    val got = KgGraph.coreness(e).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L,
      "w" -> 3L, "x" -> 3L, "y" -> 3L, "z" -> 3L))
    // cross-op consistency: the k-core subgraph's nodes are exactly the
    // nodes with coreness >= k
    val in2core = KgGraph.kcore(e, 2).collect().map(_.getString(0)).toSet
    assert(in2core === got.filter(_._2 >= 2L).keySet)
    // both orientations of one edge must not double-count degrees
    val dup = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val got2 = KgGraph.coreness(dup).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 === got)
  }

  test("coreness: empty and all-self-loop edge sets give an empty result, stable schema") {
    import spark.implicits._
    val schema = KgGraph.coreness(Seq(("a", "b")).toDF("src", "dst")).schema
    for (e <- Seq(Seq.empty[(String, String)].toDF("src", "dst"),
        Seq(("a", "a"), ("b", "b")).toDF("src", "dst"))) {
      val got = KgGraph.coreness(e)
      assert(got.collect().isEmpty)
      assert(got.schema === schema)
    }
  }

  test("simRank: hand-unrolled 3 rounds on a crafted digraph + hub cap") {
    import spark.implicits._
    // u→a u→b v→b v→c a→u b→v: I(a)={u} I(b)={u,v} I(c)={v} I(u)={a} I(v)={b}
    // r1: s(a,b) = s(b,c) = 0.8/2 = 0.4, everything else 0
    // r2: unchanged except s(u,v) = 0.8·s1(a,b) = 0.32
    // r3: s(a,b) = 0.4·(1 + 0.32) = 0.528 = s(b,c);
    //     s(a,c) = 0.8·s2(u,v) = 0.256; s(u,v) = 0.8·s2(a,b) = 0.32
    val e = Seq(("u", "a"), ("u", "b"), ("v", "b"), ("v", "c"),
      ("a", "u"), ("b", "v")).toDF("src", "dst")
    val got = KgGraph.simRank(e, iters = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got === Map(("a", "b") -> 0.528, ("b", "c") -> 0.528,
      ("a", "c") -> 0.256, ("u", "v") -> 0.32))
    // hub cap: degCap = 1 drops b (in-degree 2) as a target; without
    // s(a,b)-style evidence no off-diagonal pair ever exceeds 0
    assert(KgGraph.simRank(e, iters = 3, degCap = 1).count() === 0L)
  }
}
