package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Structured Streaming surface: watermarked windowed agg + keyed state via
  * mapGroupsWithState, driven through MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked hourly aggregation over a real stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.hourlyCounts(events).writeStream
      .format("memory").queryName("hourly_test").outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 4.0))
      query.processAllAvailable()
      val rows = spark.table("hourly_test")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 4.0)))
    } finally query.stop()
  }

  test("sliding windows over a real stream == batch slidingCounts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.slidingCounts(events).writeStream
      .format("memory").queryName("sliding_test").outputMode("complete").start()
    try {
      val data = Seq(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:20:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 4.0))
      input.addData(data: _*)
      query.processAllAvailable()
      val streamed = spark.table("sliding_test")
        .collect().map(_.toSeq).toSet
      val batch = EventStream.slidingCounts(
        data.toDF("ts", "event_type", "value"))
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      // each event sits in exactly 4 windows: 10:05 click → starts 09:15..10:00
      val clickWindows = spark.table("sliding_test")
        .filter(col("event_type") === "click" && col("n_events") >= 1)
        .count()
      assert(clickWindows === 5) // 2 events, 4 windows each, 3 shared
    } finally query.stop()
  }

  test("streaming exact dedup: cross-batch duplicates dropped, state keyed by hash") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val query = EventStream.dedupStream(docs).writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "alpha beta"),
        (ts("2024-01-01 10:01:00"), 2L, "gamma delta"),
        (ts("2024-01-01 10:02:00"), 3L, "alpha beta")) // in-batch dup of 1
      query.processAllAvailable()
      input.addData(
        (ts("2024-01-01 10:10:00"), 4L, "gamma delta"), // cross-batch dup of 2
        (ts("2024-01-01 10:11:00"), 5L, "epsilon"))
      query.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      // one survivor per distinct content; within-watermark dups dropped
      assert(kept.contains(5L))
      assert((kept - 5L).size === 2, kept.toString)
      assert(!(kept.contains(1L) && kept.contains(3L)))
      assert(!(kept.contains(2L) && kept.contains(4L)))
      // output schema untouched (hash columns are internal)
      assert(spark.table("dedup_stream").columns.toSeq === Seq("ts", "doc_id", "text"))
    } finally query.stop()
  }

  test("mapGroupsWithState: per-user running totals accumulate across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val query = EventStream.userRunningTotals(input.toDS()).writeStream
      .format("memory").queryName("user_totals").outputMode("update").start()
    try {
      input.addData(EventStream.Event(1, ts("2024-01-01 00:00:00"), 7, "click", 10.0))
      query.processAllAvailable()
      input.addData(EventStream.Event(2, ts("2024-01-01 00:01:00"), 7, "click", 5.0))
      query.processAllAvailable()
      val last = spark.table("user_totals")
        .filter(col("user_id") === 7)
        .orderBy(col("n_events").desc).head()
      assert(last.getLong(1) === 2L)
      assert(last.getDouble(2) === 15.0)
    } finally query.stop()
  }

  test("streaming annotate: fused scan lifts to readStream unchanged") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.annotate.NativeAnnotate
    import graft.dict.{AutomatonBuild, DictBuild}
    import graft.fixture.OntologyFixture
    import graft.graph.Closure

    val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
    val model = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
    val closure = Closure.transitiveClosure(OntologyFixture.edgesDf(spark), 5)
    val maps = spark.sparkContext.broadcast(
      NativeAnnotate.expansionMaps(closure, OntologyFixture.mappingsDf(spark), 5))

    val input = MemoryStream[(String, String)]
    val docs = input.toDF().toDF("url", "text")
    val query = NativeAnnotate.annotateTriples(docs, model, maps, "v1").writeStream
      .format("memory").queryName("stream_triples").outputMode("append").start()
    try {
      input.addData(("doc://s1", "the hash join beats a merge sort"))
      query.processAllAvailable()
      input.addData(("doc://s2", "table scan and spark"))
      query.processAllAvailable()
      val got = spark.table("stream_triples")
        .select("subj", "pred", "obj")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val expected = graft.oracle.ReferenceOracle.goldenTriples(Seq(
        ("doc://s1", "the hash join beats a merge sort"),
        ("doc://s2", "table scan and spark")))
      assert(got === expected)
      assert(got.nonEmpty)
    } finally query.stop()
  }

  test("blue/green dictionary swap between microbatches (zero downtime)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.dict.{AutomatonBuild, DictBuild}
    import graft.fixture.OntologyFixture
    import graft.streaming.DictSwapStream

    val c = OntologyFixture.conceptsDf(spark)
    val v1 = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark,
      DictBuild.build(DictBuild.labelRows(c)), "v1"))
    // green side: rebuilt WITHOUT ONT2 — post-swap batches must stop
    // emitting ONT2 annotations while pre-swap output keeps them
    val v2 = AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark,
      DictBuild.build(DictBuild.labelRows(c.filter(col("ont") === "ONT1"))), "v2"))

    val live = new DictSwapStream.LiveDict(v1)
    val input = MemoryStream[(String, String)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, String)]()
    val query = DictSwapStream.start(input.toDF().toDF("url", "text"), live,
      (df, _) => df.select("url", "class_iri", "ont", "dict_version").collect()
        .foreach(r => out.add((r.getString(0), r.getString(1), r.getString(2), r.getString(3)))))
    try {
      val text = "the hash join beats a merge sort" // ONT1 + ONT2 matches
      input.addData(("doc://pre", text))
      query.processAllAvailable()
      live.swap(v2) // atomic flip; NO stream restart
      input.addData(("doc://post", text))
      query.processAllAvailable()
      val rows = out.toArray(Array.empty[(String, String, String, String)]).toSet
      val pre = rows.filter(_._1 == "doc://pre")
      val post = rows.filter(_._1 == "doc://post")
      assert(pre.forall(_._4 == "v1") && post.forall(_._4 == "v2"))
      assert(pre.exists(_._3 == "ONT2") && pre.exists(_._3 == "ONT1"))
      assert(post.nonEmpty && post.forall(_._3 == "ONT1"))
      // same text, so the ONT1 concept set must be identical across versions
      assert(pre.filter(_._3 == "ONT1").map(_._2) === post.map(_._2))
    } finally query.stop()
  }

  test("manifest-following stream picks up an on-disk blue/green flip") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.dict.{DictBuild, DictVersioning}
    import graft.fixture.OntologyFixture
    import graft.streaming.DictSwapStream

    val base = java.nio.file.Files.createTempDirectory("graft-bg").toString
    val c = OntologyFixture.conceptsDf(spark)
    val dictV1 = DictBuild.build(DictBuild.labelRows(c))
    DictVersioning.writeSnapshot(dictV1, base, "v1")
    DictVersioning.activate(base, "v1")

    val input = MemoryStream[(String, String)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val query = DictSwapStream.startFollowingManifest(
      input.toDF().toDF("url", "text"), base,
      (df, _) => df.select("url", "ont", "dict_version").collect()
        .foreach(r => out.add((r.getString(0), r.getString(1), r.getString(2)))))
    try {
      val text = "the hash join beats a merge sort"
      input.addData(("doc://pre", text))
      query.processAllAvailable()
      // offline rebuild (green side) + atomic pointer flip — no stream restart
      val dictV2 = DictBuild.build(DictBuild.labelRows(c.filter(col("ont") === "ONT1")))
      DictVersioning.writeSnapshot(dictV2, base, "v2")
      DictVersioning.activate(base, "v2")
      input.addData(("doc://post", text))
      query.processAllAvailable()
      val rows = out.toArray(Array.empty[(String, String, String)]).toSet
      val pre = rows.filter(_._1 == "doc://pre")
      val post = rows.filter(_._1 == "doc://post")
      assert(pre.forall(_._3 == "v1") && post.forall(_._3 == "v2"))
      assert(pre.exists(_._2 == "ONT2"))
      assert(post.nonEmpty && post.forall(_._2 == "ONT1"))
    } finally query.stop()
  }

  test("incremental swap stream: only delta-affected docs re-annotate; state == full v2") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.dict.{DictBuild, DictVersioning}
    import graft.fixture.OntologyFixture
    import graft.streaming.DictSwapStream

    val base = java.nio.file.Files.createTempDirectory("graft-incbg").toString
    val store = java.nio.file.Files.createTempDirectory("graft-incstore").toString
    val c1 = OntologyFixture.conceptsDf(spark)
    val c2 = OntologyFixture.conceptsV2Df(spark) // drop 'query' syns, big data→bigdata, +ONT3 filter
    DictVersioning.writeSnapshot(DictBuild.build(DictBuild.labelRows(c1)), base, "v1")
    DictVersioning.activate(base, "v1")

    val input = MemoryStream[(String, String)]
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var swapAffected: Set[String] = null
    @volatile var swapRe: Set[String] = null
    val query = DictSwapStream.startIncrementalFollowingManifest(
      input.toDF().toDF("url", "text"), base, store,
      (df, _) => df.select("url", "dict_version").collect()
        .foreach(r => sunk.add((r.getString(0), r.getString(1)))),
      (affected, re, v) => {
        swapAffected = affected.collect().map(_.getString(0)).toSet
        swapRe = re.select("url").collect().map(_.getString(0)).toSet
        assert(v === "v2")
      })
    try {
      // doc A is touched by the delta (big data → bigdata); doc B is not
      input.addData(
        ("doc://a", "big data needs a hash join"),
        ("doc://b", "the hash join beats a merge sort"))
      query.processAllAvailable()
      // offline rebuild + atomic flip, NO stream restart
      DictVersioning.writeSnapshot(DictBuild.build(DictBuild.labelRows(c2)), base, "v2")
      DictVersioning.activate(base, "v2")
      // post-flip doc exercises the ADDED ONT3 'filter' concept
      input.addData(("doc://c", "filter the merge sort"))
      query.processAllAvailable()

      // the correction pass touched ONLY the delta-affected doc
      assert(swapAffected === Set("doc://a"))
      assert(swapRe.subsetOf(swapAffected))
      // final persisted state (latest epoch) == a FULL v2 annotation of
      // every doc the stream ever saw — the Incremental batch contract
      val all = Seq(
        ("doc://a", "big data needs a hash join"),
        ("doc://b", "the hash join beats a merge sort"),
        ("doc://c", "filter the merge sort")).toDF("url", "text")
      val m2 = graft.dict.AutomatonBuild.broadcastModel(spark,
        graft.dict.AutomatonBuild.build(spark,
          DictBuild.build(DictBuild.labelRows(c2)), "v2"))
      val want = graft.annotate.NativeAnnotate.annotateMatches(all, m2)
        .collect().map(_.toSeq).toSet
      val state = spark.read.parquet(s"$store/matches/epoch=1")
      assert(state.select("dict_version").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("v2"))
      assert(state.drop("dict_version", "src").collect().map(_.toSeq).toSet === want)
      // durable state manifest: epoch + last-seen version survive a restart
      val st = scala.io.Source.fromFile(s"$store/state").mkString.trim
      assert(st === "1 v2")
      // post-swap sink batches carried v2; pre-swap carried v1
      val byUrl = sunk.toArray(Array.empty[(String, String)]).groupBy(_._1)
      assert(byUrl("doc://a").forall(_._2 == "v1"))
      assert(byUrl("doc://c").forall(_._2 == "v2"))
    } finally query.stop()
  }

  test("stream-stream discovery→fetch join: bound enforced, == batch twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val dIn = MemoryStream[(String, Timestamp)]
    val fIn = MemoryStream[(String, Timestamp)]
    val joined = EventStream.discoveryFetchJoin(
      dIn.toDF().toDF("url", "ts"), fIn.toDF().toDF("url", "ts"))
    val query = joined.writeStream.format("memory")
      .queryName("sj_test").outputMode("append").start()
    try {
      dIn.addData(("u1", ts(0)), ("u3", ts(0)))
      fIn.addData(("u1", ts(10)), // within 30 min → joins
        ("u2", ts(5)))            // never discovered → no row
      query.processAllAvailable()
      fIn.addData(("u3", ts(45))) // 45 min after discovery → out of bound
      query.processAllAvailable()
      val got = spark.table("sj_test")
        .select("url", "latency_us").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === Set(("u1", 600000000L)))
      // batch parity: the same op over batch frames yields the same rows
      val d = Seq(("u1", ts(0)), ("u3", ts(0))).toDF("url", "ts")
      val f = Seq(("u1", ts(10)), ("u2", ts(5)), ("u3", ts(45))).toDF("url", "ts")
      val batch = EventStream.discoveryFetchJoin(d, f)
        .select("url", "latency_us").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(batch === got)
    } finally query.stop()
  }

  test("batch/stream plan parity: hourlyCounts works unchanged on a batch DF") {
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = EventStream.hourlyCounts(batch)
    assert(out.columns.toSeq ===
      Seq("window_start", "event_type", "n_events", "total_value"))
    assert(out.count() > 0)
  }

  test("link extraction runs UNCHANGED on a stream (map-only ⇒ stream-safe)") {
    // continuous-crawl ingest: the same LinkGraph.links plan over
    // readStream — no code fork between batch and streaming extraction
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val pageRows = Seq(
      ("https://www.A.org/x",
        """<a href="https://b.org/p?utm_s=1&id=2">b</a><a href="/rel">r</a>"""),
      ("https://c.org/y", "<p>no links</p>"))
    val input = MemoryStream[(String, String)]
    val query = graft.ops.LinkGraph.links(input.toDF().toDF("url", "html"))
      .writeStream.format("memory").queryName("links_stream")
      .outputMode("append").start()
    try {
      input.addData(pageRows: _*)
      query.processAllAvailable()
      val got = spark.table("links_stream").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
      val batch = graft.ops.LinkGraph.links(
          pageRows.toDF("url", "html")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
      assert(got === batch && got.size === 2)
    } finally query.stop()
  }

  test("session windows over a real stream == batch sessionize; strict-< gap merge") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = EventStream.sessionize(events).writeStream
      .format("memory").queryName("sessions_test").outputMode("complete").start()
    try {
      val data = Seq(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:10:00"), 1L, 2.0), // 10 min gap → same session
        (ts("2024-01-01 11:00:00"), 1L, 4.0), // 50 min gap → new session
        (ts("2024-01-01 10:30:00"), 2L, 8.0),
        (ts("2024-01-01 11:00:00"), 2L, 16.0)) // EXACTLY the 30-min gap →
      // still MERGES (session_window is inclusive at the boundary)
      input.addData(data: _*)
      query.processAllAvailable()
      val streamed = spark.table("sessions_test").collect().map(_.toSeq).toSet
      val batchDf = EventStream.sessionize(data.toDF("ts", "user_id", "value"))
      assert(streamed === batchDf.collect().map(_.toSeq).toSet)
      val b = batchDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4)))
      val min30 = 30L * 60 * 1000000
      // tz-neutral assertions on session SHAPES (bounds as deltas)
      val u1 = b.filter(_._1 == 1L).sortBy(_._2)
      assert(u1.map(s => (s._3 - s._2, s._4, s._5)).toSeq ===
        Seq((40L * 60 * 1000000, 2L, 3.0), (min30, 1L, 4.0)))
      val u2 = b.filter(_._1 == 2L).sortBy(_._2)
      // one merged session spanning 10:30 → 11:00 + gap
      assert(u2.map(s => (s._3 - s._2, s._4, s._5)).toSeq ===
        Seq((min30 + min30, 2L, 24.0)))
    } finally query.stop()
  }

  test("anomalyStream: zero-filled outage hour flagged; stream == batch q_anomaly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = 1700000000L / 3600 * 3600
    def ts(h: Int, m: Int = 0) = new Timestamp((base + h * 3600L + m * 60L) * 1000L)
    // six warm-up hours with counts 9,10,11,9,10,11 → mu=10, sample sd=√0.8;
    // hour 6 has NO events (the outage); the hour-7 event closes it as zero
    val warm = (0 until 6).flatMap { h =>
      val c = Seq(9, 10, 11)(h % 3)
      (0 until c).map(i =>
        EventStream.Event(h * 100L + i, ts(h, i % 50), 1L, "err", 1.0))
    }
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.anomalyStream(input.toDS()).writeStream
      .format("memory").queryName("anom").outputMode("update").start()
    try {
      input.addData(warm: _*)
      q.processAllAvailable()
      assert(spark.table("anom").collect().isEmpty) // every hour has <6 priors
      input.addData(EventStream.Event(999L, ts(7), 1L, "err", 1.0))
      q.processAllAvailable()
      val got = spark.table("anom").collect().map(r =>
        (r.getString(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))
      assert(got.length === 1)
      val (tpe, hour, n, z, flagged) = got.head
      assert(tpe === "err" && n === 0L && flagged && hour === ts(6))
      assert(math.abs(z - (-10.0 / math.sqrt(0.8))) < 1e-5, z)
    } finally q.stop()

    // real events: one in-order pass == the batch q_anomaly result with
    // each type's final (never-closed) grid hour excluded
    val evs = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Event].collect().sortBy(_.ts.getTime)
    val input2 = MemoryStream[EventStream.Event]
    val q2 = EventStream.anomalyStream(input2.toDS()).writeStream
      .format("memory").queryName("anom2").outputMode("update").start()
    val streamed = try {
      input2.addData(evs: _*)
      q2.processAllAvailable()
      spark.table("anom2").collect().map(r =>
        (r.getString(0), r.getTimestamp(1)) ->
          (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    } finally q2.stop()
    val lastHour = evs.groupBy(_.event_type)
      .map { case (t, es) => t -> es.map(_.ts.getTime / 3600000L * 3600000L).max }
    val batch = SparkEntry.queries("q_anomaly")(spark, "/root/testdata/sf0.001")
      .collect().map(r =>
        (r.getString(0), r.getTimestamp(1)) ->
          (r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .filter { case ((t, h), _) => h.getTime < lastHour(t) }
      .toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, (n, z, fl)) =>
      val (bn, bz, bfl) = batch(k)
      assert(n === bn && fl === bfl, k)
      assert(math.abs(z - bz) < 1e-5, s"$k: $z vs $bz")
    }
  }

  test("anomalyClosedHours: registry wrapper == batch q_anomaly minus final hours") {
    import spark.implicits._
    // the stream_anomaly_hours surface, driven through the public wrapper:
    // deterministic (one in-order MemoryStream batch), repeatable (the
    // sink temp view is dropped per run), and equal to the batch grid with
    // each type's never-closed final hour excluded — the oracle contract
    val dir = "/root/testdata/sf0.001"
    def evts = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .as[EventStream.Event]
    def run() = EventStream.anomalyClosedHours(evts).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val a = run()
    val b = run() // second run must not trip on sink-view reuse
    assert(a === b)
    val lastHour = evts.collect()
      .groupBy(_.event_type)
      .map { case (t, es) =>
        t -> es.map(_.ts.getTime / 3600000L * 3600000L).max
      }
    val batch = SparkEntry.queries("q_anomaly")(spark, dir)
      .collect().map(r =>
        (r.getString(0), r.getTimestamp(1)) ->
          (r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .filter { case ((t, h), _) => h.getTime < lastHour(t) }
      .toMap
    assert(a.keySet === batch.keySet)
    a.foreach { case (k, (n, z, fl)) =>
      val (bn, bz, bfl) = batch(k)
      assert(n === bn && fl === bfl, k)
      assert(math.abs(z - bz) < 1e-9, s"$k: $z vs $bz")
    }
  }

  test("registry gate: every query has an oracle and vice versa") {
    // the 1:1 cross-check fires inside the oracleSql lazy val; touching
    // both surfaces here keeps the gate exercised in every suite run
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.nonEmpty)
  }

  test("heavyHitters: Misra-Gries guarantees, state bounded at capacity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    // one shard so the capacity bound is exercised deterministically
    val query = EventStream.heavyHitters(input.toDS(), capacity = 2,
        nShards = 1).writeStream
      .format("memory").queryName("hh").outputMode("update").start()
    try {
      // N = 16: 'a'×8, 'b'×5, then 3 distinct singletons that must not
      // evict the heavy items (each triggers a decrement-all instead)
      input.addData(Seq.fill(8)("a") ++ Seq.fill(5)("b") ++
        Seq("x", "y", "z"): _*)
      query.processAllAvailable()
      val got = spark.table("hh").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      // bounded state: never more than capacity entries
      assert(got.size <= 2, got)
      // any value with true freq > N/(c+1) = 16/3 must be present
      assert(got.contains("a") && got.contains("b"), got)
      // estimates undercount by at most N/(c+1)
      assert(got("a") <= 8 && got("a") >= 8 - 16 / 3, got)
      assert(got("b") <= 5 && got("b") >= 5 - 16 / 3, got)
      // a second batch keeps counting against the SAME bounded state
      input.addData(Seq.fill(4)("a"): _*)
      query.processAllAvailable()
      val got2 = spark.table("hh").collect()
        .groupBy(_.getString(1))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).max }
      assert(got2("a") >= got("a") + 4 - 1 && got2("a") <= got("a") + 4, got2)
    } finally query.stop()
  }
}
