package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Corpus, Expand, Filters, Scoring}
import graft.dict.{AnnotatorModel, AutomatonBuild, DictBuild}
import graft.emit.Triples
import graft.fixture.OntologyFixture
import graft.graph.Closure
import graft.ops.{AsOf, Dedup, LinkGraph, Multimodal, RangeJoin, Sampling, Similarity, Sketch, TextOps, WebOps}
import graft.streaming.EventStream

import graft.SparkEntry._

/** core-tier slice of the driver registry —
  * moved verbatim out of SparkEntry (round-5 hygiene split; the Seq→Map
  * assembly, duplicate gate and 1:1 queries↔oracles check stay in
  * [[SparkEntry]]). Shared helpers live on SparkEntry as
  * `private[graft]` members. 50 queries / 50 oracles. */
private[graft] object CoreTier {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ANALYZE-style per-column table statistics (the CBO input surface):
    // ONE pass over the table computes every column's row/non-null/exact-NDV
    // counts + min/max (stringified to unify the long-format schema), then a
    // driver-free unpivot into (column_name, ...) rows
    // functional-dependency discovery (the profiling pass next to
    // q_table_stats' ANALYZE): FD lhs→rhs holds iff ndv(lhs) ==
    // ndv(lhs ∪ rhs) — ALL candidates on one table cost ONE aggregation
    // pass (multi-distinct plans as Expand: ×2·candidates row multiplier
    // map-side, the documented profiling trade — never one scan per FD)
    "q_fd_discovery" -> ((s, dir) =>
      FdCandidates.groupBy(_._1).toSeq.sortBy(_._1).map { case (tbl, cands) =>
        val df = s.read.parquet(s"$dir/$tbl.parquet")
        val aggs = cands.zipWithIndex.flatMap { case ((_, lhs, rhs), i) =>
          Seq(count_distinct(struct(lhs.map(col): _*)).as(s"l$i"),
            count_distinct(struct((lhs :+ rhs).map(col): _*)).as(s"p$i"))
        }
        df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(cands.zipWithIndex.map {
            case ((t, lhs, rhs), i) =>
              struct(lit(t).as("tbl"), lit(lhs.mkString("+")).as("lhs"),
                lit(rhs).as("rhs"), col(s"l$i").as("n_lhs"),
                col(s"p$i").as("n_pairs"),
                (col(s"l$i") === col(s"p$i")).as("holds"))
          }: _*)).as("r"))
          .select("r.*")
      }.reduce(_ unionByName _)),

    "q_table_stats" -> ((s, dir) => {
      val statCols = Seq("lang", "source", "n_chars")
      val d = s.read.parquet(s"$dir/documents.parquet")
      val agg = d.agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c => Seq(
          count(col(c)).as(s"nn_$c"),
          count_distinct(col(c)).as(s"ndv_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))): _*)
      statCols.map(c => agg.select(lit(c).as("column_name"),
          col("n_rows"), col(s"nn_$c").as("n_nonnull"),
          col(s"ndv_$c").as("ndv"), col(s"min_$c").as("min_value"),
          col(s"max_$c").as("max_value")))
        .reduce(_ unionByName _)
    }),

    // TPC-H-ish operator coverage: pushed-down filter + hash aggregate
    "q_pushdown_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))),

    // broadcast join chain + aggregate + having
    "q_join_nation" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_revenue"))
        .filter(col("n_orders") > 10)
    }),

    // window top-k per key
    "q_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    }),

    // grouping sets: rollup subtotals over the agg keys
    "q_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))),

    // gap-based sessionization: lag + windowed cumulative sum + per-session agg
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        // ts is TIMESTAMP_NTZ → go via TIMESTAMP (session TZ pinned to UTC)
        .withColumn("gap_s",
          col("ts").cast("timestamp").cast("long")
            - lag(col("ts"), 1).over(w).cast("timestamp").cast("long"))
        .withColumn("new_session",
          when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
    }),

    // grouping sets: full CUBE over the agg keys (ROLLUP's big sibling)
    "q_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))),

    // explicit GROUPING SETS (the general form ROLLUP/CUBE special-case):
    // mixed granularities in one pass — SQL form (the DataFrame API has no
    // grouping-sets builder), same text as the oracle
    "q_grouping_sets" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("lineitem_gsets")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
             ROUND(SUM(l_quantity), 2) AS sum_qty
           FROM lineitem_gsets
           GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                   (l_linestatus), ())""")
    }),

    // pivot: per-user event-type counts as columns. Spark's pivot with an
    // EXPLICIT value list compiles to conditional aggregation — one
    // shuffle, no second pass to discover distinct values (the implicit
    // form's extra job is the scale trap)
    "q_pivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // ranking-function windows: ntile quartiles + dense_rank + percent_rank
    "q_ntile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).as("quartile"),
          dense_rank().over(w).as("drank"),
          round(percent_rank().over(w), 6).as("prank"))
    }),

    // set operation: customers with both fulfilled and open orders
    "q_setops" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    }),

    // set operation: EXCEPT (customers with fulfilled but no open orders)
    "q_except" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    }),

    // date_trunc + JSON extraction + aggregate over the events table
    "q_events_hourly" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        // sums, not avgs: a rounded avg can land on a half-even boundary where
        // Spark (BigDecimal HALF_UP on shortest repr) and DuckDB (binary
        // double) disagree; sums of 2-decimal values round identically
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))),

    // streaming-shaped windowed aggregation (same plan batch/stream)
    "stream_hourly" -> ((s, dir) =>
      EventStream.hourlyCounts(s.read.parquet(s"$dir/events.parquet"))),

    // SLIDING windows (1h every 15min — each event in exactly 4 windows);
    // the oracle re-derives the window explosion with generate_series
    "stream_sliding" -> ((s, dir) =>
      EventStream.slidingCounts(s.read.parquet(s"$dir/events.parquet"))),

    // the STREAMING tier under the driver gate: the real anomalyStream
    // (flatMapGroupsWithState, update mode) run to quiescence over the
    // bounded events slice via MemoryStream — deterministic final-state
    // projection (one in-order batch per type), == batch q_anomaly minus
    // each type's never-closed final hour. Order-sensitive surfaces
    // (heavy hitters, streaming dedup) stay spec-gated, correctly.
    "stream_anomaly_hours" -> ((s, dir) => {
      import s.implicits._
      EventStream.anomalyClosedHours(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id"), col("event_type"),
            col("value").cast("double").as("value"))
          .as[EventStream.Event])
    }),

    // as-of join, small-dim shape: which dictionary snapshot was live when
    // each event happened — sorted version list inlined as an array
    // literal, latest entry <= ts picked map-only (zero shuffle/join)
    "q_asof_version" -> ((s, dir) =>
      AsOf.withVersionAsOf(s.read.parquet(s"$dir/events.parquet"),
          "ts", DictSnapshots)
        .select(col("event_id"), col("version"))),

    // as-of join, keyed corpus-scale shape: each event's most recent
    // strictly-preceding 'click' by the same user — ONE shuffle (window on
    // user_id), no join node at all
    "q_asof_prev_click" -> ((s, dir) =>
      AsOf.lastPrecedingWhere(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("is_click", col("event_type") === "click"),
          keyCol = "user_id", tsCol = "ts", idCol = "event_id",
          predCol = "is_click", carryCol = "event_id", out = "prev_click_id")
        .select(col("event_id"), col("user_id"), col("prev_click_id"))),

    // Bloom-filter semi-join pruning (runtime-filter pattern): an 8KB
    // bitset over the single-word dictionary terms prunes the corpus's
    // word stream BEFORE any shuffle/join — membership is a codegen'd
    // predicate on portable hashes, so the oracle reconstructs the exact
    // accept set, deterministic false positives included
    "q_bloom_prune" -> ((s, dir) => {
      val dict = DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(s)))
      val terms = dict.filter(!col("term").contains(" ")).select("term")
      val words = graft.ops.Bloom.build(terms, "term", m = 4096, k = 3)
      docsTable(s, dir)
        .select(col("doc_id"), explode(split(upper(col("text")), " ")).as("word"))
        .filter(col("word") =!= "").distinct()
        .filter(graft.ops.Bloom.mightContain(col("word"), words, 4096, 3))
    }),

    // range join via bucketized equi-join (NO inequality join node): pairs
    // of same-user events within 5 minutes — the bin trick turns a
    // quadratic theta-join into one shuffled equi-join + exact post-filter
    "q_range_join" -> ((s, dir) =>
      RangeJoin.pairsWithinGap(s.read.parquet(s"$dir/events.parquet"),
        keyCol = "user_id", idCol = "event_id", tsCol = "ts",
        maxGapSec = 300)),

    // exact per-group quantiles (type-7 interpolation in BOTH engines).
    // Exact percentile is a per-group sort — fine on grouped data; the
    // 100-TB ungrouped path is approx_percentile (error-bound spec'd in
    // SketchSpec, not oracle-able across engines)
    "q_quantiles" -> ((s, dir) =>
      docsTable(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_chars, 0.25)"), 6).as("p25"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_chars, 0.75)"), 6).as("p75"),
          round(expr("percentile(n_chars, 0.95)"), 6).as("p95"))),

    // the 100-TB ungrouped-quantile path, CORRECTNESS-gated via an
    // error-bound oracle: approx_percentile (GK sketch, rank error ≤
    // n/accuracy) over the whole corpus, then the EXACT rank window of each
    // returned value ([count(<v)+1, count(≤v)]) checked in-plan against the
    // guaranteed window around ceil(pct·n). The emitted rows are (pct,
    // within_bound); the oracle pins them all true — a bound violation
    // hash-mismatches the gate. Scale shape: one agg for the sketch + one
    // pass over the corpus against the broadcast 4-row value set.
    "q_quantiles_approx" -> ((s, dir) => {
      val docs = docsTable(s, dir).select(col("n_chars").cast("double").as("x"))
      val pcts = Seq(0.25, 0.5, 0.75, 0.95)
      val acc = 100
      val appr = docs.agg(
        expr(s"approx_percentile(x, array(${pcts.map(p => s"${p}D").mkString(", ")}), $acc)")
          .as("av"),
        count(lit(1)).as("n"))
        .select(posexplode(col("av")).as(Seq("i", "v")), col("n"))
        .select(element_at(array(pcts.map(lit): _*), col("i") + 1).as("pct"),
          col("v"), col("n"))
      docs.crossJoin(broadcast(appr))
        .groupBy("pct", "v", "n")
        .agg(sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("le"),
          sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("lt"))
        .select(col("pct"),
          ((col("lt") + 1 <= ceil(col("pct") * col("n")) + col("n") / acc + 1) &&
            (col("le") >= ceil(col("pct") * col("n")) - col("n") / acc - 1))
            .as("within_bound"))
    }),

    // HLL++ approx distinct per group, CORRECTNESS-gated like the approx
    // percentiles: the engine checks the estimate against the exact count
    // in-plan (10% or ±1 — far wider than rsd 0.02; the estimate is
    // deterministic for fixed input) and the oracle pins exact_n + the
    // checked outcome, so a bound violation hash-mismatches
    "q_distinct_approx" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("est"),
          count_distinct(col("user_id")).as("exact_n"))
        .select(col("event_type"), col("exact_n"),
          (abs(col("est") - col("exact_n")) <=
            greatest(lit(1.0), lit(0.10) * col("exact_n")))
            .as("within_bound"))),

    // salted skew JOIN (the manual AQE-skew-join shape, complementing the
    // ann_stats_salted AGGREGATION): a hot join key is split across 8
    // deterministic salt buckets on the fact side while the dim side
    // replicates ×8 — each (key, salt) partition carries ~1/8 of the hot
    // key, so one executor never owns the whole celebrity key. The oracle
    // is the PLAIN join: salting must be invisible in the result
    "q_salted_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          pmod(xxhash64(col("event_id")), lit(8)).as("salt"))
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select((col("c_custkey") % 50).as("user_id"),
          col("c_mktsegment")).distinct()
        .select(col("user_id"), col("c_mktsegment"),
          explode(sequence(lit(0L), lit(7L))).as("salt"))
      ev.join(dim, Seq("user_id", "salt"))
        .groupBy("event_type", "c_mktsegment")
        .agg(count(lit(1)).as("n_events"))
    }),

    // classic star-schema rollup: the 5-way fact⋈dims join (lineitem →
    // part / supplier → nation → region) as a BROADCAST CHAIN — every dim
    // is broadcast, so the fact table never shuffles for the join; one agg
    // on short (region, brand) keys, then a top-2-per-region window over
    // the 2dp-ROUNDED revenue (rank on rounded values = deterministic)
    "q_star_revenue" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
      val agg = li
        .join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("p_brand"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
      val w = Window.partitionBy("r_name")
        .orderBy(col("revenue").desc, col("p_brand"))
      agg.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
    }),

    // pipeline-monitoring anomaly detection: per event type, each hour's
    // count against the trailing-6-hour mean/stddev → z-score + flag —
    // the ingest-volume alarm every production pipeline runs. Per-type
    // windows (bounded trailing frame), stddev_samp is the cross-engine
    // contract, 6dp round absorbs float-sum order
    "q_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      // densify: an hour with ZERO events is the primary outage signal —
      // without the grid it would produce no row, be invisible to the
      // alarm, and silently stretch the trailing window past 6 wall-clock
      // hours. Grid size = type count × observed span (bounded, per-type)
      val grid = counts.groupBy("event_type")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("hour"))
      val hourly = grid.join(counts, Seq("event_type", "hour"), "left")
        .select(col("event_type"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-6, -1)
      hourly
        .select(col("event_type"), col("hour"), col("n"),
          avg(col("n")).over(w).as("mu"),
          stddev_samp(col("n")).over(w).as("sd"),
          count(col("n")).over(w).as("n_prior"))
        .filter(col("n_prior") >= 6 && col("sd") > 0)
        .select(col("event_type"), col("hour"), col("n"),
          round((col("n") - col("mu")) / col("sd"), 6).as("z"),
          (abs((col("n") - col("mu")) / col("sd")) > 3.0).as("anomaly"))
    }),

    // Z-order layout: bit-interleaved (user, hour) keys bucketed by top
    // bits — per-bucket extents tight on BOTH dims = the data-skipping
    // evidence a table-maintenance planner consumes (companion of
    // q_compaction_plan). Pure map expression + ONE hash agg.
    "q_zorder_layout" -> ((s, dir) =>
      graft.ops.ZOrder.layoutStats(
        s.read.parquet(s"$dir/events.parquet"))),

    // MERGE INTO (the lakehouse upsert shape — Iceberg/Delta MERGE): one
    // FULL OUTER join of base and a changes batch on the row key — deletes
    // drop, updates replace, inserts flow from the right, untouched rows
    // keep. Change classes are synthesized DISJOINT (delete wins over
    // update — MERGE forbids multiple matches per target row; mirrored in
    // the oracle). At 100 TB this is exactly one key-keyed exchange per
    // side, AQE-skew-splittable.
    "q_merge_upsert" -> ((s, dir) => {
      val base = docsTable(s, dir).select(col("doc_id"), col("text"))
      val upd = base
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 4)
        .select(col("doc_id"),
          concat(col("text"), lit(" updated")).as("new_text"),
          lit("update").as("op"))
      val ins = base.filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("new page "), col("doc_id")).as("new_text"),
          lit("insert").as("op"))
      val del = base.filter(col("doc_id") % 13 === 4)
        .select(col("doc_id"), lit(null).cast("string").as("new_text"),
          lit("delete").as("op"))
      base.join(upd.unionByName(ins).unionByName(del), Seq("doc_id"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "delete")
        .select(col("doc_id"), coalesce(col("op"), lit("keep")).as("op"),
          length(coalesce(col("new_text"), col("text"))).cast("int").as("n_chars"))
    }),

    // snapshot-retention planning (Iceberg expire_snapshots shape — the
    // third table-maintenance member next to compaction and zorder): keep
    // the newest 5 snapshots per type plus everything younger than 12h of
    // the type's latest; the rest expire. Per-TYPE windows only (the
    // q_compaction_plan discipline — never a global sort).
    "q_snapshot_expire" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val snaps = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"),
          date_trunc("hour", col("ts")).as("snapshot_hour")).distinct()
      val byType = Window.partitionBy("event_type")
      snaps
        .withColumn("recency_rank",
          row_number().over(byType.orderBy(col("snapshot_hour").desc)))
        .withColumn("latest", max(col("snapshot_hour")).over(byType))
        .select(col("event_type"), col("snapshot_hour"), col("recency_rank"),
          (!(col("recency_rank") <= 5 ||
            col("snapshot_hour") >= col("latest") - expr("INTERVAL 12 HOURS")))
            .as("expire"))
    }),

    // approximate heavy hitters, CORRECTNESS-gated like the other approx
    // ops: the top-10 users by exact count are probed against the count-min
    // sketch in-plan — the CM guarantee (never undercounts; overshoot
    // bounded by colliding mass) is checked as exact ≤ est ≤ exact + 2N/w,
    // and the oracle pins the exact counts + the checked outcome, so a
    // bound violation hash-mismatches. Total N is a 1-row in-plan aggregate
    "q_topk_approx" -> ((s, dir) => {
      val cmW = 256 // ONE width for the build, the probe, AND the bound
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id").cast("string").as("v"))
      val exact = ev.groupBy("v").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("v")).limit(10)
      val est = graft.ops.Sketch.countMinEstimate(
        graft.ops.Sketch.countMin(ev, "v", w = cmW), exact.select("v"), "v",
        w = cmW)
      val tot = ev.agg(count(lit(1)).as("n_total"))
      exact.join(est, "v").crossJoin(broadcast(tot))
        .select(col("v").as("user_id"), col("exact_n"),
          (col("cm_estimate") >= col("exact_n") &&
            col("cm_estimate") <= col("exact_n")
              + lit(2.0) * col("n_total") / lit(cmW.toDouble))
            .as("within_bound"))
    }),

    // Iceberg-style compaction planning (the rewrite_data_files bin-pack):
    // per partition, files in deterministic order are packed greedily into
    // target-sized bins — bin = floor(bytes-before / target), a running-sum
    // window per partition key (synthetic file metadata: one "file" per
    // (event_type, hour) with its row count as size)
    "q_compaction_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val files = s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("file_hour"))
        .agg(count(lit(1)).as("size_rows"))
      val w = Window.partitionBy("event_type").orderBy("file_hour")
        .rowsBetween(Window.unboundedPreceding, -1)
      files.select(col("event_type"), col("file_hour"), col("size_rows"),
        floor(coalesce(sum(col("size_rows")).over(w), lit(0L)) / lit(1000L))
          .cast("int").as("bin"))
    }),

    // join-key SKEW REPORT over the fact stream keyed by concept — the
    // hot-key diagnostic that DECIDES the salting factor (SURVEY §3 S1)
    // instead of guessing it: per-key counts (one map-side-combinable
    // agg), totals attached as a broadcast 1-row scalar, salt_factor =
    // ceil(32·n/total) = the buckets needed to level this key to the
    // average partition load at P=32 — exact integer arithmetic end to end
    "q_skew_report" -> ((s, dir) => {
      val pairs = matches(s, dir).select("url", "class_iri").distinct()
      val counts = pairs.groupBy("class_iri").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(tot))
        .select(col("class_iri"), col("n"),
          expr("(n * 1000000) div total").as("share_ppm"),
          expr("(n * 32 + total - 1) div total").as("salt_factor"))
        .orderBy(col("n").desc, col("class_iri")).limit(10)
    }),

    // REAL ImageIO decode on the image rows: the oracle checks the decoded
    // width/height/solid-color means against the PNG GENERATION formulas —
    // an end-to-end codec round-trip, not a stub echo. Non-image kinds keep
    // the documented stub dims (byte-length formulas, also oracle-checked).
    // PNG byte payloads (n_bytes/checksum) stay in the Dataset API but are
    // projected out here (encoder bytes are not SQL-derivable).
    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docsTable(s, dir)))
        .toDF().select(col("url"), col("kind"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))),

    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(docsTable(s, dir)))
        .toDF().select(col("url"), col("frame_idx"), length(col("frame_bytes")).as("frame_len"))),

    // decode → nearest-neighbor resample → re-encode; resized means must
    // equal the source solid color (resampling a constant image is constant)
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeImages(Multimodal.mediaFromDocuments(docsTable(s, dir)))
        .toDF().select(col("url"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))),

    // JSONL source/sink round trip — the crawl-pipeline interchange format
    // next to parquet/TSV/N-Triples/WARC: write the docs table as
    // line-delimited JSON (splittable at scale), read it back with a PINNED
    // schema (no inference job — schema-on-read is a second full scan at
    // 100 TB), and derive stats that must equal the parquet-direct oracle —
    // sink+source fidelity proven through the format
    "io_jsonl_roundtrip" -> ((s, dir) => {
      // per-session path: concurrent JVMs (Verify + Bench) must not race
      // each other's overwrite/read on a shared fixed location
      val out = s"/tmp/graft-jsonl-${s.sparkContext.applicationId}/" +
        new java.io.File(dir).getName
      docsTable(s, dir).write.mode("overwrite").json(out)
      val back = s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(out)
      back.select(col("doc_id"),
        length(col("text")).as("n_chars_text"),
        size(split(col("text"), " ")).as("n_tokens"))
    }),

    // CSV sibling of the JSONL round trip — the interchange format every
    // upstream data drop still arrives in. Default splittable mode (quote
    // framing, no multiLine) with a PINNED schema, no inference scan; the
    // hostile-content legs (embedded commas/quotes/newlines → multiLine)
    // are pinned by IoSpec, where the fixture can be adversarial
    "io_csv_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft-csv-${s.sparkContext.applicationId}/" +
        new java.io.File(dir).getName
      docsTable(s, dir).write.mode("overwrite").option("header", "false").csv(out)
      s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .csv(out)
        .select(col("doc_id"),
          length(col("text")).as("n_chars_text"),
          size(split(col("text"), " ")).as("n_tokens"))
    }),

    // ORC sibling of the JSONL round trip (ORC is the other first-class
    // columnar at-rest format next to parquet; native Spark reader with
    // predicate pushdown) — same fidelity contract through the format
    "io_orc_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft-orc-${s.sparkContext.applicationId}/" +
        new java.io.File(dir).getName
      docsTable(s, dir).write.mode("overwrite").orc(out)
      s.read.orc(out).select(col("doc_id"),
        length(col("text")).as("n_chars_text"),
        size(split(col("text"), " ")).as("n_tokens"))
    }),

    // WARC container round trip, end-to-end: corpus → deterministic HTML
    // wrap → WARC response records → multi-record file blobs → parse →
    // HTML extraction. The oracle is just the documents table — any
    // framing/extraction defect breaks the equality.
    "warc_extract" -> ((s, dir) => {
      val corpus = Corpus.fromDriverTable(docsTable(s, dir))
      Corpus.extract(graft.io.Warc.recordsFromBlobs(
          graft.io.Warc.syntheticBlobs(corpus, buckets = 8)))
        .select("url", "text")
    }),

    // per-user next-event transition matrix (the Markov-chain view of
    // the event stream, q_funnel's unordered sibling): consecutive-event
    // pairs via ONE per-user LAG (partitions are a user's events —
    // bounded; (ts, event_id) ordering makes equal timestamps
    // deterministic), then P(next | cur) as one pinned division per cell
    "q_event_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = ev
        .select(col("user_id"), col("event_type").as("next_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("prev_type").agg(sum(col("n")).as("n_from"))
      pairs.join(tot, "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / col("n_from"), 6).as("p"))
    }),

    // equi-depth histogram selectivity audit — the optimizer statistic
    // q_table_stats/q_skew_report/sketch_ams complete: 10-bucket bounds
    // from EXACT percentiles (the q_quantiles cross-engine contract,
    // rounded 4dp before use), range-predicate estimate = n/10 · Σ
    // clipped bucket-overlap fractions (what ANALYZE histograms answer),
    // audited against the exact count. All on ONE 1-row aggregate frame;
    // the fold runs over the 11-element bounds array, never rows
    "q_histogram_selectivity" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val qs = (1 to 9).map(i => i / 10.0)
      val base = d.agg(count(lit(1)).as("n_rows"),
        min(col("n_chars")).cast("double").as("b0"),
        expr(s"percentile(n_chars, array(${qs.mkString(",")}))").as("qb"),
        max(col("n_chars")).cast("double").as("b10"),
        sum(when(col("n_chars").between(150, 350), lit(1L))
          .otherwise(lit(0L))).as("exact_rows"))
      val rb = transform(concat(array(col("b0")), col("qb"),
        array(col("b10"))), x => round(x, 4))
      val (lo0, hi0) = (lit(150.0), lit(350.0))
      val frac = aggregate(sequence(lit(1), lit(10)), lit(0.0), (acc, i) => {
        val lo = element_at(rb, i)
        val hi = element_at(rb, i + 1)
        val f = when(hi > lo,
            greatest(lit(0.0),
              (least(hi0, hi) - greatest(lo0, lo)) / (hi - lo)))
          .otherwise(when(lo >= lo0 && lo <= hi0, lit(1.0))
            .otherwise(lit(0.0)))
        acc + greatest(lit(0.0), least(f, lit(1.0)))
      })
      // exact_rows = 0 guard: Spark's non-ANSI division yields NULL where
      // DuckDB's IEEE doubles yield inf — pin both engines to NULL
      base.select(col("n_rows"),
        round(col("n_rows") / lit(10.0) * frac, 2).as("est_rows"),
        col("exact_rows"),
        when(col("exact_rows") === 0L, lit(null).cast("double"))
          .otherwise(
            round(abs(col("n_rows") / lit(10.0) * frac - col("exact_rows")) /
              col("exact_rows"), 6)).as("rel_err"))
    }),

    // shard-rebalance preview (the consistent-hashing pitch QUANTIFIED,
    // Karger 1997): fraction of keys that MOVE when 32 shards become 33
    // under (a) mod placement and (b) a 8-vnode hash ring — ~P/(P+1)
    // vs ~1/(P+1); the layout decision read before resharding a 100 TB
    // store. Ring assignment = argmin over the broadcast 264-row vnode
    // table (successor-with-wrap as a (flag, hash, shard) struct-min —
    // never a sort per key)
    "q_shard_rebalance" -> ((s, dir) => {
      import s.implicits._
      val keys = docsTable(s, dir).select(col("doc_id"),
        Sketch.hash60(concat(lit("k|"), col("doc_id").cast("string")))
          .as("kh")).localCheckpoint()
      def assign(p: Int, out: String) = {
        val vn = broadcast(
          (for { sh <- 0 until p; v <- 0 until 8 } yield (sh, v))
            .toDF("shard", "v")
            .select(col("shard"), Sketch.hash60(concat(lit("vn|"),
              col("shard").cast("string"), lit("|"),
              col("v").cast("string"))).as("h")))
        keys.crossJoin(vn)
          .select(col("doc_id"),
            when(col("h") >= col("kh"), lit(0)).otherwise(lit(1)).as("flag"),
            col("h"), col("shard"))
          .groupBy("doc_id")
          .agg(min(struct(col("flag"), col("h"), col("shard"))).as("m"))
          .select(col("doc_id"), col("m.shard").as(out))
      }
      val ring = assign(32, "s32").join(assign(33, "s33"), "doc_id")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("s32") =!= col("s33"), lit(1L)).otherwise(lit(0L)))
            .as("n_moved"))
      val mod = keys.agg(count(lit(1)).as("n_keys"),
        sum(when(pmod(col("kh"), lit(32L)) =!= pmod(col("kh"), lit(33L)),
          lit(1L)).otherwise(lit(0L))).as("n_moved"))
      def shaped(df: DataFrame, scheme: String) = df.select(
        lit(scheme).as("scheme"), col("n_keys"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_keys"), 6)
          .as("moved_frac"))
      shaped(mod, "mod").unionByName(shaped(ring, "ring"))
    }),

    // ordered conversion funnel view → click → purchase (the event-
    // analytics staple): step k's cohort = users whose FIRST qualifying
    // step-k event follows their step-(k−1) entry time WITHIN the 1-day
    // conversion window (unwindowed, a 30-day dense event stream converts
    // everyone — the window makes it a measurement) — three user-keyed
    // min-aggs chained by joins (never a per-user event sort); the 3-row
    // step frame carries the lag conversion ratio
    "q_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = s.read.parquet(s"$dir/events.parquet")
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 1 DAY"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 1 DAY"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      def cnt(df: DataFrame, step: Int, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(name).as("event_type"),
            col("n_users"))
      cnt(s1, 1, "view").unionByName(cnt(s2, 2, "click"))
        .unionByName(cnt(s3, 3, "purchase"))
        .select(col("step"), col("event_type"), col("n_users"),
          round(col("n_users").cast("double") /
            lag(col("n_users"), 1).over(Window.orderBy("step")), 6)
            .as("conv_from_prev"))
    }),

    // retention cohort matrix: cohort = the user's first active DATE,
    // cells = distinct users active at each day offset — two aggs and a
    // broadcast-joinable first-day table; the matrix is days²-bounded
    "q_retention" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val first = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cohort"))
      ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .join(first, "user_id")
        .groupBy(col("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    }),

    // gap-based sessionization (session_window, 30-min gap) — the batch
    // form of the streaming sessionizer; epoch-micro session bounds
    "stream_sessions" -> ((s, dir) =>
      graft.streaming.EventStream.sessionize(
        s.read.parquet(s"$dir/events.parquet"))),

    // stream-stream join's batch twin (same plan minus state stores):
    // discovery→fetch latency within the event-time bound
    "stream_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      def side(m: Int) = ev.filter(col("event_id") % 2 === m)
        .select(concat(lit("u"), col("user_id")).as("url"), col("ts"))
      graft.streaming.EventStream.discoveryFetchJoin(side(0), side(1))
    }),

    // per-doc encoding-damage report: double-encoded UTF-8 + replacement
    // chars, map-only regexp counting over the damaged synthesis
    "q_mojibake" -> ((s, dir) =>
      TextOps.mojibakeReport(TextOps.withMojibake(docsTable(s, dir)))),

    // restricted-Turtle round trip: prefix-compressed, predicate/object
    // lists, one subject group per line (line-splittable by construction) —
    // the ontology-tooling serialization next to NT/NQ; STRICT prefix audit
    "io_ttl_roundtrip" -> ((s, dir) => {
      val trip = graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select(col("subj"),
          concat(lit("http://graft.kg/p#"), col("pred")).as("pred"),
          col("obj"))
      val out = s"/tmp/graft-ttl-${s.sparkContext.applicationId}/" +
        new java.io.File(dir).getName
      graft.io.Turtle.write(trip, out)
      graft.io.Turtle.statements(s.read.textFile(out))
        .select("subj", "pred", "obj")
    }),

    // N-Quads named-graph round trip: triples + a crawl-batch provenance
    // graph IRI (doc_id % 4 — the batch a subject arrived in), serialized
    // as N-Quads lines, written as splittable text, read back and
    // STRICT-parsed — the provenance-preserving interchange dump next to
    // N-Triples/JSONL/ORC/WARC
    "io_nquads_roundtrip" -> ((s, dir) => {
      val quads = graft.annotate.NativeAnnotate
        .annotateTriples(corpus(s, dir), model(s), fusedMaps(s), "v1")
        .select(col("subj"),
          concat(lit("http://graft.kg/p#"), col("pred")).as("pred"),
          col("obj"),
          concat(lit("http://graft.kg/g#batch"),
            (regexp_extract(col("subj"), "[0-9]+$", 0).cast("bigint") % 4)
              .cast("string")).as("graph"))
      val out = s"/tmp/graft-nquads-${s.sparkContext.applicationId}/" +
        new java.io.File(dir).getName
      graft.io.NTriples.quadLines(quads).write.mode("overwrite").text(out)
      graft.io.NTriples.quadStatements(s.read.textFile(out))
        .select("subj", "pred", "obj", "graph")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q_table_stats" ->
      Seq("lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
              COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS ndv,
              CAST(MIN($c) AS VARCHAR) AS min_value,
              CAST(MAX($c) AS VARCHAR) AS max_value
            FROM documents"""
      }.mkString("\nUNION ALL\n"),

    "q_pushdown_agg" ->
      """SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1996-01-01'
         GROUP BY l_returnflag, l_linestatus""",

    "q_join_nation" ->
      """SELECT n_name, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name HAVING COUNT(*) > 10""",

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders) WHERE rank <= 3""",

    "q_setops" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    // pivot == conditional aggregation (exactly what Spark's explicit-value
    // pivot compiles to)
    "q_pivot" ->
      """SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'view') AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY user_id""",

    "q_ntile" ->
      """SELECT event_id, event_type,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           CAST(dense_rank() OVER w AS INT) AS drank,
           ROUND(percent_rank() OVER w, 6) AS prank
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",

    "q_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                COUNT(*) AS n_events, MIN(ts) AS session_start
         FROM s GROUP BY user_id, session_id""",

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS INT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1, 2""",

    "stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
         FROM events GROUP BY 1, 2""",

    // every event belongs to the 4 epoch-aligned 900s-stepped windows whose
    // start is in (t-3600, t]; make_timestamp keeps the NTZ type Spark's
    // window(start) carries
    "stream_sliding" ->
      """WITH j(j) AS (SELECT unnest(generate_series(0, 3))),
           ev AS (SELECT event_type, value,
                    CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 AS b
                  FROM events)
         SELECT make_timestamp((b - j * 900) * 1000000) AS window_start,
                event_type, COUNT(*) AS n_events,
                ROUND(SUM(value), 2) AS total_value
         FROM ev CROSS JOIN j
         GROUP BY 1, 2""",

    // DuckDB's native ASOF JOIN cross-proves the array-literal formulation
    "q_asof_version" ->
      """WITH v(vts, version) AS (VALUES
           (TIMESTAMP '2024-01-03 00:00:00', 'v1'),
           (TIMESTAMP '2024-01-08 00:00:00', 'v2'),
           (TIMESTAMP '2024-01-15 00:00:00', 'v3'),
           (TIMESTAMP '2024-01-22 00:00:00', 'v4'),
           (TIMESTAMP '2024-01-29 00:00:00', 'v5'))
         SELECT e.event_id, v.version
         FROM events e ASOF LEFT JOIN v ON e.ts >= v.vts""",

    "q_asof_prev_click" ->
      """SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'click' THEN event_id END
               IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_click_id
         FROM events""",

    "q_bloom_prune" ->
      s"""WITH $dictCte,
           terms AS (SELECT DISTINCT term FROM dict WHERE term NOT LIKE '% %'),
           ii(i) AS (SELECT unnest(generate_series(0, 2))),
           th AS (SELECT
               CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT) AS h1,
               CAST(concat('0x', substring(md5(term), 17, 15)) AS BIGINT) AS h2
             FROM terms),
           setbits AS (SELECT DISTINCT (h1 + i * h2) % 4096 AS pos
                       FROM th CROSS JOIN ii),
           w AS (SELECT DISTINCT doc_id, w AS word FROM (
                   SELECT doc_id, unnest(string_split(upper(text), ' ')) AS w
                   FROM documents) WHERE w <> ''),
           wh AS (SELECT doc_id, word,
               CAST(concat('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h1,
               CAST(concat('0x', substring(md5(word), 17, 15)) AS BIGINT) AS h2
             FROM w)
         SELECT doc_id, word
         FROM wh CROSS JOIN ii
         JOIN setbits ON (h1 + i * h2) % 4096 = pos
         GROUP BY doc_id, word HAVING COUNT(*) = 3""",

    // the oracle USES the quadratic inequality join the Spark side avoids —
    // cross-proving the bucketed formulation finds exactly the same pairs.
    // floor(epoch(...)) matches Spark's whole-second timestamp→long cast
    "q_range_join" ->
      """WITH e AS (SELECT user_id, event_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
         SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
                b.t - a.t AS gap_s
         FROM e a JOIN e b
           ON a.user_id = b.user_id
          AND b.t - a.t BETWEEN 0 AND 300
          AND (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id))""",

    // the GK error bound is Spark-internal, so the oracle pins the CHECKED
    // OUTCOME: every returned approx percentile must sit within the
    // guaranteed exact-rank window — a violation flips a boolean and
    // hash-mismatches here
    "q_quantiles_approx" ->
      """SELECT CAST(pct AS DOUBLE) AS pct, within_bound
         FROM (VALUES (0.25, true), (0.5, true), (0.75, true), (0.95, true))
           AS t(pct, within_bound)""",

    "q_quantiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
           ROUND(quantile_cont(n_chars, 0.75), 6) AS p75,
           ROUND(quantile_cont(n_chars, 0.95), 6) AS p95
         FROM documents GROUP BY lang""",

    // per-concept fact counts, totals as a scalar, exact integer
    // share/salt math mirroring the engine's div arithmetic
    "q_skew_report" ->
      s"""WITH RECURSIVE $dictCte, $directCte,
          pairs AS (SELECT DISTINCT url, class_iri FROM direct),
          counts AS (SELECT class_iri, CAST(COUNT(*) AS BIGINT) AS n
                     FROM pairs GROUP BY 1),
          tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
          SELECT class_iri, n,
            CAST((n * 1000000) // total AS BIGINT) AS share_ppm,
            CAST((n * 32 + total - 1) // total AS BIGINT) AS salt_factor
          FROM counts, tot
          ORDER BY n DESC, class_iri LIMIT 10""",

    // image rows: decoded dims/colors must equal the PNG generation formulas
    // (Multimodal.imgWidth/imgHeight/imgColor — single source of truth);
    // audio/video rows: the documented byte-length stub formulas (bytes =
    // UTF-8 text, ASCII corpus → strlen)
    "mm_features" ->
      """SELECT 'doc://' || doc_id AS url,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 16
                     ELSE 16 + strlen(text) % 64 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + (doc_id // 16) % 16
                     ELSE 16 + (strlen(text) // 64) % 64 END AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 7) % 256 ELSE -1 END AS INT) AS mean_r,
           CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 13) % 256 ELSE -1 END AS INT) AS mean_g,
           CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 29) % 256 ELSE -1 END AS INT) AS mean_b
         FROM documents""",

    // stride-256 byte groups, 64-byte frames: count and per-frame lengths
    // are closed-form in the text byte length
    "mm_frames" ->
      """SELECT 'doc://' || doc_id AS url, CAST(idx AS INT) AS frame_idx,
           CAST(LEAST(64, strlen(text) - idx * 256) AS INT) AS frame_len
         FROM (SELECT doc_id, text,
                 unnest(generate_series(0, CAST(ceil(strlen(text) / 256.0) AS BIGINT) - 1)) AS idx
               FROM documents WHERE doc_id % 3 = 2 AND strlen(text) > 0)""",

    // resized solid images stay solid: means must equal the source color
    "mm_resize" ->
      """SELECT 'doc://' || doc_id AS url, CAST(64 AS INT) AS width,
           CAST(64 AS INT) AS height,
           CAST((doc_id * 7) % 256 AS INT) AS mean_r,
           CAST((doc_id * 13) % 256 AS INT) AS mean_g,
           CAST((doc_id * 29) % 256 AS INT) AS mean_b
         FROM documents WHERE doc_id % 3 = 0""",

    // same GROUPING SETS text as the engine query (both ANSI)
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_linestatus), ())""",

    // WARC serialize→parse→extract must reproduce the table exactly
    "warc_extract" ->
      "SELECT 'doc://' || doc_id AS url, text FROM documents",

    // JSON write→read must reproduce the parquet-direct values exactly
    "io_jsonl_roundtrip" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         FROM documents""",

    // CSV write→read, same fidelity contract (quote framing must not
    // perturb a single byte of text)
    "io_csv_roundtrip" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         FROM documents""",

    // ORC write→read, same fidelity contract
    "io_orc_roundtrip" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         FROM documents""",

    // the same per-user LAG chain with the (ts, event_id) tie policy
    "q_event_transitions" ->
      """WITH tp AS (SELECT user_id, event_type AS next_type,
               LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type
             FROM events),
          pr AS (SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
                 FROM tp WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          tt AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
                 FROM pr GROUP BY 1)
          SELECT pr.prev_type, pr.next_type, pr.n,
            ROUND(CAST(pr.n AS DOUBLE) / tt.n_from, 6) AS p
          FROM pr JOIN tt USING (prev_type)""",

    // the same 4dp-rounded percentile bounds + the same clipped-overlap
    // fold (list_sum over the 11-element bounds list, not rows)
    "q_histogram_selectivity" ->
      """WITH hb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(n_chars) AS DOUBLE) AS b0,
             quantile_cont(n_chars,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qb,
             CAST(MAX(n_chars) AS DOUBLE) AS b10,
             CAST(SUM(CASE WHEN n_chars BETWEEN 150 AND 350
                      THEN 1 ELSE 0 END) AS BIGINT) AS exact_rows
           FROM documents),
          rbx AS (SELECT *, list_transform(
              list_prepend(b0, list_append(qb, b10)),
              x -> ROUND(x, 4)) AS rb
            FROM hb),
          fr AS (SELECT *, list_sum(list_transform(
              generate_series(1, 10), i ->
                GREATEST(CAST(0.0 AS DOUBLE), LEAST(
                  CASE WHEN rb[i + 1] > rb[i]
                       THEN GREATEST(CAST(0.0 AS DOUBLE),
                         (LEAST(CAST(350.0 AS DOUBLE), rb[i + 1])
                          - GREATEST(CAST(150.0 AS DOUBLE), rb[i]))
                         / (rb[i + 1] - rb[i]))
                       ELSE CASE WHEN rb[i] BETWEEN 150.0 AND 350.0
                                 THEN CAST(1.0 AS DOUBLE)
                                 ELSE CAST(0.0 AS DOUBLE) END
                  END, CAST(1.0 AS DOUBLE))))) AS frac
            FROM rbx)
          SELECT n_rows,
            ROUND(CAST(n_rows AS DOUBLE) / 10.0 * frac, 2) AS est_rows,
            exact_rows,
            CASE WHEN exact_rows = 0 THEN NULL
                 ELSE ROUND(ABS(CAST(n_rows AS DOUBLE) / 10.0 * frac
                   - exact_rows) / exact_rows, 6) END AS rel_err
          FROM fr""",

    // successor-with-wrap ring assignment as the same (flag, h, shard)
    // argmin; the 33-shard vnode pool filtered to < 32 IS the 32-shard
    // pool (same hashes)
    "q_shard_rebalance" ->
      """WITH ks AS (SELECT doc_id,
             ('0x' || substr(md5('k|' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT AS kh
           FROM documents),
          vn AS (SELECT s.s AS shard,
             ('0x' || substr(md5('vn|' || CAST(s.s AS VARCHAR) || '|'
                || CAST(v.v AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM (SELECT unnest(generate_series(0, 32)) AS s) s,
                (SELECT unnest(generate_series(0, 7)) AS v) v),
          a32 AS (SELECT doc_id, shard FROM (
             SELECT k.doc_id, vn.shard,
               ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY
                 CASE WHEN vn.h >= k.kh THEN 0 ELSE 1 END, vn.h, vn.shard)
                 AS rn
             FROM ks k CROSS JOIN vn WHERE vn.shard < 32) z WHERE rn = 1),
          a33 AS (SELECT doc_id, shard FROM (
             SELECT k.doc_id, vn.shard,
               ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY
                 CASE WHEN vn.h >= k.kh THEN 0 ELSE 1 END, vn.h, vn.shard)
                 AS rn
             FROM ks k CROSS JOIN vn) z WHERE rn = 1),
          ring AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN a32.shard <> a33.shard THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved
           FROM a32 JOIN a33 USING (doc_id)),
          md AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN kh % 32 <> kh % 33 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved
           FROM ks)
          SELECT 'mod' AS scheme, n_keys, n_moved,
            ROUND(CAST(n_moved AS DOUBLE) / n_keys, 6) AS moved_frac
          FROM md
          UNION ALL
          SELECT 'ring' AS scheme, n_keys, n_moved,
            ROUND(CAST(n_moved AS DOUBLE) / n_keys, 6) AS moved_frac
          FROM ring""",

    // the same chained min-agg funnel; conversion via LAG over the 3-row
    // step frame
    "q_funnel" ->
      """WITH fs1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                      WHERE event_type = 'view' GROUP BY 1),
          fs2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
                  JOIN fs1 ON fs1.user_id = e.user_id
                  WHERE e.event_type = 'click' AND e.ts > fs1.t1
                    AND e.ts <= fs1.t1 + INTERVAL 1 DAY GROUP BY 1),
          fs3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
                  JOIN fs2 ON fs2.user_id = e.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > fs2.t2
                    AND e.ts <= fs2.t2 + INTERVAL 1 DAY
                  GROUP BY 1),
          steps AS (SELECT 1 AS step, 'view' AS event_type,
                      CAST((SELECT COUNT(*) FROM fs1) AS BIGINT) AS n_users
                    UNION ALL SELECT 2, 'click',
                      CAST((SELECT COUNT(*) FROM fs2) AS BIGINT)
                    UNION ALL SELECT 3, 'purchase',
                      CAST((SELECT COUNT(*) FROM fs3) AS BIGINT))
          SELECT step, event_type, n_users,
            ROUND(CAST(n_users AS DOUBLE)
              / LAG(n_users) OVER (ORDER BY step), 6) AS conv_from_prev
          FROM steps""",

    // first-active-date cohorts × day offsets, distinct-user cells
    "q_retention" ->
      """WITH fd AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
                     FROM events GROUP BY 1),
          act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                  FROM events)
          SELECT fd.cohort, CAST(act.day - fd.cohort AS INT) AS day_offset,
            CAST(COUNT(DISTINCT act.user_id) AS BIGINT) AS n_users
          FROM act JOIN fd ON fd.user_id = act.user_id
          GROUP BY 1, 2""",

    // gaps-and-islands twin: INCLUSIVE gap merge (only > gap breaks —
    // session_window's boundary rule, spec-pinned), session end = last
    // event + gap, all in epoch micros
    "stream_sessions" ->
      """WITH e AS (SELECT user_id, value, epoch_us(ts) AS tu FROM events),
          m AS (SELECT user_id, value, tu,
                  CASE WHEN tu - LAG(tu) OVER
                         (PARTITION BY user_id ORDER BY tu) > 1800000000
                       THEN 1 ELSE 0 END AS brk
                FROM e),
          s AS (SELECT user_id, value, tu,
                  SUM(brk) OVER (PARTITION BY user_id ORDER BY tu
                                 ROWS UNBOUNDED PRECEDING) AS sid
                FROM m)
          SELECT user_id, MIN(tu) AS session_start,
                 MAX(tu) + 1800000000 AS session_end,
                 COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
          FROM s GROUP BY user_id, sid""",

    // plain interval-bounded join (the stream-stream plan minus state)
    "stream_join" ->
      """WITH d AS (SELECT 'u' || user_id AS url, ts FROM events
                    WHERE event_id % 2 = 0),
          f AS (SELECT 'u' || user_id AS url, ts FROM events
                WHERE event_id % 2 = 1)
          SELECT d.url, d.ts AS discover_ts, f.ts AS fetch_ts,
                 epoch_us(f.ts) - epoch_us(d.ts) AS latency_us
          FROM d JOIN f ON f.url = d.url AND f.ts >= d.ts
            AND f.ts <= d.ts + INTERVAL 30 MINUTE""",

    "q_distinct_approx" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_n,
           true AS within_bound
         FROM events GROUP BY 1""",

    // FD twin: the same (table, lhs, rhs) candidate list rendered as one
    // UNION ALL of per-table scalar selects; DISTINCT over a row
    // constructor mirrors the struct count_distinct
    "q_fd_discovery" -> FdCandidates.map { case (tbl, lhs, rhs) =>
      val l = if (lhs.size == 1) lhs.head else s"(${lhs.mkString(", ")})"
      val p = s"(${(lhs :+ rhs).mkString(", ")})"
      s"""SELECT '$tbl' AS tbl, '${lhs.mkString("+")}' AS lhs, '$rhs' AS rhs,
            CAST(COUNT(DISTINCT $l) AS BIGINT) AS n_lhs,
            CAST(COUNT(DISTINCT $p) AS BIGINT) AS n_pairs,
            COUNT(DISTINCT $l) = COUNT(DISTINCT $p) AS holds
          FROM $tbl"""
    }.mkString("\nUNION ALL\n"),

    // the PLAIN join — salting must be invisible in the result
    "q_salted_join" ->
      """SELECT event_type, c_mktsegment, COUNT(*) AS n_events
         FROM events e
         JOIN (SELECT DISTINCT c_custkey % 50 AS user_id, c_mktsegment
               FROM customer) d
           ON e.user_id = d.user_id
         GROUP BY 1, 2""",

    "q_star_revenue" ->
      """WITH agg AS (SELECT r_name, p_brand,
             ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             COUNT(*) AS n_items
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, p_brand, revenue, n_items,
           CAST(ROW_NUMBER() OVER (PARTITION BY r_name
             ORDER BY revenue DESC, p_brand) AS INT) AS rank
         FROM agg QUALIFY rank <= 2""",

    "q_anomaly" ->
      """WITH counts AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n FROM events GROUP BY 1, 2),
          grid AS (SELECT event_type, unnest(generate_series(h0, h1,
                INTERVAL 1 HOUR)) AS hour
            FROM (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
                  FROM counts GROUP BY 1)),
          hourly AS (SELECT g.event_type, g.hour, COALESCE(c.n, 0) AS n
            FROM grid g LEFT JOIN counts c
              ON c.event_type = g.event_type AND c.hour = g.hour),
          st AS (SELECT event_type, hour, n,
              AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sd,
              COUNT(n) OVER w AS np
            FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour
              ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
          SELECT event_type, hour, n, ROUND((n - mu) / sd, 6) AS z,
            (ABS((n - mu) / sd) > 3.0) AS anomaly
          FROM st WHERE np >= 6 AND sd > 0""",

    // the streamed projection = the q_anomaly grid MINUS each type's final
    // grid hour (in-flight, never closes — no successor event arrives)
    "stream_anomaly_hours" ->
      """WITH counts AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n FROM events GROUP BY 1, 2),
          grid AS (SELECT event_type, unnest(generate_series(h0, h1,
                INTERVAL 1 HOUR)) AS hour
            FROM (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
                  FROM counts GROUP BY 1)),
          hourly AS (SELECT g.event_type, g.hour, COALESCE(c.n, 0) AS n
            FROM grid g LEFT JOIN counts c
              ON c.event_type = g.event_type AND c.hour = g.hour),
          st AS (SELECT event_type, hour, n,
              AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sd,
              COUNT(n) OVER w AS np
            FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour
              ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
          mx AS (SELECT event_type, MAX(hour) AS h1 FROM counts GROUP BY 1)
          SELECT st.event_type, st.hour, st.n,
            ROUND((n - mu) / sd, 6) AS z,
            (ABS((n - mu) / sd) > 3.0) AS anomaly
          FROM st JOIN mx ON mx.event_type = st.event_type
          WHERE np >= 6 AND sd > 0 AND st.hour < mx.h1""",

    // same interleave-term list via the duck-dialect shift syntax;
    // floor(epoch()) matches Spark's timestamp→long cast (precedent above)
    "q_zorder_layout" ->
      s"""WITH p AS (SELECT user_id & 255 AS x,
              ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) & 255) AS y
            FROM events),
          z AS (SELECT x, y, ${graft.ops.ZOrder.duckZ("x", "y", 8)} AS zval FROM p)
          SELECT (zval >> 8) AS zbucket, COUNT(*) AS n_rows,
            MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
          FROM z GROUP BY 1""",

    // same disjoint change classes, one FULL OUTER join on the key
    "q_merge_upsert" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
          ch AS (
            SELECT doc_id, text || ' updated' AS new_text, 'update' AS op
            FROM base WHERE doc_id % 7 = 0 AND doc_id % 13 <> 4
            UNION ALL
            SELECT doc_id + 200000, 'new page ' || doc_id, 'insert'
            FROM base WHERE doc_id % 11 = 5
            UNION ALL
            SELECT doc_id, NULL, 'delete' FROM base WHERE doc_id % 13 = 4)
          SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
            COALESCE(c.op, 'keep') AS op,
            CAST(length(COALESCE(c.new_text, b.text)) AS INT) AS n_chars
          FROM base b FULL OUTER JOIN ch c ON b.doc_id = c.doc_id
          WHERE c.op IS NULL OR c.op <> 'delete'""",

    // same per-type recency windows; expire = neither in the newest 5 nor
    // within 12h of the type's latest
    "q_snapshot_expire" ->
      """WITH snaps AS (SELECT DISTINCT event_type,
              date_trunc('hour', ts) AS snapshot_hour FROM events),
          r AS (SELECT event_type, snapshot_hour,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY snapshot_hour DESC) AS recency_rank,
                  MAX(snapshot_hour) OVER (PARTITION BY event_type) AS latest
                FROM snaps)
          SELECT event_type, snapshot_hour, CAST(recency_rank AS INT) AS recency_rank,
            NOT (recency_rank <= 5
                 OR snapshot_hour >= latest - INTERVAL 12 HOUR) AS expire
          FROM r""",

    "q_topk_approx" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS exact_n,
           true AS within_bound
         FROM events GROUP BY 1
         ORDER BY exact_n DESC, user_id LIMIT 10""",

    "q_compaction_plan" ->
      """SELECT event_type, date_trunc('hour', ts) AS file_hour,
           COUNT(*) AS size_rows,
           CAST(FLOOR(COALESCE(SUM(COUNT(*)) OVER (
               PARTITION BY event_type ORDER BY date_trunc('hour', ts)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 1000) AS INT) AS bin
         FROM events GROUP BY 1, 2""",

    // same regexes over the same damaged synthesis (DuckDB plain string
    // literals pass backslash escapes to RE2 untouched); counts as BIGINTs
    "q_mojibake" ->
      s"""WITH ${TextOps.mojibakePagesCteSql}
          SELECT doc_id,
            CAST(len(regexp_extract_all(text, '${TextOps.DoubleUtf8Re}'))
              AS BIGINT) AS n_double,
            CAST(len(regexp_extract_all(text, '${TextOps.ReplCharRe}'))
              AS BIGINT) AS n_repl,
            len(regexp_extract_all(text, '${TextOps.DoubleUtf8Re}'))
              + len(regexp_extract_all(text, '${TextOps.ReplCharRe}')) > 0
              AS damaged
          FROM mjpg""",

    // the expected triples computed directly (the Spark side proves the
    // Turtle serialize→write→read→parse loop returns exactly this set)
    "io_ttl_roundtrip" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte
          SELECT subj, 'http://graft.kg/p#' || pred AS pred, obj
          FROM triples""",

    // the expected quads computed directly (the Spark side proves the
    // serialize→write→read→parse loop returns exactly this set)
    "io_nquads_roundtrip" ->
      s"""WITH RECURSIVE $dictCte, $edgesCte, $mappingsCte, $directCte, $closureCte,
          $kgTriplesCte
          SELECT subj, 'http://graft.kg/p#' || pred AS pred, obj,
                 'http://graft.kg/g#batch' ||
                 CAST(CAST(regexp_extract(subj, '[0-9]+$$', 0) AS BIGINT) % 4 AS VARCHAR) AS graph
          FROM triples""",
  )
}
