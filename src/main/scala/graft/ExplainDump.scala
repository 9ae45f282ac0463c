package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for the headline queries so plan
  * properties (filter pushdown, column pruning, broadcast joins, whole-stage
  * codegen spans) can be audited — see PLANS.md for the annotated results. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_pushdown_agg", "q_join_nation", "q_window_topk",
        "ann_triples", "ann_hier", "ann_score", "dedup_minhash",
        "sim_topk", "text_quality")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 1 && args(1) == "--census") {
      // full-registry plan census: per query, count the node classes that
      // matter at 100 TB (sort-merge joins, nested-loop/cartesian, shuffle
      // exchanges) — the audit that caught the corpus-self-join class in
      // round 5, run over the WHOLE surface. Sorted worst-first; queries
      // whose construction itself executes work (driver-side trainers,
      // robustness collects, the streaming projection) pay that cost here.
      val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (n, fn) =>
          try {
            val p = fn(spark, sfDir).queryExecution.executedPlan.toString
            val lines = p.split("\n")
            def c(s: String) = lines.count(_.contains(s))
            Some((n, c("SortMergeJoin"), c("BroadcastNestedLoopJoin")
              + c("CartesianProduct"), c("Exchange")
              - c("BroadcastExchange") - c("ReusedExchange")))
          } catch {
            case e: Throwable =>
              println(s"CENSUS-ERR $n: ${e.getMessage}"); None
          }
      }
      rows.sortBy { case (_, smj, nlj, ex) => (-(smj + nlj), -ex) }
        .foreach { case (n, smj, nlj, ex) =>
          println(f"CENSUS $n%-28s smj=$smj nlj=$nlj shuffles=$ex")
        }
      println(s"CENSUS-TOTAL queries=${rows.size} " +
        s"smj=${rows.map(_._2).sum} nlj=${rows.map(_._3).sum} " +
        s"shuffles=${rows.map(_._4).sum}")
    } else {
      names.foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
