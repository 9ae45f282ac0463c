package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Main, OntologyTables, Pipeline}

/** The workloads. Each is a seeded draw of one [[Shape]]; `why` says which
  * layers it is meant to load. */
object Shapes {
  val crawlSparse: Shape = Shape(
    name = "crawl_sparse",
    why = "web-page docs with heavy-tailed lengths, few dictionary hits and 10% " +
      "non-ASCII tokens over a large shallow dictionary: dictionary build and scan carry " +
      "the largest share",
    docs = 700, medianTokens = 250, sigma = 1.0, maxTokens = 6000,
    termTokenFrac = 0.04, nonAsciiFrac = 0.10, emergingFrac = 0.0001,
    baseConcepts = 12000, ontologies = 2, ontCoverage = 0.05, synonymProb = 0.5,
    zipf = 0.9)

  val refresh: Shape = crawlSparse.copy(
    name = "refresh",
    why = "runIncremental of a dict-only update touching 0.5% of classes over a " +
      "completed crawl_sparse-shaped run: little rescan, whole triple table rewritten")

  val all: Seq[Shape] = Seq(crawlSparse, refresh)

  def byName(n: String): Shape = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Benchmark entry point. One process, one workload, one seed:
  *
  *  - generates the inputs and writes them as parquet (untimed);
  *  - sets up — session start, ontology load, one untimed warm-up
  *    `Pipeline.run` (the completed v1 run; for refresh, then one untimed
  *    warm-up `Pipeline.runIncremental`) — and reports that time as `setup_s`;
  *  - without `--trace`: closed loop of product calls (`Pipeline.run`, or
  *    `Pipeline.runIncremental` for refresh) for `--seconds`, one at a time;
  *  - with `--trace 1`: the traced compositions of [[Layers]] next to
  *    product calls, one product call after the tracer is closed (the
  *    untraced baseline), and the single-thread automaton scan.
  *
  * Every product call's output is checked; a call whose output is wrong, or
  * that throws, is counted as failed and its time is dropped. The last line
  * of standard output is the result object. */
object BenchMain {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, work: String = "", report: String = "",
                        injectFault: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil =>
      require(a.workload.nonEmpty && a.work.nonEmpty, "--workload and --work are required")
      a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--report" :: v :: rest => parse(rest, a.copy(report = v))
    case "--inject-fault" :: rest => parse(rest, a.copy(injectFault = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
  }

  val MaxLevel: Int = graft.AnnotateOptions().hierarchyMaxLevel
  val MinCalls = 2
  val SampleDocs = 40

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList)
    new Bench(a).run()
  }

  /** Logs to standard error with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite metric value")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}

final class Bench(a: BenchMain.Args) {
  import BenchMain._

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val shape = Shapes.byName(a.workload)
  private val isRefresh = shape.name == Shapes.refresh.name
  private val root = new File(a.work).getAbsoluteFile
  private val sfDir = s"$root/sf"
  private val ontoDir = s"$root/onto"
  private val v1Dir = s"$root/v1"

  private val genStart = System.nanoTime()
  private val gen = Gen(shape, a.seed)
  private val genS = secs(genStart)
  private val nDocs = gen.docs.size
  private val textMb = gen.textBytes / 1e6
  private val refV1 = new Reference(gen.concepts, gen.edges, gen.mappings, MaxLevel)
  private val refV2 = new Reference(gen.v2, gen.edges, gen.mappings, MaxLevel)
  private val sample = Check.sample(gen.docs, a.seed, SampleDocs)

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  /** First output summary per dict version; later outputs must equal it. */
  private val expected = mutable.HashMap.empty[String, Check.Summary]
  private val report = mutable.LinkedHashMap.empty[String, Any]

  private def cfg(workDir: String, runId: String, onto: OntologyTables,
                  version: String = "v1"): Pipeline.Config =
    Pipeline.Config(sfDir, workDir, dictVersion = version, runId = runId,
      ontology = Some(onto))

  private def load(spark: SparkSession): (OntologyTables, DataFrame) =
    (OntologyTables(spark.read.parquet(s"$ontoDir/concepts"),
      spark.read.parquet(s"$ontoDir/edges"), spark.read.parquet(s"$ontoDir/mappings")),
      spark.read.parquet(s"$ontoDir/concepts_v2"))

  /** Writes the generated inputs as parquet. Rows with explicit schemas:
    * the reflective `toDF` encoders cost seconds in a fresh JVM. */
  private def writeInputs(spark: SparkSession): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def write(rows: Seq[Row], schema: StructType, path: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(path)
    val str = StringType
    def fields(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t, nullable = false) })
    write(gen.docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)),
      fields("doc_id" -> LongType, "text" -> str, "lang" -> str, "source" -> str,
        "n_chars" -> LongType), s"$sfDir/documents.parquet")
    val conceptSchema = fields("class_iri" -> str, "ont" -> str, "pref_label" -> str,
      "synonyms" -> ArrayType(str, false), "tuis" -> ArrayType(str, false), "cui" -> str)
    def concepts(cs: Seq[GenConcept], name: String): Unit =
      write(cs.map(c => Row(c.iri, c.ont, c.pref, c.syns, c.tuis, c.cui)), conceptSchema,
        s"$ontoDir/$name")
    concepts(gen.concepts, "concepts")
    concepts(gen.v2, "concepts_v2")
    write(gen.edges.map { case (c, p) => Row(c, p) },
      fields("child_iri" -> str, "parent_iri" -> str), s"$ontoDir/edges")
    write(gen.mappings.map { case (c, m, k) => Row(c, m, k) },
      fields("class_iri" -> str, "mapped_iri" -> str, "kind" -> str), s"$ontoDir/mappings")
  }

  /** A wrong triple for a sampled document, appended to the output: the
    * self-test that a disagreeing output is reported as a failure. */
  private def corrupt(spark: SparkSession, dir: String, version: String): Unit = {
    import spark.implicits._
    Seq((Reference.url(sample.head.id), "hasAnnotation", "http://bench.onto/ONT1#bogus",
      "PREF", 0, 10.0, java.sql.Date.valueOf("2024-01-01"), version))
      .toDF("subj", "pred", "obj", "match_type", "distance", "score", "part_date",
        "dict_version")
      .write.mode("append").partitionBy(Layers.TriplePartitions: _*).parquet(dir)
  }

  /** Checks one output table; returns the problems found (empty = correct).
    * Every output of one process must summarise identically, and the sampled
    * documents must equal the independent derivation. */
  private def problems(spark: SparkSession, dir: String, ref: Reference,
                       version: String): Seq[String] = {
    if (a.injectFault) corrupt(spark, dir, version)
    val s = Check.summarize(spark, dir)
    val drift = expected.get(version) match {
      case None => expected(version) = s; Nil
      case Some(e) if e == s => Nil
      case Some(e) => Seq(s"output $s differs from the first output $e")
    }
    val empty = if (s.rows == 0) Seq("no triples") else Nil
    empty ++ drift ++ Check.sampleDiff(spark, dir, ref, sample)
  }

  /** Runs `call` and checks its output; counts it; Some(cost) when correct. */
  private def attempt(what: String)(call: => (Cost, Seq[String])): Option[Cost] = {
    attempted += 1
    val r = try call catch { case NonFatal(e) => (Cost.Zero, Seq(s"threw $e")) }
    log(f"$what: ${r._1.wallS}%.3f s wall, ${r._1.cpuS}%.3f s CPU (JIT ${r._1.jitS}%.3f s), " +
      (if (r._2.isEmpty) "ok" else "FAILED"))
    if (r._2.isEmpty) Some(r._1)
    else {
      failed += 1
      failures += s"$what: ${r._2.mkString("; ")}"
      log(s"$what: ${r._2.mkString("; ")}")
      None
    }
  }

  /** A `Pipeline.run` into `dir`, timed, then checked; the work dir is
    * removed unless `keep`. */
  private def fullRun(spark: SparkSession, onto: OntologyTables, id: String, dir: String,
                      keep: Boolean = false): Option[Cost] = attempt(id) {
    deleteTree(new File(dir))
    val (_, cost) = Cost.of(Pipeline.run(spark, cfg(dir, id, onto)))
    try (cost, problems(spark, s"$dir/triples", refV1, "v1"))
    finally if (!keep) deleteTree(new File(dir))
  }

  /** A `Pipeline.runIncremental` over the completed v1 run, timed, then
    * checked; the v2 stages are removed first so every call recomputes them. */
  private def refreshCall(spark: SparkSession, onto: OntologyTables, v2: DataFrame,
                          id: String): Option[Cost] = attempt(id) {
    Seq("dict_v2", "triples_v2").foreach(s => deleteTree(new File(s"$v1Dir/$s")))
    val (_, cost) = Cost.of(Pipeline.runIncremental(spark, cfg(v1Dir, id, onto, "v2"), v2))
    (cost, problems(spark, s"$v1Dir/triples_v2", refV2, "v2"))
  }

  private final case class Session(spark: SparkSession, onto: OntologyTables, v2: DataFrame)

  /** Session start, the untimed input preparation (the parquet inputs), the
    * ontology load and one warm-up `Pipeline.run`. That run is also the
    * completed v1 run the refreshes apply to; for refresh a warm-up
    * `Pipeline.runIncremental` follows it, so the first-call cost of the
    * refresh path lands here too. The set-up time is the session start, the
    * load and the warm-up calls. */
  private def setup(): (Session, Cost) = {
    val (spark, session) = Cost.of(Main.session("perfbench"))
    writeInputs(spark)
    log("inputs written")
    val ((onto, v2), load) = Cost.of(this.load(spark))
    val warmups = fullRun(spark, onto, "warmup", v1Dir, keep = true).toSeq ++
      (if (isRefresh) refreshCall(spark, onto, v2, "warmup-refresh") else None)
    (Session(spark, onto, v2), (session +: load +: warmups).reduce(_ + _))
  }

  def run(): Unit = {
    log(s"${shape.name} seed=${a.seed}: $nDocs docs, ${f"$textMb%.1f"} MB text, " +
      s"${gen.concepts.size} classes, generated in ${f"$genS%.1f"} s")
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (s, setupCost) = setup()
    report("setup") = setupCost.toMap
    if (a.trace) traced(s, metrics) else timed(s, metrics, setupCost)
    s.spark.stop()

    val inputs = mutable.LinkedHashMap[String, Any](
      "workload" -> shape.name, "why" -> shape.why, "seed" -> a.seed, "docs" -> nDocs,
      "text_mb" -> textMb, "classes" -> gen.concepts.size,
      "terms" -> refV1.termCount, "edges" -> gen.edges.size,
      "mappings" -> gen.mappings.size,
      "triples_per_doc" -> expected.get(if (isRefresh) "v2" else "v1")
        .map(_.rows.toDouble / nDocs).getOrElse(0.0))
    report.get("automaton_nodes").foreach(n => inputs("automaton_nodes") = n)
    val host = Host.block()
    println(json(Map("host" -> host)))
    println(json(Map("inputs" -> inputs)))
    report("host") = host
    report("inputs") = inputs
    report("failures") = failures.toSeq
    if (a.report.nonEmpty) {
      Files.createDirectories(Paths.get(a.report).getParent)
      Files.write(Paths.get(a.report), json(report).getBytes(StandardCharsets.UTF_8))
    }
    val m = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(json(mutable.LinkedHashMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> m)))
  }

  /** Tracing off: closed loop of product calls for `--seconds`. */
  private def timed(s: Session, metrics: mutable.Map[String, (Double, String)],
                    setup: Cost): Unit = {
    val costs = mutable.ArrayBuffer.empty[Cost]
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinCalls || secs(t0) < a.seconds) {
      val id = s"call-$n"
      (if (isRefresh) refreshCall(s.spark, s.onto, s.v2, id)
       else fullRun(s.spark, s.onto, id, s"$root/calls/$id")).foreach(costs += _)
      n += 1
    }
    report("calls") = costs.toSeq.map(_.toMap)
    if (costs.nonEmpty) {
      val cpu = Tracer.median(costs.toSeq.map(_.programCpuS))
      metrics("docs_per_cpu_s") = (nDocs / cpu, "1/cpu_s")
      metrics("text_mb_per_cpu_s") = (textMb / cpu, "MB/cpu_s")
      metrics("setup_s") = (setup.cpuS, "s")
    }
  }

  /** The refresh output must equal a full run on the v2 dictionary. */
  private def refreshEqualsFullRun(spark: SparkSession, refreshed: String,
                                   onto: OntologyTables, v2: DataFrame): Unit = {
    attempt("full-v2-run") {
      val dir = s"$root/full_v2"
      deleteTree(new File(dir))
      val (_, cost) = Cost.of(
        Pipeline.run(spark, cfg(dir, "full-v2", onto.copy(concepts = v2), "v2")))
      val full = Check.summarize(spark, s"$dir/triples")
      val inc = Check.summarize(spark, refreshed)
      (cost, if (full == inc) Nil else Seq(s"refresh $inc != full v2 run $full"))
    }
  }

  /** Tracing on: the traced compositions next to product calls on the same
    * inputs (those inside a span, for the pipeline layer's jobs and storage),
    * then an untraced product call as the baseline, then the single-thread
    * automaton scan. */
  private def traced(s: Session, metrics: mutable.Map[String, (Double, String)]): Unit = {
    val spark = s.spark
    val t = new Tracer(spark, s"${shape.name}-${a.seed}-${System.currentTimeMillis()}")
    val u = s"$root/product"
    val tRun = s"$root/traced"
    val tRefresh = s"$root/traced_refresh"
    Seq(u, tRun, tRefresh).foreach(d => deleteTree(new File(d)))
    var model: graft.dict.AnnotatorModel = null
    val storage = mutable.HashMap.empty[String, (Long, Long, Long)] // before, peak, after

    /** A product call inside one span, for its wall, jobs and storage. */
    def product(name: String)(call: => Unit): Unit = {
      val before = t.storageBytes
      t.resetStoragePeak()
      t.span(name)(call)
      storage(name) = (before, t.storagePeakBytes, t.storageBytes)
    }
    def wall(n: String) = t.get(n).wallS

    def runPair(): Unit = {
      attempt("traced-run") {
        val (m, cost) = Cost.of(Layers.run(t, spark, cfg(tRun, "traced", s.onto), s.onto))
        model = m
        (cost, problems(spark, s"$tRun/triples", refV1, "v1"))
      }
      attempt("product-run") {
        val (_, cost) = Cost.of(
          product("product.run")(Pipeline.run(spark, cfg(u, "product-run", s.onto))))
        (cost, problems(spark, s"$u/triples", refV1, "v1"))
      }
    }
    // both over the set-up's completed v1 run
    def refreshPair(): Unit = {
      attempt("traced-refresh") {
        val (_, cost) = Cost.of(Layers.refresh(t, spark,
          cfg(v1Dir, "traced-refresh", s.onto, "v2"), s.onto, s.v2, tRefresh))
        (cost, problems(spark, s"$tRefresh/triples_v2", refV2, "v2"))
      }
      attempt("product-refresh") {
        Seq("dict_v2", "triples_v2").foreach(x => deleteTree(new File(s"$v1Dir/$x")))
        val (_, cost) = Cost.of(product("product.refresh")(
          Pipeline.runIncremental(spark, cfg(v1Dir, "product-refresh", s.onto, "v2"), s.v2)))
        (cost, problems(spark, s"$v1Dir/triples_v2", refV2, "v2"))
      }
    }
    // the workload's own product call comes last, next to its untraced
    // baseline, so the JIT is about as warm for both
    if (isRefresh) { runPair(); refreshPair() } else { refreshPair(); runPair() }
    t.close()
    val baseline =
      if (isRefresh) refreshCall(spark, s.onto, s.v2, "baseline")
      else fullRun(spark, s.onto, "baseline", s"$root/calls/baseline")
    if (isRefresh) refreshEqualsFullRun(spark, s"$v1Dir/triples_v2", s.onto, s.v2)
    val t0 = t.spans.headOption.map(_.startNs).getOrElse(0L)
    report("spans") = t.spans.toSeq.map { x =>
      mutable.LinkedHashMap[String, Any]("run_id" -> t.runId, "id" -> x.id,
        "parent" -> x.parent, "name" -> x.name, "start_s" -> (x.startNs - t0) / 1e9,
        "end_s" -> (x.endNs - t0) / 1e9, "wall_s" -> x.wallS, "jobs" -> x.jobs,
        "tasks" -> x.tasks, "cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3,
        "shuffle_mb" -> x.shuffleWriteBytes / 1e6, "spill_mb" -> x.spillDiskBytes / 1e6,
        "written_mb" -> x.bytesWritten / 1e6, "written_rows" -> x.recordsWritten)
    }
    if (failed > 0) return // no layer numbers from a run whose outputs are wrong

    def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)
    for (l <- Seq("dict", "corpus", "scan", "closure", "expand", "io", "incremental")) {
      val ss = t.layer(l)
      put(s"$l.jobs", ss.map(_.jobs).sum, "count")
      put(s"$l.tasks", ss.map(_.tasks).sum.toDouble, "count")
      put(s"$l.cpu_s", ss.map(_.cpuNs).sum / 1e9, "s")
      put(s"$l.gc_s", ss.map(_.gcMs).sum / 1e3, "s")
      put(s"$l.shuffle_mb", ss.map(_.shuffleWriteBytes).sum / 1e6, "MB")
      put(s"$l.spill_mb", ss.map(_.spillDiskBytes).sum / 1e6, "MB")
    }

    val dictBuild = t.get("dict.build")
    put("dict.s", wall("dict"), "s")
    put("dict.self_s", t.selfS("dict"), "s")
    put("dict.build_s", dictBuild.wallS, "s")
    put("dict.terms", dictBuild.recordsWritten.toDouble, "count")
    put("dict.automaton_build_s", wall("dict.automaton_build"), "s")
    put("dict.automaton_nodes", model.automaton.numNodes, "count")
    put("dict.automaton_mb", model.automaton.sizeEstimate / 1e6, "MB")
    put("dict.broadcast_s", wall("dict.broadcast"), "s")
    report("automaton_nodes") = model.automaton.numNodes

    val texts = {
      val r = new java.util.SplittableRandom(a.seed ^ 0xa07L)
      Iterator.continually(gen.docs(r.nextInt(nDocs)).text)
        .scanLeft(("", 0L)) { case ((_, n), x) => (x, n + x.length) }
        .drop(1).takeWhile(_._2 < 4000000L).map(_._1).toVector
    }
    val (autoMbS, hitsPerKb) = Layers.automatonScan(model, texts)
    put("automaton.scan_mb_per_s", autoMbS, "MB/s")
    put("automaton.hits_per_kb", hitsPerKb, "1/KB")

    val corpus = t.get("corpus")
    put("corpus.s", corpus.wallS, "s")
    put("corpus.partitions_out",
      corpus.stageTasks.values.maxBy(_.map(_._2).sum).size, "count")
    put("corpus.partition_bytes_max_over_median", Tracer.outputSkew(corpus), "ratio")

    val scan = t.get("scan")
    put("scan.s", scan.wallS, "s")
    put("scan.task_max_over_median", Tracer.taskTimeSkew(scan), "ratio")
    put("scan.matches", scan.recordsWritten.toDouble, "count")
    put("scan.filter_keep_ratio",
      if (scan.generateRows > 0) scan.recordsWritten.toDouble / scan.generateRows else 0.0,
      "ratio")
    put("scan.cpu_over_automaton", scan.cpuNs / 1e9 / (textMb / autoMbS), "ratio")

    val closure = t.get("closure")
    put("closure.s", closure.wallS, "s")
    put("closure.rows", closure.recordsWritten.toDouble, "count")

    val io = t.get("io")
    put("expand.s", wall("expand"), "s")
    put("expand.triples", io.recordsWritten.toDouble, "count")
    put("expand.triples_per_match",
      io.recordsWritten.toDouble / math.max(1L, scan.recordsWritten), "ratio")
    put("io.write_s", io.wallS, "s")
    put("io.write_mb", io.bytesWritten / 1e6, "MB")
    put("io.files", Files.walk(Paths.get(tRun, "triples")).filter(p =>
      p.toString.endsWith(".parquet")).count().toDouble, "count")
    put("io.bytes_per_triple", io.bytesWritten.toDouble / math.max(1L, io.recordsWritten),
      "B")

    val affected = t.get("incremental.affected")
    put("incremental.s", wall("incremental"), "s")
    put("incremental.self_s", t.selfS("incremental"), "s")
    put("incremental.dict_s", wall("incremental.dict"), "s")
    put("incremental.diff_s", wall("incremental.diff"), "s")
    put("incremental.affected_s", affected.wallS, "s")
    put("incremental.affected_docs", affected.recordsWritten.toDouble, "count")
    put("incremental.affected_frac", affected.recordsWritten.toDouble / nDocs, "ratio")
    put("incremental.rescan_s", wall("incremental.rescan"), "s")
    put("incremental.rewrite_s", wall("incremental.rewrite"), "s")
    put("incremental.rewrite_mb", t.get("incremental.rewrite").bytesWritten / 1e6, "MB")

    // pipeline layer: the product calls' own lineage rows
    val stageS = spark.read.parquet(s"$u/lineage", s"$v1Dir/lineage")
      .filter(col("run_id").isin("product-run", "product-refresh"))
      .groupBy("stage").agg(max("wall_ms")).collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1e3).toMap
    val runStages = Seq("dict", "corpus", "matches", "closure", "triples")
    val refreshStages = Seq("dict_v2", "triples_v2")
    (runStages ++ refreshStages).foreach(st =>
      put(s"pipeline.stage_s.$st", stageS.getOrElse(st, 0.0), "s"))
    val (prod, stages) =
      if (isRefresh) ("product.refresh", refreshStages) else ("product.run", runStages)
    val prodWall = wall(prod)
    val (before, peak, after) = storage(prod)
    put("pipeline.overhead_s", prodWall - stages.map(stageS.getOrElse(_, 0.0)).sum, "s")
    put("pipeline.jobs", t.get(prod).jobs, "count")
    put("pipeline.peak_storage_mb", peak / 1e6, "MB")
    put("pipeline.retained_storage_mb", (after - before) / 1e6, "MB")

    // how the traced layers account for the product call. The compositions
    // force one pass the product call does not make, recomputed later from
    // its plan: the expansion through noop before its write, and the diff
    // through noop before affectedUrls. That pass is kept out of the layer
    // sum and reported as trace.extra_s.
    val (tracedWall, extra, layersS, dominant) =
      if (isRefresh) {
        val diff = wall("incremental.diff")
        (wall("incremental"), diff, wall("incremental") - diff,
          Seq("affected", "rescan", "rewrite").map(x => wall(s"incremental.$x")).sum)
      } else
        (wall("run"), wall("expand"),
          Seq("dict", "corpus", "scan", "closure", "io").map(wall).sum,
          wall("dict") + wall("scan"))
    val untraced = baseline.get.wallS // defined: no call failed
    put("trace.wall_s", tracedWall, "s")
    put("trace.extra_s", extra, "s")
    put("trace.product_wall_s", untraced, "s")
    // the same product call with the tracer on and off
    put("trace.overhead_frac", (prodWall - untraced) / untraced, "ratio")
    put("trace.accounted_frac", layersS / stages.map(stageS.getOrElse(_, 0.0)).sum, "ratio")
    put("trace.dominant_share", dominant / layersS, "ratio")
    put("trace.run_self_s", t.selfS("run"), "s")
  }
}

/** Wall and process CPU seconds (all JVM threads) of one measured section,
  * and the CPU seconds of the JIT among them: the compiler threads and the
  * code cache sweeper. In a young JVM the JIT takes half of a call's CPU,
  * and its share varies from run to run; `programCpuS` leaves it out:
  * Spark tasks, the driver and GC. CPU time does not advance while the host
  * steals the CPU from this VM, so it stays comparable when co-tenants load
  * the machine. */
final case class Cost(wallS: Double, cpuS: Double, jitS: Double) {
  def programCpuS: Double = cpuS - jitS
  def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS, jitS + o.jitS)
  def toMap: Map[String, Double] = Map("wall_s" -> wallS, "cpu_s" -> cpuS, "jit_s" -> jitS)
}

object Cost {
  val Zero: Cost = Cost(0.0, 0.0, 0.0)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Linux clock ticks per second of /proc's utime and stime (USER_HZ). */
  private val TicksPerS = 100.0

  /** CPU seconds the JIT threads (compilers, code cache sweeper) have used,
    * from /proc/self/task: the management beans do not list these threads.
    * The set of compiler threads must stay fixed
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), since an exited thread's
    * time leaves the per-thread files. */
  def jitCpuS(): Double = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")),
          StandardCharsets.UTF_8)
        if (!comm.contains("CompilerThre") && !comm.startsWith("Sweeper thread")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")),
            StandardCharsets.UTF_8)
          // fields after the parenthesised name: state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L } // the thread has ended
    }.sum / TicksPerS
  }

  def of[T](body: => T): (T, Cost) = {
    val w0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    val j0 = jitCpuS()
    val r = body
    (r, Cost((System.nanoTime() - w0) / 1e9, (os.getProcessCpuTime - c0) / 1e9,
      jitCpuS() - j0))
  }
}
