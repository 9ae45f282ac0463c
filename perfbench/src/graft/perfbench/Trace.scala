package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** One timed call into a layer. Counters are those of the jobs run while the
  * span was the innermost open one (its job group). */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs = 0L
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillDiskBytes = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  /** Rows out of `Generate` nodes (the native annotate scan) in this span's queries. */
  var generateRows = 0L
  /** stage id -> per-task (executor run time ms, output bytes). */
  val stageTasks = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  def wallS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-side tracing: a SparkListener attributes job and task counters
  * to the span whose job group was set around the call, and tracks Spark
  * storage memory (bytes of blocks held in memory) with its high-water mark.
  * Spans share `runId`, live in memory, and are written out by the caller
  * when the run ends. */
final class Tracer(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  private val prefix = runId + ":"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var current: Span = null
  private var pendingGenerateRows = 0L

  private val blocks = mutable.HashMap.empty[BlockId, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    ListenerDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[T](name: String)(body: => T): T = {
    val parent = current
    val s = new Span(spans.size, if (parent == null) -1 else parent.id, name, System.nanoTime())
    synchronized { spans += s }
    current = s
    sc.setJobGroup(prefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      ListenerDrain(sc)
      synchronized { s.generateRows += pendingGenerateRows; pendingGenerateRows = 0L }
      current = parent
      if (parent == null) sc.clearJobGroup()
      else sc.setJobGroup(prefix + parent.id, parent.name, interruptOnCancel = false)
    }
  }

  def get(name: String): Span = spans.find(_.name == name)
    .getOrElse(sys.error(s"no span '$name'"))

  /** Spans named `layer` or `layer.<sub>`: the layer and its sub-spans. */
  def layer(name: String): Seq[Span] =
    spans.toSeq.filter(s => s.name == name || s.name.startsWith(name + "."))

  /** Wall of span `name` minus the part its direct children cover. */
  def selfS(name: String): Double = {
    val s = get(name)
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum
  }

  def storageBytes: Long = { ListenerDrain(sc); synchronized(storageNow) }

  /** High-water storage since the last reset. */
  def storagePeakBytes: Long = { ListenerDrain(sc); synchronized(storagePeak) }

  def resetStoragePeak(): Unit = { ListenerDrain(sc); synchronized { storagePeak = storageNow } }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(prefix)) {
      val s = synchronized(spans(group.substring(prefix.length).toInt))
      synchronized { s.jobs += 1 }
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) synchronized {
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillDiskBytes += m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsWritten += m.outputMetrics.recordsWritten
      s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        ((m.executorRunTime, m.outputMetrics.bytesWritten))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val before = blocks.getOrElse(info.blockId, 0L)
    val after = if (info.storageLevel.isValid) info.memSize else 0L
    if (after > 0) blocks(info.blockId) = after else blocks.remove(info.blockId)
    storageNow += after - before
    if (storageNow > storagePeak) storagePeak = storageNow
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rows = Tracer.nodes(qe.executedPlan).collect { case g: GenerateExec =>
      g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    synchronized { pendingGenerateRows += rows }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Every physical node of an executed plan, looking through adaptive
    * wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** max / median task run time in the span's stage with the most run time. */
  def taskTimeSkew(s: Span): Double = skew(s, _._1)

  /** max / median task output bytes in the span's stage that wrote the most. */
  def outputSkew(s: Span): Double = skew(s, _._2)

  private def skew(s: Span, f: ((Long, Long)) => Long): Double = {
    if (s.stageTasks.isEmpty) return 0.0
    val xs = s.stageTasks.values.maxBy(_.map(f).sum).map(t => f(t).toDouble).toSeq
    val med = median(xs)
    if (med <= 0) 0.0 else xs.max / med
  }
}
