package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from outside the layer. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      request: Long, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the program, kept in memory
  * and written at exit. Spans nest per thread: a span opened while
  * another is open on the same thread becomes its child. When tracing
  * is off [[span]] only runs its body.
  */
final class Tracer {
  @volatile var on: Boolean = false
  @volatile var request: Long = -1L
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), layer, name, request, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: String): Unit = {
    val lines = all.map { s =>
      Main.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Counts from Spark's public listener APIs, registered only while a
  * traced pass runs. Jobs and stages are tagged by the job group of the
  * thread that submitted them (a streaming query's group is its run id).
  */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  final case class StageStat(group: String, tasks: Int, shuffleWrite: Long, spill: Long, runMs: Long)
  final case class QueryStat(func: String, phase: String, planMs: Double, execMs: Double, scan: Engine.Scan)

  val jobsByGroup = mutable.Map.empty[String, Int]
  private val stageGroup = mutable.Map.empty[Int, String]
  val stages = mutable.ArrayBuffer.empty[StageStat]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val queries = new ConcurrentLinkedQueue[QueryStat]()
  @volatile var failedQueries = 0
  /** Label stamped on query executions as they are reported. */
  @volatile var phase = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (sw, sp, rt) =
      if (m == null) (0L, 0L, 0L)
      else (m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.executorRunTime)
    stages += StageStat(stageGroup.getOrElse(i.stageId, "none"), i.numTasks, sw, sp, rt)
  }

  /** max / median task run time of the stage with the most task time. */
  def taskSkew: Double = synchronized {
    if (taskTimes.isEmpty) 0.0
    else {
      val heaviest = taskTimes.values.maxBy(_.sum)
      val sorted = heaviest.sorted
      val med = sorted(sorted.length / 2).max(1L)
      sorted.last.toDouble / med
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble
    queries.add(QueryStat(funcName, phase, planMs, durationNs / 1e6, Engine.scanned(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    failedQueries += 1
}

/** StreamingQueryProgress.durationMs of every trigger that read rows,
  * with the query's source description and the pass it was reported
  * in. Used as the measurement itself for per-trigger latencies, so it
  * stays registered in untraced runs too.
  */
final class StreamProgress extends StreamingQueryListener {
  final case class Progress(queryId: String, source: String, pass: String, durations: Map[String, Long])

  @volatile var pass = ""
  private val events = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      events.add(Progress(p.id.toString, p.sources.headOption.map(_.description).getOrElse(""), pass,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def all: Seq[Progress] = events.asScala.toSeq
}

object Engine extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, rows: Long, partitions: Long)

  /** Files, rows and table partitions read by the file scans of an
    * executed plan, looking through adaptive query stages and subqueries.
    */
  def scanned(plan: SparkPlan): Scan = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def metric(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    Scan(metric("numFiles"), metric("numOutputRows"), metric("numPartitions"))
  }

  def register(spark: SparkSession, c: EngineCounters): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }

  def unregister(spark: SparkSession, c: EngineCounters): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
}
