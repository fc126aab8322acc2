package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call from the benchmark into a module. Times are
  * `System.nanoTime` readings; `parent` is the enclosing span's id (-1 at
  * the top) and `op` the id of the operation the span belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest strictly (one client, one thread),
  * so a span's self time is its duration minus the summed durations of
  * its direct children. Disabled, it only runs the wrapped code. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  var currentOp: Int = -1
  private var stack: List[Int] = Nil

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += null // reserve the id; filled in when the span closes
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, currentOp)
      }
    }

  /** Self time in seconds, summed per span name. */
  def selfTimes: Map[String, Double] = {
    val childSum = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childSum(s.parent) += s.seconds)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum(s.id)).sum
    }
  }
}

/** Engine counters of one operation, filled by [[EngineProbe]]. */
final class EngineStats {
  var actions = 0L
  var jobs = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var planningMs = 0L
  var deserializeMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Wall-clock window of the operation (epoch ms), set by the harness. */
  var windowMs: (Long, Long) = (0L, 0L)
  /** (launch, finish) of every task, epoch ms. */
  val taskSpansMs = ArrayBuffer[(Long, Long)]()
  private[perfbench] val jobStartMs = mutable.Map[Int, Long]()
  private[perfbench] val jobSpansMs = ArrayBuffer[(Long, Long)]()

  def taskMs: Seq[Long] = taskSpansMs.map { case (a, b) => b - a }.toSeq

  /** Most tasks running at one instant, from the launch and finish times
    * the scheduler records. A finish time includes the driver's handling
    * of the task's result, which can overlap the launch of the task that
    * took its slot, so the figure can exceed the core count by a few. */
  def peakConcurrency: Int = {
    val edges = taskSpansMs.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) } // an end at t frees its slot before a start at t
    edges.scanLeft(0)(_ + _._2).max
  }

  /** Operation wall time not covered by any of its Spark jobs: planning,
    * driver-side loops and solves, result handling. */
  def driverSeconds: Double = {
    val (w0, w1) = windowMs
    val clipped = jobSpansMs.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (-1L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    math.max(0L, (w1 - w0) - covered) / 1e3
  }
}

/** The benchmark's own engine listener: one SparkListener plus one
  * QueryExecutionListener. Each operation runs under its own job tag;
  * jobs, stages and tasks are attributed to the operation whose tag they
  * carry. SQL-execution callbacks carry no tag, so they go to the open
  * operation: [[end]] drains the listener bus before it closes a window,
  * so no event of one operation can land in the next. */
final class EngineProbe(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val byTag = new ConcurrentHashMap[String, EngineStats]()
  private val stageOwner = new ConcurrentHashMap[Int, EngineStats]()
  private val jobOwner = new ConcurrentHashMap[Int, EngineStats]()
  @volatile private var open: EngineStats = _
  @volatile var untaggedJobs = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(tag: String): Unit = {
    val s = new EngineStats
    byTag.put(tag, s)
    open = s
    sc.addJobTag(tag)
  }

  def end(tag: String): EngineStats = {
    BenchBus.drain(sc)
    sc.removeJobTag(tag)
    open = null
    byTag.remove(tag)
  }

  private def ownerOf(props: java.util.Properties): EngineStats = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
    tags.iterator.map(byTag.get).find(_ != null).getOrElse {
      if (open != null) untaggedJobs += 1
      open
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = ownerOf(e.properties)
    if (s != null) s.synchronized {
      s.jobs += 1
      s.jobStartMs(e.jobId) = e.time
      jobOwner.put(e.jobId, s)
      e.stageIds.foreach(id => stageOwner.put(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobOwner.remove(e.jobId)
    if (s != null) s.synchronized {
      s.jobStartMs.remove(e.jobId).foreach(t0 => s.jobSpansMs += ((t0, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageOwner.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.tasksFailed += 1
      s.taskSpansMs += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.deserializeMs += m.executorDeserializeTime
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def onAction(qe: QueryExecution): Unit = {
    val s = open
    if (s != null) s.synchronized {
      s.actions += 1
      s.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onAction(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onAction(qe)
}
