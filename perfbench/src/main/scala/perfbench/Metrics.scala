package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Turns a finished run into the benchmark's figures.
  *
  * End-to-end (untraced runs): `setup_s` (JVM start to a warmed
  * session), `run_s` (median pass time) and
  * `op_p50_s` (median operation latency; which operations count is the
  * workload's choice, see [[Workload.latencies]]).
  *
  * Per-layer (traced runs): the engine split, measured from outside by
  * [[EngineProbe]], the JVM's memory and the traced pass time. Counts and
  * times are per pass. The module layers a workload enters (`mc.*`,
  * `estimators.*`, `queries.*`, ...) are the self times of their spans;
  * they go on the report line, since each exists on one workload only. */
object Metrics {

  /** (name, unit) of every per-layer metric, in output order. */
  val perLayer: Seq[(String, String)] =
    Seq("actions" -> "count", "jobs" -> "count", "tasks" -> "count",
      "deserialize_s" -> "s", "planning_s" -> "s", "driver_s" -> "s",
      "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
      "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "task_p50_ms" -> "ms",
      "task_max_ms" -> "ms", "peak_concurrency" -> "count", "core_util" -> "ratio",
      "tasks_failed" -> "count").map { case (n, u) => s"spark.$n" -> u } ++
    Seq("jvm.peak_rss_mb" -> "MB", "jvm.heap_used_mb" -> "MB", "trace.run_s" -> "s")

  def result(w: Workload, h: Harness, setup: Double): ObjectNode = {
    val failed = h.ops.count(_.error.nonEmpty)
    val attempted = h.ops.size
    val run = Stats.median(h.passSeconds.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!h.settings.trace) Seq(("setup_s", setup, "s"), ("run_s", run, "s"),
        ("op_p50_s", Stats.median(w.latencies(h)), "s"))
      else {
        val v = engineValues(h, run)
        perLayer.map { case (n, u) => (n, v(n), u) }
      }
    val report = Seq(("setup_s", setup, "s"), ("run_s", run, "s"),
      ("ops_failed_frac", failed.toDouble / math.max(1, attempted), "ratio")) ++
      w.report(h) ++ (if (h.settings.trace) moduleValues(w, h) else Nil)
    val out = mapper.createObjectNode()
      .put("workload", w.name)
      .put("correct", failed == 0 && attempted > 0)
      .put("attempted", attempted)
      .put("failed", failed)
    out.set[ObjectNode]("metrics", metricsNode(metrics))
    out.set[ObjectNode]("report", metricsNode(report))
    out.put("passes", h.passSeconds.size)
    val ops = out.putArray("ops")
    h.ops.foreach(o => ops.addArray().add(o.layer).add(o.seconds))
    val errors = out.putArray("errors")
    h.ops.flatMap(_.error).take(20).foreach(e => errors.add(e))
    out
  }

  val mapper = new ObjectMapper()

  /** A non-finite value (a broken run) is written as null. */
  private def metricsNode(ms: Seq[(String, Double, String)]): ObjectNode = {
    val node = mapper.createObjectNode()
    ms.foreach { case (n, v, u) =>
      val m = node.putObject(n)
      if (v.isNaN || v.isInfinite) m.putNull("value") else m.put("value", v)
      m.put("unit", u)
    }
    node
  }

  private def engineValues(h: Harness, run: Double): Map[String, Double] = {
    val passes = math.max(1, h.passSeconds.size)
    val stats = h.ops.flatMap(_.stats).toSeq
    def perPass(f: EngineStats => Double) = stats.map(f).sum / passes
    val tasks = stats.flatMap(_.taskMs).map(_.toDouble)
    System.gc()
    Map(
      "spark.actions" -> perPass(_.actions),
      "spark.jobs" -> perPass(_.jobs),
      "spark.tasks" -> perPass(_.tasks),
      "spark.deserialize_s" -> perPass(_.deserializeMs / 1e3),
      "spark.planning_s" -> perPass(_.planningMs / 1e3),
      "spark.driver_s" -> perPass(_.driverSeconds),
      "spark.executor_run_s" -> perPass(_.runMs / 1e3),
      "spark.executor_cpu_s" -> perPass(_.cpuNs / 1e9),
      "spark.gc_s" -> perPass(_.gcMs / 1e3),
      "spark.shuffle_write_mb" -> perPass(_.shuffleWriteBytes / 1e6),
      "spark.spill_mb" -> perPass(_.spillBytes / 1e6),
      "spark.task_p50_ms" -> (if (tasks.isEmpty) 0.0 else Stats.median(tasks)),
      "spark.task_max_ms" -> (if (tasks.isEmpty) 0.0 else tasks.max),
      "spark.peak_concurrency" ->
        (if (stats.isEmpty) 0.0 else stats.map(_.peakConcurrency).max.toDouble),
      "spark.core_util" ->
        stats.map(_.runMs / 1e3).sum / (h.passSeconds.sum * h.settings.cores),
      "spark.tasks_failed" -> perPass(_.tasksFailed),
      "jvm.peak_rss_mb" -> peakRssMb,
      "jvm.heap_used_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6,
      "trace.run_s" -> run)
  }

  /** Per-pass self time (seconds) of each module layer the timed
    * operations entered, then the workload's own traced figures. */
  private def moduleValues(w: Workload, h: Harness): Seq[(String, Double, String)] = {
    val passes = math.max(1, h.passSeconds.size)
    val self = h.tracer.selfTimes
    val opLayers = h.ops.map(_.layer).distinct.sorted.map { l =>
      (s"${l}_s", self.getOrElse(l, 0.0) / passes, "s")
    }
    val steps = Seq("util.lease_release", "util.memo_clear").filter(self.contains).map { l =>
      (s"${l}_ms", self(l) * 1e3 / passes, "ms")
    }
    opLayers.toSeq ++ steps ++ w.traced(h)
  }

  /** VmHWM of this process, from /proc (0 where /proc is unavailable). */
  private def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1e3).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** Spans and per-operation engine counters of a traced run. */
  def traceFile(h: Harness): ObjectNode = {
    val out = mapper.createObjectNode()
    val self = out.putObject("self_s")
    h.tracer.selfTimes.toSeq.sortBy(_._1).foreach { case (n, v) => self.put(n, v) }
    out.put("untagged_jobs", h.probe.map(_.untaggedJobs).getOrElse(0L))
    val ops = out.putArray("ops")
    (h.ops ++ h.replays).foreach { o =>
      val node = ops.addObject().put("id", o.id).put("pass", o.pass).put("layer", o.layer)
        .put("group", o.group).put("seconds", o.seconds).put("error", o.error.orNull)
      o.stats match {
        case None => node.putNull("engine")
        case Some(s) => node.putObject("engine")
          .put("actions", s.actions).put("jobs", s.jobs).put("tasks", s.tasks)
          .put("tasks_failed", s.tasksFailed).put("planning_ms", s.planningMs)
          .put("deserialize_ms", s.deserializeMs).put("executor_run_ms", s.runMs)
          .put("executor_cpu_ms", s.cpuNs / 1000000).put("gc_ms", s.gcMs)
          .put("shuffle_write_bytes", s.shuffleWriteBytes).put("spill_bytes", s.spillBytes)
          .put("peak_concurrency", s.peakConcurrency).put("driver_s", s.driverSeconds)
      }
    }
    val t0 = h.tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = out.putArray("spans")
    h.tracer.spans.foreach { s =>
      spans.addObject().put("id", s.id).put("name", s.name)
        .put("start_ms", (s.startNs - t0) / 1e6).put("end_ms", (s.endNs - t0) / 1e6)
        .put("parent", s.parent).put("op", s.op)
    }
    out
  }
}
