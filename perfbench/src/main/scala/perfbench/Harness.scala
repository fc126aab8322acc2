package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `layer` names the module whose public function
  * the operation calls; `group` selects which latency percentile it
  * feeds. */
final class OpRecord(val id: Int, val pass: Int, val layer: String,
                     val group: String, val seconds: Double,
                     val stats: Option[EngineStats]) {
  var error: Option[String] = None
}

/** Settings of one benchmark run (see `Main` for the flags). */
final case class Settings(workload: String, seed: Long, seconds: Double,
                          trace: Boolean, smoke: Boolean,
                          benchDir: java.io.File, cores: Int)

/** A closed loop with one client: each operation starts after the
  * previous one returned. The timed phase repeats the workload's pass
  * until `seconds` have elapsed (always at least one whole pass). Output
  * checks run between operations and are excluded from the pass time,
  * so they add no work to what is timed. */
final class Harness(val spark: SparkSession, val settings: Settings) {
  val tracer = new Tracer(settings.trace)
  val probe: Option[EngineProbe] =
    if (settings.trace) Some(new EngineProbe(spark)) else None
  val ops = ArrayBuffer[OpRecord]()
  /** Calls replayed outside the timed phase (traced runs only). */
  val replays = ArrayBuffer[OpRecord]()
  val passSeconds = ArrayBuffer[Double]()
  private var pass = 0
  private var untimedNs = 0L
  private var nextId = 0

  private def runOp[T](layer: String, group: String,
                       sink: ArrayBuffer[OpRecord])(f: => T): Option[T] = {
    nextId += 1
    val tag = s"perfbench-op-$nextId"
    probe.foreach(_.begin(tag))
    tracer.currentOp = nextId
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(layer)(f)) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    // the bus drain inside `end` is tracing cost: outside the op's time
    val stats = probe.map { p =>
      val s = p.end(tag)
      s.windowMs = (w0, w1)
      s
    }
    tracer.currentOp = -1
    val rec = new OpRecord(nextId, pass, layer, group, sec, stats)
    res.left.foreach { e =>
      rec.error = Some(s"$layer threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      Log.err(rec.error.get)
    }
    sink += rec
    res.toOption
  }

  /** A timed operation. Returns None (and records the failure) if it threw. */
  def op[T](layer: String, group: String = "op")(f: => T): Option[T] =
    runOp(layer, group, ops)(f)

  /** Timed work inside the pass that is not an operation of its own
    * (e.g. the cache drain after a query): counted in `run_s`, traced
    * as a span, excluded from operation latencies. */
  def step[T](layer: String)(f: => T): T = tracer.span(layer)(f)

  /** Work excluded from the pass time: output checks, cleanup. */
  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }

  /** Run `check` (untimed) and charge any problem it reports to `target`. */
  def check(target: Option[OpRecord])(check: => Seq[String]): Unit =
    untimed(tracer.span("bench.check")(record(target, check)))

  private def record(target: Option[OpRecord], check: => Seq[String]): Unit = {
    val problems =
      try check catch { case NonFatal(e) => Seq(s"check threw ${e.getMessage}") }
    if (problems.nonEmpty) target.foreach { r =>
      if (r.error.isEmpty) r.error = Some(s"${r.layer}: ${problems.mkString("; ")}")
      Log.err(r.error.get)
    }
  }

  def lastOp: Option[OpRecord] = ops.lastOption

  /** A call replayed outside the timed phase, with its own span and
    * engine window (traced runs only). */
  def replay[T](layer: String)(f: => T): Option[T] = runOp(layer, "replay", replays)(f)

  def timedPhase(onePass: Int => Unit): Unit = {
    val start = System.nanoTime()
    do {
      untimedNs = 0L
      val t0 = System.nanoTime()
      tracer.span("bench.pass")(onePass(pass))
      passSeconds += (System.nanoTime() - t0 - untimedNs) / 1e9
      pass += 1
    } while (!settings.smoke && System.nanoTime() - start < settings.seconds * 1e9)
  }
}

object Log {
  def err(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Order statistics as Python's `statistics.quantiles(method="inclusive")`
  * and `statistics.median` compute them. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
