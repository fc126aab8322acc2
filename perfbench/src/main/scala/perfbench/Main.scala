package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `run.py` builds and starts it; it is not meant to be
  * started by hand.
  *
  *   --workload mc_study|estimate_dist|catalog_slice
  *   --seed N --seconds S --trace 0|1 [--smoke]
  *   --bench-dir DIR --cores N --out FILE
  *   --record-fingerprints   (re-record catalog_slice.json's fingerprints)
  *
  * Writes one JSON object to `--out`: the verdict, the operation counts,
  * the metrics of the mode (end-to-end, or per-layer when traced) and
  * the workload's report figures. A traced run also writes its spans and
  * per-operation engine counters to `out/trace-<workload>-<seed>.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // as graft.Bench
    val a = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val benchDir = new File(a("--bench-dir"))
    val cores = a("--cores").toInt
    if (args.contains("--record-fingerprints")) {
      val spark = session(cores, benchDir, "record")
      try SliceFile.record(spark, benchDir) finally spark.stop()
      return
    }
    val s = Settings(a("--workload"), a("--seed").toLong, a("--seconds").toDouble,
      a("--trace") == "1", args.contains("--smoke"), benchDir, cores)
    val w = Workload(s.workload, s)

    // set-up: JVM start to a warmed session
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    val spark = session(cores, benchDir, s.workload)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Log.err(f"session up $sinceStart%.2f s after JVM start")
    w.warm(spark)
    val setup = sinceStart
    Log.err(f"set-up (JVM start to a warmed session) took $setup%.2f s")

    try {
      val h = new Harness(spark, s)
      h.timedPhase(p => w.pass(h, p))
      write(new File(a("--out")), Metrics.result(w, h, setup))
      if (s.trace) write(new File(benchDir, s"out/trace-${s.workload}-${s.seed}.json"),
        Metrics.traceFile(h))
    } finally spark.stop()
  }

  private def session(cores: Int, benchDir: File, app: String): SparkSession = {
    val work = new File(benchDir, "out/work").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$app")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def write(f: File, json: ObjectNode): Unit = {
    f.getParentFile.mkdirs()
    Metrics.mapper.writeValue(f, json)
  }
}
