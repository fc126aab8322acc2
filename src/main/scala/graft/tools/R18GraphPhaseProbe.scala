package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-18 phase breakdown for the graph family's top query (a24):
  * times the edge build, the deg/edgesDeg cache fills, each rank round
  * (via pageRankTopK's onRound hook), and the top-k collect, so the
  * round-loop levers (per-round job launches, edge-build distinct) can
  * be sized BEFORE touching the operator (guide §1).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.tools.R18GraphPhaseProbe"
  */
object R18GraphPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("PROBE_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).write
      .format("noop").mode("overwrite").save()

    // job-level trace: how many Spark jobs each round launches and what
    // each costs — the lever-(a) sizing (per-round job launches)
    // boxed values: `remove` of a job whose start was not seen is null,
    // which the end handler skips (a Scala Long would unbox it to 0)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStart.put(js.jobId, System.nanoTime())
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobStart.remove(je.jobId)
          if (t0 != null) {
            val ms = (System.nanoTime() - t0) / 1e6
            if (ms >= 20)
              println(f"[job] id=${je.jobId}%4d ${ms}%8.1f ms")
          }
        }
      })

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    def load(name: String) =
      spark.read.parquet(s"$sfDir/$name.parquet")

    (1 to 2).foreach { rep =>
      println(s"--- rep $rep ---")
      // phase 1: the shared edge build, materialized alone
      val edges = t("edge build (join+distinct)") {
        val e = load("orders").select(col("o_orderkey"),
            (col("o_custkey") * 2).as("src"))
          .join(load("lineitem").select(col("l_orderkey"),
            (col("l_suppkey") * 2 + 1).as("dst")),
            col("o_orderkey") === col("l_orderkey"))
          .select("src", "dst").distinct()
        e.write.format("noop").mode("overwrite").save()
        e
      }
      // phase 2: full a24 with per-round wall clock
      t("a24 pageRankTopK total") {
        graft.operators.Graphs.pageRankTopK(edges, iters = 5, k = 25,
          damping = 0.85, symmetrizeInput = true,
          onRound = (i, s) => println(f"[phase]   round $i%d ${s}%6.2f s"))
          .write.format("noop").mode("overwrite").save()
      }
      // phase 3: a36 for comparison (LPA rounds are internal)
      t("a36 labelPropCensus total") {
        graft.SparkEntry.queries("a36_label_prop")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
