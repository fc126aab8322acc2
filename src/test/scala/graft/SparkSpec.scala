package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * getOrCreate reuses it across suites, keeping `sbt test` fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared; JVM exit cleans up

  /** Spark jobs `body` starts, in JobCountSuite's listener style.
    * Jobs are attributed by job group, which Spark SQL carries into its
    * broadcast and stage threads, so a late event from an earlier call
    * is never counted. The listener bus delivers in order, so once a
    * fence job's start arrives every job of `body`'s has been seen. */
  protected def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet()
          case Some(g) if g == s"$group-fence" => fence.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    try {
      inGroup(group)(body)
      inGroup(s"$group-fence")(sc.parallelize(Seq(1), 1).count())
      assert(fence.await(30, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    n.get
  }

  /** `body` with adaptive query execution off, the session's setting
    * restored afterwards. AQE re-plans as query stages finish, so the
    * jobs it runs for one call are not a function of the call alone. */
  protected def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
