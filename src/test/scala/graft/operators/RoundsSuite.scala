package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The round scope's contract on every iterative kernel: the same Spark
  * jobs as before the scope existed (each count below was recorded on
  * the kernel's fixture before the kernels moved onto [[Rounds]]), and,
  * with a checkpoint dir set, reliable checkpoints that give the same
  * rows and leave no persisted RDD and no checkpoint file behind.
  *
  * The checkpoint-dir test unsets its dir when it ends, so no other test
  * or suite in the JVM writes reliable checkpoints (each adds one
  * file-writing job per truncation, which the job pins must not see). */
class RoundsSuite extends SparkSpec {
  import spark.implicits._

  // the seven-node fixture of GraphsSuite's join-strategy test: a
  // directed triangle with a tail cycle, plus a disjoint pair
  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 3L), (6L, 7L)).toDF("src", "dst")
  // DedupSuite's chain + clique + pair: hash-min converges
  private lazy val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L),
    (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
  // a 41-node path: diameter 40 exhausts the 12 hash-min rounds, so
  // connectedComponents falls back to star contraction
  private lazy val path = spark.range(40).select(
    (col("id") + 5000).as("id_a"), (col("id") + 5001).as("id_b"))

  /** (kernel, run on its fixture, Spark jobs with AQE off, recorded
    * before the scope). */
  private lazy val kernels: Seq[(String, () => DataFrame, Int)] = Seq(
    ("pageRankTopK", () => Graphs.pageRankTopK(edges, iters = 3, k = 10,
      symmetrizeInput = true), 10),
    ("hitsTopK", () => Graphs.hitsTopK(edges, iters = 2, k = 5), 17),
    ("labelPropCensus", () => Graphs.labelPropCensus(edges, iters = 2,
      k = 10, symmetrizeInput = true), 7),
    ("modularityCensus", () => Graphs.modularityCensus(edges, iters = 2,
      k = 10, symmetrizeInput = true), 10),
    ("bfsCensus", () => Graphs.bfsCensus(edges, seedPred = col("id") === 1,
      maxHops = 3, symmetrizeInput = true), 10),
    ("ccCensus", () => Graphs.ccCensus(edges, rounds = 3, k = 10,
      symmetrizeInput = true), 9),
    ("kcoreCensus", () => Graphs.kcoreCensus(edges, k = 2, rounds = 3,
      symmetrizeInput = true), 12),
    ("connectedComponents (hash-min)",
      () => Dedup.connectedComponents(pairs), 12),
    ("connectedComponents (star fallback)",
      () => Dedup.connectedComponents(path), 80))

  test("every kernel runs the Spark jobs it ran before the round scope") {
    // counted with AQE off: AQE re-plans as query stages finish, so the
    // jobs of a 170-job loop depend on which stage finished first (the
    // star fallback read 173 or 174 at the same commit); without it
    // the count is a function of the kernel's calls alone
    val got = withoutAqe(kernels.map { case (name, run, _) =>
      name -> countJobs(run().collect())
    })
    graft.util.QueryLeases.releaseAll()
    info(got.map { case (k, n) => s"$k=$n" }.mkString(", "))
    assert(got === kernels.map { case (name, _, n) => name -> n })
  }

  test("with a checkpoint dir, kernels return the same rows and leave no " +
      "persisted RDD and no checkpoint file") {
    val kept = Seq(kernels.head, kernels(5), kernels(7), kernels(8))
    // sorted: connectedComponents' frame is unordered
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val local = kept.map { case (_, run, _) => rows(run()) }
    graft.util.QueryLeases.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("graft-rounds-ckpt")
    def files(): List[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toList
      } finally walk.close()
    }
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      kept.zip(local).foreach { case ((name, run, _), want) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        assert(rows(run()) === want, name)
        // connectedComponents hands its result generation to the caller,
        // who releases it through QueryLeases once the rows are read
        graft.util.QueryLeases.releaseAll()
        val left = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, s"$name left persisted RDDs $left")
        assert(files().isEmpty, s"$name left checkpoint files ${files()}")
      }
      // the reliable rule was in force: a fresh scope wrote files
      Rounds(spark) { r =>
        r.materialize(edges)
        assert(files().nonEmpty, "no reliable checkpoint was written")
      }
      assert(files().isEmpty)
    } finally {
      org.apache.spark.CheckpointDirs.unset(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
