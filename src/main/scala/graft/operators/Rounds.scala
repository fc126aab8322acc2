package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round scope of the iterative graph and dedup kernels ([[Graphs]]'
  * eager kernels and [[Dedup.connectedComponents]]): it owns every
  * lineage-truncated frame a kernel creates and releases each exactly
  * once, so no kernel holds an RDD handle or writes its own cleanup.
  *
  * Why truncate: each round is materialized and re-wrapped as a fresh
  * LogicalRDD, so the logical plan stays one round deep and the RDD
  * lineage does not grow. Without truncation every round's task binary
  * carried the whole base-build plan (parquet relations, Hadoop conf,
  * codegen) plus one lineage level per round, ~1.5 MiB per task at any
  * scale factor: 100–400 ms of per-task deserialization a round on empty
  * data, and a StackOverflowError past ~49 rounds. With truncation the
  * binary stays a few KiB and per-round wall time drops ~3× at sf0.01
  * (OPTIMIZATION_r18.md). Rows are identical either way.
  *
  * Truncation rule: a reliable `checkpoint` when the session's
  * SparkContext has a checkpoint dir, a `localCheckpoint` otherwise.
  * Fault model: a local checkpoint is not recomputable, so a lost
  * executor block fails the query (in local mode, the bench and Verify
  * contract, block loss is process death). With a dir, every truncated
  * frame is persisted and written to the dir by the job that counts it,
  * so a lost block is re-read from the file; a truncated frame that no
  * job writes keeps its lineage and recomputes. The dir adds one
  * file-writing job per counted frame.
  *
  * Release rule: a handle may be released only after every frame that
  * reads it is materialized, since truncation makes dropped blocks
  * unrecoverable. Releasing unpersists the blocks and deletes a reliable
  * checkpoint's files (Spark keeps them unless its opt-in cleaner is
  * on). [[Rounds.apply]] releases whatever the body did not, on success
  * and on failure alike. */
private[operators] final class Rounds private (spark: SparkSession) {
  private val reliable = spark.sparkContext.getCheckpointDir.isDefined
  private val owned =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, RDD[_])]

  /** `df` as a lineage-truncated frame this scope owns. Lazy: nothing
    * is stored until [[count]] (or a job reading the frame) runs. The
    * handle is registered before any job, so a failing count cannot
    * strand partially stored blocks. */
  def truncate(df: DataFrame): DataFrame = {
    val ck =
      if (reliable) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    val rdd = Rounds.internalRdd(ck)
    // persist BEFORE the materializing count, so the checkpoint write
    // reads the stored blocks instead of recomputing the frame
    if (reliable)
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    owned += ck -> rdd
    ck
  }

  /** Materializes a frame from [[truncate]] and returns its row count:
    * one single-stage job over its handle (a SQL `count()` would plan a
    * two-stage partial/final aggregate). */
  def count(ck: DataFrame): Long = owned(indexOf(ck))._2.count()

  /** [[truncate]] then [[count]]. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val ck = truncate(df)
    (ck, count(ck))
  }

  /** One round: materializes `next`, then releases `prev`, which `next`
    * was computed from and nothing live reads any more. */
  def step(prev: DataFrame, next: DataFrame): (DataFrame, Long) = {
    val out = materialize(next)
    release(prev)
    out
  }

  /** Releases `ck`'s handle now. A frame this scope did not truncate
    * (a lazy seed, or null before the first round) holds none: no-op. */
  def release(ck: DataFrame): Unit = {
    val i = owned.indexWhere(_._1 eq ck)
    if (i >= 0) Rounds.release(spark, owned.remove(i)._2)
  }

  /** Returns `ck` still stored: its handle leaves this scope and is
    * released at the next `QueryLeases.releaseAll()`, which the caller
    * runs once it has materialized whatever reads `ck`. */
  def handOff(ck: DataFrame): DataFrame = {
    val rdd = owned.remove(indexOf(ck))._2
    graft.util.QueryLeases.lease(Rounds.release(spark, rdd))
    ck
  }

  private def indexOf(ck: DataFrame): Int = {
    val i = owned.indexWhere(_._1 eq ck)
    require(i >= 0, "frame was not truncated in this scope")
    i
  }
}

private[operators] object Rounds {

  /** Runs `body` in a fresh scope and releases every handle it still
    * owns afterwards, whether `body` returns or throws. */
  def apply[T](spark: SparkSession)(body: Rounds => T): T = {
    val r = new Rounds(spark)
    try body(r)
    finally r.owned.foreach { case (_, rdd) => release(spark, rdd) }
  }

  /** [[apply]] for a kernel whose result is a driver-sized census:
    * collected into a local relation before the scope releases what it
    * read. */
  def local(spark: SparkSession)(body: Rounds => DataFrame): DataFrame =
    apply(spark)(r => graft.util.Tables.localRelation(body(r)))

  /** The internal (InternalRow) RDD backing a checkpointed frame — the
    * handle Dataset-level APIs don't expose (a checkpoint is not in the
    * cache manager, so `Dataset.unpersist` is a no-op on it, and `df.rdd`
    * would wrap a NEW converted RDD whose unpersist frees nothing). */
  private def internalRdd(ck: DataFrame): RDD[_] =
    ck.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.getOrElse(throw new IllegalStateException(
      "checkpointed frame did not analyze to a LogicalRDD: " +
        ck.queryExecution.analyzed.getClass.getName))

  /** Unpersists `rdd` and deletes its reliable checkpoint files, if it
    * has any. Best-effort deletion: a file left behind is litter, not a
    * wrong result, and must not mask the body's own exception. */
  private def release(spark: SparkSession, rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true))
    }
  }
}
