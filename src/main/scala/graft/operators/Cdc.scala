package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture merge: apply a change log (insert / update /
  * delete rows tagged with a sequence number) onto a base table — the
  * batch MERGE INTO / upsert primitive of incremental lakehouse
  * pipelines.
  *
  * Semantics: per key, the change with the highest (seq, op) wins
  * (op is the lexicographic tie-break, so an 'U' beats a 'D' carrying
  * the same seq — callers with real commit ordering pass a total-order
  * seq and the tie-break never fires). A winning delete removes the
  * key; a winning insert/update replaces the base row wholesale; keys
  * absent from the log pass through untouched.
  *
  * Scale design (100 TB base, ≪ batch-sized log): the window that picks
  * each key's latest change shuffles ONLY the change log; the base table
  * is touched by a single left-anti join against the winners' keys —
  * broadcast, since the log is batch-sized (the common CDC shape), so
  * the 100 TB side is never shuffled. With a base bucketed on the key the
  * anti join is zero-exchange even for large batches. The final
  * unionByName is a no-shuffle concatenation.
  */
object Cdc {

  /** Apply `changes` to `base`. `changes` must carry every `base` column
    * (the post-image for inserts/updates; ignored for deletes) plus
    * `seqCol` and `opCol`. `keyCols` identifies rows in both frames.
    */
  def applyChangeLog(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String,
      deleteOp: String = "D"
  ): DataFrame = {
    val payload = base.columns
    val missing = (payload :+ seqCol :+ opCol).filterNot(changes.columns.contains)
    require(missing.isEmpty, s"change log lacks columns: ${missing.mkString(",")}")
    // a NULL op or seq would otherwise act as a silent delete: the row
    // can still win the window, then `op =!= deleteOp` evaluates NULL
    // and the filter drops it — the key vanishes from the table with no
    // error. Fail loudly instead (the thresholdSweep NULL convention);
    // NULL seq is equally malformed (its window rank is order-dependent).
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc)
    // a NULL key is equally malformed: the window groups NULL keys
    // together, but the left_anti join below is null-UNSAFE, so a
    // winning update could never remove its stale base row (the key
    // ends up duplicated) and a winning delete would remove nothing —
    // silent corruption, unlike the loud op/seq guards (r15 review).
    // The guard rides the key columns themselves, which the window
    // partitioning, the winner-key select, and the applied payload all
    // consume — not prunable.
    val keyGuarded = keyCols.foldLeft(changes) { (d, c) =>
      d.withColumn(c, when(col(c).isNull, raise_error(lit(
        s"applyChangeLog: NULL in key column '$c' — a NULL key cannot " +
          "anti-join its base row (updates duplicate, deletes no-op)")))
        .otherwise(col(c)))
    }
    val latest = keyGuarded
      .withColumn("__op",
        when(col(opCol).isNull, raise_error(lit(
          s"applyChangeLog: NULL in op column '$opCol'")))
          .when(col(seqCol).isNull, raise_error(lit(
            s"applyChangeLog: NULL in seq column '$seqCol'")))
          .otherwise(col(opCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val winnerKeys = latest.select(keyCols.map(col): _*)
    val kept = base.join(broadcast(winnerKeys), keyCols, "left_anti")
    val applied = latest
      .filter(col("__op") =!= deleteOp)
      .select(payload.map(col): _*)
    kept.unionByName(applied)
  }
}
