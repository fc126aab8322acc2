package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** As-of + range join semantics on planted fixtures: tie handling, outer
  * nulls, bucket-boundary inclusion, and partitioning invariance. */
class TemporalJoinsSuite extends SparkSpec {
  import spark.implicits._

  test("asofBackward: latest at-or-before, ties by max tieBreak, outer nulls") {
    val left = Seq( // (oid, key, t)
      (1L, "a", 100L), (2L, "a", 205L), (3L, "b", 50L), (4L, "c", 10L)
    ).toDF("oid", "key", "t")
    val right = Seq( // (key, rid, t, v): rid 12/13 tie at t=100
      ("a", 11L, 90L, 1.0), ("a", 12L, 100L, 2.0), ("a", 13L, 100L, 3.0),
      ("a", 14L, 201L, 4.0), ("b", 15L, 60L, 5.0)
    ).toDF("key", "rid", "t", "v")
    val out = TemporalJoins.asofBackward(left, right, Seq("key"),
        leftTime = "t", rightTime = "t", tieBreak = "rid")
      .select("oid", "asof_rid", "asof_v").as[(Long, Option[Long], Option[Double])]
      .collect().sortBy(_._1)
    assert(out === Seq(
      (1L, Some(13L), Some(3.0)), // t=100 tie included, max rid wins
      (2L, Some(14L), Some(4.0)), // latest before 205
      (3L, None, None),           // b's only event is after t=50
      (4L, None, None)))          // key with no right rows at all
  }

  test("asofBackward is partitioning-invariant") {
    val left = spark.range(200).select(col("id"), (col("id") % 7).as("key"),
      (col("id") * 13 % 400).as("t"))
    val right = spark.range(300).select((col("id") % 7).as("key"),
      col("id").as("rid"), (col("id") * 11 % 400).as("t"),
      (col("id") * 1.5).as("v"))
    def run(parts: Int) = TemporalJoins.asofBackward(
        left.repartition(parts), right.repartition(parts), Seq("key"),
        "t", "t", tieBreak = "rid")
      .select("id", "asof_rid").as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(run(1) === run(7))
  }

  /** Driver-side as-of reference: for each left (id, key, t), the rid of
    * the right (key, rid, t) row of the same key with the greatest
    * (t, rid) at or before t. */
  private def bruteAsof[K](left: Seq[(Long, K, Long)],
                           right: Seq[(K, Long, Long)]): Seq[(Long, Option[Long])] =
    left.map { case (id, k, t) =>
      id -> right.filter { case (rk, _, rt) => rk == k && rt <= t }
        .maxByOption { case (_, rid, rt) => (rt, rid) }.map(_._2)
    }.sortBy(_._1)

  test("asofBackward == brute force on dense data with negative times") {
    val left = (0L until 400L).map(i => (i, i % 7, i * 13 % 500 - 250))
    val right = (0L until 600L).map(i => (i % 7, i, i * 11 % 500 - 250))
    val got = TemporalJoins.asofBackward(left.toDF("id", "key", "t"),
        right.map { case (k, rid, t) => (k, rid, t, rid * 1.5) }
          .toDF("key", "rid", "t", "v"),
        Seq("key"), "t", "t", tieBreak = "rid")
      .select("id", "asof_rid", "asof_v")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    assert(got === bruteAsof(left, right).map { case (id, rid) =>
      (id, rid, rid.map(_ * 1.5)) })
    assert(got.count(_._2.isDefined) > 300)
  }

  test("asofBackward == brute force on times beyond 2^53") {
    // neighbouring timestamps a double round-trip would merge
    val base = 1L << 60
    val left = Seq((1L, "k", base + 5L), (2L, "k", base + 103L),
      (3L, "k", base - 97L), (4L, "k", base + 2L))
    val right = Seq(("k", 11L, base + 3L), ("k", 12L, base + 100L),
      ("k", 13L, base - 100L))
    val got = TemporalJoins.asofBackward(left.toDF("oid", "key", "t"),
        right.toDF("key", "rid", "t"), Seq("key"), "t", "t", tieBreak = "rid")
      .select("oid", "asof_rid").as[(Long, Option[Long])].collect()
      .sortBy(_._1).toSeq
    assert(got === bruteAsof(left, right))
    assert(got === Seq((1L, Some(11L)), (2L, Some(12L)), (3L, Some(13L)),
      (4L, Some(13L))))
  }

  test("rangeJoinBucketed: inclusive bounds, bucket-crossing, empty intervals") {
    val left = Seq( // (lid, key, lo, hi)
      (1L, "a", 10L, 20L),  // within one bucket
      (2L, "a", 95L, 210L), // spans 3 buckets of width 100
      (3L, "b", 30L, 20L)   // empty interval: matches nothing
    ).toDF("lid", "key", "lo", "hi")
    val right = Seq(
      ("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 21L, 3.0), ("a", 95L, 4.0),
      ("a", 100L, 5.0), ("a", 210L, 6.0), ("a", 211L, 7.0), ("b", 25L, 8.0)
    ).toDF("key", "t", "v")
    val out = TemporalJoins.rangeJoinBucketed(left, "lo", "hi", right, "t",
        Seq("key"), bucketWidth = 100L)
      .select("lid", "r_t").as[(Long, Long)].collect().sorted
    assert(out === Seq( // both endpoints inclusive, each pair exactly once
      (1L, 10L), (1L, 20L), (2L, 95L), (2L, 100L), (2L, 210L)))
  }

  test("rangeJoinBucketed is exact on negative domains (truncating div is monotone)") {
    // intervals and points straddling zero: truncation toward zero makes
    // the zero bucket wider but both sides bucket identically, so the
    // result must equal a brute-force non-equi join
    val left = Seq((1L, "k", -12L, -8L), (2L, "k", -5L, 4L), (3L, "k", -30L, 30L))
      .toDF("lid", "key", "lo", "hi")
    val right = spark.range(81).select(lit("k").as("key"),
      (col("id") - 40).as("t"), col("id").cast("double").as("v"))
    val got = TemporalJoins.rangeJoinBucketed(left, "lo", "hi", right, "t",
        Seq("key"), bucketWidth = 10L)
      .select("lid", "r_t").as[(Long, Long)].collect().sorted.toSeq
    val want = left.join(right, Seq("key"))
      .filter(col("t").between(col("lo"), col("hi")))
      .select("lid", "t").as[(Long, Long)].collect().sorted.toSeq
    assert(got === want)
    assert(got.size === (5 + 10 + 61))
  }

  test("rangeJoinBucketed never duplicates a pair across buckets") {
    val left = Seq((1L, "k", 0L, 999L)).toDF("lid", "key", "lo", "hi")
    val right = spark.range(1000)
      .select(lit("k").as("key"), col("id").as("t"), col("id").cast("double").as("v"))
    val out = TemporalJoins.rangeJoinBucketed(left, "lo", "hi", right, "t",
      Seq("key"), bucketWidth = 10L) // interval covers 100 buckets
    assert(out.count() === 1000L)
    assert(out.select("r_t").distinct().count() === 1000L)
  }

  test("asofBackward: NULL keys match NULL-key history") {
    // the window partitions group NULL keys together, so a NULL-key left
    // row sees the NULL-key right rows and no others
    val left = Seq((1L, Option("a"), 100L), (2L, None: Option[String], 100L),
      (3L, None: Option[String], 40L)).toDF("oid", "key", "t")
    val right = Seq((Option("a"), 11L, 90L, 1.0),
      (None: Option[String], 12L, 50L, 2.0)).toDF("key", "rid", "t", "v")
    assert(rows(TemporalJoins.asofBackward(left, right, Seq("key"),
        "t", "t", "rid")) === Seq((1L, Some(11L), Some(1.0)),
      (2L, Some(12L), Some(2.0)), // NULL key matches NULL-key history
      (3L, None, None)))          // NULL key, before its only right row
  }

  test("asofBackward: NULL times sort first and their rows are kept") {
    val left = Seq((1L, "a", Option(100L)), (2L, "a", None: Option[Long]))
      .toDF("oid", "key", "t")
    val right = Seq(("a", 11L, Option(90L), 1.0),
      ("a", 12L, None: Option[Long], 2.0)).toDF("key", "rid", "t", "v")
    // row 1 matches rid 11 (t=90 <= 100); the NULL-time left row sees
    // only the NULL-time right row
    assert(rows(TemporalJoins.asofBackward(left, right, Seq("key"),
        "t", "t", "rid")) === Seq((1L, Some(11L), Some(1.0)),
      (2L, Some(12L), Some(2.0))))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("oid", "asof_rid", "asof_v")
    .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
}
