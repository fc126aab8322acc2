package graft

/** The driver's flagship entry point: `SparkEntry.entry` must return
  * rows (the driver smoke-checks rows > 0). */
class SparkEntrySuite extends SparkSpec {
  test("SparkEntry.entry returns at least one row") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
