package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{AnnQueries, Catalog}
import graft.util.QueryLeases

/** `catalog_slice`: a fixed sample of the query catalog, listed in
  * `catalog_slice.json`: the first query of each of the 16 name families
  * (in sorted order), so every family's operators run, plus one iterative
  * graph kernel and one ANN kernel, whose driver loops dominate the
  * catalog's fixed costs. In the `s` family `s08_zorder` stands in for
  * `s02_csv_roundtrip`: every other `s` query writes to a fixed path
  * under `/tmp`, outside the benchmark's directory. Queries run in the
  * list's order on every run: in a fresh JVM the first query to use an
  * operator pays its first-run cost, so a seed-permuted order would move
  * that cost between queries and with it the median. The seed picks which
  * queries the output check covers. Each query runs through the `noop`
  * sink like `graft.Bench`; the cache drains that follow every query are
  * timed as their own steps. The tables are the sf0.01 copy under
  * `data/`. */
final class CatalogSlice(s: Settings) extends Workload {
  val name = "catalog_slice"

  private val slice = SliceFile.load(s.benchDir)
  private val sf = if (s.smoke) "sf0.001" else "sf0.01"
  private val dataDir = new File(s.benchDir, s"data/$sf").getPath
  private val checked = mutable.Set[String]()
  // the output check re-runs a query untimed; a run checks every
  // `checkEvery`-th query of the slice list, rotating with the seed, so
  // any `checkEvery` consecutive seeds check the whole slice
  private val checkEvery = if (s.smoke) 1 else 9
  private val toCheck = slice.queries.zipWithIndex.collect {
    case (q, i) if i % checkEvery == Math.floorMod(s.seed, checkEvery.toLong) => q
  }.toSet

  def warm(spark: SparkSession): Unit = SliceFile.tables.foreach { t =>
    spark.read.parquet(s"$dataDir/$t.parquet").limit(1)
      .write.format("noop").mode("overwrite").save()
  }

  def pass(h: Harness, p: Int): Unit =
    slice.queries.foreach { q =>
      val run = Catalog.queries(q)
      h.op(s"queries.${SliceFile.family(q)}", "query") {
        run(h.spark, dataDir).write.format("noop").mode("overwrite").save()
      }
      val rec = h.lastOp
      drain(h)
      if (toCheck(q) && checked.add(q)) h.check(rec) {
        val got = try Fingerprint.of(run(h.spark, dataDir)) finally SliceFile.release()
        slice.fingerprints.get(sf).flatMap(_.get(q)) match {
          case Some(want) if want == got => Nil
          case Some(want) => Seq(s"$q fingerprint $got differs from the recorded $want")
          case None => Seq(s"$q has no recorded fingerprint for $sf")
        }
      }
    }

  /** The drain `graft.Bench` runs after every query, timed step by step. */
  private def drain(h: Harness): Unit = {
    h.step("util.lease_release")(QueryLeases.releaseAll())
    h.step("util.memo_clear")(AnnQueries.clearExactMemo())
  }

  def latencies(h: Harness): Seq[Double] = h.ops.map(_.seconds).toSeq

  def report(h: Harness): Seq[(String, Double, String)] = {
    val l = latencies(h)
    Seq(("query_p50_s", Stats.quantile(l, 0.5), "s"),
      ("query_p75_s", Stats.quantile(l, 0.75), "s"))
  }
}

/** Row count plus an order-insensitive hash of a query's output: the sum
  * of one xxhash64 per row. Floating-point values are hashed at six
  * significant digits, so a different summation order (another core
  * count, another partitioning) cannot change the fingerprint. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$total"
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    // + 0.0 folds -0.0 into 0.0
    case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      normalize(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }
}

/** `catalog_slice.json`: the fixed query list and the fingerprints
  * recorded for it at each data scale. */
final case class SliceFile(queries: Seq[String],
                           fingerprints: Map[String, Map[String, String]])

object SliceFile {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def family(q: String): String = q.takeWhile(_.isLetter)

  /** Drop the caches and memos a query left behind, as `graft.Bench` does. */
  def release(): Unit = {
    QueryLeases.releaseAll()
    AnnQueries.clearExactMemo()
  }

  private def file(benchDir: File) = new File(benchDir, "catalog_slice.json")

  def load(benchDir: File): SliceFile = {
    val root = new ObjectMapper().readTree(file(benchDir))
    val fps = root.get("fingerprints").fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map(q => q.getKey -> q.getValue.asText).toMap
    }.toMap
    SliceFile(root.get("queries").elements().asScala.map(_.asText).toSeq, fps)
  }

  /** Re-record the fingerprints of every slice query at every scale in
    * `data/`. Each query runs twice; a query whose two fingerprints
    * differ is reported and not recorded. */
  def record(spark: SparkSession, benchDir: File): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(file(benchDir)).asInstanceOf[ObjectNode]
    val queries = load(benchDir).queries
    val out = mapper.createObjectNode()
    new File(benchDir, "data").listFiles().filter(_.isDirectory).map(_.getName).sorted
      .foreach { sf =>
        val node = out.putObject(sf)
        queries.foreach { q =>
          def once() = try Fingerprint.of(Catalog.queries(q)(spark,
            new File(benchDir, s"data/$sf").getPath))
          finally release()
          val (a, b) = (once(), once())
          if (a == b) node.put(q, a) else Log.err(s"$sf $q is not deterministic: $a vs $b")
        }
      }
    root.set[ObjectNode]("fingerprints", out)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file(benchDir), root)
  }
}
