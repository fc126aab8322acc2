package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.estimators.{PC, PCConfig, RegDI, RegDIConfig}
import graft.mc.MonteCarlo
import graft.operators.{Multimodal, TemporalJoins}
import graft.stats.Anova
import graft.streaming.Streams
import graft.util.Tables.{dsum, load, localRelation, sqlDsum}

/** Remaining SURVEY.md §2 surface: CSV source/sink (S2/S3), streaming-
  * shaped window aggregation over `events`, multimodal binary plumbing,
  * the Monte-Carlo fan-out (O2/O3), two-factor ANOVA (M12), and the
  * RegDI/PC estimators end-to-end. The estimator entry points carry full
  * DuckDB hash oracles ([[EstimatorOracles]]): their k×k solves run
  * through the deterministic Cramer expansion (`graft.stats.Det`), whose
  * SQL rendering is structurally identical to the driver-side doubles.
  */
object MiscQueries {

  /** Round-trip epilogue shared by the source-format queries (s02–s06):
    * materialize the (small, aggregate) graded result into a local
    * relation and delete the scratch directory — repeated Verify/Bench/
    * suite runs must not accumulate /tmp litter, and a result that
    * outlives its files must not lazily re-read them. */
  private def materializeAndClean(df: DataFrame, dir: String): DataFrame =
    try localRelation(df)
    finally // delete even when the collect throws: failed runs must
      // not accumulate scratch trees either
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  /** 13-hex-digit md5 prefix of a column named `hx`, parsed to a BIGINT
    * (52 bits — exact in both engines): the INTEGER sibling of
    * AnnQueries' sqlPortableUnit and the SQL twin of a41/a42's Scala
    * `conv(substring(md5(..),1,13),16,10)` bucket expressions — change
    * them together or the portable-sketch hash gates fail. */
  private val sqlMd5Int13: String = {
    val terms = (0 until 13).map { i =>
      s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * ${BigInt(16).pow(12 - i)}"
    }.mkString(" + ")
    s"CAST($terms AS BIGINT)"
  }

  /** Deterministic A/B samples from `customer` for estimator e2e runs
    * (same carve as StatsQueries: A = custkey%37==1 w/ design weights,
    * B = high balances, y observed in both). */
  private def abSamples(s: org.apache.spark.sql.SparkSession, d: String) = {
    val cust = load(s, d, "customer")
    val a = cust.filter(col("c_custkey") % 37 === 1)
      .select(col("c_custkey").as("cid"), col("c_acctbal").as("y"),
        (lit(20.0) + (col("c_custkey") % 40)).as("d_w"),
        (col("c_nationkey") <= 11).cast("double").as("x1"),
        (col("c_nationkey") > 11).cast("double").as("x2"))
    val b = cust.filter(col("c_acctbal") > 1000.0)
      .select(col("c_custkey").as("cid"), col("c_acctbal").as("y"),
        (col("c_nationkey") <= 11).cast("double").as("x1"),
        (col("c_nationkey") > 11).cast("double").as("x2"))
    (a, b, cust.count().toDouble)
  }

  val qs: Seq[Q] = Seq(

    // ---- S3+S2 CSV write → read round-trip ----------------------------
    // Spark CSV doubles round-trip exactly (shortest-repr print, correctly
    // rounded parse), so the oracle is the same aggregate over parquet.
    Q("s02_csv_roundtrip",
      (s, d) => {
        // per-session path: concurrent Bench/Verify runs must not clobber
        // each other's round-trip output mid-read
        val out = s"/tmp/graft_csv_roundtrip_${s.sparkContext.applicationId}"
        load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .write.mode("overwrite").option("header", true).csv(out)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderstatus", StringType)))
        materializeAndClean(
          s.read.option("header", true).schema(schema).csv(out)
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
            .orderBy("o_orderstatus"),
          out)
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- S9 binaryFile blob ingestion -----------------------------------
    // The file-per-blob layout of an image/audio corpus: write one .bin
    // per document (capped at 100 blobs — the file fan-out is the
    // fixture, not the scale path), ingest with Spark's binaryFile
    // source (pathGlobFilter, path/length/content columns), and grade
    // id + byte length + content md5 against the table the blobs came
    // from. At 100 TB the same reader feeds mm01/mm02's pack-and-decode
    // plumbing; maxPartitionBytes packs small blobs into shared tasks.
    Q("s09_binary_source",
      (s, d) => {
        val out = s"/tmp/graft_binsrc_${s.sparkContext.applicationId}"
        new java.io.File(out).mkdirs()
        load(s, d, "documents").filter(col("doc_id") < 100)
          .select("doc_id", "text").collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%05d.bin"),
              r.getString(1).getBytes("UTF-8"))
          }
        materializeAndClean(
          s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
            .load(out)
            .select(
              regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
                .cast("long").as("doc_id"),
              col("length").as("n_bytes"),
              md5(col("content")).as("payload_md5"))
            .orderBy("doc_id"),
          out)
      },
      Some("""SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     md5(text) AS payload_md5
              FROM documents WHERE doc_id < 100 ORDER BY doc_id""")),

    // ---- S6 partitioned parquet write → partition-pruned read ---------
    // The 100 TB table layout: write documents hive-partitioned by
    // lang, read back with a lang predicate. Correctness graded here
    // (the pruned read must reproduce the direct filter's aggregate);
    // the SCALE property — the lang filter resolves as PartitionFilters
    // (directory pruning: non-matching partitions are never opened, a
    // metadata operation regardless of table size) — is pinned in
    // PlanSuite on this same round-trip.
    Q("s06_partitioned_roundtrip",
      (s, d) => {
        val out = s"/tmp/graft_part_roundtrip_${s.sparkContext.applicationId}"
        load(s, d, "documents")
          .select("doc_id", "lang", "source", "n_chars")
          .write.mode("overwrite").partitionBy("lang").parquet(out)
        // PlanSuite reconstructs this layout itself to read the PRUNED
        // scan plan; the graded result is the cleaned-up local relation
        materializeAndClean(
          s.read.parquet(out)
            .filter(col("lang").isin("en", "de"))
            .groupBy("lang", "source")
            .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
            .orderBy("lang", "source"),
          out)
      },
      Some("""SELECT lang, source, count(*) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS chars
              FROM documents WHERE lang IN ('en', 'de')
              GROUP BY lang, source ORDER BY lang, source""")),

    // ---- S3b JSON write → read round-trip -----------------------------
    // Spark JSON prints doubles shortest-repr and parses them correctly
    // rounded (same exactness argument as the CSV round-trip), so the
    // oracle is the same aggregate over parquet. Explicit read schema:
    // no inference pass over the data at scale.
    Q("s03_json_roundtrip",
      (s, d) => {
        val out = s"/tmp/graft_json_roundtrip_${s.sparkContext.applicationId}"
        load(s, d, "part")
          .select("p_partkey", "p_brand", "p_retailprice")
          .write.mode("overwrite").json(out)
        val schema = StructType(Seq(
          StructField("p_partkey", LongType),
          StructField("p_brand", StringType),
          StructField("p_retailprice", DoubleType)))
        materializeAndClean(
          s.read.schema(schema).json(out)
            .groupBy("p_brand")
            .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("total"))
            .orderBy("p_brand"),
          out)
      },
      Some(s"""SELECT p_brand, count(*) AS n,
                      ${sqlDsum("p_retailprice")} AS total
               FROM part GROUP BY p_brand ORDER BY p_brand""")),

    // ---- S4 ORC write → read round-trip -------------------------------
    // Third columnar/source format beside parquet and CSV/JSON. ORC
    // round-trips longs and doubles exactly (typed columnar storage, no
    // string rendition), so the oracle is the same aggregate over the
    // parquet original.
    Q("s04_orc_roundtrip",
      (s, d) => {
        val out = s"/tmp/graft_orc_roundtrip_${s.sparkContext.applicationId}"
        load(s, d, "supplier").write.mode("overwrite").orc(out)
        materializeAndClean(
          s.read.orc(out)
            .groupBy("s_nationkey")
            .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("total"))
            .orderBy("s_nationkey"),
          out)
      },
      Some(s"""SELECT s_nationkey, count(*) AS n,
                      ${sqlDsum("s_acctbal")} AS total
               FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ---- S5 parquet schema evolution (mergeSchema read) ---------------
    // A 100 TB lake accretes columns over time; readers must take the
    // union schema with nulls for absent columns, without rewriting old
    // files. Two generations of the customer table (balance-era and
    // segment-era files) land under one root; the merged read must see
    // every row once and null-fill each generation's missing column.
    Q("s05_schema_evolution",
      (s, d) => {
        val out = s"/tmp/graft_schema_evo_${s.sparkContext.applicationId}"
        val cust = load(s, d, "customer")
        cust.select("c_custkey", "c_acctbal")
          .write.mode("overwrite").parquet(s"$out/gen=1")
        cust.select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").parquet(s"$out/gen=2")
        materializeAndClean(
          s.read.option("mergeSchema", true).parquet(out)
            .agg(count(lit(1)).as("n_rows"),
              count(col("c_acctbal")).as("n_bal"),
              count(col("c_mktsegment")).as("n_seg"),
              dsum(col("c_acctbal")).as("total_bal")),
          out)
      },
      Some(s"""SELECT 2 * count(*) AS n_rows, count(*) AS n_bal,
                      count(*) AS n_seg, ${sqlDsum("c_acctbal")} AS total_bal
               FROM customer""")),

    // ---- W1 tumbling-window aggregation over events -------------------
    // Same transform drives the Structured-Streaming path (StreamingSuite
    // runs it on a MemoryStream with watermarking); here it's batch.
    Q("w01_tumbling_window",
      (s, d) => Streams.tumblingEventStatsFlat(
          graft.util.Tables.loadEvents(s, d), "1 hour")
        .orderBy("w_start", "event_type"),
      Some(s"""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start,
                      event_type, count(*) AS n_events,
                      ${sqlDsum("value")} AS sum_value
               FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // ---- W12 watermark late-data accounting -----------------------------
    // How much data a 1-hour watermark would DROP, per window — the
    // number an operator reads before choosing a lateness bound. The
    // fixture carries no arrival column (its events are generated in
    // time order), so arrival is synthesized deterministically (the t15
    // synthesized-URL discipline): base micro-batch = event_id div 100,
    // with a portable-hashed 5% subset arriving 4 batches late —
    // measured ~5% late at every SF, non-degenerate. The watermark
    // advances at batch boundaries exactly as Structured Streaming's
    // does; all comparisons are exact integer microseconds.
    Q("w12_late_data",
      (s, d) => graft.streaming.Streams.watermarkLateAccounting(
          graft.util.Tables.loadEvents(s, d)
            .withColumn("arrival_batch",
              expr("event_id div 100") +
                when(pmod(pmod(col("event_id"), lit(100000007L))
                  * lit(1315423911L), lit(100000007L)) % 20 === 0, lit(4L))
                  .otherwise(lit(0L))),
          "arrival_batch", "ts", delayMicros = 3600000000L)
        .orderBy("w_start"),
      Some("""WITH e AS (SELECT event_id, ts, epoch_us(ts) AS tus,
                  event_id // 100 + CASE WHEN
                      ((event_id % 100000007) * 1315423911) % 100000007
                        % 20 = 0
                    THEN 4 ELSE 0 END AS b
                FROM events),
               pb AS (SELECT b, max(tus) AS mx FROM e GROUP BY b),
               wm AS (SELECT b, max(mx) OVER (ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        - 3600000000 AS w
                      FROM pb),
               l AS (SELECT CAST(date_trunc('hour', e.ts) AS VARCHAR)
                        AS w_start,
                      CASE WHEN wm.w IS NOT NULL
                            AND epoch_us(date_trunc('hour', e.ts)
                                  + INTERVAL 1 HOUR) <= wm.w
                        THEN 1 ELSE 0 END AS late
                     FROM e JOIN wm ON e.b = wm.b)
              SELECT w_start, count(*) AS n_events,
                     CAST(sum(late) AS BIGINT) AS n_late,
                     CAST(count(*) - sum(late) AS BIGINT) AS n_on_time
              FROM l GROUP BY w_start ORDER BY w_start""")),

    // ---- W6 streaming near-dup (batch rendition, full hash oracle) ----
    // Streams.streamNearDupPairs incrementally flags each arriving doc
    // against SimHash band-bucket state (StreamingSuite runs it on a
    // MemoryStream across micro-batches, XXH64 production default);
    // here the same call runs on a batch Dataset with the PORTABLE
    // 60-bit MD5-keyed signature (portableSig — the d04 hash family),
    // and the batch comparison side is simhashCandidatesPortable, so
    // the graded frame is ANSI-replayable end-to-end. Every deduped
    // streaming pair full-outer-joins the batch pair set; the oracle
    // recomputes the ALL-PAIRS Hamming ≤ 3 set from md5 signatures with
    // `agrees = 1` on every row — a stream-only pair (agrees 0), a
    // batch-only pair (agrees 0), or a pair BOTH paths missed (row
    // count) each breaks the hash match, so the streaming operator's
    // recall is graded against exact all-pairs, not just against the
    // batch path.
    Q("w06_stream_neardup",
      (s, d) => {
        import s.implicits._
        val docs = load(s, d, "documents").select(col("doc_id"),
            to_timestamp(lit("2026-01-01 00:00:00")).as("ts"), col("text"))
          .as[graft.streaming.StreamDoc]
        val streamed = Streams.streamNearDupPairs(docs, maxHamming = 3,
            maxBucket = 4096, portableSig = true).toDF()
          .select(col("id_a"), col("id_b"), col("hamming")).distinct()
        val batch = graft.operators.Dedup.simhashCandidatesPortable(
          load(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        streamed.withColumn("in_stream", lit(1))
          .join(batch.withColumn("in_batch", lit(1)),
            Seq("id_a", "id_b", "hamming"), "full_outer")
          .select(col("id_a"), col("id_b"), col("hamming"),
            (coalesce(col("in_stream"), lit(0)) *
             coalesce(col("in_batch"), lit(0))).as("agrees"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${DedupQueries.sqlPortableSimhash}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming,
                   1 AS agrees
            FROM psh a JOIN psh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
            ORDER BY id_a, id_b""")),

    // ---- W5 sliding-window aggregation (2h windows, 1h slide) ---------
    // Spark's window() EXPANDS each event into its windowLen/slide
    // windows before the aggregate — no self-join, state still O(open
    // windows × types). The oracle replays the expansion: each event
    // belongs to the window starting at its truncated hour and the one
    // an hour earlier.
    Q("w05_sliding_window",
      (s, d) => Streams.slidingEventStatsFlat(
          graft.util.Tables.loadEvents(s, d), "2 hours", "1 hour")
        .orderBy("w_start", "event_type"),
      Some(s"""WITH e AS (SELECT
                   unnest([date_trunc('hour', ts),
                           date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start,
                   event_type, value
                 FROM events)
               SELECT CAST(w_start AS VARCHAR) AS w_start, event_type,
                      count(*) AS n_events, ${sqlDsum("value")} AS sum_value
               FROM e GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // ---- W3 streaming exact dedup (watermark-bounded state) -----------
    // The dedup key IS the projected tuple, so which physical row
    // survives is irrelevant — the deduped multiset is deterministic and
    // the downstream aggregate oracle-able. StreamingSuite drives the
    // same operator through MemoryStream with replayed duplicates.
    Q("w03_stream_dedup",
      (s, d) => Streams.dedupEvents(graft.util.Tables.loadEvents(s, d),
          Seq("user_id", "event_type", "value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_unique"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, count(*) AS n_unique,
                      ${sqlDsum("value")} AS sum_value
               FROM (SELECT DISTINCT user_id, event_type, value FROM events)
               GROUP BY event_type ORDER BY event_type""")),

    // ---- A12 analytic window: rank within group -----------------------
    // (beyond the reference's surface — §2.5 notes it has no ORDER BY /
    // top-k; a complete library needs ranking windows.)
    Q("a12_window_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc("c_acctbal"), col("c_custkey"))
        load(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            row_number().over(w).as("rk"))
          .filter(col("rk") <= 5)
          .orderBy("c_mktsegment", "rk")
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal, rk FROM (
                SELECT c_mktsegment, c_custkey, c_acctbal,
                       CAST(row_number() OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rk
                FROM customer) t
              WHERE rk <= 5 ORDER BY c_mktsegment, rk""")),

    // ---- A13 analytic window: lag deltas over an ordered stream -------
    Q("a13_window_lag",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            (col("value") - lag("value", 1).over(w)).as("delta"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value,
                     value - lag(value) OVER (PARTITION BY user_id
                       ORDER BY event_id) AS delta
              FROM events ORDER BY user_id, event_id""")),

    // ---- J7 anti join: set subtraction on a key -----------------------
    // The "remove everything that matched" half of the dedup /
    // decontamination story: customers with no FINISHED order. LeftAnti
    // plans like the semi join (one hash join, no row multiplication,
    // null-safe) — the idiom for subtracting a contaminated or duplicate
    // id set from a 100 TB corpus. The status filter keeps the result
    // non-empty at every SF (every customer has SOME order in this
    // data, which would make an unfiltered anti join a vacuous check).
    Q("j07_anti_join",
      (s, d) => load(s, d, "customer")
        .join(load(s, d, "orders")
            .filter(col("o_orderstatus") === "F").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderstatus = 'F')
              ORDER BY c_custkey""")),

    // ---- A20 moving average (bounded window frame) --------------------
    // Rolling mean of each user's last 4 event values (3 preceding +
    // current, event-time ordered): the bounded-frame window runs
    // inside the per-user partition with O(frame) state — no
    // unbounded buffering. Exact-decimal numerator for bit parity;
    // ties impossible (event_id breaks the ordering).
    Q("a20_moving_avg",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
        graft.util.Tables.loadEvents(s, d)
          .filter(col("user_id") < 50)
          .select(col("user_id"), col("event_id"),
            (graft.util.Tables.dsumOver(col("value"), w)
              / count(lit(1)).over(w)).as("mavg"))
          .orderBy("user_id", "event_id")
      },
      Some(s"""SELECT user_id, event_id,
                     ${graft.util.Tables.sqlDsumOver("value", "w")}
                       / count(*) OVER w AS mavg
              FROM events WHERE user_id < 50
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
              ORDER BY user_id, event_id""")),

    // ---- F2 SQL extension functions (graded rendition) ----------------
    // The SparkSessionExtensions surface promoted to a graded query:
    // GraftExtensions.register puts the native expressions into the
    // session's FunctionRegistry and the query is PURE spark.sql text —
    // word_shingles composing with cardinality(), float_vec_dot with
    // arithmetic — exactly how a SQL-only user reaches them. The
    // shingle COUNT is integer-exact cross-engine; the self-dot rides
    // the 2⁻²⁰ quantization (sequential vs engine-order sum, ~1e-15
    // apart on O(10) norms).
    Q("f02_sql_extensions",
      (s, d) => {
        graft.expressions.GraftExtensions.register(s)
        load(s, d, "documents").createOrReplaceTempView("graft_docs_v")
        load(s, d, "embeddings").createOrReplaceTempView("graft_emb_v")
        s.sql("""SELECT d.doc_id,
                        cardinality(word_shingles(d.text, 3)) AS n_shingles,
                        CAST(floor(float_vec_dot(e.embedding, e.embedding)
                                   * 1048576.0 + 0.5) AS BIGINT) AS qnorm2
                 FROM graft_docs_v d
                 JOIN graft_emb_v e ON e.vec_id = d.doc_id
                 ORDER BY d.doc_id""")
      },
      Some("""WITH t AS (SELECT doc_id,
                string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
              FROM documents),
              sh AS (SELECT doc_id,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(generate_series(1, len(toks)-2),
                          i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS sh
                    FROM t),
              q AS (SELECT vec_id,
                      CAST(floor(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                                 * 1048576.0 + 0.5) AS BIGINT) AS qnorm2
                    FROM (SELECT vec_id, unnest(embedding) AS x
                          FROM embeddings) GROUP BY vec_id)
              SELECT sh.doc_id, len(sh.sh) AS n_shingles, q.qnorm2
              FROM sh JOIN q ON q.vec_id = sh.doc_id
              ORDER BY sh.doc_id""")),

    // ---- W8 stateful streaming stats (graded batch rendition) ---------
    // The flatMapGroupsWithState Welford kernel (Streams.
    // runningUserStats) run in BATCH mode — same code path Spark uses
    // for the streaming query, state just never persists — and graded
    // against SQL count/avg/var_samp at 2⁻²⁰ (mean) and 2⁻¹⁰ (variance)
    // quantization: Welford's sequential accumulation differs from the
    // oracle's two-pass in trailing ulps (~1e-13 on these magnitudes),
    // absorbed by quanta six orders coarser (the g11/t12 trick;
    // verified hash-exact at all three SFs). StreamingSuite covers the
    // cross-micro-batch state behavior.
    Q("w08_stateful_stats",
      (s, d) => {
        import s.implicits._
        val ev = graft.util.Tables.loadEvents(s, d)
          .filter(col("user_id") < 200)
          .select(col("user_id"), col("value"))
          .as[graft.streaming.UserEvent]
        graft.streaming.Streams.runningUserStats(ev).toDF()
          .select(col("user_id"), col("n"),
            floor(col("mean") * 1048576.0 + 0.5).cast("long").as("qmean"),
            floor(col("var_samp") * 1024.0 + 0.5).cast("long").as("qvar"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
                     CAST(floor(avg(value) * 1048576.0 + 0.5) AS BIGINT)
                       AS qmean,
                     CAST(floor(coalesce(var_samp(value), 0.0) * 1024.0
                                + 0.5) AS BIGINT) AS qvar
              FROM events WHERE user_id < 200
              GROUP BY user_id ORDER BY user_id""")),

    // ---- S7 bucketed co-located join (graded rendition) ---------------
    // The storage-level shuffle-elimination path promoted to a graded
    // query: both join sides written as EXTERNAL bucketed tables
    // (8 buckets on the customer key, sorted within buckets), then
    // joined — Spark pairs buckets off locally with ZERO exchanges
    // (BucketingSuite pins the no-Exchange plan; here the RESULT is
    // graded against the plain-join oracle). External paths + epilogue
    // drop/delete keep both the warehouse and /tmp clean.
    Q("s07_bucketed_join",
      (s, d) => {
        import graft.sources.Bucketing
        val tag = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
        val base = s"/tmp/graft_bucketed_$tag"
        val (tl, tr) = (s"graft_b_ord_$tag", s"graft_b_cust_$tag")
        Bucketing.writeBucketed(
          load(s, d, "orders").select("o_custkey", "o_totalprice"),
          tl, "o_custkey", buckets = 8, path = Some(s"$base/ord"))
        Bucketing.writeBucketed(
          load(s, d, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          tr, "o_custkey", buckets = 8, path = Some(s"$base/cust"))
        try {
          val agg = Bucketing.colocatedJoin(s, tl, tr, "o_custkey")
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
            .orderBy("c_mktsegment")
          materializeAndClean(agg, base)
        } finally { // drop on failure too: no catalog litter across runs
          s.sql(s"DROP TABLE IF EXISTS `$tl`")
          s.sql(s"DROP TABLE IF EXISTS `$tr`")
        }
      },
      Some(s"""SELECT c.c_mktsegment, count(*) AS n,
                      ${sqlDsum("o.o_totalprice")} AS total
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- J8 skew-salted join (graded rendition) -----------------------
    // SkewJoin.saltedJoin promoted from suite-only to a graded query:
    // the big side takes a random salt in [0, 8), the small side
    // replicates 8x with every salt, and the join key becomes
    // (key, salt) — spreading a hot key over 8 tasks. The salt is
    // internal: the joined ROW SET is identical to the plain join
    // (SkewJoinSuite pins that), so the per-nation aggregate
    // hash-matches the unsalted oracle exactly.
    Q("j08_salted_join",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val sup = load(s, d, "supplier")
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        graft.operators.SkewJoin.saltedJoin(li, sup, "l_suppkey",
            factor = 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("s_nationkey")
      },
      Some(s"""SELECT s.s_nationkey, count(*) AS n,
                      ${sqlDsum("l.l_extendedprice")} AS revenue
               FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
               GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ---- A21 exact correlation matrix (one pass) ----------------------
    // All three pairwise Pearson correlations of (l_quantity,
    // l_extendedprice, l_discount) from ONE partial-aggregable pass of
    // exact-decimal moments — never per-pair scans (at k columns the
    // O(k²) moment state rides the same single aggregation, the classic
    // scalable shape for feature-correlation screening). The closed
    // form runs in IEEE doubles over the exact sums, bit-identical to
    // the oracle.
    Q("a21_corr_matrix",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val (q, e, di) = (col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
        val m = li.agg(
          count(lit(1)).cast("double").as("n"),
          dsum(q).as("sq"), dsum(e).as("se"), dsum(di).as("sd"),
          dsum(q * q).as("sqq"), dsum(e * e).as("see"),
          dsum(di * di).as("sdd"),
          dsum(q * e).as("sqe"), dsum(q * di).as("sqd"),
          dsum(e * di).as("sed"))
        import org.apache.spark.sql.Column
        def corr(sxy: Column, sx: Column, sy: Column,
                 sxx: Column, syy: Column, n: Column): Column =
          (sxy - sx * sy / n) /
            sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
        m.select(
          corr(col("sqe"), col("sq"), col("se"), col("sqq"), col("see"),
            col("n")).as("corr_qty_price"),
          corr(col("sqd"), col("sq"), col("sd"), col("sqq"), col("sdd"),
            col("n")).as("corr_qty_disc"),
          corr(col("sed"), col("se"), col("sd"), col("see"), col("sdd"),
            col("n")).as("corr_price_disc"))
      },
      Some(s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                    ${sqlDsum("l_quantity")} AS sq,
                    ${sqlDsum("l_extendedprice")} AS se,
                    ${sqlDsum("l_discount")} AS sd,
                    ${sqlDsum("l_quantity * l_quantity")} AS sqq,
                    ${sqlDsum("l_extendedprice * l_extendedprice")} AS see,
                    ${sqlDsum("l_discount * l_discount")} AS sdd,
                    ${sqlDsum("l_quantity * l_extendedprice")} AS sqe,
                    ${sqlDsum("l_quantity * l_discount")} AS sqd,
                    ${sqlDsum("l_extendedprice * l_discount")} AS sed
                  FROM lineitem)
              SELECT (sqe - sq * se / n) /
                       sqrt((sqq - sq * sq / n) * (see - se * se / n))
                       AS corr_qty_price,
                     (sqd - sq * sd / n) /
                       sqrt((sqq - sq * sq / n) * (sdd - sd * sd / n))
                       AS corr_qty_disc,
                     (sed - se * sd / n) /
                       sqrt((see - se * se / n) * (sdd - sd * sd / n))
                       AS corr_price_disc
              FROM m""")),

    // ---- A16 ROLLUP: hierarchical subtotals in one pass ---------------
    // The OLAP subtotal surface: (flag, status), (flag), () grouping
    // sets computed in ONE aggregation (Spark Expand + partial aggs —
    // one shuffle, not three jobs). Neither column is ever NULL in the
    // data, so coalesce renders the subtotal rows portably (no
    // grouping_id() cross-engine concerns).
    Q("a16_rollup",
      (s, d) => load(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("status"),
          col("n"), col("qty"))
        .orderBy("flag", "status"),
      Some(s"""SELECT coalesce(l_returnflag, '<all>') AS flag,
                      coalesce(l_linestatus, '<all>') AS status,
                      count(*) AS n, ${sqlDsum("l_quantity")} AS qty
               FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
               ORDER BY flag, status""")),

    // ---- A17 CUBE: all grouping-set combinations ----------------------
    Q("a17_cube",
      (s, d) => graft.util.Tables.loadEvents(s, d)
        .withColumn("user_bucket", pmod(col("user_id"), lit(4L)))
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(coalesce(col("event_type"), lit("<all>")).as("etype"),
          coalesce(col("user_bucket").cast("string"), lit("<all>")).as("bucket"),
          col("n"), col("total"))
        .orderBy("etype", "bucket"),
      Some(s"""SELECT coalesce(event_type, '<all>') AS etype,
                      coalesce(CAST(user_id % 4 AS VARCHAR), '<all>') AS bucket,
                      count(*) AS n, ${sqlDsum("value")} AS total
               FROM events GROUP BY CUBE(event_type, user_id % 4)
               ORDER BY etype, bucket""")),

    // ---- A14 exact interpolated percentiles ---------------------------
    // Ranks.percentileSelect replicates `percentile` / `quantile_cont`'s
    // linear interpolation bit-for-bit, but from a distributed selection
    // (range-sort + rank) with O(1) per-task state — exact `percentile`
    // merged a value→count map on ONE task, O(distinct values) memory at
    // a single point of concentration at 100 TB (r16 verdict item 3).
    Q("a14_percentiles",
      (s, d) => {
        val q = graft.operators.Ranks.percentileSelect(
          load(s, d, "orders"), Seq("o_totalprice"), Seq(0.5, 0.95, 0.99))
        import s.implicits._
        Seq((q(("o_totalprice", 0.5)), q(("o_totalprice", 0.95)),
          q(("o_totalprice", 0.99)))).toDF("p50", "p95", "p99")
      },
      Some("""SELECT quantile_cont(o_totalprice, 0.5) AS p50,
                     quantile_cont(o_totalprice, 0.95) AS p95,
                     quantile_cont(o_totalprice, 0.99) AS p99
              FROM orders""")),

    // ---- A18 Count-Min-Sketch frequency estimates (rows-only + spec) --
    // The streaming-friendly heavy-hitter sketch beside HLL (a15) and
    // exact top-k (t08): built distributed (one pass, mergeable per
    // partition), queried driver-side for five fixed keys against the
    // exact counts. Self-validating: the rows carry the eps·N bound and
    // the booleans (no under-count; over-count ≤ bound), so the driver's
    // rows-only check still sees a load-bearing invariant; SketchSuite
    // asserts the same columns are all-true.
    Q("a18_cms_frequency",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val eps = 0.001
        val cms = li.stat.countMinSketch(col("l_suppkey"),
          eps = eps, confidence = 0.99, seed = 42)
        // N for the eps·N bound comes from the sketch itself — a
        // separate count() would be a second full lineitem scan
        val n = cms.totalCount()
        val exact = li.filter(col("l_suppkey") <= 5)
          .groupBy("l_suppkey").agg(count(lit(1)).as("exact_n"))
        import s.implicits._
        val est = (1L to 5L).map(k => (k, cms.estimateCount(k)))
          .toDF("l_suppkey", "cms_est")
        val bound = (eps * n).ceil.toLong + 1
        exact.join(est, "l_suppkey")
          .withColumn("err_bound", lit(bound))
          .withColumn("no_undercount", col("cms_est") >= col("exact_n"))
          .withColumn("within_bound",
            col("cms_est") - col("exact_n") <= col("err_bound"))
          .orderBy("l_suppkey")
      },
      None),

    // ---- A19 Bloom-filter membership (rows-only + spec) ---------------
    // Distributed build over orders keys; driver-side probes: every
    // present key must hit (no false negatives, the Bloom contract);
    // absent-key false positives stay near the configured fpp
    // (asserted with slack in SketchSuite).
    Q("a19_bloom_membership",
      (s, d) => {
        val ords = load(s, d, "orders")
        // capacity from the actual key count — a hardcoded size
        // saturates at larger SFs and silently voids the fpp contract
        val stats = ords.agg(count(lit(1)).as("n"),
          max(col("o_orderkey")).as("mx")).head()
        val bf = ords.stat.bloomFilter(col("o_orderkey"),
          math.max(stats.getLong(0), 1L), 0.03)
        val present = ords.select("o_orderkey").limit(1000)
          .collect().map(_.getLong(0))
        // orderkeys are dense 0..N-1, so anything past max is absent
        val absent = (1L to 1000L).map(_ + stats.getLong(1))
        import s.implicits._
        // self-validating: fp_bound is the configured fpp with the same
        // 5× slack SketchSuite uses; the booleans make the rows-only
        // check carry the Bloom contract (zero false negatives) and the
        // fpp bound instead of just a row count
        Seq((present.count(bf.mightContain), present.length,
            absent.count(bf.mightContain), absent.length))
          .toDF("present_hits", "n_present", "false_pos", "n_absent")
          .withColumn("fp_bound", lit(0.15))
          .withColumn("no_false_negatives",
            col("present_hits") === col("n_present"))
          .withColumn("fp_within_bound",
            col("false_pos") <= col("n_absent") * col("fp_bound"))
      },
      None),

    // ---- A41 portable Count-Min Sketch (a18's hash-graded twin) -------
    // r16 verdict item 6: a18 grades df.stat's CMS rows-only (the Guava
    // sketch's seeded hash family cannot replay in an ANSI engine); this
    // twin rebuilds the SAME structure — depth 4 × width 256, counts
    // summed per (row, bucket), estimate = min over rows — from the
    // md5-portable integer hash (the e20/d04 convention), so the entire
    // chain including the no-undercount invariant replays in DuckDB and
    // carries a full hash oracle BESIDE the production sketch, not
    // replacing it. Scale shape mirrors the real sketch: per-key exact
    // counts (supplier-bounded), ONE bounded 4×256 table via map-side-
    // partial aggregation, broadcast probe join — nothing data-scale
    // concentrates on a single task.
    Q("a41_cms_portable",
      (s, d) => {
        import s.implicits._
        val li = load(s, d, "lineitem")
        def bkt(j: Column, k: Column): Column = pmod(
          conv(substring(md5(concat(lit("cms:"), j.cast("string"),
            lit(":"), k.cast("string"))), 1, 13), 16, 10)
            .cast("long"), lit(256L))
        val keys = li.groupBy(col("l_suppkey").as("k"))
          .agg(count(lit(1)).as("n"))
        val js = (0L to 3L).toDF("j")
        val cms = keys.crossJoin(broadcast(js))
          .select(col("j"), bkt(col("j"), col("k")).as("b"), col("n"))
          .groupBy("j", "b").agg(sum("n").as("c"))
        val pb = (1L to 5L).toDF("k").crossJoin(broadcast(js))
          .select(col("k"), col("j"), bkt(col("j"), col("k")).as("b"))
        val est = pb.join(cms, Seq("j", "b"))
          .groupBy("k").agg(min("c").as("cms_est"))
        li.filter(col("l_suppkey") <= 5)
          .groupBy("l_suppkey").agg(count(lit(1)).as("exact_n"))
          .join(est, col("l_suppkey") === est("k"))
          .select(col("l_suppkey"), col("exact_n"), col("cms_est"),
            (col("cms_est") >= col("exact_n")).as("no_undercount"))
          .orderBy("l_suppkey")
      },
      Some(s"""WITH keys AS (SELECT l_suppkey AS k, count(*) AS n
                             FROM lineitem GROUP BY l_suppkey),
                    hb AS (SELECT k, n, j,
                             md5('cms:' || CAST(j AS VARCHAR) || ':' ||
                                 CAST(k AS VARCHAR)) AS hx
                           FROM keys, generate_series(0, 3) jj(j)),
                    cms AS (SELECT j, $sqlMd5Int13 % 256 AS b,
                              CAST(sum(n) AS BIGINT) AS c
                            FROM hb GROUP BY 1, 2),
                    pr AS (SELECT p.k, j.j,
                             md5('cms:' || CAST(j.j AS VARCHAR) || ':' ||
                                 CAST(p.k AS VARCHAR)) AS hx
                           FROM generate_series(1, 5) p(k),
                                generate_series(0, 3) j(j)),
                    pb AS (SELECT k, j, $sqlMd5Int13 % 256 AS b FROM pr),
                    est AS (SELECT pb.k, min(cms.c) AS cms_est
                            FROM pb JOIN cms ON cms.j = pb.j
                                            AND cms.b = pb.b
                            GROUP BY pb.k),
                    ex AS (SELECT l_suppkey, count(*) AS exact_n
                           FROM lineitem WHERE l_suppkey <= 5
                           GROUP BY l_suppkey)
               SELECT ex.l_suppkey, ex.exact_n, est.cms_est,
                      est.cms_est >= ex.exact_n AS no_undercount
               FROM ex JOIN est ON est.k = ex.l_suppkey
               ORDER BY l_suppkey""")),

    // ---- A42 portable Bloom filter (a19's hash-graded twin) -----------
    // Same adjudication as a41 for the Bloom side: m = 2²⁰ bits, k = 7
    // md5-derived positions per key over the orders keys; the bit set
    // is the DISTINCT positions (bounded by m), membership = all 7
    // positions present. Present probes are the 100 smallest keys (must
    // ALL hit — the zero-false-negative contract, graded as a pinned
    // boolean); absent probes are the 1000 keys past max (orderkeys are
    // dense, so certainly absent) with the realized false-positive
    // count hash-graded. One driver scalar (max key — bounded by
    // contract); the bit set is leased-persisted across its two
    // consumers and released by the harness drain.
    Q("a42_bloom_portable",
      (s, d) => {
        import s.implicits._
        val ords = load(s, d, "orders")
        val m = 1048576L
        def bkt(h: Column, k: Column): Column = pmod(
          conv(substring(md5(concat(lit("bloom:"), h.cast("string"),
            lit(":"), k.cast("string"))), 1, 13), 16, 10)
            .cast("long"), lit(m))
        val hs = (0L to 6L).toDF("h")
        // okeys is leased-persisted like bits: it feeds THREE consumers
        // (the bit-set lineage, the present-probe limit, and the max-key
        // scalar) — unpersisted, each re-paid the full distinct-over-
        // orders shuffle, and mx cost a third raw orders scan on top
        // (r17 review). max over the distinct frame equals max over the
        // raw keys, so mx doubles as the action that populates the cache
        val okeys = graft.util.QueryLeases.leased(
          ords.select(col("o_orderkey").as("k")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val bits = graft.util.QueryLeases.leased(
          okeys.crossJoin(broadcast(hs))
            .select(bkt(col("h"), col("k")).as("b")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val mx = okeys.agg(max("k")).head().getLong(0)
        val probes = okeys.orderBy("k").limit(100)
          .select(col("k"), lit("p").as("side"))
          .unionByName(s.range(1, 1001)
            .select((col("id") + lit(mx)).as("k"), lit("a").as("side")))
        val probeHits = probes.crossJoin(broadcast(hs))
          .select(col("side"), col("k"), bkt(col("h"), col("k")).as("b"))
          .join(bits, Seq("b"))
          .groupBy("side", "k").agg(count(lit(1)).as("nh"))
          .filter(col("nh") === 7)
        bits.agg(count(lit(1)).as("n_bits_set"))
          .crossJoin(broadcast(probeHits.agg(
            count(when(col("side") === "p", 1)).as("present_hits"),
            count(when(col("side") === "a", 1)).as("false_pos"))))
          .select(col("n_bits_set"), col("present_hits"), col("false_pos"),
            (col("present_hits") === lit(100L)).as("no_false_negatives"))
      },
      Some(s"""WITH okeys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
                    hb AS (SELECT k, h,
                             md5('bloom:' || CAST(h AS VARCHAR) || ':' ||
                                 CAST(k AS VARCHAR)) AS hx
                           FROM okeys, generate_series(0, 6) hh(h)),
                    bits AS (SELECT DISTINCT $sqlMd5Int13 % 1048576 AS b
                             FROM hb),
                    mx AS (SELECT max(k) AS mx FROM okeys),
                    pres AS (SELECT k, 'p' AS side FROM okeys
                             ORDER BY k LIMIT 100),
                    ab AS (SELECT mx.mx + g.g AS k, 'a' AS side
                           FROM mx, generate_series(1, 1000) g(g)),
                    pr AS (SELECT side, k, h,
                             md5('bloom:' || CAST(h AS VARCHAR) || ':' ||
                                 CAST(k AS VARCHAR)) AS hx
                           FROM (SELECT * FROM pres
                                 UNION ALL SELECT * FROM ab) p,
                                generate_series(0, 6) hh(h)),
                    pbits AS (SELECT side, k, $sqlMd5Int13 % 1048576 AS b
                              FROM pr),
                    hits AS (SELECT side, k FROM pbits JOIN bits USING (b)
                             GROUP BY side, k HAVING count(*) = 7)
               SELECT (SELECT CAST(count(*) AS BIGINT) FROM bits)
                        AS n_bits_set,
                      (SELECT CAST(count(*) AS BIGINT) FROM hits
                       WHERE side = 'p') AS present_hits,
                      (SELECT CAST(count(*) AS BIGINT) FROM hits
                       WHERE side = 'a') AS false_pos,
                      (SELECT count(*) FROM hits WHERE side = 'p') = 100
                        AS no_false_negatives""")),

    // ---- A15 HLL approximate distinct (sketch; FULL hash oracle) ------
    // r14-verdict task 5: unlike CMS/Bloom (a18/a19, whose point is the
    // data structure), approx_count_distinct has an exactly computable,
    // DuckDB-replayable target — so a15 is hash-graded. The graded row
    // carries the exact distinct and row count (replayed verbatim by
    // the oracle) plus the 5σ bound check as a boolean the oracle pins
    // to TRUE (rsd = 0.02 is HLL's standard deviation; same 5× slack
    // as the Bloom fpp): a regression in the sketch path — wrong
    // column, wrong rsd, a broken merge — either shifts exact_orders
    // or flips within_5sigma, and the hash catches both. The REALIZED
    // relative error is a function of HLL++ internals (engine-specific,
    // so it cannot ride a hash-graded row); SketchSuite asserts it
    // ≤ the bound and prints it at two SFs.
    Q("a15_approx_distinct",
      (s, d) => load(s, d, "lineitem").agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          count(lit(1)).as("n_rows"))
        .select(col("n_rows"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")).cast("double") /
            col("exact_orders") <= lit(0.10)).as("within_5sigma")),
      Some("""SELECT count(*) AS n_rows,
                     count(DISTINCT l_orderkey) AS exact_orders,
                     true AS within_5sigma
              FROM lineitem""")),

    // ---- W2 session windows (gap-based) over events -------------------
    // Spark session_window vs a DuckDB gaps-and-islands rendition: a new
    // session starts where the gap to the previous event exceeds 30 min;
    // both engines then aggregate per (user, session).
    Q("w02_session_window",
      (s, d) => Streams.sessionStats(
          graft.util.Tables.loadEvents(s, d), "30 minutes")
        .select(col("user_id"),
          col("w.start").cast("string").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      Some(s"""WITH e AS (SELECT user_id, ts, value,
                      CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                < INTERVAL 30 MINUTE
                           THEN 0 ELSE 1 END AS new_sess
                    FROM events),
                   g AS (SELECT user_id, ts, value,
                      sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
                    FROM e)
              SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
                     count(*) AS n_events, ${sqlDsum("value")} AS sum_value
              FROM g GROUP BY user_id, sess
              ORDER BY user_id, session_start""")),

    // ---- J4 semi-structured: JSON props extraction --------------------
    // from_json with an explicit schema: ONE typed Jackson parse per row
    // (vs get_json_object's per-path re-parse). The global orderBy exists
    // only so the driver's hash compare is deterministic — a production
    // variant would drop it; the parse cost is the part that scales.
    Q("j04_json_props",
      (s, d) => load(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events ORDER BY event_id""")),

    // ---- J5 as-of join: latest prior view per purchase ----------------
    // The trades-vs-quotes shape: each purchase picks up the most recent
    // at-or-before view by the same user. Union + running-window plan —
    // one shuffle on user_id, no range fan-out (see TemporalJoins).
    // Oracle: per-purchase LATERAL top-1 with the same (ts, event_id)
    // tie-break. Doubles pass through unchanged → bit-identical.
    Q("j05_asof_join",
      (s, d) => {
        val ev = graft.util.Tables.loadEvents(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "event_id", "ts", "value")
        TemporalJoins.asofBackward(purchases, views, Seq("user_id"),
            leftTime = "ts", rightTime = "ts", tieBreak = "event_id")
          .select(col("event_id"), col("user_id"),
            col("ts").cast("string").as("ts"), col("value"),
            col("asof_event_id").as("view_event_id"),
            col("asof_value").as("view_value"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts,
                     p.value, v.event_id AS view_event_id,
                     v.value AS view_value
              FROM events p LEFT JOIN LATERAL (
                SELECT e.event_id, e.value FROM events e
                WHERE e.user_id = p.user_id AND e.event_type = 'view'
                  AND e.ts <= p.ts
                ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) v ON TRUE
              WHERE p.event_type = 'purchase'
              ORDER BY p.event_id""")),

    // ---- J6 range join: clicks inside a trailing window per error -----
    // Interval containment via the bucketed equi-join (TemporalJoins):
    // each 10-minute lookback covers ≤ 2 buckets, every qualifying pair
    // meets exactly once, and the shuffle key (user, bucket) spreads hot
    // users over time. Bounds are integral micros, so [lo, ts-1μs]
    // renders the half-open `< ts` exactly.
    Q("j06_range_join",
      (s, d) => {
        val ev = graft.util.Tables.loadEvents(s, d)
        val errs = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"),
            (unix_micros(col("ts")) - lit(600000000L)).as("lo"),
            (unix_micros(col("ts")) - lit(1L)).as("hi"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
        val matched = TemporalJoins.rangeJoinBucketed(errs, "lo", "hi",
          clicks, "t", Seq("user_id"), bucketWidth = 600000000L)
        val counts = matched.groupBy("event_id")
          .agg(count(lit(1)).as("n_clicks"), dsum(col("r_value")).as("click_value"))
        errs.select(col("event_id"), col("user_id"),
            col("ts").cast("string").as("ts"))
          .join(counts, Seq("event_id"), "left")
          .select(col("event_id"), col("user_id"), col("ts"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
            coalesce(col("click_value"), lit(0.0)).as("click_value"))
          .orderBy("event_id")
      },
      Some(s"""SELECT er.event_id, er.user_id, CAST(er.ts AS VARCHAR) AS ts,
                      count(cl.event_id) AS n_clicks,
                      COALESCE(${sqlDsum("cl.value")}, 0.0) AS click_value
               FROM events er LEFT JOIN events cl
                 ON cl.user_id = er.user_id AND cl.event_type = 'click'
                 AND cl.ts >= er.ts - INTERVAL 10 MINUTE AND cl.ts < er.ts
               WHERE er.event_type = 'error'
               GROUP BY er.event_id, er.user_id, er.ts
               ORDER BY er.event_id""")),

    // ---- W4 stream-stream interval join (batch rendition) -------------
    // Same function incrementalizes under streaming sinks with two-sided
    // watermark state eviction (StreamingSuite proves batch == streamed);
    // here it runs batch against events for the oracle.
    Q("w04_interval_join",
      (s, d) => {
        val ev = graft.util.Tables.loadEvents(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
        Streams.intervalJoin(purchases, clicks, "user_id", "p_ts", "c_ts",
            before = "10 minutes", after = "0 seconds")
          .select(col("p_id"), col("user_id"),
            col("p_ts").cast("string").as("p_ts"),
            col("c_id"), col("c_ts").cast("string").as("c_ts"))
          .orderBy("p_id", "c_id")
      },
      Some("""SELECT p.event_id AS p_id, p.user_id,
                     CAST(p.ts AS VARCHAR) AS p_ts, c.event_id AS c_id,
                     CAST(c.ts AS VARCHAR) AS c_ts
              FROM events p JOIN events c
                ON c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
              WHERE p.event_type = 'purchase'
              ORDER BY p_id, c_id""")),

    // ---- W11 interval LEFT join (unmatched events survive) ------------
    // w04's outer sibling: every purchase appears, NULL-padded when no
    // click precedes it within 10 minutes — the "did marketing touch
    // this conversion" frame. StreamingSuite proves the streaming
    // rendition emits the NULL rows exactly once the watermark closes
    // each window.
    Q("w11_interval_left",
      (s, d) => {
        val ev = graft.util.Tables.loadEvents(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id"),
            col("ts").as("c_ts"))
        Streams.intervalJoin(purchases, clicks, "user_id", "p_ts", "c_ts",
            before = "10 minutes", after = "0 seconds",
            joinType = "left_outer")
          .select(col("p_id"), col("user_id"),
            col("p_ts").cast("string").as("p_ts"),
            col("c_id"), col("c_ts").cast("string").as("c_ts"))
          .orderBy("p_id", "c_id")
      },
      Some("""SELECT p.event_id AS p_id, p.user_id,
                     CAST(p.ts AS VARCHAR) AS p_ts, c.event_id AS c_id,
                     CAST(c.ts AS VARCHAR) AS c_ts
              FROM events p LEFT JOIN events c
                ON c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
              WHERE p.event_type = 'purchase'
              ORDER BY p_id, c_id""")),

    // ---- W7 stream-static enrichment join -----------------------------
    // Attach a static dimension (customer segment) to the event stream,
    // then aggregate per (segment, type). The join broadcasts the dim,
    // never shuffles the stream, and keeps unmatched events (left join,
    // NULL → 'none'). Batch rendition graded here; StreamingSuite pins
    // batch == streaming over a MemoryStream.
    Q("w07_stream_static_join",
      (s, d) => {
        val ev = graft.util.Tables.loadEvents(s, d)
        val dim = load(s, d, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        Streams.enrichWithDim(ev, dim, "user_id")
          .groupBy(coalesce(col("segment"), lit("none")).as("segment"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .orderBy("segment", "event_type")
      },
      Some(s"""SELECT coalesce(c.c_mktsegment, 'none') AS segment,
                     e.event_type, count(*) AS n_events,
                     ${sqlDsum("e.value")} AS sum_value
              FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
              GROUP BY 1, 2 ORDER BY segment, event_type""")),

    // ---- MM1 multimodal pack: binary payload + typed metadata ---------
    Q("mm01_multimodal_pack",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          Multimodal.packMedia(encode(col("text"), "UTF-8"), "text",
            "text/plain").as("media"))
        .select(col("doc_id"),
          col("media.meta.kind").as("kind"),
          col("media.meta.n_bytes").as("n_bytes"),
          col("media.meta.checksum").as("checksum"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'text' AS kind,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     md5(text) AS checksum
              FROM documents ORDER BY doc_id""")),

    // ---- MM2 batched per-partition decode (fake codec; plumbing real) -
    // The graded row rides THROUGH the mapPartitions batch decode: dim
    // comes from the decoder's emitted feature vector (the width
    // contract through real batching), and n_bytes/payload_md5 are
    // computed from the payload column AFTER the per-batch Row rebuild
    // — so a pairing bug (doc_id matched to another row's payload), a
    // dropped/duplicated row at a batch boundary, or a corrupted
    // payload all break the hash match. The oracle recomputes both
    // from the source bytes (DuckDB md5 = md5 of the UTF-8 encoding,
    // the mm01 convention). The fake codec's FEATURE VALUES are
    // engine-specific by design (seeded 64-bit hash-fold standing in
    // for a real image/audio codec) — their determinism and batch-
    // invariance are pinned by MultimodalSuite.
    Q("mm02_multimodal_decode",
      (s, d) => {
        val packed = load(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        Multimodal.decodePartitions(packed, "payload",
            new Multimodal.DeterministicFakeDecoder(8), batchSize = 32)
          .select(col("doc_id"), size(col("features")).as("dim"),
            length(col("payload")).cast("long").as("n_bytes"),
            md5(col("payload")).as("payload_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, 8 AS dim,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     md5(text) AS payload_md5
              FROM documents ORDER BY doc_id""")),

    // ---- MM3 resize plan (aspect-preserving geometry, cap 512) --------
    // The metadata half of image resizing: pseudo-dimensions derive
    // deterministically from doc_id (no image lib in this container),
    // the geometry — cap the long side, preserve aspect, half-up round,
    // never upscale — is the real, oracle-checked logic.
    Q("mm03_resize_plan",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          (lit(320) + (col("doc_id") * 7) % 1600).as("w"),
          (lit(240) + (col("doc_id") * 13) % 1200).as("h"))
        .withColumn("out", Multimodal.resizeDims(col("w"), col("h"), 512))
        .select(col("doc_id"), col("w"), col("h"),
          col("out.w").as("out_w"), col("out.h").as("out_h"))
        .orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id,
                  320 + (doc_id * 7) % 1600 AS w,
                  240 + (doc_id * 13) % 1200 AS h FROM documents),
               sc AS (SELECT doc_id, w, h,
                  least(1.0, 512.0 / CAST(greatest(w, h) AS DOUBLE)) AS s
                FROM dims)
              SELECT doc_id, w, h,
                     CAST(greatest(floor(CAST(w AS DOUBLE) * s + 0.5), 1)
                       AS BIGINT) AS out_w,
                     CAST(greatest(floor(CAST(h AS DOUBLE) * s + 0.5), 1)
                       AS BIGINT) AS out_h
              FROM sc ORDER BY doc_id""")),

    // ---- MM4 ViT patch-grid plan --------------------------------------
    // The tiling metadata downstream of mm03's resize: ceil-divided
    // 16-px patch counts, padded canvas, transformer sequence length
    // (+CLS). Pure integer arithmetic end to end → full hash oracle.
    Q("mm04_patch_grid",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          (lit(320) + (col("doc_id") * 7) % 1600).as("w"),
          (lit(240) + (col("doc_id") * 13) % 1200).as("h"))
        .withColumn("r", Multimodal.resizeDims(col("w"), col("h"), 512))
        .withColumn("g", Multimodal.patchGrid(col("r.w"), col("r.h"), 16))
        .select(col("doc_id"), col("r.w").as("rw"), col("r.h").as("rh"),
          col("g.n_x").as("n_x"), col("g.n_y").as("n_y"),
          col("g.n_patches").as("n_patches"),
          col("g.pad_w").as("pad_w"), col("g.pad_h").as("pad_h"),
          col("g.seq_len").as("seq_len"))
        .orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id,
                  320 + (doc_id * 7) % 1600 AS w,
                  240 + (doc_id * 13) % 1200 AS h FROM documents),
               sc AS (SELECT doc_id, w, h,
                  least(1.0, 512.0 / CAST(greatest(w, h) AS DOUBLE)) AS s
                FROM dims),
               r AS (SELECT doc_id,
                  CAST(greatest(floor(CAST(w AS DOUBLE) * s + 0.5), 1)
                    AS BIGINT) AS rw,
                  CAST(greatest(floor(CAST(h AS DOUBLE) * s + 0.5), 1)
                    AS BIGINT) AS rh
                FROM sc),
               g AS (SELECT doc_id, rw, rh,
                  (rw + 15) // 16 AS n_x, (rh + 15) // 16 AS n_y
                FROM r)
              SELECT doc_id, rw, rh, n_x, n_y,
                     n_x * n_y AS n_patches,
                     n_x * 16 AS pad_w, n_y * 16 AS pad_h,
                     n_x * n_y + 1 AS seq_len
              FROM g ORDER BY doc_id""")),

    // ---- MM5 frame-sample plan (every k-th frame, capped) -------------
    // The video half of the decode pipeline: which frames to pull before
    // any codec touches bytes. Offsets stand in for demuxed frame
    // indices (no container parser in this environment — the stub
    // documented on Multimodal.sampleFrameOffsets); the SAMPLING
    // geometry — stride 64 over the payload, capped at 16 frames,
    // exploded to one row per selected frame, EMPTY payloads sampling
    // zero frames (kept as an n_frames = 0 row via the outer explode /
    // left join) — is the real, graded logic. Spark `sequence` and
    // DuckDB `generate_series` are both stop-inclusive with the stop
    // pre-capped at 64·15, so at most 16 elements ever materialize;
    // ranks come from row_number over the strictly-increasing offsets.
    // Scale shape: pure per-row column arithmetic plus one bounded
    // explode (≤ 16 rows/doc) — no shuffle until the presentation sort.
    Q("mm05_frame_sample",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
        .withColumn("offs",
          Multimodal.sampleFrameOffsets(col("n_bytes"), everyK = 64,
            maxFrames = 16))
        .withColumn("n_frames", size(col("offs")))
        .select(col("doc_id"), col("n_bytes"), col("n_frames"),
          posexplode_outer(col("offs")).as(Seq("pos", "byte_offset")))
        .select(col("doc_id"), col("n_bytes"), col("n_frames"),
          (col("pos") + 1).as("frame_rank"), col("byte_offset"))
        .orderBy("doc_id", "frame_rank"),
      Some("""WITH b AS (SELECT doc_id,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                FROM documents),
               l AS (SELECT doc_id, n_bytes,
                  CASE WHEN n_bytes > 0
                       THEN generate_series(0, least(n_bytes - 1, 960), 64)
                       ELSE CAST([] AS BIGINT[]) END AS offs FROM b),
               f AS (SELECT doc_id,
                  CAST(len(offs) AS INT) AS n_frames,
                  unnest(offs) AS byte_offset FROM l),
               r AS (SELECT doc_id, n_frames,
                  CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY byte_offset) AS INT) AS frame_rank,
                  byte_offset FROM f)
              SELECT l.doc_id, l.n_bytes,
                     CAST(len(l.offs) AS INT) AS n_frames,
                     r.frame_rank, r.byte_offset
              FROM l LEFT JOIN r ON r.doc_id = l.doc_id
              ORDER BY l.doc_id, frame_rank""")),

    // ---- MM6 audio STFT framing plan -----------------------------------
    // The window/hop geometry every audio front-end plans with
    // (librosa/Kaldi center=False: complete 256-sample windows at
    // hop 128, capped at 12 frames). Clips shorter than one window
    // frame to ZERO windows and keep their row (null rank) — the mm05
    // accounting discipline. Pure integer column arithmetic plus one
    // bounded explode; hash-exact like the rest of the mm family.
    Q("mm06_stft_frames",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n_samples"))
        .withColumn("offs",
          Multimodal.stftFrameOffsets(col("n_samples"), win = 256,
            hop = 128, maxFrames = 12))
        .withColumn("n_frames", size(col("offs")))
        .select(col("doc_id"), col("n_samples"), col("n_frames"),
          posexplode_outer(col("offs")).as(Seq("pos", "start")))
        .select(col("doc_id"), col("n_samples"), col("n_frames"),
          (col("pos") + 1).as("frame_rank"), col("start"),
          (col("start") + lit(256L)).as("fend"))
        .orderBy("doc_id", "frame_rank"),
      Some("""WITH b AS (SELECT doc_id,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_samples
                FROM documents),
               l AS (SELECT doc_id, n_samples,
                  CASE WHEN n_samples >= 256
                       THEN generate_series(0,
                              least(n_samples - 256, 1408), 128)
                       ELSE CAST([] AS BIGINT[]) END AS offs FROM b),
               f AS (SELECT doc_id, unnest(offs) AS start FROM l),
               r AS (SELECT doc_id,
                  CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY start) AS INT) AS frame_rank,
                  start FROM f)
              SELECT l.doc_id, l.n_samples,
                     CAST(len(l.offs) AS INT) AS n_frames,
                     r.frame_rank, r.start, r.start + 256 AS fend
              FROM l LEFT JOIN r ON r.doc_id = l.doc_id
              ORDER BY l.doc_id, frame_rank""")),

    // ---- MM7 aspect-ratio bucketing census -----------------------------
    // Diffusion-style batch assembly: snap each image (the mm03 pseudo
    // dims) to the 5×5 bucket grid {512..1024 step 128}² minimizing
    // |w/h − bw/bh| (ties to the lower bucket id), then census counts +
    // the 2⁻²⁰-quantized summed drift per bucket. The per-image diff is
    // two IEEE divisions + one subtraction + abs over exact integers,
    // so the argmin and the quantized drift replay exactly.
    Q("mm07_aspect_bucket",
      (s, d) => Multimodal.aspectBuckets(
        load(s, d, "documents")
          .select(col("doc_id"),
            (lit(320) + (col("doc_id") * 7) % 1600).as("w"),
            (lit(240) + (col("doc_id") * 13) % 1200).as("h")),
        "doc_id", "w", "h",
        buckets = for {
          i <- 0 until 5; j <- 0 until 5
        } yield (512 + 128 * i, 512 + 128 * j)),
      Some("""WITH dims AS (SELECT doc_id,
                     320 + (doc_id * 7) % 1600 AS w,
                     240 + (doc_id * 13) % 1200 AS h FROM documents),
                  bk AS (SELECT CAST(i * 5 + j AS INTEGER) AS bucket_id,
                           CAST(512 + 128 * i AS INTEGER) AS bw,
                           CAST(512 + 128 * j AS INTEGER) AS bh
                         FROM generate_series(0, 4) a(i),
                              generate_series(0, 4) b(j)),
                  e AS (SELECT doc_id, bucket_id,
                          abs(CAST(w AS DOUBLE) / CAST(h AS DOUBLE)
                              - CAST(bw AS DOUBLE) / CAST(bh AS DOUBLE))
                            AS diff
                        FROM dims, bk),
                  r AS (SELECT doc_id, bucket_id, diff,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY diff, bucket_id) AS rk
                        FROM e),
                  a AS (SELECT bucket_id, count(*) AS n_images,
                          CAST(sum(CAST(floor(diff * 1048576.0 + 0.5)
                                        AS BIGINT)) AS BIGINT) AS drift_q
                        FROM r WHERE rk = 1 GROUP BY bucket_id)
              SELECT bk.bucket_id, bk.bw, bk.bh,
                     coalesce(a.n_images, 0) AS n_images,
                     coalesce(a.drift_q, 0) AS drift_q
              FROM bk LEFT JOIN a USING (bucket_id)
              ORDER BY bk.bucket_id""")),

    // ---- O2/O3 Monte-Carlo fan-out + grouped summary ------------------
    // Grid-as-Dataset, task-local sims (deterministic seeds). The bias/
    // SE/RMSE vs BASELINE.md tolerances are asserted in McSuite.
    // Self-validating (round-8): o02 rows carry battery completeness
    // (all 4 estimators per (sim, γ) cell), finiteness, and a
    // determinism check (a second fan-out over the SAME grid must
    // reproduce every estimate bit-for-bit — seeded task-local sims);
    // o03 rows carry the rmse² = bias² + var·(n−1)/n identity (exact
    // for the decimal-sum aggregates up to final double rounding) and
    // the replicate count. McSuite asserts the booleans all-true.
    // Since r15, the control flow both queries exercise — the same
    // fan-out shape, SimResult assembly, and MonteCarlo.summarize —
    // is ALSO hash-anchored externally by the o04 portable twin below;
    // McSuite pins o02/o03's agreement with it (schema, battery size,
    // summary identities).
    Q("o02_mc_fanout",
      (s, _) => {
        import org.apache.spark.sql.expressions.Window
        val grid = MonteCarlo.nmarGrid(nSim = 3, gammas = Seq(0.0, 1.0),
          nPop = 5000, nA = 250, nB = 1000)
        val rerun = MonteCarlo.run(s, grid)
          .withColumnRenamed("estimate", "estimate2")
        val cell = Window.partitionBy("gamma", "sim")
        MonteCarlo.run(s, grid)
          .join(rerun, Seq("sim", "gamma", "estimator"))
          .withColumn("battery_complete",
            count(lit(1)).over(cell) === 4)
          .withColumn("estimate_finite",
            !isnan(col("estimate")) && abs(col("estimate")) < lit(1e300))
          .withColumn("deterministic", col("estimate") === col("estimate2"))
          .drop("estimate2")
          .orderBy("gamma", "sim", "estimator")
      },
      None),

    Q("o03_mc_summary",
      (s, _) => {
        val res = MonteCarlo.run(s,
          MonteCarlo.nmarGrid(nSim = 5, gammas = Seq(0.0, 0.5, 1.0),
            nPop = 5000, nA = 250, nB = 1000))
        MonteCarlo.summarize(res, trueMean = 3.0)
          .withColumn("identity_gap",
            abs(col("rmse") * col("rmse") -
              (col("bias") * col("bias") +
                col("se") * col("se") * (col("n_sims") - 1) / col("n_sims"))))
          .withColumn("identity_ok", col("identity_gap") <= 1e-9)
          .withColumn("n_sims_ok", col("n_sims") === 5)
      },
      None),

    // ---- O4 Monte-Carlo PORTABLE twin (full hash oracle) --------------
    // r14-verdict task 4, the g20/e31 method applied to the MC harness:
    // the SAME control flow as o02/o03 — grid → fan-out (the identical
    // shuffle-free parallelize/flatMap shape as MonteCarlo.run) →
    // per-cell population synthesis → NMAR selection → 4-estimator
    // battery → MonteCarlo.summarize — but in engine-exact arithmetic
    // (portable integer-hash uniforms, Irwin–Hall sums, clamped-linear
    // propensity, dsum-mirrored aggregates; see PortableSim), so the
    // assembled result rows AND the summary columns replay in DuckDB
    // verbatim. o02/o03 stay no_oracle (their Box–Muller populations
    // and RegDI/PC batteries are engine-specific by design); McSuite
    // pins their agreement with this twin (same fan-out machinery, same
    // SimResult schema, same battery size, same summarize identities —
    // which this query's hash now anchors externally). Eager-
    // materialized (the e03 discipline) so summarize and the join
    // consume ONE fan-out execution, not two plan branches.
    Q("o04_mc_portable",
      (s, _) => {
        val grid = MonteCarlo.portableGrid(nSim = 3,
          gammas = Seq(0.0, 1.0), nPop = 2000)
        val res = MonteCarlo.runPortable(s, grid)
        val resDf = localRelation(res) // 24 rows: |grid| × 4 estimators
        resDf.join(MonteCarlo.summarize(resDf, trueMean = 3.0),
            Seq("gamma", "estimator"))
          .select(col("sim"), col("gamma"), col("estimator"),
            col("estimate"), col("bias"), col("se"), col("rmse"),
            col("n_sims"))
          .orderBy("gamma", "estimator", "sim")
      },
      Some(McOracle.o04)),

    // ---- M12 two-factor ANOVA, Type-I SS ------------------------------
    // Hash-matched via the shared AnovaTypeI tree (Frisch–Waugh RSS
    // chain + (b−1)×(b−1) Cramer solve) rendered to DuckDB SQL by
    // AnovaOracle; p-values (F CDF, libm) stay on Anova.twoFactor and
    // its AnovaSuite golden tables.
    Q("m12_anova",
      (s, d) => Anova.twoFactorTypeIDf(
        load(s, d, "orders").select(col("o_totalprice").as("y"),
          col("o_orderstatus").as("fa"), col("o_orderpriority").as("fb")),
        "y", "fa", "fb"),
      Some(AnovaOracle.m12)),

    // ---- M20-M25 estimators end-to-end (RegDI 1-3, PC 1-3) ------------
    Q("m20_regdi_corr1",
      (s, d) => {
        val (a, b, n) = abSamples(s, d)
        val r = RegDI.twoSample(a, b, "cid", "cid",
          RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("x1"),
            nTotal = Some(n), weightsA = Some("d_w"), correction = 1))
        s.range(1).select(lit(r.mean).as("mean"), lit(r.se).as("se"))
      },
      Some(EstimatorOracles.m20)),

    Q("m21_regdi_corr2",
      (s, d) => {
        val (a, b0, n) = abSamples(s, d)
        val b = b0.withColumn("y", lit(50.0) + col("y") * 1.1) // mismeasured
        val r = RegDI.twoSample(a, b, "cid", "cid",
          RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("x1"),
            nTotal = Some(n), weightsA = Some("d_w"), correction = 2))
        s.range(1).select(lit(r.mean).as("mean"), lit(r.se).as("se"))
      },
      Some(EstimatorOracles.m21)),

    Q("m22_regdi_corr3",
      (s, d) => {
        val (a, b, n) = abSamples(s, d)
        val r = RegDI.twoSample(a, b, "cid", "cid",
          RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("x1"),
            nTotal = Some(n), weightsA = Some("d_w"), correction = 3,
            outcomeModel = Some("y ~ x1"), evalModelPerformance = true))
        s.range(1).select(lit(r.mean).as("mean"), lit(r.se).as("se"),
          lit(r.rmse.getOrElse(-1.0)).as("rmse"), lit(r.r2.getOrElse(-1.0)).as("r2"))
      },
      Some(EstimatorOracles.m22)),

    Q("m23_pc_scen1",
      (s, d) => {
        val (a, b, n) = abSamples(s, d)
        val r = PC.twoSample(a, b, "cid", "cid",
          PCConfig(yACol = Some("y"), yBCol = Some("y"),
            auxVars = Seq("x1", "x2"), nTotal = Some(n),
            weightsA = Some("d_w"), scenario = 1))
        s.range(1).select(lit(r.estimator).as("estimator"),
          lit(r.se.getOrElse(-1.0)).as("se"))
      },
      Some(EstimatorOracles.m23)),

    Q("m24_pc_scen2",
      (s, d) => {
        val (a, b, n) = abSamples(s, d)
        val r = PC.twoSample(a, b, "cid", "cid",
          PCConfig(yACol = Some("y"), yBCol = Some("y"),
            auxVars = Seq("x1", "x2"), nTotal = Some(n),
            weightsA = Some("d_w"), scenario = 2,
            outcomeModel = Some("y ~ x1")))
        s.range(1).select(lit(r.estimator).as("estimator"))
      },
      Some(EstimatorOracles.m24)),

    Q("m25_pc_scen3",
      (s, d) => {
        val (a, b, n) = abSamples(s, d)
        val r = PC.twoSample(a, b, "cid", "cid",
          PCConfig(yACol = Some("y"), yBCol = Some("y"),
            auxVars = Seq("x1", "x2"), nTotal = Some(n),
            weightsA = Some("d_w"), scenario = 3,
            outcomeModel = Some("y ~ x1"), evalModelPerformance = true))
        s.range(1).select(lit(r.estimator).as("estimator"),
          lit(r.rmse.getOrElse(-1.0)).as("rmse"), lit(r.r2.getOrElse(-1.0)).as("r2"))
      },
      Some(EstimatorOracles.m25)),

    // ---- J9 correlated subqueries (scalar + EXISTS) -------------------
    // The SQL-surface rendition of per-row correlated lookups: a scalar
    // subquery (max line quantity per order) and a correlated NOT
    // EXISTS filter. Spark decorrelates both into joins; the SAME text
    // runs verbatim in DuckDB, so the oracle is the query itself.
    Q("j09_correlated_subquery",
      (s, d) => {
        load(s, d, "orders").createOrReplaceTempView("graft_ord_v")
        load(s, d, "lineitem").createOrReplaceTempView("graft_li_v")
        s.sql("""SELECT o_orderkey, o_orderstatus,
                        (SELECT max(l_quantity) FROM graft_li_v
                         WHERE l_orderkey = o_orderkey) AS max_qty
                 FROM graft_ord_v o
                 WHERE o_custkey < 200
                   AND NOT EXISTS (SELECT 1 FROM graft_li_v
                                   WHERE l_orderkey = o.o_orderkey
                                     AND l_quantity > 49)
                 ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
                     (SELECT max(l_quantity) FROM lineitem
                      WHERE l_orderkey = o_orderkey) AS max_qty
              FROM orders o
              WHERE o_custkey < 200
                AND NOT EXISTS (SELECT 1 FROM lineitem
                                WHERE l_orderkey = o.o_orderkey
                                  AND l_quantity > 49)
              ORDER BY o_orderkey""")),

    // ---- F3 higher-order array functions ------------------------------
    // The lambda surface (transform / filter / aggregate / arrays via
    // split) graded against DuckDB's list_* equivalents — all-integer
    // outputs, so the parity is exact.
    Q("f03_array_funcs",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          expr("size(split(text, ' '))").as("n_raw"),
          expr("size(filter(split(text, ' '), w -> length(w) >= 4))")
            .as("n_long"),
          expr("aggregate(transform(split(text, ' '), w -> length(w)), " +
            "0, (a, x) -> a + x)").as("sum_len"),
          expr("size(array_distinct(split(text, ' ')))").as("n_distinct"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INTEGER) AS n_raw,
                     CAST(len(list_filter(string_split(text, ' '),
                          w -> len(w) >= 4)) AS INTEGER) AS n_long,
                     CAST(list_aggregate(list_transform(
                            string_split(text, ' '), w -> len(w)), 'sum')
                          AS INTEGER) AS sum_len,
                     CAST(len(list_distinct(string_split(text, ' ')))
                          AS INTEGER) AS n_distinct
              FROM documents ORDER BY doc_id""")),

    // ---- A27 explicit GROUPING SETS + grouping_id ---------------------
    // The third member of the rollup (a16) / cube (a17) family: an
    // arbitrary set list with the standard bit-vector grouping_id
    // (leftmost grouped column = most significant bit in both engines).
    Q("a27_grouping_sets",
      (s, d) => load(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(col("gid"),
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("n"), col("total"))
        .orderBy("gid", "status", "priority"),
      Some(s"""SELECT CAST(GROUPING(o_orderstatus, o_orderpriority)
                        AS INTEGER) AS gid,
                      coalesce(o_orderstatus, '<all>') AS status,
                      coalesce(o_orderpriority, '<all>') AS priority,
                      count(*) AS n, ${sqlDsum("o_totalprice")} AS total
               FROM orders
               GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                       (o_orderstatus), ())
               ORDER BY gid, status, priority""")),

    // ---- A28 time-RANGE window (7-day trailing average) ---------------
    // The event-time sibling of a20's ROWS frame: the frame is every
    // event within the trailing 7 days, however many rows that is. Both
    // engines order by INTEGER microseconds (a seconds-truncated cast
    // would disagree on boundary rows), so peer handling and the frame
    // cut are bit-identical.
    Q("a28_time_range_avg",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-604800000000L, 0)
        graft.util.Tables.loadEvents(s, d)
          .filter(col("user_id") < 50)
          .select(col("user_id"), col("event_id"),
            (graft.util.Tables.dsumOver(col("value"), w)
              / count(lit(1)).over(w)).as("trail_avg"))
          .orderBy("user_id", "event_id")
      },
      Some(s"""SELECT user_id, event_id,
                      ${graft.util.Tables.sqlDsumOver("value", "w")}
                        / count(*) OVER w AS trail_avg
               FROM events WHERE user_id < 50
               WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 604800000000 PRECEDING
                                      AND CURRENT ROW)
               ORDER BY user_id, event_id""")),

    // ---- J10 CDC merge-upsert (batch MERGE INTO) ----------------------
    // A change log (updates on keys %5, deletes on %10 at a later seq,
    // inserts on shifted keys %20=3) applied to the orders base table via
    // graft.operators.Cdc: latest (seq, op) per key wins, winner deletes
    // drop the key, winner upserts replace the row, untouched keys pass
    // through an anti join against the broadcast winner-key set — the
    // base (100 TB side) is never shuffled. All values are base values
    // or one IEEE add, so the oracle is hash-exact.
    Q("j10_merge_upsert",
      (s, d) => {
        val base = load(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
        val changes =
          base.filter(col("k") % 5 === 0)
            .select(col("k"), lit("U").as("op"), lit(1L).as("seq"),
              (col("v") + lit(100.0)).as("v"))
          .unionByName(base.filter(col("k") % 10 === 0)
            .select(col("k"), lit("D").as("op"), lit(2L).as("seq"),
              lit(null).cast("double").as("v")))
          .unionByName(base.filter(col("k") % 20 === 3)
            .select((col("k") + lit(100000000L)).as("k"), lit("I").as("op"),
              lit(1L).as("seq"), col("v")))
        graft.operators.Cdc
          .applyChangeLog(base, changes, Seq("k"), "seq", "op")
          .orderBy("k")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS v
                            FROM orders),
                   ch AS (
                     SELECT k, 'U' AS op, 1 AS seq, v + 100.0 AS v
                     FROM base WHERE k % 5 = 0
                     UNION ALL
                     SELECT k, 'D', 2, NULL FROM base WHERE k % 10 = 0
                     UNION ALL
                     SELECT k + 100000000, 'I', 1, v
                     FROM base WHERE k % 20 = 3),
                   latest AS (SELECT * FROM
                     (SELECT ch.*, row_number() OVER
                        (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
                      FROM ch) WHERE rn = 1),
                   kept AS (SELECT b.k, b.v FROM base b
                            LEFT JOIN latest l ON b.k = l.k
                            WHERE l.k IS NULL),
                   applied AS (SELECT k, v FROM latest WHERE op <> 'D')
              SELECT k, v FROM kept
              UNION ALL SELECT k, v FROM applied
              ORDER BY k""")),

    // ---- S8 z-order (Morton) clustering key ---------------------------
    // The multi-dimensional data-skipping layout: interleave the bits of
    // two keys so z-range files carry tight min/max stats on BOTH.
    // Graded surface = the z-value projection (pure integer shift/mask
    // chain, hash-exact); the clustered-write locality is specced in
    // ZOrderSuite (16 z-range files of a 128² grid → each file's
    // bounding box ≤ 1/4 of the plane).
    Q("s08_zorder",
      (s, d) => {
        val src = load(s, d, "orders").select(
          col("o_orderkey").as("k"),
          (col("o_orderkey") % 1024).as("x"),
          (col("o_custkey") % 1024).as("y"))
        src.select(col("k"), col("x"), col("y"),
            graft.sources.ZOrder.zValue(col("x"), col("y")).as("z"))
          .orderBy("k")
      },
      Some("""WITH s AS (SELECT o_orderkey AS k, o_orderkey % 1024 AS x,
                                o_custkey % 1024 AS y FROM orders),
                   e0 AS (SELECT k, x, y, x & 65535 AS vx, y & 65535 AS vy FROM s),
                   e1 AS (SELECT k, x, y, (vx | (vx << 8)) & 16711935 AS vx,
                                          (vy | (vy << 8)) & 16711935 AS vy FROM e0),
                   e2 AS (SELECT k, x, y, (vx | (vx << 4)) & 252645135 AS vx,
                                          (vy | (vy << 4)) & 252645135 AS vy FROM e1),
                   e3 AS (SELECT k, x, y, (vx | (vx << 2)) & 858993459 AS vx,
                                          (vy | (vy << 2)) & 858993459 AS vy FROM e2),
                   e4 AS (SELECT k, x, y, (vx | (vx << 1)) & 1431655765 AS vx,
                                          (vy | (vy << 1)) & 1431655765 AS vy FROM e3)
              SELECT k, x, y, vx | (vy << 1) AS z FROM e4 ORDER BY k""")),

    // ---- J11 Fellegi–Sunter record linkage ----------------------------
    // Two overlapping customer extracts (%2 and %3 keys) linked by a
    // nationkey blocking join + a 3-field agreement vector (name exact,
    // segment exact, balance within 100) scored with literal log-odds
    // weights; threshold 2.5 keeps name-agreeing pairs. Pair volume is
    // per-block, never |L|·|R|; the score is a fixed-order sum of
    // literal doubles — hash-exact.
    Q("j11_record_linkage",
      (s, d) => {
        import graft.operators.RecordLinkage.{FieldComparison, scorePairs}
        def extract(m: Int) = load(s, d, "customer")
          .filter(col("c_custkey") % m === 0)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_nationkey").as("nat"), col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg"))
        scorePairs(extract(2), extract(3), keyCol = "id",
          blockCols = Seq("nat"),
          comparisons = Seq(
            FieldComparison("name", (a, b) => a === b, 3.5, -1.5),
            FieldComparison("seg", (a, b) => a === b, 1.0, -0.5),
            FieldComparison("bal", (a, b) => abs(a - b) < 100.0, 2.0, -2.0)),
          minScore = 2.5)
          .orderBy("id_l", "id_r")
      },
      Some("""WITH l AS (SELECT c_custkey AS id, c_name AS name,
                                c_nationkey AS nat, c_acctbal AS bal,
                                c_mktsegment AS seg
                         FROM customer WHERE c_custkey % 2 = 0),
                   r AS (SELECT c_custkey AS id, c_name AS name,
                                c_nationkey AS nat, c_acctbal AS bal,
                                c_mktsegment AS seg
                         FROM customer WHERE c_custkey % 3 = 0),
                   p AS (SELECT l.id AS id_l, r.id AS id_r,
                           CASE WHEN l.name = r.name THEN 1
                                WHEN NOT (l.name = r.name) THEN 0 END AS agr_name,
                           CASE WHEN l.seg = r.seg THEN 1
                                WHEN NOT (l.seg = r.seg) THEN 0 END AS agr_seg,
                           CASE WHEN abs(l.bal - r.bal) < 100.0 THEN 1
                                WHEN NOT (abs(l.bal - r.bal) < 100.0)
                                THEN 0 END AS agr_bal,
                           (CASE WHEN l.name = r.name
                                 THEN CAST(3.5 AS DOUBLE)
                                 WHEN NOT (l.name = r.name)
                                 THEN CAST(-1.5 AS DOUBLE)
                                 ELSE CAST(0.0 AS DOUBLE) END +
                            CASE WHEN l.seg = r.seg
                                 THEN CAST(1.0 AS DOUBLE)
                                 WHEN NOT (l.seg = r.seg)
                                 THEN CAST(-0.5 AS DOUBLE)
                                 ELSE CAST(0.0 AS DOUBLE) END +
                            CASE WHEN abs(l.bal - r.bal) < 100.0
                                 THEN CAST(2.0 AS DOUBLE)
                                 WHEN NOT (abs(l.bal - r.bal) < 100.0)
                                 THEN CAST(-2.0 AS DOUBLE)
                                 ELSE CAST(0.0 AS DOUBLE) END) AS score
                         FROM l JOIN r ON l.nat = r.nat)
              SELECT id_l, id_r, agr_name, agr_seg, agr_bal, score
              FROM p WHERE score >= 2.5 ORDER BY id_l, id_r""")),

    // ---- W10 trending top-k per window (batch rendition) --------------
    // Streams.trendingTopK: tumbling per-type counts + per-window top-k
    // rank (count desc, type tie-break). The counts half is the
    // streaming-stateful operator (StreamingSuite proves sink-side rank
    // over streamed counts == this batch rendition); ranks and counts
    // are all-integer → full hash oracle.
    Q("w10_trending",
      (s, d) => Streams.trendingTopK(
          graft.util.Tables.loadEvents(s, d), "1 hour", k = 3)
        .orderBy("w_start", "rank"),
      Some("""WITH c AS (SELECT CAST(date_trunc('hour', ts) AS VARCHAR)
                           AS w_start, event_type, count(*) AS n
                         FROM events GROUP BY 1, 2),
                   r AS (SELECT w_start, event_type, n,
                           CAST(row_number() OVER
                             (PARTITION BY w_start
                              ORDER BY n DESC, event_type) AS INTEGER) AS rank
                         FROM c)
              SELECT w_start, event_type, n, rank FROM r
              WHERE rank <= 3 ORDER BY w_start, rank""")),

    // ---- A31 per-group Gini concentration -----------------------------
    // Rank-formula Gini of l_extendedprice per returnflag via
    // Ranks.giniByGroup: the within-group index rides ONE distributed
    // range-partitioned global row number (no single-task window even
    // for a dominant group); exact-decimal Σx and Σi·x + one fixed IEEE
    // expression → full hash oracle.
    Q("a31_gini",
      (s, d) => graft.operators.Ranks.giniByGroup(
          load(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice"),
              (col("l_orderkey") * 10 + col("l_linenumber")).as("tie")),
          "l_returnflag", "l_extendedprice", "tie")
        .orderBy("l_returnflag"),
      Some(s"""WITH s AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                                 l_orderkey * 10 + l_linenumber AS tie
                          FROM lineitem),
                    r AS (SELECT g, v, row_number() OVER
                            (PARTITION BY g ORDER BY v, tie) AS i FROM s),
                    a AS (SELECT g, CAST(count(*) AS DOUBLE) AS n,
                                 ${sqlDsum("v")} AS sx,
                                 ${sqlDsum("i * v")} AS six
                          FROM r GROUP BY g)
               SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
                      (2.0 * six - (n + 1.0) * sx) / (n * sx) AS gini
               FROM a ORDER BY l_returnflag""")),

    // ---- A35 RFM customer segmentation --------------------------------
    // Recency (last order epoch-day), frequency (order count), monetary
    // (exact-decimal spend) per customer, each coded 1-4 by its exact
    // quartile thresholds from Ranks.quantileSelect (integer target
    // ranks, distributed rank — no single-task window). The code is
    // 1 + Σ 1{v > thr_q}: pure comparisons against broadcast literals,
    // hash-exact. Recency codes 4 = most recent (higher day = better).
    Q("a35_rfm",
      (s, d) => {
        import graft.operators.Ranks.quantileSelect
        // pinned (r17): the per-customer frame feeds three EAGER
        // quantileSelect calls (each fills its own internal projection
        // cache from this subtree) plus the graded projection — four
        // executions of the orders scan + groupBy unpinned. Leased so
        // the cache survives until the caller materializes the lazy
        // graded frame; harnesses drain it per query.
        val per = graft.util.QueryLeases.leased(load(s, d, "orders")
          .groupBy(col("o_custkey").as("cust"))
          .agg(max(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
              .cast("double").as("r"),
            count(lit(1)).cast("double").as("f"),
            dsum(col("o_totalprice")).as("m"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        def codes(vCol: String): Column = {
          val q = quantileSelect(per, vCol, "cust", Seq(2500, 5000, 7500))
          lit(1) + (col(vCol) > lit(q(2500))).cast("int") +
            (col(vCol) > lit(q(5000))).cast("int") +
            (col(vCol) > lit(q(7500))).cast("int")
        }
        per.select(col("cust"), col("r"), col("f"), col("m"),
            codes("r").as("r_code"), codes("f").as("f_code"),
            codes("m").as("m_code"))
          .orderBy("cust")
      },
      Some(s"""WITH per AS (SELECT o_custkey AS cust,
                      CAST(max(epoch_us(o_orderdate) // 86400000000) AS DOUBLE)
                        AS r,
                      CAST(count(*) AS DOUBLE) AS f,
                      ${sqlDsum("o_totalprice")} AS m
                    FROM orders GROUP BY o_custkey),
                rk AS (SELECT per.*,
                         row_number() OVER (ORDER BY r, cust) AS rr,
                         row_number() OVER (ORDER BY f, cust) AS rf,
                         row_number() OVER (ORDER BY m, cust) AS rm,
                         count(*) OVER () AS n
                       FROM per),
                th AS (SELECT
                         max(CASE WHEN rr = (2500 * n + 9999) // 10000
                             THEN r END) AS r25,
                         max(CASE WHEN rr = (5000 * n + 9999) // 10000
                             THEN r END) AS r50,
                         max(CASE WHEN rr = (7500 * n + 9999) // 10000
                             THEN r END) AS r75,
                         max(CASE WHEN rf = (2500 * n + 9999) // 10000
                             THEN f END) AS f25,
                         max(CASE WHEN rf = (5000 * n + 9999) // 10000
                             THEN f END) AS f50,
                         max(CASE WHEN rf = (7500 * n + 9999) // 10000
                             THEN f END) AS f75,
                         max(CASE WHEN rm = (2500 * n + 9999) // 10000
                             THEN m END) AS m25,
                         max(CASE WHEN rm = (5000 * n + 9999) // 10000
                             THEN m END) AS m50,
                         max(CASE WHEN rm = (7500 * n + 9999) // 10000
                             THEN m END) AS m75
                       FROM rk)
               SELECT per.cust, per.r, per.f, per.m,
                      1 + CAST(per.r > th.r25 AS INTEGER)
                        + CAST(per.r > th.r50 AS INTEGER)
                        + CAST(per.r > th.r75 AS INTEGER) AS r_code,
                      1 + CAST(per.f > th.f25 AS INTEGER)
                        + CAST(per.f > th.f50 AS INTEGER)
                        + CAST(per.f > th.f75 AS INTEGER) AS f_code,
                      1 + CAST(per.m > th.m25 AS INTEGER)
                        + CAST(per.m > th.m50 AS INTEGER)
                        + CAST(per.m > th.m75 AS INTEGER) AS m_code
               FROM per, th ORDER BY per.cust""")),

    // ---- A32 association rules (market-basket co-occurrence) ----------
    // Orders are baskets, part-key buckets the items; pairwise support /
    // confidence / lift via Association.rules. The only quadratic
    // surface is the per-basket self-join (size-bounded); counts are
    // exact integers and ratios single IEEE divides → full hash oracle.
    Q("a32_association",
      (s, d) => graft.operators.Association.rules(
          load(s, d, "lineitem")
            .select(col("l_orderkey"), (col("l_partkey") % 50).as("item")),
          "l_orderkey", "item", minPairCount = 5)
        .orderBy("item_a", "item_b"),
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS b,
                                 l_partkey % 50 AS i FROM lineitem),
                   nb AS (SELECT count(DISTINCT b) AS n_baskets FROM it),
                   ic AS (SELECT i, count(*) AS cnt FROM it GROUP BY i),
                   pr AS (SELECT a.i AS item_a, b.i AS item_b,
                                 count(*) AS n_pair
                          FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
                          GROUP BY 1, 2 HAVING count(*) >= 5)
              SELECT pr.item_a, pr.item_b, pr.n_pair,
                     ca.cnt AS cnt_a, cb.cnt AS cnt_b, nb.n_baskets,
                     CAST(pr.n_pair AS DOUBLE) / CAST(ca.cnt AS DOUBLE)
                       AS conf_a_b,
                     CAST(pr.n_pair AS DOUBLE) / CAST(cb.cnt AS DOUBLE)
                       AS conf_b_a,
                     CAST(pr.n_pair AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                       / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE))
                       AS lift
              FROM pr
              JOIN ic ca ON ca.i = pr.item_a
              JOIN ic cb ON cb.i = pr.item_b
              CROSS JOIN nb
              ORDER BY item_a, item_b"""))
  )
}
