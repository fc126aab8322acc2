package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSuite extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma"), (2L, "delta"), (3L, ""), (4L, "epsilon zeta"),
    (5L, "eta theta iota kappa"), (6L, "lambda"), (7L, "mu nu"), (8L, "xi")
  ).toDF("doc_id", "text")
    .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  test("packMedia carries payload + typed metadata") {
    val m = docs.select(Multimodal.packMedia(col("payload"), "text",
      "text/plain").as("media"))
    val r = m.select(col("media.meta.kind"), col("media.meta.n_bytes"),
      col("media.meta.checksum")).head()
    assert(r.getString(0) === "text")
    assert(r.getLong(1) === "alpha beta gamma".getBytes.length.toLong)
    assert(r.getString(2).length === 32)
  }

  test("batched decode: every row gets a feature vector of the right dim") {
    val out = Multimodal.decodePartitions(docs, "payload",
      new Multimodal.DeterministicFakeDecoder(4), batchSize = 3)
    val rows = out.select(col("doc_id"), size(col("features")))
      .as[(Long, Int)].collect().toMap
    assert(rows.size === 8)
    assert(rows.values.forall(_ === 4))
  }

  test("decode is deterministic across batch sizes and partitionings") {
    def run(parts: Int, batch: Int) =
      Multimodal.decodePartitions(docs.repartition(parts), "payload",
          new Multimodal.DeterministicFakeDecoder(4), batchSize = batch)
        .select(col("doc_id"), col("features"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(run(1, 64) === run(4, 2))
  }

  test("decode fails LOUDLY on a decoder that is not 1:1 with its " +
    "batch, and on a non-positive batchSize (r15 review)") {
    // a short-returning decoder used to truncate the last row of every
    // batch silently through the zip
    val short = new Multimodal.MediaDecoder {
      def featureDim: Int = 1
      def decodeBatch(payloads: Array[Array[Byte]]): Array[Array[Float]] =
        payloads.drop(1).map(_ => Array(1.0f))
    }
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodePartitions(docs.repartition(1), "payload", short,
        batchSize = 4).count()
    }
    assert(ex.getMessage.contains("must be 1:1") ||
      Option(ex.getCause).exists(_.getMessage.contains("must be 1:1")))
    val bad = intercept[IllegalArgumentException] {
      Multimodal.decodePartitions(docs, "payload",
        new Multimodal.DeterministicFakeDecoder(4), batchSize = 0)
    }
    assert(bad.getMessage.contains("batchSize"))
  }

  test("frame-offset sampling: every k-th offset, capped, zero frames " +
      "for empty payloads, bounded allocation") {
    def offs(n: Long) = spark.range(1).select(Multimodal.sampleFrameOffsets(
      lit(n), everyK = 10, maxFrames = 5).as("o")).as[Seq[Long]].head()
    assert(offs(100L) === Seq(0L, 10L, 20L, 30L, 40L))
    assert(offs(35L) === Seq(0L, 10L, 20L, 30L))
    assert(offs(1L) === Seq(0L))
    assert(offs(0L) === Seq.empty) // no phantom frame in a 0-byte payload
    // a huge payload still gets exactly maxFrames offsets (the stop is
    // pre-capped — the sequence never materializes n/k elements)
    assert(offs(1000000L) === Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("resize plan: caps the long side, preserves aspect, never " +
      "upscales, floors at 1px") {
    val cases = Seq(
      (1920L, 1080L), // downscale, landscape
      (1080L, 1920L), // downscale, portrait
      (400L, 300L),   // under the cap: unchanged
      (512L, 512L),   // exactly at cap: unchanged
      (10000L, 3L))   // extreme ratio: short side floors at 1
    val out = cases.toDF("w", "h")
      .select(col("w"), col("h"),
        Multimodal.resizeDims(col("w"), col("h"), 512).as("o"))
      .select(col("w"), col("h"), col("o.w").as("ow"), col("o.h").as("oh"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    out.foreach { case (w, h, ow, oh) =>
      assert(math.max(ow, oh) <= 512, s"($w,$h)->($ow,$oh) exceeds cap")
      assert(ow <= w && oh <= h, s"($w,$h)->($ow,$oh) upscaled")
      assert(ow >= 1 && oh >= 1, s"($w,$h)->($ow,$oh) collapsed")
      if (math.max(w, h) > 512) {
        // aspect preserved within half-up rounding of the scaled side
        val scale = 512.0 / math.max(w, h)
        assert(ow == math.max(1L, math.floor(w * scale + 0.5).toLong))
        assert(oh == math.max(1L, math.floor(h * scale + 0.5).toLong))
      } else assert(ow == w && oh == h, "under-cap dims must not change")
    }
  }

  test("patch grid: ceil-divided counts, exact padded canvas, +CLS " +
      "sequence length") {
    val cases = Seq((512L, 512L), (511L, 1L), (17L, 16L), (16L, 16L))
    val out = cases.toDF("w", "h")
      .select(col("w"), col("h"),
        Multimodal.patchGrid(col("w"), col("h"), 16).as("g"))
      .select(col("w"), col("h"), col("g.n_x"), col("g.n_y"),
        col("g.n_patches"), col("g.pad_w"), col("g.pad_h"), col("g.seq_len"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    assert(out((512L, 512L)) === ((32L, 32L, 1024L, 512L, 512L, 1025L)))
    assert(out((511L, 1L)) === ((32L, 1L, 32L, 512L, 16L, 33L)))
    assert(out((17L, 16L)) === ((2L, 1L, 2L, 32L, 16L, 3L)))
    assert(out((16L, 16L)) === ((1L, 1L, 1L, 16L, 16L, 2L)))
  }

  test("stftFrameOffsets: complete 256/128 windows only, zero frames " +
      "below one window, capped at maxFrames") {
    import spark.implicits._
    val out = Seq(255L, 256L, 383L, 384L, 512L, 10000L).toDF("n")
      .select(col("n"), Multimodal.stftFrameOffsets(col("n"), win = 256,
        hop = 128, maxFrames = 12).as("offs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(255L) == Seq())               // shorter than one window
    assert(out(256L) == Seq(0L))             // exactly one window
    assert(out(383L) == Seq(0L))             // second window incomplete
    assert(out(384L) == Seq(0L, 128L))       // 384 = 256 + 128
    assert(out(512L) == Seq(0L, 128L, 256L)) // last start = n - win
    assert(out(10000L).size == 12 &&         // cap, stride intact
      out(10000L) == (0 until 12).map(_ * 128L))
  }

  test("aspectBuckets: exact-ratio images land on their bucket with " +
      "zero drift, ties break low, empty buckets emit grid rows") {
    val buckets = for { i <- 0 until 5; j <- 0 until 5 }
      yield (512 + 128 * i, 512 + 128 * j)
    // 600x600 (ar 1.0) ties across all five square buckets -> id 0;
    // 1024x512 (ar 2.0) matches bucket (1024, 512) = id 20 exactly
    val df = Seq((1L, 600, 600), (2L, 1024, 512)).toDF("id", "w", "h")
    val out = Multimodal.aspectBuckets(df, "id", "w", "h", buckets)
      .as[(Int, Int, Int, Long, Long)].collect().toSeq
    assert(out.size == 25 && out.map(_._1) == (0 until 25))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(0) == ((0, 512, 512, 1L, 0L)))
    assert(byId(20) == ((20, 1024, 512, 1L, 0L)))
    assert(out.map(_._4).sum == 2L) // nothing double-assigned
    // duplicate ids would silently under-count the census — raise
    val dup = Seq((7L, 600, 600), (7L, 1024, 512)).toDF("id", "w", "h")
    val e = intercept[Exception] {
      Multimodal.aspectBuckets(dup, "id", "w", "h", buckets).collect()
    }
    assert(e.getMessage.contains("duplicate id"), e.getMessage)
  }

  test("aspectBuckets: a NULL dimension raises, naming the column") {
    // the window would rank a NULL first (bucket 0)
    val buckets = Seq((512, 512), (1024, 512))
    val nullW = Seq((1L, Option(600), Option(600)),
      (2L, None: Option[Int], Option(512))).toDF("id", "w", "h")
    val e1 = intercept[Exception] {
      Multimodal.aspectBuckets(nullW, "id", "w", "h", buckets).collect()
    }
    assert(e1.getMessage.contains("NULL in width"), e1.getMessage)
    val nullH = Seq((1L, Option(600), None: Option[Int]))
      .toDF("id", "w", "h")
    val e3 = intercept[Exception] {
      Multimodal.aspectBuckets(nullH, "id", "w", "h", buckets).collect()
    }
    assert(e3.getMessage.contains("NULL in height"), e3.getMessage)
  }

  test("r16 guards: degenerate buckets, NULL payloads, wrong payload " +
      "type, and NULL resize dims all fail NAMED instead of silently") {
    // a (512, 0) bucket: Spark division makes its ratio NULL, NULL
    // ranks first in the argmin — every image silently lands there
    val dims = Seq((1L, 600, 400)).toDF("id", "w", "h")
    val badBuckets = Seq((512, 512), (512, 0))
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.aspectBuckets(dims, "id", "w", "h", badBuckets)
    }
    assert(e1.getMessage.contains("bucket 1 = (512, 0)"), e1.getMessage)
    // NULL payload = MISSING media: must not fabricate features
    val nullPay = Seq((1L, Option(Array[Byte](1, 2))),
      (2L, None: Option[Array[Byte]])).toDF("id", "payload")
    val e3 = intercept[Exception] {
      Multimodal.decodePartitions(nullPay, "payload",
        new Multimodal.DeterministicFakeDecoder(4)).collect()
    }
    def chain(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    assert(chain(e3).contains("NULL payload"), chain(e3))
    // wrong column type names itself at construction, not a mid-job CCE
    val structCol = nullPay.select(col("id"),
      struct(col("payload")).as("media"))
    val e4 = intercept[IllegalArgumentException] {
      Multimodal.decodePartitions(structCol, "media",
        new Multimodal.DeterministicFakeDecoder(4))
    }
    assert(e4.getMessage.contains("must be binary"), e4.getMessage)
    // NULL resize dims raise (greatest/least would SKIP the null and
    // fabricate a plausible 1-px plan)
    val nullW = Seq((None: Option[Int], Option(100))).toDF("w", "h")
    val e5 = intercept[Exception] {
      nullW.select(Multimodal.resizeDims(col("w"), col("h"), 512)).collect()
    }
    assert(chain(e5).contains("NULL in width"), chain(e5))
    val e6 = intercept[IllegalArgumentException] {
      Multimodal.resizeDims(col("w"), col("h"), 0)
    }
    assert(e6.getMessage.contains("maxDim"), e6.getMessage)
  }
}
