package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling.
  *
  * Representation: media travel as opaque `BinaryType` payloads next to a
  * typed metadata struct — the layout a 100 TB training-data pipeline
  * needs (payload stays columnar in parquet, metadata prunes without
  * touching bytes):
  *
  *   media: struct<payload: binary, meta: struct<kind: string,
  *          content_type: string, n_bytes: long, checksum: string>>
  *
  * Decode/feature-extract runs as a BATCHED per-partition operator
  * ([[decodePartitions]]): rows are processed through a pluggable
  * [[MediaDecoder]] in fixed-size batches (the Scala analogue of
  * `mapInPandas` — same batch shape, same schema contract). No real
  * codec ships (it needs image/audio libraries); the
  * [[DeterministicFakeDecoder]] produces seeded pseudo-features so the
  * plumbing — schema, batching, partition parallelism — is fully
  * exercised and tested (MultimodalSuite).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType),
      StructField("content_type", StringType),
      StructField("n_bytes", LongType),
      StructField("checksum", StringType))))))

  /** Pack any binary column + kind into the canonical media struct. */
  def packMedia(payload: Column, kind: String, contentType: String): Column =
    struct(
      payload.as("payload"),
      struct(lit(kind).as("kind"), lit(contentType).as("content_type"),
        length(payload).cast("long").as("n_bytes"),
        md5(payload).as("checksum")).as("meta"))

  /** Batched decoder contract: one call per batch of payloads, returning
    * one fixed-width feature vector per payload (mapInPandas-shaped). */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    def decodeBatch(payloads: Array[Array[Byte]]): Array[Array[Float]]
  }

  /** Deterministic fake: features are a seeded hash-fold of the payload —
    * stable across runs/partitionings, so the pipeline is testable. */
  final class DeterministicFakeDecoder(val featureDim: Int) extends MediaDecoder {
    def decodeBatch(payloads: Array[Array[Byte]]): Array[Array[Float]] =
      payloads.map { bytes =>
        Array.tabulate(featureDim) { i =>
          var h = 1125899906842597L + i * 2654435761L
          var j = 0
          while (j < bytes.length) { h = 31 * h + bytes(j); j += 1 }
          ((h % 2000003L).toFloat / 2000003.0f)
        }
      }
  }

  /** Per-partition batched decode: appends `features: array<float>`.
    * Batching bounds peak memory per task (batchSize × payload size) —
    * the knob a real codec needs for GPU/vectorized handoff. */
  def decodePartitions(df: DataFrame, payloadCol: String,
                       decoder: MediaDecoder,
                       batchSize: Int = 64): DataFrame = {
    // named at construction, not an opaque Iterator.grouped failure
    // mid-job (r15 review)
    require(batchSize > 0, s"decodePartitions: batchSize=$batchSize " +
      "must be positive")
    // named at construction, not a ClassCastException deep inside
    // mapPartitions — passing the canonical media STRUCT instead of its
    // payload field is the easy mistake here (r16 review)
    require(df.schema(payloadCol).dataType ==
        org.apache.spark.sql.types.BinaryType,
      s"decodePartitions: column '$payloadCol' must be binary (the " +
        s"payload bytes), got " +
        s"${df.schema(payloadCol).dataType.simpleString} — pass the " +
        "payload field, not the media struct")
    val schema = df.schema.add("features", ArrayType(FloatType))
    val idx = df.schema.fieldIndex(payloadCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val payloads = batch.map { r =>
          val v = r.get(idx)
          // a NULL payload is MISSING media, not zero-byte media — a
          // silent Array.empty coercion would hand the decoder a
          // plausible empty clip and fabricate real-looking features
          // for it (r16 review; the loud-failure discipline of every
          // operator here)
          if (v == null) throw new IllegalArgumentException(
            s"decodePartitions: NULL payload in '$payloadCol' — missing " +
              "media must be filtered (or imputed) upstream; decoding " +
              "it would fabricate features indistinguishable from a " +
              "real zero-byte payload's")
          v.asInstanceOf[Array[Byte]]
        }.toArray
        val feats = decoder.decodeBatch(payloads)
        // a decoder returning a short (or long) batch would otherwise
        // truncate silently through the zip — the last rows of every
        // batch vanishing from the output is exactly the silent-row-
        // loss class this engine raises on (r15 review)
        require(feats.length == payloads.length,
          s"decodePartitions: decoder returned ${feats.length} feature " +
            s"vectors for a batch of ${payloads.length} payloads — " +
            "MediaDecoder.decodeBatch must be 1:1 with its input")
        batch.iterator.zip(feats.iterator).map { case (r, f) =>
          Row.fromSeq(r.toSeq :+ f.toSeq)
        }
      }
    }(enc)
  }

  /** Frame-sampling stub for video payloads: selects deterministic byte
    * offsets standing in for frame indices (a real implementation would
    * demux containers; the SAMPLING geometry — every k-th frame, capped —
    * is the part that matters for pipeline shape). An EMPTY payload
    * samples zero frames (a phantom offset-0 frame would send a decoder
    * out of range), and the stop bound is pre-capped at
    * everyK·(maxFrames−1) so the plan allocates at most `maxFrames`
    * elements per row instead of materializing the full stride sequence
    * of a large payload and slicing it. */
  def sampleFrameOffsets(nBytes: Column, everyK: Int, maxFrames: Int): Column =
    // the win = 1 case of the strided framing plan: every offset where
    // at least one byte remains, stride everyK, same cap discipline
    stftFrameOffsets(nBytes, win = 1, hop = everyK, maxFrames = maxFrames)

  /** STFT-style audio framing plan: the window-start offsets for
    * framing a clip of `nSamples` samples into `win`-sample windows at
    * `hop`-sample stride (the librosa/Kaldi center=False convention:
    * frame i covers [i·hop, i·hop + win), only complete windows
    * emitted), capped at `maxFrames`. The mel/FFT transform itself is
    * decoder-side (the [[MediaDecoder]] contract); this is the
    * geometry a pipeline plans batch shapes and padding with. A clip
    * shorter than one window frames to ZERO windows (a phantom partial
    * frame would send the transform out of range), and the stop bound
    * is pre-capped at hop·(maxFrames−1) so the plan allocates at most
    * `maxFrames` elements per row — the mm05 allocation discipline. */
  def stftFrameOffsets(nSamples: Column, win: Int, hop: Int,
                       maxFrames: Int): Column = {
    require(win > 0 && hop > 0 && maxFrames > 0,
      s"win=$win, hop=$hop, maxFrames=$maxFrames must be positive")
    when(nSamples >= win,
      sequence(lit(0L),
        least(nSamples - lit(win.toLong),
          lit(hop.toLong * (maxFrames - 1))),
        lit(hop.toLong)))
      .otherwise(typedLit(Seq.empty[Long]))
  }

  /** Resize GEOMETRY for image payloads: aspect-preserving target
    * dimensions with the long side capped at `maxDim`, half-up rounded,
    * floored at 1 px, and never upscaled. The pixel resample itself is
    * decoder-side (see [[MediaDecoder]]); this is the metadata half a
    * pipeline plans partitioning and batch shapes with. Pure column
    * arithmetic — every op is exactly-rounded IEEE, so the plan is
    * bit-identical across engines. */
  def resizeDims(w: Column, h: Column, maxDim: Int): Column = {
    require(maxDim >= 1, s"resizeDims: maxDim=$maxDim must be >= 1")
    // same loud-dimension contract as aspectBuckets: Spark's
    // greatest()/least() SKIP NULLs, so an unguarded NULL width would
    // flow through to a plausible (1, h) plan — fabricated geometry for
    // an image whose size is unknown (r16 review)
    val wG = guardDim(w, "width", "input", "resizeDims")
    val hG = guardDim(h, "height", "input", "resizeDims")
    val scale = least(lit(1.0),
      lit(maxDim.toDouble) / greatest(wG, hG).cast("double"))
    struct(
      greatest(floor(wG.cast("double") * scale + 0.5), lit(1L))
        .cast("long").as("w"),
      greatest(floor(hG.cast("double") * scale + 0.5), lit(1L))
        .cast("long").as("h"))
  }

  /** The one NULL / non-positive image-dimension guard every geometry
    * operator here applies: NULLs would rank first in an argmin window
    * or be skipped by greatest/least, and non-positive dims make ratios
    * NULL (Spark division) — all silent-wrong routes. Raises with the
    * operator and column named. */
  private def guardDim(c: Column, kind: String, desc: String,
                       fn: String): Column =
    when(c.isNull,
      raise_error(lit(s"$fn: NULL in $kind $desc")))
      .when(c <= 0, raise_error(concat(
        lit(s"$fn: non-positive $kind $desc: "), c.cast("string"))))
      .otherwise(c)

  /** ViT-style patch-grid plan: how a (w × h) image tiles into
    * `patch`-pixel squares — ceil-divided patch counts, the padded
    * canvas that makes the tiling exact, and the transformer sequence
    * length (patches + 1 CLS token). Pure integer arithmetic (ceil via
    * `(x + p − 1) div p`), so the plan is engine-exact; the pixel-level
    * patch extraction follows the decoder batching contract
    * ([[decodePartitions]]) once a codec is present. */
  def patchGrid(w: Column, h: Column, patch: Int): Column = {
    require(patch > 0, s"patch size must be positive, got $patch")
    val p = lit(patch.toLong)
    // integer ceil-div without Column `/` (which is double division):
    // subtract the remainder first, so the divide is exact
    def ceilDiv(a: Column): Column = {
      val x = a.cast("long") + p - lit(1L)
      ((x - pmod(x, p)) / p).cast("long")
    }
    val nx = ceilDiv(w)
    val ny = ceilDiv(h)
    struct(
      nx.as("n_x"), ny.as("n_y"),
      (nx * ny).as("n_patches"),
      (nx * p).as("pad_w"), (ny * p).as("pad_h"),
      (nx * ny + lit(1L)).as("seq_len"))
  }

  /** Aspect-ratio bucketing census (the NovelAI/SDXL batch-assembly
    * technique: group images of similar aspect so a batch crops/pads
    * minimally). Each image goes to the bucket minimizing
    * |w/h − bw/bh| (ties to the lower bucket id); the census reports
    * per-bucket image counts and the summed assignment drift,
    * 2⁻²⁰-quantized per image BEFORE the sum (the t27 convention) so
    * the aggregate is an exact integer. Every bucket emits its grid
    * row even when empty.
    *
    * Float parity: w/h and bw/bh are single IEEE divisions of exact
    * integers, the difference and abs are single correctly-rounded
    * ops, so the argmin ranking and the quantized drift replay in any
    * ANSI engine.
    *
    * Scale shape: the |buckets|-way compare rides a broadcast cross
    * join (|buckets| is a literal constant ≤ a few dozen) + a doc-keyed
    * window argmin, then ONE partial-aggregable pass to |buckets|
    * rows. */
  def aspectBuckets(df: DataFrame, idCol: String, wCol: String,
                    hCol: String, buckets: Seq[(Int, Int)],
                    quantum: Double = 1048576.0): DataFrame = {
    require(buckets.nonEmpty, "aspectBuckets: need at least one bucket")
    // a bh = 0 bucket makes its ratio NULL under Spark's non-ANSI
    // division, and NULL ranks FIRST in the argmin window — every image
    // would silently land in the degenerate bucket with drift 0 (r16
    // review)
    val bad = buckets.zipWithIndex.filter { case ((bw, bh), _) =>
      bw <= 0 || bh <= 0
    }
    require(bad.isEmpty,
      "aspectBuckets: bucket dimensions must be positive, got " +
        bad.map { case ((bw, bh), i) => s"bucket $i = ($bw, $bh)" }
          .mkString(", "))
    val spark = df.sparkSession
    import spark.implicits._
    val b = buckets.zipWithIndex
      .map { case ((bw, bh), i) => (i, bw, bh) }
      .toDF("bucket_id", "bw", "bh")
    // a NULL dimension would rank first in the argmin window (NULLS
    // FIRST under asc) — fail loudly instead (the thresholdSweep/
    // shardCensus NULL convention). A non-positive h would make the
    // ratio NULL under Spark division — same silent argmin corruption
    // route, same raise.
    val wG = guardDim(col(wCol), "width", s"column '$wCol'",
      "aspectBuckets")
    val hG = guardDim(col(hCol), "height", s"column '$hCol'",
      "aspectBuckets")
    val diff = abs(wG.cast("double") / hG.cast("double")
      - col("bw").cast("double") / col("bh").cast("double"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__diff").asc, col("bucket_id").asc)
    // a duplicate id would make the argmin keep ONE row for several
    // input images, silently under-counting the census — detect it on
    // the same partitioning the window already shuffles by
    val cnt = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val assigned = df.crossJoin(broadcast(b))
      .withColumn("__diff", diff)
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__rk", row_number().over(win))
      .filter(when(col("__n") > lit(buckets.size),
        raise_error(concat(lit(s"aspectBuckets: duplicate id in " +
          s"'$idCol': "), col(idCol).cast("string"))))
        .otherwise(col("__rk") === 1))
    val census = assigned.groupBy("bucket_id")
      .agg(count(lit(1)).as("n_images"),
        sum(floor(col("__diff") * lit(quantum) + lit(0.5)).cast("long"))
          .as("drift_q"))
    b.join(census, Seq("bucket_id"), "left")
      .na.fill(0L, Seq("n_images", "drift_q"))
      .select("bucket_id", "bw", "bh", "n_images", "drift_q")
      .orderBy("bucket_id")
  }
}
