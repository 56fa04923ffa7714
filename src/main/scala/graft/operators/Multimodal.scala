package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Multimodal-column operators (builder mandate: image/audio/video as
  * opaque binary columns with typed metadata).
  *
  * The container has no media codecs, so the DECODE step is a clearly
  * marked deterministic stub ([[MediaCodecStub]]) — but everything
  * around it is real and tested: a REAL parquet BINARY column staged on
  * disk (r10 — previously `text.cast("binary")`, whose parity argument
  * held only because the corpus was pure ASCII), a typed
  * `Dataset[MediaIn]` feeding `mapPartitions` (the Scala analog of
  * `mapInPandas`: one iterator per partition = one batch per task,
  * decoder state amortized across the partition), and a flatMap frame
  * extractor.
  *
  * THE BINARY FIXTURE. Payload bytes are the md5 digests of successive
  * 32-char text chunks, concatenated and `unhex`ed:
  * `payload = unhex(md5(text[0:32]) || md5(text[32:64]) || …)`. That
  * gives (a) a genuine `BinaryType` column whose bytes cover the full
  * 0x00–0xFF range — ~half of all payload bytes are ≥ 0x80, so nothing
  * downstream can survive by treating bytes as ASCII text (graded by
  * `mm_payload_stats`, spec-pinned); (b) content LOCALITY — near-dup
  * docs sharing aligned 128-char windows produce byte-identical 64-byte
  * frames, which is what `mm_dedup_frames` needs to mean something; and
  * (c) an exact DuckDB oracle: DuckDB's `md5` only accepts VARCHAR, so
  * the oracle rebuilds the digest hex string from `documents.text` and
  * reads byte j as `CAST('0x' || substr(hx, 2j+1, 2) AS INT)` — pure
  * byte-level arithmetic, no ASCII assumption anywhere.
  *
  * Scale posture: decode is embarrassingly parallel over partitions —
  * no shuffle at all; at 100 TB the only knob is input split size
  * (`spark.sql.files.maxPartitionBytes`) and the stub swap-in of a real
  * codec. The staging write models the loader boundary: blobs land in
  * parquet/Lance-style files once, every downstream pass scans the
  * BINARY column.
  */
object Multimodal {

  /** Opaque media record: what a real pipeline would read from a blob
    * store — an id plus raw bytes. */
  case class MediaIn(doc_id: Long, payload: Array[Byte])

  case class MediaMeta(doc_id: Long, n_bytes: Int, format: String,
      width: Int, height: Int, n_frames: Int)

  case class MediaFrame(doc_id: Long, frame_idx: Int, frame_md5: String)

  /** ??? -- REAL CODEC GOES HERE. Deterministic fake decode in lieu of
    * image/audio libs (not in this container): metadata is pure
    * arithmetic over the payload BYTES (read from the BINARY column,
    * values 0x00–0xFF — no text detour), so the oracle can mirror it
    * from the hex construction. */
  object MediaCodecStub {
    def decode(m: MediaIn): MediaMeta = {
      val n = m.payload.length // ≥ 16 by construction (≥ 1 digest block)
      val b0 = m.payload(0) & 0xff
      val b1 = if (n > 1) m.payload(1) & 0xff else b0
      MediaMeta(m.doc_id, n,
        format = (n % 3) match { case 0 => "img"; case 1 => "audio"; case _ => "video" },
        width = (b0 % 64) * 16 + 64,
        height = (b1 % 64) * 9 + 36,
        n_frames = n % 30 + 1)
    }

    private def hexOf(bytes: Array[Byte], from: Int, len: Int): String = {
      val sb = new java.lang.StringBuilder(len * 2)
      var j = from
      while (j < from + len) { sb.append(f"${bytes(j) & 0xff}%02x"); j += 1 }
      sb.toString
    }

    /** Frame extraction stub: 64-byte chunks, every 4th kept. The frame
      * hash is md5 over the chunk's lowercase-hex rendering (not the
      * raw bytes) because DuckDB's md5 is VARCHAR-only — the hex detour
      * keeps the oracle exact while the input is still the real binary
      * payload. */
    def sampleFrames(m: MediaIn): Iterator[MediaFrame] = {
      val full = m.payload.length / 64
      Iterator.range(0, full).filter(_ % 4 == 0).map { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(hexOf(m.payload, i * 64, 64)
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        MediaFrame(m.doc_id, i, md.map("%02x".format(_)).mkString)
      }
    }
  }

  /** The digest-chain payload as a Catalyst expression over `text` —
    * used once, at staging time. `greatest(1, …)` keeps an empty text
    * on the one-block path (md5 of "" — still 16 real bytes). */
  private[graft] def payloadExpr: Column =
    expr("""unhex(array_join(transform(
      sequence(0, cast(greatest(1, (length(text) + 31) div 32) as int) - 1),
      i -> md5(substring(text, i * 32 + 1, 32))), ''))""")

  /** The media table: `doc_id` + a REAL parquet BINARY payload column,
    * staged once per (process, sfDir) through [[graft.util.Built.dir]]
    * and read back from disk — every mm_ key scans the binary file
    * exactly as a production loader would, instead of re-deriving bytes
    * in-plan. Two keys racing the first stage wait on one write. */
  private[graft] def mediaIn(spark: SparkSession, sfDir: String): Dataset[MediaIn] = {
    import spark.implicits._
    val dir = graft.util.Built.dir(s"multimodal.media:$sfDir") { d =>
      documents(spark, sfDir).select(col("doc_id"), payloadExpr.as("payload")).write.parquet(d)
    }
    graft.sources.Tables.read(spark, dir).as[MediaIn]
  }

  /** Oracle-side mirror of the staged payload: `hx` is the full digest
    * hex string (2 chars per payload byte). Every mm_ oracle splices
    * this CTE and reads bytes out of `hx` — byte j is
    * `'0x' || substr(hx, 2j+1, 2)`. */
  private val mediaHexCteSql: String =
    """m AS (SELECT doc_id,
      |    array_to_string(list_transform(range(0, GREATEST(1, (length(text) + 31) // 32)),
      |      i -> md5(substr(text, CAST(i * 32 + 1 AS INT), 32))), '') AS hx
      |  FROM documents)""".stripMargin

  /** The decode-meta columns from `hx` (width/height from the first two
    * payload bytes) — shared by every metadata-consuming oracle. */
  private val mediaMetaCteSql: String =
    s"""$mediaHexCteSql,
       |meta AS (SELECT doc_id,
       |    CAST(length(hx) // 2 AS INT) AS n_bytes,
       |    CASE (length(hx) // 2) % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
       |    (CAST('0x' || substr(hx, 1, 2) AS INT) % 64) * 16 + 64 AS width,
       |    (CAST('0x' || substr(hx, 3, 2) AS INT) % 64) * 9 + 36 AS height,
       |    CAST((length(hx) // 2) % 30 + 1 AS INT) AS n_frames
       |  FROM m)""".stripMargin

  /** Binary payload → typed metadata via per-partition batch decode. */
  def mmDecodeMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .mapPartitions(_.map(MediaCodecStub.decode))
      .toDF()
      .orderBy("doc_id")
  }

  val mmDecodeMetaOracle: String =
    s"""WITH $mediaMetaCteSql
       |SELECT doc_id, n_bytes, format, CAST(width AS INT) AS width,
       |  CAST(height AS INT) AS height, n_frames
       |FROM meta ORDER BY doc_id""".stripMargin

  /** Stub resize: cap width at 256, scale height by the same integer
    * ratio (integer math ⇒ exact oracle parity). */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .mapPartitions(_.map { m =>
        val meta = MediaCodecStub.decode(m)
        val (ow, oh) =
          if (meta.width > 256) (256, meta.height * 256 / meta.width)
          else (meta.width, meta.height)
        (meta.doc_id, meta.width, meta.height, ow, oh)
      })
      .toDF("doc_id", "width", "height", "out_w", "out_h")
      .orderBy("doc_id")
  }

  val mmResizeOracle: String =
    s"""WITH $mediaMetaCteSql
       |SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       |  CAST(CASE WHEN width > 256 THEN 256 ELSE width END AS INT) AS out_w,
       |  CAST(CASE WHEN width > 256 THEN height * 256 // width ELSE height END AS INT) AS out_h
       |FROM meta ORDER BY doc_id""".stripMargin

  /** Stub feature extraction: 8-bin byte histogram, normalized. */
  def mmFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .mapPartitions(_.map { m =>
        val bins = new Array[Int](8)
        m.payload.foreach(b => bins((b & 0xff) % 8) += 1)
        val n = m.payload.length.toDouble // ≥ 16 by construction
        (m.doc_id, bins(0) / n, bins(1) / n, bins(2) / n, bins(3) / n,
          bins(4) / n, bins(5) / n, bins(6) / n, bins(7) / n)
      })
      .toDF("doc_id", "r0", "r1", "r2", "r3", "r4", "r5", "r6_", "r7")
      .select(col("doc_id") +: (Seq("r0", "r1", "r2", "r3", "r4", "r5", "r6_", "r7")
        .map(c => r6(col(c)).as(c))): _*)
      .orderBy("doc_id")
  }

  val mmFeaturesOracle: String = {
    val bins = (0 to 7).map { j =>
      val name = if (j == 6) "r6_" else s"r$j"
      s"ROUND(CAST(len(list_filter(codes, c -> c % 8 = $j)) AS DOUBLE) / len(codes), 6) AS $name"
    }.mkString(",\n|  ")
    s"""WITH $mediaHexCteSql,
       |d AS (SELECT doc_id,
       |    list_transform(range(0, length(hx) // 2),
       |      j -> CAST('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2) AS INT)) AS codes
       |  FROM m)
       |SELECT doc_id,
       |  $bins
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Frame sampling: flatMap — one input row explodes to the sampled
    * frame rows (typed generator shape). */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .flatMap(MediaCodecStub.sampleFrames)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** A 64-byte payload frame is 128 hex chars of `hx`; the per-row
    * range mirrors the Spark side's unbounded `payload.length / 64` —
    * no fixed cap, so the oracle holds at any document length. */
  val mmFrameSampleOracle: String =
    s"""WITH $mediaHexCteSql
       |SELECT doc_id, CAST(idx AS INT) AS frame_idx,
       |  md5(substr(hx, CAST(idx * 128 + 1 AS INT), 128)) AS frame_md5
       |FROM (SELECT doc_id, hx, unnest(range(0, (length(hx) // 2) // 64)) AS idx FROM m)
       |WHERE idx % 4 = 0
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** MEDIA DEDUP BY SHARED FRAMES — the multimodal analog of document
    * near-dup: two videos are near-identical when they share keyframes,
    * and frame-hash matching is how media pipelines find re-encodes and
    * clipped copies without decoding full streams. The sampled frames
    * (same typed flatMap as `mm_frame_sample`) are grouped by their
    * content hash; a hash held by ≥2 DISTINCT documents marks shared
    * footage. The digest-chain payload preserves content locality, so
    * docs sharing an aligned 128-char text window really do share the
    * frame — the key grades a non-empty overlap at every SF. At 100 TB
    * this is one flatMap (no shuffle) + ONE shuffle keyed by the
    * 16-byte frame hash — candidate generation never compares payloads
    * pairwise, the same equi-join-only discipline as the text/vector
    * dedup family. */
  def mmDedupFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .flatMap(MediaCodecStub.sampleFrames)
      .toDF()
      .groupBy("frame_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_frames"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy("frame_md5")
  }

  /** Same cap-free per-row range as [[mmFrameSampleOracle]]. */
  val mmDedupFramesOracle: String =
    s"""WITH $mediaHexCteSql
       |SELECT frame_md5, COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_frames, MIN(doc_id) AS min_doc_id
       |FROM (
       |  SELECT doc_id, md5(substr(hx, CAST(idx * 128 + 1 AS INT), 128)) AS frame_md5
       |  FROM (SELECT doc_id, hx, unnest(range(0, (length(hx) // 2) // 64)) AS idx FROM m)
       |  WHERE idx % 4 = 0)
       |GROUP BY frame_md5 HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY frame_md5""".stripMargin

  /** PAYLOAD BYTE AUDIT — the data-proof key for the whole family
    * (r10): per stub format, doc and byte totals, how many payload
    * bytes sit in the non-ASCII 0x80–0xFF half, how many docs contain
    * NO such byte, and the min/max byte value observed. On the digest
    * fixture every doc carries high bytes (ascii_only_docs = 0) and the
    * corpus covers the full 0x00–0xFF range — the measurable refutation
    * of the r9 "parity holds because the corpus is ASCII" caveat,
    * computed by DECODING THE BINARY COLUMN byte by byte on the typed
    * mapPartitions path. One metadata-sized aggregate; zero shuffle
    * before it. */
  def mmPayloadStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .mapPartitions(_.map { m =>
        val n = m.payload.length
        var mn = 255; var mx = 0; var high = 0L
        m.payload.foreach { b =>
          val v = b & 0xff
          if (v < mn) mn = v
          if (v > mx) mx = v
          if (v >= 128) high += 1L
        }
        val fmt = (n % 3) match { case 0 => "img"; case 1 => "audio"; case _ => "video" }
        (fmt, n.toLong, high, mn, mx)
      })
      .toDF("format", "n", "high", "mn", "mx")
      .groupBy("format")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_bytes"),
        sum(col("high")).as("high_bytes"),
        sum(when(col("high") === 0L, 1L).otherwise(0L)).as("ascii_only_docs"),
        min(col("mn")).as("min_byte"), max(col("mx")).as("max_byte"))
      .orderBy("format")
  }

  val mmPayloadStatsOracle: String =
    s"""WITH $mediaHexCteSql,
       |d AS (SELECT doc_id, CAST(length(hx) // 2 AS BIGINT) AS n,
       |    list_transform(range(0, length(hx) // 2),
       |      j -> CAST('0x' || substr(hx, CAST(2 * j + 1 AS INT), 2) AS INT)) AS codes
       |  FROM m)
       |SELECT CASE n % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
       |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_bytes,
       |  CAST(SUM(len(list_filter(codes, c -> c >= 128))) AS BIGINT) AS high_bytes,
       |  CAST(SUM(CASE WHEN len(list_filter(codes, c -> c >= 128)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ascii_only_docs,
       |  CAST(MIN(list_aggregate(codes, 'min')) AS INT) AS min_byte,
       |  CAST(MAX(list_aggregate(codes, 'max')) AS INT) AS max_byte
       |FROM d GROUP BY 1 ORDER BY format""".stripMargin

  /** Letterbox geometry for a vision-model input grid. */
  case class LetterboxPlan(doc_id: Long, width: Int, height: Int,
      out_w: Int, out_h: Int, pad_x: Int, pad_y: Int)

  /** LETTERBOX PLANNING — the aspect-preserving resize+pad every
    * vision-model loader performs (fit into 224×224, pad the short
    * side): scale = 224/max(w,h) applied in EXACT integer arithmetic
    * (`(h*224) div w` — positive operands, so Scala truncation and
    * DuckDB floor-div agree), symmetric padding halves likewise. Runs
    * on the typed mapPartitions decode path like the rest of the mm
    * family — per-partition batch, zero shuffle; at 100 TB this plan
    * column rides next to the binary payload into the GPU loader's
    * shard files. Invariant graded by the oracle and pinned in spec:
    * max(out_w, out_h) == 224 and out + 2·pad never exceeds the grid. */
  def mmLetterboxPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaIn(spark, sfDir)
      .mapPartitions(_.map { m =>
        val meta = MediaCodecStub.decode(m)
        val (w, h) = (meta.width, meta.height)
        val (ow, oh) =
          if (w >= h) (224, h * 224 / w) else (w * 224 / h, 224)
        LetterboxPlan(m.doc_id, w, h, ow, oh, (224 - ow) / 2, (224 - oh) / 2)
      })
      .toDF()
      .orderBy("doc_id")
  }

  val mmLetterboxPlanOracle: String =
    s"""WITH $mediaMetaCteSql,
       |p AS (SELECT doc_id, width, height,
       |    CASE WHEN width >= height THEN 224 ELSE (width * 224) // height END AS out_w,
       |    CASE WHEN width >= height THEN (height * 224) // width ELSE 224 END AS out_h
       |  FROM meta)
       |SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       |  CAST(out_w AS INT) AS out_w, CAST(out_h AS INT) AS out_h,
       |  CAST((224 - out_w) // 2 AS INT) AS pad_x,
       |  CAST((224 - out_h) // 2 AS INT) AS pad_y
       |FROM p ORDER BY doc_id""".stripMargin

  /** LOADER BATCH PACKING — the `llm_pack_chunks` recipe applied to
    * media: decoded items are packed into GPU-loader batches under a
    * 4 KiB payload budget, per format (image/audio/video loaders batch
    * separately), in deterministic doc_id order. batch_idx is the
    * running payload total BEFORE the item, integer-divided by the
    * budget — the same greedy semantics tokenizer packing uses, so an
    * item that crosses the boundary starts in the earlier batch and
    * its overflow defines the next. Shape at 100 TB: the window is
    * partitioned by format (never unpartitioned; a finer sharding key
    * composes exactly like `llm_pack_chunks`' shard-offset split), and
    * the decode metadata it runs on is the typed mapPartitions path —
    * zero shuffle before the window. */
  def mmPackBatches(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val meta = mediaIn(spark, sfDir)
      .mapPartitions(_.map(MediaCodecStub.decode))
      .toDF()
      .select(col("doc_id"), col("format"), col("n_bytes"))
    val w = Window.partitionBy("format").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    meta
      .withColumn("start_b", coalesce(sum(col("n_bytes").cast("long")).over(w), lit(0L)))
      .select(col("doc_id"), col("format"), col("n_bytes"),
        expr("start_b div 4096").as("batch_idx"))
      .orderBy("format", "doc_id")
  }

  val mmPackBatchesOracle: String =
    s"""WITH $mediaMetaCteSql
       |SELECT doc_id, format, n_bytes,
       |  CAST(COALESCE(SUM(n_bytes) OVER (PARTITION BY format ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS batch_idx
       |FROM meta ORDER BY format, doc_id""".stripMargin

  /** ASPECT-RATIO BUCKETING — how image-generation training (the
    * SDXL recipe) batches variable-shape images without destructive
    * square cropping: every image is assigned to the closest of a
    * fixed bucket list (1:1, 4:3, 3:4, 16:9, 9:16) so a batch shares
    * one shape. "Closest" is the EXACT integer cross-multiplication
    * |w·bh − h·bw| (comparing w/h to bw/bh without a float ratio),
    * tie-broken by bucket index. The 5-row bucket table broadcasts;
    * per-image argmin is a doc-partitioned window over the 5
    * candidates. Bucket population counts ride along via a bucket-
    * keyed window so the loader can size its per-bucket batch queues
    * from the same pass. */
  def mmAspectBucket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = mediaIn(spark, sfDir)
      .mapPartitions(_.map(MediaCodecStub.decode))
      .toDF()
      .select(col("doc_id"), col("width").as("w"), col("height").as("h"))
    val buckets = Seq((1, 1, 1), (2, 4, 3), (3, 3, 4), (4, 16, 9), (5, 9, 16))
      .toDF("bidx", "bw", "bh")
    val pick = Window.partitionBy("doc_id")
      .orderBy(abs(col("w") * col("bh") - col("h") * col("bw")), col("bidx"))
    m.crossJoin(broadcast(buckets))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("w"), col("h"), col("bidx").as("bucket"))
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy("bucket")))
      .orderBy("doc_id")
  }

  val mmAspectBucketOracle: String =
    s"""WITH $mediaMetaCteSql,
       |b(bidx, bw, bh) AS (VALUES (1, 1, 1), (2, 4, 3), (3, 3, 4), (4, 16, 9), (5, 9, 16)),
       |s AS (SELECT meta.doc_id, meta.width AS w, meta.height AS h, b.bidx,
       |    ROW_NUMBER() OVER (PARTITION BY meta.doc_id
       |      ORDER BY abs(meta.width * b.bh - meta.height * b.bw), b.bidx) AS rn
       |  FROM meta, b),
       |p AS (SELECT doc_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, bidx AS bucket
       |  FROM s WHERE rn = 1)
       |SELECT doc_id, w, h, bucket,
       |  CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_n
       |FROM p ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("mm_payload_stats", mmPayloadStats, mmPayloadStatsOracle),
    Key("mm_aspect_bucket", mmAspectBucket, mmAspectBucketOracle),
    Key("mm_pack_batches", mmPackBatches, mmPackBatchesOracle),
    Key("mm_letterbox_plan", mmLetterboxPlan, mmLetterboxPlanOracle),
    Key("mm_decode_meta", mmDecodeMeta, mmDecodeMetaOracle),
    Key("mm_resize", mmResize, mmResizeOracle),
    Key("mm_features", mmFeatures, mmFeaturesOracle),
    Key("mm_frame_sample", mmFrameSample, mmFrameSampleOracle),
    Key("mm_dedup_frames", mmDedupFrames, mmDedupFramesOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
