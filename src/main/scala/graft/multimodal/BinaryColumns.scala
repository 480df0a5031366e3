package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing: media (image/audio/video) travel as
  * opaque `binary` columns with a typed metadata struct alongside.
  * The decode step is the only part that needs a media library — not
  * available in this environment, so [[FakeDecoder]] stands in with a
  * deterministic bytes→features map while the Spark-side contract
  * (schema, batch shape, partition parallelism, no driver transfer)
  * is fully real and tested.
  */
object BinaryColumns {

  /** media row: payload + metadata the pipeline carries end-to-end. */
  case class MediaRow(media_id: Long, payload: Array[Byte],
                      mime: String, n_bytes: Long, content_hash: String)

  /** fixed-size features extracted per media item. */
  case class MediaFeatures(media_id: Long, n_bytes: Long,
                           byte_sum: Long, head_byte: Int, tail_byte: Int)

  /** Documents→media: the text payload plays the role of an encoded
    * media blob; schema and lineage are what a real image column
    * would use.
    */
  def asMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("application/octet-stream").as("mime"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_hash"))
      .as[MediaRow]
  }

  /** WebDataset-style shard MANIFEST for the media corpus: every
    * sample assigned to a shard by salted content hash, shuffled
    * within its shard by the same hash, with its exact BYTE OFFSET
    * inside the concatenated shard file — the (shard, offset, size)
    * table a dataloader seeks with, plus per-shard item/byte totals
    * for balance checking. The byte-level twin of
    * [[graft.operators.Sampling.sampleShardShuffle]] (which places
    * docs) and `pack_sequences` (which budgets tokens).
    *
    * Scale shape: assignment and ordering are map-side content-hash
    * projections (deterministic across runs/engines/partitionings,
    * no rand()); the offset is an EXCLUSIVE running sum of integer
    * byte sizes inside a shard-partitioned window — S (shard count)
    * is the scale knob: widen shards with the corpus and per-window
    * state stays bounded, exactly the sampleShardShuffle argument.
    * Offsets are exact BIGINTs; Σ(per-shard bytes) = corpus bytes by
    * construction.
    */
  def shardManifest(spark: SparkSession, dir: String,
                    shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = asMedia(spark, dir).toDF()
      .withColumn("u", graft.functions.HexExprs.uniformHash(
        concat(col("content_hash"), lit("#manifest"))))
      .withColumn("shard", floor(col("u") * shards).cast("int"))
    val w = Window.partitionBy("shard").orderBy(col("u"), col("media_id"))
    val man = m
      .withColumn("pos", row_number().over(w))
      .withColumn("offset_bytes", coalesce(
        sum("n_bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val tot = man.groupBy("shard")
      .agg(count(lit(1)).as("shard_items"), sum("n_bytes").as("shard_bytes"))
    man.join(broadcast(tot), "shard")
      .select(col("shard"), col("pos"), col("media_id"),
        col("offset_bytes"), col("n_bytes"),
        col("shard_items"), col("shard_bytes"))
      .orderBy("shard", "pos")
  }

  /** Deterministic stand-in for image/audio decode: pure function of
    * the payload bytes, runs per-partition like a real decoder batch
    * would (one library context per partition, no per-row setup).
    */
  object FakeDecoder {
    def decode(payload: Array[Byte]): (Long, Int, Int) = {
      var s = 0L; var i = 0
      while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
      val head = if (payload.nonEmpty) payload(0) & 0xff else -1
      val tail = if (payload.nonEmpty) payload(payload.length - 1) & 0xff else -1
      (s, head, tail)
    }

    /** REAL perceptual hash — the average-hash (aHash) kernel the
      * md5-prefix stand-in in [[BinaryColumns.phashBuckets]] is a
      * placeholder for: decode via `javax.imageio`, box-pool the
      * image onto an 8×8 luma grid (Rec.601 integer weights
      * 299/587/114 — exact integer sums, no float drift), then one
      * bit per cell: 1 iff the cell's mean luma exceeds the grid
      * mean. Bit i = cell (row i/8, col i%8). Near-duplicate images
      * (small crops/edits/re-encodes) agree on most of the 64 bits,
      * so the same 4-band LSH banding that buckets the stand-in hash
      * buckets REAL near-dups with Hamming means near 0 instead of
      * the uniform-hash noise floor (~32).
      *
      * Pooling is exact integer box partition: pixel (x, y) belongs
      * to cell (y·8/h, x·8/w) — every pixel in exactly one cell, no
      * resampling filter, so the kernel is bit-reproducible on any
      * JVM (PropertySpec pins it against a straight-line recompute).
      */
    def averageHash64(payload: Array[Byte]): Long = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      require(w >= 8 && h >= 8, s"aHash needs >=8x8 pixels, got ${w}x$h")
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      var y = 0
      while (y < h) {
        val cy = (y.toLong * 8 / h).toInt
        var x = 0
        while (x < w) {
          val cx = (x.toLong * 8 / w).toInt
          val p = img.getRGB(x, y)
          val lum = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
            114L * (p & 0xff)
          val i = cy * 8 + cx
          sums(i) += lum
          cnts(i) += 1
          x += 1
        }
        y += 1
      }
      val means = Array.tabulate(64)(i => sums(i).toDouble / cnts(i))
      val grid = means.sum / 64.0
      var bits = 0L
      var i = 0
      while (i < 64) {
        if (means(i) > grid) bits |= (1L << i)
        i += 1
      }
      bits
    }
  }

  /** 64 gray levels sampled from a document's text — the pixel values
    * of the generated-image corpus ([[docPng]]) AND the oracle-replay
    * formula: gray i = the code point at position ⌊i·len/64⌋ (clamped
    * to 255 so it is a legal 8-bit channel value). Near-duplicate
    * texts sample near-identical grids, so their generated images are
    * visually near-identical and the REAL aHash kernel lands them at
    * small Hamming distance — the structure [[phashTopPairs]] ranks.
    */
  private[graft] def grayLevels(text: String): Array[Int] = {
    // CODE-POINT semantics, matching the DuckDB replay's
    // length()/substr()/ascii(): UTF-16 charAt indexing would shift
    // every sample index after the first non-BMP character (emoji,
    // supplementary CJK) and diverge the hashes — the corpus is
    // ASCII today, but the equivalence must be structural. Sample
    // positions are nondecreasing in i, so one monotone walk over
    // the string visits all 64 code points in O(len).
    val len = text.codePointCount(0, text.length)
    val out = new Array[Int](64)
    var i = 0; var cp = 0; var off = 0
    while (i < 64) {
      val target = ((i.toLong * len) / 64).toInt
      while (cp < target) {
        off = text.offsetByCodePoints(off, 1); cp += 1
      }
      out(i) = math.min(text.codePointAt(off), 255)
      i += 1
    }
    out
  }

  /** Deterministic 8×8 grayscale PNG for a document: pixel (i%8, i/8)
    * carries gray [[grayLevels]](i). One pixel per aHash cell, so the
    * kernel's cell mean IS the pixel's luma (1000·v, Rec.601 integer
    * weights on r=g=b=v) and the bit condition `cell mean > grid
    * mean` reduces EXACTLY to the integer comparison 64·vᵢ > Σv —
    * divisions by 64 are exact in double, so the real decode chain
    * (PNG encode → ImageIO decode → [[FakeDecoder.averageHash64]])
    * is replayable digit-for-digit by engine-portable arithmetic
    * (the DuckDB oracle computes the same bits from ascii()).
    */
  private[graft] def docPng(text: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val v = grayLevels(text)
    var i = 0
    while (i < 64) {
      img.setRGB(i % 8, i / 8, v(i) * 0x010101)
      i += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Per-document 48-bit perceptual-hash key over the generated-image
    * corpus, via the REAL chain: PNG encode ([[docPng]]) → ImageIO
    * decode → [[FakeDecoder.averageHash64]] → low 48 bits (non-
    * negative, so plain shifts band it on both engines). PlanCache'd:
    * [[phashBuckets]] and [[phashTopPairs]] both consume it, and the
    * encode/decode pass is the family's one non-codegen stage.
    */
  private[graft] def imageHash48(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.PlanCache.cached("mm_ahash48", spark, dir) {
      // spread the decode: a mapPartitions stage inherits the scan's
      // split count (~6 tasks on the sf10 parquet), and per-row
      // encode/decode work — not bytes — is the cost here (measured
      // 583 s cold at sf10 on the inherited layout). One narrow
      // (id, text) shuffle buys a full-width decode stage; this is
      // the standing rule for EVERY per-row-expensive mapPartitions
      // seam (the cluster answer is identical: decode stages
      // repartition to total cores).
      Tables.documents(spark, dir)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (id, text) =>
            (id, FakeDecoder.averageHash64(docPng(text)) & ((1L << 48) - 1))
          }
        }.toDF("doc_id", "h48")
    }
  }

  /** Partition-parallel feature extraction over the binary column. */
  def fakeDecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asMedia(spark, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val (s, head, tail) = FakeDecoder.decode(r.payload)
          MediaFeatures(r.media_id, r.n_bytes, s, head, tail)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Video-shaped frame sampling: treat each media item as a clip of
    * `1 + n_bytes % 30` frames, emit every 5th frame offset with a
    * deterministic per-frame fingerprint (md5 of id:offset — the
    * stand-in for a decoded frame's feature hash). The explode is the
    * REAL batch shape of video pipelines — one row per sampled frame,
    * partition-parallel, row count = Σ⌈frames/stride⌉ known up front —
    * only the per-frame decode behind it is faked.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        (octet_length(col("text")).cast("long") % 30 + 1).as("n_frames"))
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1, 5)")))
      .select(col("media_id"), col("n_frames"), col("frame_idx"),
        substring(md5(concat(col("media_id"), lit(":"), col("frame_idx"))), 1, 16)
          .as("frame_sig"))
      .orderBy("media_id", "frame_idx")

  /** Image-resize plumbing: each media item carries synthetic source
    * dimensions (a pure function of its byte length, standing in for
    * decoded header metadata), and is aspect-fit into a 224×224
    * training box with integer milli-scale math — downscale only,
    * never below 1px. The REAL parts are the schema and the resize
    * arithmetic every image pipeline runs (fit scale, rounding,
    * aspect preservation); only the pixel resample behind it is
    * faked, as a per-item signature. Map-side, partition-parallel,
    * no shuffle.
    */
  def resizePlan(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("w", lit(64L) + col("n_bytes") % 448)
      .withColumn("h", lit(64L) + expr("n_bytes div 7") % 448)
      .withColumn("scale", least(lit(1000L),
        least(expr("224000 div w"), expr("224000 div h"))))
      .withColumn("out_w", greatest(lit(1L), expr("(w * scale) div 1000")))
      .withColumn("out_h", greatest(lit(1L), expr("(h * scale) div 1000")))
      .select(col("media_id"), col("w"), col("h"), col("out_w"), col("out_h"),
        substring(md5(concat(col("media_id").cast("string"), lit(":"),
          col("out_w").cast("string"), lit("x"), col("out_h").cast("string"))), 1, 16)
          .as("resize_sig"))
      .orderBy("media_id")

  /** Oracle-able binary stats per source: byte lengths + content
    * hashes aggregated — the part of the multimodal path SQL can see.
    */
  def binaryFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), octet_length(col("text")).as("n_bytes"),
        md5(col("text")).as("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bytes").cast("long").as("total_bytes"),
        min("h").as("min_hash"),
        max("h").as("max_hash"))
      .orderBy("source")

  /** Audio-shaped fixed-frame windowing: treat each item's bytes as a
    * PCM stream (byte value = sample amplitude — the text column
    * stands in for the decoded waveform), cut NON-overlapping
    * 16-sample frames, and compute the per-frame stats every audio
    * pipeline derives before a model sees anything: amplitude sum,
    * peak, integer energy (Σ s²), plus a frame signature. The explode
    * + per-frame arithmetic is the REAL batch shape (row count =
    * Σ⌊chars/16⌋, map-side, no shuffle, linear in corpus bytes); only
    * the codec behind it is faked. Integer-only math keeps the oracle
    * exact (ord/ascii agree on the ASCII corpus). Frame count and
    * frame slicing BOTH use character units (length/substring) — a
    * byte-based count with char-based slicing would diverge from
    * itself, and from the oracle, the moment a multi-byte character
    * appears.
    */
  def audioWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 16)
      .select(col("doc_id").as("media_id"), col("text"),
        expr("length(text) div 16").as("n_frames"))
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
      .withColumn("frame", expr("substring(text, frame_idx * 16 + 1, 16)"))
      .withColumn("samples", expr(
        "transform(sequence(1, 16), i -> CAST(ascii(substring(frame, i, 1)) AS BIGINT))"))
      .select(
        col("media_id"), col("frame_idx"),
        expr("aggregate(samples, CAST(0 AS BIGINT), (a, x) -> a + x)").as("sum_amp"),
        expr("array_max(samples)").as("peak"),
        expr("aggregate(samples, CAST(0 AS BIGINT), (a, x) -> a + x * x)").as("energy"),
        substring(md5(col("frame")), 1, 16).as("frame_sig"))
      .orderBy("media_id", "frame_idx")

  /** Training-pair curation (the LAION-style text↔media↔embedding
    * gate): every document joined to its media payload (the text
    * bytes stand in for the decoded asset, as across this module)
    * and its embedding row, with one keep/drop verdict per modality —
    * caption long enough (≥ 250 chars), asset small enough to train
    * on (≤ 384 bytes), embedding present (simulated 1-in-11 coverage
    * gap — modality coverage is never 100% in a real crawl) with
    * positive norm — and the conjunction that decides whether the
    * pair enters the training set.
    *
    * Scale shape: one equi-join on the pair id (both sides shuffle
    * once, LEFT join so coverage gaps surface as embed_ok = 0 rather
    * than silently dropping rows), all gates map-side arithmetic; the
    * downstream consumer filters keep = 1 and the filter prunes at
    * the scan of THIS materialized table.
    */
  def pairBuilder(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        length(col("text")).as("n_chars"))
    val emb = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 11 =!= 0)
      .select(col("vec_id").as("doc_id"),
        round(sqrt(expr(
          "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)")), 6).as("emb_norm"))
    docs.join(emb, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("lang"), col("n_bytes"), col("emb_norm"),
        when(col("n_chars") >= 250, 1L).otherwise(0L).as("text_ok"),
        when(col("n_bytes") <= 384, 1L).otherwise(0L).as("media_ok"),
        when(col("emb_norm").isNotNull && col("emb_norm") > 0, 1L)
          .otherwise(0L).as("embed_ok"))
      .withColumn("keep",
        (col("text_ok") === 1 && col("media_ok") === 1 && col("embed_ok") === 1)
          .cast("long"))
      .orderBy("doc_id")
  }

  /** Aspect-ratio bucketing for image-batch training (the SDXL-style
    * bucket list): every image is assigned to the canonical training
    * bucket whose aspect ratio is nearest its own (integer
    * milli-ratio distance, ties → smaller bucket id), then each
    * bucket reports its fill — item count, full 32-item batches, and
    * the straggler remainder a dataloader pads or drops. Source
    * dimensions follow [[resizePlan]]'s header-metadata convention.
    *
    * Scale shape: the per-image work is ONE map-side projection to an
    * integer milli-ratio; the argmin over the 15-bucket constant list
    * runs on the DISTINCT-ratio table (≤ ~8k rows regardless of
    * corpus size — ratios are integer ratios of bounded dims), via a
    * broadcast cross of the bucket list and a max(struct) argmin, so
    * nothing per-image ever shuffles; the final fill report is a
    * second bounded aggregate. Output rows = occupied buckets ≤ 15.
    */
  def aspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    val buckets = Seq(
      (1, 512, 2048), (2, 576, 1792), (3, 640, 1536), (4, 704, 1408),
      (5, 768, 1344), (6, 832, 1216), (7, 896, 1152), (8, 1024, 1024),
      (9, 1152, 896), (10, 1216, 832), (11, 1344, 768), (12, 1408, 704),
      (13, 1536, 640), (14, 1792, 576), (15, 2048, 512))
    import spark.implicits._
    val b = buckets.toDF("bucket_id", "bucket_w", "bucket_h")
      .withColumn("bucket_ratio_milli",
        expr("CAST(1000 * bucket_w AS BIGINT) div bucket_h"))
    val byRatio = Tables.documents(spark, dir)
      .select(octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("w", lit(64L) + col("n_bytes") % 448)
      .withColumn("h", lit(64L) + expr("n_bytes div 7") % 448)
      .withColumn("ratio_milli", expr("(1000 * w) div h"))
      .groupBy("ratio_milli").agg(count(lit(1)).as("n"))
    val assigned = byRatio.crossJoin(broadcast(b))
      .groupBy("ratio_milli", "n")
      .agg(min(struct(
        abs(col("ratio_milli") - col("bucket_ratio_milli")).as("d"),
        col("bucket_id"), col("bucket_w"), col("bucket_h"))).as("pick"))
      .select(col("ratio_milli"), col("n"),
        col("pick.bucket_id").as("bucket_id"),
        col("pick.bucket_w").as("bucket_w"),
        col("pick.bucket_h").as("bucket_h"))
    assigned.groupBy("bucket_id", "bucket_w", "bucket_h")
      .agg(sum("n").as("n_items"),
        min("ratio_milli").as("min_ratio_milli"),
        max("ratio_milli").as("max_ratio_milli"))
      .select(col("bucket_id"), col("bucket_w"), col("bucket_h"),
        col("n_items"),
        expr("n_items div 32").as("n_full_batches"),
        (col("n_items") % 32).as("n_remainder"),
        col("min_ratio_milli"), col("max_ratio_milli"))
      .orderBy("bucket_id")
  }

  /** Perceptual-hash banding diagnostics — the image-near-dup LSH
    * shape, over the REAL aHash of the generated-image corpus
    * ([[imageHash48]]: PNG encode → ImageIO decode →
    * [[FakeDecoder.averageHash64]], promoted from the r9 md5-prefix
    * stand-in — the banding math was hash-agnostic by design). The
    * 48-bit key splits into 4 bands of 12 bits; items sharing a band
    * value become candidate pairs exactly as in MinHash LSH. Per
    * band: bucket count, multi-occupancy buckets, candidate-pair
    * count (Σk(k−1)/2 from bucket sizes — no pair materialization
    * needed for the count), max bucket, and the mean Hamming distance
    * of candidate pairs over the full 48 bits (bit_count of XOR —
    * exact integers, so the only float is the final mean). Under the
    * real kernel, near-dup images collapse the Hamming mean toward 0
    * while unrelated collisions sit near the uniform noise floor —
    * the separation the md5 stand-in could only show in spec.
    *
    * Scale shape: banding is a map-side projection; EVERYTHING else
    * is one (band, key) aggregate — including the candidate-pair
    * Hamming mean, which never materializes a pair: within a bucket
    * of k members where bit b is set in c_b of them, exactly
    * c_b·(k−c_b) of the k(k−1)/2 pairs differ at bit b, so
    * Σ_pairs hamming = Σ_b c_b·(k−c_b) — 48 exact-integer per-bucket
    * bit sums replace the k² pair emission the real (low-entropy)
    * aHash makes quadratic in hot buckets. The bucket key space is
    * ≤ 4·4096 rows, so the post-aggregate work is constant-bounded
    * at ANY corpus size. 4 rows out.
    */
  def phashBuckets(spark: SparkSession, dir: String): DataFrame = {
    val perBucket = phashPerBucket(spark, dir)
    val sumHam = (0 until 48)
      .map(b => col(s"c$b") * (col("k") - col(s"c$b")))
      .reduce(_ + _)
    perBucket.withColumn("bham", sumHam)
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("k") >= 2, 1L).otherwise(0L)).as("n_multi"),
        sum(expr("k * (k - 1) div 2")).as("cand_pairs"),
        max("k").as("max_bucket"),
        sum("bham").as("sum_ham"))
      .select(col("band"), col("n_buckets"), col("n_multi"),
        col("cand_pairs"), col("max_bucket"),
        when(col("cand_pairs") > 0,
          round(col("sum_ham").cast("double") / col("cand_pairs"), 6))
          .as("avg_hamming"))
      .orderBy("band")
  }

  /** 4-band LSH banding of [[imageHash48]]: one row per (band,
    * 12-bit band key). */
  private def phashBanded(spark: SparkSession, dir: String): DataFrame = {
    val h = imageHash48(spark, dir)
    val bands = spark.range(1, 5).select(col("id").as("band"))
    h.crossJoin(broadcast(bands))
      .select(col("band"), col("doc_id"), col("h48"),
        expr("shiftright(h48, CAST((band - 1) * 12 AS INT)) & 4095")
          .as("bkey"))
  }

  /** Per-bucket occupancy + per-bit population counts: (band, bkey,
    * k, c0..c47) — the ≤ 4·4096-row relation from which both the
    * banding stats and the hot-bucket Hamming summaries derive
    * without any pair emission (see [[phashBuckets]]' identity).
    */
  private def phashPerBucket(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("mm_phash_bucketbits", spark, dir) {
      val bd = phashBanded(spark, dir)
      val bitSums = (0 until 48)
        .map(b => sum(expr(s"shiftright(h48, $b) & 1")).as(s"c$b"))
      bd.groupBy("band", "bkey")
        .agg(count(lit(1)).as("k"), bitSums: _*)
    }

  /** Hot-bucket occupancy cap for [[phashTopPairs]]: buckets with
    * more than this many members are SUMMARIZED, never pair-joined.
    * A real perceptual hash is low-entropy BY DESIGN — near-dup
    * images collide — so at scale the biggest band buckets hold
    * thousands of members at Hamming ≈ 0, and enumerating their
    * k(k−1)/2 pairs (the r11 sf10 measurement: ~1e10 emissions,
    * 343 s cold, one hot bucket's whole emission through one
    * row_number task) reports nothing a single "this bucket IS a
    * duplicate family" row doesn't say better. 16 keeps the warm
    * pair volume ≤ C(16,2)·4·4096 ≈ 2e6 BY CONSTRUCTION (the band
    * key space is 12 bits) and is small enough that the sf0.01
    * oracle corpus (max bucket 26) exercises BOTH regimes.
    */
  val PhashHotBucketCap = 16

  /** The actionable output of [[phashBuckets]]' LSH banding, in two
    * parts (one table, discriminated by `kind`):
    *
    *  - `hot_bucket` rows: the 20 biggest buckets whose occupancy
    *    exceeds [[PhashHotBucketCap]] — each reported as ONE summary
    *    row (band, key, size, implied pair count, exact mean pairwise
    *    Hamming via the per-bit identity — see [[phashBuckets]]).
    *    A 10k-member bucket at Hamming ≈ 0 IS the answer ("this is a
    *    duplicate family"); its 50M constituent pairs are not.
    *  - `pair` rows: the 20 closest candidate pairs by 48-bit
    *    Hamming among WARM buckets (2 ≤ k ≤ cap), deduped across
    *    bands, ordered by (distance, pair id) — the human review
    *    queue, now guaranteed to surface borderline near-dups
    *    instead of 20 interchangeable members of the one hot family.
    *
    * Scale shape: bucket occupancies and hot summaries come from the
    * ≤ 4·4096-row per-bucket bit-count relation (no pair emission);
    * the warm pair join is bounded by cap²/2 per bucket — ≤ ~2e6
    * pairs TOTAL at any corpus size — and the global top-20s are
    * TakeOrdereds. ≤ 40 rows out.
    */
  def phashTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val perBucket = phashPerBucket(spark, dir)
    val sumHam = (0 until 48)
      .map(b => col(s"c$b") * (col("k") - col(s"c$b")))
      .reduce(_ + _)
    val nullL = lit(null).cast("long")
    val hot = perBucket.filter(col("k") > PhashHotBucketCap)
      .withColumn("n_pairs", expr("k * (k - 1) div 2"))
      .withColumn("sum_ham", sumHam)
      .orderBy(col("k").desc, col("band"), col("bkey"))
      .limit(20)
      .select(lit("hot_bucket").as("kind"), col("band"), col("bkey"),
        col("k").as("bucket_k"), col("n_pairs"),
        round(col("sum_ham").cast("double") / col("n_pairs"), 6)
          .as("avg_hamming"),
        nullL.as("doc_a"), nullL.as("doc_b"), nullL.as("hamming"))
    // warm-bucket membership via a broadcast semijoin on the bounded
    // bucket-key relation — the hot families never enter the join
    val warmKeys = perBucket
      .filter(col("k") >= 2 && col("k") <= PhashHotBucketCap)
      .select("band", "bkey")
    val bd = phashBanded(spark, dir)
    val wbd = bd.join(broadcast(warmKeys), Seq("band", "bkey"))
    val rhs = wbd.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("h48").as("h_b"))
    val pairs = wbd.join(rhs, Seq("band", "bkey"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        bit_count(col("h48").bitwiseXOR(col("h_b"))).cast("long")
          .as("hamming"))
      .groupBy("doc_a", "doc_b").agg(min("hamming").as("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(20)
      .select(lit("pair").as("kind"), nullL.as("band"), nullL.as("bkey"),
        nullL.as("bucket_k"), nullL.as("n_pairs"),
        lit(null).cast("double").as("avg_hamming"),
        col("doc_a"), col("doc_b"), col("hamming"))
    hot.unionByName(pairs)
      .orderBy(col("kind"), col("bucket_k").desc_nulls_last, col("band"),
        col("bkey"), col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Exact-bytes dedup audit over the media corpus: items grouped by
    * content digest into duplicate families, rolled up to a
    * (family size → families, items, reclaimable bytes) report with
    * each bucket's share of total corpus bytes — the storage-bill
    * number an image/audio lake dedup job is sized by (keep one copy
    * per family, reclaim the rest). The digest groupBy IS the dedup;
    * this query is its cost-benefit read-out.
    *
    * Scale shape: digest and byte length are map-side projections
    * ([[asMedia]]); the family aggregate shuffles (hash, bytes) pairs
    * only — never payloads — with map-side combine; the bucket rollup
    * carries ≤ max-family-size keys and the denominator is a
    * broadcast 1-row total. Bounded rows out at any corpus size.
    */
  def dedupBytes(spark: SparkSession, dir: String): DataFrame = {
    val m = asMedia(spark, dir).toDF().select("content_hash", "n_bytes")
    val fam = m.groupBy("content_hash")
      .agg(count(lit(1)).as("family_size"),
        sum("n_bytes").as("fam_bytes"), min("n_bytes").as("keep_bytes"))
    val tot = m.agg(sum("n_bytes").as("total_bytes"))
    fam.groupBy("family_size")
      .agg(count(lit(1)).as("n_families"),
        sum(col("fam_bytes") - col("keep_bytes")).as("reclaim_bytes"))
      .crossJoin(broadcast(tot))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_items"),
        col("reclaim_bytes"),
        round(col("reclaim_bytes").cast("double") / col("total_bytes"), 6)
          .as("reclaim_share"))
      .orderBy("family_size")
  }
}
