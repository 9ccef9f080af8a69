package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media as opaque BINARY payloads with
  * typed metadata, processed in partition-local batches.
  *
  * IMAGE payloads are decoded for real (kernel/ImageCodec.scala —
  * `javax.imageio`, pure JDK: PNG/JPEG/GIF/BMP → dimensions + channel
  * means; pinned end-to-end by l21's generative oracle). AUDIO
  * payloads are decoded for real too (kernel/AudioCodec.scala —
  * `javax.sound.sampled`, pure JDK: WAV/AIFF/AU PCM → format + exact
  * sample statistics; pinned by l22). VIDEO is decoded for real as of
  * r12 (kernel/VideoCodec.scala — pure-JVM AVI/RIFF box walk; MJPEG
  * and motion-PNG frame payloads decode through ImageCodec, so
  * keyframe extraction and perceptual dHash reuse the image kernel;
  * pinned by l83's generative oracle). `fakeDecode` below remains
  * only as the deterministic fallback for UNDECODABLE payloads of any
  * kind. The surrounding shape — schema, binary payload handling, the
  * partition-batched mapPartitions, the metadata struct — is the real
  * distributed plumbing any further native codec binds into (one
  * codec setup per task, not per row).
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true))), nullable = true)))

  /** Build a media table from the documents table: payload = UTF-8
    * bytes of the text (a stand-in for real image/audio bytes), kind
    * round-robins over modalities, metadata derived deterministically.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (col("doc_id") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height"),
        (col("n_chars") * 10).cast("long").as("duration_ms"),
        lit("fake/1").as("codec")).as("meta"))

  // public: Catalyst's generated (de)serializer code must access these
  case class MediaIn(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, checksum: Long,
      width: Option[Int], height: Option[Int],
      mean_r: Option[Double], mean_g: Option[Double], mean_b: Option[Double],
      channels: Option[Int], sample_rate: Option[Int], n_frames: Option[Long],
      duration_ms: Option[Long], mean_amp: Option[Double], peak_abs: Option[Int],
      feature: Array[Double])

  /** Fallback for UNDECODABLE payloads only (every declared kind —
    * image, audio, video — has a real pure-JVM decoder as of r12): a
    * deterministic byte-level feature so corrupt media still yields a
    * row rather than an error, mirroring how the curation rules treat
    * undecodable text.
    */
  private def fakeDecode(payload: Array[Byte]): Array[Double] = {
    // normalized 4-bin byte histogram — byte-level, no codec
    val bins = new Array[Double](4)
    if (payload != null) {
      var i = 0
      while (i < payload.length) {
        bins((payload(i) & 0xff) / 64) += 1.0
        i += 1
      }
      val total = payload.length.max(1).toDouble
      var b = 0
      while (b < 4) { bins(b) = bins(b) / total; b += 1 }
    }
    bins
  }

  /** Decode/extract features over media rows, batched per partition.
    *
    * Typed `Dataset.mapPartitions`, not an `.rdd` exit: the object
    * boundary stays inside the Catalyst plan (Deserialize/Serialize
    * nodes the planner and AQE can see), lineage is preserved for
    * re-optimization, and the iterator-per-partition shape is exactly
    * where a native codec binds (one library handle per task, not per
    * row).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[MediaIn]
      .mapPartitions { rows =>
        rows.map { m =>
          val nBytes = if (m.payload == null) 0L else m.payload.length.toLong
          var checksum = 0L
          if (m.payload != null) {
            var i = 0
            while (i < m.payload.length) {
              checksum = checksum * 31 + (m.payload(i) & 0xff); i += 1
            }
          }
          val img =
            if (m.kind == "image") graft.kernel.ImageCodec.decode(m.payload)
            else None
          val aud =
            if (m.kind == "audio") graft.kernel.AudioCodec.decode(m.payload)
            else None
          val vid =
            if (m.kind == "video") graft.kernel.VideoCodec.probe(m.payload)
            else None
          (img, aud, vid) match {
            case (Some(d), _, _) =>
              MediaFeatures(m.media_id, m.kind, nBytes, checksum,
                Some(d.width), Some(d.height),
                Some(d.meanR), Some(d.meanG), Some(d.meanB),
                None, None, None, None, None, None,
                Array(d.meanR / 255.0, d.meanG / 255.0, d.meanB / 255.0))
            case (_, Some(a), _) =>
              val n = a.nFrames * a.channels
              val mean = if (n == 0) 0.0 else a.sumSamples.toDouble / n
              MediaFeatures(m.media_id, m.kind, nBytes, checksum,
                None, None, None, None, None,
                Some(a.channels), Some(a.sampleRate), Some(a.nFrames),
                Some(a.durationMs), Some(mean), Some(a.peakAbs),
                Array(mean / 32768.0, a.peakAbs / 32768.0))
            case (_, _, Some(v)) =>
              // real container decode: dims + frame count + duration
              // from avih; channel means from the FIRST keyframe (the
              // thumbnail convention), decoded through ImageCodec
              val first = graft.kernel.VideoCodec.frames(m.payload)
                .headOption.flatMap(graft.kernel.ImageCodec.decode)
              MediaFeatures(m.media_id, m.kind, nBytes, checksum,
                Some(v.width), Some(v.height),
                first.map(_.meanR), first.map(_.meanG), first.map(_.meanB),
                None, None, Some(v.nFrames.toLong), Some(v.durationMs),
                None, None,
                first.map(d => Array(d.meanR / 255.0, d.meanG / 255.0,
                  d.meanB / 255.0)).getOrElse(Array.empty[Double]))
            case _ =>
              MediaFeatures(m.media_id, m.kind, nBytes, checksum,
                None, None, None, None, None,
                None, None, None, None, None, None, fakeDecode(m.payload))
          }
        }
      }
      .toDF()
  }

  /** Deterministic PNG media table: one small image per documents row
    * (doc_id < limit), dimensions and every pixel channel a generative
    * formula of (id, x, y) — so l21's DuckDB oracle re-derives the
    * decoded features from the formula alone, without ever touching
    * PNG bytes, while the Spark side round-trips them through a REAL
    * encode (here) + decode (ImageCodec in extractFeatures). PNG is
    * lossless, so the two must agree exactly.
    */
  def syntheticImages(docs: DataFrame, limit: Long): DataFrame =
    syntheticImages(docs, limit, contentMod = 0L)

  /** As [[syntheticImages]], but with `contentMod > 0` the pixel
    * CONTENT is a function of `media_id % contentMod` while media_id
    * stays unique — i.e. the fixture plants exact duplicate images
    * under distinct ids, which is what the perceptual-dedup query
    * (l56) needs a ground truth for.
    */
  def syntheticImages(docs: DataFrame, limit: Long, contentMod: Long): DataFrame = {
    val mk = udf((id0: Long) => {
      val id = if (contentMod > 0) id0 % contentMod else id0
      val w = (2 + id % 7).toInt
      val h = (2 + id % 5).toInt
      graft.kernel.ImageCodec.encodePng(w, h, (x, y) => {
        val r = ((id * 7 + x * 13 + y * 31) % 256).toInt
        val g = ((id * 11 + x * 17 + y * 5) % 256).toInt
        val b = ((id * 3 + x * 29 + y * 23) % 256).toInt
        (r << 16) | (g << 8) | b
      })
    })
    docs.filter(col("doc_id") < limit)
      .select(col("doc_id").as("media_id"), lit("image").as("kind"),
        mk(col("doc_id")).as("payload"))
  }

  /** Deterministic WAV media table: one short PCM clip per documents
    * row (doc_id < limit), format and every 16-bit sample a generative
    * formula of (id, channel, frame) — so l22's DuckDB oracle
    * re-derives the decoded statistics from the formula alone, without
    * ever touching WAV bytes, while the Spark side round-trips them
    * through a REAL encode (here) + decode (AudioCodec inside
    * extractFeatures). PCM is lossless, so the two must agree exactly.
    */
  def syntheticAudio(docs: DataFrame, limit: Long,
      contentMod: Long = Long.MaxValue): DataFrame = {
    val mk = udf((rawId: Long) => {
      // contentMod folds ids onto shared payloads (planted duplicates
      // for the dedup fixtures — the syntheticImages convention)
      val id = rawId % contentMod
      val channels = (1 + id % 2).toInt
      val rate = (8000 * (1 + id % 3)).toInt
      val frames = (40 + id % 25).toInt
      graft.kernel.AudioCodec.encodeWav(channels, rate, frames, (ch, t) =>
        (((id * 7919 + ch * 104729L + t * 1299721L) % 65536) - 32768).toShort)
    })
    docs.filter(col("doc_id") < limit)
      .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
        mk(col("doc_id")).as("payload"))
  }

  /** Dataset-wide image normalization: resize every image payload to
    * (w, h) — real pixel ops (nearest-neighbor through the decoder)
    * re-encoded as lossless PNG. Map-only, the shape of a 100 TB
    * preprocessing pass; payloads that do not decode yield a NULL
    * resized column (the caller's drop/keep decision).
    */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val rz = udf((p: Array[Byte]) =>
      graft.kernel.ImageCodec.resizeNearestPng(p, w, h).orNull)
    media.withColumn("payload_resized", rz(col("payload")))
  }

  /** Dataset-wide audio normalization: decimate every audio payload
    * by `everyN` (real decode → frame sampling → WAV re-encode) —
    * map-only; non-decodable payloads yield NULL.
    */
  def decimateAudio(media: DataFrame, everyN: Int): DataFrame = {
    val dz = udf((p: Array[Byte]) =>
      graft.kernel.AudioCodec.decimateWav(p, everyN).orNull)
    media.withColumn("payload_resampled", dz(col("payload")))
  }

  /** Perceptual hash per image row via the REAL decode path
    * (`ImageCodec.dHash56`): (media_id, dhash). Non-decodable
    * payloads are dropped (they have no perceptual content to hash;
    * byte-level dedup covers them). Map-only.
    */
  def imageDHash(media: DataFrame): DataFrame = {
    val dh = udf((p: Array[Byte]) => graft.kernel.ImageCodec.dHash56(p))
    media.select(col("media_id"), KernelOnce(dh(col("payload"))).as("dhash"))
      .filter(col("dhash").isNotNull)
  }

  /** Audio exact-envelope dedup — the audio counterpart of the image
    * dHash family: every payload maps to a K-bucket energy-envelope
    * signature (kernel/AudioCodec.envelopeSig — exact integer
    * arithmetic an oracle can re-derive from the generative PCM
    * formula, the l22 pattern), then signatures group exactly and
    * every member above the lowest media_id in its group is flagged.
    * Map-side signature + one hash aggregate on an 8-byte key —
    * document-payload bytes never ride the shuffle. At corpus scale
    * `buckets` widens (2^K signature space) exactly like dHash's
    * 56-bit space; non-decodable payloads are dropped (byte-level
    * dedup covers them).
    *
    * Returns (media_id, sig, group_n, is_dup).
    */
  def audioSigDedup(media: DataFrame, buckets: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigUdf = udf((p: Array[Byte]) =>
      graft.kernel.AudioCodec.envelopeSig(p, buckets).orNull)
    val w = Window.partitionBy(col("sig"))
    media.select(col("media_id"), KernelOnce(sigUdf(col("payload"))).as("sig"))
      .filter(col("sig").isNotNull)
      .withColumn("group_n", count(lit(1)).over(w))
      .withColumn("is_dup", col("media_id") =!= min(col("media_id")).over(w))
      .select(col("media_id"), col("sig"), col("group_n"), col("is_dup"))
  }

  /** Deterministic motion-PNG AVI media table: one short clip per
    * documents row (doc_id < limit), container layout and every frame
    * pixel a generative formula of (id, frame, x, y) — the l21/l56
    * fixture pattern extended with a frame axis. PNG frames are
    * lossless, so l83's DuckDB oracle re-derives the per-frame dHash
    * from the formula alone while the Spark side round-trips through
    * a REAL AVI encode (VideoCodec) + RIFF walk + PNG decode.
    * `contentMod` folds ids onto shared payloads (planted duplicate
    * clips for the dedup fixtures — the syntheticImages convention).
    */
  def syntheticVideos(docs: DataFrame, limit: Long,
      contentMod: Long = 0L): DataFrame = {
    val mk = udf((rawId: Long) => {
      val id = if (contentMod > 0) rawId % contentMod else rawId
      val w = (3 + id % 6).toInt
      val h = (3 + id % 4).toInt
      val nf = (2 + id % 3).toInt
      graft.kernel.VideoCodec.encodeMpngAvi(w, h, nf, 40000L, (f, x, y) => {
        val r = ((id * 7 + f * 41 + x * 13 + y * 31) % 256).toInt
        val g = ((id * 11 + f * 43 + x * 17 + y * 5) % 256).toInt
        val b = ((id * 3 + f * 47 + x * 29 + y * 23) % 256).toInt
        (r << 16) | (g << 8) | b
      })
    })
    docs.filter(col("doc_id") < limit)
      .select(col("doc_id").as("media_id"), lit("video").as("kind"),
        mk(col("doc_id")).as("payload"))
  }

  // public: Catalyst's generated (de)serializer code must access it
  case class FrameHash(frame_no: Int, dhash: Long)

  /** Per-video keyframe perceptual hashes: RIFF-walk each payload,
    * keep every `everyN`-th frame, dHash56 each through the REAL
    * image decode. Returns (media_id, frame_no, dhash) — one row per
    * sampled keyframe; non-decodable payloads/frames are dropped.
    * Map-only: frames never leave their task; only (long, int, long)
    * rows reach downstream shuffles, so the l56 banded-LSH dedup
    * machinery consumes this directly at corpus scale.
    */
  def videoKeyframeDHash(media: DataFrame, everyN: Int = 1): DataFrame = {
    require(everyN >= 1, "everyN must be >= 1")
    val fx = udf((p: Array[Byte]) =>
      graft.kernel.VideoCodec.frames(p).zipWithIndex.collect {
        case (fb, i) if i % everyN == 0 =>
          graft.kernel.ImageCodec.dHash56(fb).map(FrameHash(i, _))
      }.flatten)
    media.select(col("media_id"), explode(fx(col("payload"))).as("fh"))
      .select(col("media_id"), col("fh.frame_no").as("frame_no"),
        col("fh.dhash").as("dhash"))
  }

  /** Perceptual near-duplicate image pairs: dHash56, banded into
    * 4×14-bit buckets (pigeonhole: any pair within Hamming distance
    * ≤ 3 shares at least one band), verified by the exact popcount of
    * the XOR. Output (id_a, id_b, hamming), id_a < id_b.
    *
    * Scale shape — identical to `Dedup.simhashPairs`: candidates form
    * only inside (band, band_bits) buckets, so the corpus is never
    * all-pairs joined; the per-image state that moves through the
    * shuffle is one 8-byte hash. At 100 TB of images the decode+hash
    * is the map-side cost and this join is O(bucket collisions).
    */
  def dhashNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    // 4 bands guarantee recall only through Hamming 3 (pigeonhole); a
    // larger threshold would silently drop pairs whose differing bits
    // span all four bands
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band LSH guarantees recall only for maxHamming in [0, 3], got $maxHamming")
    val sigs = imageDHash(media).select(col("media_id").as("id"), col("dhash"))
    val keys = sigs.select(col("id"), col("dhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("dhash"), b * 14).bitwiseAND(lit(0x3fffL))): _*)))
      .select(col("pos").as("band"), col("col").as("band_bits"),
        col("id"), col("dhash"))
    keys.select(col("band"), col("band_bits"), col("id").as("id_a"),
        col("dhash").as("h_a"))
      .join(keys.select(col("band"), col("band_bits"), col("id").as("id_b"),
        col("dhash").as("h_b")), Seq("band", "band_bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }
}
