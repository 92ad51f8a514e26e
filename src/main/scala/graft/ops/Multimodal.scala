package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: media payloads ride through the engine
  * as opaque `BINARY` columns with typed metadata alongside — the
  * pattern for image/audio/video at 100 TB (payload bytes never leave
  * the executor; metadata is columnar and prunable).
  *
  * The scan-side payloads here are utf-8 text bytes; the decode stage
  * ([[decodePng]]) runs a REAL codec — the JDK's javax.imageio PNG
  * encoder/decoder — behind the batch-processing seam a heavier
  * decoder (pillow/ffmpeg via mapInPandas in PySpark, JNI here) would
  * plug into.
  */
object Multimodal {

  /** mm_pack — attach payload bytes + flat metadata. The oracle-facing
    * projection identifies the payload by checksum + head bytes (raw
    * binary columns don't round-trip the comparator); the binary
    * column itself feeds the [[decodePng]]-style decode stage.
    */
  def packed(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  def pack(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        lower(hex(substring(col("text"), 1, 8).cast("binary"))).as("head_hex"),
        col("source").as("kind"),
        md5(col("text")).as("checksum"))
      .orderBy("doc_id")

  /** mm_meta_extract — header-style metadata from the payload without
    * decoding it (magic bytes, length, checksum).
    */
  def metaExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        lower(hex(substring(col("text"), 1, 4).cast("binary"))).as("magic_hex"),
        md5(col("text")).as("checksum"))
      .orderBy("doc_id")

  /** mm_frame_sample — deterministic strided sampling of fixed-size
    * payload windows (the frame-extraction access pattern: k frames at
    * stride positions, each a bounded slice — no full-payload decode).
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .select(col("doc_id"), col("text"), col("n_bytes"),
        explode(sequence(lit(0L), lit(3L))).as("frame_idx"))
      .filter(col("n_bytes") >= col("frame_idx") * 32 + 16)
      .select(col("doc_id"), col("frame_idx"),
        lower(hex(expr("cast(substr(text, cast(frame_idx * 32 + 1 as int), 16) as binary)")))
          .as("frame_hex"))
      .orderBy("doc_id", "frame_idx")

  /** mm_resize — the resize/resample access pattern over an opaque
    * payload: strided sampling down to a fixed-size representation
    * (for real media this is the thumbnail/spectrogram pass; the
    * Spark-side shape — per-row bounded recompute, no shuffle — is
    * identical). Output carries the resampled payload's checksum.
    */
  def resize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
      .withColumn("stride", greatest(lit(1L), expr("n div 32")))
      .withColumn("resized",
        expr("array_join(transform(sequence(0L, 31L), i -> substr(text, cast(i * stride + 1 as int), 1)), '')"))
      .select(col("doc_id"), col("n"), col("stride"),
        col("resized"), md5(col("resized")).as("resized_md5"))
      .orderBy("doc_id")

  /** Features decoded from a real PNG payload. */
  case class Decoded(doc_id: Long, width: Long, height: Long,
                     mean_u: Long, px_checksum: Long)

  /** Image edge for [[decodePng]]'s deterministic test images. */
  val PngEdge = 8

  /** mm_decode_png — a REAL codec behind the batch-decode seam:
    * each document renders to a deterministic [[PngEdge]]² grayscale
    * image (pixel i = code point i of the text mod 256, 0 past the
    * end), is ENCODED to actual PNG bytes and DECODED back with the
    * JDK's `javax.imageio` PNG codec inside the same typed
    * `mapPartitions` the earlier stub occupied (Arrow-batched
    * `mapInPandas` in a Python binding). The emitted features —
    * dimensions, exact micro-mean, order-weighted pixel checksum —
    * come from the DECODED raster, and PNG is lossless, so the DuckDB
    * oracle predicts them from the text alone: a green row certifies
    * a genuine encode→bytes→decode identity through a real codec, not
    * byte arithmetic. (The encoded byte stream itself is codec-
    * version-dependent and deliberately not oracle material.)
    */
  def decodePng(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edge = PngEdge
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val cps = text.codePoints().toArray
          val img = new java.awt.image.BufferedImage(
            edge, edge, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          for (y <- 0 until edge; x <- 0 until edge) {
            val i = y * edge + x
            val p = if (i < cps.length) cps(i) % 256 else 0
            img.getRaster.setSample(x, y, 0, p)
          }
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          // REAL decode: the round trip must reproduce every pixel
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(buf.toByteArray))
          var sum = 0L; var chk = 0L
          for (y <- 0 until back.getHeight; x <- 0 until back.getWidth) {
            val p = back.getRaster.getSample(x, y, 0).toLong
            val i = y * back.getWidth + x
            sum += p; chk += (i + 1) * p
          }
          Decoded(id, back.getWidth.toLong, back.getHeight.toLong,
            (1000000L * sum) / (edge.toLong * edge), chk)
        }
      }.toDF().orderBy("doc_id")
  }

  /** Hamming cut for [[phash]] — ≤ 3 differing bits over 4 16-bit
    * bands means a matching pair ALWAYS shares at least one band
    * (pigeonhole), so unlike the LSH S-curve families the banding here
    * is EXACT: the op returns every pair at or under the cut, no
    * recall caveat.
    */
  val PhashHamMax = 3L

  /** mm_phash — perceptual image near-duplication: the average-hash
    * (aHash) fingerprint over each document's decoded grayscale image
    * (bit i set iff pixel i is above the image mean — `p·64 > sum`,
    * integer, no division), then all pairs within [[PhashHamMax]]
    * Hamming bits via the same 4×16-bit band blocking [[graft.ops
    * .Dedup.simhash]] uses. The hash is computed from the raster AFTER
    * a real PNG encode→decode round trip (the codec seam), while the
    * oracle predicts it from the text alone — a green row certifies
    * the codec identity AND the fingerprint arithmetic. The 64-bit
    * fingerprint is carried as two 32-bit halves so neither engine
    * touches the sign bit of a BIGINT shift.
    *
    * At 100 TB: band buckets track duplicate-image families, not
    * corpus size; the verify join touches candidates only.
    */
  def phash(spark: SparkSession, dir: String): DataFrame =
    phashPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** [[phash]]'s pair frame WITHOUT the presentation sort — the
    * clustering consumers ([[phashCluster]], pipeline_mm) re-shuffle
    * immediately, so the global sort would be pure waste at their
    * scale (832k pairs at the sf1.0 sweep).
    */
  private[graft] def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    val (hashes, hp) = phashFrames(spark, dir)
    // expansion to doc pairs: hashes are unique per doc, the hash pair
    // is ordered, so each qualifying doc pair materializes exactly once
    val cross = hp
      .join(hashes.select(col("doc_id").as("da"), col("ph_lo").as("lo_a"),
        col("ph_hi").as("hi_a")).hint("merge"), Seq("lo_a", "hi_a"))
      .join(hashes.select(col("doc_id").as("db"), col("ph_lo").as("lo_b"),
        col("ph_hi").as("hi_b")).hint("merge"), Seq("lo_b", "hi_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    // identical-hash family pairs are hamming 0 by definition — no
    // banding, no verify, just the within-family enumeration
    val intra = hashes.as("x").join(hashes.as("y").hint("merge"),
        col("x.ph_lo") === col("y.ph_lo") && col("x.ph_hi") === col("y.ph_hi") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(intra)
  }

  /** The (doc_id, ph_lo, ph_hi) fingerprint frame and the qualifying
    * DISTINCT-hash pair frame (lo_a, hi_a, lo_b, hi_b, hamming) —
    * shared by the pair expansion and the hash-level clustering.
    *
    * Both are rebuilt per call: phash, phash_cluster and pipeline_mm
    * each run the codec pass in their own plan.
    */
  private def phashFrames(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // lazy checkpoint: consumed multiple times by the band-pair join,
    // but materialization folds into the first consumer action instead
    // of a dedicated per-call job
    val hashes = phashBuild(spark, dir).localCheckpoint(eager = false)
    (hashes, phashBandPairs(hashes))
  }

  private def phashBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edge = PngEdge
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val cps = text.codePoints().toArray
          val img = new java.awt.image.BufferedImage(
            edge, edge, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          for (y <- 0 until edge; x <- 0 until edge) {
            val i = y * edge + x
            img.getRaster.setSample(x, y, 0, if (i < cps.length) cps(i) % 256 else 0)
          }
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(buf.toByteArray))
          val px = new Array[Long](edge * edge)
          var sum = 0L
          for (y <- 0 until edge; x <- 0 until edge) {
            px(y * edge + x) = back.getRaster.getSample(x, y, 0).toLong
            sum += px(y * edge + x)
          }
          var lo = 0L; var hi = 0L
          for (i <- 0 until edge * edge)
            if (px(i) * (edge * edge) > sum) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
          (id, lo, hi)
        }
      }.toDF("doc_id", "ph_lo", "ph_hi")
  }

  /** The qualifying distinct-hash pair frame over a fingerprint frame. */
  private def phashBandPairs(hashes: DataFrame): DataFrame = {
    // Band-join on DISTINCT hashes, not docs: an identical-image
    // family (boilerplate covers, the all-flat zero hash) collapses
    // to ONE banding row, so a degenerate c-member family costs c
    // here instead of c² (measured at 10× bench scale: a 10,386-doc
    // band bucket → ~10⁸ doc-level candidates, 173 s; distinct-hash
    // banding → 4.5M, and the only family-quadratic work left is the
    // OUTPUT expansion — the true result size.
    val uniq = hashes.select("ph_lo", "ph_hi").distinct()
    val bands = uniq.select(col("ph_lo"), col("ph_hi"), posexplode(array(
        expr("ph_lo % 65536"), expr("ph_lo div 65536"),
        expr("ph_hi % 65536"), expr("ph_hi div 65536")))
      .as(Seq("band_i", "band_v")))
    val hp = bands.as("a").join(bands.as("b"),
        col("a.band_i") === col("b.band_i") &&
        col("a.band_v") === col("b.band_v") &&
        (col("a.ph_lo") < col("b.ph_lo") ||
          (col("a.ph_lo") === col("b.ph_lo") && col("a.ph_hi") < col("b.ph_hi"))))
      .select(col("a.ph_lo").as("lo_a"), col("a.ph_hi").as("hi_a"),
        col("b.ph_lo").as("lo_b"), col("b.ph_hi").as("hi_b"))
      .distinct()
      .withColumn("hamming",
        expr("cast(bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b) as bigint)"))
      .filter(col("hamming") <= PhashHamMax)
    hp
  }

  /** mm_phash_cluster — image-FAMILY canonicalization: connected
    * components over the phash near-dup graph, every doc labeled with
    * its family's min id + family size — the O(n) artifact an
    * image-dedup deployment acts on (keep one per family), versus the
    * family-quadratic pair list [[phash]] reports.
    *
    * The contraction runs on the HASH-level graph, never the doc
    * pairs: each identical-hash family collapses to its min doc id
    * (its guaranteed component minimum), hash pairs map to edges
    * between those representatives, and the alternating-star CC
    * (shared with dedup_cluster) runs on ≤ distinct-hash nodes — at
    * the sf1.0 sweep that is 9k nodes / ~50k edges instead of 50k
    * docs / 832k pair edges. Docs then inherit their
    * representative's component label in one merge-hinted join;
    * family sizes are recounted at doc level. Output is provably
    * identical to doc-level CC: every family member connects to its
    * representative, and the component minimum over representatives
    * IS the component's global min doc id.
    */
  def phashCluster(spark: SparkSession, dir: String): DataFrame = {
    val (hashes, hp) = phashFrames(spark, dir)
    val fam = hashes.groupBy("ph_lo", "ph_hi").agg(min("doc_id").as("hmin"))
    val he = hp
      .join(fam.select(col("ph_lo").as("lo_a"), col("ph_hi").as("hi_a"),
        col("hmin").as("doc_a")).hint("merge"), Seq("lo_a", "hi_a"))
      .join(fam.select(col("ph_lo").as("lo_b"), col("ph_hi").as("hi_b"),
        col("hmin").as("doc_b")).hint("merge"), Seq("lo_b", "hi_b"))
      .select(col("doc_a"), col("doc_b"))
    val cc = graft.ops.Dedup.connectedComponents(
      he, fam.select(col("hmin").as("doc_id")))
    val docLbl = hashes
      .join(fam.hint("merge"), Seq("ph_lo", "ph_hi"))
      .join(cc.select(col("doc_id").as("hmin"), col("cluster")).hint("merge"),
        Seq("hmin"))
      .select(col("doc_id"), col("cluster"))
    val sizes = docLbl.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    docLbl.join(sizes.hint("merge"), Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Features decoded from a real WAV payload. */
  case class DecodedWav(doc_id: Long, n_samples: Long, sample_rate: Long,
                        sum_s: Long, s_checksum: Long, peak: Long)

  /** Sample count / rate for [[decodeWav]]'s deterministic clips. */
  val WavSamples = 256
  val WavRate = 8000

  /** mm_decode_wav — the AUDIO twin of [[decodePng]], through a
    * DIFFERENT real codec: each document renders to a deterministic
    * [[WavSamples]]-sample 16-bit mono PCM clip (sample i =
    * (code point i mod 256)·257 − 32768, silence past the end), is
    * serialized to actual RIFF/WAVE bytes (hand-written container:
    * RIFF size, fmt chunk, data chunk) and decoded back with the
    * JDK's `javax.sound.sampled.AudioSystem` WAV reader inside the
    * same batch-decode seam. The emitted features — frame count and
    * sample rate FROM THE DECODER, exact sample sum, order-weighted
    * checksum, peak amplitude — come from the decoded frames, and PCM
    * is lossless, so the DuckDB oracle predicts them from the text
    * alone: a green row certifies a genuine encode→bytes→decode
    * identity through a second independent codec family.
    */
  def decodeWav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nSamples, rate) = (WavSamples, WavRate)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val cps = text.codePoints().toArray
          val out = new java.io.ByteArrayOutputStream()
          def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
          def w32(v: Long): Unit = {
            out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
            out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
          }
          val dataLen = nSamples * 2
          out.write("RIFF".getBytes("US-ASCII")); w32(36L + dataLen)
          out.write("WAVE".getBytes("US-ASCII"))
          out.write("fmt ".getBytes("US-ASCII")); w32(16L)
          w16(1); w16(1)                    // PCM, mono
          w32(rate.toLong); w32(rate.toLong * 2) // sample rate, byte rate
          w16(2); w16(16)                   // block align, bits
          out.write("data".getBytes("US-ASCII")); w32(dataLen.toLong)
          for (i <- 0 until nSamples) {
            val s = if (i < cps.length) (cps(i) % 256) * 257 - 32768 else 0
            w16(s & 0xffff)
          }
          // REAL decode: format fields and frames come from the codec
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(out.toByteArray))
          val fmt = ais.getFormat
          require(fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED, "not PCM")
          val frames = ais.getFrameLength
          val buf = ais.readAllBytes()
          var sum = 0L; var chk = 0L; var peak = 0L
          for (i <- 0 until frames.toInt) {
            val s = (((buf(2 * i + 1) & 0xff) << 8) | (buf(2 * i) & 0xff)).toShort.toLong
            sum += s; chk += (i + 1) * s; peak = math.max(peak, math.abs(s))
          }
          DecodedWav(id, frames, fmt.getSampleRate.toLong, sum, chk, peak)
        }
      }.toDF().orderBy("doc_id")
  }

  /** Per-frame features extracted from a decoded WAV payload. */
  case class AudioFrame(doc_id: Long, frame_id: Long, n: Long,
                        energy: Long, zcr: Long, peak: Long, sum_s: Long)

  /** Analysis-frame length for [[audioFeats]] (samples per frame). */
  val WavFrameLen = 64

  /** mm_audio_feats — frame-level audio feature extraction, the step
    * a speech/audio training pipeline runs right after decode: the
    * same deterministic clip as [[decodeWav]] round-trips through the
    * REAL RIFF/WAVE codec (encode to bytes, decode with the JDK
    * reader), then each [[WavFrameLen]]-sample analysis frame emits
    * exact-integer features — energy Σs² (≤ 2^36, no overflow),
    * zero-crossing count (adjacent products < 0 — the classic
    * voiced/unvoiced discriminator), peak amplitude, and sample sum.
    * PCM is lossless so the DuckDB oracle predicts every frame from
    * the text alone; a mismatch anywhere in container, codec, or
    * framing turns the row red.
    *
    * Scale shape: map-only over documents (one flatMap emitting
    * n_samples/frame_len rows per doc inside the one mapPartitions
    * batch seam — payload bytes never leave the executor), zero
    * shuffles before the output sort.
    */
  def audioFeats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nSamples, rate, frameLen) = (WavSamples, WavRate, WavFrameLen)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val cps = text.codePoints().toArray
          val out = new java.io.ByteArrayOutputStream()
          def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
          def w32(v: Long): Unit = {
            out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
            out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
          }
          val dataLen = nSamples * 2
          out.write("RIFF".getBytes("US-ASCII")); w32(36L + dataLen)
          out.write("WAVE".getBytes("US-ASCII"))
          out.write("fmt ".getBytes("US-ASCII")); w32(16L)
          w16(1); w16(1)
          w32(rate.toLong); w32(rate.toLong * 2)
          w16(2); w16(16)
          out.write("data".getBytes("US-ASCII")); w32(dataLen.toLong)
          for (i <- 0 until nSamples) {
            val s = if (i < cps.length) (cps(i) % 256) * 257 - 32768 else 0
            w16(s & 0xffff)
          }
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(out.toByteArray))
          require(ais.getFormat.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED, "not PCM")
          val buf = ais.readAllBytes()
          val samples = Array.tabulate(ais.getFrameLength.toInt) { i =>
            (((buf(2 * i + 1) & 0xff) << 8) | (buf(2 * i) & 0xff)).toShort.toLong
          }
          samples.grouped(frameLen).zipWithIndex.map { case (fr, fi) =>
            var energy = 0L; var zcr = 0L; var peak = 0L; var sum = 0L
            for (j <- fr.indices) {
              energy += fr(j) * fr(j); sum += fr(j)
              peak = math.max(peak, math.abs(fr(j)))
              if (j > 0 && fr(j - 1) * fr(j) < 0) zcr += 1
            }
            AudioFrame(id, fi.toLong, fr.length.toLong, energy, zcr, peak, sum)
          }
        }
      }.toDF().orderBy("doc_id", "frame_id")
  }

  /** mm_vad — ACTIVITY SEGMENTATION over the decoded audio frames
    * (the step after [[audioFeats]] in a speech pipeline: collapse
    * frame features into voiced/active SEGMENTS the trainer crops
    * to). A frame is active iff its energy exceeds the clip's mean
    * frame energy — compared in EXACT integers (energy·n_frames >
    * Σenergy: no division, so both engines agree bit-for-bit on every
    * boundary) — and consecutive active frames collapse into one
    * segment via the lag→change-flag→island machinery, emitting
    * (segment ordinal, start frame, length, energy mass) per clip.
    *
    * Scale shape: rides [[audioFeats]]'s map-only frame extraction;
    * the segmentation adds one doc-keyed window pass and one bounded
    * aggregation — state per clip is its frame count, never samples.
    */
  def vad(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = audioFeats(spark, dir).select("doc_id", "frame_id", "energy")
    val w = Window.partitionBy("doc_id").orderBy("frame_id")
    val tot = Window.partitionBy("doc_id")
    fr
      .withColumn("active",
        (col("energy") * count(lit(1)).over(tot) >
          sum(col("energy")).over(tot)).cast("long"))
      .withColumn("changed",
        (lag(col("active"), 1).over(w).isNull ||
          lag(col("active"), 1).over(w) =!= col("active")).cast("long"))
      .withColumn("island", sum(col("changed")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("active") === 1)
      .groupBy("doc_id", "island")
      .agg(min("frame_id").as("start_frame"),
        count(lit(1)).as("n_frames"),
        sum("energy").as("sum_energy"))
      .withColumn("seg_id", row_number().over(
        Window.partitionBy("doc_id").orderBy("start_frame")).cast("long"))
      .select("doc_id", "seg_id", "start_frame", "n_frames", "sum_energy")
      .orderBy("doc_id", "seg_id")
  }

  /** Features decoded from a real JPEG2000 payload. */
  case class DecodedJp2(doc_id: Long, width: Long, height: Long,
                        sum_p: Long, p_checksum: Long, peak: Long)

  /** Image edge for [[decodeJp2]]'s deterministic 16-bit pages. */
  val Jp2Edge = 16

  /** mm_decode_jp2 — a THIRD real codec family behind the same
    * batch-decode seam, and unlike the PNG/WAV twins this one is OUR
    * codec end to end: each document renders to a deterministic
    * [[Jp2Edge]]² 16-bit grayscale page (pixel i =
    * (code point i mod 256)·257, 0 past the end), is encoded to a
    * real `.jp2` — JP2 boxes, 5/3 wavelet, MQ-coded EBCOT passes
    * ([[graft.sources.Jp2Codec]]) — and decoded back inside the same
    * typed `mapPartitions`. The reversible transform is lossless, so
    * the DuckDB oracle predicts the decoded-pixel features (exact
    * sum, order-weighted checksum, peak) from the text alone: a green
    * row certifies the full entropy encode→bytes→decode identity on
    * every document, at corpus width, on executors.
    */
  def decodeJp2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edge = Jp2Edge
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      // entropy coding is ~0.6 ms/doc of pure CPU — orders of magnitude
      // denser than the scan. A single parquet file would otherwise pin
      // the whole corpus to one core; the row shuffle is noise next to
      // the codec work, and at real corpus width the input is already
      // many splits so this just evens the skew.
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val cps = text.codePoints().toArray
          val page = Array.tabulate(edge, edge) { (y, x) =>
            val i = y * edge + x
            if (i < cps.length) ((cps(i) % 256) * 257).toLong else 0L
          }
          val bytes = graft.sources.Jp2Binary.serialize(page)
          // REAL decode: every feature comes from the decoded raster
          val back = graft.sources.Jp2Binary.decode(bytes)
          var sum = 0L; var chk = 0L; var peak = 0L
          for (y <- back.indices; x <- back(y).indices) {
            val p = back(y)(x)
            val i = y * edge + x
            sum += p; chk += (i + 1) * p; peak = math.max(peak, p)
          }
          DecodedJp2(id, back.head.length.toLong, back.length.toLong,
            sum, chk, peak)
        }
      }.toDF().orderBy("doc_id")
  }

  /** mm_patchify — ViT-style patch extraction over an opaque payload
    * viewed as a character grid: the first 8 rows of width 16 split
    * into a 4×2 grid of 4×4 patches (px ∈ 0..3, py ∈ 0..1); each
    * patch concatenates its 4 row-slices and carries the exact
    * integer code-point sum (the pixel-intensity stand-in — ascii()
    * of each cell, identical in both engines). Only fully-covered
    * patches emit (payload must reach the patch's last row). The
    * Spark shape is the real one for image patching at 100 TB: a
    * per-row bounded generator (explode of a static 8-cell grid),
    * zero shuffles, all scan-side codegen.
    */
  def patchify(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
      .select(col("doc_id"), col("text"), col("n"),
        explode(expr(
          "transform(sequence(0L, 7L), g -> struct(g % 4 AS px, g div 4 AS py))")).as("g"))
      .select(col("doc_id"), col("g.px").as("px"), col("g.py").as("py"),
        col("text"), col("n"))
      // last needed char: row (py*4+3), cols (px*4+1 .. px*4+4)
      .filter(col("n") >= (col("py") * 4 + 3) * 16 + col("px") * 4 + 4)
      .withColumn("patch", expr(
        "array_join(transform(sequence(0L, 3L), " +
          "r -> substr(text, cast((py * 4 + r) * 16 + px * 4 + 1 as int), 4)), '')"))
      .select(col("doc_id"), col("px"), col("py"), col("patch"),
        expr("aggregate(transform(sequence(1, length(patch)), " +
          "i -> cast(ascii(substr(patch, i, 1)) as bigint)), 0L, (a, x) -> a + x)")
          .as("cp_sum"))
      .orderBy("doc_id", "py", "px")

  /** Frames examined per payload and the nibble-L1 cut threshold for
    * [[sceneDetect]] (τ picked against the measured frame-diff
    * distribution: p10 ≈ 84, median ≈ 108, p90 ≈ 134 → 120 splits
    * "same scene" from "cut" without saturating either way).
    */
  val SceneFrames = 8L
  val SceneTau = 120L

  /** mm_scene_detect — shot-boundary detection over the strided frame
    * samples (the [[frameSample]] access pattern widened to
    * [[SceneFrames]] frames): consecutive frames are compared by
    * nibble-level L1 distance on their first-16-byte hex (for real
    * video this is the luma-histogram L1 every production cut
    * detector starts from; the Spark-side shape — per-key ordered
    * lag, bounded per-row compare, running-sum segmentation — is
    * identical), a cut fires at distance ≥ [[SceneTau]], and cuts
    * partition each payload into scenes. Per doc: frame count, cut
    * count, scene count, and the longest scene run — the
    * "sample k frames per SCENE, not per video" statistic a
    * multimodal training pipeline shards by.
    *
    * All arithmetic is integer (hex-nibble parse + abs-diff + sums),
    * so both engines agree exactly. Scale shape: everything is keyed
    * by doc_id — one lag window, one 32-position explode + sum
    * (codegen'd, never an interpreted HOF lambda), one running-sum
    * window, one two-level aggregation; frames per payload are
    * bounded by [[SceneFrames]] so state per key is O(1).
    */
  def sceneDetect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .select(col("doc_id"), col("text"), col("n_bytes"),
        explode(sequence(lit(0L), lit(SceneFrames - 1))).as("frame_idx"))
      .filter(col("n_bytes") >= col("frame_idx") * 32 + 16)
      .select(col("doc_id"), col("frame_idx"),
        lower(hex(expr("cast(substr(text, cast(frame_idx * 32 + 1 as int), 16) as binary)")))
          .as("h"))
    val wd = Window.partitionBy("doc_id").orderBy("frame_idx")
    val withPrev = fr.withColumn("hp", lag(col("h"), 1).over(wd))
    // nibble L1 vs the previous frame: 32 hex positions exploded and
    // summed back — frame 0 (no predecessor) scores null → never a cut
    val diffs = withPrev
      .select(col("doc_id"), col("frame_idx"), col("hp").isNotNull.as("has_prev"),
        explode(sequence(lit(1), lit(32))).as("p"), col("h"), col("hp"))
      .select(col("doc_id"), col("frame_idx"), col("has_prev"),
        when(col("has_prev"),
          abs(expr("cast(conv(substr(h, p, 1), 16, 10) as long)") -
            expr("cast(conv(substr(hp, p, 1), 16, 10) as long)")))
          .otherwise(lit(0L)).as("dv"))
      .groupBy("doc_id", "frame_idx")
      .agg(max(col("has_prev")).as("has_prev"), sum(col("dv")).as("d"))
    val cuts = diffs.withColumn("cut",
      (col("has_prev") && col("d") >= SceneTau).cast("long"))
    val scenes = cuts
      .withColumn("scene_id",
        sum(col("cut")).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "scene_id").agg(count(lit(1)).as("scene_len"),
        sum(col("cut")).as("sc_cuts"))
      .groupBy("doc_id").agg(
        sum(col("scene_len")).as("n_frames"),
        sum(col("sc_cuts")).as("n_cuts"),
        count(lit(1)).as("n_scenes"),
        max(col("scene_len")).as("max_scene_len"))
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(scenes, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        coalesce(col("n_scenes"), lit(0L)).as("n_scenes"),
        coalesce(col("max_scene_len"), lit(0L)).as("max_scene_len"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_patchify" -> (patchify _),
    "mm_scene_detect" -> (sceneDetect _),
    "mm_pack" -> (pack _),
    "mm_meta_extract" -> (metaExtract _),
    "mm_frame_sample" -> (frameSample _),
    "mm_resize" -> (resize _),
    "mm_decode_png" -> (decodePng _),
    "mm_phash" -> (phash _),
    "mm_phash_cluster" -> (phashCluster _),
    "mm_decode_wav" -> (decodeWav _),
    "mm_audio_feats" -> (audioFeats _),
    "mm_vad" -> (vad _),
    "mm_decode_jp2" -> (decodeJp2 _)
  )
}
