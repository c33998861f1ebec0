package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, processed by batch-oriented
  * per-partition decode functions (the Scala analogue of a
  * vectorized/batched decode UDF).
  *
  * Uncompressed public container formats decode for REAL (pure-JVM
  * header parsers: [[decodeBmp]], [[decodeWav]]); compressed codecs
  * are STUBBED (`decodeStub`'s fallback — no codec libraries in this
  * environment) with deterministic fake dimensions derived from the
  * payload bytes. Everything around the decode — the schema contract,
  * binary column handling, partition-batched execution, frame-sampling
  * explode, downstream aggregation — is real Spark plumbing, and is
  * what matters at 100 TB (payload bytes stay columnar, never
  * shuffled: metadata is extracted first and payloads dropped before
  * any wide operation).
  */
object Multimodal {

  /** A media file row: opaque payload + source metadata. */
  final case class MediaFile(doc_id: Long, mime: String, payload: Array[Byte])

  /** Extracted metadata — what a real decoder would emit. */
  final case class MediaMeta(
      doc_id: Long,
      mime: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: Long)

  /** One sampled frame reference. */
  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_key: String)

  private def fnv64(payload: Array[Byte]): Long = {
    var h = 1469598103934665603L // FNV offset basis, pure-JVM determinism
    var i = 0
    while (i < payload.length) { h = (h ^ (payload(i) & 0xffL)) * 1099511628211L; i += 1 }
    h
  }

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** REAL decode path: BMP (BITMAPINFOHEADER) header parse. Gated on
    * the "BM" magic plus structural validity (biSize = 40, sane
    * dimensions) so arbitrary binary/text payloads can never
    * false-positive into garbage dimensions. Negative height is the
    * legal top-down encoding. Pure JVM — no codec dependency.
    */
  def decodeBmp(f: MediaFile): Option[MediaMeta] = {
    val p = f.payload
    if (p.length >= 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte && le32(p, 14) == 40) {
      val w = le32(p, 18)
      val h = le32(p, 22)
      // Bounds BEFORE abs: math.abs(Int.MinValue) is negative, so an
      // abs-then-compare gate would accept biHeight = 0x80000000.
      if (w > 0 && w < 65536 && h != 0 && h > -65536 && h < 65536)
        Some(MediaMeta(f.doc_id, "image/bmp", p.length.toLong, w, math.abs(h), 1, fnv64(p)))
      else None
    } else None
  }

  /** REAL decode path: WAV (RIFF) chunk walk — fmt gives sample rate /
    * channels / block align, data gives the payload span; n_frames is
    * the per-channel sample-frame count (dataBytes / blockAlign).
    * Metadata mapping: width = sample rate, height = channels. Chunks
    * are word-aligned per the RIFF spec. Pure JVM.
    */
  /** One parsed RIFF/WAVE header — the shared output of [[walkRiff]];
    * each caller applies its own validity rules on top.
    */
  private final case class RiffWave(
      channels: Int, rate: Int, bits: Int, block: Int, dataOff: Long, dataLen: Long)

  /** THE RIFF chunk walk — the single copy of the untrusted-size
    * rules shared by [[decodeWav]] and [[afp64]] (two verbatim copies
    * previously: a hardening fix applied to one walk would silently
    * miss the other). Long offsets + every-chunk-must-fit: declared
    * sizes are untrusted (a size near 2³¹ would wrap an Int walk into
    * a negative offset and crash the task instead of falling through
    * to the stub; a truncated data chunk would overstate n_frames).
    * Chunks advance word-aligned per the RIFF spec.
    */
  private def walkRiff(p: Array[Byte]): Option[RiffWave] = {
    val riff = p.length >= 44 &&
      p(0) == 'R'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte && p(3) == 'F'.toByte &&
      p(8) == 'W'.toByte && p(9) == 'A'.toByte && p(10) == 'V'.toByte && p(11) == 'E'.toByte
    if (!riff) return None
    var off = 12L
    var channels = 0
    var rate = 0
    var bits = 0
    var block = 0
    var dataOff = -1L
    var dataLen = -1L
    while (off + 8 <= p.length) {
      val id = new String(p, off.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = le32(p, off.toInt + 4).toLong & 0xffffffffL
      if (off + 8 + sz > p.length) return None // malformed/truncated
      if (id == "fmt " && sz >= 16) {
        channels = le16(p, off.toInt + 10)
        rate = le32(p, off.toInt + 12)
        block = le16(p, off.toInt + 20)
        bits = le16(p, off.toInt + 22)
      } else if (id == "data") { dataOff = off + 8; dataLen = sz }
      off += 8 + sz + (sz & 1)
    }
    Some(RiffWave(channels, rate, bits, block, dataOff, dataLen))
  }

  def decodeWav(f: MediaFile): Option[MediaMeta] = {
    val p = f.payload
    walkRiff(p).collect {
      case r if r.channels > 0 && r.rate > 0 && r.block > 0 && r.dataLen >= 0 =>
        MediaMeta(f.doc_id, "audio/wav", p.length.toLong, r.rate, r.channels,
          (r.dataLen / r.block).toInt, fnv64(p))
    }
  }

  /** Deterministic fake decode of a payload batch. Runs per partition
    * (batched, like a vectorized decode). Payloads with a recognized
    * public container magic take a REAL pure-JVM header parse
    * ([[decodeBmp]], [[decodeWav]]); everything else falls through to
    * the clearly-marked stub (no image/audio codecs in this
    * environment for compressed formats).
    */
  def decodeStub(files: Iterator[MediaFile]): Iterator[MediaMeta] =
    files.map { f =>
      decodeBmp(f).orElse(decodeWav(f)).getOrElse {
        // STUB: a real implementation would decode f.payload here.
        val n = f.payload.length.toLong
        val h = fnv64(f.payload)
        val width = (math.abs(h % 1280L) + 16L).toInt
        val height = (math.abs((h >> 16) % 720L) + 16L).toInt
        val frames = (math.abs((h >> 32) % 30L) + 1L).toInt
        MediaMeta(f.doc_id, f.mime, n, width, height, frames, h)
      }
    }

  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }
  private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  /** A structurally valid 24-bit BMP header (+ `doc_id%64` trailing pad
    * bytes; no pixel data — the parser reads only the header), every
    * field derived arithmetically from `doc_id` so an engine-portable
    * oracle can predict what the REAL parser must emit. Every 5th doc
    * stores the legal negative (top-down) height, exercising the
    * parser's abs path.
    */
  def buildBmp(id: Long): Array[Byte] = {
    val w = 16 + (id % 617).toInt
    val h = 16 + ((id * 7) % 411).toInt
    val stored = if (id % 5 == 0) -h else h
    val b = new Array[Byte](54 + (id % 64).toInt)
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    putLe32(b, 2, b.length) // file size
    putLe32(b, 10, 54) // pixel-array offset
    putLe32(b, 14, 40) // BITMAPINFOHEADER
    putLe32(b, 18, w)
    putLe32(b, 22, stored)
    putLe16(b, 26, 1) // planes
    putLe16(b, 28, 24) // bpp
    b
  }

  /** A structurally valid PCM WAV (RIFF/fmt/data) whose rate, channel
    * count and sample-frame count derive arithmetically from `doc_id`
    * (data chunk is zeros — the parser reads only structure).
    */
  def buildWav(id: Long): Array[Byte] = {
    val channels = 1 + ((id / 2) % 2).toInt
    val rate = 8000 + (id % 8).toInt * 1000
    val block = channels * 2 // 16-bit samples
    val dataBytes = block * (1 + (id % 100).toInt)
    val b = new Array[Byte](44 + dataBytes)
    b(0) = 'R'.toByte; b(1) = 'I'.toByte; b(2) = 'F'.toByte; b(3) = 'F'.toByte
    putLe32(b, 4, 36 + dataBytes)
    b(8) = 'W'.toByte; b(9) = 'A'.toByte; b(10) = 'V'.toByte; b(11) = 'E'.toByte
    b(12) = 'f'.toByte; b(13) = 'm'.toByte; b(14) = 't'.toByte; b(15) = ' '.toByte
    putLe32(b, 16, 16) // fmt chunk size
    putLe16(b, 20, 1) // PCM
    putLe16(b, 22, channels)
    putLe32(b, 24, rate)
    putLe32(b, 28, rate * block) // byte rate
    putLe16(b, 32, block)
    putLe16(b, 34, 16) // bits per sample
    b(36) = 'd'.toByte; b(37) = 'a'.toByte; b(38) = 't'.toByte; b(39) = 'a'.toByte
    putLe32(b, 40, dataBytes)
    b
  }

  /** A COMPLETE 24-bit BMP — header plus bottom-up, 4-byte-padded
    * pixel rows — whose content is a smooth two-frequency luma field
    * derived from `seed`: smooth enough that a small `phase` jitter
    * leaves most dHash gradient signs intact (a perceptual
    * near-duplicate), while a different seed reshapes the field
    * entirely. Exists so the perceptual-dedup path runs on REAL pixel
    * data end-to-end with no codec dependency ([[buildBmp]] stays
    * header-only for the x49 header-oracle contract).
    */
  def buildBmpPixels(seed: Long, phase: Double = 0.0, w: Int = 32, h: Int = 32): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val b = new Array[Byte](54 + stride * h)
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    putLe32(b, 2, b.length)
    putLe32(b, 10, 54)
    putLe32(b, 14, 40)
    putLe32(b, 18, w)
    putLe32(b, 22, h) // bottom-up
    putLe16(b, 26, 1)
    putLe16(b, 28, 24)
    val ax = 0.13 + (math.abs(seed) % 7) * 0.11
    val ay = 0.17 + (math.abs(seed / 7) % 5) * 0.09
    val p0 = (math.abs(seed) % 97) * 0.065
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = 128.0 + 60.0 * math.sin(ax * x + ay * y + p0 + phase) +
          40.0 * math.cos(ay * x * 0.5 - ax * y * 0.7 + p0)
        val lum = math.max(0, math.min(255, v.toInt))
        val off = 54 + (h - 1 - y) * stride + x * 3
        b(off) = lum.toByte; b(off + 1) = lum.toByte; b(off + 2) = lum.toByte
        x += 1
      }
      y += 1
    }
    b
  }

  /** 64-bit difference hash over a decoded 24-bit BMP pixel array:
    * 9×8 box-mean luma grid, bit (gy·8 + gx) set where cell (gx+1)
    * out-brightens cell gx in its row. Gradient SIGNS survive
    * brightness shifts and small content jitter — the classic
    * perceptual near-dup signature. None for anything that isn't a
    * parseable ≥9×8 24-bit BMP WITH pixel data (the header-only x49
    * containers fall out here, by design).
    */
  def dhash64(f: MediaFile): Option[Long] = {
    val b = f.payload
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(b, 10)
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val h = math.abs(hRaw)
    if (le16(b, 28) != 24 || w < 9 || h < 8) return None
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff < 54 || b.length < dataOff + stride.toLong * h) return None
    // box-mean luma per grid cell (integer sums — deterministic)
    val means = Array.ofDim[Long](8, 9)
    var gy = 0
    while (gy < 8) {
      val y0 = (gy * h) / 8; val y1 = ((gy + 1) * h) / 8
      var gx = 0
      while (gx < 9) {
        val x0 = (gx * w) / 9; val x1 = ((gx + 1) * w) / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          val fileRow = if (hRaw > 0) h - 1 - y else y
          val rowOff = dataOff + fileRow * stride
          var x = x0
          while (x < x1) {
            val off = rowOff + x * 3
            val lum = (29 * (b(off) & 0xff) + 150 * (b(off + 1) & 0xff) +
              77 * (b(off + 2) & 0xff)) >> 8
            sum += lum
            x += 1
          }
          y += 1
        }
        means(gy)(gx) = sum / math.max(1, (y1 - y0).toLong * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    var sig = 0L
    gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (means(gy)(gx + 1) > means(gy)(gx)) sig |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    Some(sig)
  }

  /** A COMPLETE mono 16-bit PCM WAV whose samples are a carrier under
    * a smooth seed-derived amplitude envelope — the audio analogue of
    * [[buildBmpPixels]]: a small carrier `phase` jitter leaves the
    * window-energy profile (and so the fingerprint) intact, while a
    * different seed reshapes the envelope. 65 windows × 32 samples.
    */
  def buildWavSamples(seed: Long, phase: Double = 0.0): Array[Byte] = {
    val windows = 65
    val perWin = 32
    val n = windows * perWin
    val dataBytes = n * 2
    val b = new Array[Byte](44 + dataBytes)
    b(0) = 'R'.toByte; b(1) = 'I'.toByte; b(2) = 'F'.toByte; b(3) = 'F'.toByte
    putLe32(b, 4, 36 + dataBytes)
    b(8) = 'W'.toByte; b(9) = 'A'.toByte; b(10) = 'V'.toByte; b(11) = 'E'.toByte
    b(12) = 'f'.toByte; b(13) = 'm'.toByte; b(14) = 't'.toByte; b(15) = ' '.toByte
    putLe32(b, 16, 16)
    putLe16(b, 20, 1) // PCM
    putLe16(b, 22, 1) // mono
    putLe32(b, 24, 8000)
    putLe32(b, 28, 8000 * 2)
    putLe16(b, 32, 2)
    putLe16(b, 34, 16)
    b(36) = 'd'.toByte; b(37) = 'a'.toByte; b(38) = 't'.toByte; b(39) = 'a'.toByte
    putLe32(b, 40, dataBytes)
    val ae = 0.23 + (math.abs(seed) % 11) * 0.04
    val be = 0.31 + (math.abs(seed / 11) % 7) * 0.05
    val pe = (math.abs(seed) % 89) * 0.07
    var i = 0
    while (i < n) {
      val w = i / perWin
      val amp = 8000.0 + 6000.0 * math.sin(ae * w + pe) + 3000.0 * math.cos(be * w - pe)
      val s = (amp * math.sin(0.7 * i + phase)).toInt
      putLe16(b, 44 + i * 2, s & 0xffff)
      i += 1
    }
    b
  }

  /** 64-bit audio fingerprint over real PCM samples: the data chunk's
    * first channel split into 65 equal windows, per-window energy
    * (Σ s², long arithmetic), bit i set where window i+1 out-powers
    * window i. Energy-delta SIGNS survive carrier phase shifts and
    * uniform gain — the audio sibling of [[dhash64]]. None for
    * non-PCM-16, sample-less, or too-short audio (the zero-sample x49
    * containers produce a constant profile and are rejected by the
    * all-equal guard).
    */
  def afp64(f: MediaFile): Option[Long] = {
    val p = f.payload
    val r = walkRiff(p).getOrElse(return None)
    if (r.channels < 1 || r.bits != 16 || r.block < 2 || r.dataOff < 0) return None
    val (block, dataOff) = (r.block, r.dataOff)
    val frames = (r.dataLen / block).toInt
    if (frames < 65) return None
    val energy = new Array[Long](65)
    var w = 0
    while (w < 65) {
      // Long window bounds: w·frames in Int wraps negative past ~33.5M
      // sample frames (a ~70-minute clip at 8 kHz) — f0/f1 then go
      // negative and p(o) throws instead of fingerprinting
      val f0 = (w.toLong * frames / 65).toInt; val f1 = ((w + 1).toLong * frames / 65).toInt
      var sum = 0L
      var fr = f0
      while (fr < f1) {
        val o = (dataOff + fr.toLong * block).toInt
        val s = ((p(o) & 0xff) | (p(o + 1) << 8)).toShort.toLong // first channel
        sum += s * s
        fr += 1
      }
      energy(w) = sum
      w += 1
    }
    var sig = 0L
    var allEq = true
    var i = 0
    while (i < 64) {
      if (energy(i + 1) > energy(i)) sig |= 1L << i
      if (energy(i + 1) != energy(i)) allEq = false
      i += 1
    }
    if (allEq) None else Some(sig) // silence/zero fill carries no signature
  }

  /** A perceptual audio signature row. */
  final case class AudioSig(doc_id: Long, afp: Long)

  /** Per-clip audio fingerprints `(doc_id, afp)`; non-audio and
    * silent payloads drop out at the decode boundary.
    */
  def audioFingerprints(media: Dataset[MediaFile])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.mapPartitions(_.flatMap(f => afp64(f).map(h => AudioSig(f.doc_id, h)))).toDF()
  }

  /** Perceptual audio near-dup pairs through the shared pigeonhole
    * banding. Output: (id_a, id_b, hamming).
    */
  def audioNearDupPairs(
      media: Dataset[MediaFile],
      maxHamming: Int = 3)(implicit spark: SparkSession): DataFrame =
    graft.operators.Dedup.hammingPairs64(audioFingerprints(media), "doc_id", "afp", maxHamming)

  /** A perceptual image signature row. */
  final case class ImageSig(doc_id: Long, dhash: Long)

  /** Per-image perceptual signatures `(doc_id, dhash)` for every
    * parseable pixel-bearing BMP; opaque payloads drop out. The
    * mapPartitions is the decode boundary — payloads die here, only
    * 8-byte signatures flow downstream.
    */
  def imageDHashes(media: Dataset[MediaFile])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.mapPartitions(_.flatMap(f => dhash64(f).map(h => ImageSig(f.doc_id, h)))).toDF()
  }

  /** Perceptual image near-dup pairs: dHash signatures through the
    * same 4×16-bit pigeonhole banding as text SimHash
    * ([[Dedup.hammingPairs64]] — complete for hamming ≤ 3, no
    * all-pairs). Output: (id_a, id_b, hamming).
    */
  def imageNearDupPairs(
      media: Dataset[MediaFile],
      maxHamming: Int = 3)(implicit spark: SparkSession): DataFrame =
    graft.operators.Dedup.hammingPairs64(imageDHashes(media), "doc_id", "dhash", maxHamming)

  /** The synthesize → meta → stub-feature pipeline as a MEMOIZED
    * (vec_id, embedding) table. Typed pipelines embed fresh closure
    * objects per construction, so a plan-matched entry
    * ([[OpCache.cached]]) can never hit across invocations — the entry
    * is keyed on the untyped `docs` plan instead, and repeated
    * in-session consumers (the multimodal ANN query, its recall gate)
    * share one persisted feature table rather than re-running the
    * encode pipeline each time.
    */
  def featureTable(docs: DataFrame)(implicit spark: SparkSession): DataFrame =
    OpCache.byInput(Seq("mm.feats"), docs)(
      extractFeaturesStub(extractMeta(synthesizeMedia(docs))).toDF()
        .select(col("doc_id").as("vec_id"), col("feature").as("embedding")))

  /** Synthesize VALID containers corpus-wide (BMP for even ids, WAV for
    * odd) so the real header parsers run over every row and their
    * output is predictable row-by-row from `doc_id` alone — the basis
    * of the portable multimodal oracle (x49).
    */
  def synthesizeContainers(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaFile] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      if (id % 2 == 0) MediaFile(id, "image/bmp", buildBmp(id))
      else MediaFile(id, "audio/wav", buildWav(id))
    }
  }

  /** Synthesize a media table from `documents` (the container ships no
    * real media): payload = UTF-8 bytes of the text, mime cycled by id.
    */
  def synthesizeMedia(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaFile] = {
    import spark.implicits._
    docs
      .select(
        col("doc_id"),
        // pmod, not %: a negative doc_id would index 0 (a runtime
        // error — SQL array indices start at 1) or −1 (silently the
        // wrong mime) instead of cycling
        element_at(
          array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("mime"),
        // null text is an EMPTY payload, not a null one: a null
        // payload NPEs in the decode boundary's header probes; empty
        // bytes take the stub path deterministically
        coalesce(encode(col("text"), "UTF-8"), lit(Array.empty[Byte])).as("payload"))
      .as[MediaFile]
  }

  /** Batched metadata extraction: payloads are dropped at this
    * boundary — only fixed-width metadata flows downstream.
    */
  def extractMeta(media: Dataset[MediaFile])(implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    media.mapPartitions(decodeStub)
  }

  /** Sample up to `maxFrames` evenly-spaced frames per video/image —
    * a narrow explode over metadata (no payload rescan).
    */
  def sampleFrames(meta: Dataset[MediaMeta], maxFrames: Int = 4)(implicit spark: SparkSession): Dataset[FrameSample] = {
    import spark.implicits._
    meta
      .flatMap { m =>
        val step = math.max(1, m.n_frames / maxFrames)
        (0 until m.n_frames by step).take(maxFrames).map { idx =>
          FrameSample(m.doc_id, idx, f"${m.doc_id}%d/${m.checksum}%016x/$idx%04d")
        }
      }
  }

  /** A media feature row: fixed-width embedding extracted per file. */
  final case class MediaFeature(doc_id: Long, mime: String, feature: Array[Float])

  /** Batched feature extraction (the CLIP/encoder slot of a real
    * pipeline). STUB: derives a deterministic unit-norm vector from
    * the decode checksum via splitmix64 — no model in this
    * environment. The plumbing is the real contract: batched
    * per-partition execution, payloads never outlive the call, output
    * is a fixed-width `array<float>` ready for the Similarity
    * operators (ANN/near-dup run unchanged on it).
    */
  def extractFeaturesStub(meta: Dataset[MediaMeta], dim: Int = 16)(implicit spark: SparkSession): Dataset[MediaFeature] = {
    import spark.implicits._
    meta.mapPartitions(_.map { m =>
      // STUB: a real implementation would run an encoder over decoded
      // pixels/samples here.
      var x = m.checksum
      val v = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        v(i) = ((z ^ (z >>> 31)).toDouble / Long.MaxValue).toFloat
        i += 1
      }
      val norm = math.sqrt(v.map(f => f.toDouble * f).sum)
      MediaFeature(m.doc_id, m.mime, v.map(f => (f / norm).toFloat))
    })
  }

  /** Aspect-ratio-preserving fit into a bounding box — pure metadata
    * arithmetic (this one is NOT a stub): the landing-size computation
    * every image pipeline runs before decode-to-target.
    */
  def resizePlan(meta: DataFrame, maxW: Int = 336, maxH: Int = 336): DataFrame = {
    val scale = least(
      lit(maxW).cast("double") / col("width"),
      lit(maxH).cast("double") / col("height"),
      lit(1.0)) // never upscale
    meta.select(
      col("doc_id"), col("mime"), col("width"), col("height"),
      greatest(floor(col("width") * scale).cast("int"), lit(1)).as("target_w"),
      greatest(floor(col("height") * scale).cast("int"), lit(1)).as("target_h"))
  }

  /** End-to-end: synthesize → decode (stub) → frame-sample → rollup
    * per mime type. The shape a real multimodal ingest would have.
    */
  def pipelineSummary(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val media = synthesizeMedia(docs)
    val meta = extractMeta(media)
    val frames = sampleFrames(meta)
    meta.toDF()
      .join(
        frames.toDF().groupBy("doc_id").agg(count(lit(1)).as("n_sampled")),
        Seq("doc_id"), "left")
      .groupBy("mime")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("width").cast("double")), 4).as("avg_width"),
        round(avg(col("height").cast("double")), 4).as("avg_height"),
        sum(col("n_sampled")).as("total_frames_sampled"))
      .orderBy("mime")
  }
}
