package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * Decode and feature extraction are REAL for decodable media:
  * [[ImageCodec.decode]] reads PNG/JPEG/GIF headers through
  * `javax.imageio` (in the JDK — no new dependency) and parses WAV RIFF
  * headers directly; [[ImageCodec.features]] computes grid-RGB color
  * layout from full pixel decode and windowed PCM RMS energy for wav.
  * Payloads the codecs cannot identify come back as `unknown` /
  * fall to [[FakeCodec.features]]'s deterministic projection — the only
  * remaining stand-in, marking where a learned embedding model would
  * slot in.
  *
  * Scale notes: binary payloads dominate row size, so ops repartition by
  * target partition BYTES not row count; metadata extraction projects the
  * blob column away as early as possible so downstream stages scan only
  * small columns (column pruning does the rest in parquet).
  */
object Multimodal {

  final case class MediaMeta(media_id: Long, byte_len: Long, format: String,
                             width: Int, height: Int, checksum: Long)
  final case class MediaFeature(media_id: Long, feature: Array[Float])

  /** Real media codec over JDK facilities only.
    *
    * Decode: `ImageIO`'s header path (`ImageReader.getWidth/getHeight`
    * on a stream — dimensions come from the IHDR/SOF0/descriptor, pixels
    * are never decoded, so a 100 MB image costs a few header bytes), then
    * a little-endian RIFF/WAVE `fmt ` parse for audio. Encode side exists
    * to build deterministic fixtures: tiny real PNG/JPEG images (pixel
    * content seeded per id) and 16-bit PCM WAVs.
    *
    * Fixture value rules (shared verbatim with the m1 DuckDB oracle —
    * the oracle replays the RULES in SQL while Spark decodes the BYTES,
    * so a wrong decode breaks the gate):
    * id % 3 == 0 → png,  width = 8 + id%24, height = 8 + (id/24)%24
    * id % 3 == 1 → jpeg, same dimension rule
    * id % 3 == 2 → wav,  rate = 8000 + (id%8)·1000, channels = 1 + id%2
    * (for audio, width/height carry rate/channels).
    */
  object ImageCodec {
    // BufferedImage/ImageIO never need a display, but make it explicit
    // before any AWT class loads on an executor.
    System.setProperty("java.awt.headless", "true")

    def kind(id: Long): Int = math.floorMod(id, 3L).toInt
    def imgWidth(id: Long): Int = 8 + math.floorMod(id, 24L).toInt
    def imgHeight(id: Long): Int = 8 + math.floorMod(id / 24, 24L).toInt
    def wavRate(id: Long): Int = 8000 + math.floorMod(id, 8L).toInt * 1000
    def wavChannels(id: Long): Int = 1 + math.floorMod(id, 2L).toInt

    /** Deterministic real payload for a fixture id (rules above). */
    def synthPayload(id: Long): Array[Byte] = kind(id) match {
      case 0 => encodeImage(imgWidth(id), imgHeight(id), id, "png")
      case 1 => encodeImage(imgWidth(id), imgHeight(id), id, "jpg")
      case _ => encodeWav(wavRate(id), wavChannels(id), nSamples = 64, seed = id)
    }

    def encodeImage(w: Int, h: Int, seed: Long, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, ((seed * 31 + x * 7 + y * 13) & 0xFFFFFF).toInt)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }

    def encodeWav(sampleRate: Int, channels: Int, nSamples: Int, seed: Long): Array[Byte] = {
      val dataLen = nSamples * channels * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      bb.putShort(1).putShort(channels.toShort).putInt(sampleRate)
      bb.putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < nSamples * channels) {
        bb.putShort(((seed * 31 + i * 997) % 32768).toShort)
        i += 1
      }
      bb.array()
    }

    /** WAV encode from explicit samples (same canonical 44-byte header
      * as [[encodeWav]]) — the low-duplication fixture's payload path. */
    def encodeWavSamples(sampleRate: Int, channels: Int,
                         samples: Array[Int]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      bb.putShort(1).putShort(channels.toShort).putInt(sampleRate)
      bb.putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s.toShort))
      bb.array()
    }

    /** Content-source id for the LOW-DUPLICATION audio fixture: every
      * 25th WAV track re-records its same-parity predecessor (id − 6 —
      * same channel count, so the PCM layouts line up) at a slightly
      * lower level; all other tracks are independent white noise. The
      * original fixture's affine sample rule made nearly every track a
      * near-dup of every other (pair list ~n² — a data artifact that
      * masked m6's real scaling); here pair density is the planted 1/25,
      * the regime real audio dedup runs in.
      */
    def lowDupBase(id: Long): Long = {
      val t = (id - 2) / 3
      if (id >= 8 && math.floorMod(t, 25L) == 24L) id - 6 else id
    }

    /** Low-duplication WAV payload: samples are splitmix white noise
      * keyed by ([[lowDupBase]], position) — decorrelated across tracks,
      * SQL-replayable by the same mix finalizer every LSH oracle uses —
      * and re-recorded tracks apply the exact integer level drop
      * v − v/16 (scales every energy window by the same factor, so the
      * [[audioHash64]] bits survive: a planted pair sits within the
      * Hamming radius while independent tracks land ~32 bits apart).
      */
    def synthAudioLowDup(id: Long): Array[Byte] = {
      val base = lowDupBase(id)
      val ch = wavChannels(id)
      val samples = Array.tabulate(64 * ch) { i =>
        val v = math.floorMod(
          graft.functions.Splitmix.mix(base * 131L + i), 32768L).toInt
        if (base != id) v - v / 16 else v
      }
      encodeWavSamples(wavRate(id), ch, samples)
    }

    /** SHIFTED-retake audio fixture: every 25th track re-records its
      * predecessor OFFSET by 7 samples (the same 64-sample window into
      * the same underlying recording, started 7 samples later) — exactly
      * the transform the m6/m8 whole-payload energy-window hashes
      * provably miss (the shift re-bins every fixed window, flipping
      * ~half the 64 bits — spec'd) while the m10 overlapping-window hash
      * SETS survive (a shift slides the window set; the 50 windows the
      * two recordings share hash identically, J = 50/64). Mono, 8 kHz:
      * channel interleaving would break sample alignment under shift,
      * and the point of THIS fixture is the shift, not the layout.
      * Samples are the same splitmix white noise as [[synthAudioLowDup]],
      * keyed by (base, ABSOLUTE position) so the retake's samples equal
      * the base's at +7.
      */
    def synthAudioShifted(id: Long): Array[Byte] = {
      val t = (id - 2) / 3
      val retake = math.floorMod(t, 25L) == 24L
      val base = if (retake) id - 3 else id
      val off = if (retake) 7 else 0
      val samples = Array.tabulate(64) { i =>
        math.floorMod(
          graft.functions.Splitmix.mix(base * 131L + (i + off)), 32768L).toInt
      }
      encodeWavSamples(8000, 1, samples)
    }

    /** Header-only image identification: format + dimensions, no pixel
      * decode. Empty for anything ImageIO has no reader for. */
    def imageMeta(bytes: Array[Byte]): Option[(String, Int, Int)] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val fmt = r.getFormatName.toLowerCase match {
              case "jpg" => "jpeg"
              case f => f
            }
            Some((fmt, r.getWidth(0), r.getHeight(0)))
          } finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    }

    /** RIFF/WAVE header parse: (sampleRate, channels). */
    def wavMeta(bytes: Array[Byte]): Option[(Int, Int)] =
      if (bytes.length >= 44 &&
          bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
          bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E' &&
          bytes(12) == 'f' && bytes(13) == 'm' && bytes(14) == 't' && bytes(15) == ' ') {
        val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Some((bb.getInt(24), bb.getShort(22).toInt))
      } else None

    def decode(id: Long, bytes: Array[Byte]): MediaMeta = {
      val cs = FakeCodec.checksum(bytes)
      imageMeta(bytes) match {
        case Some((fmt, w, h)) => MediaMeta(id, bytes.length.toLong, fmt, w, h, cs)
        case None => wavMeta(bytes) match {
          case Some((rate, ch)) => MediaMeta(id, bytes.length.toLong, "wav", rate, ch, cs)
          case None => MediaMeta(id, bytes.length.toLong, "unknown", 0, 0, cs)
        }
      }
    }

    /** Real image features: FULL pixel decode (ImageIO), then per-cell
      * RGB means over a g×g grid (3g² ≥ dim), each in [0,1] — the
      * classic color-layout descriptor. Lossless formats give
      * bit-identical features everywhere; JPEG decode is deterministic
      * per JVM. None when no reader claims the bytes.
      */
    def imageFeatures(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null) None
      else {
        val g = math.max(1, math.ceil(math.sqrt(dim / 3.0)).toInt)
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Float](dim)
        var idx = 0
        var gy = 0
        while (gy < g && idx < dim) {
          var gx = 0
          while (gx < g && idx < dim) {
            val (x0, y0) = (gx * w / g, gy * h / g)
            val (x1, y1) = (math.max(x0 + 1, (gx + 1) * w / g), math.max(y0 + 1, (gy + 1) * h / g))
            var (r, gr, b, n) = (0L, 0L, 0L, 0L)
            var y = y0
            while (y < y1 && y < h) {
              var x = x0
              while (x < x1 && x < w) {
                val p = img.getRGB(x, y)
                r += (p >> 16) & 0xFF; gr += (p >> 8) & 0xFF; b += p & 0xFF; n += 1
                x += 1
              }
              y += 1
            }
            if (n > 0) {
              if (idx < dim) { out(idx) = (r.toFloat / n) / 255f; idx += 1 }
              if (idx < dim) { out(idx) = (gr.toFloat / n) / 255f; idx += 1 }
              if (idx < dim) { out(idx) = (b.toFloat / n) / 255f; idx += 1 }
            }
            gx += 1
          }
          gy += 1
        }
        Some(out)
      }
    }

    /** 64-bit perceptual average-hash over a FULL pixel decode: the image
      * collapses to an 8×8 grid of gray sums (gray = r+g+b; cell bounds
      * by the same integer partition as [[imageFeatures]]), and bit
      * (gy·8+gx) is set when the cell's mean gray exceeds the GLOBAL
      * pixel mean. The comparison is cross-multiplied —
      * cellSum·totalPixels > totalSum·cellPixels — so the whole hash is
      * exact integer arithmetic with no float summation order anywhere
      * (which is what lets a SQL oracle replay it bit for bit). Near-dup
      * images differ in few bits; see [[Multimodal.nearDupImages]].
      * None when no reader claims the bytes.
      */
    def aHash64(bytes: Array[Byte]): Option[Long] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val cs = new Array[Long](64)
        val cn = new Array[Long](64)
        var totalSum = 0L
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            val idx = gy * 8 + gx
            val (x0, y0) = (gx * w / 8, gy * h / 8)
            val (x1, y1) = (math.max(x0 + 1, (gx + 1) * w / 8), math.max(y0 + 1, (gy + 1) * h / 8))
            var y = y0
            while (y < y1 && y < h) {
              var x = x0
              while (x < x1 && x < w) {
                val p = img.getRGB(x, y)
                val gray = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)).toLong
                cs(idx) += gray; cn(idx) += 1
                x += 1
              }
              y += 1
            }
            totalSum += cs(idx)
            gx += 1
          }
          gy += 1
        }
        val totalN = w.toLong * h
        var hash = 0L
        var idx = 0
        while (idx < 64) {
          if (cn(idx) > 0 && cs(idx) * totalN > totalSum * cn(idx)) hash |= 1L << idx
          idx += 1
        }
        Some(hash)
      }
    }

    /** 64-bit audio perceptual hash — [[aHash64]]'s integer bit rule on
      * PCM ENERGY: the 16-bit samples split into 64 equal windows, each
      * window's squared-sample sum compares against the track mean by
      * exact cross-multiplication (ws·n > totalS·wn — no float RMS, no
      * division), so the hash is bit-replayable in SQL from the sample
      * values. Near-identical audio (same content, small level/offset
      * changes) differs in few bits — the audio sibling of the image
      * aHash. None for non-WAV payloads or tracks under 64 samples.
      * Overflow bound: the cross-multiply totalS·wn ≲ (n·2^30)·(n/64)
      * must stay under 2^63, i.e. n ≲ 740k full-scale samples (≈ 17 s
      * at 44.1 kHz); hash longer audio in segments.
      */
    def audioHash64(bytes: Array[Byte]): Option[Long] =
      wavMeta(bytes).flatMap { _ =>
        val n = (bytes.length - 44) / 2
        if (n < 64) None
        else {
          val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val ws = new Array[Long](64)
          val wn = new Array[Long](64)
          var totalS = 0L
          var w = 0
          while (w < 64) {
            val s0 = w.toLong * n / 64
            val s1 = math.max(s0 + 1, (w + 1).toLong * n / 64)
            var i = s0
            while (i < s1 && i < n) {
              val v = bb.getShort(44 + 2 * i.toInt).toLong
              ws(w) += v * v; wn(w) += 1
              i += 1
            }
            totalS += ws(w)
            w += 1
          }
          var hash = 0L
          var idx = 0
          while (idx < 64) {
            if (wn(idx) > 0 && ws(idx) * n > totalS * wn(idx)) hash |= 1L << idx
            idx += 1
          }
          Some(hash)
        }
      }

    /** Real audio features for canonical (44-byte-header) WAVs: RMS
      * energy of the 16-bit LE PCM samples over `dim` equal windows,
      * each in [0,1]. */
    def wavFeatures(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
      wavMeta(bytes).map { _ =>
        val nSamples = (bytes.length - 44) / 2
        val out = new Array[Float](dim)
        if (nSamples > 0) {
          val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var w = 0
          while (w < dim) {
            val s0 = w.toLong * nSamples / dim
            val s1 = math.max(s0 + 1, (w + 1).toLong * nSamples / dim)
            var acc = 0.0
            var i = s0
            while (i < s1 && i < nSamples) {
              val v = bb.getShort(44 + 2 * i.toInt) / 32768.0
              acc += v * v
              i += 1
            }
            out(w) = math.sqrt(acc / (s1 - s0)).toFloat
            w += 1
          }
        }
        out
      }

    /** Feature dispatch: real pixel/PCM features for media the codec can
      * decode; the deterministic [[FakeCodec]] projection only for
      * unidentifiable blobs. */
    def features(bytes: Array[Byte], dim: Int): Array[Float] =
      imageFeatures(bytes, dim)
        .orElse(wavFeatures(bytes, dim))
        .getOrElse(FakeCodec.features(bytes, dim))
  }

  /** Deterministic stand-in for the one stage a real model would own:
    * feature extraction. All values derive from the payload bytes only,
    * so tests are stable across runs/partitionings.
    */
  object FakeCodec {
    def checksum(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L // FNV-ish rolling hash over the blob
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    /** ??? in spirit: a real impl would run an embedding model; the fake
      * projects `dim` floats from the bytes deterministically. */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        out(i) = (math.floorMod(checksum(bytes) >> (i % 56), 2048L) - 1024L) / 1024.0f
        i += 1
      }
      out
    }
  }

  /** Build a media table from `documents`: payload = UTF-8 bytes of the
    * text (a deterministic opaque blob fixture), typed metadata columns
    * alongside — the canonical "multimodal row" layout.
    */
  /** Opaque "video" payload fixture: each document's UTF-8 bytes. Since
    * round 16 (r15 verdict ask #6 — adversarial encodings INSIDE the
    * oracle gate), both members of every planted near-dup pair
    * (doc_id % 100 ∈ {2, 3}) carry a 32-byte BINARY header shared by
    * the pair — bytes 0x80 + ((base·2654435761 + j·40503) >> 7) mod 64
    * with base = the pair's even member (the Knuth multiplier pushes
    * base entropy into the shifted bits, so headers are distinct
    * ACROSS pairs, not base-mod-64 aliased): every byte is a bare
    * UTF-8 CONTINUATION byte (0x80–0xBF, never valid without a lead
    * byte, unlike 0xC2+ which can open a valid sequence), so the whole
    * header is guaranteed undecodable. Any frame-hash path that
    * round-trips
    * bytes through a string (the r15 U+FFFD collision bug class)
    * collapses all planted headers to one hash, blows their document
    * frequency past m9's df guard, and moves the emitted Jaccards —
    * so the m9 hash gate now FAILS on that bug instead of passing on
    * ASCII-only luck. The header is prepended (frame 0 is fully
    * binary); text frames shift by one header width.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // 1-row-group fixture scan -> widen before the per-row synth work
    synthWiden(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source")), dir)
      .as[(Long, Option[String], String)]
      .mapPartitions(_.map { case (id, textOpt, source) =>
        val payload = textOpt.map { text =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (id % 100 == 2 || id % 100 == 3) {
            val base = id - (id % 100 - 2)
            Array.tabulate(32)(j =>
              (128 + ((base * 2654435761L + j * 40503L) >> 7) % 64).toByte) ++ tb
          } else tb
        }
        (id, payload, source, payload.map(_.length.toLong))
      })
      .toDF("media_id", "payload", "source", "payload_len")
  }

  /** Real-bytes media fixture: one deterministic PNG/JPEG/WAV payload per
    * document id ([[ImageCodec.synthPayload]]'s rules). The payloads are
    * genuine encoded media — [[decodeMeta]] gets no shortcut — while the
    * metadata they decode to follows arithmetic rules the DuckDB oracle
    * replays in SQL. Generation is map-only (one tiny encode per row).
    */

  /** Widen the fixture id stream for the synth+codec map: the per-row
    * codec work is ~0.1-1 ms, so ~256 rows/task saturates the useful
    * parallelism without paying 32 task launches for half a second of
    * total work (measured: the full-cores first cut left the m-family
    * ~0.2-0.3 s slower at 32c than 8c). Grows with the corpus; a scan
    * that is already wider keeps its partitions.
    */
  private def synthWiden(df: DataFrame, dir: String): DataFrame = {
    val spark = df.sparkSession
    graft.Sizing.widen(df, graft.Sizing.width(
      spark, Tables.rowsOf(spark, dir, "documents"), graft.Sizing.SynthRows))
  }

  def imageTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the fixture parquet is ONE row group -> a 1-task scan; the synth
    // + codec work is CPU-dense per row, so widen the 8-byte id stream
    // before the map (guide: repartition immediately after an
    // unsplittable read), sized ~256 rows/task. At scale a real media
    // table scans wide already and pays no exchange.
    synthWiden(Tables.documents(spark, dir).select(col("doc_id")), dir).as[Long]
      .mapPartitions(_.map(id => (id, ImageCodec.synthPayload(id))))
      .toDF("media_id", "payload")
  }

  /** Low-duplication audio fixture (WAV rows only): real encoded WAVs
    * whose PCM follows [[ImageCodec.synthAudioLowDup]]'s white-noise +
    * planted-1/25-re-recording rule — the realistic pair-density twin
    * of the m6 fixture (whose affine samples made ~every track pair a
    * near-dup and the pair LIST ~n²). Map-only generation, one tiny
    * encode per row.
    */
  def audioTableLowDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthWiden(Tables.documents(spark, dir).select(col("doc_id")), dir).as[Long]
      .filter((id: Long) => id % 3 == 2)
      .mapPartitions(_.map(id => (id, ImageCodec.synthAudioLowDup(id))))
      .toDF("media_id", "payload")
  }

  /** Shifted-retake audio fixture table ([[ImageCodec.synthAudioShifted]]
    * rules) — the m10 input. Same WAV id slice as the other audio
    * fixtures; map-only generation.
    */
  def audioTableShifted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthWiden(Tables.documents(spark, dir).select(col("doc_id")), dir).as[Long]
      .filter((id: Long) => id % 3 == 2)
      .mapPartitions(_.map(id => (id, ImageCodec.synthAudioShifted(id))))
      .toDF("media_id", "payload")
  }

  /** PCM decode stage: real RIFF/WAVE parse → (media_id, pcm array<int>)
    * per decodable row; non-WAV payloads drop out (flatMap). Map-only,
    * one decode per row — the blob never leaves this stage, and
    * downstream window hashing runs as pure codegen'd expressions over
    * the int array.
    */
  def pcmTable(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.wavMeta(bytes).map { _ =>
          val n = (bytes.length - 44) / 2
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (id, Array.tabulate(n)(i => bb.getShort(44 + 2 * i).toInt))
        }
      })
      .toDF("media_id", "pcm")
  }

  /** FILE-based media ingest (s11) — the production path into a media
    * lake: a directory of real encoded files read through Spark's
    * binaryFile source (payload bytes + path + length, listing
    * parallelized by the source, scan splittable per file), media id
    * parsed from the file name. `pathGlobFilter` keeps markers and
    * sidecars out of the scan (an unmatched name would otherwise feed
    * an empty string into the ANSI long cast). Downstream is the same
    * [[decodeMeta]] gate every in-table payload takes.
    */
  def mediaFromFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "media_*.bin")
      .load(dir)
      .select(
        regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1)
          .cast("long").as("media_id"),
        col("content").as("payload"))

  /** Decode stage: binary → typed metadata via mapPartitions (one codec
    * init per partition, the shape a real decoder needs). Real header
    * decode — PNG/JPEG/GIF via `javax.imageio`, WAV via RIFF parse;
    * unidentifiable payloads report `unknown` with honest byte stats.
    * Blob column is dropped on output — downstream reads only small
    * typed columns.
    */
  def decodeMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a native codec would initialize per-partition state here, once
        it.map { case (id, bytes) => ImageCodec.decode(id, bytes) }
      }
  }

  /** Raised by [[extractFeatures]] in strict mode for a payload no
    * codec can identify — the typed alternative to silently falling
    * back to the deterministic projection. Carries the media id so a
    * pipeline can quarantine the row.
    */
  final class UnsupportedMediaException(val mediaId: Long)
    extends RuntimeException(
      s"media $mediaId: payload is not decodable PNG/JPEG/GIF/WAV " +
        "(strict feature extraction rejects unidentifiable blobs)")

  /** Feature-extraction stage: binary → Array[Float], output shaped
    * exactly like the `embeddings` table for downstream similarity ops.
    * Real for decodable media ([[ImageCodec.features]]: grid-RGB color
    * layout for images, windowed PCM RMS for wav). For unidentifiable
    * blobs: `strict = true` (the DEFAULT — the production setting,
    * where an undecodable payload is a data-quality incident, not a
    * silent feature vector) raises the typed
    * [[UnsupportedMediaException]]; the clearly-marked deterministic
    * fake projection exists only behind an explicit `strict = false`
    * opt-out (pipeline-shape testing). A learned embedding model would
    * slot in here — same signature, same partition shape.
    */
  def extractFeatures(media: DataFrame, dim: Int = 64,
                      strict: Boolean = true): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        // decode once: strict rejects on a miss, lax falls back to the
        // marked fake projection — never re-decode the same payload
        val decoded = ImageCodec.imageFeatures(bytes, dim)
          .orElse(ImageCodec.wavFeatures(bytes, dim))
        decoded match {
          case Some(f) => MediaFeature(id, f)
          case None if strict => throw new UnsupportedMediaException(id)
          case None => MediaFeature(id, FakeCodec.features(bytes, dim))
        }
      })
  }

  /** Resize stage: re-target media dimensions (STUB — a real impl would
    * run the codec's scaler over the payload; the fake rewrites the typed
    * metadata deterministically, preserving the pipeline shape: typed
    * Dataset in, typed Dataset out, per-partition execution).
    */
  def resize(meta: Dataset[MediaMeta], width: Int, height: Int): Dataset[MediaMeta] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.mapPartitions(_.map(m =>
      m.copy(width = width, height = height,
             checksum = 31L * (31L * m.checksum + width) + height)))
  }

  /** Frame-sample stage: take every `stride`-th fixed-size window of the
    * blob as a "frame" (byte-slice stand-in for video frame extraction),
    * exploded to one row per frame — the fan-out shape (and partition-size
    * hazard) a real frame sampler has. Pure expressions: slice/sequence.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 32, stride: Int = 4): DataFrame =
    media.select(col("media_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest((length(col("payload")) / (frameBytes * stride)).cast("int") - 1, lit(0))),
          i => col("payload").substr((i * (frameBytes * stride) + 1).cast("int"), lit(frameBytes))))
          .as(Seq("frame_no", "frame")))
      .withColumn("frame_len", length(col("frame")).cast("long"))

  /** Perceptual-hash stage: binary → (media_id, ahash) for every payload
    * the image codec can decode; non-images drop out (flatMap). Map-only,
    * one decode per row, blob never leaves the stage.
    */
  def imageHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.aHash64(bytes).map(h => (id, h))
      })
      .toDF("media_id", "ahash")
  }

  /** Audio hashes per media row ([[ImageCodec.audioHash64]]) — rows
    * whose payload is not decodable WAV drop out. Feeds
    * [[nearDupImages]], whose chunk-blocked Hamming join is
    * modality-agnostic (it sees only (media_id, ahash)).
    */
  def audioHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.audioHash64(bytes).map(h => (id, h))
      })
      .toDF("media_id", "ahash")
  }

  /** Image near-dup pairs by average-hash Hamming distance — the
    * multimodal sibling of SimHash text dedup. Blocking: the 64-bit hash
    * splits into 8 byte-chunks; by pigeonhole, any pair within
    * `maxDist` ≤ 7 bits shares at least one identical chunk, so the
    * chunk-equality self-join finds EVERY qualifying pair (exact, not
    * approximate — enforced) while only images agreeing on some byte
    * ever pair up. Shuffle carries (chunk, byte, id, hash) — 8 rows of
    * ~20 bytes per image, never pixels. The exact Hamming filter then
    * prunes the candidates. At 100 TB the 8-bit chunk keys are coarse
    * (256 buckets per chunk); widen to 16-bit chunks with maxDist ≤ 3
    * (x3's layout) when corpus size demands finer buckets.
    */
  def nearDupImages(hashes: DataFrame, maxDist: Int = 6): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"maxDist $maxDist outside [0,7] breaks the 8-chunk pigeonhole guarantee")
    val chunks = hashes
      .select(col("media_id"), col("ahash"),
        explode(sequence(lit(0), lit(7))).as("ci"))
      .withColumn("ckey", expr("(ahash >> (ci * 8)) & 255"))
    val a = chunks.select(col("ci"), col("ckey"),
      col("media_id").as("id_a"), col("ahash").as("ha"))
    val b = chunks.select(col("ci"), col("ckey"),
      col("media_id").as("id_b"), col("ahash").as("hb"))
    a.join(b, Seq("ci", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "hb").distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Metadata aggregate registered as a query: per-format media profile.
    * Averages use the exact-numerator form so the DuckDB oracle matches
    * bit for bit; byte totals stay available for ops dashboards but the
    * oracle-gated m1 query drops them (compressed sizes are
    * encoder-dependent, not SQL-predictable).
    */
  def formatProfile(media: DataFrame): DataFrame =
    decodeMeta(media).toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
           sum(col("byte_len")).as("total_bytes"),
           Num.roundTo(Num.exactAvg(col("width").cast("double")), 4).as("avg_width"),
           Num.roundTo(Num.exactAvg(col("height").cast("double")), 4).as("avg_height"))
      .orderBy("format")

  /** VIDEO near-dup by sampled-frame Jaccard (m9) — the third modality
    * beside the m5 image and m6/m8 audio Hamming families, and the
    * standard shape for long media where one global hash washes out:
    * sample fixed-size frames at a stride ([[sampleFrames]], the m2
    * stage), hash each frame (FNV-1a — the re-encode-stable stand-in
    * for a real per-frame perceptual hash, which drops into the same
    * column), and score video pairs by Jaccard over their distinct
    * frame-hash SETS — re-ordered, trimmed, or concatenated videos
    * still overlap heavily on frames where any whole-payload hash
    * differs completely.
    *
    * The pair machinery is [[Dedup.sharedHashPairs]] — the exact core
    * behind x4 text shingles, reused verbatim (frames ARE the
    * shingles): only (frame_hash, media_id) rows shuffle, the df guard
    * caps bucket fan-out, and set sizes join back after pairs collapse.
    * Frame sets per video are payload-bounded (len / (frameBytes ·
    * stride) entries); the blob never leaves the sampling projection.
    */
  /** The m9 frame-hash SET stage on its own: sampled frames
    * ([[sampleFrames]], the m2 stage) hashed per frame and collapsed
    * to a per-video distinct set + size — (doc_id, sh, n_sh), the
    * shape [[matchAgainstHashIndex]] and [[Dedup.sharedHashPairs]]
    * both consume. fnv1a64_bin folds the RAW frame bytes: a cast
    * through string would decode invalid UTF-8 to U+FFFD, colliding
    * distinct binary frames into one hash (false near-dups on real
    * video — the adversarial m9 headers pin this). Map-only per row,
    * so it runs unchanged over a STREAM (st30's per-row stage).
    */
  def videoFrameSets(media: DataFrame, frameBytes: Int = 32,
                     stride: Int = 4): DataFrame = {
    val fr = sampleFrames(media, frameBytes, stride)
      .select(col("media_id"),
        call_function("fnv1a64_bin", col("frame")).as("fh"))
    fr.groupBy(col("media_id")).agg(collect_set(col("fh")).as("sh"))
      .select(col("media_id").as("doc_id"), col("sh"),
        size(col("sh")).cast("long").as("n_sh"))
  }

  def nearDupVideos(media: DataFrame, frameBytes: Int = 32, stride: Int = 4,
                    threshold: Double = 0.5, maxFrameFreq: Long = 64): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (0 would emit all guarded pairs)")
    val sets = videoFrameSets(media, frameBytes, stride)
    Dedup.sharedHashPairs(
        sets.select(explode(col("sh")).as("shingle"), col("doc_id")),
        sets.select(col("doc_id"), col("n_sh")),
        maxFrameFreq)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        Num.roundTo(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 6).as("frame_jaccard"))
      .filter(col("frame_jaccard") >= threshold)
  }

  /** TIME-SHIFT-ROBUST audio near-dup (m10) — the audio twin of the m9
    * video fix, closing the family's last alignment hole: [[ImageCodec
    * .audioHash64]] (m6/m8) bins the WHOLE payload into 64 fixed energy
    * windows, so a trimmed or offset re-encode re-bins every window and
    * the hash lands ~32 bits away — the dup is provably missed (spec'd).
    * Here every OVERLAPPING w-sample window is hashed (order-sensitive
    * splitmix fold, the [[Dedup.dupSpans]] arithmetic over PCM values
    * instead of token hashes) and tracks pair by Jaccard over their
    * distinct window-hash SETS: a trim or offset SLIDES the window set
    * without touching the surviving windows' hashes, so a 7-sample
    * offset re-take of a 64-sample track still shares 50 windows
    * (J = 50/64 ≈ 0.78) while independent noise shares none.
    *
    * The pair machinery is [[Dedup.sharedHashPairs]] verbatim (windows
    * ARE the shingles — text x4, video m9, audio m10 now share one pair
    * discipline): only (window_hash, media_id) longs shuffle, the df
    * guard caps bucket fan-out (a looped jingle appearing in thousands
    * of tracks is exactly a high-df shingle), set sizes join back after
    * pairs collapse. PCM never leaves the decode projection. Window
    * hashing is O(n·w) per track of pure codegen'd HOF arithmetic.
    */
  /** The m10 window-hash SET stage on its own: real PCM decode
    * ([[pcmTable]]) → one hash per overlapping w-sample window (the
    * dupSpans fold; tracks under w samples get one all-sample window) →
    * per-track distinct set + size. Map-only codegen'd HOFs end to end,
    * so it runs unchanged over a STREAM (st23's per-row stage). The
    * long-cast sample array is staged as its own projection — HOFs get
    * no common-subexpression elimination (the dupSpans lesson).
    */
  def audioWindowSets(media: DataFrame, w: Int = 8): DataFrame = {
    require(w > 0, "w must be positive")
    val withTh = pcmTable(media).select(col("media_id"),
      transform(col("pcm"), v => v.cast("long")).as("th"))
    val th = col("th")
    val m = size(th)
    val wins = transform(sequence(lit(1), greatest(m - (w - 1), lit(1))),
      i => aggregate(when(m >= w, slice(th, i, lit(w))).otherwise(th), lit(0L),
        (h, t) => call_function("splitmix64", h.bitwiseXOR(t))))
    withTh.select(col("media_id").as("doc_id"), array_distinct(wins).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n_sh"))
  }

  def nearDupAudioWindows(media: DataFrame, w: Int = 8, threshold: Double = 0.5,
                          maxWindowFreq: Long = 64): DataFrame = {
    require(w > 0, "w must be positive")
    require(threshold > 0.0, "threshold must be positive (0 would emit all guarded pairs)")
    // one synth+PCM+hash pass, not four: the window-set table is read by
    // the shingle branch, the size branch, and both sides of the bucket
    // join inside sharedHashPairs — mapPartitions subtrees are opaque to
    // Catalyst, so only an eager checkpoint of the SMALL (id, hashes)
    // rows dedupes them (batch-only operator; the streaming path calls
    // audioWindowSets directly)
    val sets = Iterate.materialize(audioWindowSets(media, w))
    Dedup.sharedHashPairs(
        sets.select(explode(col("sh")).as("shingle"), col("doc_id")),
        sets.select(col("doc_id"), col("n_sh")),
        maxWindowFreq)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        Num.roundTo(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 6).as("window_jaccard"))
      .filter(col("window_jaccard") >= threshold)
  }

  /** The UNGUARDED at-rest hash-postings store (the takedown-capable
    * layout of [[audioWindowIndex]]'s content, shared by the audio
    * window-hash and video frame-hash stores): ONE (wh, cid) row per
    * posting, no df guard applied. The guard is a SERVING accelerator,
    * not store content — and that distinction is exactly what a delete
    * needs: a hash whose df sat just above `maxWindowFreq` can drop
    * BELOW the guard when a holder is deleted, and a rebuild over the
    * retained corpus would then serve postings a guarded-only store
    * never kept (spec-pinned). So the store keeps every posting; the
    * guarded serving view is `full ⋈ (dfs ≤ maxFreq)` and the
    * tombstone path re-derives it with SUBTRACTED dfs
    * ([[matchAgainstHashIndexTombstone]]) — the t43 discipline.
    */
  def hashIndexFull(sets: DataFrame): DataFrame =
    sets.select(explode(col("sh")).as("wh"), col("doc_id").as("cid"))

  /** The per-hash document-frequency stats table kept BESIDE the
    * unguarded postings ([[hashIndexFull]]) — the store's analog of
    * the BM25 segment statistics: O(|distinct hashes|) rows, exact
    * integer counts, maintainable under delete by pure subtraction. */
  def hashIndexDfs(fullIndex: DataFrame): DataFrame =
    fullIndex.groupBy("wh").agg(count(lit(1)).as("df"))

  /** HASH-POSTINGS delete report (m13 audio / m14 video — the t40
    * analog for the two hash-set modality stores): a delete-list of
    * corpus ids against the unguarded at-rest postings. Deleted
    * postings fall out of one semi-join (O(|delete| · avg set size)
    * rows), the retained store out of the anti-join; one row per scope
    * (`base`, `delete`, `after`) with track/hash/posting counts and the
    * per-hash df skew (`max_df` — what governs probe fan-out). The
    * after row adds the three decision quantities: `n_vanished_hashes`
    * (dictionary shrink — hashes whose last holder left),
    * `n_unblocked_hashes` (hashes whose df crossed DOWN through the
    * serving guard `maxFreq` — postings a rebuild would newly serve,
    * i.e. exactly why the store is kept unguarded), and the integer
    * tombstone-vs-rewrite rule `rewrite_recommended = rebuildDen ·
    * |delete postings| ≥ |base postings|` (t40's rule verbatim). Every
    * value is an integer count over scope-tagged postings — the oracle
    * replays hash folds, scopes, and sums bit for bit.
    */
  def hashIndexDeleteReport(fullIndex: DataFrame, deleteIds: DataFrame,
                            maxFreq: Long = 64, rebuildDen: Int = 8): DataFrame = {
    require(rebuildDen >= 1, "rebuildDen must be >= 1")
    val b = fullIndex.select(col("wh"), col("cid"))
    val ids = deleteIds.select(col("cid")).distinct()
    val dl = b.join(ids, Seq("cid"), "left_semi")
    val af = b.join(ids, Seq("cid"), "left_anti")
    val scoped = b.withColumn("scope", lit("base"))
      .unionByName(dl.withColumn("scope", lit("delete")))
      .unionByName(af.withColumn("scope", lit("after")))
    val perWh = scoped.groupBy(col("scope"), col("wh"))
      .agg(count(lit(1)).as("df"))
    val per = perWh.groupBy(col("scope")).agg(
      count(lit(1)).as("n_hashes"),
      sum(col("df")).as("n_postings"),
      max(col("df")).as("max_df"))
    val nTracks = scoped.groupBy(col("scope"))
      .agg(countDistinct(col("cid")).as("n_tracks"))
    // guard crossing: df_base > maxFreq but df_after <= maxFreq — the
    // postings a retained-corpus rebuild would serve that the GUARDED
    // view never kept (global agg: always exactly one row, 0 on empty)
    val unblocked = perWh.filter(col("scope") === "base")
      .select(col("wh"), col("df").as("bdf"))
      .join(perWh.filter(col("scope") === "after")
        .select(col("wh"), col("df").as("adf")), Seq("wh"))
      .filter(col("bdf") > maxFreq && col("adf") <= maxFreq)
      .agg(count(lit(1)).as("n_unblocked"))
    val totals = per.agg(
      sum(when(col("scope") === "base", col("n_hashes"))).as("nh_base"),
      sum(when(col("scope") === "after", col("n_hashes"))).as("nh_after"),
      sum(when(col("scope") === "base", col("n_postings"))).as("np_base"),
      coalesce(sum(when(col("scope") === "delete", col("n_postings"))), lit(0L))
        .as("np_delete"))
    per.join(nTracks, "scope").crossJoin(broadcast(totals))
      .crossJoin(broadcast(unblocked))
      .select(col("scope"), col("n_tracks"), col("n_hashes"),
        col("n_postings"), col("max_df"),
        when(col("scope") === "after", col("nh_base") - col("nh_after"))
          .otherwise(lit(0L)).as("n_vanished_hashes"),
        when(col("scope") === "after", col("n_unblocked"))
          .otherwise(lit(0L)).as("n_unblocked_hashes"),
        when(col("scope") === "after",
          lit(rebuildDen.toLong) * col("np_delete") >= col("np_base"))
          .otherwise(lit(false)).as("rewrite_recommended"))
      .orderBy("scope")
  }

  /** The corpus's AT-REST window-hash inverted index (st23's static
    * side): one (wh, cid) row per df-guarded posting — windows shared
    * by more than `maxWindowFreq` corpus tracks drop (a looped jingle
    * is a high-df shingle, the [[graft.ops.Dedup.sharedHashPairs]]
    * guard). Staged to parquet once per corpus snapshot, repartitioned
    * by wh so probe joins co-locate on the bucket key.
    */
  def audioWindowIndex(sets: DataFrame, maxWindowFreq: Long = 64): DataFrame = {
    val ce = sets.select(explode(col("sh")).as("wh"), col("doc_id").as("cid"))
    val dfc = ce.groupBy("wh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxWindowFreq)
    ce.join(dfc.select("wh"), "wh").select("wh", "cid")
  }

  /** Best-corpus-match per NEW track against the at-rest window-hash
    * index — st23's distributed verdict core. The probe explodes each
    * new track's window set and equi-joins the guarded index on wh
    * (8-byte keys only; at scale this is the stream-static join against
    * the bucketed index parquet), shared counts collapse with map-side
    * combine, Jaccard rounds at 6dp, and the best match per track —
    * highest J, ties to the LOWER corpus id — falls out of one
    * struct-max aggregate (no window function, no driver state: (j,
    * -cid) compares lexicographically, so max j then min cid wins).
    * Tracks with no guarded candidate emit (NULL, 0.0, false) through
    * the final left join. `index` is [[audioWindowIndex]]'s (wh, cid),
    * `sizes` the full (cid, nb) per-track window-set sizes.
    */
  def audioMatchAgainstIndex(newSets: DataFrame, index: DataFrame,
                             sizes: DataFrame,
                             threshold: Double = 0.5): DataFrame =
    matchAgainstHashIndex(newSets, index, sizes, threshold, "window_jaccard")

  /** [[audioMatchAgainstIndex]] for VIDEO (st30's verdict core): the
    * same hash-set probe against an at-rest df-guarded index, over
    * frame-hash sets ([[videoFrameSets]]) instead of window-hash sets
    * — the index is [[audioWindowIndex]] over frame sets (the (doc_id,
    * sh) shape is modality-agnostic), similarity reported as m9's
    * `frame_jaccard`. */
  def videoMatchAgainstIndex(newSets: DataFrame, index: DataFrame,
                             sizes: DataFrame,
                             threshold: Double = 0.5): DataFrame =
    matchAgainstHashIndex(newSets, index, sizes, threshold, "frame_jaccard")

  /** TOMBSTONE-MODE hash-set matching after a delete (m11 audio / m12
    * video — the serving face of [[hashIndexDeleteReport]], the t43
    * discipline on the modality stores): the at-rest postings
    * ([[hashIndexFull]]) and stats ([[hashIndexDfs]]) stay
    * byte-identical; deleted corpus ids skip via ONE serve-time
    * anti-join, and the serving guard is re-derived from SUBTRACTED
    * stats — per-hash df minus the deleted holders' own postings, an
    * O(deleted postings) semi-join count. The subtraction matters in
    * BOTH directions: a hash just under the guard stays under it, and
    * a hash just ABOVE the guard (df = maxFreq+1, dropped from any
    * guarded view) becomes servable when a holder leaves — which is
    * why the store keeps the unguarded postings. Retained postings +
    * subtracted dfs are EXACTLY a rebuild over the retained corpus, so
    * verdicts equal the rebuild's bit for bit (spec-pinned; gated by
    * the stream-match oracle over the retained corpus). Scale: one
    * broadcast-sized delete list, two map-side anti/semi joins, one
    * O(|hashes|) stats join on top of the normal probe plan.
    */
  def audioMatchTombstone(newSets: DataFrame, fullIndex: DataFrame,
                          dfs: DataFrame, sizes: DataFrame,
                          deleteIds: DataFrame, maxFreq: Long = 64,
                          threshold: Double = 0.5): DataFrame =
    matchAgainstHashIndexTombstone(newSets, fullIndex, dfs, sizes, deleteIds,
      maxFreq, threshold, "window_jaccard")

  /** [[audioMatchTombstone]] for the VIDEO frame-hash store (m12) —
    * the (wh, cid) shape is modality-agnostic, similarity reported as
    * m9's `frame_jaccard`. */
  def videoMatchTombstone(newSets: DataFrame, fullIndex: DataFrame,
                          dfs: DataFrame, sizes: DataFrame,
                          deleteIds: DataFrame, maxFreq: Long = 64,
                          threshold: Double = 0.5): DataFrame =
    matchAgainstHashIndexTombstone(newSets, fullIndex, dfs, sizes, deleteIds,
      maxFreq, threshold, "frame_jaccard")

  private def matchAgainstHashIndexTombstone(newSets: DataFrame,
                                             fullIndex: DataFrame,
                                             dfs: DataFrame, sizes: DataFrame,
                                             deleteIds: DataFrame,
                                             maxFreq: Long, threshold: Double,
                                             simCol: String): DataFrame = {
    val delKeys = deleteIds.select(col("cid")).distinct()
    val ddf = fullIndex.join(delKeys, Seq("cid"), "left_semi")
      .groupBy(col("wh")).agg(count(lit(1)).as("ddf"))
    val dfEff = dfs.join(ddf, Seq("wh"), "left")
      .select(col("wh"), (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0 && col("df") <= maxFreq)
    val retained = fullIndex.join(delKeys, Seq("cid"), "left_anti")
      .join(dfEff.select(col("wh")), Seq("wh"), "left_semi")
    matchAgainstHashIndex(newSets, retained, sizes, threshold, simCol)
  }

  /** The modality-agnostic hash-set match core the audio (st23) and
    * video (st30) streaming twins share — semantics documented at
    * [[audioMatchAgainstIndex]]. */
  private def matchAgainstHashIndex(newSets: DataFrame, index: DataFrame,
                                    sizes: DataFrame, threshold: Double,
                                    simCol: String): DataFrame = {
    val probes = newSets.select(col("doc_id").as("media_id"),
      col("n_sh").as("na"), explode(col("sh")).as("wh"))
    val shared = probes.join(index, "wh")
      .groupBy(col("media_id"), col("na"), col("cid"))
      .agg(count(lit(1)).as("shared"))
    val j = shared.join(sizes, "cid")
      .select(col("media_id"), col("cid"),
        Num.roundTo(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 6).as("j"))
    val best = j.groupBy("media_id")
      .agg(max(struct(col("j"), (-col("cid")).as("nc"))).as("b"))
      .select(col("media_id"), (-col("b.nc")).as("matched_id"),
        col("b.j").as("j"))
    newSets.select(col("doc_id").as("media_id"))
      .join(best, Seq("media_id"), "left")
      .select(col("media_id"), col("matched_id"),
        coalesce(col("j"), lit(0.0)).as(simCol),
        coalesce(col("j") >= threshold, lit(false)).as("is_dup"))
  }

  /** The curated corpus's AT-REST curation index — st22's static side,
    * staged once per corpus snapshot like any model artifact:
    * (media_id, ahash, quality) per decodable image, 24 bytes a row.
    * Quality is decode-derived pixel area (the c22 image rule).
    */
  def imageCurationIndex(media: DataFrame): DataFrame =
    imageHashes(media).join(
      decodeMeta(media).toDF().select(col("media_id"),
        (col("width").cast("long") * col("height").cast("long")).as("quality")),
      "media_id")
      .select("media_id", "ahash", "quality")

  /** [[imageCurationIndex]] in its AT-REST chunk-exploded layout —
    * st22's static side staged like st23's wh-bucketed audio index:
    * each (media_id, ahash, quality) row fans out to its 8 pigeonhole
    * rows (ci, ckey, cid, chash, cq), so the streaming probe is ONE
    * equi-join on the (ci, ckey) chunk key against the parquet at rest
    * — by pigeonhole any pair within Hamming ≤ 7 shares a chunk, the
    * [[nearDupImages]] guarantee. 8 rows × ~32 bytes per curated
    * image; stage it repartitioned on the chunk key so probes
    * co-locate.
    */
  def imageCurationIndexChunked(media: DataFrame): DataFrame =
    imageCurationIndex(media)
      .select(col("media_id").as("cid"), col("ahash").as("chash"),
        col("quality").as("cq"),
        explode(sequence(lit(0), lit(7))).as("ci"))
      .withColumn("ckey", expr("(chash >> (ci * 8)) & 255"))

  /** CURATION-INDEX maintenance report (c31) — the add face of the
    * image curation store, completing the at-rest-store symmetry (tf
    * segments: t37, positional postings: st31, IVF cells: v26,
    * curation chunks: here): a batch of NEW images becomes its own
    * chunk-exploded index rows ([[imageCurationIndexChunked]] —
    * decode + hash map-only, 8 rows per decodable image, O(batch);
    * the at-rest base is never rescanned beyond its per-bucket
    * counts), and the report gives per scope (base / add / merged)
    * the integer layout and SKEW profile that governs probe cost at
    * scale: image and chunk-row counts, occupied pigeonhole buckets,
    * the largest bucket, the within-scope candidate-pair volume
    * Σ s·(s−1)/2 (what a batch Hamming join over that scope would
    * generate), and — on the add row — the PROBE workload Σ s_add·s_base
    * over shared buckets, i.e. exactly how many candidate comparisons
    * this batch costs against the incumbent index (the st22 per-batch
    * join size). A ballooning max_bucket or probe volume is the signal
    * to widen chunk keys (8→16-bit, the m5 note) BEFORE a probe melts.
    * Everything is a count — the oracle replays hash, chunking, and
    * every sum bit for bit.
    */
  def curationIndexAddReport(baseIdx: DataFrame, addMedia: DataFrame): DataFrame = {
    val addIdx = imageCurationIndexChunked(addMedia)
    val bBk = baseIdx.groupBy("ci", "ckey").agg(count(lit(1)).as("s"))
    val aBk = addIdx.groupBy("ci", "ckey").agg(count(lit(1)).as("s"))
    val mBk = baseIdx.select("ci", "ckey").unionByName(addIdx.select("ci", "ckey"))
      .groupBy("ci", "ckey").agg(count(lit(1)).as("s"))
    // Grouped on the scope LITERAL, not a global agg: an add batch with
    // zero decodable images then emits NO 'add' row (zero groups) —
    // exactly the oracle's GROUP BY scope semantics — instead of a row
    // of NULL sums disagreeing with base+merged (spec'd).
    def per(bk: DataFrame, scope: String) = bk
      .groupBy(lit(scope).as("scope")).agg(
        expr("sum(s) DIV 8").as("n_images"),
        sum(col("s")).cast("long").as("n_chunk_rows"),
        count(lit(1)).as("n_buckets"),
        max(col("s")).cast("long").as("max_bucket"),
        expr("sum((s * (s - 1)) DIV 2)").cast("long").as("self_pair_candidates"))
    val probe = aBk.join(bBk.withColumnRenamed("s", "sb"), Seq("ci", "ckey"))
      .agg(coalesce(sum(col("s") * col("sb")), lit(0L)).cast("long").as("pc"))
    per(bBk, "base").withColumn("probe_candidates", lit(0L))
      .unionByName(per(aBk, "add").crossJoin(probe)
        .withColumn("probe_candidates", col("pc")).drop("pc"))
      .unionByName(per(mBk, "merged").withColumn("probe_candidates", lit(0L)))
      .orderBy("scope")
  }

  /** Per-row curation verdicts for NEW media against the at-rest
    * chunk-exploded curation index — st22's DISTRIBUTED verdict core
    * (the audio analog is [[audioMatchAgainstIndex]]). New rows pass
    * the m1 decode gate and hash/quality extraction
    * ([[imageCurationIndex]] — undecodable payloads drop), fan to
    * their 8 pigeonhole probes, equi-join the chunked index on
    * (ci, ckey), and the exact Hamming filter prunes candidates. The
    * best corpus match per new row — highest quality, ties to the
    * LOWER id (the c14 rule) — falls out of one struct-max aggregate:
    * (cq, -cid) compares lexicographically, and a pair sharing several
    * chunks just feeds the max duplicate rows, so no distinct is
    * needed. Rows with no candidate keep unconditionally via the final
    * left join. NOTHING reaches the driver and pixels never shuffle —
    * only the 8 probe rows of ~24 bytes per image — which is what
    * replaces the r15/r16-flagged O(corpus) collected-index closure.
    */
  def curationAgainstIndex(newMedia: DataFrame, chunkedIdx: DataFrame,
                           maxDist: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      "8-chunk pigeonhole blocking covers Hamming <= 7")
    val nh = imageCurationIndex(newMedia)
    val probes = nh.select(col("media_id"), col("ahash"), col("quality"),
        explode(sequence(lit(0), lit(7))).as("ci"))
      .withColumn("ckey", expr("(ahash >> (ci * 8)) & 255"))
    val best = probes.join(chunkedIdx, Seq("ci", "ckey"))
      .filter(expr(s"bit_count(ahash ^ chash) <= $maxDist"))
      .groupBy("media_id")
      .agg(max(struct(col("cq"), (-col("cid")).as("nc"))).as("b"))
      .select(col("media_id"), (-col("b.nc")).as("matched_id"),
        col("b.cq").as("bq"))
    nh.join(best, Seq("media_id"), "left")
      .select(col("media_id"), col("matched_id"),
        col("quality").as("quality_score"),
        (col("matched_id").isNull || col("quality") > col("bq") ||
          (col("quality") === col("bq") &&
            col("media_id") < col("matched_id"))).as("keep"))
  }

  /** CURATION-INDEX delete report (c32 — the t40 analog for the image
    * curation store, completing its lifecycle beside the add face
    * [[curationIndexAddReport]]): a delete-list of curated media ids
    * against the at-rest chunk-exploded index. The deleted chunk rows
    * fall out of one semi-join on cid (exactly 8 rows per deleted
    * image — O(|delete|)), the retained index out of the anti-join;
    * one row per scope (`base`, `delete`, `after`) with the c31 layout
    * + skew columns (image/chunk-row counts, occupied buckets, largest
    * bucket, within-scope candidate-pair volume). The after row adds
    * `n_vanished_buckets` (pigeonhole buckets whose last occupant
    * left — probe keys that now miss instantly) and t40's integer
    * tombstone-vs-rewrite rule over chunk rows. Unlike the hash
    * stores there is NO df guard to maintain — the pigeonhole key is
    * structural — so the report and one anti-join
    * ([[curationAgainstIndexTombstone]]) are the whole takedown story.
    */
  def curationIndexDeleteReport(baseIdx: DataFrame, deleteMedia: DataFrame,
                                rebuildDen: Int = 8): DataFrame = {
    require(rebuildDen >= 1, "rebuildDen must be >= 1")
    val ids = deleteMedia.select(col("media_id").as("cid")).distinct()
    val b = baseIdx.select(col("ci"), col("ckey"), col("cid"))
    val dl = b.join(ids, Seq("cid"), "left_semi")
    val af = b.join(ids, Seq("cid"), "left_anti")
    val scoped = b.withColumn("scope", lit("base"))
      .unionByName(dl.withColumn("scope", lit("delete")))
      .unionByName(af.withColumn("scope", lit("after")))
    val bk = scoped.groupBy(col("scope"), col("ci"), col("ckey"))
      .agg(count(lit(1)).as("s"))
    val per = bk.groupBy(col("scope")).agg(
      expr("sum(s) DIV 8").as("n_images"),
      sum(col("s")).cast("long").as("n_chunk_rows"),
      count(lit(1)).as("n_buckets"),
      max(col("s")).cast("long").as("max_bucket"),
      expr("sum((s * (s - 1)) DIV 2)").cast("long").as("self_pair_candidates"))
    val totals = per.agg(
      sum(when(col("scope") === "base", col("n_buckets"))).as("nb_base"),
      sum(when(col("scope") === "after", col("n_buckets"))).as("nb_after"),
      sum(when(col("scope") === "base", col("n_chunk_rows"))).as("ncr_base"),
      coalesce(sum(when(col("scope") === "delete", col("n_chunk_rows"))), lit(0L))
        .as("ncr_delete"))
    per.crossJoin(broadcast(totals))
      .select(col("scope"), col("n_images"), col("n_chunk_rows"),
        col("n_buckets"), col("max_bucket"), col("self_pair_candidates"),
        when(col("scope") === "after", col("nb_base") - col("nb_after"))
          .otherwise(lit(0L)).as("n_vanished_buckets"),
        when(col("scope") === "after",
          lit(rebuildDen.toLong) * col("ncr_delete") >= col("ncr_base"))
          .otherwise(lit(false)).as("rewrite_recommended"))
      .orderBy("scope")
  }

  /** TOMBSTONE-MODE curation serving after a delete (c33 — the serving
    * face of [[curationIndexDeleteReport]], st22/c22's takedown path):
    * the at-rest chunk-exploded index stays byte-identical; deleted
    * curated images skip via ONE serve-time anti-join on cid, and
    * every downstream stage — pigeonhole probe, exact Hamming prune,
    * c14 keep-best — sees exactly the retained index, so verdicts
    * equal a rebuild over the retained corpus bit for bit (spec'd;
    * gated by the st22 oracle over the retained corpus). There are no
    * global statistics in the curation probe (unlike BM25's df or the
    * hash stores' guard), so the anti-join IS the entire takedown
    * cost — the cheapest of the four stores' tombstone paths.
    */
  def curationAgainstIndexTombstone(newMedia: DataFrame, chunkedIdx: DataFrame,
                                    deleteMedia: DataFrame,
                                    maxDist: Int = 4): DataFrame = {
    val ids = deleteMedia.select(col("media_id").as("cid")).distinct()
    curationAgainstIndex(newMedia,
      chunkedIdx.join(ids, Seq("cid"), "left_anti"), maxDist)
  }

  /** End-to-end MEDIA curation composite (c22) — the c21 analog for the
    * multimodal side, every stage an existing gated operator composed
    * into one plan: decode gate (m1's [[decodeMeta]], `unknown` formats
    * dropped) → perceptual hashes per modality ([[imageHashes]] on the
    * image slice, [[audioHashes]] on the realistic-density audio
    * fixture) → near-dup pairs via the shared chunk-blocked Hamming
    * join ([[nearDupImages]], modality-agnostic) → cross-modality
    * cluster resolution + quality-aware keep-best
    * ([[Dedup.resolveBestByScore]], the c14 rule: highest quality wins,
    * ties to the lowest id). Quality is decode-derived — pixel area for
    * images, sample rate for audio (decodeMeta maps a WAV's rate into
    * `width`); modalities never share a cluster (hash pairs are
    * within-slice), so the two scales never compete.
    *
    * The composition is lazy end to end except [[Dedup
    * .connectedComponents]]'s fixpoint rounds — the same materialization
    * barriers the standalone m7 pays, nothing extra. Pair volume rides
    * the m5/m8 design: only (chunk, id, hash) rows shuffle, pixels and
    * PCM never leave the decode stage.
    */
  def mediaCuration(spark: SparkSession, dir: String, maxDist: Int = 4): DataFrame = {
    import spark.implicits._
    val img = imageTable(spark, dir).filter(col("media_id") % 3 === 0)
    val aud = audioTableLowDup(spark, dir)
    // Decode/hash ONCE per payload — and SYNTHESIZE once too:
    // mapPartitions is opaque to Catalyst (no subtree dedup, no column
    // pruning through it), so separate meta and hash passes each re-ran
    // the payload synthesis (a PNG/WAV ENCODE, as costly as the decode).
    // ONE combined pass produces the typed metadata AND the modality's
    // perceptual hash per payload; provenance is tagged BEFORE the union
    // so each slice keeps exactly its original hash function (a wav
    // payload inside the image slice must still drop from the Hamming
    // pairs, as imageHashes' aHash64 made it). The checkpointed table is
    // small typed rows — blobs never leave the stage.
    val tagged = img.withColumn("side", lit("i"))
      .unionAll(aud.withColumn("side", lit("a")))
    val metaAll = Iterate.materialize(tagged
      .select(col("media_id"), col("payload"), col("side"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, side) =>
        val m = ImageCodec.decode(id, bytes)
        val h = if (side == "i") ImageCodec.aHash64(bytes)
                else ImageCodec.audioHash64(bytes)
        (m.media_id, m.byte_len, m.format, m.width, m.height, m.checksum,
          h.getOrElse(0L), h.isDefined, side)
      })
      .toDF("media_id", "byte_len", "format", "width", "height", "checksum",
        "ahash", "has_hash", "side"))
    val meta = metaAll.filter(col("format") =!= "unknown")
    val scores = meta.select(col("media_id"),
      when(col("format") === "wav", col("width"))
        .otherwise(col("width") * col("height")).cast("double").as("quality_score"))
    // per-modality Hamming joins, exactly as before — one union'd join
    // would let an image aHash pair with an audio energy hash
    def hashesOf(side: String) = metaAll
      .filter(col("has_hash") && col("side") === side)
      .select(col("media_id"), col("ahash"))
    val pairs = nearDupImages(hashesOf("i"), maxDist)
      .unionAll(nearDupImages(hashesOf("a"), maxDist))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup.resolveBestByScore(meta.select("media_id"), pairs, scores, idCol = "media_id")
  }
}
