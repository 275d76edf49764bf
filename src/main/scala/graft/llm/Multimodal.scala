package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{OpQuery, Tables}
import graft.OpQuery.sql

/** Multimodal-column plumbing (builder-prompt north-star): media as opaque
  * `binary` columns with a typed metadata struct, batch-shaped
  * decode/feature-extract over partitions.
  *
  * Codec status (round 12): the IMAGE legs are a REAL codec — m1/m2
  * (decode + pixel stats + the 8-bin raster histogram features), m3's
  * resize (decode → area-average raster → re-encode → re-decode,
  * [[resizeImageStats]]), m6's scene cuts (per-frame PNG clips decoded
  * for frame-difference energies, [[videoTable]]/[[sceneCutsImage]]),
  * and m7's alignment features ([[extractFeatures]]) all run actual PNG
  * bytes through `javax.imageio` inside the mapPartitions seam,
  * full-oracle-verified pixel for pixel. The AUDIO leg (r12) is a real
  * codec too: documents become genuine RIFF/WAV clips ([[audioTable]]),
  * decoded through `javax.sound.sampled` and fingerprinted off a real
  * DFT spectrogram ([[audioLandmarks]]); m3's frame-sample leg (r12)
  * samples and decodes real clip frames. m4's perceptual hash (r13) is
  * a TRUE average-hash of the DECODED raster of a real content-image
  * PNG ([[contentImageTable]] → [[imageAHash]]) — every codec leg,
  * registry and helper alike, now decodes real container bytes; the
  * generic byte-window stand-ins were deleted once the last consumer
  * (m3's frame sampling) moved onto the real decoder. New container
  * formats slot into the same mapPartitions seam the PNG/WAV legs use
  * — schema, batch iteration shape, partition parallelism, and output
  * contract are format-independent and proven by those legs.
  */
object Multimodal {

  // Every codec call goes through these two helpers: ImageIO's default
  // useCache=true backs each read/write of a plain stream with a temp
  // file PER IMAGE, pure overhead for this engine's few-KB in-memory
  // PNGs. The helpers wrap memory-backed streams explicitly, leaving the
  // process-wide ImageIO setting alone; the bytes are identical.

  /** Decode an image payload; null when no reader accepts it. */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes)))

  /** PNG-encode an image; the stream is flushed and closed before the
    * bytes are taken. */
  private def pngBytes(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", out) finally out.close()
    bos.toByteArray
  }

  /** The media row contract: an opaque payload plus typed metadata —
    * the Parquet layout a 100 TB multimodal corpus would use (payload
    * column chunks stay untouched unless projected).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("n_bytes", LongType),
      StructField("source", StringType))))))

  /** Build a media table from the documents corpus: the UTF-8 text bytes
    * act as the opaque payload. NULL text normalizes to an EMPTY payload
    * here, at the boundary — n_bytes is then a non-nullable 0, so the
    * typed `.as[(Long, Array[Byte], Long)]` maps downstream can't hit a
    * null primitive, and the oracles mirror the same coalesce.
    */
  def mediaTable(docs: DataFrame): DataFrame = {
    val payload = coalesce(col("text").cast("binary"), lit(Array.emptyByteArray))
    docs.select(
      col("doc_id"),
      payload.as("payload"),
      struct(
        lit("text/plain").as("format"),
        length(payload).cast("long").as("n_bytes"),
        col("source").as("source")).as("meta"))
  }

  /** Extracted features per media item: brightness plus the 8-bin
    * intensity histogram of the DECODED raster as the feature vector
    * (the r12 real-codec feature leg — integer pixel counts, so the
    * closed-form oracle replays them exactly).
    */
  final case class MediaFeatures(
      doc_id: Long, n_pixels: Long, brightness: Double, feature: Array[Float])

  /** ======= REAL CODEC (round-10: one genuine decoder behind the seam) ==
    * The m1/m2 leg runs on ACTUAL PNG bytes through `javax.imageio` —
    * encode and decode both inside the mapPartitions seam, so the
    * schema/batch/partition plumbing is exercised by a real
    * binary-media codec (the audio leg gets the same treatment through
    * `javax.sound.sampled`, r12). The full DuckDB
    * oracle survives because the fixture's DECODED PIXELS are a closed
    * integer form of doc_id — the oracle recomputes the pixel math
    * while Spark must recover the identical values through a real
    * encode → PNG byte stream → decode round trip (PNG grayscale is
    * lossless, so any disagreement is a codec-contract bug, which is
    * exactly what this leg exists to catch).
    *
    * Fixture geometry: width 4 + id mod 13, height 3 + id mod 7,
    * gray(x, y) = (id·31 + x·7 + y·13) mod 256.
    */
  def imagePixel(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt
  def imageWidth(id: Long): Int = 4 + (id % 13).toInt
  def imageHeight(id: Long): Int = 3 + (id % 7).toInt

  /** Real-PNG media table: one encoded grayscale PNG per document,
    * generated inside the partition (no driver involvement, no test
    * data beyond the driver's doc ids).
    */
  def imageTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = imageWidth(id)
        val h = imageHeight(id)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val r = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { r.setSample(x, y, 0, imagePixel(id, x, y)); x += 1 }
          y += 1
        }
        (id, pngBytes(img))
      })
      .toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        struct(lit("image/png").as("format"),
          length(col("payload")).cast("long").as("n_bytes"),
          lit("synthetic").as("source")).as("meta"))
  }

  /** Decoded-image row: dimensions, raster band count, pixel volume,
    * exact integer pixel total (mean derives from it divisionless until
    * the final double), 8 diagonal-strip sums ((x+y) mod 8 — every
    * geometry the fixture produces populates a strip or coalesces to 0
    * on both engines), and an 8-bin intensity HISTOGRAM (bin = v div 32
    * over the 0..255 gray range — the r12 real feature leg: integer
    * counts from the decoded raster, exactly replayable closed-form).
    */
  final case class DecodedImage(doc_id: Long, width: Long, height: Long,
      channels: Long, n_pixels: Long, total: Long, strips: Array[Long],
      hist: Array[Long])

  /** Real PNG decode + pixel stats for one payload — `javax.imageio`
    * end to end.
    */
  def decodeImage(id: Long, payload: Array[Byte]): DecodedImage = {
    val img = readImage(payload)
    require(img != null, s"doc $id: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val r = img.getRaster
    var tot = 0L
    val strips = new Array[Long](8)
    val hist = new Array[Long](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = r.getSample(x, y, 0).toLong
        tot += v
        strips((x + y) % 8) += v
        hist((v / 32).toInt) += 1L
        x += 1
      }
      y += 1
    }
    DecodedImage(id, w.toLong, h.toLong, r.getNumBands.toLong,
      (w.toLong * h), tot, strips, hist)
  }

  /** Shared m1/m2 decode stage: imageTable → mapPartitions decode. */
  def decodedImages(s: SparkSession, docs: DataFrame): DataFrame = {
    val spark = s
    import spark.implicits._
    imageTable(Tables.spread(docs))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => decodeImage(id, p) })
      .toDF()
  }

  /** Batch feature extraction over the REAL codec (r12 — the last image
    * stub retired): decode each PNG payload, brightness = exact pixel
    * mean, feature = the 8-bin intensity histogram as floats (counts
    * ≤ 255·n_pixels fit a float exactly at fixture scale). The Scala
    * analogue of an Arrow-batched Pandas UDF: one iterator per
    * partition, constant memory, no driver involvement.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val d = decodeImage(id, payload)
        MediaFeatures(id, d.n_pixels,
          d.total.toDouble / d.n_pixels, d.hist.map(_.toFloat))
      })
      .toDF()
  }

  /** m5 constants, shared by the codec path and the oracle CTE string. */
  val LmkFrame = 64     // text bytes per audio frame (and samples per frame)
  val LmkBands = 8      // spectral bands (DFT bins 1..8) per frame
  val LmkMaxDelta = 2   // landmark pairs span 1..this many frames
  val LmkBucketCap = 50 // inverted-index skew guard (the d3 cap)
  val LmkMinShared = 5  // pairs below this many shared landmarks drop
  val LmkRateHz = 8000f   // WAV sample rate (bins 1..8 → 125..1000 Hz)
  val LmkAmpMajor = 9000  // dominant-tone amplitude (16-bit headroom)
  val LmkAmpMinor = 4500  // secondary-tone amplitude (4× energy apart)

  /** ======= REAL CODEC (r12 — the audio stub retired) ==================
    * The m5 fixture's closed-form TONE SCHEDULE — the audio analogue of
    * [[imagePixel]]: frame the document's TEXT bytes ([[LmkFrame]]
    * bytes per frame), and a frame's (dominant, secondary) tone pair is
    * its top-2 byte-band energies (byte positions ≡ b mod
    * [[LmkBands]]; ties to the lower band, secondary excludes the
    * dominant). State = p1·[[LmkBands]] + p2, one per frame. The WAV
    * synthesis plants sinusoids at DFT bins p1+1 / p2+1 so a real
    * spectral peak-pick must recover exactly these states — and the
    * DuckDB oracle recomputes them from hex(text) without ever touching
    * audio, the m1/m3/m6 closed-form pattern.
    */
  def audioFrameStates(payload: Array[Byte]): Array[Int] = {
    val nF = if (payload == null) 0 else payload.length / LmkFrame
    if (nF <= 0) return Array.empty
    val states = new Array[Int](nF)
    var f = 0
    while (f < nF) {
      val en = new Array[Long](LmkBands)
      var j = f * LmkFrame
      while (j < (f + 1) * LmkFrame) { en(j % LmkBands) += (payload(j) & 0xff).toLong; j += 1 }
      var p1 = 0
      var b = 1
      while (b < LmkBands) { if (en(b) > en(p1)) p1 = b; b += 1 }
      var p2 = -1
      b = 0
      while (b < LmkBands) { if (b != p1 && (p2 == -1 || en(b) > en(p2))) p2 = b; b += 1 }
      states(f) = p1 * LmkBands + p2
      f += 1
    }
    states
  }

  /** Shazam-scheme landmark keys from a frame-state sequence: the
    * DISTINCT hashed (state_a, state_b, delta) keys for frame pairs up
    * to [[LmkMaxDelta]] apart, sorted.
    */
  def landmarkKeys(states: Array[Int]): Array[Int] = {
    val keys = scala.collection.mutable.SortedSet.empty[Int]
    val nStates = LmkBands * LmkBands
    val nF = states.length
    var i = 0
    while (i < nF) {
      var d = 1
      while (d <= LmkMaxDelta) {
        if (i + d < nF)
          keys += (states(i) * nStates + states(i + d)) * LmkMaxDelta + (d - 1)
        d += 1
      }
      i += 1
    }
    keys.toArray
  }

  /** Every angle in the 64-sample frame math is a multiple of 2π/64, so
    * one 64-entry sine table replaces all trig in synthesis AND the DFT
    * (cos(x) = sin(x + π/2) = table[i + 16 mod 64]). Values can differ
    * from direct `math.sin(2πkn/64)` in the last ulp (the argument is
    * reduced mod 64 BEFORE the sin) — harmless by construction: the
    * decode path only orders per-bin energies that the fixture
    * separates 4× apart, and both the oracle and the specs pin STATES,
    * never raw samples. Modest in the measured m5 wall (the query is
    * join/shuffle-bound at sf0.1, ~5% off) — the point is the per-core
    * decode throughput at the 100 TB tier, where the map side IS the
    * cost.
    */
  private val SinTable64: Array[Double] =
    Array.tabulate(64)(i => math.sin(2.0 * math.Pi * i / 64))

  /** Synthesize one REAL RIFF/WAV payload (16-bit signed PCM mono,
    * [[LmkRateHz]]) from a document's tone schedule: frame f carries
    * [[LmkFrame]] samples of two sinusoids at DFT bins p1+1 and p2+1
    * (bin 0 = DC is skipped), amplitudes [[LmkAmpMajor]]/[[LmkAmpMinor]]
    * — energies 4× apart, so peak order is unambiguous against the
    * ≤ 0.5/sample integer-rounding noise floor. Encoded through
    * `javax.sound.sampled.AudioSystem` (public stdlib), not hand-built
    * headers.
    */
  def audioWav(payload: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled._
    val states = audioFrameStates(payload)
    val pcm = new Array[Byte](states.length * LmkFrame * 2)
    var f = 0
    while (f < states.length) {
      val p1 = states(f) / LmkBands
      val p2 = states(f) % LmkBands
      var n = 0
      while (n < LmkFrame) {
        val v = math.round(
          LmkAmpMajor * SinTable64(((p1 + 1) * n) % 64) +
            LmkAmpMinor * SinTable64(((p2 + 1) * n) % 64)).toInt
        val o = (f * LmkFrame + n) * 2
        pcm(o) = (v & 0xff).toByte          // little-endian 16-bit
        pcm(o + 1) = ((v >> 8) & 0xff).toByte
        n += 1
      }
      f += 1
    }
    val fmt = new AudioFormat(LmkRateHz, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, states.length.toLong * LmkFrame)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio fingerprint: decode a WAV payload through
    * `javax.sound.sampled`, frame the PCM ([[LmkFrame]] samples), take
    * each frame's spectrogram via a direct 64-point DFT (bins
    * 1..[[LmkBands]]), peak-pick the top-2 energy bins (ties to the
    * lower bin — unreachable on the fixture's 4×-separated tones) as
    * the frame state, and emit the constellation's [[landmarkKeys]].
    * The decode → spectrogram → peak chain is what replaces r11's byte-
    * band stub; the key/matching contract is unchanged.
    */
  def audioLandmarks(id: Long, wav: Array[Byte]): Array[Int] = {
    import javax.sound.sampled._
    if (wav == null || wav.isEmpty) return Array.empty
    val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
      s"doc $id: expected 16-bit mono little-endian PCM, got $fmt")
    val raw = ais.readAllBytes()
    val nSamples = raw.length / 2
    val samples = new Array[Double](nSamples)
    var i = 0
    while (i < nSamples) {
      samples(i) = ((raw(2 * i) & 0xff) | (raw(2 * i + 1).toInt << 8)).toShort.toDouble
      i += 1
    }
    val nF = nSamples / LmkFrame
    val states = new Array[Int](nF)
    var f = 0
    while (f < nF) {
      val en = new Array[Double](LmkBands)
      var k = 1
      while (k <= LmkBands) {
        var re = 0.0
        var im = 0.0
        var n = 0
        while (n < LmkFrame) {
          val i = (k * n) % 64
          val s = samples(f * LmkFrame + n)
          re += s * SinTable64((i + 16) % 64) // cos(x) = sin(x + π/2)
          im += s * SinTable64(i)
          n += 1
        }
        en(k - 1) = re * re + im * im
        k += 1
      }
      var p1 = 0
      var b = 1
      while (b < LmkBands) { if (en(b) > en(p1)) p1 = b; b += 1 }
      var p2 = -1
      b = 0
      while (b < LmkBands) { if (b != p1 && (p2 == -1 || en(b) > en(p2))) p2 = b; b += 1 }
      states(f) = p1 * LmkBands + p2
      f += 1
    }
    landmarkKeys(states)
  }

  /** Real-WAV media table: one encoded RIFF/WAV clip per document,
    * synthesized from the text-derived tone schedule inside the
    * partition (no driver involvement) — the audio analogue of
    * [[imageTable]].
    */
  def audioTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mediaTable(docs)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, audioWav(p)) })
      .toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        struct(lit("audio/wav").as("format"),
          length(col("payload")).cast("long").as("n_bytes"),
          lit("synthetic").as("source")).as("meta"))
  }

  /** Area-average image resize over the REAL decoded raster (r11 — the
    * m3 image leg moves off the byte-stride stub): decode the PNG,
    * halve each dimension (ceil) by integer-floor box averaging (2×2
    * boxes; edge boxes shrink on odd dims), then ENCODE the resized
    * raster back to PNG and RE-DECODE it, reporting stats from the
    * re-decoded pixels — so one row exercises decode → raster math →
    * encode → decode, and the lossless-grayscale contract is what makes
    * the closed-form oracle able to predict the output exactly.
    * `checksum` is the position-weighted pixel sum Σ v(o)·(o+1) in
    * row-major output order — a wrong stride/transpose mismatches it
    * even when the plain total survives.
    */
  def resizeImageStats(id: Long, payload: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val img = readImage(payload)
    require(img != null, s"doc $id: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val tw = (w + 1) / 2
    val th = (h + 1) / 2
    val in = img.getRaster
    val out = new java.awt.image.BufferedImage(
      tw, th, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val or = out.getRaster
    var yy = 0
    while (yy < th) {
      var xx = 0
      while (xx < tw) {
        var sum = 0
        var cnt = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val x = 2 * xx + dx
            val y = 2 * yy + dy
            if (x < w && y < h) { sum += in.getSample(x, y, 0); cnt += 1 }
            dx += 1
          }
          dy += 1
        }
        or.setSample(xx, yy, 0, sum / cnt)
        xx += 1
      }
      yy += 1
    }
    val rd = readImage(pngBytes(out))
    val rr = rd.getRaster
    var tot = 0L
    var chk = 0L
    var o = 0
    while (o < tw * th) {
      val v = rr.getSample(o % tw, o / tw, 0).toLong
      tot += v
      chk += v * (o + 1)
      o += 1
    }
    (id, tw.toLong, th.toLong, tot, chk)
  }

  /** Closed-form VIDEO fixture (the m6 real-codec leg): doc `id` is a
    * clip of `3 + id mod 5` grayscale frames, frame f's pixel
    * (id·31 + f·53 + x·7 + y·13) mod 256 at the m1 geometry — each
    * frame a REAL encoded PNG, the clip an `array<binary>` payload (the
    * multimodal layout for video: one row, one frame sequence).
    */
  def videoFrameCount(id: Long): Int = 3 + (id % 5).toInt
  def videoPixel(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 53 + x * 7 + y * 13) % 256).toInt

  /** Real scene-cut detection over decoded frames (r11 — m6 moves off
    * the byte-window stub; audio followed in r12): each frame
    * PNG-encoded inside the partition, decoded back, per-frame energy =
    * exact pixel sum, and a cut between adjacent frames iff
    * 4·|Δenergy| > 255·n_pixels (mean absolute frame difference above a
    * quarter of full scale — all-integer, so the oracle replays the
    * threshold exactly). Scenes are the runs between cuts. One scan,
    * map-side only.
    */
  def videoTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = imageWidth(id)
        val h = imageHeight(id)
        val frames: Seq[Array[Byte]] = (0 until videoFrameCount(id)).map { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val r = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { r.setSample(x, y, 0, videoPixel(id, f, x, y)); x += 1 }
            y += 1
          }
          pngBytes(img)
        }
        (id, frames)
      })
      .toDF("doc_id", "frames")
      .select(col("doc_id"), col("frames"),
        struct(lit("video/png-frames").as("format"),
          size(col("frames")).cast("long").as("n_frames"),
          lit("synthetic").as("source")).as("meta"))
  }

  def sceneCutsImage(s: SparkSession, docs: DataFrame): DataFrame = {
    val spark = s
    import spark.implicits._
    videoTable(docs)
      .select(col("doc_id"), col("frames"))
      .as[(Long, Seq[Array[Byte]])]
      .mapPartitions(_.map { case (id, frames) =>
        val energies = frames.map { p =>
          val img = readImage(p)
          require(img != null, s"doc $id: frame is not a decodable image")
          val rr = img.getRaster
          var tot = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { tot += rr.getSample(x, y, 0).toLong; x += 1 }
            y += 1
          }
          tot
        }
        val nf = frames.length
        val npx = imageWidth(id).toLong * imageHeight(id)
        val cuts = (1 until nf).filter(f =>
          4L * math.abs(energies(f) - energies(f - 1)) > 255L * npx)
        val bounds = 0 +: cuts :+ nf
        val longest =
          if (nf == 0) 0L
          else bounds.sliding(2).map(p => (p(1) - p(0)).toLong).max
        (id, nf.toLong, cuts.length.toLong,
          if (nf == 0) 0L else cuts.length.toLong + 1, longest)
      })
      .toDF("doc_id", "n_frames", "n_cuts", "n_scenes", "longest_scene")
  }

  /** m4's content-image fixture (r13 — the byte-stub signature retired):
    * each document becomes a REAL [[AHashSide]]×[[AHashSide]] grayscale
    * PNG whose pixels TILE the document's text bytes
    * (pixel(x, y) = byte[(y·side + x) mod n], 0 for an empty doc) — the
    * image analogue of [[audioTable]]'s tone schedule: identical texts
    * encode to identical images, so media near-dup stays the dedup
    * signal it should be, while the pixels remain a closed integer form
    * of hex(text) the oracle can replay. Encoded inside the partition
    * (no driver involvement).
    */
  val AHashSide = 16
  def contentImagePixel(bytes: Array[Byte], x: Int, y: Int): Int =
    if (bytes.length == 0) 0 else bytes((y * AHashSide + x) % bytes.length) & 0xff

  def contentImageTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
        coalesce(col("text").cast("binary"), lit(Array.emptyByteArray)).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img = new java.awt.image.BufferedImage(
          AHashSide, AHashSide, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val r = img.getRaster
        var y = 0
        while (y < AHashSide) {
          var x = 0
          while (x < AHashSide) {
            r.setSample(x, y, 0, contentImagePixel(bytes, x, y)); x += 1
          }
          y += 1
        }
        (id, pngBytes(img))
      })
      .toDF("doc_id", "payload")
  }

  /** TRUE average-hash over the DECODED raster (r13 — the last stub
    * codec leg closed): decode the PNG, partition the raster into an
    * 8×8 grid of boxes (box (i, j) covers x ∈ [i·w/8, (i+1)·w/8), same
    * for y — exact 2×2 boxes at the fixture's 16×16, degenerate boxes
    * empty below 8 px), bit k set iff the box MEAN exceeds the global
    * pixel mean, compared cross-multiplied (s_k·n_pixels > tot·cnt_k)
    * so the whole hash is exact integer math both engines agree on bit
    * for bit. Two 32-bit halves (a 1<<63 BIGINT shift overflows in the
    * oracle). Unlike the retired byte-slot stub, two identical rasters
    * through ANY lossless encoder now collide — the hash sees pixels,
    * not encoder trivia.
    */
  def imageAHash(id: Long, payload: Array[Byte]): (Long, Long) = {
    val img = readImage(payload)
    require(img != null, s"doc $id: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val r = img.getRaster
    val s = new Array[Long](64)
    val c = new Array[Long](64)
    var tot = 0L
    var npx = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        val x1 = (i + 1) * w / 8
        val y1 = (j + 1) * h / 8
        var sum = 0L
        var cnt = 0L
        var y = j * h / 8
        while (y < y1) {
          var x = i * w / 8
          while (x < x1) { sum += r.getSample(x, y, 0); cnt += 1; x += 1 }
          y += 1
        }
        val k = j * 8 + i
        s(k) = sum; c(k) = cnt; tot += sum; npx += cnt
        i += 1
      }
      j += 1
    }
    def half(off: Int): Long = {
      var acc = 0L
      var k = 0
      while (k < 32) {
        if (s(off + k) * npx > tot * c(off + k)) acc |= 1L << k
        k += 1
      }
      acc
    }
    (half(0), half(32))
  }

  /** m4's banded perceptual-hash near-dup pairs as a reusable frame —
    * the aHash signature comes off the REAL decoded raster
    * ([[contentImageTable]] → [[imageAHash]] through the mapPartitions
    * decode seam), 4×16 pigeonhole banding (lossless for hamming ≤ 3),
    * d3's bucket cap, exact hamming verify on candidates. Feeds the m4
    * registry entry and the m8 cluster composition. The bucket cap is
    * a skew-safe `groupBy(band, bk).count()` + keyed join (r13): the
    * hash-agg partials absorb a degenerate hot bucket map-side, where
    * the old `count().over(Window.partitionBy(band, bk))` would land
    * the whole uncapped bucket on one window task first.
    */
  def phashPairs(s: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    val spark = s
    import spark.implicits._
    // the signature frame feeds the bucket-count aggregation AND both
    // sides of the candidate self-join — live, the encode→decode→aHash
    // codec pass would run once per consumer. Spill the 24 B/doc
    // signatures once (the t20/t24 artifact pattern; released by
    // Verify/Bench per query) and every consumer reads the artifact.
    val phDir = graft.llm.Dedup.spillRun(s, None, "phashPairs", "ph")
    contentImageTable(Tables.spread(docs))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val (lo, hi) = imageAHash(id, p)
        (id, lo, hi)
      })
      .toDF("doc_id", "lo", "hi")
      .write.mode("overwrite").parquet(phDir)
    val ph = s.read.parquet(phDir)
    val bands = ph.select(col("doc_id"), col("lo"), col("hi"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bk",
        when(col("band") < 2, expr("(lo >> (band * 16)) & 65535"))
          .otherwise(expr("(hi >> ((band - 2) * 16)) & 65535")))
    val smallBuckets = bands.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("nb"))
      .filter(col("nb") <= 50)
      .select(col("band"), col("bk"))
    val capped = bands.join(smallBuckets, Seq("band", "bk"))
    val a = capped.select(col("band"), col("bk"), col("doc_id").as("da"),
      col("lo").as("la"), col("hi").as("ha"))
    val b = capped.select(col("band"), col("bk"), col("doc_id").as("db"),
      col("lo").as("lb"), col("hi").as("hb"))
    a.join(b, Seq("band", "bk"))
      .filter(col("db") > col("da"))
      .select(col("da"), col("db"), col("la"), col("ha"), col("lb"), col("hb"))
      .distinct()
      .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"),
        expr("bit_count(la ^ lb) + bit_count(ha ^ hb)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  def registry: Seq[OpQuery] = Seq(

    // ---- media metadata stats through a REAL PNG decode ------------------
    // Round-10: m1/m2 run on actual encoded PNG bytes via javax.imageio
    // (see [[imageTable]]); the oracle recomputes the fixture's
    // closed-form pixel math while Spark must recover identical values
    // through the real encode → decode round trip. Dimensions, band
    // count, and the exact pixel total all come from the decoder — a
    // wrong stride, band order, or color-model assumption mismatches
    // the oracle immediately.
    sql("m1_media_stats",
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents
        |), px AS (
        |  SELECT doc_id, w, h,
        |         (doc_id * 31 + x.range * 7 + y.range * 13) % 256 AS v
        |  FROM d
        |  JOIN range(0, 17) x ON x.range < d.w
        |  JOIN range(0, 10) y ON y.range < d.h
        |)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_pixels,
        |  round(CAST(sum(v) AS DOUBLE) / (w * h), 6) AS mean_brightness
        |FROM px GROUP BY doc_id, w, h""".stripMargin) { (s, d) =>
      decodedImages(s, Tables.documents(s, d))
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          col("n_pixels"),
          round(col("total").cast("double") / col("n_pixels"), 6)
            .as("mean_brightness"))
    },

    // ---- batched feature extraction through the REAL PNG decode ----------
    // The m2 features are 8 diagonal-strip pixel sums ((x+y) mod 8,
    // mod 1000) plus mean brightness — all exact integer math on the
    // DECODED raster, so the oracle's closed-form recomputation must
    // match bit for bit. A strip a small image never touches coalesces
    // to 0 on both engines.
    sql("m2_media_features",
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, (x.range + y.range) % 8 AS strip,
        |         (doc_id * 31 + x.range * 7 + y.range * 13) % 256 AS v
        |  FROM d
        |  JOIN range(0, 17) x ON x.range < d.w
        |  JOIN range(0, 10) y ON y.range < d.h
        |)
        |SELECT doc_id,
        |  round(CAST(sum(v) AS DOUBLE) / (w * h), 6) AS brightness,
        |  CAST(coalesce(sum(v) FILTER (strip = 0), 0) % 1000 AS DOUBLE) AS f0,
        |  CAST(coalesce(sum(v) FILTER (strip = 1), 0) % 1000 AS DOUBLE) AS f1,
        |  CAST(coalesce(sum(v) FILTER (strip = 2), 0) % 1000 AS DOUBLE) AS f2,
        |  CAST(coalesce(sum(v) FILTER (strip = 3), 0) % 1000 AS DOUBLE) AS f3,
        |  CAST(coalesce(sum(v) FILTER (strip = 4), 0) % 1000 AS DOUBLE) AS f4,
        |  CAST(coalesce(sum(v) FILTER (strip = 5), 0) % 1000 AS DOUBLE) AS f5,
        |  CAST(coalesce(sum(v) FILTER (strip = 6), 0) % 1000 AS DOUBLE) AS f6,
        |  CAST(coalesce(sum(v) FILTER (strip = 7), 0) % 1000 AS DOUBLE) AS f7
        |FROM px GROUP BY doc_id, w, h""".stripMargin) { (s, d) =>
      decodedImages(s, Tables.documents(s, d))
        .select(
          col("doc_id") +:
            round(col("total").cast("double") / col("n_pixels"), 6)
              .as("brightness") +:
            (0 until 8).map(j =>
              (col("strips")(j) % 1000).cast("double").as(s"f$j")): _*)
    },

    // ---- image resize (REAL codec, r11) + frame sampling (REAL, r12) -----
    // The image leg runs the full decode → area-average raster
    // resize → re-encode → re-decode loop on actual PNG bytes
    // ([[resizeImageStats]]); the oracle predicts the resized pixels
    // from the fixture's closed-form image (2×2 integer-floor box
    // means, edge boxes shrink on odd dims) and pins both the plain
    // total AND a position-weighted checksum — a transposed stride or
    // wrong box clipping mismatches immediately. r12: the FRAME leg
    // moves off the byte-window stub too — it samples 2 evenly-spaced
    // frames from the [[videoTable]] clip (real per-frame PNGs) and
    // decodes ONLY those (the point of sampling: a curation pass never
    // decodes the whole clip), reporting their exact pixel energies;
    // the oracle replays the sampled indices (0 and nf÷2) and energies
    // from the closed-form frame pixels while Spark must recover them
    // through the PNG round trip. (PNG byte SIZES are encoder-defined
    // and not oracle-expressible — that is what kept this leg stubbed;
    // energies are.) The generic byte-window sampler remains as the
    // spec-tested seam for container formats with no codec here.
    sql("m3_media_resize_frames", {
      s"""WITH vf AS (
         |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
         |         3 + doc_id % 5 AS nf
         |  FROM documents
         |), en AS (
         |  SELECT doc_id, nf,
         |    [ CAST(list_sum([ (doc_id*31 + f*53 + (i // h)*7 + (i % h)*13) % 256
         |          FOR i IN range(w*h) ]) AS BIGINT)
         |      FOR f IN range(nf) ] AS sums
         |  FROM vf
         |), fleg AS (
         |  SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
         |    CAST(2 AS BIGINT) AS n_sampled,
         |    CAST(sums[1] + sums[nf // 2 + 1] AS BIGINT) AS sampled_energy,
         |    CAST(1 * sums[1] + 2 * sums[nf // 2 + 1] AS BIGINT)
         |      AS sampled_checksum
         |  FROM en
         |), g AS (
         |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, w, h, (w + 1) // 2 AS tw, (h + 1) // 2 AS th FROM g
         |), rv AS (
         |  SELECT doc_id, tw, th,
         |    [ CAST(list_sum([ (doc_id*31 + (2*(o % tw) + i % 2)*7
         |                       + (2*(o // tw) + i // 2)*13) % 256
         |          FOR i IN range(4)
         |          IF 2*(o % tw) + i % 2 < w AND 2*(o // tw) + i // 2 < h ])
         |        // len([ i FOR i IN range(4)
         |          IF 2*(o % tw) + i % 2 < w AND 2*(o // tw) + i // 2 < h ])
         |        AS BIGINT)
         |      FOR o IN range(tw*th) ] AS v
         |  FROM r
         |)
         |SELECT rv.doc_id, CAST(tw AS BIGINT) AS resized_w,
         |  CAST(th AS BIGINT) AS resized_h,
         |  CAST(list_sum(v) AS BIGINT) AS resized_total,
         |  CAST(list_sum([ v[o+1] * (o+1) FOR o IN range(tw*th) ]) AS BIGINT)
         |    AS resized_checksum,
         |  fleg.n_frames, fleg.n_sampled, fleg.sampled_energy,
         |  fleg.sampled_checksum
         |FROM rv JOIN fleg ON fleg.doc_id = rv.doc_id""".stripMargin
    }) { (s, d) =>
      val spark = s
      import spark.implicits._
      val docs = Tables.documents(s, d)
      val resize = imageTable(Tables.spread(docs))
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, p) => resizeImageStats(id, p) })
        .toDF("doc_id", "resized_w", "resized_h", "resized_total",
          "resized_checksum")
      val framesLeg = videoTable(Tables.spread(docs))
        .select(col("doc_id"), col("frames"))
        .as[(Long, Seq[Array[Byte]])]
        .mapPartitions(_.map { case (id, frames) =>
          val nf = frames.length
          val k = math.min(2, nf)
          // evenly-spaced sample indices: j·nf/2 (0 and nf÷2) — decode
          // ONLY the sampled frames; the clip's other PNGs stay bytes
          val energies = (0 until k).map { j =>
            val img = readImage(frames(j * nf / 2))
            require(img != null, s"doc $id: sampled frame not decodable")
            val rr = img.getRaster
            var tot = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { tot += rr.getSample(x, y, 0).toLong; x += 1 }
              y += 1
            }
            tot
          }
          (id, nf.toLong, k.toLong, energies.sum,
            energies.zipWithIndex.map { case (e, j) => (j + 1) * e }.sum)
        })
        .toDF("doc_id", "n_frames", "n_sampled", "sampled_energy",
          "sampled_checksum")
      resize.join(framesLeg, Seq("doc_id"))
    },

    // ---- perceptual-hash near-dup (media dedup without exact bytes) ------
    // TRUE aHash over the REAL decoder (r13 — the last stub codec leg
    // closed): each document is a real 16×16 content-image PNG (pixels
    // tile the text bytes, [[contentImageTable]]), DECODED through
    // javax.imageio, and the 64-bit signature is the 8×8 box-mean
    // average hash of the DECODED raster ([[imageAHash]] — bit k iff
    // box mean > global mean, cross-multiplied integer compare), banded
    // 4×16 (d4's pigeonhole: hamming ≤ 3 ⇒ some band equal — lossless),
    // candidates verified at exact hamming. The hash lives in two
    // 32-bit halves (a 1<<63 BIGINT shift overflows in the oracle;
    // hamming = popcount(xor) per half, summed). FULL oracle: the
    // fixture pixels are a closed integer form of hex(text), so DuckDB
    // replays tile → 2×2 box sums → threshold while Spark must recover
    // the identical bits through the encode → PNG → decode round trip
    // (the m5/m7 precedent). Scale shape: signature via mapPartitions
    // (the decode seam, embarrassingly parallel); band buckets are
    // CORPUS-DERIVED and meet in a keyed shuffle self-join with the
    // d3/d4 bucket cap (≤ 50) bounding degenerate buckets — applied via
    // skew-safe groupBy-count + join, not a window; exact verify only
    // on candidates.
    sql("m4_phash_neardup",
      """WITH b AS (
        |  SELECT doc_id, hex(coalesce(encode(text), encode(''))) AS hx,
        |         octet_length(coalesce(encode(text), encode(''))) AS n
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, n,
        |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1)
        |      FOR i IN range(n) ] AS bytes
        |  FROM b
        |), sums AS (
        |  SELECT doc_id,
        |    [ CAST(CASE WHEN n = 0 THEN 0 ELSE
        |        list_sum([ bytes[((((k // 8) * 2 + d // 2) * 16
        |                          + (k % 8) * 2 + d % 2) % n) + 1]
        |          FOR d IN range(4) ]) END AS BIGINT)
        |      FOR k IN range(64) ] AS s,
        |    CAST(CASE WHEN n = 0 THEN 0 ELSE
        |      list_sum([ bytes[(p % n) + 1] FOR p IN range(256) ]) END AS BIGINT)
        |      AS tot
        |  FROM e
        |), ph AS (
        |  SELECT doc_id,
        |    list_sum([ CASE WHEN s[i + 1] * 64 > tot THEN 1::BIGINT << i ELSE 0 END
        |      FOR i IN range(32) ]) AS lo,
        |    list_sum([ CASE WHEN s[i + 33] * 64 > tot THEN 1::BIGINT << i ELSE 0 END
        |      FOR i IN range(32) ]) AS hi
        |  FROM sums
        |), bands AS (
        |  SELECT doc_id, lo, hi, band,
        |    CASE WHEN band < 2 THEN (lo >> (band * 16)) & 65535
        |         ELSE (hi >> ((band - 2) * 16)) & 65535 END AS bk
        |  FROM ph, unnest(range(4)) AS t(band)
        |), capped AS (
        |  SELECT doc_id, lo, hi, band, bk FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, bk) AS nb FROM bands)
        |  WHERE nb <= 50
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
        |    a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bk = b.bk AND b.doc_id > a.doc_id
        |)
        |SELECT da AS doc_id_a, db AS doc_id_b,
        |  CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3""".stripMargin) { (s, d) =>
      phashPairs(s, Tables.documents(s, d))
    },

    // ---- media dedup clusters + best-resolution representative -----------
    // What an image pipeline runs after m4: collapse the perceptual-hash
    // pairs into duplicate clusters (the d8 min-label closure on capped
    // pairs) and keep the LARGEST payload per cluster — byte count is
    // the resolution/quality proxy when all you have is the blob — with
    // doc_id as the integer tiebreak. Per-cluster rank keys on comp_id
    // (cardinality grows with the corpus). Oracle: m4's full signature/
    // banding chain + the d8 recursive-CTE closure + the same integer
    // rank.
    sql("m8_media_dedup_clusters",
      """WITH RECURSIVE b AS (
        |  SELECT doc_id, hex(coalesce(encode(text), encode(''))) AS hx,
        |         octet_length(coalesce(encode(text), encode(''))) AS n
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, n,
        |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1)
        |      FOR i IN range(n) ] AS bytes
        |  FROM b
        |), sums AS (
        |  SELECT doc_id,
        |    [ CAST(CASE WHEN n = 0 THEN 0 ELSE
        |        list_sum([ bytes[((((k // 8) * 2 + d // 2) * 16
        |                          + (k % 8) * 2 + d % 2) % n) + 1]
        |          FOR d IN range(4) ]) END AS BIGINT)
        |      FOR k IN range(64) ] AS s,
        |    CAST(CASE WHEN n = 0 THEN 0 ELSE
        |      list_sum([ bytes[(p % n) + 1] FOR p IN range(256) ]) END AS BIGINT)
        |      AS tot
        |  FROM e
        |), ph AS (
        |  SELECT doc_id,
        |    list_sum([ CASE WHEN s[i + 1] * 64 > tot THEN 1::BIGINT << i ELSE 0 END
        |      FOR i IN range(32) ]) AS lo,
        |    list_sum([ CASE WHEN s[i + 33] * 64 > tot THEN 1::BIGINT << i ELSE 0 END
        |      FOR i IN range(32) ]) AS hi
        |  FROM sums
        |), bands AS (
        |  SELECT doc_id, lo, hi, band,
        |    CASE WHEN band < 2 THEN (lo >> (band * 16)) & 65535
        |         ELSE (hi >> ((band - 2) * 16)) & 65535 END AS bk
        |  FROM ph, unnest(range(4)) AS t(band)
        |), capped AS (
        |  SELECT doc_id, lo, hi, band, bk FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, bk) AS nb FROM bands)
        |  WHERE nb <= 50
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS da, bb.doc_id AS db
        |  FROM capped a JOIN capped bb
        |    ON a.band = bb.band AND a.bk = bb.bk AND bb.doc_id > a.doc_id
        |  WHERE bit_count(xor(a.lo, bb.lo)) + bit_count(xor(a.hi, bb.hi)) <= 3
        |), edges AS (
        |  SELECT da AS ea, db AS eb FROM pairs
        |  UNION ALL SELECT db, da FROM pairs
        |), reach AS (
        |  SELECT DISTINCT ea AS node, ea AS r FROM edges
        |  UNION
        |  SELECT g.ea AS node, r.r FROM edges g JOIN reach r ON r.node = g.eb
        |), comp AS (
        |  SELECT node AS doc_id, min(r) AS comp_id FROM reach GROUP BY node
        |), sized AS (
        |  SELECT comp_id, count(*) AS sz FROM comp GROUP BY comp_id
        |)
        |SELECT c.doc_id, CAST(c.comp_id AS BIGINT) AS comp_id,
        |  CAST(n.sz AS BIGINT) AS cluster_size,
        |  CAST(q.n AS BIGINT) AS n_bytes,
        |  (ROW_NUMBER() OVER (PARTITION BY c.comp_id
        |     ORDER BY q.n DESC, c.doc_id) = 1) AS kept
        |FROM comp c
        |JOIN sized n USING (comp_id)
        |JOIN b q ON q.doc_id = c.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val comp = graft.llm.Dedup.dedupClusters(
          phashPairs(s, docs).select(col("doc_id_a"), col("doc_id_b")))
        .select(col("doc_id"), col("comp_id"), col("cluster_size"))
      val qual = mediaTable(docs)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("comp_id")).orderBy(col("n_bytes").desc, col("doc_id"))
      comp.join(qual, Seq("doc_id"))
        .withColumn("kept", row_number().over(w) === 1)
        .select(col("doc_id"), col("comp_id"), col("cluster_size"),
          col("n_bytes"), col("kept"))
    },

    // ---- audio-fingerprint near-dup (landmark constellation) -------------
    // The Shazam-scheme shape m4's banded hamming can't give: matching
    // via an INVERTED INDEX of hashed landmark keys, so a pair matches
    // on shared local structure rather than one global bit signature.
    // REAL CODEC (r12 — audio off the stub): each document becomes a
    // genuine RIFF/WAV clip ([[audioTable]] — tones planted at the
    // text-derived schedule), and the fingerprint path decodes it
    // through javax.sound.sampled, takes a per-frame 64-point DFT
    // spectrogram, and peak-picks the top-2 bins ([[audioLandmarks]]).
    // Scale shape: landmark keys meet in ONE keyed shuffle with the d3
    // bucket cap (a hot landmark shared by everything is noise, not
    // signal); ids-only through the self-join; sizes re-attach per side
    // after. FULL oracle: the planted tones make the frame states a
    // closed integer form of the text bytes, so DuckDB replays the
    // schedule from hex(text) while Spark must recover identical states
    // through the synth → WAV → decode → DFT → peak round trip.
    sql("m5_audio_fingerprint", {
      val nStates = LmkBands * LmkBands
      val deltas = (1 to LmkMaxDelta).mkString(", ")
      s"""WITH b AS (
         |  SELECT doc_id, hex(coalesce(encode(text), encode(''))) AS hx,
         |         octet_length(coalesce(encode(text), encode(''))) AS n
         |  FROM documents
         |), e AS (
         |  SELECT doc_id, n,
         |    [ (strpos('0123456789ABCDEF', substr(hx, 2*i + 1, 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF', substr(hx, 2*i + 2, 1)) - 1)
         |      FOR i IN range(n) ] AS bytes
         |  FROM b
         |), fr AS (
         |  SELECT doc_id, f, bnd,
         |    coalesce(list_sum([bytes[j + 1] FOR j IN range(f*$LmkFrame, (f+1)*$LmkFrame)
         |      IF j % $LmkBands = bnd]), 0) AS en
         |  FROM e, unnest(range(n // $LmkFrame)) AS tf(f), unnest(range($LmkBands)) AS tb(bnd)
         |), st AS (
         |  SELECT doc_id, f,
         |    max(CASE WHEN rn = 1 THEN bnd END) * $LmkBands
         |      + max(CASE WHEN rn = 2 THEN bnd END) AS state
         |  FROM (SELECT doc_id, f, bnd,
         |          ROW_NUMBER() OVER (PARTITION BY doc_id, f ORDER BY en DESC, bnd) AS rn
         |        FROM fr) r
         |  WHERE rn <= 2 GROUP BY doc_id, f
         |), lmk AS (
         |  SELECT DISTINCT a.doc_id,
         |    (a.state * $nStates + c.state) * $LmkMaxDelta + (c.f - a.f - 1) AS key
         |  FROM st a JOIN st c ON c.doc_id = a.doc_id AND c.f - a.f IN ($deltas)
         |), sizes AS (
         |  SELECT doc_id, count(*) AS nk FROM lmk GROUP BY doc_id
         |), capped AS (
         |  SELECT doc_id, key FROM (
         |    SELECT doc_id, key, count(*) OVER (PARTITION BY key) AS nb FROM lmk)
         |  WHERE nb <= $LmkBucketCap
         |), pairs AS (
         |  SELECT a.doc_id AS da, c.doc_id AS db, count(*) AS shared
         |  FROM capped a JOIN capped c ON c.key = a.key AND c.doc_id > a.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT p.da AS doc_id_a, p.db AS doc_id_b,
         |  CAST(p.shared AS BIGINT) AS n_shared,
         |  round(CAST(p.shared AS DOUBLE) / least(na.nk, nb.nk), 6) AS score
         |FROM pairs p JOIN sizes na ON na.doc_id = p.da
         |             JOIN sizes nb ON nb.doc_id = p.db
         |WHERE p.shared >= $LmkMinShared""".stripMargin
    }) { (s, d) =>
      val spark = s
      import spark.implicits._
      // landmark extraction is the expensive leg (WAV synth + decode +
      // per-frame DFT); it feeds sizes, the cap counts, and both join
      // sides — spill the compact (doc_id, keys) frame once so the
      // codec pass runs once (the phashPairs artifact discipline)
      val lmkDir = graft.llm.Dedup.spillRun(s, None, "m5_audio", "lmk")
      audioTable(Tables.spread(Tables.documents(s, d)))
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, p) => (id, audioLandmarks(id, p)) })
        .toDF("doc_id", "keys")
        .write.mode("overwrite").parquet(lmkDir)
      val lmk = s.read.parquet(lmkDir)
      val ex = lmk.select(col("doc_id"), explode(col("keys")).as("key"))
      val sizes = lmk.filter(size(col("keys")) > 0)
        .select(col("doc_id"), size(col("keys")).cast("long").as("nk"))
      // skew-safe cap (r13): groupBy-count partials absorb a hot landmark
      // map-side; the old count-over-Window landed the whole uncapped
      // bucket on one window task before the filter could drop it
      val smallKeys = ex.groupBy(col("key"))
        .agg(count(lit(1)).as("nb"))
        .filter(col("nb") <= LmkBucketCap)
        .select(col("key"))
      val capped = ex.join(smallKeys, Seq("key"))
      val a = capped.select(col("key"), col("doc_id").as("da"))
      val c = capped.select(col("key"), col("doc_id").as("db"))
      a.join(c, Seq("key"))
        .filter(col("db") > col("da"))
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= LmkMinShared)
        .join(sizes.select(col("doc_id").as("da"), col("nk").as("na")), Seq("da"))
        .join(sizes.select(col("doc_id").as("db"), col("nk").as("nb")), Seq("db"))
        .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"),
          col("shared").cast("long").as("n_shared"),
          round(col("shared").cast("double") / least(col("na"), col("nb")), 6).as("score"))
    },

    // ---- video scene segmentation (REAL frame codec, r11) ----------------
    // The frame-difference shot detector every video-curation pipeline
    // runs before sampling clips, now over REAL decoded frames: the
    // clip fixture is an `array<binary>` of per-frame PNGs
    // ([[videoTable]] — one row per clip, the multimodal video layout),
    // each frame decoded back through javax.imageio and its energy
    // taken as the exact pixel sum; a cut fires between adjacent frames
    // iff 4·|Δenergy| > 255·n_pixels (all-integer threshold). FULL
    // oracle: the fixture's pixels are a closed form of (doc_id, frame),
    // so DuckDB recomputes every frame energy and replays the threshold
    // and longest-run fold exactly — while Spark must recover identical
    // energies through the encode → PNG → decode round trip per frame.
    // Scale: one scan, per-row CPU-bound decode spread across
    // partitions, no shuffle at all — the whole operator is map-side.
    sql("m6_scene_cuts", {
      s"""WITH p AS (
         |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
         |         3 + doc_id % 5 AS nf
         |  FROM documents
         |), en AS (
         |  SELECT doc_id, nf, w*h AS npx,
         |    [ CAST(list_sum([ (doc_id*31 + f*53 + (i // h)*7 + (i % h)*13) % 256
         |          FOR i IN range(w*h) ]) AS BIGINT)
         |      FOR f IN range(nf) ] AS sums
         |  FROM p
         |), cuts AS (
         |  SELECT doc_id, nf,
         |    [ f FOR f IN range(1, nf) IF 4*abs(sums[f+1] - sums[f]) > 255*npx ]
         |      AS cutpos
         |  FROM en
         |)
         |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
         |  CAST(len(cutpos) AS BIGINT) AS n_cuts,
         |  CAST(CASE WHEN nf = 0 THEN 0 ELSE len(cutpos) + 1 END AS BIGINT) AS n_scenes,
         |  CAST(CASE WHEN nf = 0 THEN 0 ELSE
         |    list_max([ (cutpos || [nf])[j+1] - ([0] || cutpos)[j+1]
         |               FOR j IN range(len(cutpos) + 1) ])
         |  END AS BIGINT) AS longest_scene
         |FROM cuts""".stripMargin
    }) { (s, d) =>
      sceneCutsImage(s, Tables.spread(Tables.documents(s, d)))
    },

    // ---- media–embedding alignment filter (CLIP-score shape) -------------
    // The LAION/DataComp curation step: score each (media, embedding)
    // pair by the cosine between the decoded media features and the
    // paired text/embedding vector, drop the bottom decile as
    // misaligned (caption doesn't match image, corrupt pairs). Feature
    // extraction is the REAL raster leg (r12): the 8-bin intensity
    // histogram of the DECODED PNG pixels ([[extractFeatures]] — the
    // CNN-feature stand-in is now genuine decoded-image statistics; the
    // first 8 embedding dims stand in for the text tower). FULL oracle:
    // DuckDB recomputes the histogram from the fixture's closed-form
    // pixels (the m1/m2 CTEs) while Spark must recover identical counts
    // through the real encode → PNG → decode round trip; both engines
    // slice the embedding, replay the 6-dp-rounded cosine, and rank on
    // the ROUNDED score with a doc_id tiebreak; flag = 10·rank ≤ n.
    // Scale shape: pairing is a keyed equi-join on the id (both sides
    // corpus-sized — shuffle join, no hints); the global rank rides
    // globalRowNumber's two-pass form; the count is a 1-row broadcast.
    sql("m7_alignment_filter", {
      val bins = (0 until 8).map(k =>
        s"CAST(coalesce(count(*) FILTER (bin = $k), 0) AS DOUBLE)").mkString(", ")
      s"""WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents
        |), px AS (
        |  SELECT doc_id,
        |         ((doc_id * 31 + x.range * 7 + y.range * 13) % 256) // 32 AS bin
        |  FROM d
        |  JOIN range(0, 17) x ON x.range < d.w
        |  JOIN range(0, 10) y ON y.range < d.h
        |), f AS (
        |  SELECT doc_id, [ $bins ] AS fv
        |  FROM px GROUP BY doc_id
        |), g AS (""".stripMargin + """
        |  SELECT f.doc_id, fv,
        |    [ CAST(x AS DOUBLE) FOR x IN emb.embedding[1:8] ] AS ev
        |  FROM f JOIN embeddings emb ON emb.vec_id = f.doc_id
        |), sc AS (
        |  SELECT doc_id,
        |    CASE WHEN list_sum([x*x FOR x IN fv]) * list_sum([x*x FOR x IN ev]) = 0 THEN 0.0
        |    ELSE round(list_sum([fv[k+1] * ev[k+1] FOR k IN range(8)])
        |      / (sqrt(list_sum([x*x FOR x IN fv])) * sqrt(list_sum([x*x FOR x IN ev]))), 6)
        |    END AS align_score
        |  FROM g
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
        |r AS (
        |  SELECT doc_id, align_score,
        |    CAST(ROW_NUMBER() OVER (ORDER BY align_score, doc_id) AS BIGINT) AS rank
        |  FROM sc
        |)
        |SELECT doc_id, align_score, rank, 10 * rank <= n.n AS misaligned
        |FROM r, n""".stripMargin
    }) { (s, d) =>
      alignmentFilter(
        extractFeatures(imageTable(Tables.spread(Tables.documents(s, d)))),
        Tables.embeddings(s, d))
    }
  )

  /** See the `m7` registry notes. `featFrame` needs (doc_id, feature:
    * array<float>) — e.g. [[extractFeatures]] over a real-PNG media
    * table; `emb` needs (vec_id, embedding) with vec_id sharing the
    * feature frame's id space.
    */
  def alignmentFilter(featFrame: DataFrame, emb: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.arrayDot
    val feats = featFrame.select(col("doc_id"), col("feature"))
    val e8 = emb.select(col("vec_id").as("doc_id"),
      slice(col("embedding"), 1, 8).as("ev"))
    val sc = feats.join(e8, Seq("doc_id"))
      .select(col("doc_id"),
        when(arrayDot(col("feature"), col("feature"))
          * arrayDot(col("ev"), col("ev")) === 0, lit(0.0))
          .otherwise(round(arrayDot(col("feature"), col("ev")) /
            (sqrt(arrayDot(col("feature"), col("feature"))) *
              sqrt(arrayDot(col("ev"), col("ev")))), 6)).as("align_score"))
    val n = sc.agg(count(lit(1)).as("n"))
    graft.operators.Relational
      .globalRowNumber(sc, Seq(col("align_score"), col("doc_id")), "rank")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("align_score"), col("rank"),
        (col("rank") * 10 <= col("n")).as("misaligned"))
  }

}
