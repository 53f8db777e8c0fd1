package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Q, Spread, Tables}
import graft.Canon.orderAll
import graft.sources.IO

/** A multimodal record: opaque payload + typed metadata (SURVEY §1.1 D4 —
  * the raster-scene-as-binary-column model). */
final case class MediaBlob(doc_id: Long, modality: String, lang: String,
    content: Array[Byte])

/** Decoder output: per-blob features. For images, `n_bytes` is the
  * DECODED payload size (pixel count), `byte_sum` the pixel-value sum,
  * `feat_dim` the image width. */
final case class MediaFeatures(doc_id: Long, modality: String,
    n_bytes: Int, byte_sum: Long, feat_dim: Int)

/** Decoder SPI. A real deployment injects its codec stack here (satpy/
  * rasterio in the reference, `utils/conversion.py:9-19`). The Spark-side
  * plumbing — binary column in, per-partition iterator (decoder
  * initialized once per partition, the mapInPandas batch shape), typed
  * Dataset out — is identical whichever decoder is injected.
  */
trait MediaDecoder extends Serializable {
  /** Called once per partition — codec init/native handles live here. */
  def open(): Unit = ()
  def decode(blob: MediaBlob): MediaFeatures
}

/** Deterministic codec-free decode: byte statistics instead of pixels —
  * the stand-in for modalities whose codecs don't ship in the JVM
  * (audio/video). Kept as the second SPI implementation (MultimodalSpec
  * injects it to prove the seam) alongside the real [[ImageIoDecoder]]. */
object StubDecoder extends MediaDecoder {
  override def decode(b: MediaBlob): MediaFeatures = {
    var sum = 0L
    var i = 0
    while (i < b.content.length) { sum += b.content(i) & 0xff; i += 1 }
    MediaFeatures(b.doc_id, b.modality, b.content.length, sum,
      b.content.length % 64 + 1)
  }
}

/** REAL image decode on the pure-JVM codec stack (`javax.imageio` ships
  * PNG/BMP/GIF/JPEG readers in every JDK — no container dependency): the
  * blob bytes go through an actual PNG parse, and the features come off
  * the decoded raster, closing the A9/A13 stub gap honestly. `open()`
  * does genuine per-partition codec init: ImageIO's temp-file stream
  * cache is disabled once per partition (executors may lack a writable
  * scratch dir, and a heap stream is faster for small blobs). */
object ImageIoDecoder extends MediaDecoder {
  override def open(): Unit = javax.imageio.ImageIO.setUseCache(false)
  override def decode(b: MediaBlob): MediaFeatures = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b.content))
    require(img != null, s"undecodable ${b.modality} blob for doc ${b.doc_id}")
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    MediaFeatures(b.doc_id, b.modality, w * h, sum, w)
  }
}

/** The WAVE codec seam. `AudioSystem.getAudioInputStream` re-walks the
  * whole `AudioFileReader` provider registry and stream-sniffs EVERY
  * registered codec per call — a ~10× constant-factor tax when paid per
  * blob (the same class of waste the TIFF path eliminated with
  * per-partition reader reuse, see [[GeoTiffDecoder.open]]). Here the
  * registry walk happens ONCE per partition: [[open]] resolves the
  * WAVE-capable `javax.sound.sampled.spi.AudioFileReader` by probing
  * each provider with a minimal RIFF header, and every blob in the
  * partition parses through that one resolved reader — still the real
  * javax.sound codec path (the JDK's own WaveFileReader does the RIFF
  * parse), minus the per-row service lookup. */
object WavCodec {
  /** The provider probe: a minimal 1-sample PCM WAVE, encoded once per
    * JVM (the encode itself walks the AudioFileWriter registry — paying
    * that per partition would be the same class of waste open() kills). */
  private lazy val probeBytes: Array[Byte] = Multimodal.wavFor(0L)

  /** Per-partition codec init: ONE ServiceLoader walk + provider probe.
    * The JDK registers its WAVE/AIFF/AU/float-WAVE readers as
    * `AudioFileReader` services in the java.desktop module; the probe (a
    * minimal 1-sample PCM WAVE) selects exactly the RIFF/WAVE-PCM one —
    * the float/extensible readers reject it with
    * UnsupportedAudioFileException, which is the SPI's documented
    * "not mine" signal, not an error. */
  def open(): javax.sound.sampled.spi.AudioFileReader = {
    val probe = probeBytes
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    while (it.hasNext) {
      val r = it.next()
      try {
        r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close()
        return r
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
      }
    }
    throw new IllegalStateException(
      "no WAVE-capable AudioFileReader registered on this JVM")
  }

  /** Parse one blob through the resolved reader: the decoded PCM bytes +
    * the parsed header format, with the unsigned-8-bit-mono layout gate
    * every audio operator shares. Fail-loud on malformed blobs, matching
    * the decoder family's contract. */
  def pcm(reader: javax.sound.sampled.spi.AudioFileReader, b: MediaBlob)
      : (Array[Byte], javax.sound.sampled.AudioFormat) = {
    val ais = reader.getAudioInputStream(
      new java.io.ByteArrayInputStream(b.content))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
      s"unexpected WAVE layout for doc ${b.doc_id}: $fmt")
    (ais.readAllBytes(), fmt)
  }
}

/** REAL audio decode on the pure-JVM codec stack (`javax.sound.sampled`
  * ships WAVE/AIFF/AU readers in every JDK, and stream parsing needs no
  * audio device — headless-safe): the blob goes through an actual RIFF/
  * WAVE parse, `n_bytes` is the decoded PCM frame count, `byte_sum` the
  * unsigned-sample sum, `feat_dim` the sample rate in kHz off the parsed
  * header. Extends the honest-decode coverage from image (q94b) to the
  * audio modality. One-shot convenience (tests / single blobs / the
  * MediaDecoder SPI seam); the data path is
  * [[Multimodal.extractWavFeatures]], which resolves the reader once per
  * partition via [[WavCodec.open]]. */
object WavDecoder extends MediaDecoder {
  override def decode(b: MediaBlob): MediaFeatures =
    decodeWith(WavCodec.open(), b)

  def decodeWith(reader: javax.sound.sampled.spi.AudioFileReader,
      b: MediaBlob): MediaFeatures = {
    val (pcm, fmt) = WavCodec.pcm(reader, b)
    var sum = 0L
    var i = 0
    while (i < pcm.length) { sum += pcm(i) & 0xff; i += 1 }
    MediaFeatures(b.doc_id, b.modality, pcm.length, sum,
      (fmt.getSampleRate / 1000).toInt)
  }
}

/** Thumbnail operator output: source dims + the statistics of the
  * nearest-neighbour-resampled `side`×`side` preview raster. */
final case class ThumbFeatures(doc_id: Long, w: Int, h: Int,
    thumb_sum: Long, thumb_mean: Double)

/** Average-hash output: one 64-bit perceptual fingerprint per image. */
final case class AHashRow(doc_id: Long, ahash: Long)

/** Frame-sampling output: one row per KEPT frame. */
final case class FrameSample(doc_id: Long, frame_idx: Int,
    frame_mean: Double)

/** Audio decimation output: source length + kept-sample statistics. */
final case class AudioSample(doc_id: Long, n_samples: Int, kept: Int,
    pcm_sum: Long, pcm_mean: Double)

/** A 3-frame clip fingerprint: the frame-mean triple starting at frame
  * `pos` — the content key cross-video clip detection joins on. */
final case class ClipShingle(doc_id: Long, pos: Int, m1: Double,
    m2: Double, m3: Double)

/** Scene-change detection output: per video, the frame count, the number
  * of shot boundaries (consecutive-frame mean jumps above threshold) and
  * the largest jump observed (0.0 for single-frame clips). */
final case class SceneStats(doc_id: Long, n_frames: Int, n_changes: Int,
    max_abs_delta: Double)

/** Activity-detection output: per clip, complete energy windows, windows
  * whose energy clears the threshold, and the loudest window's energy. */
final case class VadStats(doc_id: Long, n_windows: Int, n_active: Int,
    max_energy: Long)

/** Geo-raster decoder output: raster statistics plus the georeferencing
  * carried in the blob's own GeoTIFF tags — the typed-metadata struct for
  * the raster modality (`utils/conversion.py:9-19`'s GeoTIFF write).
  * `lon0`/`lat0` are the model tiepoint of raster (0,0); `scale_deg` the
  * per-pixel degree step (the reference's 0.035° world grid). */
final case class GeoRasterFeatures(doc_id: Long, modality: String,
    n_bytes: Int, byte_sum: Long, feat_dim: Int,
    lon0: Double, lat0: Double, scale_deg: Double)

/** REAL GeoTIFF decode on the pure-JVM codec stack: JDK 9+ ships a TIFF
  * reader AND the public `javax.imageio.plugins.tiff` tag API, including
  * `GeoTIFFTagSet` — so the reference's actual raster format
  * (`utils/conversion.py:9-19` writes GeoTIFF; the rasterio clip at
  * :22-37 reads it back) can be parsed honestly with no third-party
  * codec: the pixel statistics come off a genuine TIFF raster decode and
  * the georeferencing comes off the genuine ModelPixelScale (33550) /
  * ModelTiepoint (33922) directory entries, not a side channel. */
object GeoTiffDecoder extends Serializable {
  import javax.imageio.plugins.tiff.TIFFDirectory

  /** Per-partition codec init: ONE registry lookup + reader allocation,
    * reused for every blob in the partition via `setInput` (the 'no
    * per-row codec setup' contract — a per-blob lookup re-scans the
    * ImageIO service registry per row). Readers are stateful, so this is
    * per-partition, never a shared singleton: concurrent tasks each get
    * their own. Callers dispose at iterator end. */
  def open(): javax.imageio.ImageReader = {
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.getImageReadersByFormatName("tiff").next()
  }

  /** One-shot convenience (tests / single blobs): allocates and disposes
    * its own reader. The partition hot path is the two-arg form. */
  def decode(b: MediaBlob): GeoRasterFeatures = {
    val r = open()
    try decode(r, b) finally r.dispose()
  }

  def decode(reader: javax.imageio.ImageReader,
      b: MediaBlob): GeoRasterFeatures = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b.content))
    try {
      reader.setInput(iis)
      val img = reader.read(0)
      val dir = TIFFDirectory.createFromMetadata(reader.getImageMetadata(0))
      val scale = dir.getTIFFField(
        javax.imageio.plugins.tiff.GeoTIFFTagSet.TAG_MODEL_PIXEL_SCALE)
      val tie = dir.getTIFFField(
        javax.imageio.plugins.tiff.GeoTIFFTagSet.TAG_MODEL_TIE_POINT)
      require(scale != null && tie != null,
        s"blob for doc ${b.doc_id} carries no GeoTIFF georeferencing")
      // Tiepoint layout: (i, j, k, x, y, z) — model coords of raster
      // pixel (i, j); the generator anchors (0, 0).
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      GeoRasterFeatures(b.doc_id, b.modality, w * h, sum, w,
        tie.getAsDouble(3), tie.getAsDouble(4), scale.getAsDouble(0))
    } finally iis.close() // reader is partition-scoped; caller disposes
  }
}

/** A decoded multiband geo-raster TILE: georeferencing off the GeoTIFF
  * tags plus every band's pixels (row-major, one array per band) — the
  * decode → geo-clip → re-grid → band-select capstone's input shape
  * (the reference loads exactly this from its clipped per-layer GeoTIFFs,
  * `utils/conversion.py:22-37`). */
final case class GeoRasterTile(doc_id: Long, w: Int, h: Int,
    lon0: Double, lat0: Double, scale_deg: Double,
    bands: Array[Array[Int]])

/** Multiband extension of [[GeoTiffDecoder]]: same real TIFF parse + tag
  * read, but emitting the full per-band pixel payload instead of summary
  * statistics, for pipelines that keep computing on the raster. */
object GeoTiffTileDecoder extends Serializable {
  import javax.imageio.plugins.tiff.TIFFDirectory

  def decodeTile(reader: javax.imageio.ImageReader,
      b: MediaBlob): GeoRasterTile = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b.content))
    try {
      reader.setInput(iis)
      val img = reader.read(0)
      val dir = TIFFDirectory.createFromMetadata(reader.getImageMetadata(0))
      val scale = dir.getTIFFField(
        javax.imageio.plugins.tiff.GeoTIFFTagSet.TAG_MODEL_PIXEL_SCALE)
      val tie = dir.getTIFFField(
        javax.imageio.plugins.tiff.GeoTIFFTagSet.TAG_MODEL_TIE_POINT)
      require(scale != null && tie != null,
        s"blob for doc ${b.doc_id} carries no GeoTIFF georeferencing")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val bands = Array.tabulate(raster.getNumBands) { bi =>
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { px(y * w + x) = raster.getSample(x, y, bi); x += 1 }
          y += 1
        }
        px
      }
      GeoRasterTile(b.doc_id, w, h,
        tie.getAsDouble(3), tie.getAsDouble(4), scale.getAsDouble(0), bands)
    } finally iis.close() // reader is partition-scoped; caller disposes
  }

  /** One-shot convenience (tests): own reader, disposed after. */
  def decodeTile(b: MediaBlob): GeoRasterTile = {
    val r = GeoTiffDecoder.open()
    try decodeTile(r, b) finally r.dispose()
  }
}

/** REAL video-container decode, pure JVM: no video codec ships in any
  * JDK, but an UNCOMPRESSED RIFF/AVI (8-bit DIB frames, BI_RGB) needs no
  * codec — only a container parse — so the video modality can follow the
  * q94d WAVE pattern honestly: walk the RIFF chunk tree, read the `avih`
  * main header (frame count, dimensions), iterate the `movi` list's
  * `00db` frame chunks, and fold pixel statistics off the raw DIB rows
  * (bottom-up, 4-byte-aligned stride — the padding is parsed, not
  * assumed away). `feat_dim` is dwTotalFrames off the parsed header,
  * cross-checked against the frames actually walked. */
object AviDecoder extends MediaDecoder {
  /** The shared RIFF walk behind [[decode]] (whole-clip statistics) and
    * [[frameMeans]] (per-frame emission): parses the chunk tree with the
    * full malformed-input guard set and invokes `onFrame(frameIdx,
    * width, height, pixelSum)` for every decoded `00db` frame. Returns
    * (frames, width, height) after the header/movi cross-check. */
  private def walkFrames(b: MediaBlob)(
      onFrame: (Int, Int, Int, Long) => Unit): (Int, Int, Int) = {
    val buf = java.nio.ByteBuffer.wrap(b.content)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val a = new Array[Byte](4); buf.get(a); new String(a, "US-ASCII")
    }
    require(fourcc() == "RIFF", s"not a RIFF file for doc ${b.doc_id}")
    buf.getInt // riff size
    require(fourcc() == "AVI ", s"not an AVI container for doc ${b.doc_id}")
    var frames = 0; var width = 0; var height = 0; var declared = -1
    def walk(end: Int): Unit = while (buf.position() < end) {
      // a truncated chunk header (< 8 bytes to the list end) must raise
      // the same loud per-doc error as every other malformed path, not a
      // raw BufferUnderflowException off the fourcc/size reads
      require(end - buf.position() >= 8,
        s"truncated chunk header at ${buf.position()} in doc ${b.doc_id}")
      val id = fourcc()
      val sz = buf.getInt
      // sz >= 0 first: a corrupt negative size would pass the truncation
      // check, move the cursor BACKWARDS, and loop forever instead of
      // raising the loud per-doc error every other malformed path gets.
      require(sz >= 0 && buf.position() + sz <= b.content.length,
        s"corrupt $id chunk (size $sz) in doc ${b.doc_id}")
      val next = buf.position() + sz + (sz & 1) // chunks are word-aligned
      id match {
        case "LIST" =>
          fourcc() // list type (hdrl/strl/movi) — children carry the data
          walk(next)
        case "avih" =>
          // the absolute reads below reach base+36..39; a short avih
          // would otherwise throw a raw IndexOutOfBounds instead of the
          // loud per-doc error
          require(sz >= 40, s"short avih chunk (size $sz) in doc ${b.doc_id}")
          val base = buf.position()
          declared = buf.getInt(base + 16) // dwTotalFrames
          width = buf.getInt(base + 32)
          height = buf.getInt(base + 36)
        case "00db" => // one uncompressed DIB frame, bottom-up, padded
          require(width > 0 && height > 0,
            s"frame before avih header in doc ${b.doc_id}")
          val stride = (width + 3) & ~3
          require(sz == stride * height,
            s"frame size $sz != $stride*$height in doc ${b.doc_id}")
          val base = buf.position()
          var fsum = 0L
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) {
              fsum += buf.get(base + y * stride + x) & 0xff; x += 1
            }
            y += 1
          }
          onFrame(frames, width, height, fsum)
          frames += 1
        case _ => // strh/strf/JUNK/idx1: skipped, not needed for stats
      }
      buf.position(next)
    }
    walk(b.content.length)
    require(declared == frames,
      s"header declares $declared frames, movi carries $frames " +
        s"(doc ${b.doc_id})")
    (frames, width, height)
  }

  override def decode(b: MediaBlob): MediaFeatures = {
    var pixels = 0L
    var sum = 0L
    val (frames, _, _) = walkFrames(b) { (_, fw, fh, fsum) =>
      sum += fsum
      pixels += fw.toLong * fh
    }
    MediaFeatures(b.doc_id, b.modality, pixels.toInt, sum, frames)
  }

  /** Every `stride`-th frame's mean pixel value — the frame-SAMPLING
    * primitive (training pipelines keyframe videos, they don't ingest
    * every frame). The mean of an exact integer sum over w·h pixels:
    * exact in IEEE whenever the quotient is (the fixture's constant
    * frames), deterministic division everywhere else. */
  def frameMeans(b: MediaBlob, stride: Int): Seq[(Int, Double)] = {
    require(stride >= 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    walkFrames(b) { (idx, fw, fh, fsum) =>
      if (idx % stride == 0)
        out += ((idx, fsum.toDouble / (fw.toLong * fh)))
    }
    out.toSeq
  }
}

/** Multimodal feature extraction (north-star mandate: decode /
  * feature-extract over opaque binary columns). */
object Multimodal {

  /** The reference's Africa clip extent — (lonmin, latmin, lonmax,
    * latmax), `sources/meteosat.py:36` verbatim. */
  val AfricaExtent: Seq[Double] = Seq(
    -25.3605509351584004, -34.8219979618462006,
    63.4957562687202994, 37.3404070787983002)

  /** Per-layer export-band config — the reference's composites table
    * (`sources/meteosat.py:18-24`: natural_color exports bands 1–3, the
    * IR composite band 1 only). Band selection in q94h/q94i is DRIVEN by
    * this map, not hard-coded per query. */
  val ExportBands: Map[String, Seq[Int]] = Map(
    "natural_color" -> Seq(1, 2, 3),
    "ir108" -> Seq(1))

  /** The mapPartitions feature-extract operator: one decoder per
    * partition, streamed iteration (no per-row codec setup, no
    * collect). */
  def extractFeatures(blobs: Dataset[MediaBlob], decoder: MediaDecoder)(
      implicit s: SparkSession): Dataset[MediaFeatures] = {
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      decoder.open()
      it.map(decoder.decode)
    }
  }

  /** Deterministic grayscale PNG for one document: width doc_id%13+1,
    * height doc_id%7+1, every pixel doc_id%251 — a REAL PNG encode
    * (`ImageIO.write`, run on the executors), whose decoded statistics an
    * engine with no codec can still predict from the id arithmetic. PNG
    * is lossless, so the decoded raster returns exactly these values. */
  /** A GRADIENT grayscale PNG (pixel(x,y) = (docId + 3x + 5y) mod 251,
    * w = docId%13+4, h = docId%7+4) — position-sensitive content, so a
    * resize that samples the wrong source pixel produces the wrong
    * statistic (the flat [[pngFor]] fixture cannot catch a resampling
    * bug: every pixel is equal). Distinct x/y coefficients keep the two
    * axes distinguishable — a transposed lookup also fails loudly. */
  def gradPngFor(docId: Long): Array[Byte] = {
    val w = (docId % 13 + 4).toInt
    val h = (docId % 7 + 4).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((docId + 3 * x + 5 * y) % 251).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Nearest-neighbour THUMBNAIL extraction: decode each image blob
    * through the real codec and resample it to a `side`×`side` preview
    * (source pixel (x·w/side, y·h/side) — the index-mapped NN kernel
    * every thumbnail pipeline starts from), reporting the preview's sum
    * and mean. Same mapPartitions shape as [[extractFeatures]]: codec
    * init once per partition, streamed decode, no collect; at 100 TB
    * the thumbnail pass pipelines inside the blob scan exactly like the
    * feature pass. */
  def thumbnails(blobs: Dataset[MediaBlob], side: Int)(
      implicit s: SparkSession): Dataset[ThumbFeatures] = {
    require(side >= 1)
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { b =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(b.content))
        require(img != null,
          s"undecodable image blob for doc ${b.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side) {
            sum += raster.getSample(x * w / side, y * h / side, 0)
            x += 1
          }
          y += 1
        }
        ThumbFeatures(b.doc_id, w, h, sum,
          sum.toDouble / (side.toLong * side))
      }
    }
  }

  /** AVERAGE-HASH perceptual fingerprints: decode each image through the
    * real codec, resample to `side`×`side` with the same index-mapped NN
    * kernel as [[thumbnails]], and set bit i = (sample_i above the
    * preview mean) — the classic aHash, the cheapest member of the
    * perceptual-hash family and the standard first pass of image dedup
    * (brightness shifts cancel: the bit rule compares each sample to the
    * preview's OWN mean, so two images differing only by a constant
    * offset collide — which is the point). The bit rule is INTEGER
    * (v·side² > Σv, strict) — no floating point anywhere in the
    * fingerprint, so the hash is bit-deterministic on any JVM. Same
    * mapPartitions shape as [[extractFeatures]]: codec init once per
    * partition, streamed decode, no shuffle — the grouping that turns
    * fingerprints into duplicate clusters is the caller's one
    * hash-exchange (q94o), exactly the q90 exact-dedup shape applied to
    * pixels instead of text. */
  def averageHashes(blobs: Dataset[MediaBlob], side: Int)(
      implicit s: SparkSession): Dataset[AHashRow] = {
    require(side >= 1 && side <= 8, "aHash packs side*side bits into i64")
    import s.implicits._
    val n = side * side
    Spread(blobs).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { b =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(b.content))
        require(img != null,
          s"undecodable image blob for doc ${b.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val v = new Array[Long](n)
        var sum = 0L
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side) {
            val px = raster.getSample(x * w / side, y * h / side, 0).toLong
            v(y * side + x) = px
            sum += px
            x += 1
          }
          y += 1
        }
        var hash = 0L
        var i = 0
        while (i < n) {
          if (v(i) * n > sum) hash |= 1L << i
          i += 1
        }
        AHashRow(b.doc_id, hash)
      }
    }
  }

  /** Frame SAMPLING over the video modality: every `stride`-th frame's
    * index and mean pixel value, one row per kept frame — the keyframe
    * pass of a video ingestion pipeline ([[AviDecoder.frameMeans]] per
    * blob, flatMapped on the same per-partition stream as every other
    * decode operator). */
  def sampleFrames(blobs: Dataset[MediaBlob], stride: Int)(
      implicit s: SparkSession): Dataset[FrameSample] = {
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      it.flatMap { b =>
        AviDecoder.frameMeans(b, stride).map { case (idx, mean) =>
          FrameSample(b.doc_id, idx, mean)
        }
      }
    }
  }

  /** CLIP SHINGLES over the video modality: every 3-consecutive-frame
    * mean triple, one row per start position — the shingled fingerprint
    * cross-video clip detection joins on ([[ClipShingle]]). Frame
    * ADJACENCY lives inside the container (the q94m argument), so the
    * shingling is a per-blob flatMap on the same per-partition decode
    * stream as every other modality operator — ZERO shuffle until the
    * cross-video join, which is then a plain equi-join on content.
    * At 100 TB digest the triple to an 8-byte key before the exchange
    * (the (m1,m2,m3) key here keeps the oracle exact). */
  def clipShingles(blobs: Dataset[MediaBlob])(
      implicit s: SparkSession): Dataset[ClipShingle] = {
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      it.flatMap { b =>
        AviDecoder.frameMeans(b, stride = 1).map(_._2)
          .sliding(3).filter(_.size == 3).zipWithIndex.map {
            case (w, i) => ClipShingle(b.doc_id, i, w(0), w(1), w(2))
          }
      }
    }
  }

  /** A GRADIENT WAVE fixture (sample k = (docId + 7k) mod 251,
    * n = docId%29+4 samples at 8 kHz unsigned 8-bit mono) —
    * position-sensitive content, so a decimation that keeps the wrong
    * sample indices produces the wrong statistics (the [[gradPngFor]]
    * argument applied to audio: [[wavFor]]'s constant signal cannot
    * catch a stride bug). */
  def gradWavFor(docId: Long): Array[Byte] = {
    val n = (docId % 29 + 4).toInt
    val data = Array.tabulate(n)(k => ((docId + 7 * k) % 251).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(
      8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio DECIMATION through the real codec: decode each WAVE blob via
    * an actual javax.sound parse, keep every `factor`-th PCM sample
    * (the naive-but-honest downsample every audio ingestion pipeline
    * starts from — production swaps in a windowed-sinc kernel at the
    * same seam), and report source length + kept-sample statistics.
    * Completes the per-modality sampling trio: image [[thumbnails]],
    * video [[sampleFrames]], audio here — same mapPartitions decode
    * stream, no collect, pipelines inside the blob scan at any scale. */
  def decimateAudio(blobs: Dataset[MediaBlob], factor: Int)(
      implicit s: SparkSession): Dataset[AudioSample] = {
    require(factor >= 1)
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      val reader = WavCodec.open() // one provider walk per partition
      it.map { b =>
        val (pcm, _) = WavCodec.pcm(reader, b)
        require(pcm.length > 0, s"empty PCM for doc ${b.doc_id}")
        var sum = 0L
        var kept = 0
        var i = 0
        while (i < pcm.length) {
          sum += pcm(i) & 0xff
          kept += 1
          i += factor
        }
        AudioSample(b.doc_id, pcm.length, kept, sum,
          sum.toDouble / kept)
      }
    }
  }

  /** Energy-window ACTIVITY detection over the audio modality (the VAD
    * pass an audio curation pipeline runs to drop silence and keep
    * speech-bearing segments): decode the PCM, cut it into
    * non-overlapping `window`-sample windows (short tail discarded —
    * an incomplete window has no comparable energy), compute each
    * window's energy Σ s² over the unsigned samples as EXACT 64-bit
    * integers (max 255²·window per window — no overflow until window
    * ≈ 1.4e14), and report windows cleared vs total plus the loudest
    * window. Same per-blob-local zero-shuffle shape as
    * [[sceneChanges]]: sample adjacency lives inside the blob, and the
    * per-partition [[WavCodec.open]] reader kills the provider-scan
    * tax. */
  def detectActivity(blobs: Dataset[MediaBlob], window: Int,
      threshold: Long)(implicit s: SparkSession): Dataset[VadStats] = {
    require(window >= 1 && threshold >= 0)
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      val reader = WavCodec.open() // one provider walk per partition
      it.map { b =>
        val (pcm, _) = WavCodec.pcm(reader, b)
        val nw = pcm.length / window
        var active = 0
        var maxE = 0L
        var w = 0
        while (w < nw) {
          var e = 0L
          var i = w * window
          val end = i + window
          while (i < end) {
            val v = (pcm(i) & 0xff).toLong
            e += v * v
            i += 1
          }
          if (e > threshold) active += 1
          if (e > maxE) maxE = e
          w += 1
        }
        VadStats(b.doc_id, nw, active, maxE)
      }
    }
  }

  /** SCENE-CHANGE (shot boundary) detection over the video modality:
    * decode every frame's mean, flag consecutive-frame jumps with
    * |Δmean| > `threshold`, report per-clip boundary count and the
    * largest jump — the keyframe-segmentation pass a video curation
    * pipeline runs before sampling ([[sampleFrames]]) so cuts land on
    * shot boundaries, not mid-shot.
    *
    * Scale shape: a video's frames live INSIDE its blob, so the
    * consecutive-frame comparison is per-blob local — the whole
    * operator is one `mapPartitions` decode pass with ZERO shuffle
    * (a lag-window over an exploded frame table would shuffle every
    * frame of every video to re-create adjacency the container already
    * has). Same per-partition decode stream as every other codec
    * operator. */
  def sceneChanges(blobs: Dataset[MediaBlob], threshold: Double)(
      implicit s: SparkSession): Dataset[SceneStats] = {
    require(threshold > 0)
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      it.map { b =>
        val means = AviDecoder.frameMeans(b, stride = 1).toArray
        var changes = 0
        var maxD = 0.0
        var i = 1
        while (i < means.length) {
          val d = math.abs(means(i)._2 - means(i - 1)._2)
          if (d > threshold) changes += 1
          if (d > maxD) maxD = d
          i += 1
        }
        SceneStats(b.doc_id, means.length, changes, maxD)
      }
    }
  }

  def pngFor(docId: Long): Array[Byte] = {
    val w = (docId % 13 + 1).toInt
    val h = (docId % 7 + 1).toInt
    val v = (docId % 251).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, v); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 8 kHz unsigned-8-bit mono WAVE for one document:
    * doc_id%29+1 PCM frames, every sample doc_id%251 — a REAL RIFF
    * encode (`AudioSystem.write`, run on the executors) whose decoded
    * statistics a codec-less engine predicts from the id arithmetic.
    * PCM is lossless, so the parse returns exactly these values. */
  def wavFor(docId: Long): Array[Byte] = {
    val n = (docId % 29 + 1).toInt
    val v = (docId % 251).toInt
    val fmt = new javax.sound.sampled.AudioFormat(
      8000f, 8, 1, false, false) // 8 kHz, unsigned 8-bit, mono, LE
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(Array.fill(n)(v.toByte)), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The audio sibling of [[extractGeoFeatures]]: the WAVE
    * `AudioFileReader` is resolved ONCE per partition ([[WavCodec.open]])
    * and reused for every blob — the per-blob `AudioSystem` provider
    * scan was a ~10× constant-factor decode tax at sf1. Output-identical
    * to `extractFeatures(blobs, WavDecoder)` (same resolved reader, same
    * parse); only the registry-walk count changes. */
  def extractWavFeatures(blobs: Dataset[MediaBlob])(
      implicit s: SparkSession): Dataset[MediaFeatures] = {
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      val reader = WavCodec.open()
      it.map(b => WavDecoder.decodeWith(reader, b))
    }
  }

  /** The geo-raster sibling of [[extractFeatures]]: same one-decoder-per-
    * partition streamed shape, typed [[GeoRasterFeatures]] out. */
  def extractGeoFeatures(blobs: Dataset[MediaBlob])(
      implicit s: SparkSession): Dataset[GeoRasterFeatures] = {
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      val reader = GeoTiffDecoder.open()
      withDispose(it.map(b => GeoTiffDecoder.decode(reader, b)), reader)
    }
  }

  /** Wrap a partition iterator so the partition-scoped ImageIO reader is
    * disposed exactly once when the iterator drains. */
  private def withDispose[T](it: Iterator[T],
      reader: javax.imageio.ImageReader): Iterator[T] = new Iterator[T] {
    private var disposed = false
    def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !disposed) { disposed = true; reader.dispose() }
      h
    }
    def next(): T = it.next()
  }

  /** Deterministic grayscale GeoTIFF for one document: the q94b raster
    * (width doc_id%13+1, height doc_id%7+1, every pixel doc_id%251) run
    * through a REAL TIFF encode, with REAL GeoTIFF directory entries —
    * ModelPixelScale = the reference's 0.035° world grid step
    * (`utils/conversion.py:15-17`) and a ModelTiepoint anchoring pixel
    * (0,0) at (doc_id%360−180, 90−doc_id%180) — so a codec-less engine
    * still predicts every decoded statistic and geo-tag from the id
    * arithmetic, while the decode exercises an actual TIFF parse and an
    * actual tag-directory read. */
  def geoTiffFor(docId: Long): Array[Byte] = {
    import javax.imageio.plugins.tiff.{GeoTIFFTagSet, TIFFDirectory,
      TIFFField, TIFFTag}
    val w = (docId % 13 + 1).toInt
    val h = (docId % 7 + 1).toInt
    val v = (docId % 251).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, v); x += 1 }
      y += 1
    }
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      val itype =
        javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
      val dir = TIFFDirectory.createFromMetadata(
        writer.getDefaultImageMetadata(itype, param))
      val geo = GeoTIFFTagSet.getInstance()
      dir.addTIFFField(new TIFFField(
        geo.getTag(GeoTIFFTagSet.TAG_MODEL_PIXEL_SCALE),
        TIFFTag.TIFF_DOUBLE, 3, Array(0.035d, 0.035d, 0.0d)))
      dir.addTIFFField(new TIFFField(
        geo.getTag(GeoTIFFTagSet.TAG_MODEL_TIE_POINT),
        TIFFTag.TIFF_DOUBLE, 6,
        Array(0.0d, 0.0d, 0.0d,
          (docId % 360 - 180).toDouble, (90 - docId % 180).toDouble, 0.0d)))
      writer.write(null,
        new javax.imageio.IIOImage(img, null, dir.getAsMetadata), param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Deterministic 3-band (RGB) GeoTIFF for one document — the MULTIBAND
    * fixture of the raster capstone (the reference's composites carry
    * 1–3 export bands, `sources/meteosat.py:18-24`). Geometry is the
    * q94b raster (w = doc_id%13+1, h = doc_id%7+1); band b (0-based)
    * pixel (x, y) = (doc_id + 97·b + 5·y + 3·x) % 251, so every decoded
    * pixel is id-arithmetic-predictable per band while the encode/decode
    * is a real 3-band TIFF round-trip. Geo-tags: the 0.035° world-grid
    * scale and a tiepoint anchored at (doc_id·7 % 360 − 180,
    * 90 − doc_id·11 % 180) — the ×7/×11 spread puts ~10% of any id range
    * inside the reference's Africa extent so the capstone's geo-clip is
    * non-degenerate at every scale factor. */
  def geoTiffMultibandFor(docId: Long): Array[Byte] = {
    import javax.imageio.plugins.tiff.{GeoTIFFTagSet, TIFFDirectory,
      TIFFField, TIFFTag}
    val w = (docId % 13 + 1).toInt
    val h = (docId % 7 + 1).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < 3) {
          raster.setSample(x, y, b,
            ((docId + 97 * b + 5 * y + 3 * x) % 251).toInt)
          b += 1
        }
        x += 1
      }
      y += 1
    }
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      val itype =
        javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
      val dir = TIFFDirectory.createFromMetadata(
        writer.getDefaultImageMetadata(itype, param))
      val geo = GeoTIFFTagSet.getInstance()
      dir.addTIFFField(new TIFFField(
        geo.getTag(GeoTIFFTagSet.TAG_MODEL_PIXEL_SCALE),
        TIFFTag.TIFF_DOUBLE, 3, Array(0.035d, 0.035d, 0.0d)))
      dir.addTIFFField(new TIFFField(
        geo.getTag(GeoTIFFTagSet.TAG_MODEL_TIE_POINT),
        TIFFTag.TIFF_DOUBLE, 6,
        Array(0.0d, 0.0d, 0.0d,
          (docId * 7 % 360 - 180).toDouble,
          (90 - docId * 11 % 180).toDouble, 0.0d)))
      writer.write(null,
        new javax.imageio.IIOImage(img, null, dir.getAsMetadata), param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** The multiband sibling of [[extractGeoFeatures]]: one reader per
    * partition, typed [[GeoRasterTile]] out with the full pixel payload. */
  def extractGeoTiles(blobs: Dataset[MediaBlob])(
      implicit s: SparkSession): Dataset[GeoRasterTile] = {
    import s.implicits._
    Spread(blobs).mapPartitions { it =>
      val reader = GeoTiffDecoder.open()
      withDispose(it.map(b => GeoTiffTileDecoder.decodeTile(reader, b)),
        reader)
    }
  }

  /** Deterministic uncompressed AVI for one document: doc_id%5+1 frames
    * of the q94b raster geometry (width doc_id%13+1, height doc_id%7+1),
    * frame f's every pixel (doc_id+f)%251 — a REAL RIFF/AVI container
    * write (hdrl with avih + strl, movi with 8-bit BI_RGB `00db` DIB
    * frames, bottom-up rows padded to 4-byte stride) whose decoded
    * statistics a codec-less engine predicts from the id arithmetic. */
  def aviFor(docId: Long): Array[Byte] = {
    val n = (docId % 5 + 1).toInt
    val w = (docId % 13 + 1).toInt
    val h = (docId % 7 + 1).toInt
    val stride = (w + 3) & ~3
    val frameBytes = stride * h
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    // sizes, innermost out: strf = 40-byte BITMAPINFOHEADER + 256×4 palette
    val strfSz = 40 + 256 * 4
    val strlSz = 4 + (8 + 56) + (8 + strfSz)
    val hdrlSz = 4 + (8 + 56) + (8 + strlSz)
    val moviSz = 4 + n * (8 + frameBytes)
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    cc("RIFF"); le32(riffSz); cc("AVI ")
    cc("LIST"); le32(hdrlSz); cc("hdrl")
    cc("avih"); le32(56)
    le32(40000); le32(0); le32(0); le32(0) // usec/frame, maxBps, pad, flags
    le32(n); le32(0); le32(1); le32(frameBytes) // totalFrames, init, streams, bufSz
    le32(w); le32(h); le32(0); le32(0); le32(0); le32(0) // dims + reserved
    cc("LIST"); le32(strlSz); cc("strl")
    cc("strh"); le32(56)
    cc("vids"); cc("DIB "); le32(0); le16(0); le16(0) // type, handler, flags, prio, lang
    le32(0); le32(1); le32(25); le32(0); le32(n) // init, scale, rate, start, length
    le32(frameBytes); le32(-1); le32(0) // bufSz, quality, sampleSize
    le16(0); le16(0); le16(w); le16(h) // rcFrame
    cc("strf"); le32(strfSz)
    le32(40); le32(w); le32(h); le16(1); le16(8) // biSize..biBitCount
    le32(0); le32(frameBytes); le32(0); le32(0); le32(256); le32(0)
    for (i <- 0 until 256) { out.write(i); out.write(i); out.write(i); out.write(0) }
    cc("LIST"); le32(moviSz); cc("movi")
    for (f <- 0 until n) {
      cc("00db"); le32(frameBytes)
      val v = ((docId + f) % 251).toInt
      val row = Array.tabulate(stride)(x => if (x < w) v.toByte else 0.toByte)
      var y = 0
      while (y < h) { out.write(row); y += 1 }
    }
    out.flush()
    bos.toByteArray
  }

  val all: Seq[Q] = Seq(
    // Q94b (beyond-survey) — the decode/feature-extract path over the
    // multimodal blob column, now through a REAL codec: each document's
    // blob is a genuine PNG (encoded executor-side by pngFor), and
    // ImageIoDecoder runs an actual javax.imageio parse per blob with
    // per-partition codec init. The image CONTENT is derived from doc_id
    // so the DuckDB oracle — which has no image codec — predicts the
    // decoded statistics arithmetically; the decode itself is real bytes
    // through a real parser (the A9/A13 analog of conversion.py:9-19).
    // byte_sum is CAST to BIGINT (DuckDB products type as HUGEINT, which
    // pandas degrades to float64 — round-2 red row class).
    Q("q94b_media_features",
      """SELECT doc_id, 'image' AS modality,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) AS INT) AS n_bytes,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) * (doc_id % 251)
        |    AS BIGINT) AS byte_sum,
        |  CAST(doc_id % 13 + 1 AS INT) AS feat_dim
        |FROM documents
        |ORDER BY doc_id NULLS FIRST, modality NULLS FIRST,
        |  n_bytes NULLS FIRST, byte_sum NULLS FIRST, feat_dim NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) => MediaBlob(id, "image", lang, pngFor(id)) }
        orderAll(extractFeatures(blobs, ImageIoDecoder).toDF())
    },

    // Q94d (beyond-survey) — the same decode path over the AUDIO
    // modality: each blob is a genuine RIFF/WAVE file (encoded
    // executor-side by wavFor), parsed by an actual javax.sound
    // AudioSystem stream read. Audio content derives from doc_id so the
    // codec-less oracle predicts the decoded PCM statistics
    // arithmetically; feat_dim (sample rate in kHz) comes off the
    // parsed header, proving the header path too. Same mapPartitions
    // shape as q94b — modality is a per-row dispatch, not a new
    // operator.
    Q("q94d_audio_features",
      """SELECT doc_id, 'audio' AS modality,
        |  CAST(doc_id % 29 + 1 AS INT) AS n_bytes,
        |  CAST((doc_id % 29 + 1) * (doc_id % 251) AS BIGINT) AS byte_sum,
        |  CAST(8 AS INT) AS feat_dim
        |FROM documents
        |ORDER BY doc_id NULLS FIRST, modality NULLS FIRST,
        |  n_bytes NULLS FIRST, byte_sum NULLS FIRST, feat_dim NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) => MediaBlob(id, "audio", lang, wavFor(id)) }
        orderAll(extractWavFeatures(blobs).toDF())
    },

    // Q94e (beyond-survey) — the RASTER modality through its actual
    // format: a genuine GeoTIFF encode (geoTiffFor) and a genuine TIFF
    // parse + tag-directory read (GeoTiffDecoder) per blob, carrying the
    // georeferencing (0.035° pixel scale, tiepoint lon/lat) out as the
    // typed metadata struct — the honest close of the reference's
    // raster leg (conversion.py:9-19 writes exactly these tags). The
    // raster content and geo-tags derive from doc_id, so the codec-less
    // oracle predicts them arithmetically; scale_deg round-trips
    // through the same decimal→binary conversion in both engines.
    Q("q94e_geotiff_features",
      """SELECT doc_id, 'raster' AS modality,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) AS INT) AS n_bytes,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) * (doc_id % 251)
        |    AS BIGINT) AS byte_sum,
        |  CAST(doc_id % 13 + 1 AS INT) AS feat_dim,
        |  CAST(doc_id % 360 - 180 AS DOUBLE) AS lon0,
        |  CAST(90 - doc_id % 180 AS DOUBLE) AS lat0,
        |  CAST(0.035 AS DOUBLE) AS scale_deg
        |FROM documents
        |ORDER BY doc_id NULLS FIRST, modality NULLS FIRST,
        |  n_bytes NULLS FIRST, byte_sum NULLS FIRST, feat_dim NULLS FIRST,
        |  lon0 NULLS FIRST, lat0 NULLS FIRST, scale_deg NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) =>
            MediaBlob(id, "raster", lang, geoTiffFor(id)) }
        orderAll(extractGeoFeatures(blobs).toDF())
    },

    // Q94f (beyond-survey) — the VIDEO modality through a real container
    // parse: each blob is a genuine uncompressed RIFF/AVI (aviFor), and
    // AviDecoder walks the actual chunk tree — avih header, movi list,
    // per-frame bottom-up padded DIB rows — closing the third modality
    // with the only codec-free video format a bare JVM can decode
    // honestly (same rationale as q94d's WAVE). Frame pixels derive
    // from (doc_id + frame)%251 so the oracle predicts the per-frame
    // sum arithmetically; feat_dim is dwTotalFrames off the parsed
    // header, cross-checked against the frames actually walked.
    Q("q94f_video_features",
      """SELECT doc_id, 'video' AS modality,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) * (doc_id % 5 + 1)
        |    AS INT) AS n_bytes,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) * list_sum(
        |    list_transform(generate_series(0, CAST(doc_id % 5 AS INT)),
        |      f -> (doc_id + f) % 251)) AS BIGINT) AS byte_sum,
        |  CAST(doc_id % 5 + 1 AS INT) AS feat_dim
        |FROM documents
        |ORDER BY doc_id NULLS FIRST, modality NULLS FIRST,
        |  n_bytes NULLS FIRST, byte_sum NULLS FIRST, feat_dim NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) => MediaBlob(id, "video", lang, aviFor(id)) }
        orderAll(extractFeatures(blobs, AviDecoder).toDF())
    },

    // Q94g (beyond-survey) — RE-GRID: nearest-neighbour resample of a
    // tiled pixel raster onto a 4× coarser target grid, via the library
    // operator [[graft.Engine.regridNearest]] (the conversion.py:15-17
    // world-grid resample as a tested operator, A11). Each document is
    // a 4×4 tile anchored off-alignment ((doc_id·3)%48, (doc_id·5)%80 —
    // tiles straddle target cells and overlap each other), pixels
    // derive from doc_id, and the oracle replays the same integer
    // argmin as a brute-force window — so the operator's single
    // hash-exchange groupBy plan is hash-gated against the naive form.
    Q("q94g_regrid",
      """WITH t AS (SELECT doc_id, (doc_id*3) % 48 AS r0,
        |    (doc_id*5) % 80 AS c0 FROM documents),
        |p AS (SELECT doc_id, r0 + (i // 4) AS r, c0 + (i % 4) AS c,
        |    (doc_id*31 + i) % 256 AS v
        |  FROM t CROSS JOIN unnest(generate_series(0, 15)) AS g(i)),
        |k AS (SELECT r // 4 AS cell_row, c // 4 AS cell_col, r, c,
        |    doc_id, v, (2*r - (8*(r // 4) + 3)) AS dr,
        |    (2*c - (8*(c // 4) + 3)) AS dc
        |  FROM p),
        |rn AS (SELECT cell_row, cell_col, v,
        |    row_number() OVER (PARTITION BY cell_row, cell_col
        |      ORDER BY dr*dr + dc*dc, r, c, doc_id) AS rn
        |  FROM k)
        |SELECT cell_row, cell_col, v AS value FROM rn WHERE rn = 1
        |ORDER BY cell_row NULLS FIRST, cell_col NULLS FIRST,
        |  value NULLS FIRST""".stripMargin) { (s, dir) =>
      val tiles = Tables.t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") * 3 % 48).as("r0"),
        (col("doc_id") * 5 % 80).as("c0"),
        transform(sequence(lit(0), lit(15)),
          i => (col("doc_id") * 31 + i) % 256).as("px"))
      orderAll(graft.Engine.regridNearest(tiles, col("doc_id"),
        col("r0"), col("c0"), col("px"), 4, 4, 4))
    },

    // Q94i (beyond-survey) — GEO-REFERENCED BAND EXTRACTION (A14 as a
    // real raster op, not the q63 element_at analogy): decode the
    // 3-band GeoTIFF, keep each layer's CONFIGURED bands (ExportBands —
    // meteosat.py:18-24's composites table, the band list as config),
    // and reduce every kept band to per-band statistics with in-row
    // HOFs (aggregate/array_min/array_max) — zero shuffles beyond the
    // canonical ORDER BY: band extraction is a projection at any scale.
    Q("q94i_band_stats", bandStatsOracleSql) { (s, dir) =>
      orderAll(selectedBands(s, dir)
        .select(col("doc_id"), col("layer"), col("band"),
          size(col("px")).as("n_px"),
          aggregate(col("px"), lit(0L), (acc, x) => acc + x).as("px_sum"),
          array_min(col("px")).as("px_min"),
          array_max(col("px")).as("px_max")))
    },

    // Q94h (beyond-survey) — THE RASTER CAPSTONE: the reference's whole
    // per-slot raster job (meteosat.py:152-185 + conversion.py:9-37) as
    // ONE registered plan over real decoded bytes — what q100 is to the
    // text-curation operators. decode (real 3-band GeoTIFF parse, tags
    // included) → GEO-CLIP to the Africa extent via the DECODED
    // ModelPixelScale/ModelTiepoint (pixel lon/lat = tiepoint +
    // index·scale — the rasterio.mask step, conversion.py:22-37) →
    // nearest-neighbour RE-GRID onto the 4×-coarser world grid keyed in
    // integer world-pixel units (conversion.py:15-17's resample;
    // Engine.regridNearestPixels, the q94g operator generalized to
    // variable-geometry multiband input) → config-driven BAND SELECT
    // (meteosat.py:177-185's export_bands loop) → PARTITIONED SINK
    // (layer=/band= directories — meteosat.py's per-layer dirs and
    // per-band files) and read-back. Plan shape: decode is one
    // mapPartitions pass, band/pixel explosion stays in-row, clip is a
    // pushable filter, and the ONLY data shuffle is the re-grid's
    // single hash exchange on (layer, band, cell) with map-side
    // partial argmin — at 100 TB the exchange carries candidate
    // structs per (partition × cell), not pixels. The oracle replays
    // the identical arithmetic (world-pixel indices are exact integers;
    // the double lon/lat clip uses the same expression tree both
    // sides).
    Q("q94h_raster_capstone", rasterCapstoneOracleSql) { (s, dir) =>
      val out = IO.scratch("q94h_raster_capstone", dir)
      rasterCapstone(s, dir).write.mode("overwrite")
        .partitionBy("layer", "band").parquet(out)
      orderAll(s.read.parquet(out)
        .select(col("layer"), col("band").cast("int").as("band"),
          col("cell_row"), col("cell_col"), col("value")))
    },

    // Q94j (beyond-survey) — nearest-neighbour THUMBNAIL extraction
    // through the real PNG codec: gradient-content fixtures (pixel =
    // (doc_id + 3x + 5y) mod 251 — position-SENSITIVE, so a resample
    // that reads the wrong source pixel, or transposes axes, fails the
    // hash), resized to 4×4 by the index-mapped NN kernel. The oracle
    // predicts the 16 sampled pixels arithmetically; the mean divides
    // an exact integer sum by 16 — exact in IEEE (power of two).
    Q("q94j_thumbnail",
      """WITH t AS (SELECT doc_id, CAST(doc_id % 13 + 4 AS INT) AS w,
        |    CAST(doc_id % 7 + 4 AS INT) AS h FROM documents),
        |s AS (SELECT doc_id, w, h, list_sum(flatten(list_transform(
        |    generate_series(0, 3), y -> list_transform(
        |      generate_series(0, 3),
        |      x -> (doc_id + 3 * ((x * w) // 4) + 5 * ((y * h) // 4))
        |        % 251)))) AS ts
        |  FROM t)
        |SELECT doc_id, w, h, CAST(ts AS BIGINT) AS thumb_sum,
        |  CAST(ts AS DOUBLE) / 16.0 AS thumb_mean
        |FROM s
        |ORDER BY doc_id NULLS FIRST, w NULLS FIRST, h NULLS FIRST,
        |  thumb_sum NULLS FIRST, thumb_mean NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) =>
            MediaBlob(id, "image", lang, gradPngFor(id)) }
        orderAll(thumbnails(blobs, side = 4).toDF())
    },

    // Q94k (beyond-survey) — FRAME SAMPLING over the video modality:
    // every 2nd frame's index and mean pixel value off the real RIFF/
    // AVI walk ([[AviDecoder.frameMeans]]) — the keyframe pass of video
    // ingestion (pipelines keyframe, they don't ingest every frame).
    // Fixture frames are constant (doc_id + f) mod 251, so the oracle
    // predicts each sampled frame's mean exactly.
    // Q94l (beyond-survey) — audio DECIMATION through the real codec:
    // gradient WAVE fixtures (sample k = (doc_id + 7k) mod 251 — a
    // wrong stride index fails the hash), every 2nd PCM sample kept.
    // Completes the per-modality sampling trio (image thumbnail q94j,
    // video frame-sample q94k, audio here); pcm_mean divides the exact
    // integer sum by the kept count — the identical double division in
    // both engines.
    Q("q94l_audio_decimate",
      """WITH t AS (SELECT doc_id, CAST(doc_id % 29 + 4 AS INT) AS n
        |  FROM documents),
        |x AS (SELECT doc_id, n, (doc_id + 7 * k) % 251 AS v
        |  FROM t CROSS JOIN unnest(
        |    generate_series(0, CAST(n - 1 AS BIGINT))) AS u(k)
        |  WHERE k % 2 = 0)
        |SELECT doc_id, n AS n_samples, CAST(count(*) AS INT) AS kept,
        |  CAST(sum(v) AS BIGINT) AS pcm_sum,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS pcm_mean
        |FROM x GROUP BY doc_id, n
        |ORDER BY doc_id NULLS FIRST, n_samples NULLS FIRST,
        |  kept NULLS FIRST, pcm_sum NULLS FIRST,
        |  pcm_mean NULLS FIRST""".stripMargin) { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val blobs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang")).as[(Long, String)]
        .map { case (id, lang) =>
          MediaBlob(id, "audio", lang, gradWavFor(id)) }
      orderAll(decimateAudio(blobs, factor = 2).toDF())
    },

    Q("q94k_frame_sample",
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST((doc_id + f) % 251 AS DOUBLE) AS frame_mean
        |FROM documents CROSS JOIN unnest(
        |  generate_series(0, CAST(doc_id % 5 AS INT))) AS t(f)
        |WHERE f % 2 = 0
        |ORDER BY doc_id NULLS FIRST, frame_idx NULLS FIRST,
        |  frame_mean NULLS FIRST""".stripMargin) { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val blobs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang")).as[(Long, String)]
        .map { case (id, lang) =>
          MediaBlob(id, "video", lang, aviFor(id)) }
      orderAll(sampleFrames(blobs, stride = 2).toDF())
    },

    // Q94m (beyond-survey) — SCENE-CHANGE detection over the video
    // modality ([[sceneChanges]]): per clip, the count of consecutive-
    // frame mean jumps above 100 and the largest jump, through the real
    // RIFF/AVI parse. The fixture's frame means are (doc_id+f) % 251,
    // so jumps are +1 everywhere except the mod wraparound (a 250-point
    // drop) — the oracle predicts the boundaries arithmetically with a
    // lag window while the engine finds them per-blob with ZERO shuffle
    // (frame adjacency lives inside the container; exploding to a
    // lag-window would shuffle every frame to re-create it).
    Q("q94m_scene_change",
      """WITH f AS (SELECT doc_id, CAST(g AS INT) AS fi,
        |    CAST((doc_id + g) % 251 AS DOUBLE) AS m
        |  FROM documents CROSS JOIN unnest(
        |    generate_series(0, CAST(doc_id % 5 AS INT))) AS t(g)),
        |d AS (SELECT doc_id,
        |    abs(m - lag(m) OVER (PARTITION BY doc_id ORDER BY fi)) AS ad
        |  FROM f)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
        |  CAST(count(CASE WHEN ad > 100 THEN 1 END) AS INT) AS n_changes,
        |  CAST(coalesce(max(ad), 0.0) AS DOUBLE) AS max_abs_delta
        |FROM d GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST, n_frames NULLS FIRST,
        |  n_changes NULLS FIRST, max_abs_delta NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) =>
            MediaBlob(id, "video", lang, aviFor(id)) }
        orderAll(sceneChanges(blobs, threshold = 100.0).toDF())
    },

    // Q94n (beyond-survey) — energy-window ACTIVITY detection (VAD)
    // over the audio modality ([[detectActivity]]): non-overlapping
    // 4-sample windows, exact integer energies Σ s², threshold 80000 —
    // the silence-dropping pass audio curation runs before sampling.
    // The gradient fixture's PCM is (doc_id + 7k) % 251, so the oracle
    // predicts every window energy arithmetically while the engine
    // computes them per-blob through the real javax.sound parse with
    // ZERO shuffle and the per-partition reader (no provider-scan
    // tax). Short tails are discarded — an incomplete window has no
    // comparable energy.
    Q("q94n_audio_vad",
      """WITH p AS (SELECT doc_id, CAST(doc_id % 29 + 4 AS INT) AS n
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(k // 4 AS INT) AS w,
        |    (doc_id + 7 * k) % 251 AS v
        |  FROM p CROSS JOIN unnest(generate_series(0, n - 1)) AS t(k)
        |  WHERE k // 4 < n // 4),
        |e AS (SELECT doc_id, w, sum(v * v) AS energy
        |  FROM s GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_windows,
        |  CAST(count(CASE WHEN energy > 80000 THEN 1 END) AS INT)
        |    AS n_active,
        |  CAST(max(energy) AS BIGINT) AS max_energy
        |FROM e GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST, n_windows NULLS FIRST,
        |  n_active NULLS FIRST, max_energy NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) =>
            MediaBlob(id, "audio", lang, gradWavFor(id)) }
        orderAll(detectActivity(blobs, window = 4, threshold = 80000L)
          .toDF())
    },

    // Q94o (beyond-survey) — IMAGE NEAR-DUP via average-hash: the q90
    // exact-dedup shape applied to pixels. Each gradient PNG decodes
    // through the real codec, resamples 4×4 (the q94j NN kernel) and
    // fingerprints with the integer aHash bit rule (v·16 > Σv — zero FP,
    // bit-deterministic); duplicate clusters are then ONE hash-groupBy
    // away (dup_of = min doc_id over the fingerprint — a window on the
    // 8-byte hash, never on pixels). The fixture makes the semantics
    // visible: the gradient's id offset CANCELS in the mean comparison,
    // so every non-wrapping doc in a (w,h) geometry class collides (same
    // pattern, shifted brightness — exactly what aHash must collapse)
    // while mod-251 wraps break out as singletons. At 100 TB: the decode
    // pass pipelines inside the blob scan, the exchange carries (id,
    // hash) pairs only, and the hash column is the bucketing key for an
    // incrementally-maintained fingerprint index.
    Q("q94o_image_ahash",
      """WITH t AS (SELECT doc_id, CAST(doc_id % 13 + 4 AS INT) AS w,
        |    CAST(doc_id % 7 + 4 AS INT) AS h FROM documents),
        |s AS (SELECT doc_id, i,
        |    (doc_id + 3 * (((i % 4) * w) // 4)
        |      + 5 * (((i // 4) * h) // 4)) % 251 AS v
        |  FROM t CROSS JOIN unnest(generate_series(0, 15)) AS u(i)),
        |g AS (SELECT doc_id, sum(v) AS ts FROM s GROUP BY doc_id),
        |hb AS (SELECT s.doc_id,
        |    CAST(sum(CASE WHEN s.v * 16 > g.ts
        |      THEN CAST(1 AS BIGINT) << s.i ELSE 0 END) AS BIGINT) AS ahash
        |  FROM s JOIN g USING (doc_id) GROUP BY s.doc_id)
        |SELECT doc_id, ahash,
        |  min(doc_id) OVER (PARTITION BY ahash) AS dup_of
        |FROM hb
        |ORDER BY doc_id NULLS FIRST, ahash NULLS FIRST,
        |  dup_of NULLS FIRST""".stripMargin) {
      (s, dir) =>
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang")).as[(Long, String)]
          .map { case (id, lang) =>
            MediaBlob(id, "image", lang, gradPngFor(id)) }
        val hashes = averageHashes(blobs, side = 4).toDF()
        orderAll(hashes.withColumn("dup_of",
          min(col("doc_id")).over(Window.partitionBy(col("ahash")))))
    },

    // Q94p (beyond-survey) — cross-video CLIP near-dup via frame-mean
    // SHINGLES ([[clipShingles]]): video pairs sharing any 3-frame
    // clip segment REGARDLESS of alignment — the "same footage embedded
    // in two videos" detection a doc-grain hash (q94o) cannot see and a
    // whole-file digest never will. Shingling is per-blob row-local on
    // the decode stream (zero shuffle, the q94m adjacency argument);
    // the cross-video pass is a plain equi-join on the shingle content
    // key + one pair-count aggregate — never all-pairs. SATURATED
    // fingerprints (shared by > 64 videos — intros, test cards, black
    // frames) are dropped before the join, the q90d gram-saturation
    // lesson applied to video: a ubiquitous clip is not a dup signal,
    // and its bucket is the one quadratic fan-in the plan would
    // otherwise have (this fixture's buckets CROSS the cap as the
    // corpus grows — ~60 videos/key at sf0.1, ~600 at sf1 — so the cap
    // is load-bearing, not decorative). The fixture makes the
    // unaligned case REAL: frame means are (doc_id+f) % 251, so
    // id-adjacent videos share shifted clips (doc 7 frames 1..3 ==
    // doc 8 frames 0..2) and id-distance-251 videos share aligned ones
    // — both families surface, at every SF. At 100 TB the triple
    // digests to an 8-byte key before the exchange.
    Q("q94p_clip_neardup",
      """WITH f AS (SELECT doc_id, CAST(g AS INT) AS fi,
        |    CAST((doc_id + g) % 251 AS DOUBLE) AS m
        |  FROM documents CROSS JOIN unnest(
        |    generate_series(0, CAST(doc_id % 5 AS INT))) AS t(g)),
        |sh AS (SELECT doc_id, m AS m1,
        |    lead(m, 1) OVER (PARTITION BY doc_id ORDER BY fi) AS m2,
        |    lead(m, 2) OVER (PARTITION BY doc_id ORDER BY fi) AS m3
        |  FROM f),
        |s2 AS (SELECT DISTINCT doc_id, m1, m2, m3 FROM sh
        |  WHERE m3 IS NOT NULL),
        |keep AS (SELECT m1, m2, m3 FROM s2
        |  GROUP BY 1, 2, 3 HAVING count(*) <= 64),
        |s3 AS (SELECT s2.* FROM s2 JOIN keep USING (m1, m2, m3))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM s3 a JOIN s3 b ON a.m1 = b.m1 AND a.m2 = b.m2
        |  AND a.m3 = b.m3 AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST,
        |  n_shared NULLS FIRST""".stripMargin) { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val blobs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang")).as[(Long, String)]
        .map { case (id, lang) =>
          MediaBlob(id, "video", lang, aviFor(id)) }
      import graft.Engine.PersistOnceOps
      val sh = clipShingles(blobs).toDF()
        .select("doc_id", "m1", "m2", "m3").distinct()
        .persistOnce()
      val keep = sh.groupBy("m1", "m2", "m3")
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= 64).select("m1", "m2", "m3")
      // re-project: the USING join reorders keys first
      val s3 = sh.join(keep, Seq("m1", "m2", "m3"), "left_semi")
        .select("doc_id", "m1", "m2", "m3")
      val a = s3.toDF("doc_a", "m1", "m2", "m3")
      val b = s3.toDF("doc_b", "m1", "m2", "m3")
      orderAll(a.join(b, Seq("m1", "m2", "m3"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared")))
    })

  /** The capstone's pre-publish pipeline — decode → geo-clip → re-grid
    * over the configured bands — exposed so PlanSpec can assert its
    * exchange budget directly (the registered query adds the partitioned
    * sink + read-back around exactly this plan). */
  def rasterCapstone(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val pixels = selectedBands(s, dir)
      .select(col("doc_id"), col("layer"), col("band"), col("w"),
        col("lon0"), col("lat0"), col("scale_deg"),
        posexplode(col("px")).as(Seq("i", "v")))
      .withColumn("x", col("i") % col("w"))
      .withColumn("y", expr("i div w"))
      .withColumn("lon", col("lon0") + col("x") * col("scale_deg"))
      .withColumn("lat", col("lat0") - col("y") * col("scale_deg"))
      .filter(col("lon") >= lit(AfricaExtent(0)) &&
        col("lon") <= lit(AfricaExtent(2)) &&
        col("lat") >= lit(AfricaExtent(1)) &&
        col("lat") <= lit(AfricaExtent(3)))
      .select(col("layer"), col("band"),
        (round((lit(90.0) - col("lat0")) / col("scale_deg"))
          .cast(LongType) + col("y")).as("__r"),
        (round((col("lon0") + lit(180.0)) / col("scale_deg"))
          .cast(LongType) + col("x")).as("__c"),
        col("doc_id").as("__id"), col("v").as("__v"))
    graft.Engine.regridNearestPixels(pixels, Seq("layer", "band"),
      factor = 4)
  }

  /** Shared decode → layer tag → CONFIG-DRIVEN band selection prefix of
    * q94h/q94i: one row per (doc, kept band) with that band's pixels and
    * the decoded georeferencing. The layer is doc metadata (even ids
    * carry the 3-band natural-color composite, odd the IR one); which
    * bands survive comes from [[ExportBands]], never per-query code. */
  private def selectedBands(s: SparkSession, dir: String) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val blobs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang")).as[(Long, String)]
      .map { case (id, lang) =>
        MediaBlob(id, "raster", lang, geoTiffMultibandFor(id)) }
    val layered = extractGeoTiles(blobs).toDF()
      .withColumn("layer",
        when(col("doc_id") % 2 === 0, lit("natural_color"))
          .otherwise(lit("ir108")))
    val sel = ExportBands.map { case (l, bs) =>
      col("layer") === l && col("band").isin(bs: _*)
    }.reduce(_ || _)
    layered.select(col("doc_id"), col("layer"), col("w"), col("h"),
        col("lon0"), col("lat0"), col("scale_deg"),
        posexplode(col("bands")).as(Seq("b0", "px")))
      .withColumn("band", (col("b0") + 1).cast("int"))
      .filter(sel)
  }

  /** DuckDB layer/geometry CTE shared by the q94h/q94i oracles — the
    * codec-less arithmetic replay of [[geoTiffMultibandFor]]'s fixture
    * (w/h geometry, ×7/×11 anchor spread, per-band pixel formula) and
    * the doc→layer assignment. */
  private def multibandT: String =
    """t AS (SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'natural_color' ELSE 'ir108' END
      |      AS layer,
      |    CAST(doc_id % 13 + 1 AS BIGINT) AS w,
      |    CAST(doc_id % 7 + 1 AS BIGINT) AS h,
      |    CAST(doc_id*7 % 360 - 180 AS DOUBLE) AS lon0,
      |    CAST(90 - doc_id*11 % 180 AS DOUBLE) AS lat0
      |  FROM documents)""".stripMargin

  /** DuckDB rendering of the [[ExportBands]] config as a band filter. */
  private def exportBandsSql(bandCol: String): String =
    ExportBands.toSeq.sortBy(_._1)
      .map { case (l, bs) =>
        s"(layer = '$l' AND $bandCol IN (${bs.mkString(", ")}))" }
      .mkString(" OR ")

  /** DuckDB oracle for Q94i: per-band statistics from the id-arithmetic
    * pixel formula over the configured bands. */
  private def bandStatsOracleSql: String = {
    def lst(f: String) =
      s"$f(list_transform(generate_series(0, w*h - 1), " +
        "i -> (doc_id + 97*(band - 1) + 5*(i // w) + 3*(i % w)) % 251))"
    s"""WITH $multibandT,
       |b AS (SELECT doc_id, layer, w, h, bb.band AS band
       |  FROM t, unnest([1, 2, 3]) bb(band)
       |  WHERE ${exportBandsSql("bb.band")})
       |SELECT doc_id, layer, CAST(band AS INT) AS band,
       |  CAST(w*h AS INT) AS n_px,
       |  CAST(${lst("list_sum")} AS BIGINT) AS px_sum,
       |  CAST(${lst("list_min")} AS INT) AS px_min,
       |  CAST(${lst("list_max")} AS INT) AS px_max
       |FROM b
       |ORDER BY doc_id NULLS FIRST, layer NULLS FIRST, band NULLS FIRST,
       |  n_px NULLS FIRST, px_sum NULLS FIRST, px_min NULLS FIRST,
       |  px_max NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q94h: the full decode→clip→regrid→band-select→
    * publish arithmetic. World-pixel indices are exact integers (the
    * anchor offset rounds an integer-valued double); the lon/lat clip
    * and the argmin replay the Spark expression trees exactly. */
  private def rasterCapstoneOracleSql: String = {
    val (lonMin, latMin, lonMax, latMax) =
      (AfricaExtent(0), AfricaExtent(1), AfricaExtent(2), AfricaExtent(3))
    s"""WITH $multibandT,
       |px AS (SELECT doc_id, layer, w, lon0, lat0, bb.band AS band,
       |    g.i % w AS x, g.i // w AS y,
       |    CAST((doc_id + 97*(bb.band - 1) + 5*(g.i // w) + 3*(g.i % w))
       |      % 251 AS INT) AS v
       |  FROM t, unnest([1, 2, 3]) bb(band),
       |    unnest(generate_series(0, w*h - 1)) g(i)
       |  WHERE ${exportBandsSql("bb.band")}),
       |geo AS (SELECT *,
       |    lon0 + x * CAST(0.035 AS DOUBLE) AS lon,
       |    lat0 - y * CAST(0.035 AS DOUBLE) AS lat,
       |    CAST(round((90.0 - lat0) / CAST(0.035 AS DOUBLE)) AS BIGINT)
       |      + y AS r,
       |    CAST(round((lon0 + 180.0) / CAST(0.035 AS DOUBLE)) AS BIGINT)
       |      + x AS c
       |  FROM px),
       |clip AS (SELECT * FROM geo
       |  WHERE lon >= CAST($lonMin AS DOUBLE)
       |    AND lon <= CAST($lonMax AS DOUBLE)
       |    AND lat >= CAST($latMin AS DOUBLE)
       |    AND lat <= CAST($latMax AS DOUBLE)),
       |k AS (SELECT layer, band, r // 4 AS cell_row, c // 4 AS cell_col,
       |    r, c, doc_id, v,
       |    (2*r - (8*(r // 4) + 3)) AS dr,
       |    (2*c - (8*(c // 4) + 3)) AS dc
       |  FROM clip),
       |rn AS (SELECT layer, band, cell_row, cell_col, v,
       |    row_number() OVER (
       |      PARTITION BY layer, band, cell_row, cell_col
       |      ORDER BY dr*dr + dc*dc, r, c, doc_id) AS rn
       |  FROM k)
       |SELECT layer, CAST(band AS INT) AS band, cell_row, cell_col,
       |  v AS value
       |FROM rn WHERE rn = 1
       |ORDER BY layer NULLS FIRST, band NULLS FIRST, cell_row NULLS FIRST,
       |  cell_col NULLS FIRST, value NULLS FIRST""".stripMargin
  }
}
