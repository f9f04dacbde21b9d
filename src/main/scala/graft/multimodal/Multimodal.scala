package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded per-partition (SURVEY §7.6; builder-brief
  * multimodal mandate).
  *
  * Since round 11 the image path processes REAL media with JDK-only
  * codecs (round-10 verdict item 3): [[derivePng]] synthesizes genuine
  * PNG bytes per document (`BufferedImage` → `ImageIO.write`) at
  * deterministic dimensions, and [[decodePng]] decodes them
  * executor-side with a per-partition `ImageReader` — header-true
  * width/height plus a full pixel decode, so truncated or corrupt
  * payloads are caught and QUARANTINED row-by-row (the ingestChecked
  * discipline) instead of failing the partition. Determinism of the
  * synthesized geometry keeps the DuckDB oracle able to mirror the
  * decoded dimensions without a codec.
  *
  * Since round 13 the VIDEO-shaped path is real too: [[deriveGif]]
  * synthesizes genuine multi-frame ANIMATED GIFs (the JDK's only
  * multi-frame container codec) and [[decodeGifFrames]] decodes every
  * sampled frame back to an exact raster checksum — header-true frame
  * counts, bit-exact pixels through the palette. Only [[decodeMeta]]
  * remains as the original stub-geometry family, kept because its
  * byte-length formula documents the fan-out contract the real codecs
  * now fulfil.
  */
object Multimodal {

  // ImageIO gotchas the codec seams below are shaped around (found by
  // the round-18 parallelization): the ImageIO.read/write/
  // createImage*Stream conveniences re-walk the IIORegistry per call
  // AND default to DISK-cached stream wrappers, so every payload
  // round-trips through a temp file — 32 concurrent codec tasks then
  // contend on temp-file create/delete (measured ~30x per-task
  // inflation: q_multimodal_frames 2.2s serial task-time → 58s across
  // 67 parallel tasks, wall unchanged). Every seam therefore holds ONE
  // reader/writer per partition and constructs
  // MemoryCacheImage{Input,Output}Stream directly — all payloads here
  // are in-memory byte arrays, so memory-cached streams are strictly
  // right at any scale.

  final case class MediaRow(doc_id: Long, media: Array[Byte])
  final case class MediaMeta(doc_id: Long, mime: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int)

  /** Stub geometry constants — ONE definition for both decode and frame
    * sampling, interpolated into the oracle SQL strings so the invariant
    * is structural.
    */
  val FramesMod = 30
  val FrameStride = 5
  private[graft] def nFrames(nBytes: Long): Long = (nBytes % FramesMod) + 1

  /** Stand-in payload: the document text's UTF-8 bytes as the opaque
    * media blob (real pipelines carry jpeg/wav/mp4 bytes here).
    */
  def deriveMedia(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      encode(col("text"), "utf-8").cast("binary").as("media"))

  /** STUB decode — stands where an image/audio decoder would run.
    * Deterministic pure function of the payload so tests and the SQL
    * oracle can verify the plumbing end-to-end. Partition-granular: one
    * "codec init" per partition, rows streamed through it.
    */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real code would initialize the decoder ONCE here per partition
      rows.map { r =>
        val n = r.media.length.toLong
        MediaMeta(r.doc_id, "image/fake", n,
          width = (n % 640).toInt + 1,
          height = ((n * 7) % 480).toInt + 1,
          n_frames = nFrames(n).toInt)
      }
    }
  }

  /** documents → typed media metadata (stub-geometry family). */
  def documentsMeta(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    decodeMeta(deriveMedia(documents).as[MediaRow]).toDF()
  }

  // ------------- real image path (JDK-only codecs) ----------------- //

  /** Deterministic synthesized-PNG dimensions for a document whose text
    * is `o` UTF-8 bytes long — ONE definition, interpolated into the
    * oracle SQL so the invariant is structural. Small on purpose: the
    * decode cost at sf0.1 is ~5k tiny PNGs.
    */
  val WidthMod = 64
  val HeightMod = 48
  private[graft] def pngWidth(o: Long): Int = (o % WidthMod).toInt + 1
  private[graft] def pngHeight(o: Long): Int = ((o * 7) % HeightMod).toInt + 1

  /** The `(doc_id, text-byte-count)` proxy every media synthesizer
    * consumes, hash-repartitioned on doc_id BEFORE the codec seam
    * (round-18 optimization, guide §2.5 / §8): the proxy is ~16
    * bytes/row while the encode+decode work downstream costs
    * milliseconds/row, so the exchange moves the LIGHT rows once and
    * decouples codec parallelism from the input's file/row-group
    * layout — a single-row-group parquet input otherwise serializes
    * the entire encode→decode chain into one task (measured at sf0.1:
    * q_multimodal_frames ran 3.1 s of codec work on 1 of 32 cores).
    * Deterministic hash partitioning (not round-robin), so task
    * retries reproduce the same row placement. The partition count is
    * PINNED to the session's default parallelism: a keyed repartition
    * without a count is AQE-coalesced by shuffle BYTES, and the proxy
    * rows are so small that AQE folds them back into one partition —
    * re-serializing the codec stage it cannot see (measured: the
    * unpinned form kept q_multimodal_frames at 2.3 s on 5 tasks).
    */
  private def lenProxy(documents: DataFrame): Dataset[(Long, Long)] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("o"))
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .as[(Long, Long)]
  }

  /** Synthesize a REAL PNG payload per document: a `BufferedImage` of
    * the deterministic geometry, pixels filled from a cheap function of
    * (doc_id, x, y) so the bytes are content-bearing, encoded by the
    * JDK's ImageIO PNG writer. Runs per-partition (encoder state and
    * buffers amortized), emits `(doc_id, media binary)` — the shape a
    * real pipeline lands crawled images in.
    */
  def derivePng(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    lenProxy(documents)
      .mapPartitions { rows =>
        // per-partition writer + direct memory-cached stream: the
        // ImageIO.write convenience re-walks the IIORegistry per image
        // and defaults to a disk-backed stream wrapper — measured as
        // the residual task-time inflation once the seam parallelized.
        // Reclamation note (applies to every per-partition ImageIO
        // reader/writer in this file): plugin instances are not
        // dispose()d when the partition iterator drains — they hold no
        // native resources on the JDK's PNG/GIF plugins (pure-Java
        // readers/writers over our MemoryCache streams), so GC
        // reclaims them with the task; a completing-iterator dispose
        // would buy nothing here.
        val writer = {
          val it = javax.imageio.ImageIO.getImageWritersByFormatName("png")
          require(it.hasNext, "JDK PNG ImageWriter missing")
          it.next()
        }
        val buf = new java.io.ByteArrayOutputStream(1 << 12)
        rows.map { case (docId, o) =>
          val w = pngWidth(o); val h = pngHeight(o)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // doc_id is bounded modulo a prime BEFORE the multiply:
              // entity-key-shifted ids reach ~1e11 at the soak/sweep
              // multipliers, and an unbounded product overflows INT64 —
              // which Scala wraps silently and DuckDB raises on, so the
              // oracle could never mirror it (the data-scaled-product
              // overflow discipline, applied to pixel synthesis)
              img.setRGB(x, y,
                ((docId % 1048573L) * 2654435761L + x * 31 + y).toInt)
              x += 1
            }
            y += 1
          }
          buf.reset()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(buf)
          try {
            writer.setOutput(ios)
            writer.write(img)
          } finally ios.close()
          MediaRow(docId, buf.toByteArray)
        }
      }
  }

  final case class PngMeta(doc_id: Long, mime: String, width: Int,
      height: Int, n_pixels: Long)
  final case class MediaQuarantine(doc_id: Long, reason: String)

  /** REAL decode with row-level poison safety: a per-partition PNG
    * `ImageReader` (codec init amortized, as the mapPartitions seam was
    * designed for) reads each payload's header for width/height and then
    * decodes the full pixel raster — so a truncated or bit-flipped
    * payload surfaces HERE, as a quarantine row carrying the decoder's
    * reason, never as a task failure poisoning the partition (the
    * `OdsBuilder.ingestChecked` discipline applied to media).
    */
  def decodePng(media: Dataset[MediaRow])
      : (Dataset[PngMeta], Dataset[MediaQuarantine]) = {
    import media.sparkSession.implicits._
    val decoded = media.mapPartitions { rows =>
      val reader = {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
        require(it.hasNext, "JDK PNG ImageReader missing")
        it.next()
      }
      rows.map { r =>
        try {
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(r.media))
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0)
            val h = reader.getHeight(0)
            val img = reader.read(0) // full raster: truncation surfaces here
            require(img.getWidth == w && img.getHeight == h,
              s"raster ${img.getWidth}x${img.getHeight} != header ${w}x$h")
            (Some(PngMeta(r.doc_id, "image/png", w, h, w.toLong * h)),
              None: Option[MediaQuarantine])
          } finally iis.close()
        } catch {
          case e: Exception =>
            (None, Some(MediaQuarantine(r.doc_id,
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
                .take(200))))
        }
      }
      // one decode feeds both sides (an eager localCheckpoint, as
      // OdsBuilder.ingestChecked materializes its raw day) — without
      // it each consumer would re-run the full raster decode;
      // ContextCleaner frees the blocks when the frames go
      // unreferenced
    }.localCheckpoint()
    (decoded.flatMap(_._1), decoded.flatMap(_._2))
  }

  final case class PngPixels(doc_id: Long, n_pixels: Long, pixel_sum: Long)

  /** Full-raster checksum of each decoded PNG: the sum of every
    * pixel's 24-bit RGB value, read from the DECODED image. The
    * synthesis formula is deterministic, so the oracle can compute the
    * same sum in SQL from (doc_id, x, y) alone — a green diff
    * therefore pins every PIXEL of the encode→PNG-bytes→decode round
    * trip, not just the header geometry (the q_multimodal_meta
    * contract strengthened to raster level). Strict by design: this
    * runs on the engine's own synthesized payloads, so a decode
    * failure here is a broken seam, not poison — the row-level
    * quarantine path for untrusted bytes is [[decodePng]].
    */
  def decodePixelSums(media: Dataset[MediaRow]): Dataset[PngPixels] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val reader = {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
        require(it.hasNext, "JDK PNG ImageReader missing")
        it.next()
      }
      rows.map { r =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val img = try {
          reader.setInput(iis, true, true)
          reader.read(0)
        } finally iis.close()
        require(img != null, s"doc ${r.doc_id}: payload failed to decode")
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            sum += (img.getRGB(x, y) & 0xFFFFFF)
            x += 1
          }
          y += 1
        }
        PngPixels(r.doc_id, img.getWidth.toLong * img.getHeight, sum)
      }
    }
  }

  /** documents → header-true PNG metadata (the registered query's
    * body). The derivation is deterministic, so the quarantine side
    * MUST be empty — a non-empty quarantine here means the encode or
    * decode seam broke, and silently dropping those rows would hide it;
    * fail loudly instead (MultimodalSpec proves injected corruption
    * takes the quarantine path, not this one).
    */
  def documentsPngMeta(documents: DataFrame): DataFrame = {
    val (ok, quarantine) = decodePng(derivePng(documents))
    val bad = quarantine.take(1)
    require(bad.isEmpty,
      s"synthesized PNG failed its own decode: doc ${bad.head.doc_id} " +
        s"(${bad.head.reason})")
    ok.toDF()
  }

  // ------------- real audio path (JDK-only codec) ------------------ //

  /** Deterministic synthesized-WAV sample count for a document of `o`
    * text bytes — like the PNG geometry, one definition shared with the
    * oracle SQL.
    */
  val SamplesMod = 400
  val SamplesMin = 50
  private[graft] def wavSamples(o: Long): Int =
    (o % SamplesMod).toInt + SamplesMin

  /** Synthesize a REAL WAV payload per document: 16-bit signed PCM,
    * mono, 8 kHz, samples from a deterministic function of
    * (doc_id, i) — doc_id bounded modulo a prime BEFORE the multiply,
    * same overflow discipline as the PNG raster — containerized by the
    * JDK's `AudioSystem` WAV writer. The audio twin of [[derivePng]].
    */
  def deriveWav(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    lenProxy(documents)
      .mapPartitions { rows =>
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          true /* signed */, false /* little-endian */)
        // per-partition WAVE writer via the public SPI: the
        // AudioSystem.write convenience funnels every call through a
        // SYNCHRONIZED static provider lookup, which serializes the
        // parallel codec tasks (measured: 19.7 task-seconds for 0.27 s
        // of actual containerizing work)
        val writer = {
          val it = java.util.ServiceLoader.load(
            classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
          var w: javax.sound.sampled.spi.AudioFileWriter = null
          while (w == null && it.hasNext) {
            val c = it.next()
            if (c.isFileTypeSupported(
                javax.sound.sampled.AudioFileFormat.Type.WAVE)) w = c
          }
          require(w != null, "JDK WAVE AudioFileWriter missing")
          w
        }
        rows.map { case (docId, o) =>
          val n = wavSamples(o)
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = (((docId % 1048573L) * 31 + i.toLong * 7) % 65536L
              - 32768L).toInt
            pcm(2 * i) = (v & 0xFF).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val buf = new java.io.ByteArrayOutputStream(n * 2 + 64)
          writer.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
          MediaRow(docId, buf.toByteArray)
        }
      }
  }

  final case class WavMeta(doc_id: Long, sample_rate: Int, bits: Int,
      channels: Int, n_samples: Long, sample_sum: Long)

  /** REAL WAV decode: `AudioSystem.getAudioInputStream` parses the
    * container header (format, channel count, frame length — all
    * header-true values, like the PNG width/height) and the PCM frames
    * are fully read back into an exact integer sample sum the SQL
    * oracle mirrors from the synthesis formula. Header AND content
    * round-trip through a genuine WAV byte stream.
    */
  def decodeWav(media: Dataset[MediaRow]): Dataset[WavMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition readers via the public SPI (the AudioSystem
      // convenience pays the synchronized provider lookup per row —
      // see deriveWav); payloads here are always WAV, so the first
      // reader that accepts the stream wins
      val readers = {
        val it = java.util.ServiceLoader.load(
          classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
        val b = Vector.newBuilder[javax.sound.sampled.spi.AudioFileReader]
        while (it.hasNext) b += it.next()
        val rs = b.result()
        require(rs.nonEmpty, "no JDK AudioFileReader providers")
        rs
      }
      // Remember which provider accepted the last payload and try it
      // first (round 19): provider order is ServiceLoader order, and on
      // JDK 17 the Gervill SoftMidiAudioFileReader precedes the WAV
      // reader — its rejection path funnels EVERY probe through
      // MidiSystem.getMidiFileReaders, a STATIC SYNCHRONIZED provider
      // lookup (JDK13Services.getProviders) that serialized the 32
      // parallel decode tasks (JFR: 2200 monitor-enter blocks on the
      // Class lock for one bench execution; ~23 task-seconds for ~1 s
      // of decode work). With the hint, the MIDI probe happens at most
      // once per partition instead of once per row.
      var preferred = -1
      def open(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
        if (preferred >= 0) {
          try return readers(preferred).getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          }
        }
        var i = 0
        while (i < readers.size) {
          if (i != preferred) {
            try {
              val ais = readers(i).getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              preferred = i
              return ais
            } catch {
              case _: javax.sound.sampled.UnsupportedAudioFileException =>
            }
          }
          i += 1
        }
        throw new javax.sound.sampled.UnsupportedAudioFileException(
          "no provider accepted the payload")
      }
      rows.map { r =>
        val ais = open(r.media)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian, s"doc ${r.doc_id}: unexpected format $fmt")
        val n = ais.getFrameLength.toInt
        val pcm = ais.readAllBytes()
        require(pcm.length == n * 2,
          s"doc ${r.doc_id}: ${pcm.length} PCM bytes for $n frames")
        var sum = 0L
        var i = 0
        while (i < n) {
          sum += ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1).toInt << 8))
          i += 1
        }
        WavMeta(r.doc_id, fmt.getSampleRate.toInt,
          fmt.getSampleSizeInBits, fmt.getChannels, n.toLong, sum)
      }
    }
  }

  // --------- real multi-frame path: animated GIF (round 13) -------- //

  /** Deterministic synthesized-GIF frame geometry for a document of `o`
    * text bytes — one definition, interpolated into the oracle SQL.
    * Frame COUNT reuses [[nFrames]] (`o % FramesMod + 1`), so the
    * video-shaped cardinality the stub established is unchanged —
    * what's new is that the frames are now real rasters inside a real
    * multi-frame container. Dimensions stay tiny on purpose: the
    * oracle mirrors every pixel of every frame by range-unnesting.
    */
  val GifWidthMod = 16
  val GifHeightMod = 12
  private[graft] def gifWidth(o: Long): Int = (o % GifWidthMod).toInt + 1
  private[graft] def gifHeight(o: Long): Int =
    ((o * 7) % GifHeightMod).toInt + 1

  /** Frame pixel value (a palette index into the identity-gray table):
    * bounded modulo a prime before the multiply, like every synthesis
    * formula here, so the oracle's arithmetic can't overflow either.
    */
  private[graft] def gifPixel(docId: Long, f: Long, x: Int, y: Int): Int =
    (((docId % 1048573L) * 31 + f * 131 + x * 31 + y * 7) % 256).toInt

  /** 256-entry identity grayscale palette: index i ↦ RGB(i,i,i). GIF is
    * palette-based, so writing palette INDICES directly into an indexed
    * raster makes the encode→decode round trip bit-exact by
    * construction — no quantizer in the loop.
    */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** Synthesize a REAL ANIMATED GIF per document: `nFrames(o)` frames
    * of `gifWidth(o)`×`gifHeight(o)` indexed-gray rasters, written as
    * one multi-frame container through the JDK GIF writer's sequence
    * API (`prepareWriteSequence`/`writeToSequence`). One writer per
    * partition — the codec-amortization seam every decode here uses.
    * This retires the last multimodal stub: image, audio, AND
    * multi-frame video-shaped media are all real bytes through real
    * JDK codecs.
    */
  def deriveGif(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    lenProxy(documents)
      .mapPartitions { rows =>
        val it = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
        require(it.hasNext, "JDK GIF ImageWriter missing")
        val writer = it.next()
        // interlace OFF: the JDK GIF writer interlaces by default, and
        // its interlaced rows round-trip WRONG for heights the passes
        // don't cover evenly (h=3 decodes row 1 as zeros) — a real
        // writer bug this probe caught; progressive scan buys nothing
        // for in-pipeline media anyway
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(
          javax.imageio.ImageWriteParam.MODE_DISABLED)
        val palette = grayPalette
        rows.map { case (docId, o) =>
          val w = gifWidth(o); val h = gifHeight(o)
          val nf = nFrames(o).toInt
          val buf = new java.io.ByteArrayOutputStream(1 << 12)
          val ios =
            new javax.imageio.stream.MemoryCacheImageOutputStream(buf)
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nf) {
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
              val raster = img.getRaster
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  raster.setSample(x, y, 0, gifPixel(docId, f.toLong, x, y))
                  x += 1
                }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), param)
              f += 1
            }
            writer.endWriteSequence()
          } finally ios.close()
          MediaRow(docId, buf.toByteArray)
        }
      }
  }

  final case class GifFrame(doc_id: Long, frame_idx: Long, width: Int,
      height: Int, pixel_sum: Long)

  /** REAL multi-frame decode + frame sampling: a per-partition GIF
    * `ImageReader` parses each container, `getNumImages(allowSearch)`
    * returns the HEADER-TRUE frame count, and every `everyK`-th frame
    * is fully decoded into an exact per-frame raster checksum — the
    * one-to-many fan-out shape of per-frame feature extraction, now
    * over genuinely decoded frames. Strict like [[decodePixelSums]]:
    * these are the engine's own payloads, so a decode failure is a
    * broken seam, not poison.
    */
  def decodeGifFrames(media: Dataset[MediaRow],
      everyK: Int = FrameStride): Dataset[GifFrame] = {
    require(everyK > 0, s"frame stride must be positive, got $everyK")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(it.hasNext, "JDK GIF ImageReader missing")
      val reader = it.next()
      rows.flatMap { r =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(r.media))
        try {
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true)
          (0 until n by everyK).map { f =>
            val img = reader.read(f)
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                sum += (img.getRGB(x, y) & 0xFF) // identity-gray palette
                x += 1
              }
              y += 1
            }
            GifFrame(r.doc_id, f.toLong, img.getWidth, img.getHeight, sum)
          }.toVector
        } finally iis.close()
      }
    }
  }

  // ---- REAL VIDEO (round 14): RIFF/AVI container, uncompressed DIB ----

  /** Video geometry constants — like the GIF family, one definition
    * shared by the writer, the demuxer, and the oracle SQL. The
    * container is a REAL AVI (RIFF 'AVI ' with hdrl/avih/strh/strf,
    * movi '00db' chunks, idx1 — playable by any AVI demuxer) carrying
    * UNCOMPRESSED 24-bit DIB frames (BI_RGB: bottom-up BGR rows padded
    * to 4 bytes), the one video codec that is bit-deterministic without
    * an external library — so the decode side is a genuine container
    * demux + raster decode with a pixel-exact DuckDB oracle, retiring
    * the last "video is a documented limitation" row. (Lossy codecs —
    * jpeg/h264 — would swap in at the same seam but cannot be
    * hash-mirrored by an oracle.)
    */
  val AviWidthMod = 14
  val AviHeightMod = 10
  val AviFramesMod = 12
  val AviFrameStride = 3
  private[graft] def aviWidth(o: Long): Int = (o % AviWidthMod).toInt + 1
  private[graft] def aviHeight(o: Long): Int =
    ((o * 11) % AviHeightMod).toInt + 1
  private[graft] def aviFrames(o: Long): Int =
    ((o * 3) % AviFramesMod).toInt + 1
  private[graft] def aviLum(docId: Long, f: Long, x: Int, y: Int): Int =
    (((docId % 1048573L) * 37 + f * 151 + x * 29 + y * 11) % 256).toInt

  /** Synthesize a REAL AVI per document: `aviFrames(o)` uncompressed
    * DIB frames of `aviWidth(o)`×`aviHeight(o)` gray BGR rasters inside
    * a structurally complete RIFF container (avih/strh/strf headers
    * carry the true geometry; idx1 indexes every keyframe). Pure byte
    * assembly — the AVI/BMP layouts are public Microsoft specs.
    */
  def deriveAvi(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    lenProxy(documents)
      .mapPartitions { rows =>
        rows.map { case (docId, o) =>
          MediaRow(docId, buildAvi(docId, o))
        }
      }
  }

  private def buildAvi(docId: Long, o: Long): Array[Byte] = {
    val w = aviWidth(o); val h = aviHeight(o); val nf = aviFrames(o)
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val frameBytes = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(
      12 + 8 + 4 + 8 + 56 + 12 + 8 + 56 + 8 + 40 + // riff+hdrl+strl
        12 + nf * (8 + frameBytes) + // movi
        8 + nf * 16) // idx1
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    // RIFF header (size patched at the end)
    fcc("RIFF"); buf.putInt(0); fcc("AVI ")
    // LIST hdrl
    val hdrlBody = 4 + 8 + 56 + 12 + 8 + 56 + 8 + 40
    fcc("LIST"); buf.putInt(hdrlBody); fcc("hdrl")
    // avih: MainAVIHeader
    fcc("avih"); buf.putInt(56)
    buf.putInt(100000) // usec per frame (10 fps)
    buf.putInt(frameBytes * 10) // max bytes/sec
    buf.putInt(0) // padding granularity
    buf.putInt(0x10) // AVIF_HASINDEX
    buf.putInt(nf); buf.putInt(0) // total frames, initial frames
    buf.putInt(1) // streams
    buf.putInt(frameBytes) // suggested buffer
    buf.putInt(w); buf.putInt(h)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0) // reserved
    // LIST strl
    fcc("LIST"); buf.putInt(4 + 8 + 56 + 8 + 40); fcc("strl")
    // strh: AVISTREAMHEADER
    fcc("strh"); buf.putInt(56)
    fcc("vids"); fcc("DIB ")
    buf.putInt(0) // flags
    buf.putShort(0); buf.putShort(0) // priority, language
    buf.putInt(0) // initial frames
    buf.putInt(1); buf.putInt(10) // scale, rate (10 fps)
    buf.putInt(0); buf.putInt(nf) // start, LENGTH (header-true count)
    buf.putInt(frameBytes) // suggested buffer
    buf.putInt(-1) // quality (default)
    buf.putInt(0) // sample size
    buf.putShort(0); buf.putShort(0) // rcFrame left, top
    buf.putShort(w.toShort); buf.putShort(h.toShort)
    // strf: BITMAPINFOHEADER
    fcc("strf"); buf.putInt(40)
    buf.putInt(40); buf.putInt(w); buf.putInt(h)
    buf.putShort(1); buf.putShort(24) // planes, bit count
    buf.putInt(0) // BI_RGB (uncompressed)
    buf.putInt(frameBytes)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    // LIST movi
    fcc("LIST"); buf.putInt(4 + nf * (8 + frameBytes)); fcc("movi")
    var f = 0
    while (f < nf) {
      fcc("00db"); buf.putInt(frameBytes)
      // bottom-up rows, BGR, padded
      var y = h - 1
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val lum = aviLum(docId, f.toLong, x, y).toByte
          buf.put(lum); buf.put(lum); buf.put(lum) // B G R
          x += 1
        }
        var p = w * 3
        while (p < rowBytes) { buf.put(0.toByte); p += 1 }
        y -= 1
      }
      f += 1
    }
    // idx1: one entry per frame, offsets relative to the movi list data
    fcc("idx1"); buf.putInt(nf * 16)
    f = 0
    while (f < nf) {
      fcc("00db"); buf.putInt(0x10) // AVIIF_KEYFRAME
      buf.putInt(4 + f * (8 + frameBytes)); buf.putInt(frameBytes)
      f += 1
    }
    val out = buf.array()
    // patch the RIFF size (file length minus the 8-byte RIFF header)
    val riffSize = out.length - 8
    out(4) = (riffSize & 0xFF).toByte
    out(5) = ((riffSize >> 8) & 0xFF).toByte
    out(6) = ((riffSize >> 16) & 0xFF).toByte
    out(7) = ((riffSize >> 24) & 0xFF).toByte
    out
  }

  final case class AviFrame(doc_id: Long, frame_idx: Long, width: Int,
      height: Int, pixel_sum: Long)

  /** REAL video demux + frame decode: parse the RIFF tree (no
    * library — the walker below is the whole demuxer), read the
    * header-true geometry from `strf`/`strh`, iterate the `movi`
    * `00db` chunks, and decode every `everyK`-th frame's bottom-up
    * padded BGR raster to an exact luminance checksum. STRICT header
    * validation: the stream-declared frame count must equal the chunks
    * actually present, the bitmap must be 24-bit BI_RGB, and every
    * pixel's three channels must agree (the writer emits gray) — a
    * corrupt container fails loudly, because these are the engine's
    * own payloads.
    */
  def decodeAviFrames(media: Dataset[MediaRow],
      everyK: Int = AviFrameStride): Dataset[AviFrame] = {
    require(everyK > 0, s"frame stride must be positive, got $everyK")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r => demuxAvi(r.doc_id, r.media, everyK) }
    }
  }

  private def demuxAvi(docId: Long, b: Array[Byte],
      everyK: Int): Seq[AviFrame] = {
    def le32(off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    def le16(off: Int): Int = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    def fourcc(off: Int): String =
      new String(b, off, 4, "US-ASCII")
    require(b.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "AVI ",
      s"doc $docId: not a RIFF AVI container")
    require(le32(4) == b.length - 8,
      s"doc $docId: RIFF size ${le32(4)} != payload ${b.length - 8}")
    var width = -1; var height = -1; var declaredFrames = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Int]
    // walk the chunk tree; LIST chunks recurse into their children
    def walk(start: Int, end: Int): Unit = {
      var p = start
      while (p + 8 <= end) {
        val id = fourcc(p); val size = le32(p + 4)
        // validate the size field BEFORE advancing: a corrupt negative
        // size would step p by zero (infinite loop) or backwards, and
        // an oversized one would index past the payload — the loud-
        // failure contract covers malformed containers, not just
        // truncated ones. The bound compares in Long: a size near
        // Int.MaxValue overflows `p + 8 + size` negative, which would
        // PASS an Int comparison and walk past the array (ADVICE r14)
        require(size >= 0 && p.toLong + 8L + size <= end.toLong,
          s"doc $docId: chunk $id at offset $p declares size $size " +
            s"outside its enclosing range (..$end) — corrupt container")
        if (id == "LIST") walk(p + 12, p + 8 + size)
        else if (id == "strh") {
          require(fourcc(p + 8) == "vids" && fourcc(p + 12) == "DIB ",
            s"doc $docId: expected an uncompressed video stream")
          declaredFrames = le32(p + 8 + 32)
        } else if (id == "strf") {
          require(le32(p + 8) == 40 && le16(p + 8 + 14) == 24 &&
            le32(p + 8 + 16) == 0,
            s"doc $docId: expected a 24-bit BI_RGB BITMAPINFOHEADER")
          width = le32(p + 8 + 4); height = le32(p + 8 + 8)
        } else if (id == "00db") frames += (p + 8)
        p += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, b.length)
    require(width > 0 && height > 0 && declaredFrames >= 0,
      s"doc $docId: missing stream headers")
    require(frames.size == declaredFrames,
      s"doc $docId: header declares $declaredFrames frames, " +
        s"container holds ${frames.size}")
    val rowBytes = ((width * 3 + 3) / 4) * 4
    (0 until frames.size by everyK).map { f =>
      val base = frames(f)
      var sum = 0L
      var y = 0
      while (y < height) {
        val rowOff = base + (height - 1 - y) * rowBytes // bottom-up
        var x = 0
        while (x < width) {
          val blue = b(rowOff + x * 3) & 0xFF
          val g = b(rowOff + x * 3 + 1) & 0xFF
          val red = b(rowOff + x * 3 + 2) & 0xFF
          require(blue == g && g == red,
            s"doc $docId frame $f: non-gray pixel at ($x,$y)")
          sum += blue
          x += 1
        }
        y += 1
      }
      AviFrame(docId, f.toLong, width, height, sum)
    }
  }
}
