package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scope
import graft.ops.{Par, QueryDef, QueryModule, Tables}

/** One decoded image record (the per-batch output row of the decode
  * stage): dimensions, per-channel pixel sums, and a 64-bit average
  * perceptual hash — all derived from ACTUAL decoded pixel data. */
final case class ImageFeatures(
    doc_id: Long,
    mime: String,
    width: Long,
    height: Long,
    n_pixels: Long,
    r_sum: Long,
    g_sum: Long,
    b_sum: Long,
    ahash: Long)

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded/feature-extracted in partition-sized batches.
  *
  * The image path is a REAL codec round-trip: [[Multimodal.imageTable]]
  * synthesizes a deterministic RGB PNG per document (the fixture — pixel
  * values follow a closed-form integer formula, so the DuckDB oracle can
  * recompute the expected features from first principles), and
  * [[Multimodal.decodeImageFeatures]] decodes those bytes with
  * `javax.imageio.ImageIO` and extracts dimensions, exact per-channel
  * sums, and an aHash from the decoded pixels. The gate therefore proves
  * the encode→decode round-trip preserved every pixel — real codec work
  * on the operator side, independent recomputation on the oracle side.
  *
  * The `mapPartitions` batch shape (one iterator per partition, codec
  * state initialized once per partition, streaming through rows without
  * materializing the partition) is the Scala analogue of a pandas-batch
  * UDF and is exactly how a libjpeg/ffmpeg JNI codec would slot in.
  *
  * Scale: decode is embarrassingly parallel per partition; payload bytes
  * never shuffle (features are extracted before any wide operation, so the
  * shuffle carries ~70 bytes/row, not megabyte blobs). That ordering —
  * project-then-shuffle — is the whole game for multimodal at 100 TB.
  */
object Multimodal extends QueryModule {

  /** Real image codec stage built on `javax.imageio` (JDK-native, no
    * external dependency). PNG is lossless, so decoded pixels equal the
    * generated pixels bit-for-bit — which is what lets the DuckDB oracle
    * verify the decode from the generation formula alone. */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file spooling

    /** Per-thread PNG writer/reader: `ImageIO.write`/`read` consult the
      * IIORegistry and construct a fresh codec instance PER CALL — a
      * synchronized registry scan that becomes a lock convoy once the
      * codec pass runs on every core (measured: the spread-out decode
      * stages gained far less than cores× until the per-call lookup was
      * hoisted). Same JDK PNG codec classes, resolved once per thread,
      * reused via `setOutput`/`setInput` — output bytes are identical
      * (same writer defaults), so every payload-hash-sensitive gate is
      * unaffected. */
    private val pngWriter =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
    private val pngReader =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next())

    /** `ImageIO.write(img, "png", out)` minus the per-call registry
      * scan; byte-identical output. */
    def writePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      val w = pngWriter.get()
      w.setOutput(ios)
      w.write(img)
      w.setOutput(null)
      ios.close()
      bos.toByteArray
    }

    /** `ImageIO.read` minus the per-call registry scan; pixel-identical
      * (same reader, same `setInput(_, true, true)` contract). */
    def readPng(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val r = pngReader.get()
      r.setInput(iis, true, true)
      val img = r.read(0)
      r.setInput(null)
      iis.close()
      img
    }

    /** Deterministic per-document test image (the FIXTURE side):
      * w = 16 + id%17 (16..32), h = 16 + id%13 (16..28); channel values
      * at (x,y) are (id·31 + 7x + 13y + {0,85,170}) mod 256. */
    def makePng(docId: Long): Array[Byte] = {
      val w = (16 + docId % 17).toInt
      val h = (16 + docId % 13).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // fill via the backing int raster: same packed-RGB values setRGB
      // would store, without a method call + color-model hop per pixel
      val px = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = docId * 31L + x * 7L + y * 13L
          val r = (base % 256L).toInt
          val g = ((base + 85L) % 256L).toInt
          val b = ((base + 170L) % 256L).toInt
          px(y * w + x) = (r << 16) | (g << 8) | b
          x += 1
        }
        y += 1
      }
      writePng(img)
    }

    /** REAL decode: parse the compressed payload back into pixels. */
    def decode(payload: Array[Byte]): java.awt.image.BufferedImage =
      readPng(payload)

    /** Feature extraction over DECODED pixels: exact channel sums plus a
      * 64-bit average hash (8×8 nearest-neighbor grayscale, bit i set iff
      * sample i is strictly above the integer mean) — the standard
      * near-dup fingerprint for images, here in its integer-exact form so
      * two engines can agree bit-for-bit. */
    def features(docId: Long, mime: String,
        img: java.awt.image.BufferedImage): ImageFeatures = {
      val w = img.getWidth
      val h = img.getHeight
      // one bulk getRGB: identical packed-RGB values, one color-model
      // conversion pass instead of a per-pixel call
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var rs = 0L; var gs = 0L; var bs = 0L
      var pi = 0
      while (pi < px.length) {
        val p = px(pi)
        rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
        pi += 1
      }
      val gray = new Array[Long](64)
      var ty = 0
      while (ty < 8) {
        var tx = 0
        while (tx < 8) {
          val p = px((ty * h / 8) * w + (tx * w / 8))
          gray(ty * 8 + tx) =
            (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3L
          tx += 1
        }
        ty += 1
      }
      val mean = gray.sum / 64L
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (gray(i) > mean) hash |= (1L << i)
        i += 1
      }
      ImageFeatures(docId, mime, w.toLong, h.toLong, w.toLong * h,
        rs, gs, bs, hash)
    }

    /** REAL nearest-neighbor resample of a decoded image: out(x,y) =
      * in(x·w div outW, y·h div outH), emitted as packed RGB triplets. */
    def resizeNearest(img: java.awt.image.BufferedImage,
        outW: Int, outH: Int): Array[Byte] = {
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Byte](outW * outH * 3)
      var y = 0
      while (y < outH) {
        var x = 0
        while (x < outW) {
          val p = img.getRGB(x * w / outW, y * h / outH)
          val i = (y * outW + x) * 3
          out(i) = ((p >> 16) & 0xff).toByte
          out(i + 1) = ((p >> 8) & 0xff).toByte
          out(i + 2) = (p & 0xff).toByte
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Real audio codec stage built on `javax.sound.sampled` (JDK-native).
    * Same design as [[ImageCodec]]: [[makeWav]] synthesizes a
    * deterministic 16-bit mono PCM WAV per document (sample i of doc d
    * is ((d·7 + i·11) mod 65536) − 32768 at 8 kHz; n = 800 + d mod 321
    * samples), [[decodeSamples]] parses the RIFF container back through
    * `AudioSystem`, and the oracle recomputes the waveform statistics
    * from the sample formula — agreement proves the codec round-trip
    * reproduced every sample. */
  object AudioCodec {
    val SampleRate = 8000f

    /** WAV SPI providers resolved ONCE: `AudioSystem.write` /
      * `getAudioInputStream` go through a SYNCHRONIZED provider lookup
      * per call (JDK13Services), which turns into a lock convoy when the
      * codec pass runs on every core (measured 2.3× SLOWER than
      * single-threaded before this hoist). Same JDK codec objects the
      * registry would hand back — stateless per the SPI contract, byte-
      * and sample-identical output. */
    private val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
      var w: javax.sound.sampled.spi.AudioFileWriter = null
      while (w == null && it.hasNext) {
        val c = it.next()
        if (c.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE)) w = c
      }
      require(w != null, "no WAVE AudioFileWriter provider")
      w
    }
    private val wavReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
      val b = Array.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().forEachRemaining(r => b += r)
      val rs = b.result()
      require(rs.nonEmpty, "no AudioFileReader providers")
      rs
    }

    def sampleCount(docId: Long): Int = (800 + docId % 321).toInt

    private def sampleAt(docId: Long, i: Int): Int =
      (((docId * 7L + i * 11L) % 65536L) - 32768L).toInt

    def makeWav(docId: Long): Array[Byte] = {
      val n = sampleCount(docId)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sampleAt(docId, i)
        pcm(2 * i) = (s & 0xff).toByte // little-endian
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        SampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      wavWriter.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** REAL decode: parse the WAV container, return (sampleRate,
      * samples). */
    def decodeSamples(payload: Array[Byte]): (Long, Array[Int]) = {
      // first provider that accepts the container — AudioSystem's own
      // dispatch rule, minus its synchronized registry walk per call
      val in = wavReaders.iterator.flatMap { r =>
        try Some(r.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload)))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
        }
      }.nextOption().getOrElse(throw new IllegalArgumentException(
        "no provider decodes this payload"))
      val f = in.getFormat
      require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
        !f.isBigEndian, s"unexpected decoded format $f")
      val bytes = in.readAllBytes()
      in.close()
      val out = new Array[Int](bytes.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff))
        i += 1
      }
      (f.getSampleRate.toLong, out)
    }
  }

  /** Documents-as-audio: a real WAV payload per document, generated
    * executor-side like [[imageTable]]. */
  def audioTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source")
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, src) => (id, AudioCodec.makeWav(id), src) }
      }
      .toDF("doc_id", "payload", "origin")
      .select($"doc_id", $"payload",
        struct(lit("audio/wav").as("mime"), $"origin").as("meta"))
  }

  /** Registered query: waveform statistics of actually-decoded samples —
    * duration, amplitude sums, energy (Σs²), peak, and zero crossings —
    * the standard audio-QA features (silence/clipping/level screens)
    * computed in exact integers. Oracle parity proves the WAV
    * encode→decode round-trip was sample-exact. */
  def audioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioTable(s, d)
      .select($"doc_id", $"payload", $"meta.mime".as("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mime) =>
          val (rate, samp) = AudioCodec.decodeSamples(payload)
          var sum = 0L; var sq = 0L; var peak = 0L; var zc = 0L
          var i = 0
          while (i < samp.length) {
            val v = samp(i).toLong
            sum += v
            sq += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i > 0 && (samp(i) >= 0) != (samp(i - 1) >= 0)) zc += 1
            i += 1
          }
          (id, mime, samp.length.toLong, rate, sum, sq, peak, zc)
        }
      }
      .toDF("doc_id", "mime", "n_samples", "sample_rate", "sum_samp",
        "sum_sq", "peak_abs", "n_zero_cross")
      .orderBy($"doc_id")
  }

  /** Real video-container stage: a deterministic length-prefixed frame
    * container per document (4-byte BE frame count, then per frame a
    * 4-byte BE length + a REAL PNG produced by [[ImageCodec]]'s
    * machinery), decoded with stride by SEEKING over the length
    * prefixes — only sampled frames are ever handed to the codec, the
    * skipped ones cost one length read each. That seek-don't-decode
    * shape is the whole point of keyframe sampling at 100 TB: a video
    * column's cost is the sampled frames, not the stored ones. */
  object VideoCodec {
    def frameCount(docId: Long): Int = (4 + docId % 5).toInt

    private def frameDims(docId: Long, f: Int): (Int, Int) =
      ((16 + ((docId + f) % 9)).toInt, (16 + ((docId + f) % 7)).toInt)

    /** One REAL PNG frame; pixel base = id·31 + f·997 + 7x + 13y with
      * the same {0,85,170} channel offsets as [[ImageCodec.makePng]]. */
    def makeFrame(docId: Long, f: Int): Array[Byte] = {
      val (w, h) = frameDims(docId, f)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // same raster-direct fill as ImageCodec.makePng — identical pixels
      val px = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = docId * 31L + f * 997L + x * 7L + y * 13L
          px(y * w + x) =
            (((base % 256L).toInt) << 16) |
              ((((base + 85L) % 256L).toInt) << 8) |
              ((base + 170L) % 256L).toInt
          x += 1
        }
        y += 1
      }
      ImageCodec.writePng(img)
    }

    def makeVideo(docId: Long): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      val n = frameCount(docId)
      out.writeInt(n)
      var f = 0
      while (f < n) {
        val png = makeFrame(docId, f)
        out.writeInt(png.length)
        out.write(png)
        f += 1
      }
      out.flush()
      bos.toByteArray
    }

    /** Strided decode: parse the header, SKIP unsampled frames via
      * their length prefix, ImageIO-decode only frames ≡ 0 mod
      * `stride`. */
    def decodeStrided(payload: Array[Byte], stride: Int)
        : Seq[(Int, java.awt.image.BufferedImage)] = {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(payload))
      val n = in.readInt()
      (0 until n).flatMap { f =>
        val len = in.readInt()
        if (f % stride == 0) {
          val buf = new Array[Byte](len)
          in.readFully(buf)
          Some(f -> ImageCodec.readPng(buf))
        } else {
          in.skipNBytes(len.toLong) // seek past, never decode
          None
        }
      }
    }
  }

  /** Documents-as-video: a real frame container per document. */
  def videoTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // per-row work is 4-8 PNG encodes — the most codec-bound build pass
    // in the module; spread the 2-column pre-codec rows (no-op at scale)
    Par.spread(Tables.documents(s, d)
      .select($"doc_id", $"source"), $"doc_id")
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, src) => (id, VideoCodec.makeVideo(id), src) }
      }
      .toDF("doc_id", "payload", "origin")
      .select($"doc_id", $"payload",
        struct(lit("video/x-graft-frames").as("mime"), $"origin").as("meta"))
  }

  /** Registered query: per SAMPLED frame (stride 2), dimensions and
    * channel sums from the actually-decoded pixels — the oracle
    * recomputes them from the frame formula, proving both the container
    * seek arithmetic and the per-frame PNG round-trip. */
  def videoFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoTable(s, d)
      .select($"doc_id", $"payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          VideoCodec.decodeStrided(payload, 2).map { case (f, img) =>
            val w = img.getWidth; val h = img.getHeight
            // bulk getRGB — identical packed values, one conversion pass
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            var rs = 0L; var gs = 0L; var bs = 0L
            var i = 0
            while (i < px.length) {
              val p = px(i)
              rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
              i += 1
            }
            (id, f.toLong, w.toLong, h.toLong, rs, gs, bs)
          }
        }
      }
      .toDF("doc_id", "frame", "width", "height", "r_sum", "g_sum", "b_sum")
      .orderBy($"doc_id", $"frame")
  }

  /** Documents-as-media: text bytes standing in for an image payload, with
    * a typed metadata struct alongside. */
  def mediaTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        $"doc_id",
        encode($"text", "UTF-8").as("payload"),
        struct(
          lit("image/fake").as("mime"),
          $"source".as("origin"),
          $"n_chars".as("content_hint")).as("meta"))
  }

  /** Documents-as-images: a real PNG payload per document (deterministic
    * fixture pixels, see [[ImageCodec.makePng]]), generated executor-side
    * in partition batches so no image bytes ever touch the driver. */
  def imageTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // PNG encode per row dominates the 2-column scan it sits over —
    // spread first so the codec stage uses every core (no-op at scale)
    Par.spread(Tables.documents(s, d)
      .select($"doc_id", $"source"), $"doc_id")
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, src) => (id, ImageCodec.makePng(id), src) }
      }
      .toDF("doc_id", "payload", "origin")
      .select($"doc_id", $"payload",
        struct(lit("image/png").as("mime"), $"origin").as("meta"))
  }

  /** The decode stage: partition-batched REAL `ImageIO` decode +
    * feature extraction over the binary column. */
  def decodeImageFeatures(s: SparkSession, d: String)
      : Dataset[ImageFeatures] = {
    import s.implicits._
    imageTable(s, d)
      .select($"doc_id", $"payload", $"meta.mime".as("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        // per-partition init happens here (codec handles, model weights…)
        java.awt.GraphicsEnvironment.isHeadless() // force AWT class init
        rows.map { case (id, payload, mime) =>
          ImageCodec.features(id, mime, ImageCodec.decode(payload))
        }
      }
  }

  /** Registered query: features of actually-decoded pixels. The oracle
    * recomputes every column from the pixel formula — a hash match
    * proves the PNG encode→decode round-trip was pixel-exact. */
  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decodeImageFeatures(s, d).toDF().orderBy($"doc_id")
  }

  /** Frame sampling over a "video" payload: fixed-width frames on a
    * stride (every other frame skipped), all inside codegen'd byte-slice
    * expressions — the payload is never exploded before sampling, so a
    * 100 GB video column only materializes the sampled frames. Frame
    * extraction itself is the STUB (real builds substitute a keyframe
    * decoder); the slicing/stride/summary plumbing is the real thing. */
  def frameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frameLen = 64
    val stride = 128
    Tables.documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .withColumn("frames",
        transform(
          // greatest(..,1): an empty payload still yields one (empty)
          // frame instead of sequence(1,0) throwing; the oracle mirrors
          // this with greatest((strlen-1)//128, 0)+1
          sequence(lit(1),
            greatest(octet_length($"payload").cast("int"), lit(1)),
            lit(stride)),
          p => $"payload".substr(p, lit(frameLen))))
      .select(
        $"doc_id",
        size($"frames").cast("long").as("n_frames"),
        md5(element_at($"frames", 1)).as("first_md5"),
        md5(element_at($"frames", -1)).as("last_md5"))
      .orderBy($"doc_id")
  }

  /** Resize stage: partition-batched like [[decodeImageFeatures]] — REAL
    * decode + nearest-neighbor resample — emitting fixed-shape RGB
    * thumbnails (binary) + dims. */
  def resizeThumbnails(s: SparkSession, d: String, w: Int = 8, h: Int = 8)
      : DataFrame = {
    import s.implicits._
    imageTable(s, d)
      .select($"doc_id", $"payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          (id, ImageCodec.resizeNearest(ImageCodec.decode(payload), w, h),
            w, h)
        }
      }
      .toDF("doc_id", "thumb", "width", "height")
  }

  /** Registered query over [[resizeThumbnails]]: per-thumbnail channel
    * sums — the oracle recomputes them from the fixture formula at the
    * nearest-neighbor sample positions, gating the real resample path. */
  def mediaResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    resizeThumbnails(s, d, 8, 8)
      .as[(Long, Array[Byte], Int, Int)]
      .map { case (id, thumb, w, h) =>
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < thumb.length) {
          rs += thumb(i) & 0xff
          gs += thumb(i + 1) & 0xff
          bs += thumb(i + 2) & 0xff
          i += 3
        }
        (id, w.toLong, h.toLong, rs, gs, bs)
      }
      .toDF("doc_id", "out_w", "out_h", "r_sum", "g_sum", "b_sum")
      .orderBy($"doc_id")
  }

  /** BINARY near-dup via content-defined chunking — the storage-dedup
    * approach applied to a media column: Gear/FastCDC chunk boundaries
    * depend only on LOCAL byte content, so an insertion or deletion
    * re-chunks a constant-size neighborhood and leaves every other
    * chunk hash intact — unlike any fixed-grid perceptual hash, which a
    * few shifted bytes scramble end to end (shift-robustness is why
    * dedup of byte streams chunks content-defined). Media sharing
    * ≥ `MinShared` chunk hashes are reported with their overlap as ppm
    * of the smaller chunk set. Works on ANY opaque payload — no codec
    * in the loop; the chunker is the same native
    * [[graft.functions.VectorExpressions.content_chunks]] kernel
    * (maskBits=5, ~32-byte chunks) the text CDC profile gates, so the
    * two surfaces cannot drift.
    *
    * Scale shape: chunking is one narrow codegen'd pass over the
    * payload column (bytes never shuffle — only 8-byte chunk hashes
    * explode); the pair stage is the inverted-index count join with
    * hot chunks (df > `DfCap`, container boilerplate) dropped before
    * the self-join, Σdf² not n². */
  def mediaChunkDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val MinShared = 3
    val DfCap = 64
    // consumed three times (df filter + both join sides): persist so
    // the payload column is chunked in ONE pass; at deployment the
    // chunk postings are a stored index next to the media table
    val ch = Scope.hold(mediaTable(s, d)
      .select($"doc_id", decode($"payload", "UTF-8").as("txt"))
      .select($"doc_id",
        graft.functions.VectorExpressions.content_chunks($"txt", 5)
          .as("cs"))
      .select($"doc_id", size($"cs").cast("long").as("n_chunks"),
        explode($"cs").as("chunk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val keep = ch.groupBy($"chunk").agg(count(lit(1)).as("df"))
      .where($"df" <= DfCap)
      .select($"chunk")
    val cf = ch.join(keep, Seq("chunk"))
    cf.select($"chunk", $"doc_id".as("id_a"), $"n_chunks".as("nc_a"))
      .join(cf.select($"chunk", $"doc_id".as("id_b"), $"n_chunks".as("nc_b")),
        Seq("chunk"))
      .where($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_shared"),
        min($"nc_a").as("nc_a"), min($"nc_b").as("nc_b"))
      .where($"n_shared" >= MinShared)
      .select($"id_a", $"id_b", $"n_shared",
        expr("n_shared * 1000000 div least(nc_a, nc_b)").as("overlap_ppm"))
      .orderBy($"id_a", $"id_b")
  }

  /** Rollup a real pipeline would emit: per-origin media volume. */
  def mediaStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .select($"doc_id", $"meta.origin".as("origin"),
        length($"payload").cast("long").as("n_bytes"))
      .groupBy($"origin")
      .agg(count(lit(1)).as("n_media"), sum($"n_bytes").as("total_bytes"),
        max($"n_bytes").as("max_bytes"))
      .orderBy($"origin")
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef(
      // chunk hashes via graft.ops.HashOracleSql.chunksCte (the same
      // Gear walk, bit-exact); per-media chunk-set sizes from that CTE
      "q_media_chunk_dedup", mediaChunkDedup, Some(s"""
        ${graft.ops.HashOracleSql.chunksCte},
        cw AS (
          SELECT doc_id,
                 CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
                   AS n_chunks,
                 chunk
          FROM chunks),
        k AS (SELECT chunk FROM cw GROUP BY chunk
              HAVING count(*) <= 64),
        cf AS (SELECT cw.* FROM cw JOIN k USING (chunk))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared,
               count(*) * 1000000 // least(min(a.n_chunks), min(b.n_chunks))
                 AS overlap_ppm
        FROM cf a JOIN cf b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 3
        ORDER BY id_a, id_b""")),
    QueryDef(
      // the oracle recomputes width/height/channel sums/aHash from the
      // fixture pixel formula (ImageCodec.makePng's scaladoc) — it never
      // sees the PNG bytes, so agreement proves the ImageIO decode
      // reproduced every generated pixel. Grid join bounds: w<=32, h<=28.
      "q_media_features", mediaFeatures, Some("""
        WITH dims AS (
          SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
          FROM documents),
        px AS (
          SELECT d.doc_id, d.w, d.h,
                 (d.doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS r,
                 (d.doc_id * 31 + x.x * 7 + y.y * 13 + 85) % 256 AS g,
                 (d.doc_id * 31 + x.x * 7 + y.y * 13 + 170) % 256 AS b
          FROM dims d
          JOIN generate_series(0, 31) x(x) ON x.x < d.w
          JOIN generate_series(0, 27) y(y) ON y.y < d.h),
        tot AS (
          SELECT doc_id, CAST(min(w) AS BIGINT) AS width,
                 CAST(min(h) AS BIGINT) AS height,
                 CAST(count(*) AS BIGINT) AS n_pixels,
                 CAST(sum(r) AS BIGINT) AS r_sum,
                 CAST(sum(g) AS BIGINT) AS g_sum,
                 CAST(sum(b) AS BIGINT) AS b_sum
          FROM px GROUP BY doc_id),
        samp AS (
          SELECT d.doc_id, ty.ty * 8 + tx.tx AS idx,
                 ((d.doc_id * 31 + (tx.tx * d.w // 8) * 7
                    + (ty.ty * d.h // 8) * 13) % 256
                  + (d.doc_id * 31 + (tx.tx * d.w // 8) * 7
                    + (ty.ty * d.h // 8) * 13 + 85) % 256
                  + (d.doc_id * 31 + (tx.tx * d.w // 8) * 7
                    + (ty.ty * d.h // 8) * 13 + 170) % 256) // 3 AS gray
          FROM dims d, generate_series(0, 7) tx(tx),
               generate_series(0, 7) ty(ty)),
        mh AS (
          SELECT s.doc_id,
                 sum(CASE WHEN s.gray > m.mean
                          THEN CAST(1 AS HUGEINT) << s.idx
                          ELSE CAST(0 AS HUGEINT) END) AS hraw
          FROM samp s
          JOIN (SELECT doc_id, sum(gray) // 64 AS mean
                FROM samp GROUP BY doc_id) m USING (doc_id)
          GROUP BY s.doc_id)
        SELECT t.doc_id, 'image/png' AS mime, t.width, t.height,
               t.n_pixels, t.r_sum, t.g_sum, t.b_sum,
               CAST(CASE WHEN mh.hraw >= CAST(1 AS HUGEINT) << 63
                         THEN mh.hraw - (CAST(1 AS HUGEINT) << 64)
                         ELSE mh.hraw END AS BIGINT) AS ahash
        FROM tot t JOIN mh USING (doc_id) ORDER BY doc_id""")),
    QueryDef(
      // sampled frames (stride 2) of the frame container: dims + channel
      // sums from the per-frame pixel formula. Frame dims <= 24x22.
      "q_video_frames", videoFrames, Some("""
        WITH fr AS (
          SELECT d.doc_id, f.f,
                 16 + ((d.doc_id + f.f) % 9) AS w,
                 16 + ((d.doc_id + f.f) % 7) AS h
          FROM documents d
          JOIN generate_series(0, 8) f(f)
            ON f.f < 4 + d.doc_id % 5 AND f.f % 2 = 0),
        px AS (
          SELECT fr.doc_id, fr.f, fr.w, fr.h,
                 (fr.doc_id * 31 + fr.f * 997 + x.x * 7 + y.y * 13) % 256
                   AS r,
                 (fr.doc_id * 31 + fr.f * 997 + x.x * 7 + y.y * 13 + 85)
                   % 256 AS g,
                 (fr.doc_id * 31 + fr.f * 997 + x.x * 7 + y.y * 13 + 170)
                   % 256 AS b
          FROM fr
          JOIN generate_series(0, 23) x(x) ON x.x < fr.w
          JOIN generate_series(0, 21) y(y) ON y.y < fr.h)
        SELECT doc_id, CAST(f AS BIGINT) AS frame,
               CAST(min(w) AS BIGINT) AS width,
               CAST(min(h) AS BIGINT) AS height,
               CAST(sum(r) AS BIGINT) AS r_sum,
               CAST(sum(g) AS BIGINT) AS g_sum,
               CAST(sum(b) AS BIGINT) AS b_sum
        FROM px GROUP BY doc_id, f ORDER BY doc_id, frame""")),
    QueryDef(
      // waveform stats recomputed from the sample formula; the zero-cross
      // term compares each sample's sign against the formula at i-1
      "q_audio_features", audioFeatures, Some("""
        WITH d AS (
          SELECT doc_id, 800 + doc_id % 321 AS n FROM documents),
        s AS (
          SELECT d.doc_id, d.n, i.i,
                 ((d.doc_id * 7 + i.i * 11) % 65536) - 32768 AS samp,
                 CASE WHEN i.i > 0 THEN
                   ((d.doc_id * 7 + (i.i - 1) * 11) % 65536) - 32768
                 END AS prev
          FROM d JOIN generate_series(0, 1120) i(i) ON i.i < d.n)
        SELECT doc_id, 'audio/wav' AS mime,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(sum(samp) AS BIGINT) AS sum_samp,
               CAST(sum(samp * samp) AS BIGINT) AS sum_sq,
               CAST(max(abs(samp)) AS BIGINT) AS peak_abs,
               CAST(sum(CASE WHEN prev IS NOT NULL
                             AND (samp >= 0) <> (prev >= 0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
        FROM s GROUP BY doc_id ORDER BY doc_id""")),
    QueryDef(
      // thumbnail channel sums from the fixture formula at the 8x8
      // nearest-neighbor sample positions — gates the decode+resample
      "q_media_resize", mediaResize, Some("""
        WITH dims AS (
          SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
          FROM documents),
        samp AS (
          SELECT d.doc_id,
                 (d.doc_id * 31 + (tx.tx * d.w // 8) * 7
                   + (ty.ty * d.h // 8) * 13) % 256 AS r,
                 (d.doc_id * 31 + (tx.tx * d.w // 8) * 7
                   + (ty.ty * d.h // 8) * 13 + 85) % 256 AS g,
                 (d.doc_id * 31 + (tx.tx * d.w // 8) * 7
                   + (ty.ty * d.h // 8) * 13 + 170) % 256 AS b
          FROM dims d, generate_series(0, 7) tx(tx),
               generate_series(0, 7) ty(ty))
        SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
               CAST(sum(r) AS BIGINT) AS r_sum,
               CAST(sum(g) AS BIGINT) AS g_sum,
               CAST(sum(b) AS BIGINT) AS b_sum
        FROM samp GROUP BY doc_id ORDER BY doc_id""")),
    QueryDef(
      // Oracle parity note: the Spark side slices BYTES of the UTF-8
      // payload while DuckDB substr/strlen count CHARACTERS — identical
      // only because the driver corpus is ASCII-only (verified:
      // octet_length(encode(text)) = strlen(text) on every row; see
      // graft.ops.HashOracleSql). A non-ASCII corpus would need
      // blob-based slicing on the oracle side.
      "q_frame_sample", frameSample, Some("""
        SELECT doc_id,
               CAST(greatest((strlen(text) - 1) // 128, 0) + 1 AS BIGINT)
                 AS n_frames,
               md5(substr(text, 1, 64)) AS first_md5,
               md5(substr(text, greatest((strlen(text) - 1) // 128, 0) * 128 + 1,
                   64)) AS last_md5
        FROM documents ORDER BY doc_id""")),
    QueryDef(
      "q_media_stats", mediaStats, Some("""
        SELECT source AS origin,
               count(*) AS n_media,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(max(strlen(text)) AS BIGINT) AS max_bytes
        FROM documents GROUP BY source ORDER BY origin"""))
  )
}
