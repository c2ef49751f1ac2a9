package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column surface (SURVEY.md §2.B9): media payloads travel as
  * opaque `binary` columns with typed metadata; decode / feature-extraction
  * runs batched per partition. IMAGE decode and resize are REAL — the JDK's
  * built-in javax.imageio readers (PNG/BMP/GIF/JPEG) decode actual pixels
  * and Graphics2D rescales them — and AUDIO decode/framing is REAL too:
  * javax.sound.sampled parses WAV/PCM payloads into samples, framed into
  * fixed windows with per-frame RMS energy. Both are asserted against
  * handcrafted fixtures (known pixels / known PCM samples) in
  * MultimodalSpec. VIDEO is the one modality with no JDK codec: video
  * payloads ride the same opaque-binary plumbing and take the
  * byte-histogram fallback; a real frame extractor would plug into
  * [[extractFeatures]] exactly where the WAV decode does.
  *
  * Scale design: payload bytes never shuffle — features are extracted
  * map-side and only the (id, features) projection moves. Joins against
  * per-doc metadata go through doc_id, with the metadata side broadcast.
  *
  * Reference provenance: /root/reference is an empty checkout (SURVEY.md §0).
  */
object Multimodal {

  /** One multimodal record: payload + typed metadata. In production `payload`
    * holds encoded image/audio bytes; here it is the UTF-8 text payload so
    * the pipeline shape is exercised end-to-end on real data.
    */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte],
                         width: Int, height: Int)

  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
                           checksum: String, feat_mean: Double)

  /** documents ⋈ embeddings on doc_id = vec_id (row-aligned, TESTDATA):
    * one multimodal row = text metadata + 64-d embedding, plus the vector
    * norm computed in-line. The embedding side is the narrow one and
    * broadcasts under AQE at small sf; at scale both sides hash-join on the
    * shared id with no extra exchange if co-bucketed.
    */
  def multimodalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        // r17: dot(v, v) — the codegen kernel's ascending-index fold is the
        // same op order the interpreted aggregate HOF ran (s += x·x)
        graft.functions.VectorFunctions.dot(
          col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("nn"))
    d.join(e, d("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"), col("n_chars"),
        round(sqrt(col("nn")), 6).as("vnorm"))
      .orderBy("doc_id")
  }

  /** Per-language embedding centroids — the class-prototype computation a
    * training pipeline runs for clustering seeds, language balance probes,
    * or nearest-centroid classification. Output is one (lang, dim, centroid)
    * row per language × dimension.
    *
    * Scale shape: `posexplode` widens each doc to 64 (lang, dim, value)
    * rows, but partial aggregation collapses them MAP-SIDE to at most
    * langs×64 partial sums per task before the exchange — shuffle volume is
    * tasks × langs × 64 tiny rows, independent of corpus size. Elements are
    * cast to DECIMAL(18,6) before summing so the per-dimension sums are
    * exact and order-independent (bitwise engine-portable, the dsum
    * discipline).
    *
    * Trained per-language centroid matrix — (lang, dim → unrounded mean),
    * langs × 64 doubles of bounded driver state per (session, sf). The
    * trained artifact of the train→classify loop, memoized on the
    * [[graft.operators.Similarity]] centroidMemo contract (r17): every
    * consumer in a session — the centroid readout AND the classifier —
    * shares ONE training pass instead of re-running the corpus aggregate
    * per invocation. The aggregate's per-dimension sums are exact
    * DECIMAL(18,6) (order-independent) and the round-6 runs IN-PLAN at
    * train time, so the memoized doubles are the bit-identical `centroid`
    * values the r16 per-invocation aggregate produced.
    */
  private val langCentroidMemo = new SessionMemo[String, Seq[(String, Long, Double)]]

  private[operators] def trainedLangCentroids(spark: SparkSession,
                                              sfDir: String): Seq[(String, Long, Double)] = {
    langCentroidMemo.memo(spark, sfDir) {
      val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      d.join(e, col("doc_id") === col("vec_id"))
        .select(col("lang"), posexplode(col("embedding")).as(Seq("dim", "ev")))
        .groupBy("lang", "dim")
        .agg((sum(col("ev").cast("double").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("c"))
        .select(col("lang"), col("dim").cast("long").as("dim"),
          round(col("c"), 6).as("centroid"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    }
  }

  def langCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    trainedLangCentroids(spark, sfDir).toDF("lang", "dim", "centroid")
      .orderBy("lang", "dim")
  }

  /** Nearest-centroid classification over the language centroids — the
    * classify half of the train→classify loop ([[langCentroids]] is the
    * train half). Every embedding scores against all centroids by cosine
    * and takes the argmax (struct-max with the language as tie-break, so
    * the choice is deterministic and engine-portable); output is the
    * (true lang, predicted lang, count) confusion matrix.
    *
    * Scale shape: the centroid table is langs × 64 doubles — broadcast by
    * construction — so scoring is a map-side nested loop over a
    * FIXED-SIZE side (langs rows), never a corpus×corpus product; the
    * confusion matrix aggregates map-side to ≤ langs² rows per task. The
    * dot products run in the codegen'd DotProduct kernel.
    *
    * r17: the centroid side is UNROLLED into the scoring projection from
    * the memoized rounded centroids (langs × 64 values — exactly the
    * langCentroids output rows): pred_lang is `greatest` over one
    * struct(cos, c_lang) per centroid, computed MAP-SIDE per vector — no
    * cross join, no per-vector argmax aggregate (the r16 max(struct)
    * planned a two-phase SortAggregate over |vecs| × langs rows). greatest
    * uses the same struct ordering max(struct) did (cos first, c_lang as
    * the tie-break), and cos = dot / (nev · ncv) with nev = sqrt(dot)
    * in-plan and ncv the driver-side mirror of the kernel's
    * ascending-index fold — identical IEEE op order throughout. The
    * float→double widening is the native array cast (codegen) —
    * element-identical to the `transform(..., cast)` HOF it replaces.
    */
  def centroidClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val cents = trainedLangCentroids(spark, sfDir)
      .groupBy(_._1).toSeq
      .map { case (l, rows) => (l, rows.sortBy(_._2).map(_._3).toArray) }
      .sortBy(_._1)
    // driver-side mirror of DotProduct's ascending-index fold
    def sqnorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }
    val scored = cents.map { case (l, cv) =>
      struct((dot(col("ev"), typedlit(cv.toSeq))
        / (col("nev") * lit(math.sqrt(sqnorm(cv))))).as("cos"),
        lit(l).as("c_lang"))
    }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ev"))
      .select(col("vec_id"), col("ev"), sqrt(dot(col("ev"), col("ev"))).as("nev"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .select(col("lang"), best.getField("c_lang").as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Binary-column metadata: encode text → bytes, measure and checksum the
    * payload without ever decoding it — the cheap pre-filter pass a media
    * pipeline runs before expensive decode.
    */
  def binaryMeta(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"), col("text"))
      .select(col("doc_id"),
        octet_length(col("bin")).cast("long").as("n_bytes"),
        md5(col("text")).as("checksum"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"))
      .orderBy("doc_id")

  /** REAL image decode via the JDK's built-in ImageIO readers (PNG, BMP,
    * GIF, JPEG — no external library). Returns (width, height, mean
    * luminance) where luminance is (r+g+b)/3 per pixel, or None when the
    * payload is not a decodable image. Deterministic: pixel order is
    * row-major and the sum is integer until the final division.
    */
  /** First-byte screen (r17, guide §4 — hot-path closure cost): every
    * reader the JDK registers with ImageIO demands one of these leading
    * bytes (JPEG FF, PNG 89, GIF 'G', BMP 'B', TIFF 'I'/'M', WBMP 00), so
    * a payload starting with anything else cannot be claimed by any
    * reader — ImageIO.read would probe the whole registry and return
    * null. Skipping the probe for such payloads is behavior-identical
    * and removes an ImageInputStream + SPI sweep per corpus row. */
  private def maybeImage(p: Array[Byte]): Boolean =
    p.length >= 2 && ((p(0) & 0xff) match {
      case 0xff | 0x89 | 0x00 => true
      case 0x47 | 0x42 | 0x49 | 0x4d => true // 'G' 'B' 'I' 'M'
      case _ => false
    })

  /** Same screen for the JDK's audio readers: WAV "RIFF", AIFF "FORM",
    * AU ".snd" — any other leading bytes make AudioSystem throw
    * UnsupportedAudioFileException after probing every provider. */
  private def maybeAudio(p: Array[Byte]): Boolean =
    p.length >= 4 && ((p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F') ||
      (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M') ||
      (p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd'))

  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Double)] = {
    if (!maybeImage(payload)) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      Some((w, h, sum.toDouble / (3.0 * w * h)))
    }
  }

  /** Fallback feature for non-image payloads (e.g. this testdata's UTF-8
    * text): deterministic byte-histogram mean — keeps the pipeline total so
    * a mixed-modality table never throws.
    */
  def byteMean(payload: Array[Byte]): Double =
    if (payload.isEmpty) 0.0
    else {
      // while-loop sum in array order — IEEE-identical to the previous
      // map(_.toDouble).sum fold, without the boxed intermediate array
      var s = 0.0
      var i = 0
      while (i < payload.length) { s += payload(i).toDouble; i += 1 }
      s / payload.length
    }

  /** REAL image resize via the JDK's Graphics2D bilinear scaler + ImageIO
    * re-encode (PNG — lossless, so the spec can decode the result and
    * assert pixels). Pixel-space scaling, not byte striding. None when the
    * payload is not a decodable image.
    */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    if (!maybeImage(payload)) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || w <= 0 || h <= 0) None
    else {
      val dst = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", bos)
      Some(bos.toByteArray)
    }
  }

  /** REAL WAV/PCM decode via the JDK's built-in javax.sound.sampled (no
    * external codec): parses the RIFF/WAV header, decodes 8- or 16-bit PCM
    * (signed/unsigned, either endianness), averages channels to mono, and
    * normalizes to [-1, 1). None when the payload is not decodable WAV or
    * uses an encoding outside plain PCM. Deterministic: samples come back
    * in stream order, and the per-sample arithmetic is exact integer
    * scaling by a power of two.
    */
  def decodeWavSamples(payload: Array[Byte]): Option[Array[Double]] =
    if (!maybeAudio(payload)) None
    else try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val signed = enc == AudioFormat.Encoding.PCM_SIGNED
      val bits = fmt.getSampleSizeInBits
      val ch = fmt.getChannels
      if (!(signed || enc == AudioFormat.Encoding.PCM_UNSIGNED) ||
          (bits != 8 && bits != 16) || ch < 1) None
      else {
        val bytes = ais.readAllBytes()
        val bps = bits / 8
        val frameBytes = bps * ch
        val n = bytes.length / frameBytes
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          var acc = 0.0
          var c = 0
          while (c < ch) {
            val off = i * frameBytes + c * bps
            val v =
              if (bits == 8) {
                if (signed) bytes(off).toDouble / 128.0
                else ((bytes(off) & 0xff) - 128).toDouble / 128.0
              } else {
                val b0 = bytes(if (fmt.isBigEndian) off + 1 else off) & 0xff
                val b1 = bytes(if (fmt.isBigEndian) off else off + 1) & 0xff
                val raw = (b1 << 8) | b0
                val s = if (signed) raw.toShort.toInt else raw - 32768
                s.toDouble / 32768.0
              }
            acc += v
            c += 1
          }
          out(i) = acc / ch
          i += 1
        }
        Some(out)
      }
    } catch { case _: Exception => None }

  /** Audio framing geometry: [[AudioFrameLen]]-sample windows, keep every
    * [[AudioFrameEvery]]-th — the standard frame-subsampling an audio
    * feature pipeline runs before the expensive per-frame model. */
  val AudioFrameLen = 256
  val AudioFrameEvery = 2

  /** REAL audio framing over decoded PCM: consecutive fixed-length sample
    * windows in stream order, every k-th kept, per-frame RMS energy — the
    * canonical frame-level audio feature. A short trailing frame keeps its
    * true length (RMS divides by the actual sample count).
    */
  def audioFrameRms(samples: Array[Double], frameLen: Int, everyK: Int): Seq[Double] =
    samples.grouped(math.max(frameLen, 1)).zipWithIndex
      .collect { case (f, i) if i % math.max(everyK, 1) == 0 =>
        math.sqrt(f.map(s => s * s).sum / f.length)
      }
      .toSeq

  /** Partition-batched feature extraction over a typed Dataset: checksum →
    * decode (REAL ImageIO pixels for image payloads; REAL WAV/PCM frame
    * RMS for audio payloads; byte-histogram fallback for everything else,
    * video included — no JDK video codec) per record inside mapPartitions
    * (amortizing per-batch codec setup), and only the narrow feature row
    * survives — payload bytes never shuffle.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec setup (once per batch): ImageIO's reader
      // registry is touched here, and the digest instance is reused
      javax.imageio.ImageIO.setUseCache(false) // no temp files on executors
      val digest = java.security.MessageDigest.getInstance("MD5")
      val hexChars = "0123456789abcdef".toCharArray
      def hex(bytes: Array[Byte]): String = {
        // table-driven hex render (r17): "%02x".format per byte cost a
        // java.util.Formatter instance per digest byte on the hot path
        val out = new Array[Char](bytes.length * 2)
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          out(i * 2) = hexChars(b >>> 4)
          out(i * 2 + 1) = hexChars(b & 0xf)
          i += 1
        }
        new String(out)
      }
      it.map { r =>
        digest.reset()
        val sum = hex(digest.digest(r.payload))
        val mean = decodeImage(r.payload) match {
          case Some((_, _, lum)) => lum
          case None => decodeWavSamples(r.payload) match {
            case Some(samples) =>
              val frames = audioFrameRms(samples, AudioFrameLen, AudioFrameEvery)
              if (frames.isEmpty) 0.0 else frames.sum / frames.length
            case None => byteMean(r.payload)
          }
        }
        MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, sum, mean)
      }
    }
  }

  // ---- deterministic decode fixtures (r9: the q_media_features oracle) ----

  /** Deterministic gradient fixture image (pixel (x,y): r=(x*16+y)&255,
    * g=(y*16+x)&255, b=7), PNG-encoded by the JDK's own lossless writer —
    * reproducible bytes, exactly recomputable expected luminance. */
  private[graft] def fixtureImagePayload(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 16 + y) & 0xff
      val g = (y * 16 + x) & 0xff
      img.setRGB(x, y, (r << 16) | (g << 8) | 7)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Independently computed expected mean luminance of the gradient
    * fixture — same integer-sum/(3wh) arithmetic the decoder uses, fed
    * from the DEFINITION of the gradient rather than decoded pixels. */
  private[graft] def fixtureImageMean(w: Int, h: Int): Double = {
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w)
      sum += ((x * 16 + y) & 0xff) + ((y * 16 + x) & 0xff) + 7
    sum.toDouble / (3.0 * w * h)
  }

  /** Solid-color fixture (every pixel the same RGB): bilinear resampling
    * of a constant field is constant on ANY correct implementation, so a
    * resize of this image must decode to the same per-pixel luminance —
    * the one resize postcondition that is exact by mathematics rather
    * than by blessing a particular interpolator's kernel. */
  private[graft] def solidImagePayload(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 16-bit PCM mono WAV fixture, [[FixtureWavSamples]]
    * samples of `s(i) = ((i % 17) - 8) * 1024`, written by the JDK's own
    * WAV encoder. 600 samples → frames of 256/256/88, every 2nd kept. */
  val FixtureWavSamples = 600
  private[graft] def fixtureWavSample(i: Int): Short = (((i % 17) - 8) * 1024).toShort
  private[graft] def fixtureWavPayload(): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val samples = Array.tabulate(FixtureWavSamples)(fixtureWavSample)
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
      fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Expected frame-RMS mean of the WAV fixture, recomputed from the
    * SAMPLE DEFINITION (never from the decoder): v_i = s_i/32768,
    * RMS per [[AudioFrameLen]] frame, every [[AudioFrameEvery]]-th kept. */
  private[graft] def fixtureWavExpected(): Double = {
    val v = Array.tabulate(FixtureWavSamples)(i => fixtureWavSample(i).toDouble / 32768.0)
    val frames = audioFrameRms(v, AudioFrameLen, AudioFrameEvery)
    frames.sum / frames.length
  }

  /** One-row verdict frame, decoded IN-PLAN (the fixtures travel through
    * a 3-row Dataset into the same decode kernels the operator uses):
    * gradient-PNG luminance against its definition, WAV frame-RMS mean
    * against its definition, and a solid-color resize postcondition. The
    * groupless aggregate makes the row a scalar — the broadcast-safe
    * shape PlanHygieneSpec allows.
    */
  private def fixtureVerdicts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val expImg = fixtureImageMean(8, 6)
    val expWav = fixtureWavExpected()
    val solidLum = (200.0 + 120.0 + 40.0) / 3.0
    val rows = Seq(
      ("img", fixtureImagePayload(8, 6)),
      ("wav", fixtureWavPayload()),
      ("resize", solidImagePayload(2, 2, (200 << 16) | (120 << 8) | 40))).toDS()
    val verd = rows.map { case (kind, payload) =>
      val ok = kind match {
        case "img" => decodeImage(payload).exists { case (w, h, m) =>
          w == 8 && h == 6 && math.abs(m - expImg) < 1e-12 }
        case "wav" => decodeWavSamples(payload).exists { s =>
          val f = audioFrameRms(s, AudioFrameLen, AudioFrameEvery)
          f.nonEmpty && math.abs(f.sum / f.length - expWav) < 1e-12 }
        case _ => resizeImage(payload, 4, 4).flatMap(decodeImage).exists {
          case (w, h, m) => w == 4 && h == 4 && math.abs(m - solidLum) < 1e-12 }
      }
      (kind, ok)
    }.toDF("kind", "ok")
    verd.agg(
      min(when(col("kind") === "img", col("ok"))).as("img_decode_ok"),
      min(when(col("kind") === "resize", col("ok"))).as("img_resize_ok"),
      min(when(col("kind") === "wav", col("ok"))).as("wav_rms_ok"))
  }

  /** End-to-end media pipeline over the documents table: text → binary
    * payload → typed MediaRecord → partition-batched feature extraction
    * (text payloads take the byte-histogram fallback; real PNG pixel
    * decode, solid-color resize and real WAV/PCM frame RMS run in-plan on
    * handcrafted fixtures whose expected features are recomputed from the
    * fixture DEFINITIONS). FULL oracle since r9 (VERDICT r8 ask #4, the
    * HLL bracket pattern): the text-payload feature columns are exact SQL
    * (byte mean over ASCII text, octet length, md5) the DuckDB twin
    * recomputes, and the three decode verdict booleans are pinned TRUE —
    * a decoder regression flips a verdict and fails the hash gate.
    */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lit("text/plain").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRecord]
    extractFeatures(media)
      .toDF()
      .crossJoin(broadcast(fixtureVerdicts(spark)))
      .select(col("doc_id"), col("media_type"), col("n_bytes"), col("checksum"),
        round(col("feat_mean"), 6).as("feat_mean"),
        col("img_decode_ok"), col("img_resize_ok"), col("wav_rms_ok"))
      .orderBy("doc_id")
  }
}
