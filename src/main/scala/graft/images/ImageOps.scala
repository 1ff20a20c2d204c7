package graft.images

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Image operators I1–I4 (reference `transformations/` modules) over opaque
  * `binary` columns — the multimodal-column model: payload as BinaryType,
  * typed metadata (width/height/format/ok) alongside, paths only at the
  * edges.
  *
  * Decode/encode is real: JDK ImageIO for PNG/JPEG/GIF/BMP, and a
  * from-scratch VP8L bitstream writer ([[WebpCodec]]) for WebP — the JDK
  * ships no WebP codec and the build has no external deps, so the
  * lossless spec is implemented directly (round-trip tested through
  * [[WebpCodec.decode]]).
  *
  * Scale design: each transform is a scalar UDF over the binary column —
  * map-only, image-parallel across partitions; the chain folds into a
  * single task pass (mirrors the reference's per-image
  * try/except chain, `utils.py:134-145`).
  */
object ImageOps {

  private[images] def decode(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  private def encode(img: BufferedImage, fmt: String): Option[Array[Byte]] =
    try {
      val bos = new ByteArrayOutputStream()
      if (ImageIO.write(img, fmt, bos) && bos.size() > 0) Some(bos.toByteArray)
      else None
    } catch { case _: Exception => None }

  /** I1: thumbnail resize to fit maxW×maxH, preserving aspect ratio
    * (reference `resize_transformation.py:6-16`, PIL `thumbnail`). */
  def resizeBytes(bytes: Array[Byte], maxW: Int, maxH: Int,
                  fmt: String = "png"): Option[Array[Byte]] =
    decode(bytes).flatMap { img =>
      val scale = math.min(
        math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight),
        1.0)
      val (w, h) = (math.max(1, (img.getWidth * scale).toInt),
        math.max(1, (img.getHeight * scale).toInt))
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      encode(out, fmt)
    }

  /** I2: JPEG re-encode at a quality factor (reference
    * `compression_transformation.py:8-16`, optimize+DPI → nearest JVM
    * equivalent: explicit quality). */
  def compressBytes(bytes: Array[Byte],
                    quality: Float = 0.8f): Option[Array[Byte]] =
    decode(bytes).flatMap { img =>
      try {
        val rgb = new BufferedImage(img.getWidth, img.getHeight,
          BufferedImage.TYPE_INT_RGB)
        val g = rgb.createGraphics(); g.drawImage(img, 0, 0, null); g.dispose()
        val writer = ImageIO.getImageWritersByFormatName("jpg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(quality)
        val bos = new ByteArrayOutputStream()
        val ios = new MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(null, new IIOImage(rgb, null, null), params)
        writer.dispose(); ios.close()
        if (bos.size() > 0) Some(bos.toByteArray) else None
      } catch { case _: Exception => None }
    }

  /** I3: WebP re-encode — matches the reference's format semantics on
    * BOTH settings of the knob (reference `webp_transformation.py:7-24`,
    * PIL `save(lossless=…, quality=…, method=…)`).
    *
    * `lossless=true` (the reference's default): a real, spec-valid
    * VP8L lossless bitstream ([[WebpCodec]]) — round-trips pixels
    * exactly. `lossless=false`: the REAL VP8 lossy keyframe encoder
    * ([[webpEncodeLossy]]) — exactly what PIL/libwebp emits for
    * `lossless=False`, alpha preserved via an ALPH chunk. (Until the
    * full VP8 entropy layer existed this defaulted to a
    * channel-quantization stand-in; that stand-in remains available
    * as [[webpEncodeQuantized]] / chain param `mode=quantize` for its
    * pointwise error bounds, but the DEFAULT now matches the
    * reference's actual output format.) A third tier,
    * [[webpEncodeDct]] (chain param `mode=vp8dct`), keeps the RFC
    * 6386 DCT+quantization inside a lossless container. `method` (an
    * encoder effort knob in libwebp) has no analogue here and is
    * ignored. */
  def webpEncode(bytes: Array[Byte], lossless: Boolean = true,
                 quality: Int = 50): Option[Array[Byte]] =
    if (lossless) decode(bytes).flatMap(WebpCodec.encodeLossless)
    else webpEncodeLossy(bytes, quality)

  /** The r5-era lossy STAND-IN (chain param `mode=quantize`): map the
    * quality knob onto a deterministic channel quantization (keep the
    * top 8−shift bits, shift = (100−quality)/20, capped at 5) before
    * a VP8L lossless encode. Kept for its exact pointwise error
    * bounds — error < 2^shift per channel, monotone in quality,
    * q ≥ 81 bit-identical to the lossless path (PropertySpec pins all
    * three) — properties the real DCT path cannot promise pointwise.
    * No longer the `lossless=false` default ([[webpEncode]] now
    * routes to the real VP8 encoder). */
  def webpEncodeQuantized(bytes: Array[Byte],
                          quality: Int = 50): Option[Array[Byte]] =
    decode(bytes).flatMap { img =>
      val shift = math.min(5, math.max(0, (100 - quality) / 20))
      val mask = (0xff << shift) & 0xff
      val q = new BufferedImage(img.getWidth, img.getHeight,
        BufferedImage.TYPE_INT_ARGB)
      val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0,
        img.getWidth)
      var i = 0
      while (i < px.length) {
        val p = px(i)
        px(i) = (p & 0xff000000) | (((p >>> 16) & mask) << 16) |
          (((p >>> 8) & mask) << 8) | (p & mask)
        i += 1
      }
      q.setRGB(0, 0, img.getWidth, img.getHeight, px, 0, img.getWidth)
      WebpCodec.encodeLossless(q)
    }

  /** I3, VP8-TRANSFORM lossy mode: the REAL RFC 6386 DCT layer
    * ([[Vp8Transform]]) instead of the channel-quantization stand-in —
    * per 4×4 block and channel: residual → integer forward transform →
    * DC/AC quantization → dequantize → inverse transform (the exact
    * fixed-point pair, roundtrip ±1 property-tested), then the VP8L
    * container. Alpha passes through untouched (real lossy WebP stores
    * alpha as a separate lossless chunk). Quality maps linearly onto
    * the DC/AC quantizer steps (VP8's 4..157 / 4..284 ranges). Kept as
    * the transform-only tier; the FULL entropy layer now exists —
    * [[webpEncodeLossy]] emits the real VP8 bitstream. */
  def webpEncodeDct(bytes: Array[Byte], quality: Int = 50)
      : Option[Array[Byte]] =
    decode(bytes).flatMap { img =>
      val q = math.min(100, math.max(0, quality))
      val qdc = 4 + (100 - q) * 153 / 100  // 4..157, the VP8 DC range
      val qac = 4 + (100 - q) * 280 / 100  // 4..284, the VP8 AC range
      val (w, h) = (img.getWidth, img.getHeight)
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Int](px.length)
      val plane = new Array[Int](px.length)
      var shift = 16
      var i = 0
      while (i < px.length) { out(i) = px(i) & 0xff000000; i += 1 }
      while (shift >= 0) {
        i = 0
        while (i < px.length) {
          plane(i) = (px(i) >>> shift) & 0xff; i += 1
        }
        val rec = Vp8Transform.quantizePlane(plane, w, h, qdc, qac)
        i = 0
        while (i < px.length) { out(i) |= rec(i) << shift; i += 1 }
        shift -= 8
      }
      val res = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
      res.setRGB(0, 0, w, h, out, 0, w)
      WebpCodec.encodeLossless(res)
    }

  /** I3, REAL lossy WebP: the full RFC 6386 VP8 keyframe pipeline —
    * [[Vp8Encoder]] (DC_PRED macroblocks, Y2 Walsh–Hadamard, DCT
    * residuals, token-tree entropy coding with the normative tables)
    * in a RIFF container that ANY conforming WebP decoder reads;
    * libwebp reproduces the encoder's own reconstruction pixel-exactly
    * (Vp8GoldenSpec, Vp8ConformanceSpec). Quality 0..100 maps linearly
    * onto the frame quantizer index (qindex 127..0). Alpha: an image
    * with any non-opaque pixel emits the EXTENDED container — lossy
    * VP8 color + the alpha plane byte-exact in an uncompressed ALPH
    * chunk ([[Vp8Encoder.encodeArgbAlpha]]) — matching the reference's
    * PIL/libwebp behavior of preserving transparency under
    * `lossless=False`; a fully-opaque image emits the simple "VP8 "
    * container. */
  def webpEncodeLossy(bytes: Array[Byte], quality: Int = 50)
      : Option[Array[Byte]] =
    decode(bytes).flatMap { img =>
      val q = math.min(100, math.max(0, quality))
      val qindex = (100 - q) * 127 / 100
      val (w, h) = (img.getWidth, img.getHeight)
      // None, never throw (the R4/F4 chain contract the lossless path
      // honors): dimension and partition-size refusals inside the
      // encoder become a success-mask drop, not a task crash
      if (w >= 16384 || h >= 16384) None
      else scala.util.Try {
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0; var opaque = true
        while (opaque && i < px.length) {
          opaque = (px(i) >>> 24) == 0xff; i += 1
        }
        if (opaque) Vp8Encoder.encodeArgb(px, w, h, qindex).webp
        else Vp8Encoder.encodeArgbAlpha(px, w, h, qindex).webp
      }.toOption
    }

  /** I4: fold the configured chain over one payload; None = failure
    * (→ F4 success-mask drop, `wikicaps_etl_pipeline.py:203-210`). */
  def applyChain(bytes: Array[Byte],
                 chain: Seq[graft.config.TransformCfg])
  : Option[Array[Byte]] =
    chain.foldLeft(Option(bytes)) { (acc, t) =>
      acc.flatMap { b =>
        t.name match {
          case "resize" => resizeBytes(b,
            t.params.getOrElse("max_width", "640").toInt,
            t.params.getOrElse("max_height", "640").toInt)
          case "compress" => compressBytes(b,
            t.params.getOrElse("quality", "0.8").toFloat)
          // Option.contains is exact equality, so the webp modes are
          // mutually exclusive without extra guards
          case "webp" if t.params.get("mode").contains("vp8") =>
            webpEncodeLossy(b, t.params.getOrElse("quality", "50").toInt)
          case "webp" if t.params.get("mode").contains("vp8dct") =>
            webpEncodeDct(b, t.params.getOrElse("quality", "50").toInt)
          case "webp" if t.params.get("mode").contains("quantize") =>
            webpEncodeQuantized(b,
              t.params.getOrElse("quality", "50").toInt)
          case "webp" => webpEncode(b,
            t.params.getOrElse("lossless", "true").toBoolean,
            t.params.getOrElse("quality", "50").toInt)
          case _ => None // unknown transform = failure, never throw (R4)
        }
      }
    }

  /** Image metadata (width, height, ok) as a struct column — the "typed
    * metadata next to an opaque payload" multimodal pattern. */
  def imageMeta(data: Column): Column = {
    val metaUdf = udf((bytes: Array[Byte]) =>
      if (bytes == null) (0, 0, false)
      else decode(bytes) match {
        case Some(img) => (img.getWidth, img.getHeight, true)
        case None => (0, 0, false)
      })
    metaUdf(data).cast("struct<width:int,height:int,ok:boolean>")
  }

  /** Apply a transform chain to a binary column; appends
    * `<out>` payload + `<out>_ok` success flag (F4). */
  def transformColumn(df: DataFrame, dataCol: String, outCol: String,
                      chain: Seq[graft.config.TransformCfg]): DataFrame = {
    val chainLocal = chain
    val f = udf((bytes: Array[Byte]) =>
      if (bytes == null) None else applyChain(bytes, chainLocal))
    df.withColumn(outCol, f(col(dataCol)))
      .withColumn(s"${outCol}_ok", col(outCol).isNotNull)
  }

  /** Path-based driver (reference flow: files on disk, paths in the
    * table): read source → chain → write to a DISTINCT output path
    * (`x.png` → `x.t.png`, or `x.webp` for webp chains); returns the new
    * path + success flag. Writing alongside (instead of the reference's
    * in-place save, `compression_transformation.py:14-16`) is what makes
    * task retries and pipeline re-runs idempotent (R4): a retry re-reads
    * the untouched ORIGINAL, never re-compresses its own output.
    *
    * The input is spread to the session's parallelism first
    * ([[graft.util.Partitioning.spread]]): a one-file checkpoint would
    * otherwise run the whole chain as one task. The UDF is marked
    * nondeterministic because it writes files; that also keeps the
    * optimizer from copying it into a pushed-down `transform_ok` filter
    * below the exchange, which would run the chain before the shuffle. */
  def transformFiles(df: DataFrame, pathCol: String,
                     chain: Seq[graft.config.TransformCfg]): DataFrame = {
    val chainLocal = chain
    val f = udf((path: String) => {
      if (path == null) null
      else try {
        val sub =
          if (chainLocal.exists(_.name == "webp"))
            path.replaceAll("\\.[A-Za-z0-9]+$", ".webp")
          else path.replaceAll("(\\.[A-Za-z0-9]+)$", ".t$1")
        // extension-less paths make the rewrite a no-op; the output must
        // NEVER alias the source or 'exists' falsely reports success
        val rewritten = if (sub == path) path + ".t" else sub
        val outPath = java.nio.file.Paths.get(rewritten)
        if (java.nio.file.Files.exists(outPath)) rewritten // retry skip
        else {
          val in = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path))
          applyChain(in, chainLocal) match {
            case Some(out) =>
              // temp + atomic move: a task killed mid-write must not
              // leave a truncated output that retries then accept
              val tmp = java.nio.file.Paths.get(
                rewritten + ".inprogress")
              java.nio.file.Files.write(tmp, out)
              java.nio.file.Files.move(tmp, outPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              rewritten
            case None => null
          }
        }
      } catch { case _: Exception => null }
    }).asNondeterministic()
    graft.util.Partitioning.spread(df)
      .withColumn("transformed_path", f(col(pathCol)))
      .withColumn("transform_ok", col("transformed_path").isNotNull)
  }
}
