package graft.images

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.SparkSpec
import graft.config.TransformCfg
import org.apache.spark.sql.functions._

object Fixtures {
  /** Deterministic in-memory PNG (w×h gradient). */
  def png(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 7 + y * 13) & 0xffffff)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
  val corrupt: Array[Byte] = Array.fill[Byte](64)(42)
}

class ImageOpsSpec extends SparkSpec {
  import spark.implicits._

  test("I1 resize: fits 640 box, preserves aspect, never upscales") {
    val big = Fixtures.png(1000, 500)
    val out = ImageOps.resizeBytes(big, 640, 640).get
    val img = ImageIO.read(new java.io.ByteArrayInputStream(out))
    img.getWidth shouldBe 640
    img.getHeight shouldBe 320
    val small = Fixtures.png(100, 80)
    val outS = ImageOps.resizeBytes(small, 640, 640).get
    val imgS = ImageIO.read(new java.io.ByteArrayInputStream(outS))
    (imgS.getWidth, imgS.getHeight) shouldBe ((100, 80)) // no upscale
  }

  test("I2 compress: produces decodable JPEG") {
    val out = ImageOps.compressBytes(Fixtures.png(64, 64), 0.7f).get
    out.take(2) shouldBe Array(0xff.toByte, 0xd8.toByte) // JPEG SOI
    ImageIO.read(new java.io.ByteArrayInputStream(out)) should not be null
  }

  test("I3 webp: real VP8L stream, decode round-trips pixels exactly") {
    val src = Fixtures.png(16, 16)
    val out = ImageOps.webpEncode(src).get
    new String(out.take(4)) shouldBe "RIFF"
    new String(out.slice(8, 12)) shouldBe "WEBP"
    new String(out.slice(12, 16)) shouldBe "VP8L"
    val decoded = WebpCodec.decode(out)
    val orig = ImageIO.read(new java.io.ByteArrayInputStream(src))
    decoded.getWidth shouldBe orig.getWidth
    decoded.getHeight shouldBe orig.getHeight
    for (x <- 0 until orig.getWidth; y <- 0 until orig.getHeight)
      decoded.getRGB(x, y) shouldBe orig.getRGB(x, y)
  }

  test("I3 webp: non-square + odd payload length + alpha survive") {
    // 7×3 → 84-byte pixel payload + headers: exercises RIFF even-padding
    val img = new BufferedImage(7, 3, BufferedImage.TYPE_INT_ARGB)
    for (x <- 0 until 7; y <- 0 until 3)
      img.setRGB(x, y, ((40 * x + 13 * y + 7) << 24) | (x * 31 + y * 77))
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val out = ImageOps.webpEncode(bos.toByteArray).get
    val decoded = WebpCodec.decode(out)
    for (x <- 0 until 7; y <- 0 until 3)
      decoded.getRGB(x, y) shouldBe img.getRGB(x, y)
  }

  test("I3 webp quantize tier: quality quantizes deterministically, " +
    "still decodable") {
    val src = Fixtures.png(8, 8)
    val out = ImageOps.webpEncodeQuantized(src, 50).get
    val decoded = WebpCodec.decode(out)
    val orig = ImageIO.read(new java.io.ByteArrayInputStream(src))
    val mask = 0xfc // shift (100-50)/20 = 2
    for (x <- 0 until 8; y <- 0 until 8) {
      val o = orig.getRGB(x, y)
      val expected = (o & 0xff000000) | (((o >>> 16) & mask) << 16) |
        (((o >>> 8) & mask) << 8) | (o & mask)
      decoded.getRGB(x, y) shouldBe expected
    }
  }

  test("I3 webp lossy DEFAULT: lossless=false routes to the real VP8 " +
    "encoder (reference format parity), deterministically") {
    val src = Fixtures.png(20, 12)
    val out = ImageOps.webpEncode(src, lossless = false, quality = 50).get
    new String(out, 12, 4, "ASCII") shouldBe "VP8 " // real lossy stream
    out.toSeq shouldBe ImageOps.webpEncodeLossy(src, 50).get.toSeq
    out.toSeq shouldBe
      ImageOps.webpEncode(src, lossless = false, quality = 50).get.toSeq
  }

  test("I3 webp lossy alpha: a translucent image emits the EXTENDED " +
    "container (VP8X + ALPH) with the alpha plane byte-exact") {
    val (w, h) = (13, 9) // odd dims: exercises chunk even-padding
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, ((17 * x + 29 * y) % 256) << 24 |
        (x * 19 + y * 7) % 256 << 16 | 0x3040 + x)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val out = ImageOps.webpEncode(bos.toByteArray,
      lossless = false, quality = 60).get
    new String(out, 12, 4, "ASCII") shouldBe "VP8X"
    (out(20) & 0x10) shouldBe 0x10 // alpha flag set
    // canvas size in VP8X: 24-bit little-endian width-1 / height-1
    ((out(24) & 0xff) | ((out(25) & 0xff) << 8) |
      ((out(26) & 0xff) << 16)) shouldBe w - 1
    ((out(27) & 0xff) | ((out(28) & 0xff) << 8) |
      ((out(29) & 0xff) << 16)) shouldBe h - 1
    // walk the chunks to the ALPH payload and compare planes
    def u32(p: Int) = (out(p) & 0xff) | ((out(p + 1) & 0xff) << 8) |
      ((out(p + 2) & 0xff) << 16) | ((out(p + 3) & 0xff) << 24)
    var p = 12; var alph = -1; var vp8 = -1
    while (p + 8 <= out.length) {
      val fourcc = new String(out, p, 4, "ASCII")
      val len = u32(p + 4)
      if (fourcc == "ALPH") alph = p
      if (fourcc == "VP8 ") vp8 = p
      p += 8 + len + (len % 2)
    }
    alph should be > 0
    vp8 should be > 0 // the color stream is still a real VP8 frame
    u32(alph + 4) shouldBe 1 + w * h // header byte + raw plane
    out(alph + 8) shouldBe 0 // no preprocessing/filter/compression
    for (y <- 0 until h; x <- 0 until w)
      (out(alph + 9 + y * w + x) & 0xff) shouldBe
        (img.getRGB(x, y) >>> 24)
    // a fully-opaque image keeps the simple container (no dead chunks)
    val opaque = ImageOps.webpEncode(Fixtures.png(13, 9),
      lossless = false, quality = 60).get
    new String(opaque, 12, 4, "ASCII") shouldBe "VP8 "
  }

  test("I4 chain: fold order, corrupt input fails without throwing") {
    val chain = Seq(TransformCfg("resize",
      Map("max_width" -> "32", "max_height" -> "32")),
      TransformCfg("compress"))
    ImageOps.applyChain(Fixtures.png(100, 100), chain) shouldBe defined
    ImageOps.applyChain(Fixtures.corrupt, chain) shouldBe None
    ImageOps.applyChain(Fixtures.png(8, 8),
      Seq(TransformCfg("nope"))) shouldBe None
    // config surface routes mode=vp8dct to the VP8-transform encoder
    val png = Fixtures.png(20, 12)
    ImageOps.applyChain(png, Seq(TransformCfg("webp",
      Map("mode" -> "vp8dct", "quality" -> "60")))).get.toSeq shouldBe
      ImageOps.webpEncodeDct(png, 60).get.toSeq
    // ...and mode=vp8 to the REAL lossy VP8 keyframe encoder: the
    // chain output is a RIFF "VP8 " container, equal to the direct call
    val lossy = ImageOps.applyChain(png, Seq(TransformCfg("webp",
      Map("mode" -> "vp8", "quality" -> "60")))).get
    new String(lossy, 12, 4, "ASCII") shouldBe "VP8 "
    lossy.toSeq shouldBe ImageOps.webpEncodeLossy(png, 60).get.toSeq
    // encoder refusals keep the None-not-throw chain contract (R4):
    // a corrupt payload through the lossy route drops, never crashes
    ImageOps.applyChain(Fixtures.corrupt, Seq(TransformCfg("webp",
      Map("mode" -> "vp8")))) shouldBe None
    // mode=quantize routes to the r5 stand-in tier
    ImageOps.applyChain(png, Seq(TransformCfg("webp",
      Map("mode" -> "quantize", "quality" -> "40")))).get.toSeq shouldBe
      ImageOps.webpEncodeQuantized(png, 40).get.toSeq
    // and a plain webp step with lossless:false follows the r20
    // default — the REAL VP8 encoder, identical to the mode=vp8 route
    ImageOps.applyChain(png, Seq(TransformCfg("webp",
      Map("lossless" -> "false", "quality" -> "60")))).get.toSeq shouldBe
      ImageOps.webpEncodeLossy(png, 60).get.toSeq
  }

  test("binary-column transform keeps plumbing: schema + fail flag (F4)") {
    val df = Seq(
      (1L, Fixtures.png(100, 100)), (2L, Fixtures.corrupt))
      .toDF("id", "data")
    val out = ImageOps.transformColumn(df, "data", "thumb",
      Seq(TransformCfg("resize", Map("max_width" -> "10",
        "max_height" -> "10"))))
    out.schema("thumb").dataType.typeName shouldBe "binary"
    val flags = out.select("id", "thumb_ok").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    flags(1L) shouldBe true
    flags(2L) shouldBe false
    // success-mask filter drops the corrupt row
    out.filter(col("thumb_ok")).count() shouldBe 1
  }

  test("imageMeta struct: width/height/ok typed metadata") {
    val df = Seq((1L, Fixtures.png(33, 21)), (2L, Fixtures.corrupt))
      .toDF("id", "data")
    val m = df.select(col("id"), ImageOps.imageMeta(col("data")).as("m"))
      .selectExpr("id", "m.width", "m.height", "m.ok")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    m(1L) shouldBe ((33, 21, true))
    m(2L) shouldBe ((0, 0, false))
  }

  test("extension-less paths get a distinct output, never alias source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("noext").toFile
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir + "/noext"), Fixtures.png(50, 50))
    val r = ImageOps.transformFiles(Seq(dir + "/noext").toDF("p"), "p",
      Seq(graft.config.TransformCfg("resize",
        Map("max_width" -> "10", "max_height" -> "10")))).head()
    r.getString(1) should not be (dir + "/noext")
    r.getBoolean(2) shouldBe true
    // the original must be untouched
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/noext")) shouldBe Fixtures.png(50, 50)
  }

  test("transformFiles spreads a one-file input across cores and runs " +
    "its file-writing UDF once per row, above the exchange") {
    import java.nio.file.{FileSystems, Files, Path, StandardWatchEventKinds}
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageCompleted}
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import scala.jdk.CollectionConverters._

    val dir = Files.createTempDirectory("spread")
    val imgs = Files.createDirectory(dir.resolve("imgs"))
    val paths = (1 to 6).map { i =>
      val f = imgs.resolve(s"img_$i.png")
      Files.write(f, Fixtures.png(40 + i, 30))
      f.toString
    }
    paths.toDF("image_path").coalesce(1).write.parquet(s"$dir/meta")
    val done = ImageOps.transformFiles(spark.read.parquet(s"$dir/meta"),
      "image_path", Seq(TransformCfg("resize",
        Map("max_width" -> "16", "max_height" -> "16"))))
      .filter(col("transform_ok")) // as Pipeline.transform's F4

    // one UDF call in the optimized plan, and the repartition below it:
    // a deterministic UDF would be copied into the pushed-down filter
    val plan = done.queryExecution.optimizedPlan
    val calls = plan.flatMap(_.expressions.flatMap(
      _.collect { case u: ScalaUDF => u }))
    calls should have size 1
    val host = plan.find(_.expressions.exists(
      _.exists(_.isInstanceOf[ScalaUDF]))).get
    host.find(_.isInstanceOf[Repartition]) shouldBe defined

    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    val watcher = FileSystems.getDefault.newWatchService()
    imgs.register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      done.write.parquet(s"$dir/out")
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    spark.read.parquet(s"$dir/out").count() shouldBe 6
    // the last stage is the transform + write, one task per core
    stageTasks.asScala.last shouldBe sc.defaultParallelism
    sc.defaultParallelism shouldBe 4

    // every output written once: one temp file and one atomic move each
    val created = scala.collection.mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + 5000000000L
    while (created.size < 12 && System.nanoTime() < deadline) {
      val key = watcher.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (key != null) {
        key.pollEvents().asScala.foreach(e =>
          created += e.context().asInstanceOf[Path].toString)
        key.reset()
      }
    }
    Thread.sleep(300) // any duplicate write would land by now
    Option(watcher.poll()).foreach(_.pollEvents().asScala.foreach(e =>
      created += e.context().asInstanceOf[Path].toString))
    watcher.close()
    val byName = created.groupBy(identity).map { case (k, v) => k -> v.size }
    byName.keySet shouldBe (1 to 6).flatMap(i =>
      Seq(s"img_$i.t.png", s"img_$i.t.png.inprogress")).toSet
    byName.values.toSet shouldBe Set(1)
  }
}
