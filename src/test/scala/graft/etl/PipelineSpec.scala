package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.fetch.Downloader
import graft.images.Fixtures
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  /** Raw wikicaps-shaped fixture: some captions designed to pass/fail the
    * num_tok filter below. */
  private def writeRaw(dir: java.io.File): String = {
    val f = new java.io.File(dir, "raw.txt")
    val rows = (1 to 40).map { i =>
      val cap =
        if (i % 4 == 0) "tiny" // num_tok=1 → filtered out
        else s"A scenic view number $i of the old town with many houses. " +
          "People walk around!"
      s"$i|||File:img $i.png|||$cap"
    }
    Files.writeString(f.toPath, rows.mkString("\n"))
    f.getAbsolutePath
  }

  test("extract: scan → enrich → filter → limit → persist, with resume") {
    val dir = Files.createTempDirectory("etl").toFile
    val cfg = PipelineConfig(
      inputPath = writeRaw(dir),
      maxSamples = Some(20),
      filters = Seq(graft.config.FilterCfg("num_tok", Some(5.0), None)),
      outputDir = dir.getAbsolutePath + "/out")
    val p = new Pipeline(spark, cfg)
    val res = p.extract()
    res.count() shouldBe 20 // 30 survive the filter, limit 20
    res.columns should contain allOf("num_tok", "fk_re_score", "caption")
    res.filter(col("num_tok") <= 5).count() shouldBe 0

    // resume: metadata_full exists → enrichment skipped (R3). Proof: mutate
    // the checkpoint, re-extract, observe the mutated values flow through.
    spark.read.parquet(s"${cfg.outputDir}/metadata_full")
      .withColumn("num_tok", lit(7))
      .write.mode("overwrite").parquet(s"${cfg.outputDir}/metadata_full_v2")
    // overwrite in two hops (can't read+overwrite same path)
    val v2 = spark.read.parquet(s"${cfg.outputDir}/metadata_full_v2")
    v2.write.mode("overwrite").parquet(s"${cfg.outputDir}/metadata_full")
    val res2 = new Pipeline(spark, cfg).extract()
    res2.select("num_tok").distinct().collect()
      .map(_.getInt(0)) shouldBe Array(7)
  }

  test("full run with file:// download + image transform + load sinks") {
    val dir = Files.createTempDirectory("etl2").toFile
    // image fixtures: one valid png per id, id 3 corrupt (fails transform)
    val imgSrc = new java.io.File(dir, "imgsrc"); imgSrc.mkdirs()
    (1 to 6).foreach { i =>
      val f = new java.io.File(imgSrc, s"img_$i.png")
      Files.write(f.toPath,
        if (i == 3) Fixtures.corrupt else Fixtures.png(100 + i, 50))
    }
    val raw = new java.io.File(dir, "raw.txt")
    Files.writeString(raw.toPath, (1 to 6).map(i =>
      s"$i|||img_$i.png|||A caption with enough tokens number $i here.")
      .mkString("\n"))

    val cfg = PipelineConfig(
      inputPath = raw.getAbsolutePath,
      downloadEnabled = true,
      shuffleSeed = Some(42L),
      transformations = Seq(graft.config.TransformCfg("resize",
        Map("max_width" -> "64", "max_height" -> "64"))),
      outputDir = dir.getAbsolutePath + "/out")

    // inject file:// URL resolution (no network; mirrors test-mode
    // fixtures). Built OUTSIDE the Pipeline subclass so the closure
    // captures only the path string, not the (non-serializable) pipeline.
    val srcPath = imgSrc.getAbsolutePath
    val urlFn: String => Seq[String] = PipelineSpec.fileUrlResolver(srcPath)
    val p = new Pipeline(spark, cfg) {
      override def extract(): org.apache.spark.sql.DataFrame = {
        val full = graft.enrich.CaptionStats.enrich(
          graft.sources.Readers.wikicaps(spark, cfg.inputPath), "caption")
        val dl = Downloader.withImagePath(full, "wikicaps_id",
          "wikimedia_file", cfg.outputDir + "/images", "png", urlFn)
          .filter(col("image_path").isNotNull)
        dl.orderBy("wikicaps_id").write.mode("overwrite")
          .parquet(cfg.outputDir + "/metadata_filtered")
        spark.read.parquet(cfg.outputDir + "/metadata_filtered")
      }
    }
    p.extract().count() shouldBe 6 // all download (corrupt still downloads)
    val t = p.transform()
    t.count() shouldBe 5 // corrupt img 3 fails the chain → F4 drop
    p.load()

    val finalMeta = spark.read.parquet(s"${cfg.outputDir}/metadata_final")
    finalMeta.count() shouldBe 5
    val csv = spark.read.option("header", "true")
      .csv(s"${cfg.outputDir}/captions_csv")
    csv.columns shouldBe Array("image_path", "caption")
    csv.count() shouldBe 5
    // O2: both sinks in wikicaps_id order, read part file by part file
    // (a directory read orders its splits by size, not by name)
    def partsInOrder(d: String, fmt: String): Seq[org.apache.spark.sql.Row] =
      new java.io.File(d).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).sorted.toSeq
        .flatMap(f => spark.read.format(fmt).option("header", "true")
          .load(s"$d/$f").collect())
    partsInOrder(s"${cfg.outputDir}/metadata_final", "parquet")
      .map(_.getAs[Long]("wikicaps_id")) shouldBe Seq(1L, 2L, 4L, 5L, 6L)
    partsInOrder(s"${cfg.outputDir}/captions_csv", "csv")
      .map(_.getAs[String]("caption")) shouldBe Seq(1, 2, 4, 5, 6)
      .map(i => s"A caption with enough tokens number $i here.")
  }

  test("downloader: missing file → null path → F3 drop; re-run skips") {
    val dir = Files.createTempDirectory("dl").toFile
    import spark.implicits._
    val df = Seq((1L, "exists.png"), (2L, "missing.png"))
      .toDF("wikicaps_id", "wikimedia_file")
    val src = new java.io.File(dir, "src"); src.mkdirs()
    Files.write(new java.io.File(src, "exists.png").toPath,
      Fixtures.png(10, 10))
    val out = Downloader.withImagePath(df, "wikicaps_id", "wikimedia_file",
      s"$dir/dst", "png",
      n => Seq(s"file://${src.getAbsolutePath}/$n"))
    val paths = out.collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    paths(1L) shouldBe defined
    paths(2L) shouldBe None
    out.filter(col("image_path").isNotNull).count() shouldBe 1
    // idempotent re-run: file exists → skipped, same result (R3/R4)
    Downloader.withImagePath(df, "wikicaps_id", "wikimedia_file",
      s"$dir/dst", "png", n => Seq(s"file://${src.getAbsolutePath}/$n"))
      .filter(col("image_path").isNotNull).count() shouldBe 1
  }

  test("candidateUrls: md5 shard + Special:FilePath fallback, space→_") {
    val urls = Downloader.candidateUrls("File:Malham Cove (5841).jpg")
    urls should have size 2
    urls.head should startWith(
      "https://upload.wikimedia.org/wikipedia/commons/")
    // name normalized: prefix stripped, spaces underscored, %-encoded
    urls.head should endWith("Malham_Cove_%285841%29.jpg")
    urls(1) should include("Special:FilePath/")
  }

  test("stale metadata_transformed from an earlier run is not published") {
    import spark.implicits._
    // file:-scheme URI: proves the checkpoint exists/delete ops resolve
    // through Hadoop FileSystem (java.nio would no-op on any URI scheme)
    val outd = s"file:${Files.createTempDirectory("stale")}"
    Seq((1L, "keep me", "cap")).toDF("wikicaps_id", "wikimedia_file",
      "caption").write.parquet(s"$outd/metadata_filtered")
    Seq((99L, "STALE", "old")).toDF("wikicaps_id", "wikimedia_file",
      "caption").write.parquet(s"$outd/metadata_transformed")
    val p = new Pipeline(spark,
      graft.config.PipelineConfig(outputDir = outd)) // empty chain
    p.transform(); p.load()
    val fin = spark.read.parquet(s"$outd/metadata_final")
    fin.count() shouldBe 1
    fin.head().getLong(0) shouldBe 1L // not the stale 99
  }

  test("Snapshots.diff: removed/added/changed statuses, unchanged docs " +
    "absent, and the join sees only (id, digest) — text dies map-side") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((2L, "b"), (3L, "cc"), (4L, "d")).toDF("doc_id", "text")
    val d = Snapshots.diff(v1, v2, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1))
    d shouldBe Array(1L -> "removed", 3L -> "changed", 4L -> "added")
    // the full-outer join must shuffle digests, never document payloads
    val join = Snapshots.diff(v1, v2, "doc_id", "text")
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.head
    join.children.foreach { c =>
      c.output.size shouldBe 2
      c.output.map(_.name) should not contain "text"
    }
  }
}

object PipelineSpec {
  /** Serializable file:// resolver (captures only the source path). */
  def fileUrlResolver(srcPath: String): String => Seq[String] =
    name => Seq(s"file://$srcPath/$name")
}
