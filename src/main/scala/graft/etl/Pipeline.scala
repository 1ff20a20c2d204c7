package graft.etl

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{FilterCfg, PipelineConfig}
import graft.enrich.CaptionStats
import graft.fetch.Downloader
import graft.filters.RangeFilters
import graft.filters.RangeFilters.RangeFilter
import graft.images.ImageOps
import graft.sources.Readers

/** The reference's ETL orchestration (`wikicaps_etl_pipeline.py`, traced in
  * SURVEY.md §3.1) as a Spark job: extract → transform → load with
  * checkpoint-to-Parquet between stages and skip-if-exists resume (R3).
  *
  * Execution model shift: the reference materializes every stage in pandas
  * memory and hand-schedules thread pools; here each stage is one lazy
  * DataFrame plan whose only barriers are the stage checkpoints
  * (`write.parquet`). Filters and projections fuse into the scan;
  * enrichment is codegen'd; the download is the single genuinely
  * imperative stage and runs partition-parallel (R1).
  */
class Pipeline(spark: SparkSession, cfg: PipelineConfig) {

  // checkpoint FS ops go through Hadoop FileSystem, resolved per-URI, so
  // R3 resume detects state correctly on hdfs:///s3a:///file:// outputDirs
  // — java.nio/java.io silently no-op on non-local URIs and would make a
  // cluster re-run either skip fresh work or republish stale checkpoints
  private def hfs(p: HPath) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean = {
    val success = new HPath(p, "_SUCCESS")
    hfs(success).exists(success)
  }

  private def out(name: String): String = s"${cfg.outputDir}/$name"

  /** Stage 1 — extract (`wikicaps_etl_pipeline.py:102-152`):
    * scan S1 → enrich §2.8 → persist-full K1 [resume R3] →
    * filter F1/F2 → limit O3 → shuffle O1 → download S6 → null-drop F3 →
    * restore order O2 → persist K1. */
  def extract(): DataFrame = {
    val metaFull = out("metadata_full")
    val full =
      if (exists(metaFull)) spark.read.parquet(metaFull) // R3 resume
      else {
        val raw = Readers.wikicaps(spark, cfg.inputPath)
        val enriched = CaptionStats.enrich(raw, "caption",
          cfg.posTagStats, cfg.readabilityScores,
          cfg.metadataGeneratorBackend)
        enriched.write.mode("overwrite").parquet(metaFull) // K1 checkpoint
        spark.read.parquet(metaFull)
      }

    val filters = cfg.filters.map(f => RangeFilter(f.columnId, f.min, f.max))
    val filtered = RangeFilters(full, filters)
    val limited = cfg.maxSamples match {
      case Some(n) => filtered.orderBy("wikicaps_id").limit(n)
      case None => filtered
    }

    // O1: deterministic permutation for download diversity (the reference's
    // seeded sample(frac=1), wikicaps_etl_pipeline.py:120-122): spread
    // adjacent ids across partitions so no partition hammers one shard
    val shuffled = cfg.shuffleSeed match {
      case Some(seed) =>
        limited.repartition(spark.sparkContext.defaultParallelism,
          md5(concat(col("wikicaps_id").cast("string"), lit(seed.toString))))
      case None => limited
    }

    val withImages =
      if (cfg.downloadEnabled)
        Downloader.withImagePath(shuffled, "wikicaps_id", "wikimedia_file",
          out("images"))
          .filter(col("image_path").isNotNull) // F3
      else shuffled

    val ordered = withImages.orderBy("wikicaps_id") // O2
    ordered.write.mode("overwrite").parquet(out("metadata_filtered")) // K1
    spark.read.parquet(out("metadata_filtered"))
  }

  /** Stage 2 — transform (`wikicaps_etl_pipeline.py:183-212`): image chain
    * I1–I4 over the downloaded files, success-mask filter F4. */
  def transform(): DataFrame = {
    val meta = spark.read.parquet(out("metadata_filtered"))
    if (cfg.transformations.isEmpty || !meta.columns.contains("image_path")) {
      // remove any stale transformed checkpoint from an earlier run with
      // a different chain, or load() would publish last run's data
      val stale = new HPath(out("metadata_transformed"))
      val fs = hfs(stale)
      if (fs.exists(stale)) fs.delete(stale, true)
      meta
    } else {
      val done = ImageOps.transformFiles(meta, "image_path",
        cfg.transformations)
      val kept = done.filter(col("transform_ok")) // F4
        .withColumn("image_path", col("transformed_path"))
        .drop("transformed_path", "transform_ok")
      kept.write.mode("overwrite").parquet(out("metadata_transformed"))
      spark.read.parquet(out("metadata_transformed"))
    }
  }

  /** Stage 3 — load (`wikicaps_etl_pipeline.py:242-249`): final K1 parquet
    * + K2 projected CSV `[image_path, caption]`, quoted, both in
    * `wikicaps_id` order (O2). The transform stage runs spread across
    * cores, so its checkpoint is several files in no particular order;
    * the sort re-reads the checkpoint, it does not re-run the chain. */
  def load(): Unit = {
    val src =
      (if (exists(out("metadata_transformed")))
        spark.read.parquet(out("metadata_transformed"))
      else spark.read.parquet(out("metadata_filtered")))
        .orderBy("wikicaps_id") // O2
    src.write.mode("overwrite").parquet(out("metadata_final")) // K1
    val csvCols =
      if (src.columns.contains("image_path")) Seq("image_path", "caption")
      else Seq("wikicaps_id", "caption")
    src.select(csvCols.map(col): _*)
      .write.mode("overwrite")
      .option("quoteAll", "true").option("header", "true")
      .csv(out("captions_csv")) // K2
  }

  /** Orchestrator with stage toggles + import-when-disabled
    * (`wikicaps_etl_pipeline.py:251-278`). */
  def run(): Unit = {
    if (cfg.run.extract) extract()
    if (cfg.run.transform) transform()
    if (cfg.run.load) load()
  }
}
