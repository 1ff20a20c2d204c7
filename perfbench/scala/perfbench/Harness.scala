package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.analytics.Mixture
import graft.config.TransformCfg
import graft.dedup.Dedup
import graft.enrich.{CaptionStats, MetadataBackend}
import graft.fetch.Downloader
import graft.filters.RangeFilters
import graft.filters.RangeFilters.RangeFilter
import graft.images.ImageOps
import graft.similarity.Ann
import graft.sources.Readers
import graft.text.TextAnalysis
import graft.util.Overlap

/** The benchmark's JVM side: runs one workload closed-loop (one client,
  * next op only after the previous one finished) for a fixed time and
  * writes every raw sample to `<out>/result.json`. All arithmetic on the
  * samples (percentiles, self time, recall, ratios) is done by
  * `metrics.py`; output checks are done by `checks.py`.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  * <cores> <opSeed> */
object Harness {

  final case class Op(kind: String, name: String, cycle: Int,
                      t0: Double, t1: Double, t0Ms: Long, t1Ms: Long,
                      ok: Boolean, rows: Long, traced: Boolean, err: String,
                      extra: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsS, traceS, coresS,
      opSeedS) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = coresS.toInt
    val work = new File(outDir).getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, traceS == "1")
    val run = new Run(spark, tracer, new File(dataDir).getAbsolutePath,
      work.getPath, cores, opSeedS.toLong)
    val w: Workload = workload match {
      case "ingest" => new Ingest(run)
      case "curate" => new Curate(run)
      case "interactive" => new Interactive(run)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val warmupS = timed(w.warmup())
    val shuffleBefore = tracer.shuffleBytes()
    tracer.takeStoragePeak() // set-up's storage peak is not an op's
    val deadline = tracer.now() + secondsS.toDouble
    // the traced run alternates untraced and traced cycles (a cycle is
    // one op, or one round of a fixed op mix) and runs at least three,
    // so the tracing overhead is measured inside one process between
    // cycles 1 (traced) and 2 (untraced), both past the cold first one
    val minCycles = math.max(w.minCycles, if (tracer.enabled) 3 else 1)
    var i = 0
    while (tracer.now() < deadline || !w.atBoundary ||
        run.cycle < minCycles) {
      w.op(i, traced = tracer.enabled && run.cycle % 2 == 1)
      i += 1
      if (w.atBoundary) run.cycle += 1
    }
    val shuffleTimed = tracer.shuffleBytes() - shuffleBefore
    val loopEnd = tracer.now()
    val checks = w.finish()
    val finishS = tracer.now() - loopEnd
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmupS),
      "finish_s" -> Json.num(finishS),
      "shuffle_write_bytes" -> shuffleTimed.toString,
      "storage_bytes" -> Json.arr(run.storage.map(_.toString)),
      "ops" -> Json.arr(run.ops.map { o =>
        Json.obj(Seq("kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
          "cycle" -> o.cycle.toString,
          "t0" -> Json.num(o.t0), "t1" -> Json.num(o.t1),
          "t0_ms" -> o.t0Ms.toString, "t1_ms" -> o.t1Ms.toString,
          "ok" -> o.ok.toString, "rows" -> o.rows.toString,
          "traced" -> o.traced.toString, "err" -> Json.str(o.err),
          "extra" -> Json.obj(o.extra.map { case (k, v) =>
            k -> Json.num(v) })))
      }),
      "checks" -> checks,
      "spans" -> Json.arr(tracer.spansJson),
      "jobs" -> Json.arr(tracer.jobsJson)))
    Files.writeString(Paths.get(s"$work/result.json"), json)
    spark.stop()
  }

  /** Shared state of one benchmark process. */
  final class Run(val spark: SparkSession, val tracer: Tracer,
                  val data: String, val work: String, val cores: Int,
                  opSeed: Long) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val storage = mutable.ArrayBuffer.empty[Long]
    val rng = new scala.util.Random(opSeed)
    /** The cycle the next op belongs to. */
    var cycle = 0
    /** Extra bytes of on-disk stage checkpoints held at the next sample. */
    var heldOnDisk = 0L

    /** Peak persisted/checkpointed block storage during the op just
      * finished, plus the checkpoint files it holds. */
    def sampleStorage(): Unit = storage += tracer.takeStoragePeak() +
      heldOnDisk

    /** Time one closed-loop op. A throwing op is recorded as failed with
      * its elapsed time; it never ends the run. */
    def op(kind: String, name: String, rows: Long, traced: Boolean)
          (body: => Map[String, Double]): Unit = {
      val t0 = tracer.now(); val t0Ms = System.currentTimeMillis()
      val r = Try(body)
      val t1 = tracer.now(); val t1Ms = System.currentTimeMillis()
      ops += Op(kind, name, cycle, t0, t1, t0Ms, t1Ms, r.isSuccess, rows,
        traced,
        r.failed.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
          .getOrElse("").take(300),
        r.getOrElse(Map.empty))
      sampleStorage()
    }

    /** Span around one call into a layer, only on traced ops. */
    def call[T](on: Boolean, trace: String, name: String, parent: Int = -1)
               (body: Tracer.Span => T): T =
      if (on) tracer.span(trace, name, parent)(body) else body(null)

    /** Span around a call that returns a lazy frame. On traced ops the
      * frame is persisted and counted inside the span, so the layer's
      * work runs in its own jobs instead of being fused into whichever
      * later action consumes it; the count is recorded as `rows_out`. */
    def layer(on: Boolean, trace: String, name: String,
              held: mutable.Buffer[DataFrame], ok: Option[Column] = None)
             (body: => DataFrame): DataFrame =
      if (!on) body
      else tracer.span(trace, name) { s =>
        val df = body.persist(StorageLevel.MEMORY_AND_DISK)
        held += df
        s.attrs("rows_out") = df.count().toDouble
        ok.foreach(c => s.attrs("rows_ok") = df.filter(c).count().toDouble)
        df
      }

    def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

    /** Span that also records the change in persisted RDDs across the
      * call (a cache the call leaves behind). */
    def tracked[T](on: Boolean, trace: String, name: String,
                   parent: Int = -1)(body: => T): T =
      call(on, trace, name, parent) { s =>
        val before = persistedRdds
        val r = body
        if (s != null) s.attrs("persisted_rdds_delta") =
          (persistedRdds - before).toDouble
        r
      }

    def read(rel: String): DataFrame = spark.read.parquet(s"$data/$rel")
  }

  def dirStats(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(dirStats)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Data files only (Spark's `_SUCCESS` and `.crc` files excluded). */
  def dataFiles(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil else Seq(f)
    } else Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Run thunks on one driver thread each; rethrows the first failure
    * after all have settled. */
  def inParallel(thunks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, thunks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = thunks.map(t => Future(t()))
      val rs = fs.map(f => Try(Await.result(f, Duration.Inf)))
      rs.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
  }

  /** One workload. Set-up is `warmup`: every op type executed once, so
    * timed ops find JIT-compiled code and generated classes in place,
    * and any store or index the timed ops need built. The batch
    * workloads have none: a batch job pays its cold start in its one
    * pass. */
  trait Workload {
    def warmup(): Unit = ()
    /** Cycles a run measures at least. */
    def minCycles: Int = 1
    /** Whether the run may stop before the next op (the end of a cycle
      * for a workload that runs a fixed op mix). */
    def atBoundary: Boolean = true
    def op(i: Int, traced: Boolean): Unit
    /** Untimed work after the loop; returns the checks object. */
    def finish(): String
  }

  // ------------------------------------------------------------ ingest

  /** The reference's ETL (`etl.Pipeline` extract → transform → load),
    * called function by function because `Pipeline` hard-wires the
    * HTTPS resolver: images are resolved to `file://` URLs in the
    * generated image directory instead. */
  final class Ingest(r: Run) extends Workload {
    import r.spark
    private val captions = s"${r.data}/ingest/captions.txt"
    private val images = s"${r.data}/ingest/images"
    private val sizes = ujsonLite(s"${r.data}/manifest.json")
    private val maxSamples = sizes("max_samples").toInt
    private val filters = Seq(
      RangeFilter("num_tok", Some(10), Some(150)),
      RangeFilter("min_sent_len", Some(5), None),
      RangeFilter("num_sent", Some(1), Some(5)))
    private val chain = Seq(
      TransformCfg("resize", Map("max_width" -> "96", "max_height" -> "96")),
      TransformCfg("compress", Map("quality" -> "0.75")))
    private val shuffleSeed = 7L
    private val nRows = sizes("captions").toLong
    private var passNo = 0
    private var lastOut: String = null

    private def resolver(dir: String): String => Seq[String] =
      name => Seq(new File(dir, name).toURI.toString)

    /** One extract → transform → load pass into `out`. Returns the
      * bytes/files the etl layer wrote and the fetched source bytes. */
    private def pass(out: String, traced: Boolean, trace: String)
    : Map[String, Double] = {
      val held = mutable.ArrayBuffer.empty[DataFrame]
      def etl[T](name: String)(body: => T): T =
        r.call(traced, trace, s"etl.$name") { s =>
          val before = dirStats(new File(out))
          val res = body
          val after = dirStats(new File(out))
          if (s != null) {
            s.attrs("bytes_written") = (after._1 - before._1).toDouble
            s.attrs("files_written") = (after._2 - before._2).toDouble
          }
          res
        }
      try {
        // extract
        val raw = r.layer(traced, trace, "sources.wikicaps", held) {
          Readers.wikicaps(spark, captions)
        }
        val enriched = r.layer(traced, trace, "enrich.enrich", held) {
          CaptionStats.enrich(raw, "caption", posTagStats = true,
            readabilityScores = true, MetadataBackend.Spacy)
        }
        val full = etl("writeMetadataFull") {
          enriched.write.mode("overwrite").parquet(s"$out/metadata_full")
          spark.read.parquet(s"$out/metadata_full")
        }
        val filtered = r.layer(traced, trace, "filters.apply", held) {
          RangeFilters(full, filters)
        }
        val limited = r.layer(traced, trace, "etl.limitAndShuffle", held) {
          filtered.orderBy("wikicaps_id").limit(maxSamples)
            .repartition(spark.sparkContext.defaultParallelism,
              md5(concat(col("wikicaps_id").cast("string"),
                lit(shuffleSeed.toString))))
        }
        val fetched = r.layer(traced, trace, "fetch.withImagePath", held,
            ok = Some(col("image_path").isNotNull)) {
          Downloader.withImagePath(limited, "wikicaps_id", "wikimedia_file",
            s"$out/images", fmt = "png", urlsFor = resolver(images))
        }
        etl("writeMetadataFiltered") {
          fetched.filter(col("image_path").isNotNull)
            .orderBy("wikicaps_id")
            .write.mode("overwrite").parquet(s"$out/metadata_filtered")
        }
        // transform
        val meta = etl("readMetadataFiltered") {
          spark.read.parquet(s"$out/metadata_filtered")
        }
        val done = r.layer(traced, trace, "images.transformFiles", held,
            ok = Some(col("transform_ok"))) {
          ImageOps.transformFiles(meta, "image_path", chain)
        }
        etl("writeMetadataTransformed") {
          done.filter(col("transform_ok"))
            .withColumn("image_path", col("transformed_path"))
            .drop("transformed_path", "transform_ok")
            .write.mode("overwrite").parquet(s"$out/metadata_transformed")
        }
        // load
        etl("load") {
          val src = spark.read.parquet(s"$out/metadata_transformed")
          src.write.mode("overwrite").parquet(s"$out/metadata_final")
          src.select("image_path", "caption").write.mode("overwrite")
            .option("quoteAll", "true").option("header", "true")
            .csv(s"$out/captions_csv")
        }
        val (written, files) = dirStats(new File(out))
        val fetchedBytes = dirStats(new File(s"$out/images"))._1 -
          dataFiles(new File(s"$out/images"))
            .filter(_.getName.contains(".t.")).map(_.length()).sum
        val ckpt = Seq("metadata_full", "metadata_filtered",
          "metadata_transformed").map(d => dirStats(new File(s"$out/$d"))._1)
        r.heldOnDisk = ckpt.sum
        Map("written_bytes" -> written.toDouble,
          "written_files" -> files.toDouble,
          "input_bytes" -> (new File(captions).length() + fetchedBytes)
            .toDouble)
      } finally held.foreach(_.unpersist(blocking = false))
    }

    def op(i: Int, traced: Boolean): Unit = {
      passNo += 1
      val out = s"${r.work}/ingest/pass-$passNo"
      r.op("pass", "ingest", nRows, traced) {
        pass(out, traced, s"pass-$passNo")
      }
      if (lastOut != null) deleteTree(new File(lastOut))
      lastOut = out
      r.heldOnDisk = 0L
    }

    def finish(): String = Json.obj(Seq(
      "final_parquet" -> Json.str(s"$lastOut/metadata_final"),
      "final_csv" -> Json.str(s"$lastOut/captions_csv"),
      "captions" -> Json.str(captions),
      "max_samples" -> maxSamples.toString,
      "e1_oracle" -> Json.str(SparkEntry.oracleSql("e1_caption_stats"))))
  }

  /** Flat `"key": number` reader for the generator's manifest sizes. */
  def ujsonLite(path: String): Map[String, Double] = {
    val s = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"([a-z_]+)\":\\s*(-?[0-9.]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  // ------------------------------------------------------------ curate

  /** The registry's q4_training_pipeline, closed-loop over the scaled
    * corpus. Traced ops replay q4's stages as direct calls. */
  final class Curate(r: Run) extends Workload {
    import r.spark
    private val dir = s"${r.data}/curate"
    private val corpusBytes =
      new File(s"$dir/documents.parquet").length().toDouble
    private val q4 = SparkEntry.queries("q4_training_pipeline")
    private val nDocs = {
      val m = ujsonLite(s"${r.data}/manifest.json")
      (m("docs") * m("curate_replicas")).toLong
    }
    private var reference: Seq[Row] = null
    private var schema: StructType = null
    private val mismatches = mutable.ArrayBuffer.empty[String]
    private var passNo = 0

    /** q4's input and its C4-cleaned docs, as q4 builds them. Both are
      * lazy: q4 materializes neither. */
    private def input(d: DataFrame): DataFrame =
      d.filter(col("source") =!= "src0")
    private def cleaned(d: DataFrame): DataFrame =
      TextAnalysis.c4LineFilters(input(d), "doc_id", "text",
          minWordsPerLine = 30, requireTerminalPunct = false)
        .join(d.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"), col("text_kept").as("text"))

    /** Docs left after dedup in the last traced replay (a count of a
      * checkpointed frame, so it re-runs nothing). */
    private var nCorpus = -1L

    /** q4's body (Queries.scala) as direct calls, one span per call.
      * Materializes exactly where q4 does (its localCheckpoints). The
      * lazy C4 line filters run inside dedup.dropExactDups' checkpoint,
      * as in q4, so their CPU lands in dedup. The keep fractions'
      * counts of lazy frames run untimed after the loop (`finish`). */
    private def replay(trace: String): Seq[Row] = {
      val sc = spark.sparkContext
      val d = r.call(on = true, trace, "sources.parquet") { _ =>
        Readers.parquet(spark, s"$dir/documents.parquet")
      }
      graft.util.OptimizerTuning.tune(spark)
      val clean = r.tracked(on = true, trace, "text.c4LineFilters") {
        cleaned(d)
      }
      val exact = r.tracked(on = true, trace, "dedup.dropExactDups") {
        Dedup.dropExactDups(clean, "doc_id", "text")
          .withColumn("__toks", CaptionStats.tokens(col("text")))
          .localCheckpoint()
      }
      val parent = r.tracer.current
      val (near, bench) = Overlap.both(spark) {
        r.tracked(on = true, trace, "dedup.dropNearDupsKeepBest", parent) {
          Dedup.dropNearDupsKeepBest(
              exact.withColumn("__len", length(col("text"))),
              "doc_id", "text", "__len", threshold = 0.5,
              tokensCol = Some("__toks"))
            .drop("__len")
            .localCheckpoint()
        }
      } {
        r.tracked(on = true, trace, "dedup.prepareDecontamination", parent) {
          Dedup.prepareDecontamination(
            d.filter(col("source") === "src0"), "doc_id", "text")
        }
      }
      val spanned = r.tracked(on = true, trace, "dedup.dropDupSpans") {
        Dedup.dropDupSpans(near, "doc_id", "text", n = 8, minDocs = 2,
            tokensCol = Some("__toks"), keepToksCol = Some("__toks"))
          .select(col("doc_id"), col("text_kept").as("text"), col("__toks"))
          .join(near.select("doc_id", "source"), "doc_id")
      }
      val corpus = r.tracked(on = true, trace, "dedup.decontaminateWith") {
        Dedup.decontaminateWith(spanned, bench, "doc_id", "text",
          corpusTokensCol = Some("__toks")).localCheckpoint()
      }
      nCorpus = r.call(on = true, trace, "bench.count")(_ => corpus.count())
      val withW = r.tracked(on = true, trace, "text.unigramSurprisal") {
        val scored = TextAnalysis.unigramSurprisal(corpus, "doc_id", "text",
          tokensCol = Some("__toks"))
        corpus.select("doc_id", "source")
          .join(scored.select("doc_id", "n_toks", "mean_bits"), "doc_id")
          .localCheckpoint()
      }
      val out = r.tracked(on = true, trace, "analytics.mix") {
        Mixture.mix(withW, "doc_id", "source", "n_toks",
          Seq("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2), budget = 2000L)
          .select("doc_id", "source", "n_toks", "mean_bits")
          .orderBy("doc_id").collect().toSeq
      }
      sc.setJobDescription(null)
      out
    }

    def op(i: Int, traced: Boolean): Unit = {
      passNo += 1
      r.op("pass", "q4_training_pipeline", nDocs, traced) {
        val rows =
          if (traced) replay(s"pass-$passNo")
          else {
            val df = q4(spark, dir)
            if (schema == null) schema = df.schema
            df.collect().toSeq
          }
        // the first pass is untraced; every later pass, traced replays
        // included, must reproduce its output
        if (reference == null) reference = rows
        else if (rows != reference) mismatches += s"q4 pass-$passNo"
        Map("input_bytes" -> corpusBytes)
      }
    }

    def finish(): String = {
      val out = s"${r.work}/check/q4_training_pipeline"
      spark.createDataFrame(java.util.Arrays.asList(reference: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(out)
      // keep fractions of the traced run: (kept, seen) per layer
      val keeps =
        if (nCorpus < 0) Nil
        else {
          val d = Readers.parquet(spark, s"$dir/documents.parquet")
          val nIn = input(d).count().toDouble
          val nClean = cleaned(d).count().toDouble
          Seq("text" -> (nClean, nIn), "dedup" -> (nCorpus.toDouble, nClean))
        }
      Json.obj(Seq(
        "registry" -> Json.obj(Seq("q4_training_pipeline" -> Json.obj(Seq(
          "parquet" -> Json.str(out),
          "sql" -> Json.str(SparkEntry.oracleSql("q4_training_pipeline")),
          "tables" -> Json.str(dir))))),
        "mismatches" -> Json.arr(mismatches.map(Json.str)),
        "keep" -> Json.obj(keeps.map { case (k, (o, i)) =>
          k -> Json.arr(Seq(Json.num(o), Json.num(i))) })))
    }
  }

  // ------------------------------------------------------- interactive

  /** Short registry reads over cached sf0.01-size tables, IVF probes and
    * absorbs into one persisted index, in a seeded order. */
  final class Interactive(r: Run) extends Workload {
    import r.spark
    private val base = s"${r.data}/base"
    /** query name -> (layer, input tables). */
    private val reads: Seq[(String, String, Seq[String])] = Seq(
      ("a1_vocab", "analytics", Seq("documents")),
      ("a2_a5_column_stats", "analytics", Seq("lineitem")),
      ("q1_pricing_summary", "analytics", Seq("lineitem")),
      ("j2_join_agg", "analytics", Seq("lineitem", "orders", "customer")),
      ("p3_j1_union_origin", "analytics", Seq("customer")),
      ("o5_seeded_sample", "analytics", Seq("events")),
      ("p6_clamp_update", "analytics", Seq("events")),
      ("f1_range_filter", "filters", Seq("lineitem")),
      ("e1_caption_stats", "enrich", Seq("documents")))
    private val tables = reads.flatMap(_._3).distinct
    private lazy val tableRows: Map[String, Long] =
      tables.map(t => t -> r.read(s"base/$t.parquet").count()).toMap
    private val tableBytes: Map[String, Long] = tables.map(t =>
      t -> new File(s"$base/$t.parquet").length()).toMap
    private lazy val absorbBytesPerRow =
      new File(s"${r.data}/interactive/absorb.parquet").length().toDouble /
        absorbIds.length
    private val BatchQueries = 8
    private val K = 10
    private val NProbe = 2
    private val NCentroids = 16
    private var index: String = null
    /** Size of the index, updated by every absorb: a probe's input. */
    private var indexBytes = 0L
    private lazy val queries: Array[Row] =
      r.read("interactive/queries.parquet").orderBy("vec_id").collect()
    private lazy val absorbDf = r.read("interactive/absorb.parquet")
    private lazy val absorbIds: Array[Long] =
      absorbDf.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    private val batchRows = ujsonLite(s"${r.data}/manifest.json")(
      "absorb_batch_rows").toInt
    private var absorbed = 0
    private val probes = mutable.ArrayBuffer.empty[String]
    /** Each read's rows from the warm-up, which the oracle check sees;
      * every timed run of the read must return the same rows. */
    private val refs =
      scala.collection.concurrent.TrieMap.empty[String, (StructType, Array[Row])]
    private val mismatches = mutable.ArrayBuffer.empty[String]
    private var cycle: Seq[String] = Nil
    private val qSchema = StructType(Seq(
      StructField("qid", LongType), StructField("embedding",
        ArrayType(FloatType, containsNull = true))))

    private def queryDf(qs: Seq[Int]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(qs.map(q =>
        Row(q.toLong, queries(q).getAs[scala.collection.Seq[Float]](
          "embedding"))): _*), qSchema)

    /** Two rounds of the mix: each op type is sampled twice, which
      * halves the weight of one slow op in the run's figures. */
    override def minCycles: Int = 2

    override def warmup(): Unit = {
      // Two independent chains on concurrent driver threads (cold
      // planning and code generation are driver-side and single-
      // threaded): the reads, each once after the working set (every
      // table they scan) is cached; and the shared IVF index, a probe
      // and a batch probe on it, and an absorb into a scratch index (the
      // shared one must hold only the timed absorbs). Each read's rows
      // are kept: the oracle check compares them, and every timed run
      // must equal them.
      index = s"${r.work}/index"
      val idx = s"${r.work}/index-warmup"
      val vecs = r.read("interactive/index.parquet")
      inParallel(Seq(
        () => {
          inParallel(tables.map(t => () =>
            r.read(s"base/$t.parquet").cache().count(): Unit))
          tableRows
          inParallel(reads.map { case (q, _, _) => () =>
            val df = SparkEntry.queries(q)(spark, base)
            refs(q) = (df.schema, df.collect())
          })
        },
        () => {
          Ann.writeIvfIndex(vecs, "vec_id", "embedding",
            nCentroids = NCentroids, index)
          indexBytes = dirStats(new File(index))._1
          inParallel(Seq(
            () => Ann.ivfTopKFromIndex(spark, index, "vec_id", "embedding",
              queryDf(Seq(0)), "embedding", k = K, nProbe = NProbe)
              .collect(): Unit,
            () => Ann.ivfTopKPerQuery(spark, index, "vec_id", "embedding",
              queryDf(Seq(0, 1)), "qid", "embedding", k = K,
              nProbe = NProbe).collect(): Unit,
            () => Ann.writeIvfIndex(vecs.limit(1000), "vec_id", "embedding",
              nCentroids = NCentroids, idx)))
          Ann.absorbIvfIndex(spark, idx,
            vecs.orderBy(desc("vec_id")).limit(50), "vec_id", "embedding")
        }))
      deleteTree(new File(idx))
    }

    override def atBoundary: Boolean = cycle.isEmpty

    /** One cycle runs every op type once, in a seeded order. The equal
      * weights are an assumption: no recorded analyst session exists to
      * take a mix from. */
    private def nextCycle(): Seq[String] = r.rng.shuffle(
      reads.map(_._1) ++ Seq("probe", "batch_probe", "absorb"))

    private def probeJson(q: Int, state: Int,
                          hits: Seq[(Long, Double)]): String =
      Json.obj(Seq("query" -> q.toString, "absorbed" -> state.toString,
        "ids" -> Json.arr(hits.map(_._1.toString)),
        "cos" -> Json.arr(hits.map(h => Json.num(h._2)))))

    /** Same rows in any order. */
    private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
      a.length == b.length &&
        a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)

    def op(i: Int, traced: Boolean): Unit = {
      if (cycle.isEmpty) cycle = nextCycle()
      val name = cycle.head
      cycle = cycle.tail
      val trace = s"op-$i"
      name match {
        case "probe" =>
          val q = r.rng.nextInt(queries.length)
          val state = absorbed
          r.op("probe", "ivfTopKFromIndex", 1L, traced) {
            val rows = r.tracked(traced, trace,
              "similarity.ivfTopKFromIndex") {
              Ann.ivfTopKFromIndex(spark, index, "vec_id", "embedding",
                queryDf(Seq(q)), "embedding", k = K, nProbe = NProbe)
                .collect()
            }
            probes += probeJson(q, state,
              rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq)
            Map("results" -> rows.length.toDouble,
              "input_bytes" -> indexBytes.toDouble)
          }
        case "batch_probe" =>
          val qs = Seq.fill(BatchQueries)(r.rng.nextInt(queries.length))
            .distinct
          val state = absorbed
          r.op("probe", "ivfTopKPerQuery", qs.length.toLong, traced) {
            val rows = r.tracked(traced, trace,
              "similarity.ivfTopKPerQuery") {
              Ann.ivfTopKPerQuery(spark, index, "vec_id", "embedding",
                queryDf(qs), "qid", "embedding", k = K, nProbe = NProbe)
                .collect()
            }
            val byQuery = rows.groupBy(_.getLong(0))
            qs.foreach { q =>
              probes += probeJson(q, state, byQuery.getOrElse(q.toLong,
                Array.empty[Row]).map(x => (x.getLong(1), x.getDouble(2)))
                .toSeq)
            }
            Map("results" -> rows.length.toDouble,
              "input_bytes" -> indexBytes.toDouble)
          }
        case "absorb" =>
          if (absorbed * batchRows < absorbIds.length) {
            val lo = absorbIds(absorbed * batchRows)
            val hi = absorbIds(
              math.min((absorbed + 1) * batchRows, absorbIds.length) - 1)
            r.op("write", "absorbIvfIndex", batchRows.toLong, traced) {
              r.tracked(traced, trace, "similarity.absorbIvfIndex") {
                Ann.absorbIvfIndex(spark, index,
                  absorbDf.filter(col("vec_id").between(lo, hi)),
                  "vec_id", "embedding")
              }
              absorbed += 1
              val before = indexBytes
              indexBytes = dirStats(new File(index))._1
              Map("input_bytes" -> absorbBytesPerRow * batchRows,
                "written_bytes" -> (indexBytes - before).toDouble)
            }
          }
        case q =>
          val (_, layer, ts) = reads.find(_._1 == q).get
          var got: Array[Row] = null
          r.op("read", q, ts.map(tableRows).sum, traced) {
            got = r.tracked(traced, trace, s"$layer.$q") {
              SparkEntry.queries(q)(spark, base).collect()
            }
            Map("input_bytes" -> ts.map(tableBytes).sum.toDouble)
          }
          // untimed: a failed op is counted as failed, not as a mismatch
          if (got != null && !sameRows(got, refs(q)._2))
            mismatches += s"$q op-$i"
      }
    }

    def finish(): String = {
      inParallel(reads.map { case (q, _, _) => () =>
        val (schema, rows) = refs(q)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${r.work}/check/$q")
      })
      val registry = reads.map { case (q, _, _) =>
        q -> Json.obj(Seq("parquet" -> Json.str(s"${r.work}/check/$q"),
          "sql" -> Json.str(SparkEntry.oracleSql(q)),
          "tables" -> Json.str(base)))
      }
      val cells = spark.read.parquet(s"$index/cells")
      val idxRows = cells.count()
      val idxDistinct = cells.select("vec_id").distinct().count()
      // the numpy exact top-k (metrics.py) is cross-checked against the
      // program's own exact search once per run
      val exact = Ann.bruteForceTopK(cells, "vec_id", "embedding",
        queryDf(Seq(0)), "embedding", K).collect()
      Json.obj(Seq(
        "registry" -> Json.obj(registry),
        "mismatches" -> Json.arr(mismatches.map(Json.str)),
        "probes" -> Json.arr(probes),
        "absorbed_batches" -> absorbed.toString,
        "batch_rows" -> batchRows.toString,
        "index" -> Json.str(index),
        "n_probe" -> NProbe.toString,
        "index_rows" -> idxRows.toString,
        "index_distinct_ids" -> idxDistinct.toString,
        "index_files" -> dataFiles(new File(s"$index/cells")).size.toString,
        "index_bytes" -> dirStats(new File(s"$index/cells"))._1.toString,
        "brute_force_q0" -> Json.obj(Seq(
          "ids" -> Json.arr(exact.map(_.getLong(0).toString)),
          "cos" -> Json.arr(exact.map(x => Json.num(x.getDouble(1))))))))
    }
  }
}
