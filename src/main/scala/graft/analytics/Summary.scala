package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Notebook-style analytics (SURVEY.md §2.5/§2.6/§3.2): column-wise summary
  * statistics, boxplot/quantile stats, unions with origin tags, clamp
  * updates, deterministic sampling.
  *
  * The per-column min/max/mean/median 16-fold loop of
  * `f30k_vs_coco_vs_wicsmmir_v2.ipynb:16515-16549` collapses into ONE
  * distributed exact selection keyed by column ([[Quantiles]]), with
  * min/max/mean fused into its first scan — never Spark's exact
  * `percentile`, whose aggregation buffer holds every value of the column
  * on a single final task (an OOM at 100 TB and the slowest query of the
  * r2 bench).
  */
object Summary {

  /** Exact mean: decimal-sum (associativity-proof, so partial/final agg
    * order can't perturb bits) cast to double, divided by count. Matches a
    * SQL oracle bit-for-bit, unlike avg() over doubles whose partial-sum
    * order is engine- and run-dependent. */
  private def exactMean(c: String): Column =
    // r21: ExactSum.dsum ≡ sum(cast(c as decimal(24,6))).cast(double)
    // (ExactSumSpec) without the per-row BigDecimal tax
    ExactSum.dsum(col(c)) / count(col(c))

  /** Driver-side round(x, 4), same semantics as Spark's round
    * (shortest-repr BigDecimal, HALF_UP): parity with the DuckDB
    * oracle's round(quantile_cont(...), 4). */
  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A2–A5: one row per input column with min/max/mean/median.
    * Emitted long-form (stat matrix), mirroring the notebook's compare table
    * shape (36 rows of dataset×backend×stat, ipynb:17229-17263).
    *
    * All four come from [[Quantiles.quantiles]] over the columns melted
    * to (column, `__v` = CAST(c AS DOUBLE)): the median from its exact
    * selection keyed by column (memory bounded by partition size), and
    * min/max/mean as per-key aggregates over `__v` fused into its first
    * scan. The cast is monotone and ExactSum casts to double before
    * anything else, so these equal `min(c)`, `max(c)` and the
    * exact mean of `c` cast to double. The k stat rows are assembled on
    * the driver. (A `stack` Generator over an Aggregate re-executes the
    * aggregate once per emitted row — measured 4× the scan cost at
    * sf0.1 — so the small collect is the scalable shape.) A column with
    * no non-null value gets nulls, as SQL's min and `quantile_cont` do. */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val v = col("__v")
    val (medians, extras) = Quantiles.quantiles(df, cols,
      Seq(0.5), Seq(min(v).as("__min"), max(v).as("__max"),
        exactMean("__v").as("__mean")))
    val rows = cols.sorted.map { c =>
      val e = extras.get(c)
      def stat(f: String): Any = e.map(r => r.get(r.fieldIndex(f))).orNull
      org.apache.spark.sql.Row(c, stat("__min"), stat("__max"),
        stat("__mean"), medians.get((c, 0.5)).map(r4).getOrElse(null))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("col_name",
        org.apache.spark.sql.types.StringType, nullable = false)) ++
      Seq("min_v", "max_v", "mean_v", "median_v").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DoubleType)))
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** A10: boxplot stats (whis=[0,100] → min/max whiskers, ipynb:17301-17345)
    * per group: min, q25, median, q75, max, mean.
    *
    * Quartiles from the exact per-group selection of [[Quantiles]]
    * (three map-side-combined aggregates keyed by group; min/max/mean
    * fuse into its first scan) — no agg buffer ever holds a group's
    * values, unlike exact `percentile`. Where the selection gives up
    * (more than 64 groups, NaN, band overflow, an unmatchable key) the
    * Window rank form [[boxplotStatsBySort]] runs instead, with
    * identical results (spec-pinned). Null values are dropped
    * (percentile/quantile_cont semantics); all-null groups are absent. */
  def boxplotStats(df: DataFrame, valueCol: String,
                   groupCols: Seq[String]): DataFrame = {
    val extras = Seq(
      min(col(valueCol)).cast("double").as("__lo"),
      max(col(valueCol)).cast("double").as("__hi"),
      exactMean(valueCol).as("__mean"))
    Quantiles.groupedQuantilesWithExtras(df, valueCol, groupCols,
      Seq(0.25, 0.5, 0.75), extras) match {
      case (rowsA, Some(byKey)) =>
        val out = rowsA.flatMap { ra =>
          val k = groupCols.indices.map(ra.get)
          byKey.get(k).map(qs => org.apache.spark.sql.Row.fromSeq(k ++ Seq(
            ra.getAs[Double]("__lo"), r4(qs(0.25)), r4(qs(0.5)),
            r4(qs(0.75)), ra.getAs[Double]("__hi"),
            ra.getAs[Double]("__mean"))))
        }
        val schema = org.apache.spark.sql.types.StructType(
          groupCols.map(c => df.schema(c)) ++
            Seq("lo_whisker", "q25", "median", "q75", "hi_whisker",
              "mean").map(n => org.apache.spark.sql.types.StructField(
              n, org.apache.spark.sql.types.DoubleType)))
        df.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
          schema).orderBy(groupCols.map(col): _*)
      case (_, None) => boxplotStatsBySort(df, valueCol, groupCols)
    }
  }

  /** The pre-r21 Window-rank form of [[boxplotStats]] — kept as the
    * fallback for shapes the bracket-select cannot take (and as the
    * equivalence witness in SummarySpec). */
  private[analytics] def boxplotStatsBySort(
      df: DataFrame, valueCol: String,
      groupCols: Seq[String]): DataFrame =
    Quantiles.withRanks(df, valueCol, groupCols)
      .groupBy(groupCols.map(col): _*).agg(
        min(col(valueCol)).cast("double").as("lo_whisker"),
        round(Quantiles.quantileCont(valueCol, 0.25), 4).as("q25"),
        round(Quantiles.quantileCont(valueCol, 0.5), 4).as("median"),
        round(Quantiles.quantileCont(valueCol, 0.75), 4).as("q75"),
        max(col(valueCol)).cast("double").as("hi_whisker"),
        exactMean(valueCol).as("mean"))
      .orderBy(groupCols.map(col): _*)

  /** J1 + P3: union of tagged slices (`coco.ipynb:482`,
    * `generate_wismir_vocab.ipynb:60`). Name-based, not positional. */
  def unionWithOrigin(parts: Seq[(DataFrame, String)]): DataFrame =
    parts.map { case (df, origin) =>
      df.withColumn("origin", lit(origin))
    }.reduce(_ unionByName _)

  /** P6: clamp update `x = min(x, hi)`
    * (`f30k_vs_coco_vs_wicsmmir_v2.ipynb:17491`). */
  def clamp(df: DataFrame, c: String, hi: Double): DataFrame =
    df.withColumn(c, least(col(c), lit(hi)))

  /** O5: deterministic fixed-n "seeded" sample. pandas RNG
    * (`sample(n, random_state)`, ipynb:17564-17567) is not reproducible
    * cross-engine, so engine semantics are: order by md5(key) — a stable,
    * uniform, engine-independent permutation — and take n. Scales as a
    * TakeOrderedAndProject (no global sort materialization). */
  def seededSample(df: DataFrame, keyCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(keyCol).cast("string")), col(keyCol)).limit(n)

  /** O8: deterministic weighted sample — systematic
    * probability-proportional-to-size selection over the engine's md5
    * permutation. Rows are laid on a line in md5(key) order, each
    * spanning its weight; a grid of `n` equally-spaced points picks the
    * rows it lands on, so inclusion probability is proportional to
    * weight and the draw is reproducible in ANY engine (selection is
    * pure INTEGER arithmetic — `(cum·n) div total` crossing — no RNG, no
    * libm `pow/ln` whose last ulp differs across engines; cf. the
    * weighted-reservoir u^(1/w) keys, which are not cross-engine exact).
    * Returns at most `n` rows; exactly `n` when no single weight exceeds
    * total/n (a heavier row still appears once — sampling
    * without replacement).
    *
    * Scale shape: NO global sort. The cumulative sum distributes by
    * bucketing on the first `hexChars` of md5 (deterministic FROM THE
    * DATA, so there is no recompute-sensitive spark_partition_id to
    * persist against): one map-combined groupBy collects the 16^hexChars
    * bucket subtotals to the driver, which folds them into literal
    * offsets; the per-bucket cumsum is then a window on the bucket key —
    * uniform md5 spreads load evenly, and `hexChars` scales the reducer
    * count. Weights must be non-negative; zero-weight rows are never
    * selected. `total × n` must fit a signed 64-bit integer (at larger
    * scale, widen to decimal(38,0) on both engines). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     n: Int, hexChars: Int = 2): DataFrame = {
    require(n > 0, "sample size must be positive")
    val (cum, total) = Cumsum.mdOrderCumsum(df, keyCol, weightCol, hexChars)
    require(total <= Long.MaxValue / n,
      s"total weight x n overflows long ($total x $n) - widen to decimal")
    cum
      .filter(expr(s"(__cum * $n) DIV $total > " +
        s"((__cum - `$weightCol`) * $n) DIV $total"))
      .drop("__cum")
  }
}
