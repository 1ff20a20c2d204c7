package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** Exact distributed quantiles (`quantile_cont` semantics: linear
  * interpolation at position p·(n−1), matching both pandas `median` and
  * Spark's exact `percentile`).
  *
  * Why not `percentile(c, p)`: Spark's exact percentile is an
  * ObjectHashAggregate whose buffer holds EVERY value of the column and is
  * merged onto a single final task — at 100 TB that is tens of GB in one
  * aggregation buffer (OOM), and it was the slowest query in the r2 bench.
  *
  * Here there is ONE exact selection, [[groupedQuantilesWithExtras]]: a
  * bracket-and-select keyed by group, three map-side-combined codegen
  * aggregates and no wide shuffle of the values. Global quantiles of
  * several columns (A2–A5 column stats, [[globalQuantiles]]) are its
  * special case keyed by column: [[melt]] first turns the columns into
  * (`__k`, `__v`) rows. When the selection gives up it has two
  * fallbacks, each with identical results at the old cost: global
  * callers run [[globalQuantilesBySort]] (range partition + local sort),
  * the A10 boxplot runs the Window rank form ([[withRanks]] +
  * [[quantileCont]]).
  *
  * Interpolation reproduces Spark's `Percentile.getPercentile` bit-for-bit
  * ((1−frac)·lo + frac·hi with exact frac ∈ {0, .25, .5, .75}), so results
  * hash-match the DuckDB `quantile_cont` oracle exactly as the old
  * `percentile` path did.
  */
object Quantiles {

  /** Driver cap on collected (value, count) band rows in pass C of
    * [[groupedQuantilesWithExtras]] before it gives up and the caller's
    * fallback runs. ~32 B/row ⇒ the default 4M rows ≈ 130 MB worst
    * case. */
  val MaxBandRowsConf = "spark.graft.quantiles.maxBandRows"

  /** Pass-B histogram buckets per key: more buckets ⇒ narrower pass-C
    * bands at the cost of a bigger (still tiny) histogram collect. */
  private val Buckets = 8192

  /** Keys the selection takes at most: its per-key `when` chains and
    * the histogram collect grow with the key count. */
  private val MaxKeys = 64

  /** `cols` as (`__k` = the column's index in `cols`, `__v` = CAST(c AS
    * DOUBLE)) rows, one per non-null value, with the `keep` columns
    * carried along. The key is the index, not the name: every pass
    * hashes and compares it per value, and an int costs less there than
    * a string (a2_a5's three passes at sf0.1 on local[4]: 1.41 s keyed
    * by name, 0.93 s by index). The stack Generator sits over the scan
    * (never over an Aggregate), so nothing re-executes. */
  private def melt(df: DataFrame, cols: Seq[String],
                   keep: String*): DataFrame =
    df.selectExpr(keep :+ (s"stack(${cols.length}, " +
      cols.zipWithIndex.map { case (c, i) => s"$i, CAST(`$c` AS DOUBLE)" }
        .mkString(", ") + ") AS (__k, __v)"): _*)
      .where(col("__v").isNotNull)

  /** The 0-based ranks [[interpolate]] reads for `ps` over `n` values. */
  private def neededRanks(n: Long, ps: Seq[Double]): Seq[Long] =
    ps.flatMap { p =>
      val lo = math.floor((n - 1) * p).toLong
      Seq(lo, math.min(lo + 1, n - 1))
    }.distinct.sorted

  /** `quantile_cont` at `p` of `n` values, `at(i)` being the i-th
    * smallest (0-based): Spark's `Percentile.getPercentile` form. */
  private def interpolate(n: Long, p: Double)(at: Long => Double): Double = {
    val pos = (n - 1) * p
    val lo = math.floor(pos).toLong
    val frac = pos - lo
    if (frac == 0.0) at(lo)
    else (1.0 - frac) * at(lo) + frac * at(math.min(lo + 1, n - 1))
  }

  /** Exact quantiles of several numeric columns at several fractions.
    * Returns (colName, p) -> value; columns with zero non-null rows are
    * absent from the map. */
  def globalQuantiles(df: DataFrame, cols: Seq[String],
                      ps: Seq[Double]): Map[(String, Double), Double] =
    exact(df, cols, ps, Nil)._1

  /** The exact backend: the grouped selection over the melted columns,
    * keyed by `__k`, and [[globalQuantilesBySort]] when it gives up.
    * Also returns the pass-A row of every column with a non-null value,
    * which carries `extras` (aggregates over `__v`) by alias. */
  private def exact(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                    extras: Seq[Column])
  : (Map[(String, Double), Double], Map[String, Row]) = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val (rowsA, selected) = groupedQuantilesWithExtras(melt(df, cols),
      "__v", Seq("__k"), ps, extras, maxRows = cols.length)
    val qs = selected match {
      case Some(byKey) =>
        for ((k, byP) <- byKey; (p, q) <- byP)
          yield (cols(k.head.asInstanceOf[Int]), p) -> q
      case None => globalQuantilesBySort(df, cols, ps)
    }
    (qs, rowsA.map(r => cols(r.getInt(0)) -> r).toMap)
  }

  /** A group-key value the driver-side lookups cannot match: NaN (Scala
    * NaN != NaN, while Spark's grouping treats NaN = NaN), a binary
    * array (reference equality), or a value `lit()` cannot encode
    * (structs, maps) — the per-key predicates rebuild keys as literals,
    * and an unencodable key must fall back, not throw 'Unsupported
    * literal type' out of a stats call. */
  private def unmatchable(kv: Any): Boolean = kv match {
    case null => false
    case d: java.lang.Double => d.isNaN
    case f: java.lang.Float => f.isNaN
    case _: Array[_] => true
    case _: java.lang.Number | _: String | _: java.lang.Boolean => false
    case other => scala.util.Try(lit(other)).isFailure
  }

  /** Exact PER-KEY quantiles by BRACKET-AND-SELECT: three
    * map-side-combined, fully-codegen aggregate scans keyed by
    * `groupCols` and NO wide shuffle of the values (vs a range-partition
    * or Window sort, whose parallelism is the key count: a 3-group
    * boxplot over a 600k-row column sorted on 3 tasks). Everything is
    * EXACT counting — no sketch and no approximation anywhere:
    *
    *  - pass A: per key — non-null count, NaN count, min, max, with the
    *    caller's `extras` fused into the same scan;
    *  - pass B: per key, EXACT counts over a fixed-width value histogram
    *    of [[Buckets]] buckets between min and max; the cumulative counts
    *    locate, for every needed 0-based rank, the ONE bucket holding it;
    *  - pass C: distinct (value, count) pairs of just those buckets — the
    *    bucket-index expression is literally the same as pass B's, so the
    *    counts agree row-for-row; the exact k-th element is then
    *    driver-side rank arithmetic (bucket's cumulative offset +
    *    cumulative in-bucket counts).
    *
    * Returns pass A's rows (the group columns, then `extras` by alias,
    * then `__qn/__qnan/__qmn/__qmx`; at most `maxRows` + 1 of them) and,
    * unless the selection gave up, key -> (p -> exact value) for every
    * key with ≥ 1 non-null value (all-null keys are absent — the Window
    * form's na.drop semantics). It gives up, and the caller runs its
    * fallback, on more than [[MaxKeys]] keys, NaN values (their sort
    * position is not a value comparison), an infinite min/max or a
    * bucket width that under/overflows, a band over [[MaxBandRowsConf]]
    * (adversarial skew: a near-constant key with its mass inside one
    * bucket), or an [[unmatchable]] key. */
  private[analytics] def groupedQuantilesWithExtras(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      ps: Seq[Double], extras: Seq[Column], maxRows: Int = MaxKeys)
  : (Seq[Row], Option[Map[Seq[Any], Map[Double, Double]]]) = {
    require(groupCols.nonEmpty && ps.nonEmpty, "need groups and ps")
    val maxBand = df.sparkSession.conf
      .get(MaxBandRowsConf, (1 << 22).toString).toLong
    val v = col(s"`$valueCol`").cast("double")
    val keyCols = groupCols.map(c => col(s"`$c`"))
    val aggsA = extras ++ Seq(count(v).as("__qn"),
      count(when(isnan(v), 1)).as("__qnan"),
      min(v).as("__qmn"), max(v).as("__qmx"))
    val rowsA = df.groupBy(keyCols: _*).agg(aggsA.head, aggsA.tail: _*)
      .limit(maxRows + 1).collect().toSeq
    def key(r: Row): Seq[Any] = groupCols.indices.map(r.get)

    def select(): Option[Map[Seq[Any], Map[Double, Double]]] = {
      if (rowsA.length > MaxKeys ||
          rowsA.exists(_.getAs[Long]("__qnan") > 0L) ||
          rowsA.exists(r => key(r).exists(unmatchable)))
        return None
      val live = rowsA.filter(_.getAs[Long]("__qn") > 0L)
      val n = live.map(r => key(r) -> r.getAs[Long]("__qn")).toMap
      val mn = live.map(r => key(r) -> r.getAs[Double]("__qmn")).toMap
      val mx = live.map(r => key(r) -> r.getAs[Double]("__qmx")).toMap
      val valueAt =
        scala.collection.mutable.Map.empty[(Seq[Any], Long), Double]
      // constant keys resolve from pass A alone
      val multi = live.map(key).filter { k =>
        if (mn(k) == mx(k)) {
          neededRanks(n(k), ps).foreach(gi => valueAt((k, gi)) = mn(k))
          false
        } else true
      }
      if (multi.nonEmpty) {
        if (multi.exists(k => mn(k).isInfinite || mx(k).isInfinite))
          return None
        val width = multi.map(k => k -> ((mx(k) - mn(k)) / Buckets)).toMap
        if (width.values.exists(w => w <= 0.0 || w.isInfinite || w.isNaN))
          return None // under/overflowed range
        def isKey(k: Seq[Any]): Column =
          keyCols.zip(k).map { case (c, kv) => c <=> lit(kv) }.reduce(_ && _)
        def perKey(m: Map[Seq[Any], Double]): Column =
          multi.tail.foldLeft(lit(m(multi.head))) { (acc, k) =>
            when(isKey(k), lit(m(k))).otherwise(acc)
          }
        // THE bucket-index expression — built once, used verbatim in both
        // pass B and pass C so their row sets can never disagree
        val bIdx = least(lit((Buckets - 1).toLong), greatest(lit(0L),
          floor((v - perKey(mn)) / perKey(width))))
        def melted = df.where(v.isNotNull && multi.map(isKey).reduce(_ || _))
          .select(keyCols :+ v.as("__v") :+ bIdx.as("__b"): _*)
        // pass B: exact per-(key, bucket) counts (≤ buckets × keys rows)
        val hist = multi.map(k => k -> Array.fill(Buckets)(0L)).toMap
        melted.groupBy(keyCols :+ col("__b"): _*)
          .agg(count(lit(1)).as("__c"))
          .collect().foreach { r =>
            hist(key(r))(r.getAs[Long]("__b").toInt) = r.getAs[Long]("__c")
          }
        // crossing bucket + its cumulative offset for every needed rank:
        // the FIRST b with cum(b) ≤ gi < cum(b+1) (a binary search over
        // cum would land on an arbitrary member of an equal run — empty
        // buckets make cum non-strictly increasing)
        val crossing: Map[Seq[Any], Map[Long, (Int, Long)]] = multi.map { k =>
          val cum = hist(k).scanLeft(0L)(_ + _) // cum(i) = rows in buckets < i
          k -> neededRanks(n(k), ps).map { gi =>
            var b = 0
            while (cum(b + 1) <= gi) b += 1
            gi -> (b, cum(b))
          }.toMap
        }.toMap
        // pass C: distinct values + counts of just the crossing buckets
        val inWanted = multi.map { k =>
          isKey(k) && col("__b").isin(crossing(k).values.map(_._1).toSeq: _*)
        }.reduce(_ || _)
        val rows = melted.where(inWanted)
          .groupBy(keyCols :+ col("__b") :+ col("__v"): _*)
          .agg(count(lit(1)).as("__c"))
          .limit(math.min(maxBand + 1, Int.MaxValue.toLong).toInt)
          .collect()
        if (rows.length > maxBand) return None
        val nk = groupCols.length
        val byKey = rows.groupBy(key)
        for (k <- multi) {
          val byBucket = byKey.getOrElse(k, Array.empty).groupBy(_.getLong(nk))
          for ((gi, (b, off)) <- crossing(k)) {
            val vs = byBucket.getOrElse(b.toLong, Array.empty)
              .map(r => (r.getDouble(nk + 1), r.getLong(nk + 2))).sortBy(_._1)
            var cum = off
            vs.find { case (_, c) => cum += c; gi < cum } match {
              case Some((vv, _)) => valueAt((k, gi)) = vv
              case None => return None // cannot happen; belt-and-braces
            }
          }
        }
      }
      Some(live.map { r =>
        val k = key(r)
        k -> ps.map(p => p -> interpolate(n(k), p)(gi => valueAt((k, gi))))
          .toMap
      }.toMap)
    }
    (rowsA, select())
  }

  /** The pre-r21 exact path — range partition + local sort + histogram +
    * targeted k-th lookup, the fallback of the global callers. Memory is
    * bounded by partition size at ANY band width.
    *
    * One wide shuffle (range partition of the melted single-value rows) +
    * one small aggregate (per-partition histogram, ≤ partitions×cols rows
    * to the driver) + one filtered lookup of ≤ 2·|cols|·|ps| rows. */
  private[analytics] def globalQuantilesBySort(
      df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[(String, Double), Double] = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val spark = df.sparkSession
    val nParts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // range partition on (key, value): global order across partitions,
    // equal values co-located, so global rank = partition offset + local
    // rank. Persisted because the histogram pass and the lookup pass must
    // see the SAME partitioning (spark_partition_id is recompute-sensitive).
    CacheScope.run { scope =>
      val sorted = scope.cache(melt(df, cols)
        .repartitionByRange(nParts, col("__k"), col("__v"))
        .sortWithinPartitions("__k", "__v")
        .select(col("__k"), col("__v"), spark_partition_id().as("__pid")))
      val hist = sorted.groupBy("__pid", "__k").count().collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val counts: Map[Int, Long] =
        hist.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._3).sum }
      // per key: (pid, firstGlobalIndex, rowsInPid), pids ascending
      val offsets: Map[Int, Seq[(Int, Long, Long)]] =
        hist.groupBy(_._2).map { case (k, rs) =>
          var off = 0L
          k -> rs.sortBy(_._1).toSeq.map { case (pid, _, cnt) =>
            val o = off; off += cnt; (pid, o, cnt)
          }
        }
      val live = cols.indices.filter(k => counts.getOrElse(k, 0L) > 0)
      val needed: Set[(Int, Long)] =
        live.flatMap(k => neededRanks(counts(k), ps).map(k -> _)).toSet
      if (needed.isEmpty) Map.empty
      else {
        // global index -> (pid, 1-based local rank within (pid, key))
        val lookups: Set[(Int, Int, Long)] = needed.map { case (k, gi) =>
          val (pid, off, _) = offsets(k)
            .find { case (_, o, cnt) => gi >= o && gi < o + cnt }.get
          (pid, k, gi - off + 1)
        }
        val pids = lookups.map(_._1).toSeq
        val w = Window.partitionBy("__pid", "__k").orderBy("__v")
        val wanted = lookups.map { case (pid, k, rn) =>
          col("__pid") === pid && col("__k") === k && col("__rn") === rn
        }.reduce(_ || _)
        val valueAt: Map[(Int, Long), Double] = sorted
          .filter(col("__pid").isin(pids: _*))
          .withColumn("__rn", row_number().over(w))
          .filter(wanted)
          .select("__pid", "__k", "__rn", "__v")
          .collect()
          .map { r =>
            val pid = r.getInt(0); val k = r.getInt(1)
            val off = offsets(k).find(_._1 == pid).get._2
            (k, off + r.getInt(2) - 1) -> r.getDouble(3) // row_number is Int
          }.toMap
        (for (k <- live; p <- ps) yield (cols(k), p) ->
          interpolate(counts(k), p)(gi => valueAt((k, gi)))).toMap
      }
    }
  }

  /** At-scale variant: Spark's `percentile_approx` — a Greenwald–Khanna
    * sketch that is MERGEABLE (map-side partial agg, constant memory per
    * task, one tiny final merge), vs the exact path's three passes over
    * every value. Rank error is bounded by n/`accuracy`, so with the 10k default
    * the reported value sits within ±0.01% of the true rank. Same return
    * shape as [[globalQuantiles]]; columns with zero non-null rows are
    * absent. This is the swap SCALE.md documents for 100 TB — the exact
    * path stays the default for oracle parity. */
  def globalQuantilesApprox(df: DataFrame, cols: Seq[String],
                            ps: Seq[Double], accuracy: Int = 10000)
  : Map[(String, Double), Double] = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val aggs = cols.map { c =>
      percentile_approx(col(c).cast("double"),
        array(ps.map(lit): _*), lit(accuracy)).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    (for {
      (c, i) <- cols.zipWithIndex if !row.isNullAt(i)
      (p, j) <- ps.zipWithIndex
    } yield (c, p) -> row.getSeq[Double](i)(j)).toMap
  }

  /** Sketch backend: rank queries from the mergeable bottom-k quantile
    * sketch ([[Sketches.quantileSketch]]) — the third rung of the
    * at-scale ladder. Exact ([[globalQuantiles]]) reads every value in
    * three aggregate passes; [[globalQuantilesApprox]] is
    * Greenwald–Khanna inside one job; THIS form is for when quantile
    * state must OUTLIVE the job — per-shard sketches persist, absorb
    * per crawl ([[Sketches.quantileSketchMerge]]), and answer later
    * rank queries without re-reading anything, the m19/KMV store
    * discipline. Answers are `quantile_disc`-style (an element of the
    * data) within DKW rank error sqrt(ln(2/δ)/(2k)) — k = 8192 gives
    * ±2.1% rank at 99.9% confidence, uniformly over ALL fractions at
    * once (what a profiling pass actually wants).
    *
    * `keyCols` must identify rows uniquely (the uniform-sampling
    * contract); they are JSON-encoded as a struct (collision-free:
    * values containing any separator are escaped, and nulls are kept
    * as explicit JSON nulls, so ('a', null) ≠ ('a,null') ≠ (null,
    * 'a')) and hashed. Columns with zero non-null rows are absent
    * from the map, matching the other backends. */
  def globalQuantilesSketch(df: DataFrame, keyCols: Seq[String],
                            cols: Seq[String], ps: Seq[Double],
                            k: Int = 8192)
  : Map[(String, Double), Double] = {
    require(keyCols.nonEmpty && cols.nonEmpty && ps.nonEmpty,
      "need at least one key column, value column, and fraction")
    val melted = melt(df.withColumn("__key",
      to_json(struct(keyCols.map(col): _*),
        Map("ignoreNullFields" -> "false"))), cols, "__key")
    val sk = Sketches.quantileSketch(melted, "__k", "__key", "__v", k)
    Sketches.sketchQuantiles(sk, ps).collect()
      .map(r => (cols(r.getInt(0)), r.getDouble(1)) -> r.getDouble(2))
      .toMap
  }

  /** The ONE parser of `spark.graft.quantiles.approx`, shared by every
    * consumer of the key (this dispatcher and
    * [[graft.text.TextAnalysis.surprisalBuckets]]): "exact" | "gk" |
    * "sketch". Booleans are case-insensitive (Spark's own boolean
    * confs accept `True`); anything else fails loud naming the key
    * and the accepted values — a typo'd backend must never silently
    * fall back to a different accuracy contract, and a second call
    * site doing its own `.toBoolean` is how one consumer crashes on
    * the value another accepts. */
  def approxMode(conf: org.apache.spark.sql.RuntimeConfig): String =
    conf.get("spark.graft.quantiles.approx", "false") match {
      case s if s.equalsIgnoreCase("sketch") => "sketch"
      case s if s.equalsIgnoreCase("true") => "gk"
      case s if s.equalsIgnoreCase("false") => "exact"
      case other => throw new IllegalArgumentException(
        s"spark.graft.quantiles.approx=$other is not recognized — " +
          "accepted values: false (exact, default), true " +
          "(Greenwald-Khanna in-job), sketch (mergeable bottom-k " +
          "sketch; needs spark.graft.quantiles.sketchKey)")
    }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.quantiles")

  /** Auto-switch ceiling for the EXACT path, in estimated melted
    * VALUES (rows × requested columns): above it the dispatcher
    * swaps to Greenwald–Khanna with a loud log instead of paying the
    * exact path's passes over every value (and, on its sort fallback,
    * an all-values shuffle) on a corpus nobody wants it on. `0` (or negative)
    * disables the switch entirely — what [[graft.Verify]] pins, so
    * the oracle gate can NEVER silently change accuracy contracts no
    * matter what the size estimate says. Estimates come from
    * Catalyst (`optimizedPlan.stats` on the pruned projection:
    * rowCount when CBO has one, else sizeInBytes over an 8-byte/value
    * floor) — order-of-magnitude is all the switch needs. A frame
    * whose size Catalyst does NOT know (the Long.MaxValue
    * `defaultSizeInBytes` sentinel — e.g. RDD-backed frames) never
    * switches: changing the accuracy contract on unknown data would
    * be a guess, and a 100-row local frame is the common case there. */
  val AutoGkThresholdConf = "spark.graft.quantiles.autoGkThreshold"
  val DefaultAutoGkThreshold: Long = 2_000_000_000L

  /** Which backend the last [[quantiles]] call dispatched to ON THIS
    * THREAD — "exact" | "gk" | "gk-auto" | "sketch". A telemetry/test
    * seam: the auto-switch must be PROVABLY firing (SummarySpec), and
    * a log line is not assertable without appender surgery.
    * Thread-local so concurrent jobs can't clobber each other's
    * reading. */
  private val _lastDispatch = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }
  private[analytics] def lastDispatch: String = _lastDispatch.get
  private def dispatched(which: String): Unit = _lastDispatch.set(which)

  /** Estimated melted value count of `cols` in `df`, from Catalyst's
    * planning-time stats on the pruned projection (no job runs).
    * Column names are backtick-quoted like [[melt]]'s stack expression,
    * so a dotted column name dispatches the same way it computes.
    *
    * Returns None when any LEAF of the plan reports the UNKNOWN
    * sentinel (`spark.sql.defaultSizeInBytes`, Long.MaxValue by
    * default — what stats-less relations like LogicalRDD return): an
    * accuracy contract must never silently change on data whose size
    * Catalyst simply doesn't know. The sentinel test is at the
    * LEAVES, not the projected top — Project scaling multiplies the
    * child estimate by outputRowSize/childRowSize, so a projected
    * sentinel sails under any top-level Long.MaxValue check while
    * still being pure fiction. Conversely a HUGE estimate computed
    * from KNOWN leaves (a join-product blow-up) is exactly when the
    * memory-ceiling switch matters most, so it estimates normally. */
  private def estimatedValueCount(df: DataFrame,
                                  cols: Seq[String]): Option[Long] = {
    val plan = df.select(cols.map(c => col(s"`$c`")): _*)
      .queryExecution.optimizedPlan
    val sentinel = BigInt(df.sparkSession.conf
      .get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString).toLong)
    if (plan.collectLeaves().exists(_.stats.sizeInBytes >= sentinel))
      return None
    val stats = plan.stats
    // clamp the CBO BigInt BEFORE narrowing: a rowCount above
    // Long.MaxValue would wrap negative and silently disable the
    // switch exactly on the hugest inputs
    val rows = stats.rowCount
      .map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse(
      (stats.sizeInBytes / math.max(1, 8L * cols.length))
        .min(Long.MaxValue).toLong)
    Some(math.min(Long.MaxValue / math.max(1, cols.length), rows) *
      cols.length)
  }

  /** Flag-dispatched entry point used by [[graft.analytics.Summary]]:
    * exact by default (bit-for-bit oracle parity);
    * `spark.graft.quantiles.approx=true` (optionally
    * `spark.graft.quantiles.accuracy=N`) runs Greenwald–Khanna
    * in-job; `spark.graft.quantiles.approx=sketch` (with
    * `spark.graft.quantiles.sketchKey=<row-unique col[,col...]>`,
    * optionally `spark.graft.quantiles.sketchK=N`) runs the mergeable
    * bottom-k sketch whose state can persist across jobs. */
  def quantiles(df: DataFrame, cols: Seq[String],
                ps: Seq[Double]): Map[(String, Double), Double] =
    quantilesWithExtras(df, cols, ps, Nil)._1

  /** [[quantiles]] plus caller-supplied `extras`: aggregates over the
    * melted `__v` (each requested column as DOUBLE), computed per column
    * and returned as column name -> row, fields by alias. Every backend
    * returns this one shape, and a column with no non-null value has no
    * row. The exact path fuses the extras into its pass-A scan (one
    * aggregate job instead of two — what Summary.columnStats uses for its
    * min/max/mean), and its rows also carry pass A's `__qn/__qnan/__qmn/
    * __qmx`; the gk, sketch and gk-auto backends run one `groupBy(__k)`
    * aggregate of their own. */
  def quantilesWithExtras(df: DataFrame, cols: Seq[String],
                          ps: Seq[Double], extras: Seq[Column])
  : (Map[(String, Double), Double], Map[String, Row]) = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val conf = df.sparkSession.conf
    def extrasByName(): Map[String, Row] =
      if (extras.isEmpty) Map.empty
      else melt(df, cols).groupBy("__k").agg(extras.head, extras.tail: _*)
        .collect().map(r => cols(r.getInt(0)) -> r).toMap
    approxMode(conf) match {
      case "sketch" =>
        val keyConf = conf.get("spark.graft.quantiles.sketchKey", "")
        require(keyConf.trim.nonEmpty,
          "spark.graft.quantiles.approx=sketch needs spark.graft." +
            "quantiles.sketchKey=<row-unique col[,col...]> — the " +
            "sketch samples rows by key hash and cannot pick a key " +
            "itself (a non-unique fallback would silently bias the " +
            "sample)")
        dispatched("sketch")
        (globalQuantilesSketch(df,
          keyConf.split(",").toSeq.map(_.trim).filter(_.nonEmpty),
          cols, ps,
          conf.get("spark.graft.quantiles.sketchK", "8192").toInt),
          extrasByName())
      case "gk" =>
        dispatched("gk")
        (globalQuantilesApprox(df, cols, ps,
          conf.get("spark.graft.quantiles.accuracy", "10000").toInt),
          extrasByName())
      case _ =>
        // an EXPLICITLY-set approx=false is a caller pinning exactness
        // (a different knob than autoGkThreshold=0, but the same
        // intent) — the auto-switch must not override it; only the
        // unset default is auto-switch-eligible
        val exactPinned = conf.getOption("spark.graft.quantiles.approx")
          .exists(_.equalsIgnoreCase("false"))
        val thr = conf.get(AutoGkThresholdConf,
          DefaultAutoGkThreshold.toString).toLong
        val est =
          if (thr > 0 && !exactPinned) estimatedValueCount(df, cols)
          else None
        if (est.exists(_ > thr)) {
          val accuracy =
            conf.get("spark.graft.quantiles.accuracy", "10000").toInt
          log.warn(s"Quantiles.quantiles: estimated value count " +
            s"${est.get} (${cols.length} col(s)) exceeds " +
            s"$AutoGkThresholdConf=$thr — AUTO-SWITCHING from the " +
            "exact distributed selection to percentile_approx " +
            s"(Greenwald-Khanna, rank error ≤ n/$accuracy). Set " +
            s"$AutoGkThresholdConf=0 to force exact at any size.")
          dispatched("gk-auto")
          (globalQuantilesApprox(df, cols, ps, accuracy), extrasByName())
        } else {
          dispatched("exact")
          exact(df, cols, ps, extras)
        }
    }
  }

  /** Adds `__rn` (1-based rank of `valueCol` within each group) and `__n`
    * (group size) over ONE shuffle on the group key; rows with null
    * `valueCol` are dropped (quantile_cont/percentile ignore nulls).
    * Follow with a groupBy on the same keys — Catalyst reuses the window's
    * exchange, so the whole grouped-quantile computation is one shuffle. */
  def withRanks(df: DataFrame, valueCol: String,
                groupCols: Seq[String]): DataFrame = {
    val gs = groupCols.map(col)
    val wOrd = Window.partitionBy(gs: _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(gs: _*)
    df.na.drop(Seq(valueCol))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
  }

  /** Aggregation expression: exact quantile_cont of `valueCol` at `p` over
    * a frame prepared by [[withRanks]]. Selects the two straddling ranks
    * with conditional max() (null-skipping) and interpolates with the same
    * (1−frac)·lo + frac·hi arithmetic as Spark's exact percentile. */
  def quantileCont(valueCol: String, p: Double): Column = {
    val pos = (col("__n") - 1) * lit(p)
    val flo = floor(pos) + 1 // 1-based lower rank
    val frac = pos - floor(pos) // constant per group
    val v = col(valueCol).cast("double")
    val vlo = max(when(col("__rn") === flo, v))
    val vhi = coalesce(max(when(col("__rn") === flo + 1, v)), vlo)
    val fracAgg = max(frac)
    when(fracAgg === 0.0, vlo)
      .otherwise((lit(1.0) - fracAgg) * vlo + fracAgg * vhi)
  }
}
