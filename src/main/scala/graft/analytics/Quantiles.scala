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
  * several columns (A2–A5 column stats, [[quantiles]]) are its special
  * case keyed by column: [[melt]] first turns the columns into
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
    * DOUBLE)) rows, one per non-null value. The key is the index, not
    * the name: every pass hashes and compares it per value, and an int
    * costs less there than a string (a2_a5's three passes at sf0.1 on
    * local[4]: 1.41 s keyed by name, 0.93 s by index). The stack
    * Generator sits over the scan (never over an Aggregate), so nothing
    * re-executes. */
  private def melt(df: DataFrame, cols: Seq[String]): DataFrame =
    df.selectExpr(s"stack(${cols.length}, " +
      cols.zipWithIndex.map { case (c, i) => s"$i, CAST(`$c` AS DOUBLE)" }
        .mkString(", ") + ") AS (__k, __v)")
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

  /** Exact quantiles of several numeric columns at several fractions:
    * the grouped selection over the melted columns, keyed by `__k`, and
    * [[globalQuantilesBySort]] when it gives up. Returns (colName, p) ->
    * value, where columns with zero non-null rows are absent, and per
    * column with a non-null value the pass-A row: caller-supplied
    * `extras` (aggregates over the melted `__v`, each column as DOUBLE)
    * by alias, then `__qn/__qnan/__qmn/__qmx`. The extras ride in the
    * pass-A scan, one aggregate job instead of two — what
    * Summary.columnStats uses for its min/max/mean. */
  def quantiles(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                extras: Seq[Column] = Nil)
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
