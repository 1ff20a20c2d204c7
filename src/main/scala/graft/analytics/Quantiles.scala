package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
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
  * Here instead:
  *
  *  - [[globalQuantiles]] (ungrouped, used by A2–A5 column stats):
  *    range-partition + local sort of the value column, a tiny per-partition
  *    histogram, then a targeted k-th-element lookup — the classic
  *    distributed selection. No task ever holds more than one partition's
  *    slice; memory is bounded by partition size, not column size.
  *  - grouped quantiles (A10 boxplot): rank-vs-count window arithmetic
  *    ([[withRanks]] + [[quantileCont]]) — one shuffle on the group key, the
  *    per-group sort spills via the window operator instead of accumulating
  *    in an agg buffer, and groups ≪ rows keeps tasks balanced.
  *
  * Interpolation reproduces Spark's `Percentile.getPercentile` bit-for-bit
  * ((1−frac)·lo + frac·hi with exact frac ∈ {0, .25, .5, .75}), so results
  * hash-match the DuckDB `quantile_cont` oracle exactly as the old
  * `percentile` path did.
  */
object Quantiles {

  /** Conf: per-column bucket count of the exact-histogram bracket pass
    * of [[globalQuantiles]] (pass B). More buckets ⇒ narrower candidate
    * bands in pass C at the cost of a bigger (but still tiny —
    * buckets × columns rows) histogram collect. */
  val SelectBucketsConf = "spark.graft.quantiles.selectBuckets"

  /** Driver cap on collected (value, count) band rows in
    * [[globalQuantiles]] before it falls back to the range-partition
    * selection. ~32 B/row ⇒ the default 4M rows ≈ 130 MB worst case. */
  val MaxBandRowsConf = "spark.graft.quantiles.maxBandRows"

  /** Exact quantiles of several numeric columns at several fractions, fully
    * distributed. Returns (colName, p) -> value; columns with zero non-null
    * rows are absent from the map.
    *
    * BRACKET-AND-SELECT (r21): three map-side-combined, fully-codegen
    * aggregate scans and NO wide shuffle — vs the previous
    * range-partition selection's sample job + full shuffle of every
    * value + persist + histogram + window lookup (still available as
    * [[globalQuantilesBySort]], the fallback; measured 2.6 s → ~1.1 s
    * on a2_a5 at sf0.1). Everything here is EXACT counting — there is
    * no sketch and no approximation anywhere:
    *
    *  - pass A: per column — non-null count, NaN count, min, max
    *    (one wide codegen aggregate; [[quantilesWithExtras]] lets
    *    Summary.columnStats fuse its own min/max/mean into this scan);
    *  - pass B: per column, EXACT counts over a fixed-width value
    *    histogram between min and max ([[SelectBucketsConf]] buckets);
    *    the cumulative counts locate, for every needed 0-based rank,
    *    the ONE bucket containing it;
    *  - pass C: distinct (value, count) pairs of just those buckets —
    *    the bucket-index expression is literally the same as pass B's,
    *    so the counts agree row-for-row; the exact k-th element is
    *    then driver-side rank arithmetic (bucket's cumulative offset +
    *    cumulative in-bucket counts).
    *
    * Fallback to the sort-based selection (identical results, the old
    * cost) when: NaNs are present (their sort position is not a value
    * comparison), a min/max is infinite or the bucket width
    * under/overflows (degenerate value range), or the selected buckets'
    * distinct values overflow [[MaxBandRowsConf]] (adversarial skew —
    * a near-constant column with its mass inside one bucket). */
  def globalQuantiles(df: DataFrame, cols: Seq[String],
                      ps: Seq[Double]): Map[(String, Double), Double] = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val a = passAAggs(cols)
    val rA = df.agg(a.head, a.tail: _*).head()
    selectFromPassA(df, cols, ps, rA)
  }

  /** Pass-A aggregate columns of [[globalQuantiles]] — exposed so
    * [[quantilesWithExtras]] can fuse a caller's aggregates into the
    * same scan. */
  private def passAAggs(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      val v = col(s"`$c`").cast("double")
      Seq(count(v).as(s"${c}__n"),
        count(when(isnan(v), 1)).as(s"${c}__nan"),
        min(v).as(s"${c}__mn"), max(v).as(s"${c}__mx"))
    }

  /** Passes B/C of [[globalQuantiles]], driven by the pass-A row. */
  private def selectFromPassA(df: DataFrame, cols: Seq[String],
                              ps: Seq[Double], rA: org.apache.spark.sql.Row)
  : Map[(String, Double), Double] = {
    val conf = df.sparkSession.conf
    val nBuckets = conf.get(SelectBucketsConf, "8192").toInt
    val maxBand = conf.get(MaxBandRowsConf, (1 << 22).toString).toLong
    val counts: Map[String, Long] =
      cols.map(c => c -> rA.getAs[Long](s"${c}__n")).toMap
    if (cols.exists(c => rA.getAs[Long](s"${c}__nan") > 0L))
      return globalQuantilesBySort(df, cols, ps)
    val live = cols.filter(c => counts(c) > 0)
    if (live.isEmpty) return Map.empty
    val mn = live.map(c => c -> rA.getAs[Double](s"${c}__mn")).toMap
    val mx = live.map(c => c -> rA.getAs[Double](s"${c}__mx")).toMap
    // 0-based global indices needed per column: floor/ceil of each p
    val needed: Map[String, Seq[Long]] = live.map { c =>
      val n = counts(c)
      c -> ps.flatMap { p =>
        val lo = math.floor((n - 1) * p).toLong
        Seq(lo, math.min(lo + 1, n - 1))
      }.distinct.sorted
    }.toMap
    val valueAt = scala.collection.mutable.Map.empty[(String, Long), Double]
    // constant columns resolve from pass A alone
    val multi = live.filter { c =>
      if (mn(c) == mx(c)) {
        needed(c).foreach(gi => valueAt((c, gi)) = mn(c)); false
      } else true
    }
    if (multi.nonEmpty) {
      if (multi.exists(c => mn(c).isInfinite || mx(c).isInfinite))
        return globalQuantilesBySort(df, cols, ps)
      val width: Map[String, Double] =
        multi.map(c => c -> ((mx(c) - mn(c)) / nBuckets)).toMap
      if (width.values.exists(w =>
          w <= 0.0 || w.isInfinite || w.isNaN)) // under/overflowed range
        return globalQuantilesBySort(df, cols, ps)
      def perColD(m: Map[String, Double]): Column =
        multi.tail.foldLeft(lit(m(multi.head))) { (acc, c) =>
          when(col("__name") === c, lit(m(c))).otherwise(acc)
        }
      val stackExpr = s"stack(${multi.length}, " +
        multi.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
        ") AS (__name, __v)"
      // THE bucket-index expression — built once, used verbatim in both
      // pass B and pass C so their row sets can never disagree
      val bIdx = least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        floor((col("__v") - perColD(mn)) / perColD(width))))
      def melted = df.selectExpr(stackExpr).where(col("__v").isNotNull)
        .withColumn("__b", bIdx)
      // pass B: exact per-bucket counts (≤ buckets × columns rows)
      val hist: Map[String, Array[Long]] = {
        val h = multi.map(c => c -> Array.fill(nBuckets)(0L)).toMap
        melted.groupBy("__name", "__b").agg(count(lit(1)).as("__c"))
          .collect().foreach { r =>
            h(r.getString(0))(r.getLong(1).toInt) = r.getLong(2)
          }
        h
      }
      // crossing bucket + its cumulative offset for every needed rank:
      // the FIRST b with cum(b) ≤ gi < cum(b+1) (a binary search over
      // cum would land on an arbitrary member of an equal run — empty
      // buckets make cum non-strictly increasing)
      val crossing: Map[String, Map[Long, (Int, Long)]] = multi.map { c =>
        val cum = hist(c).scanLeft(0L)(_ + _) // cum(i) = rows in buckets < i
        c -> needed(c).map { gi =>
          var b = 0
          while (cum(b + 1) <= gi) b += 1
          gi -> (b, cum(b)) // gi ∈ [cum(b), cum(b+1))
        }.toMap
      }.toMap
      val wantedBuckets: Map[String, Set[Long]] =
        crossing.map { case (c, m) => c -> m.values.map(_._1.toLong).toSet }
      // pass C: distinct values + counts of just the crossing buckets
      val inWanted = multi.tail.foldLeft(
        col("__name") === multi.head &&
          col("__b").isin(wantedBuckets(multi.head).toSeq: _*)) { (acc, c) =>
        (col("__name") === c &&
          col("__b").isin(wantedBuckets(c).toSeq: _*)) || acc
      }
      val rows = melted.where(inWanted)
        .groupBy("__name", "__b", "__v").agg(count(lit(1)).as("__c"))
        .limit(math.min(maxBand + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (rows.length > maxBand) // adversarial skew: band too wide
        return globalQuantilesBySort(df, cols, ps)
      val byCol = rows.groupBy(_.getString(0))
      for (c <- multi) {
        val byBucket = byCol.getOrElse(c, Array.empty).groupBy(_.getLong(1))
        for ((gi, (b, off)) <- crossing(c)) {
          var cum = off
          val vs = byBucket.getOrElse(b.toLong, Array.empty)
            .map(r => (r.getDouble(2), r.getLong(3))).sortBy(_._1)
          val it = vs.iterator
          var found = false
          while (!found && it.hasNext) {
            val (v, k) = it.next()
            if (gi < cum + k) { valueAt((c, gi)) = v; found = true }
            cum += k
          }
          if (!found) // cannot happen (exact counts); belt-and-braces
            return globalQuantilesBySort(df, cols, ps)
        }
      }
    }
    (for {
      c <- live
      p <- ps
    } yield {
      val n = counts(c)
      val pos = (n - 1) * p
      val lo = math.floor(pos).toLong
      val frac = pos - lo
      val vlo = valueAt((c, lo))
      val q =
        if (frac == 0.0) vlo
        else {
          val vhi = valueAt((c, math.min(lo + 1, n - 1)))
          (1.0 - frac) * vlo + frac * vhi // Percentile.getPercentile form
        }
      (c, p) -> q
    }).toMap
  }

  /** Exact PER-GROUP quantiles via the same bracket-and-select as
    * [[globalQuantiles]] (r21) — for a BOUNDED group count, this
    * replaces the per-group Window sort (one reducer per group: a
    * 3-group boxplot over a 600k-row column sorted on 3 tasks) with
    * three map-side-combined codegen aggregates keyed by group.
    * `extras` fuse into pass A exactly as in [[quantilesWithExtras]].
    *
    * Returns one (passA row, p → exact value) pair per group with ≥ 1
    * non-null value (groups of only nulls are absent — the Window
    * form's na.drop semantics), or None when the shape is unusable and
    * the caller should run its Window/sort form instead: more than
    * `maxGroups` groups (the when-chain literals and the histogram
    * collect are sized by it), NaNs present, infinite/degenerate
    * ranges, or a band over [[MaxBandRowsConf]]. */
  private[analytics] def groupedQuantilesWithExtras(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      ps: Seq[Double], extras: Seq[Column], maxGroups: Int = 64)
  : Option[Seq[(org.apache.spark.sql.Row, Map[Double, Double])]] = {
    require(groupCols.nonEmpty && ps.nonEmpty, "need groups and ps")
    val conf = df.sparkSession.conf
    val nBuckets = conf.get(SelectBucketsConf, "8192").toInt
    val maxBand = conf.get(MaxBandRowsConf, (1 << 22).toString).toLong
    val v = col(s"`$valueCol`").cast("double")
    val aggsA = extras ++ Seq(count(v).as("__qn"),
      count(when(isnan(v), 1)).as("__qnan"),
      min(v).as("__qmn"), max(v).as("__qmx"))
    val rowsA = df.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(aggsA.head, aggsA.tail: _*)
      .limit(maxGroups + 1).collect()
    if (rowsA.length > maxGroups) return None
    if (rowsA.exists(_.getAs[Long]("__qnan") > 0L)) return None
    // group-KEY values the driver-side Seq-equality lookups below
    // cannot key correctly: NaN (Scala NaN != NaN, while Spark's
    // grouping treats NaN = NaN) and binary arrays (reference
    // equality) — plus (r22, ADVICE) any value `lit()` cannot encode
    // (struct rows, maps): the isGroup predicates below rebuild keys
    // as literals, and an unencodable key must bail to the sort form,
    // not throw 'Unsupported literal type' out of a stats call.
    val badKey = rowsA.exists(r => groupCols.indices.exists { i =>
      r.get(i) match {
        case null => false
        case d: java.lang.Double => d.isNaN
        case f: java.lang.Float => f.isNaN
        case _: Array[_] => true
        case _: java.lang.Number | _: String | _: java.lang.Boolean =>
          false
        case other => scala.util.Try(lit(other)).isFailure
      }
    })
    if (badKey) return None
    // the Window form's na.drop: all-null groups are absent
    val live = rowsA.filter(_.getAs[Long]("__qn") > 0L).toSeq
    if (live.isEmpty) return Some(Seq.empty)
    def key(r: org.apache.spark.sql.Row): Seq[Any] =
      groupCols.indices.map(r.get)
    val n: Map[Seq[Any], Long] =
      live.map(r => key(r) -> r.getAs[Long]("__qn")).toMap
    val mn: Map[Seq[Any], Double] =
      live.map(r => key(r) -> r.getAs[Double]("__qmn")).toMap
    val mx: Map[Seq[Any], Double] =
      live.map(r => key(r) -> r.getAs[Double]("__qmx")).toMap
    val needed: Map[Seq[Any], Seq[Long]] = live.map { r =>
      val k = key(r); val nn = n(k)
      k -> ps.flatMap { p =>
        val lo = math.floor((nn - 1) * p).toLong
        Seq(lo, math.min(lo + 1, nn - 1))
      }.distinct.sorted
    }.toMap
    val valueAt =
      scala.collection.mutable.Map.empty[(Seq[Any], Long), Double]
    val multi = live.map(key).filter { k =>
      if (mn(k) == mx(k)) {
        needed(k).foreach(gi => valueAt((k, gi)) = mn(k)); false
      } else true
    }
    if (multi.nonEmpty) {
      if (multi.exists(k => mn(k).isInfinite || mx(k).isInfinite))
        return None
      val width: Map[Seq[Any], Double] =
        multi.map(k => k -> ((mx(k) - mn(k)) / nBuckets)).toMap
      if (width.values.exists(w => w <= 0.0 || w.isInfinite || w.isNaN))
        return None
      def isGroup(k: Seq[Any]): Column =
        groupCols.zip(k).map { case (c, kv) =>
          col(s"`$c`") <=> lit(kv) }.reduce(_ && _)
      def perGroupD(m: Map[Seq[Any], Double]): Column =
        multi.tail.foldLeft(lit(m(multi.head))) { (acc, k) =>
          when(isGroup(k), lit(m(k))).otherwise(acc)
        }
      val inMulti = multi.map(isGroup).reduce(_ || _)
      val bIdx = least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        floor((v - perGroupD(mn)) / perGroupD(width))))
      def melted = df.where(v.isNotNull && inMulti)
        .select(groupCols.map(c => col(s"`$c`")) :+ v.as("__v") :+
          bIdx.as("__b"): _*)
      // pass B: exact per-(group, bucket) counts
      val hist: Map[Seq[Any], Array[Long]] = {
        val h = multi.map(k => k -> Array.fill(nBuckets)(0L)).toMap
        melted.groupBy((groupCols.map(c => col(s"`$c`")) :+
            col("__b")): _*)
          .agg(count(lit(1)).as("__c"))
          .collect().foreach { r =>
            h(groupCols.indices.map(r.get))(
              r.getAs[Long]("__b").toInt) = r.getAs[Long]("__c")
          }
        h
      }
      val crossing: Map[Seq[Any], Map[Long, (Int, Long)]] = multi.map { k =>
        val cum = hist(k).scanLeft(0L)(_ + _)
        k -> needed(k).map { gi =>
          var b = 0
          while (cum(b + 1) <= gi) b += 1
          gi -> (b, cum(b))
        }.toMap
      }.toMap
      val wantedBuckets: Map[Seq[Any], Set[Long]] =
        crossing.map { case (k, m) => k -> m.values.map(_._1.toLong).toSet }
      val inWanted = multi.map { k =>
        isGroup(k) && col("__b").isin(wantedBuckets(k).toSeq: _*)
      }.reduce(_ || _)
      val rows = melted.where(inWanted)
        .groupBy((groupCols.map(c => col(s"`$c`")) :+ col("__b") :+
          col("__v")): _*)
        .agg(count(lit(1)).as("__c"))
        .limit(math.min(maxBand + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (rows.length > maxBand) return None
      val byKey = rows.groupBy(r => groupCols.indices.map(r.get): Seq[Any])
      for (k <- multi) {
        val gi2 = groupCols.length
        val byBucket = byKey.getOrElse(k, Array.empty)
          .groupBy(_.getLong(gi2))
        for ((gi, (b, off)) <- crossing(k)) {
          var cum = off
          val vs = byBucket.getOrElse(b.toLong, Array.empty)
            .map(r => (r.getDouble(gi2 + 1), r.getLong(gi2 + 2)))
            .sortBy(_._1)
          val it = vs.iterator
          var found = false
          while (!found && it.hasNext) {
            val (vv, c) = it.next()
            if (gi < cum + c) { valueAt((k, gi)) = vv; found = true }
            cum += c
          }
          if (!found) return None // cannot happen; belt-and-braces
        }
      }
    }
    Some(live.map { r =>
      val k = key(r); val nn = n(k)
      r -> ps.map { p =>
        val pos = (nn - 1) * p
        val lo = math.floor(pos).toLong
        val frac = pos - lo
        val vlo = valueAt((k, lo))
        p -> (if (frac == 0.0) vlo
              else {
                val vhi = valueAt((k, math.min(lo + 1, nn - 1)))
                (1.0 - frac) * vlo + frac * vhi
              })
      }.toMap
    })
  }

  /** The pre-r21 exact path — range partition + local sort + histogram +
    * targeted k-th lookup. Memory is bounded by partition size at ANY
    * band width, so [[globalQuantiles]] falls back here when its
    * bracket band is unusable (NaNs, overflow, violated sketch bound).
    *
    * One wide shuffle (range partition of the melted single-value rows) +
    * one small aggregate (per-partition histogram, ≤ partitions×cols rows
    * to the driver) + one filtered lookup of ≤ 2·|cols|·|ps| rows. */
  private[analytics] def globalQuantilesBySort(
      df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[(String, Double), Double] = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val spark = df.sparkSession
    // melt to (__name, __v): one scan of just the requested columns; the
    // stack Generator sits over the scan (never over an Aggregate), so no
    // re-execution pathology
    val stackExpr = s"stack(${cols.length}, " +
      cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
      ") AS (__name, __v)"
    val melted = df.selectExpr(stackExpr).where(col("__v").isNotNull)
    val nParts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // range partition on (name, value): global order across partitions,
    // equal values co-located, so global rank = partition offset + local
    // rank. Persisted because the histogram pass and the lookup pass must
    // see the SAME partitioning (spark_partition_id is recompute-sensitive).
    CacheScope.run { scope =>
      val sorted = scope.cache(melted
        .repartitionByRange(nParts, col("__name"), col("__v"))
        .sortWithinPartitions("__name", "__v")
        .select(col("__name"), col("__v"),
          spark_partition_id().as("__pid")))
      val hist = sorted.groupBy("__pid", "__name").count().collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      val counts: Map[String, Long] =
        hist.groupBy(_._2).map { case (nm, rs) => nm -> rs.map(_._3).sum }
      // per name: (pid, firstGlobalIndex, rowsInPid), pids ascending
      val offsets: Map[String, Seq[(Int, Long, Long)]] =
        hist.groupBy(_._2).map { case (nm, rs) =>
          var off = 0L
          nm -> rs.sortBy(_._1).toSeq.map { case (pid, _, cnt) =>
            val o = off; off += cnt; (pid, o, cnt)
          }
        }
      // 0-based global indices needed: floor and ceil of every position
      val needed: Set[(String, Long)] = (for {
        c <- cols if counts.getOrElse(c, 0L) > 0
        n = counts(c)
        p <- ps
        lo = math.floor((n - 1) * p).toLong
        idx <- Seq(lo, math.min(lo + 1, n - 1))
      } yield (c, idx)).toSet
      if (needed.isEmpty) Map.empty
      else {
        // global index -> (pid, 1-based local rank within (pid, name))
        val lookups: Set[(Int, String, Long)] = needed.map { case (nm, gi) =>
          val (pid, off, _) = offsets(nm)
            .find { case (_, o, cnt) => gi >= o && gi < o + cnt }.get
          (pid, nm, gi - off + 1)
        }
        val pids = lookups.map(_._1).toSeq
        val w = Window.partitionBy("__pid", "__name").orderBy("__v")
        val wanted = lookups.map { case (pid, nm, rn) =>
          col("__pid") === pid && col("__name") === nm && col("__rn") === rn
        }.reduce(_ || _)
        val valueAt: Map[(String, Long), Double] = sorted
          .filter(col("__pid").isin(pids: _*))
          .withColumn("__rn", row_number().over(w))
          .filter(wanted)
          .select("__pid", "__name", "__rn", "__v")
          .collect()
          .map { r =>
            val pid = r.getInt(0); val nm = r.getString(1)
            val off = offsets(nm).find(_._1 == pid).get._2
            (nm, off + r.getInt(2) - 1) -> r.getDouble(3) // row_number is Int
          }.toMap
        (for {
          c <- cols if counts.getOrElse(c, 0L) > 0
          p <- ps
        } yield {
          val n = counts(c)
          val pos = (n - 1) * p
          val lo = math.floor(pos).toLong
          val frac = pos - lo
          val vlo = valueAt((c, lo))
          val q =
            if (frac == 0.0) vlo
            else {
              val vhi = valueAt((c, math.min(lo + 1, n - 1)))
              (1.0 - frac) * vlo + frac * vhi // Percentile.getPercentile form
            }
          (c, p) -> q
        }).toMap
      }
    }
  }

  /** At-scale variant: Spark's `percentile_approx` — a Greenwald–Khanna
    * sketch that is MERGEABLE (map-side partial agg, constant memory per
    * task, one tiny final merge), vs the exact path's full range-partition
    * sort. Rank error is bounded by n/`accuracy`, so with the 10k default
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
    * at-scale ladder. Exact ([[globalQuantiles]]) pays a full
    * range-partition sort; [[globalQuantilesApprox]] is
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
    val stackExpr = s"stack(${cols.length}, " +
      cols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
      ") AS (__name, __v)"
    val melted = df
      .withColumn("__key",
        to_json(struct(keyCols.map(col): _*),
          Map("ignoreNullFields" -> "false")))
      .selectExpr("__key", stackExpr)
      .where(col("__v").isNotNull)
    val sk = Sketches.quantileSketch(melted, "__name", "__key", "__v", k)
    Sketches.sketchQuantiles(sk, ps).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
  }

  /** Flag-dispatched entry point used by [[graft.analytics.Summary]]:
    * exact by default (bit-for-bit oracle parity);
    * `spark.graft.quantiles.approx=true` (optionally
    * `spark.graft.quantiles.accuracy=N`) runs Greenwald–Khanna
    * in-job; `spark.graft.quantiles.approx=sketch` (with
    * `spark.graft.quantiles.sketchKey=<row-unique col[,col...]>`,
    * optionally `spark.graft.quantiles.sketchK=N`) runs the mergeable
    * bottom-k sketch whose state can persist across jobs. */
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
    * exact path's full range-partition sort (and its all-values
    * shuffle) on a corpus nobody wants it on. `0` (or negative)
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
    * Column names are backtick-quoted like every backend's stackExpr,
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

  def quantiles(df: DataFrame, cols: Seq[String],
                ps: Seq[Double]): Map[(String, Double), Double] =
    quantilesWithExtras(df, cols, ps, Nil)._1

  /** [[quantiles]] with caller-supplied aggregate columns FUSED into
    * the exact path's pass-A scan (one aggregate job instead of two —
    * what Summary.columnStats uses for its min/max/mean row). Backends
    * that have no pass A (gk / sketch / gk-auto) compute the extras as
    * their own aggregate — same cost as the caller doing it. Returns
    * (quantiles map, extras row); the row also carries pass A's
    * `__n/__nan/__mn/__mx` fields on the exact path (callers read by
    * alias, so extra fields are inert), and is `Row.empty` when
    * `extras` is empty off the exact path. */
  def quantilesWithExtras(df: DataFrame, cols: Seq[String],
                          ps: Seq[Double], extras: Seq[Column])
  : (Map[(String, Double), Double], org.apache.spark.sql.Row) = {
    require(cols.nonEmpty && ps.nonEmpty, "need at least one column and p")
    val conf = df.sparkSession.conf
    def extrasRow(): org.apache.spark.sql.Row =
      if (extras.isEmpty) org.apache.spark.sql.Row.empty
      else df.agg(extras.head, extras.tail: _*).head()
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
          extrasRow())
      case "gk" =>
        dispatched("gk")
        (globalQuantilesApprox(df, cols, ps,
          conf.get("spark.graft.quantiles.accuracy", "10000").toInt),
          extrasRow())
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
          (globalQuantilesApprox(df, cols, ps, accuracy), extrasRow())
        } else {
          dispatched("exact")
          val aggs = extras ++ passAAggs(cols)
          val rA = df.agg(aggs.head, aggs.tail: _*).head()
          (selectFromPassA(df, cols, ps, rA), rA)
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
