package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding clustering for corpus curation (topic bucketing, diversity
  * sampling, near-dup blocking): nearest-centroid assignment plus a
  * distributed Lloyd's k-means.
  *
  * Scale shape: centroids are k × dim doubles — kilobytes — so they ride
  * into the plan as a LITERAL array and assignment is a map-only fold:
  * zero joins, zero shuffles, whole plan fuses into the scan. (The
  * broadcast-join alternative shuffles n×k rows through the argmin
  * groupBy — an 8× data exchange at k=8 that buys nothing.) The Lloyd
  * update is one map-side-combinable groupBy per iteration whose shuffle
  * carries k × dim partial sums per task, never vectors. */
object Clustering {

  /** Squared L2 distance between two array columns, computed in exact
    * decimal arithmetic: float→decimal(18,9) per element, squared diffs
    * summed by a left-to-right fold. Decimal makes the sum
    * order-independent and engine-independent — bit-identical in any
    * system that rounds the initial cast the same way — which is what
    * lets nearest-centroid assignment hash-match a DuckDB oracle
    * (float/double sums differ in the last ulp across engines and
    * aggregation orders; see Queries.scala's decimal-sum discipline). */
  def sqDistDecimal(a: Column, b: Column): Column = {
    val dec = (c: Column) => transform(c, x => x.cast("decimal(18,9)"))
    // type-stable fold: the accumulator must keep ONE decimal type or the
    // lambda fails analysis ((38,18)+(37,18) would widen past 38 and
    // Spark rescales the result to (38,16)). Diffs are re-cast to (18,9)
    // (exact for |x| < 1e9 — any sane feature scale) so products stay
    // (37,18), and each partial sum folds back into (37,18) (exact while
    // the running sum < 1e19).
    val d9 = "decimal(18,9)"
    aggregate(
      zip_with(dec(a), dec(b),
        (x, y) => ((x - y).cast(d9) * (x - y).cast(d9))),
      lit(java.math.BigDecimal.ZERO).cast("decimal(37,18)"),
      (acc, x) => (acc + x).cast("decimal(37,18)"))
  }

  /** Plain double-precision squared L2 (the fast path for iterative use;
    * one whole-stage-codegen'd fold, no decimal boxing). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** The (d2, cid) distance array of `vecCol` against literal `centroids`
    * (sorted by cid, so the strict-< fold breaks exact-distance ties
    * toward the smallest cid — the same semantics as
    * min(struct(d2, cid))). */
  private def distsCol(vecCol: String, centroids: Seq[(Long, Seq[Double])],
                       exact: Boolean): Column = {
    val cents = array(centroids.sortBy(_._1).map { case (cid, v) =>
      struct(lit(cid).as("cid"),
        array(v.map(lit(_)): _*).as("cv"))
    }: _*)
    val dist = (cv: Column) =>
      if (exact) sqDistDecimal(col(vecCol), cv)
      else sqDist(col(vecCol), cv)
    transform(cents, c =>
      struct(dist(c.getField("cv")).as("d2"), c.getField("cid").as("cid")))
  }

  /** Append `as` = the argmin (d2, cid) struct over literal `centroids`.
    * Map-only: no join, no aggregate, no exchange. The distances array is
    * bound to its OWN projection before the fold: higher-order-function
    * expressions get limited common-subexpression elimination, so a
    * single-projection form that embeds the array twice (fold init +
    * slice input) computes all k distances twice per row. With the array
    * as a named column consumed twice, CollapseProject keeps the split
    * (it never inlines a non-cheap producer with >1 consumer reference),
    * so the k distances are evaluated exactly once. */
  private def withBest(df: DataFrame, vecCol: String,
                       centroids: Seq[(Long, Seq[Double])],
                       exact: Boolean, as: String): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    df.withColumn("__dists", distsCol(vecCol, centroids, exact))
      // head as init, fold the tail: struct comparison is lexicographic
      // (d2, cid); strict < keeps the earlier (smaller-cid) winner on ties
      .withColumn(as, aggregate(
        slice(col("__dists"), 2, centroids.size - 1),
        try_element_at(col("__dists"), lit(1)),
        (acc, x) => when(x("d2") < acc("d2"), x).otherwise(acc)))
      .drop("__dists")
  }

  /** Assign each vector to its nearest centroid (squared-L2, ties to the
    * smallest centroid id). `centroids` must be k × dim small — it is
    * COLLECTED at call time (eager: building this plan runs a Spark job
    * on the centroid frame, like Dedup.componentLabels) and folded into
    * the plan as a literal, so assignment itself is map-only.
    * `exact = true` routes distances through [[sqDistDecimal]] for
    * cross-engine reproducibility; false keeps doubles. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cidCol: String, cvecCol: String,
             exact: Boolean = false): DataFrame =
    assignLiteral(vecs, idCol, vecCol,
      collectCentroids(centroids, cidCol, cvecCol), exact)

  /** [[assign]] plus the winning squared distance as `d2` — the input to
    * prototype/diversity sampling (rank within cluster by centrality).
    * Same eager centroid collect, same map-only plan. */
  def assignWithDist(vecs: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, cidCol: String, cvecCol: String,
                     exact: Boolean = false): DataFrame =
    withBest(vecs.select(col(idCol), col(vecCol)), vecCol,
      collectCentroids(centroids, cidCol, cvecCol), exact, "__m")
      .select(col(idCol), col("__m")("cid").as("cluster"),
        col("__m")("d2").as("d2"))

  private def collectCentroids(centroids: DataFrame, cidCol: String,
                               cvecCol: String): Seq[(Long, Seq[Double])] =
    centroids
      .select(col(cidCol).cast("long"),
        col(cvecCol).cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq

  /** [[assign]] with driver-side centroids: the form the Lloyd loop uses
    * (its centroids already live on the driver between iterations). */
  def assignLiteral(vecs: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Long, Seq[Double])],
                    exact: Boolean = false): DataFrame =
    withBest(vecs.select(col(idCol), col(vecCol)), vecCol,
      centroids, exact, "__m")
      .select(col(idCol), col("__m")("cid").as("cluster"))

  /** Lloyd's k-means: init = the k lowest-id vectors, `iters` rounds of
    * (map-only assign, mean-update). Assignment carries its own distance,
    * so inertia needs no re-join; the update explodes each vector to
    * (cluster, dim, value) and aggregates — map-side combine reduces the
    * shuffle to k × dim partials per task. Empty clusters keep their
    * previous centroid. Returns (centroids, inertia-per-iteration);
    * inertia is monotonically non-increasing — the standard Lloyd
    * convergence witness. PQ sub-space training
    * ([[graft.similarity.Ann.pqTrain]]) composes it; [[assignLiteral]]
    * turns the centroids into assignments. */
  def kmeansCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int)
      : (Seq[(Long, Seq[Double])], Seq[Double]) = {
    import org.apache.spark.sql.types._
    val dims = vecs.select(size(col(vecCol))).first().getInt(0)

    var cents: Seq[(Long, Seq[Double])] = vecs
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast(ArrayType(DoubleType))).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0).toSeq) }.toSeq
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]

    for (_ <- 0 until iters) {
      val assigned = withBest(
        vecs.select(col(idCol),
          col(vecCol).cast(ArrayType(DoubleType)).as("__v"), col(vecCol)),
        vecCol, cents, exact = false, "__m")
        .select(col(idCol), col("__v"),
          col("__m")("cid").as("__cl"), col("__m")("d2").as("__d2"))
      inertias += assigned.agg(sum(col("__d2"))).first().getDouble(0)
      // mean update: explode to (cluster, dim, x) — the shuffle carries
      // k*dims partial (sum, count) pairs per map task, not vectors
      val means = assigned
        .select(col("__cl"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy("__cl", "__d").agg(avg("__x").as("__m"))
        .groupBy("__cl")
        .agg(map_from_arrays(collect_list(col("__d")),
          collect_list(col("__m"))).as("__byDim"))
        .collect()
        .map { r =>
          val m = r.getMap[Int, Double](1)
          r.getLong(0) -> (0 until dims).map(m(_)).toSeq
        }.toMap
      cents = cents.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    (cents, inertias.toSeq)
  }
}
