package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** Linear quality classifier over hashed text features — the
  * curated-vs-crawl document filter of the GPT-3 / CCNet pipelines
  * (Brown et al. 2020 §A; Wenzek et al. 2020), restated ORACLE-CHECKABLY:
  * a batch PERCEPTRON on integer features, so weights, scores and
  * predictions are exact integers end to end. No sigmoid, no learning
  * rate, no float gradient — a float GD's order-dependent sums and
  * libm `exp` cannot hash-match across engines, while integer sums are
  * associative and bit-identical under any partitioning (the engine's
  * decimal-sum discipline applied to training).
  *
  * Features (dim 17): the m8 hashing-trick vector — token → first hex
  * char of md5 → one of 16 bucket counts — plus a constant bias 1.
  * No vocabulary dictionary, no second pass, bounded width at any
  * corpus size (the hashing trick's point).
  *
  * Training (`rounds` batch epochs): w₀ = 0; each round adds
  * Σ y·x over currently-misclassified docs (y·(w·x) ≤ 0, y ∈ {−1,+1})
  * — the distributed batch perceptron update. Scale shape per round:
  * ONE filter + ONE ≤17-key map-side-combined aggregate over the
  * (doc, dim) explode; the shuffle carries dims × partitions partial
  * rows regardless of corpus size, and driver state is 17 longs (the
  * k-means / BPE / PageRank driver-round discipline). The feature
  * frame persists across rounds and is released before return.
  */
object LinearClassifier {
  val Dim = 17 // 16 md5-nibble buckets + bias

  private val hexChars = "0123456789abcdef".map(_.toString)

  /** Integer hashed feature vector (array<long>, length 17) of a text
    * column: 16 bucket term frequencies + trailing bias 1. Map-only —
    * fuses into the scan; one md5 per token occurrence. */
  def hashedFeatures(c: Column): Column = {
    val toks = graft.enrich.CaptionStats.tokens(lower(c))
    val buckets = transform(toks, t => substring(md5(t), 1, 1))
    concat(
      transform(array(hexChars.map(lit): _*),
        h => size(filter(buckets, b => b === h)).cast("long")),
      array(lit(1L)))
  }

  /** Integer dot product of a feature array against literal weights. */
  def dot(x: Column, w: Seq[Long]): Column =
    aggregate(zip_with(x, array(w.map(lit): _*), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)

  /** `keep` columns plus the ±1 label `__y` and features `__x` of `df`,
    * spread first: the md5-per-token feature pass is per-row expensive
    * and a small-file scan otherwise runs it on ONE partition (r21). */
  private def features(df: DataFrame, textCol: String, labelCol: String,
                       keep: Column*): DataFrame =
    graft.util.Partitioning.spread(df).select(keep ++ Seq(
      col(labelCol).cast("long").as("__y"),
      hashedFeatures(col(textCol)).as("__x")): _*)

  /** `rounds` batch-perceptron epochs over a materialized feature frame. */
  private def epochs(feat: DataFrame, rounds: Int): Seq[Long] =
    (1 to rounds).foldLeft(Seq.fill(Dim)(0L)) { (w, _) =>
      val upd = feat
        .filter(col("__y") * dot(col("__x"), w) <= 0L)
        .select(posexplode(col("__x")).as(Seq("__d", "__v")), col("__y"))
        .groupBy("__d")
        .agg(sum(col("__y") * col("__v")).as("__u"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w.indices.map(d => w(d) + upd.getOrElse(d, 0L))
    }

  /** Train `rounds` batch-perceptron epochs; `labelCol` must be ±1.
    * Returns the 17 learned weights. */
  def trainPerceptron(df: DataFrame, textCol: String, labelCol: String,
                      rounds: Int): Seq[Long] = CacheScope.run { s =>
    epochs(s.cache(features(df, textCol, labelCol)), rounds)
  }

  /** Score a frame with learned weights: integer score = w·x and the
    * sign prediction. Map-only. */
  def score(df: DataFrame, idCol: String, textCol: String,
            w: Seq[Long]): DataFrame =
    df.select(col(idCol),
      dot(hashedFeatures(col(textCol)), w).as("score"))
      .withColumn("pred", when(col("score") > 0L, 1L).otherwise(-1L))

  /** Train-then-score in one call, computing the feature frame ONCE:
    * an eager localCheckpoint materializes (id, y, x), the epochs
    * iterate over it, and the returned score frame reads the SAME
    * checkpoint — [[trainPerceptron]] + [[score]] as separate calls
    * would pay the md5 feature pass twice (once cached for training,
    * once re-derived for scoring). The checkpoint lives until the query
    * boundary ([[CacheScope.query]]; the q4 stage-boundary pattern). */
  def classify(df: DataFrame, idCol: String, textCol: String,
               labelCol: String, rounds: Int): DataFrame = {
    val feat = features(df, textCol, labelCol, col(idCol))
      .localCheckpoint()
    val w = epochs(feat, rounds)
    feat.select(col(idCol), dot(col("__x"), w).as("score"))
      .withColumn("pred", when(col("score") > 0L, 1L).otherwise(-1L))
  }
}
