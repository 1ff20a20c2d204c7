package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB design point (SCALE.md):
  * bucketing to delete join shuffles, salting to break aggregation skew.
  */
object Layout {

  /** Write a table bucketed (and sorted) by join key. Subsequent equi-joins
    * between tables bucketed the same way need NO shuffle — Catalyst sees
    * matching `HashPartitioning` from the bucket spec and plans a
    * sort-merge join without Exchange on either side. This is the
    * pre-partitioned co-located join the reference could never express
    * (pandas has no layout concept). The table's files live at `path`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: String): Unit =
    df.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Salted skewed equi-join: the big side's rows get a deterministic
    * salt in [0, saltBuckets) from `hash(saltBy)` (a unique row id —
    * deterministic under task recomputation, unlike `rand()`, whose
    * re-evaluation on a fetch-failure retry re-routes rows mid-shuffle);
    * the small side is replicated saltBuckets× with every salt value;
    * the join runs on (key, salt). A hot key's rows now spread over
    * saltBuckets reducers instead of one. Exactly equal to the plain
    * join: each big row matches precisely the one replica set carrying
    * its salt. Use when AQE's skew-join split doesn't fire (e.g. the
    * skew is inside a single post-aggregation partition) or when the
    * small side is cheap to replicate but too big to broadcast. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBy: String, saltBuckets: Int): DataFrame = {
    val b = big.withColumn("__salt",
      pmod(hash(col(saltBy)), lit(saltBuckets)))
    val s = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    b.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Salted multi-key count — the A1 vocab shape (count per (token,pos),
    * stopword keys carrying orders of magnitude more rows than the tail).
    *
    * When to reach for it, honestly: Spark's hash aggregate already runs a
    * map-side partial aggregate, so a COUNT's reduce side receives at most
    * one partial row per (key × map partition) and count-shaped skew is
    * largely pre-collapsed (SCALE.md records the sf0.1 measurement). The
    * salt earns its second shuffle when the partial aggregate CANNOT
    * collapse — per-key `collect_list`/median-style buffers, or when a
    * hot key's partials themselves overwhelm one reducer at extreme
    * partition counts. Result-equality with the plain aggregate is what
    * LayoutSpec asserts; cost is shape-dependent, not free. */
  def saltedCount(df: DataFrame, keys: Seq[String],
                  saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id(), lit(saltBuckets)))
    salted.groupBy(keys.map(col) :+ col("__salt"): _*)
      .agg(count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__pcnt")).as("count"))
  }

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative long columns — bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. Pure integer bit arithmetic (no hashing, no floats):
    * deterministic, engine-portable, and ORDER-MEANINGFUL — sorting by
    * the key places rows close in BOTH dimensions close in the file.
    *
    * This is the multi-dimensional clustering move parquet min/max
    * pruning needs: a range-partition + sort on one column prunes scans
    * on that column only; range-partition + sort on the z-key gives every
    * participating dimension tight per-row-group min/max envelopes, so a
    * 2-d range predicate skips row groups on BOTH predicates (the
    * Delta/Iceberg OPTIMIZE ZORDER recipe, stated as a plain column
    * expression). */
  def zOrderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** WEIGHT-BALANCED shard assignment — the training-shard writer's
    * prerequisite: a trainer reading N shards in parallel is throttled
    * by the heaviest one, so shards must balance on TOKENS, not on row
    * counts (row-hash partitioning skews by document length). Adds
    * `shard` ∈ [0, nShards): rows are laid on the engine's md5
    * permutation line (deterministic from the data, uniform, engine-
    * portable) and the line is cut at every total/nShards weight mark —
    * shard = ⌊start·n/total⌋ where start is the row's exclusive
    * global cumulative weight ([[Cumsum.mdOrderCumsum]]: md5-prefix
    * buckets + literal offsets, never a single-reducer sort). Every
    * shard's weight lands within one max-row-weight of total/n.
    * Follow with `.write.partitionBy("shard")` (the k7 layout path).
    *
    * `start·nShards` must fit a long: fine through 10¹⁴ total tokens ×
    * 10⁴ shards; beyond that pre-scale the weight column. */
  def balancedShards(df: DataFrame, keyCol: String, weightCol: String,
                     nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val (cum, total) = Cumsum.mdOrderCumsum(df, keyCol, weightCol)
    cum.withColumn("shard",
      expr(s"CAST(((__cum - coalesce($weightCol, 0)) * $nShards) " +
        s"DIV $total AS INT)"))
      .drop("__cum")
  }

  /** Per-shard DELIVERY MANIFEST — the reproducibility artifact a
    * training run ships with its data: for each [[balancedShards]]
    * shard, the doc count, token weight, and two ORDER-INDEPENDENT
    * content digests over `md5(id|content)` (bit-XOR, and a sum mod
    * the Mersenne prime 2⁶¹−1 — the d12 pair: XOR alone is blind to a
    * doc appearing twice, the modular sum is not, and both commute so
    * no ordering is imposed anywhere). A re-delivery of the same
    * corpus reproduces every row of the manifest bit-for-bit; any
    * changed/dropped/duplicated document flips its shard's digests.
    *
    * Scale shape: the digest hash is map-side; the rollup is one
    * map-combined groupBy(shard) over nShards keys. The only wide work
    * is [[balancedShards]]'s cumsum (bucketed, no global sort). */
  def shardManifest(df: DataFrame, keyCol: String, contentCol: String,
                    weightCol: String, nShards: Int): DataFrame = {
    val sharded = balancedShards(df, keyCol, weightCol, nShards)
    val h = conv(substring(md5(concat_ws("|", col(keyCol),
      coalesce(col(contentCol), lit("")))), 1, 15), 16, 10)
      .cast("long")
    sharded
      .withColumn("__h", h)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol)).as("shard_weight"),
        expr("bit_xor(__h)").as("xor_digest"),
        (sum(col("__h").cast("decimal(38,0)")) %
          lit(2305843009213693951L)).cast("long").as("sum_digest"))
  }
}
