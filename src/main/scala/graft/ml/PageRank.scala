package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** Fixed-iteration PageRank over an edge list — the canonical iterative
  * graph computation a curation pipeline reaches for when ranking
  * interlinked documents (citation/link graphs, near-dup clusters, seed
  * expansion) rather than scoring rows independently.
  *
  * Arithmetic contract (the part that makes it oracle-checkable): ranks
  * are INTEGER micro-units (initial 1_000_000 per node), contributions
  * are `rank DIV out_degree`, and the damped update is
  * `150_000 + (85 * Σ incoming) DIV 100` — every operation is exact
  * int64 arithmetic, truncation points are explicit, and integer sums
  * are commutative, so ANY engine, partitioning, or merge order computes
  * bit-identical ranks (a float PageRank's Σ is shuffle-order-dependent
  * in the last ulp and can flip ranking ties). The documented tradeoff:
  * each contribution truncates < 1 micro-unit; rank mass leaks at
  * truncation points and dangling nodes (no redistribution), which is
  * fine for RANKING — the order, not the stationary distribution, is
  * the product.
  *
  * Scale shape: out-degrees are computed once (map-combined groupBy) and
  * reused; each iteration is one shuffle join of ranks onto edge
  * sources + one map-combined sum onto destinations + one left join
  * back to the node set — all keyed shuffles that AQE can re-plan, with
  * the per-iteration state exactly one BIGINT per node. The iteration
  * count is a fixed small constant (the driver-coordinated loop is
  * inherent to power iteration, same status as Lloyd's in Clustering);
  * deep iteration counts cut the unrolled lineage via `checkpointEvery`.
  */
object PageRank {

  /** Ranks after `iters` damped power iterations.
    *
    * @param nodes one row per node: (`node`)
    * @param edges directed edges: (`src`, `dst`); multi-edges count once
    *              per row; nodes absent from `src` are dangling (their
    *              rank is not redistributed)
    * @param checkpointEvery if > 0, truncate the rank lineage every k
    *              iterations — a reliable `checkpoint` when the
    *              SparkContext has a checkpoint dir (the D7 discipline),
    *              else `localCheckpoint` (executor-loss caveat applies;
    *              set a checkpoint dir on real clusters). Makes the call
    *              EAGER (checkpoints run jobs during the build) and
    *              releases the two static caches before returning —
    *              the returned frame no longer references them. Each
    *              reliable checkpoint leaves a full (node, r) copy in
    *              the checkpoint dir; Spark only deletes them when
    *              `spark.cleaner.referenceTracking.cleanCheckpoints`
    *              is true (off by default) — enable it, or clean the
    *              dir, when looping many pageranks. 0 (the
    *              default) keeps today's fully-lazy plan, whose depth
    *              grows linearly with `iters`: fine to ~10 iterations,
    *              not to 50; the returned frame reads the static caches,
    *              so they are hand-offs released at the query boundary.
    * @return (node, r) — r in integer micro-units
    */
  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int,
               checkpointEvery: Int = 0): DataFrame = CacheScope.run { s =>
    // both static sides are re-read EVERY iteration (nodes twice: rank
    // rebuild + the previous rank's lineage) — cache them or the node
    // distinct and the out-degree join re-execute iters× (the d6 shared-
    // shingle-table discipline). They pay even at m11's sf0.1 input
    // (Bench, local[4], 3 runs each): cached 28 jobs and 2.26-2.60 s,
    // uncached 19 jobs and 2.97-3.13 s
    val keep: DataFrame => DataFrame =
      if (checkpointEvery > 0) s.cache else CacheScope.handOff
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("__od"))
    val e = keep(edges.join(outdeg, "src"))
    val n = keep(nodes)
    val sc = nodes.sparkSession.sparkContext
    def truncate(df: DataFrame): DataFrame =
      if (sc.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    val init = n.select(col("node"), lit(1000000L).as("r"))
    val out = (1 to iters).foldLeft(init) { (r, i) =>
      val next = n.join(
        e.join(r, e("src") === r("node"))
          .select(col("dst"), expr("r DIV __od").as("__contrib"))
          .groupBy(col("dst")).agg(sum("__contrib").as("__inc")),
        n("node") === col("dst"), "left")
        .select(n("node"),
          (lit(150000L) + expr(
            "(85 * coalesce(__inc, CAST(0 AS BIGINT))) DIV 100")).as("r"))
      // checkpoint mid-loop only: the final iteration is truncated below
      // regardless, so the caches can be released
      if (checkpointEvery > 0 && i < iters && i % checkpointEvery == 0)
        truncate(next)
      else next
    }
    if (checkpointEvery > 0) truncate(out) else out
  }
}
