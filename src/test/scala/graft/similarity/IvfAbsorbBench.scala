package graft.similarity

import org.apache.spark.sql.functions._

/** Measures the incremental-IVF claim behind SCALE.md's "Incremental
  * IVF index N11" row: per-batch `absorbIvfIndex` cost stays near-flat
  * as the STORE grows, while the alternative — a from-scratch
  * `writeIvfIndex` rebuild per ingest — grows linearly with it. Run:
  *   sbt "Test/runMain graft.similarity.IvfAbsorbBench"
  *
  * Shape under test: a store of synthetic 32-dim vectors at two sizes
  * (4× apart), a fresh disjoint-id 1k batch absorbed per measurement.
  * The idempotency guard is the only absorb stage that touches the
  * store at all (an id-column-pruned scan of the touched cells), so
  * absorb(guard) may grow mildly with store size while
  * absorb(no-guard) must stay flat; rebuild must grow ~linearly and
  * dominate both. Each timed absorb appends its batch (absorb mutates
  * the store by definition) — 1k rows against ≥1M stores, so the
  * drift across a median-of-3 is ≤0.7% of store size. */
object IvfAbsorbBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(32)
    // deterministic 32-dim vectors from the id — distributed, no UDF
    def vecs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 31), " +
          "d -> cast(cos(0.13 * id * (d + 1)) as float))").as("embedding"))
    def timed(fn: => Unit): Double = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(1) // median
    }
    for (size <- Seq(1000000L, 4000000L)) {
      val path = s"/tmp/graft_bench/ivfabsorb_$size"
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      val rebuild = timed(Ann.writeIvfIndex(
        vecs(0L, size), "vec_id", "embedding", nCentroids = 64, path))
      var next = size // disjoint fresh ids per absorbed batch
      def batch() = { val b = vecs(next, next + 1000L); next += 1000L; b }
      // one untimed absorb first: the timed medians must not carry the
      // codegen/JIT warmup of the absorb path
      Ann.absorbIvfIndex(spark, path, batch(), "vec_id", "embedding")
      val absorbGuard = timed(Ann.absorbIvfIndex(
        spark, path, batch(), "vec_id", "embedding"))
      val absorbNoGuard = timed(Ann.absorbIvfIndex(
        spark, path, batch(), "vec_id", "embedding", idempotent = false))
      println(f"store=$size%8d  rebuild: $rebuild%8.3f s   " +
        f"absorb(guard): $absorbGuard%6.3f s   " +
        f"absorb(no-guard): $absorbNoGuard%6.3f s")
    }
    spark.stop()
  }
}
