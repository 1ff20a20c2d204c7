package graft.analytics

import org.apache.spark.sql.functions._

/** Measures the A1 vocab hot-key aggregation with and without salting at
  * sf0.1 — the before/after behind SCALE.md's "Vocab A1" row. Run:
  *   sbt "Test/runMain graft.analytics.SaltBench [sfDir]"
  *
  * Expectation to verify, not assume: for COUNT-shaped aggregates the
  * map-side partial aggregate already collapses hot keys to one partial
  * row per (key × partition), so salting should measure ~neutral here and
  * pay off only for buffers partial-agg can't collapse (collect_list,
  * exact per-key quantiles) or at extreme partition counts. */
object SaltBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session(32)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() // warm page cache + codegen
    def toks = docs.select(explode(
      graft.enrich.CaptionStats.tokens(col("text"))).as("token"))
      .withColumn("pos", graft.enrich.CaptionStats.posTag(col("token")))
    def time(fn: => org.apache.spark.sql.DataFrame): Double = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(1) // median
    }
    val plain = time(toks.groupBy("token", "pos")
      .agg(count(lit(1)).as("count")))
    val salted = time(Layout.saltedCount(toks, Seq("token", "pos"), 16))
    println(f"plain vocab agg:  $plain%.3f s")
    println(f"salted vocab agg: $salted%.3f s (16 salt buckets)")
    spark.stop()
  }
}
