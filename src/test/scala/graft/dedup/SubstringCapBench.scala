package graft.dedup

import org.apache.spark.sql.functions._

/** Measures dropDupSubstrings' maxOcc viral-seed cap on a
  * boilerplate-heavy corpus — the before/after behind SCALE.md's
  * "Substring dedup D24" row. Run:
  *   sbt "Test/runMain graft.dedup.SubstringCapBench"
  *
  * Shape under test: every doc shares one 20-token boilerplate passage
  * (the viral-seed worst case — licence headers, cookie banners), so an
  * UNCAPPED pair join is quadratic in the corpus (n²/2 pairs per
  * boilerplate seed). The cap drops those seeds (recall-only,
  * reported), keeping the join linear in the non-viral remainder.
  * Expectation to verify, not assume: uncapped time grows ~4× when the
  * corpus doubles; capped time stays ~flat. */
object SubstringCapBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(32)
    import spark.implicits._
    def corpus(n: Int) = (1 to n).map { i =>
      val uniq1 = (1 to 10).map(j => s"u${i}_$j").mkString(" ")
      val boiler = (1 to 20).map(j => s"boiler$j").mkString(" ")
      val uniq2 = (1 to 10).map(j => s"v${i}_$j").mkString(" ")
      (i.toLong, s"$uniq1 $boiler $uniq2")
    }.toDF("doc_id", "text").cache()
    def time(fn: => org.apache.spark.sql.DataFrame): Double = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(1) // median
    }
    for (n <- Seq(1200, 4800)) {
      val df = corpus(n)
      df.count() // materialize the cache outside the timing
      val capped = time(Dedup.dropDupSubstrings(df, "doc_id", "text",
        minLen = 12, seedN = 8, maxOcc = 500))
      val uncapped = time(Dedup.dropDupSubstrings(df, "doc_id", "text",
        minLen = 12, seedN = 8, maxOcc = 10 * n * n))
      val (g, m) = graft.util.Metrics.drops(
        Dedup.dupSubstringSeedCapReport(df, "doc_id", "text",
          seedN = 8, maxOcc = 500))
      println(f"n=$n%5d  capped(maxOcc=500): $capped%7.3f s   " +
        f"uncapped: $uncapped%7.3f s   " +
        f"dropped: $g seeds / $m occurrences")
      df.unpersist()
    }
    spark.stop()
  }
}
