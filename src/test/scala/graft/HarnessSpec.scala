package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The shared query selector and Bench's run plan, without Spark: a
  * mistyped `SPARK_GRAFT_ONLY` must fail the run, never time zero
  * queries and report a total of 0 as a success. */
class HarnessSpec extends AnyFunSuite with Matchers {
  private val registry = SparkEntry.queries.keys.toSeq
  private val trimmed = Set("t16_gopher_drop", "m12_bpe_tokens",
    "d16_drop_dup_spans", "m9_minhash_estimate")

  test("a prefix that matches no query fails the run and is named") {
    val e = intercept[IllegalArgumentException] {
      Harness.selected(only = Some("q4,zz_typo, yy_typo"))
    }
    e.getMessage should include("zz_typo")
    e.getMessage should include("yy_typo")
    e.getMessage should not include "q4"
    intercept[IllegalArgumentException] {
      Harness.selected(only = Some(" , "))
    }.getMessage should include("empty")
  }

  test("prefixes select exactly the queries they match, in " +
    "SparkEntry.queries order") {
    val got = Harness.selected(only = Some(" q4_, n11 ,,"))
    got shouldBe registry.filter(n => n.startsWith("q4_") ||
      n.startsWith("n11"))
    got should contain allOf ("q4_training_pipeline", "n11_ivf_incremental")
  }

  test("the skip set applies only when no explicit list is given") {
    Harness.selected(trimmed, None) shouldBe registry.filterNot(trimmed)
    Harness.selected(trimmed, Some("t16_gopher_drop")) shouldBe
      Seq("t16_gopher_drop")
  }

  test("Bench: SPARK_GRAFT_BENCH_ALL=1 disables both the skip set and " +
    "the prebuilds") {
    val (timed, prebuilt) = Bench.plan(Map.empty[String, String].get)
    timed shouldBe registry.filterNot(trimmed)
    prebuilt should contain allOf ("q6_shard_ingest", "n12_ivf_cell_stats")
    Bench.plan(Map("SPARK_GRAFT_BENCH_ALL" -> "0").get) shouldBe
      ((timed, prebuilt))
    for (v <- Seq("1", "true", "TRUE")) {
      val (all, none) = Bench.plan(Map("SPARK_GRAFT_BENCH_ALL" -> v).get)
      all shouldBe registry
      none shouldBe empty
    }
    // an explicit list overrides the skip set but keeps the prebuilds
    val picked = registry.filter(Set("t16_gopher_drop", "q6_shard_ingest"))
    Bench.plan(Map("SPARK_GRAFT_ONLY" -> "q6_,t16").get) shouldBe
      ((picked, picked))
  }
}
