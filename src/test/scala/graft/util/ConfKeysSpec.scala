package graft.util

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Without Spark: the knobs the engine reads. Every `spark.graft.*` conf
  * key and every environment variable named in `src/main/scala` code
  * (comments do not count) is pinned here, so adding, renaming or
  * dropping a knob has to edit this list. */
class ConfKeysSpec extends AnyFunSuite with Matchers {
  private lazy val code = CacheSitesSpec.mainCode().map(_._2).mkString("\n")

  /** Group 1 of every match of `re` in the engine's code. */
  private def named(re: scala.util.matching.Regex): Set[String] =
    re.findAllMatchIn(code).map(_.group(1)).toSet

  test("the spark.graft.* conf keys are exactly the pinned set") {
    named(""""(spark\.graft\.[A-Za-z0-9_.]*)"""".r) shouldBe Set(
      "spark.graft.quantiles.maxBandRows",
      "spark.graft.store.leaseTtlMs",
      "spark.graft.benchPrebuiltStores")
  }

  test("the environment variables are exactly the pinned set") {
    named(""""(SPARK_[A-Z0-9_]*)"""".r) shouldBe Set(
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_BENCH_PASSES",
      "SPARK_GRAFT_BENCH_ALL", "SPARK_GRAFT_PLANS_SUFFIX", "SPARK_MASTER")
    code should not include "getenv"
  }
}
