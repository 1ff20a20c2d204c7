package graft.util

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Without Spark: every skew cap in `src/main` is a [[Metrics.capped]]
  * operator, which counts what it drops, so no cap compares a group
  * size against `maxBucket`, `maxOcc` or `maxCluster` in a plain
  * filter. Comments do not count. */
class CapSitesSpec extends AnyFunSuite with Matchers {
  test("no skew-cap comparison outside the counting operator") {
    val cmp = """(<=|>=|<|>|===|=!=)\s*(maxBucket|maxOcc|maxCluster)\b""".r
    val hits = CacheSitesSpec.mainCode().flatMap { case (f, text) =>
      cmp.findAllIn(text).map(m => s"${f.getName}: $m")
    }
    hits shouldBe empty
  }
}
