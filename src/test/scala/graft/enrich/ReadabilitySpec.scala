package graft.enrich

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ReadabilitySpec extends SparkSpec {
  import spark.implicits._

  test("syllable heuristic: maximal vowel runs, min 1") {
    val r = Seq(("queue", "strength", "beautiful", "xyz"))
      .toDF("a", "b", "c", "d")
      .select(Readability.syllables(col("a")),
        Readability.syllables(col("b")),
        Readability.syllables(col("c")),
        Readability.syllables(col("d"))).head()
    r.getInt(0) shouldBe 1 // qu[ueue] — one maximal vowel run
    r.getInt(1) shouldBe 1 // e
    r.getInt(2) shouldBe 3 // eau, i, u... b[eau]t[i]f[u]l
    r.getInt(3) shouldBe 1 // y counts: x[y]z
  }

  test("FK/DC formulas on a known sentence") {
    val r = CaptionStats.enrich(Seq("The cat sat.").toDF("caption"),
      "caption").select("fk_re_score", "fk_gl_score", "dc_score").head()
    // W=3, S=1, Syl=3, difficult=0
    r.getDouble(0) shouldBe (206.835 - 1.015 * 3 - 84.6 * 1) +- 1e-9
    r.getDouble(1) shouldBe (0.39 * 3 + 11.8 * 1 - 15.59) +- 1e-9
    r.getDouble(2) shouldBe (0.0496 * 3) +- 1e-9
  }

  test("Dale-Chall adds 3.6365 when >5% difficult words") {
    // "university" = u-i-e-i-y → 5 runs ≥ 3 → difficult; 1/2 = 50% > 5%
    val r = CaptionStats.enrich(Seq("university rocks").toDF("caption"),
      "caption").select("dc_score").head()
    val pct = 100.0 * (1.0 / 2.0)
    r.getDouble(0) shouldBe (0.1579 * pct + 0.0496 * 2 + 3.6365) +- 1e-9
  }

  test("native SyllableCount ≡ regexp formulation on real corpus + edges") {
    import spark.implicits._
    val regexpSyll = greatest(
      org.apache.spark.sql.functions.size(
        regexp_extract_all(lower(col("w")), lit("[aeiouy]+"), lit(0))),
      lit(1))
    val edge = Seq("", "b", "a", "AEIOU", "naïve", "Ärger", "x1y2",
      "qu-eue", "ÿ", "crwth", "İA", "Aİ", "İstanbul").toDF("w")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(graft.enrich.CaptionStats.tokens(col("text")))
        .as("w"))
    for (df <- Seq(edge, corpus)) {
      df.filter(graft.functions.SyllableCount(col("w")) =!= regexpSyll)
        .count() shouldBe 0L
    }
  }

  test("syllable_count registers as a SQL function") {
    graft.functions.SyllableCount.register(spark)
    spark.sql("SELECT syllable_count('beautiful') AS n")
      .head().getInt(0) shouldBe 3
  }
}
