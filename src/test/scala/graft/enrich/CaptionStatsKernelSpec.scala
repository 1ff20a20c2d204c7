package graft.enrich

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity of the native caption-stats pass ([[graft.functions.
  * CaptionStatsKernel]], `Tokens`, `Sentences`, `PosTag`) against the
  * column formulation it replaced ([[CaptionStatsHof]]): every column
  * bit-equal, readability doubles included, on all three backends and all
  * four flag combinations, through both the interpreted path (a local
  * relation is evaluated at optimization time) and whole-stage codegen (a
  * parquet scan). */
class CaptionStatsKernelSpec extends SparkSpec {

  /** The adversarial set: Java's `\s` members and the line terminators
    * `$` matches before, case mappings that leave ASCII (Kelvin sign,
    * dotted capital I), non-ASCII letters, numeric and punctuation-only
    * tokens, empty and whitespace-only captions, and null. */
  private val adversarial: Seq[String] = Seq(
    "", " ", "   ", "\t", "\u000B", "\f", "\r\n", " \t\u000B\f\r\n ",
    "Abc\u0085 def", "ABC\u2028", "Paris\u2029 now", "NASA\u0085",
    "12\u2028", "!!\u0085", "ing\u2028", "Paris\n", "NASA\r\n", "42\r",
    "1.5\n", "\u00A0!",
    "\u212Aelvin \u212AING", "\u0130stanbul \u0130NG S\u0130NG",
    "Café naïve Straße GRÜN École",
    "中文 日本語. 東京!",
    "3.14 1,000 1.2.3 42 007 1. .5",
    "... !? , ; -- () [] — ¿",
    "...!?", "Hello...!? World", "a.b.c", "x!y?z",
    "The quick fox jumps. It runs fast!",
    "and or but of to running walked beautiful careful small Big NEW",
    "Dr. Smith, who arrived late, left!",
    "emoji 😀 here. 😀!",
    "tab\tsep\u000Bvt\fff\rcr\nnl. Next  one ", null)

  private val vocab = Seq("and", "of", "Running", "beautiful", "NASA",
    "Paris", "3.14", "1,000", "walked", "is", "good", "été",
    "Straße", "\u212A", "\u0130", "x_y", "it's", "--", "...")
  private val pieces = Seq(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f",
    ".", "!", "?", "...", ",", "'", "\u0085", "\u2028", "\u2029", "\u00A0",
    "中", "😀", "ß", "7", "A", "z")

  /** Seeded random captions over words, separators and odd characters. */
  private val random: Seq[String] = {
    val r = new scala.util.Random(3002)
    Seq.fill(300) {
      val sb = new StringBuilder
      (0 until r.nextInt(25)).foreach { _ =>
        if (r.nextInt(3) == 0) sb ++= pieces(r.nextInt(pieces.size))
        else sb ++= vocab(r.nextInt(vocab.size))
        if (r.nextInt(4) != 0) sb += ' '
      }
      sb.toString
    }
  }

  private lazy val local: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList((adversarial ++ random).zipWithIndex
      .map { case (s, i) => Row(i.toLong, s) }: _*),
    StructType(Seq(StructField("id", LongType, false),
      StructField("caption", StringType, true))))

  private lazy val scanned: DataFrame = {
    val dir = Files.createTempDirectory("cs-kernel").toString + "/p"
    local.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Row cells with doubles as raw bits, so 0.0 ≠ -0.0 and NaNs compare
    * by payload. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq.map(bits))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    got.schema.map(f => (f.name, f.dataType)) shouldBe
      want.schema.map(f => (f.name, f.dataType))
    val (g, w) = (rows(got), rows(want))
    g.size shouldBe w.size
    g.zip(w).foreach { case (a, b) => a shouldBe b }
  }

  private val flags = for (p <- Seq(true, false); r <- Seq(true, false))
    yield (p, r)

  test("enrich = the column formulation on every backend and flag " +
    "combination, interpreted and codegen'd") {
    for (input <- Seq(local, scanned); b <- MetadataBackend.All;
         (p, r) <- flags) withClue(s"$b pos=$p readability=$r: ") {
      assertSame(CaptionStats.enrich(input, "caption", p, r, b),
        CaptionStatsHof.enrich(input, "caption", p, r, b))
    }
  }

  test("Tokens and Sentences = split/regexp_extract_all formulations") {
    for (input <- Seq(local, scanned); b <- MetadataBackend.All)
      withClue(s"$b: ") {
        assertSame(
          input.select(col("id"), b.tokens(col("caption")).as("t"),
            CaptionStats.sentences(col("caption")).as("s")),
          input.select(col("id"), CaptionStatsHof.tokens(col("caption"), b)
            .as("t"), CaptionStatsHof.sentences(col("caption")).as("s")))
      }
  }

  test("PosTag = the CASE WHEN cascade on every token, raw captions and " +
    "null, with and without ICU case mappings") {
    val icu = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.getOption(icu)
    try {
      for (on <- Seq("true", "false"); input <- Seq(local, scanned)) {
        spark.conf.set(icu, on)
        def each(b: MetadataBackend, base: Long) =
          input.select(col("id"), posexplode(b.tokens(col("caption"))))
            .select((lit(base) + col("id") * 1000 + col("pos")).as("id"),
              col("col").as("t"))
        val toks = input.select(col("id"), col("caption").as("t"))
          .union(each(MetadataBackend.Spacy, 1000000L))
          .union(each(MetadataBackend.Nltk, 2000000000L))
        withClue(s"icu=$on: ") {
          assertSame(
            toks.select(col("id"), CaptionStats.posTag(col("t")).as("p")),
            toks.select(col("id"), CaptionStatsHof.posTag(col("t")).as("p")))
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(icu, v)
      case None => spark.conf.unset(icu)
    }
  }

  test("a null caption gives size(null) counts in legacy sizeOfNull mode " +
    "too") {
    val ansi = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(ansi)
    try {
      spark.conf.set(ansi, "false") // legacy sizeOfNull: size(null) = -1
      for (input <- Seq(local, scanned); b <- MetadataBackend.All)
        withClue(s"$b: ") {
          assertSame(CaptionStats.enrich(input, "caption", backend = b),
            CaptionStatsHof.enrich(input, "caption", backend = b))
        }
      CaptionStats.enrich(local.filter(col("caption").isNull), "caption")
        .select("num_tok", "min_sent_len").head() shouldBe Row(-1, 0)
    } finally before match {
      case Some(v) => spark.conf.set(ansi, v)
      case None => spark.conf.unset(ansi)
    }
  }

  test("the plan holds one kernel call and no lambda functions") {
    val plan = CaptionStats.enrich(scanned, "caption")
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    exprs.count(_.isInstanceOf[graft.functions.CaptionStatsKernel]) shouldBe 1
    exprs.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.LambdaFunction]) shouldBe false
  }
}
