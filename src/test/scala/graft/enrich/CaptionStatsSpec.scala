package graft.enrich

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class CaptionStatsSpec extends SparkSpec {
  import spark.implicits._

  private def statsOf(text: String): Row =
    CaptionStats.enrich(Seq(text).toDF("caption"), "caption")
      .drop("caption").head()

  test("token and sentence counts on a two-sentence caption") {
    val df = CaptionStats.enrich(
      Seq("The quick fox jumps. It runs fast!").toDF("caption"), "caption")
    val r = df.select("num_tok", "num_sent", "min_sent_len", "max_sent_len")
      .head()
    r.getInt(0) shouldBe 7
    r.getInt(1) shouldBe 2
    r.getInt(2) shouldBe 3 // "It runs fast"
    r.getInt(3) shouldBe 4 // "The quick fox jumps"
  }

  test("empty and whitespace-only captions yield zeros, not errors") {
    // note: trim() strips spaces only (same in DuckDB), so a tab-only
    // caption counts one (empty-token) sentence; spaces are the case the
    // reference hits
    for (s <- Seq("", "   ")) {
      val df = CaptionStats.enrich(Seq(s).toDF("caption"), "caption")
      val r = df.select("num_tok", "num_sent", "min_sent_len").head()
      r.getInt(0) shouldBe 0
      r.getInt(1) shouldBe 0
      r.getInt(2) shouldBe 0
    }
  }

  test("NE proxy: capitalized tokens, ALLCAPS typed ORG") {
    val df = CaptionStats.enrich(
      Seq("Alice met NASA near Paris today").toDF("caption"), "caption")
      .select(col("ne_texts").as("t"), col("ne_types").as("y"))
    val r = df.head()
    r.getSeq[String](0) shouldBe Seq("Alice", "NASA", "Paris")
    r.getSeq[String](1) shouldBe Seq("MISC", "ORG", "MISC")
  }

  test("POS proxy cascade order: number beats propn beats lexicon") {
    val toks = Seq("42", "3.14", "Paris", "and", "of", "!!", "running",
      "was", "beautiful", "careful", "dog").toDF("t")
      .select(col("t"), CaptionStats.posTag(col("t")).as("pos"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    toks("42") shouldBe "NUM"
    toks("3.14") shouldBe "NUM"
    toks("Paris") shouldBe "PROPN"
    toks("and") shouldBe "CONJ"
    toks("of") shouldBe "ADP"
    toks("!!") shouldBe "SYM"
    toks("running") shouldBe "VERB"
    toks("was") shouldBe "VERB"
    toks("beautiful") shouldBe "ADJ"
    toks("careful") shouldBe "ADJ"
    toks("dog") shouldBe "NOUN"
  }

  test("invariants hold on real documents (property check)") {
    val df = CaptionStats.enrich(
      spark.read.parquet(s"$sf0001/documents.parquet"), "text")
    val arrSize = org.apache.spark.sql.functions.size _
    val bad = df.filter(
      col("min_sent_len") > col("max_sent_len") ||
        arrSize(col("ne_texts")) =!= col("num_ne") ||
        arrSize(col("ne_texts")) =!= arrSize(col("ne_types")) ||
        col("ratio_ne_tok") < 0 || col("ratio_ne_tok") > 1 ||
        col("ratio_noun_tok") < 0 || col("ratio_noun_tok") > 1 ||
        col("ratio_all_noun_tok") < 0 || col("ratio_all_noun_tok") > 1 ||
        col("num_nouns") + col("num_propn") + col("num_conj") +
          col("num_verb") + col("num_sym") + col("num_num") +
          col("num_adp") + col("num_adj") =!= col("num_tok"))
    bad.count() shouldBe 0L
  }

  test("pos/readability blocks are config-gated (dynamic schema)") {
    val df = CaptionStats.enrich(Seq("a b").toDF("caption"), "caption",
      posTagStats = false, readabilityScores = false)
    df.columns should contain("num_tok")
    df.columns should not contain "num_nouns"
    df.columns should not contain "fk_re_score"
  }

  test("backend profiles tokenize per their reference library's contract " +
    "(e1-twin: same text, three metadata variants)") {
    // "Dr. Smith, who arrived late, left!" —
    //   spacy proxy   : whitespace runs → 6 tokens ("Smith," is one)
    //   nltk proxy    : punctuation split out → Dr . Smith , who arrived
    //                   late , left ! = 10 tokens
    //   polyglot proxy: unicode words only → 6 tokens, no punct anywhere
    val text = "Dr. Smith, who arrived late, left!"
    def numTok(b: MetadataBackend): Int =
      CaptionStats.enrich(Seq(text).toDF("caption"), "caption", backend = b)
        .select("num_tok").head().getInt(0)
    numTok(MetadataBackend.Spacy) shouldBe 6
    numTok(MetadataBackend.Nltk) shouldBe 10
    numTok(MetadataBackend.Polyglot) shouldBe 6
    // polyglot ≠ spacy where a token is pure punctuation
    def toks(b: MetadataBackend): Seq[String] =
      Seq("hello — world !").toDF("c")
        .select(b.tokens(col("c")).as("t")).head().getSeq[String](0)
    toks(MetadataBackend.Spacy) shouldBe Seq("hello", "—", "world", "!")
    toks(MetadataBackend.Nltk) shouldBe Seq("hello", "—", "world", "!")
    toks(MetadataBackend.Polyglot) shouldBe Seq("hello", "world")
    // default = spacy = the oracle-checked semantics (e1 stays green)
    CaptionStats.enrich(Seq(text).toDF("caption"), "caption")
      .select("num_tok").head().getInt(0) shouldBe 6
  }

  test("backend selection flows from a reference-shaped YAML through " +
    "enrich, and downstream stats inherit the tokenizer") {
    val cfg = graft.config.PipelineConfig.fromYaml(
      "extraction:\n  metadata_generator_backend: nltk\n")
    val b = cfg.metadataGeneratorBackend
    b shouldBe MetadataBackend.Nltk
    val df = CaptionStats.enrich(
      Seq("Alice runs fast!").toDF("caption"), "caption", backend = b)
    val r = df.select("num_tok", "num_sym").head()
    r.getInt(0) shouldBe 4 // Alice runs fast !
    r.getInt(1) shouldBe 1 // the split-out '!' POS-tags as SYM
  }
}
