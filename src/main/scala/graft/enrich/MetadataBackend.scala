package graft.enrich

import org.apache.spark.sql.Column

import graft.functions.CaptionStatsImpl

/** The reference's NLP-backend selector surfaced as a first-class engine
  * concept: `MetadataGeneratorBackend` (`utils.py:39-43`) is a per-run
  * config choice (`configs/config_localhost_test_spacy.yml:15`,
  * `wikicaps_etl_pipeline.py:29`) selecting which library tokenizes the
  * captions — spaCy (`utils.py:228`), NLTK (`utils.py:302`) or polyglot
  * (`utils.py:397`) — producing three metadata variants per dataset.
  *
  * The engine keeps the reference's architecture (one enrichment block,
  * backend-parameterized tokenization) but replaces each library with a
  * **documented deterministic proxy** (the same license SURVEY.md §7.4
  * applies to the single-backend case). What genuinely differs between
  * the reference backends is the token stream — spaCy and NLTK emit
  * punctuation as standalone tokens, polyglot's unicode word tokenizer
  * drops it — so the proxies differ exactly there, and every downstream
  * stat (counts, NE/POS proxies, readability) inherits the choice:
  *
  *  - [[MetadataBackend.Spacy]]    token = maximal non-whitespace run
  *    (the engine's original semantics; the oracle-checked default)
  *  - [[MetadataBackend.Nltk]]     word_tokenize-like: word runs kept
  *    whole, each other non-space char its own token ("a, b!" → 4 toks)
  *  - [[MetadataBackend.Polyglot]] unicode words only: maximal
  *    letter/digit runs, punctuation dropped ("a, b!" → 2 toks)
  *
  * All three tokenize inside the one native [[graft.functions.Tokens]] /
  * [[graft.functions.CaptionStatsKernel]] pass (rules in
  * [[graft.functions.CaptionStatsImpl]]) — the backend choice changes the
  * tokenizer, never the plan shape. */
sealed abstract class MetadataBackend(val name: String, val id: Int)
    extends Serializable {
  /** Tokens of `c` under this backend's tokenizer. */
  def tokens(c: Column): Column = graft.functions.Tokens(c, this)
}

object MetadataBackend {

  case object Spacy extends MetadataBackend("spacy", CaptionStatsImpl.Spacy)
  case object Nltk extends MetadataBackend("nltk", CaptionStatsImpl.Nltk)
  case object Polyglot
    extends MetadataBackend("polyglot", CaptionStatsImpl.Polyglot)

  val All: Seq[MetadataBackend] = Seq(Spacy, Nltk, Polyglot)

  /** Resolve a config value (`metadata_generator_backend:`). Unknown
    * names FAIL the run — the reference errors on an unknown enum value
    * too; silently defaulting would produce mislabeled metadata. */
  def fromName(s: String): MetadataBackend =
    All.find(_.name == s.trim.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"unknown metadata_generator_backend '$s' " +
          s"(expected one of ${All.map(_.name).mkString(", ")})"))
}
