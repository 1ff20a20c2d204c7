package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String/scalar functions (SURVEY.md §2.9) — the reference's URL builder,
  * scrubbers and caption fixers as codegen'd column expressions. */
object TextFunctions {

  /** X1: Wikimedia file-name normalization (reference `utils.py:49-51`):
    * strip `File:`/`Image:` prefix, spaces → underscores, first char upper. */
  def wikimediaName(c: Column): Column = {
    val stripped = regexp_replace(c, "^(File|Image):", "")
    val underscored = regexp_replace(stripped, " ", "_")
    concat(upper(substring(underscored, 1, 1)), substring(underscored, 2, 1000000))
  }

  /** X2: MD5 shard prefix `a/ab/` used by Wikimedia paths
    * (`utils.py:52-54`). */
  def md5Shard(name: Column): Column = {
    val d = md5(name)
    concat(substring(d, 1, 1), lit("/"), substring(d, 1, 2), lit("/"))
  }

  /** X2+X4: full upload URL `https://upload.wikimedia.org/wikipedia/commons/
    * a/ab/Name` (`utils.py:56-58`; percent-encoding X3 is applied by the
    * fetch layer, not here, to keep the column oracle-expressible). */
  def wikimediaUrl(fileCol: Column): Column = {
    val n = wikimediaName(fileCol)
    concat(lit("https://upload.wikimedia.org/wikipedia/commons/"),
      md5Shard(n), n)
  }

  /** X5: unicode control-char scrub (reference `utils.py:431`,
    * `regex.sub(r"\p{C}", "")`). */
  def scrubControlChars(c: Column): Column =
    regexp_replace(c, "\\p{C}", "")

  /** X6: `add_punct` (`f30k_vs_coco_vs_wicsmmir_v2.ipynb:17544-17552`):
    * strip whitespace, drop trailing dots, append ". ". */
  def addPunct(c: Column): Column =
    concat(regexp_replace(trim(c), "\\.+$", ""), lit(". "))

  /** X11: HTML → prose, the boilerplate-strip step every web corpus runs
    * before the text filters (t12/t14 expect prose, not markup):
    * drop `<script>`/`<style>` blocks and comments whole, strip remaining
    * tags, unescape the five XML entities plus `&#39;`/`&nbsp;`, collapse
    * whitespace.
    *
    * Deliberately regex-only (no DOM): every pattern is shared Java-regex/
    * RE2 syntax — `(?is)` inline flags and lazy quantifiers, NO
    * backreferences (RE2 has none, so script and style get separate
    * patterns) — making the chain oracle-portable. Entity unescape order
    * matters: `&amp;` is LAST, so `&amp;lt;` unescapes exactly once to
    * the literal text `&lt;` (the HTML5 double-escape rule). Tags become
    * spaces (block boundaries keep words apart), then `\s+` collapses.
    * Map-only codegen'd replaces — fuses into the scan at 100 TB. */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noCmt = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noCmt, "(?s)<[^>]*>", " ")
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) =>
        replace(acc, lit(k), lit(v))
      }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }
}
