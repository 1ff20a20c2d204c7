package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Readability scores (reference `utils.py:258-263` via spacy-readability;
  * formulas reproduced in `notebooks/f30k_vs_coco_vs_wicsmmir_v2.ipynb:
  * 17669-17679`) as Catalyst column arithmetic over token, sentence,
  * syllable and difficult-word counts. The counts come from the native
  * [[graft.functions.CaptionStatsKernel]] pass.
  *
  * Syllable heuristic (documented engine semantics): number of maximal vowel
  * runs `[aeiouy]+` in the lowercased word, minimum 1. "Difficult word"
  * proxy for Dale–Chall: ≥ 3 syllables.
  */
object Readability {

  /** Syllable count of one word — native codegen'd expression (single byte
    * scan; see [[graft.functions.SyllableCount]]). Semantics those of
    * `greatest(size(regexp_extract_all(lower(w), "[aeiouy]+")), 1)`,
    * property-checked in ReadabilitySpec. */
  def syllables(w: Column): Column = graft.functions.SyllableCount(w)

  private def wOf(numTok: Column): Column =
    greatest(numTok, lit(1)).cast(DoubleType)

  /** Flesch Reading Ease from pre-computed counts.
    * No rounding: the formula is a fixed left-assoc chain of IEEE ops over
    * exact integer-valued inputs, so results are bit-stable across engines
    * (SURVEY.md §7.4 determinism note). */
  def fleschReadingEaseOf(syl: Column, numTok: Column,
                          numSent: Column): Column =
    lit(206.835) - lit(1.015) * (wOf(numTok) / wOf(numSent)) -
      lit(84.6) * (syl.cast(DoubleType) / wOf(numTok))

  /** Flesch–Kincaid Grade Level from pre-computed counts. */
  def fleschKincaidGradeOf(syl: Column, numTok: Column,
                           numSent: Column): Column =
    lit(0.39) * (wOf(numTok) / wOf(numSent)) +
      lit(11.8) * (syl.cast(DoubleType) / wOf(numTok)) -
      lit(15.59)

  /** Dale–Chall from pre-computed counts: 0.1579·pctDifficult +
    * 0.0496·(W/S), +3.6365 if pctDifficult > 5. */
  def daleChallOf(difficult: Column, numTok: Column,
                  numSent: Column): Column = {
    val pct = lit(100.0) * (difficult.cast(DoubleType) / wOf(numTok))
    lit(0.1579) * pct + lit(0.0496) * (wOf(numTok) / wOf(numSent)) +
      when(pct > 5, lit(3.6365)).otherwise(lit(0.0))
  }
}
