package graft.vocab

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.CacheScope

/** Byte-pair-encoding tokenizer TRAINING and segmentation (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the vocabulary-learning step of an LLM data pipeline,
  * distributed the way the original algorithm already wants to be:
  * over the WORD HISTOGRAM, never the corpus.
  *
  * Training never touches corpus rows after the first count: the
  * corpus collapses to a (word, count) histogram in one token-keyed
  * shuffle (bounded by vocabulary size × partitions — the [[Vocab]]
  * scale argument), and every merge ROUND runs on that histogram: one
  * map-combined pair-count aggregate, one `TakeOrderedAndProject`
  * top-`batchPrefetch` (default 512), one driver collect of that
  * bounded candidate table, from which a provably-safe PREFIX of
  * merges applies as one fused job (see [[learnMerges]] — the
  * Lloyd/PageRank driver-round discipline: the loop state is a short
  * merge-rule batch, not data). At web scale the histogram is ~10⁷
  * rows regardless of corpus size, so a 30k-merge training run is
  * ~10²–10³ small jobs over megabytes; the classic optimization
  * (incremental pair-count deltas instead of recounts) trades the
  * recount for driver state and is deliberately NOT taken — recounting
  * keeps every round a stateless, re-runnable aggregate.
  *
  * Symbol representation: a word is its symbols joined and WRAPPED by
  * single spaces (`" l o w "`), so a merge is one literal
  * `replace(" a b " → " ab ")` — left-to-right, non-overlapping, which
  * is exactly BPE's leftmost-first greedy application (a shared border
  * symbol merges once: `a a a` + rule (a,a) → `aa a`). Spark's
  * codegen'd `replace` and the oracle's `replace` share those
  * semantics, so the two engines learn IDENTICAL merge tables. Ties in
  * pair counts break deterministically by (count desc, left asc,
  * right asc).
  *
  * No end-of-word marker is added: merges never cross word boundaries
  * (each histogram row is one word), matching the reference
  * formulation with per-word symbol sequences. Callers wanting `</w>`
  * semantics append it to words before training. Symbols must be
  * whitespace-free (guaranteed for `\s+`-tokenized words — caller
  * contract). */
object Bpe {

  /** `" c h a r s "` spaced-symbol form of a word — each character a
    * symbol, single-space separated, one leading and one trailing
    * space (the merge patterns' anchor). */
  private[vocab] def spaced(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "))

  /** Weighted adjacent-pair counts (a, b, c) over a spaced-symbol
    * histogram (`s`, `n`) — one Generate + one map-combined aggregate;
    * the shuffle carries distinct pairs × partitions. */
  private def pairCounts(hist: DataFrame): DataFrame = {
    val syms = split(trim(col("s")), " ")
    hist.select(syms.as("l"), col("n"))
      .filter(size(col("l")) >= 2) // sequence(1, 0) would DESCEND
      .select(explode(transform(sequence(lit(1), size(col("l")) - 1),
        i => struct(element_at(col("l"), i).as("a"),
          element_at(col("l"), i + 1).as("b")))).as("p"), col("n"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("c"))
  }

  /** Learn `nMerges` merge rules from a word histogram
    * (`wordCol`, `countCol`). Returns (left, right, pairCount) in
    * merge order — fewer than `nMerges` when the histogram runs out of
    * adjacent pairs. The histogram is persisted for the loop and every
    * intermediate is released before returning (the per-call cache
    * ownership contract of the dedup family).
    *
    * BATCHED SELECTION (identical output to one-at-a-time greedy):
    * each round collects the top-`batchPrefetch` candidate pairs in
    * the global order (count desc, left asc, right asc) and selects
    * the maximal PREFIX (stop at the first violation — skipping would
    * change the greedy sequence) in which
    *  1. pairs are pairwise SYMBOL-DISJOINT — a merge only rewrites
    *     adjacencies touching its own symbols, so a disjoint pair's
    *     count is invariant under the earlier merges of the batch, and
    *     the batch's replaces commute (applied as one fused job);
    *  2. each count strictly exceeds a running bound B on the largest
    *     pair count any earlier batch merge could CREATE: merging
    *     (a,b) only creates pairs (x,ab)/(ab,y), whose counts are
    *     ≤ occ("x a b") ≤ count(x,a) resp. ≤ count(b,y) — so B
    *     accumulates the max count over candidate pairs ADJACENT to
    *     each selected pair (right symbol = a, or left symbol = b —
    *     a self-pair a=b matches its own filter, so the (aa,aa) run
    *     cascade is bounded by its own count with no special case),
    *     falling back to the truncation floor (the last collected
    *     count) for adjacent pairs below the cut.
    * Old pairs never increase (old-symbol adjacencies are destroyed,
    * never created), pairs outside the prefix are strictly behind in
    * the total order with only-decreasing counts, and new pairs stay
    * ≤ B < the selected count — so each batch member is exactly the
    * pair the sequential recount would have picked, and ties with an
    * unknowable new-pair name can't arise (strict >). A 10k-merge run
    * costs ~10²–10³ Spark jobs instead of 10⁴; `batchPrefetch = 1`
    * degenerates to the pre-batching one-pair-per-job loop (floor =
    * the single count forces a batch of one) — the spec's reference
    * path.
    *
    * The bound proof's inequality occ(new pair) ≤ count(old pair)
    * holds only when every histogram weight is ≥ 0: a negative-weight
    * row can MASK positive occurrence mass (count(x,a) small while
    * occ(" x a b ") is large), letting the batch admit a pair the
    * sequential recount would not have picked next. So a histogram
    * with any negative weight (count-delta inputs) is detected up
    * front (one tiny aggregate on the persisted histogram) and runs
    * the sequential one-pair-per-round loop, which never consults the
    * bound — correct for any weights, just unbatched. */
  def learnMerges(words: DataFrame, wordCol: String, countCol: String,
                  nMerges: Int, batchPrefetch: Int = 512)
  : Seq[(String, String, Long)] = CacheScope.run { scope =>
    require(nMerges >= 0, "nMerges must be non-negative")
    require(batchPrefetch >= 1, "batchPrefetch must be >= 1")
    var cur = scope.cache(words
      .select(spaced(col(wordCol)).as("s"),
        col(countCol).cast("long").as("n")))
    // batching is sound only for non-negative weights (see scaladoc);
    // a count-delta histogram falls back to one pair per round.
    // r21: this one aggregate ALSO materializes the cache (it reads
    // through the persist) — the former separate cur.count() job is
    // folded away
    val minRow = cur.agg(min(col("n"))).collect().head
    val prefetch =
      if (!minRow.isNullAt(0) && minRow.getLong(0) < 0L) 1
      else batchPrefetch
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var exhausted = false
    while (out.length < nMerges && !exhausted) {
      val cand = pairCounts(cur)
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(prefetch).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cand.isEmpty) exhausted = true
      else {
        // below-cut pairs are ≤ floor in count; 0 when the table fit
        val floor = if (cand.length == prefetch) cand.last._3 else 0L
        val used = scala.collection.mutable.HashSet.empty[String]
        var bound = 0L
        val batch = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var stop = false
        val it = cand.iterator
        while (!stop && it.hasNext && out.length + batch.length < nMerges) {
          val (a, b, c) = it.next()
          // the round's FIRST pick is greedy's own top pair — correct
          // unconditionally (and guarantees progress: a non-positive
          // top count, e.g. zero-weight histogram rows, must not spin
          // the loop on an empty batch)
          if (batch.nonEmpty && (used(a) || used(b) || c <= bound))
            stop = true
          else {
            batch += ((a, b, c)); used += a; used += b
            // the filter matches (a,b) itself when a = b, so the
            // self-pair (aa,aa)-cascade bound (its own count) is
            // covered without a special case
            val adjMax = cand.iterator
              .filter { case (x, y, _) => y == a || x == b }
              .map(_._3).foldLeft(floor)(math.max)
            bound = math.max(bound, adjMax)
          }
        }
        out ++= batch
        val next = scope.cache(cur
          .select(batch.foldLeft(col("s")) { case (acc, (a, b, _)) =>
            replace(acc, lit(s" $a $b "), lit(s" $a$b "))
          }.as("s"), col("n")))
        next.count() // materialize before releasing the parent
        scope.release(cur)
        cur = next
      }
    }
    out.toSeq
  }

  /** Segment a word column with a learned merge table: the spaced form
    * folded through each rule's literal replace IN MERGE ORDER (BPE
    * encoding applies rules by learned priority), split back to a
    * symbol array. Map-only — `merges` folds into the plan as literal
    * expressions, zero joins, zero shuffles, codegen-fused into the
    * scan; a 30k-rule table becomes a 30k-deep expression, so segment
    * via a broadcast scalar loop in `mapPartitions` beyond ~1k rules
    * (the k-means literal-centroid tradeoff, `Clustering.scala`). */
  def segment(word: Column, merges: Seq[(String, String)]): Column =
    split(trim(merges.foldLeft(spaced(word)) { case (acc, (a, b)) =>
      replace(acc, lit(s" $a $b "), lit(s" $a$b "))
    }), " ")

  /** The scalar greedy merge application [[segment]] encodes as column
    * replaces — one pass per rule, leftmost-first non-overlapping.
    * Shared by [[segmentWords]] and the parity spec. */
  private[vocab] def applyMerges(word: String,
                                 merges: Seq[(String, String)])
  : Seq[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector
    merges.foreach { case (a, b) =>
      if (syms.length >= 2) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Segment a (word → symbol-array) DataFrame column with a LARGE
    * merge table: the rules ship once per executor as a broadcast and
    * apply in a scalar loop per row — the path [[segment]]'s scaladoc
    * promises beyond ~1k rules, where a literal-fold would compile a
    * rule-table-deep expression (codegen blowup, 64KB method limits).
    * Same greedy leftmost-first semantics (spec-proven equal to
    * [[segment]] on generated vocabularies). Returns `df` plus
    * `outCol: array<string>`. */
  def segmentWords(df: DataFrame, wordCol: String, outCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(merges.toVector)
    val seg = udf((w: String) =>
      if (w == null) null else applyMerges(w, bc.value))
    df.withColumn(outCol, seg(col(wordCol)))
  }
}
