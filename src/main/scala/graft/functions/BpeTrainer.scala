package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-iteration BPE tokenizer training — the driver loop that
  * composes the gated single iteration (`q_bpe_apply`: count → pick →
  * merge → recount) N times, exactly as [[IvfIndex.fit]] loops its
  * Lloyd step.
  *
  * Representation: every word is a doubled-space symbol sequence
  * (`"ab"` → `"  a  b  "`), so a merge of pair (A, B) is the plain
  * string replace `' A  B '` → `' AB '` — the doubled separator leaves
  * one space on each side after a match, so CONSECUTIVE occurrences
  * merge in one left-to-right pass exactly like the reference greedy
  * scan, with no lookbehind regex. Symbols re-parse by splitting on
  * spaces and dropping empties.
  *
  * Scale shape per iteration: ONE map-side-combined pair-count shuffle
  * over the corpus; the winning pair is a driver-side top-1 pull (two
  * strings — the IvfIndex.fit centroid posture: driver state is the merge
  * table only, never corpus rows); the merge itself is row-local.
  * After N iterations the merge table is the tokenizer artifact and
  * the encoded corpus is the tokenized output. At 100 TB one does not
  * run 30k merge iterations against the full corpus — tokenizers are
  * trained on a corpus SAMPLE: feed `fit` a deterministic slice (the
  * q_sample_hash / q_sample_topn carvers) and apply the learned merge
  * table corpus-wide; the per-iteration plan is unchanged either way.
  *
  * Determinism: the pick orders by (count DESC, a ASC, b ASC) — total,
  * engine-independent; merging is all-occurrence left-to-right
  * replace. No RNG anywhere, so N merges are a pure function of the
  * corpus (BpeTrainerSpec proves fit(3) ≡ fit(1)∘fit(1)∘fit(1)
  * bit-exact).
  *
  * Algorithm: Sennrich, Haddow & Birch (2016), "Neural Machine
  * Translation of Rare Words with Subword Units" (the word-internal
  * BPE variant; word boundaries are never crossed).
  */
object BpeTrainer {

  /** One learned merge: symbols `a` + `b` → `a+b`, with the corpus
    * pair count that won the pick.
    */
  final case class Merge(a: String, b: String, n: Long)

  /** Flatten the per-iteration replace chain this often. */
  val CheckpointEvery = 16

  /** Dictionary-regime gate (round 21): when the encoded corpus holds
    * at most this many DISTINCT word sequences, the trainer collects
    * the (seq, multiplicity) dictionary ONCE and runs the greedy merge
    * loop locally — the classic BPE-trainer posture (Sennrich et al.'s
    * reference implementation iterates an in-memory word-count dict),
    * replacing `iters` sequential cluster jobs with one bounded
    * aggregate + collect. Pair counts over the dict weighted by
    * multiplicity are EXACTLY the corpus pair counts, and the local
    * ops reproduce the distributed ones verbatim: the same
    * split-on-' '-regex symbol parse, the same literal
    * ' A  B ' → ' AB ' left-to-right non-overlapping replace (Java
    * String.replace ≡ UTF8String.replace for literal patterns), and
    * the same (count DESC, a ASC, b ASC) pick under UTF8 BINARY string
    * order (UTF8String.compareTo, not java.lang.String.compareTo —
    * they diverge on supplementary characters). So the merge table and
    * the returned corpus are bit-identical across regimes
    * (BpeTrainerSpec's differential suite runs both). Above the gate
    * the per-iteration distributed loop runs unchanged — vocabularies
    * of natural-language corpora are bounded (~1e6 word forms at web
    * scale), but nothing guarantees the input is natural language, so
    * the fallback keeps the trainer scale-safe. The collect is bounded
    * by construction: limit(gate + 1) rows of word-sized strings
    * (~10 MB at the default gate), the IvfIndex collectMaxK idiom.
    */
  val DictMaxWords = 100000

  /** Encode a word column into the doubled-space symbol form (one
    * character per symbol) the trainer iterates on.
    *
    * @param words DataFrame with a string column `tok` (one word/row)
    */
  def encode(words: DataFrame): DataFrame =
    words.select(
      concat(lit("  "), regexp_replace(col("tok"), "(.)", "$1  ")).as("seq"))

  /** Adjacent-symbol pair counts over an encoded corpus: one
    * map-side-combined shuffle keyed on (a, b).
    */
  def pairCounts(enc: DataFrame): DataFrame =
    enc.select(expr("filter(split(seq, ' '), x -> x != '')").as("sym"))
      .filter(size(col("sym")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(sym) - 1), i -> struct(sym[i-1] AS a, sym[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))

  /** Apply one merge row-locally (no shuffle). Literal pair strings
    * ride in as Column literals (never spliced into SQL text), so any
    * symbol alphabet is safe.
    */
  def applyMerge(enc: DataFrame, a: String, b: String): DataFrame =
    enc.select(call_function("replace", col("seq"),
      lit(s" $a  $b "), lit(s" $a$b ")).as("seq"))

  /** Run `iters` merge iterations over an already-encoded corpus.
    * Returns the learned merges (possibly fewer than `iters` when the
    * corpus runs out of repeated pairs) and the final encoded corpus.
    */
  def fitEncoded(enc: DataFrame, iters: Int,
                 dictMaxWords: Int = DictMaxWords): (Seq[Merge], DataFrame) = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    if (iters == 0) return (Seq.empty, enc)
    // dictionary regime first (see DictMaxWords): one aggregate job +
    // one bounded collect replaces iters sequential pair-count jobs.
    // Tests force the distributed regime by passing a tiny bound —
    // the IvfIndex collectMaxK idiom; results are identical across
    // regimes by construction (localFit scaladoc).
    val dict = enc.groupBy("seq").agg(count(lit(1)).as("wn"))
      .limit(dictMaxWords + 1).collect()
    if (dict.length <= dictMaxWords) {
      val merges = localFit(dict.map(r => (r.getString(0), r.getLong(1))), iters)
      // the returned corpus is the same lazy replace chain the
      // distributed loop leaves behind, checkpoint-flattened at the
      // same cadence — recomputed only if the caller uses it
      var cur = enc
      merges.zipWithIndex.foreach { case (m, i) =>
        cur = applyMerge(cur, m.a, m.b)
        if ((i + 1) % CheckpointEvery == 0) cur = graft.Checkpoint(cur)
      }
      (merges, cur)
    } else {
      // every iteration's job otherwise re-derives the base encoding
      // (scan + explode + regexp expand) before its k replaces — cache
      // the shared prefix for the duration of the fit and release it on
      // exit (the returned frame recomputes lazily if used afterwards)
      val base = if (iters > 1) enc.cache() else enc
      try fitCached(base, iters)
      finally if (iters > 1) base.unpersist(blocking = false)
    }
  }

  /** The greedy loop over a collected (seq, multiplicity) dictionary —
    * op-for-op the distributed iteration: split(' ')-parse symbols and
    * count adjacent pairs weighted by multiplicity (≡ pairCounts over
    * the full corpus), pick by (count DESC, a, b) in UTF8 binary
    * order (≡ the orderBy pick), apply the literal doubled-separator
    * replace to every dict entry (≡ applyMerge), stop when no pair
    * remains (≡ the empty-top early exit). Operating on the literal
    * seq STRINGS — not re-derived symbol arrays — keeps every replace
    * edge case (the sealed line-terminator tail that pair counting
    * sees but the separator replace can never merge) identical by
    * construction.
    */
  private def localFit(dict: Array[(String, Long)], iters: Int): Seq[Merge] = {
    import org.apache.spark.unsafe.types.UTF8String
    val seqs = dict.map(_._1)
    val wn = dict.map(_._2)
    val merges = Seq.newBuilder[Merge]
    var it = 0
    var exhausted = false
    while (it < iters && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      var i = 0
      while (i < seqs.length) {
        val sym = seqs(i).split(" ", -1).filter(_.nonEmpty)
        if (sym.length >= 2) {
          var j = 0
          while (j + 1 < sym.length) {
            val key = (sym(j), sym(j + 1))
            val prev = counts.get(key)
            counts.put(key, if (prev == null) wn(i) else prev + wn(i))
            j += 1
          }
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestA: String = null
        var bestB: String = null
        var bestN = 0L
        counts.forEach { (k, v) =>
          val better = bestA == null || v > bestN || (v == bestN && {
            val ca = UTF8String.fromString(k._1).compareTo(UTF8String.fromString(bestA))
            ca < 0 || (ca == 0 &&
              UTF8String.fromString(k._2).compareTo(UTF8String.fromString(bestB)) < 0)
          })
          if (better) { bestA = k._1; bestB = k._2; bestN = v }
        }
        merges += Merge(bestA, bestB, bestN)
        val search = s" $bestA  $bestB "
        val repl = s" $bestA$bestB "
        var m = 0
        while (m < seqs.length) { seqs(m) = seqs(m).replace(search, repl); m += 1 }
      }
      it += 1
    }
    merges.result()
  }

  private def fitCached(base: DataFrame, iters: Int): (Seq[Merge], DataFrame) = {
    var cur = base
    val merges = Seq.newBuilder[Merge]
    var it = 0
    var exhausted = false
    while (it < iters && !exhausted) {
      val top = pairCounts(cur)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(a, b, n)
        cur = applyMerge(cur, a, b)
        // the seq expression nests one replace per iteration; flatten
        // the chain periodically or codegen/analysis cost grows with
        // the merge count (a real tokenizer runs thousands of merges).
        // graft.Checkpoint: local blocks in dev, reliable under a
        // configured checkpoint dir — the Pregel-posture rule.
        if ((it + 1) % CheckpointEvery == 0) cur = graft.Checkpoint(cur)
      }
      it += 1
    }
    (merges.result(), cur)
  }

  /** End-to-end: split documents' `text` into words, encode, train. */
  def fit(docs: DataFrame, iters: Int): (Seq[Merge], DataFrame) =
    fitEncoded(encode(docs.select(explode(split(col("text"), " ")).as("tok"))), iters)
}
