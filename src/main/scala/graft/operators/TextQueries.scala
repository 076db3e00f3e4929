package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis operators over the documents table: token statistics,
  * quality scoring, language identification (stopword heuristic), and
  * document fingerprinting (polynomial rolling hash + winnowing min).
  *
  * All linear per-document column work — no shuffle except the final
  * ordering; at 100 TB these run as a single narrow pass over the
  * corpus. Scores are exact small-integer ratios (identical double
  * bits in both engines), fingerprints are exact integer arithmetic
  * kept below 2^63 via mod-1e9+7 folding.
  */
/** The quality keep-rule, shared between q_text_quality and the
  * pipeline's stage 1 (PipelineQueries) so thresholds cannot
  * desynchronize — both the Spark predicate and every oracle-SQL
  * fragment interpolate these constants.
  */
object QualityRule {
  val MinToks = 10
  val MaxToks = 1000
  val MinMeanLen = 2.0
  val MaxMeanLen = 12.0
  val MinDistinctRatio = 0.2

  def keep(nToks: Column, meanLen: Column, dratio: Column): Column =
    nToks.between(MinToks, MaxToks) &&
      meanLen.between(MinMeanLen, MaxMeanLen) &&
      dratio > MinDistinctRatio

  /** DuckDB WHERE fragment over the raw `text` column. */
  def keepSqlOverText: String =
    s"""len(string_split(text, ' ')) BETWEEN $MinToks AND $MaxToks
       |    AND (list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
       |         / len(string_split(text, ' '))) BETWEEN $MinMeanLen AND $MaxMeanLen
       |    AND (len(list_distinct(string_split(text, ' ')))::DOUBLE
       |         / len(string_split(text, ' '))) > $MinDistinctRatio""".stripMargin
}

object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Stopword marker lists per language (classic langid heuristic:
    * score = count of language-marker tokens; the testdata vocabulary
    * is synthetic and shared across langs, so this is exercised as a
    * deterministic scoring pipeline, not a classifier benchmark).
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "von"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("de", "le", "shi", "he", "zai"),
  )

  private def toks: Column = split(col("text"), " ")

  /** Count of tokens that appear in `words`. */
  private def markerCount(words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  def queries: Map[String, Q] = Map(
    // Per-language top words through the native TopKPerGroup operator
    // (graft.plans) — the vocabulary-summary query composed from
    // explode → count → bounded per-group heaps. The word-count
    // aggregate shrinks the heap input; the operator then shuffles only
    // ≤ k·langs·partitions candidate rows instead of window-sorting
    // every distinct word.
    "q_text_topwords" -> ((s, d) => {
      graft.plans.TopKPerGroupStrategy.register(s)
      val counts = documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
      graft.plans.TopKPerGroup(counts,
        groupCols = Seq("lang"),
        orderCols = Seq("n" -> false, "w" -> true),
        k = 5)
        .orderBy("lang", "rn")
    }),

    // tf-idf term weighting: tf per (doc, word), document frequency per
    // word, score = tf * N / df (log-free idf — Math.log and std::log
    // are not bit-identical across engines, while IEEE mul/div in this
    // exact association order are; ranking order is preserved for fixed
    // tf since x ↦ N/x is monotone). Top-3 terms per doc, word as the
    // deterministic tie-break. Scale posture: tf and the doc-frequency
    // table both shuffle on the word — the vocabulary is corpus-sized,
    // NOT broadcast-able at 100 TB; the doc count joins in as a
    // broadcast scalar. The rn<=3 filter is the TopKRewriteRule shape,
    // so under GraftExtensions it plans as TopKPerGroup (bounded heaps,
    // no full per-doc sort).
    "q_text_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // document frequency falls out of tf for free: tf already has one
      // row per distinct (doc, word), so df = row count per word — no
      // second explode over the raw token stream
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "w")
        .crossJoin(broadcast(n))
        .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("w"))))
        .filter(col("rn") <= 3)
        .select("doc_id", "w", "tf", "df", "score", "rn")
        .orderBy("doc_id", "rn")
    }),

    // Corpus normalization pass: the cleaning stage every training
    // pipeline runs before dedup/tokenization — lowercase, strip
    // non-alphanumerics, collapse runs of spaces, trim. Regexes stay in
    // the Java∩RE2 common subset (DuckDB is RE2) so both engines agree.
    "q_text_normalize" -> ((s, d) => {
      val cleaned = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      documents(s, d)
        .select(col("doc_id"), cleaned.as("clean"),
          length(cleaned).as("clean_len"),
          (length(col("text")) - length(cleaned)).as("removed"))
        .orderBy("doc_id")
    }),

    // Token statistics: counts via split (whitespace tokenizer) and a
    // BPE-ish sub-token estimate via a regex pass.
    "q_text_tokens" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          size(filter(toks, t => length(t) >= 5)).as("n_long"),
          // crude BPE-ish proxy: ceil(chars/4) per token, summed
          aggregate(toks, lit(0L), (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))
            .as("n_subtoks"),
          col("n_chars"))
        .orderBy("doc_id")),

    // Quality scoring: distinct-token ratio, mean token length, and a
    // rule-based keep flag — the standard cheap pre-filters of a
    // training-data pipeline.
    "q_text_quality" -> ((s, d) =>
      documents(s, d)
        .withColumn("n_toks", size(toks))
        // exact identity, no interpreted HOF: splitting on a single space
        // partitions the string, so sum(len(tok)) = length - (n_toks - 1)
        .withColumn("char_sum", length(col("text")).cast("long") - col("n_toks") + 1L)
        .select(
          col("doc_id"),
          col("n_toks"),
          (size(array_distinct(toks)).cast("double") / col("n_toks")).as("distinct_ratio"),
          (col("char_sum").cast("double") / col("n_toks")).as("mean_tok_len"),
          QualityRule.keep(col("n_toks"),
            col("char_sum").cast("double") / col("n_toks"),
            size(array_distinct(toks)).cast("double") / col("n_toks"))
            .as("keep"))
        .orderBy("doc_id")),

    // Language ID via stopword-marker scoring; argmax with alphabetical
    // tie-break, expressed as a deterministic CASE cascade.
    "q_text_langid" -> ((s, d) => {
      val scored = documents(s, d)
        .select(col("doc_id") +: col("lang").as("label") +:
          Markers.map { case (l, ws) => markerCount(ws).as(s"s_$l") }: _*)
      // argmax: first lang (alphabetical) whose score equals the max
      val best = Markers.map(_._1)
        .foldRight(lit("und")) { case (l, e) =>
          when(col(s"s_$l") === greatest(Markers.map(m => col(s"s_${m._1}")): _*)
            && greatest(Markers.map(m => col(s"s_${m._1}")): _*) > 0, lit(l)).otherwise(e)
        }
      scored
        .select(col("doc_id"), col("label"), best.as("pred_lang"),
          greatest(Markers.map(m => col(s"s_${m._1}")): _*).as("best_score"))
        .orderBy("doc_id")
    }),

    // Document fingerprinting: (a) polynomial rolling hash of the token
    // stream mod 1e9+7 (order-sensitive content id), (b) winnowing-style
    // min of 3-gram md5s (robust to local edits).
    "q_text_fingerprint" -> ((s, d) => {
      // <3 tokens ⇒ no 3-grams. The guard matters: sequence(1, n) with
      // n < 1 produces a DESCENDING sequence reaching index 0, and
      // element_at(_, 0) throws — DuckDB's generate_series(1, 0) is
      // just empty.
      val grams = when(size(toks) >= 3,
        transform(
          sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>"))
      val tokHash = (t: Column) =>
        conv(md5(t).substr(1, 15), 16, 10).cast("long") % 1000000007L
      documents(s, d)
        .select(
          col("doc_id"),
          aggregate(toks, lit(0L), (acc, t) => (acc * 31L + tokHash(t)) % 1000000007L)
            .as("fp_poly"),
          array_min(transform(grams, g => md5(g))).as("fp_min"),
          col("lang"))
        .orderBy("doc_id")
    }),

    // Redaction pass (the PII-scrub shape): replace every whole-word
    // occurrence of the target terms, count hits, report the new
    // length. Pure per-row regex work — narrow, shuffle-free, and the
    // regex stays in the Java∩RE2 subset (\b over ASCII word chars)
    // so both engines tokenize identically. At corpus scale this is
    // the same single-pass map as q_text_normalize.
    "q_text_scrub" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit("\\b(key|hash)\\b")).cast("int").as("n_hits"),
          length(regexp_replace(col("text"), "\\b(key|hash)\\b", "<X>")).cast("int")
            .as("scrub_len"))
        .orderBy("doc_id")),

    // Fixed-size overlapping chunking (LLM context-window prep):
    // window 120 chars, stride 80 — each doc explodes into
    // ceil(len/stride) chunks, consecutive chunks sharing a 40-char
    // overlap. The 1→N expansion is sequence+explode (generator, no
    // intermediate array bigger than the chunk starts); chunk text is
    // substr in CHARACTER units on both engines. The empty-doc guard
    // (greatest(len-1, 0)) pins one empty chunk, where DuckDB's
    // generate_series(0,-1) would emit none.
    "q_doc_chunk" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("start",
          explode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)), lit(80))))
        .select(
          col("doc_id"),
          (col("start") / 80).cast("int").as("chunk_idx"),
          col("text").substr(col("start") + 1, lit(120)).as("chunk"),
          length(col("text").substr(col("start") + 1, lit(120))).cast("int").as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")),

    // Sequence packing (training-batch prep): concatenate documents in
    // doc_id order per language until a 2048-token budget fills, then
    // start the next pack — pack_id = prev_cum_tokens div budget, the
    // streaming-concatenation rule every LLM data loader uses. Exact
    // integer arithmetic end to end (cumulative window sum + integer
    // div), so both engines agree bit-for-bit. The per-lang running
    // sum forces one hash partition per language — fine when packing
    // is per-source/per-shard (the real layout); for a single giant
    // stratum the scale path is block-local packing (pack within
    // partitions, renumber by partition id) which drops the global
    // order constraint — documented, not silently swapped in, since
    // the oracle pins the sequential semantics.
    "q_doc_pack" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id", expr("(cum - n_tokens) div 2048"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_total"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "pack_id")
    }),

    // Bigram collocation mining: top-20 adjacent word pairs by LIFT
    // (observed/expected co-occurrence) with min support 5 — the
    // corpus-statistics pass behind tokenizer-merge candidates and
    // stop-phrase lists. Lift is ranked instead of log-PMI so the
    // score is ONE double division of exact integer products (log()
    // is not correctly-rounded cross-engine; division is — Tables
    // rule 2). Bigram/unigram counts shuffle once each on the token;
    // the unigram side joins back twice via broadcast (vocabulary ≪
    // corpus; at 100 TB vocab is still ~1e7 rows — if it outgrows the
    // broadcast threshold this degrades gracefully to a shuffle join
    // on the word key). Each count is cast to DOUBLE BEFORE the
    // multiplies: nu² alone passes 2^63 at ~3e9 corpus tokens, so the
    // integer-product form silently wraps at scale (and non-ANSI Spark
    // wraps where DuckDB errors — engine divergence). Double multiply/
    // divide are correctly rounded, so with identical left-to-right
    // association both engines still produce the same bits.
    "q_text_colloc" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val toks = documents(s, d)
        .select(split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      val uni = toks.select(explode(col("t")).as("w"))
      val nUni = uni.agg(count(lit(1)).as("nu"))
      // round 21: bigrams stream through the TokNgramsGenExpr
      // Generator (same grams, same order — ExtensionsSpec pins the
      // generator ≡ the transform/concat chain) instead of an
      // interpreted per-window lambda
      val bg = toks.select(expr("graft_tok_ngrams(t, 2)").as(Seq("bp", "bg")))
        .select("bg")
      val nBg = bg.agg(count(lit(1)).as("nb"))
      val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
      bg.groupBy("bg").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .join(broadcast(uc.select(col("w").as("w1"), col("c").as("c_x"))), "w1")
        .join(broadcast(uc.select(col("w").as("w2"), col("c").as("c_y"))), "w2")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBg))
        .select(col("bg"), col("c_xy"), col("c_x"), col("c_y"),
          ((col("c_xy").cast("double") * col("nu").cast("double") * col("nu").cast("double"))
            / (col("nb").cast("double") * col("c_x").cast("double") * col("c_y").cast("double"))).as("lift"))
        .orderBy(col("lift").desc, col("bg"))
        .limit(20)
    }),

    // Curriculum phase assignment: bin every document into 4 difficulty
    // phases by token count (easy→hard training order). Deliberately
    // NOT ntile() — a global ntile is a single-partition sort. Instead
    // the exact score DISTRIBUTION is aggregated (bounded domain:
    // distinct token counts ≪ corpus), packed into ONE sorted array
    // row, and the quartile boundaries are read off a single
    // aggregate() HOF fold over that array with integer arithmetic
    // (4·cum ≥ k·N — no division, no ties ambiguity). No window at
    // all — the previous form used Window.orderBy over the tiny dist
    // table, which was safe but emitted the same "No Partition
    // Defined" warning a real scale bug would. Docs then map to
    // phases row-locally via a broadcast of the 1-row bounds. Scales
    // as one map-side-combined aggregate + one broadcast join.
    "q_curriculum" -> ((s, d) => {
      val t = documents(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"))
      val dist = t.groupBy("n_tokens").agg(count(lit(1)).as("c"))
      val bounds = dist
        .agg(array_sort(collect_list(struct(col("n_tokens"), col("c")))).as("dc"))
        .withColumn("total", expr("aggregate(dc, CAST(0 AS BIGINT), (a, x) -> a + x.c)"))
        .select(expr(
          """aggregate(dc,
            |  struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS INT) AS b1,
            |         CAST(NULL AS INT) AS b2, CAST(NULL AS INT) AS b3),
            |  (a, x) -> struct(a.cum + x.c AS cum,
            |    coalesce(a.b1, CASE WHEN (a.cum + x.c) * 4 >= total * 1 THEN x.n_tokens END) AS b1,
            |    coalesce(a.b2, CASE WHEN (a.cum + x.c) * 4 >= total * 2 THEN x.n_tokens END) AS b2,
            |    coalesce(a.b3, CASE WHEN (a.cum + x.c) * 4 >= total * 3 THEN x.n_tokens END) AS b3))""".stripMargin).as("bs"))
        .select(col("bs.b1").as("b1"), col("bs.b2").as("b2"), col("bs.b3").as("b3"))
      t.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          (lit(1) + (col("n_tokens") > col("b1")).cast("int")
            + (col("n_tokens") > col("b2")).cast("int")
            + (col("n_tokens") > col("b3")).cast("int")).as("phase"))
        .orderBy("doc_id")
    }),

    // Character-trigram language profiles — the MODEL-BUILD side of
    // n-gram language ID (q_text_langid is the apply side): per
    // language, the 10 most frequent character trigrams with counts.
    // Trigram explosion is a generator (array never materializes per
    // row beyond the batch), counts partial-aggregate map-side, and
    // the per-lang top-10 is the row_number()≤k shape the TopK rewrite
    // plans as bounded heaps. At 100 TB the profile table is
    // |langs| × 10 rows from one scan — the cheapest model a pipeline
    // ever trains.
    "q_text_ngram_lm" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // trigrams stream through the ShingleGenExpr Generator — no
      // per-doc array materialization; measured 16% faster than the
      // codegen'd transform+explode route with an identical trigram
      // multiset
      graft.GraftExtensions.register(s)
      // round 21: the corpus-sized aggregation keys on the PACKED
      // trigram long (bijective and ORDER-preserving vs the string —
      // TriPackGenExpr scaladoc), so the (lang, tri) exchange carries
      // 8-byte longs instead of strings; the string is restored by
      // graft_tri_unpack only on the ≤ |langs|·10 surviving rows.
      // Identical rows: grouping and the (cnt DESC, tri) tie-break are
      // invariant under the order-preserving bijection.
      val tri = documents(s, d)
        .filter(length(col("text")) >= 3)
        .select(col("lang"), expr("graft_tri_pack(text)").as(Seq("tri_p")))
        .groupBy("lang", "tri_p").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tri_p"))
      tri.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("lang"), col("rnk"),
          expr("graft_tri_unpack(tri_p)").as("tri"), col("cnt"))
        .orderBy("lang", "rnk")
    }),

    // Trigram-LM document scoring — the model-APPLY side of
    // q_text_ngram_lm and the log-free stand-in for the perplexity
    // quality filter (CCNet/Gopher-style: score every document against
    // a language model, drop the tail). The score is the document's
    // AVERAGE in-corpus trigram probability: Σ profile_count(tri) /
    // (n_tri · lang_total) — both factors exact integers summed
    // exactly, ONE double division at the end, so the score is
    // bit-identical cross-engine where a log-perplexity sum would not
    // be (log is not correctly rounded; same contract as q_text_colloc
    // and q_text_bm25). Ranking/thresholding behavior matches real
    // perplexity monotonically for the common case (higher avg
    // probability ⇔ more in-distribution text). Scale shape: the
    // trigram profile is |langs|·|charset³| BOUNDED rows — it
    // BROADCASTS, the corpus trigram stream probes it map-side, and
    // the only corpus-keyed shuffle is the per-doc aggregation (partial
    // map-side combine). At 100 TB the profile is trained once on a
    // reference slice and reused — the join shape is unchanged.
    "q_text_perplexity" -> ((s, d) => {
      // One pass over the token stream: the exploded trigrams collapse
      // to per-doc DISTINCT-trigram counts first (td); the profile and
      // the probe BOTH consume td through the identical
      // (doc_id, lang, tri) exchange, so ReuseExchange computes the
      // explode + first aggregation once. totals derive from the
      // bounded profile, not the stream. Per-doc score re-expands from
      // distinct grams exactly: Σ_occurrences cnt = Σ_distinct c·cnt
      // (integer arithmetic, so the formulation change is invisible to
      // the oracle, which sums over occurrences).
      graft.GraftExtensions.register(s)
      // round 21: trigrams ride as PACKED longs end-to-end — the
      // trigram string never reaches the output, and the pack is
      // bijective (TriPackGenExpr scaladoc), so both aggregations and
      // the profile join see identical groups with 8-byte keys.
      val tri = documents(s, d)
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"),
          expr("graft_tri_pack(text)").as(Seq("tri")))
      val td = tri.groupBy("doc_id", "lang", "tri").agg(count(lit(1)).as("c"))
      val profile = td.groupBy("lang", "tri").agg(sum(col("c")).as("cnt"))
      val totals = profile.groupBy("lang").agg(sum(col("cnt")).as("tot"))
      td.join(broadcast(profile), Seq("lang", "tri"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("c")).as("n_tri"), sum(col("c") * col("cnt")).as("sum_cnt"))
        .join(broadcast(totals), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tri"), col("sum_cnt"),
          (col("sum_cnt").cast("double")
            / (col("n_tri").cast("double") * col("tot").cast("double"))).as("avg_prob"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination — the eval-leak check every training
    // corpus must run: for each corpus document, the fraction of its
    // DISTINCT word 3-grams that appear anywhere in the benchmark set
    // (here: the src0 documents stand in for the held-out benchmark);
    // containment ≥ 0.5 flags the document. Scale shape: the benchmark
    // side is always tiny relative to the corpus (benchmarks are
    // thousands of docs, the corpus is billions), so its distinct-gram
    // set BROADCASTS and the corpus-side gram stream probes it
    // map-side; the only shuffle is the per-doc count aggregation on
    // doc_id. Containment is one double division of exact counts —
    // cross-engine safe. n-gram order 3 balances specificity against
    // the benchmark-set size (the standard 8-13 token windows need
    // longer docs than this corpus has).
    // BM25 document ranking for a fixed 3-term query — the retrieval
    // scorer behind search/RAG corpus curation, complementing
    // q_text_tfidf (per-doc term weights) with per-QUERY document
    // ranking. Log-free idf variant: idf = (N - df + 0.5)/(df + 0.5)
    // (std::log/Math.log are not bit-identical across engines; the
    // ratio preserves the df ordering and keeps every factor an exact
    // IEEE op in a fixed association order ⇒ identical double bits in
    // both engines, same contract as q_text_colloc). Scale shape: term
    // frequencies and doc length are row-local array ops; corpus stats
    // (N, Σdl, per-term df) reduce to ONE 1-row aggregate that
    // broadcasts back, so scoring is map-side — no shuffle touches the
    // corpus beyond the stats reduction, and the final top-10 is a
    // TakeOrderedAndProject, never a full sort.
    "q_text_bm25" -> ((s, d) => {
      val terms = Seq("table", "spark", "query")
      val base = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("dl", size(col("t")).cast("long"))
      val tf = terms.zipWithIndex.foldLeft(base) { case (df0, (t, i)) =>
        df0.withColumn(s"tf$i",
          size(filter(col("t"), x => x === t)).cast("long"))
      }.drop("t")
      val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_sum")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = tf.agg(aggs.head, aggs.tail: _*)
      // k1 = 1.2, b = 0.75; association order mirrored exactly in SQL:
      // ((tf*2.2)/(tf + 1.2*(0.25 + 0.75*(dl/avgdl)))) * idf
      def score(i: Int): Column = {
        val tfD = col(s"tf$i").cast("double")
        val dfD = col(s"df$i").cast("double")
        val idf = (col("n_docs").cast("double") - dfD + lit(0.5)) / (dfD + lit(0.5))
        val avgdl = col("dl_sum").cast("double") / col("n_docs").cast("double")
        tfD * lit(2.2) /
          (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))) * idf
      }
      tf.crossJoin(broadcast(stats))
        .withColumn("score", score(0) + score(1) + score(2))
        .select(col("doc_id"), col("dl"),
          col("tf0").as("tf_table"), col("tf1").as("tf_spark"),
          col("tf2").as("tf_query"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    "q_decontaminate" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val toks = documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
      // round 21: distinct word 3-grams stream through TokNgramsGenExpr
      // (first-occurrence order, ≡ array_distinct(transform(...)) —
      // ExtensionsSpec pin) instead of materializing the per-doc
      // distinct array through interpreted lambdas
      val grams = toks.select(col("doc_id"), col("source"),
        expr("graft_tok_ngrams_distinct(t, 3)").as(Seq("gp", "g")))
        .select("doc_id", "source", "g")
      val bench = grams.filter(col("source") === "src0")
        .select(col("g").as("bg")).distinct()
      grams.filter(col("source") =!= "src0")
        .join(broadcast(bench), col("g") === col("bg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("bg")).as("n_hit"))
        .withColumn("containment",
          col("n_hit").cast("double") / col("n_grams").cast("double"))
        .withColumn("contaminated", col("containment") >= 0.5)
        .orderBy("doc_id")
    }),

    // Duplicated-span fraction per document (the RefinedWeb/C4-style
    // "fraction of n-gram windows that also occur in another document"
    // quality signal — catches template/boilerplate corpora that exact
    // and near-dedup both miss because no WHOLE document repeats).
    // Every token-position 5-gram window counts; a window is
    // "duplicated" iff its gram occurs in ≥ 2 distinct documents.
    // Scale shape: grams are generated row-local (codegen HOF, no
    // per-row array blowup beyond the token list already in hand);
    // the (gram, doc_id) occurrence aggregate is map-side combined
    // BEFORE its exchange, so the explode fan-out never crosses the
    // network raw; the per-gram distinct-doc count is then a window
    // over the already-shrunk one-row-per-(gram, doc) table, whose
    // per-gram partitions are bounded by corpus doc count, not
    // occurrence count — a hyper-common stopword gram costs one row
    // per doc, not one per occurrence. n_windows rides along as a
    // carried column, so docs with zero duplicated windows still
    // surface (dup_frac = 0) without a join back to the corpus.
    "q_text_dupspans" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.register(s)
      // round 21: the 5-gram windows stream through TokNgramsGenExpr
      // (≡ the transform/concat_ws chain — ExtensionsSpec pin)
      val t = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), (size(col("t")) - 4).cast("long").as("n_windows"),
          expr("graft_tok_ngrams(t, 5)").as(Seq("gp", "gram")))
        .select("doc_id", "n_windows", "gram")
      val occ = t.groupBy("gram", "doc_id")
        .agg(any_value(col("n_windows")).as("n_windows"),
          count(lit(1)).as("n_occ"))
      occ.withColumn("nd", count(lit(1)).over(Window.partitionBy("gram")))
        .groupBy("doc_id")
        .agg(any_value(col("n_windows")).as("n_windows"),
          sum(when(col("nd") > 1, col("n_occ")).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          col("n_dup").cast("double") / col("n_windows").cast("double"))
        .orderBy("doc_id")
    }),

    // Hashing-trick vectorization (HashingTF / Weinberger et al.):
    // tokens hash into a fixed 64-bucket space and each document
    // becomes a sparse (bucket, count) vector — the constant-memory
    // featurizer that needs NO vocabulary build, so it runs in one
    // pass on an unbounded corpus where a fitted vocabulary (q_text
    // _topwords / tf-idf) needs a prior aggregation. Output is the
    // sparse COO form (doc_id, bucket, n); the 60-bit md5 bucket hash
    // is the engine-wide cross-engine hash convention. Scale: explode
    // + ONE (doc_id, bucket)-keyed aggregate, map-side combined to at
    // most 64 rows per doc before the exchange — shuffle volume is
    // bounded by docs × 64 regardless of document length.
    "q_text_hashtf" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("bucket",
          expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint) % 64"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "bucket")),

    // Within-document repetition signals (the Gopher quality-filter
    // family's repetition axis, complementing q_text_dupspans' CROSS-
    // document axis): type-token ratio, most-frequent-token fraction,
    // and most-frequent-BIGRAM fraction per doc. High top-gram
    // fractions mark boilerplate/listicle/keyword-stuffed docs that
    // length and punctuation filters miss. Scale: two doc-keyed
    // aggregate branches (unigram and bigram), each map-side combined
    // before its exchange, joined on doc_id — shuffle volume is the
    // distinct-gram table, never the token stream; all fractions are
    // exact integer ratios in one double division ⇒ bit-identical
    // cross-engine. Bigrams derive row-local from the token array
    // (guarded: Spark sequence(1, 0) DESCENDS, so size < 2 maps to an
    // explicit empty array — DuckDB generate_series is empty there).
    "q_text_repetition" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val ft = documents(s, d)
        .select(col("doc_id"), filter(split(col("text"), " "), t => t =!= "").as("ft"))
      val ua = ft.select(col("doc_id"), explode(col("ft")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
          max("c").as("top_cnt"))
      // round 21: bigrams stream through TokNgramsGenExpr; size < 2
      // emits zero rows, exactly the explicit empty-array guard the
      // lambda form needed (sequence(1, 0) DESCENDS)
      val bga = ft
        .select(col("doc_id"), expr("graft_tok_ngrams(ft, 2)").as(Seq("bp", "b")))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_big_cnt"))
      ua.join(bga.withColumnRenamed("doc_id", "bdoc"),
          col("doc_id") === col("bdoc"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
          (col("top_cnt").cast("double") / col("n_tokens")).as("top_frac"),
          (col("top_big_cnt").cast("double") / (col("n_tokens") - 1)).as("top_big_frac"))
        .orderBy("doc_id")
    }),

    // Domain-mixture reweighting — the data-mixing pass that turns a
    // raw crawl into a training corpus with TARGET source proportions
    // (Pile/DoReMi-style mixture weights, no upsampling): per-source
    // char budgets toks_s, integer target weights w_s (derived
    // deterministically from the source id here; a config table at
    // deployment), achievable total budget B = min_s ⌊toks_s·W/w_s⌋
    // (the largest total where every source can fill its w_s/W share),
    // per-source keep rate = ⌊targetₛ·1e6/toksₛ⌋ ppm, then the
    // engine-wide md5-deterministic doc membership filter. All-integer
    // rate derivation ⇒ exact cross-engine (headroom: rates overflow
    // BIGINT past ~9e12 chars/source — switch the ppm product to
    // DECIMAL(38) there, one cast). Scale: the source distribution
    // collapses map-side to |sources| rows, rates broadcast back, and
    // the filter is row-local — one scan + one tiny aggregate, the
    // q_sample_balanced posture with char (token-proxy) budgets
    // instead of row counts.
    "q_mix_target" -> ((s, d) => {
      val srcw = documents(s, d)
        .groupBy("source").agg(sum(col("n_chars")).as("toks"))
        .filter(col("toks") > 0)
        .withColumn("w",
          expr("coalesce(try_cast(substring(source, 4, 8) AS INT) % 3, 0) + 1"))
      val caps = srcw.crossJoin(broadcast(srcw.agg(sum("w").cast("long").as("tw"))))
      val bmin = broadcast(caps.agg(min(expr("toks * tw div w")).as("budget")))
      val rates = caps.crossJoin(bmin)
        .select(col("source"), col("w"), col("toks"),
          expr("((w * budget div tw) * 1000000) div toks").as("rate_ppm"))
      val kept = documents(s, d)
        .join(broadcast(rates.select("source", "rate_ppm")), Seq("source"))
        .filter(expr(
          "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 1000000")
          < col("rate_ppm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
      rates.join(broadcast(kept), Seq("source"), "left")
        .select(col("source"), col("w"), col("toks"), col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
        .orderBy("source")
    }),

    // Deterministic train/val/test split assignment — the reproducible
    // 90/5/5 partition every training pipeline needs: membership is a
    // pure function of doc_id (md5 bucket mod 100, salted with
    // '#split' so it is INDEPENDENT of every sampling hash in the
    // engine), so reruns, backfills, and incremental ingests land each
    // doc in the same split forever — no stored assignment table, no
    // rand(). Output is the split manifest (per split × lang doc and
    // char counts — the form a tokenizer shards from). Row-local
    // hash + ONE map-side-combined aggregate to |splits|·|langs| rows.
    "q_split_assign" -> ((s, d) =>
      documents(s, d)
        .withColumn("bkt", expr(
          "cast(conv(substr(md5(concat(cast(doc_id as string), '#split')), 1, 15), 16, 10) as bigint) % 100"))
        .withColumn("split",
          when(col("bkt") < 90, "train").when(col("bkt") < 95, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .orderBy("split", "lang")),

    // Lexical-diversity quality signals — the vocabulary-richness
    // scores (type-token ratio, hapax-legomena rate, and a Gini
    // token-concentration index) that separate template/spam corpora
    // (few types repeated) from natural text. Determinism: every
    // double is division/subtraction of EXACT integers in a fixed op
    // order (ttr = distinct/total; hapax = once-only/distinct; gini
    // impurity = 1 − Σcnt²/total² with Σcnt² an exact BIGINT) — each
    // IEEE op is exactly defined, so bits match cross-engine; no
    // float accumulation anywhere. Scale: explode → two keyed
    // aggregations ((doc, token) then doc), both map-side-combined;
    // the second shuffles only one row per (doc, token) — linear, no
    // broadcast, no window.
    "q_text_diversity" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("cnt") * col("cnt")).as("ss"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_hapax"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
          (col("n_hapax").cast("double") / col("n_distinct")).as("hapax_ratio"),
          (lit(1.0) - col("ss").cast("double") / (col("n_tokens") * col("n_tokens"))).as("gini"))
        .orderBy("doc_id")),

    // BPE pair-count — the inner step of byte-pair-encoding tokenizer
    // training: count adjacent character pairs inside words across the
    // corpus and surface the top merge candidates. The full trainer
    // iterates (merge the winner, recount); one exact global count IS
    // the distributed primitive it repeats. Scale: chars explode to
    // ~corpus-bytes rows but partial aggregation combines map-side
    // before the single pair-keyed shuffle, and the top-20 is a
    // TakeOrderedAndProject (per-partition heaps), never a full sort.
    "q_bpe_pairs" -> ((s, d) => {
      // round 21: the adjacent-pair expansion streams through
      // graft_shingles(tok, 2) — identical 2-char substrings (code
      // point semantics, end-clip coincides for len 2 at n >= 2, the
      // guarded case) with no per-token array materialization through
      // the interpreted transform/sequence lambda.
      graft.GraftExtensions.register(s)
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(expr("graft_shingles(tok, 2)").as(Seq("pos", "pair")))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // Deterministic epoch shuffle with a SCALABLE global ordinal — the
    // "shuffle the corpus, then cut it into batches" pass every
    // training run needs, reproducible across runs and engines. Each
    // doc gets a salted 60-bit md5 position key; the global ordinal is
    // computed WITHOUT a single-partition sort window: the 2^60 key
    // space is cut into 64 ordered range buckets (bkt = hk div 2^54 is
    // monotone in hk, so (bkt, hk, doc_id) order IS (hk, doc_id)
    // order), per-bucket counts (a 64-row aggregate) become exclusive
    // prefix offsets via a tiny bucket×bucket theta-join, and the
    // ordinal is offset + rank-within-bucket — the distributed
    // zipWithIndex shape. batch_id = ordinal div 32. Scale: ONE keyed
    // shuffle for per-bucket ranks plus a 64-row broadcast; no
    // Exchange SinglePartition anywhere (PlanAuditSpec pins it).
    // Epoch 2 is one salt change away.
    "q_shuffle_epoch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val h = documents(s, d)
        .withColumn("hk", expr(
          "cast(conv(substr(md5(concat(cast(doc_id as string), '#epoch1')), 1, 15), 16, 10) as bigint)"))
        .withColumn("bkt", expr(s"hk div ${1L << 54}"))
      val cnt = h.groupBy("bkt").agg(count(lit(1)).as("bn"))
      val lower = cnt.select(col("bkt").as("b2"), col("bn").as("bn2"))
      val offs = cnt.join(lower, col("b2") < col("bkt"), "left")
        .groupBy("bkt").agg(coalesce(sum("bn2"), lit(0L)).as("off"))
      val w = Window.partitionBy("bkt").orderBy(col("hk"), col("doc_id"))
      h.join(broadcast(offs), "bkt")
        .withColumn("pos", col("off") + row_number().over(w) - lit(1L))
        .withColumn("batch_id", expr("pos div 32"))
        .select(col("doc_id"), col("pos"), col("batch_id"))
        .orderBy("doc_id")
    }),

    // Filter-cascade accounting — the FineWeb/Gopher-style quality
    // gate report: five row-local keep rules (too short, too long,
    // mean-token-length band, distinct-token ratio, top-token
    // fraction), each doc gets a fail bitmask, and the output is the
    // per-rule drop ledger: how many docs fail each rule at all, and
    // how many are dropped BY it (first failing rule in cascade
    // order) — the numbers that tell you which filter to tune before
    // re-running a 100 TB pass. Determinism: every rule is a pure
    // integer comparison (mean-len band as sl vs 2n/12n, ratios
    // cross-multiplied — no float thresholds anywhere). Scale: one
    // narrow scan, one map-side-combined 1-row aggregate, a 6-row
    // stack reshape; zero keyed shuffles (PlanAuditSpec pins it).
    "q_quality_gate" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      // round 11: the four rule inputs come from the native one-pass
      // TokenStatsExpr — the old Column chain computed the top-token
      // count QUADRATICALLY per row (distinct × n comparisons), the
      // one per-row superlinear term in the inventory; the hashmap
      // pass is O(tokens). Equivalence pinned against the old chain
      // (BpeEncodeEquivalenceSpec's token-stats test); oracle unchanged
      val st = ColumnBridge.column(graft.gen.TokenStatsExpr(
        ColumnBridge.expression(col("text"))))
      val base = documents(s, d)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          col("st.n").as("n"), col("st.sl").as("sl"),
          col("st.nd").as("nd"), col("st.mx").as("mx"))
      val flags = base.select(
        (col("n") < 10).as("r0"),
        (col("n") > 1000).as("r1"),
        (col("sl") < lit(2) * col("n") || col("sl") > lit(12) * col("n")).as("r2"),
        (lit(5) * col("nd") <= col("n")).as("r3"),
        (lit(5) * col("mx") > col("n")).as("r4"))
      val ff = when(col("r0"), 0).when(col("r1"), 1).when(col("r2"), 2)
        .when(col("r3"), 3).when(col("r4"), 4).otherwise(-1)
      flags
        .agg(
          sum(when(col("r0"), 1L).otherwise(0L)).as("f0"),
          sum(when(col("r1"), 1L).otherwise(0L)).as("f1"),
          sum(when(col("r2"), 1L).otherwise(0L)).as("f2"),
          sum(when(col("r3"), 1L).otherwise(0L)).as("f3"),
          sum(when(col("r4"), 1L).otherwise(0L)).as("f4"),
          sum(when(ff === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(ff === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(ff === 2, 1L).otherwise(0L)).as("d2"),
          sum(when(ff === 3, 1L).otherwise(0L)).as("d3"),
          sum(when(ff === 4, 1L).otherwise(0L)).as("d4"),
          sum(when(ff === -1, 1L).otherwise(0L)).as("np"))
        .select(expr(
          """stack(6,
            |  'pass',        np, np,
            |  'r0_short',    f0, d0,
            |  'r1_long',     f1, d1,
            |  'r2_meanlen',  f2, d2,
            |  'r3_distinct', f3, d3,
            |  'r4_toptok',   f4, d4) as (rule, n_failed, n_dropped_by)""".stripMargin))
        .orderBy("rule")
    }),

    // Inverted-index posting statistics — the search/RAG index-build
    // primitive: per term, document frequency, total term frequency,
    // and the head posting (the doc a ranked posting list serves
    // first: max tf, doc_id tie-break). Output is the df ≥ 5 head of
    // the vocabulary, top-50 by (df, term) — the slice an index
    // planner inspects for stop-term cutoffs and posting-skew before
    // committing a 100 TB index build. Shape: explode → ONE
    // map-side-combined (term, doc) count — the data reduction; the
    // row_number and the term-level rollup share ONE term-keyed
    // partitioning (the q_win_bars pattern: window then groupBy on the
    // same key, one exchange); top-50 rides TakeOrderedAndProject
    // per-partition heaps, never a global sort.
    "q_text_invindex" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
      tf.withColumn("rn", row_number().over(w))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
          max(when(col("rn") === 1, col("doc_id"))).as("top_doc_id"),
          max(when(col("rn") === 1, col("tf"))).as("top_tf"))
        .filter(col("df") >= 5)
        .orderBy(col("df").desc, col("term"))
        .limit(50)
    }),

    // BPE merge application — the apply step that closes the
    // tokenizer-training loop q_bpe_pairs opens: take the corpus-wide
    // top merge pair, apply it greedily left-to-right inside every
    // word, and recount adjacent SYMBOL pairs over the merged
    // vocabulary — one full BPE training iteration (count → pick →
    // merge → recount), the distributed primitive a trainer loops.
    // Merge mechanics: each word becomes a '  '-separated char
    // sequence and the merge is a plain ' A  B ' → ' AB ' replace —
    // the doubled separator leaves one space on each side after a
    // match, so CONSECUTIVE occurrences merge in one pass exactly
    // like the reference greedy scan (no lookbehind regex, which
    // DuckDB's RE2 lacks); symbols re-parse by splitting on spaces
    // and dropping empties. Determinism: all-occurrence left-to-right
    // replace is identical cross-engine; the top pair picks by
    // (count DESC, pair ASC). Scale: the merge is row-local against a
    // broadcast 1-row pair; the pick and the recount are the only two
    // shuffles (both map-side-combined); top-10 rides TakeOrdered.
    "q_bpe_apply" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      graft.GraftExtensions.register(s)
      val toks = documents(s, d).select(explode(split(col("text"), " ")).as("tok"))
      // round 21: pair expansion via graft_shingles(tok, 2) — the
      // q_bpe_pairs swap, same equivalence argument
      val top = toks.filter(length(col("tok")) >= 2)
        .select(expr("graft_shingles(tok, 2)").as(Seq("pos", "mp")))
        .groupBy("mp").agg(count(lit(1)).as("mn"))
        .orderBy(col("mn").desc, col("mp")).limit(1)
      // round 11: the recount stage's expand + replace + split/filter +
      // adjacent-concat chain is the native BpeMergedPairsExpr (same
      // symbol build + merge pass as BpeTokenCountExpr — shared impl,
      // equivalence pinned by BpeEncodeEquivalenceSpec; the runtime
      // top pair rides in as child expressions off the broadcast)
      val mergedPairs = ColumnBridge.column(graft.gen.BpeMergedPairsExpr(
        ColumnBridge.expression(col("tok")),
        ColumnBridge.expression(substring(col("mp"), 1, 1)),
        ColumnBridge.expression(substring(col("mp"), 2, 1))))
      toks.crossJoin(broadcast(top))
        .select(col("mp").as("merge_pair"), explode(mergedPairs).as("sym_pair"))
        .groupBy("merge_pair", "sym_pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("sym_pair"))
        .limit(10)
    }),

    // BPE corpus ENCODE — the inference path a pipeline actually runs
    // corpus-wide after sample-training (q_bpe_apply gates one training
    // iteration; this gates the apply-side): learn BpeMerges merges on
    // a deterministic 10% sample (doc_id % 10 = 0 — the sample-then-
    // apply posture from BpeTrainer's scaladoc: the driver loop touches
    // only the sample), then encode EVERY document with the FIXED merge
    // table and report per-doc token counts. The merge table rides into
    // the plan as nested literal replaces inside a per-word lambda —
    // fully row-local: the corpus-wide encode has ZERO keyed shuffles
    // (PlanAuditSpec pins it; the only exchange is the output sort).
    // At 100 TB the training cost is bounded by the sample and the
    // encode is one narrow pass. Determinism: training picks by
    // (count DESC, a, b); the oracle re-derives the same merges with
    // chained CTE stages and applies the same nested replaces.
    "q_bpe_encode" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val sample = documents(s, d).filter(col("doc_id") % 10 === 0)
      val (merges, _) = graft.functions.BpeTrainer.fit(sample, BpeMerges)
      // round 11: the per-word regexp-expand + 8 chained replaces +
      // split/filter chain is now the native codegen'd
      // BpeTokenCountExpr — same semantics (equivalence pinned against
      // the Column formulation by BpeEncodeEquivalenceSpec, and the
      // DuckDB oracle still re-derives the counts via the replace
      // chain). Measured on the sf0.1 corpus pass: 0.77 s -> 0.26 s
      // (2.9x) — the pass that scales with corpus bytes; the query's
      // residual test-scale cost is the trainer's 8 bounded sample
      // jobs, which amortize to nothing at 100 TB
      val nTokens = ColumnBridge.column(graft.gen.BpeTokenCountExpr(
        ColumnBridge.expression(col("text")),
        merges.map(m => (m.a, m.b))))
      documents(s, d)
        .select(col("doc_id"),
          nTokens.as("n_tokens"),
          length(translate(col("text"), " ", "")).cast("long").as("n_chars"))
        .withColumn("tokens_saved", col("n_chars") - col("n_tokens"))
        .orderBy("doc_id")
    }),
  )

  /** Fixed merge-table size for q_bpe_encode (Spark training loop and
    * oracle CTE-chain derive exactly this many merges).
    */
  val BpeMerges = 8

  /** q_bpe_encode oracle: re-derive the BpeMerges greedy merges from the
    * same 10% sample with chained CTE stages (stage k: adjacent-symbol
    * pair count over w(k-1), pick by (n DESC, a, b), apply as a literal
    * replace), then encode every document's words with the same nested
    * replace chain and roll up per-doc symbol counts.
    */
  private def bpeEncodeOracleSql: String = {
    val stages = (1 to BpeMerges).map { k =>
      val pick =
        s"""p$k AS (
           |  SELECT sym[i] AS a, sym[i+1] AS b, count(*) AS n
           |  FROM (SELECT list_filter(string_split(seq, ' '), x -> x != '') AS sym
           |        FROM w${k - 1}) s,
           |       UNNEST(generate_series(1, len(s.sym) - 1)) AS t(i)
           |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1)""".stripMargin
      val next =
        if (k == BpeMerges) ""
        else
          s""",
             |w$k AS (
             |  SELECT replace(seq, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS seq
             |  FROM w${k - 1} CROSS JOIN p$k)""".stripMargin
      pick + next
    }.mkString(",\n")
    val applied = (1 to BpeMerges).foldLeft(
      """'  ' || regexp_replace(tok, '(.)', '\1  ', 'g')""") { (acc, k) =>
      s"replace($acc, ' ' || p$k.a || '  ' || p$k.b || ' ', ' ' || p$k.a || p$k.b || ' ')"
    }
    val crossJoins = (1 to BpeMerges).map(k => s"CROSS JOIN p$k").mkString(" ")
    s"""WITH w0 AS (
       |  SELECT '  ' || regexp_replace(u.tok, '(.)', '\\1  ', 'g') AS seq
       |  FROM (SELECT string_split(text, ' ') AS l FROM documents WHERE doc_id % 10 = 0) t,
       |       UNNEST(t.l) AS u(tok)),
       |$stages,
       |dw AS (
       |  SELECT doc_id, u.tok AS tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
       |       UNNEST(t.l) AS u(tok)),
       |enc AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split($applied, ' '), x -> x != '')) AS nsym
       |  FROM dw $crossJoins),
       |agg AS (SELECT doc_id, CAST(sum(nsym) AS BIGINT) AS n_tokens FROM enc GROUP BY doc_id)
       |SELECT d.doc_id, a.n_tokens,
       |  CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS n_chars,
       |  CAST(length(replace(d.text, ' ', '')) AS BIGINT) - a.n_tokens AS tokens_saved
       |FROM documents d JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def oracles: Map[String, String] = {
    val markerSql = (l: String, ws: Seq[String]) =>
      s"len(list_filter(string_split(text, ' '), t -> t IN (${ws.map("'" + _ + "'").mkString(",")})))"
    val scores = Markers.map { case (l, ws) => s"${markerSql(l, ws)} AS s_$l" }.mkString(",\n    ")
    val maxExpr = s"greatest(${Markers.map(m => s"s_${m._1}").mkString(", ")})"
    val argmax = Markers.map(_._1).reverse
      .foldLeft("'und'") { (e, l) =>
        s"CASE WHEN s_$l = $maxExpr AND $maxExpr > 0 THEN '$l' ELSE $e END"
      }

    Map(
      "q_text_normalize" ->
        """SELECT doc_id,
          |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean,
          |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS INT) AS clean_len,
          |  CAST(length(text) - length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS INT) AS removed
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_text_topwords" ->
        """WITH words AS (
          |  SELECT lang, u.w AS w, count(*) AS n
          |  FROM (SELECT lang, string_split(text, ' ') AS l FROM documents) t,
          |       UNNEST(t.l) AS u(w)
          |  GROUP BY lang, u.w)
          |SELECT lang, w, n, rn FROM (
          |  SELECT lang, w, n,
          |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rn
          |  FROM words)
          |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

      "q_text_tfidf" ->
        """WITH words AS (
          |  SELECT doc_id, u.w AS w
          |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
          |       UNNEST(t.l) AS u(w)
          |), tf AS (
          |  SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
          |), dfreq AS (
          |  SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w
          |), nd AS (SELECT count(*) AS n_docs FROM documents)
          |SELECT doc_id, w, tf, df, score, rn FROM (
          |  SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
          |    CAST(tf.tf AS DOUBLE) * nd.n_docs / dfreq.df AS score,
          |    row_number() OVER (PARTITION BY tf.doc_id
          |      ORDER BY CAST(tf.tf AS DOUBLE) * nd.n_docs / dfreq.df DESC, tf.w) AS rn
          |  FROM tf JOIN dfreq USING (w) CROSS JOIN nd)
          |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

      "q_text_tokens" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
          |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 5)) AS INT) AS n_long,
          |  CAST(list_sum(list_transform(string_split(text, ' '),
          |    t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subtoks,
          |  n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_text_quality" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
           |    len(list_distinct(string_split(text, ' '))) AS nd,
           |    list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS char_sum
           |  FROM documents)
           |SELECT doc_id, n_toks,
           |  nd::DOUBLE / n_toks AS distinct_ratio,
           |  char_sum::DOUBLE / n_toks AS mean_tok_len,
           |  (n_toks BETWEEN ${QualityRule.MinToks} AND ${QualityRule.MaxToks}
           |    AND (char_sum::DOUBLE / n_toks) BETWEEN ${QualityRule.MinMeanLen} AND ${QualityRule.MaxMeanLen}
           |    AND (nd::DOUBLE / n_toks) > ${QualityRule.MinDistinctRatio}) AS keep
           |FROM t ORDER BY doc_id""".stripMargin,

      "q_text_langid" ->
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS label,
           |    $scores
           |  FROM documents)
           |SELECT doc_id, label,
           |  $argmax AS pred_lang,
           |  CAST($maxExpr AS INT) AS best_score
           |FROM scored ORDER BY doc_id""".stripMargin,

      "q_text_fingerprint" ->
        """WITH t AS (
          |  SELECT doc_id, lang, string_split(text, ' ') AS tk
          |  FROM documents)
          |SELECT doc_id,
          |  list_reduce(
          |    list_prepend(0::BIGINT, list_transform(tk,
          |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 1000000007)),
          |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_poly,
          |  list_min(list_transform(
          |    generate_series(1, len(tk) - 2),
          |    i -> md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS fp_min,
          |  lang
          |FROM t ORDER BY doc_id""".stripMargin,

      "q_text_scrub" ->
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '\b(key|hash)\b')) AS INT) AS n_hits,
          |  CAST(length(regexp_replace(text, '\b(key|hash)\b', '<X>', 'g')) AS INT) AS scrub_len
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_doc_chunk" ->
        """SELECT doc_id,
          |  CAST(start / 80 AS INT) AS chunk_idx,
          |  substr(text, start + 1, 120) AS chunk,
          |  CAST(length(substr(text, start + 1, 120)) AS INT) AS chunk_len
          |FROM (SELECT doc_id, text,
          |        unnest(generate_series(0, greatest(length(text) - 1, 0), 80)) AS start
          |      FROM documents)
          |ORDER BY doc_id, chunk_idx""".stripMargin,

      "q_doc_pack" ->
        """WITH t AS (
          |  SELECT doc_id, lang,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, lang, n_tokens,
          |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
          |  FROM t)
          |SELECT lang, (cum - n_tokens) // 2048 AS pack_id,
          |  count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS tok_total,
          |  min(doc_id) AS first_doc
          |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,

      "q_text_colloc" ->
        """WITH toks AS (
          |  SELECT string_split(text, ' ') AS t FROM documents
          |  WHERE len(string_split(text, ' ')) >= 2),
          |uni AS (SELECT unnest(t) AS w FROM toks),
          |nu AS (SELECT count(*) AS nu FROM uni),
          |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
          |bg AS (
          |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
          |    i -> t[i] || ' ' || t[i + 1])) AS bg
          |  FROM toks),
          |nb AS (SELECT count(*) AS nb FROM bg),
          |bc AS (SELECT bg, count(*) AS c_xy FROM bg GROUP BY bg HAVING count(*) >= 5)
          |SELECT b.bg, b.c_xy, x.c AS c_x, y.c AS c_y,
          |  (CAST(b.c_xy AS DOUBLE) * CAST(nu.nu AS DOUBLE) * CAST(nu.nu AS DOUBLE))
          |    / (CAST(nb.nb AS DOUBLE) * CAST(x.c AS DOUBLE) * CAST(y.c AS DOUBLE)) AS lift
          |FROM bc b
          |CROSS JOIN nu CROSS JOIN nb
          |JOIN uc x ON x.w = string_split(b.bg, ' ')[1]
          |JOIN uc y ON y.w = string_split(b.bg, ' ')[2]
          |ORDER BY lift DESC, b.bg LIMIT 20""".stripMargin,

      "q_curriculum" ->
        """WITH t AS (
          |  SELECT doc_id, lang,
          |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
          |  FROM documents),
          |n AS (SELECT count(*) AS total FROM t),
          |d AS (SELECT n_tokens, count(*) AS c FROM t GROUP BY n_tokens),
          |cum AS (SELECT n_tokens, sum(c) OVER (ORDER BY n_tokens) AS cum FROM d),
          |b AS (
          |  SELECT
          |    min(CASE WHEN cum * 4 >= total * 1 THEN n_tokens END) AS b1,
          |    min(CASE WHEN cum * 4 >= total * 2 THEN n_tokens END) AS b2,
          |    min(CASE WHEN cum * 4 >= total * 3 THEN n_tokens END) AS b3
          |  FROM cum CROSS JOIN n)
          |SELECT doc_id, lang, n_tokens,
          |  1 + CAST(n_tokens > b1 AS INT) + CAST(n_tokens > b2 AS INT)
          |    + CAST(n_tokens > b3 AS INT) AS phase
          |FROM t CROSS JOIN b ORDER BY doc_id""".stripMargin,

      "q_text_ngram_lm" ->
        """WITH tri AS (
          |  SELECT lang,
          |    unnest(list_transform(generate_series(1, length(text) - 2),
          |      i -> substr(text, CAST(i AS INT), 3))) AS tri
          |  FROM documents WHERE length(text) >= 3),
          |c AS (SELECT lang, tri, count(*) AS cnt FROM tri GROUP BY lang, tri),
          |r AS (
          |  SELECT lang, tri, cnt,
          |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri) AS rnk
          |  FROM c)
          |SELECT lang, rnk, tri, cnt FROM r WHERE rnk <= 10
          |ORDER BY lang, rnk""".stripMargin,

      "q_text_perplexity" ->
        """WITH tri AS (
          |  SELECT doc_id, lang,
          |    unnest(list_transform(generate_series(1, length(text) - 2),
          |      i -> substr(text, CAST(i AS INT), 3))) AS tri
          |  FROM documents WHERE length(text) >= 3),
          |prof AS (SELECT lang, tri, count(*) AS cnt FROM tri GROUP BY lang, tri),
          |tot AS (SELECT lang, count(*) AS tot FROM tri GROUP BY lang),
          |doc AS (
          |  SELECT t.doc_id, t.lang, count(*) AS n_tri,
          |    CAST(sum(p.cnt) AS BIGINT) AS sum_cnt
          |  FROM tri t JOIN prof p ON t.lang = p.lang AND t.tri = p.tri
          |  GROUP BY t.doc_id, t.lang)
          |SELECT d.doc_id, d.lang, d.n_tri, d.sum_cnt,
          |  CAST(d.sum_cnt AS DOUBLE) / (CAST(d.n_tri AS DOUBLE) * CAST(tot.tot AS DOUBLE)) AS avg_prob
          |FROM doc d JOIN tot ON d.lang = tot.lang
          |ORDER BY d.doc_id""".stripMargin,

      "q_text_bm25" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'table')) AS BIGINT) AS tf0,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS BIGINT) AS tf1,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'query')) AS BIGINT) AS tf2
          |  FROM documents),
          |st AS (
          |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS dl_sum,
          |    count(*) FILTER (WHERE tf0 > 0) AS df0,
          |    count(*) FILTER (WHERE tf1 > 0) AS df1,
          |    count(*) FILTER (WHERE tf2 > 0) AS df2
          |  FROM t)
          |SELECT doc_id, dl, tf0 AS tf_table, tf1 AS tf_spark, tf2 AS tf_query,
          |  CAST(tf0 AS DOUBLE) * 2.2 / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))) * ((CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
          |  + CAST(tf1 AS DOUBLE) * 2.2 / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))) * ((CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
          |  + CAST(tf2 AS DOUBLE) * 2.2 / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))) * ((CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
          |  AS score
          |FROM t, st
          |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

      "q_decontaminate" ->
        """WITH toks AS (
          |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
          |  WHERE len(string_split(text, ' ')) >= 3),
          |grams AS (
          |  SELECT doc_id, source,
          |    unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
          |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
          |  FROM toks),
          |bench AS (SELECT DISTINCT g AS bg FROM grams WHERE source = 'src0')
          |SELECT doc_id, count(*) AS n_grams, count(bg) AS n_hit,
          |  CAST(count(bg) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS containment,
          |  (CAST(count(bg) AS DOUBLE) / CAST(count(*) AS DOUBLE)) >= 0.5 AS contaminated
          |FROM grams LEFT JOIN bench ON g = bg
          |WHERE source <> 'src0'
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // list_transform indexing is 1-based (t[i] || ... || t[i+4] for
      // i in 1..len-4) ≡ the Spark side's 0-based transform(sequence(
      // 0, size-5)); counts are exact ints, dup_frac one double division
      "q_text_dupspans" ->
        """WITH toks AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |  WHERE len(string_split(text, ' ')) >= 5),
          |grams AS (
          |  SELECT doc_id, CAST(len(t) - 4 AS BIGINT) AS n_windows,
          |    unnest(list_transform(generate_series(1, len(t) - 4),
          |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' || t[i + 4])) AS gram
          |  FROM toks),
          |occ AS (
          |  SELECT gram, doc_id, any_value(n_windows) AS n_windows,
          |    count(*) AS n_occ
          |  FROM grams GROUP BY gram, doc_id),
          |nd AS (
          |  SELECT *, count(*) OVER (PARTITION BY gram) AS nd FROM occ)
          |SELECT doc_id, any_value(n_windows) AS n_windows,
          |  CAST(sum(CASE WHEN nd > 1 THEN n_occ ELSE 0 END) AS BIGINT) AS n_dup,
          |  CAST(sum(CASE WHEN nd > 1 THEN n_occ ELSE 0 END) AS DOUBLE)
          |    / CAST(any_value(n_windows) AS DOUBLE) AS dup_frac
          |FROM nd GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_text_hashtf" ->
        """SELECT doc_id,
          |  ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
          |  count(*) AS n
          |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          |      FROM documents)
          |WHERE tok <> ''
          |GROUP BY doc_id, bucket
          |ORDER BY doc_id, bucket""".stripMargin,

      "q_text_repetition" ->
        """WITH ft AS (
          |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ft
          |  FROM documents),
          |uni AS (
          |  SELECT doc_id, tok, count(*) AS c
          |  FROM (SELECT doc_id, unnest(ft) AS tok FROM ft) GROUP BY doc_id, tok),
          |ua AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
          |    max(c) AS top_cnt
          |  FROM uni GROUP BY doc_id),
          |bg AS (
          |  SELECT doc_id,
          |    unnest(list_transform(generate_series(2, len(ft)), i -> ft[i - 1] || ' ' || ft[i])) AS b
          |  FROM ft),
          |bga AS (
          |  SELECT doc_id, max(c) AS top_big_cnt FROM (
          |    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b) GROUP BY doc_id)
          |SELECT u.doc_id, u.n_tokens, u.n_distinct,
          |  CAST(u.n_distinct AS DOUBLE) / u.n_tokens AS ttr,
          |  CAST(u.top_cnt AS DOUBLE) / u.n_tokens AS top_frac,
          |  CAST(b.top_big_cnt AS DOUBLE) / (u.n_tokens - 1) AS top_big_frac
          |FROM ua u LEFT JOIN bga b ON u.doc_id = b.doc_id
          |ORDER BY u.doc_id""".stripMargin,

      "q_mix_target" ->
        """WITH srcw AS (
          |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks,
          |    coalesce(TRY_CAST(substr(source, 4) AS INT) % 3, 0) + 1 AS w
          |  FROM documents GROUP BY source HAVING sum(n_chars) > 0),
          |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM srcw),
          |bmin AS (SELECT min(toks * tw // w) AS budget FROM srcw CROSS JOIN tot),
          |rates AS (
          |  SELECT source, w, toks, ((w * budget // tw) * 1000000) // toks AS rate_ppm
          |  FROM srcw CROSS JOIN tot CROSS JOIN bmin),
          |kept AS (
          |  SELECT d.source, count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
          |  FROM documents d JOIN rates r ON d.source = r.source
          |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
          |        < r.rate_ppm
          |  GROUP BY d.source)
          |SELECT r.source, r.w, r.toks, r.rate_ppm,
          |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.chars_kept, 0) AS chars_kept
          |FROM rates r LEFT JOIN kept k ON r.source = k.source
          |ORDER BY r.source""".stripMargin,

      "q_split_assign" ->
        """WITH a AS (
          |  SELECT lang, n_chars,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 15))::BIGINT % 100 AS bkt
          |  FROM documents)
          |SELECT CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split,
          |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM a GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

      // Σcnt² in DuckDB is HUGEINT → cast BIGINT before the double
      // division; op order mirrored exactly (divide, then 1 −)
      "q_text_diversity" ->
        """WITH t AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
          |), c AS (
          |  SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY doc_id, tok
          |), g AS (
          |  SELECT doc_id,
          |    CAST(sum(cnt) AS BIGINT) AS n_tokens,
          |    count(*) AS n_distinct,
          |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          |    CAST(sum(cnt * cnt) AS BIGINT) AS ss
          |  FROM c GROUP BY doc_id)
          |SELECT doc_id, n_tokens, n_distinct, n_hapax,
          |  n_distinct::DOUBLE / n_tokens AS ttr,
          |  n_hapax::DOUBLE / n_distinct AS hapax_ratio,
          |  1.0 - ss::DOUBLE / (n_tokens * n_tokens) AS gini
          |FROM g ORDER BY doc_id""".stripMargin,

      "q_bpe_pairs" ->
        """WITH tk AS (
          |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
          |), p AS (
          |  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
          |    i -> substr(tok, i, 2))) AS pair
          |  FROM tk WHERE length(tok) >= 2)
          |SELECT pair, count(*) AS n FROM p
          |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

      // global row_number over the hash order — equivalent to the
      // Spark side's bucket-offset + within-bucket rank because the
      // bucket id is monotone in hk
      "q_shuffle_epoch" ->
        """WITH h AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#epoch1'), 1, 15))::BIGINT AS hk
          |  FROM documents)
          |SELECT doc_id, pos, pos // 32 AS batch_id FROM (
          |  SELECT doc_id, row_number() OVER (ORDER BY hk, doc_id) - 1 AS pos FROM h)
          |ORDER BY doc_id""".stripMargin,

      // the 'pass' row reports the surviving count in both ledger
      // columns; rule rows are (failed-at-all, dropped-by-first-fail)
      "q_quality_gate" ->
        """WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
          |), m AS (
          |  SELECT doc_id,
          |    len(s)::BIGINT AS n,
          |    CAST(list_sum(list_transform(s, x -> length(x))) AS BIGINT) AS sl,
          |    len(list_distinct(s))::BIGINT AS nd,
          |    CAST(list_max(list_transform(list_distinct(s),
          |      u -> len(list_filter(s, x -> x = u)))) AS BIGINT) AS mx
          |  FROM t
          |), f AS (
          |  SELECT n < 10 AS r0, n > 1000 AS r1,
          |    (sl < 2 * n OR sl > 12 * n) AS r2,
          |    5 * nd <= n AS r3, 5 * mx > n AS r4,
          |    CASE WHEN n < 10 THEN 0 WHEN n > 1000 THEN 1
          |         WHEN sl < 2 * n OR sl > 12 * n THEN 2
          |         WHEN 5 * nd <= n THEN 3 WHEN 5 * mx > n THEN 4
          |         ELSE -1 END AS ff
          |  FROM m
          |), g AS (
          |  SELECT
          |    CAST(sum(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS f0,
          |    CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          |    CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
          |    CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
          |    CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
          |    CAST(sum(CASE WHEN ff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
          |    CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
          |    CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
          |    CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
          |    CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
          |    CAST(sum(CASE WHEN ff = -1 THEN 1 ELSE 0 END) AS BIGINT) AS np
          |  FROM f)
          |SELECT 'pass' AS rule, np AS n_failed, np AS n_dropped_by FROM g
          |UNION ALL SELECT 'r0_short', f0, d0 FROM g
          |UNION ALL SELECT 'r1_long', f1, d1 FROM g
          |UNION ALL SELECT 'r2_meanlen', f2, d2 FROM g
          |UNION ALL SELECT 'r3_distinct', f3, d3 FROM g
          |UNION ALL SELECT 'r4_toptok', f4, d4 FROM g
          |ORDER BY rule""".stripMargin,

      "q_text_invindex" ->
        """WITH words AS (
          |  SELECT doc_id, u.w AS term
          |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
          |       UNNEST(t.l) AS u(w)),
          |tf AS (
          |  SELECT term, doc_id, count(*) AS tf FROM words GROUP BY 1, 2),
          |r AS (
          |  SELECT term, doc_id, tf,
          |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
          |  FROM tf)
          |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
          |  max(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id,
          |  max(CASE WHEN rn = 1 THEN tf END) AS top_tf
          |FROM r GROUP BY term HAVING count(*) >= 5
          |ORDER BY df DESC, term LIMIT 50""".stripMargin,

      // same doubled-separator merge (plain replace, no lookbehind —
      // RE2 has none); lists are 1-based where Spark brackets are
      // 0-based, hence sym[i] || sym[i+1] vs sym[i-1] || sym[i]
      "q_bpe_apply" ->
        """WITH tk AS (
          |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
          |), top AS (
          |  SELECT pair AS mp FROM (
          |    SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
          |      i -> substr(tok, i, 2))) AS pair
          |    FROM tk WHERE length(tok) >= 2)
          |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1
          |), m AS (
          |  SELECT mp,
          |    list_filter(string_split(
          |      replace('  ' || regexp_replace(tok, '(.)', '\1  ', 'g'),
          |        ' ' || substr(mp, 1, 1) || '  ' || substr(mp, 2, 1) || ' ',
          |        ' ' || mp || ' '), ' '), x -> x != '') AS sym
          |  FROM tk CROSS JOIN top
          |), pr AS (
          |  SELECT mp AS merge_pair,
          |    unnest(list_transform(generate_series(1, len(sym) - 1),
          |      i -> sym[i] || sym[i+1])) AS sym_pair
          |  FROM m WHERE len(sym) >= 2)
          |SELECT merge_pair, sym_pair, count(*) AS n FROM pr
          |GROUP BY 1, 2 ORDER BY n DESC, sym_pair LIMIT 10""".stripMargin,

      "q_bpe_encode" -> bpeEncodeOracleSql,
    )
  }
}
