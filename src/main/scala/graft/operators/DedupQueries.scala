package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Deduplication suite over the documents/embeddings tables — the
  * training-data-pipeline operators: exact, MinHash+LSH banding,
  * SimHash, token-n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Cross-engine determinism: every hash is md5 over identical bytes
  * (Spark and DuckDB agree on md5 hex), min-hash signatures are
  * lexicographic minima of md5 strings (no hex→int parsing needed),
  * and float-valued scores are either exact integer-ratio doubles or
  * omitted from output entirely (pairs-only results), so no rounding
  * is required anywhere.
  *
  * 100 TB posture per operator is noted on each query; the shared
  * principle: never materialize O(n²) candidate pairs globally —
  * always bucket first (hash group, LSH band, block key) so pair
  * enumeration happens within bounded buckets after a single shuffle.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  // Banding scheme + calibration: graft.gen.LshBanding (shared with
  // PipelineQueries so query and pipeline can't desynchronize).
  import graft.gen.LshBanding

  /** MinHash+LSH candidate pairs (a_id < b_id), shared by
    * q_dedup_minhash (which outputs them) and q_dedup_cluster (which
    * connects them into components).
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = documents(s, d)
      .withColumn("sigs", LshBanding.minhashSigs(col("text")))
      .select(col("doc_id") +: LshBanding.sigCols: _*)
    val bands = sigs
      .select(col("doc_id"),
        posexplode(array(LshBanding.bandKeys: _*)).as(Seq("bidx", "bkey")))
    // shuffle-hash for the same reason as q_dedup_ngram: the band
    // rows are the ×Bands-amplified corpus — never broadcast-able at
    // scale. The a_id/b_id renames happen AFTER the join (not on the
    // join inputs) so both sides canonicalize identically and Spark's
    // ReuseExchange materializes the band shuffle ONCE — the minhash
    // signatures (the expensive per-doc work) are computed once, not
    // twice (round-10 fix: the pre-join-rename form shuffled two
    // separately-computed copies of the same band rows).
    bands.as("x").join(bands.as("y").hint("shuffle_hash"),
        col("x.bidx") === col("y.bidx") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
  }

  /** Blocked all-pairs cosine: every pair a_id < b_id of embeddings
    * with both norms > 0 and cos ≥ minCos, as (a_id, b_id, cos) — the
    * one pair plan behind q_dedup_embedding, q_dedup_embedding_blocked
    * (0.45) and q_dedup_sweep (0.30). A dense all-pairs scan has no
    * algebraic shortcut for Catalyst, and every DataFrame formulation
    * routes the pairs through an interpreted nested-loop-join
    * condition, so the pair loop is one typed reduce over id blocks.
    * Vectors split into B blocks by id; every unordered block pair
    * (bi ≤ bj) is one reduce group and each vector is replicated to the
    * B groups containing its block. Per-task memory is 2·N/B vectors,
    * shuffle volume is B·N rows, no driver collect and no whole-table
    * broadcast. Double math is IEEE, ascending-index dot with the lower
    * id first and one norm per vector — bit-identical to the DuckDB
    * list_reduce oracle.
    *
    * B adapts to corpus size (≈16k vectors per block, floor 4): a
    * fixed B caps parallelism at B·(B+1)/2 reduce groups, which at
    * 520k vectors left 22 of 32 cores idle on ~10-minute tasks. The
    * count that sizes B is one cheap column-pruned job; total dot work
    * is C(N,2) regardless of B, so the only trade is B·N shuffle rows
    * — at B=32 on 520k×64f that is ~4 GB spread over the cluster,
    * nothing against the 1.4e11 dots it parallelizes.
    */
  private def embeddingPairs(s: SparkSession, d: String, minCos: Double): DataFrame = {
    import s.implicits._
    val n = embeddings(s, d).select(col("vec_id")).count()
    val B = math.max(4L, (n + 16383L) / 16384L).min(256L).toInt
    val pairs = for { bi <- 0 until B; bj <- bi until B } yield (bi, bj)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val replicated = e.flatMap { case (id, v) =>
      // floorMod: a negative id must land in a real block, not a
      // negative one that matches no (bi,bj) pair and silently drops
      // the vector from the comparison
      val b = Math.floorMod(id, B.toLong).toInt
      pairs.iterator.zipWithIndex.collect {
        case ((bi, bj), pid) if bi == b || bj == b => (pid, id, v)
      }
    }
    replicated.groupByKey(_._1).flatMapGroups { (pid: Int, it: Iterator[(Int, Long, Array[Float])]) =>
      val (bi, bj) = pairs(pid)
      val rows = it.map { case (_, id, v) => (id, v) }.toArray.sortBy(_._1)
      val norms = rows.map { case (_, v) =>
        var i = 0; var sum = 0.0
        while (i < v.length) { sum += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(sum)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < rows.length) {
        val (aId, av) = rows(i)
        var j = i + 1
        while (j < rows.length) {
          val (bId, bv) = rows(j)
          // a repeated vec_id is no pair (the oracle's a.vec_id <
          // b.vec_id); in a cross-block group only cross pairs belong
          // here — intra-block pairs are owned by that block's (b, b)
          // group. Zero-norm guard: cosine is undefined (NaN), and NaN
          // comparison semantics DIFFER across engines (JVM false,
          // DuckDB sorts NaN above all) — both sides exclude explicitly.
          if (aId < bId && norms(i) > 0 && norms(j) > 0
            && (bi == bj || Math.floorMod(aId, B.toLong) != Math.floorMod(bId, B.toLong))) {
            var dot = 0.0
            var k = 0
            while (k < av.length) { dot += av(k).toDouble * bv(k).toDouble; k += 1 }
            val cos = dot / (norms(i) * norms(j))
            if (cos >= minCos) out += ((aId, bId, cos))
          }
          j += 1
        }
        i += 1
      }
      out.iterator
    }.toDF("a_id", "b_id", "cos")
  }

  private val embeddingDedup: Q = (s, d) =>
    embeddingPairs(s, d, 0.45).select("a_id", "b_id").orderBy("a_id", "b_id")

  private val embeddingOracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
      |  FROM embeddings
      |)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE a.nrm > 0 AND b.nrm > 0
      |  AND list_reduce(list_transform(generate_series(1, 64),
      |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / (a.nrm * b.nrm) >= 0.45
      |ORDER BY a_id, b_id""".stripMargin

  def queries: Map[String, Q] = Map(
    // Exact dedup, keep-first semantics: group on md5(text) (at 100 TB
    // you group on the 128-bit digest, never the raw text — constant-
    // width shuffle keys), row_number picks the lowest doc_id
    // deterministically (dropDuplicates' keep is arbitrary; this isn't).
    "q_dedup_exact" -> ((s, d) => {
      val byHash = Window.partitionBy("h")
      documents(s, d)
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(byHash.orderBy("doc_id")))
        .withColumn("n_dups", count(lit(1)).over(byHash))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("h"), col("n_dups"), col("lang"))
        .orderBy("doc_id")
    }),

    // MinHash + LSH banding (LshBanding: 16 hashes, 2 bands × 8 rows).
    // Candidate pairs = docs sharing any band key. At 100 TB: the band
    // explode is ×Bands rows, the self-join shuffles on
    // (band_idx, band_key) so pairs are enumerated only within buckets;
    // bucket skew (giant clusters of identical docs) is the thing to
    // monitor — cap bucket size or pre-collapse exact dups first.
    "q_dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy("a_id", "b_id")),

    // Connected-component clustering of the near-dup pairs — the final
    // step of real corpus dedup (a≈b, b≈c ⇒ {a,b,c} is ONE cluster even
    // though a,c never paired). Iterative min-label propagation: each
    // round every doc takes the min label among itself and its
    // neighbors; converges in O(component diameter) rounds, each round
    // one shuffle — the standard large-graph connected-components shape
    // (GraphX/Pregel does the same exchange). localCheckpoint truncates
    // the per-iteration lineage so the plan stays flat. The DuckDB
    // oracle recomputes components with a recursive CTE (transitive
    // closure + min), so the iterative and recursive forms gate each
    // other. The 25-round cap fails LOUDLY (oracle mismatch) rather
    // than silently shipping unconverged labels.
    "q_dedup_cluster" -> ((s, d) => {
      val pairs = minhashPairs(s, d)
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .transform(graft.Checkpoint.apply)
      // init fuses the first propagation round: label = min(id, min
      // neighbor) is one groupBy — the same shuffle a bare distinct
      // would cost, but it starts the loop one round ahead
      var labels = edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("lbl"))
        .transform(graft.Checkpoint.apply)
      // convergence = the label sum stopped shrinking (labels only ever
      // decrease, so sum is strictly monotone until fixpoint). Exact
      // DECIMAL(38,0) sum: overflow-free at any id scale, and a
      // single-stage reduce over the checkpointed labels — cheaper per
      // round than a join-based changed count (which shuffles twice).
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      var prevSum = lblSum(labels)
      var changed = true
      var iters = 0
      while (changed && iters < 25) {
        val prop = labels.join(edges, labels("id") === edges("src"))
          .select(col("dst").as("id"), col("lbl"))
        val next = labels.select("id", "lbl").union(prop)
          .groupBy("id").agg(min("lbl").as("lbl")).transform(graft.Checkpoint.apply)
        val s = lblSum(next)
        changed = s.compareTo(prevSum) != 0
        prevSum = s
        labels = next
        iters += 1
      }
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // SimHash: 32-bit fingerprint from per-token md5s — bit b is set
    // when the majority of tokens have the high bit of hex digit b set.
    // Linear in tokens, embarrassingly parallel, no shuffle at all
    // until the final (optional) grouping — the 100 TB-friendly sketch.
    "q_dedup_simhash" -> ((s, d) => {
      val md5s = transform(split(col("text"), " "), t => md5(t))
      val bitSums = (0 until 32).map { b =>
        aggregate(col("tok_md5"), lit(0L),
          (acc, h) => acc + when(h.substr(b + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L).otherwise(-1L))
      }
      val simhash = bitSums.zipWithIndex
        .map { case (s0, b) => when(s0 > 0, lit(1L << b)).otherwise(0L) }
        .reduce(_ + _)
      documents(s, d)
        .withColumn("tok_md5", md5s)
        .select(col("doc_id"), simhash.as("simhash"), col("lang"))
        .orderBy("doc_id")
    }),

    // Token-3-gram Jaccard via inverted-index join: explode grams, join
    // on (lang, block, gram), count shared grams per pair — pairs that
    // share nothing are never materialized. This is THE scalable
    // near-dup join shape: cost ∝ Σ posting-list², not n² (a per-pair
    // array-intersection version was 60× slower at sf0.1).
    // J = |A∩B|/|A∪B| over distinct 3-grams; exact integer ratio ⇒
    // identical double bits in both engines.
    "q_dedup_ngram" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val gramHashes = ColumnBridge.column(
        graft.gen.NgramHashesExpr(ColumnBridge.expression(col("text")), 3))
      val postings = documents(s, d)
        .select(col("doc_id"), col("lang"), gramHashes.as("g"),
          (size(split(col("text"), " ")) / 10).cast("int").as("bkt"))
        .select(col("doc_id"), col("lang"), col("bkt"),
          size(col("g")).as("ng"), explode(col("g")).as("gram"))
      val a = postings.select(col("doc_id").as("a_id"), col("lang"), col("bkt"),
        col("ng").as("na"), col("gram"))
      val b = postings.select(col("doc_id").as("b_id"), col("lang").as("lang2"),
        col("bkt").as("bkt2"), col("ng").as("nb"), col("gram").as("gram2"))
      // shuffle-hash, not broadcast: the posting list is the EXPLODED
      // corpus (docs × grams) — broadcasting it builds a giant hash map
      // on one thread and computes the posting subtree twice, and at
      // 100 TB it cannot be broadcast at all. With both sides shuffled
      // on the same keys, ReuseExchange computes the postings once and
      // reads the exchange twice.
      a.join(b.hint("shuffle_hash"), col("gram") === col("gram2") && col("lang") === col("lang2")
          && col("bkt") === col("bkt2") && col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(count(lit(1)).as("inter"))
        .withColumn("j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("j") >= 0.3)
        .select(col("a_id"), col("b_id"), col("j"))
        .orderBy("a_id", "b_id")
    }),

    // Embedding-cosine near-dup at 0.45: all-pairs dense similarity
    // through the blocked pair plan (embeddingPairs). At 100 TB the
    // alternative is to pre-bucket with LSH (q_sim_ann) or cells
    // (q_dedup_semantic). Only pairs are output, so last-ulp divergence
    // cannot affect the hash compare. q_dedup_embedding_blocked is the
    // same query under its historical name.
    "q_dedup_embedding" -> embeddingDedup,
    "q_dedup_embedding_blocked" -> embeddingDedup,

    // Fuzzy entity-resolution join: match deterministically-corrupted
    // supplier names (one character dropped at an md5-chosen position)
    // back to the clean registry with edit distance ≤ 1 — the
    // record-linkage shape. Scale form: NEVER a levenshtein nested
    // loop, and NOT n-gram blocking either — on low-entropy keys
    // (shared prefixes, zero-padded ids) near-universal grams make the
    // gram join quadratic (measured 23× WORSE than the nested loop at
    // sf0.1). Instead: symmetric-deletion blocking
    // (the SymSpell scheme): each side's join keys are the string
    // itself plus every one-character deletion, so any pair at edit
    // distance ≤ 1 provably shares a key (substitution → common
    // deletion at that position; deletion → the short string itself),
    // fan-out is exactly len+1 keys per row regardless of key entropy,
    // and the exact levenshtein runs only on the deduped candidates.
    "q_join_fuzzy" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val sup = supplier(s, d).select(col("s_suppkey"), col("s_name"))
      val h = ColumnBridge.column(graft.gen.Md5Hash60Expr(
        ColumnBridge.expression(col("s_name"))))
      // drop the character at 0-based position h mod len (1-based substr)
      val dirty = sup
        .withColumn("p", (h % length(col("s_name")).cast("long")).cast("int"))
        .select(col("s_suppkey").as("d_key"),
          concat(expr("substring(s_name, 1, p)"),
            expr("substring(s_name, p + 2)")).as("d_name"))
      def delKeys(name: String) = explode(expr(
        s"""array_union(array($name),
           |  transform(sequence(1, length($name)),
           |    i -> concat(substring($name, 1, i - 1), substring($name, i + 1))))""".stripMargin))
      val ck = sup.select(col("s_suppkey"), col("s_name"), delKeys("s_name").as("k"))
      val dk = dirty.select(col("d_key"), col("d_name"), delKeys("d_name").as("k"))
      dk.join(ck, Seq("k"))
        .select(col("d_key"), col("d_name"), col("s_suppkey"), col("s_name"))
        .distinct()
        .filter(levenshtein(col("d_name"), col("s_name")) <= 1)
        .select(col("d_key"), col("d_name"), col("s_suppkey"), col("s_name"),
          levenshtein(col("d_name"), col("s_name")).as("dist"))
        .orderBy("d_key", "s_suppkey")
    }),

    // URL-canonicalization dedup — the web-corpus pass that collapses
    // crawl variants of the same page before content dedup: lowercase
    // host, strip the default port, drop utm_* tracking params, SORT
    // the surviving query params, strip trailing slashes. Messy URLs
    // are synthesized deterministically (md5-driven case/port/utm/
    // order/slash variants over a doc_id-mod-100 page space, so many
    // rows collapse per page); the operator genuinely parses the dirty
    // URL back apart (parse_url + higher-order filter/sort — never the
    // source fields). Row-local canonicalization + ONE hash aggregate
    // on the canonical key: the same shape and cost as q_dedup_exact
    // at any corpus size.
    "q_dedup_url" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val h = ColumnBridge.column(graft.gen.Md5Hash60Expr(
        ColumnBridge.expression(col("doc_id").cast("string"))))
      val dirty = documents(s, d)
        .withColumn("h", h)
        .withColumn("url", concat(
          lit("https://"),
          when(col("h") % 2 === 0, lit("WWW.Example.COM")).otherwise(lit("www.example.com")),
          when(col("h") % 3 === 0, lit(":443")).otherwise(lit("")),
          lit("/"), col("lang"), lit("/doc-"), (col("doc_id") % 100).cast("string"),
          when(col("h") % 7 === 0, lit("/")).otherwise(lit("")),
          lit("?"),
          when(col("h") % 5 < 2,
            concat(lit("utm_source=s"), (col("h") % 4).cast("string"), lit("&q="),
              (col("n_chars") % 10).cast("string")))
            .otherwise(concat(lit("q="), (col("n_chars") % 10).cast("string")))))
      dirty
        .withColumn("host",
          lower(expr("parse_url(url, 'HOST')")))
        .withColumn("path",
          regexp_replace(expr("parse_url(url, 'PATH')"), "/$", ""))
        .withColumn("params", expr(
          """array_join(array_sort(filter(split(parse_url(url, 'QUERY'), '&'),
            |  p -> NOT startswith(p, 'utm_'))), '&')""".stripMargin))
        .withColumn("canon", concat(lit("https://"), col("host"), col("path"),
          when(col("params") =!= "", concat(lit("?"), col("params"))).otherwise(lit(""))))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("url")).as("n_variants"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("canon")
    }),

    // Cross-document boilerplate removal — the C4/RefinedWeb line-dedup
    // pass at chunk granularity: split every document into consecutive
    // non-overlapping 3-token chunks, count how many DISTINCT documents
    // each chunk text appears in, drop chunks shared by >= 3 docs
    // (navigation/footer-style repeats), and reassemble the surviving
    // text in original order with removal stats. Scale shape: chunking
    // is a row-local generator (no shuffle); the chunk-frequency table
    // shuffles on the chunk text ONCE with a map-side partial distinct;
    // the frequency join back is chunk-keyed; reassembly aggregates on
    // doc_id. At 100 TB the chunk-frequency table is corpus-sized —
    // NOT broadcast-able, which is why both sides shuffle on the chunk
    // key here rather than probing a broadcast set (contrast
    // q_decontaminate, where the probe side is a bounded benchmark).
    "q_dedup_boilerplate" -> ((s, d) => {
      // round 21: the non-overlapping 3-token chunks stream through
      // TokNgramsGenExpr at step 3 with its window ordinal standing in
      // for posexplode's pos (size div 3 windows either way —
      // ExtensionsSpec pins generator ≡ the transform chain)
      val chunked = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          expr("graft_tok_ngrams(t, 3, 3)").as(Seq("pos", "chunk")))
      val freq = chunked.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunked.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 3, 1L).otherwise(0L)).as("n_dropped"),
          array_join(transform(
            array_sort(collect_list(when(col("nd") < 3,
              struct(col("pos"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("clean"))
        .orderBy("doc_id")
    }),

    // Incremental ingestion dedup: a small new batch (delta = the two
    // newest sources) is deduplicated against the full historical
    // corpus by content fingerprint (md5 of the 3-token prefix — the
    // corpus has no full-text duplicates, so the prefix fingerprint is
    // the deterministic stand-in for a content digest). The scale
    // asymmetry is the whole point: |delta| ≪ |corpus|, so the corpus
    // must never be shuffled or broadcast. Shape: (1) build a bloom
    // filter over the DELTA fingerprints (one tiny aggregate); (2) the
    // corpus scan is pruned MAP-SIDE by bloom might-contain down to
    // ~|delta| candidate rows (false positives only weaken pruning,
    // never correctness); (3) the surviving candidates broadcast into
    // a LEFT ANTI join that drops delta rows whose fingerprint already
    // exists. At a 100 TB corpus with a daily delta this is one
    // full-scan-with-filter and zero corpus shuffles — the exact
    // incremental form of q_dedup_exact. Sizing rides Spark's own
    // runtime-filter conf, as in q_join_bloom.
    "q_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      val deltaSrc = Seq("src18", "src19")
      val delta = documents(s, d).filter(col("source").isin(deltaSrc: _*))
        .select(col("doc_id"), col("source"), fp.as("fp"))
      val expectedItems = s.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "1000000").toLong
      val bloomAgg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("fp"))), expectedItems)
        .toAggregateExpression()
      val bloomDf = delta.select(ColumnBridge.column(bloomAgg).as("bf"))
      val candidates = documents(s, d).filter(!col("source").isin(deltaSrc: _*))
        .select(fp.as("cfp"))
        .filter(ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            ColumnBridge.scalarSubquery(bloomDf),
            ColumnBridge.expression(xxhash64(col("cfp"))))))
      delta.join(broadcast(candidates), col("fp") === col("cfp"), "left_anti")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Containment near-dup (asymmetric overlap): pairs where the
    // SMALLER document's distinct 3-gram set is ≥ 50% inside the
    // other's — catches quotes, excerpts, and expanded re-posts that
    // symmetric Jaccard (q_dedup_ngram) misses, because adding text to
    // a copy drives Jaccard to zero but containment stays 1. The
    // blocking therefore deliberately DROPS q_dedup_ngram's length
    // bucket (containment pairs have very different lengths by
    // nature); candidate generation is the same inverted gram index,
    // blocked on (lang, gram) only, both sides shuffled on identical
    // keys so ReuseExchange computes the postings once. At 100 TB the
    // posting join is bounded by gram document-frequency, not corpus
    // size — stop-gram capping (drop grams with df above a cutoff)
    // is the standard pressure valve and composes here unchanged.
    "q_dedup_contain" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val gramHashes = ColumnBridge.column(
        graft.gen.NgramHashesExpr(ColumnBridge.expression(col("text")), 3))
      val postings = documents(s, d)
        .select(col("doc_id"), col("lang"), gramHashes.as("g"))
        .select(col("doc_id"), col("lang"),
          size(col("g")).as("ng"), explode(col("g")).as("gram"))
      val a = postings.select(col("doc_id").as("a_id"), col("lang"),
        col("ng").as("na"), col("gram"))
      val b = postings.select(col("doc_id").as("b_id"), col("lang").as("lang2"),
        col("ng").as("nb"), col("gram").as("gram2"))
      a.join(b.hint("shuffle_hash"),
          col("gram") === col("gram2") && col("lang") === col("lang2")
            && col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(count(lit(1)).as("inter"))
        .withColumn("cont", col("inter").cast("double") / least(col("na"), col("nb")))
        .filter(col("cont") >= 0.5)
        .select(col("a_id"), col("b_id"), col("cont"))
        .orderBy("a_id", "b_id")
    }),

    // MinHash estimator accuracy audit — the q_sim_recall of the dedup
    // family: for every LSH candidate pair, the signature-agreement
    // estimate (matching components / 16) against the EXACT Jaccard of
    // the distinct hashed-shingle sets, plus the absolute error. This
    // is the evaluation harness that makes the banding scheme tunable:
    // hash count and band geometry trade recall for cost, and this
    // query measures the estimator the trade rides on, per pair, under
    // the oracle gate. Shape: candidate pairs come from the same
    // banded join as q_dedup_minhash (never all-pairs); the tiny pair
    // set then broadcasts twice against per-doc signature/shingle rows
    // — two linear passes, no corpus shuffle. Every output is an exact
    // integer-ratio double (k/16, |∩|/|∪|), so cross-engine equality
    // is exact.
    "q_dedup_minhash_est" -> ((s, d) => {
      // round 21: the exact shingle-hash set runs as the codegen'd
      // graft_shingle_hashes — same slices, same 60-bit md5, same
      // double first-occurrence distinct (ExtensionsSpec pins it
      // against the transform/array_distinct chain it replaces)
      val hsd = expr(
        s"graft_shingle_hashes(text, ${LshBanding.ShingleLen}, ${graft.gen.MinHashImpl.P}L)")
      val base = documents(s, d)
        .select(col("doc_id"),
          LshBanding.minhashSigs(col("text")).as("sigs"), hsd.as("hs"))
      val pairs = minhashPairs(s, d)
      val a = base.select(col("doc_id").as("ad"), col("sigs").as("asigs"),
        col("hs").as("ahs"))
      val b = base.select(col("doc_id").as("bd"), col("sigs").as("bsigs"),
        col("hs").as("bhs"))
      val inter = size(array_intersect(col("ahs"), col("bhs")))
      // pairs (tiny) broadcast against the per-doc rows, then the
      // joined pair rows (still tiny) broadcast against the corpus
      // again — two linear passes, the corpus is never shuffled
      val withA = a.join(broadcast(pairs), col("ad") === col("a_id"))
        .select(col("a_id"), col("b_id"), col("asigs"), col("ahs"))
      b.join(broadcast(withA), col("bd") === col("b_id"))
        .select(col("a_id"), col("b_id"),
          (size(filter(zip_with(col("asigs"), col("bsigs"), (x, y) => (x === y)),
            v => v)).cast("double") / lit(16.0).cast("double")).as("est_j"),
          (inter.cast("double") /
            (size(col("ahs")) + size(col("bhs")) - inter).cast("double"))
            .as("exact_j"))
        .select(col("a_id"), col("b_id"), col("est_j"), col("exact_j"),
          abs(col("est_j") - col("exact_j")).as("abs_err"))
        .orderBy("a_id", "b_id")
    }),

    // Survivorship (golden-record merge) — the final stage of the
    // entity-resolution pipeline the dedup family builds: blocking
    // (q_join_fuzzy), matching (q_dedup_minhash), clustering
    // (q_dedup_cluster), and now MERGE: one golden row per entity,
    // assembled from its members by deterministic survivorship rules
    // (representative = min id; best source = the member with the
    // longest text, ties to the highest id — picked by a rank-1
    // window, never a nondeterministic max_by). Docs in no cluster
    // are their own golden record (coalesce to doc_id), so the output
    // is the deduplicated corpus manifest. Scale: component labels
    // come from the bounded Pregel loop; survivorship itself is one
    // cluster-keyed window + one aggregate on the SAME partitioning —
    // a single shuffle beyond the clustering it consumes.
    "q_dedup_golden" -> ((s, d) => {
      val comp = queries("q_dedup_cluster")(s, d)
        .select(col("doc_id").as("cdoc"), col("cluster_id"))
      val lab = documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .join(broadcast(comp), col("doc_id") === col("cdoc"), "left")
        .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
      // round 21: src_best was a row_number window (Exchange + Sort on
      // cid) consumed only as max(when(rn = 1, source)) — i.e. the
      // source at the per-cluster argmax of (n_chars, doc_id). max_by
      // with the same struct key computes it inside the ONE survivor
      // aggregate (map-side combined, no sort); doc_id is unique per
      // cid, so the argmax row — and every output bit — is unchanged.
      lab
        .groupBy(col("cid").as("cluster_id"))
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_members"),
          max(col("n_chars")).as("max_chars"),
          max_by(col("source"), struct(col("n_chars"), col("doc_id"))).as("src_best"))
        .orderBy("cluster_id")
    }),

    // Near-dup threshold calibration sweep — the pass you run BEFORE
    // committing a 100 TB dedup to one cosine cutoff: count candidate
    // pairs at each threshold in {0.30 … 0.50} bracketing the
    // committed 0.45 cutoff (q_dedup_embedding), in ONE pass over the
    // pair space, so the retention curve (pairs vs cutoff) is known
    // before the destructive keep/drop run. The pairs at the lowest
    // cutoff come from embeddingPairs (same double arithmetic as the
    // oracle's all-pairs counts); each pair then counts once per
    // threshold it clears. Thresholds compare the identical IEEE
    // double in both engines (decimal literal → nearest double).
    "q_dedup_sweep" -> ((s, d) => {
      import s.implicits._
      val thresholds = Seq(0.30, 0.35, 0.40, 0.45, 0.50)
        .map(t => (math.round(t * 1e6), t)).toDF("thr_ppm", "t")
      embeddingPairs(s, d, 0.30)
        .join(broadcast(thresholds), col("cos") >= col("t"))
        .groupBy("thr_ppm").agg(count(lit(1)).as("n_pairs"))
        .orderBy("thr_ppm")
    }),
  )

  /** DuckDB mirrors. The simhash bit expressions are generated by the
    * same loop bounds as the Spark side.
    */
  def oracles: Map[String, String] = {
    val simhashTerms = (0 until 32).map { b =>
      s"""CASE WHEN list_sum(list_transform(tok_md5,
         |  h -> CASE WHEN substr(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0
         |  THEN ${1L << b}::BIGINT ELSE 0::BIGINT END""".stripMargin
    }.mkString(" + ")

    // MinHash candidate pairs as a reusable CTE prefix (shared between
    // the pair oracle and the cluster oracle)
    val pairCtes =
      s"""sh AS (
         |  SELECT doc_id,
         |    ${LshBanding.shinglesHashSql} AS hs
         |  FROM documents
         |), sig AS (
         |  SELECT doc_id,
         |    ${LshBanding.sigsSql}
         |  FROM sh
         |), band AS (
         |  SELECT doc_id, k.j AS bidx,
         |    CASE k.j ${LshBanding.bandCaseSql} END AS bkey
         |  FROM sig CROSS JOIN (VALUES ${LshBanding.bandIdxValuesSql}) k(j)
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM band a JOIN band b
         |    ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)""".stripMargin

    Map(
      "q_dedup_cluster" ->
        s"""WITH RECURSIVE $pairCtes,
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION ALL
           |  SELECT b_id AS src, a_id AS dst FROM pairs
           |), nodes AS (
           |  SELECT DISTINCT src AS id FROM edges
           |), reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
           |)
           |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
           |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

      "q_dedup_exact" ->
        """SELECT doc_id, h, n_dups, lang FROM (
          |  SELECT doc_id, md5(text) AS h, lang,
          |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
          |    count(*) OVER (PARTITION BY md5(text)) AS n_dups
          |  FROM documents)
          |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "q_dedup_minhash" ->
        s"""WITH $pairCtes
           |SELECT a_id, b_id FROM pairs ORDER BY a_id, b_id""".stripMargin,

      "q_dedup_simhash" ->
        s"""SELECT doc_id, $simhashTerms AS simhash, lang
           |FROM (SELECT doc_id, lang,
           |        list_transform(string_split(text, ' '), t -> md5(t)) AS tok_md5
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin,

      "q_dedup_ngram" ->
        """WITH base AS (
          |  SELECT doc_id, lang,
          |    len(string_split(text, ' ')) // 10 AS bkt,
          |    list_distinct(list_transform(
          |      generate_series(1, len(string_split(text, ' ')) - 2),
          |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g
          |  FROM documents
          |)
          |SELECT a_id, b_id, j FROM (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    len(list_filter(a.g, x -> list_contains(b.g, x)))::DOUBLE
          |      / (len(a.g) + len(b.g) - len(list_filter(a.g, x -> list_contains(b.g, x)))) AS j
          |  FROM base a JOIN base b
          |    ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
          |  WHERE len(a.g) + len(b.g) > 0)
          |WHERE j >= 0.3 ORDER BY a_id, b_id""".stripMargin,
          // ^ union>0 guard: two gram-less docs would give j = 0/0 = NaN,
          // and DuckDB's NaN compares greater than everything — the Spark
          // side never materializes such pairs (no postings to join).

      "q_dedup_embedding" -> embeddingOracle,
      "q_dedup_embedding_blocked" -> embeddingOracle,

      // same corruption (drop char at md5-hash mod length), same
      // symmetric-deletion blocking keys, same levenshtein residual
      "q_join_fuzzy" ->
        """WITH sup AS (SELECT s_suppkey, s_name FROM supplier),
          |dirty AS (
          |  SELECT s_suppkey AS d_key,
          |    substr(s_name, 1, p) || substr(s_name, p + 2) AS d_name
          |  FROM (
          |    SELECT s_suppkey, s_name,
          |      CAST(('0x' || substr(md5(s_name), 1, 15))::BIGINT % length(s_name) AS INT) AS p
          |    FROM supplier)),
          |ck AS (
          |  SELECT s_suppkey, s_name,
          |    unnest(list_distinct(list_append(
          |      list_transform(generate_series(1, length(s_name)),
          |        i -> substr(s_name, 1, CAST(i AS INT) - 1) || substr(s_name, CAST(i AS INT) + 1)),
          |      s_name))) AS k
          |  FROM sup),
          |dk AS (
          |  SELECT d_key, d_name,
          |    unnest(list_distinct(list_append(
          |      list_transform(generate_series(1, length(d_name)),
          |        i -> substr(d_name, 1, CAST(i AS INT) - 1) || substr(d_name, CAST(i AS INT) + 1)),
          |      d_name))) AS k
          |  FROM dirty),
          |pairs AS (
          |  SELECT DISTINCT d.d_key, d.d_name, c.s_suppkey, c.s_name
          |  FROM dk d JOIN ck c ON d.k = c.k)
          |SELECT d_key, d_name, s_suppkey, s_name,
          |  CAST(levenshtein(d_name, s_name) AS INT) AS dist
          |FROM pairs WHERE levenshtein(d_name, s_name) <= 1
          |ORDER BY d_key, s_suppkey""".stripMargin,

      // same md5-driven dirty-URL synthesis; canonicalization re-parses
      // the URL with regexes (DuckDB has no parse_url)
      "q_dedup_url" ->
        """WITH dirty AS (
          |  SELECT doc_id,
          |    'https://'
          |    || CASE WHEN h % 2 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END
          |    || CASE WHEN h % 3 = 0 THEN ':443' ELSE '' END
          |    || '/' || lang || '/doc-' || CAST(doc_id % 100 AS VARCHAR)
          |    || CASE WHEN h % 7 = 0 THEN '/' ELSE '' END
          |    || '?'
          |    || CASE WHEN h % 5 < 2
          |         THEN 'utm_source=s' || CAST(h % 4 AS VARCHAR) || '&q=' || CAST(n_chars % 10 AS VARCHAR)
          |         ELSE 'q=' || CAST(n_chars % 10 AS VARCHAR) END AS url
          |  FROM (
          |    SELECT doc_id, lang, n_chars,
          |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |    FROM documents)),
          |canon AS (
          |  SELECT doc_id, url,
          |    'https://'
          |    || lower(regexp_extract(url, '^https://([^/:?]+)', 1))
          |    || regexp_replace(regexp_extract(url, '^https://[^/?]+(/[^?]*)', 1), '/$', '')
          |    || CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canon
          |  FROM (
          |    SELECT doc_id, url,
          |      array_to_string(list_sort(list_filter(
          |        string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
          |        p -> NOT starts_with(p, 'utm_'))), '&') AS params
          |    FROM dirty))
          |SELECT canon, count(*) AS n_rows,
          |  count(DISTINCT url) AS n_variants,
          |  min(doc_id) AS first_doc
          |FROM canon GROUP BY canon ORDER BY canon""".stripMargin,

      "q_dedup_boilerplate" ->
        """WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |  WHERE len(string_split(text, ' ')) >= 3),
          |ch AS (
          |  SELECT doc_id,
          |    unnest(generate_series(0, len(t) // 3 - 1)) AS pos,
          |    unnest(list_transform(generate_series(1, len(t) // 3),
          |      i -> t[(i - 1) * 3 + 1] || ' ' || t[(i - 1) * 3 + 2] || ' ' || t[(i - 1) * 3 + 3])) AS chunk
          |  FROM t),
          |f AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
          |SELECT ch.doc_id,
          |  count(*) AS n_chunks,
          |  CAST(sum(CASE WHEN f.nd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
          |  coalesce(string_agg(CASE WHEN f.nd < 3 THEN ch.chunk END, ' ' ORDER BY ch.pos), '') AS clean
          |FROM ch JOIN f ON ch.chunk = f.chunk
          |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,

      "q_dedup_incremental" ->
        """WITH f AS (
          |  SELECT doc_id, source,
          |    md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS fp
          |  FROM documents)
          |SELECT doc_id, source FROM f a
          |WHERE a.source IN ('src18', 'src19')
          |  AND NOT EXISTS (SELECT 1 FROM f b
          |    WHERE b.source NOT IN ('src18', 'src19') AND b.fp = a.fp)
          |ORDER BY doc_id""".stripMargin,

      "q_dedup_contain" ->
        """WITH base AS (
          |  SELECT doc_id, lang,
          |    list_distinct(list_transform(
          |      generate_series(1, len(string_split(text, ' ')) - 2),
          |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g
          |  FROM documents
          |)
          |SELECT a_id, b_id, cont FROM (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    len(list_filter(a.g, x -> list_contains(b.g, x)))::DOUBLE
          |      / least(len(a.g), len(b.g)) AS cont
          |  FROM base a JOIN base b
          |    ON a.lang = b.lang AND a.doc_id < b.doc_id
          |  WHERE least(len(a.g), len(b.g)) > 0)
          |WHERE cont >= 0.5 ORDER BY a_id, b_id""".stripMargin,

      "q_dedup_minhash_est" -> {
        val matchTerms = (0 until LshBanding.NumHashes)
          .map(i => s"(CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH $pairCtes,
           |hsd AS (SELECT doc_id, list_distinct(hs) AS hs FROM sh),
           |est AS (
           |  SELECT p.a_id, p.b_id,
           |    CAST($matchTerms AS DOUBLE) / CAST(16 AS DOUBLE) AS est_j
           |  FROM pairs p
           |  JOIN sig a ON a.doc_id = p.a_id
           |  JOIN sig b ON b.doc_id = p.b_id),
           |ex AS (
           |  SELECT p.a_id, p.b_id,
           |    CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)
           |      / CAST(len(a.hs) + len(b.hs)
           |          - len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)
           |      AS exact_j
           |  FROM pairs p
           |  JOIN hsd a ON a.doc_id = p.a_id
           |  JOIN hsd b ON b.doc_id = p.b_id)
           |SELECT e.a_id, e.b_id, e.est_j, x.exact_j,
           |  abs(e.est_j - x.exact_j) AS abs_err
           |FROM est e JOIN ex x ON e.a_id = x.a_id AND e.b_id = x.b_id
           |ORDER BY e.a_id, e.b_id""".stripMargin
      },

      "q_dedup_golden" ->
        s"""WITH RECURSIVE $pairCtes,
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION ALL
           |  SELECT b_id AS src, a_id AS dst FROM pairs
           |), nodes AS (
           |  SELECT DISTINCT src AS id FROM edges
           |), reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
           |), comp AS (
           |  SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
           |  FROM reach GROUP BY id
           |), lab AS (
           |  SELECT d.doc_id, d.source, d.n_chars,
           |    coalesce(c.cluster_id, d.doc_id) AS cid
           |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
           |), rk AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY cid ORDER BY n_chars DESC, doc_id DESC) AS rn
           |  FROM lab)
           |SELECT cid AS cluster_id,
           |  min(doc_id) AS rep_id,
           |  count(*) AS n_members,
           |  max(n_chars) AS max_chars,
           |  max(CASE WHEN rn = 1 THEN source END) AS src_best
           |FROM rk GROUP BY cid ORDER BY cluster_id""".stripMargin,

      // all-pairs cosine recomputed exactly (same fold order), counted
      // per threshold via a 5-row cross join
      "q_dedup_sweep" ->
        """WITH e AS (
          |  SELECT vec_id, embedding,
          |    sqrt(list_reduce(list_transform(generate_series(1, 64),
          |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
          |  FROM embeddings
          |), p AS (
          |  SELECT list_reduce(list_transform(generate_series(1, 64),
          |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)
          |      / (a.nrm * b.nrm) AS cs
          |  FROM e a JOIN e b ON a.vec_id < b.vec_id
          |  WHERE a.nrm > 0 AND b.nrm > 0
          |), thr(thr_ppm, t) AS (VALUES
          |  (CAST(300000 AS BIGINT), CAST(0.30 AS DOUBLE)),
          |  (CAST(350000 AS BIGINT), CAST(0.35 AS DOUBLE)),
          |  (CAST(400000 AS BIGINT), CAST(0.40 AS DOUBLE)),
          |  (CAST(450000 AS BIGINT), CAST(0.45 AS DOUBLE)),
          |  (CAST(500000 AS BIGINT), CAST(0.50 AS DOUBLE)))
          |SELECT thr_ppm, count(*) AS n_pairs
          |FROM p CROSS JOIN thr WHERE cs >= t
          |GROUP BY thr_ppm ORDER BY thr_ppm""".stripMargin,
    )
  }
}
