package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits for the claims SCALE.md makes: predicates and
  * projections reach the parquet scan, small dims broadcast, top-k is
  * TakeOrderedAndProject (not a global sort), and the generator plan is
  * shuffle-free. Failures here mean a plan silently regressed even
  * though results still match the oracle.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  // formatted mode prints PushedFilters/ReadSchema untruncated
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q_filter_project pushes predicates and prunes columns at the scan") {
    val plan = planOf("q_filter_project")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_quantity"), plan)
    // projection pruning: the untouched wide columns never leave parquet
    assert(!plan.contains("l_comment"), plan)
    assert(!plan.contains("l_partkey"), plan)
  }

  test("q_scan_parquet reads only the 5 projected columns") {
    val plan = planOf("q_scan_parquet")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q_join_broadcast plans a BroadcastHashJoin") {
    val plan = planOf("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q_source_bucketed joins the bucketed tables without shuffling either side") {
    val plan = planOf("q_source_bucketed")
    assert(plan.contains("SortMergeJoin"), plan)
    // the only hash exchange is the post-join groupBy; the join inputs
    // read the bucket layout directly (that's the whole point of the query)
    // formatted mode prints the Exchange node and its partitioning
    // argument on separate lines — count the hashpartitioning args
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected 1 hash exchange (agg), got $hashExchanges:\n$plan")
    assert(plan.contains("SelectedBucketsCount"), plan)
  }

  test("generator plan is shuffle-free (Range -> Project)") {
    val plan = gen.SqloadGen.table(spark, "key,bigint,varchar(10)", 1000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Range"), plan)
  }

  test("q_text_topwords runs through the native TopKPerGroup operator") {
    val plan = planOf("q_text_topwords")
    assert(plan.contains("TopKPerGroupFinal"), plan)
    assert(plan.contains("TopKPerGroupPartial"), plan)
  }

  test("q_topk_group: the optimizer rewrite replaces the window with the operator") {
    val plan = planOf("q_topk_group")
    assert(plan.contains("TopKPerGroupFinal"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window "), s"window exec survived:\n$plan")
  }

  test("engine posture under the registered rewrite: lone rn filters rewrite, other windows keep Window exec") {
    // SparkEntry.queries installs TopKRewriteRule on every session it
    // builds on. With it on:
    //  - the pipeline's keep-first exact-dedup stage (lone row_number,
    //    rn = 1) plans as the operator in production,
    //  - q_window_rank / q_dedup_exact carry a SECOND window function
    //    (rank / count) so the rule correctly declines — they keep
    //    exercising Spark's window exec,
    //  - non-rank windows are untouched.
    assert(planOf("q_pipeline_e2e").contains("TopKPerGroupFinal"),
      "pipeline keep-first stage should plan as the operator")
    for (q <- Seq("q_window_rank", "q_dedup_exact", "q_window_running",
                  "q_window_lead_lag", "q_window_frames"))
      assert(planOf(q).contains("Window"), s"$q lost its window exec")
  }

  test("q_join_bloom prunes the probe side with might_contain below the join") {
    // the bloom predicate must survive optimization as a probe-side
    // Filter (child of the join), not get collapsed or hoisted above it
    val opt = SparkEntry.queries("q_join_bloom")(spark, sf)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt.toString)
    val probeSideBloom = joins.head.collect {
      case f: Filter if f.condition.toString.contains("might_contain") => f
    }
    assert(probeSideBloom.nonEmpty,
      s"might_contain filter not under the join:\n$opt")
  }

  test("q_join_bloom builds the bloom lazily as a scalar subquery, not an eager literal") {
    // The pre-fix shape ran `.head()` at DataFrame-construction time and
    // embedded the bloom as a BINARY literal. The fixed shape carries a
    // ScalarSubquery (InjectRuntimeFilter-style): the build executes as
    // a subquery stage of the ACTION, inside whatever the bench times.
    // (Construction still runs parquet schema-inference jobs — those are
    // metadata reads, not the bloom aggregation.)
    import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}
    val conds = SparkEntry.queries("q_join_bloom")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("might_contain") => f.condition
      }
    assert(conds.nonEmpty, "no might_contain filter in the optimized plan")
    assert(conds.exists(_.exists(_.isInstanceOf[ScalarSubquery])),
      "might_contain's bloom argument should be a scalar subquery")
    assert(!conds.exists(_.exists {
      case Literal(_, org.apache.spark.sql.types.BinaryType) => true
      case _ => false
    }), "bloom must not be materialized into a binary literal at construction")
  }

  test("CmsOps caches by blob content, not array identity") {
    val sk = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42)
    (1L to 100L).foreach(k => sk.add(java.lang.Long.valueOf(k % 7)))
    val out = new java.io.ByteArrayOutputStream()
    sk.writeTo(out)
    val blob = out.toByteArray
    gen.CmsOps.estimate(blob, 3L) // prime this thread's cache
    val before = gen.CmsOps.deserializations.get()
    // fresh copies per call = what UnsafeRow.getBinary hands the expression
    (1 to 50).foreach(_ => assert(gen.CmsOps.estimate(blob.clone(), 3L) >= 1L))
    assert(gen.CmsOps.deserializations.get() == before,
      "content-equal blobs must hit the cached sketch, not re-deserialize per row")
  }

  test("q_scd2: both windows share one partitioning — a single hash exchange") {
    val plan = planOf("q_scd2")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected 1 hash exchange feeding both windows, got $hashExchanges:\n$plan")
    val windows = "\\(\\d+\\) Window".r.findAllIn(plan).size
    assert(windows == 2, s"expected 2 window nodes, got $windows:\n$plan")
  }

  test("q_unpivot expands AFTER the aggregate (constant-size reshape)") {
    val df = SparkEntry.queries("q_unpivot")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString()
    // Expand (the unpivot) must be a parent of Aggregate, never a child
    val expandIdx = p.linesIterator.indexWhere(_.contains("Expand"))
    val aggIdx = p.linesIterator.indexWhere(_.contains("Aggregate"))
    assert(expandIdx >= 0 && aggIdx >= 0 && expandIdx < aggIdx,
      s"Expand should sit above Aggregate in:\n$p")
  }

  test("q_limit_offset plans offset+limit as one limit node, no full collect") {
    val plan = planOf("q_limit_offset")
    assert(plan.contains("GlobalLimit") || plan.contains("TakeOrdered"), plan)
  }

  test("q_agg_bitmap: two-level rollup with partial bitmap aggregation map-side") {
    val plan = planOf("q_agg_bitmap")
    // stage 1 (per-bucket bitmap OR) must run in partial mode map-side
    // — the property that bounds the shuffle to |buckets| x 4 KB per
    // group instead of raw keys (partial aggregates always sit below
    // their exchange by construction)
    assert(plan.contains("partial_bitmap_construct_agg"), plan)
    // two-level rollup: bucket-level exchange + group-level exchange
    // (plus the final presentation sort's range exchange)
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 2, s"expected 2 hash exchanges, got $hashExchanges:\n$plan")
  }

  test("q_anomaly: stats side broadcasts — the fact table is never shuffled") {
    val plan = planOf("q_anomaly")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchange allowed is the tiny per-type stats aggregate;
    // the events scan feeding the join must not hash-exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected at most the stats-agg exchange, got $exchanges:\n$plan")
  }

  test("q_sample_group: per-group rank limited before the shuffle (WindowGroupLimit or TopKPerGroup)") {
    val plan = planOf("q_sample_group")
    // either Spark's own partial WindowGroupLimit (default posture) or
    // the native operator (under the registered rewrite) must bound
    // rows map-side; a bare Window+Filter would shuffle every row
    assert(plan.contains("WindowGroupLimit") || plan.contains("TopKPerGroup"), plan)
  }

  test("q_join_fuzzy: candidates come from an equi-join on deletion keys, not a nested loop") {
    val plan = planOf("q_join_fuzzy")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy join must block on deletion keys, not nested-loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_embed_quantize is shuffle-free (row-local map)") {
    val plan = planOf("q_embed_quantize")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"quantization must not shuffle:\n$plan")
  }

  test("q_join_star broadcasts both bounded dims in the reordered join tree") {
    val plan = planOf("q_join_star")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2,
      s"expected region+nation (at least) to broadcast, got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_sim_ivf: window-free — row-local assignment, heap-ranked retrieval") {
    // round-5 regression pinned: the old plan ranked corpus×centroids
    // with Window.partitionBy(vec_id); the fix is an argmax over a
    // broadcast centroid array inside the scan stage. Round 17
    // (VERDICT r16 #1): the query side now routes through
    // IvfIndex.searchTopK, so the per-query candidate ranking must ride
    // the TopKPerGroup bounded heaps — ZERO windows anywhere in the
    // gated plan.
    val plan = planOf("q_sim_ivf")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows == 0, s"expected a window-free plan, got $windows:\n$plan")
    assert(plan.contains("TopKPerGroupFinal"),
      s"candidate ranking must ride the bounded-heap operator:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroid array must broadcast:\n$plan")
  }

  test("q_drift_route: query-stream cost — window-free, broadcast-only joins, no corpus store access") {
    // the drift monitor's defining property (round 20): it runs on the
    // LIVE QUERY STREAM — one broadcast of the routing array, one
    // q_id-keyed map-side-combined max, a broadcast 1-row stats join —
    // and never touches an inverted store. Zero windows, zero
    // cartesian products, every join a broadcast.
    val plan = planOf("q_drift_route")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows == 0, s"expected a window-free plan, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row stats join must broadcast, never cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"routing array and stats row must ride broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the monitor must not exchange any table:\n$plan")
  }

  test("q_dedup_semantic: cell-blocked pairs come from an equi-join, assignment is window-free") {
    // the SemDeDup shape: row-local argmax cell assignment (no Window
    // over the corpus — the q_sim_ivf property) and a cell-keyed
    // EQUI-join for the pair search (never an all-pairs nested loop)
    val plan = planOf("q_dedup_semantic")
    assert(!plan.contains("CartesianProduct"),
      s"pair search must equi-join on the cell id:\n$plan")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows == 0, s"cell assignment must be row-local, got $windows windows:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_dedup_semantic_indexed: broadcast group means, window-free two-level assignment") {
    // the round-15 promotion of the measured indexed assignment into the
    // gated surface (VERDICT r14 #1): stage-1 routing must ride a
    // BROADCAST single-row group-means array scored row-locally (no
    // Window anywhere), stage-2 must probe the centroids through a
    // BroadcastHashJoin, and the pair search stays a cell equi-join
    val plan = planOf("q_dedup_semantic_indexed")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows == 0, s"two-level assignment must be window-free, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair search must equi-join on the cell id:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"stage-2 centroid probe must broadcast the centroid table:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"stage-1 group means must ride in as a broadcast array:\n$plan")
    // runtime: the a/b sides of the pair self-join must share ONE
    // assignment aggregate via ReuseExchange (an AQE-time decision, so
    // pin the FINAL executed plan — at sf0.01, where the result is
    // non-empty; sf0.001 yields zero pairs and AQE collapses the plan
    // to EmptyRelation before any exchange materializes)
    val df = SparkEntry.queries("q_dedup_semantic_indexed")(spark, "/root/testdata/sf0.01")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(executed.contains("ReusedExchange"),
      s"assignment must be computed once and reused across the pair self-join:\n$executed")
  }

  test("q_decontaminate: benchmark gram set broadcasts; corpus grams probe map-side") {
    val plan = planOf("q_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus grams must not sort-merge against the benchmark:\n$plan")
  }

  test("q_join_pit: all features assemble in ONE user_id partitioning") {
    val plan = planOf("q_join_pit")
    // formatted mode prints the Exchange node and its partitioning
    // argument separately — count the hashpartitioning args (the final
    // orderBy is rangepartitioning and doesn't match)
    val exchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected a single user_id exchange feeding all three features, got $exchanges:\n$plan")
    // one Window NODE shared by all three features; it appears once in
    // the plan tree and once in the details section
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows == 1, s"expected one shared window node, got $windows:\n$plan")
  }

  test("q_join_dpp: the fact scan carries a dynamic partition pruning subquery") {
    val plan = planOf("q_join_dpp")
    assert(plan.contains("dynamicpruning"),
      s"partitioned fact scan must be pruned by the dim filter at runtime:\n$plan")
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("q_text_bm25: map-side scoring, no hash shuffle, top-10 via TakeOrderedAndProject") {
    val plan = planOf("q_text_bm25")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must not be a global sort:\n$plan")
    // the only exchange is the 1-row corpus-stats aggregate
    // (SinglePartition); scoring itself never hash-partitions the corpus
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 0,
      s"BM25 scoring must be map-side, got $hashExchanges hash exchanges:\n$plan")
  }

  test("q_graph_pagerank: iteration lineage is flat — no parquet rescan after checkpoint") {
    val plan = planOf("q_graph_pagerank")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"rounds must iterate on the checkpointed edge list, not re-derive it ($scans scans):\n$plan")
  }

  test("q_graph_triangles: all four counts derive from the checkpointed edge list — no parquet rescan") {
    // round-6 defect: the four aggregate branches each re-derived the
    // co-purchase self-join from scratch (16 parquet scans, 0 reuse,
    // slowest query in the suite). The edge list (and the oriented
    // form) are localCheckpoint-ed once; the final plan must not touch
    // parquet at all.
    val plan = planOf("q_graph_triangles")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"aggregate branches must reuse the checkpointed edges, not re-derive them ($scans scans):\n$plan")
  }

  test("no query plans an unpartitioned Window (single-partition sort of its input)") {
    // WindowExec with an empty partitionSpec moves ALL rows to one
    // partition — the classic hidden scale killer. Every window in the
    // inventory must carry a partition spec. Known limitation: the
    // audit sees the FINAL optimized plan only — a window buried under
    // an eager localCheckpoint executes at construction time and
    // surfaces here as an opaque LogicalRDD leaf, so checkpointed
    // subplans are not covered (none of the current checkpoint users
    // — triangles, pagerank, dedup_cluster — window before their
    // checkpoints; keep it that way).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      w <- {
        val ws = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        // constructing a query can run eager side effects
        // (localCheckpoint blocks, scratch-dir writes); release them
        // per query or 158 constructions accumulate block-manager
        // state in this JVM — the same pressure Bench.releaseState
        // cures in the bench harness
        Release.all(spark)
        ws
      }
    } yield name
    assert(offenders.isEmpty,
      s"unpartitioned windows in: ${offenders.distinct.mkString(", ")}")
  }

  test("q_dedup_boilerplate: chunk frequency joins by key, never nested-loop") {
    val plan = planOf("q_dedup_boilerplate")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"chunk-frequency join must be an equi-join:\n$plan")
  }

  test("q_quality_rules: row-local rules ride one scan; stack runs on the 1-row aggregate") {
    val plan = planOf("q_quality_rules")
    // scans: base rules + pk-distinct share ONE scan (Spark plans the
    // mixed countDistinct as agg-over-agg with the row-local counts as
    // partials on the same pass); the FK anti join adds lineitem +
    // orders — the fact table must not be scanned more. Count the
    // numbered detail entries (each node prints once there).
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans <= 3, s"expected <= 3 parquet scans, got $scans:\n$plan")
  }

  test("q_text_dupspans: one corpus scan, map-side-combined gram aggregate") {
    val plan = planOf("q_text_dupspans")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    // partial+final split on (gram, doc_id) means the explode fan-out
    // is combined BEFORE its exchange — the 100 TB claim in the query
    assert(plan.contains("HashAggregate"), plan)
    // exchanges: (gram, doc_id) agg, gram window, doc_id agg — never a
    // join back to the corpus for n_windows (it rides as a column)
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 3, s"expected <= 3 hash exchanges, got $hashExchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"dupspans must not join back to the corpus:\n$plan")
  }

  test("q_stats_corr: whole matrix from ONE scan and one 1-row aggregate") {
    val plan = planOf("q_stats_corr")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 0,
      s"corr matrix needs no keyed shuffle, got $hashExchanges:\n$plan")
  }

  test("q_sim_mips: broadcast-only joins, no shuffled join") {
    val plan = planOf("q_sim_mips")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"MIPS candidate scan must not shuffle:\n$plan")
  }

  test("q_stats_pca: one scan, one 1-row aggregate, iteration is pure projection") {
    val plan = planOf("q_stats_pca")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$plan")
    // the power iteration must stay a projection chain over the 1-row
    // moment aggregate — no keyed shuffle anywhere
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 0,
      s"PCA needs no keyed shuffle, got $hashExchanges:\n$plan")
  }

  test("q_dedup_incremental: bloom-pruned corpus scan feeds a broadcast anti join") {
    val plan = planOf("q_dedup_incremental")
    // the corpus scan is pruned map-side by the delta bloom BEFORE any join
    assert(plan.contains("might_contain"), plan)
    // the anti join builds on the pruned candidate set — the corpus is
    // never shuffled
    assert(plan.contains("BroadcastHashJoin LeftAnti BuildRight"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"incremental dedup must not shuffle the corpus:\n$plan")
  }

  test("q_dedup_contain: posting join is shuffled-hash, never broadcast") {
    val plan = planOf("q_dedup_contain")
    // the posting list is the exploded corpus — broadcasting it is the
    // scale bug q_dedup_ngram's comment warns about
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("NestedLoop"),
      s"containment posting join must shuffle both sides:\n$plan")
  }

  test("q_win_cusum: both windows share ONE user-keyed partitioning; stats broadcast") {
    val plan = planOf("q_win_cusum")
    // cumsum and running-min must ride the same hash exchange — a
    // second keyed shuffle would double the network cost of the scan
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"CUSUM is ONE user-keyed partitioning, got $hashExchanges:\n$plan")
    val windows = "\\(\\d+\\) Window".r.findAllIn(plan).size
    assert(windows == 2, s"expected 2 Window nodes, got $windows:\n$plan")
    // the corpus-mean row joins in via broadcast, never a shuffle
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("q_text_hashtf: one scan, map-side-combined (doc, bucket) aggregate") {
    val plan = planOf("q_text_hashtf")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    // partial+final split: the explode fan-out combines to <= 64 rows
    // per doc BEFORE the exchange
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"hashtf is ONE keyed shuffle, got $hashExchanges:\n$plan")
  }

  test("q_impute_locf: one scan, one user-keyed window shuffle") {
    val plan = planOf("q_impute_locf")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"LOCF is ONE user-keyed partitioning, got $hashExchanges:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("q_sim_ivfpq: assignment and coding are row-local — only the per-query rank window") {
    // the IVFPQ build side must keep the q_sim_ivf property: cell
    // assignment AND PQ encoding happen inside the corpus scan stage
    // (broadcast centroid array + broadcast codebook), never via a
    // corpus-partitioned window; the probe is an equi-join
    val plan = planOf("q_sim_ivfpq")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows <= 1, s"expected at most the per-query rank window, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"probe must equi-join on the cell id:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"queries broadcast — the corpus side must not shuffle for the probe:\n$plan")
  }

  test("q_mix_target: rates broadcast back; the corpus never shuffles for a join") {
    val plan = planOf("q_mix_target")
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table must broadcast into the membership filter:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle for a join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_split_assign: one scan, one map-side-combined aggregate exchange") {
    val plan = planOf("q_split_assign")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"split manifest is ONE keyed shuffle, got $hashExchanges:\n$plan")
  }

  test("q_text_repetition: gram tables combine map-side — two doc-keyed branches, no corpus window") {
    val plan = planOf("q_text_repetition")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(plan).size
    assert(windows == 0, s"repetition signals need no window, got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_graph_jaccard: common-neighbor closure reuses checkpointed edges — no parquet rescan") {
    // the co-purchase self-join is derived once (edges/und/deg all
    // checkpointed, the q_graph_pagerank rule); the closure and the
    // two degree joins run off the checkpointed RDDs
    val plan = planOf("q_graph_jaccard")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"closure must reuse the checkpointed edge list ($scans scans):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_mine_hardneg: both extremes share ONE (q_id, same) window partitioning") {
    val plan = planOf("q_mine_hardneg")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"query batch broadcasts — the corpus must not shuffle for the join:\n$plan")
    // one exchange for the two same-partitioned windows + one for the
    // final q_id pivot aggregate
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"hard-pos and hard-neg ranks must share a partitioning, got $hashExchanges:\n$plan")
  }

  test("q_sample_topn: exactly-N sample plans as TakeOrdered, never a global sort") {
    val plan = planOf("q_sample_topn")
    assert(plan.contains("TakeOrderedAndProject"),
      s"fixed-N hash sample must ride per-partition top-N heaps:\n$plan")
  }

  test("q_win_bars: open/close ranks and the bar aggregate share ONE partitioning") {
    val plan = planOf("q_win_bars")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 1,
      s"both rank orders and the aggregate share the bar key, got $hashExchanges:\n$plan")
  }

  test("q_privacy_kanon: one scan, one aggregate exchange") {
    val plan = planOf("q_privacy_kanon")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 customer scan, got $scans:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"k-anon audit is ONE keyed shuffle, got $hashExchanges:\n$plan")
  }

  test("q_shuffle_epoch: global ordinal without any single-partition exchange") {
    val plan = planOf("q_shuffle_epoch")
    assert(!plan.contains("SinglePartition"),
      s"the distributed zipWithIndex must never collapse to one partition:\n$plan")
    assert(plan.contains("Window"),
      s"per-bucket ranks ride a bucket-partitioned window:\n$plan")
  }

  test("q_rank_fusion: both rankers are TakeOrdered heaps; no window, no single partition") {
    val plan = planOf("q_rank_fusion")
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate generation must ride per-partition top-K heaps:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"),
      s"ranks come from the bounded theta-join count, never a global window:\n$plan")
  }

  test("q_bpe_pairs: top-20 merge candidates plan as TakeOrdered, never a full sort") {
    val plan = planOf("q_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"pair counts reduce map-side and top-20 is a heap merge:\n$plan")
  }

  test("q_text_diversity: two keyed aggregations, no extra exchanges") {
    val plan = planOf("q_text_diversity")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"(doc, token) counts then doc rollup — at most two keyed shuffles, got $hashExchanges:\n$plan")
  }

  test("q_quality_gate: row-local rules into one 1-row aggregate, zero keyed shuffles") {
    val plan = planOf("q_quality_gate")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 0,
      s"the cascade ledger is map-side-combined — no keyed shuffle, got $hashExchanges:\n$plan")
  }

  test("q_assoc_rules: 1-row basket count broadcasts; top-50 is a TakeOrdered heap") {
    val plan = planOf("q_assoc_rules")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 by confidence must be per-partition heaps, not a global sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row n_orders aggregate joins back as a broadcast:\n$plan")
  }

  test("coPurchaseEdges: one scan, two keyed shuffles, no join — basket-local pair explode") {
    // the shared graph-edge derivation (all five graph queries + the
    // basket variant in q_assoc_rules): ONE lineitem scan, ONE
    // order-keyed collect_set shuffle, row-local C(basket,2) pair
    // explode, ONE (a,b)-keyed support shuffle. A join or a third
    // exchange here means the derivation regressed to the round-9
    // distinct + self-join shape (three shuffles, lineitem-sized).
    val plan = operators.RelationalQueries.coPurchaseEdges(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(scans == 1, s"basket derivation is one lineitem pass, got $scans scans:\n$plan")
    assert(hashExchanges == 2,
      s"order-keyed baskets + (a,b)-keyed support = exactly 2 shuffles, got $hashExchanges:\n$plan")
    assert(!plan.contains("Join"), s"pairs explode row-locally, never a join:\n$plan")
  }

  test("q_graph_degdist: edge list checkpointed — union branches never rescan parquet") {
    val plan = planOf("q_graph_degdist")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"degree rollup must not re-derive the co-purchase join per branch, got $scans scans:\n$plan")
  }

  test("q_stats_ols: one map-side-combined scan, one keyed shuffle") {
    val plan = planOf("q_stats_ols")
    // formatted mode prints each scan in the tree AND as a detail
    // section — count the numbered detail headers
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(scans == 1, s"closed-form OLS is one pass, got $scans scans:\n$plan")
    assert(hashExchanges == 1,
      s"five co-moments ride the one returnflag shuffle, got $hashExchanges:\n$plan")
  }

  test("q_ts_autocorr: hourly series checkpointed — lag branches never rescan parquet") {
    val plan = planOf("q_ts_autocorr")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"both lag branches must read the checkpointed series, got $scans scans:\n$plan")
  }

  test("q_win_seasonal: hour rollup + type window, at most two keyed shuffles") {
    val plan = planOf("q_win_seasonal")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"(type, hod) aggregate then 24-row type window, got $hashExchanges:\n$plan")
  }

  test("q_stats_ks: sup over checkpointed value counts — no parquet rescan, argmax is a heap") {
    val plan = planOf("q_stats_ks")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"the bucketed-prefix cumulative must read the checkpointed value table, got $scans scans:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the argmax of |c1*n2 - c2*n1| must be a limit-1 heap, not a global sort:\n$plan")
  }

  test("q_eval_confusion: marginals read the checkpointed confusion table, never parquet") {
    // the two real corpus scans (centroid fold + predict) run eagerly
    // inside the localCheckpoint(true); the final plan must show the
    // three marginal branches reading ONLY the checkpointed cm table
    val plan = planOf("q_eval_confusion")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"gc/pc/tp must read the checkpointed confusion table, got $scans parquet scans:\n$plan")
  }

  test("q_text_invindex: window and rollup share the term partitioning; top-50 is a heap") {
    val plan = planOf("q_text_invindex")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 by df must be per-partition heaps, not a global sort:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"(term, doc) count then ONE term exchange shared by window+rollup, got $hashExchanges:\n$plan")
  }

  test("q_win_pattern: bounded per-user history via the TopKPerGroup heap, ONE keyed shuffle") {
    val plan = planOf("q_win_pattern")
    // the rn <= MaxSeqLen cap must plan as the bounded-heap operator —
    // this is the pin that keeps the per-user collect bounded: if the
    // rewrite stops firing, the stock window sorts each user's FULL
    // history again
    assert(plan.contains("TopKPerGroupFinal"),
      s"the MaxSeqLen cap must ride the bounded-heap TopKPerGroup operator:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"cap + collect share ONE user_id shuffle (TopKPerGroup preserves partitioning), got $hashExchanges:\n$plan")
  }

  test("q_win_debounce: ONE keyed shuffle; keep-first-per-burst rides the TopKPerGroup heap") {
    val plan = planOf("q_win_debounce")
    assert(plan.contains("TopKPerGroupFinal"),
      s"the rn = 1 keep-first must plan as the bounded-heap operator, not a full window sort:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"lag/burst windows + keep-first all share ONE (user, type) shuffle, got $hashExchanges:\n$plan")
  }

  test("q_bpe_apply: row-local merge against a broadcast pair; two map-side-combined shuffles") {
    val plan = planOf("q_bpe_apply")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row top pair must broadcast — the corpus never shuffles for the merge:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"pair-count + post-merge recount are the only keyed shuffles, got $hashExchanges:\n$plan")
  }

  test("q_multimodal_phash: banded candidates via ONE keyed equi-join, never a hamming theta-join") {
    val plan = planOf("q_multimodal_phash")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band matching must be an equi-join on (type, band, value) — a theta-join is the all-pairs blowup:\n$plan")
    // count the numbered detail headers — the tree line would double-count
    val joins = "\\(\\d+\\) (BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)".r
      .findAllIn(plan).size
    assert(joins == 1,
      s"exactly one self-equi-join generates candidates, got $joins:\n$plan")
  }

  test("q_dedup_minhash: band self-join reuses ONE exchange — signatures computed once") {
    // Round-10 pin for the r9 bench-regression investigation: the
    // a_id/b_id renames must stay ABOVE the join so both sides
    // canonicalize identically and ReuseExchange materializes the band
    // shuffle once (minhash signatures are the per-doc cost; the
    // pre-fix shape computed them twice). Reuse is an AQE-time
    // decision, so pin the FINAL executed plan, not the static one.
    val df = SparkEntry.queries("q_dedup_minhash")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"band exchange must be materialized once and reused:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"band match must be a shuffled-hash equi-join (never broadcast at corpus scale):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"candidate pairs must come from the (bidx, bkey) equi-join, not an all-pairs scan:\n$plan")
  }

  test("q_attribution: window and rollup are the only keyed shuffles") {
    val plan = planOf("q_attribution")
    assert(plan.contains("last("),
      s"last-touch credit must be a last(ignoreNulls) frame over the user window:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 2,
      s"ONE user_id window shuffle + the touch-type rollup, got $hashExchanges:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"), plan)
  }

  test("q_bpe_encode: corpus-wide encode is row-local — zero keyed shuffles") {
    // the merge table is nested literal replaces inside a per-word
    // lambda; the only exchange the encode plan may carry is the
    // output sort's range partitioning
    val plan = planOf("q_bpe_encode")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 0,
      s"fixed-merge-table encode must not shuffle the corpus, got $hashExchanges:\n$plan")
    assert(!plan.contains("Window"), s"no window needed for the encode pass:\n$plan")
  }

  test("q_text_perplexity: trigram aggregate computed once (ReuseExchange); profile broadcasts") {
    // Round-11 pin for the r10 bench-mover investigation: the per-doc
    // distinct-trigram aggregate td feeds BOTH the profile branch and
    // the probe branch through the identical (doc_id, lang, tri)
    // exchange — ReuseExchange must materialize the explode + first
    // aggregation ONCE (losing the reuse doubles the dominant trigram
    // pass). The bounded profile and totals join in as broadcasts; the
    // corpus is never join-shuffled. Reuse is an AQE-time decision, so
    // pin the FINAL executed plan.
    val df = SparkEntry.queries("q_text_perplexity")(spark, sf)
    df.collect()
    // AdaptiveSparkPlan.toString prints Final AND Initial plans — pin
    // only the final (executed) section or every node counts twice
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"the (doc_id, lang, tri) aggregate exchange must be computed once and reused:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj == 2,
      s"profile and totals both join as broadcasts, got $bhj:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle for a join — profile/totals are bounded broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_text_ngram_lm: trigram counts shuffle once; per-lang top-10 rides the TopKPerGroup heap") {
    // Round-11 coverage pin for the remaining unpinned members of the
    // bench top-10: the per-lang top-10 cut must plan as the bounded
    // heap (a stock window would re-sort the full trigram vocabulary
    // per language), and the whole build is one scan feeding two keyed
    // shuffles — the (lang, tri) count aggregate and the heap's lang
    // exchange.
    val plan = planOf("q_text_ngram_lm")
    assert(plan.contains("TopKPerGroupFinal"),
      s"the rnk <= 10 cut must ride the bounded-heap operator:\n$plan")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profile build is ONE corpus pass, got $scans scans:\n$plan")
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashExchanges == 2,
      s"(lang, tri) count + lang heap are the only keyed shuffles, got $hashExchanges:\n$plan")
  }

  test("q_graph_kcore: peeling rounds read checkpointed survivors — no parquet rescan, no theta joins") {
    // Three peeling rounds each checkpoint the surviving edge set; the
    // round summaries must read those checkpoints, never re-derive the
    // basket join from parquet, and the vertex filters must stay
    // semi equi-joins (a theta/cartesian here is the per-round blowup
    // the checkpointed design exists to avoid).
    val plan = planOf("q_graph_kcore")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"peeling rounds must read checkpointed edge sets, got $scans parquet scans:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"round summaries must read the checkpointed survivors:\n$plan")
    // the only NLJ allowed is the 1-row × 1-row scalar crossJoin that
    // pairs each round's vertex and edge counts
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_profile: all column stats in ONE lineitem pass") {
    // The profiling pass's whole claim is one scan: nulls, NDV,
    // min/max for four measures from a single pass. Round 21: the
    // Expand×5 distinct-aggregate form was replaced by a posexplode
    // (×4, no plain-agg replica) into an exact two-stage aggregation —
    // stage 1 dedups (col, value) pairs map-side, stage 2 recovers
    // n_rows/n_nulls/NDV/min/max. Pin the new shape: one scan, a
    // Generate (not Expand), and still no joins, no windows.
    val plan = planOf("q_profile")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profiling is ONE pass over lineitem, got $scans scans:\n$plan")
    assert(plan.contains("Generate") && plan.contains("posexplode"),
      s"exact multi-column NDV streams through posexplode + two-stage agg:\n$plan")
    assert(!plan.contains("Expand"),
      s"the Expand×5 distinct-aggregate form must not come back:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("q_text_tfidf: top-3 terms ride the TopKPerGroup heap; tf/df shuffle on the word") {
    // Round-11 pin, same investigation: the rn <= 3 filter over the
    // per-doc score window must plan as the bounded-heap operator (a
    // stock window re-sorts every doc's full vocabulary), and the
    // 1-row doc count joins in as a broadcast — the corpus-sized tf
    // and df tables shuffle on their keys, never broadcast.
    val plan = planOf("q_text_tfidf")
    assert(plan.contains("TopKPerGroupFinal"),
      s"the rn <= 3 cut must ride the bounded-heap TopKPerGroup operator:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row doc count must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the scalar crossJoin must plan as a broadcast nested loop over 1 row, not a cartesian:\n$plan")
  }

  test("q_sql_q3 makes views for the tables its SQL names and no others") {
    // each view costs a Parquet schema read at build time; Q3 joins
    // customer, orders and lineitem, never nation
    val fresh = spark.newSession()
    SparkEntry.queries("q_sql_q3")(fresh, sf)
    val sfx = sf.replaceAll("[^0-9A-Za-z]", "_")
    for (t <- Seq("customer", "orders", "lineitem"))
      assert(fresh.catalog.tableExists(s"graft_${t}_$sfx"), t)
    assert(!fresh.catalog.tableExists(s"graft_nation_$sfx"))
  }
}
