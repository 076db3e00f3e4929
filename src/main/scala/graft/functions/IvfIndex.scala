package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Two-level IVF-over-centroids cell assignment — the large-k scale path
  * for every argmax-cosine centroid consumer (SemDeDup cells, IVF coarse
  * routing, spherical k-means iterations).
  *
  * The flat assignment is an n×k cosine fan-out; SemDeDup at production
  * scale raises k with n (tens of thousands of cells), so the fan-out
  * itself becomes the bottleneck (round 14 measured
  * 15.96 s flat vs 4.34 s indexed at 100×/k=800, and the indexed slope
  * sub-linear at ~3×/decade). The remedy measured there and shipped
  * here: bucket the k centroids into g = k/groupSize groups, summarize
  * each group by its MEAN vector, and assign in two stages —
  *
  *   stage 1 (row-local): score the g group means (n×g cosines) against
  *     a BROADCAST single-row array of group structs; keep the top
  *     `nprobe` groups per vector (array_sort + slice in place — no
  *     shuffle, no window);
  *   stage 2 (one keyed shuffle): explode the nprobe probes, broadcast-
  *     join the probed groups' centroids (n·nprobe·groupSize cosines),
  *     and take the per-vector argmax with a map-side-combined
  *     max(struct) aggregate — no window here either.
  *
  * Total work: n×(g + nprobe·groupSize) cosines instead of n×k — for
  * k=800/g=100/nprobe=2 that is 116 vs 800 per vector, and g grows as
  * k/8 so the advantage compounds as k ∝ n. Approximation is exactly
  * production IVF's: a vector whose true best centroid lies outside its
  * probed groups lands in a neighbor cell (measured recall cost:
  * 0.747 → 0.625 recall@≥0.9 on the clustered replica at 100×).
  *
  * Determinism contract (the oracle-gate rules): group means fold
  * member centroids in cid-ascending order and dimensions ascending,
  * one double division by the member count, then one float32
  * quantization (the codegen dot is ARRAY<FLOAT>; float rounding is
  * IEEE round-to-nearest in both engines); all cosines are the
  * DotProductExpr/VecNormExpr ascending folds; stage-1 ties break to
  * the lower gid, stage-2 ties to the lower cid. Every step has an
  * exact DuckDB mirror (see q_dedup_semantic_indexed's oracle).
  *
  * Scale posture (round 16 — ENFORCED, not just documented): the
  * group-mean array is g structs of dim floats — ~29 KB at
  * k=800/dim=64, broadcast; g must stay ≤ BroadcastMaxCids (pick
  * groupSize ≈ √k at very large k so BOTH levels stay bounded —
  * k=10⁶/groupSize=1000 gives a 1000-struct routing array and
  * 1000-centroid probe groups). The centroid side of stage 2
  * broadcasts up to BroadcastMaxCids = 10⁵ cids (~26-40 MB with row
  * overhead) and DELEGATES to a cell-keyed shuffle-hash join beyond
  * that — same plan shape, the k-row table exchanged on gid instead
  * of shipped whole to every task (IvfIndexSpec's forced-delegation
  * test pins result identity across the two regimes).
  * Nothing here ever shuffles the corpus more than once.
  */
object IvfIndex {

  /** Stage-2 broadcast ceiling, in centroid rows: 10⁵ cids × (dim=64
    * floats + cid + cnrm + row overhead) ≈ 26-40 MB — the last size a
    * per-executor full copy is cheaper than exchanging the table.
    * Above it assignIndexed switches the stage-2 join to shuffle-hash
    * on the group id, and fit's per-iteration centroid join does the
    * same (fit's driver-collect-free update is gated by `collectMaxK`).
    */
  val BroadcastMaxCids: Long = 100000L

  private def dotD(x: Column, y: Column): Column =
    ColumnBridge.column(graft.gen.DotProductExpr(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))

  private def normD(x: Column): Column =
    ColumnBridge.column(graft.gen.VecNormExpr(ColumnBridge.expression(x)))

  /** Per-group mean summaries as a broadcast SINGLE-ROW sorted array of
    * struct(gid, gemb: array<float>, gnrm) — the stage-1 routing table.
    *
    * Input `cents`: (cid: long, cemb: array<float>, cnrm: double).
    * Means are exact double folds in cid-then-dimension ascending order,
    * quantized to float once (see object doc); groups whose mean
    * degenerates to the zero vector are dropped symmetrically with the
    * oracle (their members are then only reachable if another probed
    * group shares them — i.e. not at all; a degenerate group mean means
    * the group's centroids cancel and routing to it is meaningless).
    */
  def groupMeansArr(cents: DataFrame, groupSize: Int, dim: Int = 64): DataFrame = {
    // fail fast on a dim mismatch (round-16 ADVICE): with dim > the true
    // embedding length every cemb[d] past the end is null, every group
    // mean nulls out, gnrm fails the > 0 filter, and the assignment
    // silently returns ZERO rows. assert_true returns null on success so
    // the filter passes every honest row and throws on the first bad one;
    // a filter (unlike a dropped projection) survives column pruning.
    val checked = cents.filter(assert_true(size(col("cemb")) === dim,
      lit(s"IvfIndex: centroid embedding length != dim=$dim")).isNull)
    val gm = checked
      .groupBy(expr(s"cid div $groupSize").as("gid"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cemb")))).as("membs"))
      .select(col("gid"), expr(
        s"""transform(sequence(0, ${dim - 1}), d ->
           |  aggregate(membs, 0D, (a, x) -> a + CAST(x.cemb[d] AS DOUBLE))
           |    / CAST(size(membs) AS DOUBLE))""".stripMargin).as("gmd"))
      .select(col("gid"), col("gmd").cast("array<float>").as("gemb"))
      .select(col("gid"), col("gemb"), normD(col("gemb")).as("gnrm"))
      .filter(col("gnrm") > 0)
    broadcast(gm.agg(array_sort(collect_list(
      struct(col("gid"), col("gemb"), col("gnrm")))).as("gma")))
  }

  /** Two-level cell assignment. Input `e`: (vec_id, embedding, nrm > 0)
    * plus any passenger columns are NOT carried (output is the standard
    * (vec_id, embedding, nrm, cell) the pair-search consumers expect).
    * `cents`: (cid, cemb, cnrm) with cid densely grouped by
    * `cid div groupSize`.
    *
    * `kHint` is the centroid count when the caller knows it (every
    * in-repo caller does — the gated query's fixed IdxK, fit's own
    * k); pass -1 to have it counted (one k-row job,
    * cheap next to the assignment, but a job nonetheless — the hint
    * exists so the size gate costs nothing on the hot path).
    * `broadcastMaxCids` is the stage-2 broadcast ceiling (see
    * BroadcastMaxCids); tests force the shuffle-join regime by passing
    * a tiny bound. Result is IDENTICAL across regimes — the join is an
    * equi-join on gid either way, only the exchange strategy moves.
    */
  def assignIndexed(e: DataFrame, cents: DataFrame,
                    groupSize: Int = 8, nprobe: Int = 2,
                    dim: Int = 64, kHint: Long = -1L,
                    broadcastMaxCids: Long = BroadcastMaxCids): DataFrame = {
    // stage 2: argmax over the probed groups' centroids only — highest
    // cosine wins, ties to the LOWEST cid via max(struct(score, -cid)).
    probedCentroids(e, cents, groupSize, nprobe, dim, kHint, broadcastMaxCids)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        struct((dotD(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm"))).as("cscore"),
          (-col("cid")).as("ncid")).as("cand"))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"),
        max(col("cand")).as("best"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (-col("best").getField("ncid")).as("cell"))
  }

  /** IVF top-k SEARCH — the retrieval half of the module (round 16;
    * assignIndexed is the dedup/assignment half, and `q_sim_ivf`'s docs
    * already point large-k deployments here). Takes a PREBUILT inverted
    * file — the (vec_id, embedding, nrm, cell) output of
    * [[assignIndexed]] — so the index is built once and amortized
    * across query batches.
    *
    * Query routing is the same two-level pass as assignment, kept
    * top-`probeCells` CELLS per query instead of argmax: stage 1 scores
    * the broadcast g-struct routing array row-locally (top-nprobe
    * groups via array_sort+slice — no shuffle, no window), stage 2
    * ranks the probed groups' centroids with a map-side-combined
    * collect_list bounded at nprobe·groupSize rows per query (sorted +
    * sliced in place — window-free, order-independent by array_sort).
    * Candidates = probed cells' members, ranked by exact cosine through
    * the [[graft.plans.TopKPerGroup]] bounded-heap operator (k-row heap
    * per query per partition, shuffle carries ≤ topK·queries·partitions
    * pre-filtered rows — never a full sort, never a whole-partition
    * window). The probed queries are broadcast into the candidate join
    * (a query batch is small next to the corpus).
    *
    * WHEN TO TRUST THIS INDEX AT ALL — the silhouette gate, calibrated
    * (round 18; SCALE.md §"Semantic dedup" round-18 (b)): IVF routing
    * assumes clusterable geometry, and the shipped cluster-quality
    * score (`q_sim_silhouette`'s mean s = (b−a)/b over the same
    * centroids) now maps to a recall band. Measured at k=800,
    * floor-free recall@10, |Q|=1000: mean_sil 0.51 → recall 0.96,
    * 0.40 → 0.80, ≤ 0.06 → ≤ 0.09. Rule: silhouette ≲ 0.1 ⇒ the
    * geometry is unclusterable at this k — use the flat exact scan
    * (q_sim_topk's shape, or nprobe = g here) instead of probing;
    * ~0.4 is serviceable and refitting centroids (IvfIndex.fit vs
    * pooled seeds) buys BOTH silhouette (0.40 → 0.51) and recall
    * (0.80 → 0.96) on the same corpus. The exact band VALUES are
    * k-specific (a k=80 re-check read sil 0.145 with recall 1.000 on
    * the clustered corpus — coarse cells trade silhouette for recall)
    * but the ≲ 0.1 cutoff held at both k: read the gate at the k you
    * will serve with — run `q_sim_silhouette`'s score over your
    * centroids at that k (round 19).
    *
    * Determinism: cosines are the codegen ascending folds; stage-1
    * ties break low-gid, cell ranking low-cid, candidate ranking
    * (cos DESC, cand_id ASC) — a total order, so results are
    * bit-stable across partition layouts (pinned by IvfIndexSpec).
    * With nprobe = g and probeCells = k the search is EXACT brute-force
    * top-k over the corpus (also pinned). Self-matches: by default a
    * query id present in the corpus ranks itself at cos = 1;
    * `excludeSelf = true` drops `q_id = cand_id` candidates BEFORE the
    * heap, so every returned rank is a real neighbor (the form recall
    * measurement needs — corpus-drawn queries would otherwise carry a
    * guaranteed rank-1 self-hit that floors recall@k at 1/k; round-16
    * ADVICE) and the form the gated q_sim_ivf query uses.
    */
  def searchTopK(queries: DataFrame, inverted: DataFrame, cents: DataFrame,
                 topK: Int, groupSize: Int = 8, nprobe: Int = 2,
                 probeCells: Int = 2, dim: Int = 64, kHint: Long = -1L,
                 broadcastMaxCids: Long = BroadcastMaxCids,
                 excludeSelf: Boolean = false): DataFrame = {
    require(topK > 0 && nprobe > 0 && probeCells > 0,
      s"need topK/nprobe/probeCells > 0, got $topK/$nprobe/$probeCells")
    // stage 2: per query its top-probeCells cells, as (q_id, qe, qn, cell)
    val pc = probedCentroids(queries, cents, groupSize, nprobe, dim, kHint,
      broadcastMaxCids)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"),
        struct(
          (-(dotD(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")))).as("nscore"),
          col("cid").as("cid")).as("cand"))
      .groupBy("q_id")
      .agg(first(col("qe")).as("qe"), first(col("qn")).as("qn"),
        slice(array_sort(collect_list(col("cand"))), 1, probeCells).as("cells"))
      .select(col("q_id"), col("qe"), col("qn"),
        explode(col("cells")).as("pc"))
      .select(col("q_id"), col("qe"), col("qn"), col("pc").getField("cid").as("cell"))
    // candidate join + exact-cosine rank through the bounded-heap top-k
    // (this library path need not go through SparkEntry.queries, so it
    // installs the TopK strategy and rule itself; the install is idempotent)
    graft.plans.TopKRewriteRule.register(queries.sparkSession)
    val scoredAll = broadcast(pc).join(inverted, Seq("cell"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dotD(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
    val scored =
      if (excludeSelf) scoredAll.filter(col("q_id") =!= col("cand_id"))
      else scoredAll
    graft.plans.TopKPerGroup(scored, Seq("q_id"),
      Seq(("cos", false), ("cand_id", true)), topK, rnName = "rnk")
      .select(col("q_id"), col("cand_id"), col("cos"), col("rnk"))
  }

  /** Per-query ROUTING SCORE — the drift detector's raw signal
    * (round 19; VERDICT r18 #1): for each query, the best cosine among
    * its probed centroids, i.e. the stage-2 score of the cell
    * [[searchTopK]] would rank first. On clusterable geometry an
    * in-distribution query scores high (its own cluster's centroid is
    * probed); a distribution-SHIFTED query's cluster has no centroid,
    * so its best probe collapses — exactly the stage-1 routing loss the
    * round-18 drift ladder measured (flat 0.786 recall, recovered by
    * probe-widening). Same two-stage plan as the search probe: one
    * broadcast of the g-struct routing array, one |Q|-keyed
    * map-side-combined max aggregate — no corpus access at all, so the
    * monitor runs on the live QUERY STREAM at query-batch cost.
    * Input `queries`: (vec_id, embedding, nrm > 0); output
    * (q_id, route_score).
    */
  def routeScores(queries: DataFrame, cents: DataFrame,
                  groupSize: Int = 8, nprobe: Int = 2,
                  dim: Int = 64, kHint: Long = -1L): DataFrame = {
    probedCentroids(queries, cents, groupSize, nprobe, dim, kHint, BroadcastMaxCids)
      .select(col("vec_id").as("q_id"),
        (dotD(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm"))).as("s"))
      .groupBy("q_id").agg(max(col("s")).as("route_score"))
  }

  /** The DRIFT MONITOR (round 19; VERDICT r18 #1) — turns f, the
    * out-of-distribution share of the query mix (a shifted cluster has
    * no centroid of its own, so its queries lose recall to routing),
    * from an unobservable into a per-batch statistic. Returns ONE row
    * over the batch's [[routeScores]]:
    *
    *   n_queries, mean_score, p10_score, p50_score — the score
    *     distribution (quantiles via percentile_approx, an aggregate —
    *     no sort, no collect);
    *   below_frac — fraction of queries scoring under the floor τ, the
    *     `calibQ`-quantile of [[routeScores]] over an IN-DISTRIBUTION
    *     base sample scored against the same centroids;
    *   est_f — the implied OOD share: below_frac ≈ (1−f)·calibQ + f·β
    *     where β = P(an OOD query scores < τ), so with β = 1,
    *     est_f = max(0, (below_frac − calibQ) / (1 − calibQ)) is a
    *     LOWER bound on f (β < 1 only makes true f larger — the
    *     estimator never over-triggers a refit). MEASURED on the
    *     round-19 monitor leg's shifted-cluster geometry (SCALE.md
    *     §"Semantic dedup" round-19):
    *     est_f reads 0.00 / 0.06 / 0.17 / 0.45 at true f = 0/10/25/50%
    *     — monotone and conservative (β ≈ 0.73–0.91: about ¾ of OOD
    *     queries collapse below the corpus-p10 floor) — while the
    *     in-distribution control (25% fresh members of existing
    *     clusters) reads 0.00. Calibration caveats, measured: (1) route
    *     scores are CLUSTER-correlated, so the floor's base sample
    *     must span enough clusters — a 20-cluster sample misread the
    *     in-distribution below_frac as 0.21; 80 clusters read 0.09.
    *     (2) Floor and thresholds are K-SPECIFIC, like the silhouette
    *     gate's bands: at k=80 the same mixes read est_f
    *     0.00/0.00/0.15/0.31 — more conservative, and self-consistently
    *     so, because the drift penalty itself nearly vanishes at coarse
    *     k (big cells catch the shifted clusters' neighbors). Calibrate
    *     the floor at the k you serve with.
    */
  def driftStats(queries: DataFrame, cents: DataFrame, floor: Double,
                 calibQ: Double = 0.10,
                 groupSize: Int = 8, nprobe: Int = 2,
                 dim: Int = 64, kHint: Long = -1L): DataFrame = {
    require(calibQ > 0 && calibQ < 1, s"need 0 < calibQ < 1, got $calibQ")
    // empty-batch guard (round-19 ADVICE): with zero queries below_frac
    // is null and greatest(0.0, null) would read est_f = 0.0 — a monitor
    // silently reporting "no drift" when an upstream bug feeds it zero
    // queries. est_f is gated on n_queries > 0 so an empty batch reads
    // (n_queries = 0, est_f = null) — distinguishable from healthy.
    routeScores(queries, cents, groupSize, nprobe, dim, kHint)
      .agg(
        count(lit(1)).as("n_queries"),
        avg(col("route_score")).as("mean_score"),
        percentile_approx(col("route_score"), lit(0.10), lit(100000)).as("p10_score"),
        percentile_approx(col("route_score"), lit(0.50), lit(100000)).as("p50_score"),
        (sum(when(col("route_score") < floor, 1L).otherwise(0L))
          / count(lit(1))).as("below_frac"))
      .withColumn("est_f",
        when(col("n_queries") > 0,
          greatest(lit(0.0), (col("below_frac") - calibQ) / (1.0 - calibQ)))
          .otherwise(lit(null).cast("double")))
  }

  /** The one routing path of every consumer: stage 1 keeps each row's
    * top-`nprobe` groups row-locally — ascending sort on
    * struct(-score, gid) == (score DESC, gid ASC), sliced in place —
    * and stage 2 joins the probed groups' centroids. Output: one row
    * per (vector, probed centroid) as (gid, vec_id, embedding, nrm,
    * cid, cemb, cnrm); each consumer folds its own stage-2 score.
    */
  private def probedCentroids(e: DataFrame, cents: DataFrame,
                              groupSize: Int, nprobe: Int, dim: Int,
                              kHint: Long, broadcastMaxCids: Long): DataFrame = {
    val k = if (kHint >= 0L) kHint else cents.count()
    // stage 1 ALWAYS broadcasts its g-struct routing array, so g is
    // bounded by the absolute ceiling (not the overridable stage-2
    // bound, which tests shrink to force the shuffle regime). Ceil
    // division: groupMeansArr emits ⌈k/groupSize⌉ groups when k is not
    // divisible (round-16 ADVICE — floor was permissive at the boundary).
    val g = (k + groupSize.max(1) - 1) / groupSize.max(1)
    require(g <= BroadcastMaxCids,
      s"stage-1 routing array would hold $g group means " +
        s"(> $BroadcastMaxCids): raise groupSize (≈ √k keeps both levels bounded)")
    val probed = e.crossJoin(groupMeansArr(cents, groupSize, dim))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(slice(array_sort(transform(col("gma"), g => struct(
          (-(dotD(col("embedding"), g.getField("gemb"))
            / (col("nrm") * g.getField("gnrm")))).as("nscore"),
          g.getField("gid").as("gid")))), 1, nprobe)).as("p"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("p").getField("gid").as("gid"))
    joinCentroids(probed, cents.withColumn("gid", expr(s"cid div $groupSize")),
      "gid", k, broadcastMaxCids)
  }

  /** Equi-join `side` to a k-row centroid table on `key`. Small k:
    * broadcast the table. Past broadcastMaxCids: key-partitioned
    * shuffle-hash join — `side` exchanges once on the key (it was about
    * to shuffle for the consumer's groupBy anyway) and the k-row table
    * exchanges once instead of being copied to every task. The
    * shuffle_hash hint keeps the planner from sort-merge-joining a
    * build side that fits per-partition.
    */
  private def joinCentroids(side: DataFrame, table: DataFrame, key: String,
                            k: Long, broadcastMaxCids: Long): DataFrame =
    if (k <= broadcastMaxCids) side.join(broadcast(table), Seq(key))
    else side.join(table.hint("shuffle_hash"), Seq(key))

  /** Spherical k-means fit for LARGE k — the centroid trainer whose
    * per-iteration assignment is the two-level pass above, so k is never
    * a k-wide literal expression tree (a flat argmin over k centroid
    * literals materializes k struct branches per row: exact and ideal
    * for k ≤ ~32, hopeless at k=800 where codegen falls back
    * interpreted). Objective is the cosine the IVF consumers use:
    * assignment = argmax dot(v,c)/(|v||c|), update = per-cell member
    * mean (the classic spherical-Lloyd step; dividing by the centroid
    * norm at assignment time is equivalent to assigning against the
    * normalized mean).
    *
    * Determinism: init = the k smallest-id vectors (no RNG); per-cell
    * per-dimension means are DECIMAL-exact partial aggregates (the
    * SCALE.md cross-engine float policy — order-independent fold, one
    * double conversion), so the fit is bit-stable across partitionings.
    *
    * Driver state (round 16 — size-gated like stage 2): up to
    * `collectMaxK` the per-iteration (cell, dim) stats collect to the
    * driver and the centroid matrix lives there (k×dim doubles —
    * ~400 KB at k=800, ~5 MB at the 10⁴ default ceiling); past it the
    * update runs DISTRIBUTED — previous centroids stay a DataFrame,
    * the new means join against them for empty-cell carryover, and
    * each iteration materializes through graft.Checkpoint so lineage
    * stays flat. k ∝ n puts k at 10⁵–10⁶ for 100 TB corpora, where a
    * k×dim×iters driver collect is the bottleneck the gate removes;
    * the two paths are BIT-IDENTICAL (same decimal sums, same
    * cid-ascending objective fold — IvfIndexSpec's forced-distributed
    * test pins table and objective equality), and assumes every input
    * vector carries all `dim` dimensions (enforced for centroids by
    * groupMeansArr's assert; ragged inputs would diverge on carryover).
    *
    * Returns (centroid table, per-iteration objective): the table is
    * (cid, cemb: array<float>, cnrm) ready for assignIndexed —
    * float-quantized once at the END of the fit, matching the
    * groupMeansArr convention — and the objective is the MEAN
    * assignment cosine under the centroids each iteration STARTED from
    * (the spherical-k-means analogue of Lloyd's WCSS; Dhillon &
    * Modha 2001 — non-decreasing up to THREE slack sources: the
    * per-iteration float32 centroid quantization and empty-cell
    * carryover, both ≪ 1e-6 here, and — whenever nprobe < g — the
    * ROUTING APPROXIMATION itself: the per-iteration assignment is the
    * two-level pass, so a vector whose previous cell's group drops out
    * of its probed set can be re-assigned to a strictly worse cell,
    * breaking Lloyd monotonicity by arbitrarily more than quantization
    * slack (round-16 ADVICE; IvfIndexSpec's monotonicity check
    * therefore runs at nprobe = g, where the assignment is exact). The
    * objective rides the same single corpus pass as the mean update
    * (carried on dim 0 of each vector), summed in decimal so it is
    * bit-stable too.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
          groupSize: Int = 8, nprobe: Int = 2, dim: Int = 64,
          collectMaxK: Int = 10000): (DataFrame, Array[Double]) = {
    require(k > 0 && iters >= 0, s"need k > 0 and iters >= 0, got k=$k iters=$iters")
    val spark = df.sparkSession
    import spark.implicits._
    val e = df.select(col(idCol).as("vec_id"), col(vecCol).cast("array<float>").as("embedding"))
      .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val objective = new Array[Double](iters)

    /** (cid, cemb float, cnrm) view of a (cid, cd double) centroid set —
      * the one float quantization per iteration both paths share.
      */
    def centView(cd: DataFrame): DataFrame = cd
      .select(col("cid"), col("cd").cast("array<float>").as("cemb"))
      .select(col("cid"), col("cemb"), normD(col("cemb")).as("cnrm"))
      .filter(col("cnrm") > 0)

    /** Per-(cell, dimIdx) decimal-exact stats for one Lloyd step under
      * `centDf`: the member mean `m`, and on the dimIdx=0 rows the
      * per-cell decimal cosine sum + member count the objective reads.
      * The centroid join follows the same broadcast-vs-shuffle gate as
      * stage 2 (it is the same k-row table at the same k).
      */
    def statsOf(centDf: DataFrame): DataFrame = {
      val acemb = centDf.select(col("cid").as("cell"),
        col("cemb").as("acemb"), col("cnrm").as("acnrm"))
      val assigned = assignIndexed(e, centDf, groupSize, nprobe, dim, kHint = k)
      joinCentroids(assigned, acemb, "cell", k, BroadcastMaxCids)
        .select(col("cell"),
          (dotD(col("embedding"), col("acemb")) / (col("nrm") * col("acnrm"))).as("cos"),
          posexplode(col("embedding")).as(Seq("dimIdx", "x")))
        .groupBy("cell", "dimIdx")
        .agg((sum(col("x").cast("decimal(28,15)")) / count(lit(1)))
          .cast("double").as("m"),
          sum(when(col("dimIdx") === 0, col("cos")).cast("decimal(28,15)"))
            .cast("double").as("cossum"),
          sum(when(col("dimIdx") === 0, 1L).otherwise(0L)).as("cn"))
    }

    if (k <= collectMaxK) {
      // driver path: the centroid matrix lives on the driver (k×dim
      // doubles), per-iteration stats collect as k×dim rows
      var cents: Array[(Long, Seq[Double])] = df
        .orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .zipWithIndex
        .map { case (r, i) =>
          (i.toLong, r.getSeq[Any](0).map {
            case f: Float  => f.toDouble
            case d: Double => d
          })
        }
      require(cents.length == k, s"need at least $k input vectors, found ${cents.length}")
      for (it <- 0 until iters) {
        val centDf = centView(cents.toSeq.toDF("cid", "cd"))
        val stats = statsOf(centDf).collect()
        val next = cents.map { case (cid, v) => (cid, v.toArray) }
        val byCid = next.map { case (cid, arr) => cid -> arr }.toMap
        var cosSum = 0.0; var n = 0L
        stats.sortBy(r => (r.getLong(0), r.getInt(1))).foreach { r =>
          byCid.get(r.getLong(0)).foreach(_(r.getInt(1)) = r.getDouble(2))
          if (r.getInt(1) == 0 && !r.isNullAt(3)) { cosSum += r.getDouble(3); n += r.getLong(4) }
        }
        objective(it) = if (n > 0) cosSum / n else 0.0
        cents = next.map { case (cid, arr) => (cid, arr.toSeq) }
      }
      (centView(cents.toSeq.toDF("cid", "cd")), objective)
    } else {
      // distributed path (k > collectMaxK): centroids never visit the
      // driver as k×dim rows. Seed cids by row_number over the k
      // smallest ids (k rows — a single-task window, not a collect);
      // each iteration joins the new means LEFT onto the previous
      // centroids for empty-cell carryover and materializes through
      // graft.Checkpoint so lineage stays flat across iterations. The
      // objective folds the per-cell decimal cosine sums in
      // cid-ascending order (array_sort before the fold), the exact
      // order the driver path's sortBy walks — bit-identical.
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
      var cur: DataFrame = graft.Checkpoint(
        df.orderBy(col(idCol)).limit(k)
          .select((row_number().over(w).cast("long") - 1).as("cid"),
            col(vecCol).cast("array<double>").as("cd")))
      require(cur.count() == k, s"need at least $k input vectors")
      for (it <- 0 until iters) {
        val upd = graft.Checkpoint(statsOf(centView(cur))
          .groupBy("cell")
          .agg(array_sort(collect_list(struct(col("dimIdx"), col("m")))).as("dm"),
            max(when(col("dimIdx") === 0, col("cossum"))).as("cossum"),
            max(when(col("dimIdx") === 0, col("cn"))).as("cn"))
          .select(col("cell").as("cid"),
            expr("transform(dm, t -> t.m)").as("cdNew"),
            col("cossum"), col("cn")))
        val objRow = upd.agg(
          expr("aggregate(array_sort(collect_list(struct(cid, cossum))), 0D, " +
            "(a, x) -> a + x.cossum)").as("cs"),
          sum(col("cn")).as("n")).head()
        objective(it) =
          if (!objRow.isNullAt(1) && objRow.getLong(1) > 0)
            objRow.getDouble(0) / objRow.getLong(1)
          else 0.0
        cur = graft.Checkpoint(
          cur.join(upd.select(col("cid"), col("cdNew")), Seq("cid"), "left")
            .select(col("cid"), coalesce(col("cdNew"), col("cd")).as("cd")))
      }
      (centView(cur), objective)
    }
  }
}
