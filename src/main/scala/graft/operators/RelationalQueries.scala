package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnBridge
import graft.Tables._

/** Core relational operator inventory: scans, filters, aggregations,
  * joins (broadcast/shuffle/semi/anti/theta/nested-loop/as-of), window
  * functions, top-k, global sort, set operations.
  *
  * Everything is a declarative DataFrame chain — Catalyst owns predicate
  * pushdown, column pruning, and join strategy selection. Per-query
  * 100 TB notes are on each definition.
  */
object RelationalQueries {

  /** Distributed 2-D skyline over (o_orderkey, o_totalprice, d_us) —
    * the core of q_skyline, exposed so SkylineSpec can brute-force
    * check it on random point sets with ties. Stage 1 sweeps each
    * input partition independently (skyline(S) = skyline(∪ partition
    * skylines), so partitioning cannot change the final set); stage 2
    * re-sweeps the bounded survivor union WITHOUT a window: survivors
    * pack into ONE sorted array row and an aggregate() HOF replays the
    * running-max sweep — the q_curriculum pattern. A global window
    * here would be an unpartitioned WindowExec (a literal partition
    * spec doesn't survive optimization — Catalyst strips foldable
    * partition expressions), which the suite-wide PlanAuditSpec audit
    * bans. Sort keys negate price/date so array_sort's ascending
    * struct order equals (price DESC, d_us DESC, o_orderkey ASC);
    * double negation is an exact sign flip, recovered on output.
    *
    * Documented bound: the stage-2 array holds the per-partition
    * skyline UNION, which is small on uncorrelated 2-D data but
    * Θ(n) on anti-correlated data (price falling as date rises —
    * then the frontier IS the whole input and no algorithm shrinks
    * it). The single array cell caps at the 2 GB value limit well
    * before the output itself becomes unmanageable; if a deployment's
    * data approaches that regime, the honest fix is frontier-aware:
    * range-partition stage 2 on price and sweep per range carrying
    * each range's max date forward — the output is Θ(n) there anyway,
    * so "skyline as a small summary" is already the wrong tool.
    */
  private[graft] def skylineOf(base: DataFrame): DataFrame = {
    def sweep(df: DataFrame, part: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(part: _*)
        .orderBy(col("o_totalprice").desc, col("d_us").desc, col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("pm", max(col("d_us")).over(w))
        .filter(col("pm").isNull || col("d_us") > col("pm"))
        .drop("pm")
    }
    sweep(base, Seq(spark_partition_id()))
      .agg(array_sort(collect_list(struct(
        (-col("o_totalprice")).as("np"), (-col("d_us")).as("nd"),
        col("o_orderkey").as("k")))).as("arr"))
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('mx', CAST(-9223372036854775808 AS BIGINT),
          |    'keep', CAST(array() AS ARRAY<STRUCT<np: DOUBLE, nd: BIGINT, k: BIGINT>>)),
          |  (a, x) -> named_struct(
          |    'mx', greatest(a.mx, -x.nd),
          |    'keep', IF(-x.nd > a.mx, array_append(a.keep, x), a.keep)),
          |  a -> a.keep)""".stripMargin)).as("s"))
      .select(col("s.k").as("o_orderkey"), (-col("s.np")).as("o_totalprice"),
        (-col("s.nd")).as("d_us"))
      .orderBy("o_orderkey")
  }

  /** Vertex/edge/wedge/triangle counts over a canonical (a < b) edge
    * list — the distributed core of q_graph_triangles, exposed so
    * GraphSpec can check the degree-oriented closure against brute
    * force on random graphs. The wedge count is algebraic
    * (Σ_v in(v)·out(v) over the canonical orientation ≡ the e1.b=e2.a
    * join count); triangles close over DEGREE-ORIENTED edges (each
    * edge points from its (degree, id)-lower endpoint, so every
    * triangle has exactly one vertex with two out-edges), bounding
    * wedge generation at O(E^1.5). The caller checkpoints `edges`;
    * `degs` is checkpointed here because three branches re-reference
    * it.
    */
  private[graft] def graphCounts(edges: DataFrame): DataFrame = {
    val degs = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
      .transform(graft.Checkpoint.apply)
    val verts = degs.agg(count(lit(1)).as("n_vertices"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val nWedges = edges.groupBy(col("b").as("v")).agg(count(lit(1)).as("ind"))
      .join(edges.groupBy(col("a").as("v")).agg(count(lit(1)).as("outd")), "v")
      .agg(coalesce(sum(col("ind") * col("outd")), lit(0L)).as("n_wedges"))
    // orient each edge from its (degree, id)-smaller endpoint; carry
    // the head's degree so wedge pairs order without another join
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = edges
      .join(degs.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(degs.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("w"),
        when(lowFirst, col("db")).otherwise(col("da")).as("dw"))
      .transform(graft.Checkpoint.apply)
    val nTri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dw") < col("e2.dw") ||
            (col("e1.dw") === col("e2.dw") && col("e1.w") < col("e2.w"))))
      .select(col("e1.w").as("x"), col("e2.w").as("y"))
      .join(oriented.as("e3"),
        col("x") === col("e3.u") && col("y") === col("e3.w"))
      .agg(count(lit(1)).as("n_triangles"))
    verts.crossJoin(nEdges).crossJoin(nWedges).crossJoin(nTri)
  }

  /** Per-order part baskets — distinct parts per order as ONE sorted
    * array row. The single order-keyed shuffle folds the (o, p) dedup
    * and the grouping into one collect_set aggregation (partial-merge
    * capable, so map-side combine applies); every downstream pair
    * enumeration then happens ROW-LOCALLY inside the basket array.
    */
  private[graft] def coBaskets(s: SparkSession, d: String): DataFrame = {
    // round 21: sort_array(collect_set(...)) specialized to the
    // unboxed-long LongSetAgg — same sorted-distinct arrays, same
    // ObjectHashAggregate pathway (ExtensionsSpec pins equality incl.
    // nulls/dups/all-null groups); the win is the per-row boxed-set
    // insert (measured 0.82 → 0.60 s on this subtree at sf0.1). Built
    // as an expression, not by name: PlanAuditSpec and GraphSpec reach
    // this helper on sessions that never went through SparkEntry.queries.
    lineitem(s, d)
      .groupBy(col("l_orderkey").as("o"))
      .agg(ColumnBridge.column(graft.gen.LongSetAgg(
        ColumnBridge.expression(col("l_partkey"))).toAggregateExpression()).as("ps"))
  }

  /** Row-local pair expansions over a sorted-array column — the lambda
    * cores of the basket derivations, exposed so GraphSpec can
    * property-test the slice/transform boundary logic (empty arrays,
    * singletons, large baskets) against brute force. `unordered` emits
    * each i<j pair once in array order; `directed` emits every ordered
    * pair with x != y.
    */
  private[graft] def unorderedPairsExpr(arr: String): String =
    s"""flatten(transform($arr, (x, i) ->
       |  transform(slice($arr, i + 2, size($arr)),
       |    y -> named_struct('a', x, 'b', y))))""".stripMargin
  private[graft] def directedPairsExpr(arr: String): String =
    s"""flatten(transform($arr, x ->
       |  transform(filter($arr, y -> y != x),
       |    y -> named_struct('a', x, 'b', y))))""".stripMargin

  /** Canonical co-purchase edge list (a < b, support >= 2) shared by the
    * five graph queries. Shape: baskets (one order-keyed shuffle, see
    * coBaskets) -> row-local C(basket, 2) pair explode over the sorted
    * array (bounded by basket size — TPC-H caps lineitems/order at 7 —
    * never a join) -> one (a, b)-keyed support count. The previous
    * derivation (distinct (o, p) + self-join on the order key + pair
    * aggregate) paid three shuffles plus a join build; this is two
    * shuffles, and the removed one is the lineitem-sized one — the
    * shuffle that dominates at 100 TB. A pathological mega-basket costs
    * C(n, 2) rows in both shapes; here the fanout leaves one aggregated
    * row instead of flowing through a join, so the shuffle never
    * carries it twice. Callers checkpoint the result (the pagerank
    * rule); sort_array canonicalizes a < b at build time.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    // round 21: the C(basket,2) expansion streams through the
    // PairsGenExpr Generator instead of the interpreted
    // flatten/transform/slice lambda chain — same pairs in the same
    // order (GraphSpec pins generator ≡ lambda ≡ brute force), no
    // per-basket nested array-of-structs materialization. Plan shape
    // is untouched (Generate replaces Generate; still one scan, two
    // keyed shuffles, no join — the PlanAuditSpec pin). Built as an
    // expression for the reason given at coBaskets.
    coBaskets(s, d)
      .select(ColumnBridge.column(
        graft.gen.PairsGenExpr(ColumnBridge.expression(col("ps")), directed = false)).as(Seq("a", "b")))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select("a", "b")
  }

  /** The post-edge bodies of the five graph queries, factored over the
    * edge table (round 15): the gated entries compose them with a
    * per-query `coPurchaseEdges` derivation exactly as before
    * (plan-identical — the refactor moves code, not semantics), and
    * GraphSpec drives them on hand-counted edge lists.
    * `graphCounts` (triangles) was already in this form.
    */
  private[graft] def pagerankOf(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .transform(graft.Checkpoint.apply)
    // deg is checkpointed too: it is re-referenced in every round and
    // the final projection, and relying on ReuseExchange to dedupe
    // the repeated aggregation is fragile (round-6 ADVICE)
    val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
      .transform(graft.Checkpoint.apply)
    val nv = deg.agg(count(lit(1)).as("n"))
    var rank = deg.crossJoin(broadcast(nv))
      .select(col("u"), col("dg"), col("n"), expr("1000000000000 div n").as("r"))
    for (_ <- 1 to 5) {
      val sums = und.as("ed")
        .join(rank.as("rk"), col("ed.u") === col("rk.u"))
        .select(col("ed.v").as("vv"), expr("r div dg").as("c"))
        .groupBy("vv").agg(sum(col("c")).as("sc"))
      rank = deg.crossJoin(broadcast(nv))
        .join(sums, col("u") === col("vv"))
        .select(col("u"), col("dg"), col("n"),
          expr("150000000000 div n + (85 * sc) div 100").as("r"))
    }
    rank.select(col("u").as("part"), col("dg").as("degree"),
        col("r").as("r_scaled"),
        (col("r").cast("double") / lit(1000000000000.0)).as("pr"))
      .orderBy(col("r_scaled").desc, col("part"))
      .limit(20)
  }

  private[graft] def jaccardOf(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .transform(graft.Checkpoint.apply)
    val deg = und.groupBy("u").agg(count(lit(1)).as("dg")).transform(graft.Checkpoint.apply)
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = edges
      .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        when(lowFirst, col("a")).otherwise(col("b")).as("m"),
        when(lowFirst, col("b")).otherwise(col("a")).as("w"))
    val common = oriented
      .join(und.as("na"), col("m") === col("na.u"))
      .join(und.as("nb"), col("w") === col("nb.u") && col("na.v") === col("nb.v"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("da"), col("db"), col("common"),
        (col("common").cast("double") / (col("da") + col("db") - col("common")))
          .as("jacc"))
      .orderBy("a", "b")
  }

  private[graft] def degdistOf(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u")).union(edges.select(col("b").as("u")))
    und.groupBy("u").agg(count(lit(1)).as("dg"))
      .withColumn("bucket", length(bin(col("dg"))).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vertices"), min("dg").as("min_deg"),
        max("dg").as("max_deg"), sum("dg").as("sum_deg"))
      .orderBy("bucket")
  }

  private[graft] def kcoreOf(edges: DataFrame): DataFrame = {
    var e = edges
    val rounds = (1 to 3).map { r =>
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= 2).select("v")
      e = e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
        .transform(graft.Checkpoint.apply)
      keep.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(lit(r).cast("long").as("round"), col("n_vertices"), col("n_edges"))
    }
    rounds.reduce(_.union(_)).orderBy("round")
  }

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // Parquet scan with projection: reads only 5 of 11 columns
    // (ReadSchema pruning); ordering keys are the natural sort of the
    // table so at scale this is a sorted-files pass-through.
    "q_scan_parquet" -> ((s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),

    // Filter + project: all three predicates are parquet-pushable
    // (timestamp range, double range, double compare).
    "q_filter_project" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp")
          && col("l_discount").between(0.02, 0.06)
          && col("l_quantity") < 30)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),

    // TPC-H Q1 shape: partial+final HashAggregate, no join. Decimal
    // sums are exact ⇒ shuffle-order-independent (Tables.scala rules).
    "q_agg_pricing" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        // round 21: exact sums through the 128-bit kernel over
        // hoisted unscaled longs (see q_agg_stats). The (1 − disc)
        // factor's unscaled value at scale 2 is exactly
        // 100 − unscaled(disc) — integer arithmetic, so the product's
        // unscaled value and the (38,4) result type are unchanged.
        .select(col("l_returnflag"), col("l_linestatus"),
          decU(col("l_quantity"), 2).as("qu"),
          decU(col("l_extendedprice"), 2).as("pu"),
          (lit(100L) - decU(col("l_discount"), 2)).as("du"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum128(col("qu"), 28, 2).cast(Dec382).as("sum_qty"),
          sum128(col("pu"), 28, 2).cast(Dec382).as("sum_base_price"),
          sum128p(col("pu"), col("du"), 38, 4).as("sum_disc_price"),
          (sum128(col("qu"), 28, 2).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Exact distinct aggregation (expand + two-phase agg in Spark).
    "q_agg_distinct" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // ROLLUP grouping sets; null markers ordered NULLS FIRST both sides.
    "q_agg_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(Dec2)).cast(Dec382).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // CUBE over orders.
    "q_agg_cube" -> ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast(Dec2)).cast(Dec382).as("total"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // collect_set → ObjectHashAggregate; sort_array for determinism.
    // Emitted as a joined string: the driver's pandas comparator can't
    // hash array cells (numpy.ndarray is unhashable), so array outputs
    // are stringified at the query boundary on both engines.
    "q_agg_collect" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), "|").as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // Small-dim broadcast join: at any scale region (5 rows) broadcasts;
    // no shuffle on the fact side.
    "q_join_broadcast" -> ((s, d) =>
      nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")),

    // 3-way key join + aggregate. At 100 TB: orders⋈customer shuffles on
    // custkey; nation broadcasts. SMJ hint documents the shuffle path.
    "q_join_shuffle" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d).hint("shuffle_merge"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(Dec2)).cast(Dec382).as("total"))
        .orderBy("n_name")),

    // Left-semi: EXISTS without materializing the right side columns.
    "q_join_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")),

    // Left-anti: NOT EXISTS. The right side is sliced to high-value
    // orders so the result is NON-EMPTY (round-18 de-vacuation: every
    // testdata customer has orders, so the unfiltered form returned 0
    // rows at every scale and its hash gate checked only emptiness —
    // a wrong-answer regression was invisible; with the slice, 3/30/308
    // childless customers at sf0.001/0.01/0.1 make the gate
    // discriminating). The filter pushes to the orders scan, so the
    // anti join still builds on the reduced side — same scale posture.
    "q_join_anti" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")),

    // Equi join + theta residual: hash join on the key, residual filter
    // evaluated post-probe (no pair explosion).
    "q_join_theta" -> ((s, d) =>
      orders(s, d)
        .join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey")
            && col("l_extendedprice") > col("o_totalprice") * 0.3)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Full outer join with genuinely unmatched rows on both sides
    // (filters make each side sparse); null-extended columns ordered
    // NULLS FIRST to match both engines.
    "q_join_outer" -> ((s, d) => {
      val o = orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val c = customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"))
      o.join(c, col("o_custkey") === col("c_custkey"), "full_outer")
        .select(coalesce(col("o_custkey"), col("c_custkey")).as("k"),
          col("o_orderkey"), col("o_totalprice"), col("c_name"))
        .orderBy(asc_nulls_first("k"), asc_nulls_first("o_orderkey"))
    }),

    // Pure theta (no equi key) → BroadcastNestedLoopJoin; only sane when
    // one side is tiny — nation×nation here by design.
    "q_join_nestedloop" -> ((s, d) => {
      val a = nation(s, d).select(col("n_name").as("a_name"), col("n_regionkey").as("a_rk"))
      val b = nation(s, d).select(col("n_regionkey").as("b_rk"))
      a.join(b, col("a_rk") < col("b_rk"))
        .groupBy(col("a_name"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("a_name")
    }),

    // Time-range (interval) join, scalable bucketized form: views that
    // precede each purchase by ≤ 1 hour, for the same user. Naive form
    // is a per-user theta join; bucketizing both sides to the hour and
    // joining on (user, bucket) — purchases exploded into the 2 buckets
    // their window can touch — bounds pair enumeration to co-located
    // buckets (the interval-join pattern that survives 100 TB; DuckDB's
    // oracle uses its native IEJoin range join instead).
    "q_join_range" -> ((s, d) => {
      val e = events(s, d)
      val hourUs = 3600000000L
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("vts"))
        .withColumn("bkt", expr(s"vts div $hourUs"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"), unix_micros(col("ts")).as("pts"))
        .withColumn("bkt", explode(array(expr(s"pts div $hourUs"), expr(s"pts div $hourUs") - 1)))
      purchases.join(views,
          col("p_user") === col("user_id") && purchases("bkt") === views("bkt")
            && col("vts") >= col("pts") - hourUs && col("vts") <= col("pts"),
          "left_outer")
        .groupBy(col("event_id"), col("p_user"), col("pts"))
        .agg(count(col("vts")).as("n_views"))
        .select(col("event_id"), col("p_user").as("user_id"), col("pts"), col("n_views"))
        .orderBy("event_id")
    }),

    // As-of join, Spark-native scale form: instead of a per-row range
    // join (quadratic blowup), union the two event streams and take a
    // running max of the view-timestamp per user — one shuffle on
    // user_id, linear work, same semantics as ASOF >= (views sort
    // before purchases on ties via the kind column).
    "q_join_asof" -> ((s, d) => {
      val e = events(s, d)
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), lit(null).cast("bigint").as("event_id"), lit(0).as("kind"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.union(purchases)
        .withColumn("last_view_us",
          max(when(col("kind") === 0, unix_micros(col("ts")))).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"), col("last_view_us"))
        .orderBy("event_id")
    }),

    // Ranking windows: row_number with a total tie-break + rank on the
    // raw metric. One shuffle on the partition key.
    "q_window_rank" -> ((s, d) => {
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(byPrice))
        .withColumn("rnk", rank().over(
          Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"), col("rnk"))
        .orderBy("o_custkey", "rn")
    }),

    // Distribution windows: ntile buckets + percent_rank/cume_dist —
    // all exact integer-ratio values, so the doubles are bit-identical
    // across engines without rounding.
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Running total: decimal sum over a fully-specified frame order ⇒
    // exact and order-independent.
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
          sum(col("o_totalprice").cast(Dec2)).over(w).cast(Dec382).as("running"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Custom whole-operator path, driven end-to-end through the
    // OPTIMIZER: the query is the idiomatic row_number() formulation,
    // and TopKRewriteRule plans it as the native TopKPerGroup operator
    // (graft.plans) — per-partition bounded heaps, shuffle of
    // ≤ k·groups pre-filtered rows, heap merge; no full window sort.
    // PlanAuditSpec asserts the rewrite actually fired here; the
    // direct DataFrame API is exercised by q_text_topwords. Same
    // semantics (and oracle) as q_window_rank, which deliberately
    // stays on Spark's window exec for coverage.
    "q_topk_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // Value-range frame (30 days of micros) + first/last/nth_value over
    // an explicit full frame. The range-sum is a set aggregate over the
    // peer range — order-independent — and decimal-exact; the
    // positional values take a unique tie-broken order.
    "q_window_frames" -> ((s, d) => {
      val dayUs = 86400000000L
      val wRange = Window.partitionBy("o_custkey").orderBy("order_us")
        .rangeBetween(-30 * dayUs, 0)
      val wFull = Window.partitionBy("o_custkey")
        .orderBy(col("order_us"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .withColumn("order_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .select(col("o_custkey"), col("o_orderkey"), col("order_us"),
          sum(col("o_totalprice").cast(Dec2)).over(wRange).cast(Dec382).as("sum_30d"),
          first(col("o_totalprice")).over(wFull).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(wFull).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Deterministic hash sampling: a 10% sample whose membership is a
    // pure function of the row key (md5-based, engine-portable) — the
    // scalable alternative to rand()-sampling when results must be
    // reproducible across runs/engines; the sample is then aggregated.
    "q_sample_hash" -> ((s, d) =>
      lineitem(s, d)
        .withColumn("hkey", {
          // 60-bit md5 key straight from digest bytes — same value as
          // conv(substr(md5(x),1,15),16,10) and the oracle's
          // ('0x'||substr(md5(x),1,15))::BIGINT, minus the per-row hex
          // string + radix parse
          ColumnBridge.column(graft.gen.Md5Hash60Expr(ColumnBridge.expression(
            concat_ws("|", col("l_orderkey"), col("l_linenumber")))))
        })
        .filter(pmod(col("hkey"), lit(100)) < 10)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(Dec2)).cast(Dec382).as("sum_qty"))
        .orderBy("l_returnflag")),

    // lag/lead over the event stream per user.
    "q_window_lead_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("event_id"), col("user_id"),
          lag(col("value"), 1).over(w).as("prev_val"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
        .orderBy("event_id")
    }),

    // True top-k: TakeOrderedAndProject (per-partition heap + driver
    // merge), not a global sort.
    "q_topk" -> ((s, d) =>
      orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // Global sort: range-partitioned exchange + per-partition sort.
    "q_sort" -> ((s, d) =>
      customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))),

    // Skew-safe two-stage (salted) aggregation: stage 1 aggregates on
    // (key, salt) spreading each hot key over 16 reducers, stage 2
    // merges the partials. On this data the plain groupBy is fine —
    // the query exists to keep the salting pattern under the
    // correctness gate (result must equal the unsalted oracle), since
    // at 100 TB a handful of hot keys otherwise pins single reducers.
    "q_agg_salted" -> ((s, d) => {
      val salted = events(s, d)
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast(Dec2)).as("pt"))
      salted.groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          sum(col("pt")).cast(Dec382).as("total"))
        .orderBy("event_type")
    }),

    // Exact median (lower median for even counts) via window
    // positioning — approx_percentile/quantile sketches differ between
    // engines, but "the value at row ⌈n/2⌉ of the sorted partition" is
    // exact and identical. Requires one sort per group — at corpus
    // scale prefer the sketch unless exactness is contractual.
    "q_agg_median" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
        .filter(col("rn") === expr("(cnt + 1) div 2")) // div, not `/`: Column `/` is double division
        .select(col("o_orderstatus"), col("o_totalprice").as("median_price"), col("cnt").as("n"))
        .orderBy("o_orderstatus")
    }),

    // Quantile sketch: percentile_approx (GK-style, mergeable — the
    // 100 TB path where exact medians need a full sort per group). The
    // estimate itself is engine-specific, so (q_agg_approx pattern) the
    // gated output is the rank-error bound of the sketch: the true rank
    // of each estimate must sit within ±1% of its target percentile
    // (sketch guarantee is 1/accuracy = 0.01%).
    "q_agg_quantiles" -> ((s, d) => {
      val t = orders(s, d).select(col("o_totalprice").as("v"))
      val appr = t.agg(percentile_approx(col("v"), typedLit(Seq(0.5, 0.9)), lit(10000)).as("qs"))
        .select(element_at(col("qs"), 1).as("q50"), element_at(col("qs"), 2).as("q90"))
      t.crossJoin(broadcast(appr))
        .agg(
          (sum(when(col("v") <= col("q50"), 1L).otherwise(0L)).cast("double") / count(lit(1)))
            .between(0.49, 0.51).as("q50_ok"),
          (sum(when(col("v") <= col("q90"), 1L).otherwise(0L)).cast("double") / count(lit(1)))
            .between(0.89, 0.91).as("q90_ok"))
    }),

    // Mergeable distinct sketches (DataSketches HLL): per-(flag,status)
    // sketches union-merged up to flag WITHOUT re-reading rows — the
    // two-level rollup pattern that replaces countDistinct at 100 TB
    // (sketches are tiny, associative, and re-aggregable across any
    // grouping hierarchy; exact distinct needs a full shuffle of the
    // keys each time). Estimate is engine-specific, so (q_agg_approx
    // pattern) the gated output is the accuracy bound, plus the exact
    // counts which BOTH engines compute.
    "q_agg_hll_merge" -> ((s, d) => {
      val fine = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      val merged = fine.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      exact.join(merged, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") / col("n_exact") < 0.05)
            .as("within_5pct"))
        .orderBy("l_returnflag")
    }),

    // Conditional-expression kitchen: CASE, coalesce, nullif, ifnull.
    "q_scalar_conditional" -> ((s, d) =>
      customer(s, d)
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 5000, "standard")
            .otherwise("premium").as("tier"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("DEFAULT")).as("seg_coalesced"),
          (col("c_acctbal") > 0 && col("c_nationkey") < 10).as("flag"))
        .orderBy("c_custkey")),

    // UNION ALL (bag semantics — the shuffle-free concat, unlike
    // distinct-deduping UNION).
    "q_union_all" -> ((s, d) =>
      orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
        .union(orders(s, d).filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")),

    // Set ops (all distinct-semantics, matching SQL UNION/INTERSECT/EXCEPT).
    "q_union" -> ((s, d) =>
      orders(s, d).select(col("o_custkey").as("k"))
        .union(customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k")))
        .distinct()
        .orderBy("k")),

    "q_intersect" -> ((s, d) =>
      customer(s, d).filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
        .intersect(orders(s, d).select(col("o_custkey").as("k")))
        .orderBy("k")),

    // EXCEPT's right side takes the same high-value slice as
    // q_join_anti (round-18 de-vacuation — see that entry): the
    // unfiltered form was vacuously empty at every scale.
    "q_except" -> ((s, d) =>
      customer(s, d).select(col("c_custkey").as("k"))
        .except(orders(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("k")))
        .orderBy("k")),

    // Null-safe equality join (<=>): null keys MATCH each other instead
    // of dropping — the semantics for joining on a nullable natural key
    // (here regionkey 0 is nullified on both sides to manufacture the
    // case). Same hash-join physical shape as ===; null keys hash like
    // any other value, so they also shuffle like any other (a heavily
    // null key column is a skew key at scale — salt it like any hot key).
    "q_join_nullsafe" -> ((s, d) => {
      val a = nation(s, d).select(col("n_nationkey"), col("n_name"),
        nullif(col("n_regionkey"), lit(0)).as("rk"))
      val b = region(s, d).select(nullif(col("r_regionkey"), lit(0)).as("rk2"),
        col("r_name"))
      a.join(broadcast(b), col("rk") <=> col("rk2"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")
    }),

    // Boolean aggregates (bool_and/bool_or = SQL EVERY/ANY): constant-
    // size state, fully map-side-combinable — the cheap data-quality
    // assertion shape (e.g. "every row in this partition passed
    // validation").
    "q_agg_bool" -> ((s, d) =>
      orders(s, d).groupBy("o_orderstatus")
        .agg(bool_and(col("o_totalprice") > 1000).as("all_gt_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_gt_400k"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Explicit Cartesian product — the grid-construction shape (every
    // region × every nation). Only sane when both sides are tiny
    // dimensions; Spark requires the explicit crossJoin call precisely
    // so an accidental unbounded product can't slip through as a join
    // with a dropped condition.
    "q_join_cross" -> ((s, d) =>
      region(s, d).select(col("r_name"))
        .crossJoin(nation(s, d).select(col("n_name")))
        .orderBy("r_name", "n_name")),

    // argmax/argmin surface: max_by/min_by pick the value column at the
    // row where the ordering column is extreme — one-pass, map-side
    // partial (vs the window row_number formulation, which shuffles all
    // rows). Ordering key c_custkey is unique, so the pick is
    // deterministic in both engines (ties on a non-unique key would be
    // engine-defined — never gate on that).
    "q_agg_argmax" -> ((s, d) =>
      customer(s, d).groupBy("c_nationkey")
        .agg(
          max_by(col("c_name"), col("c_custkey")).as("last_name"),
          min_by(col("c_name"), col("c_custkey")).as("first_name"),
          max(col("c_custkey")).as("max_key"))
        .orderBy("c_nationkey")),

    // Statistical aggregates (mean/stddev/correlation) computed the
    // cross-engine-deterministic way: accumulate the co-moments as
    // EXACT decimal sums (order-independent integer arithmetic), then
    // derive the statistics with one identical double expression on
    // both sides — IEEE +,-,*,/,sqrt are exactly rounded, so identical
    // operands give identical bits. Built-in corr()/stddev() stream
    // double partials whose merge order differs across engines; this
    // two-phase form is also the 100 TB shape (one map-side-combined
    // aggregation, constant-size state per group).
    "q_agg_stats" -> ((s, d) => {
      def d2(c: String) = col(c).cast("double")
      val nd = col("n0").cast("double")
      // round 21: the exact sums ride the 128-bit integer kernel
      // (graft.gen.Sum128Agg — value- and type-identical to sum(),
      // ExtensionsSpec-pinned) instead of per-row BigDecimal adds; the
      // double→decimal(18,2) cast is hoisted into ONE unscaled-long
      // projection per row (decU) so split aggregate-update functions
      // don't re-run it per moment (Sum128Agg scaladoc).
      val xu = col("xu"); val yu = col("yu")
      lineitem(s, d)
        .select(col("l_returnflag"),
          decU(col("l_quantity"), 2).as("xu"),
          decU(col("l_extendedprice"), 2).as("yu"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n0"),
          sum128(xu, 28, 2).as("sx0"), sum128(yu, 28, 2).as("sy0"),
          sum128p(xu, yu, 38, 4).as("sxy0"),
          sum128p(xu, xu, 38, 4).as("sxx0"),
          sum128p(yu, yu, 38, 4).as("syy0"))
        .select(col("l_returnflag"), col("n0").as("n"),
          (d2("sx0") / col("n0")).as("mean_qty"),
          (d2("sy0") / col("n0")).as("mean_price"),
          sqrt((nd * d2("syy0") - d2("sy0") * d2("sy0")) / (nd * (nd - lit(1.0))))
            .as("std_price"),
          ((nd * d2("sxy0") - d2("sx0") * d2("sy0")) /
            (sqrt(nd * d2("sxx0") - d2("sx0") * d2("sx0")) *
              sqrt(nd * d2("syy0") - d2("sy0") * d2("sy0")))).as("corr_qp"))
        .orderBy("l_returnflag")
    }),

    // Full pairwise Pearson correlation matrix over the four lineitem
    // measures, melted to long (var_x, var_y, corr) — the feature-
    // selection / redundancy-screening pass of a training pipeline.
    // ALL C(4,2) co-moments come out of ONE map-side-combined scan
    // (14 exact DECIMAL sums of ≤2-dp values, so partial-merge order
    // is irrelevant), and each corr is a single token-order-matched
    // double expression over those exact moments — the same
    // determinism contract as q_agg_stats, extended to a matrix. The
    // melt is an explode of a constant 6-element struct array on a
    // 1-row aggregate: zero extra passes over data. At 100 TB this is
    // the canonical shape — K² constant state per task regardless of
    // row count, one shuffle of one row; built-in corr() would stream
    // order-sensitive double partials instead.
    "q_stats_corr" -> ((s, d) => {
      val vars = Seq("disc" -> col("l_discount"), "price" -> col("l_extendedprice"),
        "qty" -> col("l_quantity"), "tax" -> col("l_tax"))
      val pairs = for { i <- vars.indices; j <- i + 1 until vars.size }
        yield (vars(i)._1, vars(j)._1)
      // round 21: all 14 exact sums ride the 128-bit integer kernel
      // (graft.gen.Sum128Agg — value- and type-identical to sum(),
      // ExtensionsSpec-pinned), with the 4 double→decimal casts
      // hoisted into ONE unscaled-long projection per row (decU);
      // measured 1.26 s → scan-bound for the moment pass at sf0.1.
      def u(nm: String) = col(s"u_$nm")
      val moments = Seq(count(lit(1)).as("n")) ++
        vars.map { case (nm, _) => sum128(u(nm), 28, 2).as(s"s_$nm") } ++
        vars.map { case (nm, _) => sum128p(u(nm), u(nm), 38, 4).as(s"ss_$nm") } ++
        pairs.map { case (nx, ny) =>
          sum128p(u(nx), u(ny), 38, 4).as(s"sp_${nx}_$ny")
        }
      val nd = col("n").cast("double")
      def d2(c: String) = col(c).cast("double")
      def corrOf(nx: String, ny: String) =
        (nd * d2(s"sp_${nx}_$ny") - d2(s"s_$nx") * d2(s"s_$ny")) /
          (sqrt(nd * d2(s"ss_$nx") - d2(s"s_$nx") * d2(s"s_$nx")) *
            sqrt(nd * d2(s"ss_$ny") - d2(s"s_$ny") * d2(s"s_$ny")))
      val rows = pairs.map { case (nx, ny) =>
        struct(lit(nx).as("var_x"), lit(ny).as("var_y"),
          col("n").as("n"), corrOf(nx, ny).as("corr"))
      }
      lineitem(s, d)
        .select(vars.map { case (nm, c) => decU(c, 2).as(s"u_$nm") }: _*)
        .agg(moments.head, moments.tail: _*)
        .select(explode(array(rows: _*)).as("r"))
        .select(col("r.var_x"), col("r.var_y"), col("r.n"), col("r.corr"))
        .orderBy("var_x", "var_y")
    }),

    // Standardized PCA: top principal component of the 4-measure
    // correlation matrix by fixed-count power iteration — the
    // dimensionality-screening step after q_stats_corr's redundancy
    // screen. The DATA pass is exactly q_stats_corr's: ONE map-side-
    // combined scan producing 14 exact decimal co-moments (constant
    // state per task, one 1-row shuffle). Everything after — the
    // correlation entries, PcaIter.Iters matrix-vector iterations, the
    // Rayleigh-quotient eigenvalue — is a chain of projections over
    // that single row: zero additional passes, so at 100 TB the cost
    // is the one scan, same as any aggregate. Cross-engine exactness:
    // both engines run THE SAME expression strings (pcaStages
    // generates the Spark selectExpr chain and the DuckDB CTE chain
    // from one builder), all ops are exactly-rounded IEEE doubles over
    // exact-moment inputs ⇒ bit-identical loadings with no rounding.
    // Power iteration from a fixed v0 (no RNG) is deterministic; sign
    // and convergence state are identical by construction, and evr
    // (eigval / trace, trace = 4 for a correlation matrix) reports how
    // much variance the component explains.
    "q_stats_pca" -> ((s, d) => {
      val pairs = for { i <- PcaIter.Vars.indices; j <- i + 1 until PcaIter.Vars.size }
        yield (PcaIter.Vars(i)._1, PcaIter.Vars(j)._1)
      // round 21: same 128-bit kernel + hoisted-cast swap as
      // q_stats_corr (the data pass is shared verbatim).
      def u(nm: String) = col(s"u_$nm")
      val moments = Seq(count(lit(1)).as("n")) ++
        PcaIter.Vars.map { case (nm, _) => sum128(u(nm), 28, 2).as(s"s_$nm") } ++
        PcaIter.Vars.map { case (nm, _) => sum128p(u(nm), u(nm), 38, 4).as(s"ss_$nm") } ++
        pairs.map { case (nx, ny) =>
          sum128p(u(nx), u(ny), 38, 4).as(s"sp_${nx}_$ny")
        }
      val m = lineitem(s, d)
        .select(PcaIter.Vars.map { case (nm, c0) => decU(col(c0), 2).as(s"u_$nm") }: _*)
        .agg(moments.head, moments.tail: _*)
      val chain = (PcaIter.corrEntries(c => s"CAST($c AS DOUBLE)") +: PcaIter.stages)
        .foldLeft(m)((df, sel) => df.selectExpr(sel: _*))
      val outRows = PcaIter.Vars.map(_._1).zipWithIndex.map { case (nm, i) =>
        struct(lit(nm).as("variable"), col(s"v${i + 1}").as("loading"))
      }
      chain
        .select(explode(array(outRows: _*)).as("r"), col("lam"))
        .select(col("r.variable"), col("r.loading"), col("lam").as("eigval"),
          (col("lam") / lit(4.0)).as("evr"))
        .orderBy("variable")
    }),

    // Wide→long unpivot (Dataset.unpivot / SQL UNPIVOT): the melt step
    // that turns a metrics-per-column aggregate into (key, metric,
    // value) rows. Runs AFTER aggregation, so the expand is over
    // |groups|·|metrics| rows — at 100 TB the wide agg does the data
    // reduction and the unpivot is a constant-size reshape (never
    // unpivot the fact table itself: that k×'s the scan output).
    // Value columns are decimal-exact sums cast to double at the
    // boundary (one shared type is an unpivot requirement).
    "q_unpivot" -> ((s, d) => {
      val wide = lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(Dec2)).cast("double").as("qty"),
          sum(col("l_extendedprice").cast(Dec2)).cast("double").as("price"),
          count(lit(1)).cast("double").as("cnt"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("cnt")),
        "metric", "value")
        .orderBy("l_returnflag", "metric")
    }),

    // Deterministic pagination: global sort on a unique key + OFFSET +
    // LIMIT. Spark plans offset+limit together (GlobalLimit with skip),
    // so only offset+limit rows ever reach the driver-side collect —
    // but the skip still SCANS the first `offset` rows after the sort,
    // so at scale deep pagination should be keyset-based (WHERE key >
    // last_seen ORDER BY key LIMIT n) rather than ever-growing offsets.
    "q_limit_offset" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
        .offset(100)
        .limit(20)),

    // Deterministic mode: mode(col, true) resolves frequency ties to
    // the LOWEST value — the only cross-engine-checkable form (default
    // mode() returns an arbitrary tie member). Constant-size state per
    // group key (an open-addressing map of distinct values), map-side
    // combined like any hash aggregate.
    "q_agg_mode" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(expr("mode(o_orderpriority, true)").as("mode_prio"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Heavy hitters via approx_top_k. Gate-safety: maxItemsTracked
    // (100) exceeds the column's distinct count (5 priorities), so the
    // sketch degenerates to EXACT counts and the result is fully
    // deterministic after the explicit (freq DESC, item) re-sort. At
    // real cardinality the counts become estimates — then gate on
    // error bounds (q_agg_approx pattern), not equality.
    "q_agg_topk_freq" -> ((s, d) =>
      orders(s, d)
        .agg(expr("approx_top_k(o_orderpriority, 8, 100)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").cast("long").as("cnt"))
        .orderBy(desc("cnt"), asc("item"))),

    // Bloom-filter semi-join reduction — the explicit form of Spark's
    // InjectRuntimeFilter: the bloom over the selective build side is
    // a SCALAR SUBQUERY (planned as its own subquery stage at
    // execution time — constructing this DataFrame runs no job), the
    // probe side is pruned BEFORE its shuffle by the codegen'd
    // might-contain predicate, then the exact join runs. False
    // positives are removed by the join, so the result is EXACTLY the
    // plain join's — the bloom only cuts shuffle volume. Sizing comes
    // from Spark's own runtime-filter conf
    // (spark.sql.optimizer.runtime.bloomFilter.expectedNumItems,
    // default 1M) rather than a constant pinned to one SF, so FPP
    // holds wherever the user tunes it — and a too-small bloom only
    // weakens pruning, never correctness. At 100 TB this is the
    // difference between shuffling the full fact table and shuffling
    // the ~1% that can match.
    "q_join_bloom" -> ((s, d) => {
      def hot = orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      val expectedItems = s.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "1000000").toLong
      val bloomAgg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("o_orderkey"))), expectedItems)
        .toAggregateExpression()
      val bloomDf = hot.select(ColumnBridge.column(bloomAgg).as("bf"))
      val pruned = lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .filter(ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            ColumnBridge.scalarSubquery(bloomDf),
            ColumnBridge.expression(xxhash64(col("l_orderkey"))))))
      pruned.join(hot, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(Dec2)).cast("double").as("qty"))
        .orderBy("o_orderkey")
    }),

    // Count-min point-frequency estimates (q_agg_approx pattern: the
    // gated output is the sketch's GUARANTEE, not the engine-specific
    // estimate). One pass builds the mergeable constant-size sketch;
    // point queries then run against the blob via graft_cms_estimate
    // (the read side Spark's built-in doesn't ship). At 100 TB the
    // sketch replaces a full groupBy when only a few keys' frequencies
    // are needed or the key space is unbounded. CMS error is one-sided:
    // est >= exact ALWAYS; est <= exact + eps*N at the sketch's
    // confidence — deterministic here given the fixed seed, verified
    // at every test SF.
    "q_agg_cms" -> ((s, d) => {
      def est(sk: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
        ColumnBridge.column(graft.gen.CmsEstimateExpr(
          ColumnBridge.expression(sk), ColumnBridge.expression(key)))
      val sk = lineitem(s, d).agg(
        expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n_total"))
      val exact = lineitem(s, d).filter(col("l_partkey").between(1, 5))
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("n_exact"))
      s.range(1, 6).select(col("id").as("k"))
        .join(exact, Seq("k"), "left_outer")
        .na.fill(0L, Seq("n_exact"))
        .crossJoin(broadcast(sk))
        .select(col("k"), col("n_exact"),
          (est(col("sk"), col("k")) >= col("n_exact") &&
            est(col("sk"), col("k")) <= col("n_exact")
              + ceil(lit(0.001) * col("n_total")).cast("long")).as("within_bound"))
        .orderBy("k")
    }),

    // Salted skew join: the big side's hot keys are spread over S
    // sub-keys by a deterministic salt; the small side is replicated
    // ×S so every (key, salt) pair still meets. Same exact result as
    // the plain join — the salt only re-shapes the shuffle so one hot
    // key becomes S tasks instead of one straggler. (AQE's skew-join
    // split does this adaptively for sort-merge joins; salting is the
    // explicit form that also works for hash joins and aggregations —
    // see q_agg_salted for the agg variant.)
    "q_join_skew" -> ((s, d) => {
      val S = 8
      val big = lineitem(s, d).select(col("l_suppkey"), col("l_quantity"))
        .withColumn("salt_b",
          pmod(xxhash64(col("l_suppkey"), col("l_quantity")), lit(S)).cast("int"))
      val dim = supplier(s, d).select(col("s_suppkey"), col("s_name"))
        .withColumn("salt_d", explode(sequence(lit(0), lit(S - 1))))
      big.join(dim,
        col("l_suppkey") === col("s_suppkey") && col("salt_b") === col("salt_d"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(Dec2)).cast("double").as("qty"))
        .orderBy("s_name")
    }),

    // MERGE/upsert shape without a table format: full-outer join of
    // base vs changes, COALESCE picking the change when present —
    // updates overwrite, inserts append, untouched rows pass through.
    // The change set is derived deterministically from the base so the
    // oracle can re-derive it. Insert keys are offset by the next
    // multiple of 10^8 STRICTLY ABOVE max(o_orderkey) (integer
    // arithmetic only — identical in both engines), so synthesized
    // keys can never collide with real base keys at any SF; the
    // 1-row max aggregate rides in as a broadcast cross join. At
    // scale this is one co-partitioned full-outer shuffle on the key
    // (or a rewrite of only the touched partitions when the base is
    // partitioned — the poor man's Delta).
    "q_upsert" -> ((s, d) => {
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val maxKey = base.agg(max(col("o_orderkey")).as("mk"))
      val insertOffset =
        col("mk") - (col("mk") % 100000000L) + 100000000L
      val updates = base.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("U").as("o_orderstatus"))
        .union(base.filter(col("o_orderkey") % 1000 === 0)
          .crossJoin(broadcast(maxKey))
          .select((col("o_orderkey") + insertOffset).as("o_orderkey"),
            col("o_totalprice"), lit("N").as("o_orderstatus")))
      base.as("b").join(updates.as("u"),
          col("b.o_orderkey") === col("u.o_orderkey"), "full_outer")
        .select(
          coalesce(col("u.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
          coalesce(col("u.o_totalprice"), col("b.o_totalprice")).as("o_totalprice"),
          coalesce(col("u.o_orderstatus"), col("b.o_orderstatus")).as("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // Fixed-width histogram: bucket index from integer-floor division,
    // clamped into a final overflow bucket. Deliberately explicit
    // arithmetic rather than width_bucket() so the oracle runs the
    // bit-identical IEEE expression (both engines floor the same
    // double quotient). One map-side-combined hash aggregate over a
    // ~dozen-key space — the canonical constant-state full-scan shape:
    // at 100 TB it reads every row once and shuffles a few dozen
    // partial buffers, nothing else.
    "q_agg_histogram" -> ((s, d) =>
      orders(s, d)
        .withColumn("bucket",
          least(floor(col("o_totalprice") / 50000.0), lit(10L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Dec2)).cast("double").as("sum_price"))
        .orderBy("bucket")),

    // SCD2 (slowly-changing dimension, type 2) reconstruction: collapse
    // each customer's order-status history to change points (status !=
    // previous status), then derive [valid_from, valid_to) intervals
    // with lead(); the open interval marks the current version. Both
    // windows share one partitioning (o_custkey) ⇒ a single shuffle,
    // and the per-customer state is bounded by history length. At
    // 100 TB this is the standard dimension-versioning pass: one
    // hash-partitioned sort per customer, no self-join. Timestamps are
    // emitted as epoch micros (engine-portable — Tables.scala rules).
    "q_scd2" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"))
        .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
        .filter(col("prev_status").isNull ||
          col("prev_status") =!= col("o_orderstatus"))
        // o_orderdate is parquet TIMESTAMP_NTZ; session TZ is pinned UTC
        // so the cast to TIMESTAMP is value-preserving (unix_micros
        // rejects NTZ directly)
        .withColumn("valid_from_us",
          unix_micros(col("o_orderdate").cast("timestamp")))
        .withColumn("valid_to_us",
          lead(unix_micros(col("o_orderdate").cast("timestamp")), 1).over(w))
        .withColumn("is_current", col("valid_to_us").isNull)
        .select("o_custkey", "o_orderkey", "o_orderstatus",
          "valid_from_us", "valid_to_us", "is_current")
        .orderBy("o_custkey", "valid_from_us", "o_orderkey")
    }),

    // One-pass table profiling (SUMMARIZE/ANALYZE shape): null count,
    // exact NDV, min/max for every numeric measure. Round 21: the
    // 4-countDistinct single aggregate planned as Expand×5 (every
    // expanded row paying all 17 agg updates) is replaced by a
    // posexplode of the 4 values per row (×4, no plain-agg replica)
    // into an exact TWO-STAGE aggregation: stage 1 dedups (col, value)
    // pairs map-side carrying occurrence counts, stage 2 recovers
    // n_rows (Σcnt), n_nulls (Σcnt over null values), exact NDV
    // (count of non-null dedup'd values), min/max. Bit-identical
    // output (row equality measured; 1.07 → 0.20 s at sf0.1), and the
    // same shape stays map-side combinable at 100 TB — stage 1's shuffle carries
    // distinct (col, value) pairs hash-spread across reducers, never
    // the raw stream, so no single task holds a full column's NDV.
    "q_profile" -> ((s, d) => {
      val pcols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val nameMap = map(pcols.zipWithIndex.flatMap {
        case (c, i) => Seq(lit(i + 1), lit(c)) }: _*)
      lineitem(s, d)
        .select(posexplode(array(pcols.map(col): _*)).as(Seq("idx", "v")))
        .groupBy(col("idx"), col("v")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("idx"))
        .agg(sum("cnt").as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
          count(col("v")).as("n_distinct"),
          min("v").as("min_val"), max("v").as("max_val"))
        .select(element_at(nameMap, col("idx") + 1).as("col_name"),
          col("n_rows"), col("n_nulls"), col("n_distinct"),
          col("min_val"), col("max_val"))
        .orderBy("col_name")
    }),

    // Stratified (per-class rate) deterministic sampling — the corpus
    // REBALANCING shape: keep 20% of the rare class, 5% of the rest,
    // membership a pure function of the row key (md5-based, portable)
    // so the sample is reproducible across runs, engines, and
    // partitionings. Scales like q_sample_hash: a stateless map-side
    // filter ahead of the aggregate — no shuffle until the (tiny)
    // grouped result.
    "q_sample_stratified" -> ((s, d) => {
      val hkey = ColumnBridge.column(graft.gen.Md5Hash60Expr(ColumnBridge.expression(
        concat_ws("|", col("l_orderkey"), col("l_linenumber")))))
      lineitem(s, d)
        .withColumn("rate_pm",
          when(col("l_returnflag") === "R", 200).otherwise(50))
        .filter(pmod(hkey, lit(1000)) < col("rate_pm"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(Dec2)).cast(Dec382).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Exact distinct count via two-level bitmap rollup (Spark 3.5
    // bitmap_* functions) — the roaring-bitmap shape: stage 1 ORs each
    // key's bit into a fixed 4 KB bucket bitmap (32768 bits/bucket,
    // partial-aggregated map-side, so the shuffle carries at most
    // |buckets| × 4 KB per group instead of every raw key), stage 2
    // sums per-bucket popcounts. At 100 TB this is THE way to keep
    // exact NDV mergeable and re-aggregatable (bitmaps union across
    // days/partitions); count(DISTINCT) reshuffles raw keys and cannot
    // be rolled up incrementally.
    "q_agg_bitmap" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_partkey"))
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").as("bm"))
        .groupBy(col("l_returnflag"))
        .agg(sum(expr("bitmap_count(bm)")).as("nd_parts"),
          count(lit(1)).as("n_buckets"))
        .orderBy("l_returnflag")),

    // Deterministic per-group reservoir: a fixed-size uniform sample
    // (k=20 per order priority) where membership is a pure function of
    // the row key — rank by 60-bit md5 of the key inside each stratum.
    // Reproducible across runs/engines/partitionings (the property
    // rand()-based sampling lacks), and the row_number()<=k shape is
    // planned by TopKRewriteRule as the native TopKPerGroup operator:
    // bounded per-group heaps map-side, so at 100 TB the shuffle
    // carries ≤ k rows per group per partition, never the full table.
    "q_sample_group" -> ((s, d) => {
      val hkey = ColumnBridge.column(graft.gen.Md5Hash60Expr(ColumnBridge.expression(
        col("o_orderkey").cast("string"))))
      val w = Window.partitionBy("o_orderpriority").orderBy(col("hkey"), col("o_orderkey"))
      orders(s, d)
        .withColumn("hkey", hkey)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy("o_orderpriority", "rn")
    }),

    // Z-score anomaly detection: per-event-type mean/std from EXACT
    // decimal co-moments (population form), then a broadcast join back
    // to flag rows with |value − mean| > 3σ. The stats side collapses
    // to |event_types| rows map-side, so the whole pass is one scan +
    // one broadcast — no shuffle of the fact table at any scale. Same
    // cross-engine determinism contract as q_agg_stats: double math
    // only on operands that are already bit-identical (exact decimal
    // sums, counts), sqrt is IEEE-correctly-rounded in both engines.
    "q_anomaly" -> ((s, d) => {
      val st = events(s, d)
        // round 21: 128-bit kernel + hoisted-cast swap (see q_agg_stats).
        .select(col("event_type"), decU(col("value"), 2).as("vu"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n0"),
          sum128(col("vu"), 28, 2).as("sx0"),
          sum128p(col("vu"), col("vu"), 38, 4).as("sxx0"))
        .select(col("event_type"),
          (col("sx0").cast("double") / col("n0")).as("mean_v"),
          sqrt(greatest(
            (col("n0").cast("double") * col("sxx0").cast("double")
              - col("sx0").cast("double") * col("sx0").cast("double"))
              / (col("n0").cast("double") * col("n0").cast("double")),
            lit(0d))).as("std_v"))
      events(s, d)
        .join(broadcast(st), Seq("event_type"))
        .filter(abs(col("value") - col("mean_v")) > lit(3.0) * col("std_v"))
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("mean_v")) / col("std_v")).as("z"))
        .orderBy("event_id")
    }),

    // CDC change-log derivation: diff two snapshots into an I/U/D
    // event stream (the inverse of q_upsert, which APPLIES changes).
    // The "new" snapshot is synthesized deterministically from the
    // base — deletes (key ≡ 0 mod 97), price updates (key ≡ 0 mod 13),
    // inserts (key ≡ 0 mod 101, re-keyed above max via the same
    // scale-safe power-of-10 offset as q_upsert) — so the oracle
    // re-derives it exactly. One co-partitioned full-outer join on the
    // key; at scale the practical form diffs only changed partitions
    // (partition-level min/max or content hashes prune unchanged ones),
    // but the per-partition compute is exactly this operator.
    "q_cdc_diff" -> ((s, d) => {
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val maxKey = base.agg(max(col("o_orderkey")).as("mk"))
      val insertOffset =
        col("mk") - (col("mk") % 100000000L) + 100000000L
      val next = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 500.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
        .union(base.filter(col("o_orderkey") % 101 === 0)
          .crossJoin(broadcast(maxKey))
          .select((col("o_orderkey") + insertOffset).as("o_orderkey"),
            col("o_totalprice"), col("o_orderstatus")))
      base.as("o").join(next.as("n"),
          col("o.o_orderkey") === col("n.o_orderkey"), "full_outer")
        .withColumn("op",
          when(col("o.o_orderkey").isNull, "I")
            .when(col("n.o_orderkey").isNull, "D")
            .when(col("o.o_totalprice") =!= col("n.o_totalprice") ||
              col("o.o_orderstatus") =!= col("n.o_orderstatus"), "U"))
        .filter(col("op").isNotNull)
        .select(coalesce(col("n.o_orderkey"), col("o.o_orderkey")).as("o_orderkey"),
          col("op"),
          col("o.o_totalprice").as("old_price"),
          col("n.o_totalprice").as("new_price"))
        .orderBy("o_orderkey")
    }),

    // Incremental re-aggregation (materialized-view maintenance): a
    // DAILY partial-aggregate table is rolled up to MONTHLY by
    // re-aggregating the partials — sum of sums, sum of counts, min of
    // mins, max of maxes, and the average derived from the re-summed
    // exact numerator/denominator (never an avg of avgs). This is the
    // lambda/incremental pattern at 100 TB: the daily pass touches raw
    // data once; every coarser rollup reads only |days| × |groups|
    // partial rows. Only works because every aggregate kept is
    // MERGEABLE — the same property the sketch family (HLL/CMS/KLL)
    // extends to distincts and quantiles.
    "q_agg_reagg" -> ((s, d) => {
      val daily = lineitem(s, d)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(Dec2)).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
      daily
        .groupBy(substring(col("day"), 1, 7).as("month"), col("l_returnflag"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_qty")).cast(Dec382).as("sum_qty"),
          (sum(col("sum_qty")).cast("double") / sum(col("n"))).as("avg_qty"),
          min(col("min_price")).as("min_price"),
          max(col("max_price")).as("max_price"))
        .orderBy("month", "l_returnflag")
    }),

    // Z-order layout key: interleave the bits of two bucketized
    // dimensions (customer, order day) into one clustering value, then
    // audit per-block min/max tightness of BOTH dims — the
    // multi-dimensional data-skipping layout (range-partition + sort
    // by z before writing, and scans filtered on EITHER dimension
    // prune most blocks via footer min/max). Pure integer bit math,
    // identical in both engines; the physical write form follows
    // q_sink_rangeparts (repartitionByRange(zval) + sortWithinPartitions).
    "q_sort_zorder" -> ((s, d) => {
      val xb = expr("pmod(o_custkey, 256)")                           // 8-bit dim 1
      val yb = expr(
        "pmod(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000, 256)") // 8-bit dim 2 (epoch day)
      val z = (0 until 8).map { i =>
        (shiftleft(shiftrightunsigned(col("xb"), i).bitwiseAND(lit(1L)), 2 * i))
          .bitwiseOR(shiftleft(shiftrightunsigned(col("yb"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
      orders(s, d)
        .withColumn("xb", xb).withColumn("yb", yb)
        .withColumn("z", z)
        .groupBy(expr("z div 1024").as("zblock"))
        .agg(count(lit(1)).as("n"),
          min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
          min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
        .orderBy("zblock")
    }),

    // Per-user feature-matrix assembly — the tabular feature pass that
    // turns an event log into one ML training row per entity:
    // per-type activity counts (conditional aggregation — one
    // map-side-combined pass, no per-type scans or joins), monetary
    // total (decimal-exact), and activity-span features. At 100 TB
    // this is a single shuffle on user_id producing |users| rows;
    // conditional aggregation beats pivot() here because the feature
    // column set is fixed by the schema, not discovered at plan time.
    "q_feature_matrix" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id")
        .agg(
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("total_value"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("span_us"))
        .orderBy("user_id")),

    // Per-group quantile (rank) normalization — the robust feature
    // scaling that maps a raw measure onto [0, 1] by its within-group
    // empirical CDF: qn = percent_rank = (rank − 1)/(n − 1), ties
    // sharing the first rank of their run. Rank transforms are the
    // standard defense against heavy-tailed features (min-max and
    // z-score both follow outliers; the rank does not), and the
    // per-group form normalizes fairly across subpopulations of
    // different scales (here: per-language doc lengths — 'is this doc
    // long FOR ITS LANGUAGE'). Exactness: percent_rank is an integer
    // ratio evaluated as one double division — bit-identical
    // cross-engine, no rounding. Scale: ONE lang-keyed shuffle;
    // per-partition sort, O(1) state per row. The global-sort-free
    // cousin of q_curriculum's HOF binning: this one keeps the full
    // resolution of the CDF instead of 4 bins.
    "q_feature_qnorm" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("qn",
          percent_rank().over(Window.partitionBy("lang").orderBy("n_chars")))
        .orderBy("doc_id")
    }),

    // Class-balanced downsampling: per-class keep rates DERIVED from
    // the data (rate = min_class_count / class_count in exact ppm
    // integer arithmetic), then the usual md5-deterministic membership
    // filter — the imbalanced-label rebalancing pass. The class
    // distribution collapses map-side to |classes| rows, broadcasts
    // back, and the filter is row-local: one scan + one tiny aggregate
    // at any scale (q_sample_stratified is the fixed-rate cousin).
    "q_sample_balanced" -> ((s, d) => {
      val counts = lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
      val minC = counts.agg(min(col("cnt")).as("mc"))
      val rates = counts.crossJoin(broadcast(minC))
        .select(col("l_returnflag"),
          expr("(mc * 1000000) div cnt").as("rate_ppm"))
      val hkey = ColumnBridge.column(graft.gen.Md5Hash60Expr(ColumnBridge.expression(
        concat_ws("|", col("l_orderkey"), col("l_linenumber")))))
      lineitem(s, d)
        .join(broadcast(rates), Seq("l_returnflag"))
        .filter(pmod(hkey, lit(1000000)) < col("rate_ppm"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("l_quantity").cast(Dec2)).cast(Dec382).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // 2-D skyline (Pareto frontier): orders that no other order beats
    // on BOTH price and recency. Distributed the algebraic way —
    // skyline(S) = skyline(union of per-partition skylines) — so
    // stage 1 sweeps each input partition independently (sort by
    // price desc within the partition, keep rows whose date exceeds
    // the running max; partitioning choice cannot change the FINAL
    // set, only the survivor count), and stage 2 re-sweeps the tiny
    // survivor union globally. Never a global sort of the full table,
    // never the O(n²) NOT-EXISTS self-join. The oracle runs the
    // single global sweep — same final frontier by the merge identity.
    "q_skyline" -> ((s, d) =>
      skylineOf(orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("d_us")))),

    // 5-table star join (region → nation → customer → orders →
    // lineitem): the dimensional-rollup shape that exercises
    // Catalyst's join ordering. Declared in "wrong" order on purpose —
    // the optimizer reorders so the two bounded dims (region, nation)
    // broadcast while the two fact-fact joins shuffle on their keys;
    // revenue aggregates decimal-exact per (region, priority). At
    // 100 TB the dims still broadcast and AQE re-plans the fact joins
    // from runtime sizes — the plan carries no scale assumption.
    "q_join_star" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("l_discount") >= 0.05)
        // round 21: 128-bit kernel over hoisted unscaled longs;
        // (1 − disc) as 100 − unscaled(disc) (see q_agg_pricing).
        .select(col("r_name"), col("o_orderpriority"),
          decU(col("l_extendedprice"), 2).as("pu"),
          (lit(100L) - decU(col("l_discount"), 2)).as("du"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum128p(col("pu"), col("du"), 38, 4).as("revenue"))
        .orderBy("r_name", "o_orderpriority")),

    // Weight-proportional Bernoulli sampling: each row kept with
    // probability w/max(w) (w = extended price), membership a pure
    // function of the row key — the importance-sampling shape for
    // value-weighted corpus downsampling (quality-weighted doc
    // sampling uses the identical plan). Determinism contract: the
    // keep test compares u·max(w) < w·2^60 where u is the md5 60-bit
    // key — one correctly-rounded double multiply on each side from
    // identical inputs, so both engines keep exactly the same rows (no
    // rand(), no log/pow, which are NOT correctly rounded and would
    // diverge cross-engine). Scale: stateless map-side filter against
    // a broadcast 1-row max — same posture as q_sample_hash.
    "q_sample_weighted" -> ((s, d) => {
      val mx = lineitem(s, d).agg(max(col("l_extendedprice")).as("mx"))
      val u = ColumnBridge.column(graft.gen.Md5Hash60Expr(ColumnBridge.expression(
        concat_ws("|", col("l_orderkey"), col("l_linenumber")))))
      lineitem(s, d)
        .withColumn("u", u)
        .crossJoin(broadcast(mx))
        .filter(col("u").cast("double") * col("mx")
          < col("l_extendedprice") * lit(1152921504606846976L).cast("double"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(Dec2)).cast(Dec382).as("sum_qty"),
          sum(col("l_extendedprice").cast(Dec2)).cast(Dec382).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Rule-based data validation (the Deequ/dbt-test shape): one pass
    // computes every row-local constraint (domain ranges, enum
    // membership, freshness cutoff) plus the two DISTRIBUTED rules a
    // real contract needs — primary-key uniqueness (n_rows − distinct
    // keys) and referential integrity (anti join against orders) —
    // and emits one row per rule with violation count/rate/verdict.
    // Scale: the row-local rules ride a single map-side-combined
    // aggregate over one scan; pk-uniqueness is one distinct-count
    // shuffle on the key; the FK anti join shuffles on the key with
    // AQE (or broadcasts when the parent side is a dim). The stack()
    // reshape runs on the 1-row aggregate, never on the fact table.
    "q_quality_rules" -> ((s, d) => {
      val li = lineitem(s, d)
      val base = li.agg(
        count(lit(1)).as("n"),
        count(when(!col("l_quantity").between(1.0, 50.0), 1)).as("v_qty"),
        count(when(!col("l_discount").between(0.0, 0.1), 1)).as("v_disc"),
        count(when(!col("l_returnflag").isin("A", "N", "R"), 1)).as("v_rf"),
        count(when(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"), 1)).as("v_ship"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_pk"))
      val fk = li.join(orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v_fk"))
      base.crossJoin(fk)
        .selectExpr("n",
          """stack(6,
            |  'discount_range', v_disc,
            |  'fk_orders', v_fk,
            |  'pk_unique', v_pk,
            |  'quantity_range', v_qty,
            |  'returnflag_domain', v_rf,
            |  'shipdate_lt_2000', v_ship) AS (rule, n_violations)""".stripMargin)
        .select(col("rule"), col("n").as("n_checked"), col("n_violations"),
          (col("n_violations").cast("double") / col("n").cast("double")).as("viol_rate"),
          (col("n_violations") === 0).as("passed"))
        .orderBy("rule")
    }),

    // Triangle counting over the part co-purchase graph (parts linked
    // when they co-occur in >= 2 orders — the association-rule
    // min-support threshold, which is BOTH the meaningful signal and
    // the scale strategy: on random baskets single co-occurrence is
    // noise and makes the graph dense with avg degree ~#orders·k²/|P|,
    // measured 1.2M edges / 1e8 wedges at sf0.1; support-2 sparsifies
    // it 300× before any quadratic step). Edges are canonicalized
    // a < b at build time so each triangle a<b<c is counted exactly
    // once by the wedge join (e1: a-b, e2: b-c) closed by e3: a-c —
    // all equi-joins Catalyst shuffles on their keys; counts are exact
    // integers. Scale shape: pairs explode row-locally from per-order
    // baskets (C(basket,2), bounded by basket size, not corpus size —
    // see coPurchaseEdges); the edge list is
    // localCheckpoint-ed ONCE so the expensive co-purchase derivation is
    // never re-derived by the four aggregate branches (the round-6 plan
    // rebuilt it 16 times — 16 parquet scans, 0 reuse); the
    // observability wedge count is computed ALGEBRAICALLY
    // (Σ_v in(v)·out(v) over the canonical orientation — identical to
    // the e1.b=e2.a join count, zero wedge materialization); and the
    // triangle closure runs on DEGREE-ORIENTED edges (each edge points
    // from its (degree, id)-lower endpoint, so every triangle has
    // exactly one vertex with two out-edges), capping wedge generation
    // at O(E^1.5) — the standard distributed-triangle bound — even on
    // graphs that stay dense after support thresholding. Both
    // orientations count each triangle exactly once, so the canonical
    // SQL oracle is unchanged.
    "q_graph_triangles" -> ((s, d) =>
      graphCounts(coPurchaseEdges(s, d).transform(graft.Checkpoint.apply))),

    // PageRank over the same min-support-2 co-purchase graph — the
    // classic iterative-analytics shape (power iteration, damping 0.85,
    // 5 rounds). Determinism: double sums in a groupBy are
    // order-nondeterministic, so ranks are held as SCALED BIGINTs
    // (1e-12 units) and every step is integer arithmetic — init
    // 1e12 div N, contribution r div deg, update 0.15·1e12 div N +
    // (85·Σ) div 100 — making the result bit-exact and cross-engine
    // reproducible (DuckDB `//` and Spark `div` agree on positive
    // ints). Undirected edges are materialized both ways; every vertex
    // therefore has in-degree ≥ 1 and the inner join back to the
    // vertex set loses nothing. Scale shape: ONE shuffle per round
    // (rank join on u + contribution groupBy on v — both vertex-keyed,
    // AQE coalesced); the edge list is localCheckpoint-ed once so the
    // co-purchase derivation is not re-derived per round and
    // the 5-round lineage stays flat — same Pregel posture as
    // q_dedup_cluster. Truncation loses < 1e-12·deg of mass per vertex
    // per round — irrelevant to ranking, essential to determinism.
    "q_graph_pagerank" -> ((s, d) => pagerankOf(coPurchaseEdges(s, d))),

    // Neighbor-set Jaccard similarity over the co-purchase graph — the
    // node-similarity / link-strength score behind collaborative
    // filtering and graph-cleanup passes: for each EDGE (a, b),
    // |N(a)∩N(b)| / |N(a)∪N(b)| with the union expanded as
    // da + db − common. Common-neighbor counting runs as the
    // triangle-through-edge closure: expand the neighbor list of ONE
    // endpoint per edge, probe the other endpoint's edge set — two
    // equi-joins, never an all-pairs comparison. The expanded endpoint
    // is the LOWER-DEGREE one (ties to the lower id), NOT the
    // canonical lower-ID one: expansion work is then Σ_edges
    // min(da, db) ≤ O(E^1.5) — the same orientation bound triangles
    // use — and, critically, it is what keeps a power-law hot vertex
    // out of the expansion key. Canonical-ID orientation put a degree-
    // 37k hot vertex (5% hot-basket injection at 10×) on
    // the expansion side of its ~37k edges: deg(hot)² ≈ 1.4e9 wedge
    // rows through the ONE reduce task owning that join key — measured
    // 96.7 s wall vs 4.3 s balanced, max/median task 795×. Min-degree
    // orientation expands the small side (the hot vertex is the
    // expansion key only for hot–hot edges, which barely exist), and
    // the probe join keys on the COMPOSITE (w, x) — hash-distributed
    // even when w is hot. Same pairs, same counts: common-neighbor
    // counting is symmetric in the edge's endpoints, so the oracle is
    // unchanged. Edges/deg are localCheckpoint-ed once (the
    // q_graph_pagerank rule: the co-purchase derivation must not be
    // re-derived per consumer). Output keeps edges IN at least one
    // triangle (common ≥ 1 — the pairs a recommender would score);
    // fractions are exact integer ratios in one double division.
    "q_graph_jaccard" -> ((s, d) =>
      jaccardOf(coPurchaseEdges(s, d).transform(graft.Checkpoint.apply))),

    // Fixed-size deterministic global sample — "give me exactly N
    // docs, the same N forever": rank the corpus by a salted md5 hash
    // and keep the N smallest. The rate-free cousin of q_sample_hash
    // (exact COUNT instead of expected rate — what eval sets and
    // debugging corpora need), stable under reruns AND under corpus
    // growth in expectation (a new doc displaces at most one old pick).
    // Plans as TakeOrderedAndProject (PlanAuditSpec pins it): per-
    // partition top-N heaps + a driver merge of N·partitions candidates
    // — never a global sort, the only scalable exactly-N shape.
    "q_sample_topn" -> ((s, d) =>
      documents(s, d)
        .withColumn("hk", expr(
          "cast(conv(substr(md5(concat(cast(doc_id as string), '#topn')), 1, 15), 16, 10) as bigint)"))
        .orderBy(col("hk"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")),

    // k-anonymity audit — the privacy-compliance pass a corpus with
    // user-derived rows needs before release: group by the quasi-
    // identifier tuple (nation, market segment, overdrawn flag — the
    // generalized attributes a re-identification attack would join
    // on), flag groups smaller than k = 5, and report the per-group
    // re-identification risk 1/n. Suppression/generalization then
    // filters or coarsens the flagged groups; this query is the audit
    // that DRIVES it (the flag is the gate, the risk the ranking).
    // ONE map-side-combined aggregate to |QI-combinations| rows; risk
    // is an exact integer-ratio double.
    "q_privacy_kanon" -> ((s, d) =>
      customer(s, d)
        .withColumn("overdrawn", col("c_acctbal") < 0)
        .groupBy("c_nationkey", "c_mktsegment", "overdrawn")
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("overdrawn"),
          col("n"), (col("n") >= 5).as("k_anonymous"),
          (lit(1.0) / col("n")).as("risk"))
        .orderBy("c_nationkey", "c_mktsegment", "overdrawn")),

    // Market-basket association rules — the directed support /
    // confidence / lift mining pass (Agrawal-style, support-pruned)
    // over co-purchase baskets: for parts a → b in the same order,
    // confidence = sup(ab)/sup(a) and lift = conf / P(b). Determinism:
    // confidence ships as exact fixed-point ppm (integer div on
    // positive operands — identical both engines); lift is ONE double
    // division of two exact integer products (each < 2^53). Scale:
    // the basket table (one array row per order, see coBaskets) is
    // localCheckpoint-ed once (the pagerank rule — three consumers
    // must not re-derive the order-keyed aggregation), item supports
    // are one exploded map-side-combined aggregate, directed pairs
    // explode ROW-LOCALLY from each basket (n·(n−1) bounded by basket
    // size — no self-join, no second lineitem-sized shuffle), and the
    // 1-row basket count joins back as a broadcast. Top-50 by
    // confidence is a TakeOrdered heap.
    "q_assoc_rules" -> ((s, d) => {
      val baskets = coBaskets(s, d).transform(graft.Checkpoint.apply)
      val isup = baskets.select(explode(col("ps")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("sup"))
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      // round 21: directed pairs stream through the Generator (see
      // coPurchaseEdges — same swap, same GraphSpec equivalence pin)
      val pairs = baskets.select(expr("graft_pairs_all(ps)").as(Seq("a", "b")))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("sab"))
        .filter(col("sab") >= 2)
      pairs
        .join(isup.select(col("p").as("a"), col("sup").as("sa")), Seq("a"))
        .join(isup.select(col("p").as("b"), col("sup").as("sb")), Seq("b"))
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("sab"), col("sa"), col("sb"),
          expr("sab * 1000000 div sa").as("conf_ppm"),
          ((col("sab") * col("n_orders")).cast("double")
            / (col("sa") * col("sb"))).as("lift"))
        .orderBy(col("conf_ppm").desc, col("a"), col("b"))
        .limit(50)
    }),

    // Degree distribution of the co-purchase graph — the log2-bucketed
    // degree histogram that tells you whether the graph is skewed
    // enough to need salting/skew-join handling BEFORE running the
    // expensive closure queries (triangles/jaccard/pagerank) on it.
    // The bucket is length(bin(deg)) = floor(log2)+1 computed by
    // EXACT integer/string arithmetic — never floating log2, whose
    // libm results differ across engines near power-of-two boundaries.
    // Scale: the two-shuffle coPurchaseEdges derivation,
    // localCheckpoint-ed once (the pagerank rule: the
    // a-side and b-side union branches must not re-derive the
    // co-purchase pairs; PlanAuditSpec pins ≤ 2 scans) — then one
    // vertex-keyed count and one ≤64-row rollup.
    "q_graph_degdist" -> ((s, d) =>
      degdistOf(coPurchaseEdges(s, d).transform(graft.Checkpoint.apply))),

    // Closed-form simple linear regression (OLS) per group — the
    // trend-fitting / feature-engineering primitive: fit
    // extendedprice ~ quantity within each returnflag from the five
    // exact decimal co-moments (n, Σx, Σy, Σxx, Σxy, Σyy), then
    // slope / intercept / R² as token-order-matched double
    // expressions over those moments — the q_agg_stats determinism
    // contract applied to model fitting. Scale shape: ONE
    // map-side-combined scan, constant state per group, one 3-row
    // shuffle; a gradient-descent fit would need I full passes and
    // order-sensitive double accumulation — the closed form is both
    // exact and 1-pass, which is why distributed linear models
    // aggregate sufficient statistics (normal equations), not rows.
    "q_stats_ols" -> ((s, d) => {
      def d2(c: String) = col(c).cast("double")
      val nd = col("n").cast("double")
      val sxx = nd * d2("sxx0") - d2("sx0") * d2("sx0")
      val sxy = nd * d2("sxy0") - d2("sx0") * d2("sy0")
      val syy = nd * d2("syy0") - d2("sy0") * d2("sy0")
      // round 21: 128-bit kernel + hoisted-cast swap (see q_agg_stats).
      val xu = col("xu"); val yu = col("yu")
      lineitem(s, d)
        .select(col("l_returnflag"),
          decU(col("l_quantity"), 2).as("xu"),
          decU(col("l_extendedprice"), 2).as("yu"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum128(xu, 28, 2).as("sx0"), sum128(yu, 28, 2).as("sy0"),
          sum128p(xu, xu, 38, 4).as("sxx0"),
          sum128p(xu, yu, 38, 4).as("sxy0"),
          sum128p(yu, yu, 38, 4).as("syy0"))
        .select(col("l_returnflag"), col("n"),
          // zero-variance guard (constant x or y in a group): NULL,
          // not Inf/NaN — engines render IEEE div-by-zero differently,
          // NULL identically; oracle mirrors the CASE
          when(sxx > 0 && syy > 0, sxy / sxx).as("slope"),
          when(sxx > 0 && syy > 0,
            (d2("sy0") - (sxy / sxx) * d2("sx0")) / nd).as("intercept"),
          when(sxx > 0 && syy > 0, (sxy * sxy) / (sxx * syy)).as("r2"))
        .orderBy("l_returnflag")
    }),

    // k-core decomposition (k=2, three fixed peeling rounds) over the
    // min-support-2 co-purchase graph — the graph-cleanup pass that
    // strips low-degree fringe before the expensive closure queries
    // (a vertex in no cycle can't be in a triangle or a dense
    // community). Each round: degree count → keep deg ≥ k → retain
    // edges with BOTH endpoints kept; output one (round, n_vertices,
    // n_edges) row per round, so the convergence profile is visible.
    // Scale shape: the co-purchase edge list is derived once and
    // localCheckpoint-ed, and each round's survivor edge set is
    // checkpointed before the next round re-aggregates it (the
    // pagerank rule — lineage stays flat, no re-derivation per round);
    // per round it is one vertex-keyed count plus two semi-joins, all
    // equi-shuffles. Fixed round count (not run-to-fixpoint) keeps the
    // plan static and the oracle expressible as a finite CTE chain —
    // at 100 TB the same 3 rounds remove the overwhelming mass of
    // degree-1 fringe (each round is a full Pregel superstep).
    "q_graph_kcore" -> ((s, d) =>
      kcoreOf(coPurchaseEdges(s, d).transform(graft.Checkpoint.apply))),
  )

  /** Shared expression-string builders for q_stats_pca: ONE generator
    * emits the post-moment computation for BOTH engines (the Spark
    * selectExpr chain and the DuckDB CTE chain), so the token order of
    * every double op — and therefore the IEEE result bits — cannot
    * drift between the query and its oracle.
    */
  private object PcaIter {
    val Vars: Seq[(String, String)] = Seq(
      "disc" -> "l_discount", "price" -> "l_extendedprice",
      "qty" -> "l_quantity", "tax" -> "l_tax")
    val K: Int = Vars.size
    val Iters = 10

    private def cn(i: Int, j: Int): String =
      if (i <= j) s"c$i$j" else s"c$j$i"
    private val carry: Seq[String] =
      for { i <- 1 to K; j <- i to K } yield cn(i, j)

    /** Correlation-matrix entries from the moment row; d2 is the
      * engine's exact decimal→double cast (plain CAST in Spark, the
      * VARCHAR round-trip in DuckDB — Tables.scala rule 6).
      */
    def corrEntries(d2: String => String): Seq[String] = {
      val nd = "CAST(n AS DOUBLE)"
      val names = Vars.map(_._1)
      for { i <- 0 until K; j <- i until K } yield {
        if (i == j) s"CAST(1 AS DOUBLE) AS ${cn(i + 1, j + 1)}"
        else {
          val nx = names(i); val ny = names(j)
          s"($nd * ${d2(s"sp_${nx}_$ny")} - ${d2(s"s_$nx")} * ${d2(s"s_$ny")}) / " +
            s"(sqrt($nd * ${d2(s"ss_$nx")} - ${d2(s"s_$nx")} * ${d2(s"s_$nx")}) * " +
            s"sqrt($nd * ${d2(s"ss_$ny")} - ${d2(s"s_$ny")} * ${d2(s"s_$ny")})) " +
            s"AS ${cn(i + 1, j + 1)}"
        }
      }
    }

    /** Select lists for every post-entry stage: v0 init, Iters ×
      * (mat-vec, normalize), one final mat-vec, then the Rayleigh
      * quotient. Each list references only the previous stage's
      * columns; the strings are engine-agnostic (doubles in, doubles
      * out, fixed left-to-right term order).
      */
    def stages: Seq[Seq[String]] = {
      def matvec(i: Int) =
        (1 to K).map(j => s"${cn(i, j)} * v$j").mkString(" + ") + s" AS w$i"
      val nrm = (1 to K).map(i => s"w$i * w$i").mkString(" + ")
      val init = carry ++ (1 to K).map(i => s"CAST(0.5 AS DOUBLE) AS v$i")
      val one = Seq(
        carry ++ (1 to K).map(matvec),
        carry ++ (1 to K).map(i => s"w$i / sqrt($nrm) AS v$i"))
      val finalMatvec = (1 to K).map(i => s"v$i") ++ (1 to K).map(matvec)
      val rayleigh = (1 to K).map(i => s"v$i") :+
        ((1 to K).map(i => s"v$i * w$i").mkString(" + ") + " AS lam")
      (init +: (1 to Iters).flatMap(_ => one)) ++ Seq(finalMatvec, rayleigh)
    }
  }

  /** DuckDB mirror of q_stats_pca: the same moment block as
    * statsCorrSql, then the PcaIter stages verbatim as a CTE chain —
    * the oracle runs the identical expression strings the Spark side
    * runs through selectExpr.
    */
  private def statsPcaSql: String = {
    def dc(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val vars = PcaIter.Vars
    val pairs = for { i <- vars.indices; j <- i + 1 until vars.size }
      yield (vars(i), vars(j))
    val sums = vars.map { case (nm, c) => s"sum(${dc(c)}) AS s_$nm" } ++
      vars.map { case (nm, c) =>
        s"sum(CAST(${dc(c)} * ${dc(c)} AS DECIMAL(38,4))) AS ss_$nm" } ++
      pairs.map { case ((nx, cx), (ny, cy)) =>
        s"sum(CAST(${dc(cx)} * ${dc(cy)} AS DECIMAL(38,4))) AS sp_${nx}_$ny" }
    def d2(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
    val stages = PcaIter.corrEntries(d2) +: PcaIter.stages
    val ctes = stages.zipWithIndex.map { case (sel, i) =>
      val from = if (i == 0) "m" else s"t${i - 1}"
      s"t$i AS (SELECT ${sel.mkString(",\n  ")} FROM $from)"
    }
    val last = s"t${stages.size - 1}"
    val branches = vars.map(_._1).zipWithIndex.map { case (nm, i) =>
      s"SELECT '$nm' AS variable, v${i + 1} AS loading, lam AS eigval, " +
        s"lam / CAST(4 AS DOUBLE) AS evr FROM $last"
    }
    s"""WITH m AS (
       |  SELECT count(*) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM lineitem),
       |${ctes.mkString(",\n")}
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY variable""".stripMargin
  }

  /** DuckDB mirror of q_stats_corr, generated from the same variable
    * list so the moment set and the token order of every corr
    * expression cannot drift from the Spark side.
    */
  private def statsCorrSql: String = {
    val vars = Seq("disc" -> "l_discount", "price" -> "l_extendedprice",
      "qty" -> "l_quantity", "tax" -> "l_tax")
    val pairs = for { i <- vars.indices; j <- i + 1 until vars.size }
      yield (vars(i), vars(j))
    def dc(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val sums = vars.map { case (nm, c) => s"sum(${dc(c)}) AS s_$nm" } ++
      vars.map { case (nm, c) =>
        s"sum(CAST(${dc(c)} * ${dc(c)} AS DECIMAL(38,4))) AS ss_$nm" } ++
      pairs.map { case ((nx, cx), (ny, cy)) =>
        s"sum(CAST(${dc(cx)} * ${dc(cy)} AS DECIMAL(38,4))) AS sp_${nx}_$ny" }
    def d2(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
    val nd = "CAST(n AS DOUBLE)"
    val branches = pairs.map { case ((nx, _), (ny, _)) =>
      s"""SELECT '$nx' AS var_x, '$ny' AS var_y, n,
         |  ($nd * ${d2(s"sp_${nx}_$ny")} - ${d2(s"s_$nx")} * ${d2(s"s_$ny")})
         |    / (sqrt($nd * ${d2(s"ss_$nx")} - ${d2(s"s_$nx")} * ${d2(s"s_$nx")})
         |       * sqrt($nd * ${d2(s"ss_$ny")} - ${d2(s"s_$ny")} * ${d2(s"s_$ny")})) AS corr
         |FROM m""".stripMargin
    }
    s"""WITH m AS (
       |  SELECT count(*) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM lineitem)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY var_x, var_y""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_stats_corr" -> statsCorrSql,
    "q_stats_pca" -> statsPcaSql,

    "q_scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_parts,
        |  count(DISTINCT l_suppkey) AS nd_supps,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total,
        |  count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_collect" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), '|') AS statuses,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q_join_shuffle" ->
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_theta" ->
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders JOIN lineitem
        |  ON l_orderkey = o_orderkey AND l_extendedprice > o_totalprice * 0.3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_outer" ->
      """SELECT coalesce(o_custkey, c_custkey) AS k, o_orderkey, o_totalprice, c_name
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000) o
        |FULL OUTER JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000) c
        |  ON o_custkey = c_custkey
        |ORDER BY k ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_nestedloop" ->
      """SELECT a.n_name AS a_name, count(*) AS n_pairs
        |FROM nation a JOIN nation b ON a.n_regionkey < b.n_regionkey
        |GROUP BY a.n_name ORDER BY a_name""".stripMargin,

    "q_join_range" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS pts, count(v.ts) AS n_views
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        |  AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(v.ts) <= epoch_us(p.ts)
        |GROUP BY 1, 2, 3 ORDER BY p.event_id""".stripMargin,

    "q_join_asof" ->
      """SELECT p.event_id, p.user_id,
        |  epoch_us(p.ts) AS purchase_us,
        |  epoch_us(v.ts) AS last_view_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_window_dist" ->
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_us,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_topk_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_window_frames" ->
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_us,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS sum_30d,
        |  first_value(o_totalprice) OVER w2 AS first_price,
        |  last_value(o_totalprice) OVER w2 AS last_price,
        |  nth_value(o_totalprice, 2) OVER w2 AS second_price
        |FROM orders
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_sample_hash" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty
        |FROM lineitem
        |WHERE (('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 15))::BIGINT) % 100 < 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_lead_lag" ->
      """SELECT event_id, user_id,
        |  lag(value) OVER w AS prev_val,
        |  lead(event_type) OVER w AS next_type,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_sort" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_acctbal DESC NULLS LAST, c_custkey""".stripMargin,

    "q_agg_median" ->
      """SELECT o_orderstatus, median_price, n FROM (
        |  SELECT o_orderstatus, o_totalprice AS median_price,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |WHERE rn = (n + 1) // 2 ORDER BY o_orderstatus""".stripMargin,

    "q_agg_quantiles" ->
      "SELECT true AS q50_ok, true AS q90_ok",

    "q_scalar_conditional" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 5000 THEN 'standard'
        |       ELSE 'premium' END AS tier,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_coalesced,
        |  (c_acctbal > 0 AND c_nationkey < 10) AS flag
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_union_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000)
        |GROUP BY k ORDER BY k""".stripMargin,

    "q_agg_salted" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_hll_merge" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
        |  true AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_union" ->
      """SELECT o_custkey AS k FROM orders
        |UNION
        |SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY k""".stripMargin,

    "q_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT o_custkey AS k FROM orders
        |ORDER BY k""".stripMargin,

    "q_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
        |ORDER BY k""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_nullsafe" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM (SELECT n_nationkey, n_name, nullif(n_regionkey, 0) AS rk FROM nation) a
        |JOIN (SELECT nullif(r_regionkey, 0) AS rk2, r_name FROM region) b
        |  ON a.rk IS NOT DISTINCT FROM b.rk2
        |ORDER BY n_nationkey""".stripMargin,

    "q_agg_bool" ->
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 1000) AS all_gt_1k,
        |  bool_or(o_totalprice > 400000) AS any_gt_400k,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_agg_argmax" ->
      """SELECT c_nationkey,
        |  arg_max(c_name, c_custkey) AS last_name,
        |  arg_min(c_name, c_custkey) AS first_name,
        |  max(c_custkey) AS max_key
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // co-moment decimal sums + ONE identical double expression (see the
    // Spark side): operand order must match it token for token
    "q_agg_stats" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n0,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx0,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy0,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy0,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx0,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy0
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n0 AS n,
        |  CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) / n0 AS mean_qty,
        |  CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) / n0 AS mean_price,
        |  sqrt((CAST(n0 AS DOUBLE) * CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) - CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sy0 AS VARCHAR) AS DOUBLE))
        |       / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))) AS std_price,
        |  (CAST(n0 AS DOUBLE) * CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) - CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sy0 AS VARCHAR) AS DOUBLE))
        |    / (sqrt(CAST(n0 AS DOUBLE) * CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) - CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sx0 AS VARCHAR) AS DOUBLE))
        |       * sqrt(CAST(n0 AS DOUBLE) * CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) - CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sy0 AS VARCHAR) AS DOUBLE))) AS corr_qp
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // manual UNION ALL melt (portable everywhere); decimal sums go
    // through the VARCHAR cast (Tables rule 6: DuckDB's direct
    // DECIMAL→DOUBLE is 1 ulp off past ~15 sig digits)
    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS qty,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS price,
        |    CAST(count(*) AS DOUBLE) AS cnt
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM wide
        |UNION ALL SELECT l_returnflag, 'price' AS metric, price FROM wide
        |UNION ALL SELECT l_returnflag, 'cnt' AS metric, cnt FROM wide
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 20 OFFSET 100""".stripMargin,

    // deterministic mode re-derived as count + (cnt DESC, value) window
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority AS p, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, p,
        |    CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY cnt DESC, p) AS rn
        |  FROM c)
        |SELECT o_orderstatus, p AS mode_prio, n FROM r WHERE rn = 1
        |ORDER BY o_orderstatus""".stripMargin,

    // maxItemsTracked > distinct(o_orderpriority) ⇒ the sketch is exact
    "q_agg_topk_freq" ->
      """SELECT o_orderpriority AS item, count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY cnt DESC, item""".stripMargin,

    // bloom FPs are removed by the exact join ⇒ plain-join oracle
    "q_join_bloom" ->
      """SELECT o_orderkey, count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    // CMS guarantee is the gated fact; estimates stay engine-side
    "q_agg_cms" ->
      """SELECT ks.k AS k, COALESCE(c.n_exact, 0) AS n_exact,
        |       TRUE AS within_bound
        |FROM (SELECT unnest(generate_series(1, 5)) AS k) ks
        |LEFT JOIN (SELECT l_partkey, count(*) AS n_exact FROM lineitem
        |           WHERE l_partkey BETWEEN 1 AND 5 GROUP BY 1) c
        |  ON ks.k = c.l_partkey
        |ORDER BY k""".stripMargin,

    // the salt is pure shuffle re-shaping ⇒ plain-join oracle
    "q_join_skew" ->
      """SELECT s_name, count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    "q_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |mk AS (SELECT max(o_orderkey) AS mk FROM base),
        |updates AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |         'U' AS o_orderstatus
        |  FROM base WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT o_orderkey + (mk - mk % 100000000 + 100000000) AS o_orderkey,
        |         o_totalprice, 'N' AS o_orderstatus
        |  FROM base, mk WHERE o_orderkey % 1000 = 0)
        |SELECT
        |  COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
        |  COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus
        |FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    // same explicit IEEE floor-div arithmetic as the Spark side
    "q_agg_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 10) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_scd2" ->
      """WITH hist AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |    lag(o_orderstatus) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey)),
        |scd AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus,
        |    epoch_us(o_orderdate) AS valid_from_us,
        |    lead(epoch_us(o_orderdate)) OVER w2 AS valid_to_us
        |  FROM hist
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey))
        |SELECT o_custkey, o_orderkey, o_orderstatus, valid_from_us, valid_to_us,
        |  (valid_to_us IS NULL) AS is_current
        |FROM scd ORDER BY o_custkey, valid_from_us, o_orderkey""".stripMargin,

    "q_profile" ->
      """WITH w AS (SELECT count(*) AS n_rows,
        |  count(*) - count(l_quantity) AS q_nulls, count(DISTINCT l_quantity) AS q_nd,
        |    min(l_quantity) AS q_min, max(l_quantity) AS q_max,
        |  count(*) - count(l_extendedprice) AS p_nulls, count(DISTINCT l_extendedprice) AS p_nd,
        |    min(l_extendedprice) AS p_min, max(l_extendedprice) AS p_max,
        |  count(*) - count(l_discount) AS d_nulls, count(DISTINCT l_discount) AS d_nd,
        |    min(l_discount) AS d_min, max(l_discount) AS d_max,
        |  count(*) - count(l_tax) AS t_nulls, count(DISTINCT l_tax) AS t_nd,
        |    min(l_tax) AS t_min, max(l_tax) AS t_max
        |  FROM lineitem)
        |SELECT 'l_quantity' AS col_name, n_rows, q_nulls AS n_nulls, q_nd AS n_distinct,
        |       q_min AS min_val, q_max AS max_val FROM w
        |UNION ALL
        |SELECT 'l_extendedprice', n_rows, p_nulls, p_nd, p_min, p_max FROM w
        |UNION ALL
        |SELECT 'l_discount', n_rows, d_nulls, d_nd, d_min, d_max FROM w
        |UNION ALL
        |SELECT 'l_tax', n_rows, t_nulls, t_nd, t_min, t_max FROM w
        |ORDER BY col_name""".stripMargin,

    "q_sample_stratified" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty
        |FROM lineitem
        |WHERE (('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 15))::BIGINT) % 1000
        |      < CASE WHEN l_returnflag = 'R' THEN 200 ELSE 50 END
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // n_buckets mirrors Spark's bitmap_bucket_number: 32768 bits per
    // bucket, 1-based for positive keys, v div 32768 for v <= 0
    // (l_partkey starts at 0 in the testdata, landing in bucket 0)
    "q_agg_bitmap" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
        |  count(DISTINCT CASE WHEN l_partkey > 0 THEN ((l_partkey - 1) // 32768) + 1
        |                      ELSE l_partkey // 32768 END) AS n_buckets
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_sample_group" ->
      """WITH h AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hkey
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY hkey, o_orderkey) AS rn
        |  FROM h)
        |SELECT o_orderpriority, rn, o_orderkey, o_totalprice
        |FROM r WHERE rn <= 20 ORDER BY o_orderpriority, rn""".stripMargin,

    // same token-for-token double expression as the Spark side (see
    // q_agg_stats for the VARCHAR-mediated decimal→double rationale)
    "q_anomaly" ->
      """WITH m AS (
        |  SELECT event_type, count(*) AS n0,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sx0,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx0
        |  FROM events GROUP BY event_type),
        |st AS (
        |  SELECT event_type,
        |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) / n0 AS mean_v,
        |    sqrt(greatest(
        |      (CAST(n0 AS DOUBLE) * CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sx0 AS VARCHAR) AS DOUBLE))
        |        / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)),
        |      0.0)) AS std_v
        |  FROM m)
        |SELECT e.event_id, e.event_type, e.value,
        |  (e.value - st.mean_v) / st.std_v AS z
        |FROM events e JOIN st ON e.event_type = st.event_type
        |WHERE abs(e.value - st.mean_v) > 3.0 * st.std_v
        |ORDER BY e.event_id""".stripMargin,

    "q_cdc_diff" ->
      """WITH mk AS (SELECT max(o_orderkey) AS mk FROM orders),
        |off AS (SELECT mk - (mk % 100000000) + 100000000 AS off FROM mk),
        |old AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |new_snap AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + off, o_totalprice, o_orderstatus
        |  FROM orders CROSS JOIN off WHERE o_orderkey % 101 = 0)
        |SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |       WHEN n.o_orderkey IS NULL THEN 'D'
        |       ELSE 'U' END AS op,
        |  o.o_totalprice AS old_price,
        |  n.o_totalprice AS new_price
        |FROM old o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_totalprice <> n.o_totalprice
        |   OR o.o_orderstatus <> n.o_orderstatus
        |ORDER BY o_orderkey""".stripMargin,

    // same two-level daily→monthly re-aggregation of partials
    "q_agg_reagg" ->
      """WITH daily AS (
        |  SELECT strftime(l_shipdate, '%Y-%m-%d') AS day, l_returnflag,
        |    count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |    min(l_extendedprice) AS min_price,
        |    max(l_extendedprice) AS max_price
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT substr(day, 1, 7) AS month, l_returnflag,
        |  CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(sum_qty) AS DECIMAL(38,2)) AS sum_qty,
        |  CAST(CAST(sum(sum_qty) AS VARCHAR) AS DOUBLE) / CAST(sum(n) AS BIGINT) AS avg_qty,
        |  min(min_price) AS min_price,
        |  max(max_price) AS max_price
        |FROM daily GROUP BY 1, 2 ORDER BY month, l_returnflag""".stripMargin,

    // the z interleave is the same unrolled bit expression the Spark
    // side builds (generated by the same loop bounds)
    "q_sort_zorder" -> {
      val zTerms = (0 until 8).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) | (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString("\n        |      | ")
      s"""WITH b AS (
        |  SELECT o_custkey % 256 AS xb,
        |    (epoch_us(o_orderdate) // 86400000000) % 256 AS yb
        |  FROM orders),
        |zt AS (
        |  SELECT xb, yb,
        |    ( $zTerms ) AS z
        |  FROM b)
        |SELECT z // 1024 AS zblock, count(*) AS n,
        |  min(xb) AS x_min, max(xb) AS x_max,
        |  min(yb) AS y_min, max(yb) AS y_max
        |FROM zt GROUP BY 1 ORDER BY zblock""".stripMargin
    },

    "q_feature_matrix" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_value,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_feature_qnorm" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS qn
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_balanced" ->
      """WITH c AS (SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1),
        |m AS (SELECT min(cnt) AS mc FROM c),
        |r AS (SELECT l_returnflag, (mc * 1000000) // cnt AS rate_ppm
        |      FROM c CROSS JOIN m)
        |SELECT l.l_returnflag, count(*) AS n_kept,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty
        |FROM lineitem l JOIN r ON l.l_returnflag = r.l_returnflag
        |WHERE (('0x' || substr(md5(concat_ws('|', l.l_orderkey, l.l_linenumber)), 1, 15))::BIGINT) % 1000000
        |      < r.rate_ppm
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    // single global sweep — equals the Spark side's two-level form by
    // the skyline merge identity
    "q_skyline" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, epoch_us(o_orderdate) AS d_us
        |  FROM orders),
        |s AS (
        |  SELECT o_orderkey, o_totalprice, d_us,
        |    max(d_us) OVER (ORDER BY o_totalprice DESC, d_us DESC, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM b)
        |SELECT o_orderkey, o_totalprice, d_us
        |FROM s WHERE pm IS NULL OR d_us > pm
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE l_discount >= 0.05
        |GROUP BY r_name, o_orderpriority
        |ORDER BY r_name, o_orderpriority""".stripMargin,

    "q_sample_weighted" ->
      """WITH mx AS (SELECT max(l_extendedprice) AS mx FROM lineitem)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price
        |FROM lineitem, mx
        |WHERE CAST(('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 15))::BIGINT AS DOUBLE) * mx
        |  < l_extendedprice * CAST(1152921504606846976 AS DOUBLE)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_quality_rules" ->
      """WITH base AS (
        |  SELECT count(*) AS n,
        |    count(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0) THEN 1 END) AS v_qty,
        |    count(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 END) AS v_disc,
        |    count(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 END) AS v_rf,
        |    count(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01' THEN 1 END) AS v_ship,
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v_pk
        |  FROM lineitem),
        |fk AS (
        |  SELECT count(*) AS v_fk FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |r AS (
        |  SELECT 'discount_range' AS rule, v_disc AS n_violations, n FROM base
        |  UNION ALL SELECT 'fk_orders', v_fk, n FROM base, fk
        |  UNION ALL SELECT 'pk_unique', v_pk, n FROM base
        |  UNION ALL SELECT 'quantity_range', v_qty, n FROM base
        |  UNION ALL SELECT 'returnflag_domain', v_rf, n FROM base
        |  UNION ALL SELECT 'shipdate_lt_2000', v_ship, n FROM base)
        |SELECT rule, n AS n_checked, n_violations,
        |  CAST(n_violations AS DOUBLE) / CAST(n AS DOUBLE) AS viol_rate,
        |  n_violations = 0 AS passed
        |FROM r ORDER BY rule""".stripMargin,

    "q_graph_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT x.p AS a, y.p AS b
        |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
        |  GROUP BY x.p, y.p HAVING count(*) >= 2),
        |verts AS (
        |  SELECT count(DISTINCT v) AS n_vertices FROM (
        |    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)),
        |ne AS (SELECT count(*) AS n_edges FROM edges),
        |wedges AS (
        |  SELECT e1.a AS wa, e2.b AS wc FROM edges e1 JOIN edges e2 ON e1.b = e2.a),
        |nw AS (SELECT count(*) AS n_wedges FROM wedges),
        |nt AS (
        |  SELECT count(*) AS n_triangles
        |  FROM wedges w JOIN edges e3 ON w.wa = e3.a AND w.wc = e3.b)
        |SELECT n_vertices, n_edges, n_wedges, n_triangles
        |FROM verts, ne, nw, nt""".stripMargin,

    "q_graph_jaccard" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT x.p AS a, y.p AS b
        |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
        |  GROUP BY x.p, y.p HAVING count(*) >= 2),
        |und AS (
        |  SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
        |deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
        |cmn AS (
        |  SELECT e.a, e.b, count(*) AS common
        |  FROM edges e
        |  JOIN und na ON e.a = na.u
        |  JOIN und nb ON e.b = nb.u AND na.v = nb.v
        |  GROUP BY e.a, e.b)
        |SELECT c.a, c.b, da.dg AS da, db.dg AS db, c.common,
        |  CAST(c.common AS DOUBLE) / (da.dg + db.dg - c.common) AS jacc
        |FROM cmn c
        |JOIN deg da ON c.a = da.u
        |JOIN deg db ON c.b = db.u
        |ORDER BY c.a, c.b""".stripMargin,

    "q_sample_topn" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars
        |  FROM documents
        |  ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#topn'), 1, 15))::BIGINT,
        |    doc_id
        |  LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "q_privacy_kanon" ->
      """SELECT c_nationkey, c_mktsegment, (c_acctbal < 0) AS overdrawn,
        |  count(*) AS n, (count(*) >= 5) AS k_anonymous,
        |  CAST(1.0 AS DOUBLE) / count(*) AS risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment, overdrawn""".stripMargin,

    "q_graph_pagerank" -> {
      // five unrolled power-iteration CTEs, generated by the same loop
      // bounds as the Spark side (integer-scaled ranks, see the query)
      val rounds = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT deg.u, deg.dg, 150000000000 // nv.n + (85 * t.sc) // 100 AS r
           |  FROM (SELECT und.v AS u, CAST(sum(r${i - 1}.r // r${i - 1}.dg) AS BIGINT) AS sc
           |        FROM und JOIN r${i - 1} ON und.u = r${i - 1}.u GROUP BY und.v) t
           |  JOIN deg ON t.u = deg.u CROSS JOIN nv)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |edges AS (
         |  SELECT x.p AS a, y.p AS b
         |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
         |  GROUP BY x.p, y.p HAVING count(*) >= 2),
         |und AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
         |deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
         |nv AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT deg.u, deg.dg, 1000000000000 // nv.n AS r FROM deg CROSS JOIN nv),
         |$rounds
         |SELECT u AS part, dg AS degree, r AS r_scaled,
         |  CAST(r AS DOUBLE) / 1000000000000.0 AS pr
         |FROM r5 ORDER BY r_scaled DESC, part LIMIT 20""".stripMargin
    },

    // conf as integer ppm (// floors = Spark div on positive
    // operands); lift numerator/denominator are exact BIGINT products
    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |isup AS (SELECT p, count(*) AS sup FROM items GROUP BY p),
        |no AS (SELECT count(DISTINCT o) AS n_orders FROM items),
        |pairs AS (
        |  SELECT x.p AS a, y.p AS b, count(*) AS sab
        |  FROM items x JOIN items y ON x.o = y.o AND x.p <> y.p
        |  GROUP BY x.p, y.p HAVING count(*) >= 2)
        |SELECT a, b, sab, sa.sup AS sa, sb.sup AS sb,
        |  sab * 1000000 // sa.sup AS conf_ppm,
        |  (sab * no.n_orders)::DOUBLE / (sa.sup * sb.sup) AS lift
        |FROM pairs
        |JOIN isup sa ON pairs.a = sa.p
        |JOIN isup sb ON pairs.b = sb.p
        |CROSS JOIN no
        |ORDER BY conf_ppm DESC, a, b LIMIT 50""".stripMargin,

    // bucket = length(bin(deg)) — exact integer log2 both engines
    "q_graph_degdist" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT x.p AS a, y.p AS b
        |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
        |  GROUP BY x.p, y.p HAVING count(*) >= 2),
        |und AS (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges),
        |deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u)
        |SELECT length(bin(dg)) AS bucket, count(*) AS n_vertices,
        |  min(dg) AS min_deg, max(dg) AS max_deg,
        |  CAST(sum(dg) AS BIGINT) AS sum_deg
        |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin,

    // same moment set and token order as the Spark side (q_agg_stats
    // contract): slope/intercept/r2 are pure IEEE expressions over
    // exact decimal sums, repeated verbatim where Spark reuses a val
    "q_stats_ols" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx0,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy0,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx0,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy0,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy0
        |  FROM lineitem GROUP BY l_returnflag),
        |e AS (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) * CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS cxx,
        |    CAST(n AS DOUBLE) * CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS cxy,
        |    CAST(n AS DOUBLE) * CAST(CAST(syy0 AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) * CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS cyy,
        |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sxd,
        |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS syd
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN cxx > 0 AND cyy > 0 THEN cxy / cxx END AS slope,
        |  CASE WHEN cxx > 0 AND cyy > 0
        |       THEN (syd - (cxy / cxx) * sxd) / CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN cxx > 0 AND cyy > 0
        |       THEN (cxy * cxy) / (cxx * cyy) END AS r2
        |FROM e ORDER BY l_returnflag""".stripMargin,

    // three unrolled peeling rounds, each a CTE pair (deg -> keep ->
    // surviving edges) — the finite mirror of the Spark loop
    "q_graph_kcore" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (
        |  SELECT x.p AS a, y.p AS b
        |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
        |  GROUP BY x.p, y.p HAVING count(*) >= 2),
        |d1 AS (SELECT v, count(*) AS dg FROM
        |  (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |k1 AS (SELECT v FROM d1 WHERE dg >= 2),
        |e1 AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1)),
        |d2 AS (SELECT v, count(*) AS dg FROM
        |  (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v),
        |k2 AS (SELECT v FROM d2 WHERE dg >= 2),
        |e2 AS (SELECT a, b FROM e1
        |  WHERE a IN (SELECT v FROM k2) AND b IN (SELECT v FROM k2)),
        |d3 AS (SELECT v, count(*) AS dg FROM
        |  (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v),
        |k3 AS (SELECT v FROM d3 WHERE dg >= 2),
        |e3 AS (SELECT a, b FROM e2
        |  WHERE a IN (SELECT v FROM k3) AND b IN (SELECT v FROM k3))
        |SELECT 1 AS round, (SELECT count(*) FROM k1) AS n_vertices,
        |  (SELECT count(*) FROM e1) AS n_edges
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
        |UNION ALL
        |SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
        |ORDER BY round""".stripMargin,
  )
}
