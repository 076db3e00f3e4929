package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables._

/** Event-time windowing over the events table, batch form: tumbling,
  * sliding (hopping), and session windows via Spark's native window /
  * session_window expressions.
  *
  * Window starts are emitted as epoch microseconds (BIGINT) — Spark
  * unix_micros ≡ DuckDB epoch_us — sidestepping timestamp-tz ambiguity.
  * Value sums go through DECIMAL(18,2) for order-independence.
  */
object TimeWindowQueries {

  /** Split boundary for the distribution-drift monitor, shared by
    * q_drift, q_stats_ks and their oracles.
    */
  val DriftSplit = "2024-01-16 00:00:00"

  /** Per-user sequence cap for q_win_pattern: only the first
    * MaxSeqLen events (by ts, event_id) of a user's history enter the
    * collapsed pattern string, bounding the aggregation buffer — and
    * the window state, via the TopKPerGroup heap — regardless of
    * per-user skew. Mirrored verbatim in the DuckDB oracle.
    */
  val MaxSeqLen = 512

  /** Inactivity gap of every session query (q_win_session,
    * q_session_state, q_join_overlap) and of their oracles: a session
    * breaks when the next event is 10 minutes or more after the last.
    */
  val SessionGapUs: Long = 10L * 60 * 1000000

  /** Spark's session_window extends a session with any event whose
    * window starts at or before the session's end, so a gap of exactly
    * SessionGapUs would merge. Windows 1 µs shorter break at a gap of
    * SessionGapUs or more, as q_session_state and the oracles do; the
    * session end is `w.end + 1`.
    */
  private def sessionWindow = session_window(col("ts"), s"${SessionGapUs - 1} microseconds")

  /** Burst gap of q_win_debounce and its oracle: 12 hours. */
  val DebounceGapUs: Long = 12L * 60 * 60 * 1000000

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // Tumbling 1-hour windows per event type. Scale: single shuffle on
    // (window, type); partial aggregation does the heavy lifting map-side.
    "q_win_tumbling" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("total"))
        .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"),
          col("n"), col("total"))
        .orderBy("ws_us", "event_type")),

    // Sliding 1-hour windows hopping every 15 minutes: each event lands
    // in exactly 4 windows (Spark expands via Expand, then aggregates —
    // row amplification ×4 happens before the shuffle, which is the
    // right tradeoff vs a range join).
    "q_win_sliding" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("nd_users"))
        .select(unix_micros(col("w.start")).as("ws_us"), col("n"), col("nd_users"))
        .orderBy("ws_us")),

    // Custom-state sessionization (flatMapGroupsWithState) — identical
    // semantics to q_win_session via a different operator; shares its
    // oracle SQL.
    "q_session_state" -> ((s, d) => sessions(s, d)),

    // Session windows with a 10-minute inactivity gap per user
    // (sessionWindow); session end = last + gap. Scale: one shuffle on
    // user_id; state is bounded per user.
    "q_win_session" -> ((s, d) =>
      events(s, d)
        .groupBy(sessionWindow.as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("total"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          (unix_micros(col("w.end")) + 1).as("end_us"),
          col("n"), col("total"))
        .orderBy("user_id", "start_us")),

    // Gap-filled daily time series: a calendar spine (sequence over the
    // observed [min, max] day range) × the event-type dimension, left
    // join of the daily aggregate, missing cells filled with zeros —
    // the standard dashboard/training-curve densification. Scale: the
    // heavy side (the daily aggregate) is map-side combined down to
    // days × types rows; the spine is bounded by the calendar, so the
    // final left join is trivially broadcastable no matter the corpus
    // size. Days are emitted as 'yyyy-MM-dd' strings (a raw DATE column
    // surfaces as python date objects on the Spark side of the driver's
    // comparator but datetime64 on the DuckDB side).
    "q_win_gapfill" -> ((s, d) => {
      val e = events(s, d).select(to_date(col("ts")).as("day"), col("event_type"),
        col("value"))
      val daily = e.groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("total"))
      val spine = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val types = e.select("event_type").distinct()
      spine.crossJoin(types)
        .join(daily, Seq("day", "event_type"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("total"), lit(0).cast(Dec382)).as("total"))
        .orderBy("day", "event_type")
    }),

    // Exponential smoothing (EWMA, alpha = 1/2) per user — the
    // order-dependent recursive scan feature pipelines run on event
    // streams. No window frame expresses s_i = (s_{i-1} + x_i)/2, so
    // the sequence is assembled deterministically (sort_array over
    // (ts, event_id) structs — event_id is the unique tie-break) and
    // folded left-to-right with a HOF; DuckDB's list_reduce runs the
    // SAME fold in the SAME order, so the IEEE doubles agree bitwise.
    // Scale: per-key state = that key's history (bounded by per-user
    // event counts).
    "q_win_ewma" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(
          col("tus"), col("event_id"), col("value")))).as("seq"))
        .select(col("user_id"),
          size(col("seq")).as("n_events"),
          expr("""aggregate(transform(seq, e -> e.value), CAST(NULL AS DOUBLE),
                 (acc, x) -> CASE WHEN acc IS NULL THEN x
                                  ELSE 0.5D * acc + 0.5D * x END)""").as("ewma"))
        .orderBy("user_id")),

    // Ordered conversion funnel: view → first click strictly after the
    // user's first view → first purchase strictly after that click;
    // one row per stage with the surviving-user count. Every join and
    // aggregate keys on user_id, so the whole funnel is ONE hash
    // partitioning reused across stages (co-partitioned joins don't
    // re-shuffle); per-stage state is a single timestamp per user. At
    // 100 TB: the event scan is filtered to the three stage types
    // before any shuffle, and stage tables shrink monotonically.
    "q_win_funnel" -> ((s, d) => {
      val e = events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("tus")).as("view_us"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("tus") > col("view_us"))
        .groupBy("user_id").agg(min(col("tus")).as("click_us"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("tus") > col("click_us"))
        .groupBy("user_id").agg(min(col("tus")).as("purch_us"))
      v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
        .orderBy("stage")
    }),

    // Cohort retention: users grouped by first-activity day, then the
    // count of distinct users still active at each day offset — the
    // engagement/retention triangle. The cohort aggregate and the
    // join back both key on user_id (one hash partitioning, reused);
    // the result is bounded by days², independent of corpus size.
    "q_win_retention" -> ((s, d) => {
      val e = events(s, d).select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohort = e.groupBy("user_id").agg(min(col("day")).as("c_day"))
      e.join(cohort, "user_id")
        .select(col("user_id"), col("c_day"),
          datediff(col("day"), col("c_day")).as("offset_d"))
        .groupBy(col("c_day"), col("offset_d"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("c_day"), "yyyy-MM-dd").as("cohort_day"),
          col("offset_d"), col("n_users"))
        .orderBy("cohort_day", "offset_d")
    }),

    // Interval-overlap join: per-user activity sessions (same
    // session_window as q_win_session) vs a business-hours window
    // grid (09:00–17:00 UTC per observed day) — "how many sessions
    // touched each maintenance window". Implemented the scale way:
    // sessions explode over the days they span (sessions are
    // minutes-long, so ≤2 rows each), the join is an EQUI-join on day
    // with the overlap condition as a residual — never a nested-loop
    // over sessions × windows. The window spine is calendar-bounded,
    // so at 100 TB the join cost is |sessions| regardless of grid size.
    "q_join_overlap" -> ((s, d) => {
      val sess = events(s, d)
        .groupBy(sessionWindow.as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("s_us"), (unix_micros(col("w.end")) + 1).as("e_us"))
      val wins = events(s, d)
        .agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .select(col("day"),
          (unix_micros(col("day").cast("timestamp")) + lit(32400000000L)).as("w_start_us"),
          (unix_micros(col("day").cast("timestamp")) + lit(61200000000L)).as("w_end_us"))
      sess
        .withColumn("day", explode(expr(
          "sequence(to_date(timestamp_micros(s_us)), to_date(timestamp_micros(e_us)))")))
        .join(wins, Seq("day"))
        .filter(col("s_us") < col("w_end_us") && col("w_start_us") < col("e_us"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"), countDistinct(col("user_id")).as("nd_users"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_sessions"), col("nd_users"))
        .orderBy("day")
    }),

    // Last-touch attribution: each purchase is credited to the user's
    // most recent PRIOR touch event (view or click) — the standard
    // marketing/conversion-credit pass. One window per user (ordered
    // by ts with the unique event_id tie-break), last(ignoreNulls)
    // over a frame that excludes the current row; purchases with no
    // prior touch fall into 'none'. One hash partitioning on user_id;
    // per-user state is bounded by history length.
    "q_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("touch",
          last(when(col("event_type").isin("view", "click"), col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("total_value"))
        .orderBy("touch_type")
    }),

    // Out-of-order / late-data accounting — the batch observability
    // pass that sizes streaming watermarks: using event_id as the
    // arrival-order proxy, an event is "late" when it is more than
    // 10 minutes older than the per-user max event time already seen
    // on arrival. Disorder is measured per user key (bounded window
    // state, one shuffle) rather than globally — a global running max
    // is inherently sequential and would not distribute; per-key
    // disorder is also what actually drives keyed streaming state.
    "q_win_late" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev_max", max(col("tus")).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("prev_max") - col("tus") > 600000000L, 1)).as("n_late"),
          max(greatest(col("prev_max") - col("tus"), lit(0L))).as("max_disorder_us"))
        .orderBy("event_type")
    }),

    // Input-distribution drift monitor — the pipeline health check
    // that catches upstream changes before they poison training data:
    // event-type rates in the two halves of the month (split at a
    // fixed boundary) with the per-type absolute rate delta. All
    // counts are exact integers accumulated in ONE map-side-combined
    // pass (the window tag is a row-local CASE, never a shuffle key);
    // rates and drift are double divisions of exact ints — cross-
    // engine identical. At 100 TB this runs per ingestion batch
    // against the trailing-window profile; same plan, the only change
    // is the split predicate.
    "q_drift" -> ((s, d) => {
      val split = lit(DriftSplit).cast("timestamp")
      val counts = events(s, d)
        .groupBy("event_type")
        .agg(count(when(col("ts") < split, 1)).as("n_a"),
          count(when(col("ts") >= split, 1)).as("n_b"))
      val tot = counts.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
      val ra = col("n_a").cast("double") / col("t_a").cast("double")
      val rb = col("n_b").cast("double") / col("t_b").cast("double")
      counts.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_a"), col("n_b"),
          ra.as("rate_a"), rb.as("rate_b"), abs(ra - rb).as("abs_drift"))
        .orderBy("event_type")
    }),

    // Point-in-time feature assembly — the feature-store join: for
    // each label row (purchase) build the feature vector AS OF
    // strictly before its timestamp — last view value, last click
    // value, running signup count — with zero leakage (the frame ends
    // at -1, so a same-timestamp feature event can't contaminate its
    // own label; ties inside one timestamp break on event_id in both
    // engines). This generalizes q_join_asof from one "most recent
    // event" to a multi-feature vector assembled in ONE pass: a single
    // hash partitioning on the entity key serves all features, where
    // the naive form runs one as-of join per feature table (N shuffles
    // + N sort-merges at 100 TB). Feature values are copied verbatim
    // (no arithmetic) — cross-engine exact.
    "q_join_pit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"), col("value"))
        // all three features in ONE projection: chained withColumn
        // leaves three stacked Window nodes (CollapseWindow can't see
        // through the interleaved Projects); a single select plans one
        // Window pass over the one sorted partitioning
        .select(col("user_id"), col("event_id"), col("tus"), col("event_type"),
          last(when(col("event_type") === "view", col("value")),
            ignoreNulls = true).over(w).as("f_last_view_value"),
          last(when(col("event_type") === "click", col("value")),
            ignoreNulls = true).over(w).as("f_last_click_value"),
          count(when(col("event_type") === "signup", 1)).over(w).as("f_n_signups"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tus").as("purchase_us"),
          col("f_last_view_value"), col("f_last_click_value"), col("f_n_signups"))
        .orderBy("event_id")
    }),

    // Event-type transition matrix (first-order Markov model build):
    // consecutive event pairs per user via lead(), counted into
    // (from, to) cells with the transition probability derived from
    // exact integer counts — the sequence-model statistics pass
    // (session-flow analysis, next-event prediction baselines). One
    // window shuffle on user_id, then a constant-size (|types|²)
    // aggregate; probabilities are one double division of exact ints.
    "q_win_transitions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wf = Window.partitionBy("from_type")
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") / sum(col("n")).over(wf))
        .orderBy("from_type", "to_type")
    }),

    // Rolling EXACT median of the last 7 values per user (6 preceding +
    // current, row frame) — the robust-smoothing counterpart of
    // q_win_ewma: outlier-resistant per-entity signal denoising for
    // metric streams. Spark has no percentile window over a row frame,
    // so the frame is collected (bounded: ≤ 7 doubles), sorted, and the
    // middle element(s) picked exactly — odd frame → the middle value
    // verbatim, even frame → (lo+hi)/2, bit-identical to DuckDB's
    // windowed median interpolation. Scale: ONE user-keyed window
    // shuffle, O(k log k) per row with k = 7 a compile-time constant —
    // per-row state is bounded regardless of corpus size, unlike a
    // growing-frame collect.
    "q_win_rollmedian" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(-6, Window.currentRow)
      events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
        .withColumn("fr", sort_array(collect_list(col("value")).over(w)))
        .withColumn("m", size(col("fr")))
        .select(col("event_id"), col("user_id"),
          size(col("fr")).cast("long").as("n_frame"),
          when(col("m") % 2 === 1,
            element_at(col("fr"), ((col("m") + 1) / 2).cast("int")))
            .otherwise((element_at(col("fr"), (col("m") / 2).cast("int")) +
              element_at(col("fr"), (col("m") / 2 + 1).cast("int"))) / 2.0)
            .as("roll_median"))
        .orderBy("event_id")
    }),

    // LOCF imputation (last observation carried forward): per-entity
    // time-ordered fill of missing measurements with the most recent
    // observed value — the standard sensor/feature-pipeline repair
    // before model training (q_win_gapfill densifies missing ROWS;
    // this repairs missing VALUES on existing rows). Missingness is
    // synthesized deterministically (event_id mod 7 < 3 → NULL, the
    // corpus has no natural nulls) so the gate exercises real fills at
    // every SF. last(ignoreNulls) over an unbounded-preceding row
    // frame is computed in one forward pass per entity — running
    // state is ONE value per user. Leading nulls (no prior
    // observation) fall back to 0.0. No arithmetic touches the carried
    // double — it's the source bit pattern — so cross-engine equality
    // is exact. Scale: ONE user-keyed window shuffle, O(1) per-row
    // state; at 100 TB this is the same shape as any per-entity
    // cumulative window.
    "q_impute_locf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          when(pmod(col("event_id"), lit(7)) < 3, lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
        .select(col("event_id"), col("user_id"), col("tus"),
          col("v").isNull.as("was_missing"),
          coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0.0))
            .as("v_filled"))
        .orderBy("event_id")
    }),

    // Per-entity CUSUM change detection: the sequential-analysis
    // complement of q_drift (which compares two fixed windows
    // globally) — here every event carries the user's cumulative
    // excess over the corpus mean, and an alarm fires when sustained
    // positive deviation accumulates. The textbook recursive form
    // S_t = max(0, S_{t-1} + dev_t) is not window-expressible, but its
    // closed form is: S_t = cumsum(dev) - running_min(cumsum(dev)) —
    // two windows over ONE user-keyed partitioning. Exactness: the
    // mean is never divided out — dev is scaled through by n
    // (dev_t = n·x_t - Σx, all DECIMAL integer arithmetic), so cumsum
    // and running-min are exact and the alarm threshold compares
    // decimals to integers; the only double is the output cast.
    // Scale: one 1-row broadcast aggregate + one keyed shuffle, O(1)
    // per-row window state — the same 100 TB envelope as any
    // per-entity cumulative window.
    "q_win_cusum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("value").cast(Dec2).as("x"))
      val tot = ev.agg(sum(col("x")).cast(Dec382).as("sx"),
        count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.crossJoin(broadcast(tot))
        .withColumn("dev", (col("x") * col("n")).cast(Dec382) - col("sx"))
        .withColumn("cs", sum(col("dev")).over(w))
        .withColumn("stat", col("cs") - min(col("cs")).over(w))
        .select(col("event_id"), col("user_id"), col("tus"),
          col("stat").cast("double").as("cusum"),
          (col("stat") > col("n") * lit(500L)).as("alarm"))
        .orderBy("event_id")
    }),

    // Time-bar (OHLC) resampling — the downsample-to-bars pass that
    // turns an event stream into fixed-interval features (open/high/
    // low/close/volume per event_type × hour): the standard form for
    // rate dashboards and time-series model inputs. Determinism:
    // open/close pick exact row values through two row_number orders
    // over the SAME (event_type, bar) partitioning — one exchange, two
    // sorts (the q_mine_hardneg pattern) — tie-broken by the unique
    // (ts, event_id); high/low are exact comparisons; the volume total
    // aggregates in exact decimal. Scale: one keyed shuffle, O(1)
    // state per row; bars grow with time × types, never with events.
    "q_win_bars" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = events(s, d)
        .withColumn("ws_us", expr("(unix_micros(ts) div 3600000000) * 3600000000"))
      val wAsc = Window.partitionBy("event_type", "ws_us")
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy("event_type", "ws_us")
        .orderBy(col("ts").desc, col("event_id").desc)
      base.withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy("event_type", "ws_us")
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          max("value").as("high"), min("value").as("low"),
          count(lit(1)).as("n"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("total"))
        .orderBy("event_type", "ws_us")
    }),

    // Hour-of-day seasonality profile per event type — the diurnal
    // baseline a monitoring/forecasting pass subtracts before looking
    // for anomalies (and the feature a time-aware sampler stratifies
    // on): mean value per (type, hour-of-day) plus its deviation from
    // the type's overall mean. Determinism: both means are one double
    // division of exact decimal/integer sums; the type-level totals
    // come from re-aggregating the 24-row hour level through a window
    // (sum over the type's partition), so no second scan of the data.
    // Scale: ONE map-side-combined shuffle on (type, hod) — 24·|types|
    // groups of constant state — then a window over ≤ 24 rows per
    // type; the fact table is read once.
    "q_win_seasonal" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(Dec2)).cast(Dec382).as("sv"))
      val w = Window.partitionBy("event_type")
      hourly
        .withColumn("tn", sum(col("n")).over(w))
        .withColumn("tsv", sum(col("sv")).over(w))
        .select(col("event_type"), col("hod"), col("n"),
          (col("sv").cast("double") / col("n")).as("hour_mean"),
          (col("sv").cast("double") / col("n")
            - col("tsv").cast("double") / col("tn")).as("dev"))
        .orderBy("event_type", "hod")
    }),

    // Lag-1/lag-2 autocorrelation of the hourly event-count series per
    // type — the time-series health probe (is traffic self-similar
    // hour over hour?) that sizes forecasting windows and flags
    // periodicity loss after an ingestion change. Shape: aggregate to
    // the hourly series FIRST (the data reduction — counts are exact
    // integers), then lag via a window over ONE type-keyed
    // partitioning of the tiny series table, then Pearson r over
    // (c, lag_k(c)) pairs from exact decimal co-moments with the
    // q_agg_stats token-order contract. Products are cast to
    // DECIMAL(38,0) BEFORE summing so hour counts of any magnitude
    // (10⁹ rows/hour at 100 TB) cannot overflow long arithmetic.
    // Scale: one map-side-combined shuffle on (type, hour); everything
    // after runs on |types|·|hours| rows.
    "q_ts_autocorr" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, d)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hb"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("hb")
      val lagged = hourly
        .withColumn("l1", lag(col("c"), 1).over(w))
        .withColumn("l2", lag(col("c"), 2).over(w))
        .transform(graft.Checkpoint.apply)
      def d2(c: String) = col(c).cast("double")
      val nd = col("n").cast("double")
      // zero-variance guard: a constant series (vx or vy = 0) yields
      // NULL, not NaN/Inf — IEEE division-by-zero renders differently
      // across engines, NULL identically (oracle mirrors the CASE)
      val vx = nd * d2("sxx") - d2("sx") * d2("sx")
      val vy = nd * d2("syy") - d2("sy") * d2("sy")
      val acOf = when(vx > 0 && vy > 0,
        (nd * d2("sxy") - d2("sx") * d2("sy")) / (sqrt(vx) * sqrt(vy)))
      val branches = Seq(1 -> col("l1"), 2 -> col("l2")).map { case (k, lc) =>
        val x = col("c").cast(Dec380)
        val y = lc.cast(Dec380)
        lagged.filter(lc.isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum((x * x).cast(Dec380)).as("sxx"),
            sum((x * y).cast(Dec380)).as("sxy"),
            sum((y * y).cast(Dec380)).as("syy"))
          .select(col("event_type"), lit(k).cast("long").as("lag_k"),
            col("n"), acOf.as("autocorr"))
      }
      branches.reduce(_.union(_)).orderBy("event_type", "lag_k")
    }),

    // Two-sample Kolmogorov–Smirnov statistic between the pre-split
    // and post-split value distributions — the rigorous companion to
    // q_drift's rate deltas (KS detects SHAPE changes the mean-rate
    // monitor misses; it is the standard train/serve skew test).
    // Exactness: the sup is taken over per-distinct-value cumulative
    // counts with the comparison done on EXACT integers — D's
    // numerator |c1·n2 − c2·n1| in DECIMAL(38,0) — so the argmax is
    // engine-independent; the only double is the final division.
    // Scale shape: groupBy(value) is the data reduction (map-side
    // combined, |distinct values| groups); the cumulative runs as 64
    // fixed range buckets on the value grid — per-bucket counts → a
    // 64×64 theta-join for exclusive prefix offsets + within-bucket
    // window — the q_shuffle_epoch pattern, so there is NO
    // single-partition exchange over the value table at any scale.
    "q_stats_ks" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val split = lit(DriftSplit).cast("timestamp")
      val byVal = events(s, d)
        .select(col("value").cast(Dec2).as("v"), (col("ts") < split).as("pre"))
        .groupBy("v")
        .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("pre"), 1L).otherwise(0L)).as("c2"))
        .withColumn("bkt", least(lit(63L), floor(col("v") / 10).cast("long")))
        .transform(graft.Checkpoint.apply)
      val tot = byVal.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      val bt = byVal.groupBy("bkt")
        .agg(sum("c1").as("b1"), sum("c2").as("b2"))
      val off = bt.as("l").join(bt.as("r"), col("r.bkt") < col("l.bkt"), "left")
        .groupBy(col("l.bkt").as("obkt"))
        .agg(coalesce(sum(col("r.b1")), lit(0L)).as("o1"),
          coalesce(sum(col("r.b2")), lit(0L)).as("o2"))
      val w = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal
        .withColumn("w1", sum("c1").over(w))
        .withColumn("w2", sum("c2").over(w))
        .join(off, col("bkt") === col("obkt"))
        .crossJoin(broadcast(tot))
        .select(col("v"), col("n1"), col("n2"),
          ((col("o1") + col("w1")).cast(Dec380) * col("n2")
            - (col("o2") + col("w2")).cast(Dec380) * col("n1")).as("sd"))
        .withColumn("d_num", when(col("sd") < 0, -col("sd")).otherwise(col("sd")))
        .orderBy(col("d_num").desc, col("v"))
        .limit(1)
        .select(col("n1"), col("n2"), col("v").cast("double").as("v_at"),
          col("d_num").cast("double").as("d_num"),
          (col("d_num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))).as("ks"))
    }),

    // Sequence-pattern cohort matching — the MATCH_RECOGNIZE-style
    // behavioral query: each user's full event history collapses to an
    // ordered initial string (v/c/p/s/e per event), and cohorts are
    // counted by regex over that sequence — conversion paths, repeated
    // errors, single-event bounces. This is the free-form complement
    // to q_win_funnel's fixed three-stage ladder. Determinism: the
    // sequence orders by the unique (ts, event_id); every initial is
    // distinct per type; the three regexes use only '.'/'*'/anchors —
    // semantics identical between Java regex and DuckDB's RE2. Scale:
    // per-user state is BOUNDED — only the first MaxSeqLen (512)
    // events of a user's history (by ts, event_id) enter the
    // sequence, enforced by a rn <= 512 filter that the
    // TopKRewriteRule plans as the bounded-heap TopKPerGroup operator
    // (a 512-slot heap per user: no full per-user sort and no
    // unbounded collect buffer, so a 10^8-event bot user costs the
    // same 512 slots as anyone else; the DuckDB oracle applies the
    // identical bound). ONE user-keyed shuffle builds the per-user
    // string; the pattern probes are row-local over |users| rows into
    // one 1-row aggregate, reshaped by stack().
    "q_win_pattern" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val seqs = events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), substring(col("event_type"), 1, 1).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy("tus", "event_id")))
        .filter(col("rn") <= MaxSeqLen)
        .drop("rn")
        .groupBy("user_id")
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(tus, event_id, c))), x -> x.c)"),
          "").as("seq"))
      val pats = Seq(
        "p_conversion" -> "v.*c.*p",
        "p_error_pair" -> "ee",
        "p_bounce" -> "^.$")
      val aggs = count(lit(1)).as("n_users") +:
        pats.map { case (nm, re) =>
          sum(when(col("seq").rlike(re), 1L).otherwise(0L)).as(s"m_$nm") }
      val stackArgs = pats.map { case (nm, _) => s"'$nm', m_$nm" }.mkString(", ")
      seqs.agg(aggs.head, aggs.tail: _*)
        .select(col("n_users"), expr(
          s"stack(${pats.size}, $stackArgs) as (pattern, n_match)"))
        .select(col("pattern"), col("n_match"), col("n_users"),
          (col("n_match").cast("double") / col("n_users")).as("share"))
        .orderBy("pattern")
    }),

    // Event debouncing / notification throttling — the
    // stream-cleaning pass that collapses repeats before counting
    // anything: within each (user, event_type), events closer than
    // 12 h to their predecessor chain into one burst, and only the
    // burst's FIRST event survives (carrying the burst size, so
    // downstream can distinguish "one signup" from "one signup
    // reported 14 times" — repeated-error suppression, digest
    // batching, at-least-once source dedup). Mechanics: the
    // sessionize pattern at a tighter gap — a break flag, a running
    // burst id, then keep-first per burst via the rn = 1 filter, which
    // the TopKRewriteRule plans as the bounded-heap TopKPerGroup
    // operator (no full window sort for the keep-first pick). The
    // burst-size count shares the same (user, type) partitioning.
    // Scale: ONE keyed shuffle; O(1) per-row window state.
    "q_win_debounce" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy("user_id", "event_type")
        .orderBy("tus", "event_id")
      val flagged = events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev", lag(col("tus"), 1).over(wo))
        .withColumn("brk",
          when(col("prev").isNull || col("tus") - col("prev") >= DebounceGapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wb = Window.partitionBy("user_id", "event_type", "sid")
      flagged
        .withColumn("burst_n", count(lit(1)).over(wb))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "event_type", "sid")
            .orderBy("tus", "event_id")))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("tus"), col("burst_n"))
        .orderBy("event_id")
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_win_bars" ->
      """WITH b AS (
        |  SELECT event_type, (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
        |    epoch_us(ts) AS tus, event_id, value FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, ws_us ORDER BY tus, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, ws_us ORDER BY tus DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT event_type, ws_us,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  max(value) AS high, min(value) AS low, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM r GROUP BY event_type, ws_us
        |ORDER BY event_type, ws_us""".stripMargin,

    "q_win_tumbling" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM events
        |GROUP BY 1, 2 ORDER BY ws_us, event_type""".stripMargin,

    "q_win_sliding" ->
      """SELECT (epoch_us(ts) // 900000000) * 900000000 - k.k * 900000000::BIGINT AS ws_us,
        |  count(*) AS n,
        |  count(DISTINCT user_id) AS nd_users
        |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(k)
        |GROUP BY 1 ORDER BY ws_us""".stripMargin,

    "q_session_state" -> sessionOracle,
    "q_win_session" -> sessionOracle,

    "q_win_gapfill" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value FROM events
        |), b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |spine AS (
        |  -- list form: the table-function form only takes constants
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b
        |), types AS (SELECT DISTINCT event_type FROM e),
        |daily AS (
        |  SELECT day, event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |  FROM e GROUP BY day, event_type)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day, t.event_type,
        |  coalesce(d.n, 0::BIGINT) AS n,
        |  CAST(coalesce(d.total, 0) AS DECIMAL(38,2)) AS total
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
        |ORDER BY day, t.event_type""".stripMargin,

    // list_reduce seeds with the first element — same fold as the
    // Spark side's NULL-seeded CASE
    "q_win_ewma" ->
      """SELECT user_id, CAST(len(seq) AS INT) AS n_events,
        |  list_reduce(list_transform(seq, e -> e.v),
        |              (acc, x) -> 0.5 * acc + 0.5 * x) AS ewma
        |FROM (
        |  SELECT user_id,
        |    list_sort(list(struct_pack(tus := epoch_us(ts),
        |                               eid := event_id, v := value))) AS seq
        |  FROM events GROUP BY user_id)
        |ORDER BY user_id""".stripMargin,

    "q_win_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS view_us
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.view_us
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS purch_us
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        |  GROUP BY e.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin,

    "q_win_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS c_day FROM e GROUP BY user_id)
        |SELECT strftime(c.c_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(e.day - c.c_day AS INT) AS offset_d,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, offset_d""".stripMargin,

    "q_join_overlap" -> overlapOracle,

    "q_attribution" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT coalesce(touch, 'none') AS touch_type,
        |  count(*) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch_type""".stripMargin,

    "q_win_late" ->
      """WITH t AS (
        |  SELECT event_type, epoch_us(ts) AS tus,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |  count(CASE WHEN prev_max - tus > 600000000 THEN 1 END) AS n_late,
        |  max(greatest(prev_max - tus, 0)) AS max_disorder_us
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_win_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM pairs WHERE to_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // DuckDB's windowed median over an even-size frame interpolates
    // (lo+hi)/2 — the same arithmetic the Spark side does explicitly
    "q_win_rollmedian" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_frame,
        |  median(value) OVER w AS roll_median
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_impute_locf" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    CASE WHEN event_id % 7 < 3 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, user_id, tus,
        |  v IS NULL AS was_missing,
        |  coalesce(last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    CAST(0 AS DOUBLE)) AS v_filled
        |FROM e ORDER BY event_id""".stripMargin,

    "q_win_cusum" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events),
        |t AS (SELECT CAST(sum(x) AS DECIMAL(38,2)) AS sx, count(*) AS n FROM ev),
        |c AS (
        |  SELECT event_id, user_id, tus, n,
        |    sum(CAST(x * n AS DECIMAL(38,2)) - sx) OVER (
        |      PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM ev CROSS JOIN t),
        |s AS (
        |  SELECT event_id, user_id, tus, n, cs,
        |    cs - min(cs) OVER (
        |      PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stat
        |  FROM c)
        |SELECT event_id, user_id, tus,
        |  CAST(CAST(stat AS VARCHAR) AS DOUBLE) AS cusum,
        |  stat > n * 500 AS alarm
        |FROM s ORDER BY event_id""".stripMargin,

    "q_drift" ->
      s"""WITH c AS (
        |  SELECT event_type,
        |    count(CASE WHEN ts < TIMESTAMP '$DriftSplit' THEN 1 END) AS n_a,
        |    count(CASE WHEN ts >= TIMESTAMP '$DriftSplit' THEN 1 END) AS n_b
        |  FROM events GROUP BY event_type),
        |t AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM c)
        |SELECT event_type, n_a, n_b,
        |  CAST(n_a AS DOUBLE) / CAST(t_a AS DOUBLE) AS rate_a,
        |  CAST(n_b AS DOUBLE) / CAST(t_b AS DOUBLE) AS rate_b,
        |  abs(CAST(n_a AS DOUBLE) / CAST(t_a AS DOUBLE)
        |    - CAST(n_b AS DOUBLE) / CAST(t_b AS DOUBLE)) AS abs_drift
        |FROM c CROSS JOIN t ORDER BY event_type""".stripMargin,

    "q_join_pit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type, value,
        |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
        |      OVER w AS f_last_view_value,
        |    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |      OVER w AS f_last_click_value,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END)
        |      OVER w AS f_n_signups
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, tus AS purchase_us,
        |  f_last_view_value, f_last_click_value, f_n_signups
        |FROM e WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // hour() on a timestamp is hour-of-day in both engines (session TZ
    // UTC); type-level totals re-aggregate the 24-row hour level
    "q_win_seasonal" ->
      """WITH h AS (
        |  SELECT event_type, hour(ts) AS hod, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sv
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT *,
        |    sum(n) OVER (PARTITION BY event_type) AS tn,
        |    sum(sv) OVER (PARTITION BY event_type) AS tsv
        |  FROM h)
        |SELECT event_type, hod, n,
        |  CAST(CAST(sv AS VARCHAR) AS DOUBLE) / n AS hour_mean,
        |  CAST(CAST(sv AS VARCHAR) AS DOUBLE) / n
        |    - CAST(CAST(tsv AS VARCHAR) AS DOUBLE) / tn AS dev
        |FROM t ORDER BY event_type, hod""".stripMargin,

    // hourly series first (the data reduction), then Pearson r of
    // (c, lag_k(c)) from exact co-moments — token order matches Spark
    "q_ts_autocorr" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hb, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, c,
        |    lag(c, 1) OVER (PARTITION BY event_type ORDER BY hb) AS l1,
        |    lag(c, 2) OVER (PARTITION BY event_type ORDER BY hb) AS l2
        |  FROM h),
        |m1 AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(c) AS sx, sum(l1) AS sy, sum(c*c) AS sxx,
        |    sum(c*l1) AS sxy, sum(l1*l1) AS syy
        |  FROM l WHERE l1 IS NOT NULL GROUP BY event_type),
        |m2 AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(c) AS sx, sum(l2) AS sy, sum(c*c) AS sxx,
        |    sum(c*l2) AS sxy, sum(l2*l2) AS syy
        |  FROM l WHERE l2 IS NOT NULL GROUP BY event_type),
        |u AS (
        |  SELECT event_type, 1 AS lag_k, n, sx, sy, sxx, sxy, syy FROM m1
        |  UNION ALL
        |  SELECT event_type, 2, n, sx, sy, sxx, sxy, syy FROM m2),
        |v AS (
        |  SELECT event_type, lag_k, n,
        |    CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS cnum,
        |    CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |      - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS vy
        |  FROM u)
        |SELECT event_type, lag_k, n,
        |  CASE WHEN vx > 0 AND vy > 0
        |       THEN cnum / (sqrt(vx) * sqrt(vy)) END AS autocorr
        |FROM v ORDER BY event_type, lag_k""".stripMargin,

    // single window over distinct values — same math as the bucketed
    // prefix form (exact integer sup), argmax tie-broken by lowest v
    "q_stats_ks" ->
      s"""WITH b AS (
         |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
         |    sum(CASE WHEN ts < TIMESTAMP '$DriftSplit' THEN 1 ELSE 0 END) AS c1,
         |    sum(CASE WHEN ts < TIMESTAMP '$DriftSplit' THEN 0 ELSE 1 END) AS c2
         |  FROM events GROUP BY 1),
         |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM b),
         |cum AS (
         |  SELECT v,
         |    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w1,
         |    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w2
         |  FROM b),
         |d AS (
         |  SELECT v, abs(w1 * n2 - w2 * n1) AS d_num
         |  FROM cum CROSS JOIN t)
         |SELECT n1, n2, CAST(v AS DOUBLE) AS v_at,
         |  CAST(CAST(d_num AS VARCHAR) AS DOUBLE) AS d_num,
         |  CAST(CAST(d_num AS VARCHAR) AS DOUBLE)
         |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks
         |FROM d CROSS JOIN t ORDER BY d_num DESC, v LIMIT 1""".stripMargin,

    // ordered string_agg builds the same (ts, event_id)-ordered
    // initial sequence over the same first-MaxSeqLen-events bound;
    // regexp_matches (RE2) agrees with Java rlike on these
    // '.'/'*'/anchor-only patterns
    "q_win_pattern" ->
      s"""WITH capped AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |  FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) <= $MaxSeqLen),
        |s AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY tus, event_id) AS seq
        |  FROM capped GROUP BY user_id),
        |m AS (
        |  SELECT count(*) AS n_users,
        |    CAST(sum(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END) AS BIGINT) AS m_conv,
        |    CAST(sum(CASE WHEN regexp_matches(seq, 'ee') THEN 1 ELSE 0 END) AS BIGINT) AS m_err,
        |    CAST(sum(CASE WHEN regexp_matches(seq, '^.$$') THEN 1 ELSE 0 END) AS BIGINT) AS m_bounce
        |  FROM s)
        |SELECT 'p_bounce' AS pattern, m_bounce AS n_match, n_users,
        |  CAST(m_bounce AS DOUBLE) / n_users AS share FROM m
        |UNION ALL
        |SELECT 'p_conversion', m_conv, n_users, CAST(m_conv AS DOUBLE) / n_users FROM m
        |UNION ALL
        |SELECT 'p_error_pair', m_err, n_users, CAST(m_err AS DOUBLE) / n_users FROM m
        |ORDER BY pattern""".stripMargin,

    // sessionize pattern at a 12 h gap; keep-first per burst + the
    // burst size from the same grouping
    "q_win_debounce" ->
      s"""WITH flagged AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= $DebounceGapUs
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id)
        |), numbered AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id, event_type
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), sized AS (
        |  SELECT *,
        |    count(*) OVER (PARTITION BY user_id, event_type, sid) AS burst_n,
        |    row_number() OVER (PARTITION BY user_id, event_type, sid
        |      ORDER BY tus, event_id) AS rn
        |  FROM numbered)
        |SELECT event_id, user_id, event_type, tus,
        |  CAST(burst_n AS BIGINT) AS burst_n
        |FROM sized WHERE rn = 1 ORDER BY event_id""".stripMargin,
  )

  // sessions via the same gaps-and-islands as sessionOracle, then an
  // overlap join (s_us < w_end AND w_start < e_us) against the daily
  // 09:00–17:00 UTC grid
  private val overlapOracle: String =
    s"""WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= $SessionGapUs
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, min(epoch_us(ts)) AS s_us,
      |    max(epoch_us(ts)) + $SessionGapUs AS e_us
      |  FROM numbered GROUP BY user_id, sid
      |), b AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
      |w AS (
      |  SELECT day,
      |    epoch_us(CAST(day AS TIMESTAMP)) + 32400000000 AS w_start_us,
      |    epoch_us(CAST(day AS TIMESTAMP)) + 61200000000 AS w_end_us
      |  FROM (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b))
      |SELECT strftime(w.day, '%Y-%m-%d') AS day,
      |  count(*) AS n_sessions, count(DISTINCT s.user_id) AS nd_users
      |FROM w JOIN sess s ON s.s_us < w.w_end_us AND w.w_start_us < s.e_us
      |GROUP BY w.day ORDER BY day""".stripMargin

  private val sessionOracle: String =
      s"""WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= $SessionGapUs
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  min(epoch_us(ts)) AS start_us,
        |  max(epoch_us(ts)) + $SessionGapUs AS end_us,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin

  // package-private, not private: Spark's generated encoder code calls
  // the constructors and accessors, which `private` would hide
  private[operators] case class EventIn(user_id: Long, ts_us: Long, cents: Long)
  private[operators] case class SessionAcc(start_us: Long, last_us: Long, n: Long, cents: Long)
  private[operators] case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                                           n: Long, total_cents: Long)

  /** One user's sessions: each group arrives complete, so the fold
    * runs once over the events sorted by ts_us and flushes the open
    * session at the end. An event less than a gap after the last one
    * extends the session; equal timestamps need no tie-break, since
    * they land in one session either way and cents addition commutes.
    */
  private def sessionsOf(userId: Long, events: Iterator[EventIn],
                         state: GroupState[SessionAcc]): Iterator[SessionOut] = {
    val sorted = events.toArray.sortBy(_.ts_us)
    val out = Vector.newBuilder[SessionOut]
    def close(a: SessionAcc) =
      SessionOut(userId, a.start_us, a.last_us + SessionGapUs, a.n, a.cents)
    var acc = SessionAcc(sorted.head.ts_us, sorted.head.ts_us, 1, sorted.head.cents)
    sorted.iterator.drop(1).foreach { e =>
      if (e.ts_us - acc.last_us < SessionGapUs)
        acc = SessionAcc(acc.start_us, e.ts_us, acc.n + 1, acc.cents + e.cents)
      else {
        out += close(acc)
        acc = SessionAcc(e.ts_us, e.ts_us, 1, e.cents)
      }
    }
    out += close(acc)
    out.result().iterator
  }

  /** q_session_state: sessionization through the typed
    * flatMapGroupsWithState operator, with the same answer as the
    * declarative q_win_session (session end = last event + gap).
    * Money is accumulated in exact integer cents (inputs are on the
    * 0.01 grid) and converted to DECIMAL at the boundary. Scale: one
    * shuffle on user_id.
    */
  private def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionsOf)
      .toDF()
      .select(col("user_id"), col("start_us"), col("end_us"), col("n"),
        (col("total_cents").cast(Dec382) / lit(100)).cast(Dec382).as("total"))
      .orderBy("user_id", "start_us")
  }
}
