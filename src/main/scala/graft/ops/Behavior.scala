package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** User-behavior analytics over the `events` stream — the query family the
  * reference's event-time engine exists to serve (SURVEY §3 positions it as
  * a realtime behavioral analytics engine; funnels/retention/paths are the
  * canonical workload over its `__time__`-stamped event tables, reference:
  * sp/input/AbstractStreamTable.java:25-38 for the time convention).
  *
  * All four operators are expressed so the per-user work happens inside ONE
  * hash partitioning by `user_id`:
  *
  *   - `funnel` chains four window aggregates over the same
  *     `partitionBy(user_id)` — Catalyst plans consecutive Window nodes on
  *     one partitioning with a single exchange, so the staged-dependency
  *     computation (t2 needs t1, ...) costs one shuffle, not four joins.
  *     At 100 TB the state per user is four longs, never an event list.
  *   - `retention` is distinct (user, day) → per-user window min → count.
  *     The distinct's partial aggregation collapses each user-day map-side
  *     before anything shuffles.
  *   - `transitions` is a single `lead()` pass per user — the shuffle
  *     carries (user, type, ms, id), the transition matrix is a tiny
  *     |types|² aggregate with map-side combine.
  *   - `gapfill` materializes per-user daily closing values (row_number
  *     desc), explodes a per-user day grid (bounded by calendar span, not
  *     data volume), and forward-fills with `last(ignoreNulls)` — the
  *     standard time-grid densification every metrics store needs. The
  *     global max-day is a broadcast 1-row cross join, the same pattern the
  *     corpus ops use for totals.
  *
  * Determinism: event time is BIGINT epoch-millis; ties broken by
  * `event_id`; doubles only copied (never summed across orders) or rounded.
  */
object Behavior {

  /** signup → view → click → purchase, purchase capped at 72 h from signup. */
  val FunnelWindowMs: Long = 72L * 3600 * 1000

  private def wu = Window.partitionBy(col("user_id"))

  /** Per-user staged conversion times + deepest stage reached.
    *
    * Stage k's timestamp is the earliest event of stage-k's type strictly
    * after the stage-(k-1) time — the "ordered funnel" semantics — with
    * EVERY stage bounded to `FunnelWindowMs` after entry (the standard
    * conversion-window definition; it is also what lets the streaming twin
    * resolve each user with bounded state — past t_signup + window the
    * outcome is immutable, see streaming/FunnelStream).
    * Window aggregates over an unbounded user frame keep each stage's value
    * constant per user; the closing groupBy collapses to one row per user
    * on the SAME key the windows partitioned by (exchange reuse).
    */
  def funnel(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), col("__time__").as("ms"))
    val inWin = col("ms") <= col("t_signup") + lit(FunnelWindowMs)
    val staged = e
      .withColumn("t_signup",
        min(when(col("event_type") === "signup", col("ms"))).over(wu))
      .withColumn("t_view",
        min(when(col("event_type") === "view" && col("ms") > col("t_signup") && inWin,
          col("ms"))).over(wu))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ms") > col("t_view") && inWin,
          col("ms"))).over(wu))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ms") > col("t_click") && inWin,
          col("ms"))).over(wu))
    staged
      .where(col("t_signup").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(col("t_signup")).as("t_signup"), max(col("t_view")).as("t_view"),
        max(col("t_click")).as("t_click"), max(col("t_purchase")).as("t_purchase"))
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 4).when(col("t_click").isNotNull, 3)
          .when(col("t_view").isNotNull, 2).otherwise(1).cast("int"))
  }

  /** Cohort retention matrix: users whose FIRST activity fell on
    * `cohort_day`, counted on each later activity day as `offset_days`.
    * `count(1)` == count(distinct user) here because the input is distinct
    * (user, day) and a user maps to exactly one (cohort, offset) per day.
    */
  def retention(events: DataFrame): DataFrame = {
    val d = events.select(col("user_id"), expr("__time__ div 86400000").as("day")).distinct()
    d.withColumn("cohort_day", min(col("day")).over(wu))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("users"))
  }

  /** First-order Markov transition counts between consecutive events of the
    * same user (time order, `event_id` tie-break). Terminal events (no
    * successor) are dropped.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("__time__"), col("event_id"))
    events.select(col("user_id"), col("event_type"), col("__time__"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Daily time-grid densification with forward fill: one row per user per
    * calendar day from the user's first activity to the global max day,
    * carrying the day's closing `value` (latest event wins, id tie-break)
    * forward across silent days. `observed` flags real vs filled rows.
    */
  def gapfill(events: DataFrame): DataFrame = {
    val day = expr("__time__ div 86400000")
    val ev = events.select(col("user_id"), day.as("day"), col("value"),
      col("__time__").as("ms"), col("event_id"))
    val wrn = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ms").desc, col("event_id").desc)
    val daily = ev.withColumn("rn", row_number().over(wrn)).where(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close_value"))
    val bounds = events.agg(max(day).as("max_day"))
    val grid = events.groupBy(col("user_id")).agg(min(day).as("first_day"))
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("first_day"), col("max_day"))).as("day"))
    val wff = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("observed", col("close_value").isNotNull.cast("long"))
      .select(col("user_id"), col("day"),
        round(last(col("close_value"), ignoreNulls = true).over(wff), 6).as("value_ff"),
        col("observed"))
  }

  /** Exponentially weighted moving average of each user's daily event count
    * (α = 1/2) — the smoothing primitive behind activity trending and decay
    * scoring. Computed in the bias-corrected "adjust" form
    * ewma = Σ xₖ·wₖ / Σ wₖ with wₖ = 0.5^(n−k) (pandas `adjust=True`; NOT
    * the plain recurrence ewmaₖ = (ewmaₖ₋₁+xₖ)/2, which overweights the
    * seed) — two fixed-order folds instead of a stateful scan.
    *
    * Determinism (the transcendental-sum discipline of `Stats.entropy`):
    * weights are exact powers of two, products of integer counts by them are
    * exact doubles, and both engines fold the SAME day-sorted list
    * left-to-right — so the one rounding per addition happens identically.
    * A plain SUM over a weight window would accumulate in partition order.
    *
    * Scale shape: one (user, day) count agg — 16-byte shuffle rows — then
    * one per-user fold over a list bounded by the CALENDAR (days active),
    * never by event volume; the same domain bound as `stickiness`.
    */
  def ewma(events: DataFrame): DataFrame = {
    val day = expr("__time__ div 86400000")
    events
      .groupBy(col("user_id"), day.as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("cs"))
      .select(col("user_id"), size(col("cs")).cast("long").as("n_days"),
        expr("round(" +
          "aggregate(transform(cs, (s, i) -> cast(s.n as double)" +
          " * pow(0.5, cast(size(cs) - 1 - i as double))), cast(0.0 as double), (a, b) -> a + b)" +
          " / aggregate(transform(cs, (s, i) ->" +
          " pow(0.5, cast(size(cs) - 1 - i as double))), cast(0.0 as double), (a, b) -> a + b)" +
          ", 6)").as("ewma"))
  }

  /** Audience overlap matrix: for every unordered pair of event types, how
    * many distinct users do both, plus the exact-integer Jaccard — the
    * segment-venn primitive behind "viewers who also purchase" analyses.
    * Same self-join discipline as `copurchase`: DISTINCT (user, type) first
    * (map-side collapsing, multiplicity cannot inflate overlap), then the
    * pair fan per user is bounded by the TYPE DOMAIN (≤ |types|²), never by
    * event volume; per-type audience sizes join back on the 10-row pair
    * table, not the corpus.
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val both = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both")) // (user, pair) rows are unique post-distinct
    both
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        expr("n_both * 1000000L div (n_a + n_b - n_both)").as("jaccard_e6"))
  }

  /** Rolling z-score anomaly detection: flag events whose `value` deviates
    * from the SAME USER's trailing window by more than `zThreshold` standard
    * deviations. The trailing frame excludes the current row (an outlier
    * must not mask itself) and needs `AnomalyMinN` priors to fire.
    *
    * Scale shape: one exchange on user_id + one in-partition sort — the
    * identical one-shuffle cadence as `funnel`/`transitions`; the window
    * state is O(frame) per task. At 100 TB this is the canonical
    * sessionized-scan: no self-join, no collect, monitors stream-compatible
    * semantics (the trailing window is exactly what a streaming state op
    * would hold).
    *
    * Determinism: moments are computed over integer micro-units
    * (`round(value·1e4)` — exact long sums, associative, partition-order
    * immune). The z statistic itself is derived from those exact integers by
    * ONE documented IEEE expression shared with the oracle:
    * z = (n·v − s) · sqrt((n−1)/n) / sqrt(n·ss − s²), then round(·, 4).
    */
  def anomalies(events: DataFrame, frame: Int = AnomalyFrame,
      minN: Int = AnomalyMinN): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(-frame, -1)
    events
      .select(col("event_id"), col("user_id"), col("__time__").as("ms"),
        expr("cast(round(value * 10000) as bigint)").as("v"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("ss", sum(col("v") * col("v")).over(w))
      .filter(col("n") >= minN && (col("n") * col("ss") - col("s") * col("s")) > 0)
      .withColumn("z", expr(
        "round(cast(n * v - s as double) * sqrt(cast(n - 1 as double) / cast(n as double))" +
          " / sqrt(cast(n * ss - s * s as double)), 4)"))
      .filter(abs(col("z")) >= AnomalyZ)
      .select(col("event_id"), col("user_id"), col("ms"), col("v").as("v_e4"),
        col("n"), col("z"))
  }

  val AnomalyFrame = 20
  val AnomalyMinN = 8
  val AnomalyZ = 2.0

  /** Last-touch attribution: credit each purchase to the most recent
    * preceding touch event (view/click) by the same user within the
    * attribution window. The classical marketing query, and the same
    * single-exchange shape as `funnel`: ONE shuffle on user_id, one
    * in-partition sort, one running `last(struct) ignoreNulls` carry-forward
    * over the trailing frame — no purchases×touches join anywhere (the
    * oracle intentionally uses the quadratic row_number formulation to
    * cross-check the window form). Unattributed purchases (no touch in
    * window) surface with NULL touch columns rather than vanishing —
    * spend-reconciliation needs the denominator.
    *
    * Determinism: the carry-forward is over the total order (ms, event_id);
    * value is reported in exact micro-units.
    */
  def attribution(events: DataFrame, windowMs: Long = AttributionWindowMs): DataFrame = {
    val touch = col("event_type").isin("view", "click")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("user_id"), col("event_type"), col("__time__").as("ms"),
        expr("cast(round(value * 10000) as bigint)").as("v_e4"))
      .withColumn("lt", last(
        when(touch, struct(col("ms").as("t"), col("event_id").as("id"),
          col("event_type").as("tt"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("in_win", col("lt").isNotNull && col("lt.t") >= col("ms") - windowMs)
      .select(col("event_id"), col("user_id"), col("ms"), col("v_e4"),
        when(col("in_win"), col("lt.id")).as("touch_id"),
        when(col("in_win"), col("lt.tt")).as("touch_type"),
        when(col("in_win"), col("lt.t")).as("t_touch"))
  }

  val AttributionWindowMs: Long = 7L * 24 * 3600 * 1000

  /** Changepoint detection by two-window scan statistic: at each position in
    * a user's value series, compare the mean of the trailing `w` values
    * against the mean of the leading `w` values (current row opens the right
    * window) with a pooled-variance two-sample t — flag |t| ≥ threshold.
    * The standard offline mean-shift scan (e.g. Killick et al.'s cost
    * comparison windows), expressible as TWO frames over ONE sort — same
    * single user_id exchange as `anomalies`, no self-join, stream-adjacent.
    *
    * Determinism: both windows' moments are exact integer sums; the t
    * statistic reduces algebraically to A·sqrt((w−1)/B) with
    * A = sR − sL, B = w·(ssL+ssR) − sL² − sR² — ONE IEEE expression over
    * two exact longs, shared with the oracle, then round(·, 4).
    */
  def changepoints(events: DataFrame, w: Int = ChangeW): DataFrame = {
    val wl = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      .rowsBetween(-w, -1)
    val wr = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      .rowsBetween(0, w - 1)
    events
      .select(col("event_id"), col("user_id"), col("__time__").as("ms"),
        expr("cast(round(value * 10000) as bigint)").as("v"))
      .withColumn("nl", count(lit(1)).over(wl))
      .withColumn("sl", sum(col("v")).over(wl))
      .withColumn("ssl", sum(col("v") * col("v")).over(wl))
      .withColumn("nr", count(lit(1)).over(wr))
      .withColumn("sr", sum(col("v")).over(wr))
      .withColumn("ssr", sum(col("v") * col("v")).over(wr))
      // full windows only: a truncated edge window biases the statistic
      .filter(col("nl") === w && col("nr") === w)
      .withColumn("a", col("sr") - col("sl"))
      .withColumn("b", lit(w.toLong) * (col("ssl") + col("ssr"))
        - col("sl") * col("sl") - col("sr") * col("sr"))
      .filter(col("b") > 0)
      .withColumn("t", expr(
        s"round(cast(a as double) * sqrt(cast(${w - 1} as double) / cast(b as double)), 4)"))
      .filter(abs(col("t")) >= ChangeT)
      .select(col("event_id"), col("user_id"), col("ms"), col("t"))
  }

  val ChangeW = 10
  val ChangeT = 3.0

  /** Frequent 2-itemsets over (user, day) baskets — the A-priori support
    * count for pair-level market-basket/co-occurrence analysis ("which
    * event types happen together in a day"). Baskets come from one
    * distinct shuffle; pairs form by a self-equi-join ON THE BASKET KEY
    * (per-basket fan-out is bounded by the item domain per basket, never
    * |baskets|²); support gates use exact integer cross-multiplication
    * (supp·1e6 ≥ minSup_e6·nBaskets) — no ratio doubles until the final
    * reported column.
    */
  def itemsets(events: DataFrame, minSupportE6: Long = ItemsetMinSupportE6): DataFrame = {
    val basket = events
      .select(col("user_id"), expr("__time__ div 86400000").as("day"), col("event_type"))
      .distinct()
    val nb = basket.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("nb"))
    val a = basket.select(col("user_id"), col("day"), col("event_type").as("a"))
    val b = basket.select(col("user_id"), col("day"), col("event_type").as("b"))
    a.join(b, Seq("user_id", "day"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("supp"))
      .crossJoin(broadcast(nb))
      .filter(col("supp") * lit(1000000L) >= lit(minSupportE6) * col("nb"))
      .select(col("a"), col("b"), col("supp"),
        round(col("supp").cast("double") / col("nb"), 6).as("supp_ratio"))
  }

  val ItemsetMinSupportE6 = 140000L // 14% of baskets — sits inside the demo data's support band

  /** "Frequently bought together": item-item co-occurrence over order
    * baskets — the count-based collaborative-filtering primitive (the
    * item-item half of Linden et al.'s Amazon CF, 2003). Baskets collapse
    * to sorted distinct-item arrays in ONE shuffle on the order key; pairs
    * fan out MAP-SIDE from each array (per-basket fan ≤ |basket|², bounded
    * by order width, never |orders|² — the q_itemsets bound), so the only
    * other exchange is the pair aggregate. The self-equi-join spelling of
    * the same fan cost a third shuffle plus two re-reads of the basket
    * projection (measured 1.9 s → 0.66 s at sf0.1). Association is
    * exact-integer Jaccard over order sets: j_e6 = c_ab·1e6 div
    * (c_a + c_b − c_ab), counts joined from the domain-sized (broadcast)
    * item table. Top-k by (support, pair) via TakeOrderedAndProject.
    */
  def copurchase(lineitem: DataFrame, minSupport: Long = CopurchaseMinSupport,
      topK: Int = CopurchaseTopK): DataFrame = {
    // pinned: the basket-array table feeds item counts AND the pair fan
    val baskets = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .pinned(false)
    val itemN = baskets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("c"))
    baskets
      .filter(size(col("ps")) >= 2)
      // native pair fan (SortedPairs) — value-identical to the former
      // interpreted `flatten(transform(sequence(2, size(ps)), i ->
      // transform(sequence(1, i - 1), j -> struct(ps[j], ps[i]))))`
      // (ExpressionsSpec pins the equality), without two nested boxed
      // lambdas + a flatten copy per basket
      .select(explode(graft.functions.GraftFunctions.sortedPairs(col("ps"))).as("p"))
      .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
      .join(broadcast(itemN.select(col("pk").as("p1"), col("c").as("c_a"))), "p1")
      .join(broadcast(itemN.select(col("pk").as("p2"), col("c").as("c_b"))), "p2")
      .select(col("p1"), col("p2"), col("c_ab"),
        expr("c_ab * 1000000L div (c_a + c_b - c_ab)").as("jaccard_e6"))
      .orderBy(col("c_ab").desc, col("p1"), col("p2"))
      .limit(topK)
  }

  val CopurchaseMinSupport = 2L
  val CopurchaseTopK = 50

  /** Consecutive-repeat collapse: drop events whose type equals the SAME
    * user's previous event type (telemetry compaction / state-change
    * extraction). One lag() over the one user_id sort; survivors keep their
    * original identity.
    */
  def collapseRepeats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("event_type"), col("__time__").as("ms"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
  }

  /** Stickiness: DAU / trailing-30-day MAU per day. Exact rolling distinct
    * is the same scale trap as `reach`'s cumulative form; the exact shape
    * here fans each distinct (user, active-day) into the ≤30 window days it
    * supports (bounded map-side explode, like the slide-window fan) and
    * re-distincts — cost 30× user-DAYS, independent of raw event volume.
    * (The sketch path for wider windows is `Sketches.hllRegisters` merged
    * over the window — registers are max-mergeable by construction.)
    * Ratio reported in exact integer e6.
    */
  def stickiness(events: DataFrame, windowDays: Int = MauWindowDays): DataFrame = {
    val d = events.select(col("user_id"), expr("__time__ div 86400000").as("day")).distinct()
    val bounds = d.agg(max(col("day")).as("max_day"))
    val mau = d.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(expr(s"filter(sequence(day, day + ${windowDays - 1}), w -> w <= max_day)")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("mau"))
    val dau = d.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000000L div mau").as("stickiness_e6"))
  }

  val MauWindowDays = 30

  /** RFM segmentation: per user recency (days since last purchase, vs the
    * corpus max day), frequency (purchase count), monetary (exact micro-unit
    * revenue), quartiled — the standard CRM cut.
    *
    * Quartiles deliberately do NOT use a global ntile (a single-partition
    * sort of the USER domain — the smell `quantileBins` was cured of):
    * instead each metric's three cut values come from a cumulative walk
    * over its DISTINCT-VALUE histogram (`Corpus.qualityThresholdsBucketed`'s
    * shape — the window runs over the value domain, which is
    * days/counts/whole-currency-sized, never user-sized) and broadcast back
    * as a map-side gate. Ties therefore share a quartile (percentile_disc
    * semantics: populations are ~n/4 up to tie mass, exactly deterministic)
    * — the price of not sorting 10⁹ users through one task. Monetary walks
    * whole-currency buckets (`div 1e4`) to keep its distinct domain bounded.
    * Orientation: quartile 1 = best (most recent / most frequent / highest
    * spend).
    */
  def rfm(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("__time__ div 86400000").as("day"),
        expr("cast(round(value * 10000) as bigint)").as("v"))
    val agg = p.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("frequency"),
        sum(col("v")).as("monetary_e4"))
    val bounds = p.agg(max(col("day")).as("max_day"))
    val base = agg.crossJoin(broadcast(bounds))
      .withColumn("recency", col("max_day") - col("last_day"))
      .withColumn("m_unit", expr("monetary_e4 div 10000"))

    // percentile_disc cuts at ranks ceil(k·n/4): smallest value whose
    // cumulative count reaches the rank — one histogram agg + one
    // value-domain window per metric, one broadcast row out
    def cuts(metric: String): DataFrame = {
      val h = base.groupBy(col(metric).as("val")).agg(count(lit(1)).as("c"))
      // Global window bound: corpus-growing (distinct values of the metric);
      // a single-partition stage, see ROADMAP direction 3.
      val wv = Window.orderBy(col("val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum(col("c")).as("n"))
      h.withColumn("cum", sum(col("c")).over(wv))
        .crossJoin(broadcast(tot))
        .agg(
          min(when(col("cum") * 4 >= col("n"), col("val"))).as(s"${metric}_t1"),
          min(when(col("cum") * 2 >= col("n"), col("val"))).as(s"${metric}_t2"),
          min(when(col("cum") * 4 >= col("n") * 3, col("val"))).as(s"${metric}_t3"))
    }

    base
      .crossJoin(broadcast(cuts("recency")))
      .crossJoin(broadcast(cuts("frequency")))
      .crossJoin(broadcast(cuts("m_unit")))
      .select(col("user_id"), col("recency"), col("frequency"), col("monetary_e4"),
        // recency: small = good -> quartile 1 below the first cut
        (lit(1L) + (col("recency") > col("recency_t1")).cast("long")
          + (col("recency") > col("recency_t2")).cast("long")
          + (col("recency") > col("recency_t3")).cast("long")).as("r_q"),
        // frequency/monetary: large = good -> quartile 1 above the last cut
        (lit(4L) - (col("frequency") > col("frequency_t1")).cast("long")
          - (col("frequency") > col("frequency_t2")).cast("long")
          - (col("frequency") > col("frequency_t3")).cast("long")).as("f_q"),
        (lit(4L) - (col("m_unit") > col("m_unit_t1")).cast("long")
          - (col("m_unit") > col("m_unit_t2")).cast("long")
          - (col("m_unit") > col("m_unit_t3")).cast("long")).as("m_q"))
  }

  /** Top event paths: counts of 3-step type sequences per user (the
    * path-analysis extension of `transitions`' first-order matrix —
    * "view→click→purchase vs view→click→error"). Two `lead()`s over the
    * same single user_id sort, a |types|³-bounded aggregate, and a
    * TakeOrderedAndProject top-k.
    */
  def paths(events: DataFrame, topK: Int = PathsTopK): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("__time__"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("__time__"), col("event_id"))
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .withColumn("c", lead(col("event_type"), 2).over(w))
      .where(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("event_type").as("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"), col("c"))
      .limit(topK)
  }

  val PathsTopK = 20

  /** Burst (bot-signature) detection: identical (user, event_type) actions
    * repeated within one minute. One partial+final agg on the
    * (user, minute, type) key — the partial side collapses bursts map-side,
    * so the shuffle carries at most one row per key, and at 100 TB the
    * output is gated by the threshold, not the event volume.
    */
  def bursts(events: DataFrame, minRepeat: Long = BurstMinRepeat): DataFrame =
    events
      .groupBy(col("user_id"), expr("__time__ div 60000").as("minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minRepeat)

  val BurstMinRepeat = 2L

  /** Reach curve: per day, active users (DAU), first-time users, and
    * cumulative distinct reach. Running COUNT(DISTINCT) is the textbook
    * scale trap (a growing distinct set per day); instead each user
    * contributes their FIRST activity day once (per-user min — map-side
    * combinable) and cumulative reach is a running sum over the
    * calendar-sized day table. Two tiny aggregates off one distinct
    * (user, day) projection; the window runs over days, never users.
    */
  def reach(events: DataFrame): DataFrame = {
    val d = events.select(col("user_id"), expr("__time__ div 86400000").as("day")).distinct()
    val dau = d.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val firsts = d.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    // Global window bound: calendar (one row per active day).
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(firsts, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_reach", sum(col("new_users")).over(w))
      .select(col("day"), col("dau"), col("new_users"), col("cum_reach"))
  }

  /** Time-weighted average (TWAP) of `value` per (user, UTC day): the event
    * value holds from its timestamp until the next event that day (step
    * function / last-observation-carried-forward), the day's last value
    * holds to midnight; the average weights each value by its holding time.
    * The arithmetic-mean of irregular samples over-weights bursts — TWAP is
    * the standard fix for feature pipelines over telemetry.
    *
    * Exactness: values in integer e4 units, weights in ms; `num = Σ v_e4·w`
    * stays in Long (v_e4 ≤ ~5e6, w ≤ 8.64e7, day row count bounded), so the
    * hash compare is partition-order-proof; `twap_e4 = num div den` with
    * both non-negative, where truncation == floor on both engines.
    *
    * Scale: ONE hash exchange by (user, day) serves both the lead() window
    * and the aggregate — per-key state is a scalar, never an event list.
    */
  def twap(events: DataFrame): DataFrame = {
    val DayMs = 86400000L
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ms"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("__time__").as("ms"),
        expr(s"__time__ div $DayMs").as("day"),
        expr("cast(round(value * 10000) as bigint)").as("v_e4"))
      .withColumn("hold_until",
        coalesce(lead(col("ms"), 1).over(w), (col("day") + 1) * lit(DayMs)))
      .groupBy(col("user_id"), col("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v_e4") * (col("hold_until") - col("ms"))).as("num"),
        ((col("day").cast("long") + 1L) * lit(DayMs) - min(col("ms"))).as("den"))
      .select(col("user_id"), col("day"), col("n"),
        expr("num div den").as("twap_e4"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_twap" -> ((s, d) => twap(Tables.events(s, d))),
    "q_attribution" -> ((s, d) => attribution(Tables.events(s, d))),
    "q_itemsets" -> ((s, d) => itemsets(Tables.events(s, d))),
    "q_reach" -> ((s, d) => reach(Tables.events(s, d))),
    "q_paths" -> ((s, d) => paths(Tables.events(s, d))),
    "q_stickiness" -> ((s, d) => stickiness(Tables.events(s, d))),
    "q_copurchase" -> ((s, d) => copurchase(Tables.lineitem(s, d))),
    "q_collapse_repeats" -> ((s, d) => collapseRepeats(Tables.events(s, d))),
    "q_rfm" -> ((s, d) => rfm(Tables.events(s, d))),
    "q_bursts" -> ((s, d) => bursts(Tables.events(s, d))),
    "q_changepoint" -> ((s, d) => changepoints(Tables.events(s, d))),
    "q_anomaly_zscore" -> ((s, d) => anomalies(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => funnel(Tables.events(s, d))),
    "q_retention" -> ((s, d) => retention(Tables.events(s, d))),
    "q_event_transitions" -> ((s, d) => transitions(Tables.events(s, d))),
    "q_gapfill" -> ((s, d) => gapfill(Tables.events(s, d))),
    "q_ewma" -> ((s, d) => ewma(Tables.events(s, d))),
    "q_audience_overlap" -> ((s, d) => audienceOverlap(Tables.events(s, d))))

  private val msSql = "epoch_ms(ts)"

  val oracleSql: Map[String, String] = Map(
    "q_twap" ->
      s"""WITH e AS (SELECT event_id, user_id, $msSql AS ms,
         |  $msSql // 86400000 AS day,
         |  CAST(round(value * 10000) AS BIGINT) AS v_e4 FROM events),
         |h AS (SELECT user_id, day, ms, v_e4,
         |        coalesce(lead(ms) OVER (PARTITION BY user_id, day
         |                                ORDER BY ms, event_id),
         |                 (day + 1) * 86400000) AS hold_until
         |      FROM e)
         |SELECT user_id, day, count(*) AS n,
         |  CAST(sum(v_e4 * (hold_until - ms)) // ((day + 1) * 86400000 - min(ms)) AS BIGINT) AS twap_e4
         |FROM h GROUP BY user_id, day""".stripMargin,
    // the oracle deliberately uses the quadratic purchases×touches
    // row_number formulation as an independent cross-check of the engine's
    // single-window carry-forward
    "q_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, $msSql AS ms,
         |  CAST(round(value * 10000) AS BIGINT) AS v_e4 FROM events),
         |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
         |t AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
         |c AS (SELECT p.event_id, p.user_id, p.ms, p.v_e4,
         |        t.event_id AS touch_id, t.event_type AS touch_type, t.ms AS t_touch,
         |        row_number() OVER (PARTITION BY p.event_id
         |                           ORDER BY t.ms DESC, t.event_id DESC) AS rn
         |      FROM p JOIN t ON t.user_id = p.user_id
         |        AND (t.ms < p.ms OR (t.ms = p.ms AND t.event_id < p.event_id))
         |        AND t.ms >= p.ms - $AttributionWindowMs)
         |SELECT event_id, user_id, ms, v_e4, touch_id, touch_type, t_touch FROM c WHERE rn = 1
         |UNION ALL
         |SELECT p.event_id, p.user_id, p.ms, p.v_e4,
         |  NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT
         |FROM p WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.event_id = p.event_id)""".stripMargin,
    "q_copurchase" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |n AS (SELECT pk, count(*) AS c FROM b GROUP BY 1),
         |p AS (SELECT a.pk AS p1, x.pk AS p2, count(*) AS c_ab
         |      FROM b a JOIN b x ON a.ok = x.ok AND a.pk < x.pk
         |      GROUP BY 1, 2 HAVING count(*) >= $CopurchaseMinSupport)
         |SELECT p1, p2, CAST(c_ab AS BIGINT) AS c_ab,
         |  CAST(c_ab * 1000000 // (na.c + nb.c - c_ab) AS BIGINT) AS jaccard_e6
         |FROM p JOIN n na ON na.pk = p1 JOIN n nb ON nb.pk = p2
         |ORDER BY c_ab DESC, p1, p2 LIMIT $CopurchaseTopK""".stripMargin,

    "q_collapse_repeats" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, $msSql AS ms,
         |  lag(event_type) OVER (PARTITION BY user_id ORDER BY $msSql, event_id) AS prev
         |FROM events)
         |SELECT event_id, user_id, event_type, ms FROM e
         |WHERE prev IS NULL OR prev <> event_type""".stripMargin,

    "q_stickiness" ->
      s"""WITH d AS (SELECT DISTINCT user_id, $msSql // 86400000 AS day FROM events),
         |b AS (SELECT max(day) AS max_day FROM d),
         |f AS (SELECT DISTINCT user_id, day + k.k AS day
         |      FROM d, (SELECT unnest(range($MauWindowDays)) AS k) k, b
         |      WHERE day + k.k <= b.max_day),
         |mau AS (SELECT day, count(*) AS mau FROM f GROUP BY 1),
         |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1)
         |SELECT day, dau, mau, dau * 1000000 // mau AS stickiness_e6
         |FROM dau JOIN mau USING (day)""".stripMargin,

    "q_rfm" -> {
      def cuts(metric: String) =
        s"""h_$metric AS (SELECT $metric AS val, count(*) AS c FROM base GROUP BY 1),
           |w_$metric AS (SELECT val, sum(c) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum,
           |                (SELECT sum(c) FROM h_$metric) AS n
           |              FROM h_$metric),
           |t_$metric AS (SELECT
           |  min(CASE WHEN cum * 4 >= n THEN val END) AS t1,
           |  min(CASE WHEN cum * 2 >= n THEN val END) AS t2,
           |  min(CASE WHEN cum * 4 >= n * 3 THEN val END) AS t3
           |FROM w_$metric)""".stripMargin
      s"""WITH p AS (SELECT user_id, $msSql // 86400000 AS day,
         |  CAST(round(value * 10000) AS BIGINT) AS v
         |FROM events WHERE event_type = 'purchase'),
         |a AS (SELECT user_id, max(day) AS last_day, count(*) AS frequency,
         |        CAST(sum(v) AS BIGINT) AS monetary_e4 FROM p GROUP BY 1),
         |b AS (SELECT max(day) AS max_day FROM p),
         |base AS (SELECT user_id, max_day - last_day AS recency, frequency, monetary_e4,
         |           monetary_e4 // 10000 AS m_unit
         |         FROM a CROSS JOIN b),
         |${cuts("recency")},
         |${cuts("frequency")},
         |${cuts("m_unit")}
         |SELECT user_id, recency, frequency, monetary_e4,
         |  CAST(1 + (recency > tr.t1)::INT + (recency > tr.t2)::INT + (recency > tr.t3)::INT
         |       AS BIGINT) AS r_q,
         |  CAST(4 - (frequency > tf.t1)::INT - (frequency > tf.t2)::INT - (frequency > tf.t3)::INT
         |       AS BIGINT) AS f_q,
         |  CAST(4 - (m_unit > tm.t1)::INT - (m_unit > tm.t2)::INT - (m_unit > tm.t3)::INT
         |       AS BIGINT) AS m_q
         |FROM base CROSS JOIN t_recency tr CROSS JOIN t_frequency tf CROSS JOIN t_m_unit tm""".stripMargin
    },

    "q_paths" ->
      s"""WITH e AS (SELECT user_id, event_type, $msSql AS ms, event_id FROM events),
         |s AS (SELECT event_type AS a,
         |        lead(event_type, 1) OVER w AS b, lead(event_type, 2) OVER w AS c
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
         |SELECT a, b, c, count(*) AS n FROM s
         |WHERE b IS NOT NULL AND c IS NOT NULL
         |GROUP BY 1, 2, 3 ORDER BY n DESC, a, b, c LIMIT $PathsTopK""".stripMargin,

    "q_bursts" ->
      s"""SELECT user_id, $msSql // 60000 AS minute, event_type, count(*) AS n
         |FROM events GROUP BY 1, 2, 3 HAVING count(*) >= $BurstMinRepeat""".stripMargin,

    "q_reach" ->
      s"""WITH d AS (SELECT DISTINCT user_id, $msSql // 86400000 AS day FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
         |f AS (SELECT min(day) AS day FROM d GROUP BY user_id),
         |nu AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
         |SELECT day, dau, coalesce(new_users, 0) AS new_users,
         |  CAST(sum(coalesce(new_users, 0))
         |       OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_reach
         |FROM dau LEFT JOIN nu USING (day)""".stripMargin,
    "q_itemsets" ->
      s"""WITH basket AS (SELECT DISTINCT user_id, $msSql // 86400000 AS day, event_type
         |                FROM events),
         |nb AS (SELECT count(*) AS nb FROM (SELECT DISTINCT user_id, day FROM basket)),
         |p AS (SELECT a.event_type AS a, b.event_type AS b, count(*) AS supp
         |      FROM basket a JOIN basket b
         |        ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
         |      GROUP BY 1, 2)
         |SELECT a, b, CAST(supp AS BIGINT) AS supp,
         |  round(CAST(supp AS DOUBLE) / nb, 6) AS supp_ratio
         |FROM p CROSS JOIN nb
         |WHERE supp * 1000000 >= $ItemsetMinSupportE6 * nb""".stripMargin,
    "q_changepoint" ->
      s"""WITH e AS (SELECT event_id, user_id, $msSql AS ms,
         |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
         |m AS (SELECT event_id, user_id, ms,
         |  count(*) OVER wl AS nl, sum(v) OVER wl AS sl, sum(v * v) OVER wl AS ssl,
         |  count(*) OVER wr AS nr, sum(v) OVER wr AS sr, sum(v * v) OVER wr AS ssr
         |FROM e WINDOW
         |  wl AS (PARTITION BY user_id ORDER BY ms, event_id
         |         ROWS BETWEEN ${Behavior.ChangeW} PRECEDING AND 1 PRECEDING),
         |  wr AS (PARTITION BY user_id ORDER BY ms, event_id
         |         ROWS BETWEEN CURRENT ROW AND ${Behavior.ChangeW - 1} FOLLOWING)),
         |s AS (SELECT event_id, user_id, ms, sr - sl AS a,
         |        ${Behavior.ChangeW} * (ssl + ssr) - sl * sl - sr * sr AS b
         |      FROM m WHERE nl = ${Behavior.ChangeW} AND nr = ${Behavior.ChangeW}),
         |t AS (SELECT event_id, user_id, ms,
         |        round(CAST(a AS DOUBLE)
         |          * sqrt(CAST(${Behavior.ChangeW - 1} AS DOUBLE) / CAST(b AS DOUBLE)), 4) AS t
         |      FROM s WHERE b > 0)
         |SELECT event_id, user_id, ms, t FROM t WHERE abs(t) >= ${Behavior.ChangeT}""".stripMargin,
    "q_anomaly_zscore" ->
      s"""WITH e AS (SELECT event_id, user_id, $msSql AS ms,
         |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
         |m AS (SELECT event_id, user_id, ms, v,
         |  count(*) OVER w AS n, sum(v) OVER w AS s, sum(v * v) OVER w AS ss
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
         |                    ROWS BETWEEN $AnomalyFrame PRECEDING AND 1 PRECEDING)),
         |z AS (SELECT event_id, user_id, ms, v, n,
         |  round(CAST(n * v - s AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE))
         |    / sqrt(CAST(n * ss - s * s AS DOUBLE)), 4) AS z
         |FROM m WHERE n >= $AnomalyMinN AND n * ss - s * s > 0)
         |SELECT event_id, user_id, ms, v AS v_e4, CAST(n AS BIGINT) AS n, z
         |FROM z WHERE abs(z) >= $AnomalyZ""".stripMargin,
    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, $msSql AS ms FROM events),
         |u1 AS (SELECT user_id, min(ms) AS t_signup FROM e
         |       WHERE event_type = 'signup' GROUP BY 1),
         |u2 AS (SELECT e.user_id, min(ms) AS t_view FROM e JOIN u1 USING (user_id)
         |       WHERE event_type = 'view' AND ms > t_signup
         |         AND ms <= t_signup + $FunnelWindowMs GROUP BY 1),
         |u3 AS (SELECT e.user_id, min(ms) AS t_click FROM e
         |       JOIN u2 USING (user_id) JOIN u1 USING (user_id)
         |       WHERE event_type = 'click' AND ms > t_view
         |         AND ms <= t_signup + $FunnelWindowMs GROUP BY 1),
         |u4 AS (SELECT e.user_id, min(ms) AS t_purchase FROM e
         |       JOIN u3 USING (user_id) JOIN u1 USING (user_id)
         |       WHERE event_type = 'purchase' AND ms > t_click
         |         AND ms <= t_signup + $FunnelWindowMs GROUP BY 1)
         |SELECT u1.user_id, t_signup, t_view, t_click, t_purchase,
         |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 4
         |            WHEN t_click IS NOT NULL THEN 3
         |            WHEN t_view IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage
         |FROM u1 LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)
         |        LEFT JOIN u4 USING (user_id)""".stripMargin,

    "q_retention" ->
      s"""WITH d AS (SELECT DISTINCT user_id, $msSql // 86400000 AS day FROM events),
         |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
         |SELECT cohort_day, day - cohort_day AS offset_days, count(*) AS users
         |FROM c GROUP BY 1, 2""".stripMargin,

    "q_event_transitions" ->
      s"""WITH o AS (SELECT user_id, event_type,
         |             lead(event_type) OVER (PARTITION BY user_id
         |               ORDER BY $msSql, event_id) AS to_type
         |           FROM events)
         |SELECT event_type AS from_type, to_type, count(*) AS n
         |FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |b AS (SELECT a.event_type AS type_a, c.event_type AS type_b, count(*) AS n_both
        |      FROM ut a JOIN ut c ON a.user_id = c.user_id AND a.event_type < c.event_type
        |      GROUP BY 1, 2)
        |SELECT b.type_a, b.type_b, sa.n AS n_a, sb.n AS n_b, b.n_both,
        |  CAST(b.n_both * 1000000 // (sa.n + sb.n - b.n_both) AS BIGINT) AS jaccard_e6
        |FROM b JOIN sz sa ON sa.event_type = b.type_a
        |       JOIN sz sb ON sb.event_type = b.type_b""".stripMargin,

    "q_ewma" ->
      s"""WITH daily AS (SELECT user_id, $msSql // 86400000 AS day, count(*) AS n
         |               FROM events GROUP BY 1, 2),
         |g AS (SELECT user_id, list(CAST(n AS DOUBLE) ORDER BY day) AS cs
         |      FROM daily GROUP BY 1)
         |SELECT user_id, CAST(len(cs) AS BIGINT) AS n_days,
         |  round(list_sum([cs[i] * pow(0.5, len(cs) - i) for i in range(1, len(cs) + 1)])
         |      / list_sum([pow(0.5, len(cs) - i) for i in range(1, len(cs) + 1)]), 6) AS ewma
         |FROM g""".stripMargin,

    "q_gapfill" ->
      s"""WITH daily AS (
         |  SELECT user_id, day, value AS close_value FROM (
         |    SELECT user_id, $msSql // 86400000 AS day, value,
         |      row_number() OVER (PARTITION BY user_id, $msSql // 86400000
         |                         ORDER BY $msSql DESC, event_id DESC) AS rn
         |    FROM events) WHERE rn = 1),
         |bounds AS (SELECT max($msSql // 86400000) AS max_day FROM events),
         |grid AS (SELECT user_id, unnest(range(first_day, max_day + 1)) AS day
         |         FROM (SELECT user_id, min($msSql // 86400000) AS first_day
         |               FROM events GROUP BY 1), bounds),
         |j AS (SELECT g.user_id, g.day, d.close_value,
         |        CAST(d.close_value IS NOT NULL AS BIGINT) AS observed
         |      FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
         |SELECT user_id, day,
         |  round(last_value(close_value IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS value_ff, observed
         |FROM j""".stripMargin)
}
