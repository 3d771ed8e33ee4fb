package graft.batch

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational operator coverage (SURVEY §2.4-2.7, §2.10-2.11).
  *
  * Each entry is the Spark-first expression of one reference capability:
  *   - `Table.filter(Criteria)`        → `df.filter(column predicate)`
  *     (reference: table/Table.java:265-280)
  *   - `Table.select(ScalarFunction)`  → `df.select(expressions)`
  *     (reference: table/Table.java:306-331)
  *   - `Table.select(TransformFunction)` (UDTF, 1→N rows) → `explode`
  *     (reference: table/Table.java:333-373)
  *   - `Table.project/projectNegative` → `select`/`drop`
  *     (reference: table/Table.java:631-659)
  *   - `Table.groupBy(AggregationFunction)` → `groupBy().agg()`
  *     (reference: table/Table.java:436-467)
  *   - `AggregationUtil.groupConcat`   → sorted `collect_list` + `concat_ws`
  *     (reference: util/AggregationUtil.java:8-15)
  *   - `Table.innerJoin/leftJoin/outerJoin` → `join(..., type)`
  *     (reference: table/Table.java:573-624)
  *   - `Table.over(OverWindowFunction)` → `Window.partitionBy.orderBy`
  *     (reference: table/Table.java:469-533)
  *   - `WindowUtil.topN`               → `orderBy.limit` (TakeOrderedAndProject)
  *     (reference: util/WindowUtil.java:19-53)
  *   - `DataAnalysis.mergeToOneTable`  → `union`
  *     (reference: sp/DataAnalysis.java:50-62)
  *   - `ScalarUtil`/`DateUtil` casts/substr/trim/date fns → built-in functions
  *     (reference: util/ScalarUtil.java:8-54, util/DateUtil.java:8-22)
  *
  * Scale notes: every query here is a declarative plan — filters and column
  * pruning reach the parquet scan, the part/nation/customer dims broadcast
  * (≤64 MB threshold), aggregations run partial+final, top-k runs as
  * TakeOrderedAndProject (no global sort materialization).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  /** Pinned pivot category list — schema must never be data-dependent. */
  val PivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Data-quality audit over a fact/dim pair (the `q_dq_checks` body):
    * completeness, domain ranges, key uniqueness, referential integrity
    * both directions — one metrics row a pipeline gate asserts on.
    */
  def dqChecks(l: DataFrame, o: DataFrame): DataFrame = {
    val base = l.agg(
      count(lit(1)).as("n_lineitem"),
      sum(col("l_orderkey").isNull.cast("long")).as("null_orderkeys"),
      sum((col("l_quantity") <= 0 || col("l_quantity") > 50).cast("long")).as("qty_range_viol"),
      sum((col("l_discount") < 0 || col("l_discount") > 0.1).cast("long")).as("disc_range_viol"))
    val orphans = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    val dupKeys = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("dup_orderkeys"))
    val childless = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("childless_orders"))
    base.crossJoin(orphans).crossJoin(dupKeys).crossJoin(childless)
  }
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def part(s: SparkSession, d: String) = Tables.part(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans / filter / projection -------------------------------------
    "q_filter" -> ((s, d) =>
      li(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))),

    "q_select_scalar" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_type"), 1, 5).as("type5"),
        col("p_size").cast("long").as("size_l"),
        // price*1.1 via integer rounding, NOT round(x*1.1, 2): exact-cent
        // inputs × 1.1 land on 3-decimal .5 boundaries where Spark's
        // decimal-string HALF_UP and DuckDB's nearbyint disagree (caught by
        // the round-12 seeded-fixture sweep). The multiplier must make the
        // true value INTEGRAL, not merely near a boundary: x*110 = cents*1.1
        // still ends exactly on .5 whenever cents ≡ 5 (mod 10), so its green
        // runs were tie-luck. x*1100 = cents*11 is truly an integer — the
        // IEEE product is within float noise of it, nearest-integer agrees
        // on any engine, and bigint/1000.0 is one IEEE division —
        // bit-identical both sides, and the exact ×1.1 value to the mill.
        (expr("cast(round(p_retailprice * 1100) as bigint)") / 1000.0).as("price_adj"))),

    "q_project_rename" -> ((s, d) =>
      nat(s, d)
        .drop("n_regionkey")
        .withColumnRenamed("n_name", "nation_name")),

    // UDTF / 1→N flat-map (reference TransformFunction)
    "q_flatmap_explode" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        explode(split(col("p_name"), " ")).as("token"))),

    // --- aggregation -------------------------------------------------------
    // Exact integer units, NOT round(sum(double), 2): this query's 6 cells
    // each sum ~n/6 prices, and at sf10 (60M rows, cell sums ~1e11) the
    // engines' different summation orders accumulate enough IEEE error to
    // land on opposite sides of a .xx5 rounding boundary — the one
    // hash-mismatch of the sf10 ramp. Integer cents are partition-order-
    // and scale-proof; avg is an exact integer division of the same sums.
    "q_groupby_agg" -> ((s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(expr("cast(round(l_quantity * 100) as bigint)")).as("sum_qty_e2"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("sum_base_c"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)" +
            " * (100 - cast(round(l_discount * 100) as bigint))")).as("sum_disc_e4"),
          expr("sum(cast(round(l_quantity * 100) as bigint)) * 10000 div count(1)")
            .as("avg_qty_e6"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_shipdate")).as("min_ship"),
          count(lit(1)).as("cnt"))),

    "q_count_distinct" -> ((s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))),

    "q_group_concat" -> ((s, d) =>
      nat(s, d)
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("names"))),

    // Statistical aggregations beyond the reference's sum/avg/max/count
    // (§2.6 "free in Spark"): moments and exact interpolated percentiles are
    // the same partial+final hash aggregate as any sum — no extra pass.
    "q_agg_stats" -> ((s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("med_qty"),
          round(percentile(col("l_quantity"), lit(0.95)), 6).as("p95_qty"))),

    // --- joins ---------------------------------------------------------------
    "q_join_inner" -> ((s, d) => {
      val l = li(s, d); val p = part(s, d).filter(col("p_size") > 40)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("p_brand"), round(col("l_extendedprice"), 2).as("price"))
    }),

    "q_join_left" -> ((s, d) => {
      val o = ord(s, d)
      val c = cust(s, d).filter(col("c_acctbal") > 5000)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_name"))
    }),

    "q_join_full" -> ((s, d) => {
      val c = cust(s, d).filter(col("c_custkey") % 3 === 0)
      val o = ord(s, d).filter(col("o_custkey") % 5 === 0)
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"))
    }),

    "q_join_semi" -> ((s, d) => {
      val c = cust(s, d)
      val o = ord(s, d).filter(col("o_totalprice") > 200000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Anti against the BIG-spender orders only: with anti against ALL
    // orders, every sf0.01 customer has at least one order and the result
    // is structurally empty — a 0==0 hash-green that exercises nothing
    // (round-15 verdict item 4). The 300k threshold leaves survivors at
    // every fixture (30 at sf0.01, 3080 at sf1) while still eliminating
    // the overwhelming majority, so the anti join path does real work.
    "q_join_anti" -> ((s, d) => {
      val c = cust(s, d)
      val o = ord(s, d).filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // --- over windows -----------------------------------------------------
    "q_over_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      part(s, d).select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        row_number().over(w).as("rn"))
    }),

    "q_over_running" -> ((s, d) => {
      // l_quantity last: (orderkey, linenumber) is NOT unique in the
      // synthetic data (sf0.1 has a full-key collision), and a running sum
      // over a non-total order is engine-ambiguous at the tie. Ties on
      // quantity too are harmless — either order gives the same multiset.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li(s, d).select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
    }),

    // --- top-k / sort / limit ----------------------------------------------
    "q_topn" -> ((s, d) =>
      ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
        .limit(100)),

    "q_grouped_topn" -> ((s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
    }),

    // --- set ops ---------------------------------------------------------
    "q_union_all" -> ((s, d) => {
      val c = cust(s, d)
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .union(c.filter(col("c_acctbal") > 9000).select(col("c_custkey")))
    }),

    "q_distinct" -> ((s, d) =>
      li(s, d).select(col("l_returnflag"), col("l_linestatus")).distinct()),

    "q_intersect" -> ((s, d) =>
      ord(s, d).filter(col("o_totalprice") > 150000).select(col("o_custkey")).distinct()
        .intersect(cust(s, d).filter(col("c_acctbal") > 0).select(col("c_custkey").as("o_custkey")))),

    // Except the big-spender custkeys, not all custkeys — same
    // non-vacuousness rationale as q_join_anti above (round-15 item 4).
    "q_except" -> ((s, d) =>
      cust(s, d).select(col("c_custkey")).distinct()
        .except(ord(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey")).distinct())),

    // --- string function library (ScalarUtil.java:28-54 parity) -------------
    "q_string_funcs" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        substring(col("p_name"), 3, 8).as("sub_mid"),
        expr("substring(p_name, 2)").as("sub_from"),
        // the SQL-standard spelling; the two-argument trim(col, "a") form is
        // deprecated, and its argument order differs between dialects
        expr("TRIM(BOTH 'a' FROM p_name)").as("trim_a"),
        expr("TRIM(LEADING 'a' FROM p_name)").as("ltrim_a"),
        expr("TRIM(TRAILING 'a' FROM p_name)").as("rtrim_a"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("cat"),
        lower(col("p_type")).as("lo"))),

    // --- JSON field extraction (KafkaStreamTable.java:151-178 parity) -------
    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // --- deep analytical join (TPC-H Q8-flavored market share) --------------
    // seven tables: lineitem⋈orders is the one big-big shuffle join (both
    // sides exchange on the order key); customer/supplier join keyed;
    // part/nation/region are broadcast dims with their filters pushed to
    // the scans. Revenue is EXACT integer cents·e2 (price_c · (100−disc_c))
    // — unlike a rounded double sum, partition order cannot wiggle the
    // result — and market share is integer e6 against the per-year total
    // computed over the SAME joined projection (one window, no second scan).
    "q_market_share" -> ((s, d) => {
      val rev = expr("cast(round(l_extendedprice * 100) as bigint)" +
        " * (100L - cast(round(l_discount * 100) as bigint))")
      val joined = li(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))),
          col("c_nationkey") === col("cn_key"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("supp_nation"), rev.as("rev_e4"))
        .groupBy(col("yr"), col("supp_nation"))
        .agg(sum(col("rev_e4")).as("rev_e4"))
      val wy = Window.partitionBy(col("yr"))
      joined
        .withColumn("total_e4", sum(col("rev_e4")).over(wy))
        .select(col("yr"), col("supp_nation"), col("rev_e4"),
          expr("rev_e4 * 1000000L div total_e4").as("share_e6"))
    }),

    // --- data-quality audit (Deequ/dbt-test-style assertions) ---------------
    // one row of integrity metrics a pipeline gate would assert on:
    // completeness (nulls), domain ranges, key uniqueness, and referential
    // integrity both directions. Scans + one anti-join + one semi-join —
    // each metric map-side where possible, nothing quadratic.
    "q_dq_checks" -> ((s, d) => dqChecks(li(s, d), ord(s, d))),

    // --- exact per-group discrete percentiles -------------------------------
    // percentile_disc by rank selection: value at rank ceil(q·n) in one
    // per-group sort window — integer-exact (no interpolation, so no
    // cross-engine float parity risk), and the distributed shape is one
    // exchange on the group key + in-partition sort, shared by all three
    // quantiles. The same exact-selection machinery as quality-threshold
    // calibration, exposed as a plain relational primitive.
    "q_percentile_disc" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      val wn = Window.partitionBy(col("source"))
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("n_chars"))).as("p90"),
          max(when(col("rn") === expr("(99 * n + 99) div 100"), col("n_chars"))).as("p99"))
    }),

    // --- pivot / unpivot (wide<->long reshaping) ----------------------------
    // PIVOT with an EXPLICIT value list: the implicit form would first run a
    // distinct scan to discover categories AND make the output schema
    // data-dependent — both wrong at scale. With pinned values this is one
    // hash agg whose map-side combine folds each category into its column.
    "q_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .select(expr("__time__ div 86400000").as("day"), col("event_type"),
          expr("cast(round(value * 10000) as bigint)").as("v"))
        .groupBy(col("day"))
        .pivot("event_type", PivotTypes)
        .agg(count(lit(1)))
        .select(col("day") +: PivotTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)),

    // the inverse reshape: melt the pivoted wide table back to long form —
    // map-only over the (tiny) wide table, zero-filled combos included
    "q_unpivot" -> ((s, d) => {
      val wide = queries("q_pivot")(s, d)
      wide.unpivot(Array(col("day")),
        PivotTypes.map(t => col(s"n_$t")).toArray, "event_type", "n")
        .withColumn("event_type", expr("substring(event_type, 3)"))
    }),

    // --- multi-dimensional aggregation (SURVEY §2.6 "free" row) -------------
    "q_rollup" -> ((s, d) =>
      li(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))),

    "q_cube" -> ((s, d) =>
      ord(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("cnt"))),

    // HLL sketch count. The raw estimate is engine-specific, so the oracle-
    // checkable output is (exact count, estimate-within-3×rel_sd flag): the
    // DuckDB side emits `true` literally, and the hash compare fails iff the
    // sketch drifts out of bound. (Raw estimate also asserted in
    // RelationalSpec.)
    "q_approx_distinct" -> ((s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") / col("exact_parts")
            <= 0.06).as("within_bound"))),

    // Same oracle pattern as q_approx_distinct: the driver-checkable claim is
    // "the sketch lands within its documented bound of the exact value". KLL
    // accuracy 1000 => rank error ~1/1000; assert the approx median's RANK
    // neighborhood via a loose value band from the exact p45/p55.
    "q_approx_percentile" -> ((s, d) =>
      li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("exact_median"),
          approx_percentile(col("l_quantity"), lit(0.5), lit(1000)).as("ap"),
          percentile(col("l_quantity"), lit(0.45)).as("p45"),
          percentile(col("l_quantity"), lit(0.55)).as("p55"))
        .select(col("l_returnflag"), col("exact_median"),
          (col("ap") >= col("p45") && col("ap") <= col("p55")).as("within_bound"))),

    // --- scalar & date function library ------------------------------------
    "q_scalar_dates" -> ((s, d) =>
      ord(s, d).select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        year(col("o_orderdate")).cast("long").as("y"),
        (unix_timestamp(col("o_orderdate")) * 1000).as("epoch_ms"),
        trim(col("o_orderpriority")).as("prio"),
        // BIGDECIMAL capability (reference: util/ScalarUtil.java:24-26,
        // BigDecimalColumn.java:34-50 — TC round-trips decimals AS STRINGS).
        // Emitting the decimal as text also makes the driver's value hash
        // insensitive to decimal-vs-float rendering ("389137.40" vs
        // "389137.4") across Spark parquet and DuckDB.
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("total_dec")))
  )

  val oracleSql: Map[String, String] = Map(
    "q_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, true AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_approx_percentile" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS exact_median,
        |true AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30""".stripMargin,

    "q_select_scalar" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_type, 1, 5) AS type5,
        |CAST(p_size AS BIGINT) AS size_l,
        |CAST(round(p_retailprice * 1100) AS BIGINT) / 1000.0 AS price_adj FROM part""".stripMargin,

    "q_project_rename" ->
      "SELECT n_nationkey, n_name AS nation_name FROM nation",

    "q_flatmap_explode" ->
      "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS token FROM part",

    "q_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
        |CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
        |CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) * 10000 // count(*) AS BIGINT)
        |  AS avg_qty_e6,
        |max(l_quantity) AS max_qty,
        |min(l_shipdate) AS min_ship, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_suppkey) AS n_supps FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_group_concat" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_join_inner" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_brand, round(l_extendedprice, 2) AS price
        |FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size > 40""".stripMargin,

    "q_join_left" ->
      """SELECT o_orderkey, c_name FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c ON o_custkey = c_custkey""".stripMargin,

    "q_join_full" ->
      """SELECT c_custkey, c_name, o_orderkey
        |FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 5 = 0) o ON c_custkey = o_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,

    "q_over_rank" ->
      """SELECT p_partkey, p_brand, p_retailprice,
        |row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |FROM part""".stripMargin,

    "q_over_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem""".stripMargin,

    "q_topn" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_grouped_topn" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) t WHERE rn <= 3""".stripMargin,

    "q_union_all" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL SELECT c_custkey FROM customer WHERE c_acctbal > 9000""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_intersect" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000
        |INTERSECT SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal > 0""".stripMargin,

    "q_except" ->
      """SELECT DISTINCT c_custkey FROM customer
        |EXCEPT SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |WHERE o_totalprice > 300000""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey,
        |substring(p_name, 3, 8) AS sub_mid,
        |substring(p_name, 2) AS sub_from,
        |trim(p_name, 'a') AS trim_a,
        |ltrim(p_name, 'a') AS ltrim_a,
        |rtrim(p_name, 'a') AS rtrim_a,
        |p_brand || '#' || p_type AS cat,
        |lower(p_type) AS lo
        |FROM part""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, event_type,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_market_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n2.n_name AS supp_nation,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey),
        |g AS (SELECT yr, supp_nation, CAST(sum(rev_e4) AS BIGINT) AS rev_e4
        |      FROM j GROUP BY 1, 2)
        |SELECT yr, supp_nation, rev_e4,
        |  rev_e4 * 1000000 // CAST(sum(rev_e4) OVER (PARTITION BY yr) AS BIGINT) AS share_e6
        |FROM g""".stripMargin,

    "q_dq_checks" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_lineitem,
        |  (SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM lineitem) AS null_orderkeys,
        |  (SELECT CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM lineitem) AS qty_range_viol,
        |  (SELECT CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM lineitem) AS disc_range_viol,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
        |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1
        |                         HAVING count(*) > 1)) AS dup_orderkeys,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS childless_orders""".stripMargin,

    "q_percentile_disc" ->
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n
        |FROM documents)
        |SELECT source, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS p50,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END) AS p90,
        |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN n_chars END) AS p99
        |FROM r GROUP BY 1""".stripMargin,

    "q_pivot" -> {
      val cols = PivotTypes.map(t =>
        s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS n_$t").mkString(",\n|  ")
      s"""SELECT epoch_ms(ts) // 86400000 AS day,
         |  $cols
         |FROM events GROUP BY 1""".stripMargin
    },

    "q_unpivot" -> {
      val arms = PivotTypes.map(t =>
        s"SELECT day, '$t' AS event_type, CAST(count(*) FILTER (e.event_type = '$t') AS BIGINT) AS n " +
          s"FROM (SELECT epoch_ms(ts) // 86400000 AS day, event_type FROM events) e GROUP BY 1")
      arms.mkString("\n|UNION ALL\n|").stripMargin
    },

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS prio,
        |count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_scalar_dates" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
        |CAST(year(o_orderdate) AS BIGINT) AS y,
        |epoch_ms(o_orderdate) AS epoch_ms,
        |trim(o_orderpriority) AS prio,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_dec
        |FROM orders""".stripMargin
  )
}
