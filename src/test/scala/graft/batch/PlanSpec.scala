package graft.batch

import graft.{SparkSpec, SparkEntry}

/** Physical-plan assertions — the "would this survive 100×?" checks run as
  * tests so a regression in plan shape fails CI, not just the benchmark:
  * filters/pruning must reach the parquet scan, small dims must broadcast,
  * top-k must be TakeOrderedAndProject (no global sort), LSH self-joins must
  * reuse their exchange (signatures computed once).
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf("sf0.001")).queryExecution.executedPlan.toString

  test("q_filter pushes predicates and prunes columns at the parquet scan") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_returnflag)") || p.contains("EqualTo(l_returnflag,R)"), p)
    // projection pruned: the scan must not read all 16 lineitem columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.toLowerCase.contains("l_comment"), "scan reads unprojected column:\n" + p)
  }

  test("q_join_inner broadcasts the filtered dim side") {
    val p = plan("q_join_inner")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topn is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), "global sort materialized:\n" + p)
  }

  test("q_groupby_agg runs partial+final hash aggregation") {
    val p = plan("q_groupby_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("LSH self-joins reuse one exchange at scale (signatures computed once)") {
    // At bench scale AQE turns these into broadcast joins (fine); at 100 TB
    // the banded tables exceed any broadcast threshold and the shuffle join
    // must reuse the one exchange. Simulate by disabling auto-broadcast and
    // inspect the FINAL adaptive plan after execution.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("q_dedup_simhash", "q_dedup_minhash").foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("ReusedExchange"), s"$q:\n$p")
        assert(!p.contains("BroadcastExchange"), s"$q broadcast despite threshold -1:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("embedding pairs broadcast one side (shuffle-free quadratic compare)") {
    val p = plan("q_dedup_embedding")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("text analysis is map-only: no exchange in the plan") {
    Seq("q_text_stats", "q_text_fingerprint", "q_text_quality", "q_text_repetition",
      "q_media_features").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }
}
