package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session contract GraftSession sets on every graft session, asserted
  * on the shared test session (which the factory builds), its
  * re-application by `Tables.load` on a session whose confs drifted, and the
  * generated-class cache its policy sizes.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared session carries the session contract") {
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c.get("spark.sql.adaptive.enabled") === "true")
    assert(c.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(c.get("spark.sql.autoBroadcastJoinThreshold") === (64L * 1024 * 1024).toString)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    // checkpoint files of GC'd plans are reaped (file pins on a multi-JVM
    // master); a static conf, so it must be on the SparkContext
    assert(spark.sparkContext.getConf.get(
      "spark.cleaner.referenceTracking.cleanCheckpoints") === "true")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // the generated-class cache holds a registry pass, keyed by source that
    // does not embed the run-to-run varying codegen stage id
    assert(c.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(c.get("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("Tables.load restores UTC on a session whose time zone was changed") {
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      Tables.load(spark, sf(), "region")
      assert(spark.conf.get(key) === "UTC")
    } finally spark.conf.set(key, prior)
  }

  test("a warm pass over the driver-bound queries compiles no generated class") {
    // perfbench's registry_driver list: 98 distinct classes at sf0.01, more
    // than Spark's default 100-entry cache keeps once Guava splits it into
    // segments (22-33 re-compiles per warm pass without the policy's size)
    val names = Seq("q_bpe_merges", "q_over_rank", "q_select_scalar", "q_join_asof_tol",
      "q_ewma", "q_cdc_scd2", "q_text_chunks", "q_corr", "q_over_size")
    pass(names)
    assert(pass(names) === 0L)
  }

  test("a plan whose AQE stages finish in a varying order reuses its classes") {
    // q_rfm's independent broadcast stages finish in a different order per
    // run, so AQE numbers its codegen stages differently each time
    val names = Seq("q_rfm")
    pass(names)
    assert((1 to 3).map(_ => pass(names)) === Seq(0L, 0L, 0L))
  }

  /** Classes compiled while `names` run once each at sf0.01. */
  private def pass(names: Seq[String]): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach(n => SparkEntry.queries(n)(spark, sf("sf0.01")).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }
}
