package graft

/** The session contract GraftSession sets on every graft session, asserted
  * on the shared test session (which the factory builds), and its
  * re-application by `Tables.load` on a session whose confs drifted.
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
}
