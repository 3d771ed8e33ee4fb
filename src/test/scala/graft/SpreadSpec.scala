package graft

import org.apache.spark.sql.functions.{col, count, lit}

/** `Spread.fan`'s scan-root contract is checked, not just documented. */
class SpreadSpec extends SparkSpec {

  test("fan accepts projections and filters over a table scan") {
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
      .filter(col("doc_id") > 0)
    assert(Spread.fan(docs, col("doc_id")).count() === docs.count())
  }

  test("fan rejects an aggregated frame") {
    val agg = Tables.documents(spark, sf()).groupBy(col("source")).agg(count(lit(1)).as("n"))
    val e = intercept[IllegalArgumentException](Spread.fan(agg, col("source")))
    assert(e.getMessage.contains("rooted at a scan"))
  }
}
