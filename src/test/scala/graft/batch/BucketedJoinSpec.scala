package graft.batch

import graft.{SparkSpec, Tables}
import java.nio.file.Files

/** Bucketing for co-located joins — the 100 TB technique for a join that
  * repeats every run (fact ⋈ fact on the same key): write both sides
  * bucketed by the join key and the shuffle disappears from EVERY subsequent
  * join. The reference's analogue is `Rehash` pre-partitioning all data by
  * key once and keeping it thread-resident (sp/DataAnalysis.java:25-48);
  * bucketing is the durable, multi-run version of the same idea.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast path
    try {
      Tables.orders(spark, sf()).write
        .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      Tables.customer(spark, sf()).write
        .bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")

      val bo = spark.table("b_orders")
      val bc = spark.table("b_customer")
      val joined = bo.join(bc, bo("o_custkey") === bc("c_custkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), s"bucketed join still shuffles:\n$p")
      assert(!p.contains("BroadcastExchange"), s"join broadcast, bucketed path not exercised:\n$p")

      // and the result matches the unbucketed join
      val o = Tables.orders(spark, sf())
      val c = Tables.customer(spark, sf())
      val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      assert(joined.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
