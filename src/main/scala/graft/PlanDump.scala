package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic main (NOT part of the driver contract, never in a data path):
  * prints the EXECUTED plan of named queries for the PLANS.md audits. The
  * collect() exists only to materialize the query so AQE's final plan — the
  * one that actually ran — is what gets printed, not the initial estimate.
  * Usage: tools/run_verify.sh graft.PlanDump q1 q2 ...
  */
object PlanDump {

  /** Dump the executed plans of `names` against `sfDir`. */
  def dump(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      println(s"===== $n =====")
      println(df.queryExecution.executedPlan.toString)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    dump(spark, args.toSeq, d)
    spark.stop()
  }
}
