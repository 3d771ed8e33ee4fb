package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic main (NOT part of the driver contract, never in a data path):
  * prints the EXECUTED plan of named queries for the PLANS.md audits. The
  * collect() exists only to materialize the query so AQE's final plan — the
  * one that actually ran — is what gets printed, not the initial estimate.
  * Usage: tools/run_verify.sh graft.PlanDump q1 q2 ...
  */
object PlanDump {

  /** Dump the executed plans of `names` against `sfDir`. Runs with the pin
    * mode forced to DEFAULT (localCheckpoint) regardless of any inherited
    * `graft.pin.reliable=true`: reliable pins are always eager FILE writes,
    * so a plan dump under that mode would checkpoint every pinned subplan
    * to disk just to print text — pure waste for a diagnostic, and the
    * printed plan shapes are identical either way (the pin node cuts
    * lineage identically in both modes). The inherited conf value is
    * restored afterwards so a shared session is left as found.
    */
  def dump(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    val prior = spark.conf.getOption(Pinned.ReliableKey)
    spark.conf.set(Pinned.ReliableKey, "false")
    // SPARK_GRAFT_PLAN_FORMAT=formatted prints `explain("formatted")` output
    // (numbered operators + per-operator details: PushedFilters, ReadSchema,
    // join build side) — the round-17 plan-evidence format; default stays the
    // executed-plan tree the PLANS.md audits use.
    val formatted = sys.env.get("SPARK_GRAFT_PLAN_FORMAT").contains("formatted")
    try names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      println(s"===== $n =====")
      if (formatted) println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      else println(df.queryExecution.executedPlan.toString)
    } finally prior match {
      case Some(v) => spark.conf.set(Pinned.ReliableKey, v)
      case None    => spark.conf.unset(Pinned.ReliableKey)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    dump(spark, args.toSeq, d)
    spark.stop()
  }
}
