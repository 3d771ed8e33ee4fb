package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Expression-level microbenchmarks (diagnostic main, NOT part of the
  * driver contract, never in a data path) — isolates the per-row cost of a
  * single expression family over the sf fixture so PLANS.md adjudications
  * can say "the stage costs X because of Y" with a measurement instead of a
  * guess. Usage: SPARK_GRAFT_SF_DIR=... tools/run_verify.sh graft.MicroBench <probe>
  */
object MicroBench {

  private def time(label: String, passes: Int)(f: => Long): Unit = {
    f // warm-up
    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime(); val n = f; (System.nanoTime() - t0) / 1e9 -> n
    }
    val med = times.map(_._1).sorted.apply(passes / 2)
    println(f"$label%-28s ${med}%8.3f s  (rows=${times.head._2})")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.headOption.getOrElse("shingle") match {
      case "shingle" => shingleProbe(spark.emptyDataFrame.sparkSession, d)
      case "vec16" => vecProbe(spark.emptyDataFrame.sparkSession, d)
      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }

  /** Price the per-row vector HOFs (int8 mse aggregate, residual transform)
    * against a native-loop traversal of the same arrays (DotProduct), on the
    * embeddings fixture AND on a 2M-row synthetic — the round-18 "is a
    * native expression worth writing here" decision (r17 verdict item 7).
    */
  private def vecProbe(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val dequant = "(lo + round((x - lo) * 255.0 / scale) * scale / 255.0)"
    def probes(v: DataFrame, label: String): Unit = {
      val prepped = v
        .withColumn("lo", array_min(col("v")))
        .withColumn("scale", greatest(array_max(col("v")) - col("lo"), lit(1e-12)))
      prepped.cache().count()
      def agg(c: org.apache.spark.sql.Column): Long =
        prepped.select(sum(c).cast("long")).collect()(0).getLong(0)
      time(s"$label native dot(v,v)", 5)(agg(
        graft.functions.GraftFunctions.dot(col("v"), col("v"))))
      time(s"$label int8 mse HOF", 5)(agg(expr(
        "cast(round(aggregate(v, cast(0.0 as double), (acc, x) -> acc + " +
          s"(x - $dequant) * (x - $dequant)) / 64.0 * 1e12) as bigint)")))
      time(s"$label residual HOF", 5)(agg(expr(
        "aggregate(transform(sequence(1, size(v)), i -> round(v[i-1] - lo, 6)), " +
          "cast(0.0 as double), (acc, x) -> acc + x)")))
      prepped.unpersist()
    }
    probes(Tables.embeddings(spark, d)
      .select(col("embedding").cast("array<double>").as("v")), "fixture")
    probes(spark.range(2000000).selectExpr(
      "transform(sequence(1, 64), i -> cast((id * 31 + i * 7) % 997 as double) / 997.0) as v"),
      "synthetic 2M x 64")
  }

  /** Decompose the shingle-hash pipeline stage: tokenize only, tokenize +
    * 3-gram shingle strings, + md5 hashing, + the minhash pass — each step
    * over every document, counting output elements so nothing is pruned.
    */
  private def shingleProbe(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val toks: DataFrame = Tables.documents(spark, d)
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
    toks.cache().count()
    val shinglesSql =
      "array_distinct(transform(sequence(1, size(toks) - 2), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"
    val hashSql = graft.functions.Determinism.md5LongSql("s")
    def agg(c: org.apache.spark.sql.Column): Long =
      toks.filter(size(col("toks")) >= 3).select(sum(c)).collect()(0).getLong(0)
    time("tokens (cached baseline)", 5)(agg(size(col("toks"))))
    time("+ shingle strings", 5)(agg(size(expr(shinglesSql))))
    time("+ md5 60-bit hashes", 5)(agg(size(expr(s"transform($shinglesSql, s -> $hashSql)"))))
    time("+ 16 minhashes", 5)(agg(size(graft.functions.GraftFunctions.minhashes(
      expr(s"transform(transform($shinglesSql, s -> $hashSql), h -> h % ${graft.ops.Dedup.MersennePrime}L)"),
      graft.ops.Dedup.permCoeffs, graft.ops.Dedup.MersennePrime))))
    time("NATIVE shingle hashes", 5)(agg(size(
      graft.functions.GraftFunctions.shingleHashes(col("toks")))))
    time("NATIVE + fused minhashes", 5)(agg(size(graft.functions.GraftFunctions.minhashes(
      graft.functions.GraftFunctions.shingleHashes(col("toks")),
      graft.ops.Dedup.permCoeffs, graft.ops.Dedup.MersennePrime,
      inputMod = graft.ops.Dedup.MersennePrime))))
    toks.unpersist()
  }
}
