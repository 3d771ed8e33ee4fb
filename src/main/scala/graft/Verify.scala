package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is logged as `[verify] <name> failed` and skipped, so its missing
  * output fails the compare; it is never re-run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Partitions are fixture-sized (GraftSession.shufflePartitionsFor); the
    // master (e.g. a multi-JVM local-cluster, whose pins are checkpoint files
    // that survive an executor kill; see graft.Pinned) comes from the env
    // GraftSession reads.
    val spark = GraftSession.start(GraftSession.fromEnv(GraftSession.builder(
      shufflePartitions = GraftSession.shufflePartitionsFor(sfDir, GraftSession.cpus))))
    new java.io.File(outDir).mkdirs()
    // Optional subset (comma-separated names) for local spot checks; the
    // driver leaves it unset and gets the full registry. oracle_sql.json is
    // subset to match so a partial outDir never reads as missing output.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_VERIFY_SKIP names the queries EXCLUDED at this scale (the
    // sf1+ sweeps: quadratic diagnostic oracles, guard-by-design queries —
    // see FIXTURES.md); oracle_sql.json is filtered to match.
    val skip = sys.env.get("SPARK_GRAFT_VERIFY_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None        => SparkEntry.queries
    }).filter(q => !skip(q._1))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch {
        // NonFatal only: an OutOfMemoryError / linkage error means the
        // session itself is suspect — running more queries against it
        // would produce garbage evidence, so let it crash the run.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_(kv._1)) && !skip(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
