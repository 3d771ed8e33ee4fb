package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** `Tables.load`'s per-session relation catalog: a table file is resolved
  * (schema-inference job included) once per session and file version, and
  * every load still gets its own attribute ids and its own chaos wrapper.
  * Each test copies fixture files into a fresh directory, so no other
  * suite's loads on the shared session have resolved them yet.
  */
class TablesSpec extends SparkSpec {

  private def table(name: String, from: String = "region"): Path = {
    val dir = Files.createTempDirectory("graft-tables")
    dir.toFile.deleteOnExit()
    val f = dir.resolve(s"$name.parquet")
    Files.copy(java.nio.file.Paths.get(sf(), s"$from.parquet"), f)
    f.toFile.deleteOnExit()
    f
  }

  private def load(s: SparkSession, f: Path) =
    Tables.load(s, f.getParent.toString, f.getFileName.toString.stripSuffix(".parquet"))

  test("a second load of the same table launches no job") {
    val f = table("t")
    assert(jobsDuring(load(spark, f)) > 0, "the first load resolves the file")
    assert(jobsDuring(load(spark, f)) === 0)
  }

  test("two loads of one table join unambiguously, with the rows of two fresh reads") {
    val f = table("t", from = "nation")
    val (a, b) = (load(spark, f), load(spark, f))
    val got = a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_nationkey"), b("n_nationkey")).collect().map(_.toString).sorted
    val (x, y) = (spark.read.parquet(f.toString), spark.read.parquet(f.toString))
    val want = x.join(y, x("n_regionkey") === y("n_regionkey"))
      .select(x("n_nationkey"), y("n_nationkey")).collect().map(_.toString).sorted
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq)
  }

  test("a rewritten file with a new length and mtime is resolved again") {
    val f = table("t")
    assert(load(spark, f).columns.head === "r_regionkey")
    val mtime = Files.getLastModifiedTime(f).toMillis
    Files.copy(java.nio.file.Paths.get(sf(), "nation.parquet"), f,
      StandardCopyOption.REPLACE_EXISTING)
    assert(f.toFile.setLastModified(mtime + 10000))
    val again = load(spark, f)
    assert(again.columns.toSeq === spark.read.parquet(f.toString).columns.toSeq)
    assert(again.count() === 25)
  }

  test("a second session does not see the first session's relations") {
    val f = table("t")
    load(spark, f)
    val other = spark.newSession()
    assert(jobsDuring(load(other, f)) > 0)
    assert(jobsDuring(load(spark, f)) === 0)
    assert(jobsDuring(load(other, f)) === 0)
  }

  test("chaos still fires on a load served from the catalog") {
    val f = table("t", from = "nation")
    val clean = load(spark, f).count()
    val before = Tables.chaosInjections.get()
    System.setProperty("graft.chaos.mod", "1")
    try assert(load(spark, f).count() === clean)
    finally System.clearProperty("graft.chaos.mod")
    assert(Tables.chaosInjections.get() > before)
  }
}
