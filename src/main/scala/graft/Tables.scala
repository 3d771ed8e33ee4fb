package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * The reference declares source schemas up front (`columnTypeMap`,
  * reference: sp/input/AbstractStreamTable.java:55-92); we do the same by
  * trusting the parquet footer schema — Catalyst prunes columns and pushes
  * filters into the scan, so loading "the whole table" is free until an
  * action touches it.
  *
  * Each session resolves a table file once. The first [[load]] of a file
  * runs `spark.read.parquet` (data-source lookup, file listing and the
  * schema-inference job) and keeps the resolved `BaseRelation`, keyed by the
  * file's (qualified path, length, modification time) from one
  * `getFileStatus`; later loads build their frame from that relation with
  * `baseRelationToDataFrame`, which is where `spark.read` ends too. Each
  * call therefore gets fresh attribute ids, so two loads of one table in a
  * self-join stay unambiguous, and a rewritten file (new length or mtime) is
  * resolved again. [[GraftSession.tune]] runs before every load, so the
  * confs inference reads (`nanosAsLong`) are the same on every call. The
  * relations are per session (a `newSession()` resolves its own) and are
  * dropped when the session's SparkContext stops; a relation holds its
  * session, so a weak map keyed by the session would never free them.
  * [[chaos]] and the `events` time columns are applied per call.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    chaos(spark.baseRelationToDataFrame(relation(spark, s"$dir/$name.parquet")))
  }

  private case class FileKey(path: String, length: Long, mtime: Long)

  private type Relations = ConcurrentHashMap[FileKey, BaseRelation]

  /** Resolved relations per live SparkContext, then per session. */
  private val catalogs = new ConcurrentHashMap[SparkContext, ConcurrentHashMap[SparkSession, Relations]]()

  private def relations(spark: SparkSession): Relations =
    catalogs.computeIfAbsent(spark.sparkContext, { sc =>
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = catalogs.remove(sc)
      })
      new ConcurrentHashMap[SparkSession, Relations]()
    }).computeIfAbsent(spark, _ => new Relations())

  private def relation(spark: SparkSession, file: String): BaseRelation = {
    val p = new Path(file)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    relations(spark).computeIfAbsent(
      FileKey(st.getPath.toString, st.getLen, st.getModificationTime),
      _ => spark.read.parquet(file).queryExecution.analyzed match {
        case l: LogicalRelation => l.relation
        case other => throw new IllegalStateException(
          s"$file did not resolve to a file-source relation:\n$other")
      })
  }

  /** Fault-injection harness for retry-determinism evidence: with
    * `GRAFT_CHAOS_MOD=k` (env or `graft.chaos.mod` system property) every
    * table scan fails its FIRST attempt on every k-th partition, so Spark's
    * task retry re-runs those partitions — the steady-state reality of a
    * 1000-executor job, where preemption, spot reclaim, and speculative
    * execution replay tasks constantly. A query is correct at that scale
    * only if replays are invisible; running the full registry under chaos
    * against the unchanged DuckDB oracle proves exactly that (the engine
    * has no runtime RNG — `functions.Determinism` — so this must hold).
    * Requires a retry-tolerant master (`local[n,f]` with f >= 2, or a
    * cluster). Off (the default) this is an identity — the scan plan,
    * pushdown, and codegen are untouched.
    */
  private def chaos(df: DataFrame): DataFrame = {
    val raw = sys.env.get("GRAFT_CHAOS_MOD").orElse(sys.props.get("graft.chaos.mod"))
    val mod = raw.map { v =>
      scala.util.Try(v.trim.toInt).getOrElse(throw new IllegalArgumentException(
        s"GRAFT_CHAOS_MOD / graft.chaos.mod must be an integer partition modulus, got '$v'"))
    }.getOrElse(0)
    if (mod <= 0) df
    else {
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(df.schema)
      df.mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber == 0 && tc.partitionId % mod == 0) {
          chaosInjections.incrementAndGet()
          throw new RuntimeException(
            s"graft.chaos: injected first-attempt failure (partition ${tc.partitionId})")
        }
        it
      }
    }
  }

  /** Injections fired so far in this JVM (driver-readable in local modes;
    * in cluster modes each executor counts its own — read the Spark UI's
    * failed-task count instead). Lets harnesses assert chaos actually bit.
    */
  val chaosInjections = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `events` with the reference's event-time convention: `__time__` =
    * BIGINT epoch-millis (reference: sp/input/AbstractStreamTable.java:25-38
    * reserves `__time__`; window/SlideWindow.java:334-335 requires BIGINT).
    * The raw `ts` column arrives as LongType epoch-nanos (see GraftSession);
    * we also derive `ts_t` (TimestampType, ms precision) for Spark's native
    * window()/session_window() operators.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    // The generator has shipped `ts` both as TIMESTAMP(NANOS) (read as
    // LongType epoch-nanos under nanosAsLong) and as TIMESTAMP(MICROS)
    // (read as TIMESTAMP_NTZ); normalize to the engine contract — epoch-nanos
    // LongType — before deriving `__time__`. Session timeZone is UTC
    // (GraftSession), so the NTZ→TIMESTAMP cast is a micros-identity.
    val tsNanos = raw.schema("ts").dataType match {
      case LongType => "ts"
      case _ => "unix_micros(cast(ts as timestamp)) * 1000L"
    }
    // Integer division — `/` on longs promotes to double, which cannot
    // represent 1.7e18 nanos exactly (53-bit mantissa) and would corrupt ms.
    val ms = s"($tsNanos) div 1000000"
    // One projection, so the frame is analyzed once rather than per column.
    // (ListMap keeps this column order.)
    raw.withColumns(scala.collection.immutable.ListMap(
      "ts" -> expr(tsNanos), "__time__" -> expr(ms), "ts_t" -> timestamp_millis(expr(ms))))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
