package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lineage-cut "pin" — THE materialization primitive for every iterative /
  * multi-consumer operator in the engine (BPE rounds, k-means Lloyd steps,
  * large-star/small-star CC, the semanticDedup normalized projection, …). A
  * pin must cut lineage (the iterative plans grow without bound otherwise)
  * and materialize once for N consumers. How the materialized blocks survive
  * executor loss follows the master ([[reliableFor]]), with no knob:
  *
  *   - `local` / `local[...]` (one JVM): `localCheckpoint` — blocks live in
  *     executor storage memory/disk, zero extra I/O. Spark does not
  *     recompute lost local checkpoints, but in one JVM "executor loss" ==
  *     "the whole process died anyway".
  *
  *   - executors in other JVMs (`local-cluster[...]`, a real cluster):
  *     `Dataset.checkpoint` to the checkpoint directory. Blocks become FILES:
  *     executor loss costs a re-read, not a job restart, matching the
  *     reference's fault model where shuffle loss is a task-level retry, not
  *     a job-level one (reference: sp/Rehash.java:224-291 retries at the
  *     network layer). A `localCheckpoint` there loses the query terminally
  *     when an executor dies (FETCHFAIL_evidence.log — q_dedup_prefix died
  *     on STAGE_MATERIALIZATION_MULTIPLE_FAILURES after an executor kill).
  *     The input is persisted MEMORY_AND_DISK around the checkpoint so the
  *     checkpoint write job reads cached blocks instead of recomputing the
  *     whole plan (RDD.checkpoint's documented second computation), then
  *     unpersisted — unless the caller already cached the same plan, in
  *     which case the pair is skipped so the pin never evicts a cache it
  *     does not own (CacheManager matches by logical plan, so an
  *     unconditional unpersist here would drop the caller's blocks too).
  *
  * The file checkpoint needs a checkpoint dir EVERY EXECUTOR CAN READ. The
  * resolution order: (1) `sc.setCheckpointDir(...)` if the application
  * already set one; (2) the `graft.pin.dir` runtime conf; (3) on a
  * single-box master only (`local[*]` / `local-cluster[...]`, where every
  * executor JVM shares one filesystem), a `java.io.tmpdir` fallback. On a
  * distributed master there is NO fallback — pin() fails fast instead,
  * because a driver-local tmp path silently becomes per-NODE /tmp: each
  * executor writes its own checkpoint part files locally, the post-loss
  * re-read on a different node hits missing files, and the file checkpoint
  * dies exactly when it was supposed to save the job (Spark itself merely
  * logs a warning). Cluster recipe:
  * `spark.sparkContext.setCheckpointDir("hdfs://.../graft-pins")` (or
  * `--conf graft.pin.dir=<DFS path>`) before the first pin. The fallback
  * directory is the session's own and is deleted when its SparkContext
  * stops ([[DeleteOnEnd]]); a caller's `setCheckpointDir` or `graft.pin.dir`
  * is never deleted. On `local-cluster[...]` the fallback makes Spark log
  * "checkpoint directory must not be on the local filesystem" once per
  * context: expected there, since every executor JVM shares this box's
  * filesystem (the single-box fallback above).
  *
  * The file checkpoint is always EAGER (the write is the pin); the `eager`
  * flag only controls the localCheckpoint path. Every
  * [[GraftSession]] sets `spark.cleaner.referenceTracking.cleanCheckpoints`
  * so checkpoint files of GC'd plans are reaped during long multi-pin jobs.
  */
object Pinned {

  /** Runtime conf key for the checkpoint dir used when the SparkContext has
    * none set (single-box convenience; clusters should `setCheckpointDir`
    * to a DFS path themselves).
    */
  val DirKey = "graft.pin.dir"

  /** The durability rule: file checkpoints iff executors live in other JVMs
    * than the driver. `master` is local iff it is `local` or `local[...]`,
    * the same test as `SparkContext.isLocal`; `local-cluster[...]` is not.
    */
  private[graft] def reliableFor(master: String): Boolean =
    !(master == "local" || master.startsWith("local["))

  /** Resolve the checkpoint dir for a file pin when the SparkContext has
    * none set: `graft.pin.dir` if given; otherwise a java.io.tmpdir fallback
    * ONLY when every executor shares this box's filesystem (`local[*]` /
    * `local-cluster[...]`). A distributed master with neither source fails
    * fast — see the class scaladoc for why per-node /tmp is data-loss-shaped
    * there. Factored out of [[pin]] so the refusal is testable without a
    * real cluster.
    */
  private[graft] def resolveCheckpointDir(
      master: String,
      isLocal: Boolean,
      applicationId: String,
      confDir: Option[String]): String = confDir.getOrElse {
    require(isLocal || master.startsWith("local-cluster"),
      s"Pinning on master '$master' writes file checkpoints and requires a " +
        "checkpoint dir visible to every executor: call " +
        s"SparkContext.setCheckpointDir(<DFS path>) or set $DirKey. Refusing " +
        "the java.io.tmpdir fallback — on a cluster it resolves to per-node " +
        "/tmp, so executors checkpoint to files no other node can read and " +
        "recovery fails exactly when an executor is lost.")
    new File(sys.props("java.io.tmpdir"), s"graft-pins-$applicationId").getAbsolutePath
  }

  /** Deletes the `java.io.tmpdir` fallback checkpoint dir, with everything
    * under it, when the application ends. Registered only by the [[pin]]
    * that created the fallback.
    */
  private[graft] final class DeleteOnEnd(dir: File) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      FileUtils.deleteQuietly(dir)
  }

  def pin[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    pin(ds, eager, reliableFor(ds.sparkSession.sparkContext.master))

  /** [[pin]] with the durability chosen by the caller instead of the
    * master; the specs exercise the file path on their local session.
    */
  private[graft] def pin[T](ds: Dataset[T], eager: Boolean, reliable: Boolean): Dataset[T] =
    if (!reliable) ds.localCheckpoint(eager)
    else {
      val spark = ds.sparkSession
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val confDir = spark.conf.getOption(DirKey)
        val dir = resolveCheckpointDir(sc.master, sc.isLocal, sc.applicationId, confDir)
        sc.setCheckpointDir(dir)
        if (confDir.isEmpty) sc.addSparkListener(new DeleteOnEnd(new File(dir)))
      }
      // A pre-existing cache entry for this plan means the CALLER (or an
      // equivalent plan elsewhere) holds blocks that persist/unpersist here
      // would evict out from under them (CacheManager matches by logical
      // plan). Probed on a DETACHED QueryExecution: consulting
      // ds.storageLevel instead forces the dataset's own lazy
      // QueryExecution stages before persist() registers the cache, which
      // measurably de-optimizes the eager checkpoint that follows (sf10
      // semanticDedup 7.2 → 11.3 s, sf100 150 → 385 s — the bisected
      // round-17 regression). The caller's blocks serve the checkpoint read
      // just as well, so only wrap when no entry exists.
      val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val preCached = classic.sharedState.cacheManager.lookupCachedData(
        classic, classic.sessionState.executePlan(ds.queryExecution.logical).analyzed
      ).isDefined
      if (!preCached) ds.persist(StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(eager = true)
      finally if (!preCached) ds.unpersist(blocking = false)
    }

  /** `df.pinned(eager)` — call-site syntax for [[pin]]. Named `pinned` (not
    * `pin`) to stay visually distinct from the streaming watermark-pin idiom
    * (`graft.streaming.Pin.keep`).
    */
  implicit final class PinnedOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned(eager: Boolean = true): Dataset[T] = Pinned.pin(ds, eager)
  }
}
