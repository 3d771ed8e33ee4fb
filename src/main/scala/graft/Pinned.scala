package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lineage-cut "pin" with a selectable durability mode — THE materialization
  * primitive for every iterative / multi-consumer operator in the engine
  * (BPE rounds, k-means Lloyd steps, large-star/small-star CC, the
  * semanticDedup normalized projection, …). A pin must cut lineage (the
  * iterative plans grow without bound otherwise) and materialize once for
  * N consumers; the two modes trade how the materialized blocks survive
  * executor loss:
  *
  *   - default (`graft.pin.reliable` unset/false): `localCheckpoint` —
  *     blocks live in executor storage memory/disk, zero extra I/O. Fast,
  *     but BY CONTRACT Spark does not recompute lost local checkpoints:
  *     losing an executor mid-job is terminal for the query (demonstrated
  *     in FETCHFAIL_evidence.log — q_dedup_prefix died on
  *     STAGE_MATERIALIZATION_MULTIPLE_FAILURES after an executor kill).
  *     The right default for a single JVM, where "executor loss" == "the
  *     whole process died anyway".
  *
  *   - auto (`graft.pin.reliable=auto`): reliable iff the pinned plan's
  *     Catalyst size estimate reaches `graft.pin.autoBytes` (default
  *     4 GiB), else default — the measured crossover rule (BASELINE
  *     round-17): below low-GB pins the file write dominates (≤1.6×
  *     slower), above it the eager file pin is FASTER than
  *     localCheckpoint because it deletes a partition-count-linked
  *     exchange-and-recompute class (sf100: semanticDedup 0.64×,
  *     clusters 0.76× of the default walls).
  *
  *   - reliable (`graft.pin.reliable=true`): `Dataset.checkpoint` to the
  *     checkpoint directory. Blocks become FILES: executor loss costs a
  *     re-read, not a job restart, matching the reference's fault model
  *     where shuffle loss is a task-level retry, not a job-level one
  *     (reference: sp/Rehash.java:224-291 retries at the network layer).
  *     The input is persisted MEMORY_AND_DISK around the checkpoint so the
  *     checkpoint write job reads cached blocks instead of recomputing the
  *     whole plan (RDD.checkpoint's documented second computation), then
  *     unpersisted — unless the caller already cached the same plan, in
  *     which case the pair is skipped so the pin never evicts a cache it
  *     does not own (CacheManager matches by logical plan, so an
  *     unconditional unpersist here would drop the caller's blocks too).
  *
  * Reliable mode needs a checkpoint dir EVERY EXECUTOR CAN READ. The
  * resolution order: (1) `sc.setCheckpointDir(...)` if the application
  * already set one; (2) the `graft.pin.dir` runtime conf; (3) on a
  * single-box master only (`local[*]` / `local-cluster[...]`, where every
  * executor JVM shares one filesystem), a `java.io.tmpdir` fallback. On a
  * distributed master there is NO fallback — pin() fails fast instead,
  * because a driver-local tmp path silently becomes per-NODE /tmp: each
  * executor writes its own checkpoint part files locally, the post-loss
  * re-read on a different node hits missing files, and the "reliable" mode
  * dies exactly when it was supposed to save the job (Spark itself merely
  * logs a warning). Cluster recipe:
  * `spark.sparkContext.setCheckpointDir("hdfs://.../graft-pins")` (or
  * `--conf graft.pin.dir=<DFS path>`) before the first pin.
  *
  * Reliable mode is always EAGER (the write is the pin); the `eager` flag
  * only controls the localCheckpoint path, where laziness lets plan-only
  * consumers (PlanDump) build without executing. At 100 TB the conf to set
  * alongside is `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
  * checkpoint files of GC'd plans are reaped during long multi-pin jobs.
  */
object Pinned {

  /** Runtime conf key selecting the durability mode: unset/`false` =
    * localCheckpoint, `true` = reliable file checkpoint, `auto` = reliable
    * iff the pinned plan's Catalyst size estimate is at least
    * [[AutoBytesKey]]. `auto` mechanizes the measured crossover (BASELINE
    * round-17 crossover table): the eager file pin pays for itself once the
    * pinned projection reaches the low-GB range (semantic family flips at
    * 1.5-4.5 GB, the many-small-pin CC family at 4.5-15 GB), while below it
    * the per-round write dominates.
    */
  val ReliableKey = "graft.pin.reliable"

  /** Runtime conf key for the `auto` threshold in bytes (default 4 GiB —
    * between the two measured family crossovers, conservative for the CC
    * family whose per-round pins are smaller than its corpus).
    */
  val AutoBytesKey = "graft.pin.autoBytes"

  private val AutoBytesDefault: Long = 4L << 30

  /** Runtime conf key for the checkpoint dir used when the SparkContext has
    * none set (single-box convenience; clusters should `setCheckpointDir`
    * to a DFS path themselves).
    */
  val DirKey = "graft.pin.dir"

  /** Resolve the checkpoint dir for a reliable pin when the SparkContext has
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
      s"$ReliableKey=true on master '$master' requires a checkpoint dir " +
        "visible to every executor: call SparkContext.setCheckpointDir" +
        s"(<DFS path>) or set $DirKey. Refusing the java.io.tmpdir " +
        "fallback — on a cluster it resolves to per-node /tmp, so " +
        "executors checkpoint to files no other node can read and " +
        "recovery fails exactly when an executor is lost.")
    new java.io.File(sys.props("java.io.tmpdir"), s"graft-pins-$applicationId")
      .getAbsolutePath
  }

  def pin[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val spark = ds.sparkSession
    val reliable =
      spark.conf.getOption(ReliableKey).map(_.trim.toLowerCase) match {
        case Some("true") => true
        case Some("auto") =>
          // Catalyst's estimate for the pinned subplan (propagated from the
          // scan through the operators) — an order-of-magnitude signal, which
          // is all the crossover needs: the measured flip points sit a full
          // decade apart from the regimes on either side. CRITICAL: computed
          // on a DETACHED QueryExecution, never ds.queryExecution — forcing
          // the dataset's own QE here resolves its withCachedData stage
          // BEFORE the reliable branch's persist() registers the cache, so
          // the eager checkpoint would bypass the around-checkpoint cache
          // and recompute the whole plan (measured at sf100: +80% CPU and
          // the default-mode exchange class back in the profile)
          val bytes = spark.sessionState.executePlan(ds.queryExecution.logical)
            .optimizedPlan.stats.sizeInBytes
          val bound = spark.conf.getOption(AutoBytesKey)
            .map(_.trim.toLong).getOrElse(AutoBytesDefault)
          bytes >= bound
        case _ => false
      }
    if (!reliable) ds.localCheckpoint(eager)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(resolveCheckpointDir(
          sc.master, sc.isLocal, sc.applicationId, spark.conf.getOption(DirKey)))
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
  }

  /** `df.pinned(eager)` — call-site syntax for [[pin]]. Named `pinned` (not
    * `pin`) to stay visually distinct from the streaming watermark-pin idiom
    * (`graft.streaming.Pin.keep`).
    */
  implicit final class PinnedOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned(eager: Boolean = true): Dataset[T] = Pinned.pin(ds, eager)
  }
}
