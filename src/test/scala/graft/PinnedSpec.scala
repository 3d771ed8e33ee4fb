package graft

import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** The pin primitive's two durability paths and the rule that picks one
  * from the master.
  *
  * Contract under test: `pinned` must (a) cut lineage on BOTH paths — the
  * iterative operators depend on it, (b) return the same rows on both, and
  * (c) on the reliable path produce on-disk checkpoint FILES (the artifact
  * that survives executor loss, unlike localCheckpoint blocks), while
  * leaving no lingering persist (the around-checkpoint cache is an internal
  * optimization, not a leak). The suite's session is `local[4,2]`, so the
  * reliable cases take the path through the internal overload.
  */
class PinnedSpec extends SparkSpec {

  private def reliablePin[T](ds: org.apache.spark.sql.Dataset[T]) =
    Pinned.pin(ds, eager = false, reliable = true)

  /** Persistent-RDD ids registered since the `before` snapshot. Suites run
    * sequentially and the ContextCleaner only REMOVES entries, so this is
    * exactly what the code under test added and still holds — unlike a
    * global count, which a concurrent reap of an earlier test's GC'd RDD
    * can move either way.
    */
  private def addedSince(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  private def persistentIds: Set[Int] = addedSince(Set.empty)

  /** unpersist(blocking = false) releases asynchronously — poll briefly
    * instead of asserting the instant after.
    */
  private def releasedSince(before: Set[Int]): Boolean = (1 to 50).exists { _ =>
    addedSince(before).isEmpty || { Thread.sleep(100); false }
  }

  private def base = spark.range(0, 1000).select(
    col("id"), (col("id") % 7).as("k"), (col("id") * 3).as("v"))

  test("the durability rule: file pins iff executors live in other JVMs") {
    assert(!Pinned.reliableFor("local"))
    assert(!Pinned.reliableFor("local[4]"))
    assert(!Pinned.reliableFor("local[4,2]"))
    assert(!Pinned.reliableFor("local[*]"))
    assert(Pinned.reliableFor("local-cluster[2,2,1024]"))
    assert(Pinned.reliableFor("spark://h:7077"))
    // the rule reads the master the way SparkContext.isLocal does
    val sc = spark.sparkContext
    assert(Pinned.reliableFor(sc.master) === !sc.isLocal)
  }

  test("local-master pins take the localCheckpoint path") {
    val before = persistentIds
    val p = base.pinned(true)
    // localCheckpoint's signature: the pinned RDD itself is registered as a
    // persistent RDD (its blocks ARE the pin); the reliable path leaves no
    // persistent entry behind
    assert(addedSince(before).nonEmpty,
      "on a local master a pin must localCheckpoint (persistent RDD blocks)")
    assert(p.count() === 1000)
    p.unpersist(blocking = true)
  }

  test("default mode pins cut lineage and preserve rows") {
    val p = base.pinned(false)
    // lineage cut: the pinned plan is a leaf scan of materialized blocks,
    // not the original Range
    assert(p.queryExecution.optimizedPlan.collectLeaves().forall(
      _.getClass.getSimpleName.contains("LogicalRDD")))
    assert(p.count() === 1000)
    assert(p.agg(sum("v")).head.getLong(0) === base.agg(sum("v")).head.getLong(0))
  }

  test("reliable mode writes checkpoint files, same rows, no lingering persist") {
    val before = persistentIds
    val p = reliablePin(base) // reliable mode is always eager by contract
    val dir = spark.sparkContext.getCheckpointDir
    assert(dir.nonEmpty, "reliable pin must establish a checkpoint dir")
    val files = new java.io.File(new java.net.URI(dir.get).getPath match {
      case "" => dir.get; case path => path
    })
    def allFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(allFiles) else Seq(f)
    assert(allFiles(files).exists(_.getName.startsWith("part-")),
      s"expected checkpoint part files under $files")
    assert(p.queryExecution.optimizedPlan.collectLeaves().forall(
      _.getClass.getSimpleName.contains("LogicalRDD")))
    assert(p.count() === 1000)
    assert(p.agg(sum("v")).head.getLong(0) === base.agg(sum("v")).head.getLong(0))
    assert(releasedSince(before), "the around-checkpoint persist must be released")
  }

  test("reliable mode supports the iterative fold shape") {
    // the k-means / BPE / CC idiom: re-pin a shrinking state each round
    val out = (1 to 3).foldLeft(base) { (df, _) =>
      reliablePin(df.filter(col("id") % 2 === 0).select(
        (col("id") / 2).cast("long").as("id"), col("k"), col("v")))
    }
    assert(out.count() === 125)
  }

  test("reliable mode refuses the tmpdir fallback on a distributed master") {
    // round-16 advice: per-node /tmp is not a shared filesystem, so a
    // cluster session with no checkpoint dir must fail fast, not silently
    // checkpoint to files other nodes cannot read
    val e = intercept[IllegalArgumentException] {
      Pinned.resolveCheckpointDir(
        "spark://head:7077", isLocal = false, "app-123", confDir = None)
    }
    assert(e.getMessage.contains("visible to every executor"))
    assert(e.getMessage.contains(Pinned.DirKey))
    // graft.pin.dir satisfies the same master without the refusal
    assert(Pinned.resolveCheckpointDir(
      "spark://head:7077", isLocal = false, "app-123",
      confDir = Some("hdfs:///pins")) === "hdfs:///pins")
    // single-box masters keep the tmpdir convenience
    assert(Pinned.resolveCheckpointDir(
      "local-cluster[2,2,1024]", isLocal = false, "app-123", None)
      .contains("graft-pins-app-123"))
    assert(Pinned.resolveCheckpointDir("local[4]", isLocal = true, "app-123", None)
      .contains("graft-pins-app-123"))
  }

  test("the tmpdir fallback dir is deleted, recursively, when the application ends") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pins-spec").toFile
    val sub = new java.io.File(dir, "uuid/rdd-1")
    assert(sub.mkdirs())
    java.nio.file.Files.write(new java.io.File(sub, "part-00000").toPath, Array[Byte](1, 2))
    new Pinned.DeleteOnEnd(dir).onApplicationEnd(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(!dir.exists(), s"$dir must be gone at application end")
  }

  test("reliable pin leaves a pre-existing cache of the same plan in place") {
    val d = base
    d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      d.count()
      val p = reliablePin(d)
      assert(p.count() === 1000)
      // CacheManager matches by logical plan: an unconditional
      // persist/unpersist inside pin() would evict this entry (r16 advice)
      assert(d.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
        "pin must not evict the caller's cache")
    } finally d.unpersist(blocking = true)
  }

  test("both modes agree on a grouped aggregate") {
    val d = base.pinned(false).groupBy("k").agg(sum("v").as("sv"))
      .orderBy("k").collect().map(_.toSeq)
    val r = reliablePin(base).groupBy("k").agg(sum("v").as("sv"))
      .orderBy("k").collect().map(_.toSeq)
    assert(d.toSeq === r.toSeq)
  }
}
