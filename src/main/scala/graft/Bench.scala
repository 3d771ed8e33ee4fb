package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line per run, consumed by the driver into
  * BENCH_r{N}.json and graded against BASELINE.md.
  *
  * Per query: an untimed warm-up (JIT, codegen cache, parquet footer cache,
  * broadcast build) then 3 timed passes, reporting the MEDIAN plus the
  * min/max spread. A single-sample timer cannot distinguish GC/AQE variance
  * from a regression — round 4 recorded a false 3x "regression" that a re-run
  * showed was one noisy sample. The reference's own numbers are steady-state
  * throughput claims (README.md:7-8), so steady-state medians are the honest
  * comparison — cold JVM startup is a constant ~6 s that would otherwise land
  * entirely on whichever query happens to run first.
  *
  * Session-pathology defenses (round-7 verdict: the driver artifact recorded
  * 344.8 s where a clean re-run of the same binary took 55.9 s — progressive
  * storage/GC contamination the old harness neither prevented nor recorded):
  *
  *   - the checkpoint-block sweep runs BLOCKING after EVERY timed pass, not
  *     just between queries: a heavy query's own checkpoint blocks
  *     (CC rounds, pipeline scans) otherwise stay pinned across its later
  *     passes, and `blocking = false` frees could lag into the next timing
  *     under memory pressure — exactly the min-healthy/median-blown signature
  *     BENCH_r07 shows.
  *   - every query entry embeds telemetry: GC-time delta over its passes,
  *     peak block-manager storage bytes and peak persistent-RDD count
  *     observed BEFORE each sweep. A poisoned session is now self-diagnosing
  *     from the artifact alone (healthy run: storage returns to ~0 after
  *     each sweep and gc_ms stays a small fraction of wall time).
  *   - `SPARK_GRAFT_BENCH_ONLY=q_a,q_b` restricts the run to the named
  *     queries, so re-adjudicating one suspect query doesn't cost a full
  *     session.
  *   - per query, `compiles` counts the classes Janino compiled over its
  *     timed passes (Spark's `CodegenMetrics`), and the headline carries
  *     `compiles_total`. The passes run back-to-back, so their median hides
  *     a generated-class cache that re-compiles every run; this count shows
  *     it (0 on a warm pass of a query whose generated code is stable).
  *   - per query, `cpu_ms` (process CPU time over the timed passes) and
  *     `load` (peak 1-min system load) make EXTERNAL starvation readable
  *     from the artifact alone: wall time 100x healthy with cpu_ms/wall far
  *     below the core count, gc_ms ~ 0 and flat storage means the CPU went
  *     to a co-scheduled process, not this JVM (the BENCH_r07/r08
  *     773s-vs-45s discrepancy pattern). `storage_after` records post-sweep
  *     storage so "returns to ~0 after each sweep" is a field, not prose.
  *
  * The full JSON line goes to SPARK_GRAFT_BENCH_OUT (default bench_out.json)
  * as the durable primary artifact; stdout gets the same line plus a short
  * headline (build.sbt forks with OutputStrategy.StdoutOutput so neither is
  * sbt-prefixed — a bounded stdout tail ends with bare parseable JSON).
  */
object Bench {

  /** Cumulative shuffle bytes WRITTEN by completed tasks — the plan-shape
    * telemetry (round-9 verdict item 5): a lost ReusedExchange, an AQE
    * broadcast→sort-merge flip, or a partitioning regression shows up as a
    * shuffle_mb step change in the artifact even when wall time hides it in
    * variance. Write side chosen over read: every exchange writes exactly
    * once, while reads multiply under stage retries and AQE reuse.
    */
  private final class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  private val tally = new ShuffleTally

  /** Listener delivery is async; drain the bus before reading the tally so
    * a query's tail tasks are billed to IT, not its successor.
    */
  private def shuffleBytes(spark: SparkSession): Long = {
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    tally.bytes.get()
  }

  /** Cumulative stop-the-world GC millis of this JVM (driver == executors at
    * local[*], so this is the whole engine's GC time).
    */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** Cumulative CPU millis consumed by THIS process (all threads). The
    * adjudication signal rounds 7 and 8 lacked: a query whose wall time is
    * 100x its healthy number while cpu_ms/wall sits far below the core count
    * (and gc_ms ~ 0, storage flat) is being starved by something OUTSIDE the
    * JVM — co-scheduled load in the harness — and the artifact now proves it
    * without a judge re-run. -1 if the platform bean doesn't expose it.
    */
  private def cpuMs(): Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1000000L
    case _ => -1L
  }

  /** 1-minute system load average (whole machine, not just this process);
    * high load with low process cpu_ms is the co-scheduling smoking gun.
    */
  private def loadAvg(): Double = osBean.getSystemLoadAverage

  /** Block-manager storage bytes currently in use (max - remaining over all
    * block managers; local mode has exactly one).
    */
  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum

  /** Release executor storage held by localCheckpoint(): the iterative
    * operators (k-means, connected components, the shared tokenized scan in
    * the pipelines) each leave checkpoint RDD blocks in storage memory that
    * are reclaimed only when the driver GC collects the RDD reference.
    * BLOCKING, so the next timing never starts while frees are in flight.
    */
  private def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  private case class QStat(
      times: Seq[Double], gcDeltaMs: Long, cpuDeltaMs: Long, loadMax: Double,
      storagePeak: Long, storageAfter: Long, rddsPeak: Int, shuffleMbPerPass: Double,
      compiles: Long)

  /** Classes Janino has compiled in this JVM (Spark's codegen cache misses). */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Pure-CPU rig calibration (round-13 verdict item 7): ~2 s of a fixed
    * single-threaded work unit (LCG mix + array xor over 8 MB — enough to
    * touch L2/L3 like real query code, no Spark, no allocation) scored as
    * units/sec. The rig has shown episodic ~1.5-2.3x per-core slowdowns on
    * identical plans (BASELINE rig-variance notes); this anchor turns that
    * into a FIELD of every bench artifact so `bench_gate.py` can normalize
    * wall gates by measured rig speed instead of inferring it from the
    * query distribution (q_select_scalar carries Spark overhead; the
    * cross-run median conflates rig drift with real uniform regressions).
    * Single-threaded on purpose: the observed drift was uniform per-core
    * cpu_ms inflation, which one pinned thread measures cleanly.
    */
  private def cpuAnchor(): Double = {
    val arr = new Array[Long](1 << 20)
    def unit(seed: Long): Long = {
      var h = seed
      var i = 0
      while (i < arr.length) {
        h = h * 6364136223846793005L + 1442695040888963407L
        arr(i) ^= h ^ (h >>> 33)
        i += 1
      }
      h ^ arr((seed & (arr.length - 1)).toInt)
    }
    var sink = unit(1) // JIT warm-up
    var units = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 2_000_000_000L) {
      sink ^= unit(units)
      units += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) print("") // defeat dead-code elimination
    units / secs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = 3
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b re-checks a suspect subset. An
    // unknown name is LOUD: a typo silently benching zero queries would read
    // as a vacuous pass.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // Partitions sized from the FIXTURE (GraftSession.shufflePartitionsFor:
    // small fixtures stay = cpus, the bench contract; sf100's 15 GB gets
    // the ≥256 partitions its 600M-row in-partition sorts need).
    val spark = GraftSession.start(GraftSession.fromEnv(GraftSession.builder(
      shufflePartitions = GraftSession.shufflePartitionsFor(sfDir, GraftSession.cpus))))
    spark.sparkContext.addSparkListener(tally)

    // warm-up pass (untimed)
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      sweep(spark)
    }

    // A failed query must be LOUD: it reports {"err": ...} instead of a
    // timing, never a number that shrinks the total, and fails the process
    // exit code so a regression can't bench as an improvement.
    val results: Seq[(String, Either[String, QStat])] = ordered.map {
      case (name, fn) =>
        try {
          val gc0 = gcMs()
          val cpu0 = cpuMs()
          val sh0 = shuffleBytes(spark)
          val cc0 = compiles()
          var stPeak = 0L
          var stAfter = 0L
          var rddPeak = 0
          var loadMax = 0.0
          val times = (1 to passes).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            // observe BEFORE the sweep: what this query left pinned
            stPeak = math.max(stPeak, storageBytes(spark))
            rddPeak = math.max(rddPeak, spark.sparkContext.getPersistentRDDs.size)
            loadMax = math.max(loadMax, loadAvg())
            sweep(spark)
            // and AFTER: a healthy sweep returns storage to ~0; a creep here
            // is the leak the in-artifact health check looks for
            stAfter = math.max(stAfter, storageBytes(spark))
            dt
          }
          val shMb = (shuffleBytes(spark) - sh0) / passes.toDouble / 1e6
          name -> Right(QStat(times.sorted, gcMs() - gc0,
            { val c = cpuMs(); if (c < 0 || cpu0 < 0) -1L else c - cpu0 },
            loadMax, stPeak, stAfter, rddPeak, math.round(shMb * 1000) / 1000.0,
            compiles() - cc0))
        } catch {
          case e: Throwable =>
            sweep(spark) // a FAILED query must not leak its blocks into the next timings
            name -> Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
    }
    def median(sorted: Seq[Double]): Double = {
      val n = sorted.length
      if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
    }
    val qs = results.map {
      case (k, Right(s)) =>
        "\"" + k + "\":{\"median\":" + median(s.times) +
          ",\"min\":" + s.times.head + ",\"max\":" + s.times.last +
          ",\"gc_ms\":" + s.gcDeltaMs + ",\"cpu_ms\":" + s.cpuDeltaMs +
          ",\"load\":" + s.loadMax +
          ",\"storage_bytes\":" + s.storagePeak +
          ",\"storage_after\":" + s.storageAfter +
          ",\"n_rdds\":" + s.rddsPeak +
          ",\"shuffle_mb\":" + s.shuffleMbPerPass +
          ",\"compiles\":" + s.compiles + "}"
      case (k, Left(err)) =>
        "\"" + k + "\":{\"err\":\"" + err.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\"}"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, Left(_)) => k }
    val total = results.collect { case (_, Right(s)) => median(s.times) }.sum
    val gcTotal = results.collect { case (_, Right(s)) => s.gcDeltaMs }.sum
    val cpuTotal = results.collect { case (_, Right(s)) => s.cpuDeltaMs }.filter(_ >= 0).sum
    val shuffleTotal =
      math.round(results.collect { case (_, Right(s)) => s.shuffleMbPerPass }.sum * 1000) / 1000.0
    val compilesTotal = results.collect { case (_, Right(s)) => s.compiles }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ncores = Runtime.getRuntime.availableProcessors
    // measured AFTER the queries: the anchor then reflects the rig state the
    // timings actually ran under (a pre-run anchor can miss a co-load that
    // arrives mid-session). ~2 s, single-threaded, no Spark.
    val anchor = math.round(cpuAnchor() * 100) / 100.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"gc_ms_total":$gcTotal,"cpu_ms_total":$cpuTotal,"shuffle_mb_total":$shuffleTotal,"compiles_total":$compilesTotal,"ncores":$ncores,"cpu_anchor":$anchor,"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // The driver scrapes a bounded stdout tail, which truncated the big line
    // mid-JSON in rounds 5 and 6. Persist the full line to a file as the
    // durable primary artifact, print it, then print a SHORT headline LAST so
    // any bounded tail ends with a parseable line (build.sbt's
    // OutputStrategy.StdoutOutput keeps both free of sbt's "[info] " prefix).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    // The final headline carries a COMPACT name -> median-seconds map (round-17
    // verdict item 2: the full per-query line above exceeded the driver's
    // bounded stdout tail, so PERF_r17 had per_query empty and the round's
    // comparison collapsed to one noisy total). ~25 bytes/query keeps the last
    // line parseable inside any reasonable tail while restoring per-query
    // round-over-round visibility. Additive only — every pre-existing field,
    // the full first line, and the bench_out.json artifact are unchanged.
    val qsCompact = results.collect { case (k, Right(s)) =>
      "\"" + k + "\":" + median(s.times)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"gc_ms_total":$gcTotal,"cpu_ms_total":$cpuTotal,"shuffle_mb_total":$shuffleTotal,"compiles_total":$compilesTotal,"ncores":$ncores,"cpu_anchor":$anchor,"nqueries":${results.size},"queries":$qsCompact,"failed":$failedJson,"bench_out":"$outFile","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
