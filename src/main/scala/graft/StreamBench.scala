package graft

import graft.streaming.CorpusIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full admission-chain streaming soak ([[runSoakFullChain]]). Prints one
  * JSON line per micro-batch of state telemetry, a plateau verdict per
  * query, the closed-form law line and a rows/sec line. Not part of the
  * driver's Bench contract; run manually:
  *
  *   tools/run_verify.sh graft.StreamBench soak_fullchain [nRows] [batchRows]
  *
  * `nRows` (default 1,000,000) must be at least [[MinRows]] and `batchRows`
  * (rows per pre-written chunk, default 100,000) positive; any other command
  * line prints the usage and exits 2 before a session starts.
  * `tools/soakkill_fullchain.sh` runs it under local-cluster and kills one
  * executor mid-run. Streaming throughput and latency are measured by
  * `perfbench`'s `stream_window`.
  *
  * Env: the session env GraftSession reads (SPARK_GRAFT_CPUS sets cores and
  * shuffle partitions; SPARK_GRAFT_MASTER=local-cluster[...] runs the
  * stateful operators across separate executor JVMs, with real state-store
  * serialization and shuffle transport). State is GraftSession's one
  * policy, the HDFS-backed store.
  */
object StreamBench {
  private val Epoch = 1700000000000L // ms; event time advances 3 ms/row

  /** Smallest feed the soak accepts. */
  val MinRows = 400000

  private val Usage =
    s"usage: graft.StreamBench soak_fullchain [nRows >= $MinRows, default 1000000] " +
      "[batchRows > 0, default 100000]"

  /** (nRows, batchRows) of a valid command line, None for any other. */
  private[graft] def parseArgs(args: Seq[String]): Option[(Int, Int)] = {
    def num(i: Int, default: Int) = args.lift(i).fold(Option(default))(_.toIntOption)
    for {
      mode <- args.headOption if mode == "soak_fullchain" && args.length <= 3
      rows <- num(1, 1000000) if rows >= MinRows
      batch <- num(2, 100000) if batch > 0
    } yield (rows, batch)
  }

  def main(args: Array[String]): Unit = {
    val (total, batchSize) = parseArgs(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = GraftSession.start()
    val secs = runSoakFullChain(spark, total, batchSize, GraftSession.cpus)
    val rps = total / secs
    println(f"""{"metric":"stream_rows_per_sec","value":$rps%.0f,"unit":"rows/sec","mode":"soak_fullchain","rows":$total,"secs":$secs%.3f}""")
    spark.stop()
  }

  /** Fewest input batches whose thirds [[soakReport]] can compare. */
  private val MinVerdictBatches = 6

  /** Soak telemetry, per query: one JSON line per micro-batch (input rows,
    * per-operator state rows/bytes), then the plateau verdict comparing
    * peak state over the middle vs final third of the run — bounded stores
    * plateau after warm-up, leaks keep climbing. Judged on BOTH row counts
    * and bytes because they disagree under RocksDB: its numRowsTotal is
    * the estimate-num-keys property, which keeps counting watermark-evicted
    * keys until their tombstones compact away (so the row curve climbs
    * monotonically on a perfectly bounded store), while bytes (memory +
    * SST files) plateau. HDFS-backed runs report exact rows and the two
    * curves agree. Verdict: bounded iff EITHER curve plateaus — a real
    * leak grows both. A query with fewer than [[MinVerdictBatches]] input
    * batches gets an explicit `too_few_batches` verdict instead.
    */
  private def soakReport(
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    progress.lastOption.foreach { p =>
      val names = p.stateOperators.map(so => s""""${so.operatorName}"""")
      println(s"""{"soak_operators":${names.mkString("[", ",", "]")}}""")
    }
    val perBatch = progress.filter(_.numInputRows > 0).map { p =>
      val rows = p.stateOperators.map(_.numRowsTotal)
      val mem = p.stateOperators.map(_.memoryUsedBytes)
      val sst = p.stateOperators.map { so =>
        import scala.jdk.CollectionConverters._
        so.customMetrics.asScala.collect {
          case (k, v) if k.toLowerCase.contains("sstfiles") => v.longValue()
        }.sum
      }
      (p.batchId, p.numInputRows, rows.sum, mem.sum + sst.sum,
        rows.mkString("[", ",", "]"), mem.mkString("[", ",", "]"))
    }
    perBatch.foreach { case (id, in, rowsSum, bytes, rowsArr, memArr) =>
      println(s"""{"soak_batch":$id,"input_rows":$in,"state_rows_total":$rowsSum,"state_bytes_total":$bytes,"state_rows":$rowsArr,"state_mem":$memArr}""")
    }
    val n = perBatch.size
    if (n < MinVerdictBatches)
      println(s"""{"soak_verdict":"too_few_batches","batches":$n,"needed":$MinVerdictBatches}""")
    else {
      def thirds(sel: ((Long, Long, Long, Long, String, String)) => Long): (Long, Long, Double) = {
        val mid = perBatch.slice(n / 3, 2 * n / 3).map(sel).max
        val fin = perBatch.slice(2 * n / 3, n).map(sel).max
        (mid, fin, fin.toDouble / math.max(mid, 1L).toDouble)
      }
      val (rowsMid, rowsFin, rowsRatio) = thirds(_._3)
      val (bytesMid, bytesFin, bytesRatio) = thirds(_._4)
      val verdict = if (rowsRatio < 1.15 || bytesRatio < 1.15) "bounded" else "growing"
      println(f"""{"soak_verdict":"$verdict","peak_state_rows_mid_third":$rowsMid,"peak_state_rows_final_third":$rowsFin,"rows_final_vs_mid":$rowsRatio%.3f,"peak_state_bytes_mid_third":$bytesMid,"peak_state_bytes_final_third":$bytesFin,"bytes_final_vs_mid":$bytesRatio%.3f}""")
    }
  }

  /** Query 2's cosine threshold: the two survivors of one semantic family
    * share a direction (cosine 1), while two distinct 64-dim hash directions
    * cross 0.9 with probability ~4e-23 per pair.
    */
  private val SemSoakThreshold = 0.9

  /** Fixed contaminated text for the full-chain soak: every shingle of it is
    * in the benchmark set (computed from this exact text), so the decontam
    * stage cuts carriers with hits == 100% >> the 10% ceiling, while the
    * quality gate PASSES them (0.5·min(1,38/80) + 0.3·min(1,stop·5) + 0.2·uniq
    * ≈ 0.72) — each knockout class is cut by exactly one stage.
    */
  private val FullChainContamText =
    "the benchmark question seven asks what is the answer to the riddle " +
      "of the old sphinx and the model must never see this held out text " +
      "during training because it is the frozen evaluation suite of the soak"

  /** FULL admission chain soak (round-15 verdict item 6): ONE run composing
    * every stage end-to-end — quality gate → DECONTAMINATION → exact dedup →
    * near-dup admission (query 1: `CorpusIngest.admittedDocs` with a real
    * benchmark shingle set) → SEMANTIC dedup (query 2:
    * `SemDedupStream.admitted` over query 1's parquet sink). Two queries, one
    * pipelined run: the admitted store is the production seam — chaining a
    * flatMapGroupsWithState AFTER the near-dup OR-agg inside one plan would
    * feed watermark-FINALIZED rows into a late-row-dropping operator, which
    * is unsound by construction, so the seam is load-bearing, not a cop-out.
    *
    * Feed (3 ms/row event time) with four orthogonal knockout classes and a
    * CLOSED-FORM admitted set:
    *   - id % 13 == 0:           junk ('zz qq xx')        — cut by the GATE;
    *   - id % 17 == 0 (not junk): [[FullChainContamText]] — cut by DECONTAM;
    *   - else fam = id div 10 shares one text             — EXACT admits 1/fam;
    *   - the two fams of nfam = id div 20 carry the SAME word triple
    *     ('the fam<nfam> and') repeated 27 vs 28 times: different md5
    *     fingerprints (order/length-sensitive) but IDENTICAL 3-gram shingle
    *     SETS, so their minhash signatures are EQUAL — the banded candidate
    *     match and the Jaccard-1 verification are deterministic, no LSH
    *     probability in the law — NEAR-DUP admits 1/nfam;
    *   - sfam = id div 40: query 2 derives each admitted doc's embedding as
    *     the hash-direction of its sfam (murmur3-hashed components), so the
    *     two nfam survivors of an sfam are semantic duplicates (cosine 1) 60 ms
    *     apart — SEMANTIC admits 1/sfam.
    *
    * Law: query 1's sink holds EXACTLY one doc per nfam and zero junk/contam
    * ids; query 2's sink EXACTLY one per sfam. Batch-boundary-proof: chunks
    * are event-time contiguous and duplicate gaps are ≤ 200 ms, so an
    * incumbent is always within one chunk span of the watermark frontier
    * (never evicted between the pair); query 2's 1-hour delay absorbs the
    * sink's file-order scrambling (q1 emission batches span ≤ one chunk of
    * event time ≈ 5 min at 100k rows/chunk). Cross-sfam direction collisions
    * are the only probabilistic residue: P(cos > 0.9) per pair ≈ 0.19^31 ≈
    * 4e-23 for 64-dim hash directions — immaterial at any feasible scale.
    * State plateaus: q1's three stores hold ~10 s of feed; q2's incumbents
    * hold 1 h of EVENT time ≈ 60k rows (plateau from ~6% into a 20M run).
    */
  private def runSoakFullChain(
      spark: SparkSession, total: Int, batchSize: Int, cpus: Int): Double = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")

    def feedDf(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(
        timestamp_millis(lit(Epoch) + col("id") * 3L).as("ts"),
        col("id").as("doc_id"),
        concat(lit("src"), pmod(col("id"), lit(8))).as("source"),
        expr(
          s"""case when id % 13 = 0 then 'zz qq xx'
             |when id % 17 = 0 then '$FullChainContamText'
             |else repeat(concat('the fam', cast(id div 20 as string), ' and '),
             |  case when (id div 10) % 2 = 0 then 27 else 28 end)
             |end""".stripMargin).as("text"))

    // the benchmark shingle set — from the contaminated text itself, via the
    // same batch path production uses
    val bench = graft.ops.Curation.benchmarkShingleSet(
      spark.range(1).select(col("id").as("doc_id"), lit(FullChainContamText).as("text")),
      "true")
    require(bench.nonEmpty, "benchmark set must be non-empty")

    val dirIn = java.nio.file.Files.createTempDirectory("sbfc-in").toString
    val out1 = java.nio.file.Files.createTempDirectory("sbfc-admitted").toString
    val out2 = java.nio.file.Files.createTempDirectory("sbfc-sem").toString
    val ckp1 = java.nio.file.Files.createTempDirectory("sbfc-ckp1").toString
    val ckp2 = java.nio.file.Files.createTempDirectory("sbfc-ckp2").toString
    val filesPerChunk = math.max(cpus / 2, 4)
    var from = 0L
    while (from < total) {
      val n = math.min(batchSize.toLong, total - from)
      feedDf(from, n).repartition(filesPerChunk).write.mode("append").parquet(dirIn)
      from += n
    }
    // two flush chunks past the watermark horizon. They must ride the
    // ADMITTED path (unique long normal texts), not be junk: under the
    // default min-watermark policy the OR-agg finalizes on the VERDICT-side
    // watermark, which only advances when verdict rows flow — a gated flush
    // would strand exactly the last delay-window of main admissions in agg
    // state (the 400k smoke measured precisely 10 s of event time missing).
    // Flush ids are >= total, so the law code excludes them.
    Seq(60000L, 120000L).foreach { off =>
      spark.range(2).select(
        timestamp_millis(lit(Epoch) + total.toLong * 3L + off + col("id") * 3L).as("ts"),
        (lit(total.toLong + off) + col("id")).as("doc_id"),
        lit("src0").as("source"),
        expr(s"repeat(concat('the flush', cast($total + $off + id as string), ' and '), 27)")
          .as("text"))
        .repartition(2).write.mode("append").parquet(dirIn)
    }

    val schema = feedDf(0, 1).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerChunk)
      .option("latestFirst", "false").parquet(dirIn)

    // 64-cell quantizer frozen from the first 64 sfam directions
    val cents = graft.streaming.SemDedupStream.frozenCents(
      spark.range(64).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> cast(hash(cast(id as int), i) as float))")
          .as("embedding")), 64L)

    val t0 = System.nanoTime()
    val q1 = CorpusIngest.admittedDocs(src, "10 seconds", benchShingles = bench)
      .writeStream.format("parquet").option("path", out1)
      .option("checkpointLocation", ckp1).outputMode("append").start()

    val admittedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val vecs = spark.readStream.schema(admittedSchema)
      .option("maxFilesPerTrigger", filesPerChunk * 8)
      .option("latestFirst", "false").parquet(out1)
      .select(col("ts"), col("doc_id").as("vec_id"),
        expr("transform(sequence(1, 64), " +
          "i -> cast(hash(cast(vec_id div 40 as int), i) as float))").as("embedding"))
    val q2 = graft.streaming.SemDedupStream.admitted(
      vecs, cents, threshold = SemSoakThreshold, watermarkDelay = "1 hour")
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckp2).outputMode("append").start()

    q1.processAllAvailable()
    val progress1 = q1.recentProgress.toSeq
    q1.stop() // the admitted store is complete; q2 drains it
    q2.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    val progress2 = q2.recentProgress.toSeq
    q2.stop()
    // per query — different operator sets (q1: dedup ×2 + band op + OR-agg;
    // q2: one flatMapGroupsWithState), one concatenated report would compare
    // apples to oranges across the seam
    soakReport(progress1)
    soakReport(progress2)

    val a1 = spark.read.parquet(out1).select(col("doc_id"))
      .collect().map(_.getLong(0))
    val mains = a1.filter(_ < total)
    val junkLeaks = mains.count(_ % 13 == 0)
    val contamLeaks = mains.count(id => id % 17 == 0 && id % 13 != 0)
    val byNfam = mains.groupBy(_ / 20).view.mapValues(_.length).toMap
    val nfams = total.toLong / 20
    val nfamDoubled = byNfam.count(_._2 > 1)
    val nfamMissing = (0L until nfams).count(!byNfam.contains(_))
    val a2 = spark.read.parquet(out2).select(col("vec_id"))
      .collect().map(_.getLong(0)).filter(_ < total)
    val bySfam = a2.groupBy(_ / 40).view.mapValues(_.length).toMap
    val sfams = total.toLong / 40
    val sfamDoubled = bySfam.count(_._2 > 1)
    val sfamMissing = (0L until sfams).count(!bySfam.contains(_))
    println(s"""{"soak_fullchain_admitted_neardup":${mains.length},"expected_neardup":$nfams,""" +
      s""""junk_leaks":$junkLeaks,"contam_leaks":$contamLeaks,""" +
      s""""nfam_doubled":$nfamDoubled,"nfam_missing":$nfamMissing,""" +
      s""""admitted_semantic":${a2.length},"expected_semantic":$sfams,""" +
      s""""sfam_doubled":$sfamDoubled,"sfam_missing":$sfamMissing,""" +
      s""""bench_shingles":${bench.length}}""")
    secs
  }
}
