package graft.streaming

import graft.functions.Aggregators
import graft.ops.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous corpus ingestion: the batch cleaning pipeline's first stages as
  * ONE streaming plan — quality gate, then exact dedup, then per-(window,
  * source) admission stats for monitoring the feed.
  *
  * Capability target: the reference's central use case is a continuously
  * deduplicating stream pipeline (README.md:59-131 — consume, dedupe via an
  * Index, aggregate windowed stats, emit). Here each stage is the Spark-first
  * form: the quality gate is a map-only filter (no state), dedup is
  * `dropDuplicatesWithinWatermark` (state bounded by the watermark — an
  * unbounded dropDuplicates would grow forever on a 100 TB feed), and the
  * stats are a standard watermarked tumbling-window aggregate, so the whole
  * pipeline is append-mode and runs on any number of executors.
  *
  * Determinism: the gate and fingerprint are hash/arithmetic over the row
  * alone, so admission decisions equal the batch operators' on the same rows
  * (keep-first within the watermark for duplicates) — spec'd by a
  * stream-vs-batch cross-check in StreamingCorpusSpec.
  */
object CorpusIngest {

  /** Quality threshold in micro-units: `quality_e6 >= 500000` is exactly the
    * batch `verdict = 'keep'` cut (floor is monotone, so floor(v·1e6) ≥
    * 500000 iff v ≥ 0.5).
    */
  val KeepThresholdE6 = 500000L

  /** The gate must sit ABOVE the EventTimeWatermark node: the watermark
    * tracks the raw feed's event time, so a stretch of all-rejected input
    * still advances it (closing windows, evicting dedup state) — the shared
    * `Pin.keep` idiom.
    */
  private def gate(q: org.apache.spark.sql.Column) = Pin.keep(q >= KeepThresholdE6)

  /** docs: streaming (ts: timestamp, doc_id: long, source: string, text:
    * string). Returns (win_start, source, n_docs, n_tokens) of ADMITTED docs
    * per tumbling window.
    */
  def pipeline(
      docs: DataFrame,
      watermarkDelay: String = "10 seconds",
      windowDuration: String = "10 seconds"): DataFrame = {
    val toks = docs.select(
      col("ts"), col("doc_id"), col("source"),
      Text.tokens(col("text")).as("toks"))
      // normalization collapses whitespace, so the joined token stream
      // round-trips the normalized text exactly: this fp == Dedup.exact's
      .withColumn("fp", md5(concat_ws(" ", col("toks"))))
    val scored = Text.qualityScoredFromToks(toks, keep = Seq("ts", "source", "fp"))
    scored
      .withWatermark("ts", watermarkDelay)
      .filter(gate(col("quality_e6")))
      .dropDuplicatesWithinWatermark("fp")
      .groupBy(window(col("ts"), windowDuration), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(col("window.start").as("win_start"), col("source"),
        col("n_docs"), col("n_tokens"))
  }

  /** Per-window trending terms: the streaming analog of `Corpus.vocabulary`.
    * Two CHAINED stateful aggregations in one append-mode plan — (window,
    * term) counts, then per-window top-k via the same bounded partial top-k
    * aggregator `tfidf` uses (map-side trims to ≤ k rows, so the second
    * shuffle never carries a window's full term set; ties break by term ASC,
    * engine-deterministic). Window-on-window grouping keeps both operators
    * watermark-driven; a window's ranking emits once the watermark passes
    * its end. Returns (win_start, term, n, rank).
    */
  def trendingTerms(
      docs: DataFrame,
      watermarkDelay: String = "10 seconds",
      windowDuration: String = "10 seconds",
      topK: Int = 5): DataFrame = {
    val topU = udaf(Aggregators.topKScored(topK))
    docs
      .select(col("ts"), explode(Text.tokens(col("text"))).as("term"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("term"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(topU(col("term"), col("n"), col("n").cast("double")).as("top"))
      .select(col("window.start").as("win_start"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("win_start"), col("t.term").as("term"), col("t.tf").as("n"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** The ADMITTED document stream — the full ingest admission chain ending
    * in the thing a production corpus actually writes, ONE append-mode
    * plan: quality gate → decontamination (opt-in via `benchShingles`: a
    * stateless per-row probe of the broadcast benchmark shingle set — the
    * batch `Curation.decontaminate` cut) → exact dedup within the watermark
    * (`dropDuplicatesWithinWatermark` on the normalized-text fingerprint)
    * → streaming NEAR-dedup admission (`NearDupStream.admittedFromToks` —
    * the banded-MinHash stateful op emitting per-doc verdicts, ORed by a
    * watermarked per-doc aggregation). Returns (ts, doc_id): every doc
    * that cleared the gate, was the first arrival of its exact text, and
    * near-duplicates no earlier-arriving admitted-or-rejected doc within
    * the watermark. Emission finalizes one `watermarkDelay` after the
    * doc's event time (append mode cannot retract); doc text lands in the
    * raw store at arrival, so the admitted set is an id-join away — ids
    * and signatures are all that ever shuffles, never text.
    *
    * THREE chained stateful operators; requires the same
    * `checkCorrectness.enabled = false` contract as `nearDupStats`. The
    * safety proof composes: dropDuplicatesWithinWatermark emits rows
    * unchanged (ts untouched, never late downstream), and the verdict
    * rows carry each doc's own event time (NearDupStream.admitted
    * scaladoc), so every stage's input is at-or-ahead of its watermark
    * while all stages share one delay.
    *
    * FINALIZATION LATENCY under the default `multipleWatermarkPolicy =
    * min`: the verdict-side watermark advances only when verdict rows flow,
    * so a stretch of all-gated/short input delays finalization (and agg
    * state eviction) until the next long admitted-path doc — results are
    * never wrong, only late (the same property as `nearDupStats`' gauge).
    * Set `spark.sql.streaming.multipleWatermarkPolicy = max` to finalize on
    * the RAW feed's time instead: it is safe for exactly this plan because
    * every verdict's ts is at-or-ahead of the doc-side watermark (the max)
    * when the aggregation consumes it in the same micro-batch — proof
    * above — so nothing becomes late under the max policy either.
    * StreamingNearDupSpec "junk-only stretch finalizes admissions under
    * max policy" pins this.
    */
  def admittedDocs(
      docs: DataFrame,
      watermarkDelay: String = "10 seconds",
      threshold: Double = graft.ops.Dedup.JaccardThreshold,
      benchShingles: Array[Long] = Array.empty,
      decontamMaxPct: Long = graft.ops.Curation.DecontamMaxPct): DataFrame =
    admittedDocs(docs, watermarkDelay, threshold, benchShingles, decontamMaxPct,
      graft.ops.Curation.DecontamSetLimit)

  /** [[admittedDocs]] with the decontamination stage's broadcast bound
    * chosen by the caller; the specs trip the guard with a tiny set.
    */
  private[graft] def admittedDocs(
      docs: DataFrame,
      watermarkDelay: String,
      threshold: Double,
      benchShingles: Array[Long],
      decontamMaxPct: Long,
      setLimit: Long): DataFrame = {
    val toks = docs.select(
      col("ts"), col("doc_id"), col("source"),
      Text.tokens(col("text")).as("toks"))
      .withColumn("fp", md5(concat_ws(" ", col("toks"))))
    // keep = toks: scoring, the exact fingerprint and the minhash signatures
    // all ride ONE tokenize pass
    val scored = Text.qualityScoredFromToks(toks, keep = Seq("ts", "fp", "toks"))
    val qualityGated = scored
      .withWatermark("ts", watermarkDelay)
      .filter(gate(col("quality_e6")))
    // Decontamination joins the admission chain as a STATELESS per-row
    // probe against the broadcast benchmark shingle set (sorted; binary
    // search per shingle — Curation.decontaminate's streaming twin): the
    // eval suite is frozen by contract, so no state, no extra watermark,
    // and the three-stateful-operator safety proof below is untouched. The
    // filter is Pin-pinned like the quality gate so a contaminated-only
    // stretch still advances event time. Verdicts equal the batch gate's
    // on the same rows (StreamingCurationSpec law).
    if (benchShingles.nonEmpty)
      graft.ops.Curation.requireBroadcastableSuite(benchShingles.length.toLong,
        "CorpusIngest.admittedDocs (decontamination stage)", setLimit)
    val gated =
      if (benchShingles.isEmpty) qualityGated
      else qualityGated
        .withColumn("__shs", graft.ops.Curation.shingleHashArr)
        .filter(Pin.keep(
          graft.functions.GraftFunctions.sortedSetHits(col("__shs"), benchShingles)
            * lit(100L)
            <= size(col("__shs")).cast("long") * lit(decontamMaxPct)))
        .drop("__shs")
    // Short/long split BEFORE exact dedup, one dropDuplicatesWithinWatermark
    // PER branch: a single dedup whose output fed both the band engine and
    // the short-doc bypass would be planned twice (once per consumer), and
    // watermark propagation registers only the first planned instance of a
    // stateful operator — the second one's eviction watermark stays 0 and
    // its store grows one row per doc, forever (caught by the round-10
    // 20M-row soak; see the plan contract on NearDupStream.admittedFromToks).
    // The split is semantics-preserving: fp is the md5 of the full token
    // join, so identical texts have identical token counts and duplicates
    // can never straddle the short/long boundary. Filters stay PINNED below
    // the watermark node so junk-only stretches still advance event time.
    val longExact = gated
      .filter(Pin.keep(size(col("toks")) >= 3))
      .dropDuplicatesWithinWatermark("fp")
      .select(col("ts"), col("doc_id"), col("toks"))
    val shortExact = gated
      .filter(Pin.keep(size(col("toks")) < 3))
      .dropDuplicatesWithinWatermark("fp")
      .select(col("ts"), col("doc_id"))
    NearDupStream.admittedLongFromToks(longExact, threshold, watermarkDelay)
      .unionByName(shortExact)
  }

  /** Land the ADMITTED corpus as parquet — the production close of
    * `admittedDocs`' "doc text is an id-join away" contract. Each
    * micro-batch of admitted (ts, doc_id) left-semi-joins the raw document
    * store (the landed feed; ids-only build side, so Catalyst/AQE
    * broadcasts the batch at any realistic admission rate) and writes one
    * `ingest_batch=<id>` partition with DYNAMIC partition overwrite: a
    * batch replayed after a failure between write and commit OVERWRITES
    * its own partition instead of appending duplicates — idempotent, hence
    * effectively exactly-once at the sink, the same guarantee the
    * reference's sinks approximate with retry + batch flush
    * (sp/output/MysqlOutputTable.java:58-84). Returns the started query.
    *
    * The raw-store read is TS-BOUNDED, not a full scan: admitted ids carry
    * their docs' own event times and the raw store holds identical ts
    * values, so filtering raw rows to the batch's [min ts, max ts] loses
    * nothing while letting a time-partitioned raw store prune to the
    * watermark-wide window a batch can span — without the bound, per-batch
    * cost would grow with the store's lifetime.
    */
  def writeAdmittedCorpus(
      docs: DataFrame,
      rawStorePath: String,
      outPath: String,
      checkpointLocation: String,
      watermarkDelay: String = "10 seconds",
      threshold: Double = graft.ops.Dedup.JaccardThreshold)
      : org.apache.spark.sql.streaming.StreamingQuery =
    admittedDocs(docs, watermarkDelay, threshold)
      .writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist before the two actions (bounds agg, then join+write):
        // the batch plan is the whole three-stateful-operator chain, and
        // un-persisted it would re-execute — state-store loads included —
        // twice per trigger
        batch.persist()
        try {
          val bounds = batch.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).collect()(0)
          if (!bounds.isNullAt(0)) { // empty batch: nothing to land
            batch.sparkSession.read.parquet(rawStorePath)
              .filter(col("ts").between(bounds.getTimestamp(0), bounds.getTimestamp(1)))
              .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
              .withColumn("ingest_batch", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch")
              .parquet(outPath)
          }
        } finally batch.unpersist()
      }
      .start()

  /** Near-dup monitoring for the ingest chain: quality gate (same cut as
    * `pipeline`), then the banded-MinHash pair stream (`NearDupStream.pairs`
    * — one flatMapGroupsWithState), then per-tumbling-window pair counts —
    * the "how duplicated is the feed right now" gauge a continuously-
    * ingesting corpus needs next to the admission stats. TWO chained
    * stateful operators in ONE append-mode plan; the pair stream is
    * re-watermarked on the emitted event time (the later doc's ts), so a
    * window closes once pair emission moves `watermarkDelay` past it
    * (append-mode gauge semantics: a quiet feed reports late, but bucket
    * STATE is bounded by the doc-side watermark regardless of pair
    * frequency). The gate rides through `pairs`' `admitCol` — junk rows
    * advance event time above the watermark node but never enter near-dup
    * state, the same no-stall pin as `pipeline`'s gate.
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness.enabled
    * = false`: Spark's static checker rejects any flatMapGroupsWithState
    * followed by a stateful op because it cannot bound what the custom
    * operator emits. THIS chain is provably safe — each emitted pair's ts is
    * the LATER doc's event time, which passed the upstream watermark filter,
    * so pair_ts >= doc-side watermark at emission; and since every pair ts
    * is <= the max doc ts seen, the pair-side watermark (same delay) is
    * always <= the doc-side watermark. Hence every pair arrives at the
    * window agg at-or-ahead of its watermark — nothing is ever late-dropped.
    * The proof holds only while the downstream delay >= the upstream delay,
    * which this method enforces by using ONE `watermarkDelay` for both.
    * Returns (win_start, n_pairs, avg_jaccard).
    */
  def nearDupStats(
      docs: DataFrame,
      watermarkDelay: String = "10 seconds",
      windowDuration: String = "10 seconds",
      threshold: Double = graft.ops.Dedup.JaccardThreshold): DataFrame = {
    val toks = docs.select(
      col("ts"), col("doc_id"), col("source"),
      Text.tokens(col("text")).as("toks"))
    // keep = toks: scoring and signatures share ONE tokenize pass (the
    // FromToks convention — pairs never re-reads the text)
    val scored = Text.qualityScoredFromToks(toks, keep = Seq("ts", "source", "toks"))
    val gated = scored.select(col("ts"), col("doc_id"), col("toks"),
      (col("quality_e6") >= KeepThresholdE6).as("admit"))
    NearDupStream.pairsFromToks(gated, threshold, watermarkDelay, admitCol = Some("admit"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("avg_jaccard"))
      .select(col("window.start").as("win_start"), col("n_pairs"), col("avg_jaccard"))
  }
}
