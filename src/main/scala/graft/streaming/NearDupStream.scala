package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.ops.{Dedup, Text}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming NEAR-dedup: banded MinHash candidate matching within the
  * watermark — the stateful analog of the batch
  * `Dedup.lshVerifiedPairs` chain, for a continuously-ingesting corpus
  * (the reference's central use case is a continuously deduplicating
  * pipeline, README.md:59-131; its Index-based dedup is exact-only — this
  * is the near-dup capability the batch side already has, under Structured
  * Streaming).
  *
  * Shape: signatures (16 minhashes + sorted 60-bit shingle hashes, shared
  * verbatim with the batch path via `Dedup.nearDupSignaturesFromToks`) are
  * computed MAP-ONLY; each doc then lands in its 4 LSH band buckets
  * (explode), and ONE `flatMapGroupsWithState` keyed by (band, band
  * signature) buffers signatures per bucket and emits VERIFIED pairs — a
  * new doc is compared against the bucket's buffered docs with the exact
  * sorted-intersect Jaccard, exactly the batch verify step. The shuffle
  * carries band keys + signatures, never text, and state per key is
  * bounded by the watermark — the same properties that make the batch LSH
  * join the 100 TB shape.
  *
  * Pair-exactness across buckets: a candidate pair shares up to 4 bands,
  * but only the group of the pair's MINIMAL matching band emits it (both
  * full 16-minhash signatures are in state, so every shared group computes
  * the same minimal band and exactly one elects itself) — no second
  * stateful dedup operator needed, which keeps the whole plan a single
  * append-mode stateful op. On batch inputs the identical code path runs
  * with an infinite watermark, so `pairs(batchDf)` == `lshVerifiedPairs`
  * restricted to docs with >= 3 tokens — the spec cross-checks stream
  * against batch on the same rows.
  *
  * Semantics of "within the watermark": a bucket entry is evicted once the
  * watermark passes its event time (the `dropDuplicatesWithinWatermark`
  * contract) — two near-dup docs are guaranteed paired iff they are within
  * `watermarkDelay` of each other; older duplicates are the recall the
  * stream trades for bounded state. Keep-first admission = drop every
  * `doc_dup` (the pair's later-ARRIVING side, emitted explicitly — see
  * `pairs`); because every doc is buffered whether or not it was itself a
  * duplicate, matching is TRANSITIVE like the batch connected-components
  * step (a doc matching an already-rejected buffered doc is still rejected
  * — same cluster).
  *
  * Hot buckets: a degenerate feed (e.g. millions of identical band
  * signatures) is capped at `maxBucket` newest entries per bucket, and the
  * cap is enforced INSIDE the batch, not just across batches: the incoming
  * group is reduced to its `maxBucket` newest rows by a bounded min-heap
  * (O(batch·log maxBucket) time, O(maxBucket) memory) before any compare,
  * and the buffer keeps exactly its newest `maxBucket` entries in-loop
  * (oldest evicted on insert; an incoming row older than everything
  * buffered is compared but not retained) — so a single micro-batch
  * flooding one bucket does at most batch×maxBucket compares and never
  * materializes an unbounded buffer. For `pairs` the degradation is recall
  * loss; for `admitted` no doc ever vanishes silently — capped-out rows
  * are REJECTED conservatively (false rejection during a degenerate flood
  * beats false admission of flood duplicates), leaving exactly the flood's
  * newest-window representative admitted. The batch path pays the same
  * pathology as join fan-out.
  */
object NearDupStream {

  /** Verified near-dup pairs over a streaming (ts: timestamp, doc_id: long,
    * text: string) feed. Returns (ts = the later doc's event time, doc_a <
    * doc_b, jaccard rounded to 6dp — batch-identical, and doc_dup = the
    * LATER-ARRIVING side of the pair, by (event time, doc_id) within a
    * batch and by arrival across batches). Keep-first admission = drop the
    * `doc_dup` values: a stream cannot retract an already-emitted doc, so
    * "first" means first ARRIVED — equal to event-time order whenever the
    * feed is in order, which is the only keep-first a stream can implement
    * without lookahead. Works unchanged on a batch DataFrame (everything
    * matures in one pass, ordered by (ts, doc_id)).
    *
    * `admitCol` (optional boolean column): rows with false are dropped
    * ABOVE the watermark node via the nondeterministic pin — they advance
    * event time but never enter bucket state. This is how a quality gate
    * composes without stalling time on a junk flood
    * (CorpusIngest.nearDupStats).
    */
  def pairs(
      docs: DataFrame,
      threshold: Double = Dedup.JaccardThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxBucket: Int = 65536,
      admitCol: Option[String] = None): DataFrame =
    pairsFromToks(
      docs.select(
        Seq(col("ts"), col("doc_id"), Text.tokens(col("text")).as("toks")) ++
          admitCol.map(col): _*),
      threshold, watermarkDelay, idleTimeoutMs, maxBucket, admitCol)

  /** `pairs` over a pre-tokenized (ts, doc_id, toks [, admitCol]) input —
    * pipelines that already tokenized for scoring (CorpusIngest.nearDupStats)
    * feed this directly so each document is tokenized exactly once, the
    * same FromToks convention as the batch operators.
    */
  def pairsFromToks(
      docs: DataFrame,
      threshold: Double = Dedup.JaccardThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxBucket: Int = 65536,
      admitCol: Option[String] = None): DataFrame =
    engine(docs, threshold, watermarkDelay, idleTimeoutMs, maxBucket, admitCol,
      verdicts = false)

  /** The ADMITTED document stream — what a production ingest actually
    * writes: (ts, doc_id) of every doc that is NOT a near-duplicate of an
    * earlier-arriving doc within the watermark (keep-first admission, the
    * complement of `pairs`' doc_dup set — spec-asserted equal). Docs with
    * fewer than 3 tokens have no shingles, cannot near-duplicate anything,
    * and pass straight through; `admitCol = false` rows are dropped above
    * the watermark node like in `pairs`.
    *
    * Shape: the same single banded flatMapGroupsWithState, but each band
    * group emits one VERDICT row per incoming doc — (ts, doc_id, matched =
    * "this bucket holds a verified near-dup") — instead of electing pairs.
    * A doc lands in all `MinhashBands` buckets, so a watermarked per-
    * (ts, doc_id) aggregation ORs the verdicts and keeps docs with none
    * matched. Two chained stateful operators in ONE append-mode plan; the
    * admission therefore finalizes one `watermarkDelay` after the doc's
    * event time (the price of a retraction-free append stream).
    *
    * Watermark safety (why `spark.sql.streaming.statefulOperator
    * .checkCorrectness.enabled = false` is part of the contract, same proof
    * shape as `CorpusIngest.nearDupStats`): every verdict row's ts is the
    * doc's OWN event time, which was at-or-ahead of the doc-side watermark
    * when the stateful op processed it; the verdict-side watermark uses the
    * same delay and can only lag the doc side, so no verdict ever arrives
    * late at the aggregation. Holds only while the downstream delay >= the
    * upstream delay, which this method enforces by sharing one
    * `watermarkDelay`.
    *
    * Works unchanged on a batch DataFrame (the spec cross-checks batch
    * admissions against `pairs`' doc_dup complement and the CC survivor
    * set).
    */
  def admitted(
      docs: DataFrame,
      threshold: Double = Dedup.JaccardThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxBucket: Int = 65536,
      admitCol: Option[String] = None): DataFrame =
    admittedFromToks(
      docs.select(
        Seq(col("ts"), col("doc_id"), Text.tokens(col("text")).as("toks")) ++
          admitCol.map(col): _*),
      threshold, watermarkDelay, idleTimeoutMs, maxBucket, admitCol)

  /** `admitted` over a pre-tokenized (ts, doc_id, toks [, admitCol]) input.
    *
    * PLAN CONTRACT: `docs` is consumed by TWO branches (the band engine and
    * the short-doc bypass). Spark plans a shared subplan once PER CONSUMER,
    * and per-operator watermark propagation registers only the first
    * planned instance of a stateful operator — the second instance's
    * eviction watermark stays 0 forever, so its state store never evicts
    * (found by the round-10 20M-row soak, BASELINE.md: the duplicated
    * `dropDuplicatesWithinWatermark` grew one row per admitted doc,
    * unbounded). Pass a STATELESS subplan here; if the upstream contains a
    * stateful operator (exact dedup, an aggregation), pre-split short/long
    * and give each branch its own stateful node, then call
    * `admittedLongFromToks` for the long side — the shape
    * `CorpusIngest.admittedDocs` uses.
    */
  def admittedFromToks(
      docs: DataFrame,
      threshold: Double = Dedup.JaccardThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxBucket: Int = 65536,
      admitCol: Option[String] = None): DataFrame = {
    val streaming = docs.isStreaming
    val longDocs = admittedLongFromToks(
      docs, threshold, watermarkDelay, idleTimeoutMs, maxBucket, admitCol)
    // < 3 tokens: no shingles, no bands — admitted by construction. Own
    // watermark node (same delay; Spark combines multiple watermarks by min),
    // gate pinned above it like the engine's.
    val base0 = docs.select(
      Seq(col("ts"), col("doc_id"), col("toks")) ++
        admitCol.map(c => col(c).as("__admit")): _*)
    val base = if (streaming && !hasWatermark(base0, "ts")) base0.withWatermark("ts", watermarkDelay) else base0
    val shortKeep = admitCol match {
      case Some(_) => col("__admit") && size(col("toks")) < 3
      case None => size(col("toks")) < 3
    }
    val shortDocs = base.filter(Pin.keep(shortKeep)).select(col("ts"), col("doc_id"))
    longDocs.unionByName(shortDocs)
  }

  /** The long-doc (>= 3 tokens) half of `admittedFromToks`: band engine +
    * watermarked per-doc verdict OR, and nothing else. Docs with < 3
    * tokens produce no shingles, hence no bands, hence NO verdict rows —
    * they are silently ABSENT from the result, so use `admittedFromToks`
    * unless short docs are handled by the caller. Exists separately
    * because this method reads `docs` exactly ONCE, which is what lets a
    * composed plan keep a STATEFUL upstream (e.g. exact dedup)
    * single-consumer — see the plan contract on `admittedFromToks`.
    */
  def admittedLongFromToks(
      docs: DataFrame,
      threshold: Double = Dedup.JaccardThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxBucket: Int = 65536,
      admitCol: Option[String] = None): DataFrame = {
    val streaming = docs.isStreaming
    val verdicts0 = engine(docs, threshold, watermarkDelay, idleTimeoutMs,
      maxBucket, admitCol, verdicts = true)
    val verdicts =
      if (streaming) verdicts0.withWatermark("ts", watermarkDelay) else verdicts0
    verdicts
      .groupBy(col("ts"), col("doc_id"))
      .agg(max(when(col("matched"), 1).otherwise(0)).as("__m"))
      .filter(col("__m") === 0)
      .select(col("ts"), col("doc_id"))
  }

  /** True iff `c` already carries event-time watermark metadata — composed
    * plans (CorpusIngest.admittedDocs: watermark → gate → exact dedup →
    * here) arrive pre-watermarked, and Spark disallows redefining one.
    */
  private def hasWatermark(df: DataFrame, c: String): Boolean =
    df.schema(c).metadata.contains("spark.watermarkDelayMs")

  private def engine(
      docs: DataFrame,
      threshold: Double,
      watermarkDelay: String,
      idleTimeoutMs: Long,
      maxBucket: Int,
      admitCol: Option[String],
      verdicts: Boolean): DataFrame = {
    val streaming = docs.isStreaming

    // Watermark FIRST, filters after it and PINNED (Pin.keep): the watermark
    // tracks the RAW feed, not the admitted subset — junk/short rows advance
    // event time, then drop before any state.
    val base0 = docs.select(
      Seq(col("ts"), col("doc_id"), col("toks")) ++
        admitCol.map(c => col(c).as("__admit")): _*)
    val base = if (streaming && !hasWatermark(base0, "ts")) base0.withWatermark("ts", watermarkDelay) else base0
    val keepExpr = admitCol match {
      case Some(_) => col("__admit") && size(col("toks")) >= 3
      case None => size(col("toks")) >= 3
    }
    val admitted = base.filter(Pin.keep(keepExpr))
      .select(col("ts"), col("doc_id"), col("toks"))

    val sigs = Dedup.nearDupSignaturesFromToks(admitted, keep = Seq("ts"))
    val banded = sigs
      .select(col("ts"), col("doc_id"), col("mh"), col("hs"),
        explode(expr(Dedup.bandStructsSql)).as("bs"))
      .select(
        struct(col("bs.band").as("band"), col("bs.sig").as("sig")).as("__k"),
        unix_millis(col("ts")).as("__t"),
        col("doc_id").as("__doc"),
        col("mh").as("__mh"),
        col("hs").as("__hs"),
        // event-time watermark metadata follows the attribute through the
        // alias, so the stateful operator below still sees it (the watermark
        // NODE itself sits upstream, above the pinned filters)
        col("ts").as("__eventTime"))

    val keySchema = banded.schema("__k").dataType.asInstanceOf[StructType]
    val entrySchema = StructType(Seq(
      StructField("t", LongType), StructField("doc", LongType),
      StructField("mh", ArrayType(LongType)), StructField("hs", ArrayType(LongType))))
    val stateSchema = StructType(Seq(StructField("buf", ArrayType(entrySchema))))
    val outSchema =
      if (verdicts) StructType(Seq(
        StructField("em", LongType), StructField("doc", LongType),
        StructField("matched", BooleanType)))
      else StructType(Seq(
        StructField("em", LongType), StructField("doc_a", LongType),
        StructField("doc_b", LongType), StructField("jaccard", DoubleType),
        StructField("doc_dup", LongType)))

    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val stateEnc: Encoder[Row] = Encoders.row(stateSchema)
    val outEnc: Encoder[Row] = Encoders.row(outSchema)

    // first band index (0-based) on which the two signatures fully agree; -1
    // if none — the pair's electing group
    def minMatchingBand(a: Array[Long], b: Array[Long]): Int = {
      var band = 0
      while (band < Dedup.MinhashBands) {
        var r = 0
        var ok = true
        while (ok && r < Dedup.MinhashRows) {
          if (a(band * Dedup.MinhashRows + r) != b(band * Dedup.MinhashRows + r)) ok = false
          r += 1
        }
        if (ok) return band
        band += 1
      }
      -1
    }

    // codegen'd SortedIntersectCount's semantics, in-state: merge walk over
    // the two sorted hash arrays
    def sortedIntersect(a: Array[Long], b: Array[Long]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    }

    // Spark's round(x, 6): HALF_UP decimal rounding — batch-identical output
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

    type Entry = (Long, Long, Array[Long], Array[Long]) // (t, doc, mh, hs)
    def decode(s: Row): ArrayBuffer[Entry] = {
      val buf = new ArrayBuffer[Entry]()
      s.getSeq[Row](0).foreach { r =>
        buf += ((r.getLong(0), r.getLong(1),
          r.getSeq[Long](2).toArray, r.getSeq[Long](3).toArray))
      }
      buf
    }
    def encode(buf: Seq[Entry]): Row =
      Row(buf.map { case (t, d, mh, hs) => Row(t, d, mh.toSeq, hs.toSeq) })

    val func = (k: Row, it: Iterator[Row], state: GroupState[Row]) => {
      val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
      val band = k.getInt(0)
      // Evict BEFORE comparing: a bucket is only invoked when new data (or a
      // timeout) reaches it, so a stale entry can linger long past the
      // watermark — comparing against it would make "do old dups pair?"
      // depend on invocation timing. Evict-first makes the contract
      // deterministic: a pair emits iff the earlier doc is still within the
      // watermark when the later one arrives. (Batch mode: state is always
      // empty at the single invocation, so wm = MaxValue evicts nothing
      // that matters and all pairs form within the call.)
      val buf = state.getOption.map(decode).getOrElse(new ArrayBuffer[Entry]())
        .filter(_._1 >= wm)
      val byTime = Ordering.by[Entry, (Long, Long)](e => (e._1, e._2))
      val out = new ArrayBuffer[Row]()
      // Deterministic processing order regardless of shuffle arrival order,
      // with the hot-bucket cap applied to the BATCH itself: a bounded
      // min-heap keeps the `maxBucket` newest rows by (t, doc) — the same
      // survivors the across-batch cap elects — so a one-batch degenerate
      // flood is bounded in memory before any compare (round-7 advice).
      // In verdict mode a capped-out doc must not vanish silently (it would
      // be neither admitted nor rejected): it is REJECTED conservatively —
      // in a bucket hot enough to overflow the cap, the discarded doc is
      // near-certainly one more copy of the flood, and false rejection
      // under a degenerate flood is the safe direction for a dedup gate,
      // where false ADMISSION would let duplicates into the corpus.
      val heap = scala.collection.mutable.PriorityQueue.empty[Entry](byTime.reverse)
      it.foreach { r =>
        heap.enqueue((r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toArray, r.getSeq[Long](4).toArray))
        if (heap.size > maxBucket) {
          val dropped = heap.dequeue() // the oldest overflow
          if (verdicts) out += Row(dropped._1, dropped._2, true)
        }
      }
      val incoming = heap.dequeueAll.toArray // dequeue order = ascending (t, doc)
      incoming.foreach { e =>
        if (!buf.exists(_._2 == e._2)) { // replayed doc_id: already counted
          if (verdicts) {
            // verdict mode: does THIS bucket hold a verified near-dup of e?
            // Every buffered entry shares e's band signature (the group key),
            // so all are candidates — no minimal-band election needed; the
            // downstream per-doc aggregation ORs the bands' verdicts.
            var matched = false
            var i = 0
            while (!matched && i < buf.length) {
              val o = buf(i)
              val inter = sortedIntersect(o._4, e._4)
              if (inter.toDouble / (o._4.length + e._4.length - inter) >= threshold)
                matched = true
              i += 1
            }
            out += Row(e._1, e._2, matched)
          } else {
          var i = 0
          while (i < buf.length) {
            val o = buf(i)
            if (minMatchingBand(o._3, e._3) == band) {
              val inter = sortedIntersect(o._4, e._4)
              val j = inter.toDouble / (o._4.length + e._4.length - inter)
              if (j >= threshold) {
                val (a, b) = if (o._2 < e._2) (o._2, e._2) else (e._2, o._2)
                // e is always the later-processed side: incoming this batch,
                // after buffered state and after earlier-sorted incoming
                out += Row(math.max(o._1, e._1), a, b, round6(j), e._2)
              }
            }
            i += 1
          }
          }
          // in-loop cap: keep the NEWEST maxBucket entries exactly — evict
          // the oldest buffered entry before inserting, UNLESS the incoming
          // row is itself older than everything buffered (a late arrival at
          // a full bucket is the one that would have been capped out), so
          // the buffer and the per-row compare cost stay bounded mid-batch
          // and the retained set matches the documented newest-wins contract
          if (buf.length >= maxBucket) {
            var m = 0; var s = 1
            while (s < buf.length) { if (byTime.lt(buf(s), buf(m))) m = s; s += 1 }
            if (byTime.lt(e, buf(m))) () // e is the oldest: do not retain it
            else { buf.remove(m); buf += e }
          } else buf += e
        }
      }
      if (buf.isEmpty) { if (state.exists) state.remove() }
      else {
        state.update(encode(buf.toSeq))
        if (streaming)
          state.setTimeoutTimestamp(
            math.max(buf.map(_._1).max + idleTimeoutMs, wm + 1))
      }
      out.iterator
    }

    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    val raw = banded
      .groupByKey((r: Row) => r.getStruct(0))(keyEnc)
      .flatMapGroupsWithState[Row, Row](OutputMode.Append(), timeoutConf)(func)(stateEnc, outEnc)
    if (verdicts)
      raw.select(timestamp_millis(col("em")).as("ts"), col("doc").as("doc_id"),
        col("matched"))
    else
      raw.select(timestamp_millis(col("em")).as("ts"),
        col("doc_a"), col("doc_b"), col("jaccard"), col("doc_dup"))
  }
}
