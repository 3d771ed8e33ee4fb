package graft.streaming

import graft.{SparkSpec, Tables}
import graft.ops.{Dedup, Similarity}
import graft.sources.Sources
import org.apache.spark.sql.functions._

case class SVec(ts: java.sql.Timestamp, vec_id: Long, embedding: Seq[Float])

/** Streaming semantic dedup (round-13 verdict item 6): incremental SemDeDup
  * against a FROZEN cell map, cross-checked against the batch within-cell
  * rule on the same rows, with watermark eviction, late-drop, replay
  * tolerance, the conservative hot-cell cap, restart recovery and the
  * two-query quantizer-refresh recipe pinned.
  */
class SemDedupStreamSpec extends SparkSpec {

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** 64-dim unit axis vector along component `i`. */
  private def axis(i: Int): Seq[Float] =
    Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f)

  /** One-cell quantizer along axis 0 — every vector assigns to cell 0, so
    * the within-cell compare is the whole operator.
    */
  private val oneCell: Array[(Long, Array[Double])] =
    Array((0L, Array.tabulate(64)(j => if (j == 0) 1.0 else 0.0)))

  /** The batch reference: vector dropped iff an earlier-(ts, id) member of
    * its cell (against the same frozen cents) has cosine >= threshold —
    * `Dedup.semanticDedup`'s rule with arrival order generalized from id
    * order.
    */
  private def batchSurvivors(embs: org.apache.spark.sql.DataFrame, k: Long): Set[Long] = {
    val e = Similarity.normalized(embs)
    val cents = e.filter(col("vec_id") < k).select(col("vec_id").as("cell"), col("nv").as("cv"))
    val asg = Similarity.ivfAssign(e, cents).select(col("cell"), col("vec_id"), col("nv"))
    val a = asg.select(col("cell").as("ca"), col("vec_id").as("va"), col("nv").as("na"))
    val b = asg.select(col("cell").as("cb"), col("vec_id").as("vb"), col("nv").as("nb"))
    val dropped = a.join(b, col("ca") === col("cb") && col("vb") < col("va"))
      .filter(graft.functions.GraftFunctions.dot(col("na"), col("nb")) >= Dedup.SemThreshold)
      .select(col("va")).distinct().collect().map(_.getLong(0)).toSet
    embs.select(col("vec_id")).collect().map(_.getLong(0)).toSet -- dropped
  }

  test("batch input == the batch within-cell rule against the same frozen cents") {
    val embs = Tables.embeddings(spark, sf())
    val k = 16L
    val expected = batchSurvivors(embs, k)
    val all = embs.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(expected != all, "fixture must contain semantic dups for the check to bite")
    val cents = SemDedupStream.frozenCents(embs, k)
    val withTs = embs.withColumn("ts", timestamp_millis(lit(1000L) + col("vec_id")))
    val got = SemDedupStream.admitted(withTs, cents)
      .collect().map(_.getLong(1)).toSet
    assert(got == expected,
      s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
  }

  test("streaming admissions across micro-batches == the batch rule") {
    import spark.implicits._
    val embs = Tables.embeddings(spark, sf())
    val k = 16L
    val expected = batchSurvivors(embs, k)
    val cents = SemDedupStream.frozenCents(embs, k)
    val rows = embs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val src = Sources.memoryStream[SVec](spark)
    val q = SemDedupStream.admitted(src.toDS().toDF(), cents, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("semadm").outputMode("append").start()
    try {
      src.addData(h1.map { case (id, v) => SVec(ts(1000L + id), id, v) }.toSeq)
      q.processAllAvailable()
      src.addData(h2.map { case (id, v) => SVec(ts(1000L + id), id, v) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("semadm").collect().map(_.getLong(1)).toSet
      assert(got == expected,
        s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
    } finally q.stop()
  }

  test("watermark eviction bounds matching; in-window duplicates rejected") {
    import spark.implicits._
    val src = Sources.memoryStream[SVec](spark)
    val q = SemDedupStream.verdicts(src.toDS().toDF(), oneCell, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("semevict").outputMode("append").start()
    try {
      src.addData(Seq(SVec(ts(1000), 1L, axis(0))))
      q.processAllAvailable()
      // advance the watermark far past vec 1 with a non-matching vector
      src.addData(Seq(SVec(ts(60000), 2L, axis(1))))
      q.processAllAvailable()
      // vec 3 duplicates vec 1, but 1 was evicted -> admitted
      src.addData(Seq(SVec(ts(61000), 3L, axis(0))))
      q.processAllAvailable()
      // vec 4 duplicates vec 3 within the window -> rejected
      src.addData(Seq(SVec(ts(61500), 4L, axis(0))))
      q.processAllAvailable()
      val got = spark.table("semevict").collect()
        .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
      assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true), got.toString)
    } finally q.stop()
  }

  test("watermark-late vector is dropped before the operator (EventTimeTimeout)") {
    import spark.implicits._
    val src = Sources.memoryStream[SVec](spark)
    val q = SemDedupStream.verdicts(src.toDS().toDF(), oneCell, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("semlate").outputMode("append").start()
    try {
      src.addData(Seq(SVec(ts(100000), 1L, axis(0))))
      q.processAllAvailable()
      // 94 seconds behind the watermark: must produce NO verdict row at all
      src.addData(Seq(SVec(ts(1000), 2L, axis(0))))
      q.processAllAvailable()
      val ids = spark.table("semlate").collect().map(_.getLong(1)).toSet
      assert(ids == Set(1L), s"late row must be dropped, got $ids")
    } finally q.stop()
  }

  test("replayed (ts, vec_id) is judged once (at-least-once upstream tolerance)") {
    import spark.implicits._
    val src = Sources.memoryStream[SVec](spark)
    val q = SemDedupStream.verdicts(src.toDS().toDF(), oneCell, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("semreplay").outputMode("append").start()
    try {
      src.addData(Seq(SVec(ts(1000), 1L, axis(0))))
      q.processAllAvailable()
      src.addData(Seq(SVec(ts(1000), 1L, axis(0)))) // replay of the same row
      q.processAllAvailable()
      val rows = spark.table("semreplay").collect()
      assert(rows.length == 1, s"replay must not re-judge: ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("hot-cell cap: full cell rejects conservatively, incumbents stay authoritative") {
    import spark.implicits._
    val src = Sources.memoryStream[SVec](spark)
    val q = SemDedupStream.verdicts(src.toDS().toDF(), oneCell,
        watermarkDelay = "1 hour", maxCell = 2)
      .writeStream.format("memory").queryName("semcap").outputMode("append").start()
    try {
      // axes 2..5 are mutually orthogonal (never match each other) and all
      // land in the single cell
      src.addData(Seq(SVec(ts(1000), 1L, axis(2)), SVec(ts(2000), 2L, axis(3))))
      q.processAllAvailable()
      // cell is full: vec 3 is unmatched but REJECTED (cap), not buffered
      src.addData(Seq(SVec(ts(3000), 3L, axis(4))))
      q.processAllAvailable()
      // vec 4 duplicates incumbent 1: still rejected by the buffer
      src.addData(Seq(SVec(ts(4000), 4L, axis(2))))
      q.processAllAvailable()
      val got = spark.table("semcap").collect()
        .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
      assert(got == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true), got.toString)
    } finally q.stop()
  }

  test("batch semanticDedupIncrement == the stream with history arriving first (cross-op law)") {
    val embs = Tables.embeddings(spark, sf())
    val expected = Dedup.semanticDedupIncrement(
      embs.filter(col("vec_id") % 2 === 0),
      embs.filter(col("vec_id") % 2 === 1))
      .collect().map(_.getLong(0)).toSet
    val k = math.max(Dedup.SemCells.toLong,
      (embs.count() + Dedup.SemTargetCell - 1) / Dedup.SemTargetCell)
    val cents = SemDedupStream.frozenCents(embs, k)
    // arrival order: every even (history) vector strictly before every odd
    val withTs = embs.withColumn("ts",
      timestamp_millis(when(col("vec_id") % 2 === 0, lit(1000L) + col("vec_id"))
        .otherwise(lit(10000000L) + col("vec_id"))))
    val got = SemDedupStream.admitted(withTs, cents)
      .collect().map(_.getLong(1)).filter(_ % 2 == 1).toSet
    assert(got == expected,
      s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
  }

  test("two-level per-row assignment == batch assignCells past the 256-cell threshold") {
    // the TwoLevelAssignSpec corpus: 3000 pseudo-random 16-d directions,
    // k = 300 > TwoLevelMinCells, so BOTH sides take their IMI path —
    // coarse table, self-family pin, and tie rules must agree vector-for-
    // vector or the stream==batch laws break at corpus-scaled k
    val n = 3000
    val df = spark.range(n).selectExpr("id as vec_id",
      "transform(sequence(1, 16), i -> cast(sin(cast(id * i + i * i as double)) as float)) as embedding")
    val k = 300L
    val e = Similarity.normalized(df)
    val centsDf = e.filter(col("vec_id") < k).select(col("vec_id").as("cell"), col("nv").as("cv"))
    val batchAsg = Similarity.assignCells(e, centsDf, k).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val cents = SemDedupStream.frozenCents(df, k)
    val q = new RowQuantizer(cents)
    assert(q.twoLevel, "k=300 must take the two-level branch")
    val nvs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val disagree = nvs.count { case (id, nv) => q.assign(nv) != batchAsg(id) }
    assert(disagree == 0, s"$disagree of $n vectors assigned differently from batch assignCells")
  }

  test("cell assignment agrees with the batch quantizer on every fixture vector") {
    val embs = Tables.embeddings(spark, sf())
    val k = 16L
    val cents = SemDedupStream.frozenCents(embs, k)
    val e = Similarity.normalized(embs)
    val centsDf = e.filter(col("vec_id") < k).select(col("vec_id").as("cell"), col("nv").as("cv"))
    val batchAsg = Similarity.ivfAssign(e, centsDf).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val withTs = embs.withColumn("ts", timestamp_millis(lit(1000L) + col("vec_id")))
    val streamAsg = SemDedupStream.verdicts(withTs, cents).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(streamAsg == batchAsg,
      s"cell disagreement on ${streamAsg.count { case (id, c) => batchAsg(id) != c }} vectors")
  }

  // ---- quantizer-refresh handover (round-15 verdict item 6) ----

  /** One-cell quantizer with a DIFFERENT cell id (7, along axis 1) — under
    * a real swap the admitted cell column must flip 0 -> 7 at the seam.
    */
  private val otherCell: Array[(Long, Array[Double])] =
    Array((7L, Array.tabulate(64)(j => if (j == 1) 1.0 else 0.0)))

  test("handover with identical epochs == the batch rule (the seam is invisible)") {
    val embs = Tables.embeddings(spark, sf())
    val k = 16L
    val expected = batchSurvivors(embs, k)
    val cents = SemDedupStream.frozenCents(embs, k)
    val withTs = embs.withColumn("ts", timestamp_millis(lit(1000L) + col("vec_id")))
    val ids = embs.select(col("vec_id")).collect().map(_.getLong(0))
    val cutover = 1000L + (ids.min + ids.max) / 2 // mid-stream seam
    val got = SemDedupStream.admittedWithHandover(
      withTs, cents, cents, cutover, watermarkDelay = "1 hour")
      .collect().map(_.getLong(1)).toSet
    assert(got == expected,
      s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
  }

  test("straddling duplicates admit exactly once across a real quantizer swap (batch)") {
    import spark.implicits._
    val rows = Seq(
      SVec(ts(8000), 1L, axis(2)),  // pre: admitted under OLD (cell 0)
      SVec(ts(9000), 2L, axis(4)),  // pre: admitted under OLD (cell 0)
      SVec(ts(11000), 3L, axis(2)), // bridge: probes OLD, matches vec 1 -> rejected
      SVec(ts(11500), 4L, axis(3)), // post: new direction -> admitted under NEW (cell 7)
      SVec(ts(12000), 5L, axis(2)), // post: matches the buffered (rejected) vec 3 -> rejected
      SVec(ts(13000), 6L, axis(3))) // post: matches vec 4 -> rejected
    val got = SemDedupStream.admittedWithHandover(
      rows.toDF(), oneCell, otherCell, 10000L, watermarkDelay = "5 seconds")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 4L -> 7L), got.toString)
  }

  test("streaming handover: exactly-once across the seam, old epoch drains to zero") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val src = Sources.memoryStream[SVec](spark)
    // idleTimeoutMs = 1 so eviction wake-ups fire at wm+1 and the drain is
    // observable without waiting out the production idle GC horizon
    val q = SemDedupStream.admittedWithHandover(src.toDS().toDF(), oneCell, otherCell,
      10000L, watermarkDelay = "5 seconds", idleTimeoutMs = 1L)
      .writeStream.format("memory").queryName("semhand").outputMode("append").start()
    try {
      src.addData(Seq(SVec(ts(8000), 1L, axis(2)), SVec(ts(9000), 2L, axis(4))))
      q.processAllAvailable()
      src.addData(Seq(SVec(ts(11000), 3L, axis(2)), SVec(ts(11500), 4L, axis(3))))
      q.processAllAvailable()
      src.addData(Seq(SVec(ts(12000), 5L, axis(2)), SVec(ts(13000), 6L, axis(3))))
      q.processAllAvailable()
      // two flush rows: the first pushes the watermark past the seam so every
      // verdict group finalizes and the old epoch's timeout fires; the second
      // triggers the wake-up batch that actually removes the drained state
      src.addData(Seq(SVec(ts(100000), 7L, axis(5))))
      q.processAllAvailable()
      src.addData(Seq(SVec(ts(200000), 8L, axis(6))))
      q.processAllAvailable()
      val got = spark.table("semhand").collect().filter(_.getLong(1) < 7L)
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == Map(1L -> 0L, 2L -> 0L, 4L -> 7L), got.toString)
      val fm = q.lastProgress.stateOperators
        .filter(_.operatorName == "flatMapGroupsWithState")
      assert(fm.length == 2, s"expected both epoch operators, got ${fm.length}")
      assert(fm.map(_.numRowsTotal).min == 0L,
        s"old epoch must drain to zero past the seam: ${fm.map(_.numRowsTotal).toSeq}")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  // ---- blast-radius containment of the checkCorrectness conf (r16 item 5) ----

  private val CheckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"

  test("handover fails fast while the correctness check is still enabled") {
    val hs = spark.newSession() // fresh SQLConf: the check defaults to ON
    val src = Sources.memoryStream[SVec](hs)(org.apache.spark.sql.Encoders.product[SVec])
    val e = intercept[IllegalArgumentException] {
      SemDedupStream.verdictsWithHandover(src.toDS().toDF(), oneCell, otherCell, 10000L)
    }
    assert(e.getMessage.contains("checkCorrectness"), e.getMessage)
    assert(e.getMessage.contains("newSession"), e.getMessage)
  }

  test("handover fails fast when another streaming query shares its session") {
    val hs = spark.newSession()
    hs.conf.set(CheckKey, "false")
    val bystander = Sources.memoryStream[SVec](hs)(org.apache.spark.sql.Encoders.product[SVec])
    val bq = bystander.toDS().toDF().writeStream.format("memory")
      .queryName("semhand_bystander").outputMode("append").start()
    try {
      val src = Sources.memoryStream[SVec](hs)(org.apache.spark.sql.Encoders.product[SVec])
      val e = intercept[IllegalArgumentException] {
        SemDedupStream.verdictsWithHandover(src.toDS().toDF(), oneCell, otherCell, 10000L)
      }
      assert(e.getMessage.contains("dedicated session"), e.getMessage)
    } finally bq.stop()
  }

  test("handover conf stays scoped: the parent session keeps its check enabled") {
    import spark.implicits._
    // the scaladoc recipe: dedicated child session, conf disabled THERE only
    val hs = spark.newSession()
    hs.conf.set(CheckKey, "false")
    val src = Sources.memoryStream[SVec](hs)(org.apache.spark.sql.Encoders.product[SVec])
    val q = SemDedupStream.admittedWithHandover(src.toDS().toDF(), oneCell, otherCell,
      10000L, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("semhand_scoped").outputMode("append").start()
    try {
      src.addData(Seq(SVec(ts(8000), 1L, axis(2)), SVec(ts(11500), 4L, axis(3))))
      q.processAllAvailable()
      src.addData(Seq(SVec(ts(100000), 7L, axis(5))))
      q.processAllAvailable()
      assert(hs.table("semhand_scoped").count() >= 1)
      // the blast radius under test: the PARENT session's safety check is
      // untouched while the handover runs on the child
      assert(spark.conf.get(CheckKey) == "true",
        "disabling the check on the dedicated session must not leak to the parent")
      // and the incumbent's session can still REJECT an unsafe multi-stateful
      // plan of its own — the check genuinely still fires there: a second
      // handover on the PARENT fails the guard because the conf is on
      val src2 = Sources.memoryStream[SVec](spark)
      intercept[IllegalArgumentException] {
        SemDedupStream.verdictsWithHandover(src2.toDS().toDF(), oneCell, otherCell, 10000L)
      }
    } finally q.stop()
  }

  // ---- restart recovery (the laws the long soaks ran at scale) ----

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def sinkIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq

  test("admissions survive a restart from checkpoint: each direction admitted once") {
    import spark.implicits._
    val src = Sources.memoryStream[SVec](spark)
    val plan = SemDedupStream.admitted(src.toDS().toDF(), oneCell, watermarkDelay = "5 seconds")
    val out = tmp("semrestart-out")
    val ckp = tmp("semrestart-ckp")
    def start() = plan.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckp).outputMode("append").start()
    val q1 = start()
    try {
      src.addData(Seq(SVec(ts(1000), 1L, axis(2)), SVec(ts(1500), 2L, axis(3))))
      q1.processAllAvailable()
    } finally q1.stop()
    // cold restart: recurrences of 1 and 2 inside the watermark are judged
    // against the recovered incumbents; direction 4 is new
    val q2 = start()
    try {
      src.addData(Seq(SVec(ts(2000), 3L, axis(2)), SVec(ts(2500), 4L, axis(4))))
      q2.processAllAvailable()
      src.addData(Seq(SVec(ts(3000), 5L, axis(3)), SVec(ts(3500), 6L, axis(4))))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(sinkIds(out) == Seq(1L, 2L, 4L))
  }

  test("two-query handover recipe: the union of both sinks admits each direction once, across a restart") {
    import spark.implicits._
    val cutover = 10000L
    val feed = Seq(
      SVec(ts(8000), 1L, axis(2)),  // pre-seam: admitted by the old query
      SVec(ts(9000), 2L, axis(4)),  // pre-seam: admitted by the old query
      SVec(ts(11000), 3L, axis(2)), // bridge: matches vec 1 -> rejected
      SVec(ts(11500), 4L, axis(3)), // new direction -> admitted under NEW (cell 7)
      SVec(ts(12000), 5L, axis(2))) // matches the buffered (rejected) vec 3
    val tail = Seq(
      SVec(ts(13000), 6L, axis(3)), // matches vec 4 from recovered NEW state
      SVec(ts(13500), 7L, axis(4))) // bridge: matches vec 2 from recovered OLD state

    // query 1: the incumbent single-epoch query, its sink gated to ts < cutover
    val old = Sources.memoryStream[SVec](spark)
    val out1 = tmp("semrecipe-out1")
    val q1 = SemDedupStream.admitted(old.toDS().toDF(), oneCell, watermarkDelay = "5 seconds")
      .filter(col("ts") < timestamp_millis(lit(cutover)))
      .writeStream.format("parquet").option("path", out1)
      .option("checkpointLocation", tmp("semrecipe-ckp1")).outputMode("append").start()
    try { old.addData(feed); q1.processAllAvailable() } finally q1.stop()

    // query 2: the handover on a dedicated session, fresh checkpoint, full
    // replay, its sink gated to ts >= cutover, cold-restarted past the seam
    val hs = spark.newSession()
    hs.conf.set(CheckKey, "false")
    val src = Sources.memoryStream[SVec](hs)(org.apache.spark.sql.Encoders.product[SVec])
    val plan = SemDedupStream.admittedWithHandover(src.toDS().toDF(), oneCell, otherCell,
      cutover, watermarkDelay = "5 seconds", emitFromMs = Some(cutover))
    val out2 = tmp("semrecipe-out2")
    val ckp2 = tmp("semrecipe-ckp2")
    def start() = plan.writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckp2).outputMode("append").start()
    val q2a = start()
    try { src.addData(feed); q2a.processAllAvailable() } finally q2a.stop()
    val q2 = start()
    try {
      src.addData(tail)
      q2.processAllAvailable()
      // two flush rows finalize every verdict group of the feed (see the
      // streaming handover test above)
      src.addData(Seq(SVec(ts(100000), 8L, axis(5))))
      q2.processAllAvailable()
      src.addData(Seq(SVec(ts(200000), 9L, axis(6))))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(sinkIds(out1) == Seq(1L, 2L))
    assert(sinkIds(out2).filter(_ < 8L) == Seq(4L))
  }
}
