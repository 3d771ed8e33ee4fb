package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf())

  /** `Corpus.packSequences` with the adaptive cumsum's window bound at 0,
    * which forces the two-level form on any input.
    */
  private def packTwoLevel(d: DataFrame, capacity: Long): DataFrame =
    Corpus.packSequencesFromCounts(
      d.select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      capacity, "source", "doc_id", maxRows = 0L)

  test("packing: offsets stay under capacity and reconstruct the shard cumsum") {
    val c = 64L
    val packed = Corpus.packSequences(docs, c).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(packed.nonEmpty)
    packed.foreach { case (_, _, _, _, off) => assert(off >= 0 && off < c) }
    // pack_id * capacity + pack_offset == tokens before this doc in its shard
    packed.groupBy(_._1).foreach { case (_, shard) =>
      var cum = 0L
      shard.sortBy(_._2).foreach { case (_, _, n, packId, off) =>
        assert(packId * c + off == cum, "packing must be the concat-then-cut layout")
        cum += n
      }
    }
  }

  test("packing spreads even a single coarse shard: range layout, no shard funnel") {
    // one source = the worst case for a Window.partitionBy(shard) cumsum
    // (the whole corpus would funnel through ONE window task); the two-level
    // prefix sum must keep the full-data path range-partitioned instead.
    // A window bound of 0 disables the adaptive small-input window shortcut —
    // this test pins the shape the operator takes when the input does NOT
    // fit one task.
    val one = docs.withColumn("source", lit("onesrc"))
    val out = packTwoLevel(one, 64L)
    // the checkpointed prefix hides the range exchange behind Scan
    // ExistingRDD, so assert the two-level shape by its visible half (the
    // per-(shard, pid) offsets join) ...
    val plan = out.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("__pid") && plan.contains("broadcast"),
      s"offsets broadcast-join missing — not the two-level prefix sum:\n${plan.take(1200)}")
    assert(!plan.contains("windowspecdefinition(source#") ||
      plan.contains("__pid"), "cumsum must not be a corpus-wide per-shard window")
    // ... and by the data: the single shard really lands in many partitions,
    // not one hash bucket
    val nonEmpty = out.rdd.mapPartitions(it => Iterator(it.hasNext)).collect().count(identity)
    assert(nonEmpty > 1, s"single shard collapsed to $nonEmpty non-empty partition(s)")
    // and the two-level sum telescopes to exactly the naive one-window cumsum
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val naive = one
      .select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), expr("(cum - n_tokens) div 64L").as("pack_id"),
        ((col("cum") - col("n_tokens")) % 64L).cast("long").as("pack_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = out.collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(got == naive, "two-level prefix sum must equal the one-window cumsum")
  }

  test("adaptive cumsum: a small input takes the plain window, values identical") {
    // default bound (partitions x 1024 rows): the sf fixture fits one
    // window task, so the probe must route around the two-level machinery —
    // no __pid projection, no range exchange, no checkpoint
    val small = Corpus.packSequences(docs, 64L)
    val plan = small.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("__pid"),
      s"small input must take the plain-window path:\n${plan.take(1200)}")
    assert(plan.contains("windowspecdefinition"),
      "plain-window path must actually be a window")
    // and the two modes agree row-for-row
    val twoLevel = packTwoLevel(docs, 64L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    val win = small.collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(win == twoLevel, "adaptive modes must agree")
  }

  test("source overlap exact form fails fast past the inverted-index bound") {
    val e = intercept[Exception](
      Corpus.sourceOverlap(docs, Int.MaxValue, shingleLimit = 10L).collect())
    assert(e.getMessage.contains("maxDf"), e.getMessage)
    assert(e.getMessage.contains("Corpus.OverlapShingleLimit"), e.getMessage)
    // the df-cut scale path is NOT guarded: it bounds fan-out by construction
    assert(Corpus.sourceOverlap(docs, Corpus.OverlapMaxDf, shingleLimit = 10L).collect().nonEmpty)
  }

  test("mix sources fails loudly on bad or unattainable weights") {
    val s = spark
    import s.implicits._
    // non-positive weight: integer div-by-zero would silently NULL out of min()
    val zero = Seq(("web", 0L), ("books", 1000000L)).toDF("source", "w_e6")
    assertThrows[Exception](Corpus.mixSources(docs, zero).collect())
    // weight source absent from the corpus: quota would be unattainable
    val ghost = Seq(("no_such_source", 1000000L)).toDF("source", "w_e6")
    assertThrows[Exception](Corpus.mixSources(docs, ghost).collect())
  }

  test("vocabulary: contiguous ranks, monotone coverage reaching the token mass") {
    val v = Corpus.vocabulary(docs, topK = 1000).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._3)
    assert(v.nonEmpty)
    assert(v.map(_._3).toSeq == (1L to v.length))
    assert(v.sliding(2).forall { case Array(a, b) => a._4 <= b._4 + 1e-9; case _ => true })
    // the synthetic vocab is < 1000 terms, so coverage must close at 1.0
    assert(math.abs(v.last._4 - 1.0) < 1e-6)
    // counts non-increasing in rank order
    assert(v.sliding(2).forall { case Array(a, b) => a._2 >= b._2; case _ => true })
  }

  test("pack chunks tile every doc and fill every non-final pack to capacity") {
    val c = 64L
    val rows = Corpus.packChunks(docs, c).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // slices tile each doc: contiguous [tok_start, tok_end) starting at 0
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, slices) =>
      val s = slices.sortBy(_._3)
      assert(s.head._4 == 0L, "first slice starts at token 0")
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 == b._4, "slices must be contiguous")
          assert(b._3 == a._3 + 1, "consecutive slices land in consecutive packs")
        case _ =>
      }
      s.foreach { case (_, _, _, st, en, n) => assert(n == en - st && n > 0) }
    }
    // every pack except the last per shard holds exactly `capacity` tokens
    val perPack = rows.groupBy(t => (t._1, t._3)).view.mapValues(_.map(_._6).sum)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val last = rs.map(_._3).max
      rs.map(_._3).distinct.filter(_ < last).foreach { p =>
        assert(perPack((src, p)) == c, s"pack $p of $src must be full")
      }
    }
    // agrees with packSequences on where each doc starts
    val starts = Corpus.packSequences(docs, c).collect()
      .map(r => (r.getString(1), r.getLong(0)) -> ((r.getLong(3), r.getLong(4)))).toMap
    rows.groupBy(t => (t._1, t._2)).foreach { case (k, slices) =>
      val first = slices.minBy(_._3)
      val (packId, off) = starts(k)
      val nTokens = slices.map(_._6).sum
      assert(first._3 == packId, "first slice pack must match packSequences pack_id")
      // first slice runs from the packSequences offset to the pack edge (or doc end)
      assert(first._6 == math.min(nTokens, c - off), "first slice length must match the start offset")
    }
  }

  test("mix sources hits exact integer quotas, deterministically") {
    val s = spark
    import s.implicits._
    val w = Corpus.MixTargetsE6.toDF("source", "w_e6")
    val out = Corpus.mixSources(docs, w).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val kept = out.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // recompute quotas independently: T = min(n*1e6/w), quota = w*T/1e6
    val n = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wm = Corpus.MixTargetsE6.toMap
    val t = wm.map { case (src, we6) => n(src) * 1000000L / we6 }.min
    wm.foreach { case (src, we6) =>
      val quota = we6 * t / 1000000L
      assert(kept.getOrElse(src, 0L) == quota, s"source $src quota")
    }
    // mixture is deterministic: same selection regardless of partitioning
    val again = Corpus.mixSources(docs.repartition(7), w).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
  }

  test("token budget keeps the per-source quality-order prefix within budget") {
    val b = 400L
    val out = Corpus.tokenBudget(docs, b).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._3).sum <= b, s"$src exceeds budget")
      assert(rs.map(_._5).max <= b)
    }
    // prefix property: every kept doc outranks (quality DESC, doc_id) every dropped one
    val all = Text.qualityScoredFromToks(
      docs.select(col("doc_id"), col("source"), Text.tokens(col("text")).as("toks")),
      keep = Seq("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val keptIds = out.map(_._2).toSet
    all.groupBy(_._1).foreach { case (_, ds) =>
      val order = ds.sortBy(d => (-d._3, d._2)).map(_._2)
      val keptHere = order.takeWhile(keptIds.contains)
      assert(order.filter(keptIds.contains).toSeq == keptHere.toSeq,
        "kept set must be a prefix of the quality order")
    }
  }

  test("novelty: first doc contributes all-new shingles; fractions bounded") {
    val out = Corpus.novelty(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, novel, frac) =>
      assert(novel >= 0 && novel <= n)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the lowest doc_id in the output has no earlier doc: everything is novel
    val firstDoc = out.minBy(_._1)
    assert(firstDoc._3 == firstDoc._2 && firstDoc._4 == 1.0,
      "first doc must be 100% novel")
  }

  test("quality thresholds hit the target keep rate with ties kept") {
    val target = Corpus.KeepTargetE6
    val out = Corpus.qualityThresholds(docs, target).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val nSrc = docs.select(col("source")).distinct().count()
    assert(out.length == nSrc, "one calibration row per source")
    out.foreach { case (src, n, cutoff, kept) =>
      val k = math.max(1L, n * target / 1000000L)
      // k-th best has quality == cutoff, so >= k docs clear it (ties kept)...
      assert(kept >= k, s"$src keeps $kept < target rank $k")
      // ...and everything STRICTLY above the cutoff ranks before k
      val strictlyAbove = Text.qualityScoredFromToks(
        docs.filter(col("source") === src)
          .select(col("doc_id"), col("source"), Text.tokens(col("text")).as("toks")),
        keep = Seq("source")).filter(col("quality_e6") > cutoff).count()
      assert(strictlyAbove < k, s"$src cutoff $cutoff is not the rank-$k quality")
    }
  }

  test("bucketed thresholds bracket the exact cutoff within one bucket, no corpus sort") {
    val target = Corpus.KeepTargetE6
    val w = 1000000L / Corpus.ThresholdBuckets
    val exact = Corpus.qualityThresholds(docs, target).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .map(t => t._1 -> t).toMap
    val bkt = Corpus.qualityThresholdsBucketed(docs, target, Corpus.ThresholdBuckets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bkt.length == exact.size, "one row per source")
    bkt.foreach { case (src, n, cutoff, kept) =>
      val (_, nE, cutoffE, keptE) = exact(src)
      assert(n == nE)
      // the bucketed cutoff is the k-th quality's bucket lower bound
      assert(cutoff <= cutoffE && cutoffE < cutoff + w,
        s"$src: bucketed $cutoff must bracket exact $cutoffE within $w")
      // keeping at the looser (lower) cutoff keeps at least the exact set
      assert(kept >= keptE, s"$src keeps $kept < exact $keptE")
      val k = math.max(1L, n * target / 1000000L)
      assert(kept >= k)
    }
    // scale shape: the only window runs over the (source, bucket) table, so
    // the plan must NOT range-sort or rank the corpus by quality
    val plan = Corpus.qualityThresholdsBucketed(docs, target)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      s"bucketed calibration must not rank the corpus:\n${plan.take(800)}")
  }

  test("lm thresholds calibrate on NEGATIVE scores with the keep-at-least-k guarantee") {
    val target = Corpus.KeepTargetE6
    val out = Corpus.lmThresholdsBucketed(docs, target).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // recompute scored docs independently: (source, score_e6)
    val scored = Text.lmScore(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), expr("cast(round(avg_ll * 1000000.0) as bigint)").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(scored.forall(_._2 < 0), "lm scores are negative micro-nats")
    val bySrc = scored.groupBy(_._1)
    assert(out.length == bySrc.size, "one calibration row per source holding scored docs")
    out.foreach { case (src, n, cutoff, kept) =>
      val ss = bySrc(src).map(_._2)
      assert(n == ss.length, s"$src n_docs must count SCORED docs only")
      val k = math.max(1L, n * target / 1000000L)
      assert(kept >= k, s"$src keeps $kept < target rank $k")
      // cutoff really is a floor-div bucket lower bound (sign-safe) and the
      // filter it defines keeps exactly n_kept docs
      assert(cutoff % Corpus.LmBucketWidth == 0 || cutoff < 0,
        s"$src cutoff $cutoff must sit on a bucket boundary")
      assert(math.floorMod(cutoff, Corpus.LmBucketWidth) == 0)
      assert(ss.count(_ >= cutoff) == kept, s"$src: score_e6 >= cutoff must keep n_kept")
    }
  }

  test("epoch plan: budget-implied passes per source, loud on absent sources") {
    val s = spark
    import s.implicits._
    val out = Corpus.epochPlan(docs, Corpus.MixTargetsE6.toDF("source", "w_e6"),
      Corpus.EpochBudgetTokens).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == Corpus.MixTargetsE6.length, "one plan row per weighted source")
    val budget = Corpus.EpochBudgetTokens
    out.foreach { case (src, nDocs, avail, target, epochs) =>
      val w = Corpus.MixTargetsE6.toMap.apply(src)
      assert(nDocs > 0 && avail >= nDocs, s"$src: availability must cover 1+ token per doc")
      assert(target == budget * w / 1000000L, s"$src target mismatch")
      assert(epochs == target * 1000000L / avail, s"$src epochs mismatch")
    }
    // demo budget deliberately exceeds per-source availability: repetition
    // (epochs > 1) must appear, the data-constrained regime the op plans for
    assert(out.exists(_._5 > 1000000L), "expected at least one repeating source")
    // absent weighted source raises in-plan
    val bad = (Corpus.MixTargetsE6 :+ ("src_missing" -> 10000L)).toDF("source", "w_e6")
    val e = intercept[Exception] {
      Corpus.epochPlan(docs, bad, budget).collect()
    }
    assert(e.getMessage.contains("absent from corpus") ||
      e.getCause != null && e.getCause.getMessage.contains("absent from corpus"))
  }

  test("lm filter keeps exactly the calibrator's n_kept per source, at or above the cutoff") {
    val target = Corpus.KeepTargetE6
    val cal = Corpus.lmThresholdsBucketed(docs, target).collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getLong(3)))).toMap
    val kept = Corpus.lmFilter(docs, target).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kept.nonEmpty)
    val bySrc = kept.groupBy(_._2)
    assert(bySrc.keySet == cal.keySet, "filter covers every calibrated source")
    bySrc.foreach { case (src, rows) =>
      val (cutoff, nKept) = cal(src)
      assert(rows.length == nKept, s"$src keeps ${rows.length}, calibrator said $nKept")
      assert(rows.forall(_._3 >= cutoff), s"$src kept a doc below its cutoff")
    }
    // the cutoff table joins back as a broadcast: the filter is a map-side
    // gate over the checkpointed scored projection, no score re-derivation
    val plan = Corpus.lmFilter(docs, target).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"cutoff join must broadcast:\n${plan.take(600)}")
  }

  test("approx mixture hits quotas within binomial noise, shuffle-free and deterministic") {
    val s = spark
    import s.implicits._
    val weights = Corpus.MixTargetsE6.toDF("source", "w_e6")
    val out = Corpus.mixSourcesApprox(docs, weights).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.nonEmpty)
    val kept = out.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // recompute quotas independently (same arithmetic as the exact form)
    val n = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wm = Corpus.MixTargetsE6.toMap
    val t = wm.map { case (src, we6) => n(src) * 1000000L / we6 }.min
    wm.foreach { case (src, we6) =>
      val quota = we6 * t / 1000000L
      val got = kept.getOrElse(src, 0L)
      val tol = math.max(8L, math.ceil(4 * math.sqrt(quota.toDouble)).toLong)
      assert(math.abs(got - quota) <= tol,
        s"source $src kept $got vs quota $quota (tol $tol)")
    }
    // hash-gated selection: invariant to partitioning, no rank window in plan
    val again = Corpus.mixSourcesApprox(docs.repartition(7), weights).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
    val plan = Corpus.mixSourcesApprox(docs, weights)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      s"approx mixture must not rank per source:\n${plan.take(800)}")
  }

  test("lm terciles: labels partition each source, ordered by score, near-thirds") {
    val out = Corpus.lmTerciles(docs).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val byT = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      // every scored doc got a label; scores strictly order the terciles
      assert(byT.keySet.subsetOf(Set("head", "middle", "tail")))
      for (h <- byT.get("head"); m <- byT.get("middle")) assert(h.min >= m.max || h.min > m.min)
      for (m <- byT.get("middle"); t <- byT.get("tail")) assert(m.min > t.max)
      // head holds at least a third (bucket-resolution overshoot allowed,
      // never undershoot), and never everything when n >= 3
      val n = rows.length
      if (n >= 3) {
        assert(byT.getOrElse("head", Array.empty[Long]).length >= n / 3)
        assert(byT.getOrElse("head", Array.empty[Long]).length < n, s"$src all head")
      }
    }
  }

  test("temperature mixture flattens a skewed corpus toward sqrt proportions") {
    val s = spark
    import s.implicits._
    // 900 vs 100 docs: natural ratio 9:1, sqrt-temperature targets 3:1
    val skewed = ((0 until 900).map(i => (i.toLong, s"doc $i text", "A")) ++
      (900 until 1000).map(i => (i.toLong, s"doc $i text", "B")))
      .toDF("doc_id", "text", "source")
    val kept = Corpus.mixTemperature(skewed, 400L).collect()
      .map(r => r.getString(1)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    // quotas: wA=30e6, wB=10e6, tw=40e6 -> qA=300, qB=100 (rates 1/3, 1)
    assert(kept("B") == 100L, s"small source must be fully included: $kept")
    val tol = math.ceil(4 * math.sqrt(300.0)).toLong
    assert(math.abs(kept("A") - 300L) <= tol, s"A kept ${kept("A")} vs quota 300")
    // deterministic and partitioning-invariant, like every hash-gated sampler
    val again = Corpus.mixTemperature(skewed.repartition(7), 400L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val first = Corpus.mixTemperature(skewed, 400L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(first == again)
  }

  test("zorder: interleave decodes back to its inputs; layout is range exchange + local sort") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L), (512L, 7L))
      .toDF("x", "y")
    val zs = pts.withColumn("zv",
      org.apache.spark.sql.functions.expr(Corpus.zvalueSql("x", "y", "div")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def decode(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      for (i <- 0 until Corpus.ZBits) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    zs.foreach { case (x, y, z) => assert(decode(z) == ((x, y)), s"($x,$y) -> $z") }
    // the layout plan: one range exchange on zv + partition-local sort,
    // no global Sort above the exchange
    val laid = Corpus.zorderLayout(docs, "n_chars div 8", "n_chars div 64", 4)
    val plan = laid.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(zv"), plan.take(1200))
    assert(plan.contains("Sort [zv"), plan.take(1200))
    // rows within each partition are locally sorted by zv
    val parts = laid.select(org.apache.spark.sql.functions.spark_partition_id().as("p"),
      org.apache.spark.sql.functions.col("zv")).collect()
      .groupBy(_.getInt(0)).values
    parts.foreach { rs =>
      val vs = rs.map(_.getLong(1)).toSeq
      assert(vs == vs.sorted, "partition not locally sorted by zv")
    }
  }

  test("shuffle shards: balanced, dense positions, seed-reproducible") {
    val n = Corpus.ShuffleShards
    val out = Corpus.shuffleShards(docs, n, Corpus.ShuffleSeed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == docs.count())
    val byShard = out.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until n).toSet))
    // hash balance: no shard more than 2x the mean at this size
    val sizes = byShard.view.mapValues(_.length).values
    assert(sizes.max <= 2 * out.length / n, s"skewed shards: ${sizes.mkString(",")}")
    // positions dense from 1 within each shard
    byShard.foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length))
    }
    // partitioning-independent and seed-keyed
    val again = Corpus.shuffleShards(docs.repartition(7), n, Corpus.ShuffleSeed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
    val other = Corpus.shuffleShards(docs, n, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(other.toSet != out.toSet, "a different seed must reshuffle")
  }

  test("quality histogram covers every doc exactly once across buckets 0-9") {
    val h = Corpus.qualityHistogram(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(h.nonEmpty)
    h.foreach { case (b, n, toks, _) =>
      assert(b >= 0 && b <= 9); assert(n > 0 && toks > 0)
    }
    assert(h.map(_._1).distinct.length == h.length, "one row per bucket")
    assert(h.map(_._2).sum == docs.count(), "every doc in exactly one bucket")
    assert(math.abs(h.map(_._4).sum - 1.0) < 1e-4, "doc fractions sum to 1")
  }

  test("source overlap df-cut only removes near-universal shingle mass") {
    val exact = Corpus.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // maxDf = #sources: cut is a no-op, result identical to the exact form
    val nSrc = docs.select(col("source")).distinct().count().toInt
    val uncut = Corpus.sourceOverlap(docs, maxDf = nSrc).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(uncut == exact)
    // aggressive cut: shared counts can only shrink (never grow, never add pairs)
    val cut = Corpus.sourceOverlap(docs, maxDf = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    cut.foreach { case (pair, n) =>
      assert(exact.contains(pair) && n <= exact(pair), s"pair $pair grew under the cut")
    }
  }

  test("vocabulary trims via TakeOrderedAndProject before the rank window") {
    val plan = Corpus.vocabulary(docs, topK = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition take, not a global sort of the term set, got:\n${plan.take(800)}")
  }

  test("source overlap matches a per-pair brute force on sampled pairs") {
    val out = Corpus.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.nonEmpty)
    out.keys.foreach { case (a, b) => assert(a < b) }
    // brute force: collect shingle sets per source, intersect two fixed pairs
    val shingles = docs
      .select(col("source"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"))
        .as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val srcs = shingles.keys.toSeq.sorted.take(3)
    for (a <- srcs; b <- srcs if a < b) {
      val inter = (shingles(a) & shingles(b)).size.toLong
      val jac = inter.toDouble / (shingles(a).size + shingles(b).size - inter)
      if (inter == 0) assert(!out.contains((a, b)))
      else {
        val (n, j) = out((a, b))
        assert(n == inter && math.abs(j - jac) < 1e-6, s"pair ($a,$b)")
      }
    }
  }

  test("minhash source overlap: identical sources estimate 1.0, disjoint near 0") {
    val s = spark
    import s.implicits._
    val shared = (0 until 20).map(i => s"alpha beta gamma delta token$i run ${i % 5}").mkString(" ")
    val other = (0 until 20).map(i => s"omega psi chi unrelated$i words ${i % 7}").mkString(" ")
    val d = Seq(
      (1L, shared, "A"), (2L, shared, "B"), // identical shingle sets
      (3L, other, "C")) // disjoint vocabulary
      .toDF("doc_id", "text", "source")
    val out = Corpus.sourceOverlapMinhash(d).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("A", "B")) == (Corpus.SrcMinhashPerms.toLong, 1.0))
    // disjoint sets agree only by hash collision: allow a couple of components
    assert(out(("A", "C"))._1 <= 2 && out(("B", "C"))._1 <= 2)
    // every source pair is present (the estimator is total, unlike the
    // exact form which omits never-colliding pairs)
    assert(out.size == 3)
  }

  test("minhash source overlap tracks exact jaccard within estimator error") {
    val d = graft.Tables.documents(spark, sf())
    val est = Corpus.sourceOverlapMinhash(d).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    val exact = Corpus.sourceOverlap(d).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    // 64 perms -> s.d. of the estimate <= 1/(2*sqrt(64)) = 0.0625; 5 sigma
    for ((pair, j) <- exact) {
      assert(math.abs(est(pair) - j) <= 0.32, s"$pair est ${est(pair)} vs exact $j")
    }
  }
}
