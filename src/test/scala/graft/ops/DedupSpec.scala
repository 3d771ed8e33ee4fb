package graft.ops

import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf())

  test("exact dedup groups identical normalized texts and keeps min id") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello  World", "en", "s", 11L),
      (2L, "hello world", "en", "s", 11L), // same after normalization
      (3L, "other doc", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.exact(d).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (3L, 1L))) // keeper 1 has 2 copies
  }

  test("minhash LSH finds the planted high-jaccard pairs (recall vs exact ngram)") {
    val exact = Dedup.ngramJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("minhash est_jaccard is high for candidates that are true near-dups") {
    val ests = Dedup.minhashCandidates(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)) -> r.getDouble(2))).toMap
    val truePairs = Dedup.ngramJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    truePairs.filter(ests.contains).foreach { p =>
      assert(ests(p) >= 0.5, s"pair $p est ${ests(p)}")
    }
  }

  test("LSH-verified pairs = exact jaccard over LSH candidates, no nested-loop join") {
    val cand = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Ground truth: brute same-lang exact jaccard (all planted dups share lang)
    val brute = Dedup.ngramJaccardPairs(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val verified = Dedup.lshVerifiedPairs(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.nonEmpty)
    // Every verified pair that the brute path also scored agrees exactly.
    verified.keys.filter(brute.contains).foreach { p =>
      assert(verified(p) == brute(p), s"pair $p: ${verified(p)} vs ${brute(p)}")
    }
    // Verified = brute ∩ candidates (on the same-lang universe brute covers).
    assert(brute.keySet.filter(cand.contains) == verified.keySet.filter(brute.contains))
    // Scale shape: candidate generation + verification is all equi-joins.
    val plan = Dedup.lshVerifiedPairs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), "composed dedup must not cross-product")
  }

  test("identical token sets get identical simhash (hamming 0 pair emitted)") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma", "en", "s", 0L),
      (2L, "gamma beta alpha alpha", "en", "s", 0L), // same distinct-token SET
      (3L, "delta epsilon zeta", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.simhashPairs(d).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("quadratic baselines refuse corpora above the all-pairs limit") {
    val e1 = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(docs, allowAllPairs = false, limit = 2L))
    assert(e1.getMessage.contains("lshVerifiedPairs"))
    assert(e1.getMessage.contains("Dedup.AllPairsLimit"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Dedup.embeddingPairs(Tables.embeddings(spark, sf()), allowAllPairs = false, limit = 2L))
    assert(e2.getMessage.contains("Similarity"))
    // Explicit opt-out bypasses the guard (plan builds lazily, no count job).
    assert(Dedup.ngramJaccardPairs(docs, allowAllPairs = true, limit = 2L).columns
      .sameElements(Array("doc_a", "doc_b", "jaccard")))
  }

  test("connected components collapse pair lists into min-id clusters") {
    import spark.implicits._
    // two components: a 4-chain {1,2,3,4} (worst case for label propagation —
    // no direct edge to the min) and a triangle {10,11,12}; pair (20,21) alone
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: empty pair list, and duplicate/reversed edges") {
    import spark.implicits._
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    val messy = Seq((5L, 6L), (6L, 5L), (5L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(messy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("near-dup survivors drop exactly the non-representative cluster members") {
    val clusters = Dedup.connectedComponents(Dedup.lshVerifiedPairs(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty, "test data should contain near-dup clusters")
    // every cluster id is the min doc_id of its members
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
    }
    val nonReps = clusters.collect { case (d, c) if d != c => d }.toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = Dedup.nearDupSurvivors(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == all -- nonReps)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val out = Dedup.embeddingPairs(Tables.embeddings(spark, sf())).collect()
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= Dedup.CosineThreshold - 1e-9)
    }
  }

  test("incremental near-dup == whole-corpus verified pairs restricted to the split") {
    import org.apache.spark.sql.functions._
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val got = Dedup.incrementalNearDupPairs(inc, corpus).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    // the same chain over the union, keeping only cross-split pairs
    val expected = Dedup.lshVerifiedPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }.toSet
    assert(expected.nonEmpty, "split must cross at least one planted near-dup")
    assert(got == expected)
  }

  test("incremental exact keeps only fingerprints absent from the corpus") {
    import org.apache.spark.sql.functions._
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val kept = Dedup.incrementalExact(inc, corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val corpusFps = Dedup.exact(corpus).collect().map(_.getString(0)).toSet
    val incGroups = Dedup.exact(inc).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // kept = the increment's own dedup groups minus corpus-known fingerprints
    assert(kept.toSet == incGroups.filterNot(g => corpusFps.contains(g._1)))
    assert(kept.nonEmpty)
  }

  test("content collapse: duplicate families expand exactly (pairs, est 1.0, clusters)") {
    import spark.implicits._
    // family A = {1,2,7} identical; family B = {3,4} identical AND a near-dup
    // of A (one token differs); family C = {5,6} identical, near-dup of
    // nothing; doc 8 unique; doc 9 too short for shingles
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val c = "completely different text about distributed systems and shuffle planning"
    val d = Seq(
      (1L, a), (2L, a), (7L, a), (3L, b), (4L, b), (5L, c), (6L, c),
      (8L, "unique text that resembles nothing else in this corpus at all"),
      (9L, "too short"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.lshVerifiedPairs(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // within-family pairs at exactly 1.0
    for (p <- Seq((1L, 2L), (1L, 7L), (2L, 7L), (3L, 4L), (5L, 6L)))
      assert(pairs.get(p).contains(1.0), s"within pair $p: ${pairs.get(p)}")
    // cross-family A×B: ALL member combos, same jaccard on each
    val crossAB = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 7L), (4L, 7L))
    crossAB.foreach(p => assert(pairs.contains(p), s"cross pair $p missing"))
    assert(crossAB.map(pairs).distinct.size == 1, "cross jaccard must be content-determined")
    assert(pairs.size == 5 + 6, s"no other pairs expected: $pairs")
    // clusters == generic CC over the expanded pair list (the uncollapsed
    // formulation), including family C which pairs only within itself
    val got = Dedup.nearDupClusters(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Dedup.connectedComponents(Dedup.lshVerifiedPairs(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L), s"got $got")
    // minhash candidates expand the same way (est 1.0 within)
    val cand = Dedup.minhashCandidates(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cand((1L, 2L)) == 1.0 && cand((5L, 6L)) == 1.0)
    assert(cand.keySet.intersect(crossAB.toSet) == crossAB.toSet)
  }

  test("duplicate spans: keep-first across docs, self-repeat within a doc, islands merge") {
    import spark.implicits._
    val run = "one two three four five six seven eight nine ten eleven twelve" // 12 toks
    val d = Seq(
      (1L, s"alpha beta $run gamma delta"), // first occurrence: keeps its copy
      (2L, s"zeta eta theta $run iota"), // later copy: run occupies tokens 4..15
      (3L, "p q r s t u v w x y p q r s t u v w x y"), // 10-token self-repeat at 11
      (4L, "totally unrelated words appear in this rather distinctive final document"),
      (5L, s"alpha beta $run gamma delta")) // exact copy of doc 1: wall-to-wall span
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.duplicateSpans(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 2: windows 4,5,6 flag (content matches doc 1's windows 3,4,5) and
    // merge into ONE span covering exactly the duplicated run [4, 16);
    // doc 3: the second copy of the run flags at window 11 -> [11, 21);
    // doc 5 duplicates doc 1 wholesale -> every window flags -> [1, 17);
    // docs 1 (first occurrence) and 4 (unique) emit nothing
    assert(out == Set((2L, 4L, 16L, 12L), (3L, 11L, 21L, 10L), (5L, 1L, 17L, 16L)), s"got $out")
    // and the cut: spans removed, survivors rejoined in order, counts match
    val cut = Dedup.cutSpans(d).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(cut(1L) == (s"alpha beta $run gamma delta", 0L), "first occurrence intact")
    assert(cut(2L) == ("zeta eta theta iota", 12L), "doc 2 loses exactly the run")
    assert(cut(3L) == ("p q r s t u v w x y", 10L), "doc 3 keeps one copy of its repeat")
    assert(cut(5L) == ("", 16L), "wholesale duplicate comes back empty")
    assert(cut(4L)._2 == 0L, "unique doc uncut")
  }

  test("duplicate spans on the corpus: spans sane, non-overlapping, brute-force-confirmed") {
    import org.apache.spark.sql.functions._
    val spans = Dedup.duplicateSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty, "corpus plants exact dupes, so spans must exist")
    spans.foreach { case (_, s, e, n) =>
      assert(s >= 1 && s < e && n == e - s)
    }
    // per doc, islands never overlap (they merged if they touched)
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((_, _, e1, _), (_, s2, _, _)) =>
        assert(s2 > e1, s"doc $id has touching spans that should have merged")
      }
    }
    // flagged docs really do share their spans: every spanned doc holds a
    // window content some OTHER (doc, pos) also holds — cross-check one doc
    // against a brute-force window scan
    val someDoc = spans.head._1
    val w = Dedup.SpanWindow
    val allWins = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .collect().flatMap { r =>
        val toks = r.getSeq[String](1)
        toks.sliding(w).zipWithIndex.collect {
          case (win, i) if win.length == w => (win.mkString(" "), r.getLong(0), i + 1)
        }
      }
    val byContent = allWins.groupBy(_._1)
    val docSpans = spans.filter(_._1 == someDoc)
    val toks = allWins.filter(_._2 == someDoc)
    docSpans.foreach { case (_, s, _, _) =>
      val win = toks.find(_._3 == s).map(_._1)
      assert(win.exists(c => byContent(c).exists(o => (o._2, o._3) != (someDoc, s))),
        s"doc $someDoc span at $s has no other occurrence in the corpus")
    }
  }

  test("bloom-gated incremental exact == plain incremental exact, even at forced-high fpp") {
    import org.apache.spark.sql.functions._
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    def setOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exact = setOf(Dedup.incrementalExact(inc, corpus))
    assert(setOf(Dedup.incrementalExactBloom(inc, corpus)) == exact)
    // a deliberately saturated filter (tiny capacity, fpp ~ 1) floods the
    // candidate path with false positives — the anti-join must absorb them
    assert(setOf(Dedup.incrementalExactBloom(inc, corpus, fpp = 0.5, expectedItems = 8)) == exact)
    // the gate really is Spark's bloom expression over a literal bitset
    val plan = Dedup.incrementalExactBloom(inc, corpus)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom gate missing from plan:\n${plan.take(600)}")
  }

  test("prefix-filtered join == all-pairs ngram baseline (zero false negatives)") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = keyed(Dedup.ngramJaccardPairs(docs))
    val pref = keyed(Dedup.prefixFilteredPairs(docs))
    assert(pref == exact, s"prefix join must equal the all-pairs baseline; " +
      s"missing=${exact.keySet -- pref.keySet} extra=${pref.keySet -- exact.keySet}")
    // and it must get there without any unkeyed expansion in the plan
    val plan = Dedup.prefixFilteredPairs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("prefix filter: rare-first order keeps frequent tokens out of the index") {
    val s = spark
    import s.implicits._
    // docs share a 7-token stem (5 shared 3-gram shingles) plus 3 unique
    // tokens each -> 8 distinct shingles per doc
    val base = "alpha beta gamma delta epsilon zeta eta"
    val docs = (1L to 8L).map(i => (i, s"$base word$i extra$i more$i", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.prefixFilteredPairs(docs).collect()
    // jaccard = 5 / (8 + 8 - 5) ≈ 0.4545 < 0.5 -> candidates exist, none pass
    assert(out.isEmpty)
    val hit = Dedup.prefixFilteredPairs(docs, threshold = 0.4).collect()
    assert(hit.length == 8 * 7 / 2, "at t=0.4 all pairs clear the threshold")
  }

  test("priorityDedup: preferred source wins the duplicate election, ties by id") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (10L, "same text", "en", "src9", 9L), // crawl copy, lower priority
      (11L, "same text", "en", "src2", 9L), // curated copy -> wins
      (12L, "same text", "en", "src2", 9L), // same priority -> id ties
      (13L, "unique doc", "en", "src5", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.priorityDedup(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out == Map(11L -> ("src2", 3L), 13L -> ("src5", 1L)))
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; every doc assigned") {
    val split = Dedup.leakageSafeSplit(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(split.length == docs.select("doc_id").distinct().count())
    val byDoc = split.map(s => s._1 -> s).toMap
    // clustered docs carry their CC root as group_key and inherit ITS split —
    // a paraphrase can never land in a different split than its original
    val clusters = Dedup.connectedComponents(Dedup.lshVerifiedPairs(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty)
    clusters.foreach { case (doc, cid) =>
      assert(byDoc(doc)._2 == cid, s"doc $doc group_key != cluster root $cid")
      assert(byDoc(doc)._3 == byDoc(cid)._3, s"doc $doc split differs from root $cid")
    }
    // split fractions over GROUPS sit near 80/10/10 (hash-mod, loose bounds)
    val groups = split.map(s => (s._2, s._3)).distinct
    val frTrain = groups.count(_._2 == "train").toDouble / groups.size
    assert(frTrain > 0.6 && frTrain < 0.95, s"train fraction $frTrain")
    assert(groups.exists(_._2 == "val") && groups.exists(_._2 == "test"))
    // deterministic under repartitioning — re-runs of the pipeline agree
    val again = Dedup.leakageSafeSplit(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(split.map(s => (s._1, s._3)).toSet == again)
  }
}
