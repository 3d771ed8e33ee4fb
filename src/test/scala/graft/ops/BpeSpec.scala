package graft.ops

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("learnMerges: hand-computed merge sequence on a tiny corpus") {
    // corpus: "low low low lower" -> words: low x3, lower x1
    // syms: " l o w </w> " (freq 3), " l o w e r </w> " (freq 1)
    // round 1 pairs: (l,o)=4 (o,w)=4 (w,</w>)=3 (w,e)=1 (e,r)=1 (r,</w>)=1
    //   tie 4/4 -> (l,o) before (o,w) by symbol order -> merge "lo"
    // round 2: (lo,w)=4 wins -> "low"
    // round 3: (low,</w>)=3 wins -> "low</w>"
    val m = Bpe.learnMerges(docs((1L, "low low low lower")), n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(m.toSeq == Seq(
      (1L, "l", "o", 4L),
      (2L, "lo", "w", 4L),
      (3L, "low", "</w>", 3L)))
  }

  test("merge application is left-to-right non-overlapping (documented semantics)") {
    // "aaaa" -> " a a a a </w> ". Round 1: (a,a) counted at ALL 3 adjacent
    // positions -> cnt 3; applying the merge left-to-right non-overlapping
    // gives " aa a a </w> " (the shared-boundary middle pair is skipped).
    // Round 2 state pairs: (aa,a) (a,a) (a,</w>) all cnt 1 -> tie broken by
    // binary order: "a" < "aa" and "</w>" < "a", so (a,</w>) wins.
    val m = Bpe.learnMerges(docs((1L, "aaaa")), n = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m(0) == (("a", "a", 3L)))
    assert(m(1) == (("a", "</w>", 1L)))
  }

  test("ties break in UTF-8 byte order, not UTF-16 order") {
    // "\uD83D\uDE00\uD83D\uDE00 \uFFFD\uFFFD": the four pairs (😀,😀) (😀,</w>)
    // (\uFFFD,\uFFFD) (\uFFFD,</w>) all count 1. In UTF-8 bytes U+FFFD (EF BF BD)
    // sorts before U+1F600 (F0 9F 98 80), as Spark's and DuckDB's string sort
    // have it; UTF-16 (String.compareTo) puts the surrogate D83D first
    val m = Bpe.learnMerges(docs((1L, "\uD83D\uDE00\uD83D\uDE00 \uFFFD\uFFFD")), n = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m.toSeq == Seq(("\uFFFD", "</w>", 1L)))
  }

  test("an empty corpus learns no merges") {
    val none = docs()
    assert(Bpe.learnMerges(none, n = 3).collect().isEmpty)
    assert(Bpe.learnMergesBatched(none, rounds = 2).collect().isEmpty)
  }

  test("job budget: one job per merge round, plus the vocabulary pin") {
    val corpus = docs((1L, "low low low lower"), (2L, "lowest slow slow"))
    var merges = 0
    val jobs = jobsDuring { merges = Bpe.learnMerges(corpus, n = 3).collect().length }
    assert(merges == 3)
    assert(jobs <= 3 + 3, s"learnMerges(n = 3) ran $jobs jobs")
  }

  test("batched with m=1 degenerates to exactly the sequential merge sequence") {
    val corpus = docs((1L, "low low low lower"), (2L, "lowest slow slow"))
    val seqM = Bpe.learnMerges(corpus, n = 6)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val batM = Bpe.learnMergesBatched(corpus, rounds = 6, m = 1)
      .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(r => (r.getString(2), r.getString(3), r.getLong(5))).toSeq
    assert(batM == seqM, s"m=1 batched must equal sequential:\n$batM\n$seqM")
  }

  test("batched rounds: within-round selections are symbol-disjoint and rank-consistent") {
    val corpus = docs(
      (1L, "aa bb aa bb cc dd cc dd ee ff"),
      (2L, "aa bb cc dd ee ff gg hh"),
      (3L, "aa bb cc dd"))
    val rows = Bpe.learnMergesBatched(corpus, rounds = 2, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (round, sel) =>
      // no two merges in one round may share a symbol (they commute, and
      // each was a true top-pair of the round-start state)
      val syms = sel.flatMap(s => Seq(s._3, s._4))
      assert(syms.distinct.length == syms.length,
        s"round $round selections share symbols: $sel")
      // sel is 1..k dense and counts are non-increasing in sel order
      assert(sel.map(_._2).sorted.toSeq == (1L to sel.length).toSeq)
      val cnts = sel.sortBy(_._2).map(_._5)
      assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y })
    }
    // exhaustion on a degenerate corpus stops cleanly with what was learned
    val tiny = Bpe.learnMergesBatched(docs((1L, "a")), rounds = 5, m = 4).collect()
    assert(tiny.map(_.getLong(0)).distinct.length <= 2,
      "single-letter word fully merges in one or two rounds and the loop must stop")
  }

  test("encode compresses with learned merges and never crosses word boundaries") {
    val corpus = docs((1L, "low low lower"), (2L, "low"))
    val merges = Bpe.learnMerges(corpus, n = 3)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Bpe.encode(corpus, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 2 "low": chars l o w </w> = 4 symbols -> after (l,o)(lo,w)(low,</w>)
    // merges collapse to 1 symbol
    assert(enc(2L) == 1L)
    // doc 1 raw: 4+4+6 = 14 symbols. Merging (low,</w>) consumes the
    // boundary space shared with the NEXT occurrence (left-to-right
    // non-overlapping replace), so the second "low </w>" stays unmerged:
    // low</w>, low, </w>, low, e, r, </w> = 7
    assert(enc(1L) == 7L)
  }

  test("encode broadcast guard: an oversized merge table fails with the chunked-pass advice") {
    val tooMany = (0 to Bpe.MaxEncodeMerges).map(i => (s"a$i", s"b$i"))
    val ex = intercept[IllegalArgumentException] {
      Bpe.encode(docs((1L, "a b")), tooMany)
    }
    assert(ex.getMessage.contains("chunked passes"))
  }
}
