package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {

  import org.apache.spark.sql.Row

  test("DotProduct matches a plain Scala fold, both via Column and SQL name") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.5), Array(2.0, 2.0))).toDF("a", "b")
    val viaColumn = df.select(GraftFunctions.dot(col("a"), col("b"))).as[Double].collect()
    val viaSql = df.select(expr("graft_dot(a, b)")).as[Double].collect()
    assert(viaColumn.toSeq == Seq(32.0, -2.0))
    assert(viaSql.toSeq == Seq(32.0, -2.0))
  }

  test("DotProduct folds sequentially (ascending index)") {
    import spark.implicits._
    // Values chosen so a different summation order changes the IEEE result.
    val a = Array(1e16, 1.0, -1e16)
    val expected = ((0.0 + 1e16 * 1.0) + 1.0 * 1.0) + (-1e16 * 1.0)
    val got = Seq((a, Array(1.0, 1.0, 1.0))).toDF("a", "b")
      .select(GraftFunctions.dot(col("a"), col("b"))).as[Double].head()
    assert(got == expected)
  }

  test("SortedIntersectCount merge walk") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 3L, 5L, 7L), Array(3L, 4L, 5L, 8L)), // {3,5}
      (Array(1L, 2L), Array(3L, 4L)), // {}
      (Array[Long](), Array(1L, 2L)), // {}
      (Array(9L), Array(9L))).toDF("a", "b")
    val got = df.select(GraftFunctions.sortedIntersectCount(col("a"), col("b"))).as[Long].collect()
    assert(got.toSeq == Seq(2L, 0L, 0L, 1L))
  }

  test("SimHash60 equals the definitional bit-vote") {
    import spark.implicits._
    def reference(hs: Seq[Long]): Long =
      (0 until 60).map { i =>
        val vote = hs.map(h => ((h >> i) & 1L) * 2 - 1).sum
        if (vote > 0) 1L << i else 0L
      }.sum
    val rows = Seq(
      Seq(0x0F0F0F0F0FL, 0x1111111111L, 0x0FFFFFFFFFL),
      Seq(123456789L),
      Seq.empty[Long])
    val got = rows.toDF("hs").select(GraftFunctions.simhash60(col("hs"))).as[Long].collect()
    assert(got.toSeq == rows.map(reference))
  }

  test("ShingleHashes equals the SQL spelling on real documents (all variants)") {
    val shinglesSql =
      "array_distinct(transform(sequence(1, size(toks) - 2), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"
    val hashSql = "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)"
    val p = graft.ops.Dedup.MersennePrime
    val toks = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
    val both = toks.filter(size(col("toks")) >= 3).select(
      col("doc_id"),
      expr(s"transform($shinglesSql, s -> $hashSql)").as("sql_plain"),
      GraftFunctions.shingleHashes(col("toks")).as("nat_plain"),
      expr(s"transform($shinglesSql, s -> $hashSql % ${p}L)").as("sql_mod"),
      GraftFunctions.shingleHashes(col("toks"), mod = p).as("nat_mod"),
      expr(s"array_sort(transform($shinglesSql, s -> $hashSql))").as("sql_sorted"),
      GraftFunctions.shingleHashes(col("toks"), sorted = true).as("nat_sorted"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"plain @doc ${r.getLong(0)}")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4), s"mod @doc ${r.getLong(0)}")
      assert(r.getSeq[Long](5) == r.getSeq[Long](6), s"sorted @doc ${r.getLong(0)}")
    }
    // the SQL form is UNDEFINED below 3 tokens (sequence(1, n-2) runs
    // backwards into element_at(toks, 0)); the native form returns empty —
    // call sites pre-filter or coalesce, both are safe with either shape
    import spark.implicits._
    val short = Seq(Seq("a", "b"), Seq("a"), Seq.empty[String]).toDF("toks")
      .select(GraftFunctions.shingleHashes(col("toks"))).as[Seq[Long]].collect()
    assert(short.forall(_.isEmpty))
    // n = 1: distinct-token hashes (the SimHash input spelling)
    val oneGram = toks.select(
      expr(s"transform(array_distinct(toks), t -> ${hashSql.replace("(s)", "(t)")})").as("sql1"),
      GraftFunctions.shingleHashes(col("toks"), n = 1).as("nat1")).collect()
    oneGram.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), "n=1"))
    // MinHashes inputMod folds the % p pre-reduction: equal to the two-step
    val mh = toks.filter(size(col("toks")) >= 3).select(
      GraftFunctions.minhashes(
        expr(s"transform(transform($shinglesSql, s -> $hashSql), h -> h % ${p}L)"),
        graft.ops.Dedup.permCoeffs, p).as("two_step"),
      GraftFunctions.minhashes(
        GraftFunctions.shingleHashes(col("toks")),
        graft.ops.Dedup.permCoeffs, p, inputMod = p).as("fused"))
      .collect()
    mh.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("WindowHashes equals the SQL spelling on real documents") {
    val w = graft.ops.Dedup.SpanWindow
    val hashSql = "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)"
    val toks = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
    val both = toks.filter(size(col("toks")) >= w).select(
      col("doc_id"),
      expr(s"transform(sequence(1, size(toks) - ${w - 1}), i -> " +
        hashSql.replace("(s)", s"(concat_ws(' ', slice(toks, i, $w)))") + ")").as("sql"),
      GraftFunctions.windowHashes(col("toks"), w).as("nat"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}"))
    // fewer than w tokens -> empty (the SQL form is undefined there; call
    // sites pre-filter on size >= w with either shape)
    import spark.implicits._
    val short = Seq(Seq.fill(w - 1)("t"), Seq("a"), Seq.empty[String]).toDF("toks")
      .select(GraftFunctions.windowHashes(col("toks"), w)).as[Seq[Long]].collect()
    assert(short.forall(_.isEmpty))
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = toks.filter(size(col("toks")) >= w).limit(20)
        .select(col("doc_id"), GraftFunctions.windowHashes(col("toks"), w).as("nat"),
          expr(s"transform(sequence(1, size(toks) - ${w - 1}), i -> " +
            hashSql.replace("(s)", s"(concat_ws(' ', slice(toks, i, $w)))") + ")").as("sql"))
        .collect()
      interp.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2)))
    }
  }

  test("BigramCountHashes equals explode+group of the SQL bigram spelling on real documents") {
    import spark.implicits._
    val hashSql = "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)"
    // the LM family's bigram instances: one (u, bg) struct per adjacent pair
    val pairsSql = s"""transform(sequence(1, size(toks) - 1), i -> struct(
      ${hashSql.replace("(s)", "(element_at(toks, i))")} as u,
      ${hashSql.replace("md5(s)", "md5(concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")} as bg))"""
    val toks = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val expected = toks.select(col("doc_id"), explode(expr(pairsSql)).as("p"))
      .groupBy(col("doc_id"), col("p.u"), col("p.bg")).count()
      .as[(Long, Long, Long, Long)].collect().toSet
    val both = toks.select(
      col("doc_id"),
      GraftFunctions.bigramCountHashes(col("toks")).as("cnts")).collect()
    assert(both.nonEmpty)
    val got = both.flatMap { r =>
      val cnts = r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      // keys distinct (it IS a groupBy), values the exact instance counts
      assert(cnts.map(g => (g._1, g._2)).distinct.size == cnts.size,
        s"duplicate group keys @doc ${r.getLong(0)}")
      cnts.map { case (u, bg, nd) => (r.getLong(0), u, bg, nd) }
    }.toSet
    assert(got == expected, "counts")
    // first-occurrence emission order is deterministic; < 2 tokens -> empty
    val edge = Seq(Seq("a", "b", "a", "b", "c"), Seq("x"), Seq.empty[String]).toDF("toks")
      .select(GraftFunctions.bigramCountHashes(col("toks")).as("c")).collect()
    assert(edge(0).getSeq[Row](0).map(_.getLong(2)) == Seq(2L, 1L, 1L))
    assert(edge(1).getSeq[Row](0).isEmpty && edge(2).getSeq[Row](0).isEmpty)
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = toks.limit(20).select(
        expr(pairsSql).as("pairs"),
        GraftFunctions.bigramCountHashes(col("toks")).as("cnts")).collect()
      interp.foreach { r =>
        val expected = r.getSeq[Row](0).map(x => (x.getLong(0), x.getLong(1)))
          .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }.toSet
        val got = r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
        assert(got == expected)
      }
    }
  }

  test("Int8MseSum equals the SQL aggregate HOF spelling on the real embeddings") {
    import spark.implicits._
    val dequant = "(lo + round((x - lo) * 255.0 / scale) * scale / 255.0)"
    val hofSql = "aggregate(v, cast(0.0 as double), (acc, x) -> acc + " +
      s"(x - $dequant) * (x - $dequant))"
    val prepped = graft.Tables.embeddings(spark, sf())
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("lo", array_min(col("v")))
      .withColumn("scale", greatest(array_max(col("v")) - col("lo"), lit(1e-12)))
    val both = prepped.select(expr(hofSql).as("sql"),
      GraftFunctions.int8MseSum(col("v")).as("nat")).collect()
    assert(both.nonEmpty)
    // bit-exact: the native pass replicates the fold order and the HALF_UP
    // decimal-string round, so == on doubles, not a tolerance
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // edges: constant vector (scale floor), single element, empty
    val edges = Seq(Seq(3.5, 3.5, 3.5), Seq(1.25), Seq.empty[Double]).toDF("v")
      .withColumn("lo", array_min(col("v")))
      .withColumn("scale", greatest(array_max(col("v")) - col("lo"), lit(1e-12)))
      .select(expr(hofSql).as("sql"),
        GraftFunctions.int8MseSum(col("v")).as("nat")).collect()
    edges.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = prepped.limit(20).select(expr(hofSql).as("sql"),
        GraftFunctions.int8MseSum(col("v")).as("nat")).collect()
      interp.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    }
  }

  test("SortedPairs equals the SQL nested-transform spelling, emission order included") {
    import spark.implicits._
    val sqlPairs =
      "flatten(transform(sequence(2, size(ps)), i -> " +
        "transform(sequence(1, i - 1), j -> " +
        "struct(element_at(ps, j) AS p1, element_at(ps, i) AS p2))))"
    val rows = Seq(
      Array(1L, 2L, 3L, 4L),
      Array(10L, 20L),
      Array(5L, 6L, 7L),
      Array(0L, 100L, 200L, 300L, 400L))
    val both = rows.toDF("ps").filter(size(col("ps")) >= 2).select(
      expr(sqlPairs).as("sql"),
      GraftFunctions.sortedPairs(col("ps")).as("nat")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val s = r.getSeq[Row](0).map(x => (x.getLong(0), x.getLong(1)))
      val n = r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1)))
      assert(s == n)
    }
    // under 2 elements -> empty (the SQL form is only ever called behind a
    // size >= 2 filter; the native form is total)
    val short = Seq(Array(9L), Array.empty[Long]).toDF("ps")
      .select(GraftFunctions.sortedPairs(col("ps"))).collect()
    assert(short.forall(_.getSeq[Row](0).isEmpty))
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = rows.toDF("ps").filter(size(col("ps")) >= 2).select(
        expr(sqlPairs).as("sql"),
        GraftFunctions.sortedPairs(col("ps")).as("nat")).collect()
      interp.foreach { r =>
        val s = r.getSeq[Row](0).map(x => (x.getLong(0), x.getLong(1)))
        val n = r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1)))
        assert(s == n)
      }
    }
  }

  test("WhitespaceTokens(lower) equals the split/trim/regexp_replace spelling") {
    import spark.implicits._
    val sqlToks = "split(lower(trim(regexp_replace(t, '\\\\s+', ' '))), ' ')"
    // real corpus text
    val docs = graft.Tables.documents(spark, sf()).select(col("text").as("t"))
    val both = docs.select(
      expr(sqlToks).as("sql"),
      GraftFunctions.whitespaceTokens(lower(col("t"))).as("nat")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // adversarial whitespace / multibyte / empty shapes
    val edge = Seq("", "   ", "\t\n x \r\n y z ", "a", " Élan  ÜBER\tß ",
      "multi  space", "\n", "ZH 的 是\t了", "trail ", " lead").toDF("t")
    def run(): Unit = edge.select(
      expr(sqlToks).as("sql"),
      GraftFunctions.whitespaceTokens(lower(col("t"))).as("nat"))
      .collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
    run()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { run() }
  }

  test("SaltedFeatureBuckets equals the SQL unigram+bigram hash spelling") {
    val mod = 10007L
    val hashSql = "cast(conv(substr(md5(concat('dsir', f)), 1, 15), 16, 10) as bigint)"
    val sqlBuckets =
      "transform(concat(toks, CASE WHEN size(toks) >= 2 THEN " +
        "transform(sequence(1, size(toks) - 1), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) " +
        s"ELSE array() END), f -> ${hashSql.replace("(s)", "")} % ${mod}L)"
    val toks = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
    val both = toks.select(col("doc_id"),
      expr(sqlBuckets).as("sql"),
      GraftFunctions.saltedFeatureBuckets(col("toks"), "dsir", mod).as("nat"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}"))
    // edge shapes + interpreted mode
    import spark.implicits._
    val edge = Seq(Seq.empty[String], Seq("a"), Seq("", "b"), Seq("é", "ß", "x"))
      .toDF("toks")
    def run(): Seq[(Seq[Long], Seq[Long])] = edge.select(
      expr(sqlBuckets).as("sql"),
      GraftFunctions.saltedFeatureBuckets(col("toks"), "dsir", mod).as("nat"))
      .collect().toSeq.map(r => (r.getSeq[Long](0), r.getSeq[Long](1)))
    run().foreach { case (s, n) => assert(s == n) }
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      run().foreach { case (s, n) => assert(s == n) }
    }
  }

  test("UnigramViterbiPieces equals the SQL DP + backwalk spelling") {
    import spark.implicits._
    val MaxL = graft.ops.Unigram.MaxPieceLen
    val NegInf = -1000000000000L // Unigram.NegInf (private): pinned literally
    // vocab map over corpus-like pieces: every single char scores, plus
    // multi-char pieces with ties engineered to exercise the smallest-l
    // backwalk tie-break (score("ab") == score("a")+score("b"))
    val mpEntries = Seq(
      "a" -> -10L, "b" -> -10L, "c" -> -12L, "d" -> -15L, "e" -> -9L,
      "r" -> -11L, "s" -> -13L, "t" -> -8L, "x" -> -14L, "é" -> -10L,
      "ab" -> -20L, "ba" -> -25L, "est" -> -18L, "rest" -> -30L,
      "ca" -> -21L, "abc" -> -35L, "éa" -> -19L)
    val mpSql = "map(" + mpEntries.map { case (k, v) => s"'$k', ${v}L" }.mkString(", ") + ")"
    val words = Seq("a", "ab", "abc", "abca", "rest", "stress", "ébabcaé",
      "x", "dcba", "testab", "abababab", "q", "qa").toDF("w")
      .withColumn("mp", expr(mpSql))
    val sqlBest =
      s"""aggregate(
         |  sequence(1, length(w)),
         |  array(0L),
         |  (acc, j) -> concat(acc, array(
         |    array_max(transform(sequence(1, least($MaxL, j)), l ->
         |      element_at(acc, j - l + 1)
         |      + coalesce(element_at(mp, substring(w, j - l + 1, l)), ${NegInf}L))))))""".stripMargin
    val sqlCuts =
      s"""aggregate(
         |  sequence(1, length(w)),
         |  array(cast(length(w) as bigint)),
         |  (acc, z) -> CASE WHEN element_at(acc, 1) <= 0L THEN acc ELSE concat(array(
         |    element_at(acc, 1) - array_min(filter(sequence(1L, least(${MaxL}L, element_at(acc, 1))), l ->
         |      element_at(best, cast(element_at(acc, 1) - l + 1 as int))
         |      + coalesce(element_at(mp, substring(w, cast(element_at(acc, 1) - l + 1 as int), cast(l as int))), ${NegInf}L)
         |      = element_at(best, cast(element_at(acc, 1) + 1 as int))))), acc) END)""".stripMargin
    val sqlPieces =
      """transform(sequence(1, size(cuts) - 1), i ->
        |  substring(w, cast(element_at(cuts, i) + 1 as int),
        |    cast(element_at(cuts, i + 1) - element_at(cuts, i) as int)))""".stripMargin
    val both = words
      .withColumn("best", expr(sqlBest))
      .withColumn("cuts", expr(sqlCuts))
      .select(col("w"), expr(sqlPieces).as("sql"),
        GraftFunctions.unigramViterbiPieces(col("w"), col("mp"), MaxL, NegInf).as("nat"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"word '${r.getString(0)}'")
    }
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = words.select(col("w"),
        GraftFunctions.unigramViterbiPieces(col("w"), col("mp"), MaxL, NegInf).as("nat"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      both.foreach(r => assert(interp(r.getString(0)) == r.getSeq[String](1)))
    }
    // the per-thread map cache must not serve a stale map: two different
    // maps in one partition give different segmentations
    val twoMaps = Seq(
      ("abab", "map('a', -1L, 'b', -1L)"),
      ("abab", "map('a', -1L, 'b', -1L, 'ab', -1L)")).zipWithIndex
      .map { case ((w0, m), i) => (i, w0, m) }.toDF("i", "w", "msql")
    val seg = twoMaps
      .withColumn("mp", when(col("i") === 0, expr("map('a', -1L, 'b', -1L)"))
        .otherwise(expr("map('a', -1L, 'b', -1L, 'ab', -1L)")))
      .coalesce(1)
      .select(col("i"), GraftFunctions.unigramViterbiPieces(col("w"), col("mp"), MaxL, NegInf))
      .as[(Int, Seq[String])].collect().toMap
    assert(seg(0) == Seq("a", "b", "a", "b"))
    assert(seg(1) == Seq("ab", "ab"))
  }

  test("SortedSetHits counts probes found in the set (duplicates counted)") {
    import spark.implicits._
    val set = Array(2L, 5L, 9L, 100L)
    val rows = Seq(
      Array(1L, 2L, 5L, 7L, 100L, 100L), // 2, 5, 100, 100 hit -> 4
      Array(3L, 4L),                     // 0
      Array[Long](),                     // 0
      Array(9L))                         // 1
    def reference(a: Array[Long]): Long = a.count(set.contains).toLong
    val got = rows.toDF("a")
      .select(GraftFunctions.sortedSetHits(col("a"), set)).as[Long].collect()
    assert(got.toSeq == rows.map(reference))
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = rows.toDF("a")
        .select(GraftFunctions.sortedSetHits(col("a"), set)).as[Long].collect()
      assert(interp.toSeq == rows.map(reference))
    }
  }

  test("expressions survive interpreted mode (codegen disabled)") {
    import spark.implicits._
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val got = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
        .select(GraftFunctions.dot(col("a"), col("b"))).as[Double].head()
      assert(got == 11.0)
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
