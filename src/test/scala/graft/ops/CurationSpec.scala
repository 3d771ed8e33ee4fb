package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

class CurationSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf())

  test("contamination flags only non-benchmark docs and counts are bounded") {
    val c = Curation.contamination(docs, Curation.BenchmarkFilter)
    val rows = c.collect()
    assert(rows.nonEmpty, "synthetic docs share vocabulary; overlap expected")
    rows.foreach { r =>
      assert(r.getLong(0) >= 20, "benchmark docs must not flag themselves")
      assert(r.getLong(1) >= 1 && r.getLong(1) <= r.getLong(2),
        s"0 < n_shared <= n_shingles violated: $r")
    }
    // the benchmark shingle set must broadcast — corpus side never shuffles
    // into a sort-merge join
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("broadcast-bound guard: oversized suite fails fast toward the join path") {
    val limit = 4L
    val ex = intercept[IllegalArgumentException] {
      Curation.decontaminate(docs, Array(1L, 2L, 3L, 4L, 5L), Curation.BenchmarkFilter,
        Curation.DecontamMaxPct, limit)
    }
    assert(ex.getMessage.contains("contaminationFromToks"),
      s"guard must name the join-path alternative: ${ex.getMessage}")
    assert(ex.getMessage.contains("Curation.DecontamSetLimit"), ex.getMessage)
    // the streaming admission chain shares the guard at plan build
    val ex2 = intercept[IllegalArgumentException] {
      graft.streaming.CorpusIngest.admittedDocs(
        docs.withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(col("doc_id"))),
        "10 seconds", Dedup.JaccardThreshold, Array(1L, 2L, 3L, 4L, 5L),
        Curation.DecontamMaxPct, limit)
    }
    assert(ex2.getMessage.contains("contaminationFromToks"), ex2.getMessage)
    // AT the bound the broadcast gate still plans and runs
    assert(Curation.decontaminate(docs, Array(1L, 2L, 3L, 4L),
      Curation.BenchmarkFilter, Curation.DecontamMaxPct, limit).count() > 0)
  }

  test("a doc identical to a benchmark doc is fully contaminated") {
    // clone benchmark doc 0 as a fake corpus doc: every shingle overlaps
    val bench0 = docs.filter(col("doc_id") === 0)
      .select(lit(100000L).as("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val c = Curation.contamination(docs.unionByName(bench0), Curation.BenchmarkFilter)
      .filter(col("doc_id") === 100000L).collect()
    assert(c.length == 1 && c(0).getLong(1) == c(0).getLong(2),
      s"clone must share ALL its shingles: ${c.toSeq}")
  }

  test("decontaminate gate agrees with the join-form contamination counts") {
    val set = Curation.benchmarkShingleSet(docs, Curation.BenchmarkFilter)
    assert(set.nonEmpty && set.zip(set.tail).forall { case (a, b) => a < b },
      "sorted distinct set")
    val gate = Curation.decontaminate(docs, set, Curation.BenchmarkFilter)
    val joinForm = Curation.contaminationFromToks(
      docs.select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      Curation.BenchmarkFilter)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = gate.collect()
    // every non-benchmark doc appears exactly once (join form only emits hits)
    assert(rows.length == docs.filter(not(expr(Curation.BenchmarkFilter))).count())
    rows.foreach { r =>
      val (id, nShared, nShingles, kept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      joinForm.get(id) match {
        case Some((js, jt)) => assert((nShared, nShingles) == (js, jt),
          s"doc $id: gate ($nShared,$nShingles) != join form ($js,$jt)")
        case None => assert(nShared == 0L, s"doc $id: gate found hits the join missed")
      }
      assert(kept == (nShared * 100L <= nShingles * Curation.DecontamMaxPct),
        s"kept verdict inconsistent for doc $id")
    }
    // the probe is map-side: no join in the gate plan at all
    val plan = gate.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"decontaminate must not join:\n$plan")
  }

  test("chunks tile the token stream with the configured stride") {
    val chunkSize = Curation.ChunkSize
    val stride = Curation.ChunkStride
    val ch = Curation.chunks(docs, chunkSize, stride)
    val perDoc = ch.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max(col("chunk_id")).as("maxid"),
        sum(col("n_chunk_tokens")).as("tok_sum"), max(col("n_chunk_tokens")).as("maxlen"))
      .collect()
    val lens = docs.select(col("doc_id"), size(Text.tokens(col("text"))).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    perDoc.foreach { r =>
      val (id, n, maxid, maxlen) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))
      val len = lens(id)
      val expected = (len + stride - 1) / stride // starts 1, 1+stride, ... <= len
      assert(n == expected, s"doc $id: $n chunks, want $expected for $len tokens")
      assert(maxid == n - 1, "chunk ids must be dense from 0")
      assert(maxlen <= chunkSize)
    }
    // overlap accounting: total emitted tokens >= total tokens (windows cover)
    val totTok = lens.values.map(_.toLong).sum
    val emitted = perDoc.map(_.getLong(3)).sum
    assert(emitted >= totTok)
  }

  test("domainOf extracts the registrable host across URL shapes") {
    import spark.implicits._
    val cases = Seq(
      "https://www.Example.COM/path?q=1" -> "www.example.com",
      "http://sub.host.org:8080/x" -> "sub.host.org",
      "ftp://user:pw@files.net/dir" -> "files.net",
      "bare-host.io/path" -> "bare-host.io",
      "https://host.co.uk" -> "host.co.uk")
    val got = cases.map(_._1).toDF("url")
      .select(Curation.domainOf(col("url")).as("d")).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("boilerplate: segments recurring across >= minDf docs are cut, order preserved") {
    val s = spark
    import s.implicits._
    val banner = "accept all cookies to continue"
    val d = Seq(
      (1L, s"alpha sentence one. $banner. closing words here"),
      (2L, s"$banner. beta thoughts two"),
      (3L, s"gamma note three. $banner"),
      (4L, banner),
      (5L, "entirely unique text with no repeats")).toDF("doc_id", "text")
    val out = Curation.boilerplate(d, minDf = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "alpha sentence one. closing words here")))
    assert(out(2L) == ((2L, 1L, "beta thoughts two")))
    assert(out(3L) == ((2L, 1L, "gamma note three")))
    assert(out(4L) == ((1L, 1L, "")), "an all-boilerplate doc survives as empty")
    assert(out(5L) == ((1L, 0L, "entirely unique text with no repeats")))
    // partitioning-independent reassembly
    val again = Curation.boilerplate(d.repartition(5), minDf = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(again == out)
  }

  test("url fixture: messy spellings of one host collapse to one cap group") {
    val out = Curation.domainCapUrls(
      Curation.urlFixture(docs), Curation.UrlMaxPerDomain).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    val domains = out.map(_._2).toSet
    // scheme-less, userinfo+port and uppercase spellings all land on siteK.com;
    // www./cdn. prefixes are distinct hosts by design
    assert(domains.exists(_.matches("site\\d\\.com")), domains.toString)
    assert(domains.exists(_.startsWith("www.site")) && domains.exists(_.startsWith("cdn.site")))
    assert(domains.forall(d => d.matches("(www\\.|cdn\\.)?site\\d\\.(com|org)")), domains.toString)
    // the cap holds per extracted host
    out.groupBy(_._2).foreach { case (d, rs) =>
      assert(rs.length <= Curation.UrlMaxPerDomain, s"domain $d exceeds the cap")
    }
  }

  test("domain cap keeps at most K docs per domain, deterministically") {
    val k = Curation.MaxPerDomain
    val out = Curation.domainCap(docs, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    val perDomain = out.groupBy(_._2).view.mapValues(_.length).toMap
    perDomain.values.foreach(n => assert(n <= k))
    // domains with more docs than K are cut to EXACTLY K
    val counts = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.filter(_._2 >= k).keys.foreach { d =>
      assert(perDomain(d) == k, s"domain $d must be capped at $k")
    }
    // deterministic under repartitioning
    val again = Curation.domainCap(docs.repartition(7), k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
  }

  test("kAnonymity: ok / generalized / suppressed classification and negative balances") {
    import spark.implicits._
    // bucket width = 100 currency units on the shifted-cents axis.
    // nation 1 / AUTO: five customers at ~500 -> one fine group of 5 = ok.
    // nation 1 / CARS: 3 at ~210 + 2 at ~310 -> two small fine groups whose
    //   shared width-1000 parent pools 5 = generalized.
    // nation 2 / RAIL: 2 at ~-950, nothing else in the parent -> suppressed.
    val rows =
      (1 to 5).map(i => (1L, "AUTO", 500.00 + i * 0.01)) ++
        (1 to 3).map(i => (1L, "CARS", 210.00 + i * 0.01)) ++
        (1 to 2).map(i => (1L, "CARS", 310.00 + i * 0.01)) ++
        (1 to 2).map(i => (2L, "RAIL", -950.00 - i * 0.01))
    val df = rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val out = Curation.kAnonymity(df, k = 5L).collect()
      .map(r => ((r.getLong(0), r.getString(1), r.getLong(2)), (r.getLong(3), r.getString(4))))
      .toMap
    assert(out.size == 4)
    val statuses = out.toSeq.map { case ((nat, seg, _), (n, st)) => (nat, seg, n, st) }
    assert(statuses.count(_ == ((1L, "AUTO", 5L, "ok"))) == 1)
    assert(statuses.count(_ == ((1L, "CARS", 3L, "generalized"))) == 1)
    assert(statuses.count(_ == ((1L, "CARS", 2L, "generalized"))) == 1)
    assert(statuses.count(_ == ((2L, "RAIL", 2L, "suppressed"))) == 1)
    // negative balance buckets come from the SHIFTED axis (floor, not
    // truncate-toward-zero): -950.xx cents+100000 = 4949.xx -> bucket 0
    assert(out.keys.exists { case (nat, _, b) => nat == 2L && b == 0L })
    // group sizes add back to the input row count — nothing lost or doubled
    assert(out.values.map(_._1).sum == rows.size)
  }

  test("kAnonymity: every input row classified; counts reconcile on real customers") {
    val cust = graft.Tables.customer(spark, sf())
    val out = Curation.kAnonymity(cust, Curation.KAnonymityK)
    assert(out.agg(sum("n")).head.getLong(0) == cust.count())
    // no fine group may be both >= k and not 'ok'
    assert(out.filter(col("n") >= Curation.KAnonymityK &&
      col("status") =!= "ok").count() == 0)
  }

  test("lDiversity: a large-but-homogeneous class leaks; a mixed class is diverse") {
    import spark.implicits._
    // class A: 6 customers, every order URGENT -> k-anonymous (n=6) yet
    // homogeneous — the exact leak l-diversity exists to catch.
    // class B: 3 customers whose orders span 3 priorities -> diverse.
    val customers = ((1 to 6).map(i => (i.toLong, 1L, "AUTO", 500.01)) ++
      (7 to 9).map(i => (i.toLong, 2L, "RAIL", 500.01)))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    val orders = ((1 to 6).map(i => (i.toLong, "1-URGENT")) ++
      Seq((7L, "1-URGENT"), (7L, "2-HIGH"), (8L, "3-MEDIUM"), (9L, "1-URGENT")))
      .toDF("o_custkey", "o_orderpriority")
    val out = Curation.lDiversity(customers, orders, l = 3L).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(out((1L, "AUTO")) == ((6L, 1L, "homogeneous")),
      "six rows, one sensitive value: k-anonymity passes, l-diversity must not")
    assert(out((2L, "RAIL")) == ((4L, 3L, "diverse")))
  }

  test("anonymize: output is k-anonymous BY CONSTRUCTION; row count preserved") {
    val cust = graft.Tables.customer(spark, sf())
    val out = Curation.anonymize(cust, Curation.KAnonymityK).pinned(false)
    assert(out.count() == cust.count(), "suppression withholds columns, not people")
    // every PUBLISHED (non-suppressed) QI group in the release must reach k
    val published = out.filter(col("resolution") =!= "suppressed")
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("resolution"), col("release_bucket"))
      .agg(count(lit(1)).as("n"))
    assert(published.filter(col("n") < Curation.KAnonymityK).count() == 0,
      "a published group below k would re-identify — the audit exists to prevent exactly this")
    // suppressed rows carry no balance information at all
    assert(out.filter(col("resolution") === "suppressed" &&
      col("release_bucket").isNotNull).count() == 0)
  }

  test("anonymize: a lone small group sharing its parent with an ok group is SUPPRESSED, not coarse") {
    import spark.implicits._
    // Parent bucket pools 5 (ok, publishes fine) + 1 (small). The audit's
    // parent count (6 >= k) would call the small group 'generalized' — but
    // in the RELEASE the ok rows publish fine, so the coarse class would
    // hold exactly 1 row: re-identification. anonymize must count only the
    // actually-coarse pool (1 < k) and suppress.
    val rows = (1 to 5).map(i => (i.toLong, 1L, "AUTO", 500.00 + i * 0.01)) :+
      ((6L, 1L, "AUTO", 610.01)) // same width-1000 parent, different fine bucket
    val out = Curation.anonymize(
      rows.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"), 5L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert((1 to 5).forall(i => out(i.toLong) == "fine"))
    assert(out(6L) == "suppressed",
      "publishing row 6 coarse would make a singleton equivalence class")
  }

  test("tCloseness: a diverse-but-skewed class is caught; a corpus-shaped class is within") {
    import spark.implicits._
    // Global distribution is dominated by class A (100 orders, 50/50 over
    // two priorities). Class B (10 orders, 50/50) mirrors it -> within at
    // t=1/4. Class C (10 orders, ALL URGENT) is l-diverse-looking data's
    // blind spot made distributional: EMD from the corpus ~0.45 > 1/4 ->
    // skewed, even though k-anonymity passes on size.
    val customers = (Seq((1L, 1L, "AUTO", 500.01)) ++ Seq((2L, 2L, "RAIL", 500.01)) ++
      Seq((3L, 3L, "SHIP", 500.01)))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    val orders = ((1 to 50).map(_ => (1L, "1-URGENT")) ++
      (1 to 50).map(_ => (1L, "2-HIGH")) ++
      Seq.fill(5)((2L, "1-URGENT")) ++ Seq.fill(5)((2L, "2-HIGH")) ++
      Seq.fill(10)((3L, "1-URGENT")))
      .toDF("o_custkey", "o_orderpriority")
    // global: URGENT 65 / HIGH 55, N=120, m=2; cumg = (65, 120)
    val out = Curation.tCloseness(customers, orders, 1L, 4L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    // class 1 (50/50): emd = |120*50 - 100*65| = 500; 4*500 <= 100*120 -> within
    assert(out(1L) == ((100L, 500L, "within")), s"dominant class shapes the corpus: $out")
    // class 2 (5/5): emd = |120*5 - 10*65| = 50; 4*50 <= 10*120 -> within
    assert(out(2L) == ((10L, 50L, "within")))
    // class 3 (all URGENT): emd = |120*10 - 10*65| = 550 -> EMD 0.458 > 1/4;
    // 4*550 = 2200 > 10*120 = 1200 -> skewed despite k-anonymous size
    assert(out(3L) == ((10L, 550L, "skewed")))
  }

  test("tCloseness: invariants on real data — EMD 0 iff corpus-shaped, bound respected") {
    val out = Curation.tCloseness(graft.Tables.customer(spark, sf()),
      graft.Tables.orders(spark, sf()), Curation.TClosenessNumer, Curation.TClosenessDenom)
      .pinned(false)
    assert(out.count() > 0)
    assert(out.filter(col("emd_scaled") < 0).count() == 0, "scaled EMD is a sum of |.| terms")
    // within-status classes must satisfy the cross-multiplied bound exactly
    val m = graft.Tables.orders(spark, sf()).select("o_orderpriority").distinct().count()
    val n = graft.Tables.orders(spark, sf()).join(
      graft.Tables.customer(spark, sf()),
      col("o_custkey") === col("c_custkey")).count()
    assert(out.filter(col("status") === "within" &&
      lit(Curation.TClosenessDenom) * col("emd_scaled") >
        lit(Curation.TClosenessNumer) * col("n_c") * lit(n) * lit(m - 1)).count() == 0)
  }

  test("lDiversity: no class may be both >= l distinct and homogeneous on real data") {
    val out = Curation.lDiversity(graft.Tables.customer(spark, sf()),
      graft.Tables.orders(spark, sf()), Curation.LDiversityL)
    assert(out.filter(col("n_sensitive") >= Curation.LDiversityL &&
      col("status") =!= "diverse").count() == 0)
    assert(out.filter(col("n_sensitive") > col("n_rows")).count() == 0,
      "distinct sensitive values can never exceed the class's row count")
    assert(out.count() > 0)
  }
}
