package graft.ops

import graft.Tables
import graft.functions.Determinism
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** Corpus-curation operators that sit between cleaning and training:
  *
  *   - benchmark contamination detection: flag training documents sharing
  *     word-3-gram shingles with an evaluation set, so eval data can be
  *     excised from the training corpus. The shape that scales: eval sets
  *     are small by nature, so their (distinct) shingle hashes BROADCAST;
  *     the corpus side is a map-only shingle explode into a broadcast
  *     semi-join + partial-agg count — no corpus shuffle, no pair blow-up.
  *     At 100 TB the corpus scan dominates and nothing else grows.
  *   - context chunking: split each document's token stream into fixed-size
  *     overlapping windows (size/stride), the standard pre-tokenization
  *     step for long documents. Pure map-only explode — chunk boundaries
  *     are a function of the row alone.
  *
  * The reference has no curation layer (nearest shape: UDTF flat-map,
  * core/Table.java:369-408); these extend the SURVEY §6 pipeline inventory.
  * Shingle/token definitions are shared verbatim with `Dedup`/`Text` so a
  * contamination pass and a dedup pass see the same document features.
  */
object Curation {

  /** (doc_id, sh) pairs: one row per distinct 3-gram shingle hash of docs
    * with at least one shingle.
    */
  private def shingleHashesFromToks(t: DataFrame): DataFrame =
    t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.shingleHashes(col("toks"))).as("sh"))

  /** Distinct 3-gram shingle hashes of a `toks` array column as an ARRAY
    * column (empty when the doc has fewer than 3 tokens) — the per-row form
    * of [[shingleHashesFromToks]] for set-probe consumers
    * ([[decontaminate]], the streaming admission gate), where the benchmark
    * side is a broadcast sorted array instead of a join side.
    */
  private[graft] def shingleHashArr: org.apache.spark.sql.Column =
    coalesce(graft.functions.GraftFunctions.shingleHashes(col("toks")),
      expr("cast(array() as array<bigint>)"))

  /** The benchmark suite's distinct shingle hashes, collected and sorted for
    * [[graft.functions.SortedSetHits]] probes. Driver-side collect is BY
    * CONTRACT: eval suites are dimension-table-sized (the reference's
    * DimensionTable snapshot convention — sp/dimension/DimensionTable.java),
    * ~10⁶-10⁷ shingles ≈ 8-80 MB, broadcast once per executor; the
    * 100 TB TRAINING corpus never collects.
    */
  def benchmarkShingleSet(docs: DataFrame, benchmarkFilter: String): Array[Long] =
    shingleHashesFromToks(
      docs.filter(expr(benchmarkFilter))
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")))
      .select(col("sh")).distinct()
      .collect().map(_.getLong(0)).sorted

  /** Broadcast-bound ceiling (entries) for the per-row decontamination
    * gate's benchmark set. The dimension-table contract is 10⁶-10⁷ shingles
    * (8-80 MB, [[benchmarkShingleSet]] scaladoc); the default leaves 2×
    * headroom past the ceiling. Beyond it the set stops being a
    * task-binary-sized model parameter: switch to
    * [[contaminationFromToks]]'s JOIN path, where the benchmark side is an
    * ordinary (broadcast-or-shuffle, Catalyst's pick) join input.
    */
  val DecontamSetLimit = 20000000L

  /** Fail-fast guard (same class as Dedup.guardAllPairs): a suite past the
    * broadcast bound would ride every task binary as a ~8·n-byte array and
    * degrade or OOM executors rather than fail cleanly.
    */
  private[graft] def requireBroadcastableSuite(entries: Long, op: String, limit: Long): Unit =
    require(entries <= limit,
      s"$op probes a broadcast benchmark set of $entries shingle hashes " +
        s"(~${entries * 8L >> 20} MB riding every task binary), past the " +
        s"$limit-entry broadcast bound (Curation.DecontamSetLimit). Use " +
        "Curation.contaminationFromToks' join path — the benchmark side " +
        "becomes an ordinary join input.")

  /** Decontamination as a PER-ROW gate (no benchmark join): every training
    * doc's shingle array probes the broadcast benchmark set via binary
    * search, and the doc is kept while shared shingles stay at or under
    * `maxPct` percent of its own. The map-only form composes into any
    * pipeline — in particular the STREAMING admission chain, where a join
    * against an exploded benchmark would add a stateful operator but a
    * per-row filter preserves the chain's safety proof untouched.
    * Returns (doc_id, n_shared, n_shingles, kept) for every non-benchmark
    * doc; docs too short to shingle (< 3 tokens) are unassessable and kept.
    * Suites past [[DecontamSetLimit]] fail fast toward the join path.
    */
  def decontaminate(
      docs: DataFrame,
      benchSet: Array[Long],
      benchmarkFilter: String,
      maxPct: Long = DecontamMaxPct): DataFrame =
    decontaminate(docs, benchSet, benchmarkFilter, maxPct, DecontamSetLimit)

  /** [[decontaminate]] with the broadcast bound chosen by the caller; the
    * specs trip the guard with a tiny set.
    */
  private[graft] def decontaminate(
      docs: DataFrame,
      benchSet: Array[Long],
      benchmarkFilter: String,
      maxPct: Long,
      setLimit: Long): DataFrame = {
    requireBroadcastableSuite(benchSet.length.toLong, "Curation.decontaminate", setLimit)
    docs.filter(not(expr(benchmarkFilter)))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingleHashArr.as("shs"))
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.sortedSetHits(col("shs"), benchSet).as("n_shared"),
        size(col("shs")).cast("long").as("n_shingles"))
      .withColumn("kept", col("n_shared") * lit(100L) <= col("n_shingles") * lit(maxPct))
  }

  /** Training docs sharing >= 1 shingle with the benchmark set, with the
    * count of distinct shared shingles and the doc's own shingle count (so
    * callers can threshold on overlap fraction). `benchmarkFilter` is a SQL
    * predicate selecting the benchmark docs out of `docs`.
    *
    * Plan shape: ONE corpus scan — the exploded shingles LEFT-join the
    * broadcast benchmark set with a hit marker, and a single partial+final
    * aggregate counts rows (n_shingles) and hits (n_shared) together.
    * Spellings that carry `size(shs)` next to `explode(shs)` re-inline the
    * md5-shingle array per exploded row (quadratic per doc — measured 25×
    * slower at sf0.1), and a count-then-join-back costs a second corpus pass.
    */
  def contamination(docs: DataFrame, benchmarkFilter: String): DataFrame =
    contaminationFromToks(
      docs.select(col("doc_id"), Text.tokens(col("text")).as("toks")), benchmarkFilter)

  /** `contamination` over a pre-tokenized projection (doc_id, toks), so a
    * pipeline holding one tokenized corpus scan feeds this branch for free.
    */
  def contaminationFromToks(t: DataFrame, benchmarkFilter: String): DataFrame = {
    val sh = shingleHashesFromToks(t)
    val bench = sh.filter(expr(benchmarkFilter))
      .select(col("sh")).distinct().withColumn("hit", lit(1))
    sh.filter(not(expr(benchmarkFilter)))
      .join(broadcast(bench), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_shared"), count(lit(1)).as("n_shingles"))
      .filter(col("n_shared") >= 1)
      .select(col("doc_id"), col("n_shared"), col("n_shingles"))
  }

  /** Fixed-size overlapping token windows: starts 1, 1+stride, 1+2*stride, …
    * while <= token count; the tail chunk may be shorter than `size`. Emits
    * (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    */
  def chunks(docs: DataFrame, size: Int, stride: Int): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(org.apache.spark.sql.functions.size(col("toks")) >= 1)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), org.apache.spark.sql.functions.size(col("toks")), lit(stride)))
          .as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_id"),
        slice(col("toks"), col("start"), lit(size)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))

  /** C4-style boilerplate removal at the SEGMENT level: sentences (period-
    * delimited segments of the normalized text) that recur across at least
    * `minDf` distinct documents are boilerplate — cookie banners, nav bars,
    * license footers — and are cut from every document, which doc-level
    * dedup cannot do (each host page is unique; only its chrome repeats).
    * Returns (doc_id, n_segs, n_dropped, clean_text) with the surviving
    * segments rejoined in original order.
    *
    * Plan shape at 100 TB: one map-only segment explode (hash per segment),
    * document frequency = a distinct + count aggregate over (doc, hash) —
    * the shuffle carries 8-byte hashes, never sentence text beyond the
    * final per-doc regroup — and the hot-segment set joins back by hash.
    * Reassembly is one per-doc aggregate whose collect_list is
    * order-insensitive (array_sort on (idx, seg) restores document order),
    * so the result is partitioning-independent. The segment projection is
    * checkpoint-pinned: its two consumers (the df aggregate and the
    * regroup) would otherwise each re-scan and re-segment the raw text —
    * the same shared-scan idiom as the pipelines' tokenized projection.
    */
  /** The un-checkpointed (doc_id, idx, seg, h) segment projection feeding
    * `boilerplate` — separated so the spec can assert the raw text is
    * scanned exactly once.
    */
  private[ops] def segments(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(Text.normalized(col("text")), "\\.").as("parts"))
      .select(col("doc_id"),
        posexplode(expr("filter(transform(parts, s -> trim(s)), s -> s != '')"))
          .as(Seq("idx", "seg")))
      .withColumn("h", expr(Determinism.md5LongSql("seg")))

  def boilerplate(docs: DataFrame, minDf: Long = BoilerplateMinDf): DataFrame = {
    val segs = segments(docs).pinned(false)
    val hot = segs.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"), lit(1).as("hot"))
    segs.join(hot, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        count(col("hot")).as("n_dropped"),
        concat_ws(". ", expr(
          "transform(array_sort(collect_list(CASE WHEN hot IS NULL THEN struct(idx, seg) END)), x -> x.seg)"))
          .as("clean_text"))
  }

  /** Registrable host of a URL — the grouping key for domain-level curation.
    * regexp (not a UDF): strips scheme, userinfo, port, path; lowercases.
    * Spec-tested on literal URLs (the shared testdata has no URL column —
    * the documents table's `source` is the domain analog the oracle uses).
    */
  def domainOf(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lower(regexp_extract(url, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)", 1))

  /** Per-domain frequency cap — the web-corpus curation rule "keep at most
    * `maxPerDomain` documents from any one domain" (over-represented hosts
    * would otherwise dominate training). Deterministic like the samplers:
    * the kept subset is the `maxPerDomain` smallest md5-rank docs per
    * domain, invariant to partitioning and row order. One rank window per
    * domain — the per-domain sort is the price of an exact cap, same trade
    * as `Corpus.mixSources` (and hot domains are exactly the rows being
    * cut, so the window input per domain is bounded by what survives at
    * most once the cap's upstream coarse filter runs at scale).
    */
  def domainCap(
      docs: DataFrame,
      maxPerDomain: Long,
      domainCol: String = "source"): DataFrame =
    docs
      .select(col("doc_id"), col(domainCol),
        expr(Determinism.md5LongSql("cast(doc_id as string)")).as("h"))
      .withColumn("rnk", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(domainCol)).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .filter(col("rnk") <= maxPerDomain)
      .select(col("doc_id"), col(domainCol), col("rnk"))

  /** The URL-shape SQL shared by the fixture and its DuckDB oracle: five
    * messy real-world spellings — canonical with www + query, scheme-less,
    * userinfo + explicit port, uppercase scheme and host, subdomain on a
    * different TLD — keyed off doc_id so the fixture is deterministic and
    * derivable by BOTH engines from the shared documents table (which has
    * no URL column of its own; round-7 verdict ask #7).
    */
  private def urlCaseSql(concat2: (String, String, String) => String): String =
    s"""CASE doc_id % 5
       | WHEN 0 THEN ${concat2("'https://www.site'", "doc_id % 7", "'.com/a/b?x=1'")}
       | WHEN 1 THEN ${concat2("'site'", "doc_id % 7", "'.com/path'")}
       | WHEN 2 THEN ${concat2("'http://user:pw@site'", "doc_id % 7", "'.com:8080/x'")}
       | WHEN 3 THEN ${concat2("'HTTPS://SITE'", "doc_id % 7", "'.COM/caps#frag'")}
       | ELSE ${concat2("'ftp://cdn.site'", "doc_id % 7", "'.org:21/file'")}
       |END""".stripMargin

  /** (doc_id, url): the messy-URL fixture built in-plan from doc ids. */
  def urlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr(urlCaseSql((a, b, c) => s"concat($a, $b, $c)")).as("url"))

  /** Host extraction composed with the per-domain cap on the messy-URL
    * fixture — the curation pass on its real input shape: extract the
    * registrable host from each URL (scheme/userinfo/port/path stripped,
    * lowercased), then keep at most `maxPerDomain` md5-rank docs per host.
    * Returns (doc_id, domain, rnk); oracle-checked (`q_domain_url` —
    * DuckDB replays the same RE2-compatible regex).
    */
  def domainCapUrls(urls: DataFrame, maxPerDomain: Long): DataFrame =
    domainCap(urls.withColumn("domain", domainOf(col("url"))),
      maxPerDomain, domainCol = "domain")

  /** K-anonymity audit with one generalization step: group rows by their
    * quasi-identifier tuple (nation, market segment, account-balance bucket
    * of width 100 currency units) and classify each group —
    * `ok` if its size reaches `k`, else `generalized` if widening the
    * balance bucket 10× (width 1000) pools enough peers, else `suppressed`
    * (rows only publishable with the QI withheld). The release-gating
    * primitive for PII-bearing training data: a group below k re-identifies
    * its members by QI alone (Sweeney's k-anonymity; the [[q_dq_checks]]
    * family's privacy sibling).
    *
    * Determinism: balance in integer cents shifted by +100000 so every
    * bucket division has a non-negative dividend — truncating and flooring
    * division agree, and no engine-specific negative-division rule is in
    * play.
    *
    * Scale shape: aggregate-then-aggregate-then-join — the fine groupBy
    * collapses map-side; the parent table re-aggregates the FINE table (a
    * value-domain-bounded ~nations·segments·buckets rows, never the fact)
    * and broadcasts back onto it. One fact shuffle total, and the second
    * aggregate + join touch only domain-sized data at any corpus scale.
    */
  def kAnonymity(customers: DataFrame, k: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // cents + 100000 >= 1 for TPC-H balances (>= -999.99)
    val shifted = "cast(round(c_acctbal * 100) as bigint) + 100000"
    val fine = customers
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr(s"($shifted) div 10000").as("bal_b"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_b"))
      .agg(count(lit(1)).as("n"))
    val parent = fine
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        expr("bal_b div 10").as("bal_p"))
      .agg(sum(col("n")).as("pn"))
    fine
      .withColumn("bal_p", expr("bal_b div 10"))
      .join(broadcast(parent), Seq("c_nationkey", "c_mktsegment", "bal_p"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_b"), col("n"),
        when(col("n") >= k, lit("ok"))
          .when(col("pn") >= k, lit("generalized"))
          .otherwise(lit("suppressed")).as("status"))
  }

  /** Distinct l-diversity audit (Machanavajjhala et al., "l-Diversity:
    * Privacy Beyond k-Anonymity", ICDE 2006) — k-anonymity's necessary
    * companion: a group can be large (k-anonymous) yet still leak if every
    * member shares the SAME sensitive value, so an attacker who knows a
    * target's quasi-identifiers learns the sensitive attribute without
    * re-identifying the row. Audits each QI class (same nation / market
    * segment / balance-bucket tuple as [[kAnonymity]], same +100000-shift
    * determinism) against the sensitive attribute — here the member's
    * order priorities — and classifies: `diverse` when the class carries
    * >= l distinct sensitive values, else `homogeneous` (publishable only
    * with the sensitive column withheld or the class suppressed). Distinct
    * l-diversity (not entropy-) keeps the audit in exact integers, so the
    * oracle cannot wobble.
    *
    * Scale shape: one fact join on the entity key (customer->orders,
    * shuffled hash join on c_custkey at scale) feeding one partial+final
    * aggregate; `count_distinct` of a 5-value attribute collapses map-side.
    * Output is QI-domain-bounded (~nations x segments x buckets), never
    * fact-sized.
    */
  def lDiversity(customers: DataFrame, orders: DataFrame, l: Long): DataFrame = {
    require(l > 0, s"l must be positive, got $l")
    val shifted = "cast(round(c_acctbal * 100) as bigint) + 100000"
    customers
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr(s"($shifted) div 10000").as("bal_b"))
      .join(orders.select(col("o_custkey"), col("o_orderpriority")),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_b"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("o_orderpriority")).as("n_sensitive"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_b"),
        col("n_rows"), col("n_sensitive"),
        when(col("n_sensitive") >= l, lit("diverse"))
          .otherwise(lit("homogeneous")).as("status"))
  }

  /** APPLY the anonymization — emit the release-ready table rather than
    * [[kAnonymity]]'s per-class report: every customer row comes back with
    * its balance at the widest resolution that keeps the RELEASE
    * k-anonymous — fine groups of size >= k keep the fine bucket; smaller
    * groups pool at the 10× parent bucket, but only the rows ACTUALLY
    * published coarse count toward that pool (the parent's `ok` residents
    * publish fine and are a DIFFERENT equivalence class in the release —
    * counting them, as a naive read of the audit's `generalized` status
    * would, can leave a coarse subgroup of 1 publishable row: a
    * re-identification); pools still below k publish NO balance at all.
    * Output is k-anonymous BY CONSTRUCTION (spec-asserted on the release
    * itself). `release_bucket` carries the published value, `resolution`
    * the rung. Row count is always the input's: suppression withholds
    * columns, not people (drop `resolution = 'suppressed'` rows for the
    * stricter variant).
    *
    * Scale shape: both decision tables are QI-domain-bounded aggregates of
    * the fine group table, BROADCAST back onto the fact — applying
    * anonymization costs one map-side join, nothing more.
    */
  def anonymize(customers: DataFrame, k: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val shifted = "cast(round(c_acctbal * 100) as bigint) + 100000"
    val qi = customers
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr(s"($shifted) div 10000").as("bal_b"))
    val fine = qi.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_b"))
      .agg(count(lit(1)).as("n"))
    // pool of rows the parent bucket would ACTUALLY publish coarse
    val coarsePool = fine.filter(col("n") < k)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        expr("bal_b div 10").as("bal_p"))
      .agg(sum(col("n")).as("pool"))
    val decided = fine
      .withColumn("bal_p", expr("bal_b div 10"))
      .join(coarsePool, Seq("c_nationkey", "c_mktsegment", "bal_p"), "left")
      .select(col("c_nationkey").as("a_nat"), col("c_mktsegment").as("a_seg"),
        col("bal_b").as("a_bal"),
        when(col("n") >= k, lit("fine"))
          .when(col("pool") >= k, lit("coarse"))
          .otherwise(lit("suppressed")).as("resolution"))
    qi.join(broadcast(decided),
        col("c_nationkey") === col("a_nat") && col("c_mktsegment") === col("a_seg") &&
          col("a_bal") === col("bal_b"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        when(col("resolution") === "fine", col("bal_b"))
          .when(col("resolution") === "coarse", expr("bal_b div 10"))
          .otherwise(lit(null).cast("long")).as("release_bucket"),
        col("resolution"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, "t-Closeness: Privacy
    * Beyond k-Anonymity and l-Diversity", ICDE 2007) — the third rung of
    * the release-gate ladder: a class can be diverse yet still leak when
    * its sensitive-value DISTRIBUTION deviates from the corpus's (e.g. 90%
    * URGENT in a class vs 20% overall reveals a strong posterior). Audits
    * each QI class's priority distribution against the global one with the
    * ordered-attribute Earth Mover's Distance — for a 1-D ordered domain,
    * EMD = (1/(m−1)) · Σᵢ |cdf_class(i) − cdf_global(i)| — and classifies
    * `within` when EMD <= t, else `skewed`.
    *
    * Exactness: the comparison is cross-multiplied into pure BIGINT —
    * `tDenom · Σ|N·cumcᵢ − n_c·cumgᵢ| <= tNumer · n_c · N · (m−1)` —
    * so no engine's floating summation order can flip a verdict.
    * Magnitude bound: the largest intermediate is tDenom·N·n_c·(m−1)
    * (N = total fact rows, n_c = class fact rows); with tDenom=4, m=5 that
    * stays inside Long while N·n_c < 5.7e17 — any plausible deployment
    * (1e11 orders with classes up to 5e6 member-rows); past that, coarsen
    * units first (the q_promo_share rule).
    *
    * Scale shape: the (class, priority) count table is pinned once
    * (multi-consumer rule) and everything else is domain-sized: the global
    * distribution is m rows broadcast back, the cumulative windows run
    * over the class×m grid (value-domain-window policy — the partition is
    * m rows), and the final aggregate is class-domain-bounded. One fact
    * join + one fact aggregate total.
    */
  def tCloseness(
      customers: DataFrame, orders: DataFrame,
      tNumer: Long, tDenom: Long): DataFrame = {
    require(tNumer >= 0 && tDenom > 0, s"t must be a non-negative fraction, got $tNumer/$tDenom")
    val qiCols = Seq("c_nationkey", "c_mktsegment", "bal_b")
    val shifted = "cast(round(c_acctbal * 100) as bigint) + 100000"
    val j = customers
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr(s"($shifted) div 10000").as("bal_b"))
      .join(orders.select(col("o_custkey").as("c_custkey"), col("o_orderpriority").as("p")),
        Seq("c_custkey"))
    val cc = j.groupBy(qiCols.map(col) :+ col("p"): _*)
      .agg(count(lit(1)).as("n"))
      .pinned(false) // feeds class totals, global dist, and the grid
    val cls = cc.groupBy(qiCols.map(col): _*).agg(sum(col("n")).as("n_c"))
    val gw = cc.groupBy(col("p")).agg(sum(col("n")).as("ng"))
      // Global window bound: priority (m = distinct o_orderpriority values).
      .withColumn("cumg", sum(col("ng")).over(Window.orderBy(col("p"))))
    val tot = gw.agg(sum(col("ng")).as("gtot"), count(lit(1)).as("mdom")) // 1 row
    val grid = cls.crossJoin(broadcast(gw.select(col("p"), col("cumg"))))
      .join(cc, qiCols :+ "p", "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("cumc",
        sum(col("n")).over(Window.partitionBy(qiCols.map(col): _*).orderBy(col("p"))))
    grid.crossJoin(broadcast(tot))
      .groupBy(qiCols.map(col) :+ col("n_c") :+ col("gtot") :+ col("mdom"): _*)
      .agg(sum(abs(col("gtot") * col("cumc") - col("n_c") * col("cumg"))).as("emd_scaled"))
      .select(qiCols.map(col) :+ col("n_c") :+ col("emd_scaled") :+
        when(lit(tDenom) * col("emd_scaled") <=
          lit(tNumer) * col("n_c") * col("gtot") * (col("mdom") - 1), lit("within"))
          .otherwise(lit("skewed")).as("status"): _*)
  }

  // Demo parameters: benchmark = first 20 docs; 32-token chunks, stride 24;
  // domain cap below the per-source doc count so the cap provably bites.
  val BenchmarkFilter = "doc_id < 20"
  // keep a training doc while shared shingles are <= 10% of its own — the
  // strict n_shared == 0 rule is the maxPct = 0 setting of the same gate.
  val DecontamMaxPct = 10L
  val ChunkSize = 32
  val ChunkStride = 24
  val MaxPerDomain = 15L
  val UrlMaxPerDomain = 10L
  val BoilerplateMinDf = 3L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_boilerplate" -> ((s, d) =>
      boilerplate(Tables.documents(s, d), BoilerplateMinDf)),
    "q_contamination" -> ((s, d) =>
      contamination(Tables.documents(s, d), BenchmarkFilter)),
    "q_decontam_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      decontaminate(docs, benchmarkShingleSet(docs, BenchmarkFilter), BenchmarkFilter)
    }),
    "q_text_chunks" -> ((s, d) =>
      chunks(Tables.documents(s, d), ChunkSize, ChunkStride)),
    "q_domain_cap" -> ((s, d) =>
      domainCap(Tables.documents(s, d), MaxPerDomain)),
    "q_domain_url" -> ((s, d) =>
      domainCapUrls(urlFixture(Tables.documents(s, d)), UrlMaxPerDomain)),
    "q_k_anonymity" -> ((s, d) =>
      kAnonymity(Tables.customer(s, d), KAnonymityK)),
    "q_l_diversity" -> ((s, d) =>
      lDiversity(Tables.customer(s, d), Tables.orders(s, d), LDiversityL)),
    "q_t_closeness" -> ((s, d) =>
      tCloseness(Tables.customer(s, d), Tables.orders(s, d), TClosenessNumer, TClosenessDenom)),
    "q_anonymize" -> ((s, d) =>
      anonymize(Tables.customer(s, d), KAnonymityK)))

  val KAnonymityK = 5L
  val LDiversityL = 3L
  // t = 1/4: classes whose priority distribution sits more than 0.25 EMD
  // from the corpus's are skewed
  val TClosenessNumer = 1L
  val TClosenessDenom = 4L

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val duckToks = s"string_split($normSql, ' ')"
  private def duckHash(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
  private val duckShingles =
    "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])"

  val oracleSql: Map[String, String] = Map(
    "q_text_boilerplate" ->
      s"""WITH f AS (SELECT doc_id,
         |             list_filter([trim(s) for s in string_split($normSql, '.')],
         |                         s -> s != '') AS fs
         |           FROM documents),
         |segs AS (SELECT doc_id, p.idx AS idx, p.seg AS seg,
         |           ${duckHash("p.seg")} AS h
         |         FROM (SELECT doc_id,
         |                 unnest([{'idx': i, 'seg': fs[i]} for i in range(1, len(fs) + 1)]) AS p
         |               FROM f)),
         |hot AS (SELECT h FROM (SELECT h, count(*) AS df
         |                       FROM (SELECT DISTINCT doc_id, h FROM segs) GROUP BY 1)
         |        WHERE df >= $BoilerplateMinDf)
         |SELECT s.doc_id, count(*) AS n_segs,
         |  CAST(count(hot.h) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN hot.h IS NULL THEN s.seg END, '. ' ORDER BY s.idx), '')
         |    AS clean_text
         |FROM segs s LEFT JOIN hot ON s.h = hot.h
         |GROUP BY 1""".stripMargin,

    "q_contamination" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest([${duckHash("s")} for s in $duckShingles]) AS sh
         |       FROM t WHERE len(toks) >= 3),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE $BenchmarkFilter),
         |hits AS (SELECT doc_id, count(*) AS n_shared
         |         FROM sh JOIN bench USING (sh)
         |         WHERE NOT ($BenchmarkFilter) GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
         |SELECT doc_id, n_shared, n_shingles FROM hits JOIN tot USING (doc_id)""".stripMargin,

    "q_decontam_gate" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest([${duckHash("s")} for s in $duckShingles]) AS sh
         |       FROM t WHERE len(toks) >= 3),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE $BenchmarkFilter),
         |cnt AS (SELECT doc_id,
         |          CAST(coalesce(sum(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS BIGINT)
         |            AS n_shared,
         |          CAST(count(s.sh) AS BIGINT) AS n_shingles
         |        FROM t LEFT JOIN sh s USING (doc_id) LEFT JOIN bench b ON s.sh = b.sh
         |        WHERE NOT ($BenchmarkFilter)
         |        GROUP BY 1)
         |SELECT doc_id, n_shared, n_shingles,
         |       n_shared * 100 <= n_shingles * $DecontamMaxPct AS kept
         |FROM cnt""".stripMargin,

    "q_text_chunks" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE len($duckToks) >= 1),
         |st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $ChunkStride)) AS start
         |       FROM t),
         |c AS (SELECT doc_id,
         |        CAST((start - 1) / $ChunkStride AS BIGINT) AS chunk_id,
         |        list_slice(toks, start, start + $ChunkSize - 1) AS chunk
         |      FROM st)
         |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
         |       array_to_string(chunk, ' ') AS chunk_text
         |FROM c""".stripMargin,

    "q_domain_url" ->
      s"""WITH u AS (SELECT doc_id,
         |             ${urlCaseSql((a, b, c) => s"$a || ($b) || $c")} AS url
         |           FROM documents),
         |d AS (SELECT doc_id,
         |        lower(regexp_extract(url,
         |          '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS domain
         |      FROM u),
         |r AS (SELECT doc_id, domain,
         |        row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rnk
         |      FROM (SELECT doc_id, domain,
         |              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |            FROM d))
         |SELECT doc_id, domain, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $UrlMaxPerDomain""".stripMargin,

    "q_domain_cap" ->
      s"""WITH r AS (SELECT doc_id, source,
         |             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
         |           FROM (SELECT doc_id, source,
         |                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |                 FROM documents))
         |SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $MaxPerDomain""".stripMargin,

    "q_k_anonymity" ->
      s"""WITH c AS (SELECT c_nationkey, c_mktsegment,
         |             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS bal_b
         |           FROM customer),
         |f AS (SELECT c_nationkey, c_mktsegment, bal_b, count(*) AS n
         |      FROM c GROUP BY 1, 2, 3),
         |p AS (SELECT c_nationkey, c_mktsegment, bal_b // 10 AS bal_p, sum(n) AS pn
         |      FROM f GROUP BY 1, 2, 3)
         |SELECT f.c_nationkey, f.c_mktsegment, f.bal_b, f.n,
         |  CASE WHEN f.n >= $KAnonymityK THEN 'ok'
         |       WHEN p.pn >= $KAnonymityK THEN 'generalized'
         |       ELSE 'suppressed' END AS status
         |FROM f JOIN p ON f.c_nationkey = p.c_nationkey
         |  AND f.c_mktsegment = p.c_mktsegment AND f.bal_b // 10 = p.bal_p""".stripMargin,

    "q_l_diversity" ->
      s"""WITH qi AS (SELECT c_custkey, c_nationkey, c_mktsegment,
         |              (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS bal_b
         |            FROM customer)
         |SELECT qi.c_nationkey, qi.c_mktsegment, qi.bal_b,
         |  count(*) AS n_rows,
         |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive,
         |  CASE WHEN count(DISTINCT o_orderpriority) >= $LDiversityL
         |       THEN 'diverse' ELSE 'homogeneous' END AS status
         |FROM qi JOIN orders ON o_custkey = qi.c_custkey
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_t_closeness" ->
      s"""WITH qi AS (SELECT c_custkey, c_nationkey, c_mktsegment,
         |              (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS bal_b
         |            FROM customer),
         |j AS (SELECT qi.c_nationkey, qi.c_mktsegment, qi.bal_b, o_orderpriority AS p
         |      FROM qi JOIN orders ON o_custkey = qi.c_custkey),
         |cc AS (SELECT c_nationkey, c_mktsegment, bal_b, p, count(*) AS n
         |       FROM j GROUP BY 1, 2, 3, 4),
         |cls AS (SELECT c_nationkey, c_mktsegment, bal_b, CAST(sum(n) AS BIGINT) AS n_c
         |        FROM cc GROUP BY 1, 2, 3),
         |gw AS (SELECT p, CAST(sum(n) AS BIGINT) AS ng FROM cc GROUP BY 1),
         |gc AS (SELECT p, CAST(sum(ng) OVER (ORDER BY p) AS BIGINT) AS cumg FROM gw),
         |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS gtot, CAST(count(*) AS BIGINT) AS mdom FROM gw),
         |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.bal_b, cls.n_c,
         |           gc.p, gc.cumg, coalesce(cc.n, 0) AS n
         |         FROM cls CROSS JOIN gc
         |         LEFT JOIN cc ON cc.c_nationkey = cls.c_nationkey
         |           AND cc.c_mktsegment = cls.c_mktsegment
         |           AND cc.bal_b = cls.bal_b AND cc.p = gc.p),
         |cum AS (SELECT *, CAST(sum(n) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_b
         |                                    ORDER BY p) AS BIGINT) AS cumc
         |        FROM grid)
         |SELECT c_nationkey, c_mktsegment, bal_b, n_c,
         |  CAST(sum(abs(gtot * cumc - n_c * cumg)) AS BIGINT) AS emd_scaled,
         |  CASE WHEN $TClosenessDenom * sum(abs(gtot * cumc - n_c * cumg))
         |            <= $TClosenessNumer * n_c * gtot * (mdom - 1)
         |       THEN 'within' ELSE 'skewed' END AS status
         |FROM cum CROSS JOIN tot
         |GROUP BY 1, 2, 3, 4, gtot, mdom""".stripMargin,

    "q_anonymize" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
         |             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 10000 AS bal_b
         |           FROM customer),
         |f AS (SELECT c_nationkey, c_mktsegment, bal_b, count(*) AS n
         |      FROM c GROUP BY 1, 2, 3),
         |cp AS (SELECT c_nationkey, c_mktsegment, bal_b // 10 AS bal_p, sum(n) AS pool
         |       FROM f WHERE n < $KAnonymityK GROUP BY 1, 2, 3),
         |a AS (SELECT f.c_nationkey, f.c_mktsegment, f.bal_b,
         |        CASE WHEN f.n >= $KAnonymityK THEN 'fine'
         |             WHEN cp.pool >= $KAnonymityK THEN 'coarse'
         |             ELSE 'suppressed' END AS resolution
         |      FROM f LEFT JOIN cp ON f.c_nationkey = cp.c_nationkey
         |        AND f.c_mktsegment = cp.c_mktsegment AND f.bal_b // 10 = cp.bal_p)
         |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
         |  CASE WHEN a.resolution = 'fine' THEN c.bal_b
         |       WHEN a.resolution = 'coarse' THEN c.bal_b // 10 END AS release_bucket,
         |  a.resolution
         |FROM c JOIN a ON a.c_nationkey = c.c_nationkey
         |  AND a.c_mktsegment = c.c_mktsegment AND a.bal_b = c.bal_b""".stripMargin)
}
