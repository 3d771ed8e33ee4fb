package graft.ops

import graft.Tables
import graft.functions.{Determinism, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the point of this module): every signature (fingerprint,
  * minhash array, simhash) is computed MAP-ONLY; the only shuffles are the
  * final candidate joins, which are equi-joins on compact keys — the LSH
  * trick that replaces O(N²) all-pairs compares with key-joins whose fan-out
  * is bounded by collision rate. This is THE 100 TB dedup shape (same as
  * Spark's MinHashLSH, re-expressed engine-portably so a DuckDB oracle can
  * replay it bit-for-bit).
  *
  * Hash discipline: one md5 per shingle/token (15 hex chars = 60-bit positive
  * long); everything downstream is integer arithmetic — minhash permutations
  * are universal-hash `(a*h + b) mod (2^31-1)` with md5-derived constants
  * (Determinism.scala), not repeated md5 calls. Per-pair inner loops run in
  * codegen'd native expressions (GraftExpressions.scala), not interpreted
  * higher-order functions.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Word 3-gram shingles of the normalized text (distinct). The docs share a
    * small vocabulary, so unigram sets are useless for dedup; 3-gram word
    * sequences discriminate (SURVEY §7.2 step 7).
    */

  /** Tokenized projection the FromToks variants consume — `lshVerifiedPairs`
    * et al. tokenize at entry; pipelines that already hold a tokenized scan
    * (Pipelines.corpusPipelineNear) call the FromToks entry points directly
    * so the corpus is read and tokenized exactly once.
    */
  private def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))

  // --- exact ----------------------------------------------------------------

  /** Exact dedup: group identical normalized texts, keep the smallest doc_id.
    * One partial+final hash agg; the md5 key keeps shuffle rows tiny (16 bytes
    * + ids) regardless of document size — never shuffle the text itself.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(Text.normalized(col("text"))).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** `exact` over a pre-tokenized projection: normalization collapses
    * whitespace, so `concat_ws(" ", toks)` round-trips the normalized text
    * exactly (including the empty-document edge: split("") = [""] joins back
    * to "") and md5 of it equals md5(normalized(text)).
    */
  def exactFromToks(t: DataFrame): DataFrame =
    t.select(md5(concat_ws(" ", col("toks"))).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Priority dedup — "preferred source wins": among exact duplicates keep
    * the copy from the highest-priority source (curated beats crawl), ties
    * by doc_id. Same one-agg shape as `exact`, with the election done by a
    * lexicographic struct-min (priority, doc_id, source) — map-side
    * combinable, no rank window, text never shuffles. `priorityExpr` maps
    * source → rank (lower wins); here the demo ranks by source number.
    */
  def priorityDedup(docs: DataFrame,
      priorityExpr: String = "cast(substr(source, 4) as bigint)"): DataFrame =
    docs
      .select(md5(Text.normalized(col("text"))).as("fp"), col("doc_id"), col("source"),
        expr(priorityExpr).as("prio"))
      .groupBy(col("fp"))
      .agg(min(struct(col("prio"), col("doc_id"), col("source"))).as("w"),
        count(lit(1)).as("n_copies"))
      .select(col("w.doc_id").as("keep_id"), col("w.source").as("keep_source"),
        col("w.prio").as("prio"), col("n_copies"))

  // --- MinHash + LSH --------------------------------------------------------

  val MinhashPerms = 16
  val MinhashBands = 4
  val MinhashRows = MinhashPerms / MinhashBands // 4
  val MersennePrime = 2147483647L // 2^31 - 1

  /** Permutation coefficients (a in [1, p-1], b in [0, p-1]), md5-derived —
    * fixed public constants shared verbatim with the oracle SQL.
    */
  val permCoeffs: IndexedSeq[(Long, Long)] = (0 until MinhashPerms).map { i =>
    (Determinism.md5Long(s"perm-a:$i") % (MersennePrime - 1) + 1,
      Determinism.md5Long(s"perm-b:$i") % MersennePrime)
  }

  /** 16 minhashes per doc: mh_i = min over shingles of (a_i*h + b_i) mod p,
    * h = md5-hash(shingle) mod p. One md5 per shingle, then ONE native pass
    * computing all 16 permutation minima (MinHashes codegen expression) —
    * map-only. (a*h < 2^62: no overflow in any engine.)
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFromToks(tokenize(docs))

  def minhashSignaturesFromToks(t: DataFrame): DataFrame =
    t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        GraftFunctions.minhashes(
          GraftFunctions.shingleHashes(col("toks"), mod = MersennePrime),
          permCoeffs, MersennePrime).as("mh"))

  /** SQL fragment exploding a 16-minhash array column `mh` into its 4
    * (band, 4-minhash signature) structs — THE banding definition, shared
    * verbatim by the batch self-join, the incremental cross-join, and the
    * streaming bucket key (`NearDupStream`) so all three candidate
    * generators stay bit-identical by construction.
    */
  private[graft] val bandStructsSql: String =
    s"transform(sequence(0, ${MinhashBands - 1}), " +
      s"b -> struct(b as band, slice(mh, b * $MinhashRows + 1, $MinhashRows) as sig))"

  /** Exact-duplicate content collapse — the precondition that keeps the whole
    * near-dup chain linear at corpus scale. Docs with identical normalized
    * token sequences have identical shingle sets, identical minhash
    * signatures, and identical Jaccard against any third document, so every
    * signature-level computation runs ONCE per distinct content and expands
    * back through the (rep_id, doc_id) membership table. Without this, an
    * exact-duplicate family of k docs costs O(k²) inside every LSH bucket it
    * lands in — and real corpora grow duplicate families with corpus size
    * (measured: candidate shuffle 30.7× and cluster shuffle 59.5× at 10×
    * data on the sf100 probe). With it, the quadratic term is confined to
    * final pair-list materialization (inherent in the output) or eliminated
    * outright (clusters, survivor sets).
    *
    * `concat_ws(" ", toks)` round-trips the normalized text exactly (see
    * `exactFromToks`) and tokens contain no whitespace, so the join is
    * injective: fp collisions are md5 collisions. Returns (members, repSigs):
    * members = (rep_id, doc_id) for every doc with >= 3 tokens (rep_id = the
    * family's min doc_id), repSigs = (fp, doc_id = rep_id, mh[, hs]) one
    * signature row per distinct content.
    */
  private def collapseContent(t: DataFrame, withHs: Boolean): (DataFrame, DataFrame) = {
    // Per-doc signature scan, map-only (one md5 per shingle, as ever). The
    // token arrays never enter a shuffle: only (fp, mh[, hs]) move, and the
    // min(struct) partial aggregation collapses a duplicate family to one
    // signature row per input partition BEFORE the exchange — the collapse
    // shuffle is bounded by distinct contents, not corpus size. hs (the
    // exact-verification array) is computed only when the caller verifies.
    val s0 = t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), md5(concat_ws(" ", col("toks"))).as("fp"),
        GraftFunctions.shingleHashes(col("toks")).as("h60"))
    val mhC = GraftFunctions.minhashes(col("h60"), permCoeffs, MersennePrime,
      inputMod = MersennePrime)
    // ONE signature pass over the corpus, pinned: the collapse aggregate and
    // the membership window both read it (the uncollapsed verify chain ran
    // this pass twice — candidates' signatures plus the verification's).
    val s = (if (withHs) s0.select(col("doc_id"), col("fp"), mhC.as("mh"),
        expr("array_sort(h60)").as("hs"))
      else s0.select(col("doc_id"), col("fp"), mhC.as("mh")))
      .pinned(false)
    val w = if (withHs) struct(col("doc_id"), col("mh"), col("hs"))
      else struct(col("doc_id"), col("mh"))
    // Pinned: feeds candidate generation and both verify joins.
    val repSigs = s.groupBy(col("fp")).agg(min(w).as("w"))
      .select(Seq(col("w.doc_id").as("doc_id"), col("w.mh").as("mh")) ++
        (if (withHs) Seq(col("w.hs").as("hs")) else Nil): _*)
      .pinned(false)
    // Pinned because the pair expansion reads it up to 4×.
    val members = s.select(col("fp"), col("doc_id"))
      .withColumn("rep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("rep_id"), col("doc_id"))
      .pinned(false)
    (members, repSigs)
  }

  /** Banded LSH self-join over per-content signatures → candidate pairs at
    * the representative level (doc_a < doc_b on rep ids, est_jaccard).
    */
  private def repCandidates(sigs: DataFrame): DataFrame = {
    val n = sigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val bands = sigs.select(
      col("doc_id"), col("mh"),
      explode(expr(bandStructsSql)).as("bs"))
      .select(col("doc_id"), col("mh"), col("bs.band"), col("bs.sig"))
      // Shared exchange: both self-join branches reuse this one shuffle, so
      // signatures are computed once; explicit count keeps AQE from
      // collapsing the bucket-expansion parallelism.
      .repartition(n, col("band"), col("sig"))
    val a = bands.select(col("band"), col("sig"), col("doc_id").as("doc_a"), col("mh").as("mh_a"))
    val b = bands.select(col("band"), col("sig"), col("doc_id").as("doc_b"), col("mh").as("mh_b"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v)) as double) / " +
          s"$MinhashPerms").as("est_jaccard"))
      .distinct()
  }

  /** Expand representative-level pairs back to doc pairs: the cross-family
    * join through `members` (every (a in fam(rep_a), b in fam(rep_b)) combo,
    * reordered so doc_a < doc_b), plus the within-family all-pairs at
    * similarity `selfSim` — identical contents always band-collide with all
    * 16 minhashes (and all shingles) agreeing, so the uncollapsed chain
    * emits every such pair at exactly 1.0. The within fan IS the output
    * size, produced by an equi-join on pinned 16-byte rows (AQE skew-split
    * handles a giant family); the explicit partition count keeps AQE from
    * serializing the fan over the byte-small input.
    */
  private def expandPairs(repPairs: DataFrame, members: DataFrame, simName: String,
      selfSim: Column, includeWithin: Boolean = true): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("doc_id").as("da")), Seq("doc_a"))
      .join(members.select(col("rep_id").as("doc_b"), col("doc_id").as("db")), Seq("doc_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col(simName))
    if (!includeWithin) cross
    else {
      val n = members.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val within = members.select(col("rep_id"), col("doc_id").as("doc_a"))
        .repartition(n, col("rep_id"))
        .join(members.select(col("rep_id"), col("doc_id").as("doc_b")), Seq("rep_id"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), selfSim.as(simName))
      cross.unionByName(within)
    }
  }

  /** LSH candidate pairs: band signature = the 4 minhashes of the band; a pair
    * is a candidate iff some band matches. Content-collapsed self-join on
    * (band, sig) — the shuffle key is 4 longs, the join input is one row per
    * DISTINCT CONTENT × 4 bands (never N² pairs, and never k² rows inside an
    * exact-duplicate family's bucket), expanded back to doc pairs through the
    * membership table. `est_jaccard` = fraction of the 16 minhashes that
    * agree (the standard unbiased Jaccard estimate); within-family pairs are
    * 16/16 = 1.0 by identity.
    */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFromToks(tokenize(docs))

  def minhashCandidatesFromToks(t: DataFrame): DataFrame = {
    val (members, sigs) = collapseContent(t, withHs = false)
    expandPairs(repCandidates(sigs), members, "est_jaccard", lit(1.0))
  }

  // --- SimHash --------------------------------------------------------------

  /** 60-bit SimHash over the distinct token set: bit i is set iff the sum of
    * (±1 per token, sign = bit i of the token hash) is positive. Map-only;
    * integer math → engine-exact.
    */
  /** Token hashes are materialized in their own projection, then folded by
    * the native SimHash60 expression (codegen'd loop — the equivalent
    * nested higher-order functions run interpreted, ~60×|tokens| boxed steps
    * per document).
    */
  def simhashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        GraftFunctions.shingleHashes(col("toks"), n = 1).as("hs"))
      .select(col("doc_id"), GraftFunctions.simhash60(col("hs")).as("simhash"))

  val SimhashMaxHamming = 1

  /** Near-dup pairs with hamming(simhash) <= 1, found by pigeonhole blocking:
    * split 60 bits into 4 bands of 15; distance <= 1 flips at most one band,
    * so the pair agrees EXACTLY on the 45 bits formed by the other three
    * bands. Join key = "simhash with band b deleted" (45-bit long) — far more
    * selective than any single 15-bit chunk, which matters here because
    * same-vocabulary docs share chunk values en masse. Exact hamming filter
    * after the join keeps correctness independent of blocking.
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val sh = simhashes(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), b -> struct(b as omit, " +
        "((simhash & (shiftleft(1L, b * 15) - 1)) | " +
        "shiftleft(shiftright(simhash, (b + 1) * 15), b * 15)) as k))")).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.omit"), col("bk.k"))
      // Explicit partition count: AQE would coalesce this small shuffle to
      // one partition and serialize the within-bucket pair expansion. Both
      // join branches share this one exchange subtree, so ReuseExchange
      // computes the signatures once.
      .repartition(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        col("omit"), col("k"))
    val a = banded.select(col("omit"), col("k"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("omit"), col("k"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("omit", "k"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct()
  }

  // --- exact n-gram Jaccard -------------------------------------------------

  val JaccardThreshold = 0.5

  /** True 3-gram-shingle Jaccard over same-language blocks; emits pairs above
    * threshold. This is the verification step a pipeline runs AFTER LSH
    * candidate generation; blocked on `lang` here to bound the pair count.
    * At real scale you'd feed `minhashCandidates` output instead of blocking —
    * the expression is the same. (AQE skew-join splits the big language
    * blocks at runtime.)
    *
    * Inner loop: shingles are md5-hashed to longs ONCE per doc and sorted, so
    * the per-pair cost is a codegen'd merge walk (SortedIntersectCount) — no
    * per-pair hash-set builds, no string compares. 60-bit hashes make
    * cross-shingle collisions (the only way counts could differ from the
    * string-set oracle) ~2^-61 per pair.
    */
  /** Per-doc sorted shingle hashes — the exact-verification signature. ONE
    * derived column: set sizes come from size(hs); carrying a separate count
    * column would make CollapseProject inline (= recompute) the whole
    * shingle-construction expression once per consumer.
    */
  private def sortedShingleHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"),
        GraftFunctions.shingleHashes(col("toks"), sorted = true).as("hs"))

  /** Row ceiling for the quadratic all-pairs baselines; past it they fail
    * fast unless the caller passes `allowAllPairs = true`.
    */
  val AllPairsLimit = 100000L

  /** The all-pairs baselines are correctness references, not scale paths: past
    * `AllPairsLimit` rows they would OOM an executor on the broadcast (or grind
    * on N² compares) rather than fail cleanly. This guard runs one bounded
    * count (`limit(n+1).count`, never a full scan) and fails fast with a
    * pointer at the scale-safe equivalent. A plan that passed once is
    * remembered (by semantic plan hash + limit), so repeated calls on the
    * same immutable input pay the check job only the first time.
    */
  private val guardPassed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()

  private def guardAllPairs(df: DataFrame, op: String, alternative: String,
      allow: Boolean, limit: Long): Unit =
    if (!allow) {
      val key = (df.queryExecution.logical.semanticHash(), limit)
      if (!guardPassed.contains(key)) {
        val n = df.limit(limit.toInt + 1).count()
        require(n <= limit,
          s"$op is a quadratic all-pairs baseline and the input exceeds $limit rows " +
            s"(Dedup.AllPairsLimit). Use $alternative for the scale-safe path, " +
            s"or pass allowAllPairs = true.")
        guardPassed.add(key)
      }
    }

  def ngramJaccardPairs(docs: DataFrame, allowAllPairs: Boolean = false): DataFrame =
    ngramJaccardPairs(docs, allowAllPairs, AllPairsLimit)

  /** [[ngramJaccardPairs]] with the guard's row bound chosen by the caller;
    * the specs trip the guard on a small fixture.
    */
  private[graft] def ngramJaccardPairs(docs: DataFrame, allowAllPairs: Boolean,
      limit: Long): DataFrame = {
    guardAllPairs(docs, "ngramJaccardPairs", "Dedup.lshVerifiedPairs", allowAllPairs, limit)
    val sh = sortedShingleHashes(docs)
    // Probe side spread across all cores with an EXPLICIT partition count
    // (AQE would coalesce the tiny shuffle to one partition and serialize the
    // quadratic pair expansion): with only ~5 language blocks the broadcast
    // join parallelism comes entirely from the probe side's partitioning.
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val a = sh.select(col("lang"), col("doc_id").as("doc_a"), col("hs").as("hs_a"))
      .repartition(n, col("doc_a"))
    val b = sh.select(col("lang"), col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    a.join(broadcast(b), Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered exact set-similarity join (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08) — the EXACT-recall
    * alternative to LSH: every pair with true Jaccard ≥ t is guaranteed a
    * candidate, with no all-pairs expansion. Under one GLOBAL token order
    * (document frequency ascending, hash tie-break — rare shingles first), a
    * set of size s only needs its first p = s − ⌈t·s⌉ + 1 tokens indexed:
    * two sets with Jaccard ≥ t overlap by ≥ ⌈t·max(|A|,|B|)⌉ elements, so
    * by pigeonhole their prefixes must share a token. Candidates are the
    * distinct doc pairs sharing a prefix token (equi-join on the 8-byte
    * hash, language-blocked like `ngramJaccardPairs`), then verified with
    * the true sorted-hash intersection — output is EXACTLY
    * `ngramJaccardPairs`' (proved by the shared oracle), at index cost
    * linear in prefix instances instead of N² compares.
    *
    * Candidates are pruned further by the PPJoin length filter (sets whose
    * sizes cannot reach Jaccard t: |B| ≥ ⌈t·|A|⌉ both ways) and positional
    * filter (a match at prefix ranks (i, j) caps the remaining overlap at
    * 1 + min(|A|−i, |B|−j), which must still reach the required
    * α = ⌈t/(1+t)·(|A|+|B|)⌉) — each a per-instance predicate inside the
    * candidate join, measured 3× candidate reduction at t=0.5 on the test
    * corpus. True pairs always survive: their first shared prefix token
    * passes both bounds.
    *
    * Scale shape: the signature table (doc_id, lang, sorted 60-bit hashes)
    * is computed ONCE and pinned (`graft.Pinned`) because three
    * consumers read it (df counts / prefix index / verification) — the
    * md5+shingle projection is the dominant map cost and must not replay
    * per consumer (same discipline as `Pipelines.corpusPipelineNear`'s
    * tokenized pin). df counting and the per-doc rank window shuffle only
    * (doc_id, hash, df) triples — 24-byte rows, text never moves; the
    * rare-first order is what bounds the join fan (the most frequent tokens
    * land in suffixes, which are never indexed). The residual hazard is a
    * token that is rare globally but prefix-resident in a huge near-dup
    * family — exactly the duplicate mass the join is FOR, so its fan is
    * output, not waste.
    */
  def prefixFilteredPairs(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    // Content collapse keyed by (lang, fp): the language block is part of the
    // pair predicate, so identical texts under different lang stay distinct
    // families. Index and verification run once per distinct content —
    // without this an exact-duplicate family of k docs puts all k copies in
    // every one of its prefix-token postings, an O(k²) candidate fan (the
    // same break the sf100 probe caught in the LSH chain). df-rarity is
    // counted over distinct contents: ANY one global token order preserves
    // the prefix-filter recall guarantee, and the exact verification keeps
    // the output independent of the order chosen.
    val base = docs
      .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), md5(concat_ws(" ", col("toks"))).as("fp"),
        GraftFunctions.shingleHashes(col("toks"), sorted = true).as("hs"))
      .pinned(false)
    val sh = base.groupBy(col("lang"), col("fp"))
      .agg(min(struct(col("doc_id"), col("hs"))).as("w"))
      .select(col("lang"), col("w.doc_id").as("doc_id"), col("w.hs").as("hs"))
      .pinned(false)
    val members = base.select(col("lang"), col("fp"), col("doc_id"))
      .withColumn("rep_id",
        min(col("doc_id")).over(Window.partitionBy(col("lang"), col("fp"))))
      .select(col("rep_id"), col("doc_id"))
      .pinned(false)
    val ex = sh.select(col("doc_id"), col("lang"),
      size(col("hs")).as("s"), explode(col("hs")).as("h"))
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val pre = ex.join(dfc, "h")
      .withColumn("rn", row_number().over(wp).cast("long"))
      .filter(col("rn") <= col("s") - ceil(col("s") * lit(threshold)) + 1)
    def side(x: String) = pre.select(col("h"), col("lang"),
      col("doc_id").as(s"doc_$x"), col("s").cast("long").as(s"s_$x"), col("rn").as(s"rn_$x"))
    val cand = side("a").join(side("b"), Seq("h", "lang"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("s_b") >= ceil(col("s_a") * lit(threshold)) &&
        col("s_a") >= ceil(col("s_b") * lit(threshold)))
      .filter(lit(1L) + least(col("s_a") - col("rn_a"), col("s_b") - col("rn_b")) >=
        ceil((col("s_a") + col("s_b")) * lit(threshold / (1.0 + threshold))))
      .select(col("doc_a"), col("doc_b")).distinct()
    val repPairs = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    expandPairs(repPairs, members, "jaccard", lit(1.0), includeWithin = 1.0 >= threshold)
  }

  /** LSH candidates → exact verification, composed — THE 100 TB near-dedup
    * shape. Candidate pairs come from the banded minhash equi-join (input is
    * N×bands rows, never N² pairs), then each candidate is verified with the
    * true shingle-set Jaccard via two equi-joins on doc id that attach the
    * sorted shingle hashes, and the codegen'd merge walk
    * (SortedIntersectCount). Nothing in the plan touches a full-corpus
    * broadcast or a non-equi join: at scale every join here is a shuffled
    * hash/sort-merge join on compact keys (Catalyst may still broadcast the
    * small side at sf scale, which is the right call, not a scale hazard).
    *
    * Reference capability: near-dup detection is the pipeline behind its
    * dedup use cases; this mirrors `ngramJaccardPairs` semantics with LSH
    * (not language blocking) bounding the pair count, i.e. recall is that of
    * `minhashCandidates` (any band of 4/16 minhashes colliding).
    */
  /** Combined near-dup signature per doc — the 16 minhashes (LSH banding)
    * AND the sorted 60-bit shingle hashes (exact verification) — with ONE
    * md5 per shingle. `streaming.NearDupStream` consumes this so its
    * banding and verification are bit-identical to the batch
    * `lshVerifiedPairs` chain; `keep` carries pass-through columns (event
    * time). Map-only.
    */
  def nearDupSignaturesFromToks(t: DataFrame, keep: Seq[String] = Nil): DataFrame =
    t.filter(size(col("toks")) >= 3)
      .select(keep.map(col) ++ Seq(col("doc_id"),
        GraftFunctions.shingleHashes(col("toks")).as("h60")): _*)
      .select(keep.map(col) ++ Seq(col("doc_id"),
        GraftFunctions.minhashes(col("h60"), permCoeffs, MersennePrime,
          inputMod = MersennePrime).as("mh"),
        expr("array_sort(h60)").as("hs")): _*)

  def lshVerifiedPairs(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame =
    lshVerifiedPairsFromToks(tokenize(docs), threshold)

  def lshVerifiedPairsFromToks(t: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val (members, sigs) = collapseContent(t, withHs = true)
    expandPairs(repVerified(sigs, threshold), members, "jaccard", lit(1.0),
      includeWithin = 1.0 >= threshold)
  }

  /** Candidate generation + exact sorted-intersect verification over the
    * per-content signature table: (doc_a, doc_b, jaccard) at the
    * representative level, jaccard rounded like the public pair queries.
    */
  private def repVerified(sigs: DataFrame, threshold: Double): DataFrame =
    repCandidates(sigs).select(col("doc_a"), col("doc_b"))
      .join(sigs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  // --- incremental (new increment vs admitted corpus) dedup ----------------

  /** Exact incremental dedup — the DAILY-INCREMENT production shape the
    * within-corpus operators don't cover: fingerprint-aggregate a NEW batch
    * after dropping every doc whose normalized-text fingerprint already
    * exists in the admitted corpus. Returns (fp, keep_id, n_copies) of the
    * increment's surviving groups, exactly `exact`'s contract restricted to
    * genuinely-new content. The corpus side reduces to a distinct
    * fingerprint set before the anti-join — at scale that is a precomputed
    * 16-byte-key table, and only (fp, doc_id) ever shuffles.
    */
  def incrementalExact(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs
      .select(md5(Text.normalized(col("text"))).as("fp"), col("doc_id"))
      .join(corpus.select(md5(Text.normalized(col("text"))).as("fp")).distinct(),
        Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** `incrementalExact` with a BLOOM-FILTER pre-gate — the 100 TB refresh
    * shape: the admitted corpus's fingerprint set folds into a compact
    * Bloom bitset (built DISTRIBUTED via the public `stat.bloomFilter`
    * tree-aggregate; the driver holds only the ~expectedItems·10-bit
    * array, the same class of driver value as any broadcast hash table),
    * and the increment is gated map-side by Spark's own
    * `BloomFilterMightContain` over a literal bitset. Docs the filter
    * definitely rules out of the corpus skip the anti-join entirely; only
    * might-contain candidates (true duplicates + the fpp false-positive
    * sliver) shuffle against the corpus fingerprint table. Bloom filters
    * have no false negatives, so
    * definitely-new ∪ (candidates ANTI corpus) == the exact anti-join —
    * the result is IDENTICAL to `incrementalExact` (DedupSpec asserts it,
    * including under a forced-high fpp), it just moves ~all of the
    * increment off the shuffle. `expectedItems <= 0` (the default)
    * AUTO-SIZES from the corpus's distinct-fingerprint count — one extra
    * count over the fingerprint projection, free in context because the
    * operator is already eager (the bloom build is an action); a fixed
    * oversize costs real memory, not just bits: the bitset rides the plan
    * as a literal, so a 2^20-item filter is a ~1.2 MB allocation per task
    * regardless of a 2k-doc corpus (observed as the bench's gc_ms
    * outlier before auto-sizing).
    */
  def incrementalExactBloom(
      newDocs: DataFrame, corpus: DataFrame,
      fpp: Double = 0.01, expectedItems: Long = 0L): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val corpusFps = corpus
      .select(md5(Text.normalized(col("text"))).as("fp")).distinct()
    val sized = if (expectedItems > 0) expectedItems
      else math.max(1024L, corpusFps.count())
    val bf = corpusFps.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", sized, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val might = GraftBridge.column(BloomFilterMightContain(
      Literal.create(bytes), GraftBridge.expression(xxhash64(col("fp")))))
    val newFps = newDocs
      .select(md5(Text.normalized(col("text"))).as("fp"), col("doc_id"))
    newFps.filter(!might)
      .unionByName(newFps.filter(might).join(corpusFps, Seq("fp"), "left_anti"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Near-dup pairs of a NEW increment AGAINST the admitted corpus: banded
    * minhash equi-join BETWEEN the two tables (new×4 band rows meet
    * corpus×4 band rows on (band, sig) — never |new|·|corpus| pairs), then
    * the exact sorted-intersect Jaccard verification, exactly the
    * `lshVerifiedPairs` chain split across two inputs. Returns (doc_a = new
    * doc, doc_b = corpus doc, jaccard) — drop every doc_a to admit only
    * novel content; compose with `lshVerifiedPairs(newDocs)` for
    * within-increment duplicates. At 100 TB the corpus signatures are a
    * precomputed incrementally-refreshed table: `FromSigs` consumes
    * `nearDupSignaturesFromToks` output directly so history is never
    * re-signed.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    incrementalNearDupPairsFromSigs(
      nearDupSignaturesFromToks(tokenize(newDocs)),
      nearDupSignaturesFromToks(tokenize(corpus)), threshold)

  def incrementalNearDupPairsFromSigs(
      newSigs: DataFrame, corpusSigs: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    // Content collapse per side, keyed by the signature array itself: sigs
    // arrive pre-computed (the FromSigs contract — history is never
    // re-signed), and identical sorted shingle-hash sets imply identical
    // minhashes and identical Jaccard vs anything, so each side bands one
    // row per distinct content. Identical contents ACROSS sides need no
    // special case: their reps band-collide and verify at exactly 1.0, so
    // expansion covers every (new member, corpus member) combo. Sides are
    // preserved (doc_a = new doc, doc_b = corpus doc), unlike the
    // within-corpus expansion's least/greatest reorder.
    def collapse(sigs: DataFrame) = {
      val reps = sigs.groupBy(col("hs"))
        .agg(min(struct(col("doc_id"), col("mh"))).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.mh").as("mh"), col("hs"))
        .pinned(false)
      val mem = sigs.select(col("hs"), col("doc_id"))
        .withColumn("rep_id", min(col("doc_id")).over(Window.partitionBy(col("hs"))))
        .select(col("rep_id"), col("doc_id"))
      (reps, mem)
    }
    val (newReps, newMem) = collapse(newSigs)
    val (corpusReps, corpusMem) = collapse(corpusSigs)
    def bands(sigs: DataFrame, side: String) = sigs.select(
      col("doc_id").as(side),
      explode(expr(bandStructsSql)).as("bs"))
      .select(col(side), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // Explicit partition count for the same AQE reason as minhashCandidates;
    // candidates carry only ids so the verify joins stay compact-key.
    val n = newSigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val repPairs = bands(newReps, "doc_a").repartition(n, col("band"), col("sig"))
      .join(bands(corpusReps, "doc_b").repartition(n, col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .join(newReps.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(corpusReps.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    repPairs
      .join(newMem.select(col("rep_id").as("doc_a"), col("doc_id").as("da")), Seq("doc_a"))
      .join(corpusMem.select(col("rep_id").as("doc_b"), col("doc_id").as("db")), Seq("doc_b"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jaccard"))
  }

  // --- substring-level (span) dedup ----------------------------------------

  val SpanWindow = 10 // tokens per duplicate-detection window (~50 at web scale)

  /** SUBSTRING-level exact dedup — the third dedup granularity after
    * whole-document exact and near-dup: find every >= `w`-token span whose
    * content also occurs EARLIER in the corpus (earlier = smaller (doc_id,
    * position), so exactly one copy of each duplicated run survives,
    * keep-first), per Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — repeated spans (license blocks, quoted
    * passages, mirrored articles) inflate memorization even when the
    * containing documents are unique.
    *
    * Distributed shape standing in for their suffix array: hash every
    * w-token window at stride 1 (map-only explode; the shuffle carries
    * (hash, doc_id, pos) — ~24 bytes per token, the honest price of
    * substring-level dedup and the same order as a suffix array), find
    * hashes with > 1 occurrence via one partial+final aggregate whose
    * min(struct(doc_id, pos)) IS the keep-first election, then merge each
    * doc's flagged window positions into maximal spans with a
    * gaps-and-islands window — which runs only over FLAGGED positions, a
    * tiny fraction of the corpus. Integer arithmetic throughout; the
    * oracle replays it exactly. Returns (doc_id, span_start, span_end,
    * n_tokens): token ranges [start, end) (1-based, end exclusive) whose
    * content survives elsewhere — cut them, keep the rest.
    */
  def duplicateSpans(docs: DataFrame, w: Int = SpanWindow): DataFrame =
    duplicateSpansFromToks(tokenize(docs), w)

  def duplicateSpansFromToks(t: DataFrame, w: Int = SpanWindow): DataFrame = {
    // One native pass (WindowHashes) computes every window hash in position
    // order — value-identical to the former interpreted spelling
    // `transform(sequence(1, size(toks)-9), i -> struct(i, md5-60bit(
    // concat_ws(' ', slice(toks, i, 10)))))` (ExpressionsSpec pins the
    // equality), but inside whole-stage codegen instead of a boxed lambda +
    // slice allocation + hex md5 + conv per window (r17 guide §4: the
    // windowing stage was 84% of the query's CPU).
    val wins = t.filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(GraftFunctions.windowHashes(col("toks"), w)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
    // Per-hash first-occurrence election + occurrence count as min/count
    // window aggregates over one hash-partitioned exchange: no join, no
    // second map pass. WindowExec buffers each hash's occurrence list in a
    // spillable array, so a hot hash degrades gracefully; the groupBy + join
    // alternative measured slower (OPTIMIZATION_r18.md §4).
    val byHash = Window.partitionBy(col("h"))
    val flagged = wins
      .withColumn("first", min(struct(col("doc_id"), col("pos"))).over(byHash))
      .withColumn("n_occ", count(lit(1)).over(byHash))
      .filter(col("n_occ") > 1 &&
        not(col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos")))
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("prev_end",
        max(col("pos") + w).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("fresh")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + w).as("span_end"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start")).cast("long").as("n_tokens"))
  }

  /** `duplicateSpans` APPLIED: cut every duplicated span from its document
    * and reassemble the survivors — the dedup that Lee et al. actually run
    * (drop the repeated run, keep the containing documents). Per-doc spans
    * collapse to a tiny array (spans are maximal and disjoint, so a doc
    * carries at most len/w of them) that joins back against the one shared
    * tokenized projection (checkpoint-pinned — both the window hashing and
    * the reassembly read it); the cut itself is a map-side indexed-lambda
    * filter, no explode. Docs with nothing duplicated pass through intact;
    * a wholesale-duplicate doc comes back EMPTY (drop empties downstream,
    * or pre-filter with whole-doc `exact` which this subsumes). Returns
    * (doc_id, clean_text, n_cut_tokens) over the normalized text.
    */
  def cutSpans(docs: DataFrame, w: Int = SpanWindow): DataFrame = {
    val t = tokenize(docs).pinned(false)
    val spans = duplicateSpansFromToks(t, w)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    t.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", expr(
          "filter(toks, (tk, i) -> spans IS NULL OR " +
            "NOT exists(spans, sp -> i + 1 >= sp.s AND i + 1 < sp.e))")).as("clean_text"),
        coalesce(expr("aggregate(spans, 0L, (acc, sp) -> acc + (sp.e - sp.s))"), lit(0L))
          .as("n_cut_tokens"))
  }

  // --- near-dup clustering → survivor set ----------------------------------

  /** Connected components over an undirected pair list, via the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14). This is the step between "pairs
    * found" and "corpus written": near-dup PAIRS from `lshVerifiedPairs`
    * collapse into clusters, and one representative (the minimum doc_id)
    * survives per cluster — the reference's dedup use cases end in a
    * deduplicated TABLE, not a pair list (README.md:59-131; the groupBy-over-
    * Index shape, table/Table.java:436-467).
    *
    * Scale design: each round is two (groupBy-min + equi-join) passes — no
    * graph library, no driver-side data structure; shuffles carry (long,
    * long) edges keyed by node id, skew handled by AQE like any hot-key
    * join. Converges in O(log² n) rounds on any graph (near-dup clusters
    * are almost-cliques, which converge in 2-3). Per-round lineage is cut
    * with a pin (`graft.Pinned`) exactly like the k-means trainer
    * (Similarity.scala), and the ONLY value the driver ever reads is the
    * 1-row (count, checksum) convergence aggregate.
    *
    * Returns (doc_id, cluster_id) for every node appearing in `pairs`,
    * cluster_id = the component's minimum doc_id.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Convergence checksum FUSED into the pin job via Dataset.observe
    // (round-18, guide §1.5/§2.4 job-count discipline): the former shape
    // pinned lazily and ran a separate count+bit_xor aggregate as the
    // materializing action, paying the aggregate's exchange-to-1 tail
    // stage every round; observe collects the same three values as
    // accumulators DURING the eager pin's own job, so a round's only
    // action is the pin itself. Checksum semantics unchanged: bit_xor,
    // not sum (overflow-free under ANSI mode, order-insensitive over the
    // distinct edge set), and TWO independent digests (the second mixes a
    // constant into every hash input) — one 64-bit xor collision between
    // DIFFERENT edge sets would declare false convergence and silently
    // emit wrong clusters; requiring both digests to collide squares
    // those odds away.
    def pinWithChecksum(df: DataFrame): (DataFrame, (Long, Option[Long], Option[Long])) = {
      val obs = org.apache.spark.sql.Observation()
      val pinnedDf = df.observe(obs,
        count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(u, v))").as("x1"),
        expr("bit_xor(xxhash64(7L, u, v))").as("x2"))
        .pinned() // eager: the pin job IS the observed action
      val m = obs.get
      def opt(k: String) = Option(m(k)).map(_.asInstanceOf[Long])
      (pinnedDf, (m("n").asInstanceOf[Long], opt("x1"), opt("x2")))
    }
    var (e, prev) = pinWithChecksum(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: every strictly-larger neighbor points at the
      // neighborhood minimum. min(Γ⁺(u)) via groupBy-min, attached by
      // equi-join — never a collect_set neighborhood list (a hot node's
      // neighborhood would not fit a single row at 100 TB). A round-17
      // window-aggregate rewrite (min over partition-by-u, one exchange,
      // no join) measured WALL-NEUTRAL at bench scale — AQE already
      // broadcasts the tiny min tables, so the join costs no extra
      // exchange — and it would trade the groupBy's O(1) map-side partial
      // aggregation for a spillable per-neighborhood window buffer on
      // exactly the skewed-graph inputs this shape exists to survive;
      // reverted, keeping the measured shape.
      val dir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = dir.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = dir.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: edges already point big→small (v is some neighborhood
      // min < u), so group directly: every small neighbor AND the center
      // point at the minimum.
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(ssMin, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val (ssPinned, cur) = pinWithChecksum(ss)
      converged = cur == prev
      prev = cur
      e = ssPinned
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    // rounds are driver-synchronous; log the count so a slow-converging
    // input (long chains instead of near-clique clusters) is diagnosable
    if (i > 3) log.info(s"connectedComponents converged in $i rounds (${prev._1} edges)")
    // fixpoint = a star per component: members point at the root, roots
    // appear only on the v side
    e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
  }

  /** Near-dup clusters (doc_id, cluster_id) over the LSH-verified pair graph
    * — result-identical to `connectedComponents(lshVerifiedPairs(docs))`,
    * with the quadratic exact-duplicate cliques never materialized: CC runs
    * over distinct-content REPRESENTATIVES only (a duplicate family is a
    * clique, which contributes no connectivity beyond its representative, and
    * cross-family verified pairs exist between ALL member combos or NONE —
    * Jaccard depends only on content), then each member inherits its
    * representative's cluster. A family of >= 2 docs whose content pairs with
    * nothing still forms its own cluster — its within-family edges exist in
    * the uncollapsed graph. cluster_id = component min rep_id = the
    * component's min doc_id, since every rep IS its family's min.
    *
    * This is what keeps clustering linear: the sf100 probe measured the
    * uncollapsed CC shuffling 45.6 GB (59.5× at 10× data) because every CC
    * round re-shuffled the k² clique edges of each duplicate family.
    */
  def nearDupClusters(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame =
    nearDupClustersFromToks(tokenize(docs), threshold)

  def nearDupClustersFromToks(t: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val (members, sigs) = collapseContent(t, withHs = true)
    val ccRep = connectedComponents(repVerified(sigs, threshold))
    val fam = members.groupBy(col("rep_id")).agg(count(lit(1)).as("n"))
    val repCluster = fam
      .join(ccRep.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"), "left")
      .filter(col("cluster_id").isNotNull || col("n") >= 2)
      .select(col("rep_id"), coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
    members.join(repCluster, Seq("rep_id")).select(col("doc_id"), col("cluster_id"))
  }

  /** Near-dedup survivor set: drop every non-representative member of an
    * LSH-verified near-dup cluster; docs in no cluster survive untouched.
    * The anti-join keys are doc ids — the corpus text never shuffles.
    */
  def nearDupSurvivors(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame =
    docs.join(nearDupMemberIdsFromToks(tokenize(docs), threshold), Seq("doc_id"), "left_anti")

  /** doc_ids to DROP: every non-representative member of an LSH-verified
    * near-dup cluster, from a pre-tokenized projection (doc_id, toks).
    */
  def nearDupMemberIdsFromToks(t: DataFrame, threshold: Double = JaccardThreshold): DataFrame =
    nearDupClustersFromToks(t, threshold)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))

  // --- embedding cosine near-dup -------------------------------------------

  val CosineThreshold = 0.4

  /** Brute-force all-pairs cosine above threshold. Quadratic by design — the
    * correctness baseline for the LSH path (Similarity.scala); at bench scale
    * (2000 vectors) this is 4M codegen'd dot products. Vectors are L2-
    * normalized ONCE (map-side) so the per-pair work is a single DotProduct;
    * the broadcast of one side keeps it shuffle-free.
    */
  def embeddingPairs(embs: DataFrame, allowAllPairs: Boolean = false): DataFrame =
    embeddingPairs(embs, allowAllPairs, AllPairsLimit)

  /** [[embeddingPairs]] with the guard's row bound chosen by the caller. */
  private[graft] def embeddingPairs(embs: DataFrame, allowAllPairs: Boolean,
      limit: Long): DataFrame = {
    guardAllPairs(embs, "embeddingPairs",
      "Similarity.lshTopK / Similarity.ivfTopK", allowAllPairs, limit)
    val e = Similarity.normalized(embs)
    val a = e.select(col("vec_id").as("vec_a"), col("nv").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("nv").as("vb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        GraftFunctions.dot(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= CosineThreshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  // --- semantic dedup (SemDeDup) -------------------------------------------

  val SemCells = Similarity.IvfCells // MINIMUM coarse-cell count
  val SemTargetCell = 1250 // vectors per cell the within-cell pass is sized for
  val SemThreshold = 0.35

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings with
    * a coarse quantizer, then prune near-duplicates ONLY within each cluster
    * — a vector is dropped when a lower-id member of its own cell sits above
    * the cosine threshold, so each semantic-duplicate group keeps exactly
    * its lowest-id representative (the deterministic stand-in for the
    * paper's "keep one random member").
    *
    * Scale shape: assignment is `Similarity.assignCells` — a broadcast
    * argmax over the centroid set below `TwoLevelMinCells`, the two-level
    * IMI path above it (N×2√k dots, broadcast bounded by √k — see its
    * scaladoc); the pairwise compare is an equi-join on `cell`, so the
    * quadratic term is (N/k)² per cell, never N² — and k SCALES WITH THE
    * CORPUS, k = max(SemCells, ⌈N / SemTargetCell⌉), exactly the paper's
    * knob (50k clusters for LAION): per-cell work stays constant as the
    * corpus grows, total linear. A FIXED k would make this pass N²/k — the
    * same super-linear class the sf100 probe caught in the LSH chain (at
    * 2M vectors, fixed k=16 is ~2.5e11 within-cell dot products; scaled
    * k=1600 is ~1.25e9). The one count job sizing k is the documented
    * model-parameter read class (incrementalExactBloom's auto-size); the
    * oracle computes the same integer expression, so the cell partition is
    * engine-identical at every SF — and k == SemCells on every fixture up
    * to sf1 (≤ 20k vectors). Cell sizes are bounded-checked in
    * SemDedupSpec. Seed centroids are the same deterministic training-free
    * quantizer `Similarity.ivfTopK` uses; swap in
    * `Similarity.trainedCentroids` for better-centered cells.
    */
  def semanticDedup(embs: DataFrame): DataFrame = {
    // Explicit repartition: the vector scan is byte-small but the k-scaled
    // assignment is CPU-dense (N×k dots), so file-split partitioning (~5
    // partitions for the sf100 embeddings) serializes it — the same
    // bytes-vs-CPU inversion as the unigram Viterbi stages (PLANS.md).
    // Measured at sf100: 1330 s at ~2.4 busy cores → repartitioned, all 32.
    val n = embs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Pinned (graft.Pinned) like semanticDedupIncrement's e: the
    // normalized table feeds MANY consumers (cents filter, both assignCells
    // argmax stages, the pairwise a/b sides) and un-pinned each one replays
    // scan → normalize → round-robin exchange — the sf100 executed plan
    // showed 16 RoundRobin exchanges of the full nv table, and the total
    // cost varied 1.7× with nothing but the SCAN split count (298 s at 117
    // row-group splits vs 171 s at 2; bench_sf100_probe_r14b adjudication).
    // Pinning computes the projection once and decouples every downstream
    // stage from the storage layout.
    val e = Similarity.normalized(embs).repartition(n).pinned(false)
    val k = math.max(SemCells.toLong,
      (embs.count() + SemTargetCell - 1) / SemTargetCell)
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("nv").as("cv"))
    // Assignment via Similarity.assignCells: the flat map-side-combining
    // argmax (shuffle carries N rows regardless of k) up to
    // TwoLevelMinCells, and the IMI-style two-level path past it — N×2√k
    // dots under a √k-bounded broadcast instead of N×k under a broadcast
    // ∝ k (= N²/1250 FLOPs with this operator's corpus-scaled k; the
    // round-12 sf100 probe measured that flat assignment at 632 s for 2M
    // vectors). Every fixture through sf10 (k ≤ 160) stays on the exact
    // flat path bit-unchanged.
    // The two-level path's win over the flat argmax at scale is recorded in
    // BASELINE.md (round-13 SemDeDup two-level A/B).
    val asg = Similarity.assignCells(e, cents, k).select(col("cell"), col("vec_id"), col("nv"))
    val a = asg.select(col("cell").as("cell_a"), col("vec_id").as("vec_a"), col("nv").as("va"))
    val b = asg.select(col("cell").as("cell_b"), col("vec_id").as("vec_b"), col("nv").as("vb"))
    val dropped = a.join(b, col("cell_a") === col("cell_b") && col("vec_b") < col("vec_a"))
      .filter(GraftFunctions.dot(col("va"), col("vb")) >= SemThreshold)
      .select(col("vec_a").as("vec_id")).distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** Incremental SemDeDup — the FromSigs convention applied to the semantic
    * layer (round 14; completes the incremental family: exact → Bloom →
    * near → semantic, and is the batch twin of
    * `streaming.SemDedupStream.admitted`): an INCREMENT is admitted against
    * a FROZEN quantizer and the already-ingested history, so history is
    * never re-assigned or re-compared. An increment vector is dropped iff
    * some ARRIVED-EARLIER vector of its cell — any history member (dropped
    * or not: the batch rule's transitivity), or a lower-id increment member
    * — sits at cosine >= `SemThreshold`.
    *
    * Scale shape: both halves ride the same broadcast argmax assignment as
    * `semanticDedup` (against cents frozen from the UNION's first k, k
    * corpus-scaled so per-cell lists stay constant); the compare is an
    * equi-join on `cell` of increment-side rows against (history ∪
    * lower-id increment) rows — |cell_i| × |cell| per cell, the same
    * bounded quadratic as the batch op, with the history side computed
    * once per refresh in a real deployment (here per call, for the
    * oracle's single-expression form).
    */
  def semanticDedupIncrement(history: DataFrame, increment: DataFrame): DataFrame = {
    val all = history.select(col("vec_id"), col("embedding"))
      .unionByName(increment.select(col("vec_id"), col("embedding")))
    val n = all.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val e = Similarity.normalized(all).repartition(n).pinned(false)
    val k = math.max(SemCells.toLong, (all.count() + SemTargetCell - 1) / SemTargetCell)
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("nv").as("cv"))
    val histIds = history.select(col("vec_id")).withColumn("__hist", lit(1))
    val asg = Similarity.assignCells(e, cents, k)
      .select(col("cell"), col("vec_id"), col("nv"))
      .join(broadcast(histIds), Seq("vec_id"), "left")
    val inc = asg.filter(col("__hist").isNull)
      .select(col("cell").as("ca"), col("vec_id").as("va"), col("nv").as("na"))
    val earlier = asg
      .select(col("cell").as("cb"), col("vec_id").as("vb"), col("nv").as("nb"),
        col("__hist"))
    val dropped = inc.join(earlier,
        col("ca") === col("cb") &&
          (col("__hist").isNotNull || col("vb") < col("va")) && col("vb") =!= col("va"))
      .filter(GraftFunctions.dot(col("na"), col("nb")) >= SemThreshold)
      .select(col("va").as("vec_id")).distinct()
    asg.filter(col("__hist").isNull)
      .join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** `semanticDedupIncrement` over a PRECOMPUTED history index — the shape a
    * production refresh actually runs (`Similarity.ivfTopKFromIndex`'s
    * convention): `index` is the stored (cell, vec_id, nv) assignment of
    * everything already ingested, `cents` the frozen quantizer both were
    * assigned with. Only the INCREMENT is normalized and assigned here;
    * history ships as-is into the per-cell compare. Equal row-for-row to
    * re-running `semanticDedupIncrement` on (history, increment) when the
    * index came from the same cents (SemDedupSpec law).
    */
  def semanticDedupIncrementFromIndex(
      index: DataFrame, increment: DataFrame, cents: DataFrame): DataFrame = {
    val n = increment.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val e = Similarity.normalized(increment).repartition(n).pinned(false)
    val k = cents.count() // k-row model table, the documented read class
    val asgI = Similarity.assignCells(e, cents, k)
      .select(col("cell"), col("vec_id"), col("nv")).pinned(false)
    val inc = asgI.select(col("cell").as("ca"), col("vec_id").as("va"), col("nv").as("na"))
    val earlier = index.select(col("cell").as("cb"), col("vec_id").as("vb"),
        col("nv").as("nb"), lit(1).as("__hist"))
      .unionByName(asgI.select(col("cell").as("cb"), col("vec_id").as("vb"),
        col("nv").as("nb"), lit(null).cast("int").as("__hist")))
    val dropped = inc.join(earlier,
        col("ca") === col("cb") &&
          (col("__hist").isNotNull || col("vb") < col("va")) && col("vb") =!= col("va"))
      .filter(GraftFunctions.dot(col("na"), col("nb")) >= SemThreshold)
      .select(col("va").as("vec_id")).distinct()
    asgI.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  // -------------------------------------------------------------------------

  /** Leakage-safe train/val/test split: assign each document to a split by
    * hashing its near-dup CLUSTER representative, not its own id — every
    * member of an LSH-verified near-dup cluster lands in the same split, so
    * a paraphrase of a training document can never leak into eval (the
    * contamination mode document-level random splits silently have).
    * Singleton docs hash their own id. 80/10/10 by default via
    * `hash(group) mod 100` against the md5-convention hash, so the split is
    * deterministic, engine-independent, and stable under re-runs and corpus
    * repartitioning.
    *
    * Scale: clustering is the existing large-star/small-star CC over banded
    * LSH pairs (id-only shuffles); the assignment itself is an id-only left
    * join + map-side hash — document text never moves.
    */
  def leakageSafeSplit(docs: DataFrame, pctVal: Int = 10, pctTest: Int = 10): DataFrame = {
    require(pctVal >= 0 && pctTest >= 0 && pctVal + pctTest < 100,
      s"val+test must leave room for train, got $pctVal/$pctTest")
    val comp = nearDupClusters(docs)
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("group_key"))
      .withColumn("h",
        expr(s"${Determinism.md5LongSql("cast(group_key as string)")} % 100"))
      .select(col("doc_id"), col("group_key"),
        when(col("h") < 100 - pctVal - pctTest, lit("train"))
          .when(col("h") < 100 - pctTest, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_safe" -> ((s, d) => leakageSafeSplit(Tables.documents(s, d))),
    "q_dedup_exact" -> ((s, d) => exact(Tables.documents(s, d))),
    "q_dedup_priority" -> ((s, d) => priorityDedup(Tables.documents(s, d))),
    "q_dedup_minhash" -> ((s, d) => minhashCandidates(Tables.documents(s, d))),
    "q_dedup_simhash" -> ((s, d) => simhashPairs(Tables.documents(s, d))),
    "q_dedup_ngram" -> ((s, d) => ngramJaccardPairs(Tables.documents(s, d))),
    "q_dedup_prefix" -> ((s, d) => prefixFilteredPairs(Tables.documents(s, d))),
    "q_dedup_verify" -> ((s, d) => lshVerifiedPairs(Tables.documents(s, d))),
    "q_dedup_clusters" -> ((s, d) => nearDupClusters(Tables.documents(s, d))),
    "q_dedup_embedding" -> ((s, d) => embeddingPairs(Tables.embeddings(s, d))),
    "q_dedup_semantic" -> ((s, d) => semanticDedup(Tables.embeddings(s, d))),
    // history = even vec_ids (arrived first), increment = odd (the
    // lmscore_incr split convention)
    "q_dedup_semantic_incr" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      semanticDedupIncrement(
        embs.filter(col("vec_id") % 2 === 0),
        embs.filter(col("vec_id") % 2 === 1))
    }),
    // increment = every 5th doc, corpus = the rest — a fixed deterministic
    // split so the incremental operators get a hash-checkable oracle
    "q_dedup_incr_exact" -> ((s, d) => incrementalExact(
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
      Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))),
    "q_dedup_incr_near" -> ((s, d) => incrementalNearDupPairs(
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
      Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))),
    "q_dedup_incr_bloom" -> ((s, d) => incrementalExactBloom(
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
      Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))),
    "q_dedup_spans" -> ((s, d) => duplicateSpans(Tables.documents(s, d))),
    "q_dedup_spans_cut" -> ((s, d) => cutSpans(Tables.documents(s, d))))

  // DuckDB mirrors. Shared fragments:
  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val duckToks = s"string_split($normSql, ' ')"
  private def duckHash(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
  private val duckShingles =
    "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)])"
  private[ops] val duckPerms = permCoeffs.zipWithIndex
    .map { case ((a, b), i) => s"($i, ${a}, ${b})" }
    .mkString("SELECT * FROM (VALUES ", ", ", ") AS v(i, a, b)")

  /** Shared duplicate-span CTE chain (mirrors `duplicateSpansFromToks`):
    * `t` (doc_id, toks) through `sp` (doc_id, span_start, span_end) — the
    * spans query reads `sp` directly, the cut query additionally
    * reassembles the unflagged tokens.
    */
  private lazy val duckSpanCtes: String = {
    val w = SpanWindow
    s"""t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |wins AS (SELECT doc_id, p.pos AS pos, p.h AS h
       |         FROM (SELECT doc_id,
       |                 unnest([{'pos': i,
       |                          'h': ('0x' || substr(md5(array_to_string(toks[i:i+${w - 1}], ' ')), 1, 15))::BIGINT}
       |                         for i in range(1, len(toks) - ${w - 2})]) AS p
       |               FROM t WHERE len(toks) >= $w)),
       |dup AS (SELECT h, count(*) AS n_occ, min({'d': doc_id, 'p': pos}) AS f
       |        FROM wins GROUP BY h),
       |flagged AS (SELECT w.doc_id, w.pos
       |            FROM wins w JOIN dup USING (h)
       |            WHERE n_occ > 1 AND NOT (f.d = w.doc_id AND f.p = w.pos)),
       |g AS (SELECT doc_id, pos,
       |        max(pos + $w) OVER (PARTITION BY doc_id ORDER BY pos
       |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |      FROM flagged),
       |i AS (SELECT doc_id, pos,
       |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
       |      FROM g),
       |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |         CAST(max(pos) + $w AS BIGINT) AS span_end
       |       FROM i GROUP BY doc_id, island)""".stripMargin
  }

  /** CTE chain (DuckDB) computing near-dup clusters over `src(doc_id, text)`:
    * minhash → banded candidates → exact-Jaccard verify → recursive
    * transitive closure → `cc$sfx(doc_id, cluster_id)`. Mirrors
    * `connectedComponents(lshVerifiedPairs(src))`. Requires a `perms` CTE
    * ([[duckPerms]]) in scope and `WITH RECURSIVE` on the statement. `sfx`
    * uniquifies the CTE names so callers can embed several chains.
    */
  private[ops] def duckClusterCtes(src: String, sfx: String): String =
    s"""t$sfx AS (SELECT doc_id, $duckToks AS toks FROM $src),
       |sh$sfx AS (SELECT doc_id, $duckShingles AS shingles FROM t$sfx WHERE len(toks) >= 3),
       |hs$sfx AS (SELECT doc_id, ${duckHash("s")} % $MersennePrime AS h
       |       FROM sh$sfx, unnest(shingles) u(s)),
       |mh$sfx AS (SELECT doc_id, p.i AS i, min((p.a * h + p.b) % $MersennePrime) AS h
       |       FROM hs$sfx, perms p GROUP BY doc_id, p.i),
       |sig$sfx AS (SELECT doc_id, i // $MinhashRows AS band,
       |          string_agg(h::VARCHAR, ',' ORDER BY i) AS sig
       |        FROM mh$sfx GROUP BY doc_id, i // $MinhashRows),
       |cand$sfx AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM sig$sfx a JOIN sig$sfx b ON a.band = b.band AND a.sig = b.sig
       |         WHERE a.doc_id < b.doc_id),
       |p$sfx AS (SELECT c.doc_a, c.doc_b
       |      FROM cand$sfx c JOIN sh$sfx x ON x.doc_id = c.doc_a JOIN sh$sfx y ON y.doc_id = c.doc_b
       |      WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
       |          / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)))
       |          >= $JaccardThreshold),
       |e$sfx AS (SELECT doc_a AS u, doc_b AS v FROM p$sfx
       |      UNION SELECT doc_b, doc_a FROM p$sfx),
       |r$sfx AS (SELECT u AS node, v AS reach FROM e$sfx
       |      UNION SELECT r.node, e.v FROM r$sfx r JOIN e$sfx e ON e.u = r.reach),
       |cc$sfx AS (SELECT node AS doc_id, least(node, min(reach)) AS cluster_id
       |       FROM r$sfx GROUP BY node)""".stripMargin

  // q_dedup_prefix shares q_dedup_ngram's oracle on purpose: prefix
  // filtering guarantees zero false negatives, so its verified output must
  // equal the all-pairs baseline's — the shared oracle IS that proof on data.
  lazy val oracleSql: Map[String, String] =
    baseOracleSql + ("q_dedup_prefix" -> baseOracleSql("q_dedup_ngram"))

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_priority" ->
      s"""WITH f AS (SELECT md5($normSql) AS fp, doc_id, source,
         |  CAST(substr(source, 4) AS BIGINT) AS prio FROM documents),
         |r AS (SELECT fp, doc_id, source, prio,
         |        row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id, source) AS rk,
         |        count(*) OVER (PARTITION BY fp) AS n_copies
         |      FROM f)
         |SELECT doc_id AS keep_id, source AS keep_source, prio, CAST(n_copies AS BIGINT) AS n_copies
         |FROM r WHERE rk = 1""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH perms AS ($duckPerms),
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, $duckShingles AS shingles FROM t WHERE len(toks) >= 3),
         |hs AS (SELECT doc_id, ${duckHash("s")} % $MersennePrime AS h
         |       FROM sh, unnest(shingles) u(s)),
         |mh AS (SELECT doc_id, p.i AS i, min((p.a * h + p.b) % $MersennePrime) AS h
         |       FROM hs, perms p GROUP BY doc_id, p.i),
         |sig AS (SELECT doc_id, i // $MinhashRows AS band,
         |          string_agg(h::VARCHAR, ',' ORDER BY i) AS sig
         |        FROM mh GROUP BY doc_id, i // $MinhashRows),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
         |         WHERE a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(sum(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS DOUBLE) / $MinhashPerms AS est_jaccard
         |FROM cand c JOIN mh x ON x.doc_id = c.doc_a JOIN mh y ON y.doc_id = c.doc_b AND y.i = x.i
         |GROUP BY c.doc_a, c.doc_b""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($duckToks) AS toks FROM documents),
         |th AS (SELECT doc_id, ${duckHash("tok")} AS h FROM t, unnest(toks) u(tok)),
         |bits AS (SELECT doc_id, i,
         |           CASE WHEN sum(((h >> i) & 1) * 2 - 1) > 0 THEN (1::BIGINT << i) ELSE 0 END AS v
         |         FROM th, range(60) r(i) GROUP BY doc_id, i),
         |sh AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH t AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, lang, $duckShingles AS shingles FROM t WHERE len(toks) >= 3),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
         |      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM p WHERE jaccard >= $JaccardThreshold""".stripMargin,

    "q_dedup_verify" ->
      s"""WITH perms AS ($duckPerms),
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, $duckShingles AS shingles FROM t WHERE len(toks) >= 3),
         |hs AS (SELECT doc_id, ${duckHash("s")} % $MersennePrime AS h
         |       FROM sh, unnest(shingles) u(s)),
         |mh AS (SELECT doc_id, p.i AS i, min((p.a * h + p.b) % $MersennePrime) AS h
         |       FROM hs, perms p GROUP BY doc_id, p.i),
         |sig AS (SELECT doc_id, i // $MinhashRows AS band,
         |          string_agg(h::VARCHAR, ',' ORDER BY i) AS sig
         |        FROM mh GROUP BY doc_id, i // $MinhashRows),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
         |         WHERE a.doc_id < b.doc_id),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |          / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
         |      FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM v WHERE jaccard >= $JaccardThreshold""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE perms AS ($duckPerms),
         |${duckClusterCtes("documents", "_d")}
         |SELECT doc_id, cluster_id FROM cc_d""".stripMargin,

    "q_split_safe" ->
      s"""WITH RECURSIVE perms AS ($duckPerms),
         |${duckClusterCtes("documents", "_d")},
         |g AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_key
         |      FROM documents d LEFT JOIN cc_d cc ON cc.doc_id = d.doc_id),
         |h AS (SELECT doc_id, group_key,
         |        ('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 15))::BIGINT % 100 AS h
         |      FROM g)
         |SELECT doc_id, group_key,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         |FROM h""".stripMargin,

    "q_dedup_incr_exact" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM f
         |WHERE doc_id % 5 = 0
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 5 <> 0)
         |GROUP BY fp""".stripMargin,

    // the bloom pre-gate is an exact-result optimization (no false
    // negatives; false positives fall to the anti-join), so its oracle is
    // the exact form's SQL verbatim
    "q_dedup_incr_bloom" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM f
         |WHERE doc_id % 5 = 0
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 5 <> 0)
         |GROUP BY fp""".stripMargin,

    "q_dedup_spans" ->
      s"""WITH $duckSpanCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start AS n_tokens
         |FROM sp""".stripMargin,

    "q_dedup_spans_cut" ->
      s"""WITH $duckSpanCtes,
         |tok AS (SELECT doc_id, p.idx AS idx, p.tk AS tk
         |        FROM (SELECT doc_id,
         |                unnest([{'idx': i, 'tk': toks[i]} for i in range(1, len(toks) + 1)]) AS p
         |              FROM t)),
         |kept AS (SELECT tok.doc_id, idx, tk
         |         FROM tok LEFT JOIN sp ON tok.doc_id = sp.doc_id
         |           AND idx >= sp.span_start AND idx < sp.span_end
         |         WHERE sp.doc_id IS NULL),
         |kagg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS ct
         |         FROM kept GROUP BY 1),
         |cut AS (SELECT doc_id, CAST(sum(span_end - span_start) AS BIGINT) AS n_cut
         |        FROM sp GROUP BY 1)
         |SELECT t.doc_id, coalesce(ct, '') AS clean_text,
         |  coalesce(n_cut, 0)::BIGINT AS n_cut_tokens
         |FROM t LEFT JOIN kagg USING (doc_id) LEFT JOIN cut USING (doc_id)""".stripMargin,

    "q_dedup_incr_near" ->
      s"""WITH perms AS ($duckPerms),
         |t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, $duckShingles AS shingles FROM t WHERE len(toks) >= 3),
         |hs AS (SELECT doc_id, ${duckHash("s")} % $MersennePrime AS h
         |       FROM sh, unnest(shingles) u(s)),
         |mh AS (SELECT doc_id, p.i AS i, min((p.a * h + p.b) % $MersennePrime) AS h
         |       FROM hs, perms p GROUP BY doc_id, p.i),
         |sig AS (SELECT doc_id, i // $MinhashRows AS band,
         |          string_agg(h::VARCHAR, ',' ORDER BY i) AS sig
         |        FROM mh GROUP BY doc_id, i // $MinhashRows),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
         |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |          / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
         |      FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM v WHERE jaccard >= $JaccardThreshold""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_sum([v[i] * v[i] for i in range(1, 65)])) AS nrm FROM e),
         |nv AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |        list_sum([a.nv[i] * b.nv[i] for i in range(1, 65)]) AS cos
         |      FROM nv a JOIN nv b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, round(cos, 6) AS cos FROM p WHERE cos >= $CosineThreshold""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_sum([v[i] * v[i] for i in range(1, 65)])) AS nrm FROM e),
         |nv AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
         |k AS (SELECT greatest($SemCells, (count(*) + ${SemTargetCell - 1}) // $SemTargetCell) AS k
         |      FROM embeddings),
         |c AS (SELECT vec_id AS cell, nv AS cv FROM nv WHERE vec_id < (SELECT k FROM k)),
         |r AS (SELECT v.vec_id, c.cell,
         |        row_number() OVER (PARTITION BY v.vec_id
         |          ORDER BY list_sum([v.nv[i] * c.cv[i] for i in range(1, 65)]) DESC, c.cell) AS rk
         |      FROM nv v CROSS JOIN c),
         |asg AS (SELECT vec_id, cell FROM r WHERE rk = 1),
         |dropped AS (SELECT DISTINCT a.vec_id
         |            FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |            JOIN nv na ON na.vec_id = a.vec_id JOIN nv nb ON nb.vec_id = b.vec_id
         |            WHERE list_sum([na.nv[i] * nb.nv[i] for i in range(1, 65)]) >= $SemThreshold)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,

    // Incremental SemDeDup: same norm/cents/assignment CTEs as
    // q_dedup_semantic (the quantizer is frozen from the UNION = the whole
    // table); an ODD (increment) vector drops iff ANY even (history) cell
    // mate or a lower-id odd cell mate crosses the threshold.
    "q_dedup_semantic_incr" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_sum([v[i] * v[i] for i in range(1, 65)])) AS nrm FROM e),
         |nv AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
         |k AS (SELECT greatest($SemCells, (count(*) + ${SemTargetCell - 1}) // $SemTargetCell) AS k
         |      FROM embeddings),
         |c AS (SELECT vec_id AS cell, nv AS cv FROM nv WHERE vec_id < (SELECT k FROM k)),
         |r AS (SELECT v.vec_id, c.cell,
         |        row_number() OVER (PARTITION BY v.vec_id
         |          ORDER BY list_sum([v.nv[i] * c.cv[i] for i in range(1, 65)]) DESC, c.cell) AS rk
         |      FROM nv v CROSS JOIN c),
         |asg AS (SELECT vec_id, cell FROM r WHERE rk = 1),
         |dropped AS (SELECT DISTINCT a.vec_id
         |            FROM asg a JOIN asg b ON a.cell = b.cell
         |              AND a.vec_id % 2 = 1
         |              AND (b.vec_id % 2 = 0 OR b.vec_id < a.vec_id)
         |              AND b.vec_id != a.vec_id
         |            JOIN nv na ON na.vec_id = a.vec_id JOIN nv nb ON nb.vec_id = b.vec_id
         |            WHERE list_sum([na.nv[i] * nb.nv[i] for i in range(1, 65)]) >= $SemThreshold)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM asg
         |WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin)
}
