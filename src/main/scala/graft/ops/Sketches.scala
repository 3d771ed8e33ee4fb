package graft.ops

import graft.Tables
import graft.functions.{Aggregators, Determinism}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** Sketch-backed EXACT heavy hitters — the two-pass scheme production
  * engines use when "top frequent items" must be exact but the domain is
  * too wide to hash-aggregate in memory:
  *
  *   pass 1: one aggregate pass builds a mergeable Misra-Gries sketch
  *     (functions/Aggregators.misraGries) whose candidate set provably
  *     contains every item with frequency > n/(capacity+1). With
  *     `Capacity + 1 >= ThresholdK` that is a superset of the heavy set
  *     {freq * K > n}. The shuffle carries one <= Capacity-entry map per
  *     map partition — constant bytes regardless of corpus size.
  *   pass 2: the <= Capacity candidates broadcast back as an `isin` gate;
  *     only matching tokens are exactly recounted (map-side partial agg on
  *     a 256-way key space) and thresholded against the exact total from
  *     pass 1.
  *
  * The sketch's counting error never reaches the output — it only decides
  * WHICH tokens get an exact recount — so the result is bit-identical to a
  * full GROUP BY ... HAVING, at two scans and O(Capacity) shuffle bytes
  * instead of a corpus-wide token shuffle. The reference's engine exposes
  * grouped counting (function/sum AggregationFunction, Table.java agg
  * surface); this is the scale path for its "frequent values" use over an
  * unbounded domain.
  *
  * Driver reads: ONE 1-row sketch read (the documented bounded-model-read
  * pattern, like BPE/classifier).
  */
object Sketches {

  /** Heavy = tokens with count * ThresholdK > total tokens (i.e. > 0.5%). */
  val ThresholdK = 200
  val Capacity = 256
  require(Capacity + 1 >= ThresholdK, "MG guarantee needs capacity+1 >= K")

  def heavyHitters(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val toks = docs.select(explode(Text.tokens(col("text"))).as("token"))
    val sk = toks.as[String].select(Aggregators.misraGries(Capacity).toColumn).head()
    toks.where(col("token").isin(sk.candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .where(col("n") * lit(ThresholdK.toLong) > lit(sk.n))
  }

  /** HyperLogLog distinct counting with the SKETCH AS A TABLE (Flajolet et
    * al. 2007) — unlike `approx_count_distinct`'s opaque buffer, the
    * (group, bucket, rho) register table is queryable, storable, and
    * mergeable by plain `max` groupBy: per-day registers roll up to any
    * coarser period without touching raw data, which is the incremental-
    * distinct contract warehouses build ("count distinct users, any date
    * range, from daily sketches").
    *
    * Scale: one partial+final agg over (day, bucket) — ≤ m rows per day
    * regardless of event volume; the estimate finishes on the tiny register
    * table. Exact per-day distincts ride along for calibration (they're
    * affordable per-day; the sketch exists for the MERGE).
    *
    * Engine-portable determinism (what stock HLL can't give): the hash is
    * the md5-60bit convention, rho comes from integer `length(bin(w))` (no
    * float log2 near powers of two), and the harmonic sum folds the
    * bucket-SORTED register list left-to-right (`aggregate` /
    * `list_reduce`) with absent registers batched as one exact
    * `(m − p)·1.0` term — both engines replay the identical arithmetic, so
    * even this approximate estimator hash-matches to the last bit.
    */
  val HllBuckets = 256
  /** alpha_m for m=256: 0.7213/(1 + 1.079/m) — shared literal, cast
    * explicitly (DuckDB would otherwise parse the literal as DECIMAL and
    * overflow the register-count multiplication).
    */
  val HllAlpha = "CAST(0.7182725932495458 AS DOUBLE)"

  /** The register table: (day, bucket, max rho). Mergeable by plain
    * max-groupBy — `hllMerge(regsA union regsB) == hllRegisters(A union B)`
    * (spec'd), which is what makes per-period sketches roll up.
    */
  def hllRegisters(events: DataFrame): DataFrame = {
    val m = HllBuckets
    events
      .select(expr("__time__ div 86400000").as("day"),
        expr(Determinism.md5LongSql("cast(user_id as string)")).as("h"))
      .select(col("day"), pmod(col("h"), lit(m.toLong)).as("bucket"),
        expr(s"h div ${m}L").as("w"))
      .groupBy(col("day"), col("bucket"))
      .agg(max(expr("case when w = 0 then 53L else 52L - length(bin(w)) + 1 end")).as("rho"))
  }

  def hllMerge(regs: DataFrame): DataFrame =
    regs.groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("rho"))

  /** Estimate per day from a register table. */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val m = HllBuckets
    regs
      .groupBy(col("day"))
      .agg(count(lit(1)).as("p"),
        sort_array(collect_list(struct(col("bucket"), col("rho")))).as("rs"))
      .select(col("day"),
        expr(s"aggregate(rs, cast(0.0 as double), (acc, s) -> acc + pow(2.0, -cast(s.rho as double)))" +
          s" + cast($m - p as double)").as("s"),
        (lit(m.toLong) - col("p")).as("v"))
      .select(col("day"),
        expr(s"round(case when $HllAlpha * $m * $m / s <= 2.5 * $m and v > 0" +
          s" then $m * ln(cast($m as double) / cast(v as double))" +
          s" else $HllAlpha * $m * $m / s end, 4)").as("est_hll"))
  }

  def hllDaily(events: DataFrame): DataFrame = {
    val est = hllEstimate(hllRegisters(events))
    val exact = events
      .select(expr("__time__ div 86400000").as("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_exact"))
    exact.join(est, Seq("day"))
  }

  /** Count-Min sketch as a table (Cormode & Muthukrishnan 2005): a
    * depth×width grid of counters buildable in ONE partial+final agg over
    * the token stream (the explode is a map-side ×depth fan of 16-byte
    * structs; the agg domain is depth·width = 256 cells regardless of
    * corpus size), mergeable across partitions/periods by plain SUM.
    * Point queries (est = min over rows of the hashed cell) then run as a
    * probe-list join against the tiny cell table. The one-sided guarantee
    * — est ≥ exact always, est ≤ exact + εN w.h.p. — is spec'd, and
    * because everything is integer arithmetic over md5-convention hashes,
    * even the ESTIMATES hash-match the oracle exactly.
    */
  val CmsDepth = 4
  val CmsWidth = 64

  /** How many corpus-derived probe tokens the CMS point-query demo uses. */
  val CmsProbeK = 8
  /** A token the corpus can never contain (tokens are split on whitespace
    * from lower-cased text, and the fixture vocabulary is [a-z]+; the
    * underscore keeps it out of ANY Caesar-rotated redraw too). It
    * exercises the no-exact-row path: absent on both sides of the inner
    * join.
    */
  val CmsAbsentProbe = "zzz_absent_9"

  private def cmsHash(i: Int, tokExpr: String): String =
    s"${Determinism.md5LongSql(s"concat('cms$i:', $tokExpr)")} % $CmsWidth"

  def cmsEstimates(docs: DataFrame): DataFrame = {
    // The probe set is DERIVED from the corpus (its CmsProbeK most frequent
    // tokens + one guaranteed-absent term) rather than literal: a seeded
    // fixture's bijective text redraw rewrites the vocabulary, and a
    // literal probe list silently turns the whole query into 0 == 0 rows
    // (found round 14).
    //
    // Everything downstream is a function of per-token COUNTS, so aggregate
    // the instance stream to the vocabulary-sized (token, tn) table ONCE and
    // derive all three legs from it (guide §2.3 — aggregate before you fan):
    //   - the CMS cell table = the 4-hash fan over DISTINCT tokens weighted
    //     by tn (count over instances grouped by (i, c) == sum of per-token
    //     counts, exactly) — the 4 md5+hex+conv chains now run per distinct
    //     token, not per instance;
    //   - the probe top-k reads it directly (it IS the former groupBy);
    //   - the exact leg is a semi-join lookup of tn (the former
    //     join+groupBy re-counted what tn already holds; the absent probe
    //     still has no row on the exact side, same inner-join drop).
    // The pin also shrinks from instance-sized to vocabulary-sized.
    val tc = docs.select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tn"))
      .pinned(false)
    val cells = tc
      .select(col("tn"), explode(expr(
        (0 until CmsDepth).map(i => s"struct(${i}L as i, ${cmsHash(i, "token")} as c)")
          .mkString("array(", ", ", ")"))).as("s"))
      .groupBy(col("s.i").as("i"), col("s.c").as("c"))
      .agg(sum(col("tn")).as("n"))
    val probes = tc
      .orderBy(col("tn").desc, col("token")).limit(CmsProbeK)
      .select(col("token"))
      .unionAll(docs.sparkSession.range(1).select(lit(CmsAbsentProbe).as("token")))
    val probeCells = probes.select(col("token"), explode(expr(
      (0 until CmsDepth).map(i => s"struct(${i}L as i, ${cmsHash(i, "token")} as c)")
        .mkString("array(", ", ", ")"))).as("s"))
      .select(col("token"), col("s.i").as("i"), col("s.c").as("c"))
    val est = probeCells
      .join(cells, Seq("i", "c"))
      .groupBy(col("token"))
      .agg(min(col("n")).as("est_cms"))
    val exact = tc.join(broadcast(probes), Seq("token"))
      .select(col("token"), col("tn").as("n_exact"))
    exact.join(est, Seq("token"))
  }

  /** Rolling MAU from merged daily HLL registers — the sketch path
    * `Behavior.stickiness` documents for windows too wide to re-distinct
    * exactly: each day's ≤m-row register set fans into the ≤`windowDays`
    * window-ends it supports (a fan of REGISTER rows — 30·m per day,
    * independent of event volume, where the exact form fans user-days),
    * merges by max, and estimates. The estimate is oracle-hash-exact like
    * `q_distinct_hll`; SketchesSpec additionally pins it within the HLL
    * error envelope of the EXACT rolling MAU.
    */
  def mauHll(events: DataFrame, windowDays: Int = Behavior.MauWindowDays): DataFrame = {
    val regs = hllRegisters(events)
    val bounds = regs.agg(max(col("day")).as("max_day"))
    val windowed = regs.crossJoin(broadcast(bounds))
      .select(explode(expr(
        s"filter(sequence(day, day + ${windowDays - 1}), w -> w <= max_day)")).as("day"),
        col("bucket"), col("rho"))
      .groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("rho"))
    hllEstimate(windowed).withColumnRenamed("est_hll", "est_mau")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_heavy_hitters" -> ((s, d) => heavyHitters(s, Tables.documents(s, d))),
    "q_distinct_hll" -> ((s, d) => hllDaily(Tables.events(s, d))),
    "q_mau_hll" -> ((s, d) => mauHll(Tables.events(s, d))),
    "q_freq_cms" -> ((s, d) => cmsEstimates(Tables.documents(s, d))))

  val oracleSql: Map[String, String] = Map(
    "q_distinct_hll" -> {
      val m = HllBuckets
      s"""WITH h AS (SELECT epoch_ms(ts) // 86400000 AS day,
         |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM events),
         |b AS (SELECT day, h % $m AS bucket, h // $m AS w FROM h),
         |regs AS (SELECT day, bucket,
         |  max(CASE WHEN w = 0 THEN 53 ELSE 52 - length(bin(w)) + 1 END) AS rho
         |FROM b GROUP BY 1, 2),
         |g AS (SELECT day, count(*) AS p,
         |        list({'bucket': bucket, 'rho': rho} ORDER BY bucket, rho) AS rs
         |      FROM regs GROUP BY 1),
         |s AS (SELECT day,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(rs, x -> pow(2.0, -CAST(x.rho AS DOUBLE)))), (a, c) -> a + c)
         |          + CAST($m - p AS DOUBLE) AS s,
         |        $m - p AS v
         |      FROM g),
         |est AS (SELECT day,
         |  round(CASE WHEN $HllAlpha * $m * $m / s <= 2.5 * $m AND v > 0
         |        THEN $m * ln(CAST($m AS DOUBLE) / CAST(v AS DOUBLE))
         |        ELSE $HllAlpha * $m * $m / s END, 4) AS est_hll
         |FROM s),
         |exact AS (SELECT day, count(DISTINCT user_id) AS n_exact FROM
         |  (SELECT epoch_ms(ts) // 86400000 AS day, user_id FROM events) GROUP BY 1)
         |SELECT day, n_exact, est_hll FROM exact JOIN est USING (day)""".stripMargin
    },
    "q_mau_hll" -> {
      val m = HllBuckets
      val wd = Behavior.MauWindowDays
      s"""WITH h AS (SELECT epoch_ms(ts) // 86400000 AS day,
         |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM events),
         |b AS (SELECT day, h % $m AS bucket, h // $m AS w FROM h),
         |regs AS (SELECT day, bucket,
         |  max(CASE WHEN w = 0 THEN 53 ELSE 52 - length(bin(w)) + 1 END) AS rho
         |FROM b GROUP BY 1, 2),
         |mx AS (SELECT max(day) AS max_day FROM regs),
         |wreg AS (SELECT r.day + k.k AS day, bucket, max(rho) AS rho
         |         FROM regs r, (SELECT unnest(range($wd)) AS k) k, mx
         |         WHERE r.day + k.k <= mx.max_day GROUP BY 1, 2),
         |g AS (SELECT day, count(*) AS p,
         |        list({'bucket': bucket, 'rho': rho} ORDER BY bucket, rho) AS rs
         |      FROM wreg GROUP BY 1),
         |s AS (SELECT day,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(rs, x -> pow(2.0, -CAST(x.rho AS DOUBLE)))), (a, c) -> a + c)
         |          + CAST($m - p AS DOUBLE) AS s,
         |        $m - p AS v
         |      FROM g)
         |SELECT day,
         |  round(CASE WHEN $HllAlpha * $m * $m / s <= 2.5 * $m AND v > 0
         |        THEN $m * ln(CAST($m AS DOUBLE) / CAST(v AS DOUBLE))
         |        ELSE $HllAlpha * $m * $m / s END, 4) AS est_mau
         |FROM s""".stripMargin
    },
    "q_freq_cms" -> {
      def h(i: Int, e: String) = s"('0x' || substr(md5('cms$i:' || $e), 1, 15))::BIGINT % $CmsWidth"
      val cellArms = (0 until CmsDepth).map(i => s"{'i': $i, 'c': ${h(i, "token")}}").mkString(", ")
      s"""WITH toks AS (SELECT unnest(str_split(${Text.normSql}, ' ')) AS token FROM documents),
         |cells AS (SELECT s.i AS i, s.c AS c, count(*) AS n
         |          FROM (SELECT unnest([$cellArms]) AS s FROM toks) GROUP BY 1, 2),
         |probes AS (SELECT token FROM (
         |             SELECT token, count(*) AS pc FROM toks GROUP BY 1
         |             ORDER BY pc DESC, token LIMIT $CmsProbeK)
         |           UNION ALL SELECT '$CmsAbsentProbe'),
         |pc AS (SELECT token, s.i AS i, s.c AS c
         |       FROM (SELECT token, unnest([$cellArms]) AS s FROM probes)),
         |est AS (SELECT token, min(n) AS est_cms
         |        FROM pc JOIN cells USING (i, c) GROUP BY 1),
         |exact AS (SELECT token, count(*) AS n_exact FROM toks
         |          WHERE token IN (SELECT token FROM probes) GROUP BY 1)
         |SELECT token, n_exact, CAST(est_cms AS BIGINT) AS est_cms
         |FROM exact JOIN est USING (token)""".stripMargin
    },
    "q_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(str_split(${Text.normSql}, ' ')) AS token
         |              FROM documents),
         |tot AS (SELECT count(*) AS n FROM toks)
         |SELECT token, count(*) AS n FROM toks GROUP BY 1
         |HAVING count(*) * $ThresholdK > (SELECT n FROM tot)""".stripMargin)
}
