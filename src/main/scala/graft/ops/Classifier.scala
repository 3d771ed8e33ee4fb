package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Pinned.PinnedOps

/** On-engine quality-classifier training — the fasttext/CCNet pattern
  * (curated-vs-crawl document classifier used as the corpus quality filter),
  * trained INSIDE the engine with full-batch gradient descent so the whole
  * loop is DataFrame aggregates: broadcast the weight vector as plan
  * literals, aggregate the gradient, update, repeat. The reference has no
  * trainable component; this extends the quality-calibration layer
  * (`q_quality_thresholds*` consume scores like the one this model emits).
  *
  * Scale shape: the corpus is featurized ONCE (map-only tokenize pass,
  * pinned); each GD round is one partial-aggregated scan of the tiny
  * feature projection — gradients fold map-side, the driver reads ONE row
  * per round (the new weight vector = the model, the `Bpe.learnMerges`
  * per-round model-read class). This IS distributed full-batch GD: params
  * broadcast down, gradients aggregate up.
  *
  * Engine parity: the logistic is the HARD sigmoid `clamp(0.5 + z/4, 0, 1)`
  * — pure +,*,clamp arithmetic, bit-identical across engines, where
  * `exp()` ULP differences could flip a rounding. Gradients and updated
  * weights are round(·, 6)-ed by the ENGINE each round (the Lloyd-step
  * convention), so round r+1's literals are identical on both sides.
  */
object Classifier {

  val Rounds = 3
  val LearnRate = 1.0
  /** Label proxy on the shared testdata: the "curated" source set. */
  val CuratedSources: Seq[String] = (0 to 4).map(i => s"src$i")

  /** (doc_id, source, y, x1, x2, x3) features: label, saturated length,
    * stopword ratio, uniqueness ratio — the `Text.quality` ingredients.
    */
  def featurize(docs: DataFrame, positives: Seq[String]): DataFrame =
    docs.select(col("doc_id"), col("source"), Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("source"),
        when(col("source").isInCollection(positives), 1.0).otherwise(0.0).as("y"),
        least(lit(1.0), size(col("toks")).cast("double") / 80.0).as("x1"),
        round(expr(s"size(filter(toks, t -> t IN (${Text.stopwords.map(s => s"'$s'").mkString(", ")})))")
          .cast("double") / size(col("toks")), 6).as("x2"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6).as("x3"))

  /** GD rounds over an already-pinned feature projection; one Row per round:
    * (round, w0..w3). Shared by `train` and `classifierFilter` so the corpus
    * is tokenized/featurized exactly once per job.
    */
  /** One full-batch GD step: broadcast `w` as plan literals, aggregate the
    * gradient, read ONE row back.
    */
  private def stepW(f: DataFrame, w: Array[Double], lr: Double): Array[Double] = {
    // z left-associated: w0 + w1*x1 + w2*x2 + w3*x3, same order as oracle
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")
    val p = least(lit(1.0), greatest(lit(0.0), lit(0.5) + z / lit(4.0)))
    def upd(j: Int, x: Column): Column =
      round(lit(w(j)) - lit(lr) * round(avg((p - col("y")) * x), 6), 6)
    val row = f.agg(
      upd(0, lit(1.0)).as("w0"), upd(1, col("x1")).as("w1"),
      upd(2, col("x2")).as("w2"), upd(3, col("x3")).as("w3"))
      .collect()(0) // the one-row model read, see scaladoc
    Array(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
  }

  private def gdRounds(f: DataFrame, rounds: Int, lr: Double): Seq[Row] = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    val out = Seq.newBuilder[Row]
    for (r <- 1 to rounds) {
      w = stepW(f, w, lr)
      out += Row(r.toLong, w(0), w(1), w(2), w(3))
    }
    out.result()
  }

  val MaxRounds = 20
  /** Convergence threshold on max per-weight delta, in integer micro-units:
    * the weights are round(·,6)-quantized each round, so deltas ×1e6 are
    * exact BIGINTs on both engines — an epsilon compare with no
    * floating-point boundary to disagree over.
    */
  val EpsE6 = 6000L

  /** Run GD until the weight vector moves less than `epsE6` micro-units in
    * max-norm, or `maxRounds` — the `Dedup.connectedComponents` convergence-
    * read pattern applied to model training (one 1-row read per round; the
    * loop stops on the model's own trajectory, not a fixed count). Returns
    * (rounds actually run, final weights, converged?).
    */
  private def convergeOn(
      f: DataFrame, maxRounds: Int, epsE6: Long, lr: Double): (Int, Array[Double], Boolean) = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val nw = stepW(f, w, lr)
      val d6 = (0 to 3).map(j =>
        math.abs(math.round(nw(j) * 1e6) - math.round(w(j) * 1e6))).max
      r += 1
      w = nw
      if (d6 < epsE6) converged = true
    }
    (r, w, converged)
  }

  /** Converged training as a query: ONE row (rounds_run, w0..w3, converged).
    * The oracle unrolls `MaxRounds` rounds and picks the first round whose
    * delta is under the threshold — same answer, computed eagerly; the
    * engine's loop stops early instead (that IS the operator's value: a 30-
    * round budget that converges in 18 costs 18 scans, not 30).
    */
  def trainConverged(docs: DataFrame, positives: Seq[String] = CuratedSources,
      maxRounds: Int = MaxRounds, epsE6: Long = EpsE6, lr: Double = LearnRate): DataFrame = {
    val spark = docs.sparkSession
    val f = featurize(docs, positives).pinned(false)
    val (r, w, conv) = convergeOn(f, maxRounds, epsE6, lr)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(r.toLong, w(0), w(1), w(2), w(3), conv)), 1),
      StructType(Seq(
        StructField("rounds_run", LongType, nullable = false),
        StructField("w0", DoubleType, nullable = false),
        StructField("w1", DoubleType, nullable = false),
        StructField("w2", DoubleType, nullable = false),
        StructField("w3", DoubleType, nullable = false),
        StructField("converged", BooleanType, nullable = false))))
  }

  val EvalFold = 5L

  /** Held-out evaluation of the CONVERGED model — the step that makes the
    * trained filter CALIBRATABLE rather than merely reproducible: train on
    * doc_id % 5 != 0, score the held-out fold, report accuracy and
    * tie-corrected AUC (Mann-Whitney), all in integer micro-units computed
    * with pure BIGINT arithmetic (2·rank_avg of a tie group = min+max of its
    * dense row_numbers, so no floating ranks cross the engine boundary).
    * The rank window runs over the HELD-OUT fold only — eval-set-sized, but
    * that fold is a fixed share of the corpus, so the single-partition sort
    * still grows with it.
    */
  def classifierEval(docs: DataFrame, positives: Seq[String] = CuratedSources,
      maxRounds: Int = MaxRounds, epsE6: Long = EpsE6, lr: Double = LearnRate): DataFrame = {
    val f = featurize(docs, positives).pinned(false)
    val ftr = f.filter(col("doc_id") % EvalFold =!= 0)
    val fte = f.filter(col("doc_id") % EvalFold === 0)
    val (_, w, _) = convergeOn(ftr, maxRounds, epsE6, lr)
    val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    val p = least(lit(1.0), greatest(lit(0.0), lit(0.5) + z / lit(4.0)))
    val sc = fte.select(col("doc_id"), col("y"), p.as("p"))
    // Global window bound: corpus-growing (the held-out fold is 1/EvalFold of
    // the documents); a single-partition stage, see ROADMAP direction 3.
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("p"), col("doc_id"))
    val byP = org.apache.spark.sql.expressions.Window.partitionBy(col("p"))
    val nTrain = ftr.count()
    sc.withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("mn", min(col("rn")).over(byP))
      .withColumn("mx", max(col("rn")).over(byP))
      .agg(
        sum(when(col("y") === 1.0, col("mn") + col("mx")).otherwise(0L)).cast("long").as("sum2"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).cast("long").as("npos"),
        sum(when(col("y") === 0.0, 1L).otherwise(0L)).cast("long").as("nneg"),
        sum(when((col("p") >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L)).cast("long").as("ncorrect"),
        count(lit(1)).as("n_test"))
      .select(lit(nTrain).as("n_train"), col("n_test"),
        expr("ncorrect * 1000000L div n_test").as("accuracy_e6"),
        expr("(sum2 - npos * (npos + 1)) * 1000000L div (2 * npos * nneg)").as("auc_e6"))
  }

  private def trajectoryDf(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("round", LongType, nullable = false) +:
        (0 to 3).map(j => StructField(s"w$j", DoubleType, nullable = false)): _*)))

  /** Train `rounds` full-batch GD steps from w = 0; returns one row per
    * round: (round, w0..w3) — the weight trajectory, i.e. the model and its
    * training history.
    */
  def train(docs: DataFrame, positives: Seq[String] = CuratedSources,
      rounds: Int = Rounds, lr: Double = LearnRate): DataFrame = {
    val f = featurize(docs, positives).pinned(false)
    trajectoryDf(docs.sparkSession, gdRounds(f, rounds, lr))
  }

  /** The trained model APPLIED end-to-end (the `q_quality_lm_filter`
    * composition pattern): train on the corpus, then score every document
    * with the final weights as plan literals (the broadcast-model pattern).
    * Returns (doc_id, source, p_e6, kept) — p in integer micro-units via
    * floor, `kept` = p >= 0.5, the filter verdict made visible instead of
    * applied (on weakly-separable data a hard cut can keep nothing; the
    * score table is the durable artifact and the cut is a caller choice,
    * exactly like `quality_e6` feeding `qualityThresholds*`).
    */
  def classifierFilter(docs: DataFrame, positives: Seq[String] = CuratedSources): DataFrame = {
    // featurize ONCE: the same pinned projection feeds every GD round and the
    // final scoring pass (round-9 advice: train+score was tokenizing twice)
    val f = featurize(docs, positives).pinned(false)
    val last = gdRounds(f, Rounds, LearnRate).maxBy(_.getLong(0))
    val (w0, w1, w2, w3) =
      (last.getDouble(1), last.getDouble(2), last.getDouble(3), last.getDouble(4))
    val z = lit(w0) + lit(w1) * col("x1") + lit(w2) * col("x2") + lit(w3) * col("x3")
    val p = least(lit(1.0), greatest(lit(0.0), lit(0.5) + z / lit(4.0)))
    f
      .select(col("doc_id"), col("source"), p.as("p"))
      .select(col("doc_id"), col("source"),
        expr("cast(floor(p * 1000000.0) as bigint)").as("p_e6"),
        (col("p") >= 0.5).as("kept"))
  }

  // --- driver contract -----------------------------------------------------

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val stopList = Text.stopwords.map(s => s"'$s'").mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_train_classifier" -> ((s, d) => train(Tables.documents(s, d))),
    "q_pipeline_classifier" -> ((s, d) => classifierFilter(Tables.documents(s, d))),
    "q_train_converged" -> ((s, d) => trainConverged(Tables.documents(s, d))),
    "q_classifier_eval" -> ((s, d) => classifierEval(Tables.documents(s, d))))

  private val featsSelect =
    s"""SELECT doc_id, source,
       |  CASE WHEN source IN (${CuratedSources.map(s => s"'$s'").mkString(", ")})
       |    THEN 1.0 ELSE 0.0 END AS y,
       |  least(1.0, CAST(len(toks) AS DOUBLE) / 80.0) AS x1,
       |  round(CAST(len(list_filter(toks, t -> t IN ($stopList))) AS DOUBLE) / len(toks), 6) AS x2,
       |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS x3
       |  FROM (SELECT doc_id, source, string_split($normSql, ' ') AS toks FROM documents)""".stripMargin

  /** MATERIALIZED matters: each round references the previous round's CTE
    * twice, so an inlining planner would expand the chain 2^rounds times
    * (20 rounds = a million parquet opens — found as an fd exhaustion).
    */
  private def gdRoundCte(cur: String, prev: String, from: String): String =
    s"""$cur AS MATERIALIZED (SELECT
       |  round(w.w0 - $LearnRate * round(avg((p - y) * 1.0), 6), 6) AS w0,
       |  round(w.w1 - $LearnRate * round(avg((p - y) * x1), 6), 6) AS w1,
       |  round(w.w2 - $LearnRate * round(avg((p - y) * x2), 6), 6) AS w2,
       |  round(w.w3 - $LearnRate * round(avg((p - y) * x3), 6), 6) AS w3
       |  FROM (SELECT y, x1, x2, x3,
       |          least(1.0, greatest(0.0,
       |            0.5 + (w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3) / 4.0)) AS p
       |        FROM $from, $prev w), $prev w
       |  GROUP BY w.w0, w.w1, w.w2, w.w3)""".stripMargin

  /** Shared CTE chain: f (features incl. doc_id/source) and w0..wRounds. */
  private def trainCtes: Seq[String] = {
    val feats =
      s"""f AS ($featsSelect),
         |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin
    val rounds = (1 to Rounds).map(r => gdRoundCte(s"w$r", s"w${r - 1}", "f"))
    feats +: rounds
  }

  /** Unrolled convergence chain: af (all features) → cf (train subset) →
    * cw1..cwMaxRounds → per-round micro-unit deltas → first converged round.
    * The oracle computes ALL MaxRounds rounds and selects; the engine stops
    * at the selection — identical output by construction.
    */
  private def convergenceCtes(where: String): Seq[String] = {
    val base = Seq(
      s"af AS MATERIALIZED ($featsSelect)",
      s"cf AS MATERIALIZED (SELECT * FROM af$where)",
      "cw0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)")
    val rounds = (1 to MaxRounds).map(r => gdRoundCte(s"cw$r", s"cw${r - 1}", "cf"))
    val traj = "ctraj AS (SELECT 0 AS r, 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3" +
      (1 to MaxRounds).map(r => s"\nUNION ALL SELECT $r, w0, w1, w2, w3 FROM cw$r").mkString + ")"
    val d =
      """cd AS (SELECT c.r, c.w0, c.w1, c.w2, c.w3, greatest(
        |  abs(CAST(round(c.w0 * 1000000) AS BIGINT) - CAST(round(p2.w0 * 1000000) AS BIGINT)),
        |  abs(CAST(round(c.w1 * 1000000) AS BIGINT) - CAST(round(p2.w1 * 1000000) AS BIGINT)),
        |  abs(CAST(round(c.w2 * 1000000) AS BIGINT) - CAST(round(p2.w2 * 1000000) AS BIGINT)),
        |  abs(CAST(round(c.w3 * 1000000) AS BIGINT) - CAST(round(p2.w3 * 1000000) AS BIGINT))) AS d6
        |  FROM ctraj c JOIN ctraj p2 ON p2.r = c.r - 1 WHERE c.r >= 1)""".stripMargin
    val conv = s"cconv AS (SELECT min(r) AS rstar FROM cd WHERE d6 < $EpsE6)"
    (base ++ rounds) ++ Seq(traj, d, conv)
  }

  def oracleSql: Map[String, String] = Map(
    "q_train_classifier" -> {
      val unions = (1 to Rounds)
        .map(r => s"SELECT CAST($r AS BIGINT) AS round, w0, w1, w2, w3 FROM w$r")
        .mkString("\n", "\nUNION ALL\n", "")
      trainCtes.mkString("WITH ", ",\n", unions)
    },

    "q_pipeline_classifier" -> {
      val score =
        s"""
           |SELECT doc_id, source, CAST(floor(p * 1000000.0) AS BIGINT) AS p_e6,
           |       p >= 0.5 AS kept
           |FROM (SELECT doc_id, source,
           |        least(1.0, greatest(0.0,
           |          0.5 + (w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3) / 4.0)) AS p
           |      FROM f, w$Rounds w)""".stripMargin
      trainCtes.mkString("WITH ", ",\n", score)
    },

    "q_train_converged" -> {
      val fin =
        s"""
           |SELECT CAST(coalesce(cv.rstar, $MaxRounds) AS BIGINT) AS rounds_run,
           |       d.w0, d.w1, d.w2, d.w3, cv.rstar IS NOT NULL AS converged
           |FROM cd d, cconv cv WHERE d.r = coalesce(cv.rstar, $MaxRounds)""".stripMargin
      convergenceCtes("").mkString("WITH ", ",\n", fin)
    },

    "q_classifier_eval" -> {
      val evalCtes = Seq(
        s"""wm AS (SELECT d.w0, d.w1, d.w2, d.w3 FROM cd d, cconv cv
           |  WHERE d.r = coalesce(cv.rstar, $MaxRounds))""".stripMargin,
        s"ef AS (SELECT * FROM af WHERE doc_id % $EvalFold = 0)",
        """sc AS (SELECT doc_id, y, least(1.0, greatest(0.0,
          |  0.5 + (w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3) / 4.0)) AS p FROM ef, wm w)""".stripMargin,
        """rn AS (SELECT doc_id, y, p,
          |  CAST(row_number() OVER (ORDER BY p, doc_id) AS BIGINT) AS rn FROM sc)""".stripMargin,
        """g AS (SELECT y, p, rn, min(rn) OVER (PARTITION BY p) AS mn,
          |  max(rn) OVER (PARTITION BY p) AS mx FROM rn)""".stripMargin,
        """ag AS (SELECT
          |  CAST(sum(CASE WHEN y = 1.0 THEN mn + mx ELSE 0 END) AS BIGINT) AS sum2,
          |  CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
          |  CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS nneg,
          |  CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS ncorrect,
          |  count(*) AS n_test FROM g)""".stripMargin)
      val fin =
        s"""
           |SELECT (SELECT count(*) FROM cf) AS n_train, n_test,
           |       ncorrect * 1000000 // n_test AS accuracy_e6,
           |       (sum2 - npos * (npos + 1)) * 1000000 // (2 * npos * nneg) AS auc_e6
           |FROM ag""".stripMargin
      (convergenceCtes(s" WHERE doc_id % $EvalFold <> 0") ++ evalCtes)
        .mkString("WITH ", ",\n", fin)
    })
}
