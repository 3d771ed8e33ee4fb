package graft.ops

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al. 2009) of a
  * lexical BM25 list and a semantic embedding-cosine list —
  * `score(d) = Σ_lists 1/(K + rank_list(d))` over the docs present in either
  * top-k list. RRF needs no score calibration between the legs (it consumes
  * only ranks), which is why it is the standard first fusion for
  * text+vector search.
  *
  * The doc universe and the vector universe share ids (TESTDATA.md:
  * `vec_id` ≡ `doc_id`), so fusion is an id equi-join.
  *
  * Scale shape: each leg is already scale-shaped (BM25: query-gated
  * postings, see `Text.bm25`; semantic: ONE broadcast query vector against
  * the map-only normalized projection, cut by orderBy+limit →
  * TakeOrderedAndProject — never a global rank window). The fusion itself
  * joins two ≤ listK-row lists — driver-trivial at any corpus size. The
  * reference has no retrieval operator; this extends the inventory the
  * SURVEY §6 way alongside the ANN family.
  */
object Search {

  val RrfK = 60        // the standard RRF damping constant
  val RrfListK = 20    // depth of each source list
  val RrfTopK = 10     // fused results returned
  val RrfQueryVec = 0L // the semantic query = vector 0 (deterministic)

  /** Fused (doc_id, score, rank), top `RrfTopK` by RRF score. */
  def rrfFusion(docs: DataFrame, embs: DataFrame): DataFrame = {
    // corpus-derived query terms (Text.topDfTerms) — literal terms go
    // vacuous under the seeded fixtures' bijective text redraws (round 14)
    val lex = Text.bm25Derived(docs, RrfListK)
      .select(col("doc_id"), col("rank").as("rl"))
    val e = Similarity.normalized(embs)
    val q = e.filter(col("vec_id") === RrfQueryVec).select(col("nv").as("qv"))
    val semTop = e.filter(col("vec_id") =!= RrfQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), GraftFunctions.dot(col("nv"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(RrfListK)
    // Global window bound: top-k (RrfListK rows after the limit).
    val wsem = Window.orderBy(col("cos").desc, col("vec_id"))
    val sem = semTop.withColumn("rs", row_number().over(wsem).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rs"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("rs")), lit(0.0)), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(RrfTopK)
    // Global window bound: top-k (RrfTopK rows after the limit).
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_search_rrf" -> ((s, d) =>
      rrfFusion(Tables.documents(s, d), Tables.embeddings(s, d))))

  val oracleSql: Map[String, String] = Map(
    "q_search_rrf" ->
      s"""WITH t AS (SELECT doc_id, unnest(${Text.toksSql}) AS term FROM documents),
         |qt AS (SELECT term FROM (
         |         SELECT term, count(*) AS qdf FROM (SELECT DISTINCT doc_id, term FROM t)
         |         GROUP BY 1)
         |       ORDER BY qdf DESC, term LIMIT ${Text.Bm25QueryK}),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |ad AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |              (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl),
         |bs AS (SELECT tf.doc_id,
         |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |           * (tf * ${Text.Bm25K1 + 1})
         |           / (tf + ${Text.Bm25K1} * (1.0 - ${Text.Bm25B} + ${Text.Bm25B} * dl / avgdl)) AS c
         |       FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN ad),
         |bsc AS (SELECT doc_id, round(sum(c), 6) AS bscore FROM bs GROUP BY 1),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bscore DESC, doc_id) AS BIGINT) AS rl
         |        FROM bsc QUALIFY rl <= $RrfListK),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_sum([v[i] * v[i] for i in range(1, 65)])) AS nrm FROM e),
         |nv AS (SELECT vec_id, [x / nrm for x in v] AS nv FROM n),
         |qv AS (SELECT nv AS q FROM nv WHERE vec_id = $RrfQueryVec),
         |cs AS (SELECT vec_id, list_sum([nv[i] * q[i] for i in range(1, 65)]) AS cos
         |       FROM nv CROSS JOIN qv WHERE vec_id <> $RrfQueryVec),
         |sem AS (SELECT vec_id AS doc_id,
         |          CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rs
         |        FROM cs QUALIFY rs <= $RrfListK),
         |f AS (SELECT doc_id,
         |        round(coalesce(1.0::DOUBLE / ($RrfK + rl), 0.0)
         |          + coalesce(1.0::DOUBLE / ($RrfK + rs), 0.0), 6) AS score
         |      FROM lex FULL JOIN sem USING (doc_id)),
         |r AS (SELECT doc_id, score,
         |        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |      FROM f)
         |SELECT doc_id, score, rank FROM r WHERE rank <= $RrfTopK""".stripMargin)
}
