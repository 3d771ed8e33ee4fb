package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** Graph analytics over corpus-derived graphs: TextRank keyword extraction
  * (PageRank over the token co-occurrence graph).
  *
  * Capability context: the reference has no graph operators at all — its
  * table algebra stops at joins/windows (table/Table.java:48-659). A
  * training-data pipeline needs graph ranking for corpus-level keyword /
  * boilerplate salience (TextRank, Mihalcea & Tarau 2004) and for
  * domain-authority weighting of web crawls (PageRank, Brin & Page 1998).
  *
  * Scale shape (the 100 TB argument):
  *   - Graph CONSTRUCTION is the corpus-scale part: one map-only pass
  *     enumerates adjacent-token pairs (codegen, no UDF), one distinct
  *     shuffle on the pair key produces the edge list. The edge domain is
  *     bounded by the distinct-bigram vocabulary, not the corpus size —
  *     identical in spirit to the BPE pair-count and LM bigram-model passes.
  *   - ITERATION then runs over the vocabulary-sized graph: each round is
  *     one equi-join (edges ⋈ ranks on the source endpoint) + one partial
  *     +final sum agg on the target endpoint — the converging-equi-join
  *     cadence proven by `Dedup.connectedComponents` (large-star/small-star).
  *     Nothing per-round touches the corpus; nothing driver-side except the
  *     one-time graph-order count.
  *
  * Determinism (DuckDB oracle parity): ranks are BIGINT micro-units
  * (e12 total mass), every transfer is integer `div` — sums of longs are
  * associative, so partition order cannot perturb results, and the oracle
  * replays the identical fixed-point arithmetic in `//` form. No doubles
  * anywhere.
  */
object Graph {

  /** Content-token gate: tokens shorter than this don't enter the graph
    * (the classical TextRank syntactic filter, approximated lexically so the
    * oracle can replay it).
    */
  val MinTokenLen = 4

  /** Fixed iteration count — fixed (not convergence-read) so the oracle can
    * unroll the same number of rounds as CTEs.
    */
  val Iterations = 5

  val TopK = 25

  /** Total rank mass: 1e12 micro-units, damping 0.85 as the integer pair
    * (85, 100).
    */
  val RankScale = 1000000000000L
  val DampingNum = 85L

  /** Undirected co-occurrence edges between adjacent content tokens, stored
    * as the symmetric directed edge list (both orientations), plus degrees.
    * Returned pinned (`graft.Pinned`) because every PageRank round
    * re-reads both.
    */
  private def edgeList(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs
      .select(Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2) // sequence(1, 0) would DESCEND and toks[-1] fault
    val und = toks
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS a, toks[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(length(col("a")) >= MinTokenLen && length(col("b")) >= MinTokenLen &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val edges = und.union(und.select(col("b").as("a"), col("a").as("b"))).pinned()
    val deg = edges.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg")).pinned()
    (edges, deg)
  }

  /** TextRank: PageRank over the adjacent-content-token co-occurrence graph,
    * top-k terms by final rank. Because the symmetrized graph gives every
    * node at least one in-edge, no dangling-mass redistribution is needed
    * and each round's groupBy covers the full node set.
    */
  def textrank(docs: DataFrame): DataFrame = {
    val (edges, deg) = edgeList(docs)
    // Graph order — ONE bounded driver read (vocabulary-sized graph), the
    // same cadence as connectedComponents' convergence probe.
    val n = deg.count()
    require(n > 0, "textrank: empty graph (no adjacent content-token pairs)")
    val initRank = RankScale / n
    val base = RankScale * (100L - DampingNum) / 100L / n
    var ranks = deg.select(col("node"), col("deg"), lit(initRank).as("rank"))
    for (_ <- 1 to Iterations) {
      val contrib = ranks.select(col("node"), expr("rank div deg").as("c"))
      ranks = edges
        .join(contrib, edges("a") === contrib("node"))
        .groupBy(col("b"))
        .agg(sum(col("c")).as("s"))
        .select(col("b").as("node"), expr(s"${base}L + (${DampingNum}L * s) div 100").as("rank"))
        .join(deg, "node")
        .select(col("node"), col("deg"), col("rank"))
    }
    // TakeOrderedAndProject: per-partition top-k, never a global sort.
    ranks
      .orderBy(col("rank").desc, col("node"))
      .limit(TopK)
      .select(col("node").as("term"), col("rank").as("score_e12"), col("deg"))
  }

  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007) over the same co-occurrence graph: each round every node adopts
    * the most frequent label among its neighbors, ties to the smallest
    * label — fully deterministic (classic LPA breaks ties randomly; the min
    * rule trades a little mixing speed for engine-replayability). Same
    * iteration cadence as `textrank`: per round one edges⋈labels equi-join,
    * one (node, label) count agg, and one negated-count struct-min (the
    * `Stats.mode` fold — no rank window). Labels are token strings, so the
    * final label doubles as a readable community exemplar.
    */
  def communities(docs: DataFrame): DataFrame = {
    val (edges, deg) = edgeList(docs)
    var labels = deg.select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpaIterations) {
      labels = edges
        .join(labels, edges("a") === labels("node"))
        .groupBy(col("b"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("b"))
        .agg(min(struct((-col("n")).as("neg"), col("label").as("l"))).as("m"))
        .select(col("b").as("node"), col("m.l").as("label"))
    }
    labels.select(col("node").as("term"), col("label").as("community"))
  }

  val LpaIterations = 3

  /** Triangle count over the co-occurrence graph by degree-ordered edge
    * orientation (Schank & Wagner 2005; the MapReduce form is Suri &
    * Vassilvitskii WWW'11). Each undirected edge points from its smaller
    * endpoint to its larger under the total order (degree, node) — so every
    * triangle {x≺y≺z} is counted exactly once, as the wedge (x→y, x→z)
    * closed by the oriented edge y→z.
    *
    * Scale shape: the wedge fan is Σ_u out-deg(u)², and orienting AWAY from
    * high-degree nodes caps out-degree at O(√m) for any graph — a celebrity
    * node with 10⁸ neighbors contributes NO wedges from its own fan-out
    * (every edge points at it), which is the whole trick; the naive
    * neighbor-join fans Σ deg² and dies on exactly that node. Three
    * equi-joins total: two degree attachments (node-table sized) and the
    * wedge self-join + closing semi-join on compact (node, node) keys.
    */
  def triangles(docs: DataFrame): DataFrame = {
    val (edges, deg) = edgeList(docs)
    val oriented = edges
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .filter(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"), col("deg_b").as("deg_v"))
      .pinned() // three consumers: two wedge sides + the closing probe
    val wedges = oriented.select(col("u"), col("v"), col("deg_v"))
      .join(oriented.select(col("u"), col("v").as("w"), col("deg_v").as("deg_w")), Seq("u"))
      .filter(col("deg_v") < col("deg_w") ||
        (col("deg_v") === col("deg_w") && col("v") < col("w")))
    val tri = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(oriented.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_textrank" -> ((s, d) => textrank(Tables.documents(s, d))),
    "q_graph_communities" -> ((s, d) => communities(Tables.documents(s, d))),
    "q_graph_triangles" -> ((s, d) => triangles(Tables.documents(s, d))))

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val duckToks = s"string_split($normSql, ' ')"

  val oracleSql: Map[String, String] = {
    // one CTE per PageRank round, each consuming the previous — the oracle
    // unrolls exactly `Iterations` rounds of the same integer arithmetic
    val rounds = (1 to Iterations).map { k =>
      s"""r$k AS (SELECT e.b AS node, d.deg AS deg,
         |  (SELECT $RankScale * ${100L - DampingNum} // 100 // n FROM n)
         |    + ($DampingNum * sum(r.rank // r.deg)) // 100 AS rank
         |FROM edges e JOIN r${k - 1} r ON e.a = r.node JOIN deg d ON d.node = e.b
         |GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val lpaRounds = (1 to LpaIterations).map { k =>
      s"""l$k AS (SELECT node, label FROM (
         |  SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rk
         |  FROM (SELECT e.b AS node, r.label AS label, count(*) AS n
         |        FROM edges e JOIN l${k - 1} r ON e.a = r.node GROUP BY 1, 2))
         |WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    Map(
      "q_graph_communities" ->
        s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
           |inst AS (SELECT unnest([{'a': toks[i], 'b': toks[i + 1]} for i in range(1, len(toks))]) AS p
           |         FROM t WHERE len(toks) >= 2),
           |und AS (SELECT DISTINCT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM inst
           |        WHERE len(p.a) >= $MinTokenLen AND len(p.b) >= $MinTokenLen AND p.a <> p.b),
           |edges AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
           |l0 AS (SELECT DISTINCT a AS node, a AS label FROM edges),
           |$lpaRounds
           |SELECT node AS term, label AS community FROM l$LpaIterations""".stripMargin,
      "q_graph_textrank" ->
        s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
           |inst AS (SELECT unnest([{'a': toks[i], 'b': toks[i + 1]} for i in range(1, len(toks))]) AS p
           |         FROM t WHERE len(toks) >= 2),
           |und AS (SELECT DISTINCT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM inst
           |        WHERE len(p.a) >= $MinTokenLen AND len(p.b) >= $MinTokenLen AND p.a <> p.b),
           |edges AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
           |deg AS (SELECT a AS node, count(*) AS deg FROM edges GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT node, deg, (SELECT $RankScale // n FROM n) AS rank FROM deg),
           |$rounds
           |SELECT node AS term, CAST(rank AS BIGINT) AS score_e12, CAST(deg AS BIGINT) AS deg
           |FROM r$Iterations ORDER BY rank DESC, node LIMIT $TopK""".stripMargin,
      "q_graph_triangles" ->
        s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
           |inst AS (SELECT unnest([{'a': toks[i], 'b': toks[i + 1]} for i in range(1, len(toks))]) AS p
           |         FROM t WHERE len(toks) >= 2),
           |und AS (SELECT DISTINCT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM inst
           |        WHERE len(p.a) >= $MinTokenLen AND len(p.b) >= $MinTokenLen AND p.a <> p.b),
           |edges AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
           |deg AS (SELECT a AS node, count(*) AS deg FROM edges GROUP BY 1),
           |o AS (SELECT e.a AS u, e.b AS v, db.deg AS deg_v
           |      FROM edges e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
           |      WHERE da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)),
           |w AS (SELECT o1.u, o1.v, o2.v AS w
           |      FROM o o1 JOIN o o2 ON o1.u = o2.u
           |      WHERE o1.deg_v < o2.deg_v OR (o1.deg_v = o2.deg_v AND o1.v < o2.v)),
           |tri AS (SELECT 1 FROM w WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.v AND o.v = w.w))
           |SELECT (SELECT count(*) FROM deg) AS n_nodes,
           |       (SELECT count(*) FROM o) AS n_edges,
           |       (SELECT count(*) FROM tri) AS n_triangles""".stripMargin)
  }
}
