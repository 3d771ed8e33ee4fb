package graft.ops

import scala.collection.mutable.ArrayBuffer

import graft.Tables
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.Pinned.PinnedOps

/** Distributed BPE (byte-pair-encoding) merge learning — the vocabulary-
  * training step of an LLM tokenizer (Sennrich et al. 2016), run over the
  * corpus the engine curates. The reference has no tokenizer machinery; this
  * extends the corpus-diagnostics layer (`q_vocab` counts whole words; BPE
  * learns the subword inventory).
  *
  * Scale shape (the part that must survive 100 TB): the ONLY corpus-sized
  * operation is the first word-frequency aggregate — a partial-aggregated
  * groupBy whose output is the distinct-word table (vocabulary-sized, ~10^6
  * rows for a trillion-token corpus, thousands of times smaller than the
  * corpus). Merge learning then iterates on that pinned table's internal-row
  * RDD: each round is ONE RDD job (a weighted `reduceByKey` pair count and a
  * `takeOrdered`) plus a map-side `replace`, with no per-round Catalyst plan
  * (procedural iteration is the RDD API's case in the Spark SQL paper). Per
  * round the driver reads one row per reduce partition and keeps the winner
  * — the merge IS the model parameter, and it must reach the driver to
  * become the next round's `replace` pattern; same class as the documented
  * 1-row convergence read in `Dedup.connectedComponents`.
  *
  * Determinism & engine parity:
  *   - words: whitespace tokens of the normalized text; symbols: one
  *     character each plus a terminal `</w>` marker, space-joined with
  *     framing spaces (" t h e </w> ").
  *   - winning pair per round: max count, ties broken by (a, b) binary
  *     string order — both engines' default comparison. The RDD loop calls
  *     the `UTF8String` methods Spark's `trim`, `split`, `replace` and sort
  *     call: UTF-8 byte order, not `String.compareTo`'s UTF-16 order.
  *   - merge application: `replace(syms, " a b ", " ab ")` — BOTH engines'
  *     `replace` scans left-to-right non-overlapping, so on a run of 3+
  *     identical symbols ("a a a a") the shared-boundary second occurrence
  *     is skipped (" aa a a ", where reference greedy BPE re-pairs to
  *     " aa aa "). A deliberate, documented approximation: it keeps the
  *     merge a pure engine-portable string op, and affects only counts of
  *     immediately-self-repeating symbols.
  */
object Bpe {

  val NumMerges = 8

  /** (word, freq) over whitespace tokens of the normalized text — the one
    * corpus-scale aggregate.
    */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  private def symbolized(words: DataFrame): DataFrame =
    words.select(
      concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "), lit("</w> ")).as("syms"),
      col("freq"))

  /** A symbol table row: (syms, freq). */
  private type Vocab = RDD[(UTF8String, Long)]

  /** A counted adjacent pair: ((a, b), cnt). */
  private type Pair = ((UTF8String, UTF8String), Long)

  /** (cnt DESC, a, b) in binary string order — the SQL `ORDER BY`. */
  private val PairOrder: Ordering[Pair] = (x, y) => {
    val c = java.lang.Long.compare(y._2, x._2)
    val ca = if (c != 0) c else x._1._1.binaryCompare(y._1._1)
    if (ca != 0) ca else x._1._2.binaryCompare(y._1._2)
  }

  /** The top `k` weighted adjacent pairs of the current symbol table: one
    * job, a map-side-combined pair count over the vocabulary's own
    * partitions (AQE-coalesced when it was pinned, so its width follows the
    * vocabulary, not the fixture-sized `spark.sql.shuffle.partitions`) and
    * a `takeOrdered`. A fully-merged word is one symbol and yields no pair.
    */
  private def topPairs(state: Vocab, k: Int): Array[Pair] = {
    val space = UTF8String.fromString(" ")
    state.flatMap { case (syms, freq) =>
      val t = syms.trim().split(space, -1)
      Iterator.range(0, t.length - 1).map(i => ((t(i), t(i + 1)), freq))
    }.reduceByKey(_ + _, state.getNumPartitions).takeOrdered(k)(PairOrder)
  }

  /** Apply the merge (a, b): `replace(syms, " a b ", " ab ")`. */
  private def merge(state: Vocab, pair: Pair): Vocab = {
    val ((a, b), _) = pair
    val space = UTF8String.fromString(" ")
    val pat = UTF8String.concat(space, a, space, b, space)
    val rep = UTF8String.concat(space, a, b, space)
    state.map { case (syms, freq) => (syms.replace(pat, rep), freq) }
  }

  /** The merge loop of both learners: per round, the top `k` pairs and, in
    * rank order and up to `m`, those that share no symbol with a higher-
    * ranked one ([[learnMergesBatched]]); `k = m = 1` is sequential BPE.
    * Returns the selected pairs of each round.
    */
  private def learn(docs: DataFrame, rounds: Int, m: Int, k: Int): Seq[Seq[Pair]] = {
    // pin the vocab table: every round re-reads it, the corpus is scanned once
    var state: Vocab = symbolized(wordFreqs(docs)).pinned(false).queryExecution.toRdd
      .map(r => (r.getUTF8String(0).clone(), r.getLong(1))) // scan rows are reused
    val out = ArrayBuffer[Seq[Pair]]()
    var exhausted = false
    while (out.length < rounds && !exhausted) {
      val cand = topPairs(state, k) // the per-round model read
      val selected = cand.indices.filterNot { i =>
        val ((a, b), _) = cand(i)
        cand.take(i).exists { case ((qa, qb), _) => qa == a || qa == b || qb == a || qb == b }
      }.take(m).map(cand)
      // empty corpus, or every word fully merged before `rounds` rounds:
      // stop with the merges learned so far
      if (selected.isEmpty) exhausted = true
      else {
        out += selected
        state = selected.foldLeft(state)(merge)
      }
    }
    out.toSeq
  }

  /** A merge table: one long column per name in `keys`, then a, b, merged, cnt. */
  private def table(spark: SparkSession, keys: Seq[String], rows: Seq[(Seq[Long], Pair)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (ks, ((a, b), cnt)) =>
        Row.fromSeq(ks ++ Seq(a.toString, b.toString, a.toString + b.toString, cnt))
      }, 1),
      StructType(keys.map(StructField(_, LongType, nullable = false)) ++
        Seq("a", "b", "merged").map(StructField(_, StringType, nullable = false)) :+
        StructField("cnt", LongType, nullable = false)))

  /** Learn `n` merges; returns (rank, a, b, merged, cnt) — the merge table
    * in learned order, i.e. the tokenizer model.
    */
  def learnMerges(docs: DataFrame, n: Int = NumMerges): DataFrame =
    table(docs.sparkSession, Seq("rank"),
      learn(docs, n, 1, 1).flatten.zipWithIndex.map { case (p, i) => (Seq(i + 1L), p) })

  val BatchRounds = 2
  val BatchM = 4
  val CandWindow = 16

  /** Batched merge learning — the production-cadence form of `learnMerges`
    * (round-9 verdict item 3: one driver round-trip PER merge means a
    * 30k-merge vocabulary is 30k sequential Spark jobs; batching top-m
    * compatible merges per round cuts the cadence to ~n/m).
    *
    * Selection rule per round: rank all adjacent pairs by (cnt DESC, a, b),
    * keep the top `k` as the candidate window, and select — in rank order,
    * up to `m` — every candidate that shares NO symbol with ANY higher-
    * ranked candidate in the window (selected or not). The
    * "conflict-with-any-higher-ranked" form is deliberately chosen over
    * greedy-on-selected: it is a pure rank predicate, so the DuckDB oracle
    * expresses it as a NOT EXISTS over the same ranked window — no
    * procedural selection loop to mirror. Slightly more conservative than
    * greedy (a candidate can be vetoed by a pair that was itself vetoed),
    * identical on both engines.
    *
    * Relation to sequential BPE (the documented delta): symbol-disjoint
    * merges have independent pair counts (merging (a,b) only creates or
    * destroys pairs touching a, b, or ab), so WITHIN a round the selected
    * merges commute and each was a true top pair at round start. Divergence
    * from `learnMerges` appears exactly when a merge CREATES a pair that
    * sequential learning would have taken next — e.g. the word-completion
    * chain (a,b) → (ab,&lt;/w&gt;), which ranks first sequentially but shares
    * `ab` and so waits a round here. With m=1 the rule degenerates to top-1
    * and the output equals `learnMerges` exactly (asserted in BpeSpec).
    * Driver cadence: ONE RDD job per round, whose `takeOrdered` reads up to
    * `k` rows per reduce partition and keeps the top `k`, instead of one job
    * per merge; the selected merges then fold into the round's `replace`
    * chain.
    */
  def learnMergesBatched(docs: DataFrame, rounds: Int = BatchRounds,
      m: Int = BatchM, k: Int = CandWindow): DataFrame =
    table(docs.sparkSession, Seq("round", "sel"),
      learn(docs, rounds, m, k).zipWithIndex.flatMap { case (sel, r) =>
        sel.zipWithIndex.map { case (p, j) => (Seq(r + 1L, j + 1L), p) }
      })

  /** Broadcast-model guard for [[encode]]: each merge becomes one `replace`
    * literal in the plan, so the model size IS the plan size — a real BPE
    * vocabulary (30k+ merges) folded into one projection would blow past
    * codegen limits long before the driver OOMs. Learned tables here are
    * [[NumMerges]]-bounded; past this ceiling, apply merges in chunked
    * passes (fold `encode` over merge blocks, materializing between).
    */
  val MaxEncodeMerges = 4096

  /** Encode each document with a learned merge table: the same symbolize +
    * sequential-replace pipeline, applied map-side (merges become plan
    * literals — the broadcast-model pattern). Returns per-doc subword token
    * counts: the before/after compression the tokenizer buys.
    */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    require(merges.length <= MaxEncodeMerges,
      s"Bpe.encode: ${merges.length} merges exceed the $MaxEncodeMerges plan-literal bound — " +
        "apply the merge table in chunked passes (fold encode over blocks of merges, " +
        "materializing between passes) instead of one projection")
    // each word symbolizes independently and ends with its own </w> marker,
    // so merges can never cross a word boundary (no learned merge has </w>
    // mid-pair) — per-word encoding, batched as one string per doc. The
    // left-to-right replace's shared-boundary skip (see object scaladoc)
    // applies BETWEEN adjacent words too: identical consecutive words merge
    // alternately. Bounded undercount, identical in both engines.
    val base = docs.select(col("doc_id"),
      concat(lit(" "),
        concat_ws(" ", expr(
          "transform(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '), " +
            "w -> concat(regexp_replace(w, '(.)', '$1 '), '</w>'))")),
        lit(" ")).as("syms"))
    val encoded = merges.foldLeft(base) { case (df, (a, b)) =>
      df.withColumn("syms",
        call_function("replace", col("syms"), lit(s" $a $b "), lit(s" $a$b ")))
    }
    encoded.select(col("doc_id"),
      (size(split(trim(col("syms")), " "))).cast("long").as("n_subwords"))
  }

  // --- driver contract -----------------------------------------------------

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_merges" -> ((s, d) => learnMerges(Tables.documents(s, d))),
    "q_bpe_merges_batched" -> ((s, d) => learnMergesBatched(Tables.documents(s, d))),
    "q_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = learnMerges(docs)
        .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      encode(docs, merges)
    }))

  /** The oracle replays the identical rounds as chained CTEs: w{r} is the
    * vocab after r merges, t{r} the r-th winning pair.
    */
  def oracleSql: Map[String, String] = Map(
    "q_bpe_merges" -> {
      val w0 =
        s"""w0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> ' AS syms, freq
           |  FROM (SELECT tok AS w, count(*) AS freq
           |        FROM (SELECT unnest(string_split($normSql, ' ')) AS tok FROM documents)
           |        WHERE tok <> '' GROUP BY 1))""".stripMargin
      val rounds = (1 to NumMerges).map { r =>
        s"""p$r AS (SELECT pr[1] AS a, pr[2] AS b, freq FROM (
           |  SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr, freq FROM (
           |    SELECT string_split(trim(syms), ' ') AS l, freq FROM w${r - 1}))),
           |t$r AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$r
           |  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
           |w$r AS (SELECT replace(syms, ' ' || t$r.a || ' ' || t$r.b || ' ',
           |                       ' ' || t$r.a || t$r.b || ' ') AS syms, freq
           |  FROM w${r - 1}, t$r)""".stripMargin
      }
      val unions = (1 to NumMerges)
        .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b, a || b AS merged, cnt FROM t$r")
        .mkString("\n", "\nUNION ALL\n", "")
      (w0 +: rounds).mkString("WITH ", ",\n", unions)
    },

    // Replays the ranked-window + conflict-with-any-higher-ranked selection
    // per round; the fixed BatchM replace slots are padded with chr(1) no-op
    // patterns when a round selects fewer than m merges, so the CTE shape is
    // static while the selection stays data-dependent.
    "q_bpe_merges_batched" -> {
      val w0 =
        s"""bw0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> ' AS syms, freq
           |  FROM (SELECT tok AS w, count(*) AS freq
           |        FROM (SELECT unnest(string_split($normSql, ' ')) AS tok FROM documents)
           |        WHERE tok <> '' GROUP BY 1))""".stripMargin
      val rounds = (1 to BatchRounds).map { r =>
        val merges = (1 to BatchM).map { j =>
          s"""bm${r}_$j AS (SELECT coalesce(max(' ' || a || ' ' || b || ' '), chr(1)) AS pat,
             |  coalesce(max(' ' || a || b || ' '), chr(1)) AS rep FROM bs$r WHERE sel = $j)""".stripMargin
        }
        val nestedReplace = (1 to BatchM).foldLeft("syms") { (acc, j) =>
          s"replace($acc, p$j.pat, p$j.rep)"
        }
        val fromMs = (1 to BatchM).map(j => s"bm${r}_$j p$j").mkString(", ")
        (Seq(
          s"""bc$r AS (SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             |  SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr, freq FROM (
             |    SELECT string_split(trim(syms), ' ') AS l, freq FROM bw${r - 1}))
             |  GROUP BY a, b)""".stripMargin,
          s"""br$r AS (SELECT * FROM (SELECT a, b, cnt,
             |  row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk FROM bc$r)
             |  WHERE rnk <= $CandWindow)""".stripMargin,
          s"""bs$r AS (SELECT a, b, cnt, row_number() OVER (ORDER BY rnk) AS sel
             |  FROM br$r p WHERE NOT EXISTS (SELECT 1 FROM br$r q WHERE q.rnk < p.rnk
             |    AND (q.a = p.a OR q.a = p.b OR q.b = p.a OR q.b = p.b))
             |  ORDER BY rnk LIMIT $BatchM)""".stripMargin) ++ merges :+
          s"""bw$r AS (SELECT $nestedReplace AS syms, freq FROM bw${r - 1}, $fromMs)""").mkString(",\n")
      }
      val unions = (1 to BatchRounds)
        .map(r => s"SELECT CAST($r AS BIGINT) AS round, sel, a, b, a || b AS merged, cnt FROM bs$r")
        .mkString("\n", "\nUNION ALL\n", "")
      (w0 +: rounds).mkString("WITH ", ",\n", unions)
    },

    "q_bpe_encode" -> {
      val w0 =
        s"""w0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> ' AS syms, freq
           |  FROM (SELECT tok AS w, count(*) AS freq
           |        FROM (SELECT unnest(string_split($normSql, ' ')) AS tok FROM documents)
           |        WHERE tok <> '' GROUP BY 1))""".stripMargin
      val rounds = (1 to NumMerges).map { r =>
        s"""p$r AS (SELECT pr[1] AS a, pr[2] AS b, freq FROM (
           |  SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr, freq FROM (
           |    SELECT string_split(trim(syms), ' ') AS l, freq FROM w${r - 1}))),
           |t$r AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$r
           |  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
           |w$r AS (SELECT replace(syms, ' ' || t$r.a || ' ' || t$r.b || ' ',
           |                       ' ' || t$r.a || t$r.b || ' ') AS syms, freq
           |  FROM w${r - 1}, t$r)""".stripMargin
      }
      val e0 =
        s"""e0 AS (SELECT doc_id, ' ' || array_to_string(
           |    list_transform(string_split($normSql, ' '),
           |      w -> regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>'), ' ') || ' ' AS syms
           |  FROM documents)""".stripMargin
      val encRounds = (1 to NumMerges).map { r =>
        s"""e$r AS (SELECT doc_id, replace(syms, ' ' || t$r.a || ' ' || t$r.b || ' ',
           |                       ' ' || t$r.a || t$r.b || ' ') AS syms
           |  FROM e${r - 1}, t$r)""".stripMargin
      }
      val fin = s"\nSELECT doc_id, CAST(len(string_split(trim(syms), ' ')) AS BIGINT)" +
        s" AS n_subwords FROM e$NumMerges"
      ((w0 +: rounds) ++ (e0 +: encRounds)).mkString("WITH ", ",\n", fin)
    })
}
