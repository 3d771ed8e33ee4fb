package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** Text-analysis operators for large-scale training-data pipelines: language
  * ID, quality scoring, token counting, document fingerprinting.
  *
  * Capability context: the reference's text handling is "write a Java lambda"
  * (README.md:10-19; ScalarFunction at table/Table.java:306-331). Here every
  * op is a pure Catalyst expression pipeline — no UDFs — so it stays inside
  * whole-stage codegen and scales linearly with input splits: a 100 TB
  * documents table is just more parquet row groups; there is no shuffle in any
  * of these queries except the final nothing (they are all map-only).
  *
  * Engine-portability discipline (for the DuckDB oracle): every derived value
  * is either integer math, regex counts (same RE2-compatible patterns), md5
  * hex digests, or double arithmetic written with the identical operation
  * order on both sides, then rounded.
  */
object Text {

  /** Whitespace-collapsed, trimmed, lower-cased text — the canonical form all
    * fingerprints and token stats are computed over.
    */
  def normalized(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Unicode canonicalization pass (NFC + space-ish collapse) over a text
    * column — see `functions.NormalizeText` for the exact semantics and why
    * it must run before fingerprinting/dedup. Map-only, codegen, no shuffle.
    */
  def normalizeDocs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("norm_text", graft.functions.GraftFunctions.normalizeText(col(textCol)))

  // WhitespaceTokens(lower(c)) ≡ split(normalized(c), " ") — see the
  // expression's scaladoc for the identities; `lower` stays Catalyst so
  // collation-aware case mapping is untouched (ExpressionsSpec pins the
  // equality on real docs + whitespace/multibyte edge cases)
  def tokens(c: Column): Column =
    graft.functions.GraftFunctions.whitespaceTokens(lower(c))

  /** Stopword list shared verbatim with the oracle SQL. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "in", "to")

  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "les", "et", "des", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  private def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** Count of tokens that appear in `words` — expressed as a SQL lambda so the
    * Spark and DuckDB sides share one semantics (filter+size vs list_filter+len).
    */
  private def hitCount(toksCol: String, words: Seq[String]): Column =
    expr(s"size(filter($toksCol, t -> t IN (${sqlList(words)})))")

  /** Length / punctuation / stopword / uniqueness statistics per document.
    * Map-only; at 100 TB this is a pure scan with column pruning down to
    * (doc_id, text).
    */
  def stats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"),
        normalized(col("text")).as("norm"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(length(regexp_replace(col("norm"), " ", "")).cast("double") / size(col("toks")), 6)
          .as("avg_tok_len"),
        round(regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("double") / length(col("text")), 6)
          .as("punct_ratio"),
        round(hitCount("toks", stopwords).cast("double") / size(col("toks")), 6)
          .as("stop_ratio"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
          .as("uniq_ratio"))

  /** n-gram/stopword-hit language ID heuristic: score each candidate language
    * by stopword occurrences; argmax with deterministic (alphabetical) tie
    * break, implemented as one CASE expression shared with the oracle.
    */
  def langId(docs: DataFrame): DataFrame = {
    val hits = langStopwords.map { case (l, ws) => l -> s"hits_$l" }
    val base = docs.select(
      col("doc_id") +: col("lang").as("lang_actual") +: tokens(col("text")).as("toks") +: Nil: _*)
    val scored = langStopwords.foldLeft(base) { case (df, (l, ws)) =>
      df.withColumn(s"hits_$l", hitCount("toks", ws).cast("long"))
    }
    val caseExpr = langCaseSql
    scored.select(
      col("doc_id") +: col("lang_actual") +:
        hits.map { case (_, h) => col(h) } :+ expr(caseExpr).as("lang_pred"): _*)
  }

  /** CASE picking the max-hit language, first-listed wins ties — identical
    * text evaluated by Spark and DuckDB.
    */
  val langCaseSql: String = {
    val names = langStopwords.map(_._1)
    val greatest = s"greatest(${names.map(l => s"hits_$l").mkString(", ")})"
    names.init.map(l => s"WHEN hits_$l >= $greatest THEN '$l'")
      .mkString("CASE ", " ", s" ELSE '${names.last}' END")
  }

  /** Whitespace tokens + a BPE-ish regex token count (letter runs / digit runs
    * / single other-symbols), the standard pre-tokenizer shape.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("chars"))

  /** Two fingerprints per doc: exact (md5 of normalized text) and canonical
    * (md5 of the sorted distinct token set — whitespace/word-order
    * insensitive, the classic "fingerprint" key for clustering duplicates).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(normalized(col("text"))).as("fp_exact"),
      md5(array_join(array_sort(array_distinct(tokens(col("text")))), " ")).as("fp_canon"))

  /** Composite quality score in [0,1]: length, stopword presence, vocabulary
    * diversity — the usual cheap pre-filter before expensive dedup/training.
    * The formula is written with one fixed operation order so both engines
    * produce bit-identical doubles before rounding.
    */
  private val qualityExprSql: String =
    "0.5 * least(1.0, cast(n_tokens as double) / 80.0)" +
      " + 0.3 * least(1.0, stop_ratio * 5.0)" +
      " + 0.2 * uniq_ratio"

  /** Quality is emitted in integer micro-units (`floor(v * 1e6)`) rather than
    * `round(v, 6)`: the inputs are already-rounded short decimals, so the
    * combined score frequently lands EXACTLY on a half at the 6th digit, where
    * Spark (HALF_UP over the shortest decimal repr) and DuckDB (binary-value
    * rounding) disagree. floor() of the bit-identical double is
    * engine-deterministic.
    */
  def quality(docs: DataFrame): DataFrame =
    qualityFromToks(docs.select(col("doc_id"), tokens(col("text")).as("toks")))

  /** `quality` over a pre-tokenized projection (doc_id, toks) — the score
    * only uses token-derived stats, so pipeline branches can all feed from
    * ONE tokenized scan of the corpus (see Pipelines.corpusPipeline) instead
    * of re-reading and re-tokenizing per branch.
    */
  def qualityFromToks(t: DataFrame): DataFrame =
    t.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      round(hitCount("toks", stopwords).cast("double") / size(col("toks")), 6)
        .as("stop_ratio"),
      round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
        .as("uniq_ratio"))
      .select(
        col("doc_id"),
        expr(s"cast(floor(($qualityExprSql) * 1000000.0) as bigint)").as("quality_e6"),
        expr(s"CASE WHEN $qualityExprSql >= 0.5 THEN 'keep' ELSE 'drop' END").as("verdict"))

  /** (doc_id, [keep...], n_tokens, quality_e6): the quality score plus the
    * token count it was computed from, with optional passthrough columns —
    * selection operators (Corpus.tokenBudget) order by score and budget by
    * tokens in one pass. Same formula and integer micro-rounding as
    * `quality`.
    */
  private[graft] def qualityScoredFromToks(t: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    t.select(kept ++ Seq(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      round(hitCount("toks", stopwords).cast("double") / size(col("toks")), 6)
        .as("stop_ratio"),
      round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
        .as("uniq_ratio")): _*)
      .select(kept ++ Seq(
        col("doc_id"), col("n_tokens"),
        expr(s"cast(floor(($qualityExprSql) * 1000000.0) as bigint)").as("quality_e6")): _*)
  }

  /** Token-level repetition statistics (the Gopher-style repetition filters,
    * adapted to the token stream): duplicate-2-gram mass and immediate
    * token repeats. High values flag boilerplate/degenerate text that should
    * leave the corpus before training. Map-only like every Text op.
    */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        expr("transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))").as("bi"),
        expr("size(filter(sequence(1, size(toks) - 1), " +
          "i -> element_at(toks, i) = element_at(toks, i + 1)))").cast("long")
          .as("n_immediate_repeats"))
      .select(col("doc_id"),
        size(col("bi")).cast("long").as("n_2grams"),
        (size(col("bi")) - size(array_distinct(col("bi")))).cast("long").as("n_dup_2grams"),
        round((size(col("bi")) - size(array_distinct(col("bi")))).cast("double")
          / size(col("bi")), 6).as("dup_2gram_frac"),
        col("n_immediate_repeats"))

  val TfIdfTopK = 5

  /** TF-IDF keyword extraction: top-k terms per document by
    * `tf * (ln((N+1)/(df+1)) + 1)` (smoothed idf). The corpus-level pass is
    * two partial+final aggregates — (doc, term) term frequencies, then
    * per-term document frequencies — and the doc count joins in as a
    * broadcast 1-row aggregate, so nothing collects to the driver and the
    * shuffles carry only (term, count) pairs. Ranking uses the ROUNDED
    * score with the term as tie-break, so order is engine-deterministic.
    */
  def tfidf(docs: DataFrame, topK: Int = TfIdfTopK): DataFrame = {
    val statsU = udaf(graft.functions.Aggregators.topKScored(topK))
    scoredTerms(docs)
      // partial top-k INSTEAD of a rank window: the udaf's map-side combine
      // trims each (doc, partition) to ≤ k rows before the shuffle, where the
      // window would shuffle every (doc, term) pair to rank it. The
      // aggregator's comparator mirrors the window's ORDER BY exactly
      // (rounded score DESC, term ASC), so output is row-identical — spec'd
      // against `tfidfWindowed` plus the shared DuckDB oracle.
      .groupBy(col("doc_id"))
      .agg(statsU(col("term"), col("tf"), col("tfidf")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("t.term").as("term"), col("t.tf").as("tf"),
        col("t.score").as("tfidf"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** The rank-window spelling — the cross-check baseline for `tfidf` (same
    * rows, heavier shuffle).
    */
  private[ops] def tfidfWindowed(docs: DataFrame, topK: Int = TfIdfTopK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scoredTerms(docs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"), col("rank"))
  }

  // --- BM25 retrieval ------------------------------------------------------

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  /** Fixed query — literal terms so the driver oracle is reproducible. */
  val Bm25Query: Seq[String] = Seq("spark", "stream", "window", "hash")

  /** BM25 top-k retrieval for a fixed term query (Robertson & Zaragoza 2009,
    * the Lucene `1 + (N-df+0.5)/(df+0.5)` idf variant, k1=1.2 b=0.75).
    *
    * Scale shape: the ONLY corpus-wide passes are (a) the token scan that
    * builds per-doc lengths and (b) the same scan filtered to the |Q| query
    * terms — the `isin` literal gate is codegen'd map-side, so the postings
    * shuffle carries just the matching (doc, term, tf) rows, proportional to
    * the query's document frequency, never the corpus. df (≤|Q| rows), the
    * doc count, and avgdl are broadcast 1-row/|Q|-row aggregates. avgdl is
    * exact-integer sum ÷ count in ONE IEEE division (not a running double
    * avg) so the score is bit-identical across engines and partitionings.
    * Final cut is orderBy+limit → TakeOrderedAndProject, rank assigned over
    * the ≤ topK survivors. At 100 TB this is scan-bound + one doc_id-keyed
    * join of query-postings against doc lengths.
    */
  def bm25(
      docs: DataFrame,
      queryTerms: Seq[String] = Bm25Query,
      topK: Int = Bm25TopK): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    bm25From(docs, terms, terms.filter(col("term").isin(queryTerms: _*)), topK)
  }

  /** How many corpus-derived query terms the registry search queries use. */
  val Bm25QueryK = 4

  /** The `k` highest-document-frequency terms (ties → lexicographic) — the
    * corpus-derived query the REGISTRY search queries use instead of
    * `Bm25Query`'s literals: a seeded fixture's bijective text redraw
    * (Caesar shift) rewrites the whole vocabulary, so any literal term list
    * matches nothing and the hash gate silently passes on 0 == 0 rows
    * (found round 14 — q_search_bm25/q_freq_cms were vacuous on every seed
    * variant). Deriving the probe set from the corpus itself keeps the
    * gate non-vacuous under ANY frequency-preserving transform.
    *
    * Plan shape: document frequency needs one distinct per (doc, term) —
    * spelled as a PER-ROW `array_distinct` before the explode so the only
    * exchange is the vocabulary-sized partial-aggregated (term, count)
    * stream, never the corpus-sized (doc_id, term) pair stream a
    * `terms.distinct()` would shuffle (the round-14 spelling did exactly
    * that: +1.15 MB shuffle and 1.8× wall on q_search_bm25, adjudicated
    * round 15).
    */
  def topDfTerms(docs: DataFrame, k: Int = Bm25QueryK): DataFrame =
    docs.select(explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("qdf"))
      .orderBy(col("qdf").desc, col("term")).limit(k)
      .select(col("term"))

  /** The derived query terms as a driver-side value — the model-parameter
    * read (same class as [[Bpe.learnMerges]]'s per-round winning pair and
    * [[Curation.benchmarkShingleSet]]'s suite collect: ≤ `k` strings, by
    * contract query-sized, never corpus-sized). Consumers feed it back to
    * [[bm25]] as a literal `isin`, so the SCORING query keeps the map-only
    * term gate and zero derivation state in its own plan.
    */
  def derivedQueryTerms(docs: DataFrame, k: Int = Bm25QueryK): Seq[String] =
    topDfTerms(docs, k).collect().map(_.getString(0)).toSeq

  /** `bm25` with the corpus-derived query: two jobs — the vocabulary-sized
    * term derivation collected once as a model parameter
    * ([[derivedQueryTerms]]), then the UNCHANGED literal-gated scoring body.
    * The round-14 single-plan spelling (pin-materialized explode +
    * broadcast semi-join) shuffled the distinct (doc_id, term) pair stream
    * and round-tripped the whole token table through executor storage;
    * this form's scoring plan is bit-identical to `bm25`'s.
    */
  def bm25Derived(docs: DataFrame, topK: Int = Bm25TopK,
      queryK: Int = Bm25QueryK): DataFrame =
    bm25(docs, derivedQueryTerms(docs, queryK), topK)

  /** Shared BM25 scoring body: `gated` is the query-term-gated slice of
    * `terms`.
    */
  private def bm25From(docs: DataFrame, terms: DataFrame, gated: DataFrame,
      topK: Int): DataFrame = {
    val dlen = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = gated
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dlen.agg(sum(col("dl")).as("sum_dl")))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val contrib = tf.join(dlen, Seq("doc_id"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(totals))
      // spelled to parse identically to the oracle SQL: left-assoc +/-,
      // then * / left-to-right — double ops must match op-for-op
      .withColumn("c",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(Bm25K1 + 1))
          / (col("tf") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    val scored = contrib.groupBy(col("doc_id"))
      .agg(round(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** (doc_id, term, tf, tfidf): two partial+final aggs + a broadcast 1-row
    * doc count.
    */
  private def scoredTerms(docs: DataFrame): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    terms.join(dfreq, Seq("term")).crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 6))
  }

  /** PII redaction rules: each (regex, placeholder), applied in order. The
    * standard pre-training privacy pass — emails, IPv4 addresses, long
    * digit runs (account/phone/ID numbers). Patterns stay in the
    * RE2-compatible subset (no backrefs, no lookaround) so the DuckDB
    * oracle replays them byte-identically.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\d{9,}" -> "<NUM>")

  /** Pattern scrubbing: replace every match of each rule with its
    * placeholder (rules applied in order), plus `n_redactions` = the number
    * of placeholders actually inserted: each rule is counted against the
    * PROGRESSIVELY-scrubbed intermediate it actually rewrites, so two rules
    * overlapping one span (an email whose local part contains a 9-digit
    * run) count it exactly once — a privacy metric that over-reports
    * redactions would be misleading (round-7 advice). Map-only —
    * regexp_replace/regexp_count are codegen'd, nothing shuffles; at 100 TB
    * this is scan-bound like the other text ops.
    */
  def scrub(
      df: DataFrame,
      column: String,
      rules: Seq[(String, String)] = PiiRules,
      outCol: String = "scrubbed"): DataFrame = {
    val (scrubbed, counts) = rules.foldLeft((col(column), Seq.empty[org.apache.spark.sql.Column])) {
      case ((c, ns), (p, r)) => (regexp_replace(c, p, r), ns :+ regexp_count(c, lit(p)))
    }
    df.withColumn(outCol, scrubbed)
      .withColumn("n_redactions", counts.reduce(_ + _).cast("long"))
  }

  /** The Gopher rule battery (Rae et al. 2021, "Scaling Language Models" —
    * the public web-text filter rules, the standard cheap gate run before
    * any model-based scoring): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, bullet-/ellipsis-line fractions, alpha-word
    * fraction, and required stop-word presence. Emits one boolean per rule
    * plus the conjunction, so calibration can read WHICH rule kills a
    * source's docs, not just how many die.
    *
    * Engine-portability: every threshold compare is CROSS-MULTIPLIED
    * integer arithmetic (10·n_sym < n_words, 5·n_alpha ≥ 4·n_words, …) —
    * no doubles anywhere, so the oracle hash cannot wobble. Map-only
    * codegen'd regex/array expressions; at 100 TB this is a pure scan.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L

  /** Content-type heuristic: code / math / prose, the routing tag every
    * corpus pipeline wants before mixing (code gets its own quota and
    * tokenizer behavior; math its own quality rules). Pure counting —
    * structural-symbol density ({};()=<>[]), operator density, indented-
    * line fraction — with INTEGER cross-multiplied thresholds (the
    * `gopherRules` convention: no float compare can wobble the oracle).
    * Map-only; RE2-compatible patterns replayed verbatim by the oracle.
    */
  def contentType(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (regexp_count(col("text"), lit("\n")) + 1).cast("long").as("n_lines"),
        regexp_count(col("text"), lit("(?m)^[\t ]")).cast("long").as("indent_lines"),
        regexp_count(col("text"), lit("[{}();<>\\[\\]]")).cast("long").as("sym_hits"),
        regexp_count(col("text"), lit("[-+*/^=]")).cast("long").as("math_hits"))
      .select(
        col("doc_id"), col("n_chars"), col("n_lines"), col("indent_lines"),
        col("sym_hits"), col("math_hits"),
        expr("""CASE WHEN sym_hits * 40 >= n_chars OR indent_lines * 3 >= n_lines THEN 'code'
               |     WHEN math_hits * 30 >= n_chars THEN 'math'
               |     ELSE 'prose' END""".stripMargin).as("ctype"))

  def gopherRules(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"),
        normalized(col("text")).as("norm"), split(col("text"), "\n").as("lines"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        length(regexp_replace(col("norm"), " ", "")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long").as("n_sym"),
        size(col("lines")).cast("long").as("n_lines"),
        expr("size(filter(lines, l -> trim(l) rlike '^[-*•]'))").cast("long").as("n_bullet"),
        expr("size(filter(lines, l -> trim(l) like '%...'))").cast("long").as("n_ellipsis"),
        expr("size(filter(toks, t -> t rlike '[a-z]'))").cast("long").as("n_alpha"),
        expr(s"size(filter(array_distinct(toks), t -> t IN (${sqlList(GopherStopwords)})))")
          .cast("long").as("n_gstop"))
      .select(
        col("doc_id"), col("n_words"),
        (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords).as("r_word_count"),
        // 3 <= mean word length <= 10, as 3·n_words <= n_chars <= 10·n_words
        (col("n_chars") >= col("n_words") * 3 && col("n_chars") <= col("n_words") * 10)
          .as("r_word_length"),
        (col("n_sym") * 10 < col("n_words")).as("r_symbol_ratio"), // < 0.1 #/… per word
        (col("n_bullet") * 10 < col("n_lines") * 9).as("r_bullet_lines"), // < 90% bulleted
        (col("n_ellipsis") * 10 < col("n_lines") * 3).as("r_ellipsis_lines"), // < 30% trail off
        (col("n_alpha") * 5 >= col("n_words") * 4).as("r_alpha_words"), // >= 80% contain a-z
        (col("n_gstop") >= 2).as("r_stop_words")) // >= 2 distinct required stopwords
      .withColumn("pass",
        col("r_word_count") && col("r_word_length") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stop_words"))

  /** Corpus-self bigram language-model score — the perplexity-proxy quality
    * signal (the CCNet-style filter: docs whose token transitions are
    * improbable under the corpus's own statistics are noise, boilerplate or
    * the wrong language). avg_ll = mean over a doc's bigram instances of
    * ln((c(w1 w2) + 1) / (c(w1·) + V)) — Laplace-smoothed conditional
    * log-likelihood under the corpus bigram distribution, with V = the
    * corpus's distinct-unigram count and c(w1·) the bigram-HEAD occurrence
    * count (so the conditional normalizes exactly). Always negative; closer
    * to 0 = more predictable text. Docs with < 2 tokens have no bigrams and
    * are excluded.
    *
    * Plan shape at 100 TB: one map-only explode to (doc, head-hash,
    * bigram-hash) instances pre-aggregated per (doc, bigram) — the shuffle
    * carries 8-byte hashes, never n-gram text — then the model tables
    * c(bigram) and c(head) are partial+final aggregates OF that compact
    * table, joined back by hash; the vocabulary size joins in as a
    * broadcast 1-row aggregate. Nothing touches the driver; the doc-side
    * sum is rounded at 6dp so cross-engine double summation order cannot
    * flip the oracle hash (the embed-drift precedent).
    */
  /** The LM family's tokenized projection, scan-fanned: with the per-doc
    * counts now computed map-only (BigramCountHashes), no exchange sits
    * between the scan and the pin, so the pin would FREEZE the scan's
    * split count for every consumer — at sf100 the 560 MB documents file
    * is ~5 splits, leaving 27 of 32 cores idle through the md5-heavy
    * hashing pass. `Spread.fan` is conditional (a no-op once the scan
    * provides >= core-count splits, i.e. on any production-sized input)
    * and hash-keyed on doc_id (retry-safe), with a 256 MB size floor:
    * below it the one-time (doc_id, text) exchange costs more than the
    * unlocked cores earn (measured: fanning the 0.5 MB sf0.1 scan took
    * q_text_lmscore 0.53 -> 0.91 s; the floored fan is a no-op there and
    * the sf100 numbers are in OPTIMIZATION_r18.md).
    */
  private def fannedToks(docs: DataFrame): DataFrame =
    graft.Spread.fan(docs.select(col("doc_id"), col("text")), col("doc_id"),
        minBytes = 256L << 20)
      .select(col("doc_id"), tokens(col("text")).as("toks"))

  def lmScore(docs: DataFrame): DataFrame = {
    val t = fannedToks(docs)
    // perDoc feeds THREE consumers (c_bg, c_u, the scoring join): pin it,
    // or Catalyst replays tokenize->explode->shuffle once per consumer —
    // the multi-consumer rule that cost q_dedup_prefix 20x. The pinned
    // table is the compact (doc, u, bg, nd) form, the smallest thing the
    // whole family can share; at sf10 this cut the instance-stream passes
    // from 3 to 1.
    //
    // The per-(doc, u, bg) counts are computed NATIVELY inside the row
    // (BigramCountHashes) instead of explode + groupBy(doc_id, u, bg): a
    // document's bigram instances all live in its own row, so that groupBy
    // merged nothing across partitions — it existed only to dedup, paying a
    // full exchange of the instance stream plus two hash-aggregate passes
    // for an aggregation that is local to each row (guide §2.4: remove
    // shuffles outright). Value-identical (ExpressionsSpec pins the
    // multiset equality); the pin now sits on a map-only plan.
    val perDoc = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.bigramCountHashes(col("toks"))).as("p"))
      .select(col("doc_id"), col("p.u").as("u"), col("p.bg").as("bg"),
        col("p.nd").as("nd"))
      .pinned(false)
    val cBg = perDoc.groupBy(col("bg")).agg(sum(col("nd")).as("c_bg"))
    val cU = perDoc.groupBy(col("u")).agg(sum(col("nd")).as("c_u"))
    val vocab = t.select(explode(col("toks")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    perDoc.join(cBg, Seq("bg")).join(cU, Seq("u"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", col("nd").cast("double") *
        (log((col("c_bg") + 1).cast("double")) - log((col("c_u") + col("v")).cast("double"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("nd")).as("n_bigrams"),
        round(sum(col("lp")) / sum(col("nd")), 6).as("avg_ll"))
  }

  /** The bigram model `lmScore` builds, as standalone tables — the
    * persisted form a production deployment refreshes on its own cadence.
    */
  case class LmModel(bigrams: DataFrame, unigrams: DataFrame, vocab: DataFrame)

  /** Build the Laplace-smoothed bigram model tables from a REFERENCE corpus:
    * (bg → c_bg), (u → c_u), 1-row vocab size. Hash-keyed like `lmScore` —
    * shuffles carry 8-byte hashes, never text.
    */
  def lmModel(docs: DataFrame): LmModel = {
    val t = fannedToks(docs)
    // One instance-stream pass, not two: aggregate to the vocabulary-sized
    // (u, bg, n) table once (pinned — two consumers), then both model
    // tables are roll-ups OF it (the bg side re-groups rather than
    // projecting, so a 60-bit bg collision across different heads still
    // sums exactly like the one-table formulation it replaces).
    // Per-row pre-counts come from the native BigramCountHashes pass, so
    // the exchange feeding this aggregate carries per-doc-deduped (u, bg,
    // nd) rows and the map-side partial aggregation probes per distinct
    // pair, not per instance; sum of per-doc counts == the former
    // count(*) over instances, exactly (integers).
    val pairCounts = t.filter(size(col("toks")) >= 2)
      .select(explode(graft.functions.GraftFunctions.bigramCountHashes(col("toks"))).as("p"))
      .select(col("p.u").as("u"), col("p.bg").as("bg"), col("p.nd").as("nd"))
      .groupBy(col("u"), col("bg"))
      .agg(sum(col("nd")).as("n")).pinned(false)
    LmModel(
      pairCounts.groupBy(col("bg")).agg(sum(col("n")).as("c_bg")),
      pairCounts.groupBy(col("u")).agg(sum(col("n")).as("c_u")),
      t.select(explode(col("toks")).as("w")).agg(count_distinct(col("w")).as("v")))
  }

  /** Score documents against a FROZEN model — the incremental convention
    * (`Dedup.*FromSigs`, `Similarity.ivfTopKFromIndex`) applied to the LM
    * quality signal: a new crawl increment scores against the admitted
    * corpus's model without re-counting history. LEFT joins + coalesce(0)
    * handle increment bigrams the model has never seen (Laplace smoothing
    * gives them mass (0+1)/(0+V), exactly CCNet's unseen-token behavior).
    * Scoring the model's own corpus with this function reproduces
    * `lmScore` (inner == left when every key hits; TextSpec asserts).
    */
  def lmScoreFromModel(docs: DataFrame, m: LmModel): DataFrame = {
    val t = fannedToks(docs)
    // native per-row (u, bg, nd) counts — same rewrite as lmScore's perDoc:
    // the former groupBy(doc_id, u, bg) shuffled per-doc-local groups
    val perDoc = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.bigramCountHashes(col("toks"))).as("p"))
      .select(col("doc_id"), col("p.u").as("u"), col("p.bg").as("bg"),
        col("p.nd").as("nd"))
    perDoc
      .join(m.bigrams, Seq("bg"), "left")
      .join(m.unigrams, Seq("u"), "left")
      .crossJoin(broadcast(m.vocab))
      .withColumn("lp", col("nd").cast("double") *
        (log((coalesce(col("c_bg"), lit(0L)) + 1).cast("double"))
          - log((coalesce(col("c_u"), lit(0L)) + col("v")).cast("double"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("nd")).as("n_bigrams"),
        round(sum(col("lp")) / sum(col("nd")), 6).as("avg_ll"))
  }

  /** Collocation mining: adjacent-token pairs ranked by association lift
    * (the phrase-detection pass of word2vec, Mikolov et al. 2013 §4 — there
    * scored as count(ab)/(count(a)·count(b)), monotone in PMI). Used to
    * promote "new york"-style units to single vocabulary entries before
    * tokenizer training.
    *
    * Scale shape: two corpus aggregates (bigram counts, unigram counts) —
    * both partial+final hash aggs whose domains are vocabulary-sized, the
    * exact cadence of `Corpus.vocabulary` and the LM model pass. The join
    * back of unigram counts touches only the distinct-bigram table, never
    * the corpus; top-k is TakeOrderedAndProject.
    *
    * Determinism: lift is kept in integer micro-units with a DOCUMENTED
    * evaluation order — `((c_ab * 1e6) div c_a) * tot div c_b` — mirrored
    * verbatim by the oracle. (c_ab ≤ c_a keeps the first factor ≤ 1e6, so
    * the widest intermediate is ≤ 1e6 · corpus tokens: no overflow below
    * ~9e12-token corpora; monotone-equivalent to PMI ranking up to the
    * truncation granularity.)
    */
  def collocations(docs: DataFrame, minCount: Long = CollocMinCount,
      topK: Int = CollocTopK): DataFrame = {
    val t = docs.select(tokens(col("text")).as("toks"))
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val tot = uni.agg(sum(col("c_w")).as("tot"))
    val bi = t.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS a, toks[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c_ab"),
        expr("((c_ab * 1000000L) div c_a) * tot div c_b").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("a"), col("b"))
      .limit(topK)
  }

  val CollocMinCount = 5L
  val CollocTopK = 50

  // -------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_collocations" -> ((s, d) => collocations(Tables.documents(s, d))),
    "q_text_lmscore" -> ((s, d) => lmScore(Tables.documents(s, d))),
    // incremental LM scoring: model from even doc_ids (the "admitted
    // corpus"), odd doc_ids scored as the increment
    "q_text_lmscore_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      lmScoreFromModel(
        docs.filter(col("doc_id") % 2 === 1),
        lmModel(docs.filter(col("doc_id") % 2 === 0)))
    }),
    "q_text_stats" -> ((s, d) => stats(Tables.documents(s, d))),
    "q_text_langid" -> ((s, d) => langId(Tables.documents(s, d))),
    "q_text_tokens" -> ((s, d) => tokenCounts(Tables.documents(s, d))),
    "q_text_fingerprint" -> ((s, d) => fingerprints(Tables.documents(s, d))),
    "q_text_quality" -> ((s, d) => quality(Tables.documents(s, d))),
    "q_text_repetition" -> ((s, d) => repetition(Tables.documents(s, d))),
    "q_text_gopher" -> ((s, d) => gopherRules(Tables.documents(s, d))),
    "q_text_ctype" -> ((s, d) => contentType(Tables.documents(s, d))),
    "q_text_tfidf" -> ((s, d) => tfidf(Tables.documents(s, d))),
    "q_search_bm25" -> ((s, d) => bm25Derived(Tables.documents(s, d))),
    // the documents text is clean ASCII, so the NFC/collapse oracle wraps it
    // in a deterministic messy fixture (decomposed accents, TAB, ZWSP, NBSP)
    // built identically on both engines — the q_domain_url convention
    "q_text_normalize" -> ((s, d) =>
      normalizeDocs(
        Tables.documents(s, d).withColumn("text",
          concat(lit("e\u0301\tA\u030A: "), col("text"),
            lit("  \u200Bzero\u00A0width  "))))
        .select(col("doc_id"), col("norm_text"),
          length(col("norm_text")).as("n_norm"))),
    // the documents text is digit- and @-free, so the oracle-checked scrub
    // runs a digit rule over events.props (the digit-rich column); the
    // PII rule set itself is spec-tested on literal fixtures (TextSpec)
    "q_text_scrub" -> ((s, d) =>
      scrub(Tables.events(s, d), "props", Seq("\\d+" -> "<NUM>"))
        .select(col("event_id"), col("scrubbed"), col("n_redactions"))))

  private[ops] val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private[ops] val toksSql = s"string_split($normSql, ' ')"

  val oracleSql: Map[String, String] = Map(
    "q_text_collocations" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |uni AS (SELECT w, count(*) AS c_w FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |tot AS (SELECT sum(c_w) AS tot FROM uni),
         |inst AS (SELECT unnest([{'a': toks[i], 'b': toks[i + 1]} for i in range(1, len(toks))]) AS p
         |         FROM t WHERE len(toks) >= 2),
         |bi AS (SELECT p.a AS a, p.b AS b, count(*) AS c_ab FROM inst GROUP BY 1, 2
         |       HAVING count(*) >= $CollocMinCount)
         |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
         |  CAST(((c_ab * 1000000) // ua.c_w) * tot // ub.c_w AS BIGINT) AS lift_e6
         |FROM bi JOIN uni ua ON ua.w = a JOIN uni ub ON ub.w = b CROSS JOIN tot
         |ORDER BY lift_e6 DESC, a, b LIMIT $CollocTopK""".stripMargin,
    "q_text_lmscore" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |inst AS (SELECT doc_id,
         |           unnest([{'u': ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT,
         |                    'bg': ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT}
         |                   for i in range(1, len(toks))]) AS p
         |         FROM t WHERE len(toks) >= 2),
         |pd AS (SELECT doc_id, p.u AS u, p.bg AS bg, count(*) AS nd
         |       FROM inst GROUP BY 1, 2, 3),
         |cbg AS (SELECT bg, sum(nd) AS c_bg FROM pd GROUP BY 1),
         |cu AS (SELECT u, sum(nd) AS c_u FROM pd GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v
         |      FROM (SELECT unnest(toks) AS w FROM t))
         |SELECT doc_id, CAST(sum(nd) AS BIGINT) AS n_bigrams,
         |  round(sum(CAST(nd AS DOUBLE) * (ln(CAST(c_bg + 1 AS DOUBLE)) - ln(CAST(c_u + v AS DOUBLE))))
         |        / sum(nd), 6) AS avg_ll
         |FROM pd JOIN cbg USING (bg) JOIN cu USING (u) CROSS JOIN v
         |GROUP BY doc_id""".stripMargin,

    "q_text_ctype" ->
      s"""WITH s AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '\\n')) + 1 AS BIGINT) AS n_lines,
         |  CAST(len(regexp_extract_all(text, '(?m)^[\\t ]')) AS BIGINT) AS indent_lines,
         |  CAST(len(regexp_extract_all(text, '[{}();<>\\[\\]]')) AS BIGINT) AS sym_hits,
         |  CAST(len(regexp_extract_all(text, '[-+*/^=]')) AS BIGINT) AS math_hits
         |  FROM documents)
         |SELECT doc_id, n_chars, n_lines, indent_lines, sym_hits, math_hits,
         |  CASE WHEN sym_hits * 40 >= n_chars OR indent_lines * 3 >= n_lines THEN 'code'
         |       WHEN math_hits * 30 >= n_chars THEN 'math'
         |       ELSE 'prose' END AS ctype
         |FROM s""".stripMargin,

    "q_text_lmscore_incr" ->
      s"""WITH tm AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id % 2 = 0),
         |ti AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id % 2 = 1),
         |minst AS (SELECT unnest([{'u': ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT,
         |                   'bg': ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT}
         |                  for i in range(1, len(toks))]) AS p
         |         FROM tm WHERE len(toks) >= 2),
         |cbg AS (SELECT p.bg AS bg, count(*) AS c_bg FROM minst GROUP BY 1),
         |cu AS (SELECT p.u AS u, count(*) AS c_u FROM minst GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v
         |      FROM (SELECT unnest(toks) AS w FROM tm)),
         |pd AS (SELECT doc_id, p.u AS u, p.bg AS bg, count(*) AS nd
         |       FROM (SELECT doc_id,
         |               unnest([{'u': ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT,
         |                        'bg': ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT}
         |                       for i in range(1, len(toks))]) AS p
         |             FROM ti WHERE len(toks) >= 2)
         |       GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(sum(nd) AS BIGINT) AS n_bigrams,
         |  round(sum(CAST(nd AS DOUBLE) * (ln(CAST(coalesce(c_bg, 0) + 1 AS DOUBLE))
         |                                  - ln(CAST(coalesce(c_u, 0) + v AS DOUBLE))))
         |        / sum(nd), 6) AS avg_ll
         |FROM pd LEFT JOIN cbg USING (bg) LEFT JOIN cu USING (u) CROSS JOIN v
         |GROUP BY doc_id""".stripMargin,

    "q_text_scrub" ->
      s"""SELECT event_id,
         |  regexp_replace(props, '\\d+', '<NUM>', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(props, '\\d+')) AS BIGINT) AS n_redactions
         |FROM events""".stripMargin,

    "q_text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT doc_id, term, tf,
         |        round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1), 6) AS tfidf
         |      FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, tfidf,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
         |      FROM s)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $TfIdfTopK""".stripMargin,

    "q_search_bm25" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |qt AS (SELECT term FROM (
         |         SELECT term, count(*) AS qdf FROM (SELECT DISTINCT doc_id, term FROM t)
         |         GROUP BY 1)
         |       ORDER BY qdf DESC, term LIMIT $Bm25QueryK),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |ad AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |              (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT count(*) FROM documents) AS avgdl),
         |s AS (SELECT tf.doc_id,
         |        ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |          * (tf * ${Bm25K1 + 1})
         |          / (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)) AS c
         |      FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN ad),
         |sc AS (SELECT doc_id, round(sum(c), 6) AS score FROM s GROUP BY 1),
         |r AS (SELECT doc_id, score,
         |        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |      FROM sc)
         |SELECT doc_id, score, rank FROM r WHERE rank <= $Bm25TopK""".stripMargin,

    "q_text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks,
         |        [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bi
         |      FROM t WHERE len(toks) >= 2)
         |SELECT doc_id,
         |  CAST(len(bi) AS BIGINT) AS n_2grams,
         |  CAST(len(bi) - len(list_distinct(bi)) AS BIGINT) AS n_dup_2grams,
         |  round(CAST(len(bi) - len(list_distinct(bi)) AS DOUBLE) / len(bi), 6) AS dup_2gram_frac,
         |  CAST(len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1])) AS BIGINT) AS n_immediate_repeats
         |FROM b""".stripMargin,

    "q_text_gopher" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks, $normSql AS norm,
         |             string_split(text, chr(10)) AS lines
         |           FROM documents),
         |c AS (SELECT doc_id,
         |        CAST(len(toks) AS BIGINT) AS n_words,
         |        CAST(length(replace(norm, ' ', '')) AS BIGINT) AS n_chars,
         |        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_sym,
         |        CAST(len(lines) AS BIGINT) AS n_lines,
         |        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
         |        CAST(len(list_filter(lines, l -> trim(l) LIKE '%...')) AS BIGINT) AS n_ellipsis,
         |        CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
         |        CAST(len(list_filter(list_distinct(toks), t -> t IN (${sqlList(GopherStopwords)}))) AS BIGINT) AS n_gstop
         |      FROM t)
         |SELECT doc_id, n_words,
         |  n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS r_word_count,
         |  n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS r_word_length,
         |  n_sym * 10 < n_words AS r_symbol_ratio,
         |  n_bullet * 10 < n_lines * 9 AS r_bullet_lines,
         |  n_ellipsis * 10 < n_lines * 3 AS r_ellipsis_lines,
         |  n_alpha * 5 >= n_words * 4 AS r_alpha_words,
         |  n_gstop >= 2 AS r_stop_words,
         |  (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords)
         |    AND (n_chars >= n_words * 3 AND n_chars <= n_words * 10)
         |    AND n_sym * 10 < n_words AND n_bullet * 10 < n_lines * 9
         |    AND n_ellipsis * 10 < n_lines * 3 AND n_alpha * 5 >= n_words * 4
         |    AND n_gstop >= 2 AS pass
         |FROM c""".stripMargin,

    // the messy fixture is rebuilt with chr() codes: e+U+0301, TAB, A+U+030A,
    // ZWSP (8203, Cf), NBSP (160, Zs) — nfc_normalize (utf8proc) must agree
    // with java.text.Normalizer, and the RE2 class [\p{Z}\p{Cc}\p{Cf}]
    // replays NormalizeText's category set exactly
    "q_text_normalize" ->
      """WITH m AS (SELECT doc_id,
        |  'e' || chr(769) || chr(9) || 'A' || chr(778) || ': ' || text ||
        |  '  ' || chr(8203) || 'zero' || chr(160) || 'width  ' AS messy
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(messy), '[\p{Z}\p{Cc}\p{Cf}]+', ' ', 'g')) AS norm_text
        |  FROM m)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS INT) AS n_norm FROM n""".stripMargin,

    "q_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $normSql AS norm, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks), 6) AS avg_tok_len,
         |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(toks, t -> t IN (${sqlList(stopwords)}))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio
         |FROM t""".stripMargin,

    "q_text_langid" -> {
      val hitCols = langStopwords.map { case (l, ws) =>
        s"CAST(len(list_filter(toks, t -> t IN (${sqlList(ws)}))) AS BIGINT) AS hits_$l"
      }.mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, lang AS lang_actual, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, lang_actual,
         |  $hitCols
         |FROM t)
         |SELECT doc_id, lang_actual, ${langStopwords.map(x => "hits_" + x._1).mkString(", ")},
         |  $langCaseSql AS lang_pred
         |FROM h""".stripMargin
    },

    "q_text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS chars
         |FROM documents""".stripMargin,

    "q_text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5($normSql) AS fp_exact,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp_canon
         |FROM documents""".stripMargin,

    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  round(CAST(len(list_filter(toks, t -> t IN (${sqlList(stopwords)}))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS uniq_ratio
         |FROM t)
         |SELECT doc_id,
         |  CAST(floor((0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 80.0)
         |      + 0.3 * least(1.0, stop_ratio * 5.0)
         |      + 0.2 * uniq_ratio) * 1000000.0) AS BIGINT) AS quality_e6,
         |  CASE WHEN 0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 80.0)
         |      + 0.3 * least(1.0, stop_ratio * 5.0)
         |      + 0.2 * uniq_ratio >= 0.5 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM s""".stripMargin)
}
