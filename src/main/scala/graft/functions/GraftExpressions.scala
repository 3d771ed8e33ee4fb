package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot inner loops of the similarity /
  * dedup operators. The reference's equivalent is a hand-written Java lambda
  * over its columnar buffers (README.md:10-19); the Spark-first equivalent of
  * "hand-written inner loop" is a codegen'd `Expression` — these stay inside
  * whole-stage codegen, unlike `aggregate`/`zip_with` higher-order functions
  * (CodegenFallback, interpreted per element) and unlike Scala UDFs
  * (serialization boundary per row).
  *
  * Both expressions fold left-to-right in ascending element order, so any
  * engine replaying the same formula sequentially (e.g. DuckDB `list_sum`
  * over a comprehension) produces bit-identical doubles.
  */

/** Dot product of two double arrays: sum_i a[i]*b[i], i ascending. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int graftN = Math.min($a.numElements(), $b.numElements());
         |double graftAcc = 0.0;
         |for (int graftI = 0; graftI < graftN; graftI++) {
         |  graftAcc += $a.getDouble(graftI) * $b.getDouble(graftI);
         |}
         |${ev.value} = graftAcc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** |A ∩ B| for two SORTED long arrays (single merge walk, no hash set built
  * per row — the per-pair cost that dominates quadratic n-gram dedup).
  * Inputs must be sorted ascending and duplicate-free; `Dedup` prepares them
  * with `array_sort(array_distinct(...))`.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int graftN = $a.numElements(); int graftM = $b.numElements();
         |int graftI = 0; int graftJ = 0; long graftC = 0L;
         |while (graftI < graftN && graftJ < graftM) {
         |  long graftX = $a.getLong(graftI); long graftY = $b.getLong(graftJ);
         |  if (graftX < graftY) graftI++;
         |  else if (graftX > graftY) graftJ++;
         |  else { graftC++; graftI++; graftJ++; }
         |}
         |${ev.value} = graftC;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** 60-bit SimHash from an array of 60-bit token hashes: bit i of the result
  * is set iff sum over tokens of (bit i of hash ? +1 : -1) is positive.
  * Native loop — the interpreted higher-order-function formulation costs
  * ~60×|tokens| boxed lambda steps per document.
  */
case class SimHash60(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override protected def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](60)
    var t = 0
    while (t < n) {
      val h = hs.getLong(t)
      var i = 0
      while (i < 60) { votes(i) += (((h >> i) & 1L) * 2 - 1).toInt; i += 1 }
      t += 1
    }
    var sim = 0L
    var i = 0
    while (i < 60) { if (votes(i) > 0) sim |= 1L << i; i += 1 }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int graftN = $a.numElements();
         |int[] graftVotes = new int[60];
         |for (int graftT = 0; graftT < graftN; graftT++) {
         |  long graftH = $a.getLong(graftT);
         |  for (int graftI = 0; graftI < 60; graftI++) {
         |    graftVotes[graftI] += (int) (((graftH >> graftI) & 1L) * 2 - 1);
         |  }
         |}
         |long graftSim = 0L;
         |for (int graftI = 0; graftI < 60; graftI++) {
         |  if (graftVotes[graftI] > 0) graftSim |= 1L << graftI;
         |}
         |${ev.value} = graftSim;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash60 = copy(child = c)
}

/** All K minhashes of a hashed-shingle array in one native pass:
  * mh_i = min over h of (a_i*h + b_i) mod p. One array traversal computes
  * every permutation — the 16 separate `array_min(transform(...))`
  * higher-order expressions it replaces traverse (interpreted) 16 times.
  * Coefficients are baked into the generated code as literals.
  */
case class MinHashes(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    coeffs: Seq[(Long, Long)],
    prime: Long,
    inputMod: Long = 0L)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhashes"

  override protected def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val mins = Array.fill(coeffs.length)(Long.MaxValue)
    var t = 0
    while (t < n) {
      val h0 = hs.getLong(t)
      val h = if (inputMod > 0) h0 % inputMod else h0
      var i = 0
      while (i < coeffs.length) {
        val v = (coeffs(i)._1 * h + coeffs(i)._2) % prime
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val as = coeffs.map(_._1).mkString("{", "L,", "L}")
    val bs = coeffs.map(_._2).mkString("{", "L,", "L}")
    // inputMod folds the `h % prime` pre-reduction (needed so a*h cannot
    // overflow 64 bits) into this native loop — the standalone interpreted
    // `transform(h60, h -> h % p)` it replaces cost a boxed lambda per hash.
    val reduce = if (inputMod > 0) s" % ${inputMod}L" else ""
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |long[] graftAs = new long[]$as;
         |long[] graftBs = new long[]$bs;
         |long[] graftMins = new long[${coeffs.length}];
         |java.util.Arrays.fill(graftMins, Long.MAX_VALUE);
         |int graftN = $a.numElements();
         |for (int graftT = 0; graftT < graftN; graftT++) {
         |  long graftH = $a.getLong(graftT)$reduce;
         |  for (int graftI = 0; graftI < ${coeffs.length}; graftI++) {
         |    long graftV = (graftAs[graftI] * graftH + graftBs[graftI]) % ${prime}L;
         |    if (graftV < graftMins[graftI]) graftMins[graftI] = graftV;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(graftMins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): MinHashes = copy(child = c)
}

/** Distinct 3-gram shingle hashes of a token array in ONE native pass —
  * the construction the whole dedup/decontamination family starts from.
  * Semantics are EXACTLY the SQL spelling every oracle replays:
  * `transform(array_distinct(3-gram shingle strings),
  * s -> conv(substr(md5(s),1,15),16,10) [% mod])` (+ `array_sort` when
  * `sorted`): shingle = `tok(i) || ' ' || tok(i+1) || ' ' || tok(i+2)`,
  * distinct on the STRING in first-occurrence order, hash = first 60 bits
  * of md5 over the UTF-8 bytes. The SQL form pays an interpreted
  * higher-order lambda per shingle plus a hex-string render and a conv()
  * re-parse per hash (measured ~4× the digest cost — MicroBench `shingle`);
  * this pass digests the concatenated bytes directly and reads the 60 bits
  * off the raw digest. Fewer than 3 tokens → empty array (call sites also
  * pre-filter). Input tokens must be null-free (`Text.tokens` output).
  */
case class ShingleHashes(child: Expression, mod: Long, sorted: Boolean, n: Int = 3)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(a: Any): Any =
    ShingleHashes.compute(a.asInstanceOf[ArrayData], n, mod, sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.ShingleHashes.compute($a, $n, ${mod}L, $sorted)")

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

object ShingleHashes {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry shared by interpreted eval and generated code. `n` is the
    * gram width: 3 = the dedup-family shingles, 1 = distinct-token hashes
    * (`transform(array_distinct(toks), t -> md5-60bit)` — the SimHash
    * input).
    */
  def compute(toks: ArrayData, n: Int, mod: Long, sorted: Boolean): ArrayData = {
    val len = toks.numElements()
    val wins = len - n + 1
    if (wins <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val digest = md.get()
    val seen = new java.util.HashSet[java.nio.ByteBuffer](math.max(16, wins * 2))
    val out = new Array[Long](wins)
    var cnt = 0
    var i = 0
    while (i < wins) {
      var bytes = 0
      var j = 0
      while (j < n) { bytes += toks.getUTF8String(i + j).numBytes(); j += 1 }
      val buf = new Array[Byte](bytes + (n - 1))
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = toks.getUTF8String(i + j).getBytes
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      // distinct on the shingle STRING == distinct on its UTF-8 bytes
      if (seen.add(java.nio.ByteBuffer.wrap(buf))) {
        digest.reset()
        val dg = digest.digest(buf)
        // first 15 hex chars of md5 = top 60 bits of the digest, big-endian
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
        h = h >>> 4
        out(cnt) = if (mod > 0) h % mod else h
        cnt += 1
      }
      i += 1
    }
    val res = java.util.Arrays.copyOf(out, cnt)
    if (sorted) java.util.Arrays.sort(res)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }
}

/** Per-document bigram-instance COUNTS in one native pass. A bigram
  * instance is an adjacent token pair (i, i+1), keyed by `u` = 60-bit md5
  * of token i and `bg` = 60-bit md5 of `tok_i || ' ' || tok_{i+1}` — the SQL
  * spelling the LM family's oracles replay (`transform(sequence(1,
  * size(toks)-1), i -> struct(hash(tok_i) AS u, hash(concat3) AS bg))`).
  * This emits the distinct (u, bg) pairs with their within-row occurrence
  * counts `nd`, in first-occurrence order. Value-identical AS AN UNORDERED
  * SET to `explode` of that SQL spelling followed by
  * `groupBy(u, bg).agg(count(*) AS nd)` restricted to this row
  * (ExpressionsSpec pins the multiset equality on real corpus docs) — and
  * since every downstream consumer groups or joins on (u, bg) (never on
  * array position), replacing explode+groupBy with explode(this) computes
  * the same tables. The point (guide §2.3/§2.4): a document's bigram
  * instances all live in ITS row, so the per-(doc, u, bg) aggregate needs
  * no exchange at all — the former `groupBy(doc_id, u, bg)` shuffled the
  * full already-deduped instance stream and re-probed a partition-wide
  * hash table just to merge groups that were never split. Each token
  * digests once (u cached across the slide), each pair once; the count map
  * adds one probe per instance. Fewer than 2 tokens → empty array.
  */
case class BigramCountHashes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("u", LongType, nullable = false),
      StructField("bg", LongType, nullable = false),
      StructField("nd", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_bigram_count_hashes"

  override protected def nullSafeEval(a: Any): Any =
    BigramCountHashes.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BigramCountHashes.compute($a)")

  override protected def withNewChildInternal(c: Expression): BigramCountHashes =
    copy(child = c)
}

object BigramCountHashes {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def h60(digest: java.security.MessageDigest, buf: Array[Byte]): Long = {
    digest.reset()
    val dg = digest.digest(buf)
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
    h >>> 4
  }

  /** (u, bg) composite key — groups by BOTH hashes, exactly like the SQL
    * groupBy (a bg collision between different heads must stay two groups).
    */
  private final class Key(val u: Long, val bg: Long) {
    override def hashCode(): Int = {
      val m = u * 0x9e3779b97f4a7c15L + bg
      (m ^ (m >>> 32)).toInt
    }
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.u == u && k.bg == bg
      case _ => false
    }
  }

  /** Static entry shared by interpreted eval and generated code. */
  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[org.apache.spark.sql.catalyst.InternalRow])
    val digest = md.get()
    // first-occurrence emission order (deterministic; consumers are
    // order-insensitive group/join keys)
    val counts = new java.util.LinkedHashMap[Key, Array[Long]](math.max(16, n))
    var prev = toks.getUTF8String(0).getBytes
    var prevH = h60(digest, prev)
    var i = 0
    while (i < n - 1) {
      val next = toks.getUTF8String(i + 1).getBytes
      val pair = new Array[Byte](prev.length + next.length + 1)
      System.arraycopy(prev, 0, pair, 0, prev.length)
      pair(prev.length) = ' '
      System.arraycopy(next, 0, pair, prev.length + 1, next.length)
      val key = new Key(prevH, h60(digest, pair))
      val cell = counts.get(key)
      if (cell == null) counts.put(key, Array(1L)) else cell(0) += 1L
      prev = next
      prevH = h60(digest, prev)
      i += 1
    }
    val out = new Array[org.apache.spark.sql.catalyst.InternalRow](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
      row.setLong(0, e.getKey.u)
      row.setLong(1, e.getKey.bg)
      row.setLong(2, e.getValue()(0))
      out(k) = row
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.asInstanceOf[Array[Any]])
  }
}

/** All `w`-token rolling-window hashes at stride 1, IN POSITION ORDER with
  * duplicates kept: element i (0-based) is the 60-bit md5 of
  * `concat_ws(' ', toks[i..i+w-1])` — the substring-dedup window hash
  * (`Dedup.duplicateSpans`), exactly the SQL spelling
  * `cast(conv(substr(md5(concat_ws(' ', slice(toks, i, w))), 1, 15), 16, 10)
  * as bigint)` that the oracle replays. One native pass replaces the
  * interpreted `transform(sequence(...), i -> struct(i, md5(concat_ws(
  * slice(...)))))` chain, which pays a boxed lambda, an array slice
  * allocation, a hex-string md5, a substr and a string-to-long conv PER
  * WINDOW (HigherOrderFunction = CodegenFallback, outside whole-stage
  * codegen). Differs from [[ShingleHashes]] in keeping duplicates and
  * positions — spans need every occurrence, not the distinct set.
  * Fewer than `w` tokens → empty array.
  */
case class WindowHashes(child: Expression, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hashes"

  override protected def nullSafeEval(a: Any): Any =
    WindowHashes.compute(a.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.WindowHashes.compute($a, $w)")

  override protected def withNewChildInternal(c: Expression): WindowHashes =
    copy(child = c)
}

object WindowHashes {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, w: Int): ArrayData = {
    val len = toks.numElements()
    val wins = len - w + 1
    if (wins <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val digest = md.get()
    // token bytes fetched once, reused across the w windows sharing them
    val tb = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](wins)
    i = 0
    while (i < wins) {
      var bytes = 0
      var j = 0
      while (j < w) { bytes += tb(i + j).length; j += 1 }
      val buf = new Array[Byte](bytes + (w - 1))
      var off = 0
      j = 0
      while (j < w) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = tb(i + j)
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      digest.reset()
      val dg = digest.digest(buf)
      // first 15 hex chars of md5 = top 60 bits of the digest, big-endian
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
      out(i) = h >>> 4
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All ordered pairs (a[j], a[i]) with j < i of a long array — the basket
  * pair fan of `Behavior.copurchase`, value-identical to the SQL spelling
  * `flatten(transform(sequence(2, size(ps)), i -> transform(sequence(1,
  * i - 1), j -> struct(ps[j] as p1, ps[i] as p2))))` including emission
  * order (i ascending, j ascending within i — ExpressionsSpec pins it).
  * On a SORTED DISTINCT input this enumerates exactly the p1 < p2 pairs.
  * One native codegen pass replaces two nested interpreted lambdas, a
  * sequence materialization and a flatten copy per basket (guide §4:
  * HigherOrderFunction = CodegenFallback). Quadratic in basket size by
  * definition — same contract and the same cap as the SQL form (callers
  * bound basket size upstream).
  */
case class SortedPairs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("p1", LongType, nullable = false),
      StructField("p2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_sorted_pairs"

  override protected def nullSafeEval(a: Any): Any =
    SortedPairs.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SortedPairs.compute($a)")

  override protected def withNewChildInternal(c: Expression): SortedPairs =
    copy(child = c)
}

object SortedPairs {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[org.apache.spark.sql.catalyst.InternalRow])
    val vals = a.toLongArray()
    val out = new Array[org.apache.spark.sql.catalyst.InternalRow](n * (n - 1) / 2)
    var k = 0
    var i = 1
    while (i < n) {
      var j = 0
      while (j < i) {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        row.setLong(0, vals(j))
        row.setLong(1, vals(i))
        out(k) = row
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Whitespace tokenization of an (already-lowercased) string — bit-exact
  * with `split(trim(regexp_replace(s, "\\s+", " ")), " ")`, the tokenizer
  * spelling every text operator shares (`Text.tokens`; the oracle replays
  * the same chain). Identities used: Java regex `\s` without UNICODE flags
  * is exactly the ASCII set `[ \t\n\x0B\f\r]`, so "collapse runs to one
  * space, trim, split on single space" ≡ "emit maximal non-whitespace
  * runs, or a single empty string when there are none" (the empty-input /
  * all-whitespace case: `split("", " ")` is `[""]`). `lower` commutes with
  * all three (no case mapping creates or removes whitespace), so callers
  * keep Catalyst's `lower()` INSIDE: `WhitespaceTokens(lower(c))` — no
  * reimplementation of collation-aware lowercasing here. One native pass
  * replaces two regex-engine traversals (`regexp_replace`, regex `split`)
  * plus two intermediate string allocations per row; token slices share
  * the input's byte array (no copies). ExpressionsSpec pins the equality
  * on real docs and on tab/newline/multibyte/empty edge cases.
  */
case class WhitespaceTokens(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_whitespace_tokens"

  override protected def nullSafeEval(a: Any): Any =
    WhitespaceTokens.compute(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.WhitespaceTokens.compute($a)")

  override protected def withNewChildInternal(c: Expression): WhitespaceTokens =
    copy(child = c)
}

object WhitespaceTokens {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Static entry shared by interpreted eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    // count maximal non-whitespace runs
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        cnt += 1
        while (i < n && !isWs(b(i))) i += 1
      } else i += 1
    }
    if (cnt == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8))
    val out = new Array[Any](cnt)
    var k = 0
    i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        val start = i
        while (i < n && !isWs(b(i))) i += 1
        out(k) = org.apache.spark.unsafe.types.UTF8String.fromBytes(b, start, i - start)
        k += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** DSIR feature buckets of a token array: for each feature f in
  * [unigrams ++ bigrams] (bigram = `tok_i ++ " " ++ tok_{i+1}`), emits
  * `hash60(salt ++ f) % mod` in that order — value-identical to
  * `Sampling.importanceResample`'s former spelling (explode of
  * `concat(toks, transform(sequence(1, size(toks)-1), i ->
  * concat(toks[i], ' ', toks[i+1])))` fed through
  * `cast(conv(substr(md5(concat(salt, f)), 1, 15), 16, 10) as bigint) % mod`;
  * ExpressionsSpec pins it). One native pass replaces the interpreted
  * bigram-string transform plus a per-feature string concat before the md5.
  * Single token yields just its unigram bucket; empty array yields empty.
  */
case class SaltedFeatureBuckets(child: Expression, salt: String, mod: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_salted_feature_buckets"

  override protected def nullSafeEval(a: Any): Any =
    SaltedFeatureBuckets.compute(a.asInstanceOf[ArrayData], salt, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", salt, "java.lang.String")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.SaltedFeatureBuckets.compute($a, $saltRef, ${mod}L)")
  }

  override protected def withNewChildInternal(c: Expression): SaltedFeatureBuckets =
    copy(child = c)
}

object SaltedFeatureBuckets {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def h60mod(digest: java.security.MessageDigest,
      salt: Array[Byte], a: Array[Byte], b: Array[Byte], mod: Long): Long = {
    digest.reset()
    digest.update(salt)
    digest.update(a)
    if (b != null) { digest.update(' '.toByte); digest.update(b) }
    val dg = digest.digest()
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
    (h >>> 4) % mod
  }

  /** Static entry shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, salt: String, mod: Long): ArrayData = {
    val n = toks.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val digest = md.get()
    val sb = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](n + (n - 1))
    i = 0
    while (i < n) { out(i) = h60mod(digest, sb, tb(i), null, mod); i += 1 }
    i = 0
    while (i < n - 1) { out(n + i) = h60mod(digest, sb, tb(i), tb(i + 1), mod); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Viterbi segmentation of one word under a (piece → integer score) map —
  * the unigram-LM tokenizer's inner loop (`Unigram.segmentCounts` /
  * `Unigram.encode`), returning the pieces of the optimal segmentation
  * left-to-right. Bit-exact replay of the SQL recurrence the oracle runs:
  * best[0] = 0, best[j] = max over l in 1..min(maxLen, j) of best[j−l] +
  * score(word[j−l+1 .. j]) with score = map value or `negInf`; the backwalk
  * from j = n takes the SMALLEST l achieving best[j] (shortest piece ending
  * here). Positions are CODE POINTS (Spark's `substring`/`length`
  * semantics), all arithmetic BIGINT. One native pass replaces two chained
  * interpreted `aggregate` HOFs (the DP and the backwalk — ~maxLen boxed
  * lambda steps, an array concat and a map probe per position, per row).
  *
  * The map arrives as a per-row column (broadcast 1-row crossJoin — the
  * trainer's zero-driver-reads design), so a per-thread cache keyed on the
  * map's CONTENT hash (XXH64 ×2 over the UnsafeMapData byte region) builds
  * the java HashMap once per task instead of per row; non-Unsafe maps
  * (interpreted eval) key on object identity and rebuild when it misses.
  */
case class UnigramViterbiPieces(left: Expression, right: Expression,
    maxLen: Int, negInf: Long)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_unigram_viterbi_pieces"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    UnigramViterbiPieces.compute(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData], maxLen, negInf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.UnigramViterbiPieces.compute($a, $b, $maxLen, ${negInf}L)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): UnigramViterbiPieces =
    copy(left = l, right = r)
}

object UnigramViterbiPieces {
  /** Per-thread word → segmentation memo (alongside the built score map):
    * `encode` runs the DP once per word INSTANCE, and natural/synthetic text
    * repeats the same words constantly — a memo turns repeats into a hash
    * probe. Safe because the result is a pure function of (word, map) and
    * the returned GenericArrayData is never mutated by consumers (Spark
    * copies on write into Unsafe rows). Access-order LRU, bounded so a
    * 100 TB task's vocabulary can't grow the memo without bound.
    */
  private final val MemoMax = 1 << 16
  private final class Cached(
      val h1: Long, val h2: Long, val n: Int, val ref: AnyRef,
      val baseObj: AnyRef, val baseOff: Long, val baseLen: Long,
      val map: java.util.HashMap[String, java.lang.Long]) {
    // NOTE (aliasing contract): memo values are SHARED GenericArrayData
    // instances returned verbatim on repeated words. Safe for the in-repo
    // consumers (explode / size — both copy element-wise into Unsafe rows)
    // but NOT for a consumer that retains the reference across rows
    // (collect_list of the raw array). Keep consumers explode/size-shaped,
    // or copy at the new call site.
    val memo = new java.util.LinkedHashMap[String, ArrayData](1024, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, ArrayData]): Boolean =
        size() > MemoMax
    }
  }
  private val cache = new ThreadLocal[Cached]

  private def build(m: org.apache.spark.sql.catalyst.util.MapData)
      : java.util.HashMap[String, java.lang.Long] = {
    val n = m.numElements()
    val ks = m.keyArray()
    val vs = m.valueArray()
    val out = new java.util.HashMap[String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) { out.put(ks.getUTF8String(i).toString, vs.getLong(i)); i += 1 }
    out
  }

  private def lookup(m: org.apache.spark.sql.catalyst.util.MapData): Cached = m match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeMapData =>
      // content-keyed: the byte region fully determines the map; two
      // independent 64-bit digests make a stale hit astronomically unlikely
      // even under projection-buffer reuse (same base/offset, new bytes).
      // FAST PATH (r17 advice — the double hash was O(map bytes) PER ROW):
      // one digest always runs (it is what detects a reused buffer with new
      // bytes), but when the buffer identity AND h1 match the cached entry
      // the second digest is skipped — steady state halves the per-row
      // hashing of the broadcast-literal map column.
      val c = cache.get()
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      if (c != null && (c.baseObj eq u.getBaseObject) && c.baseOff == u.getBaseOffset &&
          c.baseLen == u.getSizeInBytes && c.h1 == h1 && c.n == u.numElements()) c
      else {
        val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7L)
        if (c != null && c.h1 == h1 && c.h2 == h2 && c.n == u.numElements()) c
        else {
          val built = new Cached(h1, h2, u.numElements(), null,
            u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, build(u))
          cache.set(built)
          built
        }
      }
    case other =>
      val c = cache.get()
      if (c != null && (c.ref eq other)) c
      else {
        val built = new Cached(0L, 0L, other.numElements(), other, null, 0L, 0L, build(other))
        cache.set(built)
        built
      }
  }

  /** Static entry shared by interpreted eval and generated code. */
  def compute(word: org.apache.spark.unsafe.types.UTF8String,
      mapData: org.apache.spark.sql.catalyst.util.MapData,
      maxLen: Int, negInf: Long): ArrayData = {
    val holder = lookup(mapData)
    val s = word.toString
    val memoized = holder.memo.get(s)
    if (memoized != null) return memoized
    val mp = holder.map
    // code-point index → java char offset (Spark substring counts code points)
    val n = s.codePointCount(0, s.length)
    val cpOff = new Array[Int](n + 1)
    var ci = 0
    var off = 0
    while (ci < n) { cpOff(ci) = off; off += Character.charCount(s.codePointAt(off)); ci += 1 }
    cpOff(n) = s.length
    def score(startCp: Int, lenCp: Int): Long = {
      val v = mp.get(s.substring(cpOff(startCp), cpOff(startCp + lenCp)))
      if (v == null) negInf else v.longValue()
    }
    val best = new Array[Long](n + 1)
    var j = 1
    while (j <= n) {
      val lMax = math.min(maxLen, j)
      var b = Long.MinValue
      var l = 1
      while (l <= lMax) {
        val c = best(j - l) + score(j - l, l)
        if (c > b) b = c
        l += 1
      }
      best(j) = b
      j += 1
    }
    // backwalk: smallest l achieving best[pos] (never empty by construction)
    val pieces = new Array[Any](n) // at most n pieces
    var cnt = 0
    var pos = n
    while (pos > 0) {
      val lMax = math.min(maxLen, pos)
      var l = 1
      while (l <= lMax && best(pos - l) + score(pos - l, l) != best(pos)) l += 1
      pieces(cnt) = org.apache.spark.unsafe.types.UTF8String.fromString(
        s.substring(cpOff(pos - l), cpOff(pos)))
      cnt += 1
      pos -= l
    }
    // collected right-to-left; emit left-to-right like the SQL transform
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) { out(i) = pieces(cnt - 1 - i); i += 1 }
    val res = new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    holder.memo.put(s, res)
    res
  }
}

/** Count of the input long-array's elements present in a FIXED sorted set —
  * the decontamination primitive: each document's shingle hashes probe the
  * benchmark-suite set. The set rides the closure (one copy per executor via
  * task-binary broadcast, a codegen reference object — never inlined as
  * source text, so a multi-million-entry suite compiles fine), and each
  * probe is a binary search: O(|doc| log |set|) per row, vs the
  * O(|doc| + |set|) merge walk of [[SortedIntersectCount]] which degrades
  * to O(|set|) per document once the benchmark set dwarfs a document —
  * the always case (eval suites ~10⁶-10⁷ shingles vs ~10³ per doc).
  * Input elements need not be sorted; `set` MUST be sorted ascending.
  * Count semantics match the batch contamination join when the input array
  * is duplicate-free (`array_distinct` upstream): n_shared = distinct
  * shared shingles.
  */
case class SortedSetHits(child: Expression, set: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_set_hits"

  // Case-class equality on Array is reference-based, which would make two
  // semantically identical probes never semanticEquals — defeating Catalyst
  // canonicalization / common-subexpression elimination if one probe set is
  // referenced twice in a plan (round-14 advice). Compare by content.
  override def equals(other: Any): Boolean = other match {
    case s: SortedSetHits =>
      child == s.child && java.util.Arrays.equals(set, s.set)
    case _ => false
  }
  // Content hash computed ONCE per instance (lazy, so transform-copies that
  // are never hashed pay nothing): Catalyst hashes expressions repeatedly
  // during analysis/optimization/CSE, and at the 10^7-entry decontam
  // contract ceiling an uncached Arrays.hashCode is ~10 ms per call.
  private lazy val setHash = java.util.Arrays.hashCode(set)
  override def hashCode(): Int = 31 * child.hashCode() + setHash

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var i = 0; var c = 0L
    while (i < n) {
      if (java.util.Arrays.binarySearch(set, xs.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("graftSet", set, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int graftN = $a.numElements();
         |long graftC = 0L;
         |for (int graftI = 0; graftI < graftN; graftI++) {
         |  if (java.util.Arrays.binarySearch($setRef, $a.getLong(graftI)) >= 0) graftC++;
         |}
         |${ev.value} = graftC;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): SortedSetHits =
    copy(child = c)
}

/** Int8 scalar-quantization reconstruction-error numerator in ONE native
  * pass: per-vector min, range (floored at 1e-12), and the left-to-right
  * fold Σ (x − dq)² with dq = lo + round((x − lo)·255/scale)·scale/255 —
  * bit-exact with `Similarity.int8Quantization`'s former SQL spelling
  * (`aggregate(v, 0.0, (acc, x) -> acc + (x − dq)²)` over
  * lo = array_min(v), scale = greatest(array_max(v) − lo, 1e-12)):
  * the same HALF_UP decimal-string rounding as Spark's `round()` on
  * doubles, the same fold order, the same scale floor (ExpressionsSpec
  * pins the equality on the real fixture and in interpreted mode). The
  * interpreted `aggregate` HOF paid a boxed lambda + closure dispatch per
  * element per row — measured 53× the native traversal cost at 2M×64 dims
  * (MicroBench `vec16`). Input must be null-free and NaN-free (embedding
  * vectors). An empty array gives 0.0, and so does the SQL spelling:
  * there `array_min` and `lo` are NULL, but `greatest` skips the NULL
  * (scale = 1e-12) and the fold returns its 0.0 start without calling the
  * lambda (ExpressionsSpec checks the empty edge without a `coalesce`).
  */
case class Int8MseSum(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_int8_mse_sum"

  override protected def nullSafeEval(a: Any): Any =
    Int8MseSum.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Int8MseSum.compute($a)")

  override protected def withNewChildInternal(c: Expression): Int8MseSum =
    copy(child = c)
}

object Int8MseSum {
  /** Spark's `round(double)` semantics: shortest-decimal-string BigDecimal,
    * HALF_UP, scale 0 (RoundBase's DoubleType path). NaN/∞ pass through.
    */
  private def roundHalfUp(y: Double): Double =
    if (java.lang.Double.isNaN(y) || java.lang.Double.isInfinite(y)) y
    else new java.math.BigDecimal(java.lang.Double.toString(y))
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Static entry shared by interpreted eval and generated code. */
  def compute(v: ArrayData): Double = {
    val n = v.numElements()
    if (n == 0) return 0.0
    var mn = v.getDouble(0)
    var mx = mn
    var i = 1
    while (i < n) {
      val x = v.getDouble(i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    val scale = math.max(mx - mn, 1e-12)
    var acc = 0.0
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val dq = mn + roundHalfUp((x - mn) * 255.0 / scale) * scale / 255.0
      val d = x - dq
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Unicode text canonicalization in one native pass: NFC-compose, then
  * collapse every maximal run of space-ish code points (categories Z, Cc,
  * Cf — spaces, separators, controls, zero-widths/BOM) into a single ASCII
  * space, trimming the ends. The canonical first step of a web-corpus
  * pipeline: fingerprints, shingles, and quality scores all shift when the
  * same text arrives NFD-decomposed or NBSP-padded, so normalization must
  * run BEFORE dedup/scoring (`Text.fingerprints`, `Dedup.*`). Spark has no
  * normalizer built-in; a codegen expression keeps the pass inside
  * whole-stage codegen (one static call per row, no boxing).
  *
  * Category set (Z∪Cc∪Cf, not `Character.isWhitespace`) is chosen for
  * cross-engine parity: it equals the RE2 class `[\p{Z}\p{Cc}\p{Cf}]` that
  * the DuckDB oracle replays.
  */
case class NormalizeText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_text"

  override protected def nullSafeEval(a: Any): Any =
    NormalizeText.normalize(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.NormalizeText.normalize($a)")

  override protected def withNewChildInternal(c: Expression): NormalizeText =
    copy(child = c)
}

object NormalizeText {
  /** Static entry shared by interpreted eval and generated code. */
  def normalize(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < nfc.length) {
      val cp = nfc.codePointAt(i)
      val t = Character.getType(cp)
      val spaceish = t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR || t == Character.CONTROL || t == Character.FORMAT
      if (spaceish) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(cp)
        started = true
      }
      i += Character.charCount(cp)
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
}

/** Column-level entry points + SQL registration. */
object GraftFunctions {

  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(
      SortedIntersectCount(GraftBridge.expression(a), GraftBridge.expression(b)))

  def simhash60(a: Column): Column =
    GraftBridge.column(SimHash60(GraftBridge.expression(a)))

  def minhashes(a: Column, coeffs: Seq[(Long, Long)], prime: Long,
      inputMod: Long = 0L): Column =
    GraftBridge.column(MinHashes(GraftBridge.expression(a), coeffs, prime, inputMod))

  /** See [[ShingleHashes]]. */
  def shingleHashes(toks: Column, mod: Long = 0L, sorted: Boolean = false,
      n: Int = 3): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(toks), mod, sorted, n))

  def normalizeText(a: Column): Column =
    GraftBridge.column(NormalizeText(GraftBridge.expression(a)))

  /** See [[BigramCountHashes]]. */
  def bigramCountHashes(toks: Column): Column =
    GraftBridge.column(BigramCountHashes(GraftBridge.expression(toks)))

  /** See [[Int8MseSum]]. */
  def int8MseSum(v: Column): Column =
    GraftBridge.column(Int8MseSum(GraftBridge.expression(v)))

  /** See [[WindowHashes]]. */
  def windowHashes(toks: Column, w: Int): Column =
    GraftBridge.column(WindowHashes(GraftBridge.expression(toks), w))

  /** See [[SortedPairs]]. */
  def sortedPairs(a: Column): Column =
    GraftBridge.column(SortedPairs(GraftBridge.expression(a)))

  /** See [[SaltedFeatureBuckets]]. */
  def saltedFeatureBuckets(toks: Column, salt: String, mod: Long): Column =
    GraftBridge.column(SaltedFeatureBuckets(GraftBridge.expression(toks), salt, mod))

  /** See [[WhitespaceTokens]]. */
  def whitespaceTokens(c: Column): Column =
    GraftBridge.column(WhitespaceTokens(GraftBridge.expression(c)))

  /** See [[UnigramViterbiPieces]]. */
  def unigramViterbiPieces(word: Column, mp: Column, maxLen: Int, negInf: Long): Column =
    GraftBridge.column(UnigramViterbiPieces(
      GraftBridge.expression(word), GraftBridge.expression(mp), maxLen, negInf))

  /** `set` must be sorted ascending (see [[SortedSetHits]]). */
  def sortedSetHits(a: Column, set: Array[Long]): Column =
    GraftBridge.column(SortedSetHits(GraftBridge.expression(a), set))

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "graft_simhash60" -> (es => SimHash60(es(0))),
    "graft_normalize_text" -> (es => NormalizeText(es(0))))

  /** Register by name on an existing session so `expr("graft_dot(a, b)")` /
    * pure-SQL users resolve them.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — the standard
  * injection path for clusters where the session is built by the platform.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Seq(
      ("graft_dot", (es: Seq[Expression]) => DotProduct(es(0), es(1))),
      ("graft_sorted_intersect_count",
        (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1)))
    ).foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExpressions", name),
        builder))
    }
}
