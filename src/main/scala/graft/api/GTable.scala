package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** TC-compatibility facade: the reference's eager lambda-driven `Table` API
  * (table/Table.java) re-expressed over a lazy DataFrame. A reference user's
  * program maps 1:1:
  *
  * | reference (Table.java)                  | GTable                         |
  * |-----------------------------------------|--------------------------------|
  * | `filter(Criteria)` :265-280             | `filter(Row => Boolean)`       |
  * | `select(ScalarFunction, cols)` :306-331 | `select(schema)(Row => Seq)`   |
  * | `select(TransformFunction)` :333-373    | `flatSelect(schema)(Row=>Seq[Seq])` |
  * | `project` / `projectNegative` :631-659  | `project` / `projectNegative`  |
  * | `addColumns` :204-216                   | `addColumn(name, Column)`      |
  * | `groupBy(AggregationFunction)` :436-467 | `groupBy(keys, schema)(fn)`    |
  * | `over(OverWindowFunction)` :469-533     | `over(partition, order, schema)(fn)` |
  * | `innerJoin/leftJoin/outerJoin` :573-624 | same names, rename maps incl.  |
  * | `Index`-probe join criteria             | equi-join on key columns (the  |
  * |                                         | hash index is the join's build side) |
  * | `DataAnalysis.mergeToOneTable`          | `union`                        |
  *
  * Two deliberate deltas from the reference:
  *   - lambdas declare their OUTPUT SCHEMA up front (the reference infers
  *     column types from the first non-null value, Column.java:154-178 — an
  *     implementation artifact; SURVEY §1.3 decision);
  *   - UDF rows returning null filter the row, like the reference
  *     (Table.java:317-320) — preserved.
  *
  * Scale note: lambda operators serialize through encoders and block
  * whole-stage codegen — they are the compatibility path. New code should
  * use Column expressions (`graft.ops`/`graft.batch`), which the rest of the
  * engine demonstrates; this class exists so every reference program has a
  * direct translation.
  */
class GTable(val df: DataFrame) {

  private def enc(schema: StructType): Encoder[Row] = Encoders.row(schema)

  /** Criteria.filter(Row) — row-predicate filter. */
  def filter(p: Row => Boolean): GTable =
    new GTable(df.filter(p))

  /** ScalarFunction: one row in, one row out (null → row dropped). */
  def select(schema: StructType)(fn: Row => Seq[Any]): GTable =
    new GTable(df.flatMap((r: Row) => Option(fn(r)).map(vs => Row.fromSeq(vs)))(enc(schema)).toDF())

  /** TransformFunction: one row in, N rows out (null/empty → dropped). */
  def flatSelect(schema: StructType)(fn: Row => Seq[Seq[Any]]): GTable =
    new GTable(df.flatMap((r: Row) =>
      Option(fn(r)).getOrElse(Nil).map(vs => Row.fromSeq(vs)))(enc(schema)).toDF())

  def project(cols: String*): GTable = new GTable(df.select(cols.map(col): _*))

  def projectNegative(cols: String*): GTable = new GTable(df.drop(cols: _*))

  def addColumn(name: String, c: Column): GTable = new GTable(df.withColumn(name, c))

  def rename(mapping: (String, String)*): GTable =
    new GTable(mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) })

  /** AggregationFunction.agg(key, rows) — arbitrary per-group aggregation.
    * Output = key columns ++ schema columns; returning null drops the group
    * (the reference's HAVING idiom, Table.java:455-459).
    *
    * Compat path: `rows.toSeq` materializes each whole group in one task,
    * faithful to the reference's `List<Row>` contract (Table.java:436-467) —
    * a skewed key's group must fit in executor memory. For heavy/skewed
    * groups use [[groupByAgg]] (Aggregator bridge: constant per-group state
    * AND map-side partial aggregation) or the native column aggregates.
    */
  def groupBy(keys: Seq[String], schema: StructType)(
      fn: (Seq[Any], Seq[Row]) => Seq[Any]): GTable = {
    val keySchema = StructType(keys.map(k => df.schema(k)))
    val outSchema = StructType(keySchema ++ schema)
    val keyIdx = keys.map(df.schema.fieldIndex)
    val grouped = df.groupByKey((r: Row) => Row.fromSeq(keyIdx.map(r.get)))(enc(keySchema))
    new GTable(grouped.flatMapGroups { (key: Row, rows: Iterator[Row]) =>
      Option(fn(key.toSeq, rows.toSeq)).map(vs => Row.fromSeq(key.toSeq ++ vs))
    }(enc(outSchema)).toDF())
  }

  /** OverWindowFunction.transform(partition rows sorted by orderBy) → one
    * output row per input row, appended as new columns (Table.java:469-533).
    * Sort order: ascending, nulls first — the reference's comparator
    * (Table.java:490-506).
    *
    * Compat path: each partition materializes as a sorted `Seq` in one task
    * (the reference's contract). For large/skewed partitions prefer
    * [[overStreaming]] (same sort, rows stream through a per-key state
    * machine with O(state) residency), the native window functions
    * (`batch.Relational` over/rank/running), or the frame engines in
    * `ops.WindowsBatch` — all stream with bounded state.
    */
  def over(partitionBy: Seq[String], orderBy: Seq[String], newCols: StructType)(
      fn: Seq[Row] => Seq[Seq[Any]]): GTable = {
    val keySchema = StructType(partitionBy.map(k => df.schema(k)))
    val outSchema = StructType(df.schema ++ newCols)
    val keyIdx = partitionBy.map(df.schema.fieldIndex)
    val ordIdx = orderBy.map(df.schema.fieldIndex)
    val ord = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        var k = 0
        while (k < ordIdx.length) {
          val i = ordIdx(k)
          val (x, y) = (a.get(i), b.get(i))
          val c =
            if (x == null && y == null) 0
            else if (x == null) -1 // nulls first, Table.java:492-499
            else if (y == null) 1
            else x.asInstanceOf[Comparable[Any]].compareTo(y)
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
    val grouped = df.groupByKey((r: Row) => Row.fromSeq(keyIdx.map(r.get)))(enc(keySchema))
    new GTable(grouped.flatMapGroups { (_: Row, rows: Iterator[Row]) =>
      val sorted = rows.toSeq.sorted(ord)
      val extra = fn(sorted)
      require(extra.length == sorted.length,
        s"over function must return one row per input row (${extra.length} != ${sorted.length})")
      sorted.lazyZip(extra).map((r, vs) => Row.fromSeq(r.toSeq ++ vs)).toSeq
    }(enc(outSchema)).toDF())
  }

  /** STREAMING variant of [[groupBy]] — removes the whole-group memory
    * cliff. The lambda contract becomes an Aggregator bridge
    * (zero/reduce/merge/finish) instead of `(key, Seq[Row])`, which buys
    * two scale properties the compat path cannot have:
    *
    *   - constant state per group: only the buffer `B` is resident, never
    *     the group's rows — a hot key costs one buffer, not an OOM;
    *   - map-side partial aggregation: `reduce` runs before the shuffle and
    *     `merge` combines partials after it (the plan shows a
    *     partial/final aggregate pair), so a skewed key ships its partials,
    *     not its rows.
    *
    * `finish` returning null drops the group — the same HAVING idiom as
    * [[groupBy]] (reference Table.java:455-459). Any aggregation expressible
    * as a fold (sum/count/min/max/top-k/moments/sketches — everything the
    * reference's AggregationFunction examples do) ports directly; a
    * genuinely holistic function (exact median over unsorted rows) needs
    * the compat path or a two-pass formulation.
    */
  def groupByAgg[B: Encoder](keys: Seq[String], schema: StructType)(
      zeroV: B,
      reduceF: (B, Row) => B,
      mergeF: (B, B) => B,
      finishF: B => Seq[Any]): GTable = {
    val agg = new GTable.BridgeAggregator[B](
      zeroV, reduceF, mergeF, finishF, implicitly[Encoder[B]], enc(schema))
    val u = udaf(agg, enc(df.schema))
    val out = df.groupBy(keys.map(col): _*)
      .agg(u(df.columns.map(col).toIndexedSeq: _*).as("__agg"))
      .filter(col("__agg").isNotNull) // HAVING: null finish drops the group
      .select(keys.map(col) ++ schema.fieldNames.map(f => col(s"__agg.$f").as(f)): _*)
    new GTable(out)
  }

  /** STREAMING variant of [[over]] — removes the whole-partition memory
    * cliff. Rows of each (partitionBy) key flow PRE-SORTED by `orderBy`
    * (ascending, nulls first — the reference's comparator) through a
    * per-key state machine: `stateFactory` is called once per key, and the
    * resulting function sees each row exactly once, in order, returning
    * that row's appended column values. Only the user's own state is
    * resident — O(1) rows for running aggregates, O(frame) for trailing
    * frames — where [[over]] materializes the whole partition.
    *
    * Plan shape: one hash exchange on the key + an in-partition sort —
    * identical to the native window operator; the lambda then streams via
    * `mapPartitions` with consecutive same-key runs detected on the fly
    * (no per-key grouping state beyond the current run). The sort is the
    * scale-sensitive piece: partition count must scale with the data or
    * the in-partition external sort spill-merges (measured at sf100: 600M
    * rows over 32 partitions = 342 s, over 256 = 67.8 s, sub-linear vs
    * sf10 — BASELINE round-13 probe). A cluster's default parallelism
    * does this automatically; single-box runs size it from the fixture
    * (GraftSession.shufflePartitionsFor). Any prefix-
    * computable OverWindowFunction (running sums/ranks/trailing frames —
    * the reference's examples, window/OverWindowFunction.java) ports
    * directly; a function needing the whole partition up front stays on
    * the compat path.
    */
  def overStreaming(partitionBy: Seq[String], orderBy: Seq[String], newCols: StructType)(
      stateFactory: () => Row => Seq[Any]): GTable = {
    val outSchema = StructType(df.schema ++ newCols)
    val keyIdx = partitionBy.map(df.schema.fieldIndex)
    val sorted = df
      .repartition(partitionBy.map(col): _*)
      .sortWithinPartitions((partitionBy ++ orderBy).map(c => col(c).asc_nulls_first): _*)
    new GTable(sorted.mapPartitions { it =>
      var currentKey: Seq[Any] = null
      var state: Row => Seq[Any] = null
      it.map { r =>
        val k = keyIdx.map(r.get)
        if (state == null || k != currentKey) { currentKey = k; state = stateFactory() }
        Row.fromSeq(r.toSeq ++ state(r))
      }
    }(enc(outSchema)).toDF())
  }

  // --- joins (Table.java:573-624; rename maps As.java:6-16) -----------------

  private def renamed(t: GTable, m: Map[String, String]): DataFrame =
    m.foldLeft(t.df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  private def joinOn(other: GTable, keys: Seq[(String, String)], how: String,
      leftAs: Map[String, String], rightAs: Map[String, String]): GTable = {
    val l = renamed(this, leftAs)
    val r = renamed(other, rightAs)
    val cond = keys.map { case (lk, rk) => l(leftAs.getOrElse(lk, lk)) === r(rightAs.getOrElse(rk, rk)) }
      .reduce(_ && _)
    new GTable(l.join(r, cond, how))
  }

  def innerJoin(other: GTable, keys: Seq[(String, String)],
      leftAs: Map[String, String] = Map.empty, rightAs: Map[String, String] = Map.empty): GTable =
    joinOn(other, keys, "inner", leftAs, rightAs)

  def leftJoin(other: GTable, keys: Seq[(String, String)],
      leftAs: Map[String, String] = Map.empty, rightAs: Map[String, String] = Map.empty): GTable =
    joinOn(other, keys, "left", leftAs, rightAs)

  def outerJoin(other: GTable, keys: Seq[(String, String)],
      leftAs: Map[String, String] = Map.empty, rightAs: Map[String, String] = Map.empty): GTable =
    joinOn(other, keys, "full_outer", leftAs, rightAs)

  /** Arbitrary-condition (theta) join — the reference's `JoinCriteria` lambda
    * is free-form (criteria/JoinCriteria.java:7-9); here the condition is a
    * Column expression, so Catalyst still picks hash/range strategies where
    * the condition allows instead of always loop-joining.
    */
  def thetaJoin(other: GTable, cond: Column, how: String = "inner"): GTable =
    new GTable(df.join(other.df, cond, how))

  def union(other: GTable): GTable = new GTable(df.union(other.df))

  def size: Long = df.count()

  def print(n: Int = 100): Unit = df.show(n, truncate = false)
}

object GTable {
  def apply(df: DataFrame): GTable = new GTable(df)

  /** Standalone (no outer pointer — must serialize to executors) Aggregator
    * behind [[GTable.groupByAgg]]. Null `finish` output → null struct →
    * the group is dropped (HAVING).
    */
  private[api] class BridgeAggregator[B](
      zeroV: B,
      reduceF: (B, Row) => B,
      mergeF: (B, B) => B,
      finishF: B => Seq[Any],
      bufEnc: Encoder[B],
      outEnc: Encoder[Row])
    extends org.apache.spark.sql.expressions.Aggregator[Row, B, Row] {
    def zero: B = zeroV
    def reduce(b: B, a: Row): B = reduceF(b, a)
    def merge(b1: B, b2: B): B = mergeF(b1, b2)
    def finish(b: B): Row = {
      val vs = finishF(b)
      if (vs == null) null else Row.fromSeq(vs)
    }
    def bufferEncoder: Encoder[B] = bufEnc
    def outputEncoder: Encoder[Row] = outEnc
  }
}
