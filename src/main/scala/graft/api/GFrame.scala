package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.QueryCompiler
import graft.functions.{Casts, NullOps, PandasArith}
import graft.operators._

/** pandas-flavored DataFrame wrapper — the user-facing surface of the
  * engine, mirroring the reference frontend
  * (reference `legate/pandas/frontend/dataframe.py`).
  *
  * Design (SURVEY §7.4): a thin immutable wrapper over a Spark
  * `DataFrame` plus an explicit list of index columns. A RangeIndex is
  * virtual (empty `index`) and only materialized by operations that
  * observe positions — the same laziness trick as the reference's
  * non-materialized RangeIndex (`core/index.py:189-216`). All operations
  * delegate to the `graft.operators.*` modules, so every GFrame program
  * lowers to a declarative Catalyst plan: Catalyst/Tungsten/AQE do the
  * distribution work the Legion runtime does for the reference.
  *
  * Ordering contracts match the reference's documented relaxations
  * (README.md:188-196): joins/groupbys/concat do not preserve row order.
  */
final case class GFrame(df: DataFrame, index: Seq[String] = Seq()) {

  private def dataCols: Seq[String] = df.columns.filterNot(index.contains).toSeq

  // ---- projection / selection (§2.2) ----

  /** df[cols] — column projection (metadata-only in the reference). */
  def apply(cols: String*): GFrame =
    GFrame(Projections.select(df, index ++ cols), index)

  /** df[mask] — boolean-mask filter (COMPACT). */
  def apply(mask: Column): GFrame = GFrame(df.filter(mask), index)

  def drop(cols: String*): GFrame = GFrame(df.drop(cols: _*), index)

  def rename(mapping: (String, String)*): GFrame =
    GFrame(Projections.rename(df, mapping.toMap),
      index.map(c => mapping.toMap.getOrElse(c, c)))

  def addPrefix(p: String): GFrame =
    GFrame(Projections.addPrefix(df, p), index.map(p + _))

  def assign(name: String, value: Column): GFrame =
    GFrame(df.withColumn(name, value), index)

  /** Multi-column list assignment —
    * `ldf[["col2","col1"]] = ldf[["col1","col2"]]` (reference
    * `tests/pandas/df_swap.py:24-28`): positional pairing of targets to
    * sources, every RHS evaluated against the PRE-assignment frame (a
    * swap must not see its own first write), existing columns updated
    * in place keeping the frame's column order, new targets appended.
    * One select — a pure scan-stage projection at any scale.
    */
  def setItems(targets: Seq[String], sources: Seq[Column]): GFrame = {
    require(targets.size == sources.size,
      s"setItems: ${targets.size} targets vs ${sources.size} sources")
    require(targets.distinct.size == targets.size,
      "setItems: duplicate target column")
    val mapping = targets.zip(sources).toMap
    val existing = df.columns.map { c =>
      mapping.get(c).map(_.as(c)).getOrElse(col(c))
    }
    val appended = targets.filterNot(df.columns.contains)
      .map(t => mapping(t).as(t))
    GFrame(df.select(existing ++ appended: _*), index)
  }

  /** String-source convenience of [[setItems]] (the df_swap idiom). */
  def setItems(targets: Seq[String], sources: Seq[String])(
      implicit d: DummyImplicit): GFrame =
    setItems(targets, sources.map(col))

  def addSuffix(s: String): GFrame =
    GFrame(Projections.addSuffix(df, s), index.map(_ + s))

  /** set_axis(labels, axis=1): rename every column positionally
    * (reference `frontend/frame.py:864-872`).
    */
  def setAxis(names: Seq[String]): GFrame = {
    require(names.size == df.columns.length,
      s"set_axis needs ${df.columns.length} names")
    val mapping = df.columns.zip(names).toMap
    GFrame(df.toDF(names: _*), index.map(mapping))
  }

  /** copy(): metadata-only in the reference (copy-on-write regions);
    * DataFrames are immutable so this is the identity — kept for API
    * parity.
    */
  def copy(): GFrame = this

  /** squeeze(): a single-data-column frame exposed as that column's
    * values (index + the column); multi-column frames are unchanged,
    * like pandas.
    */
  def squeeze(): GFrame =
    if (dataCols.size == 1) GFrame(df.select((index ++ dataCols).map(col): _*), index)
    else this

  /** keys — the data-column labels (reference
    * `frontend/dataframe.py:474` returns the columns Index).
    */
  def keys: Seq[String] = dataCols

  /** axes — [index labels, column labels] (reference
    * `frontend/dataframe.py:301-304`).
    */
  def axes: (Seq[String], Seq[String]) = (index, dataCols)

  /** ndim — always 2 for a frame (reference
    * `frontend/dataframe.py:306-309`; use [[squeeze]] for the 1-D view).
    */
  def ndim: Int = 2

  /** empty — the REFERENCE's contract is "no data columns"
    * (`frontend/frame.py:148-151` checks `len(self.columns) == 0`, not
    * pandas' any-axis-empty); lazy, runs no job.
    */
  def empty: Boolean = dataCols.isEmpty

  /** shape — (rows, data columns); the row count is an action, like
    * the reference's `len(self._raw_index)`
    * (`frontend/dataframe.py:311-314`).
    */
  def shape: (Long, Int) = (df.count(), dataCols.size)

  /** bool() — the single element of a 1×1 frame as a Boolean; anything
    * else raises, mirroring the reference's ambiguity error
    * (`frontend/frame.py:189-199`).
    */
  def boolScalar(): Boolean = {
    require(dataCols.size == 1,
      "bool() requires exactly 1 column; the truth value is ambiguous")
    val rows = df.select(dataCols.head).limit(2).collect()
    require(rows.length == 1,
      "bool() requires exactly 1 element; the truth value is ambiguous")
    rows(0).getBoolean(0)
  }

  /** hasnans for one column — true if any null/NaN (the Series
    * property; NaN AND null count as missing, PandasArith.isna).
    */
  def hasnans(column: String): Boolean =
    !df.filter(graft.functions.PandasArith.isna(col(column))).isEmpty

  /** append(other) — concat(axis=0) (reference
    * `frontend/frame.py:992-1004` delegates to concat).
    */
  def append(other: GFrame): GFrame = GFrame.concat(Seq(this, other))

  /** df.query(expr) with @refs (§2.9). */
  def query(expr: String, refs: Map[String, Any] = Map()): GFrame =
    GFrame(QueryCompiler.query(df, expr, refs), index)

  /** where/mask (§2.2). */
  def where(cond: Column, other: Option[Column] = None): GFrame =
    GFrame(Projections.where(df, dataCols, cond, other), index)

  def mask(cond: Column, other: Option[Column] = None): GFrame =
    where(!cond, other)

  /** loc-style scatter assignment. */
  def setWhere(colName: String, cond: Column, value: Column): GFrame =
    GFrame(Projections.scatter(df, colName, cond, value), index)

  // ---- index (§1.2) ----

  def setIndex(cols: String*): GFrame = GFrame(df, cols)

  def resetIndex(): GFrame = GFrame(df, Seq())

  /** loc range slice on the (first) index column. */
  def locRange(lo: Any, hi: Any): GFrame = {
    require(index.nonEmpty, "locRange requires an index")
    GFrame(df.filter(col(index.head).between(lit(lo), lit(hi))), index)
  }

  /** drop(labels, axis=0) — drop rows by index label
    * (reference `frontend/frame.py:613-708`: negated equality mask +
    * compact).
    */
  def dropRows(labels: Any*): GFrame = {
    require(index.nonEmpty, "dropRows requires an index")
    GFrame(df.filter(!col(index.head).isin(labels: _*)), index)
  }

  /** Equality predicate for a (possibly partial) MultiIndex tuple key:
    * `(k1, k2)` matches levels 0..1, a scalar matches level 0 only —
    * pandas' partial-tuple prefix semantics (reference
    * `tests/pandas/df_loc_multiindex.py:42-45`).
    */
  private def keyCond(key: Any): Column = key match {
    case p: Product if p.productPrefix.startsWith("Tuple") =>
      require(index.size >= p.productArity,
        s"loc tuple key has ${p.productArity} levels; index has ${index.size}")
      p.productIterator.zipWithIndex
        .map { case (k, i) => col(index(i)) === lit(k) }
        .reduce(_ && _)
    case k =>
      require(index.nonEmpty, "loc requires an index")
      col(index.head) === lit(k)
  }

  /** loc lookup on the index: scalar key (first level) or tuple key
    * ((k1, k2, …) — full or partial MultiIndex prefix). A PARTIAL key
    * drops the matched prefix levels from the result, which stays
    * indexed by the remaining levels — pandas' partial-indexing
    * contract (reference `tests/pandas/df_loc_multiindex.py:43-45`:
    * `loc[(2, 0)]` on a 3-level index returns a frame indexed by level
    * 2 only). A FULL-arity key keeps the frame form with its levels
    * (pandas returns a Series there; we have no scalar frame).
    * A missing key yields an empty frame, not pandas' KeyError — the
    * frame is lazy, so existence isn't known at call time (documented
    * divergence).
    */
  def loc(key: Any): GFrame = {
    require(index.nonEmpty, "loc requires an index")
    val arity = key match {
      case p: Product if p.productPrefix.startsWith("Tuple") => p.productArity
      case _ => 1
    }
    val filtered = df.filter(keyCond(key))
    if (arity < index.size)
      GFrame(filtered.drop(index.take(arity): _*), index.drop(arity))
    else GFrame(filtered, index)
  }

  /** loc scatter assignment by (possibly partial) tuple key —
    * `ldf.loc[(2, 0), "a"] = 100` (reference
    * `tests/pandas/df_loc_multiindex.py:47-52`).
    */
  def locSet(key: Any, colName: String, value: Any): GFrame = {
    require(index.nonEmpty, "locSet requires an index")
    GFrame(Projections.scatter(df, colName, keyCond(key), lit(value)), index)
  }

  /** locRange over a 2-level MultiIndex with lexicographic bounds:
    * rows from tuple `lo` through tuple `hi` inclusive, level-0 ties
    * broken by level-1 — the slice a SORTED MultiIndex serves in
    * pandas. Both levels prune: the level-0 between reaches the scan
    * as a pushed filter; the tie-break terms only run on the boundary
    * groups.
    */
  def locRange2(lo: (Any, Any), hi: (Any, Any)): GFrame = {
    require(index.size >= 2, "locRange2 requires a 2-level MultiIndex")
    val (i0, i1) = (col(index(0)), col(index(1)))
    val geLo = i0 > lit(lo._1) || (i0 === lit(lo._1) && i1 >= lit(lo._2))
    val leHi = i0 < lit(hi._1) || (i0 === lit(hi._1) && i1 <= lit(hi._2))
    GFrame(df.filter(
      i0.between(lit(lo._1), lit(hi._1)) && geLo && leHi), index)
  }

  /** droplevel(level): remove one level of a MultiIndex (the column
    * leaves the frame, like pandas droplevel on the index).
    */
  def droplevel(level: Int): GFrame = {
    require(index.size > 1, "droplevel requires a MultiIndex")
    GFrame(df.drop(index(level)), index.patch(level, Nil, 1))
  }

  /** swaplevel(i, j) on a MultiIndex. */
  def swaplevel(i: Int = 0, j: Int = 1): GFrame =
    GFrame(df, index.updated(i, index(j)).updated(j, index(i)))

  /** Deterministic fractional sample: keep rows whose md5(seed ++ key)
    * falls below frac of the 32-bit hex space. Reproducible across
    * engines and cluster sizes (pandas' RNG sample is not; a 100 TB
    * pipeline needs restart-stable sampling), and the lexicographic
    * hex compare mirrors verbatim into SQL oracles.
    */
  def sample(frac: Double, on: String, seed: Int = 0): GFrame = {
    val threshold = f"${(frac * 4294967296L).toLong}%08x"
    GFrame(df.filter(
      substring(md5(concat(lit(seed.toString), col(on).cast("string"))), 1, 8)
        < lit(threshold)), index)
  }

  /** iat(rowPos, column): positional scalar lookup in index order
    * (reference READ_AT by position; requires an index to define the
    * global order).
    */
  def iat(rowPos: Int, column: String): Option[Any] = {
    require(index.nonEmpty, "iat requires an index for a defined order")
    // offset+limit(1): executors skip rowPos rows, only ONE row reaches
    // the driver (was limit(rowPos+1).collect() — rowPos+1 rows moved)
    val rows = df.orderBy(index.map(col): _*).select(column)
      .offset(rowPos).limit(1).collect()
    // pandas raises IndexError out of bounds; we return None
    rows.headOption.map(_.get(0))
  }

  // ---- joins (§2.3) ----

  /** Frame⊕frame arithmetic with index alignment — pandas
    * `df.add(other, fill_value=)` (the reference accepts the kwarg but
    * raises on unaligned frames, `frontend/dataframe.py:678-721`; we
    * implement full pandas alignment semantics). Rows align on the
    * index (union); common data columns combine element-wise; a side
    * missing the row (or null) takes `fillValue` when given, except
    * where BOTH sides are missing — that stays null. One shuffle: the
    * outer join on index keys.
    */
  def addFrame(other: GFrame, fillValue: Option[Double] = None): GFrame =
    alignedOp(other, PandasArith.add, fillValue)

  def subFrame(other: GFrame, fillValue: Option[Double] = None): GFrame =
    alignedOp(other, PandasArith.sub, fillValue)

  def mulFrame(other: GFrame, fillValue: Option[Double] = None): GFrame =
    alignedOp(other, PandasArith.mul, fillValue)

  def divFrame(other: GFrame, fillValue: Option[Double] = None): GFrame =
    alignedOp(other, PandasArith.truediv, fillValue)

  /** pandas df.floordiv(other) / df.mod(other) — the remaining two ops
    * of the reference's frame-binary suite (tests/pandas/
    * df_binary_unaligned_column.py exercises add/sub/mul/div/floordiv/
    * mod with unaligned columns + fill_value). mod is Python-signed
    * (sign of the divisor), like the scalar PandasArith.pymod.
    */
  def floordivFrame(other: GFrame, fillValue: Option[Double] = None): GFrame =
    alignedOp(other, PandasArith.floordiv, fillValue)

  def modFrame(other: GFrame, fillValue: Option[Double] = None): GFrame =
    alignedOp(other, PandasArith.pymod, fillValue)

  private def alignedOp(other: GFrame, op: (Column, Column) => Column,
                        fillValue: Option[Double]): GFrame = {
    require(index.nonEmpty && other.index.nonEmpty,
      "aligned frame arithmetic requires indexes on both frames")
    require(index.size == other.index.size, "index level counts must match")
    // Rename everything apart BEFORE the join — the two frames may share
    // lineage (self-join), where unqualified references are ambiguous.
    val l = df.select((index.map(col) ++ dataCols.map(c => col(c).as(s"__l_$c"))): _*)
    val r = other.df.select((other.index.zipWithIndex.map { case (b, i) =>
      col(b).as(s"__ri_$i") } ++
      other.dataCols.map(c => col(c).as(s"__r_$c"))): _*)
    val cond = index.zipWithIndex
      .map { case (a, i) => col(a) === col(s"__ri_$i") }.reduce(_ && _)
    val joined = l.join(r, cond, "full_outer")
    val outIndex = index.zipWithIndex
      .map { case (a, i) => coalesce(col(a), col(s"__ri_$i")).as(a) }
    val cols = (dataCols ++ other.dataCols).distinct.map { c =>
      val lc = if (dataCols.contains(c)) col(s"__l_$c") else lit(null)
      val rc = if (other.dataCols.contains(c)) col(s"__r_$c") else lit(null)
      (fillValue match {
        case Some(f) => when(lc.isNull && rc.isNull, lit(null))
          .otherwise(op(coalesce(lc, lit(f)), coalesce(rc, lit(f))))
        case None => op(lc, rc)
      }).as(c)
    }
    GFrame(joined.select((outIndex ++ cols): _*), index)
  }

  def merge(right: GFrame, on: Seq[String], how: String = "inner",
            suffixes: (String, String) = ("_x", "_y"),
            broadcastRight: Boolean = false): GFrame =
    GFrame(Joins.merge(df, right.df, on, how, suffixes, broadcastRight))

  def mergeOn(right: GFrame, leftOn: Seq[String], rightOn: Seq[String],
              how: String = "inner"): GFrame =
    GFrame(Joins.mergeOn(df, right.df, leftOn, rightOn, how))

  /** join on index columns (`frontend/dataframe.py:1167-1196`). */
  def join(right: GFrame, how: String = "left"): GFrame = {
    require(index.nonEmpty && right.index.nonEmpty, "join requires indexes")
    GFrame(Joins.mergeOn(df, right.df, index, right.index, how), index)
  }

  /** pandas merge_asof (beyond the reference, which is equi-join only):
    * direction backward/forward/nearest, tolerance, allow_exact_matches.
    * One hash shuffle on `by` (operators/AsOfJoin).
    */
  def mergeAsof(right: GFrame, by: String, leftOn: String, rightOn: String,
                payload: Seq[String], direction: String = "backward",
                tolerance: Option[Long] = None,
                allowExactMatches: Boolean = true): GFrame = {
    val out = direction match {
      case "backward" => graft.operators.AsOfJoin.backward(
        df, right.df, by, leftOn, rightOn, payload, tolerance, allowExactMatches)
      case "forward" => graft.operators.AsOfJoin.forward(
        df, right.df, by, leftOn, rightOn, payload, tolerance, allowExactMatches)
      case "nearest" => graft.operators.AsOfJoin.nearest(
        df, right.df, by, leftOn, rightOn, payload, tolerance, allowExactMatches)
      case other => throw new IllegalArgumentException(s"direction: $other")
    }
    GFrame(out, index)
  }

  // ---- groupby / reductions (§2.4) ----

  def groupby(keys: String*): GGroupBy = GGroupBy(this, keys)

  /** groupby(level=…) — group by index level(s)
    * (reference `frontend/groupby.py:40-86`: by-level supported,
    * by-arbitrary-series not).
    */
  def groupbyLevel(levels: Int*): GGroupBy = {
    require(index.nonEmpty, "groupby(level=) requires an index")
    GGroupBy(this, levels.map(index(_)))
  }

  def sum(cols: String*): GFrame = reduce("sum", cols)
  def mean(cols: String*): GFrame = reduce("mean", cols)
  def min(cols: String*): GFrame = reduce("min", cols)
  def max(cols: String*): GFrame = reduce("max", cols)
  def count(cols: String*): GFrame = reduce("count", cols)

  private def reduce(fn: String, cols: Seq[String]): GFrame = {
    val cs = if (cols.nonEmpty) cols else dataCols
    GFrame(GroupAgg.reduceAll(df, cs.map(_ -> fn)))
  }

  // ---- sorts / limits (§2.6, §2.2) ----

  def sortValues(by: Seq[String], ascending: Seq[Boolean] = Seq(),
                 naLast: Boolean = true): GFrame =
    GFrame(Sorts.sortValues(df, by, ascending, naLast), index)

  /** sort_index(level, sort_remaining): with a level, that index column
    * leads; remaining levels follow when sortRemaining (pandas default).
    */
  def sortIndex(level: Int = -1, sortRemaining: Boolean = true): GFrame = {
    require(index.nonEmpty, "sort_index requires an index")
    val by =
      if (level < 0) index
      else if (sortRemaining) index(level) +: index.patch(level, Nil, 1)
      else Seq(index(level))
    GFrame(Sorts.sortValues(df, by), index)
  }

  /** With an index: first n by index order (TakeOrderedAndProject).
    * Without: positional limit — preserves a preceding sort (Spark keeps
    * Sort ordering through Limit), matching pandas "first n rows".
    */
  def head(n: Int): GFrame =
    if (index.nonEmpty) GFrame(Projections.headBy(df, index.map(col), n), index)
    else GFrame(df.limit(n), index)

  def tail(n: Int): GFrame = {
    val order = if (index.nonEmpty) index.map(col) else Seq(monotonically_increasing_id())
    GFrame(Projections.tailBy(df, order, n), index)
  }

  def nlargest(n: Int, by: String): GFrame =
    GFrame(Sorts.topK(df, Seq(by), Seq(false), n), index)

  def nsmallest(n: Int, by: String): GFrame =
    GFrame(Sorts.topK(df, Seq(by), Seq(true), n), index)

  /** pandas replace(dict) on one column — exact-value substitution. */
  def replaceValues(c: String, mapping: Map[Any, Any]): GFrame =
    GFrame(df.withColumn(c, mapping.foldLeft(when(lit(false), col(c))) {
      case (acc, (from, to)) => acc.when(col(c) === lit(from), lit(to))
    }.otherwise(col(c))), index)

  /** duplicated(subset, keep='first'): boolean column marking every row
    * after the first occurrence (in index order) of its key.
    */
  def duplicated(subset: Seq[String], outCol: String = "duplicated"): GFrame = {
    require(index.nonEmpty, "duplicated requires an index for 'first' order")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(subset.map(col): _*).orderBy(index.map(col): _*)
    GFrame(df.withColumn(outCol, row_number().over(w) > 1), index)
  }

  /** groupby(...).head-of-each-group: top-k rows per group via the
    * custom bounded-heap operator (plans/GroupTopK — no per-group sort).
    */
  def topKPerKey(groupCols: Seq[String], orderCols: Seq[(String, Boolean)],
                 k: Int): GFrame =
    GFrame(graft.plans.GroupTopK.topKPerKey(df, groupCols, orderCols, k), index)

  /** at(indexKey, column): scalar cell lookup (reference READ_AT,
    * `src/copy/tasks/read_at.cc:29`).
    */
  def at(key: Any, column: String): Option[Any] = {
    require(index.nonEmpty, "at requires an index")
    loc(key).df.select(column).collect().headOption.map(_.get(0))
  }

  // ---- missing data (§2.8) ----

  def isna(): GFrame =
    GFrame(df.select((index.map(col) ++
      dataCols.map(c => PandasArith.isna(col(c)).as(c))): _*), index)

  def fillna(value: Any, cols: Seq[String] = Seq()): GFrame = {
    val cs = if (cols.nonEmpty) cols else dataCols
    GFrame(NullOps.fillna(df, cs.map(_ -> lit(value)).toMap), index)
  }

  def dropna(how: String = "any", subset: Seq[String] = Seq()): GFrame = {
    val cs = if (subset.nonEmpty) subset else dataCols
    val out = how match {
      case "any" => NullOps.dropnaAny(df, cs)
      case "all" => NullOps.dropnaAll(df, cs)
    }
    GFrame(out, index)
  }

  def dropnaThresh(thresh: Int, subset: Seq[String] = Seq()): GFrame = {
    val cs = if (subset.nonEmpty) subset else dataCols
    GFrame(NullOps.dropna(df, cs, thresh), index)
  }

  // ---- dedup / concat (§2.7) ----

  def dropDuplicates(subset: Seq[String] = Seq()): GFrame = {
    val cs = if (subset.nonEmpty) subset else dataCols
    GFrame(SetOps.dropDuplicates(df, cs), index)
  }

  def dropDuplicatesKeep(subset: Seq[String], keepFirst: Boolean): GFrame = {
    require(index.nonEmpty, "keep=first/last needs an index for determinism")
    GFrame(SetOps.dropDuplicatesKeep(df, subset, index, keepFirst), index)
  }

  /** describe(): count/mean/std/min/max per given numeric column, one
    * row per statistic (pandas layout: a `summary` column + one column
    * per input).
    */
  def describe(cols: String*): GFrame = {
    val cs = if (cols.nonEmpty) cols.toSeq else dataCols
    val fns: Seq[(String, Column => Column)] = Seq(
      "count" -> (c => org.apache.spark.sql.functions.count(c).cast("double")),
      "mean" -> (c => avg(c)), "std" -> (c => stddev_samp(c)),
      "min" -> (c => org.apache.spark.sql.functions.min(c).cast("double")),
      "max" -> (c => org.apache.spark.sql.functions.max(c).cast("double")))
    val rows = fns.map { case (fn, f) =>
      df.agg(f(col(cs.head)).as(cs.head), cs.tail.map(c => f(col(c)).as(c)): _*)
        .withColumn("summary", lit(fn))
        .select((col("summary") +: cs.map(col)): _*)
    }
    GFrame(rows.reduce(_.unionByName(_)))
  }

  /** value_counts: per-value frequency, most frequent first (ties by
    * value for determinism). normalize=true divides by the total
    * (pandas value_counts(normalize=True)) via a broadcast 1-row total —
    * a global window would funnel every distinct value through one
    * partition, which matters for high-cardinality columns.
    */
  def valueCounts(c: String, normalize: Boolean = false): GFrame = {
    val counts = df.groupBy(c)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
    val out =
      if (!normalize) counts
      else counts
        .crossJoin(org.apache.spark.sql.functions.broadcast(
          counts.agg(org.apache.spark.sql.functions.sum(col("count")).as("__total"))))
        .withColumn("proportion", col("count") / col("__total"))
        .drop("count", "__total")
    GFrame(out.orderBy(
      col(if (normalize) "proportion" else "count").desc, col(c).asc))
  }

  /** clip(lower, upper) — element-wise bound; null/NaN pass through
    * like pandas (Spark's greatest/least IGNORE nulls, which would
    * resurrect a bound from a null — guard explicitly).
    */
  def clip(lower: Double, upper: Double, cols: Seq[String] = Seq()): GFrame = {
    val cs = if (cols.nonEmpty) cols else dataCols
    GFrame(cs.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c).isNull || isnan(col(c)), col(c))
        .otherwise(least(greatest(col(c), lit(lower)), lit(upper))))), index)
  }

  /** pandas df.explode(column): one row per array element;
    * empty/null arrays keep the row with a null element
    * (explode_outer, matching pandas' NaN row).
    */
  def explodeCol(c: String): GFrame =
    GFrame(df.withColumn(c, explode_outer(col(c))), index)

  /** get_dummies over an explicit category list (one-hot 0/1 columns
    * named col_value, pandas naming). The no-list overload discovers
    * the categories with a distinct scan (a driver action, like
    * pandas' own value discovery).
    */
  def getDummies(c: String, values: Seq[String]): GFrame =
    GFrame(values.foldLeft(df)((d, v) =>
      d.withColumn(s"${c}_$v", (col(c) === v).cast("int"))).drop(c), index)

  def getDummies(c: String): GFrame =
    getDummies(c,
      graft.operators.Categorical.guardedDistinct(df, c, "get_dummies"))

  /** pandas astype("category"): infer the sorted dictionary (driver
    * action bounded by cardinality, like getDummies' discovery) and
    * return it alongside the frame — the dtype then drives `.cat` ops
    * (graft.operators.CategoricalDtype: codes / rename / add / remove /
    * reorder / ordered comparisons).
    */
  def astypeCategory(c: String): (GFrame, graft.operators.CategoricalDtype) =
    (this, graft.operators.Categorical.infer(df, c))

  /** `.cat.codes` as a new column under an explicit dtype. */
  def catCodes(c: String, dt: graft.operators.CategoricalDtype,
               out: String): GFrame =
    assign(out, dt.codes(col(c)))

  /** nunique per column → single row. */
  def nunique(cols: String*): GFrame = {
    val cs = if (cols.nonEmpty) cols else dataCols
    GFrame(df.agg(countDistinct(col(cs.head)).as(cs.head),
      cs.tail.map(c => countDistinct(col(c)).as(c)): _*))
  }

  /** pandas melt — wide→long, scan-stage explode (Reshape scaladoc). */
  def melt(idVars: Seq[String], valueVars: Seq[String],
           varName: String = "variable", valueName: String = "value"): GFrame =
    GFrame(graft.operators.Reshape.melt(df, idVars, valueVars, varName, valueName))

  /** pandas pivot_table — one hash agg; dictionary caller-supplied or
    * cardinality-guarded (Reshape scaladoc).
    */
  def pivotTable(index: Seq[String], columns: String, values: String,
                 aggFn: String = "mean",
                 pivotValues: Option[Seq[String]] = None): GFrame = {
    import org.apache.spark.sql.{functions => F}
    val f: Column => Column = aggFn match {
      case "mean" => F.avg(_)
      case "sum" => F.sum(_)
      case "min" => F.min(_)
      case "max" => F.max(_)
      case "count" => F.count(_)
      case other => throw new IllegalArgumentException(other)
    }
    GFrame(graft.operators.Reshape.pivotTable(df, index, columns, values, f, pivotValues), index)
  }

  /** pandas stack — the MultiIndex-flavored wide→long: every data
    * column becomes a `(level, value)` row pair keyed by the index
    * (lowered to the same scan-stage explode as [[melt]], with the
    * index as id_vars).
    */
  def stack(varName: String = "level", valueName: String = "value"): GFrame = {
    require(index.nonEmpty, "stack needs an index")
    GFrame(graft.operators.Reshape.melt(df, index, dataCols, varName, valueName),
      index :+ varName)
  }

  /** pandas unstack — long→wide inverse of [[stack]]: the innermost
    * index level pivots into columns (one hash agg via pivotTable's
    * `first`; the (index, level) pair must be unique, as in pandas).
    */
  def unstack(valueName: String = "value",
              pivotValues: Option[Seq[String]] = None): GFrame = {
    require(index.size >= 2, "unstack needs a level to pivot")
    val outer = index.dropRight(1)
    val level = index.last
    GFrame(graft.operators.Reshape.pivotTable(df, outer, level, valueName,
      org.apache.spark.sql.functions.first(_, ignoreNulls = true), pivotValues), outer)
  }

  /** pandas combine_first — index-aligned hole-filling union (one
    * full-outer join; Align scaladoc).
    */
  def combineFirst(other: GFrame): GFrame = {
    require(index.nonEmpty && index == other.index,
      "combine_first aligns on a shared index")
    GFrame(graft.operators.Align.combineFirst(df, other.df, index), index)
  }

  /** pandas update — other's non-null values overwrite self on shared
    * labels/columns; self's shape is kept (one left join).
    */
  def updateFrom(other: GFrame): GFrame = {
    require(index.nonEmpty && index == other.index,
      "update aligns on a shared index")
    GFrame(graft.operators.Align.update(df, other.df, index), index)
  }

  /** pandas rank(method=average/min/max/dense) in one pass — appends
    * all four as `<out>_min/_max/_avg/_dense` (RankMethods scaladoc:
    * distinct-value scan + join-back, never a 1-partition window).
    */
  def rank(valueCol: String, out: String = "rank",
           ascending: Boolean = true): GFrame =
    GFrame(graft.operators.RankMethods.rank(df, valueCol, out, ascending), index)

  /** Weighted sample WITHOUT replacement, n rows, deterministic
    * (Efraimidis–Spirakis over md5 uniforms — WeightedSample scaladoc).
    */
  def sampleWeighted(n: Int, weightCol: String, idCol: String,
                     salt: String = "es"): GFrame =
    GFrame(graft.operators.WeightedSample.take(df, idCol, weightCol, n, salt), index)

  /** pandas expanding().sum()/mean() over the index order — the global
    * two-phase scan (Cumulative scaladoc), so no single-partition
    * window.  Exactness: values are scaled to integer `cents` (10^scale)
    * so the distributed partial sums are associative-exact in doubles up
    * to 2^53 — the same trick as the decimal window aggregates.
    */
  def expanding(valueCol: String, scale: Int = 2): GFrame = {
    require(index.nonEmpty, "expanding needs an index order")
    val f = math.pow(10.0, scale)
    val cents = df.withColumn("__cents", round(col(valueCol) * f))
    val counted = Cumulative.globalScanRowNumber(
      cents, index, "__cents", "__cum", "__n")
    GFrame(counted
      .withColumn(s"${valueCol}_exp_sum", col("__cum") / lit(f))
      .withColumn(s"${valueCol}_exp_mean", col("__cum") / lit(f) / col("__n"))
      .drop("__cents", "__cum", "__n"), index)
  }

  // ---- dtypes (§2.8) ----

  def astype(types: (String, String)*): GFrame =
    GFrame(types.foldLeft(df) { case (d, (c, t)) =>
      d.withColumn(c, Casts.astype(col(c), t))
    }, index)

  // ---- cumulative (§2.5) ----

  def cumsum(valueCol: String, outCol: String): GFrame = {
    require(index.nonEmpty, "global scan needs an index order")
    GFrame(Cumulative.globalScan(df, index, valueCol, outCol, Cumulative.SumOp), index)
  }

  /** UNGROUPED df.shift(periods) in index order (negative = lead) —
    * distributed row-number + self-join, never a single-partition
    * window ([[graft.operators.ShiftGlobal]]).
    */
  def shiftGlobal(valueCol: String, periods: Int = 1,
                  outCol: String = ""): GFrame = {
    require(index.nonEmpty, "global shift needs an index order")
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_shift"
    GFrame(graft.operators.ShiftGlobal.shift(df, index, valueCol, periods, out), index)
  }

  /** UNGROUPED df.diff(periods) in index order. */
  def diffGlobal(valueCol: String, periods: Int = 1,
                 outCol: String = ""): GFrame = {
    require(index.nonEmpty, "global diff needs an index order")
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_diff"
    GFrame(graft.operators.ShiftGlobal.diff(df, index, valueCol, periods, out), index)
  }

  /** UNGROUPED df.pct_change(periods) in index order. */
  def pctChangeGlobal(valueCol: String, periods: Int = 1,
                      outCol: String = ""): GFrame = {
    require(index.nonEmpty, "global pct_change needs an index order")
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_pct"
    GFrame(graft.operators.ShiftGlobal.pctChange(df, index, valueCol, periods, out), index)
  }

  /** UNGROUPED df.rolling(window) over a global ordering — pandas
    * min_periods semantics, computed by [[graft.operators.RollingGlobal]]
    * (a carry-in of the preceding w-1 rows; never a single-partition
    * window). `fn` in mean/sum/min/max; sum and mean go through the
    * exact decimal sum.
    */
  def rollingGlobal(valueCol: String, orderBy: Seq[String], window: Int,
                    fn: String = "mean", outCol: String = ""): GFrame = {
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_roll_$fn"
    val r = graft.operators.RollingGlobal.trailing(df, orderBy, valueCol, window, "__r")
    val c = fn match {
      case "mean" => col("__r_sum").cast("double") / window
      case "sum"  => col("__r_sum").cast("double")
      case "min"  => col("__r_min")
      case "max"  => col("__r_max")
      case other  => throw new IllegalArgumentException(other)
    }
    GFrame(r.withColumn(out, c).drop("__r_sum", "__r_min", "__r_max"), index)
  }

  /** cut(breaks): fixed-width binning — bin i covers
    * (breaks(i), breaks(i+1)], right-closed like pandas cut; values
    * outside the break range get null. Pure when-chain, stays in the
    * scan stage.
    */
  def cut(c: String, breaks: Seq[Double], outCol: String): GFrame = {
    require(breaks.size >= 2, "cut needs at least 2 break points")
    val v = col(c)
    val binned = breaks.sliding(2).zipWithIndex.foldLeft(
      when(lit(false), lit(null))) { case (acc, (Seq(lo, hi), i)) =>
        acc.when(v > lo && v <= hi, lit(i + 1))
      }.otherwise(lit(null))
    GFrame(df.withColumn(outCol, binned.cast("int")), index)
  }

  /** qcut(k): quantile binning into k equal-count buckets in
    * (orderCol, tiebreak) order — SQL ntile semantics (the first
    * n mod k buckets take one extra row), but computed with the
    * distributed global row number instead of a single-partition
    * window: one range shuffle + a count action, scale-safe.
    */
  def qcut(orderCol: String, k: Int, outCol: String,
           tiebreak: Seq[String] = Seq()): GFrame = {
    val n = df.count()
    val q = n / k
    val r = n % k
    val numbered = Cumulative.globalRowNumber(df,
      orderCol +: tiebreak, "__rn")
    // ntile: rank <= r*(q+1) → bucket (rank-1)/(q+1)+1, else
    // r + (rank - r*(q+1) - 1)/q + 1   (integer division)
    val rn = col("__rn")
    val bucket =
      if (q == 0) rn // more buckets than rows: ntile gives one row each
      else when(rn <= r * (q + 1),
          (rn - 1) / (q + 1) + 1)
        .otherwise(lit(r) + (rn - lit(r * (q + 1)) - 1) / q + 1)
    GFrame(numbered.withColumn(outCol, bucket.cast("int")).drop("__rn"), index)
  }

  // ---- training-data pipeline surface (beyond the reference) ----

  /** Scan-stage quality score (TextStats) rounded to 6dp, appended as
    * `outCol` — gate with `apply(col(outCol) >= t)`.
    */
  def scoreQuality(textCol: String, outCol: String = "quality"): GFrame =
    GFrame(df.withColumn(outCol,
      graft.functions.Num.rnd(
        graft.text.TextStats.qualityScore(col(textCol)), 6)), index)

  /** Bigram-LM fluency score appended as `outCol` (scan-stage fold;
    * the model tables come from [[graft.text.BigramLm.tables]]).
    */
  def scoreFluency(textCol: String, pu: Map[Int, Double], pb: Map[Int, Double],
                   outCol: String = "fluency"): GFrame =
    GFrame(df.withColumn(outCol,
      graft.text.BigramLm.score(col(textCol), pu, pb)), index)

  /** Frozen linear-classifier margin + keep flag (scan-stage;
    * [[graft.text.QualityModel]]).
    */
  def scoreModelQuality(textCol: String, outCol: String = "margin"): GFrame =
    GFrame(df.withColumn(outCol, graft.text.QualityModel.margin(col(textCol)))
      .withColumn("keep", graft.text.QualityModel.keep(col(textCol))), index)

  /** Heuristic language ID appended as `outCol` (scan-stage). */
  def withLangId(textCol: String, outCol: String = "lang_guess"): GFrame =
    GFrame(df.withColumn(outCol,
      graft.text.TextStats.langId(col(textCol))), index)

  /** Real-BPE tokenization: append `bpe_repr` / `n_tok` (scan-stage
    * kernel, every existing column carried — see Bpe.encodeWith).
    */
  def tokenizeBpe(textCol: String, model: graft.text.Bpe.Model): GFrame =
    GFrame(graft.text.Bpe.encodeWith(df, textCol, model), index)

  /** Remove documents sharing any word n-gram with `eval`'s text
    * (train/test decontamination — see Decontaminate).
    */
  def decontaminate(idCol: String, textCol: String, eval: GFrame,
                    evalTextCol: String, n: Int): GFrame =
    GFrame(graft.text.Decontaminate.clean(
      df, idCol, textCol, eval.df, evalTextCol, n), index)

  /** MinHash-LSH near-duplicate removal: keep each duplicate cluster's
    * min-id representative (LSH candidates → exact-Jaccard verify →
    * connected components — the q166 pipeline as an API call).
    */
  def dropNearDuplicates(idCol: String, textCol: String, n: Int = 3,
                         threshold: Double = 0.5): GFrame = {
    val pairs = graft.text.MinHash.nearDuplicates(df, idCol, textCol, n, threshold)
    val losers = graft.operators.Components.connected(pairs, "id1", "id2")
      .filter(col("rep") =!= col("id"))
      .select(col("id").as(idCol))
    GFrame(df.join(losers, Seq(idCol), "left_anti"), index)
  }

  /** SemDeDup over this frame's `vec_id`/`embedding` columns: keep only
    * cluster-representative embeddings (Similarity.semDedup contract).
    */
  def semDedup(model: graft.similarity.IVF.Model,
               threshold: Double): GFrame = {
    val kept = graft.similarity.Similarity.semDedup(df, model, threshold)
      .filter(col("kept")).select("vec_id")
    GFrame(df.join(kept, Seq("vec_id"), "left_semi"), index)
  }

  /** Scale-safe SemDeDup: cell count derives from the corpus count
    * (expected cell size `targetCell` at any scale), no model to fit —
    * see Similarity.semDedupScaled. Gated by q373.
    */
  def semDedupScaled(threshold: Double, targetCell: Int = 256,
                     maxCell: Int = 1000): GFrame = {
    val kept = graft.similarity.Similarity
      .semDedupScaled(df, threshold, targetCell, maxCell)
      .filter(col("kept")).select("vec_id")
    GFrame(df.join(kept, Seq("vec_id"), "left_semi"), index)
  }

  /** Banded-repetition SemDeDup (R independent sign-signature tables;
    * recall 0.25→0.72 measured at cos ≥ 0.4, q379) — keep only
    * un-dominated rows. See Similarity.semDedupBanded (gated q380).
    */
  def semDedupBanded(threshold: Double, tables: Int = 4,
                     targetCell: Int = 256): GFrame = {
    val kept = graft.similarity.Similarity
      .semDedupBanded(df, threshold, tables, targetCell)
      .filter(col("kept")).select("vec_id")
    GFrame(df.join(kept, Seq("vec_id"), "left_semi"), index)
  }

  /** Symmetric per-dim int8 quantization of an embedding column →
    * (idCol, codes array<int>) — see similarity/Int8 (gated q375/q376).
    */
  def int8Quantize(idCol: String = "vec_id",
                   embCol: String = "embedding"): GFrame =
    GFrame(graft.similarity.Int8.quantize(df, idCol, embCol))

  /** Persistable sign-signature cell index of this (deduped) corpus —
    * write it once, probe every new crawl batch against it
    * (Similarity.embedCellIndex contract; gated q382).
    */
  def embedCellIndex(tables: Int = 4, targetCell: Int = 256): GFrame =
    GFrame(graft.similarity.Similarity.embedCellIndex(df, tables, targetCell))

  /** Probe THIS frame (the new batch) against a persisted cell index:
    * returns (new_id, n_matches, is_dup) — only candidates pay the
    * exact-cosine verify. The modulus AND table count come from the
    * index itself (Similarity.probeEmbedIndex; gated q382).
    */
  def probeEmbedIndex(index: GFrame, corpus: GFrame, threshold: Double): GFrame =
    GFrame(graft.similarity.Similarity
      .probeEmbedIndex(index.df, df, corpus.df, threshold))

  /** Merge THIS frame (a probed-and-accepted batch) into a persisted
    * cell index — the incremental-curation append
    * (Similarity.mergeEmbedIndex; gated q384).
    */
  def mergeEmbedIndex(index: GFrame): GFrame =
    GFrame(graft.similarity.Similarity.mergeEmbedIndex(index.df, df))

  /** Banded-blocking operating-point sweep over this frame's
    * embeddings — the (targetCell × R) recall/precision/candidate-cost
    * grid (Similarity.bandedSweep; gated q388). Pick the cheapest point
    * meeting a recall target with [[graft.similarity.Similarity.autoR]].
    */
  def bandedSweep(threshold: Double, rs: Seq[Int] = Seq(1, 2, 4, 8),
                  cells: Seq[Int] = Seq(128, 256, 512)): GFrame =
    GFrame(graft.similarity.Similarity.bandedSweep(df, threshold, rs, cells))

  /** Sweep-then-dedup at the cheapest measured point meeting
    * `targetRecall` (Similarity.semDedupAuto): returns the chosen
    * (targetCell, R) and the deduped frame.
    */
  def semDedupAuto(threshold: Double, targetRecall: Double,
                   sampleMod: Int = 1): ((Int, Int), GFrame) = {
    val ((cell, r), kept) = graft.similarity.Similarity
      .semDedupAuto(df, threshold, targetRecall, sampleMod)
    ((cell, r), GFrame(df.join(kept.filter(col("kept")).select("vec_id"),
      Seq("vec_id"), "left_semi"), index))
  }

  /** Column-profiling report (describe-style; see operators/Profile). */
  def profile(cols: String*): GFrame =
    GFrame(graft.operators.Profile.report(df, cols))

  /** Welch's unequal-variance t-test between two groups of `groupCol`
    * over `valueCol` (see operators/Stats — exact decimal moments).
    */
  def welchTTest(groupCol: String, valueCol: String,
                 gA: String, gB: String): GFrame =
    GFrame(graft.operators.Stats.welchTTest(df, groupCol, valueCol, gA, gB))

  /** One-way ANOVA F across all groups of `groupCol` (operators/Stats). */
  def anovaF(groupCol: String, valueCol: String): GFrame =
    GFrame(graft.operators.Stats.anovaF(df, groupCol, valueCol))

  /** CUSUM changepoint per group over a prepared (group, day, x)
    * daily series — x must be DECIMAL(18,6) (operators/Stats).
    */
  def cusumChangepoint(groupCol: String, dayCol: String, xCol: String): GFrame =
    GFrame(graft.operators.Stats.cusumChangepoint(df, groupCol, dayCol, xCol))

  /** Holt double-exponential smoothing per group over a prepared
    * (group, day, x-double) daily series (operators/Stats).
    */
  def holtSmooth(groupCol: String, dayCol: String, xCol: String,
                 alpha: Double = 0.3, beta: Double = 0.2): GFrame =
    GFrame(graft.operators.Stats.holtSmooth(df, groupCol, dayCol, xCol,
      alpha, beta))

  /** Triangle count over the undirected graph whose edges are this
    * frame's (aCol, bCol) pairs — normalized, deduplicated, then
    * degree-oriented (operators/Triangles).
    */
  def triangleCount(aCol: String, bCol: String): GFrame = {
    import org.apache.spark.sql.functions.{greatest, least}
    val und = df.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
    GFrame(graft.operators.Triangles.count(und))
  }

  /** Deterministic per-group reservoir sample: exactly min(k, group
    * size) rows per group, ranked by a salted md5 of `idCol`
    * (GroupTopK bounded heaps — repartition-stable).
    */
  def reservoirSample(groupCol: String, idCol: String, k: Int): GFrame = {
    import org.apache.spark.sql.functions.{concat, lit => flit, md5}
    val withH = df.withColumn("__rsh",
      md5(concat(flit("rs:"), col(idCol))))
    GFrame(graft.plans.GroupTopK.topKPerKey(
      withH, Seq(groupCol), Seq(("__rsh", false), (idCol, false)), k)
      .drop("__rsh"))
  }

  /** BM25 keyword top-k over a text column (see text/Bm25).
    *
    * LAZY (r10, VERDICT item 6): composes Bm25.countsTable →
    * Bm25.topKFromCounts with NO cache and NO action, so construction
    * runs zero jobs and the frame composes like any other lazy GFrame
    * op. Tradeoff: the counts scan executes twice per action (stats
    * pass + score pass) — callers running one-shot queries who prefer
    * a single cached scan should use Bm25.topK (eager: caches,
    * collects the bounded ≤k rows, unpersists before returning).
    */
  def bm25TopK(idCol: String, textCol: String, terms: Seq[String], k: Int): GFrame = {
    val tcTab = graft.text.Bm25.countsTable(df, idCol, textCol, terms)
    GFrame(graft.text.Bm25.topKFromCounts(tcTab, idCol, terms.size, k))
  }

  // ---- IO (§2.1) ----

  /** Parquet sink that PERSISTS THE INDEX CONTRACT (reference
    * `core/table.py:1184-1288` writes pandas index metadata into the
    * footer): index columns are tagged with their position in the
    * field metadata, which Spark serializes into the parquet footer
    * (`org.apache.spark.sql.parquet.row.metadata`) and restores on
    * read — [[GFrame.readParquet]] reconstructs the same
    * StoredIndex/MultiIndex without a sidecar file. For PANDAS
    * consumers, a `_common_metadata` footer-only file additionally
    * carries pyarrow's `pandas` key (Spark's writer has no
    * arbitrary-footer-key hook, so it rides the sidecar — which
    * pandas/pyarrow's directory reader honors): `pd.read_parquet(dir)`
    * auto-recovers the index exactly like the reference
    * (`core/io.py:56-68`).
    */
  def toParquet(path: String): Unit = {
    // Rebuild EVERY column's metadata: tag current index columns and
    // STRIP stale tags from the rest — columns read back via
    // readParquet carry the key, so a setIndex/resetIndex after a read
    // would otherwise persist a merged/duplicate index. This includes
    // the index.isEmpty case (resetIndex must persist as "no index").
    val out = {
      val cols = df.schema.fields.map { f =>
        val pos = index.indexOf(f.name)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        if (pos < 0) mb.remove(GFrame.IndexPosKey)
        else mb.putLong(GFrame.IndexPosKey, pos.toLong)
        col(f.name).as(f.name, mb.build())
      }
      df.select(cols.toSeq: _*)
    }
    out.write.mode("overwrite").parquet(path)
    GFrame.writePandasCommonMetadata(df.sparkSession, path, df.schema, index)
  }

  def toCsv(path: String, singleFile: Boolean = false): Unit =
    graft.io.CsvPandas.write(df, path, singleFile = singleFile)

  def cache(): GFrame = GFrame(df.cache(), index)

  /** The reference's explicit pre-partition hint `df._shuffle(keys)`
    * (`core/table.py:1004-1028`, used by its mortgage benchmark to
    * co-locate later joins/groupbys): hash-repartition on the keys.
    * Catalyst's EnsureRequirements then elides the exchanges of every
    * downstream operator clustered on the same keys.
    */
  def shuffle(keys: String*): GFrame =
    GFrame(df.repartition(keys.map(col): _*), index)
}

object GFrame {
  /** Field-metadata key carrying an index column's position (written by
    * [[GFrame.toParquet]], recovered by [[readParquet]]).
    */
  val IndexPosKey = "graft.index_pos"

  def readParquet(spark: SparkSession, path: String): GFrame = {
    val df = spark.read.parquet(path)
    val idx = df.schema.fields
      .filter(_.metadata.contains(IndexPosKey))
      .sortBy(_.metadata.getLong(IndexPosKey))
      .map(_.name).toSeq
    GFrame(df, idx)
  }

  def readCsv(spark: SparkSession, path: String,
              opts: graft.io.CsvPandas.ReadOptions = graft.io.CsvPandas.ReadOptions()): GFrame =
    GFrame(graft.io.CsvPandas.read(spark, path, opts))

  /** concat(axis=0) — union semantics (README.md:194-196). */
  def concat(frames: Seq[GFrame]): GFrame =
    GFrame(SetOps.concatRows(frames.map(_.df)), frames.head.index)

  /** Write a footer-only `_common_metadata` file next to the part files
    * carrying pyarrow's `pandas` key, so `pd.read_parquet(dir)`
    * auto-recovers the index (the reference writes the same key
    * per-file, `core/table.py:1184-1288`; Spark's writer has no
    * footer-key hook, so the sidecar — honored by pandas/pyarrow's
    * directory reader — carries it). Footer-only: no row groups, a few
    * KB regardless of data size. The parquet MessageType and existing
    * key-value metadata are cloned from the first written part file so
    * the sidecar always agrees with the physical schema.
    */
  private[graft] def writePandasCommonMetadata(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, index: Seq[String]): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    val conf = spark.sessionState.newHadoopConf()
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .foreach { p =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        val (msgType, kv) =
          try {
            val fmd = reader.getFooter.getFileMetaData
            (fmd.getSchema, fmd.getKeyValueMetaData)
          } finally reader.close()
        val merged = new java.util.HashMap[String, String](kv)
        merged.put("pandas", pandasMetaJson(schema, index))
        val w = new ParquetFileWriter(
          HadoopOutputFile.fromPath(new HPath(dir, "_common_metadata"), conf),
          msgType, ParquetFileWriter.Mode.OVERWRITE,
          128L * 1024 * 1024, 8 * 1024 * 1024)
        w.start()
        w.end(merged)
      }
  }

  /** The `pandas` footer value (pyarrow's pandas-metadata spec): enough
    * for index recovery — index_columns + per-column name/type entries.
    */
  private def pandasMetaJson(schema: org.apache.spark.sql.types.StructType,
                             index: Seq[String]): String = {
    import org.apache.spark.sql.types._
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    def types(dt: DataType): (String, String) = dt match {
      case ByteType => ("int8", "int8")
      case ShortType => ("int16", "int16")
      case IntegerType => ("int32", "int32")
      case LongType => ("int64", "int64")
      case FloatType => ("float32", "float32")
      case DoubleType => ("float64", "float64")
      case BooleanType => ("bool", "bool")
      case StringType => ("unicode", "object")
      case BinaryType => ("bytes", "object")
      case DateType => ("date", "object")
      case TimestampType | TimestampNTZType => ("datetime", "datetime64[ns]")
      case _ => ("object", "object")
    }
    val cols = schema.fields.map { f =>
      val (pt, nt) = types(f.dataType)
      s"""{"name": "${esc(f.name)}", "field_name": "${esc(f.name)}", """ +
        s""""pandas_type": "$pt", "numpy_type": "$nt", "metadata": null}"""
    }.mkString(", ")
    val idx = index.map(n => s""""${esc(n)}"""").mkString(", ")
    s"""{"index_columns": [$idx], "column_indexes": [], """ +
      s""""columns": [$cols], "creator": {"library": "graft"}, """ +
      s""""pandas_version": "2.0.0"}"""
  }
}

/** Lazy groupby handle (`frontend/groupby.py:22-86`). */
final case class GGroupBy(frame: GFrame, keys: Seq[String]) {
  def agg(spec: (String, Seq[String])*): GFrame =
    GFrame(GroupAgg.agg(frame.df, keys, spec), keys)
  def sum(cols: String*): GFrame = one("sum", cols)
  def mean(cols: String*): GFrame = one("mean", cols)
  def min(cols: String*): GFrame = one("min", cols)
  def max(cols: String*): GFrame = one("max", cols)
  def count(cols: String*): GFrame = one("count", cols)
  def size(): GFrame =
    GFrame(frame.df.groupBy(keys.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("size")), keys)
  private def one(fn: String, cols: Seq[String]): GFrame = {
    val cs = if (cols.nonEmpty) cols else
      frame.df.columns.filterNot(keys.contains).toSeq
    agg(cs.map(_ -> Seq(fn)): _*)
  }

  private def w(orderBy: Seq[String]) =
    org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(orderBy.map(col): _*)

  /** groupby(...).shift(periods) — previous value within the group in
    * `orderBy` order (scalable: hash-partitioned window, never a global
    * sort; include a unique tiebreak column for determinism).
    */
  def shift(valueCol: String, orderBy: Seq[String], periods: Int = 1,
            outCol: String = ""): GFrame = {
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_shift"
    GFrame(frame.df.withColumn(out,
      lag(col(valueCol), periods).over(w(orderBy))), frame.index)
  }

  /** groupby(...).diff(): value minus the previous value in the group. */
  def diff(valueCol: String, orderBy: Seq[String], periods: Int = 1,
           outCol: String = ""): GFrame = {
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_diff"
    GFrame(frame.df.withColumn(out,
      col(valueCol) - lag(col(valueCol), periods).over(w(orderBy))), frame.index)
  }

  /** groupby(...).rolling(window).agg — trailing-row window per group
    * with pandas min_periods semantics (rows before a full window yield
    * null, unlike SQL's partial-frame aggregates).
    */
  def rolling(valueCol: String, orderBy: Seq[String], window: Int,
              fn: String = "mean", minPeriods: Int = -1,
              outCol: String = ""): GFrame = {
    val mp = if (minPeriods > 0) minPeriods else window
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_roll_$fn"
    val fr = w(orderBy).rowsBetween(-(window - 1), 0)
    val c = col(valueCol)
    import org.apache.spark.sql.{functions => F}
    val aggd = fn match {
      case "mean" => F.avg(c).over(fr)
      case "sum"  => F.sum(c).over(fr)
      case "min"  => F.min(c).over(fr)
      case "max"  => F.max(c).over(fr)
      case other  => throw new IllegalArgumentException(other)
    }
    val n = F.count(c).over(fr)
    GFrame(frame.df.withColumn(out,
      when(n < mp, lit(null)).otherwise(aggd)), frame.index)
  }

  /** groupby(...).ffill(): forward-fill nulls within each group. */
  def ffill(orderBy: Seq[String], cols: String*): GFrame =
    GFrame(graft.operators.Fill.ffillGrouped(frame.df, keys, orderBy, cols),
      frame.index)

  /** groupby(...).bfill(): backward-fill nulls within each group. */
  def bfill(orderBy: Seq[String], cols: String*): GFrame =
    GFrame(graft.operators.Fill.bfillGrouped(frame.df, keys, orderBy, cols),
      frame.index)

  /** groupby(...).interpolate(): linear blend of null runs by row
    * position (pandas leading/trailing null semantics).
    */
  def interpolate(valueCol: String, orderBy: Seq[String],
                  outCol: String = ""): GFrame = {
    val out = if (outCol.nonEmpty) outCol else valueCol
    GFrame(graft.operators.Fill.interpolateGrouped(
      frame.df, keys, orderBy, valueCol, out), frame.index)
  }

  /** groupby(...).nunique(): distinct count per group and column. */
  def nunique(cols: String*): GFrame = {
    val cs = if (cols.nonEmpty) cols else
      frame.df.columns.filterNot(keys.contains).toSeq
    GFrame(frame.df.groupBy(keys.map(col): _*)
      .agg(countDistinct(col(cs.head)).as(cs.head),
        cs.tail.map(c => countDistinct(col(c)).as(c)): _*), keys)
  }

  /** groupby(...).mode(): most frequent value per group, smallest value
    * on ties (pandas returns all modes; one deterministic winner keeps
    * the result a frame).  Two hash aggregations — (keys, value) counts,
    * then a min(struct(−cnt, value)) election per group; never a window
    * over raw rows.
    */
  def mode(valueCol: String, outCol: String = ""): GFrame = {
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_mode"
    val counts = frame.df.filter(col(valueCol).isNotNull)
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__cnt"))
    GFrame(counts.groupBy(keys.map(col): _*)
      .agg(org.apache.spark.sql.functions.min(
        struct((-col("__cnt")).as("nc"), col(valueCol).as("v"))).as("__m"))
      .select(keys.map(col) :+ col("__m.v").as(out): _*), keys)
  }

  /** groupby(...).pct_change(): relative change vs the previous value. */
  def pctChange(valueCol: String, orderBy: Seq[String],
                outCol: String = ""): GFrame = {
    val out = if (outCol.nonEmpty) outCol else s"${valueCol}_pct"
    val prev = lag(col(valueCol), 1).over(w(orderBy))
    GFrame(frame.df.withColumn(out,
      (col(valueCol) - prev) / prev), frame.index)
  }
}
