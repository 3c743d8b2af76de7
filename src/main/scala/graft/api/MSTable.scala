package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

import graft.expr.Taql

/** The engine's scan surface — the Spark-native analog of the reference's
  * `xds_from_table` / `xds_from_ms` / `xds_from_storage_table` family
  * (ref: daskms/dask_ms.py:128-294,297-338,366-413; daskms/reads.py:297-558).
  *
  * Semantics mapped Spark-first:
  *  - projection (`columns`)        → `df.select`, pruned down to the
  *    parquet scan by Catalyst's ColumnPruning
  *  - predicate (`taql_where`)      → `df.filter(expr(Taql.toSql(w)))`,
  *    pushed to parquet row-group stats by PushDownPredicates
  *  - grouping (`group_cols`)       → one [[MSDataset]] per distinct tuple
  *    (ref: daskms/reads.py:368-432); the scalable bulk form keeps a single
  *    DataFrame keyed by the group columns — materialising `Seq[MSDataset]`
  *    collects only the distinct KEY TUPLES (small), never row data
  *  - ordering (`index_cols`)       → range-repartition + sortWithinPartitions
  *    (a total sort without a single-partition bottleneck)
  *  - ROWID                         → explicit LongType column assigned once
  *    at scan time in physical (file) order, the analog of the reference's
  *    ROWID() coordinate (ref: daskms/reads.py:227); it survives shuffles
  *    because it is data, not an id function
  */
object MSTable {

  val RowId = "ROWID"

  // ---------------------------------------------------------------- dispatch

  sealed trait Format
  case object ParquetFormat extends Format
  case object CasaFormat extends Format
  case object ZarrFormat extends Format

  /** Split the reference's `path::SUBTABLE` addressing
    * (ref: daskms/utils.py:130-146) into (root, subtable-or-main path).
    */
  def resolveSubtable(path: String): String = {
    val idx = path.indexOf("::")
    if (idx < 0) path
    else path.substring(0, idx) + "/" + path.substring(idx + 2)
  }

  /** Sniff the storage format the way the reference does
    * (ref: daskms/fsspec_store.py:59-82): `table.dat` → CASA, `.zgroup` →
    * zarr, else parquet.
    */
  def sniffFormat(spark: SparkSession, path: String): Format = {
    val p = new org.apache.hadoop.fs.Path(resolveSubtable(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "table.dat"))) CasaFormat
    else if (fs.exists(new org.apache.hadoop.fs.Path(p, ".zgroup"))) ZarrFormat
    else ParquetFormat
  }

  /** Storage-dispatch read (ref: xds_from_storage_table,
    * daskms/dask_ms.py:366-413). Parquet is the primary columnar store;
    * zarr v2 groups (the reference's xds_to_zarr layout) are read natively
    * via the graft zarr DataSourceV2; CASA tables must be converted first
    * (see README "CASA ingestion" and ConvertApp).
    */
  def open(spark: SparkSession, path: String): DataFrame =
    sniffFormat(spark, path) match {
      case ParquetFormat => spark.read.parquet(resolveSubtable(path))
      case ZarrFormat => spark.read.format("zarr").load(resolveSubtable(path))
      case f => throw new UnsupportedOperationException(
        s"$f store at $path: convert to parquet first (graft.api.ConvertApp)")
    }

  // ------------------------------------------------------------------ rowid

  /** Assign a stable ROWID in the current physical order of `df`: its
    * [[runningTotals]] row count minus 1 — one census job, then a narrow
    * pass, no shuffle. It serves frames already in their final order (a
    * caller's `orderBy`, a zarr scan's store order); parquet scans use
    * [[scanWithRowId]] and unordered frames with a key [[withRowId]].
    *
    * `pin` is [[runningTotals]]'s: callers with a plain deterministic
    * upstream keep the default.
    */
  def zipWithRowId(df: DataFrame, pin: Boolean = false): DataFrame =
    runningTotals(df, Seq(None -> RowId), pin = pin)
      .withColumn(RowId, col(RowId) - 1L)

  /** Inclusive running totals over `df` in its current order: for each
    * `(weight, out)`, column `out` = Σ weight over this row and the earlier
    * rows of its run — the whole frame, or with `runKey` each maximal
    * stretch of consecutive rows with one (`==`) key value. A `None`
    * weight counts 1 per row (a row number is that total minus 1); a
    * column weight is LONG or DOUBLE, sums in its own type, and a null
    * counts 0. An exclusive prefix is the total minus the row's weight.
    *
    * One census job sums each weight per (partition, run), the driver
    * scans those few scalars into start offsets, and one narrow pass
    * appends the totals to each Catalyst row: no shuffle, no `Window`, no
    * `Row` conversion. The census and the pass read ONE RDD object (the
    * `queryExecution.toRdd` of `df`, taken once), so they see the same
    * partitions. Re-planning `df` for the census would be wrong: each
    * execution of an `orderBy` draws new range boundaries. `pin = true`
    * copies the rows into a local checkpoint that the census fills and
    * the pass reads, so a nondeterministic upstream (and the sort) runs
    * once; losing an executor between the two jobs then fails the query.
    *
    * `skipAbove = Some(b)`: the caller keeps only rows whose first total
    * (a count or nonnegative LONG) is ≤ b, so a partition whose every run
    * starts above b is skipped unread. `negativeError` fails the census
    * on a negative LONG weight.
    */
  private[graft] def runningTotals(df: DataFrame,
      weights: Seq[(Option[String], String)], runKey: Option[String] = None,
      pin: Boolean = false, skipAbove: Option[Long] = None,
      negativeError: Option[String] = None): DataFrame = {
    val schema = df.schema
    val src = weights.map(_._1.fold(-1)(schema.fieldIndex)).toArray
    val dbl = src.map(i => i >= 0 && schema(i).dataType == DoubleType)
    require(src.nonEmpty && src.forall(i => i < 0 ||
      Seq(LongType, DoubleType).contains(schema(i).dataType)),
      s"runningTotals: LONG or DOUBLE weights: $weights")
    require(skipAbove.isEmpty || !dbl(0), "runningTotals: skipAbove needs a LONG total")
    val key = runKey.map { k =>
      val (i, get) = (schema.fieldIndex(k), InternalRow.getAccessor(schema(k).dataType))
      (r: InternalRow) => get(r, i)
    }
    type Totals = (Array[Long], Array[Double])
    def zero: Totals = (new Array[Long](src.length), new Array[Double](src.length))
    def add(t: Totals, r: InternalRow): Unit = for (j <- src.indices) {
      val i = src(j)
      if (i < 0) t._1(j) += 1L
      else if (r.isNullAt(i)) ()
      else if (dbl(j)) t._2(j) += r.getDouble(i)
      else {
        val w = r.getLong(i)
        require(w >= 0 || negativeError.isEmpty, s"${negativeError.get} $w")
        t._1(j) += w
      }
    }
    def plus(a: Totals, b: Totals): Totals = (a._1.zip(b._1).map(p => p._1 + p._2),
      a._2.zip(b._2).map(p => p._1 + p._2))
    def keyOf(r: InternalRow): Any = if (key.isEmpty) null else key.get(r)
    val outSchema = StructType(schema.fields ++ weights.zip(dbl).map {
      case ((_, out), d) => StructField(out, if (d) DoubleType else LongType, nullable = false)
    })
    ColumnShim.mapRows(df, outSchema) { input =>
      val rows = if (pin) input.map(_.copy()).localCheckpoint() else input
      // census: (run key, run total) per run of each partition, in order
      val census = rows.mapPartitions { it =>
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Any, Totals)]
        it.foreach { r =>
          val k = keyOf(r)
          if (runs.isEmpty || runs.last._1 != k) runs += (InternalRow.copyValue(k) -> zero)
          add(runs.last._2, r)
        }
        Iterator(runs.toArray)
      }.collect()
      // a partition's first run continues the previous partition's last
      // run when the keys match; every other run starts at zero
      var last: (Any, Totals) = null
      val starts = census.map(_.map { case (k, sum) =>
        val start = if (last != null && last._1 == k) last._2 else zero
        last = (k, plus(start, sum))
        (k, start)
      })
      val first = if (src(0) < 0) 1L else 0L
      rows.mapPartitionsWithIndex { (p, it) =>
        val runs = starts(p)
        if (skipAbove.exists(b => runs.nonEmpty && runs.forall(_._2._1(0) + first > b)))
          Iterator.empty
        else {
          val out = new SpecificInternalRow(dbl.toSeq.map(if (_) DoubleType else LongType))
          val joined = new JoinedRow
          var run = -1
          var t: Totals = null
          it.map { r =>
            if (run < 0 || runs(run)._1 != keyOf(r)) { run += 1; t = plus(runs(run)._2, zero) }
            add(t, r)
            for (j <- src.indices)
              if (dbl(j)) out.setDouble(j, t._2(j)) else out.setLong(j, t._1(j))
            joined(r, out)
          }
        }
      }
    }
  }

  /** Physical-order ROWID for a parquet store WITHOUT leaving columnar
    * execution: `_metadata.row_index` gives the in-file position for free,
    * a per-file census job (scans no data columns — effectively footer
    * metadata) yields file start offsets, and a broadcast join stitches
    * them together. No shuffle touches the table. Canonical physical order
    * is (file path, in-file position) — files in lexicographic path order.
    */
  def scanWithRowId(spark: SparkSession, path: String): DataFrame = {
    val p = resolveSubtable(path)
    val withMeta = spark.read.parquet(p).select(col("*"),
      col("_metadata.file_path").as("__file"),
      col("_metadata.row_index").as("__ridx"))
    val counts = spark.read.parquet(p)
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty)
      return withMeta.drop("__file", "__ridx").withColumn(RowId, lit(0L))
    var acc = 0L
    val offsets = counts.map { case (f, n) => val o = (f, acc); acc += n; o }
    import spark.implicits._
    val offFrame = offsets.toSeq.toDF("__file", "__off")
    withMeta.join(broadcast(offFrame), Seq("__file"))
      .withColumn(RowId, col("__off") + col("__ridx"))
      .drop("__file", "__ridx", "__off")
  }

  /** Assign ROWID = exact global rank in the total order given by
    * `orderCols` (which must be a unique key). Scalable, codegen-friendly,
    * and — critically — DATA-DETERMINED, so re-executions of the plan (a
    * write job, then a later job recomputing the same frame, as the
    * fragment API does) assign identical ROWIDs:
    *
    *  1. sample the key columns once and freeze `numShufflePartitions − 1`
    *     boundary tuples as plan literals. Correctness does NOT depend on
    *     the sample — ANY boundaries yield the same global rank, the sample
    *     only balances bucket sizes. (Spark's own repartitionByRange cannot
    *     be used here: `RangePartitioner` seeds its sampler with the RDD id,
    *     so every execution draws DIFFERENT boundaries, and a pid-keyed
    *     offset map desyncs — observed as colliding ROWIDs under AQE.)
    *  2. bucket = number of boundary tuples lexicographically below the
    *     row's key (a literal comparison chain, whole-stage codegen'd)
    *  3. census buckets (one tiny agg job), freeze bucket→offset literals
    *  4. rowid = offset(bucket) + row_number() within bucket — the window's
    *     hash-partition + sort requirement IS the bucket clustering, so no
    *     single-partition bottleneck and no RDD round-trip
    */
  def withRowId(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyCols = orderCols.map(col)
    val total = df.count()
    if (total == 0) return df.withColumn(RowId, lit(0L))

    // 1. boundary sample (~64 candidates per target bucket)
    val frac = math.min(1.0, (n * 64.0) / total)
    val sampled = df.select(keyCols: _*).sample(withReplacement = false, frac, 42L)
      .collect().map(_.toSeq)
    // exact lexicographic sort of the sample, boundary every n-th quantile
    // null-safe (nulls first, matching Spark's asc ordering); non-Comparable
    // keys compare equal — that only skews bucket BALANCE, never correctness
    val ordering: Ordering[Seq[Any]] = (a: Seq[Any], b: Seq[Any]) => {
      a.zip(b).map {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: java.lang.Comparable[_], y) =>
          x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
        case _ => 0
      }.find(_ != 0).getOrElse(0)
    }
    val sorted = sampled.sorted(ordering)
    val boundaries: Seq[Seq[Any]] =
      if (sorted.isEmpty || n <= 1) Nil
      else (1 until n).map(i => sorted(((i.toLong * sorted.length) / n).toInt))
        .distinct.toSeq

    // 2. bucket = count of boundaries strictly below the key (lexicographic)
    def keyGt(b: Seq[Any]): Column =
      orderCols.zip(b).foldRight(lit(false)) { case ((c, v), tieBreak) =>
        (col(c) > lit(v)) || (col(c) === lit(v) && tieBreak)
      }
    val bucket: Column =
      if (boundaries.isEmpty) lit(0)
      else boundaries.map(b => when(keyGt(b), 1).otherwise(0)).reduce(_ + _)
    val withBucket = df.withColumn("__bkt", bucket)

    // 3. bucket census → offset literals (data-derived: identical in every
    //    execution regardless of physical partitioning or AQE decisions)
    val counts = withBucket.groupBy("__bkt").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (b, c) => val o = (b, acc); acc += c; o }
    val mapArgs = offsets.flatMap { case (b, off) => Seq(lit(b), lit(off)) }

    // 4. within-bucket rank; the repartition below makes the window's
    //    required clustering explicit (no extra exchange is inserted)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__bkt").orderBy(keyCols: _*)
    withBucket
      .repartition(math.max(n, offsets.length), col("__bkt"))
      .sortWithinPartitions((col("__bkt") +: keyCols): _*)
      .withColumn(RowId,
        element_at(map(mapArgs.toIndexedSeq: _*), col("__bkt"))
          + row_number().over(w) - 1)
      .drop("__bkt")
  }

  // ------------------------------------------------------------------- read

  /** Bulk read: one DataFrame, filter/projection applied, group columns
    * retained. This is the 100 TB-friendly form — grouping stays a logical
    * key, not N materialised frames.
    */
  def readDF(spark: SparkSession, path: String, spec: ReadSpec): DataFrame = {
    var df = open(spark, path)
    spec.where.foreach(w => df = df.filter(expr(Taql.toSql(w))))
    spec.columns.foreach { cols =>
      // group/index cols must survive projection (the reference likewise
      // always reads its grouping/ordering columns: daskms/reads.py:344)
      val keep = (cols ++ spec.groupCols ++ spec.indexCols).distinct
        .filter(c => df.columns.contains(c) || c == RowId)
      df = df.select(keep.filterNot(_ == RowId).map(col): _*)
    }
    spec.numPartitions.foreach(n => df = df.repartition(n))
    df
  }

  /** Full reference-parity read: a list of per-group datasets, rows sorted
    * by `index_cols` within each group, ROWID attached.
    *
    * With `index_cols`, one ROWID window and one sort per read, pinned
    * once (`ColumnShim.persistRows`); each dataset filters the pin (no
    * exchange, no window), as the reference runs its grouping/ordering
    * query once and reads datasets by row id (daskms/ordering.py:165-192).
    * Only distinct group tuples reach the driver; rows never leave
    * executors.
    */
  def read(spark: SparkSession, path: String, spec: ReadSpec): Seq[MSDataset] = {
    // ROWID is assigned on the FULL table (canonical order = index_cols when
    // given, else physical order) BEFORE the predicate — like the reference,
    // where taql_where selects physical ROWIDs out of the unfiltered table
    // (ref: daskms/ordering.py:64-78). Projection/pushdown still reaches the
    // scan for the non-ROWID columns.
    val full = open(spark, path)
    val withId =
      if (full.columns.contains(RowId)) full
      else if (spec.indexCols.nonEmpty) withRowId(full, spec.indexCols)
      else if (sniffFormat(spark, path) == ZarrFormat)
        // zarr scan partitions are the store's row-chunks in order, so the
        // zip index IS the store row number (parquet's _metadata path
        // doesn't exist here)
        zipWithRowId(full)
      else scanWithRowId(spark, path)
    var base = withId
    spec.where.foreach(w => base = base.filter(expr(Taql.toSql(w))))
    spec.columns.foreach { cols =>
      val keep = ((cols ++ spec.groupCols ++ spec.indexCols).distinct
        .filter(base.columns.contains) :+ RowId)
      base = base.select(keep.map(col): _*)
    }
    spec.numPartitions.foreach(n => base = base.repartition(n))
    if (spec.groupCols == Seq("__row__")) return perRowDatasets(base)
    // group columns first keep each group range-ordered by index_cols
    // across partitions; without index_cols rows keep their ROWID order
    val order = (spec.groupCols ++ spec.indexCols).map(col)
    val sorted =
      if (spec.indexCols.isEmpty) base
      else base.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    if (spec.groupCols.isEmpty) return Seq(MSDataset(Nil, sorted))
    val groups = base.select(spec.groupCols.map(col): _*).distinct()
      .collect().toSeq.map(r => spec.groupCols.zip(r.toSeq))
      .sortBy(_.map(_._2.toString).mkString("\u0000"))
    // fan-out guard (one dataset, and its jobs, per group): it fires before
    // the pin, so a refused read pays for no sort
    require(groups.size <= spec.maxGroups,
      s"group_cols ${spec.groupCols.mkString(",")} has ${groups.size} distinct " +
        s"tuples (> maxGroups=${spec.maxGroups}); one Spark job runs per group. " +
        "Use MSTable.readDF (grouping stays a logical key) or raise ReadSpec.maxGroups.")
    // pin only to share the sort: unsorted, a dataset's group filter
    // reaches the parquet scan, cheaper than filtering a pin of all rows
    val shared = if (spec.indexCols.isEmpty) base else ColumnShim.persistRows(sorted)
    groups.map { key =>
      val cond = key.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      MSDataset(key, shared.filter(cond).drop(spec.groupCols: _*))
    }
  }

  /** Per-row grouping (`group_cols="__row__"`) for ragged subtables like
    * SPECTRAL_WINDOW (ref: daskms/reads.py:493-517). Only sensible for
    * small dimension tables; guarded accordingly.
    */
  def perRowDatasets(base: DataFrame, maxRows: Int = 10000): Seq[MSDataset] = {
    val withId =
      if (base.columns.contains(RowId)) base else zipWithRowId(base)
    val n = withId.count()
    require(n <= maxRows,
      s"__row__ grouping materialises one dataset per row; $n rows exceeds $maxRows")
    // one pin, so the datasets share one upstream scan (and zip map)
    val shared = ColumnShim.persistRows(withId)
    (0L until n).map { r =>
      MSDataset(Seq(RowId -> r), shared.filter(col(RowId) === r))
    }
  }

  /** MS-default read (ref: xds_from_ms, daskms/dask_ms.py:297-338). */
  def readMs(spark: SparkSession, path: String, spec: ReadSpec = ReadSpec()): Seq[MSDataset] =
    read(spark, path, if (spec.groupCols.isEmpty) spec.copy(groupCols = ReadSpec.msDefaults.groupCols) else spec)

  /** ANALYZE-style column statistics: one output row per requested
    * column — (column, n_rows, n_nonnull, n_distinct, min_value,
    * max_value), min/max cast to string so heterogeneous columns share a
    * schema. The numbers a curation run reports and a planner prunes by.
    *
    * ONE scan computes every column's aggregates (a single `agg` call);
    * the result is a handful of scalars assembled driver-side. `exact =
    * true` pins distinct counts for oracle checks; the default uses
    * `approx_count_distinct` (HLL) — at 100 TB an exact distinct per
    * column is a full shuffle each, while the sketch rides the same
    * single pass (and multiple EXACT distincts force an expand ×
    * columns, another reason the sketch is the scale path).
    */
  def tableStats(df: DataFrame, columns: Seq[String] = Nil,
                 exact: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"tableStats: no such column(s): ${missing.mkString(", ")}")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    val r = df.agg(count(lit(1)).as("n"), aggs: _*).head()
    val n = r.getAs[Long]("n")
    cols.map { c =>
      (c, n, r.getAs[Long](s"nn_$c"), r.getAs[Long](s"nd_$c"),
        Option(r.getAs[String](s"mn_$c")).orNull,
        Option(r.getAs[String](s"mx_$c")).orNull)
    }.toDF("column", "n_rows", "n_nonnull", "n_distinct",
      "min_value", "max_value")
  }
}
