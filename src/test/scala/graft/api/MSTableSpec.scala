package graft.api

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MSTableSpec extends SparkSpec {

  test("read with group/index/where yields one dataset per group, sorted, with ROWID") {
    val path = s"${sf()}/lineitem.parquet"
    val index = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val dss = MSTable.read(spark, path, ReadSpec(groupCols = Seq("l_returnflag"),
      indexCols = index, where = Some("l_quantity > 10")))
    assert(dss.nonEmpty)
    val flags = dss.map(_.partitionKey.head._2.toString).sorted
    assert(flags === flags.distinct.sorted)
    // ROWID is the rank of the index tuple in the full, unfiltered table
    val rank = MSTable.withRowId(MSTable.open(spark, path), index)
      .select((index :+ MSTable.RowId).map(col): _*)
      .withColumnRenamed(MSTable.RowId, "rank")
    dss.foreach { ds =>
      assert(ds.df.columns.contains(MSTable.RowId))
      assert(!ds.df.columns.contains("l_returnflag")) // group col demoted
      val qs = ds.df.select(min("l_quantity")).head().getDouble(0)
      assert(qs > 10)
      // the index is a unique key, so with ROWID = rank (checked below)
      // strictly rising ROWIDs in collect order mean index order
      val ids = ds.df.select(MSTable.RowId).collect().map(_.getLong(0)).toSeq
      assert(ids.nonEmpty && ids === ids.sorted && ids.distinct === ids)
      // every action reads the read's shared pin: no exchange, no window
      val plan = ds.df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
    }
    val union = dss.map(_.withPartitionColumns).reduce(_ unionByName _)
    val joined = union.join(rank, index)
    assert(joined.count() === union.count())
    assert(joined.filter(col(MSTable.RowId) =!= col("rank")).count() === 0)
    val filtered = MSTable.open(spark, path).filter(col("l_quantity") > 10)
    val got = union.drop(MSTable.RowId).select(filtered.columns.map(col): _*)
    assert(got.exceptAll(filtered).isEmpty && filtered.exceptAll(got).isEmpty)
    // the pin keeps its lineage: with its blocks gone (as a lost executor
    // drops them) the datasets recompute the same rows rather than fail
    def rowIds = dss.map(_.df.select(MSTable.RowId).collect().toSeq)
    val before = rowIds
    spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !pinned(id) }
      .values.foreach(_.unpersist(blocking = true))
    assert(rowIds === before)
  }

  test("withPartitionColumns restores the group column") {
    val dss = MSTable.read(spark, s"${sf()}/region.parquet",
      ReadSpec(groupCols = Seq("r_regionkey")))
    val back = dss.map(_.withPartitionColumns).reduce(_ unionByName _)
    assert(back.columns.contains("r_regionkey"))
    assert(back.count() === 5)
  }

  test("ROWID is dense, unique, deterministic for a unique index") {
    val df = MSTable.withRowId(
      spark.read.parquet(s"${sf()}/supplier.parquet"), Seq("s_suppkey"))
    val ids = df.orderBy("s_suppkey").select(MSTable.RowId)
      .collect().map(_.getLong(0))
    assert(ids.toSeq === ids.indices.map(_.toLong))
  }

  test("per-row grouping yields one dataset per row") {
    val region = MSTable.withRowId(
      spark.read.parquet(s"${sf()}/region.parquet"), Seq("r_regionkey"))
    val dss = MSTable.perRowDatasets(region)
    assert(dss.size === 5)
    assert(dss.forall(_.df.count() === 1))
  }

  test("MSDataset select/dropVars/assign/where compose like the reference API") {
    val ds = MSTable.read(spark, s"${sf()}/lineitem.parquet",
      ReadSpec(groupCols = Seq("l_returnflag"))).head
    val out = ds
      .select("l_orderkey", "l_quantity", "l_discount")
      .assign("net", "l_quantity * (1 - l_discount)")
      .where("l_quantity > 10 && net > 10")
      .dropVars("l_discount")
    assert(out.df.columns.toSet === Set("l_orderkey", "l_quantity", "net", "ROWID"))
    assert(out.df.count() > 0)
    intercept[IllegalArgumentException](ds.dropVars("nope"))
  }

  test("subtable addressing and format sniffing") {
    assert(MSTable.resolveSubtable("/a/b::SUB") === "/a/b/SUB")
    assert(MSTable.sniffFormat(spark, s"${sf()}/region.parquet")
      === MSTable.ParquetFormat)
  }
}

class MSWriteSpec extends SparkSpec {
  private val out = "/root/repo/target/test_mswrite"

  test("update-by-ROWID merges delta columns, keeps others") {
    val base = MSTable.withRowId(
      spark.read.parquet(s"${sf()}/supplier.parquet"), Seq("s_suppkey"))
    val delta = base.filter(col("s_suppkey") <= 3)
      .select(col(MSTable.RowId), lit(999.0).as("s_acctbal"))
    val merged = MSWrite.updateByRowId(base, delta)
    assert(merged.filter(col("s_suppkey") <= 3)
      .select(min("s_acctbal"), max("s_acctbal")).head().toSeq === Seq(999.0, 999.0))
    assert(merged.count() === base.count())
    // untouched rows keep original values
    val orig = base.filter(col("s_suppkey") > 3).agg(sum("s_acctbal")).head().getDouble(0)
    val kept = merged.filter(col("s_suppkey") > 3).agg(sum("s_acctbal")).head().getDouble(0)
    assert(math.abs(orig - kept) < 1e-9)
  }

  test("fragment chain overlays newest columns (J3/F1/F2)") {
    val base = MSTable.withRowId(
      spark.read.parquet(s"${sf()}/region.parquet"), Seq("r_regionkey"))
    MSWrite.create(base, s"$out/base")
    val d1 = base.filter(col("r_regionkey") < 2)
      .select(col(MSTable.RowId), lit("EDIT1").as("r_name"))
    MSWrite.writeFragment(d1, s"$out/c1", s"$out/base")
    val d2 = base.filter(col("r_regionkey") === 0)
      .select(col(MSTable.RowId), lit("EDIT2").as("r_name"))
    MSWrite.writeFragment(d2, s"$out/c2", s"$out/c1")
    val names = MSWrite.readFragment(spark, s"$out/c2", Seq("r_regionkey"))
      .orderBy("r_regionkey").select("r_name").collect().map(_.getString(0))
    assert(names(0) === "EDIT2" && names(1) === "EDIT1")
    assert(names.drop(2).forall(n => n != "EDIT1" && n != "EDIT2"))
  }

  test("deep fragment chains signal past the compaction cadence (depth 17)") {
    // readFragment must SURFACE the per-read depth tax once the chain
    // passes CompactionWarnDepth — a silent linear walk is how a
    // depth-40 chain happens. Build a depth-17 chain of 1-row deltas,
    // swap the signal hook, and assert it fires with the right depth
    // (and stays quiet at the cadence edge).
    val base = MSTable.withRowId(
      spark.read.parquet(s"${sf()}/region.parquet"), Seq("r_regionkey"))
    MSWrite.create(base, s"$out/deep/t0")
    (1 to 17).foreach { i =>
      val d = base.filter(col("r_regionkey") === 0)
        .select(col(MSTable.RowId), lit(s"E$i").as("r_name"))
      MSWrite.writeFragment(d, s"$out/deep/t$i", s"$out/deep/t${i - 1}")
    }
    assert(MSWrite.chainDepth(spark, s"$out/deep/t17") === 17)
    assert(MSWrite.chainDepth(spark, s"$out/deep/t16") === 16)
    assert(MSWrite.chainDepth(spark, s"$out/deep/t0") === 0)
    val fired = scala.collection.mutable.Buffer.empty[(String, Int)]
    val prior = MSWrite.onDeepChain
    MSWrite.onDeepChain = (p, d) => fired += ((p, d))
    try {
      // at the cadence edge (16): no signal
      MSWrite.readFragment(spark, s"$out/deep/t16", Seq("r_regionkey"))
        .count()
      assert(fired.isEmpty, fired.toString)
      // one past it (17): exactly one signal with the measured depth
      val merged = MSWrite.readFragment(spark, s"$out/deep/t17",
        Seq("r_regionkey"))
      assert(fired.toList === List((s"$out/deep/t17", 17)))
      // and the read itself still overlays correctly
      val top = merged.orderBy("r_regionkey").select("r_name")
        .collect().map(_.getString(0))
      assert(top(0) === "E17")
      // r18: the dataset-shaped read carries the depth its own walk
      // measured in attrs — a pipeline alerts on it programmatically
      // instead of parsing the log line
      val ds = MSWrite.readFragmentDataset(spark, s"$out/deep/t17",
        Seq("r_regionkey"))
      assert(ds.attrs(MSWrite.ChainDepthAttr) === "17")
      assert(ds.df.orderBy("r_regionkey").select("r_name")
        .collect().map(_.getString(0)).head === "E17")
      val shallow = MSWrite.readFragmentDataset(spark, s"$out/deep/t0",
        Seq("r_regionkey"))
      assert(shallow.attrs(MSWrite.ChainDepthAttr) === "0")
    } finally MSWrite.onDeepChain = prior
  }

  test("keyword sidecars round-trip") {
    MSWrite.create(spark.read.parquet(s"${sf()}/region.parquet"), s"$out/kw")
    MSWrite.putKeywords(spark, s"$out/kw", Map("a" -> "1", "b" -> "x\"y"))
    assert(MSWrite.readKeywords(spark, s"$out/kw") === Map("a" -> "1", "b" -> "x\"y"))
  }

  test("per-column keyword sidecars are independent") {
    MSWrite.create(spark.read.parquet(s"${sf()}/region.parquet"), s"$out/ckw")
    MSWrite.putColumnKeywords(spark, s"$out/ckw", "r_name",
      Map("UNIT" -> "", "MEASINFO" -> "none"))
    MSWrite.putColumnKeywords(spark, s"$out/ckw", "r_regionkey", Map("UNIT" -> "id"))
    assert(MSWrite.readColumnKeywords(spark, s"$out/ckw", "r_name")("MEASINFO") === "none")
    assert(MSWrite.readColumnKeywords(spark, s"$out/ckw", "r_regionkey") === Map("UNIT" -> "id"))
    assert(MSWrite.readColumnKeywords(spark, s"$out/ckw", "missing") === Map.empty)
    // table keywords unaffected
    assert(MSWrite.readKeywords(spark, s"$out/ckw") === Map.empty)
  }

  test("updateKeywords merges per-key and honors the DELKW sentinel (ref parity)") {
    // the reference's _put_keywords (daskms/writes.py:722-739) putkeyword's
    // each entry INTO the live set and removekeyword's on DELKW — an
    // update must not clobber unrelated keys the way putKeywords does
    val p = s"$out/kw_merge"
    MSWrite.create(spark.read.parquet(s"${sf()}/region.parquet"), p)
    MSWrite.putKeywords(spark, p, Map("KEEP" -> "v0", "EDIT" -> "old", "DROP" -> "x"))
    MSWrite.updateKeywords(spark, p,
      Map("EDIT" -> Some("new"), "ADDED" -> Some("a"), "DROP" -> None))
    assert(MSWrite.readKeywords(spark, p) ===
      Map("KEEP" -> "v0", "EDIT" -> "new", "ADDED" -> "a"))
    // wholesale put still replaces (the create-style contract)
    MSWrite.putKeywords(spark, p, Map("ONLY" -> "1"))
    assert(MSWrite.readKeywords(spark, p) === Map("ONLY" -> "1"))

    // column variant: merge within the column, other columns untouched
    MSWrite.putColumnKeywords(spark, p, "r_name", Map("UNIT" -> "m", "OLD" -> "y"))
    MSWrite.putColumnKeywords(spark, p, "r_regionkey", Map("UNIT" -> "id"))
    MSWrite.updateColumnKeywords(spark, p, "r_name",
      Map("UNIT" -> Some("km"), "OLD" -> None, "MEASINFO" -> Some("none")))
    assert(MSWrite.readColumnKeywords(spark, p, "r_name") ===
      Map("UNIT" -> "km", "MEASINFO" -> "none"))
    assert(MSWrite.readColumnKeywords(spark, p, "r_regionkey") === Map("UNIT" -> "id"))
    // updating a column with no sidecar yet starts from empty (eager put)
    MSWrite.updateColumnKeywords(spark, p, "r_comment", Map("NEW" -> Some("z")))
    assert(MSWrite.readColumnKeywords(spark, p, "r_comment") === Map("NEW" -> "z"))
  }

  test("dataset-list write round-trips through grouped read (xds_to_table form)") {
    val dss = MSTable.read(spark, s"${sf()}/nation.parquet",
      ReadSpec(groupCols = Seq("n_regionkey"), indexCols = Seq("n_nationkey")))
    MSWrite.createDatasets(dss, s"$out/xds")
    val back = MSTable.read(spark, s"$out/xds",
      ReadSpec(groupCols = Seq("n_regionkey"), indexCols = Seq("n_nationkey")))
    assert(back.size === dss.size)
    val keys = back.map(_.partitionKey.head._2.toString).sorted
    assert(keys === dss.map(_.partitionKey.head._2.toString).sorted)
    assert(back.map(_.df.count()).sum === 25)
  }

  test("create with partitionBy lays out Hive-style dirs") {
    MSWrite.create(spark.read.parquet(s"${sf()}/nation.parquet"),
      s"$out/part", partitionBy = Seq("n_regionkey"))
    val back = spark.read.parquet(s"$out/part")
    assert(back.count() === 25)
    assert(back.columns.contains("n_regionkey"))
  }

  test("tableStats: exact per-column stats in one scan; edges defined") {
    import spark.implicits._
    val df = Seq((1L, Some("b"), 2.5), (2L, None, 1.5), (3L, Some("a"), 2.5))
      .toDF("id", "s", "v")
    val got = MSTable.tableStats(df, exact = true).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(got("id") === ((3L, 3L, 3L, "1", "3")))
    assert(got("s") === ((3L, 2L, 2L, "a", "b"))) // nulls excluded
    assert(got("v") === ((3L, 3L, 2L, "1.5", "2.5")))
    // the default HLL path returns the same shape with sane counts
    val approx = MSTable.tableStats(df, Seq("id")).head()
    assert(approx.getLong(3) >= 2L && approx.getLong(3) <= 4L)
    val e = intercept[IllegalArgumentException](
      MSTable.tableStats(df, Seq("nope")))
    assert(e.getMessage.contains("nope"))
  }

  test("diffByKey names exactly the added/removed/changed keys") {
    import spark.implicits._
    val a = Seq((1L, "x", 10), (2L, "y", 20), (3L, null.asInstanceOf[String], 30),
      (4L, "w", 40)).toDF("id", "s", "n")
    val b = Seq((1L, "x", 10),                  // identical -> silent
      (2L, "y2", 20),                           // changed value
      (3L, null.asInstanceOf[String], 30),      // identical incl. null
      (5L, "new", 50))                          // added; 4 removed
      .toDF("id", "s", "n")
    val got = MSWrite.diffByKey(a, b, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed", 4L -> "removed", 5L -> "added"))
    // null -> value and value -> null are both "changed", not silent
    val n1 = Seq((1L, null.asInstanceOf[String])).toDF("id", "s")
    val n2 = Seq((1L, "now")).toDF("id", "s")
    assert(MSWrite.diffByKey(n1, n2, Seq("id")).head().getString(1) === "changed")
    assert(MSWrite.diffByKey(n2, n1, Seq("id")).head().getString(1) === "changed")
    // identical frames diff to nothing; schema mismatch fails fast
    assert(MSWrite.diffByKey(a, a, Seq("id")).count() === 0)
    val e = intercept[IllegalArgumentException](
      MSWrite.diffByKey(a, a.drop("n"), Seq("id")))
    assert(e.getMessage.contains("schemas"))
    // bucketed stores diff without an exchange (the versioned-store case)
    MSWrite.createBucketed(a, "diff_a", Seq("id"), buckets = 4)
    MSWrite.createBucketed(b, "diff_b", Seq("id"), buckets = 4)
    val plan = MSWrite.diffByKey(spark.table("diff_a"), spark.table("diff_b"),
      Seq("id")).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed diff must not shuffle:\n$plan")
  }
}
