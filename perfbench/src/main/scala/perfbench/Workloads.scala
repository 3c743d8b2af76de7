package perfbench

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{ConvertApp, MSTable, MSWrite, ReadSpec}
import graft.expr.{Expressions, Taql}
import graft.ops.Graph

/** One workload: seeded inputs, a closed-loop operation mix timed as one
  * unit, and a check of that mix's outputs. The check runs outside the
  * timed region and never calls the code under test: it recomputes the
  * expected outputs with plain Spark (or on the driver) from the inputs and
  * the generators' closed forms.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {
  type Out

  /** Writes this seed's inputs under `root`. */
  def generate(root: String): Unit

  /** Logical bytes of the input tables the mix reads. */
  def userBytes: Long

  /** Untimed, once after set-up: expected outputs, from an independent path. */
  def prepare(): Unit = ()

  /** Untimed, before each run of the mix: restores the starting state. */
  def reset(): Unit = ()

  /** One run of the operation mix (the timed region). */
  def iterate(): Out

  /** Failures found in `out`; empty when every output is correct. */
  def check(out: Out): Seq[String]

  /** (directory, logical bytes) of every table live after a run of the mix. */
  def liveTables: Seq[(String, Long)]

  final def inputs: String = s"$dir/inputs"

  protected def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bytes of the data files under `p` (checksum sidecars excluded). */
  final def diskBytes(p: String): Long = {
    val it = fs(p).listFiles(new Path(p), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.endsWith(".crc")) n += f.getLen
    }
    n
  }

  protected def delete(p: String): Unit = fs(p).delete(new Path(p), true)

  protected def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  protected def near(what: String, got: Double, want: Double): Seq[String] =
    if (math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))) Nil
    else Seq(s"$what: got $got, expected $want")
}

object Workloads {
  val Names = Seq("ms_read", "ms_writeback")

  val Index = Seq("TIME", "ANTENNA1", "ANTENNA2")

  /** Σ|vis| over the unflagged cells of one row. */
  val visAbs: Column = expr("aggregate(zip_with(flatten(DATA), flatten(FLAG), " +
    "(v, f) -> IF(f, 0D, sqrt(v.re * v.re + v.im * v.im))), 0D, (a, x) -> a + x)")

  /** Number of flagged cells of one row. */
  val flagged: Column = expr("size(filter(flatten(FLAG), x -> x))")

  def expectedRowId(shape: Gen.MsShape): Column =
    Gen.rankOf(col("TIME"), col("ANTENNA1"), col("ANTENNA2"), shape.nant)

  /** Order-insensitive (rows, checksum) of a frame over all its columns. */
  def summary(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.sorted.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The input sizes of one run. `Tiny` serves the benchmark's own tests. */
  final case class Sizes(narrow: Gen.MsShape, wide: Gen.MsShape)

  val Full = Sizes(
    narrow = Gen.MsShape(rows = 7200, nchan = 32, ncorr = 4, nant = 16, files = 4),
    wide = Gen.MsShape(rows = 56, nchan = 4096, ncorr = 4, nant = 8, files = 4))

  val Tiny = Sizes(
    narrow = Gen.MsShape(rows = 600, nchan = 4, ncorr = 2, nant = 6, files = 2),
    wide = Gen.MsShape(rows = 30, nchan = 16, ncorr = 2, nant = 6, files = 2))

  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
            sizes: Sizes): Workload = name match {
    case "ms_read" => new MsRead(spark, dir, seed, sizes.narrow)
    case "ms_writeback" => new MsWriteback(spark, dir, seed, sizes.wide)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

import Workloads._

/** The paper's main path, read only: a grouped, index-ordered, filtered
  * `MSTable.read` with one reduction per returned dataset; then the bulk
  * `readDF` form with a TAQL filter, a derived column and a grouped
  * aggregate; then the connected components and the PageRank of the
  * antenna graph the selected baselines form (a gain solve needs that graph
  * connected).
  */
final class MsRead(spark: SparkSession, dir: String, seed: Long,
                   shape: Gen.MsShape) extends Workload(spark, dir, seed) {
  type Out = (Map[Seq[Int], (Long, Double, Long)], Map[Int, (Long, Double)],
    Map[Long, Long], Map[Long, Double])

  private val path = s"$inputs/ms_narrow"
  private val skip = (math.abs(seed) % shape.nant).toInt
  private val where = s"ANTENNA1 != $skip && ANTENNA2 != $skip"
  private val groups = Seq("FIELD_ID", "DATA_DESC_ID")
  private val spec = ReadSpec(
    columns = Some(Index ++ Seq("UVW", "DATA", "FLAG")),
    groupCols = groups, indexCols = Index, where = Some(where))
  private var expected: Out = _

  def generate(root: String): Unit = Gen.writeMs(spark, s"$root/ms_narrow", shape, seed)
  def userBytes: Long = shape.logicalBytes
  def liveTables: Seq[(String, Long)] = Seq(path -> shape.logicalBytes)

  private def perGroup(df: DataFrame, rowId: Column) = df.agg(count(lit(1)),
    sum(visAbs), bit_xor(xxhash64(rowId, col("TIME"), col("ANTENNA1"), col("ANTENNA2"))))

  private def perField(df: DataFrame, meanAnt: Column) =
    df.groupBy("FIELD_ID").agg(count(lit(1)), sum(meanAnt)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap

  override def prepare(): Unit = {
    val raw = spark.read.parquet(path)
      .filter(col("ANTENNA1") =!= skip && col("ANTENNA2") =!= skip)
    val g = raw.groupBy(groups.map(col): _*).agg(count(lit(1)), sum(visAbs),
      bit_xor(xxhash64(expectedRowId(shape), col("TIME"), col("ANTENNA1"), col("ANTENNA2"))))
      .collect().map(r => Seq(r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    val edges = raw.select(col("ANTENNA1").cast("long"), col("ANTENNA2").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    expected = (g, perField(raw, (col("ANTENNA1") + col("ANTENNA2")) * 0.5),
      Reference.components(edges), Reference.pageRank(edges, MsRead.RankIters))
  }

  def iterate(): Out = {
    val datasets = Trace.span("api.MSTable.read") {
      val ds = MSTable.read(spark, path, spec)
      Trace.count("datasets", ds.size)
      ds
    }
    val perDataset = datasets.map { d =>
      Trace.span("api.MSTable.dataset_action") {
        val r = perGroup(d.df, col(MSTable.RowId)).head()
        Trace.count("rows_out", r.getLong(0))
        d.partitionKey.map(_._2.asInstanceOf[Int]) ->
          (r.getLong(0), r.getDouble(1), r.getLong(2))
      }
    }.toMap
    val selected = Trace.span("api.MSTable.readDF") {
      val df = MSTable.readDF(spark, path,
        ReadSpec(columns = Some(Seq("ANTENNA1", "ANTENNA2", "FIELD_ID"))))
      val sql = Trace.span("expr.toSql")(Taql.toSql(where))
      df.filter(expr(sql))
    }
    val byField = Trace.span("api.MSTable.readDF") {
      val derived = Trace.span("expr.withExpr") {
        Expressions.withExpr(selected, "MEAN_ANT", "(ANTENNA1 + ANTENNA2) * 0.5")
      }
      perField(derived, col("MEAN_ANT"))
    }
    val labels = Trace.span("ops.Graph.connectedComponents") {
      Graph.connectedComponents(selected, "ANTENNA1", "ANTENNA2").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val ranks = Trace.span("ops.Graph.pageRank") {
      Graph.pageRank(selected, "ANTENNA1", "ANTENNA2", MsRead.RankIters).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    (perDataset, byField, labels, ranks)
  }

  def check(out: Out): Seq[String] = {
    val (gotG, gotF, gotL, gotR) = out
    val (wantG, wantF, wantL, wantR) = expected
    expect("datasets (FIELD_ID, DATA_DESC_ID)", gotG.keySet, wantG.keySet) ++
      wantG.toSeq.flatMap { case (k, (n, vis, rowIds)) =>
        gotG.get(k).toSeq.flatMap { case (gn, gvis, growIds) =>
          expect(s"rows of dataset $k", gn, n) ++
            near(s"sum|vis| of dataset $k", gvis, vis) ++
            expect(s"ROWID checksum of dataset $k", growIds, rowIds)
        }
      } ++ expect("readDF aggregate per FIELD_ID", gotF, wantF) ++
      expect("antenna components vs union-find", gotL, wantL) ++
      expect("PageRank nodes", gotR.keySet, wantR.keySet) ++
      wantR.toSeq.flatMap { case (v, r) =>
        gotR.get(v).toSeq.flatMap(near(s"PageRank of antenna $v vs power iteration", _, r))
      }
  }
}

object MsRead {
  /** Fixed PageRank iterations of the antenna graph. Each costs about six
    * Spark jobs whatever the graph's size, so five keep the loop's
    * per-round cost visible within the run's time budget. */
  val RankIters = 5
}

/** The write path on wide cells, the reference's write-back stress shape
  * (few rows, 4096 × 4 cells): copy-on-write FLAG updates with a small and
  * a large delta, a two-fragment chain read back through its overlay and
  * compacted, then the compacted flags converted to zarr (sorted, filtered,
  * one column excluded), back to parquet, and scanned from zarr.
  */
final class MsWriteback(spark: SparkSession, dir: String, seed: Long,
                        shape: Gen.MsShape) extends Workload(spark, dir, seed) {
  /** (rows, flagged cells, checksum) of the overlay, read through the
    * chain, and (rows, flagged cells) per ANTENNA1 from the zarr scan. */
  type Out = ((Long, Long, Long), Map[Int, (Long, Long)])

  private val base = s"$inputs/ms_wide"
  private val table = s"$dir/wb/table"
  private val frag1 = s"$dir/wb/frag1"
  private val frag2 = s"$dir/wb/frag2"
  private val compacted = s"$dir/wb/compacted"
  private val zarr = s"$dir/wb/zarr"
  private val back = s"$dir/wb/parquet"
  private val skip = (math.abs(seed) % shape.nant).toInt
  private val toZarr = ConvertApp.Args(input = compacted, output = zarr, format = "zarr",
    columns = Some(Index ++ Seq("UVW", "FLAG")), sort = Index,
    where = Some(s"ANTENNA1 != $skip"), exclude = Seq("UVW"))
  private val toParquet = ConvertApp.Args(input = zarr, output = back)
  // logical bytes the conversion keeps: TIME, ANTENNA1/2 and FLAG of every
  // baseline whose ANTENNA1 is not `skip`
  private val converted: Long = shape.rows / shape.nbl *
    (shape.nbl - (shape.nant - 1 - skip)) * (16 + shape.nchan.toLong * shape.ncorr)
  private val a1Sel = (math.abs(seed) % (shape.nant - 1)).toInt
  private val a2Sel = a1Sel + 1
  private val flagCells = shape.nchan.toLong * shape.ncorr

  import MsWriteback.Step

  // the four rewrites, in the order the mix applies them
  private val steps = Seq(
    Step("ANTENNA1", shape.nant, a1Sel, k => (c, p) => pmod(k + c + p * 2 + 1, lit(5)) === 0),
    Step("k", 2, 0, k => (c, p) => pmod(k * 2 + c * 3 + p, lit(7)) === 0),
    Step("ANTENNA2", shape.nant, a2Sel, k => (c, p) => pmod(c + p + k, lit(3)) === 0),
    Step("k", 3, 0, k => (c, p) => pmod(c * 2 + p * 3 + k, lit(11)) === 0))

  /** The FLAG a row must hold after the first `n` rewrites. */
  private def expectedFlag(n: Int): Column = {
    val k = expectedRowId(shape)
    steps.take(n).foldLeft(Gen.flagCube(shape, Gen.baseFlag(k, seed))) { (acc, s) =>
      when(s.rows(k), Gen.flagCube(shape, s.value(k))).otherwise(acc)
    }
  }

  private val checksum: Column =
    bit_xor(xxhash64(col("TIME"), col("ANTENNA1"), col("ANTENNA2"), col("FLAG")))

  def generate(root: String): Unit = Gen.writeMs(spark, s"$root/ms_wide", shape, seed)
  def userBytes: Long = shape.logicalBytes
  def liveTables: Seq[(String, Long)] = Seq(table -> shape.logicalBytes,
    frag1 -> 0L, frag2 -> 0L, compacted -> shape.logicalBytes,
    zarr -> converted, back -> converted)

  override def reset(): Unit = {
    delete(s"$dir/wb")
    FileUtil.copy(fs(base), new Path(base), fs(table), new Path(table), false,
      spark.sparkContext.hadoopConfiguration)
  }

  def iterate(): Out = {
    val ids = Trace.span("api.MSTable.withRowId") {
      MSTable.withRowId(MSTable.open(spark, table), Index)
        .select(MSTable.RowId, "ANTENNA1", "ANTENNA2").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    }
    val idFrame = spark.createDataFrame(ids.toSeq)
      .toDF(MSTable.RowId, "ANTENNA1", "ANTENNA2")
    def delta(i: Int): DataFrame = {
      val k = col(MSTable.RowId)
      val n = ids.count { case (r, a1, a2) => steps(i).hits(r, a1, a2) }
      Trace.count("rows_changed", n)
      Trace.count("bytes_changed", n * flagCells)
      idFrame.filter(steps(i).rows(k))
        .select(k, Gen.flagCube(shape, steps(i).value(k)).as("FLAG"))
    }
    for (i <- 0 to 1) Trace.span("api.MSWrite.updateTable") {
      MSWrite.updateTable(spark, table, delta(i), Index)
    }
    Trace.span("api.MSWrite.writeFragment")(MSWrite.writeFragment(delta(2), frag1, table))
    Trace.span("api.MSWrite.writeFragment")(MSWrite.writeFragment(delta(3), frag2, frag1))
    val overlay = Trace.span("api.MSWrite.readFragment") {
      MSWrite.readFragment(spark, frag2, Index)
    }
    val r = Trace.span("api.MSWrite.fragment_action") {
      overlay.agg(count(lit(1)), sum(flagged), checksum).head()
    }
    Trace.span("api.MSWrite.compactFragments") {
      MSWrite.compactFragments(spark, frag2, compacted, Index)
    }
    Trace.span("api.ConvertApp.to_zarr") {
      ConvertApp.convert(spark, toZarr)
      Trace.count("bytes_changed", converted)
      Trace.recorder.foreach(_ => Trace.count("zarr_store_bytes", diskBytes(zarr)))
    }
    Trace.span("api.ConvertApp.to_parquet") {
      ConvertApp.convert(spark, toParquet)
      Trace.count("bytes_changed", converted)
    }
    val scan = Trace.span("sources.zarr.scan")(perAntenna(MSTable.open(spark, zarr)))
    ((r.getLong(0), r.getLong(1), r.getLong(2)), scan)
  }

  private def perAntenna(df: DataFrame): Map[Int, (Long, Long)] =
    df.groupBy("ANTENNA1").agg(count(lit(1)), sum(flagged)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def audit(path: String, rewrites: Int) = spark.read.parquet(path)
    .agg(count(lit(1)), sum(when(col("FLAG") =!= expectedFlag(rewrites), 1).otherwise(0)),
      sum(size(filter(flatten(expectedFlag(rewrites)), x => x))), checksum)
    .head()

  def check(out: Out): Seq[String] = {
    val ((n, nFlagged, sum), scan) = out
    val t = audit(table, 2)
    val c = audit(compacted, 4)
    // the conversion's source is the compacted table, itself checked below
    // against the closed form
    val kept = spark.read.parquet(compacted).filter(col("ANTENNA1") =!= skip)
      .select((Index :+ "FLAG").map(col): _*)
    expect("rows of the updated table", t.getLong(0), shape.rows) ++
      expect("rows whose FLAG differs after the two updates", t.getLong(1), 0L) ++
      expect("rows of the overlay", n, shape.rows) ++
      expect("flagged cells of the overlay", nFlagged, c.getLong(2)) ++
      expect("rows of the compacted table", c.getLong(0), shape.rows) ++
      expect("rows whose FLAG differs after compaction", c.getLong(1), 0L) ++
      expect("compacted checksum vs overlay checksum", c.getLong(3), sum) ++
      expect("(rows, checksum) after the zarr round trip",
        summary(spark.read.parquet(back)), summary(kept)) ++
      expect("zarr scan (rows, flagged cells) per ANTENNA1", scan, perAntenna(kept))
  }
}

object MsWriteback {
  /** One FLAG rewrite: the rows whose `on` value (the rank k or an antenna)
    * is `rem` modulo `mod` get the closed-form cube `value(k)`. */
  final case class Step(on: String, mod: Int, rem: Int,
                        value: Column => (Column, Column) => Column) {
    def rows(k: Column): Column =
      pmod(if (on == "k") k else col(on), lit(mod)) === rem
    def hits(k: Long, a1: Int, a2: Int): Boolean =
      Math.floorMod(on match { case "k" => k; case "ANTENNA1" => a1.toLong
        case _ => a2.toLong }, mod.toLong) == rem
  }
}

/** Driver-side reference algorithms for the graph checks. */
object Reference {
  /** Component label = the smallest node id in the component (union-find). */
  def components(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  /** Damped PageRank by power iteration over the directed edges, `iters`
    * steps from the uniform start, the rank of out-degree-0 nodes spread
    * uniformly: r'(v) = (1-d)/N + d (Σ_{(s,v)} r(s)/deg(s) + dangling/N). */
  def pageRank(edges: Array[(Long, Long)], iters: Int,
               damping: Double = 0.85): Map[Long, Double] = {
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val n = nodes.length.toDouble
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var rank = nodes.map(_ -> 1 / n).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filterNot(out.contains).map(rank).sum
      val inflow = out.toSeq.flatMap { case (s, ds) => ds.map(_ -> rank(s) / ds.length) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      rank = nodes.map(v => v -> ((1 - damping) / n +
        damping * (inflow.getOrElse(v, 0d) + dangling / n))).toMap
    }
    rank
  }
}
