package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. They use plain Spark only — never the engine —
  * so no engine change can alter what a workload reads.
  *
  * MS main table. Index rank `k` orders the table by (TIME, ANTENNA1,
  * ANTENNA2): `k = t * nbl + b`, TIME = T0 + 8 s × t, and baseline `b` is the
  * b-th pair (a1 < a2) in lexicographic order. Rows are stored in the seeded
  * order `k = (mult * i + shift) mod rows` for storage position `i`, so the
  * ROWID the engine should assign (the rank in index order) is [[rankOf]] of
  * the row's own key, known without running the engine. Every cell value is
  * a function of (k, chan, corr, seed): FLAG a closed form, DATA a hash.
  */
object Gen {

  final case class MsShape(rows: Long, nchan: Int, ncorr: Int, nant: Int,
                           files: Int) {
    val nbl: Int = nant * (nant - 1) / 2
    require(rows % nbl == 0, s"rows ($rows) must be a multiple of nbl ($nbl)")
    /** Logical bytes of one row: TIME, ANTENNA1/2, FIELD_ID, DATA_DESC_ID,
      * UVW (3 × f8), DATA (complex64 cells) and FLAG (1 B cells). */
    val rowBytes: Long = 8 + 4 * 4 + 24 + nchan.toLong * ncorr * 9
    def logicalBytes: Long = rows * rowBytes
  }

  val T0 = 4.8e9
  val Dt = 8.0

  /** The seeded storage-order permutation `k = (mult * i + shift) mod rows`.
    * `mult` is coprime to `rows` and lies near rows × 0.618 for every seed,
    * so every seed scatters the index order about equally (a multiplier
    * near 1 would leave the table almost sorted, and compress far better).
    */
  def permutation(rows: Long, seed: Long): (Long, Long) = {
    @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val rnd = new scala.util.Random(seed)
    var mult = (rows * 0.618).toLong + rnd.nextInt(math.max(1, (rows / 64).toInt))
    while (gcd(mult, rows) != 1) mult += 1
    (mult, (rnd.nextLong() & Long.MaxValue) % rows)
  }

  /** Index of the pair (a1 < a2) among all pairs in lexicographic order. */
  def baselineIndex(a1: Column, a2: Column, nant: Int): Column =
    a1 * (lit(2 * nant - 1) - a1) / 2 + (a2 - a1 - 1)

  /** The expected ROWID of a row, from its key alone. */
  def rankOf(time: Column, a1: Column, a2: Column, nant: Int): Column = {
    val nbl = nant * (nant - 1) / 2
    (((time - lit(T0)) / lit(Dt)).cast("long") * nbl +
      baselineIndex(a1, a2, nant)).cast("long")
  }

  /** Base FLAG pattern of the MS tables. */
  def baseFlag(k: Column, seed: Long)(c: Column, p: Column): Column =
    pmod(k * 3 + c * 5 + p * 7 + lit(seed), lit(17)) === 0

  /** A (chan, corr) boolean cube from a per-cell predicate. */
  def flagCube(shape: MsShape, f: (Column, Column) => Column): Column =
    transform(sequence(lit(0), lit(shape.nchan - 1)), c =>
      transform(sequence(lit(0), lit(shape.ncorr - 1)), p => f(c, p)))

  /** Writes the MS main table for `seed` to `path` (parquet). */
  def writeMs(spark: SparkSession, path: String, shape: MsShape,
              seed: Long): Unit = {
    import shape._
    val (mult, shift) = permutation(rows, seed)
    val pairs = for (a1 <- 0 until nant; a2 <- a1 + 1 until nant) yield (a1, a2)
    val bl = spark.createDataFrame(pairs.zipWithIndex
      .map { case ((a1, a2), b) => (b, a1, a2) }).toDF("__b", "ANTENNA1", "ANTENNA2")
    val k = col("__k")
    val sd = lit(seed)
    // each DATA cell takes 24 hashed bits per part, so the cells carry
    // about the entropy of real visibilities and barely compress
    def part(h: Column): Column =
      (h.bitwiseAND(lit(0xffffffL)) / lit((1 << 23).toDouble) - 1.0).cast("float")
    val data = transform(sequence(lit(0), lit(nchan - 1)), c =>
      transform(sequence(lit(0), lit(ncorr - 1)), p => struct(
        part(xxhash64(sd, k, c, p)).as("re"),
        part(shiftright(xxhash64(sd, k, c, p), 24)).as("im"))))
    val uvw = array((pmod(k * 7 + sd, lit(1000)) - 500).cast("double"),
      (pmod(k * 11 + sd, lit(1000)) - 500).cast("double"),
      (pmod(k * 3 + sd, lit(100)) - 50).cast("double"))
    spark.range(0, rows, 1, files).toDF("__i")
      .withColumn("__k", pmod(col("__i") * mult + lit(shift), lit(rows)))
      .withColumn("__b", (k % nbl).cast("int"))
      .join(broadcast(bl), "__b")
      .sortWithinPartitions("__i")
      .select(
        (lit(T0) + (k / nbl).cast("long") * Dt).as("TIME"),
        col("ANTENNA1"), col("ANTENNA2"),
        pmod(xxhash64(sd, k, lit(1)), lit(3)).cast("int").as("FIELD_ID"),
        pmod(xxhash64(sd, k, lit(2)), lit(2)).cast("int").as("DATA_DESC_ID"),
        uvw.as("UVW"),
        data.as("DATA"),
        flagCube(shape, baseFlag(k, seed)).as("FLAG"))
      .write.mode("overwrite").parquet(path)
  }
}
