package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The query names a comma-separated filter selects, in filter order.
    * Refuses an empty filter and any name that is not in
    * `SparkEntry.queries`, naming it, so a typo or a renamed query can
    * never read as a clean run of zero queries. Also the query filter of
    * [[Bench]].
    */
  def selectQueries(filter: String): Seq[String] = {
    val names = filter.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"empty query filter: '$filter'")
    names
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration on a few queries (the driver always runs the full roster)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(selectQueries(f).toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // micro-second parquet timestamps = what DuckDB emits (vs INT96)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Every name in SparkEntry.queries MUST leave a trace in outDir: a
    // query that throws writes an output dir containing only _ERROR.txt
    // (no parquet), which the compare records as a failure. Without this a
    // pass-to-crash regression surfaces as silent ABSENCE from the
    // correctness artifact — exactly how round 11 recorded 10 crashed
    // events queries as all-green.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // progress marker so engine warnings in the log attribute to a query
      System.err.println(s"[verify] running $name")
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] done $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // clear any parquet left by a partially-successful earlier write
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure roster (empty object = clean run) so the
    // driver can attach err messages to the correctness artifact
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
