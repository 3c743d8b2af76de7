package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** r21 optimization probe: time a SELECTED set of bench queries with the
  * EXACT session config and min-of-N methodology of [[Bench]], without
  * the calibration anchors or the full-roster sweep — the fast inner
  * loop for before/after measurement of one operator at a time
  * (guide §1: measure, change one thing, re-measure).
  *
  * Usage: runMain graft.OptProbe q_components q_pagerank ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32),
  * SPARK_GRAFT_BENCH_ITERS (5), SPARK_GRAFT_PROBE_PLAN=1 to dump the
  * formatted plan of each query's final frame.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    val dumpPlan = sys.env.get("SPARK_GRAFT_PROBE_PLAN").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("lineitem", "orders", "documents", "embeddings", "events").foreach { t =>
      try {
        if (t == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      } catch { case NonFatal(_) => }
    }
    // the bench times OPERATOR overrides for three entries (pivot
    // betweenness, HLL hyperball, raw minhash) — probe the same thing
    val qs = SparkEntry.queries ++ Bench.operatorOverrides
    // fail fast on misspelled names: silently dropping them makes a typo'd
    // probe run read like a valid before/after measurement (r21 advice)
    val unknown = args.filterNot(qs.contains)
    require(unknown.isEmpty,
      s"OptProbe: unknown query name(s): ${unknown.mkString(", ")}")
    val names = args.filter(qs.contains)
    // one discarded warmup pass (the Bench protocol)
    names.foreach { n => try qs(n)(spark, sfDir).count() catch { case NonFatal(_) => () } }
    val out = names.map { name =>
      spark.sparkContext.setJobDescription(name)
      val times = (0 until iters).map { _ =>
        val t0 = System.nanoTime()
        qs(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      if (dumpPlan)
        println(s"===== PLAN $name =====\n" +
          qs(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      (name, times)
    }
    // same-run machine-speed anchor as Bench: normalized min = min /
    // calib_par — the cross-run comparison number (raw seconds on this
    // box swing ±30% between JVM sessions)
    val calibPar = Bench.calibrateParallel(cpus.toInt)
    println("PROBE RESULTS calib_par=" + f"$calibPar%.4f")
    out.foreach { case (name, times) =>
      println(f"$name min=${times.min}%.3f norm=${times.min / calibPar}%.2f " +
        f"all=[${times.map(t => f"$t%.3f").mkString(", ")}]")
    }
    spark.stop()
  }
}
