package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** r21 plan-artifact dumper: writes the `.explain("formatted")` output of
  * each named query's FINAL frame to `<outDir>/<name>_<tag>.txt` — the
  * before/after evidence files under plans/r21. For the iterative
  * operators the final frame is a checkpointed-RDD scan (the loop runs at
  * construction time), so the per-iteration plan claims are additionally
  * pinned by PlanAuditSpec; the header of each file says which.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> q1 q2 ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries ++ Bench.operatorOverrides
    for (n <- names if qs.contains(n)) {
      try {
        val df = qs(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          s"== $n ($tag) — final-frame explain(formatted) at sf0.01 ==\n" +
            txt)
        System.err.println(s"[plandump] wrote $n")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
