package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests, at the tiny input size. Run with
  * `cd perfbench && sbt test`.
  */
class PerfbenchSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  /** The metric contract: BENCHMARK.json at the repository root. */
  private lazy val contract: JsonNode =
    json.readTree(new File("../BENCHMARK.json"))

  private def declared(kind: String): Map[String, String] =
    contract.get(kind).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap

  private def tempDir(): File = Files.createTempDirectory("perfbench").toFile

  /** Runs the benchmark main in-process; returns (exit code, last JSON line). */
  private def runMain(workload: String, seed: Long, trace: Boolean): (Int, JsonNode) = {
    val work = tempDir()
    val buf = new ByteArrayOutputStream()
    try {
      val code = Console.withOut(buf) {
        Main.run(Main.Args(workload = workload, seed = seed, seconds = 0, trace = trace,
          work = work.getPath, sizes = Workloads.Tiny))
      }
      val last = buf.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq.last
      (code, json.readTree(last))
    } finally FileUtils.deleteDirectory(work)
  }

  private def metrics(result: JsonNode): Map[String, String] =
    result.get("metrics").fields().asScala
      .map(e => e.getKey -> e.getValue.get("unit").asText()).toMap

  for (w <- Workloads.Names; trace <- Seq(false, true)) {
    val kind = if (trace) "per_layer" else "end_to_end"
    test(s"$w emits every $kind metric with its unit") {
      val (code, result) = runMain(w, seed = 1, trace)
      assert(code == 0)
      assert(result.get("correct").asBoolean())
      assert(result.get("failed").asInt() == 0)
      assert(result.get("attempted").asInt() >= 1)
      assert(metrics(result) == declared(kind))
      result.get("metrics").fields().asScala.foreach { e =>
        assert(e.getValue.get("value").isNumber, s"${e.getKey} has no numeric value")
      }
      if (!trace) assert(result.get("metrics").fields().asScala
        .forall(_.getValue.get("value").asDouble() > 0))
    }
  }

  test("two seeds give different inputs and the same metric names") {
    val (_, a) = runMain("ms_read", seed = 1, trace = false)
    val (_, b) = runMain("ms_read", seed = 2, trace = false)
    assert(metrics(a).keySet == metrics(b).keySet)
    val spark = session()
    try {
      val dir = tempDir()
      def inputs(seed: Long, name: String) = {
        val w = Workloads(name, spark, s"$dir/$seed-$name", seed, Workloads.Tiny)
        w.generate(w.inputs)
        Workloads.summary(spark.read.parquet(w.inputs + "/" +
          new File(w.inputs).list().head))
      }
      for (name <- Workloads.Names) {
        val (n1, sum1) = inputs(1, name)
        val (n2, sum2) = inputs(2, name)
        assert(n1 == n2, s"$name: both seeds have the same shape")
        assert(sum1 != sum2, s"$name: seeds 1 and 2 gave identical inputs")
      }
      FileUtils.deleteDirectory(dir)
    } finally spark.stop()
  }

  test("the ms_writeback check catches one flipped FLAG cell") {
    val spark = session()
    val dir = tempDir()
    try {
      val w = Workloads("ms_writeback", spark, dir.getPath, 7, Workloads.Tiny)
      w.generate(w.inputs)
      w.prepare()
      w.reset()
      val out = w.iterate()
      assert(w.check(out).isEmpty)
      // flip FLAG[0][0] of the row with the smallest TIME, ANTENNA1, ANTENNA2
      val compacted = s"$dir/wb/compacted"
      val t = spark.read.parquet(compacted)
      val first = t.orderBy(Workloads.Index.map(col): _*).head()
      val isFirst = Workloads.Index.map(c => col(c) === first.getAs[Any](c)).reduce(_ && _)
      val flipped = t.withColumn("FLAG", when(isFirst, expr(
        "transform(FLAG, (r, i) -> transform(r, (x, j) -> IF(i = 0 AND j = 0, NOT x, x)))"))
        .otherwise(col("FLAG")))
      flipped.write.parquet(s"$dir/flipped")
      FileUtils.deleteDirectory(new File(compacted))
      FileUtils.moveDirectory(new File(s"$dir/flipped"), new File(compacted))
      val problems = w.check(out)
      assert(problems.exists(_.startsWith("rows whose FLAG differs after compaction: got 1")),
        problems.mkString("\n"))
      assert(problems.exists(_.startsWith("compacted checksum vs overlay checksum")))
    } finally {
      spark.stop()
      FileUtils.deleteDirectory(dir)
    }
  }

  test("the ms_read check catches a wrong ROWID, component label and rank") {
    val spark = session()
    val dir = tempDir()
    try {
      val w = Workloads("ms_read", spark, dir.getPath, 7, Workloads.Tiny)
        .asInstanceOf[MsRead]
      w.generate(w.inputs)
      w.prepare()
      val (groups, fields, labels, ranks) = w.iterate()
      assert(w.check((groups, fields, labels, ranks)).isEmpty)
      val (key, (n, vis, rowIds)) = groups.head
      val badRowIds = groups.updated(key, (n, vis, rowIds ^ 1L))
      assert(w.check((badRowIds, fields, labels, ranks))
        .exists(_.startsWith(s"ROWID checksum of dataset $key")))
      val (node, label) = labels.head
      assert(w.check((groups, fields, labels.updated(node, label + 1), ranks))
        .exists(_.startsWith("antenna components vs union-find")))
      val (v, rank) = ranks.head
      assert(w.check((groups, fields, labels, ranks.updated(v, rank * 1.001)))
        .exists(_.startsWith(s"PageRank of antenna $v")))
    } finally {
      spark.stop()
      FileUtils.deleteDirectory(dir)
    }
  }

  test("self time subtracts the union of child spans") {
    val parent = Span(0, "p", -1, 0, start = 0L, startMs = 0L, end = 100L)
    val kids = Seq(Span(1, "a", 0, 0, 10L, 0L, 40L), Span(2, "b", 0, 0, 30L, 0L, 50L),
      Span(3, "c", 0, 0, 90L, 0L, 120L))
    // children cover [10, 50] and [90, 100] of [0, 100]: 50 ns
    assert(Layers.selfSeconds(parent, kids) == 50 / 1e9)
  }

  private def session(): SparkSession = Main.session(tempDir().getPath)
}
