package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Step-plan dumper: the PER-ITERATION / PER-ROUND plans of the
  * iterative operators (the final frames PlanDump writes are checkpoint
  * scans). Usage: `runMain graft.StepPlanDump <outDir> <tag>`; each plan
  * lands in `<outDir>/<step>_<tag>.txt`. Broadcast is DISABLED so the
  * dumped shapes are the 100 TB ones (at scale nothing here broadcasts).
  */
object StepPlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    def write(name: String, df: DataFrame, note: String): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        s"== $name ($tag) — $note ==\n(broadcast disabled: 100 TB join shapes)\n" + txt)
      System.err.println(s"[stepdump] wrote $name")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nodes = docs.select(col("doc_id").cast("long").as("node"))
    val nMod = nodes.count()
    val edges = Seq((7L, 3L), (13L, 5L), (29L, 11L)).map { case (k, c) =>
      nodes.select(col("node").as("src"),
        ((col("node") * k + c) % nMod).as("dst"))
    }.reduce(_ unionByName _)

    // pagerank: one iteration (r21 = fused contrib+base fold)
    locally {
      val e = ops.Graph.normalizedEdges(edges, "src", "dst", None)
      e.count()
      val ranks = e.select(col("node")).distinct()
        .withColumn("rank", lit(1.0 / nMod)).localCheckpoint()
      val step = ops.Graph.fusedStep(e, ranks,
        ranks.withColumn("__s", lit(1.0 / nMod)))
        .select(col("node"), col("__prev"),
          (lit(0.15) * col("__s") + lit(0.85) * col("c")).as("rank"))
      write("pagerank_iteration", step,
        "one power iteration: fused contribution+base aggregate")
      e.unpersist(false)
    }

    // connected components: one FastSV round (jumps + hook)
    locally {
      val cg = nodes.filter(col("node") + 7 < nMod)
        .select(col("node").as("src"), (col("node") + lit(7L)).as("dst"))
      val e0 = cg.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v")).distinct().localCheckpoint()
      val adj = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        .union(nodes.select(col("node").as("u"), col("node").as("v")))
        .repartition(col("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      adj.count()
      val f0 = nodes.select(col("node"), col("node").as("f")).localCheckpoint()
      write("components_round", ops.Graph.fastSVRound(adj, f0, jumps = 4),
        "one FastSV round: 4 pointer-jump joins + closed-adjacency min-hook")
      adj.unpersist(false)
    }

    // hits: one auth half-step (fused contribution+carry fold)
    locally {
      val simple = edges.filter(col("src") =!= col("dst")).distinct()
      val eSrc = simple.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      eSrc.count()
      val state = simple.select(col("src").as("node")).distinct()
        .withColumn("hub", lit(1.0)).withColumn("auth", lit(1.0))
        .localCheckpoint()
      write("hits_half_step", ops.Graph.hitsAuthStep(eSrc, state),
        "one fused auth half-step: contribution+carry fold, no update join")
      eSrc.unpersist(false)
    }

    // hyperball: one merge step (fused est/h carry)
    locally {
      val (e, _, _, hllMerge, init) =
        ops.Graph.hyperBallSetup(edges, "src", "dst", maxDepth = 4, logM = 7)
      val state = init.localCheckpoint()
      write("hyperball_step",
        ops.Graph.hyperBallStep(e, state, hllMerge, carryH = false),
        "one register-merge step with est carried on the aggregate")
      e.unpersist(false)
    }

    // bootstrap: the one aggregate (factored projections)
    locally {
      val d = docs.select(col("doc_id"), col("n_chars").cast("double").as("v"))
      write("bootstrap_aggregate",
        ops.Classifier.bootstrapAggregate(d, col("v"), "doc_id", 60),
        "the ONE no-explode aggregate over factored draw projections")
    }

    spark.stop()
  }
}
