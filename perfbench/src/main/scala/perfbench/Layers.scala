package perfbench

/** Per-layer metrics of one traced run of a workload's mix, computed from
  * the recorder's spans and the Spark metrics attributed to them.
  *
  * Layers are the engine modules the benchmark calls (`api.MSTable`,
  * `api.MSWrite`, `api.ConvertApp`, `expr`, `sources.zarr`, `ops.Graph`) and
  * the Spark execution layers beneath them (`spark.plan`, `spark.sched`,
  * `spark.exec`, `spark.shuffle`, `spark.scan`/`spark.output`, `spark.mem`).
  * A metric of a layer the workload does not call reads 0.
  */
object Layers {

  /** Name → unit of every per-layer metric, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "api.MSTable.read.s" -> "s", "api.MSTable.read.jobs" -> "count",
    "api.MSTable.datasets" -> "count", "api.MSTable.dataset_action.s" -> "s",
    "api.MSTable.shuffle_bytes_per_dataset" -> "bytes",
    "api.MSTable.rows_scanned_per_row_out" -> "ratio",
    "api.MSTable.readDF.s" -> "s",
    "api.MSTable.withRowId.s" -> "s", "api.MSTable.withRowId.jobs" -> "count",
    "expr.toSql.s" -> "s",
    "api.MSWrite.updateTable.s" -> "s", "api.MSWrite.updateTable.jobs" -> "count",
    "api.MSWrite.writeFragment.s" -> "s", "api.MSWrite.readFragment.s" -> "s",
    "api.MSWrite.fragment_action.s" -> "s", "api.MSWrite.compactFragments.s" -> "s",
    "api.MSWrite.bytes_written" -> "bytes",
    "api.MSWrite.rows_rewritten_per_row_changed" -> "ratio",
    "api.ConvertApp.to_zarr.s" -> "s", "api.ConvertApp.to_parquet.s" -> "s",
    "sources.zarr.write.tasks" -> "count", "sources.zarr.write.core_util" -> "ratio",
    "sources.zarr.scan.s" -> "s", "sources.zarr.bytes_per_user_byte" -> "ratio",
    "ops.Graph.pageRank.s" -> "s", "ops.Graph.pageRank.jobs" -> "count",
    "ops.Graph.connectedComponents.s" -> "s",
    "ops.Graph.connectedComponents.jobs" -> "count", "ops.Graph.s_per_job" -> "s",
    "spark.plan.s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks.failed" -> "count", "spark.sched.driver_idle_s" -> "s",
    "spark.sched.delay_s" -> "s",
    "spark.exec.run_s" -> "s", "spark.exec.cpu_s" -> "s", "spark.exec.gc_s" -> "s",
    "spark.exec.core_util" -> "ratio",
    "spark.shuffle.write_bytes" -> "bytes", "spark.shuffle.read_bytes" -> "bytes",
    "spark.shuffle.fetch_wait_s" -> "s", "spark.shuffle.spill_bytes" -> "bytes",
    "spark.scan.bytes" -> "bytes", "spark.scan.rows" -> "count",
    "spark.output.bytes" -> "bytes", "spark.output.rows" -> "count",
    "spark.mem.peak_exec_mb" -> "MB", "spark.storage.peak_mb" -> "MB",
    "jvm.peak_rss_mb" -> "MB", "write_amp" -> "ratio", "trace.overhead_s" -> "s")

  val Root = "iteration"

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0d else a / b

  /** Seconds of `[start, end]` covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], start: Long, end: Long): Long = {
    var total = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double =
    (s.end - s.start - covered(children.map(c => (c.start, c.end)), s.start, s.end)) / 1e9

  /** Every per-layer metric of run `run` except `jvm.peak_rss_mb`, which
    * [[Main]] reads from the OS, and `trace.overhead_s`, which needs the
    * untraced runs too. */
  def metrics(rec: Recorder, run: Int, cores: Int): Map[String, Double] = {
    val spans = rec.spans.filter(_.run == run).toSeq
    val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
    def subtree(s: Span): Seq[Span] = s +: kids(s.id).flatMap(subtree)
    def named(ns: String*): Seq[Span] = spans.filter(s => ns.contains(s.name))
    def secs(ns: String*): Double = named(ns: _*).map(_.seconds).sum
    def self(ns: String*): Double = named(ns: _*).map(s => selfSeconds(s, kids(s.id))).sum
    def ids(ns: String*): Set[Int] = named(ns: _*).flatMap(subtree).map(_.id).toSet
    def jobs(ns: String*): Seq[JobRec] = {
      val in = ids(ns: _*)
      rec.jobs.values.filter(j => in.contains(j.span)).toSeq
    }
    def tasks(ns: String*): TaskSums = {
      val t = new TaskSums
      ids(ns: _*).foreach(i => rec.spanTasks.get(i).foreach(t.add))
      t
    }
    def counted(c: String, ns: String*): Double =
      named(ns: _*).flatMap(_.counts.get(c)).sum

    val root = named(Root).head
    val wall = root.seconds
    val all = tasks(Root)
    val allJobs = jobs(Root)
    val msTable = Seq("api.MSTable.read", "api.MSTable.dataset_action")
    val datasets = counted("datasets", "api.MSTable.read")
    val msWrite = Seq("api.MSWrite.updateTable", "api.MSWrite.writeFragment",
      "api.MSWrite.compactFragments")
    val changed = counted("bytes_changed", msWrite ++ Seq(
      "api.ConvertApp.to_zarr", "api.ConvertApp.to_parquet"): _*)
    val rowsChanged = counted("rows_changed",
      "api.MSWrite.updateTable", "api.MSWrite.writeFragment")
    val zarrStore = counted("zarr_store_bytes", "api.ConvertApp.to_zarr")
    val zarrJobs = jobs("api.ConvertApp.to_zarr")
    val zarrTasks = tasks("api.ConvertApp.to_zarr")
    val graph = Seq("ops.Graph.pageRank", "ops.Graph.connectedComponents")
    val mb = 1024d * 1024d
    Map(
      "api.MSTable.read.s" -> secs("api.MSTable.read"),
      "api.MSTable.read.jobs" -> jobs("api.MSTable.read").size.toDouble,
      "api.MSTable.datasets" -> datasets,
      "api.MSTable.dataset_action.s" -> secs("api.MSTable.dataset_action"),
      "api.MSTable.shuffle_bytes_per_dataset" ->
        ratio(tasks(msTable: _*).shuffleWrite.toDouble, datasets),
      "api.MSTable.rows_scanned_per_row_out" -> ratio(tasks(msTable: _*).inRows.toDouble,
        counted("rows_out", "api.MSTable.dataset_action")),
      "api.MSTable.readDF.s" -> self("api.MSTable.readDF"),
      "api.MSTable.withRowId.s" -> secs("api.MSTable.withRowId"),
      "api.MSTable.withRowId.jobs" -> jobs("api.MSTable.withRowId").size.toDouble,
      "expr.toSql.s" -> self("expr.toSql", "expr.withExpr"),
      "api.MSWrite.updateTable.s" -> secs("api.MSWrite.updateTable"),
      "api.MSWrite.updateTable.jobs" -> jobs("api.MSWrite.updateTable").size.toDouble,
      "api.MSWrite.writeFragment.s" -> secs("api.MSWrite.writeFragment"),
      "api.MSWrite.readFragment.s" -> secs("api.MSWrite.readFragment"),
      "api.MSWrite.fragment_action.s" -> secs("api.MSWrite.fragment_action"),
      "api.MSWrite.compactFragments.s" -> secs("api.MSWrite.compactFragments"),
      "api.MSWrite.bytes_written" -> tasks(msWrite: _*).outBytes.toDouble,
      "api.MSWrite.rows_rewritten_per_row_changed" ->
        ratio(tasks(msWrite: _*).outRows.toDouble, rowsChanged),
      "api.ConvertApp.to_zarr.s" -> secs("api.ConvertApp.to_zarr"),
      "api.ConvertApp.to_parquet.s" -> secs("api.ConvertApp.to_parquet"),
      "sources.zarr.write.tasks" -> zarrJobs.lastOption
        .flatMap(j => j.stages.maxOption.flatMap(rec.stageTasks.get)).getOrElse(0).toDouble,
      "sources.zarr.write.core_util" -> ratio(zarrTasks.runNs / 1e9,
        secs("api.ConvertApp.to_zarr") * cores),
      "sources.zarr.scan.s" -> secs("sources.zarr.scan"),
      "sources.zarr.bytes_per_user_byte" -> ratio(zarrStore,
        counted("bytes_changed", "api.ConvertApp.to_zarr")),
      "ops.Graph.pageRank.s" -> secs("ops.Graph.pageRank"),
      "ops.Graph.pageRank.jobs" -> jobs("ops.Graph.pageRank").size.toDouble,
      "ops.Graph.connectedComponents.s" -> secs("ops.Graph.connectedComponents"),
      "ops.Graph.connectedComponents.jobs" ->
        jobs("ops.Graph.connectedComponents").size.toDouble,
      "ops.Graph.s_per_job" -> ratio(secs(graph: _*), jobs(graph: _*).size),
      "spark.plan.s" -> rec.planNsIn(root) / 1e9,
      "spark.jobs" -> allJobs.size.toDouble,
      "spark.stages" -> rec.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.tasks.failed" -> all.failed.toDouble,
      "spark.sched.driver_idle_s" -> (wall - covered(
        allJobs.map(j => (j.startMs * 1000000L, j.endMs * 1000000L)),
        0L, Long.MaxValue) / 1e9),
      "spark.sched.delay_s" -> all.schedDelayMs / 1e3,
      "spark.exec.run_s" -> all.runNs / 1e9,
      "spark.exec.cpu_s" -> all.cpuNs / 1e9,
      "spark.exec.gc_s" -> all.gcMs / 1e3,
      "spark.exec.core_util" -> ratio(all.runNs / 1e9, wall * cores),
      "spark.shuffle.write_bytes" -> all.shuffleWrite.toDouble,
      "spark.shuffle.read_bytes" -> all.shuffleRead.toDouble,
      "spark.shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "spark.shuffle.spill_bytes" -> all.spill.toDouble,
      "spark.scan.bytes" -> all.inBytes.toDouble,
      "spark.scan.rows" -> all.inRows.toDouble,
      "spark.output.bytes" -> all.outBytes.toDouble,
      "spark.output.rows" -> all.outRows.toDouble,
      "spark.mem.peak_exec_mb" -> all.peakExecBytes / mb,
      "spark.storage.peak_mb" -> rec.storagePeak / mb,
      "write_amp" -> ratio(all.outBytes + zarrStore, changed))
  }
}
