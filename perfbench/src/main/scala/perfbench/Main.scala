package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload, one seed, one client.
  *
  * {{{
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *        [--out DIR]
  * }}}
  *
  * Load model: a closed loop with a single client. Each run of the
  * workload's operation mix starts only after the previous one returned and
  * its outputs were checked; the loop runs until `S` seconds have passed.
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * alternates untraced and traced runs and prints the per-layer metrics
  * (medians over the traced runs) and the tracing overhead. The last line
  * of stdout is one JSON object; the exit code is 1 if any output check
  * failed or any run threw.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", out: Option[String] = None,
                        sizes: Workloads.Sizes = Workloads.Full)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t =>
      require(v == "0" || v == "1", s"--trace takes 0 or 1, got $v")
      parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--out" :: v :: t => parse(t, a.copy(out = Some(v)))
    case Nil =>
      require(Workloads.Names.contains(a.workload),
        s"--workload must be one of ${Workloads.Names.mkString(", ")}")
      require(a.work.nonEmpty, "--work DIR is required")
      a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** Median of a sample; NaN (printed as null) when it is empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Resets the resident-set high-water mark of this process (Linux). */
  private def resetPeakRss(): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
    catch { case NonFatal(_) => () }

  /** VmHWM of this process in MB (Linux), or 0 where unavailable. */
  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0d)
    } catch { case NonFatal(_) => 0d }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Time the hypervisor took from this machine's CPUs, in CPU-seconds
    * (Linux `/proc/stat` steal jiffies at USER_HZ = 100), or 0 elsewhere. */
  private def stolenSeconds(): Double =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().trim
      .split("\\s+")(8).toDouble / 100
    catch { case NonFatal(_) => 0d }

  /** A run counts as disturbed when the hypervisor took more than this share
    * of the machine's CPU time during it. On the shared 4-core box, quiet
    * runs lose under 2%; during a neighbour's burst runs lost 10–20% and
    * their wall time rose by 25–90%. */
  val MaxStolenShare = 0.05

  /** Extra runs the loop may make to replace disturbed ones. One: while the
    * host stays busy, further runs are disturbed too, and each one adds
    * 12-20 s to a benchmark run (see the time budget in README.md). */
  val MaxReruns = 1

  /** One run of the mix plus its check: (wall seconds, share of the
    * machine's CPU time stolen meanwhile, failures). */
  private def once(w: Workload): (Double, Double, Seq[String]) = {
    w.reset()
    System.gc()
    resetPeakRss()
    val stolen0 = stolenSeconds()
    val t0 = System.nanoTime()
    val out = try Right(Trace.span(Layers.Root)(w.iterate())) catch {
      case NonFatal(e) => Left(s"run threw ${e.getClass.getName}: ${e.getMessage}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val stolen = (stolenSeconds() - stolen0) / (wall * Runtime.getRuntime.availableProcessors())
    val problems = out match {
      case Left(err) => Seq(err)
      case Right(o) =>
        try w.check(o) catch {
          case NonFatal(e) => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")
        }
    }
    (wall, stolen, problems)
  }

  def run(a: Args): Int = {
    val (spark, sessionS) = seconds(session(a.work))
    val cores = spark.sparkContext.defaultParallelism
    try {
      // Warm-up: the whole mix once on tiny inputs of the same schema, so
      // class loading, JIT and Spark's first-query costs are paid before
      // anything is timed (checked like every other run).
      val warm = Workloads(a.workload, spark, s"${a.work}/warm", a.seed, Workloads.Tiny)
      val (warmProblems, warmS) = seconds {
        warm.generate(warm.inputs)
        warm.prepare()
        once(warm)._3
      }
      val w = Workloads(a.workload, spark, s"${a.work}/data", a.seed, a.sizes)
      // input set-up is timed three times and reported as the median; the
      // first copy of the inputs is the one the runs read
      val genS = (0 until 3).map { i =>
        val root = if (i == 0) w.inputs else s"${a.work}/data/setup$i"
        val (_, s) = seconds(w.generate(root))
        if (i > 0) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
        s
      }
      w.prepare()
      val setupS = sessionS + warmS + median(genS)
      System.err.println(f"[perfbench] session $sessionS%.3f s, warm-up $warmS%.3f s, " +
        f"inputs ${genS.map(x => f"$x%.3f").mkString("/")} s")

      var attempted = 1
      var failed = if (warmProblems.nonEmpty) 1 else 0
      val failures = ArrayBuffer.from(warmProblems.map(p => s"warm-up: $p"))
      val walls = ArrayBuffer.empty[Double]
      var disturbed = 0
      val tracedWalls = ArrayBuffer.empty[Double]
      val layers = ArrayBuffer.empty[Map[String, Double]]
      val recorders = ArrayBuffer.empty[Recorder]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      // Loop for --seconds, until there is an undisturbed untraced run (and
      // a traced one in traced mode); a disturbed run is replaced, at most
      // MaxReruns times, and wall_s is the median of the undisturbed runs.
      while (elapsed < a.seconds || failures.isEmpty &&
          (walls.isEmpty && disturbed <= MaxReruns || (a.trace && layers.isEmpty))) {
        // traced mode alternates untraced and traced runs: the untraced
        // ones give the baseline for the tracing overhead
        val traced = a.trace && i % 2 == 1
        val rec = if (traced) Some(new Recorder(spark)) else None
        rec.foreach { r => r.attach(); r.beginRun(i); Trace.recorder = rec }
        val (wall, stolen, problems) =
          try once(w) finally { Trace.recorder = None; rec.foreach(_.detach()) }
        attempted += 1
        val calm = stolen <= MaxStolenShare
        System.err.println(f"[perfbench] run $i%d${if (traced) " (traced)" else ""}: " +
          f"$wall%.3f s, ${stolen * 100}%.1f%% of CPU stolen${if (calm) "" else " (disturbed)"}")
        if (problems.nonEmpty) {
          failed += 1
          failures ++= problems.map(p => s"run $i: $p")
        } else if (traced) {
          tracedWalls += wall
          layers += Layers.metrics(rec.get, i, cores) + ("jvm.peak_rss_mb" -> peakRssMb())
          recorders ++= rec
        } else if (calm || disturbed >= MaxReruns) walls += wall
        else disturbed += 1
        i += 1
      }

      failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
      val metrics: Seq[(String, String, Double)] =
        if (!a.trace) {
          val wall = median(walls.toSeq)
          val live = w.liveTables
          Seq(("setup_s", "s", setupS), ("wall_s", "s", wall),
            ("user_mb_per_s", "MB/s", w.userBytes / 1e6 / wall),
            ("stored_bytes_per_user_byte", "ratio",
              live.map(t => w.diskBytes(t._1)).sum.toDouble / live.map(_._2).sum))
        } else {
          val overhead = median(tracedWalls.toSeq) - median(walls.toSeq)
          a.out.foreach(d => TraceFile.write(s"$d/trace-${a.workload}-seed${a.seed}.jsonl",
            recorders.toSeq))
          val unused = Layers.Units.map(_._1).filter(m =>
            m != "trace.overhead_s" && layers.forall(_(m) == 0d))
          if (unused.nonEmpty) println(s"[perfbench] per-layer metrics that read 0 on " +
            s"${a.workload} (layer not called, or no such event): ${unused.mkString(", ")}")
          println(f"[perfbench] traced runs: ${tracedWalls.size}, untraced: ${walls.size}, " +
            f"tracing overhead: $overhead%.4f s")
          Layers.Units.map { case (m, unit) =>
            (m, unit, if (m == "trace.overhead_s") overhead else median(layers.map(_(m)).toSeq))
          }
        }
      println(Json.result(failed == 0, attempted, failed, metrics))
      if (failed == 0) 0 else 1
    } finally spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv.toList)) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] error: $e")
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, String, Double)]): String =
    metrics.map { case (n, u, v) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}

/** Writes the traced runs' spans as JSON lines, one span a line, with the
  * Spark work attributed to each span. */
object TraceFile {
  def write(path: String, recs: Seq[Recorder]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try recs.foreach { r =>
      val kids = r.spans.toSeq.groupBy(_.parent).withDefaultValue(Nil)
      r.spans.foreach { s =>
        val t = r.spanTasks.getOrElse(s.id, new TaskSums)
        val jobs = r.jobs.values.count(_.span == s.id)
        val counts = s.counts.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
          .mkString("{", ", ", "}")
        out.println(s"""{"run": ${s.run}, "span": ${s.id}, "parent": ${s.parent}, """ +
          s""""name": ${Json.str(s.name)}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
          s""""self_s": ${Json.num(Layers.selfSeconds(s, kids(s.id)))}, "jobs": $jobs, """ +
          s""""tasks": ${t.tasks}, "task_run_s": ${Json.num(t.runNs / 1e9)}, """ +
          s""""counts": $counts}""")
      }
    } finally out.close()
  }
}
