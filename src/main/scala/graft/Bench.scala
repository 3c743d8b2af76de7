package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Per-round benchmark main. Runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Headline set = the
  * scale-relevant operators (scan-agg, joins, top-k, windows, dedup, ANN,
  * text analysis) — excludes the small write-roundtrip parity queries whose
  * cost is file churn, not query execution.
  *
  * Usage: runMain graft.Bench [q_a,q_b,...]. The optional argument is
  * [[Verify.selectQueries]]'s filter: it times only the named queries
  * (any name in `SparkEntry.queries`) with the same protocol, and `value`
  * and `roster21` sum over what ran.
  */
object Bench {
  private val headline = Seq(
    "q_agg_stats", "q_agg_rollup", "q_j1_lookup", "q_join_smj",
    "q_join_semi", "q_join_asof", "q_o4_topk", "q_w1_window",
    "q_stream_tumbling", "q_sessionize", "q_dedup_exact", "q_dedup_minhash",
    "q_dedup_ngram", "q_dedup_embed", "q_ann_topk", "q_text_quality",
    "q_text_fingerprint", "q_p4_expr", "q_complex", "q_s5_tensor",
    "q_scalar_json")

  /** r14 roster widening: the iterative graph family and the windowed
    * co-occurrence scan — the likeliest future regression surface, until
    * now perf-tracked only by the 8× probes. Kept OUT of `headline` so
    * `roster21` stays comparable with every prior round's gate line;
    * the JSON's `value` is the full (headline ++ extended) total.
    *
    * Bench contracts for the iterative entries (the knob is pinned, so a
    * future delta is attributable to per-iteration plan cost):
    *  - q_pagerank runs EXACTLY 10 iterations (tol = 0). A tol-based
    *    early stop was considered and rejected for the bench: the 3-map
    *    probe graph is regular, so convergence lands after ~1 iteration
    *    and the roster would lose its iterative-loop signal — 10 fixed
    *    rounds keep total = 10 × per-iteration cost.
    *  - q_communities runs exactly 8 LPA rounds (maxIters = 8 on a
    *    graph that churns the full budget), q_betweenness benches the
    *    64-pivot form at depth 3, q_harmonic_hyperball depth 4 / logM 7.
    *
    * r15 widening: betweenness (pivot form — the 100 TB path), LPA
    * communities, and connected components join the roster; the
    * evaluation leg contributes its two heaviest shapes — q_auc (the
    * distinct-score prefix window) and q_bootstrap (60 replicate sums
    * = 120 generated md5+CASE codegen columns in one aggregate; its
    * cost is the codegen constant, which a plan regression would
    * inflate).
    */
  private val extended = Seq(
    "q_pagerank", "q_harmonic_hyperball", "q_cooccurrence",
    "q_betweenness", "q_communities", "q_components",
    "q_auc", "q_bootstrap")

  private[graft] val roster: Seq[String] = headline ++ extended

  /** The bench times OPERATORS. Where the CORRECTNESS entry is a derived
    * quality check that also runs an exact baseline (q_dedup_minhash runs
    * ngramJaccardPairs + four audit aggregations), substitute the raw
    * operator here so the number measures the engine, not the harness.
    */
  /** The SAME 3-multiplier map graph both graph overrides time — shared
    * so the "on the same graph" comparability between the harmonic and
    * betweenness bench entries cannot drift.
    */
  private def probeGraph(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val nodes = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("node"))
    val nMod = nodes.count()
    Seq((7L, 3L), (13L, 5L), (29L, 11L)).map { case (k, c) =>
      nodes.select(col("node").as("src"),
        ((col("node") * k + c) % nMod).as("dst"))
    }.reduce(_ unionByName _)
  }

  private val operatorOverrides: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_dedup_minhash" -> ((s, dir) =>
        graft.ops.Dedup.minHashDedup(
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
          threshold = 0.6)),
      // the gated query also runs the O(n·ball) EXACT baseline for its
      // calibration bands — the bench times the HLL operator alone (the
      // 100 TB path), on the same 3-multiplier graph construction
      "q_harmonic_hyperball" -> ((s, dir) =>
        graft.ops.Graph.harmonicCentralityHyperBall(probeGraph(s, dir),
          "src", "dst", maxDepth = 4, logM = 7)),
      // the gated q_betweenness runs the EXACT all-sources form (its
      // oracle replays every source); the bench times the 64-pivot
      // Brandes–Pich form on the same graph — the 100 TB scale path,
      // SAME code with the source set restricted
      "q_betweenness" -> ((s, dir) => {
        val piv = s.range(64).select(
          (org.apache.spark.sql.functions.col("id") * 7L).as("s"))
        graft.ops.Graph.betweennessCentrality(probeGraph(s, dir),
          "src", "dst", maxDepth = 3, pivots = Some(piv))
      }))

  /** The fixed, data-independent CPU loop (LCG + fp math) behind both
    * calibration anchors. The sink defeats dead-code elimination.
    */
  private val calibSink = new java.util.concurrent.atomic.AtomicLong()
  private def lcgLoop(): Unit = {
    var acc = 1234567L
    var fp = 0.0
    var i = 0
    while (i < 20000000) {
      acc = acc * 6364136223846793005L + 1442695040888963407L
      fp += math.sqrt((acc >>> 33).toDouble)
      i += 1
    }
    calibSink.addAndGet(java.lang.Double.doubleToLongBits(fp) ^ acc)
  }

  /** Machine-speed anchor: the loop on one thread, min of 3. Benches run
    * on a fresh VM each round, and identical code has drifted a uniform
    * ~1.2× between rounds (r7→r9, r9→r10: every query, including
    * untouched pure-codegen scalar ops, moved together on an idle
    * machine) — cross-round comparisons should read `value_norm`
    * (= value / calib_par), not raw seconds, before calling anything a
    * code regression.
    */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      lcgLoop()
      (System.nanoTime() - t0) / 1e9
    }
    once(); (0 until 3).map(_ => once()).min
  }

  /** Contention-aware anchor: the same loop on `threads` threads at once,
    * min of 3 (wall-clock until ALL finish). A single-thread calib cannot
    * see 32-way effects — shared turbo/frequency budget, SMT siblings,
    * memory bandwidth, a noisy co-tenant — which is exactly what moved
    * the r8 and r10 "uniform drift" rounds while `calib` barely moved
    * (~5% of a ~20% shift). On an uncontended machine this tracks the
    * single-thread time; under contention it inflates with the queries.
    */
  private def calibrateParallel(threads: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(_ => new Thread(() => lcgLoop()))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once(); (0 until 3).map(_ => once()).min
  }

  /** Memory-bandwidth anchor (r18 — the calibration blind spot r17
    * MEASURED: the LCG loop is register/ALU-bound, so it cannot see
    * memory-subsystem drift, and BASELINE.md r17 recorded every query
    * sliding ~20% while calib_par read flat 0.082–0.086 — and
    * calib_par itself swinging 45% across one idle triple). This
    * streams a fixed 256 MiB long array (far past any L3 on this VM
    * class) with all `threads` workers summing disjoint contiguous
    * blocks, 48 sweeps per sample (≈12 GB of traffic — the first r18
    * triple ran 8 sweeps and the ~20 ms sample jittered ±40%, so the
    * sample is sized to ~10× that), min of 3 samples (wall-clock until
    * ALL finish): a pure aggregate-read-bandwidth number in seconds
    * that inflates exactly when the memory subsystem (or a co-tenant
    * saturating it) is the thing that slowed the queries down. The
    * interpretation contract (BASELINE.md) can now pick whichever
    * anchor tracks query cost this round instead of trusting the ALU
    * loop alone.
    */
  private def calibrateMem(threads: Int): Double = {
    val n = 32 * 1024 * 1024 // 256 MiB of longs
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = i * 6364136223846793005L; i += 1 }
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          val lo = (n.toLong * t / threads).toInt
          val hi = (n.toLong * (t + 1) / threads).toInt
          var acc = 0L
          var sweep = 0
          while (sweep < 48) {
            var j = lo
            while (j < hi) { acc += arr(j); j += 1 }
            sweep += 1
          }
          calibSink.addAndGet(acc)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once(); (0 until 3).map(_ => once()).min
  }

  /** 1-minute load average before the bench touches Spark. Advisory, not
    * proof: the 1-min window still carries anything that ran on this VM
    * in the previous minute (a compile, a probe — including this
    * session's own), and a co-tenant arriving mid-run is never sampled.
    * A clean reading on a dedicated VM is meaningful; a dirty one says
    * "prefer value_norm over raw seconds this round", not "discard".
    */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** Locale-independent fixed-point formatting: the f-interpolator uses
    * the default locale, which renders 0.043 as "0,043" on a comma-
    * decimal JVM and corrupts the JSON line.
    */
  private def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    require(args.length <= 1, "usage: graft.Bench [q_a,q_b,...]")
    val names = Verify.selectQueries(args.headOption.getOrElse(roster.mkString(",")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // idle gate: the r12 record improved yet flagged itself contaminated
    // (leftover load from the session's own compiles). The 1-min loadavg
    // decays on its own, so WAIT for it to drain before timing anything —
    // bounded (default 300 s, SPARK_GRAFT_BENCH_IDLE_WAIT to tune/0 to
    // disable) so a genuinely busy box still produces a (flagged) record
    // rather than hanging the round.
    val idleWaitMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_IDLE_WAIT", "300").toLong
    // the "idle" threshold scales with the box: 1 core of residual load on
    // a 32-way machine is noise-level for a 32-thread run, so gate at
    // max(1.0, 3% of the requested cores)
    val idleThreshold = math.max(1.0, cpus.toInt * 0.03)
    val idleT0 = System.nanoTime()
    var gateLoad = loadAvg()
    while (gateLoad > idleThreshold &&
           (System.nanoTime() - idleT0) / 1e9 < idleWaitMax) {
      // one read per iteration: the logged value IS the gated value
      System.err.println(
        f"[bench] idle gate: loadavg $gateLoad%.2f > $idleThreshold%.2f, waiting...")
      Thread.sleep(15000)
      gateLoad = loadAvg()
    }
    // read BEFORE Spark spins up its own threads: any load already on the
    // box is a co-tenant, and the run should be flagged
    val load0 = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the JVM + parquet footers once so query timings measure the
    // queries, not session bring-up
    Seq("lineitem", "orders", "documents", "embeddings", "events").foreach { t =>
      try {
        if (t == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      } catch { case NonFatal(_) => }
    }
    // min of N runs per query: single-shot numbers at these absolute times
    // (sub-second per query) are dominated by JIT/GC noise — the r3→r4
    // q_dedup_ngram "regression" was exactly that, drifting 3.1→4.4 s with
    // zero code change. The min is the stable engine cost. Default raised
    // 3→5 in r9: min-of-3 left ~25% of JIT warm-up on the table (the r8
    // "uniform −12% drift" vanished at min-of-6, which came in UNDER r7).
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    val qs = SparkEntry.queries ++ operatorOverrides
    // r20: one full DISCARDED warmup pass over the whole roster before
    // anything is timed. Rationale (BASELINE.md r19/r20): two
    // consecutive OFFICIAL readings sat at the 60–90 envelope ceiling
    // (87.0, 90.75) while same-code fresh-session warm triples on the
    // same VM read 81–83 — the end-of-session artifact samples a box
    // churned by hours of build/test (cold page cache, unJITted code
    // paths), and min-of-5 per query cannot recover it because the
    // FIRST query's iterations all run on the cold box. A single
    // untimed sweep touches every query's code path and data before
    // the measured loop starts. SPARK_GRAFT_BENCH_WARMUP=0 disables.
    val warmupPasses =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    (0 until warmupPasses).foreach { _ =>
      names.foreach { name =>
        try qs(name)(spark, sfDir).count()
        catch { case NonFatal(_) => () } // the timed loop reports it
      }
    }
    // a query that crashes is NOT a fast query: time only successful
    // iterations, record crashed-every-iteration queries as "failed" in
    // the JSON (never folded into the total), and exit nonzero so the
    // driver records rc != 0 — round 11 recorded four dead queries as
    // ~0.06 s failure-overhead timings and deflated the headline total.
    val results = names.map { name =>
      var nFail = 0
      val times = (0 until iters).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { qs(name)(spark, sfDir).count(); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            nFail += 1
            false
          }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      (name, if (times.nonEmpty) Some(times.min) else None, nFail)
    }
    val failed = results.collect { case (k, None, _) => k }
    // intermittent crashers are NOT healthy either: min-of-survivors hides
    // that the surviving samples are unwarmed — surface them and fail rc
    val flaky = results.collect { case (k, Some(_), f) if f > 0 => k -> f }
    val timed = results.collect { case (k, Some(v), _) => k -> v }
    val qjson = results.map {
        case (k, Some(v), _) => "\"" + k + "\":" + fmt(v, 3)
        case (k, None, _)    => "\"" + k + "\":\"failed\""
      }.mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    // the r2..r13 gate line (14.98 s at sf0.1) was recorded on the
    // 21-query roster — keep that subtotal first-class so cross-round
    // comparisons never mix rosters
    val total21 = timed.collect {
      case (k, v) if headline.contains(k) => v
    }.sum
    val calib = calibrate()
    val calibPar = calibrateParallel(cpus.toInt)
    val calibMem = calibrateMem(cpus.toInt)
    // value_norm divides out machine speed under full-width load: read
    // THIS across rounds (dimensionless; identical code on a fast/slow VM
    // lands on the same number). contaminated = load already present at
    // start (advisory — see loadAvg).
    val norm = total / calibPar
    // roster21_norm is the cross-round comparison number for the GATE
    // roster: roster21 seconds divided by the same-run parallel
    // calibration, so the gate line reads in normalized units with no
    // manual arithmetic (BASELINE.md's interpretation contract)
    val norm21 = total21 / calibPar
    val contaminated = load0 > 1.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flaky.map { case (k, f) => "\"" + k + "\":" + f }
      .mkString("{", ",", "}")
    // per-query normalized values (seconds / calib_par, the same
    // normalization as roster21_norm) so cross-round PER-QUERY
    // comparisons need no manual arithmetic
    val qnormJson = timed.map { case (k, v) =>
        "\"" + k + "\":" + fmt(v / calibPar, 2)
      }.mkString("{", ",", "}")
    val jsonLine = s"""{"metric":"total","value":$total,"unit":"sec","roster21":${fmt(total21, 3)},"queries":$qjson,"queries_norm":$qnormJson,"failed":$failedJson,"flaky_iters":$flakyJson,"calib":${fmt(calib, 3)},"calib_par":${fmt(calibPar, 3)},"calib_mem":${fmt(calibMem, 3)},"value_norm":${fmt(norm, 2)},"roster21_norm":${fmt(norm21, 2)},"loadavg":${fmt(load0, 2)},"contaminated":$contaminated,"sf":"$sfDir"}"""
    println(jsonLine)
    // r22 driver-contract fix: the driver's parser has read `parsed:null`
    // since r19 because sbt's logger wrapped this line as "[info] {...}".
    // build.sbt now sets `run / outputStrategy := StdoutOutput` so the
    // println above reaches the driver unwrapped; additionally persist the
    // identical line to bench_out.json so the record survives any log
    // mangling. Same fields, same values — measurement is unchanged.
    val out = new java.io.File(sys.props("user.dir"), "bench_out.json")
    try {
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(jsonLine) finally w.close()
      System.err.println(s"[bench] wrote ${out.getAbsolutePath}")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] ${out.getAbsolutePath} write failed: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty || flaky.nonEmpty) sys.exit(1)
  }
}
