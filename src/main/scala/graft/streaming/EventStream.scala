package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` table.
  *
  * The reference has no streaming engine (SURVEY §2.9) — its closest analog
  * is the katdal (time, chan, corrprod) archive adapter (S12). This module
  * is the Spark-first extension: the same transforms run identically on
  * `readStream` (incremental, watermarked) and on a batch `DataFrame`,
  * which is how the oracle checks them — every builder below takes a
  * generic DataFrame, so `batch parity == streaming semantics`.
  */
object EventStream {

  /** Normalize the events `ts` column to session-UTC TimestampType.
    * events.parquet has shipped with two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (readable only as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain timestamp[us]
    * (read as TIMESTAMP_NTZ). Both land on the same µs instants as DuckDB's
    * `CAST(ts AS TIMESTAMP)` when the session timezone is UTC. Works on
    * batch and streaming frames alike (pure projection).
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  /** Batch read of the events table with `ts` normalized (see normalizeTs). */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Tumbling-window counts/sums per event_type with a watermark for state
    * eviction — the canonical streaming aggregation. Works on batch frames
    * too (window() is the same expression).
    */
  def tumbling(events: DataFrame, width: String = "1 hour",
               watermark: String = "2 hours"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    wm.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
  }

  /** Window-to-window distribution drift: the Jensen–Shannon divergence
    * between each tumbling window's categorical `typeCol` distribution
    * and the PREVIOUS window's — the data-drift alarm a streaming
    * ingestion pipeline reports per completed window (a scraper breaks,
    * a source floods: the type mix shifts and JS spikes). Natural-log
    * JS in [0, ln 2]; a category absent from one side contributes only
    * the other side's half-KL term (0·ln 0 = 0). Emits one row per
    * window THAT HAS a predecessor: (window_start, n_events, js_drift).
    * Batch diagnostic over completed windows — the window-vs-previous
    * join is not a streaming-state shape, and completed-window reports
    * are how drift alarms actually run.
    *
    * Scale shape: one windowed count aggregate, one window-total join,
    * one (window, type)-keyed full-outer self-join keyed by the
    * PREVIOUS window's end = this window's start (no interval
    * arithmetic, no driver state), one per-window reduce.
    */
  def typeDrift(events: DataFrame, typeCol: String,
                width: String = "1 hour"): DataFrame = {
    val counts = events
      .groupBy(window(col("ts"), width).as("w"), col(typeCol).as("t"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("w").agg(sum("c").as("n"))
    val p = counts.join(tot, "w")
      .select(col("w"), col("t"),
        (col("c").cast("double") / col("n")).as("p"), col("n"))
    val cur = p.select(col("w.start").as("k"), col("t"),
      col("p").as("__pc"), col("n").as("__nc"))
    val prv = p.select(col("w.end").as("k"), col("t"), col("p").as("__pp"))
    // only windows with an immediate predecessor report drift
    val ks = cur.select("k").distinct()
      .join(prv.select("k").distinct(), "k")
    val m = (coalesce(col("__pc"), lit(0.0)) +
      coalesce(col("__pp"), lit(0.0))) / 2.0
    val term =
      when(col("__pc") > 0,
        col("__pc") * log(col("__pc") / m) * 0.5).otherwise(0.0) +
      when(col("__pp") > 0,
        col("__pp") * log(col("__pp") / m) * 0.5).otherwise(0.0)
    cur.join(prv, Seq("k", "t"), "full_outer")
      .join(ks, "k")
      .groupBy(col("k").as("window_start"))
      .agg(max(col("__nc")).cast("long").as("n_events"),
        round(sum(term), 9).as("js_drift"))
  }

  /** Per-window model-quality monitor — the STREAMING parity of the
    * batch evaluation leg (binned `Classifier.rocAuc` + calibration
    * ECE): for each tumbling `width` window of scored events, the
    * binned ROC AUC (trapezoidal over `bins` score buckets, ties
    * within a bucket at half credit — the identical u-statistic shape
    * as the batch operator) and the expected calibration error
    * Σ_b |Σscore_b − Σpos_b| / N (the per-bin |mean score − frac pos|
    * weighted by bin mass, algebraically collapsed so the sums stay
    * exact when scores are dyadic rationals). One row per window:
    * (window_start, n, auc, ece), doubles rounded at 9; a
    * single-class window reports auc NULL rather than inventing a
    * ranking (the batch operator refuses — a monitor must keep
    * emitting instead).
    *
    * Scale shape: ONE (window, bin) hash aggregate over the stream —
    * bins·windows tiny rows — then a bin-ordered prefix sum
    * PARTITIONED BY window (never a global window) and a per-window
    * reduce. In a live pipeline this runs per micro-batch via
    * `foreachBatch` over completed windows (the [[typeDrift]]
    * discipline); the spec drives exactly that and pins batch parity.
    * Each call eagerly checkpoints its tiny per-bin frame (that is
    * what buys the one-scan refusal); the blocks are reclaimed by
    * Spark's ContextCleaner once the report is released — a
    * long-running monitor loop should consume (collect/write) each
    * window report promptly rather than holding references across
    * triggers. The same lifecycle applies to [[scoreDrift]] and
    * [[embeddingDrift]].
    */
  def windowedEval(scored: DataFrame, scoreCol: String, labelCol: String,
                   width: String = "1 hour", bins: Int = 10): DataFrame = {
    require(bins >= 2, s"windowedEval: bins must be >= 2: $bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    // the batch leg's hygiene (rocAuc binned / calibrationReport):
    // least() SKIPS nulls, so a null score would land silently in the
    // TOP bin while sum(s) drops it — corrupt auc/ece, no error; a
    // label outside {0, 1} drives nn = Σ(1 − y) negative. The bad-row
    // census rides the SAME (window, bin) aggregate as the sums (the
    // sliceAccuracy discipline — a separate hygiene scan would double
    // every micro-batch's stream I/O under foreachBatch); the refusal
    // reads the tiny checkpointed per-bin frame.
    val bad = (s.isNull || isnan(s) || s < 0 || s > 1 ||
      y.isNull || (y =!= 0.0 && y =!= 1.0)).cast("long")
    val bin = least(floor(s * bins), lit(bins - 1)).cast("int")
    val per = scored
      .groupBy(window(col("ts"), width).as("w"), bin.as("bin"))
      .agg(sum(y).as("np"), sum(lit(1.0) - y).as("nn"),
        sum(s).as("ssum"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "windowedEval: scores must be non-null in [0, 1] and labels in " +
        "{0, 1} — clean the frame first")
    val byWin = org.apache.spark.sql.expressions.Window
      .partitionBy("w").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val contrib = per.select(col("w"), col("np"), col("nn"), col("ssum"),
      coalesce(sum("nn").over(byWin), lit(0.0)).as("cum_nn"))
    contrib.groupBy(col("w.start").as("window_start"))
      .agg((sum("np") + sum("nn")).cast("long").as("n"),
        round(when(sum("np") > 0 && sum("nn") > 0,
          sum(col("np") * (col("cum_nn") + col("nn") / 2)) /
            (sum("np") * sum("nn"))), 9).as("auc"),
        round(sum(abs(col("ssum") - col("np"))) /
          (sum("np") + sum("nn")), 9).as("ece"))
  }

  /** Window-to-window SCORE drift — the population stability index
    * (PSI, the standard production monitor for model-score
    * distributions; Siddiqi 2006): for each tumbling window with an
    * immediate predecessor, PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over
    * `bins` fixed-width score buckets, p = this window's bin shares,
    * q = the previous window's. The numeric sibling of [[typeDrift]]
    * (same completed-window join shape): typeDrift watches the
    * categorical event mix, this watches the MODEL's score
    * distribution — the "did the input population shift under my
    * classifier" alarm ([[windowedEval]] answers "did quality drop";
    * PSI fires even when labels aren't available yet). Bins present
    * on only ONE side are excluded from the sum (PSI is undefined at
    * zero mass; the common ε-smoothing trades determinism for an
    * arbitrary constant) and REPORTED per window as `one_sided_bins`
    * — a nonzero count is itself a drift signal (mass appeared or
    * vanished). Rule of thumb: PSI < 0.1 stable, 0.1–0.25 moderate,
    * > 0.25 investigate. One row per window with a predecessor:
    * (window_start, n_events, psi, one_sided_bins), psi rounded at 9.
    *
    * Scale shape: one (window, bin) hash aggregate, one window-total
    * join, one (window, bin)-keyed full-outer self-join keyed by
    * previous-end = this-start, one per-window reduce — bins·windows
    * tiny rows past the first aggregate (the [[typeDrift]] plan).
    */
  def scoreDrift(scored: DataFrame, scoreCol: String,
                 width: String = "1 hour", bins: Int = 10): DataFrame = {
    require(bins >= 2, s"scoreDrift: bins must be >= 2: $bins")
    val s = col(scoreCol).cast("double")
    // the calibrationReport/rocAuc(binned) hygiene: a negative score
    // would land in an UNCLAMPED negative bin (only the top edge is
    // clamped), and a null score lands silently in the TOP bin
    // (least() skips nulls) and skews both windows' shares — refuse
    // both. The census rides the SAME (window, bin) aggregate as the
    // counts (the sliceAccuracy discipline — no second stream scan per
    // foreachBatch call); the refusal reads the tiny checkpointed frame.
    val bad = (s.isNull || isnan(s) || s < 0 || s > 1).cast("long")
    val b = least(floor(s * bins), lit(bins - 1)).cast("int")
    val counts = scored
      .groupBy(window(col("ts"), width).as("w"), b.as("bin"))
      .agg(count(lit(1)).as("c"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = counts.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "scoreDrift: scores must be non-null in [0, 1] — clean the " +
        "frame first")
    psiFromCounts(counts)
  }

  /** The PSI reduce shared by [[scoreDrift]] (score bins) and
    * [[embeddingDrift]] (IVF cells): `counts` is the already-CHECKPOINTED
    * (w, bin, c) aggregate — everything here runs on bins·windows tiny
    * rows (share join, previous-end = this-start keying, per-window
    * reduce), never the corpus.
    */
  private def psiFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.groupBy("w").agg(sum("c").as("n"))
    val p = counts.join(tot, "w").select(col("w"), col("bin"),
      (col("c").cast("double") / col("n")).as("p"), col("n"))
    val cur = p.select(col("w.start").as("k"), col("bin"),
      col("p").as("__pc"), col("n").as("__nc"))
    val prv = p.select(col("w.end").as("k"), col("bin"),
      col("p").as("__pp"))
    val ks = cur.select("k").distinct()
      .join(prv.select("k").distinct(), "k")
    cur.join(prv, Seq("k", "bin"), "full_outer")
      .join(ks, "k")
      .groupBy(col("k").as("window_start"))
      .agg(max("__nc").cast("long").as("n_events"),
        round(sum(when(col("__pc").isNotNull && col("__pp").isNotNull,
          (col("__pc") - col("__pp")) * log(col("__pc") / col("__pp")))
          .otherwise(0.0)), 9).as("psi"),
        sum(when(col("__pc").isNull || col("__pp").isNull, 1L)
          .otherwise(0L)).as("one_sided_bins"))
  }

  /** Window-to-window EMBEDDING drift — PSI over coarse IVF cells: each
    * arriving vector is assigned its nearest centroid (the SAME codegen
    * squared-L2 assignment the IVF/SemDeDup family uses, ties to the
    * lowest index) and the [[scoreDrift]] PSI runs over CELL shares per
    * tumbling window vs the predecessor. The multimodal member of the
    * drift family: [[typeDrift]] watches a categorical column,
    * [[scoreDrift]] a scalar model score, this the embedding
    * DISTRIBUTION of arriving documents/images/audio — the "did the
    * input population shift in representation space" alarm no scalar
    * projection can see. Fit the centroids ONCE
    * (`Similarity.fitKmeans`, or reuse a persisted IVF index's sidecar
    * table) and hold them fixed across windows — PSI against a moving
    * fit would confound population drift with re-clustering. Null
    * vectors and dimension mismatches refuse (the census rides the one
    * aggregate); cells present on only one side are excluded from the
    * sum and reported as `one_sided_bins` (mass appeared in or vanished
    * from a region of embedding space — itself the signal), the
    * [[scoreDrift]] convention. One row per window with an immediate
    * predecessor: (window_start, n_events, psi, one_sided_bins).
    *
    * Scale shape: the cell assignment is a codegen scan-side expression
    * over broadcast-literal centroids (the corpus never leaves the
    * executors; O(dim·cells) per row), then ONE (window, cell) hash
    * aggregate + the bins·windows keyed join — identical post-aggregate
    * cost to [[scoreDrift]] regardless of embedding dimension or
    * traffic.
    */
  def embeddingDrift(stream: DataFrame, vecCol: String,
                     centroids: Array[Array[Double]],
                     width: String = "1 hour"): DataFrame = {
    require(centroids.length >= 2,
      s"embeddingDrift: need >= 2 centroids, got ${centroids.length}")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      "embeddingDrift: ragged centroid table")
    val v = col(vecCol)
    val malformed = v.isNull || size(v) =!= dim
    // malformed vectors must not reach the kernel — bin them as NULL
    // and let the riding census refuse after the one aggregate
    val cell = when(malformed, lit(null))
      .otherwise(graft.expr.VectorExprs.nearest_centroid(v, centroids))
    val counts = stream
      .groupBy(window(col("ts"), width).as("w"), cell.as("bin"))
      .agg(count(lit(1)).as("c"), sum(malformed.cast("long")).as("__bad"))
      .localCheckpoint()
    val badRow = counts.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      s"embeddingDrift: $nBad null or non-$dim-dim vectors — clean the " +
        "frame first")
    psiFromCounts(counts)
  }

  /** Window-to-window two-sample Kolmogorov–Smirnov drift on the exact
    * score distribution — the NONPARAMETRIC member of the drift family:
    * [[scoreDrift]]'s PSI watches fixed-bin shares (cheap, but blind to
    * within-bin movement and undefined at one-sided bins), this computes
    * D = sup_x |F_cur(x) − F_prev(x)| over the POOLED empirical CDFs of
    * each tumbling window vs its immediate predecessor — sensitive to
    * any distributional change, bin-free, and equipped with a p-value.
    * The p-value is the Kolmogorov asymptotic
    * Q(λ) = 2 Σ_{j≥1} (−1)^{j−1} e^{−2j²λ²} at
    * λ = (√n_eff + 0.12 + 0.11/√n_eff)·D, n_eff = n·m/(n+m)
    * (Stephens 1970; the NR `probks` form) evaluated as a FIXED 8-term
    * truncation with λ < 0.3 short-circuited to 1.0 — below that the
    * true Q exceeds 1 − 4e−7 while the alternating series needs more
    * terms than any SQL oracle should replay; above it the dropped
    * 9th term is < 5e−7. The same philosophy as [[graft.ops.Num.erfcc]]:
    * both engines evaluate the SAME closed form, and the 9-decimal pin
    * absorbs nothing the formula itself doesn't. Null/NaN scores refuse
    * (NaN would poison the value ordering the ECDF depends on); the
    * census rides the one aggregate. One row per window with a
    * predecessor: (window_start, n_cur, n_prev, d, p_value), d and
    * p_value rounded at 9.
    *
    * Scale shape: ONE (window, distinct-score) hash aggregate over the
    * stream — the post-aggregate state is windows·(per-window distinct)
    * rows, so a genuinely continuous score column must be quantized
    * first and `maxDistinct` refuses rather than letting the ECDF join
    * degrade (the [[graft.ops.Classifier.spearmanCorrelation]]
    * discipline). The guard bounds the MAX PER-WINDOW distinct support
    * — the quantity the state claim is made of (each consecutive-pair
    * align is at most the two windows' supports) — so a long stream
    * whose global support grows while every window stays bounded keeps
    * running. Then a full-outer align of consecutive windows on the
    * pooled pair support, a window-PARTITIONED prefix sum (never a
    * global window), and a per-window max reduce.
    */
  def ksDrift(scored: DataFrame, scoreCol: String,
              width: String = "1 hour",
              maxDistinct: Int = 100000): DataFrame = {
    require(maxDistinct >= 1, s"ksDrift: maxDistinct=$maxDistinct")
    val s = col(scoreCol).cast("double")
    val bad = (s.isNull || isnan(s)).cast("long")
    val counts = scored
      .groupBy(window(col("ts"), width).as("w"), s.as("v"))
      .agg(count(lit(1)).as("c"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = counts.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "ksDrift: scores must be non-null and non-NaN — clean the frame " +
        "first")
    // bound the PER-WINDOW distinct support — the quantity the
    // windows·distinct state claim is actually made of (each
    // consecutive-pair align is at most the two windows' supports): a
    // long stream whose pooled global support grows while every
    // window stays bounded must keep running, not refuse (r17 ADVICE)
    val ndRow = counts.groupBy("w").agg(count(lit(1)).as("d"))
      .agg(max("d")).head()
    val nd = if (ndRow.isNullAt(0)) 0L else ndRow.getLong(0)
    require(nd <= maxDistinct,
      s"ksDrift: $nd distinct score values in one window exceed " +
        s"maxDistinct=$maxDistinct — quantize continuous corpus-scale " +
        "scores first (the ECDF align is windows*per-window-distinct " +
        "state)")
    val tot = counts.groupBy("w").agg(sum("c").as("n"))
    val p = counts.join(tot, "w")
    val cur = p.select(col("w.start").as("k"), col("v"),
      col("c").as("__cc"), col("n").as("__nc"))
    val prv = p.select(col("w.end").as("k"), col("v"),
      col("c").as("__cp"), col("n").as("__np"))
    // only windows with an immediate predecessor report drift
    val ks = cur.select("k").distinct()
      .join(prv.select("k").distinct(), "k")
    val byWin = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("v")
    val winAll = org.apache.spark.sql.expressions.Window.partitionBy("k")
    val aligned = cur.join(prv, Seq("k", "v"), "full_outer")
      .join(ks, "k")
      .select(col("k"),
        sum(coalesce(col("__cc"), lit(0L))).over(byWin).as("cumc"),
        sum(coalesce(col("__cp"), lit(0L))).over(byWin).as("cump"),
        // each side's total is constant per window but null on rows the
        // side is absent from — lift it to a window-partitioned max so
        // every pooled support point sees both denominators
        max("__nc").over(winAll).as("nc"),
        max("__np").over(winAll).as("np"))
    val perWin = aligned.groupBy(col("k").as("window_start"))
      .agg(max("nc").cast("long").as("n_cur"),
        max("np").cast("long").as("n_prev"),
        max(abs(col("cumc").cast("double") / col("nc")
          - col("cump").cast("double") / col("np"))).as("__d"))
    val nEff = col("n_cur").cast("double") * col("n_prev") /
      (col("n_cur") + col("n_prev"))
    val lam = (sqrt(nEff) + lit(0.12) + lit(0.11) / sqrt(nEff)) * col("__d")
    val series = (1 to 8).map { j =>
      val sign = if (j % 2 == 1) 1.0 else -1.0
      lit(sign) * exp(lit(-2.0 * j * j) * lam * lam)
    }.reduce(_ + _)
    val pv = when(lam < 0.3, lit(1.0))
      .otherwise(least(lit(1.0), greatest(lit(0.0), lit(2.0) * series)))
    perWin.select(col("window_start"), col("n_cur"), col("n_prev"),
      round(col("__d"), 9).as("d"), round(pv, 9).as("p_value"))
  }

  /** The shared gap-window DENSIFY mechanism of [[cusumDrift]] and
    * [[windowedAbSprt]]: generate a window spine between the stream's
    * min and max window (`sequence` — windows-many rows,
    * time-bounded), left-join the per-window rows onto it, and fill
    * each named column's gaps with its caller-declared empty-window
    * value. One mechanism, two fill policies. Expects the window
    * start aliased `k`. */
  private def densifySpine(data: DataFrame, width: String,
      fills: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val spine = data.agg(min("k").as("lo"), max("k").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr(s"interval $width"))).as("k"))
    spine.join(data, Seq("k"), "left").select(col("k") +:
      fills.map { case (nm, fill) => coalesce(col(nm), fill).as(nm) }: _*)
  }

  /** Windowed CUSUM sequential change detection (Page 1954, the
    * two-sided tabular form) over per-window means — the drift-family
    * member [[ksDrift]]/[[scoreDrift]]/[[embeddingDrift]] cannot be:
    * window-vs-window tests see only ADJACENT change, so a small
    * PERSISTENT shift (a quality scorer drifting a fraction of a
    * point per day) stays under every per-pair threshold forever,
    * while CUSUM accumulates deviations from a reference mean until
    * the evidence crosses a deterministic threshold. Per window t
    * with mean x̄_t: d⁺ = x̄_t − μ₀ − κ, d⁻ = μ₀ − x̄_t − κ (κ the
    * slack — shifts smaller than κ are tolerated by design), and on
    * each side S_t = max(0, S_{t−1} + d_t), alarming when either side
    * exceeds `h`. The max-recurrence is evaluated in CLOSED FORM as
    * S_t = P_t − min(0, min_{j≤t} P_j) over the prefix sums P of d —
    * two stacked window prefix scans, exactly replayable by a SQL
    * oracle and bit-identical to the driver recurrence (spec-pinned).
    * The alarm compares the round(9)-pinned statistic against h, so
    * both engines decide from the identical double. Null/NaN values
    * refuse with the census riding the one aggregate. One row per
    * window: (window_start, n, mean, cusum_pos, cusum_neg, alarm),
    * doubles rounded at 9.
    *
    * GAP-WINDOW SEMANTICS: by default the recurrence runs over DATA
    * windows — a window with zero events emits no row and contributes
    * nothing to the accumulation (its mean is undefined; no deviation
    * accrues), so a paused feed is INVISIBLE to the default monitor.
    * For a metric where silence is itself drift (a rate, a throughput,
    * any "zero when stopped" signal), pass `densify = true`: a window
    * spine is generated between the stream's min and max window
    * (`sequence` — windows-many rows, time-bounded) and each empty
    * window enters the recurrence as an n = 0, mean = 0 observation —
    * d⁺ = −μ₀ − κ, d⁻ = μ₀ − κ — so a stopped feed drives the
    * NEGATIVE cusum toward alarm at μ₀ − κ per silent window, which is
    * exactly the fixed-cadence textbook recurrence. Gap rows appear in
    * the output with n = 0 so downstream alerting can SEE the missing
    * traffic either way it alarms.
    *
    * Scale shape: ONE (window) hash aggregate over the stream, then
    * window-ORDERED prefix scans on the windows-many post-aggregate
    * rows — an unpartitioned window, deliberately: a sequential
    * statistic is a prefix recurrence by definition, and the frame it
    * runs over is bounded by TIME (windows), not traffic (the
    * [[graft.ops.Classifier.rocAuc]] distinct-scores convention for
    * bounded-frame global orders); the corpus itself is never
    * windowed.
    */
  def cusumDrift(scored: DataFrame, valueCol: String, mu0: Double,
                 kappa: Double = 0.0, h: Double = 4.0,
                 width: String = "1 hour",
                 densify: Boolean = false): DataFrame = {
    require(kappa >= 0, s"cusumDrift: kappa=$kappa must be >= 0")
    require(h > 0, s"cusumDrift: h=$h must be positive")
    val x = col(valueCol).cast("double")
    val bad = (x.isNull || isnan(x)).cast("long")
    val per = scored
      .groupBy(window(col("ts"), width).as("w"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "cusumDrift: values must be non-null and non-NaN — clean the " +
        "frame first")
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val mean = col("sx") / col("n")
    val data = per.select(col("w.start").as("k"), col("n"),
      mean.as("m"),
      (mean - lit(mu0) - lit(kappa)).as("dp"),
      (lit(mu0) - mean - lit(kappa)).as("dn"))
    // densify: a generated window spine between min and max window —
    // windows-many rows (time-bounded, the post-aggregate convention);
    // an empty window is an n = 0, mean = 0 observation
    val base =
      if (!densify) data
      else densifySpine(data, width, Seq(
        "n" -> lit(0L), "m" -> lit(0.0),
        "dp" -> lit(0.0 - mu0 - kappa), "dn" -> lit(mu0 - kappa)))
    val pre = base.select(col("k"), col("n"), col("m"),
      sum("dp").over(wOrd).as("pp"), sum("dn").over(wOrd).as("pn"))
    val pre2 = pre.select(col("k"), col("n"), col("m"), col("pp"),
      col("pn"),
      min("pp").over(wOrd).as("mp"), min("pn").over(wOrd).as("mn"))
    // S = P − min(0, running min of P): the standard CUSUM identity
    // (the j = 0 empty prefix contributes the 0 in the min)
    val sp = round(col("pp") - least(lit(0.0), col("mp")), 9)
    val sn = round(col("pn") - least(lit(0.0), col("mn")), 9)
    pre2.select(col("k").as("window_start"), col("n"),
      round(col("m"), 9).as("mean"),
      sp.as("cusum_pos"), sn.as("cusum_neg"),
      (sp > h || sn > h).as("alarm"))
  }

  /** Per-window PAIRED A/B monitor — the streaming parity of
    * [[graft.ops.Classifier.mcnemarTest]]: for each tumbling window of
    * events scored by BOTH model A and model B against a label, the
    * discordant counts b = A-correct/B-wrong, c = A-wrong/B-correct,
    * the Edwards continuity-corrected χ² = (|b−c|−1)²/(b+c) on 1 df and
    * its upper-tail p-value — the live "is the candidate actually
    * beating the incumbent this hour, or is the delta discordant-pair
    * noise" dashboard a shadow deployment needs. Identical semantics to
    * the batch operator per window: null-safe string correctness (a
    * null prediction against a non-null label scores wrong), b + c = 0
    * reports statistic 0 / p-value 1 (a monitor must keep emitting),
    * null LABELS refuse with the census riding the one aggregate. One
    * row per window: (window_start, n, acc_a, acc_b, b_discordant,
    * c_discordant, statistic, p_value), doubles rounded at 9; the
    * p-value is the same NR-erfcc closed form both engines replay
    * ([[graft.ops.Num.chi2P1]], here as a column expression).
    *
    * Scale shape: ONE (window) hash aggregate over the stream — the
    * census and all six counts ride it — then scalar arithmetic on
    * windows-many tiny rows; no join, no window function.
    */
  def windowedAb(scored: DataFrame, labelCol: String, predACol: String,
                 predBCol: String, width: String = "1 hour"): DataFrame = {
    // the SAME six aggregate columns as the batch operator — one
    // definition (Classifier.mcnemarAggExprs), grouped by window here
    val e = graft.ops.Classifier.mcnemarAggExprs(labelCol, predACol,
      predBCol)
    val per = scored
      .groupBy(window(col("ts"), width).as("w"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val nullRow = per.agg(sum("nulls")).head()
    val nNull = if (nullRow.isNullAt(0)) 0L else nullRow.getLong(0)
    require(nNull == 0,
      s"windowedAb: $nNull null $labelCol values — a null label is " +
        "un-scorable ground truth; clean the frame first")
    // (d·d)/(b+c), not pow(d, 2): the oracle multiplies, and pow is not
    // bit-identical to multiplication on every input
    val d = abs(col("b") - col("c")).cast("double") - lit(1.0)
    val stat = when(col("b") + col("c") === 0, lit(0.0))
      .otherwise(d * d / (col("b") + col("c")))
    per.select(col("w.start").as("window_start"), col("n"),
      round(col("ca").cast("double") / col("n"), 9).as("acc_a"),
      round(col("cb").cast("double") / col("n"), 9).as("acc_b"),
      col("b").as("b_discordant"), col("c").as("c_discordant"),
      round(stat, 9).as("statistic"),
      round(least(lit(1.0),
        graft.ops.Num.erfccCol(sqrt(stat / 2.0))), 9).as("p_value"))
  }

  /** Sequential A/B decision via Wald's SPRT (Wald 1945, "Sequential
    * Tests of Statistical Hypotheses") over the paired-discordant
    * stream — the anytime-valid layer [[windowedAb]] lacks: reading a
    * per-window McNemar p-value every hour and stopping at the first
    * p < α is the classic PEEKING fallacy (the realized false-positive
    * rate grows with every look); the SPRT's log-likelihood-ratio
    * thresholds A = ln((1−β)/α), B = ln(β/(1−α)) guarantee the error
    * rates regardless of how often the monitor looks or when it stops.
    * Model: each discordant pair resolves in model B's favor
    * (c-discordant) with probability p — H₀: p = ½ (no difference) vs
    * H₁: p = p1 (B better by the caller's minimum-detectable margin).
    * After each window, over the CUMULATIVE discordant counts
    * (B_t a-wins, C_t b-wins):
    * llr_b = C_t·ln(2·p1) + B_t·ln(2·(1−p1)), and symmetrically
    * llr_a with the roles swapped — two one-sided SPRTs, so the
    * verdict distinguishes "B better" from "A better" from "no
    * practical difference" (BOTH tests hit their lower bound) from
    * "continue". Concordant traffic carries no information (the
    * McNemar principle) and only the discordant Bernoulli stream is
    * modeled. Null labels refuse via the riding census. One row per
    * window: (window_start, n, b_cum, c_cum, llr_b, llr_a, decision),
    * doubles rounded at 9; the decision compares the round(9)-pinned
    * llr against the round(9)-PINNED thresholds — BOTH sides of the
    * comparison live on the 1e-9 grid, so a 1-ulp libm divergence
    * between the engines' ln cannot flip a decision (the
    * [[cusumDrift]] pinned-comparison convention, applied to the
    * thresholds too).
    *
    * GAP-WINDOW SEMANTICS: a window with zero events emits no row by
    * default — harmless to the statistic here (an empty window carries
    * zero discordants, so the cumulative LLRs and every later decision
    * are IDENTICAL with or without the gap row; unlike [[cusumDrift]]
    * there is no fixed-cadence term to understate) but invisible to
    * dashboards. Pass `densify = true` to emit the gap rows (n = 0,
    * cumulative counts carried forward) over a generated window spine.
    *
    * Scale shape: ONE (window) hash aggregate (the [[windowedAb]]
    * aggregate — same single-sourced [[graft.ops.Classifier
    * .mcnemarAggExprs]] columns), then window-ORDERED prefix sums on
    * the windows-many post-aggregate rows (time-bounded; the
    * [[cusumDrift]] convention).
    */
  def windowedAbSprt(scored: DataFrame, labelCol: String,
                     predACol: String, predBCol: String,
                     width: String = "1 hour", p1: Double = 0.6,
                     alpha: Double = 0.05,
                     beta: Double = 0.05,
                     densify: Boolean = false): DataFrame = {
    require(p1 > 0.5 && p1 < 1.0,
      s"windowedAbSprt: p1=$p1 must be in (0.5, 1) — the minimum " +
        "detectable B-win rate among discordants")
    require(alpha > 0 && alpha < 0.5 && beta > 0 && beta < 0.5,
      s"windowedAbSprt: alpha=$alpha beta=$beta must be in (0, 0.5)")
    val e = graft.ops.Classifier.mcnemarAggExprs(labelCol, predACol,
      predBCol)
    val per = scored
      .groupBy(window(col("ts"), width).as("w"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val nullRow = per.agg(sum("nulls")).head()
    val nNull = if (nullRow.isNullAt(0)) 0L else nullRow.getLong(0)
    require(nNull == 0,
      s"windowedAbSprt: $nNull null $labelCol values — a null label " +
        "is un-scorable ground truth; clean the frame first")
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // the Wald boundaries and per-observation log terms as fixed
    // driver literals; the BOUNDARIES are round(9)-pinned so the
    // decision compares grid value against grid value on both engines
    val hi = graft.ops.Num.round9(math.log((1.0 - beta) / alpha))
    val lo = graft.ops.Num.round9(math.log(beta / (1.0 - alpha)))
    val lnWin = math.log(2.0 * p1)
    val lnLose = math.log(2.0 * (1.0 - p1))
    val data = per.select(col("w.start").as("k"), col("n"),
      col("b"), col("c"))
    val base =
      if (!densify) data
      else densifySpine(data, width, Seq(
        "n" -> lit(0L), "b" -> lit(0L), "c" -> lit(0L)))
    val cum = base.select(col("k"), col("n"),
      sum("b").over(wOrd).as("bc"), sum("c").over(wOrd).as("cc"))
    val llrB = round(col("cc") * lnWin + col("bc") * lnLose, 9)
    val llrA = round(col("bc") * lnWin + col("cc") * lnLose, 9)
    cum.select(col("k").as("window_start"), col("n"),
      col("bc").as("b_cum"), col("cc").as("c_cum"),
      llrB.as("llr_b"), llrA.as("llr_a"),
      when(llrB >= hi, lit("b_better"))
        .when(llrA >= hi, lit("a_better"))
        .when(llrB <= lo && llrA <= lo, lit("no_difference"))
        .otherwise(lit("continue")).as("decision"))
  }

  /** Always-valid sequential test for a CONTINUOUS metric via the
    * normal-mixture SPRT (Robbins 1970, "Statistical methods related
    * to the law of the iterated logarithm"; the mSPRT of Johari,
    * Koomen, Pekelis & Walsh 2017) — the [[windowedAbSprt]] companion
    * for the metrics a binary discordant stream cannot carry: the
    * latency / loss / score DELTA between two arms. Model: per-event
    * values x_i (the caller feeds the paired delta) ~ N(μ, σ²) with σ²
    * known (`sigma2`), H₀: μ = 0 against the mixture alternative
    * μ ~ N(0, τ²) (`tau2`, the prior scale of effects worth
    * detecting). The mixture likelihood ratio has the closed form
    * Λ_n = √(σ²/(σ² + nτ²)) · exp(S_n²τ²/(2σ²(σ² + nτ²))) with
    * S_n = Σx_i — fixed arithmetic in the cumulative (n, S) around one
    * engine-evaluated ln/exp pair (the [[graft.ops.Num.erfcc]]
    * convention: Spark's log and DuckDB's ln are separate libm
    * implementations, so a 1-ulp divergence at a round(9) boundary is
    * an ACCEPTED residual risk on the transcendental terms — the
    * decision THRESHOLD, by contrast, is a round(9)-pinned driver
    * literal on both engines); rejecting when Λ_n ≥ 1/α is
    * anytime-valid (the martingale property: P₀(ever reject) ≤ α no
    * matter how often the monitor looks), and p_n = min(1, 1/Λ_n) is
    * the always-valid p-value. The decision compares the
    * round(9)-pinned log Λ against the round(9)-pinned ln(1/α) (the
    * [[windowedAbSprt]] pinned-threshold convention).
    *
    * VARIANCE (r20): `sigma2 = Some(s)` is the textbook known-variance
    * form (and the one an oracle replays most tightly). `sigma2 =
    * None` — the deployed default in Johari et al.'s system — plugs in
    * the RUNNING empirical variance s²_n = (Σx² − S²/n)/(n − 1) from a
    * Σx² that rides the same aggregate, because a caller-guessed σ²
    * that is too small silently VOIDS the α guarantee (every boundary
    * fires early). Plug-in windows before the variance exists
    * (n_cum < 2, or a constant stream's s² = 0) emit the −1.0 sentinel
    * with `decidable = false` (the [[windowedCuped]] convention);
    * `var_used` reports the σ² each window's Λ actually used. The
    * spec pins plug-in → known convergence as data accrues. Null/NaN
    * values refuse via the riding census. One row per window:
    * (window_start, n, n_cum, mean_cum, var_used, log_lambda, p_value,
    * reject, decidable), doubles rounded at 9.
    *
    * GAP-WINDOW SEMANTICS: data windows — an empty window carries zero
    * observations, so (n, S) and every later Λ are identical with or
    * without a gap row; nothing is understated (the [[windowedAbSprt]]
    * case, not the [[cusumDrift]] one).
    *
    * Scale shape: ONE (window) hash aggregate over the stream, then
    * window-ORDERED prefix sums on the windows-many post-aggregate
    * rows (time-bounded; the [[cusumDrift]] convention).
    */
  def windowedMixtureSprt(scored: DataFrame, valueCol: String,
                          sigma2: Option[Double], tau2: Double,
                          alpha: Double = 0.05,
                          width: String = "1 hour"): DataFrame = {
    sigma2.foreach(s2 => require(s2 > 0,
      s"windowedMixtureSprt: sigma2=$s2 must be positive — the known " +
        "per-observation variance (or None for the running plug-in)"))
    require(tau2 > 0, s"windowedMixtureSprt: tau2=$tau2 must be " +
      "positive — the prior scale of detectable effects")
    require(alpha > 0 && alpha < 0.5, s"windowedMixtureSprt: alpha=$alpha")
    val x = col(valueCol).cast("double")
    val bad = (x.isNull || isnan(x)).cast("long")
    // Σx² rides the same aggregate whichever variance mode is chosen —
    // the plug-in path must not cost a second pass
    val per = scored
      .groupBy(window(col("ts"), width).as("w"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum(x * x).as("sxx"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "windowedMixtureSprt: values must be non-null and non-NaN — " +
        "clean the frame first")
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val thr = graft.ops.Num.round9(math.log(1.0 / alpha))
    val cum = per.select(col("w.start").as("k"), col("n"), col("sx"),
        col("sxx"))
      .select(col("k"), col("n"),
        sum("n").over(wOrd).as("nc"), sum("sx").over(wOrd).as("sc"),
        sum("sxx").over(wOrd).as("xc"))
    // the variance the mixture uses: a caller constant, or the running
    // empirical s² = (Σx² − S²/n)/(n − 1) — the division is GUARDED
    // behind n ≥ 2 (ANSI: an ungated n = 1 row would throw before any
    // gating downstream could apply)
    val (v, ok) = sigma2 match {
      case Some(s2) => (lit(s2), lit(true))
      case None =>
        val vr = when(col("nc") >= 2,
          (col("xc") - col("sc") * col("sc") / col("nc")) /
            (col("nc") - lit(1.0)))
        (vr, col("nc") >= 2 && coalesce(vr > 0.0, lit(false)))
    }
    // log Λ operand for operand as the oracle writes it:
    // 0.5·ln(v/(v + n·τ²)) + (S·S·τ²)/(2v(v + n·τ²))
    val llr = round(when(ok,
      lit(0.5) * log(v / (v + col("nc") * lit(tau2)))
        + (col("sc") * col("sc") * lit(tau2)) /
          (lit(2.0) * v * (v + col("nc") * lit(tau2)))),
      9)
    cum.select(col("k").as("window_start"), col("n"),
      col("nc").as("n_cum"),
      round(col("sc") / col("nc"), 9).as("mean_cum"),
      round(when(ok, v).otherwise(lit(-1.0)), 9).as("var_used"),
      coalesce(llr, lit(-1.0)).as("log_lambda"),
      coalesce(round(least(lit(1.0), exp(lit(0.0) - llr)), 9),
        lit(-1.0)).as("p_value"),
      coalesce(llr >= thr, lit(false)).as("reject"),
      ok.as("decidable"))
  }

  /** Always-valid CONFIDENCE SEQUENCE on a running mean — the interval
    * dual of [[windowedMixtureSprt]] (invert the same normal-mixture
    * martingale over μ instead of testing μ = 0: Robbins 1970; the
    * confidence-sequence framing of Howard–Ramdas–McAuliffe–Sekhon
    * 2021 and Johari et al. 2017): a per-window CI a dashboard can
    * show at EVERY refresh with simultaneous 1 − α coverage — the
    * fixed-n Wald interval re-read hourly is guaranteed to eventually
    * exclude the truth, a confidence sequence never does. Closed form:
    * Λ_n(μ) < 1/α for all μ in x̄_n ± r_n with
    * r_n = √( (2σ²(σ² + nτ²)/τ²) · (½·ln((σ² + nτ²)/σ²) − ln α) ) / n
    * — fixed arithmetic in the cumulative (n, S) around engine-evaluated
    * ln/sqrt (the [[windowedMixtureSprt]] caveat: an accepted 1-ulp
    * libm risk on the transcendental terms under the round(9) pin).
    * The DUALITY with [[windowedMixtureSprt]] is exact and
    * spec-pinned: the mSPRT rejects μ = 0 precisely when 0 falls
    * outside the sequence (|x̄_n| ≥ r_n).
    *
    * VARIANCE (r20): `sigma2 = Some(s)` is the known-variance form;
    * `sigma2 = None` plugs in the running empirical variance from a
    * Σx² riding the same aggregate (the [[windowedMixtureSprt]]
    * rationale — a wrong caller guess silently breaks the coverage
    * guarantee; the duality is preserved window for window because
    * both operators plug in the SAME s²_n). Plug-in windows before
    * the variance exists emit the −1.0 sentinel with
    * `decidable = false`; `var_used` reports the σ² each window used.
    * Null/NaN values refuse via the riding census. One row per
    * window: (window_start, n, n_cum, mean_cum, var_used, radius,
    * ci_lo, ci_hi, decidable), doubles rounded at 9.
    *
    * GAP-WINDOW SEMANTICS: data windows — an empty window adds no
    * observations and the sequence is unchanged (the
    * [[windowedMixtureSprt]] case).
    *
    * Scale shape: ONE (window) hash aggregate over the stream, then
    * window-ORDERED prefix sums on the windows-many post-aggregate
    * rows (time-bounded; the [[cusumDrift]] convention).
    */
  def windowedConfidenceSeq(scored: DataFrame, valueCol: String,
                            sigma2: Option[Double], tau2: Double,
                            alpha: Double = 0.05,
                            width: String = "1 hour"): DataFrame = {
    sigma2.foreach(s2 => require(s2 > 0,
      s"windowedConfidenceSeq: sigma2=$s2 must be positive — the " +
        "known per-observation variance (or None for the plug-in)"))
    require(tau2 > 0, s"windowedConfidenceSeq: tau2=$tau2 must be " +
      "positive — the prior scale of the mixture")
    require(alpha > 0 && alpha < 0.5,
      s"windowedConfidenceSeq: alpha=$alpha")
    val x = col(valueCol).cast("double")
    val bad = (x.isNull || isnan(x)).cast("long")
    val per = scored
      .groupBy(window(col("ts"), width).as("w"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum(x * x).as("sxx"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "windowedConfidenceSeq: values must be non-null and non-NaN — " +
        "clean the frame first")
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = per.select(col("w.start").as("k"), col("n"), col("sx"),
        col("sxx"))
      .select(col("k"), col("n"),
        sum("n").over(wOrd).as("nc"), sum("sx").over(wOrd).as("sc"),
        sum("sxx").over(wOrd).as("xc"))
    // the same variance choice as the mixture SPRT — the duality
    // depends on both operators plugging in the SAME s²_n
    val (v, ok) = sigma2 match {
      case Some(s2) => (lit(s2), lit(true))
      case None =>
        val vr = when(col("nc") >= 2,
          (col("xc") - col("sc") * col("sc") / col("nc")) /
            (col("nc") - lit(1.0)))
        (vr, col("nc") >= 2 && coalesce(vr > 0.0, lit(false)))
    }
    // radius operand for operand as the oracle writes it:
    // sqrt( (2v(v+nτ²)/τ²) · (0.5·ln((v+nτ²)/v) − ln α) ) / n
    val mean = col("sc") / col("nc")
    val radius = round(when(ok,
      sqrt((lit(2.0) * v
          * (v + col("nc") * lit(tau2)) / lit(tau2))
        * (lit(0.5) * log((v + col("nc") * lit(tau2)) / v)
          - lit(math.log(alpha)))) / col("nc")),
      9)
    cum.select(col("k").as("window_start"), col("n"),
      col("nc").as("n_cum"),
      round(mean, 9).as("mean_cum"),
      round(when(ok, v).otherwise(lit(-1.0)), 9).as("var_used"),
      coalesce(radius, lit(-1.0)).as("radius"),
      coalesce(round(mean - radius, 9), lit(-1.0)).as("ci_lo"),
      coalesce(round(mean + radius, 9), lit(-1.0)).as("ci_hi"),
      ok.as("decidable"))
  }

  /** Streaming off-policy-evaluation monitor — the windowed parity of
    * [[graft.ops.Classifier.offPolicyEval]] (the [[windowedAb]]
    * pattern): per tumbling window of logged-bandit traffic, the
    * clipped IPS and SNIPS estimates of what the CANDIDATE policy
    * would have earned this hour, with their influence-function SEs,
    * 95% CIs, the per-window ESS honesty diagnostic (a support
    * collapse shows up live, hours before the pooled number moves),
    * and the clipped fraction. The aggregate columns AND the output
    * formulas are single-sourced with the batch operators
    * ([[graft.ops.Classifier.opeAggExprs]] /
    * [[graft.ops.Classifier.opeStatCols]] — the mcnemarAggExprs
    * discipline), so the monitor cannot drift from the batch trio.
    * Hygiene rides the one aggregate. One row per window:
    * (window_start, n, behavior_mean, ips, ips_se, ips_lo, ips_hi,
    * snips, snips_se, snips_lo, snips_hi, ess, clipped_frac),
    * doubles rounded at 9.
    *
    * Scale shape: ONE (window) hash aggregate over the stream; output
    * is column arithmetic on the checkpointed windows-many rows.
    */
  def windowedOffPolicy(logged: DataFrame, rewardCol: String,
                        loggedPropCol: String, targetPropCol: String,
                        clip: Double = 10.0,
                        width: String = "1 hour"): DataFrame = {
    require(clip > 0, s"windowedOffPolicy: clip=$clip must be positive")
    val e = graft.ops.Classifier.opeAggExprs(rewardCol, loggedPropCol,
      targetPropCol, clip)
    val per = logged
      .groupBy(window(col("ts"), width).as("w"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val badRow = per.agg(sum("__nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      s"windowedOffPolicy: $nBad rows with null/NaN rewards or " +
        "propensities outside (0, 1] logging / [0, 1] target — clean " +
        "the stream first")
    per.select(col("w.start").as("window_start")
      +: graft.ops.Classifier.opeStatCols: _*)
  }

  /** Per-window CUPED-adjusted A/B delta on a CONTINUOUS metric — the
    * streaming parity of [[graft.ops.Classifier.cupedDelta]] (the
    * [[windowedAb]] pattern, for the latency/loss/score deltas
    * windowedAb's paired-binary model cannot carry): per tumbling
    * window, the raw Welch delta between the arms AND the
    * variance-reduced delta after regressing out the pre-experiment
    * covariate, with θ re-fit WITHIN each window (pooled over both
    * arms of that window's traffic — keeps every statistic
    * within-window arithmetic, no cross-window state, and remains
    * unbiased for the same reason the batch op is: the covariate
    * cannot be affected by treatment). Same formula set as the batch
    * operator, evaluated as column arithmetic; z and the two-sided p
    * via the [[graft.ops.Num.erfccCol]] chain. A window missing an
    * arm, or with fewer than 2 rows in an arm, cannot produce a
    * variance — it emits the −1.0 sentinel in every statistic with
    * `decidable = false` (a monitor must keep emitting; the
    * [[windowedEval]] convention). Null/NaN metric or covariate
    * refuse via the census riding the one aggregate. One row per
    * window: (window_start, n_a, n_b, theta, delta_raw, se_raw,
    * delta, se, z, p_value, decidable), doubles rounded at 9.
    *
    * RANDOMIZATION UNIT (r20): pass `unitCol = Some(u)` to
    * pre-aggregate per (window, unit, arm) into unit totals before
    * the CUPED fold — the [[graft.ops.Classifier.cupedDelta]]
    * cluster-robust path, per window (a unit active in several
    * windows is one observation PER WINDOW — the monitor's
    * within-window verdict stays an independent-units statistic; the
    * batch operator is the cross-window pooled answer). Row hygiene
    * propagates as NaN poison through the unit fold.
    *
    * Scale shape: ONE (window, arm) hash aggregate over the stream
    * (six power sums + census), then a (window) pivot fold over the
    * 2·windows-many checkpointed rows; no join, no window function.
    * The unit path prepends one (window, arm, unit) hash aggregate
    * (map-side combinable).
    */
  def windowedCuped(exp: DataFrame, armCol: String, armA: String,
                    armB: String, metricCol: String,
                    covariateCol: String,
                    width: String = "1 hour",
                    unitCol: Option[String] = None): DataFrame = {
    require(armA != armB, s"windowedCuped: armA and armB are both '$armA'")
    // the SAME aggregate, pivot, and formula chain as the batch
    // operator — graft.ops.Classifier.cupedAggExprs /
    // cupedPivotCells / cupedStatFrame, ONE source (the
    // mcnemarAggExprs discipline), so monitor and batch cannot drift
    val scoped = exp.filter(col(armCol).isin(armA, armB))
    val (src, yc, xc) = unitCol match {
      case None =>
        (scoped.select(window(col("ts"), width).as("w"),
          col(armCol).cast("string").as("arm"),
          col(metricCol), col(covariateCol)),
          metricCol, covariateCol)
      case Some(u) =>
        val ue = graft.ops.Classifier.cupedUnitExprs(metricCol,
          covariateCol)
        (scoped.groupBy(window(col("ts"), width).as("w"),
          col(armCol).cast("string").as("arm"), col(u).as("__unit"))
          .agg(ue.head, ue.tail: _*), "__uy", "__ux")
    }
    val e = graft.ops.Classifier.cupedAggExprs(yc, xc)
    val per = src
      .groupBy(col("w"), col("arm"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val badRow = per.agg(sum("__nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    val obs = if (unitCol.isDefined) "unit" else "row"
    require(nBad == 0,
      s"windowedCuped: $nBad ${obs}s with null/NaN metric or " +
        "covariate values — clean the stream first")
    val cells = graft.ops.Classifier.cupedPivotCells(armA, armB)
    val pv = per.groupBy(col("w.start").as("window_start"))
      .agg(cells.head, cells.tail: _*)
    val zz = graft.ops.Classifier.cupedStatFrame(pv)
    val ok = col("__ok")
    def gated(c: org.apache.spark.sql.Column) =
      round(when(ok, c).otherwise(lit(-1.0)), 9)
    zz.select(col("window_start"), col("na").as("n_a"),
      col("nb").as("n_b"),
      gated(col("__th")).as("theta"),
      gated(col("__draw")).as("delta_raw"),
      gated(col("__seraw")).as("se_raw"),
      gated(col("__delta")).as("delta"), gated(col("__se")).as("se"),
      gated(col("__z")).as("z"), gated(col("__p")).as("p_value"),
      ok.as("decidable"))
  }

  /** Anytime-valid sequential A/B decision on a CONTINUOUS metric —
    * the two-sample mixture SPRT (the mSPRT as deployed for A/B by
    * Johari, Koomen, Pekelis & Walsh 2017, §4), completing the
    * sequential trio: [[windowedAbSprt]] decides binary discordants,
    * [[windowedMixtureSprt]] a one-sample mean, and this the
    * between-arm delta of a latency/loss/score metric. Model: the
    * cumulative delta of arm means δ̂_n = x̄_B − x̄_A is approximately
    * N(δ, V_n) with V_n = σ²(1/n_A + 1/n_B) (σ² known, `sigma2`);
    * H₀: δ = 0 against the mixture δ ~ N(0, τ²) gives the closed form
    * Λ_n = √(V_n/(V_n + τ²)) · exp(δ̂²τ²/(2V_n(V_n + τ²))) — fixed
    * arithmetic in the cumulative (n_A, S_A, n_B, S_B) prefix sums
    * around engine-evaluated ln/exp (the [[windowedMixtureSprt]]
    * caveat: accepted 1-ulp libm risk under the round(9) pin);
    * rejecting at Λ ≥ 1/α is anytime-valid and p_n = min(1, 1/Λ_n)
    * the always-valid p. Statistic and threshold are round(9)-pinned
    * (the [[windowedAbSprt]] convention).
    *
    * VARIANCE (r20): `sigma2 = Some(s)` is the known-variance form;
    * `sigma2 = None` plugs in the running POOLED empirical variance
    * s² = (Σx²_A + Σx²_B − S_A²/n_A − S_B²/n_B)/(n_A + n_B − 2) from
    * per-arm Σx² sums riding the same aggregate (the
    * [[windowedMixtureSprt]] rationale). Known-σ² windows are
    * decidable once BOTH arms have cumulative traffic (the
    * [[windowedCuped]] convention — once both arms are seen, every
    * later window is decidable); plug-in windows additionally need
    * n ≥ 2 PER ARM and s² > 0 before the pooled variance exists.
    * Until then the −1.0 sentinel with `decidable = false`;
    * `var_used` reports the per-observation σ² each window's V used.
    * Rows whose arm is neither `armA` nor `armB` are ignored;
    * null/NaN values refuse via the riding census. One row per
    * window: (window_start, n, na_cum, nb_cum, delta_cum, var_used,
    * log_lambda, p_value, reject, decidable), doubles rounded at 9.
    *
    * RANDOMIZATION UNIT (r20): pass `unitCol = Some(u)` to pre-fold
    * per (window, arm, unit) totals before the window aggregate (the
    * [[windowedCuped]] cluster-robust path — with user-level
    * randomization and correlated events the iid-row V understates
    * the truth and the sequential boundary fires EARLY, silently
    * spending more α than promised). The cumulative (n, S, Σx²) then
    * count UNIT-window observations; `n` reports units active in the
    * window. Row hygiene propagates as NaN poison through the unit
    * fold. Combine with `sigma2 = None`: the pooled plug-in variance
    * then estimates the BETWEEN-UNIT spread, which is exactly the
    * scale the unit-level delta needs.
    *
    * HONESTY CAVEAT (r21, per the r20 advisor): the unit path removes
    * WITHIN-WINDOW correlation only. The cumulative (n, S, Σx²) treat
    * each (window, unit) total as a fresh independent observation, so
    * a unit active across many windows re-enters the sequential
    * statistic every window, and cross-window within-unit correlation
    * can still shrink V and spend more α than the anytime-valid
    * boundary promises. The guarantee as stated assumes units do not
    * recur across windows (or that their window totals are
    * independent); for heavily recurring units, batch [[graft.ops.Classifier.cupedDelta]]
    * with `unitCol` folds ONE total per unit and does not have this
    * issue.
    *
    * Scale shape: ONE (window, arm) hash aggregate, a (window) pivot
    * fold, then window-ORDERED prefix sums over the windows-many
    * checkpointed rows (time-bounded; the [[cusumDrift]] convention).
    */
  def windowedAbMixtureSprt(scored: DataFrame, armCol: String,
                            armA: String, armB: String,
                            valueCol: String, sigma2: Option[Double],
                            tau2: Double, alpha: Double = 0.05,
                            width: String = "1 hour",
                            unitCol: Option[String] = None): DataFrame = {
    require(armA != armB,
      s"windowedAbMixtureSprt: armA and armB are both '$armA'")
    sigma2.foreach(s2 => require(s2 > 0,
      s"windowedAbMixtureSprt: sigma2=$s2 must be positive — the " +
        "known per-observation variance (or None for the pooled " +
        "plug-in)"))
    require(tau2 > 0, s"windowedAbMixtureSprt: tau2=$tau2 must be " +
      "positive — the prior scale of detectable deltas")
    require(alpha > 0 && alpha < 0.5,
      s"windowedAbMixtureSprt: alpha=$alpha")
    val scoped = scored.filter(col(armCol).isin(armA, armB))
    // optional cluster-robust pre-fold: (window, arm, unit) totals
    // with NaN-poison hygiene (the windowedCuped unit discipline)
    val src = unitCol match {
      case None =>
        scoped.select(window(col("ts"), width).as("w"),
          col(armCol).cast("string").as("arm"),
          col(valueCol).cast("double").as("__v"))
      case Some(u) =>
        val y = col(valueCol).cast("double")
        val badRowC = y.isNull || isnan(y)
        scoped.groupBy(window(col("ts"), width).as("w"),
          col(armCol).cast("string").as("arm"), col(u).as("__unit"))
          .agg(sum(when(badRowC, lit(Double.NaN)).otherwise(y))
            .as("__v"))
    }
    val x = col("__v")
    val bad = (x.isNull || isnan(x)).cast("long")
    val per = src
      .groupBy(col("w"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum(x * x).as("sxx"), sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    val obs = if (unitCol.isDefined) "unit" else "value"
    require(nBad == 0,
      s"windowedAbMixtureSprt: $nBad ${obs}s with null/NaN values — " +
        "clean the stream first")
    def cell(c: String, arm: String) =
      max(when(col("arm") === arm, col(c)))
    val pv = per.groupBy(col("w.start").as("k")).agg(
      sum("n").as("n"),
      coalesce(cell("n", armA), lit(0L)).as("nain"),
      coalesce(cell("n", armB), lit(0L)).as("nbin"),
      coalesce(cell("sx", armA), lit(0.0)).as("sain"),
      coalesce(cell("sx", armB), lit(0.0)).as("sbin"),
      coalesce(cell("sxx", armA), lit(0.0)).as("xain"),
      coalesce(cell("sxx", armB), lit(0.0)).as("xbin"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val thr = graft.ops.Num.round9(math.log(1.0 / alpha))
    val cum = pv.select(col("k"), col("n"),
      sum("nain").over(wOrd).as("na"),
      sum("nbin").over(wOrd).as("nb"),
      sum("sain").over(wOrd).as("sa"),
      sum("sbin").over(wOrd).as("sb"),
      sum("xain").over(wOrd).as("xa"),
      sum("xbin").over(wOrd).as("xb"))
    // the per-observation variance: a caller constant (decidable once
    // both arms are seen), or the running pooled empirical s²
    // (additionally needs n ≥ 2 per arm; divisions ANSI-guarded)
    val (s2c, ok) = sigma2 match {
      case Some(s2) => (lit(s2), col("na") > 0 && col("nb") > 0)
      case None =>
        val vr = when(col("na") >= 2 && col("nb") >= 2,
          (col("xa") + col("xb")
            - col("sa") * col("sa") / col("na")
            - col("sb") * col("sb") / col("nb")) /
            (col("na") + col("nb") - lit(2.0)))
        (vr, col("na") >= 2 && col("nb") >= 2 &&
          coalesce(vr > 0.0, lit(false)))
    }
    // staged (the windowedCuped codegen discipline): delta and V as
    // aliased columns under the ok gate, then the closed-form log Λ
    val st = cum.select(col("*"),
      when(ok, col("sb") / col("nb") - col("sa") / col("na"))
        .as("__d"),
      when(ok, s2c).as("__s2"),
      when(ok, s2c * (lit(1.0) / col("na")
        + lit(1.0) / col("nb"))).as("__v"))
    val llr = round(
      lit(0.5) * log(col("__v") / (col("__v") + lit(tau2)))
        + (col("__d") * col("__d") * lit(tau2)) /
          (lit(2.0) * col("__v") * (col("__v") + lit(tau2))),
      9)
    val zz = st.select(col("*"), llr.as("__ll"))
    def gated(c: org.apache.spark.sql.Column) =
      round(when(ok, c).otherwise(lit(-1.0)), 9)
    zz.select(col("k").as("window_start"), col("n"),
      col("na").as("na_cum"), col("nb").as("nb_cum"),
      gated(col("__d")).as("delta_cum"),
      gated(col("__s2")).as("var_used"),
      gated(col("__ll")).as("log_lambda"),
      gated(least(lit(1.0), exp(lit(0.0) - col("__ll"))))
        .as("p_value"),
      (ok && col("__ll") >= thr).as("reject"),
      ok.as("decidable"))
  }

  /** Per-window sample-ratio-mismatch monitor — the streaming parity
    * of [[graft.ops.Classifier.srmCheck]] (the [[windowedAb]]
    * pattern): per tumbling window, the χ² of each declared arm's
    * observed traffic against the declared assignment weights, so a
    * broken hash or a one-arm-eating bot filter is caught the HOUR it
    * starts, not at the post-experiment readout — and the A/B
    * monitors downstream ([[windowedCuped]],
    * [[windowedAbMixtureSprt]]) can gate themselves on it (their
    * statistics all assume the declared split). Aggregate cells AND
    * the χ²/p/flag formulas are single-sourced with the batch check
    * ([[graft.ops.Classifier.srmAggExprs]] /
    * [[graft.ops.Classifier.srmStatCols]] — the mcnemarAggExprs
    * discipline); p from the exact finite closed form of the
    * χ²_{k−1} upper tail, flagged at the conventional 0.001. Rows
    * whose arm is outside the declared design refuse via the census
    * riding the one aggregate. One row per window: (window_start, n,
    * chi2, df, p_value, srm), doubles rounded at 9.
    *
    * Scale shape: ONE (window) hash aggregate over the stream (k + 2
    * conditional counts per window — no per-arm shuffle key, no
    * join); output is column arithmetic on the checkpointed
    * windows-many rows.
    */
  def windowedSrm(events: DataFrame, armCol: String,
                  expectedWeights: Seq[(String, Double)],
                  alpha: Double = 0.001,
                  width: String = "1 hour"): DataFrame = {
    val arms = expectedWeights.map(_._1)
    require(arms.distinct.size == arms.size,
      s"windowedSrm: duplicate arms in expectedWeights: " +
        arms.diff(arms.distinct).mkString(", "))
    require(arms.size >= 2 && arms.size <= 129,
      s"windowedSrm: ${arms.size} arms — need 2 to 129 (df ≤ 128, " +
        "the closed-form χ² bound)")
    require(expectedWeights.forall(_._2 > 0.0),
      "windowedSrm: every expected weight must be positive")
    val wsum = expectedWeights.map(_._2).sum
    require(math.abs(wsum - 1.0) <= 1e-9,
      s"windowedSrm: expected weights sum to $wsum, not 1 — declare " +
        "the full design")
    require(alpha > 0 && alpha < 0.5, s"windowedSrm: alpha=$alpha")
    val sorted = expectedWeights.sortBy(_._1)
    val e = graft.ops.Classifier.srmAggExprs(armCol, sorted.map(_._1))
    val per = events
      .groupBy(window(col("ts"), width).as("w"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val badRow = per.agg(sum("__nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      s"windowedSrm: $nBad rows with arms outside the declared " +
        s"design {${sorted.map(_._1).mkString(", ")}} (or null) — an " +
        "undeclared arm is an assignment bug; fix the design or the " +
        "stream")
    val stats = graft.ops.Classifier.srmStatCols(sorted.map(_._2),
      alpha)
    per.select(col("w.start").as("window_start") +: col("n") +:
      stats: _*)
  }

  /** Per-window ratio-metric A/B delta under unit randomization —
    * the streaming parity of
    * [[graft.ops.Classifier.ratioMetricDelta]] (the [[windowedCuped]]
    * pattern): per tumbling window, the delta-method test on the
    * ratio of unit totals (CTR, accept rate per suggestion,
    * revenue per session) between two arms — the metric dashboards
    * actually ship, with the cluster-robust variance the iid-row
    * z-test understates. Unit fold, moment aggregate, pivot and the
    * staged delta-method chain are single-sourced with the batch
    * operator ([[graft.ops.Classifier.ratioUnitExprs]] /
    * [[graft.ops.Classifier.ratioMomentExprs]] /
    * [[graft.ops.Classifier.ratioPivotCells]] /
    * [[graft.ops.Classifier.ratioStatFrame]] — the mcnemarAggExprs
    * discipline). A window without ≥ 2 units per arm, or with a
    * nonpositive denominator total in either arm, emits the −1.0
    * sentinel with `decidable = false` (the monitor never goes
    * dark); row hygiene (null/NaN, negative denominators) propagates
    * as NaN poison through the unit fold and refuses via the riding
    * census. One row per window: (window_start, n_a, n_b, ratio_a,
    * ratio_b, delta, se, z, p_value, decidable), doubles rounded at
    * 9; n_a/n_b count UNITS active in the window.
    *
    * Scale shape: one (window, arm, unit) map-side-combinable fold,
    * then ONE (window, arm) moment aggregate and a (window) pivot
    * fold over the checkpointed 2·windows rows; no join, no window
    * function, units never collected.
    */
  def windowedRatioDelta(exp: DataFrame, armCol: String, armA: String,
                         armB: String, numerCol: String,
                         denomCol: String, unitCol: String,
                         width: String = "1 hour"): DataFrame = {
    require(armA != armB,
      s"windowedRatioDelta: armA and armB are both '$armA'")
    val ue = graft.ops.Classifier.ratioUnitExprs(numerCol, denomCol)
    val units = exp.filter(col(armCol).isin(armA, armB))
      .groupBy(window(col("ts"), width).as("w"),
        col(armCol).cast("string").as("arm"), col(unitCol).as("__unit"))
      .agg(ue.head, ue.tail: _*)
    val me = graft.ops.Classifier.ratioMomentExprs
    val per = units.groupBy(col("w"), col("arm"))
      .agg(me.head, me.tail: _*)
      .localCheckpoint()
    val badRow = per.agg(sum("__nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      s"windowedRatioDelta: $nBad units with null/NaN numerator or " +
        "null/NaN/negative denominator rows — clean the stream first")
    val cells = graft.ops.Classifier.ratioPivotCells(armA, armB)
    val pv = per.groupBy(col("w.start").as("window_start"))
      .agg(cells.head, cells.tail: _*)
    val zz = graft.ops.Classifier.ratioStatFrame(pv)
    val ok = col("__ok")
    def gated(c: org.apache.spark.sql.Column) =
      round(when(ok, c).otherwise(lit(-1.0)), 9)
    zz.select(col("window_start"), col("na").as("n_a"),
      col("nb").as("n_b"),
      gated(col("__ra")).as("ratio_a"),
      gated(col("__rb")).as("ratio_b"),
      gated(col("__delta")).as("delta"), gated(col("__se")).as("se"),
      gated(col("__z")).as("z"), gated(col("__p")).as("p_value"),
      ok.as("decidable"))
  }

  /** Per-window empirical-Bayes rate shrinkage — the streaming parity
    * of [[graft.ops.Classifier.empiricalBayesRates]] (the
    * [[windowedEval]] pattern): per tumbling window, each slice's
    * success rate pulled toward that window's pool by its own noise
    * share, so the live "which slices carry the effect" ranking never
    * crowns a small noisy slice on one hour of traffic. Same
    * method-of-moments construction as the batch op — pooled p̄ from
    * exact integer sums (order-free), the across-slice moment sums
    * (Σp̂, Σp̂², Σ1/n — non-dyadic) as slice-ORDERED prefix sums read
    * at each window's LAST row and broadcast back by a
    * full-frame `last` (the cross-engine order pin, here PARTITIONED
    * by window — every formula operand-for-operand with the batch
    * operator, so a single-window stream equals the batch output
    * exactly, spec-pinned). A window with one slice has no
    * between-slice variance: it emits the −1.0 sentinel in the shrink
    * columns with `decidable = false` (the monitor never goes dark).
    * Non-binary/null successes refuse via the census riding the one
    * aggregate. Unlike the batch op there is NO `maxSlices` knob:
    * there is no driver-side ordered scan to bound — the prefix runs
    * as a window function partitioned by window, fully distributed.
    * One row per (window, slice): (window_start, slice, n, successes,
    * rate, shrink_factor, shrunk_rate, decidable), doubles rounded
    * at 9.
    *
    * Scale shape: ONE (window, slice) hash aggregate over the stream,
    * then window-PARTITIONED prefix/frame functions over the
    * (windows × slices)-many checkpointed post-aggregate rows; no
    * join, no driver state.
    */
  def windowedEbRates(events: DataFrame, sliceCol: String,
                      successCol: String,
                      width: String = "1 hour"): DataFrame = {
    val s = col(successCol).cast("double")
    val badc = (s.isNull || isnan(s) || (s =!= 0.0 && s =!= 1.0))
      .cast("long")
    val per = events
      .groupBy(window(col("ts"), width).as("w"),
        col(sliceCol).as("slice"))
      .agg(count(lit(1)).as("n"), sum(s).as("s"),
        sum(badc).as("__nbad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      s"windowedEbRates: $nBad null/NaN/non-binary $successCol " +
        "values — successes must be 0 or 1; clean the stream first")
    import org.apache.spark.sql.expressions.Window
    val wPart = Window.partitionBy("w")
    val wOrd = Window.partitionBy("w").orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = col("s").cast("double") / col("n")
    val st1 = per.select(col("w.start").as("window_start"),
      col("slice"), col("n"), col("s"),
      sum("s").over(wPart).as("__ss"),
      sum("n").over(wPart).as("__nn"),
      count(lit(1)).over(wPart).as("__k"),
      sum(p).over(wOrd).as("__cp"),
      sum(p * p).over(wOrd).as("__cp2"),
      sum(lit(1.0) / col("n")).over(wOrd).as("__cinv"))
    // broadcast each window's LAST prefix reading back to every row
    // (the batch op reads the same value at rn = k on the driver)
    val wAll2 = Window.partitionBy("window_start").orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val st2 = st1.select(col("*"),
      last("__cp").over(wAll2).as("__cpL"),
      last("__cp2").over(wAll2).as("__cp2L"),
      last("__cinv").over(wAll2).as("__cinvL"))
    val ok = col("__k") >= 2
    val pbar = col("__ss") / col("__nn")
    val meanp = col("__cpL") / col("__k")
    val st3 = st2.select(col("*"), ok.as("__ok"),
      pbar.as("__pbar"),
      when(ok, (col("__cp2L") - col("__k") * meanp * meanp) /
        (col("__k") - lit(1.0))).as("__varp"),
      (pbar * (lit(1.0) - pbar)).as("__pw"))
    val st4 = st3.select(col("*"),
      greatest(lit(0.0), col("__varp")
        - col("__pw") * col("__cinvL") / col("__k")).as("__tau2"))
    val shrink = when(col("__tau2") + col("__pw") / col("n") > 0.0,
      col("__tau2") / (col("__tau2") + col("__pw") / col("n")))
      .otherwise(lit(0.0))
    def gated(c: org.apache.spark.sql.Column) =
      round(when(col("__ok"), c).otherwise(lit(-1.0)), 9)
    st4.select(col("window_start"), col("slice"), col("n"),
      col("s").cast("long").as("successes"),
      round(p, 9).as("rate"),
      gated(shrink).as("shrink_factor"),
      gated(col("__pbar") + shrink * (p - col("__pbar")))
        .as("shrunk_rate"),
      col("__ok").as("decidable"))
  }

  /** Sliding-window per-user activity. */
  def sliding(events: DataFrame, width: String = "1 hour",
              slide: String = "30 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n"))

  /** Session windows with a gap timeout — native session_window. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    wm.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("total"))
  }

  /** Streaming exact dedup: keep the first occurrence per key — the
    * streaming analog of `Dedup.exactKeepFirst` for ingest pipelines. On a
    * stream, `dropDuplicatesWithinWatermark` bounds the dedup state by the
    * watermark horizon (unbounded key spaces cannot accumulate state
    * forever); on a batch frame plain `dropDuplicates` is the same
    * semantics, which is how the oracle checks it.
    */
  def dedupEvents(events: DataFrame, keys: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Stream-stream interval join: pair each `firstType` event with the
    * same user's `thenType` events that follow within `within` (the
    * click→purchase attribution shape). On streams BOTH sides carry
    * watermarks and the join condition is time-bounded in both directions,
    * which is exactly what lets Spark evict join state — an unbounded
    * stream-stream join would buffer forever. On batch frames the same
    * join runs unchanged, which is how the oracle checks it.
    *
    * Scale shape: the state store holds only `watermark + within` worth of
    * events per side, keyed by user — constant per-key memory as the
    * stream runs; on batch the range predicate rides on a user-keyed
    * equi-join, never a cross product.
    */
  def intervalJoin(events: DataFrame, firstType: String, thenType: String,
                   within: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    val l0 = events.filter(col("event_type") === firstType)
      .select(col("user_id"), col("ts").as("l_ts"), col("value").as("l_value"))
    val r0 = events.filter(col("event_type") === thenType)
      .select(col("user_id").as("__r_user"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    val l = if (l0.isStreaming) l0.withWatermark("l_ts", watermark) else l0
    val r = if (r0.isStreaming) r0.withWatermark("r_ts", watermark) else r0
    l.join(r,
      col("user_id") === col("__r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("l_ts"), col("r_ts"),
        col("l_value"), col("r_value"))
  }

  // ------------------------------------------- custom state (sessionization)

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, n: Int, total: Double)
  final case class SessionOut(user_id: Long, startMs: Long, endMs: Long,
                              n: Int, total: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState — emits a
    * session when the user goes quiet for `gapMs`. Demonstrates the
    * KeyValueGroupedDataset state API the north-star asks for.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) => {
          val sorted = evs.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val out = scala.collection.mutable.Buffer[SessionOut]()
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.lastSeen > gapMs =>
                out += SessionOut(user, s.start, s.lastSeen, s.n, s.total)
                cur = Some(SessionState(t, t, 1, e.value))
              case Some(s) =>
                cur = Some(s.copy(lastSeen = t, n = s.n + 1, total = s.total + e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          out.iterator
        })
  }

  /** Run any of the above as a real streaming query into an in-memory sink
    * (used by tests; `processAllAvailable` makes it synchronous).
    */
  def runToMemory(df: DataFrame, name: String, mode: String = "complete"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
