package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph operators over plain edge-list DataFrames — the link-
  * graph leg of web-corpus curation (page importance is a classic crawl
  * quality prior; Common Crawl publishes harmonic-centrality/PageRank
  * rankings for exactly this use).
  *
  * Spark-first shape: no GraphX/RDD — the edge list is repartitioned on
  * src ONCE and cached, and each synchronous iteration is one src-keyed
  * join plus one dst-keyed aggregate, both reusing that partitioning.
  * Driver state per iteration is a single double (the dangling mass).
  * Each iteration's ranks are localCheckpointed, so the logical plan is
  * truncated to one iteration — without that the tree doubles per
  * iteration (the ranks frame is referenced twice) and explodes
  * exponentially (the iterative-algorithm analog of fragment-chain
  * compaction).
  */
object Graph {

  /** The ONE loop behind every graph operator that iterates until its
    * state stops changing: apply `step` from `init` round by round. Each
    * round's `step(state)` is lazily localCheckpointed (the plan is
    * truncated to one round), and one aggregate, the round's signature
    * (row count + `bit_xor(xxhash64(all columns))`), is the one action
    * that materializes it. The loop stops when the signature repeats
    * (that confirming round is counted), when the state is empty, or
    * after `maxRounds` rounds (0 is allowed: `init` comes back as is).
    * Returns (state, rounds, converged).
    *
    * Invariants the callers rely on: `step` is total, its output has
    * `init`'s columns in the same order, and it maps an empty state to an
    * empty state, so an empty state is a fixpoint and needs no round.
    * The helper never refuses: a caller whose unconverged state is not a
    * valid answer checks `converged` with its own message. */
  private[graft] def fixpoint(init: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    def countAndHash(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)),
          lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var state = init
    var sig = countAndHash(state)
    var rounds = 0
    var converged = sig._1 == 0
    while (!converged && rounds < maxRounds) {
      val next = step(state).localCheckpoint(false)
      val sig2 = countAndHash(next)
      converged = sig2 == sig || sig2._1 == 0
      state = next; sig = sig2; rounds += 1
    }
    (state, rounds, converged)
  }

  /** Standard damped PageRank, up to `iters` synchronous iterations from
    * the uniform start:
    * {{{ r'(v) = (1-d)/N + d * ( Σ_{(s,v)∈E} r(s)/deg(s) + dangling/N ) }}}
    * with the rank mass of out-degree-0 nodes redistributed uniformly
    * (total mass stays 1 every iteration). Nodes = src ∪ dst of the edge
    * list. Returns (node: long, rank: double).
    *
    * `tol > 0` enables convergence early-stop: iteration halts once the
    * L1 rank delta Σ|r'(v) − r(v)| drops below `tol` — the standard
    * power-iteration criterion (Page et al. 1999 use the same norm). The
    * delta is one extra scalar aggregate per iteration over the
    * just-checkpointed ranks (the prev rank rides the same join that
    * builds the update, so no extra join materializes); `tol = 0` keeps
    * the fixed-iteration behavior with zero added work.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               tol: Double = 0.0): DataFrame =
    pageRankCore(edges, srcCol, dstCol, iters, damping, tol)._1

  /** [[pageRank]] plus the number of iterations actually run and whether
    * the `tol` convergence test passed — the observable early-stop. The
    * flag disambiguates the budget boundary: with `tol > 0` the L1 delta
    * is evaluated on EVERY iteration including the last, so
    * `(iters, converged = true)` means the final step itself converged
    * while `(iters, false)` means the budget ran out first. With
    * `tol == 0` the flag is always false (no delta is computed). */
  def pageRankCore(edges: DataFrame, srcCol: String, dstCol: String,
                   iters: Int, damping: Double = 0.85,
                   tol: Double = 0.0): (DataFrame, Int, Boolean) =
    pageRankLoop(edges, srcCol, dstCol, iters, damping, tol, None)

  /** Weighted PageRank: rank flows along each edge proportionally to its
    * weight —
    * {{{ r'(v) = (1-d)/N + d · ( Σ_{(u,v)∈E} r(u)·w(u,v)/Σ_out w(u) + dangling/N ) }}}
    * — the natural model for link graphs with link COUNTS and for
    * co-occurrence graphs ([[graft.ops.TextAnalysis.textRankKeywords]]
    * rides this). Null or non-positive weights drop the edge; uniform
    * weights reduce exactly to [[pageRank]], and scaling all of a node's
    * out-weights by a constant changes nothing (only the out-shares
    * matter). Same loop, same dangling handling, same `tol` early-stop.
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int, damping: Double = 0.85,
                       tol: Double = 0.0): DataFrame =
    pageRankLoop(edges, srcCol, dstCol, iters, damping, tol, None,
      Some(weightCol))._1

  /** The ONE power-iteration loop every entry point shares: `seeds =
    * None` teleports uniformly (standard PageRank — the 1/n teleport is
    * a constant, no extra join); `Some((frame, idCol))` teleports 1/k
    * over the seed set, with the dangling mass returning by the same
    * distribution. `weightCol = Some(w)` flows rank proportionally to
    * edge weight (w/Σ_out w instead of 1/deg); non-positive and null
    * weights drop the edge. Keeping a single loop means the
    * plan-truncation contract, the dangling handling, and the tol
    * early-stop cannot diverge between the operators.
    *
    * Per-iteration shape: the OUT-SHARE of every edge (`__wn` = weight /
    * out-weight-sum, = 1/deg unweighted) is iteration-invariant, so it
    * is resolved ONCE into the cached src-partitioned edge frame — each
    * iteration is then a single ranks ⋈ edges join plus one dst-keyed
    * aggregate (the r14 refactor; previously a per-iteration deg join
    * paid a second shuffle).
    */
  /** The loop's ONE src-keyed cached edge frame: (node, dst, __wn =
    * w / Σ_out w) — the raw (node, dst, __w) projection is repartitioned
    * on the src key, the out-weight aggregate joins back on that same
    * partitioning (ReuseExchange shares the one repartition between the
    * aggregate and the join side — the r21 refactor dropped the separate
    * eRaw cache, whose only job was to back exactly this reuse, paying a
    * second cache write + read for it), and the normalized result is
    * persisted. The out-share sums come from the SAME hash aggregate as
    * before, so the doubles are bit-identical. `private[graft]` so the
    * plan audit pins the PRODUCTION construction, not a test replica.
    * Caller unpersists.
    */
  private[graft] def normalizedEdges(edges: DataFrame, srcCol: String,
                                     dstCol: String,
                                     weightCol: Option[String])
      : DataFrame = {
    val eRaw = (weightCol match {
      case Some(w) => edges.select(col(srcCol).cast("long").as("node"),
          col(dstCol).cast("long").as("dst"), col(w).cast("double").as("__w"))
        .filter(col("__w").isNotNull && col("__w") > 0)
      case None => edges.select(col(srcCol).cast("long").as("node"),
          col(dstCol).cast("long").as("dst"), lit(1.0).as("__w"))
    }).repartition(col("node"))
    eRaw.join(
        eRaw.groupBy("node").agg(sum("__w").as("__ws")), "node")
      .select(col("node"), col("dst"), (col("__w") / col("__ws")).as("__wn"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One FUSED iteration fold (r21): the per-edge contributions
    * (ranks ⋈ cached edges on the src key, rank·out-share, keyed by dst)
    * are UNIONED with one base row per node (zero contribution, the prev
    * rank, the teleport share from `sBase` = withS(ranks)), and a single
    * node-keyed hash aggregate folds the inflow sum, the prev rank, and
    * the teleport column together. This replaces the r14–r20 shape
    * (contrib aggregate THEN a left-outer update join against ranks):
    * one exchange per iteration instead of two, no join sort, and the
    * same bytes shuffled — the base rows ride the same exchange the
    * update join used to re-shuffle. Every node has exactly one base
    * row (ranks ⊇ nodes by construction), so max(__prev)/max(__s) pick
    * that row's values and sum(__c) is 0.0 — not null — for in-degree-0
    * nodes, exactly the old coalesce. The extra 0.0 terms cannot move
    * the inflow sum beyond the partial-merge reordering noise the
    * round(6) output contract already absorbs. */
  private[graft] def fusedStep(e: DataFrame, ranks: DataFrame,
                               sBase: DataFrame): DataFrame = {
    val contrib = ranks.join(e, Seq("node"))
      .select(col("dst").as("node"),
        (col("rank") * col("__wn")).as("__c"),
        lit(null).cast("double").as("__prev"),
        lit(null).cast("double").as("__sv"))
    val base = sBase.select(col("node"), lit(0.0).as("__c"),
      col("rank").as("__prev"), col("__s").as("__sv"))
    contrib.unionByName(base)
      .groupBy("node")
      .agg(sum("__c").as("c"), max("__prev").as("__prev"),
        max("__sv").as("__s"))
  }

  private def pageRankLoop(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int, damping: Double, tol: Double,
                           seeds: Option[(DataFrame, String)],
                           weightCol: Option[String] = None): (DataFrame, Int, Boolean) = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1): $damping")
    require(tol >= 0, s"tol must be >= 0: $tol")
    val e = normalizedEdges(edges, srcCol, dstCol, weightCol)
    val nodes = e.select(col("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the finally keeps every persisted working frame from leaking into
    // the session when a validation require throws (empty graph,
    // graph-disjoint seeds) — on success it is the normal cleanup: the
    // final ranks are a materialized checkpoint scan, only caches drop
    try {
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")
      // teleport column: None = the uniform constant; Some = the cached
      // (node, __s) seed distribution riding the update join
      val sFrame = seeds.map { case (sdf, idCol) =>
        val ss = sdf.select(col(idCol).cast("long").as("node")).distinct()
          .join(nodes, Seq("node"), "left_semi")
        val k = ss.count()
        require(k > 0, "personalizedPageRank: no seed overlaps the graph")
        nodes.join(ss.withColumn("__s", lit(1.0 / k)), Seq("node"), "left")
          .select(col("node"), coalesce(col("__s"), lit(0.0)).as("__s"))
          .localCheckpoint()
      }
      def withS(df: DataFrame): DataFrame = sFrame match {
        case None     => df.withColumn("__s", lit(1.0 / n))
        case Some(sf) => df.join(sf, "node")
      }
      // the dangling-node SET is iteration-invariant — resolve it once, so
      // graphs without sinks (most link graphs after degree filtering) skip
      // the per-iteration scalar job entirely. LAZY checkpoint: the
      // isEmpty probe is the materializing action (r21 — the eager form
      // paid a separate full job before the probe).
      val danglingNodes = nodes.join(e.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(false)
      val hasDangling = !danglingNodes.isEmpty
      // NOTE (r21, measured): deferring the per-iteration checkpoint
      // (localCheckpoint(false) chained across all iterations) was
      // tried and is ~60% SLOWER at bench scale — AQE re-plans each
      // deferred stage inside one deep recursive job and the chain
      // loses the clean one-materialized-job-per-iteration shape. The
      // checkpoints stay EAGER; only the INITIAL ranks frame is lazy
      // (it is the cached nodes plus a literal — iteration 1
      // materializes it inside its own job).
      var ranks = withS(nodes).select(col("node"), col("__s").as("rank"))
        .localCheckpoint(false)
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        // dangling mass: one scalar action per iteration (O(1) driver state)
        val dangling =
          if (!hasDangling) 0d
          else ranks.join(danglingNodes, Seq("node"), "left_semi")
            .agg(coalesce(sum("rank"), lit(0d))).head().getDouble(0)
        // the fused contrib + base fold: one node-keyed aggregate per
        // iteration carries the inflow sum, the prev rank (for the tol
        // delta) and the teleport share — no separate update join.
        // NOTE (r21, measured): joining the CACHED nodes frame instead
        // of ranks (to consume ranks once per iteration) was also tried
        // and is ~2x slower per iteration at bench scale — the
        // cache-backed SMJ loses to the broadcast-shaped contrib plan.
        val next = fusedStep(e, ranks, withS(ranks))
          .select(col("node"), col("__prev"),
            (lit(1.0 - damping) * col("__s") + lit(damping) *
              (col("c") + lit(dangling) * col("__s")))
              .as("rank"))
        // localCheckpoint TRUNCATES the plan, it does not merely cache:
        // each iteration references the previous ranks (twice when the
        // dangling/prev paths are live), so without truncation the
        // logical tree doubles per iteration — 2^iters nodes, OOM by ~20
        // on plan strings alone. On a cluster with executor churn swap
        // for reliable checkpoint() (setCheckpointDir) at the same site.
        val cp = next.localCheckpoint()
        it += 1
        if (tol > 0) {
          // one scalar scan of the just-materialized checkpoint blocks;
          // evaluated on the LAST iteration too, so the returned flag
          // distinguishes "converged exactly at the budget" from "budget
          // exhausted" (one extra scalar job on the final step)
          val delta = cp.agg(coalesce(sum(abs(col("rank") - col("__prev"))), lit(0.0)))
            .head().getDouble(0)
          converged = delta < tol
        }
        ranks = cp.drop("__prev")
      }
      // an iters == 0 call returns the (lazy) initial frame — materialize
      // it BEFORE the finally drops the caches it reads, so the returned
      // frame is a pure cached-RDD scan, independent of e/nodes
      if (it == 0) ranks.count()
      (ranks, it, converged)
    } finally {
      e.unpersist(false)
      nodes.unpersist(false)
    }
  }

  /** Personalized PageRank (Page et al. 1999 §6 / Haveliwala 2002):
    * the teleport distribution concentrates on a SEED node set instead
    * of uniform —
    * {{{ r'(v) = (1-d)·s(v) + d · ( Σ_{(u,v)∈E} r(u)/deg(u) + dangling·s(v) ) }}}
    * with s uniform over the seeds (and the dangling mass returning to
    * them). The crawl-curation use: seed the set with trusted domains
    * and the stationary ranks score every page by linked-proximity to
    * them — the topic-focused selection prior. Seeds outside the graph
    * are ignored; with seeds = ALL nodes this is exactly [[pageRank]].
    *
    * Scale shape: identical to [[pageRank]] — both delegate to the ONE
    * shared power-iteration loop; the seed distribution is one extra
    * (node, s) column riding the update join, cached once. `tol` gives
    * the same L1-delta convergence early-stop as [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedIdCol: String, iters: Int,
                           damping: Double = 0.85,
                           tol: Double = 0.0): DataFrame =
    pageRankLoop(edges, srcCol, dstCol, iters, damping, tol,
      Some((seeds, seedIdCol)))._1

  /** Shared multi-source capped BFS: the discovered (u, v, d) pair frame
    * (shortest distances, d in 1..maxDepth) plus the node set and the
    * normalized persisted edge frame (caller unpersists). The frontier
    * of newly-discovered pairs expands one hop per iteration, an
    * anti-join against the seen set keeps distances minimal, and
    * localCheckpoint truncates both plans. State is the PAIR set —
    * O(n·ball), the exact test-scale baseline both consumers document.
    */
  private[graft] def discoveredPairs(edges: DataFrame, srcCol: String,
                              dstCol: String, maxDepth: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct()
    // LAZY checkpoints (r21): the while-condition's isEmpty probe is the
    // materializing action for each frontier — one job per hop instead
    // of two (eager materialization + probe); the seen union is a cheap
    // stack of cached-RDD scans that materializes inside the next hop's
    // job. Plans stay truncated either way.
    var frontier = e.select(col("a").as("u"), col("b").as("v"))
      .withColumn("d", lit(1)).localCheckpoint(false)
    var seen = frontier
    var depth = 1
    while (depth < maxDepth && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("v") === e("a"))
        .select(col("u"), col("b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .join(seen.select("u", "v"), Seq("u", "v"), "left_anti")
        .withColumn("d", lit(depth + 1))
      frontier = next.localCheckpoint(false)
      seen = seen.union(frontier).localCheckpoint(false)
      depth += 1
    }
    // materialize the final union before callers drop e — one cheap scan
    // over cached hop frames
    seen.count()
    (seen, nodes, e)
  }

  /** The UNDIRECTED simple edge set behind the triangle / link-prediction
    * operators: direction and duplicates collapsed to one (u, v) row with
    * u < v, self-loops dropped. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("__a"),
        col(dstCol).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .distinct()

  /** Per-node triangle counts over the UNDIRECTED simple graph (direction
    * and duplicate edges collapsed; self-loops dropped) — the clustering
    * signal of link-graph curation (link farms are triangle-dense;
    * organic link neighborhoods are not). Returns (node, triangles) for
    * every node of the graph, 0 included.
    *
    * Scale shape: the classic degree-ordered node-iterator (Schank &
    * Wagner 2005) — every edge is ORIENTED from its lower-(degree, id)
    * endpoint to the higher one, wedges come from ONE self-join of the
    * oriented list on the pivot, and each wedge closes against the
    * oriented list itself, so every triangle is found exactly once and
    * the wedge count is O(m^1.5) REGARDLESS of skew (a star graph makes
    * zero oriented wedges at its hub: all spokes point INTO it). The
    * wedge self-join and its closing join dominate the shuffle bill (the
    * degree/orientation prep is linear); no maxDegree cap needed — the
    * orientation IS the skew guard.
    */
  /** Enumerate every triangle of the UNDIRECTED simple edge set `und`
    * ((u, v) rows) exactly once as (p, q, r): edges orient from their
    * lower-(degree, id) endpoint, wedges come from one self-join of the
    * oriented list on the pivot, and each wedge closes against the
    * oriented list — the Schank & Wagner node-iterator whose
    * orientation IS the skew guard (a star's hub produces zero oriented
    * wedges). Shared by [[triangleCounts]] (and through it
    * [[clusteringCoefficients]]) and [[kTruss]]'s per-edge support. */
  private def trianglesOf(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): a -> b iff (deg(a), a) < (deg(b), b)
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val oriented = withDeg.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .localCheckpoint()
    // wedges around a pivot close into triangles against the oriented
    // list; each triangle appears exactly once (its lowest-rank corner
    // is the pivot)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.a").as("p"), col("x.b").as("q"), col("y.b").as("r"))
    wedges.join(
        oriented.select(col("a").as("q2"), col("b").as("r2"))
          .union(oriented.select(col("b").as("q2"), col("a").as("r2"))),
        col("q") === col("q2") && col("r") === col("r2"))
      .select("p", "q", "r")
      .localCheckpoint()
  }

  /** Per-node triangle counts over an already-normalized undirected
    * simple edge set (caller persists `und`) — the shared core of
    * [[triangleCounts]] and [[clusteringCoefficients]]. */
  private def triangleCountsOf(und: DataFrame): DataFrame = {
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
    val tris = trianglesOf(und)
    val perCorner = tris.select(col("p").as("node"))
      .union(tris.select(col("q").as("node")))
      .union(tris.select(col("r").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    nodes.join(perCorner, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize while the cache is alive: the result is n bounded
    // rows, and a lazy return would recompute the undirected dedup
    // after the unpersist (the clusteringCoefficients discipline)
    try triangleCountsOf(und).localCheckpoint()
    finally und.unpersist(false)
  }

  /** Per-edge triangle support of the UNDIRECTED simple edge set: each
    * triangle credits its three ID-sorted edges. Edges in no triangle
    * are absent (coalesce at the call site). */
  private def edgeSupport(und: DataFrame): DataFrame =
    trianglesOf(und).select(explode(array(
        struct(least(col("p"), col("q")).as("u"),
          greatest(col("p"), col("q")).as("v")),
        struct(least(col("q"), col("r")).as("u"),
          greatest(col("q"), col("r")).as("v")),
        struct(least(col("p"), col("r")).as("u"),
          greatest(col("p"), col("r")).as("v")))).as("t"))
      .groupBy(col("t.u").as("u"), col("t.v").as("v"))
      .agg(count(lit(1)).as("support"))

  /** k-truss of the UNDIRECTED simple graph (Cohen 2008): the maximal
    * subgraph in which EVERY edge participates in at least k−2
    * triangles of that same subgraph — the triangle-reinforced
    * refinement of [[kCore]] (a k-truss is always inside the
    * (k−1)-core, but ignores the degree padding that lets spam farms
    * survive a core cut). Returns the surviving edges as (u, v,
    * support) with u < v and `support` their triangle count IN the
    * truss.
    *
    * Scale shape: round-synchronous support peel — each round is one
    * [[trianglesOf]] pass (degree-ordered wedge join, O(m^1.5)
    * skew-proof) + one per-edge aggregate + one filter on the CURRENT
    * edge set, which only shrinks; rounds run through [[fixpoint]].
    * Exhaustion REFUSES loudly — an un-peeled superset is not a truss.
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             maxRounds: Int = 100): DataFrame = {
    require(k >= 2, s"kTruss: k must be >= 2: $k")
    require(maxRounds >= 1, s"kTruss: maxRounds must be >= 1: $maxRounds")
    // the stable round's support was computed over an edge set the
    // filter then left UNCHANGED — reuse it for the output instead of
    // paying the O(m^1.5) wedge pass once more after convergence
    var lastSup: Option[DataFrame] = None
    val (e, _, converged) = fixpoint(
        undirected(edges, srcCol, dstCol).localCheckpoint(), maxRounds) { cur =>
      val sup = edgeSupport(cur).localCheckpoint()
      lastSup = Some(sup)
      cur.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select("u", "v")
    }
    require(converged,
      s"kTruss: peel did not stabilize within $maxRounds rounds " +
        "(pathological peel depth — raise maxRounds)")
    e.join(lastSup.getOrElse(edgeSupport(e)), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Link-prediction scores over the UNDIRECTED simple graph: for every
    * node pair sharing at least `minCommon` neighbors, the three classic
    * proximity measures (Liben-Nowell & Kleinberg 2003) —
    * common-neighbor count, Adamic-Adar Σ 1/ln(deg z) over the shared
    * neighbors z, and neighborhood Jaccard |N∩N|/|N∪N| — plus an
    * `already_linked` flag so callers score either missing links (link
    * prediction proper) or existing ones (link-spam strength). Pairs
    * ordered id_a < id_b.
    *
    * Scale shape: pairs come from ONE wedge self-join on the pivot
    * (O(Σ deg²) — the inherent cost of enumerating co-neighbor pairs);
    * `maxDegree` drops hub pivots above the cap via a census + broadcast
    * anti-join BEFORE the join can square them (the minhash bucket-cap
    * pattern) — at web scale a celebrity hub contributes wedges
    * quadratically while carrying no link-prediction signal. When the
    * cap engages, common/Adamic-Adar count only non-hub shared
    * neighbors while the Jaccard denominator keeps EXACT degrees — the
    * standard conservative degradation (scores can only shrink).
    */
  def linkPredictionScores(edges: DataFrame, srcCol: String, dstCol: String,
                           minCommon: Long = 1,
                           maxDegree: Int = 10000): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    val und = undirected(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sym = und.select(col("u").as("z"), col("v").as("n"))
        .union(und.select(col("v").as("z"), col("u").as("n")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val deg = sym.groupBy("z").agg(count(lit(1)).as("deg"))
        val hubs = deg.filter(col("deg") > maxDegree).select("z")
        val kept = sym.join(broadcast(hubs), Seq("z"), "left_anti")
          .join(deg, "z")
        val pairs = kept.as("x").join(kept.as("y"),
            col("x.z") === col("y.z") && col("x.n") < col("y.n"))
          .select(col("x.n").as("id_a"), col("y.n").as("id_b"),
            col("x.deg").as("degz"))
        val scored = pairs.groupBy("id_a", "id_b").agg(
            count(lit(1)).as("common_neighbors"),
            sum(lit(1.0) / log(col("degz"))).as("adamic_adar"))
          .filter(col("common_neighbors") >= minCommon)
        val degA = deg.select(col("z").as("id_a"), col("deg").as("__da"))
        val degB = deg.select(col("z").as("id_b"), col("deg").as("__db"))
        scored.join(degA, "id_a").join(degB, "id_b")
          .join(und.select(col("u").as("id_a"), col("v").as("id_b"),
            lit(true).as("__adj")), Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"), col("common_neighbors"),
            col("adamic_adar"),
            (col("common_neighbors").cast("double") /
              (col("__da") + col("__db") - col("common_neighbors")))
              .as("jaccard"),
            coalesce(col("__adj"), lit(false)).as("already_linked"))
      } finally sym.unpersist(false)
    } finally und.unpersist(false)
  }

  /** The k-core of the UNDIRECTED simple graph (Seidman 1983): the
    * unique maximal subgraph in which every node has at least `k`
    * neighbors — the standard link-spam / collusion-ring signal (organic
    * link neighborhoods peel away at small k; boosting farms survive
    * deep cores). Returns (node, core_degree) for the members, where
    * `core_degree` is the node's degree INSIDE the core (≥ k by
    * definition).
    *
    * Scale shape: round-synchronous peeling — each round is ONE degree
    * aggregate over the surviving symmetric adjacency plus a semi-join
    * that drops nodes under k; the adjacency is re-checkpointed per
    * round (plan truncation, the pageRank discipline). Rounds = the peel
    * depth of the graph (real web graphs: tens); `maxRounds` caps a
    * pathological chain (a path graph peels one end per round) and the
    * fixpoint is detected by the surviving-edge count reaching
    * stability. Driver state: one count per round.
    */
  /** Truncated betweenness centrality (Brandes 2001), DIRECTED, over
    * shortest paths of length ≤ `maxDepth`:
    * {{{ bc(v) = Σ_{s≠v, t≠v} σ_st(v) / σ_st }}}
    * restricted to pairs within `maxDepth` hops — the bounded-distance
    * (k-)betweenness variant, the brokerage signal of link-graph
    * curation (which hosts sit on cross-community routes). Computed by
    * Brandes' two phases: a level-synchronous multi-source BFS carrying
    * the shortest-path COUNTS σ (a pair enters at its FIRST discovery
    * level; later levels are non-shortest and excluded by anti-join),
    * then the backward dependency accumulation
    * {{{ δ(s,v) = Σ_{(v,w)∈E, d(s,w)=d(s,v)+1} σ_sv/σ_sw · (1 + δ(s,w)) }}}
    * per level from the deepest down, with bc(v) = Σ_s δ(s,v) over
    * levels ≥ 1. Returns (node, betweenness) for every node, 0
    * included, rounded to 6.
    *
    * `pivots`: restrict sources to a sample frame (one `s` column) —
    * the Brandes–Pich estimator (scores scale by n/|pivots| in
    * expectation; returned UNSCALED so exact subsets compose). All
    * nodes by default.
    *
    * Scale shape: forward state is the discovered (source, node) pair
    * set — O(|pivots|·ball), the same deliberate exact-baseline cost
    * [[harmonicCentralityExact]] documents; each level is one join off
    * the u-partitioned edge cache + one sum aggregate + one anti-join
    * against the seen set; the backward pass replays one join + one
    * aggregate per level off the SAME cached level frames. At 100 TB
    * the pivot sample (hundreds of sources) is the published path —
    * state drops to O(pivots·ball) with the SAME code.
    */
  def betweennessCentrality(edges: DataFrame, srcCol: String,
                            dstCol: String, maxDepth: Int,
                            pivots: Option[DataFrame] = None): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 12,
      s"betweenness: maxDepth in [1, 12]: $maxDepth")
    val simple = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val e = simple.repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node"))).distinct()
        .localCheckpoint()
      val sources = pivots
        .map(_.select(col("s").cast("long").as("s")).distinct())
        .getOrElse(nodes.select(col("node").as("s")))
      // forward: levels(d) = (s, v, sigma) of pairs at distance exactly d.
      // LAZY checkpoints (r21): each level's isEmpty probe is its
      // materializing action (one job per level instead of two), and the
      // seen union is a stack of cached-RDD scans materialized inside
      // the next level's job.
      val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      levels += sources
        .select(col("s"), col("s").as("v"), lit(1.0).as("sigma"))
        .localCheckpoint(false)
      var seen = levels(0).select("s", "v").localCheckpoint(false)
      var d = 0
      var exhausted = false
      while (d < maxDepth && !exhausted) {
        val next = levels(d).join(e, levels(d)("v") === e("u"))
          .select(col("s"), e("v").as("__w"), col("sigma"))
          .groupBy(col("s"), col("__w").as("v"))
          .agg(sum("sigma").as("sigma"))
          .join(seen, Seq("s", "v"), "left_anti")
          .localCheckpoint(false)
        if (next.isEmpty) exhausted = true
        else {
          levels += next
          seen = seen.union(next.select("s", "v")).localCheckpoint(false)
          d += 1
        }
      }
      // backward: down = (s, v, sigma, delta) of the level below.
      // r21 fused fold (the pageRank/hyperBall pattern): the successor
      // contributions σ/σ_w·(1+δ_w) are UNIONED with one base row per
      // (s, v) of the level (zero contribution, carrying sigma) and a
      // single (s, v)-keyed aggregate folds delta and sigma together —
      // the left-outer update join of the r15–r20 shape (one more
      // exchange per level) is gone; every (s, v) has exactly one base
      // row, so max picks its sigma and sum is 0.0 — not null — for
      // path-terminal pairs, exactly the old coalesce.
      val contribs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var down = levels.last.withColumn("delta", lit(0.0))
      // level 0 is v == s: its deltas feed nothing and bc excludes it,
      // so the walk stops at level 1
      var k = levels.length - 2
      while (k >= 1) {
        val cur = levels(k)
        val grownRows = cur.join(e, cur("v") === e("u"))
          .select(col("s"), cur("v").as("v"), col("sigma"),
            e("v").as("__w"))
          .join(down.select(col("s"), col("v").as("__w"),
            col("sigma").as("__sw"), col("delta").as("__dw")),
            Seq("s", "__w"))
          .select(col("s"), col("v"),
            (col("sigma") / col("__sw") * (lit(1.0) + col("__dw")))
              .as("__c"),
            lit(null).cast("double").as("__sig"))
        val baseRows = cur.select(col("s"), col("v"), lit(0.0).as("__c"),
          col("sigma").as("__sig"))
        down = grownRows.unionByName(baseRows)
          .groupBy("s", "v")
          .agg(sum("__c").as("delta"), max("__sig").as("sigma"))
          .select(col("s"), col("v"), col("sigma"), col("delta"))
          .localCheckpoint()
        contribs += down.select("v", "delta")
        k -= 1
      }
      val bc =
        if (contribs.isEmpty) nodes.select(col("node"), lit(0.0).as("betweenness"))
        else contribs.reduce(_ union _)
          .groupBy(col("v").as("node"))
          .agg(sum("delta").as("__bc"))
          .join(nodes, Seq("node"), "right")
          .select(col("node"),
            coalesce(col("__bc"), lit(0.0)).as("betweenness"))
      bc.select(col("node"), round(col("betweenness"), 6).as("betweenness"))
    } finally e.unpersist(false)
  }

  /** Newman modularity decomposition of a labeling (Newman & Girvan
    * 2004): per community c,
    * {{{ Q_c = m_c/m − (D_c / 2m)² }}}
    * (m = undirected simple edge count, m_c = intra-community edges,
    * D_c = degree sum), with Q = Σ_c Q_c the labeling's modularity —
    * the standard quality score for [[labelPropagation]] output.
    * Returns one row per community: (community, n_nodes,
    * internal_edges, degree_sum, q_contrib). Nodes absent from `labels`
    * are ignored (their edges count toward m and degrees only if both
    * endpoints are labeled — pass a full labeling, as LPA produces).
    *
    * Scale shape: one degree aggregate, two node-keyed label joins on
    * the edge list, and two label-keyed aggregates; m is one O(1)
    * driver scalar.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol).localCheckpoint()
    val m = e.count()
    require(m > 0, "modularity: graph has no (non-self-loop) edges")
    val lab = labels.select(col(nodeCol).cast("long").as("node"),
      col(labelCol).cast("long").as("label"))
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dsum = deg.join(lab, "node")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("degree_sum"))
    val intra = e
      .join(lab.select(col("node").as("u"), col("label").as("__lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("__lv")), "v")
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    dsum.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)).cast("double") /
            lit(m.toDouble) -
          pow(col("degree_sum").cast("double") / lit(2.0 * m), 2), 6)
          .as("q_contrib"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of the
    * endpoint degrees over every edge, both orientations — positive on
    * hub-to-hub graphs, −1 on a star, ~0 on degree-uncorrelated graphs
    * (a crawl-shape diagnostic alongside [[graphCard]]). One scalar
    * row; a REGULAR graph has zero degree variance and an undefined
    * coefficient — emitted as 0.0 (documented convention, not NaN).
    *
    * Scale shape: one degree aggregate, two node-keyed joins of the
    * symmetric edge list against it, one 3-sum scalar aggregate —
    * exact integer sums, so the score is bit-reproducible.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val joined = sym
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), "v")
    joined.agg(count(lit(1)).as("__mm"),
        sum(col("__du")).as("__sx"),
        sum(col("__du") * col("__du")).as("__sxx"),
        sum(col("__du") * col("__dv")).as("__sxy"))
      .select(
        when(col("__mm") > 0 &&
            col("__sxx").cast("double") * col("__mm") >
              col("__sx").cast("double") * col("__sx"),
          (col("__sxy").cast("double") * col("__mm") -
            col("__sx").cast("double") * col("__sx")) /
            (col("__sxx").cast("double") * col("__mm") -
              col("__sx").cast("double") * col("__sx")))
          .otherwise(lit(0.0)).as("assortativity"))
      .select(round(col("assortativity"), 6).as("assortativity"))
  }

  /** Per-node local clustering coefficient over the UNDIRECTED simple
    * graph: lcc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), 0 where
    * deg < 2 — the closure density of each node's neighborhood (Watts &
    * Strogatz 1998), the per-node refinement of the triangle signal
    * [[triangleCounts]] feeds link-farm curation with. Returns
    * (node, degree, triangles, lcc) for every node of the graph.
    *
    * Scale shape: [[triangleCounts]] (degree-ordered wedge join, skew-
    * proof) plus one degree aggregate and one node-keyed equi-join of
    * two n-row frames — the triangle pass dominates; nothing here adds
    * a data-sized shuffle.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    // ONE normalized+persisted edge set feeds both the degree aggregate
    // and the triangle pass — no second data-sized distinct shuffle
    val und = undirected(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      triangleCountsOf(und)
        .join(deg, Seq("node"))
        .select(col("node"), col("degree"), col("triangles"),
          when(col("degree") >= 2,
            lit(2.0) * col("triangles") /
              (col("degree") * (col("degree") - lit(1))))
            .otherwise(lit(0.0)).as("lcc"))
        .localCheckpoint()
    } finally und.unpersist(false)
  }

  /** Global transitivity: 3 × triangles / wedges — equivalently
    * Σ_v triangles(v) / Σ_v C(deg(v), 2), since each triangle is counted
    * at its three corners. One scalar row (a wedge-free graph gets 0).
    */
  def transitivity(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame =
    clusteringCoefficients(edges, srcCol, dstCol)
      .agg(sum(col("triangles")).cast("double").as("__t"),
        sum(col("degree") * (col("degree") - lit(1)) / lit(2.0)).as("__w"))
      // explicit wedge guard: 0.0/0.0 is NaN (not null), so a coalesce
      // alone would leak NaN out of a wedge-free graph
      .select(when(col("__w") > 0, col("__t") / col("__w"))
        .otherwise(lit(0.0)).as("transitivity"))

  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val und = undirected(edges, srcCol, dstCol)
    val (sym, _, converged) = fixpoint(
        und.select(col("u").as("z"), col("v").as("n"))
          .union(und.select(col("v").as("z"), col("u").as("n")))
          .localCheckpoint(), maxRounds) { cur =>
      val keep = cur.groupBy("z").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("z")
      cur.join(keep, Seq("z"), "left_semi")
        .join(keep.withColumnRenamed("z", "n"), Seq("n"), "left_semi")
        .select("z", "n")
    }
    // an un-peeled superset is NOT a k-core — refuse loudly rather than
    // return a silently-wrong membership when the cap cuts the peel
    require(converged,
      s"kCore: peel did not stabilize within $maxRounds rounds " +
        "(pathological peel depth — raise maxRounds)")
    sym.groupBy(col("z").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Connected components of the UNDIRECTED simple graph (direction,
    * duplicate edges, and self-loops ignored): (node, component) for
    * every node of the edge list, where `component` is the SMALLEST node
    * id in the node's component — the canonical deterministic label.
    * Nodes whose every edge is a self-loop are their own singleton
    * component.
    *
    * Scale shape: FastSV-style parent-pointer rounds (Shiloach–Vishkin
    * lineage; Azad & Buluç 2019 "FastSV"). State is one (node, f) row per
    * node with the invariants f(v) <= v and f(v) ∈ component(v); each
    * round applies `jumps` pointer-jump (shortcut) compositions and then
    * one closed-neighborhood min-hook
    * {{{ f'(v) = min_{u ∈ N(v) ∪ {v}} g(u) }}}
    * via the ONCE-cached u-partitioned closed symmetric adjacency (the
    * lpaSetup shape), so g is consumed exactly once per round and no
    * barrier is needed. The jumps compose LINEARLY against the
    * checkpointed f (g := f ∘ g) rather than self-composing (g ∘ g):
    * self-composition doubles pointer depth per join but duplicates the
    * unmaterialized g subtree into both join sides — Catalyst executes
    * it twice per jump, exponentially in `jumps` — while the linear
    * form re-reads only the cheap checkpointed LogicalRDD. f is
    * monotone non-increasing and bounded below by the component
    * minimum; a fixpoint forces f idempotent and constant per
    * component, i.e. the canonical min labeling. Per-round label reach
    * multiplies by ~(jumps+2), so rounds are ~log_{jumps+2}(diameter):
    * the EDGE frame is shuffled once per round (the hook) and each jump
    * join moves only the node-sized pointer frame. `jumps = 0` is plain
    * min-label flooding, O(diameter) rounds with no jump joins — enough
    * on small-diameter graphs such as dedup clusters
    * ([[Dedup.connectedComponents]]); `jumps = 4` is the measured knee
    * on the sf0.1 bench chain graph. Rounds run through [[fixpoint]];
    * exhaustion refuses. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50, jumps: Int = 4): DataFrame =
    ccFastSVCore(edges, srcCol, dstCol, jumps, maxRounds)._1

  /** [[connectedComponents]] plus the number of rounds actually run,
    * the confirming round included — exposed so tests pin it. */
  private[graft] def ccFastSVCore(edges: DataFrame, srcCol: String,
                                  dstCol: String, jumps: Int,
                                  maxRounds: Int): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    require(jumps >= 0, s"jumps must be >= 0: $jumps")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val nodes = raw.select(col("a").as("node"))
      .union(raw.select(col("b").as("node"))).distinct()
      .localCheckpoint(false)
    // closed symmetric adjacency (u, v): both orientations of the simple
    // edge set plus one self row per node, partitioned on u and cached —
    // the hook join fetches g(u) there and emits candidates keyed by v
    val und = raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()
    val adj = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .union(nodes.select(col("node").as("u"), col("node").as("v")))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (f, rounds, converged) = fixpoint(
          nodes.select(col("node"), col("node").as("f")).localCheckpoint(false),
          maxRounds)(fastSVRound(adj, _, jumps))
      require(converged,
        s"connectedComponents: did not converge within $maxRounds rounds")
      (f.select(col("node"), col("f").as("component")), rounds)
    } finally adj.unpersist(false)
  }

  /** One FastSV round — the loop body of [[connectedComponents]],
    * exposed `private[graft]` so the plan artifacts and audits pin the
    * PRODUCTION round shape. `adj` is the cached u-partitioned closed
    * symmetric adjacency (u, v); `f` the checkpointed (node, f) state. */
  private[graft] def fastSVRound(adj: DataFrame, f: DataFrame,
                                 jumps: Int): DataFrame = {
    // shortcut: g := f ∘ g, `jumps` times (pointer depth jumps + 1;
    // linear composition against the CHECKPOINTED f — see scaladoc)
    var g = f
    for (_ <- 0 until jumps) {
      g = g.select(col("node"), col("f").as("__j"))
        .join(f.select(col("node").as("__j"), col("f")), "__j")
        .select(col("node"), col("f"))
    }
    // hook: one pass over the cached closed adjacency — the self row
    // carries g(v) itself, so min over the group IS min(g(v), nbrs)
    adj.join(g.select(col("node").as("u"), col("f").as("__g")), "u")
      .groupBy(col("v").as("node"))
      .agg(min(col("__g")).as("f"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) on the DIRECTED simple
    * graph: `iters` synchronous rounds of
    * {{{ a'(v) = Σ_{(u,v)∈E} h(u);  h'(u) = Σ_{(u,v)∈E} a'(v) }}}
    * from h = 1, with the L1 normalization applied ONCE at the end
    * instead of per round — the iterates stay INTEGER-valued (exact in
    * doubles up to 2^53), so the result is bit-reproducible and
    * SQL-oracle-checkable, and the final scores are identical to the
    * per-round-normalized fixpoint trajectory (normalization is a global
    * scalar; it commutes with the linear updates). Returns (node, hub,
    * auth), each column summing to 1. Exactness is DEGREE-DEPENDENT:
    * growth is ~(co-citation degree)^(2·iters), so the `iters` <= 16 cap
    * alone does not keep dense graphs inside the exact-integer double
    * range — the final aggregate therefore CHECKS the max unnormalized
    * iterate against 2^53 (sound because per-node iterates are
    * nondecreasing) and refuses loudly on overflow instead of silently
    * returning drifted, non-reproducible scores.
    *
    * Scale shape: the edge list is cached TWICE — once partitioned on
    * src (the auth update joins hubs there) and once on dst (the hub
    * update joins the fresh auths there) — so neither per-iteration join
    * re-exchanges the data-sized side; each iteration is those two joins
    * plus two key-local aggregates, O(1) driver state, localCheckpoint
    * plan truncation (the [[pageRank]] discipline).
    */
  /** The closed symmetric adjacency [[labelPropagation]] iterates over:
    * both orientations of the simple undirected edge set plus one
    * (z, z) self row per node, repartitioned on the NEIGHBOR key `n`
    * (the per-iteration join fetches each neighbor's current label
    * there) and cached. Returns (adj, nodes). */
  private[graft] def lpaSetup(edges: DataFrame, srcCol: String,
                              dstCol: String): (DataFrame, DataFrame) = {
    val und = undirected(edges, srcCol, dstCol)
    val sym = und.select(col("u").as("z"), col("v").as("n"))
      .union(und.select(col("v").as("z"), col("u").as("n")))
    val nodes = edges.select(col(srcCol).cast("long").as("z"))
      .union(edges.select(col(dstCol).cast("long").as("z")))
      .filter(col("z").isNotNull).distinct()
    val adj = sym.union(nodes.select(col("z"), col("z").as("n")))
      .repartition(col("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (adj, nodes)
  }

  /** One synchronous LPA round: every node's new label is the most
    * frequent label over its closed neighborhood (neighbors + one vote
    * for its own current label), ties toward the SMALLEST label —
    * max_by over the (count, -label) struct makes the argmax total, so
    * the round is a pure deterministic function of the previous state.
    * Joins the n-partitioned adjacency cache on its key; the plan audit
    * asserts the cache enters without re-exchange. */
  private[graft] def lpaStep(adj: DataFrame, state: DataFrame): DataFrame =
    adj.join(state.select(col("node").as("n"), col("label").as("__nl")), "n")
      .groupBy(col("z"), col("__nl")).agg(count(lit(1)).as("__c"))
      .groupBy(col("z").as("node"))
      .agg(max_by(col("__nl"),
        struct(col("__c"), negate(col("__nl")))).as("label"))

  /** Label-propagation community detection (Raghavan et al. 2007) on
    * the UNDIRECTED simple graph, made DETERMINISTIC: synchronous
    * rounds of [[lpaStep]] from label(v) = v, each node adopting the
    * most frequent label in its CLOSED neighborhood (self included as
    * one vote), ties toward the smallest label. The self-vote plus the
    * total tie-break kill the textbook 2-cycle oscillation of
    * synchronous LPA (an isolated edge settles on its smaller endpoint
    * instead of swapping labels forever), and every round is a pure
    * function of the last — the whole trajectory is reproducible and
    * SQL-replayable. Returns (node, label) for every node of the edge
    * list (self-loop-only nodes keep their own id).
    *
    * Stops at the labels' fixpoint ([[fixpoint]]) or after `maxIters`.
    * A fixpoint is invariant under further rounds, so early-stop is
    * observationally identical to running the budget out
    * (which is what lets a fixed-depth SQL oracle replay an
    * early-stopped run). LPA is a heuristic: unlike a half-peeled
    * k-core, an iteration-capped labeling is still a valid LPA state,
    * so exhaustion returns it rather than refusing.
    *
    * Scale shape: the adjacency is built/cached ONCE partitioned on the
    * join key ([[lpaSetup]]); each round is one cache-local join plus
    * two hash-aggregates (label counts, then the max_by argmax), O(1)
    * driver state, localCheckpoint plan truncation — the pageRank/HITS
    * loop discipline.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    val (adj, nodes) = lpaSetup(edges, srcCol, dstCol)
    // fixpoint returns a materialized checkpoint scan, independent of
    // the adjacency cache the finally drops; exhaustion returns the
    // capped labeling
    try fixpoint(
        nodes.select(col("z").as("node"), col("z").as("label"))
          .localCheckpoint(false), maxIters)(lpaStep(adj, _))._1
    finally adj.unpersist(false)
  }

  /** One FUSED HITS auth half-step (r22 — the pageRank fusedStep fold):
    * hub contributions (state ⋈ src-partitioned edge cache, keyed by
    * dst) union one base row per node (zero contribution, the carried
    * hub), and a single node-keyed aggregate folds the auth sum and the
    * hub carry — no left-outer update join, one exchange per half-step.
    * Every node has exactly one base row (state ⊇ nodes throughout), so
    * max(__hub) picks it and sum(__c) is 0.0 — not null — for
    * in-degree-0 nodes, exactly the old coalesce. Iterates are
    * exact-integer doubles (< 2^53, audited), so folding the extra 0.0
    * terms and any partial-merge reordering is BIT-identical. Returns
    * the full (node, hub, auth) next state; the audit asserts no
    * re-exchange of the edge side. */
  private[graft] def hitsAuthStep(eSrc: DataFrame, state: DataFrame): DataFrame =
    eSrc.join(state.select(col("node").as("src"), col("hub")), "src")
      .select(col("dst").as("node"), col("hub").as("__c"),
        lit(null).cast("double").as("__hub"))
      .unionByName(state.select(col("node"), lit(0.0).as("__c"),
        col("hub").as("__hub")))
      .groupBy("node")
      .agg(max("__hub").as("hub"), sum("__c").as("auth"))

  /** The other fused half-step: fresh authorities flow back along
    * in-edges into hub sums off the dst-partitioned edge cache, with
    * the auth carry riding the same fold. */
  private[graft] def hitsHubStep(eDst: DataFrame, withAuth: DataFrame): DataFrame =
    eDst.join(withAuth.select(col("node").as("dst"), col("auth")), "dst")
      .select(col("src").as("node"), col("auth").as("__c"),
        lit(null).cast("double").as("__auth"))
      .unionByName(withAuth.select(col("node"), lit(0.0).as("__c"),
        col("auth").as("__auth")))
      .groupBy("node")
      .agg(sum("__c").as("hub"), max("__auth").as("auth"))

  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters in [1, 16]: $iters")
    val simple = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val eSrc = simple.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = simple.repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = simple.select(col("src").as("node"))
        .union(simple.select(col("dst").as("node"))).distinct()
      var state = nodes.select(col("node"), lit(1.0).as("hub"),
        lit(1.0).as("auth")).localCheckpoint()
      var it = 0
      while (it < iters) {
        // each fused half-step is one join + one fold aggregate; the
        // eager checkpoint stays — the half-step output feeds both the
        // next half-step's join and its base rows (two consumers)
        val withAuth = hitsAuthStep(eSrc, state).localCheckpoint()
        state = hitsHubStep(eDst, withAuth).localCheckpoint()
        it += 1
      }
      // the one normalization: two exact-integer sums, then scan-side
      // division (a zero sum means the side has no edges at all — every
      // score is 0 and stays 0). The same job audits the exactness
      // claim: per-node iterates are NONDECREASING (each value is a sum
      // of nonnegative previous-half-step values that include its own
      // predecessor's contribution), so the final max bounds every
      // intermediate — a max past 2^53 means some iterate left the
      // exact-integer double range and the bit-reproducibility / oracle
      // contract is void; refuse loudly instead of returning drifted
      // scores.
      val sums = state.agg(coalesce(sum("hub"), lit(0.0)),
        coalesce(sum("auth"), lit(0.0)),
        coalesce(greatest(max("hub"), max("auth")), lit(0.0))).head()
      val (hs, as) = (sums.getDouble(0), sums.getDouble(1))
      // STRICT bound: a computed max of exactly 2^53 is ambiguous — a
      // true iterate of 2^53+1 rounds to 2^53 under ties-to-even, so
      // equality cannot prove exactness; refuse it too
      val exactMax = 9007199254740992.0 // 2^53
      require(sums.getDouble(2) < exactMax,
        s"hits: unnormalized iterate ${sums.getDouble(2)} exceeds 2^53 — " +
          s"growth is ~(co-citation degree)^(2·iters), so on this graph " +
          s"$iters iterations leave the exact-integer double range; " +
          "re-run with fewer iters")
      state.select(col("node"),
        (if (hs > 0) col("hub") / hs else lit(0.0)).as("hub"),
        (if (as > 0) col("auth") / as else lit(0.0)).as("auth"))
    } finally {
      eSrc.unpersist(false)
      eDst.unpersist(false)
    }
  }

  /** Strongly connected components of the DIRECTED simple graph — the
    * bow-tie decomposition of web-graph analysis (Broder 2000: a crawl's
    * giant SCC vs its IN/OUT tendrils is a standard corpus-shape
    * diagnostic; [[connectedComponents]] answers the UNDIRECTED
    * question). Returns (node, component) with `component` = the
    * smallest node id in the node's SCC.
    *
    * Scale shape: the parallel COLORING algorithm (Orzan 2004; the
    * FW-BW family — Slota et al. 2014): each round (1) flood-fills max
    * node ids FORWARD along edges to a fixpoint — color(v) = the
    * largest id that reaches v; (2) every color ROOT (color(r) = r)
    * marks its SCC by a BACKWARD flood restricted to its own color
    * region (correct because every node on a v→root path provably
    * carries the root's color); (3) assigned SCCs leave the residual
    * graph. Rounds = the number of "peel layers" of the SCC DAG along
    * descending roots — small on real graphs. `maxRounds`/`maxIters`
    * exhaustion REFUSES loudly (the kCore contract) rather than
    * returning a partial labeling.
    *
    * r22 inner loops: the forward flood is the [[connectedComponents]]
    * FastSV shape with MAX semantics — `jumps` linear pointer-jump
    * compositions against the checkpointed color (sound because
    * color(v) always names an id that REACHES v, and reach composes),
    * then one max-hook over the closed in-adjacency (self rows ride the
    * per-round edge rebuild, so the jumped frame is consumed exactly
    * once) — inner steps drop from O(color diameter) to
    * ~log_{jumps+2}(diameter), each one edge pass. The fixpoint is the
    * same max-reaching coloring (ascent + witness argument mirror the
    * FastSV min proof). The backward flood advances a FRONTIER (the
    * last layer's predecessors) instead of re-joining the full member
    * set every step — identical BFS closure, predecessors of older
    * layers were already resolved when their layer was the frontier.
    * The forward flood runs through [[fixpoint]]; the backward flood
    * stops on an exact empty-frontier count. Both draw on one shared
    * budget of `maxIters` inner steps.
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
                                  dstCol: String, maxRounds: Int = 25,
                                  maxIters: Int = 300,
                                  jumps: Int = 0): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    require(jumps >= 0, s"jumps must be >= 0: $jumps")
    val raw = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    val allNodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node"))).distinct()
      .localCheckpoint()
    // ONE edge frame: the CLOSED forward adjacency (simple edges plus
    // one self row per node), u-partitioned — the self row carries the
    // node's own jumped color through the max-hook, so the jumped frame
    // has exactly one consumer (the FastSV discipline — no update join,
    // no barrier). The backward flood reads the per-round eVsame frame
    // derived below; the r21 separate v-partitioned edge cache is gone.
    val simple = raw.filter(col("u") =!= col("v")).distinct()
    var e = simple
      .union(allNodes.select(col("node").as("u"), col("node").as("v")))
      .repartition(col("u")).localCheckpoint()
    var nodes = allNodes
    var assigned: DataFrame = null
    var remaining = nodes.count()
    var rounds = 0
    var itersLeft = maxIters
    while (remaining > 0 && rounds < maxRounds) {
      // (1) forward max-color flood to fixpoint — FastSV shape: `jumps`
      // linear compositions against the checkpointed color (reach
      // composes, so jumped candidates stay sound witnesses; 0 is the
      // measured sf0.1 knee — the bench graph's color diameter is ~5, so
      // extra jump joins cost more than the steps they save; deep-chain
      // graphs at scale are where jumps > 0 pays), then one max-hook
      // over the closed in-adjacency
      val (color, steps, flooded) = fixpoint(
          nodes.select(col("node"), col("node").as("color"))
            .localCheckpoint(false), itersLeft) { cur =>
        var g = cur
        for (_ <- 0 until jumps) {
          g = g.select(col("node"), col("color").as("__j"))
            .join(cur.select(col("node").as("__j"), col("color")), "__j")
            .select(col("node"), col("color"))
        }
        e.join(g.select(col("node").as("u"), col("color").as("__c")), "u")
          .groupBy(col("v").as("node")).agg(max("__c").as("color"))
      }
      itersLeft -= steps
      require(flooded,
        s"stronglyConnectedComponents: color flood did not converge " +
          s"within $maxIters total inner steps (raise maxIters)")
      // (2) backward membership flood from each color root, restricted
      // to the root's color region — FRONTIER-based: each step joins
      // only the newest layer (predecessors of older layers were
      // resolved when their layer was the frontier). The per-step color
      // join stays (NOT pre-resolved into a per-round same-color edge
      // frame: that variant was measured ~25% SLOWER at sf0.1 — the
      // build pays three exchanges per round to replace a join the
      // planner runs as a cheap broadcast; see OPTIMIZATION_r22.md).
      // The backward frame is the closed adjacency minus self rows,
      // v-partitioned and checkpointed once per round so the per-step
      // frontier join never re-exchanges the edge side.
      val eV = e.filter(col("u") =!= col("v"))
        .repartition(col("v")).localCheckpoint()
      var member = color.filter(col("node") === col("color"))
        .localCheckpoint(false)
      var frontier = member
      var grew = 1L
      while (grew > 0 && itersLeft > 0) {
        // LAZY checkpoint: the grew-count materializes the step
        val pred = eV.join(
            frontier.select(col("node").as("v"), col("color").as("__mc")), "v")
          .select(col("u").as("node"), col("__mc"))
          .join(color, Seq("node"))
          .filter(col("color") === col("__mc"))
          .select(col("node"), col("color")).distinct()
          .join(member, Seq("node"), "left_anti")
          .localCheckpoint(false)
        grew = pred.count()
        if (grew > 0) {
          member = member.union(pred).localCheckpoint(false)
          frontier = pred
        }
        itersLeft -= 1
      }
      require(grew == 0,
        s"stronglyConnectedComponents: membership flood did not converge " +
          s"within $maxIters total inner steps (raise maxIters)")
      assigned =
        if (assigned == null) member else assigned.union(member)
      // (3) peel the assigned SCCs out of the residual graph; self rows
      // of surviving nodes survive the semi-joins, so the closed forward
      // adjacency stays closed. The rebuild is SKIPPED when nothing
      // remains — the last round's edge frame has no reader.
      nodes = nodes.join(member.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(false)
      remaining = nodes.count()
      if (remaining > 0) {
        val keep = nodes.select(col("node"))
        e = e
          .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
          .select("u", "v")
          .repartition(col("u")).localCheckpoint()
      }
      rounds += 1
    }
    require(remaining == 0,
      s"stronglyConnectedComponents: $remaining nodes unassigned after " +
        s"$maxRounds rounds (raise maxRounds)")
    if (assigned == null) // empty graph: nothing was ever flooded
      return allNodes.select(col("node"), col("node").as("component"))
    // canonical labels: the smallest id in each SCC (the
    // connectedComponents convention), not the coloring root
    val rel = assigned.groupBy("color").agg(min("node").as("component"))
    assigned.join(rel, "color").select(col("node"), col("component"))
  }

  /** One-row dataset card for a DIRECTED link graph — the
    * [[graft.ops.TextAnalysis]] corpus-report analog for edge lists
    * (node/edge counts, self-loop and duplicate volume, reciprocity,
    * degree extremes, density): the first thing to look at before
    * pointing the iterative operators at a crawl. All plain aggregates
    * plus ONE self-join for reciprocity (matching reverse edges) — no
    * iteration, exactly SQL-reproducible.
    *
    * Columns: n_nodes, n_edges (simple directed, self-loops dropped),
    * n_self_loops, n_dup_edges (raw − distinct, self-loops excluded),
    * n_reciprocal (directed simple edges whose reverse also exists),
    * reciprocity (= n_reciprocal / n_edges, 0 on empty), max_out_deg,
    * max_in_deg, density (= n_edges / (n·(n−1)), 0 on < 2 nodes),
    * rounded to 6.
    */
  def graphCard(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    val nonSelf = raw.filter(col("u") =!= col("v"))
    // the simple edge set feeds FIVE branches of the one-row report —
    // localCheckpoint materializes it once instead of five scans
    val simple = nonSelf.distinct().localCheckpoint()
    locally {
      val nodes = raw.select(col("u").as("node"))
        .union(raw.select(col("v").as("node"))).distinct()
      val recip = simple.as("e").join(simple.as("r"),
          col("e.u") === col("r.v") && col("e.v") === col("r.u"), "left_semi")
        .agg(count(lit(1)).as("n_reciprocal"))
      val degs = simple.groupBy("u").agg(count(lit(1)).as("d"))
        .agg(coalesce(max("d"), lit(0L)).as("max_out_deg"))
        .crossJoin(simple.groupBy("v").agg(count(lit(1)).as("d"))
          .agg(coalesce(max("d"), lit(0L)).as("max_in_deg")))
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(simple.agg(count(lit(1)).as("n_edges")))
        .crossJoin(raw.filter(col("u") === col("v"))
          .agg(count(lit(1)).as("n_self_loops")))
        .crossJoin(nonSelf.agg(count(lit(1)).as("__n_raw")))
        .crossJoin(recip)
        .crossJoin(degs)
        .select(col("n_nodes"), col("n_edges"), col("n_self_loops"),
          (col("__n_raw") - col("n_edges")).as("n_dup_edges"),
          col("n_reciprocal"),
          round(when(col("n_edges") > 0,
            col("n_reciprocal").cast("double") / col("n_edges"))
            .otherwise(0.0), 6).as("reciprocity"),
          col("max_out_deg"), col("max_in_deg"),
          round(when(col("n_nodes") > 1,
            col("n_edges").cast("double") /
              (col("n_nodes") * (col("n_nodes") - 1)))
            .otherwise(0.0), 6).as("density"))
    }
  }

  /** Deterministic random walks over the DIRECTED simple graph — the
    * DeepWalk / node2vec preprocessing step (Perozzi 2014: truncated
    * walks feed a skip-gram embedder exactly like token windows do; the
    * engine's walk output composes with the co-occurrence + embedding
    * ops the same way). `walksPerNode` walks start at EVERY node; each
    * step moves to the out-neighbor minimizing the seed-fixed
    * `xxhash64(seed, start, walk, step, v)` — a uniform-at-each-step
    * choice (keyed per walk-step so walks decorrelate)
    * that is REPRODUCIBLE across runs and partitionings (the engine's
    * standard derandomization: census-seeded ranks, salted probes, HLL
    * hashes all use the same trick). Walks stop early at sinks. Returns
    * one row per walk: (start, walk, n_steps, path) with `path` the
    * comma-joined node sequence (scalar, comparator-safe), starting at
    * `start`, n_steps = path length − 1 ≤ `length`.
    *
    * Scale shape: the frontier frame is (walk key, cur) — O(n ·
    * walksPerNode) rows regardless of step; each step is ONE join
    * against the src-partitioned cached edge list + one per-walk
    * `min_by` aggregate, localCheckpoint-truncated (the [[pageRank]]
    * discipline). The path string grows O(step) per row — the same
    * payload a trainer consumes, carried not recomputed.
    */
  /** One walk step: frontier ⋈ cached edges on the current node, then
    * the per-walk hash-argmin neighbor choice. The only data-sized join
    * per step; the audit asserts the u-partitioned edge cache enters it
    * without re-exchanging (the frontier side re-keys on `cur` each
    * step — that exchange is the algorithm, the edge one would be
    * waste). */
  private[graft] def walkStep(e: DataFrame, state: DataFrame, step: Int,
                              seed: Long): DataFrame =
    state.join(e, state("cur") === e("u"))
      .groupBy("start", "walk")
      .agg(min_by(col("v"),
        xxhash64(lit(seed), col("start"), col("walk"), lit(step),
          col("v"))).as("nxt"))

  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  length: Int, walksPerNode: Int = 1,
                  seed: Long = 42L): DataFrame = {
    require(length >= 1 && length <= 100, s"length in [1, 100]: $length")
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"walksPerNode in [1, 64]: $walksPerNode")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node"))).distinct()
      val walkIds = spark.range(walksPerNode).select(col("id").cast("int").as("walk"))
      var state = nodes.crossJoin(broadcast(walkIds))
        .select(col("node").as("start"), col("walk"), col("node").as("cur"),
          col("node").cast("string").as("path"), lit(0).as("n_steps"))
        .localCheckpoint()
      var step = 0
      while (step < length) {
        val moved = walkStep(e, state, step, seed)
        state = state.join(moved, Seq("start", "walk"), "left")
          .select(col("start"), col("walk"),
            coalesce(col("nxt"), col("cur")).as("cur"),
            when(col("nxt").isNotNull,
              concat(col("path"), lit(","), col("nxt").cast("string")))
              .otherwise(col("path")).as("path"),
            (col("n_steps") +
              when(col("nxt").isNotNull, 1).otherwise(0)).as("n_steps"))
          .localCheckpoint()
        step += 1
      }
      state.select("start", "walk", "n_steps", "path")
    } finally e.unpersist(false)
  }

  /** One node2vec step: candidates are `cur`'s out-edges; each carries
    * the Grover–Leskovec 2016 second-order weight — 1/p for returning
    * to `prev`, 1 for a candidate ADJACENT to `prev` (triangle-closing;
    * adjacency tested against the symmetric edge set), 1/q otherwise —
    * and the move is a deterministic EXPONENTIAL RACE: key(x) =
    * −ln(u)/w(x) with u ∈ (0,1) hashed from (seed, start, walk, step,
    * x), argmin key. The race samples exactly ∝ w (the Gumbel/
    * exponential-clock trick), is reproducible given the seed, and
    * needs no per-node alias table — the O(Σ deg²) precomputed-
    * transition state of reference node2vec implementations never
    * materializes. */
  private[graft] def node2vecStep(eU: DataFrame, sym: DataFrame,
                                  state: DataFrame, step: Int, seed: Long,
                                  p: Double, q: Double): DataFrame = {
    val cand = state.join(eU, state("cur") === eU("u"))
      .select(col("start"), col("walk"), col("prev"), col("cur"),
        col("v").as("x"))
    val flagged = cand.join(
      sym.select(col("u").as("prev"), col("v").as("x"),
        lit(true).as("__nbr")),
      Seq("prev", "x"), "left")
    val w = when(col("x") === col("prev"), lit(1.0 / p))
      .when(col("__nbr").isNotNull, lit(1.0))
      .otherwise(lit(1.0 / q))
    // u is strictly inside (0,1): pmod yields [0, 2^52), +1 / (2^52+2)
    // keeps both endpoints out, so the key is always finite and > 0
    val u01 = (pmod(xxhash64(lit(seed), col("start"), col("walk"),
        lit(step), col("x")), lit(1L << 52)).cast("double") + 1.0) /
      ((1L << 52).toDouble + 2.0)
    flagged.withColumn("__key", -log(u01) / w)
      .groupBy("start", "walk")
      .agg(min_by(col("x"), col("__key")).as("nxt"))
  }

  /** node2vec biased walks (Grover & Leskovec 2016): second-order
    * truncated walks where the next hop remembers the PREVIOUS node —
    * return probability scales with 1/p, triangle-closing moves weigh
    * 1, outward exploration 1/q — so p ≫ 1 gives DFS-ish outward walks
    * and q ≫ 1 keeps walks local (BFS-ish), the knob DeepWalk lacks.
    * Directed edges are walked as given; the prev-adjacency test uses
    * the SYMMETRIC edge set (node2vec is defined on undirected
    * neighborhoods). The first hop is uniform (prev = start has no
    * meaning yet: every candidate is adjacent to it, weight 1).
    * Deterministic: the weighted choice is an exponential race keyed by
    * xxhash64 (exact ∝-w sampling, seed-reproducible — see
    * [[node2vecStep]]); same output schema as [[randomWalks]]
    * ((start, walk, n_steps, path), sinks stop early).
    *
    * Scale shape: per step, ONE join off the u-partitioned cached edge
    * list (frontier re-keys on cur — that IS the algorithm), ONE
    * (prev, x)-keyed adjacency-flag join off the (u, v)-partitioned
    * symmetric cache, and one per-walk argmin aggregate; state is O(n ·
    * walksPerNode) rows carrying the path string as the product;
    * localCheckpoint truncation per step. The second join is the honest
    * price of second-order walks — the alternative (per-node alias
    * tables over neighbor pairs) is O(Σ deg²) precomputed state, which
    * a skewed 100 TB graph cannot afford.
    */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
                    length: Int, p: Double, q: Double,
                    walksPerNode: Int = 1, seed: Long = 42L): DataFrame = {
    require(length >= 1 && length <= 100, s"length in [1, 100]: $length")
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"walksPerNode in [1, 64]: $walksPerNode")
    require(p > 0 && q > 0, s"p and q must be > 0: p=$p q=$q")
    val spark = edges.sparkSession
    val simple = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val eU = simple.repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = simple.union(simple.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(col("u"), col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = eU.select(col("u").as("node"))
        .union(eU.select(col("v").as("node"))).distinct()
      val walkIds = spark.range(walksPerNode)
        .select(col("id").cast("int").as("walk"))
      var state = nodes.crossJoin(broadcast(walkIds))
        .select(col("node").as("start"), col("walk"),
          col("node").as("prev"), col("node").as("cur"),
          col("node").cast("string").as("path"), lit(0).as("n_steps"))
        .localCheckpoint()
      var step = 0
      while (step < length) {
        val moved = node2vecStep(eU, sym, state, step, seed, p, q)
        state = state.join(moved, Seq("start", "walk"), "left")
          .select(col("start"), col("walk"),
            // prev advances to the OLD cur only when the walk moved
            when(col("nxt").isNotNull, col("cur")).otherwise(col("prev"))
              .as("prev"),
            coalesce(col("nxt"), col("cur")).as("cur"),
            when(col("nxt").isNotNull,
              concat(col("path"), lit(","), col("nxt").cast("string")))
              .otherwise(col("path")).as("path"),
            (col("n_steps") +
              when(col("nxt").isNotNull, 1).otherwise(0)).as("n_steps"))
          .localCheckpoint()
        step += 1
      }
      state.select("start", "walk", "n_steps", "path")
    } finally {
      eU.unpersist(false)
      sym.unpersist(false)
    }
  }

  /** EXACT truncated harmonic centrality
    * {{{ h(v) = Σ_{u ≠ v, d(u,v) ≤ maxDepth} 1 / d(u,v) }}}
    * (directed shortest-path distance INTO v) — the centrality Common
    * Crawl publishes for its host ranking, computed by the shared
    * [[discoveredPairs]] multi-source BFS.
    *
    * Scale shape: state is the DISCOVERED PAIR set — O(n·ball) rows,
    * quadratic on a well-connected graph — so this is the exact
    * test-scale baseline (the [[Similarity]] brute-force-top-k
    * precedent), there to pin oracles and to calibrate
    * [[harmonicCentralityHyperBall]], which is the 100 TB path.
    */
  def harmonicCentralityExact(edges: DataFrame, srcCol: String,
                              dstCol: String, maxDepth: Int): DataFrame = {
    val (seen, nodes, e) = discoveredPairs(edges, srcCol, dstCol, maxDepth)
    val out = nodes.join(
        seen.groupBy("v").agg(sum(lit(1.0) / col("d")).as("harmonic")),
        nodes("node") === col("v"), "left")
      .select(col("node"), coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
    e.unpersist(false)
    out
  }

  /** EXACT truncated neighbourhood function (Palmer et al. 2002's ANF,
    * computed exactly): N(r) = Σ_v |B_r(v)| — the number of (source,
    * target) pairs within distance r, self-pairs included (N(0) = n).
    * One row per radius 0..maxDepth, off the shared [[discoveredPairs]]
    * BFS with its test-scale-baseline caveat.
    * [[neighborhoodFunctionHyperBall]] is the 100 TB path;
    * [[effectiveDiameter]] derives the headline scalar.
    */
  def neighborhoodFunctionExact(edges: DataFrame, srcCol: String,
                                dstCol: String, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    val (seen, nodes, e) = discoveredPairs(edges, srcCol, dstCol, maxDepth)
    val n = nodes.count()
    val perDepth = seen.groupBy("d").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    e.unpersist(false)
    // cumulative in the driver over <= maxDepth scalars
    val rows = (0 until maxDepth).scanLeft((0L, n)) { case ((r0, acc), _) =>
      (r0 + 1, acc + perDepth.getOrElse(r0.toInt + 1, 0L))
    }
    import spark.implicits._
    rows.toDF("r", "pairs")
  }

  /** Effective diameter at quantile `q` from a neighbourhood function
    * (the ANF headline number): the interpolated radius where N(r)
    * first reaches q · N(maxDepth) — truncated, like the function
    * itself. Driver-side over maxDepth + 1 scalars. */
  def effectiveDiameter(nf: DataFrame, q: Double = 0.9): Double = {
    require(q > 0 && q <= 1, s"q in (0, 1]: $q")
    val pts = nf.select(col("r").cast("long"), col("pairs").cast("double"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    require(pts.nonEmpty, "effectiveDiameter: empty neighbourhood function")
    val target = q * pts.last._2
    val i = pts.indexWhere(_._2 >= target)
    if (i <= 0) 0.0
    else {
      val (r0, p0) = pts(i - 1); val (r1, p1) = pts(i)
      if (p1 == p0) r1.toDouble
      else r0 + (r1 - r0) * (target - p0) / (p1 - p0)
    }
  }

  /** HyperBall (Boldi & Vigna 2013): truncated harmonic centrality via
    * per-node HyperLogLog counters. Each node carries m = 2^logM
    * one-byte registers estimating |B_r(v)| = |{u : d(u,v) ≤ r}|; one
    * synchronous iteration merges every in-neighbor's counter into v's
    * (registers are element-wise max, so the merge is a commutative
    * partial aggregate), and the harmonic sum accumulates
    * (|B_r| − |B_{r−1}|) / r. Deterministic: node hashes are seed-fixed
    * xxhash64, so results are partitioning-invariant and repeatable.
    * Standard error ~1.04/√m (≈9% at the default logM = 7).
    *
    * Scale shape — this is the 100 TB path the exact baseline
    * calibrates: per iteration ONE join of the edge list (repartitioned
    * on dst once, cached, reused) with the m-bytes-per-node counter
    * frame plus one hash-aggregate merge; state is O(n·m) bytes total,
    * driver state O(1), and localCheckpoint truncates the plan per
    * iteration exactly like [[pageRank]].
    */
  def harmonicCentralityHyperBall(edges: DataFrame, srcCol: String,
                                  dstCol: String, maxDepth: Int,
                                  logM: Int = 7): DataFrame = {
    val (e, _, estU, hllMerge, init) =
      hyperBallSetup(edges, srcCol, dstCol, maxDepth, logM)
    var state = init.withColumn("h", lit(0.0)).localCheckpoint()
    var r = 1
    while (r <= maxDepth) {
      val merged = hyperBallStep(e, state, hllMerge, carryH = true)
      // registers only grow, so the running-max est keeps the per-node
      // ball estimates monotone through the one non-monotone seam in the
      // estimator (the linear-counting/raw switch at 2.5m) — the delta
      // feeding h is then >= 0 by construction; prev est/h arrive on the
      // fused aggregate's carried columns, no join
      state = merged
        .withColumn("est", greatest(estU(col("reg")), col("__e0")))
        .withColumn("h", col("__h0") + (col("est") - col("__e0")) / r)
        .select("node", "reg", "est", "h")
        .localCheckpoint()
      r += 1
    }
    e.unpersist(false)
    state.select(col("node"), col("h").as("harmonic"), col("est").as("ball"))
  }

  /** HyperBall approximate neighbourhood function — the computation
    * HyperBall was built for: N(r) ≈ Σ_v est|B_r(v)|, one row per
    * radius 0..maxDepth. Same per-iteration shape as
    * [[harmonicCentralityHyperBall]] (one co-partitioned edge join +
    * one register-max aggregate) plus the one scalar Σ est the result
    * itself is — still O(1) driver state per radius. Per-node estimates
    * carry the same running-max monotonicity guard, so N(r) never dips.
    * Feed the output to [[effectiveDiameter]] for the headline number.
    */
  def neighborhoodFunctionHyperBall(edges: DataFrame, srcCol: String,
                                    dstCol: String, maxDepth: Int,
                                    logM: Int = 7): DataFrame = {
    val spark = edges.sparkSession
    val (e, _, estU, hllMerge, init) =
      hyperBallSetup(edges, srcCol, dstCol, maxDepth, logM)
    var state = init.localCheckpoint()
    def total(df: DataFrame): Double =
      df.agg(coalesce(sum("est"), lit(0.0))).head().getDouble(0)
    val out = scala.collection.mutable.ArrayBuffer((0L, total(state)))
    var r = 1
    while (r <= maxDepth) {
      val merged = hyperBallStep(e, state, hllMerge, carryH = false)
      // prev est rides the fused aggregate — no monotonicity join; the
      // per-radius total() scalar is the materializing action, so the
      // checkpoint stays lazy (one job per radius)
      state = merged
        .withColumn("est", greatest(estU(col("reg")), col("__e0")))
        .select("node", "reg", "est")
        .localCheckpoint(false)
      out += ((r.toLong, total(state)))
      r += 1
    }
    e.unpersist(false)
    import spark.implicits._
    out.toSeq.toDF("r", "pairs")
  }

  /** Shared HyperBall plumbing: the src-partitioned cached edge frame,
    * node set, estimate UDF, register-max aggregate, and the initial
    * (node, reg, est) state — one definition for both consumers so the
    * hash seed, the merge semantics, and the monotonicity guard cannot
    * diverge. */
  private[graft] def hyperBallSetup(edges: DataFrame, srcCol: String,
                             dstCol: String, maxDepth: Int, logM: Int)
      : (DataFrame, DataFrame,
         org.apache.spark.sql.expressions.UserDefinedFunction,
         org.apache.spark.sql.expressions.UserDefinedFunction, DataFrame) = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    require(logM >= 4 && logM <= 12, s"logM in [4, 12]: $logM")
    import org.apache.spark.sql.expressions.Aggregator
    import org.apache.spark.sql.{Encoder, Encoders}
    val e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      // the per-iteration join in hyperBallStep keys on u (the src side),
      // so only a u-partitioning survives into the join — partition once
      // on u and every iteration reuses the cached exchange (same shape
      // as pageRankLoop's src-keyed edge cache)
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
    val lm = logM
    val initU = udf((n: Long) => Hll.init(n, lm))
    val estU = udf((r: Array[Byte]) => Hll.estimate(r))
    val hllMerge = udaf(new Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
      override def zero: Array[Byte] = Array.emptyByteArray
      override def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = Hll.merge(b, a)
      override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
      override def finish(b: Array[Byte]): Array[Byte] = b
      override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
      override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    })
    val init = nodes.select(col("node"), initU(col("node")).as("reg"))
      .withColumn("est", estU(col("reg")))
    (e, nodes, estU, hllMerge, init)
  }

  /** One synchronous HyperBall iteration: in-neighbor counters merged
    * into each node's own via the register-max aggregate. The previous
    * est (and optionally the running harmonic h) RIDE the same
    * aggregate as max() over the state rows' carried columns (each node
    * has exactly one state row, so the max picks it; neighbor rows
    * carry null) — the r21 fused fold, replacing the per-iteration
    * monotonicity join the r18–r20 shape paid a second exchange for. */
  private[graft] def hyperBallStep(e: DataFrame, state: DataFrame,
      hllMerge: org.apache.spark.sql.expressions.UserDefinedFunction,
      carryH: Boolean): DataFrame = {
    val nbr = e.join(state.select(col("node").as("u"), col("reg")), "u")
      .select((Seq(col("v").as("node"), col("reg"),
        lit(null).cast("double").as("__e0")) ++
        (if (carryH) Seq(lit(null).cast("double").as("__h0")) else Nil)): _*)
    val own = state.select((Seq(col("node"), col("reg"),
      col("est").as("__e0")) ++
      (if (carryH) Seq(col("h").as("__h0")) else Nil)): _*)
    val aggs = Seq(hllMerge(col("reg")).as("reg"),
      max(col("__e0")).as("__e0")) ++
      (if (carryH) Seq(max(col("__h0")).as("__h0")) else Nil)
    nbr.union(own).groupBy("node").agg(aggs.head, aggs.tail: _*)
  }
}

/** HyperLogLog register kernels for [[Graph.harmonicCentralityHyperBall]]
  * (Flajolet et al. 2007 registers; cardinality read back through Ertl's
  * 2017 improved raw estimator — see [[estimate]]). Hashing is
  * seed-fixed xxhash64 — same family the engine uses everywhere — so
  * counters are deterministic artifacts.
  */
private[graft] object Hll {
  def init(node: Long, logM: Int): Array[Byte] = {
    val m = 1 << logM
    val reg = new Array[Byte](m)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(node, 42L)
    val j = (h >>> (64 - logM)).toInt
    val w = h << logM
    val rank = math.min(java.lang.Long.numberOfLeadingZeros(w) + 1, 64 - logM + 1)
    reg(j) = rank.toByte
    reg
  }

  /** Element-wise max; the empty array is the aggregation zero. Always
    * returns a fresh array — Aggregator buffers must not alias inputs. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (a.isEmpty) return b.clone()
    if (b.isEmpty) return a.clone()
    require(a.length == b.length,
      s"HLL register width mismatch: ${a.length} vs ${b.length}")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = if ((a(i) & 0xFF) >= (b(i) & 0xFF)) a(i) else b(i)
      i += 1
    }
    out
  }

  /** Ertl's improved raw estimator ("New cardinality estimation
    * algorithms for HyperLogLog sketches", 2017, Alg. 6): the
    * register-value HISTOGRAM feeds closed-form σ/τ boundary corrections
    * instead of Flajolet 2007's linear-counting switch — removing the
    * raw estimator's well-known bias hump in the n ≈ 2.5m..5m
    * transition zone (measured here: worst-case rel. error at m = 64
    * drops from ~1.0 under the 2007 two-regime form to the ~4σ band of
    * the 1.04/√m standard error; the PropertySpec sweep pins it). No
    * empirical bias tables, unbiased across the whole range.
    */
  def estimate(reg: Array[Byte]): Double = {
    val m = reg.length
    if (m == 0) return 0.0
    val p = Integer.numberOfTrailingZeros(m) // m = 2^logM by construction
    val q = 64 - p                           // init caps ranks at q + 1
    val counts = new Array[Int](q + 2)
    var i = 0
    while (i < m) { counts(reg(i) & 0xFF) += 1; i += 1 }
    if (counts(0) == m) return 0.0
    var z = m * tau((m - counts(q + 1)).toDouble / m)
    var k = q
    while (k >= 1) { z = 0.5 * (z + counts(k)); k -= 1 }
    z += m * sigma(counts(0).toDouble / m)
    m / (2.0 * math.log(2.0)) * m / z
  }

  /** σ(x) = x + Σ_{k≥1} x^(2^k)·2^(k−1) by fixpoint iteration. */
  private def sigma(x: Double): Double = {
    if (x == 1.0) return Double.PositiveInfinity
    var xx = x; var y = 1.0; var z = x; var zPrev = -1.0
    while (z != zPrev) { xx = xx * xx; zPrev = z; z += xx * y; y += y }
    z
  }

  /** τ(x) = (1/3)·(1 − x − Σ_{k≥1} (1 − x^(2^−k))²·2^(−k)) likewise. */
  private def tau(x: Double): Double = {
    if (x == 0.0 || x == 1.0) return 0.0
    var xx = x; var y = 1.0; var z = 1 - x; var zPrev = -1.0
    while (z != zPrev) {
      xx = math.sqrt(xx); zPrev = z; y *= 0.5
      z -= (1 - xx) * (1 - xx) * y
    }
    z / 3.0
  }
}
