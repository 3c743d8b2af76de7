package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** PageRank: hand-computed values, dangling redistribution, mass
  * conservation, partition invariance.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed one iteration on a triangle plus dangling node") {
    // edges: 0->1, 1->2, 2->0; node 3 has only an incoming edge 0->3
    // (so 0 has out-degree 2 and 3 is dangling)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L)).toDF("s", "d")
    val r = Graph.pageRank(edges, "s", "d", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // start 1/4 each; dangling mass = r(3) = 1/4
    // r'(v) = 0.15/4 + 0.85*(contrib + (1/4)/4)
    def exp(contrib: Double) = 0.15 / 4 + 0.85 * (contrib + 0.25 / 4)
    assert(math.abs(r(1L) - exp(0.25 / 2)) < 1e-12) // from 0 (deg 2)
    assert(math.abs(r(2L) - exp(0.25)) < 1e-12)     // from 1 (deg 1)
    assert(math.abs(r(0L) - exp(0.25)) < 1e-12)     // from 2 (deg 1)
    assert(math.abs(r(3L) - exp(0.25 / 2)) < 1e-12) // from 0 (deg 2)
  }

  test("rank mass is conserved at 1 across iterations, dangling included") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 0L)).toDF("s", "d")
    for (iters <- Seq(1, 5, 12)) {
      val total = Graph.pageRank(edges, "s", "d", iters)
        .agg(sum("rank")).head().getDouble(0)
      assert(math.abs(total - 1.0) < 1e-9, s"iters=$iters total=$total")
    }
  }

  test("partition count does not change the result") {
    val base = (0L until 60L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 60), (i, (i * 13 + 5) % 60)))
    def run(parts: Int) = Graph.pageRank(
        base.toDF("s", "d").repartition(parts), "s", "d", iters = 6)
      .collect().map(x => x.getLong(0) -> math.rint(x.getDouble(1) * 1e9))
      .toMap
    assert(run(1) === run(13))
  }

  test("a sink-heavy star concentrates rank on the hub") {
    val edges = (1L to 9L).map(i => (i, 0L)).toDF("s", "d")
    val r = Graph.pageRank(edges, "s", "d", iters = 20)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(0L) > 0.4)
    assert((1L to 9L).forall(i => r(i) < r(0L)))
  }

  test("personalized PageRank: seed concentration, mass 1, all-seeds = uniform") {
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i * 7 + 3) % 30))).toDF("s", "d")
    val seeds = Seq(0L, 1L).toDF("id")
    val ppr = Graph.personalizedPageRank(edges, "s", "d", seeds, "id",
        iters = 12)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // mass conserved at 1
    assert(math.abs(ppr.values.sum - 1.0) < 1e-9)
    // rank concentrates near the seeds: the seeds outrank the median node
    val median = ppr.values.toSeq.sorted.apply(ppr.size / 2)
    assert(ppr(0L) > median && ppr(1L) > median)
    // with seeds = EVERY node the teleport is uniform — exactly pageRank
    val all = edges.select(col("s").as("id"))
      .union(edges.select(col("d").as("id"))).distinct()
    val uniform = Graph.personalizedPageRank(edges, "s", "d", all, "id",
        iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val std = Graph.pageRank(edges, "s", "d", iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    uniform.foreach { case (n, r) => assert(math.abs(r - std(n)) < 1e-12) }
    // seeds outside the graph are ignored; none at all is refused
    val e = intercept[IllegalArgumentException](Graph.personalizedPageRank(
      edges, "s", "d", Seq(999L).toDF("id"), "id", iters = 2))
    assert(e.getMessage.contains("seed"))
    // the shared loop gives PPR the same tol early-stop: converged
    // ranks match the exhaustive run within the tolerance
    val early = Graph.personalizedPageRank(edges, "s", "d", seeds, "id",
        iters = 60, tol = 1e-10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val full = Graph.personalizedPageRank(edges, "s", "d", seeds, "id",
      iters = 60)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val delta = full.map { case (n, r) => math.abs(early(n) - r) }.sum
    assert(delta < 1e-9, s"early-stop PPR diverges by $delta")
  }

  test("exact harmonic centrality: hand-computed path graph, depth cap, zeros") {
    // 0 -> 1 -> 2 -> 3: d(u,v) pairs (0,1)=1 (1,2)=1 (2,3)=1 (0,2)=2
    // (1,3)=2 (0,3)=3; h(v) sums 1/d INTO v, so h(0)=0, h(1)=1,
    // h(2)=1.5, h(3)=1+1/2+1/3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val h3 = Graph.harmonicCentralityExact(edges, "s", "d", maxDepth = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(h3(0L) === 0.0)
    assert(h3(1L) === 1.0)
    assert(h3(2L) === 1.5)
    assert(math.abs(h3(3L) - (1.0 + 0.5 + 1.0 / 3)) < 1e-12)
    // truncation: depth 2 drops the d=3 contribution into node 3
    val h2 = Graph.harmonicCentralityExact(edges, "s", "d", maxDepth = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(h2(3L) === 1.5)
    // duplicate and self edges are ignored
    val noisy = edges.union(Seq((0L, 1L), (2L, 2L)).toDF("s", "d"))
    val hN = Graph.harmonicCentralityExact(noisy, "s", "d", maxDepth = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(hN === h3)
  }

  test("HyperBall tracks the exact harmonic centrality and is deterministic") {
    // a graph with real distance structure: ring + skip links on 40 nodes
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i + 1) % 40), (i, (i * 7 + 3) % 40))).toDF("s", "d")
    val exact = Graph.harmonicCentralityExact(edges, "s", "d", maxDepth = 4)
      .withColumnRenamed("harmonic", "he")
    val hb = Graph.harmonicCentralityHyperBall(edges, "s", "d",
      maxDepth = 4, logM = 7)
    val joined = exact.join(hb, "node")
      .select("node", "he", "harmonic").collect()
    assert(joined.length === 40)
    // m = 128 registers: ~9% standard error on ball sizes; the harmonic
    // sum of deltas stays well inside 25% per node on this graph
    joined.foreach { r =>
      val (he, ha) = (r.getDouble(1), r.getDouble(2))
      assert(he > 0 && ha > 0, s"node ${r.getLong(0)}")
      assert(math.abs(ha - he) / he < 0.25,
        s"node ${r.getLong(0)}: exact $he hyperball $ha")
    }
    val meanRel = joined.map(r =>
      math.abs(r.getDouble(2) - r.getDouble(1)) / r.getDouble(1)).sum / 40
    assert(meanRel < 0.12, s"mean relative error $meanRel")
    // deterministic across partitionings (seed-fixed hashing)
    val again = Graph.harmonicCentralityHyperBall(
        edges.repartition(13), "s", "d", maxDepth = 4, logM = 7)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val first = hb.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(again === first)
  }

  test("neighbourhood function: hand-computed path graph + effective diameter") {
    // 0 -> 1 -> 2 -> 3: N(0)=4 self-pairs, N(1)=4+3, N(2)=7+2, N(3)=9+1
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val nf = Graph.neighborhoodFunctionExact(edges, "s", "d", maxDepth = 3)
    val pts = nf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pts === Map(0L -> 4L, 1L -> 7L, 2L -> 9L, 3L -> 10L))
    // effective diameter at 0.9: target 9 pairs, reached exactly at r=2
    assert(Graph.effectiveDiameter(nf, 0.9) === 2.0)
    // q = 1 needs the full N(3) = 10 -> r = 3; tiny q stays at 0
    assert(Graph.effectiveDiameter(nf, 1.0) === 3.0)
    assert(Graph.effectiveDiameter(nf, 0.1) === 0.0)
    // interpolation: target between N(0) and N(1) lands fractionally
    val ed = Graph.effectiveDiameter(nf, 0.55) // target 5.5: between 4 and 7
    assert(math.abs(ed - 0.5) < 1e-12, s"$ed")
  }

  test("HyperBall neighbourhood function tracks the exact one") {
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i + 1) % 40), (i, (i * 7 + 3) % 40))).toDF("s", "d")
    val exact = Graph.neighborhoodFunctionExact(edges, "s", "d", maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    val hb = Graph.neighborhoodFunctionHyperBall(edges, "s", "d",
        maxDepth = 4, logM = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hb.keySet === exact.keySet)
    exact.foreach { case (r, ex) =>
      assert(math.abs(hb(r) - ex) / ex < 0.15, s"r=$r exact=$ex est=${hb(r)}")
    }
    // estimates are monotone in r (registers only grow)
    val ordered = hb.toSeq.sortBy(_._1).map(_._2)
    assert(ordered === ordered.sorted)
    // the derived effective diameters agree within half a radius
    val edE = Graph.effectiveDiameter(
      Graph.neighborhoodFunctionExact(edges, "s", "d", maxDepth = 4))
    val edH = Graph.effectiveDiameter(
      Graph.neighborhoodFunctionHyperBall(edges, "s", "d", maxDepth = 4, logM = 7))
    assert(math.abs(edE - edH) < 0.5, s"exact $edE hyperball $edH")
  }

  test("tol early-stops a converged graph; ranks match the full run") {
    // a symmetric cycle converges IMMEDIATELY (uniform is the fixed
    // point), so the very first delta check reads 0 and stops at 1
    // iteration; a generic graph must early-stop strictly before 50
    // iterations at tol=1e-9 and still match the exhaustive run
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("s", "d")
    val (_, itCycle, convCycle) = Graph.pageRankCore(cycle, "s", "d", iters = 50,
      tol = 1e-6)
    assert(itCycle === 1, s"uniform fixed point should stop at 1: $itCycle")
    assert(convCycle, "cycle run should report converged")
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 13 + 5) % 40), (i, (i + 1) % 40)))
      .toDF("s", "d")
    val (early, itEarly, convEarly) = Graph.pageRankCore(edges, "s", "d", iters = 50,
      tol = 1e-9)
    assert(itEarly < 50, s"expected early stop, ran $itEarly")
    assert(convEarly, "early stop should report converged")
    val full = Graph.pageRank(edges, "s", "d", iters = 50)
    val delta = early.withColumnRenamed("rank", "re")
      .join(full, Seq("node"))
      .agg(sum(abs(col("re") - col("rank")))).head().getDouble(0)
    assert(delta < 1e-8, s"early-stop ranks diverge by $delta")
    // tol = 0 (default) keeps the fixed-iteration contract
    val (_, itFixed, convFixed) = Graph.pageRankCore(edges, "s", "d", iters = 7)
    assert(itFixed === 7)
    assert(!convFixed, "tol=0 never reports converged")
  }

  test("triangles: K4 corners, isolated edge zero, star zero, dup/direction collapse") {
    // K4 on 0..3 (4 triangles, each corner in 3) + edge 8-9 (none);
    // duplicates, reversals, and a self-loop must not change counts
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    val edges = (k4 ++ Seq((8L, 9L), (9L, 8L), (1L, 0L), (2L, 2L)))
      .toDF("s", "d")
    val got = Graph.triangleCounts(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      8L -> 0L, 9L -> 0L))
    // a star closes nothing — and the degree orientation means the hub
    // generates zero wedges, not deg^2 of them
    val star = (1L to 30L).map(i => (0L, i)).toDF("s", "d")
    val sGot = Graph.triangleCounts(star, "s", "d")
    assert(sGot.agg(sum("triangles")).head().getLong(0) === 0L)
    assert(sGot.count() === 31)
  }

  test("kCore: clique survives, tails peel over multiple rounds, path empties") {
    // K4 on 0..3 with a pendant chain 3-10-11: kCore(3) = the K4 alone
    // (10 peels, then 11 — multi-round), each member at core degree 3
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    val edges = (k4 ++ Seq((3L, 10L), (10L, 11L))).toDF("s", "d")
    val core3 = Graph.kCore(edges, "s", "d", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a cycle is exactly its own 2-core; a path has no 2-core at all
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("s", "d")
    val c2 = Graph.kCore(cycle, "s", "d", k = 2)
    assert(c2.count() === 8 &&
      c2.agg(min("core_degree"), max("core_degree")).head().toSeq === Seq(2L, 2L))
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("s", "d")
    assert(Graph.kCore(path, "s", "d", k = 2).count() === 0)
    // the cap refuses a cut peel loudly instead of returning a superset
    val e = intercept[IllegalArgumentException](
      Graph.kCore(path, "s", "d", k = 2, maxRounds = 1).count())
    assert(e.getMessage.contains("stabilize"), e.getMessage)
  }

  test("link prediction: hand-computed path scores; minCommon and hub cap gate") {
    // path a(1) - z(5) - b(2): common(a,b) = 1 via z (deg 2),
    // aa = 1/ln 2, jaccard = 1/(1+1-1) = 1, not linked.
    // triangle 1-5-2 NOT present; add edge (1,2) to check already_linked
    val edges = Seq((1L, 5L), (5L, 2L), (1L, 2L), (2L, 6L), (6L, 1L))
      .toDF("s", "d")
    val got = Graph.linkPredictionScores(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))))
      .toMap
    // pair (1,2): shared neighbors 5 and 6 (both deg 2); deg(1)=deg(2)=3
    val (c12, aa12, j12, l12) = got((1L, 2L))
    assert(c12 === 2L && l12)
    assert(math.abs(aa12 - 2.0 / math.log(2)) < 1e-12)
    assert(math.abs(j12 - 2.0 / 4.0) < 1e-12)
    // pair (5,6): shared neighbors 1 and 2 (both deg 3), not linked
    val (c56, aa56, j56, l56) = got((5L, 6L))
    assert(c56 === 2L && !l56)
    assert(math.abs(aa56 - 2.0 / math.log(3)) < 1e-12)
    assert(math.abs(j56 - 2.0 / 2.0) < 1e-12)
    // (1,6) share only 2; (2,5) share only 1 — present at minCommon 1
    assert(got.contains((1L, 6L)) && got.contains((2L, 5L)))
    // minCommon = 2 keeps exactly the two 2-neighbor pairs
    assert(Graph.linkPredictionScores(edges, "s", "d", minCommon = 2)
      .count() === 2)
    // a hub pivot over the cap stops contributing wedges: star spokes
    // share ONLY the hub, so capping it empties the result
    val star = (1L to 30L).map(i => (0L, i)).toDF("s", "d")
    assert(Graph.linkPredictionScores(star, "s", "d", maxDegree = 10)
      .count() === 0)
    assert(Graph.linkPredictionScores(star, "s", "d")
      .count() === 30L * 29 / 2)
  }

  test("weighted pagerank: hand-computed 2:1 V graph with dangling leaves") {
    // A(0) -> B(1) weight 2, A -> C(2) weight 1; B and C dangling.
    // From uniform 1/3: dangling mass 2/3, shares 2/3 and 1/3.
    val edges = Seq((0L, 1L, 2.0), (0L, 2L, 1.0)).toDF("s", "d", "w")
    val r = Graph.pageRankWeighted(edges, "s", "d", "w", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    def exp(contrib: Double) = 0.15 / 3 + 0.85 * (contrib + (2.0 / 3) / 3)
    assert(math.abs(r(0L) - exp(0.0)) < 1e-12)
    assert(math.abs(r(1L) - exp(1.0 / 3 * 2.0 / 3)) < 1e-12)
    assert(math.abs(r(2L) - exp(1.0 / 3 * 1.0 / 3)) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
  }

  test("weighted pagerank: uniform weights = unweighted; out-weight scaling invariant; w<=0 drops") {
    val base = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 13 + 5) % 40), (i, (i + 1) % 40)))
    val unw = Graph.pageRank(base.toDF("s", "d"), "s", "d", iters = 6)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    def diff(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(x => math.abs(unw(x.getLong(0)) - x.getDouble(1))).max
    // weight 1 everywhere = the unweighted walk
    val w1 = base.map { case (s, d) => (s, d, 1.0) }.toDF("s", "d", "w")
    assert(diff(Graph.pageRankWeighted(w1, "s", "d", "w", iters = 6)) < 1e-12)
    // per-node out-weight scaling (here a global 7x) changes nothing
    val w7 = base.map { case (s, d) => (s, d, 7.0) }.toDF("s", "d", "w")
    assert(diff(Graph.pageRankWeighted(w7, "s", "d", "w", iters = 6)) < 1e-12)
    // null / non-positive weights drop the edge entirely: keeping only
    // the (i+1) cycle edges alive recovers the cycle's uniform ranks
    val mixed = base.map { case (s, d) =>
      (s, d, if (d == (s + 1) % 40) 3.0 else 0.0) }.toDF("s", "d", "w")
    val cyc = Graph.pageRankWeighted(mixed, "s", "d", "w", iters = 8)
      .collect().map(_.getDouble(1))
    assert(cyc.forall(v => math.abs(v - 1.0 / 40) < 1e-9))
  }

  test("connected components: hand graph, labels are component minima") {
    // component {0,1,2} (a path), component {5,6} (one edge, plus a
    // reversed duplicate), and node 9 with only a self-loop (its own
    // singleton component)
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L), (6L, 5L), (9L, 9L))
      .toDF("s", "d")
    val got = Graph.connectedComponents(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("connected components: long path converges (round count is not diameter-bound)") {
    // a 60-node path has diameter 59; the FastSV rounds must still land
    // a single component well inside the default 50-round cap
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("s", "d")
    val got = Graph.connectedComponents(path, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 60 && got.values.forall(_ == 0L))
    // non-zero-based ids: the label is the component MIN, not zero
    val shifted = (0L until 10L).map(i => (i + 100L, i + 101L)).toDF("s", "d")
    val g2 = Graph.connectedComponents(shifted, "s", "d")
      .collect().map(r => r.getLong(1)).distinct
    assert(g2 === Array(100L))
    // a cap too small to even VERIFY convergence refuses loudly
    val e = intercept[IllegalArgumentException](
      Graph.connectedComponents(path, "s", "d", maxRounds = 1).count())
    assert(e.getMessage.contains("converge"), e.getMessage)
  }

  /** Driver-side union-find reference: node -> smallest id in its
    * component, over every endpoint of `raw`. */
  private def unionFind(raw: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(
      raw.flatMap { case (a, b) => Seq(a -> a, b -> b) }: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    raw.foreach { case (a, b) =>
      if (a != b) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(i => i -> find(i)).toMap
  }

  test("connected components: random graph matches driver union-find; partition-invariant") {
    val blocks = (0L until 120L).flatMap { i =>
      // sparse enough to leave several components: link within blocks
      // of 8, plus a few cross-block bridges
      val block = i / 8
      val base = Seq((i, block * 8 + (i * 5 + 1) % 8))
      if (i % 37 == 0 && i + 11 < 120) base :+ ((i, i + 11)) else base
    }
    // two structurally disjoint id ranges (0..59 and 100..159), each
    // internally wired by affine maps
    val affine = (0L until 60L).flatMap(i => Seq(
      (i, (i * 11 + 2) % 60),
      (100 + i, 100 + (i * 7 + 3) % 60)))
    for (raw <- Seq(blocks, affine)) {
      val edges = raw.toDF("s", "d")
      val want = unionFind(raw)
      val got = Graph.connectedComponents(edges, "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
      assert(want.values.toSet.size > 1, "test graph should not be one component")
      val again = Graph.connectedComponents(edges.repartition(17), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again === got)
    }
  }

  test("connected components: FastSV matches driver union-find and cuts rounds") {
    // label reach multiplies by ~(jumps+2)=6 per round, so a 60-node
    // path (diameter 59) must converge, confirming round included, in a
    // handful of rounds
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("s", "d")
    val (fsv, rounds) = Graph.ccFastSVCore(path, "s", "d",
      jumps = 4, maxRounds = 50)
    val got = fsv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 60 && got.values.forall(_ == 0L))
    assert(rounds <= 6, s"FastSV took $rounds rounds on a 59-path")
    // a multi-component random graph matches the driver reference
    val raw = (0L until 90L).map(i => (i, (i * 13 + 4) % 45 + (i / 45) * 45))
    val a = Graph.connectedComponents(raw.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === unionFind(raw))
  }

  test("fixpoint: empty state, confirming round, oscillation, zero budget") {
    // an empty state is a fixpoint: no round runs, the step is never called
    val empty = Seq.empty[Long].toDF("x")
    val (e0, r0, c0) = Graph.fixpoint(empty, 10)(_ => fail("step ran"))
    assert(r0 === 0 && c0 && e0.count() === 0)
    // x -> min(x + 1, 3) from 0 settles after 3 changing rounds; the
    // 4th round confirms the repeat and is counted
    val zero = Seq(0L).toDF("x")
    val (s1, r1, c1) = Graph.fixpoint(zero, 10)(
      _.select(least(col("x") + 1, lit(3L)).as("x")))
    assert(r1 === 4 && c1)
    assert(s1.as[Long].collect().toSeq === Seq(3L))
    // x -> 1 - x never settles: exactly maxRounds rounds, not converged
    val (s2, r2, c2) = Graph.fixpoint(zero, 5)(
      _.select((lit(1L) - col("x")).as("x")))
    assert(r2 === 5 && !c2)
    assert(s2.as[Long].collect().toSeq === Seq(1L))
    // a zero budget on a non-empty state returns it unconverged
    val (s3, r3, c3) = Graph.fixpoint(zero, 0)(_ => fail("step ran"))
    assert(r3 === 0 && !c3 && s3.as[Long].collect().toSeq === Seq(0L))
  }

  test("clustering coefficients: K4 is 1.0, path is 0, triangle+pendant is hand-exact") {
    // K4: every node deg 3, 3 triangles, lcc = 2*3/(3*2) = 1
    val k4 = (for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j))
      .toDF("s", "d")
    val got4 = Graph.clusteringCoefficients(k4, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got4 === (0L until 4L).map(_ -> ((3L, 3L, 1.0))).toMap)
    assert(Graph.transitivity(k4, "s", "d").head().getDouble(0) === 1.0)
    // path 0-1-2: no triangles anywhere, deg-1 ends get lcc 0 not NaN
    val path = Seq((0L, 1L), (1L, 2L)).toDF("s", "d")
    val gotP = Graph.clusteringCoefficients(path, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(gotP === Map(0L -> 0.0, 1L -> 0.0, 2L -> 0.0))
    assert(Graph.transitivity(path, "s", "d").head().getDouble(0) === 0.0)
    // triangle {0,1,2} + pendant 3 on node 0: lcc(0) = 2*1/(3*2) = 1/3,
    // transitivity = 3 triangles-at-corners / 5 wedges = 0.6
    val tp = Seq((0L, 1L), (1L, 2L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val gotT = Graph.clusteringCoefficients(tp, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotT(0L) === ((3L, 1L, 1.0 / 3)))
    assert(gotT(1L) === ((2L, 1L, 1.0)))
    assert(gotT(2L) === ((2L, 1L, 1.0)))
    assert(gotT(3L) === ((1L, 0L, 0.0)))
    assert(Graph.transitivity(tp, "s", "d").head().getDouble(0) === 0.6)
    // duplicate/reversed edges and self-loops collapse first
    val noisy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (0L, 2L), (2L, 2L),
      (0L, 3L)).toDF("s", "d")
    val gotN = Graph.clusteringCoefficients(noisy, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(gotN === Map(0L -> 1.0 / 3, 1L -> 1.0, 2L -> 1.0, 3L -> 0.0))
  }

  test("kTruss: clique survival, pendant peel, cascade, empty cases") {
    def truss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] =
      Graph.kTruss(edges.toDF("s", "d"), "s", "d", k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    // K4 + pendant: every K4 edge has support 2; the pendant has 0
    val pend = k4 :+ (3L, 9L)
    val t3 = truss(pend, 3)
    assert(t3.keySet === k4.toSet && t3.values.forall(_ === 2L))
    assert(truss(pend, 4).keySet === k4.toSet)
    assert(truss(pend, 5).isEmpty)
    // triangles hanging off the clique survive k=3 but peel at k=4
    val hang = k4 ++ Seq((0L, 4L), (1L, 4L))
    assert(truss(hang, 3).keySet === hang.toSet)
    assert(truss(hang, 4).keySet === k4.toSet)
    // triangle-free graphs empty at k=3
    assert(truss(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)), 3).isEmpty)
    // k=2 keeps every simple edge (support >= 0 is vacuous)
    assert(truss(Seq((0L, 1L), (1L, 2L)), 2).keySet ===
      Set((0L, 1L), (1L, 2L)))
    intercept[IllegalArgumentException](
      Graph.kTruss(k4.toDF("s", "d"), "s", "d", 1))
    // triangle strip 0..5: at k=4 round 1 peels the chords (i, i+2) and
    // the end edges (support 1); that leaves the path 1-2-3-4, which has
    // no triangles, so round 2 peels everything — and one round refuses
    val strip = (0L until 5L).map(i => (i, i + 1)) ++
      (0L until 4L).map(i => (i, i + 2))
    assert(truss(strip, 4).isEmpty)
    val e = intercept[IllegalArgumentException](
      Graph.kTruss(strip.toDF("s", "d"), "s", "d", 4, maxRounds = 1).count())
    assert(e.getMessage.contains("did not stabilize"), e.getMessage)
  }

  test("kTruss: matches a driver common-neighbor peel on a random graph") {
    def ref(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var e = edges.filter(x => x._1 != x._2)
        .map(x => (math.min(x._1, x._2), math.max(x._1, x._2)))
        .distinct.toSet
      var changed = true
      while (changed) {
        val nbrs = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
        val next = e.filter { case (u, v) =>
          (nbrs(u) intersect nbrs(v)).size >= k - 2 }
        changed = next != e
        e = next
      }
      e
    }
    val raw = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 3 + 1) % 40), (i, (i + 1) % 40)))
      .filter(e => e._1 != e._2)
    for (k <- Seq(3, 4)) {
      val got = Graph.kTruss(raw.toDF("s", "d"), "s", "d", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === ref(raw, k), s"k=$k")
    }
  }

  test("betweenness: hand graphs — path, diamond split, star hub, truncation") {
    def bc(edges: Seq[(Long, Long)], depth: Int = 6): Map[Long, Double] =
      Graph.betweennessCentrality(edges.toDF("s", "d"), "s", "d", depth)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // directed path: only the middle broker scores
    assert(bc(Seq((0L, 1L), (1L, 2L))) ===
      Map(0L -> 0.0, 1L -> 1.0, 2L -> 0.0))
    // diamond: two equal shortest paths split the (0,3) credit
    assert(bc(Seq((0L, 1L), (1L, 3L), (0L, 2L), (2L, 3L))) ===
      Map(0L -> 0.0, 1L -> 0.5, 2L -> 0.5, 3L -> 0.0))
    // undirected star (both orientations): hub brokers all 4·3 ordered
    // leaf pairs
    val star = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L)))
    assert(bc(star)(0L) === 12.0 && bc(star)(1L) === 0.0)
    // truncation: the 3-hop pair (0,3) only counts when depth allows it
    val p4 = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(bc(p4, depth = 2) === Map(0L -> 0.0, 1L -> 1.0, 2L -> 1.0, 3L -> 0.0))
    assert(bc(p4, depth = 3) === Map(0L -> 0.0, 1L -> 2.0, 2L -> 2.0, 3L -> 0.0))
    intercept[IllegalArgumentException](
      Graph.betweennessCentrality(p4.toDF("s", "d"), "s", "d", 0))
  }

  test("betweenness: matches a driver Brandes replay; pivots restrict sources") {
    // plain-Scala truncated Brandes: BFS with sigma, backward dependency
    def ref(edges: Seq[(Long, Long)], depth: Int,
            sources: Seq[Long]): Map[Long, Double] = {
      val adj = edges.filter(e => e._1 != e._2).distinct
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val bc = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
      for (s <- sources) {
        val dist = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1.0)
        var frontier = Seq(s)
        var d = 0
        val byLevel = scala.collection.mutable.ArrayBuffer(Seq(s))
        while (d < depth && frontier.nonEmpty) {
          val nxt = scala.collection.mutable.LinkedHashSet.empty[Long]
          for (u <- frontier; w <- adj.getOrElse(u, Seq())) {
            if (!dist.contains(w)) { nxt += w }
          }
          for (u <- frontier; w <- adj.getOrElse(u, Seq()) if nxt(w))
            sigma(w) = sigma.getOrElse(w, 0.0) + sigma(u)
          nxt.foreach(w => dist(w) = d + 1)
          frontier = nxt.toSeq
          if (frontier.nonEmpty) byLevel += frontier
          d += 1
        }
        val delta = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        for (lvl <- byLevel.indices.reverse.dropRight(1); v <- byLevel(lvl)) {
          var dv = 0.0
          for (w <- adj.getOrElse(v, Seq())
               if dist.get(w).contains(lvl + 1))
            dv += sigma(v) / sigma(w) * (1 + delta(w))
          delta(v) = dv
          bc(v) += dv
        }
        // level 0 is v == s: computed for propagation, excluded from bc
        for (v <- byLevel(0)) bc(v) -= delta(v)
      }
      bc.toMap
    }
    val raw = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 3 + 1) % 40)))
      .filter(e => e._1 != e._2)
    val nodes = raw.flatMap(e => Seq(e._1, e._2)).distinct
    val expect = ref(raw, depth = 4, nodes)
    val got = Graph.betweennessCentrality(raw.toDF("s", "d"), "s", "d", 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (n, v) =>
      assert(math.abs(v - expect(n)) < 1e-5, s"node $n: $v vs ${expect(n)}") }
    // pivots: only s = 0 contributes dependencies
    val piv = ref(raw, depth = 4, Seq(0L))
    val gotPiv = Graph.betweennessCentrality(raw.toDF("s", "d"), "s", "d", 4,
        pivots = Some(Seq(0L).toDF("s")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    gotPiv.foreach { case (n, v) =>
      assert(math.abs(v - piv(n)) < 1e-5, s"pivot node $n: $v vs ${piv(n)}") }
  }

  test("modularity: two triangles + bridge hand values; one-community Q is 0") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (5L, 6L), (6L, 7L), (5L, 7L), (2L, 5L)).toDF("s", "d")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (5L, 5L), (6L, 5L), (7L, 5L)).toDF("node", "label")
    // m = 7; each community: 3 internal edges, degree sum 7
    // Q_c = 3/7 - (7/14)^2 = 0.178571 each
    val got = Graph.modularity(edges, "s", "d", labels, "node", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map(0L -> ((3L, 3L, 7L, 0.178571)),
      5L -> ((3L, 3L, 7L, 0.178571))))
    // the whole graph as ONE community scores exactly 0
    val one = Graph.modularity(edges, "s", "d",
      labels.select(col("node"), lit(0L).as("label")), "node", "label")
      .head()
    assert(one.getLong(2) === 7L && one.getDouble(4) === 0.0)
    // a community with no internal edges contributes negatively
    val anti = Graph.modularity(edges, "s", "d",
      Seq((0L, 0L), (1L, 1L), (2L, 2L), (5L, 5L), (6L, 6L), (7L, 7L))
        .toDF("node", "label"), "node", "label")
      .agg(sum("internal_edges"), min("q_contrib")).head()
    assert(anti.getLong(0) === 0L && anti.getDouble(1) < 0)
    intercept[IllegalArgumentException](Graph.modularity(
      Seq((1L, 1L)).toDF("s", "d"), "s", "d", labels, "node", "label"))
  }

  test("degree assortativity: star is -1, regular graph guards to 0") {
    val star = (1L to 5L).map(i => (0L, i)).toDF("s", "d")
    assert(Graph.degreeAssortativity(star, "s", "d")
      .head().getDouble(0) === -1.0)
    // K4 is 3-regular: zero degree variance, defined-as-0 convention
    val k4 = (for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j))
      .toDF("s", "d")
    assert(Graph.degreeAssortativity(k4, "s", "d")
      .head().getDouble(0) === 0.0)
    // 3-node path: also exactly -1 (ends only touch the middle)
    val path = Seq((0L, 1L), (1L, 2L)).toDF("s", "d")
    assert(Graph.degreeAssortativity(path, "s", "d")
      .head().getDouble(0) === -1.0)
    // direction and duplicates collapse before degrees are counted
    val noisy = Seq((0L, 1L), (1L, 0L), (0L, 1L), (1L, 2L)).toDF("s", "d")
    assert(Graph.degreeAssortativity(noisy, "s", "d")
      .head().getDouble(0) === -1.0)
  }

  test("label propagation: two cliques with a bridge keep their own labels") {
    val cliqueA = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val cliqueB = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val edges = (cliqueA ++ cliqueB :+ (2L, 10L)).toDF("s", "d")
    val got = Graph.labelPropagation(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the bridge endpoint 10 briefly adopts 2's label, then its own
    // clique's majority pulls it back — communities survive the bridge
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("label propagation: isolated edge settles instead of oscillating") {
    // the textbook synchronous-LPA failure: on a single edge the naive
    // rule swaps labels forever; the self-vote + min tie-break settle it
    // on the smaller endpoint, and a self-loop-only node is a singleton
    val edges = Seq((9L, 5L), (7L, 7L)).toDF("s", "d")
    val got = Graph.labelPropagation(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 5L, 9L -> 5L, 7L -> 7L))
    // and it converges in a couple of rounds, not by exhausting the cap
    val capped = Graph.labelPropagation(edges, "s", "d", maxIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped === got)
  }

  test("label propagation: matches a driver replay; deterministic under partitioning") {
    // the same deterministic rule replayed in plain Scala: closed
    // neighborhood votes, (count desc, label asc) argmax, synchronous
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adjM = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var lab = nodes.map(n => n -> n).toMap
      var it = 0
      var changed = true
      while (it < iters && changed) {
        val next = nodes.map { z =>
          val votes = (adjM.getOrElse(z, Seq.empty) :+ z).map(lab)
          val counts = votes.groupBy(identity).view.mapValues(_.size)
          z -> counts.toSeq.map { case (l, c) => (-c, l) }.min._2
        }.toMap
        changed = next != lab
        lab = next
        it += 1
      }
      lab
    }
    // deterministic pseudo-random graph: 40 nodes, multiplicative maps
    val raw = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 3 + 1) % 40)))
    val expect = ref(raw, iters = 20)
    val df = raw.toDF("s", "d")
    val got = Graph.labelPropagation(df, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    val repart = Graph.labelPropagation(df.repartition(7), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart === expect)
    intercept[IllegalArgumentException](
      Graph.labelPropagation(df, "s", "d", maxIters = 0))
  }

  test("hits: hand-computed scores, mass 1 per side, noise edges ignored") {
    // 0 -> 2, 1 -> 2, 2 -> 3; one iteration from h = 1:
    // a(2) = h(0)+h(1) = 2, a(3) = h(2) = 1, a(0) = a(1) = 0
    // h(0) = h(1) = a(2) = 2, h(2) = a(3) = 1, h(3) = 0
    // normalized: hub (0.4, 0.4, 0.2, 0); auth (0, 0, 2/3, 1/3)
    val edges = Seq((0L, 2L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = Graph.hits(edges, "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(math.abs(got(0L)._1 - 0.4) < 1e-12 && got(0L)._2 === 0.0)
    assert(math.abs(got(1L)._1 - 0.4) < 1e-12 && got(1L)._2 === 0.0)
    assert(math.abs(got(2L)._1 - 0.2) < 1e-12 &&
      math.abs(got(2L)._2 - 2.0 / 3) < 1e-12)
    assert(got(3L)._1 === 0.0 && math.abs(got(3L)._2 - 1.0 / 3) < 1e-12)
    // duplicate, reversed-duplicate-free, and self edges: self-loops and
    // exact duplicates are ignored
    val noisy = edges.union(Seq((0L, 2L), (3L, 3L)).toDF("s", "d"))
    val gotN = Graph.hits(noisy, "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(gotN === got)
  }

  test("hits: bipartite separation, sums 1, partition-invariant, iters cap") {
    // pure hub side 0..4 all pointing at pure authority side 10..12
    val bip = (for (h <- 0L until 5L; a <- 10L until 13L) yield (h, a))
      .toDF("s", "d")
    val r = Graph.hits(bip, "s", "d", iters = 4)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2))))
      .toMap
    (0L until 5L).foreach { h =>
      assert(math.abs(r(h)._1 - 0.2) < 1e-12 && r(h)._2 === 0.0, s"hub $h") }
    (10L until 13L).foreach { a =>
      assert(r(a)._1 === 0.0 && math.abs(r(a)._2 - 1.0 / 3) < 1e-12, s"auth $a") }
    // general graph: both sides sum to 1 and survive repartitioning
    val edges = (0L until 50L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 50), (i, (i * 13 + 5) % 50))).toDF("s", "d")
    val out = Graph.hits(edges, "s", "d", iters = 8)
    val sums = out.agg(sum("hub"), sum("auth")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-9)
    val a = out.collect().map(x =>
      x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    val b = Graph.hits(edges.repartition(11), "s", "d", iters = 8)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2))))
      .toMap
    assert(a === b)
    // the exact-integer-range cap refuses out-of-contract budgets
    val e = intercept[IllegalArgumentException](
      Graph.hits(edges, "s", "d", iters = 17))
    assert(e.getMessage.contains("iters"), e.getMessage)
  }

  test("hits: dense-graph iterate past 2^53 refuses instead of drifting") {
    // growth is degree-dependent, so the iters <= 16 cap alone is not
    // enough: on K6 each iteration multiplies the iterates by ~25
    // (in-deg 5 x out-deg 5), so 16 iterations reach ~25^16 >> 2^53 —
    // the exactness/oracle contract is void and hits must refuse, not
    // return silently drifted scores
    val k6 = (for (u <- 0L until 6L; v <- 0L until 6L if u != v)
      yield (u, v)).toDF("s", "d")
    val e = intercept[IllegalArgumentException](
      Graph.hits(k6, "s", "d", iters = 16).collect())
    assert(e.getMessage.contains("2^53"), e.getMessage)
    // the same graph inside the exact range still works (25^8 ~ 1.5e11)
    val ok = Graph.hits(k6, "s", "d", iters = 8)
    val sums = ok.agg(sum("hub"), sum("auth")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-9)
  }

  test("scc: cycles, DAG singletons, and the undirected-agreement case") {
    // two 3-cycles joined one-way, plus a DAG node feeding in:
    // {0,1,2} and {5,6,7} stay separate SCCs; 9 is its own
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (5L, 6L), (6L, 7L),
      (7L, 5L), (2L, 5L), (9L, 0L)).toDF("s", "d")
    val got = Graph.stronglyConnectedComponents(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 9L))
    // a pure DAG: every node is its own SCC
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("s", "d")
    val dag = Graph.stronglyConnectedComponents(path, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dag === (0L to 8L).map(i => i -> i).toMap)
    // a full cycle: one SCC labeled by its minimum
    val cyc = (0L until 9L).map(i => (i, (i + 1) % 9)).toDF("s", "d")
    val one = Graph.stronglyConnectedComponents(cyc, "s", "d")
      .collect().map(r => r.getLong(1)).distinct
    assert(one === Array(0L))
    // on a SYMMETRIC graph SCC must equal the undirected components
    val sym0 = (0L until 40L).map(i => (i, (i * 11 + 2) % 40)) ++
      (0L until 40L).map(i => (100 + i, 100 + (i * 7 + 3) % 40))
    val sym = (sym0 ++ sym0.map(_.swap)).toDF("s", "d")
    val scc = Graph.stronglyConnectedComponents(sym, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = Graph.connectedComponents(sym, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc === und)
  }

  test("scc: a backward bridge forces a second peel round; caps refuse loudly") {
    // high-id cycle {10,11,12} points INTO low-id cycle {0,1,2}: the
    // color flood paints the low cycle with 12, so round 1 can only
    // assign the high cycle and round 2 picks up the low one
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 0L)).toDF("s", "d")
    val got = Graph.stronglyConnectedComponents(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // with only one round allowed the same graph must refuse, not
    // return a partial labeling
    val e = intercept[IllegalArgumentException](
      Graph.stronglyConnectedComponents(edges, "s", "d", maxRounds = 1)
        .count())
    assert(e.getMessage.contains("unassigned"), e.getMessage)
    // color 12 needs several steps to reach node 1 (12 -> 0 -> 1), so a
    // one-step budget cuts the first forward color flood
    val e2 = intercept[IllegalArgumentException](
      Graph.stronglyConnectedComponents(edges, "s", "d", maxIters = 1)
        .count())
    assert(e2.getMessage.contains("color flood did not converge"),
      e2.getMessage)
  }

  test("graph card: hand-computed stats, empty graph zeros") {
    // (0,1)+(1,0) reciprocal, (1,2) duplicated, (2,2) self-loop, (2,3)
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 2L), (1L, 2L),
      (2L, 3L)).toDF("s", "d")
    val r = Graph.graphCard(edges, "s", "d").head()
    assert(r.getAs[Long]("n_nodes") === 4)
    assert(r.getAs[Long]("n_edges") === 4)
    assert(r.getAs[Long]("n_self_loops") === 1)
    assert(r.getAs[Long]("n_dup_edges") === 1)
    assert(r.getAs[Long]("n_reciprocal") === 2)
    assert(r.getAs[Double]("reciprocity") === 0.5)
    assert(r.getAs[Long]("max_out_deg") === 2) // node 1 -> {0, 2}
    assert(r.getAs[Long]("max_in_deg") === 1)
    assert(r.getAs[Double]("density") === 0.333333) // 4 / (4*3)
    val empty = Graph.graphCard(
      Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d").head()
    assert(empty.toSeq === Seq(0L, 0L, 0L, 0L, 0L, 0.0, 0L, 0L, 0.0))
  }

  test("random walks: cycle is fully determined; sinks stop early; counts") {
    // on a directed 6-cycle every node has exactly one out-neighbor, so
    // the walk is forced: start, start+1, ... regardless of hashing
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("s", "d")
    val got = Graph.randomWalks(cycle, "s", "d", length = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getString(3))))
      .toMap
    assert(got.size === 6)
    (0L until 6L).foreach { s =>
      val want = (0 to 4).map(k => (s + k) % 6).mkString(",")
      assert(got(s) === ((4, want)), s"start $s: ${got(s)}")
    }
    // a path graph: walks hit the sink and stop with fewer steps
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("s", "d")
    val p = Graph.randomWalks(path, "s", "d", length = 10)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getString(3))))
      .toMap
    assert(p(4L) === ((0, "4"))) // the sink itself never moves
    assert(p(0L) === ((4, "0,1,2,3,4")))
    assert(p(2L) === ((2, "2,3,4")))
  }

  test("random walks: every hop is an edge; deterministic; seeds and walks differ") {
    val edges = (0L until 80L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 80), (i, (i * 13 + 5) % 80), (i, (i + 1) % 80)))
      .toDF("s", "d")
    val edgeSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Graph.randomWalks(edges, "s", "d", length = 8, walksPerNode = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.length === 160)
    out.foreach { case (start, _, n, path) =>
      val hops = path.split(",").map(_.toLong)
      assert(hops.head === start && hops.length === n + 1 && n === 8)
      hops.sliding(2).foreach { case Array(a, b) =>
        assert(edgeSet.contains((a, b)), s"hop $a->$b not an edge") }
    }
    // deterministic across partitionings
    val again = Graph.randomWalks(edges.repartition(13), "s", "d",
        length = 8, walksPerNode = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.sortBy(x => (x._1, x._2)) === again.sortBy(x => (x._1, x._2)))
    // the two walks per start must not all coincide, nor two seeds
    val byStart = out.groupBy(_._1)
    assert(byStart.count { case (_, ws) => ws.map(_._4).distinct.size > 1 } > 40,
      "walks from the same start should mostly diverge")
    val other = Graph.randomWalks(edges, "s", "d", length = 8,
        walksPerNode = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(other.map(_._3).toSeq.sorted !== out.map(_._4).toSeq.sorted,
      "a different seed should change some walks")
    // out-of-contract budgets are refused
    intercept[IllegalArgumentException](
      Graph.randomWalks(edges, "s", "d", length = 0))
    intercept[IllegalArgumentException](
      Graph.randomWalks(edges, "s", "d", length = 5, walksPerNode = 0))
  }

  test("node2vec: hops are edges, full length, deterministic, seeds differ") {
    val raw = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 3 + 1) % 40)))
      .filter(e => e._1 != e._2)
    val df = raw.toDF("s", "d")
    val a = Graph.node2vecWalks(df, "s", "d", length = 6, p = 2.0, q = 0.5,
      walksPerNode = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    // full length: this graph has no sinks (every node has out-edges)
    assert(a.values.forall(_._1 == 6))
    // every hop is a directed edge
    val edgeSet = raw.toSet
    a.values.foreach { case (_, path) =>
      val hops = path.split(",").map(_.toLong)
      hops.zip(hops.tail).foreach(h => assert(edgeSet.contains(h), path))
    }
    // deterministic: a second run is identical; another seed differs
    val b = Graph.node2vecWalks(df.repartition(5), "s", "d", length = 6,
      p = 2.0, q = 0.5, walksPerNode = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    assert(a === b)
    val c = Graph.node2vecWalks(df, "s", "d", length = 6, p = 2.0, q = 0.5,
      walksPerNode = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(3)).toMap
    assert(a.exists { case (k, (_, path)) => c(k) != path })
    intercept[IllegalArgumentException](
      Graph.node2vecWalks(df, "s", "d", length = 6, p = 0.0, q = 1.0))
  }

  test("node2vec: huge p forbids backtracks; q steers triangle-close vs outward") {
    // symmetric triangle: with p huge, a walk may never immediately
    // return (the alternative always exists), so paths rotate
    val tri = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L), (2L, 0L))
      .toDF("s", "d")
    Graph.node2vecWalks(tri, "s", "d", length = 12, p = 1e9, q = 1.0,
      walksPerNode = 4)
      .collect().map(_.getString(3)).foreach { path =>
      val hops = path.split(",").map(_.toLong)
      hops.sliding(3).foreach(t => assert(t(0) != t(2), path))
    }
    // steering: 0's ONLY out-edge is 1; from 1 with prev 0 the choices
    // are 0 (return, 1/p), 2 (adjacent to 0 via the symmetric 2→0 edge,
    // weight 1), 3 (outward, 1/q). Huge p+q must close the triangle;
    // huge p + tiny q must explore outward — both deterministic.
    val g = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 0L)).toDF("s", "d")
    def thirdFromZero(p: Double, q: Double): Set[Long] =
      Graph.node2vecWalks(g, "s", "d", length = 2, p = p, q = q,
        walksPerNode = 8)
        .filter(col("start") === 0L).collect()
        .map(_.getString(3).split(",")(2).toLong).toSet
    assert(thirdFromZero(1e9, 1e9) === Set(2L))
    assert(thirdFromZero(1e9, 1e-9) === Set(3L))
  }

  test("converged flag disambiguates the iteration-budget boundary") {
    // both runs exhaust the budget (it == iters); only the flag tells
    // "the last step itself converged" from "ran out of budget" — the
    // delta is evaluated on the final iteration too
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("s", "d")
    val (_, itConv, conv) = Graph.pageRankCore(cycle, "s", "d", iters = 1,
      tol = 1e-6)
    assert(itConv === 1 && conv, s"cycle at budget=1: it=$itConv conv=$conv")
    // NON-uniform degrees (a hub plus a cycle) so uniform is NOT the
    // fixed point and tol=1e-15 is unreachable in 2 iterations
    val edges = ((0L until 40L).map(i => (i, (i + 1) % 40)) ++
      (1L until 40L).map(i => (0L, i))).toDF("s", "d")
    val (_, itBudget, notConv) = Graph.pageRankCore(edges, "s", "d",
      iters = 2, tol = 1e-15)
    assert(itBudget === 2 && !notConv,
      s"hub graph at tol=1e-15: it=$itBudget conv=$notConv")
  }
}
